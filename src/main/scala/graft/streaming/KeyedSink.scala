package graft.streaming

import graft.operators.Merge
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's single sink contract — a keyed idempotent upsert
  * (`UpdateOne(filter, $set, upsert: true)` per document,
  * bitcoinabuse/main.go:244-246; chainabuse/main.py:83-89) — as a
  * pluggable interface, so the ingest stream is sink-agnostic: the
  * parquet implementations below are what the sandbox runs; a
  * document-store deployment swaps in a connector-backed
  * implementation without touching the stream.
  *
  * Contract: `upsert` lands one micro-batch keyed, and MUST be
  * idempotent per `batchId` — foreachBatch replays a batch whose
  * write succeeded but whose checkpoint commit didn't, and a replay
  * must leave the store exactly as one delivery would.
  */
trait KeyedSink {
  def upsert(batch: DataFrame, batchId: Long): Unit

  /** True when `batchId`'s write already landed durably — a replay
    * (write succeeded, checkpoint commit didn't) must then change
    * nothing. Plain replays are also idempotent through `upsert`,
    * but an upstream dedup (seen-set) filters a replayed batch to
    * EMPTY against the store containing its own first delivery, and
    * an empty re-upsert is not a no-op for a snapshot-rotating sink
    * — it would rebuild the snapshot without the batch's rows. Sinks
    * with a durable per-batch marker override this; the default
    * (false) preserves plain-replay behavior. */
  def alreadyApplied(batchId: Long): Boolean = false
}

/** Filesystem access for the parquet sinks, resolved through Hadoop's
  * [[org.apache.hadoop.fs.FileSystem]] so the durable-applied markers
  * and version listings work on ANY filesystem the writer can target
  * (hdfs://, s3a://, file:/, plain local paths) — a `java.io.File`
  * check silently returns false on a URI path, which would disengage
  * the replay-erasure guard exactly where it matters. The conf comes
  * from the active session when one exists (always true inside
  * foreachBatch) so cluster fs.* settings are honored. */
private[graft] object SinkFs {
  import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

  private def conf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def fs(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(conf), path)
  }

  def exists(p: String): Boolean = { val (f, path) = fs(p); f.exists(path) }

  def list(dir: String): Seq[FileStatus] = {
    val (f, path) = fs(dir)
    try f.listStatus(path).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** `p`'s modification time, or None when it does not exist — one
    * call where `exists` + `getFileStatus` would make two. */
  def modifiedAt(p: String): Option[Long] = {
    val (f, path) = fs(p)
    try Some(f.getFileStatus(path).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  def deleteRecursively(p: String): Unit = {
    val (f, path) = fs(p)
    f.delete(path, true)
  }

  /** Create-or-overwrite `p` with `data` (shard artifacts, markers). */
  def writeBytes(p: String, data: Array[Byte]): Unit = {
    val (f, path) = fs(p)
    val out = f.create(path, true)
    try out.write(data) finally out.close()
  }

  def touch(p: String): Unit = writeBytes(p, Array.emptyByteArray)
}

/** Append-only bronze parquet: each micro-batch owns an
  * `ingest_batch=<id>` directory written with overwrite (replay
  * rewrites the same directory), day-partitioned below it for I1
  * delta pruning. Latest-per-key is resolved at READ time
  * ([[LabelStream.goldView]]) — merge-on-read, the bronze side of
  * the lakehouse split. */
class BronzeParquetSink(bronzePath: String) extends KeyedSink {
  override def upsert(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn("day", to_date(col("ts")))
      .write.mode(SaveMode.Overwrite).partitionBy("day")
      .parquet(s"$bronzePath/ingest_batch=$batchId")

  /** The committer's _SUCCESS marker in the batch's own directory is
    * the durable applied signal (a torn write has no marker and the
    * replay overwrite cleans it). Resolved through [[SinkFs]] so the
    * signal holds on hdfs/s3a/file: URIs, not just local paths. */
  override def alreadyApplied(batchId: Long): Boolean =
    SinkFs.exists(s"$bronzePath/ingest_batch=$batchId/_SUCCESS")
}

/** Materialized doc-store on parquet: ONE latest-per-key table
  * maintained by merging each batch through [[Merge.upsertReplace]]
  * (M1/M3 semantics — whole-row replace, the `$set` contract).
  * Parquet can't be read and overwritten in place, so versions are
  * staged as `v=<batchId>` directories; the current store is the
  * highest version. Replay-idempotent by construction: batch `id`
  * recomputes `v=id` from the highest version BELOW id — a replayed
  * batch rebuilds the identical snapshot instead of double-merging.
  * At scale the same layout is the standard snapshot-rotate pattern;
  * with a table format (Delta/Iceberg, out of scope) `upsert`
  * becomes a row-level MERGE.
  *
  * Retention: after each successful write, committed versions beyond
  * the newest `keepVersions` are retired (deleted) — the reference
  * keeps exactly one mutable collection (bitcoinabuse/main.go:244-246);
  * unbounded snapshot accumulation is what a real deployment hits
  * first. Replay stays safe because Structured Streaming only ever
  * replays the LAST batch (the one whose write landed but whose
  * checkpoint commit didn't): with `keepVersions >= 2` the replayed
  * batch's base — the highest surviving version below it — is still
  * on disk, so the rebuild is identical. Reprocessing batches older
  * than the retained window is NOT supported (their bases are gone);
  * that is an operator rewind, which re-bootstraps the store instead.
  *
  * `orderCols`: within one batch the latest row per key wins before
  * the merge (descending order on these), mirroring the reference
  * processing pages in cursor order — last write per key lands.
  *
  * `retentionLagMs`: minimum age (since commit) before a superseded
  * version may be retired — the guard for the reader-holding-a-
  * retired-snapshot race: a reader that resolved `current()` just
  * before a rotate keeps a usable snapshot for at least the lag
  * window. 0 (default) retires eagerly, the test-scale shape. */
class ParquetDocStoreSink(storePath: String, keys: Seq[String],
                          orderCols: Seq[String],
                          keepVersions: Int = 3,
                          retentionLagMs: Long = 0L) extends KeyedSink {
  require(keepVersions >= 2,
    s"keepVersions must be >= 2 (latest + the base a replayed batch " +
      s"rebuilds from), got $keepVersions")
  require(retentionLagMs >= 0, s"retentionLagMs must be >= 0, got $retentionLagMs")

  /** The version this instance last wrote and the schema it wrote it
    * with. Reading that version with the schema given skips the job a
    * plain read runs to infer it from the footers, and reads the same
    * schema: a file-source read makes every field nullable either way.
    * A version written elsewhere (another process, or before a
    * restart) is inferred as usual. */
  @volatile private var written: Option[(Long, StructType)] = None

  /** Committed versions only: a crash mid-write leaves a `v=` dir
    * without the committer's _SUCCESS marker — exposing it would hand
    * readers a torn latest-per-key table (missing keys), violating the
    * exactly-one-delivery contract. Non-numeric `v=` strays are
    * ignored rather than thrown on. Listed through [[SinkFs]] so the
    * store can live on any Hadoop-visible filesystem: one listing and
    * one marker lookup per `v=` directory. */
  private def versionStatuses: Seq[(Long, Long)] = // (version, commitMtime)
    SinkFs.list(storePath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .flatMap { st =>
        st.getPath.getName.stripPrefix("v=").toLongOption
          .flatMap(v => SinkFs.modifiedAt(s"${st.getPath}/_SUCCESS").map(v -> _))
      }

  private def read(spark: SparkSession, v: Long): DataFrame = {
    val reader = written.collect { case (`v`, schema) => spark.read.schema(schema) }
      .getOrElse(spark.read)
    reader.parquet(s"$storePath/v=$v")
  }

  /** The materialized latest-per-key table (None before any batch). */
  def current(spark: SparkSession): Option[DataFrame] =
    versionStatuses.map(_._1).maxOption.map(read(spark, _))

  override def alreadyApplied(batchId: Long): Boolean =
    SinkFs.modifiedAt(s"$storePath/v=$batchId/_SUCCESS").isDefined

  override def upsert(batch: DataFrame, batchId: Long): Unit = {
    // the store is listed once per upsert; retire works from the same listing
    val versions = versionStatuses
    // Replay short-circuit (defense in depth under alreadyApplied):
    // a COMMITTED v=batchId means this batch was fully applied.
    // Rebuilding would be identical for a plain replay — but a
    // dedup-filtered replay arrives EMPTY, and an empty rebuild from
    // the base below would erase the batch's rows from the store.
    if (versions.exists(_._1 == batchId)) { retire(versions); return }
    // idle poll: an EMPTY fresh batch merges nothing — rotating a new
    // snapshot would rewrite the entire store per empty trigger (most
    // triggers, at the reference's 8 h polling cadence)
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col(_).desc): _*)
    val latest = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val base = versions.map(_._1).filter(_ < batchId).maxOption.map(read(spark, _))
    val merged = base.fold(latest)(Merge.upsertReplace(_, latest, keys))
    merged.write.mode(SaveMode.Overwrite)
      .option("compression", ParquetDocStoreSink.Codec)
      .option("parquet.dictionary.page.size", ParquetDocStoreSink.DictionaryPageBytes)
      .parquet(s"$storePath/v=$batchId")
    written = Some(batchId -> merged.schema)
    retire(versions :+ (batchId -> System.currentTimeMillis()))
  }

  /** Retire committed versions beyond the newest `keepVersions` —
    * only AFTER a successful write, so a failed batch never shrinks
    * what a retry can rebuild from. A version inside the
    * `retentionLagMs` window (measured from its _SUCCESS commit time)
    * SURVIVES retirement even when superseded — the guard for the
    * reader-holding-a-just-retired-snapshot race. */
  private def retire(versions: Seq[(Long, Long)]): Unit = {
    val now = System.currentTimeMillis()
    versions.sortBy(-_._1).drop(keepVersions)
      .filter { case (_, committedAt) => now - committedAt >= retentionLagMs }
      .foreach { case (v, _) => SinkFs.deleteRecursively(s"$storePath/v=$v") }
  }
}

object ParquetDocStoreSink {
  /** Page codec and dictionary-page cap of every version written.
    * Rewriting a 60k-report chainabuse store (4 vCPUs, input cached)
    * took 327–404 ms with parquet's defaults; with the dictionary page
    * capped at 64 KB it took 238 ms and wrote byte-identical files:
    * the high-cardinality string columns built a 1 MB dictionary only
    * to fall back to plain encoding, while the low-cardinality ones
    * stay well under the cap and keep theirs. zstd took 259 ms and
    * wrote 6.48 MB where snappy wrote 9.49 MB. */
  private val Codec = "zstd"
  private val DictionaryPageBytes = 64L * 1024
}
