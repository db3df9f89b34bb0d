package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.JobCount
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, format_string, lit}

/** The pluggable keyed-sink contract: whole-row upsert semantics,
  * replay idempotency, and the ingest stream routing through an
  * alternative sink implementation.
  */
class KeyedSinkSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  test("ParquetDocStoreSink maintains latest-per-key across batches; replay is idempotent") {
    val dir = Files.createTempDirectory("graft-docstore").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"), orderCols = Seq("ver"))
    sink.upsert(Seq(("a", 1L, "x1"), ("a", 2L, "x2"), ("b", 1L, "y1"))
      .toDF("k", "ver", "v"), batchId = 0L)
    // within-batch: latest ver per key wins before the merge
    assert(sink.current(spark).get.as[(String, Long, String)].collect().toSet
      == Set(("a", 2L, "x2"), ("b", 1L, "y1")))
    sink.upsert(Seq(("a", 3L, "x3"), ("c", 1L, "z1")).toDF("k", "ver", "v"),
      batchId = 1L)
    val after1 = sink.current(spark).get.as[(String, Long, String)].collect().toSet
    assert(after1 == Set(("a", 3L, "x3"), ("b", 1L, "y1"), ("c", 1L, "z1")),
      s"whole-row replace per key, untouched keys kept: $after1")
    // replay of batch 1 (failed checkpoint commit) rebuilds v=1 from
    // v=0 — the store is exactly what one delivery produces
    sink.upsert(Seq(("a", 3L, "x3"), ("c", 1L, "z1")).toDF("k", "ver", "v"),
      batchId = 1L)
    assert(sink.current(spark).get.as[(String, Long, String)].collect().toSet
      == after1, "replayed batch must not double-merge")
  }

  test("a dedup-FILTERED replay (empty re-upsert) must not erase the batch") {
    // the crash window: batch 1's write landed (committed v=1), the
    // checkpoint commit didn't; on replay an upstream seen-set sees
    // the rows already in the store and hands the sink an EMPTY
    // batch. Without the applied short-circuit the sink would rebuild
    // v=1 from v=0 — erasing batch 1's rows forever (the source never
    // re-delivers a committed cursor range).
    val dir = Files.createTempDirectory("graft-docstore-replay").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"), orderCols = Seq("ver"))
    sink.upsert(Seq(("a", 1L, "x1")).toDF("k", "ver", "v"), batchId = 0L)
    sink.upsert(Seq(("b", 1L, "y1")).toDF("k", "ver", "v"), batchId = 1L)
    assert(sink.alreadyApplied(1L) && !sink.alreadyApplied(2L))
    sink.upsert(Seq.empty[(String, Long, String)].toDF("k", "ver", "v"),
      batchId = 1L) // the filtered replay
    assert(sink.current(spark).get.as[(String, Long, String)].collect().toSet
      == Set(("a", 1L, "x1"), ("b", 1L, "y1")),
      "empty replay of a committed batch erased its rows")
    // idle poll: an empty FRESH batch must not rotate a new snapshot
    // (that would rewrite the full store once per empty trigger)
    def versions = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .count(_.getName.startsWith("v="))
    val before = versions
    sink.upsert(Seq.empty[(String, Long, String)].toDF("k", "ver", "v"),
      batchId = 5L)
    assert(versions == before, "idle poll rotated a snapshot")
    assert(sink.current(spark).get.count() == 2)
  }

  test("retention retires old versions; replay of the LAST batch stays safe") {
    val dir = Files.createTempDirectory("graft-docstore-ret").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"),
      orderCols = Seq("ver"), keepVersions = 2)
    def versions: Set[Long] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).toSet
    sink.upsert(Seq(("a", 1L, "x1")).toDF("k", "ver", "v"), batchId = 0L)
    sink.upsert(Seq(("b", 1L, "y1")).toDF("k", "ver", "v"), batchId = 1L)
    sink.upsert(Seq(("a", 2L, "x2")).toDF("k", "ver", "v"), batchId = 2L)
    assert(versions == Set(1L, 2L),
      s"keepVersions=2 must retire v=0 after v=2 lands, got $versions")
    // batch 2's write landed but its checkpoint commit didn't: the
    // replay rebuilds v=2 from v=1 — the base the retention contract
    // guarantees survives — and the store is exactly one delivery's
    val expect = sink.current(spark).get.as[(String, Long, String)]
      .collect().toSet
    sink.upsert(Seq(("a", 2L, "x2")).toDF("k", "ver", "v"), batchId = 2L)
    assert(sink.current(spark).get.as[(String, Long, String)].collect().toSet
      == expect, "replay after retirement must not lose or double-merge")
    assert(expect == Set(("a", 2L, "x2"), ("b", 1L, "y1")))
    // fewer than two retained versions would leave a replayed batch
    // without its base — constructor refuses
    intercept[IllegalArgumentException] {
      new ParquetDocStoreSink(dir, Seq("k"), Seq("ver"), keepVersions = 1)
    }
  }

  test("retention lag: a superseded version inside the lag window survives retire()") {
    // the reader-holding-a-just-retired-snapshot race: a reader that
    // resolved current() right before a rotate must keep a usable
    // snapshot for at least the lag window — age is measured from the
    // version's _SUCCESS commit time
    val dir = Files.createTempDirectory("graft-docstore-lag").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"),
      orderCols = Seq("ver"), keepVersions = 2,
      retentionLagMs = 60L * 60 * 1000)
    def versions: Set[Long] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).toSet
    sink.upsert(Seq(("a", 1L, "x1")).toDF("k", "ver", "v"), batchId = 0L)
    sink.upsert(Seq(("b", 1L, "y1")).toDF("k", "ver", "v"), batchId = 1L)
    sink.upsert(Seq(("a", 2L, "x2")).toDF("k", "ver", "v"), batchId = 2L)
    assert(versions == Set(0L, 1L, 2L),
      s"v=0 is superseded but inside the 1h lag — it must survive, got $versions")
    // age v=0 past the lag (backdate its commit marker): the next
    // rotate may now retire it, and ONLY it — v=1 is still fresh
    new java.io.File(dir, "v=0/_SUCCESS")
      .setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    sink.upsert(Seq(("c", 1L, "z1")).toDF("k", "ver", "v"), batchId = 3L)
    assert(versions == Set(1L, 2L, 3L),
      s"aged-out v=0 retired, in-lag v=1 retained, got $versions")
  }

  test("doc-store markers resolve through Hadoop FS — file: URIs work") {
    // alreadyApplied/versionDirs via java.io.File silently return
    // false/empty on a URI path: the replay-erasure guard would
    // disengage and an empty replay would erase a committed batch
    val dir = "file:" + Files.createTempDirectory("graft-docstore-uri").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"), orderCols = Seq("ver"))
    sink.upsert(Seq(("a", 1L, "x1")).toDF("k", "ver", "v"), batchId = 0L)
    sink.upsert(Seq(("b", 1L, "y1")).toDF("k", "ver", "v"), batchId = 1L)
    assert(sink.alreadyApplied(1L),
      "the durable-applied signal must hold on a file: URI store")
    sink.upsert(Seq.empty[(String, Long, String)].toDF("k", "ver", "v"),
      batchId = 1L) // dedup-filtered replay
    assert(sink.current(spark).get.as[(String, Long, String)].collect().toSet
      == Set(("a", 1L, "x1"), ("b", 1L, "y1")),
      "empty replay on a URI-addressed store erased committed rows")
  }

  test("versions are written with zstd pages; only low-cardinality columns keep a dictionary") {
    val dir = Files.createTempDirectory("graft-docstore-enc").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"), orderCols = Seq("ver"))
    // k: 40k distinct ids, far past a 64 KB dictionary; v: 5 values
    sink.upsert(spark.range(40000).select(
      format_string("report-%08d", col("id")).as("k"), lit(1L).as("ver"),
      concat(lit("category-"), (col("id") % 5).cast("string")).as("v")), batchId = 0L)
    val files = SinkFs.list(s"$dir/v=0").map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val chunks = files.flatMap { path =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      finally reader.close()
    }
    def stats(c: String) =
      chunks.filter(_.getPath.toDotString == c).map(_.getEncodingStats)
    assert(chunks.map(_.getCodec).toSet == Set(CompressionCodecName.ZSTD))
    assert(stats("v").nonEmpty && stats("v").forall(s =>
      s.hasDictionaryEncodedPages && !s.hasNonDictionaryEncodedPages),
      "a 5-value column must stay dictionary-encoded")
    assert(stats("k").nonEmpty && stats("k").forall(s =>
      !s.hasDictionaryPages && !s.hasDictionaryEncodedPages),
      "a unique-id column must be written plain, without a dictionary")
  }

  test("a version this sink wrote is read with its schema carried, not inferred") {
    val dir = Files.createTempDirectory("graft-docstore-schema").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"), orderCols = Seq("ver"))
    sink.upsert(Seq(("a", 1L, "x1"), ("b", 1L, "y1")).toDF("k", "ver", "v"), batchId = 0L)
    sink.upsert(Seq(("a", 2L, "x2")).toDF("k", "ver", "v"), batchId = 1L)
    val expect = Set(("a", 2L, "x2"), ("b", 1L, "y1"))
    val (store, jobs) = JobCount.during(spark.sparkContext)(sink.current(spark).get)
    assert(jobs == 0, s"resolving the version this sink wrote ran $jobs jobs")
    assert(store.schema == spark.read.parquet(s"$dir/v=1").schema)
    assert(store.as[(String, Long, String)].collect().toSet == expect)
    // a second instance did not write v=1: it infers the schema
    val other = new ParquetDocStoreSink(dir, keys = Seq("k"), orderCols = Seq("ver"))
    val (inferred, inferJobs) =
      JobCount.during(spark.sparkContext)(other.current(spark).get)
    assert(inferJobs > 0, "a version written elsewhere must be inferred")
    assert(inferred.schema == store.schema)
    assert(inferred.as[(String, Long, String)].collect().toSet == expect)
  }

  test("startIngest routes through a swapped-in doc-store sink") {
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val ms = MemoryStream[(Timestamp, Long, String, Long, Double)]
    val df = ms.toDF().toDF("ts", "user_id", "event_type", "event_id", "value")
    val sink = new InMemoryDocStoreSink(Seq("user_id", "event_type"),
      orderCols = Seq("event_id"))
    ms.addData(
      (ts("2024-01-01 10:00:00"), 1L, "click", 100L, 1.0),
      (ts("2024-01-01 10:05:00"), 1L, "click", 101L, 2.0), // in-window dup key
      (ts("2024-01-01 11:00:00"), 2L, "view", 102L, 3.0))
    val q = LabelStream.startIngest(df, sink, ckpt)
    q.awaitTermination()
    assert(sink.store.size == 2,
      "watermarked dedup must run upstream of whatever sink is plugged in")
    assert(sink.store.keySet == Set(Seq(1L, "click"), Seq(2L, "view")))
    assert(sink.store(Seq(2L, "view"))("event_id") == 102L)
  }
}
