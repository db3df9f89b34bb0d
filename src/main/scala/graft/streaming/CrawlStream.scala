package graft.streaming

import graft.operators.CrawlText
import graft.sources.Warc
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous crawl curation — the streaming composition of
  * [[Warc.startIngest]]'s archive feed and [[CrawlText]]'s
  * extraction. Each newly-landed `<source>.warc[.gz]` file is walked
  * once (binaryFile source + checkpoint = exactly-once per archive
  * across restarts), its records parsed as HTTP responses, and the
  * batch curated against a PRE-LEARNED chrome inventory.
  *
  * The design decision worth stating: the paragraph-df pass is NOT
  * recomputed per trigger. Document frequency is corpus-level truth —
  * a micro-batch can't see it, and rescanning history every trigger
  * to rebuild it is the driver-bottleneck shape this engine bans.
  * So chrome is an OFFLINE artifact (retrained on the growing bronze
  * at whatever cadence the owner picks, like index centroids) and
  * the stream applies it as a broadcast anti-join — new chrome takes
  * effect at the next artifact refresh, exactly how production
  * curation pipelines stage blocklists.
  *
  * Write discipline: per-batch `ingest_batch=<id>` directory with
  * overwrite + the committer's `_SUCCESS` marker as the durable
  * applied signal ([[BronzeParquetSink]]'s contract) — a replayed
  * batch rewrites its own directory byte-identically instead of
  * appending duplicates.
  */
object CrawlStream {

  /** Archive feed → curated parquet. `chrome` is the learned
    * boilerplate inventory ((lang, h) columns,
    * [[CrawlText.boilerplate]]'s per-language hashes).
    *
    * `driftDir`, when set, turns on the CHROME DRIFT MONITOR: the
    * frozen artifact goes stale the day a site redesigns (a new
    * banner is not in the inventory, so it leaks into every curated
    * doc until the next offline retrain). Per batch, the monitor
    * runs the same [[CrawlText.boilerplate]] df pass over the
    * BATCH's own paragraphs, anti-joins the frozen set, and writes
    * every NEW frequent paragraph — (lang, h, para, df) — under
    * `driftDir/ingest_batch=<id>` with the same `_SUCCESS`
    * replay-idempotent discipline as the output. Curation owners
    * watch this inventory to see leakage BEFORE it poisons the
    * corpus; the output contract itself is unchanged (the stream
    * never self-edits chrome — batch-local df is not corpus truth,
    * it is an alarm).
    *
    * `exportDir`, when set, additionally ships each batch's curated
    * docs as `.jsonl.gz` shard FILES ([[graft.sources.JsonlShards]]
    * — the trainer-interchange layout) under
    * `exportDir/ingest_batch=<id>/<source>_<shard>.jsonl.gz`, with
    * an explicit `_SUCCESS` touched only after every shard landed —
    * the same replay-idempotent marker discipline as the parquet
    * output, so a restarted batch rewrites its own directory
    * byte-identically. Shard blobs stream to the driver one
    * partition at a time (`toLocalIterator` — memory holds ONE
    * shard) and write through the Hadoop FS; a micro-batch is one
    * trigger's archives, so the sequential write is bounded by the
    * trigger size, not the corpus.
    */
  def startCuration(spark: SparkSession, feedDir: String, outDir: String,
                    ckptDir: String, chrome: DataFrame,
                    driftDir: Option[String] = None,
                    exportDir: Option[String] = None): StreamingQuery = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val frozen = chrome.select(col("lang"), col("h")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val chromeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(frozen.toSeq, 1)).toDF("lang", "h")
    spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*.warc*")
      .load(feedDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1)
        val source = base.stripSuffix(".gz").stripSuffix(".warc")
        Warc.records(bytes).flatMap { r =>
          val id = r.headers.getOrElse("WARC-Record-ID", "urn:graft:-1")
            .stripPrefix("urn:graft:").toLong
          Warc.parseHttp(r.payload).map { case (status, headers, body) =>
            Warc.HttpRecord(source, id, status,
              headers.getOrElse("content-type", ""), body)
          }
        }
      }
      .writeStream
      .foreachBatch { (micro: org.apache.spark.sql.Dataset[Warc.HttpRecord],
                       batchId: Long) =>
        val batch = LabelStream.inSession(micro.toDF(), spark)
        val dir = s"$outDir/ingest_batch=$batchId"
        if (!SinkFs.exists(s"$dir/_SUCCESS")) {
          CrawlText.curatedWithChrome(batch, chromeDf)
            .write.mode(SaveMode.Overwrite).parquet(dir)
        }
        exportDir.foreach { ed =>
          val dir2 = s"$ed/ingest_batch=$batchId"
          if (!SinkFs.exists(s"$dir2/_SUCCESS")) {
            val curated = CrawlText
              .curatedTextWithChrome(batch, chromeDf)
              .join(batch.select(col("doc_id"), col("source"))
                .distinct(), Seq("doc_id"))
              .select(col("doc_id"), col("lang"), col("source"),
                col("xt").as("text"))
            val it = graft.sources.JsonlShards
              .shardsFromDocuments(curated)(spark).toLocalIterator()
            while (it.hasNext) {
              val sh = it.next()
              SinkFs.writeBytes(
                s"$dir2/${sh.source}_${sh.shard_idx}.jsonl.gz", sh.data)
            }
            SinkFs.touch(s"$dir2/_SUCCESS")
          }
        }
        driftDir.foreach { dd =>
          val drift = s"$dd/ingest_batch=$batchId"
          if (!SinkFs.exists(s"$drift/_SUCCESS")) {
            CrawlText.boilerplate(CrawlText.paragraphs(batch))
              .join(org.apache.spark.sql.functions.broadcast(chromeDf),
                Seq("lang", "h"), "left_anti")
              .write.mode(SaveMode.Overwrite).parquet(drift)
          }
        }
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
