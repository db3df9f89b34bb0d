package graft.operators

import graft.sources.Warc
import graft.streaming.{BloomSeenSet, LabelStream, SinkFs}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming URL admission — the crawl front-end
  * ([[UrlOps]], `wc_front_e2e`) run CONTINUOUSLY over
  * a growing archive directory: a crawler re-fetches the same page
  * under many spellings across waves, and admission = "first crawl of
  * each CANONICAL url wins" must hold across micro-batches and
  * process restarts without ever re-scanning the admitted store per
  * trigger.
  *
  * Per batch: the Target-URI of every landed record canonicalizes at
  * scan stage; the batch keeps its first record per canonical (one
  * aggregation — a recrawl WITHIN the batch collapses here); then
  * cross-batch admission runs through the persisted [[BloomSeenSet]]
  * — definitely-new canonicals pass with zero history I/O, the ~fpp
  * sliver takes the exact anti-join, and the committed sketch
  * survives restarts beside the checkpoint (one history scan per
  * deployment lifetime, the [[graft.streaming.SeenSet]] discipline).
  *
  * Write discipline: per-batch `ingest_batch=<id>` directory,
  * overwrite + `_SUCCESS` as the durable applied signal. The history
  * the seen-set consults reads ONLY `_SUCCESS`-complete batch
  * directories — a crashed batch's partial directory must not count
  * as "seen", or its replay would filter itself to empty and
  * overwrite the partial dir with nothing (the replay-erasure shape
  * [[graft.streaming.KeyedSink.alreadyApplied]] guards against). A batch whose
  * `_SUCCESS` exists is a checkpoint-commit replay: the store
  * already has it, so the body is skipped and its keys re-fold into
  * the sketch (idempotent).
  */
object UrlStream {

  /** (doc_id, url, canonical) stream off a growing WARC archive
    * directory — `WARC-Target-URI` per record (the real crawl-archive
    * convention), canonicalized by the same scan-stage chain as the
    * batch family. Records without a Target-URI drop (metadata
    * records are not admissible fetches). */
  def canonicalFeed(spark: SparkSession, feedDir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*.warc*")
      .load(feedDir)
      .select(col("content")).as[Array[Byte]]
      .flatMap(bytes => Warc.records(bytes).flatMap { r =>
        r.headers.get("WARC-Target-URI").map { uri =>
          (r.headers.getOrElse("WARC-Record-ID", "urn:graft:-1")
            .stripPrefix("urn:graft:").toLong, uri)
        }
      })
      .toDF("doc_id", "url")
      .transform(d => UrlOps.withUrlParts(d, col("url"))
        .select(col("doc_id"), col("url"), col("canonical")))
  }

  /** The `_SUCCESS`-complete batch directories under `outDir` (see
    * the object doc for why partial directories are EXCLUDED). */
  private def completeBatchDirs(outDir: String): Seq[String] =
    SinkFs.list(outDir)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("ingest_batch=") &&
        SinkFs.exists(s"${st.getPath}/_SUCCESS") &&
        // a fully-duplicate batch lands `_SUCCESS` with zero part
        // files; schema inference needs at least one
        SinkFs.list(st.getPath.toString)
          .exists(_.getPath.getName.endsWith(".parquet")))
      .map(_.getPath.toString)

  private def emptyStore(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** The admitted store: every complete batch directory, empty-schema
    * frame when none landed yet. */
  def admitted(spark: SparkSession, outDir: String): DataFrame = {
    val done = completeBatchDirs(outDir)
    if (done.isEmpty)
      emptyStore(spark, "canonical STRING, doc_id BIGINT, url STRING")
    else spark.read.parquet(done: _*)
      .select(col("canonical"), col("doc_id"), col("url"))
  }

  /** The fetch LOG the admitted store doubles as: (canonical,
    * fetched_at DATE) for every admitted first crawl — the real
    * table [[WebCurationPack.recrawlDue]] compares
    * sitemap lastmod claims against (wc_recrawl's batch fixture
    * plants the same shape through the IndexCache envelope). One
    * store, two read surfaces: admission history for the seen-set's
    * exact sliver, fetch dates for re-crawl scheduling — no second
    * bookkeeping table to drift. */
  def fetchLog(spark: SparkSession, outDir: String): DataFrame = {
    val done = completeBatchDirs(outDir)
    if (done.isEmpty)
      emptyStore(spark, "canonical STRING, fetched_at DATE")
    else spark.read.parquet(done: _*)
      .select(col("canonical"), col("fetched_at"))
  }

  /** The admission → curation COMPOSITION as one continuous stream —
    * the streaming twin of `wc_admitted_text`: per batch, every
    * landed response record canonicalizes its Target-URI, the batch
    * keeps its first record per canonical, cross-batch admission
    * runs through the persisted sketch (the [[startAdmission]]
    * discipline verbatim), and ONLY the admitted records' HTTP
    * bodies flow into [[CrawlText]]'s chrome-curated
    * extraction. The curated store carries (canonical, url) beside
    * the text fingerprint, so the admitted history IS the curated
    * store — no second bookkeeping table, and the `_SUCCESS`-replay /
    * sketch-refold protocol applies to one directory tree.
    *
    * Chrome is the frozen offline artifact ([[CrawlStream]]'s
    * staging argument); recrawls never reach extraction at all —
    * the admission cut runs BEFORE the body parse fan-out, exactly
    * where the batch front-end places it (URL work is cheap, content
    * work is not). */
  /** `frontierDir`, when set, turns on CONTINUOUS DISCOVERY: per
    * batch, hrefs are extracted from the ADMITTED pages' real fetched
    * bodies, resolved against each page's canonical base (RFC 3986 —
    * [[LinkOps.resolve]]), canonicalized through the
    * same chain as crawled URLs, and written minus everything already
    * admitted — the crawler's next-fetch candidates, under the same
    * `ingest_batch=<id>`/`_SUCCESS` replay discipline as the store.
    * A target stays on the discovery list until it is actually
    * CRAWLED (admitted), so consecutive batches may re-emit it — the
    * fetch scheduler dedups, exactly as wc_frontier's batch form
    * does with its per-domain cap; robots gating happens at fetch
    * time once the target's robots.txt is itself fetched (the real
    * crawler ordering — wc_robots_admit is that gate's batch
    * form). */
  def startAdmittedCuration(spark: SparkSession, feedDir: String,
                            outDir: String, ckptDir: String,
                            chrome: DataFrame,
                            seen: BloomSeenSet,
                            frontierDir: Option[String] = None): StreamingQuery = {
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
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1)
        val source = base.stripSuffix(".gz").stripSuffix(".warc")
        Warc.records(bytes).flatMap { r =>
          for {
            uri <- r.headers.get("WARC-Target-URI")
            (status, headers, body) <- Warc.parseHttp(r.payload)
          } yield (source,
            r.headers.getOrElse("WARC-Record-ID", "urn:graft:-1")
              .stripPrefix("urn:graft:").toLong,
            uri, status, headers.getOrElse("content-type", ""), body)
        }
      }
      .toDF("source", "doc_id", "url", "status", "content_type", "body")
      .writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (micro: DataFrame, batchId: Long) =>
        val batch = LabelStream.inSession(micro, spark)
        val dir = s"$outDir/ingest_batch=$batchId"
        if (SinkFs.exists(s"$dir/_SUCCESS")) {
          if (SinkFs.list(dir).exists(_.getPath.getName.endsWith(".parquet")))
            seen.commit(spark.read.parquet(dir).select(col("canonical")))
        } else {
          val canon = UrlOps
            .withUrlParts(batch, col("url"))
            .select(col("source"), col("doc_id"), col("url"),
              col("canonical"), col("status"), col("content_type"),
              col("body"))
            .persist()
          try {
            val firsts = canon
              .groupBy(col("canonical"))
              .agg(min(struct(col("doc_id"), col("url"))).as("m"))
              .select(col("canonical"), col("m.doc_id").as("doc_id"),
                col("m.url").as("url"))
            val fresh = seen
              .filterNew(firsts, admitted(spark, outDir))
              .persist()
            try {
              // admission cut FIRST; only first-crawl bodies parse
              val pages = canon.join(
                fresh.select(col("doc_id")), Seq("doc_id"), "left_semi")
              // LEFT join: an admitted fetch the curation dropped
              // (404, non-html, short) still lands a store row with
              // null curation columns — the store is the EXACT
              // admission history the sketch's fpp sliver anti-joins,
              // and the two must never diverge
              fresh.join(
                  CrawlText.curatedWithChrome(
                    pages, chromeDf),
                  Seq("doc_id"), "left")
                .select(col("canonical"), col("doc_id"), col("url"),
                  col("lang"), col("n_chars"), col("text_md5"),
                  current_date().as("fetched_at"))
                .write.mode(SaveMode.Overwrite).parquet(dir)
              seen.commit(fresh) // AFTER the rows landed
            } finally fresh.unpersist()
          } finally canon.unpersist()
        }
        // discovery rides its OWN `_SUCCESS`, independently
        // replayable: a crash between the store write and the
        // frontier write leaves a completed store and a missing
        // frontier dir, and the checkpoint replay lands HERE with
        // the store branch a no-op — the admitted set for the batch
        // is read back from the store (authoritative) and the
        // replayed batch frame re-supplies the bodies
        // deterministically
        frontierDir.foreach { fd =>
          val dir2 = s"$fd/ingest_batch=$batchId"
          if (!SinkFs.exists(s"$dir2/_SUCCESS") &&
              SinkFs.exists(s"$dir/_SUCCESS")) {
            if (SinkFs.list(dir).exists(_.getPath.getName.endsWith(".parquet"))) {
              // hrefs of the admitted pages' REAL bodies (not a
              // fixture formula), resolved per page (RFC 3986), kept
              // only when the target is a fetchable web URI (mailto:/
              // javascript: anchors resolve absolute and drop here),
              // run through the full canonicalizer, minus everything
              // the store has admitted (this batch included)
              val batchAdmitted = spark.read.parquet(dir)
                .select(col("doc_id"), col("canonical").as("base"))
              val hrefs = batch.select(col("doc_id"), col("body"))
                .join(batchAdmitted, Seq("doc_id"))
                .select(col("base"), explode(regexp_extract_all(
                    col("body").cast("string"),
                    lit("href=\"([^\"]+)\""), lit(1))).as("href"))
              val web = hrefs
                .select(LinkOps
                  .resolve(col("base"), col("href")).as("url"))
                .filter(col("url").rlike("^https?://"))
              UrlOps.withUrlParts(web, col("url"))
                .select(col("canonical").as("dst"), col("domain"))
                .distinct()
                .join(admitted(spark, outDir)
                    .select(col("canonical").as("dst")),
                  Seq("dst"), "left_anti")
                .write.mode(SaveMode.Overwrite).parquet(dir2)
            } else {
              // all-duplicate batch: nothing admitted, nothing to
              // discover — an EMPTY completed directory keeps the
              // replay ledger exact
              SinkFs.touch(s"$dir2/_SUCCESS")
            }
          }
        }
      }
      .start()
  }

  def startAdmission(spark: SparkSession, feedDir: String, outDir: String,
                     ckptDir: String, seen: BloomSeenSet): StreamingQuery =
    canonicalFeed(spark, feedDir).writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (micro: DataFrame, batchId: Long) =>
        val batch = LabelStream.inSession(micro, spark)
        val dir = s"$outDir/ingest_batch=$batchId"
        if (SinkFs.exists(s"$dir/_SUCCESS")) {
          // checkpoint-commit replay: the store has the batch; re-fold
          // its keys (idempotent) so a restarted process stays exact.
          // An all-duplicate batch landed `_SUCCESS` with no part
          // files — nothing to fold, and nothing to schema-infer.
          if (SinkFs.list(dir).exists(_.getPath.getName.endsWith(".parquet")))
            seen.commit(spark.read.parquet(dir).select(col("canonical")))
        } else {
          // within-batch first-crawl: one survivor per canonical, the
          // min (doc_id, url) struct carrying the first record's url
          val firsts = batch
            .groupBy(col("canonical"))
            .agg(min(struct(col("doc_id"), col("url"))).as("m"))
            .select(col("canonical"), col("m.doc_id").as("doc_id"),
              col("m.url").as("url"))
          val fresh = seen.filterNew(firsts, admitted(spark, outDir))
            .persist()
          try {
            // fetched_at: the batch's landing date — the fetch log
            // [[fetchLog]] reads for re-crawl scheduling
            fresh.withColumn("fetched_at", current_date())
              .write.mode(SaveMode.Overwrite).parquet(dir)
            seen.commit(fresh) // AFTER the rows landed
          } finally fresh.unpersist()
        }
      }
      .start()
}
