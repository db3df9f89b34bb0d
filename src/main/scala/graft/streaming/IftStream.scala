package graft.streaming

import graft.operators.IftPack
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming SFT intake — the conversation-curation chain
  * (`ift_curated_e2e`, [[graft.operators.IftPack]]) run CONTINUOUSLY
  * over a growing feed of conversation rows: vendors deliver
  * transcript drops in waves, and "a duplicated assistant response
  * trains once — its FIRST conversation wins" must hold across
  * micro-batches and restarts without rescanning the admitted store
  * per trigger (duplicate canned refusals are the dominant cross-drop
  * defect in real SFT deliveries).
  *
  * Per batch: the structural gate runs as scan-stage array
  * expressions (per-row, stream-safe by construction); template
  * prompts filter against the OFFLINE template artifact (frequency is
  * corpus-relative, so the streaming form consumes the frozen
  * inventory the batch query produces — the CrawlStream frozen-chrome
  * discipline); within-batch response dedup keeps the min conv per
  * response; then CROSS-batch response dedup runs through the
  * persisted [[BloomSeenSet]] at response-hash grain — definitely-new
  * responses pass with zero history I/O, the ~fpp sliver takes the
  * exact anti-join against response keys RECOMPUTED at scan stage
  * from the landed store (conversations derive from their stored
  * rows, so the store needs no extra key column).
  *
  * Write discipline is [[UrlStream]]'s: per-batch `sft_batch=<id>`
  * directory, overwrite + `_SUCCESS` as the durable applied signal,
  * history reads ONLY complete batch directories, and a
  * checkpoint-commit replay skips the body and re-folds its keys
  * (idempotent).
  */
object IftStream {

  /** Streaming source: documents-shaped parquet rows landing under
    * `feedDir` (doc_id, text, source, ...) — one conversation each,
    * the [[IftPack]] synthesis convention. */
  def feed(spark: SparkSession, feedDir: String): DataFrame =
    spark.readStream.format("parquet")
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, source STRING"))
      .load(feedDir)

  /** Distinct (conv_id, rkey) pairs — md5 of every non-empty
    * assistant response of the given conversations. */
  private def respPairs(docs: DataFrame): DataFrame =
    IftPack.turns(docs)
      .filter(col("role") === "assistant" && col("content") =!= "")
      .select(col("conv_id"), md5(col("content")).as("rkey"))
      .distinct()

  /** Response keys of the landed store (recomputed at scan stage). */
  def storeRespKeys(docs: DataFrame): DataFrame =
    respPairs(docs).select(col("rkey")).distinct()

  /** The admitted store: every `_SUCCESS`-complete batch directory. */
  def admitted(spark: SparkSession, outDir: String): DataFrame = {
    val done = SinkFs.list(outDir)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("sft_batch=") &&
        SinkFs.exists(s"${st.getPath}/_SUCCESS") &&
        SinkFs.list(st.getPath.toString)
          .exists(_.getPath.getName.endsWith(".parquet")))
      .map(_.getPath.toString)
    if (done.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, source STRING"))
    else spark.read.parquet(done: _*)
      .select(col("doc_id"), col("text"), col("source"))
  }

  /** Start the intake. `seen` must be constructed with
    * `key = "rkey"`; `templates` is the frozen template-prompt
    * artifact (the `ift_template_prompts` output of the offline
    * corpus). */
  def startIntake(spark: SparkSession, feedDir: String, outDir: String,
                  ckptDir: String, seen: BloomSeenSet,
                  templates: Seq[String]): StreamingQuery =
    feed(spark, feedDir).writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (micro: DataFrame, batchId: Long) =>
        val batch = LabelStream.inSession(micro, spark)
        val dir = s"$outDir/sft_batch=$batchId"
        if (SinkFs.exists(s"$dir/_SUCCESS")) {
          if (SinkFs.list(dir).exists(_.getPath.getName.endsWith(".parquet")))
            seen.commit(storeRespKeys(spark.read.parquet(dir)))
        } else {
          val b = batch.persist()
          try {
            val pass = IftPack.gateFrame(b).filter(col("pass"))
              .select(col("conv_id"))
            val t = IftPack.turns(b)
              .join(pass, Seq("conv_id"), "left_semi")
            val isTemplate =
              if (templates.isEmpty) lit(false)
              else col("content").isin(templates: _*)
            val templated = t
              .filter(col("role") === "user" && isTemplate)
              .select(col("conv_id")).distinct()
            val cand = pass.join(templated, Seq("conv_id"), "left_anti")
            // within-batch: first conv per response wins; a conv
            // losing ANY of its responses drops entirely. Survivors
            // are chosen over ALL conversations — not the gate/
            // template-filtered pool — exactly as the batch form's
            // dupResponses does: if the min conv is itself dropped
            // (e.g. templated), the response trains ZERO times, it
            // does not fall through to the next conv
            val respAll = respPairs(b)
            val batchLosers = respAll
              .join(respAll.groupBy("rkey")
                .agg(min(col("conv_id")).as("survivor")), Seq("rkey"))
              .filter(col("conv_id") =!= col("survivor"))
              .select(col("conv_id")).distinct()
            val cand2 = cand.join(batchLosers, Seq("conv_id"), "left_anti")
            val candResp = respAll.join(cand2, Seq("conv_id"), "left_semi")
            // cross-batch: responses seen in any landed batch kill
            // their conv; zero history I/O when the sketch says all
            // responses are definitely new
            val freshR = seen.filterNew(
              candResp.select(col("rkey")).distinct(),
              storeRespKeys(admitted(spark, outDir)))
            val seenLosers = candResp
              .join(freshR, Seq("rkey"), "left_anti")
              .select(col("conv_id")).distinct()
            val adm = cand2.join(seenLosers, Seq("conv_id"), "left_anti")
            val landed = b
              .join(adm, b("doc_id") === adm("conv_id"), "left_semi")
              .persist()
            try {
              landed.write.mode(SaveMode.Overwrite).parquet(dir)
              seen.commit(storeRespKeys(landed)) // AFTER the rows landed
            } finally landed.unpersist()
          } finally b.unpersist()
        }
      }
      .start()
}
