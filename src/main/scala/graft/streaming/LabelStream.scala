package graft.streaming

import graft.operators.Merge
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming form of the reference's unbounded polling
  * loops (SURVEY §2 I1–I3, §3): the cursor becomes a checkpointed
  * offset, the 12 h TTL seen-set becomes `dropDuplicatesWithinWatermark`,
  * the polling cadence becomes a trigger, and the per-batch Mongo
  * upsert becomes a `foreachBatch` merge.
  *
  * Sink pattern (no table format with row-level merge is in scope, so
  * no Delta/Iceberg): bronze is append-only at the TABLE level, but
  * each micro-batch owns an `ingest_batch=<id>` directory written
  * with overwrite — a replayed batch rewrites its own directory
  * instead of appending duplicates. The gold view is merge-on-read:
  * latest-record-per-key via window, exactly the reference's
  * upsert-by-id semantics (chainabuse/main.py:83-89). Restart safety
  * = idempotent per-batch writes + checkpointed offsets, which is
  * strictly stronger than the reference (its cursor was in-memory
  * only, chainabuse/main.py:107-109).
  */
object LabelStream {

  /** A foreachBatch micro-batch rebound to `spark`, the session that
    * started the query; every foreachBatch body here runs on the
    * rebound frame.
    *
    * Why: each streaming query runs in a session cloned at its start,
    * the executors run the clone's tasks under a class loader of its
    * own, and Spark's cache of compiled generated code is keyed by
    * (class loader, code). So a
    * tail-follow poller, which starts a new query per poll, ran every
    * body on cold code and recompiled the same classes on every poll.
    * Under the caller's session, the body's jobs reuse what earlier
    * polls compiled.
    *
    * The one behaviour difference: the body plans under the caller's
    * runtime confs as they are when the batch runs, not under the
    * clone's snapshot of them taken at query start. */
  def inSession(batch: DataFrame, spark: SparkSession): DataFrame =
    GraftShim.ofRows(spark, GraftShim.logicalPlan(batch))

  /** The reference's 12 h TTL dedup (bitcoinabuse/main.go:43-45) in
    * streaming form: state is bounded by the watermark, so it cannot
    * grow without bound at scale. */
  def dedupWithinWatermark(df: DataFrame, eventTime: String,
                           delay: String, keys: Seq[String]): DataFrame =
    df.withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Tumbling-window counts (the category-stats query, streaming).
    * Watermarked like every other entry point here: without it a
    * streaming aggregation keeps EVERY window ever seen in the state
    * store (and append mode refuses to plan at all). On a batch frame
    * withWatermark is a no-op, so the same body serves both modes. */
  def tumblingCounts(df: DataFrame, eventTime: String, width: String,
                     delay: String = "1 hour"): DataFrame =
    df.withWatermark(eventTime, delay)
      .groupBy(window(col(eventTime), width), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Start the ingest: watermarked dedup → keyed sink via
    * foreachBatch, AvailableNow trigger (the reference's "catch up,
    * then stop until next tick"). The sink is pluggable
    * ([[KeyedSink]]) — the reference's UpdateOne upsert contract; the
    * default is the bronze parquet layout: each micro-batch owns an
    * `ingest_batch=<id>` directory written with overwrite (a batch
    * whose write succeeded but whose checkpoint commit didn't is
    * rewritten on restart, not appended twice), day-partitioned below
    * it so incremental consumers (the reference's delta re-scan I1,
    * bitcoinabuse/main.go:175-182) prune to new partitions only.
    */
  def startIngest(source: DataFrame, bronzePath: String,
                  checkpoint: String): StreamingQuery =
    startIngest(source, new BronzeParquetSink(bronzePath), checkpoint)

  /** Sink-agnostic form: any [[KeyedSink]] (bronze parquet,
    * materialized doc-store, a connector-backed store). */
  def startIngest(source: DataFrame, sink: KeyedSink,
                  checkpoint: String): StreamingQuery =
    dedupWithinWatermark(source, "ts", "12 hours", Seq("user_id", "event_type"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.upsert(inSession(batch, source.sparkSession), batchId)
      }
      .start()

  /** Ingest with the cross-batch [[BloomSeenSet]] upstream of the
    * sink: each micro-batch keeps only keys never stored before —
    * the reference's seen-map-before-insert loop
    * (bitcoinabuse/main.go:43-45,218-221) without re-scanning the
    * store per batch. `history` must read the store the sink writes
    * (the seen-set's exactness contract); it is only evaluated when
    * the sketch needs building or a probe sliver needs the exact
    * check — batch N+1 with fresh keys touches no history at all.
    */
  def startDedupedIngest(source: DataFrame, sink: KeyedSink,
                         checkpoint: String, seen: BloomSeenSet,
                         history: () => DataFrame): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (micro: DataFrame, batchId: Long) =>
        val spark = source.sparkSession
        // The micro-batch is a plan over the source's own scan, so
        // every action over it would fetch and parse the poll again:
        // the seen-set's probe, each arm of its sliver union, a
        // replay's commit. Persisted, they all read the parsed rows.
        val batch = inSession(micro, spark).persist()
        try {
          // Replay guard: a batch whose write landed but whose
          // checkpoint commit didn't arrives AGAIN, and the dedup
          // filter would see its own first delivery in the store and
          // strip the batch to empty — handing the sink an empty
          // re-upsert that a snapshot-rotating store would apply as
          // an erasure. Skip the whole body; the sketch re-folds the
          // keys (idempotent) so a restarted process stays exact.
          if (sink.alreadyApplied(batchId)) seen.commit(batch)
          else {
            // fresh is read by the sink and by the sketch fold, so it
            // is persisted. It has a partition per page, two when the
            // sliver union runs; coalesced to the core count, each
            // stage over it runs one task per core and the fold
            // merges that many partial sketches.
            val fresh = seen.filterNew(batch, history())
              .coalesce(spark.sparkContext.defaultParallelism).persist()
            try {
              sink.upsert(fresh, batchId)
              seen.commit(fresh) // AFTER the sink accepted the rows
            } finally fresh.unpersist()
          }
        } finally batch.unpersist()
      }
      .start()

  /** Compaction: rewrite bronze as one latest-record-per-key snapshot
    * (bounded read amplification for the merge-on-read gold view).
    * Writes to a NEW path — plain parquet cannot be rewritten in
    * place while being read; at scale the snapshot path rotates and
    * old bronze partitions are retired. */
  def compactTo(spark: SparkSession, bronzePath: String,
                snapshotPath: String, keys: Seq[String]): Unit =
    goldView(spark, bronzePath, keys)
      .write.mode("overwrite").parquet(snapshotPath)

  /** Merge-on-read gold view over bronze: latest record per key —
    * M3 upsert semantics applied at read time. At scale this is the
    * standard compact-later pattern; a periodic job can rewrite
    * bronze with [[Merge.upsertReplace]] to keep read amplification
    * bounded. */
  def goldView(spark: SparkSession, bronzePath: String,
               keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    // ingest_batch is sink plumbing (idempotent-replay bookkeeping),
    // not part of the gold schema; day stays — it's semantic
    spark.read.parquet(bronzePath)
      .drop("ingest_batch")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
