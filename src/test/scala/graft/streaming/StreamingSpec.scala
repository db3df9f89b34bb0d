package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Streaming-only behaviors: watermarked dedup, checkpointed
  * AvailableNow ingest into append-only bronze, merge-on-read gold.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark drops in-window duplicate keys") {
    val ms = MemoryStream[(Timestamp, Long, String)]
    val df = ms.toDF().toDF("ts", "user_id", "event_type")
    val q = LabelStream.dedupWithinWatermark(df, "ts", "1 hour", Seq("user_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:00:00"), 1L, "click"),
        (ts("2024-01-01 10:05:00"), 1L, "view"),   // dup key within window
        (ts("2024-01-01 10:10:00"), 2L, "click"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").as[(Timestamp, Long, String)]
        .collect().toSeq.sortBy(_._2)
      assert(got.map(_._2) == Seq(1L, 2L), s"expected dedup by user_id, got $got")
    } finally q.stop()
  }

  test("flatMapGroupsWithState TTL: suppression chains from ACCEPTED sightings across batches") {
    val ms = MemoryStream[(Long, Timestamp)]
    val in = ms.toDF().toDF("user_id", "ts")
      .as[StatefulTtl.Sighting]
    val q = StatefulTtl.ttlDedupStream(in, hours = 12)
      .writeStream.format("memory").queryName("ttl_out")
      .outputMode("append").start()
    try {
      // batch 1: 23:00 accepted; 23:30 suppressed (30 min after accept)
      ms.addData((1L, ts("2024-01-01 23:00:00")), (1L, ts("2024-01-01 23:30:00")))
      q.processAllAvailable()
      // batch 2 (state crosses the micro-batch boundary):
      // 01:00 suppressed (2 h after the ACCEPTED 23:00);
      // 11:30 ACCEPTED — 12.5 h after 23:00; the suppressed 01:00 does
      // NOT arm the timer (the batch any-sighting form would drop it);
      // other key unaffected
      ms.addData((1L, ts("2024-01-02 01:00:00")),
        (1L, ts("2024-01-02 11:30:00")),
        (2L, ts("2024-01-02 01:00:00")))
      q.processAllAvailable()
      val got = spark.table("ttl_out").as[(Long, Timestamp)]
        .collect().toSet
      assert(got == Set(
        (1L, ts("2024-01-01 23:00:00")),
        (1L, ts("2024-01-02 11:30:00")),
        (2L, ts("2024-01-02 01:00:00"))), s"got $got")
      // and the batch form differs exactly where documented: 11:30 is
      // dropped there because the suppressed 01:00 still suppresses
      val batchForm = graft.operators.Merge.ttlDedup(
          spark.table("ttl_out").sparkSession
            .createDataset(Seq(
              StatefulTtl.Sighting(1L, ts("2024-01-01 23:00:00")),
              StatefulTtl.Sighting(1L, ts("2024-01-02 01:00:00")),
              StatefulTtl.Sighting(1L, ts("2024-01-02 11:30:00")))).toDF(),
          "user_id", "ts", 12)
        .as[(Long, Timestamp)].collect().toSet
      assert(batchForm == Set((1L, ts("2024-01-01 23:00:00"))))
    } finally q.stop()
  }

  test("tumbling window counts in streaming mode match the batch plan") {
    val ms = MemoryStream[(Timestamp, String)]
    val df = ms.toDF().toDF("ts", "event_type")
    val q = LabelStream.tumblingCounts(df, "ts", "1 hour")
      .select($"window.start".as("ws"), $"event_type", $"n")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:05:00"), "click"),
        (ts("2024-01-01 10:45:00"), "click"),
        (ts("2024-01-01 11:05:00"), "click"),
        (ts("2024-01-01 10:30:00"), "view"))
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(got == Set(
        (ts("2024-01-01 10:00:00"), "click", 2L),
        (ts("2024-01-01 11:00:00"), "click", 1L),
        (ts("2024-01-01 10:00:00"), "view", 1L)))
      // late-ish arrival updates the open window (upsert-on-rereport
      // semantics, like the reference accepting any-time re-reports)
      ms.addData((ts("2024-01-01 10:50:00"), "view"))
      q.processAllAvailable()
      val upd = spark.table("tumbling_out")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(upd.contains((ts("2024-01-01 10:00:00"), "view", 2L)))
    } finally q.stop()
  }

  test("session windows in streaming mode merge gap-overlapping events") {
    val ms = MemoryStream[(Timestamp, Long)]
    val df = ms.toDF().toDF("ts", "user_id")
    val q = df.withWatermark("ts", "1 hour")
      .groupBy(org.apache.spark.sql.functions.session_window(
        $"ts", "30 minutes"), $"user_id")
      .count()
      .select($"session_window.start".as("ss"), $"user_id", $"count")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      ms.addData(
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:20:00"), 1L),  // merges (gap < 30 min)
        (ts("2024-01-01 11:30:00"), 1L),  // new session
        (ts("2024-01-01 10:10:00"), 2L))
      q.processAllAvailable()
      val got = spark.table("session_out")
        .as[(Timestamp, Long, Long)].collect().toSet
      assert(got == Set(
        (ts("2024-01-01 10:00:00"), 1L, 2L),
        (ts("2024-01-01 11:30:00"), 1L, 1L),
        (ts("2024-01-01 10:10:00"), 2L, 1L)))
    } finally q.stop()
  }

  test("late-data policy: append-mode windowed agg drops events behind the watermark") {
    val ms = MemoryStream[(Timestamp, String)]
    val df = ms.toDF().toDF("ts", "event_type")
    val q = df.withWatermark("ts", "10 minutes")
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"),
        $"event_type")
      .count()
      .select($"window.start".as("ws"), $"event_type", $"count")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      ms.addData((ts("2024-01-01 10:20:00"), "click"))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window's close
      ms.addData((ts("2024-01-01 13:00:00"), "click"))
      q.processAllAvailable()
      // a late event for the CLOSED 10:00 window must be dropped
      ms.addData((ts("2024-01-01 10:40:00"), "click"))
      // and one more to flush
      ms.addData((ts("2024-01-01 15:00:00"), "click"))
      q.processAllAvailable()
      val tenOClock = spark.table("late_out")
        .as[(Timestamp, String, Long)].collect()
        .filter(_._1 == ts("2024-01-01 10:00:00"))
      assert(tenOClock.map(_._3).toSeq == Seq(1L),
        s"late event must not reopen the closed window: ${tenOClock.toSeq}")
    } finally q.stop()
  }

  test("AvailableNow ingest: checkpointed dedup to bronze, merge-on-read gold") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val bronze = s"$dir/bronze"
    val ckpt = s"$dir/ckpt"
    val ms = MemoryStream[(Timestamp, Long, String, Long, Double)]
    val df = ms.toDF().toDF("ts", "user_id", "event_type", "event_id", "value")

    ms.addData(
      (ts("2024-01-01 10:00:00"), 1L, "click", 100L, 1.0),
      (ts("2024-01-01 10:05:00"), 1L, "click", 101L, 2.0), // in-window dup key
      (ts("2024-01-01 11:00:00"), 2L, "view", 102L, 3.0))
    val q1 = LabelStream.startIngest(df, bronze, ckpt)
    q1.awaitTermination()

    val bronzeRows = spark.read.parquet(bronze)
    assert(bronzeRows.count() == 2, "duplicate (user,type) within watermark must be dropped")

    // idempotency layout: each micro-batch owns an ingest_batch=<id>
    // directory (overwrite on replay), with day partitions below it
    val batchDirs = new java.io.File(bronze).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batchDirs.exists(_.startsWith("ingest_batch=")),
      s"bronze must be laid out per micro-batch, got $batchDirs")

    // a key re-seen while still in dedup state is dropped (the 12 h
    // TTL semantics), even across a checkpointed restart
    ms.addData((ts("2024-01-01 12:00:00"), 1L, "click", 150L, 5.0))
    val q2 = LabelStream.startIngest(df, bronze, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(bronze).count() == 2,
      "re-seen key within TTL window must stay deduped across restarts")

    // advance the watermark past (first event + 12 h), expiring state…
    ms.addData((ts("2024-01-02 23:00:00"), 3L, "view", 160L, 6.0))
    val q3 = LabelStream.startIngest(df, bronze, ckpt)
    q3.awaitTermination()
    // …then the same key is ingestable again; gold shows the latest
    ms.addData((ts("2024-01-03 09:00:00"), 1L, "click", 200L, 9.0))
    val q4 = LabelStream.startIngest(df, bronze, ckpt)
    q4.awaitTermination()

    def latestByKey(df: org.apache.spark.sql.DataFrame) =
      df.select("ts", "user_id", "event_type", "event_id", "value")
        .as[(Timestamp, Long, String, Long, Double)].collect()
        .map(r => (r._2, r._3) -> r._4).toMap

    val goldDf = LabelStream.goldView(spark, bronze, Seq("user_id", "event_type"))
    assert(!goldDf.columns.contains("ingest_batch"),
      "sink plumbing must not leak into the gold schema")
    val gold = latestByKey(goldDf)
    assert(gold((1L, "click")) == 200L, "gold must expose latest record per key")
    assert(gold((2L, "view")) == 102L)

    // bronze is day-partitioned: an incremental (I1 delta) read prunes
    // old partitions at planning time
    val delta = spark.read.parquet(bronze)
      .filter($"day" >= java.sql.Date.valueOf("2024-01-03"))
    val scan = delta.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("day"),
      s"expected day partition filter, got ${scan.metadata("PartitionFilters")}")
    assert(delta.count() == 1)

    // compaction: snapshot holds exactly the gold content
    val snap = s"$dir/snapshot"
    LabelStream.compactTo(spark, bronze, snap, Seq("user_id", "event_type"))
    assert(latestByKey(spark.read.parquet(snap)) == gold)
  }

  test("foreachBatch + IncrementalAgg maintains the gold aggregate exactly") {
    val ms = MemoryStream[(String, Double)]
    val goldDir = Files.createTempDirectory("graft-mv").toString
    def state(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("v").cast("decimal(18,4)"))
          .as("s"))
    val q = ms.toDF().toDF("k", "v").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val delta = state(batch)
        val merged =
          if (id == 0) delta
          else graft.operators.IncrementalAgg.merge(
            spark.read.parquet(goldDir), delta, Seq("k"), Seq("n", "s"))
        // stage-then-swap: parquet can't be read and overwritten in
        // the same job (the production form swaps directories)
        val staged = merged.collect()
        spark.createDataFrame(
            spark.sparkContext.parallelize(staged.toSeq), merged.schema)
          .write.mode("overwrite").parquet(goldDir)
        ()
      }
      .start()
    try {
      ms.addData(("a", 1.5), ("a", 2.0), ("b", 3.25))
      q.processAllAvailable()
      ms.addData(("a", 0.25), ("c", 9.0))
      q.processAllAvailable()
      val gold = spark.read.parquet(goldDir)
        .select(col("k"), col("n").cast("long"),
          col("s").cast("decimal(20,4)").cast("string"))
        .as[(String, Long, String)].collect().toSet
      val scratch = state(
          Seq(("a", 1.5), ("a", 2.0), ("b", 3.25), ("a", 0.25), ("c", 9.0))
            .toDF("k", "v"))
        .select(col("k"), col("n").cast("long"),
          col("s").cast("decimal(20,4)").cast("string"))
        .as[(String, Long, String)].collect().toSet
      assert(gold == scratch && gold.map(_._1) == Set("a", "b", "c"))
    } finally q.stop()
  }
}
