package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import graft.sources.{PageFeed, PagedTable}
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat_ws, explode, split}

/** A tail-follow poller starts one streaming query per poll, and every
  * query runs in a cloned session of its own. The foreachBatch body runs
  * in the session that started the query, so a steady poll finds its
  * generated code already compiled by the polls before it, and it
  * fetches and parses its pages once. */
class PollCodegenSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private type Report = (Long, Long, String)

  private def frame(rows: Seq[Report]): DataFrame =
    rows.toDF("k", "ver", "v")

  private def assertSameStore(sink: ParquetDocStoreSink,
                              twin: InMemoryDocStoreSink): Unit = {
    val got = sink.current(spark).get.select("k", "ver", "v").as[Report]
      .collect().toSet
    val want = twin.store.values
      .map(r => (r("k").asInstanceOf[Long], r("ver").asInstanceOf[Long],
        r("v").asInstanceOf[String])).toSet
    assert(got == want)
  }

  test("a third deduped poll compiles nothing and keeps the doc store exact") {
    val store = Files.createTempDirectory("graft-poll-store").toString
    val ckpt = Files.createTempDirectory("graft-poll-ckpt").toString
    val sink = new ParquetDocStoreSink(store, keys = Seq("k"),
      orderCols = Seq("ver"))
    val twin = new InMemoryDocStoreSink(Seq("k"), orderCols = Seq("ver"))
    // the seen-set keys a report by id and revision: a revision passes,
    // a verbatim re-report drops
    val seen = new BloomSeenSet("seen_key", expectedKeys = 1000)
    def keyed(df: DataFrame): DataFrame =
      df.withColumn("seen_key", concat_ws("/", col("k"), col("ver")))

    val boot = (1L to 40L).map(k => (k, 1L, s"r$k"))
    sink.upsert(keyed(frame(boot)), -1L)
    twin.upsert(keyed(frame(boot)), -1L)
    val ms = MemoryStream[Report]
    val source = keyed(ms.toDF().toDF("k", "ver", "v"))

    // poll p: 5 new reports, revisions of stored reports 10p+1..10p+5,
    // and verbatim re-reports of stored reports 10p+6..10p+10
    def poll(p: Int): Long = {
      val fresh = (1 to 5).map(i => (100L * p + i, 1L, s"n$p-$i"))
      val revised = (1 to 5).map(i => (10L * p + i, 2L, s"v$p-$i"))
      val repeated = (6 to 10).map(i => boot(10 * p + i - 1))
      val rows = fresh ++ revised ++ repeated
      twin.upsert(keyed(frame(rows)), p.toLong)
      ms.addData(rows)
      Compiles.during {
        LabelStream.startDedupedIngest(source, sink, ckpt, seen,
          () => sink.current(spark).get.select("seen_key")).awaitTermination()
      }
    }

    val compiled = (1 to 3).map(poll)
    assert(compiled(2) == 0,
      s"a steady poll must reuse compiled code; compiles per poll: $compiled")
    assertSameStore(sink, twin)
  }

  test("a deduped poll fetches each page once and hands the sink core-count partitions") {
    val store = Files.createTempDirectory("graft-poll-store").toString
    val ckpt = Files.createTempDirectory("graft-poll-ckpt").toString
    val feed = s"poll-fetch-${System.nanoTime()}"
    val sink = new ParquetDocStoreSink(store, keys = Seq("k"),
      orderCols = Seq("ver"))
    val twin = new InMemoryDocStoreSink(Seq("k"), orderCols = Seq("ver"))
    val seen = new BloomSeenSet("seen_key", expectedKeys = 1000)
    val partitions = ArrayBuffer.empty[Int]
    val recording = new KeyedSink {
      override def alreadyApplied(batchId: Long): Boolean =
        sink.alreadyApplied(batchId)
      override def upsert(fresh: DataFrame, batchId: Long): Unit = {
        sink.upsert(fresh, batchId)
        partitions += fresh.rdd.getNumPartitions
      }
    }
    def keyed(df: DataFrame): DataFrame =
      df.withColumn("seen_key", concat_ws("/", col("k"), col("ver")))

    val boot = (1L to 40L).map(k => (k, 1L, s"r$k"))
    sink.upsert(keyed(frame(boot)), -1L)
    twin.upsert(keyed(frame(boot)), -1L)
    PageFeed.register(feed, Nil)
    // a page body is `k:ver:v` reports joined by `;`, parsed in the stream
    val source = keyed(PagedTable.readStream(spark, feed,
        fetcher = Some(classOf[CountingPageFetcher].getName))
      .select(explode(split(col("body"), ";")).as("r"))
      .select(split(col("r"), ":").as("f"))
      .select(col("f")(0).cast("long").as("k"), col("f")(1).cast("long").as("ver"),
        col("f")(2).as("v")))

    // poll p: 5 pages of 3 reports — 5 new, 5 revisions, 5 verbatim
    // re-reports, so the sliver anti-join runs on every poll
    var pages = 0L
    def poll(p: Int): Int = {
      val fresh = (1 to 5).map(i => (100L * p + i, 1L, s"n$p-$i"))
      val revised = (1 to 5).map(i => (10L * p + i, 2L, s"v$p-$i"))
      val repeated = (6 to 10).map(i => boot(10 * p + i - 1))
      val rows = fresh ++ revised ++ repeated
      twin.upsert(keyed(frame(rows)), p.toLong)
      PageFeed.append(feed, rows.grouped(3).toSeq.map { page =>
        pages += 1
        pages -> page.map { case (k, ver, v) => s"$k:$ver:$v" }.mkString(";")
      })
      JobCount.during(spark.sparkContext) {
        LabelStream.startDedupedIngest(source, recording, ckpt, seen,
          () => sink.current(spark).get.select("seen_key")).awaitTermination()
      }._2
    }

    try {
      val jobs = (1 to 3).map(poll)
      val fetches = (0L until pages).map(CountingPageFetcher.times(feed, _))
      assert(fetches.forall(_ == 1), s"fetches per page position: $fetches")
      assert(partitions.size == 3 &&
        partitions.forall(_ <= spark.sparkContext.defaultParallelism),
        s"partitions handed to the sink per poll: $partitions")
      assert(jobs(2) == SteadyPollJobs, s"jobs per poll: $jobs")
      assertSameStore(sink, twin)
    } finally PageFeed.remove(feed)
  }

  /** Spark jobs of a steady poll with a non-empty sliver: the seen-set's
    * probe, the broadcast of history for the sliver's anti-join, the
    * build of `fresh`'s cache, the sink's empty check and its four
    * write jobs, and the sketch fold's two. */
  private val SteadyPollJobs = 10
}
