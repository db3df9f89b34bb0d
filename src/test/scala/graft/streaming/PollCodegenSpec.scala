package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat_ws}

/** A tail-follow poller starts one streaming query per poll, and every
  * query runs in a cloned session of its own. The foreachBatch body runs
  * in the session that started the query, so a steady poll finds its
  * generated code already compiled by the polls before it. */
class PollCodegenSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private type Report = (Long, Long, String)

  private def frame(rows: Seq[Report]): DataFrame =
    rows.toDF("k", "ver", "v")

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
    val got = sink.current(spark).get.select("k", "ver", "v").as[Report]
      .collect().toSet
    val want = twin.store.values
      .map(r => (r("k").asInstanceOf[Long], r("ver").asInstanceOf[Long],
        r("v").asInstanceOf[String])).toSet
    assert(got == want)
  }
}
