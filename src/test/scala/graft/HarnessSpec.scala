package graft

import org.apache.spark.sql.functions.{col, udf}

/** The timing path every main shares. Runs on the shared session and
  * calls no main (a main stops its session). */
class HarnessSpec extends SparkSpec {

  test("the timer gives a good frame's row count") {
    val (secs, rows, err) = Harness.time(spark.range(1234).toDF())
    assert(err.isEmpty)
    assert(rows == 1234)
    assert(secs >= 0)
  }

  test("a frame that throws times as -1 s and -1 rows with a one-line error") {
    val boom = udf((i: Long) => {
      if (i == 7) throw new IllegalStateException(
        "x" * 300 + "\nsecond line of a long message")
      i
    })
    val (secs, rows, err) =
      Harness.time(spark.range(10).select(boom(col("id"))))
    assert(secs == -1.0 && rows == -1L)
    assert(err.nonEmpty)
    assert(!err.get.contains("\n"), s"one line: ${err.get}")
    assert(err.get.length <= 160, s"at most 160 characters: ${err.get}")
    // a frame whose build throws is a failed run too
    val (s2, r2, e2) = Harness.time(sys.error("no frame"))
    assert(s2 == -1.0 && r2 == -1L)
    assert(e2.contains("RuntimeException: no frame"))
  }

  test("the query selector rejects a filter that matches nothing") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("no_query_has_this_name")))
    assert(e.getMessage.contains("matched no queries"))
    val all = Harness.select(Seq(""))
    assert(all.size == SparkEntry.queries.size)
    assert(all.map(_._1) == all.map(_._1).sorted)
    assert(Harness.select(Seq("q_pagerank", "m1_upsert_replace")).map(_._1)
      .toSet == Set("q_pagerank", "m1_upsert_replace"))
  }
}
