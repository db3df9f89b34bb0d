package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Duplicated-substring span coverage (ds_dup_spans), pinned on
  * handcrafted docs where the interval arithmetic is computable by
  * hand. SpanGram = 8 throughout.
  */
class DupSpansSpec extends SparkSpec {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
    DedupPack.dupSpans(
        docs.toDF("doc_id", "text")
          .select(col("doc_id"), split(col("text"), " ").as("toks")))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("cross-doc duplicate: overlapping gram hits merge into one span") {
    // 10 shared tokens = three overlapping 8-gram matches at pos
    // 0,1,2 -> union [0, 10), not 3*8
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val got = run(Seq(
      (1L, s"$shared x1 x2 x3"),
      (2L, s"$shared y1 y2 y3")))
    assert(got(1L) == ((13L, 10L)), s"got $got")
    assert(got(2L) == ((13L, 10L)))
  }

  test("disjoint duplicated spans in one doc count separately") {
    // doc 1 shares its first 8 and last 8 tokens with docs 2/3, with
    // 4 unique tokens between -> two disjoint [0,8) and [12,20) spans
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val got = run(Seq(
      (1L, s"$a u1 u2 u3 u4 $b"),
      (2L, s"$a v1 v2 v3 v4 v5 v6 v7 v8"),
      (3L, s"w1 w2 w3 w4 w5 w6 w7 w8 $b")))
    assert(got(1L) == ((20L, 16L)), s"got $got")
  }

  private def runApply(docs: Seq[(Long, String)]): Map[Long, (String, Long)] =
    DedupPack.dupSpansApply(
        docs.toDF("doc_id", "text")
          .select(col("doc_id"), split(col("text"), " ").as("toks")))
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("apply: global first occurrence survives, later copies are excised") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val got = runApply(Seq(
      (1L, s"$shared m1 m2"),
      (2L, s"$shared z1 z2")))
    assert(got(1L) == ((s"$shared m1 m2", 10L)), s"got $got")
    assert(got(2L) == (("z1 z2", 2L)))
  }

  test("apply: within-doc repeat keeps the first copy; identical docs empty out") {
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val ident = (1 to 8).map(i => s"e$i").mkString(" ")
    val got = runApply(Seq(
      (1L, s"$rep q1 q2 $rep"),
      (4L, ident), (5L, ident)))
    assert(got(1L) == ((s"$rep q1 q2", 10L)), s"got $got")
    assert(got(4L) == ((ident, 8L)))
    assert(got(5L) == (("", 0L)), "fully-excised doc stays present with empty text")
  }

  test("apply: winning spans are protected from other grams' excisions") {
    // gram A1..A8: winner (1,0), loser (2,1); gram X A1..A7: winner
    // (2,0), loser (3,0). Without protection, doc2's losing span
    // [1,9) would shred the WINNING occurrence of 'X A1..A7' and the
    // content would survive nowhere.
    val a = (1 to 8).map(i => s"A$i").mkString(" ")
    val a7 = (1 to 7).map(i => s"A$i").mkString(" ")
    val got = runApply(Seq(
      (1L, s"$a f1 f2"),
      (2L, s"X $a"),
      (3L, s"X $a7 Y")))
    assert(got(1L) == ((s"$a f1 f2", 10L)), s"got $got")
    assert(got(2L) == ((s"X $a7", 8L)),
      "the winning occurrence must survive intact")
    assert(got(3L) == (("Y", 1L)))
  }

  test("apply: retention bias — a loser buried under winning spans survives") {
    // doc2 = a1..a3 b1..b8 c1..c3: gram A (pos 0) and gram C (pos 6)
    // both WIN there, and their spans [0,8)∪[6,14) cover the whole
    // doc — so gram B's LOSING occurrence at pos 3 is protected and
    // B's text ends up in both doc1 (its winner) and doc2. The
    // documented retention-biased corner: never destroy, may retain.
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val doc2 = s"a1 a2 a3 $b c1 c2 c3"
    val got = runApply(Seq(
      (1L, b),                                    // B's winner
      (2L, doc2),                                 // A+C win, B loses
      (3L, "a1 a2 a3 b1 b2 b3 b4 b5"),            // A's loser
      (4L, "b4 b5 b6 b7 b8 c1 c2 c3")))           // C's loser
    assert(got(1L) == ((b, 8L)), s"got $got")
    assert(got(2L) == ((doc2, 14L)), "fully winner-covered doc survives whole")
    assert(got(3L) == (("", 0L)))
    assert(got(4L) == (("", 0L)))
  }

  test("apply: empty token array neither crashes nor emits rows of garbage") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("toks", ArrayType(StringType))))
    val df = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L, Seq.empty[String]),
        org.apache.spark.sql.Row(2L, Seq("a", "b"))), schema)
    val got = DedupPack.dupSpansApply(df)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("", 0L)))
    assert(got(2L) == (("a b", 2L)))
  }

  test("plan: the seed df count partial-aggregates before its exchange") {
    // the ≥2-occurrence seed selection must map-side combine on the
    // gram hash — a boilerplate gram's 10⁸ occurrences collapse to
    // one partial count per partition before the shuffle
    val df = DedupPack.queries("ds_dup_spans")(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val aggLines = plan.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("partial_count"))
      .toList
    assert(aggLines.nonEmpty,
      s"expected a partial_count HashAggregate below the gh exchange:\n$plan")
  }

  test("mega-component: one boilerplate sentence across every doc excises exactly (N-1) copies") {
    // the `Dev stress` dup_spans_*_mega probe's correctness half, exact
    // at small scale: 200 docs share ONE 16-token boilerplate tail,
    // natural tokens salted per-doc so the boiler grams are the only
    // seeds. Lowest (doc_id, pos) wins → doc 0 keeps its copy; every
    // other doc excises exactly the 16 boiler tokens (its 9 losing
    // 8-gram spans union to [off, off+16)), and no natural token is
    // touched — sum(n_kept) = sum(n_toks) − 16·(N−1).
    val n = 200
    val boiler = (1 to 16).map(i => s"boiler$i").mkString(" ")
    val docs = (0 until n).map { d =>
      val natural = (1 to 5 + d % 7).map(i => s"w${i}_$d").mkString(" ")
      (d.toLong, s"$natural $boiler")
    }
    val toks = docs.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val got = DedupPack.dupSpansApply(toks)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val totToks = docs.map(_._2.split(" ").length.toLong).sum
    assert(got.values.map(_._2).sum == totToks - 16L * (n - 1),
      "losers must excise exactly the boiler span, winners keep it")
    assert(got(0L)._1.endsWith(boiler), "global first occurrence survives intact")
    (1 until n).foreach { d =>
      assert(!got(d.toLong)._1.contains("boiler"),
        s"doc $d must excise the boilerplate")
      assert(got(d.toLong)._2 == 5 + d % 7, s"doc $d natural tokens intact")
    }
  }

  test("within-doc repetition is duplication too; short docs report 0") {
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val got = run(Seq(
      (1L, s"$rep m1 m2 $rep"), // same 8-gram at pos 0 and 10
      (2L, "t1 t2 t3")))         // shorter than one gram
    assert(got(1L) == ((18L, 16L)), s"got $got")
    assert(got(2L) == ((3L, 0L)))
  }
}
