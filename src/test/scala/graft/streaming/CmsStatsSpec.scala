package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** CmsStats: streaming count-min frequency sketches — batch folding
  * equals the direct sketch over all batches (cells add), the board
  * finds planted heavy hitters, restarts resume from the durable
  * envelope, and torn envelopes reset loudly. */
class CmsStatsSpec extends SparkSpec {

  import CmsStats.{CmsDepth, CmsWidth}

  private def frame(rows: Seq[String]): DataFrame = {
    import spark.implicits._
    rows.toDF("k")
  }

  private def perm(h: Long, i: Int): Long =
    graft.functions.Hashing.permutedJvm(h, i)

  /** Independent model: the full D×W matrix over a key multiset. */
  private def model(rows: Seq[String]): Array[Array[Long]] = {
    val m = Array.ofDim[Long](CmsDepth, CmsWidth)
    rows.foreach { k =>
      val h = CmsStats.h32Jvm(k)
      (0 until CmsDepth).foreach(i =>
        m(i)((perm(h, i) % CmsWidth).toInt) += 1)
    }
    m
  }

  // skewed stream: key "hot0".."hot2" dominate, a long tail behind
  private val batch1 =
    (0 until 900).map(i => s"hot${i % 3}") ++
      (0 until 300).map(i => s"tail$i")
  private val batch2 =
    (0 until 600).map(i => s"hot${i % 3}") ++
      (300 until 600).map(i => s"tail$i")

  test("folding batches equals the direct matrix over their union, " +
    "and estimates never undercount") {
    val st = new CmsStats()
    st.update(frame(batch1))
    st.update(frame(batch2))
    assert(st.snapshot.map(_.toSeq).toSeq ==
      model(batch1 ++ batch2).map(_.toSeq).toSeq)
    assert(st.total == (batch1.size + batch2.size).toLong)
    val exact = (batch1 ++ batch2).groupBy(identity)
      .map { case (k, xs) => k -> xs.size.toLong }
    exact.foreach { case (k, n) =>
      assert(st.estimate(k) >= n, s"$k undercounted")
    }
  }

  test("the heavy-hitter board surfaces the planted hot keys") {
    val st = new CmsStats()
    st.update(frame(batch1))
    st.update(frame(batch2))
    val board = st.heavyHitters
    assert(board.size <= st.HeavyK)
    val top = board.take(3).map(_._1).toSet
    assert(top == Set("hot0", "hot1", "hot2"),
      s"board top-3 $top missed the planted hot keys")
    // board estimates are CMS estimates of those keys, est-descending
    board.foreach { case (k, e) => assert(e == st.estimate(k)) }
    assert(board.map(_._2) == board.map(_._2).sorted.reverse)
  }

  test("the MG candidate pool surfaces a key frequent OVERALL but " +
    "never in any single batch's top ranks") {
    // 40 batches: 3 hot keys at 300 each (always the batch top), 32
    // ROTATING medium keys at 30 each (different keys every batch, so
    // each one's total stays 30 — they fill every batch's top ranks),
    // and ONE spread key at 25/batch, ranked ~36th in every batch yet
    // 4th overall (total 1000). A rank-based per-batch candidate pool
    // (the pre-MG design) structurally missed it; the threshold-based
    // MG fold must not: 25 > batchN/MgCap ≈ 8, so it is collected in
    // every batch and its summary count is exact.
    val st = new CmsStats()
    (0 until 40).foreach { b =>
      val batch =
        (0 until 900).map(i => s"hot${i % 3}") ++
          (0 until 32).flatMap(m => Seq.fill(30)(s"med${b}_$m")) ++
          Seq.fill(25)("spread")
      st.update(frame(batch))
    }
    assert(st.candidates.contains("spread"),
      "the MG summary must hold the cross-batch-thin key")
    // above-threshold every batch ⇒ collected exactly; the lower
    // bound gives back at most the accumulated MG error
    assert(st.candidates("spread") >= 25L * 40 - st.candidateErr &&
      st.candidates("spread") <= 25L * 40)
    val board = st.heavyHitters.map(_._1)
    assert(board.take(4).toSet == Set("hot0", "hot1", "hot2", "spread"),
      s"board top-4 ${board.take(4)} missed the spread key")
    // the declared MG bound: absent keys undercount by at most
    // candidateErr ≤ floors (≤ N/MgCap) + decrements (≤ N/MgCap)
    assert(st.candidateErr <= 2 * st.total / st.MgCap + 40,
      s"error bound ${st.candidateErr} exceeds the MG contract")
  }

  test("a restart resumes from the durable envelope") {
    val dir = java.nio.file.Files.createTempDirectory("cms").toString
    val p = s"$dir/stats.cms"
    val a = new CmsStats(Some(p))
    a.update(frame(batch1))
    val b = new CmsStats(Some(p)) // fresh process
    assert(b.snapshot.map(_.toSeq).toSeq == a.snapshot.map(_.toSeq).toSeq)
    assert(b.total == a.total)
    b.update(frame(batch2))
    assert(b.snapshot.map(_.toSeq).toSeq ==
      model(batch1 ++ batch2).map(_.toSeq).toSeq,
      "post-restart folding must continue the same matrix")
  }

  test("a crash between the publish renames recovers from the parked " +
    "artifact") {
    val dir = java.nio.file.Files.createTempDirectory("cms").toString
    val p = s"$dir/stats.cms"
    val a = new CmsStats(Some(p))
    a.update(frame(batch1))
    java.nio.file.Files.move(java.nio.file.Paths.get(p),
      java.nio.file.Paths.get(s"$dir/stats.cms.old"))
    val crcP = java.nio.file.Paths.get(s"$dir/.stats.cms.crc")
    if (java.nio.file.Files.exists(crcP))
      java.nio.file.Files.move(crcP,
        java.nio.file.Paths.get(s"$dir/.stats.cms.old.crc"))
    val r = new CmsStats(Some(p))
    assert(r.snapshot.map(_.toSeq).toSeq == a.snapshot.map(_.toSeq).toSeq,
      "recovery must read the parked previous artifact, not start empty")
  }

  test("torn envelopes reset loudly, never half-load") {
    val dir = java.nio.file.Files.createTempDirectory("cms").toString
    val p = s"$dir/stats.cms"
    val a = new CmsStats(Some(p))
    a.update(frame(batch1))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      bytes.take(bytes.length / 2))
    val t = new CmsStats(Some(p))
    assert(t.snapshot.flatten.forall(_ == 0L) && t.total == 0L)
    val warning = TornEnvelope.warningWithoutSidecar(p) {
      assert(new CmsStats(Some(p)).total == 0L)
    }
    assert(warning.contains("EOFException"), s"the warning must name the cause: $warning")
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      Array.fill[Byte](64)(7))
    val g = new CmsStats(Some(p))
    assert(g.snapshot.flatten.forall(_ == 0L))
  }
}
