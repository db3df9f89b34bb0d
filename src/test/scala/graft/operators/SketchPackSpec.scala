package graft.operators

import graft.SparkSpec
import graft.streaming.CmsStats

/** Pins the mergeable-sketch family against an independent
  * plain-Scala reimplementation (JDK MessageDigest md5, scala
  * collections): KMV per-source sketches and estimates, the
  * mergeability law (min-K of a union == min-K over unioned per-key
  * min-K sets), the KMV error bound on the estimating branch, and
  * the MinHash signature overlap matrix vs exact set Jaccard.
  */
class SketchPackSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  private def h32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)

  private def perm(h: Long, i: Int): Long =
    (h * (2L * i + 1) + (7919L * i + 1)) % graft.functions.Hashing.MinhashPrime

  /** Independent model of SketchPack.items. */
  private lazy val items: Set[(String, Long)] =
    graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source").collect()
      .map { r =>
        val (id, text, src) = (r.getLong(0), r.getString(1), r.getString(2))
        val item =
          if (id % 3 == 0) "shared#" + (h32(text) % 12) else text
        (src, h32(item))
      }.toSet

  private def kmv(hs: Set[Long]): (Long, Long, Long) = {
    val kept = hs.toSeq.sorted.take(SketchPack.K)
    val kth = kept.max
    val n = kept.size.toLong
    val est = if (n < SketchPack.K) n else SketchPack.EstNum / kth
    (kth, n, est)
  }

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  test("q_kmv_distinct matches the independent KMV model per source") {
    val bySrc = items.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(_._2)
    }
    val want = bySrc.map { case (s, hs) =>
      val (kth, n, est) = kmv(hs)
      (s, hs.size.toLong, n, kth, est)
    }.toSet
    val got = run("q_kmv_distinct").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want)
  }

  test("KMV mergeability: union of per-source sketches == direct sketch") {
    val bySrc = items.groupBy(_._1).map(_._2.map(_._2))
    val mergedKeep = bySrc.flatMap(
      _.toSeq.sorted.take(SketchPack.K)).toSet
    val all = items.map(_._2)
    assert(kmv(mergedKeep) == kmv(all),
      "min-K over unioned per-key min-K sets must equal the direct min-K")
    val row = run("q_kmv_union").collect().head
    assert(row.getBoolean(5), "merged_eq_direct must hold in-query")
    val (exact, est) = (row.getLong(0), row.getLong(3))
    assert(exact > SketchPack.K, "corpus must exercise the estimator branch")
    assert(math.abs(est - exact).toDouble / exact < 0.4,
      s"KMV estimate $est too far from exact $exact (bound ~3/sqrt(K))")
  }

  test("ds_source_overlap matches exact set Jaccard per pair") {
    val bySrc = items.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val srcs = bySrc.keys.toSeq.sorted
    def dr4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val want = (for {
      a <- srcs; b <- srcs if a < b
      common = (bySrc(a) intersect bySrc(b)).size
      if common > 0
    } yield (a, b, common.toLong,
      dr4(common.toDouble / (bySrc(a).size + bySrc(b).size - common)))).toSet
    val got = run("ds_source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == want)
    assert(want.nonEmpty, "planted shared items produce no overlap")
  }

  test("ds_source_minhash matches the independent signature model") {
    val bySrc = items.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val srcs = bySrc.keys.toSeq.sorted
    val np = graft.functions.Hashing.NumPerms
    val sig = bySrc.map { case (s, hs) =>
      s -> (0 until np).map(i => hs.map(perm(_, i)).min)
    }
    def dr4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val want = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val agree = (0 until np).count(i => sig(a)(i) == sig(b)(i)).toLong
      val common = (bySrc(a) intersect bySrc(b)).size
      (a, b, agree, dr4(agree.toDouble / np),
        dr4(common.toDouble /
          (bySrc(a).size + bySrc(b).size - common)))
    }).toSet
    val got = run("ds_source_minhash").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == want)
    assert(want.size == srcs.size * (srcs.size - 1) / 2,
      "every source pair must appear in the signature matrix")
  }

  // ---- count-min sketch ----

  /** Independent CMS model over a (user_id → freq) map. */
  private def cmsModel(freq: Map[Long, Long])
      : (Map[(Int, Long), Long], Long => Long) = {
    val cells = freq.toSeq.flatMap { case (uid, n) =>
      val h = h32(uid.toString)
      (0 until CmsStats.CmsDepth).map(i =>
        ((i, perm(h, i) % CmsStats.CmsWidth), n))
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val est = (uid: Long) => {
      val h = h32(uid.toString)
      (0 until CmsStats.CmsDepth)
        .map(i => cells((i, perm(h, i) % CmsStats.CmsWidth))).min
    }
    (cells, est)
  }

  test("q_cms_freq matches the independent CMS model on the fixture") {
    val freq = graft.Tables.events(spark, sfDir)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (cells, est) = cmsModel(freq)
    val sketch = SketchPack.cmsSketch(
        graft.Tables.events(spark, sfDir).select("user_id"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(sketch == cells, "sketch cells must match the model")
    val probes = freq.toSeq.sortBy { case (u, n) => (-n, u) }
      .take(SketchPack.CmsProbes)
    val got = run("q_cms_freq").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    assert(got.keySet == probes.map(_._1).toSet)
    probes.foreach { case (u, n) =>
      assert(got(u) == ((n, est(u), true)),
        s"probe $u: exact=$n model-est=${est(u)} got=${got(u)}")
    }
  }

  test("CMS collision regime: never_under holds for EVERY key, and " +
    "collisions force est > exact somewhere") {
    import spark.implicits._
    // 3,000 distinct keys into 512 columns: collisions guaranteed in
    // every row, so min-over-rows must overcount SOME key while never
    // undercounting ANY (the one-sided CMS contract).
    val ev = (0L until 6000L).map(i => i % 3000L).toDF("user_id")
    val freq = (0L until 3000L).map(_ -> 2L).toMap
    val (cells, est) = cmsModel(freq)
    val sketch = SketchPack.cmsSketch(ev).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(sketch == cells)
    assert(sketch.size <= CmsStats.CmsDepth * CmsStats.CmsWidth,
      "cell inventory must be bounded by D*W at any key count")
    val ests = freq.keys.map(est)
    assert(ests.forall(_ >= 2L), "CMS must never undercount")
    assert(ests.exists(_ > 2L),
      "3000 keys in 512 columns must collide somewhere")
  }

  test("q_cms_merge pins the cellwise-sum mergeability law") {
    val row = run("q_cms_merge").collect().head
    assert(row.getBoolean(3), "merged_eq_direct must hold")
    assert(row.getBoolean(4), "total mass must be preserved")
    val nEvents = graft.Tables.events(spark, sfDir).count()
    assert(row.getLong(1) == CmsStats.CmsDepth * nEvents,
      "sketch mass must be D rows per event")
  }
}
