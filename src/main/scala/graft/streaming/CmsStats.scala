package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming frequency statistics via a count-min sketch — the
  * continuous form of `q_cms_freq`/`q_cms_merge`
  * ([[graft.operators.SketchPack]]): per-key frequency estimates and
  * a heavy-hitter board maintained across micro-batches with NO
  * history rescans, ever. The [[KmvStats]] twin on the frequency
  * side (KMV answers "how many distinct", CMS answers "how often").
  *
  * Per batch, ONE distributed map-side-combined aggregation reduces
  * the batch to ≤ D·W cell rows (the CMS is mergeable: cells add),
  * plus one bounded-heap top-N of the batch's own key counts
  * ([[graft.plans.TopKPerKey]]) to refresh the heavy-hitter
  * CANDIDATE pool. Driver state is D·W longs + ≤ HeavyK tracked keys
  * — artifact-sized, never row-scaled.
  *
  * Declared contract for the heavy-hitter board: estimates are CMS
  * estimates (never under the true count, may overestimate by the
  * usual εN); the CANDIDATE pool is a MERGEABLE Misra-Gries-style
  * summary folded across batches — per batch, the exact distributed
  * key counts are thresholded at batchN/[[MgCap]] (at most MgCap keys
  * can exceed that, so the collect is bounded BY CONSTRUCTION, never
  * rank-based), added keywise into the [[MgCap]]-slot driver summary,
  * and the per-batch threshold accumulates into [[candidateErr]] —
  * the standard MG undercount bound. Any key whose true total exceeds
  * the accumulated bound (≈ N/MgCap, ~0.4% of the stream at cap 256)
  * is GUARANTEED a summary slot, even if it never ranks in any single
  * batch's top-N — the cross-batch-thin-key case a rank-based pool
  * structurally misses (CmsStatsSpec plants exactly that key). The
  * SKETCH itself has no caveat at all: `estimate(key)` is
  * correct-per-CMS for EVERY key.
  *
  * Durability: same park-then-publish envelope protocol as
  * [[KmvStats]] (tmp in → park previous as .old → publish → drop
  * .old), with shape (depth/width) stamped in the envelope and
  * REJECTED on mismatch — different-shape counter matrices must not
  * add. A torn envelope resets loudly to empty.
  */
final class CmsStats(persistPath: Option[String] = None) {
  import CmsStats._

  /** Tracked heavy-hitter keys on the published board. */
  val HeavyK = 20

  /** Candidate-summary capacity: per batch at most MgCap keys can
    * exceed the batchN/MgCap collection threshold, so the driver
    * collect AND the summary state are both ≤ MgCap by construction.
    * Sized well above HeavyK so pruning pressure stays away from the
    * board. */
  val MgCap = 256

  private var counters: Array[Array[Long]] =
    Array.ofDim[Long](CmsDepth, CmsWidth)
  private var totalN: Long = 0L
  private var summary: Map[String, Long] = Map.empty // key -> lower-bound count
  private var summaryErr: Long = 0L // max undercount for any absent key
  private var tracked: Map[String, Long] = Map.empty // key -> last est

  persistPath.flatMap(load).foreach { case (c, t, sm, se, tr) =>
    counters = c; totalN = t; summary = sm; summaryErr = se; tracked = tr
  }

  /** Fold one batch. `items` must expose `keyCol` as a string column;
    * hashing is [[graft.functions.Hashing.h32]] (md5), identical to
    * the JVM-side [[h32Jvm]] used for point estimates. */
  def update(items: DataFrame, keyCol: String = "k"): Unit = {
    val keyed = items.select(col(keyCol).cast("string").as("k"))
    val h = graft.functions.Hashing.h32(col("k"))
    val cellArr = array((0 until CmsDepth).map(i =>
      (graft.functions.Hashing.permuted(h, i) % CmsWidth)
        .cast("long")): _*)
    // ONE distributed pass: per-key exact counts feed both the CMS
    // cell fold and the thresholded candidate collect
    val keyCounts = keyed.groupBy("k").agg(count(lit(1)).as("n"))
      .persist()
    try {
      val cells = keyCounts
        .select(posexplode(cellArr).as(Seq("r", "c")), col("n"))
        .groupBy("r", "c").agg(sum(col("n")).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      var mass = 0L
      cells.foreach { case (r, c, n) =>
        counters(r)(c.toInt) += n
        mass += n
      }
      val batchN = mass / CmsDepth
      totalN += batchN
      // MG-style candidate fold: keys with batch count > batchN/MgCap
      // (≤ MgCap of them can exist) merge keywise into the summary;
      // every uncollected key undercounts by ≤ the threshold, which
      // accumulates into the absent-key bound
      val floorB = batchN / MgCap
      val cand = keyCounts.filter(col("n") > floorB)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      summaryErr += floorB
      val merged = cand.foldLeft(summary) { case (m, (k, n)) =>
        m.updated(k, m.getOrElse(k, 0L) + n)
      }
      summary =
        if (merged.size <= MgCap) merged
        else {
          // the CLASSIC Misra-Gries decrement: subtract the
          // (MgCap+1)-th largest count θ from every entry and drop
          // the non-positive ones. Each decrement removes ≥
          // (MgCap+1)·θ summary mass while total inserted mass ≤ N,
          // so Σθ ≤ N/(MgCap+1) — the published MG bound; θ
          // accumulates into the undercount error alongside the
          // collection floors (total err ≤ 2N/MgCap)
          val sorted = merged.toSeq.sortBy { case (k, n) => (-n, k) }
          val theta = sorted(MgCap)._2
          summaryErr += theta
          sorted.iterator.map { case (k, n) => k -> (n - theta) }
            .filter(_._2 > 0).take(MgCap).toMap
        }
    } finally keyCounts.unpersist(blocking = false)
    // the board ranks the summary's candidates by their CMS estimate
    // (≥ true count ≥ the summary's lower bound)
    tracked = summary.keysIterator
      .map(k => k -> estimate(k)).toSeq
      .sortBy { case (k, e) => (-e, k) }
      .take(HeavyK).toMap
    persistPath.foreach(save)
  }

  /** The candidate summary (key → lower-bound count) and its
    * absent-key undercount bound — the mergeable-summaries surface
    * the spec pins. */
  def candidates: Map[String, Long] = summary
  def candidateErr: Long = summaryErr

  /** CMS point estimate (min over rows) — valid for ANY key. Cell
    * addressing goes through [[graft.functions.Hashing.permutedJvm]],
    * the JVM authority shared with the Column-side fold in [[update]]
    * — the permutation constants cannot drift apart. */
  def estimate(key: String): Long = {
    val h = h32Jvm(key)
    (0 until CmsDepth).map { i =>
      counters(i)((graft.functions.Hashing.permutedJvm(h, i) % CmsWidth).toInt)
    }.min
  }

  /** Total items folded (exact — the εN bound's N). */
  def total: Long = totalN

  /** The heavy-hitter board: ≤ HeavyK (key, estimate), est-descending. */
  def heavyHitters: Seq[(String, Long)] =
    tracked.toSeq.sortBy { case (k, e) => (-e, k) }

  /** Raw counter matrix (for specs and export). */
  def snapshot: Array[Array[Long]] = counters.map(_.clone())

  // ---- durable envelope (the KmvStats protocol) ------------------

  private def bak(path: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(path.getParent, s"${path.getName}.old")

  private def save(p: String): Unit = {
    val (fs, path) = SinkFs.fs(p)
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try {
      val d = new java.io.DataOutputStream(out)
      d.writeInt(Magic); d.writeInt(Version)
      d.writeInt(CmsDepth); d.writeInt(CmsWidth)
      d.writeLong(totalN)
      counters.foreach(_.foreach(d.writeLong))
      d.writeInt(summary.size)
      summary.toSeq.sortBy(_._1).foreach { case (k, n) =>
        d.writeUTF(k); d.writeLong(n)
      }
      d.writeLong(summaryErr)
      d.writeInt(tracked.size)
      tracked.toSeq.sortBy(_._1).foreach { case (k, e) =>
        d.writeUTF(k); d.writeLong(e)
      }
      d.flush()
    } finally out.close()
    val old = bak(path)
    if (fs.exists(path)) {
      if (fs.exists(old)) fs.delete(old, false)
      if (!fs.rename(path, old))
        throw new java.io.IOException(s"could not park CMS state at $old")
    }
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"could not publish CMS state at $p")
    if (fs.exists(old)) fs.delete(old, false)
  }

  private def load(p: String)
      : Option[(Array[Array[Long]], Long, Map[String, Long], Long,
                Map[String, Long])] = {
    val (fs, path0) = SinkFs.fs(p)
    val path =
      if (fs.exists(path0)) path0
      else if (fs.exists(bak(path0))) {
        System.err.println(
          s"CmsStats: primary state missing at $p, recovering from " +
            s"${bak(path0)} (lags by the batch whose save crashed)")
        bak(path0)
      } else path0
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        val d = new java.io.DataInputStream(in)
        val magic = d.readInt()
        require(magic == Magic, f"not a CMS envelope (magic 0x$magic%08x)")
        val v = d.readInt()
        require(v == Version, s"CMS envelope v$v, expected v$Version")
        val (fd, fw) = (d.readInt(), d.readInt())
        require(fd == CmsDepth && fw == CmsWidth,
          s"CMS state persisted with ${fd}x$fw but this build uses " +
            s"${CmsDepth}x$CmsWidth — different-shape matrices must not add")
        val t = d.readLong()
        val c = Array.fill(CmsDepth)(Array.fill(CmsWidth)(d.readLong()))
        val ns = d.readInt()
        val sm = (0 until ns).map { _ =>
          val k = d.readUTF(); k -> d.readLong()
        }.toMap
        val se = d.readLong()
        val n = d.readInt()
        val tr = (0 until n).map { _ =>
          val k = d.readUTF(); k -> d.readLong()
        }.toMap
        Some((c, t, sm, se, tr))
      } catch {
        case e: Exception =>
          System.err.println(
            s"CmsStats: rejecting persisted state at $p " +
              s"($e); starting empty — estimates cover " +
              "only post-reset batches until a history replay")
          None
      } finally in.close()
    }
  }
}

object CmsStats {
  /** Count-min sketch shape (Cormode & Muthukrishnan, J. Algorithms
    * 2005): [[CmsDepth]] independent hash rows × [[CmsWidth]] counters,
    * shared with the batch queries `q_cms_freq` and `q_cms_merge`
    * ([[graft.operators.SketchPack]]).
    * W=512 puts the sf0.1 key inventory (1,500 user ids) well past the
    * collision point so the min-over-rows estimator is genuinely
    * exercised, while sf0.001's 15 keys land collision-free — both
    * regimes oracled. Every counter is an integer event count, so the
    * ESTIMATES replay bit-identically in DuckDB (the KMV argument). */
  val CmsDepth = 4
  val CmsWidth = 512

  private val Magic = 0x434D5331 // "CMS1"
  private val Version = 2 // v2: MG candidate summary in the envelope

  /** JVM twin of [[graft.functions.Hashing.h32]] (md5 prefix32). */
  def h32Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"$b%02x").mkString, 16)
  }
}
