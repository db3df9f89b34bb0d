package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus statistics via KMV distinct-count sketches — the
  * continuous form of `q_kmv_distinct`/`q_kmv_union`
  * ([[graft.operators.SketchPack]]): per-key distinct estimates
  * maintained across micro-batches with NO history rescans, ever.
  *
  * KMV (K minimum values, Beyer et al. SIGMOD'07) is a mergeable
  * synopsis: the min-K set of a union is the min-K over the unioned
  * per-part min-K sets. So each batch contributes one bounded-heap
  * aggregation ([[graft.plans.TopKPerKey]] — ≤ K rows per key per
  * partition cross the exchange), and the driver folds those ≤
  * |keys|·K sketch rows into running per-key min-K sets. Driver
  * state is artifact-sized (K longs per key — the vocab-bounded
  * collect convention), never row-scaled.
  *
  * Durability: with `persistPath` set, the state is saved inside
  * every [[update]] in a versioned envelope (magic + version + k)
  * via a park-then-publish rename protocol (tmp in, previous
  * artifact parked as `.old` until the publish lands) so NO crash
  * point loses accumulated state — a crash between the renames
  * recovers from `.old` with a loud warning; a fresh process loads
  * on construction and continues counting. A torn
  * or scheme-mismatched envelope (including a different k — sketches
  * of different widths must not merge) is rejected with a loud
  * warning and the state starts empty: estimates then cover only
  * post-reset batches, which is detectable (and repairable by one
  * history replay), whereas silently merging mismatched sketches
  * would report wrong counts forever.
  *
  * The reference keeps per-poll counters in process memory
  * (bitcoinabuse/main.go:150-166); this is that idea at corpus
  * scale: statistics that survive restarts and never reread history.
  */
final class KmvStats(k: Int = 64, persistPath: Option[String] = None) {
  require(k >= 2, "KMV needs k >= 2 (the estimator uses the k-th min)")

  private var state: Map[String, Vector[Long]] =
    persistPath.flatMap(load).getOrElse(Map.empty)

  /** Fold one batch's items into the sketch. `items` must expose
    * `keyCol` (string) and `hashCol` (long, uniform over [0, 2³²) —
    * [[graft.functions.Hashing.h32]]). The distinct + bounded-heap
    * agg runs distributed; only sketch rows reach the driver. */
  def update(items: DataFrame, keyCol: String = "source",
             hashCol: String = "ih"): Unit = {
    val it = items.select(col(keyCol).as("k"), col(hashCol).as("h"))
      .distinct()
    val kept = graft.plans.TopKPerKey.topKPerKey(
        it, Seq(col("k")), Seq(col("h").asc), k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val batch = kept.groupBy(_._1).map { case (key, xs) =>
      key -> xs.map(_._2).toVector
    }
    state = (state.keySet ++ batch.keySet).map { key =>
      key -> mergeK(state.getOrElse(key, Vector.empty),
        batch.getOrElse(key, Vector.empty))
    }.toMap
    persistPath.foreach(save)
  }

  private def mergeK(a: Vector[Long], b: Vector[Long]): Vector[Long] =
    (a ++ b).distinct.sorted.take(k)

  private def est(mins: Vector[Long]): Long =
    if (mins.size < k) mins.size.toLong
    else (k - 1).toLong * 4294967296L / mins.max

  /** Per-key distinct estimates (exact below k). */
  def estimates: Map[String, Long] = state.map { case (key, m) =>
    key -> est(m)
  }

  /** Distinct estimate across ALL keys — computed by merging the
    * per-key sketches (the mergeability law), never by rescanning. */
  def corpusEstimate: Long =
    est(mergeK(state.values.flatten.toVector, Vector.empty))

  /** The raw per-key min-K sets (for specs and export). */
  def snapshot: Map[String, Vector[Long]] = state

  // ---- durable envelope ----------------------------------------
  // (constants live on the companion: `state` initializes via load()
  // DURING construction, before any instance-val constants would be
  // assigned — an instance Magic would read as 0 inside load)
  import KmvStats.{Magic, Version}

  private def bak(path: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(path.getParent, s"${path.getName}.old")

  /** Publish protocol without a no-state window (unlike BloomSeenSet,
    * whose sketch rebuilds from history, this state is NOT derivable
    * — losing it silently would undercount forever): write tmp →
    * park the current artifact as .old → rename tmp in → drop .old.
    * A crash between the two renames leaves .old, which [[load]]
    * falls back to with a warning (it lags by exactly the batch being
    * saved, and the NEXT update's save republishes the full state). */
  private def save(p: String): Unit = {
    val (fs, path) = SinkFs.fs(p)
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try {
      val d = new java.io.DataOutputStream(out)
      d.writeInt(Magic); d.writeInt(Version); d.writeInt(k)
      d.writeInt(state.size)
      state.toSeq.sortBy(_._1).foreach { case (key, mins) =>
        d.writeUTF(key)
        d.writeInt(mins.size)
        mins.foreach(d.writeLong)
      }
      d.flush()
    } finally out.close()
    val old = bak(path)
    if (fs.exists(path)) {
      if (fs.exists(old)) fs.delete(old, false)
      if (!fs.rename(path, old))
        throw new java.io.IOException(s"could not park KMV state at $old")
    }
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"could not publish KMV state at $p")
    if (fs.exists(old)) fs.delete(old, false)
  }

  private def load(p: String): Option[Map[String, Vector[Long]]] = {
    val (fs, path0) = SinkFs.fs(p)
    // crash-between-renames fallback: the parked previous artifact
    val path =
      if (fs.exists(path0)) path0
      else if (fs.exists(bak(path0))) {
        System.err.println(
          s"KmvStats: primary state missing at $p, recovering from " +
            s"${bak(path0)} (lags by the batch whose save crashed)")
        bak(path0)
      } else path0
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        val d = new java.io.DataInputStream(in)
        val magic = d.readInt()
        require(magic == Magic,
          f"not a KMV envelope (magic 0x$magic%08x)")
        val v = d.readInt()
        require(v == Version, s"KMV envelope v$v, expected v$Version")
        val fileK = d.readInt()
        require(fileK == k,
          s"KMV state persisted with k=$fileK but this instance uses " +
            s"k=$k — different-width sketches must not merge")
        val n = d.readInt()
        Some((0 until n).map { _ =>
          val key = d.readUTF()
          val m = d.readInt()
          key -> Vector.fill(m)(d.readLong())
        }.toMap)
      } catch {
        case e: Exception =>
          System.err.println(
            s"KmvStats: rejecting persisted state at $p " +
              s"($e); starting empty — estimates cover " +
              "only post-reset batches until a history replay")
          None
      } finally in.close()
    }
  }
}

object KmvStats {
  private val Magic = 0x4B4D5631 // "KMV1"
  private val Version = 1
}
