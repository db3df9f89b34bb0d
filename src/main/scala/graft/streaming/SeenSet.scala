package graft.streaming

import graft.operators.RuntimeFilter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The reference's cross-poll seen-set (bitcoinabuse/main.go:43-45 —
  * an in-process map consulted before every insert) at warehouse
  * scale: ONE bloom sketch threaded across micro-batches, so batch
  * N+1 dedups against all accumulated history WITHOUT re-scanning it.
  *
  * Protocol per batch: [[filterNew]] splits the batch by a sketch
  * probe — definitely-unseen rows (bloom has no false negatives)
  * pass with zero history I/O; the ~fpp "maybe seen" sliver takes
  * the exact anti-join, and when the sliver is EMPTY (the common
  * case for a cursor-paginated feed, whose keys are fresh) the
  * history side is not touched at all. After the sink lands the
  * batch, [[commit]] folds the fresh keys into the sketch as a
  * distributed partial-sketch aggregation (`putLong` is idempotent
  * and sketch merge is associative — no driver-side row collect).
  *
  * The history scan therefore happens ONCE, when the first batch
  * builds the sketch — and with `persistPath` set, once per
  * DEPLOYMENT lifetime, not per process: [[commit]] writes the
  * sketch (versioned envelope, [[RuntimeFilter.saveSketch]]) beside
  * the checkpoint after folding each batch, and a fresh process
  * loads it on construction instead of re-scanning history. The
  * write is atomic (tmp + rename), so a crash mid-save leaves the
  * previous sketch intact; a sketch missing keys of batches
  * committed after its last save is NOT possible because the save
  * happens inside the same `commit` call that folds them. A sketch
  * persisted under a retired keying scheme or with a torn envelope
  * is rejected at load with a loud warning and the one-scan rebuild
  * runs instead — a stale-scheme sketch must never probe (it would
  * flag every true duplicate as unseen), and a rebuild is always
  * semantically identical, just one history scan more expensive.
  *
  * Exactness contract: `history` must cover every key ever
  * [[commit]]ted (i.e. read the store the sink writes), otherwise a
  * sliver row could pass the exact check while the sketch rightly
  * flagged it. Result is then row-identical to anti-joining each
  * batch against the full store.
  *
  * `expectedKeys` sizes EVERY sketch built here (the history build
  * and each batch's partial) — sketches must be bit-compatible to
  * merge, so one size is used throughout; size it for the store's
  * eventual key count, not the first batch's.
  */
final class BloomSeenSet(key: String, expectedKeys: Long,
                         fpp: Double = 0.01,
                         persistPath: Option[String] = None) {

  private var bf: Option[BloomFilter] = persistPath.flatMap { p =>
    val (fs, path) = SinkFs.fs(p)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(RuntimeFilter.loadSketch(in))
      catch {
        case e: Exception =>
          // fail-loud but recoverable: probing a stale-scheme or torn
          // sketch would flag true duplicates as unseen; the rebuild
          // is identical semantics at one-history-scan cost
          System.err.println(
            s"BloomSeenSet: rejecting persisted sketch at $p " +
              s"($e); rebuilding from history")
          None
      } finally in.close()
    }
  }

  /** The batch's rows whose `key` is not in history nor in any
    * committed batch. `history` is by-name: not evaluated at all
    * once the sketch exists and the sliver is empty. */
  def filterNew(batch: DataFrame, history: => DataFrame): DataFrame = {
    val k = col(key)
    val sketch = bf.getOrElse {
      // xxhash64, never cast("long"): casting a STRING key yields
      // NULL, which builds an empty sketch and probes definitely-new
      // for every row — the dedup silently fails open and duplicates
      // flow to the sink on every poll
      val s = RuntimeFilter.keySketch(history, k, expectedKeys, fpp)
      bf = Some(s)
      s
    }
    val probe = coalesce(
      graft.plans.BloomMightContainLong.probe(xxhash64(k), sketch),
      lit(false))
    // sliver-empty fast path: checking costs one scan of the BATCH
    // (small); skipping the join saves a scan of the HISTORY (huge)
    if (batch.filter(probe).isEmpty) batch.filter(!probe)
    else RuntimeFilter.bloomPrunedAntiJoin(batch, k, history, k, sketch)
  }

  /** Fold a landed batch's keys into the sketch, then persist it when
    * `persistPath` is set. Call AFTER the sink accepted the rows —
    * committing first would make a crashed batch replay as "seen"
    * against a store that never got it. The save sits INSIDE commit
    * so the durable sketch can never lag the committed key set. */
  def commit(fresh: DataFrame): Unit = {
    val add = RuntimeFilter.keySketch(fresh, col(key), expectedKeys, fpp)
    val s = bf.fold(add) { b => b.mergeInPlace(add); b }
    bf = Some(s)
    persistPath.foreach(save(s, _))
  }

  /** Atomic envelope write: tmp + rename, so a crash mid-save leaves
    * the previous durable sketch intact. */
  private def save(s: BloomFilter, p: String): Unit = {
    val (fs, path) = SinkFs.fs(p)
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try RuntimeFilter.saveSketch(s, out) finally out.close()
    // rename-over requires deleting the target first on RawLocalFS
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"could not publish sketch at $p")
  }
}
