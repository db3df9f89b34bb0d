package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** Bloom runtime filter for shuffle joins — the standard 100 TB move
  * for a semi/inner join whose filtering side is too LARGE to
  * broadcast as rows but whose KEY SET fits a sketch (10⁸ long keys
  * ≈ 800 MB of raw key rows — more with HashedRelation overhead —
  * vs ≈ 110 MB of bloom at 1% fpp; and the sketch needs no dedup
  * shuffle to build: `putLong` is idempotent, so partial sketches
  * merge associatively in one partial-aggregate pass).
  *
  * Shape: build the sketch over the filtering side's key (one
  * scan-stage aggregation, merged on the driver exactly like any agg
  * final step), probe it with the codegen'd
  * [[graft.plans.BloomMightContainLong]] INSIDE the big side's scan
  * stage, then run the exact join over the survivors. The probe
  * admits false positives only, so the join's result is untouched —
  * what changes is the exchange: at 1% fpp, ~99% of non-matching big
  * rows never leave their input partition, the same effect Spark's
  * own AQE runtime filters target, here as an explicit operator the
  * caller can size (`expectedKeys`/`fpp`) from known table stats.
  *
  * Spark's builtin alternative at THIS scale band — broadcast the
  * filtering side — stops at `autoBroadcastJoinThreshold` (default
  * 10 MB ≈ 10⁶ keys); the sketch carries 100× past it at the same
  * executor-memory budget.
  */
object RuntimeFilter {

  /** Keying-scheme version of sketches built by [[keySketch]]. v1
    * (retired) keyed raw `putLong` of cast-long key values; v2 keys
    * xxhash64 of the key. The schemes are silently incompatible: a
    * long-lived sketch persisted under v1 probes FALSE for every true
    * match under v2 probes — false negatives that drop rows before
    * the exact join with no error. Persist sketches through
    * [[saveSketch]]/[[loadSketch]], which stamp this version and
    * REJECT mismatches instead of relying on a scaladoc warning. */
  val KeyingVersion: Int = 2
  private val SketchMagic: Int = 0x47525346 // "GRSF"

  /** Build a sketch over `df`'s keys in THE keying this object's
    * probes use — xxhash64 of the key value. Callers supplying
    * prebuilt sketches to the overloads below (and folding later
    * batches in) MUST build them here: raw `putLong` of key values
    * does not match the probes and silently disables pruning (anti
    * form: duplicates pass; semi form: rows vanish).
    *
    * Empty input: a frame with no rows yields the EMPTY filter of the
    * same size — it probes false for every key and merges into any
    * sketch built here with the same `expectedKeys`/`fpp`. So an
    * empty history or batch needs no guard job before the sketch
    * (`stat.bloomFilter` instead reads the aggregate's null result and
    * throws). */
  def keySketch(df: DataFrame, key: Column, expectedKeys: Long,
                fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val (agg, empty) = GraftShim.bloomFilterAgg(xxhash64(key), expectedKeys,
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedKeys, fpp))
    Option(df.select(agg).head().getAs[Array[Byte]](0))
      .fold(empty())(org.apache.spark.util.sketch.BloomFilter.readFrom)
  }

  /** Persist a [[keySketch]]-built sketch in a versioned envelope
    * (magic + keying version + the filter's own serialization). */
  def saveSketch(bf: org.apache.spark.util.sketch.BloomFilter,
                 out: java.io.OutputStream): Unit = {
    val d = new java.io.DataOutputStream(out)
    d.writeInt(SketchMagic)
    d.writeInt(KeyingVersion)
    bf.writeTo(d)
    d.flush()
  }

  /** Load a sketch persisted by [[saveSketch]]; rejects bytes without
    * the envelope or keyed under a different scheme — a stale-scheme
    * sketch would prune true matches silently. */
  def loadSketch(in: java.io.InputStream): org.apache.spark.util.sketch.BloomFilter = {
    val d = new java.io.DataInputStream(in)
    val magic = d.readInt()
    require(magic == SketchMagic,
      f"not a graft sketch envelope (magic 0x$magic%08x) — raw " +
        "BloomFilter bytes carry no keying version; persist via saveSketch")
    val v = d.readInt()
    require(v == KeyingVersion,
      s"sketch keyed under scheme v$v but probes expect v$KeyingVersion " +
        "— rebuild it with keySketch (a mismatched sketch prunes true " +
        "matches with no error)")
    org.apache.spark.util.sketch.BloomFilter.readFrom(d)
  }

  /** `big` semi-joined to `small`, with the shuffle pre-pruned by a
    * bloom sketch of `small`'s keys. Result is row-identical to the
    * plain semi join (the sketch only prunes). Sketches are keyed by
    * xxhash64 of the key — NOT a long cast: casting a string key
    * yields NULL, which builds an empty sketch and probes
    * definitely-absent for every row (fail-open: no pruning damage
    * here, but the anti-join twin below would let duplicates
    * through). xxhash64 covers every key type; hash collisions only
    * cost fpp because the exact join decides on the TRUE key.
    */
  def bloomPrunedSemiJoin(big: DataFrame, bigKey: Column,
                          small: DataFrame, smallKey: Column,
                          expectedKeys: Long, fpp: Double = 0.01): DataFrame =
    // no distinct() on the build side: semi-join semantics already
    // ignore build duplicates, and a dedup pass over 10⁸ keys is a
    // full extra aggregation for zero semantic effect
    bloomPrunedSemiJoin(big, bigKey, small, smallKey,
      keySketch(small, smallKey, expectedKeys, fpp))

  /** As above with a caller-supplied sketch — the amortized form the
    * scaladoc describes: build (or load) the filter once, reuse it
    * across joins/batches instead of re-scanning `small` per call.
    * The sketch must cover xxhash64 of `small`'s keys; missing keys
    * would prune true matches (false negatives break the
    * row-identical contract), extra keys only cost fpp. */
  def bloomPrunedSemiJoin(big: DataFrame, bigKey: Column,
                          small: DataFrame, smallKey: Column,
                          bf: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    require(!big.columns.contains("__rf_key"),
      "big side already has a __rf_key column — rename it first")
    big.filter(graft.plans.BloomMightContainLong.probe(xxhash64(bigKey), bf))
      .join(small.select(smallKey.as("__rf_key")),
        bigKey === col("__rf_key"), "left_semi")
  }

  /** The ANTI dual — incremental dedup of a new `batch` against a
    * `history` too large to anti-join wholesale. Bloom has NO false
    * negatives, so a key the sketch rejects is DEFINITELY unseen and
    * passes with zero history I/O; only the ~fpp "maybe seen" sliver
    * takes the exact anti-join. Result is row-identical to the plain
    * left_anti; what changes is that the history-side exchange
    * carries `|batch|·fpp` probes instead of `|batch|`, and at
    * 100 TB the history stays on disk for all but the sliver (the
    * sketch itself persists across batches in production — rebuild
    * cost is one scan-stage aggregation, amortized by appending new
    * keys batch-over-batch).
    */
  def bloomPrunedAntiJoin(batch: DataFrame, batchKey: Column,
                          history: DataFrame, histKey: Column,
                          expectedKeys: Long, fpp: Double = 0.01): DataFrame =
    bloomPrunedAntiJoin(batch, batchKey, history, histKey,
      keySketch(history, histKey, expectedKeys, fpp))

  /** As above with a caller-supplied sketch — the persistent form the
    * scaladoc describes: keep one filter across batches, `putLong`
    * each batch's keys into it after merging, and skip the per-batch
    * history scan entirely. The sketch must cover xxhash64 of EVERY
    * history key — a missing key is a false negative and lets a
    * duplicate through; staleness in the other direction (keys of
    * since-deleted rows) only costs fpp. */
  def bloomPrunedAntiJoin(batch: DataFrame, batchKey: Column,
                          history: DataFrame, histKey: Column,
                          bf: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    require(!batch.columns.contains("__rf_key"),
      "batch side already has a __rf_key column — rename it first")
    // null-key rows: xxhash64(null) is the seed (a real long), so
    // they probe to a real boolean; if maybe-seen they reach the
    // exact join, where a null key matches no history row and the
    // left_anti keeps them — the row-identical contract holds. The
    // coalesce stays as a belt for exotic probe nulls.
    val probe = coalesce(
      graft.plans.BloomMightContainLong.probe(xxhash64(batchKey), bf),
      lit(false))
    val hist = history.select(histKey.as("__rf_key"))
    batch.filter(!probe)
      .unionByName(batch.filter(probe)
        .join(hist, batchKey === col("__rf_key"), "left_anti"))
  }
}
