package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the
  * TRAINING half of the IVF index ([[graft.functions.Similarity]]'s
  * scaladoc: "in production these would be k-means centroids
  * broadcast from a training job"; this is that job).
  *
  * Scale shape (the MLlib-KMeans pattern): each iteration is ONE full
  * scan — assignment is a literal-centroid argmax evaluated inside the
  * scan stage (k·d floats live in the plan, no join) — plus one tiny
  * shuffle of ≤ k·d partial-sum rows per input partition
  * (`groupBy(cluster, pos)` with map-side combine). The k·d result
  * (8×64 here) is collected and folded into the next iteration's
  * literals: centroids ride the PLAN, vectors never leave their
  * partitions. At 100 TB that is t scans + t negligible shuffles —
  * there is no cheaper exact-Lloyd plan.
  *
  * The per-row distance is NOT a `zip_with`+`aggregate` fold —
  * interpreted higher-order lambdas cost ~20× here (measured by the
  * `Dev stress` kmeans probe). Instead, argmin ‖v−c‖² = argmax
  * (2·v·c − ‖c‖²) with v·c through the codegen'd
  * [[graft.plans.FloatDot]] — the ivfAssign plan shape — and the
  * reported distance recovered as ‖v‖² − bestScore.
  *
  * Cross-engine determinism (what makes the oracle hash-exact):
  * embeddings are quantized to integers (`floor(x·1000 + 0.5)`, the
  * [[graft.Det]] primitive, exact in float), so per-cluster sums are
  * ORDER-FREE exact longs — no float summation order to disagree on.
  * New centroids are `sum.toDouble / count` rounded through FLOAT
  * (both engines cast the same double to the same float), and all
  * dots/norms are sequential double folds, bit-identical to
  * `list_reduce` (the [[graft.functions.Similarity.sqlDot]] parity
  * contract).
  */
object KMeans {

  /** Cluster count; init = the quantized vectors of the k smallest
    * vec_ids (deterministic, oracle-replayable). */
  val K = 8

  /** Quantization scale: float embeddings → integer grid of 1/1000. */
  val QuantScale = 1000

  /** array<float> quantized embedding — integer-valued, exact in both
    * engines (|values| ≪ 2²⁴), float-typed so the codegen'd FloatDot
    * applies. */
  def quantized(emb: Column): Column =
    transform(emb, x =>
      floor(x.cast("double") * QuantScale + lit(0.5)).cast("float"))

  /** `(vec_id, vq)` quantized projection of an embedding frame.
    * Null embeddings are EXCLUDED here — downstream, a null vq would
    * yield a null cluster whose partial-sum Row reads back as
    * cluster 0 via getLong (silent mean corruption), so the contract
    * is: train/assign over non-null vectors only. */
  def quantize(emb: DataFrame): DataFrame =
    emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), quantized(col("embedding")).as("vq"))

  /** Centroid as a literal array<float> (the broadcast-through-the-
    * plan representation; both engines round the double mean to float
    * identically). */
  private def centLit(cent: Array[Double]): Column =
    array(cent.map(c => lit(c.toFloat)): _*)

  /** ‖c‖² of the float-rounded centroid, as the same sequential
    * left-fold of doubles the oracle's list_reduce performs. */
  private def centNorm2(cent: Array[Double]): Double =
    cent.foldLeft(0.0)((acc, c) => acc + c.toFloat.toDouble * c.toFloat.toDouble)

  /** Per-row score vector: s_j = 2·(vq·c_j) − ‖c_j‖², one codegen'd
    * FloatDot per centroid (each referenced exactly once — no
    * reliance on codegen subexpression elimination; the ivfAssign
    * pattern). argmin distance = argmax score. */
  def scores(vq: Column, cents: Seq[Array[Double]]): Column =
    array(cents.map(c =>
      lit(2.0) * graft.plans.FloatDot.dot(vq, centLit(c)) - lit(centNorm2(c))): _*)

  /** Nearest-centroid index with first-match tie-break (argmax =
    * first position of the max — mirrors the oracle's
    * `row_number() OVER (ORDER BY s DESC, j)`). */
  def assign(scores: Column): Column =
    (array_position(scores, array_max(scores)) - 1).cast("long")

  /** Squared distance to the assigned centroid, recovered from the
    * best score: ‖v‖² − max s = ‖v‖² − 2·v·c + ‖c‖². ‖v‖² is one
    * more codegen'd FloatDot; the identity is exact in ℝ and the
    * oracle evaluates the SAME float expression, so parity holds. */
  def bestDist(vq: Column, scores: Column): Column =
    graft.plans.FloatDot.dot(vq, vq) - array_max(scores)

  /** One Lloyd step: assign every vector to `cents`, return the k new
    * mean centroids. Empty clusters keep their previous centroid.
    * The collect is the ≤ k·d finalized partial sums — the broadcast-
    * centroids pattern, NOT a data collect. Sums are exact: the
    * float-typed vq values are integers, so the long cast is lossless
    * and the aggregation order-free. */
  def step(vq: DataFrame, cents: Seq[Array[Double]]): Seq[Array[Double]] = {
    val dims = cents.head.length
    val parts = vq
      .select(assign(scores(col("vq"), cents)).as("cluster"),
        posexplode(col("vq")))
      .groupBy("cluster", "pos")
      .agg(sum(col("col").cast("long")).as("s"), count(lit(1)).as("n"))
      .collect()
    val mean = Array.fill(cents.size, dims)(0.0)
    val seen = Array.fill(cents.size)(false)
    parts.foreach { r =>
      val (cl, pos) = (r.getLong(0).toInt, r.getInt(1))
      seen(cl) = true
      mean(cl)(pos) = r.getLong(2).toDouble / r.getLong(3)
    }
    cents.indices.map(j => if (seen(j)) mean(j) else cents(j))
  }

  /** `iters` Lloyd steps from the deterministic init; returns the
    * final centroids, ready to broadcast into an IVF assign/probe.
    *
    * `k` defaults to [[K]] (the oracle-pinned fixture size); at scale
    * it is the SemDeDup/IVF sizing dial — grow k ∝ N to hold the
    * expected cluster size constant (`Dev stress` `semdedup` probe
    * measures the pair-count consequence of NOT doing so). */
  def train(vq: DataFrame, iters: Int, k: Int = K): Seq[Array[Double]] = {
    // init + every Lloyd step is an action over the same frame —
    // cache it for the iters+1 jobs that would otherwise each re-scan
    // the source, and release it before returning (training is fully
    // driver-synchronous, so nothing escapes with a cache attached).
    // Respect a caller-managed cache: persisting an already-persisted
    // frame throws, and unpersisting it here would silently evict the
    // caller's cache out from under its later actions.
    val callerCached =
      vq.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val cached = if (callerCached) vq else vq.persist()
    try {
      val init: Seq[Array[Double]] = cached.filter(col("vec_id") < k)
        .orderBy("vec_id").collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
      require(init.size == k, s"need vec_ids 0..${k - 1} for init, got ${init.size}")
      (1 to iters).foldLeft(init)((c, _) => step(cached, c))
    } finally if (!callerCached) cached.unpersist(blocking = false)
  }

  // ---- SQL mirrors (DuckDB oracle fragments) ----
  // Every fragment takes a CTE-name prefix `p` so independent
  // trainings coexist in ONE oracle (PQ trains one codebook per
  // sub-block: prefixes b0..b3); the unprefixed forms are the
  // single-training originals, byte-identical via p = "".

  /** Quantized-embedding CTE: `vq(vec_id, vq)` as BIGINT lists (the
    * engine's float values are integer-exact, so BIGINT replays them;
    * dots cast per-element to DOUBLE exactly like FloatDot). The
    * null filter mirrors [[quantize]]'s null-exclusion contract —
    * without it a null-embedding row would survive on the oracle
    * side only and break hash parity. */
  def sqlVqCte: String = sqlVqCte("", "embedding")

  /** Prefixed form over any list-typed SQL expression of the
    * embeddings row (e.g. a slice `embedding[1:16]`). */
  def sqlVqCte(p: String, listExpr: String): String =
    s"""${p}vq AS (SELECT vec_id, list_transform($listExpr,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * $QuantScale + 0.5) AS BIGINT)) AS vq
       |  FROM embeddings WHERE embedding IS NOT NULL)""".stripMargin

  /** Sequential-double-fold dot between a vq list and a centroid
    * list — the FloatDot parity form. */
  def sqlVqDot(v: String, c: String): String =
    s"list_reduce(list_transform($v, (x, i) -> CAST(x AS DOUBLE) * $c[i]), (a, b) -> a + b)"

  /** Init-centroid CTE `c0(j, c, c2)`: the quantized vectors of
    * vec_id 0..k-1 (integer-exact, so the float round-trip is
    * lossless) with their ‖c‖² folds. */
  def sqlInitCte: String = sqlInitCte("", K)

  def sqlInitCte(p: String, k: Int): String =
    s"""${p}c0 AS (SELECT CAST(vec_id AS BIGINT) AS j,
       |              list_transform(vq, x -> CAST(x AS DOUBLE)) AS c,
       |              list_reduce(list_transform(vq,
       |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
       |                (a, b) -> a + b) AS c2
       |       FROM ${p}vq WHERE vec_id < $k)""".stripMargin

  /** The full unrolled training oracle: vq + init + `iters` Lloyd
    * steps + ONE extra step whose assignment `a{iters+1}` mirrors
    * the engine's post-train assign (its own m/c CTEs go
    * unreferenced). Splice after WITH; read from `a${iters + 1}`. */
  def sqlTrainCtes(iters: Int): String = sqlTrainCtes("", iters, "embedding", K)

  /** Prefixed training over any embeddings-row list expression: all
    * CTE names gain `p`, so e.g. `sqlTrainCtes("b2", 2, "embedding[33:48]")`
    * trains sub-block 2 and exposes `b2a3` / `b2c2`. */
  def sqlTrainCtes(p: String, iters: Int, listExpr: String,
                   k: Int = K): String =
    (Seq(sqlVqCte(p, listExpr), sqlInitCte(p, k)) ++
      (1 to iters + 1).map(t => sqlStepCtes(p, t, s"${p}c${t - 1}")))
      .mkString(",\n")

  /** One unrolled Lloyd iteration as CTEs: given centroids
    * `cin(j, c, c2)` (float-rounded mean list + its ‖c‖² fold), emits
    * `d{t}` (scores + ‖v‖²), `a{t}` (assignment + distance) and
    * `c{t}` (new centroids, empty clusters inheriting from `cin`). */
  def sqlStepCtes(t: Int, cin: String): String = sqlStepCtes("", t, cin)

  def sqlStepCtes(p: String, t: Int, cin: String): String =
    s"""${p}d$t AS (SELECT v.vec_id, c.j,
       |    2.0 * ${sqlVqDot("v.vq", "c.c")} - c.c2 AS s,
       |    ${sqlVqDot("v.vq", "v.vq")} AS vn2
       |  FROM ${p}vq v CROSS JOIN $cin c),
       |${p}a$t AS (SELECT vec_id, j AS cluster, vn2 - s AS dist FROM (
       |    SELECT vec_id, j, s, vn2,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j) AS rn
       |    FROM ${p}d$t) WHERE rn = 1),
       |${p}m$t AS (SELECT a.cluster, unnest(generate_series(1, len(v.vq))) AS pos,
       |               unnest(v.vq) AS val
       |        FROM ${p}a$t a JOIN ${p}vq v USING (vec_id)),
       |${p}c$t AS (SELECT p.j, coalesce(n.c, p.c) AS c,
       |               coalesce(n.c2, p.c2) AS c2
       |        FROM $cin p LEFT JOIN (
       |          SELECT cluster AS j,
       |                 list(m ORDER BY pos) AS c,
       |                 list_reduce(list_transform(list(m ORDER BY pos),
       |                   x -> x * x), (a, b) -> a + b) AS c2
       |          FROM (
       |            SELECT cluster, pos,
       |              CAST(CAST(CAST(sum(val) AS DOUBLE) / count(*) AS FLOAT) AS DOUBLE) AS m
       |            FROM ${p}m$t GROUP BY cluster, pos)
       |          GROUP BY cluster) n USING (j))""".stripMargin
}
