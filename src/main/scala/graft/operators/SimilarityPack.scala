package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star LLM-pipeline ops): exact
  * brute-force cosine top-k as the correctness baseline, and
  * LSH-bucketed ANN as the scale path. All higher-order expressions —
  * no UDFs, no driver-side collect.
  *
  * Scale design: brute-force is O(|Q|·N) with the small query side
  * broadcast; the LSH path buckets every vector in the scan stage (no
  * shuffle) under 2 independent 12-bit band keys, joins on
  * (band, bucket) — a per-band ~4096× pair reduction, OR'd across
  * bands for recall — dedupes candidate ids, and only then re-joins
  * the wide embedding arrays for the exact cosine. At 100 TB the
  * bucket join carries only (band, bucket, vec_id); bucket skew is
  * AQE-split, and per-bucket membership is HARD-capped at
  * [[SimilarityPack.AnnBucketCap]] through the native TopKPerKey
  * operator (bounded heaps before the exchange), so the co-bucket
  * residual is ≤ C(C−1)/2 pairs per bucket however the corpus grows
  * (see SCALE.md for the sizing rule).
  */
object SimilarityPack extends QueryPack {

  /** Per-(band, bucket) membership cap for sim_ann_pairs: only the
    * lowest `AnnBucketCap` vec_ids of a bucket enter the pair join.
    * A dense cluster (or a degenerate all-zeros bucket) would
    * otherwise make the co-bucket self-join quadratic in its size;
    * with the cap, per-bucket candidates are bounded at C(C−1)/2 and
    * total ANN work is linear in buckets. Deterministic (lowest ids)
    * and mirrored in the oracle — recall within a mega-bucket is the
    * declared trade, exactly as in IVF probe-list truncation. */
  val AnnBucketCap = 48

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  /** (vec_id, band, bucket) LSH bucket assignments of an embedding
    * frame — scan stage, zero shuffle. Public so `Dev stress` probes the
    * exact production stage, not a re-implementation. Null embeddings
    * are excluded explicitly — lshBucket's per-plane when/otherwise
    * would otherwise map them all to bucket 0 (a degenerate mega-
    * bucket); the planesCte oracle carries the same IS NOT NULL. */
  def bucketize(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        explode(Similarity.lshBands(col("embedding"))).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))

  /** The per-(band, bucket) membership cap through the native
    * bounded-heap operator. */
  def capBuckets(buckets: DataFrame): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(buckets,
      keys = Seq(col("band"), col("bucket")),
      order = Seq(col("vec_id").asc), k = AnnBucketCap)

  /** Deduped co-bucket candidate id pairs (vec_a < vec_b) of a bucket
    * frame — ids only, no embeddings through the shuffle. */
  def candidateIdPairs(buckets: DataFrame): DataFrame =
    buckets.alias("a").join(buckets.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()

  /** Multi-probe candidate pairs: every vector probes its home bucket
    * PLUS all 1-bit flips of the band key (the sim_ann_topk_probe
    * knob applied to the symmetric pairs path) — a pair surfaces
    * whenever one side's probe hits the other side's home bucket,
    * i.e. the band keys are within Hamming distance 1. Recall rises
    * steeply (a near-dup pair loses a 12-bit band collision to ONE
    * flipped plane far more often than to two) at a 13× probe-side
    * fan-out of ids only — the trade that beats 13× more bands, which
    * would 13× the INDEX, not just the join's probe side. Probing is
    * against the capped home buckets, so the budget cap still bounds
    * every bucket's contribution. */
  /** The Hamming≤1 probe set of a band key: the bucket itself plus
    * every one-bit flip — THE definition of multi-probe fan-out,
    * shared by the pairs and top-k paths (its SQL mirror is
    * [[sqlProbeSelect]]; changing probe depth means changing both). */
  def probeBuckets(bucket: Column): Column =
    explode(array(bucket +:
      (0 until Similarity.PlanesPerBand).map(j =>
        bucket.bitwiseXOR(lit(1L << j))): _*))

  /** SQL mirror of [[probeBuckets]]: one row per probe bucket of
    * `src` (which must expose band, bucket and the id column named in
    * `idSelect`). */
  def sqlProbeSelect(src: String, idSelect: String): String =
    s"""SELECT $idSelect, band,
       |    CASE WHEN j = -1 THEN bucket
       |         ELSE xor(bucket, 1::BIGINT << j) END AS bucket
       |  FROM $src,
       |       UNNEST(generate_series(-1, ${Similarity.PlanesPerBand - 1})) AS g(j)""".stripMargin

  def probeCandidateIdPairs(buckets: DataFrame): DataFrame = {
    val probes = buckets.select(col("vec_id"), col("band"),
      probeBuckets(col("bucket")).as("bucket"))
    probes.alias("a").join(buckets.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
  }

  /** (vec_id, band, bucket) with the per-bucket membership cap
    * applied — the candidate universe every ANN query works from.
    * An [[IndexCache]] artifact (the maintained LSH index), read by
    * five consumers: pairs, probe pairs, both top-k queries, embed
    * dedup. */
  private def cappedBuckets(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "simbuckets", dir)(
      capBuckets(bucketize(emb(s, dir))).localCheckpoint(eager = true))

  /** Near-pairs (vec_a < vec_b) whose EXACT cosine clears `minCos`:
    * co-bucket candidates (any band), id-deduped before the embedding
    * re-join. The filter runs on the unrounded double — bit-identical
    * to the oracle's sequential fold — so the pair set is exact. */
  private def closePairs(s: SparkSession, dir: String,
                         minCos: Double): DataFrame =
    closePairsFrom(s, dir, candidateIdPairs(cappedBuckets(s, dir)), minCos)

  /** The cos ≥ 0.3 near-pair set as an [[IndexCache]] artifact, read
    * by the pair audit (sim_ann_pairs) and the embedding dedup
    * (ds_embed_dedup). */
  private def closePairs03(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "simpairs03", dir)(
      closePairs(s, dir, minCos = 0.3).localCheckpoint(eager = true))

  /** As above over an arbitrary (vec_a, vec_b) candidate frame. */
  private def closePairsFrom(s: SparkSession, dir: String,
                             cand: DataFrame, minCos: Double): DataFrame = {
    val v = emb(s, dir).select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    cand
      .join(v.alias("ea"), col("vec_a") === col("ea.vec_id"))
      .join(v.alias("eb"), col("vec_b") === col("eb.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        (Similarity.dot(col("ea.embedding"), col("eb.embedding"))
          / (col("ea.nrm") * col("eb.nrm"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** k-NN-graph (NN-Descent, Dong et al. WWW'11) parameters. The
    * INDEX keeps [[KnnBuildK]] neighbors per node through
    * [[KnnRounds]] refinement rounds (the paper's K — wider lists
    * refine better because each round's candidate pool is the
    * K-neighborhood closure; measured recall@6 at sf0.001/0.01:
    * 0.36/0.35 at build-6×3 rounds → 0.85/0.89 at the shipped
    * build-12×4 — sim_knn_graph_recall pins it per corpus);
    * consumers that want the tight top-[[KnnK]] lists cut the kept
    * lists per node. Unrolled identically in the oracle CTE chain.
    * The seed strides replace the paper's random init
    * deterministically: node i's j-th seed is (i + stride_j) mod N,
    * distinct primes spreading each node's initial pool across the
    * id space (a ring seed — strides 1..K — gives adjacent nodes
    * near-identical neighborhoods: measured recall@6 collapsed
    * 0.35 → 0.08 on this corpus). */
  val KnnSeedStrides: Seq[Int] =
    Seq(1, 19, 83, 173, 311, 433, 547, 659, 773, 883, 1009, 1123)
  val KnnBuildK: Int = KnnSeedStrides.length
  val KnnK: Int = 6
  val KnnRounds = 4

  /** Brute-force cosine top-[[KnnK]] truth for the vec_id % 10 probe
    * subset of a normed frame — quadratic ONLY over the bounded
    * probe slice (broadcast query side). Shared by the graph and
    * search recall audits. */
  private[graft] def bruteTruth(v: DataFrame): DataFrame = {
    val q = v.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("src"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    graft.plans.TopKPerKey.topKPerKey(
      v.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("src"))
        .select(col("src"), col("vec_id").as("dst"),
          (Similarity.dot(col("qe"), col("embedding"))
            / (col("qn") * col("nrm"))).as("cos")),
      keys = Seq(col("src")),
      order = Seq(col("cos").desc, col("dst").asc), k = KnnK)
      .select(col("src"), col("dst"))
  }

  /** The one-row recall summary over (src, dst) found-vs-truth
    * frames: counts reduce to 1-row aggs composed via broadcast. */
  private[graft] def recallRow(found: DataFrame, truth: DataFrame): DataFrame = {
    val hits = found.join(truth, Seq("src", "dst"))
      .agg(count(lit(1)).as("hits"))
    truth.agg(countDistinct(col("src")).as("n_probes"),
        count(lit(1)).as("possible"))
      .crossJoin(broadcast(hits))
      .select(col("n_probes"), col("possible"), col("hits"),
        graft.Det.dround(
          col("hits").cast("double") / col("possible"), 4).as("recall"))
  }

  /** The brute-force truth table as an [[IndexCache]] artifact, read
    * by three recall audits (graph, flat search, HNSW search). */
  private def bruteTruthFor(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "simtruth", dir)(
      bruteTruth(normedVecs(s, dir)).localCheckpoint(eager = true))

  /** Embeddings with the norm precomputed per ROW, so cosine inside
    * any pair join is one FloatDot per pair instead of three. */
  private[graft] def normedVecs(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))

  /** Deterministic NN-Descent seed graph: node i points at ids
    * (i+1 .. i+K) mod N, N = max(id)+1 as a 1-row broadcast (no
    * driver collect). Ids are dense in the generator; a seed edge
    * landing on a missing/null-embedding id simply drops in the
    * first scoring join — NN-Descent needs only SOME seed, the
    * rounds do the work. */
  def nnDescentSeed(vecs: DataFrame, buildK: Int = KnnBuildK): DataFrame = {
    val n = vecs.agg((max(col("vec_id")) + 1).as("n"))
    vecs.select(col("vec_id").as("src"))
      .crossJoin(broadcast(n))
      .select(col("src"),
        explode(array(KnnSeedStrides.take(buildK).map(lit): _*)).as("j"),
        col("n"))
      .select(col("src"), ((col("src") + col("j")) % col("n")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** One NN-Descent refinement: candidates = the UNDIRECTED current
    * graph plus its neighbor-of-neighbor closure, scored by exact
    * cosine, cut to the K best per node through the native
    * bounded-heap [[graft.plans.TopKPerKey]] (partial heaps below
    * the exchange — never a global sort). Returns (src, dst, cos).
    *
    * 100 TB shape: every frame in the round carries ids only until
    * the final scoring join re-attaches embeddings by equi-join, and
    * the candidate set is bounded by (2K)² per node — each round is
    * O(N·K²) pairs and O(N·K²·d) flops however large N grows, vs the
    * O(N²·d) brute-force graph. That linear-per-round bound (not any
    * index quality argument) is why NN-Descent is the standard
    * distributed k-NN-graph construction. */
  def nnDescentRound(edges: DataFrame, vecs: DataFrame, p: Int,
                     keepK: Int = KnnBuildK): DataFrame = {
    // no dedup on the undirected view: duplicate rows only duplicate
    // candidates, and the single exchange below removes those — the
    // SET matches the oracle's UNION either way
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val non = und.alias("a").join(und.alias("b"),
        col("a.dst") === col("b.src") && col("a.src") =!= col("b.dst"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
    // ONE exchange both dedups the candidate set and lands the
    // src-partitioning the keep-K needs (LabelProp's exchange-fusion:
    // dropDuplicates clusters on a SUBSET of its keys, so
    // HashPartitioning(src) satisfies it in place)
    val cand = non.union(und)
      .repartition(p, col("src"))
      .dropDuplicates("src", "dst")
    val scored = cand
      .join(vecs.select(col("vec_id").as("dst"), col("embedding").as("de"),
        col("nrm").as("dn")), Seq("dst"))
      .join(vecs.select(col("vec_id").as("src"), col("embedding").as("se"),
        col("nrm").as("sn")), Seq("src"))
      .select(col("src"), col("dst"),
        (Similarity.dot(col("se"), col("de"))
          / (col("sn") * col("dn"))).as("cos"))
    graft.plans.TopKPerKey.topKPerKey(scored,
      keys = Seq(col("src")),
      order = Seq(col("cos").desc, col("dst").asc), k = keepK)
  }

  /** The NN-Descent loop over a prepared (vec_id, embedding, nrm)
    * frame: persist the vectors (every round joins them twice),
    * size the loop session off the candidate-frame bound
    * N·(2K)² ([[LoopWidth]] — at kilobyte frames the rounds would
    * otherwise be pure task-scheduling overhead), and
    * localCheckpoint each round's K-row-per-node output. The
    * checkpoint is CORRECTNESS-OF-COST, not style: a round reads its
    * predecessor five times (two und legs × the NoN self-join plus
    * the union), so un-truncated lineage re-executes 5^rounds copies
    * of the seed — the first cut of this operator measured 19.9 s on
    * 2 000 vectors from exactly that; this form probes 5.4 s at x1
    * and 15.6 s at x16 (the `Dev stress` knn_graph row). */
  def knnGraphOver(vRaw: DataFrame, buildK: Int = KnnBuildK,
                   rounds: Int = KnnRounds): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = vRaw.sparkSession
    val persisted = vRaw.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = persisted.count()
      val p = LoopWidth.partitionsFor(n * (2L * buildK) * (2L * buildK), spark)
      LoopWidth.onSizedSession(persisted, p) { vecs =>
        var edges = nnDescentSeed(vecs, buildK)
        (1 to rounds).foreach { _ =>
          edges = nnDescentRound(edges.select(col("src"), col("dst")),
            vecs, p, buildK).localCheckpoint(eager = true)
        }
        edges
      }
    } finally persisted.unpersist(blocking = false)
  }

  /** The converged (src, dst, cos) k-NN graph after [[KnnRounds]]
    * refinements of the deterministic seed, as an [[IndexCache]]
    * artifact read by four consumers: the graph query, its recall
    * audit, beam search, graph dedup. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "knngraph", dir)(knnGraphOver(normedVecs(s, dir)))

  /** Beam width and expansion rounds for [[knnSearch]] — the search
    * side of the graph index (greedy best-first without a visited
    * set: the beam is MONOTONE, candidates only accumulate and the
    * per-query keep-B makes each round's frontier the best B seen,
    * so no bookkeeping state is needed in the dataflow). */
  val SearchBeam = 12
  val SearchRounds = 3

  /** Beam entry strata — one entry per equal-width slice of the live
    * id range (8: measured recall@6 flat/hnsw 0.88/0.91 at sf0.01 and
    * 0.89/0.85 at sf0.001, vs 0.78/0.91 at 4 strata and the old fixed
    * ids' 0.83/0.91 — denser seeds cover more graph regions for four
    * extra scored rows per query, still within SearchBeam). */
  val EntryStrata = 8

  /** CORPUS-DERIVED search entry points, spread across the live id
    * space: the minimum existing vec_id in each of [[EntryStrata]]
    * equal-width slices of [lo, hi] — a greedy beam cannot leave the
    * entry's graph region on a sparse graph (single entry measured
    * recall@6 = 0.18 on this corpus; spread entries are the
    * flat-graph stand-in for HNSW's upper-layer long links). Derived
    * from the data, not hardcoded: ids need not be dense or 0-based
    * (sharded/hashed id spaces land on real rows — an earlier fixed
    * {0, 101, …} set silently returned an EMPTY search on any corpus
    * whose ids start elsewhere), and an empty entry set FAILS LOUDLY
    * instead. Two tiny aggs (the centroid-collect class — ≤
    * [[EntryStrata]] rows ever reach the driver); `layerMod`
    * restricts to the HNSW layer-1 membership. */
  def searchEntriesOf(vecs: DataFrame,
                      layerPred: Option[org.apache.spark.sql.Column] = None)
      : Seq[Long] = {
    val base = layerPred.map(vecs.filter).getOrElse(vecs)
    val mm = base.agg(min(col("vec_id")), max(col("vec_id"))).head()
    require(!mm.isNullAt(0),
      "ANN search: no candidate vectors — the entry set would be empty" +
        layerPred.fold("")(_ => " (layer-restricted)"))
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1
    // exact integer floor-division, matching the DuckDB twin's `//`
    // (Spark's `/` is double division — floor of a double diverges
    // from integer `//` once the product passes 2^53); the guard
    // keeps the multiplication itself from wrapping Long on an
    // extreme id span (DuckDB would silently widen to HUGEINT there)
    require(span <= Long.MaxValue / EntryStrata,
      s"ANN entry derivation: id span $span too wide for exact " +
        s"stratum arithmetic (max ${Long.MaxValue / EntryStrata})")
    val entries = base
      .groupBy(least(lit(EntryStrata - 1),
        expr(s"(vec_id - ${lo}L) * $EntryStrata div ${span}L"))
        .as("stratum"))
      .agg(min(col("vec_id")).as("node"))
      .collect().map(_.getLong(1)).sorted.toSeq
    require(entries.nonEmpty, "ANN search: entry derivation lost rows")
    entries
  }

  /** Stratum anchors as an [[IndexCache]] artifact per (corpus,
    * layer level), read by every search/recall consumer — None = the
    * full corpus (the flat beam's seeds), Some(ℓ) = level-ℓ members
    * only (the hierarchy's top-layer seeds). */
  private def entriesFor(s: SparkSession, dir: String,
                         layerLevel: Option[Int]): Seq[Long] =
    IndexCache.artifact(s,
      s"knnentries-${layerLevel.fold("base")(l => s"layer$l")}", dir)(
      searchEntriesOf(normedVecs(s, dir),
        layerLevel.map(l => hnswMemberAt(col("vec_id"), l))))

  /** Graph search: every probe query (vec_id % 10) walks the built
    * k-NN graph from the fixed entry node 0 — score the frontier,
    * expand along graph edges, keep the best [[SearchBeam]] per
    * query, [[SearchRounds]] times. Per round the exchange carries
    * (qid, node) ids only; scoring re-joins vectors by equi-join; the
    * per-query state is B rows however big the corpus — the
    * HNSW-style search loop in DataFrame form. Self-hits ride the
    * beam (the entry's best neighbor for its own query IS itself —
    * its out-edges are exactly what we want expanded) and drop only
    * at the final cut. The result frame is an [[IndexCache]]
    * artifact per (corpus, searcher), read by each search query and
    * its recall twin. */
  def knnSearch(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "knnsearch-flat", dir)(
      knnSearchOver(normedVecs(s, dir), Some(knnGraph(s, dir)),
          Some(entriesFor(s, dir, layerLevel = None)))
        .localCheckpoint(eager = true))

  /** The search loop over a prepared (vec_id, embedding, nrm) frame —
    * public so `Dev stress` probes the production stages. `prebuilt`
    * supplies an already-checkpointed graph (the memoized index);
    * absent, the graph builds here (the full-path probe shape). */
  def knnSearchOver(vRaw: DataFrame,
                    prebuilt: Option[DataFrame] = None,
                    entries: Option[Seq[Long]] = None): DataFrame = {
    val edges = prebuilt.map(_.select(col("src"), col("dst")))
      .getOrElse(knnGraphOver(vRaw).select(col("src"), col("dst"))
        .localCheckpoint(eager = true))
    beamSearchOver(vRaw, Seq.fill(SearchRounds)(edges),
      entries.getOrElse(searchEntriesOf(vRaw)))
  }

  /** The generic monotone-beam loop: round r expands the beam along
    * `schedule(r)`'s edges and keeps the best [[SearchBeam]] per
    * query — the flat search feeds the same graph every round, the
    * HNSW search feeds the coarse layer's graph first and the base
    * graph last. Every frame in the loop carries (qid, node) ids
    * only; scoring re-joins vectors by equi-join. */
  def beamSearchOver(vRaw: DataFrame, schedule: Seq[DataFrame],
                     entries: Seq[Long],
                     probeExpanded: Option[scala.collection.mutable.Buffer[Long]] = None)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val vecs = vRaw.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val q = vecs.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      def score(nodes: DataFrame): DataFrame = nodes
        .join(vecs.select(col("vec_id").as("node"),
          col("embedding").as("ne"), col("nrm").as("nn")), Seq("node"))
        .join(q, Seq("qid"))
        .select(col("qid"), col("node"),
          (Similarity.dot(col("qe"), col("ne"))
            / (col("qn") * col("nn"))).as("cos"))
      var cand = score(q.select(col("qid"),
          explode(array(entries.map(lit): _*)).as("node")))
        .localCheckpoint(eager = true)
      schedule.foreach { edges =>
        // no pre-score distinct: duplicate (qid, node) expansions
        // score to the IDENTICAL deterministic cos and die in the
        // post-union dedup below — the distinct's exchange bought
        // nothing but a stage (the scoring joins are broadcast-sized,
        // so dedup-before-scoring saves no shuffle bytes either)
        val expand = cand.select(col("qid"), col("node"))
          .join(edges.select(col("src"), col("dst")),
            col("node") === col("src"))
          .select(col("qid"), col("dst").as("node"))
        // dev-probe only (None in production): per-round DISTINCT
        // expansion sizes — the candidate-scoring cost a deeper
        // hierarchy cuts (distinct here keeps the probe's meaning)
        probeExpanded.foreach(_ += expand.distinct().count())
        // ONE exchange per round: hash(qid) satisfies both the
        // (qid, node) dedup (clustering on a subset of its keys) and
        // the final bounded-heap's ClusteredDistribution(qid) — the
        // LabelProp exchange-fusion pattern
        cand = graft.plans.TopKPerKey.topKPerKey(
          cand.unionByName(score(expand))
            .repartition(col("qid"))
            .dropDuplicates("qid", "node"),
          keys = Seq(col("qid")),
          order = Seq(col("cos").desc, col("node").asc), k = SearchBeam)
          .localCheckpoint(eager = true)
      }
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("node"))
      cand.filter(col("node") =!= col("qid"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= KnnK)
        .select(col("qid"), col("rank"), col("node").as("nbr_id"),
          graft.Det.dround(col("cos"), 6).as("cos"))
    } finally vecs.unpersist(blocking = false)
  }

  /** HNSW layer structure — the published hierarchy with CORPUS-
    * DERIVED depth: a node joins level ℓ when the 32-bit hash of its
    * id is ≡ 0 mod [[HnswLayerMod]]^ℓ ([[hnswMemberAt]] — the
    * geometric level draw P(level ≥ ℓ) = 8^-ℓ made deterministic),
    * and the realized depth is the largest ℓ whose EXPECTED
    * membership n/8^ℓ still clears [[HnswMinLayerNodes]]
    * ([[hnswLevels]]) — a 10⁹-vector corpus gets the published
    * log-depth hierarchy, a 500-vector fixture keeps one upper
    * layer, by the same formula. Each level carries its own
    * NN-Descent graph over its subset — longer-range edges per
    * level, since neighbors span 8× the previous density. Search
    * descends the TOP TWO levels, one beam round each
    * ([[hnswSchedule]] — the single-layer corpus keeps the measured
    * two level-1 rounds, and the full L..1 descent is measured and
    * rejected there), then [[HnswFineRounds]] rounds on the base
    * graph refine — FEWER base-graph rounds than the flat search's
    * [[SearchRounds]] at the same beam width. Measured
    * recall@6 (sim_hnsw_recall): 0.90/0.92 at sf0.001/0.01 (L=1
    * there — unchanged from the 2-level form). Entries are the
    * union of the TOP layer's stratum anchors and the base anchors
    * (see [[hnswSearch]]). */
  val HnswLayerMod = 8
  val HnswFineRounds = 2

  /** Minimum expected node count for an upper layer to exist: below
    * this an NN-Descent graph over the members is too sparse to
    * localize anything (and may be outright empty). */
  val HnswMinLayerNodes = 64

  /** Deepest level the static oracle unroll covers — 8^4 needs a
    * ≥2M-vector corpus, far beyond any oracle SF; the engine-side
    * formula itself has no cap. */
  val HnswMaxLevels = 3

  /** Corpus-derived hierarchy depth: max ℓ ≥ 1 with n / 8^ℓ ≥
    * [[HnswMinLayerNodes]], capped at [[HnswMaxLevels]]. */
  def hnswLevels(n: Long): Int = {
    var l = 1
    while (l < HnswMaxLevels &&
      n / math.pow(HnswLayerMod, l + 1).toLong >= HnswMinLayerNodes)
      l += 1
    l
  }

  /** Level-ℓ membership: hash-derived (uniform on ANY id space —
    * offset, sharded, hashed — where id arithmetic would skew), and
    * NESTED by construction: level ℓ+1 members are a subset of
    * level ℓ's, the published hierarchy invariant. */
  def hnswMemberAt(vecId: org.apache.spark.sql.Column, level: Int)
      : org.apache.spark.sql.Column =
    graft.functions.Hashing.h32(vecId.cast("string")) %
      math.pow(HnswLayerMod, level).toLong === 0

  /** SQL twin of [[hnswMemberAt]]. */
  def sqlHnswMemberAt(level: Int): String =
    s"${graft.functions.Hashing.sqlH32("CAST(vec_id AS VARCHAR)")} " +
      s"% ${math.pow(HnswLayerMod, level).toLong} = 0"

  /** The level-ℓ (src, dst, cos) graph — NN-Descent over the level's
    * node subset, memoized per (corpus, level) like [[knnGraph]]. */
  def hnswLayerGraphAt(s: SparkSession, dir: String, level: Int): DataFrame =
    IndexCache.artifact(s, s"knngraph-l$level", dir)(knnGraphOver(
      normedVecs(s, dir).filter(hnswMemberAt(col("vec_id"), level))))

  /** Non-null vector count per corpus (one count scan, memoized —
    * the depth formula's n). */
  def vecCount(s: SparkSession, dir: String): Long =
    IndexCache.artifact(s, "veccount", dir)(
      graft.Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull).count())

  /** The coarse-round LEVEL schedule for a depth-L hierarchy: the
    * TOP TWO levels, descending — always exactly two coarse rounds.
    * The single-layer corpus keeps two level-1 rounds (the measured
    * recall shape — one round under-localizes from spread entries);
    * a full per-level descent (L..1) was probed at ×20/depth-3 and
    * REJECTED: the level-1 coarse round alone expanded 497 k
    * candidates (the beam is fully populated by then, so a dense
    * layer multiplies it), pushing the deep form ABOVE the 2-level
    * form's total — the hierarchy's value is the top layers' long
    * hops, and the base fine rounds already do dense local
    * refinement (SCALE.md round-14 row). */
  def hnswSchedule(levels: Int): Seq[Int] =
    Seq(levels, math.max(levels - 1, 1))

  /** Top-down HNSW-style search over the per-level memoized graphs.
    * The seed set is the UNION of the TOP layer's stratum anchors
    * (they drive the coarse localization — only layer members have
    * coarse out-edges) and the base stratum anchors (non-members
    * ride the monotone beam untouched through the coarse rounds and
    * expand in the fine rounds — so the hierarchy's seeds are a
    * superset of the flat beam's and its recall floor follows). */
  def hnswSearch(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "knnsearch-hnsw", dir) {
      val levels = hnswLevels(vecCount(s, dir))
      beamSearchOver(normedVecs(s, dir),
        hnswSchedule(levels).map(hnswLayerGraphAt(s, dir, _)) ++
          Seq.fill(HnswFineRounds)(knnGraph(s, dir)),
        (entriesFor(s, dir, layerLevel = Some(levels)) ++
          entriesFor(s, dir, layerLevel = None)).distinct.sorted)
        .localCheckpoint(eager = true)
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-3 per query (queries = vec_id < 10),
    // query side broadcast; ranking on the exact double (bit-identical
    // to the oracle's sequential fold), vec_id tiebreak.
    "sim_cosine_topk" -> ((s, dir) => {
      // norms precomputed per side: cosine inside the join would
      // re-fold each side's self-dot once per PAIR instead of per row
      val q = emb(s, dir).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          Similarity.norm(col("embedding")).as("qn"))
      val v = emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("vn"))
      val scored = v.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (Similarity.dot(col("qe"), col("embedding"))
            / (col("qn") * col("vn"))).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("vec_id"),
          graft.Det.dround(col("cos"), 6).as("cos"))
    }),

    // IVF coarse-quantizer assignment: nearest deterministic centroid
    // (argmax of 2·v·c − ||c||²). The probe side of an IVF search is
    // then an equi-join on this id — same plan shape as sim_ann_pairs.
    // Null embeddings are excluded per the KMeans.quantize contract
    // (the ivfCte oracle mirrors the filter; without it a null row
    // would get ivfAssign's -1 sentinel here but centroid 0 there).
    "sim_ivf_assign" -> ((s, dir) =>
      emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          Similarity.ivfAssign(col("embedding")).as("centroid"))),

    // IVF index observability: posting-list balance — rows and corpus
    // share per centroid. The operational audit for the probe path's
    // cost model (a skewed list makes nprobe=1 latency lumpy and is
    // the signal to retrain or split centroids). One partial-agg
    // shuffle to k rows; the share window runs on those k rows only.
    "sim_ivf_balance" -> ((s, dir) => {
      val byList = emb(s, dir).filter(col("embedding").isNotNull)
        .select(Similarity.ivfAssign(col("embedding")).as("centroid"))
        .groupBy(col("centroid")).agg(count(lit(1)).as("n_vecs"))
      // total as a broadcast one-row frame, not an empty-partition
      // window — harmless at k rows, but it plans the single-task
      // WindowExec the engine-wide PlanContractSpec bans
      val total = byList.agg(sum(col("n_vecs")).as("total"))
      byList.crossJoin(broadcast(total))
        .select(col("centroid"), col("n_vecs"),
          graft.Det.dround(col("n_vecs").cast("double") /
            col("total").cast("double"), 4).as("share"))
    }),

    // IVF search: probe = equi-join on the assigned centroid, exact
    // cosine re-rank within the list, top-2 per query. Same null
    // exclusion as sim_ivf_assign.
    "sim_ivf_topk" -> ((s, dir) => {
      val assigned = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"),
        Similarity.ivfAssign(col("embedding")).as("centroid"))
      val q = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("centroid"))
      val cands = assigned.join(q, Seq("centroid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (Similarity.dot(col("qe"), col("embedding"))
            / (col("qn") * col("nrm"))).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      cands.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), graft.Det.dround(col("cos"), 6).as("cos"))
    }),

    // IVF multi-probe: each query fans out to its nprobe = 2 nearest
    // centroids (the FAISS recall dial — a query near a Voronoi
    // boundary reaches the neighbor list its true matches straddle
    // into), then the same equi-join + exact re-rank. Probe fan-out
    // multiplies only the QUERY side of the join; the index side
    // still shuffles once on centroid.
    "sim_ivf_topk_probe" -> ((s, dir) => {
      val assigned = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"),
          Similarity.ivfAssign(col("embedding")).as("centroid"))
      val q = emb(s, dir).filter(col("embedding").isNotNull)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          Similarity.norm(col("embedding")).as("qn"),
          explode(Similarity.ivfProbes(col("embedding"), IvfNprobe))
            .as("centroid"))
      val cands = assigned.join(q, Seq("centroid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (Similarity.dot(col("qe"), col("embedding"))
            / (col("qn") * col("nrm"))).as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      cands.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), graft.Det.dround(col("cos"), 6).as("cos"))
    }),

    // Deterministic random-hyperplane LSH buckets per vector: one row
    // per band (2 bands × 12 planes = 4096 buckets each) — the exact
    // production [[bucketize]] stage, not a re-implementation.
    "sim_lsh_buckets" -> ((s, dir) => bucketize(emb(s, dir))),

    // ANN near-pairs: candidates = same bucket in ANY band (union of
    // per-band equi-joins via the exploded (band, bucket) key), then
    // exact cosine ≥ 0.3. Candidate pairs are deduped BEFORE the
    // embedding re-join, so a pair colliding in both bands costs one
    // cosine — and the wide arrays never travel through the pair
    // shuffle (ids only; embeddings re-join per side).
    "sim_ann_pairs" -> ((s, dir) =>
      closePairs03(s, dir)
        .select(col("vec_a"), col("vec_b"),
          graft.Det.dround(col("cos"), 6).as("cos"))),

    // Multi-probe near-pairs: the recall path — candidates at band-key
    // Hamming distance ≤ 1 (see probeCandidateIdPairs), same exact-
    // cosine gate. Strict superset of sim_ann_pairs' result; the
    // recall/candidate trade is MEASURED by ds_lsh_recall's
    // before/after columns, not asserted.
    "sim_ann_pairs_probe" -> ((s, dir) =>
      closePairsFrom(s, dir,
          probeCandidateIdPairs(cappedBuckets(s, dir)), minCos = 0.3)
        .select(col("vec_a"), col("vec_b"),
          graft.Det.dround(col("cos"), 6).as("cos"))),

    // Embedding-cosine near-dup DEDUP — the full training-data path:
    // ANN close pairs (cos ≥ 0.3 over capped buckets) → connected
    // components → every non-representative vector dropped. The
    // embedding analog of ds_dedup_apply (same Components operator,
    // same anti-join-of-losers shape); output is the surviving corpus.
    "ds_embed_dedup" -> ((s, dir) => {
      val losers = Components.connectedComponents(
          closePairs03(s, dir).select(col("vec_a"), col("vec_b")),
          a = "vec_a", b = "vec_b")
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("vec_id"))
      emb(s, dir).select(col("vec_id"))
        .join(losers, Seq("vec_id"), "left_anti")
    }),

    // SEMANTIC decontamination — the embedding-space complement of
    // ds_decontaminate's n-gram overlap: flag every corpus vector
    // within cos ≥ 0.3 of ANY eval-set vector (paraphrased benchmark
    // leakage that exact n-grams miss), with the best-matching eval
    // item as evidence. Scale shape: the eval set is SMALL by nature
    // (benchmarks are 10³–10⁵ rows) → it broadcasts; every (corpus ×
    // eval) cosine is scan-stage FloatDot; the per-vector argmax is
    // a map-side-combined max(struct) — each vector's pairs live in
    // one input partition, so ≤ 1 row per vector crosses the
    // exchange. Never an index rebuild, never a corpus self-join.
    "ds_decon_semantic" -> ((s, dir) => {
      val evals = emb(s, dir).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("evec"))
      emb(s, dir).filter(col("vec_id") % 50 =!= 0)
        .crossJoin(broadcast(evals))
        .select(col("vec_id"), col("eval_id"),
          Similarity.cosine(col("embedding"), col("evec")).as("cos"))
        .filter(col("cos") >= 0.3)
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos").as("c"), (-col("eval_id")).as("nid")))
          .as("m"))
        .select(col("vec_id"), (-col("m.nid")).as("eval_id"),
          graft.Det.dround(col("m.c"), 6).as("cos"))
    }),

    // ANN top-k SEARCH (the user-facing query the pairs feed): each
    // query vector (vec_id < 10) ranked against its co-bucket
    // candidates, exact-cosine re-rank, top-3. Rank selection runs
    // through the native TopKPerKey (bounded heaps — no per-query
    // sort of the candidate list); the row_number that labels the ≤
    // 3·|Q| survivors touches only the already-selected rows.
    "sim_ann_topk" -> ((s, dir) => {
      val bc = cappedBuckets(s, dir)
      val qb = bc.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
      annTopK(s, dir, queryCandidates(qb, bc))
    }),

    // Multi-probe variant: each query probes its own bucket PLUS all
    // 1-bit flips of the band key (13 buckets/band at 12 bits) — the
    // standard recall knob that avoids adding bands (probing is
    // query-side only: candidate generation fans out per QUERY, the
    // corpus index is untouched and stays capped). Same exact-cosine
    // re-rank and native top-k selection as sim_ann_topk.
    "sim_ann_topk_probe" -> ((s, dir) => {
      val bc = cappedBuckets(s, dir)
      val qprobe = bc.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("band"),
          probeBuckets(col("bucket")).as("bucket"))
      annTopK(s, dir, queryCandidates(qprobe, bc))
    }),

    // K-means TRAINING (2 Lloyd steps) + final assignment — the job
    // that produces real IVF centroids (Similarity.ivfAssign's
    // deterministic stand-ins note exactly this). Each iteration is
    // one scan (codegen'd FloatDot argmax against literal centroids,
    // zero joins) + one ≤ k·d-row shuffle; see KMeans scaladoc for
    // the 100 TB story and the integer-quantization trick that makes
    // Lloyd's oracle-replayable.
    "sim_kmeans_assign" -> ((s, dir) => {
      val vq = KMeans.quantize(emb(s, dir))
      val cents = IndexCache.centroids(s, dir)
      vq.select(col("vec_id"), col("vq"),
          KMeans.scores(col("vq"), cents).as("s"))
        .select(col("vec_id"),
          KMeans.assign(col("s")).as("cluster"),
          graft.Det.dround(KMeans.bestDist(col("vq"), col("s")), 6).as("dist"))
    }),

    // SemDeDup (cluster-scoped semantic dedup, Abbas et al. 2023,
    // arXiv:2303.09540): k-means the embeddings, compare pairs ONLY
    // within a cluster, drop every vector with a close (cos ≥ τ)
    // lower-id clustermate. The scale contract vs the LSH path: no
    // recall loss to bucketing noise inside a cluster, and the
    // all-pairs cost is confined to (N/k)² per cluster — in
    // production k grows ∝ N (constant expected cluster size), so
    // total work is N·(N/k) = linear, and the cluster-key join ships
    // each embedding exactly ONCE (cost O(N·d), not per-pair; a
    // skewed cluster is AQE-split like any equi-join). Assignment
    // itself is the scan-stage literal-centroid argmax — no join.
    // Training reuses the sim_kmeans_assign job (2 Lloyd steps,
    // integer-quantized → oracle-replayable); dedup cosines run on
    // the ORIGINAL float embeddings, exact-parity with the oracle's
    // sequential folds.
    "ds_semantic_dedup" -> ((s, dir) => {
      val cents = IndexCache.centroids(s, dir)
      val assigned = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"),
          KMeans.assign(
            KMeans.scores(KMeans.quantized(col("embedding")), cents))
            .as("cluster"))
      val dropped = assigned.alias("a").join(assigned.alias("b"),
          col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
        .filter((Similarity.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm"))) >= SemDedupTau)
        .select(col("b.vec_id").as("vec_id")).distinct()
        .withColumn("is_dup", lit(true))
      assigned.select(col("vec_id"), col("cluster"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
    }),

    // Medoid / coreset selection: per cluster, the member with the
    // highest total cosine to its peers — the representative a
    // dataset-distillation or cluster-labeling pass keeps (one doc
    // standing in for the cluster). Same blocking argument as
    // SemDeDup directly above: pairs form ONLY within a cluster, so
    // the quadratic is bounded by cluster size (k ∝ N keeps that
    // flat — the ds_semantic_dedup scale probe's rule; a per-cluster
    // peer cap is the further bound if one cluster degenerates).
    // Per-pair cosines quantize to 1e-8 fixed-point longs, so the
    // per-member sums are order-free and the argmax replays exactly.
    // Singleton clusters have no peers and are (documented) absent.
    "sim_medoid" -> ((s, dir) => {
      val cents = IndexCache.centroids(s, dir)
      val assigned = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"),
          KMeans.assign(
            KMeans.scores(KMeans.quantized(col("embedding")), cents))
            .as("cluster"))
      val sums = assigned.alias("a").join(assigned.alias("b"),
          col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.cluster").as("cluster"), col("a.vec_id").as("vec_id"),
          floor((Similarity.dot(col("a.embedding"), col("b.embedding"))
            / (col("a.nrm") * col("b.nrm"))) * lit(1e8) + lit(0.5))
            .cast("long").as("cu"))
        .groupBy("cluster", "vec_id")
        .agg(sum(col("cu")).as("su"), count(lit(1)).as("n_peers"))
      sums.groupBy("cluster")
        .agg(max(struct(col("su"), (-col("vec_id")).as("nv"),
          col("vec_id"), col("n_peers"))).as("m"))
        .select(col("cluster"), col("m.vec_id").as("medoid"),
          (col("m.n_peers") + 1).as("n_members"),
          graft.Det.dround(
            col("m.su").cast("double") / lit(1e8) / col("m.n_peers"), 6)
            .as("mean_cos"))
    }),

    // Index self-measurement ("measure, don't guess" applied to the
    // index itself): candidate recall AND precision of the capped
    // banded-LSH stage against exact ground truth, on a bounded probe
    // subset (vec_id < RecallProbeN keeps the brute-force quadratic
    // at C(N,2) over the subset only — the standard offline recall
    // audit a search fleet runs per index build). The measured number
    // is brutally honest on THIS corpus: near-random vectors whose
    // "close" pairs sit barely over τ=0.3, where a 12-bit band
    // collides with probability (1−θ/π)¹² ≈ 0.2% — sign-LSH recalls
    // the nearly-parallel (true near-dup, cos ≳ 0.9 → ~30%/2 bands
    // before multi-probe) pairs, not the barely-similar ones. That
    // gap is precisely what sizes PlanesPerBand / bands / multi-probe
    // in SCALE.md, and why SemDeDup exists as the no-recall-loss
    // alternative within clusters. The audit reports single-probe and
    // multi-probe (Hamming ≤ 1) candidates side by side, so the
    // recall/candidate trade of probing is a measured number, not a
    // formula.
    "ds_lsh_recall" -> ((s, dir) => {
      val sub = emb(s, dir).filter(col("vec_id") < RecallProbeN)
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"))
      val truth = sub.alias("a").join(sub.alias("b"),
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          (Similarity.dot(col("a.embedding"), col("b.embedding"))
            / (col("a.nrm") * col("b.nrm"))).as("cos"))
        .filter(col("cos") >= 0.3)
      // Subset the INDEX before candidate generation, not the pairs
      // after: a candidate pair has both members in the subset, so
      // filtering the capped index first yields the identical pair set
      // — while the pair-side filter sits above least/greatest and
      // cannot push down, leaving the 13× probe join running at corpus
      // scale for a RecallProbeN-vector audit. (Caps are applied on
      // the FULL corpus first, so bucket membership is unchanged.)
      val bc = cappedBuckets(s, dir).filter(col("vec_id") < RecallProbeN)
      // truth (the quadratic probe-subset cos join) fed THREE
      // references and each candidate set two — materialize each
      // once, then ONE tagged union + one aggregation replaces five
      // 1-row aggs composed via crossJoin broadcasts (the
      // ds_fuzzy_recall fusion; coalesce keeps zero-rows = count's 0)
      val truthC = truth.localCheckpoint(eager = true)
      val cand = candidateIdPairs(bc).localCheckpoint(eager = true)
      val candP = probeCandidateIdPairs(bc).localCheckpoint(eager = true)
      val hit = truthC.join(cand, Seq("vec_a", "vec_b"), "left_semi")
      val hitP = truthC.join(candP, Seq("vec_a", "vec_b"), "left_semi")
      truthC.select(lit("t").as("k"))
        .unionByName(cand.select(lit("c").as("k")))
        .unionByName(hit.select(lit("h").as("k")))
        .unionByName(candP.select(lit("cp").as("k")))
        .unionByName(hitP.select(lit("hp").as("k")))
        .agg(
          coalesce(sum(when(col("k") === "t", 1L)), lit(0L)).as("n_true"),
          coalesce(sum(when(col("k") === "c", 1L)), lit(0L)).as("n_cand"),
          coalesce(sum(when(col("k") === "h", 1L)), lit(0L)).as("n_hit"),
          coalesce(sum(when(col("k") === "cp", 1L)), lit(0L))
            .as("n_cand_probe"),
          coalesce(sum(when(col("k") === "hp", 1L)), lit(0L))
            .as("n_hit_probe"))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          when(col("n_true") > 0, graft.Det.dround(
            col("n_hit").cast("double") / col("n_true"), 4)).as("recall"),
          when(col("n_cand") > 0, graft.Det.dround(
            col("n_hit").cast("double") / col("n_cand"), 4)).as("precision"),
          col("n_cand_probe"), col("n_hit_probe"),
          when(col("n_true") > 0, graft.Det.dround(
            col("n_hit_probe").cast("double") / col("n_true"), 4))
            .as("recall_probe"),
          when(col("n_cand_probe") > 0, graft.Det.dround(
            col("n_hit_probe").cast("double") / col("n_cand_probe"), 4))
            .as("precision_probe"))
    }),

    // Scalar quantization (SQ8) top-k — the third quantization
    // scheme beside PQ and IVF-PQ (FAISS ScalarQuantizer): each
    // dimension maps independently to an 8-bit code against
    // per-dimension [lo, hi] trained from the corpus; search DECODES
    // x̂ᵢ = loᵢ + qᵢ·(hiᵢ−loᵢ)/255 and ranks by inner product of the
    // decoded vectors (ranking raw codes would fold the per-dim
    // offsets into the score and systematically distort it —
    // measured: 0/10 top-1 agreement vs 10/10 decoded). Training
    // (the d-group min/max) runs ONCE per corpus via [[IndexCache]]
    // and rides the plan as two literal arrays — the first in-plan
    // form duplicated the whole stats subtree into both join
    // branches (Spark materializes no common subplans), re-scanning
    // the corpus per branch. Quantize and decode are scan-stage
    // transform-with-index; scoring is the codegen'd FloatDot over
    // the decoded floats. Decode is double IEEE ops rounded to
    // float — bit-identical in both engines, so the double dot fold
    // hash-matches. At 100 TB the SQ8 table is d bytes/vector (4×
    // under float32); the search plan has no shuffle at all beyond
    // the final per-query top-k.
    "sim_sq8_topk" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("embedding").isNotNull)
      val (loV, hiV) = IndexCache.sq8Cuts(s, dir)
      val (loA, hiA) = (array(loV.map(lit): _*), array(hiV.map(lit): _*))
      val dec = e
        .select(col("vec_id"), transform(col("embedding"), (x, i) => {
          val lo = element_at(loA, i + 1)
          val hi = element_at(hiA, i + 1)
          val code = when(hi === lo, lit(0.0)).otherwise(
            least(lit(255.0), greatest(lit(0.0),
              floor((x.cast("double") - lo) * 255.0 / (hi - lo) + 0.5))))
          (lo + code * (hi - lo) / 255.0).cast("float")
        }).as("dec"))
      val q = dec.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("dec").as("qdec"))
      val scored = dec.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          Similarity.dot(col("qdec"), col("dec")).as("score"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id"), graft.Det.dround(col("score"), 6).as("score"))
    }),

    // Product quantization — CODES: each vector's 4 sub-block
    // centroid ids (Jégou et al., "Product Quantization for Nearest
    // Neighbor Search", TPAMI 2011). Four independent KMeans
    // codebooks train over the sliced sub-vectors; encoding is four
    // scan-stage literal-centroid argmaxes — zero joins, zero
    // shuffle. At 100 TB the code table (vec_id + M small ints) is
    // what a search fleet keeps hot; the float vectors stay cold.
    "sim_pq_codes" -> ((s, dir) => {
      val vq = KMeans.quantize(emb(s, dir))
      val cents = IndexCache.pqCodebooks(s, dir)
      vq.select(col("vec_id") +: pqCodeCols(cents): _*)
    }),

    // Product quantization — ADC top-k search: each query computes a
    // per-block lookup table of scores against ALL centroids ONCE
    // (4×8 FloatDots per query, broadcast), then every candidate
    // costs 4 array lookups + 3 adds — no per-pair dot products at
    // all. Approximate by construction (scores quantize to the
    // codebook grid); ranking through the native TopKPerKey, ties on
    // vec_id. Fixed left-to-right add order keeps the double sum
    // bit-identical to the oracle's join chain.
    "sim_pq_topk" -> ((s, dir) => {
      val vq = KMeans.quantize(emb(s, dir))
      val cents = IndexCache.pqCodebooks(s, dir)
      val codes = vq.select(col("vec_id") +: pqCodeCols(cents): _*)
      val q = vq.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id") +: pqLutCols(cents): _*)
      adcTop2(codes.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), adcScore.as("score")))
    }),

    // IVF-PQ — the standard production composition (FAISS's default
    // index family): the IVF centroid prunes the candidate set to
    // one posting list (equi-join, ~1/k of the corpus), then ADC
    // ranks within the list via the same broadcast per-query LUT —
    // candidate cost stays 4 lookups, and neither the float vectors
    // nor full pairwise dots appear anywhere in the search path.
    // The index frame (vec_id, centroid, c0..c3) is built in ONE
    // scan-stage projection.
    "sim_ivfpq_topk" -> ((s, dir) => {
      val base = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"),
          KMeans.quantized(col("embedding")).as("vq"))
      val cents = IndexCache.pqCodebooks(s, dir)
      val index = base.select(Seq(col("vec_id"),
        Similarity.ivfAssign(col("embedding")).as("centroid")) ++
        pqCodeCols(cents): _*)
      val q = base.filter(col("vec_id") < 10)
        .select(Seq(col("vec_id").as("query_id"),
          Similarity.ivfAssign(col("embedding")).as("centroid")) ++
          pqLutCols(cents): _*)
      adcTop2(index.join(broadcast(q), Seq("centroid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), adcScore.as("score")))
    }),

    // ...and the kNN-GRAPH dedup — ds_embed_dedup's exact retention
    // rule (cos ≥ 0.3 pairs → components → non-representatives drop)
    // with candidates from the NN-Descent graph instead of the LSH
    // buckets. The two strategies bound the candidate set differently
    // (bucket caps vs K-per-node) and their survivor sets are
    // directly comparable on the same corpus — the production choice
    // is whichever index the fleet already maintains.
    "ds_knn_dedup" -> ((s, dir) => {
      val close = knnGraph(s, dir).filter(col("cos") >= 0.3)
        .select(least(col("src"), col("dst")).as("vec_a"),
          greatest(col("src"), col("dst")).as("vec_b"))
        .distinct()
      // star-alternation CC, not min-propagation: the K-regular graph
      // thresholded at a bar sign-LSH barely recalls is chain-shaped
      // (barely-similar vectors linking into long paths), and plain
      // propagation is O(diameter) rounds — it measurably failed to
      // converge in 20 on the 50-vector test slice, while the star
      // form is O(log n) by construction
      val losers = Components.largeSmallStar(close, "vec_a", "vec_b")
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("vec_id"))
      emb(s, dir).select(col("vec_id"))
        .join(losers, Seq("vec_id"), "left_anti")
    }),

    // k-NN graph via NN-Descent — the graph-ANN family (the index
    // behind HNSW-style search and kNN-graph dedup/SemDeDup
    // clustering) built the distributed way: iterate "a neighbor of
    // my neighbor is probably my neighbor" — candidate = undirected
    // neighbor-of-neighbor closure, exact-cosine score, keep-K — for
    // KnnRounds rounds from a deterministic seed. Each round is
    // id-only joins + one embedding re-join, O(N·K²) pairs: linear
    // in corpus size where the brute-force graph is quadratic.
    "sim_knn_graph" -> ((s, dir) => {
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("dst"))
      knnGraph(s, dir).withColumn("rank", row_number().over(w).cast("long"))
        .select(col("src").as("vec_id"), col("rank"),
          col("dst").as("nbr_id"), graft.Det.dround(col("cos"), 6).as("cos"))
    }),

    // ...the SEARCH side of the graph index: greedy monotone beam
    // from a fixed entry node, expanding along graph edges — the
    // HNSW-style query loop with B rows of per-query state.
    "sim_knn_search" -> ((s, dir) => knnSearch(s, dir)),

    // ...and the graph auditing its own recall (the ds_lsh_recall
    // convention: an index ships with a measured recall number, not
    // a formula): final-graph neighbors vs brute-force cosine top-K
    // truth on the vec_id % 10 probe subset. Truth is quadratic ONLY
    // over the bounded probe slice (broadcast query side); both
    // counts reduce to 1-row aggs composed via broadcast — no
    // driver-side arithmetic.
    "sim_knn_graph_recall" -> ((s, dir) => {
      // recall@KnnK: the audit compares the graph's TOP-KnnK lists
      // (cut from the KnnBuildK kept lists) against brute-force
      // top-KnnK truth — same K on both sides, so the number is
      // comparable across build configs
      val g = graft.plans.TopKPerKey.topKPerKey(
          knnGraph(s, dir).filter(col("src") % 10 === 0),
          keys = Seq(col("src")),
          order = Seq(col("cos").desc, col("dst").asc), k = KnnK)
        .select(col("src"), col("dst"))
      recallRow(g, bruteTruthFor(s, dir))
    }),

    // ...and the SEARCH auditing its recall the same way: what the
    // beam actually surfaces for the probe queries vs brute-force
    // truth — the number the HNSW-layer comparison (and the
    // searchEntriesOf scaladoc) cites. Same bounded probe slice, same
    // broadcast-composed one-row aggs.
    "sim_knn_search_recall" -> ((s, dir) => {
      val found = knnSearch(s, dir)
        .select(col("qid").as("src"), col("nbr_id").as("dst"))
      recallRow(found, bruteTruthFor(s, dir))
    }),

    // STRUCTURED HNSW search — the published hierarchy in its
    // deterministic 2-level form: a layer-1 NN-Descent graph over
    // every 8th node (long links by construction), beam rounds
    // descending coarse → fine ([[hnswSearch]]). The point, pinned
    // by the recall twin below: equal beam width, FEWER base-graph
    // rounds than the flat search, recall held — the upper layer
    // replaces one full-graph expansion with a 8×-smaller one.
    "sim_hnsw_search" -> ((s, dir) => hnswSearch(s, dir)),

    "sim_hnsw_recall" -> ((s, dir) => {
      val found = hnswSearch(s, dir)
        .select(col("qid").as("src"), col("nbr_id").as("dst"))
      recallRow(found, bruteTruthFor(s, dir))
    }),

    // Top-K principal components of the embedding matrix: ONE
    // map-side-combined Gramian pass (≤ d(d+1)/2 rows per partition
    // cross the exchange), then the fixed-point power + Hotelling-
    // deflation loop on driver-bounded d² state (Pca.scaladoc) — the
    // whitening/rotation front-end of an embedding index, now a
    // k-dim rotation rather than one direction. Output is K×64
    // (component, dim, v) rows in VNorm units, integer-exact in both
    // engines (the oracle unrolls all K chains and the deflations).
    "sim_pca_power" -> ((s, dir) => {
      val vs = IndexCache.pcaVectors(s, dir)
      import s.implicits._
      (for { (v, c) <- vs.zipWithIndex; (u, i) <- v.zipWithIndex }
        yield (c, i, u)).toDF("component", "dim", "v")
    }),

    // Corpus projected onto the PC: the eigenvector (from the same
    // bounded-state loop) unrolled into a 64-term scan-stage integer
    // dot — no joins, no shuffles. Scores stay in raw integer units
    // (scale-4 q × VNorm v — max |score| ≈ 4e10, deep inside a
    // long), so both engines emit identical longs with no division
    // anywhere. The whitened coordinate every downstream consumer
    // (drift monitors, index rotations, PCA'd dedup) reads.
    "sim_pca_project" -> ((s, dir) => {
      val v = IndexCache.pcaVectors(s, dir).head
      emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), pcScore(v).as("score"))
    }),

    // Index-production composition — the job an embedding-index team
    // actually ships, as ONE oracled query: train/load the coarse
    // quantizer and the PC (both IndexCache artifacts — a production
    // run loads, not retrains), assign every vector to its posting
    // list, project onto the PC, and emit the per-list manifest
    // (size, share, PC-coordinate range and sum — the balance +
    // drift stats an index owner monitors). One scan over the corpus
    // (assignment and projection are both scan-stage expressions),
    // one partial-agg rollup to k rows, the total as a broadcast
    // one-row frame.
    // Embedding-drift monitor at SUBSPACE grain: the top-K PCs of
    // the OLD corpus snapshot (even vec_ids — the deterministic
    // stand-in for a time split) against the top-K of the full
    // corpus, compared as subspaces — affinity = mean squared
    // cross-cosine (‖UᵀW‖²_F/k for orthonormal bases, the standard
    // principal-angle summary), NOT one near-degenerate direction
    // (the near-isotropic corpus makes single-vector cosine noisy;
    // the k-dim subspace is what the rotation actually uses). An
    // index owner watches affinity decay / diagonal cosines flip to
    // decide when the rotation and the coarse quantizer need
    // retraining. Two Gramian passes (each the sim_pca_power shape),
    // driver math at d² state, ONE summary row out. The spec pins
    // the self-drift identity rather than a fixture-specific decay.
    "sim_pca_drift" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val base = emb(s, dir).filter(col("embedding").isNotNull)
      val old = Pca.powerIterateK(
        Pca.gramUpper(base.filter(col("vec_id") % 2 === 0))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
          .toSeq, PcaDim, PcaK)
      val all = IndexCache.pcaVectors(s, dir)
      val (aff, diagMin, flipped, maxDelta) = pcaSubspaceStats(old, all)
      Seq((PcaK, aff, diagMin, flipped, maxDelta))
        .toDF("k", "affinity_e6", "diag_cos_min_e6", "n_flipped",
          "max_abs_delta")
    }),

    "sim_index_e2e" -> ((s, dir) => {
      val v = IndexCache.pcaVectors(s, dir).head
      val lists = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          Similarity.ivfAssign(col("embedding")).as("centroid"),
          pcScore(v).as("pc"))
        .groupBy("centroid")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          min(col("pc")).as("pc_min"), max(col("pc")).as("pc_max"),
          sum(col("pc")).as("pc_sum"))
      val total = lists.agg(sum(col("n_vecs")).as("total"))
      lists.crossJoin(broadcast(total))
        .select(col("centroid"), col("n_vecs"),
          graft.Det.dround(col("n_vecs").cast("double") /
            col("total").cast("double"), 4).as("share"),
          col("pc_min"), col("pc_max"), col("pc_sum"))
    })
  )

  /** The PC projection as a 64-term codegen'd integer dot against
    * the literal eigenvector. */
  private def pcScore(v: Array[Long]): Column =
    (0 until PcaDim).map(j =>
      Pca.quant(get(col("embedding"), lit(j))) * lit(v(j)))
      .reduce(_ + _)

  /** Quantized cosine of two fixed-point vectors. Sums stay ≤
    * 64·10¹⁰ — exact doubles — and sqrt/÷ are IEEE-correctly-rounded
    * in both engines, so the e6 quantization replays (the Det
    * caveat). */
  private[operators] def cosE6(a: Array[Long], b: Array[Long]): Long = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val n1 = a.map(x => x * x).sum
    val n2 = b.map(x => x * x).sum
    math.floor(dot.toDouble * 1e6 /
      (math.sqrt(n1.toDouble) * math.sqrt(n2.toDouble)) + 0.5).toLong
  }

  /** sim_pca_drift's driver-side SUBSPACE comparison of two top-K
    * bases: (affinity_e6, diag_cos_min_e6, n_flipped, max_abs_delta).
    * Affinity = Σₐᵦ cos²(oldₐ, newᵦ)/K in e6 units — each cos_e6² is
    * an exact integer ≤ 10¹², the K² sum stays < 2⁵³, so the double
    * arithmetic is order-free and the floor replays. Flip/delta
    * stats pair same-index components (the rotation consumer's
    * view). */
  private[operators] def pcaSubspaceStats(
      old: Seq[Array[Long]], nw: Seq[Array[Long]])
      : (Long, Long, Long, Long) = {
    val k = old.size
    val cross = for (a <- old; b <- nw) yield cosE6(a, b)
    val affinity = math.floor(
      cross.map(c => c.toDouble * c).sum / (k * 1e6) + 0.5).toLong
    val diagMin = (0 until k).map(c => cosE6(old(c), nw(c))).min
    val flipped = (0 until k).map(c =>
      old(c).zip(nw(c)).count { case (x, y) => x * y < 0 }.toLong).sum
    val maxDelta = (0 until k).map(c =>
      old(c).zip(nw(c)).map { case (x, y) => math.abs(x - y) }.max).max
    (affinity, diagMin, flipped, maxDelta)
  }

  /** Embedding dimensionality (TESTDATA: fixed 64 at every SF). The
    * oracle SQL is a static string, so the dim is a compile-time
    * constant; PcaSpec asserts the fixture agrees. */
  val PcaDim = 64

  /** Principal components extracted by the deflation loop — enough
    * to exercise two genuine deflation rounds while the oracle's
    * unrolled K×Iters CTE chain stays cheap (64-row matvecs). */
  val PcaK = 3

  /** SemDeDup cosine threshold: same near-dup bar as the LSH path
    * (ds_embed_dedup), so the two strategies are comparable on the
    * same corpus. */
  val SemDedupTau = 0.3

  /** ds_lsh_recall probe-subset bound: ground truth is brute-forced
    * over C(RecallProbeN, 2) pairs only, whatever the corpus size. */
  val RecallProbeN = 200

  /** sim_ivf_topk_probe nprobe: posting lists visited per query. */
  val IvfNprobe = 2

  /** Product-quantization geometry: 64 dims → [[PqBlocks]] sub-blocks
    * of [[PqSubDim]], one KMeans codebook (k = [[KMeans.K]]) per
    * block. A vector's PQ code is its 4 sub-centroid ids — the
    * 256-byte float vector compressed to ~1.5 bytes. Production PQ
    * uses k = 256 per block (8-bit codes); k = 8 here keeps the
    * codebooks on the oracle-pinned KMeans fixture — the geometry,
    * not the k, is the operator. */
  val PqBlocks = 4
  val PqSubDim = 16

  // PQ codebook training lives in [[IndexCache.pqCodebooks]] — one
  // training per corpus dir, shared by the three PQ queries (slicing
  // commutes with the element-wise quantization, so `embedding[lo:hi]`
  // quantized replays it in SQL).

  /** Per-block code columns c0..c3 for a quantized-vector frame —
    * the same scan-stage literal-centroid argmax as IVF assignment,
    * once per block. */
  private def pqCodeCols(cents: Seq[Seq[Array[Double]]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, m) =>
      KMeans.assign(KMeans.scores(
        slice(col("vq"), m * PqSubDim + 1, PqSubDim), c)).as(s"c$m")
    }

  /** Query-side ADC lookup tables s0..s3: each block's sub-vector
    * scored against that block's full codebook, ONCE per query. */
  private def pqLutCols(cents: Seq[Seq[Array[Double]]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, m) =>
      KMeans.scores(slice(col("vq"), m * PqSubDim + 1, PqSubDim), c)
        .as(s"s$m")
    }

  /** ADC score of a (codes × luts) row: fixed left-to-right add
    * order — bit-identical to the oracle's l0+l1+l2+l3 join chain. */
  private def adcScore: Column =
    col("s0")(col("c0")) + col("s1")(col("c1")) +
      col("s2")(col("c2")) + col("s3")(col("c3"))

  /** Top-2-per-query tail shared by the ADC searches: native
    * bounded-heap selection, rank labels, dround'd score. */
  private def adcTop2(scored: DataFrame): DataFrame = {
    val top = graft.plans.TopKPerKey.topKPerKey(scored,
      keys = Seq(col("query_id")),
      order = Seq(col("score").desc, col("vec_id").asc), k = 2)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("vec_id"),
        graft.Det.dround(col("score"), 6).as("score"))
  }

  /** Deduped (query_id, vec_id) candidates of a query-side bucket
    * probe frame against the corpus bucket index. */
  private def queryCandidates(queryBuckets: DataFrame,
                              corpusBuckets: DataFrame): DataFrame =
    queryBuckets.join(corpusBuckets, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()

  /** Exact-cosine re-rank of candidate ids, top-3 per query through
    * the native TopKPerKey; the rank-labeling window touches only the
    * ≤ 3·|Q| survivors. */
  private def annTopK(s: SparkSession, dir: String,
                      cand: DataFrame): DataFrame = {
    val v = emb(s, dir).select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val q = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        Similarity.norm(col("embedding")).as("qn"))
    val scored = cand.join(v, Seq("vec_id")).join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (Similarity.dot(col("qe"), col("embedding"))
          / (col("qn") * col("nrm"))).as("cos"))
    val top = graft.plans.TopKPerKey.topKPerKey(scored,
      keys = Seq(col("query_id")),
      order = Seq(col("cos").desc, col("vec_id").asc), k = 3)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("vec_id"),
        graft.Det.dround(col("cos"), 6).as("cos"))
  }

  /** Shared SQL fragments (dot/cosine as sequential list folds —
    * bit-identical to the Spark expressions; single source in
    * [[graft.functions.Similarity.sqlDot]]). */
  private def sqlDot(a: String, b: String): String = Similarity.sqlDot(a, b)

  private def sqlCos(a: String, b: String): String = Similarity.sqlCos(a, b)

  private val planesCte =
    s"""planes AS (SELECT j, d,
      |    ((('0x' || substr(md5('p' || j || '_' || d), 1, 8))::BIGINT) % 2001) - 1000 AS w
      |  FROM UNNEST(generate_series(0, ${Similarity.NumPlanes - 1})) AS a(j),
      |       UNNEST(generate_series(0, 63)) AS b(d)),
      |parr AS (SELECT j, list(CAST(w AS DOUBLE) ORDER BY d) AS warr
      |         FROM planes GROUP BY j),
      |dots AS (SELECT e.vec_id, p.j,
      |    list_reduce(list_transform(e.embedding,
      |      (x, i) -> CAST(x AS DOUBLE) * p.warr[i]), (a, b) -> a + b) AS dot
      |  FROM embeddings e CROSS JOIN parr p
      |  WHERE e.embedding IS NOT NULL),
      |buckets AS (SELECT vec_id, j // ${Similarity.PlanesPerBand} AS band,
      |    CAST(sum(CASE WHEN dot > 0
      |             THEN 1::BIGINT << (j % ${Similarity.PlanesPerBand})
      |             ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id, j // ${Similarity.PlanesPerBand})""".stripMargin

  private val ivfCte =
    """cents AS (SELECT j, d,
      |    ('0x' || substr(md5('c' || j || '_' || d), 1, 8))::BIGINT % 2001 - 1000 AS iw
      |  FROM UNNEST(generate_series(0, 7)) AS a(j),
      |       UNNEST(generate_series(0, 63)) AS b(d)),
      |carr AS (SELECT j,
      |    list(CAST(CAST(iw / 1000.0 AS FLOAT) AS DOUBLE) ORDER BY d) AS warr,
      |    CAST(sum(iw * iw) AS DOUBLE) / 1e6 AS c2
      |  FROM cents GROUP BY j),
      |iscores AS (SELECT e.vec_id, c.j,
      |    2.0 * list_reduce(list_transform(e.embedding,
      |      (x, i) -> CAST(x AS DOUBLE) * c.warr[i]), (a, b) -> a + b) - c.c2 AS score
      |  FROM embeddings e CROSS JOIN carr c
      |  WHERE e.embedding IS NOT NULL),
      |iranked AS (SELECT vec_id, j,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, j) AS rn
      |  FROM iscores),
      |assign AS (SELECT vec_id, CAST(j AS INTEGER) AS centroid
      |           FROM iranked WHERE rn = 1)""".stripMargin

  /** The four PQ sub-block trainings as prefixed CTE groups
    * (b0..b3), each over its 16-dim embedding slice. */
  private lazy val pqTrainAllSql: String =
    (0 until PqBlocks).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      KMeans.sqlTrainCtes(s"b$m", 2, s"embedding[$lo:$hi]")
    }.mkString(",\n")

  /** The PQ code table as a CTE: the four per-block assignments
    * joined on id (shared by all three PQ oracles). */
  private lazy val pqCodesCteSql: String =
    """codes AS (SELECT a0.vec_id, a0.cluster AS c0, a1.cluster AS c1,
      |       a2.cluster AS c2, a3m.cluster AS c3
      |  FROM b0a3 a0 JOIN b1a3 a1 USING (vec_id)
      |       JOIN b2a3 a2 USING (vec_id) JOIN b3a3 a3m USING (vec_id))""".stripMargin

  /** Per-query ADC lookup tables: each block's query sub-vectors
    * scored against its trained centroids (`b{m}c2`). */
  private lazy val pqLutSql: String =
    (0 until PqBlocks).map(m =>
      s"""lut$m AS (SELECT q.vec_id AS query_id, c.j,
         |    2.0 * ${KMeans.sqlVqDot("q.vq", "c.c")} - c.c2 AS s
         |  FROM (SELECT * FROM b${m}vq WHERE vec_id < 10) q
         |  CROSS JOIN b${m}c2 c)""".stripMargin).mkString(",\n")

  /** Capped bucket membership + deduped candidate pairs — the SQL
    * mirror of [[cappedBuckets]] / [[closePairs]]'s candidate stage. */
  private val bcapCandCtes =
    s"""bcap AS (SELECT vec_id, band, bucket FROM (
       |  SELECT vec_id, band, bucket,
       |         row_number() OVER (PARTITION BY band, bucket
       |                            ORDER BY vec_id) AS rn
       |  FROM buckets) WHERE rn <= $AnnBucketCap),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bcap a JOIN bcap b
       |           ON a.band = b.band AND a.bucket = b.bucket
       |          AND a.vec_id < b.vec_id)""".stripMargin

  /** Multi-probe candidate pairs (band keys within Hamming distance
    * 1) — the SQL mirror of [[probeCandidateIdPairs]] over bcap. */
  private val probeCandCtes =
    s"""pprobe AS (${sqlProbeSelect("bcap", "vec_id")}),
       |pcand AS (SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
       |                 greatest(a.vec_id, b.vec_id) AS vec_b
       |          FROM pprobe a JOIN bcap b
       |            ON a.band = b.band AND a.bucket = b.bucket
       |           AND a.vec_id <> b.vec_id)""".stripMargin

  /** Shared PCA oracle prelude + the K unrolled power loops with
    * their deflations + sign fixes — the SQL twin of
    * gramUpper∘powerIterateK. Yields `vecs(component, dim, v)` and
    * the component-0 alias `vec`. */
  private val pcaCtes: String = Pca.sqlChainK(
    "SELECT vec_id, embedding FROM embeddings " +
      "WHERE embedding IS NOT NULL", PcaDim, PcaK)

  override def oracles: Map[String, String] = Map(
    "sim_pca_power" ->
      s"""WITH $pcaCtes
         |SELECT component, dim, v FROM vecs""".stripMargin,

    "sim_pca_project" ->
      s"""WITH $pcaCtes
         |SELECT q.vec_id, CAST(sum(q.q * vec.v) AS BIGINT) AS score
         |FROM q JOIN vec ON vec.dim = q.dim
         |GROUP BY q.vec_id""".stripMargin,

    "sim_pca_drift" ->
      s"""WITH $pcaCtes,
         |${Pca.sqlChainK(
            "SELECT vec_id, embedding FROM embeddings " +
              "WHERE embedding IS NOT NULL AND vec_id % 2 = 0",
            PcaDim, PcaK, "o")},
         |onrm AS (SELECT component, CAST(sum(v * v) AS BIGINT) AS nn
         |  FROM ovecs GROUP BY component),
         |nnrm AS (SELECT component, CAST(sum(v * v) AS BIGINT) AS nn
         |  FROM vecs GROUP BY component),
         |cross_cos AS (SELECT o.component AS a, n.component AS b,
         |    CAST(floor(CAST(sum(o.v * n.v) AS DOUBLE) * 1e6 /
         |      (sqrt(CAST(any_value(oz.nn) AS DOUBLE)) *
         |       sqrt(CAST(any_value(nz.nn) AS DOUBLE))) + 0.5)
         |      AS BIGINT) AS c
         |  FROM ovecs o JOIN vecs n ON o.dim = n.dim
         |  JOIN onrm oz ON oz.component = o.component
         |  JOIN nnrm nz ON nz.component = n.component
         |  GROUP BY o.component, n.component),
         |same AS (SELECT o.component AS c,
         |    CAST(sum(CASE WHEN o.v * n.v < 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS flips,
         |    CAST(max(abs(o.v - n.v)) AS BIGINT) AS delta
         |  FROM ovecs o JOIN vecs n
         |    ON o.component = n.component AND o.dim = n.dim
         |  GROUP BY o.component)
         |SELECT CAST($PcaK AS INTEGER) AS k,
         |  (SELECT CAST(floor(sum(CAST(c AS DOUBLE) * c) /
         |     ($PcaK * 1e6) + 0.5) AS BIGINT) FROM cross_cos)
         |    AS affinity_e6,
         |  (SELECT min(c) FROM cross_cos WHERE a = b)
         |    AS diag_cos_min_e6,
         |  (SELECT CAST(sum(flips) AS BIGINT) FROM same) AS n_flipped,
         |  (SELECT max(delta) FROM same) AS max_abs_delta""".stripMargin,

    "sim_index_e2e" ->
      s"""WITH $pcaCtes,
         |$ivfCte,
         |proj AS (SELECT q.vec_id, CAST(sum(q.q * vec.v) AS BIGINT) AS pc
         |  FROM q JOIN vec ON vec.dim = q.dim GROUP BY q.vec_id),
         |lists AS (SELECT a.centroid, CAST(count(*) AS BIGINT) AS n_vecs,
         |    min(pc) AS pc_min, max(pc) AS pc_max,
         |    CAST(sum(pc) AS BIGINT) AS pc_sum
         |  FROM assign a JOIN proj USING (vec_id) GROUP BY a.centroid),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM lists)
         |SELECT centroid, n_vecs,
         |  ${graft.Det.droundSql(
             "CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)", 4)} AS share,
         |  pc_min, pc_max, pc_sum
         |FROM lists, tot""".stripMargin,

    "sim_cosine_topk" ->
      s"""SELECT query_id, rank, vec_id, floor(cos * 1e6 + 0.5) / 1e6 AS cos FROM (
         |  SELECT q.vec_id AS query_id, v.vec_id,
         |         ${sqlCos("q.embedding", "v.embedding")} AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${sqlCos("q.embedding", "v.embedding")} DESC,
         |                    v.vec_id) AS rank
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
         |  CROSS JOIN embeddings v
         |  WHERE v.vec_id <> q.vec_id)
         |WHERE rank <= 3""".stripMargin,

    "sim_ivf_assign" ->
      s"""WITH $ivfCte
         |SELECT vec_id, centroid FROM assign""".stripMargin,

    "sim_ivf_balance" ->
      s"""WITH $ivfCte
         |SELECT centroid, count(*) AS n_vecs,
         |       ${graft.Det.droundSql("count(*)::DOUBLE / sum(count(*)) OVER ()", 4)}
         |         AS share
         |FROM assign GROUP BY centroid""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH $ivfCte,
         |av AS (SELECT a.vec_id, a.centroid, e.embedding
         |       FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id),
         |pairs AS (SELECT q.vec_id AS query_id, v.vec_id,
         |    ${sqlCos("q.embedding", "v.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCos("q.embedding", "v.embedding")} DESC,
         |               v.vec_id) AS rank
         |  FROM (SELECT * FROM av WHERE vec_id < 10) q
         |  JOIN av v ON q.centroid = v.centroid AND v.vec_id <> q.vec_id)
         |SELECT query_id, rank, vec_id, floor(cos * 1e6 + 0.5) / 1e6 AS cos
         |FROM pairs WHERE rank <= 2""".stripMargin,

    "sim_ivf_topk_probe" ->
      s"""WITH $ivfCte,
         |probes AS (SELECT vec_id, CAST(j AS INTEGER) AS centroid
         |           FROM iranked WHERE rn <= $IvfNprobe),
         |av AS (SELECT a.vec_id, a.centroid, e.embedding
         |       FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id),
         |qp AS (SELECT p.vec_id AS query_id, p.centroid, e.embedding AS qe
         |       FROM probes p JOIN embeddings e ON p.vec_id = e.vec_id
         |       WHERE p.vec_id < 10),
         |pairs AS (SELECT q.query_id, v.vec_id,
         |    ${sqlCos("q.qe", "v.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlCos("q.qe", "v.embedding")} DESC,
         |               v.vec_id) AS rank
         |  FROM qp q JOIN av v
         |    ON q.centroid = v.centroid AND v.vec_id <> q.query_id)
         |SELECT query_id, rank, vec_id, floor(cos * 1e6 + 0.5) / 1e6 AS cos
         |FROM pairs WHERE rank <= 2""".stripMargin,

    "sim_lsh_buckets" ->
      s"""WITH $planesCte
         |SELECT vec_id, band, bucket FROM buckets""".stripMargin,

    "sim_ann_pairs" ->
      s"""WITH $planesCte,
         |$bcapCandCtes
         |SELECT vec_a, vec_b,
         |       floor(${sqlCos("ea.embedding", "eb.embedding")} * 1e6 + 0.5) / 1e6 AS cos
         |FROM cand
         |JOIN embeddings ea ON vec_a = ea.vec_id
         |JOIN embeddings eb ON vec_b = eb.vec_id
         |WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.3""".stripMargin,

    "sim_ann_pairs_probe" ->
      s"""WITH $planesCte,
         |$bcapCandCtes,
         |$probeCandCtes
         |SELECT vec_a, vec_b,
         |       floor(${sqlCos("ea.embedding", "eb.embedding")} * 1e6 + 0.5) / 1e6 AS cos
         |FROM pcand
         |JOIN embeddings ea ON vec_a = ea.vec_id
         |JOIN embeddings eb ON vec_b = eb.vec_id
         |WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.3""".stripMargin,

    // rn=1 under (raw cos DESC, eval_id) ⇔ the engine's
    // max(struct(cos, −eval_id)) — both engines compute the same
    // IEEE cosine, so the raw ordering agrees; only the OUTPUT cos
    // is rounded
    "ds_decon_semantic" ->
      s"""WITH ev AS (SELECT vec_id AS eval_id, embedding AS evec
         |            FROM embeddings WHERE vec_id % 50 = 0),
         |cor AS (SELECT vec_id, embedding FROM embeddings
         |        WHERE vec_id % 50 <> 0),
         |p AS (SELECT cor.vec_id, ev.eval_id,
         |        ${sqlCos("cor.embedding", "ev.evec")} AS cos
         |      FROM cor CROSS JOIN ev),
         |f AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, eval_id) AS rn
         |      FROM p WHERE cos >= 0.3)
         |SELECT vec_id, eval_id, ${graft.Det.droundSql("cos", 6)} AS cos
         |FROM f WHERE rn = 1""".stripMargin,

    // transitive closure over the close pairs, then drop every
    // non-representative node — same recursive-CTE shape as
    // ds_dup_groups/ds_dedup_apply
    "ds_embed_dedup" ->
      s"""WITH RECURSIVE $planesCte,
         |$bcapCandCtes,
         |close AS (SELECT vec_a, vec_b FROM cand
         |  JOIN embeddings ea ON vec_a = ea.vec_id
         |  JOIN embeddings eb ON vec_b = eb.vec_id
         |  WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.3),
         |e AS (SELECT vec_a AS a, vec_b AS b FROM close
         |      UNION SELECT vec_b, vec_a FROM close),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |groups AS (SELECT n AS vec_id, min(m) AS rep FROM (
         |    SELECT a AS n, least(a, b) AS m FROM reach
         |    UNION ALL
         |    SELECT DISTINCT a, a FROM e)
         |  GROUP BY n)
         |SELECT v.vec_id FROM embeddings v
         |WHERE NOT EXISTS (SELECT 1 FROM groups g
         |                  WHERE g.vec_id = v.vec_id AND g.vec_id <> g.rep)""".stripMargin,

    "sim_ann_topk" ->
      s"""WITH $planesCte,
         |$bcapCandCtes,
         |qcand AS (SELECT DISTINCT q.vec_id AS query_id, v.vec_id
         |          FROM (SELECT * FROM bcap WHERE vec_id < 10) q
         |          JOIN bcap v ON q.band = v.band AND q.bucket = v.bucket
         |           AND v.vec_id <> q.vec_id),
         |$annTopKSql""".stripMargin,

    "sim_ann_topk_probe" ->
      s"""WITH $planesCte,
         |$bcapCandCtes,
         |qprobe AS (${sqlProbeSelect("(SELECT * FROM bcap WHERE vec_id < 10)",
                        "vec_id AS query_id")}),
         |qcand AS (SELECT DISTINCT q.query_id, v.vec_id
         |          FROM qprobe q
         |          JOIN bcap v ON q.band = v.band AND q.bucket = v.bucket
         |           AND v.vec_id <> q.query_id),
         |$annTopKSql""".stripMargin,

    // two unrolled Lloyd steps over the quantized embeddings (init =
    // vec_id 0..k-1 with ‖c‖² folds; c1/c2 = per-cluster
    // exact-integer means rounded through FLOAT like the engine's
    // literal centroids), then the final assignment against c2 — a3
    // mirrors the engine's post-train assign. (KMeans.sqlTrainCtes
    // is the shared fragment source, like Similarity.sqlDot for the
    // cosine family.)
    "sim_kmeans_assign" ->
      s"""WITH ${KMeans.sqlTrainCtes(2)}
         |SELECT vec_id, cluster, ${graft.Det.droundSql("dist", 6)} AS dist
         |FROM a3""".stripMargin,

    // decode = double IEEE ops rounded to FLOAT (identical on both
    // engines); the dot is then the shared strict double fold
    "sim_sq8_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE embedding IS NOT NULL),
         |st AS (SELECT i AS d, min(CAST(embedding[i] AS DOUBLE)) AS lo,
         |              max(CAST(embedding[i] AS DOUBLE)) AS hi
         |       FROM e, UNNEST(generate_series(1, ${Similarity.Dims})) AS g(i)
         |       GROUP BY i),
         |cuts AS (SELECT list(lo ORDER BY d) AS lo,
         |                list(hi ORDER BY d) AS hi FROM st),
         |dec AS (SELECT vec_id, list_transform(embedding, (x, i) ->
         |          CAST(cuts.lo[i] +
         |            CASE WHEN cuts.hi[i] = cuts.lo[i] THEN 0.0
         |                 ELSE least(255.0, greatest(0.0,
         |                   floor((CAST(x AS DOUBLE) - cuts.lo[i]) * 255.0
         |                         / (cuts.hi[i] - cuts.lo[i]) + 0.5)))
         |            END * (cuts.hi[i] - cuts.lo[i]) / 255.0 AS FLOAT))
         |          AS dec
         |        FROM e CROSS JOIN cuts),
         |sc AS (SELECT qq.vec_id AS query_id, v.vec_id,
         |         ${Similarity.sqlDot("qq.dec", "v.dec")} AS score
         |       FROM (SELECT * FROM dec WHERE vec_id < 10) qq
         |       CROSS JOIN dec v WHERE v.vec_id <> qq.vec_id)
         |SELECT query_id, rank, vec_id,
         |       ${graft.Det.droundSql("score", 6)} AS score FROM (
         |  SELECT query_id, vec_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id) AS rank
         |  FROM sc) WHERE rank <= 5""".stripMargin,

    // four prefixed sub-block trainings (b0..b3 over embedding
    // slices); codes = the four per-block assignments joined on id
    "sim_pq_codes" ->
      s"""WITH $pqTrainAllSql,
         |$pqCodesCteSql
         |SELECT vec_id, c0, c1, c2, c3 FROM codes""".stripMargin,

    // same trainings; per-query LUT against each block's trained
    // centroids (b{m}c2), then the ADC score as the fixed-order
    // l0+l1+l2+l3 join chain
    "sim_pq_topk" ->
      s"""WITH $pqTrainAllSql,
         |$pqCodesCteSql,
         |$pqLutSql,
         |scored AS (SELECT l0.query_id, v.vec_id,
         |    l0.s + l1.s + l2.s + l3.s AS score
         |  FROM codes v
         |  JOIN lut0 l0 ON l0.j = v.c0
         |  JOIN lut1 l1 ON l1.query_id = l0.query_id AND l1.j = v.c1
         |  JOIN lut2 l2 ON l2.query_id = l0.query_id AND l2.j = v.c2
         |  JOIN lut3 l3 ON l3.query_id = l0.query_id AND l3.j = v.c3
         |  WHERE v.vec_id <> l0.query_id)
         |SELECT query_id, rank, vec_id,
         |       floor(score * 1e6 + 0.5) / 1e6 AS score FROM (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 2""".stripMargin,

    // brute-force truth over the probe subset vs the capped-LSH
    // candidate set — counts + guarded ratio metrics
    "ds_lsh_recall" ->
      s"""WITH $planesCte,
         |$bcapCandCtes,
         |$probeCandCtes,
         |sub AS (SELECT vec_id, embedding FROM embeddings
         |        WHERE vec_id < $RecallProbeN),
         |truth AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
         |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.3),
         |c2 AS (SELECT vec_a, vec_b FROM cand
         |       WHERE vec_a < $RecallProbeN AND vec_b < $RecallProbeN),
         |p2 AS (SELECT vec_a, vec_b FROM pcand
         |       WHERE vec_a < $RecallProbeN AND vec_b < $RecallProbeN),
         |m AS (SELECT
         |  (SELECT count(*) FROM truth) AS n_true,
         |  (SELECT count(*) FROM c2) AS n_cand,
         |  (SELECT count(*) FROM truth t JOIN c2
         |     ON t.vec_a = c2.vec_a AND t.vec_b = c2.vec_b) AS n_hit,
         |  (SELECT count(*) FROM p2) AS n_cand_probe,
         |  (SELECT count(*) FROM truth t JOIN p2
         |     ON t.vec_a = p2.vec_a AND t.vec_b = p2.vec_b) AS n_hit_probe)
         |SELECT n_true, n_cand, n_hit,
         |  CASE WHEN n_true > 0 THEN
         |    floor(CAST(n_hit AS DOUBLE) / n_true * 1e4 + 0.5) / 1e4
         |  END AS recall,
         |  CASE WHEN n_cand > 0 THEN
         |    floor(CAST(n_hit AS DOUBLE) / n_cand * 1e4 + 0.5) / 1e4
         |  END AS precision,
         |  n_cand_probe, n_hit_probe,
         |  CASE WHEN n_true > 0 THEN
         |    floor(CAST(n_hit_probe AS DOUBLE) / n_true * 1e4 + 0.5) / 1e4
         |  END AS recall_probe,
         |  CASE WHEN n_cand_probe > 0 THEN
         |    floor(CAST(n_hit_probe AS DOUBLE) / n_cand_probe * 1e4 + 0.5) / 1e4
         |  END AS precision_probe
         |FROM m""".stripMargin,

    // ivf assignment CTEs + the PQ trainings: probe = equi-join on
    // the assigned centroid, ADC scoring within the list
    "sim_ivfpq_topk" ->
      s"""WITH $ivfCte,
         |$pqTrainAllSql,
         |$pqCodesCteSql,
         |$pqLutSql,
         |cand AS (SELECT q.vec_id AS query_id, v.vec_id
         |         FROM assign q JOIN assign v
         |           ON q.centroid = v.centroid AND v.vec_id <> q.vec_id
         |         WHERE q.vec_id < 10),
         |scored AS (SELECT c.query_id, c.vec_id,
         |    l0.s + l1.s + l2.s + l3.s AS score
         |  FROM cand c JOIN codes v ON v.vec_id = c.vec_id
         |  JOIN lut0 l0 ON l0.query_id = c.query_id AND l0.j = v.c0
         |  JOIN lut1 l1 ON l1.query_id = c.query_id AND l1.j = v.c1
         |  JOIN lut2 l2 ON l2.query_id = c.query_id AND l2.j = v.c2
         |  JOIN lut3 l3 ON l3.query_id = c.query_id AND l3.j = v.c3)
         |SELECT query_id, rank, vec_id,
         |       floor(score * 1e6 + 0.5) / 1e6 AS score FROM (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, vec_id) AS rank
         |  FROM scored)
         |WHERE rank <= 2""".stripMargin,

    // same trained assignment (a3), then within-cluster close pairs
    // and the lower-id domination rule as an EXISTS
    "ds_semantic_dedup" ->
      s"""WITH ${KMeans.sqlTrainCtes(2)},
         |asg AS (SELECT a.vec_id, a.cluster, e.embedding
         |        FROM a3 a JOIN embeddings e ON a.vec_id = e.vec_id),
         |dropped AS (SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= $SemDedupTau)
         |SELECT g.vec_id, g.cluster,
         |       EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = g.vec_id)
         |         AS is_dup
         |FROM a3 g""".stripMargin,

    // same trained assignment; max(struct(su, -vec_id)) = row_number
    // over (su DESC, vec_id ASC)
    "sim_medoid" ->
      s"""WITH ${KMeans.sqlTrainCtes(2)},
         |asg AS (SELECT a.vec_id, a.cluster, e.embedding
         |        FROM a3 a JOIN embeddings e ON a.vec_id = e.vec_id),
         |s AS (SELECT a.cluster, a.vec_id,
         |        CAST(sum(CAST(floor(
         |          ${sqlCos("a.embedding", "b.embedding")} * 1e8 + 0.5)
         |          AS BIGINT)) AS BIGINT) AS su,
         |        count(*) AS n_peers
         |      FROM asg a JOIN asg b
         |        ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |      GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |        ORDER BY su DESC, vec_id) AS rn FROM s)
         |SELECT cluster, vec_id AS medoid, n_peers + 1 AS n_members,
         |  ${graft.Det.droundSql("CAST(su AS DOUBLE) / 1e8 / n_peers", 6)}
         |    AS mean_cos
         |FROM r WHERE rn = 1""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH $knnCtes
         |SELECT src AS vec_id,
         |       row_number() OVER (PARTITION BY src
         |         ORDER BY cos DESC, dst) AS rank,
         |       dst AS nbr_id,
         |       floor(cos * 1e6 + 0.5) / 1e6 AS cos
         |FROM e$KnnRounds""".stripMargin,

    "ds_knn_dedup" ->
      s"""WITH RECURSIVE $knnCtes,
         |close AS (SELECT DISTINCT least(src, dst) AS vec_a,
         |                 greatest(src, dst) AS vec_b
         |          FROM e$KnnRounds WHERE cos >= 0.3),
         |e AS (SELECT vec_a AS a, vec_b AS b FROM close
         |      UNION SELECT vec_b, vec_a FROM close),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |groups AS (SELECT n AS vec_id, min(m) AS rep FROM (
         |    SELECT a AS n, least(a, b) AS m FROM reach
         |    UNION ALL
         |    SELECT DISTINCT a, a FROM e)
         |  GROUP BY n)
         |SELECT v.vec_id FROM embeddings v
         |WHERE NOT EXISTS (SELECT 1 FROM groups g
         |                  WHERE g.vec_id = v.vec_id
         |                    AND g.vec_id <> g.rep)""".stripMargin,

    "sim_knn_search" ->
      s"""WITH $knnCtes,
         |$searchCtes
         |SELECT qid, rank, nbr_id, cos FROM (
         |  SELECT qid,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, node) AS rank,
         |    node AS nbr_id, floor(cos * 1e6 + 0.5) / 1e6 AS cos
         |  FROM qc$SearchRounds WHERE node <> qid)
         |WHERE rank <= $KnnK""".stripMargin,

    "sim_knn_graph_recall" ->
      s"""WITH $knnCtes,
         |g AS (SELECT src, dst FROM (
         |        SELECT src, dst, row_number() OVER (PARTITION BY src
         |          ORDER BY cos DESC, dst) AS grn
         |        FROM e$KnnRounds WHERE src % 10 = 0)
         |      WHERE grn <= $KnnK),
         |$knnTruthCte,
         |h AS (SELECT count(*) AS hits FROM g JOIN tr USING (src, dst)),
         |p AS (SELECT count(DISTINCT src) AS n_probes,
         |             count(*) AS possible FROM tr)
         |SELECT p.n_probes, p.possible, h.hits,
         |       floor(CAST(h.hits AS DOUBLE) / p.possible * 1e4 + 0.5) / 1e4
         |         AS recall
         |FROM p CROSS JOIN h""".stripMargin,

    "sim_knn_search_recall" ->
      s"""WITH $knnCtes,
         |$searchCtes,
         |found AS (SELECT src, dst FROM (
         |    SELECT qid AS src, node AS dst,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, node) AS rank
         |    FROM qc$SearchRounds WHERE node <> qid)
         |  WHERE rank <= $KnnK),
         |$knnTruthCte,
         |h AS (SELECT count(*) AS hits FROM found JOIN tr USING (src, dst)),
         |p AS (SELECT count(DISTINCT src) AS n_probes,
         |             count(*) AS possible FROM tr)
         |SELECT p.n_probes, p.possible, h.hits,
         |       floor(CAST(h.hits AS DOUBLE) / p.possible * 1e4 + 0.5) / 1e4
         |         AS recall
         |FROM p CROSS JOIN h""".stripMargin,

    "sim_hnsw_search" ->
      s"""WITH $knnCtes,
         |$hnswSearchCtes
         |SELECT qid, rank, nbr_id, cos FROM (
         |  SELECT qid,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, node) AS rank,
         |    node AS nbr_id, floor(cos * 1e6 + 0.5) / 1e6 AS cos
         |  FROM hqc$HnswTotalRounds WHERE node <> qid)
         |WHERE rank <= $KnnK""".stripMargin,

    "sim_hnsw_recall" ->
      s"""WITH $knnCtes,
         |$hnswSearchCtes,
         |found AS (SELECT src, dst FROM (
         |    SELECT qid AS src, node AS dst,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, node) AS rank
         |    FROM hqc$HnswTotalRounds WHERE node <> qid)
         |  WHERE rank <= $KnnK),
         |$knnTruthCte,
         |h AS (SELECT count(*) AS hits FROM found JOIN tr USING (src, dst)),
         |p AS (SELECT count(DISTINCT src) AS n_probes,
         |             count(*) AS possible FROM tr)
         |SELECT p.n_probes, p.possible, h.hits,
         |       floor(CAST(h.hits AS DOUBLE) / p.possible * 1e4 + 0.5) / 1e4
         |         AS recall
         |FROM p CROSS JOIN h""".stripMargin
  )

  /** Brute-force truth CTE `tr(src, dst)` for the probe subset — the
    * SQL twin of [[bruteTruth]], shared by both recall oracles. */
  private lazy val knnTruthCte: String =
    s"""tr AS (SELECT src, dst FROM (
       |        SELECT q.vec_id AS src, v.vec_id AS dst,
       |               row_number() OVER (PARTITION BY q.vec_id
       |                 ORDER BY ${sqlCos("q.embedding", "v.embedding")} DESC,
       |                          v.vec_id) AS rn
       |        FROM (SELECT * FROM embeddings
       |              WHERE vec_id % 10 = 0 AND embedding IS NOT NULL) q
       |        CROSS JOIN embeddings v
       |        WHERE v.vec_id <> q.vec_id AND v.embedding IS NOT NULL)
       |      WHERE rn <= $KnnK)""".stripMargin

  /** SQL mirror of [[beamSearchOver]]: unrolled monotone-beam rounds
    * under name tag `t`, expanding round i along `schedule(i-1)`'s
    * edge CTE (explicit DISTINCT dedup, the WITH RECURSIVE UNION
    * hazard). Entries replay [[searchEntriesOf]] — one stratum-min
    * derivation per predicate in `entryWheres`, unioned (the HNSW
    * chain passes the layer predicate AND the base TRUE; the flat
    * one just TRUE). Ends at `${t}c${schedule.size}`. */
  private def searchCtesFor(t: String, entryWheres: Seq[String],
                            schedule: Seq[String]): String = {
    val entCtes = entryWheres.zipWithIndex.map { case (w, i) =>
      s"""${t}mm$i AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi
         |        FROM embeddings
         |        WHERE embedding IS NOT NULL AND ($w)),
         |${t}ent$i AS (SELECT min(e.vec_id) AS node
         |        FROM embeddings e CROSS JOIN ${t}mm$i
         |        WHERE e.embedding IS NOT NULL AND ($w)
         |        GROUP BY LEAST(${EntryStrata - 1},
         |          ((e.vec_id - lo) * $EntryStrata) // (hi - lo + 1)))"""
        .stripMargin
    }.mkString(",\n")
    val entUnion = entryWheres.indices
      .map(i => s"SELECT node FROM ${t}ent$i").mkString(" UNION ")
    val seed =
      s"""$entCtes,
         |${t}ent AS (SELECT DISTINCT node FROM ($entUnion)),
         |${t}s AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id % 10 = 0 AND embedding IS NOT NULL),
         |${t}c0 AS (SELECT q.qid, v.vec_id AS node,
         |          ${sqlCos("q.qe", "v.embedding")} AS cos
         |        FROM ${t}s q JOIN embeddings v
         |          ON v.vec_id IN (SELECT node FROM ${t}ent)
         |        WHERE v.embedding IS NOT NULL)""".stripMargin
    val rounds = schedule.zipWithIndex.map { case (edgeCte, i0) =>
      val i = i0 + 1
      s"""${t}x$i AS (SELECT DISTINCT c.qid, g.dst AS node
         |         FROM ${t}c${i - 1} c JOIN $edgeCte g ON c.node = g.src),
         |${t}u$i AS MATERIALIZED (SELECT DISTINCT qid, node, cos FROM (
         |         SELECT qid, node, cos FROM ${t}c${i - 1}
         |         UNION ALL
         |         SELECT x.qid, x.node,
         |           ${sqlCos("q.qe", "v.embedding")} AS cos
         |         FROM ${t}x$i x JOIN ${t}s q ON q.qid = x.qid
         |                     JOIN embeddings v ON v.vec_id = x.node
         |         WHERE v.embedding IS NOT NULL)),
         |${t}c$i AS MATERIALIZED (SELECT qid, node, cos FROM (
         |         SELECT *, row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, node) AS rn FROM ${t}u$i)
         |         WHERE rn <= $SearchBeam)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  private lazy val searchCtes: String = searchCtesFor("q", Seq("TRUE"),
    Seq.fill(SearchRounds)(s"e$KnnRounds"))

  /** The HNSW search chain: the layer-1 graph CTEs (prefix l1) plus
    * the descending beam — coarse rounds on the layer-1 graph, fine
    * rounds on the base graph. */
  private lazy val hnswSearchCtes: String =
    s"""$sqlHmodsCte,
       |${knnCtesFor("l1", sqlHnswMemberAt(1))},
       |${knnCtesFor("l2", sqlHnswMemberAt(2))},
       |${knnCtesFor("l3", sqlHnswMemberAt(3))},
       |${searchCtesFor("hq", Seq(sqlTopMember, "TRUE"), Seq(
            s"""(SELECT * FROM l3e$KnnRounds
               |   WHERE (SELECT lvl FROM hmods) = 3
               |   UNION ALL SELECT * FROM l2e$KnnRounds
               |   WHERE (SELECT lvl FROM hmods) = 2
               |   UNION ALL SELECT * FROM l1e$KnnRounds
               |   WHERE (SELECT lvl FROM hmods) = 1)""".stripMargin,
            s"""(SELECT * FROM l2e$KnnRounds
               |   WHERE (SELECT lvl FROM hmods) = 3
               |   UNION ALL SELECT * FROM l1e$KnnRounds
               |   WHERE (SELECT lvl FROM hmods) <= 2)""".stripMargin) ++
          Seq.fill(HnswFineRounds)(s"e$KnnRounds"))}""".stripMargin

  /** The corpus-derived depth replayed in SQL ([[hnswLevels]]'s
    * thresholds: n/8^ℓ ≥ [[HnswMinLayerNodes]]). */
  private lazy val sqlHmodsCte =
    s"""hmods AS MATERIALIZED (SELECT
       |  CASE WHEN n >= ${HnswMinLayerNodes.toLong * 512} THEN 3
       |       WHEN n >= ${HnswMinLayerNodes.toLong * 64} THEN 2
       |       ELSE 1 END AS lvl
       |  FROM (SELECT count(*) AS n FROM embeddings
       |        WHERE embedding IS NOT NULL))""".stripMargin

  /** TOP-layer membership under the data-dependent depth — the SQL
    * twin of [[hnswMemberAt]] at level [[hnswLevels]](n). */
  private lazy val sqlTopMember: String =
    s"${graft.functions.Hashing.sqlH32("CAST(vec_id AS VARCHAR)")} % " +
      "(CASE (SELECT lvl FROM hmods) WHEN 3 THEN 512 WHEN 2 THEN 64 " +
      "ELSE 8 END) = 0"

  /** The oracle's two coarse rounds pick their edge chain by the
    * replayed depth — each round is a UNION of depth-gated selects
    * over the three static level chains, so one static string
    * mirrors every realized depth: L=1 → [1,1] (the measured
    * two-round shape), L=2 → [2,1], L=3 → [3,2]. Matches
    * [[hnswSchedule]] exactly. */
  private lazy val HnswTotalRounds = 2 + HnswFineRounds

  /** Unrolled NN-Descent CTE chain: seed e0 = (i → (i+j) mod N),
    * then per round i the undirected closure u_i → candidates nb_i →
    * exact-cosine keep-K e_i — the SQL mirror of [[nnDescentRound]]
    * (UNION's set semantics = the Spark side's distinct). */
  /** The NN-Descent CTE chain under name prefix `p`, over the
    * embeddings rows matching `where` (the layer-1 chain passes the
    * layer predicate; the base chain passes TRUE). Ends at
    * `${p}e${KnnRounds}`. */
  private def knnCtesFor(p: String, where: String): String = {
    val emb = s"(SELECT * FROM embeddings WHERE $where)"
    val seed =
      s"""${p}nn AS (SELECT max(vec_id) + 1 AS n
         |       FROM $emb x WHERE x.embedding IS NOT NULL),
         |${p}e0 AS (SELECT DISTINCT e.vec_id AS src,
         |              (e.vec_id + t.j) % x.n AS dst
         |       FROM $emb e CROSS JOIN ${p}nn x
         |       CROSS JOIN (SELECT unnest([${KnnSeedStrides.mkString(", ")}])
         |                     AS j) t
         |       WHERE e.embedding IS NOT NULL
         |         AND (e.vec_id + t.j) % x.n <> e.vec_id)""".stripMargin
    // dedup is EXPLICIT (DISTINCT over UNION ALL), never UNION set
    // semantics: under WITH RECURSIVE (the ds_knn_dedup composition)
    // DuckDB leaves a top-level UNION in a non-recursive CTE body
    // UNDEDUPED — measured nb1 = join-output + u1 row counts exactly —
    // and row_number then ranks the duplicates into the keep-K
    val rounds = (1 to KnnRounds).map { i =>
      s"""${p}u$i AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |        SELECT src, dst FROM ${p}e${i - 1}
         |        UNION ALL SELECT dst, src FROM ${p}e${i - 1})),
         |${p}nb$i AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |         SELECT a.src, b.dst FROM ${p}u$i a JOIN ${p}u$i b
         |           ON a.dst = b.src AND a.src <> b.dst
         |         UNION ALL SELECT src, dst FROM ${p}u$i)),
         |${p}s$i AS (SELECT src, dst, cos,
         |          row_number() OVER (PARTITION BY src
         |            ORDER BY cos DESC, dst) AS rn
         |        FROM (SELECT c.src, c.dst,
         |                ${sqlCos("es.embedding", "ed.embedding")} AS cos
         |              FROM ${p}nb$i c
         |              JOIN $emb es ON c.src = es.vec_id
         |              JOIN $emb ed ON c.dst = ed.vec_id
         |              WHERE es.embedding IS NOT NULL
         |                AND ed.embedding IS NOT NULL)),
         |${p}e$i AS MATERIALIZED (SELECT src, dst, cos FROM ${p}s$i
         |  WHERE rn <= $KnnBuildK)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  private lazy val knnCtes: String = knnCtesFor("", "TRUE")

  /** Shared tail of the two ANN top-k oracles: exact-cosine scoring +
    * rank ≤ 3 over a `qcand(query_id, vec_id)` CTE. */
  private lazy val annTopKSql =
    s"""scored AS (SELECT c.query_id, c.vec_id,
       |    ${sqlCos("qe.embedding", "ve.embedding")} AS cos,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY ${sqlCos("qe.embedding", "ve.embedding")} DESC,
       |               c.vec_id) AS rank
       |  FROM qcand c
       |  JOIN embeddings qe ON c.query_id = qe.vec_id
       |  JOIN embeddings ve ON c.vec_id = ve.vec_id)
       |SELECT query_id, rank, vec_id, floor(cos * 1e6 + 0.5) / 1e6 AS cos
       |FROM scored WHERE rank <= 3""".stripMargin
}
