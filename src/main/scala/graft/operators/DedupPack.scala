package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication (north-star LLM-pipeline ops, SURVEY §7.2.6):
  * exact hash dedup, MinHash+LSH, SimHash, and n-gram Jaccard — all as
  * pure Catalyst expressions over `documents`, all oracle-checked
  * (md5-derived hashes replay exactly in DuckDB).
  *
  * Scale design: signatures are computed in the scan stage (no
  * shuffle); candidate generation is an equi-join on band/bucket keys
  * — the only shuffles are on those short keys, never on full text.
  * At 100 TB the band join partitions by band key; skewed bands (all
  * boilerplate docs sharing a shingle) are AQE-split.
  */
object DedupPack extends QueryPack {

  private def toks = split(col("text"), " ")

  /** doc_id + token array as a MATERIALIZED attribute. Higher-order
    * lambdas are interpreted (not codegen'd): an expression like
    * `split(text)[i]` inside a lambda re-splits the whole string on
    * every element access. Projecting the array first makes lambda
    * element accesses O(1) attribute reads — measured 20×+ on the
    * minhash pipeline. */
  private def tokenized(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), toks.as("toks"))

  /** doc_id + minhash signature columns mh0..mh7. Staged projections:
    * tokens → shingle hashes (ONE md5 per shingle) → all 8
    * permutation minima in ONE pass over the hash array via the
    * codegen'd [[graft.plans.MinHash8]] (the 8 interpreted
    * `array_min(transform(...))` projections it replaces each
    * re-walked the array — kept as [[sigFoldCols]] for the
    * differential spec). Docs shorter than one shingle are excluded
    * (they have no signature — and the SQL oracle naturally omits
    * them, so the Spark side must too). */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    signaturesFrom(tokenized(s, dir))

  /** [[signatures]] over any (doc_id, toks) frame — the incremental
    * path signs base and delta slices separately; the corpus pipeline
    * signs the curated crawl text. */
  private[operators] def signaturesFrom(tokens: DataFrame): DataFrame =
    tokens
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        transform(Hashing.shingles(col("toks"), 3),
          sh => Hashing.h32(sh)).as("hs"))
      .select(col("doc_id"), graft.plans.MinHash8.sig(col("hs")).as("sig"))
      .select(col("doc_id") +: (0 until Hashing.NumPerms)
        .map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)

  /** The interpreted per-permutation fold columns over a shingle-hash
    * array — the differential reference for [[graft.plans.MinHash8]]. */
  def sigFoldCols(hs: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until Hashing.NumPerms).map(i =>
      array_min(transform(hs, h => Hashing.permuted(h, i))).as(s"mh$i"))

  /** Process-lifetime memo of the corpus SIGNATURE table (doc_id,
    * mh0..mh7) — the artifact the band table and the value-banded
    * pair join both derive from (one tokenize → shingle → md5 →
    * minhash pass per corpus). */
  private val sigsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def sigsFor(s: SparkSession, dir: String): DataFrame =
    sigsMemo.computeIfAbsent(dir,
      _ => signatures(s, dir).localCheckpoint(eager = true))

  /** MinHash-LSH candidate pairs (doc_a < doc_b): the shared input of
    * the grouping/apply queries. */
  private def candidatePairs(s: SparkSession, dir: String): DataFrame =
    candidatePairsFromSigCk(sigsFor(s, dir))

  /** Candidate pairs over any SIGNATURE frame (doc_id, mh0..mh7) —
    * the corpus path and the crawl/containment compositions share it.
    *
    * The band join runs over DISTINCT signature VALUES, docs expand
    * after (r16 — the ds_simhash_pairs value-banding applied to the
    * MinHash side, guide §2.5 hot-key skew): a band key is a function
    * of the signature, so identical docs (exact dups, boilerplate)
    * share every band key and a doc-level band bucket goes QUADRATIC
    * in docs where it is merely dense in values. Equivalence, pinned
    * by the unchanged oracles: a doc has ONE signature, so a cross-
    * value doc pair descends from exactly one qualifying value pair,
    * and same-value doc pairs (all four band keys equal) re-enter
    * through the sid self-join — the result SET is identical to the
    * doc-level band join. Cardinality audit at sf0.1 in SCALE.md.
    *
    * The signature frame is materialized ONCE before the self-joins
    * (the winnowPairs discipline): the group/map/expand consumers
    * otherwise re-run the whole tokenize → shingle → md5 → minhash
    * chain, and the checkpoint is one 8-long row per doc — trivially
    * smaller than one re-evaluation at any scale. */
  private[operators] def candidatePairsFromSig(sigRaw: DataFrame): DataFrame =
    candidatePairsFromSigCk(sigRaw.localCheckpoint(eager = true))

  /** As above over an ALREADY-materialized signature frame (the
    * corpus path passes the [[sigsFor]] memo — no second copy). */
  private def candidatePairsFromSigCk(sig: DataFrame): DataFrame = {
    val sigCols = (0 until Hashing.NumPerms).map(i => col(s"mh$i"))
    // one row per distinct signature, keyed by its min doc_id — the
    // deterministic value id the expansion joins back on. NOT
    // checkpointed (measured: +2 jobs for nothing at fixture scale):
    // its three consumers re-read the grouping's AQE-reused exchange,
    // and the post-exchange agg is a linear pass at value grain.
    val groups = sig.groupBy(sigCols: _*).agg(min(col("doc_id")).as("sid"))
    // (doc_id, sid) membership map; sids are doc_ids, so the band
    // join below emits (sid_a < sid_b) pairs directly
    val docSid = sig.join(groups, (0 until Hashing.NumPerms)
      .map(i => s"mh$i").toSeq)
      .select(col("doc_id"), col("sid"))
    val vpairs = bandJoin(bandsFrom(
      groups.select(col("sid").as("doc_id") +: sigCols: _*)))
    val cross = vpairs
      .join(docSid.select(col("sid").as("doc_a"), col("doc_id").as("id_a")),
        Seq("doc_a"))
      .join(docSid.select(col("sid").as("doc_b"), col("doc_id").as("id_b")),
        Seq("doc_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
    val same = docSid.alias("x").join(docSid.alias("y"),
        col("x.sid") === col("y.sid") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // cross (different sigs) and same (equal sigs) are disjoint, and
    // each is duplicate-free (vpairs is distinct and a doc has one
    // sid), so no final dedup is needed
    cross.unionByName(same)
  }

  /** Dev-probe bridges (DevStress `band_pairs_*`): the value-banded
    * production path and the doc-level reference form over a token
    * frame — identical candidate sets by the equivalence argument
    * above; the stress probe measures the quadratic gap between them
    * on a replica-heavy (boilerplate-regime) corpus. */
  private[graft] def devBandPairsValue(tokens: DataFrame): DataFrame =
    candidatePairsFromSig(signaturesFrom(tokens))
  private[graft] def devBandPairsDocLevel(tokens: DataFrame): DataFrame =
    bandJoin(bandsFrom(signaturesFrom(tokens))
      .localCheckpoint(eager = true))

  private def bandJoin(bc: DataFrame): DataFrame =
    bc.alias("a").join(bc.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Process-lifetime memo of the LSH candidate-pair set per corpus
    * dir — the [[SimilarityPack]] knnGraph / [[IndexCache]]
    * accounting applied to the MinHash-LSH index: in production the
    * band table is ONE maintained index and every dedup consumer
    * (pair audit, grouping, apply/keep-best, leakage, verification)
    * reads it rather than re-banding the corpus. Construction is
    * deterministic, so the memo is bit-identical to an in-query
    * build and every oracle replays the same chain regardless of
    * which consumer triggered it. Bench accounting becomes
    * first-consumer-pays, like every IndexCache artifact. */
  private val pairsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def pairsFor(s: SparkSession, dir: String): DataFrame =
    pairsMemo.computeIfAbsent(dir,
      _ => candidatePairs(s, dir).localCheckpoint(eager = true))

  /** ...and the min-label dup GROUPS over those pairs — the second
    * artifact of the same index family (groups are what the apply /
    * keep-best / sizes consumers actually share; each was re-running
    * the whole iterative components loop). ds_dup_groups_star keeps
    * its own large/small-star build by design: the two algorithms'
    * agreement on (node, rep) is the point of that query. */
  private val groupsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def groupsFor(s: SparkSession, dir: String): DataFrame =
    groupsMemo.computeIfAbsent(dir,
      _ => Components.connectedComponents(pairsFor(s, dir))
        .localCheckpoint(eager = true))

  /** ...and the corpus-level fuzzy blocking index (the same
    * accounting): ds_fuzzy_pairs and ds_fuzzy_apply consumed two
    * independent builds of the three blocking passes + verification. */
  private val fuzzyMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def fuzzyPairsFor(s: SparkSession, dir: String): DataFrame =
    fuzzyMemo.computeIfAbsent(dir,
      _ => fuzzyPairs(Tables.documents(s, dir))
        .localCheckpoint(eager = true))

  /** ...and the span-gram occurrence frame (doc_id, pos, gh) — the
    * shared seed table of the coverage and excision span queries. */
  private val spanGramsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def spanGramsFor(s: SparkSession, dir: String): DataFrame =
    spanGramsMemo.computeIfAbsent(dir,
      _ => spanGrams(tokenized(s, dir)).localCheckpoint(eager = true))

  /** ...and the corpus-level distinct hashed-shingle frame — the
    * Jaccard family's shared projection: pairs, novelty, LSH-verify
    * and incremental near-dup each re-ran the tokenize → shingle →
    * md5 chain (novelty twice, through its df self-reference). */
  private val shinglesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def shinglesFor(s: SparkSession, dir: String): DataFrame =
    shinglesMemo.computeIfAbsent(dir,
      _ => hashedShingles(tokenized(s, dir)).localCheckpoint(eager = true))

  /** ...and the LSH band table itself (doc_id, band, key) — the
    * maintained index underneath [[pairsFor]]: the incremental
    * near-dup probe reads base/delta SLICES of the same table (the
    * delta predicate is a doc_id expression, so a filter over the one
    * artifact replaces two independent signature passes). */
  private val bandsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def bandsFor(s: SparkSession, dir: String): DataFrame =
    bandsMemo.computeIfAbsent(dir,
      _ => bands(s, dir).localCheckpoint(eager = true))

  /** (doc_id, band, key) — one row per LSH band (derived from the
    * memoized signature table: one minhash pass per corpus feeds
    * both the band index and the value-banded pair join). */
  private def bands(s: SparkSession, dir: String): DataFrame =
    bandsFrom(sigsFor(s, dir))

  private[operators] def bandsFrom(sig: DataFrame): DataFrame = {
    val sigCols = (0 until Hashing.NumPerms).map(i => col(s"mh$i"))
    val bandStructs = (0 until Hashing.NumBands).map(b =>
      struct(lit(b).as("band"), Hashing.bandKey(sigCols, b).as("key")))
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** ds_containment knobs: flag threshold, planted-excerpt id offset
    * and selector (every doc_id % ExcerptMod == 0 contributes its
    * first-40%-of-tokens excerpt as doc_id + ExcerptIdOffset — the
    * SketchPack/CodePack injection convention, so the asymmetric case
    * exists at every SF). */
  val ContainTau = 0.8
  val ExcerptIdOffset = 1000000L
  val ExcerptMod = 7

  /** The ds_containment body over any (doc_id, toks) frame —
    * candidates-first (the LSH banding), exact containment
    * verification only on those pairs, the ContainTau flag and the
    * contained-side pick. Factored out so DevStress can drive it at
    * replicated scale. */
  def containmentPairs(corpus: DataFrame): DataFrame = {
    val cand = candidatePairsFromSig(signaturesFrom(corpus))
    // the distinct hashed-shingle frame feeds THREE consumers below
    // (sizes + both pair-join legs) — materialize it once instead of
    // re-running the tokenize -> shingle -> md5 chain per consumer
    // (the winnowPairs discipline; rows are (id, 8-byte hash))
    val sh = hashedShingles(corpus).localCheckpoint(eager = true)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = cand
      .join(sh.alias("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.alias("sb"), col("doc_b") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.alias("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.alias("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.Det.dround(col("shared").cast("double") / col("za.sz"), 4)
          .as("cont_a"),
        graft.Det.dround(col("shared").cast("double") / col("zb.sz"), 4)
          .as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= ContainTau)
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"),
        when(col("cont_a") >= col("cont_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_id"))
  }

  /** The fixture corpus plus the planted excerpt slice, (doc_id,
    * toks). A prefix's shingle set is a SUBSET of its source's, so
    * every planted pair has containment exactly 1.0 on the excerpt
    * side while Jaccard sits near 0.4 — the case the operator exists
    * to catch. Public for the DevStress probe. */
  def withExcerpts(base: DataFrame): DataFrame =
    base.union(
      base.filter(col("doc_id") % ExcerptMod === 0)
        // the id convention's precondition made LOUD: an excerpt id
        // colliding with a real doc_id (corpora with ids >= the
        // offset) would silently merge two docs' shingle sets in the
        // union — fail the scan task instead
        .select(when(col("doc_id") < lit(ExcerptIdOffset),
            col("doc_id") + lit(ExcerptIdOffset))
          .otherwise(raise_error(concat(
            lit(s"withExcerpts: doc_id >= ExcerptIdOffset $ExcerptIdOffset "),
            lit("collides with excerpt ids: "), col("doc_id"))))
          .as("doc_id"),
          slice(col("toks"), lit(1),
            greatest(lit(3), floor(size(col("toks")) * lit(2) / lit(5))
              .cast("int"))).as("toks")))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Asymmetric CONTAINMENT dedup (Broder 1997's containment
    // coefficient |A∩B|/|A|): the excerpt/quote detector that
    // symmetric Jaccard structurally misses — a 40% excerpt of a doc
    // has Jaccard ≈ 0.4 (under every near-dup bar here) but
    // containment 1.0. Same plan shape as ds_lsh_jaccard_verify:
    // LSH candidates FIRST, exact verification only on those pairs.
    // Declared recall contract: banding recalls by JACCARD, so a
    // low-jaccard containment pair surfaces only when the excerpt
    // shares a band with its source (P ≈ 1−(1−c²)^bands with c the
    // per-perm containment; ≈ 0.5 for the 40% slice — the spec pins
    // the measured planted recall, and a containment-heavy
    // production workload would band with more, narrower bands).
    "ds_containment" -> ((s, dir) =>
      containmentPairs(withExcerpts(tokenized(s, dir)))),

    // Exact dedup: content-hash groupBy; keeper = min doc_id. At scale
    // this is one shuffle on a 32-char key, never on the text itself.
    "ds_exact_dedup" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))),

    // MinHash signatures (8 perms over 3-token shingles).
    "ds_minhash_sig" -> ((s, dir) => signatures(s, dir)),

    // MinHash-LSH candidate pairs: band equi-join (4 bands × 2 rows).
    "ds_minhash_pairs" -> ((s, dir) => pairsFor(s, dir)),

    // Transitivity audit of the near-dup graph — the structural
    // justification for ds_dup_groups' connected-component grouping:
    // components are a sound dup-group model when the pair graph is
    // triangle-dense (near-dup is approximately transitive), and a
    // LOW global clustering coefficient warns that CC is chaining
    // unrelated docs through weak links. One row out: nodes, edges,
    // wedges (ordered 2-paths through a center), triangles (closed
    // wedges, via the oriented a<b<c join so each counts once), and
    // the closure ratio 3·tri/wedges. Wedge cost is Σ deg² over the
    // banding-bounded pair graph — the family's declared class.
    "ds_dup_transitivity" -> ((s, dir) => {
      val e = pairsFor(s, dir) // doc_a < doc_b
      val und = e.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val nodes = und.select(col("u")).distinct()
        .agg(count(lit(1)).cast("long").as("n_nodes"))
      val edges = e.agg(count(lit(1)).cast("long").as("n_edges"))
      val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
      // integer sum of d·(d−1), halved once at the end — exact longs
      val wedges = deg.agg((sum(col("d") * (col("d") - 1)) / lit(2))
        .cast("long").as("n_wedges"))
      val tri = e.as("ab")
        .join(e.as("bc"), col("ab.doc_b") === col("bc.doc_a"))
        .join(e.as("ac"), col("ac.doc_a") === col("ab.doc_a") &&
          col("ac.doc_b") === col("bc.doc_b"))
        .agg(count(lit(1)).cast("long").as("n_triangles"))
      nodes.crossJoin(broadcast(edges)).crossJoin(broadcast(wedges))
        .crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          // zero-wedge graphs (a perfect matching) have no defined
          // closure: Spark's x/0 yields NULL but DuckDB yields NaN,
          // so the degenerate case must be pinned to NULL explicitly
          // on BOTH engines
          when(col("n_wedges") === 0, lit(null).cast("double"))
            .otherwise(graft.Det.dround(
              lit(3.0) * col("n_triangles").cast("double") /
                col("n_wedges").cast("double"), 4)).as("closure"))
    }),

    // Split-LEAKAGE audit — near-dup pairs that straddle the
    // train/val/test assignment ([[SamplePack.splitCol]]): a test doc
    // with a near-duplicate in train inflates eval scores without any
    // verbatim contamination, which is why eval hygiene runs the
    // NEAR-dup detector across splits, not just exact matching.
    // Candidates come from the same LSH banding as ds_minhash_pairs
    // (recall-first, the decon convention); the split columns are
    // scan-stage expressions joined onto the pair endpoints (two
    // broadcast-eligible id→split maps, never a re-shuffle of text).
    "ds_split_leakage" -> ((s, dir) => {
      val splits = Tables.documents(s, dir)
        .select(col("doc_id"), SamplePack.corpusSplit(col("doc_id"))
          .as("split"))
      pairsFor(s, dir)
        .join(splits.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("split", "split_a"), Seq("doc_a"))
        .join(splits.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("split", "split_b"), Seq("doc_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"),
          col("split_b"))
    }),

    // SimHash (32-bit, token-set weighted bit votes) as pure array
    // expressions: distinct-token hashes materialized once, then 32
    // per-bit vote folds — zero shuffles and no 32× row blowup, so it
    // runs at scan speed at any scale.
    "ds_simhash" -> ((s, dir) => simhashed(s, dir)),

    // SimHash near-dup PAIRS: hamming(simhash_a, simhash_b) ≤ HamCap
    // without an all-pairs scan — pigeonhole banding: 3 bit errors
    // cannot touch all 4 bytes of a 32-bit fingerprint, so every
    // qualifying pair shares at least one (band, byte) key; the
    // equi-join on that key generates candidates, exact popcount
    // filters them. Shuffle carries (doc_id, simhash, band, byte) —
    // ~25 bytes/row. At corpus scale the per-band residual is n²/256;
    // production uses a 64-bit fingerprint with 8 byte-bands (same
    // plan, 256× deeper key space per band) — the 32-bit form here
    // matches ds_simhash's oracled fingerprint.
    "ds_simhash_pairs" -> ((s, dir) => {
      // the banding runs over DISTINCT fingerprint VALUES, docs expand
      // after: hamming is a function of the (value, value) pair, and
      // a vocabulary-sharing corpus clusters its bit votes so the hot
      // byte-buckets go quadratic in DOCS where they are merely dense
      // in VALUES — measured at sf0.1: 9.5 M doc-level banded
      // candidates (one bucket holds 3 058 of 5 000 docs) vs 1.38 M
      // value-level ones over the 2 949 distinct fingerprints (the
      // guide's "dedup before the expensive downstream work" /
      // hot-key skew treatment). Same-value doc pairs are hamming 0
      // by definition and re-enter through the sims self-join; every
      // cross-value doc pair descends from exactly one qualifying
      // value pair, so the result SET is identical to the doc-level
      // band join (the unchanged oracle pins it). sims is
      // materialized once — three consumers below.
      val sims = simhashed(s, dir).localCheckpoint(eager = true)
      val bandStructs = (0 until 4).map(b0 => struct(
        lit(b0.toLong).as("band"),
        shiftright(col("simhash"), b0 * 8).bitwiseAND(lit(255L))
          .as("key")))
      val banded = sims.select(col("simhash")).distinct()
        .select(col("simhash"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("simhash"), col("bk.band").as("band"),
          col("bk.key").as("key"))
      val vq = banded.alias("a").join(banded.alias("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.simhash") < col("b.simhash"))
        .select(col("a.simhash").as("s_a"), col("b.simhash").as("s_b"),
          expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)")
            .as("hamming"))
        .filter(col("hamming") <= SimHamCap)
        .distinct()
      val cross = vq
        .join(sims.select(col("doc_id").as("id_a"), col("simhash").as("s_a")),
          Seq("s_a"))
        .join(sims.select(col("doc_id").as("id_b"), col("simhash").as("s_b")),
          Seq("s_b"))
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming"))
      val same = sims.alias("x").join(sims.alias("y"),
          col("x.simhash") === col("y.simhash") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          lit(0L).as("hamming"))
      cross.unionByName(same)
    }),

    // Dedup GROUPS: connected components over the MinHash-LSH
    // candidate pairs — each doc mapped to its component's min doc_id
    // (the keeper). Iterative min-label propagation, distributed per
    // step (see Components).
    "ds_dup_groups" -> ((s, dir) =>
      groupsFor(s, dir)
        .select(col("node").as("doc_id"), col("rep"))),

    // Same grouping through the large-star/small-star alternation —
    // the O(log² n)-round algorithm for graphs whose DIAMETER defies
    // min-label propagation (boilerplate mega-components, long
    // near-dup chains). Same oracle as ds_dup_groups: both engines
    // must produce the identical (doc_id, rep) map.
    "ds_dup_groups_star" -> ((s, dir) =>
      Components.largeSmallStar(pairsFor(s, dir))
        .select(col("node").as("doc_id"), col("rep"))),

    // Dedup observability: the cluster-SIZE distribution of the dup
    // groups (how much mass sits in pairs vs boilerplate
    // mega-clusters — the QA signal that decides whether min-label
    // CC suffices or the large/small-star path is needed). Two tiny
    // aggs after the components: sizes per rep, then a histogram.
    "ds_dup_group_sizes" -> ((s, dir) =>
      groupsFor(s, dir)
        .groupBy(col("rep")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))),

    // Dedup APPLIED: the corpus with non-representative near-dups
    // removed — anti-join against the groups' losers. The complete
    // pipeline a training-data run executes: shingle → minhash → LSH
    // bands → components → filtered corpus.
    "ds_dedup_apply" -> ((s, dir) => {
      val losers = groupsFor(s, dir)
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("doc_id"))
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
        .join(losers, Seq("doc_id"), "left_anti")
    }),

    // Retention by VALUE, not by id: within each near-dup group keep
    // the member with the MOST CONTENT (n_chars DESC, doc_id ASC
    // tiebreak) — the curation rule production dedups actually apply
    // (keep the longest/highest-quality copy; min-id keeps whichever
    // crawl happened to come first). Same dataflow with any score
    // column swapped in (e.g. TextPack's quality composite). The
    // winner is a map-side-combined max(struct(score, -doc_id)) per
    // group — never a per-group sort; losers anti-join the corpus
    // exactly like ds_dedup_apply.
    "ds_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val members = groupsFor(s, dir)
        .join(docs, col("node") === docs("doc_id"))
      val winners = members.groupBy(col("rep"))
        .agg(max(struct(col("n_chars").as("s"), (-col("doc_id")).as("nid")))
          .as("w"))
        .select(col("rep"), (-col("w.nid")).as("keep_id"))
      val losers = members.join(winners, Seq("rep"))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
    }),

    // The 100 TB pipeline in ONE oracled query: crawl archives →
    // HTTP parse → HTML main-content extraction + boilerplate removal
    // ([[CrawlText]]) → MinHash-LSH near-dup dedup over the EXTRACTED
    // text — what a web-scale corpus build actually runs, with every
    // layer's output feeding the next (a bug anywhere shifts the
    // shingle stream, the signatures, the candidate pairs, and the
    // survivor set). Same banded-join + components dataflow as
    // ds_dedup_apply; the only new fact is the corpus source.
    "ds_crawl_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // the shared curated-corpus artifact: both consumers below (the
      // LSH leg and the survivor anti-join) read one materialization
      val corpus = CrawlText.curatedFor(s, dir)
      val toks = corpus.select(col("doc_id"), split(col("xt"), " ").as("toks"))
      val losers = Components.connectedComponents(
          candidatePairsFromSig(signaturesFrom(toks)))
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("doc_id"))
      corpus.select(col("doc_id"),
          length(col("xt")).cast("long").as("n_chars"))
        .join(losers, Seq("doc_id"), "left_anti")
    }),

    // The at-scale composition SCALE.md prescribes: LSH candidates
    // FIRST (bounded equi-join), exact Jaccard verification only on
    // those pairs — so the quadratic-risk shingle self-join never
    // runs over the corpus, and no DF cap is needed (the candidate
    // set, not the shingle universe, bounds the work). Full hashed
    // shingle sets, threshold 0.5.
    "ds_lsh_jaccard_verify" -> ((s, dir) => {
      val cand = pairsFor(s, dir)
      // three consumers of the shingle frame (sizes + two join legs)
      // — all read the corpus-level artifact
      val sh = shinglesFor(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val shared = cand
        .join(sh.alias("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.alias("sb"), col("doc_b") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(sizes.alias("za"), col("doc_a") === col("za.doc_id"))
        .join(sizes.alias("zb"), col("doc_b") === col("zb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          graft.Det.dround(col("shared").cast("double") /
            (col("za.sz") + col("zb.sz") - col("shared")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
    }),

    // N-gram (3-token shingle) Jaccard near-dup pairs, fully
    // relational: distinct (doc, shingle-HASH) self-join → shared
    // counts → |A∩B| / (|A|+|B|-|A∩B|). Shingles are identified by
    // their 32-bit hash so the shuffle carries 8-byte keys instead of
    // ~20-char strings (the oracle hashes identically; collisions are
    // part of the declared semantics, as in any hashed-shingle dedup).
    //
    // Scale guard: shingles with document frequency > JaccardDfCap are
    // dropped from the shingle UNIVERSE (numerator and denominator)
    // before the self-join — a boilerplate shingle in n docs would
    // otherwise emit n² candidate rows, making a handful of keys
    // quadratic at corpus scale. Jaccard is then declared over the
    // non-boilerplate shingle space; the oracle applies the same cap.
    "ds_jaccard_pairs" -> ((s, dir) =>
      jaccardPairs(tokenized(s, dir), sh0Pre = Some(shinglesFor(s, dir)))),

    // Per-document n-gram NOVELTY score — the memorization-risk
    // audit (repeated n-grams are what models memorize; Lee et al.'s
    // dedup paper motivates exactly this measurement): the fraction
    // of a doc's distinct 3-token shingles that appear in no OTHER
    // document. This is the jaccard front-end WITHOUT the pair join:
    // one gram-df agg (hot shingles combine map-side) + a join back
    // on the same shingle key (exchange reused) + a doc-grain rollup
    // — linear in tokens at every scale, no pair set anywhere.
    "ds_novelty_score" -> ((s, dir) =>
      noveltyScore(tokenized(s, dir), shPre = Some(shinglesFor(s, dir)))),

    // Typo- AND reorder-granularity near-dup pairs on the 3-token
    // title key: the record-linkage rung UNDER the shingle methods —
    // MinHash/Jaccard need shared tokens, but "labelmian" vs
    // "labelmain" shares none at the token level, and "main label x"
    // vs "label main x" sits at a large CHARACTER distance. Candidates
    // come from three blocking passes (4-char prefix ∪ 4-char suffix —
    // a single-character edit can break one, not both unless it
    // straddles — ∪ the sorted-token key, which word swaps leave
    // unchanged; the multi-block union is the standard trade,
    // declared like LSH band recall); every block is capped at
    // [[FuzzyBlockCap]] lowest ids through the native bounded heap so
    // a boilerplate title can't go quadratic. [[fuzzyNear]] verifies
    // pairs — identical semantics both engines.
    "ds_fuzzy_pairs" -> ((s, dir) => fuzzyPairsFor(s, dir)),

    // ...the blocking scheme's own audit (the ds_lsh_recall pattern):
    // ground truth = ALL-pairs under the full near-dup predicate
    // (char levenshtein ≤ 2 OR word reorder) on a bounded probe
    // subset (exact, affordable at FuzzyRecallProbeN docs), compared
    // against what the prefix ∪ suffix ∪ sorted-token blocking
    // surfaces on the same subset. Honest by construction: pairs
    // whose single edit straddles both char block keys AND perturbs
    // the sorted-token key are the declared recall loss, and this
    // query REPORTS it instead of asserting it away. (Measured on
    // sf0.01: reorder truth pairs are invisible to the two char
    // passes alone — the sorted-token pass is what recovers them;
    // numbers in SCALE.md.)
    "ds_fuzzy_recall" -> ((s, dir) => {
      val sub = Tables.documents(s, dir)
        .filter(col("doc_id") < FuzzyRecallProbeN)
      val t = sub.select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("title"))
      // both small pair frames feed TWO consumers each (their own
      // count + the semi-join) — materialize once so the all-pairs
      // levenshtein truth pass and the three-block candidate chain
      // run once, not twice (the containmentPairs discipline)
      val truth = t.alias("a").join(t.alias("b"),
          col("a.doc_id") < col("b.doc_id"))
        .filter(fuzzyNear(col("a.title"), col("b.title"), 2))
        .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
        .localCheckpoint(eager = true)
      val cand = fuzzyPairs(sub).select(col("a"), col("b"))
        .localCheckpoint(eager = true)
      val hit = truth.join(cand, Seq("a", "b"), "left_semi")
      // one tagged union + one aggregation replaces three 1-row aggs
      // composed via crossJoin broadcasts — same counts, six fewer
      // stage-latency jobs on 1-row frames (coalesce keeps the
      // zero-rows case identical to count()'s 0)
      truth.select(lit("t").as("k"))
        .unionByName(cand.select(lit("c").as("k")))
        .unionByName(hit.select(lit("h").as("k")))
        .agg(
          coalesce(sum(when(col("k") === "t", 1L)), lit(0L)).as("n_true"),
          coalesce(sum(when(col("k") === "c", 1L)), lit(0L)).as("n_cand"),
          coalesce(sum(when(col("k") === "h", 1L)), lit(0L)).as("n_hit"))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          when(col("n_true") > 0, graft.Det.dround(
            col("n_hit").cast("double") / col("n_true"), 4)).as("recall"))
    }),

    // ...and its APPLY step: fuzzy pairs → connected components →
    // lowest id per group survives — the same pairs→components→apply
    // composition as ds_dedup_apply (MinHash) and ds_embed_dedup
    // (ANN), closing the typo-granularity family. A doc that merely
    // LOOKS like another through a chain of ≤ 2-edit steps
    // transitively joins the group, exactly as in record linkage.
    "ds_fuzzy_apply" -> ((s, dir) => {
      val losers = Components.connectedComponents(
          fuzzyPairsFor(s, dir).select(col("a"), col("b")),
          a = "a", b = "b")
        .filter(col("node") =!= col("rep"))
        .select(col("node").as("doc_id"))
      Tables.documents(s, dir).select(col("doc_id"))
        .join(losers, Seq("doc_id"), "left_anti")
    }),

    // Passage-level corpus dedup (RefinedWeb-style line dedup; this
    // corpus has no newlines, so the "line" is a fixed 16-token
    // window): first global occurrence of each passage wins, every
    // later copy — in the SAME doc or any other — is dropped, and
    // docs are reassembled from their surviving passages in order.
    "ds_chunk_dedup" -> ((s, dir) =>
      chunkDedup(Tables.documents(s, dir), ChunkW)),

    // Content-DEFINED chunking (the FastCDC/rsync family at token
    // granularity): a chunk boundary is declared wherever the TOKEN's
    // own hash ≡ 0 (mod CdcMod), not at fixed offsets — so an
    // insertion or deletion perturbs only its own chunk and the
    // boundaries RESYNCHRONIZE at the next boundary token, where
    // ds_chunk_dedup's fixed windows shift every later chunk of the
    // doc (one early edit destroys all downstream dedup). Per-doc
    // rollup of chunk duplication: n_chunks, chunks whose content
    // hash recurs corpus-wide, and the duplicated-token share. Scale
    // shape: the boundary flag is a scan-stage expression; the
    // running chunk id is a window PARTITIONED BY doc (bounded by doc
    // length, never global); chunk hashes partial-aggregate map-side.
    "ds_cdc_chunks" -> ((s, dir) => cdcChunksFrom(cdcChunkedFor(s, dir))),

    // ...and its APPLY step: first occurrence of each chunk content
    // wins, docs reassemble from surviving chunks — ds_chunk_dedup's
    // retention rule at content-defined granularity, so the dedup
    // survives the insert/shift edits that break the fixed windows.
    "ds_cdc_apply" -> ((s, dir) => cdcApplyFrom(cdcChunkedFor(s, dir))),

    // Duplicated-SUBSTRING coverage (the ExactSubstr form of Lee et
    // al., "Deduplicating Training Data Makes Language Models
    // Better", ACL 2022 — approximated with fixed k-gram seeds
    // instead of a suffix array): per doc, how many tokens sit
    // inside ANY k-gram that occurs ≥ 2 times corpus-wide (same doc
    // or another). Arbitrary span boundaries, unlike ds_chunk_dedup's
    // fixed windows. One shuffle on the 8-byte gram hash (partial-agg
    // df, partitioning reused by the semi-join back); positions
    // regroup per doc (bounded by doc length), and the interval-union
    // fold is a per-row array op over sorted starts — integer-exact,
    // so it replays in SQL.
    "ds_dup_spans" -> ((s, dir) =>
      dupSpansOver(tokenized(s, dir), spanGramsFor(s, dir))),

    // The APPLY step of span dedup (Lee et al. remove all but one
    // copy): the globally-first occurrence of each duplicated gram
    // survives; every later occurrence's span is excised and docs
    // reassemble from surviving tokens — span-granularity
    // deduplication, the third rung after doc-level (ds_dedup_apply)
    // and passage-level (ds_chunk_dedup).
    "ds_dup_spans_apply" -> ((s, dir) =>
      dupSpansApplyOver(tokenized(s, dir), spanGramsFor(s, dir))),

    // Exact maximal duplicated spans via per-shard suffix arrays
    // (prefix doubling + capped LCP extension — Lee et al.'s ExactSubstr
    // design; see operators/SuffixArray.scala): per-doc coverage of
    // positions whose maximal match is >= SpanGram tokens, and the
    // longest repeated substrings with their text. Complements the
    // shingle pass above with EXACT match lengths.
    "ds_sa_spans" -> ((s, dir) => SuffixArray.saSpans(s, dir)),
    "ds_sa_lrs" -> ((s, dir) => SuffixArray.saLrs(s, dir)),

    // Winnowing (MOSS; Schleimer et al. SIGMOD'03) fingerprints:
    // within every window of WinnowW consecutive shingle hashes keep
    // the minimum (rightmost on ties). Unlike the fixed-stride
    // sampling of ds_dup_spans or tx_fingerprint's global min, the
    // window rule carries the winnowing GUARANTEE: any exact match of
    // ≥ WinnowK+WinnowW−1 tokens shares at least one selected
    // fingerprint, whatever its alignment. Pure scan stage — the
    // per-window argmin runs as nested array HOFs, zero shuffles.
    "ds_winnow_fp" -> ((s, dir) => winnowFps(tokenized(s, dir))),

    // ...and the MOSS-style candidate pairs: docs sharing
    // ≥ WinnowMinShared distinct rare fingerprints. df-capped like
    // every hash-sharing join in this pack (a boilerplate fingerprint
    // floods C(df,2) pairs; the cap bounds any posting list).
    "ds_winnow_pairs" -> ((s, dir) => winnowPairs(tokenized(s, dir))),

    // Decontamination: flag training docs sharing full 8-token
    // n-grams with the held-out eval slice (doc_id % 50 == 0 plays
    // the benchmark suite). The eval n-gram set is tiny relative to
    // the corpus at any scale (benchmarks are MBs, corpora TBs) —
    // broadcast it; the train side never shuffles.
    "ds_decontaminate" -> ((s, dir) =>
      decontaminate(tokenized(s, dir), ContamNgramW,
        col("doc_id") % 50 === 0)),

    // ...and its APPLY form: excise exactly the leaked spans and
    // rebuild the training doc, instead of dropping it wholesale.
    "ds_decon_spans" -> ((s, dir) =>
      deconSpans(tokenized(s, dir), ContamNgramW,
        col("doc_id") % 50 === 0)),

    // Incremental (cross-snapshot) dedup: a new batch deduped
    // against accumulated history WITHOUT anti-joining the history
    // wholesale — the bloom sketch of history keys clears
    // definitely-unseen rows in the batch's scan stage (bloom has no
    // false negatives), and only the ~fpp "maybe seen" sliver takes
    // the exact anti-join ([[RuntimeFilter.bloomPrunedAntiJoin]]).
    // Row-identical to the plain anti-join — here keyed on the
    // 32-bit content hash (production widens to 128-bit; the
    // operator is key-width-agnostic).
    "ds_incremental_dedup" -> ((s, dir) => {
      val (history, batch) = incrementalSlices(Tables.documents(s, dir))
      // size the sketch from the history side so the realized fpp
      // holds at every SF (a fixed constant silently degrades once
      // history outgrows it, inflating the exact-anti-join sliver);
      // the count is a column-pruned count(*) scan, far cheaper than
      // the sketch-build scan that follows
      RuntimeFilter.bloomPrunedAntiJoin(batch, col("h"), history, col("h"),
        expectedKeys = math.max(history.count(), 1L))
    }),

    // Incremental NEAR-dup — the LSH counterpart of the exact-hash
    // incremental dedup above: a delta batch (doc_id % 10 == 0)
    // probes the band-bucketed MinHash INDEX of the established base
    // instead of all-pairs-ing against history. In production the
    // base band table is a materialized index appended per batch;
    // here both sides derive in-plan (same signatures, same band
    // keys as ds_minhash_pairs). Cost is |delta|·bands probe rows
    // joined against the bucketed index + an exact-Jaccard verify
    // loaded ONLY with the candidates (shingle joins are
    // candidate-semi-joined, never corpus×corpus). Output: every
    // delta doc with its best base near-match (max Jaccard, min
    // base id) or a clean bill.
    "ds_incremental_neardup" -> ((s, dir) => {
      val toks = tokenized(s, dir).filter(size(col("toks")) >= 3)
      val isDelta = col("doc_id") % 10 === 0
      // base and delta are SLICES of the one maintained band table
      // (the delta predicate is a doc_id expression, and signatures
      // are per-doc, so filtering the shared artifact is row-identical
      // to signing the two slices separately — which ran the whole
      // tokenize → shingle → md5 → minhash chain twice)
      val bandTbl = bandsFor(s, dir)
      val baseBands = bandTbl.filter(!isDelta)
      val deltaBands = bandTbl.filter(isDelta)
      val cand = deltaBands.alias("d").join(baseBands.alias("b"),
          col("d.band") === col("b.band") && col("d.key") === col("b.key"))
        .select(col("d.doc_id").as("d_id"), col("b.doc_id").as("base_id"))
        .distinct()
      val sh = shinglesFor(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val shared = cand
        .join(sh.alias("sa"), col("d_id") === col("sa.doc_id"))
        .join(sh.alias("sb"), col("base_id") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
        .groupBy(col("d_id"), col("base_id"))
        .agg(count(lit(1)).as("shared"))
      val verified = shared
        .join(sizes.alias("za"), col("d_id") === col("za.doc_id"))
        .join(sizes.alias("zb"), col("base_id") === col("zb.doc_id"))
        .select(col("d_id"), col("base_id"),
          graft.Det.dround(col("shared").cast("double") /
            (col("za.sz") + col("zb.sz") - col("shared")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      val best = verified.groupBy("d_id")
        .agg(max(struct(col("jaccard"), (-col("base_id")).as("nb"),
          col("base_id"))).as("m"))
        .select(col("d_id").as("doc_id"), col("m.base_id").as("dup_of"),
          col("m.jaccard").as("jaccard"))
      toks.filter(isDelta).select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_of").isNotNull.as("is_neardup"),
          col("dup_of"), col("jaccard"))
    }),
  )

  /** The ds_incremental_dedup corpus split over any documents frame:
    * (history, batch) as content-hash projections — batch plays the
    * newly-ingested snapshot. Factored out so [[graft.DevStress]]
    * probes the production wiring, not a re-implementation. */
  def incrementalSlices(docs: DataFrame): (DataFrame, DataFrame) = {
    val d = docs.select(col("doc_id"), Hashing.h32(col("text")).as("h"))
    (d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0))
  }

  /** The ds_decontaminate body over any (doc_id, toks) frame:
    * `evalPred` rows play the held-out benchmark; their distinct
    * n-gram set is broadcast against every training doc's n-grams.
    * Factored out so [[graft.DevStress]] probes the production
    * stages at replicated scale. */
  def decontaminate(tokens: DataFrame, w: Int,
                    evalPred: org.apache.spark.sql.Column): DataFrame = {
    val ng = tokens
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode(array_distinct(Hashing.shingles(col("toks"), w))).as("ng"))
    val eval = ng.filter(evalPred).select("ng").distinct()
    val train = ng.filter(!evalPred)
    val tot = train.groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"))
    val shared = train.join(broadcast(eval), Seq("ng"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    tot.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        graft.Det.dround(coalesce(col("n_shared"), lit(0L)).cast("double")
          / col("n_ngrams"), 4).as("contam_frac"))
  }

  /** Span-level decontamination — the production companion of
    * [[decontaminate]]: instead of FLAGGING a contaminated doc, excise
    * exactly the tokens covered by an eval-set w-gram and rebuild the
    * doc from the survivors (the "exact-substring decon" shipped
    * alongside minhash in published pipelines — dropping whole docs
    * at the 13-gram bar throws away far more data than the leaked
    * span). Plan shape: the eval n-gram set broadcasts (benchmarks
    * are MBs against TB corpora), hit positions regroup per doc, and
    * the excision is the dupSpansApply HOF pass — one O(n·m) scan per
    * row, materialized once. */
  def deconSpans(tokens: DataFrame, w: Int,
                 evalPred: org.apache.spark.sql.Column): DataFrame = {
    val k = lit(w.toLong)
    val grams = tokens.filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(Hashing.shingles(col("toks"), w)).as(Seq("pos", "ng")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("ng"))
    val eval = grams.filter(evalPred).select("ng").distinct()
    val hits = grams.filter(!evalPred).join(broadcast(eval), Seq("ng"))
      .groupBy("doc_id").agg(collect_list(col("pos")).as("hps"))
    val hps = coalesce(col("hps"), array().cast("array<long>"))
    val idxs = when(size(col("toks")) > 0,
        sequence(lit(0L), size(col("toks")).cast("long") - 1))
      .otherwise(array().cast("array<long>"))
    val keptToks = transform(
      filter(idxs, i => !exists(hps, p => p <= i && i < p + k)),
      i => element_at(col("toks"), (i + 1).cast("int")))
    tokens.filter(!evalPred)
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), keptToks.as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"))
  }

  /** Passage width for [[chunkDedup]]'s corpus-level passage dedup. */
  val ChunkW = 16

  /** N-gram width for the decontamination overlap check (13 is the
    * common published choice; 8 keeps the check non-vacuous at the
    * test corpus's ~120-token docs while exercising the same plan). */
  val ContamNgramW = 8

  /** (doc_id, chunk_idx, chunk): non-overlapping w-token passages of
    * each doc. Pure array expressions in the scan stage. */
  private def chunked(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / lit(w)).cast("int")),
          i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))

  /** Corpus-wide passage dedup over (doc_id, text) rows: chunk into
    * w-token passages, keep only each passage's first occurrence
    * (min (doc_id, chunk_idx) — deterministic), reassemble docs from
    * survivors in passage order. Docs whose every passage was seen
    * earlier disappear (the dedup semantics, not an accident).
    *
    * Scale shape: TWO shuffles total. Winner selection is ONE
    * groupBy on the passage hash with the winner's text riding
    * inside the min struct — identical hash means identical text,
    * so no join-back is needed to recover it, and map-side partial
    * min forwards a single candidate struct per hash per input
    * partition (a window partitioned by the hash would concentrate
    * a boilerplate passage's 10⁸ copies on one task). The doc-grain
    * regroup is the second shuffle. */
  def chunkDedup(docs: DataFrame, w: Int): DataFrame =
    chunked(docs, w)
      .groupBy(md5(col("chunk")).as("h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"), col("chunk")))
        .as("w"))
      .groupBy(col("w.doc_id").as("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("w.chunk_idx").as("chunk_idx"),
            col("w.chunk").as("chunk")))),
          x => x.getField("chunk")), " ").as("dedup_text"),
        count(lit(1)).as("n_kept"))

  /** Content-defined boundary modulus: a token whose h32 ≡ 0 (mod
    * this) OPENS a new chunk — mean chunk length ≈ CdcMod tokens
    * (geometric), sized to the synthetic doc lengths like
    * [[SpanGram]]. */
  val CdcMod = 8

  /** Content-defined chunk grain shared by ds_cdc_chunks and
    * ds_cdc_apply: (doc_id, chunk, n_toks, text, h) with chunk text
    * assembled in POSITION order via the sort_array(struct) idiom —
    * collect_list alone would hash partition-arrival order. */
  def cdcChunked(tokens: DataFrame): DataFrame = {
    // The running-sum window needs hash(doc_id) partitioning anyway —
    // supply it with an EXPLICIT count-derived width instead of the
    // session default: AQE coalesced the few-MB token exchange down to
    // ~3 partitions while the downstream chunk assembly (collect_list
    // sort + per-chunk md5) is compute-dense per byte, serializing
    // ~1.2 s/task tails on a 32-core host. Explicit widths AQE
    // respects; kilobyte corpora still get one task, production
    // corpora cap at cluster width. (A scan-stage HOF rewrite of the
    // whole build was measured first: one exchange fewer, but the
    // interpreted per-token lambda tripled task CPU — 15.7 vs 5.8
    // task-seconds at sf0.1 — for flat wall; rejected, guide §4.)
    // The sizing count is a full pass over the token chain; the
    // memoized artifact path pays it once per corpus.
    val p = math.min(
      tokens.count() / CdcDocsPerTask + 1,
      math.max(1, tokens.sparkSession.sparkContext.defaultParallelism)
        .toLong).toInt
    val tok = tokens.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .repartition(p, col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tok
      .withColumn("b",
        when(Hashing.h32(col("tok")) % CdcMod === 0, 1L).otherwise(0L))
      .withColumn("chunk", sum(col("b")).over(w))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(count(lit(1)).as("n_toks"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("text"))
      .withColumn("h", md5(col("text")))
  }

  /** Docs per chunk-build task: ~a few hundred ms of per-doc token
    * hashing + slice assembly at the fixture's ~100-token docs. */
  val CdcDocsPerTask = 256L

  /** The chunk table as a per-dir artifact (the pairsFor accounting):
    * ds_cdc_chunks consumed it twice (hash histogram + the join back)
    * and ds_cdc_apply built it a second time from scratch — in
    * production CDC chunking is the ingest-side pass a store runs
    * once, and every rollup reads the chunk table. */
  private val cdcMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def cdcChunkedFor(s: SparkSession, dir: String): DataFrame =
    cdcMemo.computeIfAbsent(dir,
      _ => cdcChunked(tokenized(s, dir)).localCheckpoint(eager = true))

  /** The ds_cdc_chunks body over a (doc_id, toks) frame. */
  def cdcChunks(tokens: DataFrame): DataFrame =
    cdcChunksFrom(cdcChunked(tokens).localCheckpoint(eager = true))

  /** The rollup over a pre-built (materialized) chunk table. */
  def cdcChunksFrom(chunks: DataFrame): DataFrame = {
    val hist = chunks.groupBy("h").agg(count(lit(1)).as("cnt"))
    chunks.join(hist, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("n_toks")).as("all_toks"),
        sum(when(col("cnt") > 1, col("n_toks")).otherwise(0L)).as("dup_toks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        graft.Det.dround(col("dup_toks").cast("double") / col("all_toks"), 4)
          .as("dup_token_frac"))
  }

  /** The ds_cdc_apply body: first occurrence of each chunk content
    * wins (min (doc_id, chunk) — the [[chunkDedup]] retention rule at
    * CDC granularity); docs reassemble from surviving chunks in chunk
    * order. The winner pick is a map-side-combined min(struct), the
    * reassembly one groupBy per doc. */
  def cdcApply(tokens: DataFrame): DataFrame =
    cdcApplyFrom(cdcChunked(tokens))

  /** The apply step over a pre-built chunk table. */
  def cdcApplyFrom(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk"), col("text"))).as("w"))
      .groupBy(col("w.doc_id").as("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("w.chunk").as("chunk"),
            col("w.text").as("text")))),
          x => x.getField("text")), " ").as("dedup_text"),
        count(lit(1)).as("n_kept"))

  /** Seed gram width for ds_dup_spans: spans shorter than this many
    * tokens are not considered duplication (Lee et al. use 50 BPE
    * tokens at corpus scale; 8 fits the synthetic doc lengths — the
    * operator, not the k, is the point). */
  val SpanGram = 8

  /** Position encoding base for the interval-union fold: state =
    * covered * 2^20 + prevEnd packs both counters into one BIGINT, so
    * the fold is a plain integer reduce in BOTH engines (DuckDB
    * list_reduce has no struct accumulators). Bounds docs at 2^20
    * tokens — generous (a 1M-token doc is pathological; a production
    * corpus splits those upstream). */
  /** log2 of [[SpanPosBase]] — retune the pair together (the fold's
    * finish extracts the covered count with this shift). */
  val SpanPosShift = 20
  val SpanPosBase = 1L << SpanPosShift

  /** Per-doc duplicated-substring coverage: (doc_id, n_toks,
    * dup_toks). Seeds = [[SpanGram]]-token grams occurring ≥ 2 times
    * corpus-wide; dup_toks = |union of their [pos, pos+k) intervals|,
    * computed by a fold over the SORTED start positions — interval
    * ends are monotone at fixed k, so one (covered, prevEnd) pass is
    * exact. Docs shorter than one gram report dup_toks = 0. */
  def dupSpans(docs: DataFrame): DataFrame =
    dupSpansOver(docs, spanGrams(docs))

  /** [[dupSpans]] over a prepared gram frame — the two span-dedup
    * queries share one materialized [[spanGramsFor]] artifact. */
  def dupSpansOver(docs: DataFrame, grams: DataFrame): DataFrame = {
    val dupSeeds = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select(col("gh"))
    val k = lit(SpanGram.toLong)
    val base = lit(SpanPosBase)
    val covered = grams.join(dupSeeds, Seq("gh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"),
        aggregate(col("ps"), lit(0L),
          (st, p) => {
            val prevEnd = st % base
            val end = p + k
            // covered*base stays in st - prevEnd; add the newly
            // covered slice (end - max(p, prevEnd), never negative:
            // ends are monotone over sorted starts) and roll prevEnd
            st - prevEnd + (end - greatest(p, prevEnd)) * base + end
          },
          st => shiftright(st, SpanPosShift)).as("dup_toks"))
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_toks"))
  }

  /** SQL twin of [[spanGrams]]: the `t` (tokenized docs) and `g`
    * (gram occurrences) CTEs shared by both span-dedup oracles — one
    * definition of a seed, spliced into both statements. */
  private def spanGramCte: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |g AS (SELECT doc_id, j AS pos,
       |        ${Hashing.sqlH32((1 to SpanGram).map(i => s"ts[j+$i]").mkString(" || ' ' || "))} AS gh
       |      FROM t, UNNEST(generate_series(0, len(ts) - $SpanGram)) AS u(j))""".stripMargin

  /** (doc_id, pos, gh): one row per [[SpanGram]]-token gram
    * occurrence — the shared seed frame of both span-dedup steps
    * (coverage and excision must agree on what a seed is). */
  private def spanGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(Hashing.shingles(col("toks"), SpanGram))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        Hashing.h32(col("gram")).as("gh"))

  /** Span-dedup APPLIED: excise every duplicated-gram occurrence
    * except the global first (winner = min (doc_id, pos), encoded as
    * doc_id·[[SpanPosBase]]+pos so both engines pick the identical
    * lexicographic minimum), then rebuild each doc from the surviving
    * tokens. Winning spans are PROTECTED: a token inside a winning
    * occurrence is kept even when some other gram's losing span
    * overlaps it — without that rule, interleaved grams can excise
    * every copy of a duplicated substring (the winner of gram A
    * shredded by a losing span of gram B), silently destroying
    * content. With it, each duplicated gram's text survives intact in
    * its winner doc. The protection is RETENTION-BIASED by design: a
    * losing occurrence that happens to lie entirely inside winning
    * spans of other grams survives too (two copies retained). That is
    * the right direction of error for training data — never destroy
    * the last copy, occasionally keep an extra — and any local
    * per-gram rule has one such corner; maximal-span (suffix-array)
    * excision is the escape hatch where exact copy counts matter.
    * The kept-token scan is O(n·m) per doc (m = that doc's dup-gram
    * occurrences) — fine at real doc lengths; a coverage-bitmap fold
    * is the upgrade if m ever tracks n. Returns every doc
    * (fully-excised ones keep an empty dedup_text). */
  def dupSpansApply(docs: DataFrame): DataFrame =
    dupSpansApplyOver(docs, spanGrams(docs))

  def dupSpansApplyOver(docs: DataFrame, grams: DataFrame): DataFrame = {
    val k = lit(SpanGram.toLong)
    val winners = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id") * lit(SpanPosBase) + col("pos")).as("w"))
      .filter(col("n") >= 2).select(col("gh"), col("w"))
    val enc = col("doc_id") * lit(SpanPosBase) + col("pos")
    // one doc-grain regroup carrying both span kinds (collect_list
    // drops the nulls the when() leaves on the other kind)
    val spans = grams.join(winners, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(collect_list(when(enc === col("w"), col("pos"))).as("wps"),
        collect_list(when(enc =!= col("w"), col("pos"))).as("lps"))
    val wps = coalesce(col("wps"), array().cast("array<long>"))
    val lps = coalesce(col("lps"), array().cast("array<long>"))
    // empty-toks guard: sequence(0, -1) would count DOWN (the
    // Hashing.shingles gotcha) and element_at(toks, 0) throws
    val idxs = when(size(col("toks")) > 0,
        sequence(lit(0L), size(col("toks")).cast("long") - 1))
      .otherwise(array().cast("array<long>"))
    val keptToks = transform(
      filter(idxs, i =>
        exists(wps, p => p <= i && i < p + k) ||
        !exists(lps, p => p <= i && i < p + k)),
      i => element_at(col("toks"), (i + 1).cast("int")))
    docs.join(spans, Seq("doc_id"), "left_outer")
      // materialize the O(n·m) scan ONCE — HOF trees are interpreted
      // and skipped by subexpression elimination, so deriving both
      // outputs from it directly would run it twice per row
      .select(col("doc_id"), keptToks.as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("dedup_text"),
        size(col("kept")).cast("long").as("n_kept"))
  }

  /** Max hamming distance for ds_simhash_pairs (3 = the classic
    * near-dup radius; pigeonhole over 4 bytes is valid for ≤ 3 bit
    * errors — 4 would need only ⌈32/(4+1)⌉-bit blocks or more bands). */
  val SimHamCap = 3

  /** (doc_id, simhash) — the ds_simhash body, shared with the banded
    * pair query. The bit votes run through the codegen'd
    * [[graft.plans.SimHash32]] (one pass over the hash array) instead
    * of 32 interpreted folds that each re-walk it. */
  private def simhashed(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir)
      .select(col("doc_id"),
        transform(array_distinct(col("toks")),
          t => Hashing.h32(t)).as("hs"))
      .select(col("doc_id"),
        graft.plans.SimHash32.simhash(col("hs")).as("simhash"))

  /** Interpreted 32-fold form of the simhash bit votes — kept as the
    * differential reference for [[graft.plans.SimHash32]] (same role
    * as Similarity.dotHof for FloatDot). */
  def simhashFold(hs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 32).map { j =>
      when(aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Winnowing parameters: shingle width k, window w. The winnowing
    * theorem pins the guarantee length at k+w−1 = 6 tokens; w=4 keeps
    * the expected fingerprint density at 2/(w+1) = 40% of positions. */
  val WinnowK = 3
  val WinnowW = 4

  /** Posting-list df cap for [[winnowPairs]] (the [[JaccardDfCap]]
    * convention applied to fingerprints). */
  val WinnowDfCap = 5

  /** Candidate-pair bar: distinct shared rare fingerprints. */
  val WinnowMinShared = 2

  /** (doc_id, fp, pos) winnowing fingerprints of a (doc_id, toks)
    * frame: shingle-hash the doc, then per window of [[WinnowW]]
    * hashes select the min, rightmost occurrence on ties (robust
    * winnowing — re-selecting the SAME (hash, pos) across overlapping
    * windows collapses in the array_distinct, which is what bounds
    * density). All array HOFs in the scan stage.
    *
    * The token array and the shingle-hash array are LET-BOUND through
    * single-element transform lambdas (`element_at(transform(array(e),
    * v => body), 1)`): a lambda argument evaluates once per row, where
    * a projected alias referenced from inside the window lambda gets
    * re-inlined by projection collapse — the first cut re-split and
    * re-hashed the whole doc PER WINDOW slot (the UrlOps staging
    * lesson, compounded by the HOF nesting: a ×5 DevStress probe that
    * now runs in seconds had not finished in 20 minutes). */
  def winnowFps(tokens: DataFrame): DataFrame =
    tokens
      .filter(size(col("toks")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        transform(Hashing.shingles(col("toks"), WinnowK),
          s => Hashing.h32(s)).as("hs"))
      .select(col("doc_id"),
        explode(graft.plans.WinnowPack.fps(col("hs"), WinnowW)).as("pk"))
      .select(col("doc_id"),
        // logical shift: fp occupies bits 32..63 and can have bit 63
        // set (md5-prefix hashes reach 2^32-1) — an arithmetic shift
        // would sign-extend it negative
        shiftrightunsigned(col("pk"), 32).as("fp"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("pos"))

  /** The interpreted per-window HOF form of the winnowing selection —
    * the differential reference for [[graft.plans.WinnowPack]] (the
    * MinHash8.sigFoldCols convention): per window of [[WinnowW]]
    * shingle hashes, min with rightmost position on ties, globally
    * array_distinct'd. WinnowSpec pins set-equality of the two forms
    * per document. */
  def winnowFoldFps(tokens: DataFrame): DataFrame = {
    val fps = element_at(transform(array(col("toks")), tv =>
      element_at(transform(
        array(transform(Hashing.shingles(tv, WinnowK),
          s => Hashing.h32(s))),
        hsv => array_distinct(transform(
          sequence(lit(0), size(hsv) - WinnowW),
          p => {
            val win = slice(hsv, p + 1, lit(WinnowW))
            val m = array_min(win)
            struct(m.as("fp"),
              (p.cast("long") + lit(WinnowW.toLong)
                - array_position(reverse(win), m)).as("pos"))
          }))), 1)), 1)
    tokens
      .filter(size(col("toks")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), explode(fps).as("f"))
      .select(col("doc_id"), col("f.fp").as("fp"), col("f.pos").as("pos"))
  }

  /** (doc_a, doc_b, shared) MOSS candidate pairs over winnowing
    * fingerprints: equi-join on fingerprint hash restricted to
    * df ≤ [[WinnowDfCap]] postings, count distinct shared prints,
    * keep pairs at ≥ [[WinnowMinShared]]. The exchange carries
    * (doc_id, fp) only. */
  def winnowPairs(tokens: DataFrame,
                  dfCap: Int = WinnowDfCap): DataFrame = {
    // materialize the selection ONCE: the df-cap side and both pair-
    // join sides otherwise re-run the whole window-argmin scan (4
    // evaluations measured 9.1 s on the code corpus, 3.0 s
    // materialized) — at cluster scale this is the "persist the fp
    // frame" knob the plan audit names
    val fp = winnowFps(tokens).select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint(eager = true)
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("fp")
    val pruned = fp.join(rare, Seq("fp"))
    pruned.alias("a").join(pruned.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
  }

  /** Shingles with df ≤ [[JaccardDfCap]] survive into the pair join.
    * 5 is exercised at sf0.01 (29 shingles dropped); at corpus scale
    * the cap would be set from the df distribution of the boilerplate
    * tail. [[graft.DevStress]] scales it with the replication factor
    * so the linearity probe measures the join, not the cap. */
  val JaccardDfCap = 5

  /** Per-block membership cap for [[fuzzyPairs]] — the AnnBucketCap
    * of the blocking passes: only the lowest `cap` doc_ids of a
    * (prefix|suffix) block enter the pair join, bounding any one
    * block at C(cap−1)/2 pairs no matter how many titles share it. */
  val FuzzyBlockCap = 64

  /** Probe-subset size for ds_fuzzy_recall's exact all-pairs ground
    * truth — C(N,2) levenshtein calls on 3-token titles, bounded by
    * construction at any corpus scale. 500 keeps the truth set
    * non-empty at the test SFs (100 found zero true pairs — a
    * vacuous audit). */
  val FuzzyRecallProbeN = 500

  /** The declared fuzzy near-dup predicate on two titles: a
    * typo-granularity match (levenshtein ≤ `maxDist` characters) OR a
    * word REORDER (identical sorted token multisets — "label main x"
    * vs "main label x", which sits at a large CHARACTER distance and
    * is invisible to char-level verification). Both halves replay
    * identically in DuckDB ([[fuzzyNearSql]]). */
  private def fuzzyNear(ta: Column, tb: Column, maxDist: Int): Column =
    levenshtein(ta, tb) <= maxDist ||
      array_sort(split(ta, " ")) === array_sort(split(tb, " "))

  /** The ds_fuzzy_pairs body over a documents frame: candidates from
    * THREE blocking passes — 4-char prefix, 4-char suffix, and the
    * sorted-token key (tokens of the title sorted and rejoined: a
    * word swap leaves it unchanged, so reordered near-dups land in
    * one block even though both character blocks break) — each
    * capped at `cap` lowest ids per block, then verified by
    * [[fuzzyNear]]. `dist` reports the character levenshtein (for a
    * pure reorder it exceeds `maxDist` by construction — the
    * token-level match is what admitted the pair). */
  def fuzzyPairs(docs: DataFrame, maxDist: Int = 2,
                 cap: Int = FuzzyBlockCap,
                 sortedTokenPass: Boolean = true): DataFrame = {
    // the title key frame feeds SIX legs (three blocking passes, two
    // self-join sides each) — materialize it once (id + 3-token
    // string per doc) instead of re-running the scan per leg
    val t = docs.select(col("doc_id"),
      array_join(slice(split(col("text"), " "), 1, 3), " ").as("title"))
      .localCheckpoint(eager = true)
    def pass(key: Column): DataFrame = {
      val m = graft.plans.TopKPerKey.topKPerKey(
        t.select(col("doc_id"), col("title"), key.as("blk")),
        keys = Seq(col("blk")), order = Seq(col("doc_id").asc), k = cap)
      m.alias("x").join(m.alias("y"),
          col("x.blk") === col("y.blk") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.title").as("ta"), col("y.title").as("tb"))
    }
    val charPasses = pass(substring(col("title"), 1, 4))
      .unionByName(pass(substring(reverse(col("title")), 1, 4)))
    val all = if (sortedTokenPass)
      charPasses.unionByName(
        pass(array_join(array_sort(split(col("title"), " ")), " ")))
    else charPasses
    all.distinct()
      .filter(fuzzyNear(col("ta"), col("tb"), maxDist))
      .select(col("a"), col("b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("dist"))
  }

  /** THE distinct hashed-shingle set of a doc — (doc_id, shingle)
    * with 3-token shingles through [[Hashing.h32]]. Single source for
    * every Jaccard query (pairs + LSH-verify): the two are comparable
    * only while they share this projection exactly. */
  def hashedShingles(tokens: DataFrame): DataFrame =
    tokens
      .select(col("doc_id"),
        explode(transform(Hashing.shingles(col("toks"), 3),
          s2 => Hashing.h32(s2))).as("shingle"))
      .distinct()

  /** The ds_jaccard_pairs body over any (doc_id, toks) frame —
    * factored out so DevStress can drive it at replicated scale. */
  def jaccardPairs(tokens: DataFrame, dfCap: Int = JaccardDfCap,
                   sh0Pre: Option[DataFrame] = None): DataFrame = {
    // `sh0Pre`: the registered query passes the corpus-level shingle
    // artifact; probe callers (DevStress replicas) build in-plan
    val sh0 = sh0Pre.getOrElse(hashedShingles(tokens))
    // df cap: one extra agg + semi-join, both on the same 8-byte
    // shingle key the pair join shuffles on (partitioning reused)
    val keep = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("shingle")
    // the capped frame feeds THREE consumers (sizes + both join
    // legs), and the cap agg re-derives sh0 — one materialization
    val sh = sh0.join(keep, Seq("shingle"), "left_semi")
      .localCheckpoint(eager = true)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = sh.alias("a").join(sh.alias("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.alias("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.alias("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.Det.dround(col("shared").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("shared")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
  }

  /** The ds_novelty_score body over any (doc_id, toks) frame —
    * factored out so DevStress can drive it at replicated scale. */
  def noveltyScore(tokens: DataFrame,
                   shPre: Option[DataFrame] = None): DataFrame = {
    // two references below (the df agg and the join back) — the
    // registered query reads the corpus-level artifact; probe callers
    // (DevStress replicas) build in-plan
    val sh = shPre.getOrElse(hashedShingles(tokens))
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        graft.Det.dround(lit(1.0) - col("n_shared").cast("double") /
          col("n_grams").cast("double"), 4).as("novelty"))
  }

  private val sigSqlCols = (0 until Hashing.NumPerms).map(i =>
    s"min((h * ${2 * i + 1} + ${7919 * i + 1}) % ${Hashing.MinhashPrime}) AS mh$i")
    .mkString(",\n         ")

  /** [[sigCte]] over any (doc_id, text) source SQL — `documents`
    * for the corpus oracles, the curated-crawl derived table for
    * the composition ([[graft.operators.CrawlText.sqlCuratedSrc]]). */
  private def sigCteOver(src: String) =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM $src),
       |sh AS (SELECT doc_id, ts[j+1] || ' ' || ts[j+2] || ' ' || ts[j+3] AS s
       |       FROM t, UNNEST(generate_series(0, len(ts) - 3)) AS g(j)),
       |hh AS (SELECT doc_id, ${Hashing.sqlH32("s")} AS h FROM sh),
       |sig AS (SELECT doc_id,
       |         $sigSqlCols
       |        FROM hh GROUP BY doc_id)""".stripMargin

  private val sigCte = sigCteOver("documents")

  private val bandsSql = (0 until Hashing.NumBands).map(b =>
    s"SELECT doc_id, $b AS band, concat_ws('_', mh${2 * b}, mh${2 * b + 1}) AS key FROM sig")
    .mkString("\nUNION ALL\n")

  /** Groups oracle (shared by the min-label and star engine paths). */
  private val dupGroupsSql =
    s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |bands AS ($bandsSql),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.key = b.key
       |          AND a.doc_id < b.doc_id),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cand
       |      UNION SELECT doc_b, doc_a FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
       |SELECT n AS doc_id, min(m) AS rep FROM (
       |  SELECT a AS n, least(a, b) AS m FROM reach
       |  UNION ALL
       |  SELECT DISTINCT a, a FROM e)
       |GROUP BY n""".stripMargin

  private val simhashCte =
    s"""tk AS (SELECT DISTINCT doc_id, tok FROM
      |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
      |h AS (SELECT doc_id, ${Hashing.sqlH32("tok")} AS h FROM tk),
      |bits AS (SELECT doc_id, j,
      |           sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |         FROM h, UNNEST(generate_series(0, 31)) AS g(j)
      |         GROUP BY doc_id, j),
      |sim AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0 END)
      |               AS BIGINT) AS simhash
      |        FROM bits GROUP BY doc_id)""".stripMargin

  /** Shared oracle fragment: the content-defined chunk grain (t,
    * tok, c, ch CTEs — `ch(doc_id, chunk, n_toks, txt, h)`) mirroring
    * [[cdcChunked]]. */
  private def cdcChunkSql(): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tok AS (SELECT doc_id, g.j AS pos, ts[g.j + 1] AS tok
       |        FROM t, UNNEST(generate_series(0, len(ts) - 1)) AS g(j)),
       |c AS (SELECT doc_id, pos, tok,
       |        sum(CASE WHEN ${Hashing.sqlH32("tok")} % $CdcMod = 0
       |                 THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS UNBOUNDED PRECEDING) AS chunk
       |      FROM tok),
       |ch AS (SELECT doc_id, chunk, count(*) AS n_toks,
       |         array_to_string(list(tok ORDER BY pos), ' ') AS txt,
       |         md5(array_to_string(list(tok ORDER BY pos), ' ')) AS h
       |       FROM c GROUP BY doc_id, chunk)""".stripMargin

  /** The [[fuzzyNear]] predicate in DuckDB: char levenshtein ≤ 2 OR
    * identical sorted token multisets (word reorder). */
  private def fuzzyNearSql(ta: String, tb: String): String =
    s"(levenshtein($ta, $tb) <= 2 OR " +
      s"list_sort(string_split($ta, ' ')) = list_sort(string_split($tb, ' ')))"

  /** Shared oracle fragment: the fuzzy blocking candidates (t, pb,
    * sb, kb, cand CTEs) — the single SQL source for ds_fuzzy_pairs
    * and ds_fuzzy_apply, mirroring [[fuzzyPairs]]'s candidate stage
    * (prefix ∪ suffix ∪ sorted-token blocks, per-block cap). */
  private def fuzzyCandSql(where: String = ""): String =
    s"""t AS (SELECT doc_id,
       |    array_to_string(string_split(text, ' ')[1:3], ' ') AS title
       |  FROM documents $where),
       |pb AS (SELECT doc_id, title, substr(title, 1, 4) AS blk,
       |         row_number() OVER (PARTITION BY substr(title, 1, 4)
       |           ORDER BY doc_id) AS rn FROM t),
       |sb AS (SELECT doc_id, title, substr(reverse(title), 1, 4) AS blk,
       |         row_number() OVER (PARTITION BY substr(reverse(title), 1, 4)
       |           ORDER BY doc_id) AS rn FROM t),
       |kb AS (SELECT doc_id, title,
       |         array_to_string(list_sort(string_split(title, ' ')), ' ') AS blk,
       |         row_number() OVER (
       |           PARTITION BY array_to_string(list_sort(string_split(title, ' ')), ' ')
       |           ORDER BY doc_id) AS rn FROM t),
       |cand AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, x.title AS ta, y.title AS tb
       |  FROM (SELECT * FROM pb WHERE rn <= $FuzzyBlockCap) x
       |  JOIN (SELECT * FROM pb WHERE rn <= $FuzzyBlockCap) y
       |    ON x.blk = y.blk AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT x.doc_id, y.doc_id, x.title, y.title
       |  FROM (SELECT * FROM sb WHERE rn <= $FuzzyBlockCap) x
       |  JOIN (SELECT * FROM sb WHERE rn <= $FuzzyBlockCap) y
       |    ON x.blk = y.blk AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT x.doc_id, y.doc_id, x.title, y.title
       |  FROM (SELECT * FROM kb WHERE rn <= $FuzzyBlockCap) x
       |  JOIN (SELECT * FROM kb WHERE rn <= $FuzzyBlockCap) y
       |    ON x.blk = y.blk AND x.doc_id < y.doc_id)""".stripMargin

  /** sig → bands → candidate pairs → transitive closure → `groups`
    * (doc_id, rep) — the shared prefix of every groups-consuming
    * oracle (ds_dedup_apply, ds_keep_best). */
  private lazy val groupsChain = groupsChainOver("documents")

  /** [[groupsChainOver]] WITHOUT the `WITH RECURSIVE` prefix — for
    * composition INSIDE a larger recursive WITH chain (sp_corpus_e2e
    * places it after its gate CTEs). Claims the CTE names t, sh, hh,
    * sig, bands, cand, e, reach, groups — callers must not reuse
    * them. */
  private[operators] def groupsCtesOver(src: String): String =
    groupsChainOver(src).stripPrefix("WITH RECURSIVE ")

  /** [[groupsChain]] over any (doc_id, text) source SQL. */
  private def groupsChainOver(src: String) =
    s"""${sigCteOver(src).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |bands AS ($bandsSql),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.key = b.key
       |          AND a.doc_id < b.doc_id),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM cand
       |      UNION SELECT doc_b, doc_a FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM e
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
       |groups AS (SELECT n AS doc_id, min(m) AS rep FROM (
       |    SELECT a AS n, least(a, b) AS m FROM reach
       |    UNION ALL
       |    SELECT DISTINCT a, a FROM e)
       |  GROUP BY n)""".stripMargin

  /** The [[winnowPairs]] tail over the `wfp` CTE — the df-capped
    * shared-fingerprint pair rollup, shared with CodePack's clone
    * oracle. */
  def winnowPairsTail: String =
    s"""d AS (SELECT DISTINCT doc_id, fp FROM wfp),
       |rare AS (SELECT fp FROM d GROUP BY fp
       |         HAVING count(*) <= $WinnowDfCap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       count(*) AS shared
       |FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |JOIN rare r ON r.fp = a.fp
       |GROUP BY 1, 2
       |HAVING count(*) >= $WinnowMinShared""".stripMargin

  /** Relational replay of [[winnowFps]] over any (doc_id, text)
    * source select: lateral window starts × in-window positions,
    * rightmost-min via row_number ordered (h ASC, j DESC); the
    * DISTINCT mirrors array_distinct. Public so compositions over
    * other corpora (CodePack's clone detection) replay the same
    * selection. */
  def winnowCtes(docSrc: String): String = {
    val shingle = Hashing.sqlH32(
      (1 to WinnowK).map(o => s"ts[j+$o]").mkString(" || ' ' || "))
    s"""wt0 AS ($docSrc),
       |t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM wt0
       |      WHERE len(string_split(text, ' '))
       |            >= ${WinnowK + WinnowW - 1}),
       |hsq AS (SELECT doc_id, j, $shingle AS h
       |        FROM t, UNNEST(generate_series(0, len(ts) - $WinnowK))
       |               AS g(j)),
       |mx AS (SELECT doc_id, max(j) AS mj FROM hsq GROUP BY doc_id),
       |wst AS (SELECT doc_id, p
       |        FROM mx, UNNEST(generate_series(0, mj - ${WinnowW - 1}))
       |               AS g(p)),
       |wcand AS (SELECT w.doc_id, w.p, h.h, h.j
       |          FROM wst w JOIN hsq h ON h.doc_id = w.doc_id
       |            AND h.j BETWEEN w.p AND w.p + ${WinnowW - 1}),
       |wsel AS (SELECT doc_id, p, h, j,
       |           row_number() OVER (PARTITION BY doc_id, p
       |             ORDER BY h, j DESC) AS rn
       |         FROM wcand),
       |wfp AS (SELECT DISTINCT doc_id, h AS fp, CAST(j AS BIGINT) AS pos
       |        FROM wsel WHERE rn = 1)""".stripMargin
  }

  /** The excerpt-augmented corpus as (doc_id, text) SQL — the
    * [[withExcerpts]] twin (same prefix length arithmetic: int
    * products, one double divide, floor). */
  private val containSrc =
    s"""(SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + $ExcerptIdOffset AS doc_id,
       |   array_to_string(ts0[1:greatest(3,
       |     CAST(floor(len(ts0) * 2 / 5) AS INTEGER))], ' ') AS text
       | FROM (SELECT doc_id, string_split(text, ' ') AS ts0
       |       FROM documents WHERE doc_id % $ExcerptMod = 0))""".stripMargin

  override def oracles: Map[String, String] = Map(
    "ds_containment" ->
      s"""${sigCteOver(containSrc)},
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.doc_id < b.doc_id),
         |shd AS (SELECT DISTINCT doc_id, h FROM hh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
         |shared AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
         |           FROM cand c
         |           JOIN shd a ON a.doc_id = c.doc_a
         |           JOIN shd b ON b.doc_id = c.doc_b AND b.h = a.h
         |           GROUP BY c.doc_a, c.doc_b),
         |sc AS (SELECT doc_a, doc_b,
         |    ${graft.Det.droundSql("CAST(shared AS DOUBLE) / za.sz", 4)}
         |      AS cont_a,
         |    ${graft.Det.droundSql("CAST(shared AS DOUBLE) / zb.sz", 4)}
         |      AS cont_b
         |  FROM shared
         |  JOIN sizes za ON doc_a = za.doc_id
         |  JOIN sizes zb ON doc_b = zb.doc_id)
         |SELECT doc_a, doc_b, cont_a, cont_b,
         |  CASE WHEN cont_a >= cont_b THEN doc_a ELSE doc_b END
         |    AS contained_id
         |FROM sc WHERE greatest(cont_a, cont_b) >= $ContainTau""".stripMargin,

    "ds_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "ds_minhash_sig" -> s"$sigCte\nSELECT * FROM sig",

    "ds_dup_transitivity" ->
      s"""$sigCte,
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.doc_id < b.doc_id),
         |und AS (SELECT doc_a AS u FROM cand
         |        UNION ALL SELECT doc_b FROM cand),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
         |        FROM und GROUP BY u),
         |agg AS (SELECT
         |    (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM und)
         |      AS n_nodes,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_edges,
         |    (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) FROM deg)
         |      AS n_wedges,
         |    (SELECT CAST(count(*) AS BIGINT)
         |     FROM cand ab
         |     JOIN cand bc ON ab.doc_b = bc.doc_a
         |     JOIN cand ac ON ac.doc_a = ab.doc_a
         |       AND ac.doc_b = bc.doc_b) AS n_triangles)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges = 0 THEN NULL ELSE ${graft.Det.droundSql(
            "3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)",
            4)} END AS closure
         |FROM agg""".stripMargin,

    "ds_minhash_pairs" ->
      s"""$sigCte,
         |bands AS ($bandsSql)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin,

    "ds_split_leakage" ->
      s"""$sigCte,
         |bands AS ($bandsSql),
         |prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  ${SamplePack.corpusSplitSql("doc_a")} AS split_a,
         |  ${SamplePack.corpusSplitSql("doc_b")} AS split_b
         |FROM prs
         |WHERE ${SamplePack.corpusSplitSql("doc_a")} <>
         |      ${SamplePack.corpusSplitSql("doc_b")}""".stripMargin,

    // Transitive closure over the candidate pairs via recursive CTE;
    // rep = min over the reachable set ∪ self.
    "ds_dup_groups" -> dupGroupsSql,

    "ds_dup_group_sizes" ->
      s"""SELECT group_size, count(*) AS n_groups FROM (
         |  SELECT rep, count(*) AS group_size FROM (
         |$dupGroupsSql
         |  ) GROUP BY rep)
         |GROUP BY group_size""".stripMargin,

    // the star-alternation engine path must land on the SAME map
    "ds_dup_groups_star" -> dupGroupsSql,

    // hh in sigCte is the hashed shingle multiset; DISTINCT it for
    // the set Jaccard over the LSH candidate pairs
    "ds_lsh_jaccard_verify" ->
      s"""$sigCte,
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.doc_id < b.doc_id),
         |shd AS (SELECT DISTINCT doc_id, h FROM hh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
         |shared AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
         |           FROM cand c
         |           JOIN shd a ON a.doc_id = c.doc_a
         |           JOIN shd b ON b.doc_id = c.doc_b AND b.h = a.h
         |           GROUP BY c.doc_a, c.doc_b)
         |SELECT doc_a, doc_b,
         |       floor((CAST(shared AS DOUBLE) / (za.sz + zb.sz - shared)) * 1e4 + 0.5) / 1e4 AS jaccard
         |FROM shared
         |JOIN sizes za ON doc_a = za.doc_id
         |JOIN sizes zb ON doc_b = zb.doc_id
         |WHERE floor((CAST(shared AS DOUBLE) / (za.sz + zb.sz - shared)) * 1e4 + 0.5) / 1e4 >= 0.5""".stripMargin,

    "ds_dedup_apply" ->
      s"""$groupsChain
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM groups g
         |                  WHERE g.doc_id = d.doc_id AND g.doc_id <> g.rep)""".stripMargin,

    // same groups, retention by VALUE: rn=1 ⇔ the argmax the engine
    // computes as max(struct(n_chars, -doc_id)) per rep
    "ds_keep_best" ->
      s"""$groupsChain,
         |m AS (SELECT g.doc_id, g.rep, d.n_chars
         |      FROM groups g JOIN documents d ON d.doc_id = g.doc_id),
         |w AS (SELECT doc_id,
         |        row_number() OVER (PARTITION BY rep
         |          ORDER BY n_chars DESC, doc_id) AS rn FROM m)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM w
         |                  WHERE w.doc_id = d.doc_id AND w.rn > 1)""".stripMargin,

    // the whole chain over the CURATED corpus (CrawlText.sqlCuratedSrc
    // replays extraction; the groups chain replays dedup over xt)
    "ds_crawl_dedup" ->
      s"""${groupsChainOver(
             s"(SELECT doc_id, xt AS text FROM ${CrawlText.sqlCuratedSrc} c0) crawl")}
         |SELECT d.doc_id, CAST(strlen(d.xt) AS BIGINT) AS n_chars
         |FROM ${CrawlText.sqlCuratedSrc} d
         |WHERE NOT EXISTS (SELECT 1 FROM groups g
         |                  WHERE g.doc_id = d.doc_id AND g.doc_id <> g.rep)""".stripMargin,

    "ds_simhash" -> s"WITH $simhashCte\nSELECT doc_id, simhash FROM sim",

    "ds_simhash_pairs" ->
      s"""WITH $simhashCte,
         |banded AS (SELECT doc_id, simhash, band,
         |             (simhash >> (band * 8)) & 255 AS key
         |           FROM sim, (SELECT unnest(generate_series(0, 3)) AS band)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
         |                b.doc_id AS doc_b, b.simhash AS sb
         |         FROM banded a JOIN banded b
         |           ON a.band = b.band AND a.key = b.key
         |          AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= $SimHamCap""".stripMargin,

    "ds_fuzzy_pairs" ->
      s"""WITH ${fuzzyCandSql()}
         |SELECT a, b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
         |FROM cand WHERE ${fuzzyNearSql("ta", "tb")}""".stripMargin,

    "ds_fuzzy_recall" ->
      s"""WITH ${fuzzyCandSql(s"WHERE doc_id < $FuzzyRecallProbeN")},
         |truth AS (SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM t x JOIN t y ON x.doc_id < y.doc_id
         |  WHERE ${fuzzyNearSql("x.title", "y.title")}),
         |cp AS (SELECT DISTINCT a, b FROM cand
         |       WHERE ${fuzzyNearSql("ta", "tb")}),
         |hit AS (SELECT * FROM truth
         |        WHERE EXISTS (SELECT 1 FROM cp
         |                      WHERE cp.a = truth.a AND cp.b = truth.b))
         |SELECT (SELECT count(*) FROM truth) AS n_true,
         |       (SELECT count(*) FROM cp) AS n_cand,
         |       (SELECT count(*) FROM hit) AS n_hit,
         |       CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
         |         ${graft.Det.droundSql(
                     "(SELECT count(*) FROM hit)::DOUBLE / (SELECT count(*) FROM truth)", 4)}
         |       END AS recall""".stripMargin,

    // same candidates, then the recursive-CTE components replay the
    // engine's star-contraction result (both compute the SAME groups)
    "ds_fuzzy_apply" ->
      s"""WITH RECURSIVE ${fuzzyCandSql()},
         |close AS (SELECT a, b FROM cand WHERE ${fuzzyNearSql("ta", "tb")}),
         |e AS (SELECT a, b FROM close UNION SELECT b, a FROM close),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |groups AS (SELECT n AS doc_id, min(m) AS rep FROM (
         |    SELECT a AS n, least(a, b) AS m FROM reach
         |    UNION ALL
         |    SELECT DISTINCT a, a FROM e)
         |  GROUP BY n)
         |SELECT d.doc_id FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM groups g
         |                  WHERE g.doc_id = d.doc_id AND g.doc_id <> g.rep)""".stripMargin,

    "ds_novelty_score" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         ${Hashing.sqlH32("ts[j+1] || ' ' || ts[j+2] || ' ' || ts[j+3]")} AS shingle
        |       FROM t, UNNEST(generate_series(0, len(ts) - 3)) AS g(j)),
        |d AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  ${graft.Det.droundSql(
             "1.0 - CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
             4)} AS novelty
        |FROM sh JOIN d USING (shingle) GROUP BY sh.doc_id""".stripMargin,

    "ds_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id,
        |         ${Hashing.sqlH32("ts[j+1] || ' ' || ts[j+2] || ' ' || ts[j+3]")} AS shingle
        |       FROM t, UNNEST(generate_series(0, len(ts) - 3)) AS g(j)),
        |keep AS (SELECT shingle FROM sh0 GROUP BY shingle
        |         HAVING count(*) <= $JaccardDfCap),
        |sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |           FROM sh a JOIN sh b
        |             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |           GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b,
        |       floor((CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared)) * 1e4 + 0.5) / 1e4 AS jaccard
        |FROM shared
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE floor((CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared)) * 1e4 + 0.5) / 1e4 >= 0.2""".stripMargin,

    // First-occurrence winner via window (method-independent — the
    // engine side uses groupBy+min(struct) for map-side partials;
    // both pick the unique min (doc_id, chunk_idx) per passage).
    // Interval-union replay: the same packed (covered, prevEnd)
    // integer fold over sorted starts, seeded by a prepended 0 state
    // (DuckDB list_reduce uses the first element as the seed).
    "ds_dup_spans" ->
      s"""WITH $spanGramCte,
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, list_sort(list(pos)) AS ps
         |         FROM g JOIN dup USING (gh) GROUP BY doc_id),
         |cov AS (SELECT doc_id,
         |         list_reduce(list_prepend(0::BIGINT, ps),
         |           (st, p) -> st - (st % $SpanPosBase)
         |             + (p + $SpanGram - greatest(p, st % $SpanPosBase)) * $SpanPosBase
         |             + p + $SpanGram) // $SpanPosBase AS dup_toks
         |        FROM hits)
         |SELECT t.doc_id, len(ts)::BIGINT AS n_toks,
         |       COALESCE(cov.dup_toks, 0::BIGINT) AS dup_toks
         |FROM t LEFT JOIN cov USING (doc_id)""".stripMargin,

    // Winner replay: min(doc_id·base + pos) is the same lexicographic
    // (doc_id, pos) minimum the engine takes; kept = inside a WINNING
    // span (protected) OR outside every LOSING span, via EXISTS /
    // NOT EXISTS instead of nested lambdas.
    "ds_dup_spans_apply" ->
      s"""WITH $spanGramCte,
         |w AS (SELECT gh, min(doc_id * $SpanPosBase + pos) AS w
         |      FROM g GROUP BY gh HAVING count(*) >= 2),
         |occ AS (SELECT doc_id, pos,
         |          (doc_id * $SpanPosBase + pos = w) AS is_win
         |        FROM g JOIN w USING (gh)),
         |k0 AS (SELECT t.doc_id, u.i AS i, ts[u.i+1] AS tok
         |       FROM t, UNNEST(generate_series(0, len(ts) - 1)) AS u(i)),
         |kx AS (SELECT doc_id, i, tok FROM k0
         |       WHERE EXISTS (SELECT 1 FROM occ
         |                     WHERE occ.doc_id = k0.doc_id AND occ.is_win
         |                       AND occ.pos <= k0.i
         |                       AND k0.i < occ.pos + $SpanGram)
         |          OR NOT EXISTS (SELECT 1 FROM occ
         |                         WHERE occ.doc_id = k0.doc_id
         |                           AND NOT occ.is_win
         |                           AND occ.pos <= k0.i
         |                           AND k0.i < occ.pos + $SpanGram)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS dedup_text,
         |               count(*) AS n_kept
         |        FROM kx GROUP BY doc_id)
         |SELECT t.doc_id, COALESCE(agg.dedup_text, '') AS dedup_text,
         |       COALESCE(agg.n_kept, 0::BIGINT) AS n_kept
         |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,

    // Suffix-array replay: the identical prefix-doubling rounds
    // (dense_rank windows), SA adjacency, and capped LCP compare as
    // the engine — all-integer, so bit-for-bit (SuffixArray.sql*).
    "ds_sa_spans" -> SuffixArray.sqlSpans,
    "ds_sa_lrs" -> SuffixArray.sqlLrs,

    "ds_winnow_fp" ->
      s"""WITH ${winnowCtes("SELECT doc_id, text FROM documents")}
         |SELECT doc_id, fp, pos FROM wfp""".stripMargin,

    "ds_winnow_pairs" ->
      s"""WITH ${winnowCtes("SELECT doc_id, text FROM documents")},
         |$winnowPairsTail""".stripMargin,

    "ds_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
         |           FROM documents WHERE len(string_split(text, ' ')) > 0),
         |chunks AS (SELECT doc_id, g.i AS chunk_idx,
         |            array_to_string(ts[g.i*$ChunkW+1 : g.i*$ChunkW+$ChunkW], ' ') AS chunk
         |           FROM t, UNNEST(range(0, (len(ts)-1)//$ChunkW + 1)) AS g(i)),
         |ranked AS (SELECT doc_id, chunk_idx, chunk,
         |            row_number() OVER (PARTITION BY md5(chunk)
         |                               ORDER BY doc_id, chunk_idx) AS rn
         |           FROM chunks)
         |SELECT doc_id,
         |       string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text,
         |       count(*) AS n_kept
         |FROM ranked WHERE rn = 1
         |GROUP BY doc_id""".stripMargin,

    "ds_cdc_chunks" ->
      s"""WITH ${cdcChunkSql()},
         |hist AS (SELECT h, count(*) AS cnt FROM ch GROUP BY h)
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  ${graft.Det.droundSql(
              "CAST(sum(CASE WHEN cnt > 1 THEN n_toks ELSE 0 END) AS DOUBLE)" +
                " / sum(n_toks)", 4)} AS dup_token_frac
         |FROM ch JOIN hist USING (h) GROUP BY doc_id""".stripMargin,

    "ds_cdc_apply" ->
      s"""WITH ${cdcChunkSql()},
         |ranked AS (SELECT doc_id, chunk, txt,
         |             row_number() OVER (PARTITION BY h
         |                                ORDER BY doc_id, chunk) AS rn
         |           FROM ch)
         |SELECT doc_id,
         |       string_agg(txt, ' ' ORDER BY chunk) AS dedup_text,
         |       count(*) AS n_kept
         |FROM ranked WHERE rn = 1
         |GROUP BY doc_id""".stripMargin,

    "ds_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
         |           FROM documents
         |           WHERE len(string_split(text, ' ')) >= $ContamNgramW),
         |ng AS (SELECT DISTINCT doc_id,
         |         array_to_string(ts[g.i+1 : g.i+$ContamNgramW], ' ') AS ng
         |       FROM t, UNNEST(range(0, len(ts) - ${ContamNgramW - 1})) AS g(i)),
         |ev AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 50 = 0),
         |tr AS (SELECT * FROM ng WHERE doc_id % 50 <> 0),
         |tot AS (SELECT doc_id, count(*) AS n_ngrams FROM tr GROUP BY doc_id),
         |sh AS (SELECT doc_id, count(*) AS n_shared
         |       FROM tr JOIN ev USING (ng) GROUP BY doc_id)
         |SELECT tot.doc_id, tot.n_ngrams,
         |       COALESCE(sh.n_shared, 0) AS n_shared,
         |       ${graft.Det.droundSql(
               "CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / tot.n_ngrams", 4)}
         |         AS contam_frac
         |FROM tot LEFT JOIN sh ON tot.doc_id = sh.doc_id""".stripMargin,

    "ds_decon_spans" ->
      s"""WITH dt AS (SELECT doc_id, string_split(text, ' ') AS ts
         |            FROM documents),
         |dg AS (SELECT doc_id, g.i AS pos,
         |         array_to_string(ts[g.i+1 : g.i+$ContamNgramW], ' ') AS ng
         |       FROM dt, UNNEST(range(0, len(ts) - ${ContamNgramW - 1}))
         |              AS g(i)),
         |ev AS (SELECT DISTINCT ng FROM dg WHERE doc_id % 50 = 0),
         |hp AS (SELECT dg.doc_id, dg.pos FROM dg JOIN ev USING (ng)
         |       WHERE dg.doc_id % 50 <> 0),
         |k0 AS (SELECT t.doc_id, u.i AS i, ts[u.i+1] AS tok
         |       FROM dt t, UNNEST(generate_series(0, len(ts) - 1)) AS u(i)
         |       WHERE t.doc_id % 50 <> 0),
         |kx AS (SELECT doc_id, i, tok FROM k0
         |       WHERE NOT EXISTS (SELECT 1 FROM hp
         |                         WHERE hp.doc_id = k0.doc_id
         |                           AND hp.pos <= k0.i
         |                           AND k0.i < hp.pos + $ContamNgramW)),
         |agg AS (SELECT doc_id,
         |          string_agg(tok, ' ' ORDER BY i) AS clean_text,
         |          count(*) AS n_kept FROM kx GROUP BY doc_id)
         |SELECT t.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
         |       COALESCE(agg.n_kept, 0::BIGINT) AS n_kept
         |FROM dt t LEFT JOIN agg USING (doc_id)
         |WHERE t.doc_id % 50 <> 0""".stripMargin,

    // the plain anti-join the bloom-pruned form must equal (the
    // sketch only reroutes rows, never changes the result)
    "ds_incremental_dedup" ->
      s"""WITH d AS (SELECT doc_id, ${Hashing.sqlH32("text")} AS h
         |           FROM documents)
         |SELECT doc_id, h FROM d b
         |WHERE doc_id % 5 = 0
         |  AND NOT EXISTS (SELECT 1 FROM d h2
         |                  WHERE h2.doc_id % 5 <> 0 AND h2.h = b.h)""".stripMargin,

    // one shared signature build, parity-filtered into delta probes
    // vs base index — identical to signing the slices separately
    "ds_incremental_neardup" ->
      s"""$sigCte,
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT d.doc_id, b.doc_id AS base_id
         |         FROM bands d JOIN bands b
         |           ON d.band = b.band AND d.key = b.key
         |         WHERE d.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         |ss AS (SELECT DISTINCT doc_id, h FROM hh),
         |sz AS (SELECT doc_id, count(*) AS sz FROM ss GROUP BY doc_id),
         |shr AS (SELECT c.doc_id, c.base_id, count(*) AS shared
         |        FROM cand c JOIN ss a ON a.doc_id = c.doc_id
         |                    JOIN ss b ON b.doc_id = c.base_id AND a.h = b.h
         |        GROUP BY c.doc_id, c.base_id),
         |vf AS (SELECT s.doc_id, s.base_id,
         |         ${graft.Det.droundSql(
                  "CAST(s.shared AS DOUBLE) / (za.sz + zb.sz - s.shared)", 4)}
         |           AS jaccard
         |       FROM shr s JOIN sz za ON s.doc_id = za.doc_id
         |                  JOIN sz zb ON s.base_id = zb.doc_id),
         |vv AS (SELECT * FROM vf WHERE jaccard >= 0.5),
         |best AS (SELECT doc_id, base_id AS dup_of, jaccard FROM (
         |          SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY jaccard DESC, base_id) AS rn FROM vv)
         |         WHERE rn = 1)
         |SELECT d.doc_id, best.dup_of IS NOT NULL AS is_neardup,
         |       best.dup_of, best.jaccard
         |FROM (SELECT doc_id FROM sig WHERE doc_id % 10 = 0) d
         |LEFT JOIN best USING (doc_id)""".stripMargin
  )
}
