package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-span detection via per-shard suffix arrays — the
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language
  * Models Better") ExactSubstr design re-expressed as Spark dataflow:
  * shard the corpus, build a suffix array per shard by PREFIX
  * DOUBLING (Karp–Miller–Rosenberg), read exact maximal duplicated
  * spans off adjacent-suffix LCPs. Complements the shingle-hash span
  * family ([[DedupPack.dupSpans]]): shingles find "some ≥w-token
  * duplication covers this position" with one hash pass; the suffix
  * array additionally yields the EXACT maximal match length per
  * position and the longest repeated substrings — the diagnostics a
  * curation owner reads before choosing an excision width w.
  *
  * Dataflow per shard (shard = doc_id % [[NShards]]; docs concatenate
  * in doc_id order with a UNIQUE per-doc sentinel token between them,
  * so no phantom span crosses a document boundary):
  *
  *  - rank_0 = dense_rank of the token itself; round k = 1..[[K]]:
  *    rank_k = dense_rank of (rank_{k-1}[i], rank_{k-1}[i + 2^{k-1}])
  *    — rank_k equality ⟺ the suffixes share their first 2^k tokens.
  *    The doubled lookup is `lead(·, 2^{k-1})` over gpos, NOT a join:
  *    every round is two shard-partitioned window sorts.
  *  - SA order = (rank_K, gpos); because every suffix ends at its
  *    doc's unique sentinel within [[K]]'s 2^K-token horizon, rank_K
  *    is already tie-free here (gpos is belt and braces).
  *  - LCP of SA-adjacent suffixes: cap-bounded DIRECT EXTENSION (the
  *    Lee et al. match-extension step): every suffix lies entirely
  *    inside its own document (the sentinel ends it), so the pair
  *    joins its two docs' token arrays — two hash joins total, doc
  *    side broadcast-eligible — and lcp = common-prefix length of
  *    the [[MaxLcp]]-capped slices, a scan-stage array op. (The
  *    classical rank-descent alternative — 2(K+1) joins probing
  *    rank_k at shifted positions — was built and measured first:
  *    correct, but stage-overhead-bound at 16 sequential joins;
  *    with doc-bounded suffixes the O(cap) compare is strictly
  *    cheaper and replays in SQL verbatim.)
  *  - dup_len(p) = max(LCP with SA-predecessor, LCP with successor)
  *    = max LCP with ANY other suffix (SA restriction property; the
  *    restriction to non-sentinel suffixes keeps it because LCP
  *    against a sentinel suffix is 0). Positions with dup_len ≥
  *    [[DedupPack.SpanGram]] union into per-doc covered intervals via
  *    the same packed-long fold as [[DedupPack.dupSpans]], extended
  *    to VARIABLE lengths (ends are no longer monotone, so the fold
  *    clamps with greatest(0, ·)).
  *
  * 100 TB: the shard is the unit of parallelism — the published
  * design (Lee et al. build one SA per ~GB shard and merge findings);
  * [[NShards]] is the knob, sized so a shard's position frame fits a
  * task comfortably (their suffix arrays are built per shard for the
  * same reason). Every window here is PARTITIONED by shard (the
  * global-window ban holds), doubling is O(log span-horizon) rounds
  * of shard-local sorts, and the LCP step is two hash joins on
  * doc_id plus a scan-stage capped compare — O(cap) work per
  * SA-adjacent pair, no quadratic pair set anywhere (pairs = one
  * row per position). Duplicates spanning shards are found by the
  * shingle pass (ds_dup_spans, corpus-global) — the two operators are
  * complementary by construction, not alternatives.
  *
  * Determinism: all ranks/positions/LCPs are integers; the only
  * cross-engine assumption is binary string collation for the token
  * dense_rank (Spark UTF8String and DuckDB both compare bytes; the
  * corpus is ASCII and the sentinel is U+0001-prefixed).
  *
  * Cap honesty: rank_K orders by the first 2^K = 128 tokens (ties
  * beyond the horizon break by gpos) and LCPs measure exactly up to
  * [[MaxLcp]] = 255 tokens. The synthetic docs cap at ~100 tokens
  * (every suffix meets its sentinel first), so both bounds are
  * vacuous here; a production corpus with longer spans of interest
  * raises K — rounds are log in the horizon — and MaxLcp, which is
  * linear scan-stage work.
  *
  * Reference analog: none — the reference (c0mm4nd/labelmain) has no
  * corpus-analysis layer; this serves the training-data side, citing
  * the published ExactSubstr dedup design.
  */
object SuffixArray {

  /** Doubling rounds: rank_K equality ⟺ first 2^K tokens equal. */
  val K = 7

  /** Corpus shards (the Lee et al. per-shard SA unit). Parallelism
    * and memory knob — see the scaladoc's 100 TB paragraph. */
  val NShards = 4

  /** Sentinel token prefix: U+0001 cannot occur in split(text, " ")
    * output, and sentinel + doc_id is unique per doc. */
  val Sentinel = "\u0001"

  private val B = DedupPack.SpanPosBase
  private val Shift = DedupPack.SpanPosShift

  /** Position frame: one row per token of the per-shard concatenation
    * (docs in doc_id order, each followed by its unique sentinel).
    * (shard, doc_id, gpos, pos, tok, sent). */
  def positions(docs: DataFrame, nShards: Int = NShards): DataFrame = {
    val ts = docs.select(col("doc_id"),
      concat(split(col("text"), " "),
        array(concat(lit(Sentinel), col("doc_id").cast("string"))))
        .as("ts"))
    val sized = ts.select(col("doc_id"),
      (col("doc_id") % nShards).as("shard"), col("ts"),
      size(col("ts")).cast("long").as("l"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sized.withColumn("base", coalesce(sum("l").over(w), lit(0L)))
      .select(col("shard"), col("doc_id"), col("base"), col("l"),
        posexplode(col("ts")).as(Seq("p", "tok")))
      .select(col("shard"), col("doc_id"),
        (col("base") + col("p")).as("gpos"),
        col("p").cast("long").as("pos"), col("tok"),
        (col("p").cast("long") === col("l") - 1).as("sent"))
  }

  /** Prefix-doubling ranks rk0..rkK appended to [[positions]]. Two
    * shard-partitioned windows per round (lead, then dense_rank). */
  def ranked(pos: DataFrame): DataFrame = {
    val wTok = Window.partitionBy("shard").orderBy("tok")
    var df = pos.withColumn("rk0",
      dense_rank().over(wTok).cast("long"))
    for (k <- 1 to K) {
      val d = 1 << (k - 1)
      val wPos = Window.partitionBy("shard").orderBy("gpos")
      val prev = col(s"rk${k - 1}")
      df = df
        .withColumn("nx", coalesce(lead(prev, d).over(wPos), lit(-1L)))
        .withColumn(s"rk$k", dense_rank()
          .over(Window.partitionBy("shard").orderBy(prev, col("nx")))
          .cast("long"))
        .drop("nx")
    }
    df
  }

  /** The persisted rank and pair frames as an [[IndexCache]]
    * artifact: both registered queries — and repeated Verify/Bench
    * calls — reuse one materialized doubling chain per corpus instead
    * of re-running the doubling chain per consumer. */
  private def builtFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame): (DataFrame, DataFrame) =
    IndexCache.artifact(spark, "suffixarray", dir) {
      // NARROW projection before the persist: consumers only need
      // the SA key — caching the full doubling frame (every rk_k +
      // the token column) cost 4.7 s in columnar cache build at
      // sf0.1 vs 0.8 s for the whole doubling chain itself
      // (measured; the wide cache was the dominant construction
      // cost, not the 17 window stages).
      val r = ranked(positions(docs))
        .select(col("shard"), col("gpos"), col("doc_id"), col("pos"),
          col("sent"), col(s"rk$K"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // a failed build must not leak the ranks cache: if either
      // materializing count throws, unpersist before rethrowing
      // (nothing was published to the memo yet)
      val p = try {
        r.count() // materialize once, here, so no consumer re-runs it
        // the SA-adjacent pair frame (one small integer row per
        // position) is the family's SECOND shared frame: both
        // consumers — spans coverage and the LRS top-K — otherwise
        // re-run the SA window plus the two doc joins and the LCP
        // walk from the cached ranks
        val p0 = saPairs(r, docs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try { p0.count(); p0 }
        catch { case t: Throwable =>
          p0.unpersist(blocking = false); throw t }
      } catch { case t: Throwable =>
        r.unpersist(blocking = false); throw t }
      (r, p)
    }

  /** Exact-LCP horizon: common prefixes measure exactly up to this
    * many tokens (longer would report MaxLcp; impossible here — the
    * sentinel ends every suffix within its doc). */
  val MaxLcp = 255

  /** SA-adjacent suffix pairs with EXACT lcp by cap-bounded direct
    * extension: (shard, doc_id, pos, i, j, lcp) — doc_id/pos locate
    * suffix i. `docs` must be the same (doc_id, text) frame the
    * ranks were built from. */
  def saPairs(ranks: DataFrame, docs: DataFrame): DataFrame = {
    val sa = ranks.filter(!col("sent"))
    val wSa = Window.partitionBy("shard").orderBy(col(s"rk$K"), col("gpos"))
    val pairs = sa.select(col("shard"), col("doc_id"), col("pos"),
        col("gpos").as("i"),
        lead(col("gpos"), 1).over(wSa).as("j"),
        lead(col("doc_id"), 1).over(wSa).as("doc_j"),
        lead(col("pos"), 1).over(wSa).as("pos_j"))
      .filter(col("j").isNotNull)
    val ts = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
    // suffix slices, sentinel excluded: two suffixes from different
    // docs can never match at a sentinel (unique per doc), and two
    // from the SAME doc reach it at different offsets — so the
    // real-token common prefix IS the concatenation LCP
    val withTs = pairs
      .join(ts.withColumnRenamed("doc_id", "doc_a_")
        .withColumnRenamed("ts", "ts_a"),
        col("doc_id") === col("doc_a_"))
      .join(ts.withColumnRenamed("doc_id", "doc_b_")
        .withColumnRenamed("ts", "ts_b"),
        col("doc_j") === col("doc_b_"))
    val za = slice(col("ts_a"), (col("pos") + 1).cast("int"), lit(MaxLcp))
    val zb = slice(col("ts_b"), (col("pos_j") + 1).cast("int"), lit(MaxLcp))
    // codegen'd single-pass prefix walk (plans/CommonPrefixLen) —
    // stops at the first mismatch; one slice a prefix of the other
    // gives the shorter length (sentinels differ right after)
    withTs.select(col("shard"), col("doc_id"), col("pos"),
      col("i"), col("j"),
      graft.plans.CommonPrefixLen.of(za, zb).as("lcp"))
  }

  /** dup_len per suffix: max lcp over the (≤2) SA neighbors — by the
    * restriction property, the max over ALL other suffixes. */
  def dupLens(pairs: DataFrame): DataFrame =
    pairs.select(col("shard"), col("i").as("gpos"), col("lcp"))
      .unionByName(
        pairs.select(col("shard"), col("j").as("gpos"), col("lcp")))
      .groupBy(col("shard"), col("gpos")).agg(max(col("lcp")).as("dl"))

  /** ds_sa_spans: per-doc duplicated-token coverage from exact
    * maximal spans — union of [pos, pos+dup_len) over positions with
    * dup_len ≥ w, via the packed (covered, prevEnd) long fold with
    * variable ends. Output (doc_id, n_toks, dup_toks). */
  def spanCoverage(docs: DataFrame, w: Int = DedupPack.SpanGram,
                   ranks: DataFrame,
                   pairs: Option[DataFrame] = None): DataFrame = {
    val sa = ranks.filter(!col("sent"))
      .select(col("shard"), col("gpos"), col("doc_id"), col("pos"))
    val pr = pairs.getOrElse(saPairs(ranks, docs))
    val entries = sa.join(dupLens(pr), Seq("shard", "gpos"))
      .filter(col("dl") >= w)
      .select(col("doc_id"),
        (col("pos") * B + col("pos") + col("dl")).as("pe"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("pe"))).as("ps"))
    val covered = entries.select(col("doc_id"),
      aggregate(col("ps"), lit(0L),
        (st, pe) => {
          val p = shiftright(pe, Shift)
          val end = pe % B
          val prevEnd = st % B
          st - prevEnd +
            greatest(lit(0L), end - greatest(p, prevEnd)) * B +
            greatest(end, prevEnd)
        },
        st => shiftright(st, Shift)).as("dup_toks"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("dup_toks"), lit(0L)).as("dup_toks"))
  }

  /** ds_sa_lrs: the longest repeated substrings — top `n` SA-adjacent
    * LCPs ≥ w, each with its span text sliced back out of the source
    * doc. Output (doc_id, pos, len, span); (doc_id, pos) is unique
    * (one SA successor per suffix), so the cut is deterministic. */
  def longestSpans(docs: DataFrame, ranks: DataFrame,
                   w: Int = DedupPack.SpanGram, n: Int = 10,
                   pairs: Option[DataFrame] = None): DataFrame =
    pairs.getOrElse(saPairs(ranks, docs))
      .filter(col("lcp") >= w)
      .orderBy(col("lcp").desc, col("doc_id"), col("pos"))
      .limit(n)
      .join(docs.select(col("doc_id"), split(col("text"), " ").as("ts")),
        Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("lcp").as("len"),
        array_join(slice(col("ts"), (col("pos") + 1).cast("int"),
          col("lcp").cast("int")), " ").as("span"))

  // ---- registered query bodies -------------------------------------

  /** Both queries run on a [[LoopWidth]]-sized session: every window
    * here partitions by shard, so at the test session's 32-wide
    * shuffles 17 sequential window stages each schedule 28 EMPTY
    * tasks — the construction was measured scheduling-bound, the
    * PageRank/BPE pathology. Width min(NShards, parallelism) is
    * exact: window parallelism cannot exceed the shard count, and a
    * production NShards (~10⁵ archives-worth) clears any cluster
    * width, so the cap only ever binds at toy scale. */
  private def sized[T](spark: org.apache.spark.sql.SparkSession,
                       dir: String)(body: DataFrame => T): T = {
    val docs = graft.Tables.documents(spark, dir)
    val p = math.min(NShards,
      math.max(1, spark.sparkContext.defaultParallelism))
    LoopWidth.onSizedSession(docs, p)(body)
  }

  def saSpans(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    sized(spark, dir) { docs =>
      val (r, p) = builtFor(spark, dir, docs)
      spanCoverage(docs, DedupPack.SpanGram, r, Some(p))
    }

  def saLrs(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    sized(spark, dir) { docs =>
      val (r, p) = builtFor(spark, dir, docs)
      longestSpans(docs, r, pairs = Some(p))
    }

  // ---- DuckDB oracle ------------------------------------------------

  /** Shared CTE chain replaying positions → doubling → SA pairs →
    * capped slice-compare LCP → dup_len, bit-for-bit (integer ranks
    * and positions; binary token collation). Final CTEs: `sa`
    * (shard, doc_id, pos, gpos), `d0` (pairs with exact lcp), `dl`
    * (per-gpos dup_len). */
  def sqlBaseCtes(nShards: Int = NShards): String = {
    val pos =
      s"""t AS (SELECT doc_id, doc_id % $nShards AS shard,
         |  list_append(string_split(text, ' '),
         |              chr(1) || CAST(doc_id AS VARCHAR)) AS ts
         |  FROM documents),
         |sz AS (SELECT doc_id, shard, ts, len(ts)::BIGINT AS l FROM t),
         |bz AS (SELECT *, COALESCE(sum(l) OVER (PARTITION BY shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0)::BIGINT AS base FROM sz),
         |p0 AS (SELECT shard, doc_id, base + j - 1 AS gpos,
         |    (j - 1)::BIGINT AS pos, ts[CAST(j AS INTEGER)] AS tok,
         |    (j = l) AS sent
         |  FROM bz, UNNEST(generate_series(1, l)) AS u(j)),
         |r0 AS (SELECT *, CAST(dense_rank() OVER (PARTITION BY shard
         |    ORDER BY tok) AS BIGINT) AS rk0 FROM p0)""".stripMargin
    val rounds = (1 to K).map { k =>
      val d = 1 << (k - 1)
      s"""x$k AS (SELECT *, COALESCE(lead(rk${k - 1}, $d) OVER (
         |    PARTITION BY shard ORDER BY gpos), -1) AS nx$k
         |  FROM r${k - 1}),
         |r$k AS (SELECT *, CAST(dense_rank() OVER (PARTITION BY shard
         |    ORDER BY rk${k - 1}, nx$k) AS BIGINT) AS rk$k FROM x$k)"""
        .stripMargin
    }
    val pairs =
      s"""sa AS (SELECT shard, doc_id, pos, gpos, rk$K FROM r$K
         |  WHERE NOT sent),
         |pr AS (SELECT shard, doc_id, pos, gpos AS i,
         |    lead(gpos) OVER w AS j,
         |    lead(doc_id) OVER w AS doc_j,
         |    lead(pos) OVER w AS pos_j
         |  FROM sa
         |  WINDOW w AS (PARTITION BY shard ORDER BY rk$K, gpos)),
         |dt AS (SELECT doc_id, string_split(text, ' ') AS rts
         |  FROM documents),
         |dz AS (SELECT p.shard, p.doc_id, p.pos, p.i, p.j,
         |    a.rts[CAST(p.pos + 1 AS INTEGER)
         |          : CAST(p.pos + $MaxLcp AS INTEGER)] AS za,
         |    b.rts[CAST(p.pos_j + 1 AS INTEGER)
         |          : CAST(p.pos_j + $MaxLcp AS INTEGER)] AS zb
         |  FROM pr p
         |  JOIN dt a ON a.doc_id = p.doc_id
         |  JOIN dt b ON b.doc_id = p.doc_j
         |  WHERE p.j IS NOT NULL),
         |df_ AS (SELECT shard, doc_id, pos, i, j,
         |    list_position(list_transform(
         |      range(1, CAST(greatest(len(za), len(zb)) AS INTEGER) + 1),
         |      t -> COALESCE(za[t] = zb[t], FALSE)), FALSE) AS fp,
         |    len(za) AS la, len(zb) AS lb
         |  FROM dz),
         |d0 AS (SELECT shard, doc_id, pos, i, j,
         |    CASE WHEN fp = 0 THEN least(la, lb)::BIGINT
         |         ELSE (fp - 1)::BIGINT END AS lcp
         |  FROM df_)""".stripMargin
    val dl =
      s"""dl AS (SELECT shard, gpos, max(lcp) AS dl FROM (
         |    SELECT shard, i AS gpos, lcp FROM d0
         |    UNION ALL SELECT shard, j AS gpos, lcp FROM d0)
         |  GROUP BY shard, gpos)""".stripMargin
    (Seq(pos) ++ rounds ++ Seq(pairs, dl))
      .mkString(",\n")
  }

  /** SQL twin of [[spanCoverage]]. */
  def sqlSpans: String =
    s"""WITH ${sqlBaseCtes()},
       |hits AS (SELECT sa.doc_id,
       |    list_sort(list(sa.pos * $B + sa.pos + dl.dl)) AS ps
       |  FROM sa JOIN dl ON dl.shard = sa.shard AND dl.gpos = sa.gpos
       |  WHERE dl.dl >= ${DedupPack.SpanGram} GROUP BY sa.doc_id),
       |cov AS (SELECT doc_id,
       |    list_reduce(list_prepend(0::BIGINT, ps),
       |      (st, pe) -> st - (st % $B)
       |        + greatest(0, (pe % $B) - greatest(pe // $B, st % $B)) * $B
       |        + greatest(pe % $B, st % $B)) // $B AS dup_toks
       |  FROM hits)
       |SELECT d.doc_id, len(string_split(d.text, ' '))::BIGINT AS n_toks,
       |       COALESCE(cov.dup_toks, 0::BIGINT) AS dup_toks
       |FROM documents d LEFT JOIN cov USING (doc_id)""".stripMargin

  /** SQL twin of [[longestSpans]]. */
  def sqlLrs: String =
    s"""WITH ${sqlBaseCtes()},
       |top AS (SELECT doc_id, pos, lcp AS len FROM d0
       |  WHERE lcp >= ${DedupPack.SpanGram}
       |  ORDER BY lcp DESC, doc_id, pos LIMIT 10)
       |SELECT top.doc_id, top.pos, top.len,
       |  array_to_string(string_split(d.text, ' ')
       |    [CAST(top.pos + 1 AS INTEGER) : CAST(top.pos + top.len AS INTEGER)],
       |    ' ') AS span
       |FROM top JOIN documents d ON d.doc_id = top.doc_id""".stripMargin
}
