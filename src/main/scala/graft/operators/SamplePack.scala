package graft.operators

import graft.{Det, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing dataset-curation queries over [[Sampling]] — the
  * subsample / split / mix / pack layer a training-data pipeline runs
  * after extraction and dedup (no counterpart in the reference, which
  * ingests everything it scrapes; first-class here per the build
  * brief's training-pipeline mandate, like the ds_/sim_/tx_ families).
  *
  * All decisions are salted-hash-deterministic (see [[Sampling]]), so
  * every query replays exactly in the DuckDB oracle.
  */
object SamplePack extends QueryPack {

  /** Fixed token budget for sp_pack_sequences — a context-window-ish
    * size that yields multiple bins per (source, lang) shard at every
    * test SF. */
  val PackBudget = 2048

  /** sp_token_budget global budget — ~⅓ of the sf0.01 corpus's
    * ~27 k tokens, so derived rates spread well below saturation
    * across the four weight classes. */
  val TokenBudget = 10000L

  /** sp_source_cap per-source keep count — under the 25-docs-per-
    * source fixture density at every SF, so the cap actually cuts. */
  val SourceCap = 15

  /** The corpus split rule — ONE definition shared by the manifest
    * (`sp_split_stats`) and the leakage audit (`ds_split_leakage`):
    * [[Sampling.splitAssign]] under salt "s2", 80/10/10. An audit
    * keyed on a different salt would check a split nobody trains on. */
  def corpusSplit(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Sampling.splitAssign(id, "s2", trainPct = 80, valPct = 10)

  /** The DuckDB twin of [[corpusSplit]]. */
  def corpusSplitSql(idExpr: String): String =
    s"""CASE WHEN ${Sampling.sqlBucket(idExpr, "s2")} < 80 THEN 'train'
       |     WHEN ${Sampling.sqlBucket(idExpr, "s2")} < 90 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** sp_unimax_mix epoch cap C (UniMax's one knob): no source may be
    * allocated more than C × its own token count. */
  val UniMaxEpochCap = 2L

  /** sp_unimax_mix total budget as permille of the corpus's tokens —
    * 1.9× the corpus with C = 2 puts the waterfill level INSIDE the
    * per-source capacity range at every SF (sizes spread ±15%), so
    * the fixture exercises both capped and uncapped sources. */
  val UniMaxBudgetPermille = 1900L

  /** The UniMax greedy, shared by sp_unimax_mix and
    * sp_unimax_sample: (source, n_toks, cap_toks, alloc_toks) in
    * (capacity, source) walk order. Distributed token count, then a
    * driver-side walk at SOURCE cardinality (bounded state). */
  private def unimaxAllocs(s: SparkSession, dir: String)
      : Seq[(String, Long, Long, Long)] = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var rem = counts.map(_._2).sum * UniMaxBudgetPermille / 1000
    val ordered = counts
      .map { case (src, n) => (src, n, n * UniMaxEpochCap) }
      .sortBy { case (src, _, cap) => (cap, src) }
    ordered.zipWithIndex.map { case ((src, n, cap), i) =>
      val alloc = math.min(cap, rem / (ordered.length - i))
      rem -= alloc
      (src, n, cap, alloc)
    }.toSeq
  }

  /** CTE block shared by both UniMax oracles: `src` (per-source
    * counts), `tot`, `ord` (capacity walk order), `step` (the
    * recursive greedy). Spliced after WITH RECURSIVE. */
  private def unimaxSqlCtes: String =
    s"""src AS (
       |  SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS t,
       |               count(*) AS nsrc FROM src),
       |ord AS (SELECT source, n_toks,
       |          n_toks * $UniMaxEpochCap AS cap_toks,
       |          row_number() OVER (ORDER BY n_toks * $UniMaxEpochCap,
       |                             source) AS k
       |        FROM src),
       |step(k, rem, alloc, source) AS (
       |  SELECT 0, (SELECT t * $UniMaxBudgetPermille // 1000 FROM tot),
       |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
       |  UNION ALL
       |  SELECT o.k,
       |    s.rem - least(o.cap_toks,
       |      s.rem // ((SELECT nsrc FROM tot) - o.k + 1)),
       |    least(o.cap_toks,
       |      s.rem // ((SELECT nsrc FROM tot) - o.k + 1)),
       |    o.source
       |  FROM step s JOIN ord o ON o.k = s.k + 1)""".stripMargin

  /** sp_shard_manifest sequences per output shard — small enough
    * that every test SF produces several shards (including a partial
    * tail shard, the boundary a resuming reader must handle). */
  val SeqsPerShard = 16

  /** sp_corpus_e2e gopher token floor — the one tuned knob of the
    * published rule set (50 is the English-crawl value; the synthetic
    * corpus averages ~55 tokens/doc, so the crawl-pipeline run uses a
    * floor sized to keep the post-gate stages — dedup, decon, mix,
    * pack — exercised rather than starved). */
  val CorpusMinTokens = 20L

  /** sp_token_feed word-boundary token: U+E0FF, in the private-use
    * block ABOVE every BPE merge sentinel (U+E000 + k, k < iters) —
    * corpus text cannot contain it (the writer never emits
    * private-use codepoints), so the id stream is unambiguous where
    * an ASCII separator would silently corrupt on a word that
    * legitimately contains it. */
  val TokenFeedSep: Char = 0xE0FF.toChar

  /** sp_corpus_e2e sequences per shard — smaller than
    * [[SeqsPerShard]] so the pipeline's (smaller) surviving corpus
    * still spans several shards including a partial tail. */
  val CorpusSeqsPerShard = 4

  /** sp_time_split cutoff — mid-range of the events fixture's
    * 2024-01 span at every SF, so both splits are populated. Kept as
    * a STRING and cast in the session (UTC) timezone —
    * `Timestamp.valueOf` would parse it in the JVM-default zone and
    * silently shift the split boundary on non-UTC machines. */
  val TimeSplitCutoff = "2024-01-20 00:00:00"

  /** DSIR feature-hash width. 256 buckets keep the two bucket-LMs a
    * broadcast-trivial table at any corpus size while still
    * separating the synthetic sources' vocabularies. */
  val DsirBuckets = 256

  /** DSIR target slice — the "quality corpus" whose distribution the
    * selection tilts toward; everything else is the raw pool being
    * selected from. */
  val DsirTarget = "src0"

  /** sp_dsir_sample keep count. */
  val DsirK = 64

  /** Per-doc DSIR importance weight (Data Selection via Importance
    * Resampling, Xie et al. 2023 — the published method for tilting a
    * raw crawl toward a quality target): unigram+bigram features hash
    * into [[DsirBuckets]] buckets (md5-derived, engine-portable),
    * add-one smoothed bucket LMs are fit to the target slice and the
    * raw pool, and every pool doc scores the log-likelihood ratio of
    * its features. Scale shape: feature hashing is scan-stage; the
    * two bucket LMs are B-row aggregates broadcast back; the per-doc
    * score is ONE map-side-combined groupBy over scan-stage
    * broadcast-joined rows. Log-ratios are quantized once per BUCKET
    * to 1e-4 long units (the tx_lm_perplexity discipline), so the
    * per-doc sums are exact and order-free. Returns (doc_id, n_feats,
    * lwu) with lwu in 1e-4 units. */
  private def dsirScored(s: SparkSession, dir: String): DataFrame =
    // an IndexCache artifact: the weights and the Gumbel-sample
    // queries consume the same trained importance model
    IndexCache.artifact(s, "dsir", dir)(
      dsirScoredOf(s, dir).localCheckpoint(eager = true))

  private def dsirScoredOf(s: SparkSession, dir: String): DataFrame = {
    val B = DsirBuckets
    // the hashed-feature frame feeds FOUR consumers (the two totals,
    // both bucket LMs, and the final scoring join) — project it down
    // to (doc_id, source, bucket) and materialize once; the n-gram
    // string exists only to hash
    val feats = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("source"),
        explode(concat(col("toks"),
          graft.functions.Hashing.shingles(col("toks"), 2))).as("ng"))
      .select(col("doc_id"), col("source"),
        pmod(graft.functions.Hashing.h32(col("ng")), lit(B.toLong)).as("b"))
      .localCheckpoint(eager = true)
    val tot = feats.agg(
      sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("ttot"),
      sum(when(col("source") =!= DsirTarget, 1L).otherwise(0L)).as("rtot"))
    val tc = feats.filter(col("source") === DsirTarget)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val rc = feats.filter(col("source") =!= DsirTarget)
      .groupBy("b").agg(count(lit(1)).as("rc"))
    val ratio = s.range(B.toLong).select(col("id").as("b"))
      .join(tc, Seq("b"), "left").join(rc, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        floor((log2((coalesce(col("tc"), lit(0L)) + lit(1.0))
            / (col("ttot") + lit(B)))
          - log2((coalesce(col("rc"), lit(0L)) + lit(1.0))
            / (col("rtot") + lit(B))))
          * lit(1e4) + lit(0.5)).cast("long").as("lru"))
    feats.filter(col("source") =!= DsirTarget)
      .join(broadcast(ratio), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("lru")).as("lwu"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Epoch shuffle: each training epoch is a deterministic
    // pseudo-random PERMUTATION of the corpus — position = total-order
    // rank of an md5-derived key, materialized through
    // [[GlobalIndex.withPosition]] (range-repartition + two-pass
    // enumeration), NOT a one-task global window. Epochs iterate a
    // driver loop (epoch count is small by nature); each epoch's
    // passes are fully distributed. The key carries the epoch in its
    // salt, so no two epochs share an ordering; doc_id tiebreaks the
    // rare h32 collision to keep the order total.
    "sp_epoch_shuffle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      Seq(0, 1).map { ep =>
        val keyed = docs.select(lit(ep).as("epoch"), col("doc_id"),
          graft.functions.Hashing.h32(
            concat(lit(s"e${ep}_"), col("doc_id").cast("string"))).as("k"))
        GlobalIndex.withPosition(keyed,
          Seq(col("k"), col("doc_id")), "pos")
      }.reduce(_ unionByName _)
        .select(col("epoch"), col("doc_id"), col("pos"))
    }),

    // Deterministic 10% Bernoulli sample: scan-stage codegen'd
    // filter, zero shuffle, stable across runs/engines/partitionings.
    "sp_hash_sample" -> ((s, dir) =>
      Sampling.hashSample(Tables.documents(s, dir), col("doc_id"),
          salt = "s1", pct = 10)
        .select(col("doc_id"), col("source"), col("lang"))),

    // Train/val/test carve keyed on the stable doc id (split survives
    // corpus growth — no leakage on re-runs), aggregated per split ×
    // source: one partial-agg shuffle over scan-stage assignment.
    "sp_split_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("split", corpusSplit(col("doc_id")))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))),

    // Exact 5 docs per (source, lang) stratum in salted-hash order —
    // a deterministic "random" stratified sample through the native
    // TopKPerKey bounded heaps (≤ k rows per stratum per partition
    // cross the shuffle; no hot-stratum window concentration).
    "sp_stratified_k" -> ((s, dir) =>
      Sampling.stratifiedK(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang")),
        strata = Seq(col("source"), col("lang")), key = col("doc_id"),
        salt = "s3", k = 5)),

    // Per-source document cap — the "at most K pages per domain"
    // curation rule (bounds any one crawl source's share of the
    // corpus regardless of its raw size). Keeps the K best docs per
    // source by content (n_chars DESC, doc_id ASC tiebreak) through
    // the native TopKPerKey bounded heaps: ≤ K rows per source per
    // input partition cross the shuffle, so a mega-domain with 10⁹
    // pages ships K rows, not 10⁹ into a window sort.
    "sp_source_cap" -> ((s, dir) =>
      graft.plans.TopKPerKey.topKPerKey(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars")),
        keys = Seq(col("source")),
        order = Seq(col("n_chars").desc, col("doc_id").asc),
        k = SourceCap)),

    // Weighted source mixing — per-source sampling rates (the
    // "dataset weights" step of corpus assembly) as one scan-stage
    // filter: rate lookup is a row expression, no shuffle at all.
    "sp_weighted_mix" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(Sampling.bucket(col("doc_id"), "mix") <
          when(col("source") === "src0", 50)
            .when(col("source") === "src1", 25).otherwise(10))
        .select(col("doc_id"), col("source"))),

    // Temperature-flattened source mixing (the multilingual-sampling
    // τ knob): per-source rate ∝ n^(τ−1) with τ = 1/2, i.e. rate =
    // min(90, round(10·√(N/n))) — small sources are up-weighted
    // toward parity, big ones damped, exactly the share^τ
    // re-weighting of multilingual corpus assembly. √ is IEEE-exact
    // in both engines, so the rates (and the hash filter) replay
    // bit-identically. Rates are a k-row broadcast dim; the filter
    // stays in the scan stage.
    "sp_temperature_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val rates = Sampling.temperatureRates(docs, col("source"),
        basePct = 10, maxPct = 90)
      docs.join(broadcast(rates), Seq("source"))
        .filter(Sampling.bucket(col("doc_id"), "temp") < col("rate"))
        .select(col("doc_id"), col("source"))
    }),

    // Temperature mixing over PREDICTED language — the production
    // composition: crawl data has no gold labels, so the per-language
    // shares the τ re-weighting flattens come from the trained
    // langid's output riding the curated-corpus artifact
    // (CrawlText.predictedCuratedFor — the same frame the chrome
    // pass produced, scanned not retrained). A doc the model
    // mis-assigns lands in that language's sampling stratum: the
    // mixing follows the model because at 100 TB the model IS the
    // label.
    "sp_predlang_mix" -> ((s, dir) => {
      val docs = CrawlText.predictedCuratedFor(s, dir)
        .select(col("doc_id"), col("lang"))
      val rates = Sampling.temperatureRates(docs, col("lang"),
        basePct = 10, maxPct = 90)
      docs.join(broadcast(rates), Seq("lang"))
        .filter(Sampling.bucket(col("doc_id"), "plmix") < col("rate"))
        .select(col("doc_id"), col("lang"))
    }),

    // UniMax source mixing (Chung et al. 2023): distribute a total
    // token budget across sources as uniformly as possible subject
    // to a per-source epoch cap — the published fairer alternative
    // to temperature mixing above (which over-samples tiny sources
    // into many epochs). Integer-exact greedy in capacity order:
    // alloc = min(cap, remaining DIV sources_left); the ≤ N−1 token
    // remainder of floor division stays unallocated (declared).
    // Scale shape: the per-source token count is one map-side-
    // combined groupBy; the greedy itself is inherently sequential
    // over SOURCES — language-count cardinality (UniMax's own n is
    // ~100) — so it runs on the driver like every vocab-bounded
    // loop, never touching row-grain data.
    "sp_unimax_mix" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      unimaxAllocs(s, dir)
        .map { case (src, n, cap, alloc) =>
          (src, n, cap, alloc, alloc * 1000 / n) }
        .toDF("source", "n_toks", "cap_toks", "alloc_toks",
          "epochs_permille")
    }),

    // ...and the multiset it denotes: each doc with its repeat count
    // n_epochs = full epochs + membership in the partial epoch — the
    // greedy hash-order fill of the allocation's remainder (the
    // straddling doc is included, so the partial epoch's tokens
    // reach the allocation). One shuffle: the per-source running sum
    // over the deterministic hash order; the ≤|sources|-row
    // allocation table broadcasts onto the scan.
    "sp_unimax_sample" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val al = unimaxAllocs(s, dir)
        .map { case (src, n, _, alloc) => (src, alloc / n, alloc % n) }
        .toDF("source", "full_epochs", "partial_toks")
      val h = graft.functions.Hashing.h32(
        concat(lit("umx#"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("h"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"), h.as("h"))
        .withColumn("cum_prev", coalesce(sum("nt").over(w), lit(0L)))
        .join(broadcast(al), Seq("source"))
        .select(col("doc_id"), col("source"),
          (col("full_epochs") +
            when(col("cum_prev") < col("partial_toks"), 1L).otherwise(0L))
            .as("n_epochs"))
        .filter(col("n_epochs") > 0)
    }),

    // Corpus export as size-bounded jsonl.gz shards (the Dolma /
    // RedPajama interchange format) and READ-BACK through Spark's
    // own JSON parser in FAILFAST mode — the aggregate is computed
    // from the parsed shards, so any writer/reader infidelity (a
    // mis-escaped line, a torn gzip member, a wrong shard cut)
    // breaks the compare against the oracle's replay over the
    // original table. sources/JsonlShards has the format contract.
    "sp_jsonl_shards" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.sources.JsonlShards.parseShards(
          graft.sources.JsonlShards.shardsFromDocuments(
            Tables.documents(s, dir)))
        .groupBy(col("source"), col("shard_idx"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_toks"),
          sum(graft.functions.Hashing.h32(col("text"))).as("content_h"))
    }),

    // Contiguous sequence packing into fixed 2048-token bins per
    // (source, lang) shard: one shuffle on the shard key, running sum
    // within the shard, then per-bin stats ride the same partitioning.
    "sp_pack_sequences" -> ((s, dir) =>
      Sampling.packBins(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        shard = Seq(col("source"), col("lang")),
        order = Seq(col("doc_id")), tokens = col("n_tokens"),
        budget = PackBudget)
        .groupBy(col("source"), col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"))),

    // Epoch ASSEMBLY — shuffle → pack → feed composed into the one
    // artifact a training run actually reads: documents packed into
    // fixed-budget sequences (the same contiguous fill as
    // sp_pack_sequences), then the epoch permutation assigned on the
    // PACKED SEQUENCES (not raw docs — shuffling docs after packing
    // would tear sequences apart; shuffling before packing would make
    // bins epoch-dependent and defeat pack caching). Output: one row
    // per document slot — (pos, source, lang, bin, slot, doc_id,
    // n_tokens) — where `pos` is the sequence's total-order rank under
    // an md5-derived key (GlobalIndex two-pass enumeration, never a
    // one-task window) and `slot` orders docs within their sequence.
    // Scale shape: the permutation runs at SEQUENCE grain (≈ corpus
    // tokens / budget rows — orders of magnitude below doc grain);
    // the positions then join back onto the doc-grain pack on the
    // (source, lang, bin) shard key, and the slot window is
    // partitioned by the same key. A trainer reads ORDER BY pos, slot.
    "sp_epoch_feed" -> ((s, dir) => {
      val binned = Sampling.packBins(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        shard = Seq(col("source"), col("lang")),
        order = Seq(col("doc_id")), tokens = col("n_tokens"),
        budget = PackBudget)
      val seqs = binned.groupBy(col("source"), col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("lang"), col("bin"),
          graft.functions.Hashing.h32(concat(lit("e0_"), col("source"),
            lit("_"), col("lang"), lit("_"),
            col("bin").cast("string"))).as("k"))
      val positioned = GlobalIndex.withPosition(seqs,
          Seq(col("k"), col("source"), col("lang"), col("bin")), "pos")
        .select(col("source"), col("lang"), col("bin"), col("pos"))
      val slotW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("lang"), col("bin"))
        .orderBy(col("doc_id"))
      binned
        .withColumn("slot", (row_number().over(slotW) - 1).cast("long"))
        .join(positioned, Seq("source", "lang", "bin"))
        .select(col("pos"), col("source"), col("lang"), col("bin"),
          col("slot"), col("doc_id"), col("n_tokens"))
    }),

    // The INPUT-IDS feed — tokenizer → pack composed into the
    // artifact a training loop actually consumes: every doc encoded
    // under the TRAINED BPE merge table (the tx_bpe_* memo), its
    // real symbol count driving the pack (not whitespace counts),
    // and the symbol stream itself riding each doc slot as `ids`
    // (one char = one token id; the word-boundary token is
    // [[TokenFeedSep]], from the same U+E0xx private-use block as
    // the BPE merge sentinels — corpus text can never collide with
    // it, unlike an ASCII separator, which a word could legitimately
    // contain and silently corrupt the stream). A trainer reads
    // ORDER BY pos, slot and maps chars to int ids 1:1.
    // Scale shape: encoding is K nested codegen'd replaces in the
    // scan stage (no loop, no shuffle — the tx_bpe_encode plan);
    // the pack and the sequence-grain permutation are exactly
    // sp_epoch_feed's. The ids column makes the feed byte-real:
    // a packing bug, an encode-order bug, or a permutation bug all
    // shift the hash.
    "sp_token_feed" -> ((s, dir) => {
      val merges = TextPack.bpeMergesFor(s, dir)
      val enc = Tables.documents(s, dir).select(
          col("doc_id"), col("source"), col("lang"),
          transform(split(col("text"), " "),
            w => Bpe.encodeCol(w, merges)).as("encs"))
        .select(col("doc_id"), col("source"), col("lang"),
          array_join(col("encs"), TokenFeedSep.toString).as("ids"),
          length(array_join(col("encs"), "")).cast("long").as("n_tokens"))
      val binned = Sampling.packBins(enc,
        shard = Seq(col("source"), col("lang")),
        order = Seq(col("doc_id")), tokens = col("n_tokens"),
        budget = PackBudget)
      val seqs = binned.groupBy(col("source"), col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("lang"), col("bin"),
          graft.functions.Hashing.h32(concat(lit("tf0_"), col("source"),
            lit("_"), col("lang"), lit("_"),
            col("bin").cast("string"))).as("k"))
      val positioned = GlobalIndex.withPosition(seqs,
          Seq(col("k"), col("source"), col("lang"), col("bin")), "pos")
        .select(col("source"), col("lang"), col("bin"), col("pos"))
      val slotW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("lang"), col("bin"))
        .orderBy(col("doc_id"))
      binned
        .withColumn("slot", (row_number().over(slotW) - 1).cast("long"))
        .join(positioned, Seq("source", "lang", "bin"))
        .select(col("pos"), col("source"), col("lang"), col("bin"),
          col("slot"), col("doc_id"), col("n_tokens"), col("ids"))
    }),

    // Output SHARD manifest — the WebDataset-style artifact the
    // training loader reads FIRST: packed sequences, in epoch order,
    // grouped into fixed-count shards (shard = pos DIV SeqsPerShard),
    // one manifest row per shard with its position span and token
    // mass. A resumable reader seeks to shard ⌊resume_pos /
    // SeqsPerShard⌋ and skips whole shards by the manifest instead
    // of scanning the feed. Scale shape: everything runs at SEQUENCE
    // grain (the sp_epoch_feed argument); the manifest rollup is one
    // partial-agg groupBy over ~|sequences| / SeqsPerShard keys.
    "sp_shard_manifest" -> ((s, dir) => {
      val seqStats = Sampling.packBins(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          shard = Seq(col("source"), col("lang")),
          order = Seq(col("doc_id")), tokens = col("n_tokens"),
          budget = PackBudget)
        .groupBy(col("source"), col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
        .withColumn("k", graft.functions.Hashing.h32(
          concat(lit("e0_"), col("source"), lit("_"), col("lang"),
            lit("_"), col("bin").cast("string"))))
      GlobalIndex.withPosition(seqStats,
          Seq(col("k"), col("source"), col("lang"), col("bin")), "pos")
        .withColumn("shard", expr(s"pos DIV $SeqsPerShard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).as("n_docs"),
          sum(col("seq_tokens")).as("shard_tokens"),
          min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
    }),

    // Packing QA — the metric a training-data pipeline actually
    // watches over the packer: per-shard fill ratio, overflow bins
    // (a doc starting near the boundary runs past the budget — the
    // declared contiguous-fill trade), and under-filled bins (the
    // padding waste that burns accelerator hours). Same packBins
    // plan plus two tiny aggs; thresholds are integer so both
    // engines cut identically.
    "sp_pack_efficiency" -> ((s, dir) => {
      val bins = Sampling.packBins(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          shard = Seq(col("source"), col("lang")),
          order = Seq(col("doc_id")), tokens = col("n_tokens"),
          budget = PackBudget)
        .groupBy(col("source"), col("lang"), col("bin"))
        .agg(sum(col("n_tokens")).as("bin_tokens"))
      bins.groupBy("source", "lang").agg(
        count(lit(1)).as("n_bins"),
        sum(col("bin_tokens")).as("packed_tokens"),
        graft.Det.dround(sum(col("bin_tokens")).cast("double")
          / (count(lit(1)) * lit(PackBudget.toLong)), 4).as("fill_ratio"),
        sum(when(col("bin_tokens") > PackBudget, 1L).otherwise(0L))
          .as("n_over"),
        sum(when(col("bin_tokens") < (PackBudget * 9L) / 10L, 1L)
          .otherwise(0L)).as("n_under90"))
    }),

    // The curation chain end-to-end: quality gate → language gate →
    // exact content dedup (keep lowest doc_id) → 50% deterministic
    // sample. Composes the tx_/ds_/sp_ primitives exactly the way a
    // corpus build does; emits the surviving docs so the oracle pins
    // every stage's decision, not just counts.
    "sp_curation_e2e" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .filter(col("n_chars") >= 100 && col("lang") === "en")
      val keep = base
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      Sampling.hashSample(base.join(keep, Seq("doc_id")),
          col("doc_id"), salt = "cur", pct = 50)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // The FULL corpus-assembly job, end to end, as ONE oracled query
    // — the composition a pretraining-data team actually ships (the
    // reference's entire value is likewise its one e2e loop,
    // bitcoinabuse/main.go:85-252): crawl archives → HTTP parse →
    // main-content extraction with per-language chrome removal
    // (CrawlText) → Gopher rule gate → trained-classifier gate (model
    // trained once on the reference corpus, applied to the crawl —
    // the offline-artifact split) → LM self-perplexity band (add-one
    // bigram LM trained on the gated crawl itself, keep the
    // best-modeled two thirds) → exact content dedup → MinHash-LSH
    // near-dup dedup → semantic decontamination vs the broadcast eval
    // set → temperature-flattened source mixing → fixed-budget
    // sequence packing → the training-loader shard manifest.
    //
    // 100 TB shape: every stage is one of the already-audited plans
    // (scan-stage gates, broadcast anti-joins, banded LSH equi-join,
    // sequence-grain GlobalIndex); the three localCheckpoints stand
    // in for the lake-table writes a production build does between
    // stages — without them the 10-stage self-joining lineage grows
    // exponentially (each stage re-derives its parent's whole crawl
    // subtree), which no production pipeline would run either.
    "sp_corpus_e2e" -> ((s, dir) =>
      manifestFrom(s, corpusCuratedFor(s, dir))),

    // ...and the same pipeline's OTHER artifact: the surviving
    // corpus written as jsonl.gz shards and read back — crawl →
    // extract → gates → dedup → decon → mix → EXPORT, aggregated
    // from the parsed shards so the whole chain INCLUDING the
    // writer/reader is under the oracle.
    "sp_corpus_export" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val cur = corpusCuratedFor(s, dir)
      graft.sources.JsonlShards.parseShards(
          graft.sources.JsonlShards.shardsFromDocuments(
            cur.select(col("doc_id"), col("lang"), col("source"),
              col("xt").as("text"))))
        .groupBy(col("source"), col("shard_idx"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_toks"),
          sum(graft.functions.Hashing.h32(col("text"))).as("content_h"))
    }),

    // Cluster-balanced sample: k-means assignment as the stratum,
    // then exact 16 vectors per cluster in salted-hash order. The
    // centroids come from the shared build-once [[IndexCache]] — the
    // production pattern (train once, broadcast the artifact to every
    // consumer); training is deterministic, so reuse cannot change
    // the sample. Uniform sampling over an
    // embedding space reproduces its density; per-cluster k flattens
    // it — the balanced subsample a fine-tuning mix draws. Same
    // bounded-heap TopKPerKey cut as sp_stratified_k.
    "sp_cluster_sample" -> ((s, dir) => {
      val vq = KMeans.quantize(Tables.embeddings(s, dir))
      val cents = IndexCache.centroids(s, dir)
      val assigned = vq.select(col("vec_id"),
        KMeans.assign(KMeans.scores(col("vq"), cents)).as("cluster"))
      Sampling.stratifiedK(assigned, strata = Seq(col("cluster")),
        key = col("vec_id"), salt = "cs1", k = 16)
    }),

    // Out-of-time (temporal) split — the third split flavor next to
    // the random-by-key (sp_split_stats) and group-stable forms:
    // train strictly before the cutoff, eval at-or-after it, leakage
    // impossible by construction (the evaluation regime for anything
    // forecasting-shaped, where a random split would let the model
    // see the future). Scan-stage comparison against a literal
    // timestamp; pushed to the parquet scan as a predicate.
    "sp_time_split" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("split",
          when(col("ts") < lit(TimeSplitCutoff).cast("timestamp"), "train")
            .otherwise("eval"))
        .groupBy("split", "event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          graft.Det.dsum(col("value")).as("sum_value"))),

    // Contrastive training triplets (anchor, positive, negative) —
    // the pair-generation step an embedding-model fine-tune runs over
    // a curated corpus. Positive = a same-k-means-cluster mate,
    // negative = an other-cluster vector, both chosen by salted-hash
    // order so the "random" draw replays deterministically in the
    // oracle. Scale shape: positives ride the bounded cluster
    // equi-join (anchors × their own cluster only); negatives come
    // from a k=1-per-cluster pool cut by the native TopKPerKey and
    // broadcast (k rows total), so no anchor ever scans the corpus —
    // per-anchor work is O(cluster size) + O(k). Anchors whose
    // cluster is a singleton have no positive and drop out (inner
    // join), mirrored by the oracle.
    "sp_contrastive_triplets" -> ((s, dir) => {
      import graft.plans.TopKPerKey.topKPerKey
      val vq = KMeans.quantize(Tables.embeddings(s, dir))
      val cents = IndexCache.centroids(s, dir)
      val asg = vq.select(col("vec_id"),
        KMeans.assign(KMeans.scores(col("vq"), cents)).as("cluster"))
      val anchors = asg.filter(col("vec_id") < 50)
        .select(col("vec_id").as("anchor_id"), col("cluster"))
      val mates = asg.select(col("cluster"), col("vec_id").as("cand_id"),
        graft.functions.Hashing.h32(
          concat(lit("tri#"), col("vec_id").cast("string"))).as("h"))
      val pos = topKPerKey(
        anchors.join(mates, Seq("cluster"))
          .filter(col("cand_id") =!= col("anchor_id")),
        keys = Seq(col("anchor_id")),
        order = Seq(col("h").asc, col("cand_id").asc), k = 1)
        .select(col("anchor_id"), col("cluster"),
          col("cand_id").as("pos_id"))
      val pool = topKPerKey(mates, keys = Seq(col("cluster")),
        order = Seq(col("h").asc, col("cand_id").asc), k = 1)
        .select(col("cluster").as("neg_cluster"),
          col("cand_id").as("neg_id"), col("h").as("nh"))
      topKPerKey(
        pos.join(broadcast(pool), col("neg_cluster") =!= col("cluster")),
        keys = Seq(col("anchor_id")),
        order = Seq(col("nh").asc, col("neg_id").asc), k = 1)
        .select(col("anchor_id"), col("pos_id"), col("neg_id"))
    }),

    // Curriculum decile binning: exact length deciles computed once,
    // riding the plan as a broadcast one-row frame (the
    // tx_length_band pattern — no driver round-trip), then every doc
    // binned in the scan stage by counting cuts ≤ value. Equal-
    // FREQUENCY bins by VALUE cuts — unlike ntile, a document's bin
    // depends only on its length, not its rank, so the assignment is
    // stable under corpus growth and needs no global sort (ntile is
    // one unsplittable window over the whole table). The 9-element
    // filter lambda is interpreted but O(9) per row; cuts are
    // Det.dround'd so both engines cut on identical literals.
    // Exact `percentile` buffers the whole column in ONE agg buffer —
    // fine here, wrong at 10⁹ rows: at scale swap the cut source for
    // approx_percentile (same binning expression, approximate cuts;
    // the q_percentiles/q_percentiles_approx split, which is also
    // why the exact form keeps the oracle hash-exact at test SF).
    "sp_quantile_bins" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val cuts = d
        .agg(expr("percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
          .as("raw"))
        .select(transform(col("raw"), c => graft.Det.dround(c, 4)).as("cs"))
      d.crossJoin(broadcast(cuts))
        .select(col("n_chars"),
          size(filter(col("cs"), c => col("n_chars") >= c))
            .cast("long").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("lo_chars"),
          max(col("n_chars")).as("hi_chars"))
    }),

    // Token-budget mix planner + apply: given a global token budget
    // and per-source target weights, derive the per-source sampling
    // rate that lands the mixture on target, then apply it as a
    // deterministic hash sample and report planned-vs-actual — the
    // job that turns "50% web / 30% books / 20% code" into an actual
    // corpus. Weights here key off the source index (four weight
    // classes) so the plan exercises under- and over-subscribed
    // sources; rates are per-mille integers, divisions are floors of
    // exact-long doubles (< 2^53, bit-identical both engines). Plan:
    // one per-source agg (|S| rows), rates broadcast back onto the
    // scan, the rate filter runs scan-stage, one more per-source agg
    // — at 100 TB two corpus scans and two |S|-row shuffles, nothing
    // keyed wider than the source dimension.
    "sp_token_budget" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
      val wpm = ((regexp_extract(col("source"), "([0-9]+)", 1)
        .cast("long") % 4 + 1) * lit(20)).as("weight_permille")
      val totals = d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .withColumn("weight_permille", wpm)
        .withColumn("desired_tokens",
          floor(col("weight_permille").cast("double") * lit(TokenBudget)
            / lit(1000)).cast("long"))
        .withColumn("rate_permille",
          least(lit(1000L), floor(col("desired_tokens").cast("double")
            * lit(1000) / col("n_tokens")).cast("long")))
      val sampled = d
        .join(broadcast(totals.select(col("source"), col("rate_permille"))),
          Seq("source"))
        .filter(graft.functions.Hashing.h32(
          concat(lit("tb#"), col("doc_id").cast("string"))) % 1000
          < col("rate_permille"))
        .groupBy("source")
        .agg(count(lit(1)).as("sampled_docs"),
          sum(col("n_toks")).as("sampled_tokens"))
      totals.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("weight_permille"), col("desired_tokens"),
          col("rate_permille"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
    }),

    // DSIR scoring half: every raw-pool doc's importance weight
    // (hashed-n-gram log-likelihood ratio toward the target slice) —
    // see [[dsirScored]] for the dataflow and the 100 TB shape.
    "sp_dsir_weights" -> ((s, dir) =>
      dsirScored(s, dir).select(col("doc_id"), col("n_feats"),
        Det.dround(col("lwu").cast("double") / lit(1e4), 4).as("logw"))),

    // DSIR resampling half: Gumbel top-k over the importance weights.
    // Adding standalone Gumbel noise to each log-weight and keeping
    // the global top-k IS weight-proportional sampling without
    // replacement (the Gumbel-max trick); the noise is deterministic
    // (md5-hash uniform per doc_id) so the draw replays exactly in
    // both engines. Noise and key stay in 1e-4 long units end to end
    // — the cut compares exact longs, doc_id breaks ties — and the
    // global cut is TakeOrderedAndProject (never a full sort).
    "sp_dsir_sample" -> ((s, dir) => {
      val u = (graft.functions.Hashing.h32(
        concat(lit("dsir#"), col("doc_id").cast("string"))) + lit(0.5)) /
        lit(4294967296.0)
      val gu = floor(-log(-log(u)) * lit(1e4) + lit(0.5)).cast("long")
      dsirScored(s, dir)
        .withColumn("ku", col("lwu") + gu)
        .orderBy(col("ku").desc, col("doc_id").asc)
        .limit(DsirK)
        .select(col("doc_id"),
          Det.dround(col("ku").cast("double") / lit(1e4), 4).as("sel_key"))
    }),

    // CCNet-style perplexity partition: head/middle/tail thirds of
    // the corpus by LM cross-entropy (the published head/middle/tail
    // cut that decides which slice trains, which backfills, which is
    // dropped), rolled up per (bucket, lang). The model is THE same
    // add-one bigram LM as tx_lm_perplexity ([[TextPack
    // .bigramEntropy]] — one definition, both queries). Thresholds
    // are exact percentiles of the rounded entropy broadcast back as
    // a scalar frame (the tx_length_band pattern); the band test
    // compares rounded values so both engines cut on identical
    // literals.
    // Curriculum feed (the curriculum-learning data op): a global
    // training order that streams easy docs first — band = bigram
    // cross-entropy tercile (sp_ppl_buckets' difficulty model),
    // hash-shuffled WITHIN a band so band-internal order is
    // deterministic but uncorrelated with doc ids. The band cut is a
    // 1-row broadcast; the global position is GlobalIndex's
    // range-partition + per-partition sort + zipWithIndex — never a
    // one-task global window, so the feed assembles at any corpus
    // size.
    "sp_curriculum" -> ((s, dir) => {
      val ent = TextPack.bigramEntropy(s, dir)
      val th = ent.agg(
        Det.dround(expr(
          "percentile(cross_entropy, 0.3333333333333333d)"), 4).as("t1"),
        Det.dround(expr(
          "percentile(cross_entropy, 0.6666666666666666d)"), 4).as("t2"))
      val banded = ent.crossJoin(broadcast(th))
        .select(col("doc_id"),
          when(col("cross_entropy") <= col("t1"), 0L)
            .when(col("cross_entropy") <= col("t2"), 1L)
            .otherwise(2L).as("band"),
          graft.functions.Hashing.h32(
            concat(lit("cur_"), col("doc_id").cast("string"))).as("k"))
      GlobalIndex.withPosition(banded,
          Seq(col("band"), col("k"), col("doc_id")), "pos")
        .select(col("doc_id"), col("band"), col("pos"))
    }),

    "sp_ppl_buckets" -> ((s, dir) => {
      val ent = TextPack.bigramEntropy(s, dir)
      val th = ent.agg(
        Det.dround(expr(
          "percentile(cross_entropy, 0.3333333333333333d)"), 4).as("t1"),
        Det.dround(expr(
          "percentile(cross_entropy, 0.6666666666666666d)"), 4).as("t2"))
      ent.join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .crossJoin(broadcast(th))
        .withColumn("bucket",
          when(col("cross_entropy") <= col("t1"), "head")
            .when(col("cross_entropy") <= col("t2"), "middle")
            .otherwise("tail"))
        .groupBy("bucket", "lang")
        .agg(count(lit(1)).as("n_docs"),
          Det.davg(col("cross_entropy"), 4).as("avg_ce"))
    }),

    // DoReMi domain reweighting (Doremi.scaladoc for the published
    // algorithm and the declared deviations): per-domain mean bigram
    // cross-entropy (ONE map-side-combined agg over the corpus —
    // the same hardness model as sp_ppl_buckets), then the
    // Group-DRO multiplicative-weights loop with a moving weighted
    // baseline at driver-bounded |domains| state (the UniMax greedy
    // pattern). Output: the learned mixture, 20 rows.
    "sp_doremi_weights" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      Doremi.reweight(domLosses(s, dir))
        .toDF("source", "n_docs", "loss_units", "excess_units",
          "w_units", "share_units", "rate_pct")
    }),

    // The mixing-strategy comparison surface — per source, what each
    // of the three published strategies would allocate (temperature
    // sqrt-rates, the UniMax capacity greedy, DoReMi learned
    // weights) side by side. This is the table a data-mix owner
    // actually reads when choosing a strategy; every input is a
    // ≤|domains|-row artifact computed by the machinery its own
    // query already oracles, joined by broadcast.
    "sp_mix_compare" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
      val counts = docs.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val temp = Sampling.temperatureRates(docs, col("source"),
          basePct = 10, maxPct = 90)
        .withColumnRenamed("rate", "temp_rate_pct")
      val uni = unimaxAllocs(s, dir)
        .map { case (src, n, _, alloc) => (src, alloc * 1000 / n) }
        .toDF("source", "unimax_epochs_permille")
      val dor = Doremi.reweight(domLosses(s, dir))
        .map { case (src, _, _, _, _, share, rate) => (src, share, rate) }
        .toDF("source", "doremi_share_units", "doremi_rate_pct")
      counts.join(broadcast(temp), Seq("source"))
        .join(broadcast(uni), Seq("source"))
        .join(broadcast(dor), Seq("source"))
    }),

    // ...and the corpus it denotes: deterministic hash-bucket
    // sampling at the learned per-domain rates — the broadcast
    // ≤|domains|-row rate table against the scan, the
    // sp_temperature_mix shape with DoReMi rates instead of
    // temperature rates.
    "sp_doremi_sample" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val rates = Doremi.reweight(domLosses(s, dir))
        .map { case (src, _, _, _, _, _, rate) => (src, rate) }
        .toDF("source", "rate")
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(broadcast(rates), Seq("source"))
        .filter(Sampling.bucket(col("doc_id"), "doremi") < col("rate"))
        .select(col("doc_id"), col("source"))
    })
  )

  /** Per-domain loss rows for [[Doremi.reweight]]: (source, n_docs,
    * Σ per-doc cross-entropy units) — cross_entropy is already
    * dround4'd, so floor(ce·1e4+0.5) is an exact integer roundtrip
    * on both engines. */
  private def domLosses(s: SparkSession, dir: String): Seq[Doremi.Dom] =
    // |domains|-row driver artifact in IndexCache: three DoReMi-family
    // queries consume it (weights, sample, mix-compare)
    IndexCache.artifact(s, "doremidoms", dir)(
      domLossFrame(TextPack.bigramEntropy(s, dir),
        Tables.documents(s, dir))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))))

  /** The ONE distributed pass behind the DoReMi loop: per-domain doc
    * count + entropy-unit sum (map-side combined, |domains| rows out
    * at any corpus size) — also the DevStress probe surface. */
  private[graft] def domLossFrame(ent: DataFrame,
                                  docs: DataFrame): DataFrame =
    ent.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"),
        floor(col("cross_entropy") * lit(1e4) + lit(0.5))
          .cast("long").as("ceu"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n"), sum(col("ceu")).as("su"))

  /** The sp_corpus_e2e dataflow over EXPLICIT inputs — shared by the
    * registered query and DevStress's ×N scale probe. `chrome` is the
    * per-language boilerplate inventory ((lang, h)); `model` the
    * trained quality classifier (the offline artifacts a production
    * run loads, not retrains). `onStage` fires after each
    * materialized stage with (name, nanos) — the three
    * localCheckpoints stand in for the lake-table writes a production
    * corpus build does between stages (without them the 10-stage
    * self-joining lineage re-derives its parent's whole crawl subtree
    * at every reference — exponential plan growth no production
    * pipeline would run either).
    *
    * Stages: crawl extraction → Gopher gate ([[CorpusMinTokens]]
    * floor) → classifier gate → LM self-perplexity band (add-one
    * bigram LM trained on the gated crawl itself, keep cross-entropy
    * ≤ the 2/3 percentile) → exact dedup → MinHash-LSH near-dup →
    * semantic decon vs the broadcast eval slice → temperature mix →
    * fixed-budget pack → shard manifest at sequence grain.
    *
    * Checkpoint lifecycle: the three stage frames' blocks are
    * reclaimed by the ContextCleaner when the returned plan (and the
    * intermediates it references) become unreachable — per-call
    * residency is three SMALL post-gate frames (the curated corpus
    * and two shrinking survivor sets), not unbounded growth, and a
    * production run replaces them with real lake-table writes. */
  /** The surviving corpus as an [[IndexCache]] artifact: the pipeline
    * computes it ONCE and derives both artifacts (manifest + export)
    * from it. The value is checkpoint-backed ([[corpusCurated]]'s
    * stages already localCheckpoint), so the memo holds small plans,
    * not live caches. */
  private[graft] def corpusCuratedFor(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "corpuscurated", dir)(
      corpusCurated(s,
        docs = Tables.documents(s, dir),
        emb = Tables.embeddings(s, dir),
        chrome = CrawlText.chromeFor(s, dir),
        model = TextPack.classifierModelFor(s, dir),
        preCurated = Some(CrawlText.curatedFor(s, dir)))
        .localCheckpoint(true))

  /** The corpus-assembly pipeline up to its LAST doc-grain stage —
    * crawl → extract → quality gates → exact+near dedup → semantic
    * decon → temperature mix — returning the surviving corpus
    * (source, doc_id, lang, xt). [[corpusManifest]] packs it into
    * the sequence manifest; sp_corpus_export writes it as jsonl.gz
    * shards (the two artifacts a data team actually ships). */
  private[graft] def corpusCurated(s: SparkSession, docs: DataFrame,
      emb: DataFrame, chrome: DataFrame, model: Classifier.Model,
      onStage: (String, Long) => Unit = (_, _) => (),
      preCurated: Option[DataFrame] = None): DataFrame = {
    implicit val sp: SparkSession = s
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      onStage(name, System.nanoTime() - t0); r
    }
    // crawl → curated corpus (doc_id, lang, xt); materialized once.
    // A dir-keyed caller hands in the shared CrawlText.curatedFor
    // artifact (already checkpoint/parquet-backed) instead of
    // re-running the Warc-parse chain; DevStress's replicated corpora
    // have no dir key and take the inline build.
    val cur = timed("extract")(preCurated.getOrElse(
      CrawlText.curatedTextWithChrome(
        graft.sources.Warc.parseHttpRecords(
          graft.sources.Warc.htmlResponseArchives(docs)).toDF(),
        chrome).localCheckpoint(true)))
    // gate 1: Gopher composite rules over the extracted text
    val wsToks = cur.select(col("doc_id"),
      split(col("xt"), "\\s+").as("toks"))
    val gok = TextPack.gopherFrame(wsToks, minTokens = CorpusMinTokens)
      .filter(col("pass")).select("doc_id")
    // gate 2: the trained quality classifier, scored over the crawl
    val z = Classifier.zOf(Classifier.features(wsToks), model, s)
    val zEmpty = math.floor(model.offset.toDouble / 1000).toLong
    val cok = cur.select("doc_id").join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        Classifier.pUnits(coalesce(col("z"), lit(zEmpty))).as("p"))
      .filter(col("p") >= lit(Classifier.Units / 2)).select("doc_id")
    val s1 = cur.join(gok, Seq("doc_id")).join(cok, Seq("doc_id"))
    // gate 3: LM self-perplexity band
    val ent = TextPack.bigramEntropyOf(
      s1.select(col("doc_id"), split(col("xt"), " ").as("toks")))
    val th = ent.agg(Det.dround(
      expr("percentile(cross_entropy, 0.6666666666666666d)"), 4).as("t"))
    val s2 = timed("quality_gates")(s1.join(
        ent.crossJoin(broadcast(th))
          .filter(col("cross_entropy") <= col("t")).select("doc_id"),
        Seq("doc_id"))
      .localCheckpoint(true))
    // dedup, exact then near: min-doc_id keeper per content hash,
    // then the banded MinHash-LSH chain over the survivors
    val keep = s2.groupBy(md5(col("xt")).as("ch"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s3 = s2.join(keep, Seq("doc_id"))
    val losers = Components.connectedComponents(
        DedupPack.candidatePairsFromSig(
          DedupPack.signaturesFrom(
            s3.select(col("doc_id"), split(col("xt"), " ").as("toks")))))
      .filter(col("node") =!= col("rep"))
      .select(col("node").as("doc_id"))
    val s4 = timed("dedup")(s3.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true))
    // semantic decon: drop eval members and anything within
    // cos ≥ 0.3 of the broadcast eval set (doc_id = vec_id)
    val evals = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("evec"))
    val flagged = emb.filter(col("vec_id") % 50 =!= 0)
      .join(s4.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .crossJoin(broadcast(evals))
      .filter(graft.functions.Similarity.cosine(
        col("embedding"), col("evec")) >= 0.3)
      .select(col("vec_id").as("doc_id")).distinct()
    val s5 = s4.filter(col("doc_id") % 50 =!= 0)
      .join(flagged, Seq("doc_id"), "left_anti")
    // temperature mix over the SURVIVING corpus's source counts
    val withSrc = s5.join(docs.select(col("doc_id"), col("source")),
      Seq("doc_id"))
    val rates = Sampling.temperatureRates(withSrc, col("source"),
      basePct = 10, maxPct = 90)
    withSrc.join(broadcast(rates), Seq("source"))
      .filter(Sampling.bucket(col("doc_id"), "corp") < col("rate"))
  }

  private[graft] def corpusManifest(s: SparkSession, docs: DataFrame,
      emb: DataFrame, chrome: DataFrame, model: Classifier.Model,
      onStage: (String, Long) => Unit = (_, _) => ()): DataFrame =
    manifestFrom(s, corpusCurated(s, docs, emb, chrome, model, onStage))

  /** The manifest tail over an already-curated corpus frame. */
  private[graft] def manifestFrom(s: SparkSession, s6: DataFrame): DataFrame = {
    implicit val sp: SparkSession = s
    // pack into PackBudget-token sequences per (source, lang);
    // manifest at sequence grain (the sp_shard_manifest plan)
    val seqStats = Sampling.packBins(
        s6.select(col("doc_id"), col("source"), col("lang"),
          size(split(col("xt"), "\\s+")).cast("long").as("n_tokens")),
        shard = Seq(col("source"), col("lang")),
        order = Seq(col("doc_id")), tokens = col("n_tokens"),
        budget = PackBudget)
      .groupBy(col("source"), col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
      .withColumn("k", graft.functions.Hashing.h32(
        concat(lit("ce0_"), col("source"), lit("_"), col("lang"),
          lit("_"), col("bin").cast("string"))))
    GlobalIndex.withPosition(seqStats,
        Seq(col("k"), col("source"), col("lang"), col("bin")), "pos")
      .withColumn("shard", expr(s"pos DIV $CorpusSeqsPerShard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).as("n_docs"),
        sum(col("seq_tokens")).as("shard_tokens"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
  }

  /** The e2e oracle's shared CTE prefix — crawl-extract through
    * the temperature-mixed surviving corpus (final CTE `s6`:
    * doc_id, lang, xt, source). Spliced after WITH RECURSIVE by
    * both sp_corpus_e2e and sp_corpus_export. */
  private def corpusSqlPrefix: String = {
    val stops = (TextPack.stopEn ++ TextPack.stopEs ++ TextPack.stopDe)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    val D = Classifier.Dim; val I = Classifier.Iters
    s"""|cur AS MATERIALIZED (SELECT doc_id, lang, xt FROM ${CrawlText.sqlCuratedSrc} cc),
         |ctk AS MATERIALIZED (SELECT doc_id, lang, xt,
         |          regexp_split_to_array(xt, '\\s+') AS wt FROM cur),
         |gok AS (SELECT doc_id FROM (
         |    SELECT doc_id,
         |      CAST(len(wt) AS BIGINT) AS n_tokens,
         |      CAST(len(list_distinct(wt)) AS BIGINT) AS n_distinct,
         |      CAST(list_sum(list_transform(wt,
         |        t2 -> CAST(length(t2) AS BIGINT))) AS BIGINT) AS sum_len,
         |      CAST(len(list_filter(wt,
         |        t2 -> list_contains($stops, t2))) AS BIGINT) AS n_stop
         |    FROM ctk)
         |  WHERE NOT (n_tokens < $CorpusMinTokens)
         |    AND NOT (n_tokens > ${TextPack.GopherMaxTokens})
         |    AND NOT (sum_len < ${TextPack.GopherWordLenLo} * n_tokens OR
         |             sum_len > ${TextPack.GopherWordLenHi} * n_tokens)
         |    AND NOT (n_stop < ${TextPack.GopherMinStopHits})
         |    AND NOT ((n_tokens - n_distinct) * 2 > n_tokens)),
         |${TextPack.clfCtes},
         |bfx AS (SELECT (SELECT w FROM w$I WHERE j = $D) * 1000
         |  - coalesce((SELECT CAST(sum(w.w * fm.m) AS BIGINT)
         |              FROM w$I w JOIN fm ON w.j = fm.j), 0) AS b),
         |featx AS MATERIALIZED (SELECT doc_id, j,
         |    CAST(floor(CAST(count(*) AS DOUBLE) * 1000 / any_value(n))
         |      AS BIGINT) AS x
         |  FROM (SELECT doc_id, len(wt) AS n,
         |          ${graft.functions.Hashing.sqlH32("t2")} % $D AS j
         |        FROM (SELECT doc_id, wt, unnest(wt) AS t2 FROM ctk))
         |  GROUP BY doc_id, j),
         |zx AS MATERIALIZED (SELECT c2.doc_id,
         |    ${Classifier.sqlZ(
               s"coalesce(CAST(sum(w.w * f.x) AS BIGINT), 0) + (SELECT b FROM bfx)")} AS z
         |  FROM cur c2 LEFT JOIN featx f ON c2.doc_id = f.doc_id
         |              LEFT JOIN w$I w ON f.j = w.j
         |  GROUP BY c2.doc_id),
         |cok AS (SELECT doc_id FROM zx
         |        WHERE ${Classifier.sqlPUnits("z")} >= ${Classifier.Units / 2}),
         |s1 AS MATERIALIZED (SELECT ctk.doc_id, ctk.lang, ctk.xt FROM ctk
         |       JOIN gok USING (doc_id) JOIN cok USING (doc_id)),
         |lt AS MATERIALIZED (SELECT doc_id, string_split(xt, ' ') AS ts FROM s1),
         |lbg AS MATERIALIZED (SELECT doc_id, ts[j+1] || ' ' || ts[j+2] AS ng,
         |               ts[j+1] AS a
         |        FROM lt, UNNEST(generate_series(0, len(ts) - 2)) AS gsr(j)),
         |lcb AS (SELECT ng, count(*) AS cab FROM lbg GROUP BY ng),
         |lca AS (SELECT a, count(*) AS ca FROM lbg GROUP BY a),
         |lvv AS (SELECT count(DISTINCT w2) AS vs FROM
         |          (SELECT unnest(ts) AS w2 FROM lt)),
         |llp AS (SELECT lcb.ng,
         |          CAST(floor(log2((cab + 1.0) / (ca + vs)) * 1e4 + 0.5)
         |            AS BIGINT) AS lpu
         |        FROM lcb JOIN lca ON string_split(lcb.ng, ' ')[1] = lca.a
         |        CROSS JOIN lvv),
         |lce AS MATERIALIZED (SELECT doc_id,
         |          ${Det.droundSql(
                    "-(CAST(sum(lpu) AS DOUBLE)) / (count(*) * 1e4)", 4)} AS ce
         |        FROM lbg JOIN llp USING (ng) GROUP BY doc_id),
         |lth AS (SELECT ${Det.droundSql(
                   "quantile_cont(ce, 0.6666666666666666)", 4)} AS t FROM lce),
         |s2 AS MATERIALIZED (SELECT s1.doc_id, s1.lang, s1.xt FROM s1
         |       JOIN lce USING (doc_id) CROSS JOIN lth
         |       WHERE lce.ce <= lth.t),
         |ex AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(xt)),
         |s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN ex USING (doc_id)),
         |${DedupPack.groupsCtesOver("(SELECT doc_id, xt AS text FROM s3) crawl")},
         |s4 AS MATERIALIZED (SELECT s3.* FROM s3
         |       WHERE NOT EXISTS (SELECT 1 FROM groups gg
         |                         WHERE gg.doc_id = s3.doc_id
         |                           AND gg.doc_id <> gg.rep)),
         |ev2 AS (SELECT vec_id AS eval_id, embedding AS evec
         |        FROM embeddings WHERE vec_id % 50 = 0),
         |dflag AS (SELECT DISTINCT e2.vec_id AS doc_id
         |  FROM embeddings e2 JOIN s4 ON e2.vec_id = s4.doc_id
         |  CROSS JOIN ev2
         |  WHERE e2.vec_id % 50 <> 0
         |    AND ${graft.functions.Similarity.sqlCos("e2.embedding", "ev2.evec")} >= 0.3),
         |s5 AS MATERIALIZED (SELECT s4.* FROM s4
         |       WHERE s4.doc_id % 50 <> 0
         |         AND NOT EXISTS (SELECT 1 FROM dflag
         |                         WHERE dflag.doc_id = s4.doc_id)),
         |s5s AS MATERIALIZED (SELECT s5.doc_id, d.source, s5.lang, s5.xt
         |        FROM s5 JOIN documents d USING (doc_id)),
         |mr AS (SELECT source, count(*) AS n,
         |         sum(count(*)) OVER () AS total FROM s5s GROUP BY source),
         |mrate AS (SELECT source,
         |            least(90, CAST(floor(10.0 *
         |              sqrt(CAST(total AS DOUBLE) / n) + 0.5) AS BIGINT))
         |              AS rate
         |          FROM mr),
         |s6 AS MATERIALIZED (SELECT s5s.* FROM s5s JOIN mrate USING (source)
         |       WHERE ${Sampling.sqlBucket("s5s.doc_id", "corp")} < rate)
""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    // the oracle MAY use the one-task window — it runs on a single
    // DuckDB node by definition; the Spark side must not (GlobalIndex)
    "sp_epoch_shuffle" ->
      s"""SELECT epoch, doc_id,
         |  CAST(row_number() OVER (PARTITION BY epoch
         |    ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
         |FROM (SELECT e.epoch, d.doc_id,
         |        ${graft.functions.Hashing.sqlH32(
                    "'e' || e.epoch || '_' || d.doc_id")} AS k
         |      FROM documents d, (VALUES (0), (1)) e(epoch))""".stripMargin,

    "sp_hash_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE ${Sampling.sqlBucket("doc_id", "s1")} < 10""".stripMargin,

    // DuckDB sum(BIGINT) widens to HUGEINT — cast back to match Spark
    "sp_split_stats" ->
      s"""SELECT ${corpusSplitSql("doc_id")} AS split,
         |       source, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |GROUP BY 1, 2""".stripMargin,

    "sp_stratified_k" ->
      s"""SELECT doc_id, source, lang FROM (
         |  SELECT doc_id, source, lang,
         |         row_number() OVER (PARTITION BY source, lang
         |           ORDER BY ${graft.functions.Hashing.sqlH32(
                       "'s3#' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 5""".stripMargin,

    // rn=1..K ⇔ the K-bounded heap the engine keeps per source
    "sp_source_cap" ->
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= $SourceCap""".stripMargin,

    "sp_weighted_mix" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${Sampling.sqlBucket("doc_id", "mix")} <
         |      CASE WHEN source = 'src0' THEN 50
         |           WHEN source = 'src1' THEN 25 ELSE 10 END""".stripMargin,

    "sp_temperature_mix" ->
      s"""WITH r AS (SELECT source, count(*) AS n,
         |             sum(count(*)) OVER () AS total
         |           FROM documents GROUP BY source),
         |rates AS (SELECT source,
         |            least(90, CAST(floor(10.0 *
         |              sqrt(CAST(total AS DOUBLE) / n) + 0.5) AS BIGINT))
         |              AS rate
         |          FROM r)
         |SELECT d.doc_id, d.source FROM documents d JOIN rates USING (source)
         |WHERE ${Sampling.sqlBucket("d.doc_id", "temp")} < rate""".stripMargin,

    // predicted-language mixing: the full pred-curation replay
    // (shared CTEs through xp), the MinWords gate, then the same
    // τ = 1/2 rate formula over PREDICTED language shares
    "sp_predlang_mix" ->
      s"""WITH ${TextPack.sqlPredCuratedCtes},
         |pcur AS MATERIALIZED (
         |  SELECT doc_id, plang AS lang FROM xp
         |  WHERE len(regexp_split_to_array(xt, '\\s+'))
         |    >= ${CrawlText.MinWords}),
         |plr AS (SELECT lang, count(*) AS n,
         |          sum(count(*)) OVER () AS total
         |        FROM pcur GROUP BY lang),
         |plrates AS (SELECT lang,
         |              least(90, CAST(floor(10.0 *
         |                sqrt(CAST(total AS DOUBLE) / n) + 0.5)
         |                AS BIGINT)) AS rate
         |            FROM plr)
         |SELECT d.doc_id, d.lang FROM pcur d JOIN plrates USING (lang)
         |WHERE ${Sampling.sqlBucket("d.doc_id", "plmix")} < rate""".stripMargin,

    // UniMax greedy replay: the recursive CTE walks sources in the
    // same (capacity, source) order with the same integer floor
    // divisions — all BIGINT, bit-for-bit.
    "sp_unimax_mix" ->
      s"""WITH RECURSIVE $unimaxSqlCtes
         |SELECT o.source, o.n_toks, o.cap_toks,
         |       st.alloc AS alloc_toks,
         |       st.alloc * 1000 // o.n_toks AS epochs_permille
         |FROM step st JOIN ord o ON o.k = st.k
         |WHERE st.k >= 1""".stripMargin,

    // sample replay: full epochs by integer division; the partial
    // epoch via the same hash-ordered running sum (window PARTITIONED
    // by source — the oracle and engine agree on the straddling doc).
    "sp_unimax_sample" ->
      s"""WITH RECURSIVE $unimaxSqlCtes,
         |al AS (SELECT o.source, o.n_toks, st.alloc FROM step st
         |       JOIN ord o ON o.k = st.k WHERE st.k >= 1),
         |d AS (SELECT doc_id, source,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         |        ${graft.functions.Hashing.sqlH32(
                   "'umx#' || CAST(doc_id AS VARCHAR)")} AS h
         |      FROM documents),
         |c AS (SELECT *, COALESCE(sum(nt) OVER (PARTITION BY source
         |        ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND 1 PRECEDING), 0) AS cum_prev FROM d)
         |SELECT c.doc_id, c.source,
         |       (al.alloc // al.n_toks +
         |        CASE WHEN c.cum_prev < al.alloc % al.n_toks
         |             THEN 1 ELSE 0 END) AS n_epochs
         |FROM c JOIN al USING (source)
         |WHERE al.alloc // al.n_toks +
         |      CASE WHEN c.cum_prev < al.alloc % al.n_toks
         |           THEN 1 ELSE 0 END > 0""".stripMargin,

    // Shard-assignment replay at byte grain: line length = fixed
    // overhead + field lengths (the corpus needs no JSON escapes —
    // checked; the writer's escape path is pinned in the spec), and
    // shard_idx = prev-bytes div budget via one source-partitioned
    // window. The content hash-sum is order-free (exact long sum).
    "sp_jsonl_shards" ->
      s"""WITH d AS (SELECT doc_id, lang, source, text,
         |    CAST(${graft.sources.JsonlShards.LineOverhead}
         |         + strlen(CAST(doc_id AS VARCHAR)) + strlen(lang)
         |         + strlen(source) + strlen(text) AS BIGINT) AS lb
         |  FROM documents),
         |c AS (SELECT *, COALESCE(sum(lb) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) AS prev FROM d)
         |SELECT source,
         |  CAST(prev // ${graft.sources.JsonlShards.ShardBytes} AS BIGINT)
         |    AS shard_idx,
         |  count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks,
         |  CAST(sum(${graft.functions.Hashing.sqlH32("text")}) AS BIGINT)
         |    AS content_h
         |FROM c GROUP BY 1, 2""".stripMargin,

    "sp_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, source, lang,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |b AS (SELECT source, lang, n_tokens,
         |        (sum(n_tokens) OVER (PARTITION BY source, lang
         |           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |         - n_tokens) // $PackBudget AS bin
         |      FROM t)
         |SELECT source, lang, CAST(bin AS BIGINT) AS bin,
         |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM b GROUP BY 1, 2, 3""".stripMargin,

    // the oracle MAY use one-task windows (single DuckDB node); the
    // Spark side must not (GlobalIndex at sequence grain)
    "sp_epoch_feed" ->
      s"""WITH t AS (SELECT doc_id, source, lang,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |b AS (SELECT doc_id, source, lang, n_tokens,
         |        CAST((sum(n_tokens) OVER (PARTITION BY source, lang
         |           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |         - n_tokens) // $PackBudget AS BIGINT) AS bin
         |      FROM t),
         |s AS (SELECT source, lang, bin,
         |        ${graft.functions.Hashing.sqlH32(
                    "'e0_' || source || '_' || lang || '_' || CAST(bin AS VARCHAR)")} AS k
         |      FROM b GROUP BY 1, 2, 3),
         |p AS (SELECT source, lang, bin,
         |        CAST(row_number() OVER (ORDER BY k, source, lang, bin) - 1
         |          AS BIGINT) AS pos
         |      FROM s),
         |slots AS (SELECT doc_id, source, lang, bin, n_tokens,
         |            CAST(row_number() OVER (PARTITION BY source, lang, bin
         |              ORDER BY doc_id) - 1 AS BIGINT) AS slot
         |          FROM b)
         |SELECT p.pos, slots.source, slots.lang, slots.bin, slots.slot,
         |       slots.doc_id, slots.n_tokens
         |FROM slots JOIN p USING (source, lang, bin)""".stripMargin,

    // the trained-merge CTEs replay the tokenizer; the encode chain
    // mirrors Bpe.encodeCol per word; the rest is sp_epoch_feed's
    // pack + permutation (the oracle MAY use one-task windows)
    "sp_token_feed" ->
      s"""WITH w0 AS MATERIALIZED (SELECT w FROM (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2),
         |${Bpe.sqlTrainCtesForEncode()},
         |dsp AS (SELECT doc_id, source, lang,
         |          string_split(text, ' ') AS ws FROM documents),
         |dw AS (SELECT doc_id, source, lang, ws[i] AS w, i
         |       FROM dsp, UNNEST(generate_series(1, len(ws))) AS gsq(i)),
         |de AS (SELECT doc_id, source, lang, i,
         |         ${Bpe.sqlEncodeExpr("w")} AS enc FROM dw),
         |df2 AS (SELECT doc_id, any_value(source) AS source,
         |          any_value(lang) AS lang,
         |          string_agg(enc, chr(${TokenFeedSep.toInt}) ORDER BY i) AS ids,
         |          CAST(sum(length(enc)) AS BIGINT) AS n_tokens
         |        FROM de GROUP BY doc_id),
         |fb AS (SELECT doc_id, source, lang, ids, n_tokens,
         |         CAST((sum(n_tokens) OVER (PARTITION BY source, lang
         |            ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |          - n_tokens) // $PackBudget AS BIGINT) AS bin
         |       FROM df2),
         |fs AS (SELECT source, lang, bin,
         |         ${graft.functions.Hashing.sqlH32(
                     "'tf0_' || source || '_' || lang || '_' || CAST(bin AS VARCHAR)")} AS k
         |       FROM fb GROUP BY 1, 2, 3),
         |fp AS (SELECT source, lang, bin,
         |         CAST(row_number() OVER (ORDER BY k, source, lang, bin) - 1
         |           AS BIGINT) AS pos
         |       FROM fs),
         |fslots AS (SELECT doc_id, source, lang, bin, n_tokens, ids,
         |             CAST(row_number() OVER (PARTITION BY source, lang, bin
         |               ORDER BY doc_id) - 1 AS BIGINT) AS slot
         |           FROM fb)
         |SELECT fp.pos, fslots.source, fslots.lang, fslots.bin, fslots.slot,
         |       fslots.doc_id, fslots.n_tokens, fslots.ids
         |FROM fslots JOIN fp USING (source, lang, bin)""".stripMargin,

    // the oracle MAY use one-task windows (single DuckDB node); the
    // Spark side must not (GlobalIndex at sequence grain)
    "sp_shard_manifest" ->
      s"""WITH t AS (SELECT doc_id, source, lang,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |b AS (SELECT doc_id, source, lang, n_tokens,
         |        CAST((sum(n_tokens) OVER (PARTITION BY source, lang
         |           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |         - n_tokens) // $PackBudget AS BIGINT) AS bin
         |      FROM t),
         |s AS (SELECT source, lang, bin, count(*) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
         |        ${graft.functions.Hashing.sqlH32(
                    "'e0_' || source || '_' || lang || '_' || CAST(bin AS VARCHAR)")} AS k
         |      FROM b GROUP BY 1, 2, 3),
         |p AS (SELECT *, CAST(row_number() OVER (ORDER BY k, source, lang, bin)
         |          - 1 AS BIGINT) AS pos
         |      FROM s)
         |SELECT pos // $SeqsPerShard AS shard, count(*) AS n_seqs,
         |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |       CAST(sum(seq_tokens) AS BIGINT) AS shard_tokens,
         |       min(pos) AS first_pos, max(pos) AS last_pos
         |FROM p GROUP BY 1""".stripMargin,

    "sp_pack_efficiency" ->
      s"""WITH t AS (SELECT doc_id, source, lang,
         |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |b AS (SELECT source, lang, n_tokens,
         |        (sum(n_tokens) OVER (PARTITION BY source, lang
         |           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |         - n_tokens) // $PackBudget AS bin
         |      FROM t),
         |bins AS (SELECT source, lang, bin, sum(n_tokens) AS bin_tokens
         |         FROM b GROUP BY 1, 2, 3)
         |SELECT source, lang, count(*) AS n_bins,
         |       CAST(sum(bin_tokens) AS BIGINT) AS packed_tokens,
         |       ${graft.Det.droundSql(
                   s"CAST(sum(bin_tokens) AS DOUBLE) / (count(*) * $PackBudget)", 4)}
         |         AS fill_ratio,
         |       CAST(sum(CASE WHEN bin_tokens > $PackBudget THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_over,
         |       CAST(sum(CASE WHEN bin_tokens < ($PackBudget * 9) // 10
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_under90
         |FROM bins GROUP BY 1, 2""".stripMargin,

    "sp_curation_e2e" ->
      s"""WITH base AS (SELECT doc_id, source, n_chars, text FROM documents
         |              WHERE n_chars >= 100 AND lang = 'en'),
         |keep AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text))
         |SELECT b.doc_id, b.source, b.n_chars
         |FROM base b JOIN keep k ON b.doc_id = k.doc_id
         |WHERE ${Sampling.sqlBucket("b.doc_id", "cur")} < 50""".stripMargin,

    // every stage of the corpus build replayed in one chain: the
    // curated-crawl invariant, the gopher/classifier/perplexity
    // gates, both dedup granularities (groups chain = the engine's
    // star contraction), decon, the mix, the pack, the manifest
    "sp_corpus_e2e" -> {
      s"""WITH RECURSIVE
         |$corpusSqlPrefix,
         |pt AS (SELECT doc_id, source, lang,
         |         CAST(len(regexp_split_to_array(xt, '\\s+')) AS BIGINT)
         |           AS n_tokens
         |       FROM s6),
         |pb AS MATERIALIZED (SELECT doc_id, source, lang, n_tokens,
         |         CAST((sum(n_tokens) OVER (PARTITION BY source, lang
         |            ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |          - n_tokens) // $PackBudget AS BIGINT) AS bin
         |       FROM pt),
         |ps AS (SELECT source, lang, bin, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
         |         ${graft.functions.Hashing.sqlH32(
                   "'ce0_' || source || '_' || lang || '_' || CAST(bin AS VARCHAR)")} AS k
         |       FROM pb GROUP BY 1, 2, 3),
         |pp AS (SELECT *, CAST(row_number() OVER (ORDER BY k, source, lang, bin)
         |           - 1 AS BIGINT) AS pos
         |       FROM ps)
         |SELECT pos // $CorpusSeqsPerShard AS shard, count(*) AS n_seqs,
         |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |       CAST(sum(seq_tokens) AS BIGINT) AS shard_tokens,
         |       min(pos) AS first_pos, max(pos) AS last_pos
         |FROM pp GROUP BY 1""".stripMargin
    },

    // the export artifact: the same surviving-corpus prefix, then
    // the jsonl byte-grain shard replay (sp_jsonl_shards's tail over
    // s6's xt instead of documents.text)
    "sp_corpus_export" -> {
      s"""WITH RECURSIVE
         |$corpusSqlPrefix,
         |jd AS (SELECT doc_id, lang, source, xt,
         |    CAST(${graft.sources.JsonlShards.LineOverhead}
         |         + strlen(CAST(doc_id AS VARCHAR)) + strlen(lang)
         |         + strlen(source) + strlen(xt) AS BIGINT) AS lb
         |  FROM s6),
         |jc AS (SELECT *, COALESCE(sum(lb) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) AS prev FROM jd)
         |SELECT source,
         |  CAST(prev // ${graft.sources.JsonlShards.ShardBytes} AS BIGINT)
         |    AS shard_idx,
         |  count(*) AS n_docs,
         |  CAST(sum(len(string_split(xt, ' '))) AS BIGINT) AS n_toks,
         |  CAST(sum(${graft.functions.Hashing.sqlH32("xt")}) AS BIGINT)
         |    AS content_h
         |FROM jc GROUP BY 1, 2""".stripMargin
    },

    // the trained assignment (a3, same unrolled CTEs as
    // sim_kmeans_assign) re-cut per cluster in salted-hash order
    "sp_cluster_sample" ->
      s"""WITH ${KMeans.sqlTrainCtes(2)},
         |sampled AS (SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY ${graft.functions.Hashing.sqlH32(
                 "'cs1#' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
         |  FROM a3)
         |SELECT vec_id, cluster FROM sampled WHERE rn <= 16""".stripMargin,

    "sp_time_split" ->
      s"""SELECT CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '$TimeSplitCutoff'
        |            THEN 'train' ELSE 'eval' END AS split,
        |       event_type, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       ${graft.Det.dsumSql("value")} AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // trained assignment (a3) → hash-ordered positive within the
    // cluster, k=1-per-cluster pool → hash-ordered negative outside it
    "sp_contrastive_triplets" ->
      s"""WITH ${KMeans.sqlTrainCtes(2)},
         |m AS (SELECT cluster, vec_id AS cand_id,
         |        ${graft.functions.Hashing.sqlH32(
                   "'tri#' || CAST(vec_id AS VARCHAR)")} AS h
         |      FROM a3),
         |anch AS (SELECT vec_id AS anchor_id, cluster FROM a3
         |         WHERE vec_id < 50),
         |p AS (SELECT anchor_id, cluster, cand_id AS pos_id FROM (
         |    SELECT a.anchor_id, a.cluster, m.cand_id,
         |           row_number() OVER (PARTITION BY a.anchor_id
         |                              ORDER BY m.h, m.cand_id) AS rn
         |    FROM anch a JOIN m ON a.cluster = m.cluster
         |                      AND m.cand_id <> a.anchor_id)
         |  WHERE rn = 1),
         |pool AS (SELECT cluster AS neg_cluster, cand_id AS neg_id,
         |                h AS nh FROM (
         |    SELECT cluster, cand_id, h,
         |           row_number() OVER (PARTITION BY cluster
         |                              ORDER BY h, cand_id) AS rn
         |    FROM m) WHERE rn = 1)
         |SELECT anchor_id, pos_id, neg_id FROM (
         |    SELECT p.anchor_id, p.pos_id, pool.neg_id,
         |           row_number() OVER (PARTITION BY p.anchor_id
         |                              ORDER BY pool.nh, pool.neg_id) AS rn
         |    FROM p JOIN pool ON pool.neg_cluster <> p.cluster)
         |WHERE rn = 1""".stripMargin,

    // same dround'd decile cuts, same cuts-≤-value bin rule
    "sp_quantile_bins" ->
      """WITH cuts AS (SELECT list_transform(
        |    quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    c -> floor(c * 1e4 + 0.5) / 1e4) AS cs FROM documents),
        |b AS (SELECT d.n_chars,
        |        len(list_filter(cs, c -> d.n_chars >= c)) AS bin
        |      FROM documents d CROSS JOIN cuts)
        |SELECT bin, count(*) AS n, min(n_chars) AS lo_chars,
        |       max(n_chars) AS hi_chars
        |FROM b GROUP BY bin""".stripMargin,

    "sp_token_budget" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
         |  FROM documents),
         |tot AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |    (CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 4 + 1)
         |      * 20 AS weight_permille
         |  FROM d GROUP BY source),
         |plan AS (SELECT *,
         |    CAST(floor(CAST(weight_permille AS DOUBLE) * $TokenBudget
         |      / 1000) AS BIGINT) AS desired_tokens
         |  FROM tot),
         |rated AS (SELECT *,
         |    least(1000, CAST(floor(CAST(desired_tokens AS DOUBLE) * 1000
         |      / n_tokens) AS BIGINT)) AS rate_permille
         |  FROM plan),
         |got AS (SELECT d.source, count(*) AS sampled_docs,
         |    CAST(sum(d.n_toks) AS BIGINT) AS sampled_tokens
         |  FROM d JOIN rated USING (source)
         |  WHERE ${graft.functions.Hashing.sqlH32(
                  "'tb#' || CAST(doc_id AS VARCHAR)")} % 1000
         |    < rated.rate_permille
         |  GROUP BY d.source)
         |SELECT r.source, r.n_docs, r.n_tokens, r.weight_permille,
         |  r.desired_tokens, r.rate_permille,
         |  coalesce(g.sampled_docs, 0) AS sampled_docs,
         |  coalesce(g.sampled_tokens, 0) AS sampled_tokens
         |FROM rated r LEFT JOIN got g ON r.source = g.source""".stripMargin,

    "sp_dsir_weights" ->
      s"""$dsirDocSql
         |SELECT doc_id, n_feats,
         |  ${Det.droundSql("CAST(lwu AS DOUBLE) / 1e4", 4)} AS logw
         |FROM doc""".stripMargin,

    "sp_dsir_sample" ->
      s"""$dsirDocSql,
         |key AS (SELECT doc_id, lwu + CAST(floor(
         |    -ln(-ln(((${graft.functions.Hashing.sqlH32(
                "'dsir#' || CAST(doc_id AS VARCHAR)")}) + 0.5)
         |      / 4294967296.0)) * 1e4 + 0.5) AS BIGINT) AS ku
         |  FROM doc)
         |SELECT doc_id,
         |  ${Det.droundSql("CAST(ku AS DOUBLE) / 1e4", 4)} AS sel_key
         |FROM key ORDER BY ku DESC, doc_id LIMIT $DsirK""".stripMargin,

    "sp_curriculum" ->
      s"""WITH $pplEntCtes,
         |b AS (SELECT doc_id,
         |        CASE WHEN ce <= t1 THEN 0
         |             WHEN ce <= t2 THEN 1
         |             ELSE 2 END AS band,
         |        ${graft.functions.Hashing.sqlH32("'cur_' || doc_id")} AS k
         |      FROM ent, th)
         |SELECT doc_id, CAST(band AS BIGINT) AS band,
         |  CAST(row_number() OVER (ORDER BY band, k, doc_id) - 1
         |    AS BIGINT) AS pos
         |FROM b""".stripMargin,

    "sp_ppl_buckets" ->
      s"""WITH $pplEntCtes
         |SELECT bucket, lang, count(*) AS n_docs,
         |  ${Det.davgSql("ce", 4)} AS avg_ce
         |FROM (SELECT CASE WHEN ce <= t1 THEN 'head'
         |                  WHEN ce <= t2 THEN 'middle'
         |                  ELSE 'tail' END AS bucket, lang, ce
         |      FROM ent JOIN documents USING (doc_id), th)
         |GROUP BY bucket, lang""".stripMargin,

    "sp_mix_compare" ->
      s"""WITH RECURSIVE $doremiCtes,
         |$unimaxSqlCtes,
         |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |        FROM documents GROUP BY source),
         |tr AS (SELECT source, count(*) AS n,
         |         sum(count(*)) OVER () AS total
         |       FROM documents GROUP BY source),
         |trates AS (SELECT source,
         |    least(90, CAST(floor(10.0 *
         |      sqrt(CAST(total AS DOUBLE) / n) + 0.5) AS BIGINT))
         |      AS temp_rate_pct
         |  FROM tr),
         |uni AS (SELECT source,
         |    alloc * 1000 // n_toks AS unimax_epochs_permille
         |  FROM step JOIN ord USING (source)),
         |dor AS (SELECT source,
         |    ${Doremi.sqlShare("nd", "sw")} AS doremi_share_units,
         |    ${Doremi.sqlRate("nd", "sw")} AS doremi_rate_pct
         |  FROM w${Doremi.Rounds}, fin)
         |SELECT cnt.source, n_docs, temp_rate_pct,
         |  unimax_epochs_permille, doremi_share_units, doremi_rate_pct
         |FROM cnt JOIN trates USING (source)
         |JOIN uni USING (source) JOIN dor USING (source)""".stripMargin,

    "sp_doremi_weights" ->
      s"""WITH $doremiCtes
         |SELECT source, n AS n_docs, l AS loss_units,
         |  e AS excess_units, w AS w_units,
         |  ${Doremi.sqlShare("nd", "sw")} AS share_units,
         |  ${Doremi.sqlRate("nd", "sw")} AS rate_pct
         |FROM w${Doremi.Rounds}, fin""".stripMargin,

    "sp_doremi_sample" ->
      s"""WITH $doremiCtes,
         |rates AS (SELECT source,
         |    ${Doremi.sqlRate("nd", "sw")} AS rate
         |  FROM w${Doremi.Rounds}, fin)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN rates USING (source)
         |WHERE ${Sampling.sqlBucket("d.doc_id", "doremi")}
         |  < rates.rate""".stripMargin
  )

  /** Shared DoReMi oracle CTEs: the bigram-entropy model, the
    * per-domain loss units, and the unrolled MW loop — the SQL twin
    * of domLosses∘[[Doremi.reweight]]. */
  private def doremiCtes: String = {
    val steps = (1 to Doremi.Rounds).map(Doremi.sqlStepCtes).mkString(",\n")
    s"""$pplEntCtes,
       |ceu AS MATERIALIZED (SELECT d.source,
       |    CAST(floor(ce * 1e4 + 0.5) AS BIGINT) AS ceu
       |  FROM ent JOIN documents d USING (doc_id)),
       |${Doremi.sqlPrelude},
       |$steps,
       |fin AS (SELECT CAST(sum(w) AS BIGINT) AS sw,
       |    CAST(count(*) AS BIGINT) AS nd
       |  FROM w${Doremi.Rounds})""".stripMargin
  }

  /** Shared bigram-cross-entropy oracle CTEs (`ent(doc_id, ce)` plus
    * the tercile thresholds `th(t1, t2)`) — the SQL mirror of
    * [[TextPack.bigramEntropy]], spliced into sp_ppl_buckets and
    * sp_curriculum so the difficulty model exists once per side. */
  private def pplEntCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ts
       |           FROM documents),
       |bg AS (SELECT doc_id, ts[j+1] || ' ' || ts[j+2] AS ng,
       |              ts[j+1] AS a
       |       FROM t, UNNEST(generate_series(0, len(ts) - 2)) AS g(j)),
       |cb AS (SELECT ng, count(*) AS cab FROM bg GROUP BY ng),
       |caa AS (SELECT a, count(*) AS ca FROM bg GROUP BY a),
       |vv AS (SELECT count(DISTINCT w) AS vs FROM
       |         (SELECT unnest(ts) AS w FROM t)),
       |lp AS (SELECT cb.ng,
       |         CAST(floor(log2((cab + 1.0) / (ca + vs)) * 1e4 + 0.5)
       |           AS BIGINT) AS lpu
       |       FROM cb JOIN caa ON string_split(cb.ng, ' ')[1] = caa.a
       |       CROSS JOIN vv),
       |ent AS (SELECT doc_id,
       |          ${Det.droundSql(
                  "-(CAST(sum(lpu) AS DOUBLE)) / (count(*) * 1e4)",
                  4)} AS ce
       |        FROM bg JOIN lp USING (ng)
       |        GROUP BY doc_id),
       |th AS (SELECT
       |    ${Det.droundSql(
              "quantile_cont(ce, 0.3333333333333333)", 4)} AS t1,
       |    ${Det.droundSql(
              "quantile_cont(ce, 0.6666666666666666)", 4)} AS t2
       |  FROM ent)""".stripMargin

  /** Shared DSIR oracle prefix: feature hashing, the two bucket LMs,
    * and the per-doc weight CTE (`doc`) — spliced into both DSIR
    * oracles so the model definition exists once on the SQL side too. */
  private def dsirDocSql: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ts
       |           FROM documents),
       |feats AS (
       |  SELECT doc_id, source,
       |    ${graft.functions.Hashing.sqlH32("ng")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source, unnest(ts) AS ng FROM t
       |        UNION ALL
       |        SELECT doc_id, source, ts[j+1] || ' ' || ts[j+2] AS ng
       |        FROM t, UNNEST(generate_series(0, len(ts) - 2)) AS g(j))),
       |tot AS (SELECT
       |    sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS ttot,
       |    sum(CASE WHEN source <> '$DsirTarget' THEN 1 ELSE 0 END) AS rtot
       |  FROM feats),
       |tc AS (SELECT b, count(*) AS tc FROM feats
       |       WHERE source = '$DsirTarget' GROUP BY b),
       |rc AS (SELECT b, count(*) AS rc FROM feats
       |       WHERE source <> '$DsirTarget' GROUP BY b),
       |ratio AS (SELECT g.b, CAST(floor(
       |    (log2((coalesce(tc, 0) + 1.0) / (ttot + $DsirBuckets))
       |     - log2((coalesce(rc, 0) + 1.0) / (rtot + $DsirBuckets)))
       |    * 1e4 + 0.5) AS BIGINT) AS lru
       |  FROM (SELECT unnest(generate_series(0, ${DsirBuckets - 1})) AS b)
       |    g(b)
       |  LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot),
       |doc AS (SELECT doc_id, count(*) AS n_feats,
       |    CAST(sum(lru) AS BIGINT) AS lwu
       |  FROM feats JOIN ratio USING (b)
       |  WHERE source <> '$DsirTarget' GROUP BY doc_id)""".stripMargin
}
