package graft.operators

import graft.{Det, QueryPack, Tables}
import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (north-star ops):
  * token stats, language-ID heuristic, quality scoring, document
  * fingerprinting. All per-row column expressions — at 100 TB these
  * run in the scan stage with zero shuffles. Ratio rounding uses
  * [[Det.dround]] for cross-engine determinism.
  */
object TextPack extends QueryPack {

  /** Integer sum over an array (exact; order-free). */
  private def isum(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => acc + x)

  /** Posting-list cap for tx_inverted_index: only the lowest
    * `PostingCap` doc_ids of a token survive into the list agg —
    * bounds the per-token list a stopword would otherwise grow
    * without limit (df stays exact, computed before the cap). */
  val PostingCap = 32

  /** tx_langid char-gram length — 6 chars spans word-boundary
    * fragments (the fixture "languages" differ in word MIX, so the
    * discriminative units are word pairs; measured: 0.58 at n=3 →
    * 0.90 at n=6, sf0.01). */
  val LangIdN = 6

  /** tx_langid gram-position stride — SAMPLED positions (the CLD
    * discipline), not every offset: adjacent 6-grams share 5 chars,
    * so dense grams feed NB six copies of correlated evidence and
    * the independence assumption over-weights it — stride 3
    * decorrelates the features AND cuts the explode volume 3×
    * (measured accuracy at sf0.01: 0.896 dense → 0.958 strided). */
  val LangIdStride = 3

  /** tx_langid hashed-gram bucket count: bounds the NB model at
    * langs × buckets rows at ANY corpus scale (collisions at the
    * fixture's ~3k gram types are negligible — measured identical
    * accuracy hashed vs raw). */
  val LangIdBuckets = 32768

  /** Hashed char-gram bucket rows of a `text` column: (keys…, g) —
    * the shared gram extraction of the langid family ([[LangIdN]]
    * chars at [[LangIdStride]] positions, h32 into [[LangIdBuckets]]
    * buckets). Rows shorter than one gram carry no evidence and
    * drop. */
  private def langIdGramsOf(df: DataFrame, keys: Seq[String]): DataFrame =
    df.filter(length(col("text")) >= LangIdN)
      .select(keys.map(col) :+
        explode(expr(s"transform(sequence(1, length(text) - ${LangIdN - 1}, " +
          s"$LangIdStride), i -> substring(text, i, $LangIdN))")).as("gs"): _*)
      .select(keys.map(col) :+
        (Hashing.h32(col("gs")) % LangIdBuckets).as("g"): _*)

  /** The NB model grid off per-(lang, bucket) training counts `lg`
    * and the observed `vocab`: (lang, g, w) with add-one-smoothed
    * log2 likelihoods quantized to 1e4-unit longs, plus the (lang, p)
    * doc-share prior — both bounded at langs × buckets rows, always
    * broadcast at scoring time. */
  private def nbGridPrior(docs: DataFrame, lg: DataFrame,
                          vocab: DataFrame): (DataFrame, DataFrame) = {
    val langs = docs.select(col("lang")).distinct()
    val tot = lg.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    val grid = vocab
      .crossJoin(broadcast(langs))
      .crossJoin(broadcast(vocab.agg(count(lit(1)).as("v"))))
      .join(broadcast(tot), Seq("lang"))
      .join(lg, Seq("lang", "g"), "left")
      .select(col("lang"), col("g"),
        floor(log2((coalesce(col("c"), lit(0L)) + lit(1.0))
          / (col("t") + col("v"))) * 1e4 + lit(0.5))
          .cast("long").as("w"))
    val prior = docs.groupBy(col("lang")).agg(count(lit(1)).as("ld"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select(col("lang"),
        floor(log2(col("ld").cast("double") / col("n")) * 1e4
          + lit(0.5)).cast("long").as("p"))
    (grid, prior)
  }

  /** Per-(id, candidate) NB scores of per-(id, bucket) count rows
    * `sg`: one broadcast grid join, one (id, lang) partial agg —
    * (id, cand, sc) in 1e4-unit long score units. */
  private def nbScores(sg: DataFrame, idCol: String, grid: DataFrame,
                       prior: DataFrame): DataFrame =
    sg.join(broadcast(grid), Seq("g"))
      .groupBy(col(idCol), col("lang"))
      .agg(sum(col("c") * col("w")).as("sw"))
      .join(broadcast(prior), Seq("lang"))
      .select(col(idCol), col("lang").as("cand"),
        (col("sw") + col("p")).as("sc"))

  /** Broadcast NB scoring of per-(id, bucket) count rows `sg` →
    * (id, pred_lang): an integer argmax over [[nbScores]] (score
    * ties break lang DESC — the max(struct) order, mirrored in every
    * oracle's row_number). */
  private def nbArgmax(sg: DataFrame, idCol: String, grid: DataFrame,
                       prior: DataFrame): DataFrame =
    nbScores(sg, idCol, grid, prior)
      .groupBy(col(idCol))
      .agg(max(struct(col("sc"), col("cand"))).as("b"))
      .select(col(idCol), col("b.cand").as("pred_lang"))

  /** Winner AND runner-up per id — (id, c1, s1, s2): the margin
    * surface. One doc-partitioned window over the langs-per-doc
    * score rows (bounded fan: |langs| rows per id), then a pivot
    * agg. */
  private def nbTop2(sg: DataFrame, idCol: String, grid: DataFrame,
                     prior: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("sc").desc, col("cand").desc)
    nbScores(sg, idCol, grid, prior)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col(idCol))
      .agg(max(when(col("rn") === 1, col("sc"))).as("s1"),
        max(when(col("rn") === 1, col("cand"))).as("c1"),
        max(when(col("rn") === 2, col("sc"))).as("s2"))
  }

  /** The checkpointed (doc_id, lang, bucket, c) gram-count frame —
    * the ONE md5 pass over the corpus (the per-gram hash is the hot
    * cost): lang rides the doc-grain groupBy for free (functionally
    * dependent on doc_id — same exchange), and the training counts,
    * vocabulary, model grid, AND every scoring consumer derive from
    * it instead of re-hashing the corpus. */
  private def dglOf(docs: DataFrame): DataFrame =
    langIdGramsOf(docs, Seq("doc_id", "lang"))
      .groupBy(col("doc_id"), col("lang"), col("g"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)

  /** [[dglOf]] as an [[IndexCache]] artifact, read by the langid
    * family: tx_langid, tx_langid_margin, the trained model behind
    * the crawl pipeline and pred-keyed mixing. */
  private[operators] def dglFor(
      s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "langidgrams", dir)(
      dglOf(Tables.documents(s, dir)))

  /** (grid, prior) off a dgl frame — the model the scoring consumers
    * broadcast. */
  private def modelFromDgl(docs: DataFrame,
                           dgl: DataFrame): (DataFrame, DataFrame) = {
    val lg = dgl.groupBy(col("lang"), col("g"))
      .agg(sum(col("c")).as("c"))
    val vocab = dgl.select(col("g")).distinct()
    nbGridPrior(docs, lg, vocab)
  }

  /** The trained NB model for `dir`'s corpus, off the memoized gram
    * pass — what the crawl pipeline ([[CrawlText
    * .predictedCuratedFor]]) and the mixing oracle consume. */
  def modelFor(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    modelFromDgl(Tables.documents(s, dir), dglFor(s, dir))

  /** The tx_langid body over any documents frame — public so
    * `Dev stress` probes the production stages at replicated scale. */
  def langIdOver(docs: DataFrame): DataFrame =
    langIdOverDgl(docs, dglOf(docs))

  private[operators] def langIdOverDgl(docs: DataFrame,
                                       dgl: DataFrame): DataFrame = {
    val dg = dgl.select(col("doc_id"), col("g"), col("c"))
    val (grid, prior) = modelFromDgl(docs, dgl)
    val pred = nbArgmax(dg, "doc_id", grid, prior)
    docs.select(col("doc_id"), col("lang")).join(pred, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("lang") === col("pred_lang")).as("correct"))
  }

  /** Language prediction for arbitrary (`idCol`, text) rows from an
    * NB model trained on a LABELED corpus — the production
    * split the corpus pipeline needs: real crawl data carries no
    * gold labels, so per-language processing (chrome inventories,
    * mixing strata) keys on what a model trained offline PREDICTS
    * (the CCNet discipline — fastText langid runs before any
    * per-language stage). Training is the [[langIdOver]] dataflow
    * minus the per-doc grain (pure (lang, bucket) aggregation);
    * scoring is one broadcast grid join + an integer argmax. Rows
    * whose grams all miss the training vocabulary carry no evidence
    * and drop (the inner grid join, mirrored in the oracles). The
    * model is ALREADY TRAINED (grid, prior) — the artifact path
    * ([[modelFor]]): consumers broadcast the bounded model instead of
    * retraining per query. */
  def predictLangWithModel(model: (DataFrame, DataFrame),
                           texts: DataFrame, idCol: String): DataFrame = {
    val (grid, prior) = model
    val sg = langIdGramsOf(
        texts.select(col(idCol), col("text")), Seq(idCol))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    nbArgmax(sg, idCol, grid, prior)
  }

  private def trainedModel(train: DataFrame): (DataFrame, DataFrame) = {
    val lg = langIdGramsOf(
        train.select(col("lang"), col("text")), Seq("lang"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = lg.select(col("g")).distinct()
    nbGridPrior(train, lg, vocab)
  }

  /** tx_langid_margin's und threshold, in the score's 1e4-unit log2
    * scale (margin = winner − runner-up posterior, summed over the
    * doc's grams). Calibrated on the fixture at sf0.01: in-family
    * docs score a median margin ≈ 194 k units (each of ~100
    * vocabulary grams contributes fractional-bit evidence), and only
    * ~3% fall under 10 k — the genuinely ambiguous tail a
    * CCNet-style pipeline drops anyway. A doc whose evidence CANCELS
    * — out-of-family text whose few vocabulary contacts vote
    * different languages, or genuinely mixed-language text —
    * collapses toward the prior gap (hundreds of units). The pin for
    * both sides lives in LangIdSpec. */
  val LangIdUndMargin = 10000L

  /** [[langIdOver]] plus the CONFIDENCE surface: the winning
    * log-posterior margin (winner − runner-up, exact long units) and
    * the und gate — an argmax alone assigns a confident wrong label
    * to a language the model never trained on; below
    * [[LangIdUndMargin]] the honest answer is "undetermined" (the
    * fastText-pipeline threshold discipline). Output: (doc_id, lang,
    * pred_lang ∈ langs ∪ {und}, margin), over the docs' grams `dgl`. */
  private[operators] def langIdMarginOverDgl(docs: DataFrame,
                                             dgl: DataFrame): DataFrame = {
    val dg = dgl.select(col("doc_id"), col("g"), col("c"))
    val (grid, prior) = modelFromDgl(docs, dgl)
    gateUnd(docs.select(col("doc_id"), col("lang"))
      .join(nbTop2(dg, "doc_id", grid, prior), Seq("doc_id")))
  }

  /** The margin surface for arbitrary (`idCol`, lang, text) rows
    * scored against a model trained on `train` — the spec's
    * out-of-family probe (the scored rows are NOT in the training
    * set, so a foreign doc's grams genuinely miss the vocabulary). */
  def predictLangMarginOver(train: DataFrame, texts: DataFrame,
                            idCol: String): DataFrame = {
    val (grid, prior) = trainedModel(train)
    val sg = langIdGramsOf(
        texts.select(col(idCol), col("text")), Seq(idCol))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    gateUnd(texts.select(col(idCol), col("lang"))
      .join(nbTop2(sg, idCol, grid, prior), Seq(idCol)))
  }

  private def gateUnd(top2: DataFrame): DataFrame =
    top2.select(col(top2.columns.head), col("lang"),
      when(col("s1") - col("s2") < LangIdUndMargin, lit("und"))
        .otherwise(col("c1")).as("pred_lang"),
      (col("s1") - col("s2")).as("margin"))

  private[operators] val stopEn = Seq("the", "a", "of", "in", "and")
  private[operators] val stopEs = Seq("el", "la", "de", "en", "y")
  private[operators] val stopDe = Seq("der", "die", "das", "und", "ein")

  private def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Tokens pre-projected as an attribute: lambdas over a projected
    * array read it O(1); a `split(...)` nested inside an interpreted
    * lambda would re-split per element access (see DedupPack). */
  private def tokenized(s: SparkSession, dir: String,
                        extra: String*): DataFrame =
    Tables.documents(s, dir).select(
      (Seq(col("doc_id"), split(col("text"), " ").as("toks")) ++
        extra.map(col)): _*)

  /** Quality threshold for tx_corpus_profile's pass share — applied
    * to the rounded score, so the cut is engine-exact. */
  val QualityBar = 0.55

  /** Per-doc add-one smoothed bigram cross-entropy — the
    * tx_lm_perplexity training + scoring dataflow, factored out so
    * SamplePack's CCNet-style perplexity bucketing composes the SAME
    * model (one definition to keep the Spark and oracle sides in
    * lockstep). Log-probs are computed once per bigram TYPE
    * (Zipf-bounded grain), quantized to 1e-4 long units so the
    * per-doc sums are exact and order-free; vocab size rides a
    * broadcast one-row frame. Returns (doc_id, n_bigrams,
    * cross_entropy) with the entropy already [[Det.dround]]'d. */
  private[operators] def bigramEntropy(s: SparkSession,
                                       dir: String): DataFrame =
    // an IndexCache artifact: the bigram LM is ONE trained model that
    // six consumers read (tx_lm_perplexity, the CCNet buckets, the
    // curriculum bands, and the three DoReMi-family queries via
    // domLosses)
    IndexCache.artifact(s, "bigramlm", dir)(
      bigramEntropyOf(tokenized(s, dir)).localCheckpoint(eager = true))

  /** [[bigramEntropy]] over any (doc_id, toks) frame — the corpus
    * pipeline trains the LM on the CURATED crawl corpus itself (the
    * CCNet shape: model the target distribution, score every doc
    * against it). Docs with fewer than 2 tokens have no bigrams and
    * are absent (both engines' inner join). */
  private[graft] def bigramEntropyOf(toks: DataFrame): DataFrame = {
    val bg = toks.select(col("doc_id"),
        explode(Hashing.shingles(col("toks"), 2)).as("ng"))
      .withColumn("a", element_at(split(col("ng"), " "), 1))
    val cab = bg.groupBy("ng").agg(count(lit(1)).as("cab"))
    val ca = bg.groupBy("a").agg(count(lit(1)).as("ca"))
    val v = toks.select(explode(col("toks")).as("w"))
      .agg(countDistinct(col("w")).as("vs"))
    val lp = cab.withColumn("a", element_at(split(col("ng"), " "), 1))
      .join(ca, Seq("a"))
      .crossJoin(broadcast(v))
      .select(col("ng"),
        floor(log2((col("cab") + lit(1.0)) / (col("ca") + col("vs")))
          * lit(1e4) + lit(0.5)).cast("long").as("lpu"))
    bg.join(lp, Seq("ng"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        Det.dround(-sum(col("lpu")).cast("double")
          / (count(lit(1)) * lit(1e4)), 4).as("cross_entropy"))
  }

  // Tokenizer artifacts through the [[IndexCache]] memo, read by the
  // vocab/segment/encode/bake-off consumers.
  private[operators] def bpeMergesFor(s: SparkSession, dir: String): Seq[Bpe.Merge] =
    IndexCache.bpeMerges(dir)(Bpe.trainMerges(
      tokenized(s, dir).select(explode(col("toks")).as("w"))))

  /** Byte-level pretokens (the GPT-2 feed): each word byte-remapped
    * through [[graft.plans.ByteRemap]], with the space ATTACHED to
    * its following word — " word" remaps to "Ġword", the signature
    * marker — so the concatenation of pretokens is the remap of the
    * document and no byte is lost. The corpus is ASCII, where the
    * remap is identity on word bytes and the oracle writes chr(288)
    * for the marker; the non-ASCII byte-fallback path (é → "Ã©") is
    * pinned in ByteRemapSpec. */
  private def bytePretokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("i", "w0")))
      .select(col("doc_id"), graft.plans.ByteRemap.of(
        when(col("i") === 0, col("w0"))
          .otherwise(concat(lit(" "), col("w0")))).as("w"))

  private[operators] def bpeByteMergesFor(s: SparkSession, dir: String): Seq[Bpe.Merge] =
    IndexCache.bpeByteMerges(dir)(Bpe.trainMerges(
      bytePretokens(s, dir).select(col("w"))))

  private def wpVocabFor(s: SparkSession, dir: String): Seq[(String, Long)] =
    IndexCache.wordpieceVocab(dir)(
      Wordpiece.train(Tables.documents(s, dir)))

  private def uniFor(s: SparkSession, dir: String): Unigram.Trained =
    IndexCache.unigramModel(dir)(Unigram.train(Tables.documents(s, dir)))

  /** tx_gopher_rules bounds. Token bounds follow the published rule
    * shape (min length, max length); the word-length band and
    * stopword floor are tightened from the published English-crawl
    * values so every rule fires on a measurable slice of the
    * synthetic corpus (mean word length here spans 3.7–5.3) — the
    * rules are configuration, the integer-compare evaluation is the
    * operator. */
  val GopherMinTokens = 50L
  val GopherMaxTokens = 100000L
  val GopherWordLenLo = 4L
  val GopherWordLenHi = 8L
  val GopherMinStopHits = 2L

  /** Classifier label bar — the corpus MEDIAN quality (0.263 at
    * sf0.01), so the weak labels split ~50/50 and the trained model
    * has signal on both sides ([[QualityBar]] sits above the whole
    * corpus and would yield all-negative labels — fine for a pass
    * gate, degenerate for training). */
  val ClfQualityBar = 0.26

  /** tx_bm25_topk query terms + result size. Mid-df corpus terms
    * (df ≈ 380–394 of 500 at sf0.01) so idf, tf, and length
    * normalization all contribute to the ranking. */
  val Bm25Terms = Seq("vector", "hash", "merge")
  val Bm25K = 10

  /** tx_chunk_windows geometry: window tokens / stride tokens. The
    * 16-token overlap is the context-continuity margin a pretraining
    * or retrieval chunker keeps across boundaries. */
  val ChunkWin = 64
  val ChunkStride = 48

  /** Per-doc quality scores (the tx_quality frame), with optional
    * passthrough columns for downstream rollups. Ratios are rounded
    * FIRST and the composite computed from the rounded values — the
    * oracle replays the same two-stage rounding. */
  private def qualityFrame(s: SparkSession, dir: String,
                           extra: String*): DataFrame =
    tokenized(s, dir, extra: _*).select(
        (extra.map(col) ++ Seq(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          Det.dround(stopCount(col("toks"), stopEn).cast("double")
            / size(col("toks")), 4).as("stop_ratio"),
          Det.dround(size(array_distinct(col("toks"))).cast("double")
            / size(col("toks")), 4).as("diversity"),
          Det.dround(size(filter(col("toks"), t => length(t) >= 6))
            .cast("double") / size(col("toks")), 4).as("long_ratio"))): _*)
      .withColumn("quality",
        Det.dround(lit(0.4) * col("diversity") + lit(0.3) * col("stop_ratio")
          + lit(0.3) * col("long_ratio"), 4))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flesch-Kincaid readability (the published grade formula over
    // exact integer counts): sentences = [.!?]+ runs (min 1), words =
    // whitespace tokens, syllables = vowel-group runs minus silent
    // trailing e's, floored at one per word — the standard
    // dictionary-free approximation, every count a portable
    // regexp_count so the grade's two divisions are single IEEE ops
    // both engines round identically. A readability band is a stock
    // quality-mix signal (FineWeb-style curation buckets on it).
    "tx_readability" -> ((s, dir) => {
      val lowered = lower(col("text"))
      val w = size(split(col("text"), " ")).cast("long")
      val sen = greatest(
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long"), lit(1L))
      val syl = greatest(
        size(regexp_extract_all(lowered, lit("[aeiouy]+"), lit(0)))
          .cast("long") -
        size(regexp_extract_all(lowered,
          lit("[bcdfghjklmnpqrstvwxz]e( |$)"), lit(0))).cast("long"),
        w)
      Tables.documents(s, dir).select(col("doc_id"),
        w.as("n_words"), sen.as("n_sentences"), syl.as("n_syllables"),
        Det.dround(lit(0.39) * (w.cast("double") / sen.cast("double")) +
          lit(11.8) * (syl.cast("double") / w.cast("double")) -
          lit(15.59), 4).as("fk_grade"))
    }),

    // Token counting: whitespace tokens + a BPE-ish word/punct regex.
    "tx_token_stats" -> ((s, dir) =>
      tokenized(s, dir, "text", "n_chars").select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        Det.dround(size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")), 4).as("diversity"),
        Det.dround(isum(transform(col("toks"), t => length(t).cast("long")))
          .cast("double") / size(col("toks")), 4).as("avg_token_len"),
        size(regexp_extract_all(col("text"), lit("([a-z]+|[0-9]+|[^a-z0-9 ])"),
          lit(1))).cast("long").as("n_bpe_ish"),
        col("n_chars"))),

    // Language-ID heuristic: stopword-set votes with fixed precedence.
    "tx_lang_id" -> ((s, dir) =>
      tokenized(s, dir, "lang").select(
          col("doc_id"), col("lang").as("labeled_lang"),
          stopCount(col("toks"), stopEn).cast("long").as("s_en"),
          stopCount(col("toks"), stopEs).cast("long").as("s_es"),
          stopCount(col("toks"), stopDe).cast("long").as("s_de"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
            .when(col("s_es") >= col("s_de"), "es")
            .otherwise("de"))),

    // TRAINED language-ID (vs the stopword heuristic above): a
    // char-n-gram multinomial Naive Bayes, the published fastText/
    // CLD-class approach, under the engine's integer discipline —
    // grams hashed into a FIXED bucket space (h32 % LangIdBuckets,
    // the Classifier hashing trick: model size is L×B rows at ANY
    // corpus scale, no vocabulary shipped), per-(lang, bucket)
    // add-one-smoothed log-likelihoods quantized to 1e4-unit LONGS
    // (the log2-quantization precedent of the bigram perplexity
    // family — both engines floor the same double once, then every
    // downstream sum is exact), scoring = one broadcast join of the
    // bounded model grid + one (doc, lang) partial agg + an integer
    // argmax. Training is pure distributed aggregation — counts,
    // never a driver loop. Measured accuracy vs the fixture labels:
    // 0.938/0.958 at sf0.001/0.01 over a 0.39/0.44 majority share
    // (pinned in LangIdSpec). Docs shorter than one gram carry no
    // evidence and are absent (inner join, mirrored in the oracle)
    "tx_langid" -> ((s, dir) =>
      langIdOverDgl(Tables.documents(s, dir), dglFor(s, dir))),

    // ...and its confidence surface: winner-minus-runner-up posterior
    // margin in exact long units, gated to 'und' below
    // LangIdUndMargin — the argmax alone would assign a confident
    // wrong label to an out-of-family document (margin calibration
    // and the out-of-family pin live in LangIdSpec)
    "tx_langid_margin" -> ((s, dir) =>
      langIdMarginOverDgl(Tables.documents(s, dir), dglFor(s, dir))),

    // Quality scoring: length/stopword/diversity ratios combined.
    "tx_quality" -> ((s, dir) => qualityFrame(s, dir)),

    // Sliding-window chunking with stride — the long-document →
    // context-window splitter (overlap keeps continuity across
    // boundaries). Pure array expressions in the scan stage: chunk
    // starts from an integer sequence, slices from the projected
    // token array — no shuffle, no UDF; output grows ~n_tokens/stride
    // per doc. Start count is exact integer arithmetic
    // ((n−W+S−1) div S), identical in both engines; docs at or under
    // one window yield exactly one chunk.
    "tx_chunk_windows" -> ((s, dir) => {
      val (w, st) = (ChunkWin, ChunkStride)
      tokenized(s, dir)
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L),
            when(col("n") <= w, lit(0L)).otherwise(
              floor((col("n") - w + st - 1) / st).cast("long"))))
            .as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("toks"), (col("chunk_id") * st + 1).cast("int"), lit(w))
            .as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("long").as("chunk_tokens"),
          element_at(col("chunk"), 1).as("head"))
    }),

    // Corpus health profile: the per-(source, lang) snapshot rollup a
    // curation pipeline monitors between builds — doc/token volume,
    // average length, and the share of docs clearing the quality bar.
    // One partial-agg shuffle over the scan-stage per-doc scores;
    // output cardinality = shards, however large the corpus. The bar
    // compares against the already-rounded score, so both engines cut
    // identically.
    "tx_corpus_profile" -> ((s, dir) =>
      qualityFrame(s, dir, "source", "lang", "n_chars")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          Det.dround(sum(col("n_chars").cast("decimal(18,4)"))
            .cast("double") / count(lit(1)), 4).as("avg_chars"),
          sum(when(col("quality") >= QualityBar, 1L).otherwise(0L))
            .as("n_quality"),
          Det.dround(sum(when(col("quality") >= QualityBar, 1L)
            .otherwise(0L)).cast("double") / count(lit(1)), 4)
            .as("quality_share"))),

    // Repetition metrics (Gopher-style quality filters): repeated-
    // token fraction plus the most frequent bigram and the token
    // share its occurrences cover (overlap double-counts, so the
    // raw ratio can exceed 1 on self-repeating bigrams — capped at
    // 1.0 so downstream thresholds can treat it as a fraction).
    // Tie-break on the lexicographically smallest bigram for
    // determinism. The bigram count is ONE shuffle on (doc_id,
    // bigram) with map-side partial agg; the top pick partitions by
    // doc_id only — Spark 4 inserts WindowGroupLimit so each
    // partition forwards one candidate row per doc, not the whole
    // bigram histogram.
    "tx_repetition" -> ((s, dir) => {
      val t = tokenized(s, dir)
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          col("toks"))
      val counts = t.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          explode(Hashing.shingles(col("toks"), 2)).as("bigram"))
        .groupBy("doc_id", "n_tokens", "n_distinct", "bigram")
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("cnt").desc, col("bigram").asc)
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("n_tokens"),
          Det.dround(lit(1.0) - col("n_distinct").cast("double")
            / col("n_tokens"), 4).as("rep_token_frac"),
          col("bigram").as("top_bigram"),
          Det.dround(least(col("cnt").cast("double") * 2 / col("n_tokens"),
            lit(1.0)), 4).as("top_bigram_frac"))
    }),

    // Corpus vocabulary: global top-50 bigrams by frequency. ONE
    // shuffle (groupBy with map-side partial counts); the global
    // top-k is TakeOrderedAndProject — per-partition bounded heaps
    // merged on the driver, k rows per partition max — NOT a global
    // sort. (cnt, ng) is unique per ng, so the cut is deterministic.
    "tx_top_ngrams" -> ((s, dir) =>
      tokenized(s, dir)
        .select(explode(Hashing.shingles(col("toks"), 2)).as("ng"))
        .groupBy("ng").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ng"))
        .limit(50)),

    // One distributed BPE training step (the pair-count core of
    // subword-vocabulary learning, Sennrich et al. 2016): every
    // adjacent symbol pair in every word, counted corpus-wide, top-50
    // merge candidates. The explode→substr→partial-count chain is one
    // codegen stage; the only shuffle is the pair groupBy (map-side
    // combined — symbol-pair cardinality is tiny vs corpus size), and
    // the global cut is TakeOrderedAndProject, not a sort. Iterating
    // the full BPE loop re-runs this step on re-segmented symbols;
    // the per-step dataflow is what must scale. (cnt, pair) is unique,
    // so the 50-cut is deterministic.
    "tx_bpe_merge_step" -> ((s, dir) =>
      tokenized(s, dir)
        .select(explode(filter(col("toks"), w => length(w) >= 2)).as("w"))
        .select(col("w"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(col("w").substr(col("i"), lit(2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50)),

    // ...and one full BPE ITERATION: learn the top merge candidate,
    // re-segment the corpus with that pair fused into a single
    // symbol (sentinel U+0001 — absent from the ASCII corpus), and
    // recount. The learned pair rides a one-row broadcast into the
    // scan-stage replace (both engines' replace are left-to-right
    // non-overlapping — identical greedy semantics); training the
    // full vocabulary loops exactly this dataflow, swapping the
    // sentinel for a growing symbol alphabet.
    "tx_bpe_apply_merge" -> ((s, dir) => {
      val words = tokenized(s, dir)
        .select(explode(filter(col("toks"), w => length(w) >= 2)).as("w"))
      def pairCounts(ws: DataFrame) = ws
        .select(col("w"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(col("w").substr(col("i"), lit(2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
      val top1 = pairCounts(words)
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(col("pair").as("mp"))
      val reseg = words.crossJoin(broadcast(top1))
        .select(replace(col("w"), col("mp"), lit("\u0001")).as("w"))
        .filter(length(col("w")) >= 2)
      pairCounts(reseg)
        .orderBy(col("n").desc, col("pair")).limit(50)
    }),

    // The SECOND tokenizer family: WordPiece-style greedy
    // longest-match segmentation with hard-EM vocabulary refinement
    // (top-down piece selection, vs BPE's bottom-up merges). All
    // passes after the word count run at DISTINCT-WORD grain —
    // the SentencePiece training trick that makes tokenizer training
    // Zipf-cheap at 100 TB. Design + scale shape in [[Wordpiece]].
    "tx_wordpiece_vocab" -> ((s, dir) =>
      Wordpiece.vocabFrame(s, wpVocabFor(s, dir))),

    // The trained tokenizer's segmentation of the word inventory
    // itself — the artifact a tokenizer owner reviews (which words
    // split, into what): one unrolled scan-stage pass over distinct
    // words, no shuffle after the word count.
    "tx_wordpiece_segment" -> ((s, dir) =>
      Wordpiece.segmented(
          Wordpiece.wordCounts(Tables.documents(s, dir)),
          wpVocabFor(s, dir).map(_._1))
        .select(col("w"), col("cnt"), col("n_pieces"), col("seg"))),

    // Tokenizer APPLY at corpus scale: distinct words segment ONCE,
    // then a broadcast join carries piece counts back onto the token
    // stream — per-doc compression profile like tx_bpe_encode.
    "tx_wordpiece_encode" -> ((s, dir) =>
      Wordpiece.encode(Tables.documents(s, dir),
        wpVocabFor(s, dir).map(_._1))),

    // The THIRD tokenizer family: unigram-LM (SentencePiece-style) —
    // Viterbi-OPTIMAL segmentation under per-piece scores, trained by
    // pruning a large seed inventory DOWN by measured usage (vs
    // BPE's bottom-up growth and WordPiece's greedy re-selection).
    // Hard-count scores and an integer-lexicographic DP objective
    // keep training exactly replayable. Design, the deviation from
    // soft-EM, and the scale shape in [[Unigram]].
    "tx_unigram_vocab" -> ((s, dir) =>
      Unigram.vocabFrame(s, uniFor(s, dir).vocab)),

    // Viterbi segmentation of the word inventory under the trained
    // scores — where this family visibly beats greedy: the DP finds
    // fewer-piece splits greedy longest-match misses.
    "tx_unigram_segment" -> ((s, dir) =>
      Unigram.viterbi(
          Unigram.wordCounts(Tables.documents(s, dir)),
          uniFor(s, dir).scores)
        .select(col("w"), col("cnt"), col("n_pieces"), col("seg"))),

    // Tokenizer APPLY: distinct words Viterbi-segment once, then a
    // broadcast join carries piece counts onto the token stream.
    "tx_unigram_encode" -> ((s, dir) =>
      Unigram.encode(Tables.documents(s, dir), uniFor(s, dir))),

    // Tokenizer ROUND-TRIP audit: decode(encode(w)) must equal w for
    // every distinct word in the corpus — the lossless-ness check a
    // tokenizer team runs before shipping a vocab (a merge table
    // whose sentinel leaks into real text, or whose expansion table
    // drifted from its pair table, fails here and nowhere else).
    // Distinct-word grain; both directions are flat codegen'd
    // replace chains in the scan stage.
    "tx_bpe_roundtrip" -> ((s, dir) => {
      val merges = bpeMergesFor(s, dir)
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w")).distinct()
        .select(col("w"),
          Bpe.decodeCol(Bpe.encodeCol(col("w"), merges), merges).as("rt"))
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("rt") =!= col("w"), 1L).otherwise(0L))
            .as("n_mismatch"))
        .select(col("n_words"), col("n_mismatch"),
          (col("n_mismatch") === 0L).as("roundtrip_ok"))
    }),

    // Per-LANGUAGE fertility audit of the trained BPE — the
    // multilingual-equity check a tokenizer owner runs before
    // shipping: units per word (fertility) and chars per unit by
    // language. A tokenizer trained on a mixed corpus systematically
    // over-segments its minority languages (higher fertility =
    // more compute per char at train AND inference time for those
    // langs); this rollup is where that shows. Same distinct-word
    // grain as tx_tokenizer_compare, just keyed by (lang, word).
    "tx_fertility_by_lang" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val wc = docs.select(col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      wc.withColumn("n_units",
          length(Bpe.encodeCol(col("w"), bpeMergesFor(s, dir)))
            .cast("long"))
        .groupBy("lang")
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * length(col("w")).cast("long")).as("n_chars"),
          sum(col("cnt") * col("n_units")).as("n_units"))
        .select(col("lang"), col("n_words"), col("n_chars"),
          col("n_units"),
          graft.Det.dround(col("n_units").cast("double") /
            col("n_words").cast("double"), 4).as("fertility"),
          graft.Det.dround(col("n_chars").cast("double") /
            col("n_units").cast("double"), 4).as("chars_per_unit"))
    }),

    // The tokenizer BAKE-OFF: all three families trained on the same
    // corpus, corpus-level compression side by side — the one-number
    // answer to "which tokenizer fits this corpus" a tokenizer owner
    // actually decides by. Every rollup runs at DISTINCT-WORD grain
    // (Σ cnt·units over the word inventory — applying a trained
    // tokenizer never re-processes repeated words); BPE's unit is
    // post-merge symbols, WordPiece/unigram count pieces — all three
    // are units-per-char, directly comparable.
    "tx_tokenizer_compare" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val wc = Wordpiece.wordCounts(docs)
      def roll(df: DataFrame, family: String, units: Column) = df
        .agg(sum(col("cnt") * length(col("w")).cast("long")).as("chars"),
          sum(col("cnt") * units).as("units"))
        .select(lit(family).as("family"), col("chars"), col("units"))
      val bpe = roll(wc, "bpe",
        length(Bpe.encodeCol(col("w"), bpeMergesFor(s, dir))).cast("long"))
      val wp = roll(Wordpiece.segmented(wc, wpVocabFor(s, dir).map(_._1)),
        "wordpiece", col("n_pieces"))
      val un = roll(Unigram.viterbi(Unigram.wordCounts(docs),
        uniFor(s, dir).scores), "unigram", col("n_pieces"))
      // the byte-level family rolls over PRETOKEN counts (chars =
      // remapped bytes incl. the Ġ marker — its own comparable basis)
      val bwc = bytePretokens(s, dir).groupBy(col("w"))
        .agg(count(lit(1)).as("cnt"))
      val bb = roll(bwc, "bpe_bytes",
        length(Bpe.encodeCol(col("w"), bpeByteMergesFor(s, dir))).cast("long"))
      bpe.unionByName(wp).unionByName(un).unionByName(bb)
        .withColumn("compression", graft.Det.dround(
          col("units").cast("double") / col("chars").cast("double"), 4))
    }),

    // ...and the FULL vocabulary training loop: K merges learned in
    // sequence, each fusing the corpus-wide top pair into a fresh
    // private-use symbol (the growing alphabet), re-segmenting, and
    // recounting — the complete tokenizer-training job composed from
    // the proven per-step dataflow. Output is the learned merge
    // table (rank, token expanded to base characters, count). Loop
    // design + scale shape in [[Bpe]]; oracle is the same loop
    // unrolled as chained CTEs ([[Bpe.sqlVocab]]).
    "tx_bpe_vocab" -> ((s, dir) =>
      Bpe.vocabFrame(s, bpeMergesFor(s, dir))),

    // ...and the tokenizer APPLY: the trained merge table encodes the
    // corpus in ONE scan — the K merges chain as K nested codegen'd
    // replaces in a single projection ([[Bpe.encodeCol]]), no loop
    // and no shuffle on the apply side (training ran once; encoding
    // 100 TB is then embarrassingly parallel). Output is the per-doc
    // tokenization profile: word count, base symbols before, symbols
    // after the merges, and the compression ratio — the metric a
    // tokenizer owner watches per corpus slice.
    "tx_bpe_encode" -> ((s, dir) => {
      val words = tokenized(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("w"))
      val merges = bpeMergesFor(s, dir)
      words
        .select(col("doc_id"), length(col("w")).cast("long").as("before"),
          length(Bpe.encodeCol(col("w"), merges)).cast("long").as("after"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("before")).as("n_chars"),
          sum(col("after")).as("n_symbols"))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          col("n_symbols"),
          when(col("n_chars") > 0, graft.Det.dround(
            col("n_symbols").cast("double") / col("n_chars"), 4))
            .as("compression"))
    }),

    // BYTE-LEVEL BPE — the GPT-2 production form: train and encode
    // over byte-remapped pretokens with the attached-space Ġ marker
    // ([[bytePretokens]]), so merges learn "Ġthe"-style units and
    // the tokenizer has byte fallback (no OOV by construction). Same
    // loop and apply machinery as the char-level family — only the
    // feed differs — so the scale shape is unchanged: training at
    // pretoken grain on a LoopWidth session, encoding one codegen'd
    // replace chain per scan.
    "tx_bpe_bytes_vocab" -> ((s, dir) =>
      Bpe.vocabFrame(s, bpeByteMergesFor(s, dir))),

    "tx_bpe_bytes_encode" -> ((s, dir) => {
      val words = bytePretokens(s, dir)
      val merges = bpeByteMergesFor(s, dir)
      words
        .select(col("doc_id"), length(col("w")).cast("long").as("before"),
          length(Bpe.encodeCol(col("w"), merges)).cast("long").as("after"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pretoks"),
          sum(col("before")).as("n_bytes"),
          sum(col("after")).as("n_symbols"))
        .select(col("doc_id"), col("n_pretoks"), col("n_bytes"),
          col("n_symbols"),
          when(col("n_bytes") > 0, graft.Det.dround(
            col("n_symbols").cast("double") / col("n_bytes"), 4))
            .as("compression"))
    }),

    // PII detection — the audit complement of p_redact_pages: regex
    // match counts per document, over text with deterministically
    // INJECTED contacts (id-derived emails / IPv4s), so the expected
    // counts are known non-zero and the compare pins the regex
    // semantics, not just their absence from synthetic text. Patterns
    // stay in the RE2 ∩ java.util.regex dialect (no backrefs, no
    // lookaround) so both engines match identically. Scan-stage only.
    "tx_pii_scan" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" 10."), (col("doc_id") % 256).cast("string"),
                lit(".0.1"))).otherwise(lit(""))).as("body"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("body"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("body"), lit(ipRe), lit(0)))
            .cast("long").as("n_ips"))
        .withColumn("has_pii", col("n_emails") > 0 || col("n_ips") > 0)
    }),

    // TF-IDF top terms per document. IDF uses the exact rational
    // form N/df (not ln(N/df)): libm log is not guaranteed
    // bit-identical across engines, while tf·N/df is two exact-long
    // products and ONE IEEE division — hash-stable; the ranking is a
    // declared scoring choice, documented here. N rides the plan as
    // a broadcast scalar frame (the tx_length_band pattern — no
    // eager driver count). Per-doc cut through the native TopKPerKey
    // (bounded heaps, no per-doc sort).
    "tx_tfidf_terms" -> ((s, dir) => {
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
      val tf = tokenized(s, dir)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, Seq("token")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
      val top = graft.plans.TopKPerKey.topKPerKey(scored,
        keys = Seq(col("doc_id")),
        order = Seq(col("score").desc, col("token").asc), k = 3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      top.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("rank"), col("token"),
          Det.dround(col("score"), 6).as("score"))
    }),

    // Inverted index: token → df + CAPPED posting list (first
    // PostingCap doc_ids). The cap runs through the native
    // TopKPerKey BEFORE the list aggregation, so a stopword's 10⁹
    // postings never concentrate on one task — df stays exact via a
    // separate count on the same token key (partitioning reused).
    // Postings serialize to a '|'-joined string: the driver's hash
    // gate can't hash array cells (doc_ids are longs — no separator
    // collisions possible).
    "tx_inverted_index" -> ((s, dir) => {
      val tok = tokenized(s, dir)
        .select(col("doc_id"), explode(array_distinct(col("toks"))).as("token"))
      val df = tok.groupBy("token").agg(count(lit(1)).as("df"))
      val capped = graft.plans.TopKPerKey.topKPerKey(tok,
        keys = Seq(col("token")),
        order = Seq(col("doc_id").asc), k = PostingCap)
      val pl = capped.groupBy("token")
        .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), "|").as("postings"))
      df.join(pl, Seq("token"))
    }),

    // LM-style familiarity score (the CCNet idea with corpus-internal
    // statistics standing in for the LM): a document whose bigrams
    // are frequent across the corpus reads as in-distribution, one
    // full of rare bigrams as noise. Score = mean corpus frequency
    // of the doc's bigrams — integer sums / one division, so it
    // hash-replays where a real log-perplexity (libm) would not.
    // Same plan family as tfidf: bigram counts (one shuffle), join
    // docs' bigrams back (narrow string keys), per-doc mean.
    "tx_lm_familiarity" -> ((s, dir) => {
      val bg = tokenized(s, dir)
        .select(col("doc_id"), explode(Hashing.shingles(col("toks"), 2)).as("ng"))
      val freq = bg.groupBy("ng").agg(count(lit(1)).as("cf"))
      bg.join(freq, Seq("ng"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          Det.dround(sum(col("cf")).cast("double") / count(lit(1)), 4)
            .as("familiarity"))
    }),

    // The REAL LM quality filter (the CCNet/KenLM class, upgraded
    // from tx_lm_familiarity's frequency proxy): train an add-one
    // smoothed bigram LM on the corpus, score every doc by bigram
    // cross-entropy and perplexity — outliers (gibberish scores high,
    // boilerplate low) are what the published pipelines cut on.
    // Scale shape: log-probs are computed once per BIGRAM TYPE
    // (Zipf-bounded grain, like the tokenizer trainings), quantized
    // to 1e-4 units as LONGS so the per-doc sum is exact and
    // order-free; the corpus-grain work is one shuffle join on the
    // bigram + one doc-keyed partial agg. Vocab size rides a
    // broadcast one-row frame (the scalar-subquery pattern).
    "tx_lm_perplexity" -> ((s, dir) =>
      bigramEntropy(s, dir)
        .withColumn("ppl",
          Det.dround(pow(lit(2.0), col("cross_entropy")), 4))),

    // Kneser-Ney smoothed bigram perplexity — the KenLM-class
    // smoothing the published perplexity filters actually ship
    // (add-one overweights unseen mass badly on Zipfian text; KN's
    // absolute discounting + continuation backoff is the standard
    // fix). Interpolated form, D = 0.75:
    //   P(w|a) = (max(c(a,w)-D, 0) + D·N1+(a·)·Pcont(w)) / c(a·)
    //   Pcont(w) = N1+(·w) / N1+(··)
    // Every continuation statistic is a count over the BIGRAM-TYPE
    // table (Zipf-bounded grain, like the add-one model's vocab
    // scalar): N1+(a·)/N1+(·w) are one groupBy each over the type
    // table, N1+(··) rides a broadcast one-row frame. Same
    // engine-exactness discipline: per-type log-probs quantized to
    // 1e-4 long units, per-doc sums exact and order-free.
    "tx_lm_kn_ppl" -> ((s, dir) => {
      // widened bigram frame (r16): the whole split → shingle →
      // explode chain ran as ONE task (the single-row-group fixture
      // scan; guide §2.2) and the frame is consumed TWICE (the
      // type-count chain and the per-doc scoring join), so the
      // one-core chain ran twice — 7.6 s of task time on one core for
      // a 3.6 s wall. Only the widen before the explode shipped, with
      // no checkpoint: both consumers share the widen's exchange
      // (exchange reuse) and each re-runs the explode chain above it,
      // now 32-wide. On a lake-scale scan widen is a no-op by its
      // guard.
      val toks = Tables.widen(tokenized(s, dir))
      val bg = toks.select(col("doc_id"),
          explode(Hashing.shingles(col("toks"), 2)).as("ng"))
        .withColumn("a", element_at(split(col("ng"), " "), 1))
      val cab = bg.groupBy("ng").agg(count(lit(1)).as("cab"))
        .withColumn("a", element_at(split(col("ng"), " "), 1))
        .withColumn("w", element_at(split(col("ng"), " "), 2))
      val ca = bg.groupBy("a").agg(count(lit(1)).as("ca"))
      val f1 = cab.groupBy("a").agg(count(lit(1)).as("n1fa"))
      val p1 = cab.groupBy("w").agg(count(lit(1)).as("n1pw"))
      val nb = cab.agg(count(lit(1)).as("nbt"))
      val lp = cab.join(ca, Seq("a")).join(f1, Seq("a")).join(p1, Seq("w"))
        .crossJoin(broadcast(nb))
        .select(col("ng"),
          floor(log2(
            (greatest(col("cab") - lit(0.75), lit(0.0))
              + lit(0.75) * col("n1fa")
                * (col("n1pw").cast("double") / col("nbt")))
            / col("ca")) * lit(1e4) + lit(0.5)).cast("long").as("lpu"))
      bg.join(lp, Seq("ng"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          Det.dround(-sum(col("lpu")).cast("double")
            / (count(lit(1)) * lit(1e4)), 4).as("cross_entropy"))
        .withColumn("ppl", Det.dround(pow(lit(2.0), col("cross_entropy")), 4))
    }),

    // Percentile-band length filter (the Gopher/C4 "not too short,
    // not too long" gate with data-derived thresholds): keep docs
    // whose n_chars sits within [p05, p95] of the corpus. The
    // thresholds are ONE exact-percentile aggregation broadcast back
    // as a scalar frame (crossJoin(broadcast) — the distributed form
    // of a scalar subquery; no driver round-trip in the plan), then
    // the band test runs in the scan stage. Threshold comparison on
    // Det.dround'd values so both engines cut on the same literal.
    "tx_length_band" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val th = d.agg(
        Det.dround(expr("percentile(n_chars, 0.05)"), 4).as("lo"),
        Det.dround(expr("percentile(n_chars, 0.95)"), 4).as("hi"))
      d.crossJoin(broadcast(th))
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .select(col("doc_id"), col("n_chars"))
    }),

    // Document fingerprinting: whole-text 32-bit hash + min-sampled
    // rolling shingle hash (winnowing-style representative).
    "tx_fingerprint" -> ((s, dir) =>
      tokenized(s, dir, "text")
        // sub-shingle docs have no min-shingle fingerprint; the
        // oracle's inner join omits them, so exclude here too
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), col("text"),
          transform(Hashing.shingles(col("toks"), 3),
            s2 => Hashing.h32(s2)).as("hs"))
        .select(
          col("doc_id"),
          Hashing.h32(col("text")).as("fp_text"),
          array_min(col("hs")).as("fp_min_shingle"))),

    // Gopher/Dolma-style composite rule filter — the cheap pass/fail
    // gate a pretraining pipeline runs FIRST, before any dedup or
    // model scoring touches a byte. Five rules, every comparison an
    // integer cross-multiply (mean-word-length ∈ [lo,hi] is checked
    // as lo·n ≤ Σlen ≤ hi·n — no floats anywhere), so the verdicts
    // hash-replay exactly. Pure scan stage: at 100 TB this is one
    // pass with zero shuffles, and the `pass` predicate pushes into
    // any downstream scan that filters on it.
    "tx_gopher_rules" -> ((s, dir) => gopherFrame(tokenized(s, dir))),

    // BM25 retrieval: global top-K documents for a fixed conjunctive
    // term set over the inverted-index dataflow. IDF uses the exact
    // RATIONAL Robertson form (N−df+½)/(df+½) instead of its log —
    // libm is not bit-identical across engines (the tx_tfidf_terms
    // precedent); with k1 = 6/5 and b = 3/4 the whole per-term score
    // clears denominators into two exact long products and ONE IEEE
    // division:  (2N−2df+1)·22·tf·T / ((2df+1)·(10·tf·T + 3T + 9·dl·N)).
    // Per-doc totals accumulate as 1e-8 fixed-point longs (order-free
    // sum). Plan: the term filter pushes into the scan, df is a
    // |Q|-row broadcast, corpus stats a 1-row broadcast, and the
    // global cut is TakeOrderedAndProject (per-partition bounded
    // top-K, never a full sort). At 100 TB: one scan + one
    // doc_id-keyed partial-agg shuffle over matched docs only.
    "tx_bm25_topk" -> ((s, dir) => {
      val toks = tokenized(s, dir)
      val stats = toks.agg(count(lit(1)).as("n"),
        sum(size(col("toks")).cast("long")).as("t"))
      val hits = toks
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("token"))
        .filter(col("token").isInCollection(Bm25Terms))
        .groupBy(col("doc_id"), col("dl"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = hits.groupBy("token").agg(count(lit(1)).as("df"))
      val perTerm = hits.join(broadcast(dfreq), Seq("token"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          ((lit(2) * col("n") - lit(2) * col("df") + lit(1)).cast("double") *
            (lit(22) * col("tf") * col("t")).cast("double") /
            ((lit(2) * col("df") + lit(1)).cast("double") *
              (lit(10) * col("tf") * col("t") + lit(3) * col("t") +
                lit(9) * col("dl") * col("n")).cast("double")))
            .as("term_score"))
      // no rank column: (score desc, doc_id) is a total order, so
      // top-K membership + score IS the ranking — a rank window over
      // even K rows would plan unpartitioned (banned engine-wide,
      // PlanContractSpec); tx_top_ngrams sets the precedent
      perTerm.groupBy("doc_id")
        .agg((sum(floor(col("term_score") * lit(1e8) + lit(0.5))
            .cast("long")) / lit(1e8)).as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(Bm25K)
    }),

    // Dataset card — the per-(source, lang) datasheet a corpus ships
    // with, composing signals from three families into one audited
    // artifact: volume (docs/tokens), exact-dup rate (corpus-wide
    // content hashes, not just within-slice), Gopher-gate pass rate,
    // and language-ID agreement with the labeled lang. Per-doc
    // signals are scan-stage; the dup flag joins the doc's content
    // hash against the corpus-wide hash counts (one shuffle on the
    // 32-char hash); the rollup is one partial-agg shuffle to |S×L|
    // rows. Ratios dround'd per the engine-wide rule.
    "tx_dataset_card" -> ((s, dir) => {
      val toks = tokenized(s, dir, "text", "source", "lang")
      val sEn = stopCount(col("toks"), stopEn)
      val sEs = stopCount(col("toks"), stopEs)
      val sDe = stopCount(col("toks"), stopDe)
      val perDoc = toks.select(
        col("source"), col("lang"), md5(col("text")).as("h"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        isum(transform(col("toks"), t => length(t).cast("long")))
          .as("sum_len"),
        (sEn + sEs + sDe).cast("long").as("n_stop"),
        when(sEn >= sEs && sEn >= sDe, "en")
          .when(sEs >= sDe, "es").otherwise("de").as("predicted"))
      val dupCounts = perDoc.groupBy("h").agg(count(lit(1)).as("n_copies"))
      val flagged = perDoc.join(dupCounts, Seq("h"))
        .select(col("source"), col("lang"), col("n_tokens"),
          (col("n_copies") > 1).as("is_dup"),
          (!(col("n_tokens") < GopherMinTokens) &&
            !(col("n_tokens") > GopherMaxTokens) &&
            !(col("sum_len") < lit(GopherWordLenLo) * col("n_tokens") ||
              col("sum_len") > lit(GopherWordLenHi) * col("n_tokens")) &&
            !(col("n_stop") < GopherMinStopHits) &&
            !((col("n_tokens") - col("n_distinct")) * 2 > col("n_tokens")))
            .as("gopher_pass"),
          (col("predicted") === col("lang")).as("lang_agree"))
      flagged.groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        Det.dround(sum(col("n_tokens")).cast("double") / count(lit(1)), 2)
          .as("avg_tokens"),
        sum(col("is_dup").cast("long")).as("n_dup_docs"),
        Det.dround(sum(col("is_dup").cast("long")).cast("double")
          / count(lit(1)), 4).as("dup_rate"),
        Det.dround(sum(col("gopher_pass").cast("long")).cast("double")
          / count(lit(1)), 4).as("gopher_pass_rate"),
        Det.dround(sum(col("lang_agree").cast("long")).cast("double")
          / count(lit(1)), 4).as("lang_agree_rate"))
    }),

    // Quality-classifier TRAINING ([[Classifier]]): K full-batch GD
    // steps over hashed presence features with weak quality labels —
    // output is the learned 64-weight model (1e-6 units). The whole
    // loop is fixed-point exact, so the oracle replays every step
    // unrolled ([[Classifier.sqlTrainCtes]]).
    "tx_classifier_train" -> ((s, dir) =>
      Classifier.weightsDF(s, classifierModelFor(s, dir).w)),

    // ...and the APPLY: score every doc under the trained model — one
    // broadcast join of the 64-row weight table + one doc-keyed
    // partial agg; at 100 TB scoring is one pass (the training loop
    // ran once). Emits per-doc probability (units), the weak label,
    // and the verdict — the frame a curation gate filters on.
    "tx_classifier_score" -> ((s, dir) => {
      val feat = Classifier.features(tokenized(s, dir))
      val lab = clfLabels(s, dir)
      val model = classifierModelFor(s, dir)
      val z = Classifier.zOf(feat, model, s)
      val zEmpty = math.floor(model.offset.toDouble / 1000).toLong
      val p = Classifier.pUnits(coalesce(col("z"), lit(zEmpty)))
      lab.join(z, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("y") === Classifier.Units).as("label"),
          p.as("p_units"),
          (p >= lit(Classifier.Units / 2)).as("predicted"))
        .withColumn("correct", col("predicted") === col("label"))
    }),

    // Crawl → curated TEXT, end to end, every layer byte-real: pages
    // spool into per-source WARC response archives (full HTTP/1.1
    // messages whose 200 bodies are synthetic-but-adversarial HTML),
    // the strict record walk + HTTP parse recover them, and
    // [[CrawlText]] extracts main content — script stripping (a
    // unique fake <p> hides in each page's script), entity unescape
    // (the ref paragraph carries a literal '&'), cross-doc paragraph
    // document-frequency boilerplate removal (per-source cookie
    // banners, the global footer), page-order reassembly, and the
    // short-page gate. The oracle replays the invariant straight off
    // `documents`: extracted text == original text + the ref line,
    // for exactly the non-404 docs.
    "tx_crawl_text_e2e" -> ((s, dir) =>
      CrawlText.curatedFingerprintFor(s, dir)),

    // The boilerplate inventory the e2e removal is built on: every
    // paragraph repeated across >= MinDf distinct SAME-LANGUAGE docs,
    // with its per-lang df (the CCNet grouping) — per-source banners
    // in their big language cells and the global footer per language,
    // never genuine text (fixture max same-lang text-df is 2). What a
    // curation owner audits before trusting frequency-based removal.
    "tx_boilerplate_df" -> ((s, dir) =>
      CrawlText.chromeFor(s, dir).select(col("lang"), col("para"), col("df"))),

    // The crawl pipeline run the way production must run it: with NO
    // gold labels past the model. The NB language-ID trains on the
    // labeled documents table (the offline model artifact), predicts
    // a language for every crawled page's pre-chrome text, and the
    // WHOLE per-language curation — chrome document frequency,
    // banner/footer cells, removal — keys on the PREDICTION
    // (CrawlText.predictedCuratedFor; CCNet's ordering, where
    // fastText langid precedes every per-language stage). Output
    // carries both labels so the agreement rate is auditable; the
    // oracle replays training, scoring, argmax, and the pred-keyed
    // df thresholds in one statement.
    "tx_crawl_langid_e2e" -> ((s, dir) =>
      CrawlText.predictedCuratedFor(s, dir)
        .select(col("doc_id"), col("lang").as("pred_lang"),
          length(col("xt")).cast("long").as("n_chars"),
          md5(col("xt")).as("text_md5"))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          (col("lang") === col("pred_lang")).as("agree"),
          col("n_chars"), col("text_md5")))
  )

  /** The tx_gopher_rules evaluation over any (doc_id, toks) frame —
    * shared with the corpus pipeline, which gates the CURATED crawl
    * text by the same five integer-compare rules. `minTokens` is the
    * one configurable bound (the published pipelines tune exactly
    * this knob per corpus; sp_corpus_e2e runs a lower floor sized to
    * its fixture so the post-gate stages stay exercised). */
  private[operators] def gopherFrame(toks: DataFrame,
      minTokens: Long = GopherMinTokens): DataFrame =
    toks
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        isum(transform(col("toks"), t => length(t).cast("long")))
          .as("sum_len"),
        stopCount(col("toks"), stopEn ++ stopEs ++ stopDe).cast("long")
          .as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") < minTokens).as("flag_short"),
        (col("n_tokens") > GopherMaxTokens).as("flag_long"),
        (col("sum_len") < lit(GopherWordLenLo) * col("n_tokens") ||
          col("sum_len") > lit(GopherWordLenHi) * col("n_tokens"))
          .as("flag_word_len"),
        (col("n_stop") < GopherMinStopHits).as("flag_stopword"),
        ((col("n_tokens") - col("n_distinct")) * 2 > col("n_tokens"))
          .as("flag_repetition"))
      .withColumn("n_flags",
        col("flag_short").cast("long") + col("flag_long").cast("long") +
          col("flag_word_len").cast("long") +
          col("flag_stopword").cast("long") +
          col("flag_repetition").cast("long"))
      .withColumn("pass", col("n_flags") === 0)

  /** The trained quality-classifier model for `dir` (the tx_classifier
    * memo) — shared with the corpus pipeline, which scores the
    * CURATED crawl text under the model trained on the reference
    * corpus (train once offline, apply to every crawl wave). */
  private[graft] def classifierModelFor(s: SparkSession,
                                        dir: String): Classifier.Model =
    IndexCache.classifierModel(dir)(Classifier.train(
      Classifier.features(tokenized(s, dir)), clfLabels(s, dir)))

  /** Weak labels for the classifier: y = Units iff the rounded
    * quality score clears [[ClfQualityBar]]. */
  private def clfLabels(s: SparkSession, dir: String): DataFrame =
    qualityFrame(s, dir).select(col("doc_id"),
      when(col("quality") >= ClfQualityBar, Classifier.Units)
        .otherwise(0L).as("y"))

  private def sqlStop(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> list_contains([${words.map(w => s"'$w'").mkString(", ")}], t)))"

  private val nToks = "len(string_split(text, ' '))"
  private val nDistinct = "len(list_distinct(string_split(text, ' ')))"

  /** The NB language-ID TRAINING replay — gram explode, per-(lang,
    * bucket) counts, vocabulary, smoothed log2-quantized weight grid,
    * doc-share prior — shared verbatim by the tx_langid self-scoring
    * oracle and the crawl-pipeline oracle (tx_crawl_langid_e2e),
    * which scores a DIFFERENT text surface against the same model.
    * Every multiply-consumed CTE MATERIALIZED (the round-14 gate-wall
    * discipline). */
  private lazy val sqlNbTrainCtes: String =
    s"""lgrams AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    ${Hashing.sqlH32(s"substr(text, CAST(i AS INTEGER), $LangIdN)")}
       |      % $LangIdBuckets AS g
       |  FROM documents,
       |    UNNEST(generate_series(1, strlen(text) - ${LangIdN - 1},
       |                           $LangIdStride)) AS t(i)),
       |llg AS MATERIALIZED (SELECT lang, g, count(*) AS c
       |       FROM lgrams GROUP BY 1, 2),
       |lv AS MATERIALIZED (SELECT count(DISTINCT g) AS v FROM lgrams),
       |ltot AS MATERIALIZED (SELECT lang, sum(c) AS t
       |        FROM llg GROUP BY 1),
       |lgrid AS MATERIALIZED (
       |  SELECT l.lang, vo.g,
       |    CAST(floor(log2((coalesce(llg.c, 0) + 1.0) / (ltot.t + lv.v))
       |      * 1e4 + 0.5) AS BIGINT) AS w
       |  FROM (SELECT DISTINCT lang FROM documents) l
       |  CROSS JOIN (SELECT DISTINCT g FROM lgrams) vo
       |  CROSS JOIN lv
       |  JOIN ltot ON ltot.lang = l.lang
       |  LEFT JOIN llg ON llg.lang = l.lang AND llg.g = vo.g),
       |lprior AS MATERIALIZED (
       |  SELECT lang, CAST(floor(log2(count(*) * 1.0 /
       |    (SELECT count(*) FROM documents)) * 1e4 + 0.5) AS BIGINT)
       |    AS p
       |  FROM documents GROUP BY 1)""".stripMargin

  override def oracles: Map[String, String] = Map(
    // the same counts as portable regex scans; the grade's two
    // divisions and the constant arithmetic are written identically
    "tx_readability" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
         |      AS BIGINT), 1) AS n_sentences,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |      AS BIGINT) AS raw_syl,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '[bcdfghjklmnpqrstvwxz]e( |${"$"})')) AS BIGINT) AS silent_e
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences,
         |  greatest(raw_syl - silent_e, n_words) AS n_syllables,
         |  ${graft.Det.droundSql(
            "0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) " +
              "+ 11.8 * (CAST(greatest(raw_syl - silent_e, n_words) AS DOUBLE) " +
              "/ CAST(n_words AS DOUBLE)) - 15.59", 4)} AS fk_grade
         |FROM t""".stripMargin,

    "tx_token_stats" ->
      s"""SELECT doc_id,
         |  $nToks AS n_tokens,
         |  $nDistinct AS n_distinct,
         |  ${Det.droundSql(s"CAST($nDistinct AS DOUBLE) / $nToks", 4)} AS diversity,
         |  ${Det.droundSql(
             s"CAST(list_sum(list_transform(string_split(text, ' '), t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / $nToks",
             4)} AS avg_token_len,
         |  len(regexp_extract_all(text, '([a-z]+|[0-9]+|[^a-z0-9 ])', 1)) AS n_bpe_ish,
         |  n_chars
         |FROM documents""".stripMargin,

    "tx_lang_id" ->
      s"""SELECT doc_id, lang AS labeled_lang,
         |  ${sqlStop(stopEn)} AS s_en,
         |  ${sqlStop(stopEs)} AS s_es,
         |  ${sqlStop(stopDe)} AS s_de,
         |  CASE WHEN ${sqlStop(stopEn)} >= ${sqlStop(stopEs)}
         |        AND ${sqlStop(stopEn)} >= ${sqlStop(stopDe)} THEN 'en'
         |       WHEN ${sqlStop(stopEs)} >= ${sqlStop(stopDe)} THEN 'es'
         |       ELSE 'de' END AS predicted
         |FROM documents""".stripMargin,

    // the full NB replay: training counts, smoothed log2-quantized
    // weights, integer scoring, argmax (ties → lang DESC, the
    // max(struct) order) — one unrolled statement, every CTE that
    // feeds two consumers MATERIALIZED
    "tx_langid" ->
      s"""WITH $sqlNbTrainCtes,
         |ldg AS MATERIALIZED (SELECT doc_id, g, count(*) AS c
         |       FROM lgrams GROUP BY 1, 2),
         |lsc AS (SELECT ldg.doc_id, lgrid.lang,
         |          sum(ldg.c * lgrid.w) + any_value(lprior.p) AS s
         |        FROM ldg JOIN lgrid ON ldg.g = lgrid.g
         |        JOIN lprior ON lprior.lang = lgrid.lang
         |        GROUP BY 1, 2),
         |lpred AS (SELECT doc_id, lang AS pred_lang FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY s DESC, lang DESC) AS rn FROM lsc) WHERE rn = 1)
         |SELECT d.doc_id, d.lang, p.pred_lang,
         |  d.lang = p.pred_lang AS correct
         |FROM documents d JOIN lpred p ON d.doc_id = p.doc_id""".stripMargin,

    // the margin surface: same training + scoring CTEs, the top-2
    // window pivot, and the und gate at the long-unit threshold
    "tx_langid_margin" ->
      s"""WITH $sqlNbTrainCtes,
         |ldg AS MATERIALIZED (SELECT doc_id, g, count(*) AS c
         |       FROM lgrams GROUP BY 1, 2),
         |lsc AS (SELECT ldg.doc_id, lgrid.lang,
         |          sum(ldg.c * lgrid.w) + any_value(lprior.p) AS s
         |        FROM ldg JOIN lgrid ON ldg.g = lgrid.g
         |        JOIN lprior ON lprior.lang = lgrid.lang
         |        GROUP BY 1, 2),
         |l2 AS (SELECT doc_id, lang, s, row_number() OVER (
         |         PARTITION BY doc_id ORDER BY s DESC, lang DESC)
         |         AS rn FROM lsc),
         |la AS MATERIALIZED (SELECT doc_id,
         |        max(CASE WHEN rn = 1 THEN s END) AS s1,
         |        max(CASE WHEN rn = 1 THEN lang END) AS c1,
         |        max(CASE WHEN rn = 2 THEN s END) AS s2
         |      FROM l2 WHERE rn <= 2 GROUP BY 1)
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN la.s1 - la.s2 < $LangIdUndMargin THEN 'und'
         |       ELSE la.c1 END AS pred_lang,
         |  CAST(la.s1 - la.s2 AS BIGINT) AS margin
         |FROM documents d JOIN la ON la.doc_id = d.doc_id""".stripMargin,

    "tx_quality" ->
      s"""SELECT doc_id, n_tokens, stop_ratio, diversity, long_ratio,
         |  ${Det.droundSql("0.4 * diversity + 0.3 * stop_ratio + 0.3 * long_ratio", 4)} AS quality
         |FROM (SELECT doc_id,
         |  $nToks AS n_tokens,
         |  ${Det.droundSql(s"CAST(${sqlStop(stopEn)} AS DOUBLE) / $nToks", 4)} AS stop_ratio,
         |  ${Det.droundSql(s"CAST($nDistinct AS DOUBLE) / $nToks", 4)} AS diversity,
         |  ${Det.droundSql(
             s"CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6)) AS DOUBLE) / $nToks",
             4)} AS long_ratio
         |  FROM documents)""".stripMargin,

    "tx_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
         |             len(string_split(text, ' ')) AS n FROM documents),
         |c AS (SELECT doc_id, i AS chunk_id,
         |        ts[(i * $ChunkStride + 1):(i * $ChunkStride + $ChunkWin)] AS chunk
         |      FROM t, UNNEST(generate_series(0,
         |        CASE WHEN n <= $ChunkWin THEN 0
         |             ELSE (n - $ChunkWin + $ChunkStride - 1) // $ChunkStride
         |        END)) AS g(i))
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
         |       chunk[1] AS head
         |FROM c""".stripMargin,

    // same two-stage rounding as tx_quality, then the shard rollup
    "tx_corpus_profile" ->
      s"""WITH q AS (SELECT source, lang, n_chars, n_tokens,
         |    ${Det.droundSql("0.4 * diversity + 0.3 * stop_ratio + 0.3 * long_ratio", 4)} AS quality
         |  FROM (SELECT source, lang, n_chars,
         |    $nToks AS n_tokens,
         |    ${Det.droundSql(s"CAST(${sqlStop(stopEn)} AS DOUBLE) / $nToks", 4)} AS stop_ratio,
         |    ${Det.droundSql(s"CAST($nDistinct AS DOUBLE) / $nToks", 4)} AS diversity,
         |    ${Det.droundSql(
             s"CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6)) AS DOUBLE) / $nToks",
             4)} AS long_ratio
         |    FROM documents))
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  ${Det.droundSql(
             "CAST(sum(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / count(*)", 4)} AS avg_chars,
         |  CAST(sum(CASE WHEN quality >= $QualityBar THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  ${Det.droundSql(
             s"CAST(sum(CASE WHEN quality >= $QualityBar THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)} AS quality_share
         |FROM q GROUP BY source, lang""".stripMargin,

    "tx_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
         |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |st AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct, ts
         |       FROM t),
         |bg AS (SELECT doc_id, n_tokens, n_distinct,
         |         ts[g.i+1] || ' ' || ts[g.i+2] AS bigram
         |       FROM st, UNNEST(range(0, len(ts) - 1)) AS g(i)),
         |cnts AS (SELECT doc_id, n_tokens, n_distinct, bigram,
         |           count(*) AS cnt
         |         FROM bg GROUP BY doc_id, n_tokens, n_distinct, bigram),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                 ORDER BY cnt DESC, bigram ASC) AS rn FROM cnts)
         |SELECT doc_id, n_tokens,
         |  ${Det.droundSql("1.0 - CAST(n_distinct AS DOUBLE) / n_tokens", 4)}
         |    AS rep_token_frac,
         |  bigram AS top_bigram,
         |  ${Det.droundSql("least(CAST(cnt AS DOUBLE) * 2 / n_tokens, 1.0)", 4)}
         |    AS top_bigram_frac
         |FROM rk WHERE rn = 1""".stripMargin,

    "tx_tfidf_terms" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS token FROM t),
         |tf AS (SELECT doc_id, token, count(*) AS tf
         |       FROM tok GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT tf.doc_id, tf.token,
         |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC,
         |               tf.token) AS rank
         |  FROM tf JOIN df USING (token) CROSS JOIN n)
         |SELECT doc_id, rank, token, ${Det.droundSql("score", 6)} AS score
         |FROM scored WHERE rank <= 3""".stripMargin,

    "tx_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |tok AS (SELECT DISTINCT doc_id, unnest(ts) AS token FROM t),
         |df AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
         |rk AS (SELECT token, doc_id,
         |         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
         |       FROM tok),
         |pl AS (SELECT token,
         |         string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS postings
         |       FROM rk WHERE rn <= $PostingCap GROUP BY token)
         |SELECT df.token, df.df, pl.postings
         |FROM df JOIN pl USING (token)""".stripMargin,

    "tx_bpe_merge_step" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |ww AS (SELECT w FROM w WHERE length(w) >= 2),
        |p AS (SELECT substr(w, i, 2) AS pair
        |      FROM ww, UNNEST(generate_series(1, length(w) - 1)) AS g(i))
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "tx_bpe_apply_merge" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |ww AS (SELECT w FROM w WHERE length(w) >= 2),
        |p0 AS (SELECT substr(w, i, 2) AS pair, count(*) AS n
        |       FROM ww, UNNEST(generate_series(1, length(w) - 1)) AS g(i)
        |       GROUP BY pair),
        |top1 AS (SELECT pair FROM p0 ORDER BY n DESC, pair LIMIT 1),
        |w2 AS (SELECT replace(w, (SELECT pair FROM top1), chr(1)) AS w
        |       FROM ww),
        |ww2 AS (SELECT w FROM w2 WHERE length(w) >= 2),
        |p AS (SELECT substr(w, i, 2) AS pair
        |      FROM ww2, UNNEST(generate_series(1, length(w) - 1)) AS g(i))
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    // the training loop unrolled: init vocab from substring counts,
    // then EmIters segment-and-reselect rounds (Wordpiece.sqlVocab)
    "tx_wordpiece_vocab" -> Wordpiece.sqlVocab(),

    "tx_wordpiece_segment" ->
      s"""WITH ${Wordpiece.sqlTrainCtes()},
         |${Wordpiece.sqlSegmentCtes("f", s"v${Wordpiece.EmIters}")}
         |SELECT w, cnt, CAST(np AS BIGINT) AS n_pieces, seg
         |FROM f${Wordpiece.MaxWordLen}""".stripMargin,

    "tx_wordpiece_encode" ->
      s"""WITH ${Wordpiece.sqlTrainCtes()},
         |${Wordpiece.sqlSegmentCtes("f", s"v${Wordpiece.EmIters}")},
         |wn AS (SELECT w, np FROM f${Wordpiece.MaxWordLen}),
         |d AS (SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents) WHERE length(w) >= 1)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
         |  CAST(sum(np) AS BIGINT) AS n_pieces,
         |  ${graft.Det.droundSql(
              "CAST(sum(np) AS DOUBLE) / CAST(sum(length(d.w)) AS DOUBLE)",
              4)} AS compression
         |FROM d JOIN wn ON d.w = wn.w
         |GROUP BY doc_id""".stripMargin,

    // all three training unrolls side by side (CTE namespaces are
    // disjoint by construction: w0/t*/x* BPE, wc/cand/e*/v*
    // WordPiece, uwc/ucand/r*/uv* unigram), then one rollup each at
    // distinct-word grain
    "tx_bpe_roundtrip" ->
      s"""WITH w0 AS MATERIALIZED (SELECT w FROM (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2),
         |${Bpe.sqlTrainCtesForEncode()},
         |wd AS (SELECT DISTINCT w FROM (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
         |rt AS (SELECT w,
         |    ${Bpe.sqlDecodeExpr(Bpe.sqlEncodeExpr("w"))} AS rt
         |  FROM wd)
         |SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(CASE WHEN rt <> w THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mismatch,
         |  sum(CASE WHEN rt <> w THEN 1 ELSE 0 END) = 0 AS roundtrip_ok
         |FROM rt""".stripMargin,

    "tx_fertility_by_lang" ->
      s"""WITH w0 AS MATERIALIZED (SELECT w FROM (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2),
         |${Bpe.sqlTrainCtesForEncode()},
         |lwc AS (SELECT lang, w, count(*) AS cnt FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS w
         |    FROM documents) GROUP BY 1, 2),
         |le AS (SELECT lang, w, cnt,
         |    CAST(length(${Bpe.sqlEncodeExpr("w")}) AS BIGINT) AS n_units
         |  FROM lwc)
         |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
         |  CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(cnt * n_units) AS BIGINT) AS n_units,
         |  ${graft.Det.droundSql(
             "CAST(sum(cnt * n_units) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)",
             4)} AS fertility,
         |  ${graft.Det.droundSql(
             "CAST(sum(cnt * length(w)) AS DOUBLE) / " +
             "CAST(sum(cnt * n_units) AS DOUBLE)", 4)} AS chars_per_unit
         |FROM le GROUP BY lang""".stripMargin,

    "tx_tokenizer_compare" ->
      s"""WITH w0 AS MATERIALIZED (SELECT w FROM (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2),
         |${Bpe.sqlTrainCtesForEncode()},
         |${Wordpiece.sqlTrainCtes()},
         |${Wordpiece.sqlSegmentCtes("f", s"v${Wordpiece.EmIters}")},
         |${Unigram.sqlTrainCtes()},
         |${Unigram.sqlViterbiCtes("f_", s"us${Unigram.PruneIters}")},
         |bbw AS (SELECT doc_id,
         |    CASE WHEN i = 1 THEN ts[CAST(i AS INTEGER)]
         |         ELSE chr(288) || ts[CAST(i AS INTEGER)] END AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
         |        FROM documents),
         |       UNNEST(generate_series(1, len(ts))) AS g(i)),
         |bw0 AS MATERIALIZED (SELECT w FROM bbw WHERE length(w) >= 2),
         |bwc AS (SELECT w, count(*)::BIGINT AS cnt FROM bbw GROUP BY w),
         |${Bpe.sqlTrainCtesForEncode(pfx = "b")},
         |r AS (
         |  SELECT 'bpe' AS family,
         |    CAST(sum(cnt * length(w)) AS BIGINT) AS chars,
         |    CAST(sum(cnt * length(${Bpe.sqlEncodeExpr("w")})) AS BIGINT)
         |      AS units
         |  FROM wc
         |  UNION ALL
         |  SELECT 'wordpiece', CAST(sum(cnt * length(w)) AS BIGINT),
         |    CAST(sum(cnt * np) AS BIGINT)
         |  FROM f${Wordpiece.MaxWordLen}
         |  UNION ALL
         |  SELECT 'unigram', CAST(sum(cnt * length(w)) AS BIGINT),
         |    CAST(sum(cnt * np) AS BIGINT)
         |  FROM f_seg
         |  UNION ALL
         |  SELECT 'bpe_bytes', CAST(sum(cnt * length(w)) AS BIGINT),
         |    CAST(sum(cnt * length(${Bpe.sqlEncodeExpr("w", pfx = "b")}))
         |      AS BIGINT)
         |  FROM bwc)
         |SELECT family, chars, units,
         |  ${graft.Det.droundSql(
              "CAST(units AS DOUBLE) / CAST(chars AS DOUBLE)", 4)}
         |    AS compression
         |FROM r""".stripMargin,

    // prune-down training unrolled: seed scores from substring
    // counts, then PruneIters Viterbi-and-prune rounds (Unigram.*)
    "tx_unigram_vocab" -> Unigram.sqlVocab(),

    "tx_unigram_segment" ->
      s"""WITH ${Unigram.sqlTrainCtes()},
         |${Unigram.sqlViterbiCtes("f_", s"us${Unigram.PruneIters}")}
         |SELECT w, cnt, CAST(np AS BIGINT) AS n_pieces, seg
         |FROM f_seg""".stripMargin,

    "tx_unigram_encode" ->
      s"""WITH ${Unigram.sqlTrainCtes()},
         |${Unigram.sqlViterbiCtes("f_", s"us${Unigram.PruneIters}")},
         |uwn AS (SELECT w, np FROM f_seg),
         |ud AS (SELECT doc_id, w FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents) WHERE length(w) >= 1)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(length(ud.w)) AS BIGINT) AS n_chars,
         |  CAST(sum(np) AS BIGINT) AS n_pieces,
         |  ${graft.Det.droundSql(
              "CAST(sum(np) AS DOUBLE) / CAST(sum(length(ud.w)) AS DOUBLE)",
              4)} AS compression
         |FROM ud JOIN uwn ON ud.w = uwn.w
         |GROUP BY doc_id""".stripMargin,

    "tx_bpe_vocab" ->
      s"""WITH w0 AS MATERIALIZED (SELECT w FROM (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2),
         |${Bpe.sqlVocab()}""".stripMargin,

    "tx_bpe_encode" ->
      s"""WITH w0 AS MATERIALIZED (SELECT w FROM (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2),
         |${Bpe.sqlTrainCtesForEncode()},
         |d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |      FROM documents),
         |e AS (SELECT doc_id, length(w) AS before,
         |        length(${Bpe.sqlEncodeExpr("w")}) AS after
         |      FROM d)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(before) AS BIGINT) AS n_chars,
         |  CAST(sum(after) AS BIGINT) AS n_symbols,
         |  CASE WHEN sum(before) > 0 THEN ${graft.Det.droundSql(
              "CAST(sum(after) AS DOUBLE) / CAST(sum(before) AS DOUBLE)", 4)}
         |  END AS compression
         |FROM e GROUP BY doc_id""".stripMargin,

    // byte-level replay: the corpus is ASCII, where ByteRemap is
    // identity on word bytes and the attached space is chr(288) 'Ġ'
    // (the non-ASCII byte-fallback path is pinned in ByteRemapSpec);
    // training/encode CTEs are the same Bpe machinery over the
    // pretoken feed
    "tx_bpe_bytes_vocab" ->
      s"""WITH bw AS (SELECT doc_id,
         |    CASE WHEN i = 1 THEN ts[CAST(i AS INTEGER)]
         |         ELSE chr(288) || ts[CAST(i AS INTEGER)] END AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
         |        FROM documents),
         |       UNNEST(generate_series(1, len(ts))) AS g(i)),
         |w0 AS MATERIALIZED (SELECT w FROM bw WHERE length(w) >= 2),
         |${Bpe.sqlVocab()}""".stripMargin,

    "tx_bpe_bytes_encode" ->
      s"""WITH bw AS (SELECT doc_id,
         |    CASE WHEN i = 1 THEN ts[CAST(i AS INTEGER)]
         |         ELSE chr(288) || ts[CAST(i AS INTEGER)] END AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
         |        FROM documents),
         |       UNNEST(generate_series(1, len(ts))) AS g(i)),
         |w0 AS MATERIALIZED (SELECT w FROM bw WHERE length(w) >= 2),
         |${Bpe.sqlTrainCtesForEncode()},
         |e AS (SELECT doc_id, length(w) AS before,
         |        length(${Bpe.sqlEncodeExpr("w")}) AS after
         |      FROM bw)
         |SELECT doc_id, count(*) AS n_pretoks,
         |  CAST(sum(before) AS BIGINT) AS n_bytes,
         |  CAST(sum(after) AS BIGINT) AS n_symbols,
         |  CASE WHEN sum(before) > 0 THEN ${graft.Det.droundSql(
              "CAST(sum(after) AS DOUBLE) / CAST(sum(before) AS DOUBLE)", 4)}
         |  END AS compression
         |FROM e GROUP BY doc_id""".stripMargin,

    "tx_pii_scan" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(body,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(body,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  len(regexp_extract_all(body,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |    OR len(regexp_extract_all(body,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) > 0 AS has_pii
        |FROM (SELECT doc_id, text
        |  || CASE WHEN doc_id % 5 = 0
        |          THEN ' user' || doc_id || '@example.com' ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0
        |          THEN ' 10.' || (doc_id % 256) || '.0.1' ELSE '' END AS body
        |  FROM documents)""".stripMargin,

    "tx_top_ngrams" ->
      """WITH t AS (SELECT string_split(text, ' ') AS ts
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |ng AS (SELECT ts[j+1] || ' ' || ts[j+2] AS ng
        |       FROM t, UNNEST(generate_series(0, len(ts) - 2)) AS g(j))
        |SELECT ng, count(*) AS cnt FROM ng
        |GROUP BY ng ORDER BY cnt DESC, ng LIMIT 50""".stripMargin,

    "tx_lm_familiarity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, ts[j+1] || ' ' || ts[j+2] AS ng
        |       FROM t, UNNEST(generate_series(0, len(ts) - 2)) AS g(j)),
        |freq AS (SELECT ng, count(*) AS cf FROM bg GROUP BY ng)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor((CAST(sum(cf) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4
        |    AS familiarity
        |FROM bg JOIN freq USING (ng)
        |GROUP BY doc_id""".stripMargin,

    // per-bigram-type log-probs quantized to 1e-4 LONG units, per-doc
    // exact long sums, then the one rounded division (and ppl from
    // the ROUNDED entropy) — the cross-engine float discipline
    "tx_lm_perplexity" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
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
         |       CROSS JOIN vv)
         |SELECT doc_id, n_bigrams, ce AS cross_entropy,
         |  ${Det.droundSql("power(2.0, ce)", 4)} AS ppl
         |FROM (SELECT doc_id, count(*) AS n_bigrams,
         |        ${Det.droundSql(
                  "-(CAST(sum(lpu) AS DOUBLE)) / (count(*) * 1e4)", 4)} AS ce
         |      FROM bg JOIN lp USING (ng)
         |      GROUP BY doc_id)""".stripMargin,

    // KN continuation counts are groupBys over the bigram-TYPE table
    // (cb); float-op order in lp matches the Spark side token for
    // token so the quantized units agree bit-exactly
    "tx_lm_kn_ppl" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
         |           FROM documents),
         |bg AS (SELECT doc_id, ts[j+1] || ' ' || ts[j+2] AS ng,
         |              ts[j+1] AS a
         |       FROM t, UNNEST(generate_series(0, len(ts) - 2)) AS g(j)),
         |cb AS (SELECT ng, count(*) AS cab,
         |              string_split(ng, ' ')[1] AS a,
         |              string_split(ng, ' ')[2] AS w
         |       FROM bg GROUP BY ng),
         |caa AS (SELECT a, count(*) AS ca FROM bg GROUP BY a),
         |f1 AS (SELECT a, count(*) AS n1fa FROM cb GROUP BY a),
         |p1 AS (SELECT w, count(*) AS n1pw FROM cb GROUP BY w),
         |nb AS (SELECT count(*) AS nbt FROM cb),
         |lp AS (SELECT cb.ng, CAST(floor(log2(
         |         (greatest(cab - 0.75, 0.0)
         |          + (0.75 * n1fa) * (CAST(n1pw AS DOUBLE) / nbt)) / ca)
         |         * 1e4 + 0.5) AS BIGINT) AS lpu
         |       FROM cb JOIN caa USING (a) JOIN f1 USING (a)
         |       JOIN p1 USING (w) CROSS JOIN nb)
         |SELECT doc_id, n_bigrams, ce AS cross_entropy,
         |  ${Det.droundSql("power(2.0, ce)", 4)} AS ppl
         |FROM (SELECT doc_id, count(*) AS n_bigrams,
         |        ${Det.droundSql(
                  "-(CAST(sum(lpu) AS DOUBLE)) / (count(*) * 1e4)", 4)} AS ce
         |      FROM bg JOIN lp USING (ng)
         |      GROUP BY doc_id)""".stripMargin,

    "tx_length_band" ->
      s"""WITH th AS (SELECT
         |    ${Det.droundSql("quantile_cont(n_chars, 0.05)", 4)} AS lo,
         |    ${Det.droundSql("quantile_cont(n_chars, 0.95)", 4)} AS hi
         |  FROM documents)
         |SELECT doc_id, n_chars FROM documents, th
         |WHERE n_chars >= lo AND n_chars <= hi""".stripMargin,

    "tx_fingerprint" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
        |mn AS (SELECT doc_id,
        |         min(('0x' || substr(md5(ts[j+1] || ' ' || ts[j+2] || ' ' || ts[j+3]), 1, 8))::BIGINT) AS fp_min_shingle
        |       FROM t, UNNEST(generate_series(0, len(ts) - 3)) AS g(j)
        |       GROUP BY doc_id)
        |SELECT t.doc_id,
        |       ('0x' || substr(md5(t.text), 1, 8))::BIGINT AS fp_text,
        |       mn.fp_min_shingle
        |FROM t JOIN mn ON t.doc_id = mn.doc_id""".stripMargin,

    "tx_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST($nToks AS BIGINT) AS n_tokens,
         |    CAST($nDistinct AS BIGINT) AS n_distinct,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS sum_len,
         |    CAST(${sqlStop(stopEn ++ stopEs ++ stopDe)} AS BIGINT) AS n_stop
         |  FROM documents),
         |f AS (SELECT doc_id, n_tokens,
         |    n_tokens < $GopherMinTokens AS flag_short,
         |    n_tokens > $GopherMaxTokens AS flag_long,
         |    (sum_len < $GopherWordLenLo * n_tokens OR
         |     sum_len > $GopherWordLenHi * n_tokens) AS flag_word_len,
         |    n_stop < $GopherMinStopHits AS flag_stopword,
         |    (n_tokens - n_distinct) * 2 > n_tokens AS flag_repetition
         |  FROM t)
         |SELECT *,
         |  CAST(flag_short AS BIGINT) + CAST(flag_long AS BIGINT) +
         |    CAST(flag_word_len AS BIGINT) + CAST(flag_stopword AS BIGINT) +
         |    CAST(flag_repetition AS BIGINT) AS n_flags,
         |  NOT (flag_short OR flag_long OR flag_word_len OR flag_stopword
         |       OR flag_repetition) AS pass
         |FROM f""".stripMargin,

    "tx_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |st AS (SELECT count(*) AS n, CAST(sum(len(ts)) AS BIGINT) AS t FROM t),
         |hit AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
         |          unnest(ts) AS token FROM t),
         |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM hit
         |       WHERE token IN (${Bm25Terms.map(w => s"'$w'").mkString(", ")})
         |       GROUP BY 1, 2, 3),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |term AS (SELECT tf.doc_id,
         |    CAST(2 * st.n - 2 * df.df + 1 AS DOUBLE) *
         |      CAST(22 * tf.tf * st.t AS DOUBLE) /
         |      (CAST(2 * df.df + 1 AS DOUBLE) *
         |       CAST(10 * tf.tf * st.t + 3 * st.t + 9 * tf.dl * st.n AS DOUBLE))
         |      AS ts
         |  FROM tf JOIN df USING (token) CROSS JOIN st),
         |sc AS (SELECT doc_id,
         |    CAST(sum(CAST(floor(ts * 1e8 + 0.5) AS BIGINT)) AS BIGINT) / 1e8
         |      AS score,
         |    count(*) AS n_terms FROM term GROUP BY 1)
         |SELECT doc_id, n_terms, score
         |FROM sc ORDER BY score DESC, doc_id LIMIT $Bm25K""".stripMargin,

    "tx_dataset_card" ->
      s"""WITH pd AS (SELECT source, lang, md5(text) AS h,
         |    CAST($nToks AS BIGINT) AS n_tokens,
         |    CAST($nDistinct AS BIGINT) AS n_distinct,
         |    CAST(list_sum(list_transform(string_split(text, ' '),
         |      x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS sum_len,
         |    CAST(${sqlStop(stopEn ++ stopEs ++ stopDe)} AS BIGINT) AS n_stop,
         |    CASE WHEN ${sqlStop(stopEn)} >= ${sqlStop(stopEs)}
         |          AND ${sqlStop(stopEn)} >= ${sqlStop(stopDe)} THEN 'en'
         |         WHEN ${sqlStop(stopEs)} >= ${sqlStop(stopDe)} THEN 'es'
         |         ELSE 'de' END AS predicted
         |  FROM documents),
         |dc AS (SELECT h, count(*) AS n_copies FROM pd GROUP BY h),
         |f AS (SELECT source, lang, n_tokens,
         |        n_copies > 1 AS is_dup,
         |        (NOT (n_tokens < $GopherMinTokens)
         |         AND NOT (n_tokens > $GopherMaxTokens)
         |         AND NOT (sum_len < $GopherWordLenLo * n_tokens OR
         |                  sum_len > $GopherWordLenHi * n_tokens)
         |         AND NOT (n_stop < $GopherMinStopHits)
         |         AND NOT ((n_tokens - n_distinct) * 2 > n_tokens))
         |          AS gopher_pass,
         |        predicted = lang AS lang_agree
         |      FROM pd JOIN dc USING (h))
         |SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  ${Det.droundSql("CAST(sum(n_tokens) AS DOUBLE) / count(*)", 2)}
         |    AS avg_tokens,
         |  CAST(sum(CAST(is_dup AS BIGINT)) AS BIGINT) AS n_dup_docs,
         |  ${Det.droundSql(
            "CAST(sum(CAST(is_dup AS BIGINT)) AS DOUBLE) / count(*)", 4)}
         |    AS dup_rate,
         |  ${Det.droundSql(
            "CAST(sum(CAST(gopher_pass AS BIGINT)) AS DOUBLE) / count(*)", 4)}
         |    AS gopher_pass_rate,
         |  ${Det.droundSql(
            "CAST(sum(CAST(lang_agree AS BIGINT)) AS DOUBLE) / count(*)", 4)}
         |    AS lang_agree_rate
         |FROM f GROUP BY source, lang""".stripMargin,

    "tx_classifier_train" ->
      s"""WITH $clfCtes
         |SELECT j, w FROM w${Classifier.Iters}""".stripMargin,

    "tx_classifier_score" ->
      s"""WITH $clfCtes,
         |bf AS (SELECT (SELECT w FROM w${Classifier.Iters}
         |               WHERE j = ${Classifier.Dim}) * 1000
         |  - coalesce((SELECT CAST(sum(w.w * fm.m) AS BIGINT)
         |              FROM w${Classifier.Iters} w
         |              JOIN fm ON w.j = fm.j), 0) AS b),
         |z AS (SELECT l.doc_id, l.y,
         |        ${Classifier.sqlZ(
                 "coalesce(CAST(sum(w.w * f.x) AS BIGINT), 0) + (SELECT b FROM bf)")} AS z
         |      FROM lab l LEFT JOIN feat f ON l.doc_id = f.doc_id
         |                 LEFT JOIN w${Classifier.Iters} w ON f.j = w.j
         |      GROUP BY l.doc_id, l.y)
         |SELECT doc_id, y = ${Classifier.Units} AS label,
         |  ${Classifier.sqlPUnits("z")} AS p_units,
         |  ${Classifier.sqlPUnits("z")} >= ${Classifier.Units / 2}
         |    AS predicted,
         |  (${Classifier.sqlPUnits("z")} >= ${Classifier.Units / 2})
         |    = (y = ${Classifier.Units}) AS correct
         |FROM z""".stripMargin,

    // the writer's facts replayed under the per-language df rule
    // (CrawlText.sqlCuratedSrc): script trap always stripped, banner
    // removed iff its (source, lang) cell clears MinDf, text dropped
    // iff same-lang-repeated >= MinDf (dead at current fixture
    // geometry, stated so the rule is the oracle's), ref always
    // kept, footer removed iff the lang slice clears MinDf; then the
    // word gate
    "tx_crawl_text_e2e" ->
      s"""SELECT doc_id, lang, CAST(strlen(xt) AS BIGINT) AS n_chars,
         |  md5(xt) AS text_md5
         |FROM ${CrawlText.sqlCuratedSrc} c""".stripMargin,

    // chrome per LANGUAGE: banner df within a lang = its (source,
    // lang) doc count, footer df = the lang's doc count; genuine
    // text and ref paragraphs stay under MinDf by fixture geometry
    "tx_boilerplate_df" ->
      s"""WITH nf AS (SELECT doc_id, lang, source, text FROM documents
         |            WHERE doc_id % 13 <> 0),
         |p AS (
         |  SELECT doc_id, lang, 'Welcome to ' || source ||
         |         ' cookie notice applies' AS para FROM nf
         |  UNION ALL SELECT doc_id, lang, text FROM nf
         |  UNION ALL SELECT doc_id, lang,
         |    'ref &' || CAST(doc_id AS VARCHAR) FROM nf
         |  UNION ALL SELECT doc_id, lang,
         |    '(c) example.org all rights reserved' FROM nf)
         |SELECT lang, para, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM p GROUP BY lang, para
         |HAVING count(DISTINCT doc_id) >= ${CrawlText.MinDf}""".stripMargin,

    // the production-ordered crawl pipeline, one statement: NB
    // training off the labeled table (the shared CTEs), scoring over
    // each page's GLOBALLY-destriped text (the language-free df
    // pre-pass: banner out iff its source cell clears MinDf across
    // all languages, body out iff the same text repeats >= MinDf
    // globally, footer out iff the corpus does — ref always scored),
    // argmax with the lang-DESC tie-break, then the
    // per-PREDICTED-language df thresholds — banner df = the
    // (source, pred) cell, text df = the (pred, text) pair, footer
    // df = the pred slice — and the word gate
    "tx_crawl_langid_e2e" ->
      s"""WITH $sqlPredCuratedCtes
         |SELECT doc_id, lang, plang AS pred_lang,
         |  lang = plang AS agree,
         |  CAST(strlen(xt) AS BIGINT) AS n_chars, md5(xt) AS text_md5
         |FROM xp
         |WHERE len(regexp_split_to_array(xt, '\\s+'))
         |  >= ${CrawlText.MinWords}""".stripMargin,
  )

  /** The predicted-language curated corpus replay, through `xp`
    * (doc_id, lang [gold], plang [predicted], xt [curated text]) —
    * NB training (shared CTEs), global-df destriped scoring text,
    * argmax, and the pred-keyed chrome thresholds. Shared by
    * tx_crawl_langid_e2e and the pred-keyed mixing oracle
    * (sp_predlang_mix). Apply the MinWords gate at the consumer. */
  lazy val sqlPredCuratedCtes: String =
    s"""$sqlNbTrainCtes,
       |pnf AS MATERIALIZED (SELECT doc_id, lang, source, text
       |  FROM documents WHERE doc_id % 13 <> 0),
         |gsrc AS MATERIALIZED (SELECT source, count(*) AS n
         |  FROM pnf GROUP BY 1),
         |gtxt AS MATERIALIZED (SELECT text, count(*) AS n
         |  FROM pnf GROUP BY 1),
         |ptx AS MATERIALIZED (
         |  SELECT f.doc_id, f.lang, f.source, f.text,
         |    concat(
         |      CASE WHEN gsrc.n >= ${CrawlText.MinDf} THEN ''
         |           ELSE 'Welcome to ' || f.source ||
         |                ' cookie notice applies' || chr(10) END,
         |      CASE WHEN gtxt.n >= ${CrawlText.MinDf} THEN ''
         |           ELSE f.text || chr(10) END,
         |      'ref &' || CAST(f.doc_id AS VARCHAR),
         |      CASE WHEN (SELECT count(*) FROM pnf)
         |             >= ${CrawlText.MinDf} THEN ''
         |           ELSE chr(10) ||
         |                '(c) example.org all rights reserved' END)
         |      AS ptext
         |  FROM pnf f
         |  JOIN gsrc ON f.source = gsrc.source
         |  JOIN gtxt ON f.text = gtxt.text),
         |pdg AS MATERIALIZED (
         |  SELECT doc_id,
         |    ${Hashing.sqlH32(s"substr(ptext, CAST(i AS INTEGER), $LangIdN)")}
         |      % $LangIdBuckets AS g, count(*) AS c
         |  FROM ptx,
         |    UNNEST(generate_series(1, strlen(ptext) - ${LangIdN - 1},
         |                           $LangIdStride)) AS t(i)
         |  GROUP BY 1, 2),
         |psc AS (SELECT pdg.doc_id, lgrid.lang,
         |          sum(pdg.c * lgrid.w) + any_value(lprior.p) AS s
         |        FROM pdg JOIN lgrid ON pdg.g = lgrid.g
         |        JOIN lprior ON lprior.lang = lgrid.lang
         |        GROUP BY 1, 2),
         |pd AS MATERIALIZED (
         |  SELECT x.doc_id, x.lang, x.source, x.text, pp.plang FROM ptx x
         |  JOIN (SELECT doc_id, lang AS plang FROM (
         |          SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY s DESC, lang DESC) AS rn FROM psc)
         |        WHERE rn = 1) pp ON pp.doc_id = x.doc_id),
         |cellp AS MATERIALIZED (SELECT source, plang, count(*) AS n
         |         FROM pd GROUP BY 1, 2),
         |langp AS MATERIALIZED (SELECT plang, count(*) AS n
         |         FROM pd GROUP BY 1),
         |dp AS (SELECT pd.*, count(*) OVER (PARTITION BY plang, text)
         |         AS dft FROM pd),
         |xp AS (SELECT dp.doc_id, dp.lang, dp.plang,
         |         concat(
         |           CASE WHEN cellp.n >= ${CrawlText.MinDf} THEN ''
         |                ELSE 'Welcome to ' || dp.source ||
         |                     ' cookie notice applies' || chr(10) END,
         |           CASE WHEN dp.dft >= ${CrawlText.MinDf} THEN ''
         |                ELSE dp.text || chr(10) END,
         |           'ref &' || CAST(dp.doc_id AS VARCHAR),
         |           CASE WHEN langp.n >= ${CrawlText.MinDf} THEN ''
         |                ELSE chr(10) ||
         |                     '(c) example.org all rights reserved' END)
         |           AS xt
         |       FROM dp
         |       JOIN cellp ON dp.source = cellp.source
         |         AND dp.plang = cellp.plang
         |       JOIN langp ON dp.plang = langp.plang)""".stripMargin

  /** Shared classifier-oracle prologue: features, weak labels (the
    * same two-stage-rounded quality cut as tx_quality), and the
    * unrolled training loop. Shared with the corpus-pipeline oracle
    * (sp_corpus_e2e scores the curated corpus under w{Iters}). */
  private[operators] lazy val clfCtes: String =
    s"""feat AS (SELECT doc_id, j,
       |    CAST(floor(CAST(count(*) AS DOUBLE) * 1000 / any_value(n))
       |      AS BIGINT) AS x
       |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n,
       |          ${Hashing.sqlH32("t")} % ${Classifier.Dim} AS j
       |        FROM (SELECT doc_id, text,
       |                unnest(string_split(text, ' ')) AS t
       |              FROM documents))
       |  GROUP BY doc_id, j),
       |lab AS (SELECT doc_id,
       |    CASE WHEN q >= $ClfQualityBar THEN ${Classifier.Units}
       |         ELSE 0 END AS y
       |  FROM (SELECT doc_id, ${Det.droundSql(
              "0.4 * diversity + 0.3 * stop_ratio + 0.3 * long_ratio", 4)} AS q
       |    FROM (SELECT doc_id,
       |      ${Det.droundSql(s"CAST(${sqlStop(stopEn)} AS DOUBLE) / $nToks", 4)} AS stop_ratio,
       |      ${Det.droundSql(s"CAST($nDistinct AS DOUBLE) / $nToks", 4)} AS diversity,
       |      ${Det.droundSql(
              s"CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6)) AS DOUBLE) / $nToks",
              4)} AS long_ratio
       |      FROM documents))),
       |${Classifier.sqlTrainCtes()}""".stripMargin
}
