package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full BPE vocabulary training (Sennrich et al. 2016) — the
  * tokenizer-training job an LLM-data user runs over a corpus, as a
  * distributed fixed-point loop composed from the proven single merge
  * step (tx_bpe_merge_step / tx_bpe_apply_merge).
  *
  * Representation: a word is a STRING whose every character is one
  * symbol. Iteration k fuses the corpus-wide most-frequent adjacent
  * symbol pair into a fresh single-character symbol from the Unicode
  * private-use area (U+E000+k) — the "growing symbol alphabet" — so
  * the whole loop stays in codegen'd string ops: pairs are
  * `substr(i, 2)`, the merge is ONE left-to-right non-overlapping
  * `replace`, and no array-of-symbols representation (with its
  * interpreted higher-order folds) ever materializes. The driver
  * holds only the alphabet map (K entries: symbol char → expanded
  * token), never corpus data; each iteration's learned pair rides
  * into the next re-segmentation scan as a plan literal.
  *
  * Scale shape per iteration: one scan of the CACHED symbol corpus →
  * position explode + substr (scan-stage, no shuffle) → pair groupBy
  * with map-side partial counts (pair cardinality ≪ corpus: at most
  * |alphabet|², tiny) → TakeOrderedAndProject top-1 (bounded heaps,
  * not a sort) → a 1-row collect. Re-segmentation is scan-stage; the
  * new corpus is cached and the predecessor unpersisted as soon as
  * the successor is materialized, so at most two corpus snapshots are
  * live. K iterations = K such passes, each cost-flat (the corpus
  * only shrinks as merges fuse symbols) — measured in `Dev stress`
  * (`bpe_vocab` probe). The loop runs on a [[LoopWidth]]-sized
  * session like PageRank: ~3 stages per round at full session width
  * over a small cached frame would be pure task-scheduling overhead.
  *
  * Determinism: counts are exact longs and the tiebreak (n DESC,
  * pair ASC — binary collation in both engines) totally orders
  * candidates, so the learned table is partition-count invariant and
  * hash-replayable by the unrolled SQL oracle ([[sqlVocab]]).
  *
  * Contract: input symbols must stay below U+E000 (the corpus here is
  * ASCII; a production caller with exotic text picks a truly unused
  * base). The reference has no tokenizer training — this serves the
  * training-data side of the engine.
  */
object Bpe {

  /** Merges learned by tx_bpe_vocab ("K≈8"). */
  val Iters = 8

  /** First learned-symbol codepoint (Unicode private-use area). */
  val SentinelBase = 0xE000

  /** Adjacent-pair counts of a symbol corpus `w` — the shared
    * pair-count core (explode positions → substr → map-side-combined
    * groupBy). */
  private def pairCounts(corpus: DataFrame): DataFrame =
    corpus
      .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))

  /** One learned merge in SYMBOL space: the 2-char pair fused, the
    * fresh symbol char it became, the fully-expanded token, and the
    * pair count at learning time. */
  final case class Merge(rank: Int, pair: String, sym: Char,
                         token: String, n: Long)

  /** The training loop proper: `iters` merges over `words` (column
    * `w`: one symbol per character), returned in SYMBOL space so
    * [[encode]] can replay them. All iterative work happens here
    * (each round's top-1 collect is the action). */
  def trainMerges(words: DataFrame, iters: Int = Iters): Seq[Merge] = {
    import org.apache.spark.storage.StorageLevel
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val spark = words.sparkSession
      val base = words.select(col("w")).filter(length(col("w")) >= 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      frames += base
      val nWords = base.count()
      val p = LoopWidth.partitionsFor(nWords, spark)
      LoopWidth.onSizedSession(base, p) { corpus0 =>
        var corpus = corpus0
        var prev: Option[DataFrame] = None
        // symbol char → fully-expanded token (base characters only)
        val alphabet = scala.collection.mutable.Map.empty[Char, String]
        val learned = scala.collection.mutable.ArrayBuffer.empty[Merge]
        var k = 0
        var exhausted = false
        while (k < iters && !exhausted) {
          val top = pairCounts(corpus)
            .orderBy(col("n").desc, col("pair")).limit(1).collect()
          // this action materialized `corpus`'s cache — the previous
          // snapshot is no longer needed by anything downstream
          prev.foreach(_.unpersist(blocking = false))
          prev = None
          if (top.isEmpty) exhausted = true // corpus merged to single symbols
          else {
            val pair = top(0).getString(0)
            val n = top(0).getLong(1)
            val sym = (SentinelBase + k).toChar
            // expansion closes over prior merges: alphabet values are
            // already fully expanded, so one char-wise pass is exact
            val token = pair.map(c => alphabet.getOrElse(c, c.toString)).mkString
            alphabet(sym) = token
            learned += Merge(k, pair, sym, token, n)
            if (k < iters - 1) { // the last merge needs no re-segment
              val next = corpus
                .select(replace(col("w"), lit(pair), lit(sym.toString)).as("w"))
                .filter(length(col("w")) >= 2)
                .persist(StorageLevel.MEMORY_AND_DISK)
              frames += next
              prev = Some(corpus)
              corpus = next
            }
            k += 1
          }
        }
        learned.toSeq
      }
    } finally frames.foreach(_.unpersist(blocking = false))
  }

  /** A learned merge table as a frame — (rank, token, n) with tokens
    * EXPANDED to base characters; K local rows (the distributed work
    * ran in [[trainMerges]]). */
  def vocabFrame(spark: org.apache.spark.sql.SparkSession,
                 merges: Seq[Merge]): DataFrame =
    spark.createDataFrame(merges.map(m => (m.rank.toLong, m.token, m.n)))
      .toDF("rank", "token", "n")

  def trainVocab(words: DataFrame, iters: Int = Iters): DataFrame =
    vocabFrame(words.sparkSession, trainMerges(words, iters))

  /** Apply a learned merge table to a symbol column: the K merges
    * chain as K nested scan-stage `replace`s in ONE projection —
    * applying a trained tokenizer costs a single pass over the
    * corpus, no shuffle, no loop. Rank order is load-bearing (merge
    * k's pair may contain symbols minted by merges < k). */
  def encodeCol(w: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(w)((c, m) =>
      replace(c, lit(m.pair), lit(m.sym.toString)))

  /** The training loop unrolled as DuckDB CTEs over `w0(w)` (which
    * the caller provides, mirroring the Spark-side tokenization).
    * Each iteration k emits `t{k}` (top pair + count), `w{k+1}`
    * (re-segmented corpus) and `x{k}` (the merge row with the pair
    * expanded through every prior iteration's token — prior tokens
    * contain no sentinels, so a flat replace chain is exact). */
  private def sqlTrainCtes(iters: Int, pfx: String): String = {
    def pairSrc(k: Int) =
      s"""(SELECT substr(w, i, 2) AS pair
         |   FROM ${pfx}w$k, UNNEST(generate_series(1, length(w) - 1)) AS g(i))"""
        .stripMargin
    (0 until iters).flatMap { k =>
      val expand = (0 until k).foldLeft(s"(SELECT pair FROM ${pfx}t$k)") {
        (acc, j) => s"replace($acc, chr(${SentinelBase + j}), (SELECT token FROM ${pfx}x$j))"
      }
      // MATERIALIZED is load-bearing: every level references w$k
      // 2-3 times (pair counting, re-segmentation) and t$k from
      // several scalar subqueries — inlined, DuckDB re-derives the
      // whole chain per reference, going exponential in the merge
      // count (measured: tx_bpe_vocab 63.6 s inlined vs 0.2 s
      // materialized at sf0.01, and the r12/r13 driver-gate
      // timeouts trace here)
      val t =
        s"""${pfx}t$k AS MATERIALIZED (SELECT pair, count(*) AS n
           |  FROM ${pairSrc(k)}
           |  GROUP BY pair ORDER BY n DESC, pair LIMIT 1)""".stripMargin
      val x =
        s"""${pfx}x$k AS MATERIALIZED (
           |  SELECT CAST($k AS BIGINT) AS rank, $expand AS token,
           |  (SELECT n FROM ${pfx}t$k) AS n)""".stripMargin
      val w = if (k < iters - 1)
        Seq(s"""${pfx}w${k + 1} AS MATERIALIZED (SELECT w FROM (
               |  SELECT replace(w, (SELECT pair FROM ${pfx}t$k),
               |                 chr(${SentinelBase + k})) AS w FROM ${pfx}w$k)
               |  WHERE length(w) >= 2)""".stripMargin)
      else Seq.empty
      Seq(t, x) ++ w
    }.mkString(",\n")
  }

  /** The full vocab oracle: training CTEs + the K merge rows. `pfx`
    * namespaces every CTE (and the `${pfx}w0` feed it reads), so two
    * BPE trainings — e.g. char-level and byte-level — can share one
    * statement. */
  def sqlVocab(iters: Int = Iters, pfx: String = ""): String = {
    val unions = (0 until iters)
      .map(k => s"SELECT rank, token, n FROM ${pfx}x$k").mkString("\nUNION ALL ")
    sqlTrainCtes(iters, pfx) + "\n" + unions
  }

  /** [[encodeCol]] in SQL: the K learned pairs (selected by the
    * training CTEs) chained as nested replaces in rank order. */
  def sqlEncodeExpr(w: String, iters: Int = Iters, pfx: String = ""): String =
    (0 until iters).foldLeft(w)((acc, k) =>
      s"replace($acc, (SELECT pair FROM ${pfx}t$k), chr(${SentinelBase + k}))")

  /** Inverse of [[encodeCol]]: each sentinel expands to its FULLY
    * EXPANDED token (`Merge.token` carries the pair expanded through
    * every prior merge, so it contains no sentinels and one flat
    * replace chain in any order is exact — the x$k convention the
    * SQL training CTEs already use). */
  def decodeCol(e: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(e)((c, m) =>
      replace(c, lit(m.sym.toString), lit(m.token)))

  /** The DuckDB twin of [[decodeCol]] over the training CTEs. */
  def sqlDecodeExpr(e: String, iters: Int = Iters, pfx: String = ""): String =
    (0 until iters).foldLeft(e)((acc, j) =>
      s"replace($acc, chr(${SentinelBase + j}), (SELECT token FROM ${pfx}x$j))")

  /** The encode oracle fragment: training CTEs reusable beside a
    * caller-provided doc-grain track. */
  def sqlTrainCtesForEncode(iters: Int = Iters, pfx: String = ""): String =
    sqlTrainCtes(iters, pfx)
}
