package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Instruction-tuning (SFT) conversation curation — the post-training
  * sibling of the pretraining gates: chat transcripts instead of web
  * pages, with the defect classes SFT datasets actually ship with.
  * Published pipelines (OpenAssistant curation, UltraChat/Tulu
  * filtering) gate on exactly these: role-structure violations,
  * empty turns, tokenizer special-token leakage inside content,
  * template prompts repeated verbatim across conversations, and
  * canned duplicate responses (refusal spam) that skew the loss.
  *
  * The corpus is a deterministic expression-level fixture synthesized
  * from `documents` (the CodePack convention): each doc becomes one
  * conversation of 2/4/6 alternating turns, with defect injections
  * keyed off doc_id — a role-alternation break (%13: turn 1 becomes
  * a second consecutive 'user'), an empty assistant turn (%17), a
  * trailing `<|endoftext|>` leaked into the final assistant turn
  * (%11), a verbatim template opening prompt (%7), and a canned
  * refusal response shared across conversations (%5) — so every gate
  * fires on a known slice and the oracle replays the synthesis
  * byte-identically in SQL.
  *
  * 100 TB shape: one conversation = ONE row until a query needs turn
  * grain, and the structural gate is a pure array expression over
  * that row (zero shuffle — adjacent-role checks run as `exists`
  * over the turn array inside the scan stage). Turn-grain queries
  * explode (linear in turns) and aggregate with map-side combine;
  * template detection is the chrome-df pattern (high-df prompt
  * strings combine map-side because they ARE the hot keys); response
  * dedup is an exact hash-groupBy at turn grain. Nothing global,
  * nothing quadratic.
  */
object IftPack extends QueryPack {

  val Template = "Please summarize the following document."
  val Canned = "I cannot help with that request."
  val Eot = "<|endoftext|>"

  /** Special tokens the scrub removes — only [[Eot]] is planted; the
    * others pin that the scan checks a real denylist. */
  val SpecialTokens: Seq[String] =
    Seq(Eot, "<|im_start|>", "</s>", "[INST]")

  /** A prompt string shared verbatim by at least this many
    * conversations is a template. */
  val TemplateDf = 3

  private def nTurns: Column =
    (lit(2) * (lit(1) + (col("doc_id") % 3))).cast("int")

  private def roleAt(i: Column): Column =
    when(col("doc_id") % 13 === 0 && i === 1, lit("user"))
      .otherwise(when(i % 2 === 0, lit("user")).otherwise(lit("assistant")))

  private def contentAt(i: Column): Column = {
    val q = concat(lit("Q"), col("doc_id").cast("string"), lit("."),
      i.cast("string"), lit(": "),
      col("text").substr(lit(1) + i * lit(17), lit(40)))
    val a0 = concat(lit("A: "), col("text").substr(lit(1) + i * lit(17), lit(60)))
    val a = when(col("doc_id") % 11 === 0 && i === nTurns - 1,
      concat(a0, lit(" " + Eot))).otherwise(a0)
    when(roleAt(i) === "user",
      when(col("doc_id") % 7 === 0 && i === 0, lit(Template)).otherwise(q))
      .otherwise(
        when(col("doc_id") % 17 === 0 && i === 1, lit(""))
          .when(col("doc_id") % 5 === 0 && i === 1, lit(Canned))
          .otherwise(a))
  }

  /** The synthesized turn array for a `documents` row. */
  def turnsArr: Column =
    transform(sequence(lit(0), nTurns - 1), i =>
      struct(i.cast("long").as("turn_idx"), roleAt(i).as("role"),
        contentAt(i).as("content")))

  /** (conv_id, source, turns) — one conversation per row. */
  def convs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("conv_id"), col("source"),
      turnsArr.as("turns"))

  /** Turn-grain view: (conv_id, source, turn_idx, role, content). */
  def turns(docs: DataFrame): DataFrame =
    convs(docs)
      .select(col("conv_id"), col("source"),
        explode(col("turns")).as("t"))
      .select(col("conv_id"), col("source"), col("t.turn_idx"),
        col("t.role"), col("t.content"))

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** replace-chain over a column NAME (both engines). */
  private def scrubSql(colName: String): String =
    SpecialTokens.foldLeft(colName)((acc, t) =>
      s"replace($acc, ${sqlLit(t)}, '')")

  /** Per-conversation structural gate, computed as pure array
    * expressions over the conversation row (no explode, no window,
    * no shuffle). */
  def gateFrame(docs: DataFrame): DataFrame = {
    val c = convs(docs)
    val ts = col("turns")
    val n = size(ts)
    val roleRepeat = exists(sequence(lit(1), n - 1),
      j => element_at(ts, j + 1).getField("role") ===
        element_at(ts, j).getField("role"))
    val emptyTurn = exists(ts, t => t.getField("content") === "")
    val badStart = element_at(ts, 1).getField("role") =!= "user"
    val badEnd = element_at(ts, n).getField("role") =!= "assistant"
    c.select(col("conv_id"), col("source"), n.cast("long").as("n_turns"),
      roleRepeat.as("flag_role_repeat"), emptyTurn.as("flag_empty_turn"),
      badStart.as("flag_bad_start"), badEnd.as("flag_bad_end"))
      .withColumn("pass",
        !col("flag_role_repeat") && !col("flag_empty_turn") &&
          !col("flag_bad_start") && !col("flag_bad_end"))
  }

  /** Template prompts: user-turn strings shared by ≥ TemplateDf
    * conversations. */
  private def templates(t: DataFrame): DataFrame =
    t.filter(col("role") === "user")
      .groupBy(col("content").as("prompt"))
      .agg(countDistinct(col("conv_id")).as("n_convs"))
      .filter(col("n_convs") >= TemplateDf)

  /** Duplicate assistant responses (non-empty), with the surviving
    * conversation per group. */
  private def dupResponses(t: DataFrame): DataFrame =
    t.filter(col("role") === "assistant" && col("content") =!= "")
      .groupBy(col("content"))
      .agg(count(lit(1)).cast("long").as("n_turns"),
        countDistinct(col("conv_id")).as("n_convs"),
        min(col("conv_id")).as("survivor_conv"))
      .filter(col("n_turns") > 1)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the parsed turn table itself — the chat-format decode every
    // downstream query builds on
    "ift_turns" -> ((s, dir) => turns(Tables.documents(s, dir))),

    // structural validation at conversation grain — array
    // expressions only, zero shuffle
    "ift_struct_gate" -> ((s, dir) => gateFrame(Tables.documents(s, dir))),

    // special-token leakage census: per conversation, how many turns
    // carry a denylisted token and how many chars the scrub removes
    "ift_special_tokens" -> ((s, dir) =>
      turns(Tables.documents(s, dir))
        .select(col("conv_id"),
          (length(col("content")) -
            length(expr(scrubSql("content")))).cast("long")
            .as("removed"))
        .groupBy("conv_id")
        .agg(sum(when(col("removed") > 0, 1L).otherwise(0L))
          .as("n_flagged_turns"),
          sum(col("removed")).as("chars_removed"))
        .filter(col("n_flagged_turns") > 0)),

    // template-prompt inventory: the chrome-df pattern at prompt
    // grain — verbatim prompts shared across ≥ TemplateDf convs
    "ift_template_prompts" -> ((s, dir) =>
      templates(turns(Tables.documents(s, dir)))),

    // exact response dedup across conversations: duplicated
    // non-empty assistant turns with group sizes and the survivor
    "ift_response_dedup" -> ((s, dir) =>
      dupResponses(turns(Tables.documents(s, dir)))),

    // the whole SFT curation as ONE query: structural gate →
    // template-prompt filter → duplicate-response filter (survivor
    // keeps its group) → special-token scrub, emitting the admitted
    // conversations with their clean char mass — a bug in ANY stage
    // shifts the admitted set
    "ift_curated_e2e" -> ((s, dir) => curatedFor(s, dir)),

    // preference-pair (DPO/RLHF data) validation at pair grain:
    // degenerate ties (chosen == rejected teach nothing) and the
    // per-pair length relation — pure scan-stage expressions
    "ift_pref_gate" -> ((s, dir) =>
      prefPairs(Tables.documents(s, dir))
        .select(col("pair_id"), col("source"),
          length(col("chosen")).cast("long").as("len_chosen"),
          length(col("rejected")).cast("long").as("len_rejected"),
          (col("chosen") === col("rejected")).as("flag_tie"),
          (length(col("chosen")) > length(col("rejected")))
            .as("chosen_longer"))),

    // the length-bias audit a preference dataset ships with: among
    // non-tie pairs per source, how often is chosen simply LONGER?
    // (a reward model trained on length-skewed pairs learns length,
    // not quality — this rate is what the curation owner watches)
    "ift_pref_length_bias" -> ((s, dir) =>
      prefPairs(Tables.documents(s, dir))
        .filter(col("chosen") =!= col("rejected"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(length(col("chosen")) > length(col("rejected")), 1L)
            .otherwise(0L)).as("n_chosen_longer"))
        .select(col("source"), col("n_pairs"), col("n_chosen_longer"),
          graft.Det.dround(col("n_chosen_longer").cast("double") /
            col("n_pairs").cast("double"), 4).as("bias_rate"))),

    // the SFT TRAINING FEED — curation → chat render → pack → epoch
    // positions composed into the artifact a fine-tune loop reads:
    // admitted conversations (the ift_curated_e2e chain) rendered
    // into '<role> content' transcripts as a PURE ARRAY EXPRESSION
    // over the one-row-per-conversation frame (zero extra shuffle —
    // no per-turn regroup, the conversation row already holds its
    // ordered turns), special tokens scrubbed from the rendered
    // text, whitespace token counts driving the same contiguous
    // fixed-budget pack as sp_pack_sequences, and the epoch
    // permutation assigned at SEQUENCE grain (GlobalIndex — never a
    // one-task window). text_md5 rides each slot so a render bug, a
    // scrub bug, a packing bug, or a permutation bug all shift the
    // hash. A trainer reads ORDER BY pos, slot.
    "ift_sft_feed" -> ((s, dir) =>
      sftFeedOver(Tables.documents(s, dir),
        curatedFor(s, dir).select(col("conv_id")))))

  /** The full feed composition over any documents-shaped frame —
    * `ift_sft_feed`'s body, exposed for the DevStress probe. */
  def sftFeed(docs: DataFrame): DataFrame =
    sftFeedOver(docs, curated(docs).select(col("conv_id")))

  /** The curated-conversation table as an [[IndexCache]] artifact —
    * the curation chain (gates, template drop, dup-response dedup,
    * scrub accounting) that both the e2e query and the packed SFT
    * feed consume. */
  private def curatedFor(s: SparkSession, dir: String): DataFrame =
    IndexCache.artifact(s, "iftcurated", dir)(
      curated(Tables.documents(s, dir)).localCheckpoint(eager = true))

  /** [[sftFeed]] over a prepared curated conv-id frame. */
  def sftFeedOver(docs: DataFrame, curatedIds: DataFrame): DataFrame = {
    val rendered = convs(docs)
      .join(curatedIds, Seq("conv_id"), "left_semi")
      .select(col("conv_id"), col("source"),
        concat_ws("\n", transform(col("turns"), t =>
          concat(lit("<"), t.getField("role"), lit("> "),
            t.getField("content")))).as("raw"))
      .select(col("conv_id"), col("source"),
        expr(scrubSql("raw")).as("rendered"))
      .select(col("conv_id"), col("source"), col("rendered"),
        size(split(col("rendered"), " ")).cast("long").as("n_tokens"))
    // materialized ONCE: three consumers read the packed frame (the
    // sequence-key distinct, the zipWithIndex position job, and the
    // final slot join) — without the checkpoint each re-runs the
    // render + scrub chain, the query's dominant cost (the langid
    // dgl-checkpoint discipline; measured ~5 s → ~2 s at sf0.1)
    val binned = Sampling.packBins(rendered,
      shard = Seq(col("source")), order = Seq(col("conv_id")),
      tokens = col("n_tokens"), budget = SamplePack.PackBudget)
      .localCheckpoint(true)
    val seqs = binned.select(col("source"), col("bin")).distinct()
      .select(col("source"), col("bin"),
        graft.functions.Hashing.h32(concat(lit("sf0_"), col("source"),
          lit("_"), col("bin").cast("string"))).as("k"))
    val positioned = GlobalIndex.withPosition(seqs,
        Seq(col("k"), col("source"), col("bin")), "pos")
      .select(col("source"), col("bin"), col("pos"))
    val slotW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("bin"))
      .orderBy(col("conv_id"))
    binned
      .withColumn("slot", (row_number().over(slotW) - 1).cast("long"))
      .join(positioned, Seq("source", "bin"))
      .select(col("pos"), col("source"), col("bin"), col("slot"),
        col("conv_id"), col("n_tokens"), md5(col("rendered"))
          .as("text_md5"))
  }

  /** Synthesized preference pairs: one (prompt, chosen, rejected)
    * triple per doc, with a degenerate-tie slice (%9: rejected ==
    * chosen) and an anti-bias slice (%7: rejected LONGER than
    * chosen) so both audit queries fire on known subsets. */
  def prefPairs(docs: DataFrame): DataFrame = {
    val chosen = concat(lit("A: "), col("text").substr(lit(1), lit(80)))
    docs.select(col("doc_id").as("pair_id"), col("source"),
      concat(lit("P"), col("doc_id").cast("string"), lit(": "),
        col("text").substr(lit(1), lit(40))).as("prompt"),
      chosen.as("chosen"),
      when(col("doc_id") % 9 === 0, chosen)
        .when(col("doc_id") % 7 === 0,
          concat(chosen, lit(" moreover it continues at considerable length")))
        .otherwise(concat(lit("A: "), col("text").substr(lit(21), lit(40))))
        .as("rejected"))
  }

  /** The full curation chain over any documents-shaped frame —
    * `ift_curated_e2e`'s body, exposed for the DevStress probe.
    *
    * Broadcast discipline: only `templates` is hinted — the high-df
    * prompt inventory is chrome-class (frequency-thresholded, so its
    * cardinality grows with TEMPLATE diversity, not corpus size).
    * The conv-id drop sets and the dup-response groups scale WITH
    * the corpus, so their joins stay unhinted shuffle joins
    * co-partitioned on conv_id / content, and AQE may still demote
    * them to broadcast when small. */
  def curated(docs: DataFrame): DataFrame = {
    val t = turns(docs)
    val pass = gateFrame(docs).filter(col("pass"))
      .select(col("conv_id"), col("n_turns"))
    val templated = t.filter(col("role") === "user")
      .join(broadcast(templates(t)),
        col("content") === col("prompt"), "left_semi")
      .select(col("conv_id")).distinct()
    val dupLosers = t.filter(col("role") === "assistant" &&
        col("content") =!= "")
      .join(dupResponses(t).select(col("content"), col("survivor_conv")),
        Seq("content"))
      .filter(col("conv_id") =!= col("survivor_conv"))
      .select(col("conv_id")).distinct()
    val clean = t.groupBy("conv_id")
      .agg(sum(length(expr(scrubSql("content"))).cast("long"))
        .as("clean_chars"))
    pass
      .join(templated, Seq("conv_id"), "left_anti")
      .join(dupLosers, Seq("conv_id"), "left_anti")
      .join(clean, Seq("conv_id"))
      .select(col("conv_id"), col("n_turns"), col("clean_chars"))
  }

  /** The SQL twin of the turn synthesis — conv_id, source, turn_idx,
    * role, content per row. */
  val turnsSql: String =
    s"""SELECT conv_id, source, turn_idx,
       |  CASE WHEN conv_id % 13 = 0 AND turn_idx = 1 THEN 'user'
       |       WHEN turn_idx % 2 = 0 THEN 'user'
       |       ELSE 'assistant' END AS role,
       |  CASE WHEN (CASE WHEN conv_id % 13 = 0 AND turn_idx = 1
       |               THEN 'user'
       |               WHEN turn_idx % 2 = 0 THEN 'user'
       |               ELSE 'assistant' END) = 'user' THEN
       |    CASE WHEN conv_id % 7 = 0 AND turn_idx = 0
       |      THEN ${sqlLit(Template)}
       |      ELSE 'Q' || CAST(conv_id AS VARCHAR) || '.' ||
       |        CAST(turn_idx AS VARCHAR) || ': ' ||
       |        substr(text, CAST(1 + turn_idx * 17 AS INTEGER), 40) END
       |  ELSE
       |    CASE WHEN conv_id % 17 = 0 AND turn_idx = 1 THEN ''
       |         WHEN conv_id % 5 = 0 AND turn_idx = 1
       |           THEN ${sqlLit(Canned)}
       |         ELSE 'A: ' ||
       |           substr(text, CAST(1 + turn_idx * 17 AS INTEGER), 60) ||
       |           CASE WHEN conv_id % 11 = 0 AND
       |                     turn_idx = 2 * (1 + conv_id % 3) - 1
       |             THEN ${sqlLit(" " + Eot)} ELSE '' END END
       |  END AS content
       |FROM (SELECT doc_id AS conv_id, source, text,
       |        unnest(range(0, 2 * (1 + doc_id % 3))) AS turn_idx
       |      FROM documents)""".stripMargin

  /** The SQL twin of [[prefPairs]]. */
  private val prefSql: String =
    """SELECT doc_id AS pair_id, source,
      |  'P' || CAST(doc_id AS VARCHAR) || ': ' || substr(text, 1, 40)
      |    AS prompt,
      |  'A: ' || substr(text, 1, 80) AS chosen,
      |  CASE WHEN doc_id % 9 = 0 THEN 'A: ' || substr(text, 1, 80)
      |       WHEN doc_id % 7 = 0 THEN 'A: ' || substr(text, 1, 80) ||
      |         ' moreover it continues at considerable length'
      |       ELSE 'A: ' || substr(text, 21, 40) END AS rejected
      |FROM documents""".stripMargin

  private val gateCtes: String =
    s"""t AS ($turnsSql),
       |g AS (SELECT conv_id,
       |    any_value(source) AS source,
       |    CAST(count(*) AS BIGINT) AS n_turns,
       |    bool_or(role = lag_role) AS flag_role_repeat,
       |    bool_or(content = '') AS flag_empty_turn,
       |    bool_or(turn_idx = 0 AND role <> 'user') AS flag_bad_start,
       |    arg_max(role, turn_idx) <> 'assistant' AS flag_bad_end
       |  FROM (SELECT *, lag(role) OVER (PARTITION BY conv_id
       |          ORDER BY turn_idx) AS lag_role FROM t)
       |  GROUP BY conv_id)""".stripMargin

  override def oracles: Map[String, String] = Map(
    "ift_turns" ->
      s"""SELECT conv_id, source, turn_idx, role, content
         |FROM ($turnsSql)""".stripMargin,

    "ift_struct_gate" ->
      s"""WITH $gateCtes
         |SELECT conv_id, source, n_turns, flag_role_repeat,
         |  flag_empty_turn, flag_bad_start, flag_bad_end,
         |  NOT (flag_role_repeat OR flag_empty_turn OR flag_bad_start
         |       OR flag_bad_end) AS pass
         |FROM g""".stripMargin,

    "ift_special_tokens" ->
      s"""WITH t AS ($turnsSql),
         |r AS (SELECT conv_id,
         |    CAST(length(content) - length(${scrubSql("content")})
         |      AS BIGINT) AS removed
         |  FROM t)
         |SELECT conv_id,
         |  CAST(sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged_turns,
         |  CAST(sum(removed) AS BIGINT) AS chars_removed
         |FROM r GROUP BY conv_id
         |HAVING sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) > 0""".stripMargin,

    "ift_template_prompts" ->
      s"""WITH t AS ($turnsSql)
         |SELECT content AS prompt,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
         |FROM t WHERE role = 'user'
         |GROUP BY content HAVING count(DISTINCT conv_id) >= $TemplateDf""".stripMargin,

    "ift_response_dedup" ->
      s"""WITH t AS ($turnsSql)
         |SELECT content, CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
         |  min(conv_id) AS survivor_conv
         |FROM t WHERE role = 'assistant' AND content <> ''
         |GROUP BY content HAVING count(*) > 1""".stripMargin,

    "ift_pref_gate" ->
      s"""WITH p AS ($prefSql)
         |SELECT pair_id, source,
         |  CAST(length(chosen) AS BIGINT) AS len_chosen,
         |  CAST(length(rejected) AS BIGINT) AS len_rejected,
         |  chosen = rejected AS flag_tie,
         |  length(chosen) > length(rejected) AS chosen_longer
         |FROM p""".stripMargin,

    "ift_pref_length_bias" ->
      s"""WITH p AS ($prefSql)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN length(chosen) > length(rejected)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_chosen_longer,
         |  ${graft.Det.droundSql(
             "CAST(sum(CASE WHEN length(chosen) > length(rejected) " +
             "THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)} AS bias_rate
         |FROM p WHERE chosen <> rejected GROUP BY source""".stripMargin,

    "ift_curated_e2e" ->
      s"""WITH $admCtes,
         |clean AS (SELECT conv_id,
         |    CAST(sum(length(${scrubSql("content")})) AS BIGINT)
         |      AS clean_chars
         |  FROM t GROUP BY conv_id)
         |SELECT adm.conv_id, adm.n_turns, clean.clean_chars
         |FROM adm JOIN clean ON adm.conv_id = clean.conv_id""".stripMargin,

    // the oracle MAY use one-task windows (single DuckDB node); the
    // Spark side must not (GlobalIndex at sequence grain)
    "ift_sft_feed" ->
      s"""WITH $admCtes,
         |rend0 AS (SELECT t.conv_id, any_value(t.source) AS source,
         |    string_agg('<' || role || '> ' || content, chr(10)
         |      ORDER BY turn_idx) AS raw
         |  FROM t JOIN adm ON t.conv_id = adm.conv_id
         |  GROUP BY t.conv_id),
         |r AS (SELECT conv_id, source, rendered,
         |    CAST(len(string_split(rendered, ' ')) AS BIGINT) AS n_tokens
         |  FROM (SELECT conv_id, source, ${scrubSql("raw")} AS rendered
         |        FROM rend0)),
         |b AS (SELECT conv_id, source, rendered, n_tokens,
         |    CAST((sum(n_tokens) OVER (PARTITION BY source
         |       ORDER BY conv_id ROWS UNBOUNDED PRECEDING)
         |     - n_tokens) // ${SamplePack.PackBudget} AS BIGINT) AS bin
         |  FROM r),
         |sq AS (SELECT source, bin,
         |    ${graft.functions.Hashing.sqlH32(
              "'sf0_' || source || '_' || CAST(bin AS VARCHAR)")} AS k
         |  FROM b GROUP BY 1, 2),
         |p AS (SELECT source, bin,
         |    CAST(row_number() OVER (ORDER BY k, source, bin) - 1
         |      AS BIGINT) AS pos
         |  FROM sq),
         |slots AS (SELECT conv_id, source, bin, n_tokens, rendered,
         |    CAST(row_number() OVER (PARTITION BY source, bin
         |      ORDER BY conv_id) - 1 AS BIGINT) AS slot
         |  FROM b)
         |SELECT p.pos, slots.source, slots.bin, slots.slot,
         |  slots.conv_id, slots.n_tokens, md5(slots.rendered) AS text_md5
         |FROM slots JOIN p USING (source, bin)""".stripMargin)

  /** The curation chain as shared CTEs ending in
    * `adm(conv_id, n_turns)` — the SQL twin of [[curated]]'s
    * admission set. */
  private lazy val admCtes: String =
    s"""$gateCtes,
       |tmpl AS (SELECT content AS prompt FROM t WHERE role = 'user'
       |  GROUP BY content HAVING count(DISTINCT conv_id) >= $TemplateDf),
       |dups AS (SELECT content, min(conv_id) AS survivor_conv
       |  FROM t WHERE role = 'assistant' AND content <> ''
       |  GROUP BY content HAVING count(*) > 1),
       |templated AS (SELECT DISTINCT conv_id FROM t
       |  WHERE role = 'user' AND content IN (SELECT prompt FROM tmpl)),
       |losers AS (SELECT DISTINCT t.conv_id FROM t
       |  JOIN dups ON t.content = dups.content
       |  WHERE t.role = 'assistant' AND t.conv_id <> dups.survivor_conv),
       |adm AS (SELECT g.conv_id, g.n_turns FROM g
       |  WHERE NOT (flag_role_repeat OR flag_empty_turn OR flag_bad_start
       |             OR flag_bad_end)
       |    AND g.conv_id NOT IN (SELECT conv_id FROM templated)
       |    AND g.conv_id NOT IN (SELECT conv_id FROM losers))""".stripMargin
}
