package graft.operators

import graft.{Det, QueryPack, Tables}
import graft.functions.Hashing
import graft.streaming.CmsStats.{CmsDepth, CmsWidth}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable corpus sketches — the incremental-statistics layer a
  * 100 TB lake needs: distinct counts and cross-source overlap that
  * update when a new shard lands WITHOUT rescanning history.
  *
  * Two sketch families, both built on the engine-portable md5 hash
  * ([[Hashing.h32]]) so every estimate replays bit-identically in the
  * DuckDB oracle (builtin HLL/approx sketches differ per engine and
  * can never be oracled):
  *
  *  - KMV (K-minimum-values) distinct sketches: keep the K smallest
  *    distinct item hashes; the k-th smallest normalized hash
  *    estimates the distinct count as (K−1)·2³²/h₍K₎ (Beyer et al.,
  *    "On synopses for distinct-value estimation", SIGMOD'07). KMV
  *    is a MERGEABLE synopsis: min-K of a union equals min-K over
  *    the unioned per-shard min-K sets, so per-shard sketches (K
  *    longs each) combine at planning time — `q_kmv_union` computes
  *    the corpus estimate ONLY from the 20 per-source sketches and
  *    pins merged == direct in-query.
  *  - Per-source MinHash signatures for the pairwise overlap matrix
  *    (`ds_source_minhash`): 8 permuted mins per source — one
  *    map-side-combined agg over the corpus — estimate Jaccard
  *    between every source pair from component agreement. The exact
  *    companion (`ds_source_overlap`) is an inverted-index join
  *    (linear in CO-OCCURRING items, never |A|·|B|); the signature
  *    form is what survives when sources stop fitting a join: its
  *    cost after the scan is |sources|·NumPerms longs, period.
  *
  * 100 TB shape: both sketches are one scan + one map-side-combined
  * agg (TopKPerKey's partial bounded heaps / min() partials); sketch
  * state is O(K) resp. O(perms) per key regardless of corpus size,
  * so the shuffle carries kilobytes. The reference keeps running
  * counters per scrape batch (bitcoinabuse/main.go:150-166); these
  * are the corpus-scale form of those counters.
  */
object SketchPack extends QueryPack {

  /** KMV sketch width: estimates carry ~1/√K ≈ 12.5% relative error.
    * Small enough that the sf0.001 per-source item sets (≈25) take
    * the exact n<K branch while the corpus union (≈350+) exercises
    * the estimator — both branches oracled at every SF. */
  val K = 64

  /** Heavy keys audited by q_cms_freq: the exact top-N frequent ids. */
  val CmsProbes = 20

  /** The per-event cell array: row r ∈ [0, D) paired with column
    * h_r(key) mod W — one scan-stage array expression, D rows per
    * event after posexplode. */
  private def cmsCells(h: Column): Column =
    array((0 until CmsDepth).map(i =>
      (Hashing.permuted(h, i) % CmsWidth).cast("long")): _*)

  private def cmsKeyHash: Column = Hashing.h32(col("user_id").cast("string"))

  /** CMS frame (r, c, cnt) over any (user_id) frame — ≤ D·W rows at
    * ANY input size (the `Dev stress` probe surface). The groupBy
    * combines map-side, so the exchange carries ≤ D·W rows per
    * partition however many events scanned. */
  def cmsSketch(ev: DataFrame): DataFrame =
    ev.select(posexplode(cmsCells(cmsKeyHash)).as(Seq("r", "c")))
      .groupBy("r", "c").agg(count(lit(1)).cast("long").as("cnt"))

  /** The SQL twin of [[cmsSketch]]'s cell generation: r comes from an
    * unnest, the permuted hash is computed algebraically in r (the
    * Scala side unrolls the same arithmetic per i). */
  private def cmsCellsSql(src: String): String =
    s"""SELECT ri.r,
       |    (h * (2 * ri.r + 1) + 7919 * ri.r + 1)
       |      % ${Hashing.MinhashPrime} % $CmsWidth AS c
       |  FROM (SELECT ${Hashing.sqlH32("CAST(user_id AS VARCHAR)")} AS h
       |        FROM $src) hh
       |  CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}])
       |              AS r) ri""".stripMargin

  /** (K−1)·2³² — the KMV estimator numerator, exact in a long. */
  val EstNum: Long = (K - 1) * 4294967296L

  /** Distinct (source, item-hash) pairs. Items are doc texts with a
    * planted cross-source slice: every doc_id%3==0 doc maps to one
    * of 12 shared items (keyed by text hash so the ids spread), so
    * the overlap matrix has known non-zero cells to detect — the
    * CodePack injection convention. */
  def items(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        Hashing.h32(
          when(col("doc_id") % 3 === 0,
            concat(lit("shared#"),
              (Hashing.h32(col("text")) % 12).cast("string")))
            .otherwise(col("text"))).as("ih"))
      .distinct()

  /** The SQL twin of [[items]]. */
  val itemsSql: String =
    s"""SELECT DISTINCT source,
       |  ${Hashing.sqlH32(
            "CASE WHEN doc_id % 3 = 0 THEN 'shared#' || " +
            s"CAST((${Hashing.sqlH32("text")} % 12) AS VARCHAR) " +
            "ELSE text END")} AS ih
       |FROM documents""".stripMargin

  /** Per-key KMV sketch rows: the K smallest distinct hashes per key,
    * via the native bounded-heap TopKPerKey (≤K rows per key per
    * input partition cross the exchange). */
  private def kmvKeep(it: DataFrame): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      it, Seq(col("source")), Seq(col("ih").asc), K)

  /** estimate column from (kth, n_kept): exact below K, KMV above. */
  private def estCol: Column =
    when(col("n_kept") < K, col("n_kept"))
      .otherwise(expr(s"$EstNum div kth"))

  /** Per-source sketch + estimate over any documents-shaped frame
    * (the q_kmv_distinct body without the exact-count audit join) —
    * the `Dev stress` probe surface. */
  def kmvSketch(docs: DataFrame): DataFrame =
    kmvKeep(items(docs)).groupBy("source")
      .agg(max(col("ih")).as("kth"),
        count(lit(1)).cast("long").as("n_kept"))
      .select(col("source"), col("kth"), col("n_kept"), estCol.as("est"))

  /** Per-source MinHash signatures over any documents-shaped frame
    * (one map-side-combined agg) — the `Dev stress` probe surface. */
  def sigOf(docs: DataFrame): DataFrame = sigOfItems(items(docs))

  /** Signature agg over an already-built (source, ih) items frame —
    * callers holding the items projection (ds_source_minhash) pass
    * it here instead of paying the corpus scan + per-row md5 twice. */
  def sigOfItems(it: DataFrame): DataFrame =
    it.groupBy("source")
      .agg(min(Hashing.permuted(col("ih"), 0)).as("m0"),
        (1 until Hashing.NumPerms).map(i =>
          min(Hashing.permuted(col("ih"), i)).as(s"m$i")): _*)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-source distinct-count sketch + estimate, with the exact
    // count alongside as the audit column — the per-shard artifact a
    // stats service persists (K longs per source)
    "q_kmv_distinct" -> ((s, dir) => {
      val it = items(Tables.documents(s, dir))
      val sk = kmvKeep(it).groupBy("source")
        .agg(max(col("ih")).as("kth"),
          count(lit(1)).cast("long").as("n_kept"))
      val exact = it.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_exact"))
      sk.join(exact, Seq("source"))
        .select(col("source"), col("n_exact"), col("n_kept"),
          col("kth"), estCol.as("est"))
    }),

    // corpus-level distinct estimate computed ONLY from the merged
    // per-source sketches (20·K rows — never a rescan), with the
    // direct corpus sketch and the exact count pinned alongside:
    // merged_eq_direct is the mergeability law as a query column
    "q_kmv_union" -> ((s, dir) => {
      val it = items(Tables.documents(s, dir))
      val perSource = kmvKeep(it) // the persisted per-shard artifacts
      val lk = lit("all")
      def sketch(rows: DataFrame): DataFrame =
        graft.plans.TopKPerKey.topKPerKey(
          rows.select(col("ih")).distinct().withColumn("g", lk),
          Seq(col("g")), Seq(col("ih").asc), K)
          .groupBy("g")
          .agg(max(col("ih")).as("kth"),
            count(lit(1)).cast("long").as("n_kept"))
          .select(col("kth"), col("n_kept"), estCol.as("est"))
      val merged = sketch(perSource)
      val direct = sketch(it)
      val exact = it.select(col("ih")).distinct()
        .agg(count(lit(1)).cast("long").as("n_exact"))
      merged.select(col("est").as("est_merged"), col("kth"),
          col("n_kept"))
        .crossJoin(broadcast(direct.select(col("est").as("est_direct"))))
        .crossJoin(broadcast(exact))
        .select(col("n_exact"), col("n_kept"), col("kth"),
          col("est_merged"), col("est_direct"),
          (col("est_merged") === col("est_direct"))
            .as("merged_eq_direct"))
    }),

    // exact pairwise source overlap via the inverted-index join:
    // items self-joined on the hash (cost linear in co-occurring
    // items), rolled up to (pair, n_common) and Jaccard — only pairs
    // with n_common > 0 appear, which at corpus scale is the sparse
    // result a mix planner wants
    "ds_source_overlap" -> ((s, dir) => {
      val it = items(Tables.documents(s, dir))
      val sz = it.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n"))
      val a = it.as("a"); val b = it.as("b")
      val com = a.join(b,
          col("a.ih") === col("b.ih") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      com
        .join(broadcast(sz.withColumnRenamed("source", "src_a")
          .withColumnRenamed("n", "n_a")), Seq("src_a"))
        .join(broadcast(sz.withColumnRenamed("source", "src_b")
          .withColumnRenamed("n", "n_b")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_common"),
          Det.dround(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4)
            .as("jac"))
    }),

    // the sketch form of the overlap matrix: 8-permutation MinHash
    // signature per source (ONE map-side-combined agg over the
    // corpus), pairwise estimated Jaccard from component agreement,
    // exact Jaccard joined as the audit — all 190 pairs appear,
    // zero-overlap ones with exact 0
    "ds_source_minhash" -> ((s, dir) => {
      val it = items(Tables.documents(s, dir))
      val sig = sigOfItems(it)
      val sz = it.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n"))
      val a = sig.as("a"); val b = sig.as("b")
      val agree = (0 until Hashing.NumPerms)
        .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val com = {
        val x = it.as("x"); val y = it.as("y")
        x.join(y, col("x.ih") === col("y.ih") &&
            col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src_a"),
            col("y.source").as("src_b"))
          .agg(count(lit(1)).cast("long").as("n_common"))
      }
      a.join(b, col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          agree.as("n_agree"))
        .join(broadcast(com), Seq("src_a", "src_b"), "left")
        .join(broadcast(sz.withColumnRenamed("source", "src_a")
          .withColumnRenamed("n", "n_a")), Seq("src_a"))
        .join(broadcast(sz.withColumnRenamed("source", "src_b")
          .withColumnRenamed("n", "n_b")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_agree"),
          Det.dround(col("n_agree").cast("double") /
            lit(Hashing.NumPerms.toDouble), 4).as("est_jac"),
          Det.dround(coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") -
              coalesce(col("n_common"), lit(0L))).cast("double"), 4)
            .as("exact_jac"))
    }),

    // count-min frequency synopsis: the D×W counter matrix (≤ 2,048
    // rows at ANY corpus size) + the point-query estimate for the
    // exact top-20 heavy keys, with CMS's one-sided guarantee pinned
    // per key (never_under: est ≥ exact, by construction of min over
    // D overcounting rows). The sketch side is one scan + one
    // map-side-combined agg; the probe side joins 20·D cells against
    // the BROADCAST sketch — at 100 TB the sketch is the kilobytes-
    // sized artifact a stats service ships, the probes never rescan.
    "q_cms_freq" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"))
      val sketch = cmsSketch(ev)
      val exact = ev.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_exact"))
      val probes = graft.plans.TopKPerKey.topKPerKey(
          exact.withColumn("g", lit(1)),
          Seq(col("g")),
          Seq(col("n_exact").desc, col("user_id").asc), CmsProbes)
        .drop("g")
      probes
        .select(col("user_id"), col("n_exact"),
          posexplode(cmsCells(cmsKeyHash)).as(Seq("r", "c")))
        .join(broadcast(sketch), Seq("r", "c"))
        .groupBy("user_id", "n_exact")
        .agg(min(col("cnt")).as("est"))
        .select(col("user_id"), col("n_exact"), col("est"),
          (col("est") >= col("n_exact")).as("never_under"))
    }),

    // CMS mergeability law as a query: per-shard sketches (sharded by
    // event_type — the "one sketch per ingest batch" shape) summed
    // cellwise must equal the direct corpus sketch, cell for cell.
    // Output is ONE row: cell inventories, the total mass audit
    // (Σ cnt = D · |events| on both paths), and the law booleans.
    "q_cms_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
      val cells = ev.select(col("event_type").as("shard"),
        posexplode(cmsCells(cmsKeyHash)).as(Seq("r", "c")))
      val perShard = cells.groupBy("shard", "r", "c")
        .agg(count(lit(1)).cast("long").as("cnt"))
      val merged = perShard.groupBy("r", "c")
        .agg(sum(col("cnt")).as("cnt"))
      val direct = cells.groupBy("r", "c")
        .agg(count(lit(1)).cast("long").as("cnt"))
      val j = merged.as("m")
        .join(direct.as("d"), Seq("r", "c"), "full_outer")
      j.agg(
          count(lit(1)).cast("long").as("n_cells"),
          sum(coalesce(col("m.cnt"), lit(0L))).as("mass_merged"),
          sum(coalesce(col("d.cnt"), lit(0L))).as("mass_direct"),
          sum(when(coalesce(col("m.cnt"), lit(-1L)) =!=
            coalesce(col("d.cnt"), lit(-2L)), 1L).otherwise(0L))
            .cast("long").as("n_mismatch"))
        .select(col("n_cells"), col("mass_merged"), col("mass_direct"),
          (col("n_mismatch") === 0L).as("merged_eq_direct"),
          (col("mass_merged") === col("mass_direct"))
            .as("mass_preserved"))
    }))

  /** Permuted-hash SQL twin (DedupPack.scala:990's convention). */
  private def permSql(e: String, i: Int): String =
    s"($e * ${2 * i + 1} + ${7919 * i + 1}) % ${Hashing.MinhashPrime}"

  private val kmvCtes: String =
    s"""it AS ($itemsSql),
       |rk AS (SELECT source, ih,
       |    row_number() OVER (PARTITION BY source ORDER BY ih) AS rn
       |  FROM it),
       |keep AS (SELECT source, ih FROM rk WHERE rn <= $K),
       |sk AS (SELECT source, max(ih) AS kth,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM keep GROUP BY source)""".stripMargin

  private val estSql: String =
    s"CASE WHEN n_kept < $K THEN n_kept ELSE $EstNum // kth END"

  override def oracles: Map[String, String] = Map(
    "q_kmv_distinct" ->
      s"""WITH $kmvCtes,
         |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM it GROUP BY source)
         |SELECT sk.source, n_exact, n_kept, kth, $estSql AS est
         |FROM sk JOIN ex ON sk.source = ex.source""".stripMargin,

    "q_kmv_union" ->
      s"""WITH $kmvCtes,
         |msk AS (SELECT ih FROM (SELECT DISTINCT ih FROM keep)
         |  ORDER BY ih LIMIT $K),
         |dsk AS (SELECT ih FROM (SELECT DISTINCT ih FROM it)
         |  ORDER BY ih LIMIT $K),
         |m AS (SELECT max(ih) AS kth, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM msk),
         |d AS (SELECT max(ih) AS kth, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM dsk),
         |ex AS (SELECT CAST(count(DISTINCT ih) AS BIGINT) AS n_exact
         |  FROM it)
         |SELECT ex.n_exact, m.n_kept, m.kth,
         |  ($estSql) AS est_merged,
         |  (SELECT CASE WHEN n_kept < $K THEN n_kept
         |     ELSE $EstNum // kth END FROM d) AS est_direct,
         |  ($estSql) = (SELECT CASE WHEN n_kept < $K THEN n_kept
         |     ELSE $EstNum // kth END FROM d) AS merged_eq_direct
         |FROM m, ex""".stripMargin,

    "ds_source_overlap" ->
      s"""WITH it AS ($itemsSql),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM it GROUP BY source),
         |com AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM it a JOIN it b
         |    ON a.ih = b.ih AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_common,
         |  ${Det.droundSql(
             "CAST(n_common AS DOUBLE) / CAST(za.n + zb.n - n_common AS DOUBLE)",
             4)} AS jac
         |FROM com
         |JOIN sz za ON za.source = src_a
         |JOIN sz zb ON zb.source = src_b""".stripMargin,

    "ds_source_minhash" ->
      s"""WITH it AS ($itemsSql),
         |sig AS (SELECT source,
         |    ${(0 until Hashing.NumPerms).map(i =>
               s"min(${permSql("ih", i)}) AS m$i").mkString(",\n    ")}
         |  FROM it GROUP BY source),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM it GROUP BY source),
         |com AS (SELECT x.source AS src_a, y.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM it x JOIN it y
         |    ON x.ih = y.ih AND x.source < y.source
         |  GROUP BY 1, 2)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  (${(0 until Hashing.NumPerms).map(i =>
              s"CAST(a.m$i = b.m$i AS BIGINT)").mkString(" + ")})
         |    AS n_agree,
         |  ${Det.droundSql(
             s"CAST((${(0 until Hashing.NumPerms).map(i =>
               s"CAST(a.m$i = b.m$i AS BIGINT)").mkString(" + ")}) AS DOUBLE)" +
             s" / ${Hashing.NumPerms}.0", 4)} AS est_jac,
         |  ${Det.droundSql(
             "CAST(coalesce(n_common, 0) AS DOUBLE) / " +
             "CAST(za.n + zb.n - coalesce(n_common, 0) AS DOUBLE)", 4)}
         |    AS exact_jac
         |FROM sig a JOIN sig b ON a.source < b.source
         |LEFT JOIN com ON com.src_a = a.source AND com.src_b = b.source
         |JOIN sz za ON za.source = a.source
         |JOIN sz zb ON zb.source = b.source""".stripMargin,

    "q_cms_freq" ->
      s"""WITH cells AS (${cmsCellsSql("events")}),
         |sk AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
         |  FROM cells GROUP BY r, c),
         |ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM events GROUP BY user_id),
         |probes AS (SELECT user_id, n_exact FROM ex
         |  ORDER BY n_exact DESC, user_id LIMIT $CmsProbes),
         |pc AS (SELECT p.user_id, p.n_exact, ri.r,
         |    (h * (2 * ri.r + 1) + 7919 * ri.r + 1)
         |      % ${Hashing.MinhashPrime} % $CmsWidth AS c
         |  FROM (SELECT user_id, n_exact,
         |      ${Hashing.sqlH32("CAST(user_id AS VARCHAR)")} AS h
         |    FROM probes) p
         |  CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}])
         |              AS r) ri)
         |SELECT pc.user_id, pc.n_exact, min(sk.cnt) AS est,
         |  min(sk.cnt) >= pc.n_exact AS never_under
         |FROM pc JOIN sk ON pc.r = sk.r AND pc.c = sk.c
         |GROUP BY pc.user_id, pc.n_exact""".stripMargin,

    "q_cms_merge" ->
      s"""WITH cells AS (SELECT shard, ri.r,
         |    (h * (2 * ri.r + 1) + 7919 * ri.r + 1)
         |      % ${Hashing.MinhashPrime} % $CmsWidth AS c
         |  FROM (SELECT event_type AS shard,
         |      ${Hashing.sqlH32("CAST(user_id AS VARCHAR)")} AS h
         |    FROM events) hh
         |  CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}])
         |              AS r) ri),
         |per_shard AS (SELECT shard, r, c,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM cells GROUP BY shard, r, c),
         |merged AS (SELECT r, c, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM per_shard GROUP BY r, c),
         |direct AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
         |  FROM cells GROUP BY r, c)
         |SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(coalesce(m.cnt, 0)) AS BIGINT) AS mass_merged,
         |  CAST(sum(coalesce(d.cnt, 0)) AS BIGINT) AS mass_direct,
         |  sum(CASE WHEN coalesce(m.cnt, -1) <> coalesce(d.cnt, -2)
         |    THEN 1 ELSE 0 END) = 0 AS merged_eq_direct,
         |  sum(coalesce(m.cnt, 0)) = sum(coalesce(d.cnt, 0))
         |    AS mass_preserved
         |FROM merged m FULL OUTER JOIN direct d
         |  ON m.r = d.r AND m.c = d.c""".stripMargin)
}
