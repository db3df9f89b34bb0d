package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL/domain-level corpus curation — the crawl front-end family
  * ([[UrlOps]]): canonical-URL dedup, registered-domain inventory,
  * domain blocklisting, per-domain caps. These run BEFORE content
  * ever flows (URL strings only), which is what makes them the
  * cheapest cut in a web-scale pipeline; the reference's per-site
  * scrapers each hardcode one URL shape
  * (bitcoinabuse/main.go:97-99), this is the corpus-level form.
  *
  * Plans, per query: canon is a pure scan-stage expression chain;
  * dedup one hash-partial groupBy on the canonical string; stats one
  * combine-friendly groupBy on the (tiny-domain-domain) key;
  * blocklist a BROADCAST anti-join (blocklists are thousands of
  * rows); cap the native [[graft.plans.TopKPerKey]] partial/final
  * pair — k rows per domain per partition cross the exchange, never
  * a per-domain sort window.
  */
object WebCurationPack extends QueryPack {

  /** Per-domain keep budget for `wc_domain_cap` — small enough to
    * BIND on the fixture's .com domains at every oracle SF. */
  val CapK = 8

  /** (doc_id, source, n_chars, url, host, canonical, domain) — the
    * shared head every query builds on. */
  private def canon(s: SparkSession, dir: String): DataFrame =
    UrlOps.withUrlParts(UrlOps.urls(Tables.documents(s, dir)), col("url"))

  /** The parsed robots artifacts in [[IndexCache]] — (files, rules,
    * delays), each a tiny domain-bounded frame whose lineage reaches
    * back through the full canon parse. Read by six wc_ consumers
    * (rules/delays/sitemaps tables, admit, frontier ×2, discovery);
    * a production crawler keeps ONE parsed robots cache per cycle. */
  private[operators] def robotsArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    IndexCache.artifact(s, "robots", dir) {
      implicit val sp: SparkSession = s
      val files = RobotsOps.robotsFor(canon(s, dir)).localCheckpoint(true)
      (files, RobotsOps.parseRules(files).localCheckpoint(true),
        RobotsOps.parseDelays(files).localCheckpoint(true))
    }

  /** ...and the parsed sitemap artifacts: the raw per-host files
    * (index fan-out consumer) and the resolved (host, loc, lastmod)
    * rows (urls table, re-crawl, discovery). */
  private[operators] def sitemapArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    IndexCache.artifact(s, "sitemaps", dir) {
      val files = SitemapOps.sitemapsFor(canon(s, dir)).localCheckpoint(true)
      (files, SitemapOps.parseSitemaps(SitemapOps.resolveSitemaps(files))
        .localCheckpoint(true))
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the canonicalizer itself, row by row — scheme/host case,
    // www-strip, default vs real ports, trailing slash, fragment,
    // tracking-param removal, param sort all land in one string
    "wc_url_canon" -> ((s, dir) =>
      canon(s, dir).select(col("doc_id"), col("url"), col("canonical"))),

    // URL-level dedup: the fixture's variant triples collapse to one
    // canonical each; survivor = first crawl (min doc_id), with the
    // collapse counts a curation owner audits
    "wc_url_dedup" -> ((s, dir) =>
      canon(s, dir).groupBy(col("canonical"))
        .agg(min(col("doc_id")).as("survivor_doc"),
          count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_forms"))),

    // registered-domain inventory: docs, distinct canonical pages,
    // and the char mass per domain — the mix-planning surface
    // (sp_temperature_mix's per-source weights, at domain grain)
    "wc_domain_stats" -> ((s, dir) =>
      canon(s, dir).groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canonical")).as("n_pages"),
          sum(col("n_chars")).as("chars"))),

    // domain blocklist: the list is a tiny standalone frame (here a
    // deterministic hash-subset of the observed domains, standing in
    // for the external blocklist artifact) applied as a BROADCAST
    // anti-join on the registered domain — subdomains of a blocked
    // domain die with it because the join key is the REGISTERED
    // domain, not the host
    "wc_blocklist" -> ((s, dir) => {
      val c = canon(s, dir)
      val blocked = c.select(col("domain")).distinct()
        .filter(Hashing.h32(col("domain")) % 5 === 0)
      c.join(broadcast(blocked), Seq("domain"), "left_anti")
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // per-domain cap: keep the CapK largest docs per registered
    // domain (n_chars DESC, doc_id ASC tiebreak) via the native
    // bounded-heap TopKPerKey — the C4-style "no domain dominates"
    // rule at URL grain, same operator family as sp_source_cap
    "wc_domain_cap" -> ((s, dir) => {
      val c = canon(s, dir)
      graft.plans.TopKPerKey.topKPerKey(c,
        Seq(col("domain")),
        Seq(col("n_chars").desc, col("doc_id").asc), CapK)
        .select(col("domain"), col("doc_id"), col("n_chars"))
    }),

    // the whole front-end as ONE query — the admission list a crawl
    // coordinator ships downstream: canonicalize → URL-dedup
    // (survivor = first crawl) → blocklist (broadcast anti-join) →
    // per-domain cap (bounded-heap top-k). Emits the doc_ids that
    // may enter content processing, with their domain and canonical
    // URL — a bug in ANY stage shifts the admitted set
    "wc_front_e2e" -> ((s, dir) => {
      val c = canon(s, dir)
      val survivors = c.groupBy(col("canonical"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(c.select(col("doc_id"), col("domain"), col("n_chars")),
          Seq("doc_id"))
      val blocked = c.select(col("domain")).distinct()
        .filter(Hashing.h32(col("domain")) % 5 === 0)
      val admitted = survivors
        .join(broadcast(blocked), Seq("domain"), "left_anti")
      graft.plans.TopKPerKey.topKPerKey(admitted,
        Seq(col("domain")),
        Seq(col("n_chars").desc, col("doc_id").asc), CapK)
        .select(col("doc_id"), col("domain"), col("canonical"))
    }),

    // robots.txt (RFC 9309) — the POLITENESS layer: genuine robots
    // files (comments, CRLF, mixed-case fields, stacked agents, TWO
    // graftbot groups, wildcard/end-anchored rules, Crawl-delay
    // lines, Sitemap noise, the empty-Disallow no-rule case)
    // synthesized per domain, walked by the real line parser
    // ([[RobotsOps.parseRobotsAll]]). The oracle replays the RULES
    // from the domain-hash arithmetic without parsing — a parser bug
    // (group boundary, case fold, comment strip) diverges here
    "wc_robots_rules" -> ((s, dir) => robotsArtifacts(s, dir)._2),

    // ...the parsed Crawl-delay table — the politeness TIME-budget
    // input (frontier cap = f(window, delay), not a constant)
    "wc_robots_delays" -> ((s, dir) => robotsArtifacts(s, dir)._3),

    // ...and the advertised-sitemap table — RFC 9309 §2.2.4's
    // non-group field, the channel a crawler actually DISCOVERS
    // sitemaps through (the h%6 fixture domains advertise a second
    // one from INSIDE a user-agent group, which must neither vanish
    // nor break the group)
    "wc_robots_sitemaps" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      RobotsOps.parseSitemapUrls(robotsArtifacts(s, dir)._1)
    }),

    // ...and the admission verdict per canonical URL: the agent's
    // group selected from the PARSED table, rules broadcast-joined
    // by domain, longest-match with Allow winning ties, default
    // allow — the per-URL argmax is max(struct(len, allow)), a
    // map-side partial agg, never a per-URL sort
    "wc_robots_admit" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val c = canon(s, dir)
      val (_, parsed, delays) = robotsArtifacts(s, dir)
      RobotsOps.admit(c, RobotsOps.rulesForAgent(parsed, delays))
    }),

    // link extraction + RFC 3986 reference resolution — the crawl
    // DISCOVERY side: real anchor markup per canonical page (every
    // reference form: absolute, protocol-relative, absolute-path,
    // relative, dotted, fragment-only), genuinely regex-extracted,
    // resolved against the page's base, and the TARGET run through
    // the same canonicalizer as crawled URLs. The oracle replays the
    // href formulas and the resolution arithmetic ([[LinkOps]])
    "wc_link_graph" -> ((s, dir) =>
      LinkOps.linkGraphFor(dir, canon(s, dir))),

    // ...and PageRank over the REAL link graph — the link-based
    // quality signal a corpus filter gates on, as the composition a
    // crawl pipeline actually runs: canonicalize → link graph →
    // fixed-point integer PageRank (the q_pagerank operator, node
    // space = canonical URLs, no id mapping anywhere)
    "wc_link_rank" -> ((s, dir) =>
      PageRank.fixedPoint(LinkOps.linkGraphFor(dir, canon(s, dir)),
        iters = 3)),

    // the crawler's NEXT-FETCH list, closing the crawl loop as one
    // query: link targets discovered from admitted pages, minus
    // everything already crawled (anti-join on the canonical key —
    // the same key space throughout), robots-gated on the TARGET's
    // domain (targets on domains we have no robots for default to
    // allowed), capped per registered domain through the native
    // bounded-heap TopKPerKey (politeness budget — no domain floods
    // the frontier). canonicalize → dedup → robots → links →
    // frontier is the whole discovery cycle, every stage oracled
    "wc_frontier" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      frontierOver(canon(s, dir),
        Some(LinkOps.linkGraphFor(dir, canon(s, dir))),
        Some(robotsArtifacts(s, dir)))
    }),

    // INCREMENTAL discovery — the crawl cycle without re-extracting
    // every page: links come only from pages NEW since the previous
    // snapshot (bloom-pruned anti-join on the canonical key — the
    // ds_incremental_dedup pattern), unioned with the previous
    // snapshot's persisted edge artifact; the frontier then runs on
    // the merged edges. Per-page extraction is deterministic, so the
    // result EQUALS the from-scratch frontier on the merged snapshot
    // — the oracle IS wc_frontier's — while the extraction cost paid
    // per cycle is |new pages|, not |corpus|
    "wc_frontier_incr" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val c = canon(s, dir)
      // the merged edges ARE the new snapshot's artifact: registered
      // under the cycle key, so the |new pages| discovery +
      // extraction below is paid exactly once per cycle (the
      // artifact write — what a real cycle persists for its
      // successor) and every later read — this query re-run, the
      // next cycle's prevEdges — is a memo or parquet hit. The whole
      // build is by-name: a memo hit evaluates NONE of it
      val merged = LinkOps.edgeArtifact(s"$dir#cycle2") {
        // one materialized distinct-page frame (small: one string
        // per page): the bloom sketch, both anti-join branches, the
        // fresh slice, and the extraction all reference it — without
        // the checkpoint each reference re-runs the whole canon
        // pipeline (URL parse + PSL joins), measured ~1.3 s each
        val allPages = c.select(col("canonical")).distinct()
          .localCheckpoint(true)
        // the previous snapshot: pages whose page number ≢ 1 (mod 3)
        // — a deterministic earlier-crawl slice at every SF
        // (page-mates share a canonical, so the doc-level and
        // page-level slices coincide)
        val pageNo =
          regexp_extract(col("canonical"), "/p/([0-9]+)", 1).cast("long")
        val seen = allPages.filter(pageNo % 3 =!= 1)
        // the PREVIOUS cycle's edge artifact: per-page extraction is
        // deterministic and every edge keys on its src page, so the
        // prior snapshot's table IS the current artifact restricted
        // to previously-seen src pages — restriction commutes with
        // extract/resolve/canonicalize/distinct. Reading the one
        // persisted/memoized dir-keyed artifact here (a filter over
        // a checkpoint or parquet scan) is the production "read last
        // cycle's table" step; the earlier form re-EXTRACTED the
        // whole 2/3 snapshot per run (r13 bench: 5.24 s vs 2.77 s
        // from scratch — the double build the r13 verdict flagged)
        val srcPageNo =
          regexp_extract(col("src"), "/p/([0-9]+)", 1).cast("long")
        val prevEdges = LinkOps.linkGraphFor(dir, c)
          .filter(srcPageNo % 3 =!= 1)
        // bloom sized from the table's metadata row count (docs/3
        // pages upper-bounds the history side — oversizing only
        // lowers fpp), not a canon-rebuild count scan
        val freshPages = RuntimeFilter.bloomPrunedAntiJoin(
          allPages, col("canonical"), seen, col("canonical"),
          expectedKeys =
            math.max(Tables.documents(s, dir).count() / 3, 1L))
        // src sets are disjoint (old vs new pages): no re-distinct
        prevEdges.unionByName(LinkOps.linkGraph(freshPages))
      }
      frontierOver(c, Some(merged), Some(robotsArtifacts(s, dir)))
    }),

    // sitemap ingestion — the third discovery source: genuine
    // urlset XML per host (declaration, namespace, entries with and
    // without lastmod, whitespace variation), parsed at BLOCK grain
    // so loc/lastmod stay paired when an entry omits lastmod; every
    // fourth host serves a sitemapINDEX whose child shards are
    // resolved first (the nested-fetch transport detail — the parsed
    // entry set is identical either way, which is exactly what the
    // unchanged oracle pins)
    "wc_sitemap_urls" -> ((s, dir) => sitemapArtifacts(s, dir)._2),

    // ...and the index fan-out itself: which hosts shard, and the
    // child documents a crawler must fetch
    "wc_sitemap_index" -> ((s, dir) =>
      SitemapOps.indexChildren(sitemapArtifacts(s, dir)._1)),

    // lastmod-driven RE-CRAWL scheduling — the freshness half of the
    // crawl cycle (discovery finds new pages; this finds CHANGED
    // ones): sitemap entries whose advertised lastmod is NEWER than
    // the page's recorded fetch date are due again — a genuine
    // date-vs-date comparison against the fetch LOG, which is a real
    // TABLE here ([[fetchLogFor]]: planted once beside the corpus
    // through the IndexCache parquet envelope, the form the
    // streaming admission path writes —
    // [[graft.streaming.UrlStream]] stamps fetched_at on every
    // admitted store row), not an in-query date synthesis. The h%6
    // cohort is fetched ON the year-end lastmod date, pinning the
    // strict inequality at the boundary. The sitemap side is
    // host-bounded so it BROADCASTS against the corpus-scale log —
    // at 100 TB the join cost is one scan of the fetch log
    "wc_recrawl" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val sm = sitemapArtifacts(s, dir)._2
        .filter(col("lastmod").isNotNull)
        .select(col("loc").as("canonical"),
          to_date(col("lastmod")).as("modified"))
      recrawlDue(fetchLogFor(s, dir), sm)
    }),

    // ...and the UNIFIED discovery feed: sitemap ∪ links, minus
    // crawled, robots-gated per target domain (a site can advertise
    // in its sitemap what its robots then deny — the union drops
    // it), capped per domain, with the surfacing source(s) labeled
    "wc_discovery" -> ((s, dir) => SitemapOps.discovery(canon(s, dir),
      Some(LinkOps.linkGraphFor(dir, canon(s, dir))),
      Some(robotsArtifacts(s, dir)), Some(sitemapArtifacts(s, dir)._2))),

    // the missing link between the URL front-end and the content
    // pipeline: ONLY admitted doc_ids are spooled into crawl
    // archives, extracted, and chrome-curated — with the chrome
    // inventory learned from the ADMITTED corpus itself (document
    // frequency is corpus-relative: admitting a different corpus
    // legitimately changes what counts as chrome, and the oracle
    // recomputes every df threshold over the subset)
    "wc_admitted_text" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val capped = admittedIds(s, dir)
      // scan side widened before the archive-synthesis + parse chain
      // (the curatedFor discipline — the admitted subset re-runs it
      // here because its chrome inventory is admitted-corpus-relative;
      // the broadcast join preserves the width).
      // PRODUCTION SIZING CAVEAT (r16, from the r15 advice): the
      // explicit broadcast overrides autoBroadcastJoinThreshold, and
      // admittedIds is CapK rows PER DOMAIN — bounded per domain but
      // growing with domain count. The hint is load-bearing here (a
      // shuffle join would destroy the widen), so a deployment whose
      // admitted-id set outgrows executor memory must shard this
      // query by domain range rather than drop the hint.
      val docs = Tables.widen(Tables.documents(s, dir))
        .join(broadcast(capped), Seq("doc_id"))
      CrawlText.curated(
        graft.sources.Warc.parseHttpRecords(
          graft.sources.Warc.htmlResponseArchives(docs)).toDF())
    }))

  /** The wc_frontier body over any canon frame — public so `Dev stress`
    * probes the production stages. `edges` supplies the prebuilt
    * link-graph artifact ([[LinkOps.linkGraphFor]]); absent, the
    * graph builds here (the full-path probe shape). */
  def frontierOver(c: DataFrame, edges: Option[DataFrame] = None,
                   robots: Option[(DataFrame, DataFrame, DataFrame)] = None)
      (implicit s: SparkSession): DataFrame = {
    // link-value per target: IN-DEGREE over the (already-distinct)
    // edge set — the quality signal that orders each domain's
    // politeness budget (budgetCap). Computed in the SAME exchange
    // that used to dedup targets (groupBy replaces distinct), so the
    // signal is free at any scale
    val fresh = edges.getOrElse(LinkOps.linkGraph(c))
      .groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
      .join(c.select(col("canonical").as("dst")).distinct(),
        Seq("dst"), "left_anti")
    val t = UrlOps.withUrlParts(fresh, col("dst"))
      .select(col("dst"), col("domain"), col("indeg"),
        regexp_extract(col("dst"), "^[a-z]+://[^/]+(/[^?#]*)", 1)
          .as("path"))
    // the robots artifacts are domain-bounded (one file per domain, a
    // handful of rule rows each) but their lineage reaches back
    // through the full canon parse — materialize once so the three
    // consumers (agent selection references the rules twice, the cap
    // chain a third time) re-read rows instead of re-walking files
    val (_, parsed, delays) = robots.getOrElse {
      val files = RobotsOps.robotsFor(c).localCheckpoint(true)
      (files, RobotsOps.parseRules(files).localCheckpoint(true),
        RobotsOps.parseDelays(files).localCheckpoint(true))
    }
    val rules = RobotsOps.rulesForAgent(parsed, delays)
    val allowed = t
      .join(broadcast(rules.withColumnRenamed("path", "rule_path")),
        Seq("domain"), "left")
      .select(col("dst"), col("domain"), col("indeg"), col("path"),
        RobotsOps.matchStruct(col("path"), col("rule_path"),
          col("allow")).as("m"))
      .groupBy(col("dst"), col("domain"), col("indeg"))
      .agg(max(col("m")).as("best"))
      .filter(col("best").isNull || col("best.allow") === 1)
      // link-only targets: the value model is bare in-degree
      .withColumn("score", col("indeg"))
    budgetCap(allowed,
      RobotsOps.frontierCaps(parsed, delays, CapK),
      Seq("domain", "dst"))
  }

  /** Per-domain politeness cap, Crawl-delay-aware and RANK-ordered:
    * each domain's budget is spent on its highest-VALUE targets —
    * `score` descending, dst ascending as the deterministic tiebreak
    * — not on the lexicographically smallest URLs. The score is the
    * caller's value model: the frontier uses bare in-degree (the
    * link-quality signal the corpus already computes for PageRank
    * gating); discovery BLENDS advertised-lastmod freshness on top
    * ([[SitemapOps.freshnessBonus]]) so a page a fresh sitemap
    * advertises but nothing links yet can still win a contended
    * domain slot. The native bounded-heap [[graft.plans.TopKPerKey]]
    * bounds what crosses the exchange at [[CapK]] rows per domain
    * (the scale lever — corpus-size input never sorts per key), then
    * the per-domain TIME budget (`caps`: domain → slots per window,
    * [[RobotsOps.frontierCaps]]) trims that ≤CapK-per-domain OUTPUT
    * with a partitioned row_number over the same order — a window
    * over an output-bound frame, constant work per domain. Domains
    * with no Crawl-delay keep the full CapK. `rows` must carry a
    * `score` column (long). */
  def budgetCap(rows: DataFrame, caps: DataFrame, outCols: Seq[String])
      : DataFrame = {
    val order = Seq(col("score").desc, col("dst").asc)
    val topk = graft.plans.TopKPerKey.topKPerKey(rows,
      Seq(col("domain")), order, CapK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(order: _*)
    topk.withColumn("_rn", row_number().over(w))
      .join(broadcast(caps), Seq("domain"), "left")
      .filter(col("_rn") <= coalesce(col("cap"), lit(CapK)))
      .select(outCols.map(col): _*)
  }

  /** The fetch log as a corpus-dir ARTIFACT — a real (canonical,
    * fetched_at) parquet table planted once beside the corpus
    * through the [[IndexCache.frame]] envelope and SCANNED by every
    * consumer, exactly the shape the streaming admission path
    * writes into its store ([[graft.streaming.UrlStream]]'s
    * fetched_at column). The batch fixture's writer is [[crawlLog]];
    * wc_recrawl's oracle replays the writer's date arithmetic, the
    * comparison itself reads the table. */
  def fetchLogFor(s: SparkSession, dir: String): DataFrame =
    IndexCache.frame(s, "fetchlog", dir)(crawlLog(canon(s, dir)))

  /** The crawl-log fixture WRITER: one (canonical, fetched_at DATE)
    * row per crawled page. Plants a real date per page — spread
    * across the year by canonical-hash arithmetic, except the h%6
    * cohort, which is fetched exactly ON the sitemap generator's
    * year-end lastmod (2026-12-28, [[SitemapOps.urlsetXml]]'s
    * refresh entry) so equal-date pages exist by construction and
    * the re-crawl comparison's STRICT inequality is pinned, not
    * incidental. Consumers read [[fetchLogFor]]'s planted table, not
    * this builder; in production the column comes from the fetch
    * pipeline's own log (the admitted store's fetched_at). */
  def crawlLog(c: DataFrame): DataFrame = {
    val h = Hashing.h32(col("canonical"))
    c.select(col("canonical")).distinct()
      .select(col("canonical"),
        when(h % 6 === 0, to_date(lit("2026-12-28")))
          .otherwise(date_add(to_date(lit("2026-01-01")),
            (h % 358).cast("int"))).as("fetched_at"))
  }

  /** Pages due for re-crawl: advertised lastmod STRICTLY newer than
    * the recorded fetch — equal dates mean the crawl already saw
    * that revision. `sm` (canonical, modified) is host-bounded →
    * broadcast; the log side scans once. */
  def recrawlDue(log: DataFrame, sm: DataFrame): DataFrame =
    log.join(broadcast(sm), Seq("canonical"))
      .filter(col("modified") > col("fetched_at"))
      .select(col("canonical"), col("modified"), col("fetched_at"))

  /** The admission set (the wc_front_e2e chain) as bare doc_ids. */
  private def admittedIds(s: SparkSession, dir: String): DataFrame = {
    val c = canon(s, dir)
    val survivors = c.groupBy(col("canonical"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(c.select(col("doc_id"), col("domain"), col("n_chars")),
        Seq("doc_id"))
    val blocked = c.select(col("domain")).distinct()
      .filter(Hashing.h32(col("domain")) % 5 === 0)
    val admitted = survivors
      .join(broadcast(blocked), Seq("domain"), "left_anti")
    graft.plans.TopKPerKey.topKPerKey(admitted,
      Seq(col("domain")),
      Seq(col("n_chars").desc, col("doc_id").asc), CapK)
      .select(col("doc_id"))
  }

  // the incremental cycle must EQUAL the from-scratch frontier on
  // the merged snapshot — per-page extraction is deterministic, so
  // wc_frontier_incr's oracle IS wc_frontier's
  override def oracles: Map[String, String] =
    baseOracles + ("wc_frontier_incr" -> baseOracles("wc_frontier"))

  private lazy val baseOracles: Map[String, String] = Map(
    "wc_url_canon" ->
      s"""SELECT doc_id, url, canonical FROM ${UrlOps.sqlCanonSrc} c""",

    "wc_url_dedup" ->
      s"""SELECT canonical, min(doc_id) AS survivor_doc,
         |  count(*) AS n_urls, count(DISTINCT url) AS n_forms
         |FROM ${UrlOps.sqlCanonSrc} c GROUP BY canonical""".stripMargin,

    "wc_domain_stats" ->
      s"""SELECT domain, count(*) AS n_docs,
         |  count(DISTINCT canonical) AS n_pages,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM ${UrlOps.sqlCanonSrc} c GROUP BY domain""".stripMargin,

    "wc_blocklist" ->
      s"""SELECT domain, count(*) AS n_docs
         |FROM ${UrlOps.sqlCanonSrc} c
         |WHERE ${Hashing.sqlH32("domain")} % 5 <> 0
         |GROUP BY domain""".stripMargin,

    "wc_domain_cap" ->
      s"""SELECT domain, doc_id, n_chars FROM (
         |  SELECT domain, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM ${UrlOps.sqlCanonSrc} c) WHERE rn <= $CapK""".stripMargin,

    "wc_front_e2e" ->
      s"""WITH $admissionCtes
         |SELECT doc_id, domain, canonical FROM adm_capped""".stripMargin,

    "wc_admitted_text" ->
      s"""WITH $admissionCtes
         |SELECT doc_id, lang, CAST(strlen(xt) AS BIGINT) AS n_chars,
         |  md5(xt) AS text_md5
         |FROM ${CrawlText.sqlCuratedSrcWhere(
              " AND doc_id IN (SELECT doc_id FROM adm_capped)")} x""".stripMargin,

    // replays the RULES from the domain-hash arithmetic — never the
    // text — so the Spark side's real line walk is what is verified
    "wc_robots_rules" ->
      s"""WITH $robotsRulesCtes
         |SELECT domain, agent, path, allow FROM rules
         |WHERE path IS NOT NULL""".stripMargin,

    // the Crawl-delay lines, same replay discipline (both graftbot
    // groups' delays and the * group's)
    "wc_robots_delays" ->
      s"""WITH $robotsRulesCtes,
         |$robotsCapsCtes
         |SELECT domain, agent, CAST(delay AS INT) AS delay
         |FROM rdelays""".stripMargin,

    // the Sitemap lines: one per domain at the header plus the h%6
    // in-group second advertisement
    "wc_robots_sitemaps" ->
      s"""WITH $robotsRulesCtes
         |SELECT domain,
         |  'https://' || domain || '/sitemap.xml' AS sitemap_url
         |FROM doms
         |UNION ALL
         |SELECT domain, 'https://' || domain || '/sitemap2.xml'
         |FROM doms WHERE h % 6 = 0""".stripMargin,

    // longest-match with Allow on ties, encoded as max(len·2+allow)
    // (length dominates, the allow bit breaks ties — the integer
    // twin of the Spark side's max(struct(len, allow))); wildcard
    // and end-anchored rules replay through the same regex build as
    // [[RobotsOps.matchStruct]]
    "wc_robots_admit" ->
      s"""WITH $robotsRulesCtes,
         |sel AS MATERIALIZED (SELECT r.domain, r.path, r.allow
         |        FROM rules r JOIN doms d ON r.domain = d.domain
         |        WHERE r.path IS NOT NULL AND
         |          r.agent = ${RobotsOps.sqlSelAgent("d")}),
         |u AS (SELECT doc_id, domain,
         |        regexp_extract(canonical,
         |          '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path
         |      FROM ${UrlOps.sqlCanonSrc} c),
         |j AS (SELECT u.doc_id, u.domain, u.path,
         |        r.path AS rp, r.allow
         |      FROM u LEFT JOIN sel r ON u.domain = r.domain),
         |m AS (SELECT doc_id, domain, path,
         |        max(${RobotsOps.sqlMatchScore("path", "rp", "allow")})
         |          AS score
         |      FROM j GROUP BY doc_id, domain, path)
         |SELECT doc_id, domain, path,
         |       (score IS NULL OR score % 2 = 1) AS allowed
         |FROM m""".stripMargin,

    "wc_link_graph" ->
      s"""WITH ${LinkOps.sqlPagesCte(UrlOps.sqlCanonSrc)},
         |${LinkOps.sqlEdgesCte}
         |SELECT src, dst FROM ledges""".stripMargin,

    // discovery composed end to end: fresh targets (anti-join on the
    // canonical key), target-domain PSL resolution, the robots
    // verdict encoding, the per-domain cap
    "wc_frontier" ->
      s"""WITH $robotsRulesCtes,
         |$robotsCapsCtes,
         |sel AS MATERIALIZED (SELECT r.domain, r.path, r.allow
         |        FROM rules r JOIN doms d ON r.domain = d.domain
         |        WHERE r.path IS NOT NULL AND
         |          r.agent = ${RobotsOps.sqlSelAgent("d")}),
         |${LinkOps.sqlPagesCte(UrlOps.sqlCanonSrc)},
         |${LinkOps.sqlEdgesCte},
         |tg AS (SELECT dst, count(*) AS indeg FROM ledges
         |       WHERE dst NOT IN (SELECT DISTINCT canonical
         |                         FROM ${UrlOps.sqlCanonSrc} c2)
         |       GROUP BY dst),
         |$targetDomainCtes,
         |fj AS (SELECT t.dst, t.domain, any_value(t.indeg) AS indeg,
         |         max(${RobotsOps.sqlMatchScore(
                      "t.path", "r.path", "r.allow")}) AS score
         |       FROM tdom t LEFT JOIN sel r ON t.domain = r.domain
         |       GROUP BY t.dst, t.domain),
         |fa AS (SELECT dst, domain, indeg FROM fj
         |       WHERE score IS NULL OR score % 2 = 1),
         |fc AS (SELECT f.domain, f.dst, row_number() OVER (
         |         PARTITION BY f.domain
         |         ORDER BY f.indeg DESC, f.dst) AS rn,
         |         coalesce(rc.cap, $CapK) AS cap
         |       FROM fa f LEFT JOIN rcaps rc ON f.domain = rc.domain)
         |SELECT domain, dst FROM fc WHERE rn <= cap""".stripMargin,

    "wc_sitemap_urls" ->
      s"""WITH ${SitemapOps.sqlSitemapCte(UrlOps.sqlCanonSrc)}
         |SELECT host, loc, lastmod FROM smrows""".stripMargin,

    // the sharded hosts' child documents, replayed from host-hash
    // arithmetic
    "wc_sitemap_index" ->
      s"""WITH ${SitemapOps.sqlSitemapCte(UrlOps.sqlCanonSrc)}
         |SELECT host, 'https://' || host || '/sm/0.xml' AS child_loc
         |FROM smhosts WHERE h % 4 = 0
         |UNION ALL
         |SELECT host, 'https://' || host || '/sm/1.xml'
         |FROM smhosts WHERE h % 4 = 0""".stripMargin,

    // the crawl log's planted fetch dates replayed from the same
    // hash arithmetic; the comparison itself is genuine DATE > DATE
    "wc_recrawl" ->
      s"""WITH ${SitemapOps.sqlSitemapCte(UrlOps.sqlCanonSrc)},
         |rlog AS (SELECT canonical,
         |    CASE WHEN h % 6 = 0 THEN DATE '2026-12-28'
         |         ELSE DATE '2026-01-01' + CAST(h % 358 AS INTEGER)
         |    END AS fetched_at
         |  FROM (SELECT canonical, ${Hashing.sqlH32("canonical")} AS h
         |        FROM (SELECT DISTINCT canonical
         |              FROM ${UrlOps.sqlCanonSrc} c2)))
         |SELECT l.canonical, CAST(s.lastmod AS DATE) AS modified,
         |  l.fetched_at
         |FROM smrows s JOIN rlog l ON s.loc = l.canonical
         |WHERE s.lastmod IS NOT NULL
         |  AND CAST(s.lastmod AS DATE) > l.fetched_at""".stripMargin,

    // the frontier oracle pattern with the two-source union and the
    // via flags carried through the gate
    "wc_discovery" ->
      s"""WITH $robotsRulesCtes,
         |$robotsCapsCtes,
         |sel AS MATERIALIZED (SELECT r.domain, r.path, r.allow
         |        FROM rules r JOIN doms d ON r.domain = d.domain
         |        WHERE r.path IS NOT NULL AND
         |          r.agent = ${RobotsOps.sqlSelAgent("d")}),
         |${LinkOps.sqlPagesCte(UrlOps.sqlCanonSrc)},
         |${LinkOps.sqlEdgesCte},
         |${SitemapOps.sqlSitemapCte(UrlOps.sqlCanonSrc)},
         |uni AS (SELECT loc AS dst, TRUE AS via_sitemap,
         |               FALSE AS via_link,
         |               CAST(lastmod AS DATE) AS lm FROM smrows
         |        UNION ALL
         |        SELECT dst, FALSE, TRUE, NULL FROM ledges),
         |grp AS (SELECT dst, bool_or(via_sitemap) AS via_sitemap,
         |               bool_or(via_link) AS via_link,
         |               sum(CASE WHEN via_link THEN 1 ELSE 0 END)
         |                 AS indeg,
         |               max(lm) AS lm
         |        FROM uni GROUP BY dst),
         |tg AS (SELECT g.* FROM grp g
         |       WHERE g.dst NOT IN (SELECT DISTINCT canonical
         |                           FROM ${UrlOps.sqlCanonSrc} c2)),
         |$targetDomainCtes,
         |fj AS (SELECT t.dst, t.domain,
         |         any_value(t.via_sitemap) AS via_sitemap,
         |         any_value(t.via_link) AS via_link,
         |         any_value(t.indeg) AS indeg,
         |         any_value(t.lm) AS lm,
         |         max(${RobotsOps.sqlMatchScore(
                      "t.path", "r.path", "r.allow")}) AS score
         |       FROM tdom t LEFT JOIN sel r ON t.domain = r.domain
         |       GROUP BY t.dst, t.domain),
         |fa AS (SELECT dst, domain,
         |         indeg + CASE
         |           WHEN lm >= DATE '${SitemapOps.FreshSince}' THEN 2
         |           WHEN lm IS NOT NULL THEN 1 ELSE 0 END AS rank_score,
         |         CASE WHEN via_sitemap AND via_link THEN 'both'
         |              WHEN via_sitemap THEN 'sitemap'
         |              ELSE 'link' END AS via
         |       FROM fj WHERE score IS NULL OR score % 2 = 1),
         |fc AS (SELECT f.domain, f.dst, f.via, row_number() OVER (
         |         PARTITION BY f.domain
         |         ORDER BY f.rank_score DESC, f.dst) AS rn,
         |         coalesce(rc.cap, $CapK) AS cap
         |       FROM fa f LEFT JOIN rcaps rc ON f.domain = rc.domain)
         |SELECT domain, dst, via FROM fc WHERE rn <= cap""".stripMargin,

    // the q_pagerank oracle machinery over the replayed link edges —
    // string node ids, same integer fixed-point rounds
    "wc_link_rank" ->
      s"""WITH ${LinkOps.sqlPagesCte(UrlOps.sqlCanonSrc)},
         |${LinkOps.sqlEdgesCte},
         |e AS MATERIALIZED (SELECT src, dst FROM ledges),
         |n AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |d AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, CAST(${PageRank.Scale} AS BIGINT) AS rank
         |       FROM n),
         |${PageRank.sqlStepCtes(1)},
         |${PageRank.sqlStepCtes(2)},
         |${PageRank.sqlStepCtes(3)}
         |SELECT node, rank FROM r3""".stripMargin)

  /** PSL resolution of discovery TARGETS — from `tg(dst, …)` to
    * `tdom(dst, …, path, domain)`, additive `SELECT *` stages so any
    * passthrough columns (the via flags) survive. Shared by the
    * frontier and discovery oracles. */
  private lazy val targetDomainCtes: String = {
    val lastDefs = PublicSuffix.sqlLastLabels("parts").zipWithIndex
      .map { case (e, i) => s"$e AS last${i + 1}" }.mkString(",\n       |         ")
      .stripMargin
    val lastNames = (1 to PublicSuffix.rules.maxMatchLabels)
      .map(k => s"last$k")
    s"""td AS (SELECT t.*,
       |         regexp_extract(dst, '^[a-z]+://([^/?#:]*)', 1) AS host,
       |         regexp_extract(dst, '^[a-z]+://[^/]+(/[^?#]*)', 1)
       |           AS path
       |       FROM tg t),
       |tp AS (SELECT *, string_split(host, '.') AS parts FROM td),
       |tl AS (SELECT *,
       |         $lastDefs
       |       FROM tp),
       |tx AS (SELECT *,
       |         ${PublicSuffix.sqlSuffixLabels(lastNames)}
       |           AS sfx
       |       FROM tl),
       |tdom AS (SELECT *,
       |         ${PublicSuffix.sqlDomainFrom("host", "parts", "sfx")}
       |           AS domain
       |       FROM tx)""".stripMargin
  }

  /** The robots rule table replayed from the domain-hash arithmetic
    * (the generator's formulas — [[RobotsOps.robotsTxt]]): first
    * graftbot group on even hashes (one-digit Disallow + two-digit
    * Allow carve-back, wildcard end-anchored Disallow on h%3), a
    * SECOND graftbot group on h%4 (the §2.2.1 merge: /q/ Disallow),
    * `*` group everywhere (full disallow on h%5, NO rule on h%7 —
    * the empty-Disallow case — else one digit, plus a wildcard Allow
    * on h%11), the shorter-prefix `graft` group on h%3==1 (/g/
    * Disallow) and the never-binding `graftbot-news` group on h%5==1
    * (full Disallow) — both must appear in the PARSED table even
    * where selection ignores them. */
  private lazy val robotsRulesCtes =
    s"""doms AS MATERIALIZED (SELECT domain, ${Hashing.sqlH32("domain")} AS h
       |  FROM (SELECT DISTINCT domain FROM ${UrlOps.sqlCanonSrc} cc)),
       |rules AS MATERIALIZED (
       |  SELECT domain, 'graftbot' AS agent,
       |    '/p/' || CAST(h % 10 AS VARCHAR) AS path, FALSE AS allow
       |  FROM doms WHERE h % 2 = 0
       |  UNION ALL
       |  SELECT domain, 'graftbot',
       |    '/p/' || CAST(h % 10 AS VARCHAR) ||
       |      CAST((h // 10) % 10 AS VARCHAR), TRUE
       |  FROM doms WHERE h % 2 = 0
       |  UNION ALL
       |  SELECT domain, 'graftbot',
       |    '/p/*' || CAST((h // 1000) % 10 AS VARCHAR) || '$$', FALSE
       |  FROM doms WHERE h % 2 = 0 AND h % 3 = 0
       |  UNION ALL
       |  SELECT domain, 'graftbot',
       |    '/q/' || CAST((h // 100) % 10 AS VARCHAR), FALSE
       |  FROM doms WHERE h % 4 = 0
       |  UNION ALL
       |  SELECT domain, '*',
       |    CASE WHEN h % 5 = 0 THEN '/'
       |         WHEN h % 7 = 0 THEN NULL
       |         ELSE '/p/' || CAST((h // 100) % 10 AS VARCHAR) END,
       |    FALSE
       |  FROM doms
       |  UNION ALL
       |  SELECT domain, '*',
       |    '/p/*' || CAST((h // 10000) % 10 AS VARCHAR) || '$$', TRUE
       |  FROM doms WHERE h % 11 = 0
       |  UNION ALL
       |  SELECT domain, 'graft',
       |    '/g/' || CAST(h % 10 AS VARCHAR), FALSE
       |  FROM doms WHERE h % 3 = 1
       |  UNION ALL
       |  SELECT domain, 'graftbot-news', '/', FALSE
       |  FROM doms WHERE h % 5 = 1)""".stripMargin

  /** The Crawl-delay table and the per-domain frontier caps replayed
    * from the generator's arithmetic ([[RobotsOps.robotsTxt]] /
    * [[RobotsOps.frontierCaps]]): graftbot delay 15 on h%3 else 2,
    * 30 in the h%4 second group (merge takes the max), graft 8 on
    * h%3==1, the DELAY-ONLY graftbot 25 on odd h%3==2 domains, `*`
    * delay 20 on h%13; cap = min(CapK, max(1, window div delay))
    * under the same most-specific selection as the rules
    * ([[RobotsOps.sqlSelAgent]]). Needs `doms` in scope. */
  private lazy val robotsCapsCtes =
    s"""rdelays AS MATERIALIZED (
       |  SELECT domain, 'graftbot' AS agent,
       |    CASE WHEN h % 3 = 0 THEN 15 ELSE 2 END AS delay
       |  FROM doms WHERE h % 2 = 0
       |  UNION ALL
       |  SELECT domain, 'graftbot', 30 FROM doms WHERE h % 4 = 0
       |  UNION ALL
       |  SELECT domain, 'graft', 8 FROM doms WHERE h % 3 = 1
       |  UNION ALL
       |  SELECT domain, 'graftbot', 25
       |  FROM doms WHERE h % 2 <> 0 AND h % 3 = 2
       |  UNION ALL
       |  SELECT domain, '*', 20 FROM doms WHERE h % 13 = 0),
       |rcaps AS MATERIALIZED (
       |  SELECT d.domain,
       |    LEAST($CapK, GREATEST(1,
       |      ${RobotsOps.FrontierWindowSec} // max(d.delay))) AS cap
       |  FROM rdelays d JOIN doms dd ON d.domain = dd.domain
       |  WHERE d.agent = ${RobotsOps.sqlSelAgent("dd")}
       |  GROUP BY d.domain)""".stripMargin

  /** The admission chain as shared CTEs ending in
    * `adm_capped(doc_id, domain, canonical)`. */
  private lazy val admissionCtes =
    s"""c AS (SELECT * FROM ${UrlOps.sqlCanonSrc} cc),
       |surv AS (SELECT canonical, min(doc_id) AS doc_id
       |         FROM c GROUP BY canonical),
       |adm AS (SELECT s.doc_id, c.domain, s.canonical, c.n_chars
       |        FROM surv s JOIN c ON s.doc_id = c.doc_id
       |        WHERE ${Hashing.sqlH32("c.domain")} % 5 <> 0),
       |adm_capped AS (SELECT doc_id, domain, canonical FROM (
       |  SELECT doc_id, domain, canonical,
       |    row_number() OVER (PARTITION BY domain
       |      ORDER BY n_chars DESC, doc_id ASC) AS rn
       |  FROM adm) WHERE rn <= $CapK)""".stripMargin
}
