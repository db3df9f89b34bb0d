package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link extraction + reference resolution — the crawl DISCOVERY side
  * of the front-end ([[UrlOps]], [[RobotsOps]]): a crawler's frontier
  * and every link-based quality signal (PageRank gating is a
  * standard corpus filter) start from the href graph, and hrefs
  * arrive in every RFC 3986 reference form — absolute, protocol-
  * relative (`//host/p`), absolute-path (`/p/x`), relative
  * (`sub/x`), dotted (`../q/x`), and same-document (`#frag`).
  *
  * Resolution is the published RFC 3986 §5 merge, expressed as a
  * scan-stage `when` chain over the page's canonical base URL, with
  * §5.2.4 dot-segment removal as a BOUNDED loop to fixpoint: each
  * pass removes single-dot segments (`/./`, trailing `/.`) and one
  * nesting level of `/seg/../` pairs (plus the trailing-`/..` form),
  * unrolled [[DotPasses]] times — leftmost-first rewriting mirrors
  * the RFC's stack walk, and 8 levels covers any real page (deeper
  * nests resolve partially, never incorrectly: leftover root-level
  * `..` are swept by the final root rewrite). Resolved targets then
  * ride the SAME
  * canonicalizer as crawled URLs ([[UrlOps.withUrlParts]]), so the
  * link graph's node space IS the admission pipeline's key space —
  * which is what lets PageRank over the link graph gate the corpus
  * without any id mapping.
  *
  * The fixture synthesizes real anchor markup per canonical page
  * (every reference form planted by page arithmetic); extraction is
  * a genuine `href="…"` scan. The oracle replays the href formulas
  * and the resolution arithmetic — on this fixture full
  * canonicalization is the identity on resolved targets minus the
  * fragment (no www/ports/params planted in targets), so a
  * canonicalizer that ALTERED a resolved target would hash-diverge.
  */
object LinkOps {

  /** Canonical pages of a canon frame, with the page number and host
    * the link formulas key on. */
  def pages(canon: DataFrame): DataFrame =
    canon.select(col("canonical")).distinct()
      .withColumn("page",
        regexp_extract(col("canonical"), "/p/([0-9]+)", 1).cast("long"))
      .withColumn("host", UrlOps.hostOf(col("canonical")))

  /** Real anchor markup for a page: every RFC 3986 reference form,
    * planted by page arithmetic. */
  def linkHtml(page: Column, host: Column): Column = concat_ws("\n",
    lit("<html lang=\"en\"><body>"),
    concat(lit("<p>page "), page.cast("string"), lit("</p>")),
    concat(lit("<a href=\"/p/"), (page + 7).cast("string"),
      lit("\">next</a>")),
    concat(lit("<a href=\"../q/"), (page % 10).cast("string"),
      lit("\">up</a>")),
    concat(lit("<a href=\"sub/"), (page % 10).cast("string"),
      lit("\">sub</a>")),
    // single-dot segment: ./s/X resolves to /p/s/X (§5.2.4 removes
    // the "." without touching the directory)
    when(page % 3 === 0,
      concat(lit("<a href=\"./s/"), (page % 3 + page % 5).cast("string"),
        lit("\">dot</a>"))),
    // three dot-dot levels from a one-deep base: /p/../../../d/X —
    // the excess levels stop at the root, landing on /d/X
    when(page % 9 === 0,
      concat(lit("<a href=\"../../../d/"), (page % 2).cast("string"),
        lit("\">deep</a>"))),
    when(page % 4 === 0,
      lit("<a href=\"https://hub.example/p/0\">hub</a>")),
    when(page % 6 === 0,
      concat(lit("<a href=\"//"), host, lit("/top\">mirror</a>"))),
    when(page % 5 === 0, lit("<a href=\"#sec\">self</a>")),
    lit("</body></html>"))

  /** (canonical, href) — genuine regex extraction over the markup. */
  def extractedHrefs(canon: DataFrame): DataFrame =
    pages(canon)
      .select(col("canonical"), col("page"), col("host"),
        linkHtml(col("page"), col("host")).as("html"))
      .select(col("canonical"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"([^\"]+)\""), lit(1))).as("href"))

  /** RFC 3986 §5 reference resolution against the page's canonical
    * base: absolute kept, `//` gets the base scheme, `/` the origin,
    * `#` the base document, anything else merges onto the base
    * directory; then the bounded dot-segment removal. */
  def resolve(base: Column, href: Column): Column = {
    val scheme = regexp_extract(base, "^([a-z]+)://", 1)
    val origin = regexp_extract(base, "^([a-z]+://[^/?#]+)", 1)
    val basePath = regexp_extract(base, "^[a-z]+://[^/?#]+(/[^?#]*)", 1)
    val baseDir = regexp_replace(basePath, "[^/]+$", "")
    val joined =
      // any scheme-prefixed reference is ABSOLUTE per RFC 3986 (a
      // relative first segment cannot contain ':'), which keeps
      // mailto:/javascript:/tel: anchors intact instead of gluing
      // them onto the base directory — consumers that only fetch web
      // resources filter on ^https?:// after resolution
      when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), href)
        .when(href.startsWith("//"), concat(scheme, lit(":"), href))
        .when(href.startsWith("/"), concat(origin, href))
        .when(href.startsWith("#"), concat(base, href))
        // query-only reference: base PATH + the new query (§5.3)
        .when(href.startsWith("?"), concat(origin, basePath, href))
        .otherwise(concat(origin, baseDir, href))
    // bounded dot-segment removal to fixpoint ([[DotPasses]] unrolled
    // passes), applied to the PATH part only: a whole-URL rewrite
    // would let a root-level ".." eat the authority
    // ("https://h/../x" → "https:/x")
    val jOrigin = regexp_extract(joined,
      "^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)
    val jPath = substring(joined, length(jOrigin) + 1, lit(1000000))
    // every dot-segment form (/./ , /../ , trailing /. and /..)
    // contains "/.": the guard lets the common clean path skip the
    // whole unrolled chain (measured 2x on the stress link build;
    // a ".hidden"-style false positive just runs the no-op chain)
    val cleaned = when(jPath.contains("/."),
      (1 to DotPasses).foldLeft(jPath)((p, _) => dotPass(p)))
      .otherwise(jPath)
    // RFC 3986: ".." at the root resolves to the root itself
    val swept = regexp_replace(cleaned, "^(/\\.\\.)+(/|$)", "/")
    concat(jOrigin, swept)
  }

  /** Unrolled fixpoint depth for dot-segment removal — each pass
    * clears one nesting level of `..` (and all `.` segments), so 8
    * covers any real page's reference depth. */
  val DotPasses = 8

  /** One §5.2.4 rewrite pass: single-dot segments first, then one
    * nesting level of `/seg/../` — the `(/|$)` alternation folds the
    * trailing `/.` and `/..` forms into the inner rules (two regex
    * scans per pass, not four). The lookahead keeps a literal `..`
    * from matching as the popped segment — `/../../` collapsing to
    * `/` would silently swallow TWO unresolved levels mid-path
    * (caught by the deep-nest spec); only the caller's root rewrite
    * may drop bare `..` runs. */
  private def dotPass(p: Column): Column = {
    val s1 = regexp_replace(p, "/\\.(/|$)", "/")
    regexp_replace(s1, "/(?!\\.\\./)[^/]+/\\.\\.(/|$)", "/")
  }

  /** The memoized (src, dst) edge frame for a corpus key (`canon` is
    * only evaluated on a building call) — the crawl-cycle EDGE
    * ARTIFACT read by wc_link_graph, wc_link_rank, wc_frontier,
    * wc_discovery, and wc_frontier_incr. */
  def linkGraphFor(key: String, canon: => DataFrame): DataFrame =
    edgeArtifact(key)(linkGraph(canon))

  /** An [[IndexCache.frameArtifact]] of kind "edges" for an ARBITRARY
    * deterministic edge-frame build — the general form of
    * [[linkGraphFor]]: the incremental cycle registers its MERGED
    * snapshot (previous artifact ∪ new-page extraction) here, so the
    * extraction cost is paid once per cycle (the artifact WRITE) and
    * every later consumer — including the next cycle — reads it. A
    * cycle build nests a [[linkGraphFor]] read of the dir artifact.
    * The session comes from the thread, NOT from evaluating `build`
    * — the incremental cycle's build block runs eager actions
    * (checkpoints, counts, bloom construction), and forcing it just
    * to learn the session would re-pay the full first-touch cost in
    * every process that holds a perfectly valid persisted artifact. */
  def edgeArtifact(key: String)(build: => DataFrame): DataFrame =
    IndexCache.frameArtifact(
      org.apache.spark.sql.SparkSession.active, "edges", key)(build)

  /** (src, dst) canonical link edges: extract, resolve, run the
    * TARGET through the same canonicalizer as crawled URLs, drop
    * self-loops, dedup. One scan + the canonicalizer's broadcast
    * rule joins + one distinct exchange. */
  def linkGraph(canon: DataFrame): DataFrame = {
    val resolved = extractedHrefs(canon)
      .select(col("canonical").as("src"),
        resolve(col("canonical"), col("href")).as("url"))
      // only fetchable web URIs enter the graph (mailto:/javascript:
      // anchors resolve absolute above and drop here)
      .filter(col("url").rlike("^https?://"))
    UrlOps.withUrlParts(resolved, col("url"))
      .select(col("src"), col("canonical").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  // ---------------------------------------------------------------
  // DuckDB twins — the href formulas and the resolution arithmetic.
  // ---------------------------------------------------------------

  /** CTE `lpages(canonical, page, host, origin)` over a canon
    * source. */
  def sqlPagesCte(canonSrc: String): String =
    s"""lpages AS MATERIALIZED (SELECT canonical,
       |    CAST(regexp_extract(canonical, '/p/([0-9]+)', 1) AS BIGINT)
       |      AS page,
       |    regexp_extract(canonical, '^[a-z]+://([^/?#:]*)', 1) AS host,
       |    regexp_extract(canonical, '^([a-z]+://[^/?#]+)', 1) AS origin
       |  FROM (SELECT DISTINCT canonical FROM $canonSrc cc))""".stripMargin

  /** CTE `ledges(src, dst)` — the generator's hrefs resolved
    * arithmetically (canonicalization is the identity on these
    * targets minus the fragment, see the object doc). */
  val sqlEdgesCte: String =
    s"""lraw AS (
       |  SELECT canonical AS src,
       |    origin || '/p/' || CAST(page + 7 AS VARCHAR) AS dst
       |  FROM lpages
       |  UNION ALL
       |  SELECT canonical, origin || '/q/' || CAST(page % 10 AS VARCHAR)
       |  FROM lpages
       |  UNION ALL
       |  SELECT canonical,
       |    origin || '/p/sub/' || CAST(page % 10 AS VARCHAR)
       |  FROM lpages
       |  UNION ALL
       |  SELECT canonical,
       |    origin || '/p/s/' || CAST(page % 3 + page % 5 AS VARCHAR)
       |  FROM lpages WHERE page % 3 = 0
       |  UNION ALL
       |  SELECT canonical, origin || '/d/' || CAST(page % 2 AS VARCHAR)
       |  FROM lpages WHERE page % 9 = 0
       |  UNION ALL
       |  SELECT canonical, 'https://hub.example/p/0'
       |  FROM lpages WHERE page % 4 = 0
       |  UNION ALL
       |  SELECT canonical, 'https://' || host || '/top'
       |  FROM lpages WHERE page % 6 = 0
       |  UNION ALL
       |  SELECT canonical, canonical
       |  FROM lpages WHERE page % 5 = 0),
       |ledges AS MATERIALIZED (SELECT DISTINCT src, dst FROM lraw
       |           WHERE src <> dst)""".stripMargin
}
