package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.Warc
import graft.streaming.{BloomSeenSet, Compiles}
import org.apache.spark.sql.functions.col

/** The streaming URL-admission contract: canonical variants collapse
  * within a batch, a later wave's recrawl of an admitted canonical is
  * NOT re-admitted, the seen-sketch survives restarts, metadata
  * records without a Target-URI drop, and a checkpoint replay leaves
  * the store byte-identical. */
class UrlStreamSpec extends SparkSpec {

  private def rec(id: Long, uri: Option[String]): Array[Byte] =
    Warc.record(
      Seq("WARC-Type" -> "response",
        "WARC-Record-ID" -> s"urn:graft:$id") ++
        uri.map("WARC-Target-URI" -> _),
      s"payload $id".getBytes("UTF-8"))

  private def land(feed: String, name: String,
                   recs: Seq[Array[Byte]]): Unit =
    Files.write(Paths.get(feed, name),
      recs.foldLeft(Array.emptyByteArray)(_ ++ _))

  test("first-crawl admission across waves, variants collapse, restart keeps the sketch") {
    val dir = Files.createTempDirectory("graft-urls").toString
    val feed = s"$dir/feed"; val out = s"$dir/admitted"
    val ckpt = s"$dir/ckpt"; val sketch = s"$dir/url.sketch"
    Files.createDirectories(Paths.get(feed))

    // wave 1: two spellings of page 1 (case, default port, param
    // order, utm, fragment), one page 2, one metadata record with no
    // Target-URI (must drop)
    land(feed, "w1.warc", Seq(
      rec(1, Some("HTTPS://WWW.Example.COM:443/p/1?b=2&a=1&utm_source=x#f")),
      rec(2, Some("https://example.com/p/1?a=1&b=2")),
      rec(3, Some("https://example.com/p/2")),
      rec(9, None)))
    val seen1 = new BloomSeenSet("canonical", expectedKeys = 1000,
      persistPath = Some(sketch))
    UrlStream.startAdmission(spark, feed, out, ckpt, seen1)
      .awaitTermination()
    val w1 = UrlStream.admitted(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(w1 == Set(
      ("https://example.com/p/1?a=1&b=2", 1L),
      ("https://example.com/p/2", 3L)),
      s"wave 1 admitted: $w1")
    // the store doubles as the fetch LOG: every admitted row carries
    // the batch's landing date — the table re-crawl scheduling joins
    val log1 = UrlStream.fetchLog(spark, out).collect()
      .map(r => (r.getString(0), r.getDate(1))).toMap
    assert(log1.keySet == w1.map(_._1), s"fetch log keys: ${log1.keySet}")
    assert(log1.values.forall(_ != null),
      "every admitted fetch must carry a fetched_at date")

    // wave 2: a recrawl of page 1 under yet another spelling (must
    // NOT re-admit) plus a genuinely new page 3
    land(feed, "w2.warc", Seq(
      rec(4, Some("https://Example.com/p/1?utm_campaign=z&b=2&a=1")),
      rec(5, Some("https://example.com/p/3"))))
    UrlStream.startAdmission(spark, feed, out, ckpt, seen1)
      .awaitTermination()
    val w2 = UrlStream.admitted(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(w2 == w1 + (("https://example.com/p/3", 5L)),
      s"after wave 2: $w2")

    // restart: a FRESH process loads the persisted sketch; a wave-3
    // recrawl still dedups, a new page still admits
    land(feed, "w3.warc", Seq(
      rec(6, Some("https://www.example.com/p/2")),
      rec(7, Some("https://example.com/p/4"))))
    val seen2 = new BloomSeenSet("canonical", expectedKeys = 1000,
      persistPath = Some(sketch))
    val compiled = Compiles.during {
      UrlStream.startAdmission(spark, feed, out, ckpt, seen2)
        .awaitTermination()
    }
    // wave 3 has wave 2's shape: its body, run in `spark`, reuses the
    // classes wave 2 compiled
    assert(compiled == 0, s"wave 3 compiled $compiled classes")
    val w3 = UrlStream.admitted(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(w3 == w2 + (("https://example.com/p/4", 7L)),
      s"after wave 3: $w3")

    // replay with no new archives: checkpoint says all consumed —
    // the store must stay byte-identical (no batch even fires)
    val before = UrlStream.admitted(spark, out).collect().length
    UrlStream.startAdmission(spark, feed, out, ckpt, seen2)
      .awaitTermination()
    assert(UrlStream.admitted(spark, out).collect().length == before)
  }

  // ---- admitted CURATION composition (the wc_admitted_text twin) --

  private case class Page(id: Long, uri: String, lang: String,
                          body: String, status: Int = 200,
                          links: Seq[String] = Nil)

  private def htmlOf(p: Page): String =
    s"""<html lang="${p.lang}"><body><p>${p.body}</p>""" +
      p.links.map(l => s"""<a href="$l">x</a>""").mkString +
      "</body></html>"

  private def httpRec(p: Page): Array[Byte] =
    Warc.record(
      Seq("WARC-Type" -> "response",
        "WARC-Record-ID" -> s"urn:graft:${p.id}",
        "WARC-Target-URI" -> p.uri),
      Warc.httpResponse(p.status, if (p.status == 200) "OK" else "Not Found",
        Seq("Content-Type" -> "text/html"),
        if (p.status == 200) htmlOf(p).getBytes("UTF-8")
        else Array.emptyByteArray))

  private def emptyChrome = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("lang", "h")
  }

  /** The BATCH composition over the same records — canonicalize →
    * first per canonical → chrome-curate only those → left-join the
    * outcome (the wc_admitted_text shape, null columns for admitted
    * fetches curation dropped). */
  private def batchTwin(pages: Seq[Page]) = {
    import spark.implicits._
    val recs = pages.map(p => (p.id, p.uri, p.status, "text/html",
        (if (p.status == 200) htmlOf(p) else "").getBytes("UTF-8")))
      .toDF("doc_id", "url", "status", "content_type", "body")
    val canon = UrlOps.withUrlParts(recs,
      org.apache.spark.sql.functions.col("url"))
    import org.apache.spark.sql.functions._
    val firsts = canon.groupBy(col("canonical"))
      .agg(min(struct(col("doc_id"), col("url"))).as("m"))
      .select(col("canonical"), col("m.doc_id").as("doc_id"),
        col("m.url").as("url"))
    val kept = canon.join(firsts.select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    firsts.join(
        CrawlText.curatedWithChrome(kept, emptyChrome),
        Seq("doc_id"), "left")
      .select(col("canonical"), col("doc_id"), col("url"), col("lang"),
        col("n_chars"), col("text_md5"))
      .collect().map(_.toSeq).toSet
  }

  test("admitted curation: only first-crawl bodies curate, parity with " +
    "the batch composition holds across a restart") {
    val dir = Files.createTempDirectory("graft-urlcur").toString
    val feed = s"$dir/feed"; val out = s"$dir/curated"
    val ckpt = s"$dir/ckpt"; val sketch = s"$dir/url.sketch"
    Files.createDirectories(Paths.get(feed))

    // wave 1: two spellings of page A (different doc_ids), page B,
    // and a 404 page D — admitted, but curation must drop its body
    val a1 = Page(1, "HTTPS://WWW.Site.COM:443/a?b=2&a=1&utm_source=x#f",
      "en", "the quick brown fox jumps over the lazy dog",
      links = Seq("/b", "/new1", "../up")) // /b admitted same batch
    val a2 = Page(2, "https://site.com/a?a=1&b=2",
      "en", "a recrawl body that must never be extracted",
      links = Seq("/from-the-loser")) // dup record: must NOT discover
    val b = Page(3, "https://site.com/b",
      "en", "an entirely different page with plenty of words",
      links = Seq("//www.site.com/x")) // protocol-relative + www-strip
    val d = Page(6, "https://site.com/d", "en", "", status = 404)
    land(feed, "w1.warc", Seq(a1, a2, b, d).map(httpRec))
    val seen1 = new BloomSeenSet("canonical", expectedKeys = 1000,
      persistPath = Some(sketch))
    val frontier = s"$dir/frontier"
    UrlStream.startAdmittedCuration(spark, feed, out, ckpt,
        emptyChrome, seen1, frontierDir = Some(frontier))
      .awaitTermination()
    val f0 = spark.read.parquet(s"$frontier/ingest_batch=0")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(f0 == Set(
      ("https://site.com/new1", "site.com"),
      ("https://site.com/up", "site.com"),
      ("https://site.com/x", "site.com")),
      s"wave-1 discovery: $f0") // /b excluded (admitted this batch);
      // the losing duplicate's body contributed nothing
    // drop the store's fetched_at (wall-clock grain) before the
    // value-parity compare; its presence is pinned separately below
    val store1 = spark.read.parquet(s"$out/ingest_batch=0")
    assert(store1.columns.contains("fetched_at"),
      "curated store rows must carry the fetch-log date")
    assert(store1.filter(col("fetched_at").isNull).count() == 0)
    val s1 = store1.drop("fetched_at")
      .collect().map(_.toSeq).toSet
    assert(s1 == batchTwin(Seq(a1, a2, b, d)),
      s"wave-1 store diverged from the batch composition: $s1")
    // the 404 admitted with null curation columns
    assert(s1.exists(r => r(1) == 6L && r(4) == null))

    // restart: fresh sketch instance from disk; wave 2 recrawls A
    // under a new spelling WITH A NEW BODY (if admission leaked, the
    // new body would curate and change the store) plus new page C
    val a3 = Page(7, "https://site.com/a/?a=1&b=2&utm_medium=m",
      "en", "poisoned recrawl body that must not appear anywhere",
      links = Seq("/poisoned-discovery")) // recrawl: no discovery either
    val c = Page(8, "https://site.com/c",
      "en", "the genuinely new page of wave two with words",
      links = Seq("/new1", "/b")) // /new1 still unfetched: re-emitted;
      // /b admitted in wave 1 (query-less canonical): excluded —
      // note bare /a would NOT be excluded: page A's admitted
      // canonical carries its query string, so /a is a different,
      // uncrawled resource (the canonical key is exact by design)
    land(feed, "w2.warc", Seq(a3, c).map(httpRec))
    val seen2 = new BloomSeenSet("canonical", expectedKeys = 1000,
      persistPath = Some(sketch))
    UrlStream.startAdmittedCuration(spark, feed, out, ckpt,
        emptyChrome, seen2, frontierDir = Some(frontier))
      .awaitTermination()
    val f1 = spark.read.parquet(s"$frontier/ingest_batch=1")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(f1 == Set(("https://site.com/new1", "site.com")),
      s"wave-2 discovery: $f1")
    val all = spark.read.parquet(s"$out/ingest_batch=0",
        s"$out/ingest_batch=1")
      .drop("fetched_at")
      .collect().map(_.toSeq).toSet
    // parity with the batch composition over BOTH waves' records
    assert(all == batchTwin(Seq(a1, a2, b, d, a3, c)),
      s"cross-restart store diverged: $all")
    assert(all.size == 4, "A, B, D, C — and nothing else")
    assert(!all.exists(_(1) == 7L), "the recrawl must not re-admit")
  }

  test("an all-duplicate wave lands an empty batch without corrupting history") {
    val dir = Files.createTempDirectory("graft-urls2").toString
    val feed = s"$dir/feed"; val out = s"$dir/admitted"
    val ckpt = s"$dir/ckpt"
    Files.createDirectories(Paths.get(feed))
    land(feed, "w1.warc", Seq(rec(1, Some("https://a.com/x"))))
    val seen = new BloomSeenSet("canonical", expectedKeys = 1000)
    UrlStream.startAdmission(spark, feed, out, ckpt, seen)
      .awaitTermination()
    land(feed, "w2.warc", Seq(rec(2, Some("https://A.com/x"))))
    UrlStream.startAdmission(spark, feed, out, ckpt, seen)
      .awaitTermination()
    val rows = UrlStream.admitted(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("https://a.com/x", 1L)), s"admitted: $rows")
  }
}
