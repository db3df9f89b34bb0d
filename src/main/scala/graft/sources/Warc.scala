package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC-style record archives — the web-crawl interchange format an
  * LLM-data pipeline ingests at the 100 TB scale band (Common Crawl
  * ships as exactly this: concatenated `WARC/1.0` records, usually as
  * concatenated per-record gzip members so archives stay seekable).
  * The reference spools raw crawl pages to a doc store one page per
  * record (bitcoinabuse/main.go:115-131 via its page fetch loop);
  * this is the batch-archive form of the same payload stream.
  *
  * Layout of one record (RFC-drafted WARC/1.0, ISO 28500):
  *
  *   WARC/1.0\r\n
  *   <Header-Name>: <value>\r\n ...     (ASCII named fields)
  *   Content-Length: <octets>\r\n       (payload length, mandatory)
  *   \r\n                               (blank line ends the block)
  *   <payload bytes>                    (exactly Content-Length octets)
  *   \r\n\r\n                           (record terminator)
  *
  * An ARCHIVE is records back-to-back — either raw, or each record
  * its own gzip member with the members back-to-back (`warc.gz`;
  * a standard gzip reader consumes concatenated members natively).
  *
  * Scale shape: the archive is the unit of parallelism — one task
  * walks one archive sequentially (the format is a byte stream with
  * no index; Content-Length is what lets the walker hop payloads
  * without scanning them). At 100 TB that is ~100k archives of ~1 GB
  * (the Common Crawl shard size) through `spark.read.format
  * ("binaryFile")` — embarrassingly parallel, no shuffle until the
  * parsed records aggregate. Archive size is bounded by the WRITER
  * (the spooler rolls archives at a byte budget), which is what keeps
  * the per-task byte walk in memory; the walker never materializes
  * more than one record ahead.
  *
  * Strictness discipline (same as [[PagedStream]]'s short-read
  * guards): a torn or desynced archive FAILS LOUDLY with the byte
  * offset — silently resyncing after a bad Content-Length would
  * serve payload bytes as record headers and corrupt every record
  * after the tear.
  */
object Warc {

  val Version = "WARC/1.0"
  private val Crlf = "\r\n".getBytes(US_ASCII)

  final case class WarcRecord(headers: Map[String, String],
                              payload: Array[Byte])

  /** One serialized record. `Content-Length` is computed here from
    * the payload — a caller-supplied value is rejected rather than
    * trusted, since a wrong length desyncs every later record. */
  def record(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    require(!headers.exists(_._1.equalsIgnoreCase("Content-Length")),
      "Content-Length is computed from the payload; do not supply it")
    require(headers.forall { case (k, v) =>
      !k.exists(c => c == '\r' || c == '\n' || c == ':') &&
        !v.exists(c => c == '\r' || c == '\n') },
      "header names/values must not contain CR, LF, or ':' in the name")
    val out = new ByteArrayOutputStream(payload.length + 128)
    out.write(Version.getBytes(US_ASCII)); out.write(Crlf)
    headers.foreach { case (k, v) =>
      out.write(s"$k: $v".getBytes(UTF_8)); out.write(Crlf)
    }
    out.write(s"Content-Length: ${payload.length}".getBytes(US_ASCII))
    out.write(Crlf); out.write(Crlf)
    out.write(payload)
    out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  /** One gzip member holding `bytes` — the `warc.gz` per-record
    * compression unit. Members concatenate into a valid multi-member
    * gzip stream. */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    out.toByteArray
  }

  def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && b(0) == 0x1f.toByte && b(1) == 0x8b.toByte

  /** Byte cursor over a record stream: single-byte peek/read for the
    * header walk, bulk read for payloads, and a running DECOMPRESSED
    * offset for loud errors. */
  private final class Cursor(in: java.io.InputStream) {
    private var pos = 0L
    private var peeked: Int = -2 // -2 = nothing buffered
    def offset: Long = pos
    def peek(): Int = { if (peeked == -2) peeked = in.read(); peeked }
    def read(): Int = {
      val b = peek(); peeked = -2; if (b >= 0) pos += 1; b
    }
    /** Exactly `len` bytes, or -1 short at end of stream. */
    def readFully(buf: Array[Byte], len: Int): Int = {
      var n = 0
      if (len > 0 && peeked != -2) {
        if (peeked == -1) return 0
        buf(0) = peeked.toByte; peeked = -2; n = 1
      }
      while (n < len) {
        val r = in.read(buf, n, len - n)
        if (r < 0) { pos += n; return n }
        n += r
      }
      pos += n; n
    }
  }

  /** Walk an archive into its records, in order, STREAMING: gzip
    * archives decompress through `GZIPInputStream` (multi-member
    * streams consume natively), and the walker materializes ONE
    * record at a time — memory is the current record + the gzip
    * window, never the decompressed archive, so archive size is
    * bounded by the writer's roll budget, not by task memory or the
    * 2 GB array limit. LOUD on malformation: version mismatch, header
    * block without CRLF termination, missing or non-numeric
    * Content-Length, truncated payload, and a missing record
    * terminator all throw with the (decompressed) archive byte
    * offset. */
  def records(archive: Array[Byte]): Iterator[WarcRecord] = {
    val base = new ByteArrayInputStream(archive)
    recordsFrom(
      if (isGzip(archive))
        new java.io.BufferedInputStream(new GZIPInputStream(base), 1 << 16)
      else base)
  }

  /** The streaming walk over any record stream — the [[records]]
    * engine, directly usable over a file/object-store stream so a
    * production reader never loads the archive blob at all. */
  def recordsFrom(in: java.io.InputStream): Iterator[WarcRecord] = {
    val c = new Cursor(in)

    def fail(off: Long, msg: String): Nothing =
      throw new IllegalStateException(
        s"malformed WARC archive at byte $off: $msg")

    /** One CRLF-terminated line as UTF-8 (CR forbidden inside by the
      * writer); None at a clean end-of-stream BEFORE any byte. */
    def line(start: Long, what: String): String = {
      val buf = new ByteArrayOutputStream(64)
      var b = c.read()
      while (b != '\r') {
        if (b == -1) fail(start, s"$what never terminated")
        buf.write(b)
        b = c.read()
      }
      if (c.read() != '\n') fail(c.offset, s"CR without LF in $what")
      new String(buf.toByteArray, UTF_8)
    }

    new Iterator[WarcRecord] {
      override def hasNext: Boolean = c.peek() != -1
      override def next(): WarcRecord = {
        val start = c.offset
        val version = line(start, "version line")
        if (version != Version)
          fail(start, s"expected '$Version' record marker, got '$version'" +
            " — a desynced walker reads payload bytes as a version line")
        var headers = Map.empty[String, String]
        var blank = false
        while (!blank) {
          val at = c.offset
          val l = line(start, "header block")
          if (l.isEmpty) blank = true
          else {
            val colon = l.indexOf(':')
            if (colon < 1) fail(at, s"header line without ': ': '$l'")
            headers += (l.substring(0, colon).trim
              -> l.substring(colon + 1).trim)
          }
        }
        val len = headers.getOrElse("Content-Length",
            fail(start, "record without Content-Length"))
          .toLongOption.filter(_ >= 0)
          .getOrElse(fail(start, "non-numeric Content-Length"))
        if (len > Int.MaxValue - 8)
          fail(start, s"payload of $len octets exceeds the single-record " +
            "bound — roll the archive at the writer")
        val payload = new Array[Byte](len.toInt)
        val got = c.readFully(payload, len.toInt)
        if (got < len)
          fail(start, s"payload of $len octets overruns the archive " +
            s"(only $got present) — torn archive")
        if (!(c.read() == '\r' && c.read() == '\n' &&
              c.read() == '\r' && c.read() == '\n'))
          fail(c.offset, "missing CRLFCRLF record terminator — " +
            "Content-Length does not cover the payload that was written")
        WarcRecord(headers, payload)
      }
    }
  }

  // ---- HTTP response payloads (the WARC-Type: response shape) ----

  /** A serialized HTTP/1.1 response — what a crawl's `response`
    * records actually carry as their payload (Content-Type:
    * application/http in real WARCs): status line, headers, blank
    * line, body bytes. */
  def httpResponse(status: Int, reason: String,
                   headers: Seq[(String, String)],
                   body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 128)
    out.write(s"HTTP/1.1 $status $reason".getBytes(US_ASCII)); out.write(Crlf)
    headers.foreach { case (k, v) =>
      out.write(s"$k: $v".getBytes(UTF_8)); out.write(Crlf)
    }
    out.write(Crlf)
    out.write(body)
    out.toByteArray
  }

  /** Parse an HTTP response payload into (status, headers, body).
    * None when the payload is not an HTTP message (e.g. a `resource`
    * record) — the caller's routing signal, not an error: a crawl
    * archive legitimately mixes record types. Malformed-after-the-
    * signature still returns None; strictness lives at the RECORD
    * layer (Content-Length framing), not inside payloads the crawler
    * captured verbatim from arbitrary servers. */
  def parseHttp(payload: Array[Byte]): Option[(Int, Map[String, String], Array[Byte])] = {
    if (payload.length < 12 ||
        !new String(payload, 0, 5, US_ASCII).equals("HTTP/"))
      return None
    def lineEnd(from: Int): Int = {
      var i = from
      while (i + 1 < payload.length &&
             !(payload(i) == '\r' && payload(i + 1) == '\n')) i += 1
      if (i + 1 < payload.length) i else -1
    }
    val se = lineEnd(0)
    if (se < 0) return None
    val statusLine = new String(payload, 0, se, US_ASCII).split(" ", 3)
    if (statusLine.length < 2) return None
    val status = statusLine(1).toIntOption.getOrElse(return None)
    var p = se + 2
    var headers = Map.empty[String, String]
    while (true) {
      val he = lineEnd(p)
      if (he < 0) return None
      if (he == p)
        return Some((status, headers,
          java.util.Arrays.copyOfRange(payload, p + 2, payload.length)))
      val line = new String(payload, p, he - p, UTF_8)
      val c = line.indexOf(':')
      if (c < 1) return None
      headers += (line.substring(0, c).trim.toLowerCase
        -> line.substring(c + 1).trim)
      p = he + 2
    }
    None // unreachable
  }

  // ---- Spark plumbing: documents → per-source archives → records ----

  final case class ArchiveRow(source: String, archive: Array[Byte])

  /** An archive plus its member-offset MANIFEST: `offsets(i)` /
    * `lengths(i)` frame member i in the COMPRESSED archive bytes
    * (one member = one record; for raw archives the "member" is the
    * raw record extent). The manifest is what the spooler writes
    * beside each archive in production: members concatenate into a
    * valid archive, so any run of consecutive members is ITSELF a
    * valid archive — a fat archive splits across tasks on manifest
    * boundaries instead of being walked by one ([[slices]]). */
  final case class ManifestedArchive(source: String, archive: Array[Byte],
                                     offsets: Array[Long],
                                     lengths: Array[Long])

  final case class ParsedRecord(source: String, pos: Long, doc_id: Long,
                                content_length: Long, payload: Array[Byte])

  /** A manifest-boundary slice: a valid archive holding members
    * `firstMember until firstMember+n` of its parent. */
  final case class ArchiveSlice(source: String, archive: Array[Byte],
                                firstMember: Long)

  /** Streaming per-source spool: rows arrive SORTED by (source, key)
    * within the partition (the repartition + sortWithinPartitions the
    * producers do), so each source's archive is emitted — and its
    * buffer released — the moment the iterator moves to the next
    * source. Per-task memory is ONE archive even when several sources
    * hash to the same partition (the writer's byte-budget roll bounds
    * the archive itself in production). Emits the member manifest
    * alongside. */
  private def spool[T](it: Iterator[T])(sourceOf: T => String)
                      (recordOf: T => Array[Byte]): Iterator[ManifestedArchive] =
    new Iterator[ManifestedArchive] {
      private var pending: Option[T] =
        if (it.hasNext) Some(it.next()) else None
      override def hasNext: Boolean = pending.isDefined
      override def next(): ManifestedArchive = {
        val src = sourceOf(pending.get)
        val gz = math.abs(src.hashCode % 2) == 0
        val out = new ByteArrayOutputStream(1 << 16)
        val offs = scala.collection.mutable.ArrayBuffer.empty[Long]
        val lens = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (pending.isDefined && sourceOf(pending.get) == src) {
          val rec = recordOf(pending.get)
          val member = if (gz) gzipMember(rec) else rec
          offs += out.size().toLong; lens += member.length.toLong
          out.write(member)
          pending = if (it.hasNext) Some(it.next()) else None
        }
        ManifestedArchive(src, out.toByteArray, offs.toArray, lens.toArray)
      }
    }

  /** One archive per source: docs hash to their source's partition,
    * records concatenate in doc_id order (the spooler's append
    * order). Sources hashing EVEN become `warc.gz`-style per-record
    * gzip member archives, odd stay raw — both shapes flow through
    * one parse path downstream. */
  def archivesFromDocuments(docs: DataFrame)
                           (implicit s: SparkSession): Dataset[ArchiveRow] = {
    import s.implicits._
    manifestedArchivesFromDocuments(docs)
      .map(m => ArchiveRow(m.source, m.archive))
  }

  /** [[archivesFromDocuments]] with the member manifest kept — the
    * production spool shape (directive: offset/length per member
    * beside each archive, so readers split fat archives). */
  def manifestedArchivesFromDocuments(docs: DataFrame)
      (implicit s: SparkSession): Dataset[ManifestedArchive] = {
    import s.implicits._
    docs.select(col("source"), col("doc_id"), col("text"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, String)]
      .mapPartitions(it => spool(it)(_._1) { case (source, id, text) =>
        record(Seq(
          "WARC-Type" -> "resource",
          "WARC-Record-ID" -> s"urn:graft:$id",
          "WARC-Target-URI" -> s"https://$source.example/$id"),
          text.getBytes(UTF_8))
      })
  }

  /** Cut a manifested archive into slices of at most `sliceBytes`
    * compressed bytes, on member boundaries — each slice is itself a
    * valid archive, so the strict walker runs unchanged per slice.
    * The manifest must TILE the archive (offsets contiguous from 0,
    * lengths summing to the byte count); a stale or torn manifest
    * fails loudly rather than serving mid-member bytes as records. */
  def slices(m: ManifestedArchive, sliceBytes: Long): Iterator[ArchiveSlice] = {
    require(m.offsets.length == m.lengths.length,
      s"archive ${m.source}: manifest offsets/lengths lengths differ")
    var expect = 0L
    var i = 0
    while (i < m.offsets.length) {
      if (m.offsets(i) != expect)
        throw new IllegalStateException(
          s"archive ${m.source}: manifest does not tile — member $i at " +
            s"offset ${m.offsets(i)}, expected $expect")
      expect += m.lengths(i); i += 1
    }
    if (expect != m.archive.length)
      throw new IllegalStateException(
        s"archive ${m.source}: manifest covers $expect bytes of " +
          s"${m.archive.length} — stale manifest")
    new Iterator[ArchiveSlice] {
      private var member = 0
      override def hasNext: Boolean = member < m.offsets.length
      override def next(): ArchiveSlice = {
        val first = member
        var bytes = 0L
        // always take at least one member, then fill to the budget
        while (member < m.offsets.length &&
               (member == first || bytes + m.lengths(member) <= sliceBytes)) {
          bytes += m.lengths(member); member += 1
        }
        ArchiveSlice(m.source,
          java.util.Arrays.copyOfRange(m.archive, m.offsets(first).toInt,
            (m.offsets(first) + bytes).toInt),
          first.toLong)
      }
    }
  }

  /** Manifested archives → parsed records with slice-level
    * parallelism: each archive explodes into ≤ `sliceBytes` slices on
    * member boundaries, every slice walks independently, and `pos` is
    * re-based by the slice's first-member index so the output is
    * IDENTICAL to the unsliced walk — the split is free of semantic
    * drift by construction. */
  def parseArchivesSliced(mans: Dataset[ManifestedArchive], sliceBytes: Long)
                         (implicit s: SparkSession): Dataset[ParsedRecord] = {
    import s.implicits._
    mans.flatMap(m => slices(m, sliceBytes))
      // slices of one fat archive land on different tasks
      .repartition(col("source"), col("firstMember"))
      .mapPartitions(_.flatMap { sl =>
        records(sl.archive).zipWithIndex.map { case (r, i) =>
          val id = r.headers.getOrElse("WARC-Record-ID",
              throw new IllegalStateException(
                s"archive ${sl.source}: record ${sl.firstMember + i} has " +
                  "no WARC-Record-ID"))
            .stripPrefix("urn:graft:").toLong
          ParsedRecord(sl.source, sl.firstMember + i, id,
            r.headers("Content-Length").toLong, r.payload)
        }
      })
  }

  /** Archives → one row per record: walk position, the doc id parsed
    * back out of WARC-Record-ID, the octet length the writer
    * declared, and the payload itself. One sequential walk per
    * archive, no shuffle — parallelism is the archive count. */
  def parseArchives(arch: Dataset[ArchiveRow])
                   (implicit s: SparkSession): Dataset[ParsedRecord] = {
    import s.implicits._
    arch.mapPartitions(_.flatMap { a =>
      records(a.archive).zipWithIndex.map { case (r, i) =>
        val id = r.headers.getOrElse("WARC-Record-ID",
            throw new IllegalStateException(
              s"archive ${a.source}: record $i has no WARC-Record-ID"))
          .stripPrefix("urn:graft:").toLong
        ParsedRecord(a.source, i.toLong, id,
          r.headers("Content-Length").toLong, r.payload)
      }
    })
  }

  final case class HttpRecord(source: String, doc_id: Long, status: Int,
                              content_type: String, body: Array[Byte])

  /** `response`-type archives: each record's payload is a full
    * HTTP/1.1 message (status line + headers + body) — the shape
    * real crawl archives carry. Status/content-type derive
    * deterministically from the doc so the oracle can replay them:
    * doc_id % 13 == 0 → a bodiless 404, else 200 with the text as
    * body; content-type echoes the doc language. Same per-source
    * spool + gzip-member mix as [[archivesFromDocuments]]. */
  def responseArchivesFromDocuments(docs: DataFrame)
                                   (implicit s: SparkSession): Dataset[ArchiveRow] = {
    import s.implicits._
    docs.select(col("source"), col("doc_id"), col("lang"), col("text"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, String, String)]
      .mapPartitions(it => spool(it)(_._1) { case (source, id, lang, text) =>
        val notFound = id % 13 == 0
        val http = httpResponse(
          if (notFound) 404 else 200,
          if (notFound) "Not Found" else "OK",
          Seq("Content-Type" -> s"text/$lang"),
          if (notFound) Array.emptyByteArray else text.getBytes(UTF_8))
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"urn:graft:$id",
          "WARC-Target-URI" -> s"https://$source.example/$id"), http)
      }.map(m => ArchiveRow(m.source, m.archive)))
  }

  /** Minimal HTML escaping (the five characters that break markup).
    * The page writer routes ALL text through this, so extraction's
    * unescape is exercised by construction — the per-doc ref
    * paragraph carries a literal `&` precisely so a pipeline that
    * skips the unescape step diverges on the content hash. */
  def htmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&#39;")

  /** One synthetic crawl page. Deliberately adversarial in the ways
    * real pages are: a `<script>` holding a UNIQUE fake paragraph in
    * a string literal (naive `<p>` capture ingests `trk<id>` into
    * every doc — frequency filtering can NOT remove it, only real
    * script stripping can), a per-source cookie banner and a global
    * footer paragraph (removable only by the cross-doc paragraph
    * document-frequency pass — the CCNet/C4 boilerplate rule), and
    * a per-doc entity-escaped ref paragraph (removable by nothing;
    * recoverable only through a correct unescape). */
  def htmlPage(source: String, id: Long, lang: String, text: String): String =
    s"""<html lang="$lang">
       |<head><title>doc $id</title>
       |<script>var trk = "<p>trk$id</p>";</script>
       |</head><body>
       |<nav>Home | About | Contact</nav>
       |<div id="main">
       |<p>Welcome to $source cookie notice applies</p>
       |<p>${htmlEscape(text)}</p>
       |<p>ref ${htmlEscape(s"&$id")}</p>
       |</div>
       |<footer><p>(c) example.org all rights reserved</p></footer>
       |</body></html>""".stripMargin

  /** `response` archives whose 200 bodies are full HTML pages built
    * by [[htmlPage]] — the crawl-to-TEXT producer (the main event of
    * a web-scale training corpus, next to [[mediaResponseArchives]]'s
    * crawl-to-media). Status rule matches
    * [[responseArchivesFromDocuments]]: doc_id % 13 == 0 → bodiless
    * 404, so the status gate downstream is real. Same per-source
    * spool + gzip-member mix. */
  def htmlResponseArchives(docs: DataFrame)
                          (implicit s: SparkSession): Dataset[ArchiveRow] = {
    import s.implicits._
    docs.select(col("source"), col("doc_id"), col("lang"), col("text"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, String, String)]
      .mapPartitions(it => spool(it)(_._1) { case (source, id, lang, text) =>
        val notFound = id % 13 == 0
        val http = httpResponse(
          if (notFound) 404 else 200,
          if (notFound) "Not Found" else "OK",
          Seq("Content-Type" -> "text/html"),
          if (notFound) Array.emptyByteArray
          else htmlPage(source, id, lang, text).getBytes(UTF_8))
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"urn:graft:$id",
          "WARC-Target-URI" -> s"https://$source.example/$id"), http)
      }.map(m => ArchiveRow(m.source, m.archive)))
  }

  /** `response` archives over MEDIA rows — (doc_id, mime, content)
    * spooled per mime type, each record a 200 response whose
    * Content-Type is the mime and whose body is the raw media bytes.
    * The crawl-side producer of the multimodal decode path: archive →
    * record walk → HTTP parse → header codec, all byte-real. */
  def mediaResponseArchives(media: DataFrame)
                           (implicit s: SparkSession): Dataset[ArchiveRow] = {
    import s.implicits._
    media.select(col("mime").as("source"), col("doc_id"), col("content"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, Array[Byte])]
      .mapPartitions(it => spool(it)(_._1) { case (mime, id, content) =>
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"urn:graft:$id",
          "WARC-Target-URI" -> s"https://crawl.example/$id"),
          httpResponse(200, "OK", Seq("Content-Type" -> mime), content))
      }.map(m => ArchiveRow(m.source, m.archive)))
  }

  /** Response archives → parsed HTTP fields per record. Records
    * whose payload is not an HTTP message are dropped (the
    * dead-letter split is the caller's move, as with the header
    * codecs). */
  def parseHttpRecords(arch: Dataset[ArchiveRow])
                      (implicit s: SparkSession): Dataset[HttpRecord] = {
    import s.implicits._
    parseArchives(arch).mapPartitions(_.flatMap { r =>
      parseHttp(r.payload).map { case (status, headers, body) =>
        HttpRecord(r.source, r.doc_id, status,
          headers.getOrElse("content-type", ""), body)
      }
    })
  }

  // ---- Structured Streaming ingest: archive files → record rows ----

  /** Streaming ingest of a growing archive directory — the
    * continuous form of the batch round trip: each newly-landed
    * `*.warc` / `*.warc.gz` file is one streamed row (Spark's
    * binaryFile source tracks seen files through the checkpoint, so
    * an archive is walked EXACTLY once across restarts), flatMapped
    * through the strict record walk, appended as parquet. Archive
    * files must arrive complete (write-then-rename spool discipline
    * — the same contract as the file source itself); a torn archive
    * fails its task loudly rather than ingesting desynced records.
    * Source name derives from the file name (spool convention:
    * `<source>.warc[.gz]`). */
  def startIngest(spark: SparkSession, feedDir: String, outDir: String,
                  ckptDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    implicit val s: SparkSession = spark
    import s.implicits._
    spark.readStream.format("binaryFile")
      // the source's fixed schema, stated explicitly (streaming file
      // sources refuse to infer)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*.warc*")
      .load(feedDir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val base = path.substring(path.lastIndexOf('/') + 1)
        val source = base.stripSuffix(".gz").stripSuffix(".warc")
        records(bytes).zipWithIndex.map { case (r, i) =>
          ParsedRecord(source, i.toLong,
            r.headers.getOrElse("WARC-Record-ID", "urn:graft:-1")
              .stripPrefix("urn:graft:").toLong,
            r.headers("Content-Length").toLong, r.payload)
        }
      }
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }
}
