package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The reference's unbounded polling scrapers as a REAL Spark
  * streaming source (DataSourceV2 `MicroBatchStream`), instead of
  * fixture batch replay: the page cursor becomes a checkpointed
  * offset, and the client-side rate limiter (bitcoinabuse/main.go:40
  * `ratelimit.New(20)`; chainabuse/main.py:107-109's
  * sleep-between-polls) becomes admission control
  * (`maxPagesPerTrigger`), so throttling is declared to the engine
  * rather than hand-rolled in a fetch loop.
  *
  * Shape: `spark.readStream.format("graft-paged").option("feed", id)`
  * yields `(cursor BIGINT, body STRING)` rows — one row per fetched
  * page, exactly what the P1/P4/P9 extraction operators consume.
  * Offsets are positions in the feed's cursor order; a restart
  * resumes from the checkpointed position with no duplicate and no
  * gap (strictly stronger than the reference, whose cursor lived in
  * process memory only — chainabuse/main.py:107-109).
  *
  * Page bodies are pulled by the READERS through a pluggable
  * [[PageFetcher]]: `planInputPartitions` emits only (feed, position
  * range, fetcher class), and each partition's reader instantiates
  * the fetcher and fetches its range — the driver never holds page
  * bodies, which is what makes the source cluster-correct at any
  * feed size. The default [[RegistryPageFetcher]] serves the
  * sandbox's in-memory [[PageFeed]] registry; a production
  * deployment passes `option("fetcher", fqcn)` with an
  * HTTP/API-backed implementation — the same fetch-by-cursor-range
  * loop as the reference (bitcoinabuse/main.go:85-120,
  * chainabuse/main.py:25-39), minus the hand-rolled scheduling.
  */
object PageFeed {
  private val feeds =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[(Long, String)]]()

  /** Replace feed `id` with `pages` (cursor-ascending). */
  def register(id: String, pages: Seq[(Long, String)]): Unit =
    feeds.put(id, pages.toVector.sortBy(_._1))

  /** Append newly "published" pages — the remote site growing between
    * polls. Cursors must be fresh and larger than existing ones (the
    * monotone-cursor contract every cursor-paginated API gives). */
  def append(id: String, pages: Seq[(Long, String)]): Unit =
    feeds.merge(id, pages.toVector.sortBy(_._1), (a, b) => {
      require(b.headOption.forall(p => a.lastOption.forall(_._1 < p._1)),
        s"appended cursors must exceed existing ones in feed $id")
      a ++ b
    })

  def get(id: String): Vector[(Long, String)] =
    feeds.getOrDefault(id, Vector.empty)

  def remove(id: String): Unit = feeds.remove(id)
}

/** SPI between the source and wherever pages live. Implementations
  * must have a no-arg constructor (instantiated by class name on both
  * driver and executors) and be cheap to construct — a reader builds
  * one per partition. `fetch` is keyed by POSITION in the feed's
  * cursor order, not by raw cursor value: positions are what offsets
  * checkpoint, and the monotone-cursor contract makes a position
  * range re-fetchable, which is exactly what offset replay needs. */
trait PageFetcher extends Serializable {
  /** Pages currently available in `feed` (driver-side poll — the
    * reference reading today's max page number first,
    * bitcoinabuse/main.go:186-206). Must be monotone per feed. */
  def latestAvailable(feed: String): Long

  /** The pages at positions [from, until) as (cursor, body), in
    * position order. Must yield exactly `until - from` pages — a
    * short read would silently drop committed rows. */
  def fetch(feed: String, from: Long, until: Long): Iterator[(Long, String)]
}

/** Default fetcher: the sandbox's driver-registered [[PageFeed]].
  * Works in local mode because executors share the driver JVM; a
  * cluster deployment substitutes a remote-API fetcher via
  * `option("fetcher", ...)` — the registry is a test double for the
  * remote site, not part of the source's contract. */
class RegistryPageFetcher extends PageFetcher {
  override def latestAvailable(feed: String): Long =
    PageFeed.get(feed).size.toLong
  override def fetch(feed: String, from: Long, until: Long): Iterator[(Long, String)] =
    PageFeed.get(feed).slice(from.toInt, until.toInt).iterator
}

/** File-backed fetcher: the feed string IS a directory of page files
  * (`page-<cursor>…`, cursor-ascending by filename) — the spooled
  * crawl-archive backend. A fetch loop (the reference's scrapers)
  * spools raw pages to storage; this source then replays them with
  * the same offsets and admission control as a live feed — the
  * bronze-replay shape of a production backfill. Position = rank in
  * filename order, so the monotone-cursor contract is the sorted
  * listing; works on any filesystem the executors see (local here, a
  * shared store on a cluster). A short listing inside a committed
  * range FAILS loudly — committed offsets must never skip pages. */
class DirectoryPageFetcher extends PageFetcher {
  import DirectoryPageFetcher.{ManifestName, parseCursor}

  /** (cursor, file), sorted NUMERICALLY by the parsed cursor — a
    * lexicographic filename sort would reorder unpadded cursors
    * (page-10 before page-9), remapping already-committed positions
    * as the archive grows: the new tail position would re-serve an
    * old page while the new page landed at a committed position and
    * was never delivered.
    *
    * When the spooler wrote a `_manifest` (one page filename per
    * line, position order), it is authoritative and the directory is
    * NOT listed — at millions of spooled pages a full list+sort per
    * fetch task is O(P log P) metadata work × N tasks; the manifest
    * makes each task one small sequential read. Without a manifest
    * the listing fallback keeps manifest-less feeds working.
    * Duplicate parsed cursors fail loudly either way — two files
    * occupying adjacent positions under one cursor value would
    * corrupt cursor-keyed dedup downstream. */
  private def pages(feed: String): Array[(Long, java.io.File)] = {
    val manifest = new java.io.File(feed, ManifestName)
    val entries: Array[(Long, java.io.File)] =
      if (manifest.isFile) {
        scala.io.Source.fromFile(manifest, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toArray
          .map { name =>
            val cursor = parseCursor(name).getOrElse(throw new IllegalStateException(
              s"feed $feed manifest lists '$name', not a page-<cursor> name"))
            (cursor, new java.io.File(feed, name))
          }
      } else {
        Option(new java.io.File(feed).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.isFile)
          .flatMap(f => parseCursor(f.getName).map((_, f)))
          .sortBy(_._1)
      }
    val dups = entries.groupBy(_._1).filter(_._2.length > 1).keys
    require(dups.isEmpty,
      s"feed $feed has multiple files for cursor(s) ${dups.mkString(",")} " +
        "— duplicate cursors break the unique-cursor contract")
    // manifest order must be cursor-ascending, or positions would not
    // be monotone in cursor as the committed-offset contract assumes
    require(entries.iterator.map(_._1).sliding(2).forall(
      w => w.length < 2 || w(0) < w(1)),
      s"feed $feed manifest is not cursor-ascending")
    entries
  }

  override def latestAvailable(feed: String): Long =
    pages(feed).length.toLong

  override def fetch(feed: String, from: Long,
                     until: Long): Iterator[(Long, String)] = {
    val files = pages(feed).slice(from.toInt, until.toInt)
    require(files.length == until - from,
      s"feed $feed lost pages: need [$from, $until) have ${files.length}")
    files.iterator.map { case (cursor, f) =>
      (cursor, new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}

/** I3 wired into the fetch path: a [[PageFetcher]] decorator that
  * retries transient failures with the reference's linear backoff
  * ([[Retry.withLinearBackoff]] — bitcoinabuse/main.go:29-36) so a
  * flaky remote poll doesn't kill the Spark task (and with it the
  * whole micro-batch). `fetch` materializes the range INSIDE the
  * retry: ranges are bounded (`pagesPerPartition`), and re-fetching
  * the whole range on a mid-iteration failure is exactly what the
  * SPI's re-fetchable-by-position contract allows — retrying a
  * half-consumed iterator would double-serve pages instead.
  * Permanent failures still propagate after `maxAttempts`, so
  * task-level behavior (fail the task, engine retries per
  * `spark.task.maxFailures`) is unchanged.
  *
  * Not named directly: [[PageFetcher.instantiate]] builds it from a
  * `retry:<attempts>:<baseMillis>:<fqcn>` spec, which is what the
  * source's `fetcherRetries` / `fetcherRetryMillis` options compile
  * to — the spec string travels in the partition like any fetcher
  * class name. */
final class RetryingPageFetcher(inner: PageFetcher, policy: Retry.Backoff,
                                sleep: Long => Unit = Thread.sleep)
  extends PageFetcher {
  override def latestAvailable(feed: String): Long =
    Retry.withLinearBackoff(policy, sleep)(() => inner.latestAvailable(feed))
  override def fetch(feed: String, from: Long,
                     until: Long): Iterator[(Long, String)] =
    Retry.withLinearBackoff(policy, sleep)(
      () => inner.fetch(feed, from, until).toVector).iterator
}

object DirectoryPageFetcher {
  /** Spooler-written listing: one page filename per line, position
    * (cursor-ascending) order. Presence switches [[DirectoryPageFetcher]]
    * from per-task directory listing to one-small-file reads. */
  val ManifestName = "_manifest"

  /** Cursor parsed from a page filename, None for strays. STRICT: the
    * entire basename (minus one extension) after `page-` must be
    * numeric — a prefix parse would map `page-12.html` and
    * `page-12old.html` to the SAME cursor 12, breaking the
    * unique/monotone-cursor contract the stream and downstream
    * cursor-keyed dedup rely on. `page-12old` is a stray (ignored);
    * a genuine duplicate (`page-12.html` + `page-12.txt`) fails
    * loudly in `pages`. toLongOption: digits that overflow Long are
    * a stray, not a feed-killing NumberFormatException. */
  private def parseCursor(name: String): Option[Long] =
    if (!name.startsWith("page-")) None
    else {
      val stem = name.stripPrefix("page-")
      val base = stem.lastIndexOf('.') match {
        case -1 => stem
        case i => stem.substring(0, i)
      }
      if (base.nonEmpty && base.forall(_.isDigit)) base.toLongOption else None
    }

  /** Write the manifest for `feed` from its current listing — what a
    * spooler calls after appending pages (atomic rename so readers
    * never see a torn manifest). */
  def writeManifest(feed: String): Unit = {
    val names = Option(new java.io.File(feed).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.isFile)
      .flatMap(f => parseCursor(f.getName).map((_, f.getName)))
      .sortBy(_._1).map(_._2)
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(feed), "_manifest", ".tmp")
    java.nio.file.Files.write(tmp,
      names.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(feed, ManifestName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

private[sources] object PageFetcher {
  private val RetrySpec = """retry:(\d+):(\d+):(.+)""".r

  /** A bare FQCN, or `retry:<attempts>:<baseMillis>:<fqcn>` for the
    * [[RetryingPageFetcher]]-decorated form (what the
    * `fetcherRetries` option compiles to). */
  def instantiate(spec: String): PageFetcher = spec match {
    case RetrySpec(attempts, base, fqcn) =>
      new RetryingPageFetcher(instantiate(fqcn),
        Retry.Backoff(base.toLong, attempts.toInt))
    case fqcn =>
      Class.forName(fqcn, true, Thread.currentThread().getContextClassLoader)
        .getDeclaredConstructor().newInstance() match {
        case f: PageFetcher => f
        case other => throw new IllegalArgumentException(
          s"fetcher class $fqcn is not a PageFetcher: ${other.getClass}")
      }
  }
}

class PagedTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-paged"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // 0 would make AvailableNow terminate 'successfully' having read
    // nothing; a negative cap would move offsets BACKWARD — fail fast
    val maxPages = intOption(opts, "maxPagesPerTrigger", min = 1)
    val baseFetcher = Option(opts.get("fetcher"))
      .getOrElse(classOf[RegistryPageFetcher].getName)
    // transient-failure policy (I3): >0 retries compile the fetcher
    // into its retry-decorated spec, carried like any class name
    val retries = intOption(opts, "fetcherRetries", min = 0, max = Int.MaxValue)
      .getOrElse(0L)
    val retryMillis = intOption(opts, "fetcherRetryMillis", min = 0).getOrElse(1000L)
    val fetcherClass =
      if (retries > 0) s"retry:$retries:$retryMillis:$baseFetcher"
      else baseFetcher
    // fail at load() time, not in a task: a typo'd class name must not
    // surface as N executor-side ClassNotFoundExceptions
    PageFetcher.instantiate(fetcherClass)
    val pagesPerPartition = intOption(opts, "pagesPerPartition", min = 1).getOrElse(1L)
    new PagedTable(
      Option(opts.get("feed")).getOrElse(
        throw new IllegalArgumentException("option 'feed' is required")),
      maxPages, fetcherClass, pagesPerPartition)
  }

  /** Option `name` as an integer in [`min`, `max`] (`min` is 0 or 1),
    * or None when it is unset; every error names the option. */
  private def intOption(opts: CaseInsensitiveStringMap, name: String, min: Long,
                        max: Long = Long.MaxValue): Option[Long] =
    Option(opts.get(name)).map { v =>
      val n = v.toLongOption.filter(_ <= max).getOrElse(
        throw new IllegalArgumentException(s"option '$name' must be " +
          s"${if (min > 0) "a positive" else "a non-negative"} integer, got '$v'"))
      require(n >= min, s"option '$name' must be " +
        s"${if (min > 0) "positive" else ">= 0"}, got $n")
      n
    }
}

object PagedTable {
  val Schema: StructType =
    new StructType().add("cursor", LongType, nullable = false)
      .add("body", StringType, nullable = true)

  /** Streaming handle with the idiomatic options spelled once. */
  def readStream(spark: SparkSession, feed: String,
                 maxPagesPerTrigger: Option[Long] = None,
                 fetcher: Option[String] = None): DataFrame = {
    val r = spark.readStream.format("graft-paged").option("feed", feed)
    maxPagesPerTrigger.foreach(n => r.option("maxPagesPerTrigger", n))
    fetcher.foreach(c => r.option("fetcher", c))
    r.load()
  }

  /** Batch handle over the same feed (backfill / bootstrap reads). */
  def read(spark: SparkSession, feed: String,
           fetcher: Option[String] = None): DataFrame = {
    val r = spark.read.format("graft-paged").option("feed", feed)
    fetcher.foreach(c => r.option("fetcher", c))
    r.load()
  }

  /** [from, until) chunked into fetch-task ranges. One page per
    * partition is the default — the fetch-task unit of the reference,
    * which fans out one goroutine per detail page
    * (bitcoinabuse/main.go:80-120); a body-heavy remote feed raises
    * `pagesPerPartition` to amortize fetcher setup per task. */
  private[sources] def rangePartitions(feed: String, from: Long, until: Long,
                                       fetcherClass: String,
                                       pagesPerPartition: Long): Array[InputPartition] =
    Iterator.iterate(from)(_ + pagesPerPartition).takeWhile(_ < until)
      .map(lo => PagedRangePartition(feed, lo,
        math.min(until, lo + pagesPerPartition), fetcherClass): InputPartition)
      .toArray
}

class PagedTable(feed: String, maxPagesPerTrigger: Option[Long],
                 fetcherClass: String, pagesPerPartition: Long)
  extends Table with SupportsRead {

  override def name(): String = s"graft-paged:$feed"
  override def schema(): StructType = PagedTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PagedTable.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PagedMicroBatchStream(feed, maxPagesPerTrigger, fetcherClass,
            pagesPerPartition)
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            PagedTable.rangePartitions(feed, 0L,
              PageFetcher.instantiate(fetcherClass).latestAvailable(feed),
              fetcherClass, pagesPerPartition)
          override def createReaderFactory(): PartitionReaderFactory =
            new PagedReaderFactory
        }
      }
    }
}

/** Offset = count of pages admitted so far (a position in the feed's
  * cursor order). JSON form is the bare long. */
case class PagedOffset(position: Long) extends Offset {
  override def json(): String = position.toString
}

class PagedMicroBatchStream(feed: String, maxPagesPerTrigger: Option[Long],
                            fetcherClass: String, pagesPerPartition: Long)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  /** Driver-side fetcher: used only for availability polls (cheap);
    * bodies are fetched by the per-partition reader instances. */
  private val fetcher = PageFetcher.instantiate(fetcherClass)

  /** AvailableNow snapshot bound: "catch up to what existed when the
    * poll started, then stop" — the reference's per-tick scrape loop
    * (it reads today's max page first, then walks to it —
    * bitcoinabuse/main.go:186-206). Without first-class support,
    * AvailableNow degrades to a single unthrottled Trigger.Once
    * batch, so this is also what makes admission control real under
    * the driver's trigger. */
  private var availableAtPrepare: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableAtPrepare = Some(fetcher.latestAvailable(feed))

  override def initialOffset(): Offset = PagedOffset(0L)

  override def deserializeOffset(json: String): Offset =
    PagedOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxPagesPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Admission control: advance at most `limit` pages past `start` —
    * the reference's rate limiter, expressed to the engine. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[PagedOffset].position
    val avail = availableAtPrepare
      .fold(fetcher.latestAvailable(feed))(
        math.min(_, fetcher.latestAvailable(feed)))
    // recursive so a CompositeReadLimit (e.g. maxRows + future minRows)
    // still honors its embedded row cap instead of falling through to
    // admit-everything and silently defeating the throttle
    def admit(l: ReadLimit): Long = l match {
      // saturating: maxRows() is caller-supplied and may be huge —
      // from + maxRows would overflow negative and move the cursor
      // BACKWARD, the exact failure planInputPartitions guards against
      case m: ReadMaxRows =>
        val room = math.max(0L, avail - from)
        from + math.min(m.maxRows(), room)
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.map(admit).min
      case _ => math.max(from, avail) // ReadAllAvailable and unknown limits
    }
    PagedOffset(admit(limit))
  }

  override def reportLatestOffset(): Offset =
    PagedOffset(fetcher.latestAvailable(feed))

  /** Partitions carry only (feed, position range, fetcher class) —
    * bodies never touch the driver; each reader fetches its range. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fromL = start.asInstanceOf[PagedOffset].position
    val toL = end.asInstanceOf[PagedOffset].position
    // a checkpointed position past what the fetcher can serve means
    // the feed lost pages (for the sandbox registry: not re-registered
    // before restart) — failing here beats readers fetching short and
    // silently dropping committed rows
    require(toL <= fetcher.latestAvailable(feed) && fromL >= 0,
      s"offset range [$fromL, $toL) beyond feed availability " +
        s"${fetcher.latestAvailable(feed)} — pages must stay " +
        "re-fetchable by position (monotone-cursor contract)")
    PagedTable.rangePartitions(feed, fromL, toL, fetcherClass, pagesPerPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory

  override def commit(end: Offset): Unit = () // feed is externally owned

  override def stop(): Unit = ()
}

/** A fetch task: positions [from, until) of `feed`, pulled by the
  * reader through `fetcherClass` — serializable coordinates only, no
  * page bodies (the production DSv2 shape). */
case class PagedRangePartition(feed: String, from: Long, until: Long,
                               fetcherClass: String) extends InputPartition

class PagedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagedRangePartition]
    new PartitionReader[InternalRow] {
      private val pages =
        PageFetcher.instantiate(p.fetcherClass).fetch(p.feed, p.from, p.until)
      private var served = 0L
      private var row: (Long, String) = _
      override def next(): Boolean =
        if (pages.hasNext) {
          // over-read = rows this range does not own; serving them
          // would duplicate cursors with the adjacent partition (an
          // off-by-one fetcher against an inclusive API is the
          // classic case) — as loud as the short-read twin below
          require(served < p.until - p.from,
            s"fetcher over-served [${p.from}, ${p.until}) for feed " +
              s"${p.feed} — extra rows would duplicate the next range")
          row = pages.next(); served += 1; true
        } else {
          // short read = committed offsets would skip real pages
          require(served == p.until - p.from,
            s"fetcher served $served of [${p.from}, ${p.until}) for " +
              s"feed ${p.feed} — short reads drop committed rows")
          false
        }
      override def get(): InternalRow = {
        val (cursor, body) = row
        InternalRow(cursor,
          if (body == null) null else UTF8String.fromString(body))
      }
      override def close(): Unit = ()
    }
  }
}
