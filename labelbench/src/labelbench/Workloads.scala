package labelbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.{Extract, Merge, RuntimeFilter}
import graft.pipelines.{BitcoinAbuse, ChainAbuse, WalletExplorer}
import graft.plans.BloomMightContainLong
import graft.sources.{DirectoryPageFetcher, PageFeed, PagedTable}
import graft.streaming.{BloomSeenSet, KeyedSink, LabelStream, ParquetDocStoreSink}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Counts and times a workload records about one operation, by metric name. */
final class Gauges {
  val m = mutable.Map.empty[String, Double]
  def set(k: String, v: Double): Unit = m(k) = v
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
}

/** What an operation hands back: the label rows it produced and a check
  * of its output against the seeded ground truth (None when correct). */
final case class Done(labelRows: Long, check: () => Option[String])

trait Workload {
  /** Builds the state the operations run against, from scratch. */
  def setup(rep: Int): Unit
  /** Prepares the next operation's input; not timed. */
  def prepare(): Unit
  /** One operation, timed by the caller. */
  def op(g: Gauges): Done
  /** Bytes of the committed store(s) per label row they hold. */
  def storeBytesPerLabel: Double
  /** Releases what the last operation left behind; not timed. */
  def cleanup(): Unit = ()
}

/** The shares of the traffic mix. No source in the repository gives
  * them, so they are assumptions (see labelbench/README.md); [[Mix.Alt]]
  * moves every one of them, to show what the figures depend on. */
final case class Mix(btcDup: Double, walletDup: Double, walletLimited: Double, caRevised: Double,
                     graphqlErrors: Double, pollNew: Double, pollRevised: Double, screenMisses: Int)

object Mix {
  val Default: Mix = Mix(btcDup = 0.2, walletDup = 0.3, walletLimited = 0.05, caRevised = 0.2,
    graphqlErrors = 0.03, pollNew = 0.2, pollRevised = 0.4, screenMisses = 1)
  val Alt: Mix = Mix(btcDup = 0.05, walletDup = 0.1, walletLimited = 0.15, caRevised = 0.4,
    graphqlErrors = 0.1, pollNew = 0.5, pollRevised = 0.25, screenMisses = 3)
  def named(name: String): Mix = name match {
    case "default" => Default
    case "alt" => Alt
    case other => throw new IllegalArgumentException(s"unknown mix '$other'")
  }
}

final case class Sizes(
  btcPages: Int, btcRows: Int, wallets: Int, walletPages: Int, walletRows: Int, caPages: Int, caEdges: Int,
  bootReports: Int, bootEdges: Int, pollPages: Int, pollEdges: Int, mix: Mix = Mix.Default)

object Sizes {
  /** Scale 1 is the benchmark; smaller scales are for the pre-warm and the self-test. */
  def at(scale: Double, mix: Mix = Mix.Default): Sizes = {
    def n(x: Int) = math.max(2, math.round(x * scale).toInt)
    Sizes(btcPages = n(48), btcRows = 240, wallets = n(8), walletPages = n(6), walletRows = 3200,
      caPages = n(48), caEdges = 800, bootReports = n(60000), bootEdges = 1000,
      pollPages = n(10), pollEdges = 400, mix = mix)
  }
}

object Labels {
  val Cols: Seq[String] = Seq("addr", "name", "date", "type", "desc", "src")
  val Schema: StructType = StructType(Cols.map(StructField(_, StringType)))
  def of(r: Row): Label = Label(r.getString(0), r.getString(1), r.getString(2),
    r.getString(3), r.getString(4), r.getString(5))
  def collect(df: DataFrame): Vector[Label] = df.select(Cols.map(col): _*).collect().map(of).toVector

  private val order: Ordering[Label] = Ordering.by((l: Label) => (l.addr, l.src, l.name, l.date, l.typ, l.desc))

  def sorted(ls: Seq[Label]): Vector[Label] = ls.toVector.sorted(order)

  /** The sorted xxhash64 fingerprints of `df`'s label rows: two frames
    * hold the same multiset of rows when these are equal, up to a 64-bit
    * collision. Computed by the executors, so a large store is checked
    * without bringing its rows to the driver. */
  def fingerprints(df: DataFrame): Array[Long] = {
    val a = df.select(xxhash64(Cols.map(col): _*)).as(Encoders.scalaLong).collect()
    java.util.Arrays.sort(a)
    a
  }

  /** First difference between the label multisets `expected` (sorted by
    * [[sorted]]) and `got`, if any. */
  def diff(what: String, expected: Vector[Label], got: Seq[Label]): Option[String] = {
    val e = expected
    val a = sorted(got)
    if (e == a) None
    else {
      val (ec, ac) = (e.groupBy(identity).view.mapValues(_.size).toMap, a.groupBy(identity).view.mapValues(_.size).toMap)
      val missing = ec.collectFirst { case (l, n) if ac.getOrElse(l, 0) < n => l }
      val extra = ac.collectFirst { case (l, n) if ec.getOrElse(l, 0) < n => l }
      Some(s"$what: expected ${e.size} label rows, got ${a.size}; " +
        missing.map(l => s"missing or short $l").orElse(extra.map(l => s"extra $l")).getOrElse("order"))
    }
  }
}

object Fs {
  def bytes(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
        }).toVector
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }
}

/** The chainabuse doc store's rows: the parsed report node keyed by id,
  * plus the (id, rev) key the seen-set dedups on. */
object Docs {
  def rows(pages: DataFrame): DataFrame = {
    val (good, _) = ChainAbuse.parseResponses(
      pages.withColumn("fetched_at", col("cursor").cast("string")))
    ChainAbuse.reports(good)
      .select(col("node.id").as("id"), col("node.biDirectionalVoteCount").as("rev"),
        concat_ws(":", col("node.id"), col("node.biDirectionalVoteCount").cast("string")).as("seen_key"),
        col("cursor"), col("node"))
  }

  def sink(dir: Path): ParquetDocStoreSink =
    new ParquetDocStoreSink(dir.toString, keys = Seq("id"), orderCols = Seq("rev"))

  /** Renders `reports` as GraphQL pages of `perPage` edges. */
  def pages(book: ReportBook, reports: Seq[Report], perPage: Int, firstPage: Long): Seq[(Long, String)] = {
    val groups = reports.grouped(perPage).toVector
    groups.zipWithIndex.map { case (rs, i) =>
      (firstPage + i, Render.graphql(rs.map(r => (book.cursor(), r)), more = i < groups.size - 1))
    }
  }

  /** Store (count, sum rev, sum addresses) and the stored version of each
    * id in `ids`, for the ground-truth check. */
  def check(spark: SparkSession, store: DataFrame, book: ReportBook, ids: Seq[String]): Option[String] = {
    val agg = store.agg(count(lit(1)), countDistinct(col("id")), sum(col("rev")),
      sum(size(col("node.addresses")))).head()
    val truth = book.current
    val (n, revs, addrs) = (truth.size.toLong, truth.valuesIterator.map(_.rev).sum,
      truth.valuesIterator.map(_.addrs.size.toLong).sum)
    val got = (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    if (got != ((n, n, revs, addrs)))
      return Some(s"store (rows, ids, sum rev, addresses) = $got, expected ${(n, n, revs, addrs)}")
    val touched = spark.createDataset(ids)(Encoders.STRING).toDF("id")
    val rows = store.join(touched, Seq("id"), "left_semi")
      .select(col("id"), col("rev"), col("node.scamCategory"), col("node.description"),
        transform(col("node.addresses"), a => a.getField("address")))
      .collect()
    val byId = rows.map(r => r.getString(0) -> r).toMap
    ids.iterator.map { id =>
      val want = truth(id)
      byId.get(id) match {
        case None => Some(s"report $id missing from the store")
        case Some(r) =>
          val got = (r.getLong(1), r.getString(2), r.getString(3), r.getSeq[String](4).toVector)
          val exp = (want.rev, want.category, want.description, want.addrs.map(_._1))
          if (got != exp) Some(s"report $id stored as $got, expected $exp") else None
      }
    }.collectFirst { case Some(e) => e }
  }
}

final case class Ctx(spark: SparkSession, work: Path, seed: Long, sizes: Sizes) {
  def read(dir: Path): DataFrame =
    PagedTable.read(spark, dir.toString, Some(classOf[DirectoryPageFetcher].getName))
}

/** The three-source spool the init scan replays, with its ground truth. */
final class BackfillSpool(ctx: Ctx, dir: Path, rng: Rng) {
  import ctx.sizes._
  val btc: Path = dir.resolve("bitcoinabuse")
  val home: Path = dir.resolve("walletexplorer-home")
  val ca: Path = dir.resolve("chainabuse")
  val caRetry: Path = dir.resolve("chainabuse-retry")
  def wallet(w: String): Path = dir.resolve("walletexplorer").resolve(w)
  def walletRetry(w: String): Path = dir.resolve("walletexplorer-retry").resolve(w)

  /** The store an init scan must commit: distinct label rows. */
  val truth: Vector[Label] = {
    val out = mutable.LinkedHashSet.empty[Label]
    // bitcoinabuse: one detail page per address; a few reports repeat
    val types = Vector("ransomware", "darknet market", "bitcoin tumbler", "blackmail scam", "sextortion", "other")
    Spool.write(btc, "html", (1 to btcPages).map { p =>
      val addr = rng.btcAddr()
      val rows = Vector.fill(rng.between(btcRows / 2, btcRows * 3 / 2))((rng.day(), rng.pick(types), rng.words(3, 12)))
      val withDup = if (rng.chance(mix.btcDup)) rows :+ rows.head else rows
      withDup.foreach { case (d, t, desc) => out += Label(addr, "abuse", d, t, desc, "bitcoinAbuse") }
      (p.toLong, Render.bitcoinAbuseDetail(addr, withDup))
    })
    // walletexplorer: a homepage directory, then address pages per wallet;
    // some pages come back rate-limited and are fetched again later
    val headings = Vector("Exchanges:", "Pools:", "Services/others:", "Gambling:", "Old/historic:")
    val names = (0 until wallets).map(i => s"${rng.pick(Rng.Vocab).capitalize}$i.com")
    val typed = names.map(n => (n, rng.pick(headings)))
    Spool.write(home, "html", Seq(1L -> Render.walletHome(
      typed.groupBy(_._2).toSeq.sortBy(_._1).map { case (h, ws) => (h, ws.map(_._1)) })))
    typed.foreach { case (w, heading) =>
      val wtype = heading.toLowerCase.stripSuffix(":")
      val pages = (1 to walletPages).map { p =>
        val rows = Vector.fill(walletRows)((rng.btcAddr(), f"${rng.double() * 50}%.8f"))
        val withDup = if (rng.chance(mix.walletDup)) rows :+ rows.head else rows
        withDup.foreach { case (a, _) => out += Label(a, w, "", wtype, "", "walletExplorer") }
        (p.toLong, Render.walletAddrs(withDup))
      }
      val limited = pages.filter(_ => rng.chance(mix.walletLimited))
      val limitedSet = limited.map(_._1).toSet
      Spool.write(wallet(w), "html", pages.map { case (c, b) => (c, if (limitedSet(c)) Render.RateLimited else b) })
      Spool.write(walletRetry(w), "html", limited)
    }
    // chainabuse: GraphQL pages; later pages revise earlier reports (the
    // latest version wins) and some pages are upstream errors, retried
    val book = new ReportBook(rng)
    val pages = (1 to caPages).map { p =>
      val rs = (1 to caEdges).map(_ =>
        if (book.size > caEdges && rng.chance(mix.caRevised)) book.revise(book.sampleIds(1, Set.empty).head)
        else book.fresh())
      // a page never revises the same report twice, so in-page order is moot
      (p.toLong, Render.graphql(rs.distinctBy(_.id).map(r => (book.cursor(), book.current(r.id))), more = p < caPages))
    }
    val failed = pages.filter(_ => rng.chance(mix.graphqlErrors)).map(_._1).toSet
    Spool.write(ca, "json", pages.map { case (c, b) => (c, if (failed(c)) Render.GraphqlError else b) })
    Spool.write(caRetry, "json", pages.filter(p => failed(p._1)))
    book.current.valuesIterator.foreach(_.labels.foreach(out += _))
    out.toVector
  }

  val walletNames: Vector[String] = {
    val s = Files.list(dir.resolve("walletexplorer"))
    try s.iterator().asScala.map(_.getFileName.toString).toVector.sorted finally s.close()
  }

  def feeds: Seq[Path] = Seq(btc, home, ca, caRetry) ++ walletNames.flatMap(w => Seq(wallet(w), walletRetry(w)))
}

/** The init scan: spool → sources → three pipelines → merge → one
  * committed parquet store. */
final class Backfill(ctx: Ctx, spool: BackfillSpool) {
  import ctx.spark
  private val cached = mutable.Buffer.empty[DataFrame]
  private def keep(df: DataFrame): DataFrame = { cached += df.persist(); df }
  def release(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached.clear() }

  /** Pages of `feeds` (source, wallet, dir, cursors to take or all) in
    * one read, rebalanced from a page per task to a partition per core. */
  private def fetch(feeds: Seq[(String, String, Path, Option[Seq[Long]])], g: Gauges): DataFrame = {
    val df = keep(feeds.map { case (src, w, dir, only) =>
      val d = ctx.read(dir)
      only.fold(d)(cs => d.filter(col("cursor").isin(cs: _*)))
        .select(lit(src).as("src"), lit(w).as("wallet_name"), col("cursor"), col("body"))
    }.reduce(_ unionByName _).repartition(Main.cores))
    g.add("sources.pages", df.count().toDouble)
    df
  }

  private def retry(feeds: Seq[(String, String, Path, Option[Seq[Long]])], g: Gauges): Option[DataFrame] =
    if (feeds.isEmpty) None
    else Trace.span("sources") {
      val df = fetch(feeds, g)
      g.add("sources.retries", feeds.map(_._4.fold(0)(_.size)).sum.toDouble)
      Some(df)
    }

  /** Replays the spool and commits the merged store at `out`. */
  def commit(out: Path, g: Gauges): Long = {
    val pages = Trace.span("sources") {
      fetch(Seq(("bitcoinAbuse", "", spool.btc, None), ("home", "", spool.home, None),
        ("chainAbuse", "", spool.ca, None)) ++
        spool.walletNames.map(w => ("walletExplorer", w, spool.wallet(w), None)), g)
    }
    def of(src: String) = pages.filter(col("src") === src)
    val btcLabels = Trace.span("pipelines.bitcoinabuse") {
      val detail = Extract.regexTokens(of("bitcoinAbuse"), col("body"), BitcoinAbuse.AddrPattern, "addr")
      keep(BitcoinAbuse.endToEnd(detail.select("addr", "body")))
    }
    val weLabels = Trace.span("pipelines.walletexplorer") {
      val we = of("walletExplorer").select("wallet_name", "cursor", "body")
      val limited = WalletExplorer.rateLimited(we).select("wallet_name", "cursor").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      g.add("pipelines.walletexplorer.ratelimited_pages", limited.length.toDouble)
      val again = retry(limited.groupBy(_._1).toSeq.sortBy(_._1).map { case (w, cs) =>
        ("walletExplorer", w, spool.walletRetry(w), Some(cs.map(_._2).toSeq))
      }, g)
      val key = concat_ws("/", col("wallet_name"), col("cursor"))
      val good = again.foldLeft(we.filter(!key.isin(limited.map { case (w, c) => s"$w/$c" }: _*)))(
        _ unionByName _.select("wallet_name", "cursor", "body"))
      val typed = good.join(WalletExplorer.walletDirectory(of("home")), "wallet_name")
      keep(WalletExplorer.assembleLabels(WalletExplorer.extractAddrs(typed)))
    }
    val caLabels = Trace.span("pipelines.chainabuse") {
      def responses(df: DataFrame) = df.select(col("cursor").as("batch_id"),
        col("cursor").cast("string").as("fetched_at"), col("body"))
      val ca = responses(of("chainAbuse"))
      val (_, dlq) = ChainAbuse.parseResponses(ca)
      val failed = dlq.select("fetched_at").collect().map(_.getString(0).toLong).toSeq
      g.add("pipelines.chainabuse.dlq_pages", failed.length.toDouble)
      val again = retry(if (failed.isEmpty) Nil else Seq(("chainAbuse", "", spool.caRetry, Some(failed))), g)
      val good = again.foldLeft(ca.filter(!col("batch_id").isin(failed: _*)))(_ unionByName responses(_))
      keep(ChainAbuse.endToEnd(good).withColumn("desc", lit("")).select(Labels.Cols.map(col): _*))
    }
    val labelsOut = Trace.span("pipelines.bitcoinabuse")(btcLabels.count()) +
      Trace.span("pipelines.walletexplorer")(weLabels.count()) +
      Trace.span("pipelines.chainabuse")(caLabels.count())
    g.add("pipelines.labels_out", labelsOut.toDouble)
    val (merged, rows) = Trace.span("operators.merge") {
      val empty = spark.createDataFrame(java.util.List.of[Row](), Labels.Schema)
      val m = keep(Merge.mergeBySource(empty,
        btcLabels.unionByName(weLabels).unionByName(caLabels), "src"))
      val n = m.count()
      g.add("operators.merge.rows_in", labelsOut.toDouble)
      g.add("operators.merge.rows_out", n.toDouble)
      (m, n)
    }
    Trace.span("store") {
      merged.write.parquet(out.toString)
      spark.read.parquet(out.toString).schema
    }
    rows
  }
}

final class BackfillWorkload(ctx: Ctx) extends Workload {
  private val spool = new BackfillSpool(ctx, ctx.work.resolve("spool"), new Rng(ctx.seed))
  private val run = new Backfill(ctx, spool)
  private val truth = Labels.sorted(spool.truth)
  private var version = 0
  private def store(v: Int) = ctx.work.resolve(s"store/v=$v")

  /** Writes the spool's manifests and counts its pages through the source. */
  override def setup(rep: Int): Unit = {
    val pages = spool.feeds.map { f =>
      DirectoryPageFetcher.writeManifest(f.toString)
      ctx.read(f).count()
    }.sum
    require(pages > 0, "empty spool")
  }

  override def prepare(): Unit = { Fs.rm(store(version)); version += 1 }

  override def op(g: Gauges): Done = {
    val out = store(version)
    val rows = run.commit(out, g)
    Done(rows, () => checkStore(out))
  }

  private lazy val truthPrints = Labels.fingerprints(ctx.spark.createDataFrame(
    truth.map(l => Row(l.addr, l.name, l.date, l.typ, l.desc, l.src)).asJava, Labels.Schema))

  /** The committed store at `dir` against the spool's ground truth: its
    * fingerprints first, and the rows themselves only to name a difference. */
  def checkStore(dir: Path): Option[String] = {
    val store = ctx.spark.read.parquet(dir.toString)
    if (java.util.Arrays.equals(Labels.fingerprints(store), truthPrints)) None
    else Labels.diff("backfill store", truth, Labels.collect(store))
      .orElse(Some("backfill store: label fingerprints differ from the ground truth"))
  }

  def lastStoreDir: Path = store(version)
  def lastStore: (Long, Long) = Fs.bytes(lastStoreDir)

  override def storeBytesPerLabel: Double = lastStore._1.toDouble / spool.truth.size

  override def cleanup(): Unit = run.release()
}

/** Tail-follow polling into the doc store: each operation appends one
  * poll's GraphQL pages to a feed and runs the deduped ingest to
  * termination. */
final class IncrementalWorkload(ctx: Ctx) extends Workload {
  import ctx.{spark, sizes}
  private val rng = new Rng(ctx.seed)
  private val book = new ReportBook(rng)
  private val bootDir = ctx.work.resolve("bootstrap")
  Spool.write(bootDir, "json", Docs.pages(book, Seq.fill(sizes.bootReports)(book.fresh()), sizes.bootEdges, 1L))

  private val feed = s"labelbench-${ctx.work.getFileName}-${ctx.seed}"
  private var storeDir: Path = _
  private var sink: ParquetDocStoreSink = _
  private var seen: BloomSeenSet = _
  private var nextPage = 1L
  private var poll: Seq[(Long, String)] = Nil
  private var polled: Seq[String] = Nil
  private var revised: Seq[String] = Nil
  private var freshLabels = 0L
  private var batch = -1L
  private var g: Gauges = new Gauges

  override def setup(rep: Int): Unit = {
    if (storeDir != null) Fs.rm(storeDir)
    storeDir = ctx.work.resolve(s"docstore-$rep")
    sink = Docs.sink(storeDir)
    // the bootstrap lands as version -1, so the stream's batch 0 merges onto it
    sink.upsert(Docs.rows(ctx.read(bootDir)), -1L)
    PageFeed.register(feed, Nil)
    Fs.rm(ctx.work.resolve("checkpoint"))
    seen = new BloomSeenSet("seen_key", expectedKeys = sizes.bootReports * 4L)
    batch = -1L
  }

  /** One poll: new reports, revisions of stored ones, and verbatim
    * re-reports of stored ones that the seen-set must drop. */
  override def prepare(): Unit = {
    val n = sizes.pollPages * sizes.pollEdges
    val (nNew, nRev) = (math.round(n * sizes.mix.pollNew).toInt, math.round(n * sizes.mix.pollRevised).toInt)
    val picked = book.sampleIds(n - nNew, Set.empty)
    val revisions = picked.take(nRev).map(book.revise)
    revised = revisions.map(_.id)
    val repeated = picked.drop(nRev).map(book.current)
    val fresh = Vector.fill(nNew)(book.fresh())
    val all = new scala.util.Random(rng.int(Int.MaxValue)).shuffle(fresh ++ revisions ++ repeated)
    poll = Docs.pages(book, all, sizes.pollEdges, nextPage)
    nextPage += poll.size
    polled = all.map(_.id)
    screenBatch = all.flatMap(r => r.addrs.map(_._1))
      .flatMap(a => a +: Vector.fill(sizes.mix.screenMisses)(rng.chainAddr()._1))
    freshLabels = (fresh ++ revisions).map(_.addrs.size.toLong).sum
    batch += 1
  }

  private object traced extends KeyedSink {
    private var filter: Span = _
    private var fold: Span = _
    override def alreadyApplied(batchId: Long): Boolean = {
      g.set("streaming.query.first_batch_ns", System.nanoTime().toDouble)
      if (Trace.on) filter = Trace.open("streaming.seenset")
      sink.alreadyApplied(batchId)
    }
    override def upsert(fresh: DataFrame, batchId: Long): Unit = {
      if (filter != null) {
        // `fresh` is persisted and not yet computed: counting it runs the
        // seen-set's probe and sliver anti-join against history under the
        // seen-set's span, and the sink then reads the cached rows
        g.add("streaming.sink.fresh_rows", fresh.count().toDouble)
        Trace.close(filter); filter = null
      }
      Trace.span("streaming.sink")(sink.upsert(fresh, batchId))
      if (Trace.on) fold = Trace.open("streaming.seenset")
    }
    /** The sketch fold after the upsert ends with the query. */
    def end(): Unit = if (fold != null) { fold.end = System.nanoTime(); fold = null }
  }

  private lazy val source: DataFrame = Docs.rows(PagedTable.readStream(spark, feed))

  override def op(gauges: Gauges): Done = {
    g = gauges
    PageFeed.append(feed, poll)
    val ckpt = ctx.work.resolve("checkpoint").toString
    Trace.span("streaming.query") {
      g.set("streaming.query.start_ns", System.nanoTime().toDouble)
      val q = LabelStream.startDedupedIngest(source, traced, ckpt, seen, () => {
        g.add("streaming.seenset.history_scans", 1)
        Trace.span("streaming.sink.resolve")(sink.current(spark).get).select("seen_key")
      })
      try q.awaitTermination() finally traced.end()
    }
    g.set("streaming.seenset.probe_rows", polled.size.toDouble)
    // the poll is done when a consumer screening the poll's addresses
    // against the newest store version gets their labels back
    val store = Trace.span("screen.resolve")(sink.current(spark).get)
    val answer = Screen.run(spark, store, screenBatch, g)
    val ids = polled
    last = (ids, answer, store)
    Done(freshLabels, () => checkAnswer(ids, answer).orElse(checkStore(store, ids)))
  }

  /** The last poll's report ids, its screening answer and the store version it read. */
  var last: (Seq[String], Vector[Label], DataFrame) = _
  /** Ids the last poll revised. */
  def revisedIds: Seq[String] = revised

  /** A screening answer for the reports `ids` against the ground truth. */
  def checkAnswer(ids: Seq[String], answer: Seq[Label]): Option[String] =
    Labels.diff("screen answer", Labels.sorted(ids.flatMap(id => book.current(id).labels)), answer)

  /** A store version against the ground truth after a poll of `ids`. */
  def checkStore(store: DataFrame, ids: Seq[String]): Option[String] = Docs.check(spark, store, book, ids)

  /** The store version before the last poll's. */
  def previousVersion: DataFrame = spark.read.parquet(storeDir.resolve(s"v=${batch - 1}").toString)

  /** The poll's addresses, each followed by `screenMisses` never-labelled
    * ones drawn like them, so that file statistics cannot skip the misses. */
  private var screenBatch: Vector[String] = Vector.empty

  def versionBytes: (Long, Long) = Fs.bytes(storeDir.resolve(s"v=$batch"))
  def storeRows: Double = book.current.size.toDouble

  override def storeBytesPerLabel: Double =
    versionBytes._1.toDouble / book.current.valuesIterator.map(_.addrs.size.toLong).sum
}

/** A consumer's batch screening against the doc store: the batch's
  * addresses bloom-semi-joined to the store's flat address labels. */
object Screen {
  def run(spark: SparkSession, store: DataFrame, batch: Seq[String], g: Gauges): Vector[Label] = {
    val answer = Trace.span("screen.plan") {
      val addrs = spark.createDataset(batch)(Encoders.STRING).toDF("addr")
      val sketch = RuntimeFilter.keySketch(addrs, col("addr"), batch.size.toLong)
      val labels = ChainAbuse.addressLabels(store).withColumn("desc", lit(""))
        .select(Labels.Cols.map(col): _*)
      RuntimeFilter.bloomPrunedSemiJoin(labels, col("addr"), addrs, col("addr"), sketch)
    }
    val rows = Trace.span("screen.exec")(answer.collect()).map(Labels.of).toVector
    if (Trace.on) PlanStats.record(answer, rows.length, g)
    g.set("screen.hit_frac", rows.map(_.addr).distinct.size.toDouble / batch.distinct.size)
    rows
  }
}

/** Scan and bloom-probe counts from an executed plan's SQL metrics. */
object PlanStats extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  /** The row count flowing into `p`: the nearest descendant that keeps one. */
  private def rowsInto(p: SparkPlan): Double =
    p.children.headOption.map(c => if (c.metrics.contains("numOutputRows")) metric(c, "numOutputRows") else rowsInto(c))
      .getOrElse(0.0)

  def record(df: DataFrame, returned: Long, g: Gauges): Unit = {
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    val probes = collect(plan) {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomMightContainLong]) => f
    }
    val scanned = scans.map(metric(_, "numOutputRows")).sum
    g.set("screen.files_read", scans.map(metric(_, "numFiles")).sum)
    g.set("screen.bytes_read", scans.map(metric(_, "filesSize")).sum)
    g.set("screen.rows_scanned_per_row_returned", scanned / math.max(1L, returned))
    val (in, out) = (probes.map(rowsInto).sum, probes.map(metric(_, "numOutputRows")).sum)
    g.set("screen.pruned_frac", if (in > 0) 1.0 - out / in else 0.0)
  }
}
