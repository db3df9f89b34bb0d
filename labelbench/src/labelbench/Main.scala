package labelbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, then a closed loop of operations
  * for a fixed time, each checked against seeded ground truth. The last
  * stdout line is the run's result; `run.py` turns it into the
  * benchmark's output record. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "label_rows_per_s" -> "1/s", "store_bytes_per_label" -> "B")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.fetch_s" -> "s", "sources.pages" -> "count", "sources.tasks_per_page" -> "ratio",
    "sources.retries" -> "count", "sources.jobs" -> "count", "sources.executor_run_s" -> "s",
    "pipelines.bitcoinabuse.extract_s" -> "s", "pipelines.walletexplorer.extract_s" -> "s",
    "pipelines.chainabuse.extract_s" -> "s", "pipelines.labels_out" -> "count",
    "pipelines.walletexplorer.ratelimited_pages" -> "count", "pipelines.chainabuse.dlq_pages" -> "count",
    "pipelines.jobs" -> "count", "pipelines.executor_run_s" -> "s",
    "operators.merge.merge_s" -> "s", "operators.merge.rows_in" -> "count",
    "operators.merge.rows_out" -> "count", "operators.merge.kept_frac" -> "ratio",
    "operators.merge.shuffle_bytes" -> "B", "operators.merge.jobs" -> "count",
    "operators.merge.executor_run_s" -> "s",
    "store.commit_s" -> "s", "store.bytes" -> "B", "store.files" -> "count", "store.commit.jobs" -> "count",
    "streaming.query.start_s" -> "s", "streaming.query.wall_s" -> "s",
    "streaming.seenset.filter_s" -> "s", "streaming.seenset.probe_rows" -> "count",
    "streaming.seenset.dropped_rows" -> "count", "streaming.seenset.fresh_frac" -> "ratio",
    "streaming.seenset.history_scans" -> "count", "streaming.seenset.jobs" -> "count",
    "streaming.seenset.executor_run_s" -> "s",
    "streaming.sink.upsert_s" -> "s", "streaming.sink.resolve_s" -> "s",
    "streaming.sink.bytes_written" -> "B", "streaming.sink.write_amp" -> "ratio",
    "streaming.sink.store_bytes" -> "B", "streaming.sink.jobs" -> "count",
    "streaming.sink.executor_run_s" -> "s",
    "screen.resolve_s" -> "s", "screen.plan_s" -> "s", "screen.exec_s" -> "s",
    "screen.files_read" -> "count", "screen.bytes_read" -> "B",
    "screen.rows_scanned_per_row_returned" -> "ratio", "screen.pruned_frac" -> "ratio",
    "screen.hit_frac" -> "ratio", "screen.jobs" -> "count", "screen.executor_run_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.core_busy_frac" -> "ratio", "jvm.heap_after_gc_peak_mb" -> "MB",
    "trace.untraced_op_p50_ms" -> "ms", "trace.op_p50_ms" -> "ms", "trace.overhead_frac" -> "ratio",
    "trace.spans_per_op" -> "count")

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10, trace: Boolean = false,
                        work: Path = Paths.get(".bench_build", "work"), scale: Double = 1.0,
                        warmupOps: Int = -1, setupReps: Int = 3, mix: Mix = Mix.Default,
                        spans: Option[Path] = None)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = Paths.get(v)))
    case "--scale" :: v :: t => parse(t, o.copy(scale = v.toDouble))
    case "--warmup-ops" :: v :: t => parse(t, o.copy(warmupOps = v.toInt))
    case "--setup-reps" :: v :: t => parse(t, o.copy(setupReps = v.toInt))
    case "--mix" :: v :: t => parse(t, o.copy(mix = Mix.named(v)))
    case "--spans" :: v :: t => parse(t, o.copy(spans = Some(Paths.get(v))))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Pre-warm: operations on a copy of the workload at this share of its
    * input size, before set-up. */
  val PrewarmOps = 6
  val PrewarmScale = 0.1
  /** Warm-up ends when the last `PlateauOps` full operations agree within
    * `PlateauTol` (slowest over fastest, minus 1), or before another
    * operation would take it past `WarmupCapS`. */
  val PlateauOps = 2
  val PlateauTol = 0.10
  val WarmupCapS = 11.0

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("labelbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // with the default of 100 entries, backfill operations stayed slow and
      // spread widely across runs, as if each compiled its generated code
      // again and the JIT started over (labelbench/README.md)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "backfill" => new BackfillWorkload(ctx)
    case "incremental" => new IncrementalWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def json(m: Seq[(String, Any)]): String = m.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Double) => s""""$k":${num(v)}"""
    case (k, v: Seq[_]) => s""""$k":[${v.map { case d: Double => num(d); case x => x.toString }.mkString(",")}]"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  /** Waits, up to a few seconds, until the JIT compilers have drained
    * the queue the warm-up left them, so that their work does not compete
    * with the measured operations for the cores. Returns the seconds waited. */
  def jitQuiet(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t = System.nanoTime()
    var last = -1L
    while (jit.getTotalCompilationTime != last && (System.nanoTime() - t) < 6e9) {
      last = jit.getTotalCompilationTime
      Thread.sleep(300)
    }
    (System.nanoTime() - t) / 1e9
  }

  /** Times a fixed piece of work on every core at once, sorting a seeded
    * array of 2M longs per core, in ms: the median of three after two
    * unrecorded rounds. A run on a host slowed by its neighbours reads
    * high here too, where `steal_frac` may not show it. */
  def hostProbeMs(): Double = {
    def round(): Double = {
      val t = System.nanoTime()
      val threads = (0 until cores).map { i =>
        new Thread(() => {
          val r = new java.util.SplittableRandom(i)
          java.util.Arrays.sort(Array.fill(1 << 21)(r.nextLong()))
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t) / 1e6
    }
    median((1 to 5).map(_ => round()).drop(2))
  }

  /** Heap in use after the last collection, over all heap pools. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0

  /** Per-layer metrics of one traced operation. */
  def layers(op: Long, wallS: Double, g: Gauges): Map[String, Double] = {
    val spans = Trace.of(op)
    def self(names: String*) = spans.filter(s => names.contains(s.name)).map(Trace.selfNs(_, spans)).sum / 1e9
    def work(names: String*) = { val w = new Work; spans.filter(s => names.contains(s.name)).foreach(s => w.add(s.work)); w }
    def gauge(k: String) = g.m.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val pipes = Seq("pipelines.bitcoinabuse", "pipelines.walletexplorer", "pipelines.chainabuse")
    val screen = Seq("screen.resolve", "screen.plan", "screen.exec")
    val (src, pipe, merge, store) = (work("sources"), work(pipes: _*), work("operators.merge"), work("store"))
    val (seen, sink, scr) = (work("streaming.seenset"), work("streaming.sink", "streaming.sink.resolve"), work(screen: _*))
    val all = work(spans.map(_.name).distinct: _*)
    val query = spans.find(_.name == "streaming.query")
    val fresh = gauge("streaming.sink.fresh_rows")
    val probed = gauge("streaming.seenset.probe_rows")
    Map(
      "sources.fetch_s" -> self("sources"), "sources.pages" -> gauge("sources.pages"),
      "sources.tasks_per_page" -> ratio(src.tasks, gauge("sources.pages")),
      "sources.retries" -> gauge("sources.retries"), "sources.jobs" -> src.jobs.toDouble,
      "sources.executor_run_s" -> src.runMs / 1e3,
      "pipelines.bitcoinabuse.extract_s" -> self(pipes(0)), "pipelines.walletexplorer.extract_s" -> self(pipes(1)),
      "pipelines.chainabuse.extract_s" -> self(pipes(2)), "pipelines.labels_out" -> gauge("pipelines.labels_out"),
      "pipelines.walletexplorer.ratelimited_pages" -> gauge("pipelines.walletexplorer.ratelimited_pages"),
      "pipelines.chainabuse.dlq_pages" -> gauge("pipelines.chainabuse.dlq_pages"),
      "pipelines.jobs" -> pipe.jobs.toDouble, "pipelines.executor_run_s" -> pipe.runMs / 1e3,
      "operators.merge.merge_s" -> self("operators.merge"),
      "operators.merge.rows_in" -> gauge("operators.merge.rows_in"),
      "operators.merge.rows_out" -> gauge("operators.merge.rows_out"),
      "operators.merge.kept_frac" -> ratio(gauge("operators.merge.rows_out"), gauge("operators.merge.rows_in")),
      "operators.merge.shuffle_bytes" -> merge.shuffleWrite.toDouble,
      "operators.merge.jobs" -> merge.jobs.toDouble, "operators.merge.executor_run_s" -> merge.runMs / 1e3,
      "store.commit_s" -> self("store"), "store.bytes" -> gauge("store.bytes"),
      "store.files" -> gauge("store.files"), "store.commit.jobs" -> store.jobs.toDouble,
      "streaming.query.start_s" -> (if (gauge("streaming.query.first_batch_ns") > 0)
        (gauge("streaming.query.first_batch_ns") - gauge("streaming.query.start_ns")) / 1e9 else 0.0),
      "streaming.query.wall_s" -> query.map(s => (s.end - s.start) / 1e9).getOrElse(0.0),
      "streaming.seenset.filter_s" -> self("streaming.seenset"), "streaming.seenset.probe_rows" -> probed,
      "streaming.seenset.dropped_rows" -> (if (query.isDefined) probed - fresh else 0.0),
      "streaming.seenset.fresh_frac" -> ratio(fresh, probed),
      "streaming.seenset.history_scans" -> gauge("streaming.seenset.history_scans"),
      "streaming.seenset.jobs" -> seen.jobs.toDouble, "streaming.seenset.executor_run_s" -> seen.runMs / 1e3,
      "streaming.sink.upsert_s" -> self("streaming.sink"), "streaming.sink.resolve_s" -> self("streaming.sink.resolve"),
      "streaming.sink.bytes_written" -> gauge("streaming.sink.bytes_written"),
      "streaming.sink.write_amp" -> gauge("streaming.sink.write_amp"),
      "streaming.sink.store_bytes" -> gauge("streaming.sink.store_bytes"),
      "streaming.sink.jobs" -> sink.jobs.toDouble, "streaming.sink.executor_run_s" -> sink.runMs / 1e3,
      "screen.resolve_s" -> self(screen(0)), "screen.plan_s" -> self(screen(1)), "screen.exec_s" -> self(screen(2)),
      "screen.files_read" -> gauge("screen.files_read"), "screen.bytes_read" -> gauge("screen.bytes_read"),
      "screen.rows_scanned_per_row_returned" -> gauge("screen.rows_scanned_per_row_returned"),
      "screen.pruned_frac" -> gauge("screen.pruned_frac"), "screen.hit_frac" -> gauge("screen.hit_frac"),
      "screen.jobs" -> scr.jobs.toDouble, "screen.executor_run_s" -> scr.runMs / 1e3,
      "spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble, "spark.tasks" -> all.tasks.toDouble,
      "spark.executor_run_s" -> all.runMs / 1e3, "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.scheduler_delay_s" -> all.schedMs / 1e3, "spark.gc_s" -> all.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble, "spark.spill_bytes" -> all.spill.toDouble,
      "spark.core_busy_frac" -> ratio(all.runMs / 1e3, wallS * cores),
      "trace.spans_per_op" -> spans.size.toDouble)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    Fs.rm(o.work)
    Files.createDirectories(o.work)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    try {
      val out = run(o, spark, (System.nanoTime() - t0) / 1e9)
      println("labelbench-result " + out)
    } finally {
      spark.stop()
      Fs.rm(o.work)
    }
  }

  def run(o: Opts, spark: SparkSession, jvmStartS: Double): String = {
    var attempted, failed = 0L
    var checkS = 0.0
    val errors = mutable.Buffer.empty[String]
    var opId = 0L
    /** One checked operation: (wall seconds, label rows, gauges). Traced,
      * the operation alone runs under a root span, whose id is `opId`. */
    def once(wl: Workload, traced: Boolean = false): (Double, Long, Gauges) = {
      wl.prepare()
      System.gc()
      val g = new Gauges
      attempted += 1
      val t = System.nanoTime()
      try {
        val done = if (!traced) wl.op(g) else { val (d, id) = Trace.op(wl.op(g)); opId = id; d }
        val dt = (System.nanoTime() - t) / 1e9
        val tc = System.nanoTime()
        done.check().foreach { e => failed += 1; errors += e }
        checkS += (System.nanoTime() - tc) / 1e9
        (dt, done.labelRows, g)
      } catch {
        case e: Exception =>
          failed += 1
          errors += s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}"
          ((System.nanoTime() - t) / 1e9, 0L, g)
      } finally wl.cleanup()
    }

    val ctx = Ctx(spark, o.work.resolve("data"), o.seed, Sizes.at(o.scale, o.mix))
    val tGen = System.nanoTime()
    val wl = workload(o.workload, ctx)
    val genS = (System.nanoTime() - tGen) / 1e9

    // Pre-warm: a small copy of the workload, with inputs of its own, takes
    // the JIT through the per-operation planning and scheduling code, which
    // does not shrink with the input, at a fraction of a full operation's
    // cost. A fixed warm-up count (--warmup-ops) skips it.
    val preOps = if (o.warmupOps >= 0) 0 else PrewarmOps
    val pre = mutable.Buffer.empty[Double]
    val tp = System.nanoTime()
    if (preOps > 0) {
      val dir = o.work.resolve("prewarm")
      val small = workload(o.workload, Ctx(spark, dir, o.seed + 1, Sizes.at(o.scale * PrewarmScale, o.mix)))
      small.setup(0)
      (1 to preOps).foreach(_ => pre += once(small)._1)
      Fs.rm(dir)
    }
    val preS = (System.nanoTime() - tp) / 1e9

    val setups = (0 until o.setupReps).map { rep =>
      System.gc()
      val t = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t) / 1e9
    }

    // Warm-up at full size until the last few operations agree, so that
    // measuring starts on the plateau of the JVM's warm-up curve; capped,
    // so a run fits its time. The first set-up pays what is still cold in
    // the JVM; the median of the set-ups leaves it out.
    val warm = mutable.Buffer.empty[Double]
    def plateau = warm.size >= PlateauOps && { val l = warm.takeRight(PlateauOps); l.max / l.min - 1 <= PlateauTol }
    val tw = System.nanoTime()
    if (o.warmupOps >= 0) (1 to o.warmupOps).foreach(_ => warm += once(wl)._1)
    else while (!plateau && (System.nanoTime() - tw) / 1e9 + warm.lastOption.getOrElse(0.0) <= WarmupCapS)
      warm += once(wl)._1
    val warmS = (System.nanoTime() - tw) / 1e9
    val quietS = jitQuiet()
    val probeBefore = hostProbeMs()
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val compilesBefore = compiles.getCount

    val sc = spark.sparkContext
    val listener = new Trace.Listener
    val times = mutable.Buffer.empty[Double]
    val untraced = mutable.Buffer.empty[Double]
    val traced = mutable.Buffer.empty[Map[String, Double]]
    val rates = mutable.Buffer.empty[Double] // label rows per second, per operation
    var heapPeak = 0.0
    val tm = System.nanoTime()
    var i = 0
    while (times.size + untraced.size < 2 || (System.nanoTime() - tm) / 1e9 < o.seconds) {
      val tracing = o.trace && i % 2 == 1
      if (tracing) { sc.addSparkListener(listener); Trace.on = true }
      val (dt, n, g) = if (tracing) {
        val r = once(wl, traced = true)
        Trace.drain(); Trace.on = false; sc.removeSparkListener(listener)
        wl match {
          case b: BackfillWorkload =>
            val (bytes, files) = b.lastStore
            r._3.set("store.bytes", bytes.toDouble); r._3.set("store.files", files.toDouble)
          case inc: IncrementalWorkload =>
            val (bytes, _) = inc.versionBytes
            r._3.set("streaming.sink.bytes_written", bytes.toDouble)
            r._3.set("streaming.sink.store_bytes", bytes.toDouble)
            val fresh = r._3.m.getOrElse("streaming.sink.fresh_rows", 0.0)
            r._3.set("streaming.sink.write_amp", if (fresh > 0) inc.storeRows / fresh else 0.0)
          case _ =>
        }
        heapPeak = math.max(heapPeak, heapAfterGcMb)
        traced += layers(opId, r._1, r._3)
        r
      } else once(wl)
      if (o.trace && !tracing) untraced += dt * 1e3
      else { times += dt * 1e3; rates += n / dt }
      i += 1
    }
    val measuredS = (System.nanoTime() - tm) / 1e9
    val codegenCompiles = compiles.getCount - compilesBefore
    val probeAfter = hostProbeMs()

    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "setup_s" -> median(setups), "op_p50_ms" -> median(times.toSeq),
        "label_rows_per_s" -> median(rates.toSeq), "store_bytes_per_label" -> wl.storeBytesPerLabel)
      else {
        val p50 = PerLayer.map(_._1).map(k => k -> median(traced.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        val (tr, un) = (median(times.toSeq), median(untraced.toSeq))
        val extra = Map("jvm.heap_after_gc_peak_mb" -> heapPeak, "trace.untraced_op_p50_ms" -> un,
          "trace.op_p50_ms" -> tr, "trace.overhead_frac" -> (if (un > 0) tr / un - 1 else 0.0))
        PerLayer.map { case (k, _) => k -> extra.getOrElse(k, p50(k)) }
      }
    o.spans.foreach { p => Files.createDirectories(p.getParent); Trace.dump(p) }
    val units = (EndToEnd ++ PerLayer).toMap
    val metricJson = metrics.map { case (k, v) => s""""$k":{"value":${num(v)},"unit":"${units(k)}"}""" }
      .mkString("{", ",", "}")
    val info = json(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores, "jvm_start_s" -> jvmStartS,
      "generate_s" -> genS, "prewarm_ops" -> preOps, "prewarm_s" -> preS, "prewarm_op_ms" -> pre.map(_ * 1e3).toSeq, "setup_reps_s" -> setups,
      "warmup_ops" -> warm.size, "warmup_s" -> warmS, "warmup_plateau" -> plateau, "warmup_op_ms" -> warm.map(_ * 1e3).toSeq, "jit_quiet_s" -> quietS, "host_probe_ms" -> Seq(probeBefore, probeAfter), "measured_codegen_compiles" -> codegenCompiles, "check_s" -> checkS,
      "measured_ops" -> (times.size + untraced.size), "measured_s" -> measuredS, "op_ms" -> times.toSeq,
      "untraced_op_ms" -> untraced.toSeq))
    errors.take(5).foreach(e => System.err.println(s"labelbench: failed operation: $e"))
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricJson,"info":$info}"""
  }
}
