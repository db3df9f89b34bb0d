package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one way a main starts a session and times a run: `Bench`,
  * `Verify`, `Smoke` and `Dev` share the session shape, the warm-up,
  * the calibration sentinel and the noop-sink timer, so their numbers
  * compare. Confs the session does not set pass as `-Dspark.*` JVM
  * properties, which every `SparkConf` reads.
  */
object Harness {
  /** Local cores, and the shuffle width (SPARK_GRAFT_CPUS). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The fixture directory the queries read (SPARK_GRAFT_SF_DIR). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A local session with the graft extensions, `cpus` wide (a new one
    * only when no live session exists). `confs` adds to the shape. */
  def session(cpus: Int = Harness.cpus,
              confs: Map[String, String] = Map.empty): SparkSession = {
    warnOnly()
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // a generated class is compiled once on the driver and once on
      // the executors, under different class loaders: one cold run of
      // UrlStream.startAdmittedCuration fills 76 entries of the default
      // cache of 100, so any query run between two of its batches
      // would evict the classes the next batch reuses
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config(confs)
      .getOrCreate()
  }

  /** Loads Spark's default log profile, which logs INFO, and lowers it
    * to WARN before a context starts, so no main prints the start-up
    * INFO lines that a started context's `setLogLevel` comes too late
    * for. */
  private def warnOnly(): Unit = {
    new org.apache.spark.internal.Logging {
      initializeLogIfNecessary(false, silent = true)
    }
    Configurator.setRootLevel(Level.WARN)
  }

  /** Pays the scheduler, parquet reader and first-shuffle first-touch
    * costs, so timings reflect the queries rather than the JVM. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables.read(spark, sfDir, n).limit(1).count())
  }

  /** Fixed-work calibration sentinel: a constant synthetic
    * shuffle+agg whose cost depends only on the host (never on SF or
    * the queries). Two runs differ in sentinel time exactly by their
    * ambient inflation (JVM overlap, host contention), so a cross-run
    * comparison can be normalized by the sentinel ratio instead of
    * guessing whether a slowdown is a regression or the machine. Run
    * it once untimed first, to pay its own codegen. */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(100000000L).selectExpr("id % 997 AS k")
      .groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds, row count and error of one run of `df` into the
    * noop sink. The frame is by-name so that operators which
    * materialize while building it (eager checkpoints) are on the
    * clock. A failed run reads -1 seconds and -1 rows, never a
    * healthy-looking time, with a one-line error of at most 160
    * characters (exception messages can carry whole plans). */
  def time(df: => DataFrame): (Double, Long, Option[String]) = {
    // reclaim finished-query state (broadcasts, shuffle files) so a
    // GC pause triggered by run N isn't billed to run N+1
    System.gc()
    val obs = new Observation()
    val t0 = System.nanoTime()
    // noop sink, not count(): count() lets Catalyst prune away the
    // per-row expression work of map-only queries, timing a skeleton.
    // observe() rides the same action, so row counts are free.
    try {
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, obs.get("rows").asInstanceOf[Long], None)
    } catch { case t: Throwable =>
      (-1.0, -1L, Some((t.getClass.getSimpleName + Option(t.getMessage)
        .map(m => ": " + m.linesIterator.nextOption().getOrElse(""))
        .getOrElse("")).take(160)))
    }
  }

  /** The registered queries whose name contains any of `subs`, in name
    * order; "" selects every query. A filter that selects nothing is
    * an error, never a vacuous run. */
  def select(subs: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => subs.exists(name.contains) }
    require(picked.nonEmpty, s"filter '${subs.mkString(",")}' matched no " +
      "queries — refusing a vacuous run")
    picked
  }
}
