package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Dev use: an optional third arg restricts to queries whose name
  * contains the substring. oracle_sql.json still carries every
  * oracle, so tools/check.py flags the skipped queries as MISS —
  * read only the targeted rows in filtered runs.
  *
  * Salvageability (the r12/r13 driver artifacts arrived EMPTY): the
  * oracle map is written FIRST — a truncated run still leaves the
  * compare harness everything it needs for the outputs that landed —
  * and a `progress.jsonl` line (name, secs, ok) is appended as each
  * query completes, so a killed run is evidence, not `{}`.
  *
  * Wall time: queries run [[Threads]]-wide on the shared session
  * (Spark's scheduler handles concurrent jobs; every query's output
  * dir is its own, shared artifacts go through IndexCache, whose
  * per-key monitor builds each one once however many queries ask for
  * it, and iterative loops already isolate their width on a child
  * session — LoopWidth scaladoc). Parallelism changes only wall
  * time, never results: each query's plan and output are
  * self-contained. GRAFT_VERIFY_THREADS=1 restores the serial walk.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, "")
      case Array(s, o, f) => (s, o, f)
      case _ => sys.error(
        "usage: Verify <sfDir> <outDir> [name-substring]")
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a silently-empty enumeration must never produce a passing-looking
    // empty artifact (round 12's driver gate arrived as `{}`): fail loud
    // on an empty map and announce the count so the log itself is proof
    // the full surface ran
    require(SparkEntry.queries.nonEmpty,
      "SparkEntry.queries is EMPTY — the gate would be vacuous")
    require(SparkEntry.oracleSql.nonEmpty,
      "SparkEntry.oracleSql is EMPTY — the gate would be vacuous")
    val selected = Harness.select(Seq(only))
    println(s"[verify] ${selected.size} of ${SparkEntry.queries.size} " +
      s"queries selected, ${SparkEntry.oracleSql.size} oracles")
    // oracle map FIRST: a truncated run must still be comparable
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonStr.jstr(k)}: ${JsonStr.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val progress = Paths.get(s"$outDir/progress.jsonl")
    Files.deleteIfExists(progress)
    def mark(name: String, secs: Double, err: Option[String]): Unit =
      synchronized {
        val e = err.map(m => s""","err":${JsonStr.jstr(m.take(200))}""")
          .getOrElse("")
        Files.writeString(progress,
          s"""{"name":${JsonStr.jstr(name)},"secs":${
            math.round(secs * 100) / 100.0},"ok":${err.isEmpty}$e}""" + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    val written = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = sys.env.get("GRAFT_VERIFY_THREADS")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = selected.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              written.incrementAndGet()
              mark(name, (System.nanoTime() - t0) / 1e9, None)
            } catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              mark(name, (System.nanoTime() - t0) / 1e9,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
            }
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    println(s"[verify] wrote ${written.get()}/${selected.size} query outputs")
    spark.stop()
  }
}
