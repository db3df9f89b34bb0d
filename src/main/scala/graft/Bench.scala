package graft

/** Driver benchmark: one JSON line with per-query wall seconds over
  * SPARK_GRAFT_SF_DIR. Queries run in sorted-name order after a
  * session warmup, so timings reflect the queries rather than JVM /
  * filesystem / codegen first-touch costs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    // the calibration sentinel, measured FIRST and LAST
    Harness.sentinel(spark) // untimed: pay the sentinel's own codegen first-touch
    val sentinelFirst = Harness.sentinel(spark)
    // full JSON escape incl. control chars — exception messages can
    // carry tabs etc. which would make the emitted line unparseable
    def jstr(s: String): String = JsonStr.jstr(s)
    val firstPass = Harness.select(Seq("")).map { case (name, fn) =>
      val (dt, rows, err) = Harness.time(fn(spark, sfDir))
      println(f"[bench] $name%-24s $dt%8.2f s  $rows%9d rows" +
        err.map("  FAILED " + _).getOrElse(""))
      (name, dt, rows, err)
    }
    // Jitter cut: local-mode stage scheduling is noisy enough that a
    // single sample of a many-stage query can read 2-3x its true cost
    // (measured same-commit, same-host, minutes apart: q_pagerank
    // 13.1 vs 5.1 s — SCALE.md). Queries over the threshold get ONE
    // more sample and report the MIN — the standard estimator for the
    // noise-free cost under asymmetric (always-additive) interference.
    // Both samples are preserved in the full JSON as "retimed".
    val RetimeOver = 2.0
    val retimed = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val results = firstPass.map { case r @ (name, dt1, _, errOpt) =>
      if (errOpt.nonEmpty || dt1 <= RetimeOver) r
      else {
        val (dt2, rows2, err2) = Harness.time(SparkEntry.queries(name)(spark, sfDir))
        if (err2.nonEmpty) r // flaky second run: keep the good sample
        else {
          retimed(name) = (dt1, dt2)
          println(f"[bench] $name%-24s $dt2%8.2f s  (retime; min reported)")
          (name, math.min(dt1, dt2), rows2, err2)
        }
      }
    }
    // Double.toString always uses '.' — locale-proof JSON numbers
    def f3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    val qs = results.map { case (k, v, _, _) => jstr(k) + ":" + f3(v) }
      .mkString("{", ",", "}")
    val rs = results.map { case (k, _, r, _) => jstr(k) + ":" + r }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = f3(results.map(_._2).filter(_ >= 0).sum)
    // merge throughput (BASELINE.md): rows/s through the M1/M2 merge
    // operators — the comparable for the reference's ≤20 addr/s ceiling
    val times = results.map(r => r._1 -> r._2).toMap
    val rowCounts = results.map(r => r._1 -> r._3).toMap
    val mergeNames = Seq("m1_upsert_replace", "m2_label_set_union")
    // row counts were captured by observe() on the timed run — a
    // count() here would re-execute both merges end to end
    val mergeRows = mergeNames.flatMap(rowCounts.get).filter(_ >= 0).sum
    val mergeSecs = mergeNames.flatMap(times.get).filter(_ >= 0).sum
    val mergeRate = f3(if (mergeSecs > 0) mergeRows / mergeSecs else 0.0)
    val sentinelLast = Harness.sentinel(spark)
    val cal = s""""sentinel_first_sec":${f3(sentinelFirst)},"sentinel_last_sec":${f3(sentinelLast)}"""
    val retimedJson = retimed.map { case (k, (a, b)) =>
      jstr(k) + s":[${f3(a)},${f3(b)}]" }.mkString("{", ",", "}")
    // Full per-query record — every timing, row count, and error —
    // goes to a FILE: with 80+ queries the one-line form is ~5 KB,
    // far over the driver's ~2 KB stdout-tail capture (BENCH_r02–r04
    // all arrived truncated and unparseable).
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rows":$rs,"errors":$errs,"sf":"$sfDir","merge_rows_per_sec":$mergeRate,"retimed":$retimedJson,$cal}"""
    // GRAFT_BENCH_OUT reroutes the full record for contract checks /
    // dev runs at other SFs — an sf0.001 smoke run must NOT clobber
    // the committed sf0.1 baseline the regression gate compares to
    // (it happened once; bench_gate then flagged phantom 2–5×
    // "regressions" that were just the SF mismatch)
    val outPath = sys.env.getOrElse("GRAFT_BENCH_OUT", "BENCH_FULL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The stdout JSON line must survive that 2 KB tail whole (plus
    // sbt's ~100-char epilogue), or the round has NO parsed bench.
    // Slowest queries first — they are the performance story; the
    // rest are in BENCH_FULL.json (committed alongside the round).
    val budget = 1400
    val top = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var omitted = 0
    results.sortBy(-_._2).foreach { case (k, v, _, _) =>
      val ent = jstr(k) + ":" + f3(v)
      if (used + ent.length + 1 <= budget) { top += ent; used += ent.length + 1 }
      else omitted += 1
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${top.mkString("{", ",", "}")},"queries_omitted":$omitted,"full":"BENCH_FULL.json","errors":$errs,"sf":"$sfDir","merge_rows_per_sec":$mergeRate,$cal}""")
    spark.stop()
  }
}
