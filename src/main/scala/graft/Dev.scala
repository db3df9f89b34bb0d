package graft

import graft.operators.{DedupPack, QueryLayerPack, SimilarityPack}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

/** Dev instruments, one main over the [[Harness]] session, reading
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as `Bench` does:
  *
  *  - `run <substr>[,..] [runs]`: each selected query `runs` times
  *    (default 1) through the harness timer, with the sentinel before
  *    and after, so a reader can tell ambient drift from the query's
  *    own variance. Each run prints wall time and rows, the task
  *    metrics a listener sums (jobs, stages, tasks, task time, GC,
  *    shuffle, spill) and the stages that took the most task time.
  *    Interpretation: `task/cpus` is the perfect-parallel floor; wall
  *    far above it with low task time means stage latency (many small
  *    stages) or driver work; wall near it means the query is
  *    compute-bound and the win must come from less work per row.
  *  - `plans <outDir> <suffix> <substr>[,..]`: writes each selected
  *    query's `explain("formatted")` to `<outDir>/<name>_<suffix>.txt`.
  *  - `card`: the MinHash-LSH value-banding cardinality audit.
  *  - `stress <factor> [probe]`: the scale probes over factor×
  *    replicated fixtures.
  *
  * A query filter that selects nothing fails, as `Verify`'s does. A
  * conf the session does not set passes as a JVM property, e.g.
  * `sbt 'set javaOptions += "-Dspark.sql.adaptive.enabled=false"'
  * "runMain graft.Dev run q_pagerank"`.
  */
object Dev {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val cmd: (SparkSession, String) => Unit = args.toList match {
      case "run" :: subs :: runs if runs.size <= 1 =>
        val picked = Harness.select(subs.split(",").toSeq)
        run(_, _, picked, runs.headOption.fold(1)(_.toInt))
      case List("plans", outDir, suffix, subs) =>
        val picked = Harness.select(subs.split(",").toSeq)
        plans(_, _, picked, outDir, suffix)
      case List("card") => card
      case "stress" :: factor :: probe if probe.size <= 1 =>
        stress(_, _, factor.toInt, probe.headOption.getOrElse(""))
      case _ => sys.error("usage: Dev run <substr>[,..] [runs] | " +
        "plans <outDir> <suffix> <substr>[,..] | card | " +
        "stress <factor> [probe]")
    }
    val spark = Harness.session()
    try cmd(spark, Harness.sfDir) finally spark.stop()
  }

  /** A stage by the operators it ran, upstream first: adaptive
    * execution submits its stages from its own futures, so most stage
    * names are one `CompletableFuture` call site. */
  private def stageName(info: StageInfo): String = {
    val scopes = GraftShim.stageScopes(info)
    (if (scopes.nonEmpty) scopes.mkString(" > ")
     else info.name.takeWhile(_ != '\n')).take(120)
  }

  /** Sums the task metrics of everything that runs while attached. */
  private class TaskSums extends SparkListener {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs, shufReadB, shufWriteB, spillB = 0L
    /** stage id -> (name, tasks, task ms) */
    val perStage = scala.collection.mutable.Map.empty[Int, (String, Long, Long)]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        val (_, n, ms) = perStage.getOrElse(s.stageInfo.stageId, ("", 0L, 0L))
        perStage(s.stageInfo.stageId) = (stageName(s.stageInfo), n, ms)
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        val (nm, n, ms) = perStage.getOrElse(t.stageId, ("", 0L, 0L))
        perStage(t.stageId) = (nm, n + 1, ms + m.executorRunTime)
        taskMs += m.executorRunTime
        gcMs += m.jvmGCTime
        spillB += m.memoryBytesSpilled
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private def run(spark: SparkSession, sfDir: String,
                  picked: Seq[(String, Query)], runs: Int): Unit = {
    Harness.warmUp(spark, sfDir)
    Harness.sentinel(spark) // untimed: pay the sentinel's own codegen
    println(f"[dev] sentinel ${Harness.sentinel(spark)}%.2f s")
    val cpus = spark.sparkContext.defaultParallelism
    for ((name, q) <- picked; r <- 1 to runs) {
      val l = new TaskSums
      spark.sparkContext.addSparkListener(l)
      val (secs, rows, err) = Harness.time(q(spark, sfDir))
      // the listener bus is async and its drain API is private[spark];
      // a fixed wait is fine for a dev instrument
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l)
      l.synchronized {
        println(f"[dev] $name%-24s r$r wall=$secs%6.2f s rows=$rows%d  " +
          f"jobs=${l.jobs}%d stages=${l.stages}%d tasks=${l.tasks}%d  " +
          f"task=${l.taskMs / 1000.0}%.1f s (/$cpus=${l.taskMs / 1000.0 / cpus}%.2f) " +
          f"gc=${l.gcMs / 1000.0}%.2f s sr=${l.shufReadB / 1e6}%.1f MB " +
          f"sw=${l.shufWriteB / 1e6}%.1f MB spill=${l.spillB / 1e6}%.1f MB" +
          err.map("  FAILED " + _).getOrElse(""))
        l.perStage.toSeq.sortBy(-_._2._3).take(15).foreach {
          case (id, (nm, n, ms)) =>
            println(f"[dev.stage] $id%5d ${ms / 1000.0}%7.2f s  n=$n%4d  $nm")
        }
      }
    }
    println(f"[dev] sentinel ${Harness.sentinel(spark)}%.2f s")
  }

  private def plans(spark: SparkSession, sfDir: String,
                    picked: Seq[(String, Query)], outDir: String,
                    suffix: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    picked.foreach { case (name, q) =>
      val plan = q(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plans] $name -> $outDir/${name}_$suffix.txt")
    }
  }

  /** Doc-level vs signature-level band-join candidate counts on the
    * fixture corpus (guide §2.5 / SCALE.md): the evidence that banding
    * over distinct signatures bounds the hot-bucket quadraticity. */
  private def card(spark: SparkSession, sfDir: String): Unit = {
    import graft.functions.Hashing
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val sig = DedupPack.signaturesFrom(toks)
      .localCheckpoint(eager = true)
    val sigCols = (0 until Hashing.NumPerms).map(i => col(s"mh$i"))
    val nDocs = sig.count()
    val groups = sig.groupBy(sigCols: _*).agg(min(col("doc_id")).as("sid"),
      count(lit(1)).as("n")).localCheckpoint(eager = true)
    val nSigs = groups.count()
    val maxGroup = groups.agg(max(col("n"))).head().getLong(0)
    def rawBandMatches(b: DataFrame): Long =
      b.alias("a").join(b.alias("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id")).count()
    val docBands = DedupPack.bandsFrom(sig)
      .localCheckpoint(eager = true)
    val valBands = DedupPack.bandsFrom(
      groups.select(col("sid").as("doc_id") +: sigCols: _*))
      .localCheckpoint(eager = true)
    val docMatches = rawBandMatches(docBands)
    val valMatches = rawBandMatches(valBands)
    // the value-level path's OUTPUT work: expanded cross pairs + the
    // same-signature pairs (both duplicate-free by construction)
    val samePairs = groups.agg(sum(expr("n * (n - 1) DIV 2")))
      .head().getLong(0)
    println(s"[card] docs=$nDocs distinct_sigs=$nSigs max_sig_group=$maxGroup")
    println(s"[card] band_join_matches doc_level=$docMatches " +
      s"value_level=$valMatches same_sig_pairs=$samePairs")
  }

  /** Scale probes: replicate documents/events/embeddings factor× (with
    * shifted ids so dedup semantics stay meaningful) and time the
    * heavy operator families — the measured evidence for the
    * linearity claims in SCALE.md:
    *  - minhash / simhash / exact dedup over replicated documents
    *    (scan-stage pipelines; wall should track input bytes)
    *  - jaccardPairs over replicated documents, dfCap scaled by the
    *    replication factor (replication multiplies every shingle's df
    *    by the factor, so a fixed cap would drop everything and the
    *    probe would measure the cap, not the join); wall should track
    *    input + output-pair count
    *  - capped cooccurrence over events with factor× users per day,
    *    TopKPerKey form vs the old row_number-window form — the hot-day
    *    evidence: output is cap-bounded either way, but the window form
    *    funnels every cell of a day through one task
    *  - ANN candidate generation over replicated embeddings (copies
    *    collide into the same LSH buckets → bucket size grows ~factor×),
    *    capped vs uncapped — the measured candidate-reduction factor
    *  - and the rest below, one commented block each.
    *
    * `only` skips probes whose name doesn't contain it (skipped probes
    * report -1 rows, no wall line); a filter that runs no probe is an
    * error. One probe per process is also the honest measurement:
    * concurrent wide sessions starve each other.
    */
  private def stress(spark: SparkSession, sf: String, factor: Int,
                     only: String): Unit = {
    implicit val sp: SparkSession = spark
    val docs = Tables.documents(spark, sf)
    val big = docs.crossJoin(
        spark.range(factor).select(col("id").as("rep")))
      .select((col("doc_id") * factor + col("rep")).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    big.write.mode("overwrite").parquet("/tmp/stress_docs")
    val renamed = spark.read.parquet("/tmp/stress_docs")
    val n = renamed.count()

    /** Wall seconds and rows of one probe through the harness timer.
      * Probes not matching the CLI filter are skipped (-1 rows). The
      * frame is by-name: operators with EAGER internal stages
      * (knnGraphOver's per-round checkpoints) build inside the clock,
      * and a skipped probe does not pay them at all. A probe whose
      * result is driver-side times a frame of that many rows. */
    var ran = 0
    def time(name: String, df: => DataFrame): (Double, Long) = {
      if (!name.contains(only)) return (-1.0, -1L)
      ran += 1
      val (secs, rows, err) = Harness.time(df)
      println(f"[stress] x$factor%-3d $name%-24s $secs%8.2f s  $rows%10d rows" +
        err.map("  FAILED " + _).getOrElse(""))
      (secs, rows)
    }

    import graft.functions.Hashing
    val toks = renamed.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val hsFrame = toks.select(col("doc_id"),
      transform(Hashing.shingles(col("toks"), 3),
        s2 => Hashing.h32(s2)).as("hs"))
    time("minhash_fold",
      hsFrame.select(col("doc_id") +: DedupPack.sigFoldCols(col("hs")): _*))
    time("minhash_native",
      hsFrame.select(col("doc_id"),
        graft.plans.MinHash8.sig(col("hs")).as("sig")))
    time("simhash_fold", simhash(renamed, native = false))
    time("simhash_native", simhash(renamed, native = true))
    time("exact_dedup",
      renamed.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")), count(lit(1))))

    // jaccard: dfCap scales with the factor (see scaladoc above)
    time("jaccard_pairs",
      DedupPack.jaccardPairs(toks, dfCap = DedupPack.JaccardDfCap * factor))

    // winnowing: same flood shape as jaccard (replicas fingerprint
    // identically, so every posting list is factor-deep) — scale the
    // df cap with the factor so the probe measures the selection +
    // join, not the cap
    time("winnow_pairs", DedupPack.winnowPairs(toks,
      dfCap = DedupPack.WinnowDfCap * factor))

    // MinHash-LSH band join, value-banded vs doc-level (r16):
    // replicas share their source doc's SIGNATURE, so every band
    // bucket holds `factor` copies of each original member — the
    // boilerplate regime the value-banding exists for. Both forms
    // emit the IDENTICAL candidate set (the candidatePairsFromSig
    // equivalence argument); the probe measures the join-input gap.
    time("band_pairs_value", DedupPack.devBandPairsValue(toks))
    time("band_pairs_doclevel", DedupPack.devBandPairsDocLevel(toks))

    // code gates: pure scan-stage string expressions — wall should be
    // linear in bytes with zero shuffles
    time("code_rules",
      graft.operators.CodePack.ruleFrame(
        graft.operators.CodePack.codeFiles(renamed)))

    // dup spans: replication makes EVERY gram a ≥2-occurrence seed,
    // so this measures the operator's worst case — 100% semi-join
    // selectivity and full-length per-doc interval folds. Output is
    // one row per doc at any factor; wall should track input tokens.
    time("dup_spans", DedupPack.dupSpans(toks))

    // suffix-array spans at factor×: replication multiplies the
    // position count (and makes every doc a true duplicate, so the
    // LCP step runs at its worst case — every adjacent pair extends
    // to full doc length). Construction is the doubling chain: wall
    // should track positions (shard-local sorts), never pairs².
    time("sa_spans", graft.operators.SuffixArray.spanCoverage(
      renamed, DedupPack.SpanGram,
      graft.operators.SuffixArray.ranked(
        graft.operators.SuffixArray.positions(renamed))))
    // same probe at 4× the shard count — the production parallelism
    // knob (more shards = smaller shard-local sorts, more tasks)
    time("sa_spans_sharded", graft.operators.SuffixArray.spanCoverage(
      renamed, DedupPack.SpanGram,
      graft.operators.SuffixArray.ranked(
        graft.operators.SuffixArray.positions(renamed,
          graft.operators.SuffixArray.NShards * 4))))

    // jsonl export: spool factor× docs into gzip shards and parse
    // every line back — one sequential pass per source partition,
    // so wall should track bytes; the per-doc parse dominates
    time("jsonl_roundtrip", graft.sources.JsonlShards.parseShards(
      graft.sources.JsonlShards.shardsFromDocuments(renamed)))

    // mega-component span dedup: ONE 16-token boilerplate sentence
    // appended to EVERY doc (the "sentence spanning 10^5 docs" case),
    // natural tokens salted per-doc so the boiler grams are the ONLY
    // seeds — the probe isolates a single gram hash carrying ~10^5
    // occurrences. Scale shape under that skew: the seed count and
    // the winner min() both partial-aggregate map-side (one row per
    // gh out of each partition), the winners join back is a 1-row
    // build per gh, and the doc-grain regroup spreads — wall must
    // track doc count, not component size squared. The winning-span
    // protection invariant (losers excise exactly the 16 boiler
    // tokens; the winner keeps them) is pinned exactly in
    // SpanDedupSpec; this probe is the wall-clock half.
    val boilerText = (1 to 16).map(i => s"boiler$i").mkString(" ")
    val megaToks = renamed.select(col("doc_id"),
      split(concat(array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("doc_id"))), " "),
        lit(" " + boilerText)), " ").as("toks"))
    time("dup_spans_mega", DedupPack.dupSpans(megaToks))
    time("dup_spans_apply_mega", DedupPack.dupSpansApply(megaToks))

    // incremental dedup: how much of a new batch the history bloom
    // clears WITHOUT touching history. Batch = 1/5 of the replicated
    // corpus; replication makes every batch text a true duplicate of
    // history (worst case — every row "maybe seen"), so the honest
    // pair of numbers is this sliver ratio vs the fresh-batch one
    // where only hash fp-rate routes rows to the exact join.
    // guard matches the probe NAMES time() prints, so a copied name
    // (e.g. `Dev stress 20 increm_dedup_bloom`) still selects the block
    def wants(names: String*): Boolean =
      only.isEmpty || names.exists(_.contains(only))
    if (wants("increm_dedup_sliver", "increm_dedup_bloom",
        "increm_dedup_plain")) {
      import graft.functions.Hashing
      // production wiring, not a re-implementation (DedupPack owns
      // the split rule and key projection)
      val (hist, dupBatch) = DedupPack.incrementalSlices(renamed)
      val bf = graft.operators.RuntimeFilter.keySketch(hist, col("h"), n)
      val probe = graft.plans.BloomMightContainLong.probe(
        xxhash64(col("h")), bf)
      val dupSliver = dupBatch.filter(probe).count()
      // fresh batch: texts history has never seen (salted rewrite)
      val freshBatch = renamed.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          Hashing.h32(concat(lit("fresh#"), col("text"))).as("h"))
      val freshSliver = freshBatch.filter(
        graft.plans.BloomMightContainLong.probe(xxhash64(col("h")), bf)).count()
      println(f"[stress] x$factor%-3d increm_dedup_sliver       " +
        f"dup-batch ${dupSliver * 100.0 / dupBatch.count()}%6.2f%%  " +
        f"fresh-batch ${freshSliver * 100.0 / freshBatch.count()}%6.2f%%")
      time("increm_dedup_bloom",
        graft.operators.RuntimeFilter.bloomPrunedAntiJoin(
          dupBatch, col("h"), hist, col("h"), expectedKeys = n))
      time("increm_dedup_plain",
        dupBatch.join(hist.select(col("h").as("hh")),
          col("h") === col("hh"), "left_anti"))
    }

    // passage dedup: replication multiplies every passage's copy
    // count by factor; the min-struct groupBy forwards one candidate
    // per hash per partition, so wall should track input chunks
    time("chunk_dedup",
      DedupPack.chunkDedup(renamed, DedupPack.ChunkW))
    // decontamination: eval n-gram set broadcast, train side never
    // shuffles — wall should track the train-side n-gram explode
    time("decontaminate",
      DedupPack.decontaminate(toks, DedupPack.ContamNgramW,
        col("doc_id") % 50 === 0))

    // cooccurrence: factor× users per day, cap fixed — TopKPerKey vs
    // the window form the round-2 code used
    val cells = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val bigCells = cells.crossJoin(
        spark.range(factor).select(col("id").as("rep")))
      .select(col("day"), (col("user_id") * factor + col("rep")).as("user_id"))
    def coocWindow(cells2: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("user_id"))
      val capped = cells2.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= QueryLayerPack.CoocDayCap).drop("rn")
      capped.alias("a").join(capped.alias("b"),
          col("a.day") === col("b.day") &&
          col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"))
        .agg(count(lit(1)).as("shared")).filter(col("shared") >= 3)
    }
    time("cooc_topk", QueryLayerPack.cooccurrence(bigCells))
    time("cooc_window", coocWindow(bigCells))
    // the VIRAL-day case the native cap exists for: factor×1M distinct
    // users all on one day — the window form must funnel every cell of
    // that day through a single task's sort; TopKPerKey crosses the
    // exchange with ≤ cap rows per input partition
    val hotDay = spark.range(factor * 1000000L)
      .select(lit(java.sql.Date.valueOf("2024-01-01")).as("day"),
        col("id").as("user_id"))
    time("cooc_topk_hotday", QueryLayerPack.cooccurrence(hotDay))
    time("cooc_window_hotday", coocWindow(hotDay))

    // ANN candidates: replicated embeddings collide into the same
    // buckets; compare capped vs uncapped candidate-pair counts —
    // driving SimilarityPack's OWN stages so the probe measures the
    // production plan, not a re-implementation
    val emb = Tables.embeddings(spark, sf)
    val bigEmb = emb.crossJoin(
        spark.range(factor).select(col("id").as("rep")))
      .select((col("vec_id") * factor + col("rep")).as("vec_id"),
        col("embedding"))
    val buckets = SimilarityPack.bucketize(bigEmb)
    def pairs(side: DataFrame): DataFrame =
      SimilarityPack.candidateIdPairs(side)
    val (_, nUncapped) = time("ann_cand_uncapped", pairs(buckets))
    val (_, nCapped) = time("ann_cand_capped",
      pairs(SimilarityPack.capBuckets(buckets)))
    // both sides must have RUN — a filtered probe returns the -1
    // skip sentinel, which would print a nonsense negative ratio
    if (nCapped > 0 && nUncapped >= 0)
      println(f"[stress] x$factor%-3d ann candidate reduction   ${nUncapped.toDouble / nCapped}%8.2fx")
    // mega-bucket case: factor×1000 copies of ONE vector collide into
    // a single (band, bucket) — uncapped residual is C(n,2); the cap
    // bounds it at C(AnnBucketCap,2) per band
    val hot = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(factor * 1000L).select(col("id").as("hid")))
      .select(col("hid").as("vec_id"), col("embedding"))
    val hotBuckets = SimilarityPack.bucketize(hot)
    val (_, hu) = time("ann_hotbucket_uncapped", pairs(hotBuckets))
    val (_, hc) = time("ann_hotbucket_capped",
      pairs(SimilarityPack.capBuckets(hotBuckets)))
    if (hc > 0 && hu >= 0)
      println(f"[stress] x$factor%-3d hot-bucket reduction      ${hu.toDouble / hc}%8.2fx")

    // NN-Descent k-NN graph over factor× embeddings: per-round
    // candidates are bounded by (2K)² per node, so wall should track
    // N linearly — the bound that separates it from the O(N²) brute
    // graph (sim_knn_graph's 100 TB argument, measured)
    val knnVecs = bigEmb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        graft.functions.Similarity.norm(col("embedding")).as("nrm"))
    time("knn_graph", SimilarityPack.knnGraphOver(knnVecs))

    // graph SEARCH over factor× vectors: per-query state is B rows and
    // each round's exchange carries (qid, node) ids only — wall should
    // track query count (vec_id % 10 scales with N), never N²
    time("knn_search", SimilarityPack.knnSearchOver(knnVecs))

    /** Times the corpus-depth HNSW schedule against the fixed 2-level
      * one over `vecs` (probes `<prefix>_depth<L>` and
      * `<prefix>_2level`) and, when both ran, prints each one's
      * per-round expansion sizes and recall@K against the brute-force
      * truth — the deep schedule must cut candidates WITHOUT giving
      * recall back. (An 8-round build — NN-Descent's ~log n guidance —
      * was probed and changed neither form's recall by >0.01: at ×20
      * recall is ENTRY-TRAVEL-bound, not convergence-bound; see the
      * SCALE.md round-14 row.) */
    def hnswCompare(prefix: String, vecs: DataFrame): Unit = {
      val nVec = vecs.count()
      val levels = SimilarityPack.hnswLevels(nVec)
      val layerGraphs = (1 to levels).map(l => l ->
        SimilarityPack.knnGraphOver(vecs.filter(
          SimilarityPack.hnswMemberAt(col("vec_id"), l)))).toMap
      val base = SimilarityPack.knnGraphOver(vecs)
      def entriesAt(top: Int) =
        (SimilarityPack.searchEntriesOf(vecs,
          Some(SimilarityPack.hnswMemberAt(col("vec_id"), top))) ++
          SimilarityPack.searchEntriesOf(vecs)).distinct.sorted
      def run(name: String, sched: Seq[Int], top: Int)
          : (DataFrame, Seq[Long]) = {
        val counts = scala.collection.mutable.Buffer.empty[Long]
        var out: DataFrame = null
        time(name, { out = SimilarityPack.beamSearchOver(vecs,
          sched.map(layerGraphs) ++
            Seq.fill(SimilarityPack.HnswFineRounds)(base),
          entriesAt(top), Some(counts)); out })
        (out, counts.toSeq)
      }
      val (deepRes, deep) = run(s"${prefix}_depth$levels",
        SimilarityPack.hnswSchedule(levels), levels)
      val (twoRes, two) = run(s"${prefix}_2level", Seq(1, 1), 1)
      // a narrower filter (e.g. only="hnsw_search_2level") skips one
      // run and leaves its frame null — compare only when both ran
      if (deepRes != null && twoRes != null) {
        val truth = SimilarityPack.bruteTruth(vecs)
          .localCheckpoint(eager = true)
        def recall(res: DataFrame): Double = SimilarityPack.recallRow(
          res.select(col("qid").as("src"), col("nbr_id").as("dst")), truth)
          .collect()(0).getAs[Double]("recall")
        println(s"[stress] x$factor $prefix ($nVec vecs) expanded candidates: " +
          s"depth-$levels = ${deep.sum} ${deep.mkString("[", ",", "]")} " +
          s"recall ${recall(deepRes)} vs 2-level = ${two.sum} " +
          s"${two.mkString("[", ",", "]")} recall ${recall(twoRes)}")
      }
    }

    // HNSW top-down search with CORPUS-DERIVED depth (r14): the
    // replicated corpus crosses the level thresholds the fixture SFs
    // can't (sf0.1 × 20 = 40k vectors → depth 3), so this probe runs
    // the production schedule at its REAL depth and measures the
    // per-round EXPANSION sizes against the r13 fixed-2-level form —
    // the deeper hierarchy's claim is fewer candidates scored for
    // equal-or-better localization, and that number is what scales
    // (expansion rows are the search's only corpus-bound exchange)
    if (wants("hnsw_search")) { // probe names below all contain it
      // INTERPOLATED replicas, not copies: identical copies make the
      // probe space 2 k isolated duplicate-clusters — NN-Descent
      // edges all land INSIDE a cluster (your 6 nearest neighbors
      // are your replicas), beams cannot travel, and brute-force
      // "truth" is a cos-1.0 tie lottery, so recall measures nothing
      // for ANY schedule (measured: 0.05–0.11 for every variant).
      // Replica r of vector i is instead the point (1−t)·vᵢ + t·vᵢ₊₁
      // (t = r/factor) — a smooth factor×-dense manifold through the
      // base points, the structure real embedding spaces have and
      // graph search is built for, with a well-defined top-K
      val nxt = emb.filter(col("embedding").isNotNull)
        .select((col("vec_id") - 1).as("vec_id"),
          col("embedding").as("e2"))
      val pvecs = emb.filter(col("embedding").isNotNull)
        .join(nxt, Seq("vec_id"))
        .crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select((col("vec_id") * factor + col("rep")).as("vec_id"),
          expr(s"zip_with(embedding, e2, (x, y) -> CAST(" +
            s"x * (1.0 - rep / CAST($factor AS DOUBLE)) + " +
            s"y * (rep / CAST($factor AS DOUBLE)) AS FLOAT))")
            .as("embedding"))
        .select(col("vec_id"), col("embedding"),
          graft.functions.Similarity.norm(col("embedding")).as("nrm"))
        .persist()
      hnswCompare("hnsw_search", pvecs)
      pvecs.unpersist()
    }

    // HNSW over a ZIPF-CLUSTER mixture (r15): the three probe
    // geometries above are each adversarial in a different way
    // (replica ties, isolated clusters, a 1-D manifold); real
    // embedding corpora are heavy-tailed cluster mixtures — a few
    // huge topics, a long tail of small ones — with internal spread
    // and inter-cluster bridges. Cluster k (of 64) draws points with
    // P(k) ∝ 1/(k+1) (inverse-CDF on a deterministic low-discrepancy
    // sequence, no RNG — resume-safe); each point blends its center
    // toward the next center by a small deterministic t ∈ [0, 0.1),
    // giving dense cores plus traversable bridges. The question on
    // THIS geometry: does the top-two coarse schedule still trade
    // recall for candidates the way the manifold probe showed?
    if (wants("hnsw_zipf")) {
      val nC = 64
      val baseVecs = emb.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val nBase = baseVecs.count()
      val centers = baseVecs.filter(col("vec_id") < nC)
        .select(col("vec_id").as("k"), col("embedding").as("cv"))
      val centers2 = centers.select(((col("k") + nC - 1) % nC).as("k"),
        col("cv").as("cv2"))
      val n = nBase * factor
      val pts = spark.range(n).select(col("id"),
        // low-discrepancy u ∈ [0,1): Knuth multiplicative hash
        ((col("id") * 2654435761L) % 4294967296L).cast("double")
          ./(lit(4294967296.0)).as("u"),
        ((col("id") * 31) % 100).cast("double")./(lit(1000.0)).as("t"))
        .select(col("id"), col("t"),
          (floor(exp(col("u") * math.log(nC.toDouble))) - 1)
            .cast("long").as("k"))
      val zvecs = pts
        .join(broadcast(centers), Seq("k"))
        .join(broadcast(centers2), Seq("k"))
        .select(col("id").as("vec_id"),
          expr("zip_with(cv, cv2, (x, y) -> CAST(" +
            "x * (1.0 - t) + y * t AS FLOAT))").as("embedding"))
        .select(col("vec_id"), col("embedding"),
          graft.functions.Similarity.norm(col("embedding")).as("nrm"))
        .persist()
      hnswCompare("hnsw_zipf", zvecs)
      zvecs.unpersist()
    }

    // pagerank: the q_pagerank edge graph replicated factor× with
    // shifted node ids (disjoint copies of the original graph — same
    // structure, factor× edges). Wall should track edge count: each
    // round is one join of ranks onto the src-partitioned cached
    // edges + one map-side-combined agg, and LoopWidth grows the loop
    // width with the measured edges (disjoint copies also pin that
    // ranks stay bit-identical per copy — integer arithmetic is
    // replica-independent).
    def bigEdges(a: String, b: String): DataFrame = {
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      val e1 = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as(a),
          (col("o_custkey") + lit(1L << 40)).as(b))
      val shift = 1L << 50 // copies live in disjoint id ranges
      e1.crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select((col(a) + col("rep") * shift).as(a),
          (col(b) + col("rep") * shift).as(b))
    }
    time("pagerank_3rounds",
      graft.operators.PageRank.fixedPoint(bigEdges("src", "dst"), iters = 3))

    // k-means: one Lloyd step over the replicated embeddings — per
    // iteration ONE scan (literal-centroid argmax via codegen'd
    // FloatDot) + a ≤ k·d-row shuffle, so wall should track input
    // vectors
    if (wants("kmeans_step")) {
      val vq = graft.operators.KMeans.quantize(bigEmb)
      // rows: the trained centroids
      time("kmeans_step",
        spark.range(graft.operators.KMeans.train(vq, iters = 1).size).toDF())
    }

    // SemDeDup sizing rule: with k FIXED, clusters swell ∝ N and the
    // within-cluster all-pairs residual grows ~factor²; with k ∝ N
    // (constant expected cluster size) pair count stays ~linear in
    // input. Candidate-pair generation only (the part whose growth
    // rate is at stake) — the cosine filter downstream is linear in
    // these pairs either way. Run this probe at factor ≤ 5: the
    // fixed-k side is not just quadratic in pairs, its join
    // parallelism is capped at k tasks (8 keys → ≤ 8 non-empty
    // shuffle partitions, AQE-coalesced further) — at ×20 the single
    // hot task grinds for upwards of half an hour, which is the
    // pathology itself, measured the expensive way.
    // factor-guarded in the DEFAULT sweep: the fixed-k side at ×20 is
    // the 30-minute hot task described above — only an explicit
    // `semdedup` filter opts into running it at a large factor
    if ((only.isEmpty && factor <= 5) ||
        (only.nonEmpty && Seq("semdedup_pairs_fixed_k",
          "semdedup_pairs_scaled_k").exists(_.contains(only)))) {
      import graft.operators.KMeans
      // BLOCK id layout (vec_id + rep·N), not the interleaved one:
      // interleaving would make ids 0..k·factor−1 copies of the first
      // few vectors, collapsing the scaled-k init to ~K distinct
      // centroids and voiding the comparison
      val nEmb = emb.count()
      val vqB = KMeans.quantize(emb.crossJoin(
          spark.range(factor).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * nEmb).as("vec_id"),
          col("embedding")))
      def clusterPairs(k: Int): DataFrame = {
        val cents = KMeans.train(vqB, iters = 1, k = k)
        val assigned = vqB.select(col("vec_id"),
          KMeans.assign(KMeans.scores(col("vq"), cents)).as("cluster"))
        assigned.alias("a").join(assigned.alias("b"),
            col("a.cluster") === col("b.cluster") &&
            col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id"), col("b.vec_id"))
      }
      val (_, fixed) = time("semdedup_pairs_fixed_k", clusterPairs(KMeans.K))
      val (_, scaled) = time("semdedup_pairs_scaled_k",
        clusterPairs(KMeans.K * factor))
      if (scaled > 0 && fixed >= 0)
        println(f"[stress] x$factor%-3d semdedup k~N reduction    ${fixed.toDouble / scaled}%8.2fx")
    }
    // doc-store snapshot rotation at width: N batches through
    // ParquetDocStoreSink, each upsert REWRITING the full store (the
    // known trade of snapshot-rotate vs a table format's row-level
    // MERGE). Batches half-overlap the store so every round exercises
    // both replace and insert; the number to watch is per-batch wall
    // GROWTH — it should track store size (linear rewrite), and the
    // retention pass must hold the version count flat at keepVersions.
    if (wants("docstore_rotate")) {
      val dir = "/tmp/stress_docstore"
      def rmdir(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rmdir); f.delete()
      }
      rmdir(new java.io.File(dir))
      val sink = new graft.streaming.ParquetDocStoreSink(dir,
        keys = Seq("k"), orderCols = Seq("ver"), keepVersions = 2)
      val batchRows = 50000L * factor
      (0 until 5).foreach { b =>
        val batch = spark.range(b * batchRows / 2, b * batchRows / 2 + batchRows)
          .select(col("id").as("k"), lit(b.toLong).as("ver"),
            concat(lit("payload"), col("id")).as("v"))
        time(s"docstore_rotate_b$b",
          { sink.upsert(batch, b.toLong); spark.range(0).toDF() })
        val stored = sink.current(spark).map(_.count()).getOrElse(0L)
        val nVers = Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .count(_.getName.startsWith("v="))
        val vBytes = Option(new java.io.File(s"$dir/v=$b").listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        println(f"[stress] x$factor%-3d docstore_rotate_b$b%-8d stored $stored%d rows in $nVers versions, v=$b $vBytes%d B")
      }
    }
    // total-order enumeration at width: GlobalIndex over the
    // replicated corpus keyed by a per-row hash — the wall should
    // track input rows (range shuffle + two linear passes); the
    // sanity bound checks the enumeration stayed a permutation.
    if (wants("global_index")) {
      val keyed = renamed
        .select(col("doc_id"),
          graft.functions.Hashing.h32(col("doc_id").cast("string")).as("k"))
      val pos = graft.operators.GlobalIndex.withPosition(
        keyed, Seq(col("k"), col("doc_id")), "pos")
      time("global_index", pos)
      val mx = pos.agg(max(col("pos"))).head().getLong(0)
      println(f"[stress] x$factor%-3d global_index max_pos       ${mx}%10d (rows ${n}%d)")
    }
    // content-defined chunking at width: token-grain explode + a
    // per-doc window + chunk-hash partial aggs — wall must track
    // input tokens (the dup_spans cost class), and replication makes
    // every chunk a corpus-wide duplicate (worst-case histogram skew:
    // each chunk hash carries `factor` copies, partial-agg bounded)
    time("cdc_chunks", DedupPack.cdcChunks(toks))
    time("cdc_apply", DedupPack.cdcApply(toks))

    // label propagation: same graph shape as pagerank — per round one
    // join of labels onto cached symmetric edges + a map-side argmax
    // agg; wall must track edges, not rounds × width
    time("labelprop_2rounds",
      graft.operators.LabelProp.propagate(bigEdges("a", "b"), iters = 2))

    // BPE vocabulary training: per-iteration cost must be FLAT in K
    // (each round is one scan of the cached symbol corpus + a pair
    // groupBy over tiny cardinality + a 1-row top collect; the corpus
    // only shrinks as merges fuse). Timing K=4 vs K=8 on the
    // replicated corpus: sec/iter should be ~equal, not growing.
    if (wants("bpe_vocab")) {
      val words = renamed
        .select(explode(split(col("text"), " ")).as("w"))
      for (k <- Seq(4, 8)) {
        val (secs, _) = time(s"bpe_vocab_k$k",
          graft.operators.Bpe.trainVocab(words, iters = k))
        println(f"[stress] x$factor%-3d bpe_vocab_k$k%-13s ${secs / k}%.2f s/iter")
      }
    }
    // fuzzy blocking at width: replication floods every title block
    // with `factor` copies — the membership cap is what keeps the
    // self-join from going quadratic in the flood (same argument as
    // ann_hotbucket); pair output is cap-bounded per block.
    time("fuzzy_pairs", DedupPack.fuzzyPairs(renamed))
    // classifier training: per-step cost must be FLAT in K (each step
    // is one broadcast join + doc-keyed agg + one j-keyed agg over
    // the CACHED sparse pairs; model state is 65 longs). Labels here
    // are a cheap parity split — the label function doesn't affect
    // the cost shape, only the gradient values.
    if (wants("classifier")) {
      val feat = graft.operators.Classifier.features(toks)
      // hash-parity labels: a plain doc_id % 2 split cancels EXACTLY
      // across replicas (identical features, balanced labels → G = 0)
      val lab = toks.select(col("doc_id"),
        (graft.functions.Hashing.h32(col("doc_id").cast("string")) % 2
          * graft.operators.Classifier.Units).as("y"))
      for (k <- Seq(4, 8)) {
        // rows: the nonzero weights
        val (secs, _) = time(s"classifier_k$k", spark.range(
          graft.operators.Classifier.train(feat, lab, iters = k)
            .w.count(_ != 0)).toDF())
        println(f"[stress] x$factor%-3d classifier_k$k%-13s ${secs / k}%.2f s/iter")
      }
    }
    // WARC spool + walk: wall must track BYTES (archives are factor×
    // fatter per source; the walk is one sequential pass per archive,
    // parallelism = archive count — constant here, so sec ≈ linear in
    // factor is the honest expectation, not sublinear)
    time("warc_roundtrip",
      graft.sources.Warc.parseArchives(
        graft.sources.Warc.archivesFromDocuments(
          renamed)).toDF())
    // unigram training: cost must track DISTINCT WORDS (the grain
    // every post-wordcount pass runs at), not raw tokens — suffixing
    // every word with doc_id%factor grows the distinct-word inventory
    // ~factor× while the Zipf corpus itself is the same bytes
    if (wants("unigram_train")) {
      val suffixed = renamed
        .select(col("doc_id"),
          array_join(transform(split(col("text"), " "),
              w => concat(w, lit("~"), (col("doc_id") % factor).cast("string"))),
            " ").as("text"))
      val nw = graft.operators.Unigram.wordCounts(suffixed).count()
      time("unigram_train", graft.operators.Unigram.trainVocab(suffixed))
      println(f"[stress] x$factor%-3d unigram_train            $nw%d distinct words")
    }
    // crawl→text extraction: archives are factor× fatter, paragraph
    // count grows factor×, but the FREQUENT set stays ~constant
    // (banners/footer — replication only raises their df), so the
    // removal join stays a broadcast and wall must track bytes, not
    // the df of the hottest paragraph
    time("crawl_text",
      graft.operators.CrawlText.curated(
        graft.sources.Warc.parseHttpRecords(
          graft.sources.Warc.htmlResponseArchives(
            renamed)).toDF()))
    // the full corpus-assembly composition at factor× input, with
    // per-stage wall: extraction scales in bytes, the gates are
    // scan-stage, dedup is the banded LSH join (replication floods
    // the near-dup graph — every replica ring collapses to one
    // survivor), decon/mix/pack run on the post-dedup corpus, which
    // replication does NOT grow — so end-to-end wall must track the
    // EARLY stages, and the tail must stay ~flat.
    if (wants("corpus_e2e")) {
      val semb = Tables.embeddings(spark, sf).crossJoin(
          spark.range(factor).select(col("id").as("rep")))
        .select((col("vec_id") * factor + col("rep")).as("vec_id"),
          col("embedding"), col("label"))
      // offline artifacts (chrome, classifier) trained on the BASE
      // corpus — the production split: artifacts refresh on their own
      // cadence, the pipeline applies them to the fatter crawl wave
      val chrome = graft.operators.CrawlText.chromeFor(spark, sf)
      val model = graft.operators.TextPack.classifierModelFor(spark, sf)
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val (total, _) = time("corpus_e2e",
        graft.operators.SamplePack.corpusManifest(
          spark, renamed, semb, chrome, model,
          onStage = (n, ns) => stages += (n -> ns)))
      val perStage = stages.map { case (n, ns) => f"$n=${ns / 1e9}%.2f" }
        .mkString(" ")
      println(f"[stress] x$factor%-3d corpus_e2e              $perStage tail=${total - stages.map(_._2).sum / 1e9}%.2f")
    }
    // URL canonicalization + domain rollup: the canonicalizer is a
    // pure scan-stage expression chain, so wall must track ROWS; the
    // stats groupBy carries map-side partial counts on the (small)
    // domain key
    if (wants("url_canon")) {
      val withDom = graft.operators.UrlOps.withUrlParts(
        graft.operators.UrlOps.urls(
          renamed), col("url"))
      time("url_canon", withDom.groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("canonical").as("n_pages")))
    }
    // trained language-ID at factor× docs: ONE hashed-gram pass into
    // a checkpointed (doc, lang, bucket) count frame; the NB model is
    // langs × buckets rows at ANY factor (the constant-model claim),
    // so wall must track input bytes while the broadcast grid and the
    // argmax stay fixed-size
    time("langid", graft.operators.TextPack.langIdOver(renamed))
    // the PREDICTED-language curation chain at factor× pages with the
    // model trained on the BASE corpus (the corpus_e2e artifact
    // split): the gram-score pass and paragraph machinery must track
    // input bytes; the model grid stays langs × buckets broadcast;
    // both chrome inventories (the language-free scoring strip and
    // the per-predicted-language removal set) stay ~constant under
    // replication (df only rises), so the anti-joins stay broadcast
    if (wants("crawl_predlang")) {
      val model = graft.operators.TextPack.modelFor(spark, sf)
      time("crawl_predlang",
        graft.operators.CrawlText.predictedCuratedOver(
          renamed, model))
    }
    // crawl discovery at factor× pages (replication shifts doc_ids,
    // so the canonical page set grows with the factor): the link
    // graph and the frontier must scale LINEARLY in pages — hrefs
    // per page are constant, the robots RULE table is bounded by the
    // domain count (fixed site inventory) at every factor, and the
    // per-domain cap bounds the frontier output itself
    if (wants("frontier", "link_graph")) {
      val c = graft.operators.UrlOps.withUrlParts(
        graft.operators.UrlOps.urls(renamed),
        col("url"))
      time("link_graph", graft.operators.LinkOps.linkGraph(c))
      time("frontier", graft.operators.WebCurationPack.frontierOver(c))
    }
    // perceptual dhash under replication: every replica of a doc
    // hashes IDENTICALLY, so band buckets flood factor-deep and the
    // near-dup pair output grows ~factor² per base image — the
    // honest dup-flood shape (the pairs ARE the dup set, same class
    // as the jaccard probe); the hash pass itself must stay
    // scan-linear, and the 16-bit band width is what keeps
    // UNRELATED hashes from meeting (candidates ≈ true-dup pairs +
    // N²/2¹⁶ noise per band)
    if (wants("dhash")) {
      val h = graft.operators.MultimodalPack.dhashOf(spark, renamed)
      time("dhash_hash", h)
      time("dhash_dups", graft.operators.MultimodalPack.dhashDups(h))
    }
    // audio fingerprint: the REAL RIFF data-chunk walk (vs dhash's
    // stub grid) — decode+energies+fp must stay linear in clip bytes
    // (one ~1 KB clip per row); the pair join is the dhash_dups class
    if (wants("audio_fp")) {
      val clips = graft.sources.Multimodal.decodePcm16(
        graft.sources.Multimodal.syntheticNearDupAudio(
          renamed))
      time("audio_fp", graft.sources.Multimodal.windowEnergies(clips)
        .select(col("snd_id"),
          graft.operators.PerceptualHash.audioFp(col("energies")).as("fp")))
    }
    // SFT conversation curation: turn synthesis + explode is
    // scan-linear in turns; the curation chain adds the template-df
    // groupBy (hot keys ARE the templates — map-side combine) and
    // the response-dedup hash groupBy. Replicated docs share texts,
    // so every dup-response group floods factor-deep — the honest
    // dedup stress — while the admitted output stays input-linear.
    time("ift_turns", graft.operators.IftPack.turns(renamed))
    time("ift_curated", graft.operators.IftPack.curated(renamed))
    time("ift_feed", graft.operators.IftPack.sftFeed(renamed))
    // novelty: under replication EVERY shingle is corpus-shared, so
    // all docs score 0 — the probe measures the gram-grain df agg +
    // join-back at flooded df, the dup_spans input-linear class
    time("novelty", graft.operators.DedupPack.noveltyScore(toks))
    // Mergeable sketches: replicas collapse in the (source, hash)
    // distinct, so kmv_sketch runs factor× input into CONSTANT
    // sketch state (the 100 TB claim: shuffle carries K longs per
    // source). The salted variant grows the distinct set ~factor×
    // instead, exercising the estimator at growing n while the
    // sketch rows stay at K per source either way.
    if (wants("kmv_sketch", "kmv_sketch_salted", "minhash_sig")) {
      time("kmv_sketch", graft.operators.SketchPack.kmvSketch(renamed))
      val salted = renamed.withColumn("text",
        concat(col("text"), lit(" rep"), col("doc_id") % factor))
      time("kmv_sketch_salted",
        graft.operators.SketchPack.kmvSketch(salted))
      time("minhash_sig", graft.operators.SketchPack.sigOf(renamed))
    }
    // CMS: replicas multiply every user's event count by factor, but
    // the cell inventory is ≤ D·W at any factor — the constant-state
    // claim measured on the frequency side (kmv covers distincts).
    // The salted variant grows the KEY inventory factor× into the
    // same bounded cells (collision regime at scale).
    if (wants("cms_sketch", "cms_sketch_salted")) {
      val ev = Tables.events(spark, sf).select(col("user_id"))
        .crossJoin(spark.range(factor).select(col("id").as("rep")))
      time("cms_sketch", graft.operators.SketchPack.cmsSketch(
        ev.select(col("user_id"))))
      time("cms_sketch_salted", graft.operators.SketchPack.cmsSketch(
        ev.select((col("user_id") + col("rep") * 1500).as("user_id"))))
    }
    // PCA Gramian: the d²-per-row explode is the declared scan cost;
    // output is d(d+1)/2 = 2,080 cells at ANY factor — wall must
    // track rows, the exchange must not.
    time("pca_gram", graft.operators.Pca.gramUpper(
      bigEmb.filter(col("embedding").isNotNull)))
    // Containment over a PER-TOKEN-salted replicated corpus: every
    // token carries its replica's marker, so every shingle differs
    // across replicas and cross-replica pairs vanish — the probe
    // measures the candidates-first PIPELINE growing in docs while
    // each replica's planted excerpts still pair with their own
    // sources (output ∝ docs). A tail-only salt was measured first
    // and rejected: replicas stayed genuine ~1.0-containment
    // near-dups of each other, so output grew ~factor² (64 k pairs
    // ×5 → 1.19 M ×20) — that run measures real duplication MASS,
    // the ds_minhash family's declared class, not the pipeline.
    if (wants("containment")) {
      val salted = renamed
        .select(col("doc_id"),
          transform(split(col("text"), " "),
            w => concat(w, lit("#"),
              (col("doc_id") % factor).cast("string"))).as("toks"))
      time("containment", graft.operators.DedupPack.containmentPairs(
        graft.operators.DedupPack.withExcerpts(salted)))
    }
    // DoReMi domain losses: the ONE distributed pass behind
    // sp_doremi_weights (bigram LM entropy + per-source rollup) at
    // factor× docs; output stays at |domains| rows, the MW loop
    // above it is driver math at domain cardinality.
    time("doremi_dom", graft.operators.SamplePack.domLossFrame(
      graft.operators.TextPack.bigramEntropyOf(
        toks),
      renamed))
    require(ran > 0, s"probe filter '$only' matched no probe")
  }

  private def simhash(docs: DataFrame, native: Boolean): DataFrame = {
    val hs = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), transform(array_distinct(col("toks")),
        t => graft.functions.Hashing.h32(t)).as("hs"))
    val bits =
      if (native) graft.plans.SimHash32.simhash(col("hs"))
      else DedupPack.simhashFold(col("hs"))
    hs.select(col("doc_id"), bits.as("simhash"))
  }
}
