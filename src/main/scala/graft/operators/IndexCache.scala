package graft.operators

import graft.Tables
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one memo for shared artifacts — trained indexes and models,
  * and the corpus-scale frames several queries read (signature and
  * band tables, k-NN graphs, the curated crawl corpus, ...). Each
  * artifact is built once per (kind, corpus dir) and every consumer
  * reads the memo: the production shape, where an offline job
  * writes an index once and every consumer reuses it.
  *
  * Correctness is unaffected by construction: every build is
  * deterministic (integer-quantized order-free sums, fixed inits,
  * checkpointed frames of a deterministic plan), so a memoized
  * artifact is bit-identical to what an in-query build would produce,
  * and the DuckDB oracles replay the SAME unrolled build regardless of
  * which query triggered it. The corpus at a dir is immutable test
  * data; a mutated corpus needs a new dir or [[clear]].
  *
  * Bench note: per-query wall times become order-dependent — the
  * first consumer in a pass pays the build, later ones read the memo.
  * That is the intended accounting (one build per pass, as in
  * production).
  *
  * Mechanism: one slot per (kind, dir) key whose monitor serializes
  * that key's build, so concurrent callers (Verify runs queries
  * several wide) never build one key twice. Builds NEST — pairs read
  * signatures, a crawl cycle's edges read the dir's edges, predicted
  * curation reads the langid model — which `computeIfAbsent` forbids
  * within one map; per-key monitors allow it, and nesting follows the
  * artifact DAG, so the lock order is acyclic. A build that throws
  * caches nothing. An artifact built through a session records that
  * session's SparkContext and is served only to callers of the same,
  * live context: a frame whose checkpoint blocks died with a stopped
  * context is rebuilt, never served, and the new entry replaces the
  * old one. Sessionless artifacts (the PSL table, tokenizer tables,
  * classifier weights, the chrome inventory) live for the process.
  */
object IndexCache {

  /** A key's monitor and its current entry: the value and the
    * SparkContext that built it (null for sessionless artifacts). */
  private final class Slot {
    @volatile var entry: (SparkContext, Any) = _
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  private def memoized[T](kind: String, dir: String,
      sc: SparkContext)(build: => T): T = {
    val slot = memo.computeIfAbsent(s"$kind:$dir", _ => new Slot)
    def live: Option[Any] = slot.entry match {
      case (owner, v) if (owner eq sc) && (sc == null || !sc.isStopped) =>
        Some(v)
      case _ => None
    }
    live.getOrElse(slot.synchronized {
      live.getOrElse {
        val v = build
        slot.entry = (sc, v)
        v
      }
    }).asInstanceOf[T]
  }

  /** The artifact `kind` over `dir`, built in `s` on first use and
    * bound to `s`'s SparkContext. */
  def artifact[T](s: SparkSession, kind: String, dir: String)
                 (build: => T): T =
    memoized(kind, dir, s.sparkContext)(build)

  /** Envelope format version (layout of the header below). */
  val FormatVersion = 1
  private val Magic = 0x47524958 // "GRIX"

  /** Disk root for persisted artifacts — when set, every trained
    * artifact is saved in a versioned envelope (atomic tmp + rename)
    * and a FRESH PROCESS loads it instead of retraining: the
    * "offline index production" half of SURVEY §7.2 step 6 that the
    * process memo alone could not give (the [[graft.streaming
    * .SeenSet]] treatment applied to centroids, codebooks, SQ8 cuts,
    * classifier weights, tokenizer vocabs, and the chrome
    * inventory). None (default) keeps the memo process-local — the
    * per-round bench accounting stays one-training-per-pass. Loading
    * is correctness-neutral by the same argument as the memo:
    * training is deterministic, so the persisted artifact is
    * bit-identical to a retrain; a corrupted, truncated, or
    * version-mismatched envelope is REJECTED with a loud warning and
    * the retrain runs (identical semantics, one training more
    * expensive). Keyed by (artifact kind, trainer version, corpus
    * dir) — a trainer-semantics change bumps its kind version and
    * orphans stale envelopes rather than serving them. */
  @volatile var persistDir: Option[String] =
    sys.props.get("graft.indexCache.dir")
      .orElse(sys.env.get("GRAFT_INDEX_CACHE_DIR"))

  /** Trainer versions per artifact kind — bump when the training
    * semantics change so persisted envelopes from the old trainer
    * are rejected instead of silently served. chrome is v2: round 10
    * made the inventory per-language (CCNet's grouping). uni is v2:
    * round 10 moved training to the soft-EM forward–backward E-step
    * (Kudo's published form) from Viterbi-hard counts. */
  private val TrainerVersion = Map(
    "cent" -> 1, "pq" -> 1, "sq8" -> 1, "clf" -> 1,
    "bpe" -> 1, "bpeb" -> 1, "wp" -> 1, "uni" -> 2, "chrome" -> 2,
    // pca v2: top-K by deflation (round 12). psl v2: arbitrary-depth
    // rule table (round 13) — v1's fixed 1/2/3-label envelope shape
    // can't express the real list's 4/5-label rules, so old envelopes
    // are orphaned rather than mis-served.
    "pca" -> 2, "psl" -> 2)

  /** Trainings actually RUN by this process (loads don't count) —
    * what the restart spec observes. */
  private val builds = new java.util.concurrent.atomic.AtomicLong(0L)
  def buildCount: Long = builds.get()

  private def envelopeFile(root: String, kind: String, dir: String): java.io.File = {
    val v = TrainerVersion(kind)
    // corpus dir hashed into the name; the full dir string is also
    // stamped INSIDE the envelope and checked on load (hash collision
    // must not serve another corpus's artifact)
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir))
    new java.io.File(root, s"${kind}_v${v}_$h.bin")
  }

  private def save(root: String, kind: String, dir: String, value: AnyRef): Unit =
    try {
      val f = envelopeFile(root, kind, dir)
      f.getParentFile.mkdirs()
      val tmp = java.io.File.createTempFile(f.getName, ".tmp", f.getParentFile)
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(tmp)))
      try {
        out.writeInt(Magic)
        out.writeInt(FormatVersion)
        out.writeUTF(kind)
        out.writeInt(TrainerVersion(kind))
        out.writeUTF(dir)
        new java.io.ObjectOutputStream(out).writeObject(value)
      } finally out.close()
      // atomic publish: a crash mid-save leaves no torn envelope
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Exception =>
        // persistence is an optimization; never fail the query for it
        System.err.println(
          s"IndexCache: could not persist $kind for $dir ($e)")
    }

  private def load[T <: AnyRef](root: String, kind: String, dir: String): Option[T] = {
    val f = envelopeFile(root, kind, dir)
    if (!f.exists()) return None
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(f)))
    try {
      val magic = in.readInt()
      require(magic == Magic,
        f"not a graft index envelope (magic 0x$magic%08x)")
      val fv = in.readInt()
      require(fv == FormatVersion, s"envelope format v$fv, expected " +
        s"v$FormatVersion")
      val k = in.readUTF()
      require(k == kind, s"envelope holds '$k', expected '$kind'")
      val tv = in.readInt()
      require(tv == TrainerVersion(kind),
        s"$kind trained under v$tv but this trainer is " +
          s"v${TrainerVersion(kind)} — retraining")
      val d = in.readUTF()
      require(d == dir, s"envelope trained over '$d', expected '$dir'")
      Some(new java.io.ObjectInputStream(in).readObject().asInstanceOf[T])
    } catch {
      case e: Exception =>
        System.err.println(
          s"IndexCache: rejecting persisted $kind at $f " +
            s"($e); retraining")
        None
    } finally in.close()
  }

  /** An envelope artifact: memoized, and with a persist root loaded
    * from (or saved to) its versioned envelope. */
  private def trained[T <: AnyRef](kind: String, dir: String,
      sc: SparkContext)(build: => T): T =
    memoized(kind, dir, sc) {
      persistDir.flatMap(root => load[T](root, kind, dir)).getOrElse {
        val v = build
        builds.incrementAndGet()
        persistDir.foreach(root => save(root, kind, dir, v))
        v
      }
    }

  /** Full-vector Lloyd centroids (2 steps, k = [[KMeans.K]]) over the
    * quantized embeddings of `dir` — the artifact sim_kmeans_assign /
    * ds_semantic_dedup / sp_cluster_sample / sp_contrastive_triplets
    * all consume. */
  def centroids(s: SparkSession, dir: String): Seq[Array[Double]] =
    trained("cent", dir, s.sparkContext) {
      KMeans.train(KMeans.quantize(Tables.embeddings(s, dir)), iters = 2)
    }

  /** Per-sub-block PQ codebooks ([[SimilarityPack.PqBlocks]] blocks of
    * [[SimilarityPack.PqSubDim]] dims, one 2-step training each) —
    * shared by sim_pq_codes / sim_pq_topk / sim_ivfpq_topk. The
    * quantized frame is cached across the 4 trainings' 12 jobs and
    * released before returning. */
  def pqCodebooks(s: SparkSession, dir: String): Seq[Seq[Array[Double]]] =
    trained("pq", dir, s.sparkContext) {
      val vq = KMeans.quantize(Tables.embeddings(s, dir)).persist()
      try (0 until SimilarityPack.PqBlocks).map { m =>
        KMeans.train(vq.select(col("vec_id"),
          slice(col("vq"), m * SimilarityPack.PqSubDim + 1,
            SimilarityPack.PqSubDim).as("vq")), iters = 2)
      } finally vq.unpersist(blocking = false)
    }

  /** Per-dimension [lo, hi] SQ8 training ranges over `dir`'s
    * embeddings — a d-row collect (the centroid-collect class, never
    * a data collect). sim_sq8_topk quantizes against the memoized
    * literals: without the memo the stats subtree is duplicated into
    * EVERY consumer branch of the plan (Spark does not materialize
    * common subplans), re-scanning the corpus once per branch. */
  def sq8Cuts(s: SparkSession, dir: String): (Array[Double], Array[Double]) =
    trained("sq8", dir, s.sparkContext) {
      val rows = Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull)
        .select(posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("d").agg(min(col("x").cast("double")).as("lo"),
          max(col("x").cast("double")).as("hi"))
        .orderBy("d").collect()
      (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
    }

  /** The top-[[SimilarityPack.PcaK]] eigenvectors of `dir`'s
    * embeddings in [[Pca.VNorm]] units (component 0 = dominant) —
    * one Gramian pass + the fixed-point deflation loop, shared by
    * sim_pca_power / sim_pca_project / sim_pca_drift /
    * sim_index_e2e. */
  def pcaVectors(s: SparkSession, dir: String): Seq[Array[Long]] =
    trained("pca", dir, s.sparkContext) {
      val cells = Pca.gramUpper(
          Tables.embeddings(s, dir).filter(col("embedding").isNotNull))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      Pca.powerIterateK(cells.toSeq, SimilarityPack.PcaDim,
        SimilarityPack.PcaK)
    }

  /** The trained quality-classifier model over `dir`'s documents
    * (weak labels + K GD steps, [[Classifier]]) — shared by
    * tx_classifier_train and tx_classifier_score. `build` is
    * caller-supplied because the label function lives with the query
    * pack (TextPack wires its quality-bar labels). */
  def classifierModel(dir: String)(build: => Classifier.Model)
      : Classifier.Model =
    trained("clf", dir, null)(build)

  /** Trained tokenizer artifacts — BPE merge table, WordPiece vocab,
    * unigram model (tables of ≤ K rows) — shared by the vocab /
    * segment / encode / bake-off consumers. `build` is
    * caller-supplied: the word tokenization lives with the query
    * pack. */
  def bpeMerges(dir: String)(build: => Seq[Bpe.Merge]): Seq[Bpe.Merge] =
    trained("bpe", dir, null)(build)

  /** Byte-level BPE merge table (over GPT-2 byte-remapped pretokens
    * with the Ġ space marker) — distinct artifact from the char-level
    * table: the alphabets differ, so the merges do too. */
  def bpeByteMerges(dir: String)(build: => Seq[Bpe.Merge]): Seq[Bpe.Merge] =
    trained("bpeb", dir, null)(build)

  def wordpieceVocab(dir: String)(build: => Seq[(String, Long)]): Seq[(String, Long)] =
    trained("wp", dir, null)(build)

  /** The crawl-chrome inventory (lang, h, para, df) — per-language
    * (trainer v2), a handful of rows by construction (per-source
    * banners + the global footer, once per language); see
    * [[CrawlText.chromeFor]]. */
  def chromeInventory(dir: String)(build: => Seq[(String, Long, String, Long)]): Seq[(String, Long, String, Long)] =
    trained("chrome", dir, null)(build)

  def unigramModel(dir: String)(build: => Unigram.Trained): Unigram.Trained =
    trained("uni", dir, null)(build)

  /** The public-suffix rule table ([[PublicSuffix]]) — NOT corpus-
    * derived (key "bundled" names the artifact source, not a data
    * dir): an external registry snapshot that rides the same
    * versioned envelope, so a production deployment publishes the
    * full fetched list once and every session loads it — version-
    * checked, atomically replaced — instead of shipping a code
    * change. */
  def pslRules(build: => PublicSuffix.Rules): PublicSuffix.Rules =
    trained("psl", "bundled", null)(build)

  /** Publish a PSL rule table into the envelope ([[graft.PslConvert]]
    * — the "fetch the full list once, every session loads it" path).
    * Requires a persist dir; the next process's [[pslRules]] loads
    * this table instead of the bundle. Unlike the cache saves (where
    * persistence is an optimization and failures only cost a
    * retrain), a publish that does not land silently leaves every
    * session on the bundled subset — so the envelope is READ BACK
    * and value-compared, and any mismatch fails loudly. */
  def publishPsl(r: PublicSuffix.Rules): Unit = {
    val root = persistDir.getOrElse(sys.error(
      "publishPsl needs GRAFT_INDEX_CACHE_DIR (or graft.indexCache.dir)"))
    save(root, "psl", "bundled", r)
    val back = load[PublicSuffix.Rules](root, "psl", "bundled")
    require(back.contains(r),
      s"PSL publish did not land at $root (write failed or round-trip " +
        "mismatch) — sessions would silently keep the bundled subset")
    memo.remove("psl:bundled")
  }

  // ---------------------------------------------------------------
  // DataFrame artifacts — corpus-scale tables that must never ride
  // the ObjectOutputStream envelope (that would collect them to the
  // driver): persisted as PARQUET directories with the same
  // versioned-key discipline. Production shape: the crawl cycle
  // writes its edge table once per snapshot and every later cycle
  // READS it — extraction cost per cycle is |new pages|, not
  // |corpus| (wc_frontier_incr).
  // ---------------------------------------------------------------

  /** Trainer-version analog for frame artifacts. */
  private val FrameVersion =
    Map("edges" -> 1, "curated" -> 1, "curatedp" -> 1, "fetchlog" -> 1)

  /** Frame builds actually RUN by this process (persisted loads
    * don't count) — the restart spec's observable for the parquet
    * path, separate from [[buildCount]] so the envelope-artifact
    * pins stay exact. */
  private val frameBuildCounter =
    new java.util.concurrent.atomic.AtomicLong(0L)
  def frameBuildCount: Long = frameBuildCounter.get()

  private def frameDir(root: String, kind: String, key: String): java.io.File = {
    val v = FrameVersion(kind)
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(key))
    new java.io.File(root, s"${kind}_v${v}_$h.parquet")
  }

  /** The full key is stamped in a meta file INSIDE the directory and
    * checked on load — the envelope's collision guard, parquet form.
    * `_SUCCESS` (Spark's committed marker) must also exist: a torn
    * write is rebuilt, never served (the streaming replay-guard
    * discipline). */
  private def frameValid(d: java.io.File, kind: String, key: String): Boolean = {
    val meta = new java.io.File(d, "_graft_meta")
    new java.io.File(d, "_SUCCESS").exists() && meta.exists() && {
      val text = new String(java.nio.file.Files.readAllBytes(meta.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val ok = text == s"$kind\n${FrameVersion(kind)}\n$key"
      if (!ok) System.err.println(
        s"IndexCache: rejecting persisted frame at $d (key mismatch)")
      ok
    }
  }

  /** Persist-or-load a DataFrame artifact. No persist root → the
    * caller's build runs (the process-memo accounting, one build per
    * pass); with a root, the first process writes the parquet
    * (atomic: tmp dir + rename) and every later process SCANS it —
    * a distributed read, never a driver collect. Persistence is an
    * optimization: any IO failure falls back to the built frame. */
  def frame(s: SparkSession, kind: String, key: String)
           (build: => DataFrame): DataFrame = persistDir match {
    case None =>
      frameBuildCounter.incrementAndGet()
      build.localCheckpoint(eager = true)
    case Some(root) =>
      val d = frameDir(root, kind, key)
      // the validity probe and the schema read are ALSO IO against a
      // directory another process may be replacing right now — any
      // failure there means "not servable", never a failed query
      // (the same optimization-only contract as the write path)
      val loaded =
        try {
          if (frameValid(d, kind, key)) Some(s.read.parquet(d.getPath))
          else None
        } catch {
          case e: Exception =>
            System.err.println(
              s"IndexCache: persisted $kind frame for $key unreadable " +
                s"($e); rebuilding")
            None
        }
      if (loaded.isDefined) loaded.get
      else {
        val built = build
        frameBuildCounter.incrementAndGet()
        try {
        d.getParentFile.mkdirs()
        val tmp = new java.io.File(d.getParentFile,
          d.getName + s".tmp${System.nanoTime()}")
        built.write.parquet(tmp.getPath)
        java.nio.file.Files.write(
          new java.io.File(tmp, "_graft_meta").toPath,
          s"$kind\n${FrameVersion(kind)}\n$key"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // a stale/torn target is replaced, not trusted (frameValid
        // already said it is not servable)
        if (d.exists()) deleteRecursively(d)
        java.nio.file.Files.move(tmp.toPath, d.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        s.read.parquet(d.getPath)
        } catch {
          case e: Exception =>
            System.err.println(
              s"IndexCache: could not persist $kind frame for $key " +
                s"($e); serving the in-process build")
            built.localCheckpoint(eager = true)
        }
      }
  }

  /** A memoized [[frame]] artifact, bound to `s`'s SparkContext. */
  def frameArtifact(s: SparkSession, kind: String, key: String)
                   (build: => DataFrame): DataFrame =
    artifact(s, kind, key)(frame(s, kind, key)(build))

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Drop every memoized artifact (tests that mutate a dir in place). */
  def clear(): Unit = memo.clear()
}
