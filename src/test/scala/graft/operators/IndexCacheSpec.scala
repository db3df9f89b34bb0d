package graft.operators

import graft.SparkSpec

/** The offline-index production contract: trained artifacts persisted
  * in a versioned envelope survive a process restart (simulated by
  * clearing the process memo), a mismatched or torn envelope falls
  * back to retrain with a loud warning, and the loaded artifact is
  * value-identical to the retrained one (training is deterministic).
  *
  * Specs run serially within the suite; persistDir is restored after
  * each scenario so the rest of the test JVM keeps the default
  * memo-only behavior (bench accounting: one training per process).
  */
class IndexCacheSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("centroids memoize per dir and equal a direct training") {
    IndexCache.clear()
    val first = IndexCache.centroids(spark, dir)
    val again = IndexCache.centroids(spark, dir)
    assert(first eq again, "second call must return the memoized instance")
    val direct = KMeans.train(
      KMeans.quantize(graft.Tables.embeddings(spark, dir)), iters = 2)
    assert(first.size == direct.size &&
      first.zip(direct).forall { case (a, b) => a.sameElements(b) },
      "memoized centroids must be bit-identical to direct training")
  }

  test("pqCodebooks memoize and carry the PQ geometry") {
    val first = IndexCache.pqCodebooks(spark, dir)
    assert(first eq IndexCache.pqCodebooks(spark, dir))
    assert(first.size == SimilarityPack.PqBlocks)
    assert(first.forall(cb => cb.size == KMeans.K &&
      cb.forall(_.length == SimilarityPack.PqSubDim)))
    // clear() really drops the memo (a rebuilt artifact is a new
    // instance with the same deterministic values)
    IndexCache.clear()
    val rebuilt = IndexCache.pqCodebooks(spark, dir)
    assert(!(first eq rebuilt))
    assert(first.zip(rebuilt).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
  }

  private def withPersistDir[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val prev = IndexCache.persistDir
    IndexCache.persistDir = Some(dir)
    // the memo may hold artifacts trained before this spec ran
    IndexCache.clear()
    try body(dir)
    finally { IndexCache.persistDir = prev; IndexCache.clear() }
  }

  test("pcaVectors memoizes, persists, and a fresh process loads it") {
    withPersistDir { _ =>
      val before = IndexCache.buildCount
      val first = IndexCache.pcaVectors(spark, dir)
      assert(IndexCache.buildCount == before + 1)
      assert(first eq IndexCache.pcaVectors(spark, dir))
      IndexCache.clear() // "fresh process"
      val loaded = IndexCache.pcaVectors(spark, dir)
      assert(IndexCache.buildCount == before + 1,
        "the second process must LOAD the envelope, not retrain")
      assert(!(first eq loaded) && first.size == loaded.size &&
        first.zip(loaded).forall { case (a, b) => a.sameElements(b) })
    }
  }

  test("the PSL rule table rides the envelope: a fresh process loads " +
    "it instead of rebuilding, value-identical") {
    withPersistDir { _ =>
      val before = IndexCache.buildCount
      val first = IndexCache.pslRules(PublicSuffix.Snapshot)
      assert(IndexCache.buildCount == before + 1)
      assert(first eq IndexCache.pslRules(PublicSuffix.Snapshot))
      IndexCache.clear() // "fresh process"
      val loaded = IndexCache.pslRules(
        sys.error("a loading process must not touch the bundle"))
      assert(IndexCache.buildCount == before + 1,
        "the second process must LOAD the envelope, not rebuild")
      assert(!(first eq loaded) && first == loaded,
        "the loaded table must be value-identical to the bundled one")
      // this is the production swap path: publishing a different
      // table under the same kind serves IT to the next process
      IndexCache.clear()
    }
  }

  test("two processes train once total: the second loads the envelope") {
    withPersistDir { _ =>
      var trainings = 0
      def get(): Seq[(String, Long)] =
        IndexCache.wordpieceVocab("/corpus/a") {
          trainings += 1; Seq(("ab", 7L), ("cd", 3L))
        }
      val first = get()
      assert(trainings == 1)
      assert(get() eq first) // same-process memo hit
      assert(trainings == 1)
      // "process 2": fresh memo, same persist dir
      IndexCache.clear()
      val second = get()
      assert(trainings == 1, "the restart retrained despite the envelope")
      assert(second == first)
    }
  }

  test("a Spark-trained artifact round-trips value-identical") {
    withPersistDir { _ =>
      val dir = "/root/testdata/sf0.001"
      val before = IndexCache.buildCount
      val trained = IndexCache.centroids(spark, dir)
      assert(IndexCache.buildCount == before + 1)
      IndexCache.clear()
      val loaded = IndexCache.centroids(spark, dir)
      assert(IndexCache.buildCount == before + 1,
        "restart retrained centroids despite the envelope")
      assert(loaded.length == trained.length)
      loaded.zip(trained).foreach { case (l, t) =>
        assert(l.sameElements(t))
      }
    }
  }

  test("corrupted, cross-corpus, and wrong-kind envelopes retrain loudly") {
    withPersistDir { root =>
      var trainings = 0
      def get(dir: String): Seq[(String, Long)] =
        IndexCache.wordpieceVocab(dir) {
          trainings += 1; Seq((s"piece-$dir", trainings.toLong))
        }
      get("/corpus/a")
      assert(trainings == 1)
      // corrupt the envelope in place (truncate past the header)
      val files = new java.io.File(root).listFiles()
      assert(files.nonEmpty)
      val f = files.head
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      java.nio.file.Files.write(f.toPath, bytes.take(bytes.length / 2))
      IndexCache.clear()
      get("/corpus/a")
      assert(trainings == 2, "a torn envelope must retrain, not serve garbage")
      // a DIFFERENT corpus never reads this envelope (dir is stamped
      // inside and checked, beyond the filename hash)
      IndexCache.clear()
      get("/corpus/b")
      assert(trainings == 3)
      // and the retrain re-published a good envelope: restart loads it
      IndexCache.clear()
      get("/corpus/a")
      assert(trainings == 3)
    }
  }

  test("frame artifacts: parquet envelope round-trips, a fresh " +
    "process scans instead of rebuilding, and a torn write rebuilds") {
    import org.apache.spark.sql.functions._
    withPersistDir { root =>
      def build = spark.range(100)
        .select(concat(lit("https://a/"), col("id")).as("src"),
          concat(lit("https://b/"), col("id")).as("dst"))
      val b0 = IndexCache.frameBuildCount
      val first = IndexCache.frame(spark, "edges", "spec-corpus")(build)
      assert(IndexCache.frameBuildCount == b0 + 1)
      assert(first.count() == 100)
      // fresh process: the parquet envelope serves the scan, no build
      val loaded = IndexCache.frame(spark, "edges", "spec-corpus")(
        sys.error("must not rebuild: the envelope exists"))
      assert(IndexCache.frameBuildCount == b0 + 1)
      assert(loaded.orderBy("src").collect().toSeq ==
        first.orderBy("src").collect().toSeq)
      // a KEY mismatch under the same file name cannot happen (the
      // key is hashed into the name AND stamped inside) — but a torn
      // write (no _SUCCESS) must rebuild, not serve
      val d = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith("edges_")).head
      new java.io.File(d, "_SUCCESS").delete()
      val rebuilt = IndexCache.frame(spark, "edges", "spec-corpus")(build)
      assert(IndexCache.frameBuildCount == b0 + 2,
        "a torn envelope (no _SUCCESS) must rebuild")
      assert(rebuilt.count() == 100)
    }
  }

  test("a build that asks for another kind returns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val outer = Future {
      IndexCache.artifact(spark, "spec-outer", "/corpus/n") {
        IndexCache.artifact(spark, "spec-inner", "/corpus/n")(Seq(1L)) :+ 2L
      }
    }
    assert(Await.result(outer, scala.concurrent.duration.Duration(60, "s"))
      == Seq(1L, 2L))
    assert(IndexCache.artifact[Seq[Long]](spark, "spec-inner", "/corpus/n")(
      sys.error("the nested build must have been memoized")) == Seq(1L))
  }

  test("4 threads asking for one key run its build once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = {
            start.await()
            IndexCache.artifact(spark, "spec-race", "/corpus/r") {
              builds.incrementAndGet(); Thread.sleep(200); Seq(7L)
            }
          }
        })
      }
      start.countDown()
      val got = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1, "one key was built more than once")
      assert(got.forall(_ eq got.head))
    } finally pool.shutdown()
  }

  test("a build that throws caches nothing, and the next call builds") {
    intercept[IllegalStateException] {
      IndexCache.artifact[Seq[Long]](spark, "spec-throw", "/corpus/t")(
        throw new IllegalStateException("build failed"))
    }
    var builds = 0
    val v = IndexCache.artifact(spark, "spec-throw", "/corpus/t") {
      builds += 1; Seq(3L)
    }
    assert(builds == 1 && v == Seq(3L))
  }

  test("without persistDir the memo stays process-local") {
    val prev = IndexCache.persistDir
    IndexCache.persistDir = None
    IndexCache.clear()
    try {
      var trainings = 0
      def get(): Seq[(String, Long)] =
        IndexCache.wordpieceVocab("/corpus/c") {
          trainings += 1; Seq(("x", 1L))
        }
      get(); get()
      assert(trainings == 1)
      IndexCache.clear()
      get()
      assert(trainings == 2, "no envelope should exist without persistDir")
    } finally { IndexCache.persistDir = prev; IndexCache.clear() }
  }
}
