package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The cross-batch bloom seen-set: one history scan total across
  * consecutive batches, exactness through the sliver path, and the
  * foreachBatch wiring end to end.
  */
class SeenSetSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def keys(r: Range): DataFrame = r.map(_.toLong).toDF("k")

  test("consecutive all-new batches scan history exactly once") {
    val scans = new AtomicInteger(0)
    val hist = keys(1 to 100)
    def history: DataFrame = { scans.incrementAndGet(); hist }
    val seen = new BloomSeenSet("k", expectedKeys = 1000)

    val f1 = seen.filterNew(keys(101 to 200), history)
    assert(f1.count() == 100, "all batch-1 keys are new")
    assert(scans.get() == 1, "first batch builds the sketch: one scan")
    seen.commit(f1)

    val f2 = seen.filterNew(keys(201 to 300), history)
    assert(f2.count() == 100, "all batch-2 keys are new")
    assert(scans.get() == 1,
      "batch N+1 with fresh keys must skip the history scan entirely")
    seen.commit(f2)

    val f3 = seen.filterNew(keys(301 to 320), history)
    assert(f3.count() == 20 && scans.get() == 1,
      "the sketch keeps absorbing batches without history I/O")
  }

  test("cross-batch duplicates drop via the exact sliver check; nothing is lost to fpp") {
    val scans = new AtomicInteger(0)
    // the store the sink would maintain: history plus committed keys
    var store = keys(1 to 100)
    def history: DataFrame = { scans.incrementAndGet(); store }
    // fpp 0.5 forces false positives: fresh keys WILL be flagged
    // "maybe seen" and must come back through the exact check
    val seen = new BloomSeenSet("k", expectedKeys = 200, fpp = 0.5)

    val f1 = seen.filterNew(keys(101 to 150), history)
    assert(f1.as[Long].collect().toSet == (101L to 150L).toSet,
      "false positives must be rescued by the exact check, not dropped")
    seen.commit(f1)
    store = store.union(f1)

    // batch 2 repeats a committed key (150) among fresh ones
    val f2 = seen.filterNew(keys(150 to 160), history)
    assert(f2.as[Long].collect().toSet == (151L to 160L).toSet,
      "a key committed in batch 1 must not re-enter in batch 2")
  }

  test("STRING keys dedup too — a long cast would fail open") {
    // cast("long") of a string key yields NULL: the sketch builds
    // empty, every row probes definitely-new, and duplicates flow on
    // every batch. The xxhash64 keying makes the type irrelevant.
    def skeys(r: Range): DataFrame =
      r.map(i => s"addr_$i").toDF("k")
    val seen = new BloomSeenSet("k", expectedKeys = 1000)
    val f1 = seen.filterNew(skeys(1 to 50), skeys(1 to 100))
    assert(f1.count() == 0,
      "every batch-1 key is already in history — none may pass")
    val f2 = seen.filterNew(skeys(90 to 120), skeys(1 to 100))
    assert(f2.as[String].collect().toSet
      == (101 to 120).map(i => s"addr_$i").toSet,
      "only the genuinely-new string keys may pass")
  }

  test("persisted sketch: a restarted process pays ZERO history scans") {
    val sketchPath = Files.createTempDirectory("graft-seen-sketch")
      .resolve("seen.bloom").toString
    val scans = new AtomicInteger(0)
    val hist = keys(1 to 100)
    def history: DataFrame = { scans.incrementAndGet(); hist }
    val seen1 = new BloomSeenSet("k", expectedKeys = 1000,
      persistPath = Some(sketchPath))
    val f1 = seen1.filterNew(keys(101 to 200), history)
    assert(f1.count() == 100 && scans.get() == 1,
      "first deployment: one history scan builds the sketch")
    seen1.commit(f1) // also persists the sketch beside the checkpoint
    // "restart": a brand-new instance in a fresh process would load
    // the sketch instead of re-scanning history. The by-name history
    // thunk must NEVER evaluate — that is the whole point.
    val scans2 = new AtomicInteger(0)
    def history2: DataFrame = { scans2.incrementAndGet(); hist.union(f1) }
    val seen2 = new BloomSeenSet("k", expectedKeys = 1000,
      persistPath = Some(sketchPath))
    val f2 = seen2.filterNew(keys(201 to 300), history2)
    assert(f2.count() == 100, "fresh keys pass after restart")
    assert(scans2.get() == 0,
      "restart must not re-scan history — the persisted sketch covers it")
    // keys committed BEFORE the restart are still seen (identical
    // output to a never-restarted seen-set): 150..160 route to the
    // exact sliver check — which is allowed to touch the store —
    // and must not re-enter
    val f3 = seen2.filterNew(keys(150 to 160).union(keys(301 to 305)), history2)
    assert(f3.as[Long].collect().toSet == (301L to 305L).toSet,
      "pre-restart committed keys 150..160 must not re-enter")
  }

  test("a stale or torn persisted sketch is rejected and rebuilt, never probed") {
    val dir = Files.createTempDirectory("graft-seen-stale")
    val sketchPath = dir.resolve("seen.bloom").toString
    // raw BloomFilter bytes (no envelope) — e.g. persisted under a
    // retired keying scheme; probing it would flag every true
    // duplicate as unseen (silent fail-open)
    val rawBf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    val out = new java.io.FileOutputStream(sketchPath)
    try rawBf.writeTo(out) finally out.close()
    val scans = new AtomicInteger(0)
    val hist = keys(1 to 100)
    def history: DataFrame = { scans.incrementAndGet(); hist }
    val seen = new BloomSeenSet("k", expectedKeys = 1000,
      persistPath = Some(sketchPath))
    // fresh keys: the rejected sketch forces the one-scan rebuild and
    // the (empty) sliver never touches history again
    val f1 = seen.filterNew(keys(101 to 150), history)
    assert(f1.count() == 50 && scans.get() == 1,
      "rejected sketch must trigger exactly the one-scan rebuild")
    // history keys dedup correctly through the rebuilt sketch (the
    // sliver path may consult the store — thunk calls are allowed here)
    val dup = seen.filterNew(keys(40 to 60), history)
    assert(dup.count() == 0,
      "rebuild must dedup correctly — history keys may not pass")
    seen.commit(f1)
    // the rebuilt sketch is re-persisted in the CURRENT envelope
    val in = new java.io.FileInputStream(sketchPath)
    try graft.operators.RuntimeFilter.loadSketch(in) finally in.close()
    // a torn envelope: truncated past its header
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(sketchPath))
    Files.write(java.nio.file.Paths.get(sketchPath), bytes.take(bytes.length / 2))
    val warning = TornEnvelope.warningWithoutSidecar(sketchPath) {
      new BloomSeenSet("k", expectedKeys = 1000, persistPath = Some(sketchPath))
    }
    assert(warning.contains("EOFException"), s"the warning must name the cause: $warning")
  }

  test("startDedupedIngest wires the seen-set upstream of the sink") {
    val ckpt = Files.createTempDirectory("graft-seen-ckpt").toString
    val dir = Files.createTempDirectory("graft-seen-store").toString
    val sink = new ParquetDocStoreSink(dir, keys = Seq("k"),
      orderCols = Seq("ver"))
    val seen = new BloomSeenSet("k", expectedKeys = 1000)
    val scans = new AtomicInteger(0)
    def history: DataFrame = {
      scans.incrementAndGet()
      sink.current(spark).map(_.select("k"))
        .getOrElse(Seq.empty[Long].toDF("k"))
    }
    val ms = MemoryStream[(Long, Long, String)]
    val df = ms.toDF().toDF("k", "ver", "v")
    def runOnce(): Unit = {
      val q = LabelStream.startDedupedIngest(df, sink, ckpt, seen, () => history)
      q.awaitTermination()
    }
    ms.addData((1L, 1L, "a"), (2L, 1L, "b"))
    runOnce()
    val scansAfterFirst = scans.get()
    // second poll: one repeated key, one new
    ms.addData((2L, 2L, "b2"), (3L, 1L, "c"))
    runOnce()
    val got = sink.current(spark).get.as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c")),
      s"repeat of key 2 must not overwrite the stored row, got $got")
    assert(scans.get() >= scansAfterFirst,
      "sanity: the exact check may touch the store, never the reverse")
  }
}
