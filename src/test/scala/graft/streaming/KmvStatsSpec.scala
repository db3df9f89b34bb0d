package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** KmvStats: streaming KMV distinct sketches — batch folding equals
  * the direct sketch over all batches (mergeability), restarts resume
  * from the durable envelope, and torn / mismatched envelopes reset
  * loudly instead of merging wrong-width sketches. */
class KmvStatsSpec extends SparkSpec {

  private def frame(rows: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("source", "ih")
  }

  private def directMinK(rows: Seq[(String, Long)], k: Int) =
    rows.distinct.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(_._2).distinct.sorted.take(k).toVector
    }

  // deterministic pseudo-hashes in [0, 2^32)
  private def h(i: Int): Long = ((i * 2654435761L) % 4294967296L).abs

  private val batch1 = (0 until 300).map(i => (s"src${i % 3}", h(i)))
  private val batch2 = (200 until 500).map(i => (s"src${i % 3}", h(i)))

  test("folding batches equals the direct sketch over their union") {
    val k = 16
    val st = new KmvStats(k)
    st.update(frame(batch1))
    st.update(frame(batch2))
    assert(st.snapshot == directMinK(batch1 ++ batch2, k))
    // estimator branch: each source has ~160 distinct >> k
    val exact = (batch1 ++ batch2).distinct.groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).distinct.size.toLong }
    st.estimates.foreach { case (s, est) =>
      assert(math.abs(est - exact(s)).toDouble / exact(s) < 0.8,
        s"$s: est $est vs exact ${exact(s)} (k=$k is coarse but not THIS coarse)")
    }
    // corpus estimate = merged sketches, vs exact distinct overall
    val exactAll = (batch1 ++ batch2).map(_._2).distinct.size.toLong
    assert(math.abs(st.corpusEstimate - exactAll).toDouble / exactAll < 0.8)
  }

  test("estimates are exact below k") {
    val st = new KmvStats(64)
    st.update(frame(batch1.take(30))) // 10 distinct per source
    val exact = batch1.take(30).distinct.groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).distinct.size.toLong }
    assert(st.estimates == exact)
  }

  test("a restart resumes from the durable envelope") {
    val dir = java.nio.file.Files.createTempDirectory("kmv").toString
    val p = s"$dir/stats.kmv"
    val a = new KmvStats(16, Some(p))
    a.update(frame(batch1))
    val b = new KmvStats(16, Some(p)) // fresh process
    assert(b.snapshot == a.snapshot)
    b.update(frame(batch2))
    assert(b.snapshot == directMinK(batch1 ++ batch2, 16),
      "post-restart folding must continue the same sketch")
  }

  test("a crash between the publish renames recovers from the parked artifact") {
    val dir = java.nio.file.Files.createTempDirectory("kmv").toString
    val p = s"$dir/stats.kmv"
    val a = new KmvStats(16, Some(p))
    a.update(frame(batch1))
    // simulate the crash window: primary parked as .old, publish never
    // happened (this is exactly the on-disk state after the first
    // rename succeeds and the process dies)
    java.nio.file.Files.move(java.nio.file.Paths.get(p),
      java.nio.file.Paths.get(s"$dir/stats.kmv.old"))
    val crcP = java.nio.file.Paths.get(s"$dir/.stats.kmv.crc")
    if (java.nio.file.Files.exists(crcP))
      java.nio.file.Files.move(crcP,
        java.nio.file.Paths.get(s"$dir/.stats.kmv.old.crc"))
    val r = new KmvStats(16, Some(p))
    assert(r.snapshot == a.snapshot,
      "recovery must read the parked previous artifact, not start empty")
    r.update(frame(batch2)) // republishes the full state at the primary
    val r2 = new KmvStats(16, Some(p))
    assert(r2.snapshot == directMinK(batch1 ++ batch2, 16))
  }

  test("torn or wrong-width envelopes reset loudly, never merge") {
    val dir = java.nio.file.Files.createTempDirectory("kmv").toString
    val p = s"$dir/stats.kmv"
    val a = new KmvStats(16, Some(p))
    a.update(frame(batch1))
    // width mismatch: k=16 artifact must not load into a k=8 instance
    val w = new KmvStats(8, Some(p))
    assert(w.snapshot.isEmpty)
    // torn bytes: truncate the file
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      bytes.take(bytes.length / 2))
    val t = new KmvStats(16, Some(p))
    assert(t.snapshot.isEmpty)
    val warning = TornEnvelope.warningWithoutSidecar(p) {
      assert(new KmvStats(16, Some(p)).snapshot.isEmpty)
    }
    assert(warning.contains("EOFException"), s"the warning must name the cause: $warning")
    // garbage magic
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      Array.fill[Byte](64)(7))
    val g = new KmvStats(16, Some(p))
    assert(g.snapshot.isEmpty)
  }
}
