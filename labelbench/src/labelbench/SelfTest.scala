package labelbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Plants defects in real outputs at a tiny scale and asserts that the
  * benchmark's checks reject every one, after accepting the real outputs.
  *
  *   labelbench.SelfTest <work dir>     (exit code 1 on any miss)
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    Fs.rm(work)
    Files.createDirectories(work)
    val spark = Main.session(work)
    var misses = 0
    def expect(reject: Boolean, what: String, verdict: Option[String]): Unit =
      if (verdict.isDefined == reject)
        println(s"selftest: ok, ${if (reject) "rejected" else "accepted"} $what${verdict.fold("")(m => s" ($m)")}")
      else {
        misses += 1
        println(s"selftest: MISS, ${if (reject) "accepted" else "rejected"} $what${verdict.fold("")(m => s" ($m)")}")
      }
    try {
      val sizes = Sizes.at(0.05)

      val backfill = new BackfillWorkload(Ctx(spark, work.resolve("backfill"), 7L, sizes))
      backfill.setup(0)
      backfill.prepare()
      expect(reject = false, "the committed backfill store", backfill.op(new Gauges).check())
      backfill.cleanup()
      val rows = spark.read.parquet(backfill.lastStoreDir.toString)
      val one = spark.createDataFrame(java.util.List.of(rows.head()), rows.schema)
      def planted(name: String, df: DataFrame): Path = {
        val p = work.resolve(s"planted-$name")
        df.write.parquet(p.toString)
        p
      }
      expect(reject = true, "a backfill store with one label dropped",
        backfill.checkStore(planted("dropped", rows.exceptAll(one))))
      expect(reject = true, "a backfill store with one label duplicated",
        backfill.checkStore(planted("duplicated", rows.unionByName(one))))

      val inc = new IncrementalWorkload(Ctx(spark, work.resolve("incremental"), 7L, sizes))
      inc.setup(0)
      (1 to 2).foreach { i =>
        inc.prepare()
        expect(reject = false, s"incremental poll $i", inc.op(new Gauges).check())
      }
      val (ids, answer, store) = inc.last
      val lost = inc.revisedIds.head
      val stale = store.filter(col("id") =!= lost).unionByName(inc.previousVersion.filter(col("id") === lost))
      expect(reject = true, s"an incremental store that lost the update of $lost", inc.checkStore(stale, ids))
      val l = answer.head
      expect(reject = true, "a screen answer with one label wrong",
        inc.checkAnswer(ids, answer.updated(0, l.copy(name = l.name + "X"))))
      expect(reject = true, "a screen answer with one label missing", inc.checkAnswer(ids, answer.tail))
      expect(reject = true, "a screen answer with one label extra",
        inc.checkAnswer(ids, answer :+ l.copy(addr = l.addr + "X")))
    } finally {
      spark.stop()
      Fs.rm(work)
    }
    if (misses > 0) sys.exit(1)
  }
}
