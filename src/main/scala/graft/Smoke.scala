package graft

/** Dev-only schema smoke: print every table's schema + a row. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session()
    println(s"== entry rows: ${SparkEntry.entry(spark).count()}")
    Tables.names.foreach { n =>
      try {
        val df = Tables.read(spark, sfDir, n)
        println(s"== $n: ${df.schema.simpleString}")
        df.show(2, 60, vertical = false)
      } catch { case e: Throwable => println(s"== $n FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
