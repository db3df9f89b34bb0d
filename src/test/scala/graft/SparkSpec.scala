package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; JVM exit cleans up
}

object SparkSpec {
  lazy val session: SparkSession = build()

  /** A local session with the specs' settings (getOrCreate: a new
    * one only when no live session exists). */
  def build(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      // as labelbench does: one streaming run of IftStream compiles
      // about 110 classes (each once on the driver and once on the
      // executors, under different class loaders), more than the
      // default cache of 100 holds, so a later run would find none of
      // its classes cached
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
