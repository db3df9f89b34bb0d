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

  /** The harness session, 4 wide, with the specs' own warehouse dir
    * and app name (getOrCreate: a new one only when no live session
    * exists). */
  def build(): SparkSession = Harness.session(cpus = 4, confs = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}
