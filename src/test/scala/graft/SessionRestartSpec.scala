package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A session stopped and recreated in the same JVM gets the same
  * answers: the shared artifacts the first session built (checkpointed
  * frames whose blocks die with its SparkContext) must be rebuilt for
  * the second, never served. One query per artifact family — DedupPack
  * groups, the SimilarityPack k-NN graph, the WebCurationPack robots
  * rules, the CrawlText curated corpus, and an IndexCache centroid
  * consumer.
  *
  * It stops the session, so build.sbt runs it in a forked JVM of its
  * own, apart from the specs that share [[SparkSpec.session]].
  */
class SessionRestartSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("ds_dup_groups", "sim_knn_graph",
    "wc_robots_rules", "tx_crawl_text_e2e", "sim_kmeans_assign")

  private def answers(s: SparkSession): Map[String, Seq[String]] =
    names.map { n =>
      n -> SparkEntry.queries(n)(s, dir).collect().map(_.toString).toSeq.sorted
    }.toMap

  test("a stopped and recreated session gets the first session's answers") {
    val first = SparkSpec.build()
    val before = answers(first)
    first.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val second = SparkSpec.build()
    try {
      assert(!(second.sparkContext eq first.sparkContext))
      val after = answers(second)
      names.foreach { n =>
        assert(before(n).nonEmpty, s"$n returned no rows")
        assert(after(n) == before(n), s"$n changed across the restart")
      }
    } finally second.stop()
  }
}
