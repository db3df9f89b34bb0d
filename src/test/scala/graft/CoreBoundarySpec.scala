package graft

import java.io.File
import java.nio.file.Files

import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.StoreReporter

import org.scalatest.funsuite.AnyFunSuite

/** The label core (sources, the three pipelines, merge, the seen-set,
  * the keyed sinks, the streams, the plan extensions) compiles with
  * Spark's jars alone: no core file reaches a curation pack. The check
  * runs the Scala compiler over the core sources, never against
  * compiled classes of the whole library, so an import of a pack fails
  * here with the compiler's own message. */
class CoreBoundarySpec extends AnyFunSuite {
  import CoreBoundarySpec._

  test("the label core compiles alone against Spark's jars") {
    val errors = compileAlone(coreSources)
    if (errors.nonEmpty)
      fail("the label core reaches outside itself:\n" + errors.mkString("\n"))
  }

  test("a core file that imports a pack fails with the compiler's message") {
    val dir = Files.createTempDirectory("graft-boundary").toFile
    val probe = new File(dir, "Probe.scala")
    Files.writeString(probe.toPath,
      "package graft.streaming\nimport graft.operators.CrawlText\nobject Probe\n")
    val errors = try compileAlone(coreSources :+ probe)
      finally { probe.delete(); dir.delete() }
    assert(errors.nonEmpty && errors.forall(_.startsWith("Probe.scala:2:")),
      errors.mkString("\n"))
    assert(errors.exists(_.contains("CrawlText")), errors.mkString("\n"))
  }
}

object CoreBoundarySpec {
  private val Main = new File("src/main/scala")

  /** Every file under these directories of `src/main/scala` is core. */
  private val CoreDirs: Seq[String] = Seq("graft/streaming", "graft/pipelines",
    "graft/plans", "graft/functions")

  /** And these, which the core calls from the directories above. */
  private val CoreFiles: Seq[String] = Seq(
    "org/apache/spark/sql/GraftShim.scala",
    "graft/sources/PagedStream.scala", "graft/sources/Retry.scala",
    "graft/operators/Merge.scala", "graft/operators/Extract.scala",
    "graft/operators/RuntimeFilter.scala", "graft/operators/Compaction.scala",
    "graft/operators/ZOrderLayout.scala")

  /** The core's sources; fails when a named file has gone. */
  private def coreSources: Seq[File] = {
    val missing = CoreFiles.filterNot(f => new File(Main, f).isFile)
    require(missing.isEmpty, s"core files not found: ${missing.mkString(", ")}")
    CoreDirs.flatMap(d => scalaFiles(new File(Main, d))) ++
      CoreFiles.map(new File(Main, _))
  }

  private def scalaFiles(dir: File): Seq[File] = {
    val all = Option(dir.listFiles()).toSeq.flatten
    all.filter(f => f.isFile && f.getName.endsWith(".scala")) ++
      all.filter(_.isDirectory).flatMap(scalaFiles)
  }

  /** The jars beside Spark's own, which hold Scala's library too. */
  private def sparkJars: Seq[File] = {
    val jar = new File(classOf[org.apache.spark.sql.SparkSession]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    jar.getParentFile.listFiles().filter(_.getName.endsWith(".jar")).toSeq
  }

  /** Compiles `files` against Spark's jars only and returns one
    * `file:line: message` per error. Runs on a thread with an 8 MB
    * stack, as the benchmark's build gives the compiler. */
  private def compileAlone(files: Seq[File]): Seq[String] = {
    val out = Files.createTempDirectory("graft-core").toFile
    val settings = new Settings()
    settings.usejavacp.value = false
    settings.classpath.value = sparkJars.mkString(File.pathSeparator)
    settings.outdir.value = out.getPath
    settings.nowarn.value = true
    val reporter = new StoreReporter(settings)
    var failure: Option[Throwable] = None
    val t = new Thread(null, () =>
      try {
        val g = new Global(settings, reporter)
        new g.Run().compile(files.map(_.getPath).toList)
      } catch { case e: Throwable => failure = Some(e) },
      "core-boundary", 8L << 20)
    t.start(); t.join()
    scala.reflect.io.Directory(out).deleteRecursively()
    failure.foreach(e => throw e)
    reporter.infos.toSeq.filter(_.severity == reporter.ERROR).map { i =>
      val where = if (i.pos.isDefined)
        s"${i.pos.source.file.name}:${i.pos.line}" else "?"
      s"$where: ${i.msg}"
    }
  }
}
