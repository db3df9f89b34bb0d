package labelbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work billed to one span: everything its jobs ran. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shuffleWrite, spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

final case class Span(id: Long, name: String, op: Long, parent: Long, start: Long, var end: Long) {
  val work = new Work
}

/** In-memory span recorder. A span's id travels as a Spark local
  * property, so every job submitted while it is open — on this thread,
  * or on a thread Spark starts from it, such as a streaming query's — is
  * billed to it by [[Trace.Listener]]. Spans are written out at exit. */
object Trace {
  val Key = "labelbench.span"
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  @volatile var on = false
  @volatile private var opId = 0L

  private def sc: SparkContext = org.apache.spark.sql.SparkSession.active.sparkContext
  def current: Long = Option(sc.getLocalProperty(Key)).map(_.toLong).getOrElse(0L)

  /** Opens a span under the current one, bills the body's jobs to it. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  def open(name: String): Span = {
    val parent = current
    val s = Span(ids.incrementAndGet(), name, opId, parent, System.nanoTime(), 0L)
    spans.put(s.id, s)
    sc.setLocalProperty(Key, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    sc.setLocalProperty(Key, if (s.parent == 0L) null else s.parent.toString)
  }

  /** Runs one traced operation under a root span named "op". */
  def op[T](body: => T): (T, Long) = {
    opId += 1
    (span("op")(body), opId)
  }

  def of(op: Long): Seq[Span] = spans.values.asScala.filter(_.op == op).toSeq

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  /** Time in `s` not covered by its children. */
  def selfNs(s: Span, in: Seq[Span]): Long = {
    val kids = in.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    covered += hi - lo
    (s.end - s.start) - covered
  }

  /** Bills jobs, stages and tasks to the span open when they were
    * submitted. */
  final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Span]()
    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap(pp => Option(pp.getProperty(Key))).flatMap(id => Option(spans.get(id.toLong)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(s => s.work.synchronized { s.work.jobs += 1 })

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        s.work.synchronized { s.work.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val info = e.taskInfo
        s.work.synchronized {
          val w = s.work
          w.tasks += 1
          if (m != null) {
            w.runMs += m.executorRunTime
            w.cpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            // the Spark UI's definition: task duration not spent running,
            // deserializing, serializing the result or fetching it
            w.schedMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          }
        }
      }
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.LabelbenchBus.drain(sc)

  /** Span dump: one JSON object per line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val w = s.work
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""tasks":${w.tasks},"executor_run_ms":${w.runMs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
