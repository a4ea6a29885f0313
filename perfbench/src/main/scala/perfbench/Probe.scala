package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** One timed operation of a workload's timed phase: its kind, wall
  * interval (epoch ms for job attribution, nanos for latency) and the
  * process CPU it cost. */
final case class Op(kind: String, startMs: Long, endMs: Long, nanos: Long, cpuNanos: Long,
                    ok: Boolean)

/** Engine counts of a set of jobs; `jobMs` is the wall time their spans
  * cover. */
final case class Counts(jobs: Int, stages: Int, tasks: Long, inputBytes: Long,
                        inputRecords: Long, shuffleBytes: Long, outputBytes: Long, jobMs: Long)

/** A traced span: name, start/end (nanos since the run's origin) and the
  * index of the span that caused it (-1 for a root). */
final case class Span(name: String, start: Long, end: Long, parent: Int)

/**
 * The benchmark's instruments. Counts come from a [[SparkListener]] and a
 * [[StreamingQueryListener]] registered on the session; jobs are
 * attributed to the operation whose wall interval holds their submission
 * time (one closed-loop client, so operations never overlap). Spans are
 * kept in memory and written when the run ends.
 */
final class Probe(sc: SparkContext) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
    .filter(_ >= 0).sum

  final case class Job(id: Int, submitMs: Long, var endMs: Long = -1L, stages: Seq[Int])
  final class StageAcc { var tasks = 0L; var inputBytes = 0L; var inputRecords = 0L
    var shuffleBytes = 0L; var outputBytes = 0L; var completed = false }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time, stages = e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAcc).completed = true
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  })

  def registerStreaming(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress }
    })

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Engine counts for the jobs submitted inside [fromMs, toMs]. */
  def counts(fromMs: Long, toMs: Long): Counts = synchronized {
    val js = jobs.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)
    val ss = js.flatMap(_.stages).flatMap(s => stages.get(s))
    // the jobs' span: union of [submit, end] intervals (jobs of one
    // operation may overlap when the program runs writes in parallel)
    val spans = js.map(j => (j.submitMs, math.max(j.endMs, j.submitMs))).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Counts(js.size, ss.count(_.completed), ss.map(_.tasks).sum, ss.map(_.inputBytes).sum,
      ss.map(_.inputRecords).sum, ss.map(_.shuffleBytes).sum, ss.map(_.outputBytes).sum, covered)
  }

  // ---- spans (traced runs only; the workload code calls `span`
  // unconditionally and it costs two nanoTime reads when tracing is off)
  private var tracing = false
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  def enableTracing(): Unit = tracing = true
  def traced: Boolean = tracing

  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime() - origin, -1L, stack.headOption.getOrElse(-1))
      stack = idx :: stack
      try f
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime() - origin)
      }
    }

  /** Total span time per name, in ms. */
  def spanMs(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.end >= 0).map(s => s.end - s.start).sum / 1e6
  def spanCount(name: String): Int = spans.count(_.name == name)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"id":$i,"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
