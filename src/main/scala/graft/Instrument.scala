package graft

import java.time.Instant
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Counts the Spark work of timed intervals that run one after another on
 * one session ([[Bench]] runs each query pass as one). A [[SparkListener]]
 * collects jobs, stages, tasks and their I/O; a [[StreamingQueryListener]]
 * the micro-batches and their trigger phases, after the progress model of
 * Structured Streaming (`addBatch`, `walCommit`, `queryPlanning`,
 * `getBatch`).
 *
 * Attribution: a job belongs to the interval that holds its submit time,
 * so the jobs that pool threads submit (`IndexStore.inParallel`) count,
 * where a job tag set on the calling thread would miss them. A
 * micro-batch belongs to the interval that holds its trigger's start. A
 * stage counts once, in the first job that lists it: jobs that run at the
 * same time can share a map stage. Reading an interval drains the
 * listener bus, then drops all that was submitted up to the interval's
 * end, so two intervals never share a job and the record does not grow
 * with the run.
 *
 * Layer names follow `perfbench`'s per-layer record where the two overlap
 * (`spark.jobs`, `spark.driver_ms`, `streaming.addBatch_ms`, ...).
 * `spark.job_ms` is the union of the jobs' spans; `spark.driver_ms` is
 * wall time minus `spark.job_ms`.
 */
final class Instrument(spark: SparkSession) extends AutoCloseable {
  import Instrument.Layers

  private final class Job(val submitMs: Long) { var endMs: Long = submitMs }
  private final class Stage(val job: Int) {
    var completed = false
    var tasks, inputBytes, inputRecords, shuffleBytes, spillBytes = 0L
  }
  private final class Batch(val startMs: Long, val phaseMs: Map[String, Long])

  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Instrument.this.synchronized {
      jobs(e.jobId) = new Job(e.time)
      e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Instrument.this.synchronized {
      jobs.get(e.jobId).foreach(j => j.endMs = math.max(e.time, j.submitMs))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Instrument.this.synchronized { stages.get(e.stageInfo.stageId).foreach(_.completed = true) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Instrument.this.synchronized {
      stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val batchListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val phases = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // an idle trigger reports progress too, but runs no batch
      if (phases.contains("addBatch")) Instrument.this.synchronized {
        batches += new Batch(Instant.parse(e.progress.timestamp).toEpochMilli, phases)
      }
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(batchListener)

  /** Runs `f` as one interval: its result and the layers of its work. */
  def measure[T](f: => T): (T, Layers) = {
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = f
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val toMs = System.currentTimeMillis()
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    (result, take(fromMs, toMs, wallMs))
  }

  private def take(fromMs: Long, toMs: Long, wallMs: Long): Layers = synchronized {
    val done = jobs.filter(_._2.submitMs <= toMs)
    val own = done.filter(_._2.submitMs >= fromMs)
    val ss = stages.values.filter(s => own.contains(s.job)).toSeq
    val bs = batches.filter(b => b.startMs >= fromMs && b.startMs <= toMs).toSeq
    jobs --= done.keys
    stages.filterInPlace((_, s) => !done.contains(s.job))
    batches.filterInPlace(_.startMs > toMs)
    // union of the [submit, end] spans: jobs of one interval may overlap
    var jobMs, curS, curE = 0L
    own.values.toSeq.map(j => (j.submitMs, j.endMs)).sorted.foreach { case (s, e) =>
      if (s > curE) { jobMs += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    jobMs += curE - curS
    def phase(name: String) = bs.map(_.phaseMs.getOrElse(name, 0L)).sum
    ListMap(
      "wall_ms" -> wallMs,
      "spark.jobs" -> own.size.toLong,
      "spark.stages" -> ss.count(_.completed).toLong,
      "spark.tasks" -> ss.map(_.tasks).sum,
      "spark.input_bytes" -> ss.map(_.inputBytes).sum,
      "spark.input_records" -> ss.map(_.inputRecords).sum,
      "spark.shuffle_bytes" -> ss.map(_.shuffleBytes).sum,
      "spark.spill_bytes" -> ss.map(_.spillBytes).sum,
      "spark.job_ms" -> jobMs,
      "spark.driver_ms" -> math.max(0L, wallMs - jobMs),
      "streaming.batches" -> bs.size.toLong,
      "streaming.batch_ms" -> phase("triggerExecution"),
      "streaming.addBatch_ms" -> phase("addBatch"),
      "streaming.walCommit_ms" -> phase("walCommit"),
      "streaming.queryPlanning_ms" -> phase("queryPlanning"),
      "streaming.getBatch_ms" -> phase("getBatch"))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(batchListener)
  }
}

object Instrument {

  /** One interval's counts by layer name, in a fixed order. */
  type Layers = ListMap[String, Long]

  def json(layers: Layers): String =
    layers.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}
