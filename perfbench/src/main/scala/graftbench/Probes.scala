package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals of one job group (or of everything). */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L

  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }
}

/** One finished micro-batch, from `StreamingQueryProgress`. */
final case class BatchProgress(
    runId: String,
    batchId: Long,
    durationMs: Map[String, Long],
    stateRows: Long,
    stateMemBytes: Long,
    stateCommitMs: Long) {
  def batchSeconds: Double = durationMs.getOrElse("triggerExecution", 0L) / 1e3
  def phase(names: String*): Double = names.map(n => durationMs.getOrElse(n, 0L)).sum / 1e3
}

/** A streaming query's name and the span open on the thread that
  * started it. */
final case class Started(name: String, span: Int)

/** Micro-batch progress of every streaming query the run starts. */
final class StreamProbe(tracer: Tracer) extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  /** runId -> how it started. Spark delivers this event on the starting
    * thread before `start()` returns, so the open span is the caller's. */
  val startedIn = new ConcurrentHashMap[String, Started]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    startedIn.put(e.runId.toString, Started(Option(e.name).getOrElse(""), tracer.current))
    ()
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    progress.add(BatchProgress(
      p.runId.toString, p.batchId,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
    ()
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Executed batches of the given queries. */
  def batchesOf(runIds: Set[String]): Seq[BatchProgress] =
    progress.asScala.toSeq.filter(b => runIds.contains(b.runId) && b.durationMs.contains("addBatch"))
}

/** Spark's own instrumentation for a traced pass: task metrics per job
  * group, planning phases and rule timings per query, and CSV write
  * time. Job groups are the span ids set by [[Ctx.span]]; stream jobs
  * carry their query's runId as group and map back to a span through
  * [[StreamProbe.startedIn]]. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = mutable.Map.empty[String, TaskTotals]
  val total = new TaskTotals
  var analysisMs, optimizationMs, planningMs = 0L
  var graftRuleNs, graftRuleEffective = 0L
  var csvWriteNs = 0L

  private def group(g: String): TaskTotals = byGroup.getOrElseUpdate(g, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    e.stageIds.foreach(stageGroup.put(_, g))
    group(g).jobs += 1; total.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    group(stageGroup.getOrDefault(e.stageInfo.stageId, "-")).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = new TaskTotals
      t.tasks = 1
      t.runMs = m.executorRunTime
      t.cpuNs = m.executorCpuTime
      t.gcMs = m.jvmGCTime
      t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      t.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes = m.inputMetrics.bytesRead
      t.inputRecords = m.inputMetrics.recordsRead
      group(stageGroup.getOrDefault(e.stageId, "-")).add(t)
      total.add(t)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis"); optimizationMs += ms("optimization"); planningMs += ms("planning")
    qe.tracker.rules.foreach { case (name, r) =>
      if (name.startsWith("graft.")) {
        graftRuleNs += r.totalTimeNs
        graftRuleEffective += r.numEffectiveInvocations
      }
    }
    val csvWrite = qe.analyzed.exists {
      case c: InsertIntoHadoopFsRelationCommand => c.fileFormat.isInstanceOf[CSVFileFormat]
      case _ => false
    }
    if (csvWrite) csvWriteNs += durationNs
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe {
  def drain(spark: SparkSession): Unit = GraftBenchBridge.drainListeners(spark.sparkContext)

  private def compileTimes = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** Codegen compiles so far. */
  def codegenCompiles(): Long = compileTimes.getCount

  /** Codegen compile time of the compiles since `from`, in seconds.
    * Spark keeps compile times as a sampled histogram, so this is the
    * number of compiles times the sampled mean. */
  def codegenCompileSeconds(from: Long): Double =
    (compileTimes.getCount - from) * compileTimes.getSnapshot.getMean / 1e3
}

/** Host readings from /proc, to tell contention from regression. */
object Host {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
    catch { case scala.util.control.NonFatal(_) => None }

  /** One-minute load average. */
  def loadavg(): Double = read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(0.0)

  /** Steal time of all CPUs since boot, in seconds (USER_HZ = 100). */
  def stealSeconds(): Double = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
    .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(0.0)
}
