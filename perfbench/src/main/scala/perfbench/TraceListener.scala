package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The traced run's recorder. Every job carries the local property
  * [[TraceListener.OpKey]] = `<pass>:<op>:<build|action>` set by the harness on the
  * submitting thread; jobs, stages and task metrics are summed per key, and
  * each job's interval is kept as a span. All state stays in memory until
  * [[record]]. Events arrive on Spark's listener-bus thread; the harness
  * reads the state only after [[flush]].
  */
final class TraceListener(sfDir: String) extends SparkListener {
  import TraceListener._

  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var taskRunMs, taskCpuNs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var scanBytes, scanRows, outputBytes = 0L
  }

  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val counters = mutable.LinkedHashMap.empty[String, Counters]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Boolean)]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cacheBytes = 0L
  private var cachePeakBytes = 0L
  @volatile private var flushed = false

  private def of(key: String): Counters = counters.getOrElseUpdate(key, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse(Untagged)
    jobKey.put(e.jobId, key)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageKey.put(_, key))
    val files = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execFiles.get(id.toLong))).getOrElse(Set.empty)
    synchronized {
      of(key).jobs += 1
      if (files.nonEmpty) fixtureFiles.getOrElseUpdate(key, mutable.Set.empty) ++= files
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val key = Option(jobKey.remove(e.jobId)).getOrElse(Untagged)
    val start = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    val ok = e.jobResult == JobSucceeded
    synchronized { jobSpans += ((e.jobId, key, start, e.time, ok)) }
    if (key == FlushKey) flushed = true
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val key = Option(stageKey.get(e.stageInfo.stageId)).getOrElse(Untagged)
    synchronized { of(key).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = Option(stageKey.get(e.stageId)).getOrElse(Untagged)
    val m = e.taskMetrics
    synchronized {
      val c = of(key)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    synchronized {
      cacheBytes += size - blockBytes.getOrElse(id, 0L)
      if (size == 0L) blockBytes.remove(id) else blockBytes(id) = size
      if (cacheBytes > cachePeakBytes) cachePeakBytes = cacheBytes
    }
  }

  // Distinct fixture files each key read: SQL executions announce their
  // physical plan before their jobs start, and each job names its
  // execution. Scan nodes carry their file location in the plan metadata.
  private val fixturePath = (java.util.regex.Pattern.quote(
    new java.io.File(sfDir).getAbsoluteFile.toURI.getPath) + "[^,\\]\\s]+").r
  private val execFiles = new ConcurrentHashMap[Long, Set[String]]()
  private val fixtureFiles = mutable.HashMap.empty[String, mutable.Set[String]]

  private def planFiles(p: SparkPlanInfo): Set[String] =
    (p.simpleString +: p.metadata.values.toSeq).flatMap(fixturePath.findAllIn).toSet ++
      p.children.flatMap(planFiles)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execFiles.merge(s.executionId, planFiles(s.sparkPlanInfo), _ ++ _)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execFiles.merge(u.executionId, planFiles(u.sparkPlanInfo), _ ++ _)
    case _ =>
  }

  /** Runs one marker job and waits until its end event has been seen:
    * every earlier event of this listener's queue has then been handled. */
  def flush(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    flushed = false
    sc.setLocalProperty(OpKey, FlushKey)
    try spark.range(1).count() finally sc.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** The recorded state, for the run's raw record. */
  def record: Map[String, Any] = synchronized {
    Map(
      "cache_peak_bytes" -> cachePeakBytes,
      "layer_counters" -> counters.toSeq.filterNot(_._1 == FlushKey).map { case (key, c) =>
        Map("key" -> key, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "failed_tasks" -> c.failedTasks,
          "task_run_ms" -> c.taskRunMs, "task_cpu_ns" -> c.taskCpuNs,
          "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
          "spill_bytes" -> c.spill,
          "scan_bytes" -> c.scanBytes, "scan_rows" -> c.scanRows,
          "output_bytes" -> c.outputBytes)
      },
      "jobs" -> jobSpans.toSeq.filterNot(_._2 == FlushKey).map { case (id, key, s, e, ok) =>
        Map("job" -> id, "key" -> key, "start_ms" -> s, "end_ms" -> e, "ok" -> ok)
      },
      "fixture_files" -> fixtureFiles.map { case (key, fs) => key -> fs.toSeq.sorted }.toMap)
  }
}

object TraceListener {
  /** Local property naming the `<pass>:<op>:<phase>` a job belongs to. */
  val OpKey = "perfbench.op"
  val Untagged = "untagged"
  val FlushKey = "perfbench:flush"
}
