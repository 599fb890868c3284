package dwbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId

/** The benchmark's own listener for traced passes. Work is attributed
  * through two local properties the harness sets around every call
  * into the program: [[SpanProp]] names the operation span and
  * [[PartProp]] the part of it that is running (`build` while the
  * registry builder runs, `action` while the fingerprint runs, `etl`
  * for a pipeline phase). Everything is kept in memory and read after
  * the bus is drained. */
final class Trace(dataDir: String) extends SparkListener {
  import Trace._

  val bySpan = mutable.Map.empty[String, Counters]
  private val jobSpan = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** all job intervals, attributed or not (driver-gap input) */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var worstSkew = 0.0
  var scans = 0L
  private val rddsStored = mutable.Set.empty[Int]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var liveBytes = 0L
  var peakBlockBytes = 0L

  def materialisations: Long = rddsStored.size.toLong

  private def counters(span: String) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
    val staged = e.stageInfos.exists(_.details.contains("graft.meta.StagedWrite"))
    jobStart(e.jobId) = (e.time, staged)
    span.foreach { s =>
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageSpan(_) = s)
      val c = counters(s)
      c.jobs += 1
      if (props.exists(_.getProperty(PartProp) == "build")) c.buildJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, staged) =>
      jobIntervals += ((t0, e.time))
      jobSpan.remove(e.jobId).foreach(s => counters(s).jobSpans += ((t0, e.time, staged)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { s =>
      val c = counters(s)
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.remove(e.stageInfo.stageId)
    stageTasks.remove(e.stageInfo.stageId).foreach { d =>
      worstSkew = math.max(worstSkew, skewRatio(d.toSeq))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) =>
        val key = info.blockId.name
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        liveBytes += bytes - blockBytes.getOrElse(key, 0L)
        if (bytes > 0) { blockBytes(key) = bytes; rddsStored += rdd }
        else blockBytes.remove(key)
        peakBlockBytes = math.max(peakBlockBytes, liveBytes)
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { scans += sourceScans(s.sparkPlanInfo, dataDir) }
    case _ =>
  }
}

object Trace {
  final class Counters {
    var jobs = 0L; var buildJobs = 0L
    var taskCpuNs = 0L; var taskRunMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L; var bytesWritten = 0L
    /** (start ms, end ms, call site touches StagedWrite) per job */
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
  }
  val SpanProp = "dwbench.span"
  val PartProp = "dwbench.part"

  /** Worst task over median task of one stage; stages too small for
    * the ratio to mean anything (fewer than 2 tasks, or no task over
    * 50 ms) count as balanced. */
  def skewRatio(durationsMs: Seq[Long]): Double =
    if (durationsMs.size < 2 || durationsMs.max < 50) 1.0
    else {
      val s = durationsMs.sorted
      val mid = s.size / 2
      val med = if (s.size % 2 == 1) s(mid).toDouble else (s(mid - 1) + s(mid)) / 2.0
      s.last / math.max(med, 1.0)
    }

  /** Parquet scans of the benchmark's input tables in one plan. */
  def sourceScans(p: SparkPlanInfo, dataDir: String): Long =
    (if (p.nodeName.startsWith("Scan parquet") &&
         p.metadata.get("Location").exists(_.contains(dataDir))) 1L else 0L) +
      p.children.map(sourceScans(_, dataDir)).sum

  /** Total time inside [t0, t1] not covered by any interval. */
  def uncovered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L; var reach = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (t1 - t0) - covered
  }
}
