package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/**
 * Listens to Spark from outside the program and attributes every job to a
 * layer. A job's layer comes from its `spark.sql.execution.id`: the SQL
 * execution's start event carries the long call site of the thread that
 * ran the action, and its innermost graft frame names the layer. Stage
 * call sites are not used: under AQE most stages are submitted from
 * `CompletableFuture` threads and report that as their call site.
 *
 * Times are epoch milliseconds of the Spark driver, from the listener events.
 */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val sites = mutable.HashMap.empty[Long, String]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L,
      prop(e.properties, "spark.sql.execution.id").map(_.toLong),
      prop(e.properties, "spark.job.description").getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, Stage(e.stageInfo.stageId))
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.execId = prop(e.properties, "spark.sql.execution.id").map(_.toLong)
    s.desc = prop(e.properties, "spark.job.description").getOrElse("")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.busyMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sites(s.executionId) = s.details }
    case _ =>
  }

  /** Collects streaming progress while registered with a session. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Everything recorded since the last call; clears the record. */
  def take(): Snapshot = synchronized {
    val snap = Snapshot(jobs.values.toSeq, stages.values.toSeq, sites.toMap, progress.toSeq)
    jobs.clear(); stages.clear(); progress.clear()
    snap
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, var end: Long, execId: Option[Long], desc: String)

  final case class Stage(id: Int, var submitted: Long = 0L, var execId: Option[Long] = None,
      var desc: String = "",
      var tasks: Int = 0, var busyMs: Long = 0L, var shuffleWrite: Long = 0L,
      var shuffleRecords: Long = 0L, var spill: Long = 0L, var recordsRead: Long = 0L)

  final case class Snapshot(jobs: Seq[Job], stages: Seq[Stage], sites: Map[Long, String],
      progress: Seq[StreamingQueryProgress])

  /** Innermost graft frame of a call site → layer, first match wins. A
    * rule is the method's class and name as they appear on a stack frame. */
  val LayerRules: Seq[(String, String)] = Seq(
    "graft.operators.Ddl$.estimateRecordsPerFile" -> "Ddl.width_probe",
    "graft.operators.Ddl$.writePartitioned" -> "Ddl.write",
    "graft.operators.ConsistencyCheck$.isolatedSinkMetrics" -> "ConsistencyCheck.verify",
    "graft.operators.ConsistencyCheck$.sinkMetrics" -> "ConsistencyCheck.verify",
    "graft.operators.ConsistencyCheck$.sourceCount" -> "ConsistencyCheck.source_count",
    "graft.operators.SnapshotScan$.freezeWatermark" -> "SnapshotScan.probe_watermark",
    "graft.operators.SnapshotScan$.probeAccess" -> "SnapshotScan.probe_access")

  /** The layer of a call site: the first rule whose frame appears in the
    * graft part of the stack, scanning from the innermost frame out. */
  def layerOf(site: String): String = {
    val frames = site.split("\n").toSeq.map(_.trim).filter(_.startsWith("graft."))
    frames.iterator.flatMap(f => LayerRules.collectFirst { case (k, v) if f.startsWith(k + "(") => v })
      .nextOption().getOrElse("IngestJob.other")
  }

  /** Rules that name no method of the program. A renamed, moved or inlined
    * method would otherwise send its layer's jobs to `IngestJob.other`. */
  def staleRules: Seq[String] = LayerRules.map(_._1).filterNot { rule =>
    val (cls, method) = rule.splitAt(rule.lastIndexOf('.'))
    scala.util.Try(Class.forName(cls).getMethods.exists(_.getName == method.tail)).getOrElse(false)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
