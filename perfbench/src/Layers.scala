package perfbench

import java.io.File

import Main.{Round, StreamWindow, median, parquetFiles}
import Tracer.{Job, Snapshot, layerOf, unionMs}

/** Per-layer metrics of a traced run, from the rounds the tracer saw, and
  * the problems that fail the traced run's check. */
object Layers {

  /** Counts that must repeat exactly between traced rounds of one code.
    * Shuffle bytes are not among them: a compressed shuffle block's size
    * depends on the order its rows arrive in, which varies from round to
    * round in the query mix by a few bytes; the records do not vary. */
  val ExactCounts = Seq("spark.stages", "spark.shuffle_write_records",
    "source.rows_read_per_row", "Ddl.files_written")

  /** Largest share of a traced round's wall by which the layer self-times
    * plus the driver gap may miss the wall. */
  val LayerSumTolerance = 0.02

  /** Ingest layers with jobs in every round: the snapshot watermark, the
    * source count, the write and the verify. One that reads 0 has lost its
    * rule in `Tracer.LayerRules`, and its jobs went to `IngestJob.other`. */
  val RequiredIngestLayers = Seq("SnapshotScan.probe_watermark",
    "ConsistencyCheck.source_count", "Ddl.write", "ConsistencyCheck.verify")

  /** Largest share of an ingest round's batch wall (the wall outside the
    * streams) that jobs matching no rule may cover. About 0.06 when every
    * rule matches; a lost `Ddl.write` rule alone takes it past 0.5. */
  val OtherShareLimit = 0.25

  /** The driver time of each JDBC sink: its step wall minus the time
    * covered by Spark jobs — metadata, watermark, count and MIN round
    * trips, plus query planning and file commits. */
  val JdbcDriverMetrics = Seq("jdbc_single" -> "JdbcIngest.driver_single_s",
    "jdbc_parallel" -> "JdbcIngest.driver_parallel_s")

  final case class Report(metrics: Map[String, Double], problems: Seq[String])

  def report(workload: String, rounds: Seq[(Round, Option[Snapshot])], cores: Int,
      probes: Map[String, Double]): Report = {
    val traced = rounds.collect { case (r, Some(s)) => roundMetrics(workload, r, s, cores) }
    val ms = traced.map(_.metrics)
    val keys = ms.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(ms.map(_.getOrElse(k, 0.0)))).toMap
    val differing = ExactCounts.filter(k => ms.map(_.get(k)).distinct.size > 1)
    val stale = if (workload == "query_mix") Nil else Tracer.staleRules
    val tracedWalls = rounds.collect { case (r, Some(_)) => r.wall }
    val plainWalls = rounds.collect { case (r, None) => r.wall }
    Report(
      med - "trace.layer_sum_err" ++ probes ++ Map(
        "trace.layer_sum_err" -> ms.map(_("trace.layer_sum_err")).max,
        "trace.counts_repeat" -> (if (differing.isEmpty) 1.0 else 0.0),
        "trace.overhead_frac" -> (median(tracedWalls) / median(plainWalls) - 1.0)),
      traced.flatMap(_.problems) ++
        differing.map(k => s"$k differs between traced rounds: ${ms.map(_.get(k))}") ++
        stale.map(k => s"layer rule $k names no method of the program"))
  }

  def roundMetrics(workload: String, r: Round, s: Snapshot, cores: Int): Report = {
    val (rs, re) = (r.startMs, r.endMs)
    def clip(a: Long, b: Long)(j: Job): (Long, Long) =
      (math.max(j.start, a), math.min(if (j.end < 0) b else j.end, b))
    val inRound = clip(rs, re) _
    def windowOf(t: Long): String =
      r.windows.collectFirst { case (n, a, b) if t >= a && t <= b => n }.getOrElse("other")
    // query_mix: the query named in the job description; ingest: the
    // stream while a stream query runs, else the call-site rule
    def attribute(execId: Option[Long], desc: String, t: Long): String = workload match {
      case "query_mix" => desc.split(":", 2).lift(1).getOrElse("other")
      case _ if windowOf(t).startsWith(StreamWindow) => "stream"
      case _ => execId.flatMap(s.sites.get).map(layerOf).getOrElse("IngestJob.other")
    }
    val jobLayer = s.jobs.map(j => j -> attribute(j.execId, j.desc, j.start))
    val stageLayer = s.stages.filter(_.tasks > 0).map(st => st -> attribute(st.execId, st.desc, st.submitted))
    val wallMs = (re - rs).toDouble
    val covered = unionMs(s.jobs.map(inRound))
    val self = jobLayer.groupBy(_._2).map { case (l, js) => l -> unionMs(js.map(j => inRound(j._1))) }
    val sumErr = math.abs(self.values.sum + (wallMs - covered) - wallMs) / wallMs
    val stages = stageLayer.map(_._1)
    val common = Map(
      "spark.jobs" -> s.jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.task_busy_s" -> stages.map(_.busyMs).sum / 1000.0,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_write_records" -> stages.map(_.shuffleRecords).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.driver_gap_s" -> (wallMs - covered) / 1000.0,
      "trace.layer_sum_err" -> sumErr)
    val sumProblem =
      if (sumErr > LayerSumTolerance) Seq(f"${r.tag}: layer sums miss the wall by $sumErr%.4f of it")
      else Nil
    val own = workload match {
      case "query_mix" =>
        val qs = r.windows.map { case (q, a, b) =>
          val st = stageLayer.filter(_._2 == q).map(_._1)
          q -> Map(s"Queries.$q.s" -> (b - a) / 1000.0,
            s"Queries.$q.stages" -> st.size.toDouble,
            s"Queries.$q.shuffle_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
            s"Queries.$q.driver_gap_s" -> ((b - a) - self.getOrElse(q, 0L)) / 1000.0)
        }
        Report(qs.flatMap(_._2).toMap,
          qs.collect { case (q, m) if m(s"Queries.$q.stages") == 0 => s"${r.tag}: no stages attributed to $q" })
      case _ => ingestMetrics(r, s, cores, self, jobLayer, stageLayer, clip)
    }
    Report(common ++ own.metrics, sumProblem ++ own.problems)
  }

  def ingestMetrics(r: Round, s: Snapshot, cores: Int, self: Map[String, Long],
      jobLayer: Seq[(Job, String)], stageLayer: Seq[(Tracer.Stage, String)],
      clip: (Long, Long) => Job => (Long, Long)): Report = {
    val wallMs = (r.endMs - r.startMs).toDouble
    val rows = r.sinks.flatMap(_.result.report.map(_.sourceCount)).sum.toDouble
    val files = r.sinks.map(k => parquetFiles(new File(k.dir)))
    val writeMs = self.getOrElse("Ddl.write", 0L).toDouble
    val writeBusy = stageLayer.filter(_._2 == "Ddl.write").map(_._1.busyMs).sum
    val batchStages = stageLayer.filter(_._2 != "stream").map(_._1)
    val streamMs = r.windows.collect { case (n, a, b) if n.startsWith(StreamWindow) => b - a }.sum
    val batchMs = wallMs - streamMs
    val batchJobs = jobLayer.filter(_._2 != "stream").map(j => clip(r.startMs, r.endMs)(j._1))
    val layerS = Seq("Ddl.write", "Ddl.width_probe", "ConsistencyCheck.verify",
      "ConsistencyCheck.source_count", "SnapshotScan.probe_watermark",
      "SnapshotScan.probe_access", "IngestJob.other")
      .map(l => s"${l}_s" -> self.getOrElse(l, 0L) / 1000.0).toMap
    val jdbcDriver = JdbcDriverMetrics.map { case (step, metric) =>
      metric -> r.windows.collect { case (`step`, a, b) =>
        (b - a) - unionMs(s.jobs.map(clip(a, b)))
      }.sum / 1000.0
    }
    val otherMs = self.getOrElse("IngestJob.other", 0L)
    Report(
      layerS ++ jdbcDriver ++ Map(
        "Ddl.write_core_util" -> (if (writeMs > 0) writeBusy / (writeMs * cores) else 0.0),
        "Ddl.files_written" -> files.map(_.size).sum.toDouble,
        "Ddl.sink_bytes_per_row" -> files.flatten.map(_.length).sum / rows,
        "source.rows_read_per_row" -> batchStages.map(_.recordsRead).sum / rows,
        "IngestJob.driver_gap_s" -> (batchMs - unionMs(batchJobs)) / 1000.0) ++
        streamMetrics(s),
      RequiredIngestLayers.filterNot(l => self.getOrElse(l, 0L) > 0)
        .map(l => s"${r.tag}: no jobs attributed to $l") ++
        (if (otherMs > OtherShareLimit * batchMs)
          Seq(f"${r.tag}: jobs matching no layer rule cover ${otherMs / batchMs}%.3f of the batch wall")
        else Nil))
  }

  /** Micro-batch overheads from StreamingQueryProgress, over the batches
    * that read input; state size at the end of each query, summed. */
  def streamMetrics(s: Snapshot): Map[String, Double] = {
    val ps = s.progress.filter(_.numInputRows > 0)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val last = s.progress.groupBy(_.id).values.map(_.maxBy(_.batchId))
    Map(
      "stream.planning_ms_p50" -> median(ps.map(d(_, "queryPlanning"))),
      "stream.commit_ms_p50" -> median(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets"))),
      "stream.add_batch_ms_p50" -> median(ps.map(d(_, "addBatch"))),
      "stream.state_commit_ms_p50" -> median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "stream.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "stream.state_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble)
  }
}
