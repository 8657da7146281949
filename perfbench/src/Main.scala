package perfbench

import java.io.File
import java.sql.{DriverManager, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.{ColumnMeta, IngestJob, Queries}
import graft.IngestJob.{IngestConfig, TableMapping, TableResult}
import graft.operators.{Enrich, SnapshotScan, Staging}
import graft.sources.{JdbcIngest, JdbcSource}
import graft.streaming.StreamingIngest

/**
 * The benchmark JVM for one workload: one process, one client in a closed
 * loop, calling the program's public entry points. Diagnostics go to
 * stderr; the last stdout line is one JSON object with the set-up time,
 * every timed round (wall, steps, sinks to check) and, in a traced run,
 * the per-layer metrics. `run.py` checks the outputs and reports.
 *
 * Options: --workload --seed --seconds --trace 0|1 --min-rounds N --corpus DIR
 * --work DIR --t0 EPOCH_MS, and --queries A,B,… for query_mix or --stream-input DIR
 * --events N for ingest. `--t0` is when the caller began
 * set-up, so the set-up time covers input preparation, JVM start, the
 * session, the workload's set-up and its warm-up round.
 */
object Main {

  /** One timed unit of work: an ingest table, a query or a micro-batch. */
  final case class Step(name: String, seconds: Double)

  /** A sink a round wrote, for the caller to check against its source. */
  final case class Sink(table: String, dir: String, result: TableResult)

  final case class Round(tag: String, wall: Double, steps: Seq[Step], items: Long,
      attempted: Int, failed: Int, sinks: Seq[Sink] = Nil,
      startMs: Long = 0L, endMs: Long = 0L, windows: Seq[(String, Long, Long)] = Nil)

  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  /** Prefix of the windows of stream queries in an ingest round. */
  val StreamWindow = "stream:"

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t = now(); val r = f; (r, now() - t)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def parquetFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isDirectory) dir.listFiles.toSeq.flatMap(parquetFiles)
    else if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The session every graft entry point shares: master, shuffle
    * partitions = cores, UTC, AQE on, UI off. The directory settings only
    * keep the run's scratch files inside its work directory. */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // -------------------------------------------------------------------
  // workloads
  // -------------------------------------------------------------------

  abstract class Workload(val spark: SparkSession, val work: File) {
    /** Set-up of the workload's inputs, charged to set-up time. */
    def prepare(): Unit = ()
    /** One timed round; `tag` names the round's jobs and outputs. */
    def round(tag: String): Round
    /** Per-layer probes of a traced run, timed outside the rounds. */
    def probes(): Map[String, Double] = Map.empty
    def close(): Unit = ()

    /** Runs `f` with `desc` as the description of the jobs it starts. */
    def described[T](desc: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(desc)
      try f finally spark.sparkContext.setJobDescription(null)
    }
  }

  /** The engine's three ingest paths. One round: IngestJob.run of
    * lineitem + orders from parquet in replace mode; JdbcIngest.run of
    * ORDERS from an on-disk embedded Derby snapshot into two sinks,
    * single-stream and range-parallel; both into a fresh warehouse. Then
    * the split events streamed with maxFilesPerTrigger=1 and AvailableNow
    * through streamingFunnel(view→click→purchase, "2 hours") and
    * windowedAgg into noop sinks, with fresh checkpoints. */
  final class Ingest(spark: SparkSession, work: File, corpus: String, cores: Int,
      streamInput: String, events: Long) extends Workload(spark, work) {
    val tables = Seq("lineitem", "orders")
    val url = s"jdbc:derby:${new File(work, "derby/orders").getPath};create=true"
    val jdbcTable = TableMapping("ORDERS", "orders")
    /** The JDBC sinks of a round and their scan partitions. */
    val JdbcSinks: Seq[(String, Int)] = Seq("jdbc_single" -> 1, "jdbc_parallel" -> cores)

    /** Seeds the Derby snapshot from the corpus's orders table. */
    override def prepare(): Unit = {
      val conn = DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        st.execute("CREATE TABLE ORDERS (O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, " +
          "O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, " +
          "O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(15))")
        st.close()
        val ps = conn.prepareStatement("INSERT INTO ORDERS VALUES (?, ?, ?, ?, ?, ?)")
        val rows = spark.read.parquet(s"$corpus/orders.parquet")
          .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "CAST(o_orderdate AS TIMESTAMP)", "o_orderpriority")
          .toLocalIterator().asScala
        var i = 0
        rows.foreach { r =>
          ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
          ps.setString(3, r.getString(2)); ps.setDouble(4, r.getDouble(3))
          ps.setTimestamp(5, r.getAs[Timestamp](4)); ps.setString(6, r.getString(5))
          ps.addBatch(); i += 1
          if (i % 5000 == 0) ps.executeBatch()
        }
        ps.executeBatch(); ps.close(); conn.commit()
      } finally conn.close()
    }

    def round(tag: String): Round = {
      val wh = new File(work, s"wh-$tag").getPath
      val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
      // one table per call, so each table's wall is a step of its own; a
      // call that throws fails its table instead of ending the run
      def step(name: String, m: TableMapping)(f: => TableResult): (TableResult, Double) = {
        val s0 = System.currentTimeMillis()
        try described(s"$tag:$name")(timed(
          try f catch { case e: Exception => TableResult(m, skipped = false, None, Some(e.toString)) }))
        finally windows += ((name, s0, System.currentTimeMillis()))
      }
      val startMs = System.currentTimeMillis()
      val t0 = now()
      // failOnConsistencyError = false: a mismatch comes back as !report.ok,
      // which the caller counts as a failed table
      val parquet = tables.map { t =>
        val m = TableMapping(t, t)
        val cfg = IngestConfig(sourceDir = corpus, warehouseDir = wh, tables = Seq(m),
          replace = true, failOnConsistencyError = false)
        (t, s"$wh/$t", step(t, m)(IngestJob.run(spark, cfg).head))
      }
      val jdbc = JdbcSinks.map { case (sink, parts) =>
        val cfg = JdbcIngest.JdbcConfig(url = url, warehouseDir = s"$wh/$sink",
          tables = Seq(jdbcTable), replace = true, failOnConsistencyError = false,
          scanPartitions = if (parts > 1) Map(jdbcTable.source -> parts) else Map.empty)
        (sink, s"$wh/$sink/${jdbcTable.sink}", step(sink, jdbcTable)(JdbcIngest.run(spark, cfg).head))
      }
      val stream = streamRound(tag)
      val wall = now() - t0
      val all = parquet ++ jdbc
      Round(tag, wall, all.map { case (n, _, (_, s)) => Step(n, s) } ++ stream.steps,
        items = stream.items, attempted = all.size + stream.attempted, failed = stream.failed,
        sinks = all.map { case (n, dir, (r, _)) =>
          // a parallel scan that silently fell back to one stream is a failure
          val res = if (r.warnings.isEmpty) r else r.copy(error = Some(r.warnings.mkString("; ")))
          Sink(if (n.startsWith("jdbc")) "orders" else n, dir, res)
        },
        startMs = startMs, endMs = System.currentTimeMillis(),
        windows = windows.toSeq ++ stream.windows)
    }

    /** The stream part of a round: its micro-batches are its steps, and
      * each stream query that throws or does not read every event fails. */
    def streamRound(tag: String): Round = {
      val schema = StreamingIngest.eventsRawSchema(spark, streamInput)
      def source() = StreamingIngest.normalizeEventTs(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(streamInput))
      val queries: Seq[(String, String, () => DataFrame)] = Seq(
        ("funnel", "update", () => StreamingIngest.streamingFunnel(spark, source(),
          FunnelStages, "2 hours").toDF()),
        ("windowed", "append", () => StreamingIngest.windowedAgg(source())))
      val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
      var failed = 0
      val progress = queries.flatMap { case (name, mode, build) =>
        val cp = new File(work, s"cp-$tag-$name")
        val s0 = System.currentTimeMillis()
        try {
          val q = described(s"$tag:$name") {
            build().writeStream.format("noop").outputMode(mode)
              .option("checkpointLocation", cp.getPath)
              .trigger(Trigger.AvailableNow()).start()
          }
          q.awaitTermination()
          val ps = q.recentProgress.toSeq
          val read = ps.map(_.numInputRows).sum
          if (read != events) { log(s"stream $name read $read events, expected $events"); failed += 1 }
          ps
        } catch { case e: Throwable =>
          log(s"stream $name failed: $e"); failed += 1; Nil
        } finally {
          windows += ((StreamWindow + name, s0, System.currentTimeMillis()))
          deleteTree(cp)
        }
      }
      Round(tag, 0.0, progress.filter(_.numInputRows > 0).map(p =>
          Step(s"batch${p.batchId}", p.durationMs.get("triggerExecution").doubleValue / 1000.0)),
        items = if (failed == 0) events * queries.size else 0L,
        attempted = queries.size, failed = failed, windows = windows.toSeq)
    }

    /** Layers timed outside the rounds, each a median of 3 calls into
      * noop sinks: JdbcSource's two scans, and Enrich.hash_s — an enrich of
      * bounded lineitem minus a scan of the same bounded lineitem. */
    override def probes(): Map[String, Double] = {
      def noop(df: => DataFrame): Double =
        median((1 to 3).map(_ => timed(df.write.format("noop").mode("overwrite").save())._2))
      val t = jdbcTable.source
      val metas = JdbcSource.readTableMetadata(url, t)
      val pk = JdbcSource.detectPrimaryKeyColumn(url, t).get
      val wm = JdbcSource.readWatermarkValue(url, t, pk)
      val lb = JdbcSource.readMinValue(url, t, pk).get.asInstanceOf[Number].longValue
      val ub = wm.get.asInstanceOf[Number].longValue
      val src = spark.read.parquet(s"$corpus/lineitem.parquet")
      val bounded = SnapshotScan.bounded(src, "l_orderkey",
        SnapshotScan.freezeWatermark(src, "l_orderkey"))
      Map(
        "JdbcSource.scan_single_s" -> noop(JdbcSource.scan(spark, url, t, metas, pk, wm)),
        "JdbcSource.scan_parallel_s" -> noop(JdbcSource.scanPartitioned(spark, url, t,
          metas, pk, wm, cores, lb, ub)),
        "Enrich.hash_s" -> (noop(Enrich.enrich(bounded, ColumnMeta.fromSchema(src.schema))) -
          noop(bounded)))
    }

    override def close(): Unit =
      try DriverManager.getConnection("jdbc:derby:;shutdown=true")
      catch { case _: java.sql.SQLException => () } // Derby signals shutdown by throwing
  }

  /** One sequential pass over the mix, each query a noop write inside
    * Staging.scoped as graft.Bench runs it, in a seeded order. */
  final class QueryMix(spark: SparkSession, work: File, corpus: String, seed: Long,
      queries: Seq[String]) extends Workload(spark, work) {
    val order: Seq[String] = new Random(seed).shuffle(queries)
    val outDir = new File(work, "query-out")

    def run(name: String, out: Option[File]): Double = timed {
      Staging.scoped {
        val df = Queries.all(name).runForBench(spark, corpus)
        out match {
          case Some(dir) => df.write.parquet(new File(dir, name).getPath)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
    }._2

    /** Set-up: one pass that writes every query's output for the caller's
      * digest check. A query that fails here writes nothing, which the
      * check reports. */
    override def prepare(): Unit = order.foreach { q =>
      try log(f"check pass $q ${described(s"check:$q")(run(q, Some(outDir)))}%.3f s")
      catch { case e: Throwable => log(s"query $q failed in the check pass: $e") }
    }

    def round(tag: String): Round = {
      val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
      var failed = 0
      val t0 = now()
      val startMs = System.currentTimeMillis()
      val steps = order.flatMap { q =>
        val s0 = System.currentTimeMillis()
        val s = try Some(described(s"$tag:$q")(run(q, None))) catch {
          case e: Throwable => log(s"query $q failed: $e"); failed += 1; None
        }
        windows += ((q, s0, System.currentTimeMillis()))
        s.map(Step(q, _))
      }
      val wall = now() - t0
      Round(tag, wall, steps, items = order.size - failed, attempted = order.size,
        failed = failed, startMs = startMs, endMs = System.currentTimeMillis(),
        windows = windows.toSeq)
    }
  }

  // -------------------------------------------------------------------
  // main
  // -------------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val minRounds = opts("min-rounds").toInt
    val trace = opts("trace") == "1"
    val corpus = opts("corpus")
    val work = new File(opts("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val wl: Workload = workload match {
      case "ingest" =>
        new Ingest(spark, work, corpus, cores, opts("stream-input"), opts("events").toLong)
      case "query_mix" =>
        new QueryMix(spark, work, corpus, opts("seed").toLong, opts("queries").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    log(f"prepare ${timed(wl.prepare())._2}%.3f s")
    val warm = wl.round("warm")
    log(f"warm-up round ${warm.wall}%.3f s failed=${warm.failed}")
    val setupS = (System.currentTimeMillis() - opts("t0").toLong) / 1000.0
    log(f"setup $setupS%.3f s")

    // closed loop: start another round while measuring time is left, and
    // make at least --min-rounds, so a round's median rests on enough
    // samples to shrug off one slow round. A traced run makes at least four, traced in the order untraced,
    // traced, traced, untraced, so that warming up during the run biases
    // neither side of the tracing overhead.
    val tracer = if (trace) Some(new Tracer) else None
    val rounds = mutable.ArrayBuffer.empty[(Round, Option[Tracer.Snapshot])]
    val start = now()
    def more: Boolean = rounds.size < minRounds ||
      (tracer.isDefined && rounds.size < 4) ||
      now() - start < seconds
    while (more) {
      val traced = tracer.filter(_ => Set(1, 2).contains(rounds.size % 4))
      traced.foreach { t =>
        spark.sparkContext.addSparkListener(t); spark.streams.addListener(t.streams)
      }
      val r = wl.round(s"r${rounds.size + 1}")
      val snap = traced.map { t =>
        BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t); spark.streams.removeListener(t.streams)
        t.take()
      }
      log(f"round ${r.tag}: ${r.wall}%.3f s failed=${r.failed}${if (snap.isDefined) " traced" else ""}")
      rounds += ((r, snap))
    }
    val layers = tracer.map(_ => Layers.report(workload, rounds.toSeq, cores, wl.probes()))
    wl.close()
    spark.stop()
    layers.foreach(_.problems.foreach(p => log(s"traced check failed: $p")))
    println(Json.result(setupS, Seq(warm), rounds.map(_._1).toSeq, rounds.map(_._2.isDefined).toSeq, layers))
    System.out.flush()
  }
}
