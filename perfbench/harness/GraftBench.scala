// Lives under org.apache.spark only to reach LiveListenerBus.waitUntilEmpty,
// so the traced run can count every listener event of a call before it
// attributes them.
package org.apache.spark.graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.operators._
import graft.similarity.Ann
import graft.streaming.StreamingAnomaly

/** One benchmark process: set up a session, run one workload's timed
  * phase, write every call's full result, and leave a result record
  * (timings, per-layer counters, output paths) for perfbench/run.py,
  * which checks the outputs against the DuckDB oracles and prints the
  * metrics. Every layer is timed from outside, by calling graft's
  * public functions; counters come from listeners this file registers.
  */
object GraftBench {

  final case class Call(name: String, entry: String,
      fn: (SparkSession, String) => DataFrame)

  val reportCalls = Seq(
    Call("TickerAnomaly.report", "q10_anomaly_report",
      (s, d) => TickerAnomaly.report(s, d)),
    Call("SignalOps.p05MonitorReport", "p05_monitor_report",
      (s, d) => SignalOps.p05MonitorReport(s, d)),
    Call("SignalOps.q94CorrMatrix", "q94_corr_matrix",
      (s, d) => SignalOps.q94CorrMatrix(s, d)))

  /** p05's parts, timed on their own in traced jobs. */
  val reportParts = Seq(
    Call("Tables.events", "events", (s, d) => Tables.events(s, d)),
    Call("Decompose.q13AnomalySummary", "q13_anomaly_summary",
      (s, d) => Decompose.q13AnomalySummary(s, d)),
    Call("SignalOps.q60DominantPeriod", "q60_dominant_period",
      (s, d) => SignalOps.q60DominantPeriod(s, d)),
    Call("SignalOps.q61DriftPsi", "q61_drift_psi",
      (s, d) => SignalOps.q61DriftPsi(s, d)),
    Call("SignalOps.q63Discord", "q63_matrix_discord",
      (s, d) => SignalOps.q63Discord(s, d)),
    Call("SignalOps.q64TrendMk", "q64_trend_mk",
      (s, d) => SignalOps.q64TrendMk(s, d)))

  val corpusCalls = Seq(
    Call("CorpusPipeline.curate", "p02_curation_pipeline",
      (s, d) => CorpusPipeline.curate(s, d)),
    Call("Dedup.dedupClusters", "d06_dedup_clusters",
      (s, d) => Dedup.dedupClusters(s, d)),
    Call("Sampling.importanceSample", "d09_importance_sample",
      (s, d) => Sampling.importanceSample(s, d)),
    Call("Ann.ivfPqTopK", "s13_ann_ivfpq", (s, d) => Ann.ivfPqTopK(s, d)))

  val StreamEntry = "st02_stream_anomaly"
  val StreamCall = "StreamingAnomaly.st02ToFileSink"
  val StreamCfg = AnomalyConfig(dataPeriods = 28)

  /** The benchmark's action: write the whole result, every column. */
  def writeFull(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  // ---- options ----

  final case class Opts(workload: String, input: String, work: String,
      seconds: Double, trace: Boolean, nproc: Int, launchedMs: Long,
      minWarm: Int, livePeriodMs: Long, liveSlices: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Opts(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("nproc").toInt, m("launched-ms").toLong,
      m("min-warm").toInt,
      m.getOrElse("live-period-ms", "0").toLong,
      m.getOrElse("live-slices", "0").toInt)
  }

  // ---- JVM-level sources ----

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenMs(): Double = CodeGenerator.compileTime / 1e6
  /** Heap still live after full GCs: each heap pool's usage as the last
    * collection left it, collected again until it stops falling, since
    * the ContextCleaner releases blocks only after a GC has found their
    * owners unreachable. */
  def heapAfterGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 1.0 && rounds < 8) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      val pos = q * (v.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, v.length - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  // ---- listeners ----

  final case class JobRec(id: Int, start: Long, var end: Long)
  final case class TaskRec(stage: Int, finish: Long, durMs: Long,
      shuffleW: Long, spill: Long)
  final case class StageRec(id: Int, submit: Long, complete: Long)

  /** Job, stage and task events (SparkListener) plus SQL executions
    * (QueryExecutionListener), kept in memory for the traced run. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = ArrayBuffer[JobRec]()
    val tasks = ArrayBuffer[TaskRec]()
    val stages = ArrayBuffer[StageRec]()
    val executions = ArrayBuffer[(String, Long, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += JobRec(e.jobId, e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.finishTime,
        e.taskInfo.duration, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stages += StageRec(si.stageId, si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { executions += ((f, System.currentTimeMillis, ns)) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Counters over the wall-clock window [s, e] (epoch ms). */
    def window(s: Long, e: Long, wallS: Double, gcS: Double)
        : Map[String, Double] = synchronized {
      val js = jobs.filter(j => j.start >= s && j.start <= e)
      val ts = tasks.filter(t => t.finish >= s && t.finish <= e)
      val taskS = ts.map(_.durMs).sum / 1e3
      // wall time covered by at least one running job, clipped to [s, e]
      val iv = js.map(j => (j.start, math.min(j.end, e))).sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      val longest = stages.filter(st => st.complete >= s && st.complete <= e)
        .sortBy(st => st.submit - st.complete).headOption
      val skew = longest.map { st =>
        val d = tasks.filter(_.stage == st.id).map(_.durMs.toDouble)
        val md = median(d.toSeq)
        if (d.isEmpty || md <= 0) 1.0 else d.max / md
      }.getOrElse(1.0)
      Map("wall_s" -> wallS, "jobs" -> js.size.toDouble,
        "tasks" -> ts.size.toDouble, "task_s" -> taskS,
        "busy_cores" -> (if (wallS > 0) taskS / wallS else 0.0),
        "driver_s" -> math.max(0.0, wallS - covered / 1e3),
        "shuffle_mb" -> ts.map(_.shuffleW).sum / 1048576.0,
        "spill_mb" -> ts.map(_.spill).sum / 1048576.0,
        "gc_s" -> gcS, "skew" -> skew)
    }
  }

  /** Streaming progress, which Spark emits whether or not the run is
    * traced; the GC total at receipt gives a per-batch GC delta. */
  final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer[(StreamingQueryProgress, Long)]()
    def clear(): Unit = synchronized { events.clear() }
    def snapshot(): Seq[(StreamingQueryProgress, Long)] =
      synchronized { events.toSeq.sortBy(_._1.batchId) }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { events += ((e.progress, gcMs())) }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  final case class Span(name: String, start: Long, end: Long,
      parent: String, job: Int)

  // ---- run state ----

  final class Run(val o: Opts) {
    var spark: SparkSession = _
    val rec = new Recorder
    val prog = new Progress
    var attached = false
    val spans = ArrayBuffer[Span]()
    val result = scala.collection.mutable.LinkedHashMap[String, Any]()
    val perLayer = scala.collection.mutable.LinkedHashMap[String, Double]()

    def attach(on: Boolean): Unit = if (on != attached) {
      if (on) {
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
      } else {
        spark.sparkContext.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
      }
      attached = on
    }
    def drainBus(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

    /** Session + the workload's input tables opened + a one-row job;
      * returns the split of its time. */
    def setUp(): Map[String, Double] = {
      val t0 = System.nanoTime
      spark = GraftSession.builder(s"local[${o.nproc}]")
        .config("spark.sql.shuffle.partitions", o.nproc.toString)
        .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime
      o.workload match {
        case "ticker_report" =>
          Tables.events(spark, o.input).schema
          Tables.customer(spark, o.input).schema
        case "corpus_curation" =>
          Tables.documents(spark, o.input).schema
          Tables.embeddings(spark, o.input).schema
        case _ =>
      }
      val t2 = System.nanoTime
      spark.range(1).selectExpr("sum(id)").collect()
      if (o.workload == "ticker_stream") spark.streams.addListener(prog)
      val t3 = System.nanoTime
      Map("session_s" -> (t1 - t0) / 1e9,
        "tables_s" -> (t2 - t1) / 1e9, "warmup_s" -> (t3 - t2) / 1e9)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = new Run(o)
    // set-up counts from process launch: JVM start, class loading, the
    // first session, the input tables and a warm-up job
    r.result("setup_parts") = r.setUp()
    r.result("setup_s") = (System.currentTimeMillis - o.launchedMs) / 1e3
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def mark(p: String): Unit =
      phases(p) = (System.currentTimeMillis - o.launchedMs) / 1e3
    mark("setup")
    o.workload match {
      case "ticker_report" => runBatch(r, reportCalls, reportParts)
      case "corpus_curation" => runBatch(r, corpusCalls, Nil)
      case "ticker_stream" => runStream(r)
      case "selftest" => selfTest(r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    mark("timed")
    r.perLayer("jvm.jit_s") = jitMs() / 1e3
    r.perLayer("spark.codegen_ms") = codegenMs()
    r.attach(false)
    r.result("heap_retained_mb") = heapAfterGcMb()
    mark("heap")
    r.result("per_layer") = r.perLayer.toMap
    r.result("machine") = Map(
      "nproc" -> o.nproc,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> r.spark.version,
      "jdk" -> System.getProperty("java.version"))
    r.result("oracle_sql") = SparkEntry.oracleSql.filter { case (k, _) =>
      (reportCalls ++ corpusCalls).exists(_.entry == k) || k == StreamEntry
    }
    writeJson(new File(o.work, "spans.json"), r.spans.map { s =>
      val ex = r.rec.executions.filter(e => e._2 >= s.start && e._2 <= s.end)
      Map("name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent, "job" -> s.job,
        "sql_executions" -> ex.size, "sql_execution_ms" -> ex.map(_._3).sum / 1e6)
    }.toSeq)
    mark("written")
    r.result("phases_s") = phases.toMap
    writeJson(new File(o.work, "result.json"), r.result.toMap)
    r.spark.stop()
  }

  // ---- batch workloads ----

  /** Closed loop, one client: the cold first job, then warm jobs until
    * `seconds` have passed since it ended (at least `minWarm`). A traced
    * run does three warm jobs and traces the middle one: counters come
    * from it, and its wall against the mean of the untraced jobs on
    * either side is the tracing overhead, so that a steady warm-up
    * drift cancels out. */
  def runBatch(r: Run, calls: Seq[Call], parts: Seq[Call]): Unit = {
    val o = r.o
    val jobs = ArrayBuffer[Map[String, Any]]()
    val counters = ArrayBuffer[(Boolean, Map[String, Map[String, Double]])]()
    var firstEnd = 0L
    var k = 0
    def more: Boolean =
      if (o.trace) k <= 3
      else k == 0 || k <= o.minWarm ||
        (System.nanoTime - firstEnd) < o.seconds * 1e9
    while (more) {
      val traced = o.trace && k == 2
      r.attach(traced)
      val dir = s"${o.work}/out/job-$k"
      val walls = scala.collection.mutable.LinkedHashMap[String, Double]()
      val windows = ArrayBuffer[(String, Long, Long, Double, Double)]()
      def timed(c: Call, jobWall: Boolean): Unit = {
        val ms0 = System.currentTimeMillis
        val gc0 = gcMs()
        val t0 = System.nanoTime
        writeFull(c.fn(r.spark, o.input), s"$dir/${c.entry}")
        val wall = (System.nanoTime - t0) / 1e9
        val ms1 = System.currentTimeMillis
        if (jobWall) walls(c.name) = wall
        windows += ((c.name, ms0, ms1, wall, (gcMs() - gc0) / 1e3))
        if (traced) r.spans += Span(c.name, ms0, ms1, s"job-$k", k)
      }
      val jobMs0 = System.currentTimeMillis
      val error = try {
        calls.foreach(timed(_, jobWall = true))
        None
      } catch { case NonFatal(e) => Some(e.toString) }
      val jobMs1 = System.currentTimeMillis
      if (traced && error.isEmpty) {
        // p05's parts run after the timed calls, outside the job wall
        try parts.foreach(timed(_, jobWall = false))
        catch { case NonFatal(e) => System.err.println(s"part failed: $e") }
        r.spans += Span(s"job-$k", jobMs0, jobMs1, "", k)
        r.drainBus()
        counters += ((k > 0, windows.map { case (n, a, b, w, g) =>
          n -> r.rec.window(a, b, w, g) }.toMap))
      }
      if (k == 0) firstEnd = System.nanoTime
      jobs += Map("job" -> k, "traced" -> traced,
        "wall_s" -> walls.values.sum, "calls" -> walls.toMap,
        "dir" -> dir, "error" -> error.orNull)
      k += 1
    }
    r.result("entries") = calls.map(c => c.name -> c.entry).toMap
    r.result("jobs") = jobs.toSeq
    if (o.trace) {
      val all = Seq("wall_s", "jobs", "tasks", "task_s", "busy_cores",
        "driver_s", "shuffle_mb", "spill_mb", "gc_s", "skew")
      for ((n, cs) <- calls.map(_.name -> all) ++
             parts.map(_.name -> Seq("wall_s", "jobs")); c <- cs) {
        val xs = counters.flatMap(_._2.get(n)).map(_(c)).toSeq
        if (xs.nonEmpty) r.perLayer(s"$n.$c") = median(xs)
      }
      if (parts.nonEmpty) {
        val partSum = parts.filter(_.name != "Tables.events")
          .map(p => r.perLayer.getOrElse(s"${p.name}.wall_s", Double.NaN)).sum
        r.perLayer("SignalOps.p05MonitorReport.compose_ratio") =
          r.perLayer("SignalOps.p05MonitorReport.wall_s") / partSum
      }
      val warm = jobs.drop(1).filter(_("error") == null)
      def wallOf(t: Boolean) = warm.filter(_("traced") == t)
        .map(_("wall_s").asInstanceOf[Double]).toSeq
      def mean(xs: Seq[Double]) = xs.sum / xs.size
      r.perLayer("trace.overhead_frac") =
        mean(wallOf(true)) / mean(wallOf(false)) - 1.0
    }
  }

  // ---- streaming workload ----

  def land(f: File, dir: File, mtime: Long): Unit = {
    val tmp = new File(dir.getParentFile, s".landing-${f.getName}")
    Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    tmp.setLastModified(mtime)
    Files.move(tmp.toPath, new File(dir, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").longValue

  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Drain: every slice landed first, then st02ToFileSink drains them
    * one file per trigger. */
  def drain(r: Run, slices: Seq[File], tag: String): Map[String, Any] = {
    val o = r.o
    val src = new File(o.work, s"$tag/src")
    src.mkdirs()
    val base = System.currentTimeMillis - 10 * 60 * 1000L
    slices.zipWithIndex.foreach { case (f, i) => land(f, src, base + i * 1000L) }
    r.prog.clear()
    val stream = r.spark.readStream.schema(StreamingAnomaly.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.getPath)
    val ms0 = System.currentTimeMillis
    val t0 = System.nanoTime
    val out = StreamingAnomaly.st02ToFileSink(r.spark, stream,
      s"${o.work}/$tag/sink", s"${o.work}/$tag/ckpt", StreamCfg)
    val wall = (System.nanoTime - t0) / 1e9
    val ms1 = System.currentTimeMillis
    r.drainBus()
    val data = r.prog.snapshot().filter(_._1.numInputRows > 0)
    if (r.attached) r.spans += Span(tag, ms0, ms1, "", 0)
    Map("tag" -> tag, "wall_s" -> wall, "out" -> out,
      "rows" -> data.map(_._1.numInputRows).sum,
      "batch_rows" -> data.map(_._1.numInputRows),
      "batch_s" -> data.map(p => ms(p._1, "triggerExecution") / 1e3))
  }

  /** Live: a fresh st02Transform query into a parquet sink while the
    * generator thread lands one slice every period; lag runs from each
    * slice's due time to the commit of the batch that read it. */
  def live(r: Run, slices: Seq[File]): Map[String, Any] = {
    val o = r.o
    val src = new File(o.work, "live/src")
    src.mkdirs()
    r.prog.clear()
    val stream = r.spark.readStream.schema(StreamingAnomaly.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(src.getPath)
    // st02ToFileSink sizes its state with 8 shuffle partitions unless a
    // conf says otherwise; the live query is started the same way
    val key = "spark.sql.shuffle.partitions"
    val prev = r.spark.conf.get(key)
    r.spark.conf.set(key, "8")
    val q = try StreamingAnomaly.st02Transform(r.spark, stream, StreamCfg)
      .writeStream.outputMode(OutputMode.Append).format("parquet")
      .option("path", s"${o.work}/live/sink")
      .option("checkpointLocation", s"${o.work}/live/ckpt")
      .start()
    finally r.spark.conf.set(key, prev)
    val n = math.min(o.liveSlices, slices.length)
    val t0 = System.currentTimeMillis + 500
    val due = Array.tabulate(n)(i => t0 + i * o.livePeriodMs)
    val landed = new Array[Long](n)
    val gen = new Thread(() => for (i <- 0 until n) {
      val wait = due(i) - System.currentTimeMillis
      if (wait > 0) Thread.sleep(wait)
      val now = System.currentTimeMillis
      land(slices(i), src, now)
      landed(i) = now
    })
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    r.drainBus()
    val data = r.prog.snapshot().filter(_._1.numInputRows > 0)
    Map("out" -> s"${o.work}/live/sink", "slices" -> n,
      "batch_rows" -> data.map(_._1.numInputRows),
      "batch_s" -> data.map(p => ms(p._1, "triggerExecution") / 1e3),
      "lag_s" -> data.zip(due).map { case (p, d) => (commitMs(p._1) - d) / 1e3 },
      "lateness_s" -> landed.zip(due).map { case (l, d) => (l - d) / 1e3 }.toSeq)
  }

  def runStream(r: Run): Unit = {
    val o = r.o
    val slices = new File(o.input, "slices").listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val plain = drain(r, slices, "drain")
    r.result("drain") = plain
    if (!o.trace) {
      r.result("live") = live(r, slices)
    } else {
      // untraced, traced, untraced: the traced drain is compared with
      // untraced ones on both sides of it, so JIT warm-up does not pass
      // for tracing overhead
      r.attach(true)
      val traced = drain(r, slices, "drain-traced")
      r.result("drain_traced") = traced
      val progress = r.prog.snapshot()
      r.attach(false)
      val after = drain(r, slices, "drain-after")
      r.result("drain_after") = after
      val batches = progress.filter(_._1.numInputRows > 0)
      val gcs = progress.map(_._2)
      val gcDelta = gcs.zip(gcs.headOption.toSeq ++ gcs).map { case (a, b) =>
        (a - b) / 1e3 }
      val gcOf = progress.map(_._1.batchId).zip(gcDelta).toMap
      val per = batches.map { case (p, _) =>
        val end = commitMs(p)
        val start = end - ms(p, "triggerExecution").toLong
        val w = r.rec.window(start, end, ms(p, "triggerExecution") / 1e3,
          gcOf(p.batchId))
        r.spans += Span(s"batch-${p.batchId}", start, end, "drain-traced",
          p.batchId.toInt)
        val st = p.stateOperators.headOption
        Map("addBatch_ms" -> ms(p, "addBatch"),
          "queryPlanning_ms" -> ms(p, "queryPlanning"),
          "walCommit_ms" -> ms(p, "walCommit"),
          "commitOffsets_ms" -> ms(p, "commitOffsets"),
          "latestOffset_ms" -> ms(p, "latestOffset"),
          "state_rows" -> st.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "state_mb" -> st.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
          "state_commit_ms" -> st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
          "state_removed" -> st.map(_.numRowsRemoved.toDouble).getOrElse(0.0),
          "jobs" -> w("jobs"), "tasks" -> w("tasks"),
          "shuffle_mb" -> w("shuffle_mb"), "gc_s" -> w("gc_s"),
          "busy_cores" -> w("busy_cores"))
      }
      for (c <- per.headOption.toSeq.flatMap(_.keys))
        r.perLayer(s"$StreamCall.$c") = median(per.map(_(c)))
      def batchS(d: Map[String, Any]) = d("batch_s").asInstanceOf[Seq[Double]]
      r.perLayer("trace.overhead_frac") =
        median(batchS(traced)) / median(batchS(plain) ++ batchS(after)) - 1.0
    }
  }

  // ---- self-test ----

  /** Plan traversal that descends into AQE's final plan and stages. */
  object AqePlans extends AdaptiveSparkPlanHelper

  /** The benchmark's write keeps every TickerAnomaly.report column in
    * the executed plan; the same frame's count() prunes them away (the
    * widest plan node below its aggregate is reported). */
  def selfTest(r: Run): Unit = {
    val df = TickerAnomaly.report(r.spark, r.o.input)
    val written = ArrayBuffer[Seq[String]]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        written.synchronized {
          // planned writes put WriteFilesExec (which outputs nothing)
          // between the command and the query
          written ++= AqePlans.collect(qe.executedPlan) {
            case w: WriteFilesExec => w.child.output.map(_.name)
            case w: DataWritingCommandExec
                if !w.child.isInstanceOf[WriteFilesExec] =>
              w.child.output.map(_.name)
          }
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    r.spark.listenerManager.register(l)
    writeFull(df, s"${r.o.work}/selftest/report")
    r.drainBus()
    r.spark.listenerManager.unregister(l)
    // the widest relation anywhere below count()'s aggregate
    val counted = df.groupBy().count().queryExecution.optimizedPlan
      .collectFirst { case a: Aggregate => a.child }.toSeq
      .flatMap(_.collect { case n => n.output.map(_.name) })
      .sortBy(-_.size).headOption.getOrElse(Nil)
    r.result("report_columns") = df.columns.toSeq
    r.result("write_plan_columns") = written.headOption.getOrElse(Nil)
    r.result("count_plan_columns") = counted
  }

  // ---- JSON ----

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case x => json(x.toString)
  }

  def writeJson(f: File, v: Any): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(json(v)) finally w.close()
  }
}
