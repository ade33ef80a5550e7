package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `run.py` builds it and starts it.
  *
  * Usage: graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --pins FILE --out FILE [--data DIR] [--nem DIR --nem-warm DIR] [--spans FILE]
  *
  * One run = set-up (session, warm-up pass on the workload's own inputs,
  * gate probes), then whole passes until `--seconds` have elapsed (at
  * least one). The record goes to `--out` as one JSON object.
  */
object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val a = (k: String) => arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = a("--workload")
    val seed = a("--seed").toLong
    val seconds = a("--seconds").toDouble
    val traced = a("--trace") == "1"
    val work = new File(a("--work"))
    val spans = arg(args, "--spans")
    val rec = new Record
    val cores = Runtime.getRuntime.availableProcessors
    var spark: SparkSession = null
    try {
      spark = session(workload, cores, work)
      rec.info("session_ready_s") = Out.num(uptime)
      rec.info("session") = Out.obj(("master" -> Out.str(spark.sparkContext.master)) +: Seq("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
        "spark.sql.streaming.stateStore.providerClass").map(k =>
        k -> Out.str(spark.conf.getOption(k).getOrElse(spark.sparkContext.getConf.get(k, "")))))
      val pins = new ObjectMapper().readTree(new File(a("--pins")))
      val counters = new TaskCounters
      spark.sparkContext.addSparkListener(counters)
      workload match {
        case "relational" | "curation" | "curation_dup" =>
          val (names, tables) = workload match {
            case "relational" => (Registry.relational, graft.Tables.all)
            case _ => (Registry.curation, Seq("documents", "embeddings"))
          }
          // The input directory's name is its section in the pins file.
          val dir = a("--data")
          runRegistry(spark, new Registry(spark, dir, tables, pins, new File(dir).getName, counters, rec),
            names, seed, seconds, traced, counters, rec, spans)
        case "nem_week" =>
          runNem(spark, a("--nem"), a("--nem-warm"), work, seconds, traced, counters, rec, spans)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        rec.check("run", ok = false, e.toString)
    } finally {
      rec.e2e("peak_mem_mb") = Memory.retainedHeapMb + Memory.offHeapPeakMb
      rec.info("memory_mb") = Out.nums(Seq("retained_heap_peak" -> Memory.retainedHeapMb,
        "off_heap_peak" -> Memory.offHeapPeakMb, "vm_hwm" -> Memory.vmHwmMb))
      Out.write(a("--out"), rec.json)
      if (spark != null) spark.stop()
    }
  }

  def session(workload: String, cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    if (workload == "nem_week")
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Layer metrics every workload has, per traced pass: task totals from
    * the listener, rollups of the final physical plans, and self time per
    * layer (span names grouped by prefix: `etl.csv_write` counts as `etl`).
    */
  private def commonLayers(L: mutable.Map[String, Double], t: Tracer, tasks: Seq[Map[String, Double]],
      counters: TaskCounters): Unit = {
    val n = tasks.size.toDouble
    def task(k: String) = tasks.map(_(k)).sum / n
    val plan = t.planSnapshot
    def planned(k: String) = plan.getOrElse(k, 0.0) / n
    Seq("cpu_s", "run_s", "gc_s", "wait_s", "count", "stages").foreach(k => L(s"tasks.$k") = task(k))
    Seq("scan_rows", "scan_mb").foreach(k => L(s"Tables.$k") = task(k))
    Seq("scan_time_s", "spread_exchanges").foreach(k => L(s"Tables.$k") = planned(k))
    Seq("shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s").foreach(k => L(s"exchange.$k") = task(k))
    Seq("shuffles", "broadcast_mb", "aqe_coalesced").foreach(k => L(s"exchange.$k") = planned(k))
    L("ops.spill_mb") = task("spill_mb")
    L("ops.peak_exec_mem_mb") = counters.peakExecMem.get / 1e6
    t.selfTimes.groupMapReduce(_._1.takeWhile(_ != '.'))(_._2)(_ + _)
      .foreach { case (k, v) => L(s"self.${k}_s") = v / n }
  }

  /** Seconds since this JVM started. */
  private def uptime: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def drain(spark: SparkSession): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  private def runRegistry(spark: SparkSession, reg: Registry, names: Seq[String], seed: Long,
      seconds: Double, traced: Boolean, counters: TaskCounters, rec: Record,
      spans: Option[String]): Unit = {
    final case class Pass(queries: Seq[Registry.QueryRun], input: Double, inputRows: Long,
        tasks: Map[String, Double])
    val rng = new Random(seed)
    // The input stage runs before the task snapshot and outside the
    // tracer, so `cpu_s` and every layer metric cover the same queries
    // as `pass_s`.
    def pass(tracer: Option[Tracer]): Pass = {
      val (input, rows) = reg.inputStage()
      drain(spark)
      val before = counters.snapshot
      tracer.foreach(_.attach())
      val runs = rng.shuffle(names).map(n => reg.runQuery(n, tracer))
      drain(spark)
      tracer.foreach(_.detach())
      Pass(runs, input, rows, TaskCounters.delta(counters.snapshot, before))
    }
    // Set-up: the warm-up pass (its results are checked too) and the gate probes.
    pass(None)
    rec.info("warmup_done_s") = Out.num(uptime)
    reg.probes()
    rec.e2e("setup_s") = uptime
    val tracer = if (traced) Some(new Tracer(spark)) else None
    // Traced run: untraced passes before and after the traced ones are the
    // reference for the tracing overhead (passes still speed up slightly
    // after warm-up, so one side alone would bias it).
    val untraced = if (traced) Some(pass(None)) else None
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[Pass]()
    do passes += pass(tracer) while ((System.nanoTime() - t0) / 1e9 < seconds)
    val untracedAfter = if (traced) Some(pass(None)) else None
    val walls = passes.map(_.queries.map(_.wall).sum).toSeq
    rec.e2e("pass_s") = Out.median(walls)
    rec.e2e("cpu_s") = Out.median(passes.map(_.tasks("cpu_s")).toSeq)
    rec.e2e("etl_s") = Out.median(passes.map(_.input).toSeq)
    rec.e2e("stream_events_per_s") = Out.median(passes.map(p => p.inputRows / p.input).toSeq)
    val qWalls = passes.flatMap(_.queries.map(_.wall * 1e3)).toSeq
    rec.e2e("batch_p50_ms") = Out.percentile(qWalls, 0.5)
    rec.e2e("batch_p90_ms") = Out.percentile(qWalls, 0.9)
    rec.info("passes") = passes.size.toString
    rec.info("queries_per_pass") = names.size.toString
    rec.info("measure_s") = Out.num((System.nanoTime() - t0) / 1e9)
    rec.info("query_walls") = Out.nums(passes.last.queries.map(q => q.name -> q.wall))
    tracer.foreach { t =>
      val n = passes.size.toDouble
      def perPass(f: Pass => Double) = passes.map(f).sum / n
      val L = rec.layer
      commonLayers(L, t, passes.map(_.tasks).toSeq, counters)
      L("ops.build_s") = perPass(_.queries.map(_.build).sum)
      L("ops.build_jobs") = perPass(_.queries.map(_.buildJobs.toDouble).sum)
      L("plan.time_s") = perPass(_.queries.map(_.plan).sum)
      L("exec.time_s") = perPass(_.queries.map(_.exec).sum)
      val rowsOut = perPass(_.queries.map(_.rowsOut.toDouble).sum)
      L("ops.rows_examined_per_row_out") =
        if (rowsOut > 0) t.planSnapshot.getOrElse("rows_examined", 0.0) / n / rowsOut else 0.0
      val ref = Out.mean((untraced.toSeq ++ untracedAfter).map(_.queries.map(_.wall).sum))
      L("trace.overhead_frac") = Out.median(walls) / ref - 1.0
      reg.kernels()
      reg.selfTest()
      spans.foreach(Out.write(_, t.json))
    }
  }

  private def runNem(spark: SparkSession, raw: String, warmRaw: String, work: File, seconds: Double,
      traced: Boolean, counters: TaskCounters, rec: Record, spans: Option[String]): Unit = {
    val mapper = new ObjectMapper()
    var passNo = 0
    final case class Pass(etl: NemWeek.Etl, stream: NemWeek.Stream, tasks: Map[String, Double], tag: String)
    def pass(raw: String, split: Boolean, tracer: Option[Tracer] = None): Pass = {
      val manifest: JsonNode = mapper.readTree(new File(raw, "manifest.json"))
      val dir = new File(work, s"nem_pass_$passNo")
      val tag = s"p$passNo"
      passNo += 1
      drain(spark)
      val before = counters.snapshot
      val trace = tracer.map(t => NemWeek.Trace(t, t.open(-1, "nem_week", "pass")))
      val etl = NemWeek.etl(spark, raw, dir, manifest.get("start_epoch_s").asLong, split, trace)
      val st = NemWeek.stream(spark, etl, dir, tag, trace)
      trace.foreach(t => t.tracer.close(t.root))
      drain(spark)
      val tasks = TaskCounters.delta(counters.snapshot, before)
      rec.check("nem_week.staged_events", etl.events == manifest.get("events").asLong,
        s"staged ${etl.events}, expected ${manifest.get("events").asLong}")
      Memory.sampleRetained()
      spark.catalog.clearCache()
      System.gc()
      Pass(etl, st, tasks, tag)
    }
    // Set-up: the whole pipeline once on the full fleet over one hour, so
    // every plan (the pivot is as wide as the fleet) is compiled before
    // the timed passes.
    pass(warmRaw, split = false)
    rec.e2e("setup_s") = uptime
    rec.info("warmup_done_s") = Out.num(uptime)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val untraced = if (traced) Some(pass(raw, split = false)) else None
    tracer.foreach(_.attach())
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[Pass]()
    do passes += pass(raw, split = traced, tracer) while ((System.nanoTime() - t0) / 1e9 < seconds)
    tracer.foreach(_.detach())
    val untracedAfter = if (traced) Some(pass(raw, split = false)) else None
    // Full-size correctness, after the timed spans: the last pass's views.
    NemWeek.check(spark, passes.last.etl, passes.last.tag, rec)
    def med(f: Pass => Double) = Out.median(passes.map(f).toSeq)
    rec.e2e("pass_s") = med(p => p.etl.wall + p.stream.wall)
    rec.e2e("cpu_s") = med(_.tasks("cpu_s"))
    rec.e2e("etl_s") = med(_.etl.wall)
    rec.e2e("stream_events_per_s") = med(p => p.stream.events / p.stream.wall)
    val batches = passes.flatMap(_.stream.batchMs).toSeq
    rec.e2e("batch_p50_ms") = Out.percentile(batches, 0.5)
    rec.e2e("batch_p90_ms") = Out.percentile(batches, 0.9)
    rec.info("passes") = passes.size.toString
    rec.info("events_per_pass") = passes.head.etl.events.toString
    rec.info("measure_s") = Out.num((System.nanoTime() - t0) / 1e9)
    rec.info("stream_s") = Out.num(passes.last.stream.wall)
    rec.info("etl_stages") = Out.nums(passes.last.etl.stages)
    tracer.foreach { t =>
      val L = rec.layer
      val n = passes.size.toDouble
      def perPass(f: Pass => Double) = passes.map(f).sum / n
      def stage(k: String) = perPass(_.etl.stages.find(_._1 == k).map(_._2).getOrElse(0.0))
      L("etl.catalog_s") = stage("catalog")
      L("etl.readings_s") = stage("readings")
      L("etl.pivot_s") = stage("pivot")
      L("etl.input_mb") = passes.head.etl.inputMb
      L("sources.csv_write_s") = stage("csv_write")
      L("sources.csv_read_s") = stage("csv_read")
      L("sources.cache_mb") = passes.head.etl.cacheMb
      L("stream.melt_stage_s") = stage("melt_stage")
      commonLayers(L, t, passes.map(_.tasks).toSeq, counters)
      val prog = t.progress.synchronized(t.progress.map(_.progress).toSeq).filter(_.numInputRows > 0)
      def dur(k: String) = if (prog.isEmpty) 0.0 else Out.mean(prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      L("stream.planning_ms") = dur("queryPlanning")
      L("stream.add_batch_ms") = dur("addBatch")
      L("stream.wal_commit_ms") = dur("walCommit")
      L("stream.offsets_commit_ms") = dur("commitOffsets")
      val ops = prog.flatMap(_.stateOperators.toSeq)
      L("stream.state_commit_ms") = if (ops.isEmpty) 0.0 else Out.mean(ops.map(_.commitTimeMs.toDouble))
      val lastOps = passes.last.stream.progress.groupBy(_.id).values.map(_.last).flatMap(_.stateOperators.toSeq)
      L("stream.state_rows") = lastOps.map(_.numRowsTotal.toDouble).sum
      L("stream.state_mem_mb") = lastOps.map(_.memoryUsedBytes / 1e6).sum
      L("stream.rows_dropped_late") = perPass(_.stream.progress.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark.toDouble).sum)
      L("stream.batches") = perPass(_.stream.batchMs.size.toDouble)
      L("trace.overhead_frac") = med(p => p.etl.wall + p.stream.wall) /
        Out.mean((untraced.toSeq ++ untracedAfter).map(p => p.etl.wall + p.stream.wall)) - 1.0
      spans.foreach(Out.write(_, t.json))
    }
  }
}
