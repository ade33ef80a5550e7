package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning

/** Task-level counters, summed over every task that ends. Cheap enough
  * for the untraced runs, which need task CPU for `cpu_s`; the traced run
  * reads the rest.
  */
final class TaskCounters extends SparkListener {
  private def adder() = new LongAdder
  val cpuNs, runMs, gcMs, waitMs, tasks, stages, jobs = adder()
  val inRecords, inBytes, shufWrite, shufRead, fetchWaitMs, spill = adder()
  val peakExecMem = new AtomicLong(0L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.increment()
      cpuNs.add(m.executorCpuTime)
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      // Scheduler delay plus deserialisation: the task's wall minus the
      // time it ran and serialised its result.
      waitMs.add(math.max(0L, e.taskInfo.duration - m.executorRunTime - m.resultSerializationTime))
      inRecords.add(m.inputMetrics.recordsRead)
      inBytes.add(m.inputMetrics.bytesRead)
      shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shufRead.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  def snapshot: Map[String, Double] = Map(
    "cpu_s" -> cpuNs.sum / 1e9, "run_s" -> runMs.sum / 1e3, "gc_s" -> gcMs.sum / 1e3,
    "wait_s" -> waitMs.sum / 1e3, "count" -> tasks.sum.toDouble,
    "stages" -> stages.sum.toDouble, "jobs" -> jobs.sum.toDouble,
    "scan_rows" -> inRecords.sum.toDouble, "scan_mb" -> inBytes.sum / 1e6,
    "shuffle_write_mb" -> shufWrite.sum / 1e6, "shuffle_read_mb" -> shufRead.sum / 1e6,
    "fetch_wait_s" -> fetchWaitMs.sum / 1e3, "spill_mb" -> spill.sum / 1e6)
}

object TaskCounters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** One recorded interval. `parent` is the id of the span that caused it
  * (-1 for a root); spans of one query share `query`.
  */
final case class Span(id: Int, parent: Int, query: String, name: String, startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the plan and streaming listeners of the
  * traced run. Nothing is written until [[Tracer.json]] is called at the
  * end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stageSpans = mutable.ArrayBuffer[(Long, Long)]() // (submitted, completed) in ms
  private val plan = mutable.Map[String, Double]().withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Open a span and return its id; close it with [[close]]. */
  def open(parent: Int, query: String, name: String): Int = synchronized {
    spans += Span(spans.size, parent, query, name, System.nanoTime(), -1L)
    spans.size - 1
  }
  def close(id: Int): Unit = synchronized { spans(id) = spans(id).copy(endNs = System.nanoTime()) }

  private val stageListener = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageSpans.synchronized { stageSpans += ((s, c)) }
    }
  }

  /** Walk the final (post-AQE) physical plan, stage plans and subqueries. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
      walk(qe.executedPlan) {
        case s: FileSourceScanExec =>
          acc("scan_time_s") += metric(s, "scanTime") / 1e3
        case e: ShuffleExchangeExec =>
          acc("shuffles") += 1
          if (e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]) acc("spread_exchanges") += 1
        case b: BroadcastExchangeExec =>
          acc("broadcast_mb") += metric(b, "dataSize") / 1e6
        case r: AQEShuffleReadExec =>
          if (r.isCoalescedRead) acc("aqe_coalesced") += 1
        case _ =>
      }
      walk(qe.executedPlan) { p =>
        if (!p.isInstanceOf[AdaptiveSparkPlanExec] && !p.isInstanceOf[QueryStageExec])
          acc("rows_examined") += metric(p, "numOutputRows")
      }
      plan.synchronized { acc.foreach { case (k, v) => plan(k) += v } }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(stageListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(stageListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def planSnapshot: Map[String, Double] = plan.synchronized(plan.toMap)

  /** Self time per span name: each span's duration minus the part of its
    * interval covered by its child spans; stage intervals (from the
    * listener) count as children of the innermost span they fall in.
    */
  def selfTimes: Map[String, Double] = synchronized {
    val stages = stageSpans.synchronized(stageSpans.toVector)
      .map { case (s, c) => (s * 1000000L - clockOffsetNs, c * 1000000L - clockOffsetNs) }
    val children = spans.groupBy(_.parent)
    val leafIds = spans.filter(s => !children.contains(s.id)).map(_.id).toSet
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    def covered(s: Span, kids: Seq[(Long, Long)]): Double = {
      val clipped = kids.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = -1L; var curB = -1L
      clipped.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total / 1e9
    }
    var stageSelf = 0.0
    spans.filter(_.endNs > 0).foreach { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.endNs > 0).map(k => (k.startNs, k.endNs)).toSeq
      val inner = if (leafIds(s.id)) stages.filter { case (a, b) => b > s.startNs && a < s.endNs } else Nil
      if (leafIds(s.id)) stageSelf += covered(s, inner)
      out(s.name) += s.dur - covered(s, kids ++ inner)
    }
    out("stage") += stageSelf
    out.toMap
  }

  def json: String = synchronized {
    val sb = new StringBuilder("[")
    spans.filter(_.endNs > 0).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"query":${Out.str(s.query)},"name":${Out.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("]").toString
  }
}
