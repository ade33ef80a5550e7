package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** JSON output helpers and the run record the harness hands back. */
object Out {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def nums(m: Iterable[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, s)
  }
}

/** Memory the program holds, as opposed to what the fixed, pre-touched
  * heap occupies: the largest heap still in use after a full collection
  * at the end of a query or pass, before the reset drops the library's
  * caches (what it retains: registries, memos, cached plans), plus the
  * peak resident memory outside the heap (VmHWM minus the committed heap,
  * exact because `run.py` pre-touches the whole heap). Transient
  * allocation inside a query is not counted: a peak of the heap after
  * young collections depends on when they happen to run.
  */
object Memory {
  private val MiB = 1024.0 * 1024.0
  private val heap = ManagementFactory.getMemoryMXBean
  @volatile private var peakRetained = 0L

  /** Collect, then record the heap still in use. Call outside timed spans. */
  def sampleRetained(): Unit = {
    System.gc()
    peakRetained = math.max(peakRetained, heap.getHeapMemoryUsage.getUsed)
  }

  def retainedHeapMb: Double = peakRetained / MiB

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def offHeapPeakMb: Double = math.max(0.0, vmHwmMb - heap.getHeapMemoryUsage.getCommitted / MiB)
}

/** What one run measured: metric values, correctness tallies, and
  * evidence (gate probes, failures, environment) for the record.
  */
final class Record {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$what: $detail".take(600) }
    ok
  }

  def json: String = Out.obj(Seq(
    "correct" -> (failed == 0).toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "e2e" -> Out.nums(e2e),
    "layer" -> Out.nums(layer),
    "info" -> Out.obj(info),
    "failures" -> failures.map(Out.str).mkString("[", ",", "]")))
}
