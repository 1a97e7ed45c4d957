package slbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a rep's outputs proved: an order-independent fingerprint of
  * everything the program emitted, whether every check passed, and the
  * recall against the reference (1.0 when nothing expected is missing).
  */
final case class Verdict(fingerprint: String, ok: Boolean, recall: Double, detail: String = "")

/** One workload: seeded inputs and a reference made once in set-up, then
  * reps of the program's public calls. `run` is the only timed part.
  */
trait Workload {
  type Out
  /** Input rows one rep processes (corpus files, documents). */
  def rows: Long
  /** Writes the seeded inputs and computes the reference. */
  def setup(): Unit
  /** One rep. Traced reps force each layer under its own span. */
  def run(rep: Int, traced: Boolean): Out
  def verify(out: Out): Verdict
  /** Releases everything the rep cached or wrote. */
  def cleanup(out: Out): Unit
  /** Per-layer counters of the traced rep beyond the span totals (row
    * counts, yields, funnel counts), keyed by full metric name.
    */
  def counters: Map[String, Double]
  /** Extra traced work after the traced rep (e.g. the checkpointed run);
    * false when its own correctness check failed.
    */
  def traceExtra(): Boolean = true
}

/** One rep's measurements. `gcS` and `jitS` are the GC and JIT-compile
  * time during `run` alone, without the harness's cleanup after it.
  */
final case class RepStat(wall: Double, cpu: Double, gcS: Double, jitS: Double,
    writtenMb: Double, storedMb: Double, verdict: Verdict)

/** Runs, measures and checks one rep at a time (a closed loop with one
  * client). Every rep's fingerprint must equal the first rep's; every rep
  * is cleaned up and followed by a GC, and the local dir must not grow
  * across reps.
  */
final class Harness(spark: SparkSession, probe: Probe, localDir: String) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private val jit = ManagementFactory.getCompilationMXBean
  val attempted = mutable.ArrayBuffer.empty[RepStat]
  private var firstFingerprint: Option[String] = None
  private val dirSizes = mutable.ArrayBuffer.empty[Long]
  val problems = mutable.ArrayBuffer.empty[String]

  def rep(w: Workload, i: Int, traced: Boolean): RepStat = {
    val st = measure(w, i, traced)
    // the rep's frames are unreachable once measure() returns, so this GC
    // lets the context cleaner drop their blocks and shuffle files
    settle()
    attempted += st
    if (!st.verdict.ok) problems += s"rep $i: ${st.verdict.detail}"
    Log.info(f"rep $i%d${if (traced) " traced" else ""}: wall ${st.wall}%.3f s cpu ${st.cpu}%.2f s jit ${st.jitS}%.2f s " +
      f"written ${st.writtenMb}%.2f MB stored ${st.storedMb}%.2f MB local ${dirSizes.last / 1e6}%.1f MB ok=${st.verdict.ok}")
    st
  }

  private def measure(w: Workload, i: Int, traced: Boolean): RepStat = {
    probe.reset()
    val gc0 = gcMs
    val jit0 = jit.getTotalCompilationTime
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val result = scala.util.Try(w.run(i, traced))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    val jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    lastIdle = probe.idleSeconds(startMs, System.currentTimeMillis())
    lastTotals = probe.groupTotals
    val stored = probe.storedMb
    val verdict = result match {
      case scala.util.Success(out) =>
        val v = scala.util.Try(w.verify(out)).fold(
          e => Verdict("", ok = false, 0.0, s"verify threw: $e"), identity)
        scala.util.Try(w.cleanup(out)).failed.foreach(e => problems += s"cleanup threw: $e")
        v
      case scala.util.Failure(e) =>
        Verdict("", ok = false, 0.0, s"rep threw: $e")
    }
    RepStat(wall, cpu, gcS, jitS, lastTotals.values.map(_.writtenMb).sum, stored, sameAsFirst(verdict))
  }

  private def sameAsFirst(v: Verdict): Verdict = firstFingerprint match {
    case _ if !v.ok => v
    case None => firstFingerprint = Some(v.fingerprint); v
    case Some(f) if f == v.fingerprint => v
    case Some(f) => v.copy(ok = false, detail = s"fingerprint ${v.fingerprint} differs from the first rep's $f")
  }

  var lastIdle = 0.0
  var lastTotals: Map[String, Totals] = Map.empty

  /** Clears caches, collects garbage so the context cleaner drops dead
    * shuffle files, and records the local dir's size.
    */
  private def settle(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)
    probe.drain()
    dirSizes += Harness.duBytes(new File(localDir))
  }

  /** The local dir (shuffle files, scan scratch, checkpoints) must not
    * grow across reps: compares the size after the last rep with the size
    * after the first, allowing 16 MB of block-manager bookkeeping.
    */
  def checkLocalDir(): Unit =
    if (dirSizes.size >= 2 && dirSizes.last > dirSizes.head + (16L << 20))
      problems += f"local dir grew across reps: ${dirSizes.head / 1e6}%.1f MB -> ${dirSizes.last / 1e6}%.1f MB"

  def failed: Int = attempted.count(!_.verdict.ok)
}

object Harness {
  def duBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Host context for diagnosis only (never used to drop a sample):
    * cumulative steal ticks, the load average and this process's minor
    * faults.
    */
  def hostContext(): Map[String, Double] = {
    def read(p: String) = scala.util.Try {
      val s = scala.io.Source.fromFile(p); try s.mkString finally s.close()
    }.getOrElse("")
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(_.split("\\s+")).getOrElse(Array.empty)
    val self = read("/proc/self/stat")
    val fields = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Map(
      "steal_ticks" -> scala.util.Try(cpu(8).toDouble).getOrElse(-1.0),
      "load1" -> scala.util.Try(read("/proc/loadavg").split(" ")(0).toDouble).getOrElse(-1.0),
      "minor_faults" -> scala.util.Try(fields(7).toDouble).getOrElse(-1.0))
  }
}

object Log {
  def info(s: String): Unit = System.err.println(s"[slbench] $s")
}
