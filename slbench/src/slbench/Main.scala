package slbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (launched by run.py):
  *
  *   slbench.Main --workload <kg_build|docs_dedup> --seed <n> --seconds <s>
  *                --trace <0|1> --work <dir> --spans <file>
  *
  * Prints metric values as the last stdout line, a JSON object
  * {"correct", "attempted", "failed", "values"}; run.py attaches units
  * and checks the names against BENCHMARK.json.
  */
object Main {
  /** Workload sizes: kg_build entities (with ten corpus files per entity)
    * and docs_dedup documents. Chosen so a run, JVM start included, takes
    * about 50 s on 4 cores; see README.md for the trade-off.
    */
  val KgEntities = 1000
  val Docs = 3000
  val WarmupReps = 1
  val MinTimedReps = 2

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val local = new File(s"$work/local").getAbsolutePath
    new File(local).mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("slbench")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, probe: Probe, seed: Long, work: String,
      size: Option[Int]): Workload = name match {
    case "kg_build" =>
      val ents = size.getOrElse(KgEntities)
      new KgBuild(spark, probe, KgBuild.scaleFor(seed, ents, ents * 10), work)
    case "docs_dedup" =>
      new DocsDedup(spark, probe, new DocsGen(seed, size.getOrElse(Docs)), work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val result = runOnce(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("work"), None, spans = opts.get("spans"))
    println(result.json)
    System.exit(0)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      values: Map[String, Double], host: Map[String, Double]) {
    def json: String = {
      def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
      val vs = values.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      val hs = host.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "values": {$vs}, "host": {$hs}}"""
    }
  }

  def runOnce(name: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      size: Option[Int], minReps: Int = MinTimedReps, spans: Option[String] = None): Result = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val host0 = Harness.hostContext()
    val spark = SparkSession.getActiveSession.getOrElse(session(work))
    val probe = new Probe(spark)
    val w = workload(name, spark, probe, seed, work, size)
    val h = new Harness(spark, probe, spark.sparkContext.getConf.get("spark.local.dir"))
    val tSetup = System.currentTimeMillis()
    w.setup()
    Log.info(s"JVM start to session ${tSetup - jvmStartMs} ms, " +
      s"inputs and reference ${System.currentTimeMillis() - tSetup} ms")
    (0 until WarmupReps).foreach(i => h.rep(w, i, traced = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val values = if (!trace) {
      val t0 = System.nanoTime()
      val reps = scala.collection.mutable.ArrayBuffer.empty[RepStat]
      var i = WarmupReps
      while (reps.size < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
        reps += h.rep(w, i, traced = false); i += 1
      }
      Log.info(s"timed reps: ${reps.size}")
      Map(
        "setup_s" -> setupS,
        "rows_per_s" -> Harness.median(reps.map(r => w.rows / r.wall).toSeq),
        "cpu_s" -> Harness.median(reps.map(_.cpu).toSeq),
        "written_mb" -> Harness.median(reps.map(_.writtenMb).toSeq),
        "stored_mb" -> Harness.median(reps.map(_.storedMb).toSeq),
        "recall" -> reps.map(_.verdict.recall).min)
    } else traced(w, h, probe, name)
    h.checkLocalDir()
    spans.foreach { path =>
      new File(path).getParentFile.mkdirs()
      val out = new java.io.PrintWriter(path)
      try out.print(probe.spansJson) finally out.close()
    }
    h.problems.foreach(p => Log.info(s"FAILED: $p"))
    val host1 = Harness.hostContext()
    val host = host0.map { case (k, v) => k -> (if (k == "load1") host1(k) else host1(k) - v) }
    Result(h.problems.isEmpty, h.attempted.size, h.failed, values, host)
  }

  /** One traced rep between two untraced ones. The traced rep's spans and
    * job-group totals give the per-layer numbers. The first untraced rep
    * gives the wiring's job count and driver-idle time; the mean of the
    * two is the overhead base, which cancels the reps still speeding up
    * as the JIT warms.
    */
  private def traced(w: Workload, h: Harness, probe: Probe, name: String): Map[String, Double] = {
    val before = h.rep(w, WarmupReps, traced = false)
    val plainJobs = h.lastTotals.values.map(_.jobs).sum.toDouble
    val idle = h.lastIdle
    val spans0 = probe.spanList.size
    val tr = h.rep(w, WarmupReps + 1, traced = true)
    val totals = h.lastTotals
    val after = h.rep(w, WarmupReps + 2, traced = false)
    val base = (before.wall + after.wall) / 2
    // the harness fails the traced rep if its fingerprint differs from
    // the untraced reps'
    val spans = probe.spanList.drop(spans0)
    val layers = KgBuild.Layers ++ DocsDedup.Layers.map(l => s"dedup.$l")
    val perLayer = layers.flatMap { l =>
      val t = totals.getOrElse(l, Totals())
      Seq(s"$l.self_s" -> spans.filter(_.name == l).map(probe.selfSeconds).sum,
        s"$l.task_cpu_s" -> t.taskCpuS, s"$l.jobs" -> t.jobs.toDouble,
        s"$l.shuffle_write_mb" -> t.shuffleWriteMb, s"$l.spill_mb" -> t.spillMb,
        s"$l.rows_out" -> 0.0)
    }.toMap
    val isKg = name == "kg_build"
    val pipeline = Map(
      "pipeline.self_s" -> (if (isKg) spans.filter(_.name == "pipeline").map(probe.selfSeconds).sum else 0.0),
      "pipeline.jobs" -> (if (isKg) plainJobs else 0.0),
      "pipeline.driver_idle_s" -> (if (isKg) idle else 0.0))
    if (!w.traceExtra()) h.problems += "the traced run's extra pass failed its checks"
    val zeros = (Seq("candidates.topk_yield", "scoring.aligned_yield", "checkpoint.resume_s") ++
      KgBuild.Stages.flatMap(s => Seq(s"checkpoint.$s.write_s", s"checkpoint.$s.output_mb")) ++
      DocsDedup.Families.flatMap(f => Seq("candidate_pairs", "verified_pairs", "verify_yield",
        "dropped_buckets", "recall").map(c => s"dedup.$f.$c"))).map(_ -> 0.0).toMap
    Log.info(f"tracing overhead: traced rep ${tr.wall}%.3f s vs untraced ${before.wall}%.3f s and ${after.wall}%.3f s")
    zeros ++ perLayer ++ pipeline ++ w.counters ++ Map(
      "jvm.gc_s" -> tr.gcS,
      "jvm.jit_s" -> tr.jitS,
      "trace.overhead" -> (tr.wall / base - 1.0))
  }
}
