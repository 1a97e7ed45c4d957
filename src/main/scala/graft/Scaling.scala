package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.kg._

/** The KG pipeline's measurement entrypoint and its one session factory.
  *
  * Scaling efficiency (target ≥0.8 between N and 4N cores) is
  * (T_N / T_4N) / 4 on the identical corpus. `once` times one level in its
  * own JVM; `tools/scaling_pinned.sh` runs it at N and 4N, each level
  * pinned to its cores. `cluster` is the same protocol spark-submitted
  * against a standalone cluster (`tools/cluster_scaling.sh`). `jobs`
  * lists one run's scheduler jobs, and `stages` prints run()'s per-stage
  * report (Checkpoint.report). `once`, `cluster` and `stages` print one
  * JSON line; `jobs` prints one line per job and a total.
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

  /** One timed compute() run of the pipeline at `scale` on `spark`;
    * returns (wallSec, nTriples, nJobs). nJobs is the scheduler job count:
    * each job is one scheduling round-trip, so the count is the direct measure
    * of the per-run fixed-overhead floor that eager probes, checkpoints and
    * commit protocols add (it does not shrink as data grows, unlike stage
    * work). With `audit`, each job also prints one `[jobs]` line (start
    * offset, wall, callsite), so that floor is attributable to code.
    *
    * The listener stays on the session: the bus delivers events
    * asynchronously, and removing it could drop the last jobs' lines;
    * `spark.stop()` delivers them.
    */
  def timedRun(spark: SparkSession, scale: CorpusGen.Scale,
      audit: Boolean = false): (Double, Long, Int) = {
    val t0 = System.nanoTime()
    val jobs = new AtomicInteger(0)
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (audit) {
          val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), site))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.get(j.jobId)).foreach { case (ts, site) =>
          println(f"[jobs] #${j.jobId}%-3d +${(ts - t0) / 1e9}%7.1fs ${(System.nanoTime() - ts) / 1e9}%7.2fs  $site")
        }
    })
    val r = Pipeline.computeForScale(spark, scale)
    val n = r.triples.count()
    val res = ((System.nanoTime() - t0) / 1e9, n, jobs.get())
    // release caches AND the run's scratch parquet, outside the timed
    // window: without this every repeat leaks a multi-GB UUID scratch dir
    // into spark.local.dir — on the tmpfs local dir that rent comes
    // straight out of guest RAM, and a multi-repeat 8M-file invocation
    // exhausts it
    r.unpersist()
    res
  }

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: Int): Int = args.lift(i).map(_.toInt).getOrElse(default)
    val repeats = sys.env.getOrElse("SCALING_RUNS", "2").toInt
    args.headOption match {
      // one configuration, one JVM — for CPU-PINNED cluster-size emulation
      // (tools/scaling_pinned.sh runs each N-vs-4N level this way):
      // `taskset -c 0-(N-1) sbt "runMain graft.Scaling once N files"` gives
      // the local[N] run exactly N cores of CPU, GC, JIT, and memory
      // bandwidth, the faithful stand-in for an N-core cluster slice. That is
      // why no mode runs both levels in one unpinned JVM: there local[N]
      // borrows the host's idle cores for GC/JIT, deflating T_N and
      // understating efficiency.
      // Warm-up run first, a fresh session per run; min of SCALING_RUNS
      // repeats printed as one JSON line.
      case Some("once") =>
        val cores = arg(1, 16)
        val nFiles = arg(2, 2000000)
        def fresh(scale: CorpusGen.Scale): (Double, Long, Int) = {
          val spark = session(cores)
          try timedRun(spark, scale) finally spark.stop()
        }
        fresh(CorpusGen.Small) // JIT + codegen warm-up
        val runs = (1 to repeats).map(_ => fresh(CorpusGen.benchAt(nFiles)))
        val (t, n, jobs) = runs.minBy(_._1)
        println(s"""{"mode":"once","cores":$cores,"n_files":$nFiles,"sec":$t,"n_triples":$n,"n_jobs":$jobs,"runs":${runs.map(_._1).mkString("[", ",", "]")}}""")
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
      case Some("cluster") =>
        val nFiles = arg(1, 2000000)
        val spark = submitted("graft-scaling-cluster")
        timedRun(spark, CorpusGen.Small)
        val runs = (1 to repeats).map(_ => timedRun(spark, CorpusGen.benchAt(nFiles)))
        val (t, n, _) = runs.minBy(_._1)
        require(runs.map(_._2).distinct.size == 1,
          s"nondeterministic across repeats: ${runs.map(_._2)}")
        val execs = spark.sparkContext.statusTracker.getExecutorInfos.length - 1
        val cores = spark.sparkContext.defaultParallelism
        println(s"""{"mode":"cluster","executors":$execs,"total_cores":$cores,"n_files":$nFiles,"sec":$t,"n_triples":$n,"runs":${runs.map(_._1).mkString("[", ",", "]")}}""")
        spark.stop()
      // same operand order as `stages`: jobs <nFiles> <cores>
      case Some("jobs") =>
        val nFiles = arg(1, 2000000)
        val spark = session(arg(2, 16))
        try {
          val (t, n, _) = timedRun(spark, CorpusGen.benchAt(nFiles), audit = true)
          println(f"[jobs] total wall $t%.1f s, $n triples")
        } finally spark.stop()
      // run()'s per-stage report (Checkpoint.report) at one parallelism
      // level, into a fresh root that is deleted afterwards; `skew` runs
      // the heavy-celebrity corpus
      case Some("stages") =>
        val nFiles = arg(1, 2000000)
        val cores = arg(2, 16)
        val scale = if (args.lift(3).contains("skew")) CorpusGen.skewAt(nFiles)
          else CorpusGen.benchAt(nFiles)
        val spark = session(cores)
        val root = new org.apache.hadoop.fs.Path(
          spark.sparkContext.getConf.get("spark.local.dir").split(",").head,
          s"graft-stages-${java.util.UUID.randomUUID()}")
        try {
          val n = Pipeline.run(spark, scale, root.toString).triples.count()
          println(s"""{"mode":"stages","cores":$cores,"n_files":$nFiles,"scale":"${scale.name}","n_triples":$n,"stages":${Checkpoint.reportJson(spark, root.toString)}}""")
        } finally {
          root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
          spark.stop()
        }
      case _ =>
        System.err.println("usage: graft.Scaling once <cores> <nFiles> | cluster <nFiles>" +
          " | jobs <nFiles> <cores> | stages <nFiles> <cores> [skew]")
        sys.exit(2)
    }
  }
}
