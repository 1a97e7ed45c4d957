package graft.kg

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage, per-partition checkpoint + lineage table (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Reference analogue: the alignments.version work-queue states
  * (schema.sql:109-118) and the resumable gzip-JSON resolve chunks
  * (PrepareTrainingSet.java:237-287, 1041-1053).
  *
  * Design: each stage writes its output as parquet under
  * `<root>/<stage>/`; the atomic `_SUCCESS` marker written by Spark's
  * commit protocol is the resume gate — a killed run leaves no marker and
  * the stage recomputes idempotently (deterministic inputs ⇒ identical
  * output). Alongside the data, `<root>/_checkpoint/stage=<stage>/` gets
  * one row per stable hash-bucket: row count, order-independent content
  * hash (bit_xor of per-row xxhash64), and wall time. The content hash is
  * what the resume test uses to prove byte-equivalence. The sha256(content)
  * lineage set is its own stage, `lineage`, beside the `corpus` stage.
  */
object Checkpoint {

  def stageDir(root: String, stage: String): String = s"$root/$stage"

  /** Stage output is reusable only if BOTH the commit marker exists AND the
    * recorded parameter fingerprint matches the current run's — re-running
    * a root with a different scale/KgConf must recompute, not silently mix
    * configs (the _params file is written after the data commit, so a kill
    * between the two reads as "not done" and recomputes idempotently).
    */
  def isDone(spark: SparkSession, root: String, stage: String,
      params: String = ""): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val success = new org.apache.hadoop.fs.Path(stageDir(root, stage), "_SUCCESS")
    val fs = success.getFileSystem(conf)
    if (!fs.exists(success)) return false
    val pfile = new org.apache.hadoop.fs.Path(stageDir(root, stage), "_params.txt")
    if (!fs.exists(pfile)) return params.isEmpty
    val in = fs.open(pfile)
    val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    stored == params
  }

  /** Order-independent per-bucket stats of a DataFrame (64 stable buckets —
    * a stand-in for physical partitions that survives repartitioning).
    * No `stage` column: [[record]] writes the rows under a `stage=<stage>`
    * directory, and partition discovery supplies it on read.
    */
  def stats(df: DataFrame, wallMs: Long): DataFrame = {
    val rowHash = xxhash64(to_json(struct(df.columns.map(col).toSeq: _*)))
    df.select(pmod(rowHash, lit(64)).cast("int").as("part"), rowHash.as("h"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_rows"),
        bit_xor(col("h")).as("hash_agg"))
      .select(col("part"), col("n_rows"),
        col("hash_agg"), lit(wallMs).as("wall_ms"), lit("done").as("status"))
  }

  def record(spark: SparkSession, root: String, stage: String, df: DataFrame,
      wallMs: Long): Unit =
    stats(df, wallMs)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/_checkpoint/stage=$stage")

  /** Run (or resume) one stage: if `_SUCCESS` exists and the params
    * fingerprint matches, read the materialized output; else compute,
    * write, stamp params, and record checkpoint stats.
    */
  def stage(spark: SparkSession, root: String, name: String,
      partitionCols: Seq[String] = Nil, params: String = "")(
      compute: => DataFrame): DataFrame = {
    val dir = stageDir(root, name)
    if (isDone(spark, root, name, params)) {
      spark.read.parquet(dir)
    } else {
      val t0 = System.nanoTime()
      val df = compute
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir)
      if (params.nonEmpty) {
        val pfile = new org.apache.hadoop.fs.Path(dir, "_params.txt")
        val fs = pfile.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(pfile, true)
        try out.write(params.getBytes("UTF-8")) finally out.close()
      }
      val out = spark.read.parquet(dir)
      record(spark, root, name, out, (System.nanoTime() - t0) / 1000000L)
      out
    }
  }

  /** The stats rows of every recorded stage, `stage` from the partition
    * directories. The `stage=` directories are listed and read under an
    * explicit basePath: Spark treats a path named `_checkpoint` as hidden
    * and logs "All paths were ignored" when it is read directly.
    */
  def readCheckpoints(spark: SparkSession, root: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(s"$root/_checkpoint")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stages = fs.listStatus(base).filter(_.isDirectory).map(_.getPath.toString)
    spark.read.option("basePath", base.toString).parquet(stages.toSeq: _*)
  }

  /** One stage of run()'s report: its output rows and the wall time
    * [[stage]] recorded, which is computing the stage plus writing its
    * parquet.
    */
  final case class StageReport(stage: String, rows: Long, wallMs: Long)

  /** run()'s per-stage report, read from the checkpoint table under `root`
    * and ordered by stage name.
    */
  def report(spark: SparkSession, root: String): Seq[StageReport] =
    readCheckpoints(spark, root)
      .groupBy(col("stage"))
      .agg(sum(col("n_rows")).as("rows"), max(col("wall_ms")).as("wall_ms"))
      .orderBy(col("stage"))
      .collect()
      .map(r => StageReport(r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

  /** [[report]] as one JSON object keyed by stage name. */
  def reportJson(spark: SparkSession, root: String): String =
    report(spark, root)
      .map(s => s""""${s.stage}":{"rows":${s.rows},"wall_ms":${s.wallMs}}""")
      .mkString("{", ",", "}")
}
