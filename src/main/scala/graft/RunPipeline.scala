package graft

import org.apache.spark.sql.functions._
import graft.kg._

/** The spark-submit entrypoint of the KG pipeline (north rule: "resumable
  * from checkpoint with per-partition lineage + metrics, run via
  * spark-submit"):
  *
  *   spark-submit --class graft.RunPipeline <jar> <outputRoot> [nFiles]
  *
  * The master/executor topology comes from the submit command
  * (Scaling.submitted sets no master when spark-submit provides one; a
  * bare `sbt runMain` falls back to Scaling.session over every core).
  * Every stage materializes under `<outputRoot>/<stage>/` behind Spark's
  * atomic `_SUCCESS` commit marker plus a parameter fingerprint, so
  * re-submitting the same command after a kill resumes from the first incomplete stage and reproduces
  * byte-identical output (CheckpointSpec proves kill/resume equality).
  * Exit prints one JSON line: triple count, per-stage wall + row counts
  * from the lineage/checkpoint table.
  */
object RunPipeline {

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      sys.error("usage: RunPipeline <outputRoot> [nFiles]"))
    val nFiles = args.lift(1).map(_.toInt).getOrElse(300000)
    val spark = sys.props.get("spark.master")
      .fold(Scaling.session(Runtime.getRuntime.availableProcessors))(
        _ => Scaling.submitted("graft-kg-pipeline"))
    try {
      val t0 = System.nanoTime()
      val result = Pipeline.run(spark, CorpusGen.benchAt(nFiles), root)
      val nTriples = result.triples.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val stages = Checkpoint.readCheckpoints(spark, root)
        .groupBy(col("stage"))
        .agg(sum(col("n_rows")).as("rows"), max(col("wall_ms")).as("wall_ms"))
        .orderBy(col("stage"))
        .collect()
        .map(r => s""""${r.getString(0)}":{"rows":${r.getLong(1)},"wall_ms":${r.getLong(2)}}""")
        .mkString("{", ",", "}")
      println(s"""{"n_triples":$nTriples,"wall_sec":$wall,"n_files":$nFiles,"root":"$root","stages":$stages}""")
    } finally spark.stop()
  }
}
