package graft

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
  * Exit prints one JSON line: triple count and run()'s per-stage report
  * (Checkpoint.report: rows and wall time per stage).
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
      val stages = Checkpoint.reportJson(spark, root)
      println(s"""{"n_triples":$nTriples,"wall_sec":$wall,"n_files":$nFiles,"root":"$root","stages":$stages}""")
    } finally spark.stop()
  }
}
