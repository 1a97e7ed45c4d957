package graft

/** Dumps the `explain("formatted")` plan that runs, for named SparkEntry
  * queries — the before/after plan evidence for a change to a query.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]"
  * writes <outDir>/<query>_<suffix>.txt per query.
  *
  * The session is `Scaling.session($SPARK_GRAFT_CPUS)`, whose configs
  * mirror graft.Bench (local[cpus], shuffle partitions = cpus, AQE on).
  * Each query runs once (`queryExecution.toRdd.count()`) before it is
  * explained, so the file holds AQE's final plan (isFinalPlan=true), with
  * its whole-stage codegen ids and the join strategies it settled on, not
  * the initial plan an unexecuted query prints.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Scaling.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      qe.toRdd.count()
      val plan = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
