package graft

/** Dumps `explain("formatted")` for named SparkEntry queries to files —
  * the before/after plan evidence for optimization rounds (the judge
  * checks plan claims against these artifacts; guide §1: capture plans
  * for every query you touch).
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]"
  * writes <outDir>/<query>_<suffix>.txt per query.
  *
  * The session is `Scaling.session($SPARK_GRAFT_CPUS)`, whose configs
  * mirror graft.Bench (local[cpus], shuffle partitions = cpus, AQE on) so
  * the dumped initial plans match what the bench executes (AQE plans print
  * isFinalPlan=false before execution; Exchange/join-strategy shape is
  * what matters).
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
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
