package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One shared local SparkSession for the whole test JVM (sbt forks once). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** `body` once interpreted (no whole-stage, no expression codegen) and
    * once under whole-stage codegen.
    */
  def interpretedAndCodegen(body: Boolean => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val was = keys.map(k => k -> spark.conf.getOption(k))
    try {
      Seq(false -> Seq("false", "NO_CODEGEN"), true -> Seq("true", "CODEGEN_ONLY"))
        .foreach { case (codegen, vals) =>
          keys.zip(vals).foreach { case (k, v) => spark.conf.set(k, v) }
          body(codegen)
        }
    } finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rows of `df`, whose projection must run in whole-stage codegen iff
    * `codegen` (so a frame Spark would fold at optimization, such as a
    * local Seq, cannot stand in for either mode).
    */
  def collectIn(df: DataFrame, codegen: Boolean): Array[Row] = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [") == codegen, plan)
    df.collect()
  }
}
