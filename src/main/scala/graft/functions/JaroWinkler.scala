package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Jaro-Winkler similarity (SURVEY §2.3 F4) as a compiled static call into
  * the shared scalar implementation (graft.kg.Text.jaroWinkler via
  * VectorKernels.jaroWinkler): it stays inside WholeStageCodegen with no
  * UDF serialization, while the scalar oracle runs the SAME function →
  * bitwise-identical scores. A null side gives null.
  */
object JaroWinkler {
  /** Column API: jaro_winkler(a, b) ∈ [0,1]. */
  def jaroWinkler(a: Column, b: Column): Column =
    VectorKernels.invoke("jaroWinkler", DoubleType, Seq(a, b), Seq(StringType, StringType))

  /** Register as a SQL function: SELECT jaro_winkler(a, b) ... */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("jaro_winkler",
      exprs => GraftBridge.expression(
        jaroWinkler(GraftBridge.column(exprs(0)), GraftBridge.column(exprs(1)))),
      "scala_udf")
}
