package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Jaro-Winkler specs: the compiled call's codegen path, its interpreted
  * path, and the SQL registration all agree with the shared scalar
  * implementation.
  */
class FunctionsSpec extends AnyFunSuite with SparkTestBase {

  private val pairs = Seq(
    ("martha", "marhta"), ("dwayne", "duane"), ("abcdef", "abxxxx"),
    ("same", "same"), ("", ""), ("a", "b"),
    ("Customer#000000001", "Customer#000000010"))

  private val want = pairs.map { case (a, b) => graft.kg.Text.jaroWinkler(a, b) }

  private def pairsDf = {
    import spark.implicits._
    spark.sparkContext.parallelize(pairs, 2).toDF("a", "b")
  }

  test("JaroWinklerExpr (codegen) equals the scalar implementation") {
    interpretedAndCodegen { codegen =>
      val got = collectIn(pairsDf.select(JaroWinkler.jaroWinkler(col("a"), col("b"))), codegen)
        .map(_.getDouble(0))
      assert(got.toSeq == want, s"codegen=$codegen")
    }
  }

  test("jaro_winkler is registered and usable from SQL") {
    JaroWinkler.register(spark)
    pairsDf.createOrReplaceTempView("jw_pairs")
    interpretedAndCodegen { codegen =>
      val got = collectIn(spark.sql("SELECT jaro_winkler(a, b) FROM jw_pairs"), codegen)
        .map(_.getDouble(0))
      assert(got.toSeq == want, s"codegen=$codegen")
    }
  }

  test("nulls propagate (BinaryExpression null-intolerant default)") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(Seq(
      (Option("x"), Option.empty[String]), (Option.empty[String], Option("x"))), 1).toDF("a", "b")
    interpretedAndCodegen { codegen =>
      val r = collectIn(df.select(JaroWinkler.jaroWinkler(col("a"), col("b"))), codegen)
      assert(r.forall(_.isNullAt(0)), s"codegen=$codegen")
    }
  }

  test("F19 vector concat: built-in concat appends feature arrays in order") {
    // SURVEY §2 F19 (LSAVectorProvider.java:54-77 analogue: the LSA vector
    // concatenated with extra feature dims) — the one §2 row that had
    // neither a query nor a spec
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.5))).toDF("a", "b")
    val got = df.select(concat(col("a"), col("b")).as("v"))
      .collect()(0).getSeq[Double](0)
    assert(got == Seq(1.0, 2.0, 3.0, 4.5))
  }
}
