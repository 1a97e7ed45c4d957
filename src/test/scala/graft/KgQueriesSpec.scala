package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kg._

/** The kg queries read the corpus content once: kg_mentions and
  * kg_social_graph derive from the memoized pipeline's scan frame, so
  * their DuckDB replays check the frames the pipeline itself consumes.
  */
class KgQueriesSpec extends AnyFunSuite with SparkTestBase {

  // any dir name outside sf0.01/sf0.1 selects the Tiny scale
  private val dir = "sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.mkString("|")).sorted

  test("kg_mentions and kg_social_graph read the scan, never content") {
    KgQueries.result(spark, dir)
    for ((name, q) <- Seq("kg_mentions" -> KgQueries.mentions,
        "kg_social_graph" -> KgQueries.socialGraph)) {
      val readers = q(spark, dir).queryExecution.optimizedPlan.collect {
        case n if n.output.exists(_.name == "content") => n.nodeName
      }
      assert(readers.isEmpty, s"$name plan outputs content at: $readers")
    }
  }

  test("kg_mentions and kg_social_graph equal the frames derived from a fresh scan") {
    val scale = KgQueries.scaleFor(dir)
    val scan = Scan.products(CorpusGen.repos(spark, scale).toDF())
    val accounts = CorpusGen.accounts(spark, scale).toDF()
    val mentions = rows(Scan.mentions(scan))
    assert(mentions.nonEmpty)
    assert(rows(KgQueries.mentions(spark, dir)) == mentions)
    val edges = rows(Features.socialEdges(scan, accounts)
      .select(col("src"), col("dst"), col("freq"), round(col("w"), 6).as("w")))
    assert(edges.nonEmpty)
    assert(rows(KgQueries.socialGraph(spark, dir)) == edges)
  }
}
