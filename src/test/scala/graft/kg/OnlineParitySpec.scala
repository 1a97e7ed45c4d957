package graft.kg

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Online single-entity alignment parity (OnlineAlignmentsService.java:
  * 91-127, performCA/performCS): the reference serves one-entity requests
  * by running the SAME candidate + scoring logic against the prebuilt
  * index. Here the analogue is the batch DataFrame code applied to a
  * 1-row entity Dataset over the batch run's corpus-derived inputs
  * (dictionary, accounts, corpus, embeddings) — this spec pins the claimed
  * equivalence: the online rows must equal that entity's batch rows
  * BIT-EXACTLY (scores included), which holds because every corpus-derived
  * feature table (IDF model, social-graph vectors, homepage lookup) is a
  * function of corpus+accounts only, never of the entity batch.
  */
class OnlineParitySpec extends AnyFunSuite with SparkTestBase {

  private val scale = CorpusGen.Tiny

  private def row(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("entity_id"), r.getAs[Long]("account_id"),
      r.getAs[String]("screen_name"), r.getAs[Long]("freq"),
      r.getAs[Double]("score"), r.getAs[Int]("rank"),
      r.getAs[Boolean]("is_alignment"))

  test("1-entity online run equals the entity's batch rows bit-exactly") {
    val r = Pipeline.computeForScale(spark, scale)
    val batch = r.alignments.collect().map(row)
    // a served entity: has candidates and a positive batch alignment
    val entityId = batch.filter(_._7).map(_._1).min
    val one = CorpusGen.entities(spark, scale).toDF()
      .filter(col("id") === entityId)
    assert(one.count() == 1L)

    val accounts = CorpusGen.accounts(spark, scale).toDF()
    val scan = Scan.products(CorpusGen.repos(spark, scale).toDF())
    val cands1 = CandidateGen.candidates(spark, one, r.dictionary)
    val online = Scorer.score(cands1, one, accounts, scan,
        CorpusGen.accountEmbeddings(spark, scale).toDF(),
        CorpusGen.entityEmbeddings(spark, scale).toDF())
      .collect().map(row).toSet

    val want = batch.filter(_._1 == entityId).toSet
    assert(online == want,
      s"online=${online.take(3)}... batch=${want.take(3)}...")
    r.unpersist()
  }

  test("online run on a candidate-less entity abstains like the batch") {
    val r = Pipeline.computeForScale(spark, scale)
    val withRows = r.alignments.select(col("entity_id"))
      .distinct().collect().map(_.getString(0)).toSet
    val all = CorpusGen.entities(spark, scale).toDF()
      .filter(!col("dead")).select(col("id")).collect().map(_.getString(0))
    all.find(!withRows.contains(_)) match {
      case None => // every live entity has candidates at this scale
      case Some(entityId) =>
        val one = CorpusGen.entities(spark, scale).toDF()
          .filter(col("id") === entityId)
        val cands1 = CandidateGen.candidates(spark, one, r.dictionary)
        assert(cands1.isEmpty)
    }
    r.unpersist()
  }
}
