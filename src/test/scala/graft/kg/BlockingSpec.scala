package graft.kg

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** J10 MinHash-LSH long-tail blocking: near-miss names are found, unrelated
  * names are not, and the Spark path agrees with the scalar band functions.
  */
class BlockingSpec extends AnyFunSuite with SparkTestBase {

  test("identical names share all band keys; near-miss shares at least one") {
    val a = Blocking.bandKeys("ada lovelace")
    val b = Blocking.bandKeys("ada lovelace")
    assert(a.toSeq == b.toSeq && a.length == Blocking.Bands)
    val near = Blocking.bandKeys("ada lxvelace")
    assert(a.intersect(near).nonEmpty, "near-miss should collide in ≥1 band")
    val far = Blocking.bandKeys("quantum tensor labs")
    assert(a.intersect(far).isEmpty)
  }

  test("jaccardShingles: identical=1, near-miss high, unrelated low") {
    assert(Blocking.jaccardShingles("ada lovelace", "ada lovelace") == 1.0)
    assert(Blocking.jaccardShingles("ada lovelace", "ada lxvelace") >= 0.5)
    assert(Blocking.jaccardShingles("ada lovelace", "quantum tensor") < 0.2)
  }

  test("fuzzyNameMatches finds the near-miss dictionary name via Spark") {
    import spark.implicits._
    val qnames = Seq(("kb:e1", "ada lovelace"), ("kb:e2", "grace hopper"))
      .toDF("entity_id", "qname")
    val dictNames = Seq("ada lxvelace", "unrelated person", "grace hoppxr")
      .toDF("name")
    val got = Blocking.fuzzyNameMatches(qnames, dictNames, 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("kb:e1", "ada lxvelace"), ("kb:e2", "grace hoppxr")))
  }

  test("hot bands are dropped by the cap; cold bands still match") {
    import spark.implicits._
    val qnames = Seq(("kb:e1", "ada lovelace")).toDF("entity_id", "qname")
    // 3 copies of the near-miss → with cap 2 its bands are hot and dropped
    val dictNames = Seq("ada lxvelace", "ada lxvelace2", "ada lxvelace3")
      .toDF("name")
    val capped = Blocking.fuzzyNameMatches(qnames, dictNames, 0.5, bandCap = 2)
      .collect()
    val uncapped = Blocking.fuzzyNameMatches(qnames, dictNames, 0.5)
      .collect()
    assert(uncapped.length >= capped.length)
    assert(uncapped.nonEmpty)
  }

  test("band occupancy on the Small dictionary leaves ample cap headroom") {
    import spark.implicits._
    val scale = CorpusGen.Small
    val dict = Dictionary.build(spark,
      Scan.mentions(Scan.products(CorpusGen.repos(spark, scale).toDF())),
      CorpusGen.accounts(spark, scale).toDF())
    val maxBand = dict.select(org.apache.spark.sql.functions.col("name")).distinct()
      .withColumn("band", org.apache.spark.sql.functions.explode(
        Blocking.bandKeysUdf(org.apache.spark.sql.functions.col("name"))))
      .groupBy("band").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(maxBand <= Blocking.BandCap / 4,
      s"max band occupancy $maxBand too close to cap ${Blocking.BandCap}")
  }

  test("pipeline end-to-end: zero-exact-candidate entity gains fuzzy candidates") {
    // build a miniature world directly: dictionary has only a near-miss name
    import spark.implicits._
    val dict = Seq(("ada lxvelace", 100L, 5L)).toDF("name", "account_id", "freq")
    val entities = Seq(Entity("kb:e1", Seq("Ada Lovelace"), Seq("Ada Lovelace"),
      "per", dead = false, "x", "")).toDF()
    val cands = CandidateGen.candidates(spark, entities, dict)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(cands == Set(("kb:e1", 100L, 5L)))
  }
}
