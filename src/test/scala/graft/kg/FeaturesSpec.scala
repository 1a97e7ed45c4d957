package graft.kg

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Feature-table specs: TF-IDF text vectors, social graph, identifier
  * splitting — hand-computed expectations plus cross-implementation
  * equalities.
  */
class FeaturesSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  test("splitName unifies camel, snake, and spaced display forms") {
    assert(Text.splitName("AdaLovelace") == "ada lovelace")
    assert(Text.splitName("ada_lovelace") == "ada lovelace")
    assert(Text.splitName("Ada Lovelace") == "ada lovelace")
    assert(Text.splitName("QuantumVectorSystems") == "quantum vector systems")
    assert(Text.splitName("Barbara2Evelyn") == "barbara2 evelyn")
    assert(Text.splitName("ADA LOVELACE") == "ada lovelace")
  }

  test("textCosCol equals a hand-computed TF-IDF cosine") {
    // hash-keyed entries, sorted ascending (the vectorize layout)
    val e = Seq((1L, Seq((10L, 2.0), (20L, 1.0)), math.sqrt(5.0)))
      .toDF("entity_id", "e_tvec", "e_tnorm")
    val a = Seq((1L, Seq((20L, 3.0), (30L, 4.0)), 5.0))
      .toDF("entity_id", "a_tvec", "a_tnorm")
    val got = e.join(a, Seq("entity_id"))
      .select(graft.functions.VectorKernels.textCosine(col("e_tvec"), col("e_tnorm"),
        col("a_tvec"), col("a_tnorm")).as("cos"))
      .collect()(0).getDouble(0)
    val want = (1.0 * 3.0) / (math.sqrt(5.0) * 5.0)
    assert(math.abs(got - want) < 1e-12)
  }

  test("social edges: min-freq filter and per-src normalized weights sum to 1") {
    val scale = CorpusGen.Tiny
    val edges = Features.socialEdges(Scan.products(CorpusGen.repos(spark, scale).toDF()),
      CorpusGen.accounts(spark, scale).toDF())
    assert(edges.filter(col("freq") < 2).count() == 0)
    val sums = edges.groupBy(col("src")).agg(sum(col("w")).as("s"))
      .filter(abs(col("s") - 1.0) > 1e-9)
    assert(sums.count() == 0)
    assert(edges.count() > 0)
  }

  test("sgVectors: weighted followee average matches a hand computation") {
    val edges = Seq((1L, 10L, 3L, 0.75), (1L, 20L, 1L, 0.25))
      .toDF("src", "dst", "freq", "w")
    val emb = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)))
      .toDF("accountId", "vec")
    val got = Features.sgVectors(edges, emb, dim = 2)
      .collect()(0).getSeq[Double](1)
    assert(got == Seq(0.75, 0.25))
  }

  test("typed BowMerge account BOW equals the flat hash-aggregate counts") {
    val scale = CorpusGen.Tiny
    val repos = CorpusGen.repos(spark, scale).toDF()
    val accounts = CorpusGen.accounts(spark, scale).toDF()
    // the flat aggregate is keyed by token HASH (hash-at-extraction);
    // hashing the typed string-keyed bow and merging must reproduce it
    val flat = Features.accountTokenCounts(Scan.products(repos), accounts)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val typed = Features.accountBow(repos, accounts)
      .collect().flatMap { case (id, bow) =>
        bow.toSeq
          .groupMapReduce { case (t, _) => (id, graft.ops.Dedup.xxLane(0, t)) }(_._2)(_ + _)
      }
      .toMap
    assert(typed == flat)
  }

  test("topic-biased mentions make the co-mention graph assortative") {
    // same-topic edge mass should clearly exceed the 1/12 random baseline —
    // this is the signal the sg_cos feature relies on
    val scale = CorpusGen.Small
    val edges = Features.socialEdges(Scan.products(CorpusGen.repos(spark, scale).toDF()),
      CorpusGen.accounts(spark, scale).toDF())
      .collect()
    val same = edges.iterator.map { r =>
      val src = r.getLong(0) - 100000L
      val dst = r.getLong(1) - 100000L
      val f = r.getLong(2)
      (if (CorpusGen.accountTopic(src, scale) == CorpusGen.accountTopic(dst, scale)) f else 0L, f)
    }.toSeq
    val ratio = same.map(_._1).sum.toDouble / same.map(_._2).sum
    assert(ratio > 0.25, s"same-topic edge mass ratio $ratio (random would be ~0.083)")
  }
}
