package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the public LSH band functions and the four LSH paths:
  *
  *   - minhashBands, ngramBands and embeddingBands return exactly the rows
  *     of the per-(doc, band) formulation kept here as the reference: one
  *     kernel call per doc and a posexplode in the same projection;
  *   - candidatePairs and droppedBuckets give fixed counts on the OpsSpec
  *     fixtures (the real sf0.01 documents, the sf0.1 embeddings, the
  *     low-cardinality bucket domain);
  *   - each family's LSH pairs, with their scores, equal its brute-force
  *     pairs on planted groups that collide in every band, beside
  *     non-ASCII, empty and short documents.
  */
class LshBandsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    spark.sparkContext.parallelize(rows, 3).toDF("doc_id", "text")

  /** The per-(doc, band) reference: the kernel's band array exploded in
    * the projection that computes it.
    */
  private def perDocBand(df: DataFrame, id: String, in: String, names: (String, String))(
      kernel: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    df.select(col(id), posexplode(kernel(col(in))).as(Seq(names._1, names._2)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private val oddTexts: Seq[(Long, String)] = Seq(
    1L -> "The quick brown fox jumps over the lazy dog",
    2L -> "the QUICK brown fox  jumps over the lazy cat",
    3L -> "",
    4L -> "a",
    5L -> "ab cd",
    6L -> "  \t\n ",
    7L -> "café naïve Über straße İstanbul",
    8L -> "中文 文本 中文",
    9L -> "x-y_z 123 456 789",
    10L -> "short")

  test("minhashBands and ngramBands return the per-(doc, band) rows") {
    val d = docsDf(oddTexts :+ (11L -> null))
    for ((k, lanes, bands) <- Seq((3, 16, 4), (1, 8, 2), (5, 12, 3))) {
      val mh = udf((t: String) => Dedup.shingleBandMinsOf(t, k, lanes, bands))
      val got = Dedup.minhashBands(d, k, lanes, bands)
      val ref = perDocBand(d, "doc_id", "text", ("band_id", "band_hash"))(mh)
      assert(got.schema == ref.schema)
      assert(rows(got) == rows(ref), s"minhash k=$k lanes=$lanes bands=$bands")
      assert(got.count() == 11L * bands)
    }
    for ((n, lanes, bands) <- Seq((4, 16, 4), (2, 8, 4), (6, 6, 2))) {
      val ng = udf((t: String) => Dedup.ngramBandMinsOf(t, n, lanes, bands))
      val got = Dedup.ngramBands(d, n, lanes, bands)
      val ref = perDocBand(d, "doc_id", "text", ("band_id", "band_hash"))(ng)
      assert(got.schema == ref.schema)
      assert(rows(got) == rows(ref), s"ngram n=$n lanes=$lanes bands=$bands")
    }
  }

  test("embeddingBands returns the per-(vector, table) rows") {
    val vecs = Seq(
      1L -> (0 until 64).map(i => math.sin(i * 0.7).toFloat),
      2L -> (0 until 64).map(i => -math.cos(i * 1.3).toFloat),
      3L -> Seq.empty[Float],
      4L -> Seq(1f, -2f, 3f),
      5L -> Seq.fill(64)(0f))
    val e = spark.sparkContext.parallelize(vecs, 2).toDF("vec_id", "embedding")
    for ((tables, planes) <- Seq((16, 4), (3, 9), (1, 24))) {
      val mat = Array.tabulate(tables * planes)(p => Dedup.planeVec(p, 64))
      val bits = udf((v: Seq[Float]) => Dedup.embeddingBits(v, planes, tables, 64, mat))
      val got = Dedup.embeddingBands(e, -1L, 64, tables, planes)
      val ref = perDocBand(e, "vec_id", "embedding", ("table_id", "bits"))(bits)
      assert(got.schema == ref.schema)
      assert(rows(got) == rows(ref), s"tables=$tables planes=$planes")
      assert(got.count() == 5L * tables)
    }
    // the planes come from nVec unless overridden
    val sized = Dedup.embeddingBands(e, 5000L, 64, 2)
    val mat = Array.tabulate(2 * Dedup.planesFor(5000L))(p => Dedup.planeVec(p, 64))
    val bits = udf((v: Seq[Float]) => Dedup.embeddingBits(v, Dedup.planesFor(5000L), 2, 64, mat))
    assert(rows(sized) == rows(perDocBand(e, "vec_id", "embedding", ("table_id", "bits"))(bits)))
  }

  test("candidatePairs and droppedBuckets counts on the OpsSpec fixtures") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val simBands = d.select(col("doc_id"), Dedup.simhashUdf(Dedup.tokensCol(col("text"))).as("sim"))
      .select(col("doc_id"), posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band_id", "band_hash")))
    val planes = Dedup.planesFor(2000L)
    val embBands = Dedup.embeddingBands(e, 2000L, 64, Dedup.tablesFor(planes, 0.35))
      .select(col("vec_id").as("doc_id"), col("table_id").as("band_id"), col("bits").as("band_hash"))
    val lowCard = (for (id <- 0L until 60L; t <- 0 until 3) yield (id, t, (id * id + t) % (4 + 2 * t)))
      .toDF("doc_id", "band_id", "band_hash")
    val got = Seq(
      "minhash/256" -> (Dedup.minhashBands(d), 256),
      "minhash/2" -> (Dedup.minhashBands(d), 2),
      "ngram/256" -> (Dedup.ngramBands(d), 256),
      "ngram/2" -> (Dedup.ngramBands(d), 2),
      "simhash/4096" -> (simBands, 4096),
      "simhash/3" -> (simBands, 3),
      "embedding/1024" -> (embBands, 1024),
      "embedding/16" -> (embBands, 16),
      "lowcard/15" -> (lowCard, 15)).map { case (k, (sigs, cap)) =>
      k -> (Dedup.candidatePairs(sigs, cap).count(), Dedup.droppedBuckets(sigs, cap).count())
    }
    // (distinct candidate pairs, dropped buckets), as counted before the
    // signatures were stored one row per document
    assert(got.toMap == Map(
      "minhash/256" -> (25L, 0L), "minhash/2" -> (22L, 4L),
      "ngram/256" -> (1615L, 0L), "ngram/2" -> (153L, 139L),
      "simhash/4096" -> (3378L, 0L), "simhash/3" -> (286L, 105L),
      "embedding/1024" -> (1153302L, 0L), "embedding/16" -> (23133L, 3255L),
      "lowcard/15" -> (280L, 5L)))
  }

  test("each family's LSH pairs and scores equal its brute-force pairs") {
    // groups of a 30-token cycle repeated 2, 3 or 4 times (ASCII, and
    // non-ASCII through the String fallback): equal shingle, gram and
    // token-frequency-sign sets, so every band collides; beside them two
    // empty documents (an exact-duplicate pair), short and one-token texts
    def cycle(g: Int, r: Int, word: Int => String) =
      Seq.fill(r)((0 until 30).map(word).mkString(" ")).mkString(" ")
    val groups = for (g <- 0 until 3; r <- 2 to 4) yield (g * 10L + r) -> cycle(g, r, i => s"g${g}w$i")
    val uni = for (r <- 2 to 4) yield (50L + r) -> cycle(5, r, i => s"ü${i}straße")
    val texts = groups ++ uni ++ oddTexts.map { case (id, t) => (100L + id, t) } :+ (120L -> "")
    val d = docsDf(texts)
    def triples(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    val sims = texts.map { case (id, t) => id -> Dedup.simhashScalar(Dedup.tokensOf(t).toSeq) }
    val simBrute = (for ((a, ha) <- sims; (b, hb) <- sims if a < b;
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3) yield (a, b, h: Any)).toSet

    val dir = (0 until 4).map(g => (0 until 64).map(i => math.sin(i * (0.3 + g) + g).toFloat))
    val vecs = spark.sparkContext.parallelize(for (g <- 0 until 4; (k, sc) <- Seq(0 -> 1f, 1 -> 2f, 2 -> 0.25f))
      yield (g * 10L + k, dir(g).map(_ * sc).toArray), 2).toDF("vec_id", "embedding")

    Seq(
      ("minhash", triples(Dedup.minhashNearDups(d)), triples(Dedup.minhashBrute(d))),
      ("ngram", triples(Dedup.ngramJaccard(d)), triples(Dedup.ngramBrute(d))),
      ("simhash", triples(Dedup.simhashNearDups(d)), simBrute),
      ("embedding", triples(Dedup.embeddingNearDups(vecs, 12L, threshold = 0.9)),
        triples(Dedup.embeddingBrute(vecs, 0.9)))).foreach { case (f, lsh, brute) =>
      assert(lsh == brute, s"$f: missing ${(brute -- lsh).take(5)}, extra ${(lsh -- brute).take(5)}")
      assert(brute.size >= 12, s"$f: ${brute.size} pairs")
    }
  }
}
