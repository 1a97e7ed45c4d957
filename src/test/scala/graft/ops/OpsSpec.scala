package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup / similarity / text-analysis operator specs with planted inputs. */
class OpsSpec extends AnyFunSuite with SparkTestBase {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    val d = docsDf(Seq(1L -> "aa bb cc", 2L -> "aa bb cc", 3L -> "zz"))
    val r = Dedup.exact(d).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(r == Set((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds near-duplicates, not unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val far = (100 to 140).map(i => s"other$i").mkString(" ")
    val pairs = Dedup.minhashNearDups(docsDf(Seq(1L -> base, 2L -> near, 3L -> far)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash finds near-duplicates within hamming distance") {
    // construct a provably-near pair: search deterministic perturbations
    // until hamming ≤ 3 (pigeonhole: ≤3 bit flips always leave one of the
    // 4 16-bit bands intact, so LSH banding MUST surface the pair)
    val baseTokens = (1 to 60).map(i => s"tok$i")
    val base = baseTokens.mkString(" ")
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val h0 = Dedup.simhashScalar(baseTokens)
    val near = (0 until 200).iterator
      .map(k => baseTokens :+ s"pad$k")
      .find(t => ham(Dedup.simhashScalar(t), h0) <= 3)
      .map(_.mkString(" ")).get
    val far = (200 to 260).map(i => s"other$i").mkString(" ")
    assert(ham(Dedup.simhashScalar(far.split(" ").toSeq), h0) > 3)
    val pairs = Dedup.simhashNearDups(docsDf(Seq(1L -> base, 2L -> near, 3L -> far)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash LSH equals the all-pairs Hamming ≤ 3 set on real sf0.01 docs") {
    // 4 × 16-bit bands: ≤ 3 differing bits leave one band intact, so when no
    // bucket reaches the cap the banding is exact, not just high-recall
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val sims = d.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Dedup.simhashScalar(Dedup.tokensOf(r.getString(1)).toSeq))
    val expected = (for {
      (a, ha) <- sims; (b, hb) <- sims if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simhashNearDups(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty)
    assert(got == expected, s"missing ${(expected -- got).take(5)}, extra ${(got -- expected).take(5)}")
  }

  test("ngram jaccard finds shifted near-duplicate text") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base + " x"
    val far = "completely different content with nothing shared whatsoever here"
    val pairs = Dedup.ngramJaccard(docsDf(Seq(1L -> base, 2L -> near, 3L -> far)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("compiled minhash kernel is bit-exact vs an independent BigInt replay") {
    // the kernel's Long-wraparound FNV-1a + splitmix64 + unsigned-min must
    // reproduce an arbitrary-precision mod-2⁶⁴ formulation (the same one the
    // DuckDB oracle replays in HUGEINT), or the banding silently changes
    val M = BigInt(1) << 64
    def fnvB(s: String): BigInt =
      s.foldLeft(BigInt("cbf29ce484222325", 16)) { (h, c) =>
        (h ^ BigInt(c.toInt)) * BigInt("100000001b3", 16) % M
      }
    def mixB(x0: BigInt): BigInt = {
      var x = (x0 + BigInt("9e3779b97f4a7c15", 16)) % M
      x = (x ^ (x >> 30)) * BigInt("bf58476d1ce4e5b9", 16) % M
      x = (x ^ (x >> 27)) * BigInt("94d049bb133111eb", 16) % M
      x ^ (x >> 31)
    }
    def toSigned(b: BigInt): Long = (if (b >= (BigInt(1) << 63)) b - M else b).toLong
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "short",
      3L -> "a b c d e f g h i j k l m n o p q r s t u v w x y z",
      4L -> "Mixed CASE and 123 numbers\t with\nwhitespace   runs")
    val lanes = 16; val bands = 4; val rows = lanes / bands
    val expected = texts.flatMap { case (id, text) =>
      val shingles = Dedup.tokenShingles(Dedup.tokensOf(text), 3)
      val mins = Array.tabulate(lanes) { l =>
        val lc = (BigInt(l + 1) * BigInt("9e3779b97f4a7c15", 16)) % M
        shingles.map(s => mixB(fnvB(s) ^ lc)).min // BigInt min == unsigned min
      }
      (0 until bands).map(b =>
        (id, b, mins.slice(b * rows, (b + 1) * rows).map(toSigned).toSeq))
    }.toSet
    val kernel = Dedup.minhashBands(docsDf(texts), 3, lanes, bands)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSet
    assert(kernel == expected)
  }

  test("minhash LSH recall vs brute force on real sf0.01 docs") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val lsh = Dedup.minhashNearDups(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.minhashBrute(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), s"LSH produced non-pairs: ${lsh -- brute}")
    val recall = lsh.size.toDouble / brute.size
    // 16 lanes / 4 bands: P(collide | j=0.9) ≈ 0.986 — one planted pair at
    // j=0.90 exactly is a known banding miss on this corpus (24/25)
    assert(recall >= 0.95, s"recall $recall (${lsh.size}/${brute.size})")
  }

  test("ngram LSH equals brute force exactly on real sf0.01 docs") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val lsh = Dedup.ngramJaccard(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Dedup.ngramBrute(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == brute)
  }

  test("embedding LSH recall ≥ 0.9 vs brute force at sf0.1") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val lsh = Dedup.embeddingNearDups(e, nVec = 2000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.embeddingBrute(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), s"LSH produced non-pairs: ${(lsh -- brute).take(5)}")
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${brute.size})")
  }

  test("exact pre-pass expands pairs across identical-doc groups") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val d = docsDf(Seq(1L -> base, 2L -> base, 3L -> base, 4L -> near, 5L -> "zz unrelated"))
    val pairs = Dedup.minhashNearDups(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // in-group pairs at 1.0 plus every group-member × near-dup pair
    val expected = Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0))
    assert(expected.subsetOf(pairs))
    val crossNear = pairs.filter(p => p._2 == 4L || p._1 == 4L)
    assert(crossNear.map(p => (p._1, p._2)) == Set((1L, 4L), (2L, 4L), (3L, 4L)))
    assert(crossNear.map(_._3).size == 1, "cross pairs must inherit one jaccard value")
  }

  test("exact pre-pass plan shuffles only id/sha columns, never content") {
    // the (rep_id, doc_id) mapping must be computable without repartitioning
    // full document rows: at 100 TB a content shuffle before any signature
    // is computed IS the cost of the pre-pass
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val d = docsDf((1L to 50L).map(i => i -> s"text body ${i % 9}"))
      val members = Dedup.repMembers(d)
      val shuffles = members.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty, "expected the groupBy/join shuffles to exist")
      shuffles.foreach { e =>
        val cols = e.output.map(_.name).toSet
        assert(!cols.contains("text"),
          s"a pre-pass shuffle carries document content: $cols")
      }
      // and the representative FILTER of the full rows is broadcast-side:
      // no shuffle in the whole near-dup prepass stage outputs `text`
      val pairs = Dedup.minhashNearDups(d)
      val allShuffles = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      allShuffles.foreach { e =>
        assert(!e.output.map(_.name).contains("text"),
          s"near-dup plan shuffles content: ${e.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("dupClusters: pairs collapse to min-id cluster representatives") {
    import spark.implicits._
    // chain 1-2, 2-3 (one cluster) and 7-9 (another)
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (7L, 9L, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("bucket cap drops hot buckets from pair generation") {
    import spark.implicits._
    val sigs = Seq(
      (1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L), // hot bucket (3 > cap 2)
      (4L, 1, 200L), (5L, 1, 200L))                 // ok bucket
      .toDF("doc_id", "band_id", "band_hash")
    val pairs = Dedup.candidatePairs(sigs, bucketCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)))
    val dropped = Dedup.droppedBuckets(sigs, 2).collect()
    assert(dropped.length == 1 && dropped(0).getAs[Long]("bucket_sz") == 3L)

    // the one cap form serves every band shape; each is checked against a
    // driver-side group → drop over cap → enumerate reference
    def reference[K](rows: Seq[(Long, Int, K)], cap: Int): Set[(Long, Long)] =
      rows.groupBy(r => (r._2, r._3)).values.filter(_.size <= cap)
        .flatMap(b => for (x <- b; y <- b if x._1 < y._1) yield (x._1, y._1)).toSet
    def generated(df: org.apache.spark.sql.DataFrame, cap: Int): Set[(Long, Long)] =
      Dedup.candidatePairs(df.toDF("doc_id", "band_id", "band_hash"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // array<long> band keys, as the minhash and ngram bands emit
    val arrayRows = Seq(
      (1L, 0, Seq(1L, 2L)), (2L, 0, Seq(1L, 2L)), (3L, 0, Seq(1L, 2L)), // hot
      (4L, 0, Seq(2L, 1L)), (5L, 0, Seq(2L, 1L)), (1L, 1, Seq(1L, 2L)), (3L, 1, Seq(1L, 2L)))
    assert(reference(arrayRows, 2) == Set((4L, 5L), (1L, 3L)))
    assert(generated(arrayRows.toDF(), 2) == reference(arrayRows, 2))
    // a low-cardinality long domain with several hot buckets, as the
    // embedding sign bits at few planes: 5 of 9 buckets exceed the cap
    val lowCard = for (id <- 0L until 60L; t <- 0 until 3) yield (id, t, (id * id + t) % (4 + 2 * t))
    assert(Dedup.droppedBuckets(lowCard.toDF("doc_id", "band_id", "band_hash"), 15).count() == 5)
    assert(reference(lowCard, 15).nonEmpty)
    assert(generated(lowCard.toDF(), 15) == reference(lowCard, 15))
  }

  test("dedup defaults drop no buckets on the real corpus (cap is headroom)") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    assert(Dedup.droppedBuckets(Dedup.minhashBands(d), 256).count() == 0)
    assert(Dedup.droppedBuckets(Dedup.ngramBands(d), 256).count() == 0)
  }

  test("embedding LSH near-dup finds planted similar vectors") {
    import spark.implicits._
    val v = (0 until 64).map(i => math.sin(i * 0.7).toFloat).toArray
    val near = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val far = (0 until 64).map(i => math.cos(i * 2.3 + 1).toFloat).toArray
    val df = Seq((1L, v), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, nVec = 3L, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("near-dup families emit each pair once when it collides in every band") {
    import spark.implicits._
    // a cycle of 30 distinct tokens repeated 2, 3 or 4 times: equal shingle,
    // gram and token-frequency-sign sets, so the texts differ (no exact
    // pre-pass collapse) but their minhash, ngram and simhash keys agree in
    // all 4 bands; vectors scaled by powers of two share every sign bit
    val texts = for {
      g <- 0 until 4; r <- 2 to 4
    } yield (g * 10L + r) -> Seq.fill(r)((0 until 30).map(i => s"g${g}w$i").mkString(" ")).mkString(" ")
    val d = docsDf(texts :+ (99L -> (0 until 40).map(i => s"lone$i").mkString(" ")))
    def bandKeys(bands: org.apache.spark.sql.DataFrame) =
      bands.collect().groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => r.getInt(1) -> r.get(2).toString).toSet }
    val mhKeys = bandKeys(Dedup.minhashBands(d)); val ngKeys = bandKeys(Dedup.ngramBands(d))
    for (g <- 0 until 4; r <- 3 to 4) {
      assert(mhKeys(g * 10L + r) == mhKeys(g * 10L + 2) && mhKeys(g * 10L + 2).size == 4)
      assert(ngKeys(g * 10L + r) == ngKeys(g * 10L + 2) && ngKeys(g * 10L + 2).size == 4)
    }
    val dir = (0 until 5).map(g => (0 until 64).map(i => math.sin(i * (0.3 + g) + g).toFloat))
    val vecs = (for (g <- 0 until 5; (k, sc) <- Seq(0 -> 1f, 1 -> 2f, 2 -> 0.5f))
      yield (g * 10L + k, dir(g).map(_ * sc).toArray)).toDF("vec_id", "embedding")
    val nVec = 15L
    val tables = Dedup.tablesFor(Dedup.planesFor(nVec), 0.9)
    val emKeys = bandKeys(Dedup.embeddingBands(vecs, nVec, 64, tables))
    for (g <- 0 until 5; k <- 1 to 2) assert(emKeys(g * 10L + k) == emKeys(g * 10L))
    assert(tables > 1, "every table must collide, so there must be several")

    val simhashes = texts.map { case (id, t) => id -> Dedup.simhashScalar(Dedup.tokensOf(t).toSeq) }
    val simBrute = (for ((a, ha) <- simhashes; (b, hb) <- simhashes if a < b &&
      java.lang.Long.bitCount(ha ^ hb) <= 3) yield (a, b)).toSet
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(
      ("minhash", Dedup.minhashNearDups(d), pairSet(Dedup.minhashBrute(d))),
      ("ngram", Dedup.ngramJaccard(d), pairSet(Dedup.ngramBrute(d))),
      ("simhash", Dedup.simhashNearDups(d), simBrute),
      ("embedding", Dedup.embeddingNearDups(vecs, nVec, threshold = 0.9),
        pairSet(Dedup.embeddingBrute(vecs, 0.9)))).foreach { case (f, got, brute) =>
      val ids = got.select(got.columns(0), got.columns(1))
      assert(ids.count() == ids.distinct().count(), s"$f emits a pair more than once")
      assert(pairSet(got) == brute, s"$f")
      assert(brute.size >= 12, s"$f: ${brute.size} pairs")
    }
  }

  test("LSH verify plans deduplicate only the verified pairs") {
    // candidates outnumber verified pairs 10× to 420× on the docs_dedup
    // benchmark: no aggregate on exactly (doc_a, doc_b) may run beneath the
    // verify predicate (a Filter, or the join condition it is pushed into)
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.functions.{CosineExpr, SortedJaccardExpr}
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import spark.implicits._
      val d = docsDf((1L to 20L).map(i => i -> s"text body ${i % 7} and more words $i"))
      val e = (1L to 20L).map(i => (i, Array.tabulate(64)(j => math.sin(i * j).toFloat)))
        .toDF("vec_id", "embedding")
      def scores(e: Expression) = e.exists {
        case _: SortedJaccardExpr | _: CosineExpr => true
        case _ => false
      }
      def isVerify(p: SparkPlan) = p match {
        case f: FilterExec => scores(f.condition)
        case j: BaseJoinExec => j.condition.exists(scores)
        case _ => false
      }
      Seq("minhash" -> Dedup.minhashNearDups(d),
          "embedding" -> Dedup.embeddingNearDups(e, nVec = 20L)).foreach { case (f, df) =>
        val plan = df.queryExecution.executedPlan
        val verifies = plan.collect { case p if isVerify(p) => p }
        assert(verifies.nonEmpty, s"$f: no verify predicate in\n$plan")
        verifies.foreach { v =>
          val pairAggs = v.collect {
            case a: BaseAggregateExec
                if a.groupingExpressions.map(_.name).sorted == Seq("doc_a", "doc_b") => a
          }
          assert(pairAggs.isEmpty, s"$f: a (doc_a, doc_b) aggregate runs before the verify\n$plan")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("IVF ANN achieves decent recall vs brute force on real embeddings") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(e, q, 10)
    val approx = Similarity.ivfTopK(e, q, 10, nCells = 16, nProbe = 4, dim = 64)
    val hits = Similarity.recallAtK(exact, approx)
      .agg(sum(col("hits"))).collect()(0).getLong(0)
    assert(hits >= 20, s"recall@10 over 5 queries too low: $hits/50") // ≥40%
  }

  test("brute-force ANN: self is always rank 1") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))
    val r1 = Similarity.bruteForceTopK(e, q, 10).filter(col("rnk") === 1)
      .select(col("query_id"), col("vec_id")).collect()
    assert(r1.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("langid picks the language with most stopword hits") {
    val d = docsDf(Seq(
      1L -> "the cat and the dog of the house is that big",
      2L -> "der hund und die katze ist nicht mit ein von zu",
      3L -> "xyzzy qwerty plugh"))
    val r = TextAnalysis.langId(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r == Map(1L -> "en", 2L -> "de", 3L -> "unknown"))
  }

  test("quality metrics are computed per document") {
    val d = docsDf(Seq(1L -> "The cat. IS BIG! 42 ok."))
    val row = TextAnalysis.quality(d).collect()(0)
    assert(row.getAs[Long]("n_chars") == 23L)
    assert(row.getAs[Double]("punct_ratio") > 0.0)
    assert(row.getAs[Double]("digit_ratio") > 0.0)
  }

  test("multimodal: batched real decode produces per-kind stats") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val r = Multimodal.featureStats(spark, d).collect()
    assert(r.map(_.getString(0)).toSet == Set("image", "audio", "video"))
    assert(r.map(_.getAs[Long]("n")).sum == d.count())
    // features come from decoded payloads — means must be non-degenerate
    r.foreach(row => assert(row.getAs[Double]("avg_f0") > 0.0))
  }

  test("multimodal: planted solid-color PNG decodes to exact features") {
    // a 4x4 all-(255,0,0) image: meanR=1, meanG=meanB=0, each quadrant
    // luminance = 85/255, aspect = 1
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xFF0000)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val f = Multimodal.decodeImage(baos.toByteArray)
    assert(f(0) == 1.0f && f(1) == 0.0f && f(2) == 0.0f)
    (3 to 6).foreach(i => assert(f(i) == 85f / 255f))
    assert(f(7) == 1.0f)
  }

  test("multimodal: a truncated PNG throws and leaves the thread's reader reusable") {
    val png = Multimodal.pngBytes(11L, 8, 8)
    val before = Multimodal.decodeImage(png).toSeq
    intercept[Exception](Multimodal.decodeImage(png.take(png.length / 2)))
    assert(Multimodal.decodeImage(png).toSeq == before)
  }

  test("multimodal: planted constant-amplitude WAV decodes to exact RMS") {
    val wav = Multimodal.wavOf(Array.fill[Short](800)(16384), 16000)
    val f = Multimodal.decodeAudio(wav)
    // RMS of a constant signal == the amplitude; normalized 16384/32768
    f.foreach(x => assert(math.abs(x - 0.5f) < 1e-6f, s"rms $x"))
  }

  test("multimodal: video container samples every k-th frame only") {
    val payload = Multimodal.videoBytes(7L, nFrames = 6, w = 8, h = 8)
    val (sampled2, feats2) = Multimodal.decodeVideo(payload, sampleEvery = 2)
    assert(sampled2 == 3) // frames 0, 2, 4
    val (sampledAll, _) = Multimodal.decodeVideo(payload, sampleEvery = 1)
    assert(sampledAll == 6)
    // frame 0 alone == sampleEvery larger than the container
    val (s1, f1) = Multimodal.decodeVideo(payload, sampleEvery = 100)
    assert(s1 == 1)
    val frame0 = Multimodal.pngBytes(7L * 31L, 8, 8)
    assert(f1.toSeq == Multimodal.decodeImage(frame0).toSeq)
    assert(feats2.length == 8)
  }

  test("multimodal: synthesis and decode are deterministic end-to-end") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 30)
    def run() = Multimodal.extractFeatures(spark, Multimodal.synthesize(d))
      .collect().map(m => (m.media_id, m.kind, m.n_bytes, m.frames_sampled,
        m.features.toSeq)).sortBy(_._1).toSeq
    assert(run() == run())
  }
}
