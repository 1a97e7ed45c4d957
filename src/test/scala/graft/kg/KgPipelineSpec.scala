package graft.kg

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pipeline-level correctness gate (SURVEY §5): the Spark pipeline's
  * (subj, pred, obj) set must match the single-threaded scalar oracle —
  * EXACTLY at tiny scale (shared scalar functions + mirrored arithmetic),
  * and at P/R ≥ 0.95 (the BASELINE.json bar) at small scale.
  */
class KgPipelineSpec extends AnyFunSuite with SparkTestBase {

  private def sparkTriples(scale: CorpusGen.Scale): Set[Triple] = {
    import spark.implicits._
    Pipeline.triplesForScale(spark, scale).as[Triple].collect().toSet
  }

  private def pr(got: Set[Triple], want: Set[Triple]): (Double, Double) = {
    val tp = (got intersect want).size.toDouble
    (tp / math.max(got.size, 1), tp / math.max(want.size, 1))
  }

  test("tiny scale: exact triple-set equality vs scalar oracle") {
    val got = sparkTriples(CorpusGen.Tiny)
    val (want, _) = ScalarOracle.run(CorpusGen.Tiny)
    val missing = want -- got
    val extra = got -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.take(5)} extra=${extra.take(5)} " +
        s"(|got|=${got.size} |want|=${want.size})")
  }

  test("F9/F11 live wiring: nonzero recency/order weights stay oracle-exact") {
    // The tuned defaults keep wRecency = wOrder = 0 (the measured optimum —
    // see COVERAGE.md F9/F11 A/B), so the default-conf parity test above
    // cannot distinguish a wired feature from a dropped column. This conf
    // forces both weights through the score and asserts the Spark pipeline
    // still matches the scalar oracle's mirrored arithmetic bit-exactly.
    import spark.implicits._
    val conf = KgConf(wRecency = -0.004, wOrder = -0.1)
    val got = Pipeline.triplesForScale(spark, CorpusGen.Tiny, conf)
      .as[Triple].collect().toSet
    val (want, _) = ScalarOracle.run(CorpusGen.Tiny, conf)
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // and the weights are not a no-op: the triple set must differ from the
    // default-conf run (scores move, so sl:confidence objects move)
    val default = sparkTriples(CorpusGen.Tiny)
    assert(got != default, "nonzero wRecency/wOrder left every triple unchanged")
  }

  test("small scale: P/R >= 0.95 vs scalar oracle (BASELINE.json bar)") {
    val got = sparkTriples(CorpusGen.Small)
    val (want, _) = ScalarOracle.run(CorpusGen.Small)
    val (p, r) = pr(got, want)
    assert(p >= 0.95 && r >= 0.95, s"P=$p R=$r |got|=${got.size} |want|=${want.size}")
    // shared scalar functions + mirrored arithmetic make it exact, not just ≥0.95
    assert(got == want, s"expected bit-exact match, got P=$p R=$r")
  }

  test("gold evaluation: selection quality is high on the planted corpus") {
    val scale = CorpusGen.Tiny
    val r = Pipeline.computeForScale(spark, scale)
    val row = Scorer.evaluate(r.alignments, CorpusGen.gold(spark, scale).toDF())
      .collect()(0)
    val (p, rec) = (row.getAs[Double]("precision"), row.getAs[Double]("recall"))
    assert(p >= 0.7 && rec >= 0.5, s"gold P=$p R=$rec (tune KgConf weights)")
  }

  test("lineage preserves the sha256(content) set of the source (input_hint)") {
    val scale = CorpusGen.Tiny
    val repos = CorpusGen.repos(spark, scale).toDF()
    val src = repos.select(sha2(col("content"), 256).as("sha"))
      .distinct().collect().map(_.getString(0)).toSet
    val lineage = Pipeline.computeForScale(spark, scale).lineage
    val got = lineage.select(col("content_sha")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(got == src, s"lineage sha set mismatch: |got|=${got.size} |src|=${src.size}")
  }

  test("candidates are invariant to input partitioning (top-K determinism)") {
    val scale = CorpusGen.Tiny
    val repos = CorpusGen.repos(spark, scale).toDF()
    val accounts = CorpusGen.accounts(spark, scale).toDF()
    val entities = CorpusGen.entities(spark, scale).toDF()
    def cands(parts: Int): Set[(String, Long, Long, Int)] = {
      val dict = Dictionary.build(spark,
        Scan.mentions(Scan.products(repos.repartition(parts))),
        accounts.repartition(parts))
      CandidateGen.candidates(spark, entities.repartition(parts), dict)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
    }
    assert(cands(3) == cands(11))
  }

  test("Result.rollup is the candidates' own pre-top-K frame, not a drifted rebuild") {
    // the A13 diagnostics consume Result.rollup — pin that (a) it matches a
    // from-scratch rollupAll over the same dictionary, and (b) the exported
    // candidates are exactly its top-K cutoff, so diagnostics and exports
    // can never disagree about the candidate universe
    val scale = CorpusGen.Tiny
    val r = Pipeline.computeForScale(spark, scale)
    def keyset(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.select(col("entity_id"), col("account_id"), col("freq"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    // thread the SAME conf the pipeline used (Pipeline.confFor) — with the
    // default KgConf the pin would silently weaken if confFor ever diverged
    // in topK/ladder parameters for this scale (ADVICE r5)
    val conf = Pipeline.confFor(scale)
    val rebuilt = CandidateGen.rollupAll(spark,
      CorpusGen.entities(spark, scale).toDF(), r.dictionary, conf)
    assert(keyset(r.rollup) == keyset(rebuilt))
    val cutoff = CandidateGen.topK(r.rollup, conf)
    assert(keyset(cutoff) == keyset(r.candidates))
  }

  test("F20 cross products append pairwise feature products") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, 3.0)).toDF("a", "b", "c")
    val got = Scorer.withCrossProducts(df, Seq("a", "b", "c")).collect()(0)
    assert(got.getAs[Double]("a_x_b") == 2.0 &&
      got.getAs[Double]("a_x_c") == 3.0 &&
      got.getAs[Double]("b_x_c") == 6.0)
  }

  test("corpus generation is partitioning-invariant") {
    import spark.implicits._
    val a = CorpusGen.repos(spark, CorpusGen.Tiny).collect().sortBy(r => (r.repo, r.path))
    val b = spark.range(0L, CorpusGen.Tiny.nFiles.toLong, 1L, 3)
      .map(i => CorpusGen.repoFileRow(CorpusGen.Tiny, i))
      .collect().sortBy(r => (r.repo, r.path))
    assert(a.toSeq == b.toSeq)
  }
}
