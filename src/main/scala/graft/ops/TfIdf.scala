package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF and χ² feature scoring over documents — SURVEY §2.3 F16/F17 and
  * §2.4 A14, expressed as plain joins/aggregates (DuckDB-oracle-checkable)
  * rather than MLlib fit/transform, so semantics are explicit and the plan
  * is three hash aggregates + one broadcast join.
  */
object TfIdf {

  /** (doc_id, token, tf): log-scaled term frequency (F16 BOW log-TF). */
  def logTf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Dedup.tokensCol(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg((lit(1.0) + log(count(lit(1)).cast("double"))).as("tf"))

  /** (token, df, idf): smooth idf = ln((N+1)/(df+1)) + 1. N is folded into
    * the lazy plan (1-row aggregate broadcast-crossed, the `contingency`
    * pattern) — the previous driver-side docs.count() was an extra job +
    * full documents scan per query; the cast chain yields the identical
    * double.
    */
  def idf(docs: DataFrame): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"), explode(array_distinct(Dedup.tokensCol(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDf))
      .withColumn("idf", log((col("n_docs").cast("double") + 1.0) / (col("df").cast("double") + 1.0)) + 1.0)
      .select(col("token"), col("df"), col("idf"))
  }

  /** (doc_id, token, tfidf). */
  def tfidf(docs: DataFrame): DataFrame =
    logTf(docs).join(broadcast(idf(docs)), Seq("token"))
      .select(col("doc_id"), col("token"),
        round(col("tf") * col("idf"), 4).as("tfidf"))

  /** Shared 2×2 contingency counts of (token, category) over a
    * docs(doc_id, text, category) table — the (A, B, C, D, N) frame every
    * reference selection metric consumes (FeatureSelectionMethod.java:8-19:
    * A = docs containing the token with the category, B = containing
    * without, C = category without the token, D = neither, N = total).
    * N is folded into the lazy plan (1-row aggregate broadcast-crossed),
    * no driver count. Gate: A ≥ minCount
    * (FeatureSelection.DEFAULT_MIN_FEATURE_FREQ).
    */
  def contingency(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("n_total"))
    val tokDocs = docs
      .select(col("doc_id"), col("category"),
        explode(array_distinct(Dedup.tokensCol(col("text")))).as("token"))
    // ONE tokenize+explode pass: n1x (docs containing the token) is the
    // category-sum of the (token, category) counts — each doc has exactly
    // one category, so sum(a) ≡ the old count over tokDocs (the old
    // groupBy(token) branch re-ran the whole tokenize+explode with its own
    // Exchange). The aggregate is localCheckpoint'd (eager, per-invocation
    // — fresh blocks every call, released by the ContextCleaner on GC)
    // because the two consumers' pushed-down join filters otherwise break
    // the subtree's canonical equality and exchange reuse does NOT fire;
    // the frame is small (≤ |vocab| × |categories| rows).
    val tokCatAll = tokDocs.groupBy(col("token"), col("category"))
      .agg(count(lit(1)).as("a"))
      .localCheckpoint(true)
    val tokCat = tokCatAll.filter(col("a") >= minCount)
    val tokTotal = tokCatAll.groupBy(col("token")).agg(sum(col("a")).as("n1x"))
    val catTotal = docs.groupBy(col("category")).agg(count(lit(1)).as("nx1"))
    tokCat
      .join(broadcast(tokTotal), Seq("token"))
      .join(broadcast(catTotal), Seq("category"))
      .crossJoin(broadcast(nDf))
      .withColumn("b", col("n1x") - col("a"))
      .withColumn("c", col("nx1") - col("a"))
      .withColumn("d", col("n_total") - col("n1x") - col("c"))
      .select(col("token"), col("category"), col("a"), col("b"), col("c"),
        col("d"), col("n_total"))
  }

  /** A14: pointwise-MI-style selection score A / ((A+C)·(A+B)) —
    * MutualInformation.java:10 semantics in DOUBLE arithmetic (the
    * reference evaluates the same expression in Java int division, which
    * truncates nearly every score to 0 — an evident bug, so the intended
    * real-valued form is computed here). Raw IEEE doubles: integer inputs →
    * one exact product + one division, bit-identical cross-engine.
    */
  def mutualInformation(docs: DataFrame, minCount: Long = 5): DataFrame =
    contingency(docs, minCount)
      .select(col("token"), col("category"), col("a"),
        (col("a").cast("double") /
          ((col("a") + col("c")) * (col("a") + col("b"))).cast("double"))
          .as("mi"))

  /** A14: odds ratio (A·D)/(B·C) — OddsRatio.java:10-17, including its
    * +∞ → Double.MAX_VALUE clamp. The reference's 0/0 corner (A·D = 0 with
    * B·C = 0) yields NaN there; defined as 0.0 here so the score stays
    * total-ordered and comparable.
    */
  def oddsRatio(docs: DataFrame, minCount: Long = 5): DataFrame =
    contingency(docs, minCount)
      .select(col("token"), col("category"), col("a"),
        when(col("b") * col("c") === 0,
          when(col("a") * col("d") > 0, lit(Double.MaxValue)).otherwise(lit(0.0)))
          .otherwise((col("a") * col("d")).cast("double") /
            (col("b") * col("c")).cast("double"))
          .as("odds_ratio"))

  /** χ² score of (token, category) association over a docs(doc_id, text,
    * category) table — A14 feature selection (ChiSquared.java:10).
    * Standard 2×2 χ² with the observed/expected contingency counts.
    */
  def chiSquared(docs: DataFrame, minCount: Long = 5): DataFrame = {
    // N folded into the lazy plan (1-row aggregate broadcast-crossed) —
    // no driver-side count() job; count→double cast yields the identical
    // double the old lit(n) carried
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tokDocs = docs
      .select(col("doc_id"), col("category"),
        explode(array_distinct(Dedup.tokensCol(col("text")))).as("token"))
    // same single-pass shape as contingency: n1x = category-sum of n11
    // (one category per doc); eager localCheckpoint for the same
    // pushed-filter-breaks-reuse reason
    val tokCatAll = tokDocs.groupBy(col("token"), col("category"))
      .agg(count(lit(1)).as("n11"))
      .localCheckpoint(true)
    val tokCat = tokCatAll.filter(col("n11") >= minCount)
    val tokTotal = tokCatAll.groupBy(col("token")).agg(sum(col("n11")).as("n1x"))
    val catTotal = docs.groupBy(col("category")).agg(count(lit(1)).as("nx1"))
    val n = col("n_docs")
    tokCat
      .join(broadcast(tokTotal), Seq("token"))
      .join(broadcast(catTotal), Seq("category"))
      .crossJoin(broadcast(nDf))
      .withColumn("n10", col("n1x") - col("n11"))
      .withColumn("n01", col("nx1") - col("n11"))
      .withColumn("n00", n - col("n1x") - col("n01"))
      .withColumn("chi2", round(
        n * pow(col("n11") * col("n00") - col("n10") * col("n01"), 2) /
          (col("n1x") * (n - col("n1x")) * col("nx1") * (n - col("nx1"))), 4))
      .select(col("token"), col("category"), col("n11"), col("chi2"))
  }
}
