package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Reuse

/** Feature-side tables for the scorer: per-account corpus-text TF-IDF
  * vectors, per-entity abstract vectors (same IDF model), and the social
  * graph with weighted-average followee embeddings.
  *
  * Reference semantics:
  *   - per-user corpus text as the context source: BuildUserLSA.java:54-58,
  *     100-106 (concatenated user text → vector) and
  *     scorer/DBTextScorerv2.java:38-42 (per-pair cosine against it);
  *   - TF-IDF weighting standing in for the LSA projection
  *     (LSM.java:36-80; SURVEY F17 allows the cosine substitute);
  *   - social graph: ExtractSocialGraph.java:75-96 (edge sum + min-freq
  *     filter), :176-195 (per-src normalized weights);
  *   - graph feature: SocialGraphEmbeddings.java:38-44 /
  *     EmbeddingsProvider.java:85-150 (weighted mean of followee vectors).
  *
  * Determinism: every floating-point fold is over a sort_array'd list
  * (token order for text, dst order for the graph), so results are
  * bitwise identical across partitionings AND reproducible by the
  * single-threaded ScalarOracle, which shares the fold order.
  */
object Features {

  /** Word-token xxhash64 values of a text — tokens are hashed AT
    * EXTRACTION (ops.Dedup.xxLane(0, t) = the Catalyst xxhash64
    * expression, shared with the scalar oracle), so the whole text model —
    * the corpus-wide (account, token) aggregate, the df/idf model, and
    * the vector entries — shuffles and joins 8-byte longs, never token
    * strings. Two distinct tokens colliding (~|vocab|²/2⁶⁴) would merge
    * counts identically on both engines.
    */
  val tokenHashesUdf = udf((s: String) =>
    Text.tokens(s).map(t => graft.ops.Dedup.xxLane(0, t)))

  /** hash-sorted (h, w) entry array + L2 norm from (key, h, tf, idf)
    * rows. The entry arrays ride through the widest join of the pipeline
    * (one copy per candidate PAIR), so 16-byte entries instead of
    * string+double cut that memory traffic ~2.5×; the sorted array fixes
    * the fold order of every consumer (the scalar oracle sorts by the
    * same hash).
    */
  private def vectorize(tok: DataFrame, key: String): DataFrame =
    tok.withColumn("w", (lit(1.0) + log(col("tf").cast("double"))) * col("idf"))
      .groupBy(col(key))
      .agg(sort_array(collect_list(struct(col("h"), col("w")))).as("tw"))
      .select(col(key),
        col("tw").as("tvec"),
        // codegen entry-norm kernel — the previous
        // sqrt(aggregate(tw, 0, acc + w*w)) fold is interpreted
        // (ArrayAggregate is CodegenFallback) and runs once per
        // account/entity row; same ascending fold + sqrt, IEEE-identical
        // (VectorKernelsSpec pins it)
        graft.functions.VectorKernels.entryNormCol(col("tw")).as("tnorm"))

  /** Author screen names of a file, by the author regex straight over
    * the content — with [[authoredContent]] and [[accountBow]], the
    * independent raw-corpus form FeaturesSpec checks
    * [[accountTokenCounts]] against.
    */
  val authorsUdf = udf((content: String) =>
    if (content == null) Seq.empty[String]
    else "// @author (\\S+)".r.findAllMatchIn(content).map(_.group(1)).toSeq)

  /** Per-file (screen_name, content) rows for authored files — one corpus
    * pass, zero corpus shuffles.
    */
  def authoredContent(repos: DataFrame): DataFrame =
    repos.select(explode(authorsUdf(col("content"))).as("screen_name"),
      col("content"))

  /** (account_id, h, tf) — flat per-account BOW counts over token HASHES
    * (map-side combinable hash aggregate; only (account, h) long partials
    * shuffle — this is the widest feature-side shuffle of the pipeline,
    * one row per distinct token per account). `scan` is a Scan.products
    * frame, so this builder reads no content.
    */
  def accountTokenCounts(scan: DataFrame, accounts: DataFrame): DataFrame = {
    val accs = broadcast(accounts.select(col("screenName").as("screen_name"),
      col("accountId").as("account_id")))
    Scan.authoredTokens(scan)
      .join(accs, Seq("screen_name"))
      .select(col("account_id"), explode(col("tok")).as("tc"))
      .groupBy(col("account_id"), col("tc._1").as("h"))
      .agg(sum(col("tc._2")).as("tf"))
  }

  /** Typed alternative: per-account BOW as a term-count map merged with the
    * BowMerge Aggregator (A15/T3, TextExtractor.java:80-87 semantics) —
    * order-independent (Long addition), so it equals accountTokenCounts
    * exactly (FeaturesSpec asserts this).
    */
  def accountBow(repos: DataFrame, accounts: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Map[String, Long])] = {
    val spark = repos.sparkSession
    import spark.implicits._
    val accs = broadcast(accounts.select(col("screenName").as("screen_name"),
      col("accountId").as("account_id")))
    authoredContent(repos)
      .join(accs, Seq("screen_name"))
      .select(col("account_id").as("id"), col("content"))
      .as[(Long, String)]
      .map { case (id, content) =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        Text.tokens(content).foreach(t => m(t) = m.getOrElse(t, 0L) + 1L)
        (id, m.toMap)
      }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.ops.Aggregators.BowMerge().toColumn.name("bow"))
  }

  /** (accountVectors(account_id, tvec, tnorm),
    *  entityVectors(entity_id, tvec, tnorm)).
    *
    * IDF is fit on the per-account corpus texts (N = accounts with ≥1
    * authored file); entity abstracts are transformed with the SAME model
    * (out-of-vocabulary tokens get the df=0 idf), mirroring how the
    * reference projects both sides with one LSA model
    * (LSAVectorProvider.java:25-33).
    *
    * Scale shape: one corpus-wide (account, token) count [shuffle on
    * (account, token) with partial agg], one token-level df agg over the
    * already-aggregated counts, broadcast idf join. Content never shuffles.
    */
  def textVectors(scan: DataFrame, accounts: DataFrame,
      entities: DataFrame): (DataFrame, DataFrame) = {
    // Reuse.materialize (eager, serialized) instead of persist(): the
    // frame feeds three consumers (N agg, df agg, vector build) so it must
    // materialize once — and checkpoint blocks are released by the
    // ContextCleaner when the frame is GC'd, unlike catalog-cached plans,
    // which a long-lived session (Bench memo, Tune, GoldEvalSpec) would
    // accumulate forever. It stays one row per (account, token): each
    // consumer reads it at that grain.
    val accTok = Reuse.materialize(accountTokenCounts(scan, accounts), "features.accTok")
    // IDF corpus size N as a 1-row frame cross-joined into the idf model —
    // no driver-side count() action; the whole model stays one lazy plan.
    val nDf = accTok.agg(countDistinct(col("account_id")).as("n_acc"))
    val idf = accTok.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDf))
      .withColumn("idf",
        log((col("n_acc") + lit(1)).cast("double") / (col("df").cast("double") + lit(1.0))) + lit(1.0))
      .select(col("h"), col("idf"))
    val accVec = vectorize(accTok.join(broadcast(idf), Seq("h")), "account_id")
    val entTok = entities
      .select(col("id").as("entity_id"), explode(tokenHashesUdf(col("abstractText"))).as("h"))
      .groupBy(col("entity_id"), col("h"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(idf), Seq("h"), "left")
      .crossJoin(broadcast(nDf))
      // out-of-vocabulary idf (df = 0): same formula at df=0
      .withColumn("idf", coalesce(col("idf"),
        log((col("n_acc") + lit(1)).cast("double") / lit(1.0)) + lit(1.0)))
      .drop("n_acc")
    (accVec, vectorize(entTok, "entity_id"))
  }

  // ---------------------------------------------------------------- graph

  /** Social-graph edges from per-file co-occurrence of the author with the
    * mentioned accounts: edges(src, dst, freq, w) where w is the per-src
    * normalized weight over edges that survive the min-frequency filter
    * (ExtractSocialGraph.java:75-96, :176-195). Pairs come from the
    * Scan.products frame `scan` (Scan.coMentionPairs — no content read);
    * only (src_screen, dst_screen) pairs shuffle.
    */
  def socialEdges(scan: DataFrame, accounts: DataFrame,
      minFreq: Long = 2): DataFrame = {
    val accs = broadcast(accounts.select(col("screenName").as("screen_name"),
      col("accountId").as("account_id")))
    Scan.coMentionPairs(scan)
      .join(accs.withColumnRenamed("screen_name", "src_screen")
        .withColumnRenamed("account_id", "src"), Seq("src_screen"))
      .join(accs.withColumnRenamed("screen_name", "dst_screen")
        .withColumnRenamed("account_id", "dst"), Seq("dst_screen"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq) // GraphFilter, ExtractSocialGraph.java:79
      .withColumn("w",
        col("freq").cast("double") / sum(col("freq")).over(Window.partitionBy(col("src"))))
  }

  /** (account_id, sgvec): weighted mean of neighbour embeddings,
    * Σ wᵢ·vecᵢ / Σ wᵢ folded in dst order (SocialGraphEmbeddings.java:38-44
    * semantics — a user's graph embedding is the weighted average of its
    * followees' vectors). The fold is the compiled weightedVecAvg kernel
    * (functions/VectorKernels.scala) — the previous
    * aggregate/zip_with/transform chain was interpreted (CodegenFallback)
    * per ACCOUNT row: a lambda frame + boxed double per element per
    * neighbour; the kernel keeps the identical neighbour-order IEEE folds
    * (VectorKernelsSpec pins bit-equality against the old formulation).
    */
  def sgVectors(edges: DataFrame, accountEmbeddings: DataFrame,
      dim: Int = CorpusGen.EmbDim): DataFrame = {
    // the kernel reads array<double>; a float-vector table is widened here,
    // once per embedding row before the edge join (exact; a no-op cast on
    // the double tables CorpusGen writes)
    val emb = accountEmbeddings.select(col("accountId").as("dst"),
      col("vec").cast("array<double>").as("vec"))
    edges.join(emb, Seq("dst"))
      .groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("dst"), col("w"), col("vec")))).as("nb"))
      .select(col("src").as("account_id"),
        graft.functions.VectorKernels.weightedVecAvg(col("nb"), dim).as("sgvec"))
  }
}
