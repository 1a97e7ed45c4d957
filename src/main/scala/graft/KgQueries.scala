package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._

/** Query registry for the KG-construction pipeline stages. These run on the
  * deterministically synthesized corpus (BASELINE.json input_hint shape);
  * Verify materializes the synthesized inputs (and the frozen scored-pair
  * frame) to parquet so KgOracle's DuckDB SQL can replay each stage
  * cross-engine, and KgPipelineSpec additionally gates the whole pipeline
  * by exact-triple-set comparison against the scalar oracle
  * (ScalarOracle.scala).
  *
  * The synthesis scale follows the driver's sf dir so bench reflects a
  * bigger corpus than verify. One Pipeline.compute Result is MEMOIZED, for
  * the last (session, scale) asked for: kg_mentions / kg_dictionary /
  * kg_candidates / kg_triples / kg_evaluation / kg_social_graph all reuse
  * the same persisted intermediates instead of re-running
  * corpus→dictionary→scoring per query (the round-1 bench paid that full
  * chain twice). Only kg_corpus reads `content`; kg_mentions and
  * kg_social_graph derive from the pipeline's own scan parquet
  * (Result.scan), so their DuckDB replays check the frames the pipeline
  * consumes.
  */
object KgQueries {

  private type Q = (SparkSession, String) => DataFrame

  def scaleFor(dir: String): CorpusGen.Scale =
    if (dir.contains("sf0.1")) CorpusGen.benchAt(300000) // 300k files / 15k entities
    else if (dir.contains("sf0.01")) CorpusGen.Small
    else CorpusGen.Tiny

  // ONE memoized Result, keyed by the session OBJECT (so a fresh session
  // never sees a Result bound to a stopped one) and the scale. Its callers
  // (Bench, and Verify through KgOracle) each use one session and one sf
  // dir; a request for another key unpersists the held Result first, so at
  // most one pipeline's frames stay cached however often sessions churn.
  private var memo: Option[((SparkSession, String), Pipeline.Result)] = None

  /** One pipeline run per (session, scale) — all kg_* queries share it. */
  def result(s: SparkSession, dir: String): Pipeline.Result = synchronized {
    val scale = scaleFor(dir)
    val key = (s, scale.name)
    memo match {
      case Some((k, r)) if k == key => r
      case held =>
        // a stopped context has no cache left to release, and its
        // scratch went with Scan's application-end drain
        held.foreach { case ((hs, _), r) =>
          if (!hs.sparkContext.isStopped) r.unpersist() }
        memo = None
        val r = Pipeline.computeForScale(s, scale)
        memo = Some((key, r))
        r
    }
  }

  /** Corpus + the north-rule per-row invariant: sha2(content) computed by
    * Spark from the in-memory synthesis, recomputed by DuckDB over the
    * materialized parquet — cross-engine hash equality per row.
    */
  val corpus: Q = (s, dir) =>
    CorpusGen.repos(s, scaleFor(dir)).toDF()
      .withColumn("content_sha", sha2(col("content"), 256))

  val mentions: Q = (s, dir) => Scan.mentions(result(s, dir).scan)

  val dictionary: Q = (s, dir) => result(s, dir).dictionary

  /** rank cast to long for the cross-engine compare (DuckDB row_number
    * yields BIGINT).
    */
  val candidates: Q = (s, dir) => result(s, dir).candidates
    .select(col("entity_id"), col("account_id"), col("freq"),
      col("rank").cast("long").as("rank"))

  val triples: Q = (s, dir) => result(s, dir).triples

  /** P/R/F1 rounded to 6 decimals for the cross-engine compare (the spec
    * surfaces use Scorer.evaluate's exact doubles).
    */
  val evaluation: Q = (s, dir) =>
    Scorer.evaluate(result(s, dir).alignments,
        CorpusGen.gold(s, scaleFor(dir)).toDF())
      .select(col("tp"), col("fp"), col("fn"),
        round(col("precision"), 6).as("precision"),
        round(col("recall"), 6).as("recall"),
        round(col("f1"), 6).as("f1"))

  /** A4+A5 on the kg corpus itself: normalized co-mention edges. */
  val socialGraph: Q = (s, dir) =>
    Features.socialEdges(result(s, dir).scan,
        CorpusGen.accounts(s, scaleFor(dir)).toDF())
      .select(col("src"), col("dst"), col("freq"), round(col("w"), 6).as("w"))
      .orderBy(col("src"), col("dst"))

  /** Decision-grid sweep (PrepareTrainingSet.java:936-1039): P/R/F1 at
    * every (minScore, margin) point, one DataFrame job.
    */
  val gridEval: Q = (s, dir) =>
    Scorer.gridEvaluation(result(s, dir).alignments,
        CorpusGen.gold(s, scaleFor(dir)).toDF(), s)
      .orderBy(col("min_score"), col("margin"))

  /** The exact (non-fuzzy) candidate path — expansion, rollup, back-off,
    * top-K — as its own DuckDB-oracled surface; the fuzzy LSH tail stays
    * gated by the scalar-oracle specs (KgPipelineSpec).
    */
  val candidatesExact: Q = (s, dir) =>
    CandidateGen.candidates(s, CorpusGen.entities(s, scaleFor(dir)).toDF(),
        result(s, dir).dictionary, KgConf(fuzzyEnabled = false))
      .select(col("entity_id"), col("account_id"), col("freq"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("entity_id"), col("account_id"))

  /** A13 candidate-distribution diagnostics (index loss / cutoff loss /
    * per-rank gold histogram).
    */
  val candidateStats: Q = (s, dir) => {
    val scale = scaleFor(dir)
    val r = result(s, dir)
    Scorer.candidateStats(r.rollup, r.candidates,
        CorpusGen.gold(s, scale).toDF())
      .orderBy(col("stat"), col("ord"))
  }

  def all: Map[String, Q] = Map(
    "kg_corpus" -> corpus,
    "kg_mentions" -> mentions,
    "kg_dictionary" -> dictionary,
    "kg_candidates" -> candidates,
    "kg_candidates_exact" -> candidatesExact,
    "kg_triples" -> triples,
    "kg_evaluation" -> evaluation,
    "kg_social_graph" -> socialGraph,
    "kg_grid_eval" -> gridEval,
    "kg_candidate_stats" -> candidateStats,
  )

  /** DuckDB replays over the parquet frames Verify materializes (KgOracle):
    * corpus/mentions/dictionary/social-graph/exact-candidates recomputed
    * from the PRIMARY inputs, and evaluation/grid/diagnostics/CC+triples
    * replayed from the frozen scored-pair frame. The per-pair feature math
    * itself (and the fuzzy candidate tail) stays gated by the
    * exact-triple-set scalar-oracle specs (KgPipelineSpec).
    */
  def oracles: Map[String, String] = KgOracle.oracles
}
