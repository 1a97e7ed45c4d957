package graft.kg

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** End-to-end orchestration of the KG-construction pipeline, wired once
  * (`wire`) over the five inputs:
  *
  *   corpus (repo,path,commit,lang,content), entities, accounts, embeddings
  *     → scan            (THE one corpus read: mentions + authors +
  *                        co-mention pairs + token counts + sha256, Scan.scala)
  *     → dictionary      (name→account freq)          [shuffle 1: groupBy]
  *     → candidates      (broadcast join + top-K)     [shuffle 2: rollup+window]
  *     → alignments      (features + logistic score + margin argmax)
  *     → representatives (connected components)
  *     → triples         (8-pattern materialization, pred-partitioned)
  *     → lineage         (sha256(content) set, per-partition metrics)
  *
  * Every stage's frame, inputs included, passes through a [[Keep]] policy;
  * the two entrypoints differ only in that policy:
  *   - `compute()`   — in memory: the scan as scratch parquet,
  *                     dictionary/candidates/alignments persisted; used by
  *                     SparkEntry.entry, the benchmarks and tests.
  *   - `run(root)`   — every stage checkpointed; re-runs resume from the
  *                     first incomplete stage (north rule). Its checkpoint
  *                     table is the per-stage report (Checkpoint.report):
  *                     rows and wall time per stage.
  *
  * The wiring sets no job group or job description: a caller that
  * attributes jobs by group wraps the whole call in its own.
  */
object Pipeline {

  final case class Result(
      triples: DataFrame,
      alignments: DataFrame,
      lineage: DataFrame,
      dictionary: DataFrame,
      candidates: DataFrame,
      rollupThunk: () => DataFrame,
      scan: DataFrame,
      scanPath: Option[String] = None) {
    /** The pre-top-K candidate rollup (CandidateGen.rollupAll) — the frame
      * the A13 diagnostics need. A thunk + lazy val because building the
      * rollup plan runs jobs: the fuzzy-skip probe, and under AQE the
      * shuffle stages beneath its local checkpoints (Dataset.checkpoint
      * finalizes the adaptive plan even when not eager). The
      * wiring hands over the rollup it built for candidates, and a resumed
      * run() whose candidates stage is done builds it only when a caller
      * actually asks for diagnostics.
      *
      * Lifetime: like every other frame on this Result, `rollup` must not
      * be touched after [[unpersist]] — in compute() mode its plan reads
      * the persisted dictionary and the scan scratch parquet, both of
      * which unpersist() releases/deletes (KgQueries' LRU eviction calls
      * it), so a post-eviction access recomputes through deleted scratch
      * and can fail (ADVICE r5).
      */
    lazy val rollup: DataFrame = rollupThunk()
    /** Release the frames compute() persisted (and the scan's scratch
      * parquet) — a long-lived session running many pipelines accumulates
      * cache otherwise (storage eviction then fights execution memory).
      */
    def unpersist(): Unit = {
      alignments.unpersist()
      dictionary.unpersist()
      candidates.unpersist() // no-op on run()'s checkpoint-backed frame
      scanPath.foreach(Scan.dropScratch(alignments.sparkSession, _))
    }
  }

  /** What the wiring does with each stage's frame. `stage` is the stage's
    * checkpoint name and `by` the columns a written copy is partitioned
    * by; `df` is evaluated only when the stage is computed.
    */
  private trait Keep {
    def apply(stage: String, by: Seq[String] = Nil)(df: => DataFrame): DataFrame
    /** False when `stage`'s output will be reused instead of computed. */
    def computes(stage: String): Boolean = true
    /** Scratch directory this policy writes, deleted by Result.unpersist. */
    def scratch: Option[String] = None
  }

  /** compute()'s policy. The scan becomes scratch PARQUET (not .persist):
    * it feeds four consumers (dictionary, lineage, text vectors, social
    * graph) and parquet lets each read only its pruned columns; the
    * product rows are a small fraction of content size (annotations +
    * per-authored-file token histograms).
    */
  private final class InMemory(spark: SparkSession) extends Keep {
    private val scanPath = Scan.scratchDir(spark)
    override def scratch: Option[String] = Some(scanPath)
    def apply(stage: String, by: Seq[String])(df: => DataFrame): DataFrame =
      stage match {
        case "scan" => Scan.materialize(df, scanPath)
        // persisted lazily (the first consumer fills them): the dictionary
        // is read by the rollup's exact and fuzzy branches; the candidates are
        // consumed by the scorer AND re-read by every kg_candidates /
        // diagnostics access, which would otherwise re-run the top-K
        // window over the rollup checkpoint. O(|entities| × topK) rows.
        case "dictionary" | "candidates" => df.persist(MEMORY_AND_DISK)
        case "alignments" =>
          // alignments feed three consumers (connected components, the
          // triple materialization, and the evaluation surface). Fill the
          // cache with ONE job before they fan out: the final triple plan
          // scans `aligned` six times (per-pair branch, the two narrow
          // distincts, and representatives' three edge/label scans), and
          // under AQE those scans submit as CONCURRENT stage jobs — against
          // an unfilled cache each one re-runs the whole bucketed-join →
          // featurize → window chain (measured: a wave of six equal ~34 s
          // jobs at 2M files/local[16], ~6× the chain's CPU).
          val aligned = df.persist(MEMORY_AND_DISK)
          aligned.count()
          aligned
        case _ => df
      }
  }

  /** run()'s policy: every stage, inputs included, is a parquet
    * checkpoint under `root`, reused when its params fingerprint matches.
    */
  private final class Checkpointed(spark: SparkSession, root: String,
      params: String) extends Keep {
    def apply(stage: String, by: Seq[String])(df: => DataFrame): DataFrame =
      Checkpoint.stage(spark, root, stage, by, params)(df)
    override def computes(stage: String): Boolean =
      !Checkpoint.isDone(spark, root, stage, params)
  }

  def sessionConf(spark: SparkSession): Unit = {
    // AQE handles runtime coalescing + skew-join splitting (SURVEY §2.9 X4)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
  }

  /** The pipeline's one stage sequence. */
  private def wire(spark: SparkSession, conf: KgConf, keep: Keep,
      repos0: DataFrame, entities0: DataFrame, accounts0: DataFrame,
      accountEmbeddings: DataFrame, entityEmbeddings: DataFrame): Result = {
    sessionConf(spark)
    val repos = keep("corpus")(repos0)
    val entities = keep("entities")(entities0)
    val accounts = keep("accounts")(accounts0)
    // ONE corpus read: Scan.products extracts mentions + authors +
    // co-mention pairs + token counts in a single pass and is the only
    // frame that ever sees `content`; a resumed run never touches content
    // again — every later stage derives from the kept scan
    val scan = keep("scan")(Scan.products(repos))
    val dict = keep("dictionary")(
      Dictionary.build(spark, Scan.mentions(scan), accounts))
    val accEmb = keep("account_embeddings")(accountEmbeddings)
    val entEmb = keep("entity_embeddings")(entityEmbeddings)
    // the dim-side feature frames (accVec/sgVec/hp lookup) and the
    // dictionary→candidates chain are independent, but each blocks the
    // driver on an eager job (textVectors' accTok materialization vs the
    // candidate-ladder probe) — build the dims on a Future so the two
    // chains' jobs interleave instead of running back-to-back (the same
    // overlap the two bucketed table writes use in Scorer.bucketedEntJoin).
    // Only when alignments will be computed: the textVectors checkpoint is
    // eager, and a resumed run whose alignments are done needs no dims.
    val dims = if (keep.computes("alignments"))
      Some(Future(Scorer.dims(entities, accounts, scan, accEmb, entEmb)))
    else None
    // the pre-top-K rollup is exposed on Result so the A13 diagnostics
    // (Scorer.candidateStats) read the SAME frame instead of re-running
    // the dictionary join + ladder — at corpus scale that recompute is a
    // full dictionary-sized join paid once per diagnostic
    lazy val rollup = CandidateGen.rollupAll(spark, entities, dict, conf)
    val cands = keep("candidates")(CandidateGen.topK(rollup, conf))
    val aligned = keep("alignments")(
      Scorer.score(cands, entities, accounts, scan, accEmb, entEmb, conf,
        prebuiltDims = dims.map(Await.result(_, Duration.Inf))))
    val reps = keep("representatives")(
      Canonicalize.representatives(spark, aligned, conf))
    val triples = keep("triples", Seq("pred"))(Triples.materialize(aligned, reps))
    val lineage = keep("lineage")(
      scan.select(col("repo"), col("path"), col("commit"), col("content_sha"))
        .distinct())
    Result(triples, aligned, lineage, dict, cands, () => rollup, scan,
      keep.scratch)
  }

  /** The wiring over the five inputs synthesized at `scale`. */
  private def wireScale(spark: SparkSession, scale: CorpusGen.Scale,
      conf: KgConf, keep: Keep): Result =
    wire(spark, conf, keep,
      CorpusGen.repos(spark, scale).toDF(),
      CorpusGen.entities(spark, scale).toDF(),
      CorpusGen.accounts(spark, scale).toDF(),
      CorpusGen.accountEmbeddings(spark, scale).toDF(),
      CorpusGen.entityEmbeddings(spark, scale).toDF())

  def compute(spark: SparkSession, repos: DataFrame, entities: DataFrame,
      accounts: DataFrame, accountEmbeddings: DataFrame,
      entityEmbeddings: DataFrame, conf: KgConf = KgConf()): Result =
    wire(spark, conf, new InMemory(spark), repos, entities, accounts,
      accountEmbeddings, entityEmbeddings)

  /** Files at which [[confFor]] turns the bucketed featurize join on. At
    * 300k files the two table writes cost more than the broadcast (25.2k
    * vs 17.2k triples/s); at 2M bucketed wins 1.9-3.6× on the stage. 1M
    * splits the measured points (32-core host).
    */
  val AutoBucketFiles = 1000000

  /** Auto-select the featurize pair-join strategy by scale: corpora at or
    * above [[AutoBucketFiles]] files get bucketed entity_id tables
    * (no serial broadcast build of a dim that grows with the corpus —
    * measured 1.9× faster at 2M files/local[16]); the bucketed tables are
    * named per SCALE so concurrent scales in one session never alias, and
    * same-scale overwrites rewrite identical bytes (deterministic
    * synthesis). Explicitly-set bucketedFeaturize is left alone.
    */
  def confFor(scale: CorpusGen.Scale, conf: KgConf = KgConf()): KgConf =
    if (!conf.bucketedFeaturize && scale.nFiles >= AutoBucketFiles)
      conf.copy(bucketedFeaturize = true,
        featurizePrefix = s"graft_feat_${scale.name}")
    else conf

  /** Convenience: compute() over a fully synthesized world at `scale`. */
  def computeForScale(spark: SparkSession, scale: CorpusGen.Scale,
      conf0: KgConf = KgConf()): Result =
    wireScale(spark, scale, confFor(scale, conf0), new InMemory(spark))

  def triplesForScale(spark: SparkSession, scale: CorpusGen.Scale,
      conf: KgConf = KgConf()): DataFrame =
    computeForScale(spark, scale, conf).triples

  /** Materialized, checkpointed, resumable run. Every stage is skipped when
    * its `_SUCCESS` marker exists, so a killed run resumes where it stopped
    * and produces byte-identical outputs (deterministic inputs + explicit
    * total-order tie-breaks everywhere).
    */
  def run(spark: SparkSession, scale: CorpusGen.Scale, root: String,
      conf0: KgConf = KgConf()): Result = {
    val conf = confFor(scale, conf0)
    // params fingerprint: a resumed root with a different scale or KgConf
    // recomputes instead of silently reusing stale stage outputs
    wireScale(spark, scale, conf, new Checkpointed(spark, root, s"$scale|$conf"))
  }
}
