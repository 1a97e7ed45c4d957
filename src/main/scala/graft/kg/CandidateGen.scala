package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Reuse

/** Pipeline tuning knobs (reference constants in BASELINE.md). */
final case class KgConf(
    topK: Int = 40,              // CANDIDATES_THRESHOLD, PrepareTrainingSet.java:73
    backoffThreshold: Int = 300, // FillFromIndex.java:104
    // decision point: the grid argmax on the planted corpus (the
    // reference's own tuning method, PrepareTrainingSet.java:936-1039 —
    // see KgPipelineSpec "default operating point is grid-optimal")
    minScore: Double = 0.35,
    margin: Double = 0.0,
    strongThreshold: Double = 0.9, // ScoreEntities.java:141
    fuzzyEnabled: Boolean = true,  // J10 MinHash-LSH long-tail blocking
    fuzzyThreshold: Double = 0.5,  // exact shingle-Jaccard verification bar
    // logistic scorer weights (north_star: LR-style scorer replacing the
    // NN), round-4 refit: random search over the dumped feature table
    // (Tune.scala + tools/tune_weights.py) with the full F6 popularity
    // family and the F12 homepage binaries in the model, cross-validated
    // on the Tiny corpus (no regression; Tiny grid-best F1 0.9697 under
    // both weight sets). Small-scale gold F1 0.9797 → 0.9806 (P 0.9672,
    // R 0.9942); (minScore, margin) is the 20×5 decision-grid argmax for
    // these weights (GoldEvalSpec gate).
    wName: Double = 11.62,
    wText: Double = 1.1565, // TF-IDF corpus-text cosine (DBTextScorerv2 analogue)
    wDesc: Double = 1.5986, // description token overlap (DescriptionScorer)
    wSg: Double = 0.2,     // social-graph embedding cosine (SocialGraphEmbeddings)
    wFollowers: Double = -0.03,
    wFreq: Double = 0.13,
    wVerified: Double = 0.09,
    // F6 popularity family (FriendsScorer/ListedScorer/StatusesScorer/
    // FollowersFriendsRatioScorer.java:11-18): guarded ln features
    wFriends: Double = 0.0,
    wListed: Double = 0.0,
    wStatuses: Double = 0.0193,
    wFfRatio: Double = 0.0032,
    // F12 homepage-alignment binaries (HomepageAlignmentsScorer.java:79-113)
    wHomeMatch: Double = 0.35,
    wHomeExists: Double = -0.61,
    wHomeUnique: Double = 0.2137,
    // F9 activity recency (ActivityScorer.java:14-33: days since last
    // status, capped at MAX_DAYS=100, missing status = 100) and F11
    // return order (ReturnOrderScorer.java:18-21: the candidate's 0-based
    // position in the returned candidate list IS a model input)
    wRecency: Double = 0.0,
    wOrder: Double = 0.0,
    // deterministic "now" for the recency feature (the reference uses wall
    // clock, ActivityScorer.java:17 — non-reproducible by construction)
    nowMs: Long = CorpusGen.NowMs,
    bias: Double = -12.8576,
    // scale switch for the featurize pair join: broadcast the entity dim
    // (fastest while the dim fits executor memory) vs bucketed tables on
    // entity_id (Exchange-free co-located join, no serial driver-side
    // broadcast build; the 100-TB path, where the entity dim grows with
    // the corpus and cannot broadcast). Pipeline.confFor flips this ON
    // automatically for scales with >= Pipeline.AutoBucketFiles files —
    // measured at 2M files/local[16] the bucketed stage is 1.9× faster
    // (18.8 s vs 35.1 s) and scales better (no serial broadcast build).
    bucketedFeaturize: Boolean = false,
    // bucketed-table name prefix; per-SCALE names (set by Pipeline.confFor)
    // keep concurrent scales in one session from aliasing each other's
    // tables — same-scale overwrites rewrite identical bytes (deterministic
    // synthesis), so lazy frames never see foreign data
    featurizePrefix: String = "graft_feat")

/** Stage 3: candidate generation — entity query names joined against the
  * dictionary, per-entity frequency rollup, top-K with deterministic
  * tie-break, and the >threshold back-off second pass.
  *
  * Reference: FillFromIndex.java:87-158 (J1 join + A7 rollup + W1 top-K +
  * J11 back-off ladder) and AllNamesStrategy.java:29-117 (query names and
  * the back-off rungs, all derived in one per-entity pass: [[taggedNames]]).
  *
  * Scale notes: the dictionary is corpus-derived and huge; the entity-name
  * side is small → broadcast the ENTITY side into the join so the dictionary
  * never shuffles. The top-K window partitions by entity_id; Catalyst ≥3.5
  * turns the rank-filter into WindowGroupLimit (partial top-K before the
  * shuffle), so no full per-entity sort materializes.
  */
object CandidateGen {

  /** One query name of an entity with its back-off rung flags. */
  final case class QueryName(qname: String, in_r1: Boolean, in_r2: Boolean)

  /** An entity's query names with per-rung membership flags, each raw name
    * normalized and swapped once:
    *   - the names: normalized names ∪ labels plus their "Last, First"-
    *     swapped variants, length ≥ 3, distinct, sorted (AllNamesStrategy
    *     semantics, AllNamesStrategy.java:68-117);
    *   - in_r1 ⇔ the name is one of the top-3 names, the reference's
    *     NAMES_THRESHOLD intermediate rung (AllNamesStrategy.java:29-64:
    *     names ranked by multiplicity in names∪labels; golden ladder
    *     behavior AllNamesStrategyTest.java:65-101). Multiplicity is counted
    *     over the swapped-normalized forms (the reference swaps person
    *     "Last, First" before counting, AllNamesStrategy.java:96-103), with
    *     the tie-break (count desc, name asc) for a total order where the
    *     reference's HashMap iteration is unstable;
    *   - in_r2 ⇔ the name is the primary name, the first declared name
    *     normalized and swapped: the strictest rung (option 2+).
    * Every top-3 or primary name is a swapped-normalized raw name, so the
    * ones that pass the length gate are among the names by construction.
    */
  def taggedNames(names: Seq[String], labels: Seq[String]): Seq[QueryName] = {
    val norm = (Option(names).getOrElse(Seq.empty) ++ Option(labels).getOrElse(Seq.empty))
      .map(Text.normalizeName)
    val swapped = norm.map(Text.swapLastFirst)
    val top3 = swapped.filter(_.length >= 3)
      .groupBy(identity).toSeq
      .map { case (n, g) => (n, g.size) }
      .sortBy { case (n, c) => (-c, n) }
      .take(3).map(_._1).toSet
    val primary = if (names == null || names.isEmpty) "" else swapped.head
    (norm ++ swapped).filter(_.length >= 3).distinct.sorted
      .map(q => QueryName(q, top3(q), q == primary))
  }

  private val taggedNamesUdf = udf(taggedNames _)

  /** (entity_id, qname, in_r1, in_r2): the [[taggedNames]] of every live
    * entity, one row per query name.
    */
  private[kg] def taggedQueryNames(entities: DataFrame): DataFrame =
    entities
      .filter(!col("dead")) // P6 dead-entity filter, ProcessDataset.java:192-195
      .select(col("id").as("entity_id"),
        explode(taggedNamesUdf(col("names"), col("labels"))).as("q"))
      .select(col("entity_id"), col("q.*"))

  /** The PRE-cutoff candidate rollup (entity_id, account_id, freq) — every
    * account the dictionary matched after back-off and fuzzy blocking,
    * BEFORE the top-K window. Exposed separately so the A13 diagnostics
    * (index-loss vs cutoff-loss accounting) can tell "gold account was
    * never matched" apart from "matched but cut at topK".
    *
    * J11 back-off ladder (FillFromIndex.java:99-152 loop semantics,
    * rung query sets from AllNamesStrategy): all names → top-3 names →
    * primary name, each taken only while the previous rung matched more
    * than `backoffThreshold` accounts; a rung that matches NOTHING stops
    * the ladder with an empty result (the reference's `while result > 300`
    * loop does not retry on empty), leaving the entity to the fuzzy pass.
    *
    * Dataflow: ONE pass — every rung's rollup comes out of a single
    * dictionary join + a single (entity, account) aggregation with
    * per-rung conditional sums (the rung query sets are nested subsets of
    * the all-names expansion), and rung selection is window arithmetic
    * over the entity partition. The previous formulation ran the
    * dictionary join once per rung with two serially-materialized persists
    * between them — three jobs' worth of fixed overhead in the stage that
    * capped the round-3 scaling headline (per-stage efficiency 0.43).
    */
  def rollupAll(spark: SparkSession, entities: DataFrame, dictionary: DataFrame,
      conf: KgConf = KgConf()): DataFrame = {
    val tagged = taggedQueryNames(entities)
    // broadcast the (tiny, entity-derived) query-name side so the corpus-
    // derived dictionary never shuffles; at a scale where even the entity
    // dim outgrows broadcast, this join would become the same bucketed
    // co-located join featurize uses (conf.bucketedFeaturize pattern)
    val rollup3 = broadcast(tagged)
      .join(dictionary, tagged("qname") === dictionary("name"))
      .groupBy(col("entity_id"), col("account_id"))
      .agg(sum(col("freq")).as("f0"),
        sum(when(col("in_r1"), col("freq"))).as("f1"),
        sum(when(col("in_r2"), col("freq"))).as("f2"))
    val w = Window.partitionBy(col("entity_id"))
    val t = conf.backoffThreshold
    val exact = rollup3
      .withColumn("n0", count(lit(1)).over(w))
      .withColumn("n1", count(col("f1")).over(w)) // non-null counts = rung-1 fan-out
      .withColumn("rung",
        when(col("n0") <= t, 0).when(col("n1") <= t, 1).otherwise(2))
      .withColumn("freq",
        when(col("rung") === 0, col("f0"))
          .when(col("rung") === 1, col("f1"))
          .otherwise(col("f2")))
      .filter(col("freq").isNotNull)
      .select(col("entity_id"), col("account_id"), col("freq"))

    // J10: MinHash-LSH blocking for the long tail — entities with ZERO
    // exact-name candidates get fuzzy candidates via character-shingle
    // banding against the dictionary's (distinct) names.
    if (!conf.fuzzyEnabled) exact else {
      // Reuse.materialize: `exact` is referenced by three consumers
      // (the emptiness probe, the anti-join, the union) and `lonely` by
      // two — checkpointing computes each once. They are not lazy: under
      // AQE, Dataset.checkpoint finalizes the adaptive plan, so building
      // each one here runs every shuffle stage beneath it, even with
      // eager = false. ContextCleaner releases the blocks on GC, so no
      // explicit unpersist bookkeeping is owed (the round-3 leak:
      // rollupAll's persists were unreachable by Result.unpersist and
      // accumulated across pipeline runs).
      val exactLc = Reuse.materialize(exact, "candidates.exact", eager = false)
      val withCand = exactLc.select(col("entity_id")).distinct()
      val lonely = Reuse.materialize(tagged.select(col("entity_id"), col("qname"))
        .join(withCand, Seq("entity_id"), "left_anti"), "candidates.lonely", eager = false)
      // no lonely entities → skip the whole fuzzy branch (band explosion +
      // per-band window count over the dictionary names) entirely.
      // This eager probe costs one driver scheduling round-trip per run at
      // ANY scale (the job itself is tiny — it reads the lonely checkpoint,
      // not the corpus); it buys skipping the band explosion whenever the
      // exact ladder covered everyone, which dominates on clean corpora.
      if (lonely.isEmpty) exactLc
      else {
        val dictNames = dictionary.select(col("name")).distinct()
        val fuzzy = Blocking.fuzzyNameMatches(lonely, dictNames, conf.fuzzyThreshold)
          .join(dictionary, Seq("name"))
          .groupBy(col("entity_id"), col("account_id"))
          .agg(sum(col("freq")).as("freq"))
        exactLc.unionByName(fuzzy)
      }
    }
  }

  /** The top-K window over an already-built rollup — split out so callers
    * that keep the rollup (Pipeline exposes it for the A13 diagnostics)
    * apply the cutoff without rebuilding the ladder.
    */
  def topK(rollup: DataFrame, conf: KgConf = KgConf()): DataFrame = {
    val w = Window.partitionBy(col("entity_id"))
      .orderBy(col("freq").desc, col("account_id").asc)
    rollup
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= conf.topK)
  }

  /** candidates(entity_id, account_id, freq, rank) — rank 1..topK per entity,
    * tie-break (freq desc, account_id asc) for reproducible P/R (SURVEY §7.3).
    */
  def candidates(spark: SparkSession, entities: DataFrame, dictionary: DataFrame,
      conf: KgConf = KgConf()): DataFrame =
    topK(rollupAll(spark, entities, dictionary, conf), conf)
}
