package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage 4: feature generation + logistic scoring + argmax-with-margin
  * selection.
  *
  * Features (north_star: "name similarity, context cosine, popularity
  * prior" replacing the reference's NN):
  *   - name_sim      mean Jaro-Winkler over entity names (NameScorer.java:42-53)
  *                   — the codegen JaroWinklerExpr inside transform/aggregate,
  *                   no row UDF in the per-pair path
  *   - text_cos      TF-IDF cosine of the entity abstract vs the account's
  *                   aggregated corpus text (DBTextScorerv2.java:38-42,
  *                   BuildUserLSA.java:54-58 — Features.textVectors)
  *   - desc_overlap  |tokens(desc) ∩ tokens(abstract)| / |tokens(desc)|
  *                   (DescriptionScorer.java:30-51)
  *   - sg_cos        cosine of the entity embedding vs the account's
  *                   social-graph embedding (weighted followee average,
  *                   SocialGraphEmbeddings.java:38-44)
  *   - log_followers / log_freq (FollowersScorer.java:11-18 log scaling)
  *   - verified      (VerifiedScorer.java:11-14)
  *
  * score = sigmoid(w·x + b) as Column arithmetic. The per-pair stage is
  * UDF-free: string/name normalization runs once on the (small) dimension
  * tables; every per-pair expression is built-ins + the codegen
  * JaroWinklerExpr, and all fp folds follow a sorted order shared with the
  * scalar oracle (ScalarOracle.scala) for bitwise equality.
  *
  * Selection (W3, PrepareTrainingSet.java:904-926): per entity the argmax
  * wins only if (best − second) > margin AND best > minScore.
  *
  * Scale notes: candidates ⋈ entities is broadcast on the entity dim;
  * candidates ⋈ accounts joins on account_id — at 10^12-file scale the
  * accounts dim may exceed broadcast size, so that join stays a shuffle
  * hash join on a key whose cardinality is bounded by topK × |entities|.
  * The feature tables (accVec, sgVec) join the accounts dim on account_id
  * BEFORE the pair join, so per-pair rows never recompute them.
  */
object Scorer {

  /** F20 (ISWC17Strategy.java:86-92): append all C(n,2) pairwise products
    * of the base feature columns — generated Column exprs, no UDF.
    */
  def withCrossProducts(df: DataFrame, featureCols: Seq[String]): DataFrame =
    featureCols.combinations(2).foldLeft(df) { case (d, Seq(a, b)) =>
      d.withColumn(s"${a}_x_$b", col(a) * col(b))
    }

  /** Dim-side normalizations (run once per entity/account row, not per pair). */
  val namesNormUdf = udf((names: Seq[String]) =>
    if (names == null) Seq.empty[String]
    else names.map(n => Text.swapLastFirst(Text.normalizeName(n))))

  val normNameUdf = udf((s: String) => Text.normalizeName(s))

  /** Distinct tokens carried as xxhash64 hashes (graft.ops.Dedup.xxLane
    * mirrors the Catalyst expression, and the scalar oracle hashes with the
    * same function): the arrays ride the entity broadcast and the per-pair
    * intersect, so 8-byte longs beat strings on both; a cross-token
    * collision needs ~|vocab|²/2⁶⁴ luck and the oracle collides
    * identically. Hashed-then-distinct so both sides count set-wise.
    */
  val distinctTokensUdf = udf((s: String) =>
    Text.tokens(s).distinct.map(graft.ops.Dedup.xxLane(0, _)).distinct.toSeq)

  /** Mean Jaro-Winkler of the candidate name vs all (pre-normalized) entity
    * names — F5 as a native codegen fold over the names array
    * (functions/VectorKernels.scala; the previous `aggregate` higher-order
    * form was interpreted — ArrayAggregate is CodegenFallback — on the
    * per-pair frame). Same ascending-index fold and sum/size division;
    * null/empty names or null candidate → 0.0 like the old coalesce.
    */
  def nameSimCol(namesNorm: Column, candNorm: Column): Column =
    graft.functions.VectorKernels.nameSim(namesNorm, candNorm)

  /** Per-pair feature table (entity_id, account_id, screen_name, freq,
    * name_sim, text_cos, desc_overlap, sg_cos, log_followers, log_freq,
    * verified_f) — the UDF-free feature stage, exposed separately from the
    * weighting so weights can be swept without recomputing features.
    */
  /** Default candidates ⋈ entity-dim strategy: broadcast the entity side.
    * Measured A/B at 2M files/local[16] — the plain shuffle-join
    * alternative SORTS 5M+ candidate rows carrying the wide entity feature
    * payload (117s vs 44s for the stage). At true cluster scale with a dim
    * too big for broadcast, use [[bucketedEntJoin]] instead (both sides
    * bucketed on entity_id — co-located join, no Exchange on either side).
    */
  val broadcastEntJoin: (DataFrame, DataFrame) => DataFrame =
    (cands, ent) => cands.join(broadcast(ent), Seq("entity_id"))

  /** Bucket count of the pipeline's bucketed featurize tables. */
  val FeaturizeBuckets = 64

  /** The scale path for the pair join (conf.bucketedFeaturize): write both
    * sides as tables bucketed + sorted on entity_id, read back, join —
    * the scans report HashPartitioning(entity_id), so the join plans with
    * ZERO Exchange (BucketingSpec asserts this and output equality with the
    * broadcast path). At cluster scale the bucketed candidates/entity-dim
    * tables would live once per pipeline run and feed every downstream
    * consumer with co-located reads.
    */
  /** Serializes writers per table prefix within this JVM (keeps the
    * generation numbering race-free in-process; cross-JVM collisions are
    * handled by the per-run uuid tag in the table name).
    */
  private val bucketLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val GenDirRe = """.*_g(\d+)_[0-9a-f]{8}_(candidates|entity_dim)""".r

  /** Bucketed pair join with GENERATION-UNIQUE table names.
    *
    * The old drop→rewrite on a fixed name had an unfixable reader race:
    * a concurrent same-prefix run (parallel Scaling sessions sharing one
    * warehouse — possibly other JVMs) deletes the files a straggling
    * reader's lazily-planned scan still references, and even a temp-write +
    * rename swap moves the files out from under it. Instead every run
    * writes fresh `${prefix}_g<N>_<uuid8>_{candidates,entity_dim}` tables
    * (no reset, no shared-name window at all) and then retires generations
    * ≤ N-2: the immediately-previous generation survives one full rewrite
    * cycle, so a reader that resolved before this run began keeps its
    * files. Disk stays bounded at ≤2 generations per prefix.
    */
  def bucketedEntJoin(spark: SparkSession, nBuckets: Int,
      prefix: String = "graft_feat"): (DataFrame, DataFrame) => DataFrame =
    (cands, ent) => {
      val (ct, et) = bucketLocks.computeIfAbsent(prefix, _ => new Object)
        .synchronized {
          val hconf = spark.sparkContext.hadoopConfiguration
          val wh = new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"))
          val fs = wh.getFileSystem(hconf)
          val gens: Seq[(Long, String)] =
            if (!fs.exists(wh)) Seq.empty
            else fs.listStatus(wh).toSeq.map(_.getPath.getName).collect {
              case n @ GenDirRe(g, _) if n.startsWith(s"${prefix}_g") =>
                (g.toLong, n)
            }
          val gen = gens.map(_._1).foldLeft(0L)(math.max) + 1
          val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
          val ct = s"${prefix}_g${gen}_${tag}_candidates"
          val et = s"${prefix}_g${gen}_${tag}_entity_dim"
          // the two table builds are independent jobs (candidate rollup vs
          // the entity-dim feature chain) — submit them concurrently so
          // their serial driver phases (planning, commit protocol) and
          // ragged stage tails overlap instead of adding up
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          val fc = Future {
            cands.write.format("parquet")
              .bucketBy(nBuckets, "entity_id").sortBy("entity_id").saveAsTable(ct)
          }
          val fe = Future {
            ent.write.format("parquet")
              .bucketBy(nBuckets, "entity_id").sortBy("entity_id").saveAsTable(et)
          }
          try { Await.result(fc, Duration.Inf); Await.result(fe, Duration.Inf) }
          catch { case e: Throwable =>
            // don't leave the sibling write racing outside the lock
            Await.ready(fc, Duration.Inf); Await.ready(fe, Duration.Inf)
            throw e
          }
          // retire generations old enough that no reader can still hold
          // them (≤ gen-2 — the previous generation survives this cycle);
          // DROP covers tables this JVM's shared catalog knows, fs.delete
          // covers another JVM's leftovers the catalog never heard of
          gens.filter(_._1 <= gen - 2).foreach { case (_, dir) =>
            spark.sql(s"DROP TABLE IF EXISTS `$dir`")
            val p = new org.apache.hadoop.fs.Path(wh, dir)
            if (fs.exists(p)) fs.delete(p, true)
          }
          (ct, et)
        }
      spark.table(ct).join(spark.table(et), Seq("entity_id"))
    }

  /** The two dimension-side feature frames — acc(account_id, …features) and
    * ent(entity_id, …features) — extracted from featurize so the pipeline
    * can build them CONCURRENTLY with the candidate chain: the only eager
    * point in here (textVectors' accTok localCheckpoint) is independent of
    * the dictionary/candidates jobs, and running the two driver-blocking
    * chains on one thread serializes ~10 s of per-run floor at bench scale
    * (Pipeline.compute overlaps them on a Future, the same pattern as the
    * two bucketed table writes below).
    */
  def dims(entities: DataFrame, accounts: DataFrame, scan: DataFrame,
      accountEmbeddings: DataFrame, entityEmbeddings: DataFrame)
      : (DataFrame, DataFrame) = {
    // both corpus-derived feature tables read the one Scan.products frame
    // (zero corpus reads here)
    val (accVec, entVec) = Features.textVectors(scan, accounts, entities)
    val sgVec = Features.sgVectors(
      Features.socialEdges(scan, accounts), accountEmbeddings)

    // F12 homepage alignment lookup (HomepageAlignmentsScorer.java:28-35):
    // url → number of accounts carrying it. Only urls that equal some
    // entity homepage can ever feed a home_* feature (hp_count attaches to
    // entities by homepage equality), so restrict FIRST with a semi-join
    // against the entity homepage set: the grouped/broadcast frame is then
    // O(|entity homepages ∩ account urls|), not O(|accounts|) — the
    // accounts dim grows with the corpus, the intersection doesn't.
    // Left-semi keeps count semantics identical (it filters urls, never
    // multiplies rows); coalesce(...,0) below covers filtered-out urls
    // exactly like never-matching ones.
    val entHomepages = entities.filter(col("homepage") =!= "")
      .select(col("homepage").as("url")).distinct()
    val hpCounts = accounts.filter(col("url") =!= "")
      .join(entHomepages, Seq("url"), "left_semi")
      .groupBy(col("url")).agg(count(lit(1)).as("hp_count"))
      .withColumnRenamed("url", "homepage")

    val ent = entities.select(col("id").as("entity_id"),
        namesNormUdf(col("names")).as("names_norm"),
        distinctTokensUdf(col("abstractText")).as("abs_tok"),
        col("homepage"))
      .join(broadcast(hpCounts), Seq("homepage"), "left")
      .withColumn("hp_count", coalesce(col("hp_count"), lit(0L)))
      .join(entVec.withColumnRenamed("tvec", "e_tvec")
        .withColumnRenamed("tnorm", "e_tnorm"), Seq("entity_id"), "left")
      .join(entityEmbeddings.select(col("entityId").as("entity_id"),
        col("vec").as("evec")), Seq("entity_id"), "left")
    val acc = accounts.select(col("accountId").as("account_id"),
        col("screenName").as("screen_name"),
        normNameUdf(col("name")).as("account_name_norm"),
        distinctTokensUdf(col("description")).as("desc_tok"),
        col("followers"), col("friends"), col("listed"), col("statuses"),
        col("verified"), col("url"), col("lastStatusAt"))
      .join(accVec.withColumnRenamed("tvec", "a_tvec")
        .withColumnRenamed("tnorm", "a_tnorm"), Seq("account_id"), "left")
      .join(sgVec, Seq("account_id"), "left")
    (acc, ent)
  }

  def featurize(candidates: DataFrame, entities: DataFrame, accounts: DataFrame,
      scan: DataFrame, accountEmbeddings: DataFrame,
      entityEmbeddings: DataFrame,
      entJoin: (DataFrame, DataFrame) => DataFrame = broadcastEntJoin,
      nowMs: Long = CorpusGen.NowMs,
      prebuiltDims: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (acc, ent) = prebuiltDims.getOrElse(
      dims(entities, accounts, scan, accountEmbeddings, entityEmbeddings))

    // Join order matters for shuffle traffic: candidates ⋈ acc FIRST (only
    // the narrow (entity_id, account_id, freq, rank) rows shuffle on
    // account_id — the acc side is already hash-clustered on account_id by
    // its own builds), THEN the entity dim, broadcast/bucketed, attaches
    // its wide payload (name arrays, tvec entries, embedding) map-side.
    // The old order (ent first) shuffled 5M pair rows CARRYING the entity
    // payload by account_id — the widest shuffle of the whole pipeline.
    // Inner equi-joins commute, so the output is row-identical.
    val joined = entJoin(candidates.join(acc, Seq("account_id")), ent)

    val descOverlap = coalesce(
      when(size(col("desc_tok")) > 0,
        size(array_intersect(col("desc_tok"), col("abs_tok"))).cast("double") /
          size(col("desc_tok")).cast("double")),
      lit(0.0))

    joined.select(col("entity_id"), col("account_id"), col("screen_name"),
      col("freq"),
      nameSimCol(col("names_norm"), col("account_name_norm")).as("name_sim"),
      Features.textCosCol(col("e_tvec"), col("e_tnorm"),
        col("a_tvec"), col("a_tnorm")).as("text_cos"),
      descOverlap.as("desc_overlap"),
      coalesce(graft.ops.Similarity.cosineCol(col("evec"), col("sgvec")),
        lit(0.0)).as("sg_cos"),
      log(10.0, col("followers").cast("double") + lit(1.0)).as("log_followers"),
      log(10.0, col("freq").cast("double") + lit(1.0)).as("log_freq"),
      col("verified").cast("double").as("verified_f"),
      // F6 popularity family — the reference's guarded natural logs
      // (FriendsScorer/ListedScorer/StatusesScorer.java:11-18, ≤0 → 0)
      // and the followers/friends ratio
      // (FollowersFriendsRatioScorer.java:11-18: ln(followers/friends))
      when(col("friends") > 0, log(col("friends").cast("double")))
        .otherwise(0.0).as("log_friends"),
      when(col("listed") > 0, log(col("listed").cast("double")))
        .otherwise(0.0).as("log_listed"),
      when(col("statuses") > 0, log(col("statuses").cast("double")))
        .otherwise(0.0).as("log_statuses"),
      when(col("friends") > 0 && col("followers") > 0,
        log(col("followers").cast("double") / col("friends").cast("double")))
        .otherwise(0.0).as("ff_ratio"),
      // F12 lookup binaries (HomepageAlignmentsScorer.java:79-113):
      // the pair's urls match / the entity homepage is known to the lookup
      // / the match is unique across accounts
      when(col("homepage") =!= "" && col("url") === col("homepage"), 1.0)
        .otherwise(0.0).as("home_match"),
      when(col("homepage") =!= "" && col("hp_count") >= 1, 1.0)
        .otherwise(0.0).as("home_exists"),
      when(col("homepage") =!= "" && col("url") === col("homepage") &&
        col("hp_count") === 1, 1.0).otherwise(0.0).as("home_unique"),
      // F9 activity recency (ActivityScorer.java:14-33): continuous days
      // since the last status, capped at MAX_DAYS=100; a missing status
      // (lastStatusAt=0) scores the cap. `nowMs` is a parameter for
      // determinism (the reference reads wall clock)
      when(col("lastStatusAt") <= 0, lit(100.0))
        .otherwise(least(
          (lit(nowMs) - col("lastStatusAt")).cast("double") / lit(86400000.0),
          lit(100.0))).as("recency_days"),
      // F11 return order (ReturnOrderScorer.java:18-21): the candidate's
      // 0-based position in the (freq desc, account_id asc) candidate list
      (col("rank") - lit(1)).cast("double").as("order_f"))
  }

  /** alignments(entity_id, account_id, screen_name, freq, score, rank,
    * is_alignment) — rank recomputed by (score desc, account_id asc).
    */
  def score(candidates: DataFrame, entities: DataFrame, accounts: DataFrame,
      scan: DataFrame, accountEmbeddings: DataFrame,
      entityEmbeddings: DataFrame, conf: KgConf = KgConf(),
      prebuiltDims: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val entJoin =
      if (conf.bucketedFeaturize)
        bucketedEntJoin(candidates.sparkSession, FeaturizeBuckets,
          conf.featurizePrefix)
      else broadcastEntJoin
    val feats = featurize(candidates, entities, accounts, scan,
      accountEmbeddings, entityEmbeddings, entJoin, conf.nowMs, prebuiltDims)
    val z =
      lit(conf.wName) * col("name_sim") +
      lit(conf.wText) * col("text_cos") +
      lit(conf.wDesc) * col("desc_overlap") +
      lit(conf.wSg) * col("sg_cos") +
      lit(conf.wFollowers) * col("log_followers") +
      lit(conf.wFreq) * col("log_freq") +
      lit(conf.wVerified) * col("verified_f") +
      lit(conf.wFriends) * col("log_friends") +
      lit(conf.wListed) * col("log_listed") +
      lit(conf.wStatuses) * col("log_statuses") +
      lit(conf.wFfRatio) * col("ff_ratio") +
      lit(conf.wHomeMatch) * col("home_match") +
      lit(conf.wHomeExists) * col("home_exists") +
      lit(conf.wHomeUnique) * col("home_unique") +
      lit(conf.wRecency) * col("recency_days") +
      lit(conf.wOrder) * col("order_f") +
      lit(conf.bias)
    val scored = feats.withColumn("score", lit(1.0) / (lit(1.0) + exp(-z)))

    val w = Window.partitionBy(col("entity_id"))
      .orderBy(col("score").desc, col("account_id").asc)
    scored
      .withColumn("score_rank", row_number().over(w))
      .withColumn("second_score",
        coalesce(lead(col("score"), 1).over(w), lit(0.0)))
      .withColumn("is_alignment",
        col("score_rank") === 1 &&
          col("score") - col("second_score") > lit(conf.margin) &&
          col("score") > lit(conf.minScore))
      .select(col("entity_id"), col("account_id"), col("screen_name"),
        col("freq"), col("score"), col("score_rank").as("rank"),
        col("is_alignment"))
  }

  /** A12: P/R/F1 vs gold with reference abstain semantics
    * (CustomEvaluation.java:30-53): right pick → TP; wrong pick → FP+FN;
    * abstain on an entity that has a gold account → FN.
    */
  def evaluate(alignments: DataFrame, gold: DataFrame): DataFrame = {
    val picks = alignments.filter(col("is_alignment"))
      .select(col("entity_id"), col("account_id").as("picked"))
    val g = gold.select(col("entity").as("entity_id"),
      col("accountId").as("gold_account"))
    val j = g.join(picks, Seq("entity_id"), "left")
    j.agg(
      sum(when(col("picked") === col("gold_account"), 1).otherwise(0)).as("tp"),
      sum(when(col("picked").isNotNull &&
        (col("gold_account") < 0 || col("picked") =!= col("gold_account")), 1)
        .otherwise(0)).as("fp"),
      sum(when(col("gold_account") >= 0 &&
        (col("picked").isNull || col("picked") =!= col("gold_account")), 1)
        .otherwise(0)).as("fn"))
      .withColumn("precision", col("tp") / greatest(col("tp") + col("fp"), lit(1)))
      .withColumn("recall", col("tp") / greatest(col("tp") + col("fn"), lit(1)))
      .withColumn("f1", lit(2.0) * col("precision") * col("recall") /
        greatest(col("precision") + col("recall"), lit(1e-9)))
  }

  /** A12 grid sweep (PrepareTrainingSet.java:936-1039): ONE DataFrame job
    * evaluating every (minScore, margin) decision point of the reference's
    * 20×5 grid. Scores are fixed per pair — only the selection rule varies
    * — so the per-entity (best, second, picked) triple is computed once and
    * cross-joined with the 100-point grid.
    */
  def gridEvaluation(alignments: DataFrame, gold: DataFrame,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    val best = alignments.filter(col("rank") === 1)
      .select(col("entity_id"), col("account_id").as("picked"),
        col("score").as("best"))
    val second = alignments.filter(col("rank") === 2)
      .select(col("entity_id"), col("score").as("second"))
    val per = best.join(second, Seq("entity_id"), "left")
      .withColumn("second", coalesce(col("second"), lit(0.0)))
    val grid = (for {
      ms <- 0 until 20
      mg <- 0 until 5
    } yield (ms * 0.05, mg * 0.1)).toDF("min_score", "margin")
    val g = gold.select(col("entity").as("entity_id"),
      col("accountId").as("gold_account"))
    val decided = g.join(per, Seq("entity_id"), "left")
      .crossJoin(broadcast(grid))
      .withColumn("picked_ok",
        col("picked").isNotNull &&
          col("best") - col("second") > col("margin") &&
          col("best") > col("min_score"))
    decided.groupBy(col("min_score"), col("margin"))
      .agg(
        sum(when(col("picked_ok") && col("picked") === col("gold_account"), 1)
          .otherwise(0)).as("tp"),
        sum(when(col("picked_ok") &&
          (col("gold_account") < 0 || col("picked") =!= col("gold_account")), 1)
          .otherwise(0)).as("fp"),
        sum(when(col("gold_account") >= 0 &&
          (!col("picked_ok") || col("picked") =!= col("gold_account")), 1)
          .otherwise(0)).as("fn"))
      .withColumn("precision", col("tp") / greatest(col("tp") + col("fp"), lit(1)))
      .withColumn("recall", col("tp") / greatest(col("tp") + col("fn"), lit(1)))
      .withColumn("f1", round(lit(2.0) * col("precision") * col("recall") /
        greatest(col("precision") + col("recall"), lit(1e-9)), 6))
      .select(col("min_score"), col("margin"), col("tp"), col("fp"), col("fn"),
        round(col("precision"), 6).as("precision"),
        round(col("recall"), 6).as("recall"), col("f1"))
  }

  /** A13 candidate-distribution diagnostics (PrepareTrainingSet.java:332-415):
    * per-rank gold-candidate histogram, index loss (gold account absent
    * from the pre-cutoff rollup), cutoff loss (present but beyond topK),
    * and the max candidate fan-in. Output rows (stat, ord, n); ord = -1
    * for scalar stats.
    */
  def candidateStats(rollupAll: DataFrame, candidates: DataFrame,
      gold: DataFrame): DataFrame = {
    val g = gold.filter(col("accountId") >= 0)
      .select(col("entity").as("entity_id"), col("accountId").as("account_id"))
    // the union below references the rollup in 2 branches and the candidate
    // frame in 3 — and NEITHER is persisted by its producer, so each branch
    // re-evaluates the full dictionary-join → rollup (→ top-K) chain (the
    // whole diagnostic ran ~5 chain evaluations; 17 s of a 69 s bench sweep).
    // Checkpoint the NARROW key projections once: the chains run once each
    // and every branch reads 2-3 tiny columns; ContextCleaner releases the
    // blocks on GC (same pattern as rollupAll's internal checkpoints). Not
    // lazy despite eager = false: under AQE, Dataset.checkpoint finalizes
    // the adaptive plan, so both chains' shuffle stages run here, while
    // this frame is built, not at the consumer's action.
    val rollupKeys = rollupAll.select(col("entity_id"), col("account_id"))
      .localCheckpoint(false)
    val candKeyRank = candidates
      .select(col("entity_id"), col("account_id"), col("rank"))
      .localCheckpoint(false)
    val candKeys = candKeyRank.select(col("entity_id"), col("account_id"))
    def scalarRow(df: DataFrame, stat: String): DataFrame =
      df.agg(count(lit(1)).as("n"))
        .select(lit(stat).as("stat"), lit(-1L).as("ord"), col("n"))
    // every stat is a lazy aggregation — the whole diagnostic surface is ONE
    // DataFrame and runs as a single job at the consumer's action (the old
    // form collected 4 driver-side counts, and max() NPE'd on an empty
    // candidates frame)
    val nGold = scalarRow(g, "n_gold")
    val indexLoss = scalarRow(
      g.join(rollupKeys, Seq("entity_id", "account_id"), "left_anti"),
      "index_loss")
    val cutoffLoss = scalarRow(
      g.join(rollupKeys, Seq("entity_id", "account_id"), "left_semi")
        .join(candKeys, Seq("entity_id", "account_id"), "left_anti"),
      "cutoff_loss")
    val maxCand = candKeyRank.groupBy(col("entity_id")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("n"))
      .select(lit("max_candidates").as("stat"), lit(-1L).as("ord"), col("n"))
    val hist = g.join(candKeyRank, Seq("entity_id", "account_id"))
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n"))
      .select(lit("order_hist").as("stat"), col("rank").cast("long").as("ord"),
        col("n"))
    nGold.unionByName(indexLoss).unionByName(cutoffLoss).unionByName(maxCand)
      .unionByName(hist)
  }
}
