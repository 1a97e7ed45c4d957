package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Reuse

/** Stage 5: canonicalization — connected components over high-confidence
  * same-as edges (score ≥ strongThreshold, ScoreEntities.java:141), every
  * node rewritten to its component representative (min id).
  *
  * GraphFrames is not on the classpath (SURVEY §7.0), so this is a pure
  * DataFrame implementation of alternating min-label propagation (the
  * large-star/small-star family, Kiveris et al. "Connected Components in
  * MapReduce and Beyond", SOCC'14): each round joins the current labels to
  * the symmetrized edge list, takes min(neighbor label, own label), and
  * stops when no label changes. Rounds are O(log n) on these graphs;
  * `Reuse.materialize` cuts lineage each round so plans stay flat.
  *
  * Scale notes: every round is one shuffle on node id; the edge list is
  * symmetrized once up front. Skewed celebrity components are bounded by
  * topK per entity, and AQE skew-join splitting is on (Pipeline session
  * conf). Convergence check is a single count on the changed-rows filter.
  */
object Canonicalize {

  /** edges(src, dst) — undirected pairs; nodes are IRI strings.
    *
    * Single-hop min-label propagation: converges in O(diameter) rounds
    * (strong-edge graphs here are entity→account stars, diameter 2, so
    * 3-4 rounds in practice; NOT the O(log n) large-star/small-star bound —
    * that variant rewires edges each round and isn't needed at these
    * diameters). Throws if maxIter is exhausted before the fixpoint —
    * silently returning non-converged labels would mean wrong components.
    */
  def components(spark: SparkSession, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // Reuse.materialize (eager) BOTH materializes and TRUNCATES the logical
    // plan. Each round's plan embeds the previous round's frame twice
    // (once in the neighbor join, once in the union), so without lineage
    // truncation the plan tree doubles per round — exponential analysis
    // cost by iteration ~15 (the classic iterative-DataFrame trap; persist
    // alone caches data but keeps the logical plan growing).
    val sym = Reuse.materialize(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct(), "components.edges")

    // seed with round 1's result for free: starting labels are usually
    // labels₀(node) = node, and the first loop round computes
    // min(node, min(neighbor ids)) — exactly one aggregation over `sym`,
    // the same Exchange the old `.distinct()` init paid. Seeding there
    // skips one full join+union+checkpoint+count round; the remaining
    // trajectory (and the fixpoint) is identical because min-label
    // propagation is monotone and this is the loop's own round-1 state.
    var labels = Reuse.materialize(sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mind"))
      .select(col("src").as("node"),
        least(col("src"), col("mind")).as("comp")), "components.labels")

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // min over own label and all neighbors' labels; the own row carries
      // the previous label so the convergence check ("did any node's label
      // change?") folds into the SAME aggregation — one job per round, no
      // extra join (the old-label max is exact: each node has exactly one
      // own row, neighbor rows carry null).
      // the null's type MUST come from the actual label column: dupClusters
      // feeds LONG doc_ids through here, and a hardcoded string null would
      // widen `old` to string in the union — the changed-count comparison
      // would then be bigint-vs-string, which non-ANSI Spark resolves by
      // casting both to DOUBLE, where distinct labels above 2^53 compare
      // equal (early false convergence → wrong representatives).
      val viaNeighbors = sym
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("comp"),
          lit(null).cast(labels.schema("comp").dataType).as("old"))
      val next = Reuse.materialize(viaNeighbors
        .unionByName(labels.select(col("node"), col("comp"), col("comp").as("old")))
        .groupBy(col("node"))
        .agg(min(col("comp")).as("comp"), max(col("old")).as("old")), "components.round")
      val changed = next.filter(col("comp") =!= col("old")).count()
      labels = next.select(col("node"), col("comp"))
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds — " +
          "labels would be wrong; raise maxIter for high-diameter graphs")
    labels
  }

  /** Strong alignment edges: entity ↔ account IRI. */
  def strongEdges(alignments: DataFrame, conf: KgConf = KgConf()): DataFrame =
    alignments
      .filter(col("is_alignment") && col("score") >= lit(conf.strongThreshold))
      .select(col("entity_id").as("src"),
        Triples.accountIri(col("screen_name")).as("dst"))

  /** Closed-form components for a union of STARS: every src node has at
    * most one edge (dsts are the star centers). The component of a star is
    * {dst} ∪ {srcs of dst}, so its min-label representative is
    * `least(dst, min(src))` — ONE aggregation, no iteration.
    *
    * This is exactly the strong-alignment-edge shape: the argmax-with-margin
    * window (Scorer W3) emits at most one `is_alignment` row per entity, so
    * each entity (src) carries at most one edge while an account IRI (dst)
    * may center many entities. The generic loop above costs
    * O(diameter) driver round-trips (eager materialize + count per
    * round, ~10 jobs) — pure fixed overhead per pipeline run that stopped
    * amortizing once the parallel stages got fast; this form is fully lazy
    * inside the consumer's plan (StarComponentsSpec pins equality with the
    * generic loop, KgPipelineSpec pins the end-to-end triple set).
    *
    * Returns only the SRC nodes' labels (node, comp) — star centers label
    * trivially as their own component and no caller consumes them.
    */
  def starComponents(edges: DataFrame): DataFrame = {
    val comps = edges.groupBy(col("dst"))
      .agg(min(col("src")).as("min_src"))
      .select(col("dst"), least(col("min_src"), col("dst")).as("comp"))
    edges.join(comps, Seq("dst"))
      .select(col("src").as("node"), col("comp"))
  }

  /** entity_id → representative: one row per entity of `alignments`, an
    * entity in no component mapping to itself. Triples.materialize emits
    * these rows as its owl:sameAs triples.
    */
  def representatives(spark: SparkSession, alignments: DataFrame,
      conf: KgConf = KgConf()): DataFrame = {
    // ≤1 row per entity by the star precondition, so the left join below
    // never multiplies rows
    val comps = starComponents(strongEdges(alignments, conf))
    // rank = 1 ⇔ one row per entity (row_number over the entity partition,
    // Scorer.score) — the distinct entity set as a map-side filter, no
    // dedup Exchange over |entities|×topK rows
    alignments.filter(col("rank") === 1).select(col("entity_id"))
      .join(comps.withColumnRenamed("node", "entity_id"), Seq("entity_id"), "left")
      .select(col("entity_id"), coalesce(col("comp"), col("entity_id")).as("rep"))
  }
}
