package graft.ops

import graft.functions.VectorKernels.cosineSim
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>), two tiers:
  *
  *   - `bruteForceTopK` — exact cosine top-k: broadcast the (small) query
  *     set against the corpus, score with the compiled cosine kernel,
  *     keep top-k per query via WindowGroupLimit. Baseline + verifier.
  *   - `ivfTopK` — the scale path: k-means-lite IVF. Centroids are fixed
  *     pseudo-random unit-ish vectors (deterministic — no Date/rand);
  *     every corpus vector is assigned to its nearest centroid once
  *     (one narrow pass), queries probe only `nProbe` nearest cells, so
  *     the candidate join is |queries| × (nProbe/nCells) × |corpus|.
  *
  * At 100 TB the corpus side never broadcasts and never self-joins; the
  * IVF assignment is one map-side pass and the probe join shuffles on
  * cell id with bounded fan-out.
  */
object Similarity {

  /** `df` with its embedding widened to array<double> (exact), once per
    * row before any pair join: the compiled cosine reads doubles, and an
    * array cast on the scored pairs would build a new array per pair.
    */
  private def widened(df: DataFrame): DataFrame =
    df.withColumn("embedding", col("embedding").cast("array<double>"))

  /** Exact top-k by cosine for each query vector.
    * queries(query_id, embedding) is broadcast; corpus(vec_id, embedding).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val scored = widened(corpus).alias("c")
      .join(broadcast(widened(queries).alias("q")))
      .select(col("q.query_id").as("query_id"), col("c.vec_id").as("vec_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Deterministic pseudo-random centroid c as a scalar array (shared with
    * the generated DuckDB oracle, which embeds these as literals).
    */
  def centroidVec(c: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = graft.kg.CorpusGen.mix(0x9e3779b9L * (c + 1) + j * 1013904223L)
      ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }

  /** Deterministic pseudo-random centroid c (array literal, no data pass). */
  def centroidCol(c: Int, dim: Int): Column =
    array(centroidVec(c, dim).map(lit(_)).toSeq: _*)

  /** Nearest-centroid id among nCells fixed centroids (argmax cosine);
    * `emb` is array<double>, or it is widened once per centroid.
    */
  def cellOf(emb: Column, nCells: Int, dim: Int): Column = {
    val scores = (0 until nCells).map(c =>
      struct(cosineSim(emb, centroidCol(c, dim)).as("s"), lit(c).as("c")))
    array_max(array(scores: _*)).getField("c")
  }

  /** Top nProbe cells per query (by centroid cosine, descending); `emb`
    * as in [[cellOf]].
    */
  def probeCells(emb: Column, nCells: Int, dim: Int, nProbe: Int): Column = {
    val scores = (0 until nCells).map(c =>
      struct(cosineSim(emb, centroidCol(c, dim)).as("s"), lit(c).as("c")))
    slice(reverse(array_sort(array(scores: _*))), 1, nProbe).getField("c")
  }

  /** IVF ANN: probe `nProbe` of `nCells` inverted lists per query. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4, dim: Int = 32): DataFrame = {
    val assigned = widened(corpus).withColumn("cell", cellOf(col("embedding"), nCells, dim))
    val probes = widened(queries)
      .withColumn("cell", explode(probeCells(col("embedding"), nCells, dim, nProbe)))
    val scored = assigned.alias("c")
      .join(broadcast(probes.alias("q")), col("c.cell") === col("q.cell"))
      .select(col("q.query_id").as("query_id"), col("c.vec_id").as("vec_id"),
        cosineSim(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos"), col("rnk"))
  }

  /** Recall@k of the approximate result vs the exact one (quality metric). */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("vec_id")).alias("e")
      .join(approx.select(col("query_id"), col("vec_id")).alias("a"),
        Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
}
