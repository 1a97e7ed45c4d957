package slbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** docs_dedup: the four LSH near-duplicate families and `dupClusters` on
  * a seeded set of ~300-character documents and 64-d vectors. A rep
  * collects every family's pairs, then clusters the union of the three
  * text families' pairs.
  *
  * Inputs hold planted near-duplicate clusters (the recall ground truth)
  * and a boilerplate share: documents that repeat one long template, so
  * they collide in LSH bands and form hot buckets (still below the
  * families' bucket caps), yet stay below every similarity threshold.
  */
final class DocsDedup(spark: SparkSession, probe: Probe, gen: DocsGen, work: String)
    extends Workload {
  import spark.implicits._
  import DocsDedup._

  final case class Out(pairs: Map[String, Seq[(Long, Long)]], clusters: Seq[(Long, Long)])

  private val in = s"$work/in"
  private val counted = mutable.LinkedHashMap.empty[String, Double]
  private var planted: Map[String, Set[(Long, Long)]] = Map.empty
  // the traced rep's pairs, for the funnel counts computed after it
  private var tracedPairs: Map[String, Seq[(Long, Long)]] = Map.empty

  def rows: Long = gen.nDocs.toLong

  def setup(): Unit = {
    gen.docs.toSeq.toDF("doc_id", "text").repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$in/docs")
    gen.vectors.toSeq.toDF("vec_id", "embedding").repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$in/embs")
    // the recall denominator: planted pairs whose exact similarity clears
    // each family's threshold
    planted = Families.map(f => f -> gen.plantedPairs.filter(p => gen.passes(f, p._1, p._2, slack = -1e-6)).toSet).toMap
    Log.info(s"docs: ${gen.nDocs}, planted pairs ${gen.plantedPairs.size}, eligible " +
      planted.map { case (f, s) => s"$f=${s.size}" }.mkString(" "))
  }

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.select(df.columns(0), df.columns(1)).as[(Long, Long)].collect().toSeq

  def run(rep: Int, traced: Boolean): Out = {
    val docs = spark.read.parquet(s"$in/docs")
    val embs = spark.read.parquet(s"$in/embs")
    def family(f: String)(df: => DataFrame): Seq[(Long, Long)] =
      if (!traced) pairsOf(df)
      else {
        val p = probe.span(s"dedup.$f")(pairsOf(df))
        counted(s"dedup.$f.rows_out") = p.size.toDouble
        p
      }
    val mh = family("minhash")(Dedup.minhashNearDups(docs))
    val ng = family("ngram")(Dedup.ngramJaccard(docs))
    val sh = family("simhash")(Dedup.simhashNearDups(docs))
    val em = family("embedding")(Dedup.embeddingNearDups(embs, gen.nDocs.toLong,
      threshold = EmbThreshold))
    val edges = (mh ++ ng ++ sh).distinct.toDF("doc_a", "doc_b")
    val cl = family("clusters")(Dedup.dupClusters(edges))
    val pairs = Map("minhash" -> mh, "ngram" -> ng, "simhash" -> sh, "embedding" -> em)
    if (traced) tracedPairs = pairs
    Out(pairs, cl)
  }

  /** LSH funnel counts of the traced rep (candidate pairs from the public
    * band functions, dropped hot buckets). They are computed after the
    * rep, so they add nothing to its wall time or to the family spans.
    */
  override def traceExtra(): Boolean = {
    val docs = spark.read.parquet(s"$in/docs")
    val embs = spark.read.parquet(s"$in/embs")
    probe.span("funnel") {
      val planes = Dedup.planesFor(gen.nDocs.toLong)
      val tables = Dedup.tablesFor(planes, EmbThreshold)
      val simBands = docs.select(col("doc_id"), Dedup.simhashUdf(Dedup.tokensCol(col("text"))).as("sim"))
        .select(col("doc_id"), explode(array((0 until 4).map(b => struct(lit(b).as("band_id"),
          shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_hash"))): _*)).as("b"))
        .select(col("doc_id"), col("b.band_id"), col("b.band_hash"))
      val sigs = Map(
        "minhash" -> (Dedup.minhashBands(docs), 256),
        "ngram" -> (Dedup.ngramBands(docs), 256),
        "simhash" -> (simBands, 4096),
        "embedding" -> (Dedup.embeddingBands(embs, gen.nDocs.toLong, 64, tables, planes)
          .select(col("vec_id").as("doc_id"), col("table_id").as("band_id"), col("bits").as("band_hash")), 1024))
      sigs.foreach { case (f, (s, cap)) =>
        val cand = Dedup.candidatePairs(s, cap).count().toDouble
        counted(s"dedup.$f.candidate_pairs") = cand
        counted(s"dedup.$f.dropped_buckets") = Dedup.droppedBuckets(s, cap).count().toDouble
        counted(s"dedup.$f.verified_pairs") = tracedPairs(f).size.toDouble
        counted(s"dedup.$f.verify_yield") = tracedPairs(f).size / math.max(cand, 1.0)
      }
    }
    true
  }

  def verify(out: Out): Verdict = {
    val (verdict, recall) = DocsDedup.check(gen, planted, out.pairs, out.clusters)
    Families.foreach(f => counted(s"dedup.$f.recall") = recall(f))
    verdict
  }

  def cleanup(out: Out): Unit = ()

  def counters: Map[String, Double] = counted.toMap
}

object DocsDedup {
  val Families: Seq[String] = Seq("minhash", "ngram", "simhash", "embedding")
  val Layers: Seq[String] = Families :+ "clusters"
  val EmbThreshold = 0.9

  /** Re-verifies every output pair against its family's threshold with
    * the benchmark's own similarity code, checks the clusters against a
    * union-find over the same pairs, and measures recall of the eligible
    * planted pairs. Returns the verdict and the per-family recall.
    */
  def check(gen: DocsGen, planted: Map[String, Set[(Long, Long)]],
      pairs: Map[String, Seq[(Long, Long)]], clusters: Seq[(Long, Long)])
      : (Verdict, Map[String, Double]) = {
    val errors = mutable.ArrayBuffer.empty[String]
    val recall = Families.map { f =>
      val ps = pairs(f)
      if (ps.distinct.size != ps.size) errors += s"$f: duplicate pairs"
      ps.find { case (a, b) => !(a < b) || !gen.passes(f, a, b) }
        .foreach(p => errors += s"$f: pair $p is below the threshold or malformed")
      val want = planted(f)
      f -> (if (want.isEmpty) 1.0 else want.count(ps.toSet).toDouble / want.size)
    }.toMap
    val edges = (pairs("minhash") ++ pairs("ngram") ++ pairs("simhash")).distinct
    val expected = DocsDedup.components(edges)
    if (clusters.toMap != expected || clusters.size != expected.size)
      errors += s"clusters differ from the union-find over the pairs (${clusters.size} vs ${expected.size} members)"
    val fp = (Families.map(f => f -> pairs(f).sorted) :+ ("clusters" -> clusters.sorted))
      .map { case (f, xs) => s"$f=${xs.size}/${xs.hashCode}" }.mkString(",")
    (Verdict(fp, errors.isEmpty, recall.values.min, errors.mkString("; ")), recall)
  }

  /** member → min member of its connected component, members of ≥1 edge. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
