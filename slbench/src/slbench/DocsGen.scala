package slbench

import scala.collection.mutable

/** Seeded documents and vectors for docs_dedup, and the benchmark's own
  * exact similarity functions (independent of `graft.ops.Dedup`), which
  * define the thresholds every output pair is re-verified against.
  *
  * Layout of `nDocs` documents of 50 five-letter words (300 characters):
  *   - `BoilerShare`: one fixed 36-word template plus 14 random words, so these
  *     documents share most LSH band keys while their pairwise similarity
  *     stays below every threshold (the hot buckets);
  *   - `ClusterShare`: planted clusters of 2-4 copies of a base document
  *     with 0-5 word substitutions each (the near duplicates);
  *   - the rest: independent random documents.
  * The shares are a design choice, not measured on real documents.
  * Every document has a 64-d vector; the members of a planted cluster get
  * the base vector plus Gaussian noise, so their cosines straddle 0.9.
  */
final class DocsGen(seed: Long, val nDocs: Int) {
  private val rng = new scala.util.Random(seed)
  // equal-length words keep the template's share of every document's
  // shingles and n-grams, and so the hot buckets' sizes, the same per seed
  private val vocab: Vector[String] = Vector.fill(3000) {
    (0 until 5).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
  }
  private def words(n: Int): Vector[String] = Vector.fill(n)(vocab(rng.nextInt(vocab.size)))
  private def gauss(): Array[Float] = Array.fill(DocsGen.Dim)(rng.nextGaussian().toFloat)

  // the boilerplate is the same text for every seed, like a licence
  // header, so the hot buckets it forms do not change size with the seed
  private val template = {
    val fixed = new scala.util.Random(0)
    Vector.fill(36)((0 until 5).map(_ => ('a' + fixed.nextInt(26)).toChar).mkString)
  }

  val (docs, vectors, plantedPairs) = {
    // (text, vector, cluster index or -1), shuffled before ids are given
    val made = mutable.ArrayBuffer.empty[(String, Array[Float], Int)]
    val nBoiler = (nDocs * DocsGen.BoilerShare).toInt
    (0 until nBoiler).foreach(_ => made += (((template ++ words(14)).mkString(" "), gauss(), -1)))
    var cluster = 0
    val clusterDocs = (nDocs * DocsGen.ClusterShare).toInt
    var inClusters = 0
    while (inClusters < clusterDocs) {
      val base = words(50)
      val vec = gauss()
      val size = math.min(2 + rng.nextInt(3), clusterDocs - inClusters).max(1)
      (0 until size).foreach { m =>
        val edits = if (m == 0) 0 else Seq(0, 1, 1, 2, 3, 5)(rng.nextInt(6))
        val text = (0 until edits).foldLeft(base)((ws, _) => ws.updated(rng.nextInt(ws.size), vocab(rng.nextInt(vocab.size))))
        val sigma = if (m == 0) 0f else (0.1 + 0.5 * rng.nextDouble()).toFloat
        made += ((text.mkString(" "), vec.map(_ + sigma * rng.nextGaussian().toFloat), cluster))
      }
      inClusters += size
      cluster += 1
    }
    while (made.size < nDocs) made += ((words(50).mkString(" "), gauss(), -1))
    val shuffled = rng.shuffle(made.toSeq).zipWithIndex
    val texts = shuffled.map { case ((t, _, _), i) => (i.toLong, t) }
    val vecs = shuffled.map { case ((_, v, _), i) => (i.toLong, v.toSeq) }
    val pairs = shuffled.filter(_._1._3 >= 0).groupBy(_._1._3).values.toSeq.flatMap { ms =>
      val ids = ms.map(_._2.toLong).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }
    (texts, vecs, pairs)
  }

  private val textOf: Map[Long, String] = docs.toMap
  private val vecOf: Map[Long, Seq[Float]] = vectors.toMap
  private val shingleCache = mutable.HashMap.empty[Long, Set[String]]
  private val gramCache = mutable.HashMap.empty[Long, Set[String]]
  private val simCache = mutable.HashMap.empty[Long, Long]

  def shingles(id: Long): Set[String] = shingleCache.getOrElseUpdate(id, {
    val t = DocsGen.tokens(textOf(id))
    if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  })
  def grams(id: Long): Set[String] = gramCache.getOrElseUpdate(id, {
    val s = textOf(id).toLowerCase.replaceAll("\\s+", " ").trim
    if (s.length < 4) Set(s) else s.sliding(4).toSet
  })
  def simhash(id: Long): Long = simCache.getOrElseUpdate(id, DocsGen.simhash(DocsGen.tokens(textOf(id))))

  /** Exact similarity of a pair in family `f` (hamming distance for simhash). */
  def similarity(f: String, a: Long, b: Long): Double = f match {
    case "minhash" => DocsGen.jaccard(shingles(a), shingles(b))
    case "ngram" => DocsGen.jaccard(grams(a), grams(b))
    case "simhash" => java.lang.Long.bitCount(simhash(a) ^ simhash(b)).toDouble
    case "embedding" => DocsGen.cosine(vecOf(a), vecOf(b))
  }

  /** Whether the pair clears family `f`'s threshold; `slack` > 0 widens it
    * (re-verification tolerates float summation order), < 0 narrows it
    * (recall only counts pairs clearly above the threshold).
    */
  def passes(f: String, a: Long, b: Long, slack: Double = 1e-9): Boolean = {
    val s = similarity(f, a, b)
    f match {
      case "minhash" => s >= DocsGen.MinhashThreshold - slack
      case "ngram" => s >= DocsGen.NgramThreshold - slack
      case "simhash" => s <= DocsGen.MaxHamming
      case "embedding" => s >= DocsDedup.EmbThreshold - slack
    }
  }
}

object DocsGen {
  val Dim = 64
  val BoilerShare = 0.12
  val ClusterShare = 0.35
  /** The defaults of `Dedup.minhashNearDups`, `ngramJaccard` and `simhashNearDups`. */
  val MinhashThreshold = 0.7
  val NgramThreshold = 0.8
  val MaxHamming = 3

  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+", -1).filter(_.nonEmpty)

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i => dot += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** 64-bit SimHash: each token's FNV-1a hash, mixed by splitmix64, votes
    * on every bit.
    */
  def simhash(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      var h = 0xcbf29ce484222325L
      t.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
      h = splitmix(h)
      (0 until 64).foreach(b => votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((out, b) => if (votes(b) > 0) out | (1L << b) else out)
  }

  def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}
