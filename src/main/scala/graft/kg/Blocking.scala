package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH blocking for the candidate long tail (north_star: entities
  * whose names match NO dictionary entry exactly — misspelled / near-miss
  * account names — still get candidates via character-shingle similarity).
  *
  * Reference analogue: sociallink's recall backstop is the query back-off
  * retry ladder (FillFromIndex.java:99-152, J11); LSH blocking is OUR
  * addition (SURVEY §2.5 J10), standard MinHash banding:
  *
  *   name → 3-char shingles → `Lanes` minhashes → `Bands` band keys;
  *   two names sharing ANY band key become a comparison candidate, then
  *   exact shingle-Jaccard ≥ threshold verifies.
  *
  * All hashing is the shared scalar splitmix64/FNV path (no xxhash64
  * expressions) so the single-threaded oracle reproduces the Spark result
  * bit-for-bit. At scale both sides of the band join are name-DISTINCT
  * projections (≪ corpus size), and banding bounds the pair fan-out.
  */
object Blocking {

  val ShingleK = 3
  val Lanes = 12
  val Bands = 4 // 3 lanes per band

  /** Max dictionary names sharing one band key before the band is dropped
    * from the fuzzy join (same hot-bucket control as ops.Dedup: a band this
    * dense carries no discriminative signal, and on a real corpus it is
    * what turns the band join quadratic; a true near-miss pair still
    * collides in one of the other bands w.h.p.). Never reached on the
    * synthetic corpora (BlockingSpec asserts headroom).
    */
  val BandCap = 1000

  def shingles(name: String): Array[String] = {
    if (name == null || name.isEmpty) return Array.empty
    if (name.length < ShingleK) return Array(name)
    Array.tabulate(name.length - ShingleK + 1)(i => name.substring(i, i + ShingleK))
  }

  /** Band keys of a name: Bands longs, each mixing its lanes' minhashes. */
  def bandKeys(name: String): Array[Long] = {
    val sh = shingles(name)
    if (sh.isEmpty) return Array.empty
    val lanes = Array.tabulate(Lanes) { lane =>
      var min = Long.MaxValue
      sh.foreach { s =>
        val h = CorpusGen.mix(graft.ops.Dedup.fnv1a(s) ^ (0x9e3779b97f4a7c15L * (lane + 1)))
        if (h < min) min = h
      }
      min
    }
    Array.tabulate(Bands) { b =>
      val perBand = Lanes / Bands
      var acc = 0x9e3779b97f4a7c15L * (b + 1)
      var i = 0
      while (i < perBand) { acc = CorpusGen.mix(acc ^ lanes(b * perBand + i)); i += 1 }
      acc
    }
  }

  def jaccardShingles(a: String, b: String): Double = {
    val sa = shingles(a).toSet
    val sb = shingles(b).toSet
    if (sa.isEmpty || sb.isEmpty) return 0.0
    val inter = sa.intersect(sb).size
    inter.toDouble / (sa.size + sb.size - inter).toDouble
  }

  val bandKeysUdf = udf((name: String) => bandKeys(name))
  val jaccardUdf = udf((a: String, b: String) => jaccardShingles(a, b))

  /** Fuzzy (entity_id, name) matches between query names and dictionary
    * names: band-key equi-join, then exact Jaccard ≥ threshold. Both inputs
    * are (key, name) DataFrames with distinct names.
    */
  def fuzzyNameMatches(qnames: DataFrame, dictNames: DataFrame,
      threshold: Double, bandCap: Int = BandCap): DataFrame = {
    val q = qnames
      .withColumn("band", explode(bandKeysUdf(col("qname"))))
    // Restrict the dictionary-side band explosion to bands the query side
    // actually probes BEFORE the per-band window count: dropping a whole
    // band never changes a surviving band's member count (the cap
    // semantics are per-band), and an unprobed band cannot produce a pair
    // — so the count window runs over the probed bands' members only,
    // not every band of every dictionary name. The query side is the
    // exact-candidate-less tail (≪ dictionary by construction), hence the
    // broadcast hint.
    val qBands = q.select(col("band")).distinct()
    val d = dictNames
      .withColumn("band", explode(bandKeysUdf(col("name"))))
      .join(broadcast(qBands), Seq("band"), "left_semi")
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"))))
      .filter(col("bsz") <= bandCap)
      .drop("bsz")
    q.join(d, Seq("band"))
      .select(col("entity_id"), col("qname"), col("name"))
      .distinct()
      .filter(jaccardUdf(col("qname"), col("name")) >= threshold)
      .select(col("entity_id"), col("name"))
      .distinct()
  }
}
