package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorKernels

/** Deduplication operators for large-scale training-data pipelines, over a
  * documents(doc_id, text, …) table.
  *
  * The four near-duplicate families run ONE LSH similarity join,
  * [[lshJoin]]:
  *
  *   1. band signatures — (doc_id, band_id, band_hash), one compiled
  *      kernel pass per doc (the minhash kernels reproduce Spark's hash
  *      values bit-for-bit, so the banding equals the built-in expression
  *      form at a fraction of its cost);
  *   2. band pairs — bucket sizes counted first, buckets above the
  *      family's cap dropped (with several bands a true near-dup pair
  *      still collides in another band w.h.p.; the cap bounds fan-out to
  *      O(buckets × cap²) instead of O(N²)), then the bucket self-join.
  *      A pair comes out once per band it collides in: no distinct here;
  *   3. [[sizePrunedPairs]], for the two set families only — the lossless
  *      set-size-ratio bound on Jaccard;
  *   4. verify — the payload column is joined to both sides of every band
  *      pair and scored by a compiled expression; only the pairs whose
  *      similarity passes are deduplicated. The survivors are at most a
  *      tenth of the candidates on the docs_dedup benchmark, so the
  *      distinct's exchange carries them instead of the candidate list.
  *
  * A family is then a band function, a payload, a similarity expression
  * and fixed constants (the DuckDB replays in OpsQueries bake the same
  * values):
  *
  *   - minhash: lane-min bands of 3-token shingles; hashed shingle set;
  *     Jaccard ≥ 0.7; cap 256;
  *   - ngram: lane-min bands of char 4-grams; hashed gram set; Jaccard ≥
  *     0.8; cap 256;
  *   - simhash: the 64-bit SimHash cut into 4 × 16-bit bands; the SimHash;
  *     bit_count(xor) ≤ 3; cap 4096;
  *   - embedding: random-hyperplane sign bits, one band per table; the
  *     vector; cosine ≥ threshold; cap 1024.
  *
  * The three text families run the join inside [[withExactPrepass]]:
  * sha256-identical docs collapse to one representative first (a
  * duplicate-heavy corpus is the norm at scale; g identical docs in one
  * bucket would cost O(g²) pairs the cheap hash already proves
  * identical), and the pairs are expanded back across the groups after.
  *
  * No all-pairs joins anywhere outside the brute-force ground truths.
  */
object Dedup {

  // Near-dup family constants.
  private val ShingleK = 3
  private val NgramN = 4
  private val Lanes = 16
  private val Bands = 4
  private val MinhashThreshold = 0.7
  private val NgramThreshold = 0.8
  private val SetBucketCap = 256
  private val MaxHamming = 3
  private val SimBucketCap = 4096
  private val EmbDim = 64
  private val EmbBucketCap = 1024

  // ---------------------------------------------------------------- exact

  /** Exact dedup by full-content hash: keep the min doc_id per sha256 group.
    * At 100 TB this is the standard first pass: shuffle carries (sha, id)
    * pairs only, never content.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(sha2(col("text"), 256).as("sha"), col("doc_id"))
      .groupBy(col("sha"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------- scalar hash kernels

  /** Seed of Spark's xxhash64(...) expression. */
  private val XxSeed = 42L

  /** Bit-exact scalar mirror of the Column form
    * `xxhash64(lit(lane), shingle)` (HashExpression folds children:
    * int literal first, then the string).
    */
  def xxLane(lane: Int, s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), XXH64.hashInt(lane, XxSeed))

  /** The per-lane seed of [[xxLane]] — lets allocation-free callers
    * (kg.Scan's fused tokenizer-hasher) run the same XXH64 kernel over a
    * reusable byte buffer instead of a per-token UTF8String.
    */
  private[graft] def laneSeed(lane: Int): Long = XXH64.hashInt(lane, XxSeed)

  /** Mirror of the Column form `filter(split(lower(text), "[^a-z0-9]+"),
    * _ =!= "")`.
    */
  def tokensOf(text: String): Array[String] = {
    if (text == null) return Array.empty
    text.toLowerCase.split("[^a-z0-9]+", -1).filter(_.nonEmpty)
  }

  /** k-token shingles; <k tokens → the single space-joined token string. */
  def tokenShingles(tokens: Array[String], k: Int): Array[String] =
    if (tokens.length < k) Array(tokens.mkString(" "))
    else Array.tabulate(tokens.length - k + 1)(i =>
      tokens.slice(i, i + k).mkString(" "))

  /** FNV-1a 64 over the string's chars (ASCII token/shingle strings here;
    * same scheme as kg.Blocking's name hashing).
    */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Per-lane constant of the minhash family (GOLDEN · (lane+1) mod 2⁶⁴).
    * A lane hash is splitmix64(fnv1a(s) ^ laneConst). Chosen over xxhash64
    * because the whole family REPLAYS in the DuckDB oracle with HUGEINT
    * mod-2⁶⁴ arithmetic (XXH64's stripe processing is impractical in SQL),
    * and banding only needs a uniform pairwise-independent-ish family —
    * same scheme kg.Blocking already uses for name blocking.
    */
  def laneConst(lane: Int): Long = 0x9e3779b97f4a7c15L * (lane + 1)

  /** MinHash band keys of a shingle multiset: `lanes` min-hashes (UNSIGNED
    * min — the SQL replay mins in the non-negative HUGEINT domain) split
    * into `bands` groups; the band key is the lane-min ARRAY itself (no
    * fold — arrays group/join fine on both engines and keep the replay
    * trivial). One compiled pass over the shingles, all lane mins tracked
    * simultaneously.
    */
  def minhashBandMins(shingles: Array[String], lanes: Int, bands: Int): Array[Array[Long]] = {
    val mins = Array.fill(lanes)(-1L) // unsigned max
    var si = 0
    while (si < shingles.length) {
      val f = fnv1a(shingles(si))
      var l = 0
      while (l < lanes) {
        val h = graft.kg.CorpusGen.mix(f ^ laneConst(l))
        if (java.lang.Long.compareUnsigned(h, mins(l)) < 0) mins(l) = h
        l += 1
      }
      si += 1
    }
    val rows = lanes / bands
    Array.tabulate(bands)(b => mins.slice(b * rows, (b + 1) * rows))
  }

  /** [[minhashBandMins]] over `nWin` windows given by their FNV-1a hash —
    * the shared core of the allocation-free shingle and n-gram kernels.
    */
  private def windowBandMins(nWin: Int, lanes: Int, bands: Int)(
      windowFnv: Int => Long): Array[Array[Long]] = {
    val mins = Array.fill(lanes)(-1L) // unsigned max
    var i = 0
    while (i < nWin) {
      val f = windowFnv(i)
      var l = 0
      while (l < lanes) {
        val h = graft.kg.CorpusGen.mix(f ^ laneConst(l))
        if (java.lang.Long.compareUnsigned(h, mins(l)) < 0) mins(l) = h
        l += 1
      }
      i += 1
    }
    val rows = lanes / bands
    Array.tabulate(bands)(b => mins.slice(b * rows, (b + 1) * rows))
  }

  /** Jaccard over SORTED distinct long arrays (merge intersection — the
    * brute-force all-pairs path hashes each gram to 64 bits once per doc,
    * then every pair comparison is a primitive merge instead of string-set
    * hashing; a cross-doc hash collision would need ~2⁶⁴/|grams|² luck).
    */
  def sortedJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 || b.length == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    inter.toDouble / union.toDouble
  }

  /** [[sortedJaccard]] behind the lossless bound of [[sizePrunedPairs]]:
    * a pair whose set-size ratio is below `t` − 1e-9 can never reach `t`,
    * so it scores 0 without the O(|A|+|B|) merge.
    */
  private def boundedJaccard(t: Double)(a: Array[Long], b: Array[Long]): Double = {
    val mn = math.min(a.length, b.length).toDouble
    val mx = math.max(a.length, b.length).toDouble
    if (mx > 0 && mn / mx >= t - 1e-9) sortedJaccard(a, b) else 0.0
  }

  /** Distinct sorted 64-bit hashes of a string set (lane-0 xxhash). */
  def hashedSet(xs: Array[String]): Array[Long] = {
    val out = xs.map(x => xxLane(0, x)).distinct
    java.util.Arrays.sort(out)
    out
  }

  /** Sorts `hs` in place and drops adjacent duplicates — ≡ `.distinct`
    * then sort on the hash values, as in [[hashedSet]].
    */
  private def sortedDistinct(hs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hs)
    var out = 0
    var i = 0
    while (i < hs.length) {
      if (out == 0 || hs(out - 1) != hs(i)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    if (out == hs.length) hs else java.util.Arrays.copyOf(hs, out)
  }

  /** Primitive float[] view of a UDF's Seq[Float] input (avoids per-element
    * boxing in the hot verify loops).
    */
  def floatArr(s: Seq[Float]): Array[Float] = s match {
    case a: scala.collection.immutable.ArraySeq.ofFloat => a.unsafeArray
    case null => Array.empty
    case other => other.toArray
  }

  def longArr(s: Seq[Long]): Array[Long] = s match {
    case a: scala.collection.immutable.ArraySeq.ofLong => a.unsafeArray
    case null => Array.empty
    case other => other.toArray
  }

  // ---------------------------------------------------- generic skeleton

  /** (doc_a, doc_b) pairs from shared band keys, with hot buckets
    * (> bucketCap rows) excluded from pair generation. `sigs` is
    * (doc_id, band_id, band_hash); band_hash may be any groupable type.
    * A pair that collides in k bands comes out k times.
    *
    * The one cap form for every family: the hot buckets come from the
    * partial-aggregated [[droppedBuckets]] count and prune the signatures
    * with an anti join (AQE broadcasts the small hot list; no hint, so a
    * pathological hot list degrades to a shuffle join instead of a driver
    * OOM). On a low-cardinality band domain (embedding sign bits) the
    * count shuffles ~one row per bucket per partition; a window count
    * would exchange every signature row. On a high-cardinality domain the
    * two cost about the same. The DuckDB replays recompute the caps as
    * window counts and gate the pair sets.
    *
    * The in-bucket pair generation stays a compiled SELF-JOIN — measured
    * against both a collect_list + pair-UDF form (+77% on the embedding
    * path: a near-cap 1024 bucket materializes ~cap²/2 tuples per row
    * before explode) and a collect_list + typed-flatMap-iterator form
    * (object-boundary serialization per generated pair; the join emits
    * pairs entirely inside WholeStageCodegen).
    */
  private def bandPairs(sigs: DataFrame, bucketCap: Int): DataFrame = {
    // localCheckpoint: the signatures feed the bucket count and both
    // self-join sides — without it the signature kernel runs three times.
    // The frame is small (N × bands rows of (id, int, key)).
    val sigsC = sigs.select(col("doc_id"), col("band_id"), col("band_hash"))
      .localCheckpoint(true)
    val ok = sigsC.join(droppedBuckets(sigsC, bucketCap), Seq("band_id", "band_hash"), "left_anti")
    ok.alias("l")
      .join(ok.alias("r"),
        col("l.band_id") === col("r.band_id") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
  }

  /** The distinct (doc_a, doc_b) candidate pairs of `sigs` under
    * `bucketCap` — the LSH funnel's candidate count. [[lshJoin]] does not
    * run this distinct: it verifies the band pairs as they come and
    * deduplicates only the survivors.
    */
  def candidatePairs(sigs: DataFrame, bucketCap: Int): DataFrame =
    bandPairs(sigs, bucketCap).distinct()

  /** Lossless size-ratio prune for set-Jaccard candidate pairs:
    * J(A,B) = |A∩B| / |A∪B| ≤ min(|A|,|B|) / max(|A|,|B|), so a pair whose
    * set-size ratio is below the threshold can NEVER verify — drop it
    * before the array join. The pairs it sees are band pairs, repeated
    * once per shared band: on the docs_dedup benchmark the ngram family
    * emits 1.32–1.34× its distinct candidate count, and the size join carries
    * one int per doc where the verify join would carry both gram arrays
    * of every one of those rows. The 1e-9 slack keeps a pair
    * exactly AT the threshold from being lost to float rounding of the
    * ratio (the verify's own inter/union division is 1-ulp exact, so
    * nothing below threshold−1e-9 can round up to ≥ threshold). No
    * broadcast hint: sizes is O(docs) — unbounded at corpus scale — and
    * the pair ids shuffle narrowly either way; AQE picks the strategy
    * that fits at runtime.
    */
  private def sizePrunedPairs(pairs: DataFrame, sets: DataFrame,
      setCol: String, threshold: Double): DataFrame = {
    val sizes = sets.select(col("doc_id"), size(col(setCol)).as("sz"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .filter(least(col("sz_a"), col("sz_b")).cast("double") /
        greatest(col("sz_a"), col("sz_b")).cast("double") >= lit(threshold - 1e-9))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Buckets dropped by `bucketCap` (diagnostic surface — "no silent caps"):
    * (band_id, band_hash, bucket_sz) for every hot bucket.
    */
  def droppedBuckets(sigs: DataFrame, bucketCap: Int): DataFrame =
    sigs.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_sz"))
      .filter(col("bucket_sz") > bucketCap)

  /** The LSH similarity join every near-dup family runs: the band pairs
    * of `sigs` under `cap`, the [[sizePrunedPairs]] bound when `minRatio`
    * is set (set payloads only), then the verify: `payload` of `rows`
    * (doc_id, …) is joined to both sides of each band pair, and the
    * distinct pairs whose `sim` passes `keep` are returned as
    * (doc_a, doc_b, score).
    *
    * The distinct runs on the survivors, not the candidates: a pair that
    * collides in k bands is scored k times (1.05× to 1.34× the distinct
    * candidate count on the docs_dedup benchmark), which costs less than
    * exchanging and checkpointing every candidate pair (307,819 candidates
    * for 731 survivors in the embedding family there). The score is a
    * function of the pair, so the repeated rows are identical. Neither the
    * pairs nor the payload are checkpointed: the payload kernel runs once
    * for the size prune and once for the verify (each join's two sides
    * share one exchange), which measured cheaper than storing the payload.
    */
  private def lshJoin(rows: DataFrame, sigs: DataFrame, cap: Int, payload: Column,
      minRatio: Option[Double])(sim: (Column, Column) => Column,
      keep: Column => Column): DataFrame = {
    val pairs = bandPairs(sigs, cap)
    val pay = rows.select(col("doc_id"), payload.as("p"))
    minRatio.fold(pairs)(sizePrunedPairs(pairs, pay, "p", _))
      .join(pay.select(col("doc_id").as("doc_a"), col("p").as("p_a")), Seq("doc_a"))
      .join(pay.select(col("doc_id").as("doc_b"), col("p").as("p_b")), Seq("doc_b"))
      .withColumn("score", sim(col("p_a"), col("p_b")))
      .filter(keep(col("score")))
      .select(col("doc_a"), col("doc_b"), col("score"))
      .distinct()
  }

  /** All-pairs brute force over a SMALL (id, payload) table WITHOUT
    * materializing pair rows: the whole table is broadcast as plain
    * arrays, each row flatMaps its matches (`sim` ≥ threshold) against the
    * broadcast copy — the cross product exists only inside the compiled
    * loop, never as joined rows carrying both payloads. Returns
    * (outA, outB, simName) with outA < outB.
    */
  private def bruteMatches[P: ClassTag](rows: DataFrame, read: Row => P,
      threshold: Double, outA: String, outB: String, simName: String)(
      sim: (P, P) => Double): DataFrame = {
    val sorted = rows.collect().sortBy(_.getLong(0))
    val bc = rows.sparkSession.sparkContext.broadcast(
      (sorted.map(_.getLong(0)), sorted.map(read)))
    // the probe takes ONLY the id and finds the row's own payload in the
    // sorted broadcast — passing the payload as a column forced its UDF to
    // evaluate a SECOND time in the distributed plan (once for the driver
    // collect above, once per probe row); id-only lets Catalyst prune it
    // from the probe side entirely. ids are sorted and distinct, so the
    // partners with a larger id are the suffix after the own index.
    val matchUdf = udf((id: Long) => {
      val (ids, pays) = bc.value
      val out = Seq.newBuilder[(Long, Double)]
      val idx = java.util.Arrays.binarySearch(ids, id)
      var i = idx + 1
      while (idx >= 0 && i < ids.length) {
        val s = sim(pays(idx), pays(i))
        if (s >= threshold) out += ((ids(i), s))
        i += 1
      }
      out.result()
    })
    val id = col(rows.columns(0))
    rows.select(id.as(outA), explode(matchUdf(id)).as("m"))
      .select(col(outA), col("m._1").as(outB), round(col("m._2"), 4).as(simName))
  }

  /** Exact all-pairs Jaccard ≥ `t` over a SMALL (doc_id, hashed set) table. */
  private def jaccardBrute(sets: DataFrame, t: Double): DataFrame =
    bruteMatches(sets, r => longArr(r.getSeq[Long](1)), t, "doc_a", "doc_b", "jaccard")(
      boundedJaccard(t))

  /** (rep_id, doc_id) exact-dup group mapping. Built from a (doc_id, sha)
    * PROJECTION so the groupBy/join shuffles carry only id/sha columns —
    * OpsSpec asserts no shuffle in this plan outputs the content column.
    */
  def repMembers(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), sha2(col("text"), 256).as("sha"))
    hashed
      .join(hashed.groupBy(col("sha")).agg(min(col("doc_id")).as("rep_id")),
        Seq("sha"))
      .select(col("rep_id"), col("doc_id"))
  }

  /** Run `nearDups` on exact-dup representatives only, then expand the pair
    * list back across sha-identical groups: in-group pairs get similarity
    * `one`, cross-group pairs inherit the representatives' similarity
    * (identical docs have identical signatures and payloads). `simCol`
    * names the similarity column produced by `nearDups`.
    */
  def withExactPrepass(docs: DataFrame, simCol: String, one: Column)(
      nearDups: DataFrame => DataFrame): DataFrame = {
    // The rep mapping is computed from a (doc_id, sha) PROJECTION — the only
    // rows that shuffle are ~40-byte (sha, id) pairs, never content (the
    // previous window-over-full-rows form repartitioned the whole corpus by
    // sha before any signature was computed). Content rows are then FILTERED
    // in place by a broadcast semi-join on the rep ids: one long per distinct
    // document. If the distinct count ever outgrows the broadcast budget,
    // drop the hint and collapse on signature rows instead (sha-identical
    // docs have identical signatures, so rep selection can run on the
    // compact (id, sha, sig) frame without ever touching content).
    val members = repMembers(docs)
      .localCheckpoint(true) // feeds the rep filter + both expansion joins
    val repIds = members.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"))
    val repDocs = docs.join(broadcast(repIds), Seq("doc_id"), "left_semi")
    val repPairs = nearDups(repDocs)
    val cross = repPairs
      .join(members.select(col("rep_id").as("doc_a"), col("doc_id").as("ma")), Seq("doc_a"))
      .join(members.select(col("rep_id").as("doc_b"), col("doc_id").as("mb")), Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col(simCol))
    val intra = members.alias("l")
      .join(members.alias("r"),
        col("l.rep_id") === col("r.rep_id") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        one.as(simCol))
    cross.unionByName(intra)
  }

  /** A set family's near-dups: [[lshJoin]] with the size prune and a
    * Jaccard verify, inside the exact pre-pass. Returns
    * (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  private def jaccardNearDups(docs: DataFrame, bands: DataFrame => DataFrame,
      set: Column, threshold: Double): DataFrame =
    withExactPrepass(docs, "jaccard", lit(1.0))(d =>
      lshJoin(d, bands(d), SetBucketCap, set, Some(threshold))(
        VectorKernels.sortedJaccard(_, _), _ >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("score"), 4).as("jaccard")))

  // ---------------------------------------------------------------- minhash

  def tokensCol(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Lowercased ASCII token stream of `text` as ONE UTF-8 byte buffer with
    * a single space between tokens — the window representation behind the
    * shingle kernels: token i occupies buf[starts(i), ends(i)), and the
    * k-shingle at i is the CONTIGUOUS range buf[starts(i), ends(i+k-1))
    * because the separators in the buffer are exactly the single spaces
    * `mkString(" ")` would insert. Returns null when any char ≥ 0x80
    * (String.toLowerCase is locale/length-unstable outside ASCII — callers
    * fall back to the String pipeline, same policy as [[normChars]]).
    */
  private final class TokenStream(val buf: Array[Byte], val starts: Array[Int],
      val ends: Array[Int], val n: Int)

  private def asciiTokenStream(text: String): TokenStream = {
    val t = if (text == null) "" else text
    val L = t.length
    // pass 1: sizes
    var i = 0; var nTok = 0; var bufLen = 0; var inTok = false
    while (i < L) {
      val c = t.charAt(i)
      if (c >= 0x80) return null
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) {
        if (!inTok) { nTok += 1; if (nTok > 1) bufLen += 1; inTok = true }
        bufLen += 1
      } else inTok = false
      i += 1
    }
    val buf = new Array[Byte](bufLen)
    val starts = new Array[Int](math.max(nTok, 1))
    val ends = new Array[Int](math.max(nTok, 1))
    // pass 2: fill
    i = 0; var w = 0; var ti = -1; inTok = false
    while (i < L) {
      val c = t.charAt(i)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) {
        if (!inTok) {
          if (ti >= 0) { buf(w) = ' '.toByte; w += 1 }
          ti += 1; starts(ti) = w; inTok = true
        }
        buf(w) = lc.toByte; w += 1; ends(ti) = w
      } else inTok = false
      i += 1
    }
    new TokenStream(buf, starts, ends, nTok)
  }

  /** FNV-1a 64 over ASCII bytes [start, end) — ≡ [[fnv1a]] of the same
    * chars (byte value == char value below 0x80).
    */
  private def fnvBytes(buf: Array[Byte], start: Int, end: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    while (i < end) { h ^= (buf(i) & 0xFFL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Shingle (i, k) byte range [start, end) in a token stream; the <k-token
    * (or zero-token) doc collapses to the single whole-stream shingle,
    * mirroring tokenShingles' mkString fallback.
    */
  @inline private def shingleRange(ts: TokenStream, i: Int, k: Int): (Int, Int) =
    if (ts.n == 0) (0, 0)
    else if (ts.n < k) (ts.starts(0), ts.ends(ts.n - 1))
    else (ts.starts(i), ts.ends(i + k - 1))

  /** Bit-identical to `minhashBandMins(tokenShingles(tokensOf(text), k),
    * lanes, bands)` with zero per-token/per-shingle allocation: FNV-1a
    * runs over contiguous byte windows of the token stream (duplicates
    * can't change a lane min). Property-pinned by ShingleKernelSpec.
    */
  def shingleBandMinsOf(text: String, k: Int, lanes: Int, bands: Int): Array[Array[Long]] = {
    val ts = asciiTokenStream(text)
    if (ts == null) return minhashBandMins(tokenShingles(tokensOf(text), k), lanes, bands)
    windowBandMins(if (ts.n < k) 1 else ts.n - k + 1, lanes, bands) { i =>
      val (s, e) = shingleRange(ts, i, k)
      fnvBytes(ts.buf, s, e)
    }
  }

  /** Bit-identical to `hashedSet(tokenShingles(tokensOf(text), k))`:
    * offset XXH64 over the shingles' contiguous byte windows, then
    * [[sortedDistinct]]. Property-pinned by ShingleKernelSpec.
    */
  def shingleHashedSetOf(text: String, k: Int): Array[Long] = {
    val ts = asciiTokenStream(text)
    if (ts == null) return hashedSet(tokenShingles(tokensOf(text), k))
    val hs = new Array[Long](if (ts.n < k) 1 else ts.n - k + 1)
    var i = 0
    while (i < hs.length) {
      val (s, e) = shingleRange(ts, i, k)
      hs(i) = XXH64.hashUnsafeBytes(ts.buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, e - s, laneSeed(0))
      i += 1
    }
    sortedDistinct(hs)
  }

  /** signatures(doc_id, band_id, band_hash: array<long>): H minhash lanes
    * split into `bands` bands of H/bands lane-mins each (standard
    * MinHash+LSH banding; the band key is the lane-min array). One
    * compiled kernel pass per doc.
    */
  def minhashBands(docs: DataFrame, shingleK: Int = ShingleK, lanes: Int = Lanes,
      bands: Int = Bands): DataFrame = {
    val bandsUdf = udf((text: String) => shingleBandMinsOf(text, shingleK, lanes, bands))
    docs.select(col("doc_id"), posexplode(bandsUdf(col("text"))).as(Seq("band_id", "band_hash")))
  }

  private val shingleSetUdf = udf((text: String) => shingleHashedSetOf(text, ShingleK))

  /** Candidate pairs from shared minhash bands of 3-token shingles,
    * verified with exact shingle-set Jaccard ≥ 0.7. Returns
    * (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  def minhashNearDups(docs: DataFrame): DataFrame =
    jaccardNearDups(docs, minhashBands(_), shingleSetUdf(col("text")), MinhashThreshold)

  /** Exact all-pairs token-shingle Jaccard ≥ 0.7 over a SMALL doc set —
    * the brute-force ground truth the LSH path is verified against
    * (recall specs + the DuckDB oracle for the exact-verify stage).
    */
  def minhashBrute(docs: DataFrame): DataFrame =
    jaccardBrute(docs.select(col("doc_id"), shingleSetUdf(col("text"))), MinhashThreshold)

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over tokens (weighted bit-vote). Scalar core shared
    * with tests; splitmix64 of the token's FNV-1a — stable across JVMs.
    */
  def simhashScalar(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    if (tokens != null) tokens.foreach { t =>
      val h = graft.kg.CorpusGen.mix(fnv1a(t))
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  val simhashUdf = udf((tokens: Seq[String]) => simhashScalar(tokens))

  /** Near-dups by SimHash: band the 64 bits into 4×16-bit keys (any pair
    * within Hamming distance 3 leaves ≥1 band intact, so the banding alone
    * misses no pair), verify with bit_count(xor) ≤ 3. Returns
    * (doc_a, doc_b, hamming). The cap would weaken that guarantee for
    * members of a dropped bucket, so it is high; the exact pre-pass keeps
    * duplicate-heavy buckets from forming in the first place.
    */
  def simhashNearDups(docs: DataFrame): DataFrame = {
    def bands(sims: DataFrame): DataFrame =
      sims.select(col("doc_id"), posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band_id", "band_hash")))
    withExactPrepass(docs, "hamming", lit(0)) { d =>
      val sims = d.select(col("doc_id"), simhashUdf(tokensCol(col("text"))).as("sim"))
      lshJoin(sims, bands(sims), SimBucketCap, col("sim"), None)(
        (a, b) => bit_count(a.bitwiseXOR(b)), _ <= MaxHamming)
        .withColumnRenamed("score", "hamming")
    }
  }

  // ---------------------------------------------------------------- ngram

  /** Whitespace-normalized lowercase text (mirror of the Column form
    * `trim(regexp_replace(lower(text), "\\s+", " "))`).
    */
  def normText(text: String): String =
    if (text == null) "" else text.toLowerCase.replaceAll("\\s+", " ").trim

  /** Distinct character n-grams of the normalized text. Kept as the
    * readable formulation the scalar kernels below are property-pinned to
    * (NgramKernelSpec); the hot paths no longer call it.
    */
  def charGrams(text: String, n: Int): Array[String] = {
    val norm = normText(text)
    if (norm.length < n) Array(norm)
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= norm.length) { seen.add(norm.substring(i, i + n)); i += 1 }
      val out = new Array[String](seen.size)
      seen.toArray(out)
      out
    }
  }

  /** Java-regex `\s` (ASCII-only: space, \t, \n, \x0B, \f, \r). */
  private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Normalized chars of `text` as (buffer, length) — bit-identical to
    * [[normText]] but one allocation-free pass for ASCII inputs
    * (lowercase, collapse regex-\s runs to one space, trim). Any char
    * ≥ 0x80 falls back to the String pipeline: String.toLowerCase is
    * locale- and length-unstable outside ASCII (Turkish dotted I, ß→ss
    * never, İ→i+combining dot) and Java's \s is ASCII-only, so the
    * per-char form is exact ONLY below 0x80. NgramKernelSpec
    * property-pins the equality, non-ASCII and whitespace runs included.
    */
  private[ops] def normChars(text: String): (Array[Char], Int) = {
    if (text == null) return (Array.emptyCharArray, 0)
    val L = text.length
    var ascii = true
    var i = 0
    while (ascii && i < L) { if (text.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (!ascii) { val s = normText(text); return (s.toCharArray, s.length) }
    val out = new Array[Char](L)
    var len = 0
    var pendingSpace = false
    i = 0
    while (i < L) {
      val c = text.charAt(i)
      if (isRegexWs(c)) pendingSpace = len > 0 // a leading run is trimmed
      else {
        if (pendingSpace) { out(len) = ' '; len += 1; pendingSpace = false }
        out(len) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        len += 1
      }
      i += 1
    } // a trailing whitespace run leaves pendingSpace set and unflushed = trim
    (out, len)
  }

  /** FNV-1a 64 over chars [start, end) — ≡ `fnv1a(s.substring(start, end))`
    * without the substring.
    */
  private def fnvWindow(cs: Array[Char], start: Int, end: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = start
    while (i < end) { h ^= cs(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Bit-identical to `minhashBandMins(charGrams(text, n), lanes, bands)`
    * with zero per-gram allocation: FNV-1a runs over char windows of the
    * normalized text in place (FNV over substring chars ≡ FNV over the
    * window), and duplicate grams are not deduped because a duplicate
    * cannot change a lane MIN — charGrams' LinkedHashSet existed only to
    * shrink the gram array it materialized. Property-pinned by
    * NgramKernelSpec.
    */
  def ngramBandMinsOf(text: String, n: Int, lanes: Int, bands: Int): Array[Array[Long]] = {
    val (cs, len) = normChars(text)
    val w = if (len < n) len else n // <n chars → the single whole-text gram
    windowBandMins(if (len < n) 1 else len - n + 1, lanes, bands)(s => fnvWindow(cs, s, s + w))
  }

  /** Bit-identical to `hashedSet(charGrams(text, n))` (DISTINCT sorted
    * lane-0 XXH64 gram hashes) without per-gram substring/UTF8String
    * churn: an all-ASCII normalized text is UTF-8-encoded ONCE (byte ==
    * char below 0x80) and every window hashes in place via
    * XXH64.hashUnsafeBytes at an offset; any char ≥ 0x80 falls back to
    * per-window strings (window UTF-8 splicing is not surrogate-safe).
    * [[sortedDistinct]] ≡ `.distinct` + sort on the hash values — the
    * original dedupes AFTER hashing too, so hash-value identity is the
    * exact invariant either way. Property-pinned by NgramKernelSpec.
    */
  def ngramHashedSetOf(text: String, n: Int): Array[Long] = {
    val (cs, len) = normChars(text)
    val w = if (len < n) len else n
    val nWin = if (len < n) 1 else len - n + 1
    val hs = new Array[Long](nWin)
    var ascii = true
    var i = 0
    while (ascii && i < len) { if (cs(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) {
      val bytes = new Array[Byte](len)
      i = 0
      while (i < len) { bytes(i) = cs(i).toByte; i += 1 }
      var s = 0
      while (s < nWin) {
        hs(s) = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, w, laneSeed(0))
        s += 1
      }
    } else {
      var s = 0
      while (s < nWin) { hs(s) = xxLane(0, new String(cs, s, w)); s += 1 }
    }
    sortedDistinct(hs)
  }

  /** signatures(doc_id, band_id, band_hash) over character-n-gram sets. */
  def ngramBands(docs: DataFrame, n: Int = NgramN, lanes: Int = Lanes,
      bands: Int = Bands): DataFrame = {
    val bandsUdf = udf((text: String) => ngramBandMinsOf(text, n, lanes, bands))
    docs.select(col("doc_id"), posexplode(bandsUdf(col("text"))).as(Seq("band_id", "band_hash")))
  }

  private val ngramSetUdf = udf((text: String) => ngramHashedSetOf(text, NgramN))

  /** Character-4-gram Jaccard ≥ 0.8 near-dups. Candidate blocking is
    * BANDED minhash over the gram set (as in minhashNearDups): a band key
    * combines 4 minhashes, so buckets stay selective even on a degenerate
    * corpus with a tiny gram universe, where single-lane or length-bucket
    * blocking degenerates to O(N²) within-bucket pairs. A pair at Jaccard
    * j collides in ≥1 of 4 4-lane bands with prob 1-(1-j⁴)⁴ ≈ 0.88 at
    * j=0.8, ≈0.997 at j=0.9. Returns (doc_a, doc_b, jaccard).
    */
  def ngramJaccard(docs: DataFrame): DataFrame =
    jaccardNearDups(docs, ngramBands(_), ngramSetUdf(col("text")), NgramThreshold)

  /** Exact all-pairs n-gram Jaccard ≥ 0.8 over a SMALL doc set (ground truth). */
  def ngramBrute(docs: DataFrame): DataFrame =
    jaccardBrute(docs.select(col("doc_id"), ngramSetUdf(col("text"))), NgramThreshold)

  // ---------------------------------------------------------------- embedding

  /** Number of hyperplanes per hash table, scaled with corpus size so the
    * expected bucket occupancy stays ~targetBucket: planes ≈ log₂(N/target).
    * (The round-1 constant planes=4 meant 16 buckets/table forever —
    * bucket occupancy grows linearly with N → quadratic candidate pairs.)
    */
  def planesFor(nVec: Long, targetBucket: Int = 32): Int =
    math.max(4, math.min(24,
      math.ceil(math.log(math.max(nVec, 1).toDouble / targetBucket) / math.log(2.0)).toInt))

  /** Number of OR-amplification tables needed for `recall` at cosine
    * `threshold` given `planes` sign bits per table:
    * p_plane = 1 − acos(cos)/π; p_table = p_plane^planes;
    * tables = ln(1−recall)/ln(1−p_table).
    */
  def tablesFor(planes: Int, threshold: Double, recall: Double = 0.95,
      maxTables: Int = 64): Int = {
    val pPlane = 1.0 - math.acos(math.min(math.max(threshold, -1.0), 1.0)) / math.Pi
    val pTable = math.pow(pPlane, planes)
    if (pTable >= 1.0) 1
    else math.min(maxTables,
      math.max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - pTable)).toInt))
  }

  /** Fixed pseudo-random hyperplane as a scalar array. */
  def planeVec(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = graft.kg.CorpusGen.mix(0x51ab5ea1L * (p + 1) + j)
      ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }

  /** All tables' sign-bit bucket keys for one vector — one compiled pass
    * over a precomputed (tables×planes)×dim plane matrix.
    */
  def embeddingBits(v0: Seq[Float], planes: Int, tables: Int, dim: Int,
      mat: Array[Array[Double]]): Array[Long] = {
    val v = floatArr(v0)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bits = 0L
      var p = 0
      while (p < planes) {
        val plane = mat(t * planes + p)
        var dot = 0.0
        var j = 0
        val n = math.min(dim, v.length)
        while (j < n) { dot += v(j).toDouble * plane(j); j += 1 }
        if (dot >= 0) bits |= (1L << p)
        p += 1
      }
      out(t) = bits
      t += 1
    }
    out
  }

  /** (vec_id, table_id, bits) signature rows for `nVec` vectors. */
  def embeddingBands(embs: DataFrame, nVec: Long, dim: Int = EmbDim,
      tables: Int = 16, planesOverride: Int = -1): DataFrame = {
    val planes = if (planesOverride > 0) planesOverride else planesFor(nVec)
    val mat = Array.tabulate(tables * planes)(p => planeVec(p, dim))
    val bitsUdf = udf((v: Seq[Float]) => embeddingBits(v, planes, tables, dim, mat))
    embs.select(col("vec_id"), posexplode(bitsUdf(col("embedding"))).as(Seq("table_id", "bits")))
  }

  /** Cosine of two float vectors (index-order accumulation — matches the
    * zip_with/aggregate Column form and, on equal lengths, the compiled
    * `cosine_sim` the LSH verify runs); the first min(|a|, |b|) elements.
    */
  def cosineArr(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The embedding verify: the compiled `cosine_sim`, with its nulls (a
    * null side, unequal lengths) scored 0.0.
    */
  private[graft] def embeddingCosine(a: Column, b: Column): Column =
    coalesce(VectorKernels.cosineSim(a, b), lit(0.0))

  /** Embedding-cosine near-dup over embeddings(vec_id, embedding): standard
    * multi-table random-hyperplane LSH — independent hash tables of
    * `planes` sign bits each (planes scales ~log₂N via planesFor, tables
    * sized by tablesFor for a 0.95 recall target); a pair is a candidate
    * if it collides in ANY table (OR-amplification); candidates verified
    * exactly with the compiled `cosine_sim` ≥ threshold. Returns
    * (vec_a, vec_b, cos).
    *
    * A null embedding scores 0.0, and so does a pair of vectors of
    * unequal lengths (no prefix cosine): such a pair never passes a
    * positive threshold.
    */
  def embeddingNearDups(embs: DataFrame, nVec: Long, threshold: Double = 0.35,
      planesOverride: Int = -1, tablesOverride: Int = -1): DataFrame = {
    // nVec is REQUIRED (no default): sizing the planes from an implicit
    // embs.count() would silently add a full corpus pass at scale. Pass a
    // (possibly approximate) corpus size, or planesOverride to skip sizing.
    require(nVec >= 0 || planesOverride > 0,
      "embeddingNearDups needs nVec >= 0 (approximate corpus size) or an explicit planesOverride")
    val planes = if (planesOverride > 0) planesOverride else planesFor(nVec)
    val tables = if (tablesOverride > 0) tablesOverride else tablesFor(planes, threshold)
    val sigs = embeddingBands(embs, -1L, EmbDim, tables, planes)
      .select(col("vec_id").as("doc_id"), col("table_id").as("band_id"), col("bits").as("band_hash"))
    lshJoin(embs.select(col("vec_id").as("doc_id"), col("embedding")), sigs, EmbBucketCap,
        col("embedding"), None)(embeddingCosine, _ >= threshold)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"), round(col("score"), 4).as("cos"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components over the
    * pair graph, every member mapped to its cluster representative (the
    * min doc_id) — the dedup endgame: keep the representative, drop the
    * rest. Reuses the kg pipeline's iterative min-label propagation
    * (Canonicalize.components — localCheckpoint'd rounds, O(diameter)).
    * Only docs that appear in ≥1 pair are emitted (singletons keep
    * themselves trivially).
    */
  def dupClusters(pairs: DataFrame): DataFrame =
    graft.kg.Canonicalize.components(pairs.sparkSession,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("node").as("doc_id"), col("comp").as("cluster_rep"))

  /** Exact all-pairs cosine ≥ threshold (ground truth for recall specs). */
  def embeddingBrute(embs: DataFrame, threshold: Double = 0.35): DataFrame =
    bruteMatches(embs.select(col("vec_id"), col("embedding")),
      r => floatArr(r.getSeq[Float](1)), threshold, "vec_a", "vec_b", "cos")(cosineArr)
}
