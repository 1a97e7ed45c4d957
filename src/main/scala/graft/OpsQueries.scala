package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Query registry for the training-data-pipeline operators (dedup,
  * similarity search, text analysis, multimodal) over documents/embeddings.
  */
object OpsQueries {

  private type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  // ---------------------------------------------------------------- dedup

  val dedupExact: Q = (s, dir) =>
    Dedup.exact(docs(s, dir)).orderBy(col("sha"))

  val dedupExactSql: String =
    """SELECT sha256(text) AS sha, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY sha ORDER BY sha""".stripMargin

  val dedupMinhash: Q = (s, dir) =>
    Dedup.minhashNearDups(docs(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  val dedupSimhash: Q = (s, dir) =>
    Dedup.simhashNearDups(docs(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  val dedupNgram: Q = (s, dir) =>
    Dedup.ngramJaccard(docs(s, dir)).orderBy(col("doc_a"), col("doc_b"))

  // ------------------------------------------- LSH replay SQL fragments
  //
  // The approximate paths are fully deterministic, so their oracles REPLAY
  // the algorithm in DuckDB: FNV-1a + splitmix64 in HUGEINT mod-2⁶⁴
  // arithmetic (INT128 cannot hold a 64×64-bit product, so the two big
  // splitmix multiplies are decomposed into 32-bit limbs), band keys as
  // lane-min lists, bucket caps as window counts, and the exact verify
  // stage as list intersections / index-order float folds. Constants are
  // shared with the Scala kernels (laneConst, planeVec, tablesFor) so the
  // two sides cannot drift.

  private[graft] val M64 = "18446744073709551616::HUGEINT"

  /** x · c mod 2⁶⁴ with c ~2⁶⁴: 32-bit limb decomposition. */
  private[graft] def mulModExpr(x: String, c: Long): String = {
    val ch = c >>> 32
    val cl = c & 0xFFFFFFFFL
    s"(($x % 4294967296::HUGEINT) * $cl::HUGEINT + (((($x % 4294967296::HUGEINT) * $ch::HUGEINT + ($x // 4294967296::HUGEINT) * $cl::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $M64"
  }

  /** FNV-1a 64 over a string column (Dedup.fnv1a mirror). */
  private[graft] def fnvExpr(c: String): String =
    s"""list_reduce(list_prepend(14695981039346656037::HUGEINT,
       |    list_transform(range(1, length($c) + 1), i -> ascii($c[i])::HUGEINT)),
       |    (h, ch) -> (xor(h, ch) * 1099511628211::HUGEINT) % $M64)""".stripMargin

  /** splitmix64 CTE chain: consumes column `in` of CTE `from`, ends with
    * CTE `${p}5` carrying `${p}x3`; the mixed value is
    * `xor(${p}x3, ${p}x3 >> 31)` (CorpusGen.mix mirror).
    */
  private[graft] def mixChainCtes(p: String, from: String, in: String): String =
    s"""${p}1 AS (SELECT *, ($in + 11400714819323198485::HUGEINT) % $M64 AS ${p}x1 FROM $from),
       |${p}2 AS (SELECT *, xor(${p}x1, ${p}x1 >> 30) AS ${p}y1 FROM ${p}1),
       |${p}3 AS (SELECT *, ${mulModExpr(s"${p}y1", 0xbf58476d1ce4e5b9L)} AS ${p}x2 FROM ${p}2),
       |${p}4 AS (SELECT *, xor(${p}x2, ${p}x2 >> 27) AS ${p}y2 FROM ${p}3),
       |${p}5 AS (SELECT *, ${mulModExpr(s"${p}y2", 0x94d049bb133111ebL)} AS ${p}x3 FROM ${p}4)""".stripMargin

  /** Exact-dup pre-pass mirror + rep corpus (Dedup.withExactPrepass). */
  private val prepassCtes: String =
    """members AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sha256(text)) AS rep_id FROM documents),
      |reps AS (
      |  SELECT d.doc_id, d.text FROM documents d JOIN members m USING (doc_id) WHERE m.doc_id = m.rep_id)""".stripMargin

  /** Full replay of simhashNearDups: FNV+mix token hashes, 64-bit vote
    * fold, 4×16-bit band keys, bucket cap, bit_count verify, pre-pass
    * expansion.
    */
  val dedupSimhashSql: String =
    s"""WITH $prepassCtes,
       |doctok AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
       |  FROM reps),
       |tokf AS (SELECT token, ${fnvExpr("token")} AS f
       |  FROM (SELECT DISTINCT token FROM doctok)),
       |${mixChainCtes("s", "tokf", "f")},
       |th AS (SELECT token, xor(sx3, sx3 >> 31) AS h FROM s5),
       |votes AS (
       |  SELECT r.doc_id, bb.b,
       |    sum(CASE WHEN ((t.h >> bb.b) % 2) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM reps r
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb
       |  LEFT JOIN (SELECT dt.doc_id, th.h FROM doctok dt JOIN th USING (token)) t
       |    ON t.doc_id = r.doc_id
       |  GROUP BY r.doc_id, bb.b),
       |sims AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS uh
       |  FROM votes GROUP BY doc_id),
       |sims2 AS (
       |  SELECT doc_id, uh,
       |    CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT THEN uh - $M64 ELSE uh END AS BIGINT) AS sim
       |  FROM sims),
       |banded AS (
       |  SELECT doc_id, sim, bb.b AS band_id, CAST((uh >> (16 * bb.b)) % 65536 AS BIGINT) AS band_hash
       |  FROM sims2 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb),
       |ok AS (
       |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM banded)
       |  WHERE bsz <= 4096),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS ra, r.doc_id AS rb, bit_count(xor(l.sim, r.sim)) AS hamming
       |  FROM ok l JOIN ok r ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
       |core AS (SELECT ra, rb, hamming FROM cand WHERE hamming <= 3),
       |crossp AS (
       |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a, greatest(ma.doc_id, mb.doc_id) AS doc_b, c.hamming
       |  FROM core c JOIN members ma ON ma.rep_id = c.ra JOIN members mb ON mb.rep_id = c.rb),
       |intra AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, 0 AS hamming
       |  FROM members l JOIN members r ON l.rep_id = r.rep_id AND l.doc_id < r.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming FROM (
       |  SELECT * FROM crossp UNION ALL SELECT * FROM intra)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Full replay of minhashNearDups: 16 lane-min hashes over 3-token
    * shingles, 4 lane-min-list band keys, bucket cap, exact shingle-set
    * Jaccard verify, pre-pass expansion.
    */
  val dedupMinhashLshSql: String = {
    val laneVals = (0 until 16).map(l =>
      s"($l, ${java.lang.Long.toUnsignedString(Dedup.laneConst(l))}::HUGEINT)").mkString(", ")
    val grams =
      """CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |      ELSE list_distinct(list_transform(generate_series(1, len(ts)-2), i -> array_to_string(ts[i:i+2], ' '))) END""".stripMargin
    s"""WITH $prepassCtes,
       |tk AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM reps),
       |gsets AS (SELECT doc_id, $grams AS g FROM tk),
       |sh AS (SELECT doc_id, unnest(g) AS s FROM gsets),
       |uf AS (SELECT s, ${fnvExpr("s")} AS f
       |  FROM (SELECT DISTINCT s FROM sh)),
       |lanes AS (SELECT * FROM (VALUES $laneVals) l(lane, lc)),
       |l0 AS (SELECT s, lane, xor(f, lc) AS x0 FROM uf CROSS JOIN lanes),
       |${mixChainCtes("m", "l0", "x0")},
       |th AS (SELECT s, lane, xor(mx3, mx3 >> 31) AS h FROM m5),
       |mins AS (
       |  SELECT sh.doc_id, th.lane, min(th.h) AS mh
       |  FROM sh JOIN th USING (s) GROUP BY sh.doc_id, th.lane),
       |bands AS (
       |  SELECT doc_id, lane // 4 AS band_id, list(mh ORDER BY lane) AS bk
       |  FROM mins GROUP BY doc_id, lane // 4),
       |ok AS (
       |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band_id, bk) AS bsz FROM bands)
       |  WHERE bsz <= 256),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS ra, r.doc_id AS rb
       |  FROM ok l JOIN ok r ON l.band_id = r.band_id AND l.bk = r.bk AND l.doc_id < r.doc_id),
       |ver AS (
       |  SELECT ra, rb, len(list_intersect(a.g, b.g))::DOUBLE /
       |    (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS j
       |  FROM pairs JOIN gsets a ON a.doc_id = ra JOIN gsets b ON b.doc_id = rb),
       |core AS (SELECT ra, rb, round(j, 4) AS jaccard FROM ver WHERE j >= 0.7),
       |crossp AS (
       |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a, greatest(ma.doc_id, mb.doc_id) AS doc_b, c.jaccard
       |  FROM core c JOIN members ma ON ma.rep_id = c.ra JOIN members mb ON mb.rep_id = c.rb),
       |intra AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, 1.0::DOUBLE AS jaccard
       |  FROM members l JOIN members r ON l.rep_id = r.rep_id AND l.doc_id < r.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Oracle for the LSH path itself: the brute-force all-pairs ground
    * truth over the WHOLE table. Valid because the banded-minhash blocking
    * provably loses nothing at the verify sf (OpsSpec "ngram LSH equals
    * brute force exactly on real sf0.01 docs").
    */
  val dedupNgramSql: String =
    """WITH d AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents),
      |g AS (SELECT doc_id, CASE WHEN length(norm) < 4 THEN [norm]
      |      ELSE list_distinct(list_transform(generate_series(1, length(norm)-3), i -> norm[i:i+3])) END AS grams FROM d)
      |SELECT * FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(len(list_intersect(a.grams, b.grams))::DOUBLE /
      |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  /** Frozen LSH geometry (planesFor(500)=4 at the sf0.01 verify scale,
    * tables from the 0.95-recall sizing formula) so the query needs no
    * corpus-count pass and the oracle replay bakes the same constants.
    */
  val EmbPlanes = 4
  val EmbTables: Int = Dedup.tablesFor(EmbPlanes, threshold = 0.35, recall = 0.95)

  val dedupEmbedding: Q = (s, dir) =>
    Dedup.embeddingNearDups(embs(s, dir), nVec = -1L, planesOverride = EmbPlanes,
        tablesOverride = EmbTables)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Full replay of embeddingNearDups: the deterministic hyperplane matrix
    * as literals (Dedup.planeVec — Double.toString round-trips exactly),
    * sign-bit bucket keys from index-order left-fold dot products (bit-
    * identical IEEE addition order vs the compiled kernel), bucket cap,
    * exact cosine verify.
    */
  val dedupEmbeddingSql: String = {
    def dotFold(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), j -> $a[j] * $b[j])), (acc, x) -> acc + x)"
    val planeVals = (0 until EmbTables).flatMap { t =>
      (0 until EmbPlanes).map { pl =>
        val vec = Dedup.planeVec(t * EmbPlanes + pl, 64).mkString(", ")
        s"($t, $pl, [$vec]::DOUBLE[])"
      }
    }.mkString(",\n")
    s"""WITH planes AS (SELECT * FROM (VALUES $planeVals) p(t, pl, pv)),
       |corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dots AS (
       |  SELECT c.vec_id, p.t, p.pl, ${dotFold("c.v", "p.pv")} AS dot
       |  FROM corpus c CROSS JOIN planes p),
       |bits AS (
       |  SELECT vec_id, t, sum(CASE WHEN dot >= 0 THEN (1::BIGINT << pl) ELSE 0 END) AS bits
       |  FROM dots GROUP BY vec_id, t),
       |ok AS (
       |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY t, bits) AS bsz FROM bits)
       |  WHERE bsz <= 1024),
       |pairs AS (
       |  SELECT DISTINCT l.vec_id AS va, r.vec_id AS vb
       |  FROM ok l JOIN ok r ON l.t = r.t AND l.bits = r.bits AND l.vec_id < r.vec_id),
       |ver AS (
       |  SELECT va, vb,
       |    ${dotFold("a.v", "b.v")} AS dt,
       |    ${dotFold("a.v", "a.v")} AS na,
       |    ${dotFold("b.v", "b.v")} AS nb
       |  FROM pairs JOIN corpus a ON a.vec_id = va JOIN corpus b ON b.vec_id = vb),
       |cosv AS (
       |  SELECT va AS vec_a, vb AS vec_b,
       |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dt / (sqrt(na) * sqrt(nb)) END AS cos
       |  FROM ver)
       |SELECT vec_a, vec_b, CAST(round(cos, 4) AS DOUBLE) AS cos FROM cosv
       |WHERE cos >= 0.35 ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Brute-force ground truth for the LSH exact-verify stages (bounded to
    * the first 1000 doc_ids so the pair count stays O(10⁵) at bench sf) —
    * DuckDB-oracled, and the recall bar the LSH paths are specced against.
    */
  val dedupMinhashBrute: Q = (s, dir) =>
    Dedup.minhashBrute(docs(s, dir).filter(col("doc_id") < 1000))
      .orderBy(col("doc_a"), col("doc_b"))

  val dedupMinhashBruteSql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      |  FROM documents WHERE doc_id < 1000),
      |g AS (SELECT doc_id, CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
      |      ELSE list_distinct(list_transform(generate_series(1, len(ts)-2), i -> array_to_string(ts[i:i+2], ' '))) END AS sh FROM d)
      |SELECT * FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin

  /** Pairs → connected components → (doc_id, cluster_rep): the keep/drop
    * decision of a dedup pass. Oracle = recursive-CTE transitive closure
    * over the same brute-force pair list.
    */
  val dedupClusters: Q = (s, dir) =>
    Dedup.dupClusters(Dedup.ngramBrute(docs(s, dir).filter(col("doc_id") < 1000)))
      .orderBy(col("doc_id"))

  val dedupClustersSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents WHERE doc_id < 1000),
      |g AS (SELECT doc_id, CASE WHEN length(norm) < 4 THEN [norm]
      |      ELSE list_distinct(list_transform(generate_series(1, length(norm)-3), i -> norm[i:i+3])) END AS grams FROM d),
      |pairs AS (
      |  SELECT * FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      len(list_intersect(a.grams, b.grams))::DOUBLE /
      |        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS j
      |    FROM g a JOIN g b ON a.doc_id < b.doc_id) WHERE j >= 0.8),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      |SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  val dedupNgramBrute: Q = (s, dir) =>
    Dedup.ngramBrute(docs(s, dir).filter(col("doc_id") < 1000))
      .orderBy(col("doc_a"), col("doc_b"))

  val dedupNgramBruteSql: String =
    """WITH d AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents WHERE doc_id < 1000),
      |g AS (SELECT doc_id, CASE WHEN length(norm) < 4 THEN [norm]
      |      ELSE list_distinct(list_transform(generate_series(1, length(norm)-3), i -> norm[i:i+3])) END AS grams FROM d)
      |SELECT * FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(len(list_intersect(a.grams, b.grams))::DOUBLE /
      |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- ANN

  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding"))

  val annBruteTopk: Q = (s, dir) => {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(e, queriesOf(e), k = 10)
      .withColumn("rnk", col("rnk").cast("long"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** DuckDB's list_cosine_similarity verifies the exact top-k path. */
  val annBruteTopkSql: String =
    """SELECT query_id, vec_id, CAST(round(cos, 4) AS DOUBLE) AS cos, rnk FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id ASC) AS rnk
      |  FROM embeddings q, embeddings c WHERE q.vec_id < 5)
      |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  val annIvfTopk: Q = (s, dir) => {
    val e = embs(s, dir)
    Similarity.ivfTopK(e, queriesOf(e), k = 10, nCells = 16, nProbe = 4, dim = 64)
      .withColumn("rnk", col("rnk").cast("long"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The IVF path is fully deterministic (fixed pseudo-random centroids),
    * so the oracle replays it in SQL with the SAME centroids embedded as
    * literals: nearest-cell assignment (tie → larger cell id, matching
    * array_max over (cos, c) structs), nProbe=4 probes per query, exact
    * cosine top-k within the probed cells.
    */
  val annIvfTopkSql: String = {
    val centroids = (0 until 16).map { c =>
      val vs = Similarity.centroidVec(c, 64).map(_.toString).mkString(", ")
      s"SELECT $c AS c, [$vs]::DOUBLE[] AS cv"
    }.mkString(" UNION ALL ")
    s"""WITH centroids AS ($centroids),
       |corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |assigned AS (
       |  SELECT vec_id, v, c AS cell FROM (
       |    SELECT corpus.vec_id, corpus.v, centroids.c,
       |      row_number() OVER (PARTITION BY corpus.vec_id
       |        ORDER BY list_cosine_similarity(corpus.v, centroids.cv) DESC, centroids.c DESC) AS rn
       |    FROM corpus, centroids) WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, qv, c AS cell FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, centroids.c,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, centroids.cv) DESC, centroids.c DESC) AS rn
       |    FROM corpus q, centroids WHERE q.vec_id < 5) WHERE rn <= 4),
       |scored AS (
       |  SELECT p.query_id, a.vec_id, list_cosine_similarity(p.qv, a.v) AS cos
       |  FROM probes p JOIN assigned a ON p.cell = a.cell)
       |SELECT query_id, vec_id, CAST(round(cos, 4) AS DOUBLE) AS cos, rnk FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rnk
       |  FROM scored) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- text

  val textLangid: Q = (s, dir) =>
    TextAnalysis.langId(docs(s, dir)).orderBy(col("doc_id"))

  val textQuality: Q = (s, dir) =>
    TextAnalysis.quality(docs(s, dir)).orderBy(col("doc_id"))

  val textQualitySql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars,
      |  len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}0-9]+'), x -> x <> '')) AS n_tokens,
      |  round(length(text)::DOUBLE / greatest(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}0-9]+'), x -> x <> '')), 1), 4) AS avg_token_len,
      |  round((length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4) AS punct_ratio,
      |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4) AS digit_ratio,
      |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4) AS upper_ratio,
      |  round(len(list_intersect(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}0-9]+'), x -> x <> '')), ['the','and','of','to','in','is','that','with','for','was']))::DOUBLE / 10.0, 4) AS stopword_cov
      |FROM documents ORDER BY doc_id""".stripMargin

  val textLangidSql: String = {
    def hits(l: String): String = {
      val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(",")
      s"len(list_intersect(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\\p{L}0-9]+'), x -> x <> '')), [$words]))"
    }
    s"""SELECT doc_id, CASE
       |  WHEN ${hits("de")} = 0 AND ${hits("en")} = 0 AND ${hits("es")} = 0 AND ${hits("fr")} = 0 THEN 'unknown'
       |  WHEN ${hits("de")} >= ${hits("en")} AND ${hits("de")} >= ${hits("es")} AND ${hits("de")} >= ${hits("fr")} THEN 'de'
       |  WHEN ${hits("en")} >= ${hits("de")} AND ${hits("en")} >= ${hits("es")} AND ${hits("en")} >= ${hits("fr")} THEN 'en'
       |  WHEN ${hits("es")} >= ${hits("de")} AND ${hits("es")} >= ${hits("en")} AND ${hits("es")} >= ${hits("fr")} THEN 'es'
       |  ELSE 'fr' END AS lang_detected
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  val textTokens: Q = (s, dir) =>
    TextAnalysis.tokenCounts(docs(s, dir)).orderBy(col("doc_id"))

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_ws_tokens,
      |  CAST(coalesce(list_sum(list_transform(
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}0-9]+'), x -> x <> ''),
      |    x -> CAST(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_est
      |FROM documents ORDER BY doc_id""".stripMargin

  val textFingerprint: Q = (s, dir) =>
    TextAnalysis.fingerprints(docs(s, dir)).orderBy(col("doc_id"))

  /** The rolling 64-bit polynomial hash replayed in SQL: fold over the
    * normalized text's char codes in HUGEINT with an explicit mod-2⁶⁴ wrap
    * (DuckDB integer ops error on overflow; Java longs wrap), then mapped
    * back to the signed two's-complement value.
    */
  val textFingerprintSql: String =
    """WITH n AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(0::HUGEINT,
      |        list_transform(range(1, length(s) + 1), i -> ascii(s[i])::HUGEINT)),
      |      (h, c) -> (h * 1315423911 + c) % 18446744073709551616::HUGEINT) AS hu
      |  FROM n)
      |SELECT doc_id,
      |  CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
      |    THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS fingerprint
      |FROM f ORDER BY doc_id""".stripMargin

  private val tokensSqlExpr =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** F16/F17: TF-IDF as explicit joins/aggregates. */
  val textTfidf: Q = (s, dir) =>
    ops.TfIdf.tfidf(docs(s, dir)).orderBy(col("doc_id"), col("token"))

  val textTfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSqlExpr) AS token FROM documents),
       |tf AS (
       |  SELECT doc_id, token, 1.0 + ln(count(*)::DOUBLE) AS tf
       |  FROM toks GROUP BY doc_id, token),
       |dfq AS (
       |  SELECT token, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
       |idf AS (
       |  SELECT token, ln(((SELECT count(*) FROM documents)::DOUBLE + 1.0) /
       |    (df::DOUBLE + 1.0)) + 1.0 AS idf FROM dfq)
       |SELECT tf.doc_id AS doc_id, tf.token AS token, round(tf.tf * idf.idf, 4) AS tfidf
       |FROM tf JOIN idf ON tf.token = idf.token
       |ORDER BY tf.doc_id, tf.token""".stripMargin

  /** A14: χ² (token, category) feature-selection scores; category = lang. */
  val textChi2: Q = (s, dir) =>
    ops.TfIdf.chiSquared(docs(s, dir).withColumnRenamed("lang", "category"))
      .orderBy(col("token"), col("category"))

  val textChi2Sql: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, category, token FROM (
       |    SELECT doc_id, lang AS category,
       |      unnest($tokensSqlExpr) AS token FROM documents)),
       |tok_cat AS (
       |  SELECT token, category, count(*) AS n11 FROM toks
       |  GROUP BY token, category HAVING count(*) >= 5),
       |tok_tot AS (SELECT token, count(*) AS n1x FROM toks GROUP BY token),
       |cat_tot AS (SELECT lang AS category, count(*) AS nx1 FROM documents GROUP BY lang),
       |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
       |SELECT tc.token AS token, tc.category AS category, tc.n11 AS n11,
       |  round(n.n * pow(tc.n11 * (n.n - tt.n1x - (ct.nx1 - tc.n11)) - (tt.n1x - tc.n11) * (ct.nx1 - tc.n11), 2) /
       |    (tt.n1x * (n.n - tt.n1x) * ct.nx1 * (n.n - ct.nx1)), 4) AS chi2
       |FROM tok_cat tc
       |JOIN tok_tot tt ON tc.token = tt.token
       |JOIN cat_tot ct ON tc.category = ct.category, n
       |ORDER BY tc.token, tc.category""".stripMargin

  /** Shared contingency CTE text for the MI / odds-ratio oracles (mirrors
    * ops.TfIdf.contingency: A ≥ 5 gate, D from the lazy N).
    */
  private val contingencySqlCtes: String =
    s"""toks AS (
       |  SELECT DISTINCT doc_id, category, token FROM (
       |    SELECT doc_id, lang AS category,
       |      unnest($tokensSqlExpr) AS token FROM documents)),
       |tok_cat AS (
       |  SELECT token, category, count(*) AS a FROM toks
       |  GROUP BY token, category HAVING count(*) >= 5),
       |tok_tot AS (SELECT token, count(*) AS n1x FROM toks GROUP BY token),
       |cat_tot AS (SELECT lang AS category, count(*) AS nx1 FROM documents GROUP BY lang),
       |n AS (SELECT count(*) AS n FROM documents),
       |cont AS (
       |  SELECT tc.token AS token, tc.category AS category, tc.a AS a,
       |    tt.n1x - tc.a AS b, ct.nx1 - tc.a AS c,
       |    n.n - tt.n1x - (ct.nx1 - tc.a) AS d
       |  FROM tok_cat tc
       |  JOIN tok_tot tt ON tc.token = tt.token
       |  JOIN cat_tot ct ON tc.category = ct.category, n)""".stripMargin

  val textMi: Q = (s, dir) =>
    ops.TfIdf.mutualInformation(docs(s, dir).withColumnRenamed("lang", "category"))
      .orderBy(col("token"), col("category"))

  val textMiSql: String =
    s"""WITH $contingencySqlCtes
       |SELECT token, category, a,
       |  a::DOUBLE / ((a + c) * (a + b))::DOUBLE AS mi
       |FROM cont ORDER BY token, category""".stripMargin

  val textOddsRatio: Q = (s, dir) =>
    ops.TfIdf.oddsRatio(docs(s, dir).withColumnRenamed("lang", "category"))
      .orderBy(col("token"), col("category"))

  val textOddsRatioSql: String =
    s"""WITH $contingencySqlCtes
       |SELECT token, category, a,
       |  CASE WHEN b * c = 0
       |    THEN CASE WHEN a * d > 0 THEN 1.7976931348623157e308 ELSE 0.0 END
       |    ELSE (a * d)::DOUBLE / (b * c)::DOUBLE END AS odds_ratio
       |FROM cont ORDER BY token, category""".stripMargin

  // ---------------------------------------------------------------- cooc

  /** A8/W4/W5: token dictionary with dense rank ids. */
  val coocDictionary: Q = (s, dir) =>
    ops.Cooccurrence.tokenDictionary(docs(s, dir), minFreq = 5, topV = 200)
      .withColumn("id", col("id").cast("long"))
      .orderBy(col("id"))

  val coocDictionarySql: String =
    """SELECT token, freq, row_number() OVER (ORDER BY freq DESC, token ASC) - 1 AS id
      |FROM (SELECT token, count(*) AS freq
      |      FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
      |            FROM documents)
      |      GROUP BY token HAVING count(*) > 5
      |      ORDER BY freq DESC, token ASC LIMIT 200)
      |ORDER BY id""".stripMargin

  /** A9/X1: windowed co-occurrence pair weights with shard columns. */
  val coocPairs: Q = (s, dir) => {
    val d = docs(s, dir)
    val dict = ops.Cooccurrence.tokenDictionary(d, minFreq = 5, topV = 200)
    ops.Cooccurrence.cooccurrence(d, dict)
      .withColumn("shard_l", col("shard_l").cast("long"))
      .withColumn("shard_r", col("shard_r").cast("long"))
      .orderBy(col("l"), col("r"))
  }

  /** Shared CTE prefix: per-doc in-vocabulary token ranks (the compacted
    * positions the window distance is measured over, mirroring docIds).
    */
  private val coocIdsCte: String =
    """WITH toks AS (
      |  SELECT doc_id, ts[i] AS token, i
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      |        FROM documents),
      |       LATERAL (SELECT unnest(generate_series(1, len(ts))) AS i) t),
      |dict AS (
      |  SELECT token, row_number() OVER (ORDER BY freq DESC, token ASC) - 1 AS id
      |  FROM (SELECT token, count(*) AS freq FROM toks
      |        GROUP BY token HAVING count(*) > 5
      |        ORDER BY freq DESC, token ASC LIMIT 200)),
      |ids AS (
      |  SELECT t.doc_id, d.id, row_number() OVER (PARTITION BY t.doc_id ORDER BY t.i) AS rnk
      |  FROM toks t JOIN dict d ON t.token = d.token),
      |pairs AS (
      |  SELECT least(a.id, b.id) AS l, greatest(a.id, b.id) AS r, 1.0 / (b.rnk - a.rnk) AS w
      |  FROM ids a JOIN ids b ON a.doc_id = b.doc_id AND b.rnk > a.rnk AND b.rnk - a.rnk <= 10
      |  UNION ALL SELECT id, id, 1.0 FROM ids),
      |cooc AS (
      |  SELECT l, r, round(sum(w), 4) AS weight FROM pairs GROUP BY l, r)""".stripMargin

  val coocPairsSql: String =
    coocIdsCte +
      """
        |SELECT l, r, weight, l % 8 AS shard_l, r % 8 AS shard_r
        |FROM cooc ORDER BY l, r""".stripMargin

  /** A10: dense marginals over the dictionary id space. */
  val coocMarginals: Q = (s, dir) => {
    val d = docs(s, dir)
    val dict = ops.Cooccurrence.tokenDictionary(d, minFreq = 5, topV = 200)
    val cooc = ops.Cooccurrence.cooccurrence(d, dict)
    ops.Cooccurrence.marginals(s, cooc, 200).orderBy(col("id"))
  }

  val coocMarginalsSql: String =
    coocIdsCte +
      """,
        |mass AS (
        |  SELECT id, round(sum(weight), 4) AS mass FROM (
        |    SELECT l AS id, weight FROM cooc
        |    UNION ALL SELECT r AS id, weight FROM cooc WHERE l <> r)
        |  GROUP BY id)
        |SELECT g.id AS id, round(coalesce(m.mass, 0.0), 4) AS mass
        |FROM (SELECT unnest(generate_series(0, 199)) AS id) g
        |LEFT JOIN mass m ON g.id = m.id ORDER BY g.id""".stripMargin

  // ---------------------------------------------------------------- graph

  /** A4+A5 on text-derived graph edges: consecutive-token edges from the
    * documents corpus (the kg social-graph normalization primitive,
    * ExtractSocialGraph.java:75-96,176-195, exercised on a table DuckDB can
    * see), freq ≥ 2 HAVING, per-src window-normalized weights.
    */
  val edgeNormalize: Q = (s, dir) => {
    val toks = docs(s, dir)
      .select(ops.Dedup.tokensCol(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
    val pairs = toks.select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("src"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("dst"))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    val edges = pairs.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2)
    edges
      .withColumn("w_norm", round(col("freq") /
        sum(col("freq")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))), 4))
      .orderBy(col("src"), col("dst"))
  }

  val edgeNormalizeSql: String =
    """WITH d AS (
      |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      |  FROM documents),
      |p AS (SELECT ts[i] AS src, ts[i+1] AS dst
      |      FROM d, LATERAL (SELECT unnest(generate_series(1, len(ts)-1)) AS i) t),
      |e AS (SELECT src, dst, count(*) AS freq FROM p GROUP BY src, dst HAVING count(*) >= 2)
      |SELECT src, dst, freq, round(freq::DOUBLE / sum(freq) OVER (PARTITION BY src), 4) AS w_norm
      |FROM e ORDER BY src, dst""".stripMargin

  /** J8: weighted embedding average via the typed WeightedVecAvg Aggregator
    * (explode→group→Σwᵢvᵢ/Σwᵢ), flattened to scalar rows for the oracle.
    */
  val embWeightedAvg: Q = (s, dir) => {
    val f = udaf(new ops.Aggregators.WeightedVecAvg(64))
    embs(s, dir)
      .select(pmod(col("vec_id"), lit(10)).as("grp"),
        col("embedding").cast("array<double>").as("v"),
        (pmod(col("vec_id"), lit(7)) + 1).cast("double").as("w"))
      .groupBy(col("grp"))
      .agg(f(col("v"), col("w")).as("avg_vec"))
      .select(col("grp"), posexplode(col("avg_vec")).as(Seq("dim", "x")))
      .select(col("grp"), col("dim").cast("long").as("dim"),
        (round(col("x"), 4) + lit(0.0)).as("x")) // +0.0 folds -0.0 → 0.0
      .orderBy(col("grp"), col("dim"))
  }

  val embWeightedAvgSql: String =
    """WITH e AS (
      |  SELECT vec_id % 10 AS grp, (vec_id % 7 + 1)::DOUBLE AS w, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |x AS (SELECT grp, w, i - 1 AS dim, v[i] AS val
      |      FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) t)
      |SELECT grp, dim, round(sum(val * w) / sum(w), 4) + 0.0 AS x
      |FROM x GROUP BY grp, dim ORDER BY grp, dim""".stripMargin

  // ---------------------------------------------------------------- media

  /** Per-row decode features (synthesize → mapPartitions batch decode),
    * floats widened to doubles (exact) so the cross-engine compare is
    * bit-deterministic — no float aggregation whose fold order could
    * differ between engines.
    */
  val multimodalFeatures: Q = (s, dir) => {
    val feats = Multimodal.extractFeatures(s, Multimodal.synthesize(docs(s, dir))).toDF()
    val fcols = (0 until 8).map(i =>
      element_at(col("features"), i + 1).cast("double").as(s"f$i"))
    feats.select(Seq(col("media_id"), col("kind"), col("n_bytes"),
        col("frames_sampled")) ++ fcols: _*)
      .orderBy(col("media_id"))
  }

  /** Frozen ground truth for `multimodal_features`: an INDEPENDENT
    * single-threaded plain-JVM replay (no Spark execution — a driver-side
    * loop over the doc ids through the same scalar decode kernels, the
    * ScalarOracle pattern) written to a fixed parquet path that the static
    * oracle SQL reads. Verify calls this before the query dump; the
    * KgOracle scale guard already pins Verify to the sf0.01 contract dir.
    */
  val MultimodalOracleDir = "/root/repo/target/mm_oracle"

  final case class MmOracleRow(media_id: Long, kind: String, n_bytes: Int,
      frames_sampled: Int, f0: Double, f1: Double, f2: Double, f3: Double,
      f4: Double, f5: Double, f6: Double, f7: Double)

  def materializeMultimodalOracle(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val ids = docs(s, dir).select(col("doc_id")).as[Long].collect().sorted
    val rows = ids.map { id =>
      val m = Multimodal.synthRow(id)
      val (sampled, f) = m.kind match {
        case "image" => (1, Multimodal.decodeImage(m.payload))
        case "audio" => (1, Multimodal.decodeAudio(m.payload))
        case _ => Multimodal.decodeVideo(m.payload, 10)
      }
      MmOracleRow(m.media_id, m.kind, m.payload.length, sampled,
        f(0).toDouble, f(1).toDouble, f(2).toDouble, f(3).toDouble,
        f(4).toDouble, f(5).toDouble, f(6).toDouble, f(7).toDouble)
    }.toSeq
    s.createDataFrame(rows).coalesce(1)
      .write.mode("overwrite").parquet(s"$MultimodalOracleDir/features.parquet")
  }

  val multimodalFeaturesSql: String =
    s"""SELECT media_id, kind, n_bytes, frames_sampled,
       |  f0, f1, f2, f3, f4, f5, f6, f7
       |FROM read_parquet('$MultimodalOracleDir/features.parquet/*.parquet')
       |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- registry

  def all: Map[String, Q] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_minhash_lsh" -> dedupMinhash,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgram,
    "dedup_embedding_cosine" -> dedupEmbedding,
    "dedup_minhash_brute" -> dedupMinhashBrute,
    "dedup_ngram_brute" -> dedupNgramBrute,
    "dedup_clusters" -> dedupClusters,
    "edge_normalize" -> edgeNormalize,
    "emb_weighted_avg" -> embWeightedAvg,
    "ann_brute_topk" -> annBruteTopk,
    "ann_ivf_topk" -> annIvfTopk,
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "text_tfidf" -> textTfidf,
    "text_chi2" -> textChi2,
    "text_mi" -> textMi,
    "text_oddsratio" -> textOddsRatio,
    "cooc_dictionary" -> coocDictionary,
    "cooc_pairs" -> coocPairs,
    "cooc_marginals" -> coocMarginals,
    "multimodal_features" -> multimodalFeatures,
  )

  def oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_embedding_cosine" -> dedupEmbeddingSql,
    "dedup_minhash_brute" -> dedupMinhashBruteSql,
    "dedup_ngram_brute" -> dedupNgramBruteSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_ngram_jaccard" -> dedupNgramSql,
    "ann_ivf_topk" -> annIvfTopkSql,
    "text_fingerprint" -> textFingerprintSql,
    "edge_normalize" -> edgeNormalizeSql,
    "emb_weighted_avg" -> embWeightedAvgSql,
    "cooc_pairs" -> coocPairsSql,
    "cooc_marginals" -> coocMarginalsSql,
    "ann_brute_topk" -> annBruteTopkSql,
    "text_quality" -> textQualitySql,
    "text_langid" -> textLangidSql,
    "text_tokens" -> textTokensSql,
    "text_tfidf" -> textTfidfSql,
    "text_chi2" -> textChi2Sql,
    "text_mi" -> textMiSql,
    "text_oddsratio" -> textOddsRatioSql,
    "cooc_dictionary" -> coocDictionarySql,
    "multimodal_features" -> multimodalFeaturesSql,
  )
}
