package graft

import org.apache.spark.sql.SparkSession

/** DuckDB oracles for the kg pipeline stages.
  *
  * The pipeline's inputs are synthesized in-memory (BASELINE.json
  * input_hint: no external data), so DuckDB can't see them through the
  * driver's registered testdata views. Verify therefore MATERIALIZES the
  * synthesized corpus/accounts/entities to parquet at a fixed absolute
  * path, and these oracle statements read them with read_parquet() and
  * recompute each stage independently in SQL:
  *
  *   - kg_mentions      regexp_extract_all over content (three capture
  *                      groups zipped by ordinal), sha256 invariant
  *                      (BuildUserIndex.java:221-269 semantics) — a
  *                      cross-engine replay of the pipeline's scan, whose
  *                      annotation rows the Spark side reads
  *                      (Scan.mentions over the memoized Result.scan)
  *   - kg_dictionary    screen→account join + identifier-split name
  *                      normalization + groupBy count
  *                      (BuildUserIndex.java:104-110, 271-297)
  *   - kg_social_graph  author×mention pairs per file, freq≥2 HAVING,
  *                      per-src normalized weights
  *                      (ExtractSocialGraph.java:75-96, 176-195), against
  *                      the edges the pipeline builds from its scan
  *   - kg_candidates_exact  query-name expansion (normalize + "Last,
  *                      First" swap), rollup, >300-candidate back-off,
  *                      top-40 window with total-order tie-break
  *                      (FillFromIndex.java:87-158; the fuzzy LSH tail is
  *                      excluded here and stays gated by the scalar-oracle
  *                      specs)
  *
  * The generator is deterministic, so the materialized parquet is a pure
  * function of the scale — the oracle inputs are ground truth the same way
  * the driver's documents.parquet is.
  */
object KgOracle {

  /** Fixed absolute root (the oracle SQL strings are static text — they
    * must name the same path Verify writes to).
    */
  val InputsRoot = "/root/repo/target/kg_inputs"

  def dirFor(scaleName: String): String = s"$InputsRoot/$scaleName"

  /** Verify runs at sf0.01 per the driver contract → Small scale. */
  private val OracleDir = dirFor(kg.CorpusGen.Small.name)

  /** Write the synthesized kg inputs for `sfDir`'s scale where DuckDB can
    * read them. Called by Verify.main before the query dump.
    *
    * Two kinds of materialized frames:
    *   - PRIMARY inputs (corpus/accounts/entities/gold) — pure functions of
    *     the scale, ground truth the same way the driver's testdata is.
    *   - FROZEN intermediates (alignments/candidates/rollup keys) — computed
    *     by the pipeline itself and frozen to parquet so the oracle can
    *     replay every DOWNSTREAM stage (evaluation, decision grid, candidate
    *     diagnostics, connected components + triple materialization)
    *     independently in SQL. The frozen frames' own correctness is gated
    *     upstream: kg_candidates_exact has a from-primary-inputs oracle, and
    *     the feature/score math is pinned by the scalar-oracle exact
    *     triple-set specs (KgPipelineSpec) — same frozen-input pattern the
    *     embedding-LSH oracle uses for its planes/tables.
    */
  def materialize(spark: SparkSession, sfDir: String): Unit = {
    val scale = KgQueries.scaleFor(sfDir)
    // The oracle SQL strings are static text pinned to the Small dir (the
    // driver contract runs Verify at sf0.01 → Small). Materializing any
    // other scale would leave the SQL reading absent/stale Small parquet —
    // fail fast instead of producing confusing oracle mismatches.
    require(dirFor(scale.name) == OracleDir,
      s"Verify/KgOracle only supports the sf0.01 (${kg.CorpusGen.Small.name}) scale; " +
        s"got $sfDir → ${scale.name}. The static oracle SQL reads $OracleDir.")
    val d = dirFor(scale.name)
    kg.CorpusGen.repos(spark, scale).toDF()
      .write.mode("overwrite").parquet(s"$d/corpus.parquet")
    kg.CorpusGen.accounts(spark, scale).toDF()
      .write.mode("overwrite").parquet(s"$d/accounts.parquet")
    kg.CorpusGen.entities(spark, scale).toDF()
      .write.mode("overwrite").parquet(s"$d/entities.parquet")
    kg.CorpusGen.gold(spark, scale).toDF()
      .write.mode("overwrite").parquet(s"$d/gold.parquet")
    val r = KgQueries.result(spark, sfDir)
    r.alignments.write.mode("overwrite").parquet(s"$d/alignments.parquet")
    r.candidates.write.mode("overwrite").parquet(s"$d/candidates.parquet")
    r.rollup
      .select("entity_id", "account_id")
      .write.mode("overwrite").parquet(s"$d/rollup_keys.parquet")
  }

  private def corpus = s"read_parquet('$OracleDir/corpus.parquet/*.parquet')"
  private def accounts = s"read_parquet('$OracleDir/accounts.parquet/*.parquet')"
  private def entities = s"read_parquet('$OracleDir/entities.parquet/*.parquet')"
  private def gold = s"read_parquet('$OracleDir/gold.parquet/*.parquet')"
  private def alignments = s"read_parquet('$OracleDir/alignments.parquet/*.parquet')"
  private def candidates = s"read_parquet('$OracleDir/candidates.parquet/*.parquet')"
  private def rollupKeys = s"read_parquet('$OracleDir/rollup_keys.parquet/*.parquet')"

  private val AnnRe = """// @(author|mention) (\S+) \(([^)]*)\)"""

  /** Text.splitName mirror: camelCase/snake_case breaks, whitespace
    * collapse, trim, lowercase.
    */
  private def splitNameSql(c: String): String =
    s"""lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |  $c,
       |  '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
       |  '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'),
       |  '_', ' ', 'g'),
       |  '\\s+', ' ', 'g')))""".stripMargin

  /** Text.normalizeName mirror (no identifier split — query-name side). */
  private def normNameSql(c: String): String =
    s"lower(trim(regexp_replace($c, '\\s+', ' ', 'g')))"

  /** Text.swapLastFirst mirror: first ', ' at a positive index and no
    * second occurrence after it → swap halves.
    */
  private def swapSql(c: String): String =
    s"""CASE WHEN strpos($c, ', ') > 1
       |       AND strpos(substr($c, strpos($c, ', ') + 1), ', ') = 0
       |  THEN substr($c, strpos($c, ', ') + 2) || ' ' || substr($c, 1, strpos($c, ', ') - 1)
       |  ELSE $c END""".stripMargin

  val mentionsSql: String =
    s"""WITH m AS (
       |  SELECT repo, path, "commit", sha256(content) AS content_sha,
       |    regexp_extract_all(content, '$AnnRe', 1) AS ks,
       |    regexp_extract_all(content, '$AnnRe', 2) AS ss,
       |    regexp_extract_all(content, '$AnnRe', 3) AS ds
       |  FROM $corpus)
       |SELECT repo, path, "commit", content_sha, ks[i] AS kind,
       |  ss[i] AS screen_name, ds[i] AS display_name
       |FROM m, LATERAL (SELECT unnest(generate_series(1, len(ks))) AS i) t
       |ORDER BY repo, path, kind, screen_name, display_name""".stripMargin

  /** Shared dictionary CTE body (name, account_id, freq). */
  private val dictCte: String =
    s"""ann AS (
       |  SELECT ss[i] AS screen_name, ds[i] AS display_name
       |  FROM (SELECT regexp_extract_all(content, '$AnnRe', 2) AS ss,
       |               regexp_extract_all(content, '$AnnRe', 3) AS ds
       |        FROM $corpus) m,
       |       LATERAL (SELECT unnest(generate_series(1, len(ss))) AS i) t),
       |named AS (
       |  SELECT ${splitNameSql("display_name")} AS name, screen_name FROM ann),
       |dict AS (
       |  SELECT n.name, a.accountId AS account_id, count(*) AS freq
       |  FROM named n JOIN $accounts a ON n.screen_name = a.screenName
       |  WHERE length(n.name) >= 3
       |  GROUP BY n.name, a.accountId)""".stripMargin

  val dictionarySql: String =
    s"""WITH $dictCte
       |SELECT name, account_id, freq FROM dict ORDER BY name, account_id""".stripMargin

  val socialGraphSql: String =
    s"""WITH f AS (
       |  SELECT regexp_extract_all(content, '// @author (\\S+)', 1) AS aus,
       |         regexp_extract_all(content, '// @mention (\\S+)', 1) AS mes
       |  FROM $corpus),
       |p AS (
       |  SELECT aus[i] AS src_screen, mes[j] AS dst_screen
       |  FROM f,
       |       LATERAL (SELECT unnest(generate_series(1, len(aus))) AS i) t1,
       |       LATERAL (SELECT unnest(generate_series(1, len(mes))) AS j) t2),
       |e AS (
       |  SELECT sa.accountId AS src, da.accountId AS dst, count(*) AS freq
       |  FROM p JOIN $accounts sa ON p.src_screen = sa.screenName
       |         JOIN $accounts da ON p.dst_screen = da.screenName
       |  GROUP BY sa.accountId, da.accountId HAVING count(*) >= 2)
       |SELECT src, dst, freq,
       |  round(freq::DOUBLE / sum(freq) OVER (PARTITION BY src), 6) AS w
       |FROM e ORDER BY src, dst""".stripMargin

  /** Shared exact-path CTEs: query-name expansion, the all-names rollup,
    * and the three-rung back-off ladder (all names → top-3 names by
    * multiplicity → primary name; a rung with >300 candidates tightens,
    * a rung that matches nothing stops the ladder empty — FillFromIndex
    * .java:99-152 loop + AllNamesStrategy.java:29-64 rung sets, mirroring
    * CandidateGen.rollupAll's windowed rung pick sequentially).
    */
  private val ladderCtes: String =
    s"""ent AS (SELECT id AS entity_id, names, labels FROM $entities WHERE NOT dead),
       |rawq AS (
       |  SELECT entity_id, ${normNameSql("nm")} AS n
       |  FROM (SELECT entity_id, unnest(names || labels) AS nm FROM ent)),
       |qn AS (
       |  SELECT DISTINCT entity_id, q AS qname FROM (
       |    SELECT entity_id, n AS q FROM rawq
       |    UNION ALL
       |    SELECT entity_id, ${swapSql("n")} AS q FROM rawq)
       |  WHERE length(q) >= 3),
       |full_r AS (
       |  SELECT q.entity_id, d.account_id, sum(d.freq) AS freq
       |  FROM qn q JOIN dict d ON q.qname = d.name
       |  GROUP BY q.entity_id, d.account_id),
       |over_m AS (
       |  SELECT entity_id FROM (
       |    SELECT entity_id, count(*) AS n_cand FROM full_r GROUP BY entity_id)
       |  WHERE n_cand > 300),
       |t3 AS (
       |  SELECT entity_id, sw AS qname FROM (
       |    SELECT entity_id, sw, row_number() OVER (PARTITION BY entity_id
       |      ORDER BY count(*) DESC, sw ASC) AS rn
       |    FROM (SELECT entity_id, ${swapSql("n")} AS sw FROM rawq)
       |    WHERE length(sw) >= 3
       |    GROUP BY entity_id, sw)
       |  WHERE rn <= 3),
       |mid_r AS (
       |  SELECT t.entity_id, d.account_id, sum(d.freq) AS freq
       |  FROM (SELECT t3.* FROM t3 JOIN over_m USING (entity_id)) t
       |  JOIN dict d ON t.qname = d.name
       |  GROUP BY t.entity_id, d.account_id),
       |over_m2 AS (
       |  SELECT entity_id FROM (
       |    SELECT entity_id, count(*) AS n FROM mid_r GROUP BY entity_id)
       |  WHERE n > 300),
       |prim0 AS (
       |  SELECT e.entity_id, ${normNameSql("e.names[1]")} AS n
       |  FROM ent e JOIN over_m2 USING (entity_id)),
       |prim AS (
       |  SELECT entity_id, q AS qname FROM (
       |    SELECT entity_id, ${swapSql("n")} AS q FROM prim0)
       |  WHERE length(q) >= 3),
       |narrowed AS (
       |  SELECT p.entity_id, d.account_id, sum(d.freq) AS freq
       |  FROM prim p JOIN dict d ON p.qname = d.name
       |  GROUP BY p.entity_id, d.account_id),
       |kept AS (
       |  SELECT * FROM full_r
       |  WHERE NOT EXISTS (SELECT 1 FROM over_m o WHERE o.entity_id = full_r.entity_id)),
       |kept_mid AS (
       |  SELECT * FROM mid_r
       |  WHERE NOT EXISTS (SELECT 1 FROM over_m2 o WHERE o.entity_id = mid_r.entity_id)),
       |exact AS (SELECT * FROM kept UNION ALL SELECT * FROM kept_mid
       |          UNION ALL SELECT * FROM narrowed)""".stripMargin

  val candidatesExactSql: String =
    s"""WITH $dictCte,
       |$ladderCtes
       |SELECT entity_id, account_id, CAST(freq AS BIGINT) AS freq, rank FROM (
       |  SELECT entity_id, account_id, freq,
       |    row_number() OVER (PARTITION BY entity_id
       |      ORDER BY freq DESC, account_id ASC) AS rank
       |  FROM exact)
       |WHERE rank <= 40
       |ORDER BY entity_id, account_id""".stripMargin

  /** North-rule per-row invariant, cross-engine: Spark emits
    * sha2(content, 256) from the in-memory synthesis; DuckDB recomputes
    * sha256 over the materialized parquet bytes — two independent hash
    * implementations over two independently-serialized copies.
    */
  val corpusSql: String =
    s"""SELECT repo, path, "commit", lang, content,
       |  sha256(content) AS content_sha
       |FROM $corpus ORDER BY repo, path""".stripMargin

  /** Scorer.evaluate replay (CustomEvaluation.java:30-53 abstain
    * semantics): right pick → TP, wrong pick → FP+FN, abstain on a
    * gold-positive entity → FN.
    */
  val evaluationSql: String =
    s"""WITH picks AS (
       |  SELECT entity_id, account_id AS picked FROM $alignments
       |  WHERE is_alignment),
       |g AS (SELECT entity AS entity_id, accountId AS gold_account FROM $gold),
       |j AS (SELECT g.entity_id, p.picked, g.gold_account
       |      FROM g LEFT JOIN picks p USING (entity_id)),
       |agg AS (SELECT
       |  CAST(sum(CASE WHEN picked = gold_account THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN picked IS NOT NULL
       |    AND (gold_account < 0 OR picked <> gold_account) THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |  CAST(sum(CASE WHEN gold_account >= 0
       |    AND (picked IS NULL OR picked <> gold_account) THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM j)
       |SELECT tp, fp, fn,
       |  round(tp / greatest(tp + fp, 1), 6) AS precision,
       |  round(tp / greatest(tp + fn, 1), 6) AS recall,
       |  round(CAST(2.0 AS DOUBLE) * (tp / greatest(tp + fp, 1)) * (tp / greatest(tp + fn, 1)) /
       |    greatest((tp / greatest(tp + fp, 1)) + (tp / greatest(tp + fn, 1)),
       |             CAST(1e-9 AS DOUBLE)), 6) AS f1
       |FROM agg""".stripMargin

  /** Scorer.gridEvaluation replay: per-entity (best, second, picked) from
    * the frozen scored pairs, crossed with the 20×5 decision grid.
    */
  val gridEvalSql: String =
    s"""WITH best AS (
       |  SELECT entity_id, account_id AS picked, score AS best
       |  FROM $alignments WHERE rank = 1),
       |second AS (SELECT entity_id, score AS second FROM $alignments WHERE rank = 2),
       |per AS (
       |  SELECT b.entity_id, b.picked, b.best, coalesce(s.second, CAST(0.0 AS DOUBLE)) AS second
       |  FROM best b LEFT JOIN second s USING (entity_id)),
       |grid AS (
       |  SELECT ms * CAST(0.05 AS DOUBLE) AS min_score, mg * CAST(0.1 AS DOUBLE) AS margin
       |  FROM (SELECT unnest(generate_series(0, 19)) AS ms),
       |       (SELECT unnest(generate_series(0, 4)) AS mg)),
       |g AS (SELECT entity AS entity_id, accountId AS gold_account FROM $gold),
       |decided AS (
       |  SELECT gr.min_score, gr.margin, g.gold_account, p.picked,
       |    (p.picked IS NOT NULL AND p.best - p.second > gr.margin
       |      AND p.best > gr.min_score) AS picked_ok
       |  FROM g LEFT JOIN per p USING (entity_id) CROSS JOIN grid gr),
       |agg AS (
       |  SELECT min_score, margin,
       |    CAST(sum(CASE WHEN picked_ok AND picked = gold_account THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN picked_ok
       |      AND (gold_account < 0 OR picked <> gold_account) THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN gold_account >= 0
       |      AND (NOT coalesce(picked_ok, false) OR picked <> gold_account
       |           OR picked IS NULL) THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM decided GROUP BY min_score, margin)
       |SELECT min_score, margin, tp, fp, fn,
       |  round(tp / greatest(tp + fp, 1), 6) AS precision,
       |  round(tp / greatest(tp + fn, 1), 6) AS recall,
       |  round(CAST(2.0 AS DOUBLE) * (tp / greatest(tp + fp, 1)) * (tp / greatest(tp + fn, 1)) /
       |    greatest((tp / greatest(tp + fp, 1)) + (tp / greatest(tp + fn, 1)),
       |             CAST(1e-9 AS DOUBLE)), 6) AS f1
       |FROM agg ORDER BY min_score, margin""".stripMargin

  /** Scorer.candidateStats replay: index loss / cutoff loss / per-rank gold
    * histogram / max fan-in over the frozen rollup + candidate key sets.
    */
  val candidateStatsSql: String =
    s"""WITH g AS (
       |  SELECT entity AS entity_id, accountId AS account_id
       |  FROM $gold WHERE accountId >= 0),
       |rk AS (SELECT entity_id, account_id FROM $rollupKeys),
       |ck AS (SELECT entity_id, account_id, rank FROM $candidates),
       |stats AS (
       |  SELECT 'n_gold' AS stat, CAST(-1 AS BIGINT) AS ord, count(*) AS n FROM g
       |  UNION ALL
       |  SELECT 'index_loss', CAST(-1 AS BIGINT), count(*) FROM g
       |  WHERE NOT EXISTS (SELECT 1 FROM rk
       |    WHERE rk.entity_id = g.entity_id AND rk.account_id = g.account_id)
       |  UNION ALL
       |  SELECT 'cutoff_loss', CAST(-1 AS BIGINT), count(*) FROM g
       |  WHERE EXISTS (SELECT 1 FROM rk
       |    WHERE rk.entity_id = g.entity_id AND rk.account_id = g.account_id)
       |    AND NOT EXISTS (SELECT 1 FROM ck
       |    WHERE ck.entity_id = g.entity_id AND ck.account_id = g.account_id)
       |  UNION ALL
       |  SELECT 'max_candidates', CAST(-1 AS BIGINT),
       |    coalesce(max(c), 0) FROM (
       |      SELECT count(*) AS c FROM ck GROUP BY entity_id)
       |  UNION ALL
       |  SELECT 'order_hist', CAST(ck.rank AS BIGINT), count(*)
       |  FROM g JOIN ck ON ck.entity_id = g.entity_id
       |    AND ck.account_id = g.account_id
       |  GROUP BY ck.rank)
       |SELECT stat, ord, CAST(n AS BIGINT) AS n FROM stats ORDER BY stat, ord""".stripMargin

  /** Triples.materialize + Canonicalize replay: connected components over
    * the strong same-as edges via a recursive reachability CTE, then the
    * 8-pattern explosion + distinct (RDFExporter.java:180-196 layout).
    */
  val triplesSql: String =
    s"""WITH RECURSIVE al AS (SELECT * FROM $alignments),
       |strong AS (
       |  SELECT entity_id AS src, 'web:acc/' || screen_name AS dst FROM al
       |  WHERE is_alignment AND score >= CAST(0.9 AS DOUBLE)),
       |edges AS (SELECT src AS a, dst AS b FROM strong
       |          UNION SELECT dst, src FROM strong),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
       |reps AS (
       |  SELECT e.entity_id, coalesce(c.comp, e.entity_id) AS rep
       |  FROM (SELECT DISTINCT entity_id FROM al) e
       |  LEFT JOIN comp c ON c.node = e.entity_id),
       |a2 AS (
       |  SELECT al.*, r.rep, 'web:acc/' || al.screen_name AS acc_iri,
       |    'kb:candidate/' || regexp_replace(al.entity_id, '^kb:resource/', '')
       |      || '/' || CAST(al.account_id AS VARCHAR) AS cand_iri
       |  FROM al JOIN reps r ON r.entity_id = al.entity_id),
       |t AS (
       |  SELECT entity_id AS subj, 'foaf:account' AS pred, acc_iri AS obj
       |  FROM a2 WHERE is_alignment
       |  UNION ALL SELECT entity_id, 'owl:sameAs', rep FROM a2
       |  UNION ALL SELECT entity_id, 'sl:candidate', cand_iri FROM a2
       |  UNION ALL SELECT cand_iri, 'sl:rank', CAST(rank AS VARCHAR) FROM a2
       |  UNION ALL SELECT cand_iri, 'sl:confidence', printf('%.6f', score) FROM a2
       |  UNION ALL SELECT cand_iri, 'sl:account', acc_iri FROM a2
       |  UNION ALL SELECT acc_iri, 'dcterms:identifier', CAST(account_id AS VARCHAR) FROM a2
       |  UNION ALL SELECT acc_iri, 'foaf:accountName', screen_name FROM a2)
       |SELECT DISTINCT subj, pred, obj FROM t ORDER BY subj, pred, obj""".stripMargin

  /** CorpusGen.mix as ONE nested SQL expression (for list_reduce lambdas,
    * where the accumulator is a variable and CTE chains can't thread the
    * fold). Each xor doubles and each limb-multiply quadruples the
    * subexpression text (~10 KB total) — fine for an oracle string.
    */
  private def mixInline(e: String): String = {
    val m64 = OpsQueries.M64
    val x1 = s"((($e) + 11400714819323198485::HUGEINT) % $m64)"
    val y1 = s"xor($x1, $x1 >> 30)"
    val x2 = s"(${OpsQueries.mulModExpr(y1, 0xbf58476d1ce4e5b9L)})"
    val y2 = s"xor($x2, $x2 >> 27)"
    val x3 = s"(${OpsQueries.mulModExpr(y2, 0x94d049bb133111ebL)})"
    s"xor($x3, $x3 >> 31)"
  }

  /** Full kg_candidates replay: the exact path (expansion → rollup →
    * back-off) PLUS the fuzzy MinHash-LSH long tail (kg.Blocking): 3-char
    * shingles, 12 lane minima (SIGNED-long comparison, like the Scala
    * kernel) under FNV-1a ⊕ lane-constant → splitmix, 4 band keys as
    * chained splitmix folds over each band's 3 lane minima, hot-band cap
    * 1000 on the dictionary side, exact shingle-Jaccard ≥ 0.5 verify, then
    * dictionary join + rollup union + the top-40 window.
    */
  val candidatesSql: String = {
    val m64raw = "18446744073709551616::HUGEINT"
    def laneConst(i: Int): String =
      java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L * (i + 1))
    val laneVals = (0 until kg.Blocking.Lanes)
      .map(l => s"($l, ${laneConst(l)}::HUGEINT)").mkString(", ")
    val bandVals = (0 until kg.Blocking.Bands)
      .map(b => s"($b, ${laneConst(b)}::HUGEINT)").mkString(", ")
    // signed lane min ↔ unsigned band-fold input
    val toSigned =
      s"CAST(CASE WHEN h >= 9223372036854775808::HUGEINT THEN h - $m64raw ELSE h END AS BIGINT)"
    val toUnsigned = s"CASE WHEN mh < 0 THEN mh::HUGEINT + $m64raw ELSE mh::HUGEINT END"
    val jac = "len(list_intersect(sa.sh, sb.sh))::DOUBLE / " +
      "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"
    s"""WITH $dictCte,
       |$ladderCtes,
       |lonely AS (
       |  SELECT q.entity_id, q.qname FROM qn q
       |  WHERE NOT EXISTS (SELECT 1 FROM exact e WHERE e.entity_id = q.entity_id)),
       |dnames AS (SELECT DISTINCT name AS nm FROM dict),
       |allnames AS (SELECT DISTINCT qname AS nm FROM lonely UNION SELECT nm FROM dnames),
       |shl AS (
       |  SELECT nm, list_distinct(list_transform(
       |    generate_series(1, length(nm) - 2), i -> nm[i:i+2])) AS sh
       |  FROM allnames),
       |us0 AS (SELECT unnest(sh) AS s FROM shl),
       |us AS (SELECT DISTINCT s FROM us0),
       |uf AS (SELECT s, ${OpsQueries.fnvExpr("s")} AS f FROM us),
       |lanes AS (SELECT * FROM (VALUES $laneVals) l(lane, lc)),
       |l0 AS (SELECT s, lane, xor(f, lc) AS x0 FROM uf CROSS JOIN lanes),
       |${OpsQueries.mixChainCtes("m", "l0", "x0")},
       |th AS (SELECT s, lane, xor(mx3, mx3 >> 31) AS h FROM m5),
       |nsh AS (SELECT nm, unnest(sh) AS s FROM shl),
       |mins AS (
       |  SELECT nsh.nm, th.lane, min($toSigned) AS mh
       |  FROM nsh JOIN th USING (s) GROUP BY nsh.nm, th.lane),
       |bandlists AS (
       |  SELECT nm, lane // 3 AS band_id, list($toUnsigned ORDER BY lane) AS ls
       |  FROM mins GROUP BY nm, lane // 3),
       |bandconsts AS (SELECT * FROM (VALUES $bandVals) b(band_id, bc)),
       |bk0 AS (
       |  SELECT nm, list_reduce(list_prepend(bc, ls),
       |    (acc, v) -> ${mixInline("xor(acc, v)")}) AS bk
       |  FROM bandlists JOIN bandconsts USING (band_id)),
       |qb AS (SELECT l.entity_id, l.qname, b.bk FROM lonely l JOIN bk0 b ON b.nm = l.qname),
       |db AS (SELECT d.nm AS name, b.bk FROM dnames d JOIN bk0 b ON b.nm = d.nm),
       |dbc AS (
       |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY bk) AS bsz FROM db)
       |  WHERE bsz <= 1000),
       |fpairs AS (SELECT DISTINCT q.entity_id, q.qname, d.name
       |  FROM qb q JOIN dbc d USING (bk)),
       |fver AS (
       |  SELECT entity_id, name FROM (
       |    SELECT f.entity_id, f.name, $jac AS j
       |    FROM fpairs f JOIN shl sa ON sa.nm = f.qname JOIN shl sb ON sb.nm = f.name)
       |  WHERE j >= CAST(0.5 AS DOUBLE)),
       |fuzzy AS (
       |  SELECT v.entity_id, d.account_id, sum(d.freq) AS freq
       |  FROM (SELECT DISTINCT entity_id, name FROM fver) v
       |  JOIN dict d ON v.name = d.name
       |  GROUP BY v.entity_id, d.account_id),
       |allcand AS (SELECT * FROM exact UNION ALL SELECT * FROM fuzzy)
       |SELECT entity_id, account_id, CAST(freq AS BIGINT) AS freq, rank FROM (
       |  SELECT entity_id, account_id, freq,
       |    row_number() OVER (PARTITION BY entity_id
       |      ORDER BY freq DESC, account_id ASC) AS rank
       |  FROM allcand)
       |WHERE rank <= 40
       |ORDER BY entity_id, account_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "kg_corpus" -> corpusSql,
    "kg_candidates" -> candidatesSql,
    "kg_mentions" -> mentionsSql,
    "kg_dictionary" -> dictionarySql,
    "kg_social_graph" -> socialGraphSql,
    "kg_candidates_exact" -> candidatesExactSql,
    "kg_evaluation" -> evaluationSql,
    "kg_grid_eval" -> gridEvalSql,
    "kg_candidate_stats" -> candidateStatsSql,
    "kg_triples" -> triplesSql,
  )
}
