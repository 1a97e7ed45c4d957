package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The operator-level exercise surface: one query per implemented operator
  * from SURVEY.md §2 (+ the training-data ops), each over the driver's
  * TPC-H-ish testdata so DuckDB can oracle-check it.
  *
  * Conventions (driver compare contract):
  *   - column names identical between Spark result and oracle SQL;
  *   - every SQL-expressible query ends in an explicit total-order sort on
  *     both sides;
  *   - doubles rounded to 4 decimals on both sides (hash compare is exact);
  *   - queries with no oracle entry are rows-only checks.
  */
object Queries {

  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ------------------------------------------------------------------
  // Aggregations (SURVEY §2.4)
  // ------------------------------------------------------------------

  /** A1-analogue: TPC-H Q1 pricing summary — partial-agg groupBy. */
  val q1Agg: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 4) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** A2: latest-object argmax per key (max_by). */
  val a2LatestArgmax: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_id"), col("event_type")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"))
      .orderBy(col("user_id"))

  val a2LatestArgmaxSql: String =
    """SELECT user_id, event_id, event_type
      |FROM (SELECT user_id, event_id, event_type,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** A3: deterministic group text concat (sort_array first — SURVEY A3). */
  val a3GroupConcat: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(concat_ws("|", sort_array(collect_list(col("event_type")))).as("types"))
      .orderBy(col("user_id"))

  val a3GroupConcatSql: String =
    """SELECT user_id, string_agg(event_type, '|' ORDER BY event_type) AS types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A4+A5: edge-weight sum + per-src window-normalized weights. */
  val a5NormalizedWeights: Q = (s, dir) => {
    val edges = t(s, dir, "events")
      .groupBy(col("user_id").as("src"), col("event_type").as("dst"))
      .agg(sum(col("value")).as("w"))
    edges
      .withColumn("w_norm",
        round(col("w") / sum(col("w")).over(Window.partitionBy(col("src"))), 4))
      .select(col("src"), col("dst"), col("w_norm"))
      .orderBy(col("src"), col("dst"))
  }

  val a5NormalizedWeightsSql: String =
    """SELECT src, dst, round(w / sum(w) OVER (PARTITION BY src), 4) AS w_norm
      |FROM (SELECT user_id AS src, event_type AS dst, sum(value) AS w
      |      FROM events GROUP BY 1, 2)
      |ORDER BY src, dst""".stripMargin

  /** A8: token frequency dictionary (explode + count + HAVING + top-V). */
  val a8TokenFreq: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") > 5)
      .orderBy(col("freq").desc, col("token"))
      .limit(100)

  val a8TokenFreqSql: String =
    """SELECT token, count(*) AS freq
      |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents)
      |WHERE token <> ''
      |GROUP BY token HAVING count(*) > 5
      |ORDER BY freq DESC, token LIMIT 100""".stripMargin

  /** A16: distinct. */
  val a16Distinct: Q = (s, dir) =>
    t(s, dir, "events").select(col("user_id"), col("event_type"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"))

  val a16DistinctSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // ------------------------------------------------------------------
  // Joins (SURVEY §2.5)
  // ------------------------------------------------------------------

  /** J1: candidate equi-join (broadcast dim). */
  val j1EquiJoin: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("n_name"))
  }

  val j1EquiJoinSql: String =
    """SELECT n_name, round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** P9/J4: left-semi broadcast join (id-set membership). */
  val j4SemiJoin: Q = (s, dir) => {
    val highValue = t(s, dir, "orders")
      .filter(col("o_totalprice") > 100000).select(col("o_orderkey"))
    t(s, dir, "lineitem")
      .join(broadcast(highValue), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  val j4SemiJoinSql: String =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** P7-complement / anti join: customers with no high-value order. */
  val j5AntiJoin: Q = (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 250000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  val j5AntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
      |ORDER BY c_custkey""".stripMargin

  /** J6: case-insensitive value join (gold labeling). */
  val j6ValueJoin: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    cust.join(broadcast(nat), lower(col("c_mktsegment")) === lower(col("n_name")), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("n_nationkey")).as("n_matched"), count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))
  }

  val j6ValueJoinSql: String =
    """SELECT c_mktsegment, count(n_nationkey) AS n_matched, count(*) AS n
      |FROM customer LEFT JOIN nation ON lower(c_mktsegment) = lower(n_name)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  // Windows / top-k / selection (SURVEY §2.6)
  // ------------------------------------------------------------------

  /** W1: per-group top-K with deterministic tie-break. */
  val w1TopkPerGroup: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  val w1TopkPerGroupSql: String =
    """SELECT o_custkey, o_orderkey, rnk FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin

  /** W3: argmax-with-margin selection (PrepareTrainingSet.java:904-926). */
  val w3ArgmaxMargin: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("second", coalesce(lead(col("o_totalprice"), 1).over(w), lit(0.0)))
      .filter(col("rn") === 1 &&
        col("o_totalprice") - col("second") > 20000 &&
        col("o_totalprice") > 50000)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") - col("second"), 4).as("margin"))
      .orderBy(col("o_custkey"))
  }

  val w3ArgmaxMarginSql: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice - second, 4) AS margin FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
      |    coalesce(lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC), 0.0) AS second
      |  FROM orders)
      |WHERE rn = 1 AND o_totalprice - second > 20000 AND o_totalprice > 50000
      |ORDER BY o_custkey""".stripMargin

  /** O1/W4: global top-N (TakeOrderedAndProject). */
  val o1TopN: Q = (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(25)

  val o1TopNSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""".stripMargin

  // ------------------------------------------------------------------
  // Scalar functions / filters (SURVEY §2.2-2.3)
  // ------------------------------------------------------------------

  /** F1: whitespace normalization (prepareString). */
  val f1Normalize: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
      .orderBy(col("doc_id"))

  val f1NormalizeSql: String =
    """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
      |FROM documents ORDER BY doc_id""".stripMargin

  /** F3: levenshtein distance (built-in both sides). */
  val f3Levenshtein: Q = (s, dir) =>
    t(s, dir, "nation")
      .select(col("n_name"), levenshtein(col("n_name"), lit("ARGENTINA")).cast("long").as("dist"))
      .orderBy(col("n_name"))

  val f3LevenshteinSql: String =
    """SELECT n_name, levenshtein(n_name, 'ARGENTINA') AS dist
      |FROM nation ORDER BY n_name""".stripMargin

  /** F4: Jaro-Winkler via the compiled kernel call
    * (graft.functions.JaroWinkler) — DuckDB's jaro_winkler_similarity
    * uses the same textbook formulation (0.7 boost threshold, p=0.1).
    */
  val f4JaroWinkler: Q = (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"),
        round(graft.functions.JaroWinkler.jaroWinkler(col("c_name"),
          lit("Customer#000000010")), 4).as("jw"))
      .orderBy(col("c_custkey"))

  val f4JaroWinklerSql: String =
    """SELECT c_custkey, round(jaro_winkler_similarity(c_name, 'Customer#000000010'), 4) AS jw
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** F6: 0-guarded log-scaled count features. */
  val f6LogFeatures: Q = (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"),
        round(when(col("c_acctbal") > 0, log(col("c_acctbal"))).otherwise(0.0), 4)
          .as("log_bal"))
      .orderBy(col("c_custkey"))

  val f6LogFeaturesSql: String =
    """SELECT c_custkey,
      |  round(CASE WHEN c_acctbal > 0 THEN ln(c_acctbal) ELSE 0.0 END, 4) AS log_bal
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** F13: resource-id cleaning via regexp. */
  val f13RegexClean: Q = (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("cleaned"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
      .orderBy(col("p_partkey"))

  val f13RegexCleanSql: String =
    """SELECT p_partkey, regexp_replace(p_name, '[aeiou]', '', 'g') AS cleaned,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word
      |FROM part ORDER BY p_partkey""".stripMargin

  /** F21: sha256 content invariant (input_hint). */
  val f21Sha256: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      .orderBy(col("doc_id"))

  val f21Sha256Sql: String =
    """SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id""".stripMargin

  /** F9: capped date-diff recency (explicit "now" for determinism). */
  val f9Recency: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_id"),
        least(datediff(lit("2026-01-01").cast("date"), col("ts").cast("date")),
          lit(100)).cast("long").as("days_capped"))
      .orderBy(col("event_id"))

  val f9RecencySql: String =
    """SELECT event_id,
      |  least(datediff('day', CAST(ts AS DATE), DATE '2026-01-01'), 100) AS days_capped
      |FROM events ORDER BY event_id""".stripMargin

  /** P2: text-length filter (BuildUserIndex.java:117). */
  val p2LengthFilter: Q = (s, dir) =>
    t(s, dir, "documents")
      .filter(length(col("text")) > 100)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .orderBy(col("doc_id"))

  val p2LengthFilterSql: String =
    """SELECT doc_id, length(text) AS len FROM documents
      |WHERE length(text) > 100 ORDER BY doc_id""".stripMargin

  /** P5: language filter (LanguageFilter.java). */
  val p5LangFilter: Q = (s, dir) =>
    t(s, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  val p5LangFilterSql: String =
    """SELECT doc_id, source FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin

  /** F8: type one-hots (EntityTypeScorer.java:23-35). */
  val f8Onehot: Q = (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"),
        when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0).as("is_building"),
        when(col("c_mktsegment") === "AUTOMOBILE", 1.0).otherwise(0.0).as("is_auto"),
        when(!col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), 1.0).otherwise(0.0).as("is_other"))
      .orderBy(col("c_custkey"))

  val f8OnehotSql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END AS is_building,
      |  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1.0 ELSE 0.0 END AS is_auto,
      |  CASE WHEN c_mktsegment NOT IN ('BUILDING','AUTOMOBILE') THEN 1.0 ELSE 0.0 END AS is_other
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** F14: "Last, First" name swap (AllNamesStrategy.java:87-94). */
  val f14NameSwap: Q = (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"),
        when(col("c_name").contains(", ") &&
          size(split(col("c_name"), ", ")) === 2,
          concat(element_at(split(col("c_name"), ", "), 2), lit(" "),
            element_at(split(col("c_name"), ", "), 1)))
          .otherwise(col("c_name")).as("swapped"))
      .orderBy(col("c_custkey"))

  val f14NameSwapSql: String =
    """SELECT c_custkey,
      |  CASE WHEN contains(c_name, ', ') AND len(string_split(c_name, ', ')) = 2
      |    THEN string_split(c_name, ', ')[2] || ' ' || string_split(c_name, ', ')[1]
      |    ELSE c_name END AS swapped
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** F15/S2: JSON path access on a raw json column (JsonObjectProcessor). */
  val f15JsonGet: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))

  val f15JsonGetSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** A6: condensed adjacency — per-key sorted collect_list, stringified for
    * a stable cross-engine compare (ExtractSocialGraph.java:137-174).
    */
  val a6Adjacency: Q = (s, dir) =>
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("value")).distinct()
      .groupBy(col("user_id"))
      .agg(concat_ws(",", sort_array(collect_list(col("event_type")))).as("dsts"),
        count(lit(1)).as("degree"))
      .orderBy(col("user_id"))

  val a6AdjacencySql: String =
    """SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS dsts,
      |  count(*) AS degree
      |FROM (SELECT DISTINCT user_id, event_type, value FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A17: deterministic first-non-null per key (min_by over non-nulls). */
  val a17FirstNonNull: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("maybe", when(col("value") > 50, col("event_type"))) // plant nulls
      .groupBy(col("user_id"))
      .agg(min_by(col("maybe"), when(col("maybe").isNotNull, col("event_id"))).as("first_type"))
      .orderBy(col("user_id"))

  val a17FirstNonNullSql: String =
    """SELECT user_id, arg_min(maybe, CASE WHEN maybe IS NOT NULL THEN event_id END) AS first_type
      |FROM (SELECT user_id, event_id,
      |        CASE WHEN value > 50 THEN event_type END AS maybe FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** W5: dense sequential id by global order (zip-with-index rebuilt as a
    * window, not the reference's parallelism-1 hack).
    */
  val w5ZipIndex: Q = (s, dir) =>
    t(s, dir, "nation")
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("n_name").asc)) - 1).cast("long"))
      .select(col("n_name"), col("idx"))
      .orderBy(col("idx"))

  val w5ZipIndexSql: String =
    """SELECT n_name, row_number() OVER (ORDER BY n_name ASC) - 1 AS idx
      |FROM nation ORDER BY idx""".stripMargin

  /** A10: dense zero-fill against a generated id range — one lazy plan:
    * the id domain comes from the 1-row max aggregate (no driver-side
    * collect), generated in two levels so it stays DISTRIBUTED: a chunk
    * index (≤ max/64k elements, the only array that lives in one task) is
    * exploded, repartitioned, and each chunk then generates its ≤64k ids in
    * its own task. A single sequence(0, max) would materialize the whole
    * 8-byte-per-id array inside one task and hit Spark's ~2.1B-element
    * sequence cap — an OOM/serial regression for dense id domains.
    */
  val a10ZeroFill: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val chunk = 65536L
    val ids = ev.agg(max(col("user_id")).as("mx"))
      .select(explode(sequence(lit(0L), floor(col("mx") / chunk).cast("long")))
        .as("ck"), col("mx"))
      .repartition(col("ck"))
      .select(explode(sequence(col("ck") * chunk,
        least(col("ck") * chunk + lit(chunk - 1), col("mx")))).as("user_id"))
    val counts = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    ids.join(counts, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("user_id"))
  }

  val a10ZeroFillSql: String =
    """SELECT g.user_id AS user_id, coalesce(c.n, 0) AS n
      |FROM (SELECT unnest(generate_series(0, (SELECT max(user_id) FROM events))) AS user_id) g
      |LEFT JOIN (SELECT user_id, count(*) AS n FROM events GROUP BY user_id) c
      |  ON g.user_id = c.user_id
      |ORDER BY g.user_id""".stripMargin

  /** A11: json_agg per key (DumpResource.java:41-44). The array is
    * sort_array'd so the serialization is deterministic, which makes the
    * stringified payload oracle-able: the DuckDB side rebuilds the exact
    * same JSON text with an ordered string_agg.
    */
  val a11JsonAgg: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(to_json(sort_array(collect_list(
        struct(col("event_id"), col("event_type"))))).as("payload"))
      .orderBy(col("user_id"))

  val a11JsonAggSql: String =
    """SELECT user_id,
      |  '[' || string_agg(
      |    '{"event_id":' || CAST(event_id AS VARCHAR) || ',"event_type":"' || event_type || '"}',
      |    ',' ORDER BY event_id, event_type) || ']' AS payload
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** F2: camelCase identifier splitting (TextProcessor.java:129-147 hashtag
    * camel-case break): a camel input is built from the part names, then
    * split via the shared scalar Text.splitIdentifier — the same function
    * the kg mention path uses for identifier-style display names.
    */
  val f2SplitIdentifier: Q = (s, dir) => {
    val splitUdf = udf((x: String) => kg.Text.splitIdentifier(x).mkString(" "))
    t(s, dir, "part")
      .withColumn("camel", expr(
        "concat_ws('', transform(split(p_name, ' '), w -> concat(upper(substring(w, 1, 1)), substring(w, 2, length(w)))))"))
      .select(col("p_partkey"), col("camel"), splitUdf(col("camel")).as("words"))
      .orderBy(col("p_partkey"))
  }

  /** F2 url/media-token semantics (TextProcessor.java:30-93: urls and
    * media collapse to placeholder tokens before tokenization) adapted to
    * a code corpus: URLs → `<url>`, double-quoted string literals →
    * `<str>`, then lowercase + whitespace collapse.
    */
  val f2CodeNormalize: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(lower(regexp_replace(regexp_replace(col("text"),
          "https?://\\S+", " <url> "), "\"[^\"]*\"", " <str> ")),
          "\\s+", " ")).as("norm"))
      .orderBy(col("doc_id"))

  val f2CodeNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(lower(regexp_replace(regexp_replace(text,
      |    'https?://\S+', ' <url> ', 'g'), '"[^"]*"', ' <str> ', 'g')),
      |    '\s+', ' ', 'g')) AS norm
      |FROM documents ORDER BY doc_id""".stripMargin

  val f2SplitIdentifierSql: String =
    """SELECT p_partkey, camel,
      |  array_to_string(list_filter(regexp_split_to_array(
      |    replace(regexp_replace(regexp_replace(camel,
      |      '([a-z0-9])([A-Z])', '\1 \2', 'g'),
      |      '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'), '_', ' '),
      |    '\s+'), w -> w <> ''), ' ') AS words
      |FROM (SELECT p_partkey,
      |        array_to_string(list_transform(string_split(p_name, ' '),
      |          w -> upper(w[1]) || w[2:]), '') AS camel
      |      FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------
  // Streaming-flavored (SURVEY §2.10)
  // ------------------------------------------------------------------

  /** T2-analogue: tumbling 1-day event-time windows (batch form; the
    * streaming form with watermark is exercised in EventStreamSpec).
    */
  val t2WindowedAgg: Q = (s, dir) =>
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("w_start"), col("event_type"))

  val t2WindowedAggSql: String =
    """SELECT date_trunc('day', ts) AS w_start, event_type,
      |  count(*) AS n, round(sum(value), 4) AS total
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** True Structured Streaming run (memory sink, Complete mode). The
    * bounded file stream fully drains, so Complete-mode output equals the
    * batch aggregation — which makes it DuckDB-oracle-able.
    */
  val streamWindowedCounts: Q = (s, dir) =>
    graft.streaming.EventStream.runFileStream(s, dir,
      df => graft.streaming.EventStream.windowedCounts(df),
      org.apache.spark.sql.streaming.OutputMode.Complete(),
      s"stream_q_${System.nanoTime()}")
      .select(col("w_start").cast("timestamp_ntz").as("w_start"),
        col("event_type"), col("n"), col("total"))
      .orderBy(col("w_start"), col("event_type"))

  val streamWindowedCountsSql: String =
    """SELECT date_trunc('day', ts) AS w_start, event_type,
      |  count(*) AS n, round(sum(value), 4) AS total
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  /** Rows-only (non-SQL-expressible) queries live in OpsQueries + KgQueries. */
  def all: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,
    "a2_latest_argmax" -> a2LatestArgmax,
    "a3_group_concat" -> a3GroupConcat,
    "a5_normalized_weights" -> a5NormalizedWeights,
    "a8_token_freq" -> a8TokenFreq,
    "a16_distinct" -> a16Distinct,
    "j1_equi_join" -> j1EquiJoin,
    "j4_semi_join" -> j4SemiJoin,
    "j5_anti_join" -> j5AntiJoin,
    "j6_value_join" -> j6ValueJoin,
    "w1_topk_per_group" -> w1TopkPerGroup,
    "w3_argmax_margin" -> w3ArgmaxMargin,
    "o1_top_n" -> o1TopN,
    "f1_normalize" -> f1Normalize,
    "f3_levenshtein" -> f3Levenshtein,
    "f4_jaro_winkler" -> f4JaroWinkler,
    "f6_log_features" -> f6LogFeatures,
    "f13_regex_clean" -> f13RegexClean,
    "f21_sha256" -> f21Sha256,
    "f9_recency" -> f9Recency,
    "t2_windowed_agg" -> t2WindowedAgg,
    "stream_windowed_counts" -> streamWindowedCounts,
    "p2_length_filter" -> p2LengthFilter,
    "p5_lang_filter" -> p5LangFilter,
    "f8_onehot" -> f8Onehot,
    "f14_name_swap" -> f14NameSwap,
    "f15_json_get" -> f15JsonGet,
    "a6_adjacency" -> a6Adjacency,
    "a17_first_non_null" -> a17FirstNonNull,
    "w5_zip_index" -> w5ZipIndex,
    "a10_zero_fill" -> a10ZeroFill,
    "a11_json_agg" -> a11JsonAgg,
    "f2_split_identifier" -> f2SplitIdentifier,
    "f2_code_normalize" -> f2CodeNormalize,
  ) ++ OpsQueries.all ++ KgQueries.all

  def oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "a2_latest_argmax" -> a2LatestArgmaxSql,
    "a3_group_concat" -> a3GroupConcatSql,
    "a5_normalized_weights" -> a5NormalizedWeightsSql,
    "a8_token_freq" -> a8TokenFreqSql,
    "a16_distinct" -> a16DistinctSql,
    "j1_equi_join" -> j1EquiJoinSql,
    "j4_semi_join" -> j4SemiJoinSql,
    "j5_anti_join" -> j5AntiJoinSql,
    "j6_value_join" -> j6ValueJoinSql,
    "w1_topk_per_group" -> w1TopkPerGroupSql,
    "w3_argmax_margin" -> w3ArgmaxMarginSql,
    "o1_top_n" -> o1TopNSql,
    "f1_normalize" -> f1NormalizeSql,
    "f3_levenshtein" -> f3LevenshteinSql,
    "f4_jaro_winkler" -> f4JaroWinklerSql,
    "f6_log_features" -> f6LogFeaturesSql,
    "f13_regex_clean" -> f13RegexCleanSql,
    "f21_sha256" -> f21Sha256Sql,
    "f9_recency" -> f9RecencySql,
    "t2_windowed_agg" -> t2WindowedAggSql,
    "stream_windowed_counts" -> streamWindowedCountsSql,
    "p2_length_filter" -> p2LengthFilterSql,
    "p5_lang_filter" -> p5LangFilterSql,
    "f8_onehot" -> f8OnehotSql,
    "f14_name_swap" -> f14NameSwapSql,
    "f15_json_get" -> f15JsonGetSql,
    "a6_adjacency" -> a6AdjacencySql,
    "a17_first_non_null" -> a17FirstNonNullSql,
    "w5_zip_index" -> w5ZipIndexSql,
    "a10_zero_fill" -> a10ZeroFillSql,
    "a11_json_agg" -> a11JsonAggSql,
    "f2_split_identifier" -> f2SplitIdentifierSql,
    "f2_code_normalize" -> f2CodeNormalizeSql,
  ) ++ OpsQueries.oracles ++ KgQueries.oracles
}
