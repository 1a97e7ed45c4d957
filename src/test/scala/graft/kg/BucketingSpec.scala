package graft.kg

import graft.SparkTestBase
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100-TB path for the featurize pair join: candidates and the entity
  * feature dim written as tables bucketed + sorted on entity_id, joined
  * without ANY Exchange. This is what replaces the broadcast hint when the
  * entity dim grows with the corpus (CorpusGen.benchAt: entities = files/20)
  * past the broadcast budget.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("bucketed entity_id join plans with zero Exchange") {
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val wasBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the planner to actually co-locate: without this the tiny dim
    // would be broadcast and the assertion would test nothing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val scale = CorpusGen.Tiny
      val entities = CorpusGen.entities(spark, scale).toDF()
      val dict = Dictionary.build(spark,
        Scan.mentions(Scan.products(CorpusGen.repos(spark, scale).toDF())),
        CorpusGen.accounts(spark, scale).toDF())
      val cands = CandidateGen.candidates(spark, entities, dict)
      val dim = entities.select(col("id").as("entity_id"), col("kind"))
      val joined = Scorer.bucketedEntJoin(spark, 8, "graft_spec_join")(cands, dim)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"bucketed pair join still shuffles: ${joined.queryExecution.executedPlan}")
      // and it is a real join over the bucketed scans, same row multiset as
      // the broadcast form
      val viaBroadcast = cands.join(broadcast(dim), Seq("entity_id"))
      assert(joined.count() == viaBroadcast.count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", wasBc)
    }
  }

  test("no shuffle in the featurize plan carries the wide entity payload") {
    // join order inside featurize: narrow candidates ⋈ acc first (shuffle on
    // account_id moves only (entity_id, account_id, freq, rank)), entity dim
    // broadcast LAST — the wide per-entity arrays (name list, hashed tvec
    // entries, embedding, abstract tokens) must reach the pair rows map-side
    // only, never through an Exchange. At 100 TB that wide shuffle was the
    // single largest data movement of the pipeline.
    val wasAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scale = CorpusGen.Tiny
      val scan = Scan.products(CorpusGen.repos(spark, scale).toDF())
      val entities = CorpusGen.entities(spark, scale).toDF()
      val accounts = CorpusGen.accounts(spark, scale).toDF()
      val dict = Dictionary.build(spark, Scan.mentions(scan), accounts)
      val cands = CandidateGen.candidates(spark, entities, dict)
      val feats = Scorer.featurize(cands, entities, accounts, scan,
        CorpusGen.accountEmbeddings(spark, scale).toDF(),
        CorpusGen.entityEmbeddings(spark, scale).toDF())
      // dim-side builds (|entities| rows) may legitimately exchange their
      // own payload; the killer is a PAIR-level shuffle — rows keyed by
      // account_id that also drag the per-entity arrays along
      val wide = Set("names_norm", "abs_tok", "e_tvec", "evec")
      val offenders = feats.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
            if e.output.exists(_.name == "account_id") &&
              e.output.exists(a => wide.contains(a.name)) => e
      }
      assert(offenders.isEmpty,
        s"entity payload columns cross a pair shuffle: ${offenders.map(_.output.map(_.name))}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", wasAqe)
  }

  test("interleaved sessions on one warehouse prefix never race a reader") {
    // Two pipeline runs sharing a warehouse prefix (the parallel-Scaling
    // layout): the second run's table build must not delete files a
    // straggling reader from the first run still references. Generation-
    // unique names + keep-last-one retirement guarantee it; the old
    // drop→rewrite-in-place made this sequence FileNotFound.
    import spark.implicits._
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val prefix = "graft_swap_spec"
    def frames(n: Int) = {
      val cands = (1 to n).map(i => (s"e$i", i.toLong, 1L, 1))
        .toDF("entity_id", "account_id", "freq", "rank")
      val dim = (1 to n).map(i => (s"e$i", s"k$i")).toDF("entity_id", "kind")
      (cands, dim)
    }
    val (c1, d1) = frames(5)
    val (c2, d2) = frames(7)
    val j1 = Scorer.bucketedEntJoin(s1, 4, prefix)(c1, d1) // gen 1
    // a second session rewrites the prefix BEFORE j1 is ever consumed
    val j2 = Scorer.bucketedEntJoin(s2, 4, prefix)(c2, d2) // gen 2 keeps gen 1
    assert(j1.count() == 5, "stale first-generation reader lost its files")
    assert(j2.count() == 7)
    // a third rewrite retires gen 1 but must keep gen 2 readable
    val j3 = Scorer.bucketedEntJoin(s1, 4, prefix)(c1, d1) // gen 3 drops gen 1
    assert(j3.count() == 5 && j2.count() == 7)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(wh).map(_.getPath.getName)
      .filter(_.startsWith(s"${prefix}_g")).toSeq
    assert(!dirs.exists(_.startsWith(s"${prefix}_g1_")),
      s"generation 1 not retired: $dirs")
    assert(dirs.count(_.endsWith("_candidates")) == 2,
      s"disk not bounded at 2 generations: $dirs")
  }

  test("hp lookup is restricted to the entity homepage set (bounded broadcast)") {
    // F12's url→count lookup is broadcast onto the entity dim. Distinct
    // account urls grow with the corpus; entity homepages don't. The
    // aggregate must therefore consume a semi-join-restricted url stream —
    // O(|entity homepages ∩ account urls|) — or the broadcast becomes the
    // unbounded-dim mistake at 100×.
    import spark.implicits._
    val entities = Seq(
      Entity("e1", Seq("Alpha"), Seq(), "org", dead = false, "alpha things", "h1"),
      Entity("e2", Seq("Beta"), Seq(), "org", dead = false, "beta things", "")).toDF()
    val accounts = Seq(
      Account(1L, "a1", "Alpha", "", 1, 1, 0, 1, verified = false, "h1", 0L),
      Account(2L, "a2", "AlphaFan", "", 1, 1, 0, 1, verified = false, "h1", 0L),
      Account(3L, "a3", "Pop", "", 1, 1, 0, 1, verified = false, "pop", 0L),
      Account(4L, "a4", "Pop2", "", 1, 1, 0, 1, verified = false, "pop", 0L),
      Account(5L, "a5", "Beta", "", 1, 1, 0, 1, verified = false, "", 0L)).toDF()
    val cands = Seq(("e1", 1L, 3L, 1), ("e1", 3L, 2L, 2), ("e2", 5L, 1L, 1))
      .toDF("entity_id", "account_id", "freq", "rank")
    val scan = Scan.products(Seq.empty[RepoFile].toDF())
    val accEmb = Seq.empty[(Long, Seq[Float])].toDF("accountId", "vec")
    val entEmb = Seq.empty[(String, Seq[Float])].toDF("entityId", "vec")
    val feats = Scorer.featurize(cands, entities, accounts, scan, accEmb, entEmb)
    assert(feats.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "url→count aggregate is not semi-join-restricted to entity homepages")
    val byKey = feats.collect()
      .map(r => (r.getAs[String]("entity_id"), r.getAs[Long]("account_id")) -> r)
      .toMap
    // e1's homepage h1 is carried by 2 accounts → match+exists, not unique
    val r11 = byKey(("e1", 1L))
    assert(r11.getAs[Double]("home_match") == 1.0 &&
      r11.getAs[Double]("home_exists") == 1.0 &&
      r11.getAs[Double]("home_unique") == 0.0)
    // a3's url "pop" is no entity's homepage → restriction drops it before
    // the aggregate, and the features see a plain miss
    val r13 = byKey(("e1", 3L))
    assert(r13.getAs[Double]("home_match") == 0.0 &&
      r13.getAs[Double]("home_exists") == 1.0)
    // e2 has no homepage at all → every home_* is 0
    val r25 = byKey(("e2", 5L))
    assert(r25.getAs[Double]("home_match") == 0.0 &&
      r25.getAs[Double]("home_exists") == 0.0 &&
      r25.getAs[Double]("home_unique") == 0.0)
  }

  test("bucketed featurize output is identical to the broadcast path") {
    val scale = CorpusGen.Tiny
    val scan = Scan.products(CorpusGen.repos(spark, scale).toDF())
    val entities = CorpusGen.entities(spark, scale).toDF()
    val accounts = CorpusGen.accounts(spark, scale).toDF()
    val accEmb = CorpusGen.accountEmbeddings(spark, scale).toDF()
    val entEmb = CorpusGen.entityEmbeddings(spark, scale).toDF()
    val dict = Dictionary.build(spark, Scan.mentions(scan), accounts)
    val cands = CandidateGen.candidates(spark, entities, dict)

    def key(r: org.apache.spark.sql.Row): (String, Long) =
      (r.getAs[String]("entity_id"), r.getAs[Long]("account_id"))
    val base = Scorer.featurize(cands, entities, accounts, scan, accEmb, entEmb)
      .collect().map(r => key(r) -> r.toSeq).toMap
    val bucketed = Scorer.featurize(cands, entities, accounts, scan, accEmb,
        entEmb, Scorer.bucketedEntJoin(spark, 8, "graft_spec_feat"))
      .collect().map(r => key(r) -> r.toSeq).toMap
    assert(bucketed.keySet == base.keySet)
    // bit-identical features: the join strategy must not change any value
    bucketed.foreach { case (k, v) => assert(v == base(k), s"mismatch at $k") }
  }
}
