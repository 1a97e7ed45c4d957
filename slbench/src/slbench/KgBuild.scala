package slbench

import java.io.File
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kg._

/** kg_build: `Pipeline.compute` over a seeded world that set-up writes to
  * parquet and every rep reads back; a rep ends when the triples are
  * written. The traced rep calls the layer functions in compute()'s order
  * and forces each under its own span. The traced run also times a
  * checkpointed `Pipeline.run` and its resume, for the checkpoint layer.
  */
final class KgBuild(spark: SparkSession, probe: Probe, val scale: CorpusGen.Scale,
    work: String) extends Workload {
  import spark.implicits._

  final case class Out(result: Option[Pipeline.Result], path: String, extra: Seq[DataFrame])

  private val conf = Pipeline.confFor(scale)
  private val in = s"$work/in"
  private var want: Set[Triple] = Set.empty
  private var checkedExactly = false
  private val counted = mutable.LinkedHashMap.empty[String, Double]

  def rows: Long = scale.nFiles.toLong

  def setup(): Unit = {
    val oracle = Future(ScalarOracle.run(scale, conf)._1)
    CorpusGen.repos(spark, scale).write.mode(SaveMode.Overwrite).parquet(s"$in/repos")
    CorpusGen.entities(spark, scale).write.mode(SaveMode.Overwrite).parquet(s"$in/entities")
    CorpusGen.accounts(spark, scale).write.mode(SaveMode.Overwrite).parquet(s"$in/accounts")
    CorpusGen.accountEmbeddings(spark, scale).write.mode(SaveMode.Overwrite).parquet(s"$in/account_embeddings")
    CorpusGen.entityEmbeddings(spark, scale).write.mode(SaveMode.Overwrite).parquet(s"$in/entity_embeddings")
    want = Await.result(oracle, Duration.Inf)
  }

  private def input(name: String): DataFrame = spark.read.parquet(s"$in/$name")

  def run(rep: Int, traced: Boolean): Out = {
    val path = s"$work/out/rep$rep"
    if (!traced) {
      val r = Pipeline.compute(spark, input("repos"), input("entities"), input("accounts"),
        input("account_embeddings"), input("entity_embeddings"), conf)
      r.triples.write.mode(SaveMode.Overwrite).parquet(path)
      Out(Some(r), path, Nil)
    } else tracedRun(path)
  }

  /** compute()'s calls in compute()'s order, each layer forced. */
  private def tracedRun(path: String): Out = {
    def forced(layer: String, df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      counted(s"$layer.rows_out") = counted.getOrElse(s"$layer.rows_out", 0.0) + p.count()
      p
    }
    Pipeline.sessionConf(spark)
    val (repos, entities, accounts, accEmb, entEmb) = (input("repos"), input("entities"),
      input("accounts"), input("account_embeddings"), input("entity_embeddings"))
    probe.span("pipeline") {
      val scanPath = Scan.scratchDir(spark)
      val scan = probe.span("scan") {
        val s = Scan.materialize(Scan.products(repos), scanPath)
        counted("scan.rows_out") = s.count().toDouble
        s
      }
      val dict = probe.span("dictionary") {
        forced("dictionary", Dictionary.build(spark, Scan.mentions(scan), accounts))
      }
      val dims = probe.span("scoring") {
        Scorer.dims(entities, accounts, scan, accEmb, entEmb)
      }
      val (rollup, cands) = probe.span("candidates") {
        val rollup = CandidateGen.rollupAll(spark, entities, dict, conf)
        val rollupRows = rollup.count().toDouble
        val cands = forced("candidates", CandidateGen.topK(rollup, conf))
        counted("candidates.topk_yield") = counted("candidates.rows_out") / math.max(rollupRows, 1.0)
        (rollup, cands)
      }
      val aligned = probe.span("scoring") {
        val a = forced("scoring", Scorer.score(cands, entities, accounts, scan, accEmb, entEmb,
          conf, prebuiltDims = Some(dims)))
        counted("scoring.aligned_yield") =
          a.filter(col("is_alignment")).count() / math.max(counted("candidates.rows_out"), 1.0)
        a
      }
      val reps = probe.span("canonicalize") {
        forced("canonicalize", Canonicalize.representatives(spark, aligned, conf))
      }
      probe.span("triples") {
        Triples.materialize(aligned, reps).write.mode(SaveMode.Overwrite).parquet(path)
        counted("triples.rows_out") = spark.read.parquet(path).count().toDouble
      }
      Scan.dropScratch(spark, scanPath)
      Out(None, path, Seq(dict, cands, aligned, reps, rollup))
    }
  }

  def verify(out: Out): Verdict = {
    val written = spark.read.parquet(out.path)
    val fp = Fingerprint.of(written)
    if (checkedExactly) Verdict(fp, ok = true, 1.0)
    else {
      // reps are compared with the reference triple by triple until one
      // matches; later reps must reproduce its fingerprint (checked by the
      // harness)
      val v = KgBuild.compare(written.as[Triple].collect().toSet, want).copy(fingerprint = fp)
      checkedExactly = v.ok
      v
    }
  }

  def cleanup(out: Out): Unit = {
    out.result.foreach(_.unpersist())
    out.extra.foreach(_.unpersist())
    Harness.deleteRecursively(new File(out.path))
  }

  def counters: Map[String, Double] = counted.toMap

  /** A checkpointed `Pipeline.run` into a fresh root, then a resume after
    * deleting the stages from `alignments` on. Reports every stage's write
    * time and output size, and checks the resumed triples are identical
    * to the fresh run's and to the reference.
    */
  override def traceExtra(): Boolean = {
    val root = s"$work/ckpt"
    Harness.deleteRecursively(new File(root))
    probe.reset()
    val fresh = probe.span("checkpoint") { Pipeline.run(spark, scale, root) }
    probe.drain()
    KgBuild.Stages.foreach { st =>
      val dir = new File(s"$root/$st")
      counted(s"checkpoint.$st.write_s") = Option(probe.writes.get(dir.getAbsolutePath)).fold(0.0)(_.doubleValue)
      counted(s"checkpoint.$st.output_mb") = Harness.duBytes(dir) / (1024.0 * 1024.0)
    }
    val freshStats = KgBuild.stageHashes(spark, root, "triples")
    val freshFp = Fingerprint.of(fresh.triples)
    val freshOk = KgBuild.compare(fresh.triples.as[Triple].collect().toSet, want).ok
    KgBuild.Stages.dropWhile(_ != "alignments")
      .foreach(st => Harness.deleteRecursively(new File(s"$root/$st")))
    val t0 = System.nanoTime()
    val resumed = probe.span("checkpoint.resume") { Pipeline.run(spark, scale, root) }
    val resumedFp = Fingerprint.of(resumed.triples)
    counted("checkpoint.resume_s") = (System.nanoTime() - t0) / 1e9
    val same = freshStats == KgBuild.stageHashes(spark, root, "triples") && resumedFp == freshFp
    val recorded = Checkpoint.readCheckpoints(spark, root).select("stage").distinct()
      .as[String].collect().toSet
    val allStages = recorded == KgBuild.Stages.toSet
    Log.info(s"checkpointed run: oracle ${if (freshOk) "ok" else "MISMATCH"}, " +
      s"resume ${if (same) "identical" else "DIFFERS"}, stages recorded ${recorded.size}")
    Harness.deleteRecursively(new File(root))
    freshOk && same && allStages
  }
}

object KgBuild {
  /** `Pipeline.run`'s checkpointed stages, in order. */
  val Stages: Seq[String] = Seq("corpus", "entities", "accounts", "scan", "dictionary",
    "account_embeddings", "entity_embeddings", "candidates", "alignments",
    "representatives", "triples", "lineage")

  val Layers: Seq[String] = Seq("scan", "dictionary", "candidates", "scoring",
    "canonicalize", "triples")

  /** A world of fixed shape whose entity and noise-account counts the seed
    * jitters by up to ±2%, so every seed is a different world of about the
    * same size.
    */
  def scaleFor(seed: Long, entities: Int, files: Int): CorpusGen.Scale = {
    def jitter(stream: Long, n: Int): Int = {
      val u = (CorpusGen.mix(seed * 31 + stream) >>> 11).toDouble / (1L << 53).toDouble
      math.max(1, math.round(n * (0.98 + 0.04 * u)).toInt)
    }
    CorpusGen.Scale(s"kg$seed", jitter(1, entities), jitter(2, entities / 2), files,
      math.max(12, entities / 40))
  }

  def compare(got: Set[Triple], want: Set[Triple]): Verdict = {
    val missing = want -- got
    val extra = got -- want
    val recall = if (want.isEmpty) 1.0 else (want.size - missing.size).toDouble / want.size
    Verdict("", missing.isEmpty && extra.isEmpty && want.nonEmpty, recall,
      s"triples vs reference: ${missing.size} missing ${missing.take(2)}, " +
        s"${extra.size} extra ${extra.take(2)} (|want|=${want.size})")
  }

  /** The per-bucket content hashes `Checkpoint` recorded for a stage. */
  def stageHashes(spark: SparkSession, root: String, stage: String): Set[(Int, Long, Long)] = {
    import spark.implicits._
    Checkpoint.readCheckpoints(spark, root).filter(col("stage") === stage)
      .select("part", "n_rows", "hash_agg").as[(Int, Long, Long)].collect().toSet
  }
}

/** Order-independent fingerprint of a frame's rows: row count, xor of
  * 64-bit row hashes and sum of 32-bit row hashes.
  */
object Fingerprint {
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(cols: _*)),
      sum(hash(cols: _*).cast("long"))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }
}
