package graft.kg

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** North-rule resumability: a killed run resumes from the last completed
  * stage and produces byte-identical triples (SURVEY §7.3 risk 4).
  */
class CheckpointSpec extends AnyFunSuite with SparkTestBase {

  private def tripleSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.select(col("subj"), col("pred"), col("obj")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("full run, then resume-from-scratch-kill, produce identical triples") {
    val root1 = Files.createTempDirectory("kg_run1").toString
    val r1 = Pipeline.run(spark, CorpusGen.Tiny, root1)
    val t1 = tripleSet(r1.triples)

    // simulate a mid-run kill: run a second root, then delete everything
    // from 'candidates' onward (as if the job died there), then resume
    val root2 = Files.createTempDirectory("kg_run2").toString
    Pipeline.run(spark, CorpusGen.Tiny, root2)
    for (stage <- Seq("candidates", "alignments", "representatives", "triples", "lineage")) {
      val dir = new java.io.File(Checkpoint.stageDir(root2, stage))
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val r2 = Pipeline.run(spark, CorpusGen.Tiny, root2) // resumes: corpus..dictionary cached
    assert(tripleSet(r2.triples) == t1)
  }

  /** Waits until every event posted so far has reached the listeners. */
  private def drainListeners(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  test("second run over a completed root recomputes nothing and matches") {
    val root = Files.createTempDirectory("kg_run3").toString
    val a = tripleSet(Pipeline.run(spark, CorpusGen.Tiny, root).triples)
    drainListeners()
    // file writes are counted the way a benchmark probe times them: one
    // InsertIntoHadoopFsRelationCommand per written stage or stats table
    val writes = new AtomicInteger(0)
    val jobs = new ConcurrentLinkedQueue[String]()
    val onWrite = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case _: InsertIntoHadoopFsRelationCommand => writes.incrementAndGet()
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        onSuccess(funcName, qe, 0L)
    }
    val onJob = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(";"))
    }
    spark.listenerManager.register(onWrite)
    spark.sparkContext.addSparkListener(onJob)
    val second = try {
      val r = Pipeline.run(spark, CorpusGen.Tiny, root)
      drainListeners()
      r
    } finally {
      spark.listenerManager.unregister(onWrite)
      spark.sparkContext.removeSparkListener(onJob)
    }
    assert(writes.get == 0, s"a resumed complete root wrote ${writes.get} outputs")
    // no stage is computed — in particular not the scoring dims, whose
    // text-vector checkpoint is eager: the only jobs are the stage reads'
    // parquet schema inference, at most one per stage
    val sites = jobs.toArray(Array.empty[String]).toSeq
    assert(sites.size <= 12 && sites.forall(_.startsWith("parquet at Checkpoint.scala")),
      s"a resumed complete root ran ${sites.size} jobs: ${sites.distinct}")
    assert(tripleSet(second.triples) == a)
  }

  test("run() builds the frames compute() builds, and its triples equal the scalar oracle") {
    import spark.implicits._
    val root = Files.createTempDirectory("kg_run5").toString
    val ran = Pipeline.run(spark, CorpusGen.Tiny, root)
    val computed = Pipeline.computeForScale(spark, CorpusGen.Tiny)
    // run()'s frames are parquet reads (triples partitioned by pred, so its
    // columns come back reordered): compare by compute()'s column names
    def rows(df: DataFrame, like: DataFrame): Set[Row] =
      df.select(like.columns.toSeq.map(col): _*).collect().toSet
    for ((name, r, c) <- Seq(
        ("triples", ran.triples, computed.triples),
        ("alignments", ran.alignments, computed.alignments),
        ("candidates", ran.candidates, computed.candidates),
        ("lineage", ran.lineage, computed.lineage))) {
      val want = rows(c, c)
      assert(want.nonEmpty, s"$name: compute() built no rows")
      assert(rows(r, c) == want, s"$name differs between run() and compute()")
    }
    val (oracle, _) = ScalarOracle.run(CorpusGen.Tiny)
    val got = ran.triples.as[Triple].collect().toSet
    assert(got == oracle,
      s"missing=${(oracle -- got).take(5)} extra=${(got -- oracle).take(5)}")
    computed.unpersist()
  }

  test("checkpoint table carries per-partition lineage rows for every stage") {
    val root = Files.createTempDirectory("kg_run4").toString
    Pipeline.run(spark, CorpusGen.Tiny, root)
    // the stage name lives in the partition directory only: a `stage` data
    // column beside `stage=<name>` makes every table read clash with itself
    val scanRows = spark.read.parquet(s"$root/_checkpoint/stage=scan")
    assert(!scanRows.columns.contains("stage"),
      s"stats rows carry a stage data column: ${scanRows.columns.mkString(",")}")
    val cp = Checkpoint.readCheckpoints(spark, root)
    val stages = cp.select(col("stage")).distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("corpus", "entities", "accounts", "scan", "dictionary",
      "account_embeddings", "entity_embeddings",
      "candidates", "alignments", "representatives", "triples", "lineage"))
    // every row: n_rows > 0 somewhere, status done, wall_ms recorded
    assert(cp.filter(col("status") =!= "done").count() == 0)
    assert(cp.groupBy(col("stage")).agg(sum(col("n_rows")).as("n"))
      .filter(col("n") === 0).count() == 0)
  }
}
