package graft.kg

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived session (Bench memo, Tune sweeps, the driver's Verify)
  * runs many pipelines — cached frames must not accumulate. Explicitly
  * persisted frames are released by Result.unpersist(); Reuse.materialize
  * blocks (rollupAll, textVectors) are released by the ContextCleaner once
  * the frames are GC-unreachable. Round 3 leaked two persists per run
  * (rollupAll's full/exact were unreachable by Result.unpersist).
  */
class CacheLifecycleSpec extends AnyFunSuite with SparkTestBase {

  private def cachedCount: Int = {
    // the cleaner runs asynchronously after GC — give it a bounded nudge,
    // until nothing is left or the count holds for `Steady` GC rounds in a
    // row (a Result held on purpose, as by the KgQueries memo, never
    // reaches 0)
    val Steady = 4
    var n = spark.sparkContext.getPersistentRDDs.size
    var tries = 0
    var same = 0
    while (n > 0 && same < Steady && tries < 40) {
      System.gc()
      Thread.sleep(250)
      val next = spark.sparkContext.getPersistentRDDs.size
      same = if (next == n) same + 1 else 0
      n = next
      tries += 1
    }
    n
  }

  test("N pipeline runs + unpersist leave no growing cache residue") {
    def runOnce(): Unit = {
      val r = Pipeline.computeForScale(spark, CorpusGen.Tiny)
      r.triples.count()
      r.unpersist()
    }
    runOnce()
    val after1 = cachedCount
    runOnce(); runOnce()
    val after3 = cachedCount
    assert(after3 <= after1 + 1,
      s"cache residue grew across runs: $after1 → $after3 " +
        s"(${spark.sparkContext.getPersistentRDDs.values.map(_.name).take(6)})")
  }

  test("kg memo stays bounded under newSession churn") {
    // an app that churns newSession() must not pin every discarded
    // session's pipeline Result: the memo holds one Result, and a request
    // for another session unpersists the held one first
    def churn(): Unit =
      graft.KgQueries.result(spark.newSession(), "/tmp/churn-tiny").triples.count()
    churn()
    val after1 = cachedCount
    (2 to 6).foreach(_ => churn())
    val after6 = cachedCount
    assert(after6 <= after1 + 1,
      s"cache residue grew across churned sessions: $after1 → $after6 " +
        s"(${spark.sparkContext.getPersistentRDDs.values.map(_.name).take(6)})")
  }

  test("scan scratch cleanup registers ONE listener per context, not one per run") {
    // round-5 verdict finding: Scan.materialize leaked one SparkListener
    // per pipeline run; now a single shared listener drains a pending-path
    // set. N runs in one session must register at most one new listener
    // (zero if an earlier spec already ran a pipeline on this context).
    val before = Scan.drainListenersRegistered.get()
    val pendingBefore = Scan.pendingScratchCount(spark.sparkContext)
    (1 to 3).foreach { _ =>
      val r = Pipeline.computeForScale(spark, CorpusGen.Tiny)
      r.triples.count()
      r.unpersist() // also retires the run's scratch path from the set
    }
    val after = Scan.drainListenersRegistered.get()
    assert(after - before <= 1,
      s"cleanup listeners grew with runs: +${after - before} across 3 runs")
    // eager dropScratch retired THIS test's paths (other specs' un-released
    // runs legitimately stay pending until the shutdown drain)
    assert(Scan.pendingScratchCount(spark.sparkContext) == pendingBefore,
      "unpersist() did not retire this test's scratch paths")
  }
}
