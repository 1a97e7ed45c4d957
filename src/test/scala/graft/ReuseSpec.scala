package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Reuse.materialize: the input's rows, stored serialized under its label,
  * no job before the first action when lazy, and the raw local
  * checkpoint's lifetime (released by the ContextCleaner once the frame is
  * unreachable).
  */
class ReuseSpec extends AnyFunSuite with SparkTestBase {

  private def input: DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize((0L until 500L).map(i => (i, s"v${i % 7}")), 3)
      .toDF("id", "v").withColumn("sq", col("id") * col("id"))
  }

  private def persisted(label: String) =
    spark.sparkContext.getPersistentRDDs.values.filter(_.name == label).toSeq

  /** Waits until every event posted so far has reached the listeners. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  test("the rows equal the input's, eager or not") {
    val expect = input.collect().toSeq.map(_.toSeq)
    for (eager <- Seq(true, false)) {
      val out = Reuse.materialize(input, s"reuse-rows-$eager", eager)
      assert(out.schema == input.schema)
      assert(out.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long]) == expect)
    }
  }

  test("the checkpoint's RDD is stored serialized under the label") {
    val out = Reuse.materialize(input, "reuse-level")
    val rdds = persisted("reuse-level")
    assert(rdds.size == 1, spark.sparkContext.getPersistentRDDs.values.map(_.name))
    assert(rdds.head.getStorageLevel == StorageLevel.MEMORY_AND_DISK_SER)
    assert(out.count() == 500L)
  }

  test("eager = false runs no job until the first action") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain(); jobs.set(0)
      val lazyOut = Reuse.materialize(input, "reuse-lazy", eager = false)
      drain()
      assert(jobs.get == 0)
      assert(lazyOut.count() == 500L)
      drain()
      assert(jobs.get >= 1)
      jobs.set(0)
      Reuse.materialize(input, "reuse-eager")
      drain()
      assert(jobs.get >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an unreachable frame's blocks are released after a GC") {
    def build(): Long = {
      val out = Reuse.materialize(input, "reuse-gc")
      assert(out.count() == 500L)
      persisted("reuse-gc").map(_.id).head
    }
    val id = build()
    var tries = 0
    while (spark.sparkContext.getPersistentRDDs.contains(id.toInt) && tries < 40) {
      System.gc()
      Thread.sleep(250)
      tries += 1
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(id.toInt),
      s"RDD $id still persisted after $tries GC rounds")
  }
}
