package slbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of one job group (a layer in a traced rep, or the
  * whole rep when untraced).
  */
final case class Totals(jobs: Int = 0, taskCpuS: Double = 0, shuffleWriteMb: Double = 0,
    spillMb: Double = 0, outputMb: Double = 0) {
  def writtenMb: Double = shuffleWriteMb + spillMb + outputMb
  def +(o: Totals): Totals = Totals(jobs + o.jobs, taskCpuS + o.taskCpuS,
    shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb, outputMb + o.outputMb)
}

/** One measured interval in a traced rep; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's only instrument: a SparkListener folding task metrics
  * per job group, counting stored block bytes and task-busy intervals, plus a
  * QueryExecutionListener that times every file write by output path.
  * Spans are kept in memory and written out once at the end of the run.
  *
  * Everything here observes the program from outside: it registers
  * listeners and sets job groups around public calls, and never changes
  * what the program computes.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  private val MB = 1024.0 * 1024.0
  private val sc = spark.sparkContext

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()  // block name → bytes
  @volatile private var storedBytes = 0L
  // (launch ms, finish ms) of every finished task; the driver-idle figure
  // is the rep wall not covered by their union
  private val taskIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** Seconds each file write took, by output path. */
  val writes = new ConcurrentHashMap[String, Double]()

  sc.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical match {
        case c: InsertIntoHadoopFsRelationCommand =>
          writes.put(c.outputPath.toUri.getPath.stripSuffix("/"), durationNs / 1e9)
        case _ =>
      }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Probe.Untraced)
    e.stageIds.foreach(stageGroup.put(_, g))
    totals.merge(g, Totals(jobs = 1), _ + _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    if (info != null) taskIntervals.add((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      val g = Option(stageGroup.get(e.stageId)).getOrElse(Probe.Untraced)
      totals.merge(g, Totals(
        taskCpuS = m.executorCpuTime / 1e9,
        shuffleWriteMb = m.shuffleWriteMetrics.bytesWritten / MB,
        spillMb = m.diskBytesSpilled / MB,
        outputMb = m.outputMetrics.bytesWritten / MB), _ + _)
    }
  }

  // Bytes of RDD blocks (persisted and checkpointed frames) as they are
  // stored, memory plus disk. Counting growth only, not what is stored at
  // a given moment, keeps the figure independent of when a GC lets the
  // context cleaner free a dead frame's blocks.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val now = info.memSize + info.diskSize
      val before = Option(blocks.put(info.blockId.name, now)).map(_.longValue).getOrElse(0L)
      if (now > before) storedBytes += now - before
    }
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Clears the per-rep counters. */
  def reset(): Unit = {
    drain()
    totals.clear()
    taskIntervals.clear()
    writes.clear()
    synchronized { storedBytes = 0L }
  }

  def groupTotals: Map[String, Totals] = { drain(); totals.asScala.toMap }
  def storedMb: Double = { drain(); storedBytes / MB }

  /** Seconds of [startMs, endMs] during which no task was running. */
  def idleSeconds(startMs: Long, endMs: Long): Double = {
    drain()
    val iv = taskIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (endMs - startMs - covered) / 1000.0
  }

  // ------------------------------------------------------------- spans

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Runs `f` as a span named `name`, under job group `name`, so its task
    * metrics land in [[groupTotals]] under the same key.
    */
  def span[A](name: String)(f: => A): A = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, name, System.nanoTime(), 0L)
    open = id :: open
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try f
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(spans(p).name, spans(p).name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def spanList: Seq[Span] = spans.toSeq

  /** Span seconds minus the seconds its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Probe {
  val Untraced = "untraced"
}
