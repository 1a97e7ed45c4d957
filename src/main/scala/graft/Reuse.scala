package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way a frame that several consumers read is computed once.
  *
  * Every reuse point in the pipeline and the operators goes through
  * [[materialize]], a `localCheckpoint` stored SERIALIZED
  * (`MEMORY_AND_DISK_SER`): one byte buffer per block instead of one JVM
  * object per row, at the CPU cost of decoding the rows on each read. The
  * reused frames are read a few times each, so the smaller footprint pays:
  * the per-account text model (`Features.textVectors`) shrank by about
  * half, and the Dedup signatures more still once they are stored one row
  * per document (`Dedup.bandPairs`) and exploded on read.
  *
  * A checkpoint keeps its rows, not its partitioning: under AQE the
  * `LogicalRDD` of a checkpointed aggregate reports `UnknownPartitioning`
  * once its shuffle was coalesced, so a consumer keyed on the same columns
  * shuffles again. Store a frame at the grain its consumers join on: a
  * frame repacked one row per key and exploded back costs that extra
  * exchange (the text model, packed one row per account, wrote 13% more
  * shuffle bytes on the kg_build benchmark).
  *
  * The blocks live as long as the returned frame: the ContextCleaner
  * releases them once the frame is unreachable and a GC ran, so no caller
  * owes an unpersist. They are executor-local, so losing an executor
  * loses the frame.
  */
object Reuse {

  /** `df` checkpointed locally and serialized, its RDD named `label`.
    * `eager` runs the job now; `eager = false` still finalizes an adaptive
    * plan's shuffle stages when the frame is built, and computes the rows
    * at the first action.
    */
  def materialize(df: DataFrame, label: String, eager: Boolean = true): DataFrame = {
    val out = df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
    out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.setName(label) }
    out
  }
}
