package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the reference's streaming-flavored
  * semantics (SURVEY §2.10):
  *
  *   - T2 latest-wins by event time: batch `max_by(struct, ts)` becomes a
  *     `flatMapGroupsWithState` keeping the max-timestamp row per key.
  *   - windowed aggregation with watermark (absent in the reference, a
  *     first-class capability here).
  *
  * Batch/stream parity is the test contract: the same input through the
  * streaming path (memory sink, processAllAvailable) must equal the batch
  * DataFrame result.
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Latest(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      event_type: String)

  /** Batch form of T2: latest event per user (max_by with total tie-break). */
  def latestBatch(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_id"), col("event_type")),
        struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.ts").as("ts"), col("m.event_type").as("event_type"))

  /** Streaming form of T2 via explicit state (OutputMode.Update). */
  def latestStreaming(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("event_id"), col("ts").cast("timestamp").as("ts"),
      col("user_id"), col("event_type"), col("value")).as[Event]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[Latest, Latest](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (uid: Long, rows: Iterator[Event], state: GroupState[Latest]) => {
          var cur = state.getOption.orNull
          rows.foreach { e =>
            if (cur == null || e.ts.after(cur.ts) ||
              (e.ts.equals(cur.ts) && e.event_id > cur.event_id))
              cur = Latest(uid, e.event_id, e.ts, e.event_type)
          }
          if (cur == null) Iterator.empty
          else { state.update(cur); Iterator.single(cur) }
        })
      .toDF()
  }

  /** Watermarked tumbling-window aggregation (readStream → agg).
    * The testdata `ts` is TIMESTAMP_NTZ; watermarks need TIMESTAMP.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  /** Drive `transform` over the events parquet as a file stream, collect via
    * memory sink synchronously; used by tests and the stream demo query.
    */
  def runFileStream(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame, mode: OutputMode,
      name: String): DataFrame = {
    // stage + checkpoint under Spark's first local dir (often tmpfs)
    // instead of java.io.tmpdir: the default temp checkpoint
    // lands on /tmp, which is DISK-backed here, and every state-store
    // instance (one per shuffle partition) commits delta files + CRCs
    // there per micro-batch — pure fixed I/O the result never sees. The
    // checkpoint location does not affect the query's output. Spark
    // resolves its local dirs with SPARK_LOCAL_DIRS ahead of
    // spark.local.dir; the same order is kept here.
    val scratchRoot = java.nio.file.Paths.get(sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .split(",").head)
    java.nio.file.Files.createDirectories(scratchRoot)
    // FileStreamSource wants a DIRECTORY; the testdata table is one parquet
    // file — stage it into a temp dir
    val staged = java.nio.file.Files.createTempDirectory(scratchRoot, s"stream_$name")
    val ckpt = java.nio.file.Files.createTempDirectory(scratchRoot, s"ckpt_$name")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("part-0.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(staged.toString)
    val q = transform(stream).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable()
    finally {
      q.stop()
      // the memory sink holds the rows; the staged input and checkpoint
      // are scratch (an explicit checkpointLocation is never auto-deleted)
      def rm(p: java.nio.file.Path): Unit = try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      } catch { case _: Exception => () }
      rm(ckpt); rm(staged)
    }
    spark.table(name)
  }
}
