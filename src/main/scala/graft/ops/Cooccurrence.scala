package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed token co-occurrence counting — the rebuild of the reference's
  * embedding-corpus preparation (SURVEY §2.4 A8/A9/A10, §2.6 W4/W5,
  * §2.9 X1/X2; PopulateCooccurrenceMatrix.java:92-142,288-374):
  *
  *   1. token dictionary: freq > minFreq, top-V by (freq desc, token asc),
  *      dense ids assigned by rank (W5 — window row_number, not the
  *      reference's parallelism-1 zip hack).
  *   2. co-occurrence pairs: within a window of `window` tokens, weight
  *      1/offset, emitted symmetrically (l ≤ r), plus self-count 1.0 per
  *      occurrence — one generator UDF + explode, then groupBy-sum (the
  *      dictionary rides along as an explicit driver-map broadcast into a
  *      map-side encode, reference's withBroadcastSet at :75-90).
  *   3. marginals with dense zero-fill: every id in [0, V) gets a row even
  *      with no mass (A10 — right join against spark.range).
  *   4. shard partitioning for the writer: (l % shards, r % shards) —
  *      X1/X2 as write.partitionBy columns.
  *
  * Scale: the only wide ops are the pair groupBy (partial-agg combines
  * per-partition) and the dictionary top-V (a global sort of the already-
  * aggregated token counts, ≪ corpus).
  */
object Cooccurrence {

  /** dictionary(token, freq, id) — id dense 0..V-1 by (freq desc, token). */
  def tokenDictionary(docs: DataFrame, minFreq: Long = 5, topV: Int = 1000000): DataFrame = {
    val counts = docs.select(explode(Dedup.tokensCol(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") > minFreq)
      .orderBy(col("freq").desc, col("token").asc)
      .limit(topV)
    counts.withColumn("id",
      row_number().over(Window.orderBy(col("freq").desc, col("token").asc)) - 1)
  }

  /** Pair generator over an id array: within-window weighted pairs + self. */
  val pairsUdf = udf((ids: Seq[Long], window: Int) => {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < ids.length) {
      out += ((ids(i), ids(i), 1.0)) // self-count
      var j = i + 1
      while (j < ids.length && j - i <= window) {
        val w = 1.0 / (j - i)
        val l = math.min(ids(i), ids(j))
        val r = math.max(ids(i), ids(j))
        out += ((l, r, w))
        j += 1
      }
      i += 1
    }
    out.toSeq
  })

  /** Documents → token-id arrays (out-of-vocabulary tokens dropped, token
    * order preserved). The dictionary rides along as an explicit driver-map
    * broadcast (J9) consumed by a map-side encode UDF: the previous
    * formulation posexploded one row PER TOKEN through a broadcast join and
    * then re-assembled the arrays with a groupBy + collect_list +
    * array_sort — a full token-level shuffle AND sort whose volume is the
    * corpus token count. Encoding in place shuffles nothing; the only
    * driver-side cost is collecting the dictionary, which is bounded by
    * top-V (the same rows the broadcast join shipped to every executor
    * anyway).
    */
  def docIds(docs: DataFrame, dict: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // compact two-array structure instead of a HashMap[String, boxed Long]:
    // token-sorted String array + parallel primitive id array, probed by
    // binary search. At the reference's V = 4M vocabulary
    // (PopulateCooccurrenceMatrix.java:48) the HashMap's Entry + boxed-Long
    // overhead is ~40 B/entry (~160 MB of driver heap on top of the
    // strings); the arrays carry only the strings + one long each, and the
    // broadcast ships the same. Exact string equality either way — encode
    // output is identical.
    val rows = dict.select(col("token"), col("id").cast("long")).collect()
    val order = rows.indices.sortBy(rows(_).getString(0))
    val toks = new Array[String](rows.length)
    val ids = new Array[Long](rows.length)
    var i = 0
    while (i < order.length) {
      toks(i) = rows(order(i)).getString(0)
      ids(i) = rows(order(i)).getLong(1)
      i += 1
    }
    val bc = spark.sparkContext.broadcast((toks, ids))
    val encode = udf { (tokSeq: Seq[String]) =>
      val (ts, is) = bc.value
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      tokSeq.foreach { t =>
        val idx = java.util.Arrays.binarySearch(
          ts.asInstanceOf[Array[AnyRef]], t)
        if (idx >= 0) out += is(idx)
      }
      out.toSeq
    }
    docs.select(col("doc_id"), encode(Dedup.tokensCol(col("text"))).as("ids"))
  }

  /** cooc(l, r, weight) with shard columns for partitioned writes. */
  def cooccurrence(docs: DataFrame, dict: DataFrame, window: Int = 10,
      shards: Int = 8): DataFrame =
    docIds(docs, dict)
      .select(explode(pairsUdf(col("ids"), lit(window))).as("p"))
      .select(col("p._1").as("l"), col("p._2").as("r"), col("p._3").as("w"))
      .groupBy(col("l"), col("r"))
      .agg(round(sum(col("w")), 4).as("weight"))
      .withColumn("shard_l", pmod(col("l"), lit(shards)).cast("int"))
      .withColumn("shard_r", pmod(col("r"), lit(shards)).cast("int"))

  /** Marginal mass per id, dense over [0, V) (zero-fill via right join). */
  def marginals(spark: SparkSession, cooc: DataFrame, v: Long): DataFrame = {
    val mass = cooc.select(col("l").as("id"), col("weight"))
      .unionByName(cooc.filter(col("l") =!= col("r"))
        .select(col("r").as("id"), col("weight")))
      .groupBy(col("id")).agg(sum(col("weight")).as("mass"))
    spark.range(v).toDF("id")
      .join(mass, Seq("id"), "left")
      .select(col("id"), round(coalesce(col("mass"), lit(0.0)), 4).as("mass"))
  }

  /** X2 demo: shard-partitioned write (one directory per (shard_l, shard_r)),
    * sorted within partitions like the reference's in-reducer sort (O4).
    */
  def writeSharded(cooc: DataFrame, path: String): Unit =
    cooc.repartition(col("shard_l"), col("shard_r"))
      .sortWithinPartitions(col("l"), col("r"))
      .write.mode("overwrite")
      .partitionBy("shard_l", "shard_r")
      .parquet(path)
}
