package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 2: the name→account dictionary with mention frequencies.
  *
  * Reference analogue: user_index(fullname, uid, freq) built by
  * BuildUserIndex.java:104-110 (groupBy(name, uid).sum(freq)); the
  * normalization applied to names mirrors prepareString
  * (BuildUserIndex.java:271-297) + lowercase.
  *
  * Scale notes: this is a groupBy over the (huge) mention stream — Catalyst
  * plans it as partial + final HashAggregate, so the shuffle carries only
  * pre-combined (name, account_id) partials. The screen_name→account_id
  * resolution joins the mention stream against the (comparatively tiny)
  * accounts dim — broadcast it explicitly.
  */
object Dictionary {

  /** F2 mention-name normalization: identifier splitting (camel/snake →
    * words) before the usual lowercase/whitespace normalization, so the
    * code corpus's `AdaLovelace` display forms key the same dictionary
    * entry as `Ada Lovelace` (Text.splitName; TextProcessor.java:129-147).
    */
  val splitNameUdf =
    udf((s: String) => Text.splitName(s))

  /** dictionary(name, account_id, freq).
    *
    * Two-phase aggregation so the normalization UDF runs once per DISTINCT
    * (display_name, account) pair, not once per mention: splitName costs
    * two regex replaceAll + a regex split, and the mention stream carries
    * each display form millions of times (display forms are bounded by
    * |accounts| × render variants, the stream grows with the corpus). The
    * raw-form pre-aggregate map-side combines before its shuffle exactly
    * like the old single groupBy did, then the split + re-sum runs on the
    * tiny distinct frame. freq is an exact integer re-sum over a
    * deterministic per-form split, so the output is row-identical
    * (kg_dictionary's DuckDB replay and the scalar-oracle specs gate it).
    */
  def build(spark: SparkSession, mentions: DataFrame, accounts: DataFrame): DataFrame = {
    val accs = accounts.select(col("screenName").as("screen_name"),
      col("accountId").as("account_id"))
    mentions
      .join(broadcast(accs), Seq("screen_name"), "inner")
      .groupBy(col("display_name"), col("account_id"))
      .agg(count(lit(1)).as("raw_freq"))
      .select(splitNameUdf(col("display_name")).as("name"), col("account_id"),
        col("raw_freq"))
      .filter(length(col("name")) >= 3) // AllNamesStrategy.java:75 exclusion
      .groupBy(col("name"), col("account_id"))
      .agg(sum(col("raw_freq")).as("freq"))
  }

}
