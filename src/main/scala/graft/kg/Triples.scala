package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage 6: graph materialization into (subj, pred, obj) triples.
  *
  * Triple layout reproduces RDFExporter.java:180-196 with the blank nodes
  * skolemized deterministically (SURVEY §3.2): per scored candidate row
  * (entity e, account a, rank r, confidence s, is_alignment):
  *
  *   1. e  foaf:account        acc(a)           (only if is_alignment)
  *   2. e  owl:sameAs          rep(e)           (canonical representative)
  *   3. e  sl:candidate        cand(e,a)
  *   4. cand(e,a) sl:rank       r
  *   5. cand(e,a) sl:confidence s (%.6f)
  *   6. cand(e,a) sl:account    acc(a)
  *   7. acc(a) dcterms:identifier a
  *   8. acc(a) foaf:accountName  screen_name
  *
  * acc(a) = web:acc/<screen_name> (reference: http://twitter.com/<sn>,
  * RDFExporter.java:175-176); cand(e,a) = kb:candidate/<e-local>/<a>.
  *
  * Scale notes: output written pred-partitioned (8 predicates → 8 partitions,
  * each internally repartitioned by subj hash) so downstream per-predicate
  * scans prune. Dedup is confined to the patterns that can actually
  * duplicate: per-pair patterns (1, 3-6) are duplicate-free BY
  * CONSTRUCTION (alignments hold one row per (entity, account), cand_iri
  * embeds both keys, and foaf:account fires at most once per entity), so
  * that branch — the bulk of the output — is a pure map over the scored
  * pairs with NO shuffle; the entity-level sameAs comes one row per
  * entity from the representatives, and only the account-level
  * identifier/name pair (duplicated ×fan-in) is deduplicated, as a distinct
  * over a NARROW key projection ≪ the triple set. The previous formulation
  * ran one global distinct over every materialized triple string — the
  * second-widest shuffle of the pipeline at 13M triples.
  */
object Triples {

  def accountIri(screenName: Column): Column =
    concat(lit("web:acc/"), screenName)

  def candidateIri(entityId: Column, accountId: Column): Column =
    concat(lit("kb:candidate/"), regexp_replace(entityId, lit("^kb:resource/"), lit("")),
      lit("/"), accountId.cast("string"))

  private def t(subj: Column, pred: String, obj: Column): Column =
    struct(subj.as("subj"), lit(pred).as("pred"), obj.cast("string").as("obj"))

  /** triples(subj, pred, obj) from scored alignments + representatives.
    *
    * Precondition: `reps(entity_id, rep)` holds exactly one row per entity
    * of `alignments`, with `rep` already coalesced to the entity itself
    * when it is in no component: the frame [[Canonicalize.representatives]]
    * builds from the same alignments. The owl:sameAs rows are that frame,
    * projected.
    */
  def materialize(alignments: DataFrame, reps: DataFrame): DataFrame = {
    val a = alignments
      .withColumn("acc_iri", accountIri(col("screen_name")))
      .withColumn("cand_iri", candidateIri(col("entity_id"), col("account_id")))

    val perPair = a.select(explode(array(
        when(col("is_alignment"), t(col("entity_id"), "foaf:account", col("acc_iri"))),
        t(col("entity_id"), "sl:candidate", col("cand_iri")),
        t(col("cand_iri"), "sl:rank", col("rank")),
        t(col("cand_iri"), "sl:confidence", format_string("%.6f", col("score"))),
        t(col("cand_iri"), "sl:account", col("acc_iri")))).as("t"))
      .filter(col("t").isNotNull)
      .select(col("t.subj"), col("t.pred"), col("t.obj"))

    val sameAs = reps.select(col("entity_id").as("subj"),
      lit("owl:sameAs").as("pred"), col("rep").as("obj"))

    val acct = alignments.select(col("account_id"), col("screen_name")).distinct()
      .select(explode(array(
        t(accountIri(col("screen_name")), "dcterms:identifier", col("account_id")),
        t(accountIri(col("screen_name")), "foaf:accountName", col("screen_name")))).as("t"))
      .select(col("t.subj"), col("t.pred"), col("t.obj"))

    perPair.unionByName(sameAs).unionByName(acct)
  }
}
