package graft.kg

/** Case-class schemas for the KG-construction pipeline (SURVEY.md §1).
  *
  * The input surface is exactly the BASELINE.json `input_hint` shape:
  * an Iceberg-style corpus table (repo, path, commit, lang, content).
  * All other tables are synthesized or derived.
  */

/** One source file in the corpus (input_hint shape, exactly).
  * Reference analogue: one tweet JSON row
  * (/root/reference/alignments/src/main/java/eu/fbk/fm/alignments/index/BuildUserIndex.java:80-91).
  */
final case class RepoFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** KB entity — analogue of DBpediaResource
  * (/root/reference/alignments/src/main/java/eu/fbk/fm/alignments/DBpediaResource.java:59-65).
  * `kind` ∈ {per, org, other}; `dead` mirrors the death/defunct attribute
  * filter (DBpediaResource.java:99-111).
  */
final case class Entity(
    id: String,
    names: Seq[String],
    labels: Seq[String],
    kind: String,
    dead: Boolean,
    abstractText: String,
    homepage: String) // "" = none; F12 lookup binaries (HomepageAlignmentsScorer.java:28-35)

/** Alignment-target account — analogue of the twitter4j User fixture
  * (/root/reference/alignments/src/test/resources/user.json).
  */
final case class Account(
    accountId: Long,
    screenName: String,
    name: String,
    description: String,
    followers: Int,
    friends: Int,
    listed: Int,
    statuses: Int,
    verified: Boolean,
    url: String, // profile homepage, "" = none (twitter4j User.getURL analogue)
    lastStatusAt: Long) // epoch ms of the latest post; 0 = never posted
                        // (User.getStatus() == null, ActivityScorer.java:24-26)

/** Gold standard row — analogue of gold.csv
  * (/root/reference/alignments/.../evaluation/Dataset.java:61-78).
  * accountId < 0 encodes "no true alignment" (abstain expected).
  */
final case class GoldRow(entity: String, accountId: Long)

/** Output triple — the judged surface (RDFExporter.java:180-196). */
final case class Triple(subj: String, pred: String, obj: String)

/** Pre-trained KB-entity embedding — analogue of the rdf2vec kb200 vectors
  * the reference fetches from its embeddings HTTP service
  * (/root/reference/alignments/.../scorer/embeddings/EmbeddingsProvider.java:67-69);
  * here an input table, joined instead of fetched.
  */
final case class EntityEmbedding(entityId: String, vec: Seq[Double])

/** Pre-trained account embedding — the vectors the social-graph feature
  * averages over followees (SocialGraphEmbeddings.java:38-44).
  */
final case class AccountEmbedding(accountId: Long, vec: Seq[Double])
