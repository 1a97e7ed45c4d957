package graft.kg

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Pins CandidateGen.taggedNames, the one per-entity pass that yields the
  * query names and both back-off rung flags, to the three-function
  * formulation it replaced: the all-names expansion, the top-3 rung and the
  * primary name, each normalizing every raw name on its own, with
  * in_r1 = array_contains(top3, qname) and in_r2 = (qname = primary).
  */
class TaggedNamesSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._
  import TaggedNamesSpec._

  private def tagged(names: Seq[String], labels: Seq[String])
      : Seq[(String, Boolean, Boolean)] =
    CandidateGen.taggedNames(names, labels).map(q => (q.qname, q.in_r1, q.in_r2))

  // ---- generators: a small word pool so names repeat across names and
  // labels (multiplicity ties for the top-3 rung), case and whitespace
  // variants, "Last, First" forms and names under 3 characters
  private val wordGen: Gen[String] =
    Gen.oneOf("ada", "lovelace", "alan", "turing", "al", "x", "grace", "hopper")
  private val caseGen: Gen[String => String] =
    Gen.oneOf(Seq[String => String](s => s, _.toUpperCase, _.capitalize))
  private val wsGen: Gen[String] = Gen.oneOf(" ", "  ", "\t", " \n ")
  private val nameGen: Gen[String] = Gen.frequency(
    3 -> (for { w <- wordGen; c <- caseGen } yield c(w)),
    3 -> (for { a <- wordGen; b <- wordGen; c <- caseGen; ws <- wsGen;
                pad <- Gen.oneOf("", " ", "\t") } yield pad + c(a) + ws + c(b) + pad),
    3 -> (for { last <- wordGen; first <- wordGen; c <- caseGen;
                ws <- Gen.oneOf("", " ") } yield c(last) + "," + ws + " " + c(first)),
    1 -> Gen.oneOf("", "ab", "a, b", "  x  "))
  private val listGen: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Seq.empty[String]),
    8 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, nameGen)))

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1000), p)
    assert(res.passed, res.status.toString)
  }

  test("taggedNames ≡ the three-function formulation (property)") {
    check(Prop.forAll(listGen, listGen) { (names, labels) =>
      tagged(names, labels) == reference(names, labels)
    })
  }

  test("fixed cases: null arrays, empty names with labels, short names") {
    for ((names, labels) <- Seq[(Seq[String], Seq[String])](
        (null, null), (null, Seq("Ada Lovelace")), (Seq.empty, Seq("Ada Lovelace")),
        (Seq("Ada Lovelace"), null), (Seq("al", "x"), Seq("ab")),
        (Seq("Lovelace, Ada"), Seq("ADA  LOVELACE", " ada lovelace "))))
      assert(tagged(names, labels) == reference(names, labels), (names, labels))
    // no names: the labels still expand, and no name is the primary one
    assert(tagged(Seq.empty, Seq("Ada Lovelace")) ==
      Seq(("ada lovelace", true, false)))
    // "Last, First" tags both forms; only the swapped one is ranked/primary
    assert(tagged(Seq("Lovelace, Ada"), null) ==
      Seq(("ada lovelace", true, true), ("lovelace, ada", false, false)))
  }

  test("multiplicity ties for the top-3 rung break by name") {
    // aa×2 bb×2 cc×2 dd×2: four-way tie → the top three by name
    val names = Seq("dd dd", "cc cc", "bb bb", "aa aa")
    val got = tagged(names, names)
    assert(got == reference(names, names))
    assert(got.filter(_._2).map(_._1) == Seq("aa aa", "bb bb", "cc cc"))
    assert(got.filter(_._3).map(_._1) == Seq("dd dd"))
  }

  test("taggedQueryNames rows ≡ the three-UDF Spark formulation") {
    val sample = Gen.listOfN(300, Gen.zip(listGen, listGen, Gen.oneOf(true, false, false)))
      .sample.get.zipWithIndex.map { case ((names, labels, dead), i) =>
        Entity(s"kb:resource/E$i", names, labels, "per", dead, "", "")
      }
    val entities = spark.createDataset(spark.sparkContext.parallelize(sample, 4)).toDF()
    val queryNamesUdf = udf(refQueryNames _)
    val top3Udf = udf(refTop3 _)
    val primaryUdf = udf(refPrimary _)
    val want = entities.filter(!col("dead"))
      .select(col("id").as("entity_id"),
        explode(queryNamesUdf(col("names"), col("labels"))).as("qname"),
        top3Udf(col("names"), col("labels")).as("top3"),
        primaryUdf(col("names")).as("primary_q"))
      .select(col("entity_id"), col("qname"),
        array_contains(col("top3"), col("qname")).as("in_r1"),
        (col("qname") === col("primary_q")).as("in_r2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Boolean, Boolean)].collect().sorted.toSeq
    val got = rows(CandidateGen.taggedQueryNames(entities))
    assert(got.nonEmpty)
    assert(got == rows(want))
  }
}

/** The three-function reference, in an object so the Spark check can ship
  * it to executors as UDFs.
  */
object TaggedNamesSpec {
  def refQueryNames(names: Seq[String], labels: Seq[String]): Seq[String] =
    (Option(names).getOrElse(Seq.empty) ++ Option(labels).getOrElse(Seq.empty))
      .iterator
      .map(Text.normalizeName)
      .flatMap(n => Iterator(n, Text.swapLastFirst(n)))
      .filter(_.length >= 3)
      .toVector.distinct.sorted

  def refTop3(names: Seq[String], labels: Seq[String]): Seq[String] =
    (Option(names).getOrElse(Seq.empty) ++ Option(labels).getOrElse(Seq.empty))
      .map(n => Text.swapLastFirst(Text.normalizeName(n)))
      .filter(_.length >= 3)
      .groupBy(identity).toSeq
      .map { case (n, g) => (n, g.size) }
      .sortBy { case (n, c) => (-c, n) }
      .take(3).map(_._1).toVector

  def refPrimary(names: Seq[String]): String =
    if (names == null || names.isEmpty) ""
    else Text.swapLastFirst(Text.normalizeName(names.head))

  def reference(names: Seq[String], labels: Seq[String])
      : Seq[(String, Boolean, Boolean)] = {
    val top3 = refTop3(names, labels)
    val primary = refPrimary(names)
    refQueryNames(names, labels).map(q => (q, top3.contains(q), q == primary))
  }
}
