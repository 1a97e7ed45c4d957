package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Unit + property tests for the shared scalar text functions (SURVEY §5:
  * tokenizer invariants, mirror of the AllNamesStrategy golden-test style).
  * Raw scalacheck (no scalatestplus bridge in the offline cache).
  */
class TextSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("normalizeWs collapses runs and trims") {
    assert(Text.normalizeWs("  a \t\n b  ") == "a b")
    assert(Text.normalizeWs("") == "")
    assert(Text.normalizeWs(null) == "")
    assert(Text.normalizeWs("one  two\r\nthree") == "one two three")
  }

  test("normalizeWs is idempotent (property)") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val once = Text.normalizeWs(s)
      Text.normalizeWs(once) == once
    })
  }

  test("swapLastFirst swaps single 'Last, First' only") {
    assert(Text.swapLastFirst("lovelace, ada") == "ada lovelace")
    assert(Text.swapLastFirst("ada lovelace") == "ada lovelace")
    assert(Text.swapLastFirst("a, b, c") == "a, b, c") // two commas: untouched
  }

  test("jaroWinkler known values (textbook cases)") {
    assert(math.abs(Text.jaroWinkler("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(Text.jaroWinkler("same", "same") == 1.0)
    assert(Text.jaroWinkler("", "") == 1.0)
    assert(Text.jaroWinkler("abc", "") == 0.0)
    // agrees with DuckDB's jaro_winkler_similarity('dwayne','duane') = 0.84
    assert(math.abs(Text.jaroWinkler("dwayne", "duane") - 0.84) < 1e-12)
  }

  test("jaroWinkler is symmetric and bounded (property)") {
    check(Prop.forAll(Gen.alphaStr, Gen.alphaStr) { (a, b) =>
      val s = Text.jaroWinkler(a, b)
      s >= 0.0 && s <= 1.0 && math.abs(s - Text.jaroWinkler(b, a)) < 1e-12
    })
  }

  test("splitIdentifier breaks camelCase / snake_case / acronyms") {
    assert(Text.splitIdentifier("camelCaseWord").toSeq == Seq("camel", "Case", "Word"))
    assert(Text.splitIdentifier("snake_case_word").toSeq == Seq("snake", "case", "word"))
    assert(Text.splitIdentifier("HTTPServer").toSeq == Seq("HTTP", "Server"))
    assert(Text.splitIdentifier("").toSeq == Seq.empty)
  }

  test("tokens lowercases and splits on non-alnum") {
    assert(Text.tokens("Hello, World! x2").toSeq == Seq("hello", "world", "x2"))
    assert(Text.tokens(null).toSeq == Seq.empty)
  }

  test("nameSimilarity applies normalization + Last,First swap") {
    assert(Text.nameSimilarity(Seq("Lovelace, Ada"), "Ada Lovelace") == 1.0)
  }
}
