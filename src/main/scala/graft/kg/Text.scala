package graft.kg

/** Pure scalar text functions shared by the Spark UDFs AND the single-threaded
  * scalar oracle (ScalarOracle.scala). Sharing one implementation guarantees
  * the Spark pipeline and the oracle agree bitwise, which is what makes the
  * exact-triple-set test meaningful.
  *
  * Reference semantics:
  *   - whitespace normalization: BuildUserIndex.java:271-297 (prepareString)
  *   - camel-case break: TextProcessor.java:129-147 (hashtag splitting)
  *   - name normalization for dictionary keys: AllNamesStrategy.java:68-117
  */
object Text {

  /** F1: strip NULs, collapse whitespace runs to single spaces, trim. */
  def normalizeWs(s: String): String = {
    if (s == null) return ""
    val sb = new StringBuilder(s.length)
    var lastSpace = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\u0000') () // drop
      else if (Character.isWhitespace(c)) {
        if (!lastSpace) { sb.append(' '); lastSpace = true }
      } else { sb.append(c); lastSpace = false }
      i += 1
    }
    var out = sb.toString
    if (out.nonEmpty && out.charAt(out.length - 1) == ' ') out = out.substring(0, out.length - 1)
    out
  }

  /** Dictionary-key normalization: whitespace-normalized lowercase. */
  def normalizeName(s: String): String = normalizeWs(s).toLowerCase

  /** Mention display-name normalization (F2, TextProcessor.java:129-147):
    * camelCase/snake_case identifier forms are split back into words BEFORE
    * the usual normalization, so `AdaLovelace`, `ada_lovelace` and
    * `Ada Lovelace` all key the same dictionary entry. Plain spaced names
    * pass through unchanged (split on whitespace, rejoined).
    */
  def splitName(s: String): String =
    normalizeName(splitIdentifier(s).mkString(" "))

  /** F14: "Last, First" → "first last" (applied after normalization). */
  def swapLastFirst(name: String): String = {
    val idx = name.indexOf(", ")
    if (idx > 0 && name.indexOf(", ", idx + 1) < 0)
      name.substring(idx + 2) + " " + name.substring(0, idx)
    else name
  }

  // precompiled patterns for splitIdentifier — String.replaceAll/split
  // compile their regex on EVERY call, and this function runs once per
  // distinct display form in the dictionary build (plus the f2 query);
  // same patterns, same semantics
  private val CamelBreak1 = java.util.regex.Pattern.compile("([a-z0-9])([A-Z])")
  private val CamelBreak2 = java.util.regex.Pattern.compile("([A-Z]+)([A-Z][a-z])")
  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  /** F2-analogue: split camelCase / snake_case identifiers into words. */
  def splitIdentifier(s: String): Array[String] = {
    if (s == null || s.isEmpty) return Array.empty
    val withBreaks = CamelBreak2.matcher(
      CamelBreak1.matcher(s).replaceAll("$1 $2")).replaceAll("$1 $2")
      .replace('_', ' ')
    WsRun.split(withBreaks, -1).filter(_.nonEmpty)
  }

  /** Lowercase word tokens (letters+digits runs). Used for cosine contexts. */
  def tokens(s: String): Array[String] = {
    if (s == null) return Array.empty
    val out = Array.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(Character.toLowerCase(c))
      else if (sb.nonEmpty) { out += sb.toString; sb.clear() }
      i += 1
    }
    if (sb.nonEmpty) out += sb.toString
    out.result()
  }

  /** Jaro similarity (public textbook formulation). */
  def jaro(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    if (a == b) return 1.0
    val window = math.max(0, math.max(a.length, b.length) / 2 - 1)
    val aMatch = new Array[Boolean](a.length)
    val bMatch = new Array[Boolean](b.length)
    var matches = 0
    var i = 0
    while (i < a.length) {
      val lo = math.max(0, i - window)
      val hi = math.min(b.length - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < a.length) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / a.length + m / b.length + (m - transpositions / 2.0) / m) / 3.0
  }

  /** F4: Jaro-Winkler with standard scaling factor 0.1, prefix ≤ 4. */
  def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) return j
    var prefix = 0
    val n = math.min(4, math.min(if (a == null) 0 else a.length, if (b == null) 0 else b.length))
    var i = 0
    var eq = true
    while (i < n && eq) {
      if (a.charAt(i) == b.charAt(i)) prefix += 1 else eq = false
      i += 1
    }
    j + prefix * 0.1 * (1.0 - j)
  }

  /** F5: mean Jaro-Winkler of candidate name vs all entity names
    * (NameScorer.java:42-53 semantics: lowercase + trim both sides, mean).
    */
  def nameSimilarity(entityNames: Seq[String], candidateName: String): Double = {
    if (entityNames == null || entityNames.isEmpty) return 0.0
    val cand = normalizeName(candidateName)
    var sum = 0.0
    var i = 0
    while (i < entityNames.length) {
      sum += jaroWinkler(swapLastFirst(normalizeName(entityNames(i))), cand)
      i += 1
    }
    sum / entityNames.length
  }
}
