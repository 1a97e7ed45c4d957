package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ONE corpus pass.
  *
  * The pipeline needs four products of the raw content: the annotation
  * rows (mentions), the author list (per-account corpus text), the
  * author×mention pairs (social graph), and the per-file token counts
  * (TF-IDF model). `products` extracts all four, plus the sha256(content)
  * lineage column, in a single pass; the pipeline persists/checkpoints the
  * (small) product rows, and every downstream stage derives from them —
  * content is read exactly once and never again. The scan frame is the
  * only corpus form the kg layers accept: the dictionary, the text model,
  * the social graph, the lineage and the kg_mentions / kg_social_graph
  * queries all take it, and a raw corpus passed in its place fails
  * analysis (no `anns`/`authors`/`mens`/`tok` columns). At 10^12-file
  * scale the corpus read IS the pipeline's dominant cost.
  *
  * Exactness: the marker scanner reproduces the annotation regex and the
  * author/mention regexes match for match (ScanKernelSpec), and the token
  * counter the Text.tokens + xxhash64 rule bit for bit, so the derived
  * frames are row-identical to independent per-product scans —
  * KgPipelineSpec's exact triple-set gate against ScalarOracle and the
  * DuckDB SQL replays (which re-derive mentions and edges from content
  * cross-engine) pin it.
  *
  * Reference analogue: BuildUserIndex.java:221-269 likewise emits author ∪
  * mention rows from ONE pass over the tweet stream.
  */
object Scan {

  /** ONE regex pass for all three marker products. The per-product
    * regexes — the annotation form `// @(author|mention) (\S+) \(([^)]*)\)`
    * and the author/mention form `// @(author|mention) (\S+)` — share the
    * marker prefix, so a single scan with the display-name group OPTIONAL
    * yields all three match sets: every combined match is an author/mention
    * row, and the matches whose optional group is present are exactly the
    * annotation rows. Equivalent to the three independent scans whenever
    * no marker match overlaps text another scan would match: display names
    * contain no `// @` marker, screens are \w+, and a ` (` after a screen
    * closes before any later marker (see ScanKernelSpec, which property-
    * tests the equivalence and pins each divergence case) — all true of
    * every generator and fixture, and gated by the DuckDB replays and
    * KgPipelineSpec's exact-set check, which re-derive the products
    * independently. Cuts the marker passes over content from 3 to 1
    * (measured ~25% off the UDF kernel on the short synthetic contents;
    * proportionally more on real-size files where the scan IS the cost).
    */
  private[kg] val MarkerRe = "// @(author|mention) (\\S+)( \\(([^)]*)\\))?".r

  /** Java-regex `\s` exactly ([ \t\n\x0B\f\r]) — NOT Character.isWhitespace,
    * which differs on control/Unicode chars; the scanner must reproduce
    * `\S+` bit-for-bit.
    */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Hand-rolled scanner equivalent to `MarkerRe.findAllMatchIn` — exposed
    * for ScanKernelSpec's property test against the regex. Emits
    * (isAuthor, screen, displayOrNull) per non-overlapping match and skips
    * between candidates with the intrinsified `String.indexOf` instead of
    * walking the NFA over every char. Semantics mirrored from the regex:
    * the kind word must be followed by one literal space; `\S+` is the
    * maximal run of non-`\s` chars (at least one — and since any shorter
    * prefix of that run ends at a non-space char, the optional display
    * group can only ever match at the maximal end, so no backtracking
    * case exists); the display group matches iff the screen is followed
    * by " (" and a ')' occurs anywhere later (`[^)]*` spans newlines);
    * scanning resumes at the match end, so markers inside a display are
    * consumed, exactly as `findAllMatchIn`'s non-overlapping scan does.
    */
  private[kg] def scanMarkers(content: String)(
      onMatch: (Boolean, String, String) => Unit): Unit = {
    val L = content.length
    var i = content.indexOf("// @")
    while (i >= 0) {
      var next = i + 1 // resume point when no match starts here
      val k = i + 4
      val isAuthor = content.startsWith("author ", k)
      val isMention = !isAuthor && content.startsWith("mention ", k)
      if (isAuthor || isMention) {
        val ss = k + (if (isAuthor) 7 else 8)
        var se = ss
        while (se < L && !isRegexSpace(content.charAt(se))) se += 1
        if (se > ss) {
          var display: String = null
          var end = se
          if (se + 1 < L && content.charAt(se) == ' ' &&
              content.charAt(se + 1) == '(') {
            val close = content.indexOf(')', se + 2)
            if (close >= 0) {
              display = content.substring(se + 2, close)
              end = close + 1
            }
          }
          onMatch(isAuthor, content.substring(ss, se), display)
          next = end
        }
      }
      i = content.indexOf("// @", next)
    }
  }

  private val TokenHashSeed = graft.ops.Dedup.laneSeed(0)

  /** Insertion-ordered open-addressing long→long counter — the primitive
    * replacement for the LinkedHashMap the token histogram used to
    * accumulate into, which boxed two Longs and allocated an Entry node
    * per token occurrence across every file of the corpus. Flat arrays,
    * linear probing (keys are XXH64 outputs, already uniformly mixed),
    * first-seen order tracked in a slot list so `emit` reproduces
    * LinkedHashMap's insertion-ordered toSeq EXACTLY (ScanKernelSpec's
    * bit-equality gate covers order). One instance per executor thread via
    * [[Scan.tokenCounter]], reset between rows by clearing only the
    * touched slots.
    */
  private[kg] final class TokenCounter {
    private var cap = 1024 // power of two
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var occ = new Array[Boolean](cap)
    private var order = new Array[Int](256)
    private var n = 0

    private def grow(): Unit = {
      val ok = keys; val ov = vals; val oo = order; val on = n
      cap <<= 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      occ = new Array[Boolean](cap)
      order = new Array[Int](math.max(order.length, on * 2))
      n = 0
      var i = 0
      while (i < on) { add(ok(oo(i)), ov(oo(i))); i += 1 }
    }

    def add(h: Long, by: Long): Unit = {
      if (n * 2 >= cap) grow()
      val mask = cap - 1
      var idx = (h & mask).toInt
      while (occ(idx) && keys(idx) != h) idx = (idx + 1) & mask
      if (occ(idx)) vals(idx) += by
      else {
        occ(idx) = true; keys(idx) = h; vals(idx) = by
        if (n == order.length) order = java.util.Arrays.copyOf(order, n * 2)
        order(n) = idx; n += 1
      }
    }

    /** First-seen-order (hash, count) rows; resets the counter for reuse. */
    def emitAndReset(): Seq[(Long, Long)] = {
      val b = Seq.newBuilder[(Long, Long)]
      b.sizeHint(n)
      var i = 0
      while (i < n) {
        val s = order(i); b += ((keys(s), vals(s))); occ(s) = false; i += 1
      }
      n = 0
      b.result()
    }
  }

  private val tokenCounter =
    ThreadLocal.withInitial[TokenCounter](() => new TokenCounter)

  /** Fused tokenizer+hasher: one pass over content, lowercasing
    * letter-or-digit runs (Text.tokens' exact token rule) and UTF-8-encoding
    * them into a reusable buffer hashed with the SAME XXH64 lane-0 kernel as
    * `Dedup.xxLane` — zero per-token String/StringBuilder/UTF8String
    * allocation, and counts accumulate in the thread-local primitive
    * [[TokenCounter]] (no per-token boxing either). Token chars are always
    * BMP non-surrogates (surrogate code units fail isLetterOrDigit and
    * break the token, as in Text.tokens), so the manual 1-3-byte encoding
    * matches UTF8String.fromString exactly; ScanKernelSpec property-tests
    * bit-equality against `Text.tokens + xxLane`, non-ASCII letters
    * included.
    */
  private[kg] def tokenHashCounts(content: String): Seq[(Long, Long)] = {
    val m = tokenCounter.get()
    var buf = new Array[Byte](128)
    var len = 0
    val L = content.length
    var i = 0
    while (i <= L) {
      val c = if (i < L) content.charAt(i) else ' ' // sentinel flushes the tail
      if (i < L && Character.isLetterOrDigit(c)) {
        val lc = Character.toLowerCase(c)
        if (len + 3 > buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        if (lc < 0x80) { buf(len) = lc.toByte; len += 1 }
        else if (lc < 0x800) {
          buf(len) = (0xC0 | (lc >> 6)).toByte
          buf(len + 1) = (0x80 | (lc & 0x3F)).toByte
          len += 2
        } else {
          buf(len) = (0xE0 | (lc >> 12)).toByte
          buf(len + 1) = (0x80 | ((lc >> 6) & 0x3F)).toByte
          buf(len + 2) = (0x80 | (lc & 0x3F)).toByte
          len += 3
        }
      } else if (len > 0) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len,
          TokenHashSeed)
        m.add(h, 1L)
        len = 0
      }
      i += 1
    }
    m.emitAndReset()
  }

  /** Per-file products. `tok` is populated only for authored files (the
    * only files whose tokens feed the per-account text model) — the token
    * histogram is the widest product, so skipping unauthored files keeps
    * the persisted frame small.
    */
  final case class Products(
      anns: Seq[(String, String, String)],
      authors: Seq[String],
      mens: Seq[String],
      tok: Seq[(Long, Long)])

  /** The scalar kernel behind [[products]] — exposed so ScanKernelSpec
    * can property-test it against the historical three-regex formulation
    * without a Spark job.
    */
  def productsOf(content: String): Products =
    if (content == null) Products(Nil, Nil, Nil, Nil)
    else {
      val annsB = Seq.newBuilder[(String, String, String)]
      val authorsB = Seq.newBuilder[String]
      val mensB = Seq.newBuilder[String]
      scanMarkers(content) { (isAuthor, screen, display) =>
        val kind = if (isAuthor) "author" else "mention"
        if (display != null) annsB += ((kind, screen, display))
        if (isAuthor) authorsB += screen else mensB += screen
      }
      val anns = annsB.result()
      val authors = authorsB.result()
      val mens = mensB.result()
      // Features.fileTokenCountsUdf kernel: per-file counts over token
      // HASHES — one row per distinct token per file, key already a long
      val tok =
        if (authors.isEmpty) Seq.empty[(Long, Long)]
        else tokenHashCounts(content)
      Products(anns, authors, mens, tok)
    }

  /** One scan-output row — the typed shape behind [[products]] (tuple
    * Seqs encode as array<struct<_1,...>>, the layout every consumer
    * selects).
    */
  final case class ScanRow(repo: String, path: String, commit: String,
      content_sha: String,
      anns: Seq[(String, String, String)],
      authors: Seq[String], mens: Seq[String],
      tok: Seq[(Long, Long)])

  /** (repo, path, commit, content_sha, anns, authors, mens, tok) — one row
    * per file, content dropped. The sha2 invariant is computed here, at the
    * only place content is ever visible (input_hint contract):
    * DigestUtils.sha256Hex is the exact call Spark's `sha2(col, 256)`
    * expression makes on the UTF-8 bytes, so the column is bit-identical
    * to kg_corpus's `sha2(content, 256)` (the DuckDB kg_corpus and
    * kg_mentions replays recompute it cross-engine).
    *
    * Typed mapPartitions instead of a ScalaUDF: the UDF path converted the
    * nested Products result through reflection-based
    * CatalystTypeConverters per row (~55 nested values each) and then
    * re-projected the struct; the Dataset encoder serializes the same
    * values with generated code, and chained object operators let the
    * optimizer eliminate the row round-trip against the typed synthesis
    * source (EliminateSerialization). Measured on the scan-stage job at
    * 300k files/local[32]: see OPTIMIZATION_r06.md.
    */
  def products(repos: DataFrame): DataFrame = {
    val spark = repos.sparkSession
    import spark.implicits._
    repos.select(col("repo"), col("path"), col("commit"), col("content"))
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        it.map { case (repo, path, commit, content) =>
          val sha = org.apache.commons.codec.digest.DigestUtils.sha256Hex(
            content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val p = productsOf(content)
          ScanRow(repo, path, commit, sha, p.anns, p.authors, p.mens, p.tok)
        }
      }
      .toDF()
  }

  /** Materialize a products frame as scratch PARQUET and return the
    * read-back frame (plus the path, for cleanup).
    *
    * Why not .persist(): the products row is wide (the per-file token
    * histogram dominates), and a columnar-cache read decodes the whole
    * row per consumer — measured at 2M files/local[16] the dictionary
    * build alone took 173 s off the cached frame vs ~27 s off a narrow
    * one. Parquet gives every consumer column PRUNING: the dictionary
    * reads only `anns`, the social graph only `authors`+`mens` (skipping
    * the fat `tok` entirely), the text model only `authors`+`tok`.
    * This is also the literal 100 TB shape — scan once, write the
    * (small) products table, feed every downstream stage with pruned
    * reads — which Pipeline.run's checkpointed "scan" stage already does;
    * this gives the in-memory compute() path the same materialization.
    */
  // pending scratch dirs per SparkContext, drained by ONE shared cleanup
  // listener per context — the previous
  // form registered a fresh listener per materialize() call, which a
  // long-lived session running N pipelines accumulated N of (each holding
  // its path and firing a redundant delete at shutdown)
  private val pendingScratch =
    new java.util.WeakHashMap[org.apache.spark.SparkContext,
      java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean]]()

  /** Listener count / pending set surface for the cleanup-dedup spec. */
  private[kg] def pendingScratchCount(sc: org.apache.spark.SparkContext): Int =
    pendingScratch.synchronized {
      val s = pendingScratch.get(sc); if (s == null) 0 else s.size()
    }

  /** Total cleanup listeners ever registered (spec surface: stays at one
    * per SparkContext no matter how many pipelines run).
    */
  private[kg] val drainListenersRegistered =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def materialize(products: DataFrame, dir: String): DataFrame = {
    val spark = products.sparkSession
    products.write.mode("overwrite").parquet(dir)
    // safety net: callers that never reach Result.unpersist (ad-hoc
    // Scaling/stage runs, thrown-away Results) would otherwise strand the
    // scratch dir on the local disk FOREVER — observed 70 GB of leaked
    // graft-scan-* dirs across a measurement day. Deleting at application
    // end keeps scratch lifetime ≤ session lifetime; dropScratch stays the
    // eager release for pipeline callers (removing the path from the
    // pending set, so the drain only deletes what is still live). A
    // SIGKILL still leaks — that needs an external sweep, like any Spark
    // local-dir residue.
    val sc = spark.sparkContext
    pendingScratch.synchronized {
      var set = pendingScratch.get(sc)
      if (set == null) {
        set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        pendingScratch.put(sc, set)
        drainListenersRegistered.incrementAndGet()
        sc.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
              val it = set.iterator()
              while (it.hasNext) {
                val d = it.next()
                try dropScratch(spark, d) catch { case _: Throwable => () }
              }
              set.clear()
            }
          })
      }
      set.add(dir)
    }
    spark.read.parquet(dir)
  }

  /** Scratch directory for [[materialize]] — under the first configured
    * spark.local.dir (tmpfs in the bench sessions), unique per call.
    */
  def scratchDir(spark: org.apache.spark.sql.SparkSession): String = {
    val root = spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .split(",").head
    s"$root/graft-scan-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Delete a [[materialize]] scratch dir (Result.unpersist) and retire it
    * from the shutdown-drain set.
    */
  def dropScratch(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    pendingScratch.synchronized {
      val s = pendingScratch.get(spark.sparkContext)
      if (s != null) s.remove(dir)
    }
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** (repo, path, commit, content_sha, kind, screen_name, display_name) —
    * one row per annotation occurrence, derived from the scan (the
    * dictionary's input and the kg_mentions query).
    */
  def mentions(scan: DataFrame): DataFrame =
    scan.select(col("repo"), col("path"), col("commit"), col("content_sha"),
        explode(col("anns")).as("m"))
      .select(col("repo"), col("path"), col("commit"), col("content_sha"),
        col("m._1").as("kind"),
        col("m._2").as("screen_name"),
        col("m._3").as("display_name"))

  /** (src_screen, dst_screen) author×mention pairs — the social-graph raw
    * rows, derived in Catalyst (no content, no UDF): two chained explodes
    * (authors outer, mentions inner — the exact row multiset and order of
    * Features.coMentionPairsUdf and of the previous nested-transform +
    * flatten form, which was INTERPRETED per file: ArrayTransform is
    * CodegenFallback; Generate/explode stays inside WholeStageCodegen).
    * Consumers aggregate, so order is cosmetic.
    */
  def coMentionPairs(scan: DataFrame): DataFrame =
    scan.select(explode(col("authors")).as("src_screen"), col("mens"))
      .select(col("src_screen"), explode(col("mens")).as("dst_screen"))

  /** (screen_name, tok) rows for authored files — the per-account text
    * model's input, derived from the scan (was authoredContent's second
    * corpus read).
    */
  def authoredTokens(scan: DataFrame): DataFrame =
    scan.select(explode(col("authors")).as("screen_name"), col("tok"))
}
