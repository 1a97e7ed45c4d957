package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the per-pair feature folds of the scorer (name
  * similarity, TF-IDF cosine, embedding cosine), the dim-table folds of
  * Features (entry norm, weighted neighbour average), the near-dup verify
  * of ops.Dedup (sorted-set Jaccard, embedding cosine) and Jaro-Winkler.
  *
  * Why kernels and not the previous formulations:
  *   - text_cos was a Scala UDF over Seq[Row]: every evaluation converted
  *     both entry arrays through CatalystTypeConverters — one
  *     GenericRowWithSchema + two boxed fields PER ENTRY per pair.
  *   - name_sim / sg_cos used the `aggregate`/`zip_with` higher-order
  *     functions, which are interpreted (ArrayAggregate/ZipWith are
  *     CodegenFallback): per pair they allocate a lambda frame per element
  *     and box every intermediate accumulator.
  *   - the near-dup LSH verify (ops.Dedup) scored hashed-set Jaccard and
  *     embedding cosine with Scala UDFs over Seq[Long]/Seq[Float]: a boxed
  *     conversion of both arrays per candidate pair.
  * Each kernel below is a single static method over the unsafe ArrayData
  * (no per-element materialization beyond an UnsafeRow view for struct
  * entries). The Column API calls it through Spark's `StaticInvoke`: one
  * static call per row inside WholeStageCodegen, a reflective call when
  * codegen is off, null in → null out, and `inputTypes` checks (or
  * exactly widens, e.g. float → double) each argument's layout at
  * analysis, so a kernel never decodes a layout it does not read.
  *
  * Bit-exactness: every fold visits elements in exactly the order of the
  * formulation it replaces (ascending index / ascending-hash merge), and
  * each accumulator is summed independently, so results are IEEE-identical
  * — the scalar oracle (kg/ScalarOracle.scala) and the DuckDB replays gate
  * this end-to-end, and VectorKernelsSpec pins equivalence against the old
  * Column formulations on adversarial inputs.
  */
object VectorKernels {

  /** Sorted-merge dot of two hash-sorted (h: long, w: double) entry arrays,
    * divided by the precomputed norm product — the TF-IDF cosine
    * (DBTextScorerv2.java:38-42 semantics via Features.vectorize arrays).
    * Mirrors the retired textCosUdf exactly, including the ≤0-norm guard.
    */
  def textCos(etw: ArrayData, en: Double, atw: ArrayData, an: Double): Double = {
    if (en <= 0 || an <= 0) return 0.0
    val nl = etw.numElements(); val nr = atw.numElements()
    var i = 0; var j = 0; var dot = 0.0
    while (i < nl && j < nr) {
      val e = etw.getStruct(i, 2); val a = atw.getStruct(j, 2)
      val eh = e.getLong(0); val ah = a.getLong(0)
      if (eh == ah) { dot += e.getDouble(1) * a.getDouble(1); i += 1; j += 1 }
      else if (eh < ah) i += 1
      else j += 1
    }
    dot / (en * an)
  }

  /** Mean Jaro-Winkler of `cand` against every name, in array order —
    * F5 (NameScorer.java:42-53). Empty array → 0.0 (the retired
    * when(size>0, aggregate/size) formulation's coalesce fallback).
    */
  def meanJw(names: ArrayData, cand: UTF8String): Double = {
    val n = names.numElements()
    if (n == 0) return 0.0
    val c = cand.toString
    var s = 0.0; var i = 0
    while (i < n) {
      s += graft.kg.Text.jaroWinkler(names.getUTF8String(i).toString, c)
      i += 1
    }
    s / n.toDouble
  }

  /** One-pass cosine over two array<double> (float callers are widened
    * exactly, by the analyzer or once per row of their own frame). The
    * three accumulators are summed independently in ascending index order,
    * so each is IEEE-identical to its old separate `aggregate` fold.
    * Returns the old zip_with semantics for the edge cases: a zero norm on
    * a FULLY-summed side → 0.0; length mismatch (zip_with null-padding
    * poisoned the dot) → null, surfaced via the boxed return.
    */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val la = a.numElements(); val lb = b.numElements()
    var na = 0.0; var nb = 0.0; var dot = 0.0
    var i = 0
    while (i < la) {
      val x = a.getDouble(i)
      na += x * x; i += 1
    }
    i = 0
    while (i < lb) {
      val y = b.getDouble(i)
      nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) return java.lang.Double.valueOf(0.0)
    if (la != lb) return null
    i = 0
    while (i < la) {
      dot += a.getDouble(i) * b.getDouble(i); i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Jaccard of two SORTED distinct long arrays by merge intersection —
    * the ascending merge of `Dedup.sortedJaccard`, over ArrayData. The
    * near-dup LSH verify of the minhash and ngram families (hashed
    * shingle/gram sets).
    */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val la = a.numElements(); val lb = b.numElements()
    if (la == 0 || lb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < la && j < lb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (la + lb - inter).toDouble
  }

  /** √(Σ wᵢ²) over a (h, w) entry array in ascending index order —
    * the L2 norm Features.vectorize previously folded with the
    * interpreted `sqrt(aggregate(tw, 0.0, acc + w*w))` (ArrayAggregate is
    * CodegenFallback: a lambda frame + boxed accumulator per element, once
    * per ACCOUNT and per ENTITY row — dim-table work that grows with the
    * corpus). Same ascending fold, same final sqrt → IEEE-identical.
    */
  def entryNorm(tw: ArrayData): Double = {
    val n = tw.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val w = tw.getStruct(i, 2).getDouble(1)
      s += w * w
      i += 1
    }
    math.sqrt(s)
  }

  /** Weighted mean of neighbour embedding vectors over a SORTED
    * (dst, w, vec) struct array — the Features.sgVectors fold
    * (SocialGraphEmbeddings.java:38-44 semantics). Mirrors the retired
    *   transform(aggregate(nb, array_repeat(0.0, dim),
    *       (acc, x) => zip_with(acc, x.vec, (a, v) => a + x.w * v)),
    *     v => v / aggregate(nb, 0.0, (acc, x) => acc + x.w))
    * formulation bit-for-bit: per element j the adds run in neighbour
    * (array) order, the weight sum folds in the same order, and the
    * division happens once at the end — each of the three interpreted
    * higher-order folds (ArrayAggregate/ZipWith/ArrayTransform are
    * CodegenFallback: a lambda frame + boxed accumulator per element per
    * neighbour, once per ACCOUNT row) becomes one compiled loop.
    *
    * Null semantics of the zip chain, mirrored exactly:
    *   - a null struct entry or null vec poisons the whole array → null
    *     (zip_with over a null array yields null, which then propagates);
    *   - a null weight poisons every element AND the weight sum → an array
    *     of all-null elements (length = the zip-extended length);
    *   - per element: zip_with pads the shorter side with null, and
    *     null + x = null is sticky, so element j is null iff j ≥ dim, or
    *     some neighbour's vec is shorter than j+1 or null at j;
    *   - empty nb → the dim zeros divided by a 0.0 weight sum → NaNs.
    */
  def weightedAvg(nb: ArrayData, dim: Int): ArrayData = {
    val n = nb.numElements()
    var L = dim
    var anyWNull = false
    var k = 0
    while (k < n) {
      if (nb.isNullAt(k)) return null
      val st = nb.getStruct(k, 3)
      if (st.isNullAt(2)) return null
      val len = st.getArray(2).numElements()
      if (len > L) L = len
      if (st.isNullAt(1)) anyWNull = true
      k += 1
    }
    val out = new Array[Any](L)
    if (anyWNull) return new GenericArrayData(out) // all-null elements
    val acc = new Array[Double](L)
    val nul = new Array[Boolean](L)
    var j = dim
    while (j < L) { nul(j) = true; j += 1 }
    var wsum = 0.0
    k = 0
    while (k < n) {
      val st = nb.getStruct(k, 3)
      val w = st.getDouble(1)
      wsum += w
      val vec = st.getArray(2)
      val len = vec.numElements()
      j = 0
      while (j < L) {
        if (!nul(j)) {
          if (j >= len || vec.isNullAt(j)) nul(j) = true
          else acc(j) += w * vec.getDouble(j)
        }
        j += 1
      }
      k += 1
    }
    j = 0
    while (j < L) {
      if (!nul(j)) out(j) = java.lang.Double.valueOf(acc(j) / wsum)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Jaro-Winkler of two strings — graft.kg.Text.jaroWinkler, the scalar
    * the oracle runs, so scores are bitwise-identical.
    */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    graft.kg.Text.jaroWinkler(a.toString, b.toString)

  /** A (h, w) entry array: the layout textCos and entryNorm read. */
  private val Entries = ArrayType(StructType(Seq(
    StructField("h", LongType), StructField("w", DoubleType))))

  private val Doubles = ArrayType(DoubleType)

  /** `kernel` of this object called on `args`, each cast at analysis to its
    * `inputTypes` entry (or rejected if it cannot be); a null argument
    * gives null without calling the kernel.
    */
  private[functions] def invoke(kernel: String, dataType: DataType,
      args: Seq[Column], inputTypes: Seq[DataType]): Column =
    GraftBridge.column(StaticInvoke(getClass, dataType, kernel,
      args.map(GraftBridge.expression), inputTypes))

  /** Column API: L2 norm of a (h, w) entry array (null array → null, like
    * the aggregate formulation).
    */
  def entryNormCol(tw: Column): Column =
    invoke("entryNorm", DoubleType, Seq(tw), Seq(Entries))

  /** Column API: weighted neighbour-average vector over a (dst, w, vec)
    * struct array (null input → null, element nulls per the zip
    * semantics). A float weight or float vec elements are widened exactly.
    */
  def weightedVecAvg(nb: Column, dim: Int): Column =
    invoke("weightedAvg", ArrayType(DoubleType), Seq(nb, lit(dim)),
      Seq(ArrayType(StructType(Seq(StructField("dst", LongType),
        StructField("w", DoubleType), StructField("vec", Doubles)))), IntegerType))

  /** Column API: TF-IDF cosine of two (h, w) entry arrays with norms;
    * any-null input → 0.0 (the caller-side coalesce folded in).
    */
  def textCosine(eVec: Column, eNorm: Column, aVec: Column, aNorm: Column): Column =
    coalesce(invoke("textCos", DoubleType, Seq(eVec, eNorm, aVec, aNorm),
      Seq(Entries, DoubleType, Entries, DoubleType)), lit(0.0))

  /** Column API: mean Jaro-Winkler of cand vs a names array; null names
    * array or null cand → 0.0.
    */
  def nameSim(names: Column, cand: Column): Column =
    coalesce(invoke("meanJw", DoubleType, Seq(names, cand),
      Seq(ArrayType(StringType), StringType)), lit(0.0))

  /** Column API: cosine of two numeric arrays (nullable — null inputs or
    * mismatched lengths yield null, zero norms yield 0.0, exactly like the
    * aggregate/zip_with formulation this replaces). A float array is
    * widened per row here: callers that score pairs widen their vectors
    * once, before the pair join.
    */
  def cosineSim(a: Column, b: Column): Column =
    invoke("cosine", DoubleType, Seq(a, b), Seq(Doubles, Doubles))

  /** Column API: Jaccard of two sorted distinct array<long> sets; a null
    * or empty side → 0.0.
    */
  def sortedJaccard(a: Column, b: Column): Column =
    coalesce(invoke("sortedJaccard", DoubleType, Seq(a, b),
      Seq(ArrayType(LongType), ArrayType(LongType))), lit(0.0))
}
