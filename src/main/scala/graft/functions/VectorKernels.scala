package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernels for the three vector folds that sit on the
  * per-pair frame — the widest rows of the whole pipeline (one row per
  * candidate pair, each carrying two tvec entry arrays and two embedding
  * arrays).
  *
  * Why expressions and not the previous formulations:
  *   - text_cos was a Scala UDF over Seq[Row]: every evaluation converted
  *     both entry arrays through CatalystTypeConverters — one
  *     GenericRowWithSchema + two boxed fields PER ENTRY per pair.
  *   - name_sim / sg_cos used the `aggregate`/`zip_with` higher-order
  *     functions, which are interpreted (ArrayAggregate/ZipWith are
  *     CodegenFallback): per pair they allocate a lambda frame per element
  *     and box every intermediate accumulator.
  * Each kernel below is a single static method over the unsafe ArrayData
  * (no per-element materialization beyond an UnsafeRow view for struct
  * entries), called from both `eval` and `doGenCode`, so the projection
  * stays inside WholeStageCodegen.
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

  /** One-pass cosine over two numeric arrays (double or float elements,
    * floats widened exactly like the retired formulation's cast). The three
    * accumulators are summed independently in ascending index order, so
    * each is IEEE-identical to its old separate `aggregate` fold.
    * Returns the old zip_with semantics for the edge cases: a zero norm on
    * a FULLY-summed side → 0.0; length mismatch (zip_with null-padding
    * poisoned the dot) → null, surfaced via the boxed return.
    */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean)
      : java.lang.Double = {
    val la = a.numElements(); val lb = b.numElements()
    var na = 0.0; var nb = 0.0; var dot = 0.0
    var i = 0
    while (i < la) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      na += x * x; i += 1
    }
    i = 0
    while (i < lb) {
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) return java.lang.Double.valueOf(0.0)
    if (la != lb) return null
    i = 0
    while (i < la) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
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

  /** Column API: L2 norm of a (h, w) entry array (null array → null, like
    * the aggregate formulation).
    */
  def entryNormCol(tw: Column): Column =
    GraftBridge.column(EntryNormExpr(GraftBridge.expression(tw)))

  /** Column API: weighted neighbour-average vector over a (dst, w, vec)
    * struct array (null input → null, element nulls per the zip semantics).
    */
  def weightedVecAvg(nb: Column, dim: Int): Column =
    GraftBridge.column(WeightedAvgExpr(GraftBridge.expression(nb), dim))

  private val Kernel = "graft.functions.VectorKernels$.MODULE$"

  /** Column API: TF-IDF cosine of two (h, w) entry arrays with norms;
    * any-null input → 0.0 (the caller-side coalesce folded in).
    */
  def textCosine(eVec: Column, eNorm: Column, aVec: Column, aNorm: Column): Column =
    GraftBridge.column(TextCosineExpr(GraftBridge.expression(eVec),
      GraftBridge.expression(eNorm), GraftBridge.expression(aVec),
      GraftBridge.expression(aNorm)))

  /** Column API: mean Jaro-Winkler of cand vs a names array; null names
    * array or null cand → 0.0.
    */
  def nameSim(names: Column, cand: Column): Column =
    GraftBridge.column(NameSimExpr(GraftBridge.expression(names),
      GraftBridge.expression(cand)))

  /** Column API: cosine of two numeric arrays (nullable — null inputs or
    * mismatched lengths yield null, zero norms yield 0.0, exactly like the
    * aggregate/zip_with formulation this replaces).
    */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineExpr(GraftBridge.expression(a),
      GraftBridge.expression(b)))

  private[functions] def isFloatArr(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** text_cos(etw, en, atw, an): double, never null (missing inputs → 0.0). */
case class TextCosineExpr(etw: Expression, en: Expression,
    atw: Expression, an: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(etw, en, atw, an)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "text_cosine"

  override def eval(input: InternalRow): Any = {
    val v1 = etw.eval(input); val v2 = en.eval(input)
    val v3 = atw.eval(input); val v4 = an.eval(input)
    if (v1 == null || v2 == null || v3 == null || v4 == null) 0.0
    else VectorKernels.textCos(v1.asInstanceOf[ArrayData],
      v2.asInstanceOf[Double], v3.asInstanceOf[ArrayData],
      v4.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c1 = etw.genCode(ctx); val c2 = en.genCode(ctx)
    val c3 = atw.genCode(ctx); val c4 = an.genCode(ctx)
    ev.copy(code = code"""
      ${c1.code}
      ${c2.code}
      ${c3.code}
      ${c4.code}
      double ${ev.value} = 0.0;
      if (!(${c1.isNull} || ${c2.isNull} || ${c3.isNull} || ${c4.isNull})) {
        ${ev.value} = graft.functions.VectorKernels$$.MODULE$$.textCos(
          ${c1.value}, ${c2.value}, ${c3.value}, ${c4.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(etw = newChildren(0), en = newChildren(1),
      atw = newChildren(2), an = newChildren(3))
}

/** name_sim(names, cand): double, never null (null names/cand → 0.0). */
case class NameSimExpr(names: Expression, cand: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(names, cand)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "name_sim"

  override def eval(input: InternalRow): Any = {
    val n = names.eval(input); val c = cand.eval(input)
    if (n == null || c == null) 0.0
    else VectorKernels.meanJw(n.asInstanceOf[ArrayData],
      c.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c1 = names.genCode(ctx); val c2 = cand.genCode(ctx)
    ev.copy(code = code"""
      ${c1.code}
      ${c2.code}
      double ${ev.value} = 0.0;
      if (!(${c1.isNull} || ${c2.isNull})) {
        ${ev.value} = graft.functions.VectorKernels$$.MODULE$$.meanJw(
          ${c1.value}, ${c2.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(names = newChildren(0), cand = newChildren(1))
}

/** entry_norm(tw): double, null iff the array is null. */
case class EntryNormExpr(tw: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(tw)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = tw.nullable
  override def prettyName: String = "entry_norm"

  override def eval(input: InternalRow): Any = {
    val v = tw.eval(input)
    if (v == null) null
    else VectorKernels.entryNorm(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = tw.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      double ${ev.value} = 0.0;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.VectorKernels$$.MODULE$$.entryNorm(${c.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tw = newChildren(0))
}

/** weighted_vec_avg(nb, dim): array<double> (see VectorKernels.weightedAvg
  * for the mirrored zip-chain null semantics).
  */
case class WeightedAvgExpr(nb: Expression, dim: Int) extends Expression {

  override def children: Seq[Expression] = Seq(nb)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "weighted_vec_avg"

  /** weightedAvg reads each entry as getStruct(k, 3) with getDouble(1) and
    * getArray(2).getDouble(j): any other layout (a float weight, an
    * array<float> vec) would decode as garbage doubles, so it must fail
    * analysis instead.
    */
  override def checkInputDataTypes(): TypeCheckResult = nb.dataType match {
    case ArrayType(StructType(Array(_, StructField(_, DoubleType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<struct<_, double, array<double>>>, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = nb.eval(input)
    if (v == null) null
    else VectorKernels.weightedAvg(v.asInstanceOf[ArrayData], dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = nb.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.VectorKernels$$.MODULE$$.weightedAvg(
          ${c.value}, $dim);
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(nb = newChildren(0))
}

/** cosine(a, b) over array<double|float>: nullable (null input or length
  * mismatch → null; zero norm → 0.0).
  */
case class CosineExpr(a: Expression, b: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(a, b)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private lazy val aFloat = VectorKernels.isFloatArr(a.dataType)
  private lazy val bFloat = VectorKernels.isFloatArr(b.dataType)

  override def eval(input: InternalRow): Any = {
    val va = a.eval(input); val vb = b.eval(input)
    if (va == null || vb == null) null
    else {
      val r = VectorKernels.cosine(va.asInstanceOf[ArrayData], aFloat,
        vb.asInstanceOf[ArrayData], bFloat)
      if (r == null) null else r.doubleValue()
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ca = a.genCode(ctx); val cb = b.genCode(ctx)
    val boxed = ctx.freshName("boxedCos")
    ev.copy(code = code"""
      ${ca.code}
      ${cb.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!(${ca.isNull} || ${cb.isNull})) {
        java.lang.Double $boxed = graft.functions.VectorKernels$$.MODULE$$.cosine(
          ${ca.value}, $aFloat, ${cb.value}, $bFloat);
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(a = newChildren(0), b = newChildren(1))
}
