package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The compiled kernels must be BIT-identical to the Column formulations
  * they replaced (which themselves are pinned end-to-end by the scalar
  * oracle and the DuckDB replays). Each test evaluates old and new on the
  * same adversarial frame, once interpreted (StaticInvoke's reflective
  * call) and once under whole-stage codegen (its generated static call),
  * and compares raw doubles with == (no tolerance).
  */
class VectorKernelsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // deterministic pseudo-random stream (no Math.random in tests either)
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rnd01(seed: Long): Double = (mix(seed) >>> 11).toDouble / (1L << 53).toDouble

  /** (old, new) per row of `df`: the legacy formulation as Spark runs it
    * (a higher-order fold keeps its Project out of whole-stage codegen),
    * and the kernel alone in the mode `codegen` selects.
    */
  private def oldNew(df: DataFrame, old: Column, nw: Column, codegen: Boolean): Seq[Row] =
    df.select(old).collect().toSeq.zip(collectIn(df.select(nw), codegen))
      .map { case (o, n) => Row(o.get(0), n.get(0)) }

  // ---------------------------------------------------------------- textCos

  private val entrySchema = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("w", DoubleType, nullable = false))))

  /** The retired Scala-UDF formulation, verbatim. */
  private val legacyTextCos = udf(
    (etw: Seq[Row], en: Double, atw: Seq[Row], an: Double) => {
      if (etw == null || atw == null || en <= 0 || an <= 0) 0.0
      else {
        var i = 0; var j = 0; var dot = 0.0
        while (i < etw.length && j < atw.length) {
          val eh = etw(i).getLong(0); val ah = atw(j).getLong(0)
          if (eh == ah) {
            dot += etw(i).getDouble(1) * atw(j).getDouble(1); i += 1; j += 1
          } else if (eh < ah) i += 1
          else j += 1
        }
        dot / (en * an)
      }
    })

  private def entries(seed: Long, n: Int): (Seq[Row], Double) = {
    // sorted distinct hashes with signed values spanning negatives
    val hs = (0 until n).map(i => mix(seed * 31 + i)).distinct.sorted
    val rows = hs.zipWithIndex.map { case (h, i) =>
      Row(h, rnd01(seed + 1000 + i) * 4.0 - 2.0)
    }
    val norm = math.sqrt(rows.map(r => r.getDouble(1) * r.getDouble(1)).sum)
    (rows, norm)
  }

  test("TextCosineExpr ≡ legacy UDF on overlapping/disjoint/empty/null inputs") {
    val cases: Seq[(Seq[Row], Double, Seq[Row], Double)] = Seq.tabulate(40) { k =>
      val (e, en) = entries(k, k % 7)
      val (a0, _) = entries(k + 500, (k * 3) % 11)
      // force overlap on some hashes: splice half of e into a
      val a = (a0 ++ e.take(e.length / 2)).sortBy(_.getLong(0))
        .foldLeft(Vector.empty[Row])((acc, r) =>
          if (acc.nonEmpty && acc.last.getLong(0) == r.getLong(0)) acc else acc :+ r)
      val an = math.sqrt(a.map(r => r.getDouble(1) * r.getDouble(1)).sum)
      (e, en, a, an)
    } ++ Seq(
      (Seq.empty[Row], 0.0, Seq.empty[Row], 0.0),          // both empty, zero norms
      (entries(99, 5)._1, -1.0, entries(98, 5)._1, 2.0),   // negative norm guard
      (null, 1.0, entries(97, 4)._1, entries(97, 4)._2),   // null side
      (entries(96, 4)._1, entries(96, 4)._2, null, 1.0))

    val schema = StructType(Seq(
      StructField("etw", entrySchema, nullable = true),
      StructField("en", DoubleType, nullable = false),
      StructField("atw", entrySchema, nullable = true),
      StructField("an", DoubleType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cases.map { case (e, en, a, an) =>
        Row(e, en, a, an)
      }, 2), schema)

    interpretedAndCodegen { codegen =>
      oldNew(df, legacyTextCos(col("etw"), col("en"), col("atw"), col("an")),
        VectorKernels.textCosine(col("etw"), col("en"), col("atw"), col("an")),
        codegen).foreach { r =>
        val o = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
        assert(java.lang.Double.doubleToRawLongBits(o) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"codegen=$codegen old=$o new=${r.getDouble(1)}")
      }
    }
  }

  // ---------------------------------------------------------------- nameSim

  test("NameSimExpr ≡ legacy aggregate formulation (incl. empty/null arrays)") {
    def legacy(names: Column, cand: Column) =
      coalesce(
        when(size(names) > 0,
          aggregate(names, lit(0.0),
            (acc, n) => acc + JaroWinkler.jaroWinkler(n, cand)) /
            size(names).cast("double")),
        lit(0.0))

    val pool = Seq("martha jones", "m jones", "jones martha", "königin",
      "横浜 太郎", "x", "", "martha j0nes", "marta", "jo")
    val rows: Seq[(Seq[String], String)] = Seq.tabulate(30) { k =>
      val n = k % 5
      (Seq.tabulate(n)(i => pool((k + i * 3) % pool.length)), pool(k % pool.length))
    } ++ Seq((null, "abc"), (Seq.empty[String], "abc"))
    val df = spark.sparkContext.parallelize(rows, 2).toDF("names", "cand")
    interpretedAndCodegen { codegen =>
      oldNew(df, legacy(col("names"), col("cand")),
        VectorKernels.nameSim(col("names"), col("cand")), codegen).foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"codegen=$codegen old=${r.getDouble(0)} new=${r.getDouble(1)}")
      }
    }
  }

  // ---------------------------------------------------------------- cosine

  test("CosineExpr ≡ legacy zip_with/aggregate on double arrays (zero norms, mismatch, nulls)") {
    def legacy(a: Column, b: Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
      val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
      when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (sqrt(na) * sqrt(nb)))
    }
    def vec(seed: Long, n: Int): Seq[Double] =
      Seq.tabulate(n)(i => rnd01(seed * 131 + i) * 2.0 - 1.0)
    val rows: Seq[(Seq[Double], Seq[Double])] = Seq.tabulate(25) { k =>
      (vec(k, 16), vec(k + 100, 16))
    } ++ Seq(
      (Seq.fill(8)(0.0), vec(7, 8)),        // zero norm → 0.0
      (vec(8, 8), Seq.fill(8)(0.0)),
      (vec(9, 8), vec(10, 12)),             // length mismatch → null
      (null, vec(11, 8)),                   // null side → null
      (Seq.empty[Double], Seq.empty[Double]))
    val df = spark.sparkContext.parallelize(rows, 2).toDF("a", "b")
    interpretedAndCodegen { codegen =>
      oldNew(df, legacy(col("a"), col("b")),
        VectorKernels.cosineSim(col("a"), col("b")), codegen).foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"codegen=$codegen null mismatch: $r")
        if (!r.isNullAt(0))
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
            s"codegen=$codegen old=${r.getDouble(0)} new=${r.getDouble(1)}")
      }
    }
  }

  test("CosineExpr ≡ legacy on float arrays and mixed float/double") {
    def legacy(a: Column, b: Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
      val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
      when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (sqrt(na) * sqrt(nb)))
    }
    val rows: Seq[(Seq[Float], Seq[Float])] = Seq.tabulate(20) { k =>
      (Seq.tabulate(12)(i => (rnd01(k * 17 + i) * 2.0 - 1.0).toFloat),
       Seq.tabulate(12)(i => (rnd01(k * 19 + i + 7) * 2.0 - 1.0).toFloat))
    }
    val df = spark.sparkContext.parallelize(rows, 2).toDF("a", "b")
    // the float side is widened exactly by the analyzer's cast
    val cen = graft.ops.Similarity.centroidCol(3, 12)
    interpretedAndCodegen { codegen =>
      // float vs float, and mixed: float vs double literal array (the IVF
      // centroid shape)
      Seq(col("b"), cen).foreach { b =>
        oldNew(df, legacy(col("a"), b), VectorKernels.cosineSim(col("a"), b),
          codegen).foreach { r =>
          assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
            java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"codegen=$codegen $r")
        }
      }
    }
  }

  test("EntryNormExpr ≡ sqrt(aggregate(tw, 0, acc + w·w)) bit-exactly") {
    val rowsets: Seq[Seq[Row]] = Seq(
      entries(7, 0)._1, entries(8, 1)._1, entries(9, 5)._1,
      entries(10, 37)._1,
      // adversarial magnitudes: subnormal-ish and large weights
      Seq(Row(1L, 1e-160), Row(2L, -1e-160), Row(3L, 4.0)),
      Seq(Row(5L, 1e150), Row(6L, -2.5e149)))
    val schema = StructType(Seq(StructField("tw", entrySchema)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rowsets.map(Row(_)), 2), schema)
    // null array → null, like the aggregate formulation
    val nullDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null)), 1), schema)
    interpretedAndCodegen { codegen =>
      oldNew(df,
        sqrt(aggregate(col("tw"), lit(0.0),
          (acc, s) => acc + s.getField("w") * s.getField("w"))),
        VectorKernels.entryNormCol(col("tw")), codegen).foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"codegen=$codegen $r")
      }
      assert(collectIn(nullDf.select(VectorKernels.entryNormCol(col("tw"))), codegen)(0)
        .isNullAt(0))
    }
  }

  test("WeightedAvgExpr ≡ legacy transform/aggregate/zip_with chain bit-exactly") {
    val dim = 8
    def legacy(nb: Column) =
      transform(
        aggregate(nb, array_repeat(lit(0.0), dim),
          (acc, x) => zip_with(acc, x.getField("vec"),
            (a, v) => a + x.getField("w") * v)),
        v => v / aggregate(nb, lit(0.0), (acc, x) => acc + x.getField("w")))

    val nbSchema = ArrayType(StructType(Seq(
      StructField("dst", LongType, nullable = false),
      StructField("w", DoubleType, nullable = true),
      StructField("vec", ArrayType(DoubleType, containsNull = true), nullable = true))))
    def vec(seed: Long, n: Int): Seq[Double] =
      Seq.tabulate(n)(i => rnd01(seed * 131 + i) * 2.0 - 1.0)
    def nb(seed: Long, n: Int, vlen: Int): Seq[Row] =
      Seq.tabulate(n)(k => Row(seed * 100 + k, rnd01(seed + k) * 3.0, vec(seed + k, vlen)))
    val cases: Seq[Seq[Row]] = Seq.tabulate(20)(k => nb(k, 1 + k % 6, dim)) ++ Seq(
      nb(50, 3, dim - 3),                      // short vecs → null tail elements
      nb(60, 2, dim + 4),                      // long vecs → zip-extended nulls
      nb(70, 2, dim) :+ Row(999L, 1.5, vec(71, dim - 2)), // mixed lengths
      Seq(Row(1L, 2.0, null)),                 // null vec → whole array null
      Seq(Row(2L, null, vec(5, dim))))         // null w → all-null elements
    val schema = StructType(Seq(StructField("nb", nbSchema)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cases.map(Row(_)), 2), schema)
    // null nb column → null, like the lazy-eval chain
    val nullDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null)), 1), schema)
    // empty nb: the legacy chain THROWS under ANSI (double 0/0 divide);
    // sgVectors can never produce it (groupBy output has ≥1 row, weights
    // are > 0), and the kernel keeps IEEE semantics: dim NaN elements
    val emptyDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq.empty[Row])), 1), schema)
    interpretedAndCodegen { codegen =>
      oldNew(df, legacy(col("nb")),
        VectorKernels.weightedVecAvg(col("nb"), dim), codegen).foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"codegen=$codegen array-null mismatch: $r")
        if (!r.isNullAt(0)) {
          val o = r.getSeq[Any](0); val n = r.getSeq[Any](1)
          assert(o.length == n.length, s"length mismatch: $o vs $n")
          o.zip(n).foreach {
            case (null, null) => ()
            case (a: Double, b: Double) =>
              assert(java.lang.Double.doubleToRawLongBits(a) ==
                java.lang.Double.doubleToRawLongBits(b), s"codegen=$codegen old=$a new=$b")
            case (a, b) => fail(s"codegen=$codegen element null mismatch: $a vs $b")
          }
        }
      }
      assert(collectIn(nullDf.select(VectorKernels.weightedVecAvg(col("nb"), dim)), codegen)(0)
        .isNullAt(0))
      val got = collectIn(emptyDf.select(VectorKernels.weightedVecAvg(col("nb"), dim)),
        codegen)(0).getSeq[Double](0)
      assert(got.length == dim && got.forall(_.isNaN))
    }
  }

  test("weightedVecAvg widens float w and vec exactly") {
    def nbOf(w: DataType, vecElem: DataType) = StructType(Seq(StructField("nb",
      ArrayType(StructType(Seq(StructField("dst", LongType), StructField("w", w),
        StructField("vec", ArrayType(vecElem))))))))
    def avg(schema: StructType, rows: Seq[Row], codegen: Boolean) =
      collectIn(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(VectorKernels.weightedVecAvg(col("nb"), 3)), codegen).toSeq.map(_.getSeq[Double](0))
    // float-representable neighbours, so each layout carries the same values
    val nbs: Seq[Seq[(Long, Float, Seq[Float])]] = Seq.tabulate(12) { k =>
      Seq.tabulate(1 + k % 4)(i => (k * 10L + i, (rnd01(k * 7 + i) * 3.0).toFloat,
        Seq.tabulate(3)(j => (rnd01(k * 31 + i * 5 + j) * 2.0 - 1.0).toFloat)))
    }
    def rows(wf: Float => Any, vf: Float => Any) = nbs.map(nb =>
      Row(nb.map { case (d, w, v) => Row(d, wf(w), v.map(vf)) }))
    interpretedAndCodegen { codegen =>
      val want = avg(nbOf(DoubleType, DoubleType), rows(_.toDouble, _.toDouble), codegen)
      Seq(
        avg(nbOf(FloatType, DoubleType), rows(identity, _.toDouble), codegen),
        avg(nbOf(DoubleType, FloatType), rows(_.toDouble, identity), codegen),
        avg(nbOf(FloatType, FloatType), rows(identity, identity), codegen)).foreach { got =>
        assert(got.map(_.map(java.lang.Double.doubleToRawLongBits)) ==
          want.map(_.map(java.lang.Double.doubleToRawLongBits)), s"codegen=$codegen")
      }
    }
    // a layout the analyzer cannot cast to (dst, double, array<double>) still fails analysis
    val e = intercept[org.apache.spark.sql.AnalysisException](
      avg(nbOf(DoubleType, StringType), Seq(Row(Seq(Row(1L, 0.5, Seq("x"))))), codegen = true))
    assert(e.getMessage.contains("weightedAvg"), e.getMessage)
  }

  // ------------------------------------------------------- near-dup verify

  test("SortedJaccardExpr ≡ Dedup.sortedJaccard, interpreted and compiled") {
    def set(seed: Long, n: Int, mod: Long): Seq[Long] =
      (0 until n).map(i => mix(seed * 97 + i) % mod).distinct.sorted
    val a = set(1, 40, 64)
    val rows: Seq[(Seq[Long], Seq[Long])] = Seq(
      (Seq.empty, Seq.empty), (Seq.empty, a), (a, Seq.empty),
      (a, a),                                      // identical → 1.0
      (Seq(-5L, 1L, 3L), Seq(-4L, 2L, 4L, 9L)),    // disjoint → 0.0
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)),
      (null, a), (a, null)) ++
      Seq.tabulate(20)(k => (set(k, 5 + k * 3, 48), set(k + 50, 30 - k, 48)))  // unequal sizes
    val df = spark.sparkContext.parallelize(rows, 2).toDF("a", "b")
    interpretedAndCodegen { codegen =>
      val out = df.select(col("a"), col("b"),
        VectorKernels.sortedJaccard(col("a"), col("b")).as("j"))
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("static_invoke(graft.functions.VectorKernels.sortedJaccard(") &&
        !plan.contains("ScalaUDF"), plan)
      assert(plan.contains("*(1) Project [") == codegen, plan) // whole-stage marker
      out.collect().foreach { r =>
        def arr(i: Int) = if (r.isNullAt(i)) Array.empty[Long] else r.getSeq[Long](i).toArray
        val want = graft.ops.Dedup.sortedJaccard(arr(0), arr(1))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToRawLongBits(want), s"codegen=$codegen $r want $want")
      }
    }
    // the kernel reads elements with getLong: an int set is widened exactly,
    // and an element type the analyzer cannot cast to bigint fails analysis
    assert(Seq((Seq(1, 2), Seq(2, 3))).toDF("a", "b")
      .select(VectorKernels.sortedJaccard(col("a"), col("b"))).head().getDouble(0) == 1.0 / 3.0)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq((Seq("1", "2"), Seq("2", "3"))).toDF("a", "b")
        .select(VectorKernels.sortedJaccard(col("a"), col("b"))).collect())
    assert(e.getMessage.contains("sortedJaccard"), e.getMessage)
  }

  test("embedding verify: cosine_sim ≡ Dedup.cosineArr on equal lengths, 0.0 on null or mismatch") {
    def vec(seed: Long, n: Int): Seq[Float] =
      Seq.tabulate(n)(i => (rnd01(seed * 131 + i) * 2.0 - 1.0).toFloat)
    val equal: Seq[(Seq[Float], Seq[Float])] = Seq.tabulate(20)(k => (vec(k, 64), vec(k + 300, 64))) ++
      Seq((Seq.fill(64)(0f), vec(3, 64)), (vec(4, 64), Seq.fill(64)(0f)),
        (Seq.fill(8)(0f), Seq.fill(8)(0f)), (Seq.empty, Seq.empty),
        (vec(5, 64), vec(5, 64).map(_ * 2f)))
    val zeroed: Seq[(Seq[Float], Seq[Float])] =
      Seq((null, vec(6, 64)), (vec(7, 64), null), (null, null),
        (vec(8, 64), vec(9, 32)), (vec(10, 16), vec(10, 64)))
    val df = spark.sparkContext.parallelize(equal ++ zeroed, 2).toDF("a", "b")
    interpretedAndCodegen { codegen =>
      val out = df.select(col("a"), col("b"),
        graft.ops.Dedup.embeddingCosine(col("a"), col("b")).as("c")).collect()
      assert(out.length == equal.size + zeroed.size)
      out.foreach { r =>
        val want =
          if (r.isNullAt(0) || r.isNullAt(1) || r.getSeq[Float](0).size != r.getSeq[Float](1).size) 0.0
          else graft.ops.Dedup.cosineArr(r.getSeq[Float](0).toArray, r.getSeq[Float](1).toArray)
        assert(!r.isNullAt(2) && java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
          java.lang.Double.doubleToRawLongBits(want), s"codegen=$codegen $r want $want")
      }
    }
  }

  test("kernels run inside WholeStageCodegen (no BatchEvalPython/ScalaUDF, no CodegenFallback wrappers)") {
    val (e, en) = entries(1, 6)
    val schema = StructType(Seq(
      StructField("etw", entrySchema), StructField("en", DoubleType, false),
      StructField("atw", entrySchema), StructField("an", DoubleType, false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(e, en, e, en)), 1), schema)
    val plan = df.select(
      VectorKernels.textCosine(col("etw"), col("en"), col("atw"), col("an")))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker in the compact form
    assert(plan.contains(
      "*(1) Project [coalesce(static_invoke(graft.functions.VectorKernels.textCos("), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }
}
