package graft

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.DecimalFast

/** Bit-equality pins for the r17.2 allocation-free decimal kernels
  * (plans/DecimalFast): `scaledLong` against the
  * `BigDecimal.valueOf(d).setScale(s, HALF_UP)` reference it replaces, the
  * dot kernel against the pre-r17.2 per-element BigDecimal loop (kept
  * verbatim below as refDot15), and the full embedding_outliers pipeline
  * against the builtin expression trees the two kernels replaced. A single-ulp
  * divergence anywhere fails loud — these kernels sit inside queries whose
  * outputs the DuckDB oracle hashes.
  */
object DecimalFastSpec {
  /** The builtin fold decimal_vector_dot replaced: decimal(30,15) terms,
    * exact decimal accumulation, double out. */
  def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
        (p, q) => (p * q).cast("decimal(30,15)")),
      lit(0).cast("decimal(32,15)"),
      (acc, e) => (acc + e).cast("decimal(32,15)")).cast("double")
}

class DecimalFastSpec extends SparkSpec {
  import spark.implicits._
  import DecimalFastSpec.foldDot

  private val rnd = new java.util.Random(0xD2C1)

  private def assertMatches(d: Double, s: Int): Unit = {
    val want = DecimalFast.refTerm(d, s).unscaledValue()
    assert(want.bitLength() < 64, s"test value $d out of Long range at scale $s")
    val got = DecimalFast.scaledLong(d, s)
    assert(got == want.longValueExact(),
      s"scaledLong($d, $s) = $got, reference ${want.longValueExact()} " +
        s"(toString=${java.lang.Double.toString(d)})")
  }

  test("scaledLong == BigDecimal.valueOf().setScale(HALF_UP) on random doubles, both scales") {
    var n = 0
    while (n < 400000) {
      // raw-bit doubles cover every exponent/mantissa class; keep the ones
      // inside each scale's guard
      val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (java.lang.Double.isFinite(d)) {
        if (math.abs(d) < DecimalFast.Fast10) assertMatches(d, 10)
        if (math.abs(d) < DecimalFast.Fast15) assertMatches(d, 15)
        n += 1
      }
    }
    // uniform-log magnitudes concentrate on the decision-rich range the
    // raw-bit sweep undersamples (|d| near 1, where scale-15 rounding cuts
    // mid-mantissa), plus float-widened doubles — the actual input class
    var i = 0
    while (i < 400000) {
      val mag = math.pow(10.0, rnd.nextDouble() * 24 - 20) // 1e-20 .. 1e4
      val d = (if (rnd.nextBoolean()) 1 else -1) * rnd.nextDouble() * mag
      if (math.abs(d) < DecimalFast.Fast10) assertMatches(d, 10)
      if (math.abs(d) < DecimalFast.Fast15) assertMatches(d, 15)
      val f = rnd.nextFloat() * (if (rnd.nextBoolean()) 1 else -1)
      assertMatches(f.toDouble, 10)
      assertMatches(f.toDouble, 15)
      i += 1
    }
  }

  test("scaledLong adversarial values: zeros, subnormals, midpoints, guard edges") {
    val cases = Seq(
      0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 0.5, 1.5e-15, 2.5e-15, -2.5e-15,
      5e-16, -5e-16, 4.999999999999999e-16, 5.000000000000001e-16,
      1e-15, 1e-16, 1e-17, 4.9e-324, -4.9e-324, 1.0e-310, -1.0e-310,
      java.lang.Double.MIN_NORMAL, math.nextDown(DecimalFast.Fast15),
      8999.9999999999999, 8999.5, 123.4567890123456789, // 17-digit repr
      1.0000000000000005, -1.0000000000000005, // HALF_UP digit exactly 5
      0.30000000000000004, 0.1f.toDouble, 0.2f.toDouble, 0.3f.toDouble,
      1234.5678f.toDouble, 1e-7, 1.2345678e-5, 100.0, 1e3, 8191.999755859375,
      math.nextDown(9.0e3), math.nextUp(-9.0e3))
    cases.foreach { d => assertMatches(d, 15) }
    (cases ++ Seq(math.nextDown(DecimalFast.Fast10), 8.99999999e8,
      123456789.0123, 899999999.5)).filter(d => math.abs(d) < DecimalFast.Fast10)
      .foreach { d => assertMatches(d, 10) }
    // exhaustive digit-boundary sweep: every scale-16 value near integer
    // multiples of 1e-15 (the exact HALF_UP midpoints at scale 15)
    var m = -50
    while (m <= 50) {
      val mid = new JBigDecimal(m).movePointLeft(16) // m·1e-16: every 0.5·1e-15 grid point
      val d = mid.doubleValue()
      if (math.abs(d) < DecimalFast.Fast15) assertMatches(d, 15)
      m += 1
    }
  }

  test("scaledLong overflow guard: out-of-range magnitudes throw, never corrupt") {
    intercept[ArithmeticException](DecimalFast.scaledLong(1e300, 10))
    intercept[ArithmeticException](DecimalFast.scaledLong(-9.3e9, 10))
    intercept[ArithmeticException](DecimalFast.scaledLong(9.3e4, 15))
  }

  /** The pre-r17.2 per-element BigDecimal loop, verbatim — the reference
    * `decimalDot15` must match bit-for-bit. */
  private def refDot15(x: ArrayData, y: ArrayData,
                       leftFloat: Boolean, rightFloat: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = JBigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val p = (if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)) *
        (if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i))
      if (!java.lang.Double.isFinite(p)) return null
      acc = acc.add(DecimalFast.refTerm(p, 15))
      i += 1
    }
    java.lang.Double.valueOf(acc.doubleValue())
  }

  /** The builtin per-element sums decimal_vector_sum replaced. */
  private def columnSums(vec: Column, dim: Int): Seq[Column] =
    (0 until dim).map(i => sum(vec.getItem(i).cast("double").cast("decimal(27,10)")))

  /** ext/Similarity.embeddingOutliers (k = 5, 64 dims) with its two kernels
    * as parameters. */
  private def embOutliersWith(embeddings: DataFrame, dot: (Column, Column) => Column,
                              sums: Column => Column): DataFrame = {
    val x = col("embedding")
    val centArr = embeddings.groupBy("label")
      .agg(count(lit(1)).as("__n"), sums(x).as("__sums"))
      .select(col("label"), array((0 until 64).map(i =>
        col("__sums").getItem(i).cast("double") / col("__n")): _*).as("__c"))
      .withColumn("__nc", dot(col("__c"), col("__c")))
    embeddings.join(broadcast(centArr), Seq("label"))
      .select(col("vec_id"), col("label"), graft.ops.Ops.rnd(
        dot(x, col("__c")) / sqrt(dot(x, x) * col("__nc")), 6).as("cos_to_centroid"))
      .withColumn("outlier_rank", row_number().over(Window.partitionBy("label")
        .orderBy(col("cos_to_centroid").asc, col("vec_id").asc)))
      .filter(col("outlier_rank") <= 5)
  }

  private def floatArr(xs: Seq[java.lang.Float]): GenericArrayData =
    new GenericArrayData(xs.toArray[Any])

  test("decimalDot15 == the pre-r17.2 BigDecimal loop on random and degenerate vectors") {
    var it = 0
    while (it < 2000) {
      val n = rnd.nextInt(80)
      val mk = () => floatArr((0 until n).map { _ =>
        if (rnd.nextInt(50) == 0) null
        else java.lang.Float.valueOf((rnd.nextFloat() * 200 - 100).toFloat)
      })
      val (x, y) = (mk(), mk())
      val fast = DecimalFast.decimalDot15(x, y, true, true)
      val ref = refDot15(x, y, true, true)
      assert(fast == ref, s"dot mismatch at iteration $it: $fast vs $ref")
      it += 1
    }
    // length mismatch and empty
    assert(DecimalFast.decimalDot15(floatArr(Seq(1.0f)), floatArr(Seq()), true, true) == null)
    assert(DecimalFast.decimalDot15(floatArr(Seq()), floatArr(Seq()), true, true) ==
      java.lang.Double.valueOf(0.0))
    // non-finite product nulls (matches ref)
    val inf = floatArr(Seq(java.lang.Float.MAX_VALUE, 1.0f))
    assert(DecimalFast.decimalDot15(inf, inf, true, true) ==
      refDot15(inf, inf, true, true))
  }

  test("decimalDot15 long-lane overflow escalates exactly; slow terms mix with fast") {
    // 3000 terms of ~8.99e3 → running scale-15 sum overflows a Long twice
    val big = new GenericArrayData(Array.fill[Any](3000)(
      java.lang.Double.valueOf(8999.999999)))
    val ones = new GenericArrayData(Array.fill[Any](3000)(
      java.lang.Double.valueOf(1.0)))
    assert(DecimalFast.decimalDot15(big, ones, false, false) ==
      refDot15(big, ones, false, false))
    // alternating fast (|p| < 9e3) and slow (|p| ≥ 9e3) terms, mixed signs
    val mixed = new GenericArrayData((0 until 500).map { i =>
      java.lang.Double.valueOf(if (i % 3 == 0) 12345.678 else if (i % 3 == 1) -8999.99 else 0.25)
    }.toArray[Any])
    val ones500 = new GenericArrayData(Array.fill[Any](500)(java.lang.Double.valueOf(1.0)))
    assert(DecimalFast.decimalDot15(mixed, ones500, false, false) ==
      refDot15(mixed, ones500, false, false))
  }

  test("embedding_outliers fast kernels == their builtin reference trees end-to-end on real embeddings") {
    val emb = core.Tables.embeddings(spark, sf0001)
    val fast = embOutliersWith(emb, call_function("decimal_vector_dot", _, _),
      call_function("decimal_vector_sum", _, lit(64)))
    val ref = embOutliersWith(emb, foldDot, v => array(columnSums(v, 64): _*))
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
      "the kernels and the builtin trees must produce identical embedding_outliers rows")
    val prod = ext.Similarity.embeddingOutliers(emb)
    assert(fast.exceptAll(prod).isEmpty && prod.exceptAll(fast).isEmpty,
      "the copy above must track the production query")
  }

  test("decimal_vector_sum == its builtin per-element decimal sums cell-exactly, incl. guard-crossing magnitudes") {
    // real embeddings (all inside the Fast10 guard) plus synthetic rows that
    // cross it (slow path) and overflow the Long running sum (escalation)
    val synth = Seq(
      (100, Seq(8.9e8f, -8.9e8f, 1.5f)),
      (100, Seq(8.9e8f, 8.9e8f, 2.5f)), // same element twice: Long-lane overflow
      (100, Seq(9.5e8f, 1.0e10f, -3.25f)), // beyond Fast10: slow path
      (101, Seq(0.125f, -0.25f, 0.0078125f))
    ).toDF("label", "embedding")
      .coalesce(1) // one buffer sees all of a label's terms, so update overflows
    val agg = synth.groupBy("label").agg(
      call_function("decimal_vector_sum", col("embedding"), lit(3)).as("fast"),
      array(columnSums(col("embedding"), 3): _*).as("ref"))
    val bad = agg.filter((0 until 3).map(i =>
      !(col("fast").getItem(i) <=> col("ref").getItem(i))).reduce(_ || _))
    assert(bad.count() == 0, "both sum lanes must equal the per-element decimal sums exactly")
  }
}
