package graft

import org.apache.spark.sql.functions._
import graft.functions.RoundHalfUp

/** `graft_round` must be BIT-IDENTICAL to Spark's `round` on doubles —
  * it replaces `round(x, 4)` inside the O(n²) pair loops (r17
  * optimization: Spark's Round allocates Double.toString + BigDecimal
  * per value), so any divergence silently corrupts hash-gated scores.
  * The kernel is exercised three ways: a pure-JVM reference sweep over
  * adversarial values (exact half-boundaries at every scale, ±, the
  * guard band, huge/tiny magnitudes), random fuzz, and a DataFrame
  * comparison that runs the CODEGEN path against Spark's own round. */
class RoundHalfUpSpec extends SparkSpec {
  import spark.implicits._

  private def ref(x: Double, s: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  test("kernel matches BigDecimal reference on adversarial boundaries") {
    val cases = scala.collection.mutable.ArrayBuffer.empty[Double]
    // exact half boundaries k + 0.5 in units of 10^-s, both signs,
    // including the 58.55575 true-half documented in the verify skill
    for (s <- Seq(0, 2, 4, 6, 10); k <- Seq(0L, 1L, 7L, 123L, 999999L)) {
      val u = math.pow(10.0, -s)
      cases += (k + 0.5) * u
      cases += -(k + 0.5) * u
    }
    cases += 58.55575
    cases += -58.55575
    cases += 0.0
    cases += -0.0
    cases += 1e-300
    cases += -1e-300
    cases += 4.0e15
    cases += 9.9e15
    cases += 1e18
    cases += Double.MaxValue
    cases += Double.MinPositiveValue
    // values straddling the guard band around .5 at 4dp
    for (d <- Seq(-1e-13, -1e-15, 0.0, 1e-15, 1e-13))
      cases += 1.19005 + d
    for (s <- Seq(0, 2, 4, 6, 10, 15); x <- cases) {
      val got = RoundHalfUp.roundD(x, s)
      val want = ref(x, s)
      assert(same(got, want), s"scale=$s x=$x got=$got want=$want")
    }
    // non-finite passthrough
    for (s <- Seq(0, 4)) {
      assert(RoundHalfUp.roundD(Double.NaN, s).isNaN)
      assert(RoundHalfUp.roundD(Double.PositiveInfinity, s).isPosInfinity)
      assert(RoundHalfUp.roundD(Double.NegativeInfinity, s).isNegInfinity)
    }
  }

  test("kernel matches reference on 200k random doubles") {
    val rng = new scala.util.Random(7)
    var i = 0
    while (i < 200000) {
      // mix: uniform [-2, 2] (cosine range), exponential-magnitude,
      // and raw random bit patterns (filtered to finite)
      val x = (i % 3) match {
        case 0 => rng.nextDouble() * 4.0 - 2.0
        case 1 => (rng.nextDouble() - 0.5) *
          math.pow(10.0, rng.nextInt(24) - 12)
        case _ => java.lang.Double.longBitsToDouble(rng.nextLong())
      }
      if (!x.isNaN && !x.isInfinite) {
        val s = Seq(0, 2, 4, 6, 10)(i % 5)
        val got = RoundHalfUp.roundD(x, s)
        val want = ref(x, s)
        assert(same(got, want), s"scale=$s x=$x got=$got want=$want")
      }
      i += 1
    }
  }

  test("DataFrame codegen path matches Spark's round bit-for-bit") {
    val rng = new scala.util.Random(13)
    val xs = (0 until 20000).map { i =>
      if (i % 7 == 0) (i / 7) * 0.00005 // exact 4dp half boundaries
      else rng.nextDouble() * 4.0 - 2.0
    }
    val df = xs.toDF("x")
    val bad = df.select(
        round(col("x"), 4).as("spark4"),
        RoundHalfUp.roundFused(col("x"), 4).as("graft4"),
        round(col("x"), 6).as("spark6"),
        RoundHalfUp.roundFused(col("x"), 6).as("graft6"))
      .filter(col("spark4") =!= col("graft4") ||
        col("spark6") =!= col("graft6"))
      .count()
    assert(bad == 0L)
  }

  test("SQL scale outside [0, 15] fails with the usage string") {
    // built through the registered builder, as a SQL call would be —
    // the shared test session carries no extensions (the CosineSimSpec
    // registry pattern)
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val build = org.apache.spark.sql.graft.ColumnShim
      .registerFunctions(ext, FunctionRegistry.builtin.clone())
      .lookupFunctionBuilder(FunctionIdentifier("graft_round")).get
    assert(build(Seq(Literal(1.25), Literal(15))).eval(null) == 1.25)
    for (bad <- Seq(16, 20, -1)) {
      val e = intercept[IllegalArgumentException] {
        build(Seq(Literal(1.25), Literal(bad)))
      }
      assert(e.getMessage.contains("graft_round(x, scale)") &&
        e.getMessage.contains("[0, 15]"), e.getMessage)
    }
  }

  test("null propagates; not a CodegenFallback") {
    val out = Seq[Option[Double]](None).toDF("x")
      .select(RoundHalfUp.roundFused(col("x"), 4)).collect()
    assert(out.head.isNullAt(0))
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen
      .CodegenFallback].isAssignableFrom(classOf[RoundHalfUp]))
  }
}
