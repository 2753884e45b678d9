package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering the engine's native functions, e.g.
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * making `graft_cosine(a, b)` available to SQL and `expr()` in every
  * session — the proper production wiring; `CosineSim.register` is the
  * ad-hoc per-session alternative. It also installs the optimizer rules
  * [[graft.plans.TopKRewrite]] and [[CaseMapRewrite]] (`lower`/`upper`
  * → the native `graft_lower`/`graft_upper`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.{checkArity, foldableInt}

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_cosine", "graft_cosine(a, b)", exprs, 2)
        CosineSim(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_dot", "graft_dot(a, b)", exprs, 2)
        DotProduct(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLength].getName, "graft_deflate_len"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_deflate_len", "graft_deflate_len(text)", exprs, 1)
        DeflateLength(exprs(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName,
        "graft_jaro_winkler"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_jaro_winkler", "graft_jaro_winkler(a, b)",
          exprs, 2)
        JaroWinklerSim(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_pq_block_l2"),
      new ExpressionInfo(classOf[PqBlockL2].getName, "graft_pq_block_l2"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_pq_block_l2", "graft_pq_block_l2(e, c, b, m)",
          exprs, 4)
        PqBlockL2(exprs(0), exprs(1), exprs(2), exprs(3))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_normal_tail"),
      new ExpressionInfo(classOf[NormalTailExpr].getName,
        "graft_normal_tail"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_normal_tail", "graft_normal_tail(x)", exprs, 1)
        NormalTailExpr(exprs(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "graft_lsh_bucket"),
      (exprs: Seq[Expression]) => GraftExtensions.buildLshBucket(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_winnow(text, k, w)"
        checkArity("graft_winnow", usage, exprs, 3)
        WinnowFingerprints(exprs(0),
          foldableInt(usage, "k", exprs(1)),
          foldableInt(usage, "w", exprs(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName,
        "graft_shingle_hashes"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_shingle_hashes(tokens, k)"
        checkArity("graft_shingle_hashes", usage, exprs, 2)
        val k = foldableInt(usage, "k", exprs(1))
        if (k < 1) throw new IllegalArgumentException(
          s"$usage: k must be >= 1, got $k")
        ShingleHashes(exprs(0), k)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName,
        "graft_normalize"),
      (exprs: Seq[Expression]) => UnicodeNormalize.buildSql(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_build"),
      new ExpressionInfo(classOf[BitmapBuild].getName, "graft_bitmap_build"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_bitmap_build(id, maxId)"
        checkArity("graft_bitmap_build", usage, exprs, 2)
        BitmapBuild(exprs(0), foldableInt(usage, "maxId", exprs(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_cardinality"),
      new ExpressionInfo(classOf[BitmapCardinality].getName,
        "graft_bitmap_cardinality"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_bitmap_cardinality(blob, maxId)"
        checkArity("graft_bitmap_cardinality", usage, exprs, 2)
        BitmapCardinality(exprs(0), foldableInt(usage, "maxId", exprs(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_build"),
      new ExpressionInfo(classOf[KllBuild].getName, "graft_kll_build"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_kll_build(value, k)"
        checkArity("graft_kll_build", usage, exprs, 2)
        KllBuild(exprs(0), foldableInt(usage, "k", exprs(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_merge"),
      new ExpressionInfo(classOf[KllMerge].getName, "graft_kll_merge"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_kll_merge(blob, k)"
        checkArity("graft_kll_merge", usage, exprs, 2)
        KllMerge(exprs(0), foldableInt(usage, "k", exprs(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "graft_kll_quantile"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_kll_quantile(blob, q)"
        checkArity("graft_kll_quantile", usage, exprs, 2)
        KllQuantile(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_n"),
      new ExpressionInfo(classOf[KllN].getName, "graft_kll_n"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_kll_n", "graft_kll_n(blob)", exprs, 1)
        KllN(exprs(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[HammingDist].getName, "graft_hamming"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_hamming", "graft_hamming(a, b)", exprs, 2)
        HammingDist(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_round"),
      new ExpressionInfo(classOf[RoundHalfUp].getName, "graft_round"),
      (exprs: Seq[Expression]) => {
        val usage = "graft_round(x, scale)"
        checkArity("graft_round", usage, exprs, 2)
        val scale = foldableInt(usage, "scale", exprs(1))
        if (scale < 0 || scale > 15) throw new IllegalArgumentException(
          s"$usage: scale must be in [0, 15], got $scale")
        RoundHalfUp(exprs(0), scale)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_err_bound"),
      new ExpressionInfo(classOf[KllErrBound].getName,
        "graft_kll_err_bound"),
      (exprs: Seq[Expression]) => {
        checkArity("graft_kll_err_bound", "graft_kll_err_bound(blob)",
          exprs, 1)
        KllErrBound(exprs(0))
      }))
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectOptimizerRule(_ => CaseMapRewrite)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

  /** Analysis-friendly arity guard — a wrong-arity SQL call gets the
    * usage string, not a raw IndexOutOfBoundsException. */
  private[functions] def checkArity(name: String, usage: String,
      exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n arguments but got ${exprs.length}; usage: $usage")

  /** Constant-parameter extraction: any FOLDABLE integral expression
    * resolves (`8`, `8L`, `CAST(8 AS TINYINT)`, `4 + 4`), not just bare
    * int literals; anything else gets a targeted error. */
  private[functions] def foldableInt(usage: String, arg: String,
      e: Expression): Int = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType if e.foldable =>
      e.eval() match {
        case n: Number if n.longValue() == n.intValue() => n.intValue()
        case bad => throw new IllegalArgumentException(
          s"$usage: $arg must be a constant int, got $bad")
      }
    case _ => throw new IllegalArgumentException(
      s"$usage: $arg must be a foldable integral literal, got $e")
  }

  /** Shared builder for the SQL registration paths (extensions and
    * [[LshBucket.register]]). */
  private[functions] def buildLshBucket(exprs: Seq[Expression]): Expression = {
    val usage = "graft_lsh_bucket(v, planes)"
    checkArity("graft_lsh_bucket", usage, exprs, 2)
    LshBucket(exprs(0), foldableInt(usage, "planes", exprs(1)))
  }
}
