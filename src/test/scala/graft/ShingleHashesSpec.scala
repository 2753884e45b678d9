package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ShingleHashes
import graft.ops.DedupOps

/** `graft_shingle_hashes` against the relational shingle-set form it
  * replaces — `sort_array(collect_set(xxhash64(sh)))` over
  * `DedupOps.shingleRows` — on the sf0.001 documents and on edge-case
  * fixtures, for k = 1..5, compiled and interpreted; and the SQL
  * builder's argument checks. */
class ShingleHashesSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[(Long, String)] = Seq(
    1L -> null,
    2L -> "",
    3L -> "   ",
    4L -> "two words",
    5L -> "a b a b a b a b a b", // repeated shingles
    6L -> "tab\tseparated\nand new\r\nlines  here\t\tnow",
    7L -> "\t leading tab and trailing space ",
    8L -> "Café STRASSE straße naïve ÉTÉ",
    9L -> "emoji 👍🏽 🎉 mixed 👍🏽 🎉 in text",
    10L -> "中文 文本 的 分词 测试 中文 文本",
    11L -> "the quick brown fox jumps over the lazy dog the quick brown fox")

  // read back from parquet, so the projections run in the engine, not in
  // the optimizer's local-relation folding
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("shingles").toString
    texts.toDF("doc_id", "text").write.mode("overwrite").parquet(d)
    d
  }
  private def fixtures: DataFrame = spark.read.parquet(dir)

  /** The relational per-doc set of one token-array column. */
  private def relational(t: Column, k: Int): Column =
    sort_array(array_distinct(transform(
      DedupOps.shinglesFromTokens(t, k), s => xxhash64(s))))

  private def sets(df: DataFrame): Map[Long, Seq[Long]] =
    df.as[(Long, Seq[Long])].collect().toMap

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
      "NO_CODEGEN" -> "false"))
    test(s"equals sorted distinct xxhash64 of shingleRows on sf0.001 ($mode)") {
      withConfs("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        val docs = Tables.documents(spark, sf0)
        for (k <- 1 to 5) {
          val want = sets(DedupOps.shingleRows(docs, k)
            .groupBy("doc_id")
            .agg(sort_array(collect_set(xxhash64(col("sh")))).as("hs")))
          val got = sets(docs.select(col("doc_id"),
            DedupOps.shingleSet(col("text"), k).as("hs")))
          assert(want.nonEmpty)
          // a doc with no shingle has no shingleRows row: the empty set
          assert(got.filter(_._2.nonEmpty) == want, s"k=$k")
          assert(got.size == docs.count(), s"k=$k: one set per document")
        }
      }
    }

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
      "NO_CODEGEN" -> "false"))
    test(s"edge-case fixtures, k = 1..5 ($mode)") {
      withConfs("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        for (k <- 1 to 5) {
          val rows = fixtures
            .select(col("doc_id"), DedupOps.tokens(col("text")).as("t"))
            .select(col("doc_id"), ShingleHashes.shingleHashes(col("t"), k),
              relational(col("t"), k))
            .as[(Long, Seq[Long], Seq[Long])].collect()
          assert(rows.map(_._1).sorted.toSeq == texts.map(_._1))
          for ((id, got, want) <- rows)
            assert(got == want, s"doc $id, k=$k")
          val byId = rows.map(r => r._1 -> r._2).toMap
          assert(byId(1L).isEmpty, "null text")
          if (k >= 3) assert(byId(4L).isEmpty, "fewer than k tokens")
          // "a b a b ..." has exactly two distinct k-grams at every k
          assert(byId(5L).size == 2, s"k=$k")
          assert(byId(11L) == byId(11L).sorted.distinct)
        }
      }
    }

  test("a null token is skipped inside its k-gram, as concat_ws does") {
    val t = array(lit("a"), lit(null).cast("string"), lit("b"), lit("c"),
      lit(null).cast("string"), lit(null).cast("string"), lit("d"))
    val df = spark.range(1).select(t.as("t"))
    for (k <- 1 to 5) {
      val Array((got, want)) = df
        .select(ShingleHashes.shingleHashes(col("t"), k), relational(col("t"), k))
        .as[(Seq[Long], Seq[Long])].collect()
      assert(got == want, s"k=$k")
    }
  }

  test("explain names graft_shingle_hashes; not a CodegenFallback") {
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen
      .CodegenFallback].isAssignableFrom(classOf[ShingleHashes]))
    val plan = fixtures.select(DedupOps.shingleSet(col("text"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_shingle_hashes("), plan)
  }

  test("SQL form rejects a bad arity or k with its usage string") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val build = org.apache.spark.sql.graft.ColumnShim
      .registerFunctions(ext, FunctionRegistry.builtin.clone())
      .lookupFunctionBuilder(FunctionIdentifier("graft_shingle_hashes")).get
    val tokens = Literal.create(Seq("a", "b", "c"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    assert(build(Seq(tokens, Literal(2))).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() == 2)
    val usage = "graft_shingle_hashes(tokens, k)"
    for (bad <- Seq(Seq(tokens), Seq(tokens, Literal(3), Literal(3)),
        Seq(tokens, Literal(0)), Seq(tokens, Literal(-2)),
        Seq(tokens, Literal("3")))) {
      val e = intercept[IllegalArgumentException](build(bad))
      assert(e.getMessage.contains(usage), e.getMessage)
    }
  }
}
