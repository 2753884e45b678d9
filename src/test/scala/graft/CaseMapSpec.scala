package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import graft.functions.{CaseMap, GraftExtensions}

/** `graft_lower`/`graft_upper` against Spark's own ICU `lower`/`upper`
  * (the shared session carries no extensions, so `lower` there is
  * Spark's), row for row, compiled and interpreted; and the rewrite
  * rule `GraftExtensions` installs: where it fires and where it must
  * not. */
class CaseMapSpec extends SparkSpec {
  import spark.implicits._

  private val samples: Seq[(String, Array[Byte])] = Seq(
    "ascii" -> "Hello, World 123 #Tag_x".getBytes(UTF_8),
    "latin1" -> "Ærøskøbing ÉTÉ façade Ñandú ÿ µ".getBytes(UTF_8),
    "final sigma" -> "ΑΣ ΟΔΟΣ Σ σ".getBytes(UTF_8),
    "dotted and dotless i" -> "İstanbul DİYARBAKIR ıi".getBytes(UTF_8),
    "sharp s" -> "Straße ß".getBytes(UTF_8),
    "ligature" -> "ﬁle ﬂow".getBytes(UTF_8),
    "emoji" -> "Ok 👍🏽 🎉 ǅ".getBytes(UTF_8),
    // truncated 2- and 3-byte sequences and a stray 0xFF
    "invalid utf-8" -> Array(0x41, 0xC3, 0x28, 0xFF, 0x62, 0xE2, 0x82)
      .map(_.toByte),
    "empty" -> Array.emptyByteArray,
    "null" -> null)

  // read back from parquet, so the projections run in the engine, not in
  // the optimizer's local-relation folding
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("casemap").toString
    samples.toDF("id", "b").write.mode("overwrite").parquet(d)
    d
  }
  private def strings: DataFrame =
    spark.read.parquet(dir).select(col("id"), col("b").cast("string").as("s"))

  private def graftLower(c: Column): Column =
    ColumnShim.column(CaseMap(ColumnShim.expression(c), toUpper = false))
  private def graftUpper(c: Column): Column =
    ColumnShim.column(CaseMap(ColumnShim.expression(c), toUpper = true))

  /** The optimizer rules of `GraftExtensions`, on the shared session. */
  private def withGraftRules[T](f: => T): T = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = ColumnShim.optimizerRules(ext, spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev ++ rules
    try f finally spark.experimental.extraOptimizations = prev
  }

  private def caseMaps(plan: LogicalPlan): (Int, Int) = {
    val es = plan.collect { case p => p.expressions }.flatten
    (es.map(_.collect { case _: Lower | _: Upper => 1 }.size).sum,
      es.map(_.collect { case _: CaseMap => 1 }.size).sum)
  }

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
      "NO_CODEGEN" -> "false"))
    test(s"graft_lower/graft_upper equal Spark's ICU lower/upper ($mode)") {
      withConfs("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        val rows = strings.select(col("id"),
            lower(col("s")), graftLower(col("s")),
            upper(col("s")), graftUpper(col("s")))
          .as[(String, Option[String], Option[String], Option[String],
            Option[String])].collect()
        assert(rows.map(_._1).sorted.toSeq == samples.map(_._1).sorted)
        for ((id, sl, gl, su, gu) <- rows) {
          assert(gl == sl, s"lower of $id")
          assert(gu == su, s"upper of $id")
        }
        val byId = rows.map(r => r._1 -> r).toMap
        // the ICU mappings, not the ASCII path: one-to-many and context
        assert(byId("sharp s")._5.contains("STRASSE SS"))
        assert(byId("final sigma")._3.contains("ας οδος σ σ"))
        assert(byId("invalid utf-8")._3.exists(_.contains("�")))
        assert(byId("null")._3.isEmpty && byId("null")._5.isEmpty)
        assert(byId("empty")._3.contains(""))
      }
    }

  test("not a CodegenFallback; explain names graft_lower and graft_upper") {
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen
      .CodegenFallback].isAssignableFrom(classOf[CaseMap]))
    val plan = strings.select(graftLower(col("s")), graftUpper(col("s")))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_lower(s#") && plan.contains("graft_upper(s#") &&
      !plan.contains(", false)") && !plan.contains(", true)"), plan)
  }

  test("GraftExtensions rewrites every lower/upper, DataFrame and SQL") {
    val expected = strings.select(col("id"), lower(col("s")), upper(col("s")))
      .collect().map(_.toString).sorted.toSeq
    withGraftRules {
      val df = strings.select(col("id"), lower(col("s")), upper(col("s")))
      assert(caseMaps(df.queryExecution.optimizedPlan) == ((0, 2)),
        df.queryExecution.optimizedPlan)
      assert(df.collect().map(_.toString).sorted.toSeq == expected)
      // column names are fixed at analysis: unchanged by the rewrite
      assert(df.columns.toSeq == Seq("id", "lower(s)", "upper(s)"))

      strings.createOrReplaceTempView("casemap_strings")
      val sql = spark.sql("SELECT id, upper(s) AS u FROM casemap_strings " +
        "WHERE lower(s) <> '' GROUP BY id, upper(s)")
      val (nSpark, nGraft) = caseMaps(sql.queryExecution.optimizedPlan)
      assert(nSpark == 0 && nGraft >= 2, sql.queryExecution.optimizedPlan)
      assert(sql.count() == samples.size - 2) // empty and null drop out
    }
  }

  test("the rewrite leaves other collations and the conf-off path alone") {
    withGraftRules {
      val lcase = strings.select(
        lower(expr("collate(s, 'UTF8_LCASE')")), upper(col("s")))
      assert(caseMaps(lcase.queryExecution.optimizedPlan) == ((1, 1)),
        lcase.queryExecution.optimizedPlan)
      withConfs("spark.sql.icu.caseMappings.enabled" -> "false") {
        val jvm = strings.select(lower(col("s")), upper(col("s")))
        assert(caseMaps(jvm.queryExecution.optimizedPlan) == ((2, 0)),
          jvm.queryExecution.optimizedPlan)
      }
    }
  }
}
