package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lints every `SparkEntry.oracleSql` string for the two DuckDB
  * HUGEINT-widening paths that have each cost a round a red row
  * (r7 `shard_assignments`; the SparkEntry header convention exists
  * because of earlier ones):
  *
  *   1. an integer `sum(...)` whose result can reach the output
  *      un-CAST — DuckDB widens `sum(BIGINT)` (plain or windowed) to
  *      HUGEINT, which breaks the driver's hash canonicalization
  *      against Spark's LONG;
  *   2. a `//` floor-division whose result is not wrapped in a CAST —
  *      `HUGEINT // int` stays HUGEINT.
  *
  * The rule is deliberately stricter than "only outputs matter":
  * EVERY `sum(` must be immediately disciplined (enclosed by `cast(`
  * or `round(`, or summing an explicit `AS DOUBLE` expression, or an
  * explicitly allowlisted float column), and EVERY `//` must sit
  * inside a `cast(`. Casting intermediates is semantically free and
  * keeps the lint a scanner instead of a SQL type-checker.
  */
class OracleLintSpec extends AnyFunSuite {

  /** Columns that are DOUBLE in the driver parquet schema — summing
    * them never widens to HUGEINT, so a bare `sum(col)` is fine
    * (float-stability rounding is a separate, existing convention). */
  // `a.x * b.x` is embedding_covariance's Gram product — both factors
  // are the CTE's explicit `CAST(... AS DOUBLE)` column, same as bare x.
  private val doubleColumns =
    Set("value", "x", "y", "l2", "cos", "v", "a.x * b.x")

  /** Blank out single-quoted SQL string literals (preserving length so
    * reported positions stay valid): regex patterns inside them carry
    * parens and `//` that would corrupt the paren stack / false-flag. */
  private def maskLiterals(s: String): String = {
    val b = s.toCharArray
    var i = 0
    var in = false
    while (i < b.length) {
      if (b(i) == '\'') {
        if (in && i + 1 < b.length && b(i + 1) == '\'') { b(i) = ' '; b(i + 1) = ' '; i += 1 }
        else in = !in
      } else if (in) b(i) = ' '
      i += 1
    }
    new String(b)
  }

  /** For each occurrence of `needle` in `sql`, the lowercased names of
    * the calls enclosing it (innermost last) and the argument text of
    * the needle's own parens (empty for non-call needles like `//`).
    * Call needles (ending in `(`) only match at word boundaries, so
    * `sum(` does not match `list_sum(`. */
  private def occurrences(sql: String, needle: String)
      : Seq[(Int, Seq[String], String)] = {
    val s = maskLiterals(sql.toLowerCase)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Seq[String], String)]
    def nextMatch(start: Int): Int = {
      var f = s.indexOf(needle, start)
      while (f > 0 && needle.endsWith("(") &&
          (s.charAt(f - 1).isLetterOrDigit || s.charAt(f - 1) == '_'))
        f = s.indexOf(needle, f + 1)
      f
    }
    var from = nextMatch(0)
    while (from >= 0) {
      val stack = occurrencesEnclosing(s, from)
      // argument extent of the needle's own parens, if it is a call
      val arg =
        if (needle.endsWith("(")) {
          var depth = 1
          var k = from + needle.length
          while (k < s.length && depth > 0) {
            s.charAt(k) match {
              case '(' => depth += 1
              case ')' => depth -= 1
              case _ =>
            }
            k += 1
          }
          s.substring(from + needle.length, math.max(from + needle.length, k - 1))
        } else ""
      out += ((from, stack, arg))
      from = nextMatch(from + 1)
    }
    out.toSeq
  }

  private def sumViolations(sql: String): Seq[Int] =
    occurrences(sql, "sum(").collect {
      case (pos, enclosing, arg)
          if !enclosing.exists(n => n == "cast" || n == "round") &&
            !arg.contains("as double") &&
            // DECIMAL sums stay DECIMAL (no HUGEINT path); every such
            // oracle casts the decimal to DOUBLE downstream
            !arg.contains("as decimal") &&
            // an EXPLICIT HUGEINT sum is the exact-moment idiom
            // (cuped/wasserstein): deliberately 128-bit, consumed via
            // a downstream CAST — the widening is the point, not the
            // bug this lint hunts
            !arg.contains("as hugeint") &&
            !doubleColumns.contains(arg.trim) =>
        pos
    }

  private def floorDivViolations(sql: String): Seq[Int] =
    occurrences(sql, "//").collect {
      case (pos, enclosing, _) if !enclosing.contains("cast") => pos
    }

  test("registry names are distinct; a repeated name throws") {
    // The r15 lesson: a second "pmi_collocations" Map entry replaced
    // the original query without any error — a Map literal keeps the
    // last binding. The registry is a Seq of records whose names are
    // checked when it is built; the canary proves that check fires.
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    val r = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.registryOf(Seq(r, new SparkEntry.Query(r.name, r.build, None))))
    assert(e.getMessage.contains(r.name), e.getMessage)
  }

  test("every oracle sum( is CAST/round-disciplined or explicitly double") {
    val bad = for {
      (name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      pos <- sumViolations(sql)
    } yield s"$name: un-disciplined sum( at char $pos — DuckDB widens " +
      "integer sum to HUGEINT; wrap in CAST(... AS BIGINT) or round(), " +
      "or sum an explicit `AS DOUBLE` cast"
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("every oracle // floor-division result is inside a CAST") {
    val bad = for {
      (name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      pos <- floorDivViolations(sql)
    } yield s"$name: // at char $pos not inside CAST(...) — a HUGEINT " +
      "operand keeps // HUGEINT; wrap as CAST(a // b AS BIGINT)"
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  private def valuesLiteralViolations(sql: String): Seq[Int] = {
    // inside a VALUES(...) row constructor, a bare decimal literal is
    // DECIMAL(p,s) in DuckDB, not DOUBLE — same type-drift class as
    // the HUGEINT sums (caught live in review of ann_top1_audit)
    val s = maskLiterals(sql.toLowerCase)
    "\\d+\\.\\d+".r.findAllMatchIn(s).collect {
      case m if {
        val enclosing = occurrencesEnclosing(s, m.start)
        enclosing.contains("values") && !enclosing.contains("cast")
      } => m.start
    }.toSeq
  }

  /** Enclosing call names for an arbitrary position (shared scanner). */
  private def occurrencesEnclosing(s: String, pos: Int): Seq[String] = {
    val stack = scala.collection.mutable.Stack.empty[String]
    var i = 0
    while (i < pos) {
      s.charAt(i) match {
        case '(' =>
          var j = i - 1
          while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
          val end = j
          while (j >= 0 && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j -= 1
          stack.push(s.substring(j + 1, end + 1))
        case ')' => if (stack.nonEmpty) stack.pop()
        case _ =>
      }
      i += 1
    }
    stack.toSeq
  }

  test("VALUES decimal literals are CAST (DuckDB types them DECIMAL, not DOUBLE)") {
    val bad = for {
      (name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
      pos <- valuesLiteralViolations(sql)
    } yield s"$name: bare decimal literal in VALUES at char $pos — " +
      "DuckDB types it DECIMAL(p,s); wrap in CAST(x AS DOUBLE)"
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    // regression canary: the pre-fix ann_top1_audit shape fails
    assert(valuesLiteralViolations(
      "SELECT * FROM (VALUES ('brute', CAST(1 AS BIGINT), 1.0)) t(a, b, c)")
      .nonEmpty)
    assert(valuesLiteralViolations(
      "SELECT * FROM (VALUES ('brute', CAST(1.0 AS DOUBLE))) t(a, b)").isEmpty)
  }

  test("rows-only queries are a pinned allowlist, each with a named gate") {
    // The correctness gate is the DuckDB oracle; a query without one
    // is acceptable ONLY when its result is seed/sketch/reduction-
    // order-bound AND a paired hash-gated audit (or recall-gate spec)
    // covers it. This pins that set: a new query silently landing
    // without an oracle fails here, as does an allowlist entry whose
    // named audit oracle has been dropped.
    val pairedGate = Map(
      "approx_distinct_users_daily" -> "approx_distinct_audit",
      "bloom_decontaminate" -> "bloom_contamination_audit",
      "compression_signals" -> "compression_audit",
      "knn_lsh" -> "ann_top1_audit",
      "knn_ivf" -> "knn_ivf_pinned",
      "knn_all_lsh" -> "ann_batch_recall_audit",
      "knn_all_ivf" -> "ann_batch_recall_audit",
      "simhash_fingerprints" -> "simhash_invariants",
      "simhash_near_dups" -> "simhash_exactdup_audit",
      "table_profile_approx" -> "table_profile_approx_audit",
      "value_mad_by_type_approx_only" -> "value_mad_by_type_approx",
      "frequent_event_sequences" -> "prefixspan_contiguous_audit",
      // merge-order-bound compactor values; the error CONTRACT is the
      // hash-gated theorem row
      "kll_value_quantiles" -> "kll_rank_bound_audit",
    )
    val rowsOnly =
      SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly == pairedGate.keySet,
      s"rows-only drift: unexpected=${rowsOnly -- pairedGate.keySet} " +
        s"missing=${pairedGate.keySet -- rowsOnly}")
    val missingGates = pairedGate.filterNot { case (_, gate) =>
      SparkEntry.oracleSql.contains(gate)
    }
    assert(missingGates.isEmpty,
      s"paired audit oracle(s) gone: $missingGates")
  }

  /** Non-atomic (Array/Map/Struct) output columns of a frame — the
    * driver's pandas harness cannot sort them (r15's one red row,
    * embedding_sign_codes: "unhashable type: numpy.ndarray"). */
  private def nestedColumns(df: org.apache.spark.sql.DataFrame)
      : Seq[String] = {
    import org.apache.spark.sql.types._
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq
  }

  test("every hash-gated query ships an atomic-only output schema " +
      "(the driver's pandas sort dies on nested types — r15 red row)") {
    // canary first: the lint must flag a deliberate array-output frame
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val fixture = spark.range(1)
      .select(col("id"), array(lit(1L), lit(2L)).as("code"))
    assert(nestedColumns(fixture) == Seq("code: array<bigint>"))
    // then the registry: every queries entry WITH an oracle (rows-only
    // entries are internal/audit-paired and may keep nested forms)
    val sf = "/root/testdata/sf0.001"
    val bad = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      if SparkEntry.oracleSql.contains(name)
      colDesc <- nestedColumns(fn(spark, sf))
    } yield s"$name -> $colDesc"
    assert(bad.isEmpty, "hash-gated queries with non-atomic output " +
      "columns (scalarize them — the driver harness rejects nested " +
      "types):" + bad.mkString("\n  ", "\n  ", ""))
  }

  test("the lint catches both bug classes that caused red rows") {
    // round-7 shard_assignments: un-CAST // on a window-sum column
    val r7 = "WITH c AS (SELECT sum(n_chars) OVER (ORDER BY doc_id) " +
      "- n_chars AS cum_excl FROM documents) " +
      "SELECT cum_excl // 10000 AS shard_id FROM c"
    assert(floorDivViolations(r7).nonEmpty)
    assert(sumViolations(r7).nonEmpty)
    // earlier class: bare integer sum straight to output
    assert(sumViolations("SELECT sum(n_chars) AS total FROM documents").nonEmpty)
    // disciplined forms pass
    assert(sumViolations(
      "SELECT CAST(sum(n_chars) AS BIGINT) AS total FROM documents").isEmpty)
    assert(sumViolations(
      "SELECT round(sum(CAST(v AS DOUBLE)), 4) AS s FROM t").isEmpty)
    assert(floorDivViolations(
      "SELECT CAST(a // 7 AS BIGINT) AS q FROM t").isEmpty)
  }
}
