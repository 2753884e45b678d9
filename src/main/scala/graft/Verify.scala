package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/compare_oracle.py). Every query that throws is named in
  * failed.json (query → first message line) beside oracle_sql.json,
  * and any failure makes the run exit 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter (same contract as Bench) for
    // cheap single-query oracle pre-flights while iterating.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        // DuckDB produces naive (NTZ) timestamps; Spark's TimestampType
        // writes as UTC-adjusted. Cast so the oracle compare sees the
        // same logical type and wall-clock values (session tz is UTC).
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types.TimestampType
        val cols = out.schema.fields.map { f =>
          if (f.dataType == TimestampType)
            col(f.name).cast("timestamp_ntz").as(f.name)
          else col(f.name)
        }
        out.select(cols.toSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failed.json"), obj(failed))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
