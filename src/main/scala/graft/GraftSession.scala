package graft

import org.apache.spark.sql.SparkSession

/** The session of the command-line mains (Bench, Verify, DumpPlans,
  * tools.Profile): graft's extensions, `local[cpus]` with as many
  * shuffle partitions, UTC, AQE on, no UI, µs parquet timestamps and
  * WARN logging. Specs keep their own bare session (TestSpark), since
  * they install the extension rules explicitly. */
object GraftSession {

  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, else
    * every core of the machine. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def start(): SparkSession = {
    val spark = SparkSession.builder()
      // native functions + TopKPerGroup strategy + row_number rewrite
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // µs parquet timestamps (not INT96) so the DuckDB side reads the
      // same logical type it produces itself.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dailyMovingAvg's global window over the ≤1-row-per-day series is
    // documented-safe (EventOps.dailyMovingAvg scaladoc) but WindowExec
    // warns on every run — quiet exactly that logger. Catalyst strips
    // foldable partition keys, so a lit(0) partitionBy cannot silence
    // it at the source.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
