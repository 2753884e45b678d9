package graft

/** Dumps `explain("formatted")` for every `SparkEntry.queries` entry to
  * one file per query — the plan evidence the optimization rounds cite
  * (plans/r17/<query>_before.txt / _after.txt).
  *
  *   sbt "runMain graft.DumpPlans /root/testdata/sf0.1 /tmp/plans"
  *
  * Optional third arg: comma-separated query-name filter. The session
  * is Bench's ([[GraftSession]]: extensions, shuffle partitions = cpus,
  * AQE on) so the dumped plans are the ones the bench actually runs —
  * modulo AQE's runtime re-optimization, which `explain` cannot show
  * before execution (the initial plan still carries join strategies,
  * Exchange placement, and PushedFilters).
  *
  * Each file is [[normalize]]d, so two runs of one commit write the same
  * bytes and a before/after diff shows only plan changes — except for
  * the `Expand` group order (gid numbering) of the distinct aggregates
  * in `g_test_type_dow`, `simhash_invariants`,
  * `table_profile_approx_audit`, `table_profile_events` and
  * `type_dow_mutual_info`, which Spark picks differently between runs. A query whose plan fails is named
  * on stderr and makes the run exit 1.
  */
object DumpPlans {

  /** Per-file renumbering of the ids a plan string takes from JVM-wide
    * counters — expression ids (`doc_id#345L`), plan ids
    * (`[plan_id=22790]`), subquery ids (`[id=#14363]`) and RDD ids
    * (`MapPartitionsRDD[911]`) — in order of first appearance; a fixed
    * token for JVM lambda class names and addresses
    * (`$$Lambda/0x…@1a2b3c`); and no line number in call sites
    * (`localCheckpoint at DedupOps.scala:992`), which shift with any
    * edit above them. */
  def normalize(plan: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex,
        put: Int => String): String = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        put(seen.getOrElseUpdate(m.group(1), seen.size + 1))))
    }
    val exprIds = renumber(plan, """(?<=[\w)\]`])#(\d+)""".r, i => s"#$i")
    val planIds = renumber(exprIds, """plan_id=(\d+)""".r, i => s"plan_id=$i")
    val subqueryIds = renumber(planIds, """\[id=#(\d+)\]""".r, i => s"[id=#$i]")
    val rddIds = renumber(subqueryIds, """(?<=RDD)\[(\d+)\]""".r, i => s"[$i]")
    val lambdas = """\$\$Lambda[^\s,)\]]*""".r.replaceAllIn(rddIds,
      scala.util.matching.Regex.quoteReplacement("$$Lambda<fn>"))
    """(\w\.scala):\d+""".r.replaceAllIn(lambdas, "$1")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.start()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // optional 4th arg "exec" (r18): run the query through the
          // noop sink first and dump the EXECUTED plan — AQE decides
          // exchange/stage reuse only at runtime, so ReusedExchange /
          // ReusedQueryStage nodes are invisible in the static
          // formatted plan; reuse claims need this mode for evidence
          val txt =
            if (args.lift(3).contains("exec")) {
              // execute THIS QueryExecution (a noop write would spawn
              // its own) on the executors, rows discarded, then dump
              // the AQE-finalized plan
              df.queryExecution.toRdd.foreach(_ => ())
              df.queryExecution.executedPlan.toString
            } else df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name.txt"),
            normalize(txt).getBytes("UTF-8"))
        } catch {
          // NonFatal only (ADVICE r17): swallowing OOM/interrupts here
          // would produce a silently incomplete plan set that later
          // rounds cite as evidence — let fatal errors abort the run
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[plans] FAILED $name: ${e.getMessage}")
            failed += name
        }
      }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[plans] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
