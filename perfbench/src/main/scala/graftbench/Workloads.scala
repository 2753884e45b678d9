package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkEntry
import graft.batch.BatchJobs
import graft.ops.TootOps
import graft.streaming.StreamJob

/** One timed operation. `kind` is `query` (build, plan, execute) or
  * `batch` (a BatchJobs stage). */
final case class Op(id: Long, name: String, kind: String, start: Long,
    end: Long, error: Option[String])

/** Runs operations, records their times, and in a traced run tags their
  * Spark jobs with a job group per phase and records a span per layer. */
final class OpRunner(spark: SparkSession, val tracer: Tracer,
    firstId: Long = 0L) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = firstId

  private def phase[T](id: Long, ph: String)(body: => T): T = {
    if (tracer.on) spark.sparkContext.setJobGroup(s"op-$id-$ph", ph, false)
    try tracer.span(ph, id)(body)
    finally if (tracer.on) spark.sparkContext.clearJobGroup()
  }

  private def timed(name: String, kind: String)(body: Long => Unit): Op = {
    nextId += 1
    val id = nextId
    val t0 = Clock.epochNs()
    val err =
      try { tracer.span(s"$kind:$name", id)(body(id)); None }
      catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val op = Op(id, name, kind, t0, Clock.epochNs(), err)
    ops += op
    op
  }

  /** Build `name`'s DataFrame, plan it, and execute it: into the `noop`
    * sink, or as parquet under `outDir` when given, the plan unchanged.
    * Planning is forced apart from execution only when tracing. */
  def query(name: String, outDir: Option[String] = None): Op =
    timed(name, "query") { id =>
      val df = phase(id, "ops.build")(SparkEntry.queries(name)(spark, Main.dataDir))
      if (tracer.on) phase(id, "plans.plan")(df.queryExecution.executedPlan)
      phase(id, "exec.run")(outDir match {
        case None => df.write.format("noop").mode(SaveMode.Overwrite).save()
        case Some(d) => df.write.mode(SaveMode.Overwrite).parquet(s"$d/$name")
      })
    }

  def batch(name: String)(body: => Unit): Op = timed(name, "batch") { id =>
    phase(id, "exec.run")(body)
  }
}

object Queries {
  /** Seconds of `--seconds` per round of the dashboard queries. */
  val RoundS = 2.5

  /** Heavy data-prep queries of `prep`, after the batch stages; their
    * results are written as they are, so none may have a timestamp
    * column (the check compares naive timestamps). */
  val prep: Seq[String] = Seq("jaccard_prefix_pairs")

  /** Short queries, where per-query fixed cost dominates: one client in a
    * closed loop. */
  val dashboard: Seq[String] = Seq("user_activity", "active_users",
    "latest_per_user", "daily_counts", "hourly_counts",
    "minute_window_counts", "hashtag_counts", "exact_dup_groups",
    "tpch_q6", "tpch_q14")

  /** Fixed warm-up of the query workloads' set-up, and the query probe of
    * a traced `ingest` run. */
  val warmup: Seq[String] = Seq("tpch_q6", "user_activity", "daily_counts")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolve every input table once, as a long-lived session would. */
  def resolveTables(spark: SparkSession): Unit = tables.foreach {
    case "events" => graft.Tables.events(spark, Main.dataDir)
    case t => graft.Tables.table(spark, Main.dataDir, t)
  }

  def warm(spark: SparkSession): Unit = warmup.foreach { q =>
    SparkEntry.queries(q)(spark, Main.dataDir)
      .write.format("noop").mode(SaveMode.Overwrite).save()
  }

  /** A result as the output check reads it: timestamps as naive
    * timestamps (the oracle's type). */
  def forCheck(out: DataFrame): DataFrame =
    out.select(out.schema.fields.toSeq.map { f =>
      if (f.dataType == org.apache.spark.sql.types.TimestampType)
        col(f.name).cast("timestamp_ntz").as(f.name)
      else col(f.name)
    }: _*)

  /** Write each query's result where the output check reads it, four
    * queries at a time. */
  def writeResults(spark: SparkSession, names: Seq[String], outDir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.distinct.map { q =>
      pool.submit(new Runnable {
        def run(): Unit =
          try forCheck(SparkEntry.queries(q)(spark, Main.dataDir))
            .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$q")
          catch { case NonFatal(e) => System.err.println(s"[perfbench] $q: $e") }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}

object Ingest {
  /** Events per second offered by the open-loop generator. */
  val Rate = 2000
  /** Open-loop seconds per second of `--seconds`. */
  val OpenShare = 0.5
  /** Lines of the fixed streaming warm-up. */
  val WarmupLines = 1000
  /** Rows of one backlog release, and the releases per run. */
  val BacklogLines = 30000
  val Backlogs = 2
  /** Lines per batch of the traced stream probe (four batches). */
  val ProbeChunk = 2500
}

/** The production streaming path over an in-memory source: JSON lines →
  * `TootOps.parseJsonLines` → `StreamJob.prepare` → `StreamJob.start`
  * with `StreamJob.parquetAppender` sinks. */
final class Ingest(spark: SparkSession, tracer: Tracer, lines: Array[String],
    dir: String) {
  // one partition per task slot: without a count, the source makes one
  // partition (and one task) per `addData` call
  private val input = MemoryStream[String](
    spark.sparkContext.defaultParallelism)(
    org.apache.spark.sql.Encoders.STRING, spark.sqlContext)
  val progress = new StreamProgress
  spark.streams.addListener(progress)
  /** Epoch ns at which the sinks of each non-empty batch committed. */
  val commits = mutable.ArrayBuffer.empty[Long]
  /** Per sink call: (table, files, bytes) it added, when tracing. */
  val sinkWrites = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var calls = 0L
  private val base = StreamJob.parquetAppender(s"$dir/sinks")

  private def dirSize(t: String): (Long, Long) = {
    val fs = Option(new java.io.File(s"$dir/sinks/$t").listFiles())
      .getOrElse(Array.empty).filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.length.toLong, fs.map(_.length).sum)
  }

  private val appender: StreamJob.Appender = (table, df) => {
    val before = if (tracer.on) dirSize(table) else (0L, 0L)
    tracer.span(s"sink:$table", calls / 3)(base(table, df))
    if (tracer.on) {
      val after = dirSize(table)
      sinkWrites += ((table, after._1 - before._1, after._2 - before._2))
    }
    calls += 1
    if (calls % 3 == 0) commits.synchronized { commits += Clock.epochNs(); () }
  }

  private val query = StreamJob.start(
    StreamJob.prepare(TootOps.parseJsonLines(input.toDF())),
    appender, s"$dir/checkpoint")
  private var added = 0
  /** End line (exclusive) of each `addData` call; the source's offset
    * counts these calls, not lines. */
  private val chunkEnds = mutable.ArrayBuffer.empty[Int]

  def sent: Int = added

  /** Add lines [added, until) to the source in one call. */
  def addUntil(until: Int): Unit = {
    input.addData(lines.slice(added, until).toSeq)
    chunkEnds += until
    added = until
  }

  /** Source offset of the `addData` call that carried `line`. */
  def offsetOf(line: Int): Long = {
    val i = java.util.Arrays.binarySearch(chunkEnds.toArray, line + 1)
    (if (i >= 0) i else -i - 1).toLong
  }

  /** Wait until the batch holding line `n - 1` has committed. */
  def awaitCommitted(n: Int, timeoutS: Double = 120): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    val target = offsetOf(n - 1)
    while (!progress.all.exists(_.endOffset >= target)) {
      if (query.exception.isDefined) throw query.exception.get
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"stream did not commit line ${n - 1}")
      Thread.sleep(1)
    }
  }

  /** Non-empty batches in order, each with its commit time. */
  def batches: Seq[(StreamProgress#P, Long)] = {
    val ps = progress.all.filter(_.rows > 0).sortBy(_.batchId)
    val cs = commits.synchronized(commits.toSeq)
    require(ps.size == cs.size,
      s"${ps.size} non-empty batches but ${cs.size} sink commits")
    ps.zip(cs)
  }

  def stop(): Unit = {
    query.stop()
    spark.streams.removeListener(progress)
  }
}

/** Native kernels, each called standalone on a generated cached frame. */
object Kernels {
  def run(spark: SparkSession, seed: Long, rows: Int = 200000): Map[String, Double] = {
    def floats(s: Long) = array((1 to 64).map(i =>
      (rand(s * 1000 + i) - 0.5).cast("float")): _*)
    def longs(s: Long) = sort_array(array_distinct(array((1 to 40).map(i =>
      (rand(s * 1000 + i) * 200).cast("long")): _*)))
    val words = array(("a the data spark stream batch table column row " +
      "key value join merge group agg filter scan sort hash window vector " +
      "query order line part customer small big fast slow").split(" ")
      .toSeq.map(lit): _*)
    val text = concat_ws(" ", array((1 to 40).map(i =>
      element_at(words, (rand(seed * 1000 + 500 + i) * 30 + 1).cast("int"))): _*))
    val df = spark.range(rows).select(floats(seed).as("a"),
      floats(seed + 1).as("b"), longs(seed + 2).as("la"),
      longs(seed + 3).as("lb"), rand(seed + 4).as("x"), text.as("t"))
      .cache()
    df.count()
    val kernels = Seq(
      "graft_overlap" -> graft.functions.SortedOverlapCount.overlapFused(
        col("la"), col("lb")),
      "graft_cosine" -> expr("graft_cosine(a, b)"),
      "graft_dot" -> expr("graft_dot(a, b)"),
      "graft_round" -> expr("graft_round(x, 4)"),
      "graft_lsh_bucket" -> expr("graft_lsh_bucket(a, 16)"),
      "graft_winnow" -> expr("graft_winnow(t, 5, 4)"))
    try kernels.map { case (name, k) =>
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.select(k.as("k")).write.format("noop").mode(SaveMode.Overwrite).save()
        (System.nanoTime() - t0).toDouble / rows
      }
      name -> reps.sorted.apply(1)
    }.toMap
    finally { df.unpersist(); () }
  }
}

/** BatchJobs over a parquet store: backfill → clean → analytics. */
object Batch {
  def run(spark: SparkSession, runner: OpRunner, corpus: String,
      storeDir: String): Unit = {
    val inner = new BatchJobs.ParquetStore(spark, storeDir)
    val t = runner.tracer
    val store = new BatchJobs.TableStore {
      def read(table: String): DataFrame =
        t.span(s"store.read:$table", -1)(inner.read(table))
      def write(table: String, df: DataFrame, mode: SaveMode): Unit =
        t.span(s"store.write:$table", -1)(inner.write(table, df, mode))
    }
    val raw = spark.read.text(corpus)
    for ((name, body) <- Seq[(String, () => Unit)](
        "backfill" -> (() => BatchJobs.backfill(raw, store)),
        "clean" -> (() => BatchJobs.clean(store)),
        "analytics" -> (() => BatchJobs.analytics(store)))) {
      val op = runner.batch(name)(body())
      // a later stage reads what an earlier one wrote: stop at a failure
      if (op.error.isDefined) return
    }
  }
}
