package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: the set-up, the timed workload,
  * then (untimed) the outputs the checks read and, when tracing, the
  * probes of the layers the workload does not drive. The raw record goes
  * to `<work>/result.json`; `run.py` turns it into metrics and checks the
  * outputs.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * work (scratch dir), data (tables dir), stream (stream corpus), corpus
  * (batch corpus), probe-corpus (the traced batch probe's corpus) and
  * launched-ns (epoch ns the JVM was launched at). The workload sizes
  * are the constants of `Queries` and `Ingest`; the task-slot count is
  * the number of processors the JVM may use.
  */
object Main {
  private var args: Map[String, String] = Map.empty
  def arg(k: String): String = args.getOrElse(k,
    throw new IllegalArgumentException(s"missing --$k"))
  def dataDir: String = arg("data")

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def session(slots: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val traced = arg("trace") == "1"
    val seconds = arg("seconds").toDouble
    val slots = Runtime.getRuntime.availableProcessors
    val work = arg("work")
    val report = mutable.LinkedHashMap.empty[String, Any]
    report("slots") = slots

    val streamLines: Array[String] =
      if (workload == "ingest" || traced)
        scala.io.Source.fromFile(arg("stream"), "UTF-8").getLines().toArray
      else Array.empty
    val openEvents = (Ingest.Rate * Ingest.OpenShare * seconds).toInt
    if (workload == "ingest")
      require(streamLines.length >= Ingest.WarmupLines + openEvents +
        Ingest.Backlogs * Ingest.BacklogLines, "stream corpus too short")

    // ---- set-up: from the JVM's launch to the first timed op ----
    val t0 = arg("launched-ns").toLong
    val t1 = Clock.epochNs()
    val spark = session(slots, work)
    val t2 = Clock.epochNs()
    var ingest: Ingest = null
    workload match {
      case "ingest" =>
        ingest = new Ingest(spark, new Tracer(false), streamLines,
          s"$work/ingest")
      case _ => Queries.resolveTables(spark)
    }
    val t3 = Clock.epochNs()
    workload match {
      case "ingest" =>
        ingest.addUntil(Ingest.WarmupLines)
        ingest.awaitCommitted(Ingest.WarmupLines)
      case _ => Queries.warm(spark)
    }
    val t4 = Clock.epochNs()
    report("setup_s") = (t4 - t0) / 1e9
    // [to the session, session, tables or stream start, warm-up]
    report("setup_parts_s") = Seq(t1 - t0, t2 - t1, t3 - t2, t4 - t3).map(_ / 1e9)

    val tracer = new Tracer(traced)
    val counters = new JobCounters
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      if (ingest != null) ingest.stop()
      // the traced stream needs the traced appender: restart it in place
      if (workload == "ingest") {
        ingest = new Ingest(spark, tracer, streamLines, s"$work/ingest-traced")
        ingest.addUntil(Ingest.WarmupLines)
        ingest.awaitCommitted(Ingest.WarmupLines)
      }
    }
    val runner = new OpRunner(spark, tracer)

    // ---- timed window ----
    val cpu0 = cpuBean.getProcessCpuTime
    val w0 = Clock.epochNs()
    workload match {
      case "dashboard" =>
        val rounds = math.max(1, math.round(seconds / Queries.RoundS).toInt)
        for (r <- 0 until rounds;
             q <- new scala.util.Random(seed * 1000 + r).shuffle(Queries.dashboard))
          runner.query(q)
      case "prep" =>
        Batch.run(spark, runner, arg("corpus"), s"$work/store")
        for (q <- Queries.prep) runner.query(q, Some(s"$work/out"))
      case "ingest" =>
        report("ingest") = openLoopAndBacklog(ingest, openEvents) +
          ("sink_dir" -> (if (traced) "ingest-traced" else "ingest"))
    }
    val w1 = Clock.epochNs()
    val cpu1 = cpuBean.getProcessCpuTime
    report("window_s") = (w1 - w0) / 1e9
    report("cpu_s") = (cpu1 - cpu0) / 1e9
    // a collected checkpoint or broadcast frees its blocks only after the
    // context cleaner has seen it go: collect, let the cleaner run, collect
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    report("retained_heap_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    report("ops") = runner.ops.map(opJson)

    // ---- outputs for the checks (untimed) ----
    workload match {
      case "dashboard" => Queries.writeResults(spark, Queries.dashboard, s"$work/out")
      case _ =>
    }
    if (workload != "ingest")
      report("oracle") = graft.SparkEntry.oracleSql.filter { case (k, _) =>
        new java.io.File(s"$work/out/$k").exists }

    // ---- traced extras: probes of the layers this workload does not drive ----
    if (traced) {
      val probe = new OpRunner(spark, tracer, firstId = 100000L)
      if (workload == "ingest") Queries.warmup.foreach(q => probe.query(q))
      if (workload != "prep") {
        Batch.run(spark, probe, arg("probe-corpus"), s"$work/probe-store")
        report("probe_ops") = probe.ops.map(opJson)
        report("store_bytes") = dirBytes(new java.io.File(s"$work/probe-store"))
      } else report("store_bytes") = dirBytes(new java.io.File(s"$work/store"))
      if (workload != "ingest") {
        ingest = new Ingest(spark, tracer, streamLines, s"$work/probe-stream")
        for (k <- 1 to 4) {
          ingest.addUntil(k * Ingest.ProbeChunk)
          ingest.awaitCommitted(k * Ingest.ProbeChunk)
        }
      }
      report("stream") = streamJson(ingest)
      ingest.stop()
      report("kernels") = Kernels.run(spark, seed)
      org.apache.spark.sql.PerfbenchBus.drain(spark.sparkContext)
      report("groups") = counters.snapshot
      report("spans") = tracer.all.map(s =>
        Seq(s.name, s.op, s.parent, s.start, s.end))
    } else if (ingest != null) ingest.stop()

    spark.stop()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/result.json"), Json(report))
  }

  private def opJson(o: Op): Map[String, Any] = Map("id" -> o.id,
    "name" -> o.name, "kind" -> o.kind, "start" -> o.start, "end" -> o.end,
    "error" -> o.error.orNull)

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  private def streamJson(in: Ingest): Map[String, Any] = Map(
    "batches" -> in.batches.map { case (p, commit) => Map(
      "batch" -> p.batchId, "rows" -> p.rows, "end_offset" -> p.endOffset,
      "commit" -> commit, "durations" -> p.durations) },
    "sink_writes" -> in.sinkWrites.map { case (t, f, b) => Seq(t, f, b) })

  /** Open loop at a fixed rate, then fixed backlogs released at once. */
  private def openLoopAndBacklog(in: Ingest, n: Int): Map[String, Any] = {
    val rate = Ingest.Rate.toDouble
    val first = in.sent
    val t0 = Clock.epochNs() + 20000000L
    def due(i: Int): Long = t0 + (i * 1e9 / rate).toLong
    val late = mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < n) {
      val now = Clock.epochNs()
      val upTo = math.min(n, ((now - t0) * rate / 1e9).toLong + 1).toInt
      if (upTo > i) {
        late += now - due(i)
        in.addUntil(first + upTo)
        i = upTo
      } else Thread.sleep(5)
    }
    in.awaitCommitted(first + n)
    val openBatches = in.batches
    val latencies = (0 until n).map { k =>
      val off = in.offsetOf(first + k)
      val commit = openBatches.find(_._1.endOffset >= off).get._2
      (commit - due(k)) / 1e9
    }
    val backlog = Ingest.BacklogLines
    val drains = (1 to Ingest.Backlogs).map { _ =>
      val start = in.sent
      val a0 = Clock.epochNs()
      in.addUntil(start + backlog)
      in.awaitCommitted(start + backlog)
      val off = in.offsetOf(start + backlog - 1)
      (in.batches.find(_._1.endOffset >= off).get._2 - a0) / 1e9
    }
    val sortedLate = late.sorted
    Map("events" -> n, "rate" -> Ingest.Rate, "latencies_s" -> latencies,
      "open_s" -> (openBatches.last._2 - t0) / 1e9,
      "lateness_max_s" -> sortedLate.last / 1e9,
      "lateness_p50_s" -> sortedLate(sortedLate.size / 2) / 1e9,
      "backlog_rows" -> backlog, "drain_s" -> drains,
      "lines" -> in.sent)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
