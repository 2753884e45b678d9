package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/** Wall clock in epoch nanoseconds, comparable across processes. */
object Clock {
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

/** One timed interval at a layer boundary. `parent` is the index of the
  * enclosing span in the same thread, -1 at the top. */
final case class Span(name: String, op: Long, parent: Int, start: Long,
    end: Long)

/** Span recorder kept in memory and written out when the run ends. When
  * off, `span` runs its body and records nothing. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, op: Long)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.synchronized {
        spans += Span(name, op, stack.get.headOption.getOrElse(-1),
          Clock.epochNs(), 0L)
        spans.size - 1
      }
      stack.set(idx :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        spans.synchronized { spans(idx) = spans(idx).copy(end = Clock.epochNs()) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)
}

/** Task and job counters summed per key. A job's key is its job group
  * when the benchmark set one (`op-<id>-<phase>`), else `batch-<n>` for
  * the jobs of streaming micro-batch n, else `other`. The table scans of
  * a finished SQL execution count under the key of its jobs. */
final class JobCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, waitMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, scanBytes, scanRows = 0L
  }
  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val execKey = mutable.HashMap.empty[Long, String]
  private val BatchRe = """(?s).*batch = (\d+).*""".r

  private def keyOf(p: java.util.Properties): String = {
    val group = Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val desc = Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
    group.filter(_.startsWith("op-")).getOrElse(desc match {
      case Some(BatchRe(n)) => s"batch-$n"
      case _ => "other"
    })
  }

  private def acc(k: String) = accs.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    acc(k).jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execKey(id.toLong) = k)
    e.stageInfos.foreach(s => stageKey(s.stageId) = k)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val k = stageKey.getOrElse(e.stageInfo.stageId, keyOf(e.properties))
      acc(k).stages += 1
      e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageKey.getOrElse(e.stageId, "other"))
    a.tasks += 1
    stageSubmit.get(e.stageId).foreach(s =>
      a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, Map[String, Long]] = synchronized {
    accs.map { case (k, a) => k -> Map(
      "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "wait_ms" -> a.waitMs,
      "gc_ms" -> a.gcMs, "shuffle_write" -> a.shuffleWrite,
      "shuffle_read" -> a.shuffleRead, "spill" -> a.spill,
      "scan_bytes" -> a.scanBytes, "scan_rows" -> a.scanRows) }.toMap
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      for (k <- execKey.remove(end.executionId);
           qe <- Option(org.apache.spark.sql.PerfbenchBus.query(end))) {
        val (bytes, rows) = Scans.measure(qe.executedPlan)
        acc(k).scanBytes += bytes
        acc(k).scanRows += rows
      }
    }
    case _ =>
  }
}

/** Per-trigger progress of the streaming query: batch id, input rows,
  * source end offset and the trigger phase durations. */
final class StreamProgress extends StreamingQueryListener {
  final case class P(batchId: Long, rows: Long, endOffset: Long,
      durations: Map[String, Long])
  private val buf = mutable.ArrayBuffer.empty[P]
  private val Digits = """\d+""".r

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(Digits.findFirstIn).map(_.toLong).getOrElse(-1L)
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    buf.synchronized { buf += P(p.batchId, p.numInputRows, end, d); () }
  }

  def all: Seq[P] = buf.synchronized(buf.toSeq)
}

/** Table bytes and rows read by the file scans of a finished plan: per
  * parquet file the compressed size of the column chunks of the columns
  * the scan needs (row groups skipped by pushed filters still count), per
  * other file its length; rows as the scans output them. Task input
  * metrics cannot stand in: parquet's vectored reads run outside the task
  * thread, so a task's `bytesRead` holds little more than the footers. */
object Scans extends AdaptiveSparkPlanHelper {
  private val conf = new Configuration()
  private val chunks = mutable.HashMap.empty[String, Map[String, Long]]

  private def columnBytes(file: String): Map[String, Long] =
    chunks.getOrElseUpdate(file, {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .groupMapReduce(_.getPath.toArray.head.toLowerCase)(_.getTotalSize)(_ + _)
      finally r.close()
    })

  def measure(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    scans.map { s =>
      val cols = s.requiredSchema.fieldNames.map(_.toLowerCase).toSet
      val parquet = s.relation.fileFormat.isInstanceOf[ParquetFileFormat]
      val bytes = s.relation.location.inputFiles.toSeq.map { f =>
        if (parquet) columnBytes(f).collect { case (c, n) if cols(c) => n }.sum
        else new Path(f).getFileSystem(conf).getFileStatus(new Path(f)).getLen
      }.sum
      (bytes, s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }.foldLeft((0L, 0L)) { case ((b, r), (b1, r1)) => (b + b1, r + r1) }
  }
}
