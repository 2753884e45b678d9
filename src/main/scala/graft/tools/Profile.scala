package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job/per-stage wall-clock profiler for one or more SparkEntry
  * queries — the empirical side of guide §1 ("decide whether the time
  * is going to shuffle read, shuffle write, executor compute...")
  * without the UI, which Bench disables.
  *
  *   sbt "runMain graft.tools.Profile ips_policy_value[,more]"
  *
  * Runs each query twice (warm-up + measured) on Bench's session
  * ([[graft.GraftSession]]) and prints, for the measured run: every job's
  * wall-clock and stage list, plus every stage's task-time sum, input
  * bytes/records and shuffle bytes. Job count × scheduling latency is
  * the hidden cost this exposes — a "tiny stats" query that runs 15
  * jobs (one per broadcast subtree, each re-scanning the corpus) shows
  * up here as 15 rows where one would do. */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("").split(",").map(_.trim)
      .filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.start()

    case class JobRec(id: Int, start: Long, var end: Long = 0L,
      var stages: Seq[Int] = Nil)
    case class StageRec(id: Int, name: String, taskTimeMs: Long,
      inputBytes: Long, inputRecords: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, numTasks: Int, gcMs: Long)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) jobs.synchronized {
          jobs(js.jobId) = JobRec(js.jobId, js.time,
            stages = js.stageIds)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (record) jobs.synchronized {
          jobs.get(je.jobId).foreach(_.end = je.time)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) stages.synchronized {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stages(si.stageId) = StageRec(si.stageId, si.name,
            m.executorRunTime, m.inputMetrics.bytesRead,
            m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, si.numTasks, m.jvmGCTime)
        }
    })

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      // warm-up (JIT + codegen, matches Bench methodology)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      jobs.clear(); stages.clear()
      record = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(300) // let listener drain
      println(f"==== $name%s: wall ${wall}%.3f s, ${jobs.size}%d jobs, ${stages.size}%d stages ====")
      jobs.values.toSeq.sortBy(_.id).foreach { j =>
        val dur = (j.end - j.start) / 1000.0
        println(f"  job ${j.id}%3d  ${dur}%7.3f s  stages=${j.stages.mkString(",")}")
      }
      stages.values.toSeq.sortBy(-_.taskTimeMs).take(12).foreach { s =>
        println(f"  stage ${s.id}%3d taskTime=${s.taskTimeMs}%6d ms gc=${s.gcMs}%5d tasks=${s.numTasks}%3d " +
          f"in=${s.inputBytes / 1024}%7d KiB/${s.inputRecords}%8d rows " +
          f"shR=${s.shuffleReadBytes / 1024}%6d KiB shW=${s.shuffleWriteBytes / 1024}%6d KiB  ${s.name.take(60)}%s")
      }
    }
    spark.stop()
  }
}
