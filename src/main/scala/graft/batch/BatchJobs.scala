package graft.batch

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.ops.{EventOps => _, _}

/** The reference's batch layer (`README.md:69-78` run book) as three
  * composable jobs over abstract storage: raw load → clean/dedup →
  * analytics. The reference moves data between stages through Postgres
  * tables (JDBC append/overwrite); here storage is a pluggable
  * reader/writer pair so tests use parquet dirs and production can use
  * JDBC with the same code.
  */
object BatchJobs {

  /** Storage abstraction: the reference's JDBC table store
    * (`df.write.mode(...).jdbc(...)`) generalized. `analytics` calls
    * `write` for different tables from concurrent threads. */
  trait TableStore {
    def read(table: String): DataFrame
    def write(table: String, df: DataFrame, mode: SaveMode): Unit
  }

  /** Parquet-backed store (the testable default). */
  final class ParquetStore(spark: org.apache.spark.sql.SparkSession,
      baseDir: String) extends TableStore {
    def read(table: String): DataFrame = spark.read.parquet(s"$baseDir/$table")
    def write(table: String, df: DataFrame, mode: SaveMode): Unit =
      df.write.mode(mode).parquet(s"$baseDir/$table")
  }

  /** JDBC-backed store — the reference's actual sink
    * (`src/batch_analytics.py:26-52`). Exercised end-to-end against
    * embedded Derby in JdbcStoreSpec (append, overwrite, read-back,
    * and the stage-3 seven-table fan-out). */
  final class JdbcStore(spark: org.apache.spark.sql.SparkSession,
      url: String, props: java.util.Properties) extends TableStore {
    def read(table: String): DataFrame = spark.read.jdbc(url, table, props)
    def write(table: String, df: DataFrame, mode: SaveMode): Unit =
      df.write.mode(mode).jdbc(url, table, props)
  }

  /** Stage 1 — backfill (= `batch_load_raw_fix.py`): parse raw JSON
    * payloads, trim/validity-filter, repair timestamps, append to
    * `toots_raw`. */
  def backfill(raw: DataFrame, store: TableStore): Unit = {
    val parsed = TootOps.parseJsonLines(raw)
    val cleaned = TootOps.cleanToots(parsed)
    store.write("toots_raw", TootOps.normalizeTimestamps(cleaned),
      SaveMode.Append)
  }

  /** Stage 2 — clean (= `batch_clean_historical.py`): dedup by id
    * keeping the latest `created_at`, overwrite `toots_clean`. */
  def clean(store: TableStore): Unit = {
    val raw = store.read("toots_raw")
    store.write("toots_clean", TootOps.dedupById(raw), SaveMode.Overwrite)
  }

  /** Stage 3 — analytics (= `batch_analytics.py`): cache the clean
    * table once, fan out to the seven aggregate tables. The seven
    * writes are independent and run concurrently ([[inParallel]]); the
    * first failure is rethrown once all have finished, and the clean
    * table is unpersisted only then. The
    * `coalesce(created_at, ingested_at)` mirrors
    * `batch_analytics.py:19`. */
  def analytics(store: TableStore, activeMin: Long = 5): Unit = {
    val clean = store.read("toots_clean")
      .withColumn("ts", coalesce(col("created_at"), col("ingested_at")))
      .cache()
    try {
      loadCache(clean)
      val hourly = clean.groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("toots"))
      val daily = clean.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("toots"))
      val userActivity = clean.groupBy("username")
        .agg(count(lit(1)).as("toot_count"))
      val active = userActivity.filter(col("toot_count") >= activeMin)
      val tagsPerDay = clean
        .select(to_date(col("ts")).as("day"),
          explode(col("hashtags")).as("hashtag"))
        .filter(trim(col("hashtag")) =!= "")
        .groupBy(col("day"), lower(col("hashtag")).as("hashtag"))
        .agg(count(lit(1)).as("cnt"))
      val topTagPerDay = {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("day")
          .orderBy(col("cnt").desc, col("hashtag").asc)
        tagsPerDay.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
      }
      val avgLen = clean.groupBy("username")
        .agg(avg(length(col("text"))).as("avg_len"))
      inParallel(Seq(
        "hourly_toot_counts" -> hourly,
        "daily_toot_counts" -> daily,
        "user_activity_counts" -> userActivity,
        "active_users_gtX" -> active,
        "hashtags_per_day_counts" -> tagsPerDay,
        "top_hashtag_per_day" -> topTagPerDay,
        "avg_toot_length_by_user_batch" -> avgLen,
      ).map { case (t, df) =>
        t -> (() => store.write(t, df, SaveMode.Overwrite)) })
    } finally { clean.unpersist(); () }
  }

  /** Fills the cache of `cached` with one job: the job AQE's table cache
    * stage runs for the first plan that scans an unloaded cache. Run
    * before a fan-out, it keeps each concurrent plan from finding the
    * cache unloaded and submitting that job again. */
  private def loadCache(cached: DataFrame): Unit =
    cached.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.cachedColumnBuffers
    }.foreach { rdd =>
      cached.sparkSession.sparkContext.runJob(rdd, (_: Iterator[_]) => ())
      ()
    }

  /** Runs every task at once, one new thread each, and returns when all
    * have finished; then rethrows the first failure in task order (a
    * fatal error before any other), the rest attached as suppressed.
    * The threads are created per call so that each inherits the
    * caller's SparkContext local properties (job group, scheduler
    * pool, job description) and active session. */
  private def inParallel(tasks: Seq[(String, () => Unit)]): Unit = {
    val errors = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case ((name, body), i) =>
      val t = new Thread(() =>
        try body() catch { case e: Throwable => errors(i) = e },
        s"graft-batch-$name")
      t.start()
      t
    }
    // wait out an interrupt too: the caller's `finally` may free what
    // the tasks still read
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val failed = errors.filter(_ != null)
    failed.find(e => !NonFatal(e)).orElse(failed.headOption).foreach { e =>
      failed.filter(_ ne e).foreach(e.addSuppressed)
      throw e
    }
  }

  /** Right-to-be-forgotten cascade (GDPR art. 17 over a lake): scrub
    * every trace of `usernames` from the base tables, then REBUILD the
    * derived gold tables from the scrubbed silver — user-keyed
    * aggregates can only forget by recomputation, and content-derived
    * ones (hashtag counts) must drop the erased user's contributions
    * too. Lake deletion IS a rewrite: each base table is anti-joined
    * and rewritten through a `__scrub` staging table (a parquet path
    * cannot be overwritten while it is being read; a real table format
    * would rewrite only the files whose min/max span the targets —
    * the semantic is the same). Verification is part of the
    * operation: returns one row per username-bearing table with its
    * remaining trace count — the compliance evidence, all zeros. */
  def forget(store: TableStore, usernames: Seq[String],
      activeMin: Long = 5): DataFrame = {
    require(usernames.nonEmpty, "forget: empty erasure list")
    val base = Seq("toots_raw", "toots_clean")
    for (t <- base) {
      val scrubbed = store.read(t)
        .filter(!col("username").isin(usernames: _*))
      store.write(t + "__scrub", scrubbed, SaveMode.Overwrite)
      store.write(t, store.read(t + "__scrub"), SaveMode.Overwrite)
    }
    analytics(store, activeMin)
    val userTables = base ++ Seq("user_activity_counts",
      "active_users_gtX", "avg_toot_length_by_user_batch")
    userTables.map { t =>
      store.read(t).filter(col("username").isin(usernames: _*))
        .agg(count(lit(1)).as("n_remaining"))
        .select(lit(t).as("table"), col("n_remaining"))
    }.reduce(_ unionByName _)
  }
}
