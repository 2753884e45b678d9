package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.batch.BatchJobs

/** End-to-end bronze→silver→gold over a ParquetStore, mirroring the
  * reference's batch chain (`batch_load_raw_fix` → `batch_clean_historical`
  * → `batch_analytics`). */
class BatchJobsSpec extends SparkSpec {
  import spark.implicits._

  private def toot(id: Long, ts: String, user: String, text: String,
      tags: String = "\"t1\", \"t2\"") =
    s"""{"id": $id, "created_at": "$ts", "language": "en", "text": "$text",
       |"hashtags": [$tags], "user_id": 1, "username": "$user",
       |"display_name": null, "favourites": 0, "reblogs": 0, "replies": 0,
       |"url": "u$id"}""".stripMargin.replaceAll("\n", " ")

  test("backfill → clean → analytics produces the 7 gold tables") {
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    val store = new BatchJobs.ParquetStore(spark, dir)
    val raw = Seq(
      toot(1, "2025-10-07 10:00:00", "leo", "first post"),
      toot(1, "2025-10-07 12:00:00", "leo", "first post EDITED"), // dup id
      toot(2, "2025-10-07 13:30:00", "demo", "hello there"),
      toot(3, "2025-10-10 09:00:00", "demo", "second day"),
      "not json at all", // malformed line → dropped by cleanToots
    ).toDF("value")

    BatchJobs.backfill(raw, store)
    assert(store.read("toots_raw").count() == 4)

    BatchJobs.clean(store)
    val clean = store.read("toots_clean")
    assert(clean.count() == 3) // dedup kept latest of id=1
    assert(clean.filter(col("id") === 1).select("text")
      .as[String].head() == "first post EDITED")
    assert(clean.columns.contains("ingested_at")) // the phantom column

    BatchJobs.analytics(store, activeMin = 2)
    assert(store.read("user_activity_counts").count() == 2)
    val active = store.read("active_users_gtX")
      .select("username").as[String].collect().toSet
    assert(active == Set("demo")) // 2 toots ≥ 2; leo deduped to 1
    val daily = store.read("daily_toot_counts")
      .select(col("day").cast("string"), col("toots"))
      .as[(String, Long)].collect().toMap
    assert(daily == Map("2025-10-07" -> 2L, "2025-10-10" -> 1L))
    val topTag = store.read("top_hashtag_per_day")
    assert(topTag.count() == 2) // one winning hashtag per day
    assert(topTag.select("hashtag").as[String].collect().forall(_ == "t1"))
  }

  test("forget: erasure cascades through base AND rebuilt gold tables, " +
      "evidence rows all zero, others untouched") {
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    val store = new BatchJobs.ParquetStore(spark, dir)
    val raw = Seq(
      toot(1, "2025-10-07 10:00:00", "leo", "keep me"),
      toot(2, "2025-10-07 13:30:00", "demo", "erase one"),
      toot(3, "2025-10-10 09:00:00", "demo", "erase two"),
      toot(4, "2025-10-10 11:00:00", "leo", "keep too"),
    ).toDF("value")
    BatchJobs.backfill(raw, store)
    BatchJobs.clean(store)
    BatchJobs.analytics(store, activeMin = 2)
    assert(store.read("daily_toot_counts").agg(sum("toots"))
      .as[Long].head() == 4L)

    val evidence = BatchJobs.forget(store, Seq("demo"), activeMin = 2)
      .as[(String, Long)].collect().toMap
    // compliance rows: every username-bearing table reports zero traces
    assert(evidence.size == 5 && evidence.values.forall(_ == 0L),
      evidence.toString)
    // base tables scrubbed, the other user fully intact
    assert(store.read("toots_clean").select("username")
      .as[String].collect().toSeq.sorted == Seq("leo", "leo"))
    // gold rebuilt WITHOUT the erased user's contributions: daily
    // totals drop to leo's two toots, and demo's aggregates are gone
    val daily = store.read("daily_toot_counts")
      .select(col("day").cast("string"), col("toots"))
      .as[(String, Long)].collect().toMap
    assert(daily == Map("2025-10-07" -> 1L, "2025-10-10" -> 1L), daily)
    assert(store.read("user_activity_counts").select("username")
      .as[String].collect().toSet == Set("leo"))
  }

  private val goldTables = Seq("hourly_toot_counts", "daily_toot_counts",
    "user_activity_counts", "active_users_gtX", "hashtags_per_day_counts",
    "top_hashtag_per_day", "avg_toot_length_by_user_batch")

  /** A parquet store holding the clean table of four toots. */
  private def cleanStore(): BatchJobs.ParquetStore = {
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    val store = new BatchJobs.ParquetStore(spark, dir)
    BatchJobs.backfill(Seq(
      toot(1, "2025-10-07 10:00:00", "leo", "one"),
      toot(2, "2025-10-07 13:30:00", "demo", "two", "\"A\", \"b\""),
      toot(3, "2025-10-10 09:00:00", "demo", "three"),
      toot(4, "2025-10-10 11:00:00", "leo", "four"),
    ).toDF("value"), store)
    BatchJobs.clean(store)
    store
  }

  test("analytics: a failed table write surfaces once the other six are " +
      "written, and the clean table is unpersisted after all of them") {
    val inner = cleanStore()
    // the plan analytics caches: the stub reports whether it is cached
    // while each write runs
    def cleanTable: DataFrame = inner.read("toots_clean")
      .withColumn("ts", coalesce(col("created_at"), col("ingested_at")))
    val cachedDuring = new ConcurrentHashMap[String, Boolean]
    val store = new BatchJobs.TableStore {
      def read(table: String): DataFrame = inner.read(table)
      def write(table: String, df: DataFrame, mode: SaveMode): Unit = {
        if (table == "hashtags_per_day_counts")
          throw new IllegalStateException("quota exceeded")
        inner.write(table, df, mode)
        cachedDuring.put(table, cleanTable.storageLevel != StorageLevel.NONE)
      }
    }
    val e = intercept[IllegalStateException](
      BatchJobs.analytics(store, activeMin = 2))
    assert(e.getMessage == "quota exceeded")
    val written = goldTables.filter(_ != "hashtags_per_day_counts")
    assert(cachedDuring.asScala.toMap == written.map(_ -> true).toMap)
    assert(written.forall(t => inner.read(t).count() > 0))
    assert(inner.read("daily_toot_counts").agg(sum("toots"))
      .as[Long].head() == 4L)
    assert(cleanTable.storageLevel == StorageLevel.NONE)
  }

  test("analytics: every job it starts carries the caller's job group") {
    val store = cleanStore()
    assert(spark.streams.active.isEmpty, "a streaming query would add jobs")
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val groups = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
        ()
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("analytics-spec", "analytics", interruptOnCancel = false)
    try BatchJobs.analytics(store, activeMin = 2)
    finally {
      sc.clearJobGroup()
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.size >= goldTables.size, seen) // a job per table at least
    assert(seen.forall(_.contains("analytics-spec")), seen)
    assert(goldTables.forall(t => store.read(t).count() > 0))
  }
}
