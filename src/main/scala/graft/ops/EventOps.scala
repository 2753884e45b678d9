package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics: the reference's batch/streaming aggregates
  * (`/root/reference/src/batch_analytics.py`, `src/spark_stream.py`)
  * re-expressed over the driver `events` table
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Mapping (SURVEY.md §7): user_id ≅ username, ts ≅ created_at,
  * event_type ≅ hashtag/topic, value ≅ toot length, props ≅ raw JSON.
  *
  * All functions are pure DataFrame transforms — single groupBy/window
  * shuffles, partial+final hash aggregation via Catalyst; nothing here
  * collects to the driver, so every operator scales horizontally with
  * the number of shuffle partitions.
  */
object EventOps {

  /** Toots-per-user (A1, `/root/reference/src/batch_analytics.py:32`). */
  def userActivity(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(count(lit(1)).as("toot_count"))

  /** Active users above a threshold (P10, `batch_analytics.py:35-36`). */
  def activeUsers(events: DataFrame, minCount: Long = 5): DataFrame =
    userActivity(events).filter(col("toot_count") >= lit(minCount))

  /** Hourly counts (A3, `batch_analytics.py:25-26`). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("toots"))

  /** Daily counts (A3, `batch_analytics.py:28-29`). */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("toots"))

  /** Per-(day, type) counts (A2, `batch_analytics.py:44`). */
  def dailyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  /** Average value per user (A4, `batch_analytics.py:52` — avg toot
    * length per user). Rounded so the DuckDB oracle hash-matches despite
    * float summation-order differences.
    */
  def avgValuePerUser(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(Num.avgRound(col("value"), 4).as("avg_value"))

  /** 1-minute tumbling window counts (A5, `src/spark_stream.py:119-131`).
    * Uses the native `window()` time-bucketing expression; at scale this
    * is a single hash aggregation keyed by (minute bucket) — no sort.
    */
  def minuteWindowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("cnt"))

  /** 5-minute windows sliding every minute (A5 extended): each event
    * lands in 5 overlapping buckets — Spark's `window()` expands them
    * inline (a Generate, no self-join). */
  def slidingWindowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes", "1 minute").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("cnt"))

  /** Gap-merged sessions via the NATIVE `session_window` operator (the
    * idiomatic form of [[sessionize]]; also usable in streaming with a
    * watermark). Window end = last event + gap; a gap of exactly
    * `gapMinutes` starts a NEW session (strict merge inequality). */
  def sessionWindowStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(Num.dec2(col("value"))), 4).cast("double")
          .as("session_value"))
      .select(
        col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n_events"),
        col("session_value"))

  /** Keep only the most-recent event per user (W1 dedup,
    * `/root/reference/src/batch_clean_historical.py:34-37`). The
    * reference tie-breaks only on the timestamp; we add `event_id` as a
    * stable secondary key so results are deterministic (SURVEY.md §7
    * risk register). One hash shuffle on the partition key, then a
    * per-partition sort — the canonical scalable dedup shape.
    */
  def latestPerUser(events: DataFrame): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts").desc_nulls_last, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Top event type per day, ties broken alphabetically (W2,
    * `batch_analytics.py:47-49`). */
  def topTypePerDay(events: DataFrame): DataFrame = {
    val counts = dailyTypeCounts(events)
    val w = Window
      .partitionBy("day")
      .orderBy(col("cnt").desc, col("event_type").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Distinct users per day — fills the reference's empty distinct-agg
    * category (SURVEY.md §2.4). Exact countDistinct: Catalyst expands to
    * a two-phase aggregation; fine at scale because the inner key space
    * is (day × user). */
  def distinctUsersDaily(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("users"))

  /** Approximate distinct users per day (HLL++, rsd=5%) — the 100 TB
    * variant of [[distinctUsersDaily]]: constant-size sketch per group,
    * single aggregation pass, no exact-distinct expansion. Not
    * oracle-comparable (DuckDB uses a different sketch). */
  def approxDistinctUsersDaily(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_users"))

  /** Sketch-accuracy audit for [[approxDistinctUsersDaily]]: HLL++
    * estimate vs exact distinct per day, flagged when outside ±15%
    * (3× the configured 5% rsd). The estimate itself is not
    * SQL-derivable, but the FLAG is oracle-checkable because HLL++ is
    * a pure function of the value set — partition- and
    * order-independent — so a broken sketch (or a silently changed
    * rsd) flips `within_3rsd` and fails the driver's hash gate, which
    * the rows-only approx query alone never could. */
  def approxDistinctAudit(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.05).as("n_approx"))
      .select(col("day"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) <=
          col("n_exact") * lit(0.15)).as("within_3rsd"))

  /** JSON field extraction from the `props` payload (P2/P4/F17,
    * `src/spark_stream.py:76`, `5SPAR.ipynb` cell 20) — schema-less
    * `get_json_object` path, aggregated to keep the result compact. */
  def propsKeyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"))

  /** Running per-user cumulative value ordered by time — window-frame
    * coverage (`rowsBetween`) absent from the reference (SURVEY.md §2.5).
    * Deterministic ordering via (ts, event_id). */
  def runningValuePerUser(events: DataFrame): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
      col("event_id"),
      col("user_id"),
      col("ts"),
      round(sum(Num.dec2(col("value"))).over(w), 4).cast("double")
        .as("running_value"))
  }

  /** Previous event value per user (lag) — analytic-function coverage. */
  def lagValuePerUser(events: DataFrame): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events.select(
      col("event_id"),
      col("user_id"),
      col("ts"),
      lag("value", 1).over(w).as("prev_value"))
  }

  /** Sessionize events per user with a gap timeout: a new session starts
    * when the inter-event gap exceeds `gapMinutes`. Classic cumulative-
    * sum-over-boundary-flags formulation — two window passes over the
    * same (user_id, ts) sort, so Catalyst reuses one shuffle+sort. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapSec = gapMinutes * 60L
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > gapSec,
          1L).otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "new_session")
  }

  /** Per-user × event-type counts as a pivot — wide-table coverage.
    * Pivot values are pinned (no extra distinct scan at plan time, and
    * a deterministic column set at any scale). */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def userTypePivot(events: DataFrame): DataFrame = {
    val p = events
      .groupBy("user_id")
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    p.na.fill(0L, eventTypes)
  }

  /** Melt ([[userTypePivot]]'s inverse): wide per-type count columns
    * back to (user_id, event_type, cnt) long form via the native
    * `unpivot` — an Expand node, rows × types with NO shuffle or
    * UNION-of-selects re-scan, which is what makes wide→long cheap at
    * any scale. */
  def userTypeUnpivot(events: DataFrame): DataFrame =
    userTypePivot(events).unpivot(
      Array(col("user_id")),
      eventTypes.map(col).toArray,
      "event_type", "cnt")

  /** Exact interpolated percentiles of value per event type
    * (`percentile` = quantile_cont semantics). Exact percentile sorts
    * per group — at 100 TB prefer `approx_percentile` (t-digest); both
    * shapes are one aggregation. */
  def valuePercentiles(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.9)), 4).as("p90"),
        round(percentile(col("value"), lit(0.99)), 4).as("p99"))

  /** Fixed-width histogram of `value` per event type — the profiling
    * companion of the percentile queries: bucket = floor(value/width),
    * one partial+final hash aggregation (each map task emits at most
    * types × buckets rows), trivially parallel at any scale. The
    * `floor` of a double is identical in Spark and DuckDB, so the
    * bucket edges cannot disagree. */
  def valueHistogram(events: DataFrame, width: Double = 50.0): DataFrame =
    events
      .groupBy(col("event_type"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        (col("bucket") * lit(width)).as("lo"), col("n"))

  /** Per-type volume trend: closed-form OLS of daily event counts over
    * epoch-day — "is this source growing or dying", the monitor a
    * pipeline points at every upstream feed. Same discipline as
    * [[graft.ops.DocOps.zipfSlopeByLang]]: the regression collapses to
    * five integer moments (k, Σx, Σy, Σxy, Σx²) accumulated EXACTLY in
    * LONG by one partial+final aggregation over the (type, day) count
    * frame, then slope = (k·Σxy − Σx·Σy)/(k·Σx² − (Σx)²) and the
    * intercept are single double divisions of exact operands —
    * bit-identical across engines, no per-group collect, no ML fit.
    * Types observed on < 2 distinct days have no trend and are
    * excluded. */
  def dailyTrendByType(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    val m = daily.groupBy("event_type").agg(
      count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val denom = col("k") * col("sxx") - col("sx") * col("sx")
    val slope = (col("k") * col("sxy") - col("sx") * col("sy"))
      .cast("double") / denom.cast("double")
    m.filter(col("k") >= 2 && denom > 0L)
      .select(col("event_type"), col("k").as("n_days"),
        round(slope, 6).as("slope_per_day"),
        round((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("k").cast("double"), 4).as("intercept"))
  }

  /** Exact weekly distinct users via the day→week BITMAP rollup — the
    * exact member of the mergeable-rollup trio beside
    * [[hllUnionRollupAudit]] (approximate union) and
    * [[thetaOverlapAudit]] (approximate set algebra), built on the
    * engine's native [[graft.functions.BitmapBuild]] /
    * [[graft.functions.BitmapCardinality]] typed-imperative
    * aggregates.
    *
    * 100 TB architecture: per-day bitmap blobs are the stored ingest-
    * grain partial (a few hundred KiB each, vs re-scanning raw
    * events); weekly — or monthly, or arbitrary-segment — exact
    * distincts are pure blob-ORs over them. `count(DISTINCT)` partials
    * cannot do this (they aren't mergeable across grains), which at
    * scale means every rollup question re-reads the raw log. Unlike
    * the sketch paths this one is EXACT and hash-gated directly
    * against the oracle's `count(DISTINCT)`, with the compact-id
    * premise enforced loudly inside the aggregate itself. */
  def bitmapDistinctRollup(events: DataFrame,
      maxId: Int = 1 << 21): DataFrame = {
    import graft.functions.BitmapAgg._
    val dayBitmaps = events
      .groupBy(date_trunc("week", col("ts")).as("week"),
        date_trunc("day", col("ts")).as("day"))
      .agg(bitmapBuild(col("user_id"), maxId).as("bm"))
    dayBitmaps.groupBy("week")
      .agg(bitmapCardinality(col("bm"), maxId).as("n_users"))
  }

  /** Exponential time-decay engagement score per user — the recency-
    * weighted activity feature every ranking/churn model starts from:
    *
    *   score(u) = Σ_{e∈u} 2^(−age(e)/halfLife)
    *
    * An event today counts 1, an event `halfLifeDays` ago counts ½.
    * The anchor is the LOG'S OWN max ts (deterministic — no wall
    * clock, same contract as every other operator here).
    *
    * Determinism: age is an exact BIGINT of epoch seconds; the
    * exponent and `exp` run on identical doubles in both engines (the
    * unigram_kl ln contract extended to exp); each term is then
    * rounded 8dp and cast to DECIMAL so the per-user Σ is EXACT in
    * any summation order — the same absorb-the-float-sum trick as
    * [[linearAttribution]]'s micro-units, at decimal grain.
    *
    * Shape: one scalar max-ts broadcast back, one per-user hash agg
    * — linear, no windows. */
  def timeDecayEngagement(events: DataFrame,
      halfLifeDays: Double = 7.0): DataFrame = {
    val anchor = events.agg(max(unix_timestamp(col("ts"))).as("anchor"))
    val ageSecs = (col("anchor") - unix_timestamp(col("ts"))).cast("double")
    val term = exp(lit(-math.log(2.0)) *
      (ageSecs / lit(86400.0) / lit(halfLifeDays)))
    events.crossJoin(broadcast(anchor))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(term, 8).cast("decimal(20,8)")).cast("double")
          .as("decay_score"))
  }

  /** Rolling 7-day distinct users per day — the sliding-window
    * DISTINCT, the aggregate plain partials structurally cannot
    * slide (counts don't subtract; count(DISTINCT) partials don't
    * even merge). The bitmap blobs make it one window pass: the log
    * collapses to per-day bitmaps ONCE, then
    * [[graft.functions.BitmapCardinality]] runs as a WINDOW aggregate
    * over the day-grain frame with a 7-day RANGE frame — each output
    * day ORs ≤7 fixed-size blobs, never re-touching raw events. The
    * classic alternatives either rescan the log per window offset
    * (7× the scan) or approximate (sliding HLL); this is exact and
    * single-pass.
    *
    * The range frame keys on epoch-day longs (integer arithmetic —
    * DATE range frames have interval-type pitfalls across engines).
    * The window is unpartitioned BY DESIGN: its input is the
    * CALENDAR-cardinality day frame (thousands of rows per year
    * regardless of log size), so the single sorted task is bounded —
    * the same collapsed-frame argument as the Pareto skyline; the
    * distributed work (the per-day bitmap build) happened in the
    * partitioned aggregation below it. */
  def rollingDistinctUsers(events: DataFrame, windowDays: Int = 7,
      maxId: Int = 1 << 21): DataFrame = {
    import graft.functions.BitmapAgg._
    val dayNum = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
      .cast("long")
    val daily = events
      .groupBy(to_date(col("ts")).as("day"), dayNum.as("d"))
      .agg(bitmapBuild(col("user_id"), maxId).as("bm"))
    val w = Window.orderBy(col("d").asc)
      .rangeBetween(-(windowDays - 1).toLong, Window.currentRow)
    daily
      .select(col("day"),
        bitmapCardinality(col("bm"), maxId).over(w).as("n_users_7d"))
      .orderBy(col("day").asc)
  }

  /** DAU/WAU stickiness — the engagement ratio product analytics
    * reports beside retention: per day, the share of that ISO week's
    * active users who were active on the day. 1.0 means everyone who
    * shows up in a week shows up daily; 1/7 is the
    * every-user-once-a-week floor.
    *
    * Shape: two countDistinct aggregations at different grains over
    * the same scan (day-grain and week-grain), joined on week — the
    * day frame is calendar-sized, so the join is trivially broadcast.
    * The ratio is one pinned DOUBLE division of two exact BIGINTs.
    * (The HLL/bitmap rollups are the store-once variants of exactly
    * these distincts; this is the direct-query form.) */
  def dauWauStickiness(events: DataFrame): DataFrame = {
    val day = events.groupBy(date_trunc("week", col("ts")).as("week"),
        to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val week = events.groupBy(date_trunc("week", col("ts")).as("week"))
      .agg(countDistinct(col("user_id")).as("wau"))
    day.join(broadcast(week), "week")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
  }

  /** Inter-arrival statistics per event type: mean gap, gap standard
    * deviation, and burstiness CV = σ/μ (Goh & Barabási '08 use
    * (σ−μ)/(σ+μ); CV is its monotone cousin) — Poisson-like arrivals
    * sit near CV 1, heavy bursts push it far above, schedulers/bots
    * far below. The temporal-behavior profile of a stream.
    *
    * Determinism: gaps are exact BIGINT epoch-second differences —
    * computed by [[graft.ops.RankOps.groupedGaps]]' bucketed lag with
    * boundary stitching rather than a flat per-type window (with ~5
    * event types, `lag OVER (PARTITION BY event_type ORDER BY ts)`
    * sorts each type's ENTIRE history in one task at cluster scale;
    * the composite (type, time-bucket) lag keeps it parallel, and the
    * gap multiset is identical since floor-epoch is monotone in ts
    * and ties gap to 0 under any tie order). Σg and Σg² aggregate as
    * exact integers (gaps ≤ ~10⁶ s, squares ≤ 10¹², corpus sums well
    * under 2⁶³), and μ, σ, CV are pinned-order double arithmetic on
    * them — the [[graft.ops.DocOps.neymanAllocation]] moment pattern. */
  def interarrivalStats(events: DataFrame): DataFrame = {
    val gaps = RankOps.groupedGaps(
      events.select(col("event_type"), col("ts")),
      Seq("event_type"), unix_timestamp(col("ts")), "g")
    val m = gaps.groupBy("event_type").agg(
      count(lit(1)).as("n_gaps"),
      sum(col("g")).as("sg"),
      sum(col("g") * col("g")).as("sgg"))
      .filter(col("n_gaps") >= 2)
    val nD = col("n_gaps").cast("double")
    val mean = col("sg").cast("double") / nD
    val variance = (col("sgg").cast("double") -
      col("sg").cast("double") * col("sg").cast("double") / nD) / (nD - 1.0)
    m.select(col("event_type"), col("n_gaps"),
      round(mean, 4).as("mean_gap_s"),
      round(sqrt(variance), 4).as("sd_gap_s"),
      round(sqrt(variance) / mean, 6).as("burstiness_cv"))
  }

  /** Cross-series co-movement: Pearson correlation between every pair
    * of event types' DAILY VOLUME series — do errors spike when
    * clicks spike? The series-level companion to
    * [[graft.ops.AggOps.lineitemCorrelations]]' row-level
    * correlations, and the detector behind "metric A leads metric B"
    * dashboards.
    *
    * The day grid is ZERO-FILLED (days × types cross join, absent
    * counts = 0) — correlating only days where both types occurred
    * would bias every pair toward busy days. All six moments (n, Σx,
    * Σy, Σxy, Σx², Σy²) are exact BIGINTs over the grid; the Pearson
    * numerator and the two variance terms are exact LONG arithmetic,
    * cast to DOUBLE only for the final sqrt/division (each term ≪
    * 2⁵³, so the casts are exact). Zero-variance series are excluded.
    *
    * Shape: one (type, day) hash agg over the log, then everything
    * runs on the CALENDAR×TYPES grid — tiny at any log size. */
  /** Mann–Whitney U (Wilcoxon rank-sum) between every event-type pair
    * — the NONPARAMETRIC two-sample location test beside the KS drift
    * gate: does type a's value distribution sit above type b's,
    * without assuming normality? Exact midrank/tie-correction
    * arithmetic, computed WITHOUT any global sort: values collapse to
    * the per-(pair, value) count frame (the 2dp value grid — a
    * bounded domain like the histogram bins), exclusive prefix sums
    * over it give every midrank, and
    *
    *   2·R_a = Σ_v c_a·(2·(cumA+cumB) + (c_a+c_b) + 1)
    *
    * stays exact BIGINT (doubled midranks clear the halves). The
    * normal approximation uses the tie-corrected variance
    * n1·n2/12·((n+1) − Σ(t³−t)/(n(n−1))); zero variance (all values
    * tied) yields a NULL z. BIGINT headroom: the doubled rank sum is
    * ≤ 2n², overflowing past n ≈ 2e9 rows per pair — switch the
    * accumulators to DOUBLE beyond that (stated, not silent).
    *
    * Emits per pair: n1, n2, `u2_a` (2·U_a, exact) and the z. */
  def mannWhitneyTypePairs(events: DataFrame): DataFrame = {
    val cum = typePairValueGrid(events)
    val nPair = col("ca") + col("cb")
    val stats = cum.groupBy("ta", "tb").agg(
      sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
      sum(col("ca") * (lit(2L) * (col("cum_a") + col("cum_b")) +
        nPair + lit(1L))).as("r2a"),
      sum(nPair * nPair * nPair - nPair).as("ties3"))
    val u2 = col("r2a") - col("n1") * (col("n1") + lit(1L))
    val n = col("n1") + col("n2")
    val zNum = (u2 - col("n1") * col("n2")).cast("double") / lit(2.0)
    val varU = (col("n1").cast("double") * col("n2").cast("double") /
      lit(12.0)) *
      ((n + lit(1L)).cast("double") -
        col("ties3").cast("double") /
          (n.cast("double") * (n - lit(1L)).cast("double")))
    stats.select(col("ta").as("type_a"), col("tb").as("type_b"),
      col("n1"), col("n2"), u2.as("u2_a"),
      when(varU > lit(0.0), round(zNum / sqrt(varU), 4)).as("z"))
  }

  /** Theil–Sen robust trend per type — the median-of-pairwise-slopes
    * estimator (Sen '68) beside [[dailyTrendByType]]'s OLS: with a
    * 29.3% breakdown point, a week of outage zeros or a crawler burst
    * bends OLS but barely moves the pairwise-slope median. Computed
    * over the DENSE zero-filled calendar (the observed-day-axis bias
    * lesson from typeCountCorrelations); each slope is an exact
    * integer pair divided once in DOUBLE, and the median interpolates
    * identically in both engines.
    *
    * Scale: the pair join is per-type CALENDAR² — |days|² is a
    * constant of the observation window (90 days → ~4k pairs/type),
    * never data-proportional; the daily collapse in front is the one
    * corpus-sized aggregation. */
  def theilSenTrendByType(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events)
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long")
          .as("x"),
        col("cnt").as("y"))
    val slopes = grid.as("a")
      .join(grid.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.x") < col("b.x"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x")).cast("double")).as("slope"))
    slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        round(median(col("slope")), 6).as("theil_sen_slope"))
  }

  /** Spearman rank correlation between type pairs' daily-count series
    * — [[typeCountCorrelations]]'s robust sibling: Pearson on RANKS is
    * immune to the monotone-but-nonlinear relationships and count
    * spikes that bend the raw-count correlation. Exact throughout:
    * ranks are DOUBLED midranks (2·min-rank + ties − 1 — integers, so
    * tied days carry their exact average rank with no fp halves), and
    * ρ is the same integer-moment closed form as the Pearson query —
    * Spearman is scale-invariant, so the doubling cancels. Computed
    * over the dense zero-filled calendar; the rank windows partition
    * per type over calendar-bounded frames. */
  def spearmanTypePairs(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
    val wr = Window.partitionBy("event_type").orderBy(col("cnt").asc)
    val wt = Window.partitionBy("event_type", "cnt")
    val ranked = grid.select(col("event_type"), col("day"),
      (lit(2L) * rank().over(wr).cast("long") +
        count(lit(1)).over(wt) - lit(1L)).as("r2"))
    val m = ranked.as("a")
      .join(ranked.as("b"),
        col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.r2")).as("sx"), sum(col("b.r2")).as("sy"),
        sum(col("a.r2") * col("b.r2")).as("sxy"),
        sum(col("a.r2") * col("a.r2")).as("sxx"),
        sum(col("b.r2") * col("b.r2")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val da = col("n") * col("sxx") - col("sx") * col("sx")
    val db = col("n") * col("syy") - col("sy") * col("sy")
    m.filter(da > 0L && db > 0L)
      .select(col("type_a"), col("type_b"), col("n").as("n_days"),
        round(num.cast("double") /
          (sqrt(da.cast("double")) * sqrt(db.cast("double"))), 6)
          .as("spearman_rho"))
  }

  /** Count-Min sketch point estimates for the heaviest users — the
    * counting member of the mergeable-sketch family (HLL distincts,
    * Theta set algebra, Misra-Gries heavy hitters, exact bitmaps):
    * depth×width counter cells, each key mapped per row by the
    * engine-portable Knuth multiplicative hash under a per-row seed,
    * estimate = min over rows (Cormode & Muthukrishnan '05 — never an
    * underestimate, overestimate bounded by collisions). Everything is
    * exact BIGINT arithmetic on top of deterministic hashes, so the
    * sketch AND its audit are hash-gated: the emitted `overestimate`
    * (est − exact, ≥ 0 by construction) measures the collision error
    * the e/width bound promises to keep small. Cells build from the
    * COLLAPSED per-user count frame (cnt(r,c) = Σ exact over colliding
    * users), so the sketch costs one corpus agg + a |users|·depth
    * explode — and cells merge across shards/batches by pure counter
    * addition, the store-once/union-any-grain blob contract.
    *
    * Shape: one corpus-sized (user) agg; everything after runs on
    * |users|·depth rows; probes are a topK broadcast. */
  def cmsUserEstimates(events: DataFrame, depth: Int = 4, width: Int = 256,
      topK: Int = 20): DataFrame = {
    val seeds = Seq(0L, 1000000007L, 2000000011L, 3000000019L)
    require(depth >= 1 && depth <= seeds.size, s"depth 1..${seeds.size}: $depth")
    val exact = events.groupBy("user_id").agg(count(lit(1)).as("exact"))
      .localCheckpoint()
    val seedCols = posexplode(array(seeds.take(depth).map(lit): _*))
    val cells = exact
      .select(col("user_id"), col("exact"), seedCols.as(Seq("r", "seed")))
      .select(col("r"),
        pmod(DocOps.knuthHash32(col("user_id") + col("seed")),
          lit(width.toLong)).as("c"),
        col("exact"))
      .groupBy("r", "c").agg(sum(col("exact")).as("cnt"))
    val top = exact.orderBy(col("exact").desc, col("user_id").asc).limit(topK)
    top.select(col("user_id"), col("exact"), seedCols.as(Seq("r", "seed")))
      .select(col("user_id"), col("exact"), col("r"),
        pmod(DocOps.knuthHash32(col("user_id") + col("seed")),
          lit(width.toLong)).as("c"))
      .join(cells, Seq("r", "c"))
      .groupBy("user_id", "exact")
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("user_id"), col("exact"), col("cms_est"),
        (col("cms_est") - col("exact")).as("overestimate"))
  }

  /** Kruskal–Wallis H across ALL event types' daily-volume
    * distributions — the k-sample extension of
    * [[mannWhitneyTypePairs]]: one omnibus "do the types differ in
    * volume location at all?" gate before the |types|² pairwise
    * drill-down. Observations are the DENSE zero-filled calendar's
    * daily counts, so every group holds exactly n_days observations —
    * which collapses Σ R_i²/n_i to (Σ(2R_i)²)/(4·D), one exact BIGINT
    * sum. Pooled doubled midranks (2·cum + ties + 1) come from an
    * exclusive prefix sum over the COLLAPSED per-count-value frame
    * (never a row-level sort), so everything is exact integers until
    * the two final pinned double divisions; the tie-corrected
    * H = H_raw / (1 − Σ(t³−t)/(N³−N)) is NULL when all observations
    * tie (zero variance — no test). BIGINT headroom: Σ(2R_i)² ≤
    * k·D²·(2N+1)² overflows past ~10⁹ doubled rank-sum units (a
    * century calendar × hundreds of types) — switch the square
    * accumulator to DECIMAL(38,0) there (stated, not silent).
    *
    * Shape: one (type, day) hash agg collapses the log; the grid,
    * rank prefix and moments all run on calendar×types rows. */
  def kruskalWallisDailyCounts(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events)
      .select(col("event_type"), col("cnt").as("v"))
    val byVal = grid.groupBy(col("v"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val tot = byVal.groupBy("v").agg(sum("c").as("ct"))
    // exclusive prefix over the distinct-count-value frame — collapsed
    // to the value grid, so the unpartitioned window is bounded
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = tot.withColumn("cum", coalesce(sum(col("ct")).over(w), lit(0L)))
    val perType = byVal.join(cum, "v")
      .groupBy("event_type")
      .agg(sum(col("c") * (lit(2L) * col("cum") + col("ct") + lit(1L)))
        .as("r2sum"),
        sum(col("c")).as("ni"))
    val ties = cum.agg(
      sum(col("ct") * col("ct") * col("ct") - col("ct")).as("ties3"))
    val s = perType.agg(
      count(lit(1)).as("k"),
      sum(col("ni")).as("n"),
      max(col("ni")).as("d"),
      sum(col("r2sum") * col("r2sum")).as("sr4"))
      .crossJoin(broadcast(ties))
    val nD = col("n").cast("double")
    val hRaw = lit(3.0) * col("sr4").cast("double") /
      (col("d") * col("n") * (col("n") + lit(1L))).cast("double") -
      lit(3.0) * (col("n") + lit(1L)).cast("double")
    val corr = lit(1.0) - col("ties3").cast("double") /
      (nD * nD * nD - nD)
    s.select(col("k").as("n_types"), col("d").as("n_days"),
      col("n").as("n_total"), (col("k") - lit(1L)).as("dof"),
      when(corr > lit(0.0), round(hRaw / corr, 6)).as("kw_h"))
  }

  /** Kendall tau-b between type pairs' daily-count series —
    * [[spearmanTypePairs]]' concordance-based sibling: tau counts
    * day-pair agreements directly, so it is the rank correlation
    * whose value has a probabilistic reading (P(concordant) −
    * P(discordant)) and degrades more gracefully under heavy ties.
    * Exact throughout: concordant−discordant and both tie counts are
    * BIGINT sums of sign comparisons over day pairs; tau-b divides
    * once by the two sqrt'd tie-adjusted pair counts (each cast to
    * DOUBLE separately — the product form would overflow on century
    * calendars). Zero-denominator pairs (a constant series) → NULL.
    *
    * Shape: the day-pair self-join is per-pair CALENDAR² — |days|²
    * is a constant of the observation window, never
    * data-proportional (the [[theilSenTrendByType]] argument); the
    * daily collapse in front is the one corpus-sized aggregation. */
  def kendallTauTypePairs(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
    val p = grid.as("a").join(grid.as("b"),
        col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
        col("a.day").as("day"), col("a.cnt").as("x"), col("b.cnt").as("y"))
    val dp = p.as("p").join(p.as("q"),
        col("p.ta") === col("q.ta") && col("p.tb") === col("q.tb") &&
          col("p.day") < col("q.day"))
      .select(col("p.ta").as("ta"), col("p.tb").as("tb"),
        (col("q.x") - col("p.x")).as("dx"),
        (col("q.y") - col("p.y")).as("dy"))
    val agg = dp.groupBy("ta", "tb").agg(
      count(lit(1)).as("n0"),
      sum(when((col("dx") > 0L && col("dy") > 0L) ||
            (col("dx") < 0L && col("dy") < 0L), 1L)
          .when((col("dx") > 0L && col("dy") < 0L) ||
            (col("dx") < 0L && col("dy") > 0L), -1L)
          .otherwise(0L)).as("cmd"),
      sum(when(col("dx") === 0L, 1L).otherwise(0L)).as("tx"),
      sum(when(col("dy") === 0L, 1L).otherwise(0L)).as("ty"))
    agg.select(col("ta").as("type_a"), col("tb").as("type_b"),
      col("n0").as("n_day_pairs"), col("cmd").as("conc_minus_disc"),
      when(col("n0") > col("tx") && col("n0") > col("ty"),
        round(col("cmd").cast("double") /
          (sqrt((col("n0") - col("tx")).cast("double")) *
            sqrt((col("n0") - col("ty")).cast("double"))), 6))
        .as("tau_b"))
  }

  /** Chi-square test of independence for event_type × day-of-week —
    * the frequency-table companion to [[typeDowMutualInfo]]: is the
    * weekly mix of event types flat, and how far from independent
    * (Cramér's V effect size, so a huge N can't masquerade a trivial
    * dependence as signal)? χ² = N·(Σ o²/(r·c) − 1) keeps every
    * observed/marginal product an exact BIGINT (o² and r·c both ≪
    * 2⁵³ at any realistic N) cast to DOUBLE per cell; the Σ runs over
    * ≤ |types|·7 cells (the [[typeDowMutualInfo]] summation
    * precedent). V = sqrt((Σ−1)/min(k−1, m−1)) with the one exact
    * sqrt. Degenerate single-row/column tables → NULL V.
    *
    * Shape: one (type, dow) hash agg collapses the log; marginals
    * and the cell sum run on the ≤ 7·|types| frame, broadcast. */
  def chiSquareTypeDow(events: DataFrame): DataFrame = {
    val cells = events
      .groupBy(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"))
      .agg(count(lit(1)).as("nxy"))
    val byType = cells.groupBy("event_type").agg(sum("nxy").as("nx"))
    val byDow = cells.groupBy("dow").agg(sum("nxy").as("ny"))
    val total = cells.agg(sum("nxy").as("n"))
    val s = cells.join(broadcast(byType), "event_type")
      .join(broadcast(byDow), "dow")
      .crossJoin(broadcast(total))
      .agg(
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"),
        max(col("n")).as("n_total"),
        sum((col("nxy") * col("nxy")).cast("double") /
          (col("nx") * col("ny")).cast("double")).as("s1"))
    val mindim = least(col("n_types") - lit(1L), col("n_dows") - lit(1L))
    s.select(col("n_types"), col("n_dows"), col("n_total"),
      ((col("n_types") - lit(1L)) * (col("n_dows") - lit(1L))).as("dof"),
      round(col("n_total").cast("double") * (col("s1") - lit(1.0)), 4)
        .as("chi2"),
      when(mindim > 0L,
        round(sqrt((col("s1") - lit(1.0)) / mindim.cast("double")), 6))
        .as("cramers_v"))
  }

  def typeCountCorrelations(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
    val m = grid.as("a")
      .join(grid.as("b"),
        col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.cnt")).as("sx"), sum(col("b.cnt")).as("sy"),
        sum(col("a.cnt") * col("b.cnt")).as("sxy"),
        sum(col("a.cnt") * col("a.cnt")).as("sxx"),
        sum(col("b.cnt") * col("b.cnt")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val da = col("n") * col("sxx") - col("sx") * col("sx")
    val db = col("n") * col("syy") - col("sy") * col("sy")
    m.filter(da > 0L && db > 0L)
      .select(col("type_a"), col("type_b"), col("n").as("n_days"),
        round(num.cast("double") /
          sqrt(da.cast("double") * db.cast("double")), 6).as("corr"))
  }

  /** Granger-causality F-test between every ORDERED event-type pair's
    * daily series — the directional companion to
    * [[typeCountCorrelations]]: does yesterday's x volume improve
    * today's y prediction beyond yesterday's y alone? Lag-1 form:
    * restricted model y_t ~ [1, y_{t−1}], full model y_t ~ [1,
    * y_{t−1}, x_{t−1}];
    *
    *   F = (RSS_r − RSS_f) / (RSS_f / (n − 3)).
    *
    * Both RSS come from the CLOSED-FORM normal equations on n-scaled
    * centered moments (S_ab = n·Σab − Σa·Σb): RSS_r ∝ Syy − Suy²/Suu
    * and RSS_f ∝ Syy − (Svv·Suy² − 2·Suv·Suy·Svy + Suu·Svy²)/D with
    * D = Suu·Svv − Suv² — the n-scaling cancels in the F ratio. The
    * flag compares F to the PINNED literal 4.17 (the 5% critical
    * value of F(1, 30), the dof this calendar actually has — a
    * stated convention like the SRM χ² cut, not a computed
    * quantile). Degenerate series (zero variance, singular D, zero
    * residual) → NULL F, flag false.
    *
    * Determinism: all ten raw moments are exact DECIMAL(38,0) sums
    * over the zero-filled calendar grid (counts can reach ~1e9/day at
    * corpus scale, products 1e18 — BIGINT would overflow silently);
    * every derived term is one pinned double chain of those exact
    * moments. Shape: one (type, day) collapse, the grid self-join on
    * the SHIFTED day key (an equi-join like acfDailyCounts, never a
    * theta join), one |types|²-row aggregate. */
  def grangerTypePairs(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
      .localCheckpoint() // three self-references below
    val yf = grid.select(col("event_type").as("ta"), col("day"),
      col("cnt").as("y"))
    val uf = grid.select(col("event_type").as("ta"),
      date_add(col("day"), 1).as("day"), col("cnt").as("u"))
    val vf = grid.select(col("event_type").as("tb"),
      date_add(col("day"), 1).as("day"), col("cnt").as("v"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = yf.join(uf, Seq("ta", "day"))
      .join(vf, "day")
      .filter(col("ta") =!= col("tb"))
      .groupBy(col("ta").as("type_a"), col("tb").as("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("y"))).as("sy"), sum(d38(col("u"))).as("su"),
        sum(d38(col("v"))).as("sv"),
        sum(d38(col("y")) * col("u")).as("syu"),
        sum(d38(col("y")) * col("v")).as("syv"),
        sum(d38(col("u")) * col("v")).as("suv"),
        sum(d38(col("u")) * col("u")).as("suu"),
        sum(d38(col("v")) * col("v")).as("svv"),
        sum(d38(col("y")) * col("y")).as("syy"))
    def cm(sab: String, sa: String, sb: String) =
      (col("n") * col(sab) - col(sa) * col(sb)).cast("double")
    val syyC = cm("syy", "sy", "sy"); val suuC = cm("suu", "su", "su")
    val svvC = cm("svv", "sv", "sv"); val suyC = cm("syu", "su", "sy")
    val svyC = cm("syv", "sv", "sy"); val suvC = cm("suv", "su", "sv")
    val dDet = suuC * svvC - suvC * suvC
    val rssR = syyC - suyC * suyC / suuC
    val rssF = syyC -
      (svvC * suyC * suyC - lit(2.0) * suvC * suyC * svyC +
        suuC * svyC * svyC) / dDet
    val f = (rssR - rssF) / (rssF / (col("n").cast("double") - lit(3.0)))
    val ok = suuC > 0.0 && dDet > 0.0 && rssF > 0.0 &&
      col("n") > lit(3L)
    m.select(col("type_a"), col("type_b"), col("n").as("n_days"),
      when(ok, round(f, 6)).as("f_stat"),
      coalesce(when(ok, round(f, 6) > lit(4.17)), lit(false))
        .as("causal_at_f417"))
  }

  /** Durbin–Watson serial-correlation test on the daily-volume trend
    * residuals — the regression-diagnostics companion to
    * [[acfDailyCounts]]: after the linear trend is removed, do
    * adjacent days still co-move (DW < 2 ⇒ positive autocorrelation,
    * the usual "OLS standard errors are lies" warning)?
    *
    *   DW = Σ_{t≥2} (e_t − e_{t−1})² / Σ_t e_t².
    *
    * Determinism: the OLS moments are exact DECIMAL(38,0) sums over
    * the zero-filled calendar; each residual is ONE pinned double
    * division of exact integers — e_t = [Sxx·(n·y_t − Σy) −
    * Sxy·(n·x_t − Σx)] / (n·Sxx), the n-scaled closed form — then
    * re-pinned to BIGINT micro-units before the two order-dependent
    * quadratic sums (the pinballLoss discipline), so both engines sum
    * identical integers. Headroom: Σem² stays inside DECIMAL(38,0)
    * for |e| ≲ 1e10 over calendars ≲ 10⁴ days (stated, not silent —
    * the [[mannWhitneyTypePairs]] convention). The adjacent-day pair
    * is a day+1 EQUI-join on the collapsed calendar frame (the
    * [[grangerTypePairs]] shift), never a window over raw rows.
    * Verdict cuts at the stated 1.5/2.5 literals (the SRM-style
    * convention; exact dL/dU tables are n-dependent).
    *
    * Shape: one corpus-sized daily collapse; everything after runs on
    * the calendar frame. */
  def durbinWatsonDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events)
      .select(
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long")
          .as("x"),
        col("cnt").as("y"))
      .localCheckpoint() // moments + residuals + shifted self all read it
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = grid.agg(count(lit(1)).as("n"),
      sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
      sum(d38(col("x")) * col("y")).as("sxy"),
      sum(d38(col("x")) * col("x")).as("sxx"))
    val mo = m.select(col("n"), col("sx"), col("sy"),
      (col("n") * col("sxy") - col("sx") * col("sy")).as("sxy_c"),
      (col("n") * col("sxx") - col("sx") * col("sx")).as("sxx_c"))
    // e_t in micro-units: numerator and denominator are EXACT decimals
    // cast to double once each — one division, one 1e6 pin.
    val res = grid.crossJoin(broadcast(mo))
      .select(col("x"), col("n"), col("sxy_c"), col("sxx_c"),
        round((col("sxx_c") * (d38(col("y")) * col("n") - col("sy")) -
            col("sxy_c") * (d38(col("x")) * col("n") - col("sx")))
            .cast("double") /
          (col("n") * col("sxx_c")).cast("double") * lit(1000000.0), 0)
          .cast("long").as("em"))
      .localCheckpoint() // quadratic sum + shifted self-join below
    val prev = res.select((col("x") + lit(1L)).as("x"),
      col("em").as("em_prev"))
    val dsum = res.join(prev, Seq("x"))
      .agg(sum((d38(col("em")) - col("em_prev")) *
        (d38(col("em")) - col("em_prev"))).as("sd2"))
    val esum = res.groupBy("n", "sxy_c", "sxx_c")
      .agg(sum(d38(col("em")) * col("em")).as("se2"))
    val dw = col("sd2").cast("double") / col("se2").cast("double")
    esum.crossJoin(dsum)
      .select(col("n").as("n_days"),
        when(col("sxx_c") > lit(0L),
          round(col("sxy_c").cast("double") /
            col("sxx_c").cast("double"), 6)).as("slope_per_day"),
        when(col("se2") > lit(0L), round(dw, 6)).as("dw_stat"),
        when(col("se2") > lit(0L),
          when(dw < lit(1.5), lit("positive"))
            .when(dw > lit(2.5), lit("negative"))
            .otherwise(lit("none"))).as("autocorrelation"))
  }

  /** Wald–Wolfowitz runs test on the daily-volume series — the
    * randomness gate beside [[durbinWatsonDaily]]: is the sequence of
    * above/below-median days random, or do hot and cold days clump
    * (trend, regime shift) or alternate (overcorrection)? Days equal
    * to the median are dropped (the standard convention); R = number
    * of maximal same-sign runs among the survivors in day order;
    *
    *   μ_R = 1 + 2·n₁·n₀/n,  σ²_R = 2n₁n₀(2n₁n₀ − n)/(n²(n−1)).
    *
    * Determinism: the median is computed EXACTLY in integer space —
    * 2·median = y_(⌈n/2⌉) + y_(⌊n/2⌋+1) off the calendar frame's
    * order statistics, so the above/below comparison is pure BIGINT
    * (2·y vs med2) with no interpolated double anywhere; run counting
    * is a lag over the COLLAPSED calendar frame; z is one pinned
    * chain, NULL when either sign is absent (σ = 0).
    *
    * Shape: one corpus-sized daily collapse; the rank and lag windows
    * order the ≤|calendar|-row collapsed frame (the bounded-serial
    * case the sweep whitelists — NOT checkpointed, so the collapse
    * lineage stays visible to the sweep, the isotonicCalibration
    * convention). */
  def runsTestDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
    val ranked = grid.withColumn("rn",
      row_number().over(Window.orderBy(col("y").asc, col("day").asc))
        .cast("long"))
    // the calendar length is a bounded scalar (the globalNtileMulti
    // stats-head precedent): one tiny job over the collapsed frame
    val nCal = grid.agg(count(lit(1))).head().getLong(0)
    val lo = (nCal + 1L) / 2L
    val hi = nCal / 2L + 1L
    val med2 = ranked
      .agg((sum(when(col("rn") === lo, col("y"))) +
        sum(when(col("rn") === hi, col("y")))).as("med2"))
    val signs = grid.crossJoin(broadcast(med2))
      .filter(col("y") * lit(2L) =!= col("med2"))
      .select(col("day"),
        when(col("y") * lit(2L) > col("med2"), 1L).otherwise(0L).as("s"))
    val withPrev = signs.withColumn("sp",
      lag(col("s"), 1).over(Window.orderBy(col("day").asc)))
    val agg = withPrev.agg(count(lit(1)).as("n"),
      sum(col("s")).as("n1"),
      (sum(when(col("sp").isNotNull && col("s") =!= col("sp"), 1L)
        .otherwise(0L)) + lit(1L)).as("runs"))
    val n = col("n").cast("double")
    val p2 = lit(2.0) * col("n1").cast("double") *
      (col("n") - col("n1")).cast("double")
    val mu = lit(1.0) + p2 / n
    val v = p2 * (p2 - n) / (n * n * (n - lit(1.0)))
    val z = (col("runs").cast("double") - mu) / sqrt(v)
    agg.select(col("n").as("n_days_used"), col("n1").as("n_above"),
      (col("n") - col("n1")).as("n_below"), col("runs"),
      when(col("n1") > 0L && col("n1") < col("n"), round(z, 6)).as("z_score"),
      coalesce(when(col("n1") > 0L && col("n1") < col("n"),
        abs(z) <= lit(1.959964)), lit(false)).as("looks_random"))
  }

  /** Cliff's delta between every event-type pair's value
    * distributions — the NONPARAMETRIC effect size completing the
    * triad ([[mannWhitneyTypePairs]] answers "is there a shift?",
    * [[cohensDTypePairs]] sizes it under normality, δ sizes it with
    * no distributional assumption at all):
    *
    *   δ = [#(a > b) − #(a < b)] / (n₁·n₂)  ∈ [−1, 1].
    *
    * Computed exactly off the same collapsed per-(pair, value) count
    * grid as the U statistic — #(a>b) = Σ_v c_a(v)·cumB(<v) and
    * #(a<b) = Σ_v c_b(v)·cumA(<v) are exact DECIMAL(38,0) prefix-sum
    * products (n₁·n₂ squares past BIGINT at corpus scale), δ is one
    * pinned division, and the Romano et al. '06 magnitude ladder
    * (0.147/0.33/0.474) is decided by INTEGER cross-multiplication
    * (|Δ|·1000 vs cut·n₁n₂ in exact decimals), never a float compare.
    *
    * Shape: one corpus collapse to the 2dp value grid; windows order
    * the per-pair collapsed grid only. */
  def cliffsDeltaTypePairs(events: DataFrame): DataFrame = {
    val cum = typePairValueGrid(events)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val stats = cum.groupBy("ta", "tb").agg(
      sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
      sum(d38(col("ca")) * col("cum_b")).as("gt"),
      sum(d38(col("cb")) * col("cum_a")).as("lt"))
    val prod = (d38(col("n1")) * col("n2"))
    val dnum = col("gt") - col("lt")
    val absScaled = abs(dnum) * lit(1000L)
    stats.select(col("ta").as("type_a"), col("tb").as("type_b"),
      col("n1"), col("n2"),
      round(dnum.cast("double") / prod.cast("double"), 6)
        .as("cliffs_delta"),
      when(absScaled < prod * lit(147L), lit("negligible"))
        .when(absScaled < prod * lit(330L), lit("small"))
        .when(absScaled < prod * lit(474L), lit("medium"))
        .otherwise(lit("large")).as("magnitude"))
  }

  /** Friedman rank test across weekdays — the REPEATED-MEASURES
    * omnibus beside [[kruskalWallisDaily]]'s independent-groups one:
    * treating each complete ISO week as a block and its seven days as
    * treatments, do weekdays differ consistently once week-to-week
    * volume shifts are blocked out? Ranks are within-week MIDRANKS
    * computed in doubled-integer space (2r = 2·#less + #equal + 1
    * over the week's 7 days — ties cost nothing), so every rank sum
    * is exact;
    *
    *   χ²_F = 12/(n·k(k+1)) · Σ_j (R_j − n(k+1)/2)²
    *        = 3 · Σ_j (2R_j − 8n)² / (56·n)   for k = 7,
    *
    * one pinned division against the stated χ²₀.₀₅,₆ = 12.592 cut.
    * No tie correction (stated convention — the classical statistic;
    * zero-filled dead weeks tie at 0 and dilute toward conservative).
    * Weekday numbering is the ARITHMETIC isodow ((epoch+3) mod 7 + 1)
    * so the engines cannot disagree; the week block is (epoch+3) div
    * 7, Monday-aligned by the same identity. Incomplete edge weeks
    * are excluded (the only incomplete ones — the grid is dense).
    *
    * Shape: one corpus-sized daily collapse; the within-week rank is
    * a 7×7-per-week self-join on the calendar frame. */
  def friedmanDowTest(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events)
      .select(
        (datediff(col("day"), lit("1970-01-01").cast("date")).cast("long") +
          lit(3L)).as("dd3"),
        col("cnt").as("y"))
      .select((col("dd3") % lit(7L) + lit(1L)).as("isodow"),
        expr("dd3 div 7").as("wk"), col("y"))
    val complete = grid.groupBy("wk").agg(count(lit(1)).as("nd"))
      .filter(col("nd") === lit(7L)).select("wk")
    val wgrid = grid.join(broadcast(complete), Seq("wk"))
      .localCheckpoint() // both sides of the rank self-join
    val r2 = wgrid.as("a").join(wgrid.as("b"), col("a.wk") === col("b.wk"))
      .groupBy(col("a.wk").as("wk"), col("a.isodow").as("isodow"))
      .agg((lit(2L) * sum(when(col("b.y") < col("a.y"), 1L).otherwise(0L)) +
        sum(when(col("b.y") === col("a.y"), 1L).otherwise(0L)) + lit(1L))
        .as("r2"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val sums = r2.groupBy("isodow")
      .agg(count(lit(1)).as("n_weeks"), sum(col("r2")).as("rs2"))
    val chi = sums
      .agg(max(col("n_weeks")).as("n_weeks"),
        sum((d38(col("rs2")) - lit(8L) * col("n_weeks")) *
          (d38(col("rs2")) - lit(8L) * col("n_weeks"))).as("ssq"))
    val chi2 = lit(3.0) * col("ssq").cast("double") /
      (lit(56.0) * col("n_weeks").cast("double"))
    chi.select(col("n_weeks"),
      when(col("n_weeks") > 0L, round(chi2, 6)).as("chi2"),
      coalesce(when(col("n_weeks") > 0L, round(chi2, 6) > lit(12.592)),
        lit(false)).as("significant"))
  }

  /** Lorenz-curve deciles of user activity — the distribution behind
    * [[userActivityGini]]'s single number: users sorted by activity,
    * cut into ntile(10) deciles, each with its exact event count and
    * the CUMULATIVE share of all events ("the bottom 80% of users
    * produce X% of traffic"). Total order (count, user_id) makes the
    * decile assignment deterministic; both engines share Postgres
    * ntile semantics (earlier buckets take the remainder). All counts
    * exact BIGINTs; the share is one pinned division per decile row.
    * The decile cut is [[RankOps.globalNtile]]'s two-level prefix-sum
    * rank — the user frame grows with the data, so a flat
    * `Window.orderBy` would funnel every user through one sort task;
    * the cumulative window after it runs over exactly 10 rows. */
  def activityLorenzDeciles(events: DataFrame): DataFrame = {
    val counts = events.groupBy("user_id").agg(count(lit(1)).as("x"))
    val ranked = RankOps.globalNtile(counts, col("x"),
        Seq(col("x").asc, col("user_id").asc), 10, "decile")
      .select(col("user_id"), col("x"), col("decile"))
    val perDecile = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("n_events"))
    val wCum = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile
      .select(col("decile"), col("n_users"), col("n_events"),
        sum(col("n_events")).over(wCum).as("cum_events"),
        sum(col("n_events")).over(Window.partitionBy()).as("total"))
      .select(col("decile"), col("n_users"), col("n_events"),
        round(col("cum_events").cast("double") / col("total").cast("double"), 6)
          .as("cum_share"))
  }

  /** Gini coefficient of per-user activity — the inequality number a
    * corpus-health dashboard wants ("do 1% of accounts produce 90% of
    * events?"), via the ranked closed form
    *
    *   G = (2·Σ_i i·x_i) / (n·Σx) − (n+1)/n
    *
    * over users sorted by (count, user_id). All three Σ are exact
    * BIGINTs (rank·count stays far under 2⁶³ at any plausible user
    * count), so the output is two pinned divisions and one subtract.
    * The rank is [[RankOps.globalRank]]'s two-level prefix sum — the
    * user frame grows with the data, so the flat `row_number` window
    * this closed form classically rides on is exactly the single-task
    * global sort the engine refuses. */
  def userActivityGini(events: DataFrame): DataFrame = {
    val counts = events.groupBy("user_id").agg(count(lit(1)).as("x"))
    val ranked = RankOps.globalRank(counts, col("x"),
        Seq(col("x").asc, col("user_id").asc), "i")
      .select(col("x"), col("i"))
    ranked.agg(
        count(lit(1)).as("n_users"),
        sum(col("x")).as("total"),
        sum(col("i") * col("x")).as("iwx"))
      .select(col("n_users"), col("total"),
        round(lit(2.0) * col("iwx").cast("double") /
          (col("n_users").cast("double") * col("total").cast("double")) -
          (col("n_users").cast("double") + 1.0) /
            col("n_users").cast("double"), 6).as("gini"))
  }

  /** Behavioral diversity per user: Shannon entropy of the user's
    * event-type distribution, H = Σ −p ln p — 0 for single-track
    * users, ln(5) for a uniform mix over this log's five types. The
    * per-user feature beside [[timeDecayEngagement]]'s recency: how
    * VARIED the activity is, not how much or how recent.
    *
    * p = cnt/total with both counts exact BIGINTs; each −p·ln p term
    * is computed on identical doubles in both engines and the ≤5-term
    * per-user sum is rounded once at 6dp (the unigram_kl summation
    * convention — here the addend count is bounded by the type
    * vocabulary, tighter still). */
  def userTypeEntropy(events: DataFrame): DataFrame = {
    val ut = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
    val tot = ut.groupBy("user_id").agg(sum(col("cnt")).as("total"))
    val p = col("cnt").cast("double") / col("total").cast("double")
    ut.join(tot, "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_types"),
        // + 0.0 normalizes the single-type case: −1·ln 1 = −0.0, and
        // the engines disagree on round()'s sign-bit preservation
        // (the cusumChangepoints contract).
        round(sum(-p * log(p)) + lit(0.0), 6).as("entropy"))
  }

  /** Snapshot reconciliation: key-level diff of two versions of the
    * same table — the added / removed / changed report every data
    * platform runs after a backfill or migration ([[cdcApplyChanges]]
    * APPLIES a changelog; this DERIVES one from two materialized
    * states). Full-outer join on the key, change detection on a
    * content hash so wide rows compare in O(1) per row; unchanged
    * keys are dropped (at 100 TB the overwhelmingly common case —
    * emitting them would make the diff as big as the table).
    *
    * Here driven over the events log split at its median timestamp
    * into "old" (first half) vs "new" (everything, value nudged for a
    * deterministic subset) in the registered query; the operator
    * itself takes any two keyed frames. */
  def snapshotDiff(old: DataFrame, neu: DataFrame, key: String,
      hashCols: Seq[String]): DataFrame = {
    // \u0001 column delimiter + \u0002 NULL sentinel: an empty
    // separator is ambiguous at column boundaries (('12','3x') vs
    // ('123','x') hash equal -> a changed row classed 'unchanged'),
    // and concat_ws silently SKIPS nulls while SQL || propagates
    // them -- coalescing every column to a sentinel first makes a
    // null a first-class, delimiter-safe value on both engines.
    def hashed(df: DataFrame, as: String) = df.select(col(key),
      md5(concat_ws("\u0001", hashCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0002"))): _*)).as(as))
    val oh = hashed(old, "h_old")
    val nh = hashed(neu, "h_new")
    oh.join(nh, Seq(key), "full_outer")
      .select(col(key),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("change"))
      .filter(col("change") =!= "unchanged")
  }

  /** [[snapshotDiff]] registered form: "old" = events in the first
    * half of the log's time range, "new" = all events with the values
    * of a deterministic doc subset (event_id % 97 == 0) shifted —
    * yielding all three change classes from one source table. */
  def eventSnapshotDiff(events: DataFrame): DataFrame = {
    val mid = events.agg(
      ((min(unix_timestamp(col("ts"))) + max(unix_timestamp(col("ts")))) /
        lit(2L)).cast("long").as("mid"))
    val withMid = events.crossJoin(broadcast(mid))
    val old = withMid.filter(unix_timestamp(col("ts")) <= col("mid"))
    val neu = withMid.withColumn("value",
      when(col("event_id") % 97 === 0, col("value") + 1.0)
        .otherwise(col("value")))
    snapshotDiff(old, neu, "event_id", Seq("user_id", "event_type", "value"))
      .orderBy(col("event_id").asc)
  }

  /** Top user paths: the most common session-level event-type
    * SEQUENCES ("view>click>purchase") — the free-form companion to
    * the fixed-step [[conversionFunnel]]: instead of asking "how many
    * completed THIS funnel", it surfaces which journeys actually
    * happen. Sessions are the same `gapMinutes` islands as
    * [[sessionStats]]; within a session the sequence is pinned by
    * `array_sort` over (ts, event_id, type) structs — a total order,
    * so the path string is deterministic in both engines (a bare
    * collect_list order would not be).
    *
    * Shape: one user-keyed window pass for session ids (shared sort
    * with the session aggregation), one hash agg to paths, one to
    * path counts; the top-k is ORDER BY + LIMIT →
    * TakeOrderedAndProject. Path length is bounded by the session,
    * not the log. */
  def topEventPaths(events: DataFrame, gapMinutes: Int = 30,
      topK: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapSecs = gapMinutes * 60L
    val sessioned = events.select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"),
        (unix_timestamp(col("ts")) -
          coalesce(unix_timestamp(lag(col("ts"), 1).over(w)),
            unix_timestamp(col("ts")))).as("gap"))
      .withColumn("new_sess", (col("gap") > gapSecs).cast("long"))
      .withColumn("sess_id",
        sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = sessioned
      .groupBy("user_id", "sess_id")
      .agg(concat_ws(">",
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type").as("et")))),
          x => x.getField("et"))).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
  }

  /** CUSUM change-point detection over each type's daily volume (Page
    * '54): the cumulative sum of deviations from the series mean,
    *
    *   cusum_k = Σ_{i≤k} (cnt_i − mean),
    *
    * whose extremum marks the most likely level-shift day — the
    * standard offline drift detector for ingestion-volume monitoring
    * ([[dowAnomalies]] flags single outlier days; this finds the
    * sustained regime change a per-day z-score can't see).
    *
    * Determinism: the naive form (windowed running sum of DOUBLE
    * deviations) is association-order dependent — engines disagree in
    * the low bits when their window implementations tree-reduce vs
    * fold. Instead the identity cusum_k = S_k − k·mean is computed
    * closed-form: S_k (running BIGINT count sum) and k (row_number)
    * are EXACT integers in any evaluation order, and the final
    * expression is three pinned IEEE ops on exact operands —
    * bit-identical in both engines, no summation order anywhere.
    * `is_changepoint` flags the max-|cusum| day(s) per type, compared
    * on the ROUNDED value so the argmax agrees across engines too.
    *
    * Scale shape: one (type, day) hash agg over the log, then windows
    * over the DAY-cardinality frame — both windows (running sum /
    * rank and the per-type max) share the same partitioning, and the
    * series frame is thousands of rows per year regardless of log
    * size. */
  def cusumChangepoints(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val wAll = Window.partitionBy("event_type")
    val run = daily.select(col("event_type"), col("day"), col("cnt"),
      sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"),
      row_number().over(w).cast("long").as("k"),
      sum(col("cnt")).over(wAll).as("total"),
      count(lit(1)).over(wAll).cast("long").as("n_days"))
    // + 0.0 normalizes IEEE negative zero: the series' LAST row is
    // cusum_n = S_n − n·mean ≈ −0.0 by construction (an exactly-zero
    // sum of deviations reached from below), and the engines disagree
    // on whether round() preserves the sign bit — (−0.0 + 0.0) = +0.0
    // in both.
    val cusum = round(col("s").cast("double") - col("k").cast("double") *
      (col("total").cast("double") / col("n_days").cast("double")), 4) + lit(0.0)
    run
      .select(col("event_type"), col("day"), col("cnt"), cusum.as("cusum"))
      .withColumn("is_changepoint",
        abs(col("cusum")) === max(abs(col("cusum"))).over(wAll))
  }

  /** Linear multi-touch attribution: every `purchase` conversion
    * splits one unit of credit equally across the SAME user's
    * non-purchase touch events in the preceding `windowDays` days
    * (strictly earlier ts), and credit rolls up per touch type — the
    * position-agnostic member of the marketing-attribution family
    * (first/last-touch are the argmin/argmax specializations of the
    * same touch join).
    *
    * Exactness: per-conversion credit 1/n is irrational in binary, so
    * a double Σ is summation-order dependent. Credit is instead
    * issued in integer MICRO-UNITS — `1000000 div n`, identical floor
    * division in both engines — and summed as BIGINT (exact, any
    * order); the reported `attributed_conversions` is that exact
    * integer divided by 10⁶ in one final correctly-rounded IEEE op.
    * (The div remainder — at most n−1 µunits per conversion — is
    * dropped identically on both sides, so the gate is exact.)
    *
    * Scale shape: a per-user time-band join — hash join on `user_id`
    * with the `[ts−window, ts)` band as residual predicate, the
    * [[JoinOps]] range-join posture. Both sides are pre-filtered
    * projections of the same log (conversions are one type; touches
    * drop purchases), per-user event counts bound the fan-out, and
    * the per-conversion `n` aggregation keys on the conversion's
    * event_id — no window over the raw log. */
  def linearAttribution(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("conv_ts"))
    val touch = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"))
    val joined = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") -
          expr(s"INTERVAL $windowDays DAYS"))
    val perConv = joined.groupBy("conv_id", "touch_type")
      .agg(count(lit(1)).as("n_type"))
      .withColumn("n",
        sum(col("n_type")).over(Window.partitionBy("conv_id")))
    perConv
      .groupBy(col("touch_type").as("event_type"))
      .agg(sum(col("n_type")).as("n_touches"),
        sum(col("n_type") * expr("CAST(1000000 AS BIGINT) div n"))
          .as("attributed_micro"))
      .withColumn("attributed_conversions",
        round(col("attributed_micro").cast("double") / lit(1000000.0), 6))
  }

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution —
    * the third member of the family beside [[linearAttribution]] and
    * [[timeDecayEngagement]]: first and last touch before each
    * conversion get 40% each, the middles split the remaining 20%.
    * The marketer's default when first-discovery and final-nudge both
    * matter more than the middle.
    *
    * Determinism: credits are exact integer micro-units (400000 /
    * 500000 / 1000000 / 200000 div (n−2) — same `div` convention as
    * linear), positions from a TOTAL order (touch_ts, touch event_id);
    * the micro sums are exact BIGINT. Shape: same windowed conv⋈touch
    * join as linear; the position window partitions per conversion. */
  def positionAttribution(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        col("ts").as("conv_ts"))
    val touch = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"), col("event_id").as("touch_id"))
    val joined = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") -
          expr(s"INTERVAL $windowDays DAYS"))
    val ranked = joined
      .withColumn("rk", row_number().over(
        Window.partitionBy("conv_id")
          .orderBy(col("touch_ts").asc, col("touch_id").asc)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
    val credit = when(col("n") === 1L, 1000000L)
      .when(col("n") === 2L, 500000L)
      .when(col("rk") === 1L || col("rk") === col("n"), 400000L)
      .otherwise(expr("CAST(200000 AS BIGINT) div (n - 2)"))
    ranked.groupBy(col("touch_type").as("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(credit).as("attributed_micro"))
      .withColumn("attributed_conversions",
        round(col("attributed_micro").cast("double") / lit(1000000.0), 6))
  }

  /** Fano factor (variance-to-mean of per-minute counts) per event
    * type — the burstiness index: a Poisson arrival stream sits at 1;
    * crawler bursts and incident storms push it far above, metronomic
    * bots below. The scalar [[interarrivalStats]]' per-gap moments
    * summarize from the other side.
    *
    * Exactness: over the DENSE minute grid (zeros included — skipping
    * them biases the variance down) Fano = (m·Σc² − T²)/(m·T) — but
    * the zero bins need never materialize: m is one scalar from the
    * global time range, Σc² and T come from the observed (type,
    * minute) collapse. Everything integer (DECIMAL(38,0) headroom for
    * T²) until one double division; the burstiness flag is an integer
    * cross-multiplication at 1.5. */
  def fanoFactorByType(events: DataFrame): DataFrame = {
    val mins = withTimeRange(events)
      .select(col("event_type"),
        expr("(unix_micros(ts) - lo) div 60000000").as("minute"),
        expr("(hi - lo) div 60000000 + 1").as("m"))
    val cnts = mins.groupBy("event_type", "minute", "m")
      .agg(count(lit(1)).as("c"))
    val stats = cnts.groupBy("event_type")
      .agg(max("m").as("m"), sum("c").as("t"),
        sum(col("c") * col("c")).as("sc2"))
    val num = col("m").cast("decimal(38,0)") * col("sc2") -
      col("t").cast("decimal(38,0)") * col("t")
    val den = col("m").cast("decimal(38,0)") * col("t")
    stats.select(col("event_type"), col("t").as("n_events"),
      col("m").as("n_minutes"),
      round(col("t").cast("double") / col("m").cast("double"), 6)
        .as("mean_per_minute"),
      round(num.cast("double") / den.cast("double"), 6).as("fano"),
      (num * lit(2) > den * lit(3)).as("bursty"))
  }

  /** Value-binned PSI drift between the time halves — the THIRD drift
    * lens beside [[ksValueDrift]] (max ECDF gap) and
    * [[valueWassersteinDrift]] (mass moved): PSI weights each bin's
    * shift by its log-ratio, the banking-standard population-stability
    * score with its conventional 0.1/0.25 action thresholds. Add-one
    * smoothing over the union bin grid keeps one-sided bins finite.
    *
    * Determinism: smoothed shares are ratios of exact integers
    * (identical doubles); each bin's term is re-pinned to BIGINT
    * micro-units before the one order-dependent sum. Shape: the same
    * bounded value-range grid as KS/W1. */
  def valuePsiDrift(events: DataFrame): DataFrame = {
    val counts = binHalves(events)
    val tot = counts.agg(sum("c1").as("n1"), sum("c2").as("n2"),
      count(lit(1)).as("nb"))
    val p = (col("c1") + lit(1L)).cast("double") /
      (col("n1") + col("nb")).cast("double")
    val q = (col("c2") + lit(1L)).cast("double") /
      (col("n2") + col("nb")).cast("double")
    val term = round((p - q) * log(p / q) * lit(1000000.0), 0).cast("long")
    counts.crossJoin(broadcast(tot))
      .agg(max("n1").as("n_first"), max("n2").as("n_second"),
        max("nb").as("n_bins"), sum(term).as("psi_micro"))
      .select(col("n_first"), col("n_second"), col("n_bins"),
        round(col("psi_micro").cast("double") / lit(1000000.0), 6)
          .as("psi"))
  }

  /** Equi-DEPTH histogram of `value` — [[valueHistogram]]'s dual:
    * buckets hold (approximately) equal row counts instead of equal
    * width, the shape profilers and quantile-bucketed joins want when
    * the distribution is skewed (equi-width piles everything into two
    * buckets).
    *
    * Scale shape — the broadcast-boundary form, NOT ntile: ntile needs
    * a TOTAL order, i.e. one serial global sort-and-number task. Here
    * the `buckets−1` exact interior percentile boundaries collapse to a
    * ONE-ROW frame (percentile's partial aggregation is distributed),
    * cross-joined back as a broadcast, and membership is a chain of
    * `value > boundary` comparisons — all codegen, no corpus sort.
    * Boundary ties go LOW (strict >), pinned identically in the
    * oracle; `percentile` ↔ DuckDB `quantile_cont` share the
    * interpolated-rank definition ([[DocOps.tokenPercentilesBySource]]
    * established the parity). */
  def valueEquidepthHistogram(events: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    val bounds = events.agg(percentile(col("value"),
      array(fracs.map(lit): _*)).as("bs"))
    val bucket = fracs.indices
      .map(i => when(col("value") > element_at(col("bs"), i + 1), 1)
        .otherwise(0))
      .reduce(_ + _)
    events.crossJoin(broadcast(bounds))
      .select(col("value"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("value").as("min_value"), max("value").as("max_value"))
  }

  /** As-of join: for every event, the most recent STRICTLY-earlier
    * 'purchase' event of the same user. Spark lacks a native as-of
    * join; rather than a per-key collect or a nested-loop range join,
    * this composes built-ins into the scalable sort-merge shape
    * (SURVEY.md §7 preference (a)): tag purchases, union with events,
    * one (user, time) sort, `last(ignoreNulls)` window fill, keep event
    * rows. One shuffle on user_id; linear in |events|+|purchases|.
    *
    * Determinism: purchases are pre-deduped to one row per (user, ts)
    * — max event_id — mirroring what the oracle's ASOF JOIN needs to
    * be unambiguous; same-ts purchases sort AFTER event rows (tag
    * ordering) so "strictly earlier" holds.
    */
  def asofLastPurchase(events: DataFrame): DataFrame = {
    val purchases = {
      val w = Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      events.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
    }
    val taggedEvents = events.select(
      col("event_id"), col("user_id"), col("ts"),
      lit(0).as("tag"), lit(null).cast("long").as("p_event_id"),
      lit(null).cast("double").as("p_value"))
    val taggedPurch = purchases.select(
      lit(null).cast("long").as("event_id"), col("user_id"), col("ts"),
      lit(1).as("tag"), col("p_event_id"), col("p_value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedEvents.unionByName(taggedPurch)
      .withColumn("last_purchase_event",
        last(col("p_event_id"), ignoreNulls = true).over(w))
      .withColumn("last_purchase_value",
        last(col("p_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === 0)
      .select("event_id", "user_id", "ts",
        "last_purchase_event", "last_purchase_value")
  }

  /** FORWARD as-of join with a tolerance — [[asofLastPurchase]]'s
    * mirror, the "time-to-next-conversion" shape attribution and
    * churn models need: for every event, the NEXT strictly-later
    * purchase of the same user, nulled out when it arrives more than
    * `toleranceSec` later (an unbounded forward match credits events
    * years before the purchase). Same composed sort-merge shape: tag,
    * union, ONE (user, time) sort, `first(ignoreNulls)` over the
    * FORWARD frame — purchases sort BEFORE events at equal ts so
    * "strictly later" holds, the tag-ordering mirror of the backward
    * join's trick. One shuffle on user_id, linear in the union. */
  def asofNextPurchase(events: DataFrame,
      toleranceSec: Long = 604800L): DataFrame = {
    val purchases = {
      val w = Window.partitionBy("user_id", "ts").orderBy(col("event_id").desc)
      events.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
    }
    val taggedEvents = events.select(
      col("event_id"), col("user_id"), col("ts"),
      lit(1).as("tag"), lit(null).cast("timestamp").as("p_ts"),
      lit(null).cast("long").as("p_event_id"),
      lit(null).cast("double").as("p_value"))
    val taggedPurch = purchases.select(
      lit(null).cast("long").as("event_id"), col("user_id"), col("ts"),
      lit(0).as("tag"), col("ts").as("p_ts"), col("p_event_id"),
      col("p_value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tolUs = toleranceSec * 1000000L
    val within = col("np_ts").isNotNull &&
      unix_micros(col("np_ts")) - unix_micros(col("ts")) <= lit(tolUs)
    taggedEvents.unionByName(taggedPurch)
      .withColumn("np_ts", first(col("p_ts"), ignoreNulls = true).over(w))
      .withColumn("np_event",
        first(col("p_event_id"), ignoreNulls = true).over(w))
      .withColumn("np_value",
        first(col("p_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(within, col("np_event")).as("next_purchase_event"),
        when(within, col("np_value")).as("next_purchase_value"),
        when(within, unix_micros(col("np_ts")) - unix_micros(col("ts")))
          .as("usec_to_purchase"))
  }

  /** l-diversity profile — [[kAnonymityProfile]]'s companion: a class
    * can be k-anonymous yet leak everything if all its rows share one
    * sensitive value. Per quasi-identifier class, the count of
    * DISTINCT sensitive values (here user_id), histogrammed; classes
    * with `l_distinct` below `l` are attribute-disclosure risks. */
  def lDiversityProfile(events: DataFrame, l: Int = 3): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("l_distinct"),
        count(lit(1)).as("class_size"))
      .groupBy("l_distinct")
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_rows"))
      .select(col("l_distinct"), col("n_classes"), col("n_rows"),
        (col("l_distinct") < lit(l.toLong)).as("below_l"))

  /** t-closeness profile (Li et al. '07) — the third rung of the
    * privacy ladder after [[kAnonymityProfile]] (group size) and
    * [[lDiversityProfile]] (sensitive diversity): even a large,
    * diverse class leaks if its SENSITIVE DISTRIBUTION differs from
    * the table's (a class that is 90% high-value when the corpus is
    * 10% reveals value by membership alone). Per quasi-identifier
    * class (event_type, day — the suite's shared QI), the Earth
    * Mover's Distance between the class's and the global `value`
    * distribution over `bins` ordered equi-width buckets:
    * EMD = Σ_i |CumP_i − CumQ_i| / (m−1). Exact arithmetic: each
    * cumulative difference cross-multiplies to the BIGINT
    * CumC_i·N − CumG_i·n (no per-class rational rounding), |·| sums
    * exactly, and ONE double division by n·N·(m−1) lands the EMD;
    * the flag compares the 6dp-rounded EMD so both engines agree at
    * the boundary. A degenerate single-value corpus puts everything
    * in bin 0 → EMD 0.
    *
    * Shape: one (class, bin) hash agg collapses the log; the
    * zero-filled class×bins grid, per-class prefix sums (partitioned
    * window) and the division all run on |classes|·bins rows. */
  def tClosenessProfile(events: DataFrame, t: Double = 0.2,
      bins: Int = 10): DataFrame = {
    val base = events.select(col("event_type"), to_date(col("ts")).as("day"),
      col("value"))
    val mm = base.agg(min("value").as("vmin"), max("value").as("vmax"))
    val binned = base.crossJoin(broadcast(mm))
      .select(col("event_type"), col("day"),
        when(col("vmax") > col("vmin"),
          least(floor((col("value") - col("vmin")) /
            ((col("vmax") - col("vmin")) / lit(bins.toDouble))),
            lit((bins - 1).toLong)))
          .otherwise(lit(0L)).cast("long").as("bin"))
    val cls = binned.groupBy("event_type", "day", "bin")
      .agg(count(lit(1)).as("c"))
    val classes = cls.groupBy("event_type", "day").agg(sum("c").as("n"))
    val globalBins = cls.groupBy("bin").agg(sum("c").as("g"))
    val binFrame = mm.select(
      explode(sequence(lit(0L), lit((bins - 1).toLong))).as("bin"))
    val globalFilled = binFrame.join(globalBins, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("g"), lit(0L)).as("g"))
    val nn = globalFilled.agg(sum("g").as("nn"))
    val grid = classes.crossJoin(broadcast(globalFilled))
      .join(cls, Seq("event_type", "day", "bin"), "left")
      .select(col("event_type"), col("day"), col("bin"), col("n"),
        col("g"), coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy("event_type", "day").orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cum_c", sum(col("c")).over(w))
      .withColumn("cum_g", sum(col("g")).over(w))
    cum.crossJoin(broadcast(nn))
      .groupBy(col("event_type"), col("day"), col("n"), col("nn"))
      .agg(sum(abs(col("cum_c") * col("nn") - col("cum_g") * col("n")))
        .as("emd_num"))
      .select(col("event_type"), col("day"), col("n"),
        round(col("emd_num").cast("double") /
          (col("n") * col("nn") * lit((bins - 1).toLong)).cast("double"), 6)
          .as("emd"))
      .withColumn("above_t", col("emd") > lit(t))
  }

  /** Time-range self-join: pairs of same-user events within `windowSec`
    * of each other, as a TIME-BUCKETED equi-join: each row gets a
    * `windowSec`-wide epoch bucket; the left side probes its own bucket
    * and the next one (a forward window of `windowSec` can only land in
    * those two), so the join key is (user_id, bucket) and the per-key
    * fan-out is bounded by two buckets of one user's events — a skewed
    * user is no longer quadratic in their full history. Each qualifying
    * pair matches exactly one probe bucket, so no dedup is needed. The
    * range + id predicates remain as post-join filters. */
  def rangeJoinPairs(events: DataFrame, windowSec: Int = 60): DataFrame = {
    val base = events.select(
      col("event_id"), col("user_id"), col("ts"),
      floor(unix_timestamp(col("ts")) / lit(windowSec)).cast("long").as("tb"))
    val probes = base.select(
      col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"),
      explode(array(col("tb"), col("tb") + 1)).as("tb"))
    val build = base.select(
      col("event_id").as("b_id"), col("user_id"), col("ts").as("b_ts"),
      col("tb"))
    probes.join(build, Seq("user_id", "tb"))
      .filter(
        col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr(s"INTERVAL $windowSec SECONDS") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("user_id"))
  }

  /** Per-user session stats built on [[sessionize]]. */
  def sessionStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionize(events, gapMinutes)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(Num.dec2(col("value"))), 4).cast("double")
          .as("session_value"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))

  /** Cohort retention: users bucketed by their first-active day (the
    * cohort), counted on each later active day as an offset from that
    * day — the (cohort_day, day_offset, n_users) triangle every
    * product-analytics stack derives. Row at offset 0 is the cohort's
    * size, so rates are a ratio away; counts are kept exact (no
    * engine-dependent float division in the gated output).
    *
    * Shape: distinct (user, day) pairs — one exchange — then the
    * per-user first day as a window min — second exchange, on the
    * 100×-smaller distinct frame — then one small aggregation on
    * (cohort, offset), which is bounded by the SQUARE of the date
    * span regardless of corpus size. No joins: the window form reads
    * the distinct frame once, where the textbook first-day-join shape
    * would shuffle it twice more. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    days
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy("user_id")))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-user z-score outliers from EXACT decimal moments — anomaly
    * flagging without `stddev()` (whose float sum is summation-order
    * dependent and can't hash-match an oracle). Algebra avoids the
    * mean entirely: z = (n·x − Σx) / sqrt(n·Σx² − (Σx)²), every
    * operand an exact decimal cast to double at a fixed point, so the
    * score — and therefore the |z| > threshold row set — is
    * bit-identical in both engines. One user-keyed moment aggregation
    * joined back to the events; both sides shuffle on user_id, one
    * reused exchange. Users with n < 2 have no spread and are
    * excluded (their z would be 0/0). */
  def valueOutliers(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    val x = Num.dec2(col("value"))
    val m = events.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"),
      sum(x * x).as("sxx"))
    val z = (col("n") * x - col("sx")).cast("double") /
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
    events.join(m, "user_id")
      .filter(col("n") >= 2 && abs(z) > threshold)
      .select(col("event_id"), col("user_id"), col("value"), z.as("zscore"))
  }

  /** Seasonal-baseline anomaly detection: each (event_type, day)'s
    * count scored against ITS DAY-OF-WEEK's distribution — the
    * seasonality [[valueOutliers]]'s global per-key z ignores (a quiet
    * Sunday is normal; the same count on a Tuesday is an incident).
    * The weekday grouping is the simplest seasonal profile real
    * freshness monitors run.
    *
    * Determinism: daily counts are integers, so all moments (k, Σn,
    * Σn²) stay exact in LONG and the z-score is a single division of
    * exactly-computed operands — bit-identical in both engines, the
    * [[valueOutliers]] discipline. Zero-variance groups (every same-
    * weekday count identical) are excluded rather than emitting 0/0.
    * The day-of-week NUMBER never appears in the output, so Spark's
    * 1=Sunday vs DuckDB's 0=Sunday disagreement cannot matter — both
    * partition the days identically. */
  def dowAnomalies(events: DataFrame, threshold: Double = 2.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", dayofweek(col("day")))
    val m = daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("k"), sum("n").as("sn"),
        sum(col("n") * col("n")).as("snn"))
    // population z over exact integer moments: (k·n − Σn)/√(k·Σn² − Σn²)
    val z = (col("k") * col("n") - col("sn")).cast("double") /
      sqrt((col("k") * col("snn") - col("sn") * col("sn")).cast("double"))
    daily.join(m, Seq("event_type", "dow"))
      .filter(col("k") >= 2 &&
        col("k") * col("snn") - col("sn") * col("sn") > 0L)
      .select(col("event_type"), col("day"), col("n"),
        round(z, 4).as("zscore"),
        (abs(z) >= threshold).as("is_anomaly"))
  }

  /** Ordered conversion funnel (view → click → purchase), cohorted by
    * first-view day: per user, the first view, the first click STRICTLY
    * AFTER it, and the first purchase strictly after that — the
    * sequential-milestone analysis every product pipeline runs.
    * Relational shape: three per-user `min` aggregations, each joined
    * to the previous stage's timestamp, all keyed on user_id — one
    * exchange whose partitioning every later stage reuses; `count(col)`
    * over the left-joined stage timestamps counts converters without
    * conditionals. No windows, no per-user sort. */
  def conversionFunnel(events: DataFrame): DataFrame = {
    val fv = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("first_view"))
    val fc = events.filter(col("event_type") === "click")
      .join(fv, "user_id")
      .filter(col("ts") > col("first_view"))
      .groupBy("user_id").agg(min("ts").as("first_click"))
    val fp = events.filter(col("event_type") === "purchase")
      .join(fc, "user_id")
      .filter(col("ts") > col("first_click"))
      .groupBy("user_id").agg(min("ts").as("first_purchase"))
    fv.join(fc, Seq("user_id"), "left")
      .join(fp, Seq("user_id"), "left")
      .groupBy(to_date(col("first_view")).as("cohort_day"))
      .agg(
        count(lit(1)).as("n_viewed"),
        count(col("first_click")).as("n_clicked"),
        count(col("first_purchase")).as("n_purchased"))
  }

  /** Trend smoothing over the daily series: 7-day trailing moving
    * average (a ROWS frame) and day-over-day percent change (lag) on
    * top of the daily counts. The window is GLOBAL (one partition) —
    * safe ONLY because it runs over the already-aggregated series (one
    * row per day: 36,500 rows for a century), never over raw events;
    * the heavy lifting is the same partial+final count as
    * [[dailyCounts]]. Day-over-day division is BIGINT-exact before one
    * final rounding. */
  def dailyMovingAvg(events: DataFrame): DataFrame = {
    val byDay = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("toots"))
    // NOTE: WindowExec logs "No Partition Defined ... serious
    // performance degradation" for this window on every run. It is
    // safe HERE for the reason in the scaladoc (post-aggregation
    // series, ≤1 row/day); a constant partitionBy(lit) does not
    // silence it — Catalyst strips foldable partition expressions —
    // so Bench/Verify quiet that one logger instead.
    val w = Window.orderBy(col("day"))
    byDay.select(
      col("day"), col("toots"),
      round(avg(col("toots")).over(w.rowsBetween(-6, 0)), 4).as("ma7"),
      round((col("toots") - lag(col("toots"), 1).over(w)).cast("double") /
        lag(col("toots"), 1).over(w), 4).as("dod_change"))
  }

  /** Distribution-position window functions per user: quartile
    * (ntile), percent_rank and cume_dist of each event's value within
    * its user's history. The window orders by (value, event_id) — a
    * TOTAL order, which ntile needs for determinism (ties split
    * arbitrarily under a partial order) and which pins percent_rank /
    * cume_dist too. One exchange on user_id + one in-partition sort;
    * user partitions are small and uniform, so no skew handling
    * needed — this is the W-family shape at its cheapest. */
  def valueRankStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").asc, col("event_id").asc)
    events.select(
      col("event_id"), col("user_id"), col("value"),
      ntile(4).over(w).cast("long").as("quartile"),
      round(percent_rank().over(w), 4).as("pct_rank"),
      round(cume_dist().over(w), 4).as("cum_dist"))
  }

  /** Robust center/spread per event type: exact median and MAD
    * (median absolute deviation) — the outlier-resistant counterpart
    * to [[valueOutliers]]'s moment z-scores. Two passes by necessity
    * (MAD is a median OF deviations from a median): a per-type median
    * agg broadcast back onto the stream, then a second median agg of
    * the absolute deviations. Exact `median` sorts within each group —
    * the documented cost ceiling; at 100 TB swap `percentile_approx`
    * (same shape, sketch merge instead of sort) exactly as
    * [[approxValuePercentiles]] does for [[valuePercentiles]]. */
  def valueMadByType(events: DataFrame): DataFrame = {
    val med = events.groupBy("event_type")
      .agg(median(col("value")).as("med"))
    events.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(
        round(max(col("med")), 4).as("med"),
        round(median(abs(col("value") - col("med"))), 4).as("mad"),
        count(lit(1)).as("n"))
  }

  /** The promised 100 TB twin of [[valueMadByType]] — the PRODUCTION
    * path: the same two-pass median/MAD shape with `percentile_approx`
    * (mergeable GK sketch, accuracy 10000 → rank error ≤ 0.01%)
    * replacing the exact per-group `median` sorts. No exact columns
    * anywhere, so the swap is callable at 100 TB without per-group
    * sorts; [[valueMadByTypeApprox]] is its hash-gated audit. */
  def valueMadByTypeApproxOnly(events: DataFrame): DataFrame = {
    val medA = events.groupBy("event_type")
      .agg(percentile_approx(col("value"), lit(0.5), lit(10000))
        .as("med_a"))
    events.join(broadcast(medA), "event_type")
      .groupBy("event_type")
      .agg(max(col("med_a")).as("med_a"),
        percentile_approx(abs(col("value") - col("med_a")), lit(0.5),
          lit(10000)).as("mad_a"),
        count(lit(1)).as("n"))
  }

  /** Audit gate for [[valueMadByTypeApproxOnly]], under the
    * [[approxDistinctAudit]] contract: the sketch estimates are not
    * SQL-derivable, so the emitted columns are the EXACT median/MAD/n
    * (oracle-recomputable) plus `within_tol` — and the flag tests the
    * property the GK sketch actually GUARANTEES (ADVICE r12): each
    * returned value's RANK in its group sits within ε·n (+1 row of
    * rounding cushion) of the median rank. A relative-VALUE tolerance
    * would flip spuriously on heavy-tailed groups where adjacent
    * ranks differ >5% in value, and percentile_approx results can
    * legitimately vary with partition/merge order — but ANY value the
    * guarantee admits passes the rank gate, so the flag is stable.
    * The MAD gate checks `mad_a` against the deviations-from-`med_a`
    * multiset (what the second sketch actually ranks), not
    * deviations-from-exact-median. A broken sketch swap or silently
    * loosened accuracy still flips the flag and fails the hash gate. */
  def valueMadByTypeApprox(events: DataFrame): DataFrame = {
    val eps = 1.0 / 10000
    val approx = valueMadByTypeApproxOnly(events)
      .select("event_type", "med_a", "mad_a")
    val dev = abs(col("value") - col("med_a"))
    val gates = events.join(broadcast(approx), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_g"),
        sum(when(col("value") <= col("med_a"), 1L).otherwise(0L)).as("le_med"),
        sum(when(col("value") < col("med_a"), 1L).otherwise(0L)).as("lt_med"),
        sum(when(dev <= col("mad_a"), 1L).otherwise(0L)).as("le_mad"),
        sum(when(dev < col("mad_a"), 1L).otherwise(0L)).as("lt_mad"))
    def rankOk(le: Column, lt: Column): Column = {
      val n = col("n_g").cast("double")
      (le.cast("double") >= ceil((lit(0.5) - lit(eps)) * n) - lit(1.0)) &&
        (lt.cast("double") <= floor((lit(0.5) + lit(eps)) * n) + lit(1.0))
    }
    valueMadByType(events).join(gates, "event_type")
      .select(col("event_type"), col("med"), col("mad"), col("n"),
        (rankOk(col("le_med"), col("lt_med")) &&
          rankOk(col("le_mad"), col("lt_mad"))).as("within_tol"))
  }

  /** Weight-of-evidence value bins — the credit-scoring/tabular-ML
    * feature transform beside [[graft.ops.AggOps.targetEncodePriority]]'s
    * categorical encode: fixed-width bins of `value`, each scored by
    * WOE = ln(share-of-positives / share-of-negatives) with the label
    * "event is a purchase", plus its information-value term
    * (dist_pos − dist_neg)·WOE — Σ iv_term is the feature's IV. Bins
    * with zero mass on either side have no finite WOE and are
    * EXCLUDED (the standard treatment; a production encode would
    * smooth them — [[targetEncodePriority]] shows that shrink).
    *
    * Determinism: counts exact; the log argument is the exact-integer
    * cross product (n_pos·tot_neg)/(tot_pos·n_neg), each factor cast
    * to DOUBLE before multiplying, ln on the identical double (the
    * unigram_kl contract); iv_term multiplies the UNROUNDED woe.
    * Shape: one scan → |bins| hash agg; totals broadcast back. */
  def woeValueBins(events: DataFrame, binWidth: Double = 10.0,
      positiveType: String = "purchase"): DataFrame = {
    val bins = events
      .select(floor(col("value") / lit(binWidth)).cast("long").as("bin"),
        when(col("event_type") === lit(positiveType), 1L).otherwise(0L)
          .as("pos"))
      .groupBy("bin")
      .agg(sum(col("pos")).as("n_pos"),
        sum(lit(1L) - col("pos")).as("n_neg"))
    val tot = bins.agg(sum(col("n_pos")).as("tot_pos"),
      sum(col("n_neg")).as("tot_neg"))
    val woeRaw = log(
      (col("n_pos").cast("double") * col("tot_neg").cast("double")) /
        (col("tot_pos").cast("double") * col("n_neg").cast("double")))
    val distDiff =
      col("n_pos").cast("double") / col("tot_pos").cast("double") -
        col("n_neg").cast("double") / col("tot_neg").cast("double")
    bins.crossJoin(broadcast(tot))
      .filter(col("n_pos") > 0L && col("n_neg") > 0L)
      .select(col("bin"), col("n_pos"), col("n_neg"),
        round(woeRaw, 6).as("woe"),
        round(distDiff * woeRaw, 6).as("iv_term"))
  }

  /** k-anonymity risk profile — the data-governance primitive run
    * before releasing or joining quasi-identifiable data: group rows
    * by their quasi-identifier tuple (here the (event_type, day) pair
    * — swap columns per dataset), then histogram the equivalence-class
    * sizes. Rows in classes smaller than `k` are re-identifiable at
    * 1-in-class_size odds; `below_k` marks them so the caller can
    * read "how many rows violate k=5" straight off the n_rows sums.
    * Two exact hash aggregations (QI collapse, then the size
    * histogram — second input is |classes| rows), no window, no join. */
  def kAnonymityProfile(events: DataFrame, k: Int = 5): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy("class_size").agg(count(lit(1)).as("n_classes"))
      .select(col("class_size"), col("n_classes"),
        (col("class_size") * col("n_classes")).as("n_rows"),
        (col("class_size") < lit(k.toLong)).as("below_k"))

  /** Robust per-type outliers — [[valueMadByType]] put to work: events
    * whose |value − median| exceeds `threshold` MADs of their type.
    * Where [[valueOutliers]]'s moment z-score is itself dragged by the
    * outliers it hunts (one 1000× spike inflates σ and hides the
    * 100× ones), median/MAD have a 50% breakdown point — the robust
    * anomaly flag every data-quality pipeline wants on heavy-tailed
    * values. Threshold is in raw MAD units (the 1.4826 normal-
    * consistency constant is deliberately NOT applied — stated so
    * callers porting a σ-threshold scale it themselves).
    *
    * Determinism: med/MAD are exact medians (identical interpolation
    * in both engines), the robust z is one pinned-order double
    * division rounded once at the end; zero-MAD types are excluded
    * rather than dividing by zero. Shape: two tiny |types|-row
    * broadcast joins onto the stream — no window, no second shuffle
    * of the raw log beyond the two median aggregations (whose exact
    * sorts are the documented ceiling; [[valueMadByTypeApproxOnly]]
    * is the 100 TB swap for the center/spread pass). */
  def valueOutliersRobust(events: DataFrame,
      threshold: Double = 8.0): DataFrame = {
    val med = events.groupBy("event_type")
      .agg(median(col("value")).as("med"))
    val spread = events.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(max(col("med")).as("med"),
        median(abs(col("value") - col("med"))).as("mad"))
    events.join(broadcast(spread), "event_type")
      .filter(col("mad") > lit(0.0) &&
        abs(col("value") - col("med")) / col("mad") > lit(threshold))
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("med")) / col("mad"), 4).as("robust_z"))
  }

  /** First-order Markov transition matrix over event types: for each
    * (type → next type) step within a user's timeline, the step count
    * and the conditional probability P(next | current). The sequence
    * is pinned to a TOTAL order (ts, event_id) so `lead` is
    * deterministic under timestamp ties. The probability is an exact
    * integer ratio (count / row-count of the from-type) divided once
    * in double — bit-stable across engines.
    *
    * Shape at scale: ONE exchange on user_id + an in-partition sort
    * feeds `lead`, then the (type, next) agg is a tiny hash agg whose
    * output is at most |types|² rows; the per-from-type totals come
    * from the SAME aggregated frame (a second agg over |types|² rows,
    * broadcast back) — the raw stream is scanned once and shuffled
    * once. */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val steps = events
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n_steps"))
    val fromTot = steps.groupBy("event_type")
      .agg(sum(col("n_steps")).as("n_from"))
    steps.join(broadcast(fromTot), "event_type")
      .select(col("event_type"), col("next_type"), col("n_steps"),
        round(col("n_steps").cast("double") / col("n_from").cast("double"),
          6).as("p_next"))
  }

  /** Stationary distribution of the event-type Markov chain — where
    * the [[eventTransitions]] matrix SETTLES: π = πP by 20 pinned
    * power iterations from the uniform start, the long-run share of
    * time a user's journey spends in each type (the 1-step transition
    * table answers "what follows a click"; this answers "what the
    * process is mostly doing"). Rows with no observed successors use
    * the uniform row 1/k (the dangling-node convention PageRank also
    * uses).
    *
    * Determinism: transition counts are exact BIGINTs; each p_ij is
    * ONE division of identical operands; every Σ_i π_i·p_ij folds in
    * ascending type order on BOTH rails (Spark `aggregate` left fold
    * here, DuckDB `list_reduce` left fold in the oracle), so the
    * trajectories are bit-identical — pure +/×, no libm; one 6dp
    * round at the end.
    *
    * Scale: after the (from, to) count collapse everything lives on a
    * single |types|²-cell row (≤ 25 cells for this log); the k² × 20
    * HOF arithmetic is driver-free and data-size-independent. */
  def stationaryTypeDistribution(events: DataFrame,
      iters: Int = 20): DataFrame =
    chainPacked(events, iters)
      .select(posexplode(arrays_zip(col("types"), col("pi"))))
      .select(col("col.types").as("event_type"),
        round(col("col.pi"), 6).as("stationary_p"))

  /** The packed event-type chain ONE definition
    * ([[stationaryTypeDistribution]] and [[entropyRateChain]] share
    * it, the shared-propagation convention): a single row with the
    * sorted type list, the dense row-stochastic matrix `pm` (uniform
    * dangling rows) and `pi`, the distribution after `iters` pinned
    * power iterations from uniform. */
  private def chainPacked(events: DataFrame, iters: Int): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val c = events.select(col("event_type").as("f"),
        lead(col("event_type"), 1).over(w).as("t"))
      .filter(col("t").isNotNull)
      .groupBy("f", "t").agg(count(lit(1)).as("c"))
    val packed = c.agg(
      array_sort(array_distinct(flatten(
        collect_list(array(col("f"), col("t")))))).as("types"),
      collect_list(struct(col("f"), col("t"), col("c"))).as("ent"))
      .filter(size(col("types")) > 0)
    val k = size(col("types"))
    def ty(i: Column) = element_at(col("types"), i.cast("int"))
    def cOf(i: Column, j: Column): Column =
      // try_element_at: absent (i, j) cells are a 0-count, not an
      // ANSI index error on the empty filtered list
      coalesce(try_element_at(transform(filter(col("ent"),
        e => e.getField("f") === ty(i) && e.getField("t") === ty(j)),
        e => e.getField("c")), lit(1)), lit(0L))
    val p = transform(sequence(lit(1), k), i => {
      val rt = aggregate(sequence(lit(1), k), lit(0L),
        (a, j) => a + cOf(i, j))
      transform(sequence(lit(1), k), j =>
        when(rt > 0L, cOf(i, j).cast("double") / rt.cast("double"))
          .otherwise(lit(1.0) / k.cast("double")))
    })
    val pi0 = transform(sequence(lit(1), k),
      _ => lit(1.0) / k.cast("double"))
    val withP = packed.select(col("types"), p.as("pm"), pi0.as("p0"))
    val piN = aggregate(sequence(lit(1), lit(iters)), col("p0"),
      (pi, _) => transform(sequence(lit(1), size(col("types"))), j =>
        aggregate(sequence(lit(1), size(col("types"))), lit(0.0),
          (a, i) => a + element_at(pi, i.cast("int")) *
            element_at(element_at(col("pm"), i.cast("int")),
              j.cast("int")))))
    withP.select(col("types"), col("pm"), piN.as("pi"))
  }

  /** Entropy rate of the event-type Markov chain — how unpredictable
    * the NEXT step of a user journey is once the chain has settled:
    *
    *   H = −Σ_i π_i Σ_j p_ij ln p_ij   (nats/step),
    *
    * with π the [[stationaryTypeDistribution]] 20-iteration vector and
    * p the SAME dense matrix (one shared [[chainPacked]] definition —
    * the shared-propagation convention). 0 for a deterministic chain,
    * ln k for a uniformly random one; the journey-level compression
    * bound behind "how templated is our funnel".
    *
    * Determinism: every fold runs in ascending index order on both
    * rails (the stationary parity); the ln terms re-evaluate natural
    * log on both engines — the same residual 1-ulp libm assumption the
    * Zipf/KL/Jensen-Shannon family carries (documented there), behind
    * one 6dp round. Scale: identical to stationary — a single
    * |types|²-cell row after the one corpus collapse. */
  def entropyRateChain(events: DataFrame, iters: Int = 20): DataFrame = {
    val pk = chainPacked(events, iters)
    val k = size(col("types"))
    def pmAt(i: Column, j: Column) =
      element_at(element_at(col("pm"), i.cast("int")), j.cast("int"))
    val hs = transform(sequence(lit(1), k), i =>
      aggregate(sequence(lit(1), k), lit(0.0), (a, j) =>
        a + when(pmAt(i, j) > 0.0, -(pmAt(i, j) * log(pmAt(i, j))))
          .otherwise(lit(0.0))))
    val rate = aggregate(sequence(lit(1), size(col("types"))), lit(0.0),
      (a, i) => a + element_at(col("pi"), i.cast("int")) *
        element_at(col("hs"), i.cast("int")))
    pk.select(col("types"), col("pi"), hs.as("hs"))
      .select(col("types"), col("pi"), col("hs"), rate.as("rate"))
      .select(posexplode(arrays_zip(col("types"), col("pi"), col("hs"))),
        col("rate"))
      .select(col("col.types").as("event_type"),
        round(col("col.pi"), 6).as("stationary_p"),
        round(col("col.hs"), 6).as("h_state_nats"),
        round(col("rate"), 6).as("entropy_rate_nats"))
  }

  /** Markov-chain removal-effect attribution (Anderl et al. '14) —
    * the data-driven multi-touch model completing the attribution
    * family beside the heuristic linear / time-decay / U-shaped
    * credits: journeys are walks START → channel → … → CONV
    * (purchase) or NULL (journey ends unconverted), and a channel's
    * credit is its REMOVAL EFFECT — how much of the chain's conversion
    * probability disappears when every walk through that channel is
    * sent to NULL (p(channel) pinned to 0):
    *
    *   RE_c = 1 − P(conv | c removed) / P(conv),
    *   share_c = RE_c / Σ RE.
    *
    * Journey convention: a user's timeline (total order ts, event_id)
    * restarts a journey after each purchase; START enters at the first
    * event of each journey; a purchase immediately at journey start is
    * START → CONV. Absorption probabilities are 30 pinned fixed-point
    * iterations of p(i) = P(i→CONV) + Σ_j P(i→j)·p(j) from zero (the
    * truncated-horizon convention — a stated literal like the SPRT
    * boundaries; sub-stochastic rows make the iteration a monotone
    * contraction). The BASE chain runs through the SAME removal code
    * path with a never-matching sentinel index, so base and removal
    * trajectories share one arithmetic shape.
    *
    * Determinism: transition counts are exact BIGINTs; each p_ij is
    * one division of identical operands; every fold runs in ascending
    * index order on both rails (`aggregate` left fold here,
    * `list_reduce` in the oracle — the [[stationaryTypeDistribution]]
    * parity), pure +/× with no libm; 6dp rounds only at the output.
    *
    * Scale: one exchange on user_id feeds the lag/lead pair; the
    * (from, to) collapse leaves a single ≤(k+2)²-cell row, and the
    * (k+1) × 30 × k² HOF arithmetic is driver-free and
    * data-size-independent. */
  def markovRemovalAttribution(events: DataFrame,
      iters: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val seq0 = events.select(col("event_type").as("cur"),
      lag(col("event_type"), 1).over(w).as("prev"),
      lead(col("event_type"), 1).over(w).as("nxt"))
    val trans = seq0.filter(col("cur") =!= "purchase")
      .select(col("cur").as("f"),
        when(col("nxt").isNull, "__null")
          .when(col("nxt") === "purchase", "__conv")
          .otherwise(col("nxt")).as("t"))
      .groupBy("f", "t").agg(count(lit(1)).as("c"))
    val starts = seq0.filter(col("prev").isNull || col("prev") === "purchase")
      .select(when(col("cur") === "purchase", "__conv")
        .otherwise(col("cur")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val packed = trans.agg(
      array_sort(collect_set(col("f"))).as("chans"),
      collect_list(struct(col("f"), col("t"), col("c"))).as("ent"))
      .filter(size(col("chans")) > 0)
    val sPacked = starts.agg(
      collect_list(struct(col("t"), col("c"))).as("sent"))
    val one = packed.crossJoin(sPacked)
    val k = size(col("chans"))
    def ty(i: Column) = element_at(col("chans"), i.cast("int"))
    def entC(f: Column, t: Column): Column =
      coalesce(try_element_at(transform(filter(col("ent"),
        e => e.getField("f") === f && e.getField("t") === t),
        e => e.getField("c")), lit(1)), lit(0L))
    def sC(t: Column): Column =
      coalesce(try_element_at(transform(filter(col("sent"),
        e => e.getField("t") === t),
        e => e.getField("c")), lit(1)), lit(0L))
    // out(i) counts every outcome of channel i (next / __conv /
    // __null) — a long sum over the unordered entry list is exact
    def outC(i: Column): Column =
      aggregate(filter(col("ent"), e => e.getField("f") === ty(i)),
        lit(0L), (a, e) => a + e.getField("c"))
    def pij(i: Column, j: Column): Column =
      entC(ty(i), ty(j)).cast("double") / outC(i).cast("double")
    def convP(i: Column): Column =
      entC(ty(i), lit("__conv")).cast("double") / outC(i).cast("double")
    val sout = aggregate(col("sent"), lit(0L),
      (a, e) => a + e.getField("c"))
    val sconvP = sC(lit("__conv")).cast("double") / sout.cast("double")
    def sP(j: Column): Column =
      sC(ty(j)).cast("double") / sout.cast("double")
    // absorption vector after `iters` fixed-point steps with channel
    // index r pinned to 0 (r = 0: the never-matching base sentinel)
    def pAfter(r: Column): Column =
      aggregate(sequence(lit(1), lit(iters)),
        transform(sequence(lit(1), k), _ => lit(0.0)),
        (p, _) => transform(sequence(lit(1), k), i =>
          when(i === r, lit(0.0)).otherwise(
            convP(i) + aggregate(sequence(lit(1), k), lit(0.0),
              (a, j) => a + pij(i, j) * element_at(p, j.cast("int"))))))
    def startEval(r: Column, p: Column): Column =
      sconvP + aggregate(sequence(lit(1), k), lit(0.0),
        (a, j) => a + when(j === r, lit(0.0))
          .otherwise(sP(j) * element_at(p, j.cast("int"))))
    val ps = transform(sequence(lit(0), k), r => startEval(r, pAfter(r)))
    val withP = one.select(col("chans"), ps.as("ps"))
    val base = element_at(col("ps"), 1)
    def reOf(c: Column): Column = // c is the 1-based channel index
      when(base > 0.0,
        lit(1.0) - element_at(col("ps"), (c + lit(1)).cast("int")) / base)
    val reSum = aggregate(sequence(lit(1), size(col("chans"))), lit(0.0),
      (a, c) => a + coalesce(reOf(c), lit(0.0)))
    val rows = withP.select(col("chans"), col("ps"), base.as("p_base"),
      reSum.as("re_sum"))
      .select(posexplode(col("chans")).as(Seq("pos", "channel")),
        col("ps"), col("p_base"), col("re_sum"))
    val cIdx = col("pos") + lit(1) // posexplode is 0-based
    val re = when(col("p_base") > 0.0,
      lit(1.0) - element_at(col("ps"), (cIdx + lit(1)).cast("int")) /
        col("p_base"))
    rows.select(col("channel"),
      round(col("p_base"), 6).as("base_conv_p"),
      round(element_at(col("ps"), (cIdx + lit(1)).cast("int")), 6)
        .as("removal_conv_p"),
      round(re, 6).as("removal_effect"),
      when(col("re_sum") > 0.0, round(re / col("re_sum"), 6))
        .as("attribution_share"))
  }

  /** Slowly-changing-dimension type-2 history: per user, the maximal
    * runs of CONSECUTIVE events with the same event_type, each run
    * emitted as a validity interval — (user_id, event_type,
    * valid_from, valid_to, n_events), `valid_to` null on the open
    * (current) run. The change-data-capture primitive every warehouse
    * derives from an event log; the reference has no dimension
    * handling at all (SURVEY.md §2.3 gap-fill, like the join family).
    *
    * Gaps-and-islands on a TOTAL order (ts, event_id) so ties are
    * deterministic in both engines: lag() marks type changes, a
    * running sum of change flags numbers the islands, one aggregation
    * collapses each island, and lead() over the collapsed frame closes
    * each interval with the next island's start.
    *
    * Shape at scale: ONE exchange on user_id serves both window
    * functions and the island aggregation (same partitioning, Catalyst
    * reuses the sort); the second window (lead) runs on the
    * already-collapsed islands frame — orders of magnitude smaller
    * than the event log — so the expensive stages scale with users ×
    * type-changes, not raw events. */
  def scd2TypeHistory(events: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val islands = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTime).isNull ||
          lag(col("event_type"), 1).over(byTime) =!= col("event_type"),
          1L).otherwise(0L))
      .withColumn("island", sum(col("chg")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
    val byIsland = Window.partitionBy("user_id").orderBy(col("island").asc)
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byIsland))
      .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
  }

  /** Winsorized per-type value statistics: clamp each value into its
    * type's [p05, p95] band, then aggregate — the outlier-robust mean
    * a metrics pipeline uses when raw means are one fat-finger away
    * from garbage. Reports the clamped mean plus how many rows hit
    * each edge (the winsorization audit trail).
    *
    * Two-pass shape: an exact-percentile aggregation collapses to one
    * row per type (tiny), comes back as a BROADCAST join onto the raw
    * log (no second shuffle of the fact), and the clamped aggregation
    * is an ordinary partial+final hash agg. The mean is an exact
    * DECIMAL sum divided as a final double, so it is
    * summation-order-independent for the oracle gate. At 100 TB swap
    * the exact percentile for `approx_percentile` (same two-pass
    * shape, documented trade like valuePercentiles). */
  def winsorizedValueStats(events: DataFrame): DataFrame = {
    // Bounds are EMPIRICAL ORDER STATISTICS (Tukey's winsorizing, the
    // textbook form), not interpolated percentiles: interpolation is
    // an fp chain whose association order differs between Spark's
    // percentile and DuckDB's quantile_cont, and when the interpolated
    // bound lands on a 2dp rounding boundary the winsorized mean
    // diverges data-dependently (observed at sf0.001: 49.9813 vs
    // 49.9818 — ~10 clamped rows crossing a cent). The k-th smallest
    // cents value with k = ceil(p·n) is exact integer arithmetic end
    // to end. The k-th order statistic comes from the collapsed
    // (type, cents) value GRID (prefix counts over a bounded domain,
    // the Mann-Whitney construction) — no window ever touches the raw
    // event frame.
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    val grid = events.select(col("event_type"), cents.as("c"))
      .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
    val cum = grid
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("event_type").orderBy(col("c").asc)))
      .withColumn("nn", sum(col("cnt")).over(
        Window.partitionBy("event_type")))
    val bounds = cum.groupBy("event_type").agg(
      min(when(col("cum") >= expr("(nn + 19) div 20"), col("c"))).as("lo"),
      min(when(col("cum") >= expr("(19 * nn + 19) div 20"), col("c"))).as("hi"))
    val agg = events.select(col("event_type"), cents.as("c"))
      .join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"),
        least(greatest(col("c"), col("lo")), col("hi")).as("w"),
        (col("c") < col("lo")).cast("long").as("is_lo"),
        (col("c") > col("hi")).cast("long").as("is_hi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
        sum(col("is_lo")).as("n_lo"), sum(col("is_hi")).as("n_hi"))
    // half-up integer mean at 4dp (the Num.avgRound discipline; the
    // same nonnegativity guard — DuckDB's // floors negatives)
    val num = when(col("sw") >= 0L, col("sw") * lit(100L))
      .otherwise(raise_error(lit("winsorizedValueStats requires a " +
        "nonnegative winsorized sum (half-up integer rounding and the " +
        "DuckDB // mirror diverge on negatives)")))
    agg.withColumn("swg", num)
      .select(col("event_type"), col("n"),
        (expr("CAST((2 * swg + n) div (2 * n) AS DOUBLE)") / 10000.0)
          .as("w_mean"),
        col("n_lo"), col("n_hi"))
  }

  /** Incremental aggregation maintenance: daily (count, value-sum)
    * rollups computed as BASE PARTIALS (history before `cutoff`)
    * merged with DELTA PARTIALS (the new arrivals) — the union of two
    * pre-aggregated frames re-aggregated, never a rescan of history.
    * This is the 100 TB shape for any append-only log: the base side
    * is a stored rollup proportional to |days|, only the delta touches
    * raw data, and count/sum partials merge associatively (exact
    * decimal sum, so merge ≡ recompute bit-for-bit — which is exactly
    * what the oracle gate asserts by recomputing from scratch).
    *
    * Both partials pre-aggregate map-side before their exchange; the
    * merge is a second tiny hash agg over ≤ 2·|days| rows. */
  def incrementalDailyStats(events: DataFrame,
      cutoff: String = "2024-01-16"): DataFrame = {
    def partial(part: DataFrame): DataFrame = part
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("toots"),
        sum(Num.dec2(col("value"))).as("value_sum"))
    val base = partial(events.filter(to_date(col("ts")) < lit(cutoff)))
    val delta = partial(events.filter(to_date(col("ts")) >= lit(cutoff)))
    base.unionByName(delta)
      .groupBy("day")
      .agg(sum(col("toots")).as("toots"),
        round(sum(col("value_sum")), 4).cast("double").as("value_sum"))
  }

  /** CDC MERGE-apply: the event log read as a CHANGELOG over a
    * user-keyed state table — `error` events are DELETE tombstones,
    * everything else an UPSERT of `value`. The base snapshot (latest
    * change per user before `cutoff`, tombstones RETAINED) is merged
    * with the delta changelog through one user-keyed FULL OUTER join
    * where a delta row wins wholesale (row-level precedence via
    * `when(delta present)`, never per-column coalesce — a legitimate
    * NULL in the delta must not resurrect the base's value);
    * tombstones drop only at publish. This is the MERGE INTO shape
    * Spark lacks without a table format: the contract the gate proves
    * is apply(base, delta) ≡ latest-state recompute over the whole
    * log — the DuckDB oracle does the full recompute.
    *
    * Scale: base and delta each collapse to ≤ |users| rows via
    * TopKRewrite'd latest-per-key windows BEFORE the join (both sides
    * user-partitioned, AQE-broadcastable when small); the raw log is
    * scanned once per side, never joined row-to-row. */
  def cdcApplyChanges(events: DataFrame,
      cutoff: String = "2024-01-16"): DataFrame = {
    def latestState(part: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      part.select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn", "event_id")
    }
    val cut = to_timestamp(lit(cutoff))
    val base = latestState(events.filter(col("ts") < cut)).as("b")
    val delta = latestState(events.filter(col("ts") >= cut)).as("d")
    val deltaWins = col("d.op").isNotNull
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(deltaWins, col("d.op")).otherwise(col("b.op")).as("op"),
        when(deltaWins, col("d.value")).otherwise(col("b.value"))
          .as("value"),
        when(deltaWins, col("d.ts")).otherwise(col("b.ts"))
          .as("updated_at"))
      .filter(col("op") =!= "delete")
      .select("user_id", "value", "updated_at")
  }

  /** Z-set aggregate maintenance — IVM for aggregates under
    * RETRACTIONS, the signed-multiset model behind DBSP/Materialize
    * (Budiu et al. '23) and the missing sibling of
    * [[incrementalDailyStats]] (append-only partials) and
    * [[cdcApplyChanges]] (row-level upserts): `error` events retract
    * (multiplicity −1), everything else inserts (+1), and the
    * per-user state is the COLLAPSED signed multiset of (value, m)
    * entries. SUM/COUNT maintain from scalars alone, but MIN/MAX are
    * not mergeable under deletes — a retraction of the current min
    * must resurface the runner-up, which only the multiset remembers;
    * that is exactly why the state is (value, m) rows and not four
    * numbers. base ⊕ delta is pure per-entry addition (zero entries
    * normalize away), so apply(base, delta) ≡ full recompute — the
    * contract the gate proves. Value sums ride DECIMAL(12,2)·m
    * (order-exact); negative net multiplicities (an unmatched
    * retract) are kept, with NULL live min/max when no entry is
    * positive.
    *
    * Scale: the multiset collapse is the one corpus agg; state size
    * is distinct (user, value) — bounded by the 2dp value grid per
    * user — and every maintenance step is an equi-keyed sum, never a
    * rescan of the base log. */
  def ivmZsetAgg(events: DataFrame,
      cutoff: String = "2024-01-16"): DataFrame = {
    def zset(part: DataFrame): DataFrame =
      part.select(col("user_id"),
          when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L))
            .as("s"),
          col("value"))
        .groupBy("user_id", "value").agg(sum(col("s")).as("m"))
    val cut = to_timestamp(lit(cutoff))
    val base = zset(events.filter(col("ts") < cut))
    val delta = zset(events.filter(col("ts") >= cut))
    base.unionByName(delta)
      .groupBy("user_id", "value").agg(sum(col("m")).as("m"))
      .filter(col("m") =!= 0L)
      .groupBy("user_id").agg(
        sum(col("m")).as("net_n"),
        round(sum(Num.dec2(col("value")) * col("m")), 4).cast("double")
          .as("net_value"),
        min(when(col("m") > 0L, col("value"))).as("live_min"),
        max(when(col("m") > 0L, col("value"))).as("live_max"))
  }

  /** Mergeable-sketch rollup: per-DAY Datasketches HLL sketches of the
    * user set (`hll_sketch_agg`), merged to WEEK level with
    * `hll_union_agg` — never re-touching raw rows. This is the 100 TB
    * distinct-count architecture [[incrementalDailyStats]]'s exact
    * counters cannot give: `count(DISTINCT)` partials don't merge
    * (distinct isn't associative), so a weekly exact rollup must
    * rescan the raw week; a stored day-sketch table is a few KB per
    * day and unions in microseconds. (`approx_count_distinct`'s HLL++
    * estimates never surface as a mergeable value — the Datasketches
    * functions expose the sketch itself as a column.)
    *
    * Audit shape (same contract as [[approxDistinctAudit]]): the
    * estimate is sketch-bound, not SQL-derivable, but it is a PURE
    * function of the value set, so `within_tol` — the merged weekly
    * estimate landing within max(1, 5%) of the exact weekly distinct
    * (3× the lgK=12 sketch's ~1.6% rsd) — is a deterministic constant
    * the DuckDB oracle asserts alongside the exact counts. */
  def hllUnionRollupAudit(events: DataFrame): DataFrame = {
    val week = date_trunc("week", col("ts"))
    val daySketches = events
      .groupBy(week.as("week"), date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = daySketches.groupBy("week")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
    val exact = events.groupBy(week.as("week"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(est, "week")
      .select(col("week"), col("n_exact"),
        (abs(col("n_est") - col("n_exact")).cast("double") <=
          greatest(lit(1.0), lit(0.05) * col("n_exact"))).as("within_tol"))
  }

  /** Audience-overlap rollup via Theta sketches (Datasketches) — the
    * mergeable SET-ALGEBRA capability the HLL rollup
    * ([[hllUnionRollupAudit]]) cannot give: HLL sketches union but
    * never intersect, so "how many users did BOTH typeA and typeB this
    * week" needs either a raw-row rescan or Theta sketches, whose
    * intersection/difference are first-class operations.
    *
    * 100 TB architecture: per-(day, type) sketches are stored once at
    * ingest grain; any later audience question — overlap, exclusion,
    * arbitrary date range — is sketch algebra over those stored
    * blobs, never a rescan of raw events. The day→week `theta_union_agg`
    * here proves the merge path; `theta_intersection` / `theta_difference`
    * answer the two questions exact `count(DISTINCT)` partials
    * structurally cannot.
    *
    * Audit contract (the [[hllUnionRollupAudit]] pattern): exact
    * weekly audiences recomputed per-user alongside, estimates
    * compared under a deterministic 5%-or-±1 tolerance → constant
    * flags beside oracle-recomputable exact counts. Below the sketch's
    * nominal-entries bound (4096 default) Theta runs in exact mode, so
    * at gate scale the flags are equalities, not luck. */
  def thetaOverlapAudit(events: DataFrame, typeA: String = "purchase",
      typeB: String = "error"): DataFrame = {
    val week = date_trunc("week", col("ts"))
    val filtered = events.filter(col("event_type").isin(typeA, typeB))
    val daySketches = filtered
      .groupBy(week.as("week"), date_trunc("day", col("ts")).as("day"))
      .agg(
        expr(s"theta_sketch_agg(CASE WHEN event_type = '$typeA' THEN user_id END)")
          .as("sk_a"),
        expr(s"theta_sketch_agg(CASE WHEN event_type = '$typeB' THEN user_id END)")
          .as("sk_b"))
    val est = daySketches.groupBy("week").agg(
      expr("theta_sketch_estimate(theta_intersection(" +
        "theta_union_agg(sk_a), theta_union_agg(sk_b)))").as("n_both_est"),
      expr("theta_sketch_estimate(theta_difference(" +
        "theta_union_agg(sk_a), theta_union_agg(sk_b)))").as("n_only_a_est"))
    val exact = filtered
      .groupBy(week.as("week"), col("user_id"))
      .agg(
        max(when(col("event_type") === typeA, 1L).otherwise(0L)).as("ha"),
        max(when(col("event_type") === typeB, 1L).otherwise(0L)).as("hb"))
      .groupBy("week")
      .agg(sum("ha").as("n_a_exact"), sum("hb").as("n_b_exact"),
        sum(col("ha") * col("hb")).as("n_both_exact"))
    val tol = (exactCol: org.apache.spark.sql.Column,
        estCol: org.apache.spark.sql.Column) =>
      abs(estCol.cast("double") - exactCol.cast("double")) <=
        greatest(lit(1.0), lit(0.05) * exactCol.cast("double"))
    exact.join(est, "week").select(
      col("week"), col("n_a_exact"), col("n_b_exact"), col("n_both_exact"),
      tol(col("n_both_exact"), col("n_both_est")).as("both_within_tol"),
      tol(col("n_a_exact") - col("n_both_exact"), col("n_only_a_est"))
        .as("only_a_within_tol"))
  }

  /** Per-type value quantiles from the native KLL sketch
    * ([[graft.functions.KllSketch]]) — the MERGEABLE quantile
    * capability the sketch-blob family was missing (HLL/Theta
    * distincts, MG heavy hitters and integer-bin histograms all
    * exist; continuous-domain quantiles did not): the same blobs this
    * query builds per type are what the streaming store
    * ([[graft.streaming.StreamJob.startValueKllBlobs]]) appends per
    * batch and re-merges at any grain, never rescanning raw rows.
    *
    * Registered ROWS-ONLY (the MG/SimHash convention): estimates are
    * a pure function of the value MULTISET plus merge order, and
    * Spark's partition layout varies run to run — the paired
    * [[kllRankBoundAudit]] hash-gates the worst-case error contract
    * that holds for EVERY order instead. `rank_err_bound` is the
    * blob's own certificate: the estimate's rank error is AT MOST
    * that many rows, whatever the layout was. */
  def kllValueQuantiles(events: DataFrame, k: Int = 200): DataFrame = {
    import graft.functions.KllSketch._
    events.filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(kllBuild(col("value").cast("double"), k).as("kb"))
      .select(col("event_type"), kllN(col("kb")).as("n"),
        kllErrBound(col("kb")).as("rank_err_bound"),
        round(kllQuantile(col("kb"), lit(0.05)), 6).as("q05"),
        round(kllQuantile(col("kb"), lit(0.25)), 6).as("q25"),
        round(kllQuantile(col("kb"), lit(0.5)), 6).as("q50"),
        round(kllQuantile(col("kb"), lit(0.75)), 6).as("q75"),
        round(kllQuantile(col("kb"), lit(0.95)), 6).as("q95"))
  }

  /** HASH-GATED guarantee audit for the KLL pair (the
    * [[hllUnionRollupAudit]] pattern, strengthened from tolerance to
    * THEOREM): one global sketch over `value`, seven probe quantiles,
    * and for each the estimate's true rank interval [count(< est),
    * count(≤ est)] must meet [⌈qn⌉ − R − 1, ⌈qn⌉ + R + 1], where R is
    * the sketch's own accumulated worst-case bound (Σ 2^level over
    * compactions — see KllSketch's error contract; the ±1 absorbs
    * ⌈⌉/tie conventions). Each compaction displaces any rank estimate
    * by ≤ its item weight, so ZERO violations holds for every
    * insertion and merge order — the audit row is a constant of the
    * table even though the estimates are layout-bound, which is what
    * lets the DuckDB oracle pin it (exact n_total recomputed, the
    * invariants as literals — the mg_merge_audit convention). */
  def kllRankBoundAudit(events: DataFrame, k: Int = 200): DataFrame = {
    import graft.functions.KllSketch._
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.filter(col("value").isNotNull)
      .select(col("value").cast("double").as("v"))
    val blob = ev.agg(kllBuild(col("v"), k).as("kb"))
    val qdf = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99).toDF("q")
    val est = blob.crossJoin(broadcast(qdf))
      .select(col("q"), kllQuantile(col("kb"), col("q")).as("est"),
        kllN(col("kb")).as("n"), kllErrBound(col("kb")).as("r"))
    val checks = ev.crossJoin(broadcast(est))
      .groupBy("q", "est", "n", "r")
      .agg(sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("hi"))
    val target = ceil(col("q") * col("n")).cast("long")
    checks.agg(max(col("n")).as("n_total"),
        count(lit(1)).as("n_quantiles"),
        sum(when(col("hi") < target - col("r") - lit(1L) ||
          col("lo") > target + col("r") + lit(1L), 1L).otherwise(0L))
          .as("n_violations"))
      .select(col("n_total"), col("n_quantiles"), col("n_violations"),
        (col("n_violations") === 0L).as("bounds_ok"))
  }

  /** Peak session concurrency per day — the classic sweep-line over
    * intervals: how many user sessions were simultaneously open at the
    * busiest instant of each day (capacity planning / load-profile
    * analytics the reference's per-minute counts approximate but never
    * answer exactly). Sessions come from [[sessionize]]; a session
    * spans [first event, last event + gap) — the same half-open
    * timeout window `session_window` uses, so a session that ends
    * exactly when another starts does NOT overlap it (ends sort before
    * starts at equal timestamps via `delta` ASC).
    *
    * Scale shape: the sweep needs a GLOBAL running sum of +1/−1
    * boundary points in time order — the textbook single
    * `row_number`-style window would serialize the corpus through one
    * task. This is the two-level prefix-sum discipline
    * ([[graft.ops.DocOps.shardAssignments]]): intra-day running sums
    * ride a window PARTITIONED by day (parallel across days), the
    * per-day delta totals collapse to a days-cardinality frame whose
    * exclusive cumulative sum is windowed on the tiny side and
    * broadcast back as each day's opening concurrency. Peak(day) =
    * open(day) + max intra-day running sum. */
  def peakConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val sessions = sessionize(events, gapMinutes)
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("start_ts"), max("ts").as("end_ts"))
      // pure microsecond-exact interval arithmetic — the same
      // `last + gap` close [[sessionWindowStats]] publishes
      .select(col("start_ts"),
        (col("end_ts") + expr(s"INTERVAL $gapMinutes MINUTES")).as("end_ex"))
    val points = sessions.select(col("start_ts").as("t"), lit(1L).as("delta"))
      .unionByName(sessions.select(col("end_ex").as("t"), lit(-1L).as("delta")))
    val day = to_date(col("t"))
    val wIntra = Window.partitionBy("day")
      .orderBy(col("t").asc, col("delta").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = points
      .withColumn("day", day)
      .withColumn("run", sum("delta").over(wIntra))
    // exclusive prefix over the tiny per-day totals frame: the opening
    // concurrency carried into each day from all prior days
    val wDays = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val opening = points.groupBy(day.as("day"))
      .agg(sum("delta").as("day_total"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_started"))
      .withColumn("open", coalesce(sum("day_total").over(wDays), lit(0L)))
      .select("day", "open", "n_started")
    intra.groupBy("day").agg(max("run").as("max_run"))
      .join(broadcast(opening), "day")
      .select(col("day"),
        (col("open") + col("max_run")).as("peak_concurrency"),
        col("n_started"))
  }

  /** Longest consecutive-active-day streak per user — gaps-and-islands
    * over the DISTINCT (user, day) grid (the engagement metric the
    * reference's daily counts, `src/spark_stream.py:119-131`, stop one
    * window short of). `epoch_day - row_number()` is constant within a
    * run of consecutive days, so each island is one group; every value
    * is exact LONG/DATE arithmetic — bit-identical across engines.
    *
    * Scale: the distinct pre-collapse bounds the windowed frame to
    * users × calendar days (≤365/user/year regardless of event volume —
    * the window never sees raw events), and both the distinct and the
    * window hash-partition by user-led keys. Per-user state is one
    * year-bounded sorted run, no skew risk beyond the calendar. */
  /** Exponentially-weighted moving average of daily event volume per
    * type, computed EXACTLY in integer arithmetic. With decay α = 1/2
    * truncated at a `horizon`-day tail, every weight is the binary
    * fraction 2^-(k+1) (k = days of lag), so the weighted sum scaled
    * by 2^horizon is a plain BIGINT — Σ cnt·2^(horizon-1-k) — with no
    * floating-point accumulation at all. Both engines divide the
    * IDENTICAL integer by 2^horizon once at the end, which makes the
    * smoothed series bit-deterministic under any summation order (the
    * property the textbook fp recursion S_t = αx_t + (1-α)S_{t-1}
    * lacks); the truncation bias is < 2^-horizon of the running
    * scale. Days with no events contribute weight·0 = 0, so the
    * banded self-join over OBSERVED (type, day) rows needs no dense
    * calendar grid; the EWMA is evaluated at each observed day.
    *
    * Shape at scale: one (type, day) hash agg first collapses the raw
    * log to calendar cardinality, so the ≤`horizon`× banded expansion
    * runs on tiny daily rows. The weight 2^(horizon-1-k) is
    * CAST(pow(2,·) AS BIGINT) — powers of two are exact in fp64, so
    * the cast is exact on both engines. */
  def ewmaDailyCounts(events: DataFrame, horizon: Int = 30): DataFrame = {
    require(horizon >= 1 && horizon <= 62, s"horizon in [1,62]: $horizon")
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val lag = datediff(col("t.day"), col("s.day"))
    val weight = pow(lit(2.0), (lit(horizon - 1) - lag).cast("double"))
      .cast("long")
    daily.as("t")
      .join(daily.as("s"),
        col("s.event_type") === col("t.event_type") &&
          col("s.day") <= col("t.day") &&
          col("s.day") > date_sub(col("t.day"), horizon))
      .groupBy(col("t.event_type").as("event_type"), col("t.day").as("day"))
      .agg(sum(col("s.cnt") * weight).as("ewma_scaled"))
      .select(col("event_type"), col("day"),
        round(col("ewma_scaled").cast("double") /
          pow(lit(2.0), lit(horizon.toDouble)), 6).as("ewma"))
  }

  /** Mutual information (nats) between event type and day-of-week —
    * the single-number "is traffic mix seasonal?" dependence test
    * behind [[dowAnomalies]]'s per-cell z-scores. MI = Σ p_xy ·
    * ln(p_xy/(p_x·p_y)) over the (type, dow) contingency table; all
    * counts are exact BIGINTs, every ln argument is the cross product
    * (n_xy·N)/(n_x·n_y) with each factor cast to DOUBLE before
    * multiplying (exact casts, counts ≪ 2^53; correctly-rounded IEEE
    * products feed ln the identical double on both engines), and ONE
    * final rounding absorbs summation-order drift — the
    * [[graft.ops.DocOps.unigramKlBySource]] convention. MI ≥ 0 with
    * equality iff independent, so no −0.0 hazard.
    *
    * Shape: one (type, dow) hash agg collapses the log to ≤ 7·|types|
    * cells; margins and the total re-aggregate that tiny frame
    * (broadcast), so the output is one row from one scan. */
  def typeDowMutualInfo(events: DataFrame): DataFrame = {
    val cells = events
      .groupBy(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"))
      .agg(count(lit(1)).as("nxy"))
    val byType = cells.groupBy("event_type").agg(sum("nxy").as("nx"))
    val byDow = cells.groupBy("dow").agg(sum("nxy").as("ny"))
    val total = cells.agg(sum("nxy").as("n"))
    cells.join(broadcast(byType), "event_type")
      .join(broadcast(byDow), "dow")
      .crossJoin(broadcast(total))
      .agg(
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"),
        count(lit(1)).as("n_cells"),
        round(sum((col("nxy").cast("double") / col("n").cast("double")) *
          log((col("nxy").cast("double") * col("n").cast("double")) /
            (col("nx").cast("double") * col("ny").cast("double")))), 6)
          .as("mi_nats"))
  }

  /** Autocorrelation function of daily total event volume at lags
    * 1..maxLag — the "is there a weekly cycle, and how sticky is
    * yesterday?" diagnostic behind [[dowAnomalies]] and
    * [[ewmaDailyCounts]] (a lag-7 spike says weekly seasonality; slow
    * lag-1 decay says trending volume). Pearson r between the series
    * and its k-day shift over the ZERO-FILLED min..max calendar —
    * correlating only co-observed days would bias toward busy weeks,
    * the [[typeCountCorrelations]] argument. All six moments per lag
    * are exact BIGINTs; the numerator and variance terms are exact
    * LONG arithmetic cast to DOUBLE only for the final sqrt/division
    * (each ≪ 2^53), one rounding at the end. Zero-variance slices
    * (constant series) are excluded.
    *
    * Shape: one (day) hash agg collapses the log to calendar
    * cardinality; the dense grid, the ×maxLag shift expansion and the
    * per-lag moments all run on that tiny frame. The shift is an
    * EQUI-join on the materialized `date_add(day, lag)` key, not a
    * theta join. */
  def acfDailyCounts(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag >= 1: $maxLag")
    val grid = dailyCountGrid(events).select("day", "cnt")
    val lags = events.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val shifted = grid.crossJoin(broadcast(lags))
      .select(col("lag"), expr("date_add(day, lag)").as("tday"),
        col("cnt").as("x"))
    val m = shifted
      .join(grid.select(col("day").as("tday"), col("cnt").as("y")), "tday")
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    m.filter(dx > 0L && dy > 0L)
      .select(col("lag"), col("n").as("n_pairs"),
        round(num.cast("double") /
          sqrt(dx.cast("double") * dy.cast("double")), 6).as("acf"))
  }

  /** Partial autocorrelation of the daily series via Durbin–Levinson
    * — the model-identification companion to [[acfDailyCounts]] (ACF
    * tails off / PACF cuts off at p identifies an AR(p); both
    * together are the Box–Jenkins correlogram pair). Uses the
    * COVARIANCE-form autocorrelations (one global mean, one common
    * denominator — the form the recursion is defined on; the ACF
    * query's per-lag Pearson is the drift-robust display variant):
    *
    *   r_k = Σ_t (y_t − ȳ)(y_{t+k} − ȳ) / Σ_t (y_t − ȳ)²,
    *   φ_kk from the Durbin–Levinson recursion on r_1..r_K.
    *
    * Determinism: deviations are n-scaled (n·y_t − Σy — exact-valued
    * doubles), every moment and the whole recursion fold in pinned
    * ascending order on both rails (`aggregate` here, a recursive CTE
    * with LATERAL + list folds in the oracle — the
    * [[markovRemovalAttribution]] parity), pure +/−/×/÷, no libm; a
    * zero recursion denominator pins φ_kk = 0 (stated guard). The
    * empty-prefix folds are guarded explicitly — `sequence(1, 0)`
    * counts DOWN (the shingles footgun).
    *
    * Shape: one corpus-sized daily collapse; moments and the K-step
    * recursion run on a single calendar-length array row. */
  def pacfDailyCounts(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag >= 1: $maxLag")
    val series = dailyCountGrid(events)
      .select(col("day"), col("cnt").cast("double").as("y"))
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("sd"))
      .select(transform(col("sd"), x => x.getField("y")).as("ys"))
      .filter(size(col("ys")) > maxLag)
    val n = size(col("ys"))
    val nd = n.cast("double")
    def yAt(t: Column) = element_at(col("ys"), t.cast("int"))
    val sy = aggregate(col("ys"), lit(0.0), (a, x) => a + x)
    def dev(t: Column) = nd * yAt(t) - sy
    val dsum = aggregate(sequence(lit(1), n), lit(0.0),
      (a, t) => a + dev(t) * dev(t))
    val rl = transform(sequence(lit(1), lit(maxLag)), k =>
      aggregate(sequence(lit(1), n - k), lit(0.0),
        (a, t) => a + dev(t) * dev(t + k)) / dsum)
    val base = series
      .select(col("ys"), rl.as("r"), dsum.as("dsum"))
      .filter(col("dsum") > 0.0)
    def rAt(i: Column) = element_at(col("r"), i.cast("int"))
    val init = struct(
      array().cast("array<double>").as("phis"),
      array().cast("array<double>").as("pacf"))
    val st = aggregate(sequence(lit(1), lit(maxLag)), init, (acc, k) => {
      val phis = acc.getField("phis")
      val pacf = acc.getField("pacf")
      val np = size(phis)
      val num = rAt(k) - when(np > 0,
        aggregate(sequence(lit(1), np), lit(0.0),
          (a, j) => a + element_at(phis, j.cast("int")) * rAt(k - j)))
        .otherwise(lit(0.0))
      val den = lit(1.0) - when(np > 0,
        aggregate(sequence(lit(1), np), lit(0.0),
          (a, j) => a + element_at(phis, j.cast("int")) * rAt(j)))
        .otherwise(lit(0.0))
      val pkk = when(den =!= 0.0, num / den).otherwise(lit(0.0))
      val updated = when(np > 0,
        transform(sequence(lit(1), np), j =>
          element_at(phis, j.cast("int")) -
            pkk * element_at(phis, (k - j).cast("int"))))
        .otherwise(array().cast("array<double>"))
      struct(concat(updated, array(pkk)).as("phis"),
        concat(pacf, array(pkk)).as("pacf"))
    })
    base.select(col("r"), st.getField("pacf").as("p"))
      .select(posexplode(arrays_zip(col("r"), col("p"))))
      .select((col("pos") + 1).cast("long").as("lag"),
        round(col("col.r"), 6).as("acf_cov"),
        round(col("col.p"), 6).as("pacf"))
  }

  /** Kaplan–Meier survival at fixed horizons — "what fraction of
    * users are still active h days after their first event?", the
    * churn curve a retention dashboard reports with CORRECT handling
    * of right-censoring (a user whose last activity falls on the
    * observation window's final day hasn't churned — they ran out of
    * window; naive `last-first` retention undercounts exactly those).
    * Duration t_u = days from first to last event inclusive; the
    * churn is OBSERVED only when the last event predates the global
    * max day. KM: S(h) = Π_{t≤h} (1 − d_t/n_t) with d_t = observed
    * churns at duration t and n_t = users still at risk (duration
    * ≥ t, censored included while they last).
    *
    * Determinism: d_t and n_t are exact BIGINTs (n_t = total −
    * windowed cumsum over the tiny duration frame); each factor's
    * ln((n_t−d_t)/n_t) is computed on identical doubles and the ≤h
    * addends are summed then rounded ONCE before exp (the unigram_kl
    * convention; exp on an identical double is identical).
    *
    * Shape: one (user) hash agg collapses the log, one (duration)
    * re-agg collapses users to ≤ calendar-length rows; horizons are a
    * 4-row broadcast. Nothing after the first agg exceeds calendar
    * cardinality. */
  def kmSurvivalHorizons(events: DataFrame,
      horizons: Seq[Int] = Seq(1, 7, 14, 30)): DataFrame = {
    val atRisk = tenureRisk(events)
    val hs = events.sparkSession.createDataFrame(
      horizons.map(Tuple1(_))).toDF("horizon")
    val curve = atRisk.filter(col("d") > 0L)
      .crossJoin(broadcast(hs))
      .filter(col("t") <= col("horizon"))
      .groupBy("horizon")
      .agg(sum("d").as("n_churned"),
        round(exp(round(sum(
          log((col("n").cast("double") - col("d").cast("double")) /
            col("n").cast("double"))), 6)), 6).as("survival"))
    // horizons with no observed churn yet are S(h) = 1, not absent
    hs.join(curve, Seq("horizon"), "left")
      .select(col("horizon"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        coalesce(col("survival"), lit(1.0)).as("survival"))
  }

  /** Kaplan–Meier survival WITH Greenwood confidence intervals at the
    * retention horizons — the uncertainty [[kmSurvivalHorizons]]
    * omits (a survival point without its CI invites over-reading a
    * 2% dip backed by 30 at-risk users):
    * Var(Ŝ) = Ŝ²·Σ_{t≤h} d/(n(n−d)), CI = Ŝ ± 1.959964·SE clamped to
    * [0, 1] (the plain-scale Greenwood form, stated — the log-log
    * transform is the small-n refinement, not replicated here).
    *
    * Determinism: the same exact-BIGINT risk sets as the KM query;
    * each ln((n−d)/n) term pins 10dp into DECIMAL before the
    * cumulative sum (ORDER-EXACT — tightening the KM query's
    * 6dp-rounded bare float sum) and each Greenwood term pins to
    * 1e-12 micro-units; a horizon where everyone at risk churns
    * (n = d) has Ŝ = 0 with undefined Greenwood terms → NULL
    * SE/CI, stated. */
  def kmGreenwoodCi(events: DataFrame,
      horizons: Seq[Int] = Seq(1, 7, 14, 30)): DataFrame = {
    val atRisk = tenureRisk(events)
    val hs = events.sparkSession.createDataFrame(
      horizons.map(Tuple1(_))).toDF("horizon")
    val lnTerm = round(log((col("n") - col("d")).cast("double") /
      col("n").cast("double")), 10).cast("decimal(38,10)")
    val gwTerm = round(col("d").cast("double") /
      (col("n").cast("double") * (col("n") - col("d")).cast("double")) *
      lit(1.0e12), 0).cast("long")
    val curve = atRisk.filter(col("d") > 0L)
      .crossJoin(broadcast(hs))
      .filter(col("t") <= col("horizon"))
      .groupBy("horizon")
      .agg(sum("d").as("n_churned"),
        sum(when(col("n") > col("d"), lnTerm)).as("lns"),
        sum(when(col("n") > col("d"), gwTerm)).as("gwm"),
        sum(when(col("n") === col("d"), 1L).otherwise(0L)).as("n_absorb"))
    val s = exp(col("lns").cast("double"))
    val se = s * sqrt(col("gwm").cast("double") / lit(1.0e12))
    val ok = col("n_absorb") === 0L
    hs.join(curve, Seq("horizon"), "left")
      .select(col("horizon"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        // an absorbing horizon (everyone at risk churned) is S = 0
        // exactly; a horizon before any churn is S = 1
        coalesce(when(col("n_absorb") > 0L, lit(0.0))
          .otherwise(round(s, 6)), lit(1.0)).as("survival"),
        when(col("n_churned").isNotNull && ok, round(se, 6)).as("se"),
        when(col("n_churned").isNotNull && ok,
          round(greatest(s - lit(1.959964) * se, lit(0.0)), 6))
          .as("ci_lo"),
        when(col("n_churned").isNotNull && ok,
          round(least(s + lit(1.959964) * se, lit(1.0)), 6)).as("ci_hi"))
  }

  /** Last-digit uniformity test of the value cents (the auditor's
    * complement to [[graft.ops.ProfileOps.benfordFirstDigit]]: first
    * digits follow Benford under broad-range growth, but LAST digits
    * of genuine measurements are UNIFORM — humans inventing numbers
    * round to 0/5, price-pointers end in 9): χ² against uniform over
    * the 10 digits collapses to the exact-lane form
    * (10·ΣO² − n²)/n — ONE pinned division, no per-digit float sums.
    * df = 9, 5% critical value 16.918978.
    *
    * Shape: one 10-cell collapse; constant output at any scale. */
  def lastDigitUniformity(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val digits = events.select(pmod(cents, lit(10L)).as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy("digit").agg(count(lit(1)).as("o"))
    val m = digits.agg(sum(col("o")).as("n"),
      sum(dec(col("o")) * col("o")).as("oo"),
      count(lit(1)).as("n_digits"),
      max(col("o")).as("max_count"))
    val chi = (dec(lit(10L)) * col("oo") - dec(col("n")) * col("n"))
      .cast("double") / col("n").cast("double")
    m.filter(col("n") > 0L)
      .select(col("n").as("n_events"), col("n_digits"),
        col("max_count"),
        round(chi, 6).as("chi2"),
        (chi > lit(16.918978)).as("significant"))
  }

  /** Nelson–Aalen cumulative hazard at retention horizons — the
    * estimator-side companion of [[kmSurvivalHorizons]]: Ĥ(h) =
    * Σ_{t≤h} d_t/n_t accumulates hazard ADDITIVELY (no product), so
    * it is the better-behaved small-risk-set estimator and the
    * standard input to proportional-hazards diagnostics; exp(−Ĥ) is
    * the Fleming–Harrington survival alternative, emitted beside the
    * KM query's product form for the comparison readout.
    *
    * Determinism: the same exact-BIGINT risk sets and censoring rule
    * as the KM query; each d/n term is ONE pinned division
    * micro-pinned BEFORE the horizon sum (order-free), one exp at the
    * end. Horizons with no observed churn report Ĥ = 0, survival 1. */
  def nelsonAalenHorizons(events: DataFrame,
      horizons: Seq[Int] = Seq(1, 7, 14, 30)): DataFrame = {
    val atRisk = tenureRisk(events)
    val hs = events.sparkSession.createDataFrame(
      horizons.map(Tuple1(_))).toDF("horizon")
    val curve = atRisk.filter(col("d") > 0L)
      .crossJoin(broadcast(hs))
      .filter(col("t") <= col("horizon"))
      .select(col("horizon"), col("d"),
        round(col("d").cast("double") / col("n").cast("double") *
          lit(1000000.0), 0).cast("long").as("hm"))
      .groupBy("horizon")
      .agg(sum("d").as("n_churned"), sum("hm").as("hsum"))
      .select(col("horizon"), col("n_churned"),
        round(col("hsum").cast("double") / lit(1000000.0), 6)
          .as("cum_hazard"),
        round(exp(-(round(col("hsum").cast("double") / lit(1000000.0),
          6))), 6).as("fh_survival"))
    hs.join(curve, Seq("horizon"), "left")
      .select(col("horizon"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        coalesce(col("cum_hazard"), lit(0.0)).as("cum_hazard"),
        coalesce(col("fh_survival"), lit(1.0)).as("fh_survival"))
  }

  /** AMS/Tug-of-War second-frequency-moment sketch audit (Alon,
    * Matias & Szegedy STOC '96): F₂ = Σ_u f_u² — the self-join size,
    * THE cardinality a join optimizer wants before committing to a
    * plan, and the one frequency moment the existing sketch family
    * (HLL = F₀, MG = heavy hitters, KLL = quantiles) did not cover.
    * Each of 16 estimators is Y_r = (Σ_u s_r(u)·f_u)² with ±1 signs;
    * E[Y] = F₂, and the estimator is a one-pass, trivially mergeable
    * SUM — the same store-once blob shape as the rest of the family.
    *
    * Determinism (hash-gated end-to-end, unlike the seed-bound
    * sketches): s_r(u) is the high bit of hex digit r of
    * md5(user_id) — identical digests in both engines, cryptographic
    * mixing (the JL audit's lesson: multiplicative-hash bits stripe
    * on sequential ids), and each Σ s·f is an EXACT BIGINT in any
    * summation order (signs are integers). Exact F₂, the 16-estimator
    * mean (one half-up division) and the relative error are all pure
    * functions of the table. The measured rel_err is what the row
    * pins (recall-audit style); E|err| ≈ √(2/16) ≈ 35% — a
    * plan-choice signal, not a billing number, stated. */
  def amsF2Audit(events: DataFrame, nEst: Int = 16): DataFrame = {
    val f = events.groupBy("user_id").agg(count(lit(1)).as("fu"))
    val dec0 = (c: Column) => c.cast("decimal(38,0)")
    val exact = f.agg(sum(dec0(col("fu")) * col("fu")).as("f2"))
    val sign = when(
      expr("substring(md5(cast(user_id as string)), r + 1, 1)") >= "8",
      lit(1L)).otherwise(lit(-1L))
    val est = f.select(col("user_id"), col("fu"),
        explode(sequence(lit(0), lit(nEst - 1))).as("r"))
      .groupBy("r").agg(sum(sign * col("fu")).as("y"))
      .select((dec0(col("y")) * col("y")).as("est"))
      .agg(sum(col("est")).as("se"), count(lit(1)).as("k"))
    est.crossJoin(broadcast(exact))
      .select(col("f2").cast("long").as("exact_f2"),
        col("k").as("n_estimators"),
        (Num.halfUpRatio(col("se").cast("long") * lit(10000L),
          col("k")).cast("double") / lit(1e4)).as("ams_mean_est"),
        round(abs(col("se").cast("double") / col("k").cast("double") -
          col("f2").cast("double")) / col("f2").cast("double"), 6)
          .as("rel_err"))
  }

  /** Zero-inflated Poisson fit of per-user purchase counts (Lambert
    * '92), method of moments — the count-model companion of
    * [[negbinFitByType]]: where neg-binomial explains overdispersion
    * by rate HETEROGENEITY, ZIP explains it by a point mass of
    * structural zeros (users who never convert at any rate), the
    * model a funnel analyst actually wants separated ("how many users
    * are out of market" vs "how often in-market users buy").
    *
    * The MoM estimators collapse to EXACT RATIONALS of integer
    * moments: E[c²] − E[c] = (1−π)λ² gives λ̂ = (Σc² − Σc)/Σc and
    * π̂ = 1 − Σc²·n/… cleared: π̂ = (n(Σc²−Σc) − Σc²)·… — implemented
    * as single half-up integer-unit divisions ([[Num.halfUpRatio]]),
    * so the gate is exact, not fp-lucky. Guards (stated): Σc = 0 or
    * Σc² ≤ Σc (no overdispersion — counts all 0/1) → NULL fit;
    * MoM π̂ < 0 (UNDER-dispersed relative to Poisson) → NULL fit with
    * `zip_consistent` false. */
  def zipFitPurchases(events: DataFrame): DataFrame = {
    val dec0 = (c: Column) => c.cast("decimal(38,0)")
    val cnts = events.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("c"))
    val m = cnts.agg(count(lit(1)).as("n"),
      sum(when(col("c") === 0L, 1L).otherwise(0L)).as("z"),
      sum("c").as("s1"), sum(dec0(col("c")) * col("c")).as("s2"))
    val s1 = col("s1")
    val s2l = col("s2").cast("long")
    val piNum = col("n") * (s2l - s1) - s1 * s1
    val piDen = col("n") * (s2l - s1)
    m.select(col("n").as("n_users"), col("z").as("n_zero"),
      (Num.halfUpRatio(col("z") * lit(1000000L), col("n"))
        .cast("double") / lit(1e6)).as("zero_share"),
      (Num.halfUpRatio(s1 * lit(1000000L), col("n"))
        .cast("double") / lit(1e6)).as("mean_count"),
      (Num.halfUpRatio((col("n") * s2l - s1 * s1) * lit(1000000L),
        col("n") * col("n")).cast("double") / lit(1e6)).as("var_count"),
      when(s1 > 0L && s2l > s1,
        Num.halfUpRatio((s2l - s1) * lit(1000000L), s1)
          .cast("double") / lit(1e6)).as("lambda_hat"),
      when(s1 > 0L && s2l > s1 && piNum >= 0L,
        Num.halfUpRatio(piNum * lit(1000000L), piDen)
          .cast("double") / lit(1e6)).as("pi_hat"),
      (s1 > 0L && s2l > s1 && piNum >= 0L).as("zip_consistent"))
  }

  /** EXACT Shapley-value attribution over channel coalitions (Shapley
    * '53; the Zhao et al. '18 marketing formulation) — the
    * game-theoretic member of the attribution family, completing
    * linear (uniform credit), position, time-decay and Markov-removal:
    * the characteristic function v(S) counts conversions by users
    * whose lifetime channel set is CONTAINED in coalition S, and each
    * channel's credit is its average marginal contribution over all
    * join orders — the only attribution satisfying efficiency /
    * symmetry / dummy / additivity, which is why it is the reference
    * standard the heuristics are judged against.
    *
    * Coalition convention (stated): a user's coalition is the set of
    * DISTINCT non-purchase event types they ever emitted; conversions
    * are their purchase count; channel-less converters sit in v(∅)
    * (baseline conversions no channel can claim — every marginal
    * difference cancels them, the Shapley dummy axiom at work).
    *
    * EXACTNESS — no floating point until the last op: with k
    * channels, k!·φ_c = Σ_{S ∌ c} |S|!·(k−1−|S|)!·(v(S∪{c}) − v(S))
    * is ALL-INTEGER (conversion counts × factorials), summed as
    * BIGINT in any order; ONE division by k! at the end, 6dp. The
    * efficiency identity Σφ = v(full) − v(∅) holds exactly in the
    * integer lane (spec-pinned).
    *
    * Scale: two per-user aggregations over the log (distinct-type
    * mask, purchase count), then ALL coalition algebra runs on
    * ≤ 2^k-row frames (k = channel count, 4 here; 2^k bounded by the
    * type vocabulary, never by data). Exponential only in k, like
    * every exact Shapley — for k beyond ~20 one samples permutations
    * instead (stated; out of scope while the type vocabulary is
    * single-digit). */
  def shapleyAttribution(events: DataFrame): DataFrame = {
    val bit = expr("cast(shiftleft(1, cast(idx as int)) as bigint)")
    val chans0 = events.filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("channel")).distinct()
    val chans = chans0.as("a")
      .join(chans0.select(col("channel").as("cb")).as("b"),
        col("cb") < col("a.channel"), "left")
      .groupBy(col("a.channel"))
      .agg(count(col("cb")).as("idx"))
    val kk = chans0.agg(count(lit(1)).as("k"))
    val userMask = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel")).distinct()
      .join(broadcast(chans), "channel")
      .groupBy("user_id").agg(sum(bit).as("mask"))
    val conv = events.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n_conv"))
    val w = conv.join(userMask, Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("t"), col("n_conv"))
      .groupBy("t").agg(sum("n_conv").as("w"))
    val coal = kk.select(explode(expr(
      "sequence(0L, cast(shiftleft(1, cast(k as int)) as bigint) - 1L)"))
      .as("s"))
    val v = coal.join(broadcast(w),
        col("t").bitwiseAND(col("s")) === col("t"), "left")
      .groupBy("s").agg(coalesce(sum("w"), lit(0L)).as("v"))
      .localCheckpoint() // both sides of the marginal join read it
    val terms = chans.crossJoin(broadcast(kk))
      .join(broadcast(v.select(col("s"), col("v"))),
        col("s").bitwiseAND(bit) === lit(0L))
      .join(broadcast(v.select(col("s").as("s2"), col("v").as("v2"))),
        col("s2") === col("s") + bit)
      .select(col("channel"), col("k"),
        (factorial(expr("bit_count(s)")) *
          factorial((col("k") - lit(1) - expr("bit_count(s)"))
            .cast("int")) *
          (col("v2") - col("v"))).as("term"))
    terms.groupBy("channel", "k").agg(sum("term").as("num"))
      .select(col("channel"),
        round(col("num").cast("double") /
          factorial(col("k").cast("int")).cast("double"), 6)
          .as("shapley_conversions"))
  }

  /** Empirical-Bayes shrinkage of per-user mean value (James & Stein
    * '61 via the DerSimonian–Laird '86 moment estimator for unequal
    * group sizes — the meta-analysis form): each user's raw mean is
    * pulled toward the grand mean with weight B_i = (σ̂²/n_i) /
    * (σ̂²/n_i + τ̂²), so thin-history users (whose raw means are mostly
    * noise) shrink hard while heavy users keep their signal — THE
    * estimator for per-group rates a pipeline reads off small counts
    * (per-source quality priors, per-user spend, per-domain toxicity)
    * where the raw group mean is famously inadmissible.
    *
    * Estimators, all from exact lanes: pooled within-user variance
    * σ̂² = Σ_i(Σc² − (Σc)²/n_i)/(N − U); DL between-variance τ̂² =
    * max(0, (Q_s − (U−1)·σ̂²)/(N − Σn²/N)) with Q_s = Σ n_i(m_i − m)².
    * Determinism: Σc/Σc²/n/Σn² are exact DECIMAL/BIGINT lanes (cents;
    * magnitudes < 2^53, so the one double cast is exact — stated);
    * each within/between term micro-pins 4dp into DECIMAL(38,4)
    * before its corpus sum; everything after is a per-user chain of
    * identical single IEEE ops both engines replay. Degenerate
    * guards: U < 2 or zero denominators → B = 0 (raw means kept),
    * all inside lazy `when` arms (the ANSI division rule). */
  def ebShrunkUserMeans(events: DataFrame): DataFrame = {
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    val dec0 = (c: Column) => c.cast("decimal(38,0)")
    val perUser = events.filter(col("value").isNotNull)
      .select(col("user_id"), cents.as("c"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(dec0(col("c"))).as("sc"),
        sum(dec0(col("c")) * col("c")).as("sc2"))
    val mi = col("sc").cast("double") / col("n").cast("double")
    val wt = round(col("sc2").cast("double") -
      col("sc").cast("double") * col("sc").cast("double") /
        col("n").cast("double"), 4)
    val g = perUser
      .select(col("n"), col("sc"), col("sc2"), mi.as("mi"),
        wt.cast("decimal(38,4)").as("wt"))
      .agg(sum("n").as("nn"), count(lit(1)).as("u"),
        sum(dec0(col("n")) * col("n")).as("sn2"),
        sum(col("sc")).as("s"), sum("wt").as("wss"))
      .select(col("nn"), col("u"), col("sn2"),
        (col("s").cast("double") / col("nn").cast("double")).as("m"),
        when(col("nn") > col("u"),
          col("wss").cast("double") /
            (col("nn") - col("u")).cast("double"))
          .otherwise(lit(0.0)).as("s2w"))
    val qs = perUser.crossJoin(broadcast(g))
      .select(round((mi - col("m")) * (mi - col("m")) *
        col("n").cast("double"), 4).cast("decimal(38,4)").as("qt"))
      .agg(sum("qt").as("qs"))
    val cDen = col("nn").cast("double") -
      col("sn2").cast("double") / col("nn").cast("double")
    val tau2 = when(col("u") >= 2L && cDen > 0.0,
      greatest(lit(0.0),
        (col("qs").cast("double") -
          (col("u") - 1L).cast("double") * col("s2w")) / cDen))
      .otherwise(lit(0.0))
    val gg = g.crossJoin(broadcast(qs)).select(col("m"), col("s2w"),
      tau2.as("t2"))
    val vi = col("s2w") / col("n").cast("double")
    val b = when(vi + col("t2") > 0.0, vi / (vi + col("t2")))
      .otherwise(lit(0.0))
    // raw mean via the integer half-up trick (Num.avgRound core) —
    // cents/n/100 can land EXACTLY on a 4dp half boundary (observed:
    // 58.55575), where Spark's decimal-string round and DuckDB's
    // binary round split; the shrunk mean's fp chain cannot produce
    // an exactly-representable boundary, so its double round is safe
    perUser.crossJoin(broadcast(gg))
      .select(col("user_id"), col("n"),
        (Num.halfUpRatio(col("sc").cast("long") * lit(100L), col("n"))
          .cast("double") / lit(10000.0)).as("mean_value"),
        round((b * col("m") + (lit(1.0) - b) * mi) / lit(100.0), 4)
          .as("shrunk_mean"),
        round(b, 6).as("shrink_b"))
  }

  /** Restricted mean survival time at horizons τ — the AREA under the
    * [[kmSurvivalHorizons]] curve up to τ (Royston & Parmar '13 make
    * the case for it as the model-free effect measure): "of the first
    * τ days, how many does an average user survive?" — the number a
    * retention team can multiply by users and LTV-per-day, where a
    * survival PROBABILITY at τ cannot be. Complements the KM point
    * estimates and the Nelson–Aalen hazard with the integral view.
    *
    * Construction: the KM step function drops at each churn duration
    * t (same exact-BIGINT risk sets, same censoring rule, same
    * ln-sum-pinned product chain as the KM query — per-step S is the
    * IDENTICAL exp(round(Σln, 6), 6) value); RMST(τ) = Σ_j S(t_j) ·
    * (min(t_{j+1}, τ) − t_j)⁺ + min(t_1, τ), each segment term
    * micro-pinned round(S·width, 6) into DECIMAL(38,6) before the
    * per-horizon sum (order-free), ONE unpin. No churn before τ →
    * RMST = τ exactly (everyone survives the whole window, stated).
    *
    * Shape: the KM aggregation chain (≤ calendar-length rows after
    * the first hash agg); the two serial windows (cum-ln, lead) ride
    * the same collapsed ≤calendar frame the KM query's window does. */
  def rmstHorizons(events: DataFrame,
      horizons: Seq[Int] = Seq(7, 14, 30)): DataFrame = {
    val atRisk = tenureRisk(events)
    val wPrior = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.orderBy(col("t").asc)
    val ev = atRisk.filter(col("d") > 0L)
      .withColumn("cum", sum(log(
        (col("n").cast("double") - col("d").cast("double")) /
          col("n").cast("double"))).over(wPrior))
      .withColumn("s", round(exp(round(col("cum"), 6)), 6))
      .withColumn("nt", lead(col("t"), 1).over(wLead))
    val hs = events.sparkSession.createDataFrame(
      horizons.map(h => Tuple1(h.toLong))).toDF("horizon")
    val dec6 = (c: Column) => c.cast("decimal(38,6)")
    val segs = ev.crossJoin(broadcast(hs))
      .filter(col("t") < col("horizon"))
      .select(col("horizon"),
        round(col("s") *
          (least(coalesce(col("nt"), col("horizon")), col("horizon")) -
            col("t")).cast("double"), 6).as("seg"))
      .groupBy("horizon")
      .agg(sum(dec6(col("seg"))).as("tail_area"),
        count(lit(1)).as("n_steps"))
    val tmin = ev.agg(min("t").as("t1"))
    hs.crossJoin(broadcast(tmin))
      .join(segs, Seq("horizon"), "left")
      .select(col("horizon"),
        coalesce(col("n_steps"), lit(0L)).as("n_km_steps"),
        round((dec6(least(coalesce(col("t1"), col("horizon")),
          col("horizon"))) +
          coalesce(col("tail_area"), dec6(lit(0))))
          .cast("double"), 6).as("rmst_days"))
  }

  /** Discrete hazard curve by tenure day — [[kmSurvivalHorizons]]'s
    * intermediate surfaced as its own frame: for every duration t
    * with an observed churn, the at-risk count n_t, the churn count
    * d_t, and the hazard rate h(t) = d_t/n_t ("given a user survived
    * t−1 days, how likely do they churn on day t?" — the curve that
    * locates WHEN churn risk spikes, where the KM query reports how
    * much survives). Same exact-BIGINT risk-set windowing and
    * censoring rules; the rate is one pinned division. */
  def hazardByTenure(events: DataFrame): DataFrame = {
    tenureRisk(events)
      .filter(col("d") > 0L)
      .select(col("t").as("tenure_days"), col("n").as("n_at_risk"),
        col("d").as("n_churned"),
        round(col("d").cast("double") / col("n").cast("double"), 6)
          .as("hazard"))
  }

  /** Association rules over per-user event-type baskets — the
    * market-basket view of the log ("users who ever `view` also
    * `purchase`?"): every directed type pair with exact support,
    * confidence and lift. Counts are distinct-user BIGINTs; the three
    * metrics are single pinned divisions (lift's cross product casts
    * each factor to DOUBLE before multiplying — the established
    * convention), so every row is bit-deterministic. Rules with lift
    * > 1 co-occur more than independence predicts.
    *
    * Shape: one (user, type) distinct collapse, a user-keyed
    * self-join on that collapsed frame (the baskets frame is
    * user-cardinality; with ≤ dozens of types per user the pair
    * expansion is bounded), then a (type, type) hash agg at
    * |types|² cardinality; margins broadcast back. */
  def typeAssocRules(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val marg = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_one"))
    val total = ut.agg(countDistinct(col("user_id")).as("n_users"))
    val pairs = ut.as("a")
      .join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") =!= col("b.event_type"))
      .groupBy(col("a.event_type").as("antecedent"),
        col("b.event_type").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("antecedent"),
        col("n_one").as("n_ante"))), "antecedent")
      .join(broadcast(marg.select(col("event_type").as("consequent"),
        col("n_one").as("n_cons"))), "consequent")
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        round(col("n_both").cast("double") / col("n_users").cast("double"), 6)
          .as("support"),
        round(col("n_both").cast("double") / col("n_ante").cast("double"), 6)
          .as("confidence"),
        round((col("n_both").cast("double") * col("n_users").cast("double")) /
          (col("n_ante").cast("double") * col("n_cons").cast("double")), 6)
          .as("lift"))
  }

  /** Daily growth accounting — the canonical DAU decomposition every
    * growth dashboard runs: each day's active users split into NEW
    * (first day ever), RETAINED (also active yesterday) and
    * RESURRECTED (active before, but not yesterday), plus CHURNED =
    * yesterday's actives who went dark today (identity: churned(d) =
    * active(d−1) − retained(d), so the four columns reconcile exactly
    * — every count an exact BIGINT). Emitted for observed days;
    * churn across an entirely-empty calendar day nets to zero by the
    * same identity.
    *
    * Shape: one (user, day) distinct collapse, a per-user lag window
    * over the collapsed frame, one (day) hash agg, and a day-1
    * equi-join on the tiny daily frame. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    val classed = ud
      .withColumn("prev", lag(col("day"), 1).over(w))
      .select(col("day"),
        when(col("prev").isNull, 1L).otherwise(0L).as("is_new"),
        when(datediff(col("day"), col("prev")) === 1, 1L).otherwise(0L)
          .as("is_retained"),
        when(datediff(col("day"), col("prev")) > 1, 1L).otherwise(0L)
          .as("is_resurrected"))
    val daily = classed.groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum("is_new").as("n_new"),
        sum("is_retained").as("n_retained"),
        sum("is_resurrected").as("n_resurrected"))
    val prevActive = daily.select(expr("date_add(day, 1)").as("day"),
      col("n_active").as("prev_active"))
    daily.join(prevActive, Seq("day"), "left")
      .select(col("day"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
  }

  /** Funnel latency percentiles — how LONG conversion takes, the
    * timing counterpart of [[conversionFunnel]]'s how-many counts:
    * exact interpolated p50/p90 minutes from first view to first
    * subsequent click, and first click to first subsequent purchase
    * (same strictly-increasing-timestamp user frame as the funnel).
    * Gaps are exact BIGINT epoch-second differences (both engines
    * count whole-second boundaries); `percentile` ↔ DuckDB
    * `quantile_cont` share the interpolated-rank definition over the
    * identical integer multiset, and minutes are one pinned division
    * rounded once.
    *
    * Shape: three per-user min-aggregations (user-cardinality), two
    * tiny global percentile aggs unioned — nothing beyond the funnel
    * frame's cost. */
  def funnelLatency(events: DataFrame): DataFrame = {
    val fv = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("first_view"))
    val fc = events.filter(col("event_type") === "click")
      .join(fv, "user_id")
      .filter(col("ts") > col("first_view"))
      .groupBy("user_id").agg(min("ts").as("first_click"))
    val fp = events.filter(col("event_type") === "purchase")
      .join(fc, "user_id")
      .filter(col("ts") > col("first_click"))
      .groupBy("user_id").agg(min("ts").as("first_purchase"))
    def stage(name: String, joined: DataFrame, a: String, b: String) =
      joined
        .select((col(b).cast("long") - col(a).cast("long")).as("gap_s"))
        .agg(count(lit(1)).as("n_users"),
          round(percentile(col("gap_s"), lit(0.5)) / 60.0, 4)
            .as("p50_minutes"),
          round(percentile(col("gap_s"), lit(0.9)) / 60.0, 4)
            .as("p90_minutes"))
        .select(lit(name).as("stage"), col("n_users"),
          col("p50_minutes"), col("p90_minutes"))
    stage("view_to_click", fc.join(fv, "user_id"), "first_view", "first_click")
      .unionByName(stage("click_to_purchase", fp.join(fc, "user_id"),
        "first_click", "first_purchase"))
  }

  /** Population-stability-index drift of the event-type mix between
    * the first and second halves of the observed time range — the
    * standard ML-monitoring "did the traffic distribution shift?"
    * score, computed per type so each contribution is attributable
    * (PSI_t = (p₂−p₁)·ln(p₂/p₁); the total is the sum of the rows;
    * rule of thumb: > 0.2 total = significant drift). The midpoint is
    * exact integer epoch-microsecond arithmetic; shares are pinned
    * divisions of exact BIGINTs; the log argument is the cross
    * product (n₂·N₁)/(n₁·N₂) with each factor cast to DOUBLE before
    * multiplying (the unigram_kl convention). Types absent from
    * either half have an undefined log and are excluded — at drift
    * severities where that happens the absence itself is the alert.
    *
    * Shape: one (type, half) hash agg over the scan; everything
    * after runs on ≤ 2·|types| rows. */
  def psiTypeDrift(events: DataFrame): DataFrame = {
    val counts = halves(events, col("event_type")).groupBy("event_type")
      .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("half") === 2, 1L).otherwise(0L)).as("n2"))
    val totals = counts.agg(sum("n1").as("t1"), sum("n2").as("t2"))
    val p1 = col("n1").cast("double") / col("t1").cast("double")
    val p2 = col("n2").cast("double") / col("t2").cast("double")
    counts.filter(col("n1") > 0L && col("n2") > 0L)
      .crossJoin(broadcast(totals))
      .select(col("event_type"), col("n1").as("n_first"),
        col("n2").as("n_second"),
        round((p2 - p1) *
          log((col("n2").cast("double") * col("t1").cast("double")) /
            (col("n1").cast("double") * col("t2").cast("double"))), 6)
          .as("psi_term"))
  }

  /** Kolmogorov–Smirnov drift of the `value` distribution between the
    * first and second halves of the time range — the CONTINUOUS
    * counterpart of [[psiTypeDrift]]'s categorical score: D = max over
    * the binned support of |ECDF₁ − ECDF₂|, with the bin achieving
    * the max reported for attribution. Values are binned at integer
    * width before the ECDF (the histogram-KS practice): the ECDF
    * frame's cardinality is then bounded by the VALUE RANGE, not the
    * row count, so the one global cumulative window runs over a few
    * hundred rows at any data scale — the same bounded-serial-window
    * argument as [[activityLorenzDeciles]], but guaranteed by the
    * binning rather than by a cardinality assumption.
    *
    * Determinism: bin counts and cumulative counts are exact BIGINTs
    * (floor on a double is exact); the two ECDF shares are pinned
    * divisions; the argmax row is (gap DESC, bin ASC) — identical
    * doubles row-for-row make the winner engine-identical. An empty
    * half → NULL ks_stat and at_bin. */
  def ksValueDrift(events: DataFrame): DataFrame = {
    val (ecdf, totals) = binHalvesEcdf(events)
    ecdf.crossJoin(broadcast(totals))
      .select(col("bin"), col("n1"), col("n2"),
        when(col("n1") > 0L && col("n2") > 0L,
          abs(col("cum1").cast("double") / col("n1").cast("double") -
            col("cum2").cast("double") / col("n2").cast("double")))
          .as("gap"))
      .orderBy(col("gap").desc, col("bin").asc).limit(1)
      .select(col("n1").as("n_first"), col("n2").as("n_second"),
        round(col("gap"), 6).as("ks_stat"),
        when(col("gap").isNotNull, col("bin")).as("at_bin"))
  }

  /** Polynomial-kernel maximum mean discrepancy between the time
    * halves' value distributions (Gretton et al. JMLR '12) — the
    * KERNEL drift lens beside KS/W₁/PSI/energy: with the quadratic
    * kernel k(x,y) = (1 + xy/c)², the biased V-statistic COLLAPSES to
    * moments — MMD² = 2(m₁−m₂)²/c + (q₁−q₂)²/c² (m = mean cents,
    * q = mean cents²) — so the "intractable all-pairs kernel sum" is
    * two exact-lane squares, computable at any scale in one pass.
    * Zero iff the halves agree in mean AND second moment — the cheap
    * two-moment RKHS witness (a Gaussian kernel would see all
    * moments but cost libm per pair; this is the exactly-gateable
    * member). c = 10⁸ pins the kernel scale to cents² (values
    * O(10⁴ cents) → contributions O(1), stated).
    *
    * Determinism: the same midpoint-split as [[ksValueDrift]]; all
    * four moment lanes are exact BIGINT/DECIMAL(38,0) off one
    * conditional pass; the combination is one pinned chain, 8dp.
    * An empty half → NULL, stated. */
  def valueMmdDrift(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val m = halves(events, coalesce(cents, lit(0L)).as("c")).agg(
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("half") === 1, col("c"))).as("s1"),
      sum(when(col("half") === 1, dec(col("c")) * col("c"))).as("q1"),
      sum(when(col("half") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("half") === 2, col("c"))).as("s2"),
      sum(when(col("half") === 2, dec(col("c")) * col("c"))).as("q2"))
    val m1 = col("s1").cast("double") / col("n1").cast("double")
    val m2 = col("s2").cast("double") / col("n2").cast("double")
    val q1 = col("q1").cast("double") / col("n1").cast("double")
    val q2 = col("q2").cast("double") / col("n2").cast("double")
    val dm = m1 - m2
    val dq = q1 - q2
    val lin = lit(2.0) * dm * dm / lit(100000000.0)
    val quad = (dq / lit(100000000.0)) * (dq / lit(100000000.0))
    val ok = col("n1") > 0L && col("n2") > 0L
    m.select(col("n1").as("n_first"), col("n2").as("n_second"),
      when(ok, round(dm / lit(100.0), 6)).as("mean_diff"),
      when(ok, round(lin, 8)).as("mmd_linear"),
      when(ok, round(quad, 8)).as("mmd_quad"),
      when(ok, round(lin + quad, 8)).as("mmd_sq"))
  }

  /** O'Brien–Fleming-shaped group-sequential monitor over five
    * equally-spaced interim looks at the arm conversion experiment —
    * the "peek early without alpha-burn" discipline beside
    * [[sprtDailyAb]]'s fully-sequential test: at interim k of K the
    * two-proportion z compares against the boundary
    * b_k = z_{.025}·√(K/k) (the classic OBF shape — brutally
    * conservative at k = 1, nominal by k = K), so an early stop needs
    * overwhelming evidence and the final look spends ~full α.
    *
    * Determinism: interim cutoff days are integer calendar
    * arithmetic off the 1-row bounds; per-user per-interim activity
    * and conversion are exact conditional BIGINTs (users enter the
    * denominator once ACTIVE by the cutoff); each z is the
    * [[abConversionZtest]] pinned chain; the boundary is one
    * sqrt per interim. Degenerate interims (pooled rate 0/1 or an
    * empty arm) emit NULL z, false flag, stated.
    *
    * Shape: one per-user collapse against broadcast cutoffs, a 5×
    * explode on the COLLAPSED user frame, one per-interim reduce. */
  def obrienFlemingMonitor(events: DataFrame, looks: Int = 5,
      threshold: Double = 90.0): DataFrame = {
    val k = lit(looks)
    val bounds = events.agg(to_date(min(col("ts"))).as("d0"),
      to_date(max(col("ts"))).as("d1"))
    val perUser = events
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), col("d0"),
        datediff(to_date(col("ts")), col("d0")).as("off"),
        (datediff(col("d1"), col("d0")) + 1).as("span"),
        when(col("event_type") === "purchase" &&
          col("value") >= threshold, 1L).otherwise(0L).as("conv"))
      .groupBy("user_id", "d0", "span")
      .agg(min(col("off")).as("first_off"),
        min(when(col("conv") === 1L, col("off"))).as("conv_off"))
      .withColumn("arm", col("user_id") % lit(2L))
    val looksDf = perUser
      .select(col("arm"), col("d0"), col("span"), col("first_off"),
        col("conv_off"), explode(sequence(lit(1), k)).as("look"))
      // interim cutoff: the last day of the k-th of K equal slices
      .withColumn("cut",
        expr(s"CAST(span * look AS BIGINT) div $looks - 1"))
      .filter(col("first_off") <= col("cut")) // active by the cutoff
      .groupBy("look", "d0", "cut")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0L && col("conv_off") <= col("cut"), 1L)
          .otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1L && col("conv_off") <= col("cut"), 1L)
          .otherwise(0L)).as("conv_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val rateA = col("conv_a").cast("double") / na
    val rateB = col("conv_b").cast("double") / nb
    val pooled = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val varTerm = pooled * (lit(1.0) - pooled) *
      (lit(1.0) / na + lit(1.0) / nb)
    val z = (rateA - rateB) / sqrt(varTerm)
    val bound = lit(1.959964) *
      sqrt(k.cast("double") / col("look").cast("double"))
    val ok = col("n_a") > 0L && col("n_b") > 0L && varTerm > lit(0.0)
    looksDf.select(col("look").cast("long").as("look"),
      date_add(col("d0"), col("cut").cast("int")).as("cutoff_day"),
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(ok, round(z, 6)).as("z_score"),
      round(bound, 6).as("obf_bound"),
      when(ok, abs(z) > bound).otherwise(lit(false)).as("crossed"))
  }


  /** Theil's uncertainty coefficient between event type and weekday —
    * the entropy-based, ASYMMETRIC association pair beside
    * [[chiSquareTypeDow]]'s χ²/Cramér's V and
    * [[typeDowMutualInfo]]'s raw MI: U(X|Y) = (H(X)+H(Y)−H(X,Y)) /
    * H(X) reads "what fraction of X's uncertainty does knowing Y
    * remove" — 0 = independent, 1 = fully determined — and the two
    * directions differ when the domains' entropies do (the property
    * per-direction dashboards exploit). The symmetric form is their
    * entropy-weighted harmonic combination.
    *
    * Determinism: all counts are exact BIGINTs; each entropy is a sum
    * of ≤ |cells| pinned (n/N)·ln(n/N) terms (the
    * [[chiSquareTypeDow]] summation precedent), combined in pinned
    * chains and rounded once. Zero-entropy margins (a single type or
    * a single weekday) → NULL for the directions they'd divide,
    * stated. */
  def theilsUTypeDow(events: DataFrame): DataFrame = {
    val cells = events
      .groupBy(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"))
      .agg(count(lit(1)).as("nxy"))
    val byType = cells.groupBy("event_type").agg(sum("nxy").as("n"))
    val byDow = cells.groupBy("dow").agg(sum("nxy").as("n"))
    def entropy(df: DataFrame): DataFrame = {
      val tot = df.agg(sum("n").as("nt"))
      df.crossJoin(broadcast(tot))
        .select((-(col("n").cast("double") / col("nt").cast("double")) *
          log(col("n").cast("double") / col("nt").cast("double"))).as("t"),
          col("nt"))
        .groupBy("nt").agg(sum("t").as("h"))
    }
    val hx = entropy(byType).select(col("h").as("hx"), col("nt"))
    val hy = entropy(byDow).select(col("h").as("hy"))
    val hxy = entropy(cells.select(col("nxy").as("n"))).select(
      col("h").as("hxy"))
    val mi = col("hx") + col("hy") - col("hxy")
    hx.crossJoin(broadcast(hy)).crossJoin(broadcast(hxy))
      .select(col("nt").as("n_total"),
        round(col("hx"), 6).as("h_type"),
        round(col("hy"), 6).as("h_dow"),
        round(col("hxy"), 6).as("h_joint"),
        when(col("hx") > lit(0.0), round(mi / col("hx"), 6))
          .as("u_type_given_dow"),
        when(col("hy") > lit(0.0), round(mi / col("hy"), 6))
          .as("u_dow_given_type"),
        when(col("hx") + col("hy") > lit(0.0),
          round(lit(2.0) * mi / (col("hx") + col("hy")), 6))
          .as("u_symmetric"))
  }

  /** 2×2 odds ratio, its log standard error, and the φ coefficient
    * between every event-type pair's USER-LEVEL engagement — the
    * inferential companion of [[typeAssocRules]]' support/confidence
    * /lift (lift says "co-occurs more than chance"; ln OR ± 1.96·se
    * says whether that survives sampling noise) and of
    * [[cochranQTypes]]' omnibus k-ary test, pair by pair.
    *
    * Determinism: the engagement matrix is the binary distinct
    * collapse, so every 2×2 cell (n₁₁ both, n₁₀/n₀₁ exclusive, n₀₀
    * neither) is an exact BIGINT; OR, ln OR, se = √(Σ 1/cell) and
    * φ = (n₁₁n₀₀ − n₁₀n₀₁)/√(marginal product) are pinned chains off
    * DECIMAL(38,0)-exact products. Any empty cell → NULL OR/se
    * (stated — the Haldane correction is a modeling choice left to
    * the reader); a degenerate margin → NULL φ.
    *
    * Coverage: the pair frame comes from the co-engagement self-join,
    * so only pairs with n₁₁ ≥ 1 appear — a pair NO user shares is
    * absent from the output (its OR would be NULL anyway; its φ,
    * though defined at n₁₁ = 0, is not emitted). Mirrored exactly by
    * the oracle's join, so both rails carry the same restriction. */
  def typePairOddsRatio(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val marg = ut.groupBy("event_type").agg(count(lit(1)).as("n_one"))
    val total = ut.agg(countDistinct(col("user_id")).as("n_users"))
    val both = ut.as("a")
      .join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n11"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = both
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("n_one").as("na"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("n_one").as("nb"))), "type_b")
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n11"),
        (col("na") - col("n11")).as("n10"),
        (col("nb") - col("n11")).as("n01"),
        (col("n_users") - col("na") - col("nb") + col("n11")).as("n00"),
        col("na"), col("nb"), col("n_users"))
    val orv = (dec(col("n11")) * col("n00")).cast("double") /
      (dec(col("n10")) * col("n01")).cast("double")
    val se = sqrt(lit(1.0) / col("n11").cast("double") +
      lit(1.0) / col("n10").cast("double") +
      lit(1.0) / col("n01").cast("double") +
      lit(1.0) / col("n00").cast("double"))
    val phiDen = dec(col("na")) * col("nb") *
      (dec(col("n_users")) - col("na")) *
      (dec(col("n_users")) - col("nb"))
    val phi = (dec(col("n11")) * col("n00") -
      dec(col("n10")) * col("n01")).cast("double") /
      sqrt(phiDen.cast("double"))
    val okOr = col("n11") > 0L && col("n10") > 0L && col("n01") > 0L &&
      col("n00") > 0L
    cells.select(col("type_a"), col("type_b"),
      col("n11"), col("n10"), col("n01"), col("n00"),
      when(okOr, round(orv, 6)).as("odds_ratio"),
      when(okOr, round(log(orv), 6)).as("log_or"),
      when(okOr, round(se, 6)).as("se_log_or"),
      when(phiDen > lit(0), round(phi, 6)).as("phi"))
  }

  /** Kuiper drift of the binned `value` distribution between the time
    * halves — the cyclic-robust member of the drift battery
    * (KS/CvM/W₁/energy/PSI): V = D⁺ + D⁻ weighs BOTH ECDF excursion
    * directions equally, so a shift that pushes mass up in one region
    * and down in another (which can cancel to a small KS at the
    * crossing) still registers. The classic astronomy/phase-data
    * statistic (Kuiper '60).
    *
    * Exactness: on the integer-bin grid, D⁺·n₁·n₂ = max(cum₁·n₂ −
    * cum₂·n₁) and D⁻·n₁·n₂ = max(cum₂·n₁ − cum₁·n₂) — every operand
    * exact DECIMAL(38,0) (the final bin pins 0 into both maxima, so
    * one-sided drifts floor at 0 exactly); V is ONE pinned division.
    * Shape: the [[ksValueDrift]] ECDF frame, bounded by the value
    * range. */
  def valueKuiperDrift(events: DataFrame): DataFrame = {
    val (ecdf, totals) = binHalvesEcdf(events)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = dec(col("cum1")) * col("n2") - dec(col("cum2")) * col("n1")
    val m = ecdf.crossJoin(broadcast(totals))
      .select(col("n1"), col("n2"), g.as("g"))
      .groupBy("n1", "n2")
      .agg(max(col("g")).as("gp"), max(-col("g")).as("gm"))
    val nn = (dec(col("n1")) * col("n2")).cast("double")
    m.select(col("n1").as("n_first"), col("n2").as("n_second"),
      when(col("n1") > 0L && col("n2") > 0L,
        round(col("gp").cast("double") / nn, 6)).as("d_plus"),
      when(col("n1") > 0L && col("n2") > 0L,
        round(col("gm").cast("double") / nn, 6)).as("d_minus"),
      when(col("n1") > 0L && col("n2") > 0L,
        round((col("gp") + col("gm")).cast("double") / nn, 6))
        .as("kuiper_v"))
  }

  /** Wasserstein-1 (earth-mover) drift of the binned `value`
    * distribution between the first and second halves of the time
    * range — the MAGNITUDE counterpart of [[ksValueDrift]]'s max-gap
    * statistic: KS says whether the ECDFs separate, W₁ integrates BY
    * HOW MUCH mass must move (W₁ = ∫|F₁−F₂|). Two distributions can
    * share a small KS but a large W₁ (a long thin tail shift) — drift
    * monitors want both.
    *
    * Exactness: on the integer-bin grid W₁·n₁·n₂ =
    * Σ |cum₁·n₂ − cum₂·n₁|·gap — every factor an exact integer. The
    * products run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), good
    * to ~10¹⁷ rows per half before precision loss; ONE double
    * division at the end; an empty half → NULL. Scale: the ECDF frame
    * is bounded by the value RANGE (same argument as KS); both serial
    * windows order that collapsed grid. */
  def valueWassersteinDrift(events: DataFrame): DataFrame = {
    val (ecdf, totals) = binHalvesEcdf(events)
    val wLead = Window.orderBy(col("bin").asc)
    val terms = ecdf
      .withColumn("gap", lead(col("bin"), 1).over(wLead) - col("bin"))
      .filter(col("gap").isNotNull)
    terms.crossJoin(broadcast(totals))
      .agg(max("n1").as("n_first"), max("n2").as("n_second"),
        sum(abs(col("cum1").cast("decimal(19,0)") *
            col("n2").cast("decimal(19,0)") -
            col("cum2").cast("decimal(19,0)") *
              col("n1").cast("decimal(19,0)")) *
          col("gap").cast("decimal(10,0)")).as("num"))
      .select(col("n_first"), col("n_second"),
        when(col("n_first") > 0L && col("n_second") > 0L,
          round(col("num").cast("double") / (col("n_first").cast("double") *
            col("n_second").cast("double")), 6)).as("w1_distance"))
  }

  /** Cochran–Armitage trend test: does the purchase-conversion rate
    * rise MONOTONICALLY across the ordered activity quintiles? The
    * dose-response companion to [[chiSquareTypeDow]]'s unordered
    * association test — a trend statistic spends its single degree of
    * freedom on the ordering, so it detects a graded relationship an
    * omnibus χ² dilutes. Scores t_i = quintile index (1..5, the
    * standard equally-spaced convention);
    *
    *   z = (N·Σt·r − R·Σt·n) /
    *       √[ R·(N−R)·(N·Σt²·n − (Σt·n)²) / N ].
    *
    * Exactness: the quintile cut is [[graft.ops.RankOps.globalNtile]]'s
    * two-level distributed rank (total order (x, user_id) — no serial
    * window on the user frame); every moment is an exact
    * BIGINT/DECIMAL(38,0) cell sum (N·Σt²n squares past BIGINT at
    * ~10⁹ users); z is one pinned chain against the stated 1.959964
    * cut. Degenerate margins (R = 0, R = N, or zero score variance) →
    * NULL z.
    *
    * Shape: one per-user collapse, the ntile machinery, a 5-row cell
    * frame, one 1-row aggregate. */
  def cochranArmitageTrend(events: DataFrame): DataFrame = {
    val pu = events.groupBy("user_id")
      .agg(count(lit(1)).as("x"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    val tiles = RankOps.globalNtile(pu, col("x"),
      Seq(col("x").asc, col("user_id").asc), 5, "stratum")
    val cells = tiles.groupBy("stratum")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("r"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val t = col("stratum").cast("long")
    val m = cells.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"),
      sum(t * col("r")).as("str"), sum(t * col("n")).as("stn"),
      sum(d38(t) * t * col("n")).as("sttn"))
    val num = (d38(col("nn")) * col("str") -
      d38(col("rr")) * col("stn"))
    val varInner = d38(col("rr")) * (col("nn") - col("rr")) *
      (d38(col("nn")) * col("sttn") - d38(col("stn")) * col("stn"))
    val z = num.cast("double") /
      sqrt(varInner.cast("double") / col("nn").cast("double"))
    val ok = col("rr") > 0L && col("rr") < col("nn") &&
      (d38(col("nn")) * col("sttn") - d38(col("stn")) * col("stn")) > 0L
    m.select(col("nn").as("n_users"), col("rr").as("n_conv"),
      when(ok, round(z, 6)).as("z_score"),
      when(ok,
        when(z > lit(1.959964), lit("increasing"))
          .when(z < lit(-1.959964), lit("decreasing"))
          .otherwise(lit("none"))).as("trend"))
  }

  /** Mann–Kendall trend test on the daily-volume series — the
    * SIGNIFICANCE gate for [[theilSenTrendByType]]'s slope (the two
    * are the classical pair: Theil–Sen estimates the monotone trend,
    * Mann–Kendall decides whether it is real): S = Σ_{i<j}
    * sign(y_j − y_i) over the zero-filled calendar, with the
    * tie-corrected variance
    *
    *   Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18
    *
    * and the continuity-corrected z = (S∓1)/√Var. Exactness: S and
    * 18·Var are exact BIGINTs (pair counts and tie-group cubics over
    * the bounded calendar); z is one pinned chain against the stated
    * 1.959964 cut. Zero variance (constant series) → NULL z, 'none'.
    *
    * Scale: the pair join is calendar² — a constant of the
    * observation window (the [[theilSenTrendByType]] argument), never
    * data-proportional; the one corpus-sized stage is the daily
    * collapse. */
  def mannKendallDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
      .localCheckpoint() // pair join + tie groups + count all read it
    val s = grid.as("a").join(grid.as("b"), col("a.day") < col("b.day"))
      .agg(sum(when(col("b.y") > col("a.y"), 1L)
        .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s"))
    val ties = grid.groupBy("y").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tsum"), sum(col("t")).as("n"))
    val j = s.crossJoin(ties)
    val n = col("n")
    val var18 = n * (n - 1L) * (lit(2L) * n + 5L) - col("tsum")
    val vs = var18.cast("double") / lit(18.0)
    val z = when(col("s") > 0L, (col("s") - lit(1L)).cast("double") / sqrt(vs))
      .when(col("s") < 0L, (col("s") + lit(1L)).cast("double") / sqrt(vs))
      .otherwise(lit(0.0))
    j.select(col("n").as("n_days"), col("s").as("s_stat"),
      var18.as("var_s_x18"),
      when(var18 > 0L, round(z, 6)).as("z_score"),
      when(var18 > 0L,
        when(z > lit(1.959964), lit("increasing"))
          .when(z < lit(-1.959964), lit("decreasing"))
          .otherwise(lit("none"))).as("trend"))
  }

  /** Breusch–Pagan heteroskedasticity test on the daily trend
    * regression (Breusch & Pagan '79, Koenker's studentized LM form):
    * after fitting y ~ t, regress the SQUARED residuals on t —
    * LM = n·R²_aux ~ χ²₁ under homoskedasticity. The diagnostic that
    * says whether [[dailyTrendByType]]-style OLS standard errors can
    * be trusted (growing traffic usually grows variance with it —
    * exactly the alternative this detects).
    *
    * Determinism: the D-scaled residual lane e_t·D = D·y_t − An − Bn·t
    * (D = nSxx−Sx², Bn = nSxy−SxSy, An = SxxSy−SxSxy) is exact
    * DECIMAL(38,0); each squared residual (eD/D)² pins to micro-units
    * (×10⁶ into DECIMAL(38,0) — HUGEINT on the oracle rail) before
    * the aux sums, and the Σg² lane pins its double products ×10⁴
    * the same way (decimal×decimal would hit Spark's
    * declared-precision scale reduction — stated); the R² chain runs
    * on identical doubles. Zero aux variance → NULL, stated.
    *
    * Shape: one daily collapse, one 1-row moment reduce broadcast
    * back, one aux reduce — nothing corpus-sized past the first agg. */
  def breuschPaganDaily(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = dailyCountGrid(events)
      .select((col("t") + lit(1L)).as("t"), col("cnt").as("y"))
      .localCheckpoint() // moment reduce + the residual pass read it
    val m = g.agg(count(lit(1)).as("n"), sum("t").as("sx"),
      sum(dec(col("t")) * col("t")).as("sxx"), sum("y").as("sy"),
      sum(dec(col("t")) * col("y")).as("sxy"))
    val dD = dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")
    val bN = dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy")
    val aN = dec(col("sxx")) * col("sy") - dec(col("sx")) * col("sxy")
    val mRow = m.select(col("n"), col("sx"), col("sxx"),
      dD.as("d"), bN.as("bn"), aN.as("an"))
    val eD = dec(col("d")) * col("y") - col("an") - col("bn") * col("t")
    val e = eD.cast("double") / col("d").cast("double")
    val gm = round(e * e * lit(1000000.0), 0).cast("decimal(38,0)")
    val aux = g.crossJoin(broadcast(mRow))
      .select(col("n"), col("sx"), col("sxx"), col("t"), gm.as("gm"))
      .withColumn("gd", col("gm").cast("double") / lit(1000000.0))
      .groupBy("n", "sx", "sxx")
      .agg(sum(col("gm")).as("sgm"),
        sum(col("gm") * col("t")).as("stgm"),
        sum(round(col("gd") * col("gd") * lit(10000.0), 0)
          .cast("decimal(38,0)")).as("sggm"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val sgD = col("sgm").cast("double") / lit(1000000.0)
    val stgD = col("stgm").cast("double") / lit(1000000.0)
    val sggD = col("sggm").cast("double") / lit(10000.0)
    val num = nD * stgD - sxD * sgD
    val den1 = nD * col("sxx").cast("double") - sxD * sxD
    val den2 = nD * sggD - sgD * sgD
    val r2 = num * num / (den1 * den2)
    val ok = col("n") >= 3L && den2 > lit(0.0)
    aux.select(col("n").as("n_days"),
      when(ok, round(r2, 6)).as("r2_aux"),
      when(ok, round(nD * r2, 6)).as("lm_stat"),
      when(ok, nD * r2 > lit(3.841459)).otherwise(lit(false))
        .as("significant"))
  }

  /** Chow structural-break F-test at the calendar midpoint (Chow
    * '60): fit y ~ t on the full series and on each half;
    * F = ((SSE_full − SSE₁ − SSE₂)/p) / ((SSE₁+SSE₂)/(n−2p)), p = 2
    * — did the trend's level or slope CHANGE mid-window? The
    * regression-flavored companion to [[pettittChangepointDaily]]'s
    * rank locator (Pettitt finds the most likely shift day; Chow
    * tests a HYPOTHESIZED break against the pooled fit).
    *
    * Determinism: per-segment moments are exact (BIGINT /
    * DECIMAL(38,0)) off ONE conditional collapse — the full-series
    * moments are their sums, so both fits share identical lanes; each
    * SSE is the closed form (A − B²/D)/n_s in one pinned double
    * chain; F is pure IEEE on those. Degenerate halves (D = 0) or
    * n ≤ 4 → all NULL; a PERFECT break (both half-SSEs zero) emits
    * its SSEs with NULL F (the statistic is infinite), stated.
    *
    * Shape: one daily collapse, one 1-row count broadcast, one
    * 2-group collapse folded to a single row. */
  def chowBreakDaily(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = dailyCountGrid(events)
      .select((col("t") + lit(1L)).as("t"), col("cnt").as("y"))
      .localCheckpoint() // count probe + the segment collapse read it
    val nRow = g.agg(count(lit(1)).as("n"))
    val segs = g.crossJoin(broadcast(nRow))
      .withColumn("seg", when(col("t") * lit(2L) <= col("n"), 1L)
        .otherwise(2L))
      .groupBy("n", "seg")
      .agg(count(lit(1)).as("ns"), sum("t").as("st"),
        sum(dec(col("t")) * col("t")).as("stt"), sum("y").as("sy"),
        sum(dec(col("t")) * col("y")).as("sty"),
        sum(dec(col("y")) * col("y")).as("syy"))
    def sseOf(ns: Column, st: Column, stt: Column, sy: Column,
        sty: Column, syy: Column): (Column, Column) = {
      val a = dec(ns) * syy - dec(sy) * sy
      val b = dec(ns) * sty - dec(st) * sy
      val d = dec(ns) * stt - dec(st) * st
      (d, (a.cast("double") - (b * b).cast("double") / d.cast("double")) /
        ns.cast("double"))
    }
    val one = segs.groupBy("n").agg(
      sum(when(col("seg") === 1L, col("ns"))).as("n1"),
      sum(when(col("seg") === 1L, col("st"))).as("st1"),
      sum(when(col("seg") === 1L, col("stt"))).as("stt1"),
      sum(when(col("seg") === 1L, col("sy"))).as("sy1"),
      sum(when(col("seg") === 1L, col("sty"))).as("sty1"),
      sum(when(col("seg") === 1L, col("syy"))).as("syy1"),
      sum(when(col("seg") === 2L, col("ns"))).as("n2"),
      sum(when(col("seg") === 2L, col("st"))).as("st2"),
      sum(when(col("seg") === 2L, col("stt"))).as("stt2"),
      sum(when(col("seg") === 2L, col("sy"))).as("sy2"),
      sum(when(col("seg") === 2L, col("sty"))).as("sty2"),
      sum(when(col("seg") === 2L, col("syy"))).as("syy2"))
    val (d1, sse1) = sseOf(col("n1"), col("st1"), col("stt1"),
      col("sy1"), col("sty1"), col("syy1"))
    val (d2, sse2) = sseOf(col("n2"), col("st2"), col("stt2"),
      col("sy2"), col("sty2"), col("syy2"))
    val (dF, sseF) = sseOf(col("n"),
      col("st1") + col("st2"), col("stt1") + col("stt2"),
      col("sy1") + col("sy2"), col("sty1") + col("sty2"),
      col("syy1") + col("syy2"))
    val nD = col("n").cast("double")
    val f = ((sseF - sse1 - sse2) / lit(2.0)) /
      ((sse1 + sse2) / (nD - lit(4.0)))
    val ok = col("n") > 4L && d1 > lit(0) && d2 > lit(0) && dF > lit(0)
    val okF = ok && (sse1 + sse2) > lit(0.0)
    one.select(col("n").as("n_days"), col("n1").as("n_first"),
      when(ok, round(sseF, 6)).as("sse_full"),
      when(ok, round(sse1, 6)).as("sse_first"),
      when(ok, round(sse2, 6)).as("sse_second"),
      when(okF, round(f, 6)).as("f_stat"))
  }

  /** Circular statistics of the event hour-of-day (Mardia's
    * directional toolkit): resultant length R̄, circular mean hour,
    * and the Rayleigh uniformity test z = n·R̄² with Wilkie's
    * correction p ≈ e^{−z}(1 + (2z − z²)/4n) — the right lens for
    * the 24-hour clock, where [[circadianEntropyStats]]' histogram
    * entropy sees dispersion but not DIRECTION (3 am and 3 pm peaks
    * average to "noon" under linear means; circular means do not).
    *
    * Determinism: the log collapses to ≤24 (hour, count) cells; each
    * count·cos/sin term pins to BIGINT micro-units before the sums
    * (libm cos/sin evaluate ONCE per distinct hour on identical
    * doubles); R̄/mean/z/p are pinned chains, 6dp. Empty input → no
    * row. */
  def circularHourStats(events: DataFrame): DataFrame = {
    val cells = events.select(hour(col("ts")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    val theta = lit(2.0) * lit(math.Pi) * col("h").cast("double") /
      lit(24.0)
    val s = cells.select(col("c"),
        round(col("c").cast("double") * cos(theta) * lit(1000000.0), 0)
          .cast("long").as("cm"),
        round(col("c").cast("double") * sin(theta) * lit(1000000.0), 0)
          .cast("long").as("sm"))
      .agg(sum("c").as("n"), sum("cm").as("cm"), sum("sm").as("sm"))
    val nD = col("n").cast("double")
    val cS = col("cm").cast("double") / lit(1000000.0)
    val sS = col("sm").cast("double") / lit(1000000.0)
    val rBar = sqrt(cS * cS + sS * sS) / nD
    val z = nD * rBar * rBar
    val p = exp(-z) * (lit(1.0) + (lit(2.0) * z - z * z) /
      (lit(4.0) * nD))
    val meanHour = (atan2(sS, cS) / (lit(2.0) * lit(math.Pi)) *
      lit(24.0) + lit(24.0)) % lit(24.0)
    s.filter(col("n") > 0L)
      .select(col("n").as("n_events"),
        round(cS, 6).as("c_sum"), round(sS, 6).as("s_sum"),
        round(rBar, 6).as("resultant_r"),
        round(meanHour, 6).as("mean_hour"),
        round(z, 6).as("rayleigh_z"), round(p, 6).as("p_value"),
        (p < lit(0.05)).as("significant"))
  }

  /** Epanechnikov kernel density of the value distribution on a
    * pinned 21-point grid — the SMOOTH density readout beside
    * [[valueHistogram]]'s boxes and [[valueEquidepthHistogram]]'s
    * quantile bins (a histogram's shape depends on bin phase; the
    * KDE's doesn't), with the MSE-optimal polynomial kernel
    * K(u) = 0.75(1−u²) — deliberately not Gaussian: polynomial
    * arithmetic on exact cents keeps every kernel term a pinned
    * double with NO libm in the sum. Bandwidth h = 1.06·σ·n^{−1/5}
    * (Silverman's rule on the population σ, one pow call).
    *
    * Determinism: the log collapses to exact (cents, count) cells;
    * each count·K(u) term pins to BIGINT micro-units before the
    * per-gridpoint sums; σ comes off exact lanes. Constant values
    * (σ = 0) → no rows, stated.
    *
    * Shape: one value collapse (distinct-cents-bounded, constant in
    * corpus size), a 21×cells broadcast pair frame, 21 output rows. */
  def kdeValueDensity(events: DataFrame, gridPoints: Int = 21): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = events.select(cents.as("c")).filter(col("c").isNotNull)
      .groupBy("c").agg(count(lit(1)).as("k"))
      .localCheckpoint() // moments + the grid pair frame read it
    val m = cells.agg(sum("k").as("n"), sum(dec(col("c")) * col("k")).as("s1"),
      sum(dec(col("c")) * col("c") * col("k")).as("s2"),
      min("c").as("cmin"), max("c").as("cmax"))
    val nD = col("n").cast("double")
    val sig = sqrt((dec(col("n")) * col("s2") - dec(col("s1")) * col("s1"))
      .cast("double") / (dec(col("n")) * col("n")).cast("double"))
    val params = m.select(col("n"), col("cmin"), col("cmax"),
        (lit(1.06) * sig * pow(nD, lit(-0.2))).as("h"))
      .filter(col("h") > lit(0.0))
    val grid = params.select(col("n"), col("h"), col("cmin"), col("cmax"),
      explode(sequence(lit(0), lit(gridPoints - 1))).as("j"))
      .select(col("n"), col("h"), col("j").cast("long").as("grid_idx"),
        (col("cmin").cast("double") +
          col("j").cast("double") *
            (col("cmax") - col("cmin")).cast("double") /
            lit((gridPoints - 1).toDouble)).as("gx"))
    val u = (col("c").cast("double") - col("gx")) / col("h")
    val term = when(abs(u) < lit(1.0),
      round(col("k").cast("double") * lit(0.75) * (lit(1.0) - u * u) *
        lit(1000000.0), 0).cast("long")).otherwise(lit(0L))
    cells.crossJoin(broadcast(grid)) // cells × 21 gridpoints, bounded
      .select(col("n"), col("h"), col("grid_idx"), col("gx"),
        term.as("tm"))
      .groupBy("n", "h", "grid_idx", "gx")
      .agg(sum("tm").as("tsum"))
      .select(col("grid_idx"),
        round(col("gx") / lit(100.0), 6).as("x"),
        round(col("tsum").cast("double") / lit(1000000.0) /
          (col("n").cast("double") * col("h")) * lit(100.0), 8)
          .as("density"))
  }

  /** Huber M-estimator of the per-type value location (Huber '64,
    * c = 1.345σ — 95% Gaussian efficiency): the ROBUST mean between
    * [[EventOps.anovaValueByType]]'s moment mean (one whale moves it)
    * and the median (throws away 36% efficiency), fit by EXACTLY 3
    * IRLS steps from the sample mean (the [[coxPhAb]] fixed-iteration
    * contract — the ψ-weighted update is a contraction on this
    * scale): w = min(1, cσ/|x−μ|), μ' = Σwx/Σw.
    *
    * Determinism: the log collapses once to exact (type, cents,
    * count) cells; σ is the population σ off exact lanes; each step's
    * Σkwx / Σkw terms pin to BIGINT micro-units before their sums;
    * the weight branch divides ONLY in the untaken-arm-safe otherwise
    * (σ = 0 ⇒ all values equal ⇒ every weight takes the 1-arm). */
  def huberMLocationByType(events: DataFrame, c: Double = 1.345): DataFrame = {
    val dec = (col0: Column) => col0.cast("decimal(38,0)")
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val cells = events.select(col("event_type"), cents.as("x"))
      .filter(col("x").isNotNull)
      .groupBy("event_type", "x").agg(count(lit(1)).as("k"))
      .localCheckpoint() // moments + 3 IRLS passes read it
    val m0 = cells.groupBy("event_type")
      .agg(sum(col("k")).as("n"), sum(col("x") * col("k")).as("s"),
        sum(dec(col("x")) * col("x") * col("k")).as("ss"))
      .select(col("event_type"), col("n"),
        (col("s").cast("double") / col("n").cast("double")).as("mu"),
        sqrt((dec(col("n")) * col("ss") - dec(col("s")) * col("s"))
          .cast("double") /
          (dec(col("n")) * col("n")).cast("double")).as("sigma"))
    def step(mu: DataFrame): DataFrame = {
      val dev = abs(col("x").cast("double") - col("mu"))
      val w = when(dev <= lit(c) * col("sigma"), lit(1.0))
        .otherwise(lit(c) * col("sigma") / dev)
      cells.join(broadcast(mu), "event_type")
        .select(col("event_type"), col("n"), col("sigma"),
          round(col("k").cast("double") * w * col("x").cast("double") *
            lit(1000.0), 0).cast("decimal(38,0)").as("wx"),
          round(col("k").cast("double") * w * lit(1000000.0), 0)
            .cast("decimal(38,0)").as("wk"))
        .groupBy("event_type", "n", "sigma")
        .agg(sum("wx").as("swx"), sum("wk").as("swk"))
        .select(col("event_type"), col("n"), col("sigma"),
          (col("swx").cast("double") * lit(1000.0) /
            col("swk").cast("double")).as("mu"))
    }
    var mu = m0
    for (_ <- 1 to 3) mu = step(mu).localCheckpoint(eager = false)
    val finalDev = abs(col("x").cast("double") - col("mu"))
    val down = cells.join(broadcast(mu), "event_type")
      .groupBy("event_type")
      .agg(sum(when(finalDev > lit(c) * col("sigma"), col("k"))
        .otherwise(lit(0L))).as("n_downweighted"))
    mu.join(down, "event_type")
      .join(m0.select(col("event_type"), col("mu").as("mean")),
        "event_type")
      .select(col("event_type"), col("n"),
        round(col("mean") / lit(100.0), 6).as("mean_value"),
        round(col("sigma") / lit(100.0), 6).as("sigma_value"),
        round(col("mu") / lit(100.0), 6).as("huber_mean"),
        col("n_downweighted"))
  }

  /** Train/test next-event prediction accuracy of the first-order
    * Markov model — the HONEST version of [[eventTransitions]]'
    * in-sample probabilities: fit argmax-next on the first time half,
    * score top-1 accuracy on the second (pairs straddling the
    * midpoint are dropped — neither half owns them, stated), against
    * the majority-next baseline. The gap between model and baseline
    * is the actual sequential signal; a dashboard quoting in-sample
    * transition weights overstates it.
    *
    * Determinism: the per-user order is (ts, event_id) — the
    * [[eventTransitions]] key; the model argmax tie-breaks (count
    * DESC, next_type ASC); unseen current types count as wrong and
    * are reported (never silently dropped); counts exact, two pinned
    * divisions.
    *
    * Shape: one windowed pass builds pairs, two hash aggs fit the
    * model (≤|types|² frame), the test join keys on the ≤|types|
    * broadcast model. */
  def markovNextEventAccuracy(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    // not withTimeRange: only the midpoint joins the windowed pairs
    val mid = events.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
      .select(expr("(lo + hi) div 2").as("mid"))
    val pairs = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        lead(unix_micros(col("ts")), 1).over(w).as("next_us"))
      .filter(col("next_type").isNotNull)
      .crossJoin(broadcast(mid))
      .localCheckpoint() // train + test + straddle count read it
    val train = pairs.filter(col("next_us") <= col("mid"))
      .groupBy("event_type", "next_type").agg(count(lit(1)).as("c"))
      .localCheckpoint() // model argmax + majority read it
    val model = graft.plans.TopK.perGroup(train, Seq(col("event_type")),
      Seq(col("c").desc, col("next_type").asc), 1)
      .select(col("event_type"), col("next_type").as("predicted"))
    val majority = train.groupBy("next_type").agg(sum(col("c")).as("c"))
      .orderBy(col("c").desc, col("next_type").asc).limit(1)
      .select(col("next_type").as("majority_type"))
    val test = pairs.filter(col("us") > col("mid"))
      .join(broadcast(model), Seq("event_type"), "left")
      .crossJoin(broadcast(majority))
    val agg = test.agg(count(lit(1)).as("n_test"),
      sum(when(col("predicted") === col("next_type"), 1L).otherwise(0L))
        .as("n_correct"),
      sum(when(col("predicted").isNull, 1L).otherwise(0L))
        .as("n_unseen_context"),
      sum(when(col("majority_type") === col("next_type"), 1L)
        .otherwise(0L)).as("n_majority_correct"),
      first(col("majority_type")).as("majority_type"))
    val nTrain = train.agg(coalesce(sum(col("c")), lit(0L)).as("n_train"))
    agg.crossJoin(broadcast(nTrain))
      .select(col("n_train"), col("n_test"), col("n_correct"),
        col("n_unseen_context"), col("majority_type"),
        when(col("n_test") > 0L,
          round(col("n_correct").cast("double") /
            col("n_test").cast("double"), 6)).as("accuracy"),
        when(col("n_test") > 0L,
          round(col("n_majority_correct").cast("double") /
            col("n_test").cast("double"), 6)).as("baseline_accuracy"))
  }

  /** Murphy decomposition of the Brier score over the
    * [[scoreCalibrationBins]] binning — Brier = REL − RES + UNC +
    * within-bin variance: reliability (calibration error — how far
    * each bin's mean score sits from its outcome rate), resolution
    * (how much the bins separate outcomes — the part worth having),
    * uncertainty (the outcome base rate's own entropy), and the
    * binning residual emitted explicitly as `within_bin_var` (the exact
    * identity holds only for bin-constant forecasts — most dashboards
    * silently absorb it into REL; here it is a column, ≥ 0 by
    * construction).
    *
    * Determinism: the direct Brier is EXACT — Σ(c − cmin − o·R)² in
    * DECIMAL(38,0) cents lanes over one pass, two pinned divisions;
    * per-bin REL/RES terms pin to micro-units before their ≤10-term
    * sums; UNC is one pinned chain. Constant scores (R = 0) → no
    * rows, stated. */
  def brierDecomposition(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val mm = events.agg(min(cents).as("cmin"), max(cents).as("cmax"))
    val base = events.crossJoin(broadcast(mm))
      .filter(col("cmax") > col("cmin"))
      .select((cents - col("cmin")).as("s"),
        (col("cmax") - col("cmin")).as("r"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("o"))
      .select(col("s"), col("r"), col("o"),
        least(expr("s * 10 div r"), lit(9L)).as("bin"))
    val bins = base.groupBy("bin", "r")
      .agg(count(lit(1)).as("nk"), sum(col("o")).as("ok"),
        sum(col("s")).as("sk"),
        sum(dec(col("s") - col("o") * col("r")) *
          (col("s") - col("o") * col("r"))).as("sq"))
      .localCheckpoint() // global rates + the term sums read it
    val tot = bins.agg(sum(col("nk")).as("n"), sum(col("ok")).as("opos"),
      sum(col("sq")).as("sqall"), max(col("r")).as("r"))
    val fbar = col("sk").cast("double") /
      (col("nk").cast("double") * col("r").cast("double"))
    val obar_k = col("ok").cast("double") / col("nk").cast("double")
    val obar = col("opos").cast("double") / col("n").cast("double")
    val relTerm = col("nk").cast("double") * (fbar - obar_k) *
      (fbar - obar_k)
    val resTerm = col("nk").cast("double") * (obar_k - obar) *
      (obar_k - obar)
    val terms = bins.crossJoin(broadcast(tot.select(col("n"),
        col("opos"))))
      .select(
        round(relTerm * lit(1000000.0), 0).cast("long").as("relm"),
        round(resTerm * lit(1000000.0), 0).cast("long").as("resm"))
      .agg(sum("relm").as("relm"), sum("resm").as("resm"))
    val nD = col("n").cast("double")
    val brier = col("sqall").cast("double") /
      (col("r").cast("double") * col("r").cast("double")) / nD
    val rel = col("relm").cast("double") / lit(1000000.0) / nD
    val res = col("resm").cast("double") / lit(1000000.0) / nD
    val unc = obar * (lit(1.0) - obar)
    tot.crossJoin(broadcast(terms))
      .select(col("n").as("n_events"),
        round(brier, 6).as("brier"),
        round(rel, 6).as("reliability"),
        round(res, 6).as("resolution"),
        round(unc, 6).as("uncertainty"),
        // + 0.0 normalizes IEEE negative zero: the residual is ~0 by
        // construction and the two engines' rounds disagree on -0.0
        (round(brier - (rel - res + unc), 6) + lit(0.0))
          .as("within_bin_var"))
  }

  /** Pettitt changepoint test on the zero-filled daily count series
    * (Pettitt '79) — the rank-based "WHEN did the level shift?"
    * locator beside [[cusumChangepoints]]' mean-shift monitor and
    * [[mannKendallDaily]]'s monotone-trend test: U_t = Σ_{i≤t, j>t}
    * sgn(x_j − x_i), K = max_t |U_t|, and the shift day is the
    * argmax; approximate p = 2·exp(−6K²/(n³+n²)).
    *
    * U_t computes in O(n) via the midrank identity: for each day,
    * Σ_{all j} sgn(x_j − x_i) = n − 2aᵢ − eᵢ (aᵢ = #days strictly
    * below, eᵢ = #days tied INCLUDING self), and the i,j ≤ t part of
    * U_t is antisymmetric → U_t = Σ_{i≤t}(n − 2aᵢ − eᵢ). Every lane
    * is an exact BIGINT (a/e from one value-group collapse + a
    * group-bounded prefix window); the argmax tie-pins to the
    * earliest day via ORDER BY |U| DESC, day ASC LIMIT 1 on both
    * rails; p is one exp() chain on identical doubles, 6dp.
    *
    * Shape: one daily collapse, one value-group collapse, serial
    * windows only over collapsed calendar-bounded frames, a LIMIT 1
    * pick — nothing corpus-sized past the first agg. */
  def pettittChangepointDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
      .localCheckpoint() // value groups + totals + the day join read it
    val wv = Window.orderBy(col("y").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val av = grid.groupBy("y").agg(count(lit(1)).as("e"))
      .withColumn("a", coalesce(sum(col("e")).over(wv), lit(0L)))
    val tot = grid.agg(count(lit(1)).as("n"), max(col("day")).as("dmax"))
    val wd = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val u = grid.join(av, "y").crossJoin(broadcast(tot))
      .select(col("day"), col("n"), col("dmax"),
        (col("n") - lit(2L) * col("a") - col("e")).as("v"))
      .withColumn("u", sum(col("v")).over(wd))
      .filter(col("day") < col("dmax")) // U_t defined for t = 1..n−1
    val best = u.orderBy(abs(col("u")).desc, col("day").asc).limit(1)
    val nD = col("n").cast("double")
    val kD = abs(col("u")).cast("double")
    val p = lit(2.0) * exp(lit(-6.0) * kD * kD /
      (nD * nD * nD + nD * nD))
    best.select(col("n").as("n_days"), abs(col("u")).as("k_stat"),
      col("day").as("change_day"), round(p, 6).as("p_value"),
      (p < lit(0.05)).as("significant"))
  }

  /** Delta-method CI and z-test for a RATIO metric between the parity
    * arms — revenue per event, the metric class ([[abConversionZtest]]
    * covers proportions, [[welchTtestAb]] per-user means) where naive
    * variance is WRONG because numerator and denominator are
    * correlated within users (Deng et al. KDD '18's workhorse): with
    * per-user (numᵢ, denᵢ) and R = Σnum/Σden,
    * Var(R̂) ≈ (s²_n − 2R·s_nd + R²·s²_d) / (n·d̄²) — the variance of
    * the linearized num − R·den, nonnegative by construction.
    *
    * Determinism: per-user lanes are exact (BIGINT cents / counts);
    * all five moment sums per arm are exact BIGINT/DECIMAL(38,0) off
    * one grouped pass; R, each s², and z are pinned double chains on
    * those lanes, 6dp once. Degenerate arms (n < 2, Σden = 0, zero
    * variance) → NULL z, false flag, stated.
    *
    * Shape: per-user collapse → single 1-row conditional-sum
    * aggregate (the [[abConversionZtest]] shape); nothing shuffles
    * twice. */
  def ratioMetricDeltaCi(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val perUser = events
      .select(col("user_id"), coalesce(cents, lit(0L)).as("c"))
      .groupBy("user_id")
      .agg(sum(col("c")).as("num"), count(lit(1)).as("den"))
      .withColumn("arm", col("user_id") % lit(2L))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // sum() skips the NULLs of the untaken arm — no typed zero needed
    def side(a: Int, c: Column) = sum(when(col("arm") === a.toLong, c))
    val cells = perUser.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      side(0, col("num")).as("sn_a"), side(0, col("den")).as("sd_a"),
      side(0, dec(col("num")) * col("num")).as("snn_a"),
      side(0, dec(col("den")) * col("den")).as("sdd_a"),
      side(0, dec(col("num")) * col("den")).as("snd_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      side(1, col("num")).as("sn_b"), side(1, col("den")).as("sd_b"),
      side(1, dec(col("num")) * col("num")).as("snn_b"),
      side(1, dec(col("den")) * col("den")).as("sdd_b"),
      side(1, dec(col("num")) * col("den")).as("snd_b"))
    def lanes(sfx: String): (Column, Column, Column) = {
      val n = col(s"n_$sfx"); val sn = col(s"sn_$sfx")
      val sd = col(s"sd_$sfx")
      val nD = n.cast("double")
      val r = sn.cast("double") / sd.cast("double")
      val denom = (dec(n) * (n - lit(1L))).cast("double")
      val vn = (dec(n) * col(s"snn_$sfx") - dec(sn) * sn).cast("double") / denom
      val vd = (dec(n) * col(s"sdd_$sfx") - dec(sd) * sd).cast("double") / denom
      val cnd = (dec(n) * col(s"snd_$sfx") - dec(sn) * sd).cast("double") / denom
      val dbar = sd.cast("double") / nD
      val varR = (vn - lit(2.0) * r * cnd + r * r * vd) /
        (nD * dbar * dbar)
      val ok = n >= 2L && sd > 0L
      (when(ok, r), when(ok, varR), n)
    }
    val (ra, va, na) = lanes("a")
    val (rb, vb, nb) = lanes("b")
    val z = (ra - rb) / sqrt(va + vb)
    val okZ = va.isNotNull && vb.isNotNull && (va + vb) > lit(0.0)
    cells.select(na.as("n_a"), nb.as("n_b"),
      round(ra / lit(100.0), 6).as("ratio_a"),
      round(rb / lit(100.0), 6).as("ratio_b"),
      when(va.isNotNull, round(sqrt(va) / lit(100.0), 6)).as("se_a"),
      when(vb.isNotNull, round(sqrt(vb) / lit(100.0), 6)).as("se_b"),
      when(okZ, round(z, 6)).as("z_score"),
      when(okZ, abs(z) > lit(1.959964)).otherwise(lit(false))
        .as("significant"))
  }

  /** Energy-distance drift of the binned `value` distribution between
    * the time halves — the FOURTH drift lens after KS (max ECDF gap),
    * W₁ (mass moved) and PSI (binned log-ratio): Székely's
    *
    *   D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′|,
    *
    * zero iff the distributions coincide, sensitive to shape changes a
    * location-focused lens can miss. Each expectation reduces on the
    * integer-bin ECDF grid to an exact prefix-sum integral —
    * E|X−Y|·n₁·n₂ = Σ_gaps gap·[cum₁·(n₂−cum₂) + cum₂·(n₁−cum₁)] and
    * the within terms likewise with 2·cum·(n−cum) — so all three
    * numerators are exact DECIMAL(38,0)/HUGEINT sums ([[valueWassersteinDrift]]'s
    * discipline), combined in ONE pinned double chain, 6dp.
    *
    * An empty half → NULL. Scale: identical shape to the other drift
    * lenses — one corpus-sized binned collapse, serial windows only
    * over the bounded bin grid. */
  def valueEnergyDrift(events: DataFrame): DataFrame = {
    val (ecdf, totals) = binHalvesEcdf(events)
    val wLead = Window.orderBy(col("bin").asc)
    def d19(c: Column) = c.cast("decimal(19,0)")
    val terms = ecdf
      .withColumn("gap", lead(col("bin"), 1).over(wLead) - col("bin"))
      .filter(col("gap").isNotNull)
    val sums = terms.crossJoin(broadcast(totals))
      .agg(max("n1").as("n_first"), max("n2").as("n_second"),
        sum((d19(col("cum1")) * (col("n2") - col("cum2")) +
          d19(col("cum2")) * (col("n1") - col("cum1"))) *
          col("gap").cast("decimal(10,0)")).as("axy"),
        sum(d19(lit(2L) * col("cum1")) * (col("n1") - col("cum1")) *
          col("gap").cast("decimal(10,0)")).as("axx"),
        sum(d19(lit(2L) * col("cum2")) * (col("n2") - col("cum2")) *
          col("gap").cast("decimal(10,0)")).as("ayy"))
    val n1d = col("n_first").cast("double")
    val n2d = col("n_second").cast("double")
    sums.select(col("n_first"), col("n_second"),
      when(col("n_first") > 0L && col("n_second") > 0L,
        round(lit(2.0) * col("axy").cast("double") / (n1d * n2d) -
          col("axx").cast("double") / (n1d * n1d) -
          col("ayy").cast("double") / (n2d * n2d), 6)).as("energy_dist"))
  }

  /** Cramér–von Mises drift of the binned `value` distribution
    * between the time halves — the L² lens completing the drift
    * battery (KS takes the sup of the ECDF gap, W₁ its L¹ area, CvM
    * its L² energy — more sensitive than KS to broad moderate
    * separation, less dominated by one tail spike than W₁):
    *
    *   T = n₁·n₂/N² · Σ_bins c·(F₁ − F₂)²,
    *
    * flagged against the stated 0.461 large-sample 5% criterion.
    * Determinism: each bin's ECDF difference is ONE pinned division of
    * the exact cross-multiplied integers (cum₁·n₂ − cum₂·n₁ — the
    * wasserstein quantity), the squared term re-pins to BIGINT
    * micro-units before the order-dependent sum (squaring the exact
    * integer instead would pass 10³⁸ at corpus scale — the pin IS the
    * headroom fix), and T is one pinned chain, 6dp.
    *
    * An empty half → NULL T, false flag. Scale: identical to the other
    * drift lenses — one corpus-sized binned collapse, serial windows
    * only over the bounded bin grid. */
  def valueCvmDrift(events: DataFrame): DataFrame = {
    val (ecdf, totals) = binHalvesEcdf(events)
    def d19(c: Column) = c.cast("decimal(19,0)")
    val terms = ecdf.crossJoin(broadcast(totals))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val f = (d19(col("cum1")) * col("n2") - d19(col("cum2")) * col("n1"))
      .cast("double") / (n1d * n2d)
    val ok = col("n1") > 0L && col("n2") > 0L
    val tm = when(ok, round(f * f * (col("c1") + col("c2")).cast("double") *
      lit(1000000.0), 0).cast("long"))
    val s = terms.select(col("n1"), col("n2"), tm.as("tm"))
      .groupBy("n1", "n2")
      .agg(sum(col("tm").cast("decimal(38,0)")).as("sm"))
    val nD = (col("n1") + col("n2")).cast("double")
    val t = n1d * n2d / (nD * nD) *
      (col("sm").cast("double") / lit(1000000.0))
    s.select(col("n1").as("n_first"), col("n2").as("n_second"),
      when(ok, round(t, 6)).as("cvm_t"),
      coalesce(when(ok, round(t, 6) > lit(0.461)), lit(false)).as("drifted"))
  }

  /** Exact one-dimensional decision stump: the best `value` threshold
    * separating purchases from the rest by Gini impurity reduction —
    * the CART split-finding primitive (and the one-feature baseline
    * every feature-importance readout compares against), computed
    * exactly at any scale. The objective uses the classic identity:
    * maximizing Σ_side (pos² + neg²)/n_side is minimizing the weighted
    * child Gini, so the argmax needs no per-pair rational comparison —
    * each candidate's J is ONE pinned double chain of exact prefix
    * integers, and the winner is picked by the total order (J desc,
    * v asc) — a TakeOrderedAndProject over the bounded value grid,
    * deterministic on both engines.
    *
    * Split convention: `value ≤ v` goes left; the top grid row is
    * excluded (an empty right child is not a split). Emits the chosen
    * threshold, both children's exact cells, their rates, and the
    * parent/children Gini with the gain — all 6dp pinned chains of
    * exact BIGINTs.
    *
    * Scale: one corpus collapse to the 2dp value grid; the prefix
    * window and the top-1 sort order that bounded grid only. */
  def decisionStumpValue(events: DataFrame): DataFrame = {
    val grid = events.groupBy(col("value").as("v"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cp", sum(col("np")).over(w))
    val tot = grid.agg(sum(col("n")).as("nt"), sum(col("np")).as("pt"))
    val cand = cum.crossJoin(broadcast(tot)).filter(col("cn") < col("nt"))
    val nl = col("cn").cast("double")
    val pl = col("cp").cast("double")
    val nr = (col("nt") - col("cn")).cast("double")
    val pr = (col("pt") - col("cp")).cast("double")
    val j = (pl * pl + (nl - pl) * (nl - pl)) / nl +
      (pr * pr + (nr - pr) * (nr - pr)) / nr
    val ntd = col("nt").cast("double")
    val ptd = col("pt").cast("double")
    val giniParent = lit(1.0) -
      (ptd * ptd + (ntd - ptd) * (ntd - ptd)) / (ntd * ntd)
    val giniChildren = lit(1.0) - col("j") / ntd
    cand.withColumn("j", j)
      .orderBy(col("j").desc, col("v").asc).limit(1)
      .select(col("v").as("split_value"),
        col("cn").as("n_left"), col("cp").as("pos_left"),
        (col("nt") - col("cn")).as("n_right"),
        (col("pt") - col("cp")).as("pos_right"),
        round(pl / nl, 6).as("rate_left"),
        round(pr / nr, 6).as("rate_right"),
        round(giniParent, 6).as("gini_parent"),
        round(giniChildren, 6).as("gini_children"),
        round(giniParent - giniChildren, 6).as("gini_gain"))
  }

  /** Rolling-median daily-volume smoother: each calendar day's count
    * beside the exact median of its ±`window`-day neighborhood over
    * the DENSE zero-filled calendar — the robust local baseline
    * (median ignores a burst day; a 7-day span absorbs the weekly
    * cycle [[dowSeasonalityIndex]] profiles). `ratio` = n/median is
    * the Hampel-style deviation a freshness monitor thresholds.
    *
    * Determinism: counts are integers; the interpolated median of
    * integers is exact ((lo+hi)/2 — the established quantile_cont ≡
    * percentile parity); the ratio is one pinned division, NULL when
    * the window median is 0. Shape: one corpus-sized daily collapse;
    * the neighborhood join is calendar × (2w+1) — a constant of the
    * observation span, never data-proportional. */
  def rollingMedianDaily(events: DataFrame, window: Int = 3): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("n"))
      .localCheckpoint()
    val med = grid.as("c").join(grid.as("o"),
        datediff(col("o.day"), col("c.day")).between(-window, window))
      .groupBy(col("c.day").as("day"))
      .agg(count(lit(1)).as("w_size"),
        expr("percentile(o.n, 0.5)").as("med"))
    grid.join(med, "day")
      .select(col("day"), col("n"), col("w_size"),
        round(col("med"), 6).as("med_window"),
        when(col("med") > 0.0,
          round(col("n").cast("double") / col("med"), 6)).as("ratio"))
  }

  /** Forecast backtest: naive (yesterday) vs seasonal-naive (same day
    * last week) one-step-ahead forecasts of daily volume per type,
    * scored by MAE over the zero-filled calendar — the model-selection
    * diagnostic behind [[dowAnomalies]] and [[acfDailyCounts]]
    * ("seasonal wins" ⇔ the lag-7 structure is real and a forecaster
    * should use it). Every error is an exact BIGINT |difference| on
    * the dense min..max day grid (lag(k) over a DENSE grid IS the
    * calendar shift — on a sparse frame it would silently compare
    * non-adjacent days); the two MAEs are single pinned divisions.
    * Only days where both forecasts exist (the 8th grid day on) are
    * scored, so the two models see the identical evaluation set.
    *
    * Shape: the (type, day) collapse bounds everything to calendar ×
    * type cardinality; one partitioned window pass computes both
    * lags. */
  def forecastBacktest(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    grid
      .withColumn("l1", lag(col("cnt"), 1).over(w))
      .withColumn("l7", lag(col("cnt"), 7).over(w))
      .filter(col("l1").isNotNull && col("l7").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("cnt") - col("l1"))).as("ae1"),
        sum(abs(col("cnt") - col("l7"))).as("ae7"),
        sum(when(abs(col("cnt") - col("l7")) < abs(col("cnt") - col("l1")),
          1L).otherwise(0L)).as("seasonal_wins"))
      .select(col("event_type"), col("n_days"),
        round(col("ae1").cast("double") / col("n_days").cast("double"), 6)
          .as("mae_naive"),
        round(col("ae7").cast("double") / col("n_days").cast("double"), 6)
          .as("mae_seasonal"),
        col("seasonal_wins"))
  }

  def userDayStreaks(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    days
      .withColumn(
        "island",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(
        max("len").as("longest_streak"),
        sum("len").as("active_days"),
        count(lit(1)).as("n_streaks"))
  }

  /** Offline UCB1 policy scores per event-type "arm" (Auer et al.
    * '02): treating each event type as an action and a high-value
    * outcome (value ≥ `threshold`) as a Bernoulli reward, emit the
    * replay statistics a bandit scheduler would consult — plays n,
    * successes, empirical mean, and the UCB1 index
    * mean + √(2·ln N / n). The decision layer over the event log:
    * which action a data-collection loop should explore next.
    *
    * Determinism: plays and successes are exact BIGINTs from one
    * grouped pass; mean is one division of exactly-representable
    * doubles; ln/√ on identical doubles are identical across engines
    * (ln per the unigram_kl convention, √ is IEEE-exact); one 6dp
    * round at the end. N reaches each arm via a 1-row broadcast, not
    * a driver collect. Shape: one map-side-combined groupBy over the
    * log — nothing else touches corpus-sized data. */
  /** CUPED-adjusted A/B readout (Deng et al. '13): the
    * [[abConversionZtest]] experiment again, but on the CONTINUOUS
    * per-user value outcome with the pre-period as a control
    * covariate — adjusted_y = y − θ·(x − x̄), θ = cov(x,y)/var(x).
    * Users' first-half spend predicts their second-half spend, so
    * subtracting the predictable part shrinks variance and the
    * adjusted arm difference converges at a fraction of the sample —
    * the industry-standard variance-reduction layer every experiment
    * platform runs.
    *
    * Determinism: per-user half-sums become exact BIGINT cents
    * (values are 2dp); every moment (Σx, Σy, Σxy, Σx²) is an exact
    * integer in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — good to
    * ~10¹⁸ cent²-units — and θ, the means, and both diffs are pinned
    * double arithmetic with one 6dp round each. Zero pre-period
    * variance ⇒ NULL θ and adjusted columns, and an empty arm ⇒ NULL
    * mean for it and NULL diffs, not a division error.
    * Shape: per-user collapse → 1-row moment aggregate; the corpus is
    * touched once. */
  def cupedAdjustedAb(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val perUser = withTimeRange(events)
      .select(col("user_id"),
        when(inFirstHalf, cents).otherwise(0L).as("xc"),
        when(inSecondHalf, cents).otherwise(0L).as("yc"))
      .groupBy("user_id")
      .agg(sum("xc").as("x"), sum("yc").as("y"))
      .withColumn("arm", col("user_id") % lit(2L))
    val m = perUser.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0L, col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("arm") === 0L, col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1L, col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("arm") === 1L, col("y")).otherwise(0L)).as("sy_b"))
    def mean(s: String, n: String) =
      col(s).cast("double") / 100.0 / col(n).cast("double")
    val varX = col("n").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")
    val theta = (col("n").cast("decimal(38,0)") * col("sxy") -
      col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
      varX.cast("double")
    val adjA = mean("sy_a", "n_a") -
      theta * (mean("sx_a", "n_a") - mean("sx", "n"))
    val adjB = mean("sy_b", "n_b") -
      theta * (mean("sx_b", "n_b") - mean("sx", "n"))
    val ok = col("n_a") > 0L && col("n_b") > 0L
    m.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0L, round(mean("sy_a", "n_a"), 6)).as("mean_y_a"),
      when(col("n_b") > 0L, round(mean("sy_b", "n_b"), 6)).as("mean_y_b"),
      when(ok, round(mean("sy_a", "n_a") - mean("sy_b", "n_b"), 6))
        .as("raw_diff"),
      when(varX > 0L, round(theta, 6)).as("theta"),
      when(ok && varX > 0L, round(adjA - adjB, 6)).as("adj_diff"))
  }

  /** Welch's unequal-variance t-test on per-user total value between
    * the odd/even arms — the PARAMETRIC mean test beside
    * [[mannWhitneyTypePairs]]' rank test and [[abConversionZtest]]'s
    * proportion test: with the Satterthwaite df it stays valid when
    * the arms' variances differ (the textbook failure of pooled t).
    *
    * Determinism: per-user totals are exact BIGINT cents, so n, Σy,
    * Σy² are exact (Σy² in DECIMAL(38,0)/HUGEINT); sample variances
    * use the integer closed form (n·Σy² − (Σy)²)/(n·(n−1)) and t/df
    * are pinned double chains, NULL when either variance is 0 or an
    * arm has < 2 users; an empty arm's mean is NULL. */
  def welchTtestAb(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val perUser = events.select(col("user_id"), cents.as("c"))
      .groupBy("user_id").agg(sum("c").as("y"))
      .withColumn("arm", col("user_id") % lit(2L))
    val m = perUser.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0L, col("y")).otherwise(0L)).as("s_a"),
      sum(when(col("arm") === 0L,
        col("y").cast("decimal(38,0)") * col("y")).otherwise(lit(0)
          .cast("decimal(38,0)"))).as("ss_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1L, col("y")).otherwise(0L)).as("s_b"),
      sum(when(col("arm") === 1L,
        col("y").cast("decimal(38,0)") * col("y")).otherwise(lit(0)
          .cast("decimal(38,0)"))).as("ss_b"))
    // sample variance in UNIT² (cents² / 1e4), Welch terms v/n
    def meanU(s: String, n: String) =
      col(s).cast("double") / 100.0 / col(n).cast("double")
    def varTerm(n: String, s: String, ss: String) =
      (col(n).cast("decimal(38,0)") * col(ss) -
        col(s).cast("decimal(38,0)") * col(s)).cast("double") / 10000.0 /
        (col(n).cast("double") * (col(n).cast("double") - 1.0)) /
        col(n).cast("double")
    val va = varTerm("n_a", "s_a", "ss_a")
    val vb = varTerm("n_b", "s_b", "ss_b")
    val t = (meanU("s_a", "n_a") - meanU("s_b", "n_b")) / sqrt(va + vb)
    val df = (va + vb) * (va + vb) /
      (va * va / (col("n_a").cast("double") - 1.0) +
        vb * vb / (col("n_b").cast("double") - 1.0))
    val ok = col("n_a") >= 2L && col("n_b") >= 2L
    m.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0L, round(meanU("s_a", "n_a"), 6)).as("mean_a"),
      when(col("n_b") > 0L, round(meanU("s_b", "n_b"), 6)).as("mean_b"),
      when(ok, when(va + vb > lit(0.0), round(t, 6))).as("t_stat"),
      when(ok, when(va * va + vb * vb > lit(0.0), round(df, 6))).as("df"))
  }

  /** Model gains/lift table: users sorted by their PRE-period spend
    * (the score), cut into deciles with [[RankOps.globalNtile]]'s
    * two-level rank, each decile scored by how many POST-period
    * high-value converters it captures — the gains chart every
    * targeting model is judged by (decile-1 lift ≫ 1 ⇔ the score
    * actually ranks). Dogfoods the distributed ntile: no serial
    * window ever touches the user frame.
    *
    * Determinism: score and conversion are exact BIGINT cents/flags;
    * the decile order carries user_id as tie-break (total order);
    * rates/lift are pinned divisions over the 10-row frame; the one
    * serial cumulative window orders the collapsed decile frame. */
  def scoreGainsDeciles(events: DataFrame, threshold: Double = 90.0): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val perUser = withTimeRange(events)
      .select(col("user_id"),
        when(inFirstHalf, cents).otherwise(0L).as("xc"),
        when(inSecondHalf &&
          col("event_type") === "purchase" && col("value") >= threshold,
          1L).otherwise(0L).as("cv"))
      .groupBy("user_id")
      .agg(sum("xc").as("score"), max("cv").as("conv"))
    val tiled = RankOps.globalNtile(perUser, -col("score"),
        Seq(col("score").desc, col("user_id").asc), 10, "decile")
      .withColumn("decile", col("decile").cast("long"))
    val per = tiled.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
    val tot = per.agg(sum("n_users").as("tu"), sum("n_conv").as("tc"))
    val w = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.withColumn("cum_conv", sum(col("n_conv")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"), col("n_conv"),
        round(col("n_conv").cast("double") / col("n_users").cast("double"),
          6).as("conv_rate"),
        col("cum_conv"),
        when(col("tc") > 0L, round(col("cum_conv").cast("double") /
          col("tc").cast("double"), 6)).as("cum_capture"),
        when(col("tc") > 0L, round(
          (col("n_conv").cast("double") / col("n_users").cast("double")) /
            (col("tc").cast("double") / col("tu").cast("double")), 6))
          .as("lift"))
  }

  /** Cohort LTV curve: cumulative value per user by acquisition
    * cohort and age — the REVENUE companion of [[cohortRetention]]'s
    * user counts ("day-14 LTV of the March 3rd cohort"), the curve
    * every growth model fits. Cohort = a user's first event day; each
    * (cohort, age) row carries the cohort's cumulative cents so far
    * and the per-user LTV.
    *
    * Determinism: value collapses to exact BIGINT cents; the
    * cumulative window is partitioned BY COHORT over the observed-age
    * frame; LTV is one pinned double chain (cents → /100 → /users).
    * Shape: one per-(user, day) collapse, a broadcast-joined first-day
    * frame, then everything lives on the cohort×age grid (≤ span²
    * rows at any scale). */
  def cohortLtvCurve(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val userDay = events
      .select(col("user_id"), to_date(col("ts")).as("day"), cents.as("c"))
      .groupBy("user_id", "day").agg(sum("c").as("dc"))
    val first = userDay.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = first.groupBy("cohort_day").agg(count(lit(1)).as("n_users"))
    val aged = userDay.join(first, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("age"))
      .agg(sum("dc").as("sc"))
    val w = Window.partitionBy("cohort_day").orderBy(col("age").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aged.withColumn("cum_cents", sum(col("sc")).over(w))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("age"), col("n_users"),
        col("cum_cents"),
        round(col("cum_cents").cast("double") / 100.0 /
          col("n_users").cast("double"), 6).as("ltv_per_user"))
  }

  /** Day-of-week seasonality index: each weekday's average daily
    * volume as a ratio to the overall average — the multiplicative
    * seasonal profile (index 1.3 = "Mondays run 30% hot") that
    * [[dowAnomalies]] scores deviations AGAINST. The decomposition
    * view of the same weekly cycle.
    *
    * The weekday number is derived ARITHMETICALLY — isodow =
    * (epoch_days + 3) mod 7 + 1, Monday=1 — because Spark's
    * `dayofweek` (1=Sunday) and DuckDB's (0=Sunday) disagree; integer
    * epoch-day arithmetic cannot. Counts are exact; the two averages
    * and their ratio are pinned double divisions, 6dp. Shape: one
    * corpus-sized daily collapse, everything after runs on ≤7 rows. */
  def dowSeasonalityIndex(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val per = daily
      .withColumn("isodow",
        (datediff(col("day"), lit("1970-01-01").cast("date")).cast("long") +
          lit(3L)) % lit(7L) + lit(1L))
      .groupBy("isodow")
      .agg(count(lit(1)).as("n_days"), sum("n").as("n_events"))
    val tot = per.agg(sum("n_days").as("td"), sum("n_events").as("te"))
    per.crossJoin(broadcast(tot))
      .select(col("isodow"), col("n_days"), col("n_events"),
        round(col("n_events").cast("double") / col("n_days").cast("double"), 6)
          .as("avg_per_day"),
        round((col("n_events").cast("double") / col("n_days").cast("double")) /
          (col("te").cast("double") / col("td").cast("double")), 6)
          .as("seasonality_index"))
  }

  /** Exact one-vs-rest AUC per event type, treating `value` as a
    * score for "is this event of type t": the ML-eval completion
    * beside [[mannWhitneyTypePairs]] (AUC IS U/(n₁·n₀) — the same
    * doubled-midrank prefix-sum arithmetic, one-vs-REST instead of
    * pairwise). With ties AUC = P(X>Y) + ½P(X=Y), which midranks give
    * for free. 2·R_pos = Σ_v c_t·(2·cum_all + c_all + 1) stays exact
    * BIGINT; AUC = (2R − n₁(n₁+1)) / (2·n₁·n₀) is one double division.
    *
    * Scale: values collapse to the distinct-value grid (the bounded
    * 2dp domain the histogram/Kruskal queries already ride); the one
    * serial window orders THAT collapsed frame, never raw rows. */
  def valueAucByType(events: DataFrame): DataFrame = {
    val cnts = events.groupBy(col("value").as("v"),
      col("event_type").as("t")).agg(count(lit(1)).as("c"))
    val grid = cnts.groupBy("v").agg(sum("c").as("c_all"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid.withColumn("cum_all",
      coalesce(sum(col("c_all")).over(w), lit(0L)))
    val r = cnts.join(cum, Seq("v"))
      .groupBy(col("t").as("event_type"))
      .agg(sum(col("c")).as("n_pos"),
        sum(col("c") * (lit(2L) * col("cum_all") + col("c_all") +
          lit(1L))).as("r2"))
    val tot = grid.agg(sum("c_all").as("n_total"))
    r.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_pos"),
        (col("n_total") - col("n_pos")).as("n_neg"),
        round((col("r2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            (col("n_total") - col("n_pos")).cast("double")), 6)
          .as("auc"))
  }

  /** Reliability-diagram calibration bins for `value` normalized to
    * [0,1] as a purchase-propensity score: per decile bin — count,
    * positives, mean score, observed positive rate, and the bin Brier
    * score. The quality-classifier calibration check every
    * filter-by-model-score pipeline needs before trusting thresholds.
    *
    * Determinism: `value` is exactly 2dp, so Σv (DECIMAL(12,2)) and
    * Σv² (DECIMAL 4dp) are exact; mean/Brier come out of the CLOSED
    * FORMS over those exact sums —
    * Σp² = (Σv² − 2·min·Σv + n·min²)/range², Σpy = (Σ_pos v −
    * n_pos·min)/range — evaluated in identically-ordered double
    * arithmetic on both engines, one 6dp round at the end. min/max
    * reach the rows as a 1-row broadcast anchor. Shape: one
    * corpus-sized grouped collapse onto ≤10 bins. */
  def scoreCalibrationBins(events: DataFrame): DataFrame = {
    val mm = events.agg(min(col("value")).as("minv"),
      max(col("value")).as("maxv"))
    val rng = col("maxv") - col("minv")
    val binned = events.crossJoin(broadcast(mm))
      .select(col("value"), col("minv"), col("maxv"),
        least(floor((col("value") - col("minv")) / rng * lit(10.0)),
          lit(9.0)).cast("long").as("bin"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val agg = binned.groupBy("bin", "minv", "maxv")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("value").cast("decimal(12,2)")).as("sv"),
        sum((col("value").cast("decimal(12,2)") *
          col("value").cast("decimal(12,2)"))).as("sv2"),
        sum(when(col("y") === 1L, col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)"))).as("spv"))
    val nd = col("n").cast("double")
    val npd = col("n_pos").cast("double")
    val sv = col("sv").cast("double")
    val sv2 = col("sv2").cast("double")
    val spv = col("spv").cast("double")
    val range = col("maxv") - col("minv")
    val sumP2 = (sv2 - lit(2.0) * col("minv") * sv +
      nd * col("minv") * col("minv")) / (range * range)
    val sumPy = (spv - npd * col("minv")) / range
    agg.select(col("bin"), col("n"), col("n_pos"),
      round((sv / nd - col("minv")) / range, 6).as("mean_score"),
      round(npd / nd, 6).as("pos_rate"),
      round((sumP2 - lit(2.0) * sumPy + npd) / nd, 6).as("brier"))
  }

  /** Propensity-stratified average treatment effect — the
    * observational-causal readout beside [[diffInDiff]]: users are
    * stratified into quintiles of their PRE-period activity (the
    * propensity proxy) with [[graft.ops.RankOps.globalNtile]]'s
    * two-level distributed rank (no serial window touches the user
    * frame), the per-stratum treat−control conversion gap is computed
    * within each stratum (like compares with like), and the ATE is
    * the size-weighted sum. Strata missing an arm contribute to
    * neither numerator nor denominator (stated, not silent).
    *
    * Determinism: all cells are exact BIGINTs; per-stratum effects
    * are pinned divisions; the ATE's order-dependent sum runs over
    * BIGINT micro-unit terms (the pinballLoss discipline). */
  def propensityStratifiedAte(events: DataFrame,
      strata: Int = 5): DataFrame = {
    val perUser = withTimeRange(events)
      .select(col("user_id"),
        when(inFirstHalf, 1L).otherwise(0L).as("pre"),
        when(col("event_type") === "purchase" && inSecondHalf, 1L)
          .otherwise(0L).as("conv"))
      .groupBy("user_id")
      .agg(sum(col("pre")).as("x"), max(col("conv")).as("y"))
      .withColumn("arm", col("user_id") % lit(2L))
    val tiled = RankOps.globalNtile(perUser, col("x"),
      Seq(col("x").asc, col("user_id").asc), strata, "stratum")
    val byS = tiled.groupBy(col("stratum").cast("long").as("stratum")).agg(
      count(lit(1)).as("n_users"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("arm") === 1L, col("y")).otherwise(0L)).as("conv_t"),
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("arm") === 0L, col("y")).otherwise(0L)).as("conv_c"))
      .localCheckpoint()
    val ok = col("n_t") > 0L && col("n_c") > 0L
    val effect = col("conv_t").cast("double") / col("n_t").cast("double") -
      col("conv_c").cast("double") / col("n_c").cast("double")
    val terms = byS.select(col("stratum"),
      when(ok, col("n_users")).otherwise(0L).as("nw"),
      when(ok, round(effect * col("n_users").cast("double") *
        lit(1000000.0), 0).cast("long")).otherwise(0L).as("em"))
    val ate = terms.agg(sum(col("em")).as("ems"), sum(col("nw")).as("nws"))
      .select(when(col("nws") > 0L,
        round(col("ems").cast("double") /
          (col("nws").cast("double") * lit(1000000.0)), 6)).as("ate"))
    byS.crossJoin(broadcast(ate))
      .select(col("stratum"), col("n_users"), col("n_t"), col("conv_t"),
        col("n_c"), col("conv_c"),
        when(ok, round(effect, 6)).as("effect"), col("ate"))
  }

  /** Rank-based quantile normalization of `value` by event type — the
    * batch-effect correction (Bolstad et al. '03, the microarray
    * standard): each event's value is replaced by the GLOBAL value at
    * the equivalent quantile position, so every type's distribution
    * maps onto the pooled one and cross-type models stop learning the
    * types' scale quirks. Positions map by the exact integer
    * round-half-up j = 1 + ⌊(2·(r−1)·(N−1) + (n−1)) / (2·(n−1))⌋
    * (singleton types land on the median position (N+1) div 2).
    *
    * Scale: BOTH rank sides run the two-level prefix sum — the global
    * rank via [[graft.ops.RankOps.globalRank]] and the within-type
    * rank via [[graft.ops.RankOps.groupedRank]] (cents as the
    * monotone bucket key in each). `event_type` is a ~5-value domain,
    * so a flat `Window.partitionBy(event_type)` would sort each
    * type's ENTIRE history in one task at cluster scale; the
    * composite (type, bucket) window keeps parallelism at #types ×
    * #buckets, with only the per-(type, bucket) offset frame riding a
    * bounded serial prefix per type. The position lookup is one
    * equi-join on j. */
  def quantileNormalizeByType(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("event_type"),
      col("value"))
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("long")
    val ranked = RankOps.groupedRank(base, Seq("event_type"), cents,
      Seq(col("value").asc, col("event_id").asc), "r_t",
      countName = "n_t")
    val global = RankOps.globalRank(base, cents,
      Seq(col("value").asc, col("event_id").asc), "g_rank")
      .select(col("g_rank").as("j"), col("value").as("norm_value"))
    val n = ranked.crossJoin(broadcast(
      base.agg(count(lit(1)).as("n_all"))))
    // integer `div` keeps the position exact (a double `/` loses
    // ulps past 2^53 — the numerator reaches 2·N² at scale); the
    // 2·(r−1)·(N−1) product runs in DECIMAL(38,0) UNCONDITIONALLY so
    // it cannot overflow BIGINT past N ≈ 2e9 rows (under non-ANSI
    // Spark that overflow would be silent — ADVICE r14); the decimal
    // `div` is still an exact integral divide returning BIGINT
    val j = when(col("n_t") === 1L, expr("(n_all + 1) div 2"))
      .otherwise(expr(
        "1 + (2 * (CAST(r_t AS DECIMAL(38,0)) - 1) * (n_all - 1) " +
          "+ (n_t - 1)) div (CAST(2 AS DECIMAL(38,0)) * (n_t - 1))"))
    n.withColumn("j", j.cast("long"))
      .join(global, "j")
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("norm_value"), 6).as("norm_value"))
  }

  /** Deterministic Poisson bootstrap CI for mean revenue per user —
    * THE distributed bootstrap (Chamandy et al. '12): classic
    * resampling needs n draws WITH replacement per replicate (a
    * global shuffle per replicate), but Poisson(1) weights
    * approximate multinomial counts independently PER ROW, so all R
    * replicates ride one explode + one (replicate) aggregation. RNG-
    * free: the weight comes from the Knuth id-hash of (user, r)
    * through the Poisson(1) inverse CDF — order/partition-independent
    * and replayable in SQL, the repo's sampling-family contract.
    *
    * Resampling is at USER grain (resample the cluster, not the row —
    * per-user totals are the exchangeable unit), so the exploded
    * frame is |users|·R, not events·R. Determinism: per-replicate
    * weighted sums are exact BIGINT cents; each replicate mean is one
    * pinned division; the CI is `percentile` over the R-row frame
    * (exact interpolation parity). */
  def bootstrapCiRevenue(events: DataFrame, reps: Int = 32): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val perUser = events.select(col("user_id"), cents.as("c"))
      .groupBy("user_id").agg(sum("c").as("y"))
    // Poisson(1) inverse CDF over the 32-bit hash uniform
    val u = DocOps.knuthHash32(col("user_id") * lit(reps.toLong) +
      col("r")).cast("double") / lit(4294967296.0)
    val w = when(u < 0.367879441, 0L).when(u < 0.735758882, 1L)
      .when(u < 0.919698603, 2L).when(u < 0.981011843, 3L)
      .when(u < 0.996340153, 4L).when(u < 0.999405815, 5L)
      .when(u < 0.999916758, 6L).otherwise(7L)
    val repMeans = perUser
      .select(col("user_id"), col("y"),
        explode(sequence(lit(0), lit(reps - 1))).as("r"))
      .select(col("r"), col("y"), w.as("w"))
      .groupBy("r")
      .agg(sum(col("w") * col("y")).as("wy"), sum(col("w")).as("ws"))
      .filter(col("ws") > 0L)
      .select((col("wy").cast("double") / 100.0 /
        col("ws").cast("double")).as("m"))
    val obs = perUser.agg(count(lit(1)).as("n_users"),
      sum(col("y")).as("sy"))
    repMeans
      .agg(count(lit(1)).as("n_replicates"),
        round(expr("percentile(m, 0.025)"), 6).as("ci_low"),
        round(expr("percentile(m, 0.975)"), 6).as("ci_high"))
      .crossJoin(broadcast(obs))
      .select(col("n_users"), col("n_replicates"),
        round(col("sy").cast("double") / 100.0 /
          col("n_users").cast("double"), 6).as("mean_obs"),
        col("ci_low"), col("ci_high"))
  }

  /** Cohen's d between every event-type pair's value distributions —
    * the EFFECT-SIZE companion to the z/t/U test family (a tiny p at
    * scale says nothing about whether the difference matters; d
    * measures it in pooled standard deviations, with the conventional
    * 0.2/0.5/0.8 magnitude labels). All moments are exact cents sums
    * (squares in DECIMAL(38,0)); the pooled sd and d are pinned
    * double chains over the |types|² broadcast pair grid; degenerate
    * pools (zero variance or n ≤ 2) → NULL. */
  def cohensDTypePairs(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val m = events.select(col("event_type").as("t"), cents.as("c"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ss"))
    def meanU(p: String) =
      col(s"$p.s").cast("double") / 100.0 / col(s"$p.n").cast("double")
    // (n·Σc² − (Σc)²)/(n·(n−1)) in cents² — the Welch form
    def varU(p: String) =
      (col(s"$p.n").cast("decimal(38,0)") * col(s"$p.ss") -
        col(s"$p.s").cast("decimal(38,0)") * col(s"$p.s")).cast("double") /
        10000.0 / (col(s"$p.n").cast("double") *
          (col(s"$p.n").cast("double") - 1.0))
    val pooledVar = ((col("a.n").cast("double") - 1.0) * varU("a") +
      (col("b.n").cast("double") - 1.0) * varU("b")) /
      (col("a.n").cast("double") + col("b.n").cast("double") - 2.0)
    val d = (meanU("a") - meanU("b")) / sqrt(pooledVar)
    val ok = col("a.n") >= 2L && col("b.n") >= 2L && pooledVar > lit(0.0)
    m.as("a").join(broadcast(m.as("b")), col("a.t") < col("b.t"))
      .select(col("a.t").as("type_a"), col("b.t").as("type_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        round(meanU("a"), 6).as("mean_a"),
        round(meanU("b"), 6).as("mean_b"),
        when(ok, round(d, 6)).as("cohens_d"),
        when(ok,
          when(abs(d) < 0.2, "negligible").when(abs(d) < 0.5, "small")
            .when(abs(d) < 0.8, "medium").otherwise("large"))
          .as("magnitude"))
  }

  /** Expected / maximum calibration error over
    * [[scoreCalibrationBins]] — the two scalars a reliability diagram
    * compresses to: ECE = Σ (n_b/N)·|pos_rate_b − mean_score_b|
    * (size-weighted gap) and MCE = max_b |…| (worst bin). Gaps are
    * computed from the bins' PUBLISHED 6dp values and re-pinned to
    * BIGINT micro-units, so the weighted sum is exact integer
    * arithmetic; two pinned divisions at the end. */
  def eceScore(events: DataFrame): DataFrame = {
    val bins = scoreCalibrationBins(events)
      .select(col("bin"), col("n"), col("pos_rate"), col("mean_score"))
    val em = round(abs(col("pos_rate") - col("mean_score")) *
      lit(1000000.0), 0).cast("long")
    bins.select(col("n"), em.as("em"))
      .agg(sum(col("n")).as("n_total"), count(lit(1)).as("n_bins"),
        sum(col("n").cast("decimal(38,0)") * col("em")).as("wsum"),
        max(col("em")).as("mm"))
      .select(col("n_total"), col("n_bins"),
        round(col("wsum").cast("double") /
          (col("n_total").cast("double") * lit(1000000.0)), 6).as("ece"),
        round(col("mm").cast("double") / lit(1000000.0), 6).as("mce"))
  }

  /** Isotonic (monotone) calibration over [[scoreCalibrationBins]] —
    * pool-adjacent-violators without the sequential pooling loop: on
    * a BOUNDED bin frame the PAV solution has the closed minimax form
    *
    *   iso_i = max_{j≤i} min_{k≥i} (Σ_{t=j..k} pos_t)/(Σ_{t=j..k} n_t)
    *
    * so the whole fit is one (i, j, k) triple join over ≤ bins³/6
    * rows — a constant of the bin count, never data-proportional; the
    * corpus is touched exactly once (the bin collapse). This is the
    * calibration map a reliability-diagram fix deploys: monotone by
    * construction, pooling violating bins to their weighted mean.
    *
    * Determinism: prefix sums are exact BIGINTs; every A(j,k) is one
    * pinned division of exact ints, and min/max pick among identical
    * doubles in both engines. */
  def isotonicCalibration(events: DataFrame): DataFrame = {
    val bins = scoreCalibrationBins(events)
      .select(col("bin"), col("n"), col("n_pos"))
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // checkpoint AFTER the prefix windows: the serial window's child
    // must keep its HashAggregate lineage visible (the sweep's
    // collapse proof), and the triple join below reads the ≤bins-row
    // frame three times — one materialization serves all of them
    val pref = bins
      .withColumn("sp", sum(col("n_pos")).over(w))
      .withColumn("sn", sum(col("n")).over(w))
      .withColumn("ep", col("sp") - col("n_pos"))
      .withColumn("en", col("sn") - col("n"))
      .localCheckpoint()
    val a = pref.as("i")
      .join(broadcast(pref.as("j")), col("j.bin") <= col("i.bin"))
      .join(broadcast(pref.as("k")), col("k.bin") >= col("i.bin"))
      .select(col("i.bin").as("bin"), col("j.bin").as("jb"),
        ((col("k.sp") - col("j.ep")).cast("double") /
          (col("k.sn") - col("j.en")).cast("double")).as("avg"))
    val iso = a.groupBy("bin", "jb").agg(min(col("avg")).as("mn"))
      .groupBy("bin").agg(max(col("mn")).as("iso"))
    pref.select("bin", "n", "n_pos").join(iso, "bin")
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        round(col("iso"), 6).as("iso_rate"))
  }

  /** Log-rank test between the parity arms' survival curves — the
    * standard "do the two cohorts churn differently?" test over the
    * SAME duration/censoring conventions as [[kmSurvivalHorizons]]
    * (duration = first→last event days inclusive; churn observed only
    * before the window's final day). At each duration with observed
    * churns, arm 1's observed churns are compared to the
    * hypergeometric expectation d_t·n_{1t}/n_t with variance
    * d_t·(n_{1t}/n_t)(1−n_{1t}/n_t)(n_t−d_t)/(n_t−1);
    * Z = (O₁−E₁)/√ΣV_t.
    *
    * Determinism: every count is exact BIGINT off the duration frame;
    * each E/V term is re-pinned to BIGINT micro-units before the
    * order-dependent sums (the pinballLoss discipline); Z is one
    * pinned chain, NULL when ΣV = 0 (no comparable risk sets). */
  def logrankTestAb(events: DataFrame): DataFrame = {
    val (risk, totals) = armTenureRisk(events)
    val atRisk = risk.filter(col("d") > 0L)
    val share = col("n1").cast("double") / col("n").cast("double")
    val eTerm = col("d").cast("double") * share
    val vTerm = when(col("n") > 1L,
      col("d").cast("double") * share * (lit(1.0) - share) *
        ((col("n") - col("d")).cast("double") /
          (col("n") - lit(1L)).cast("double"))).otherwise(lit(0.0))
    val terms = atRisk.select(col("d1"),
      round(eTerm * lit(1000000.0), 0).cast("long").as("em"),
      round(vTerm * lit(1000000.0), 0).cast("long").as("vm"))
    val s = terms.agg(sum(col("d1")).as("o1"), sum(col("em")).as("e1m"),
      sum(col("vm")).as("vm"))
      .crossJoin(broadcast(totals))
    val e1 = col("e1m").cast("double") / lit(1000000.0)
    val v = col("vm").cast("double") / lit(1000000.0)
    s.select((col("n_users") - col("n_users1")).as("n_users_a"),
      col("n_users1").as("n_users_b"),
      col("o1").as("observed_b"), round(e1, 6).as("expected_b"),
      when(col("vm") > 0L,
        round((col("o1").cast("double") - e1) / sqrt(v), 6))
        .as("logrank_z"))
  }

  /** Cox proportional-hazards regression on the arm indicator —
    * the EFFECT-SIZE companion to [[logrankTestAb]] (which only says
    * "the curves differ"; Cox says BY HOW MUCH: hazard ratio e^β,
    * with CI-ready SE) — over the same duration/censoring
    * conventions. With one binary covariate the Breslow partial
    * likelihood needs only the per-duration risk table: at each
    * churn time, S₀ = n₀ + n₁e^β and the score/information are
    *   U(β) = Σ_t [d₁t − d_t·n₁t·e^β/S₀],
    *   I(β) = Σ_t d_t·n₀t·n₁t·e^β/S₀²,
    * and β updates by EXACTLY 3 Newton steps from β = 0 (the
    * [[pageRank]] fixed-iteration contract; the partial likelihood is
    * concave, 3 steps land within ~1e-10 of the MLE on any realistic
    * risk table — the ITERATION COUNT is the pinned contract, stated).
    *
    * Determinism: the risk table is exact BIGINTs (the logrank
    * lanes); each e^β re-pins to 12dp after its ONE libm exp call per
    * step, so every per-time term is identical double arithmetic;
    * per-time U/I terms re-pin to BIGINT micro-units before the
    * order-dependent sums (the [[logrankTestAb]] discipline). I = 0
    * (no comparable risk sets) → NULL β/HR/z, stated.
    *
    * Shape: one per-user collapse, one duration collapse, serial
    * windows over the ≤|durations| frame, then 3 tiny broadcast-join
    * reduce rounds on that frame. */
  def coxPhAb(events: DataFrame): DataFrame = {
    val (risk, totals) = armTenureRisk(events)
    val atRisk = risk.filter(col("d") > 0L)
      .select(col("t"), col("d"), col("d1"),
        (col("n") - col("n1")).as("n0"), col("n1"))
      .localCheckpoint() // read by each of the 3 Newton rounds
    // one Newton step: beta' = beta + U/I on micro-unit-pinned sums
    def step(beta: DataFrame): DataFrame = {
      val eb = round(exp(col("beta")), 12)
      val s0 = col("n0").cast("double") + col("n1").cast("double") * col("eb")
      val uT = col("d1").cast("double") -
        col("d").cast("double") * col("n1").cast("double") * col("eb") / s0
      val iT = col("d").cast("double") * col("n0").cast("double") *
        col("n1").cast("double") * col("eb") / (s0 * s0)
      atRisk.crossJoin(broadcast(beta.select(col("beta"), eb.as("eb"))))
        .select(col("beta"),
          round(uT * lit(1000000.0), 0).cast("long").as("um"),
          round(iT * lit(1000000.0), 0).cast("long").as("im"))
        .groupBy("beta")
        .agg(sum("um").as("um"), sum("im").as("im"))
        .select((col("beta") +
          when(col("im") > 0L, col("um").cast("double") /
            col("im").cast("double")).otherwise(lit(0.0))).as("beta"))
    }
    val spark = events.sparkSession
    import spark.implicits._
    var beta = Seq(0.0).toDF("beta")
    for (_ <- 1 to 3) beta = step(beta).localCheckpoint()
    // final information at the converged beta for SE/z
    val ebF = round(exp(col("beta")), 12)
    val s0F = col("n0").cast("double") + col("n1").cast("double") * col("eb")
    val iF = col("d").cast("double") * col("n0").cast("double") *
      col("n1").cast("double") * col("eb") / (s0F * s0F)
    val info = atRisk
      .crossJoin(broadcast(beta.select(col("beta"), ebF.as("eb"))))
      .select(col("beta"),
        round(iF * lit(1000000.0), 0).cast("long").as("im"))
      .groupBy("beta").agg(sum("im").as("im"))
    val i = col("im").cast("double") / lit(1000000.0)
    val z = col("beta") * sqrt(i)
    info.crossJoin(broadcast(totals))
      .select((col("n_users") - col("n_users1")).as("n_users_a"),
        col("n_users1").as("n_users_b"),
        when(col("im") > 0L, round(col("beta"), 6)).as("beta"),
        when(col("im") > 0L, round(exp(col("beta")), 6)).as("hazard_ratio"),
        when(col("im") > 0L, round(lit(1.0) / sqrt(i), 6)).as("se"),
        when(col("im") > 0L, round(z, 6)).as("z_score"),
        when(col("im") > 0L, abs(z) > lit(1.959964)).otherwise(lit(false))
          .as("significant"))
  }

  /** Two-proportion z-test between the odd/even user-id split (the
    * canonical deterministic A/B assignment): did arm A's users
    * convert (≥1 high-value purchase, value ≥ `threshold`) at a
    * different rate than arm B's? The experiment-readout primitive
    * beside the drift monitors. One row: per-arm users/conversions/
    * rates, the pooled-variance z, and the |z| > 1.959964 two-sided
    * 5% flag. A saturated or empty outcome (pooled rate 0 or 1) has
    * zero variance — NULL z, false flag; an empty arm has a NULL rate,
    * NULL z and a false flag. Neither is a division error.
    *
    * Determinism: all four cells are exact BIGINTs from one grouped
    * pass; rates and z are identically-ordered double arithmetic
    * (√ is IEEE-exact), one 6dp round. Shape: per-user collapse →
    * single global 1-row aggregate; nothing shuffles twice. */
  def abConversionZtest(events: DataFrame, threshold: Double = 90.0): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") >= threshold, 1L).otherwise(0L))
        .as("conv"))
      .withColumn("arm", col("user_id") % lit(2L))
    val cells = perUser.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("conv_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val rateA = col("conv_a").cast("double") / na
    val rateB = col("conv_b").cast("double") / nb
    val pooled = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val varTerm = pooled * (lit(1.0) - pooled) *
      (lit(1.0) / na + lit(1.0) / nb)
    val z = (rateA - rateB) / sqrt(varTerm)
    val ok = col("n_a") > 0L && col("n_b") > 0L && varTerm > lit(0.0)
    cells.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(col("n_a") > 0L, round(rateA, 6)).as("rate_a"),
      when(col("n_b") > 0L, round(rateB, 6)).as("rate_b"),
      when(ok, round(z, 6)).as("z_score"),
      when(ok, abs(z) > lit(1.959964)).otherwise(lit(false))
        .as("significant"))
  }

  /** Quantile treatment effect: q_A(τ) − q_B(τ) of per-user total
    * value at a ladder of quantiles — the DISTRIBUTIONAL experiment
    * readout completing the suite (z-test: proportions, Welch: means,
    * CUPED: variance-reduced means, this: where in the distribution
    * the arms differ — a mean-zero treatment that fattens the tail is
    * invisible to every other test here).
    *
    * Determinism: per-user totals are exact cents; each quantile is
    * one `percentile` (≡ quantile_cont) over an arm; effects are
    * pinned cent-difference divisions, 6dp. Shape: per-user collapse →
    * two |τ|-length arrays → a ≤|τ|-row frame. */
  def quantileTreatmentEffect(events: DataFrame,
      taus: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75, 0.9)): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val perUser = events.select(col("user_id"), cents.as("c"))
      .groupBy("user_id").agg(sum("c").as("y"))
      .withColumn("arm", col("user_id") % lit(2L))
    val tauArr = s"array(${taus.mkString(", ")})"
    val per = perUser.groupBy("arm")
      .agg(expr(s"percentile(y, $tauArr)").as("qs"))
    val ex = per.select(col("arm"), posexplode(col("qs")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "q")
      .withColumn("tau", expr(tauArr)(col("i")).cast("double"))
    ex.groupBy("tau")
      .agg(max(when(col("arm") === 0L, col("q"))).as("qa"),
        max(when(col("arm") === 1L, col("q"))).as("qb"))
      .select(col("tau"),
        round(col("qa") / 100.0, 6).as("q_a"),
        round(col("qb") / 100.0, 6).as("q_b"),
        round((col("qa") - col("qb")) / 100.0, 6).as("qte"))
  }

  /** Beta-posterior arm summaries — the BAYESIAN companion of
    * [[ucbTypePolicy]] over the same Bernoulli replay: with a
    * uniform Beta(1,1) prior, each arm's posterior is
    * Beta(s+1, n−s+1); emit its mean, sd, and the normal-approximate
    * 95% interval. A Thompson-sampling scheduler needs exactly these
    * posteriors; the intervals also give the human-readable "arm B is
    * credibly better" readout UCB's index hides.
    *
    * Determinism: counts exact; mean/var are the Beta closed forms in
    * pinned double order (√ IEEE-exact), one 6dp round each. One
    * grouped pass. */
  def betaPosteriorArms(events: DataFrame,
      threshold: Double = 50.0): DataFrame = {
    val arms = events.groupBy("event_type")
      .agg(count(lit(1)).as("n_plays"),
        sum(when(col("value") >= threshold, 1L).otherwise(0L))
          .as("n_success"))
    val a = (col("n_success") + lit(1L)).cast("double")
    val b = (col("n_plays") - col("n_success") + lit(1L)).cast("double")
    val mean = a / (a + b)
    val sd = sqrt(a * b / ((a + b) * (a + b) * (a + b + lit(1.0))))
    arms.select(col("event_type"), col("n_plays"), col("n_success"),
      round(mean, 6).as("post_mean"), round(sd, 6).as("post_sd"),
      round(mean - lit(1.959964) * sd, 6).as("ci_low"),
      round(mean + lit(1.959964) * sd, 6).as("ci_high"))
  }

  /** Pinball-loss (quantile-loss) forecast evaluation at τ = 0.5: does
    * a PER-TYPE median forecast of `value` beat the one-size global
    * median? The quantile-forecast scoring rule (pinball is what
    * quantile regressions and probabilistic forecasts are graded by;
    * at τ=0.5 it is half the MAE), wired as a model-comparison gate.
    *
    * Determinism: both medians ride the percentile ≡ quantile_cont
    * parity; each |v − q| is an identical double re-pinned to BIGINT
    * milli-units (one rint of an identical double) BEFORE summing, so
    * the two order-dependent accumulations are exact integer adds;
    * final losses are single pinned divisions. Shape: two grouped
    * median passes + one broadcast-joined scoring pass. */
  def pinballLossByType(events: DataFrame): DataFrame = {
    val qg = events.agg(expr("percentile(value, 0.5)").as("qg"))
    val qt = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("qt"))
    val scored = events.crossJoin(broadcast(qg))
      .join(broadcast(qt), "event_type")
      .select(col("event_type"),
        round(abs(col("value") - col("qg")) * lit(1000.0), 0)
          .cast("long").as("lg"),
        round(abs(col("value") - col("qt")) * lit(1000.0), 0)
          .cast("long").as("lt"), col("qt"))
    scored.groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("qt").as("qt"),
        sum("lg").as("slg"), sum("lt").as("slt"))
      .select(col("event_type"), col("n"), round(col("qt"), 6).as("q_type"),
        round(col("slg").cast("double") / 2000.0 / col("n").cast("double"),
          6).as("loss_global"),
        round(col("slt").cast("double") / 2000.0 / col("n").cast("double"),
          6).as("loss_type"),
        round((col("slg") - col("slt")).cast("double") / 2000.0 /
          col("n").cast("double"), 6).as("improvement"))
  }

  def ucbTypePolicy(events: DataFrame, threshold: Double = 50.0): DataFrame = {
    val arms = events.groupBy("event_type")
      .agg(count(lit(1)).as("n_plays"),
        sum(when(col("value") >= threshold, 1L).otherwise(0L))
          .as("n_success"))
    val tot = arms.agg(sum("n_plays").as("n_total"))
    arms.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_plays"), col("n_success"),
        round(col("n_success").cast("double") /
          col("n_plays").cast("double"), 6).as("mean_reward"),
        round(col("n_success").cast("double") /
          col("n_plays").cast("double") +
          sqrt(lit(2.0) * log(col("n_total").cast("double")) /
            col("n_plays").cast("double")), 6).as("ucb_score"))
  }

  /** Brown–Forsythe variance-homogeneity test across the event types'
    * daily-volume distributions — the SPREAD omnibus beside
    * [[kruskalWallisDailyCounts]]' location omnibus: KW asks "do the
    * types differ in typical daily volume?", this asks "do they differ
    * in volatility?" (the ANOVA-validity gate every parametric
    * comparison of the types should run first). Brown–Forsythe is
    * Levene's test with MEDIAN centering — robust to the heavy-tailed
    * daily counts a mean-centered Levene inflates on.
    *
    * Exactness rides the dense zero-filled calendar (every group holds
    * exactly D = n_days observations, the KW design): doubled medians
    * 2·med_j are exact BIGINT (an interpolated median of integers has
    * at worst a .5 half), so z2 = |2v − 2·med_j| is exact, and the
    * equal group sizes collapse both ANOVA sums to integer numerators
    * over one common denominator:
    *
    *   B·kD = k·ΣS_j² − S²   W·D = D·ΣΣz² − ΣS_j²
    *   F = ((N−k)/(k−1)) · (k·ΣS_j² − S²) / (k·(D·ΣΣz² − ΣS_j²))
    *
    * — one pinned double division of exact DECIMAL(38,0) terms (the
    * squares live in DECIMAL: S_j ≤ D·2·maxcount overflows BIGINT²
    * past ~10⁹-row days). Constant-spread degeneracy (W = 0) → NULL.
    *
    * Shape: one (type, day) hash agg collapses the log; medians, z
    * sums and moments all run on the calendar×types grid. */
  def brownForsytheDaily(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events)
      .select(col("event_type"), col("cnt").as("v"))
    val med2 = grid.groupBy("event_type")
      .agg(round(median(col("v")) * lit(2.0), 0).cast("long").as("m2"))
    val z = grid.join(broadcast(med2), "event_type")
      .select(col("event_type"), abs(col("v") * lit(2L) - col("m2")).as("z2"))
    val perType = z.groupBy("event_type")
      .agg(count(lit(1)).as("d"), sum(col("z2")).as("s"),
        sum(col("z2").cast("decimal(38,0)") * col("z2")).as("ss"))
    val tot = perType.agg(
      count(lit(1)).as("k"), max(col("d")).as("d"),
      sum(col("s")).as("stot"),
      sum(col("s").cast("decimal(38,0)") * col("s")).as("s2sum"),
      sum(col("ss")).as("sstot"))
    val k = col("k").cast("decimal(38,0)")
    val dD = col("d").cast("decimal(38,0)")
    val n = col("k") * col("d")
    val bNum = (k * col("s2sum") -
      col("stot").cast("decimal(38,0)") * col("stot")).cast("double")
    val wNum = (dD * col("sstot") - col("s2sum")).cast("double")
    val f = ((n - col("k")).cast("double") /
      (col("k") - lit(1L)).cast("double")) *
      (bNum / (col("k").cast("double") * wNum))
    tot.select(col("k").as("n_types"), col("d").as("n_days"),
      n.as("n_total"), (col("k") - lit(1L)).as("df1"),
      (n - col("k")).as("df2"),
      when(wNum > lit(0.0), round(f, 6)).as("bf_f"))
  }

  /** Benjamini–Hochberg FDR correction over [[mannWhitneyTypePairs]]'
    * |types|²/2 simultaneous tests — the multiple-testing discipline
    * the pairwise drill-down needs (at 10 pairs and α = .05, raw
    * p-values fire ~0.4 false positives per run by construction; BH
    * caps the EXPECTED FALSE-DISCOVERY RATE at α instead). Two-sided
    * p comes from the pinned Abramowitz–Stegun 26.2.17 normal-tail
    * polynomial over the hash-green 4dp z (identical double chain in
    * both engines, 6dp-rounded before any comparison); the step-up
    * adjustment p̂_(i) = min_{j≥i} p_(j)·m/j runs as non-equi
    * self-joins over the broadcast-tiny pairs frame — no serial
    * window, no sort, deterministic (p, type_a, type_b) total order.
    * Zero-variance pairs (NULL z) are excluded from m per the
    * complete-case convention. */
  def bhFdrTypePairs(events: DataFrame, alpha: Double = 0.05): DataFrame =
    fdrTypePairs(events, alpha, harmonic = false)

  /** Benjamini–Yekutieli step-up beside [[bhFdrTypePairs]]: the SAME
    * pipeline with the q deflated by the harmonic factor
    * c(m) = Σ_{i≤m} 1/i — the correction that keeps FDR control under
    * ARBITRARY dependence among the tests (the type-pair Mann–Whitney
    * z's share every day's traffic, exactly the dependence BH's PRDS
    * assumption may not cover). c(m) folds 1e-10-pinned micro-long
    * terms over the ≤m-element sequence (order-exact). */
  def byFdrTypePairs(events: DataFrame, alpha: Double = 0.05): DataFrame =
    fdrTypePairs(events, alpha, harmonic = true)

  private def fdrTypePairs(events: DataFrame, alpha: Double,
      harmonic: Boolean): DataFrame = {
    val ranked = mwRankedPValues(events)
      .withColumn("q",
        if (!harmonic)
          round(least(col("p") * col("m").cast("double") /
            col("rk").cast("double"), lit(1.0)), 6)
        else {
          // c(m) = sum 1/i, each term pinned to 1e-10 micro-LONGS so
          // the fold accumulator type is fixed (a DECIMAL fold grows
          // its declared scale per step); the BY q multiplies the
          // factor in BEFORE the division
          val cm = aggregate(
            transform(sequence(lit(1L), col("m")),
              i => round(lit(1.0e10) / i.cast("double"), 0)
                .cast("long")),
            lit(0L), (a, e) => a + e)
            .cast("double") / lit(1.0e10)
          round(least(col("p") * col("m").cast("double") * cm /
            col("rk").cast("double"), lit(1.0)), 6)
        })
    // step-up: adjusted p = min q over my suffix (rank ≥ mine)
    val adjName = if (harmonic) "p_by" else "p_bh"
    val adj = ranked.as("b")
      .join(broadcast(ranked.as("a")), col("a.rk") >= col("b.rk"))
      .groupBy(col("b.type_a").as("type_a"), col("b.type_b").as("type_b"),
        col("b.z").as("z"), col("b.p").as("p_raw"), col("b.rk").as("rk"))
      .agg(min(col("a.q")).as(adjName))
    adj.select(col("type_a"), col("type_b"), col("z"), col("p_raw"),
      col("rk"), col(adjName), (col(adjName) <= lit(alpha)).as("rejected"))
  }

  /** Classical additive seasonal decomposition of the daily count
    * series — n = trend + seasonal + residual, the one readout that
    * splits "traffic is growing" from "it's just Tuesday" from "that
    * spike is real": trend is the centered 7-day moving average over
    * the dense zero-filled calendar, seasonal is the re-centered
    * day-of-week mean of the detrended series (Σ seasonal = 0 across
    * the week), residual is what neither explains — the series
    * [[dowAnomalies]] should really be run on.
    *
    * Exactness: the MA-7 sum is an exact BIGINT over the dense grid
    * (trend NULL on the 3 edge days each side — no partial-window
    * bias); detrended values live in exact 1/7 units (7n − Σ7); the
    * dow means are re-pinned to BIGINT micro-units (one rint of an
    * identical double — the pinballLoss discipline) so the
    * re-centering subtraction k·m − Σm is exact integer arithmetic;
    * every emitted double is one pinned division chain. Shape: one
    * daily collapse, calendar-frame windows, a ≤7-row dow frame
    * broadcast back. */
  def seasonalDecompositionDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("n"))
    val w7 = Window.orderBy(col("day").asc).rowsBetween(-3, 3)
    val det = grid
      .withColumn("sum7", sum(col("n")).over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .withColumn("d7", when(col("cnt7") === 7L,
        col("n") * lit(7L) - col("sum7")))
      .withColumn("dow", dayofweek(col("day")))
    val byDow = det.filter(col("d7").isNotNull).groupBy("dow")
      .agg(round(sum(col("d7")).cast("double") * lit(1000000.0) /
        (lit(7.0) * count(lit(1)).cast("double")), 0).cast("long")
        .as("m_micro"))
    val center = byDow.agg(sum(col("m_micro")).as("s_all"),
      count(lit(1)).as("k_dow"))
    val seas = byDow.crossJoin(broadcast(center))
      .select(col("dow"),
        ((col("m_micro") * col("k_dow") - col("s_all")).cast("double") /
          (col("k_dow").cast("double") * lit(1000000.0)))
          .as("seasonal_raw"))
    det.join(broadcast(seas), Seq("dow"), "left")
      .select(col("day"), col("n"),
        when(col("cnt7") === 7L,
          round(col("sum7").cast("double") / lit(7.0), 6)).as("trend"),
        round(col("seasonal_raw"), 6).as("seasonal"),
        when(col("cnt7") === 7L,
          round(col("n").cast("double") -
            col("sum7").cast("double") / lit(7.0) -
            col("seasonal_raw"), 6)).as("residual"))
  }

  /** Holt-Winters ADDITIVE forecast of the daily count series (period
    * 7) — the forecasting counterpart to [[seasonalDecompositionDaily]]'s
    * decomposition and the step past [[dailyMovingAvg]]/[[ewmaDailyCounts]]'
    * smoothers: triple exponential smoothing (Holt '57, Winters '60)
    * tracks level, trend AND weekday shape, emitting the h-step-ahead
    * forecasts ŷ_{T+h} = l_T + h·b_T + s_{T+h−7} for h = 1..7.
    *
    * Classic initialization on the first two weeks: l₀ = mean(week 1),
    * b₀ = (mean(week 2) − mean(week 1))/7, s_i = y_i − l₀; then for
    * each day t ≥ 8 the standard recursions with pinned coefficients
    *   l_t = α(y_t − s_{t−7}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(y_t − l_t) + (1−γ)s_{t−7}.
    * Series shorter than 14 days → empty output (stated, not padded).
    *
    * Determinism: daily counts are exact integers, so the init means
    * are order-free exact sums over 7 values; the recursion is pure
    * +/−/× double arithmetic with double-literal coefficients in a
    * PINNED evaluation order (both the HOF fold here and the oracle's
    * recursive CTE walk t ascending), so the trajectories are
    * bit-identical — no libm anywhere; one 6dp round at the end.
    *
    * Scale: everything runs on the zero-filled CALENDAR grid (one
    * row per day — the bounded domain the serial-window whitelist
    * already admits); the fold itself is one `aggregate` HOF over a
    * single array row. The corpus-sized work is one (day) hash agg. */
  def holtWintersDaily(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1, gamma: Double = 0.2): DataFrame = {
    val series = dailyCountGrid(events)
      .select(col("day"), col("cnt").cast("double").as("y"))
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("sd"))
      .select(transform(col("sd"), x => x.getField("y")).as("ys"))
      .filter(size(col("ys")) >= 14)
    val a = lit(alpha); val a1 = lit(1.0 - alpha)
    val b = lit(beta); val b1 = lit(1.0 - beta)
    val g = lit(gamma); val g1 = lit(1.0 - gamma)
    val mean1 = aggregate(slice(col("ys"), 1, 7), lit(0.0),
      (acc, x) => acc + x) / lit(7.0)
    val mean2 = aggregate(slice(col("ys"), 8, 7), lit(0.0),
      (acc, x) => acc + x) / lit(7.0)
    val init = struct(
      mean1.as("l"),
      ((mean2 - mean1) / lit(7.0)).as("b"),
      transform(slice(col("ys"), 1, 7), x => x - mean1).as("s"))
    val state = aggregate(
      sequence(lit(8), size(col("ys"))), init,
      (st, t) => {
        val y = element_at(col("ys"), t.cast("int"))
        val sOld = element_at(st.getField("s"), 1)
        val lNew = a * (y - sOld) + a1 * (st.getField("l") + st.getField("b"))
        val bNew = b * (lNew - st.getField("l")) + b1 * st.getField("b")
        val sNew = g * (y - lNew) + g1 * sOld
        struct(lNew.as("l"), bNew.as("b"),
          concat(slice(st.getField("s"), 2, 6), array(sNew)).as("s"))
      })
    series.select(state.as("st"))
      .select(posexplode(transform(sequence(lit(1), lit(7)), h =>
        col("st").getField("l") +
          h.cast("double") * col("st").getField("b") +
          element_at(col("st").getField("s"), h.cast("int")))))
      .select((col("pos") + 1).cast("long").as("h"),
        round(col("col"), 6).as("forecast"))
  }

  /** Hurst exponent of the daily-volume series by rescaled-range
    * analysis (Hurst '51 / Mandelbrot–Wallis R/S) — the long-range-
    * dependence diagnostic beside [[acfDailyCounts]]' short lags:
    * H ≈ 0.5 for a memoryless series, > 0.5 for persistent trends
    * (busy days cluster), < 0.5 for mean reversion. Per block size m
    * ∈ {8, 16, 32, 64} (stated ladder), each complete block scores
    *
    *   R/S = [max_t D_t − min_t D_t] / √(m·Σy² − (Σy)²),
    *   D_t = m·(prefix_t) − t·Σy   (m·cumulative deviation),
    *
    * where EVERYTHING inside is an exact integer off the zero-filled
    * calendar (the t = m endpoint pins 0 into the range, the classic
    * convention); the only non-integer steps are ONE pinned
    * division-by-√ per block, re-pinned to BIGINT micro-units before
    * the per-m mean (the pinballLoss discipline), and the final
    * log–log OLS of ln(mean R/S) on ln m folded in ascending-m order
    * on both rails (the ln re-evaluation is the documented Zipf/KL/JS
    * libm assumption). H is the slope.
    *
    * Scale: one corpus-sized daily collapse; the sizes×calendar frame
    * is 4× the calendar, its windows partition by (m, block), and the
    * OLS runs on a ≤4-point packed row. */
  def hurstExponentDaily(events: DataFrame,
      sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
    // rank BEFORE the checkpoint so the serial window's collapse
    // lineage stays visible to the sweep (isotonic convention); the
    // checkpointed ranked frame then serves the count + 4 block scans
    val ranked = grid
      .withColumn("rn",
        row_number().over(Window.orderBy(col("day").asc)).cast("long"))
      .select("rn", "y")
      .localCheckpoint()
    val nCal = ranked.agg(count(lit(1))).head().getLong(0)
    val szDf = ranked.sparkSession.createDataFrame(
      sizes.map(m => Tuple1(m.toLong))).toDF("m")
    val g2 = ranked.crossJoin(broadcast(szDf))
      .withColumn("bk", expr("(rn - 1) div m"))
      .filter(expr(s"bk < ${nCal}L div m")) // complete blocks only
      .withColumn("t_in", col("rn") - col("bk") * col("m"))
    val pre = g2.withColumn("pre",
      sum(col("y")).over(Window.partitionBy("m", "bk").orderBy(col("rn").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val tots = g2.groupBy("m", "bk")
      .agg(sum(col("y")).as("sy"), sum(d38(col("y")) * col("y")).as("syy"))
    val devs = pre.join(broadcast(tots), Seq("m", "bk"))
      .select(col("m"), col("bk"), col("sy"), col("syy"),
        (col("m") * col("pre") - col("t_in") * col("sy")).as("dev"))
    val blocks = devs.groupBy("m", "bk", "sy", "syy")
      .agg(max(col("dev")).as("maxdev"), min(col("dev")).as("mindev"))
      .withColumn("den", col("m") * col("syy") - d38(col("sy")) * col("sy"))
      .filter(col("den") > 0L)
    val rsm = round((col("maxdev") - col("mindev")).cast("double") /
      sqrt(col("den").cast("double")) * lit(1000000.0), 0).cast("long")
    val perM = blocks.select(col("m"), rsm.as("rsm"))
      .groupBy("m").agg(count(lit(1)).as("cnt"), sum(col("rsm")).as("srs"))
    val pk = perM
      .agg(array_sort(collect_list(struct(col("m"), col("cnt"),
        col("srs")))).as("pts"))
      .filter(size(col("pts")) >= 2)
    def xOf(e: Column) = log(e.getField("m").cast("double"))
    def yOf(e: Column) = log(e.getField("srs").cast("double") /
      (e.getField("cnt").cast("double") * lit(1000000.0)))
    val kD = size(col("pts")).cast("double")
    val sx = aggregate(col("pts"), lit(0.0), (a, e) => a + xOf(e))
    val syP = aggregate(col("pts"), lit(0.0), (a, e) => a + yOf(e))
    val sxy = aggregate(col("pts"), lit(0.0), (a, e) => a + xOf(e) * yOf(e))
    val sxx = aggregate(col("pts"), lit(0.0), (a, e) => a + xOf(e) * xOf(e))
    val hurst = (kD * sxy - sx * syP) / (kD * sxx - sx * sx)
    pk.select(posexplode(col("pts")), round(hurst, 6).as("hurst"))
      .select(col("col.m").as("m"), col("col.cnt").as("n_blocks"),
        round(col("col.srs").cast("double") /
          (col("col.cnt").cast("double") * lit(1000000.0)), 6)
          .as("mean_rs"),
        col("hurst"))
  }

  /** Detrended fluctuation analysis of the daily count series (Peng
    * et al. '94) — the long-range-dependence estimator ROBUST TO
    * NONSTATIONARITY beside [[hurstExponentDaily]]'s classic R/S
    * (a level drift inflates R/S toward spurious H ≈ 1; DFA removes
    * a per-window linear trend first, which is why it is the standard
    * in physiology/traffic data): cumulate the centered series into a
    * profile, OLS-detrend each size-m window, and read α as the
    * log-log slope of the RMS residual F(m) — α ≈ 0.5 uncorrelated,
    * > 0.5 persistent, ≈ 1 1/f.
    *
    * Exactness: the n-SCALED profile P_k = n·pre_k − rn_k·Σy is an
    * exact BIGINT lane (scaling by n avoids the rational mean; α is
    * scale-invariant and the reported F divides the n back out); each
    * window's OLS residual sum is the closed form
    * (A − B²/D)/m² on exact A = mΣP²−(ΣP)², B = mΣxP−SxΣP,
    * D = mSxx−Sx² — one pinned double chain per window, clamped at 0
    * (exact-rational nonnegativity can round to −ε), 6dp-pinned into
    * DECIMAL(38,6) before the per-size mean (order-exact); the slope
    * folds over the size-sorted point array ([[hurstExponentDaily]]'s
    * aggregate-from-0.0 identity). Sizes with zero residual mass drop
    * from the fit (a perfectly linear profile has no fluctuation to
    * regress — stated).
    *
    * Shape: one daily collapse, two serial windows over the visible
    * collapse, |sizes| block scans of the ≤calendar frame, a ≤|sizes|
    * fold. */
  def dfaAlphaDaily(events: DataFrame,
      sizes: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
    // rank + global prefix BEFORE the checkpoint (the hurst/isotonic
    // sweep-visibility convention); the checkpointed frame then
    // serves the totals probe and |sizes| block scans
    val ranked = grid
      .withColumn("rn",
        row_number().over(Window.orderBy(col("day").asc)).cast("long"))
      .withColumn("pre", sum(col("y")).over(Window.orderBy(col("rn").asc)
        .rowsBetween(Window.unboundedPreceding, 0)))
      .select("rn", "pre")
      .localCheckpoint()
    val totRow = ranked.agg(count(lit(1)), max(col("pre"))).head()
    val nCal = totRow.getLong(0)
    val syTot = totRow.getLong(1) // pre's last value = Σy
    val szDf = ranked.sparkSession.createDataFrame(
      sizes.map(m => Tuple1(m.toLong))).toDF("m")
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g2 = ranked.crossJoin(broadcast(szDf))
      .withColumn("bk", expr("(rn - 1) div m"))
      .filter(expr(s"bk < ${nCal}L div m")) // complete blocks only
      .withColumn("x", col("rn") - col("bk") * col("m"))
      .withColumn("p", lit(nCal) * col("pre") - col("rn") * lit(syTot))
    val blocks = g2.groupBy("m", "bk")
      .agg(sum(col("p")).as("sp"), sum(d38(col("p")) * col("p")).as("spp"),
        sum(d38(col("x") * col("p"))).as("sxp"))
      // m(m+1) and m(m+1)(2m+1) are divisible by 2 and 6 — div exact
      .withColumn("sxl", expr("(m * (m + 1)) div 2"))
      .withColumn("sxxl", expr("(m * (m + 1) * (2 * m + 1)) div 6"))
    val aE = d38(col("m")) * col("spp") - d38(col("sp")) * col("sp")
    val bE = d38(col("m")) * col("sxp") - d38(col("sxl")) * col("sp")
    val dE = col("m") * col("sxxl") - col("sxl") * col("sxl")
    val sse = (aE.cast("double") -
      (bE * bE).cast("double") / dE.cast("double")) /
      (col("m") * col("m")).cast("double")
    val perM = blocks
      .select(col("m"),
        round(greatest(sse, lit(0.0)), 6).cast("decimal(38,6)").as("ssem"))
      .groupBy("m").agg(count(lit(1)).as("cnt"), sum(col("ssem")).as("ssum"))
      .filter(col("ssum") > 0)
    val pk = perM
      .agg(array_sort(collect_list(struct(col("m"), col("cnt"),
        col("ssum")))).as("pts"))
      .filter(size(col("pts")) >= 2)
    val nD = lit(nCal.toDouble)
    def xOf(e: Column) = log(e.getField("m").cast("double"))
    def yOf(e: Column) = log(sqrt(e.getField("ssum").cast("double") /
      e.getField("cnt").cast("double")) / nD)
    val kD = size(col("pts")).cast("double")
    val sxF = aggregate(col("pts"), lit(0.0), (a, e) => a + xOf(e))
    val syF = aggregate(col("pts"), lit(0.0), (a, e) => a + yOf(e))
    val sxyF = aggregate(col("pts"), lit(0.0), (a, e) => a + xOf(e) * yOf(e))
    val sxxF = aggregate(col("pts"), lit(0.0), (a, e) => a + xOf(e) * xOf(e))
    val alpha = (kD * sxyF - sxF * syF) / (kD * sxxF - sxF * sxF)
    pk.select(posexplode(col("pts")), round(alpha, 6).as("dfa_alpha"))
      .select(col("col.m").as("win_size"), col("col.cnt").as("n_blocks"),
        round(sqrt(col("col.ssum").cast("double") /
          col("col.cnt").cast("double")) / nD, 6).as("fluct"),
        col("dfa_alpha"))
  }

  /** Split-conformal prediction intervals for the seasonal-naive
    * daily forecast (Vovk's conformal guarantee in its simplest
    * production form): calibrate on the in-sample residuals
    * e_t = y_t − y_{t−7}, take q̂ = the ⌈(n+1)·0.9⌉-th smallest |e|
    * (the finite-sample-valid conformal quantile — an EXACT order
    * statistic, no interpolation), and emit ŷ_{T+h} ± q̂ around the
    * seasonal-naive point forecast ŷ_{T+h} = y_{T−7+h} for h = 1..7.
    * Under exchangeability the interval covers ≥ 90% — the
    * distribution-free honesty wrapper a forecast dashboard puts
    * around ANY point model.
    *
    * Exactness: everything is BIGINT end to end — residuals are count
    * differences off the zero-filled calendar (the day+7 equi-join
    * shift, never a window over raw rows), the quantile index is
    * integer ceiling arithmetic, and the order statistic comes off the
    * collapsed |e| value grid. No doubles anywhere.
    *
    * Scale: one corpus-sized daily collapse; the rank window orders
    * the collapsed residual value grid (the kruskal value-grid
    * bounded-serial case). */
  def conformalDailyIntervals(events: DataFrame,
      horizon: Int = 7): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
      .localCheckpoint() // residual shift + last-week probe share it
    val prev = grid.select(date_add(col("day"), 7).as("day"),
      col("y").as("y_prev"))
    val res = grid.join(prev, Seq("day"))
      .select(abs(col("y") - col("y_prev")).as("v"))
    val byV = res.groupBy("v").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV.withColumn("cumc", sum(col("c")).over(w))
    val tot = res.agg(count(lit(1)).as("n"))
    // conformal index k = ceil((n+1)·0.9), capped at n (the k > n
    // case means "use the max residual" — the stated small-n fallback)
    val k = least(expr("((n + 1) * 9 + 9) div 10"), col("n"))
    val qhat = cum.crossJoin(broadcast(tot))
      .filter(col("cumc") >= k)
      .agg(min(col("v")).as("q_hat"), max(col("n")).as("n_resid"))
    val lastDay = grid.agg(max(col("day")).as("d1"))
    val points = grid.crossJoin(broadcast(lastDay))
      .filter(datediff(col("d1"), col("day")) < 7)
      .select((datediff(col("day"), col("d1")) + 7L).as("h"),
        col("y").as("forecast"))
    points.crossJoin(broadcast(qhat))
      .select(col("h"), col("forecast"),
        (col("forecast") - col("q_hat")).as("lo"),
        (col("forecast") + col("q_hat")).as("hi"),
        col("q_hat"), col("n_resid"))
  }

  /** Theta-method forecast of the daily series (Assimakopoulos &
    * Nikolopoulos '00, the M3-competition benchmark winner) — the
    * strong SIMPLE baseline beside [[holtWintersDaily]]: decompose
    * into the θ=0 line (the OLS linear trend, pure long-run drift) and
    * the θ=2 line (2y − trend, doubled curvature), forecast each —
    * trend by extrapolation, the θ=2 line by simple exponential
    * smoothing (pinned α, s₁ = x₁ init, both stated conventions) —
    * and combine with equal weights:
    *
    *   ŷ_{n+h} = ½·[a + b·(n+h)] + ½·SES_n(2y − (a + b·t)).
    *
    * Determinism: the whole computation is pure +/−/×/÷ double
    * arithmetic (no libm) in a PINNED evaluation order — moments and
    * the SES recursion fold t-ascending on both rails (`aggregate`
    * here, `list_reduce` in the oracle), the [[holtWintersDaily]]
    * parity; one 6dp round at the end.
    *
    * Scale: one corpus-sized daily collapse; the fold runs on a
    * single calendar-length array row. */
  def thetaForecastDaily(events: DataFrame, alpha: Double = 0.5,
      horizon: Int = 7): DataFrame = {
    val series = dailyCountGrid(events)
      .select(col("day"), col("cnt").cast("double").as("y"))
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("sd"))
      .select(transform(col("sd"), x => x.getField("y")).as("ys"))
      .filter(size(col("ys")) >= 2)
    val n = size(col("ys"))
    val nd = n.cast("double")
    val sy = aggregate(col("ys"), lit(0.0), (a2, x) => a2 + x)
    val sty = aggregate(sequence(lit(1), n), lit(0.0),
      (a2, t) => a2 + t.cast("double") * element_at(col("ys"), t.cast("int")))
    val st = nd * (nd + lit(1.0)) / lit(2.0)
    val stt = nd * (nd + lit(1.0)) * (lit(2.0) * nd + lit(1.0)) / lit(6.0)
    val b0 = (nd * sty - st * sy) / (nd * stt - st * st)
    val a0 = (sy - b0 * st) / nd
    def xAt(t: Column) =
      lit(2.0) * element_at(col("ys"), t.cast("int")) -
        (a0 + b0 * t.cast("double"))
    val ses = aggregate(sequence(lit(2), n), xAt(lit(1)),
      (s2, t) => lit(alpha) * xAt(t) + lit(1.0 - alpha) * s2)
    series
      .select(ses.as("ses"), a0.as("a0"), b0.as("b0"), nd.as("nd"))
      .select(posexplode(transform(sequence(lit(1), lit(horizon)), h =>
        lit(0.5) * (col("a0") + col("b0") * (col("nd") + h.cast("double"))) +
          lit(0.5) * col("ses"))))
      .select((col("pos") + 1).cast("long").as("h"),
        round(col("col"), 6).as("forecast"))
  }

  /** One-step-ahead in-sample backtest of [[holtWintersDaily]] against
    * the SEASONAL-NAIVE baseline (ŷ_t = y_{t−7}) — the honesty check
    * every forecaster owes ([[forecastBacktest]] compares the naive
    * baselines to each other; this asks whether the MODEL beats the
    * better of them): at each t ≥ 8 the pre-update state forecasts
    * f_t = l_{t−1} + b_{t−1} + s_{t−7}, and both |y_t − f_t| and
    * |y_t − y_{t−7}| accumulate IN THE SAME FOLD, so the error sums
    * share the recursion's bit-exact trajectory (abs is a sign flip,
    * fold order pinned t-ascending on both rails). One row out:
    * fitted-point count, both MAEs, and the relative improvement
    * 1 − mae_hw/mae_sn (NULL when the baseline MAE is 0 — a perfectly
    * periodic series gives the model nothing to improve). */
  def holtWintersBacktest(events: DataFrame, alpha: Double = 0.3,
      beta: Double = 0.1, gamma: Double = 0.2): DataFrame = {
    val series = dailyCountGrid(events)
      .select(col("day"), col("cnt").cast("double").as("y"))
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("sd"))
      .select(transform(col("sd"), x => x.getField("y")).as("ys"))
      .filter(size(col("ys")) >= 14)
    val a = lit(alpha); val a1 = lit(1.0 - alpha)
    val b = lit(beta); val b1 = lit(1.0 - beta)
    val g = lit(gamma); val g1 = lit(1.0 - gamma)
    val mean1 = aggregate(slice(col("ys"), 1, 7), lit(0.0),
      (acc, x) => acc + x) / lit(7.0)
    val mean2 = aggregate(slice(col("ys"), 8, 7), lit(0.0),
      (acc, x) => acc + x) / lit(7.0)
    val init = struct(
      mean1.as("l"),
      ((mean2 - mean1) / lit(7.0)).as("b"),
      transform(slice(col("ys"), 1, 7), x => x - mean1).as("s"),
      lit(0.0).as("sae_hw"), lit(0.0).as("sae_sn"), lit(0L).as("n_fit"))
    val state = aggregate(
      sequence(lit(8), size(col("ys"))), init,
      (st, t) => {
        val y = element_at(col("ys"), t.cast("int"))
        val ySn = element_at(col("ys"), (t - lit(7)).cast("int"))
        val sOld = element_at(st.getField("s"), 1)
        val f = st.getField("l") + st.getField("b") + sOld
        val lNew = a * (y - sOld) + a1 * (st.getField("l") + st.getField("b"))
        val bNew = b * (lNew - st.getField("l")) + b1 * st.getField("b")
        val sNew = g * (y - lNew) + g1 * sOld
        struct(lNew.as("l"), bNew.as("b"),
          concat(slice(st.getField("s"), 2, 6), array(sNew)).as("s"),
          (st.getField("sae_hw") + abs(y - f)).as("sae_hw"),
          (st.getField("sae_sn") + abs(y - ySn)).as("sae_sn"),
          (st.getField("n_fit") + lit(1L)).as("n_fit"))
      })
    series.select(state.as("st"))
      .select(col("st.n_fit").as("n_fit"),
        round(col("st.sae_hw") / col("st.n_fit").cast("double"), 6)
          .as("mae_hw"),
        round(col("st.sae_sn") / col("st.n_fit").cast("double"), 6)
          .as("mae_seasonal_naive"),
        when(col("st.sae_sn") > 0.0,
          round(lit(1.0) - (col("st.sae_hw") / col("st.n_fit").cast("double")) /
            (col("st.sae_sn") / col("st.n_fit").cast("double")), 6))
          .as("improvement"))
  }

  /** Robust anomaly flags over [[seasonalDecompositionDaily]]'s
    * residual series — the detector [[dowAnomalies]] approximates,
    * done right: trend and weekday structure are REMOVED first, so a
    * growing series' recent days and a weekend dip don't masquerade
    * as anomalies; what remains is flagged by the MAD-robust z
    * (|res − median| > 3·1.4826·MAD), which one genuine spike cannot
    * drag the way σ-based z-scores do.
    *
    * Determinism: residuals enter at their 6dp-rounded published
    * values (both engines read the same numbers); the median/MAD
    * stats are a 2-row broadcast; the robust z is one pinned chain,
    * NULL (flag false) when MAD = 0. */
  def seasonalAnomalies(events: DataFrame): DataFrame = {
    val dec = seasonalDecompositionDaily(events)
      .filter(col("residual").isNotNull)
      .localCheckpoint()
    val med = dec.agg(median(col("residual")).as("med_res"))
    val mad = dec.crossJoin(broadcast(med))
      .agg(median(abs(col("residual") - col("med_res"))).as("mad_res"),
        max(col("med_res")).as("med_res"))
    val rz = (col("residual") - col("med_res")) /
      (lit(1.4826) * col("mad_res"))
    dec.crossJoin(broadcast(mad))
      .select(col("day"), col("n"), col("residual"),
        round(col("med_res"), 6).as("med_res"),
        round(col("mad_res"), 6).as("mad_res"),
        when(col("mad_res") > lit(0.0), round(rz, 6)).as("robust_z"),
        // the division is guarded, never evaluated at MAD = 0 — a
        // raw x/0.0 is IEEE Infinity in Spark but engine-dependent
        // in SQL mirrors
        when(col("mad_res") > lit(0.0), abs(rz) > lit(3.0))
          .otherwise(lit(false)).as("is_anomaly"))
  }

  /** Sample-ratio-mismatch check — the FIRST sanity gate every real
    * A/B readout runs (a biased assignment invalidates every
    * downstream test silently): are the parity arms' user counts
    * consistent with the designed 50/50? χ² = (a−b)²/(a+b) on exact
    * BIGINT cells against the 3.841459 one-dof 5% critical value.
    * Trivial arithmetic by design — the value is WHERE it sits (in
    * front of the z/Welch/CUPED/DiD family, same arms). */
  def abSrmCheck(events: DataFrame): DataFrame = {
    val cells = events.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("user_id") % lit(2L) === 0L, 1L).otherwise(0L))
          .as("n_a"),
        sum(when(col("user_id") % lit(2L) === 1L, 1L).otherwise(0L))
          .as("n_b"))
    val d = (col("n_a") - col("n_b")).cast("double")
    val chi2 = d * d / col("n_users").cast("double")
    cells.select(col("n_users"), col("n_a"), col("n_b"),
      when(col("n_users") > 0L, round(chi2, 6)).as("srm_chi2"),
      coalesce(chi2 > lit(3.841459), lit(false)).as("srm_mismatch"))
  }

  /** Difference-in-differences on purchase conversion — the panel
    * causal readout beside [[cupedAdjustedAb]]'s variance reduction:
    * arm (user parity, the house A/B convention) × period (exact
    * epoch-µs midpoint halves) in a 2×2 of per-user conversion rates;
    * DiD = (treat Δ) − (control Δ) nets out both the arm's level
    * difference and the common time trend. The normal SE pools the
    * four binomial cell variances (panel users are the denominator of
    * BOTH their periods, the classic two-period panel design).
    *
    * Determinism: every cell is an exact BIGINT count of per-user
    * boolean collapses; rates, DiD, SE and z are pinned double chains;
    * z is NULL when any cell variance is degenerate (p ∈ {0,1} in all
    * cells → SE 0); an empty arm has NULL rates, DiD and z. Shape: one
    * stats broadcast + one per-user hash agg + one 1-row collapse. */
  def diffInDiff(events: DataFrame): DataFrame = {
    val perUser = withTimeRange(events)
      .select(col("user_id"),
        when(col("event_type") === "purchase" && inFirstHalf, 1L)
          .otherwise(0L).as("pre"),
        when(col("event_type") === "purchase" && inSecondHalf, 1L)
          .otherwise(0L).as("post"))
      .groupBy("user_id")
      .agg(max(col("pre")).as("pre"), max(col("post")).as("post"))
      .withColumn("arm", col("user_id") % lit(2L))
    val cells = perUser.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("arm") === 0L, col("pre")).otherwise(0L)).as("x_c_pre"),
      sum(when(col("arm") === 0L, col("post")).otherwise(0L)).as("x_c_post"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("arm") === 1L, col("pre")).otherwise(0L)).as("x_t_pre"),
      sum(when(col("arm") === 1L, col("post")).otherwise(0L)).as("x_t_post"))
    def rate(x: String, n: String) =
      col(x).cast("double") / col(n).cast("double")
    def cellVar(x: String, n: String) = {
      val p = rate(x, n)
      p * (lit(1.0) - p) / col(n).cast("double")
    }
    val did = (rate("x_t_post", "n_t") - rate("x_t_pre", "n_t")) -
      (rate("x_c_post", "n_c") - rate("x_c_pre", "n_c"))
    val se = sqrt(cellVar("x_t_post", "n_t") + cellVar("x_t_pre", "n_t") +
      cellVar("x_c_post", "n_c") + cellVar("x_c_pre", "n_c"))
    val ok = col("n_c") > 0L && col("n_t") > 0L
    cells.select(col("n_c"), col("n_t"),
      when(col("n_c") > 0L, round(rate("x_c_pre", "n_c"), 6)).as("p_c_pre"),
      when(col("n_c") > 0L, round(rate("x_c_post", "n_c"), 6)).as("p_c_post"),
      when(col("n_t") > 0L, round(rate("x_t_pre", "n_t"), 6)).as("p_t_pre"),
      when(col("n_t") > 0L, round(rate("x_t_post", "n_t"), 6)).as("p_t_post"),
      when(ok, round(did, 6)).as("did"),
      when(ok, when(se > lit(0.0), round(did / se, 6))).as("z"))
  }

  /** Wald's sequential probability ratio test over the daily
    * conversion stream — the "peek every day WITHOUT inflating α"
    * monitor beside the fixed-horizon [[abConversionZtest]]: per day,
    * the cumulative log-likelihood ratio of H1 (conversion p1) vs H0
    * (p0) over the odd-arm users' daily conversions, against the Wald
    * boundaries ln((1−β)/α) and ln(β/(1−α)); the first boundary
    * crossing is the decision day, everything after is flagged with
    * the decision it would re-confirm.
    *
    * Determinism: daily trials/conversions are exact BIGINT counts
    * (first purchase day per user = the trial; the cumulative window
    * orders the collapsed DAY frame — bounded, whitelisted); the LLR
    * is (x, n−x) integer-weighted by two pinned ln constants. */
  def sprtDailyAb(events: DataFrame, p0: Double = 0.02,
      p1: Double = 0.04, alpha: Double = 0.05,
      beta: Double = 0.05): DataFrame = {
    // trial = a user's FIRST active day (arm 1 only); success = they
    // purchased that day (their first exposure converted)
    val firstDay = events.filter(col("user_id") % lit(2L) === 1L)
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("day"))
    val firstBuy = events.filter(col("user_id") % lit(2L) === 1L &&
        col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("buy_day"))
    val daily = firstDay.join(firstBuy, Seq("user_id"), "left")
      .select(col("day"),
        when(col("buy_day") === col("day"), 1L).otherwise(0L).as("x"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("x"))
    sprtOverLog(daily, "day", p0, p1, alpha, beta)
  }

  /** The SPRT decision chain over ANY (orderCol, n, x) trial log —
    * the shared core of [[sprtDailyAb]] (day grain) and the streaming
    * `StreamJob.sprtFromCounts` reader (batch grain): cumulative
    * trials/conversions in order, the Wald LLR from exact counts ×
    * two pinned ln weights, and the boundary decision per step. The
    * serial cumulative window orders the caller's COLLAPSED log frame
    * (days / batch ids — structurally bounded, never row-grain). */
  def sprtOverLog(log: DataFrame, orderCol: String, p0: Double,
      p1: Double, alpha: Double, beta: Double): DataFrame = {
    val lWin = math.log(p1 / p0)
    val lLose = math.log((1.0 - p1) / (1.0 - p0))
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    val w = Window.orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = log
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_x", sum(col("x")).over(w))
    val llr = col("cum_x").cast("double") * lit(lWin) +
      (col("cum_n") - col("cum_x")).cast("double") * lit(lLose)
    cum.select(col(orderCol), col("n"), col("x"), col("cum_n"),
      col("cum_x"), round(llr, 6).as("llr"),
      when(llr >= lit(upper), lit("accept_h1"))
        .when(llr <= lit(lower), lit("accept_h0"))
        .otherwise(lit("continue")).as("decision"))
  }

  /** Minimum detectable effect per event type — the experiment-design
    * readout ("how small an uplift could a test on this type even
    * see?") that turns the observed base rates and populations into
    * the two-proportion MDE at α = .05 (two-sided) and 80% power:
    * MDE = (z_{α/2} + z_{power})·√(2·p̂(1−p̂)/n̄) with the per-arm n̄
    * = the type's user count halved (the parity-arm design every
    * experiment here uses).
    *
    * Determinism: user counts and converter counts are exact BIGINTs;
    * p̂ and the MDE are pinned double chains with the two z constants
    * as literals; degenerate types (p̂ ∈ {0,1} → zero variance) give
    * NULL. */
  def mdePowerAnalysis(events: DataFrame,
      threshold: Double = 50.0): DataFrame = {
    // conversion is USER-level (any qualifying purchase in their whole
    // history); the type's population is its distinct user set — a
    // type-segmented view of one global outcome, not per-type outcomes
    val conv = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") >= threshold, 1L).otherwise(0L)).as("conv"))
    val byType = events.select("event_type", "user_id").distinct()
      .join(conv, "user_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val p = col("n_conv").cast("double") / col("n_users").cast("double")
    val nArm = col("n_users").cast("double") / lit(2.0)
    // z_{.025} + z_{.20} pre-summed as ONE literal (2.801585) so both
    // engines parse the identical double — a JVM-side `+` could land
    // one ulp off the SQL literal
    val mde = lit(2.801585) * sqrt(lit(2.0) * p * (lit(1.0) - p) / nArm)
    byType.select(col("event_type"), col("n_users"), col("n_conv"),
      round(p, 6).as("p_hat"),
      when(p > lit(0.0) && p < lit(1.0), round(mde, 6)).as("mde_abs"),
      when(p > lit(0.0) && p < lit(1.0), round(mde / p, 6)).as("mde_rel"))
  }

  /** McNemar's paired test on purchase behavior between the window's
    * two halves — the WITHIN-SUBJECT change test beside
    * [[abConversionZtest]]'s between-arm test: each user is their own
    * control, and only the DISCORDANT users (purchased in exactly one
    * half) carry information. χ² = (|b−c|−1)²/(b+c) with the
    * continuity correction; NULL when no user switched (b+c = 0).
    *
    * Determinism: the half split is the exact integer epoch-µs
    * midpoint ((lo+hi) div 2, the [[scoreGainsDeciles]] convention);
    * the 2×2 cells are exact BIGINT counts of per-user boolean
    * collapses; χ² is one pinned double division. Shape: one stats
    * broadcast + one per-user hash agg + one 4-cell collapse. */
  /** Wilcoxon signed-rank test on per-user spend change across the
    * exact epoch-µs midpoint halves — the paired nonparametric
    * companion completing the within-subject battery
    * ([[mcnemarSwitchers]] tests a binary flip, this tests the
    * MAGNITUDE ranks of the cent-exact spend differences without
    * assuming normality; the unpaired analogue is
    * [[mannWhitneyTypePairs]]): zero differences drop (the standard
    * convention), |d| midranks come from the same doubled-rank
    * prefix-sum machinery over the collapsed |d|-cents grid (2W⁺ =
    * Σ_v c⁺_v·(2·cum(<v) + c_v + 1) stays exact BIGINT), and
    *
    *   z = (2W⁺ − n(n+1)/2) / √(48V/12),
    *   48V = 2n(n+1)(2n+1) − Σ(t³ − t),
    *
    * every operand an exact integer until one pinned chain; NULL at
    * zero variance (all differences tied at one magnitude with both
    * signs... impossible — V = 0 only when n = 0, which the n > 0
    * guard covers).
    *
    * Shape: one per-user collapse, one |d| grid collapse; the serial
    * window orders that bounded grid (the kruskal value-grid case). */
  def wilcoxonSignedRankAb(events: DataFrame): DataFrame = {
    val perUser = withTimeRange(events)
      .select(col("user_id"),
        when(inFirstHalf, col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")).as("pre"),
        when(inSecondHalf, col("value").cast("decimal(12,2)"))
          .otherwise(lit(0).cast("decimal(12,2)")).as("post"))
      .groupBy("user_id")
      .agg((sum(col("post")) * 100).cast("long").as("post_c"),
        (sum(col("pre")) * 100).cast("long").as("pre_c"))
    val diffs = perUser
      .select((col("post_c") - col("pre_c")).as("d"))
      .filter(col("d") =!= 0L)
    val grid = diffs.groupBy(abs(col("d")).as("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("cpos"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid.withColumn("cum", coalesce(sum(col("c")).over(w), lit(0L)))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val s = cum.agg(sum(col("c")).as("n"),
      sum(d38(col("cpos")) * (lit(2L) * col("cum") + col("c") + lit(1L)))
        .as("w2"),
      sum(d38(col("c")) * col("c") * col("c") - col("c")).as("ties3"))
    val n = col("n")
    val v48 = (lit(2L) * d38(n) * (n + 1L) * (lit(2L) * n + 1L) -
      col("ties3")).cast("double")
    val z = (col("w2").cast("double") -
      (d38(n) * (n + 1L)).cast("double") / lit(2.0)) /
      sqrt(v48 / lit(12.0))
    // the published doubled rank sum narrows to BIGINT (≤ 2n² —
    // overflows past n ≈ 2e9 pairs, stated not silent, the
    // mannWhitney convention); the internal arithmetic stays wide
    s.select(col("n").as("n_nonzero"),
      col("w2").cast("long").as("w_plus_x2"),
      when(n > 0L, round(z, 6)).as("z_score"),
      coalesce(when(n > 0L, abs(z) > lit(1.959964)), lit(false))
        .as("significant"))
  }

  def mcnemarSwitchers(events: DataFrame): DataFrame = {
    val perUser = withTimeRange(events)
      .select(col("user_id"),
        when(col("event_type") === "purchase" && inFirstHalf, 1L)
          .otherwise(0L).as("pre"),
        when(col("event_type") === "purchase" && inSecondHalf, 1L)
          .otherwise(0L).as("post"))
      .groupBy("user_id")
      .agg(max(col("pre")).as("pre"), max(col("post")).as("post"))
    val cells = perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("pre") === 1L && col("post") === 1L, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("pre") === 0L && col("post") === 0L, 1L).otherwise(0L))
        .as("n_neither"),
      sum(when(col("pre") === 1L && col("post") === 0L, 1L).otherwise(0L))
        .as("b_pre_only"),
      sum(when(col("pre") === 0L && col("post") === 1L, 1L).otherwise(0L))
        .as("c_post_only"))
    val b = col("b_pre_only")
    val c = col("c_post_only")
    val num = (abs(b - c) - lit(1L)).cast("double")
    cells.select(col("n_users"), col("n_both"), col("n_neither"),
      b, c,
      when(b + c > lit(0L),
        round(num * num / (b + c).cast("double"), 6)).as("mcnemar_chi2"))
  }

  /** One-way ANOVA F on event value across event types — the
    * PARAMETRIC k-sample mean test beside [[kruskalWallisDailyCounts]]'
    * rank test (KW asks "do the distributions differ in location?";
    * ANOVA asks it of the MEANS, with the classic between/within
    * variance decomposition SST = SSB + SSW). η² = SSB/SST is the
    * effect size (share of variance explained by the type).
    *
    * Determinism: values pin to exact BIGINT cents; per-group n, Σc
    * are BIGINT and Σc² is DECIMAL(38,0), so every moment entering
    * the F is exact. Σ Sᵢ²/nᵢ is the one unavoidable float sum — each
    * term is a single pinned division of exact integers (the
    * [[chiSquareTypeDow]] summation precedent over ≤ |types| terms) —
    * and F/η² are pinned double chains rounded once. SSW = 0
    * (all values equal within every group) → NULL F, stated.
    *
    * Shape: one (type) hash agg collapses the log to k rows;
    * everything after runs on that tiny frame. */
  def anovaValueByType(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val g = events.select(col("event_type"), cents.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("ni"), sum("c").as("si"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ssi"))
    val terms = g.select(col("ni"), col("si"), col("ssi"),
      ((col("si").cast("decimal(38,0)") * col("si")).cast("double") /
        col("ni").cast("double")).as("t"))
    val m = terms.agg(count(lit(1)).as("k"), sum("ni").as("n"),
      sum("si").as("s"), sum("ssi").as("ss"), sum("t").as("a"))
    val ssb = col("a") -
      (col("s").cast("decimal(38,0)") * col("s")).cast("double") /
        col("n").cast("double")
    val ssw = col("ss").cast("double") - col("a")
    val df1 = (col("k") - lit(1L)).cast("double")
    val df2 = (col("n") - col("k")).cast("double")
    val ok = col("k") >= 2L && col("n") > col("k") && ssw > lit(0.0)
    m.select(col("k").as("n_types"), col("n").as("n_total"),
      (col("k") - lit(1L)).as("df1"), (col("n") - col("k")).as("df2"),
      when(ok, round((ssb / df1) / (ssw / df2), 6)).as("f_stat"),
      when(ssb + ssw > lit(0.0), round(ssb / (ssb + ssw), 6))
        .as("eta_sq"))
  }

  /** Tukey HSD post-hoc pairwise comparisons after
    * [[anovaValueByType]]: for every event-type pair, the
    * studentized-range statistic
    * q = |x̄ᵢ − x̄ⱼ| / √((MSW/2)(1/nᵢ + 1/nⱼ)) against the α = 0.05
    * critical value — the test that answers WHICH means differ once
    * the omnibus F says "some do", holding the familywise error rate
    * at α across all k(k−1)/2 comparisons (pairwise Welch t's would
    * compound toward 1 − 0.95^10).
    *
    * Determinism: per-group n/Σc/Σc² are exact (BIGINT cents,
    * DECIMAL(38,0)); each Sᵢ²/nᵢ term rounds 6dp into DECIMAL(38,6)
    * BEFORE the k-term sum so MSW is order-exact (tightening the
    * [[anovaValueByType]] float-sum precedent), the mean difference
    * is one pinned division of exact integer lanes, and q is a pure
    * IEEE chain on those identical doubles. `qCrit` defaults to the
    * k = 5, df = ∞ studentized-range 5% table value 3.858 — exact for
    * this corpus's 5 types at df2 ≫ 120, stated. MSW = 0 → NULL q,
    * false flag.
    *
    * Shape: one (type) hash agg collapses the log to k rows; the
    * pair frame is k²-bounded with the 1-row MSW broadcast onto it. */
  def tukeyHsdTypePairs(events: DataFrame, qCrit: Double = 3.858): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = events.select(col("event_type"), cents.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("ni"), sum("c").as("si"),
        sum(dec(col("c")) * col("c")).as("ssi"))
      .localCheckpoint() // the MSW reduce + both sides of the pair frame
    val terms = g.select(col("ni"), col("ssi"),
      round((dec(col("si")) * col("si")).cast("double") /
        col("ni").cast("double"), 6).cast("decimal(38,6)").as("t"))
    val m = terms.agg(count(lit(1)).as("k"), sum("ni").as("n"),
      sum("ssi").as("ss"), sum("t").as("a"))
    val mswE = (col("ss").cast("double") - col("a").cast("double")) /
      (col("n") - col("k")).cast("double")
    val mRow = m.select(
      when(col("n") > col("k"), mswE).as("msw"))
    val diffC = (dec(col("a.si")) * col("b.ni") -
      dec(col("b.si")) * col("a.ni")).cast("double") /
      (dec(col("a.ni")) * col("b.ni")).cast("double")
    val se = sqrt((col("msw") / lit(2.0)) *
      (lit(1.0) / col("a.ni").cast("double") +
        lit(1.0) / col("b.ni").cast("double")))
    val q = abs(diffC) / se
    val ok = col("msw").isNotNull && col("msw") > lit(0.0)
    g.as("a").crossJoin(g.as("b")) // k²-bounded type pairs
      .filter(col("a.event_type") < col("b.event_type"))
      .crossJoin(broadcast(mRow))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.ni").as("n_a"), col("b.ni").as("n_b"),
        round(diffC / lit(100.0), 6).as("mean_diff"),
        when(ok, round(q, 6)).as("q_stat"),
        when(ok, q > lit(qCrit)).otherwise(lit(false)).as("significant"))
  }

  /** Jarque–Bera normality diagnostic of the value distribution per
    * event type — sample skewness g₁, excess kurtosis g₂, and
    * JB = n/6·(g₁² + g₂²/4), the moment-based "is this even remotely
    * Gaussian?" gate that decides whether [[welchTtestAb]]-style
    * parametric tests or the rank battery ([[mannWhitneyTypePairs]],
    * [[kruskalWallisDailyCounts]]) are the right lens. JB ≫ 6 says
    * decidedly non-normal (asymptotically χ²₂ under H₀).
    *
    * Determinism: cents are exact BIGINT; the four power sums Σc,
    * Σc², Σc³, Σc⁴ aggregate in DECIMAL(38,0) — exact for any
    * realistic corpus (c ≤ 10⁶ cents ⇒ Σc⁴ ≤ 10²⁴·n). Central
    * moments come from the pinned closed forms
    *   m₂ = q₂ − μ², m₃ = q₃ − 3μq₂ + 2μ³,
    *   m₄ = q₄ − 4μq₃ + 6μ²q₂ − 3μ⁴   (qⱼ = Σcʲ/n, μ = q₁)
    * evaluated in the same association order on both rails (pure
    * IEEE ·/− chains; sqrt is correctly rounded, no libm risk).
    * Skew/kurtosis are scale-invariant, so the cent scaling cancels.
    * m₂ = 0 (constant values) → NULL stats, stated. */
  def jarqueBeraByType(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val d = col("c").cast("decimal(38,0)")
    val g = events.select(col("event_type"), cents.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s1"),
        sum(d * col("c")).as("s2"),
        sum(d * col("c") * col("c")).as("s3"),
        sum(d * col("c") * col("c") * col("c")).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val q2 = col("s2").cast("double") / nD
    val q3 = col("s3").cast("double") / nD
    val q4 = col("s4").cast("double") / nD
    val m2 = q2 - mu * mu
    val m3 = q3 - lit(3.0) * mu * q2 + lit(2.0) * mu * mu * mu
    val m4 = q4 - lit(4.0) * mu * q3 + lit(6.0) * mu * mu * q2 -
      lit(3.0) * mu * mu * mu * mu
    val skew = m3 / (m2 * sqrt(m2))
    val exk = m4 / (m2 * m2) - lit(3.0)
    val ok = col("n") >= 2L && m2 > lit(0.0)
    g.select(col("event_type"), col("n"),
      when(ok, round(skew, 6)).as("skewness"),
      when(ok, round(exk, 6)).as("ex_kurtosis"),
      when(ok, round(nD / lit(6.0) *
        (skew * skew + exk * exk / lit(4.0)), 6)).as("jb_stat"))
  }

  /** Theil inequality indices of the per-user activity distribution —
    * Theil T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ) and the mean log deviation
    * L = (1/n)·Σ ln(μ/xᵢ), the entropy-based inequality pair beside
    * [[userActivityGini]] (T is top-sensitive, L bottom-sensitive;
    * both are 0 at perfect equality and additively decomposable,
    * which Gini is not — the reason inequality dashboards carry
    * both). xᵢ = the user's event count, always ≥ 1, so every log is
    * defined.
    *
    * Determinism: xᵢ·n and Σx are exact BIGINTs, so each ratio is ONE
    * pinned division; the per-user ln terms are re-pinned to BIGINT
    * micro-units BEFORE the corpus-sized sum (the
    * [[graft.ops.MiningOps.qlmTopDocs]] / pinballLoss discipline —
    * exact whatever the aggregation order), divided out once at the
    * end. ln itself is the accepted libm-parity surface every
    * KL/PSI/MI oracle already stands on.
    *
    * Shape: one (user) hash agg collapses the log; one broadcast of
    * the 1-row stats frame; one exact micro-unit sum. */
  def theilIndexActivity(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("x"))
    val st = perUser.agg(count(lit(1)).as("n"), sum("x").as("s"))
    val ratio = (col("x") * col("n")).cast("double") /
      col("s").cast("double")
    val terms = perUser.crossJoin(broadcast(st))
      .select(col("n"), col("s"),
        round(ratio * log(ratio) * lit(1000000.0), 0).cast("long").as("tm"),
        round(-log(ratio) * lit(1000000.0), 0).cast("long").as("lm"))
    val nD = col("n").cast("double")
    terms.groupBy("n", "s")
      .agg(sum("tm").as("stm"), sum("lm").as("slm"))
      .select(col("n").as("n_users"),
        round(col("s").cast("double") / nD, 6).as("mean_activity"),
        round(col("stm").cast("double") / lit(1000000.0) / nD, 6)
          .as("theil_t"),
        round(col("slm").cast("double") / lit(1000000.0) / nD, 6)
          .as("theil_l"))
  }

  /** Grubbs' outlier probe on daily total volume: the single most
    * extreme day's studentized deviate G = max|yₜ − ȳ|/s over the
    * zero-filled calendar (an absent day IS the candidate outlier) —
    * the classic one-outlier test behind "was that spike real?"
    * triage, the single-point companion of [[dowAnomalies]]' seasonal
    * flags. G is emitted with the suspect day; compare to the Grubbs
    * critical value at your α off-engine (no t-quantile table
    * on either rail — stated).
    *
    * Determinism: deviations are n-scaled (n·yₜ − Σy, exact BIGINT),
    * the argmax day is the (|dev| desc, day asc) total order, and G
    * is one pinned double chain off exact integer moments
    * (n·Σy² − (Σy)² in DECIMAL(38,0)); n < 3 or a constant series →
    * NULL G. Shape: one (day) hash agg, then a 1-row
    * TakeOrderedAndProject over the calendar frame. */
  def grubbsDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
    val st = grid.agg(count(lit(1)).as("n"), sum("y").as("s"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("ss"))
    val nD = col("n").cast("double")
    val varNum = (col("n").cast("decimal(38,0)") * col("ss") -
      col("s").cast("decimal(38,0)") * col("s")).cast("double")
    // G = max|n·y − S| / (n·s_sample): the n-scaling of the deviation
    // cancels against the extra n in the denominator
    val g = col("adev").cast("double") /
      (nD * sqrt(varNum / (nD * (nD - lit(1.0)))))
    grid.crossJoin(broadcast(st))
      .select(col("day"), col("y"), col("n"), col("s"), col("ss"),
        abs(col("n") * col("y") - col("s")).as("adev"))
      .orderBy(col("adev").desc, col("day").asc)
      .limit(1)
      .select(col("n").as("n_days"), col("day").as("suspect_day"),
        col("y").as("cnt"),
        when(col("n") >= 3L && varNum > lit(0.0), round(g, 6))
          .as("g_stat"))
  }

  /** Page–Hinkley drift statistics per event type over the
    * zero-filled daily grid — the classic sequential mean-shift
    * detector (Page '54, Hinkley '71) beside [[cusumChangepoints]]'
    * retrospective argmax: mₜ = Σ_{s≤t}(y_s − μ̂_s) accumulates each
    * day's gap from the RUNNING mean, PH⁺ₜ = mₜ − min_{s≤t} m_s
    * flags upward shifts and PH⁻ₜ = max_{s≤t} m_s − mₜ downward
    * ones (alarm when either exceeds your λ — emitted raw, the
    * [[grubbsDaily]] off-engine-threshold convention).
    *
    * Determinism: running count sums and row numbers are exact
    * BIGINTs; each day's running mean is ONE pinned division
    * re-pinned to BIGINT micro-units (the
    * [[graft.ops.MiningOps.qlmTopDocs]] discipline), so mₜ =
    * 10⁶·Sₜ − Σ q_s and both PH statistics are exact integer
    * arithmetic end-to-end, divided out once at 6dp. `is_peak`
    * compares exact integers, so ties agree across engines.
    *
    * Shape: one (type, day) hash agg collapses the log to
    * |types| × calendar cells; the per-type windows order calendar-
    * length partitions of that collapsed frame (the
    * [[cusumChangepoints]] bounded-serial shape, parallel across
    * types). */
  def pageHinkleyByType(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val run = grid.select(col("event_type"), col("day"), col("cnt"),
      sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"),
      row_number().over(w).cast("long").as("k"))
    val q = round((col("s").cast("double") / col("k").cast("double")) *
      lit(1000000.0), 0).cast("long")
    val withM = run.withColumn("q", q)
      .withColumn("m", lit(1000000L) * col("s") -
        sum(col("q")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wAll = Window.partitionBy("event_type")
    withM
      .withColumn("ph_inc_m", col("m") -
        min(col("m")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ph_dec_m",
        max(col("m")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
          col("m"))
      .select(col("event_type"), col("day"), col("cnt"),
        round(col("ph_inc_m").cast("double") / lit(1000000.0), 6)
          .as("ph_inc"),
        round(col("ph_dec_m").cast("double") / lit(1000000.0), 6)
          .as("ph_dec"),
        (col("ph_inc_m") === max(col("ph_inc_m")).over(wAll))
          .as("is_peak"))
  }

  /** KPSS level-stationarity statistic on daily total volume — the
    * null-reversed companion of [[mannKendallDaily]]/[[hurstExponentDaily]]:
    * KPSS takes STATIONARITY as H₀ (trend tests take no-trend), so
    * the pair brackets the series from both sides. η = (Σₜ Sₜ²/n²) /
    * σ̂²_lrv with Sₜ the partial sums of demeaned counts and σ̂²_lrv
    * the Bartlett-weighted long-run variance at bandwidth q
    * (Kwiatkowski–Phillips–Schmidt–Shin '92; reject stationarity when
    * η exceeds 0.463 at 5%).
    *
    * Determinism: deviations are n-scaled (n·yₜ − Σy — exact BIGINT),
    * partial sums, ΣSₜ² and every autocovariance Σ eₜ·eₜ₋ₖ aggregate
    * in DECIMAL(38,0), and the Bartlett weights (q+1−k)/(q+1) clear
    * denominators: η = (q+1)·ΣS′² / (n·((q+1)γ′₀ + 2Σ(q+1−k)γ′ₖ)) —
    * every operand an exact integer, ONE pinned division (all the
    * n-scalings cancel). A constant series (zero long-run variance) →
    * NULL η, stated.
    *
    * Shape: one (day) hash agg to calendar cardinality; the partial
    * sums ride one serial window over that collapsed frame and the
    * autocovariances are equi-joins on the materialized date_add key
    * (the [[ljungBoxDaily]] shift shape). */
  def kpssDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag >= 1: $maxLag")
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
    val st = grid.agg(count(lit(1)).as("n"), sum("y").as("s"))
    val dev = grid.crossJoin(broadcast(st))
      .select(col("day"), col("n"),
        (col("n") * col("y") - col("s")).cast("decimal(38,0)").as("e"))
    val ps = dev
      .withColumn("sp", sum(col("e")).over(
        Window.orderBy(col("day").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .agg(sum(col("sp") * col("sp")).as("ssq"), max(col("n")).as("n"))
    val lags = events.sparkSession.range(0, maxLag + 1)
      .select(col("id").as("lag"))
    val gammas = dev.crossJoin(broadcast(lags))
      .select(col("lag"), expr("date_add(day, CAST(lag AS INT))").as("tday"),
        col("e").as("ex"))
      .join(dev.select(col("day").as("tday"), col("e").as("ey")), "tday")
      .groupBy("lag").agg(sum(col("ex") * col("ey")).as("gk"))
    // Bartlett weights with the (q+1) denominator cleared: w₀ = q+1,
    // wₖ = 2(q+1−k) — the whole denominator stays an exact integer
    val w = when(col("lag") === 0L, lit((maxLag + 1).toLong))
      .otherwise(lit(2L) * (lit((maxLag + 1).toLong) - col("lag")))
    val den = gammas
      .agg(sum(w.cast("decimal(38,0)") * col("gk")).as("d"),
        sum(when(col("lag") >= 1L, 1L).otherwise(0L)).as("k_lags"))
    ps.crossJoin(broadcast(den))
      .select(col("n").as("n_days"), col("k_lags"),
        when(col("d") > lit(0),
          round((lit((maxLag + 1).toLong).cast("decimal(38,0)") *
            col("ssq")).cast("double") /
            (col("n").cast("decimal(38,0)") * col("d")).cast("double"), 6))
          .as("kpss_eta"))
  }

  /** Dickey–Fuller unit-root test on daily total volume — the
    * null-reversed partner of [[kpssDaily]] (DF takes the unit root
    * as H₀, KPSS takes stationarity; run together they split series
    * into stationary / unit-root / inconclusive): the t-statistic of
    * ρ in Δyₜ = α + ρ·yₜ₋₁ + εₜ, which for the with-intercept simple
    * regression equals the correlation t — r·√((n−2)/(1−r²)) with r
    * the Pearson correlation of (yₜ₋₁, Δyₜ). Compare to the DF table
    * (−2.86 at 5%), not the t table — stated, off-engine.
    *
    * Determinism: the lag pairing is an equi-join on the materialized
    * date_add key over the zero-filled grid; all six moments are
    * exact (products in DECIMAL(38,0)); the n-scaled cross moments
    * SxxN/SxyN/SyyN are exact integers and r, ρ̂, t are pinned double
    * chains off them. Degenerate series (zero variance on either
    * side, |r| = 1, or n < 3 pairs) → NULL, stated. */
  def dfTestDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
    val pairs = grid.as("a")
      .join(grid.select(expr("date_add(day, -1)").as("day"),
        col("y").as("y1")).as("b"), Seq("day"))
      .select(col("y").as("x"), (col("y1") - col("y")).as("dy"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = pairs.agg(count(lit(1)).as("np"),
      sum("x").as("sx"), sum("dy").as("sy"),
      sum(dec(col("x")) * col("x")).as("sxx"),
      sum(dec(col("x")) * col("dy")).as("sxy"),
      sum(dec(col("dy")) * col("dy")).as("syy"))
    val sxxN = dec(col("np")) * col("sxx") - dec(col("sx")) * col("sx")
    val sxyN = dec(col("np")) * col("sxy") - dec(col("sx")) * col("sy")
    val syyN = dec(col("np")) * col("syy") - dec(col("sy")) * col("sy")
    val r = sxyN.cast("double") /
      sqrt(sxxN.cast("double") * syyN.cast("double"))
    val nD = col("np").cast("double")
    val t = r * sqrt((nD - lit(2.0)) / (lit(1.0) - r * r))
    val ok = col("np") >= 3L && sxxN > lit(0) && syyN > lit(0)
    m.select(col("np").as("n_pairs"),
      when(ok, round(sxyN.cast("double") / sxxN.cast("double"), 6))
        .as("rho_hat"),
      when(ok && lit(1.0) - r * r > lit(0.0), round(t, 6)).as("df_t"))
  }

  /** Croston's method for intermittent demand (Croston '72) on the
    * daily series of PURCHASE events — the forecaster for series that
    * are mostly zeros, where [[holtWintersDaily]]'s level smoothing
    * collapses toward zero between demands: smooth the non-zero
    * demand SIZES (z) and the inter-demand INTERVALS (p) as two
    * independent EWMAs over the demand-day subsequence, forecast
    * z/p per day. Init convention (stated): z₁ = first demand size,
    * p₁ = the first demand's 1-based day index.
    *
    * Determinism: both EWMAs fold in pinned ascending demand order
    * (`aggregate` here, a recursive CTE in the oracle — the
    * [[pacfDailyCounts]] bit-identical-trajectory discipline); sizes
    * and intervals are exact integers cast once per step; the
    * empty-update fold is guarded explicitly (`sequence(2, 1)` counts
    * DOWN — the shingles footgun). All-zero series → NULL forecast.
    *
    * Shape: one (day) hash agg; the fold runs on a single packed
    * calendar-length row. */
  def crostonForecastDaily(events: DataFrame,
      alpha: Double = 0.1): DataFrame = {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val series = dailyGrid(daily).select(col("day"), col("cnt").as("y"))
      .agg(array_sort(collect_list(struct(col("day"), col("y")))).as("sd"),
        count(lit(1)).as("n_days"))
      .select(transform(col("sd"), x => x.getField("y")).as("ys"),
        col("n_days"))
    val n = size(col("ys"))
    def yAt(t: Column) = element_at(col("ys"), t.cast("int"))
    val a = lit(alpha); val a1 = lit(1.0 - alpha)
    // guard the empty grid: sequence(1, 0) counts DOWN (the shingles
    // footgun) and would probe element_at(ys, 0) under ANSI
    val dIdx = when(n >= 1, filter(sequence(lit(1), n), t => yAt(t) > 0))
      .otherwise(array().cast("array<int>"))
    val m = size(col("didx"))
    def dAt(k: Column) = element_at(col("didx"), k.cast("int"))
    val zInit = yAt(dAt(lit(1))).cast("double")
    val pInit = dAt(lit(1)).cast("double")
    val z = when(m >= 2,
      aggregate(sequence(lit(2), m), zInit,
        (z, k) => a * yAt(dAt(k)).cast("double") + a1 * z))
      .otherwise(zInit)
    val p = when(m >= 2,
      aggregate(sequence(lit(2), m), pInit,
        (p, k) => a * (dAt(k) - dAt(k - lit(1))).cast("double") + a1 * p))
      .otherwise(pInit)
    series.withColumn("didx", dIdx)
      .select(col("n_days"), m.cast("long").as("n_demand_days"),
        when(m >= 1, round(z, 6)).as("smoothed_size"),
        when(m >= 1, round(p, 6)).as("smoothed_interval"),
        when(m >= 1, round(z / p, 6)).as("croston_forecast"))
  }

  /** Kendall's coefficient of concordance W across event types — "do
    * the ~5 types AGREE on which days are busy?", the k-rater
    * agreement statistic normalizing [[friedmanDowTest]]'s χ²: each
    * type midranks the zero-filled calendar days by its own daily
    * count, W = 12·S / (k²(n³−n) − k·ΣTⱼ) with S the variance of the
    * per-day rank sums and Tⱼ = Σ(t³−t) the per-type tie correction.
    * W = 1 is perfect agreement, 0 is none.
    *
    * Determinism: DOUBLED midranks (2r = 2·below + ties + 1) keep
    * every rank an exact integer, so the per-day doubled rank sums,
    * the centered square sum S₄ = Σ(2Rᵢ − k(n+1))² = 4S and the tie
    * moments are all exact DECIMAL(38,0) — W = 3·S₄ / (k²(n³−n) −
    * k·ΣT) is ONE pinned division of exact integers ("3" because the
    * doubling contributes 4 and 12/4 = 3). All-tied raters (zero
    * denominator) → NULL, stated.
    *
    * Shape: one (type, day) hash agg to |types| × calendar cells;
    * midranks ride the collapsed per-(type, value) count frame (the
    * [[kruskalWallisDailyCounts]] prefix shape); everything after is
    * grid-sized. */
  def kendallsWTypes(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events)
      .select(col("event_type"), col("day"), col("cnt").as("v"))
    // per-(type, value) doubled midrank: 2r = 2·(# strictly below) +
    // (# tied) + 1, off the collapsed count-value frame
    val byVal = grid.groupBy("event_type", "v")
      .agg(count(lit(1)).as("tv"))
    val ranked = byVal.withColumn("below",
      coalesce(sum(col("tv")).over(
        Window.partitionBy("event_type").orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type"), col("v"),
        (lit(2L) * col("below") + col("tv") + lit(1L)).as("r2"),
        col("tv"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ties = ranked.groupBy("event_type")
      .agg(sum(dec(col("tv")) * col("tv") * col("tv") - col("tv"))
        .as("tj"))
      .agg(count(lit(1)).as("k"), sum(col("tj")).as("st"))
    val daySums = grid.join(ranked.select("event_type", "v", "r2"),
        Seq("event_type", "v"))
      .groupBy("day").agg(sum(col("r2")).as("r2sum"))
    val st = daySums.agg(count(lit(1)).as("n"),
      sum(dec(col("r2sum")) * col("r2sum")).as("sq"),
      sum(col("r2sum")).as("sr"))
    // S4 = Σ(2R − k(n+1))² expanded off exact moments: Σ(2R)² −
    // (Σ2R)²/n, with Σ2R = k·n·(n+1) exactly — so S4·n is exact
    st.crossJoin(broadcast(ties))
      .select(col("n").as("n_days"), col("k").as("n_types"), {
        val n = dec(col("n")); val k = dec(col("k"))
        val s4n = n * col("sq") - dec(col("sr")) * col("sr")
        val denom = n * (k * k * (n * n * n - n) - k * col("st"))
        when(denom > lit(0),
          round((lit(3).cast("decimal(38,0)") * s4n).cast("double") /
            denom.cast("double"), 6))
          .as("kendalls_w")
      })
  }

  /** Diebold–Mariano test on [[forecastBacktest]]'s two baselines —
    * is the seasonal-naive forecast SIGNIFICANTLY better than the
    * 1-day naive, or is the MAE gap noise? DM over the per-day
    * absolute-loss differential dₜ = |yₜ − yₜ₋₇| − |yₜ − yₜ₋₁|
    * (negative DM favors seasonal; compare to N(0,1) — for 1-step
    * forecasts the HAC bandwidth is 0, so the variance is the plain
    * γ̂₀, the textbook case).
    *
    * Determinism: dₜ is an exact BIGINT; with n-scaled deviations
    * the statistic collapses to DM = n·Σd / √(Σ(n·dₜ − Σd)²) — exact
    * DECIMAL(38,0) integers into ONE pinned chain. Zero-variance
    * differentials → NULL, stated. Shape: the [[forecastBacktest]]
    * lag windows per type over the collapsed grid, then k rows. */
  def dmNaiveVsSeasonal(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    val d = grid
      .withColumn("l1", lag(col("cnt"), 1).over(w))
      .withColumn("l7", lag(col("cnt"), 7).over(w))
      .filter(col("l1").isNotNull && col("l7").isNotNull)
      .select(col("event_type"),
        (abs(col("cnt") - col("l7")) - abs(col("cnt") - col("l1"))).as("d"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = d.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("d").as("sd"),
        sum(dec(col("d")) * col("d")).as("sdd"))
    // Σ(n·d − Σd)² = n²Σd² − n(Σd)² = n·(nΣd² − (Σd)²)
    val devSq = dec(col("n")) *
      (dec(col("n")) * col("sdd") - dec(col("sd")) * col("sd"))
    m.select(col("event_type"), col("n").as("n_days"),
      round(col("sd").cast("double") / col("n").cast("double"), 6)
        .as("mean_loss_diff"),
      when(devSq > lit(0),
        round((dec(col("n")) * col("sd")).cast("double") /
          sqrt(devSq.cast("double")), 6)).as("dm_stat"))
  }

  /** Gumbel extreme-value fit of DAILY MAXIMUM event value — the
    * method-of-moments EVT estimate behind "what's the biggest value
    * we should expect in a month / a year?": block maxima of an
    * exponential-tailed process are asymptotically Gumbel(μ, β)
    * (Fisher–Tippett–Gnedenko), fit by β̂ = s·√6/π and
    * μ̂ = m − γ_E·β̂ (γ_E the Euler–Mascheroni constant, pinned as a
    * literal on both rails), with the T-period return level
    * x_T = μ̂ − β̂·ln(−ln(1 − 1/T)).
    *
    * Determinism: per-day max cents are exact BIGINTs (observed days
    * only — a zero-filled absent day is not a drawn maximum), moments
    * are exact DECIMAL(38,0), and m, s, μ̂, β̂, x₃₀, x₃₆₅ are pinned
    * double chains (√/ln correctly-rounded or the accepted libm
    * surface). n < 2 or zero variance → NULL fit. */
  def gumbelValueExtremes(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val daily = events.select(to_date(col("ts")).as("day"), cents.as("c"))
      .groupBy("day").agg(max("c").as("mx"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = daily.agg(count(lit(1)).as("n"), sum("mx").as("s"),
      sum(dec(col("mx")) * col("mx")).as("ss"))
    val nD = col("n").cast("double")
    val mean = col("s").cast("double") / 100.0 / nD
    val varU = (dec(col("n")) * col("ss") - dec(col("s")) * col("s"))
      .cast("double") / 10000.0 / (nD * (nD - lit(1.0)))
    val beta = sqrt(varU) * lit(math.sqrt(6.0)) / lit(math.Pi)
    val mu = mean - lit(0.5772156649015329) * beta
    def rl(t: Double) =
      mu - beta * log(-log(lit(1.0) - lit(1.0) / lit(t)))
    val ok = col("n") >= 2L && varU > lit(0.0)
    m.select(col("n").as("n_days"),
      round(mean, 6).as("mean_daily_max"),
      when(ok, round(mu, 6)).as("gumbel_mu"),
      when(ok, round(beta, 6)).as("gumbel_beta"),
      when(ok, round(rl(30.0), 6)).as("return_level_30d"),
      when(ok, round(rl(365.0), 6)).as("return_level_365d"))
  }

  /** Daily-revenue Value-at-Risk and Conditional VaR — the risk pair
    * every finance dashboard carries, here over the zero-filled daily
    * revenue series (an absent day IS a zero-revenue day): VaR₉₅ is
    * the interpolated 5th percentile of daily revenue (the level a
    * bad day breaches once in 20), and CVaR₉₅ (expected shortfall)
    * is the exact mean of the worst ⌈5%·n⌉ days — the
    * order-statistic form, so no interpolated threshold ever feeds
    * the tail mean.
    *
    * Determinism: daily revenues are exact BIGINT cents;
    * `percentile` ↔ DuckDB `quantile_cont` share the interpolated-
    * rank definition over the identical integer multiset (the
    * [[funnelLatency]] parity); the worst-k selection counts
    * strictly-worse (rev, day) keys over the calendar-sized frame
    * (an equi-free bounded self-join, no data-proportional sort) and
    * its mean is one pinned division of exact cents. */
  def revenueVarCvar(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(12,2)") * lit(100))
      .cast("bigint")
    val daily0 = events.select(to_date(col("ts")).as("day"), cents.as("c"))
      .groupBy("day").agg(sum("c").as("rev"))
    val daily = dailyGrid(daily0).select("day", "rev")
      .localCheckpoint()
    val st = daily.agg(count(lit(1)).as("n"),
      round(expr("percentile(rev, 0.05)") / 100.0, 6).as("var95"))
    // worst-k by exact rank: k = ceil(n/20); a day is in the tail iff
    // fewer than k (rev, day) keys sort strictly below it
    val ranked = daily.as("a")
      .join(daily.as("b"),
        col("b.rev") < col("a.rev") ||
          (col("b.rev") === col("a.rev") && col("b.day") < col("a.day")),
        "left")
      .groupBy(col("a.day"), col("a.rev"))
      .agg(count(col("b.day")).as("n_below"))
    val tail = ranked.crossJoin(broadcast(st))
      .filter(col("n_below") < ceil(col("n").cast("double") / lit(20.0))
        .cast("long"))
      .agg(count(lit(1)).as("k_days"), sum(col("rev")).as("tail_rev"),
        max(col("n")).as("n"), max(col("var95")).as("var95"))
    tail.select(col("n").as("n_days"), col("var95").as("var_95"),
      col("k_days"),
      round(col("tail_rev").cast("double") / 100.0 /
        col("k_days").cast("double"), 6).as("cvar_95"))
  }

  /** Cochran's Q test across event types — the k-treatment BINARY
    * repeated-measures test (the k-ary generalization of
    * [[mcnemarSwitchers]], the binary specialization of
    * [[friedmanDowTest]]): does the share of users who EVER touch a
    * type differ across types, with each user as their own block?
    * Q = (k−1)·(k·ΣCⱼ² − N²) / (k·N − ΣRᵢ²), asymptotically χ²ₖ₋₁
    * under exchangeability.
    *
    * Determinism: the user×type engagement matrix is binary by
    * construction (distinct collapse), so column totals Cⱼ, row
    * totals Rᵢ and N are exact BIGINTs, the squares aggregate in
    * DECIMAL(38,0), and Q is ONE pinned division of exact integers.
    * Saturated matrices (every user touches every type → zero
    * denominator) → NULL, stated.
    *
    * Shape: one (user, type) distinct collapse; row totals are a
    * user-grain agg, column totals a k-row agg. */
  def cochranQTypes(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = ut.groupBy("user_id").agg(count(lit(1)).as("ri"))
      .agg(count(lit(1)).as("b"), sum("ri").as("n"),
        sum(dec(col("ri")) * col("ri")).as("sr2"))
    val cols = ut.groupBy("event_type").agg(count(lit(1)).as("cj"))
      .agg(count(lit(1)).as("k"), sum(dec(col("cj")) * col("cj")).as("sc2"))
    rows.crossJoin(broadcast(cols))
      .select(col("b").as("n_users"), col("k").as("n_types"),
        (col("k") - lit(1L)).as("dof"), {
          val num = (dec(col("k")) - lit(1)) *
            (dec(col("k")) * col("sc2") - dec(col("n")) * col("n"))
          val den = dec(col("k")) * col("n") - col("sr2")
          when(den > lit(0),
            round(num.cast("double") / den.cast("double"), 6))
            .as("cochran_q")
        })
  }

  /** Ljung–Box portmanteau test on daily total volume — "is the
    * series white noise, or is there autocorrelation at ANY lag up
    * to K?": Q = n(n+2)·Σ_{k=1..K} ρ̂ₖ²/(n−k), asymptotically χ²_K
    * under independence. The one-number companion to
    * [[acfDailyCounts]]' per-lag display (a residual-whiteness gate
    * after [[seasonalDecompositionDaily]]/[[holtWintersDaily]]-style
    * fits) using the same covariance-form ρ̂ₖ as [[pacfDailyCounts]]
    * (one global mean, one common denominator — the form the Q
    * statistic is defined on).
    *
    * Determinism: the zero-filled calendar grid makes n exact;
    * deviations are n-scaled (n·yₜ − Σy — exact BIGINTs) and every
    * lag's numerator Σ dₜ·dₜ₊ₖ and the common denominator Σdₜ²
    * aggregate in DECIMAL(38,0), so each ρ̂ₖ is ONE pinned division
    * (the n² scaling cancels in the ratio). The K per-lag terms
    * ρ̂ₖ²/(n−k) are pinned double chains summed over ≤ K rows (the
    * [[chiSquareTypeDow]] precedent), scaled once by n(n+2). A
    * constant series (zero denominator) → NULL Q, stated.
    *
    * Shape: one (day) hash agg collapses the log to calendar
    * cardinality; the ×K shift expansion and the per-lag moments run
    * on that tiny frame (equi-join on the materialized date_add key,
    * never a theta join). */
  def ljungBoxDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag >= 1: $maxLag")
    val grid = dailyCountGrid(events).select(col("day"), col("cnt").as("y"))
    val st = grid.agg(count(lit(1)).as("n"), sum("y").as("s"))
    val dev = grid.crossJoin(broadcast(st))
      .select(col("day"), col("n"),
        (col("n") * col("y") - col("s")).cast("decimal(38,0)").as("d"))
    val den = dev.agg(sum(col("d") * col("d")).as("den"),
      max(col("n")).as("n"))
    val lags = events.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag"))
    val nums = dev.crossJoin(broadcast(lags))
      .select(col("lag"), expr("date_add(day, CAST(lag AS INT))").as("tday"),
        col("d").as("dx"))
      .join(dev.select(col("day").as("tday"), col("d").as("dy")), "tday")
      .groupBy("lag").agg(sum(col("dx") * col("dy")).as("num"))
    val nD = col("n").cast("double")
    val rho = col("num").cast("double") / col("den").cast("double")
    // the den = 0 branch never evaluates the division (lazy CaseWhen —
    // ANSI mode would otherwise throw DIVIDE_BY_ZERO on the dead arm)
    val terms = nums.crossJoin(broadcast(den))
      .filter(col("lag") < col("n"))
      .select(col("n"), col("den"),
        when(col("den") > lit(0),
          rho * rho / (nD - col("lag").cast("double")))
          .otherwise(lit(0.0)).as("t"))
    terms.groupBy("n", "den")
      .agg(count(lit(1)).as("k_lags"), sum("t").as("qsum"))
      .select(col("n").as("n_days"), col("k_lags"),
        when(col("den") > lit(0),
          round(nD * (nD + lit(2.0)) * col("qsum"), 6)).as("lb_q"))
  }


  // ---------- spectral / randomness / drawdown battery (r16) ----------

  /** The dense, zero-filled min..max calendar of a per-day aggregate,
    * shared by the daily-series statistics here ([[transferEntropyDaily]]
    * alone builds its own). `daily` holds a DATE `day`, the `keys`
    * (e.g. event_type) and any measures; the calendar is crossed with
    * the broadcast distinct keys, `daily` left-joined back and every
    * measure coalesced to 0, so all-zero days stay in every series (an
    * observed-day axis would drop them) and a key absent from `daily`
    * has no rows. Adds the day index `t` (days since the first day).
    * Output: day, t, keys…, measures…. Pure — no job, no checkpoint:
    * the caller's aggregate is the one corpus-sized stage. */
  private def dailyGrid(daily: DataFrame, keys: String*): DataFrame = {
    val measures = daily.schema.fields
      .filterNot(f => f.name == "day" || keys.contains(f.name))
    val days = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"), col("d0"))
    val cal = if (keys.isEmpty) days
      else days.crossJoin(broadcast(daily.select(keys.map(col): _*).distinct()))
    cal.join(daily, keys :+ "day", "left")
      .select(Seq(col("day"), datediff(col("day"), col("d0")).as("t")) ++
        keys.map(col) ++ measures.map(f =>
          coalesce(col(f.name), lit(0).cast(f.dataType)).as(f.name)): _*)
  }

  // ---------- shared builders: one per SparkEntry oracle fragment ----------

  /** [[dailyGrid]] over the per-day event count `cnt` (the oracle's
    * `dailySeriesCtes`): day, t, cnt. */
  private def dailyCountGrid(events: DataFrame): DataFrame =
    dailyGrid(events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")))

  /** [[dailyGrid]] over the per-(type, day) event count `cnt` (the
    * oracle's `typeDailyCtes`): day, t, event_type, cnt. */
  private def typeDailyGrid(events: DataFrame): DataFrame =
    dailyGrid(events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt")), "event_type")

  /** The events beside the first and last epoch microsecond `lo`/`hi`
    * of their time range (one broadcast row): the midpoint split of
    * the two-halves tests (the oracle's `halvesCtes`) puts an event in
    * [[inFirstHalf]] up to `(lo + hi) div 2` and in [[inSecondHalf]]
    * after it. */
  private def withTimeRange(events: DataFrame): DataFrame =
    events.crossJoin(broadcast(events.agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))))

  private def inFirstHalf: Column =
    unix_micros(col("ts")) <= expr("(lo + hi) div 2")

  private def inSecondHalf: Column =
    unix_micros(col("ts")) > expr("(lo + hi) div 2")

  /** The `keys` of every event with its `half`, 1 or 2 (the oracle's
    * `halvesCtes`). On a one-instant table (`lo` = `hi`) every event
    * is in half 1 and half 2 is empty. */
  private def halves(events: DataFrame, keys: Column*): DataFrame =
    withTimeRange(events)
      .select(keys :+ when(inFirstHalf, 1).otherwise(2).as("half"): _*)

  /** [[halves]] per whole-unit value `bin`, with each half's event
    * count `c1`/`c2` (the oracle's `binHalvesCtes`). */
  private def binHalves(events: DataFrame): DataFrame =
    halves(events, floor(col("value")).cast("long").as("bin"))
      .groupBy("bin")
      .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("half") === 2, 1L).otherwise(0L)).as("c2"))

  /** [[binHalves]] with each half's running count up to and including
    * the bin, `cum1`/`cum2` (the two ECDFs of the drift tests), and
    * the one-row half sizes (n1, n2). */
  private def binHalvesEcdf(events: DataFrame): (DataFrame, DataFrame) = {
    val counts = binHalves(events)
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (counts.withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w)),
      counts.agg(sum("c1").as("n1"), sum("c2").as("n2")))
  }

  /** The user-tenure risk table (the oracle's `tenureCtes` and
    * `atRiskCtes`): per tenure `t`, the days from a user's first to
    * last event day, the users `ending` there, the churns `d` among
    * them (last event before the data's last day), the user count
    * `n_users` and the number `n` still at risk. */
  private def tenureRisk(events: DataFrame): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("f"), to_date(max(col("ts"))).as("l"))
    val maxDay = events.agg(to_date(max(col("ts"))).as("max_day"))
    val dur = users.crossJoin(broadcast(maxDay))
      .select((datediff(col("l"), col("f")) + 1).cast("long").as("t"),
        when(col("l") < col("max_day"), 1L).otherwise(0L).as("observed"))
    val byT = dur.groupBy("t")
      .agg(count(lit(1)).as("ending"), sum("observed").as("d"))
    val total = dur.agg(count(lit(1)).as("n_users"))
    val wPrior = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.crossJoin(broadcast(total))
      .withColumn("n",
        col("n_users") - sum(col("ending")).over(wPrior) + col("ending"))
  }

  /** The two-arm form of [[tenureRisk]] (the oracle's `armTenureCtes`;
    * arm = `user_id % 2`, arm 1 treated): the risk table with the arm-1
    * `ending1`, `d1`, user count `n_users1` and at-risk `n1` beside the
    * pooled columns, and the one-row user counts (n_users, n_users1). */
  private def armTenureRisk(events: DataFrame): (DataFrame, DataFrame) = {
    val users = events.groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("f"), to_date(max(col("ts"))).as("l"))
    val maxDay = events.agg(to_date(max(col("ts"))).as("max_day"))
    val dur = users.crossJoin(broadcast(maxDay))
      .select((datediff(col("l"), col("f")) + 1).cast("long").as("t"),
        when(col("l") < col("max_day"), 1L).otherwise(0L).as("observed"),
        (col("user_id") % lit(2L)).as("arm"))
    val byT = dur.groupBy("t").agg(
      count(lit(1)).as("ending"), sum(col("observed")).as("d"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("ending1"),
      sum(when(col("arm") === 1L, col("observed")).otherwise(0L)).as("d1"))
    val totals = dur.agg(count(lit(1)).as("n_users"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_users1"))
    val w = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val risk = byT.crossJoin(broadcast(totals))
      .withColumn("n",
        col("n_users") - sum(col("ending")).over(w) + col("ending"))
      .withColumn("n1",
        col("n_users1") - sum(col("ending1")).over(w) + col("ending1"))
    (risk, totals)
  }

  /** The value grid of every event-type pair (`ta` < `tb`), shared by
    * [[mannWhitneyTypePairs]] and [[cliffsDeltaTypePairs]]: per 2dp
    * value `v`, each type's count `ca`/`cb` and the counts strictly
    * below `v`, `cum_a`/`cum_b`. */
  private def typePairValueGrid(events: DataFrame): DataFrame = {
    val cnts = events.groupBy(col("value").as("v"),
      col("event_type").as("t")).agg(count(lit(1)).as("c"))
    val types = cnts.select("t").distinct()
    val pairs = types.as("x").join(types.as("y"),
        col("x.t") < col("y.t"))
      .select(col("x.t").as("ta"), col("y.t").as("tb"))
    val combined = cnts.join(broadcast(pairs),
        col("t") === col("ta") || col("t") === col("tb"))
      .groupBy("ta", "tb", "v")
      .agg(sum(when(col("t") === col("ta"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("t") === col("tb"), col("c")).otherwise(0L)).as("cb"))
    val w = Window.partitionBy("ta", "tb").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    combined
      .withColumn("cum_a", coalesce(sum(col("ca")).over(w), lit(0L)))
      .withColumn("cum_b", coalesce(sum(col("cb")).over(w), lit(0L)))
  }

  /** [[mannWhitneyTypePairs]]' pairs with a z and their two-sided
    * normal p (the oracle's `mwPValueCtes`), each with its rank `rk`
    * in the (p, type_a, type_b) order and the pair count `m`: the
    * frame the BH, BY and Holm corrections adjust. Tiny, but its
    * lineage is the whole Mann–Whitney pipeline, so the p-values and
    * the ranks are each materialized once (the RankOps convention)
    * for the self-joins that read them twice. */
  private def mwRankedPValues(events: DataFrame): DataFrame = {
    val mw = mannWhitneyTypePairs(events)
      .filter(col("z").isNotNull)
      .select(col("type_a"), col("type_b"), col("z"))
    // two-sided p through the native A&S 26.2.17 tail expression
    // (graft.functions.NormalTail — codegen'd, chain-pinned to the
    // oracle's parenthesization)
    //
    // RESIDUAL LIBM ASSUMPTION (ADVICE r14, documented not hidden):
    // unlike sprtDailyAb, which pins its ln values as JVM double
    // literals, the tail here re-evaluates exp(−z²/2) on BOTH rails —
    // JVM Math.exp vs DuckDB's C exp. Everything downstream of the
    // 6dp round is pinned double arithmetic on identical inputs, so
    // the ONLY divergence point is a ≤1-ulp libm difference in exp
    // landing EXACTLY on a 6dp rounding boundary (probability ~1e-10
    // per pair; re-pinning to micro-units cannot remove it because
    // the risk sits at the first rint itself, and pinning z as
    // literals is impossible for data-dependent values). If the gate
    // ever red-rows here with |got−exp| = 1e-6 on p/p_bh, this is why.
    val withP = mw.select(col("type_a"), col("type_b"), col("z"),
      round(lit(2.0) *
        graft.functions.NormalTail.normalTail(abs(col("z"))), 6).as("p"))
      .localCheckpoint()
    val m = withP.agg(count(lit(1)).as("m"))
    // rank i = 1 + |pairs strictly before me in the (p, ta, tb) order|
    val before = (col("a.p") < col("b.p")) ||
      (col("a.p") === col("b.p") && (col("a.type_a") < col("b.type_a") ||
        (col("a.type_a") === col("b.type_a") &&
          col("a.type_b") < col("b.type_b"))))
    withP.as("b").join(broadcast(withP.as("a")), before, "left")
      .groupBy(col("b.type_a").as("type_a"), col("b.type_b").as("type_b"),
        col("b.z").as("z"), col("b.p").as("p"))
      .agg((count(col("a.p")) + lit(1L)).as("rk"))
      .crossJoin(broadcast(m))
      .localCheckpoint()
  }

  /** Yuen's trimmed-mean t-test between the A/B arms (Yuen '74) —
    * the robust-location member completing the A/B family
    * ([[welchTtestAb]] is moment-fragile, Mann–Whitney is
    * rank-only, [[ansariBradleyAb]] tests scale): 20% of each tail
    * is trimmed from each arm, means compare on the interior,
    * variances are the WINSORIZED ones (tails clamped to the cut
    * order statistics), t = (x̄ₜ₁ − x̄ₜ₂)/√(d₁ + d₂) with
    * dᵢ = (nᵢ·SSwᵢ − Swᵢ²)/(nᵢ·hᵢ(hᵢ−1)), hᵢ = nᵢ − 2gᵢ.
    *
    * Determinism: per-arm cents grids give exact order statistics by
    * prefix counting (lo = the (g+1)-th, hi = the (n−g)-th); trimmed
    * and winsorized sums are exact integer lanes (per-value rank-range
    * clipping is pure integer arithmetic), every statistic a pinned
    * chain with single divisions. h < 2 or zero winsorized variance →
    * NULL t, stated. Shape: one corpus collapse to the (arm, cents)
    * grid, one arm-partitioned prefix window over it (collapsed,
    * 2-value domain — the sweep-sanctioned shape), one 2-row pivot. */
  def yuenTrimmedTtestAb(events: DataFrame, trim: Double = 0.2)
      : DataFrame = {
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    val grid = events
      .select((col("user_id") % lit(2L)).as("arm"), cents.as("cv"))
      .groupBy("arm", "cv").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("arm").orderBy(col("cv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.groupBy("arm").agg(sum("c").as("n"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = grid
      .withColumn("cum", sum(col("c")).over(w))
      .join(tot, "arm")
      .withColumn("gg", floor(col("n").cast("double") * lit(trim))
        .cast("long"))
      .withColumn("h", col("n") - lit(2L) * col("gg"))
    // interior-rank mass per value: ranks (B, cum] clipped to (g, n−g]
    val bLo = col("cum") - col("c") // strictly-before count B
    val take = greatest(least(col("cum"), col("n") - col("gg")) -
      greatest(bLo, col("gg")), lit(0L))
    val isLo = bLo < col("gg") + lit(1L) &&
      col("cum") >= col("gg") + lit(1L) // value holds the (g+1)-th
    val isHi = bLo < col("n") - col("gg") &&
      col("cum") >= col("n") - col("gg") // value holds the (n−g)-th
    val per = g.groupBy("arm", "n", "gg", "h")
      .agg(sum(dec(col("cv")) * take).as("tsum"),
        sum(dec(col("cv")) * col("cv") * take).as("tss"),
        max(when(isLo, col("cv"))).as("lo"),
        max(when(isHi, col("cv"))).as("hi"))
      .select(col("arm"), col("n"), col("gg"), col("h"),
        col("tsum"), col("tss"), col("lo"), col("hi"),
        (col("tsum") + dec(col("gg")) * col("lo") +
          dec(col("gg")) * col("hi")).as("sw"),
        (col("tss") + dec(col("gg")) * col("lo") * col("lo") +
          dec(col("gg")) * col("hi") * col("hi")).as("ssw"))
    val dTerm = (dec(col("n")) * col("ssw") - col("sw") * col("sw"))
      .cast("double") /
      (dec(col("n")) * col("h") * (col("h") - lit(1L))).cast("double") /
      lit(10000.0) // cents² → unit²
    val mt = col("tsum").cast("double") /
      (col("h").cast("double") * lit(100.0))
    val rows = per.select(col("arm"), col("n"), col("h"),
        when(col("h") >= 2L, mt).as("mt"),
        when(col("h") >= 2L, dTerm).as("d"))
    val a = rows.filter(col("arm") === 0L)
      .select(col("n").as("n_a"), col("h").as("h_a"),
        col("mt").as("mt_a"), col("d").as("d_a"))
    val b = rows.filter(col("arm") === 1L)
      .select(col("n").as("n_b"), col("h").as("h_b"),
        col("mt").as("mt_b"), col("d").as("d_b"))
    a.crossJoin(b).select(
      col("n_a"), col("n_b"), col("h_a"), col("h_b"),
      round(col("mt_a"), 6).as("trimmed_mean_a"),
      round(col("mt_b"), 6).as("trimmed_mean_b"),
      when(col("d_a") + col("d_b") > lit(0.0),
        round((col("mt_a") - col("mt_b")) /
          sqrt(col("d_a") + col("d_b")), 4)).as("t_stat"))
  }

  /** Ansari–Bradley scale test between the A/B arms (user_id parity,
    * the welchTtestAb split): rank the pooled per-event values from
    * BOTH ends — score(r) = min(r, N+1−r) — and compare sample A's
    * score sum against its null expectation. Equal medians but a
    * wider A → A holds more extreme ranks → LOW score sum; this is
    * the variance-drift test the location tests (Welch/Mann–Whitney)
    * are blind to. Ties take the block-average score (midranks).
    *
    * Exactness: on the cents grid, each tied block's score sum S_j
    * has a closed form (triangular numbers split at the fold point
    * ⌊(N+1)/2⌋ — exact DECIMAL lanes); per-block contributions
    * c₁ⱼ·Sⱼ/lⱼ and Sⱼ²/lⱼ micro-pin BEFORE the grid sums; the linear
    * rank statistic moments E[W] = n₁·ΣS/N and
    * Var[W] = n₁n₂(N·ΣS² − (ΣS)²)/(N²(N−1)) (the general
    * conditional-on-ties form) are pinned chains. Zero variance
    * (constant corpus) → NULL z, stated.
    *
    * Shape: one corpus collapse to the cents grid, one prefix window
    * over it, one 1-row reduce. */
  def ansariBradleyAb(events: DataFrame): DataFrame = {
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    val grid = events
      .select(cents.as("cv"), (col("user_id") % lit(2L)).as("arm"))
      .groupBy("cv")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("c2"))
    val wPrev = Window.orderBy(col("cv").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = grid.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = grid
      .withColumn("bb",
        coalesce(sum(col("c1") + col("c2")).over(wPrev), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("l", col("c1") + col("c2"))
    // block ranks a..b; fold point h = ⌊(N+1)/2⌋; DOUBLED block score
    // sum S2 = 2·Σ min(r, N+1−r) = Σ [2r | 2(N+1−r)] keeps every lane
    // integral with NO division: T2(x) = x(x+1) = 2·triangular
    val a = col("bb") + lit(1L)
    val b = col("bb") + col("l")
    val h = ((col("nn") + lit(1L)) / lit(2L)).cast("long")
    def tri2(x: Column) = dec(x) * (x + lit(1L))
    val upTo = least(b, h)
    val low2 = when(a <= upTo, tri2(upTo) - tri2(a - lit(1L)))
      .otherwise(lit(0).cast("decimal(38,0)"))
    val m = greatest(a, h + lit(1L))
    val high2 = when(b > h,
      dec(col("nn") + lit(1L)) * lit(2) * (b - m + lit(1L)) -
        (tri2(b) - tri2(m - lit(1L))))
      .otherwise(lit(0).cast("decimal(38,0)"))
    val s2j = (low2 + high2).as("s2j")
    // per-block midrank contributions: c1·S2/l in micro units, S2²/l
    // integer-rounded (its magnitude makes micro units overflow; the
    // unit-scale rounding error is 1e-10 relative to the variance)
    val terms = g.select(col("n1"), col("n2"), col("nn"), col("l"),
        col("c1"), s2j)
      .select(col("n1"), col("n2"), col("nn"), col("s2j"),
        round(col("c1").cast("double") * col("s2j").cast("double") /
          col("l").cast("double") * lit(1000000.0), 0).cast("long")
          .as("wm"),
        round(col("s2j").cast("double") * col("s2j").cast("double") /
          col("l").cast("double"), 0).cast("decimal(38,0)").as("s2m"))
    val s = terms.groupBy("n1", "n2", "nn")
      .agg(sum("s2j").as("ssum2"),
        sum(col("wm").cast("decimal(38,0)")).as("w2m"),
        sum(col("s2m")).as("ss22"))
    val nD = col("nn").cast("double")
    val w2 = col("w2m").cast("double") / lit(1000000.0)
    val eW2 = (dec(col("n1")) * col("ssum2")).cast("double") / nD
    val varW2 = col("n1").cast("double") * col("n2").cast("double") *
      (dec(col("nn")) * col("ss22") -
        dec(col("ssum2")) * col("ssum2")).cast("double") /
      (nD * nD * (nD - lit(1.0)))
    s.select(col("n1").as("n_a"), col("n2").as("n_b"),
      round(w2 / lit(2.0), 6).as("ab_score_a"),
      round(eW2 / lit(2.0), 6).as("expected_score_a"),
      when(varW2 > lit(0.0), round((w2 - eW2) / sqrt(varW2), 4))
        .as("z_score"))
  }

  /** Hodges–Lehmann shift estimate between the time halves: the
    * median of ALL cross-half value differences — the robust "how
    * much did the distribution move" companion to the drift battery's
    * detect-only statistics (KS/AD say IF; this says BY HOW MUCH,
    * with a 0.29 breakdown point instead of the mean-difference's 0).
    *
    * Exactness: both halves collapse to the drift battery's integer
    * bin grid (⌊value⌋ — the KS/AD/CvM/Kuiper granularity, stated: the
    * estimate is unit-resolution; a finer grid squares the cross
    * below, and the exact-cents refinement is a ~21-round binary
    * search over the counting function, not worth the rounds here);
    * the difference multiset is the grid×grid cross with weight
    * c₁·c₂, and the estimate is the weighted LOWER median (smallest
    * difference whose cumulative weight reaches half of n₁·n₂,
    * stated) — all integer comparisons, no division at all.
    *
    * Shape: the cross is |grid|² (value-DOMAIN-bounded, NEVER
    * corpus²), one hash re-collapse on the difference, one prefix
    * window over it. */
  def hodgesLehmannShift(events: DataFrame): DataFrame = {
    val half = halves(events, floor(col("value")).cast("long").as("cv"))
    val g1 = half.filter(col("half") === 1)
      .groupBy(col("cv").as("v1")).agg(count(lit(1)).as("c1"))
    val g2 = half.filter(col("half") === 2)
      .groupBy(col("cv").as("v2")).agg(count(lit(1)).as("c2"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val diffs = g1.crossJoin(g2)
      .groupBy((col("v2") - col("v1")).as("d"))
      .agg(sum(dec(col("c1")) * col("c2")).as("w"))
    val tot = diffs.agg(sum("w").as("wt"))
    val wCum = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    diffs
      .withColumn("cum", sum(col("w")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * lit(2) >= col("wt"))
      .agg(min(col("d")).as("dmed"), max(col("wt")).as("wt"))
      .select((col("wt")).cast("double").as("n_pairs"),
        col("dmed").cast("double").as("hl_shift"))
  }

  /** Page's trend test for ordered alternatives across the weekday
    * positions (Page '63): L = Σ_j j·R_j over the within-week ISO-dow
    * ranks — [[friedmanDowTest]] asks "do weekdays differ AT ALL";
    * Page asks the sharper ordered question "does activity trend
    * monotonically across the week". Complete weeks only, midranks
    * for ties (the Friedman machinery verbatim), z against the
    * no-ties null moments E[L] = b·k(k+1)²/4,
    * Var[L] = b·k²(k+1)(k²−1)/144 (stated approximation under ties —
    * the standard practice).
    *
    * Exactness: doubled ranks keep every sum a BIGINT; L doubles with
    * them and the z clears the factor — (L₂ − 2E)/(2σ) computed as
    * one pinned chain. Fewer than 1 complete week → NULL z. */
  def pageTrendDow(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events)
      .select(
        (datediff(col("day"), lit("1970-01-01").cast("date")).cast("long") +
          lit(3L)).as("dd3"),
        col("cnt").as("y"))
      .select((col("dd3") % lit(7L) + lit(1L)).as("isodow"),
        expr("dd3 div 7").as("wk"), col("y"))
    val complete = grid.groupBy("wk").agg(count(lit(1)).as("nd"))
      .filter(col("nd") === lit(7L)).select("wk")
    val wgrid = grid.join(broadcast(complete), Seq("wk"))
      .localCheckpoint() // both sides of the rank self-join
    val r2 = wgrid.as("a").join(wgrid.as("b"), col("a.wk") === col("b.wk"))
      .groupBy(col("a.wk").as("wk"), col("a.isodow").as("isodow"))
      .agg((lit(2L) * sum(when(col("b.y") < col("a.y"), 1L).otherwise(0L)) +
        sum(when(col("b.y") === col("a.y"), 1L).otherwise(0L)) + lit(1L))
        .as("r2"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val s = r2.groupBy("isodow").agg(sum("r2").as("rs2"),
        count(lit(1)).as("b"))
      .agg(max("b").as("b"),
        sum(dec(col("isodow")) * col("rs2")).as("l2"))
    // k = 7: E[L] = b·7·64/4 = 112b, Var[L] = b·49·8·48/144 = 130.666…b
    val bD = col("b").cast("double")
    val z = (col("l2").cast("double") - lit(2.0) * lit(112.0) * bD) /
      (lit(2.0) * sqrt(lit(49.0 * 8.0 * 48.0 / 144.0) * bD))
    s.select(col("b").as("n_weeks"),
      round(col("l2").cast("double") / lit(2.0), 1).as("page_l"),
      when(col("b") > 0L, round(z, 4)).as("z_score"))
  }

  /** Two-sample Anderson–Darling drift of the binned `value`
    * distribution between the time halves — the tail-sensitive member
    * of the drift battery (KS weighs the middle, CvM the body, Kuiper
    * both directions; AD's 1/(F(1−F)) weight makes it the test that
    * catches a tail shift first). The Scholz–Stephens (1987) midrank
    * (ties-adjusted) A²ₐₖN specialized to k = 2, computed on the
    * integer bin grid.
    *
    * Exactness: doubled midrank counts clear every half out of the
    * formula — with M2ᵢⱼ = 2·(strictly-below count) + lⱼ-in-sample-i
    * and B2ⱼ = 2·(pooled strictly below) + lⱼ, each inner term is
    * lⱼ·(N·M2ᵢⱼ − nᵢ·B2ⱼ)² / (N·(B2ⱼ·(2N − B2ⱼ) − N·lⱼ)) — all
    * DECIMAL(38,0)-exact integer lanes, ONE pinned division per term,
    * micro-pinned before the grid sum; per-sample sums re-pin before
    * the final (N−1)/N chain. Degenerate bins (denominator 0 — the
    * whole pool on one value) contribute 0, stated. Under H₀,
    * E[A²] = k−1 = 1; the Scholz–Stephens NORMALIZED T needs σ_N,
    * whose exact form needs corpus-length harmonic prefix sums —
    * deliberately not computed (stated); gross drift reads off the
    * raw statistic against its unit mean.
    *
    * Shape: the corpus collapses to the value-bin grid; prefix
    * windows and the term algebra run on that bounded frame. */
  def valueAdDrift(events: DataFrame): DataFrame = {
    val counts = binHalves(events)
    val totals = counts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val wPrev = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val g = counts
      .withColumn("lt1", coalesce(sum(col("c1")).over(wPrev), lit(0L)))
      .withColumn("lt2", coalesce(sum(col("c2")).over(wPrev), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("lj", col("c1") + col("c2"))
      .withColumn("b2", lit(2L) * (col("lt1") + col("lt2")) + col("lj"))
    def term(cc: Column, lt: Column, ni: Column) = {
      val m2 = lit(2L) * lt + cc
      val num = dec(col("lj")) *
        (dec(col("nn")) * m2 - dec(ni) * col("b2")) *
        (dec(col("nn")) * m2 - dec(ni) * col("b2"))
      val den = dec(col("nn")) *
        (dec(col("b2")) * (lit(2L) * col("nn") - col("b2")) -
          dec(col("nn")) * col("lj"))
      when(den > lit(0),
        round(num.cast("double") / den.cast("double") *
          lit(1000000.0), 0).cast("long")).otherwise(lit(0L))
    }
    val s = g.select(col("n1"), col("n2"), col("nn"),
        term(col("c1"), col("lt1"), col("n1")).as("t1"),
        term(col("c2"), col("lt2"), col("n2")).as("t2"))
      .groupBy("n1", "n2", "nn")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("t1").cast("decimal(38,0)")).as("s1"),
        sum(col("t2").cast("decimal(38,0)")).as("s2"))
    val per1 = round(col("s1").cast("double") /
      col("n1").cast("double"), 0).cast("long")
    val per2 = round(col("s2").cast("double") /
      col("n2").cast("double"), 0).cast("long")
    val nD = col("nn").cast("double")
    s.select(col("n1").as("n_first"), col("n2").as("n_second"),
      col("n_bins"),
      when(col("n1") > 0L && col("n2") > 0L,
        round((nD - lit(1.0)) * (per1 + per2).cast("double") / nD /
          lit(1000000.0), 6)).as("a2_akn"))
  }

  /** Mood's median test of `value` across event types — the
    * assumption-free k-sample location screen (is ANY type's value
    * distribution shifted relative to the pooled median?) beside
    * [[kruskalWallisDaily]]'s rank form and [[anovaValueByType]]'s
    * parametric one; robust to arbitrary tail weirdness because it
    * only reads each observation's side of the pooled median.
    *
    * Exactness: the pooled LOWER median (smallest cents value whose
    * cumulative count reaches ⌈N/2⌉, stated; ties at the median
    * count as "not above") comes off the exact cents grid by prefix
    * sums; with A = total above-count, each type's χ² contribution
    * collapses to (aᵢ·N − nᵢ·A)²/(nᵢ·A·(N−A)) — exact DECIMAL lanes,
    * one pinned division per type, micro-pinned before the k-term
    * sum. A = 0 or A = N (constant corpus) → NULL χ², stated.
    * df = k − 1. Shape: two corpus collapses (cents grid + per-type
    * split counts); everything else is grid/k-bounded. */
  def moodsMedianByType(events: DataFrame): DataFrame = {
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    val grid = events.select(cents.as("cv"))
      .groupBy("cv").agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("cv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum("n").as("nt"))
    val med = grid
      .withColumn("cum", sum(col("n")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * lit(2L) >= col("nt"))
      .agg(min("cv").as("med"))
    val perType = events.select(col("event_type"), cents.as("cv"))
      .crossJoin(broadcast(med))
      .groupBy("event_type")
      .agg(count(lit(1)).as("ni"),
        sum(when(col("cv") > col("med"), 1L).otherwise(0L)).as("ai"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val withTot = perType
      .crossJoin(broadcast(perType.agg(sum("ni").as("nn"),
        sum("ai").as("aa"))))
    val num = dec(col("ai")) * col("nn") - dec(col("ni")) * col("aa")
    val den = dec(col("ni")) * col("aa") * (col("nn") - col("aa"))
    val tm = when(den > lit(0),
      round(num.cast("double") * num.cast("double") /
        den.cast("double") * lit(1000000.0), 0).cast("long"))
    withTot
      .select(col("nn"), col("aa"), tm.as("tm"))
      .groupBy("nn", "aa")
      .agg(count(lit(1)).as("n_types"), sum("tm").as("sm"))
      .crossJoin(broadcast(med))
      .select(col("nn").as("n_total"),
        round(col("med").cast("double") / lit(100.0), 2)
          .as("pooled_median"),
        col("aa").as("n_above"), col("n_types"),
        (col("n_types") - lit(1L)).as("dof"),
        when(col("aa") > 0L && col("aa") < col("nn"),
          round(col("sm").cast("double") / lit(1000000.0), 4))
          .as("chi2"))
  }

  /** Negative-binomial method-of-moments fit of each type's daily
    * count series — the overdispersion model [[fanoFactorByType]]'s
    * VMR only diagnoses: r = μ²/(σ²−μ), p = μ/σ² off the zero-filled
    * calendar grid. A type with finite r is burst-driven (NB mixes
    * Poisson rates); σ² ≤ μ (no overdispersion — the Poisson limit)
    * → NULL r, stated.
    *
    * Exactness: Sx/Sxx are exact BIGINTs on the calendar grid; the
    * MoM estimators clear to single pinned divisions of
    * DECIMAL(38,0) lanes — r = Sx²(n−1)/(n·(n·Sxx − Sx² − (n−1)Sx)),
    * p = Sx(n−1)/(n·Sxx − Sx²) — plus one each for mean/variance/
    * dispersion. Shape: one corpus collapse to (type, day), the
    * dense-calendar fill, one k-row aggregate. */
  def negbinFitByType(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events)
      .select(col("event_type"), col("cnt").as("x"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val m = grid.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(dec(col("x")) * col("x")).as("sxx"))
    val varNum = dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")
    val overD = varNum - dec(col("n") - 1L) * col("sx")
    m.filter(col("n") >= 2L)
      .select(col("event_type"), col("n").as("n_days"),
        round(col("sx").cast("double") / col("n").cast("double"), 6)
          .as("mean_daily"),
        round(varNum.cast("double") /
          (dec(col("n")) * (col("n") - lit(1L))).cast("double"), 6)
          .as("var_daily"),
        when(col("sx") > 0L,
          round(varNum.cast("double") /
            (dec(col("sx")) * (col("n") - lit(1L))).cast("double"), 6))
          .as("dispersion_index"),
        when(overD > lit(0),
          round((dec(col("sx")) * col("sx") * (col("n") - lit(1L)))
            .cast("double") /
            (dec(col("n")) * overD).cast("double"), 6)).as("nb_r"),
        when(varNum > lit(0),
          round((dec(col("sx")) * (col("n") - lit(1L))).cast("double") /
            varNum.cast("double"), 6)).as("nb_p"))
  }

  /** Distance correlation between daily volume and daily distinct
    * users (Székely, Rizzo & Bakirov '07): dCor = 0 iff INDEPENDENT —
    * unlike Pearson (emitted beside it for the contrast readout),
    * which misses every nonlinear coupling. On the zero-filled
    * calendar the double-centered distance matrices clear to exact
    * integers: with aᵢⱼ = |xᵢ−xⱼ| and row/total sums r, T, the
    * n²-scaled Ãᵢⱼ = n²aᵢⱼ − n·rᵢ − n·rⱼ + T is an exact lane, and
    * dCor² = ΣÃB̃ / √(ΣÃ²·ΣB̃²) — the scale factors cancel, leaving
    * exact DECIMAL(38,0) sums under ONE pinned chain.
    *
    * Shape: the |calendar|² pair frame (bounded by the day span,
    * never corpus²), two row-sum collapses, one 1-row reduce. */
  def distanceCorrelationDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"), countDistinct(col("user_id")).as("y"))
    val grid = dailyGrid(daily).select("day", "x", "y")
      .localCheckpoint() // both sides of the pair join + row sums
    val pairsAb = grid.as("i").crossJoin(grid.as("j")) // calendar²-bounded
      .select(col("i.day").as("di"), col("j.day").as("dj"),
        abs(col("i.x") - col("j.x")).as("a"),
        abs(col("i.y") - col("j.y")).as("b"))
      .localCheckpoint() // row sums + the centered products read it
    val rows = pairsAb.groupBy("di")
      .agg(sum("a").as("ra"), sum("b").as("rb"))
    val tot = pairsAb.agg(sum("a").as("ta"), sum("b").as("tb"),
      countDistinct(col("di")).as("n"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cent = pairsAb
      .join(rows.select(col("di"), col("ra").as("rai"),
        col("rb").as("rbi")), "di")
      .join(rows.select(col("di").as("dj"), col("ra").as("raj"),
        col("rb").as("rbj")), "dj")
      .crossJoin(broadcast(tot))
      .select(
        (dec(col("n")) * col("n") * col("a") - dec(col("n")) * col("rai") -
          dec(col("n")) * col("raj") + dec(col("ta"))).as("ac"),
        (dec(col("n")) * col("n") * col("b") - dec(col("n")) * col("rbi") -
          dec(col("n")) * col("rbj") + dec(col("tb"))).as("bc"),
        col("n"))
    val s = cent.groupBy("n")
      .agg(sum(col("ac") * col("bc")).as("sab"),
        sum(col("ac") * col("ac")).as("saa"),
        sum(col("bc") * col("bc")).as("sbb"))
    val dcor2 = col("sab").cast("double") /
      sqrt(col("saa").cast("double") * col("sbb").cast("double"))
    s.select(col("n").as("n_days"),
      when(col("saa") > lit(0) && col("sbb") > lit(0) &&
        col("sab") >= lit(0), round(sqrt(dcor2), 6)).as("dcor"),
      when(col("saa") > lit(0) && col("sbb") > lit(0),
        round(dcor2, 6)).as("dcor_sq"))
  }

  /** Partial correlations between the daily count series of every
    * event-type pair, CONTROLLING for total daily volume — the
    * confound killer for [[typeCountCorrelations]]' raw Pearson
    * matrix (on a shared-traffic platform every pair correlates
    * through the common tide; the partial asks what remains once the
    * tide is removed): r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    *
    * Determinism: all six moment sums per series are exact BIGINTs on
    * the zero-filled calendar; each Pearson r is the usual exact-lane
    * chain, and the partial formula is pure +/−/×/÷/√ on those
    * identical doubles, 6dp once. Degenerate controls (|r_xz| = 1) →
    * NULL, stated. */
  def partialCorrTypePairs(events: DataFrame): DataFrame = {
    val grid = typeDailyGrid(events).select("event_type", "day", "cnt")
      .localCheckpoint() // pair matrix + the control joins read it
    val zs = grid.groupBy("day").agg(sum("cnt").as("z"))
    val gz = grid.join(zs, "day")
    // guarded: a zero-variance series must yield NULL, not an ANSI
    // DIVIDE_BY_ZERO (Spark 4 throws even for DOUBLE — the verify
    // skill's documented trap; the guard must be the when CONDITION)
    def pearson(n: Column, sx: Column, sy: Column, sxy: Column,
        sxx: Column, syy: Column): Column = {
      val num = (n * sxy - sx * sy).cast("double")
      val dx = (n * sxx - sx * sx).cast("double")
      val dy = (n * syy - sy * sy).cast("double")
      when(dx > lit(0.0) && dy > lit(0.0), num / sqrt(dx * dy))
    }
    val rz = gz.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cnt").as("sx"), sum("z").as("sy"),
        sum(col("cnt") * col("z")).as("sxy"),
        sum(col("cnt") * col("cnt")).as("sxx"),
        sum(col("z") * col("z")).as("syy"))
      .select(col("event_type"),
        pearson(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
          col("syy")).as("rz"))
    val m = grid.as("a")
      .join(grid.as("b"),
        col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.cnt")).as("sx"), sum(col("b.cnt")).as("sy"),
        sum(col("a.cnt") * col("b.cnt")).as("sxy"),
        sum(col("a.cnt") * col("a.cnt")).as("sxx"),
        sum(col("b.cnt") * col("b.cnt")).as("syy"))
    val rxy = pearson(col("n"), col("sx"), col("sy"), col("sxy"),
      col("sxx"), col("syy"))
    val num = rxy - col("rxz") * col("ryz")
    val den = sqrt((lit(1.0) - col("rxz") * col("rxz")) *
      (lit(1.0) - col("ryz") * col("ryz")))
    m.join(broadcast(rz.select(col("event_type").as("type_a"),
        col("rz").as("rxz"))), "type_a")
      .join(broadcast(rz.select(col("event_type").as("type_b"),
        col("rz").as("ryz"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n").as("n_days"),
        round(rxy, 6).as("pearson_r"),
        when(den > lit(0.0), round(num / den, 6)).as("partial_r"))
  }

  /** Seasonal Mann–Kendall trend test (Hirsch & Slack '84): the MK
    * S statistic computed WITHIN each ISO-weekday's subseries and
    * summed — weekly seasonality contributes zero to every S_d (a
    * Monday is only ever compared to other Mondays), so the combined
    * z reads the underlying trend the flat [[mannKendallDaily]]
    * smears with day-of-week noise. Variance is the sum of per-season
    * tie-corrected variances; the ±1 continuity correction and trend
    * call mirror the flat form.
    *
    * Exactness: all pair signs, tie sums and the 18-scaled variance
    * are exact BIGINT; the only division is the final z. The pair
    * join is |calendar/7|² per season — calendar-bounded, never
    * corpus². */
  def seasonalMannKendall(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events)
      .select(col("day"),
        ((datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long") + lit(3L)) % lit(7L) + lit(1L)).as("dow"),
        col("cnt").as("y"))
      .localCheckpoint() // pair join + per-season ties both read it
    val s = grid.as("a")
      .join(grid.as("b"),
        col("a.dow") === col("b.dow") && col("a.day") < col("b.day"))
      .agg(sum(when(col("b.y") > col("a.y"), 1L)
        .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s"),
        count(lit(1)).as("n_pairs"))
    val perSeason = grid.groupBy("dow", "y").agg(count(lit(1)).as("t"))
      .groupBy("dow")
      .agg(sum(col("t")).as("nd"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("tsum"))
      .agg(sum(col("nd") * (col("nd") - 1L) * (lit(2L) * col("nd") + 5L)
        - col("tsum")).as("var18"),
        sum(col("nd")).as("n_days"), count(lit(1)).as("n_seasons"))
    val j = s.crossJoin(broadcast(perSeason))
    val vs = col("var18").cast("double") / lit(18.0)
    val z = when(col("s") > 0L,
      (col("s") - lit(1L)).cast("double") / sqrt(vs))
      .when(col("s") < 0L, (col("s") + lit(1L)).cast("double") / sqrt(vs))
      .otherwise(lit(0.0))
    j.select(col("n_days"), col("n_seasons"), col("s").as("s_stat"),
      col("var18").as("var_s_x18"),
      when(col("var18") > 0L, round(z, 6)).as("z_score"),
      when(col("var18") > 0L,
        when(z > lit(1.959964), lit("increasing"))
          .when(z < lit(-1.959964), lit("decreasing"))
          .otherwise(lit("none"))).as("trend"))
  }

  /** Peaks-over-threshold GPD fit of `value` (the EVT pair of
    * [[gumbelValueExtremes]]' block-maxima lens): exceedances over
    * the exact P95 cents threshold, generalized-Pareto
    * method-of-moments — ξ = (1 − m²/s²)/2, σ = m(1 + m²/s²)/2
    * (Hosking & Wallis '87) — the tail model that says how bad the
    * NEXT record will be, not just how bad records have been.
    * ξ < 0 = bounded tail, ξ > 0 = heavy.
    *
    * Exactness: the threshold is the exact lower P95 off the cents
    * grid (smallest value whose cumulative count reaches ⌈0.95N⌉,
    * stated; exceedances are STRICTLY above); excess moments are
    * exact integer lanes; m²/s² clears to Σe²·(n−1)/(n·(nΣe²₂ −
    * (Σe)²))… every estimator is a pinned chain with single
    * divisions. 2+ exceedances with zero variance → a row with NULL
    * fit columns; ZERO strict exceedances (the top cents value
    * carries ≥ 5% of mass, so u equals the max) → NO row at all —
    * the exceedance groupBy("u") is empty and both rails emit the
    * empty frame, which is what the hash gate pins. Fixture authors
    * planting a degenerate tail should expect an empty result, not a
    * NULL-fit row. */
  def gpdPotFit(events: DataFrame): DataFrame = {
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    // NOT checkpointed: the two consumers (threshold scan + excess
    // moments) share the grid's exchange via reuse, and the serial
    // prefix window's child must keep its collapse VISIBLE for the
    // PlanAuditSpec sweep (a checkpoint hides the HashAggregate)
    val grid = events.select(cents.as("cv"))
      .groupBy("cv").agg(count(lit(1)).as("n"))
    val tot = grid.agg(sum("n").as("nt"))
    val wCum = Window.orderBy(col("cv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = grid
      .withColumn("cum", sum(col("n")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * lit(20L) >= col("nt") * lit(19L))
      .agg(min("cv").as("u"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ex = grid.crossJoin(broadcast(thr))
      .filter(col("cv") > col("u"))
      .select(((col("cv") - col("u"))).as("e"), col("n"), col("u"))
      .groupBy("u")
      .agg(sum(col("n")).as("ne"),
        sum(dec(col("e")) * col("n")).as("se"),
        sum(dec(col("e")) * col("e") * col("n")).as("see"))
    val tot2 = events.agg(count(lit(1)).as("n_total"))
    val varNum = dec(col("ne")) * col("see") - col("se") * col("se")
    val m = col("se").cast("double") / col("ne").cast("double") /
      lit(100.0)
    val ratio = (col("se") * col("se") * (col("ne") - lit(1L)))
      .cast("double") / (dec(col("ne")) * varNum).cast("double")
    ex.crossJoin(broadcast(tot2))
      .select(col("n_total"),
        round(col("u").cast("double") / lit(100.0), 2).as("threshold"),
        col("ne").as("n_exceed"),
        when(col("ne") >= 2L, round(m, 6)).as("mean_excess"),
        when(col("ne") >= 2L && varNum > lit(0),
          round((lit(1.0) - ratio) / lit(2.0), 6)).as("gpd_shape"),
        when(col("ne") >= 2L && varNum > lit(0),
          round(m * (lit(1.0) + ratio) / lit(2.0), 6)).as("gpd_scale"))
  }

  /** Circadian entropy profile: each user's hour-of-day activity
    * entropy (nats over the 24-bin histogram), summarized over the
    * population — bots and scripted traffic concentrate in few hours
    * (entropy near 0) while organic users spread (toward ln 24 ≈
    * 3.18); the mean/min/max triple is the cheap fleet-level
    * "how human is this traffic" readout beside [[userTypeEntropy]]'s
    * what-they-do lens.
    *
    * Determinism: per-(user, hour) counts exact; each user's entropy
    * uses the (n·ln n − Σ c·ln c)/n identity with every ln term
    * micro-pinned BEFORE sums, the per-user division re-pinned to a
    * micro BIGINT, population mean ONE further pinned division.
    * Shape: two hash aggs (corpus → user×24 → user), one 1-row
    * reduce. */
  def circadianEntropyStats(events: DataFrame): DataFrame = {
    val nlogn = (c: Column) =>
      round(c.cast("double") * log(c.cast("double")) * lit(1000000.0), 0)
        .cast("long")
    val per = events
      .select(col("user_id"), hour(col("ts")).as("h"))
      .groupBy("user_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n"), sum(nlogn(col("c"))).as("clogc"))
      .select(col("user_id"),
        round((nlogn(col("n")) - col("clogc")).cast("double") /
          col("n").cast("double"), 0).cast("long").as("hm"))
    per.agg(count(lit(1)).as("n_users"), sum(col("hm")).as("hsum"),
        min("hm").as("hmin"), max("hm").as("hmax"))
      .select(col("n_users"),
        round(col("hsum").cast("double") /
          (col("n_users").cast("double") * lit(1000000.0)), 6)
          .as("mean_entropy"),
        round(col("hmin").cast("double") / lit(1000000.0), 6)
          .as("min_entropy"),
        round(col("hmax").cast("double") / lit(1000000.0), 6)
          .as("max_entropy"))
  }

  /** Discrete-Fourier power of the daily volume at fixed candidate
    * periods — the frequency-domain companion of [[acfDailyCounts]]
    * (a lag-7 ACF spike says "weekly-ish"; the periodogram says HOW
    * MUCH of the variance sits at exactly that cycle):
    * P(p) = (C² + S²)/n with C = Σ cnt·cos(2πt/p), S = Σ cnt·sin(·).
    *
    * Determinism: each cos/sin term is micro-pinned to BIGINT BEFORE
    * the sums (fp addition order never matters; one deterministic
    * libm call per term), C²+S² in DECIMAL(38,0), ONE pinned division
    * by n·10¹². The angular factor 2π/p is computed once per period
    * with the same mult-then-divide op order the oracle uses.
    *
    * Shape: the corpus collapses to the calendar grid first; the
    * period fan-out is a broadcast cross of |periods| rows. */
  def periodogramDaily(events: DataFrame,
      periods: Seq[Int] = Seq(7, 14, 30)): DataFrame = {
    val session = events.sparkSession
    import session.implicits._
    val pf = periods.map(p => (p.toLong, 2.0 * math.Pi / p))
      .toDF("period", "w")
    val terms = dailyCountGrid(events).crossJoin(broadcast(pf))
      .select(col("period"),
        round(col("cnt").cast("double") *
          cos(col("t").cast("double") * col("w")) * lit(1000000.0), 0)
          .cast("long").as("cm"),
        round(col("cnt").cast("double") *
          sin(col("t").cast("double") * col("w")) * lit(1000000.0), 0)
          .cast("long").as("sm"))
    terms.groupBy("period")
      .agg(count(lit(1)).as("n_days"),
        sum("cm").as("c"), sum("sm").as("s"))
      .select(col("period"), col("n_days"),
        round((col("c").cast("decimal(38,0)") * col("c") +
          col("s").cast("decimal(38,0)") * col("s")).cast("double") /
          (col("n_days").cast("double") * lit(1.0e12)), 4).as("power"))
  }

  /** Spectral entropy of the daily series over the period grid
    * 2..maxPeriod — the one-number "how concentrated is the rhythm"
    * readout on top of [[periodogramDaily]] (white noise → entropy
    * near ln K; a pure weekly cycle → near 0). Shares are taken over
    * the scanned grid (stated — this is the standard finite-grid
    * estimator, not the full FFT spectrum).
    *
    * Determinism: per-period powers are the periodogram's exact
    * DECIMAL lanes; each share is one pinned division, each −s·ln s
    * term micro-pinned BEFORE the cross-period sum, one unpin.
    * Zero-power periods contribute 0 (the λ→0 limit), total zero
    * power (constant-zero series) → NULL, stated. */
  def spectralEntropyDaily(events: DataFrame,
      maxPeriod: Int = 15): DataFrame = {
    val pw = periodogramDaily(events, (2 to maxPeriod))
      .select(col("period"), col("n_days"),
        round(col("power") * lit(10000.0), 0).cast("decimal(38,0)")
          .as("pm"))
      .localCheckpoint() // ≤|periods| rows; two consumers below
    val tot = pw.agg(sum("pm").as("ptot"), max("n_days").as("nd"),
      count(lit(1)).as("n_freqs"))
    val share = col("pm").cast("double") / col("ptot").cast("double")
    pw.select("pm").crossJoin(broadcast(tot))
      .select(col("ptot"), col("n_freqs"), col("nd"),
        when(col("pm") > lit(0) && col("ptot") > lit(0),
          round(-share * log(share) * lit(1000000.0), 0).cast("long"))
          .otherwise(lit(0L)).as("hm"))
      .groupBy("ptot", "n_freqs", "nd")
      .agg(sum("hm").as("hsum"))
      .select(col("n_freqs"), col("nd").as("n_days"),
        when(col("ptot") > lit(0),
          round(col("hsum").cast("double") / lit(1000000.0), 4))
          .as("spectral_entropy"),
        when(col("ptot") > lit(0),
          round(col("hsum").cast("double") / lit(1000000.0) /
            log(col("n_freqs").cast("double")), 4))
          .as("spectral_entropy_norm"))
  }

  /** Permutation entropy of the daily count series (Bandt & Pompe
    * '02, m = 3): the Shannon entropy of the ORDINAL patterns of
    * consecutive day triples — the complexity lens that sees only
    * order, never magnitude (robust to any monotone transform), the
    * coarse-but-fast member beside [[spectralEntropyDaily]]'s
    * frequency view and [[sampleEntropyDaily]]'s amplitude view. Low
    * H: few patterns dominate (trend/periodicity); H near ln 6: the
    * ordering is noise-like.
    *
    * Ties break by POSITION (earlier day wins — the stable-sort
    * convention), so every rank is an exact integer comparison chain
    * and the pattern code 9r₀+3r₁+r₂ is an exact BIGINT. Each −p·ln p
    * term re-pins to BIGINT micro-units before the ≤6-term sum (the
    * [[spectralEntropyDaily]] discipline); normalizer ln 6.
    *
    * Shape: one daily collapse, one lead window over the collapsed
    * calendar, a ≤6-row pattern frame. */
  def permutationEntropyDaily(events: DataFrame): DataFrame = {
    val w = Window.orderBy(col("t").asc)
    val tri = dailyCountGrid(events)
      .select(col("t"), col("cnt").as("x0"),
        lead(col("cnt"), 1).over(w).as("x1"),
        lead(col("cnt"), 2).over(w).as("x2"))
      .filter(col("x2").isNotNull)
    val r0 = (col("x1") < col("x0")).cast("int") +
      (col("x2") < col("x0")).cast("int")
    val r1 = (col("x0") <= col("x1")).cast("int") +
      (col("x2") < col("x1")).cast("int")
    val r2 = (col("x0") <= col("x2")).cast("int") +
      (col("x1") <= col("x2")).cast("int")
    val pc = tri
      .groupBy((r0 * lit(9) + r1 * lit(3) + r2).cast("long").as("pattern"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // totals + the term sum both read it
    val tot = pc.agg(sum("c").as("n"), count(lit(1)).as("n_patterns"))
    val share = col("c").cast("double") / col("n").cast("double")
    pc.crossJoin(broadcast(tot))
      .select(col("n"), col("n_patterns"),
        round(-share * log(share) * lit(1000000.0), 0).cast("long")
          .as("hm"))
      .groupBy("n", "n_patterns")
      .agg(sum("hm").as("hsum"))
      .select(col("n").as("n_triples"), col("n_patterns"),
        round(col("hsum").cast("double") / lit(1000000.0), 4)
          .as("perm_entropy"),
        round(col("hsum").cast("double") / lit(1000000.0) /
          log(lit(6.0)), 4).as("perm_entropy_norm"))
  }

  /** Sample entropy of the daily count series (Richman & Moorman
    * '00, m = 2, r = 0.2σ): −ln(A/B) where B counts day-index pairs
    * whose length-2 templates stay within Chebyshev distance r and A
    * the same at length 3 — the regularity lens that asks "does
    * matching for two days predict matching for a third?" (low
    * SampEn: regular/predictable; high: amplitude-level noise).
    * Bias-free vs approximate entropy: self-matches are excluded by
    * the i < j pair frame.
    *
    * Determinism: σ comes off exact population-variance lanes, r is
    * one double product, and every template comparison is integer
    * |Δ| vs the SAME double r in both engines; A and B are exact
    * BIGINTs; −ln(A/B) is one libm call on an identical rational,
    * 6dp. A = 0 or B = 0 → NULL sampen, stated.
    *
    * Shape: one daily collapse, one lead window, then a
    * calendar²-bounded template pair join — never corpus-sized. */
  def sampleEntropyDaily(events: DataFrame): DataFrame = {
    val grid = dailyCountGrid(events)
      .localCheckpoint() // sigma lanes + the template window read it
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // population sigma of the WHOLE series; r = 0.2 sigma
    val sig = grid.agg(count(lit(1)).as("n"), sum("cnt").as("sx"),
        sum(dec(col("cnt")) * col("cnt")).as("sxx"))
      .select(col("n"),
        sqrt((dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx"))
          .cast("double") /
          (dec(col("n")) * col("n")).cast("double")).as("sigma"))
      .select(col("n"), col("sigma"),
        (lit(0.2) * col("sigma")).as("r"))
    val w = Window.orderBy(col("t").asc)
    // Richman-Moorman template frame: i = 1..n−2, so both the
    // length-2 and length-3 counts range over the SAME index set
    val tpl = grid
      .select(col("t"), col("cnt").as("x0"),
        lead(col("cnt"), 1).over(w).as("x1"),
        lead(col("cnt"), 2).over(w).as("x2"))
      .filter(col("x2").isNotNull)
      .localCheckpoint() // both sides of the pair join
    val pairs = tpl.as("i").crossJoin(tpl.as("j")) // calendar²-bounded
      .filter(col("i.t") < col("j.t"))
      .crossJoin(broadcast(sig))
      .select(col("n"), col("sigma"), col("r"),
        greatest(abs(col("i.x0") - col("j.x0")),
          abs(col("i.x1") - col("j.x1"))).cast("double").as("d2"),
        greatest(abs(col("i.x0") - col("j.x0")),
          abs(col("i.x1") - col("j.x1")),
          abs(col("i.x2") - col("j.x2"))).cast("double").as("d3"))
    pairs.groupBy("n", "sigma", "r")
      .agg(sum(when(col("d2") <= col("r"), 1L).otherwise(0L)).as("b"),
        sum(when(col("d3") <= col("r"), 1L).otherwise(0L)).as("a"))
      .select(col("n").as("n_days"),
        round(col("sigma"), 6).as("sigma"),
        round(col("r"), 6).as("r_thresh"),
        col("b").as("b_count"), col("a").as("a_count"),
        when(col("a") > 0L && col("b") > 0L,
          // + 0.0 normalizes IEEE negative zero (A = B -> -ln 1)
          round(-log(col("a").cast("double") / col("b").cast("double"))
            + lit(0.0), 6))
          .as("sampen"))
  }

  /** Turning-points randomness test on the daily series (Kendall's
    * classic): count interior days that are strict local extrema;
    * under iid the count is asymptotically N(2(n−2)/3, (16n−29)/90).
    * Trend and seasonality both SUPPRESS turning points, so a low z
    * is the cheap "this series is not noise" flag before the heavier
    * [[mannKendallDaily]]/[[runsTestDaily]] machinery. Ties produce a
    * zero product and do not count (stated).
    *
    * Determinism: the series folds into one calendar-length array row
    * (day-sorted); the count is exact BIGINT off integer products;
    * mean/variance are rationals of n; one final division. n < 3 →
    * no row. */
  def turningPointsDaily(events: DataFrame): DataFrame = {
    val series = dailyCountGrid(events)
      .agg(array_sort(collect_list(struct(col("t"), col("cnt")))).as("sd"))
      .select(transform(col("sd"), x => x.getField("cnt")).as("ys"))
      .filter(size(col("ys")) >= 3)
    val n = size(col("ys"))
    def yAt(i: Column) = element_at(col("ys"), i.cast("int"))
    val prods = transform(sequence(lit(2), n - 1), t =>
      (yAt(t) - yAt(t - 1)) * (yAt(t + 1) - yAt(t)))
    val tp = size(filter(prods, p => p < 0L)).cast("long")
    val nd = n.cast("double")
    val e = lit(2.0) * (nd - lit(2.0)) / lit(3.0)
    val v = (lit(16.0) * nd - lit(29.0)) / lit(90.0)
    series.select(n.cast("long").as("n_days"), tp.as("n_turning"),
      round(e, 6).as("expected_turning"),
      round((tp.cast("double") - e) / sqrt(v), 4).as("z_score"))
  }

  /** Bartels rank version of von Neumann's ratio — the rank-robust
    * successive-difference randomness test (Bartels '82):
    * RVN = Σ(R_t − R_{t+1})² / Σ(R_t − R̄)² on average ranks of the
    * daily counts; 2 under iid, < 2 for positive serial dependence
    * (trend/stickiness), > 2 for alternation. The rank twin of
    * [[durbinWatsonDaily]], immune to the volume outliers that
    * dominate a raw-value ratio.
    *
    * Determinism: doubled average ranks 2R_t = 2L_t + E_t + 1 are
    * exact BIGINT (L = #less, E = #ties incl. self), R̄ doubles to
    * exactly n+1, both quadratic forms are exact integer sums (the
    * ×4 scale cancels in the ratio), RVN is ONE pinned division and
    * the variance 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²) a second. The
    * rank pass is |calendar|² INSIDE one array row — bounded by the
    * day span, never by corpus size. Constant series (zero
    * denominator) → NULL, stated. */
  def bartelsRankDaily(events: DataFrame): DataFrame = {
    val series = dailyCountGrid(events)
      .agg(array_sort(collect_list(struct(col("t"), col("cnt")))).as("sd"))
      .select(transform(col("sd"), x => x.getField("cnt")).as("ys"))
      .filter(size(col("ys")) >= 4)
    val n = size(col("ys"))
    def yAt(i: Column) = element_at(col("ys"), i.cast("int"))
    val r2 = transform(sequence(lit(1), n), t =>
      lit(2L) * size(filter(col("ys"), v => v < yAt(t))) +
        size(filter(col("ys"), v => v === yAt(t))) + lit(1L))
    val withR = series.select(n.as("n"), r2.as("r2"))
    def rAt(i: Column) = element_at(col("r2"), i.cast("int"))
    val nm = aggregate(sequence(lit(1), col("n") - 1), lit(0L),
      (acc, t) => acc + (rAt(t) - rAt(t + 1)) * (rAt(t) - rAt(t + 1)))
    val d = aggregate(sequence(lit(1), col("n")), lit(0L),
      (acc, t) => acc + (rAt(t) - (col("n") + 1L)) *
        (rAt(t) - (col("n") + 1L)))
    val nd = col("n").cast("double")
    val rvn = nm.cast("double") / d.cast("double")
    val v = lit(4.0) * (nd - 2.0) *
      (lit(5.0) * nd * nd - lit(2.0) * nd - lit(9.0)) /
      (lit(5.0) * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))
    withR.select(col("n").cast("long").as("n_days"),
      when(d > 0L, round(rvn, 6)).as("rvn"),
      when(d > 0L, round((rvn - lit(2.0)) / sqrt(v), 4)).as("z_score"))
  }

  /** Cox–Stuart sign test for monotone trend: pair each day t of the
    * first half with day t + ⌈n/2⌉, count sign of the difference
    * (ties dropped), binomial z on the pair count — the
    * assumption-free trend triage beside [[mannKendallDaily]] (which
    * weighs ALL pairs; Cox–Stuart is the O(n) screen whose miss is a
    * genuine "no trend" signal, not low power from skew).
    *
    * Determinism: counts exact BIGINT off the one array row; z is ONE
    * pinned division; zero non-tied pairs → NULL z, stated. */
  def coxStuartDaily(events: DataFrame): DataFrame = {
    val series = dailyCountGrid(events)
      .agg(array_sort(collect_list(struct(col("t"), col("cnt")))).as("sd"))
      .select(transform(col("sd"), x => x.getField("cnt")).as("ys"))
      .filter(size(col("ys")) >= 2)
    val n = size(col("ys"))
    def yAt(i: Column) = element_at(col("ys"), i.cast("int"))
    val c = ((n + 1) / 2).cast("int") // ceil(n/2) in integer arithmetic
    val diffs = transform(sequence(lit(1), n - c), t =>
      yAt(t + c) - yAt(t))
    val pos = size(filter(diffs, v => v > 0L)).cast("long")
    val neg = size(filter(diffs, v => v < 0L)).cast("long")
    val np = pos + neg
    series.select(n.cast("long").as("n_days"),
      pos.as("n_up"), neg.as("n_down"),
      when(np > 0L, round((pos - neg).cast("double") /
        sqrt(np.cast("double")), 4)).as("z_score"))
  }

  /** Maximum drawdown of cumulative daily revenue — the worst
    * peak-to-trough slide of the running total, the risk lens
    * [[revenueVarCvar]]'s quantiles miss (a long sequence of mildly
    * bad days beats any single-day VaR). Over orders: day grid =
    * observed order dates; cumulative and running-max in EXACT
    * DECIMAL cents ([[Num.dec2]]), so the argmax day is pinned;
    * drawdown reports with the FIRST day reaching the maximum (day
    * ASC tie-break).
    *
    * Shape: one date-collapse hash agg, then two windows over the
    * date-collapsed frame (calendar cardinality) and one 1-row
    * reduce. */
  def maxDrawdownDaily(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Num.dec2(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(col("day"), sum(col("rev")).over(w).as("cum"))
    val dd = cum.select(col("day"),
      (max(col("cum")).over(w) - col("cum")).as("drawdown"))
    dd.orderBy(col("drawdown").desc, col("day").asc)
      .limit(1)
      .select(col("day").as("trough_day"),
        round(col("drawdown").cast("double"), 2).as("max_drawdown"))
  }

  /** Cross-correlation of daily event volume against daily distinct
    * users at lags −maxLag..maxLag — the lead/lag diagnostic between
    * the activity and audience series ([[acfDailyCounts]] is this
    * with the series against itself): a peak at positive lag says
    * volume LEADS audience growth. Pearson per lag over the
    * co-observed zero-filled grid, all six moments exact BIGINT, one
    * final sqrt/division per lag, zero-variance slices excluded.
    *
    * Shape: ONE corpus pass builds both series on the calendar grid;
    * the ±lag shift is an equi-join on the materialized shifted key
    * over a broadcast lag frame. */
  def ccfVolumeUsersDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 0, s"maxLag >= 0: $maxLag")
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("du"))
    val grid = dailyGrid(daily).select("day", "cnt", "du")
    val lags = events.sparkSession.range(-maxLag, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val shifted = grid.crossJoin(broadcast(lags))
      .select(col("lag"), expr("date_add(day, lag)").as("tday"),
        col("cnt").as("x"))
    val m = shifted
      .join(grid.select(col("day").as("tday"), col("du").as("y")), "tday")
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    m.filter(dx > 0L && dy > 0L)
      .select(col("lag"), col("n").as("n_pairs"),
        round(num.cast("double") /
          sqrt(dx.cast("double") * dy.cast("double")), 6).as("ccf"))
  }

  /** Haar detail-energy decomposition of the daily series over the
    * leading 2^L-day window (L = ⌊log₂ n⌋ capped at 6): level-ℓ
    * energy = Σ_b (S_{ℓ−1,2b} − S_{ℓ−1,2b+1})² over the dyadic block
    * sums S — "how much variation lives at the 2^ℓ-day scale". A
    * flat profile is noise; energy piling at level 3 (8-day blocks)
    * is the weekly cycle seen scale-wise — the multiresolution twin
    * of [[periodogramDaily]]'s single-frequency probes.
    *
    * Determinism: block sums and differences are exact BIGINT, level
    * energies exact DECIMAL(38,0) (diff² at corpus scale), shares
    * ONE pinned division each. The window length is a deterministic
    * function of the calendar span (both rails compute it), < 2 days
    * → no rows. Shape: the grid collapses once; each level is one
    * hash agg over ≤ 2^L rows. */
  def haarEnergyDaily(events: DataFrame, maxLevel: Int = 6): DataFrame = {
    val grid = dailyCountGrid(events).select("t", "cnt")
    // lmax via an integer comparison chain, NOT floor(log2(n)) — at an
    // exact power of two the two engines' log implementations can land
    // an ulp apart and floor to different levels
    val span = grid.agg(count(lit(1)).as("n"))
      .select(size(filter(sequence(lit(1), lit(maxLevel)),
        l => pow(lit(2.0), l).cast("long") <= col("n"))).as("lmax"))
    val windowed = grid.crossJoin(broadcast(span))
      .filter(col("t") < pow(lit(2.0), col("lmax")).cast("long"))
    val levels = (1 to maxLevel).map { l =>
      windowed
        .filter(lit(l) <= col("lmax"))
        .groupBy((col("t") / lit(1 << l)).cast("long").as("block"),
          col("lmax"))
        .agg(sum(when((col("t") % lit(1 << l)) < lit(1 << (l - 1)),
          col("cnt")).otherwise(-col("cnt"))).as("diff"))
        .agg(sum(col("diff").cast("decimal(38,0)") * col("diff"))
          .as("energy"), count(lit(1)).as("n_blocks"))
        .select(lit(l.toLong).as("level"), col("n_blocks"), col("energy"))
    }
    val all = levels.reduce(_ unionByName _)
      .filter(col("energy").isNotNull)
    val tot = all.agg(sum("energy").as("etot"))
    all.crossJoin(broadcast(tot))
      .select(col("level"), col("n_blocks"),
        col("energy").cast("double").as("energy"),
        when(col("etot") > lit(0),
          round(col("energy").cast("double") /
            col("etot").cast("double"), 6)).as("energy_share"))
  }

  /** Qini / uplift-decile curve of the parity-arm experiment
    * ([[abConversionZtest]]'s arms read as treatment = even ids): users
    * are ranked by a pinned outcome-free targeting score (their view
    * count, ties by id), cut into 10 equal-population deciles, and each
    * cumulative prefix reports incremental conversions
    * q(k) = conv_T(k) − conv_C(k)·n_T(k)/n_C(k) — the uplift-model
    * evaluation primitive (Radcliffe '07) beside the average-effect
    * readouts. A control-free prefix (n_C = 0) yields NULL qini, not a
    * division error.
    *
    * Determinism: decile = ((rn−1)·10) div n in integer space (no
    * ntile), rn totally ordered by (score desc, user_id asc); every
    * count is an exact BIGINT, the two rates and qini are single
    * fixed-order double expressions rounded at 6dp.
    *
    * Scale: one per-user collapse (the only corpus-sized shuffle), a
    * broadcast total, a 10-row decile frame; the unpartitioned rank
    * window orders users — at 1000-executor scale that is the standard
    * global-sort primitive (range-partitioned sort), not a driver
    * bottleneck. */
  def qiniUpliftDeciles(events: DataFrame,
      threshold: Double = 90.0): DataFrame = {
    val perUser = events.groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("score"),
      max(when(col("event_type") === "purchase" &&
          col("value") >= threshold, 1L).otherwise(0L)).as("conv"))
      .withColumn("treated", (col("user_id") % lit(2L) === lit(0L))
        .cast("long"))
    val n = perUser.agg(count(lit(1)).as("n"))
    // Global rank factored so no serial window ever sees the per-user
    // frame: rn = (# users with score > mine) + (my row_number within
    // my score group, user_id asc) — identical to row_number over
    // (score desc, user_id asc) because score groups are contiguous in
    // that order. The cumulative pass runs on the collapsed score grid
    // (key "v", the distinct-value-grid convention); the within-group
    // rank is a PARTITIONED window keyed by the data-sized score
    // domain, so every sort is group-local, never one task.
    val gridN = perUser.groupBy(col("score").as("v"))
      .agg(count(lit(1)).as("g"))
    val wGt = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = gridN
      .withColumn("n_gt", coalesce(sum(col("g")).over(wGt), lit(0L)))
      .select(col("v").as("score"), col("n_gt"))
    val rnWithin = row_number().over(
      Window.partitionBy(col("score")).orderBy(col("user_id").asc))
    val ranked = perUser.crossJoin(broadcast(n))
      .withColumn("rn_w", rnWithin)
      .join(broadcast(base), Seq("score"))
      .withColumn("rn", col("n_gt") + col("rn_w"))
      .withColumn("decile", expr("((rn - 1) * 10) div n + 1"))
    val per = ranked.groupBy("decile").agg(
      sum(col("treated")).as("d_nt"),
      sum(lit(1L) - col("treated")).as("d_nc"),
      sum(col("treated") * col("conv")).as("d_ct"),
      sum((lit(1L) - col("treated")) * col("conv")).as("d_cc"))
    val wCum = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("n_t", sum(col("d_nt")).over(wCum))
      .withColumn("n_c", sum(col("d_nc")).over(wCum))
      .withColumn("conv_t", sum(col("d_ct")).over(wCum))
      .withColumn("conv_c", sum(col("d_cc")).over(wCum))
    val rateT = col("conv_t").cast("double") / col("n_t").cast("double")
    val rateC = col("conv_c").cast("double") / col("n_c").cast("double")
    val qini = col("conv_t").cast("double") -
      col("conv_c").cast("double") * col("n_t").cast("double") /
        col("n_c").cast("double")
    cum.select(col("decile"), col("n_t"), col("n_c"),
      col("conv_t"), col("conv_c"),
      when(col("n_t") > 0L && col("n_c") > 0L,
        round(rateT - rateC, 6)).as("uplift"),
      when(col("n_c") > 0L, round(qini, 6)).as("qini"))
      .orderBy("decile")
  }

  /** Off-policy evaluation by inverse-propensity scoring (Horvitz–
    * Thompson '52 / Li et al. '11): the logged event stream is read as
    * a contextual-bandit log — context = iso day-of-week, action =
    * event_type, reward = value — and the deterministic target policy
    * "play each weekday's modal action" is valued without ever running
    * it. With exact empirical propensities the per-context IPS estimate
    * collapses to the matched cell's mean reward, and the overall
    * policy value is the dow-prevalence-weighted mean of those cells —
    * reported beside the logging policy's global mean reward as the
    * baseline.
    *
    * Determinism: cell masses are exact BIGINT counts and DECIMAL cent
    * sums; the modal action breaks ties by type name; every double
    * expression is fixed-order and rounded at 6dp. The 7-term weighted
    * sum matches the [[userTypeEntropy]] small-cardinality contract.
    *
    * Scale: one (dow,type) grouped pass over the corpus (35 cells),
    * then broadcast-sized frames only. */
  def ipsPolicyValue(events: DataFrame): DataFrame = {
    val cells = events.select(
      ((datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long") + lit(3L)) % lit(7L) + lit(1L)).as("isodow"),
      col("event_type"),
      (Num.dec2(col("value")) * lit(100)).cast("long").as("cents"))
      .groupBy("isodow", "event_type")
      .agg(count(lit(1)).as("n_cell"), sum("cents").as("cents_cell"))
      // localCheckpoint (r18): the 35-cell grid feeds byDow, tot,
      // totReward, the modal window and three broadcast builds — each
      // an independent job that, uncheckpointed, re-scanned the events
      // corpus (profiled: 19 jobs; also the source of this query's
      // 9× run-to-run spread under load — VERDICT r17 item 9)
      .localCheckpoint()
    val byDow = cells.groupBy("isodow").agg(sum("n_cell").as("n_dow"))
    val tot = byDow.agg(sum("n_dow").as("n"))
    val totReward = cells.agg(sum("cents_cell").as("cents_all"))
    val wTop = Window.partitionBy("isodow")
      .orderBy(col("n_cell").desc, col("event_type").asc)
    val modal = cells.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") === 1)
      .join(broadcast(byDow), "isodow")
      .crossJoin(broadcast(tot))
    val meanAction = col("cents_cell").cast("double") / lit(100.0) /
      col("n_cell").cast("double")
    val contrib = meanAction * col("n_dow").cast("double") /
      col("n").cast("double")
    val terms = modal.select(col("isodow"),
      col("event_type").as("action"),
      col("n_dow"), col("n_cell").as("n_action"),
      round(col("n_cell").cast("double") /
        col("n_dow").cast("double"), 6).as("propensity"),
      round(meanAction, 6).as("action_mean_value"),
      contrib.as("contrib_raw"))
    val policy = terms.agg(sum("contrib_raw").as("pv"))
    val base = totReward.crossJoin(broadcast(tot))
      .select((col("cents_all").cast("double") / lit(100.0) /
        col("n").cast("double")).as("bv"))
    terms.crossJoin(broadcast(policy)).crossJoin(broadcast(base))
      .select(col("isodow"), col("action"), col("n_dow"), col("n_action"),
        col("propensity"), col("action_mean_value"),
        round(col("pv"), 6).as("policy_value"),
        round(col("bv"), 6).as("logging_value"),
        round(col("pv") - col("bv"), 6).as("policy_lift"))
      .orderBy("isodow")
  }

  /** Brown–Forsythe robust homogeneity-of-variance test ('74): a
    * one-way ANOVA F on the absolute deviations from each type's
    * MEDIAN value — the heteroscedasticity gate that, unlike Bartlett,
    * survives the heavy-tailed value distributions a quality filter
    * actually meets ([[anovaValueByType]] compares means; this asks
    * whether the spreads differ). Lower-median in integer cent space
    * (the [[moodsMedianByType]] contract), deviations kept exact in
    * cents, and each sᵢ²/nᵢ term — an exact integer ratio whose 1e11-
    * scale magnitude would let a cross-group float-sum ulp through a
    * 6dp round (observed live at sf0.01) — is pinned half-up in
    * micro-units via [[Num.halfUpRatio]], so SSB/SSW are exact BIGINTs
    * until two final IEEE divisions. Degenerate spreads (SSW = 0)
    * yield NULL F, not a division error.
    *
    * Scale: two grouped passes over the corpus (per-type median grid,
    * then per-type deviation moments) — both collapse to the distinct
    * cent grid / 5 types before any window; nothing quadratic. */
  def brownForsytheValue(events: DataFrame): DataFrame = {
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    val grid = events.select(col("event_type"), cents.as("cv"))
      .groupBy("event_type", "cv").agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy("event_type").orderBy(col("cv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tots = grid.groupBy("event_type").agg(sum("n").as("nt"))
    val med = grid
      .withColumn("cum", sum(col("n")).over(wCum))
      .join(broadcast(tots), "event_type")
      .filter(col("cum") * lit(2L) >= col("nt"))
      .groupBy("event_type").agg(min("cv").as("med"))
    val dev = grid.join(broadcast(med), "event_type")
      .select(col("event_type"), col("n"),
        abs(col("cv") - col("med")).as("z"))
    val per = dev.groupBy("event_type").agg(
      sum(col("n")).as("ni"),
      sum(col("n") * col("z")).as("si"),
      sum(col("n") * col("z") * col("z")).as("qi"))
    val dec38 = (c: Column) => c.cast("decimal(38,0)")
    val per2 = per.withColumn("t_micro",
      Num.halfUpRatio(dec38(col("si")) * col("si") * lit(1000000L),
        dec38(col("ni"))))
    val s = per2.agg(count(lit(1)).as("k"), sum("ni").as("nn"),
      sum("si").as("ss"), sum("qi").as("qsum"),
      sum("t_micro").as("tsum"))
      .withColumn("ssw_micro", col("qsum") * lit(1000000L) - col("tsum"))
      .withColumn("ssb_micro", col("tsum") -
        Num.halfUpRatio(dec38(col("ss")) * col("ss") * lit(1000000L),
          dec38(col("nn"))))
    val ssbD = col("ssb_micro").cast("double") / lit(1000000.0)
    val sswD = col("ssw_micro").cast("double") / lit(1000000.0)
    val f = (ssbD / (col("k") - lit(1L)).cast("double")) /
      (sswD / (col("nn") - col("k")).cast("double"))
    s.select(col("k").as("n_types"), col("nn").as("n_total"),
      (col("k") - lit(1L)).as("df1"), (col("nn") - col("k")).as("df2"),
      round(ssbD, 6).as("ssb"), round(sswD, 6).as("ssw"),
      when(col("ssw_micro") > 0L && col("k") > 1L, round(f, 6))
        .as("f_stat"))
  }

  /** Lag-1 transfer entropy between the view and purchase daily-count
    * series (Schreiber 2000), both directions: each series is
    * binarized above its own lower median over the DENSE zero-filled
    * calendar, and TE(X→Y) = Σ p(y',y,x)·ln[p(y'|y,x)/p(y'|y)]
    * over the 8 joint states — the directed-dependence reading the
    * symmetric [[typeDowMutualInfo]] family cannot give (does
    * yesterday's browsing carry information about today's buying
    * beyond buying's own history?).
    *
    * Determinism: all 8 joint cells and their marginals are exact
    * BIGINT counts; each log term is one fixed-order ratio of exact
    * integer products, the ≤8-term sum follows the
    * [[userTypeEntropy]] small-cardinality contract, 6dp round.
    *
    * Scale: one daily collapse of the corpus, then calendar-sized
    * frames (~90 rows) only. */
  def transferEntropyDaily(events: DataFrame): DataFrame = {
    // localCheckpoint (r18): this ≤2-rows-per-day collapse is the only
    // corpus-sized work, but it feeds SIX independent broadcast
    // subtrees (per-series totals and medians ×2, the te() marginals)
    // plus the calendar min/max and both series joins — each broadcast
    // build is its own job and, uncheckpointed, re-ran the whole
    // events scan + aggregation (profiled: 19 jobs, most re-scanning
    // the corpus; at 100 TB that is ~10 corpus scans for a 90-row
    // frame). Checkpointing pins the tiny frame once.
    val daily = events
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // not dailyGrid: its key cross would drop an event-free type's zero series
    val days = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    def series(t: String, out: String) = {
      val s = days.join(daily.filter(col("event_type") === t), Seq("day"),
        "left")
        .select(col("day"), coalesce(col("cnt"), lit(0L)).as("c"))
      // grid key named "v": distinct-value-grid convention — the serial
      // median window runs over the collapsed daily-count grid only
      val grid = s.groupBy(col("c").as("v")).agg(count(lit(1)).as("n"))
      val wCum = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = grid.agg(sum("n").as("nt"))
      val med = grid.withColumn("cum", sum(col("n")).over(wCum))
        .crossJoin(broadcast(tot))
        .filter(col("cum") * lit(2L) >= col("nt"))
        .agg(min("v").as("med"))
      s.crossJoin(broadcast(med))
        .select(col("day"), (col("c") > col("med")).cast("long").as(out))
    }
    val joined = series("view", "xb").join(series("purchase", "yb"), "day")
    val wDay = Window.orderBy(col("day").asc)
    // checkpointed (r18): both te() directions read this ~90-row frame
    // through four broadcast builds each — uncheckpointed, every one
    // replayed the series pipeline above
    val trans = joined
      .withColumn("y1", lead(col("yb"), 1).over(wDay))
      .withColumn("x1", lead(col("xb"), 1).over(wDay))
      .filter(col("y1").isNotNull)
      .localCheckpoint()
    def te(df: DataFrame, x0: Column, y0: Column, y1: Column,
        dir: String) = {
      val cells = df.groupBy(x0.as("x0"), y0.as("y0"), y1.as("y1"))
        .agg(count(lit(1)).as("c"))
      val mYY = cells.groupBy("y0", "y1").agg(sum("c").as("c_y0y1"))
      val mXY = cells.groupBy("x0", "y0").agg(sum("c").as("c_x0y0"))
      val mY = cells.groupBy("y0").agg(sum("c").as("c_y0"))
      val tot = cells.agg(sum("c").as("nt"))
      cells.join(broadcast(mYY), Seq("y0", "y1"))
        .join(broadcast(mXY), Seq("x0", "y0"))
        .join(broadcast(mY), Seq("y0"))
        .crossJoin(broadcast(tot))
        .agg(max(col("nt")).as("n_transitions"),
          round(sum(col("c").cast("double") / col("nt").cast("double") *
            log((col("c") * col("c_y0")).cast("double") /
              (col("c_x0y0") * col("c_y0y1")).cast("double"))) +
            lit(0.0), 6).as("te_nats"))
        .select(lit(dir).as("direction"), col("n_transitions"),
          col("te_nats"))
    }
    te(trans, col("xb"), col("yb"), col("y1"), "view_to_purchase")
      .unionByName(
        te(trans, col("yb"), col("xb"), col("x1"), "purchase_to_view"))
      .orderBy("direction")
  }

  /** Holm step-down adjustment over [[mannWhitneyTypePairs]]' p-values
    * — the FWER-controlling companion to the FDR step-ups
    * ([[bhFdrTypePairs]] bounds the expected false-discovery RATE;
    * Holm bounds the probability of even ONE false rejection, with
    * uniformly more power than plain Bonferroni and no independence
    * assumption at all): p̂_(i) = max_{j≤i} min(p_(j)·(m−j+1), 1),
    * the monotone prefix max making sequential rejection ≡
    * adjusted ≤ α. Same pinned A&S 26.2.17 two-sided p, same
    * (p, type_a, type_b) total order, the prefix max as a
    * broadcast-tiny self-join — no serial window.
    *
    * Shape: the Mann–Whitney value-grid collapse is the only
    * corpus-sized work; everything here is |types|²/2 rows. */
  def holmMwTypePairs(events: DataFrame, alpha: Double = 0.05): DataFrame = {
    val ranked = mwRankedPValues(events)
      .withColumn("q", round(least(col("p") *
        (col("m") - col("rk") + lit(1L)).cast("double"), lit(1.0)), 6))
    val adj = ranked.as("b")
      .join(broadcast(ranked.as("a")), col("a.rk") <= col("b.rk"))
      .groupBy(col("b.type_a").as("type_a"), col("b.type_b").as("type_b"),
        col("b.z").as("z"), col("b.p").as("p_raw"), col("b.rk").as("rk"))
      .agg(max(col("a.q")).as("p_holm"))
    adj.select(col("type_a"), col("type_b"), col("z"), col("p_raw"),
      col("rk"), col("p_holm"),
      (col("p_holm") <= lit(alpha)).as("rejected"))
  }

  /** Somers' D of the activity→conversion relationship — for a binary
    * outcome the rank statistic collapses to the classifier Gini
    * 2·AUC − 1 ("do converting users rank above non-converting ones
    * on raw activity?"), computed as the exact U-statistic on the
    * per-user activity-count grid: C/D/T pair counts are exact
    * BIGINTs from one cumulative pass (no user×user join), and the
    * two output ratios are single pinned divisions. A degenerate
    * outcome (no converters, or all) has no comparable pairs → NULL
    * D/AUC, stated.
    *
    * Shape: per-user collapse → activity-grid frame (≤ distinct
    * counts) → 1 row; the grid window is unpartitioned but
    * grid-sized. */
  def somersDConv(events: DataFrame, threshold: Double = 90.0): DataFrame = {
    val perUser = events.groupBy(col("user_id")).agg(
      count(lit(1)).as("score"),
      max(when(col("event_type") === "purchase" &&
        col("value") >= threshold, 1L).otherwise(0L)).as("conv"))
    // grid key named "v": the distinct-value-grid convention (the
    // kruskalWallis precedent) — the serial cumulative window below
    // runs over this collapsed frame, never the per-user one
    val grid = perUser.groupBy(col("score").as("v")).agg(
      sum(col("conv")).as("n1"),
      sum(lit(1L) - col("conv")).as("n0"))
    val wLt = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid
      .withColumn("n0_lt", coalesce(sum(col("n0")).over(wLt), lit(0L)))
      .withColumn("n1_lt", coalesce(sum(col("n1")).over(wLt), lit(0L)))
    val tots = cum.agg(
      sum("n1").as("nc"), sum("n0").as("nn"),
      sum(col("n1") * col("n0_lt")).as("concordant"),
      sum(col("n0") * col("n1_lt")).as("discordant"),
      sum(col("n1") * col("n0")).as("tied"))
    val pairs = col("nc") * col("nn")
    val d = (col("concordant") - col("discordant")).cast("double") /
      pairs.cast("double")
    val auc = (lit(2L) * col("concordant") + col("tied")).cast("double") /
      (lit(2L) * pairs).cast("double")
    tots.select(col("nc").as("n_conv"), col("nn").as("n_nonconv"),
      col("concordant"), col("discordant"), col("tied"),
      when(pairs > 0L, round(d, 6)).as("somers_d"),
      when(pairs > 0L, round(auc, 6)).as("auc"))
  }

  /** Aalen–Johansen cumulative incidence under competing risks — the
    * churn curve [[kmSurvivalHorizons]] splits BY EXIT CAUSE: a user
    * whose journey ends with a purchase on their last active day is a
    * converted exit, any other ending is an abandoned exit, and
    * naive per-cause KM (treating the other cause as censoring)
    * OVERSTATES both incidences — AJ's CIF_k(h) = Σ_{t≤h}
    * Ŝ(t−)·d_k(t)/n(t) is the estimator that keeps
    * CIF₁ + CIF₂ = 1 − Ŝ_allcause exactly.
    *
    * Determinism: the KM risk sets are exact BIGINTs; Ŝ(t−) is exp of
    * the 10dp-DECIMAL-pinned EXCLUSIVE ln prefix (the
    * [[kmGreenwoodCi]] discipline) and each CIF increment pins to
    * 1e-12 micro-units before the horizon sum, so accumulation is
    * order-exact integer arithmetic.
    *
    * Shape: one per-user collapse, duration-frame (≤ calendar) rows,
    * broadcast horizons; two output rows per horizon. */
  def aalenJohansenCif(events: DataFrame,
      horizons: Seq[Int] = Seq(1, 7, 14, 30)): DataFrame = {
    // not tenureRisk: the users also carry their last purchase day `pd`
    val users = events.groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("f"), to_date(max(col("ts"))).as("l"),
        to_date(max(when(col("event_type") === "purchase", col("ts"))))
          .as("pd"))
    val maxDay = events.agg(to_date(max(col("ts"))).as("max_day"))
    val dur = users.crossJoin(broadcast(maxDay))
      .select((datediff(col("l"), col("f")) + 1).cast("long").as("t"),
        when(col("l") < col("max_day"), 1L).otherwise(0L).as("observed"),
        when(col("pd").isNotNull && col("pd") === col("l"), 1L)
          .otherwise(0L).as("conv_exit"))
    val byT = dur.groupBy("t").agg(count(lit(1)).as("ending"),
      sum("observed").as("d"),
      sum(col("observed") * col("conv_exit")).as("d1"))
    val total = dur.agg(count(lit(1)).as("n_users"))
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = byT.crossJoin(broadcast(total))
      .withColumn("n",
        col("n_users") - sum(col("ending")).over(wCum) + col("ending"))
    val lnTerm = round(log((col("n") - col("d")).cast("double") /
      col("n").cast("double")), 10).cast("decimal(38,10)")
    val withS = atRisk
      .withColumn("lns_prev", coalesce(
        sum(when(col("d") > 0L && col("n") > col("d"), lnTerm))
          .over(wPrev), lit(0).cast("decimal(38,10)")))
      .withColumn("s_prev", exp(col("lns_prev").cast("double")))
    def cifTerm(dk: Column) = round(col("s_prev") * dk.cast("double") /
      col("n").cast("double") * lit(1.0e12), 0).cast("long")
    val hs = events.sparkSession.createDataFrame(
      horizons.map(Tuple1(_))).toDF("horizon")
    val curve = withS.crossJoin(broadcast(hs))
      .filter(col("t") <= col("horizon"))
      .groupBy("horizon")
      .agg(sum("d1").as("e1"), sum(col("d") - col("d1")).as("e2"),
        sum(cifTerm(col("d1"))).as("m1"),
        sum(cifTerm(col("d") - col("d1"))).as("m2"))
    val full = hs.join(curve, Seq("horizon"), "left")
    def side(cause: String, e: Column, mm: Column) =
      full.select(col("horizon"), lit(cause).as("cause"),
        coalesce(e, lit(0L)).as("n_exits"),
        coalesce(round(mm.cast("double") / lit(1.0e12), 6), lit(0.0))
          .as("cif"))
    side("converted_exit", col("e1"), col("m1"))
      .unionByName(side("abandoned_exit", col("e2"), col("m2")))
      .orderBy("horizon", "cause")
  }

  /** Mean cumulative function of recurrent purchases over user tenure
    * (Nelson's recurrent-event MCF): "by day t of a user's life, how
    * many purchases has the average still-observed user made?" —
    * the recurrent-event companion to the single-event survival
    * family: every purchase counts (not just the first), and the
    * risk set at tenure t holds exactly the users whose observation
    * window (first event → global max day) spans t, so late joiners
    * stop deflating the curve.
    *
    * Determinism: d(t) and n(t) are exact BIGINTs; each increment
    * d/n pins to 1e-12 micro-units before the horizon sum
    * (order-exact), one final division per horizon.
    *
    * Shape: two per-user/purchase collapses, tenure-frame rows,
    * broadcast horizons. */
  def mcfRecurrentPurchases(events: DataFrame,
      horizons: Seq[Int] = Seq(1, 7, 14, 30)): DataFrame = {
    // not tenureRisk: a user's window runs from `f` to the data's end
    val entry = events.groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("f"))
    val maxDay = events.agg(to_date(max(col("ts"))).as("max_day"))
    val window = entry.crossJoin(broadcast(maxDay))
      .select(col("user_id"), col("f"),
        (datediff(col("max_day"), col("f")) + 1).cast("long").as("w"))
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("pday"))
      .join(window, "user_id")
      .select((datediff(col("pday"), col("f")) + 1).cast("long").as("t"))
    val dByT = purch.groupBy("t").agg(count(lit(1)).as("d"))
    val wEnd = window.groupBy("w").agg(count(lit(1)).as("n_ending"))
    val total = window.agg(count(lit(1)).as("n_users"))
    // users at risk at tenure t = those with window length >= t =
    // total - #(w < t), a non-equi join of the two tiny grids
    val withN = dByT.join(broadcast(wEnd), col("w") < col("t"), "left")
      .groupBy("t", "d")
      .agg(coalesce(sum("n_ending"), lit(0L)).as("shorter"))
      .crossJoin(broadcast(total))
      .select(col("t"), col("d"),
        (col("n_users") - col("shorter")).as("n_check"))
    val hs = events.sparkSession.createDataFrame(
      horizons.map(Tuple1(_))).toDF("horizon")
    val term = round(col("d").cast("double") /
      col("n_check").cast("double") * lit(1.0e12), 0).cast("long")
    val curve = withN.crossJoin(broadcast(hs))
      .filter(col("t") <= col("horizon"))
      .groupBy("horizon")
      .agg(sum("d").as("n_purchases"), sum(term).as("mcf_micro"))
    hs.join(curve, Seq("horizon"), "left")
      .select(col("horizon"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(round(col("mcf_micro").cast("double") / lit(1.0e12), 6),
          lit(0.0)).as("mcf"))
      .orderBy("horizon")
  }

  /** Difference-in-differences on the parity arms across the
    * window-midpoint time split — the quasi-experimental readout
    * ([[abConversionZtest]] compares arms at one time; DiD asks
    * whether arm A's value MOVED differently across the midpoint
    * than arm B's, differencing away both the common time shock and
    * the fixed arm gap): DiD = (x̄_A2−x̄_A1) − (x̄_B2−x̄_B1), with the
    * four-cell pooled SE √(Σ s²ᵢ/nᵢ) and its z. The split is the
    * [[valueMmdDrift]] midpoint-epoch convention.
    *
    * Determinism: the four cells' n/Σc/Σc² are exact BIGINT/DECIMAL
    * cents; each mean and sample variance is one fixed-order double
    * chain; 6dp rounds. An empty or single-row cell → NULL SE/z.
    *
    * Shape: one grouped pass over the corpus (4 cells). */
  def didParityArms(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cents = (Num.dec2(col("value")) * lit(100)).cast("long")
    val cells = withTimeRange(events)
      .select((col("user_id") % lit(2L)).as("arm"),
        when(inFirstHalf, 1L).otherwise(2L).as("half"),
        cents.as("c"))
      .groupBy("arm", "half")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(dec(col("c")) * col("c")).as("q"))
    def cell(arm: Int, half: Int, suffix: String) =
      cells.filter(col("arm") === arm.toLong && col("half") === half.toLong)
        .select(col("n").as(s"n_$suffix"), col("s").as(s"s_$suffix"),
          col("q").as(s"q_$suffix"))
    val j = cell(0, 1, "a1").crossJoin(cell(0, 2, "a2"))
      .crossJoin(cell(1, 1, "b1")).crossJoin(cell(1, 2, "b2"))
    def mean(s: String) = col(s"s_$s").cast("double") / lit(100.0) /
      col(s"n_$s").cast("double")
    def vr(s: String) = (col(s"q_$s").cast("double") -
      col(s"s_$s").cast("double") * col(s"s_$s").cast("double") /
        col(s"n_$s").cast("double")) /
      (col(s"n_$s") - lit(1L)).cast("double") / lit(10000.0)
    val did = (mean("a2") - mean("a1")) - (mean("b2") - mean("b1"))
    val varSum = vr("a1") / col("n_a1").cast("double") +
      vr("a2") / col("n_a2").cast("double") +
      vr("b1") / col("n_b1").cast("double") +
      vr("b2") / col("n_b2").cast("double")
    val ok = col("n_a1") > 1L && col("n_a2") > 1L &&
      col("n_b1") > 1L && col("n_b2") > 1L
    j.select(col("n_a1"), col("n_a2"), col("n_b1"), col("n_b2"),
      round(mean("a2") - mean("a1"), 6).as("delta_a"),
      round(mean("b2") - mean("b1"), 6).as("delta_b"),
      round(did, 6).as("did"),
      when(ok && varSum > lit(0.0), round(sqrt(varSum), 6)).as("se"),
      when(ok && varSum > lit(0.0), round(did / sqrt(varSum), 6))
        .as("z_score"))
  }

  /** Atkinson inequality index (ε = 0.5) of per-user activity — the
    * welfare-grounded companion to [[userActivityGini]]: A = 1 −
    * EDE/μ where EDE = ((1/n)Σ√xᵢ)², the "equally distributed
    * equivalent" activity; unlike Gini it decomposes and has an
    * explicit inequality-aversion dial. Computed on the distinct
    * activity-count grid (multiplicity-weighted), so the √ sum is
    * over the grid's few hundred rows, not the user population.
    *
    * Shape: per-user collapse → count-grid collapse → 1 row. */
  def atkinsonActivity(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("x"))
    val grid = perUser.groupBy("x").agg(count(lit(1)).as("m"))
    val s = grid.agg(sum("m").as("n"), sum(col("m") * col("x")).as("tot"),
      sum(col("m").cast("double") * sqrt(col("x").cast("double")))
        .as("sqsum"))
    val mu = col("tot").cast("double") / col("n").cast("double")
    val ede = (col("sqsum") / col("n").cast("double")) *
      (col("sqsum") / col("n").cast("double"))
    s.select(col("n").as("n_users"), round(mu, 6).as("mean_activity"),
      round(ede, 6).as("ede"),
      when(mu > lit(0.0), round(lit(1.0) - ede / mu, 6))
        .as("atkinson_05"))
  }

  /** Lincoln–Petersen / Chapman capture–recapture estimate of the
    * true user population from the two time halves — "how many users
    * exist, including the ones we never saw?": the first half marks
    * n₁ users, the second captures n₂ of which m are recaptures, and
    * under equal catchability N̂ = n₁n₂/m (Chapman's
    * (n₁+1)(n₂+1)/(m+1) − 1 corrects the small-m bias and has a
    * closed-form SE). The ecology estimator that doubles as a
    * completeness audit for any two overlapping crawls or logs.
    * Split = the [[valueMmdDrift]] midpoint-epoch convention; zero
    * recaptures → NULL LP (Chapman stays defined).
    *
    * Determinism: three exact BIGINT distinct counts; each estimate
    * is one fixed-order double chain, 6dp.
    *
    * Shape: one grouped pass (per-user min/max epoch), a 1-row agg. */
  def captureRecaptureUsers(events: DataFrame): DataFrame = {
    val perUser = withTimeRange(events)
      .groupBy("user_id")
      .agg(max(when(inFirstHalf, 1L).otherwise(0L)).as("in1"),
        max(when(inSecondHalf, 1L).otherwise(0L)).as("in2"))
    val s = perUser.agg(sum("in1").as("n1"), sum("in2").as("n2"),
      sum(col("in1") * col("in2")).as("m"),
      count(lit(1)).as("n_seen"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val mD = col("m").cast("double")
    val chapman = (n1 + lit(1.0)) * (n2 + lit(1.0)) /
      (mD + lit(1.0)) - lit(1.0)
    val seCh = sqrt((n1 + lit(1.0)) * (n2 + lit(1.0)) *
      (n1 - mD) * (n2 - mD) /
      ((mD + lit(1.0)) * (mD + lit(1.0)) * (mD + lit(2.0))))
    s.select(col("n1").as("n_first_half"), col("n2").as("n_second_half"),
      col("m").as("n_recaptured"), col("n_seen").as("n_seen_total"),
      when(col("m") > 0L, round(n1 * n2 / mD, 6)).as("lp_estimate"),
      round(chapman, 6).as("chapman_estimate"),
      round(seCh, 6).as("chapman_se"))
  }

  /** Mantel–Haenszel pooled odds ratio of the parity-arm conversion
    * across first-event-weekday strata, with the CMH chi² — the
    * stratified readout that answers "is the arm effect real AFTER
    * controlling for when users joined?" (a join-day imbalance
    * between arms confounds the crude OR; MH pools the within-
    * stratum 2×2s instead): OR_MH = Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ),
    * CMH = (Σaᵢ − ΣEᵢ)²/ΣVᵢ. Degenerate strata contribute exactly
    * their zero terms; an all-zero denominator → NULL OR.
    *
    * Determinism: every 2×2 cell is an exact BIGINT; each stratum
    * term is one fixed-order ratio of integer products; the ≤7-term
    * sums follow the [[userTypeEntropy]] small-cardinality contract.
    *
    * Shape: one per-user collapse, a 7-stratum frame, a 1-row agg. */
  def mantelHaenszelAb(events: DataFrame,
      threshold: Double = 90.0): DataFrame = {
    val perUser = events.groupBy("user_id").agg(
      min(to_date(col("ts"))).as("f"),
      max(when(col("event_type") === "purchase" &&
        col("value") >= threshold, 1L).otherwise(0L)).as("conv"))
      .select(((datediff(col("f"), lit("1970-01-01").cast("date"))
        .cast("long") + lit(3L)) % lit(7L) + lit(1L)).as("stratum"),
        (col("user_id") % lit(2L) === lit(0L)).cast("long").as("treated"),
        col("conv"))
    val cells = perUser.groupBy("stratum").agg(
      sum(col("treated") * col("conv")).as("a"),
      sum(col("treated") * (lit(1L) - col("conv"))).as("b"),
      sum((lit(1L) - col("treated")) * col("conv")).as("c"),
      sum((lit(1L) - col("treated")) * (lit(1L) - col("conv"))).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    val nD = col("n").cast("double")
    val num = (col("a") * col("d")).cast("double") / nD
    val den = (col("b") * col("c")).cast("double") / nD
    val e = ((col("a") + col("b")) * (col("a") + col("c")))
      .cast("double") / nD
    val v = when(col("n") > 1L,
      ((col("a") + col("b")) * (col("c") + col("d"))).cast("double") *
        ((col("a") + col("c")) * (col("b") + col("d"))).cast("double") /
        (nD * nD * (col("n") - lit(1L)).cast("double")))
      .otherwise(lit(0.0))
    val s = cells.agg(count(lit(1)).as("n_strata"),
      sum("a").as("a_tot"), sum(num).as("mh_num"), sum(den).as("mh_den"),
      sum(e).as("e_tot"), sum(v).as("v_tot"))
    val orMh = col("mh_num") / col("mh_den")
    val cmh = (col("a_tot").cast("double") - col("e_tot")) *
      (col("a_tot").cast("double") - col("e_tot")) / col("v_tot")
    s.select(col("n_strata"), col("a_tot").as("conv_treated"),
      when(col("mh_den") > lit(0.0), round(orMh, 6)).as("or_mh"),
      when(col("mh_den") > lit(0.0) && col("mh_num") > lit(0.0),
        round(log(orMh), 6)).as("ln_or_mh"),
      when(col("v_tot") > lit(0.0), round(cmh, 6)).as("cmh_chi2"),
      when(col("v_tot") > lit(0.0), cmh > lit(3.841459))
        .otherwise(lit(false)).as("significant"))
  }

  /** Likelihood-ratio G-test of type×weekday independence — the
    * information-theoretic twin of [[chiSquareTypeDow]] (G = 2·N·MI
    * in nats; additive across nested partitions where Pearson's χ²
    * is not, and the better-calibrated statistic when expected
    * counts are small): G = 2·Σ O·ln(O·N/(R·C)) over the observed
    * cells (empty cells contribute exactly 0). Same df and critical
    * region as the Pearson form.
    *
    * Determinism: each log argument is ONE ratio of exact BIGINT
    * products; the ≤|types|·7-term sum is 4dp-rounded once (the
    * [[chiSquareTypeDow]] convention).
    *
    * Shape: one grouped pass to the 35-cell frame. */
  def gTestTypeDow(events: DataFrame): DataFrame = {
    val cells = events
      .groupBy(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"))
      .agg(count(lit(1)).as("nxy"))
    val byType = cells.groupBy("event_type").agg(sum("nxy").as("nx"))
    val byDow = cells.groupBy("dow").agg(sum("nxy").as("ny"))
    val total = cells.agg(sum("nxy").as("n"))
    val term = col("nxy").cast("double") *
      log((col("nxy") * col("n")).cast("double") /
        (col("nx") * col("ny")).cast("double"))
    val s = cells.join(broadcast(byType), "event_type")
      .join(broadcast(byDow), "dow")
      .crossJoin(broadcast(total))
      .agg(countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"),
        max(col("n")).as("n_total"),
        sum(term).as("g_half"))
    s.select(col("n_types"), col("n_dows"), col("n_total"),
      ((col("n_types") - lit(1L)) * (col("n_dows") - lit(1L))).as("dof"),
      round(lit(2.0) * col("g_half"), 4).as("g_stat"))
  }

  /** Standardized-mean-difference balance table of the parity arms —
    * the covariate-balance diagnostic every observational comparison
    * prints before trusting an effect estimate (|SMD| < 0.1 is the
    * conventional "balanced" bar; the parity split should pass it on
    * every covariate, making this the experiment-infra A/A audit):
    * for activity count, total spend, and active days,
    * SMD = (x̄_A − x̄_B)/√((s²_A + s²_B)/2).
    *
    * Determinism: per-covariate per-arm n/Σx/Σx² are exact
    * BIGINT/DECIMAL lanes; each mean/variance/SMD is one fixed-order
    * double chain, 6dp. Degenerate pooled spread → NULL SMD.
    *
    * Shape: one per-user collapse, a 3-covariate constant-size
    * output. */
  def smdBalanceArms(events: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val perUser = events.groupBy("user_id").agg(
      count(lit(1)).as("x1"),
      coalesce(sum((Num.dec2(col("value")) * lit(100)).cast("long")),
        lit(0L)).as("x2"),
      countDistinct(to_date(col("ts"))).as("x3"))
      .withColumn("arm", (col("user_id") % lit(2L) === lit(0L))
        .cast("long"))
    val g = perUser.groupBy("arm").agg(count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(dec(col("x1")) * col("x1")).as("q1"),
      sum(col("x2")).as("s2"), sum(dec(col("x2")) * col("x2")).as("q2"),
      sum(col("x3")).as("s3"), sum(dec(col("x3")) * col("x3")).as("q3"))
    def side(arm: Int, sfx: String) =
      g.filter(col("arm") === arm.toLong)
        .select(col("n").as(s"n_$sfx") +: (1 to 3).flatMap(i =>
          Seq(col(s"s$i").as(s"s${i}_$sfx"),
            col(s"q$i").as(s"q${i}_$sfx"))): _*)
    val j = side(1, "a").crossJoin(side(0, "b"))
    def cov(name: String, i: Int, scale: Double) = {
      def mean(sfx: String) = col(s"s${i}_$sfx").cast("double") /
        lit(scale) / col(s"n_$sfx").cast("double")
      def vr(sfx: String) = (col(s"q${i}_$sfx").cast("double") -
        col(s"s${i}_$sfx").cast("double") *
          col(s"s${i}_$sfx").cast("double") /
          col(s"n_$sfx").cast("double")) /
        (col(s"n_$sfx") - lit(1L)).cast("double") / lit(scale * scale)
      val pooled = (vr("a") + vr("b")) / lit(2.0)
      j.select(lit(name).as("covariate"),
        col("n_a").as("n_even"), col("n_b").as("n_odd"),
        round(mean("a"), 6).as("mean_even"),
        round(mean("b"), 6).as("mean_odd"),
        when(col("n_a") > 1L && col("n_b") > 1L && pooled > lit(0.0),
          round((mean("a") - mean("b")) / sqrt(pooled), 6)).as("smd"))
    }
    cov("activity", 1, 1.0)
      .unionByName(cov("total_value", 2, 100.0))
      .unionByName(cov("active_days", 3, 1.0))
      .orderBy("covariate")
  }

  /** Fleming–Harrington (ρ = 1, Peto–Peto) weighted log-rank on the
    * parity arms — [[logrankTestAb]] reweighted by the pooled
    * survival Ŝ(t−), so EARLY churn differences dominate (the plain
    * log-rank weights every churn time equally and can miss an
    * early-separating, late-crossing pair of curves; ρ = 1 is the
    * standard early-difference-sensitive choice):
    * Z = Σ S(t−)(O₁−E₁) / √(Σ S(t−)²V).
    *
    * Determinism: the [[aalenJohansenCif]] exclusive 10dp-DECIMAL
    * ln prefix gives S(t−); each weighted O−E and weight²·V term
    * pins to 1e-6 micro-units before the sum (order-exact), one
    * final ratio.
    *
    * Shape: one per-user collapse, duration-frame work only. */
  def flemingHarringtonAb(events: DataFrame): DataFrame = {
    val (atRisk, totals) = armTenureRisk(events)
    val wPrev = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lnTerm = round(log((col("n") - col("d")).cast("double") /
      col("n").cast("double")), 10).cast("decimal(38,10)")
    val withS = atRisk
      .withColumn("lns_prev", coalesce(
        sum(when(col("d") > 0L && col("n") > col("d"), lnTerm))
          .over(wPrev), lit(0).cast("decimal(38,10)")))
      .withColumn("s_prev", exp(col("lns_prev").cast("double")))
      .filter(col("d") > 0L)
    val share = col("n1").cast("double") / col("n").cast("double")
    val oe = col("s_prev") *
      (col("d1").cast("double") - col("d").cast("double") * share)
    val vTerm = when(col("n") > 1L, col("s_prev") * col("s_prev") *
      (col("d").cast("double") * share * (lit(1.0) - share) *
        ((col("n") - col("d")).cast("double") /
          (col("n") - lit(1L)).cast("double")))).otherwise(lit(0.0))
    val s = withS.select(
      round(oe * lit(1000000.0), 0).cast("long").as("om"),
      round(vTerm * lit(1000000.0), 0).cast("long").as("vm"))
      .agg(sum("om").as("oem"), sum("vm").as("vvm"))
      .crossJoin(broadcast(totals))
    val z = (col("oem").cast("double") / lit(1000000.0)) /
      sqrt(col("vvm").cast("double") / lit(1000000.0))
    s.select((col("n_users") - col("n_users1")).as("n_users_a"),
      col("n_users1").as("n_users_b"),
      round(col("oem").cast("double") / lit(1000000.0), 6)
        .as("weighted_oe"),
      when(col("vvm") > 0L, round(z, 6)).as("fh_z"))
  }

  /** Population attributable fraction of conversion due to high
    * activity — the epidemiology readout for a growth team ("what
    * share of conversions would disappear if nobody were
    * highly active?"): exposure = activity strictly above the
    * lower-median count ([[moodsMedianByType]] convention),
    * PAF = (P(conv) − P(conv|unexposed))/P(conv), reported with the
    * relative risk. No conversions → NULL PAF; an all-exposed or
    * all-unexposed population degrades to NULL RR, stated.
    *
    * Determinism: four exact BIGINT cells, fixed-order ratios, 6dp.
    * Shape: per-user collapse → count-grid median → 1 row. */
  def pafActivityConversion(events: DataFrame,
      threshold: Double = 90.0): DataFrame = {
    val perUser = events.groupBy("user_id").agg(
      count(lit(1)).as("x"),
      max(when(col("event_type") === "purchase" &&
        col("value") >= threshold, 1L).otherwise(0L)).as("conv"))
    // grid key named "v": distinct-value-grid convention — the serial
    // median window runs over the collapsed count grid only
    val grid = perUser.groupBy(col("x").as("v")).agg(count(lit(1)).as("m"))
    val wCum = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum("m").as("nt"))
    val med = grid.withColumn("cum", sum(col("m")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * lit(2L) >= col("nt"))
      .agg(min("v").as("med"))
    val s = perUser.crossJoin(broadcast(med)).agg(
      count(lit(1)).as("n"),
      sum(when(col("x") > col("med"), 1L).otherwise(0L)).as("n_exp"),
      sum(col("conv")).as("c_all"),
      sum(when(col("x") > col("med"), col("conv")).otherwise(0L))
        .as("c_exp"))
    val pAll = col("c_all").cast("double") / col("n").cast("double")
    val nUnexp = col("n") - col("n_exp")
    val pUnexp = (col("c_all") - col("c_exp")).cast("double") /
      nUnexp.cast("double")
    val pExp = col("c_exp").cast("double") / col("n_exp").cast("double")
    s.select(col("n").as("n_users"), col("n_exp").as("n_exposed"),
      col("c_all").as("n_conversions"),
      round(pAll, 6).as("p_conv"),
      when(col("n_exp") > 0L, round(pExp, 6)).as("p_conv_exposed"),
      when(nUnexp > 0L, round(pUnexp, 6)).as("p_conv_unexposed"),
      when(col("n_exp") > 0L && nUnexp > 0L && pUnexp > lit(0.0),
        round(pExp / pUnexp, 6)).as("relative_risk"),
      when(nUnexp > 0L && pAll > lit(0.0),
        round((pAll - pUnexp) / pAll, 6)).as("paf"))
  }
}
