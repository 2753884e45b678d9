package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** Physical-plan audits: the scale posture (pushdown, broadcast,
  * partial aggregation, true top-k) asserted as tests so a regression
  * in plan shape fails CI, not just the benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    df.queryExecution.optimizedPlan // force analysis
    org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    planOf(df)
  }

  test("filter + projection are pushed into the parquet scan") {
    val df = Tables.lineitem(spark, sf0)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select("l_returnflag", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate,"), scan)
    // pruned to exactly the projected + filtered columns — none of the
    // other 8 lineitem columns reach the scan
    assert(scan.contains("l_quantity") && scan.contains("l_returnflag") &&
      scan.contains("l_shipdate"), scan)
    assert(!scan.contains("l_extendedprice") && !scan.contains("l_partkey"),
      s"projection not pruned: $scan")
  }

  test("star join broadcasts every dimension (single fact shuffle)") {
    val plan = planOf(JoinOps.revenueByNation(spark, sf0))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts\n$plan")
    // only the li⋈orders join (+ final agg) may shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n$plan")
  }

  test("tpch_q10: joins broadcast under the guard, top-k is TakeOrdered") {
    val plan = planOf(JoinOps.tpchQ10(
      Tables.lineitem(spark, sf0), Tables.orders(spark, sf0),
      Tables.customer(spark, sf0), Tables.nation(spark, sf0)))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected 3 broadcast joins, got $broadcasts\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the only exchange allowed is the final aggregation's
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"unexpected fact shuffle ($exchanges):\n$plan")
  }

  test("ordered limit plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf(AggOps.topOrdersByPrice(Tables.orders(spark, sf0), 10))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort ["), s"unexpected full sort:\n$plan")
  }

  test("grouped aggregation is partial+final (map-side combine)") {
    val plan = planOf(EventOps.userActivity(Tables.events(spark, sf0)))
    assert(plan.contains("HashAggregate(keys=[user_id"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final HashAggregate:\n$plan")
  }

  test("semi/anti joins plan as joins, not subquery re-scans") {
    val semi = planOf(JoinOps.customersWithOrders(
      Tables.customer(spark, sf0), Tables.orders(spark, sf0)))
    assert(semi.contains("LeftSemi"), semi)
    val anti = planOf(JoinOps.customersWithoutOrders(
      Tables.customer(spark, sf0), Tables.orders(spark, sf0)))
    assert(anti.contains("LeftAnti"), anti)
  }

  test("knnBrute: broadcast query vector + TakeOrderedAndProject") {
    val plan = planOf(VectorOps.knnBrute(Tables.embeddings(spark, sf0), 0, 10))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("minhash signatures aggregate partially before the doc_id shuffle") {
    val plan = planOf(DedupOps.minhashSignatures(
      Tables.documents(spark, sf0), numHashes = 8))
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(plan.contains("Generate explode"), plan)
  }

  test("range-join pairs keep the equi-key (no cartesian)") {
    val plan = planOf(EventOps.rangeJoinPairs(Tables.events(spark, sf0), 60))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("user_id"), plan)
  }

  test("pricing_summary: pushed scan filter, partial+final agg, ONE exchange") {
    val df = AggOps.pricingSummary(Tables.lineitem(spark, sf0))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate,"), s"ship-date filter not pushed: $scan")
    val plan = planOf(df)
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final HashAggregate:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges:\n$plan")
  }

  test("tpch_q6: every predicate reaches the parquet scan") {
    val df = AggOps.tpchQ6(Tables.lineitem(spark, sf0))
    // read the scan's metadata, not toString — simpleString truncates
    // long PushedFilters lists (and AdaptiveSparkPlanExec is childless,
    // so collectLeaves would return the wrapper, not the scan)
    val inner = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = inner.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no parquet scan leaf"))
    val pushedFilters = scan.metadata("PushedFilters")
    for (pushed <- Seq("GreaterThanOrEqual(l_shipdate,", "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)"))
      assert(pushedFilters.contains(pushed), s"$pushed not pushed: $pushedFilters")
  }

  test("minhash_near_dups: verification sets are candidate-bounded") {
    // the shingle-set build must sit behind a LEFT SEMI prune against
    // the candidate ids — the corpus-wide set build is the path that
    // dies first at 100 TB (DedupOps.minhashNearDups docstring)
    val plan = planOf(DedupOps.minhashNearDups(
      Tables.documents(spark, sf0), 0.5))
    assert(plan.contains("LeftSemi"), s"candidate semi-join missing:\n$plan")
    assert(plan.contains("graft_shingle_hashes("), plan)
  }

  test("slow_orders_by_priority: EXISTS plans as one semi join") {
    val plan = planOf(JoinOps.slowOrdersByPriority(
      Tables.orders(spark, sf0), Tables.lineitem(spark, sf0)))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tpch_q18: lineitem collapses to per-order rows BEFORE any join") {
    val plan = planOf(JoinOps.tpchQ18(Tables.lineitem(spark, sf0),
      Tables.orders(spark, sf0), Tables.customer(spark, sf0)))
    // the qty rollup's aggregate keys on l_orderkey and sits under the
    // join with orders (string order suffices: aggregates print before
    // the join's other side in the tree dump)
    assert(plan.contains("HashAggregate(keys=[l_orderkey"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("tpch_q14/q19: part joins broadcast under the size guard") {
    for (df <- Seq(
        JoinOps.tpchQ14(Tables.lineitem(spark, sf0), Tables.part(spark, sf0)),
        JoinOps.tpchQ19(Tables.lineitem(spark, sf0), Tables.part(spark, sf0)))) {
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
    }
  }

  test("tpch_q13: orders collapse to per-customer counts BEFORE the outer join") {
    val plan = planOf(JoinOps.tpchQ13(
      Tables.customer(spark, sf0), Tables.orders(spark, sf0)))
    // the eager-aggregation rewrite: an aggregate keyed on o_custkey
    // must exist (a regression to join-then-count would group on
    // c_custkey only and carry every order row through the outer join)
    assert(plan.contains("HashAggregate(keys=[o_custkey"), plan)
    // orders' own custkey agg + the final c_count distribution agg —
    // no full-fact join shuffle beyond them
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"unexpected extra shuffles ($exchanges):\n$plan")
  }

  test("user_type_unpivot: one Expand, adds no shuffle over the pivot") {
    val pivotPlan = planOf(EventOps.userTypePivot(Tables.events(spark, sf0)))
    val plan = planOf(EventOps.userTypeUnpivot(Tables.events(spark, sf0)))
    assert(plan.contains("Expand"), plan)
    // the unpivot itself is shuffle-free: exactly the exchanges the
    // pivot aggregation already pays, and not a UNION-of-selects that
    // would re-scan the wide table once per melted column
    def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges(plan) == exchanges(pivotPlan),
      s"unpivot added a shuffle (${exchanges(plan)} vs ${exchanges(pivotPlan)}):\n$plan")
    assert(!plan.contains("Union"), plan)
  }

  test("span_dedup_stats: single linear pipeline — one scan, one " +
    "explode, no self-join") {
    val plan = planOf(DedupOps.spanDedupStats(Tables.documents(spark, sf0)))
    val generates = "Generate explode".r.findAllIn(plan).length
    assert(generates == 1, s"expected 1 explode, got $generates:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("ngram_novelty: single linear pipeline — one scan, one explode, no join") {
    val plan = planOf(DocOps.ngramNovelty(Tables.documents(spark, sf0)))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    val generates = "Generate explode".r.findAllIn(plan).length
    assert(generates == 1, s"expected 1 explode, got $generates:\n$plan")
    assert(!plan.contains("Join"), s"df must come from the window:\n$plan")
  }

  test("dup_stats_by_source: md5 collapses before the fp shuffle, no cartesian") {
    val plan = planOf(DedupOps.dupStatsBySource(Tables.documents(spark, sf0)))
    assert(!plan.contains("CartesianProduct"), plan)
    // the group-size frame joins back on fp (an equi hash join)
    assert(plan.contains("hashpartitioning(fp") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("fuzzy_contamination: split labels join the verified pairs, no cartesian") {
    val plan = planOf(DedupOps.fuzzyContamination(Tables.documents(spark, sf0)))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("mixture_sample: literal CASE filter, no join, no shuffle") {
    val plan = planOf(DocOps.mixtureSample(Tables.documents(spark, sf0),
      (0 until 20).map(i => s"src$i" -> 500000L)))
    assert(!plan.contains("Join"), s"rate lookup must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("trailingRevenue: RANGE frame, single customer exchange") {
    val plan = planOf(AggOps.trailingRevenue(Tables.orders(spark, sf0)))
    assert(plan.contains("RangeFrame"), s"frame is not RANGE:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("fuzzyNamePairs: pair stage runs on the collapsed vocabulary") {
    val plan = planOf(JoinOps.fuzzyNamePairs(Tables.part(spark, sf0)))
    // non-equi band join over the distinct-name frames broadcasts one
    // side — never a partitioned cartesian over raw parts
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both join inputs are the post-aggregation vocabulary frame
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs >= 4, s"vocab agg missing below the join:\n$plan")
  }

  test("doc_chunks: fully narrow — one scan, one explode, ZERO exchanges") {
    val plan = planOf(DocOps.chunkDocuments(Tables.documents(spark, sf0)))
    assert(!plan.contains("Exchange"),
      s"chunking must never shuffle — the chunk multiplier is only safe " +
        s"in the narrow segment:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert("Generate posexplode".r.findAllIn(plan).length == 1, plan)
  }

  test("triangleCounts: every join is an equi-join (no BNL from the " +
    "closure check)") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "c").toDF("src", "dst")
    val plan = planOf(GraphOps.triangleCounts(edges))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"wedge closure must stay an equi-join on (b, c):\n$plan")
  }

  test("hardNegatives: broadcast candidate side + native top-k " +
    "(no global sort, no window)") {
    val plan = planOf(VectorOps.hardNegatives(
      Tables.embeddings(spark, sf0), 3))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"the label-inequality join must build on the broadcast side:\n$plan")
    assert(plan.contains("TopKPerGroup"),
      s"per-vector bound must be the capped-heap operator:\n$plan")
    assert(!plan.contains("Window"), s"no row_number fallback:\n$plan")
  }

  test("paretoFrontier: window runs over the COLLAPSED frame, never the corpus") {
    val plan = planOf(DocOps.paretoFrontier(Tables.documents(spark, sf0)))
    // the window's child must be the per-alpha aggregate (mx), i.e. a
    // HashAggregate sits between the scan and the Window — a Window
    // directly over scan rows would be the serial-corpus-sort trap
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, plan)
    val below = plan.substring(winIdx)
    assert(below.contains("HashAggregate"),
      s"window must consume the collapsed per-alpha aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no dominance self-join:\n$plan")
  }

  test("saltedNationActivity: join key carries the salt") {
    val plan = planOf(SkewOps.saltedNationActivity(
      Tables.events(spark, sf0), Tables.customer(spark, sf0)))
    assert(plan.contains("__salt"), s"salt not in join keys:\n$plan")
    assert(plan.contains("Generate explode") || plan.contains("explode"),
      s"dim not exploded:\n$plan")
  }

  test("dupClusters labels route through the star CC variant") {
    import spark.implicits._
    // Signature of connectedComponentsStar's label frame: a 3-way
    // Union (star edges ∪ roots ∪ isolated) with a LeftAnti for the
    // isolated branch. The propagation baseline's final labels are a
    // single lazily-checkpointed frame — no Union, no anti-join — so
    // a silent revert to it would fail both asserts. (Label equality
    // between the variants is pinned by PropertySpec; result hashes by
    // the dup_clusters / cluster_keep_longest oracle gates.)
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta zeta"),
      (2L, "totally different words here now")).toDF("doc_id", "text")
    val plan = planOf(DedupOps.dupClusters(docs))
    assert(plan.contains("Union"), s"no star-label union:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"no isolated-vertex anti-join:\n$plan")
  }

  test("size guard: oversized dims are NOT force-broadcast") {
    // with the threshold floored, maybeBroadcast must decline the hint
    // and let the planner shuffle — the 100 TB posture where customer
    // no longer fits on the driver
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val plan = planOf(JoinOps.revenueByMktSegment(
        Tables.lineitem(spark, sf0), Tables.orders(spark, sf0),
        Tables.customer(spark, sf0)))
      assert(!plan.contains("BroadcastHashJoin"), plan)
      spark.conf.set(key, old)
      val planDefault = planOf(JoinOps.revenueByMktSegment(
        Tables.lineitem(spark, sf0), Tables.orders(spark, sf0),
        Tables.customer(spark, sf0)))
      assert(planDefault.contains("BroadcastHashJoin"), planDefault)
    } finally spark.conf.set(key, old)
  }

  test("bitmapDistinctRollup: ObjectHashAggregate partials, no Expand") {
    val plan = planOf(EventOps.bitmapDistinctRollup(Tables.events(spark, sf0)))
    assert(plan.contains("ObjectHashAggregate"), plan)
    // count(DISTINCT)'s Expand + raw-row reshuffle must be absent —
    // that's the whole point of the mergeable blob partials
    assert(!plan.contains("Expand"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected day + week exchanges only:\n$plan")
  }

  test("cusumChangepoints: day-grain collapse first, one shared sort") {
    val plan = planOf(EventOps.cusumChangepoints(Tables.events(spark, sf0)))
    // all three Window nodes (running sum + rank, per-type totals,
    // the max-|cusum| flag) must sit over ONE sort of the day-grain
    // frame — the log itself is never sorted
    val sorts = "Sort ".r.findAllIn(plan).length
    assert(sorts == 1, s"expected exactly one sort, got $sorts:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"agg + window exchanges only:\n$plan")
    // the Window's child chain contains the HashAggregate collapse
    assert(plan.contains("HashAggregate"), plan)
  }

  test("jaccardPrefixPairs: every join is an equi-join (no nested loop)") {
    // and the frame is pure: building it starts no job, no checkpointed
    // ExistingRDD leaf hides a subtree, and the native shingle-set kernel
    // shows in explain
    val docs = Tables.documents(spark, sf0)
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    val df = try DedupOps.jaccardPrefixPairs(docs, 0.5)
      finally { ListenerDrain(sc); sc.removeSparkListener(listener) }
    assert(jobs.get == 0, "building the DataFrame started a job")
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.nodeName)
    assert(!leaves.exists(n => n == "LogicalRDD" || n.contains("ExistingRDD")),
      leaves)
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    assert(explained.contains("graft_shingle_hashes("), explained)
    assert(!explained.contains("ExistingRDD"), explained)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("jaccardPrefixPairs: one shingle kernel per posting branch") {
    // an inner explode(hs) lets Spark infer size(hs) > 0 and push it
    // below the projection of hs, evaluating the kernel twice per doc
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val df = DedupOps.jaccardPrefixPairs(Tables.documents(spark, sf0), 0.5)
    val postings = df.queryExecution.optimizedPlan.collect {
      case g: Generate => g
    }
    assert(postings.nonEmpty)
    for (g <- postings) {
      val kernels = g.child.flatMap(_.expressions.flatMap(_.collect {
        case k: graft.functions.ShingleHashes => k
      }))
      assert(kernels.size == 1, g.treeString)
    }
  }

  test("timeDecayEngagement: one broadcast anchor, no windows") {
    val plan = planOf(EventOps.timeDecayEngagement(Tables.events(spark, sf0)))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan) // 1-row anchor cross join
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"one user_id agg exchange only:\n$plan")
  }

  test("ewmaDailyCounts: banded self-join runs on the COLLAPSED daily " +
      "frame via the type equi-key, never the raw log") {
    val plan = planOf(EventOps.ewmaDailyCounts(Tables.events(spark, sf0)))
    // the (type, day) collapse precedes the join on both sides
    assert("HashAggregate\\(keys=\\[event_type".r
      .findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"banded join lost its event_type equi-key:\n$plan")
  }

  test("sequencePacking: composite (source, bucket) prefix windows, " +
      "bounded offsets broadcast, no single-partition window") {
    val df = DocOps.sequencePacking(Tables.documents(spark, sf0))
    val plan = planOf(df)
    // the groupedRunningSum shape: intra window partitioned by
    // (source, __gr_bucket), offsets window by source over the
    // per-bucket totals aggregate, offsets broadcast back
    assert(plan.contains("__gr_bucket"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    // no window partitioned by the bare tiny source domain over a
    // non-collapsed frame (the r15 sweep's invariant, asserted here
    // at the operator too)
    assert(tinyDomainWindowOffenders(df.queryExecution.executedPlan).isEmpty)
  }

  test("packedShards: no window partition exceeds shard grain") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = DocOps.packedShards(Tables.documents(spark, sf0))
    def expand(x: SparkPlan): Seq[SparkPlan] =
      x.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => (a: SparkPlan) +: expand(a.executedPlan)
        case n => Seq(n)
      }
    val windows = expand(df.queryExecution.executedPlan).collect {
      case w: WindowExec => w
    }
    assert(windows.nonEmpty)
    for (w <- windows) {
      val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
      // every window is either the packing window at (source,
      // shard_id) grain — char-bounded partitions by construction —
      // or a groupedRunningSum internal keyed by the bucket ordinal
      assert(keys.contains("shard_id") || keys.contains("__gr_bucket") ||
        // the per-(source) offsets prefix runs over the ≤ buckets+1
        // per-bucket totals aggregate, bounded by construction
        w.child.toString.contains("Aggregate"),
        s"window partitioned above shard grain (keys=$keys):\n$w")
    }
    assert(tinyDomainWindowOffenders(df.queryExecution.executedPlan).isEmpty)
  }

  test("typeAssocRules: margins broadcast; basket self-join keeps its " +
      "user_id equi-key") {
    val plan = planOf(EventOps.typeAssocRules(Tables.events(spark, sf0)))
    assert(!plan.contains("CartesianProduct"), plan)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"margin joins should broadcast:\n$plan")
  }

  test("growthAccounting: one user-partitioned lag window over the " +
      "distinct frame; day-1 join is an equi-join") {
    val plan = planOf(EventOps.growthAccounting(Tables.events(spark, sf0)))
    assert("Window".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("acfDailyCounts: the lag shift is an equi-join on the " +
      "materialized day+lag key, not a theta join") {
    val plan = planOf(EventOps.acfDailyCounts(Tables.events(spark, sf0)))
    assert(!plan.contains("CartesianProduct"), plan)
    // only the tiny lags/bounds frames may ride a nested-loop cross
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnl <= 2, s"shift join degenerated to BNL:\n$plan")
  }

  test("serial-window sweep: every registered query's unpartitioned " +
      "windows run over a COLLAPSED frame") {
    // The r11→r12 rank lesson as a regression gate (judge task r12#6):
    // an unpartitioned WindowExec sorts its whole input in ONE task,
    // so it is only ever acceptable over a frame already collapsed to
    // a bounded domain. Sweep ALL registered queries; each serial
    // window's child must carry one of the whitelisted bounded-frame
    // markers. AQE wraps plans in AdaptiveSparkPlanExec (a leaf to
    // collect()), so expand through it explicitly.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec

    // Bounded domains a serial window IS allowed to order by — every
    // one collapses upstream of the window to a frame whose size is
    // structural, not data-proportional (a second check below requires
    // that collapse to actually be in the child plan):
    val boundedOrderKeys = Set(
      "__gr_bucket", // RankOps per-bucket totals: ≤ targetBuckets + 1 rows
      "decile",      // the 10-row decile frame (lorenz)
      "day",         // calendar-day grain: one row per observed day
      "d",           // day-ordinal grain (rolling_distinct_users blobs)
      "t",           // tenure-day grain (KM survival / hazard: ≤ span days)
      "bin",         // fixed integer value bins (KS drift grid)
      "round",       // BPE merge round: ≤ the rounds literal
      "vb",          // selectUnderBudget value-bucket: ≤ targetBuckets
      "alpha_ratio", // paretoFrontier per-alpha agg: round(x,4) on [0,1] → ≤ 10001
      "b",           // sortedNeighborhoodPairs block = first char: ≤ |alphabet|
      "n_tokens",    // unimaxAllocation waterfill: per-SOURCE collapse,
      "source",      //   |sources| categorical domain (n_tokens is its sort key)
      "v",           // kruskalWallis pooled-midrank prefix: DISTINCT daily-count
                     //   values (a collapsed value grid ≤ |distinct counts|)
      "cv",          // exact cents/bin value grid (ansari/moods/gpd/hl):
                     //   value-DOMAIN-bounded, the "v"/"bin" convention
      "y",           // runsTestDaily order-statistic probe: the calendar-day
                     //   grain's count column (one row per day — the "day"
                     //   convention applied to its count as a sort key)
      "n_docs",      // kendallWSources per-SOURCE collapse: the three rank
      "tot_chars",   //   windows order the |sources|-row aggregate by its
      "max_chars"    //   own metrics (the n_tokens/source precedent)
    )

    def expand(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => (a: SparkPlan) +: expand(a.executedPlan)
        case n => Seq(n)
      }

    val offenders = scala.collection.mutable.ListBuffer[String]()
    val broken = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val serial =
        try expand(fn(spark, sf0).queryExecution.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        catch { case e: Exception => broken += s"$name: $e"; Seq.empty }
      for (w <- serial) {
        val orderNames = w.orderSpec
          .flatMap(_.child.references.toSeq.map(_.name)).distinct
        val collapsed = w.child.toString.contains("HashAggregate")
        val ok =
          if (orderNames.nonEmpty)
            orderNames.forall(boundedOrderKeys.contains) && collapsed
          else
            // an UNORDERED global window (grand-total frame) needs no
            // sort — allowed when its child is an aggregate collapsed
            // onto a whitelisted bounded key (lorenz's decile total)
            collapsed && boundedOrderKeys.exists(k =>
              w.child.toString.contains(s"keys=[$k"))
        if (!ok)
          offenders += s"$name (orders by ${orderNames.mkString(",")}, " +
            s"collapsed=$collapsed):\n${w.toString.take(1500)}"
      }
    }
    assert(broken.isEmpty, s"queries failing to PLAN at sf0.001:\n" +
      broken.mkString("\n"))
    assert(offenders.isEmpty,
      s"serial windows over non-collapsed frames:\n" +
        offenders.mkString("\n---\n"))
  }

  // Column names whose value domain is structurally TINY (a handful of
  // categorical values, data-size-independent). A window partitioned
  // ONLY by these is the serial-sort trap in disguise: each partition
  // holds a data-proportional slice (≈ N / |domain| rows) that one
  // task must sort — the r14 quantileNormalizeByType/interarrivalStats
  // lesson (judge task r15#2), as a regression gate like the
  // unpartitioned sweep became in r12.
  private val tinyDomainPartitionKeys = Set(
    "event_type", "et",              // ~5 event types
    "source",                        // ~4 document sources
    "lang", "language",              // ~5 languages
    "priority", "o_orderpriority",   // 5 TPC-H priorities
    "l_returnflag", "l_linestatus",  // 3 / 2 values
    "l_shipmode", "shipmode",        // 7 values
    "r_name", "region",              // 5 regions
    "arm",                           // 2 experiment arms
    "dow",                           // 7 weekdays
    "half"                           // 2 drift halves
  )

  /** The shared detector for the tiny-domain sweep and its regression
    * fixture: windows whose EVERY partition key is drawn from the
    * tiny-domain set and whose child is not already collapsed by an
    * aggregate (HashAggregate/ObjectHashAggregate/SortAggregate —
    * a collapsed child is bounded-per-partition by construction) nor
    * capped by a rank-limit pushdown (WindowGroupLimit: the PARTIAL
    * limit truncates every map partition to ≤ k rows per group before
    * the shuffle, so the final per-group sort is limit-scaled, not
    * data-proportional — stratified_sample's top-k-per-lang shape). */
  private def tinyDomainWindowOffenders(
      p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def expand(x: SparkPlan): Seq[SparkPlan] =
      x.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => (a: SparkPlan) +: expand(a.executedPlan)
        case n => Seq(n)
      }
    expand(p).collect {
      case w: WindowExec if w.partitionSpec.nonEmpty &&
          w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
            .forall(tinyDomainPartitionKeys.contains) &&
          !w.child.toString.contains("Aggregate") &&
          !w.child.toString.contains("WindowGroupLimit") => w
    }
  }

  test("tiny-domain-partition window sweep: every window partitioned " +
      "only by low-cardinality domain keys runs over a COLLAPSED frame") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val broken = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val hits =
        try tinyDomainWindowOffenders(
          fn(spark, sf0).queryExecution.executedPlan)
        catch { case e: Exception => broken += s"$name: $e"; Seq.empty }
      for (w <- hits) offenders += s"$name:\n${w.toString.take(1500)}"
    }
    assert(broken.isEmpty, s"queries failing to PLAN at sf0.001:\n" +
      broken.mkString("\n"))
    assert(offenders.isEmpty,
      "windows partitioned by a tiny categorical domain over " +
        s"non-collapsed (data-proportional) frames:\n" +
        offenders.mkString("\n---\n"))
  }

  test("tiny-domain window detector catches the old flat-window form " +
      "(deliberately-regressed fixture)") {
    import org.apache.spark.sql.expressions.Window
    // the exact pre-r15 quantileNormalizeByType shape: row_number over
    // raw events partitioned by the ~5-value event_type
    val regressed = Tables.events(spark, sf0)
      .withColumn("r_t", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)))
    val hits = tinyDomainWindowOffenders(
      regressed.queryExecution.executedPlan)
    assert(hits.nonEmpty, "detector failed to flag a flat per-event_type " +
      "window over the raw event frame")
    // …while the rewritten production plan stays clean
    val fixed = tinyDomainWindowOffenders(
      EventOps.quantileNormalizeByType(Tables.events(spark, sf0))
        .queryExecution.executedPlan)
    assert(fixed.isEmpty, fixed.mkString("\n"))
    val gaps = tinyDomainWindowOffenders(
      EventOps.interarrivalStats(Tables.events(spark, sf0))
        .queryExecution.executedPlan)
    assert(gaps.isEmpty, gaps.mkString("\n"))
  }

  test("kmSurvivalHorizons and psiTypeDrift: single-scan collapses, " +
      "scalar frames broadcast, no cartesian") {
    val km = planOf(EventOps.kmSurvivalHorizons(Tables.events(spark, sf0)))
    assert(!km.contains("CartesianProduct"), km)
    val psi = planOf(EventOps.psiTypeDrift(Tables.events(spark, sf0)))
    assert(!psi.contains("CartesianProduct"), psi)
    // psi: the (type, half) collapse precedes everything
    assert(psi.contains("HashAggregate(keys=[event_type"), psi)
  }
}
