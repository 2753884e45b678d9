package graft

import org.apache.spark.sql.functions._
import graft.ops.VectorOps

/** Hand-computed / structural fixtures for the round-17 additions,
  * beside their oracle gates (the StatsFixturesR16Spec discipline).
  *
  * The ANN-diagnostic parity tests pin the one identity the IVF
  * shortlist forms must satisfy exactly: with nprobe = nlist every
  * vector probes every list, the candidate set degenerates to all
  * pairs, and the ANN estimator is bit-identical to the exact one —
  * so any divergence at smaller nprobe is ATTRIBUTABLE to shortlist
  * truncation alone, never to a scoring or pipeline drift. */
class StatsFixturesR17Spec extends SparkSpec {
  import spark.implicits._
  import graft.ops.EventOps

  private def eventsFrom(rows: Seq[(String, Long, String, Double)]) =
    rows.toDF("s", "user_id", "event_type", "value")
      .select(col("s").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))

  test("shapley attribution, asymmetric hand case: coalitions " +
      "{A}:1, {A,B}:3, {}:1 conversions -> phi_A 2.5, phi_B 1.5, " +
      "efficiency = v(full) - v(empty) = 4") {
    // u1 touches A and converts once; u3 touches A+B, converts 3x;
    // u4 converts once with NO channel touch (the structural-zero
    // baseline the dummy axiom must leave unattributed); u2 touches
    // B but never converts
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "A", 1.0),
      ("2024-01-01 01:00:00", 1L, "purchase", 1.0),
      ("2024-01-01 00:00:00", 2L, "B", 1.0),
      ("2024-01-01 00:00:00", 3L, "A", 1.0),
      ("2024-01-01 00:10:00", 3L, "B", 1.0),
      ("2024-01-01 01:00:00", 3L, "purchase", 1.0),
      ("2024-01-01 02:00:00", 3L, "purchase", 1.0),
      ("2024-01-01 03:00:00", 3L, "purchase", 1.0),
      ("2024-01-01 00:00:00", 4L, "purchase", 1.0)))
    val got = EventOps.shapleyAttribution(ev).collect()
      .map(r => r.getAs[String]("channel") ->
        r.getAs[Double]("shapley_conversions")).toMap
    // v(0)=1, v(A)=2, v(B)=1, v(AB)=5:
    // phi_A = ((2-1) + (5-1))/2 = 2.5; phi_B = ((1-1) + (5-2))/2 = 1.5
    assert(got == Map("A" -> 2.5, "B" -> 1.5), got.toString)
  }

  test("shapley efficiency on the real slice: credits sum to " +
      "v(full) - v(empty) exactly") {
    val ev = Tables.events(spark, sf0)
    val phis = EventOps.shapleyAttribution(ev).collect()
      .map(_.getAs[Double]("shapley_conversions"))
    val convByUser = ev.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("c"),
        sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
          .as("t"))
    val vFullMinusEmpty = convByUser.filter(col("t") > 0L)
      .agg(sum("c")).collect().head.getLong(0)
    assert(math.abs(phis.sum - vFullMinusEmpty) < 1e-6,
      s"sum=${phis.sum} expected $vFullMinusEmpty")
  }

  test("permutation entropy hand case: counts [1,2,3,4,3,2] -> " +
      "patterns {012:2, 021:1, 210:1}, H = 2 bits' worth of ln") {
    val rows = Seq(1, 2, 3, 4, 3, 2).zipWithIndex.flatMap { case (c, d) =>
      (1 to c).map(i => (f"2024-01-0${d + 1} 0$i:00:00", i.toLong, "x", 1.0))
    }
    val got = EventOps.permutationEntropyDaily(eventsFrom(rows))
      .collect().head
    assert(got.getAs[Long]("n_triples") == 4L)
    assert(got.getAs[Long]("n_patterns") == 3L)
    // all three -p ln p terms equal 0.5 ln 2 = 0.25 ln 4 -> hsum =
    // 3 * rint(1e6 * 0.5 ln 2)
    val hm = math.rint(0.5 * math.log(2.0) * 1e6)
    val h = math.rint(3 * hm / 1e6 * 1e4) / 1e4
    val hn = math.rint(3 * hm / 1e6 / math.log(6.0) * 1e4) / 1e4
    assert(got.getAs[Double]("perm_entropy") == h, got.toString)
    assert(got.getAs[Double]("perm_entropy_norm") == hn, got.toString)
  }

  test("sample entropy hand case: alternating [1,3,1,3,1,3] -> sigma " +
      "1, r 0.2, A = B = 2, SampEn exactly 0 (not -0.0)") {
    val rows = Seq(1, 3, 1, 3, 1, 3).zipWithIndex.flatMap { case (c, d) =>
      (1 to c).map(i => (f"2024-01-0${d + 1} 0$i:00:00", i.toLong, "x", 1.0))
    }
    val got = EventOps.sampleEntropyDaily(eventsFrom(rows))
      .collect().head
    assert(got.getAs[Long]("n_days") == 6L)
    assert(got.getAs[Double]("sigma") == 1.0)
    assert(got.getAs[Double]("r_thresh") == 0.2)
    assert(got.getAs[Long]("b_count") == 2L)
    assert(got.getAs[Long]("a_count") == 2L)
    val sampen = got.getAs[Double]("sampen")
    assert(sampen == 0.0 &&
      !(java.lang.Double.doubleToRawLongBits(sampen) != 0L), got.toString)
  }

  test("IPF raking agrees with a plain-Scala micro-pinned mirror on a " +
      "2x2 with a structural zero; marginals converge toward uniform") {
    import graft.ops.DocOps
    val docs = (Seq.fill(3)(("A", "x")) ++ Seq(("A", "y")) ++
      Seq(("B", "x"))).zipWithIndex
      .map { case ((s0, l), i) => (i.toLong, s0, l, "t") }
      .toDF("doc_id", "source", "lang", "text")
    // mirror: cells (A,x,3) (A,y,1) (B,x,1); N=5, ns=nl=2
    var w = Map(("A", "x") -> 3000000L, ("A", "y") -> 1000000L,
      ("B", "x") -> 1000000L)
    val rowT = 5.0 * 1000000.0 / 2.0
    val colT = 5.0 * 1000000.0 / 2.0
    def scale(key: ((String, String)) => String, tgt: Double): Unit = {
      val sums = w.groupBy { case (k, _) => key(k) }
        .map { case (g, m) => g -> m.values.sum }
      w = w.map { case (k, v) =>
        k -> math.rint(v.toDouble * (tgt / sums(key(k)).toDouble)).toLong }
    }
    for (_ <- 1 to 3) { scale(_._1, rowT); scale(_._2, colT) }
    val rowErr = w.groupBy(_._1._1).map { case (_, m) =>
      math.abs(m.values.sum.toDouble - rowT) / rowT }.max
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = DocOps.ipfSourceLangWeights(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("cell_mass"),
          r.getAs[Double]("doc_weight"), r.getAs[Double]("row_rel_err"))))
      .toMap
    assert(got.size == 3, "structural zero must stay absent")
    w.foreach { case (k, v) =>
      val n = Map(("A", "x") -> 3L, ("A", "y") -> 1L, ("B", "x") -> 1L)(k)
      assert(got(k) == ((n, r6(v / 1e6), r6(v / 1e6 / n), r6(rowErr))),
        s"$k: ${got(k)} vs mirror ${(n, r6(v / 1e6), r6(v / 1e6 / n))}")
    }
    // B (one cell) must be upweighted toward half the mass
    assert(got(("B", "x"))._2 > 1.5, got.toString)
  }

  test("KM Greenwood CI hand case: churns {2x at t=2 of 5, 1x at t=4 " +
      "of 3} -> S = 0.4, Var = S^2 * 0.3; horizon 1 has S = 1, NULL CI") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 0L, "x", 1.0), ("2024-01-02 00:00:00", 0L, "x", 1.0),
      ("2024-01-01 00:00:00", 1L, "x", 1.0), ("2024-01-02 00:00:00", 1L, "x", 1.0),
      ("2024-01-01 00:00:00", 2L, "x", 1.0), ("2024-01-04 00:00:00", 2L, "x", 1.0),
      ("2024-01-01 00:00:00", 3L, "x", 1.0), ("2024-01-10 00:00:00", 3L, "x", 1.0),
      ("2024-01-01 00:00:00", 4L, "x", 1.0), ("2024-01-10 00:00:00", 4L, "x", 1.0)))
    val lns = math.rint(math.log(3.0 / 5.0) * 1e10) / 1e10 +
      math.rint(math.log(2.0 / 3.0) * 1e10) / 1e10
    val gw = (math.rint(2.0 / (5.0 * 3.0) * 1e12) +
      math.rint(1.0 / (3.0 * 2.0) * 1e12)) / 1e12
    val sEst = math.exp(lns)
    val se = sEst * math.sqrt(gw)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = EventOps.kmGreenwoodCi(ev).collect()
      .map(r => r.getAs[Int]("horizon") -> r).toMap
    assert(got(1).getAs[Double]("survival") == 1.0)
    assert(got(1).isNullAt(got(1).fieldIndex("se")))
    Seq(7, 14, 30).foreach { h =>
      val r0 = got(h)
      assert(r0.getAs[Long]("n_churned") == 3L)
      assert(r0.getAs[Double]("survival") == r6(sEst), r0.toString)
      assert(r0.getAs[Double]("se") == r6(se), r0.toString)
      assert(r0.getAs[Double]("ci_lo") ==
        r6(math.max(sEst - 1.959964 * se, 0.0)))
      assert(r0.getAs[Double]("ci_hi") ==
        r6(math.min(sEst + 1.959964 * se, 1.0)))
    }
  }

  test("last-digit uniformity: digits {1 x5, 2 x5} -> chi2 = 40, " +
      "flagged; uniform digits acquit") {
    val ev = eventsFrom((1 to 5).map(i =>
      (f"2024-01-01 0$i:00:00", i.toLong, "x", 0.01)) ++
      (1 to 5).map(i => (f"2024-01-01 1$i:00:00", i.toLong, "x", 0.02)))
    val got = EventOps.lastDigitUniformity(ev).collect().head
    assert(got.getAs[Long]("n_events") == 10L)
    assert(got.getAs[Long]("n_digits") == 2L)
    assert(got.getAs[Long]("max_count") == 5L)
    assert(got.getAs[Double]("chi2") == 40.0, got.toString)
    assert(got.getAs[Boolean]("significant"))
    val uni = eventsFrom((0 to 9).map(i =>
      (f"2024-01-01 0${i % 10}:10:00", i.toLong, "x", i.toDouble / 100.0)))
    val g1 = EventOps.lastDigitUniformity(uni).collect().head
    assert(g1.getAs[Double]("chi2") == 0.0)
    assert(!g1.getAs[Boolean]("significant"))
  }

  test("huber m-location agrees with a plain-Scala pinned IRLS mirror " +
      "on {10,10,10,100}; the outlier is downweighted toward the bulk") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "x", 10.0),
      ("2024-01-01 01:00:00", 2L, "x", 10.0),
      ("2024-01-01 02:00:00", 3L, "x", 10.0),
      ("2024-01-01 03:00:00", 4L, "x", 100.0)))
    val cells = Seq((1000L, 3L), (10000L, 1L))
    val n = 4L; val sSum = 13000L; val ss = BigInt(3) * 1000000 + BigInt(100000000)
    val mu0 = sSum.toDouble / n
    val sigma = math.sqrt((BigInt(n) * ss - BigInt(sSum) * sSum).toDouble /
      (BigInt(n) * n).toDouble)
    def step(mu: Double): Double = {
      val (swx, swk) = cells.map { case (x, k) =>
        val dev = math.abs(x.toDouble - mu)
        val w = if (dev <= 1.345 * sigma) 1.0 else 1.345 * sigma / dev
        (math.rint(k.toDouble * w * x.toDouble * 1000.0).toLong,
          math.rint(k.toDouble * w * 1000000.0).toLong)
      }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      swx.toDouble * 1000.0 / swk.toDouble
    }
    var mu = mu0
    for (_ <- 1 to 3) mu = step(mu)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = EventOps.huberMLocationByType(ev).collect().head
    assert(got.getAs[String]("event_type") == "x")
    assert(got.getAs[Long]("n") == 4L)
    assert(got.getAs[Double]("mean_value") == r6(mu0 / 100.0))
    assert(got.getAs[Double]("sigma_value") == r6(sigma / 100.0))
    assert(got.getAs[Double]("huber_mean") == r6(mu / 100.0), got.toString)
    assert(got.getAs[Long]("n_downweighted") == 1L)
    assert(got.getAs[Double]("huber_mean") < got.getAs[Double]("mean_value"),
      "the outlier must be downweighted toward the bulk")
  }

  test("markov next-event accuracy: hand split -> model A->B/B->A, " +
      "test 2/3 correct, unseen context counted wrong, baseline 1/3") {
    // the pair window orders by (ts, event_id) — the fixture needs
    // the id column the shared eventsFrom helper omits
    val ev = Seq(
      ("2024-01-01 00:00:00", 1L, "A", 10L),
      ("2024-01-01 01:00:00", 1L, "B", 11L),
      ("2024-01-01 02:00:00", 1L, "A", 12L),
      ("2024-01-01 03:00:00", 1L, "B", 13L),
      ("2024-01-09 00:00:00", 2L, "A", 14L),
      ("2024-01-09 01:00:00", 2L, "B", 15L),
      ("2024-01-09 02:00:00", 2L, "A", 16L),
      ("2024-01-09 03:00:00", 2L, "C", 17L))
      .toDF("s", "user_id", "event_type", "event_id")
      .select(col("s").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("event_id"))
    val got = EventOps.markovNextEventAccuracy(ev).collect().head
    assert(got.getAs[Long]("n_train") == 3L, got.toString)
    assert(got.getAs[Long]("n_test") == 3L, got.toString)
    assert(got.getAs[Long]("n_correct") == 2L, got.toString)
    assert(got.getAs[Long]("n_unseen_context") == 0L, got.toString)
    assert(got.getAs[String]("majority_type") == "B")
    assert(got.getAs[Double]("accuracy") ==
      math.rint(2.0 / 3.0 * 1e6) / 1e6)
    assert(got.getAs[Double]("baseline_accuracy") ==
      math.rint(1.0 / 3.0 * 1e6) / 1e6)
  }

  test("brier decomposition hand case: {0 miss, 50 miss, 100 hit} -> " +
      "Murphy terms, zero within-bin variance at one point per bin") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "view", 0.0),
      ("2024-01-01 01:00:00", 2L, "view", 50.0),
      ("2024-01-01 02:00:00", 3L, "purchase", 100.0)))
    val got = EventOps.brierDecomposition(ev).collect().head
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.getAs[Long]("n_events") == 3L)
    // direct: only the 50-point misses its outcome by 0.5
    assert(got.getAs[Double]("brier") == r6(0.25 / 3.0), got.toString)
    assert(got.getAs[Double]("reliability") == r6(0.25 / 3.0))
    assert(got.getAs[Double]("resolution") ==
      math.rint((111111 + 111111 + 444444) / 1e6 / 3.0 * 1e6) / 1e6)
    assert(got.getAs[Double]("uncertainty") == r6(1.0 / 3.0 * (2.0 / 3.0)))
    assert(got.getAs[Double]("within_bin_var") == 0.0, got.toString)
  }

  test("tripletMiningIvf with nprobe = nlist is bit-identical to the " +
      "exact tripletMining (candidate set degenerates to all pairs)") {
    val emb = Tables.embeddings(spark, sf0)
    val cents = VectorOps.sampleCentroids(emb, 16)
    val exact = VectorOps.tripletMining(emb).collect()
      .map(_.toSeq).toSet
    val ann = VectorOps.tripletMiningIvf(emb, cents, nprobe = 16)
      .collect().map(_.toSeq).toSet
    assert(ann == exact,
      s"IVF at full probe diverged: ${(ann -- exact).take(3)} vs " +
        s"${(exact -- ann).take(3)}")
    // at nprobe = 2 the candidate set shrinks: output anchors are a
    // subset and every emitted pos/neg is a valid candidate pair
    val scoped = VectorOps.tripletMiningIvf(emb, cents, nprobe = 2)
      .collect()
    assert(scoped.nonEmpty && scoped.length <= exact.size)
  }

  test("value MMD drift: closed-form moment identity on a planted " +
      "two-half fixture; identical halves give exactly zero") {
    // first half values {10, 20}, second {10, 20}: identical moments
    val same = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "x", 10.0),
      ("2024-01-01 01:00:00", 1L, "x", 20.0),
      ("2024-01-09 00:00:00", 2L, "x", 10.0),
      ("2024-01-09 01:00:00", 2L, "x", 20.0)))
    val g0 = EventOps.valueMmdDrift(same).collect().head
    assert(g0.getAs[Long]("n_first") == 2L && g0.getAs[Long]("n_second") == 2L)
    assert(g0.getAs[Double]("mmd_sq") == 0.0, g0.toString)
    // shifted second half {30, 40}: dm = -2000 cents, dq = 2.5e6-...
    val shifted = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "x", 10.0),
      ("2024-01-01 01:00:00", 1L, "x", 20.0),
      ("2024-01-09 00:00:00", 2L, "x", 30.0),
      ("2024-01-09 01:00:00", 2L, "x", 40.0)))
    val g1 = EventOps.valueMmdDrift(shifted).collect().head
    val dm = 1500.0 - 3500.0
    val dq = (1000.0 * 1000 + 2000.0 * 2000) / 2 -
      (3000.0 * 3000 + 4000.0 * 4000) / 2
    def r(x: Double, k: Int) = math.rint(x * math.pow(10, k.toDouble)) /
      math.pow(10, k.toDouble)
    assert(g1.getAs[Double]("mean_diff") == r(dm / 100.0, 6))
    assert(g1.getAs[Double]("mmd_linear") == r(2.0 * dm * dm / 1e8, 8))
    assert(g1.getAs[Double]("mmd_quad") == r((dq / 1e8) * (dq / 1e8), 8))
    assert(g1.getAs[Double]("mmd_sq") ==
      r(2.0 * dm * dm / 1e8 + (dq / 1e8) * (dq / 1e8), 8), g1.toString)
  }

  test("obrien-fleming monitor: 5 looks, boundary shrinks as sqrt(K/k), " +
      "denominators grow monotonically with the cutoff") {
    val ev = Tables.events(spark, sf0)
    val got = EventOps.obrienFlemingMonitor(ev).collect()
      .sortBy(_.getAs[Long]("look"))
    assert(got.length == 5)
    val bounds = got.map(_.getAs[Double]("obf_bound"))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    (1 to 5).foreach(k => assert(bounds(k - 1) ==
      r6(1.959964 * math.sqrt(5.0 / k))))
    val ns = got.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a <= b },
      s"denominators must grow: ${ns.toSeq}")
    val convs = got.map(r => r.getAs[Long]("conv_a") + r.getAs[Long]("conv_b"))
    assert(convs.zip(convs.tail).forall { case (a, b) => a <= b })
    // the final look is the full-window abConversionZtest population
    val full = EventOps.abConversionZtest(ev).collect().head
    assert(got.last.getAs[Long]("n_a") == full.getAs[Long]("n_a"))
    assert(got.last.getAs[Long]("conv_a") == full.getAs[Long]("conv_a"))
  }

  test("BY step-up: q inflated by the harmonic factor over BH, same " +
      "ranks, rejections a subset of BH's") {
    val ev = Tables.events(spark, sf0)
    val bh = EventOps.bhFdrTypePairs(ev).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("rk"), r.getAs[Double]("p_bh"),
          r.getAs[Boolean]("rejected")))).toMap
    val by = EventOps.byFdrTypePairs(ev).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("rk"), r.getAs[Double]("p_by"),
          r.getAs[Boolean]("rejected")))).toMap
    assert(bh.keySet == by.keySet)
    bh.foreach { case (k, (rk, pbh, rej)) =>
      val (rk2, pby, rej2) = by(k)
      assert(rk == rk2, s"$k rank drift")
      assert(pby >= pbh - 1e-9, s"$k BY must be >= BH: $pby vs $pbh")
      assert(!rej2 || rej, s"$k BY rejection must imply BH's")
    }
  }

  test("breusch-pagan: perfect linear fit -> NULL (zero aux " +
      "variance); planted variance growth flags heteroskedastic") {
    // y = t exactly: residuals 0 -> den2 = 0 -> NULL lanes
    val lin = (1 to 6).flatMap(d => (1 to d).map(i =>
      (f"2024-01-0$d 0$i:00:00", i.toLong, "x", 1.0)))
    val g0 = EventOps.breuschPaganDaily(eventsFrom(lin)).collect().head
    assert(g0.getAs[Long]("n_days") == 6L)
    assert(g0.isNullAt(g0.fieldIndex("lm_stat")), g0.toString)
    assert(!g0.getAs[Boolean]("significant"))
    // counts [3,3,3,3,1,9,1,9]: flat then violently alternating —
    // residual magnitude grows with t, the BP alternative
    val het = Seq(3, 3, 3, 3, 1, 9, 1, 9).zipWithIndex.flatMap {
      case (c, d) => (1 to c).map(i =>
        (f"2024-01-0${d + 1} 0$i:00:00", i.toLong, "x", 1.0))
    }
    val g1 = EventOps.breuschPaganDaily(eventsFrom(het)).collect().head
    assert(!g1.isNullAt(g1.fieldIndex("lm_stat")), g1.toString)
    val lm = g1.getAs[Double]("lm_stat")
    val r2 = g1.getAs[Double]("r2_aux")
    assert(lm > 0.0 && r2 > 0.0 && r2 <= 1.0, g1.toString)
    assert(math.abs(lm - 8.0 * r2) < 1e-4, g1.toString)
  }

  test("chow break: perfect level shift [1*4, 5*4] -> SSE halves 0, " +
      "full SSE 7.619048, F NULL (infinite); noisy break yields F") {
    val break0 = Seq(1, 1, 1, 1, 5, 5, 5, 5)
    val rows = break0.zipWithIndex.flatMap { case (c, d) =>
      (1 to c).map(i => (f"2024-01-0${d + 1} 0$i:00:00", i.toLong, "x", 1.0))
    }
    val got = EventOps.chowBreakDaily(eventsFrom(rows)).collect().head
    assert(got.getAs[Long]("n_days") == 8L &&
      got.getAs[Long]("n_first") == 4L)
    // A=8*104-576=256, B=8*140-864=256, D=8*204-1296=336:
    // SSE_full = (256 - 256^2/336)/8
    val sseF = math.rint((256.0 - 256.0 * 256.0 / 336.0) / 8.0 * 1e6) / 1e6
    assert(got.getAs[Double]("sse_full") == sseF, got.toString)
    assert(got.getAs[Double]("sse_first") == 0.0)
    assert(got.getAs[Double]("sse_second") == 0.0)
    assert(got.isNullAt(got.fieldIndex("f_stat")), got.toString)
    val noisy = Seq(1, 2, 1, 2, 5, 6, 5, 6).zipWithIndex.flatMap {
      case (c, d) => (1 to c).map(i =>
        (f"2024-01-0${d + 1} 0$i:00:00", i.toLong, "x", 1.0))
    }
    val g1 = EventOps.chowBreakDaily(eventsFrom(noisy)).collect().head
    assert(!g1.isNullAt(g1.fieldIndex("f_stat")), g1.toString)
    assert(g1.getAs[Double]("f_stat") > 1.0, g1.toString)
  }

  test("circular hour stats: 6 events at 00h vs 4 at 12h -> C = 2 " +
      "(the 12h sine micro-pins to zero), mean hour 0, Wilkie p") {
    val rows = (1 to 6).map(i => (f"2024-01-01 00:0$i:00", i.toLong, "x", 1.0)) ++
      (1 to 4).map(i => (f"2024-01-01 12:0$i:00", i.toLong, "x", 1.0))
    val got = EventOps.circularHourStats(eventsFrom(rows)).collect().head
    assert(got.getAs[Long]("n_events") == 10L)
    assert(got.getAs[Double]("c_sum") == 2.0, got.toString)
    assert(got.getAs[Double]("s_sum") == 0.0, got.toString)
    assert(got.getAs[Double]("resultant_r") == 0.2)
    assert(got.getAs[Double]("mean_hour") == 0.0)
    val z = 10.0 * 0.2 * 0.2
    assert(got.getAs[Double]("rayleigh_z") ==
      math.rint(z * 1e6) / 1e6)
    val p = math.exp(-z) * (1.0 + (2.0 * z - z * z) / (4.0 * 10.0))
    assert(got.getAs[Double]("p_value") == math.rint(p * 1e6) / 1e6,
      got.toString)
    assert(!got.getAs[Boolean]("significant"))
  }

  test("kde value density: {1.00 x2, 2.00 x1} agrees with a " +
      "plain-Scala pinned Epanechnikov mirror at all 21 gridpoints") {
    val rows = Seq(
      ("2024-01-01 00:00:00", 1L, "x", 1.0),
      ("2024-01-01 01:00:00", 2L, "x", 1.0),
      ("2024-01-01 02:00:00", 3L, "x", 2.0))
    val cells = Seq((100L, 2L), (200L, 1L))
    val n = 3L
    val s1 = cells.map { case (c, k) => c * k }.sum
    val s2 = cells.map { case (c, k) => c * c * k }.sum
    val sigma = math.sqrt((n * s2 - s1.toDouble * s1).toDouble / (n * n))
    val h = 1.06 * sigma * math.pow(n.toDouble, -0.2)
    val expect = (0 until 21).map { j =>
      val gx = 100.0 + j.toDouble * 100.0 / 20.0
      val tsum = cells.map { case (c, k) =>
        val u = (c.toDouble - gx) / h
        if (math.abs(u) < 1.0)
          math.rint(k.toDouble * 0.75 * (1.0 - u * u) * 1e6).toLong
        else 0L
      }.sum
      j.toLong -> ((math.rint(gx / 100.0 * 1e6) / 1e6,
        math.rint(tsum / 1e6 / (n * h) * 100.0 * 1e8) / 1e8))
    }.toMap
    val got = EventOps.kdeValueDensity(eventsFrom(rows)).collect()
      .map(r => r.getAs[Long]("grid_idx") ->
        ((r.getAs[Double]("x"), r.getAs[Double]("density")))).toMap
    assert(got == expect, s"got $got\nexpect $expect")
    // mass sanity: the [min,max] grid TRUNCATES kernel tails (h ~ 40
    // cents on a 100-cent window), so the window integral is well
    // under 1 but far from 0 — positive mass, no blow-up
    val step = (200.0 - 100.0) / 20.0 / 100.0
    val mass = got.values.map(_._2).sum * step
    assert(mass > 0.3 && mass < 1.3, s"mass $mass")
  }

  test("krippendorff alpha hand case: units (a,a),(a,b),(b,b),(b,b) " +
      "-> Do 1/4, De 30/56, alpha = 1 - 14/30") {
    import graft.ops.DocOps
    val units = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"))
      .toDF("lang", "pred_lang")
    val got = DocOps.krippendorffAlpha(units).collect().head
    assert(got.getAs[Long]("n_units") == 4L)
    assert(got.getAs[Long]("n_categories") == 2L)
    assert(got.getAs[Long]("n_disagree") == 1L)
    assert(got.getAs[Double]("do_rate") == 0.25)
    assert(got.getAs[Double]("de_rate") ==
      math.rint(30.0 / 56.0 * 1e6) / 1e6)
    assert(got.getAs[Double]("kripp_alpha") ==
      math.rint((1.0 - 14.0 / 30.0) * 1e6) / 1e6, got.toString)
    // degenerate: one category everywhere -> De = 0 -> NULL alpha
    val one = Seq(("a", "a"), ("a", "a")).toDF("lang", "pred_lang")
    val g0 = DocOps.krippendorffAlpha(one).collect().head
    assert(g0.isNullAt(g0.fieldIndex("kripp_alpha")), g0.toString)
  }

  test("DFA alpha agrees with a plain-Scala pinned mirror on an " +
      "alternating 17-day series; constant series yields no rows") {
    // counts [2,0,2,0,...,2]: zero-filled calendar supplies the 0s
    val ys = (0 until 17).map(i => if (i % 2 == 0) 2L else 0L).toArray
    val rows = ys.zipWithIndex.filter(_._1 > 0L).flatMap { case (c, d) =>
      (1 to c.toInt).map(i =>
        (f"2024-01-${d + 1}%02d 0$i:00:00", i.toLong, "x", 1.0))
    }
    val sizes = Seq(4, 8, 16)
    // mirror of the engine's exact lanes + pinning
    val n = ys.length
    val sy = ys.sum
    val pre = ys.scanLeft(0L)(_ + _).tail
    val p = (1 to n).map(k => n.toLong * pre(k - 1) - k.toLong * sy)
    val perM = sizes.flatMap { m =>
      val nb = n / m
      val sxl = m.toLong * (m + 1) / 2
      val sxxl = m.toLong * (m + 1) * (2 * m + 1) / 6
      val dE = m.toLong * sxxl - sxl * sxl
      val sses = (0 until nb).map { bk =>
        val seg = p.slice(bk * m, bk * m + m)
        val sp = seg.map(BigInt(_)).sum
        val spp = seg.map(v => BigInt(v) * v).sum
        val sxp = seg.zipWithIndex.map { case (v, i) => BigInt(i + 1) * v }.sum
        val aE = BigInt(m) * spp - sp * sp
        val bE = BigInt(m) * sxp - BigInt(sxl) * sp
        val sse = (aE.toDouble - (bE * bE).toDouble / dE.toDouble) /
          (m.toDouble * m)
        math.rint(math.max(sse, 0.0) * 1e6) / 1e6
      }
      val ssum = sses.map(BigDecimal(_)).sum
      if (nb > 0 && ssum > 0) Some((m, nb.toLong, ssum.toDouble)) else None
    }.sortBy(_._1)
    val k = perM.size.toDouble
    val xs = perM.map(t => math.log(t._1.toDouble))
    val yv = perM.map(t => math.log(math.sqrt(t._3 / t._2) / n))
    val alpha = (k * xs.zip(yv).map { case (a, b) => a * b }.sum -
      xs.sum * yv.sum) / (k * xs.map(x => x * x).sum - xs.sum * xs.sum)
    val got = EventOps.dfaAlphaDaily(eventsFrom(rows.toSeq)).collect()
      .map(r => r.getAs[Long]("win_size") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[Double]("fluct"),
          r.getAs[Double]("dfa_alpha")))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got.keySet == perM.map(_._1.toLong).toSet, got.toString)
    perM.foreach { case (m, nb, ssum) =>
      assert(got(m.toLong)._1 == nb)
      assert(got(m.toLong)._2 == r6(math.sqrt(ssum / nb) / n),
        s"m=$m: ${got(m.toLong)}")
    }
    assert(got.values.map(_._3).toSet == Set(r6(alpha)), got.toString)
    // anti-persistent alternation: alpha well below the 0.5 noise line
    assert(alpha < 0.3, s"alternating series should be anti-persistent: $alpha")
    // constant series: linear profile, zero residuals everywhere -> no rows
    val flat = (0 until 16).flatMap(d =>
      Seq((f"2024-01-${d + 1}%02d 00:00:00", 1L, "x", 1.0)))
    assert(EventOps.dfaAlphaDaily(eventsFrom(flat)).collect().isEmpty)
  }

  test("cox PH hand case: risk table {(d=2,d1=1,n0=3,n1=2), " +
      "(d=1,d1=0,n0=2,n1=1)} agrees with a plain-Scala pinned Newton") {
    // u0/u2/u4 arm 0, u1/u3 arm 1; churn at t=2 (u0,u1), t=4 (u2);
    // u3,u4 censored at the window edge (l = max_day)
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 0L, "x", 1.0), ("2024-01-02 00:00:00", 0L, "x", 1.0),
      ("2024-01-01 00:00:00", 1L, "x", 1.0), ("2024-01-02 00:00:00", 1L, "x", 1.0),
      ("2024-01-01 00:00:00", 2L, "x", 1.0), ("2024-01-04 00:00:00", 2L, "x", 1.0),
      ("2024-01-01 00:00:00", 3L, "x", 1.0), ("2024-01-10 00:00:00", 3L, "x", 1.0),
      ("2024-01-01 00:00:00", 4L, "x", 1.0), ("2024-01-10 00:00:00", 4L, "x", 1.0)))
    val rows = Seq((2.0, 1.0, 3.0, 2.0), (1.0, 0.0, 2.0, 1.0))
    def sums(beta: Double): (Long, Long) = {
      val eb = math.rint(math.exp(beta) * 1e12) / 1e12
      val um = rows.map { case (d, d1, n0, n1) =>
        math.rint((d1 - d * n1 * eb / (n0 + n1 * eb)) * 1e6).toLong }.sum
      val im = rows.map { case (d, _, n0, n1) =>
        math.rint(d * n0 * n1 * eb /
          ((n0 + n1 * eb) * (n0 + n1 * eb)) * 1e6).toLong }.sum
      (um, im)
    }
    var b = 0.0
    for (_ <- 1 to 3) {
      val (um, im) = sums(b)
      b += (if (im > 0) um.toDouble / im else 0.0)
    }
    val i = sums(b)._2 / 1e6
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = EventOps.coxPhAb(ev).collect().head
    assert(got.getAs[Long]("n_users_a") == 3L)
    assert(got.getAs[Long]("n_users_b") == 2L)
    assert(got.getAs[Double]("beta") == r6(b), got.toString)
    assert(got.getAs[Double]("hazard_ratio") == r6(math.exp(b)))
    assert(got.getAs[Double]("se") == r6(1.0 / math.sqrt(i)))
    assert(got.getAs[Double]("z_score") == r6(b * math.sqrt(i)))
    assert(!got.getAs[Boolean]("significant"))
    assert(b < 0.0, s"arm B churns less; beta should be negative, got $b")
  }

  test("pettitt changepoint hand case: counts [1,1,1,5,5,5] -> K = 9 " +
      "at day 3, midrank lanes exact") {
    // per day v = n - 2a - e: days 1-3 (y=1): 6-0-3 = 3; days 4-6
    // (y=5): 6-6-3 = -3 -> U = [3,6,9,6,3], max |U| = 9 at day 3
    val rows = (1 to 3).flatMap(d =>
      Seq((f"2024-01-0$d 00:00:00", d.toLong, "x", 1.0))) ++
      (4 to 6).flatMap(d => (1 to 5).map(i =>
        (f"2024-01-0$d 0$i:00:00", d.toLong, "x", 1.0)))
    val got = EventOps.pettittChangepointDaily(eventsFrom(rows))
      .collect().head
    assert(got.getAs[Long]("n_days") == 6L)
    assert(got.getAs[Long]("k_stat") == 9L)
    assert(got.getAs[java.sql.Date]("change_day").toString == "2024-01-03")
    val p = math.rint(2.0 * math.exp(-6.0 * 81.0 / 252.0) * 1e6) / 1e6
    assert(got.getAs[Double]("p_value") == p, got.toString)
    assert(!got.getAs[Boolean]("significant"))
  }

  test("ratio metric delta CI hand case: arm A [10,20|30], arm B " +
      "[10|10] -> R_a 20, var from den spread alone, z = 1.5") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 0L, "x", 10.0),
      ("2024-01-01 01:00:00", 0L, "x", 20.0),
      ("2024-01-01 00:00:00", 2L, "x", 30.0),
      ("2024-01-01 00:00:00", 1L, "x", 10.0),
      ("2024-01-01 00:00:00", 3L, "x", 10.0)))
    val got = EventOps.ratioMetricDeltaCi(ev).collect().head
    // arm A: (num, den) = (3000, 2), (3000, 1): vn = 0, vd = 0.5,
    // cov = 0 -> Var(R) = R^2*0.5 / (2*1.5^2) = 4e6/9; z = 1000/(2000/3)
    assert(got.getAs[Long]("n_a") == 2L && got.getAs[Long]("n_b") == 2L)
    assert(got.getAs[Double]("ratio_a") == 20.0)
    assert(got.getAs[Double]("ratio_b") == 10.0)
    assert(got.getAs[Double]("se_a") == 6.666667, got.toString)
    assert(got.getAs[Double]("se_b") == 0.0)
    assert(got.getAs[Double]("z_score") == 1.5, got.toString)
    assert(!got.getAs[Boolean]("significant"))
  }

  test("tukey HSD hand case: A [10,14], B [20,16], C [12] -> MSW " +
      "80000 cents^2, q(A,B) = 3.0, q(B,C) = 600/sqrt(60000), flag " +
      "flips under a lower qCrit") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "A", 10.0),
      ("2024-01-01 01:00:00", 1L, "A", 14.0),
      ("2024-01-01 00:00:00", 2L, "B", 20.0),
      ("2024-01-01 01:00:00", 2L, "B", 16.0),
      ("2024-01-01 00:00:00", 3L, "C", 12.0)))
    // SSW = 10.96e6 - (2.88 + 6.48 + 1.44)e6 = 160000; df2 = 5-3 = 2
    val got = EventOps.tukeyHsdTypePairs(ev).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("mean_diff"), r.getAs[Double]("q_stat"),
          r.getAs[Boolean]("significant")))).toMap
    val qBC = math.rint(600.0 / math.sqrt(60000.0) * 1e6) / 1e6
    assert(got(("A", "B")) == ((2L, 2L, -6.0, 3.0, false)), got.toString)
    assert(got(("A", "C")) == ((2L, 1L, 0.0, 0.0, false)), got.toString)
    assert(got(("B", "C")) == ((2L, 1L, 6.0, qBC, false)), got.toString)
    // the k=3 fixture's q(A,B)=3.0 clears a 2.9 critical value
    val sig = EventOps.tukeyHsdTypePairs(ev, qCrit = 2.9).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        r.getAs[Boolean]("significant")).toMap
    assert(sig == Map(("A", "B") -> true, ("A", "C") -> false,
      ("B", "C") -> false), sig.toString)
  }

  test("EB shrinkage hand case (DL tau^2): users [10,14], [20,16], " +
      "[12] -> sigma2w=80000 cents^2, tau2=85000, B(n=2)=0.32, " +
      "shrunk mean of user 1 = 12.768") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "x", 10.0),
      ("2024-01-01 01:00:00", 1L, "x", 14.0),
      ("2024-01-01 00:00:00", 2L, "x", 20.0),
      ("2024-01-01 01:00:00", 2L, "x", 16.0),
      ("2024-01-01 00:00:00", 3L, "x", 12.0)))
    val got = EventOps.ebShrunkUserMeans(ev).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(got(1L).getAs[Double]("mean_value") == 12.0)
    assert(got(1L).getAs[Double]("shrink_b") == 0.32)
    assert(got(1L).getAs[Double]("shrunk_mean") == 12.768)
    assert(got(2L).getAs[Double]("shrunk_mean") == 16.848) // 0.32 to grand 14.40
    // n=1 user shrinks HARDER: B = 80000/(80000+85000) = 0.4848..
    assert(got(3L).getAs[Double]("shrink_b") > 0.32)
  }

  test("ERR hand case: hits at ranks 1 and 3 -> 0.5/1 + 0.25/3") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), "a"),
      (1L, Array(0.9f, 0.1f), "a"),  // rank 1, hit
      (2L, Array(0.8f, 0.3f), "b"),  // rank 2
      (3L, Array(0.7f, 0.4f), "a"))  // rank 3, hit
      .toDF("vec_id", "embedding", "label")
    val r = VectorOps.errAtK(emb, Seq(0L), 10).collect().head
    assert(r.getAs[Long]("hits_at_k") == 2L)
    assert(r.getAs[Double]("err_at_k") == 0.583333, r.toString)
  }

  test("RMST hand case: churns at t=1 (S=.75) and t=2 (S=.5), " +
      "censored tails -> RMST(7)=4.25, RMST(14)=7.75, RMST(30)=15.75") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "x", 1.0), // u1: day 1 only, t=1
      ("2024-01-01 00:00:00", 2L, "x", 1.0), // u2: days 1-2, t=2
      ("2024-01-02 00:00:00", 2L, "x", 1.0),
      ("2024-01-01 00:00:00", 3L, "x", 1.0), // u3: censored at t=5
      ("2024-01-05 00:00:00", 3L, "x", 1.0),
      ("2024-01-01 00:00:00", 4L, "x", 1.0), // u4: censored at t=5
      ("2024-01-05 00:00:00", 4L, "x", 1.0)))
    val got = EventOps.rmstHorizons(ev).collect()
      .map(r => r.getAs[Long]("horizon") ->
        r.getAs[Double]("rmst_days")).toMap
    assert(got(7L) == 4.25, got.toString)
    assert(got(14L) == 7.75, got.toString)
    assert(got(30L) == 15.75, got.toString)
  }

  test("ZIP fit hand case: counts {0,0,0,2,3,4,3} -> lambda 26/12, " +
      "pi 38/182, consistent") {
    val ev = eventsFrom(
      (1L to 3L).map(u => (s"2024-01-01 0$u:00:00", u, "view", 1.0)) ++
        Seq(4L -> 2, 5L -> 3, 6L -> 4, 7L -> 3).flatMap { case (u, c) =>
          (1 to c).map(i => (s"2024-01-01 0$i:00:00", u, "purchase", 1.0))
        })
    val r = EventOps.zipFitPurchases(ev).collect().head
    assert(r.getAs[Long]("n_users") == 7L)
    assert(r.getAs[Long]("n_zero") == 3L)
    assert(r.getAs[Double]("lambda_hat") == 2.166667)
    assert(r.getAs[Double]("pi_hat") == 0.208791)
    assert(r.getAs[Boolean]("zip_consistent"))
  }

  test("pca top-2 via deflation: axis-aligned 2-D fixture recovers " +
      "both axes with eigenvalues 2 and 0.5, shares of the trace") {
    // points (±2,0), (0,±1): cov = diag(2, 0.5); PC1 -> e1 (lambda 2),
    // deflation kills dim 1, PC2 -> e2 (lambda 0.5). 5 power rounds
    // from the uniform start leave ~1/4^5 cross-leakage, hence 1e-3.
    val emb = Seq(
      (0L, Array(2.0f, 0.0f), "x"), (1L, Array(-2.0f, 0.0f), "x"),
      (2L, Array(0.0f, 1.0f), "x"), (3L, Array(0.0f, -1.0f), "x"))
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.pcaTop2Components(emb).collect()
      .map(r => r.getAs[Int]("dim") -> r).toMap
    val e1 = got(1).getAs[Double]("eigenvalue1")
    val e2 = got(1).getAs[Double]("eigenvalue2")
    assert(math.abs(e1 - 2.0) < 1e-3 && math.abs(e2 - 0.5) < 1e-3,
      s"$e1 $e2")
    assert(math.abs(math.abs(got(1).getAs[Double]("loading1")) - 1.0)
      < 1e-3)
    assert(math.abs(math.abs(got(2).getAs[Double]("loading2")) - 1.0)
      < 1e-3)
    // shares of the exact trace 2.5
    assert(math.abs(got(1).getAs[Double]("var_share_1") - 0.8) < 1e-3)
    assert(math.abs(got(1).getAs[Double]("var_share_2") - 0.2) < 1e-3)
    // near-orthogonal pair: 5 truncated power rounds leave
    // ~2/4^5 ≈ 2e-3 cross-leakage through the rounded deflation
    val dot = got(1).getAs[Double]("loading1") *
      got(1).getAs[Double]("loading2") +
      got(2).getAs[Double]("loading1") *
        got(2).getAs[Double]("loading2")
    assert(math.abs(dot) < 5e-3, dot.toString)
  }

  test("DBSCAN hand case: two 4-point squares, one border, one " +
      "noise -> roles, min-id clusters, summary") {
    val emb = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(1f, 1f)),
      (4L, Array(10f, 10f)), (5L, Array(11f, 10f)),
      (6L, Array(10f, 11f)), (7L, Array(11f, 11f)),
      (8L, Array(2f, 1f)),  // within 1.5 of cores 1 and 3 only
      (9L, Array(5f, 5f)))  // isolated
      .map { case (id, v) => (id, v, "x") }
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.dbscanClusters(emb, eps = 1.5, minPts = 3)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[String]("role"),
          Option(r.getAs[java.lang.Long]("cluster_id"))))).toMap
    (0L to 3L).foreach(i => assert(got(i) == (("core", Some(0L))), got(i)))
    (4L to 7L).foreach(i => assert(got(i) == (("core", Some(4L))), got(i)))
    assert(got(8L) == (("border", Some(0L))), got(8L).toString)
    assert(got(9L) == (("noise", None)), got(9L).toString)
    val s = VectorOps.dbscanSummary(emb, eps = 1.5, minPts = 3)
      .collect().head
    assert(s.getAs[Long]("n_core") == 8L &&
      s.getAs[Long]("n_border") == 1L && s.getAs[Long]("n_noise") == 1L)
    assert(s.getAs[Long]("n_clusters") == 2L &&
      s.getAs[Long]("largest_cluster") == 5L)
  }

  test("AMS F2 estimator is exact on a single-frequency fixture: " +
      "one user only -> every sign estimator yields f^2 exactly") {
    val ev = eventsFrom((1 to 9).map(i =>
      (s"2024-01-01 0$i:00:00", 42L, "x", 1.0)))
    val r = EventOps.amsF2Audit(ev).collect().head
    assert(r.getAs[Long]("exact_f2") == 81L)
    assert(r.getAs[Double]("ams_mean_est") == 81.0)
    assert(r.getAs[Double]("rel_err") == 0.0)
  }

  test("JL sign matrix is non-degenerate: every output dim mixes " +
      "both signs, and no two output dims share a column (the " +
      "rank-1 multiplicative-hash regression)") {
    val k = VectorOps.jlK
    val cols = (0 until k).map(j =>
      (0 until 64).map(i => VectorOps.jlSignFlat(i * k + j)))
    cols.foreach(c => assert(c.toSet == Set(-1, 1)))
    assert(cols.distinct.length == k)
    assert(cols.map(c => c.count(_ == 1)).forall(n => n > 16 && n < 48))
  }

  /** 24 deterministic 4-dim vectors, no duplicates (component period
    * lcm(11,13,17,7) ≫ 24): ids 0..15 are the pinned sample
    * centroids (vec_id % 997 < 16), 16..23 plain members. */
  private lazy val emb24 = (0L until 24L).map { i =>
    (i, Array(
      (i * 37 % 11).toFloat - 5f,
      (i * 53 % 13).toFloat - 6f,
      (i * 71 % 17).toFloat - 8f,
      (i * 29 % 7).toFloat - 3f), (i % 3).toString)
  }.toDF("vec_id", "embedding", "label")

  test("twonn ANN with nprobe = nlist probes every list -> identical " +
      "to the exact form (candidate set = all pairs)") {
    val exact = VectorOps.twoNnIntrinsicDim(emb24).collect().head
    val ann = VectorOps.twoNnIntrinsicDimAnn(emb24, 16, 16).collect().head
    assert(ann.getAs[Long]("n_shortfall") == 0L, ann.toString)
    assert(ann.getAs[Long]("n_degenerate") ==
      exact.getAs[Long]("n_degenerate"))
    assert(ann.getAs[Double]("sum_log_ratio") ==
      exact.getAs[Double]("sum_log_ratio"))
    assert(ann.getAs[Double]("intrinsic_dim") ==
      exact.getAs[Double]("intrinsic_dim"))
  }

  test("hubness ANN with nprobe = nlist is bit-identical to the " +
      "exact-graph hubness") {
    val exact = VectorOps.knnHubness(emb24, 5).collect().head
    val ann = VectorOps.knnHubnessAnn(emb24, 5, 16, 16).collect().head
    assert(ann.getAs[Long]("n_vectors") == exact.getAs[Long]("n_vectors"))
    assert(ann.getAs[Long]("max_occurrence") ==
      exact.getAs[Long]("max_occurrence"))
    assert(ann.getAs[Long]("n_antihubs") ==
      exact.getAs[Long]("n_antihubs"))
    assert(ann.getAs[Double]("hubness_skew") ==
      exact.getAs[Double]("hubness_skew"))
  }

  test("twonn ANN shortfall accounting: 3 own-list vectors at " +
      "nprobe 2 see one candidate each -> all shortfall, NULL dim") {
    // ids 0..2 are all centroids; each probes its own list + one
    // other, whose single member is the only candidate (cnt = 1 < 2)
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f), "a"),
      (1L, Array(0.0f, 1.0f), "a"),
      (2L, Array(1.0f, 1.0f), "a")).toDF("vec_id", "embedding", "label")
    val r = VectorOps.twoNnIntrinsicDimAnn(tiny, 16, 2).collect().head
    assert(r.getAs[Long]("n_total") == 3L, r.toString)
    assert(r.getAs[Long]("n_shortfall") == 3L, r.toString)
    assert(r.isNullAt(r.fieldIndex("intrinsic_dim")), r.toString)
  }

  test("pooled k-center: picks drawn from the Knuth pool, seeded at " +
      "the pool min id, with non-increasing farthest distances (the " +
      "Gonzalez invariant)") {
    val emb = Tables.embeddings(spark, sf0)
    val poolIds = emb.filter(
      pmod(graft.ops.DocOps.knuthHash32(col("vec_id")), lit(8)) === 0)
      .select("vec_id").as[Long].collect().toSet
    val picks = VectorOps.kCenterCoresetPooled(emb, 8).orderBy("rank")
      .collect()
    assert(picks.length == math.min(8, poolIds.size))
    assert(picks.map(_.getAs[Long]("vec_id")).forall(poolIds.contains))
    assert(picks.head.getAs[Long]("vec_id") == poolIds.min)
    val dists = picks.tail.map(_.getAs[Double]("min_dist_at_pick"))
    assert(dists.zip(dists.tail).forall { case (a, b) => b <= a },
      dists.mkString(", "))
    assert(picks.map(_.getAs[Long]("vec_id")).distinct.length ==
      picks.length)
  }

  test("kCenterCoreset seeds at min(vec_id) when id 0 is absent " +
      "(no phantom pick), and an empty corpus yields an empty frame") {
    // 1-D line at x = 0,1,9,10 under ids 5..8: seed = id 5 (x=0),
    // farthest = id 8 (x=10), then min-dist tie 1.0 -> id ASC = 6
    val emb = Seq((5L, Seq(0f), "a"), (6L, Seq(1f), "a"),
      (7L, Seq(9f), "a"), (8L, Seq(10f), "a"))
      .toDF("vec_id", "embedding", "label")
    val picks = VectorOps.kCenterCoreset(emb, 3).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
    assert(picks.toSeq == Seq((1, 5L), (2, 8L), (3, 6L)),
      picks.mkString(", "))
    assert(VectorOps.kCenterCoreset(emb.limit(0), 3).count() == 0L)
  }

  // ---- batch 9: uplift / off-policy / variance / concordance ----

  test("qini uplift deciles hand case: 10 users, 1 per decile, " +
      "conv {2(t),3(c),6(t)} -> pinned cumulative cells and qini") {
    // score = 20-u gives rank order u = 1..10; even ids treated
    val rows = (1 to 10).flatMap { u =>
      (1 to (20 - u)).map(i =>
        (f"2024-01-01 ${i}%02d:00:00", u.toLong, "view", 1.0)) ++
        (if (Set(2, 3, 6)(u))
          Seq(("2024-01-02 00:00:00", u.toLong, "purchase", 95.0))
        else Nil)
    }
    val got = EventOps.qiniUpliftDeciles(eventsFrom(rows)).collect()
      .map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("n_t"), r.getAs[Long]("n_c"),
          r.getAs[Long]("conv_t"), r.getAs[Long]("conv_c"),
          Option(r.getAs[java.lang.Double]("uplift")),
          Option(r.getAs[java.lang.Double]("qini")))).toMap
    assert(got(1L) == ((0L, 1L, 0L, 0L, None, Some(0.0))), got(1L))
    assert(got(2L) == ((1L, 1L, 1L, 0L, Some(1.0), Some(1.0))), got(2L))
    assert(got(3L) == ((1L, 2L, 1L, 1L, Some(0.5), Some(0.5))), got(3L))
    assert(got(10L) == ((5L, 5L, 2L, 1L, Some(0.2), Some(1.0))),
      got(10L))
  }

  test("ips policy value hand case: Mon {click x2 @10, view @4}, " +
      "Tue {view @6} -> modal means 10/6, policy 9.0, logging 7.5") {
    // 1970-01-05 is a Monday: isodow (4+3)%7+1 = 1
    val ev = eventsFrom(Seq(
      ("1970-01-05 01:00:00", 1L, "click", 10.0),
      ("1970-01-05 02:00:00", 2L, "click", 10.0),
      ("1970-01-05 03:00:00", 3L, "view", 4.0),
      ("1970-01-06 01:00:00", 4L, "view", 6.0)))
    val got = EventOps.ipsPolicyValue(ev).collect()
    assert(got.length == 2)
    val mon = got.find(_.getAs[Long]("isodow") == 1L).get
    assert(mon.getAs[String]("action") == "click")
    assert(mon.getAs[Long]("n_dow") == 3L)
    assert(mon.getAs[Long]("n_action") == 2L)
    assert(mon.getAs[Double]("propensity") == 0.666667)
    assert(mon.getAs[Double]("action_mean_value") == 10.0)
    assert(mon.getAs[Double]("policy_value") == 9.0)
    assert(mon.getAs[Double]("logging_value") == 7.5)
    assert(mon.getAs[Double]("policy_lift") == 1.5)
    val tue = got.find(_.getAs[Long]("isodow") == 2L).get
    assert(tue.getAs[String]("action") == "view")
    assert(tue.getAs[Double]("propensity") == 1.0)
    assert(tue.getAs[Double]("action_mean_value") == 6.0)
  }

  test("brown-forsythe hand case: A=[1,1,3], B=[2,4] dollars -> " +
      "medians 1/2, exact cent deviations, pinned SSB/SSW/F") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "A", 1.0),
      ("2024-01-01 01:00:00", 2L, "A", 1.0),
      ("2024-01-01 02:00:00", 3L, "A", 3.0),
      ("2024-01-01 03:00:00", 4L, "B", 2.0),
      ("2024-01-01 04:00:00", 5L, "B", 4.0)))
    val got = EventOps.brownForsytheValue(ev).collect().head
    assert(got.getAs[Long]("n_types") == 2L)
    assert(got.getAs[Long]("n_total") == 5L)
    assert(got.getAs[Long]("df1") == 1L)
    assert(got.getAs[Long]("df2") == 3L)
    // z_A = [0,0,200], z_B = [0,200] cents; si = 200 both, qi = 40000
    // both; micro-pinned terms (2a+b)/(2b): A 13333333333, B 2e10
    val tsum = (2L * 40000L * 1000000L + 3L) / 6L +
      (2L * 40000L * 1000000L + 2L) / 4L
    val sswMicro = 80000L * 1000000L - tsum
    val ssbMicro = tsum - (2L * 160000L * 1000000L + 5L) / 10L
    val ssbD = ssbMicro.toDouble / 1e6
    val sswD = sswMicro.toDouble / 1e6
    val f = (ssbD / 1.0) / (sswD / 3.0)
    assert(got.getAs[Double]("ssb") == math.rint(ssbD * 1e6) / 1e6)
    assert(got.getAs[Double]("ssw") == math.rint(sswD * 1e6) / 1e6)
    assert(got.getAs[Double]("f_stat") == math.rint(f * 1e6) / 1e6)
  }

  test("transfer entropy: deterministic y' = x (purchase follows " +
      "view by one day) is positive and pinned; TE >= 0 both ways") {
    // view daily counts period-4 pattern [3,3,1,1]; purchase = view
    // lagged one day -> y_{t+1} = f(x_t) exactly, but y' is NOT
    // predictable from y alone
    val viewCnt = Seq(3, 3, 1, 1, 3, 3, 1, 1, 3, 3, 1, 1)
    val purchCnt = 1 +: viewCnt.dropRight(1) // lag, pad first day
    val rows = viewCnt.zipWithIndex.flatMap { case (c, d) =>
      (1 to c).map(i =>
        (f"2024-01-${d + 1}%02d 0$i:00:00", i.toLong, "view", 1.0))
    } ++ purchCnt.zipWithIndex.flatMap { case (c, d) =>
      (1 to c).map(i =>
        (f"2024-01-${d + 1}%02d 1$i:00:00", i.toLong, "purchase", 1.0))
    }
    val got = EventOps.transferEntropyDaily(eventsFrom(rows)).collect()
      .map(r => r.getAs[String]("direction") ->
        (r.getAs[Long]("n_transitions"), r.getAs[Double]("te_nats")))
      .toMap
    assert(got.keySet ==
      Set("view_to_purchase", "purchase_to_view"), got.toString)
    assert(got.values.forall(_._1 == 11L), got.toString)
    // plug-in TE is an average of KL divergences -> nonnegative
    assert(got.values.forall(_._2 >= 0.0), got.toString)
    assert(got("view_to_purchase")._2 > 0.1, got.toString)
  }

  test("kendall W: perfectly concordant volume rankings -> W = 1, " +
      "chi2 = m(n-1)") {
    val docs = Seq(
      (1L, "aaaa aaaa", "en", "big", 9L),
      (2L, "aaaa", "en", "big", 8L),
      (3L, "aaa", "en", "big", 7L),
      (4L, "aa aa", "en", "mid", 5L),
      (5L, "aa", "en", "mid", 4L),
      (6L, "a", "en", "small", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.DocOps.kendallWSources(docs).collect().head
    assert(got.getAs[Long]("n_sources") == 3L)
    assert(got.getAs[Long]("m_rankers") == 3L)
    // ranks all {1,2,3}: R = {3,6,9}, D2 = {-6,0,6}, sum 72
    assert(got.getAs[Long]("ssd_doubled") == 72L)
    assert(got.getAs[Double]("kendall_w") == 1.0)
    assert(got.getAs[Double]("chi2") == 6.0)
  }

  test("hellinger lang pairs: identical dists -> BC 1 / H 0; " +
      "half-overlap pinned; disjoint supports emit no row") {
    val docs = Seq(
      (1L, "x", "en", "a", 1L), (2L, "x", "en", "a", 1L),
      (3L, "x", "en", "b", 1L), (4L, "x", "fr", "b", 1L),
      (5L, "x", "en", "c", 1L), (6L, "x", "en", "c", 1L),
      (7L, "x", "de", "d", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.DocOps.hellingerLangPairs(docs).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("n_shared_langs"), r.getAs[Double]("bhatt_coef"),
          r.getAs[Double]("hellinger"))).toMap
    // a vs c: both 100% en -> BC 1, H 0
    assert(got(("a", "c")) == ((1L, 1.0, 0.0)), got.toString)
    // a vs b: BC = sqrt(1 * 0.5)
    val bc = math.sqrt(0.5)
    assert(got(("a", "b"))._2 == math.rint(bc * 1e6) / 1e6)
    assert(got(("a", "b"))._3 ==
      math.rint(math.sqrt(1.0 - bc) * 1e6) / 1e6)
    // d (de-only) is disjoint from a/c (en-only): no rows
    assert(!got.contains(("a", "d")) && !got.contains(("c", "d")),
      got.keySet.toString)
  }

  // ---- batch 10: FWER / ordinal / competing-risk / stylometry ----

  test("holm step-down on the real slice: p_holm >= p_raw, " +
      "monotone in rank, rank-1 equals the full Bonferroni factor") {
    val got = EventOps.holmMwTypePairs(Tables.events(spark, sf0))
      .collect()
      .sortBy(_.getAs[Long]("rk"))
    val m = got.length
    assert(m == 10, s"expected 10 pairs, got $m")
    got.foreach { r =>
      assert(r.getAs[Double]("p_holm") >= r.getAs[Double]("p_raw") - 1e-9)
      assert(r.getAs[Double]("p_holm") <= 1.0)
    }
    assert(got.sliding(2).forall(w =>
      w(0).getAs[Double]("p_holm") <= w(1).getAs[Double]("p_holm") + 1e-9))
    val r1 = got.head
    assert(r1.getAs[Double]("p_holm") ==
      math.min(math.rint(r1.getAs[Double]("p_raw") * m * 1e6) / 1e6, 1.0))
  }

  test("somers' D hand case: conv scores {3,3} vs nonconv {1,2,3} " +
      "-> C=4 D=0 T=2, D=0.666667, AUC=0.833333") {
    def evs(u: Long, n: Int, conv: Boolean) =
      (1 to n - (if (conv) 1 else 0)).map(i =>
        (f"2024-01-01 0$i:00:00", u, "view", 1.0)) ++
        (if (conv) Seq(("2024-01-01 09:00:00", u, "purchase", 95.0))
        else Nil)
    val ev = eventsFrom(
      evs(1L, 3, conv = true) ++ evs(2L, 3, conv = true) ++
        evs(3L, 1, conv = false) ++ evs(4L, 2, conv = false) ++
        evs(5L, 3, conv = false))
    val got = EventOps.somersDConv(ev).collect().head
    assert(got.getAs[Long]("n_conv") == 2L)
    assert(got.getAs[Long]("n_nonconv") == 3L)
    assert(got.getAs[Long]("concordant") == 4L)
    assert(got.getAs[Long]("discordant") == 0L)
    assert(got.getAs[Long]("tied") == 2L)
    assert(got.getAs[Double]("somers_d") == 0.666667)
    assert(got.getAs[Double]("auc") == 0.833333)
  }

  test("aalen-johansen hand case: converted exit at t=1 of 3 at " +
      "risk, abandoned at t=2 of 2 -> CIFs 1/3 each at h=7") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "purchase", 5.0),
      ("2024-01-01 00:00:00", 2L, "view", 1.0),
      ("2024-01-02 00:00:00", 2L, "view", 1.0)) ++
      (1 to 5).map(d => (f"2024-01-0$d 12:00:00", 3L, "view", 1.0)))
    val got = EventOps.aalenJohansenCif(ev).collect()
      .map(r => (r.getAs[Int]("horizon"), r.getAs[String]("cause")) ->
        (r.getAs[Long]("n_exits"), r.getAs[Double]("cif"))).toMap
    assert(got((1, "converted_exit")) == ((1L, 0.333333)))
    assert(got((1, "abandoned_exit")) == ((0L, 0.0)))
    assert(got((7, "converted_exit")) == ((1L, 0.333333)))
    assert(got((7, "abandoned_exit")) == ((1L, 0.333333)))
  }

  test("aalen-johansen identity on the real slice: CIF1 + CIF2 = " +
      "1 - S_allcause at every horizon") {
    val ev = Tables.events(spark, sf0)
    val cif = EventOps.aalenJohansenCif(ev).collect()
      .groupBy(_.getAs[Int]("horizon"))
      .map { case (h, rs) => h -> rs.map(_.getAs[Double]("cif")).sum }
    val km = EventOps.kmSurvivalHorizons(ev).collect()
      .map(r => r.getAs[Int]("horizon") -> r.getAs[Double]("survival"))
      .toMap
    cif.foreach { case (h, c) =>
      assert(math.abs(c - (1.0 - km(h))) < 1e-4,
        s"h=$h cifsum=$c 1-S=${1.0 - km(h)}")
    }
  }

  test("mcf hand case: purchases at tenures {1,1,3}, shrinking risk " +
      "set -> MCF(1)=1.0, MCF(7)=2.0") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "purchase", 5.0),
      ("2024-01-03 00:00:00", 1L, "purchase", 5.0),
      ("2024-01-02 00:00:00", 2L, "purchase", 5.0)))
    val got = EventOps.mcfRecurrentPurchases(ev).collect()
      .map(r => r.getAs[Int]("horizon") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Double]("mcf"))).toMap
    assert(got(1) == ((2L, 1.0)), got.toString)
    assert(got(7) == ((3L, 2.0)), got.toString)
  }

  test("diff-in-diff hand case: cell means 2/7 vs 3/6 -> DiD 2, " +
      "pooled SE sqrt(10), z = 2/sqrt(10)") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 2L, "view", 1.0),
      ("2024-01-02 00:00:00", 4L, "view", 3.0),
      ("2024-01-09 00:00:00", 2L, "view", 5.0),
      ("2024-01-10 00:00:00", 4L, "view", 9.0),
      ("2024-01-01 00:00:00", 1L, "view", 2.0),
      ("2024-01-02 00:00:00", 3L, "view", 4.0),
      ("2024-01-09 00:00:00", 1L, "view", 4.0),
      ("2024-01-10 00:00:00", 3L, "view", 8.0)))
    val got = EventOps.didParityArms(ev).collect().head
    assert(got.getAs[Long]("n_a1") == 2L)
    assert(got.getAs[Double]("delta_a") == 5.0)
    assert(got.getAs[Double]("delta_b") == 3.0)
    assert(got.getAs[Double]("did") == 2.0)
    assert(got.getAs[Double]("se") ==
      math.rint(math.sqrt(10.0) * 1e6) / 1e6)
    assert(got.getAs[Double]("z_score") ==
      math.rint(2.0 / math.sqrt(10.0) * 1e6) / 1e6)
  }

  test("atkinson hand case: activities {1,4} -> mu 2.5, " +
      "EDE (3/2)^2 = 2.25, A = 0.1") {
    val ev = eventsFrom(
      Seq(("2024-01-01 01:00:00", 1L, "view", 1.0)) ++
        (1 to 4).map(i => (f"2024-01-01 0${i + 1}:00:00", 2L, "view", 1.0)))
    val got = EventOps.atkinsonActivity(ev).collect().head
    assert(got.getAs[Long]("n_users") == 2L)
    assert(got.getAs[Double]("mean_activity") == 2.5)
    assert(got.getAs[Double]("ede") == 2.25)
    assert(got.getAs[Double]("atkinson_05") == 0.1)
  }

  test("burrows delta hand case: freq profiles (2/3,1/3), " +
      "(1/3,2/3), (1/2,1/2) -> z = +-1/0, deltas 2/1/1") {
    val docs = Seq(
      (1L, "x x y", "en", "a", 5L),
      (2L, "x y y", "en", "b", 5L),
      (3L, "x y", "en", "c", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.DocOps.burrowsDeltaPairs(docs).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("n_terms"), r.getAs[Double]("burrows_delta")))
      .toMap
    assert(got(("a", "b")) == ((2L, 2.0)), got.toString)
    assert(got(("a", "c")) == ((2L, 1.0)), got.toString)
    assert(got(("b", "c")) == ((2L, 1.0)), got.toString)
  }

  // ---- batch 11: epi / stratified / balance readouts ----

  test("capture-recapture hand case: halves {1,2,3} / {2,3,4,5} -> " +
      "LP 6, Chapman 5.666667") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 00:00:00", 1L, "view", 1.0),
      ("2024-01-02 00:00:00", 2L, "view", 1.0),
      ("2024-01-09 00:00:00", 2L, "view", 1.0),
      ("2024-01-01 00:00:00", 3L, "view", 1.0),
      ("2024-01-10 00:00:00", 3L, "view", 1.0),
      ("2024-01-09 00:00:00", 4L, "view", 1.0),
      ("2024-01-10 00:00:00", 5L, "view", 1.0)))
    val got = EventOps.captureRecaptureUsers(ev).collect().head
    assert(got.getAs[Long]("n_first_half") == 3L)
    assert(got.getAs[Long]("n_second_half") == 4L)
    assert(got.getAs[Long]("n_recaptured") == 2L)
    assert(got.getAs[Long]("n_seen_total") == 5L)
    assert(got.getAs[Double]("lp_estimate") == 6.0)
    assert(got.getAs[Double]("chapman_estimate") ==
      math.rint((4.0 * 5.0 / 3.0 - 1.0) * 1e6) / 1e6)
    assert(got.getAs[Double]("chapman_se") ==
      math.rint(math.sqrt(4.0 * 5.0 * 1.0 * 2.0 / (3.0 * 3.0 * 4.0))
        * 1e6) / 1e6)
  }

  test("mantel-haenszel hand case: strata {1,1,1,1} and {1,0;0,1} " +
      "-> OR_MH 3, CMH 0.428571") {
    // Monday joiners: treated u2 conv / u4 not, control u1 conv /
    // u3 not; Tuesday joiners: treated u6 conv, control u5 not
    val ev = eventsFrom(Seq(
      ("1970-01-05 01:00:00", 1L, "view", 1.0),
      ("1970-01-06 01:00:00", 1L, "purchase", 95.0),
      ("1970-01-05 01:00:00", 2L, "view", 1.0),
      ("1970-01-06 01:00:00", 2L, "purchase", 95.0),
      ("1970-01-05 01:00:00", 3L, "view", 1.0),
      ("1970-01-05 01:00:00", 4L, "view", 1.0),
      ("1970-01-06 01:00:00", 5L, "view", 1.0),
      ("1970-01-06 01:00:00", 6L, "view", 1.0),
      ("1970-01-07 01:00:00", 6L, "purchase", 95.0)))
    val got = EventOps.mantelHaenszelAb(ev).collect().head
    assert(got.getAs[Long]("n_strata") == 2L)
    assert(got.getAs[Long]("conv_treated") == 2L)
    assert(got.getAs[Double]("or_mh") == 3.0)
    assert(got.getAs[Double]("ln_or_mh") ==
      math.rint(math.log(3.0) * 1e6) / 1e6)
    assert(got.getAs[Double]("cmh_chi2") == 0.428571)
    assert(!got.getAs[Boolean]("significant"))
  }

  test("g-test hand case: 2x2 counts [[1,2],[3,4]] -> G within " +
      "5e-4 of the closed form; dof 1") {
    val rows =
      (1 to 1).map(i => (f"1970-01-05 0$i:00:00", i.toLong, "A", 1.0)) ++
      (1 to 2).map(i => (f"1970-01-06 0$i:00:00", i.toLong, "A", 1.0)) ++
      (1 to 3).map(i => (f"1970-01-05 1$i:00:00", i.toLong, "B", 1.0)) ++
      (1 to 4).map(i => (f"1970-01-06 1$i:00:00", i.toLong, "B", 1.0))
    val got = EventOps.gTestTypeDow(eventsFrom(rows)).collect().head
    assert(got.getAs[Long]("dof") == 1L)
    val exp = 2.0 * (1.0 * math.log(10.0 / 12.0) +
      2.0 * math.log(20.0 / 18.0) + 3.0 * math.log(30.0 / 28.0) +
      4.0 * math.log(40.0 / 42.0))
    assert(math.abs(got.getAs[Double]("g_stat") - exp) < 5e-4,
      s"got ${got.getAs[Double]("g_stat")} exp $exp")
  }

  test("smd balance hand case: matched activity means -> SMD 0; " +
      "active-days gap 0.5 over pooled sd 0.5 -> SMD 1") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 01:00:00", 2L, "view", 1.0),
      ("2024-01-01 01:00:00", 4L, "view", 1.0),
      ("2024-01-02 01:00:00", 4L, "view", 1.0),
      ("2024-01-02 02:00:00", 4L, "view", 1.0),
      ("2024-01-01 01:00:00", 1L, "view", 1.0),
      ("2024-01-01 02:00:00", 1L, "view", 1.0),
      ("2024-01-01 01:00:00", 3L, "view", 1.0),
      ("2024-01-01 02:00:00", 3L, "view", 1.0)))
    val got = EventOps.smdBalanceArms(ev).collect()
      .map(r => r.getAs[String]("covariate") ->
        (r.getAs[Double]("mean_even"), r.getAs[Double]("mean_odd"),
          Option(r.getAs[java.lang.Double]("smd")))).toMap
    assert(got("activity") == ((2.0, 2.0, Some(0.0))), got.toString)
    assert(got("total_value") == ((2.0, 2.0, Some(0.0))), got.toString)
    assert(got("active_days") == ((1.5, 1.0, Some(1.0))), got.toString)
  }

  test("fleming-harrington with a single churn time equals the " +
      "plain logrank (S(t-) = 1 weight)") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 01:00:00", 1L, "view", 1.0),
      ("2024-01-01 01:00:00", 2L, "view", 1.0)) ++
      (1 to 5).map(d => (f"2024-01-0$d 12:00:00", 3L, "view", 1.0)))
    val fh = EventOps.flemingHarringtonAb(ev).collect().head
    val lr = EventOps.logrankTestAb(ev).collect().head
    assert(fh.getAs[Long]("n_users_a") == lr.getAs[Long]("n_users_a"))
    assert(fh.getAs[Long]("n_users_b") == lr.getAs[Long]("n_users_b"))
    assert(fh.getAs[Double]("fh_z") == lr.getAs[Double]("logrank_z"),
      s"fh=${fh.getAs[Double]("fh_z")} lr=${lr.getAs[Double]("logrank_z")}")
  }

  test("paf hand case: all conversions among the exposed -> " +
      "PAF 1, RR undefined (zero unexposed rate)") {
    val ev = eventsFrom(Seq(
      ("2024-01-01 01:00:00", 1L, "view", 1.0),
      ("2024-01-01 01:00:00", 2L, "view", 1.0),
      ("2024-01-01 02:00:00", 2L, "view", 1.0),
      ("2024-01-01 03:00:00", 2L, "purchase", 95.0),
      ("2024-01-01 01:00:00", 3L, "view", 1.0),
      ("2024-01-01 01:00:00", 4L, "view", 1.0),
      ("2024-01-01 02:00:00", 4L, "view", 1.0),
      ("2024-01-01 03:00:00", 4L, "view", 1.0)))
    val got = EventOps.pafActivityConversion(ev).collect().head
    assert(got.getAs[Long]("n_users") == 4L)
    assert(got.getAs[Long]("n_exposed") == 2L)
    assert(got.getAs[Double]("p_conv") == 0.25)
    assert(got.getAs[Double]("p_conv_unexposed") == 0.0)
    assert(Option(got.getAs[java.lang.Double]("relative_risk")).isEmpty)
    assert(got.getAs[Double]("paf") == 1.0)
  }

  test("degenerate tables: a one-instant table (half 2 empty) and a " +
      "one-arm table (every user_id even) give NULL/false/no rows, " +
      "never a division error") {
    // every halves operator on one timestamp (lo = hi: half 2 empty),
    // every arm-split operator on even user_ids only (arm 1 empty)
    def frame(rows: Seq[(String, Long, String, Double)]) =
      rows.toDF("s", "user_id", "event_type", "value")
        .select(monotonically_increasing_id().as("event_id"),
          col("s").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), col("value"))
    val oneInstant = frame(Seq(
      ("2024-01-01 00:00:00", 1L, "view", 10.0),
      ("2024-01-01 00:00:00", 2L, "purchase", 95.0),
      ("2024-01-01 00:00:00", 3L, "click", 42.5),
      ("2024-01-01 00:00:00", 4L, "purchase", 120.0)))
    val oneArm = frame((0 until 40).map { i =>
      (f"2024-01-${i % 20 + 1}%02d ${i % 24}%02d:00:00",
        (i % 8 + 1).toLong * 2, Seq("view", "click", "purchase")(i % 3),
        50.0 + (i * 7) % 60)
    })
    // the expected result: no rows, or in every row the `nulls`
    // columns NULL and the `flags` columns as given
    case class Expect(nulls: Seq[String] = Nil,
        flags: Map[String, Boolean] = Map.empty, empty: Boolean = false)
    val noRows = Expect(empty = true)
    def nulls(cs: String*) = Expect(nulls = cs)
    type Op = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    val halves: Seq[(String, Op, Expect)] = Seq(
      ("fanoFactorByType", EventOps.fanoFactorByType, Expect()),
      ("valuePsiDrift", EventOps.valuePsiDrift, Expect()),
      ("psiTypeDrift", EventOps.psiTypeDrift, noRows),
      ("ksValueDrift", EventOps.ksValueDrift, nulls("ks_stat", "at_bin")),
      ("valueMmdDrift", EventOps.valueMmdDrift,
        nulls("mean_diff", "mmd_linear", "mmd_quad", "mmd_sq")),
      ("valueKuiperDrift", EventOps.valueKuiperDrift,
        nulls("d_plus", "d_minus", "kuiper_v")),
      ("valueWassersteinDrift", EventOps.valueWassersteinDrift,
        nulls("w1_distance")),
      ("valueEnergyDrift", EventOps.valueEnergyDrift, nulls("energy_dist")),
      ("valueCvmDrift", EventOps.valueCvmDrift,
        Expect(Seq("cvm_t"), Map("drifted" -> false))),
      ("valueAdDrift", EventOps.valueAdDrift, nulls("a2_akn")),
      ("hodgesLehmannShift", EventOps.hodgesLehmannShift, nulls("hl_shift")),
      ("markovNextEventAccuracy", EventOps.markovNextEventAccuracy,
        nulls("accuracy", "baseline_accuracy")),
      ("cupedAdjustedAb", EventOps.cupedAdjustedAb, Expect()),
      ("scoreGainsDeciles", EventOps.scoreGainsDeciles(_),
        nulls("cum_capture", "lift")),
      ("propensityStratifiedAte", EventOps.propensityStratifiedAte(_),
        nulls("effect", "ate")),
      ("diffInDiff", EventOps.diffInDiff, nulls("z")),
      ("wilcoxonSignedRankAb", EventOps.wilcoxonSignedRankAb, Expect()),
      ("mcnemarSwitchers", EventOps.mcnemarSwitchers, Expect()),
      ("didParityArms", EventOps.didParityArms, noRows),
      ("captureRecaptureUsers", EventOps.captureRecaptureUsers,
        nulls("lp_estimate")))
    val arms: Seq[(String, Op, Expect)] = Seq(
      ("cupedAdjustedAb", EventOps.cupedAdjustedAb,
        nulls("mean_y_b", "raw_diff", "adj_diff")),
      ("welchTtestAb", EventOps.welchTtestAb,
        nulls("mean_b", "t_stat", "df")),
      ("abConversionZtest", EventOps.abConversionZtest(_),
        Expect(Seq("rate_b", "z_score"), Map("significant" -> false))),
      ("diffInDiff", EventOps.diffInDiff,
        nulls("p_t_pre", "p_t_post", "did", "z")),
      ("propensityStratifiedAte", EventOps.propensityStratifiedAte(_),
        nulls("effect", "ate")),
      ("didParityArms", EventOps.didParityArms, noRows),
      ("obrienFlemingMonitor", EventOps.obrienFlemingMonitor(_),
        Expect(Seq("z_score"), Map("crossed" -> false))),
      ("ratioMetricDeltaCi", EventOps.ratioMetricDeltaCi,
        Expect(Seq("ratio_b", "se_b", "z_score"),
          Map("significant" -> false))),
      ("logrankTestAb", EventOps.logrankTestAb, nulls("logrank_z")),
      ("coxPhAb", EventOps.coxPhAb,
        Expect(Seq("beta", "hazard_ratio", "se", "z_score"),
          Map("significant" -> false))),
      ("quantileTreatmentEffect", EventOps.quantileTreatmentEffect(_),
        nulls("q_b", "qte")),
      ("abSrmCheck", EventOps.abSrmCheck,
        Expect(flags = Map("srm_mismatch" -> true))),
      ("sprtDailyAb", EventOps.sprtDailyAb(_), noRows),
      ("yuenTrimmedTtestAb", EventOps.yuenTrimmedTtestAb(_), noRows),
      ("ansariBradleyAb", EventOps.ansariBradleyAb, nulls("z_score")),
      ("qiniUpliftDeciles", EventOps.qiniUpliftDeciles(_),
        nulls("uplift", "qini")),
      ("mantelHaenszelAb", EventOps.mantelHaenszelAb(_),
        Expect(Seq("or_mh", "ln_or_mh", "cmh_chi2"),
          Map("significant" -> false))),
      ("smdBalanceArms", EventOps.smdBalanceArms, noRows),
      ("flemingHarringtonAb", EventOps.flemingHarringtonAb, nulls("fh_z")))
    val failures = for {
      (fixture, ev, ops) <- Seq(("one-instant", oneInstant, halves),
        ("one-arm", oneArm, arms))
      (name, op, want) <- ops
      problem <- scala.util.Try(op(ev).collect().toSeq) match {
        case scala.util.Failure(e) => Some(s"threw ${e.getMessage.take(80)}")
        case scala.util.Success(rows) =>
          val bad = rows.filter(r => want.nulls.exists(c => !r.isNullAt(
            r.fieldIndex(c))) || want.flags.exists { case (c, v) =>
              r.isNullAt(r.fieldIndex(c)) || r.getAs[Boolean](c) != v })
          if (want.empty && rows.nonEmpty) Some(s"${rows.size} rows")
          else if (!want.empty && rows.isEmpty) Some("no rows")
          else bad.headOption.map(r => s"row $r")
      }
    } yield s"$fixture $name: $problem"
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
