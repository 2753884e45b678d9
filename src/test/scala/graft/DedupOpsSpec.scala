package graft

import org.apache.spark.sql.functions.col
import graft.ops.DedupOps

/** Near-dup stack over planted duplicates: exact, n-gram Jaccard,
  * MinHash/LSH, SimHash all must find the planted pair and none of the
  * unrelated pairs.
  */
class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the rain in spain falls mainly on the plain every day"
  private val nearDup = base.replace("every day", "each morning")
  private val unrelated =
    "completely different content about database engines and query " +
      "optimization with columnar storage and vectorized execution"

  private lazy val docs = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated),
    (3L, base), // exact dup of 0
    (4L, base.toUpperCase + "  "), // case/whitespace variant
  ).toDF("doc_id", "text")

  test("dedupKeepLongest keeps the longest copy, doc_id on exact ties") {
    // docs 0, 3, 4 share one normalized fingerprint; doc 4's raw text
    // (uppercased + trailing spaces) is the LONGEST variant
    val kept = DedupOps.dedupKeepLongest(docs)
      .collect().map(r => r.getAs[String]("fp") -> r.getAs[Long]("keep_id"))
      .toMap
    val fp = graft.ops.DocOps.fingerprints(docs)
      .filter(col("doc_id") === 0L).select("fp").as[String].collect().head
    assert(kept(fp) == 4L, s"longest variant not kept: $kept")
    // equal-length exact dups (0 and 3) tie-break by doc_id when the
    // longer variant is absent
    val noVariant = DedupOps.dedupKeepLongest(docs.filter(col("doc_id") =!= 4L))
      .collect().map(r => r.getAs[String]("fp") -> r.getAs[Long]("keep_id"))
      .toMap
    assert(noVariant(fp) == 0L, noVariant.toString)
  }

  test("boilerplatePhrases: cross-doc 5-grams only, one vote per doc") {
    val phrases = DedupOps.boilerplatePhrases(docs, k = 5, minDocs = 2)
      .collect().map(r => r.getAs[String]("phrase") -> r.getAs[Long]("n_docs"))
      .toMap
    // base/nearDup/exact-dup share their common prefix 5-grams
    assert(phrases.contains("the quick brown fox jumps"))
    // docs 0, 1 and 3 all contain it; doc 4 is uppercased but tokens
    // are lowercased, so it votes too — but each doc votes ONCE
    assert(phrases("the quick brown fox jumps") == 4L)
    // nothing from the unrelated doc reaches minDocs
    assert(!phrases.keys.exists(_.contains("columnar")), phrases.toString)
    // a phrase repeated twice inside ONE doc does not reach minDocs=2
    val selfRep = Seq((0L, "a b c d e x a b c d e"), (1L, "unrelated words"))
      .toDF("doc_id", "text")
    assert(DedupOps.boilerplatePhrases(selfRep, k = 5, minDocs = 2)
      .count() == 0)
  }

  test("dupStatsBySource: duplicated mass counted per source, keeper included") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "sA", base), (1L, "sA", base), // dup pair inside sA
      (2L, "sB", base), // same text from sB — cross-source group of 3
      (3L, "sB", unrelated), // clean
    ).toDF("doc_id", "source", "text")
    val got = DedupOps.dupStatsBySource(docs)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
          r.getAs[Long]("n_unique_texts"))))
      .toMap
    assert(got("sA") == ((2L, 2L, 1L)), got.toString)
    assert(got("sB") == ((2L, 1L, 2L)), got.toString)
  }

  test("exactDupGroups finds the byte-identical pair only") {
    val groups = DedupOps.exactDupGroups(docs).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_docs") == 2)
    assert(groups.head.getAs[Long]("keep_id") == 0)
  }

  test("dedupExact normalizes case+whitespace (0, 3, 4 collapse)") {
    val d = DedupOps.dedupExact(docs).collect()
    val big = d.filter(_.getAs[Long]("n_dups") == 3)
    assert(big.length == 1)
    assert(big.head.getAs[Long]("keep_id") == 0)
  }

  test("ngramJaccardPairs finds the planted near-dup, not the unrelated") {
    val pairs = DedupOps.ngramJaccardPairs(docs, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"missing planted pair in $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated doc paired: $pairs")
  }

  test("jaccardPrefixPairs ≡ df-capped pipeline on the planted corpus") {
    val prefix = DedupOps.jaccardPrefixPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val capped = DedupOps.ngramJaccardPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(prefix == capped, s"prefix=$prefix capped=$capped")
    assert(prefix.exists(p => p._1 == 0L && p._2 == 1L))
  }

  test("jaccardPrefixPairs stays exact where the df cap goes blind") {
    // 12 docs all opening with "alpha beta gamma delta" — its two
    // 3-shingles have df=12 > maxDf=10, so the capped pipeline drops
    // both from the index and UNDERCOUNTS the planted twins (10,11):
    // true J = 3/5 = 0.6, capped J = 1/7 < 0.5 → pair missed. The
    // prefix filter has no cap: the hot shingles merely sort to the
    // suffix end of each doc's global (df ASC) ordering, the twins'
    // RARE shared shingle sits in the prefix, and the verify phase
    // restores the exact score.
    val hot = "alpha beta gamma delta"
    val filler = (0 until 10).map(i =>
      (i.toLong, s"$hot unique$i filler$i closing$i"))
    val twinA = (10L, s"$hot shared here")
    val twinB = (11L, s"$hot shared there")
    val corpus = (filler :+ twinA :+ twinB).toDF("doc_id", "text")
    val capped = DedupOps.ngramJaccardPairs(corpus, 0.5, maxDf = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val exact = DedupOps.jaccardPrefixPairs(corpus, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!capped.contains((10L, 11L)),
      s"expected the capped pipeline to miss the pair here: $capped")
    assert(exact.contains((10L, 11L)), s"prefix filter lost the pair: $exact")
  }

  test("jaccardPrefixPairs keeps a pair whose score only ROUNDS up to t") {
    // doc 2's 5,000 shingles are all in doc 1's 10,001: J = 5000/10001
    // = 0.49995…, published as 0.5 ≥ t. Bounds derived from t itself
    // (size band 5000 ≥ 0.5·10001) drop the pair before verification;
    // they must use the smallest J that rounds up to t.
    def words(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, words(10003)), (2L, words(5002)))
      .toDF("doc_id", "text")
    val want = Set((1L, 2L, 0.5))
    assert(DedupOps.ngramJaccardPairs(corpus, 0.5)
      .as[(Long, Long, Double)].collect().toSet == want)
    assert(DedupOps.jaccardPrefixPairs(corpus, 0.5)
      .as[(Long, Long, Double)].collect().toSet == want)
  }

  test("ngramContainmentPairs flags the verbatim quote Jaccard misses") {
    // doc 1 is a verbatim substring of doc 0: every one of its
    // shingles appears in doc 0, so containment = 1.0 — but the union
    // is dominated by doc 0's extra shingles, so Jaccard sits far
    // below the 0.5 dedup bar. This pair class is the operator's
    // reason to exist.
    val quoted = Seq(
      (0L, base),
      (1L, "the rain in spain falls mainly on the plain"),
      (2L, unrelated)).toDF("doc_id", "text")
    val rows = DedupOps.ngramContainmentPairs(quoted, threshold = 0.8)
      .collect().map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")),
        (r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))).toMap
    assert(rows.keySet == Set((0L, 1L)), s"expected only the quote pair: $rows")
    val (c, j) = rows((0L, 1L))
    assert(c == 1.0, s"verbatim quote must have containment 1.0, got $c")
    assert(j < 0.5, s"the pair must be invisible to Jaccard-0.5 dedup, got $j")
    // and the Jaccard operator indeed misses it
    val jPairs = DedupOps.ngramJaccardPairs(quoted, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!jPairs.contains((0L, 1L)), s"fixture broken: $jPairs")
  }

  test("minhashNearDups agrees with the exact pipeline on planted pair") {
    val pairs = DedupOps.minhashNearDups(docs, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ngramJaccardPairs: shingle pipeline computed once (exchange reuse)") {
    // r18: the inverted-index exchange used to exist in 2+ canonical
    // classes (column pruning narrowed the aggregation branches' copies;
    // InferFiltersFromConstraints added isnotnull(doc_id) only under the
    // join branches), so the tokenize+shingle+explode pipeline executed
    // once per class. With identical-pruning aggregates (count of a
    // non-null COLUMN) and the source-stated isnotnull filter, every
    // consumer reuses ONE exchange at runtime.
    val df = DedupOps.ngramJaccardPairs(docs, threshold = 0.5)
    df.collect() // reuse is decided at runtime by AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"inverted-index subtree computed more than once (no reuse):\n$plan")
  }

  test("minhashNearDups verify sets are candidate-bounded, candidates computed once") {
    val df = DedupOps.minhashNearDups(docs, threshold = 0.5)
    df.collect() // run so AQE finalizes the plan (reuse is decided at runtime)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"verification sets not candidate-pruned:\n$plan")
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"candidate subtree computed twice (no exchange reuse):\n$plan")
  }

  test("incrementalNearDups: shard-touching pairs only, union ≡ full recompute") {
    // old corpus: base (0), exact dup of base (3) — an OLD-OLD pair
    // the incremental path must NOT re-emit — plus unrelated (2);
    // the new shard carries a near-dup of base (10) and its own
    // unrelated doc (11)
    val oldDocs = Seq((0L, base), (2L, unrelated), (3L, base))
      .toDF("doc_id", "text")
    val newDocs = Seq((10L, nearDup),
      (11L, "fresh shard content with nothing in common at all here"))
      .toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val inc = pairSet(DedupOps.incrementalNearDups(oldDocs, newDocs))
    // the new doc pairs against BOTH old copies of base
    assert(inc.contains((0L, 10L)) && inc.contains((3L, 10L)), inc.toString)
    // the old-old exact pair is someone else's job — never re-emitted
    assert(!inc.contains((0L, 3L)), inc.toString)
    assert(inc.forall(p => p._1 >= 10L || p._2 >= 10L), inc.toString)
    // maintenance contract: incremental ∪ old-corpus pairs ≡ a full
    // recompute over old ∪ new
    val full = pairSet(DedupOps.minhashNearDups(
      oldDocs.unionByName(newDocs), threshold = 0.5))
    val oldPairs = pairSet(DedupOps.minhashNearDups(oldDocs, threshold = 0.5))
    assert((inc ++ oldPairs) == full,
      s"inc=$inc old=$oldPairs full=$full")
  }

  test("incrementalNearDupsIndexed ≡ incrementalNearDups (stored-index path)") {
    // same fixture as the docs-in contract test; the indexed variant
    // receives precomputed band rows (what the streaming delta store
    // persists) and must be pair-for-pair identical, jaccard included
    val oldDocs = Seq((0L, base), (2L, unrelated), (3L, base))
      .toDF("doc_id", "text")
    val newDocs = Seq((10L, nearDup),
      (11L, "fresh shard content with nothing in common at all here"))
      .toDF("doc_id", "text")
    def full(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "b_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val viaDocs = full(DedupOps.incrementalNearDups(oldDocs, newDocs))
    val viaIndex = full(DedupOps.incrementalNearDupsIndexed(
      DedupOps.minhashBands(oldDocs), oldDocs,
      newDocs, DedupOps.minhashBands(newDocs)))
    assert(viaIndex == viaDocs, s"index=$viaIndex docs=$viaDocs")
    assert(viaIndex.exists(p => (p._1, p._2) == ((0L, 10L))), viaIndex)
    // bootstrap shape: empty old side pairs the new shard against itself
    val newIdx = DedupOps.minhashBands(newDocs)
    val boot = full(DedupOps.incrementalNearDupsIndexed(
      newIdx.limit(0), newDocs.limit(0), newDocs, newIdx))
    assert(boot == full(DedupOps.minhashNearDups(newDocs)), boot.toString)
  }

  test("incrementalNearDups: candidate list materialized once, plan stays bounded") {
    // regression guard for the r10 plan blowup: the pair frame is
    // referenced three times, and without its checkpoint each
    // reference duplicated the union-of-scans band pipeline (~100
    // parquet scans in the executed plan; 22 with it)
    val oldDocs = Seq((0L, base), (2L, unrelated), (3L, base))
      .toDF("doc_id", "text")
    val newDocs = Seq((10L, nearDup)).toDF("doc_id", "text")
    val df = DedupOps.incrementalNearDups(oldDocs, newDocs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan ExistingRDD|LocalTableScan".r.findAllIn(plan).length
    // the fixture frames are LocalTableScans; the checkpointed pair
    // list shows up as an ExistingRDD scan — the duplication class
    // scales the LEAF count, so a loose cap catches a reintroduction
    assert(scans <= 30, s"plan leaf blowup ($scans leaves):\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"candidate list no longer checkpointed:\n$plan")
  }

  test("minhash signature is deterministic across evaluations") {
    val a = DedupOps.minhashSignature(
      org.apache.spark.sql.functions.col("text"))
    val s1 = docs.select(a.as("sig")).collect().map(_.getSeq[Long](0).toVector)
    val s2 = docs.select(a.as("sig")).collect().map(_.getSeq[Long](0).toVector)
    assert(s1.toSeq == s2.toSeq)
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val fps = DedupOps.simhashes(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
      .toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0), fps(1)) <= 12, s"planted pair ${ham(fps(0), fps(1))}")
    assert(ham(fps(0), fps(2)) > 12, s"unrelated ${ham(fps(0), fps(2))}")
    assert(fps(0) == fps(3)) // exact dup → identical fingerprint
  }

  test("simhashNearDups surfaces the exact dup at distance 0") {
    val pairs = DedupOps.simhashNearDups(docs, maxHamming = 0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("connectedComponents: chains collapse transitively, min id labels") {
    // chain 10-20-30 (via two pairs, (10,30) never emitted) + isolated
    // pair (40,50): exactly the "A~B, B~C must become one cluster" case
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("a_id", "b_id")
    val labels = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getAs[Long]("v_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(labels == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L), labels.toString)
    // a longer chain than one propagation round resolves (diameter 4)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    val chainLabels = DedupOps.connectedComponents(chain)
      .collect().map(r => r.getAs[Long]("cluster_id")).toSet
    assert(chainLabels == Set(1L), chainLabels.toString)
  }

  test("connectedComponents refuses to emit partial labels past maxRounds") {
    // a 30-hop path: min-label propagation moves the min ONE hop per
    // round, so diameter 30 > maxRounds 20 — emitting at round 20 would
    // publish two different cluster ids for one true component. The
    // contract is to refuse loudly, not return wrong clusters.
    val longChain = (0L until 30L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(longChain, maxRounds = 20).collect()
    }
    assert(e.getMessage.contains("not converged"), e.getMessage)
    // with the bound raised the same graph converges to one cluster
    val labels = DedupOps.connectedComponents(longChain, maxRounds = 40)
      .collect().map(r => r.getAs[Long]("cluster_id")).toSet
    assert(labels == Set(0L), labels.toString)
  }

  test("fuzzyContamination: only cross-split near-dups, eval side first") {
    // pick ids by their ACTUAL Knuth-hash split so the planted leak is
    // guaranteed cross-boundary whatever the hash constants are
    val ids = (0L until 200L)
    val sm = graft.ops.DocOps.datasetSplits(ids.toDF("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split"))
      .toMap
    val trainId = ids.find(sm(_) == "train").get
    val testId = ids.find(sm(_) == "test").get
    val Seq(t2, t3) = ids.filter(i => sm(i) == "train" && i != trainId)
      .take(2).toSeq
    val docs = Seq(
      (trainId, base), (testId, nearDup), // the planted cross-split leak
      (t2, unrelated), (t3, unrelated + " now"), // train-train near-dup
    ).toDF("doc_id", "text")
    val got = DedupOps.fuzzyContamination(docs, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("eval_id"),
        r.getAs[String]("eval_split"), r.getAs[Long]("train_id")))
    assert(got.toSeq == Seq((testId, "test", trainId)),
      s"got ${got.toSeq}; split map ($trainId ${sm(trainId)}, $testId ${sm(testId)})")
  }

  test("connectedComponentsStar: O(log n) — solves the chain propagation can't") {
    // same 30-hop adversarial path that makes min-label propagation
    // refuse at maxRounds=20: large-star/small-star halves chain depth
    // per round, so 8 rounds are ample
    val longChain = (0L until 30L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = DedupOps.connectedComponentsStar(longChain, maxRounds = 8)
      .collect().map(r => r.getAs[Long]("v_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(labels.size == 31 && labels.values.toSet == Set(0L), labels.toString)
    // agrees with the propagation variant on a multi-component graph,
    // including a self-loop-only isolated node (60)
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L), (60L, 60L))
      .toDF("a_id", "b_id")
    val star = DedupOps.connectedComponentsStar(pairs)
      .collect().map(r => r.getAs[Long]("v_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(star == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 40L, 50L -> 40L, 60L -> 60L), star.toString)
  }

  test("dupClusters groups the near-dup family, sizes counted per cluster") {
    // 0~1 (near-dup) and 0~3 (exact dup) chain into one cluster even if
    // (1, 3) similarity alone might not pair them; 2 stays out
    val clusters = DedupOps.dupClusters(docs, threshold = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size")))
      .toMap
    assert(clusters.keySet.intersect(Set(0L, 1L, 3L)) == Set(0L, 1L, 3L),
      clusters.toString)
    assert(!clusters.contains(2L), clusters.toString)
    assert(clusters(0L)._1 == 0L && clusters(1L)._1 == 0L
      && clusters(3L)._1 == 0L, clusters.toString)
    assert(clusters(0L)._2 == clusters.count(_._2._1 == 0L), clusters.toString)
  }

  test("dupClusterSizeHistogram: one row per cluster size, doc mass " +
    "reconciles with the cluster frame") {
    val clusters = DedupOps.dupClusters(docs, threshold = 0.5).collect()
    val hist = DedupOps.dupClusterSizeHistogram(docs, threshold = 0.5)
      .collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs")))).toMap
    // the fixture's near-dup family is ONE cluster of the clustered
    // docs; the histogram's doc mass equals the cluster frame's rows
    assert(hist.values.map(_._2).sum == clusters.length, hist.toString)
    hist.foreach { case (size, (nc, nd)) =>
      assert(nd == size * nc, s"$size: $nc * $size != $nd")
    }
    val sizes = clusters.map(_.getAs[Long]("cluster_size"))
      .groupBy(identity).map { case (s, xs) => s -> xs.length / s }
    assert(hist.view.mapValues(_._1).toMap == sizes.map {
      case (s, n) => s -> n.toLong
    }, hist.toString)
  }

  test("clusterKeepLongest: one keeper per transitive cluster, longest wins") {
    import org.apache.spark.sql.functions.{col, length}
    val withChars = docs.withColumn("n_chars", length(col("text")).cast("long"))
    val got = DedupOps.clusterKeepLongest(withChars, threshold = 0.5)
      .collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("keep_chars"),
          r.getAs[Long]("n_docs"))))
      .toMap
    // 0/1/3/4 chain into one cluster labeled 0; doc 1 (nearDup) is the
    // longest raw text ("each morning" vs "every day" is +3, the
    // uppercased variant only +2); doc 2 is clean and absent
    assert(got.keySet == Set(0L), got.toString)
    assert(got(0L) == ((1L, nearDup.length.toLong, 4L)), got.toString)
  }

  test("shingles: short docs yield empty array, no negative-range blowup") {
    val tiny = Seq((0L, "one two"), (1L, "a b c")).toDF("doc_id", "text")
    val sh = tiny.select(DedupOps.shingles(
      org.apache.spark.sql.functions.col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(sh(0).isEmpty)
    assert(sh(1) == Seq("a b c"))
  }

  test("sourceCopyMatrix: identical texts roll up to canonical " +
    "source pairs with exact mean similarity") {
    import org.apache.spark.sql.Row
    import spark.implicits._
    // three verbatim copies across two sources -> pairs (1,2),(1,3),
    // (2,3) with jaccard 1.0; canonical grid: (s1,s1)x1, (s1,s2)x2.
    // doc 4 is unrelated vocabulary -> no pair reaches 0.5.
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "s1", 22L),
      (2L, "alpha beta gamma delta", "en", "s2", 22L),
      (3L, "alpha beta gamma delta", "en", "s1", 22L),
      (4L, "zeta eta theta iota", "en", "s2", 19L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.DedupOps.sourceCopyMatrix(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("avg_jaccard")))).toMap
    assert(got == Map(("s1", "s1") -> ((1L, 1.0)),
      ("s1", "s2") -> ((2L, 1.0))), got)
  }
}
