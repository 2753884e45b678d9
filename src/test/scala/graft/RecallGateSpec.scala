package graft

import org.apache.spark.sql.DataFrame
import graft.ops.{DedupOps, VectorOps}

/** Quantified recall gates: the sketch-based near-dup / ANN operators
  * measured against their EXACT counterparts on the driver's sf0.01
  * tables — not just planted pairs. Thresholds sit under the measured
  * values with margin (measured at sf0.01: MinHash 1.0, SimHash 0.60,
  * LSH-KNN 0.11) so they catch regressions in the sketch machinery
  * (hash derivation, banding, probing), not data noise. The corpus
  * property behind the exact-match MinHash oracles is checked at both
  * scale factors the strict gate runs (sf0.01 and sf0.001).
  */
class RecallGateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private def docs = Tables.documents(spark, sf)
  private def embs = Tables.embeddings(spark, sf)

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val exactPairs = pairSet(DedupOps.ngramJaccardPairs(docs, 0.5))

  test("corpus property: every exact J>=0.5 pair sits at J>=0.9 " +
      "(minhash/fuzzy_contamination oracle precondition)") {
    // The minhash_near_dups and fuzzy_contamination ORACLES assert
    // exact equality with the exhaustive-Jaccard pair set. That is
    // sound only because (a) candidates are exact-verified (precision
    // 1 by construction) and (b) this corpus's entire >=0.5 near-dup
    // population sits at J >= 0.9, where missing all 8 bands of 4 has
    // p = (1-J^4)^8 <= 2.0e-4. (b) is a TESTDATA property: regenerated
    // data or changed shingle/band parameters could silently break it
    // and surface as a phantom red oracle row that looks like an
    // engine bug. Assert it here so the precondition fails loudly at
    // its source instead.
    val js = DedupOps.ngramJaccardPairs(docs, 0.5)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(js.nonEmpty, "no exact >=0.5 pairs at sf0.01 — the " +
      "minhash oracle would be vacuous")
    assert(js.min >= 0.9, s"corpus property violated: a J=${js.min} " +
      "pair in (0.5, 0.9) voids the band-miss bound behind the " +
      "minhash_near_dups / fuzzy_contamination exact-equality " +
      "oracles. This is a testdata/parameter change, not an engine " +
      "bug — rederive the oracle precondition before trusting those " +
      "gates.")
  }

  test("corpus property at sf0.001: every exact J>=0.5 pair sits at " +
      "J>=8/9 (minhash/fuzzy_contamination oracle precondition)") {
    // The same precondition for the sf0.001 run of the strict gate. Its
    // lowest >=0.5 pair is J = 8/9 (0.8889 in the 4-place `jaccard`
    // column), where a pair misses all 8 bands of 4 with
    // p = (1-(8/9)^4)^8 <= 4.0e-4 — twice sf0.01's 2.0e-4 at J >= 0.9
    // (asserted above, unrelaxed).
    val js = DedupOps.ngramJaccardPairs(Tables.documents(spark, sf0), 0.5)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(js.nonEmpty, "no exact >=0.5 pairs at sf0.001 — the " +
      "minhash oracle would be vacuous")
    assert(js.min >= 0.8889, s"corpus property violated at sf0.001: a " +
      s"J=${js.min} pair under 8/9 raises the band-miss bound behind " +
      "the minhash_near_dups / fuzzy_contamination exact-equality " +
      "oracles. This is a testdata/parameter change, not an engine bug.")
  }

  test("MinHash+LSH banding recalls >= 90% of exact jaccard-0.5 pairs") {
    assert(exactPairs.nonEmpty)
    val got = pairSet(DedupOps.minhashNearDups(docs, 0.5))
    val recall = (exactPairs & got).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"minhash recall $recall of ${exactPairs.size} pairs")
  }

  test("SimHash hamming<=3 recalls >= 50% of exact jaccard-0.5 pairs") {
    val got = pairSet(DedupOps.simhashNearDups(docs, 3))
    val recall = (exactPairs & got).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"simhash recall $recall of ${exactPairs.size} pairs")
  }

  test("batch LSH KNN beats its scan fraction by >= 2x on true top-5") {
    // Sign-LSH over near-uniform random embeddings: multi-probe with 8
    // planes scans ~(planes+1)/2^planes ≈ 3.5% of candidate pairs, so
    // chance recall is ~0.035. Measured recall of the TRUE (brute-force)
    // top-5 is ~0.11 — the gate asserts the bucketing genuinely
    // concentrates neighbors, at 2x chance. (High-similarity recall is
    // covered by the planted-pair specs; uniform-noise top-k is the
    // adversarial case for any LSH.)
    val truth = pairSet(VectorOps.knnAllBrute(embs, 5))
    val got = pairSet(VectorOps.knnAllLsh(embs, 5))
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.07, s"lsh knn recall $recall of ${truth.size} pairs")
  }
}
