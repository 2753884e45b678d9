package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim

/** Document/text analytics: the reference's text surface (length, trim,
  * lower, regex keyword filters, hashtag extraction —
  * `/root/reference/src/batch_analytics.py`, `src/spark_stream.py:94-104`,
  * `PART3.ipynb` cell 8) over the driver `documents` table
  * (doc_id, text, lang, source, n_chars), plus the text-analysis
  * operators a training-data pipeline needs (quality scoring, token
  * counting, fingerprinting). Everything is built from codegen'd
  * `functions._` — no UDFs — so the whole pipeline stays inside
  * whole-stage codegen.
  */
object DocOps {

  /** Case-insensitive keyword filter over text (P9,
    * `src/spark_stream.py:98-104`): single pre-built alternation regex,
    * exactly like the reference builds its pattern driver-side. */
  def keywordRegex(keywords: Seq[String]): String =
    keywords.map(_.toLowerCase).mkString("(?i)(", "|", ")")

  def filterKeywords(docs: DataFrame, keywords: Seq[String]): DataFrame =
    docs.filter(col("text").rlike(keywordRegex(keywords)))

  /** Per-language doc counts after a keyword filter — the reference's
    * filter-then-aggregate shape as one compact query. */
  def keywordLangCounts(docs: DataFrame, keywords: Seq[String]): DataFrame =
    filterKeywords(docs, keywords)
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"))

  /** Average text length per language (A4/F1 over documents). */
  def avgLengthByLang(docs: DataFrame): DataFrame =
    docs
      .groupBy("lang")
      .agg(
        round(avg(length(col("text"))), 4).as("avg_len"),
        count(lit(1)).as("docs"))

  /** Hashtag extraction (F5 corrected): `regexp_extract_all` over ALL
    * matches, not the reference's first-match-only bug
    * (`PART3.ipynb` cell 8 — SURVEY.md §7 "bugs to not copy"),
    * exploded to per-tag counts (F16/A2, `batch_analytics.py:39-45`). */
  def hashtagCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(
        regexp_extract_all(col("text"), lit("#(\\w+)"), lit(1))).as("hashtag"))
      .filter(trim(col("hashtag")) =!= "")
      .groupBy(lower(col("hashtag")).as("hashtag"))
      .agg(count(lit(1)).as("cnt"))

  // ----- training-data-pipeline text analysis (north-star extensions) -----

  /** Whitespace token count per document. The `\s+` split is the
    * baseline tokenizer; see [[bpeishTokenCounts]] for the regex
    * (BPE-ish) variant. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"))

  /** Token statistics per source — aggregate shape used for corpus
    * accounting at scale (one shuffle on `source`). */
  def tokenStatsBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .groupBy("source")
      .agg(
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        count(lit(1)).as("docs"))

  /** Type-token ratio (lexical diversity) per source: per document,
    * distinct lowercased whitespace tokens over total tokens, averaged
    * by source. TTR is the cheap repetition/diversity signal quality
    * filters threshold on (Gopher's "fraction of unique words"
    * cousin). Pure per-row expressions into one `source` aggregation —
    * a single scan and one tiny shuffle at any corpus size. */
  def ttrBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        (size(array_distinct(split(lower(trim(col("text"))), "\\s+")))
          .cast("double") /
          size(split(trim(col("text")), "\\s+"))).as("ttr"))
      .groupBy("source")
      .agg(round(avg("ttr"), 4).as("avg_ttr"), count(lit(1)).as("docs"))

  /** Document-length histogram per source: fixed-width `bucket`-char
    * bins over the precomputed `n_chars` column — the corpus-shape
    * profile behind truncation/packing decisions. GroupBy on
    * (source, bucket) keeps partial aggregation effective however
    * skewed the length distribution is. */
  def doclenHistogram(docs: DataFrame, bucket: Int = 100): DataFrame =
    docs
      .groupBy(col("source"),
        floor(col("n_chars") / lit(bucket.toDouble)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", col("bucket") * bucket)

  /** Hill tail-index estimate of the document-length distribution —
    * HOW heavy the long-document tail is, as one number: the
    * [[doclenHistogram]] shows the shape, the Hill estimator
    * (Hill '75) fits the Pareto exponent of its upper tail,
    *
    *   α̂ = k / Σ_{i≤k} ln(x_(i) / x_(k+1)),   k = ⌈n/10⌉ (stated),
    *
    * the number packing/truncation policy actually needs (α ≤ 1 means
    * the tail carries unbounded mass — a handful of giant documents
    * dominate every shard they land in). Tie-robust by construction:
    * top-k elements EQUAL to the threshold x_(k+1) contribute ln 1 = 0,
    * so the sum reduces to Σ_{v > x_(k+1)} c_v·ln(v/x_(k+1)) over the
    * collapsed length grid — no arbitrary tie split can change it.
    *
    * Determinism: the threshold is an exact order statistic off the
    * descending cumulative counts; each distinct length's ln is
    * re-pinned to BIGINT micro-units before the count-weighted exact
    * sum (the heapsLawFit discipline — ln re-evaluation is the
    * documented residual libm assumption); α is one pinned division.
    * Shape: one corpus collapse to the length grid; the cumulative
    * window orders that bounded grid only. */
  def doclenHillTail(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = docs.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cumc", sum(col("c")).over(w))
    val tot = grid.agg(sum(col("c")).as("n"))
    // x_(k+1) = the largest v whose descending cumulative count
    // reaches k+1 (cumc is monotone as v falls)
    val thr = cum.crossJoin(broadcast(tot))
      .filter(col("cumc") >= expr("(n + 9) div 10") + lit(1L))
      .agg(max(col("v")).as("xk1"), max(col("n")).as("n"),
        max(expr("(n + 9) div 10")).as("k"))
    val terms = grid.crossJoin(broadcast(thr))
      .filter(col("v") > col("xk1") && col("xk1") > 0L)
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        max(col("xk1")).as("xk1"),
        sum(col("c").cast("decimal(38,0)") *
          round(log(col("v").cast("double") / col("xk1").cast("double")) *
            lit(1000000.0), 0).cast("long")).as("smicro"))
    terms.select(col("n").as("n_docs"), col("k"),
      col("xk1").as("tail_threshold"),
      when(col("smicro") > 0L,
        round(col("k").cast("double") * lit(1000000.0) /
          col("smicro").cast("double"), 6)).as("hill_alpha"))
  }

  /** Code-likeness profile per source — the code-vs-prose filter
    * signal every pretraining mixture needs (code in a prose bucket
    * poisons both the tokenizer fertility AND the quality heuristics
    * tuned for sentences): per document, the share of lines matching
    * the stated code heuristics (4-space/tab indent; trailing
    * `;`/`{`/`}`; a leading definition keyword), aggregated per
    * source as the mean share and the share of documents past the
    * 0.3 "probably code" cut.
    *
    * Determinism: the regex is ONE stated pattern evaluated by both
    * engines (conservative syntax — anchors, literal classes,
    * alternation — where Java and RE2 agree); each doc's share is
    * re-pinned to BIGINT micro-units before the order-dependent
    * source sum (the pinballLoss discipline). Shape: one corpus-sized
    * map + one grouped collapse; the line split never shuffles. */
  def codeLikeShare(docs: DataFrame): DataFrame = {
    val lineRe =
      "(^(    |\\t))|([;{}] *$)|(^ *(def|class|import|function|return|var|let|const) )"
    val lines = split(col("text"), "\n")
    val nLines = size(lines)
    val nCode = size(filter(lines, l => l.rlike(lineRe)))
    val sm = when(nLines > 0,
      round(nCode.cast("double") / nLines.cast("double") *
        lit(1000000.0), 0).cast("long")).otherwise(lit(0L))
    docs.select(col("source"), sm.as("sm"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sm")).as("ssm"),
        sum(when(col("sm") > 300000L, 1L).otherwise(0L)).as("n_code_docs"))
      .select(col("source"), col("n_docs"),
        round(col("ssm").cast("double") /
          (col("n_docs").cast("double") * lit(1000000.0)), 6)
          .as("avg_code_share"),
        col("n_code_docs"),
        round(col("n_code_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("code_doc_share"))
  }

  /** WINDOWED PMI collocations: the top word pairs by pointwise
    * mutual information within a ±`window`-token span — the spanning
    * sibling of [[graft.ops.MiningOps.pmiCollocations]]' adjacent
    * bigrams (a window catches "new …modifier… york" units the
    * bigram form misses), the classic extractor (Church & Hanks '90)
    * behind "these two
    * words form a unit" signals (tokenizer merge candidates, phrase
    * vocabularies, NER seeds):
    *
    *   PMI(a,b) = ln( n_ab · N / (n_a · n_b) ),
    *
    * counts over the token space, pairs over ordered windowed
    * co-occurrences folded to the lexicographic (least, greatest)
    * key, n_ab ≥ `minCount` (rare-pair PMI explodes — the standard
    * filter). The stated single-N convention keeps the score a pure
    * ratio of exact integers under one ln (the documented Zipf/KL/JS
    * libm class); ranking ties pin (pmi desc, wa, wb).
    *
    * Scale: the window join is an equi-join on (doc_id, pos + off)
    * for off ∈ 1..window — never a theta join; everything downstream
    * is vocabulary²-bounded by the minCount filter, and the top-k is
    * a TakeOrderedAndProject. */
  /** Windowed co-occurrence pair counts — the edge builder
    * [[pmiWindowCollocations]] scores and
    * [[graft.ops.GraphOps.textRankTerms]] ranks over: ordered
    * ±window co-occurrences folded to the lexicographic (wa, wb)
    * key, n_pair ≥ minCount. The window join is an equi-join on
    * (doc_id, pos + off), never a theta join. */
  private[ops] def windowPairCounts(docs: DataFrame, window: Int,
      minCount: Long): DataFrame =
    windowPairCountsFrom(tokenPositions(docs), window, minCount)

  /** [[windowPairCounts]] over an already-materialized
    * [[tokenPositions]] frame — callers that also need the token
    * frame (pmi's unigram counts) pay the tokenize ONCE. */
  private[ops] def windowPairCountsFrom(toks: DataFrame, window: Int,
      minCount: Long): DataFrame = {
    val offs = (1 to window).map(lit(_))
    val right = toks.select(col("doc_id"),
        explode(array(offs: _*)).as("off"), col("pos"), col("w").as("wb0"))
      .select(col("doc_id"), (col("pos") - col("off")).as("pos"),
        col("wb0"))
    toks.join(right, Seq("doc_id", "pos"))
      .select(least(col("w"), col("wb0")).as("wa"),
        greatest(col("w"), col("wb0")).as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= lit(minCount) && col("wa") =!= col("wb"))
  }

  /** (doc_id, 1-based pos, token) rows — checkpointed because the
    * window machinery reads it from several consumers. */
  private[ops] def tokenPositions(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(DedupOps.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w"))
      .localCheckpoint()

  def pmiWindowCollocations(docs: DataFrame, window: Int = 2,
      minCount: Long = 5L, k: Int = 20): DataFrame = {
    val toks = tokenPositions(docs)
    val n = toks.agg(count(lit(1)).as("n_tok"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("nw"))
    val pairs = windowPairCountsFrom(toks, window, minCount)
    val scored = pairs
      .join(uni.select(col("w").as("wa"), col("nw").as("na")), Seq("wa"))
      .join(uni.select(col("w").as("wb"), col("nw").as("nb")), Seq("wb"))
      .crossJoin(broadcast(n))
      .select(col("wa"), col("wb"), col("n_pair"), col("na"), col("nb"),
        round(log((col("n_pair").cast("decimal(38,0)") * col("n_tok"))
            .cast("double") /
          (col("na").cast("decimal(38,0)") * col("nb")).cast("double")), 6)
          .as("pmi"))
    scored.orderBy(col("pmi").desc, col("wa").asc, col("wb").asc).limit(k)
  }

  /** Per-source n-gram novelty: what share of a source's distinct
    * word 3-grams appears in NO other source — the contribution
    * answer behind mixture design ("does adding this crawl bring new
    * text or re-weight what we have?"), the n-gram complement of
    * [[sourceVocabOverlap]]'s unigram Jaccard and the aggregate view
    * of [[graft.ops.DedupOps.sourceCopyMatrix]]'s pairwise copies.
    *
    * Exact by construction: a gram's source set is collected exactly
    * (≤ |sources| elements — collect_set de-dups map-side, so the ONE
    * wide shuffle carries each gram once, not once per duplicate),
    * and the share is one pinned division. Shape: one corpus-sized
    * shingle explode, one gram-keyed collapse, one explode back over
    * the ≤ |sources|-element sets — linear in the gram inventory with
    * a single gram-keyed exchange, never a join back over the gram
    * strings (measured 9.3 s → the collapse form at sf0.1). */
  def sourceNgramNovelty(docs: DataFrame): DataFrame = {
    // the repartition barrier pins the token array as a concrete
    // column (the shingleRows lesson: letting CollapseProject inline
    // split() into each of the 3k element_at references per shingle
    // measured ~9 s of pure re-tokenization at sf0.1)
    val grams = docs
      .select(col("doc_id"), col("source"),
        DedupOps.tokens(col("text")).as("t"))
      .repartition(col("doc_id")) // doc grain — source alone would skew
      .select(col("source"),
        explode(DedupOps.shinglesFromTokens(col("t"), 3)).as("sh"))
    val bySh = grams.groupBy("sh")
      .agg(collect_set(col("source")).as("srcs"))
    bySh.select(explode(col("srcs")).as("source"),
        (size(col("srcs")) === 1).as("uniq"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_grams").cast("double"),
          6).as("novelty_share"))
  }

  /** Exact global top-k vocabulary: one (term) hash aggregation with
    * map-side partials absorbing hot-term skew, then
    * TakeOrderedAndProject — each partition keeps k rows, no global
    * sort. Ties pinned by term. */
  def topTerms(docs: DataFrame, k: Int = 20): DataFrame =
    docs.select(explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(k)

  /** Pareto frontier (skyline, Börzsönyi et al. ICDE '01) over the two
    * quality axes a curation pass trades off: alphabetic ratio
    * (cleanliness) vs character length (content volume). A document is
    * on the frontier iff no other document weakly dominates it
    * (≥ on both axes, > on at least one) — the "best N documents"
    * candidates no scalarized quality score can rank away.
    *
    * Scale shape — the collapsed-frame skyline, NOT the textbook n²
    * dominance self-join and NOT a serial window over the corpus: the
    * corpus collapses to one row per distinct 4dp alpha value (≤ 10⁴
    * rows by construction) carrying max(n_chars); the strict-better
    * running max is a window over THAT frame only; membership joins
    * back on the alpha value (broadcast-size right side). A document
    * survives iff it holds its alpha group's max length and beats
    * every strictly-cleaner group's max — algebraically the weak-
    * domination skyline, in one small-frame window + one join. */
  def paretoFrontier(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(col("doc_id"),
      round(length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        .cast("double") / length(col("text")), 4).as("alpha_ratio"),
      length(col("text")).cast("long").as("n_chars"))
    val m = q.groupBy("alpha_ratio").agg(max("n_chars").as("mx"))
    val strictBetter = Window.orderBy(col("alpha_ratio").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val s = m.withColumn("strict_mx", max("mx").over(strictBetter))
    q.join(s, "alpha_ratio")
      .filter(col("n_chars") === col("mx") &&
        (col("strict_mx").isNull || col("n_chars") > col("strict_mx")))
      .select("doc_id", "alpha_ratio", "n_chars")
  }

  /** First-iteration BPE merge candidates (Sennrich et al. '16): the
    * top-k adjacent character pairs by corpus frequency — the pair a
    * byte-pair-encoding tokenizer trainer would merge first, and the
    * standard vocabulary-health probe ("what digraphs dominate this
    * corpus?").
    *
    * Scale shape — vocabulary-first, exactly like the reference BPE
    * trainer's word-frequency dict: the corpus collapses to DISTINCT
    * words with counts BEFORE any character-level work, so the
    * character explode runs over |vocab| rows (Heaps' law: ≪ corpus
    * tokens), each pair weighted by its word's count. Pairs within a
    * word count with multiplicity ("aaa" → "aa" twice), matching the
    * BPE definition. Ties break on the pair string for a stable gate. */
  def bpeMergeCandidates(docs: DataFrame, k: Int = 20): DataFrame = {
    val vocab = docs
      .select(explode(DedupOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    vocab
      .select(col("cnt"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("cnt").as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("pair").asc)
      .limit(k)
  }

  /** Document-length distribution per source: exact continuous
    * percentiles of the whitespace token count — the corpus-shape
    * accounting behind truncation/packing decisions. `percentile` ↔
    * DuckDB `quantile_cont` share the same interpolated-rank
    * definition. */
  def tokenPercentilesBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .groupBy("source")
      .agg(
        round(percentile(col("n_tokens"), lit(0.5)), 4).as("p50"),
        round(percentile(col("n_tokens"), lit(0.9)), 4).as("p90"),
        round(percentile(col("n_tokens"), lit(0.99)), 4).as("p99"))

  /** BPE-ish subword-boundary token count: words, numbers, and single
    * punctuation marks counted separately (a common pre-tokenizer
    * regex). Pure codegen'd expression — no UDF. */
  def bpeishTokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(
        col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .as("n_tokens"))

  /** Quality signals per document: char length, alphabetic ratio,
    * punctuation count, mean word length — the length/punct heuristics
    * of a data-quality pass, all as codegen'd expressions. */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val nChars = length(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
    val punct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
    val nTokens = size(split(trim(col("text")), "\\s+"))
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      round(alpha.cast("double") / nChars, 4).as("alpha_ratio"),
      punct.as("n_punct"),
      round(nChars.cast("double") / nTokens, 4).as("avg_word_len"))
  }

  /** Per-document n-gram contamination SCORE for the eval split — the
    * GPT-3/PaLM-report shape (Brown et al. '20 App. C): for every
    * `test`-split document, the fraction of its distinct 3-shingles
    * that occur anywhere in the `train` split. [[splitContamination]]
    * flags exact-duplicate membership and [[bloomDecontaminate]]
    * drops probable members; this QUANTIFIES partial overlap per
    * document, the number a contamination appendix actually reports
    * (a 0.95-overlap eval doc is compromised even though no train doc
    * equals it byte-for-byte).
    *
    * Shape: one shingle explode feeds both sides; the train side
    * collapses to a distinct hash set (corpus-scale but
    * shingle-typed, the standard decontamination join — the Bloom
    * path is the scan-local alternative when even that join is too
    * wide); the eval side left-joins the marker and folds to one row
    * per doc. Counts are exact BIGINTs; the ratio is one pinned
    * division. */
  def evalOverlapScores(docs: DataFrame): DataFrame = {
    val splits = datasetSplits(docs).select("doc_id", "split")
    val sh = DedupOps.shingleRows(docs, 3)
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .join(splits, "doc_id")
    val trainH = sh.filter(col("split") === "train")
      .select("h").distinct().withColumn("hit", lit(1L))
    sh.filter(col("split") === "test")
      .join(trainH, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_in_train"))
      .select(col("doc_id"), col("n_shingles"), col("n_in_train"),
        round(col("n_in_train").cast("double") /
          col("n_shingles").cast("double"), 6).as("overlap_ratio"))
  }

  /** Neyman-optimal stratified sampling allocation (Neyman '34): for
    * a total budget of `budget` documents, the per-stratum sample
    * size that minimizes estimator variance is n_h ∝ N_h·σ_h —
    * strata that are large or internally varied get more of the
    * budget than proportional allocation would give. The planning
    * step in front of [[stratifiedSample]]'s mechanical per-stratum
    * draw, computed over the n_chars length distribution per source.
    *
    * Determinism: N, Σx, Σx² are exact BIGINTs (one hash agg), σ is
    * pinned-order double arithmetic on them; each stratum weight
    * N_h·σ_h is rounded 6dp and cast to DECIMAL so the TOTAL is an
    * exact any-order sum, and the final share/allocation divide
    * identical doubles in both engines (floor of identical doubles
    * is identical). Single-doc strata have no variance and are
    * excluded, mirroring the oracle. */
  def neymanAllocation(docs: DataFrame, budget: Long = 1000): DataFrame = {
    val m = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sx"),
      sum(col("n_chars") * col("n_chars")).as("sxx"))
      .filter(col("n_docs") >= 2)
    val nD = col("n_docs").cast("double")
    val variance = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / nD) / (nD - 1.0)
    val weighted = m.select(col("source"), col("n_docs"),
      round(sqrt(variance), 6).as("sigma"),
      round(nD * sqrt(variance), 6).cast("decimal(28,6)").as("w"))
    val total = weighted.agg(sum(col("w")).as("w_total"))
    weighted.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("sigma"),
        round(col("w").cast("double") / col("w_total").cast("double"), 6)
          .as("alloc_share"),
        floor(lit(budget.toDouble) * (col("w").cast("double") /
          col("w_total").cast("double"))).cast("long").as("n_alloc"))
  }

  /** UniMax-style budget allocation (Chung et al. '23, "UniMax: fairer
    * and more effective language sampling"): spread a total token
    * budget as UNIFORMLY as possible across sources, capping each at
    * `maxEpochs` passes over its data — the published answer to
    * temperature sampling's head-source over-weighting when training
    * multilingual/multi-source LLMs. Exact waterfill, closed form:
    * sort sources ASCENDING by size; a source caps out iff its
    * `maxEpochs·n_tokens` is below the uniform share of what's left,
    * and because sizes ascend there is ONE crossover index k — before
    * it every source takes its cap, from it on everyone splits the
    * remaining budget equally (integer `div`; the ≤ n_src-token
    * remainder is deliberately unallocated).
    *
    * All arithmetic is exact BIGINT (counts, prefix sums, integer
    * division), so the allocation is bit-identical in any engine; the
    * only doubles are the terminal epochs ratio, rounded once. The
    * windows run over the |sources|-row collapsed frame — bounded
    * domain, the serial-window whitelist case. */
  def unimaxAllocation(docs: DataFrame, budgetTokens: Long = 2000000L,
      maxEpochs: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens >= 0 && maxEpochs > 0)
    val per = docs.select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
    val nSrc = per.agg(count(lit(1)).as("n_src"))
    val w = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val ranked = per.crossJoin(broadcast(nSrc))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("s_prev", coalesce(
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("capped", lit(maxEpochs.toLong) * col("n_tokens"))
      .withColumn("u",
        expr(s"(${budgetTokens}L - ${maxEpochs}L * s_prev) div (n_src - i + 1)"))
    val kf = ranked.agg(min(when(col("capped") > col("u"), col("i"))).as("k"))
    val withK = ranked.crossJoin(broadcast(kf))
    val ukf = withK.agg(max(when(col("i") === col("k"), col("u"))).as("u_k"))
    withK.crossJoin(broadcast(ukf))
      .select(col("source"), col("n_tokens"),
        when(col("k").isNotNull && col("i") >= col("k"), col("u_k"))
          .otherwise(col("capped")).as("alloc_tokens"))
      .withColumn("epochs", round(
        col("alloc_tokens").cast("double") / col("n_tokens").cast("double"), 4))
  }

  /** Temperature-scaled sampling shares (the mT5/mC4 α-sampling that
    * UniMax supersedes, still the most-used mixture knob): p_i ∝
    * (c_i)^α with α = 0.5 FIXED — sqrt is the one fractional power
    * IEEE 754 requires correctly rounded, so both engines compute the
    * identical double where a general `pow(x, α)` (exp·ln, 1-ulp
    * wiggle) could flip a 6dp rounding boundary. The per-source
    * weights round to 6dp and sum as DECIMAL (any-order exact — the
    * [[neymanAllocation]] discipline), the shares and expected token
    * counts divide/multiply identical doubles once. */
  def temperatureAllocation(docs: DataFrame,
      budgetTokens: Long = 2000000L): DataFrame = {
    val per = docs.select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"))
    val weighted = per.withColumn("w",
      round(sqrt(col("n_tokens").cast("double")), 6).cast("decimal(28,6)"))
    val wsum = weighted.agg(sum(col("w")).as("w_sum"))
    val p = col("w").cast("double") / col("w_sum").cast("double")
    weighted.crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot").cast("double"), 6)
          .as("raw_share"),
        round(p, 6).as("p_temp"),
        round(lit(budgetTokens.toDouble) * p, 4).as("expected_tokens"))
  }

  /** Flesch reading-ease per document — the classic readability
    * screen (Flesch '48; corpus pipelines bucket documents by it
    * before sampling):
    *
    *   206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    *
    * with the standard dictionary-free syllable heuristic: vowel-run
    * count per token (`[aeiouy]+` matches on the lowercased token),
    * floored at 1 per word. Sentences are `[.!?]+` runs floored at 1.
    * Every input to the formula is an exact BIGINT; the two divisions
    * and the three constant multiplies run in pinned DOUBLE order, so
    * the 4dp-rounded score hashes identically in the oracle.
    *
    * Shape: one token explode → per-doc hash agg (words + syllable
    * sum), sentence counts ride the original row — one exchange keyed
    * by doc_id, everything else codegen'd regex work in the scan
    * stage. */
  def readabilityScores(docs: DataFrame): DataFrame = {
    val syl = greatest(lit(1),
      size(regexp_extract_all(col("term"), lit("[aeiouy]+"), lit(0))))
    val perDoc = docs
      .select(col("doc_id"), explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(syl.cast("long")).as("n_syllables"))
    val sentences = docs.select(col("doc_id"),
      greatest(lit(1),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))))
        .cast("long").as("n_sentences"))
    perDoc.join(sentences, "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")), 4).as("flesch"))
  }

  /** RAG / context-window chunking: split each document into
    * fixed-size character chunks with `overlap` chars of left context
    * carried into each successive chunk — the retrieval-indexing
    * primitive every embedding pipeline runs before vectorizing
    * (chunk granularity bounds both recall and context cost).
    *
    * Chunk starts are `0, step, 2·step, …` with `step = size −
    * overlap`, capped so no start lands where the remaining text
    * `[start, n)` is already covered by the previous chunk's
    * `[start−step, start+overlap)` span: a start is emitted only while
    * `start + overlap < n` (or start 0). The last chunk may be short
    * but always contributes ≥1 novel character; empty documents yield
    * zero chunks. Output carries md5 + length, not the chunk text —
    * downstream exact chunk-dedup joins on the hash, and the gate
    * stays narrow.
    *
    * Scale shape: sequence → posexplode → substring is a fully narrow,
    * codegen'd pipeline — ZERO shuffles, parallelism = input splits;
    * the chunk multiplier (~n/step rows per doc) hits the shuffle-free
    * segment only. */
  def chunkDocuments(docs: DataFrame, size: Int = 200,
      overlap: Int = 50): DataFrame = {
    require(overlap >= 0 && overlap < size,
      s"chunkDocuments: need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    val n = length(col("text"))
    val starts = sequence(lit(0), greatest(n - overlap - 1, lit(0)), lit(step))
    docs
      .filter(n >= 1)
      .select(col("doc_id"), col("source"), col("text"),
        posexplode(starts).as(Seq("chunk_id", "start")))
      .select(
        col("doc_id"), col("source"), col("chunk_id"),
        col("start").cast("long").as("char_start"),
        length(col("text").substr(col("start") + 1, lit(size)))
          .cast("long").as("chunk_len"),
        md5(col("text").substr(col("start") + 1, lit(size))).as("chunk_hash"))
  }

  /** Gopher-style quality-filter flags (Rae et al. '21 §A1.1 — the
    * published heuristics used by real training-data pipelines),
    * adapted to the documents table: word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio, ellipsis-per-line ratio, stop-word
    * presence, alphabetic-word ratio, duplicate-line fraction, and the
    * combined keep decision. One scan, no shuffle, all codegen'd
    * expressions. Every ratio is a double division of the SAME integer
    * operands in Spark and the DuckDB oracle, so the values are
    * bit-identical with no rounding step at all. */
  def gopherQualityFlags(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nWords = size(split(trim(t), "\\s+"))
    val charsNoWs = length(regexp_replace(t, "\\s", ""))
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val lines = split(t, "\n", -1)
    val nLines = size(lines)
    val nDistinctLines = size(array_distinct(lines))
    val nStop = size(array_distinct(regexp_extract_all(
      lower(t), lit(GopherRules.stopwordPattern), lit(1))))
    val nAlphaWords = size(regexp_extract_all(t, lit("\\S*[A-Za-z]\\S*"), lit(0)))
    val meanWordLen = charsNoWs.cast("double") / nWords.cast("double")
    val hashRatio = nHash.cast("double") / nWords.cast("double")
    val ellipsisLineRatio = nEllipsis.cast("double") / nLines.cast("double")
    val alphaWordRatio = nAlphaWords.cast("double") / nWords.cast("double")
    val dupLineFrac =
      lit(1.0) - nDistinctLines.cast("double") / nLines.cast("double")
    val keep = nWords.between(GopherRules.minWords, GopherRules.maxWords) &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      hashRatio <= 0.1 && ellipsisLineRatio <= 0.3 &&
      nStop >= 2 && alphaWordRatio >= 0.8 && dupLineFrac <= 0.3
    docs.select(
      col("doc_id"),
      nWords.cast("long").as("n_words"),
      meanWordLen.as("mean_word_len"),
      hashRatio.as("hash_ratio"),
      ellipsisLineRatio.as("ellipsis_line_ratio"),
      nStop.cast("long").as("n_stopwords"),
      alphaWordRatio.as("alpha_word_ratio"),
      dupLineFrac.as("dup_line_frac"),
      keep.cast("long").as("keep"))
  }

  /** Corpus vocabulary accounting per language: vocabulary size,
    * total token count, hapax legomena (words seen once), and the
    * type-token ratio — the Zipf-curve health stats of a training
    * corpus. Two hash aggregations: (lang, word) counts collapse
    * map-side (partial agg absorbs the stopword skew), then a tiny
    * per-lang rollup. */
  def vocabStatsByLang(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), explode(DedupOps.tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("vocab"),
        sum("c").as("total_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("lang"), col("vocab"), col("total_tokens"), col("hapax"),
        (col("vocab").cast("double") / col("total_tokens").cast("double"))
          .as("type_token_ratio"))

  /** Quality score distribution per language — corpus-level view. */
  def qualityByLang(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        (length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
          length(col("text"))).as("alpha_ratio"))
      .groupBy("lang")
      .agg(
        round(avg("alpha_ratio"), 4).as("avg_alpha_ratio"),
        round(min("alpha_ratio"), 4).as("min_alpha_ratio"),
        round(max("alpha_ratio"), 4).as("max_alpha_ratio"))

  /** Repetition signals (the Gopher repetition family, Rae et al. '21
    * §A1.1): duplicate-word fraction and the fraction of bigrams taken
    * by the single most frequent bigram — high values mean boilerplate
    * or degenerate generation loops. Relational shape: the bigram mode
    * needs a per-(doc, bigram) count, so bigrams explode once and two
    * hash aggregations (both keyed by doc_id after the first) produce
    * the per-doc maximum; word stats ride the same scan. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val w = split(trim(lower(col("text"))), "\\s+")
    val base = docs.select(col("doc_id"), w.as("ws"))
    val stats = base.select(
      col("doc_id"),
      size(col("ws")).as("n_words"),
      size(array_distinct(col("ws"))).as("n_distinct"))
    // raw (non-distinct) bigrams — repetition needs multiplicities
    val bigramArr = transform(
      sequence(lit(0), size(col("ws")) - 2),
      i => concat_ws(" ", element_at(col("ws"), i + 1),
        element_at(col("ws"), i + 2)))
    val top = base
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(bigramArr).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"))
    stats.join(top, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        (lit(1.0) - col("n_distinct").cast("double") /
          col("n_words").cast("double")).as("dup_word_frac"),
        when(col("n_words") >= 2,
          coalesce(col("top_c"), lit(0L)).cast("double") /
            (col("n_words") - 1).cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Shared regex patterns of [[scrubPii]] — one definition for the
    * Spark expressions AND the DuckDB oracle (both RE2-compatible: no
    * backreferences or lookaround). */
  object PiiPatterns {
    val url = "https?://[^\\s]+"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-. ]?\\d{3}[-. ]?\\d{4}\\b"
  }

  /** PII/link scrubbing — the redaction pass of a training-data
    * pipeline: URLs → `<URL>`, emails → `<EMAIL>`, NANP-style phone
    * numbers → `<PHONE>`, with per-doc match counts. Progressive order
    * (URLs first) so an email-shaped userinfo inside a URL is counted
    * once; each stage counts on the PREVIOUS stage's output. Pure
    * codegen'd regex expressions, one scan, no shuffle. */
  def scrubPii(docs: DataFrame): DataFrame = {
    val t0 = col("text")
    val nUrls = size(regexp_extract_all(t0, lit(PiiPatterns.url), lit(0)))
    val t1 = regexp_replace(t0, PiiPatterns.url, "<URL>")
    val nEmails = size(regexp_extract_all(t1, lit(PiiPatterns.email), lit(0)))
    val t2 = regexp_replace(t1, PiiPatterns.email, "<EMAIL>")
    val nPhones = size(regexp_extract_all(t2, lit(PiiPatterns.phone), lit(0)))
    val t3 = regexp_replace(t2, PiiPatterns.phone, "<PHONE>")
    docs.select(
      col("doc_id"),
      nUrls.cast("long").as("n_urls"),
      nEmails.cast("long").as("n_emails"),
      nPhones.cast("long").as("n_phones"),
      t3.as("scrubbed"))
  }

  /** Shared constants of [[gopherQualityFlags]] — one definition for
    * the Spark expressions AND the DuckDB oracle generator, so the two
    * sides cannot drift. */
  object GopherRules {
    val minWords = 50
    val maxWords = 100000
    val stopwords: Seq[String] =
      Seq("the", "and", "to", "of", "that", "with", "have", "for")
    /** One whole-word alternation over every stopword — the SINGLE
      * regex pass both engines use to count distinct stopwords present
      * (replaces one scan per stopword). Word boundaries make the
      * branches non-overlapping, so extract-all + distinct counts
      * exactly the stopwords that a per-word `rlike` would flag. */
    def stopwordPattern: String = "\\b(" + stopwords.mkString("|") + ")\\b"
  }

  /** Deterministic train/val/test assignment — the reproducible-split
    * primitive of a dataset pipeline. The bucket is a Knuth
    * multiplicative hash of the id (`id * 2654435761 mod 2^32 mod
    * 100`): pure integer arithmetic, identical in any engine, stable
    * across runs/partitionings, and independent of row order — unlike
    * `rand(seed)` or `randomSplit`, which change with the partition
    * layout. Default 90/5/5.
    *
    * The 32×32-bit multiply is split into 16-bit halves so every
    * intermediate stays below 2^48: a naive `doc_id * 2654435761`
    * overflows a signed long for ids ≳ 3.47e9 — wrapping (or, under
    * ANSI mode, throwing) exactly where a 100 TB corpus would have
    * ids that large, and diverging from engines that raise on BIGINT
    * overflow. (floor-div by 65536 is a power-of-two scale, exact in
    * any arithmetic.) */
  /** Overflow-free Knuth 32-bit multiplicative hash of a BIGINT id:
    * `(id * 2654435761) mod 2^32` with the 32×32-bit multiply split
    * into 16-bit halves so every intermediate stays below 2^48 —
    * ANSI-safe for any id. The deterministic pseudo-random ordering /
    * bucketing primitive shared by [[datasetSplits]] and
    * [[stratifiedSample]]; mirror with [[knuthHash32Sql]]. */
  def knuthHash32(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val c = 2654435761L
    val a = pmod(id, lit(4294967296L)) // unsigned-32 space
    val aHi = floor(a / lit(65536L)).cast("long")
    val aLo = pmod(a, lit(65536L))
    pmod(pmod(aHi * c, lit(65536L)) * 65536L + aLo * c, lit(4294967296L))
  }

  /** The DuckDB mirror of [[knuthHash32]] — generated from one place so
    * the two engines cannot drift. Fully parenthesized; safe to append
    * `% 100` or use in ORDER BY. */
  def knuthHash32Sql(id: String): String =
    s"((CAST(floor(($id % 4294967296) / 65536) AS BIGINT) * 2654435761) " +
      s"% 65536 * 65536 + ($id % 4294967296) % 65536 * 2654435761) % 4294967296"

  def datasetSplits(docs: DataFrame, trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val bucket = pmod(knuthHash32(col("doc_id")), lit(100))
    docs.select(
      col("doc_id"),
      bucket.cast("long").as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Cluster-aware dataset splits — the leakage-proof form of
    * [[datasetSplits]]: a train document whose near-twin sits in test
    * leaks the answer into evaluation, so the split hashes each
    * document's near-dup CLUSTER id
    * ([[graft.ops.DedupOps.dupClusters]] labels) instead of its own —
    * every cluster lands WHOLE on one side. Singletons hash their own
    * id with the identical Knuth rule, so clean documents bucket
    * exactly as the naive split does (the two splits differ ONLY
    * where leakage existed). [[splitLeakageAudit]] pins the
    * zero-crossing invariant.
    *
    * Shape: the near-dup labeling (banded index + O(log n) star CC)
    * plus one left join and the hash projection — the labeling is the
    * cost, and it is the same artifact the dedup pipeline already
    * maintains. */
  def clusterAwareSplits(docs: DataFrame, trainPct: Int = 90,
      valPct: Int = 5): DataFrame =
    clusterAwareSplitsFromLabels(docs,
      // the CC labels alone — dupClusters' cluster_size window would
      // cost an extra exchange only to be dropped here (r17)
      DedupOps.connectedComponentsStar(DedupOps.ngramJaccardPairs(docs))
        .select(col("v_id").as("doc_id"), col("cluster_id")),
      trainPct, valPct)

  /** [[clusterAwareSplits]] over a PRECOMPUTED (doc_id, cluster_id)
    * label frame — the refactor seam that lets [[splitLeakageAudit]]
    * (and any caller that already maintains the near-dup artifact)
    * reuse one pair computation instead of re-deriving it (r17: the
    * audit ran the banded pair pipeline twice, once directly and once
    * inside this function). */
  private[graft] def clusterAwareSplitsFromLabels(docs: DataFrame,
      labels: DataFrame, trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val withC = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val bucket = pmod(knuthHash32(col("cluster_id")), lit(100))
    withC.select(col("doc_id"), col("cluster_id"),
      bucket.cast("long").as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Split-leakage audit: near-duplicate pairs whose endpoints land
    * in DIFFERENT splits — structurally 0 under [[clusterAwareSplits]]
    * (both endpoints share a cluster id, hence a bucket; the pinned
    * invariant), while the naive per-doc count beside it quantifies
    * exactly the leak the cluster rule closes. Non-vacuous whenever
    * the corpus has near-dup pairs at all (n_neardup_pairs is
    * emitted so the gate can see it). */
  def splitLeakageAudit(docs: DataFrame): DataFrame = {
    val pairs = DedupOps.ngramJaccardPairs(docs).select("a_id", "b_id")
      .localCheckpoint() // both split probes AND the CC labeling read it
    def cross(s: DataFrame, tag: String) = pairs
      .join(s.select(col("doc_id").as("a_id"), col("split").as("sa")),
        "a_id")
      .join(s.select(col("doc_id").as("b_id"), col("split").as("sb")),
        "b_id")
      .agg(count(lit(1)).as(s"n_pairs_$tag"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as(s"n_cross_$tag"))
    // ONE pair computation: the cluster-aware probe labels from the
    // SAME checkpointed pair frame the naive probe joins against (r17
    // — calling clusterAwareSplits(docs) here re-ran the banded
    // near-dup pipeline a second time inside the audit, ~1.4 s of its
    // 4.8 s at sf0.1; the labels are identical by construction)
    val labels = DedupOps.connectedComponentsStar(pairs)
      .select(col("v_id").as("doc_id"), col("cluster_id"))
    cross(datasetSplits(docs), "naive")
      .crossJoin(cross(clusterAwareSplitsFromLabels(docs, labels)
        .select(col("doc_id"), col("split")), "cluster"))
      .select(col("n_pairs_naive").as("n_neardup_pairs"),
        col("n_cross_naive"), col("n_cross_cluster"))
  }

  /** Deterministic stratified sample: the first `perLang` documents per
    * language in Knuth-hash order — a reproducible, partition-layout-
    * independent per-stratum subsample. `DataFrameStatFunctions
    * .sampleBy` can't promise any of that (Bernoulli per partition,
    * changes with layout and seed plumbing); hash order is a fixed
    * total order, so re-running on re-partitioned (or incrementally
    * grown) data keeps previously sampled ids stable. Plans as a
    * top-k per group (TopKRewrite → capped per-partition heaps, one
    * exchange on lang), so no stratum ever needs a full sort. */
  def stratifiedSample(docs: DataFrame, perLang: Int = 100): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), knuthHash32(col("doc_id")).as("h"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("h").asc, col("doc_id").asc)))
      .filter(col("rn") <= perLang)
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))

  /** Top-k salient terms per document by tf·idf with a LINEAR idf
    * (`tf * N / df` instead of `tf * ln(N/df)`): the ranking it induces
    * per document is identical whenever df ordering agrees (both idfs
    * are strictly decreasing in df), and the score stays pure rational
    * arithmetic of exact integers — `CAST(tf*N AS DOUBLE)/CAST(df AS
    * DOUBLE)` is bit-identical in Spark and DuckDB, where `ln`'s
    * last-ulp varies by libm and can flip a rounded value or a
    * near-tie. Ties pinned by term ASC.
    *
    * Shape at scale: tf is a (doc_id, term) hash agg with map-side
    * partials absorbing token skew; df is a second agg keyed by term;
    * the tf⋈df join shuffles on term (both sides already keyed there);
    * the per-doc top-k plans as TopKRewrite's capped heaps — no
    * full sort, one exchange on doc_id. N arrives via a broadcast of a
    * 1-row aggregate, not a driver-side `count()`. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val total = docs.agg(count(lit(1)).as("n_total"))
    val tf = docs
      .select(col("doc_id"), explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .crossJoin(broadcast(total))
      .withColumn("score",
        (col("tf") * col("n_total")).cast("double") / col("df").cast("double"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rn") <= k)
      .select("doc_id", "term", "tf", "df", "score")
  }

  /** Unigram-LM quality proxy with exact arithmetic: per document,
    * the mean relative corpus frequency of its tokens (how "ordinary"
    * its vocabulary is — the monotone stand-in for unigram logprob)
    * and the fraction of tokens whose corpus count is ≤ `rareMax`
    * (OCR garbage / tokenizer debris shows up as a high rare ratio).
    * A true logprob would sum `ln(cnt/N)` per token — and `ln`'s
    * last-ulp varies by libm ([[tfidfTopTerms]] scaladoc), with the
    * summation order varying by join order on top. Both signals here
    * are integer sums (Σcnt, rare-count) with ONE final double
    * division, so they are bit-identical in any engine and any
    * execution order while ranking documents the same way a unigram
    * LM's mean token probability would.
    *
    * Shape at scale: the corpus count is a term-keyed hash agg with
    * map-side partials; the token⋈count join shuffles on term (the
    * TF-IDF plan); the per-doc rollup re-keys on doc_id; N arrives
    * as a broadcast 1-row aggregate. */
  def unigramFreqScore(docs: DataFrame, rareMax: Int = 2): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(DedupOps.tokens(col("text"))).as("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    toks.join(counts, "term")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("freq_mass"),
        sum(when(col("cnt") <= rareMax, 1L).otherwise(0L)).as("rare"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        (col("freq_mass").cast("double") /
          (col("n_tokens") * col("n_total")).cast("double"))
          .as("mean_rel_freq"),
        (col("rare").cast("double") / col("n_tokens").cast("double"))
          .as("rare_ratio"))
  }

  /** Per-source domain signature: the k terms most over-represented
    * in each source vs the whole corpus, ranked by lift =
    * (cnt_src/total_src) / (cnt_corpus/total_corpus) — the
    * domain-drift diagnostic run before mixing corpora. Lift is the
    * [[tfidfTopTerms]] integer-ratio trick twice over: both rates
    * become one cross-product division `(cnt·N) / (srcTotal·cntAll)`
    * of exact integer products, identical in both engines. Hapax
    * noise is cut by `minCount`; ties pinned by term.
    *
    * Shape at scale: one (source, term) hash agg feeds everything —
    * corpus counts re-aggregate it by term (a second small shuffle),
    * source totals by source (tiny, broadcast back), and the final
    * per-source top-k plans as TopKRewrite's capped heaps. */
  def distinctiveTermsBySource(docs: DataFrame, k: Int = 5,
      minCount: Int = 5): DataFrame = {
    val st = docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val corpus = st.groupBy("term").agg(sum(col("cnt")).as("cnt_all"))
    val srcTot = st.groupBy("source").agg(sum(col("cnt")).as("src_total"))
    val corpTot = corpus.agg(sum(col("cnt_all")).as("n_total"))
    st.filter(col("cnt") >= minCount)
      .join(corpus, "term")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpTot))
      .withColumn("lift", (col("cnt") * col("n_total")).cast("double") /
        (col("src_total") * col("cnt_all")).cast("double"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("lift").desc, col("term").asc)))
      .filter(col("rn") <= k)
      .select("source", "term", "cnt", "lift")
  }

  /** Train→test decontamination check (the GPT-3-style n-gram overlap
    * audit): for every TEST-split document, the fraction of its
    * distinct word `k`-grams that also occur anywhere in the TRAIN
    * split. Splits come from the same Knuth buckets as
    * [[datasetSplits]], so the audit matches what the split actually
    * shipped. The train membership test is a LEFT SEMI join on the
    * shingle — no train-side distinct needed (semi stops at the first
    * match) and each test shingle counts once.
    *
    * Scale note: here both sides derive from one corpus, so the semi
    * join shuffles on the shingle; in production decontamination the
    * benchmark side is the small one — build ITS shingle set and
    * broadcast it against the corpus scan, the same plan with the
    * build side flipped. Docs with fewer than k tokens have no
    * shingles and drop out (mirrored in the oracle). */
  def splitContamination(docs: DataFrame, k: Int = 8, trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val bucket = pmod(knuthHash32(col("doc_id")), lit(100))
    val base = docs
      .select(col("doc_id"), bucket.as("bucket"),
        DedupOps.tokens(col("text")).as("t"))
      // materialization barrier: pins the token array so CollapseProject
      // cannot inline split() into every shingle reference (same trap
      // DedupOps.shingleRows documents)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("bucket"),
        explode(DedupOps.shinglesFromTokens(col("t"), k)).as("sh"))
    val train = base.filter(col("bucket") < trainPct).select("sh")
    val test = base.filter(col("bucket") >= trainPct + valPct)
      .select("doc_id", "sh")
    val perDoc = test.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val contaminated = test.join(train, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    perDoc.join(contaminated, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("contamination"))
  }

  // --- Bloom-filter decontamination: the shuffle-free membership
  // variant of [[splitContamination]]. A decontamination pass checks
  // TRAIN documents against an eval/benchmark set; the exact form is
  // a fp-keyed semi-join (one shuffle of the full train side). When
  // the eval side is benchmark-sized — always, by construction: eval
  // sets are curated, not crawled — a Bloom filter over its
  // fingerprints is a few MB of bits that ships to every executor and
  // turns the check into a codegen'd scan-local predicate: ZERO
  // shuffle of the 100 TB train side, the decisive shape at scale.
  // The probe is Spark's own BloomFilterMightContain (the expression
  // behind runtime row-level filtering — eval + doGenCode, bloom
  // deserialized once per task), not a UDF.

  /** Eval-side fingerprints (normalized-text xxhash64) split from the
    * train side by the [[datasetSplits]] bucket rule. */
  private def splitFpFrames(docs: DataFrame, trainPct: Int)
      : (DataFrame, DataFrame) = {
    val bucket = pmod(knuthHash32(col("doc_id")), lit(100))
    val base = docs.select(col("doc_id"),
      bucket.cast("long").as("bucket"),
      xxhash64(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
        .as("fp"))
    (base.filter(col("bucket") < trainPct),
      base.filter(col("bucket") >= trainPct))
  }

  /** Bloom bits over the eval fingerprints, serialized for the probe
    * expression, plus the eval count. The count action sizes the
    * filter from the data (one column-pruned job); the `require` is
    * the driver-memory contract made loud — at the default 1% fpp the
    * filter is ~1.2 GB at the 10^9 cap, and an eval set that size is
    * not an eval set: use the exact [[splitContamination]] join
    * instead. */
  private def evalBloomBytes(evalDocs: DataFrame, fpp: Double,
      maxBloomItems: Long): (Array[Byte], Long) = {
    val nEval = evalDocs.count()
    require(nEval <= maxBloomItems,
      s"eval split has $nEval docs > maxBloomItems=$maxBloomItems; " +
        "a bloom this size does not belong on the driver - use the " +
        "exact splitContamination semi-join for eval sides this large")
    val bf = evalDocs.stat.bloomFilter(col("fp"), math.max(1L, nEval), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    (bos.toByteArray, nEval)
  }

  /** `might_contain(bloomBits, fp)` as a Column — Spark's native
    * codegen'd probe expression, bloom deserialized once per task. */
  private def bloomMightContain(bytes: Array[Byte],
      value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ColumnShim.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes),
        ColumnShim.expression(value)))

  /** Production decontamination: train doc_ids whose normalized text
    * does NOT hit the eval bloom. No false negatives by construction
    * (every true leak is removed); a ~fpp fraction of clean train docs
    * is over-dropped — the standard, deliberate trade (dropping 1% of
    * train mass is free; leaking eval into train is not). Output is
    * bloom-dependent, so the driver gate is rows-only; the invariants
    * are gated by [[bloomContaminationAudit]] and BloomDecontamSpec. */
  def bloomDecontaminate(docs: DataFrame, fpp: Double = 0.01,
      trainPct: Int = 90, maxBloomItems: Long = 1000000000L): DataFrame = {
    val (train, evalDocs) = splitFpFrames(docs, trainPct)
    val (bytes, _) = evalBloomBytes(evalDocs, fpp, maxBloomItems)
    train.filter(!bloomMightContain(bytes, col("fp")))
      .select(col("doc_id"), col("fp"))
  }

  /** Oracle-gateable audit of the bloom path: one row of invariants.
    * `n_missed` (true leaks the bloom failed to flag) must be 0 — a
    * Bloom filter has NO false negatives, so any nonzero value is a
    * broken build/probe, not noise. `fp_within_bound` checks the
    * false-positive EXCESS (flagged − exact) against a generous
    * 5×fpp·n_train + 20 bound: loose enough that a statistical
    * fluctuation cannot flip it, tight enough that a filter flagging
    * everything (wrong bits, wrong hash input) fails loudly. The
    * exact-leak join is the audit's own scaffolding — the production
    * path ([[bloomDecontaminate]]) never shuffles. */
  def bloomContaminationAudit(docs: DataFrame, fpp: Double = 0.01,
      trainPct: Int = 90, maxBloomItems: Long = 1000000000L): DataFrame = {
    val (train, evalDocs) = splitFpFrames(docs, trainPct)
    val (bytes, nEval) = evalBloomBytes(evalDocs, fpp, maxBloomItems)
    val evalFps = evalDocs.select(col("fp")).distinct()
      .withColumn("in_eval", lit(true))
    train
      .withColumn("bloom_hit", bloomMightContain(bytes, col("fp")))
      .join(evalFps, Seq("fp"), "left")
      .agg(
        count(lit(1)).as("n_train"),
        count(col("in_eval")).as("n_exact_leaks"),
        count(when(col("in_eval") && !col("bloom_hit"), 1)).as("n_missed"),
        count(when(col("bloom_hit"), 1)).as("n_flagged"))
      .select(
        col("n_train"),
        lit(nEval).as("n_eval"),
        col("n_exact_leaks"),
        col("n_missed"),
        ((col("n_flagged") - col("n_exact_leaks")).cast("double") <=
          col("n_train").cast("double") * fpp * 5.0 + 20.0)
          .as("fp_within_bound"))
  }

  /** Per-document n-gram novelty: the fraction of a document's
    * distinct word k-grams that occur in NO other document (corpus
    * df = 1). High novelty = genuinely fresh text; low novelty =
    * boilerplate/template mass even when no single pair crosses a
    * dedup threshold — the document-granular complement to
    * [[graft.ops.DedupOps.boilerplatePhrases]] (which reports the
    * phrases) and a standard train-mix quality signal. Shape: ONE
    * linear pipeline — scan, shingle explode, df via a window over the
    * shingle, doc-keyed agg. The groupBy(sh)+join-back formulation
    * reads better but physically DUPLICATES the whole explode subtree
    * (two scans, two explodes — the same two-branch trap the
    * spanDedupStats scaladoc documents, caught here by PlanAuditSpec);
    * the window pays one sort within the sh exchange instead of
    * re-running the pipeline. Shingles stay raw strings (~20-30
    * chars — md5-collapsing to 32 would widen the shuffle). */
  def ngramNovelty(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    DedupOps.shingleRows(docs, k)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 4)
          .as("novelty"))
  }

  /** Compression-ratio quality signal (RedPajama-v2 family): DEFLATE
    * length / raw byte length per document. Repetitive or templated
    * text compresses far below prose; random noise sits near (or
    * above) 1.0 — a cheap repetition detector that catches structure
    * n-gram heuristics miss. One scan through the native codegen'd
    * [[graft.functions.DeflateLength]]; no shuffle. The ratio itself
    * is not SQL-derivable (no deflate in DuckDB) — see
    * `compression_audit` in SparkEntry for the gated invariants. */
  def compressionSignals(docs: DataFrame): DataFrame = {
    val rawLen = octet_length(col("text"))
    docs.select(col("doc_id"), col("source"),
      rawLen.as("n_bytes"),
      graft.functions.DeflateLength.deflateLen(col("text")).as("n_deflate"))
      .withColumn("ratio",
        when(col("n_bytes") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_deflate").cast("double") / col("n_bytes"), 4)))
  }

  /** Per-shard dataset manifest: the content-addressed checksum block
    * of a dataset card — for every (source, doc_id-mod shard), the doc
    * count, total chars, and a deterministic corpus digest
    * md5(concat(sorted per-doc md5(text))). Two independently-built
    * copies of a shard agree on `manifest_md5` iff they hold the same
    * MULTISET of texts — the reproducibility pin (training-data
    * provenance, replication audits, "did the rewrite change any
    * byte") that dedup/sampling pipelines publish alongside counts.
    *
    * Determinism: sorting the per-doc digests (not arrival order)
    * makes the fold order-and-partition independent. Scale: the one
    * collect_list is PER SHARD — shards are the unit real manifests
    * checksum (a parquet file's worth), so the list is bounded by
    * shard size, never corpus size; everything else is one grouped
    * pass. */
  def datasetManifest(docs: DataFrame, shards: Long = 8L): DataFrame =
    docs.select(col("source"), (col("doc_id") % shards).as("shard"),
        col("n_chars"), md5(col("text").cast("binary")).as("h"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        md5(concat_ws("", sort_array(collect_list(col("h"))))
          .cast("binary")).as("manifest_md5"))

  /** Shard-packing efficiency audit over [[shardAssignments]]: per
    * source, how many shards the manifest produced and how tightly
    * they pack against the target (offset binning guarantees every
    * shard's mass within ±one max document of `shardChars`; this
    * measures the realized fill). The only additions to the manifest
    * plan are one tiny per-source agg. */
  def shardFillStats(docs: DataFrame, shardChars: Long = 10000L,
      idBucket: Long = 0L): DataFrame =
    shardAssignments(docs, shardChars, idBucket)
      .groupBy("source")
      .agg(count(lit(1)).as("n_shards"),
        sum(col("n_chars")).as("n_chars_total"),
        min(col("n_chars")).as("min_shard_chars"),
        max(col("n_chars")).as("max_shard_chars"),
        round(avg(col("n_chars")).cast("double") / shardChars.toDouble, 4)
          .as("avg_fill"))

  /** Budget-capped selection: keep the highest-value documents until a
    * character budget is filled — the data-selection primitive behind
    * "train on the best N tokens" (value here = document length, the
    * deterministic stand-in; swap the sort key for any per-doc quality
    * score with the same plan). A document is kept iff the cumulative
    * mass of every STRICTLY better document (longer, or equal-length
    * with smaller doc_id) fits the budget — i.e. its start offset in
    * the value-ordered corpus lies inside the budget, the same offset
    * binning as [[shardAssignments]].
    *
    * Scale shape: the same TWO-LEVEL prefix sum as the shard manifest,
    * decomposed on the value key instead of doc_id — a flat
    * `Window.orderBy(...)` with no partition is the classic
    * single-task trap. (1) bucket by `n_chars div valueBucket`
    * (monotone in the sort key), (2) exclusive prefix-sum within each
    * bucket ordered (n_chars DESC, doc_id ASC), (3) per-bucket totals
    * — ONE ROW PER BUCKET, bounded by maxChars/valueBucket — prefix-
    * summed from the TOP bucket down. Bit-identical to the flat
    * window. The bucket width defaults to derived-from-range and the
    * offsets broadcast hint is measurement-guarded, exactly as in
    * [[shardAssignments]]. */
  def selectUnderBudget(docs: DataFrame, budgetChars: Long,
      valueBucket: Long = 0L, targetBuckets: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (vbw, offsetRowBound) =
      derivedBucketWidth(docs, "n_chars", valueBucket, targetBuckets,
        perSource = false)
    val base = docs
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("vb", expr(s"n_chars div ${vbw}L"))
    val intra = base
      .withColumn("intra_excl",
        sum(col("n_chars")).over(
          Window.partitionBy("vb")
            .orderBy(col("n_chars").desc, col("doc_id").asc)) -
          col("n_chars"))
    val offsets = base
      .groupBy("vb").agg(sum(col("n_chars")).as("vb_total"))
      .withColumn("vb_offset",
        sum(col("vb_total")).over(
          Window.orderBy(col("vb").desc)) - col("vb_total"))
      .select("vb", "vb_offset")
    intra
      .join(guardedBroadcast(offsets, offsetRowBound), Seq("vb"))
      .withColumn("cum_excl", col("vb_offset") + col("intra_excl"))
      .filter(col("cum_excl") < budgetChars)
      .select(col("doc_id"), col("source"), col("n_chars"), col("cum_excl"))
  }

  /** Canonical document fingerprint: md5 of the whitespace-collapsed,
    * lowercased text. The join key for exact near-layout dedup — cheap,
    * deterministic, oracle-checkable. */
  def fingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Ingestion dup-rate telemetry — the dedup MONITORING curve beside
    * [[DedupOps]]'s dedup operators: per arrival batch (`doc_id div
    * batchSize`; ids are arrival-ordered in this lake), the share of
    * documents whose normalized fingerprint already occurred at a
    * smaller doc_id. A rising curve is a crawler revisiting its
    * frontier or a source re-delivering — caught from the trend, not
    * from a corpus-wide recount. One fingerprint scan, a min-per-fp
    * collapse, one fp-keyed join back: the exact-dedup shape with a
    * batch rollup on top, no windows. */
  def dupRateByBatch(docs: DataFrame, batchSize: Long = 50L): DataFrame = {
    require(batchSize > 0)
    val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val keeper = fp.groupBy("fp").agg(min(col("doc_id")).as("keeper_id"))
    fp.join(keeper, "fp")
      .groupBy(expr(s"doc_id div ${batchSize}L").as("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper_id"), 1L).otherwise(0L))
          .as("n_dups"))
      .select(col("batch_id"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
  }

  // --- Winnowed rolling-hash fingerprints (Schleimer et al. '03, the
  // MOSS scheme): mod-reduced Rabin-Karp k-gram hashes over the
  // normalized character stream, rightmost-minimum of every w-window
  // selected — the shared-substring fingerprint family the md5
  // fingerprint() can't give. Two bit-identical formulations below:
  // the fused native expression (default) and the relational
  // window-function form (parity baseline + DuckDB-oracle mirror).

  /** Rabin-Karp coefficient `B^j mod M` — mod-reduced so `code * coeff`
    * stays inside BIGINT at any k, in Spark AND the DuckDB oracle
    * (straight powers overflow both past k ≈ 8). */
  private[graft] def polyPow(j: Int): Long =
    BigInt(257).modPow(BigInt(j), BigInt(2147483647L)).toLong

  /** The shared winnowing normalization: lowercase, strip to
    * `[a-z0-9 ]`, collapse whitespace. */
  private def winnowNorm: org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " ")

  /** Winnowed fingerprints via the fused native expression
    * ([[graft.functions.WinnowFingerprints]]): the whole document in
    * one codegen'd pass inside the scan stage — no char-row explode,
    * no doc_id shuffle, no window sorts. Bit-identical to
    * [[winnowedFingerprintsRelational]] (spec-checked) and to the
    * DuckDB oracle. */
  def winnowedFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame =
    docs
      .select(col("doc_id"), winnowNorm.as("t"))
      .filter(length(col("t")) >= k)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints
          .winnowFused(col("t"), k, w)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))

  /** The relational formulation (the repo's sketch rule — no HOF
    * lambdas): one posexplode to the char stream, the k-gram hash as k
    * codegen'd `lead()` terms, the rightmost-min via `min(struct(h,
    * -i))` over a w-row window. One doc_id shuffle; all spillable
    * window machinery. Kept as the parity baseline for the fused
    * expression and as the shape the DuckDB oracle mirrors. */
  def winnowedFingerprintsRelational(docs: DataFrame, k: Int = 5,
      w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 2147483647L
    val base = docs
      .select(col("doc_id"), winnowNorm.as("t"))
      .filter(length(col("t")) >= k)
    val chars = base
      .select(col("doc_id"), posexplode(split(col("t"), "")).as(Seq("i", "c")))
      // split-by-empty-regex appends one trailing "" (limit -1
      // semantics) — a phantom char DuckDB's range(length) never sees
      .filter(col("c") =!= "")
      .select(col("doc_id"), col("i"), ascii(col("c")).cast("long").as("code"))
    val win = Window.partitionBy("doc_id").orderBy("i")
    val h = (0 until k).map { j =>
      val code = if (j == 0) col("code") else lead(col("code"), j).over(win)
      code * lit(polyPow(k - 1 - j))
    }.reduce(_ + _) % M
    val hashed = chars
      .select(col("doc_id"), col("i"), h.as("h"))
      .filter(col("h").isNotNull) // tail rows with no full k-gram
    val sel = hashed
      .withColumn("m",
        min(struct(col("h"), (-col("i")).as("ni")))
          .over(win.rowsBetween(-(w - 1), 0)))
      .filter(col("i") >= w - 1) // full windows only
    sel
      .select(col("doc_id"), (-col("m.ni")).cast("long").as("pos"),
        col("m.h").as("fp"))
      .distinct()
  }

  /** Near-duplicate pairs by shared winnowed fingerprints — the MOSS
    * similarity join: docs sharing >= `minShared` selected fingerprints.
    * Inverted-index shape (join on fp, never doc×doc): Σ df² join cost
    * with the same document-frequency cap as the n-gram Jaccard path
    * (a fingerprint appearing in > `maxDf` docs is boilerplate and is
    * dropped — at corpus scale this bounds the hot posting lists). */
  def winnowNearDups(docs: DataFrame, k: Int = 12, w: Int = 8,
      minShared: Int = 8, maxDf: Int = 50): DataFrame = {
    // df via aggregate + join, not a count window: nothing gets
    // sorted. r18: repartition(fp) BEFORE the distinct — hash(fp)
    // clusters every (doc_id, fp) pair, so the distinct adds no second
    // exchange — and the size aggregation counts col(doc_id) rather
    // than lit(1) so its copy of the exchange prunes identically to
    // the join sides' and all consumers reuse ONE exchange (the winnow
    // fingerprint pipeline previously executed once per branch).
    val fps = winnowedFingerprints(docs, k, w)
      .select(col("doc_id"), col("fp"))
      .repartition(col("fp"))
      .distinct()
    val sizes = fps.groupBy("fp").agg(count(col("doc_id")).as("df"))
      .filter(col("df") <= maxDf)
    val pruned = fps.join(sizes, Seq("fp")).drop("df")
    val a = pruned.select(col("doc_id").as("a_id"), col("fp"))
    val b = pruned.select(col("doc_id").as("b_id"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Top word-bigrams per language — n-gram frequency analysis built on
    * the shared shingle machinery (k=2) joined back to the language
    * column; per-language top-5 via the native top-k operator. */
  def topBigramsByLang(docs: DataFrame, k: Int = 5): DataFrame = {
    val counts = DedupOps
      .shingleRows(docs.select(col("doc_id"), col("text")), 2)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("sh").as("bigram"))
      .agg(count(lit(1)).as("cnt"))
    graft.plans.TopK.perGroup(counts, Seq(col("lang")),
      Seq(col("cnt").desc, col("bigram").asc), k)
  }

  /** The composite corpus-cleaning pass a training-data pipeline runs
    * before tokenization: length + alphabetic-ratio quality gates, then
    * exact near-layout dedup keeping the smallest doc_id per normalized
    * fingerprint. One scan + one hash shuffle on the 16-byte
    * fingerprint — the cheapest correct formulation at any scale; chain
    * [[graft.ops.DedupOps.minhashNearDups]] after it for fuzzy dedup. */
  def cleanCorpus(docs: DataFrame, minChars: Int = 100,
      minAlphaRatio: Double = 0.5): DataFrame = {
    val quality = docs
      .filter(length(col("text")) >= minChars)
      .filter(
        length(regexp_replace(col("text"), "[^A-Za-z ]", "")).cast("double") /
          length(col("text")) >= minAlphaRatio)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fingerprint(col("text")))
      .orderBy(col("doc_id").asc)
    quality
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Stopword-ratio language scorer (n-gram/stopword heuristic
    * language-ID): counts hits of per-language function-word regexes and
    * picks the argmax language. Deterministic, pure expressions; the
    * stopword lists are the classic top function words per language.
    * On real text this is the standard cheap langid; on the synthetic
    * driver corpus it exercises the identical plan shape. */
  val stopwordPatterns: Map[String, String] = Map(
    "en" -> "\\b(the|and|of|to|in|is|you|that|it|for)\\b",
    "fr" -> "\\b(le|la|les|de|et|un|une|que|pas|pour)\\b",
    "es" -> "\\b(el|la|los|de|que|y|en|un|por|con)\\b",
    "de" -> "\\b(der|die|das|und|ist|von|mit|den|nicht|ein)\\b",
    "zh" -> "(的|是|在|了|我|有|和|不|人|这)")

  def languageId(docs: DataFrame): DataFrame = {
    val scored = stopwordPatterns.foldLeft(docs) { case (df, (language, pat)) =>
      df.withColumn(
        s"score_$language",
        size(regexp_extract_all(lower(col("text")), lit(pat), lit(0))))
    }
    val langs = stopwordPatterns.keys.toSeq.sorted
    val best = langs
      .map(l => struct(col(s"score_$l").as("score"), lit(l).as("language")))
      .reduce((a, b) => when(b.getField("score") > a.getField("score"), b).otherwise(a))
    scored
      .withColumn("pred_lang",
        when(greatest(langs.map(l => col(s"score_$l")): _*) === 0, lit("und"))
          .otherwise(best.getField("language")))
      .select((docs.columns.map(col) :+ col("pred_lang")): _*)
  }

  /** Cohen's κ between the declared `lang` label and [[languageId]]'s
    * prediction — the chance-corrected agreement STATISTIC on top of
    * [[langConfusion]]'s raw matrix (two labelers can agree 80% by
    * class imbalance alone; κ subtracts exactly that). κ = (p_o −
    * p_e)/(1 − p_e) with p_o the diagonal share and p_e the expected
    * agreement Σ row_i·col_i / N². All counts exact BIGINT; p_e's
    * numerator sums exact BIGINT products and divides by (N·N) in
    * DOUBLE (pinned order — BIGINT N² would overflow first at web
    * scale); one terminal round per emitted statistic. */
  def langAgreementKappa(docs: DataFrame): DataFrame = {
    val cells = languageId(docs)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val totals = cells.agg(sum(col("n")).as("n_total"),
      sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
        .as("n_agree"))
    val rowTot = cells.groupBy("lang").agg(sum(col("n")).as("r"))
    val colTot = cells.groupBy("pred_lang").agg(sum(col("n")).as("c"))
    val peNum = rowTot
      .join(colTot, col("lang") === col("pred_lang"))
      .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("pe_num"))
    val po = col("n_agree").cast("double") / col("n_total").cast("double")
    val pe = col("pe_num").cast("double") /
      (col("n_total").cast("double") * col("n_total").cast("double"))
    totals.crossJoin(broadcast(peNum))
      .select(col("n_total"), col("n_agree"),
        round(po, 6).as("p_observed"),
        round(pe, 6).as("p_expected"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** Krippendorff's alpha between the declared and predicted language
    * labels (nominal metric, 2 raters) — the chance-corrected
    * agreement coefficient GENERALIZING [[langAgreementKappa]]'s
    * Cohen's kappa: kappa corrects by each rater's OWN marginals
    * (rewarding raters for sharing a bias), alpha by the pooled value
    * distribution, which is why content-analysis methodology
    * standardized on it. For 2 raters and n units:
    * Do = disagreements/n, De = (4n² − Σ_c n_c²)/(2n(2n−1)) with n_c
    * the pooled count of category c, α = 1 − Do/De.
    *
    * Determinism: every lane is an exact BIGINT/DECIMAL(38,0) count;
    * Do/De collapses to the single exact ratio
    * 2·dis·(2n−1)/(4n² − Σn_c²) — ONE pinned division. A one-category
    * corpus has De = 0 → NULL alpha, stated.
    *
    * Shape: the languageId scan collapses to (truth, pred) cells;
    * pooled marginals are a union of two tiny frames. */
  def krippendorffAlphaLang(docs: DataFrame): DataFrame =
    krippendorffAlpha(languageId(docs).select(col("lang"), col("pred_lang")))

  /** [[krippendorffAlphaLang]]'s rater-frame core — nominal
    * 2-rater alpha over any (lang, pred_lang) unit frame. */
  def krippendorffAlpha(units: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val pairs = units
      .localCheckpoint() // the unit reduce + pooled marginals read it
    val unitAgg = pairs.agg(count(lit(1)).as("n"),
      sum(when(col("lang") =!= col("pred_lang"), 1L).otherwise(0L))
        .as("dis"))
    val pooled = pairs.select(col("lang").as("v"))
      .unionAll(pairs.select(col("pred_lang").as("v")))
      .groupBy("v").agg(count(lit(1)).as("nc"))
      .agg(count(lit(1)).as("n_categories"),
        sum(dec(col("nc")) * col("nc")).as("snc2"))
    val n = col("n")
    val deNum = dec(lit(4L)) * n * n - col("snc2")
    val deDen = dec(lit(2L)) * n * (lit(2L) * n - lit(1L))
    val ratio = (dec(lit(2L)) * col("dis") * (lit(2L) * n - lit(1L)))
      .cast("double") / deNum.cast("double")
    unitAgg.crossJoin(broadcast(pooled))
      .select(n.as("n_units"), col("n_categories"),
        col("dis").as("n_disagree"),
        round(col("dis").cast("double") / n.cast("double"), 6)
          .as("do_rate"),
        when(deNum > lit(0),
          round(deNum.cast("double") / deDen.cast("double"), 6))
          .as("de_rate"),
        when(deNum > lit(0), round(lit(1.0) - ratio, 6))
          .as("kripp_alpha"))
  }

  /** Iterative proportional fitting (raking, Deming–Stephan '40) of
    * the source×lang cell masses to UNIFORM marginals — the dataset
    * balancer for when the two quota axes CONFLICT: independent
    * per-source and per-lang reweighting double-counts whenever the
    * table isn't independent (a source that is 90% one language);
    * IPF alternately scales rows then columns to their targets and
    * converges to the unique minimum-KL reweighting with both
    * marginals exact. EXACTLY 3 round-trips (the [[graft.ops
    * .EventOps.coxPhAb]] fixed-iteration contract — marginal error
    * decays geometrically and the residual is part of the output, not
    * hidden). Structural zeros stay zero (stated — IPF cannot invent
    * mass for an absent cell).
    *
    * Determinism: cell masses live as exact 1e-6 micro-unit BIGINTs;
    * every scale factor is one pinned division of a micro-lane sum;
    * each rescaled mass re-pins to micro-units — both rails walk
    * identical integer states. Output: per-cell mass and the per-DOC
    * multiplier a sampler applies, plus the final row-marginal
    * relative error (the convergence telemetry).
    *
    * Shape: one (source, lang) collapse (quota-axes-bounded, constant
    * in corpus size); six scale steps, each one grouped sum + one
    * broadcast join on that tiny frame. */
  def ipfSourceLangWeights(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val cells = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("w", col("n") * lit(1000000L))
      .localCheckpoint() // the margin probes + 6 scale steps read it
    val dims = cells.agg(sum(col("n")).as("nd"),
      countDistinct(col("source")).as("ns"),
      countDistinct(col("lang")).as("nl"))
    def scale(df: DataFrame, key: String, tgt: Column): DataFrame = {
      val sums = df.groupBy(key).agg(sum(col("w")).as("msum"))
      df.join(broadcast(sums), key)
        .select(col("source"), col("lang"), col("n"), col("nd"),
          col("ns"), col("nl"),
          round(col("w").cast("double") *
            (tgt / col("msum").cast("double")), 0).cast("long").as("w"))
    }
    val rowT = col("nd").cast("double") * lit(1000000.0) /
      col("ns").cast("double")
    val colT = col("nd").cast("double") * lit(1000000.0) /
      col("nl").cast("double")
    var w = cells.crossJoin(broadcast(dims))
    for (_ <- 1 to rounds) {
      w = scale(w, "source", rowT)
      w = scale(w, "lang", colT).localCheckpoint(eager = false)
    }
    val err = w.groupBy("source", "nd", "ns")
      .agg(sum(col("w")).as("msum"))
      .select(max(abs(col("msum").cast("double") - rowT) / rowT)
        .as("row_rel_err"))
    w.crossJoin(broadcast(err))
      .select(col("source"), col("lang"), col("n").as("n_docs"),
        round(col("w").cast("double") / lit(1000000.0), 6).as("cell_mass"),
        round(col("w").cast("double") / lit(1000000.0) /
          col("n").cast("double"), 6).as("doc_weight"),
        round(col("row_rel_err"), 6).as("row_rel_err"))
  }

  /** Pairwise source-vocabulary overlap: Jaccard between every two
    * sources' distinct token sets — the corpus-diversity matrix a
    * mixture designer reads before setting [[unimax|UniMax]]/
    * temperature weights (two sources at Jaccard 0.9 are one source
    * for diversity purposes; upweighting both double-counts).
    *
    * Scale: the intersection join is per-TERM — Σ_t sources(t)², with
    * |sources| a mixture-design constant (each term contributes at
    * most |sources|² pairs), linear in the vocabulary. Counts exact;
    * Jaccard is one pinned division via |A∪B| = |A|+|B|−|A∩B|. */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val st = docs.select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "").distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("v"))
    val inter = st.as("a").join(st.as("b"),
        col("a.term") === col("b.term") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("source").as("source_a"), col("v").as("v_a")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("v").as("v_b")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("v_a") + col("v_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Filter-attrition waterfall: the corpus-cleaning funnel's
    * observability row — for each successive quality rule (non-empty →
    * length window → lexical diversity → detector-label agreement),
    * how many documents survive the rules SO FAR, how many this rule
    * dropped, and the stage retention rate. Pipelines tune thresholds
    * from exactly this readout (a rule that drops 40% is a bug or a
    * decision; the waterfall is what surfaces it).
    *
    * Determinism: every count is an exact BIGINT prefix-AND sum from
    * ONE scan (the detector is the only nontrivial flag); the TTR rule
    * compares integers cross-multiplied (distinct·10 ≥ tokens·3), no
    * float threshold; retention is a guarded pinned division. Shape:
    * one corpus pass, a 1-row aggregate, a 6-row stack. */
  def filterAttritionWaterfall(docs: DataFrame): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val flagged = languageId(docs).select(
      (length(trim(col("text"))) > 0).as("f1"),
      (col("n_chars") >= 100L).as("f2"),
      (col("n_chars") <= 500L).as("f3"),
      (size(array_distinct(toks)).cast("long") * lit(10L) >=
        size(toks).cast("long") * lit(3L)).as("f4"),
      (col("pred_lang") === col("lang")).as("f5"))
    val s = flagged.agg(count(lit(1)).as("s0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("s2"),
      sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L))
        .as("s3"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
        .otherwise(0L)).as("s4"),
      sum(when(col("f1") && col("f2") && col("f3") && col("f4") &&
        col("f5"), 1L).otherwise(0L)).as("s5"))
    s.select(expr("stack(6, " +
        "0, 'total', s0, s0, " +
        "1, 'nonempty', s1, s0, " +
        "2, 'min_length', s2, s1, " +
        "3, 'max_length', s3, s2, " +
        "4, 'lexical_diversity', s4, s3, " +
        "5, 'langid_agrees', s5, s4) AS (stage, rule, n_pass, n_prev)"))
      .select(col("stage").cast("long").as("stage"), col("rule"),
        col("n_pass"), (col("n_prev") - col("n_pass")).as("n_dropped"),
        when(col("n_prev") > 0L,
          round(col("n_pass").cast("double") / col("n_prev").cast("double"),
            6)).as("retention"))
  }

  /** Per-class precision/recall/F1 of [[languageId]] against the
    * declared `lang` label — the metric layer over [[langConfusion]]'s
    * raw matrix (and the per-class complement of [[langAgreementKappa]]'s
    * single chance-corrected scalar): which languages the detector can
    * be TRUSTED to filter by, and in which direction it fails
    * (precision loss = foreign docs leak in; recall loss = the class's
    * own docs leak out). Classes are the union of declared and
    * predicted labels, so `und` (no stopword evidence) appears with
    * NULL recall rather than vanishing.
    *
    * Determinism: tp and both marginals are exact BIGINTs from the
    * one (lang, pred) collapse; p/r/f1 are pinned double divisions —
    * NULL where the denominator is 0, and f1 pinned to 0.0 when both
    * marginals exist but tp = 0 (the 0/0 of the harmonic mean).
    * Shape: the detector scan is the only corpus-sized pass; the
    * matrix and its marginals are |langs|²-bounded. */
  def langIdPrf1(docs: DataFrame): DataFrame = {
    val cells = languageId(docs)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val truth = cells.groupBy(col("lang").as("language"))
      .agg(sum("n").as("n_true"))
    val pred = cells.groupBy(col("pred_lang").as("language"))
      .agg(sum("n").as("n_pred"))
    val tp = cells.filter(col("lang") === col("pred_lang"))
      .select(col("lang").as("language"), col("n").as("tp"))
    val joined = truth.join(pred, Seq("language"), "full_outer")
      .join(tp, Seq("language"), "left")
      .select(col("language"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val p = col("tp").cast("double") / col("n_pred").cast("double")
    val r = col("tp").cast("double") / col("n_true").cast("double")
    joined.select(col("language"), col("n_true"), col("n_pred"), col("tp"),
      when(col("n_pred") > 0L, round(p, 6)).as("precision"),
      when(col("n_true") > 0L, round(r, 6)).as("recall"),
      when(col("n_pred") > 0L && col("n_true") > 0L,
        when(col("tp") > 0L, round(lit(2.0) * p * r / (p + r), 6))
          .otherwise(lit(0.0))).as("f1"))
  }

  /** Language-ID confusion matrix: declared `lang` × [[languageId]]'s
    * `pred_lang`, with document counts — the calibration readout that
    * tells you whether to trust the declared labels or the detector
    * before filtering a corpus by language. Diagonal = agreement;
    * heavy off-diagonal cells localize either mislabeled sources or
    * detector blind spots (`und` column = texts with no stopword
    * evidence). One scan (the detector is a fixed set of
    * regexp_extract_all counts) + one tiny (lang, pred) agg. */
  def langConfusion(docs: DataFrame): DataFrame =
    languageId(docs)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))

  /** Deterministic importance sampling: keep each document with
    * probability proportional to its length (capped at 1), decided by
    * the SAME Knuth multiplicative hash as [[datasetSplits]] — i.e.
    * quality/size-weighted downsampling that is reproducible across
    * runs, partition layouts, and engines (no RNG, no seed state).
    * The comparison is a single integer cross-multiply — keep iff
    * `(hash(doc_id) mod 10⁶) · scaleChars < n_chars · 10⁶` — so no
    * division (float OR floor) ever enters the predicate and both
    * engines decide identically: docs at or above `scaleChars`
    * characters always survive (the left side is < 10⁶·scaleChars),
    * a 100-char doc survives at 100/scaleChars odds. Embarrassingly
    * parallel: one scan, a per-row filter, no shuffle at all. */
  /** Deterministic source-mixture sampling: keep each document with
    * its SOURCE's configured probability — the primitive behind
    * per-source token budgets / mixture re-weighting (up-sample the
    * curated sources, down-sample the crawl) when assembling a
    * training mix. Rates are parts-per-million integers so the keep
    * predicate is a pure integer compare against the same Knuth hash
    * as [[datasetSplits]] — no RNG, no floats, reproducible across
    * runs, partition layouts, and engines. Sources absent from the
    * map are dropped (rate 0) — an explicit mix is the contract.
    * One scan, a per-row hash + map lookup, no shuffle. The rate map
    * enters the plan as a literal CASE (built by [[mixtureRateExpr]],
    * shared with the SQL oracle), not a join — mixes are tens of
    * sources, far under any broadcast threshold concern. */
  def mixtureSample(docs: DataFrame, ratesPpm: Seq[(String, Long)]): DataFrame =
    docs
      .filter(pmod(knuthHash32(col("doc_id")), lit(1000000L)) <
        mixtureRateExpr(ratesPpm))
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** Representativeness audit for [[mixtureSample]] — the diagnostic a
    * sampling pipeline ships NEXT TO the sampler: per source, the
    * realized keep count against its binomial expectation under the
    * configured ppm rate, scored as the normal-approximation binomial
    * z. A biased hash, a stale rate literal, or a source silently
    * renamed all surface as |z| blowups (a correct deterministic
    * hash-threshold sample sits within a few z of expectation on any
    * non-adversarial id space). Rates of exactly 0 or 1,000,000 have
    * zero binomial variance — their z is NULL by contract (the count
    * check is exact there: expected == 0 or == n_docs).
    *
    * Determinism: counts exact BIGINT; p = ppm/1e6 and every product
    * is pinned-order double; one terminal round. Shape: the sampler's
    * own scan + two |sources|-row aggregates — no extra pass. */
  def mixtureSampleAudit(docs: DataFrame,
      ratesPpm: Seq[(String, Long)]): DataFrame = {
    val kept = mixtureSample(docs, ratesPpm)
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    val base = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val joined = base.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        mixtureRateExpr(ratesPpm).as("rate_ppm"))
    val p = col("rate_ppm").cast("double") / lit(1000000.0)
    val nD = col("n_docs").cast("double")
    val varB = nD * p * (lit(1.0) - p)
    joined.select(col("source"), col("n_docs"), col("n_sampled"),
      col("rate_ppm"),
      round(nD * p, 4).as("expected"),
      when(varB > lit(0.0),
        round((col("n_sampled").cast("double") - nD * p) / sqrt(varB), 4))
        .as("binom_z"))
  }

  /** The mixture-rate lookup as a CASE expression — one literal plan
    * both engines share (`when` chain here, the identical CASE text in
    * the oracle via [[mixtureRateSql]]). */
  private[graft] def mixtureRateExpr(ratesPpm: Seq[(String, Long)])
      : org.apache.spark.sql.Column =
    ratesPpm.foldLeft(lit(0L)) { case (acc, (src, ppm)) =>
      when(col("source") === src, lit(ppm)).otherwise(acc)
    }

  /** DuckDB text of the same rate CASE, for the oracle. */
  private[graft] def mixtureRateSql(ratesPpm: Seq[(String, Long)]): String =
    ratesPpm.reverse
      .map { case (src, ppm) => s"WHEN source = '$src' THEN ${ppm}" }
      .mkString("CASE ", " ", " ELSE 0 END")

  def importanceSample(docs: DataFrame, scaleChars: Int = 1000): DataFrame =
    docs
      .filter(pmod(knuthHash32(col("doc_id")), lit(1000000L)) *
        lit(scaleChars.toLong) < col("n_chars") * lit(1000000L))
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** EXACT-k weighted sampling without replacement (Efraimidis &
    * Spirakis '06 — "Weighted random sampling with a reservoir"):
    * each doc draws u ∈ (0,1) from the shared Knuth hash and the k
    * LARGEST keys u^(1/w), w = n_chars, are the sample — longer
    * documents proportionally likelier, yet the draw is a pure
    * function of doc_id (no RNG, reproducible across runs, partitions
    * and engines — the same determinism contract as
    * [[importanceSample]], which keeps each doc independently and so
    * cannot hit an exact target count).
    *
    * Scale shape: the k-largest selection is TakeOrderedAndProject —
    * per-partition capped heaps, no global sort. Keys round to 9dp
    * BEFORE ranking with a doc_id tie-break, so the selection boundary
    * is bit-identical in the DuckDB oracle (the sub-ulp pow()
    * divergence between JVM and libm sits 7 orders of magnitude below
    * the rounding step; inter-doc key spacing sits 4 above it). */
  def weightedSample(docs: DataFrame, k: Int = 50): DataFrame = {
    val u = (knuthHash32(col("doc_id")).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    docs.filter(col("n_chars") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(pow(u, lit(1.0) / col("n_chars").cast("double")), 9)
          .as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Broadcast-hint cap for the two-level prefix-sum offset frames:
    * ~262k (source, bucket) rows ≈ 10 MB of (string, long, long) —
    * comfortably executor-memory-safe; past it [[guardedBroadcast]]
    * drops the hint and lets the planner decide. */
  private[graft] val maxOffsetBroadcastRows = 1L << 18

  /** Apply the broadcast hint only when a measured/derived upper bound
    * on the frame's rows sits under [[maxOffsetBroadcastRows]]. Output
    * is identical either way — the hint is plan hygiene for the
    * Catalyst agg-size overestimate, not a correctness knob. */
  private def guardedBroadcast(offsets: DataFrame, rowBound: Long): DataFrame =
    if (rowBound <= maxOffsetBroadcastRows) broadcast(offsets) else offsets

  /** Bucket width for the two-level prefix sums, plus an upper bound
    * on the resulting offsets frame's row count. One tiny
    * column-pruned agg job against the ACTUAL key range: with
    * `explicitWidth = 0` the width is derived so the global bucket
    * count is ~`targetBuckets` regardless of corpus size; a positive
    * `explicitWidth` is honored unchanged but still measured, so the
    * broadcast hint downstream is guarded by data rather than by the
    * caller having read the sizing note. `perSource` multiplies the
    * bound by the (approx) source count — the worst case for a
    * (source, bucket)-keyed offsets frame with interleaved sources. */
  private def derivedBucketWidth(docs: DataFrame, key: String,
      explicitWidth: Long, targetBuckets: Long,
      perSource: Boolean): (Long, Long) = {
    val st = docs
      .agg(min(col(key)), max(col(key)),
        approx_count_distinct(col("source"))).head()
    if (st.isNullAt(0)) (math.max(1L, explicitWidth), 0L)
    else {
      val span = st.getLong(1) - st.getLong(0) + 1L
      val w =
        if (explicitWidth > 0) explicitWidth
        else math.max(1L, (span + targetBuckets - 1L) / targetBuckets)
      val mult = if (perSource) math.max(1L, st.getLong(2)) else 1L
      (w, (span / w + 1L) * mult)
    }
  }

  /** Training-shard packing manifest: assign documents to ~`shardChars`
    * shards per source in deterministic doc_id order (the dataloader
    * contract — every rebuild of the corpus must produce identical
    * shards), then emit one manifest row per shard with its document
    * count and byte mass. Shard id = exclusive-prefix-sum of character
    * mass floor-divided by the target — offset binning: a document
    * belongs to the shard its start offset falls in, so every shard's
    * mass lands within ±(one max document) of the target.
    *
    * Shape at scale — TWO-LEVEL prefix sum, the textbook distributed
    * scan: a flat `partitionBy(source)` window caps parallelism at the
    * source count and makes one giant source one sorting task. Instead
    * (1) range-bucket ids (`doc_id div idBucket` — monotone in doc_id
    * for the nonnegative ids this manifest requires, so per-source
    * order by (bucket, doc_id) IS order by doc_id), (2) prefix-sum
    * WITHIN each (source, bucket) — parallelism = #buckets, not
    * #sources, (3) prefix-sum the per-bucket totals per source — a
    * frame with ONE ROW PER BUCKET that joins back as each bucket's
    * starting offset. The offsets join is broadcast-hinted because
    * Catalyst overestimates an aggregate's output from its input size
    * and would otherwise plan a shuffle join (two pointless exchanges
    * + a sort) for a bucket-count-sized frame; a stats guard
    * (maybeBroadcast) declines for the same reason. (At test SF the
    * two plans time the same — the cost is the scan+window, and an
    * SMJ over 200 rows is sub-ms — this is plan hygiene for the
    * cluster case, where the extra exchange is a real stage.)
    *
    * The hint is GUARDED BY MEASUREMENT, not by a scaladoc contract:
    * by default (`idBucket = 0`) the bucket width is derived from the
    * actual id range so the offsets frame is ~`targetBuckets` rows per
    * source at ANY corpus scale, and an explicitly pinned `idBucket`
    * is honored but the same range stats bound the offsets row count —
    * past [[maxOffsetBroadcastRows]] the join runs unhinted and the
    * planner decides, instead of force-broadcasting a frame that only
    * the docs promised would stay small (a caller who forgot to retune
    * a pinned width on a 1000× corpus would otherwise OOM the driver).
    * The derivation is one tiny column-pruned agg job; output is
    * bit-identical to the flat window for EVERY width. Dense-ish ids
    * assumed for efficiency only — sparse hash ids just derive a
    * proportionally wider bucket. */
  def shardAssignments(docs: DataFrame, shardChars: Long = 10000L,
      idBucket: Long = 0L, targetBuckets: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (ib, offsetRowBound) =
      derivedBucketWidth(docs, "doc_id", idBucket, targetBuckets, perSource = true)
    val base = docs
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("b", expr(s"doc_id div ${ib}L"))
    val intra = base
      .withColumn("intra_excl",
        sum(col("n_chars")).over(
          Window.partitionBy("source", "b").orderBy("doc_id")) -
          col("n_chars"))
    val offsets = base
      .groupBy("source", "b").agg(sum(col("n_chars")).as("b_total"))
      .withColumn("b_offset",
        sum(col("b_total")).over(
          Window.partitionBy("source").orderBy("b")) - col("b_total"))
      .select("source", "b", "b_offset")
    intra
      .join(guardedBroadcast(offsets, offsetRowBound), Seq("source", "b"))
      .withColumn("cum_excl", col("b_offset") + col("intra_excl"))
      // BIGINT `div`, not `/` — Spark's `/` promotes to double, which
      // drifts from DuckDB's exact `//` past 2^53
      .withColumn("shard_id", expr(s"cum_excl div ${shardChars}L"))
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
  }

  /** Out-of-vocabulary rate per source against the TRAIN-split
    * vocabulary — the coverage readout a tokenizer/vocab pipeline
    * checks before committing to a vocab: build the token vocabulary
    * from the [[datasetSplits]] train docs (the same Knuth-hash
    * bucket < 90 rule), then measure what share of each source's
    * HELD-OUT token occurrences falls outside it. Train docs are
    * excluded from the measurement (their tokens are in the vocab by
    * construction — their OOV is structurally 0).
    *
    * Scale: the vocab is the DISTINCT train token set (Heaps-bounded,
    * ≪ corpus tokens); the probe is one token-keyed left join of
    * held-out occurrences against it — both sides key on token, no
    * broadcast assumption needed at 100 TB. Counts are exact BIGINTs;
    * the rate is one pinned division. */
  def oovRateBySource(docs: DataFrame): DataFrame = {
    val bucket = pmod(knuthHash32(col("doc_id")), lit(100)).cast("long")
    val toks = docs.select(col("doc_id"), col("source"),
        bucket.as("b"), explode(DedupOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.filter(col("b") < 90L)
      .select("tok").distinct().withColumn("in_vocab", lit(1L))
    toks.filter(col("b") >= 90L)
      .join(vocab, Seq("tok"), "left")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"),
          6).as("oov_rate"))
  }

  /** DSIR importance log-weights (Xie et al. '23, Data Selection via
    * Importance Resampling) — the principled replacement for
    * rule-of-thumb quality filters when assembling a pretraining mix:
    * score every document by how much more likely its tokens are
    * under a TARGET-domain unigram LM than under the raw-corpus LM,
    *
    *   logw(d) = Σ_{t∈d} [ ln p_tgt(t) − ln p_raw(t) ],
    *
    * Laplace-smoothed over the shared raw vocabulary (p(t) =
    * (c(t)+1)/(N+V)), so unseen-in-target tokens contribute a finite
    * penalty instead of −∞. The target here is the `targetLang`
    * document slice — the available stand-in for "looks like my eval
    * domain"; swap the filter for any target predicate. High-weight
    * docs are the ones importance resampling would keep.
    *
    * Determinism: counts are exact BIGINTs; each ln sees an identical
    * single-division double on both engines, and the per-doc Σ of ln
    * terms is rounded 6dp — the [[graft.ops.MiningOps.bigramPerplexity]]
    * /[[unigramKlBySource]] summation-order convention.
    *
    * Scale: two unigram hash aggs (target + raw — ONE corpus scan
    * each), token-keyed joins of occurrences against the count frames
    * (Zipf-hot keys absorbed by map-side partials), one per-doc
    * collapse. No driver-side model, no vocabulary grid. */
  def dsirLogWeights(docs: DataFrame,
      targetLang: String = "en"): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(DedupOps.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
    val raw = toks.groupBy("t").agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("lang") === targetLang)
      .groupBy("t").agg(count(lit(1)).as("ct"))
    val totals = raw.agg(sum(col("cr")).as("nr"), count(lit(1)).as("v"))
    val ntk = toks.filter(col("lang") === targetLang)
      .agg(count(lit(1)).as("ntk"))
    val lr =
      log((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) /
        (col("ntk").cast("double") + col("v").cast("double"))) -
        log((col("cr").cast("double") + lit(1.0)) /
          (col("nr").cast("double") + col("v").cast("double")))
    toks.join(raw, "t").join(tgt, Seq("t"), "left")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(ntk))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(lr), 6).as("log_weight"))
  }

  /** Unicode-normalization audit per source: how many documents are
    * not NFC-normal (é composed vs e+combining-acute — they hash,
    * dedupe, and tokenize DIFFERENTLY until normalized) and the
    * post-NFC character mass. Runs on the native
    * [[graft.functions.UnicodeNormalize]] expression — codegen'd, with
    * a zero-allocation pass-through for already-normal (e.g. ASCII)
    * text, so the audit is one cheap scan + a tiny source agg. The
    * pipeline rule this audits: normalize BEFORE [[fingerprint]] /
    * [[DedupOps]] hashing, or composed and decomposed copies of the
    * same text count as distinct documents. */
  def nfcStats(docs: DataFrame): DataFrame = {
    val n = graft.functions.UnicodeNormalize.nfc(col("text"))
    docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(n =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
      sum(length(n)).as("sum_len_nfc"))
  }

  /** Zipf fit per language: the least-squares slope of
    * ln(freq) ~ ln(rank) over each language's unigram
    * rank–frequency curve — natural text sits near −1; a corpus that
    * drifts far off is synthetic, templated, or mis-tokenized (a
    * standard corpus-health probe). Ranks are pinned to a TOTAL order
    * (count DESC, term ASC) so both engines rank ties identically;
    * the slope is assembled from the classic moment sums, one final
    * rounding absorbing last-ulp ln/summation drift.
    *
    * Shape at scale: the (lang, term) hash agg does the heavy
    * lifting; the rank window partitions BY LANGUAGE over the
    * aggregated vocab (bounded by distinct-term count, not corpus
    * size — and per-language, so no global single-partition sort);
    * the moment agg collapses it to one row per language. */
  def zipfSlopeByLang(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = docs
      .select(col("lang"), explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
    val ranked = vocab
      .withColumn("rank", row_number().over(Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("term").asc)))
      .select(col("lang"), log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    ranked.groupBy("lang").agg(
      count(lit(1)).as("n_terms"),
      round((count(lit(1)) * sum(col("x") * col("y")) -
        sum(col("x")) * sum(col("y"))) /
        (count(lit(1)) * sum(col("x") * col("x")) -
          sum(col("x")) * sum(col("x"))), 6).as("zipf_slope"))
  }

  /** Per-source unigram KL divergence from the corpus distribution:
    * D(source ‖ corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    * information-theoretic "how far does this source's vocabulary
    * drift from the mix" number behind [[distinctiveTermsBySource]]'s
    * per-term lifts. Every p_s(t) > 0 term also occurs in the corpus
    * by construction, so the log is always finite. The ratio inside
    * the log is the cross product (cnt·N)/(srcTotal·cnt_all) with
    * each factor cast to double BEFORE multiplying — exact casts
    * (counts < 2⁵³) and correctly-rounded IEEE products, so both
    * engines feed ln the identical double with no BIGINT overflow at
    * web scale — and one final rounding absorbs summation-order
    * drift.
    *
    * Shape at scale: same skeleton as [[distinctiveTermsBySource]] —
    * one (source, term) hash agg feeds the corpus re-agg (by term)
    * and the source totals (tiny, broadcast); output is one row per
    * source. */
  def unigramKlBySource(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val corpus = st.groupBy("term").agg(sum(col("cnt")).as("cnt_all"))
    val srcTot = st.groupBy("source").agg(sum(col("cnt")).as("src_total"))
    val corpTot = corpus.agg(sum(col("cnt_all")).as("n_total"))
    st.join(corpus, "term")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpTot))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        round(sum((col("cnt").cast("double") /
          col("src_total").cast("double")) *
          log((col("cnt").cast("double") * col("n_total").cast("double")) /
            (col("src_total").cast("double") *
              col("cnt_all").cast("double")))), 6)
          .as("kl_vs_corpus"))
  }

  /** Jensen–Shannon divergence of each source's unigram distribution
    * from the corpus — [[unigramKlBySource]]'s bounded symmetric
    * sibling: KL explodes on terms the reference lacks and is
    * asymmetric, while JS(P‖C) = ½KL(P‖M) + ½KL(C‖M), M = (P+C)/2,
    * is finite always and capped at ln 2 — the divergence mixture
    * weighting can actually compare across sources. Corpus terms the
    * source never uses contribute in closed form (their mixture is
    * c/2, so the term is c·ln 2): only PRESENT (source, term) rows
    * are ever scanned, plus one exact absent-mass correction —
    * no source × vocabulary grid is materialized.
    *
    * Determinism: all masses are exact BIGINT count ratios; the two
    * ln-term sums follow the unigram_kl convention (identical double
    * terms, ONE final rounding absorbing summation-order drift). */
  def jensenShannonBySource(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val corpus = st.groupBy("term").agg(sum(col("cnt")).as("cnt_all"))
    val srcTot = st.groupBy("source").agg(sum(col("cnt")).as("src_total"))
    val corpTot = corpus.agg(sum(col("cnt_all")).as("n_total"))
    val p = col("cnt").cast("double") / col("src_total").cast("double")
    val c = col("cnt_all").cast("double") / col("n_total").cast("double")
    val m = (p + c) / lit(2.0)
    val ln2 = 0.6931471805599453
    st.join(corpus, "term")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(corpTot))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(p * log(p / m)).as("sp"),
        sum(c * log(c / m)).as("sc"),
        sum(col("cnt_all")).as("present_all"),
        max(col("n_total")).as("n_total"))
      .select(col("source"), col("n_terms"),
        round((col("sp") + col("sc") + lit(ln2) *
          (lit(1.0) - col("present_all").cast("double") /
            col("n_total").cast("double"))) / lit(2.0), 6)
          .as("js_vs_corpus"))
  }

  /** Heavy-hitter terms: every term whose corpus frequency is at least
    * `minShare` of all tokens, with its EXACT count — found without
    * ever shuffling the vocabulary.
    *
    * [[topTerms]] is the exact baseline: one (term) hash aggregation
    * whose shuffle carries every distinct term each partition saw. At
    * web scale that per-partition vocabulary is the problem — a 100 TB
    * corpus has billions of distinct tokens (typos, ids, urls), so the
    * exact plan shuffles billions of rows to answer a question whose
    * answer is a few hundred terms. This is the classic two-pass
    * sketch-then-confirm plan (Misra–Gries 1982; MAD-sketch /
    * frequent-items in every warehouse engine):
    *
    *   pass 1 (candidates): per PARTITION, a Misra–Gries summary with
    *     k = ⌈1/minShare⌉ counters over the token stream —
    *     O(k) memory, one decrement-all amortized per non-resident
    *     token. Pigeonhole guarantee: any term with GLOBAL count
    *     > n/(k+1) exceeds the per-partition bound n_p/(k+1) in at
    *     least one partition, so the UNION of per-partition survivors
    *     (≤ parts·k tiny rows, the only shuffle) is a superset of
    *     every term at share ≥ minShare ≥ 1/k > 1/(k+1).
    *   pass 2 (confirm): re-scan tokens, keep only candidates (the
    *     ≤ parts·k candidate set broadcasts; the semi-join is a local
    *     hash probe, no shuffle of the token stream), count EXACTLY,
    *     and keep counts ≥ ⌈minShare·n_total⌉.
    *
    * The output is therefore exact and deterministic — identical to
    * the brute-force `GROUP BY term HAVING cnt ≥ T` — while the only
    * full-vocabulary structure ever built is k counters per partition.
    * MG's false positives (survivors below the threshold) cost only
    * wasted confirm-pass counters; they are filtered by the final
    * HAVING. `n_total` is computed as a one-row aggregate and
    * cross-joined (broadcast) rather than collected to the driver.
    *
    * mapPartitions is the deliberate choice for pass 1 (SURVEY §2
    * "last resort" clause): the MG summary is genuine per-partition
    * imperative state — size-BOUNDED, unlike a groupBy partial whose
    * hash map grows with the partition's vocabulary. */
  def heavyHitterTerms(docs: DataFrame, minShare: Double = 0.001)
      : DataFrame = {
    require(minShare > 0 && minShare <= 1, s"minShare in (0,1]: $minShare")
    val k = math.ceil(1.0 / minShare).toInt
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = docs.select(explode(DedupOps.tokens(col("text"))).as("term"))

    // Pass 1: per-partition Misra–Gries, k counters. Survivor terms
    // only (counts are lower bounds, useless once exactness is free).
    val candidates = toks.as[String].mapPartitions { it =>
      val counters = new scala.collection.mutable.HashMap[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < k => counters.update(t, 1L)
          case None => // decrement-all; drop zeros (classic MG step)
            val dead = List.newBuilder[String]
            counters.foreach { case (term, c) =>
              if (c == 1L) dead += term else counters.update(term, c - 1)
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("term").distinct()

    // Pass 2: exact counts for candidates only. The candidate frame is
    // ≤ parts·k rows by construction — the broadcast is bounded, not
    // data-dependent (contrast maybeBroadcast's stats guard for dims).
    val nTotal = toks.agg(count(lit(1)).as("n_total"))
    toks
      .join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(nTotal))
      .filter(col("cnt") >= ceil(col("n_total") * minShare))
      .select(col("term"), col("cnt"),
        round(col("cnt") / col("n_total"), 6).as("share"))
      .orderBy(col("cnt").desc, col("term").asc)
  }

  /** MERGEABLE Misra–Gries summary of a token column — the summary
    * form [[heavyHitterTerms]]'s candidates-then-exact-recount shape
    * cannot give a STREAM (no second pass over history exists): ≤ k
    * rows of (term, c_lb) where c_lb is a lower bound on the term's
    * true count with total under-count ≤ n/(k+1) (Misra–Gries '82;
    * summaries of disjoint streams merge by per-term summation + the
    * [[mgReduce]] cut, preserving the bound — Agarwal et al.,
    * "Mergeable summaries", TODS '13). The summary CONTENT depends on
    * partition layout; the containment and bound guarantees hold
    * under every layout, which is what the audit gates.
    *
    * Shape: per-partition bounded-size MG maps (genuine imperative
    * per-partition state, the mapPartitions clause), partial-count
    * merge on term, then the top-(k+1) cut via the capped-heap
    * [[graft.plans.TopK]] operator — no full sort anywhere. */
  def mgSummary(tokens: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"MG counter budget must be positive: $k")
    val spark = tokens.sparkSession
    import spark.implicits._
    val partials = tokens.select(col("term")).as[String].mapPartitions { it =>
      val counters = new scala.collection.mutable.HashMap[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < k => counters.update(t, 1L)
          case None =>
            val dead = List.newBuilder[String]
            counters.foreach { case (term, c) =>
              if (c == 1L) dead += term else counters.update(term, c - 1)
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.iterator.map { case (t, c) => (t, c) }
    }.toDF("term", "c_lb")
    mgReduce(partials, k)
  }

  /** The mergeable-summaries reduction: sum per-term lower bounds,
    * subtract the (k+1)-th largest summed value from everything and
    * keep the positives — ≤ k rows out, lower bounds preserved. */
  private[graft] def mgReduce(summaries: DataFrame, k: Int): DataFrame = {
    val summed = summaries.groupBy("term").agg(sum(col("c_lb")).as("c"))
    val top = graft.plans.TopK.perGroup(
      summed.withColumn("g", lit(1)), Seq(col("g")),
      Seq(col("c").desc, col("term").asc), k + 1).drop("g")
    val cut = top.agg(
      when(count(lit(1)) === (k + 1).toLong, min(col("c")))
        .otherwise(lit(0L)).as("cstar"))
    top.crossJoin(broadcast(cut))
      .filter(col("c") - col("cstar") > 0L)
      .select(col("term"), (col("c") - col("cstar")).as("c_lb"))
  }

  /** In-engine BPE tokenizer TRAINING — `rounds` greedy merge rounds
    * actually applied, not just round-0 candidates (contrast
    * [[bpeMergeCandidates]], which scores the initial character
    * bigrams and stops). Each round replays Sennrich et al.'s
    * `get_stats` + `merge_vocab` relationally over the word-frequency
    * dict:
    *
    *   1. pair stats: `lead(sym)` over each word's symbol sequence,
    *      weighted by word count — overlapping pairs count with
    *      multiplicity ("aaa" → (a,a) twice), the BPE definition;
    *   2. best pair: global argmax with (count DESC, pair ASC)
    *      tie-break — a 1-row broadcast;
    *   3. merge: classic BPE replaces occurrences LEFT-TO-RIGHT
    *      without overlap ("aaa" merging (a,a) → "aa"+"a"). Greedy
    *      non-overlap is gaps-and-islands: consecutive marked
    *      positions form runs, and within a run exactly the
    *      odd-ranked marks merge. Absorbed symbols drop, positions
    *      renumber, and the next round runs on the result.
    *
    * Everything is exact integer/string arithmetic — counts are
    * BIGINTs, symbols are [a-z]+ strings (the vocabulary is
    * restricted to alphabetic words, so concatenated merge symbols
    * stay unambiguous and ASCII tie-breaks are engine-identical) —
    * which makes the whole trainer hash-gateable, like the other
    * unrolled iterative operators (pagerank, k-core, PCA). Output:
    * one row per round — the merge learned, its `pair_count` (the
    * get_stats RANKING statistic, which counts overlapping
    * occurrences), the `n_merged` actually applied (kept marks ×
    * word freq — strictly less than pair_count when the best pair
    * overlaps itself, e.g. (a,a) in "aaa" counts twice but merges
    * once), and the corpus symbol count after the round (telescopes
    * by `n_merged`, NOT by pair_count).
    *
    * Scale shape: vocabulary-first (the corpus collapses to DISTINCT
    * words with counts before any character-level work — Heaps' law
    * keeps |vocab| ≪ corpus tokens); each round is one
    * window-partitioned scan of the (vocab × word-length) symbol
    * frame plus a tiny pair aggregation, every join keyed on `word`
    * so the partitioning is reused across rounds. This is exactly
    * the split a production distributed BPE trainer uses; more
    * rounds unroll linearly. */
  /** Classic BPE `merge_vocab`: greedy LEFTMOST non-overlapping
    * replacement of the (bx, by) pair inside one symbol array, as a
    * left fold carrying (emitted prefix, pending symbol) — "aaa"
    * merging (a,a) → ["aa","a"], exactly the gaps-and-islands odd-rank
    * rule the row-level [[bpeApplyMerge]] implements (spec-pinned to
    * it in ExactArithmeticSpec). Shared by the trainer's per-round
    * apply and [[bpeApplyMerges]] (r17: the fold is one projection per
    * word; the row form cost three windows and two joins per merge). */
  private[graft] def bpeMergeFold(s: Column, bx: Column,
      by: Column): Column = {
    val init = struct(array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    aggregate(s, init,
      (acc, x) => {
        val out = acc.getField("out")
        val prev = acc.getField("prev")
        when(prev.isNull,
          struct(out.as("out"), x.as("prev")))
          .when(prev === bx && x === by,
            struct(concat(out, array(concat(prev, x))).as("out"),
              lit(null).cast("string").as("prev")))
          .otherwise(
            struct(concat(out, array(prev)).as("out"), x.as("prev")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"),
          array(acc.getField("prev")))))
  }

  def bpeTrainRounds(docs: DataFrame, rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1 && rounds <= 10, s"rounds in [1,10]: $rounds")
    val vocab = docs
      .select(explode(regexp_extract_all(
        lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // ARRAY formulation (r17, guide §2.4): one row per word carrying
    // its symbol SEQUENCE as an array column, instead of one row per
    // (word, pos) symbol. Pair stats become an adjacent-zip explode
    // (bigramRows' trick) and the greedy merge becomes a per-row fold
    // — each round collapses from three word-partitioned windows + two
    // (word, pos) joins (~10 shuffle stages) to ONE pair aggregation
    // plus a projection. Same counts, same greedy-leftmost semantics
    // (ExactArithmeticSpec fixtures + the partitioning-invariance
    // property + the unrolled DuckDB oracle all pin it).
    val seqs0 = vocab.select(col("word"), col("freq"),
      split(col("word"), "").as("syms"))
    val initTotal = seqs0
      .agg(sum(col("freq") * size(col("syms")).cast("long")).as("total0"))

    // adjacent pairs with multiplicity: zip of the two length-(n-1)
    // slices — identical pair rows to the old lead() window
    def pairStats(seqs: DataFrame): DataFrame = {
      val s = col("syms")
      seqs.select(col("freq"), explode(zip_with(
          slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
          (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
        .groupBy(col("p.x").as("sym"), col("p.y").as("sym2"))
        .agg(sum("freq").as("cnt"))
    }

    def mergeRound(seqs: DataFrame, r: Int): (DataFrame, DataFrame) = {
      val best = pairStats(seqs)
        .orderBy(col("cnt").desc, col("sym").asc, col("sym2").asc)
        .limit(1)
        .select(col("sym").as("bx"), col("sym2").as("by"), col("cnt"))
      val merged = seqs.crossJoin(broadcast(best))
        .withColumn("nsyms",
          bpeMergeFold(col("syms"), col("bx"), col("by")))
      // n_merged = Σ freq · (len_before − len_after): every applied
      // merge shortens the word by exactly one symbol — the same
      // number the old odd-rank kept count measured
      val applied = merged.agg(coalesce(sum(col("freq") *
          (size(col("syms")) - size(col("nsyms"))).cast("long")),
        lit(0L)).as("n_merged"))
      val next = merged.select(col("word"), col("freq"),
        col("nsyms").as("syms"))
      val mergeRow = best.crossJoin(applied).select(lit(r).as("round"),
        col("bx").as("sym1"), col("by").as("sym2"),
        col("cnt").as("pair_count"), col("n_merged"))
      (next, mergeRow)
    }

    // localCheckpoint per round: the symbol frame is read twice per
    // round (pair stats, merge apply) and the next round builds on the
    // result — truncation keeps the replayed lineage linear (the
    // connectedComponents lesson, DedupOps.scala:525)
    var seqs = seqs0.localCheckpoint()
    var merges = List.empty[DataFrame]
    for (r <- 1 to rounds) {
      val (next, mergeRow) = mergeRound(seqs, r)
      seqs = next.localCheckpoint()
      merges = merges :+ mergeRow
    }
    val wRound = Window.orderBy(col("round").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merges.reduce(_ unionByName _)
      .crossJoin(broadcast(initTotal))
      .select(col("round"), col("sym1"), col("sym2"), col("pair_count"),
        col("n_merged"),
        (col("total0") - sum(col("n_merged")).over(wRound))
          .as("corpus_symbols_after"))
  }

  /** BPE tokenizer APPLY — one learned merge rewritten into an
    * unweighted `(word, pos, sym)` symbol frame. This is
    * [[bpeTrainRounds]] step 3 (greedy leftmost-non-overlap
    * gaps-and-islands) with the pair FIXED instead of argmaxed and no
    * `freq` weighting: apply is per-distinct-word, so occurrence
    * counts are irrelevant until the doc join. Kept separate from the
    * trainer's `mergeRound` on purpose — that closure also produces
    * the per-round merge row and threads `freq`, and sharing a core
    * would couple the hash-gated trainer to apply-side changes. */
  def bpeApplyMerge(seqs: DataFrame, sym1: String, sym2: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wm = Window.partitionBy("word").orderBy("pos")
    val withNext = seqs.withColumn("sym2", lead(col("sym"), 1).over(wm))
    val kept = withNext
      .filter(col("sym") === lit(sym1) && col("sym2") === lit(sym2))
      .withColumn("island", col("pos") - row_number().over(wm))
      .withColumn("rk", row_number().over(
        Window.partitionBy("word", "island").orderBy("pos")))
      .filter(col("rk") % 2 === 1)
      .select(col("word"), col("pos"), lit(true).as("kept"))
    val absorbed = kept.select(col("word"), (col("pos") + 1L).as("pos"),
      lit(true).as("absorbed"))
    withNext
      .join(kept, Seq("word", "pos"), "left")
      .join(absorbed, Seq("word", "pos"), "left")
      .filter(col("absorbed").isNull)
      .select(col("word"), col("pos"),
        when(col("kept"), concat(col("sym"), col("sym2")))
          .otherwise(col("sym")).as("sym"))
      .withColumn("npos", (row_number().over(wm) - 1).cast("long"))
      .select(col("word"), col("npos").as("pos"), col("sym"))
  }

  /** Tokenize arbitrary words (including held-out ones the trainer
    * never saw) under an ordered merge list: split to characters,
    * then apply each merge once in learned order — the classic
    * Sennrich apply, identical to what training itself does to its
    * vocabulary, so a trained word tokenizes to exactly its
    * end-of-training symbol sequence. Returns `(word, pos, sym)`.
    *
    * localCheckpoint per merge for the same lineage reason as the
    * trainer: each round reads its input three times (marks, absorbed,
    * rebuild) and feeds the next. */
  def bpeApplyMerges(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val syms = bpeApplyMergesArr(words, merges)
    syms.select(col("word"),
        posexplode(col("syms")).as(Seq("pos", "sym")))
      .withColumn("pos", col("pos").cast("long"))
      .select(col("word"), col("pos"), col("sym"))
  }

  /** Array form of [[bpeApplyMerges]]: `(word, syms ARRAY)` — the
    * ordered merge list applied as chained [[bpeMergeFold]]s, one
    * PROJECTION over the distinct-word frame with zero shuffles
    * (r17: the row form paid three word-partitioned windows + two
    * (word, pos) joins + a checkpoint PER MERGE). [[bpeApplyMerge]]
    * stays as the row-level parity baseline (ExactArithmeticSpec pins
    * the two to identical symbol sequences). */
  def bpeApplyMergesArr(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    var syms: Column = split(col("word"), "")
    for ((a, b) <- merges)
      syms = bpeMergeFold(syms, lit(a), lit(b))
    words.select(col("word"), syms.as("syms"))
  }

  /** The step that makes [[bpeTrainRounds]] useful: train `rounds`
    * merges on the corpus, then ENCODE the corpus with them — per-doc
    * token counts under the trained vocab (`n_tokens_bpe`) next to
    * the pre-merge character count (`n_tokens_char`), whose gap is
    * the compression the learned merges bought.
    *
    * Scale shape: vocabulary-first like the trainer — merges apply to
    * the DISTINCT word set (Heaps' law keeps it ≪ corpus tokens) and
    * fan back to docs through one `word`-keyed join of per-word token
    * counts; the merge list itself is a ≤`rounds`-row driver collect,
    * a bounded index artifact like the IVF centroid cache, NOT a
    * data-sized collect. Words the [a-z]{2,} trainer vocabulary
    * excludes (single letters) pass through apply unchanged — no
    * pair ever matches inside a 1-symbol sequence. */
  def bpeTokenizeCounts(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val merges = bpeTrainRounds(docs, rounds)
      .select("round", "sym1", "sym2").orderBy("round")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    val docWords = docs.select(col("doc_id"),
      explode(regexp_extract_all(
        lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
    // array apply: per-word token count is size(syms) — no symbol
    // explode, no count-back shuffle (r17)
    val perWord = bpeApplyMergesArr(docWords.select("word").distinct(),
        merges)
      .select(col("word"), size(col("syms")).cast("long").as("word_tokens"))
    docWords.join(perWord, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("word_tokens").as("n_tokens_bpe"),
        sum(length(col("word")).cast("long")).as("n_tokens_char"))
      .orderBy(col("doc_id").asc)
  }

  /** Greedy sequence packing for LLM pretraining: per source, docs are
    * laid head-to-tail in (n_tokens DESC, doc_id) order into fixed
    * `seqLen`-token training sequences, documents straddling sequence
    * boundaries — the GPT-style concat-and-chunk packing that wastes
    * zero pad tokens (vs first-fit bin packing, which is inherently
    * sequential-stateful AND pads). The doc's start offset is one
    * partitioned window prefix sum; sequence index and the straddle
    * flag are exact integer `div` arithmetic, so the whole frame is
    * bit-deterministic. Output is one row per (source, seq): how many
    * docs START in the sequence, their token mass, and how many run
    * past its end — the packing-efficiency view a data loader samples
    * from. Tokens are the [[bpeishTokenCounts]] measure; empty-token
    * docs are excluded (they occupy no stream positions).
    *
    * 100 TB shape: `source` is a ~4-value domain, so a flat
    * per-source prefix window would push each source's WHOLE corpus
    * through one task — the prefix sum instead runs through
    * [[graft.ops.RankOps.groupedRunningSum]]'s composite (source,
    * bucket) two-level decomposition (−n_tokens as the monotone
    * bucket key for the DESC order), keeping parallelism at #sources
    * × #buckets with only the per-(source, bucket) totals riding a
    * bounded per-source prefix. Shard-grain packing (`packed_shards`)
    * composes this with [[shardAssignments]] so loaders can pack
    * shards independently. */
  def sequencePacking(docs: DataFrame, seqLen: Int = 2048): DataFrame = {
    require(seqLen >= 1, s"seqLen >= 1: $seqLen")
    val toks = docs.select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
          .as("n_tokens"))
      .filter(col("n_tokens") > 0L)
    RankOps.groupedRunningSum(toks, Seq("source"), -col("n_tokens"),
        Seq(col("n_tokens").desc, col("doc_id").asc), col("n_tokens"),
        "cum")
      .withColumn("seq", expr(s"(cum - n_tokens) div ${seqLen}L"))
      .withColumn("straddles",
        when(expr(s"(cum - 1L) div ${seqLen}L") > col("seq"), 1L)
          .otherwise(0L))
      .groupBy(col("source"), col("seq"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens_started"),
        sum("straddles").as("n_straddling"))
  }

  /** [[sequencePacking]] composed with [[shardAssignments]]' shard
    * grain — the production packing form its docs have always
    * prescribed, registered end-to-end (judge task r15#5): docs are
    * first assigned to fixed-`shardChars` shards (exclusive per-source
    * char prefix in doc_id order, the shardAssignments rule at DOC
    * grain), then greedy-packed into `seqLen`-token sequences WITHIN
    * each (source, shard) independently, so a data loader can pack
    * any shard without seeing its neighbors.
    *
    * 100 TB shape: the shard prefix is
    * [[graft.ops.RankOps.groupedRunningSum]]'s composite two-level
    * decomposition, and the packing window partitions by (source,
    * shard_id) — each partition holds ≤ `shardChars` characters of
    * docs BY CONSTRUCTION, so no window anywhere exceeds shard grain.
    * Output: one row per (source, shard, seq) with the same packing
    * stats as [[sequencePacking]]. */
  def packedShards(docs: DataFrame, shardChars: Long = 10000L,
      seqLen: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardChars >= 1L, s"shardChars >= 1: $shardChars")
    require(seqLen >= 1, s"seqLen >= 1: $seqLen")
    val base = docs.select(col("doc_id"), col("source"), col("n_chars"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
        .as("n_tokens"))
    val sharded = RankOps.groupedRunningSum(base, Seq("source"),
        col("doc_id"), Seq(col("doc_id").asc), col("n_chars"),
        "cum_incl")
      .withColumn("shard_id",
        expr(s"(cum_incl - n_chars) div ${shardChars}L"))
    // shard-grain window: each (source, shard_id) partition is
    // char-bounded by construction — the bounded form the tiny-domain
    // sweep requires
    val w = Window.partitionBy("source", "shard_id")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded.filter(col("n_tokens") > 0L)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq", expr(s"(cum - n_tokens) div ${seqLen}L"))
      .withColumn("straddles",
        when(expr(s"(cum - 1L) div ${seqLen}L") > col("seq"), 1L)
          .otherwise(0L))
      .groupBy(col("source"), col("shard_id"), col("seq"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens_started"),
        sum("straddles").as("n_straddling"))
  }

  /** RAKE keyphrase extraction (Rose et al. '10) — the unsupervised
    * keyword miner beside [[tfidfTopTerms]]' per-doc terms and
    * [[graft.ops.MiningOps.pmiCollocations]]' bigram associations:
    * candidate phrases are maximal stopword-free token runs (capped at
    * `maxLen` — longer runs are prose, not phrases), each word scores
    * degree/frequency (degree = Σ length of the phrases it appears in,
    * so words that travel in long phrases outrank loners), and a
    * phrase scores the sum of its words. Determinism: the per-word
    * ratio is ONE rounded double (6dp) cast into DECIMAL(20,6), so
    * per-phrase sums are order-exact; identical phrase strings carry
    * identical scores by construction (same word multiset), collapsed
    * with max(). Phrase assembly sorts (pos, term) structs — no
    * collect-order dependence.
    *
    * Shape: one posexplode over the corpus; the gaps-and-islands
    * window partitions per doc; word stats and scoring run on
    * candidate-occurrence rows (≤ token count); top-k is
    * TakeOrderedAndProject. */
  def rakeKeyphrases(docs: DataFrame,
      stopwords: Seq[String] = Seq("a", "the", "and", "of", "to", "in",
        "is", "on"),
      maxLen: Int = 4, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+"))
        .as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val content = toks.filter(!col("term").isin(stopwords: _*))
    val wIsl = Window.partitionBy("doc_id").orderBy(col("pos").asc)
    val runs = content.withColumn("grp",
      col("pos") - row_number().over(wIsl))
    val phraseRows = runs
      .withColumn("n_words",
        count(lit(1)).over(Window.partitionBy("doc_id", "grp")))
      .filter(col("n_words") <= maxLen)
    val wordStats = phraseRows.groupBy("term")
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("deg"))
    val scored = phraseRows.join(wordStats, "term")
      .select(col("doc_id"), col("grp"), col("pos"), col("term"),
        round(col("deg").cast("double") / col("freq").cast("double"), 6)
          .cast("decimal(20,6)").as("ws"))
    val phrases = scored.groupBy("doc_id", "grp")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("term")))),
          e => e.getField("term")), " ").as("phrase"),
        sum(col("ws")).as("score"))
    phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        max(col("score")).cast("double").as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase").asc)
      .limit(topK)
  }

  /** Hashing-trick document features — the fixed-width sparse
    * featurization (Weinberger et al. '09) every linear-model stage
    * of a data pipeline leans on when the vocabulary is unbounded:
    * each token folds to one of `k` buckets through a Rabin-Karp
    * char-code hash (the [[winnowedFingerprints]] polynomial — NOT
    * the engine-private xxhash64, so the oracle replays it exactly),
    * signed by the hash's next bit so collisions cancel in
    * expectation rather than bias upward. Output is the sparse
    * (doc_id, bucket, weight) triple frame.
    *
    * Scale: one explode + one (doc, bucket) hash agg; the fold runs
    * per DISTINCT word via a tiny vocabulary frame first (Heaps' law
    * — same trick as the BPE encoder), so the corpus-sized pass is a
    * word-keyed broadcast-or-shuffle join, not per-token hashing. */
  def featureHashBuckets(docs: DataFrame, k: Int = 64): DataFrame = {
    val M = 2147483647L
    // tokens normalized to [a-z0-9] so every char code is ASCII — the
    // winnow normalization argument: ascii() then agrees between
    // engines on every input
    val words = docs
      .select(col("doc_id"),
        explode(DedupOps.tokens(col("text"))).as("w0"))
      .select(col("doc_id"),
        regexp_replace(col("w0"), "[^a-z0-9]", "").as("w"))
      .filter(length(col("w")) > 0)
    val vocab = words.select("w").distinct()
      .select(col("w"),
        aggregate(
          filter(split(col("w"), ""), c => c =!= ""),
          lit(0L),
          (h, c) => (h * lit(257L) + ascii(c).cast("long")) % lit(M))
          .as("h"))
      .select(col("w"), pmod(col("h"), lit(k.toLong)).as("bucket"),
        when(pmod(floor(col("h") / lit(k.toLong)).cast("long"),
          lit(2L)) === 0L, 1L).otherwise(-1L).as("sgn"))
    words.join(vocab, "w")
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sgn")).as("weight"))
  }

  /** Tokenizer fertility per language — tokens-per-word and
    * chars-per-token under the BPE-ish regex tokenizer vs whitespace
    * words: the multilingual-cost readout every tokenizer choice is
    * judged by (a language whose fertility runs 2× pays 2× the
    * context window and 2× the FLOPs for the same text). Exact BIGINT
    * count sums per language; two pinned divisions. */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
        .as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        sum(col("n_words")).as("words"), sum(col("n_tokens")).as("tokens"))
      .select(col("lang"), col("n_docs"), col("chars"), col("words"),
        col("tokens"),
        when(col("words") > 0L, round(col("tokens").cast("double") /
          col("words").cast("double"), 6)).as("fertility"),
        when(col("tokens") > 0L, round(col("chars").cast("double") /
          col("tokens").cast("double"), 6)).as("chars_per_token"))

  /** Chao1 vocabulary-richness estimate per source — "how much
    * vocabulary does this source have that we have NOT seen yet?"
    * (Chao '84 via the hapax/dis legomena counts f1/f2): the unseen-
    * species lower bound every corpus-coverage decision ("is another
    * crawl of this source worth it?") leans on, plus the Good–Turing
    * sample coverage 1 − f1/N (the probability the NEXT token is a
    * known word). Uses the bias-corrected Chao1-bC form
    * V + f1·(f1−1)/(2·(f2+1)), defined even when f2 = 0.
    *
    * Exactness: V, N, f1, f2 are exact BIGINTs off the same two-level
    * (source, word) collapse as [[vocabStatsByLang]]; the estimate is
    * one pinned integer-ratio division added to V. Shape: one
    * map-side-absorbed (source, word) agg then a |sources| rollup. */
  def chao1VocabRichness(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("f1"),
        col("f2"),
        round(col("vocab").cast("double") +
          (col("f1") * (col("f1") - lit(1L))).cast("double") /
            (lit(2L) * (col("f2") + lit(1L))).cast("double"), 4)
          .as("chao1"),
        round(lit(1.0) - col("f1").cast("double") /
          col("n_tokens").cast("double"), 6).as("gt_coverage"))

  /** Simpson diversity of the token distribution per source — the
    * collision-probability lens beside [[chao1VocabRichness]]'s
    * richness estimate and [[ttrBySource]]'s flat ratio: λ = Σ c(c−1)
    * / (N(N−1)) is the exact probability two tokens drawn WITHOUT
    * replacement coincide, 1−λ the Gini–Simpson diversity, 1/λ the
    * effective vocabulary size ("how many equally-common types would
    * feel this diverse"). Unlike entropy it needs no logarithm, so
    * the whole statistic is exact-integer until one pinned division.
    *
    * Determinism: per-(source, token) counts are exact BIGINTs,
    * Σc(c−1) aggregates in DECIMAL(38,0) (c² at corpus scale passes
    * 2⁶³), and λ is ONE pinned division; sources with < 2 tokens →
    * all three NULL, stated. A source whose tokens are ALL distinct
    * (coll = 0) has λ = 0 and Gini–Simpson = 1 exactly — both emitted
    * — while effective vocabulary 1/λ is genuinely undefined there
    * and alone goes NULL. Shape: one tokenize/explode + two hash
    * aggs. */
  def simpsonDiversityBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
        sum(col("c").cast("decimal(38,0)") * (col("c") - lit(1L)))
          .as("coll"))
      .select(Seq(col("source"), col("vocab"), col("n_tokens")) ++ {
        val lam = col("coll").cast("double") /
          (col("n_tokens").cast("decimal(38,0)") *
            (col("n_tokens") - lit(1L))).cast("double")
        val enough = col("n_tokens") >= 2L
        Seq(
          when(enough, round(lam, 6)).as("simpson_lambda"),
          when(enough, round(lit(1.0) - lam, 6)).as("gini_simpson"),
          when(enough && col("coll") > lit(0), round(lit(1.0) / lam, 6))
            .as("effective_vocab"))
      }: _*)

  /** Term burstiness (Church & Gale '95): the variance-to-mean ratio
    * of a term's per-document count, over ALL documents (absent = 0)
    * — content words BURST (VMR ≫ 1: absent from most docs, repeated
    * where they appear) while function words spread Poisson-like
    * (VMR ≈ 1). The stopword-vs-keyword separator TF-IDF's df-only
    * lens misses: two terms with identical df and tf can differ 10×
    * in VMR.
    *
    * Determinism: per-(term, doc) counts are exact; with S = Σc and
    * Q = Σc² (zeros contribute nothing to either), VMR = (n·Q − S²) /
    * (n·S) is ONE pinned division of exact DECIMAL(38,0) integers;
    * the top-`topK` cut orders (rounded VMR desc, term asc).
    *
    * Shape: one tokenize/explode + (term, doc) hash agg; per-term
    * moments are a second hash agg; `minDf` prunes the hapax tail
    * BEFORE the cut and the cut is TakeOrderedAndProject. */
  def termBurstiness(docs: DataFrame, minDf: Long = 50,
      topK: Int = 30): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n"))
    val td = docs
      .select(col("doc_id"), explode(DedupOps.tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    td.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").as("tf"),
        sum(dec(col("c")) * col("c")).as("q"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"), col("tf"),
        round((dec(col("n")) * col("q") - dec(col("tf")) * col("tf"))
          .cast("double") /
          (dec(col("n")) * col("tf")).cast("double"), 6).as("vmr"))
      .orderBy(col("vmr").desc, col("term").asc)
      .limit(topK)
  }

  /** Heaps'-law fit per source: V(N) ≈ k·N^β estimated by log-log OLS
    * over the per-doc cumulative (tokens, vocabulary) growth curve in
    * doc_id order — the corpus-planning constant ([[zipfSlopeByLang]]'s
    * dual): β tells how fast new text keeps paying vocabulary, and an
    * anomalous β (≈1 = no reuse, near 0 = template spam) is a source-
    * quality smell the flat TTR misses.
    *
    * Exactness (the pinballLoss discipline): each point's ln N / ln V
    * is re-pinned to BIGINT micro-units BEFORE the regression sums, so
    * the order-dependent accumulations are exact integer adds (the
    * moment products in DECIMAL(38,0) — micro² × 10⁹ points overflows
    * BIGINT); slope and intercept are two pinned double divisions of
    * exact numerators. Cumulatives come from per-source windows (the
    * vocabulary curve needs min-doc_id first occurrences, an exact
    * set-theoretic collapse — no sketch). Sources with < 2 docs → NULL
    * fit. */
  def heapsLawFit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("source"), col("doc_id"),
      explode(DedupOps.tokens(col("text"))).as("w"))
    val perDoc = toks.groupBy("source", "doc_id")
      .agg(count(lit(1)).as("nt"))
    val firstOcc = toks.groupBy("source", "w")
      .agg(min("doc_id").as("doc_id"))
      .groupBy("source", "doc_id").agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy("source").orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perDoc.join(firstOcc, Seq("source", "doc_id"), "left")
      .select(col("source"), col("doc_id"), col("nt"),
        coalesce(col("nv"), lit(0L)).as("nv"))
      .select(col("source"),
        sum(col("nt")).over(w).as("cum_n"),
        sum(col("nv")).over(w).as("cum_v"))
    val pts = cum.select(col("source"),
      round(log(col("cum_n").cast("double")) * lit(1000000.0), 0)
        .cast("long").as("xm"),
      round(log(col("cum_v").cast("double")) * lit(1000000.0), 0)
        .cast("long").as("ym"))
    val s = pts.groupBy("source").agg(count(lit(1)).as("k"),
      sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
      sum(col("xm").cast("decimal(38,0)") * col("ym")).as("sxy"),
      sum(col("xm").cast("decimal(38,0)") * col("xm")).as("sxx"))
    val den = (col("k").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    val beta = (col("k").cast("decimal(38,0)") * col("sxy") -
      col("sx").cast("decimal(38,0)") * col("sy")).cast("double") / den
    val intercept = (col("sy").cast("double") - beta * col("sx")
      .cast("double")) / col("k").cast("double") / lit(1000000.0)
    s.select(col("source"), col("k").as("n_docs"),
      when(den > lit(0.0), round(beta, 6)).as("heaps_beta"),
      when(den > lit(0.0), round(exp(intercept), 4)).as("heaps_k"))
  }

  /** Yule's characteristic K per source (Yule '44) — the classic
    * repeat-rate richness constant beside [[chao1VocabRichness]]'s
    * unseen-species estimate and [[simpsonDiversityBySource]]'s
    * collision probability: K = 10⁴·(Σ m²·V_m − N)/N², where V_m is
    * the number of types appearing m times. K is (asymptotically)
    * text-length invariant, which is what makes it a cross-source
    * comparator where raw TTR is not. Σ m²V_m ≡ Σ_types c² — no
    * explicit spectrum needed.
    *
    * Determinism: per-(source, token) counts exact BIGINT, Σc² in
    * DECIMAL(38,0) (c² at corpus scale passes 2⁶³), K is ONE pinned
    * division; sources with N < 2 → NULL, stated. Shape: one
    * tokenize/explode + two hash aggs — no windows, no sorts. */
  def yuleKBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sumsq"))
      .select(col("source"), col("vocab"), col("n_tokens"),
        when(col("n_tokens") >= 2L,
          round(lit(10000.0) *
            (col("sumsq") - col("n_tokens").cast("decimal(38,0)"))
              .cast("double") /
            (col("n_tokens").cast("decimal(38,0)") * col("n_tokens"))
              .cast("double"), 6)).as("yule_k"))

  /** Honoré's H and Sichel's S per source — the hapax/dis-legomena
    * pair completing the richness battery: H = 100·ln N / (1 − V₁/V)
    * rewards productive vocabularies whose types are NOT mostly
    * one-offs; S = V₂/V is (empirically) length-stable. Both are
    * single-pass spectrum reads off the same (source, token) counts
    * as [[yuleKBySource]].
    *
    * Determinism: V/V₁/V₂/N exact BIGINT; H = 100·ln(N)·V/(V − V₁)
    * — the ln is one deterministic fp64 call and the divide is ONE
    * pinned division of exact lanes; V₁ = V (every type a hapax) →
    * NULL H, stated. */
  def honoreSichelBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("v2"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("v1"),
        col("v2"),
        when(col("v1") < col("vocab"),
          round(lit(100.0) * log(col("n_tokens").cast("double")) *
            col("vocab").cast("double") /
            (col("vocab") - col("v1")).cast("double"), 6))
          .as("honore_h"),
        round(col("v2").cast("double") / col("vocab").cast("double"), 6)
          .as("sichel_s"))

  /** Good–Turing smoothed count spectrum per source: the adjusted
    * counts r* = (r+1)·V_{r+1}/V_r for r = 1..3 off the frequency-of-
    * frequencies spectrum — the smoothing every add-k-free language
    * model applies to its low-count tail (Good '53), and the
    * companion of [[chao1VocabRichness]]'s coverage (1 − V₁/N is
    * already emitted there; HERE is what the observed counts should
    * be discounted TO). A spectrum whose r* ≫ r signals boilerplate
    * duplication; r* ≪ r signals a heavy hapax tail.
    *
    * Determinism: V_r exact BIGINT; each r* is ONE pinned division;
    * V_r = 0 → NULL r* (undefined), stated. */
  def goodTuringSpectrumBySource(docs: DataFrame): DataFrame = {
    val vs = (1 to 4).map(r =>
      sum(when(col("c") === r.toLong, 1L).otherwise(0L)).as(s"v$r"))
    val spec = docs
      .select(col("source"), explode(DedupOps.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(vs.head, vs.tail: _*)
    def rStar(r: Int) =
      when(col(s"v$r") > 0L,
        round(lit((r + 1).toDouble) * col(s"v${r + 1}").cast("double") /
          col(s"v$r").cast("double"), 6)).as(s"r_star_$r")
    spec.select(col("source"), col("v1"), col("v2"), col("v3"),
      col("v4"), rStar(1), rStar(2), rStar(3))
  }

  /** Sentence-length profile per source: split on [.!?]+ sentence
    * terminators, drop whitespace-only fragments, count whitespace
    * tokens per sentence — the stylometric lens the per-DOC length
    * stats miss (a source of 200-token docs can be 10-token sentences
    * of clean prose or one 200-token run-on). Output per source:
    * sentence count, exact mean tokens/sentence, and the max.
    *
    * Determinism: per-sentence token counts are exact BIGINT off the
    * same whitespace tokenizer as the richness battery; the mean is
    * ONE pinned division (Σ tokens over sentences / n_sentences);
    * sources with zero sentences (empty/punctuation-free text still
    * yields its full text as one fragment, so this requires all-NULL
    * docs) → no row, stated. Shape: one split/explode + two hash
    * aggs; never a regex per token. */
  def sentenceLengthBySource(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        explode(split(col("text"), "[.!?]+")).as("sent"))
      .filter(trim(col("sent")) =!= "")
      .select(col("source"),
        size(split(trim(col("sent")), "\\s+")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("n_tok")).as("n_tokens"),
        max(col("n_tok")).as("max_sentence_tokens"))
      .select(col("source"), col("n_sentences"),
        round(col("n_tokens").cast("double") /
          col("n_sentences").cast("double"), 6)
          .as("avg_sentence_tokens"),
        col("max_sentence_tokens"))

  /** Punctuation-profile χ² per source: each source's counts over six
    * punctuation classes (. , ! ? ; :) against the corpus-wide class
    * distribution — the cheap stylometric anomaly flag (machine-
    * generated or template text skews hard toward one class; scraped
    * forum text over-indexes ! and ?). χ² = Σ_c (obs_c − n_s·p_c)² /
    * (n_s·p_c) with p_c the corpus share.
    *
    * Determinism: per-class counts are exact BIGINT via
    * length-minus-replace (no regex); with C = corpus total and
    * C_c = corpus class totals, each term is (obs·C − n_s·C_c)² /
    * (n_s·C_c·C) — exact DECIMAL(38,0) lanes, per-term micro-pinned
    * to BIGINT BEFORE the 6-term sum (fp addition order never
    * matters), ONE unpin at the end. Sources with no punctuation →
    * NULL χ², stated. */
  def punctProfileChisqBySource(docs: DataFrame): DataFrame = {
    val classes = Seq(".", ",", "!", "?", ";", ":")
    def cnt(ch: String): Column =
      (length(col("text")) - length(translate(col("text"), ch, "")))
        .cast("long")
    val os = classes.zipWithIndex.map { case (ch, i) =>
      sum(cnt(ch)).as(s"o$i") }
    val perSource = docs.groupBy("source").agg(os.head, os.tail: _*)
    val ts = (0 until classes.length).map(i => sum(col(s"o$i")).as(s"t$i"))
    val totals = perSource.agg(ts.head, ts.tail: _*)
      .withColumn("tc", (0 until classes.length)
        .map(i => col(s"t$i")).reduce(_ + _))
    val withN = perSource
      .withColumn("ns", (0 until classes.length)
        .map(i => col(s"o$i")).reduce(_ + _))
      .crossJoin(broadcast(totals))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val terms = (0 until classes.length).map { i =>
      val num = dec(col(s"o$i")) * col("tc") - dec(col("ns")) * col(s"t$i")
      val den = dec(col("ns")) * col(s"t$i") * col("tc")
      when(den > lit(0),
        round(num.cast("double") * num.cast("double") /
          den.cast("double") * lit(1000000.0), 0).cast("long"))
        .otherwise(lit(0L))
    }
    withN.select(col("source"), col("ns").as("n_punct"),
      when(col("ns") > 0L,
        round(terms.reduce(_ + _).cast("double") / lit(1000000.0), 4))
        .as("chisq_vs_corpus"))
  }

  /** Kendall's coefficient of concordance W (Kendall–Babington Smith
    * '39) across three source rankings — by document count, by total
    * characters, and by longest document: do the volume metrics agree
    * on which sources dominate? Ranks are tie-free permutations
    * (row_number, metric desc then source asc), so the classic
    * W = 12·ΣD²/(m²·n·(n²−1)) applies without a tie correction; D is
    * kept in DOUBLED integer units (2R_i − m(n+1)) so the whole
    * statistic is exact integer arithmetic until one final division.
    * Also reports the large-n chi-square m(n−1)W.
    *
    * Scale: one grouped pass collapses the corpus to |sources| rows;
    * the three rank windows and the 1-row reduce run on that tiny
    * frame. */
  def kendallWSources(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("tot_chars"),
      max("n_chars").as("max_chars"))
    val ranked = per
      .withColumn("r1", row_number().over(
        Window.orderBy(col("n_docs").desc, col("source").asc)))
      .withColumn("r2", row_number().over(
        Window.orderBy(col("tot_chars").desc, col("source").asc)))
      .withColumn("r3", row_number().over(
        Window.orderBy(col("max_chars").desc, col("source").asc)))
    val m = 3L
    val tot = per.agg(count(lit(1)).as("nsrc"))
    val dev = ranked.crossJoin(broadcast(tot))
      .select(col("nsrc"),
        (lit(2L) * (col("r1") + col("r2") + col("r3")).cast("long") -
          lit(m) * (col("nsrc") + lit(1L))).as("d2"))
    val agg = dev.groupBy("nsrc")
      .agg(sum(col("d2") * col("d2")).as("d2sq"))
    val nD = col("nsrc").cast("double")
    val w = lit(3.0) * col("d2sq").cast("double") /
      (lit(m * m).cast("double") * nD * (nD * nD - lit(1.0)))
    agg.select(col("nsrc").as("n_sources"), lit(m).as("m_rankers"),
      col("d2sq").as("ssd_doubled"),
      when(col("nsrc") > 1L, round(w, 6)).as("kendall_w"),
      when(col("nsrc") > 1L,
        round(lit(m).cast("double") * (nD - lit(1.0)) * w, 6))
        .as("chi2"))
  }

  /** Pairwise Hellinger / Bhattacharyya distances between the sources'
    * language distributions — the distributional-shift matrix a corpus
    * curator reads before mixing sources (which crawls are
    * linguistically interchangeable, which would shift the mix?).
    * BC = Σ_l √(p_l·q_l) over the shared languages (absent languages
    * contribute exactly 0, so the inner join IS the full sum),
    * H = √(max(0, 1−BC)) with the clamp guarding the BC→1 fp tail,
    * and −ln BC guarded NULL on disjoint supports.
    *
    * Determinism: each p is one exact-count division, each term one
    * fixed-order √(p·q); the ≤5-term sum follows the
    * [[graft.ops.EventOps.userTypeEntropy]] small-cardinality
    * contract; 6dp rounds.
    *
    * Scale: the corpus collapses to the (source,lang) grid first;
    * the pair join is |sources|² on that grid — dimension-sized, and
    * broadcast on one side. */
  def hellingerLangPairs(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
    val tots = cells.groupBy("source").agg(sum("c").as("n"))
    val p = cells.join(broadcast(tots), "source")
      .select(col("source"), col("lang"),
        (col("c").cast("double") / col("n").cast("double")).as("p"))
    val joined = p.as("a").join(broadcast(p.as("b")),
        col("a.lang") === col("b.lang") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        sqrt(col("a.p") * col("b.p")).as("term"))
    val bc = joined.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared_langs"), sum("term").as("bc"))
    bc.select(col("src_a"), col("src_b"), col("n_shared_langs"),
      round(col("bc"), 6).as("bhatt_coef"),
      round(sqrt(greatest(lit(0.0), lit(1.0) - col("bc"))), 6)
        .as("hellinger"),
      when(col("bc") > lit(0.0), round(-log(col("bc")), 6))
        .as("bhatt_dist"))
      .orderBy("src_a", "src_b")
  }

  /** Burrows' Delta between source pairs (Burrows 2002) — the
    * stylometric distance authorship attribution runs on: each
    * source's relative frequency of the corpus's top-K terms is
    * z-scored ACROSS sources per term, and Δ(a,b) is the mean
    * absolute z gap — so a pair differs by how far apart their usage
    * of the COMMON vocabulary sits, not by exotic words
    * ([[hellingerLangPairs]] compares language mixes; this compares
    * style within the shared vocabulary).
    *
    * Determinism: the top-K cut is a total (count desc, term asc)
    * order; frequencies are exact-count ratios; the per-term
    * mean/sample-std run over the ZERO-FILLED |sources| frame
    * (absent term → exact 0.0 — dropping those rows would bias μ
    * up); zero-variance terms are excluded from K with the realized
    * n_terms reported. Each z and |Δz| is fixed-order double work;
    * the ≤K-term pair sum precedes one 6dp round.
    *
    * Shape: one tokenize+count collapse of the corpus; everything
    * after lives on the K×|sources| grid and its |sources|² pair
    * join (dimension-sized, broadcast). */
  def burrowsDeltaPairs(docs: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col("source"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val sc = terms.groupBy("source", "term").agg(count(lit(1)).as("cnt"))
    val stot = sc.groupBy("source").agg(sum("cnt").as("src_total"))
    // top-K via global sort+limit (TakeOrderedAndProject) — the same
    // (count desc, term asc) total order as a rank window, but its
    // plan broadcasts cleanly (an unpartitioned Window under a
    // broadcast hint trips the AllTuples distribution requirement)
    val top = sc.groupBy("term").agg(sum("cnt").as("cnt_all"))
      .orderBy(col("cnt_all").desc, col("term").asc)
      .limit(k)
      .select("term")
    val gridF = stot.crossJoin(broadcast(top))
      .join(sc, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
        (coalesce(col("cnt"), lit(0L)).cast("double") /
          col("src_total").cast("double")).as("f"))
    val stats = gridF.groupBy("term").agg(
      count(lit(1)).as("ns"), sum("f").as("fs"),
      sum(col("f") * col("f")).as("fq"))
    val mu = col("fs") / col("ns").cast("double")
    val sd = sqrt((col("fq") - col("fs") * col("fs") /
      col("ns").cast("double")) / (col("ns") - lit(1L)).cast("double"))
    // the z frame is K x |sources| rows but its lineage holds the
    // whole tokenize pipeline AND a global-order window — materialize
    // once (the RankOps convention; the window's AllTuples
    // distribution also cannot sit under a broadcast self-join)
    val z = gridF.join(broadcast(stats
        .select(col("term"), mu.as("mu"), sd.as("sd"))
        .filter(col("sd") > lit(0.0))), "term")
      .select(col("source"), col("term"),
        ((col("f") - col("mu")) / col("sd")).as("z"))
      .localCheckpoint()
    val pairs = z.as("a").join(broadcast(z.as("b")),
        col("a.term") === col("b.term") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_terms"),
        sum(abs(col("a.z") - col("b.z"))).as("dsum"))
    pairs.select(col("src_a"), col("src_b"), col("n_terms"),
      round(col("dsum") / col("n_terms").cast("double"), 6)
        .as("burrows_delta"))
      .orderBy("src_a", "src_b")
  }
}
