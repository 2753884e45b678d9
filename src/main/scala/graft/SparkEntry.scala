package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.Tables._

/** Query contract — one [[SparkEntry.Query]] record per implemented
  * operator from SURVEY.md §2 (+ the training-data-pipeline
  * extensions): its name, its Spark build, and ANSI SQL for the DuckDB
  * oracle where SQL-expressible. `queries` and `oracleSql` are views
  * of the one `registry`.
  *
  * Conventions keeping the hash-compare stable (SURVEY.md §7 risks):
  * every computed column is aliased identically on both sides; float
  * aggregates are `round(x, 4)` (or 2 for money) on both sides; integer
  * sums are cast to BIGINT in DuckDB (which otherwise widens to
  * HUGEINT — enforced by OracleLintSpec since r8); DuckDB `date_trunc`
  * returns DATE for day-or-coarser so those are cast back to
  * TIMESTAMP; ties in top-k/dedup are pinned with a stable key on
  * both sides.
  *
  * Hash-seed-bound operators (sketches, LSH/IVF search) whose raw
  * outputs are not SQL-expressible are gated through derived AUDIT
  * queries instead of staying rows-only: planted scaled-copy twins
  * (recall exactly 1 under sign-LSH and cosine IVF assignment),
  * pure-function invariants (simhash constant per text; hamming-0
  * pairs always banded together), and deterministic accuracy flags
  * (HLL++ within ±3·rsd of exact). A gate must return rows at
  * sf0.01 — a 0-row result can never fail and is vacuous.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    JoinOps.revenueByNation(spark, "/root/testdata/sf0.001")

  /** Learned IVF centroids are a build-once index artifact (like any
    * ANN library's fit step): learn on first use per dataset dir,
    * reuse thereafter — so repeated `knn_ivf` calls (and the bench's
    * timed reps, whose warm-up run absorbs the fit) measure query-time
    * search, not a per-query re-fit. The cache holds the COLLECTED
    * nlist×dim floats, not a DataFrame — a DataFrame is bound to the
    * session that built it, so caching one would hand a second
    * SparkSession in the same JVM a plan from a possibly-stopped
    * session; the plain Seq is session-free and rebuilt per caller. */
  private val ivfCentroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Seq[Float])]]
  private def ivfCentroids(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ivfCentroidCache.getOrElseUpdate(d,
        VectorOps.learnedCentroids(embeddings(s, d), nlist = 16)
          .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1))
      .toDF("list_id", "cv")
  }

  /** Fixed demo mix for `mixture_sample`: the 20 synthetic sources at
    * rates 0 / 0.25 / 0.5 / 0.75 / 1.0 ppm-million by index — exercises
    * full drop, partial down-sampling, and always-keep in one gate. */
  private val mixtureRates: Seq[(String, Long)] =
    (0 until 20).map(i => s"src$i" -> (i % 5).toLong * 250000L)

  /** Pinned inclusion-dependency candidates (child_table, child_col,
    * parent_table, parent_col): the seven true TPC-H FKs, two partial
    * REVERSES (direction signal), and one cross-domain spurious
    * candidate. Single source of truth for both rails — the oracle
    * UNION below is generated from this list by [[indSql]]. */
  private val indCandidates: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("events", "user_id", "customer", "c_custkey"))

  /** One IPF scale step for the ipf_source_lang_weights oracle:
    * rescale micro-unit masses so `key`'s marginal hits `tgt`
    * (tgt interpolated as a SQL double expression). */
  private def ipfStepSql(out: String, prev: String, key: String,
      tgt: String): String =
    s"$out AS MATERIALIZED (SELECT source, lang, n, nd, ns, nl, " +
      s"CAST(round(CAST(w AS DOUBLE) * (($tgt) / CAST(msum AS DOUBLE)), 0) " +
      "AS BIGINT) AS w FROM (SELECT *, " +
      s"CAST(sum(w) OVER (PARTITION BY $key) AS BIGINT) AS msum " +
      s"FROM $prev))"

  /** One oracle branch per IND candidate — same distinct-string
    * containment as ProfileOps.inclusionDependencyAudit (the join is
    * within ONE engine, so value formatting never crosses rails). */
  private def indSql(c: (String, String, String, String)): String = {
    val (ct, cc, pt, pc) = c
    s"SELECT '$ct' AS child_table, '$cc' AS child_col, " +
      s"'$pt' AS parent_table, '$pc' AS parent_col, " +
      "nc AS n_child_distinct, nh AS n_contained, " +
      "CASE WHEN nc > 0 THEN " +
      "round(CAST(nh AS DOUBLE) / CAST(nc AS DOUBLE), 6) END " +
      "AS containment, (nc > 0 AND nh = nc) AS is_ind FROM (" +
      "SELECT CAST(count(*) AS BIGINT) AS nc, " +
      "CAST(coalesce(sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END), " +
      "0) AS BIGINT) AS nh FROM " +
      s"(SELECT DISTINCT CAST($cc AS VARCHAR) AS v FROM $ct " +
      s"WHERE $cc IS NOT NULL) c LEFT JOIN " +
      s"(SELECT DISTINCT CAST($pc AS VARCHAR) AS v FROM $pt " +
      s"WHERE $pc IS NOT NULL) p USING (v))"
  }

  /** One query of the contract: its name, its Spark build over
    * `(session, dataset dir)`, and the DuckDB SQL that checks it —
    * `None` for the rows-only operators, each gated by a paired audit
    * query instead (pinned in OracleLintSpec). The SQL is built on
    * first use: looking up a build loads no operator object that only
    * the oracle strings reference. */
  final class Query(val name: String,
      val build: (SparkSession, String) => DataFrame, sql: => Option[String]) {
    lazy val oracle: Option[String] = sql
  }

  private def q(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): Query = new Query(name, build, Some(oracle))

  private def rowsOnly(name: String,
      build: (SparkSession, String) => DataFrame): Query =
    new Query(name, build, None)

  /** `records` as a registry, or an exception naming every name given
    * twice — a Map literal would keep the later entry silently. */
  private[graft] def registryOf(records: Seq[Query]): Seq[Query] = {
    val dups = records.groupBy(_.name).collect {
      case (n, rs) if rs.size > 1 => n
    }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    records
  }

  /** Every query, one record each. The records sit in one `def` per
    * family below, as one method would near the JVM's 64 KB bytecode
    * limit. Lazy: the records read SQL fragment vals declared further
    * down, which a strict val here would see as null. */
  lazy val registry: Seq[Query] = registryOf(eventQueries ++ docQueries ++
    dedupQueries ++ vectorQueries ++ graphQueries ++ tpchQueries ++
    miningQueries)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(r => r.name -> r.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(r => r.oracle.map(r.name -> _)).toMap

  /** Shared DuckDB CTE block for the word-3-gram shingle pipeline
    * (per-doc distinct shingles, set sizes, inverted index) — the ONE
    * definition every jaccard-family oracle inlines so the shingling
    * cannot drift between them (six copies had already accumulated;
    * a k-change missed in one would red-row as a phantom engine bug).
    * Prefix with `WITH ` or `WITH RECURSIVE `. The df-capped `pruned`
    * variant mirrors ngramJaccardPairs' maxDf inverted-index cap. */
  private val shingleCtes: String =
    "toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t " +
      "FROM documents), " +
      "sets AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2), " +
      "i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh FROM toks WHERE len(t) >= 3), " +
      "sizes AS (SELECT doc_id, len(sh) AS n FROM sets), " +
      "inv AS (SELECT doc_id, unnest(sh) AS sh FROM sets)"

  /** Shared oracle CTE over [[shingleCtes]]: `shared(a_id, b_id,
    * shared)`, the shingles each doc pair has in common in the
    * inverted index `index` (`inv`, or the df-capped `pruned`). */
  private def sharedCte(index: String): String =
    "shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared " +
      s"FROM $index a JOIN $index b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)"

  /** The doc pairs of [[sharedCte]] at exact Jaccard >= 0.5, as the
    * final `SELECT a_id, b_id, jaccard` ... */
  private val jaccardPairsSelect: String =
    "SELECT a_id, b_id, round(shared * 1.0 / (sa.n + sb.n - shared), 4) AS jaccard " +
      "FROM shared JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id " +
      "WHERE round(shared * 1.0 / (sa.n + sb.n - shared), 4) >= 0.5"

  /** ... and as the CTE `pairs(a_id, b_id)` the dup-cluster closures
    * start from. */
  private val jaccardPairsCte: String =
    "pairs AS (SELECT a_id, b_id " +
      "FROM shared JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id " +
      "WHERE round(shared * 1.0 / (sa.n + sb.n - shared), 4) >= 0.5)"

  /** Shared oracle CTEs of the term co-occurrence family: per-doc
    * distinct terms `dt`, the document-frequency vocabulary `v` (df
    * >= 20 and <= 90% of the docs, MiningOps.termCooccurrence's
    * defaults), and the term pairs `p(term_a, term_b)` sharing >= 10
    * docs — with that doc count as `n_pair` when `nPair`. */
  private def termPairCtes(nPair: Boolean): String =
    "toks AS (SELECT doc_id, " +
      "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
      "FROM documents), " +
      "dt AS (SELECT DISTINCT doc_id, term FROM toks), " +
      "nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), " +
      "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1), " +
      "v AS (SELECT term, df FROM df WHERE df >= 20 AND " +
      "CAST(df AS DOUBLE) <= 0.9 * (SELECT CAST(n AS DOUBLE) FROM nd)), " +
      "dtv AS (SELECT dt.doc_id, dt.term FROM dt JOIN v USING (term)), " +
      "p AS (SELECT a.term AS term_a, b.term AS term_b" +
      (if (nPair) ", CAST(count(*) AS BIGINT) AS n_pair" else "") +
      " FROM dtv a JOIN dtv b ON a.doc_id = b.doc_id AND a.term < b.term " +
      "GROUP BY 1, 2 HAVING count(*) >= 10)"

  /** Shared oracle CTEs of the two-halves drift tests: `h(key, half)`
    * splits the events at the midpoint of their time range (half 1 up
    * to it, half 2 after), `keySql` selecting the compared `key`. */
  private def halvesCtes(keySql: String, key: String): String =
    s"b AS (SELECT $keySql, epoch_us(ts) AS us FROM events), " +
      "m AS (SELECT min(us) AS lo, max(us) AS hi FROM b), " +
      s"h AS (SELECT $key, CASE WHEN us <= CAST((lo + hi) // 2 AS BIGINT) " +
      "THEN 1 ELSE 2 END AS half FROM b CROSS JOIN m)"

  /** [[halvesCtes]] over the whole-unit value bins, with the per-bin
    * counts of each half as `c(bin, c1, c2)`. */
  private val binHalvesCtes: String =
    halvesCtes("CAST(floor(value) AS BIGINT) AS bin", "bin") + ", " +
      "c AS (SELECT bin, CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
      "CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM h GROUP BY 1)"

  /** Shared oracle CTEs of the user-tenure survival family: tenure
    * `dur.t` in days from a user's first to last event, `observed`
    * churn (the last event falls before the data's last day), and the
    * per-tenure endings and churns `byt(t, ending, d)`, with the user
    * count `tot(n_users)`. */
  private val tenureCtes: String =
    "u AS (SELECT user_id, CAST(min(ts) AS DATE) AS f, " +
      "CAST(max(ts) AS DATE) AS l FROM events GROUP BY 1), " +
      "mx AS (SELECT CAST(max(ts) AS DATE) AS max_day FROM events), " +
      "dur AS (SELECT CAST(datediff('day', f, l) + 1 AS BIGINT) AS t, " +
      "CASE WHEN l < max_day THEN 1 ELSE 0 END AS observed " +
      "FROM u CROSS JOIN mx), " +
      "byt AS (SELECT t, CAST(count(*) AS BIGINT) AS ending, " +
      "CAST(sum(observed) AS BIGINT) AS d FROM dur GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM dur)"

  /** [[tenureCtes]] plus the number at risk `ar(t, d, n)` at each
    * tenure with a churn or an ending. */
  private val atRiskCtes: String =
    tenureCtes + ", " +
      "ar AS (SELECT t, d, n_users - CAST(sum(ending) OVER (" +
      "ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) + ending AS n " +
      "FROM byt CROSS JOIN tot)"

  /** Three synchronous label-propagation rounds over the undirected
    * term pairs `p` of [[termPairCtes]] (most frequent neighbour
    * label, smallest label on ties), ending in `l3(node, label)`. */
  private val labelPropCtes: String =
    "adj AS (SELECT term_a AS node, term_b AS nbr FROM p " +
      "UNION ALL SELECT term_b, term_a FROM p), " +
      "l0 AS (SELECT node, node AS label FROM " +
      "(SELECT DISTINCT node FROM adj)), " +
      (1 to 3).map { r =>
        s"v$r AS (SELECT a.node, l.label, CAST(count(*) AS BIGINT) AS cnt " +
          s"FROM adj a JOIN l${r - 1} l ON l.node = a.nbr GROUP BY 1, 2), " +
          s"l$r AS (SELECT node, label FROM (SELECT node, label, row_number() " +
          "OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk " +
          s"FROM v$r) WHERE rk = 1)"
      }.mkString(", ")

  /** The embedding covariance chain of the PCA oracles, symmetrized as
    * `f(i, j, cov)`, with the uniform power-iteration start vector
    * `v0(dim, v)`. Every CTE is MATERIALIZED (see pca_top_component). */
  private val pcaCovCtes: String =
    "e AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS i, " +
      "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), " +
      "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings), " +
      "m AS MATERIALIZED (SELECT i, sum(x) AS s FROM e GROUP BY 1), " +
      "p AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS pr " +
      "FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2), " +
      "cv AS MATERIALIZED (SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, " +
      "round(pr / (SELECT n FROM nn) - " +
      "(ma.s / (SELECT n FROM nn)) * (mb.s / (SELECT n FROM nn)), 6) + 0.0 AS cov " +
      "FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j), " +
      "f AS MATERIALIZED (SELECT i, j, cov FROM cv " +
      "UNION ALL SELECT j AS i, i AS j, cov FROM cv WHERE i <> j), " +
      "dd AS MATERIALIZED (SELECT CAST(max(j) AS DOUBLE) AS d FROM f), " +
      "v0 AS MATERIALIZED (SELECT DISTINCT i AS dim, 1.0 / sqrt((SELECT d FROM dd)) AS v FROM f)"

  /** Shared oracle CTEs of the part-name entity resolution: first/last
    * token blocking, Jaro-Winkler >= 0.93 matches `p`, and each name's
    * cluster representative `lab(name, cluster_rep)` — the least name
    * reachable over the match graph. */
  private val entityClusterCtes: String =
    "n AS (SELECT p_name AS name FROM part GROUP BY 1), " +
      "t AS (SELECT name, " +
      "split_part(name, ' ', 1) AS tok_first, " +
      "list_extract(string_split(name, ' '), " +
      "len(string_split(name, ' '))) AS tok_last FROM n), " +
      "cand AS (" +
      "SELECT a.name AS name_a, b.name AS name_b " +
      "FROM t a JOIN t b ON a.tok_first = b.tok_first AND a.name < b.name " +
      "UNION " +
      "SELECT a.name, b.name " +
      "FROM t a JOIN t b ON a.tok_last = b.tok_last AND a.name < b.name), " +
      "p AS (SELECT name_a, name_b FROM cand " +
      "WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.93), " +
      "nodes AS (SELECT DISTINCT name FROM " +
      "(SELECT name_a AS name FROM p UNION ALL SELECT name_b FROM p)), " +
      "edges AS (SELECT name_a AS src, name_b AS dst FROM p " +
      "UNION ALL SELECT name_b, name_a FROM p), " +
      "reach(node, lab) AS (SELECT name, name FROM nodes " +
      "UNION SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node), " +
      "lab AS (SELECT node AS name, min(lab) AS cluster_rep FROM reach GROUP BY 1)"

  /** The two-arm form of [[tenureCtes]] (arm = `user_id % 2`, arm 1
    * treated): `byt(t, ending, d, ending1, d1)` and `tot(n_users,
    * n_users1)`. */
  private val armTenureCtes: String =
    "u AS (SELECT user_id, user_id % 2 AS arm, " +
      "CAST(date_trunc('day', min(ts)) AS DATE) AS f, " +
      "CAST(date_trunc('day', max(ts)) AS DATE) AS l " +
      "FROM events GROUP BY 1, 2), " +
      "md AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS max_day " +
      "FROM events), " +
      "dur AS (SELECT CAST(datediff('day', f, l) + 1 AS BIGINT) AS t, " +
      "CASE WHEN l < max_day THEN 1 ELSE 0 END AS observed, arm " +
      "FROM u CROSS JOIN md), " +
      "byt AS (SELECT t, CAST(count(*) AS BIGINT) AS ending, " +
      "CAST(sum(observed) AS BIGINT) AS d, " +
      "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ending1, " +
      "CAST(sum(CASE WHEN arm = 1 THEN observed ELSE 0 END) AS BIGINT) AS d1 " +
      "FROM dur GROUP BY 1), " +
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users, " +
      "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_users1 " +
      "FROM dur)"

  /** The greedy k-center replay of the coreset oracles over their
    * candidate CTE `cands`: 8 picks, each the candidate farthest (4dp
    * L2, smallest id on ties) from those chosen so far. */
  private val kCenterStepSql: String =
    "step AS (SELECT 1 AS rank, " +
      "(SELECT min(vec_id) FROM cands) AS vec_id, " +
      "CAST(NULL AS DOUBLE) AS min_dist, " +
      "[(SELECT min(vec_id) FROM cands)] AS chosen " +
      "WHERE EXISTS (SELECT 1 FROM cands) " +
      "UNION ALL " +
      "SELECT p.rank + 1, w.vec_id, w.md, " +
      "list_append(p.chosen, w.vec_id) " +
      "FROM step p, LATERAL (" +
      "SELECT c2.vec_id, (SELECT min(round(sqrt(" +
      duckSqDist("c2.embedding", "s.embedding") +
      "), 4)) FROM cands s WHERE list_contains(p.chosen, s.vec_id)) " +
      "AS md FROM cands c2 " +
      "WHERE NOT list_contains(p.chosen, c2.vec_id) " +
      "ORDER BY md DESC, c2.vec_id ASC LIMIT 1) w " +
      "WHERE p.rank < 8) " +
      "SELECT rank, vec_id, min_dist AS min_dist_at_pick FROM step"

  /** DuckDB mirror of [[graft.ops.VectorOps.pqBlockDist]]: the partial
    * squared-L2 of block `b` (last block absorbs the remainder) with
    * the same index-order fp64 fold — the subtraction is spelled twice
    * (identical fp both times) because a lambda can't bind a local. */
  private def duckPqBlockDist(e: String, c: String, b: String,
      m: Int): String = {
    val sub = s"CAST(len($e) // $m AS BIGINT)"
    val idx = s"$b * $sub + i + 1"
    // coalesce pins the degenerate empty block (m > dim ⇒ sub = 0 for
    // non-last blocks) to 0.0: DuckDB's list_sum over an empty list is
    // NULL, while the Spark HOF and the native PqBlockL2 both return
    // 0.0 there (three-rail agreement)
    s"coalesce(list_sum(list_transform(range(CASE WHEN $b = ${m - 1} " +
      s"THEN len($e) - $b * $sub ELSE $sub END), " +
      s"i -> (CAST($e[$idx] AS DOUBLE) - CAST($c[$idx] AS DOUBLE)) * " +
      s"(CAST($e[$idx] AS DOUBLE) - CAST($c[$idx] AS DOUBLE)))), 0.0)"
  }

  /** Shared oracle CTE: the per-day event count `daily(day, cnt)`. */
  private val dailyCountCte: String =
    "daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1)"

  /** Shared oracle CTEs `bounds` and `$cal(day)`: every calendar day
    * from the first to the last day of `$daily` — the zero-fill spine
    * of the daily-series oracles (EventOps.dailyGrid's calendar). */
  private def calendarCte(daily: String, cal: String): String =
    s"bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM $daily), " +
      s"$cal AS (SELECT d0 + CAST(unnest(range(" +
      "datediff('day', d0, d1) + 1)) AS INT) AS day FROM bounds)"

  /** [[dailyCountCte]] zero-filled over the calendar `$cal` as
    * `grid(day, y)`. */
  private def dailySeriesCtes(cal: String): String =
    s"$dailyCountCte, ${calendarCte("daily", cal)}, " +
      s"grid AS (SELECT $cal.day, coalesce(daily.cnt, 0) AS y " +
      s"FROM $cal LEFT JOIN daily ON daily.day = $cal.day)"

  /** Per-type daily counts `daily(event_type, day, cnt)`, the calendar
    * `$cal` and the observed types `$types`: the oracle zero-fills its
    * type × day grid from their cross join. */
  private def typeDailyCtes(cal: String, types: String): String =
    "daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) " +
      "AS day, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
      s"${calendarCte("daily", cal)}, " +
      s"$types AS (SELECT DISTINCT event_type FROM daily)"

  /** Shared oracle CTE: the zero-filled daily count grid with day
    * index `t` — mirrors EventOps.dailyGrid over the per-day event
    * count (the spectral/randomness battery's shared input). */
  private val dailyGridCte: String =
    s"$dailyCountCte, " +
      "bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily), " +
      "cal AS (SELECT d0 + CAST(unnest(range(" +
      "datediff('day', d0, d1) + 1)) AS INT) AS day, d0 FROM bounds), " +
      "grid AS (SELECT cal.day, datediff('day', cal.d0, cal.day) AS t, " +
      "coalesce(daily.cnt, 0) AS cnt " +
      "FROM cal LEFT JOIN daily ON daily.day = cal.day)"

  /** Shared DuckDB CTE for the sign-bit code family: pack the 64
    * sign bits into two 32-bit BIGINT words (bit j of word w set iff
    * component 32w+j > 0) — mirrors
    * [[graft.ops.VectorOps.signCodes]] exactly (integer shift/sum,
    * no float math). */
  private val signCodeCte: String =
    "codes AS (SELECT vec_id, list_transform(range(2), w -> " +
      "CAST(list_sum(list_transform(range(32), j -> " +
      "CASE WHEN embedding[w * 32 + j + 1] > 0 " +
      "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)) AS code " +
      "FROM embeddings)"

  /** Shared DuckDB CTE chain for the pinned-PQ pipeline: codebook →
    * per-(vector, block) code assignment — inlined by all three PQ
    * oracles (the shingleCtes anti-drift convention). */
  private val pqCtes: String =
    "cb AS (SELECT vec_id AS code, embedding AS cv FROM embeddings " +
      "WHERE vec_id % 997 < 64 ORDER BY vec_id ASC LIMIT 64), " +
      "blocks AS (SELECT CAST(unnest(range(8)) AS BIGINT) AS b), " +
      "bd AS (SELECT e.vec_id, blocks.b, cb.code, " +
      duckPqBlockDist("e.embedding", "cb.cv", "blocks.b", 8) + " AS d2 " +
      "FROM embeddings e CROSS JOIN blocks CROSS JOIN cb), " +
      "codes AS (SELECT vec_id, b AS block, code FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY vec_id, b ORDER BY d2 ASC, code ASC) " +
      "AS rn FROM bd) WHERE rn = 1), " +
      "qq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
      "tbl AS (SELECT cb.code, blocks.b AS block, " +
      duckPqBlockDist("qq.qv", "cb.cv", "blocks.b", 8) + " AS t " +
      "FROM cb CROSS JOIN blocks CROSS JOIN qq), " +
      "adc AS (SELECT c.vec_id, round(sum(t.t), 6) AS adc_l2sq " +
      "FROM codes c JOIN tbl t ON t.block = c.block AND t.code = c.code " +
      "WHERE c.vec_id <> 0 GROUP BY 1)"

  /** The knn_ivf_pinned coarse stage against the shared `qq` query
    * vector, as appendable CTEs: pinned sample centroids, cosine
    * argmax assignment, nprobe=4 probe set, probed candidate ids.
    * Composes after [[pqCtes]] (which defines `qq`) for the IVF-PQ
    * oracles. */
  private val ivfPinnedCtes: String =
    "ivfc AS (SELECT vec_id AS list_id, embedding AS icv " +
      "FROM embeddings WHERE vec_id % 997 < 16), " +
      "asn AS (SELECT vec_id, list_id FROM (" +
      "SELECT e.vec_id, ivfc.list_id, row_number() OVER (" +
      "PARTITION BY e.vec_id ORDER BY " +
      s"${duckCos("e.embedding", "ivfc.icv")} DESC, " +
      "ivfc.list_id ASC) AS rn FROM embeddings e, ivfc) WHERE rn = 1), " +
      "probe AS (SELECT list_id FROM ivfc, qq ORDER BY " +
      s"${duckCos("icv", "qq.qv")} DESC, " +
      "list_id ASC LIMIT 4), " +
      "cand AS (SELECT asn.vec_id FROM asn JOIN probe USING (list_id))"

  /** The residual-PQ stage as appendable CTEs — composes after
    * [[pqCtes]] (cb, blocks, qq) and [[ivfPinnedCtes]] (ivfc, asn,
    * probe): per-vector residuals against the assigned coarse
    * centroid, the pinned residual codebook, residual codes, the
    * per-probed-list ADC tables, and the candidate-scored `radc`. */
  private val residualPqCtes: String =
    "rsd AS (SELECT e.vec_id, asn.list_id, " +
      "list_transform(range(len(e.embedding)), " +
      "i -> CAST(e.embedding[i+1] AS DOUBLE) - CAST(ivfc.icv[i+1] AS DOUBLE)) AS rv " +
      "FROM embeddings e JOIN asn ON asn.vec_id = e.vec_id " +
      "JOIN ivfc ON ivfc.list_id = asn.list_id), " +
      "rcb AS (SELECT cb.code, rsd.rv AS rcv FROM cb " +
      "JOIN rsd ON rsd.vec_id = cb.code), " +
      "rbd AS (SELECT r.vec_id, blocks.b, rcb.code, " +
      duckPqBlockDist("r.rv", "rcb.rcv", "blocks.b", 8) + " AS d2 " +
      "FROM rsd r CROSS JOIN blocks CROSS JOIN rcb), " +
      "rcodes AS (SELECT vec_id, b AS block, code FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY vec_id, b ORDER BY d2 ASC, code ASC) " +
      "AS rn FROM rbd) WHERE rn = 1), " +
      "qres AS (SELECT probe.list_id, " +
      "list_transform(range(len(qq.qv)), " +
      "i -> CAST(qq.qv[i+1] AS DOUBLE) - CAST(ivfc.icv[i+1] AS DOUBLE)) AS qr " +
      "FROM probe JOIN ivfc USING (list_id) CROSS JOIN qq), " +
      "rtbl AS (SELECT qres.list_id, blocks.b AS block, rcb.code, " +
      duckPqBlockDist("qres.qr", "rcb.rcv", "blocks.b", 8) + " AS t " +
      "FROM qres CROSS JOIN blocks CROSS JOIN rcb), " +
      "radc AS (SELECT c.vec_id, round(sum(t.t), 6) AS adc_l2sq " +
      "FROM rcodes c JOIN asn a ON a.vec_id = c.vec_id " +
      "JOIN rtbl t ON t.list_id = a.list_id AND t.block = c.block " +
      "AND t.code = c.code WHERE c.vec_id <> 0 GROUP BY 1)"

  /** Index-order (x−y)² fold — mirrors VectorOps.sqDist (the
    * aggregate-from-0.0 ≡ list_sum identity). */
  private def duckSqDist(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), i -> " +
      s"(CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) * " +
      s"(CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))))"

  /** Shared oracle CTEs for the cluster-quality battery: pinned
    * centroids (the knn_ivf_pinned sample), cosine-argmax assignment,
    * and per-member exact L2² to the own centroid. */
  private lazy val clusterQualityCte: String =
    "c AS (SELECT vec_id AS list_id, embedding AS cv " +
      "FROM embeddings WHERE vec_id % 997 < 16), " +
      "asn AS (SELECT vec_id, list_id FROM (" +
      "SELECT e.vec_id, c.list_id, row_number() OVER (" +
      "PARTITION BY e.vec_id ORDER BY " +
      s"${duckCos("e.embedding", "c.cv")} DESC, " +
      "c.list_id ASC) AS rn FROM embeddings e, c) WHERE rn = 1), " +
      "md AS (SELECT e.vec_id, asn.list_id, " +
      duckSqDist("e.embedding", "c2.cv") + " AS d2 " +
      "FROM embeddings e JOIN asn ON e.vec_id = asn.vec_id " +
      "JOIN c c2 ON c2.list_id = asn.list_id)"

  /** DuckDB mirror of the fused cosine (`graft_cosine`): index-order
    * fp64 dot over the float→DOUBLE casts, divided by the two norms in
    * the same operand order — bit-identical to the Spark expression. */
  private def duckCos(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), " +
      s"i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE))) " +
      s"/ (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) " +
      s"* sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"

  private val prunedShingleCte: String =
    "pruned AS (SELECT * FROM (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df " +
      "FROM inv) WHERE df <= 1000)"

  /** Shared DuckDB CTE chain + final SELECT for the Mann–Whitney
    * doubled-midrank pipeline — ONE definition inlined by both the
    * `mann_whitney_type_pairs` oracle and `bh_fdr_type_pairs`' p-value
    * stage (the shingleCtes anti-drift convention: a tie-handling
    * change missed in one copy would red-row as a phantom bug). */
  private val mannWhitneyCtes: String =
    "cnts AS (SELECT value AS v, event_type AS t, " +
      "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
      "ty AS (SELECT DISTINCT t FROM cnts), " +
      "pairs AS (SELECT x.t AS ta, y.t AS tb FROM ty x JOIN ty y ON x.t < y.t), " +
      "comb AS (SELECT ta, tb, v, " +
      "CAST(sum(CASE WHEN t = ta THEN c ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(sum(CASE WHEN t = tb THEN c ELSE 0 END) AS BIGINT) AS cb " +
      "FROM cnts JOIN pairs ON t = ta OR t = tb GROUP BY 1, 2, 3), " +
      "cum AS (SELECT *, " +
      "CAST(coalesce(sum(ca) OVER (PARTITION BY ta, tb ORDER BY v ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_a, " +
      "CAST(coalesce(sum(cb) OVER (PARTITION BY ta, tb ORDER BY v ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_b " +
      "FROM comb), " +
      "st AS (SELECT ta, tb, CAST(sum(ca) AS BIGINT) AS n1, " +
      "CAST(sum(cb) AS BIGINT) AS n2, " +
      "CAST(sum(ca * (2 * (cum_a + cum_b) + (ca + cb) + 1)) AS BIGINT) AS r2a, " +
      "CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT) AS ties3 " +
      "FROM cum GROUP BY 1, 2)"

  private val mannWhitneySelect: String =
    "SELECT ta AS type_a, tb AS type_b, n1, n2, " +
      "CAST(r2a - n1 * (n1 + 1) AS BIGINT) AS u2_a, " +
      "CASE WHEN (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) * " +
      "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties3 AS DOUBLE) / " +
      "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))) > 0.0 THEN " +
      "round((CAST(r2a - n1 * (n1 + 1) - n1 * n2 AS DOUBLE) / 2.0) / " +
      "sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) * " +
      "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(ties3 AS DOUBLE) / " +
      "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))), 4) END AS z " +
      "FROM st"

  /** The Mann–Whitney pipeline's two-sided normal p-values `pp(type_a,
    * type_b, z, p)` (Abramowitz–Stegun 26.2.17 tail) and their count
    * `m(m)` — the shared input of the multiple-testing corrections. */
  private val mwPValueCtes: String =
    s"$mannWhitneyCtes, mw AS ($mannWhitneySelect), " +
      "zt AS (SELECT type_a, type_b, z FROM mw WHERE z IS NOT NULL), " +
      "kk AS (SELECT type_a, type_b, z, abs(z) AS x, " +
      "1.0 / (1.0 + 0.2316419 * abs(z)) AS k FROM zt), " +
      "pp AS (SELECT type_a, type_b, z, " +
      "round(2.0 * ((exp(-(x * x) / 2.0) / 2.5066282746310002) * " +
      "(k * (0.319381530 + k * (-0.356563782 + k * (1.781477937 + " +
      "k * (-1.821255978 + k * 1.330274429)))))), 6) AS p FROM kk), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pp)"

  /** The stationary-chain DuckDB CTE pipeline as ONE definition —
    * shared verbatim by the `stationary_type_distribution` oracle and
    * `entropy_rate_chain` (the mannWhitneyCtes anti-drift convention;
    * mirrors [[graft.ops.EventOps]].chainPacked). */
  private val chainCtes: String =
    "steps AS (SELECT event_type AS f, lead(event_type) OVER (" +
      "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS t " +
      "FROM events), " +
      "c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS c FROM steps " +
      "WHERE t IS NOT NULL GROUP BY 1, 2), " +
      "ty AS (SELECT list(x ORDER BY x) AS types FROM (" +
      "SELECT DISTINCT f AS x FROM c UNION SELECT DISTINCT t FROM c)), " +
      "kk AS (SELECT CAST(len(types) AS BIGINT) AS k FROM ty), " +
      "ti AS (SELECT unnest(types) AS x, " +
      "generate_subscripts(types, 1) AS i FROM ty), " +
      "dense AS (SELECT a.i AS i, b.i AS j, coalesce(c.c, 0) AS c " +
      "FROM ti a CROSS JOIN ti b " +
      "LEFT JOIN c ON c.f = a.x AND c.t = b.x), " +
      "rows_ AS (SELECT i, list(CAST(c AS DOUBLE) ORDER BY j) AS cr, " +
      "CAST(sum(c) AS BIGINT) AS rt FROM dense GROUP BY 1), " +
      "mat AS (SELECT list(list_transform(cr, x -> CASE WHEN rt > 0 " +
      "THEN x / CAST(rt AS DOUBLE) ELSE 1.0 / CAST(k AS DOUBLE) END) " +
      "ORDER BY i) AS p FROM rows_, kk GROUP BY k), " +
      "it AS (SELECT 0 AS n, list_transform(range(k), " +
      "j -> 1.0 / CAST(k AS DOUBLE)) AS pi FROM kk WHERE k > 0 " +
      "UNION ALL " +
      "SELECT n + 1, list_transform(range(k), j -> " +
      "list_reduce(list_transform(range(k), i -> " +
      "pi[CAST(i AS INT) + 1] * p[CAST(i AS INT) + 1]" +
      "[CAST(j AS INT) + 1]), (a, b) -> a + b)) " +
      "FROM it, mat, kk WHERE n < 20), " +
      "fin AS (SELECT pi FROM it WHERE n = 20)"

  /** The seasonal_decomposition_daily mirror as ONE definition —
    * inlined verbatim by its own oracle and wrapped as a CTE by
    * seasonal_anomalies (the shingleCtes anti-drift convention). */
  private val seasonalDecompSql: String =
    "WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
        s"${calendarCte("daily", "dd")}, " +
        "grid AS (SELECT dd.day, coalesce(daily.n, 0) AS n " +
        "FROM dd LEFT JOIN daily ON daily.day = dd.day), " +
        "det AS (SELECT day, n, sum7, cnt7, " +
        "CASE WHEN cnt7 = 7 THEN n * 7 - sum7 END AS d7, " +
        "dayofweek(day) AS dow FROM (SELECT day, n, " +
        "CAST(sum(n) OVER (ORDER BY day ASC ROWS BETWEEN 3 PRECEDING " +
        "AND 3 FOLLOWING) AS BIGINT) AS sum7, " +
        "CAST(count(*) OVER (ORDER BY day ASC ROWS BETWEEN 3 PRECEDING " +
        "AND 3 FOLLOWING) AS BIGINT) AS cnt7 FROM grid)), " +
        "bydow AS (SELECT dow, CAST(round(CAST(sum(d7) AS DOUBLE) * 1000000.0 / " +
        "(7.0 * CAST(count(*) AS DOUBLE)), 0) AS BIGINT) AS m_micro " +
        "FROM det WHERE d7 IS NOT NULL GROUP BY 1), " +
        "c AS (SELECT CAST(sum(m_micro) AS BIGINT) AS s_all, " +
        "CAST(count(*) AS BIGINT) AS k_dow FROM bydow), " +
        "seas AS (SELECT dow, CAST(m_micro * k_dow - s_all AS DOUBLE) / " +
        "(CAST(k_dow AS DOUBLE) * 1000000.0) AS seasonal_raw " +
        "FROM bydow CROSS JOIN c) " +
        "SELECT det.day, det.n, " +
        "CASE WHEN cnt7 = 7 THEN round(CAST(sum7 AS DOUBLE) / 7.0, 6) END AS trend, " +
        "round(seasonal_raw, 6) AS seasonal, " +
        "CASE WHEN cnt7 = 7 THEN round(CAST(det.n AS DOUBLE) - " +
        "CAST(sum7 AS DOUBLE) / 7.0 - seasonal_raw, 6) END AS residual " +
        "FROM det LEFT JOIN seas USING (dow)"

  /** The score_calibration_bins mirror as ONE definition — inlined
    * by its own oracle and wrapped as a CTE by ece_score. */
  private val calibrationBinsSql: String =
    "WITH mm AS (SELECT min(value) AS minv, max(value) AS maxv " +
        "FROM events), " +
        "b AS (SELECT CAST(least(floor((value - minv) / (maxv - minv) " +
        "* 10.0), 9.0) AS BIGINT) AS bin, minv, maxv, " +
        "CAST(value AS DECIMAL(12,2)) AS dv, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y " +
        "FROM events, mm), " +
        "agg AS (SELECT bin, minv, maxv, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS n_pos, " +
        "sum(CAST(dv AS DECIMAL(12,2))) AS sv, " +
        "sum(CAST(dv AS DECIMAL(12,2)) * CAST(dv AS DECIMAL(12,2))) AS sv2, " +
        "sum(CASE WHEN y = 1 THEN dv ELSE CAST(0 AS DECIMAL(12,2)) END) " +
        "AS spv FROM b GROUP BY 1, 2, 3) " +
        "SELECT bin, n, n_pos, " +
        "round((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) - minv) / " +
        "(maxv - minv), 6) AS mean_score, " +
        "round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate, " +
        "round(((CAST(sv2 AS DOUBLE) - 2.0 * minv * CAST(sv AS DOUBLE) + " +
        "CAST(n AS DOUBLE) * minv * minv) / " +
        "((maxv - minv) * (maxv - minv)) - " +
        "2.0 * ((CAST(spv AS DOUBLE) - CAST(n_pos AS DOUBLE) * minv) / " +
        "(maxv - minv)) + CAST(n_pos AS DOUBLE)) / CAST(n AS DOUBLE), 6) " +
        "AS brier FROM agg"

  /** Mirrors VectorOps.twoNnIntrinsicDim — ONE definition inlined by
    * its own oracle and composed (as a subquery) by the agreement
    * audit, the mannWhitneyCtes anti-drift convention. */
  private lazy val twonnExactSql: String =
    "WITH s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
      "round(sqrt(greatest(" +
      "list_sum(list_transform(a.embedding, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) - " +
      "2.0 * list_sum(list_transform(range(len(a.embedding)), " +
      "i -> CAST(a.embedding[i+1] AS DOUBLE) * " +
      "CAST(b.embedding[i+1] AS DOUBLE))) + " +
      "list_sum(list_transform(b.embedding, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)), 4) AS d " +
      "FROM embeddings a JOIN embeddings b " +
      "ON a.vec_id <> b.vec_id), " +
      "t2 AS (SELECT a_id, d FROM (SELECT *, row_number() OVER (" +
      "PARTITION BY a_id ORDER BY d ASC, b_id ASC) AS rn FROM s) " +
      "WHERE rn <= 2), " +
      "rr AS (SELECT a_id, min(d) AS r1, max(d) AS r2 FROM t2 " +
      "GROUP BY 1), " +
      "tm AS (SELECT CASE WHEN r1 > 0.0 THEN " +
      "CAST(round(ln(r2 / r1) * 1000000.0, 0) AS BIGINT) END AS tm " +
      "FROM rr) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_vectors, " +
      "CAST(sum(CASE WHEN tm IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_degenerate, " +
      "round(CAST(coalesce(CAST(sum(tm) AS BIGINT), 0) AS DOUBLE) / " +
      "1000000.0, 6) AS sum_log_ratio, " +
      "CASE WHEN coalesce(CAST(sum(tm) AS BIGINT), 0) > 0 THEN " +
      "round(CAST(count(*) - sum(CASE WHEN tm IS NULL THEN 1 ELSE 0 " +
      "END) AS DOUBLE) / (CAST(CAST(sum(tm) AS BIGINT) AS DOUBLE) / " +
      "1000000.0), 4) END AS intrinsic_dim FROM tm"

  /** The IVF-pinned candidate CTEs shared by the two ANN diagnostics
    * (knn_ivf_pinned discipline): pinned id-hash centroids, cosine
    * argmax assignment (list_id ASC tie-break), nprobe=2 probe rows.
    * Composes before a pair stage joining probes × assigned members
    * on list_id. */
  private lazy val annDiagCtes: String =
    "c AS (SELECT vec_id AS list_id, embedding AS cv " +
      "FROM embeddings WHERE vec_id % 997 < 16), " +
      "sc0 AS (SELECT e.vec_id, e.embedding, c.list_id, " +
      s"${duckCos("e.embedding", "c.cv")} AS d FROM embeddings e, c), " +
      "sc AS (SELECT *, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY d DESC, list_id ASC) AS rn FROM sc0), " +
      "asn AS (SELECT vec_id, embedding, list_id FROM sc WHERE rn = 1), " +
      "probes AS (SELECT vec_id, embedding, list_id FROM sc WHERE rn <= 2)"

  /** Mirrors VectorOps.twoNnIntrinsicDimAnn: the Facco MLE over the
    * IVF-pinned top-2 shortlist — probes × members on list_id, exact
    * 4dp L2 in the same na² − 2·dot + nb² op order, per-vector top-2,
    * <2-candidate vectors excluded and folded into n_shortfall
    * together with vectors that never reach the pair stage. */
  private lazy val twonnAnnSql: String =
    "WITH " + annDiagCtes + ", " +
      "s AS (SELECT p.vec_id AS a_id, m.vec_id AS b_id, " +
      "round(sqrt(greatest(" +
      "list_sum(list_transform(p.embedding, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) - " +
      "2.0 * list_sum(list_transform(range(len(p.embedding)), " +
      "i -> CAST(p.embedding[i+1] AS DOUBLE) * " +
      "CAST(m.embedding[i+1] AS DOUBLE))) + " +
      "list_sum(list_transform(m.embedding, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)), 4) AS d " +
      "FROM probes p JOIN asn m ON m.list_id = p.list_id " +
      "AND m.vec_id <> p.vec_id), " +
      "t2 AS (SELECT a_id, d FROM (SELECT *, row_number() OVER (" +
      "PARTITION BY a_id ORDER BY d ASC, b_id ASC) AS rn FROM s) " +
      "WHERE rn <= 2), " +
      "rr AS (SELECT a_id, CAST(count(*) AS BIGINT) AS cnt, " +
      "min(d) AS r1, max(d) AS r2 FROM t2 GROUP BY 1), " +
      "tm AS (SELECT cnt, CASE WHEN cnt = 2 AND r1 > 0.0 THEN " +
      "CAST(round(ln(r2 / r1) * 1000000.0, 0) AS BIGINT) END AS tm " +
      "FROM rr), " +
      "ag AS (SELECT CAST(count(*) AS BIGINT) AS n_listed, " +
      "CAST(sum(CASE WHEN cnt < 2 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_short, " +
      "CAST(sum(CASE WHEN cnt = 2 AND tm IS NULL THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_degenerate, " +
      "coalesce(CAST(sum(tm) AS BIGINT), 0) AS sm FROM tm), " +
      "nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total " +
      "FROM embeddings) " +
      "SELECT nt.n_total, " +
      "nt.n_total - ag.n_listed + ag.n_short AS n_shortfall, " +
      "ag.n_degenerate, " +
      "round(CAST(ag.sm AS DOUBLE) / 1000000.0, 6) AS sum_log_ratio, " +
      "CASE WHEN ag.sm > 0 THEN " +
      "round(CAST(ag.n_listed - ag.n_short - ag.n_degenerate " +
      "AS DOUBLE) / (CAST(ag.sm AS DOUBLE) / 1000000.0), 4) END " +
      "AS intrinsic_dim FROM ag, nt"

  /** Mirrors VectorOps.knnHubness — ONE definition inlined by its own
    * oracle and composed by the agreement audit. */
  private lazy val hubnessExactSql: String =
    "WITH s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
      s"round(${duckCos("a.embedding", "b.embedding")}, 4) " +
      "AS cos_sim FROM embeddings a JOIN embeddings b " +
      "ON a.vec_id <> b.vec_id), " +
      "k5 AS (SELECT b_id FROM (SELECT *, row_number() OVER (" +
      "PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn " +
      "FROM s) WHERE rn <= 5), " +
      hubnessTailSql

  /** The shared occurrence→moments→skew tail of the hubness pair —
    * reads a `k5 (b_id)` CTE, emits the final row. */
  private lazy val hubnessTailSql: String =
    "occ AS (SELECT b_id AS vec_id, CAST(count(*) AS BIGINT) AS nk " +
      "FROM k5 GROUP BY 1), " +
      "f AS (SELECT coalesce(occ.nk, 0) AS nk FROM embeddings e " +
      "LEFT JOIN occ ON occ.vec_id = e.vec_id), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(nk) AS BIGINT) AS s1, " +
      "CAST(sum(CAST(nk AS HUGEINT) * nk) AS HUGEINT) AS s2, " +
      "CAST(sum(CAST(nk AS HUGEINT) * nk * nk) AS HUGEINT) AS s3, " +
      "CAST(max(nk) AS BIGINT) AS max_occurrence, " +
      "CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_antihubs FROM f) " +
      "SELECT n AS n_vectors, max_occurrence, n_antihubs, " +
      "CASE WHEN CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 " +
      "> 0 THEN round(CAST(CAST(n AS HUGEINT) * n * s3 - " +
      "CAST(n AS HUGEINT) * 3 * s1 * s2 + " +
      "CAST(s1 AS HUGEINT) * s1 * s1 * 2 AS DOUBLE) / " +
      "(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 " +
      "AS DOUBLE) * sqrt(CAST(CAST(n AS HUGEINT) * s2 - " +
      "CAST(s1 AS HUGEINT) * s1 AS DOUBLE))), 4) END " +
      "AS hubness_skew FROM m"

  /** Mirrors VectorOps.knnHubnessAnn: N_k counts off the IVF-pinned
    * ANN top-5 lists (probes × members, 4dp cosine, b_id tie-break),
    * then the same exact moments tail as the brute form. */
  private lazy val hubnessAnnSql: String =
    "WITH " + annDiagCtes + ", " +
      "pr AS (SELECT p.vec_id AS a_id, m.vec_id AS b_id, " +
      s"round(${duckCos("p.embedding", "m.embedding")}, 4) " +
      "AS cos_sim FROM probes p JOIN asn m " +
      "ON m.list_id = p.list_id AND m.vec_id <> p.vec_id), " +
      "k5 AS (SELECT b_id FROM (SELECT *, row_number() OVER (" +
      "PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn " +
      "FROM pr) WHERE rn <= 5), " +
      hubnessTailSql

  /** DuckDB mirror of VectorOps.jlProject: 16 index-order fp64 folds
    * of ±x_i terms, the SplitMix64 sign matrix interpolated as the
    * SAME ±1 literals VectorOps.jlSignFlat computed (the cross-engine
    * -constants rule — see the jlProject doc for the two hash-derived
    * designs the audit rejected), one /√16 — shared by both JL
    * oracles. */
  private lazy val jlProjSql: String =
    "list_transform(range(0, 16), j -> " +
      "list_sum(list_transform(range(len(embedding)), i -> " +
      "CAST(embedding[i+1] AS DOUBLE) * CAST(" +
      graft.ops.VectorOps.jlSignFlat.mkString("[", ", ", "]") +
      "[i * 16 + j + 1] AS DOUBLE))) / sqrt(16.0))"

  /** The DBSCAN oracle CTE chain (exact eps-pairs → degree cores →
    * closure → border attachment), parameterized by the final SELECT
    * — ONE definition for both dbscan rows (the mannWhitneyCtes
    * anti-drift convention). */
  private def dbscanSql(finalSelect: String): String =
    "WITH RECURSIVE p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id " +
      "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
      "AND round(sqrt(greatest(" +
      "list_sum(list_transform(a.embedding, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) - " +
      "2.0 * list_sum(list_transform(range(len(a.embedding)), " +
      "i -> CAST(a.embedding[i+1] AS DOUBLE) * " +
      "CAST(b.embedding[i+1] AS DOUBLE))) + " +
      "list_sum(list_transform(b.embedding, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0)), 4) <= 1.19), " +
      "nbr AS (SELECT a_id AS vec_id, b_id AS nb FROM p " +
      "UNION ALL SELECT b_id, a_id FROM p), " +
      "core AS (SELECT vec_id FROM (SELECT vec_id, " +
      "CAST(count(*) AS BIGINT) AS deg FROM nbr GROUP BY 1) " +
      "WHERE deg >= 4), " +
      "ce0 AS (SELECT p.a_id AS u, p.b_id AS v FROM p " +
      "JOIN core ca ON ca.vec_id = p.a_id " +
      "JOIN core cb ON cb.vec_id = p.b_id), " +
      "ce AS (SELECT u, v FROM ce0 UNION SELECT v, u FROM ce0), " +
      "r(u, v) AS (SELECT u, v FROM ce " +
      "UNION SELECT r.u, e2.v FROM r JOIN ce e2 ON r.v = e2.u), " +
      "lbl AS (SELECT u AS vec_id, least(u, min(v)) AS cluster_id " +
      "FROM r GROUP BY u), " +
      "cl AS (SELECT c.vec_id, coalesce(lbl.cluster_id, c.vec_id) " +
      "AS cluster_id FROM core c LEFT JOIN lbl " +
      "ON lbl.vec_id = c.vec_id), " +
      "bd AS (SELECT nbr.vec_id, min(cl.cluster_id) AS cluster_id " +
      "FROM nbr JOIN cl ON cl.vec_id = nbr.nb " +
      "WHERE nbr.vec_id NOT IN (SELECT vec_id FROM core) GROUP BY 1) " +
      finalSelect

  /** EventOps and the sequence miner: event analytics over `events`. */
  private def eventQueries: Seq[Query] = Seq(
    q("user_activity", (s, d) => EventOps.userActivity(events(s, d)),
      "SELECT user_id, count(*) AS toot_count FROM events GROUP BY user_id"),
    q("active_users", (s, d) => EventOps.activeUsers(events(s, d), 5),
      "SELECT user_id, count(*) AS toot_count FROM events GROUP BY user_id HAVING count(*) >= 5"),
    q("hourly_counts", (s, d) => EventOps.hourlyCounts(events(s, d)),
      "SELECT date_trunc('hour', ts) AS hour, count(*) AS toots FROM events GROUP BY 1"),
    q("daily_counts", (s, d) => EventOps.dailyCounts(events(s, d)),
      "SELECT CAST(ts AS DATE) AS day, count(*) AS toots FROM events GROUP BY 1"),
    q("daily_type_counts", (s, d) => EventOps.dailyTypeCounts(events(s, d)),
      "SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt FROM events GROUP BY 1, 2"),
    q("avg_value_by_user", (s, d) => EventOps.avgValuePerUser(events(s, d)),
      s"SELECT user_id, ${Num.avgSql("value", "avg_value")} " +
        "FROM events GROUP BY user_id"),
    q("minute_window_counts", (s, d) => EventOps.minuteWindowCounts(events(s, d)),
      "SELECT date_trunc('minute', ts) AS window_start, " +
        "date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end, " +
        "count(*) AS cnt FROM events GROUP BY 1, 2"),
    q("latest_per_user", (s, d) => EventOps.latestPerUser(events(s, d)),
      "SELECT event_id, ts, user_id, event_type, value, props FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1"),
    q("top_type_per_day", (s, d) => EventOps.topTypePerDay(events(s, d)),
      "WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT day, event_type, cnt FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY day ORDER BY cnt DESC, event_type ASC) AS rn " +
        "FROM c) WHERE rn = 1"),
    q("distinct_users_daily", (s, d) => EventOps.distinctUsersDaily(events(s, d)),
      "SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS users FROM events GROUP BY 1"),
    rowsOnly("approx_distinct_users_daily",
      (s, d) => EventOps.approxDistinctUsersDaily(events(s, d))),
    // Mirrors EventOps.approxDistinctAudit: the HLL++ ESTIMATE is not
    // SQL-derivable, but the sketch is a pure function of the value
    // set, so its ±3·rsd accuracy flag is a deterministic constant the
    // oracle can assert.
    q("approx_distinct_audit", (s, d) => EventOps.approxDistinctAudit(events(s, d)),
      "SELECT CAST(ts AS DATE) AS day, " +
        "count(DISTINCT user_id) AS n_exact, true AS within_3rsd " +
        "FROM events GROUP BY 1"),
    // Mirrors EventOps.hllUnionRollupAudit: the day-sketch → week-union
    // estimate is sketch-bound, but a pure function of the user set —
    // its 5%-tolerance flag is a deterministic constant beside the
    // exact weekly distincts the oracle recomputes.
    q("hll_union_rollup_audit", (s, d) => EventOps.hllUnionRollupAudit(events(s, d)),
      "SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, " +
        "count(DISTINCT user_id) AS n_exact, true AS within_tol " +
        "FROM events GROUP BY 1"),
    // Mirrors EventOps.thetaOverlapAudit: Theta sketches run in exact
    // mode below their nominal-entries bound (4096 ≫ weekly audience
    // here), so the day→week union + intersection/difference estimates
    // are pure functions of the user sets and the tolerance flags are
    // deterministic constants beside the exact per-user recompute.
    q("theta_overlap_audit", (s, d) => EventOps.thetaOverlapAudit(events(s, d)),
      "WITH u AS (SELECT date_trunc('week', ts) AS week, user_id, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ha, " +
        "max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS hb " +
        "FROM events WHERE event_type IN ('purchase', 'error') GROUP BY 1, 2) " +
        "SELECT CAST(week AS TIMESTAMP) AS week, " +
        "CAST(sum(ha) AS BIGINT) AS n_a_exact, " +
        "CAST(sum(hb) AS BIGINT) AS n_b_exact, " +
        "CAST(sum(ha * hb) AS BIGINT) AS n_both_exact, " +
        "true AS both_within_tol, true AS only_a_within_tol " +
        "FROM u GROUP BY week"),
    // Mergeable-quantile pair: the value query is
    // rows-only (estimates are merge-order-bound, the MG convention);
    // the audit hash-gates the worst-case rank-error THEOREM that
    // holds for every partition layout.
    rowsOnly("kll_value_quantiles", (s, d) => EventOps.kllValueQuantiles(events(s, d))),
    // Mirrors EventOps.kllRankBoundAudit: the estimates are
    // merge-order-bound but the worst-case rank-error contract is a
    // THEOREM over every order, so zero violations is a constant the
    // oracle pins beside the exact row count (the mg_merge_audit
    // literal-invariant convention). kll_value_quantiles itself is
    // rows-only BY DESIGN — this row is its gate.
    q("kll_rank_bound_audit", (s, d) => EventOps.kllRankBoundAudit(events(s, d)),
      "SELECT CAST(count(*) AS BIGINT) AS n_total, " +
        "CAST(7 AS BIGINT) AS n_quantiles, " +
        "CAST(0 AS BIGINT) AS n_violations, true AS bounds_ok " +
        "FROM events WHERE value IS NOT NULL"),
    q("props_key_counts", (s, d) => EventOps.propsKeyCounts(events(s, d)),
      "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, " +
        "count(*) AS cnt FROM events GROUP BY 1"),
    q("running_value_per_user", (s, d) => EventOps.runningValuePerUser(events(s, d)),
      "SELECT event_id, user_id, ts, CAST(round(sum(CAST(value AS DECIMAL(12,2))) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS running_value " +
        "FROM events"),
    q("lag_value_per_user", (s, d) => EventOps.lagValuePerUser(events(s, d)),
      "SELECT event_id, user_id, ts, lag(value) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id) AS prev_value FROM events"),
    q("session_stats", (s, d) => EventOps.sessionStats(events(s, d), 30),
      "WITH o AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "f AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 " +
        "THEN 1 ELSE 0 END AS ns FROM o), " +
        "s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f) " +
        "SELECT user_id, session_id, count(*) AS n_events, " +
        "CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS session_value, " +
        "min(ts) AS session_start, max(ts) AS session_end " +
        "FROM s GROUP BY user_id, session_id"),
    q("sliding_window_counts", (s, d) => EventOps.slidingWindowCounts(events(s, d)),
      "WITH w AS (SELECT date_trunc('minute', ts) - (INTERVAL 1 MINUTE * i) AS window_start " +
        "FROM events, (SELECT unnest(range(5)) AS i) s) " +
        "SELECT window_start, window_start + INTERVAL 5 MINUTE AS window_end, " +
        "count(*) AS cnt FROM w GROUP BY 1, 2"),
    q("session_window_stats", (s, d) => EventOps.sessionWindowStats(events(s, d), 30),
      "WITH o AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "f AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS ns FROM o), " +
        "s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM f) " +
        "SELECT user_id, min(ts) AS session_start, " +
        "max(ts) + INTERVAL 30 MINUTE AS session_end, " +
        "count(*) AS n_events, " +
        "CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS session_value " +
        "FROM s GROUP BY user_id, sid"),
    q("user_type_pivot", (s, d) => EventOps.userTypePivot(events(s, d)),
      "SELECT user_id, " +
        "count(*) FILTER (event_type = 'click') AS click, " +
        "count(*) FILTER (event_type = 'error') AS error, " +
        "count(*) FILTER (event_type = 'purchase') AS purchase, " +
        "count(*) FILTER (event_type = 'signup') AS signup, " +
        "count(*) FILTER (event_type = 'view') AS view " +
        "FROM events GROUP BY user_id"),
    // Mirrors EventOps.userTypeUnpivot (pivot's inverse): the UNION
    // ALL spells out what Spark's Expand-based unpivot produces.
    q("user_type_unpivot", (s, d) => EventOps.userTypeUnpivot(events(s, d)),
      "WITH p AS (SELECT user_id, " +
        "count(*) FILTER (event_type = 'click') AS click, " +
        "count(*) FILTER (event_type = 'error') AS error, " +
        "count(*) FILTER (event_type = 'purchase') AS purchase, " +
        "count(*) FILTER (event_type = 'signup') AS signup, " +
        "count(*) FILTER (event_type = 'view') AS view " +
        "FROM events GROUP BY user_id) " +
        "SELECT user_id, 'click' AS event_type, click AS cnt FROM p " +
        "UNION ALL SELECT user_id, 'error', error FROM p " +
        "UNION ALL SELECT user_id, 'purchase', purchase FROM p " +
        "UNION ALL SELECT user_id, 'signup', signup FROM p " +
        "UNION ALL SELECT user_id, 'view', view FROM p"),
    q("value_percentiles", (s, d) => EventOps.valuePercentiles(events(s, d)),
      "SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50, " +
        "round(quantile_cont(value, 0.9), 4) AS p90, " +
        "round(quantile_cont(value, 0.99), 4) AS p99 " +
        "FROM events GROUP BY event_type"),
    q("value_histogram", (s, d) => EventOps.valueHistogram(events(s, d)),
      "SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket, " +
        "floor(value / 50.0) * 50.0 AS lo, count(*) AS n " +
        "FROM events GROUP BY 1, 2, 3"),
    // Mirrors EventOps.valueEquidepthHistogram: the 9 interior decile
    // boundaries via quantile_cont (same interpolated-rank definition
    // as Spark's percentile), membership = count of strict > wins —
    // boundary ties go LOW on both engines.
    q("value_equidepth_histogram", (s, d) => EventOps.valueEquidepthHistogram(events(s, d)), {
      val cases = (1 to 9)
        .map(i => s"CASE WHEN value > bs[$i] THEN 1 ELSE 0 END")
        .mkString(" + ")
      "WITH b AS (SELECT quantile_cont(value, " +
        "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs FROM events), " +
        s"x AS (SELECT value, $cases AS bucket FROM events, b) " +
        "SELECT bucket, count(*) AS n, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM x GROUP BY bucket"
    }),
    // Mirrors EventOps.kdeValueDensity: exact (cents,count) cells,
    // Silverman bandwidth off exact sigma lanes, polynomial kernel
    // terms micro-unit-pinned per gridpoint (no libm in the sums).
    q("kde_value_density", (s, d) => EventOps.kdeValueDensity(events(s, d)),
      "WITH cells AS (SELECT " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, " +
        "CAST(count(*) AS BIGINT) AS k FROM events " +
        "WHERE value IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT CAST(sum(k) AS BIGINT) AS n, " +
        "CAST(sum(CAST(c AS HUGEINT) * k) AS HUGEINT) AS s1, " +
        "CAST(sum(CAST(c AS HUGEINT) * c * k) AS HUGEINT) AS s2, " +
        "CAST(min(c) AS BIGINT) AS cmin, CAST(max(c) AS BIGINT) AS cmax " +
        "FROM cells), " +
        "p AS (SELECT n, cmin, cmax, 1.06 * " +
        "sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 " +
        "AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)) * " +
        "pow(CAST(n AS DOUBLE), -0.2) AS h FROM m), " +
        "gr AS (SELECT n, h, CAST(j AS BIGINT) AS grid_idx, " +
        "CAST(cmin AS DOUBLE) + CAST(j AS DOUBLE) * " +
        "CAST(cmax - cmin AS DOUBLE) / 20.0 AS gx " +
        "FROM p CROSS JOIN (SELECT unnest(range(21)) AS j) " +
        "WHERE h > 0.0), " +
        "t AS (SELECT grid_idx, gx, n, h, " +
        "CASE WHEN abs((CAST(c AS DOUBLE) - gx) / h) < 1.0 THEN " +
        "CAST(round(CAST(k AS DOUBLE) * 0.75 * " +
        "(1.0 - (CAST(c AS DOUBLE) - gx) / h * " +
        "((CAST(c AS DOUBLE) - gx) / h)) * 1000000.0, 0) AS BIGINT) " +
        "ELSE 0 END AS tm FROM cells CROSS JOIN gr) " +
        "SELECT grid_idx, round(gx / 100.0, 6) AS x, " +
        "round(CAST(CAST(sum(tm) AS BIGINT) AS DOUBLE) / 1000000.0 / " +
        "(CAST(n AS DOUBLE) * h) * 100.0, 8) AS density " +
        "FROM t GROUP BY grid_idx, gx, n, h"),
    // Mirrors EventOps.dowAnomalies: exact integer moments per
    // (type, weekday) group, one double division — weekday NUMBERING
    // differs across engines (Spark 1=Sun, DuckDB 0=Sun) but the
    // number never escapes the GROUP BY, so partitions agree.
    q("dow_anomalies", (s, d) => EventOps.dowAnomalies(events(s, d)),
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, dayofweek(day) AS dow, " +
        "CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS sn, " +
        "CAST(sum(n * n) AS BIGINT) AS snn FROM daily GROUP BY 1, 2) " +
        "SELECT d.event_type, d.day, d.n, " +
        "round(CAST(m.k * d.n - m.sn AS DOUBLE) / " +
        "sqrt(CAST(m.k * m.snn - m.sn * m.sn AS DOUBLE)), 4) AS zscore, " +
        "abs(CAST(m.k * d.n - m.sn AS DOUBLE) / " +
        "sqrt(CAST(m.k * m.snn - m.sn * m.sn AS DOUBLE))) >= 2.0 AS is_anomaly " +
        "FROM daily d JOIN m ON m.event_type = d.event_type " +
        "AND m.dow = dayofweek(d.day) " +
        "WHERE m.k >= 2 AND m.k * m.snn - m.sn * m.sn > 0"),
    // Mirrors EventOps.dailyTrendByType: five exact LONG moments per
    // type, slope/intercept as double divisions in the same operand
    // order (slope stays UNROUNDED inside the intercept formula).
    q("daily_trend_by_type", (s, d) => EventOps.dailyTrendByType(events(s, d)),
      "WITH daily AS (SELECT event_type, " +
        "CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x, " +
        "CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx " +
        "FROM daily GROUP BY 1), " +
        "sl AS (SELECT *, CAST(k * sxy - sx * sy AS DOUBLE) / " +
        "CAST(k * sxx - sx * sx AS DOUBLE) AS slope FROM m " +
        "WHERE k >= 2 AND k * sxx - sx * sx > 0) " +
        "SELECT event_type, k AS n_days, round(slope, 6) AS slope_per_day, " +
        "round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / " +
        "CAST(k AS DOUBLE), 4) AS intercept FROM sl"),
    // Mirrors EventOps.userDayStreaks: gaps-and-islands over the
    // distinct (user, day) grid — epoch_day minus row_number is
    // constant within a consecutive run. All-LONG arithmetic.
    q("user_day_streaks", (s, d) => EventOps.userDayStreaks(events(s, d)),
      "WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "i AS (SELECT user_id, " +
        "CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) - " +
        "row_number() OVER (PARTITION BY user_id ORDER BY day) AS island FROM d), " +
        "s AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len " +
        "FROM i GROUP BY 1, 2) " +
        "SELECT user_id, max(len) AS longest_streak, " +
        "CAST(sum(len) AS BIGINT) AS active_days, " +
        "count(*) AS n_streaks FROM s GROUP BY 1"),
    q("asof_last_purchase", (s, d) => EventOps.asofLastPurchase(events(s, d)),
      "WITH p AS (SELECT user_id, ts, event_id, value FROM (" +
        "SELECT user_id, ts, event_id, value, row_number() OVER (" +
        "PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn " +
        "FROM events WHERE event_type = 'purchase') WHERE rn = 1) " +
        "SELECT e.event_id, e.user_id, e.ts, " +
        "p.event_id AS last_purchase_event, p.value AS last_purchase_value " +
        "FROM events e ASOF LEFT JOIN p " +
        "ON e.user_id = p.user_id AND e.ts > p.ts"),
    // Mirrors EventOps.asofNextPurchase: DuckDB's forward ASOF (< picks
    // the smallest strictly-later purchase ts), tolerance applied to
    // the matched row in exact BIGINT microseconds.
    q("asof_next_purchase", (s, d) => EventOps.asofNextPurchase(events(s, d)),
      "WITH p AS (SELECT user_id, ts, event_id, value FROM (" +
        "SELECT user_id, ts, event_id, value, row_number() OVER (" +
        "PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn " +
        "FROM events WHERE event_type = 'purchase') WHERE rn = 1) " +
        "SELECT e.event_id, e.user_id, e.ts, " +
        "CASE WHEN p.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(e.ts) <= 604800000000 " +
        "THEN p.event_id END AS next_purchase_event, " +
        "CASE WHEN p.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(e.ts) <= 604800000000 " +
        "THEN p.value END AS next_purchase_value, " +
        "CASE WHEN p.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(e.ts) <= 604800000000 " +
        "THEN CAST(epoch_us(p.ts) - epoch_us(e.ts) AS BIGINT) END AS usec_to_purchase " +
        "FROM events e ASOF LEFT JOIN p " +
        "ON e.user_id = p.user_id AND e.ts < p.ts"),
    // PrefixSpan patterns: exact algorithm, but gapped-subsequence
    // containment is engine-specific to enumerate in SQL — rows-only,
    // gated by the paired containment audit below.
    rowsOnly("frequent_event_sequences",
      (s, d) => ml.SequenceMining.frequentEventSequences(events(s, d))),
    // Mirrors SequenceMining.prefixspanContiguousAudit: the frequent
    // contiguous 2-step paths are exact SQL over the shared
    // sessionization; n_missing/freq_bounds_ok are containment
    // theorems (subsequence ⊇ adjacent) pinned to their values.
    q("prefixspan_contiguous_audit",
      (s, d) => ml.SequenceMining.prefixspanContiguousAudit(events(s, d)),
      "WITH sq AS (SELECT user_id, date_trunc('week', ts) AS wk, " +
        "event_type, lead(event_type) OVER (PARTITION BY user_id, " +
        "date_trunc('week', ts) ORDER BY ts ASC, event_id ASC) " +
        "AS next_et FROM events), " +
        "pr AS (SELECT DISTINCT user_id, wk, " +
        "event_type || '>' || next_et AS pair FROM sq " +
        "WHERE next_et IS NOT NULL), " +
        "contig AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_contig " +
        "FROM pr GROUP BY 1), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_journeys FROM " +
        "(SELECT DISTINCT user_id, date_trunc('week', ts) FROM events)) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_contig_frequent, " +
        "CAST(0 AS BIGINT) AS n_missing, true AS freq_bounds_ok " +
        "FROM contig CROSS JOIN n " +
        "WHERE CAST(n_contig AS DOUBLE) >= 0.05 * CAST(n_journeys AS DOUBLE)"),
    // Mirrors EventOps.lDiversityProfile: distinct sensitive values
    // per QI class, histogrammed — two exact aggregations.
    q("l_diversity_profile", (s, d) => EventOps.lDiversityProfile(events(s, d)),
      "WITH c AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS l_distinct, " +
        "CAST(count(*) AS BIGINT) AS class_size FROM events GROUP BY 1, 2) " +
        "SELECT l_distinct, CAST(count(*) AS BIGINT) AS n_classes, " +
        "CAST(sum(class_size) AS BIGINT) AS n_rows, " +
        "l_distinct < 3 AS below_l FROM c GROUP BY l_distinct"),
    // Mirrors EventOps.conversionFunnel: same strict-after milestone
    // chain; count(col) counts non-null stage timestamps.
    q("conversion_funnel", (s, d) => EventOps.conversionFunnel(events(s, d)),
      "WITH fv AS (SELECT user_id, min(ts) AS first_view FROM events " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "fc AS (SELECT e.user_id, min(e.ts) AS first_click FROM events e " +
        "JOIN fv USING (user_id) " +
        "WHERE e.event_type = 'click' AND e.ts > fv.first_view GROUP BY 1), " +
        "fp AS (SELECT e.user_id, min(e.ts) AS first_purchase FROM events e " +
        "JOIN fc USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.ts > fc.first_click GROUP BY 1) " +
        "SELECT CAST(first_view AS DATE) AS cohort_day, " +
        "count(*) AS n_viewed, count(first_click) AS n_clicked, " +
        "count(first_purchase) AS n_purchased " +
        "FROM fv LEFT JOIN fc USING (user_id) LEFT JOIN fp USING (user_id) " +
        "GROUP BY 1"),
    // Mirrors EventOps.cohortRetention: distinct active days, window
    // min as the cohort day, exact counts per (cohort, offset).
    q("cohort_retention", (s, d) => EventOps.cohortRetention(events(s, d)),
      "WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day " +
        "FROM events), " +
        "c AS (SELECT user_id, day, " +
        "min(day) OVER (PARTITION BY user_id) AS cohort_day FROM days) " +
        "SELECT cohort_day, " +
        "CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset, " +
        "count(*) AS n_users FROM c GROUP BY 1, 2"),
    // Mirrors EventOps.valueOutliers: identical exact-decimal moment
    // algebra, double casts at the same fixed points.
    q("value_outliers", (s, d) => EventOps.valueOutliers(events(s, d)),
      "WITH m AS (SELECT user_id, count(*) AS n, " +
        "sum(CAST(value AS DECIMAL(12,2))) AS sx, " +
        "sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS sxx " +
        "FROM events GROUP BY 1) " +
        "SELECT event_id, user_id, value, " +
        "CAST(n * CAST(value AS DECIMAL(12,2)) - sx AS DOUBLE) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) AS zscore " +
        "FROM events JOIN m USING (user_id) " +
        "WHERE n >= 2 AND abs(CAST(n * CAST(value AS DECIMAL(12,2)) - sx AS DOUBLE) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE))) > 3"),
    // Mirrors EventOps.valueOutliersRobust: exact medians (identical
    // interpolation), one pinned-order double division, round once.
    q("value_outliers_robust", (s, d) => EventOps.valueOutliersRobust(events(s, d)),
      "WITH m AS (SELECT event_type, median(value) AS med " +
        "FROM events GROUP BY 1), " +
        "s AS (SELECT e.event_type, max(med) AS med, " +
        "median(abs(value - med)) AS mad " +
        "FROM events e JOIN m USING (event_type) GROUP BY 1) " +
        "SELECT event_id, event_type, value, " +
        "round((value - med) / mad, 4) AS robust_z " +
        "FROM events JOIN s USING (event_type) " +
        "WHERE mad > 0 AND abs(value - med) / mad > 8"),
    q("range_join_pairs", (s, d) => EventOps.rangeJoinPairs(events(s, d), 60),
      "SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id " +
        "FROM events a JOIN events b ON a.user_id = b.user_id " +
        "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 SECONDS " +
        "AND a.event_id < b.event_id"),
    // Mirrors EventOps.valueRankStats: the (value, event_id) total
    // order pins ntile's tie-splitting in both engines.
    q("value_rank_stats", (s, d) => EventOps.valueRankStats(events(s, d)),
      "SELECT event_id, user_id, value, " +
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile, " +
        "round(percent_rank() OVER w, 4) AS pct_rank, " +
        "round(cume_dist() OVER w, 4) AS cum_dist " +
        "FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)"),
    q("daily_moving_avg", (s, d) => EventOps.dailyMovingAvg(events(s, d)),
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS toots " +
        "FROM events GROUP BY 1) " +
        "SELECT day, toots, " +
        "round(avg(toots) OVER (ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7, " +
        "round(CAST(toots - lag(toots) OVER (ORDER BY day) AS DOUBLE) / " +
        "lag(toots) OVER (ORDER BY day), 4) AS dod_change FROM d"),
    q("value_mad_by_type", (s, d) => EventOps.valueMadByType(events(s, d)),
      "WITH m AS (SELECT event_type, median(value) AS med " +
        "FROM events GROUP BY 1) " +
        "SELECT event_type, round(max(med), 4) AS med, " +
        "round(median(abs(value - med)), 4) AS mad, count(*) AS n " +
        "FROM events JOIN m USING (event_type) GROUP BY event_type"),
    // Mirrors EventOps.valueMadByTypeApprox: the percentile_approx
    // estimates are sketch-bound, so the oracle recomputes the exact
    // median/MAD and pins within_tol true — sound because the Spark
    // side gates on the RANK property the GK sketch guarantees
    // (rank within ε·n + 1-row cushion of the median rank, the MAD
    // against the deviations-from-med_a multiset it actually ranks),
    // which holds for EVERY value the sketch may legally return —
    // heavy-tailed value gaps and partition/merge order cannot flip it.
    q("value_mad_by_type_approx", (s, d) => EventOps.valueMadByTypeApprox(events(s, d)),
      "WITH m AS (SELECT event_type, median(value) AS med " +
        "FROM events GROUP BY 1) " +
        "SELECT event_type, round(max(med), 4) AS med, " +
        "round(median(abs(value - med)), 4) AS mad, count(*) AS n, " +
        "true AS within_tol " +
        "FROM events JOIN m USING (event_type) GROUP BY event_type"),
    // production sketch-only path (no exact sorts) — rows-only by
    // nature; its hash gate is the paired value_mad_by_type_approx
    rowsOnly("value_mad_by_type_approx_only",
      (s, d) => EventOps.valueMadByTypeApproxOnly(events(s, d))),
    // Mirrors EventOps.eventTransitions: same (ts, event_id) total
    // order under lead(), same exact-integer ratio for P(next|cur).
    q("event_transitions", (s, d) => EventOps.eventTransitions(events(s, d)),
      "WITH steps AS (SELECT event_type, lead(event_type) OVER (" +
        "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type " +
        "FROM events), " +
        "agg AS (SELECT event_type, next_type, count(*) AS n_steps " +
        "FROM steps WHERE next_type IS NOT NULL GROUP BY 1, 2), " +
        "tot AS (SELECT event_type, CAST(sum(n_steps) AS BIGINT) AS n_from " +
        "FROM agg GROUP BY 1) " +
        "SELECT event_type, next_type, n_steps, " +
        "round(CAST(n_steps AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p_next " +
        "FROM agg JOIN tot USING (event_type)"),
    // Mirrors EventOps.markovNextEventAccuracy: (ts, event_id) pair
    // windows, midpoint-owned halves (straddling pairs dropped),
    // argmax model with (count DESC, type ASC) ties, exact counts.
    q("markov_next_event_accuracy", (s, d) => EventOps.markovNextEventAccuracy(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi " +
        "FROM events), " +
        "pr AS (SELECT user_id, event_type, epoch_us(ts) AS us, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id " +
        "ORDER BY ts ASC, event_id ASC) AS next_type, " +
        "lead(epoch_us(ts), 1) OVER (PARTITION BY user_id " +
        "ORDER BY ts ASC, event_id ASC) AS next_us FROM events), " +
        "pairs AS MATERIALIZED (SELECT pr.*, " +
        "CAST((lo + hi) // 2 AS BIGINT) AS mid FROM pr CROSS JOIN b " +
        "WHERE next_type IS NOT NULL), " +
        "train AS MATERIALIZED (SELECT event_type, next_type, " +
        "CAST(count(*) AS BIGINT) AS c FROM pairs " +
        "WHERE next_us <= mid GROUP BY 1, 2), " +
        "model AS (SELECT event_type, next_type AS predicted FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY c DESC, next_type ASC) AS rn FROM train) WHERE rn = 1), " +
        "maj AS (SELECT next_type AS majority_type FROM (" +
        "SELECT next_type, CAST(sum(c) AS BIGINT) AS c FROM train " +
        "GROUP BY 1) ORDER BY c DESC, next_type ASC LIMIT 1), " +
        "test AS (SELECT t.next_type, m.predicted, j.majority_type " +
        "FROM pairs t LEFT JOIN model m ON m.event_type = t.event_type " +
        "CROSS JOIN maj j WHERE t.us > t.mid), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_test, " +
        "CAST(sum(CASE WHEN predicted = next_type THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_correct, " +
        "CAST(sum(CASE WHEN predicted IS NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_unseen_context, " +
        "CAST(sum(CASE WHEN majority_type = next_type THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_majority_correct, " +
        "min(majority_type) AS majority_type FROM test), " +
        "nt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_train " +
        "FROM train) " +
        "SELECT n_train, n_test, n_correct, n_unseen_context, " +
        "majority_type, " +
        "CASE WHEN n_test > 0 THEN round(CAST(n_correct AS DOUBLE) / " +
        "CAST(n_test AS DOUBLE), 6) END AS accuracy, " +
        "CASE WHEN n_test > 0 THEN " +
        "round(CAST(n_majority_correct AS DOUBLE) / " +
        "CAST(n_test AS DOUBLE), 6) END AS baseline_accuracy " +
        "FROM a CROSS JOIN nt"),
    // Mirrors GraphOps.eventTypePageRank: the 5 damped iterations are
    // UNROLLED as chained CTEs (c_k = inflow aggregation, r_k = rank
    // update) with every arithmetic step in the same order and type
    // (DOUBLE) as the Spark loop, so the 6dp-rounded ranks hash
    // identically. `pr` not `rank` as the CTE column — keyword-safe.
    // Mirrors EventOps.cmsUserEstimates: same Knuth hash under the
    // same per-row seeds, cells from the collapsed per-user frame,
    // estimate = min over rows — all exact BIGINTs.
    q("cms_user_estimates", (s, d) => EventOps.cmsUserEstimates(events(s, d)),
      "WITH exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact " +
        "FROM events GROUP BY 1), " +
        "sd AS (SELECT * FROM (VALUES (0, 0), (1, 1000000007), " +
        "(2, 2000000011), (3, 3000000019)) AS t(r, seed)), " +
        "cells AS (SELECT r, " +
        s"(${graft.ops.DocOps.knuthHash32Sql("(user_id + seed)")}) % 256 AS c, " +
        "CAST(sum(exact) AS BIGINT) AS cnt " +
        "FROM exact CROSS JOIN sd GROUP BY 1, 2), " +
        "top AS (SELECT user_id, exact FROM exact " +
        "ORDER BY exact DESC, user_id ASC LIMIT 20), " +
        "pr AS (SELECT user_id, exact, r, " +
        s"(${graft.ops.DocOps.knuthHash32Sql("(user_id + seed)")}) % 256 AS c " +
        "FROM top CROSS JOIN sd) " +
        "SELECT user_id, exact, CAST(min(cnt) AS BIGINT) AS cms_est, " +
        "CAST(min(cnt) - exact AS BIGINT) AS overestimate " +
        "FROM pr JOIN cells USING (r, c) GROUP BY 1, 2"),
    // Mirrors EventOps.theilSenTrendByType: dense calendar, exact
    // integer slope pairs divided once in DOUBLE, identical median
    // interpolation.
    q("theil_sen_trend", (s, d) => EventOps.theilSenTrendByType(events(s, d)),
      "WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
        "cal AS (SELECT unnest(generate_series(" +
        "(SELECT min(day) FROM daily), (SELECT max(day) FROM daily), " +
        "INTERVAL 1 DAY)) AS day), " +
        "grid AS (SELECT t.event_type, " +
        "CAST(datediff('day', DATE '1970-01-01', CAST(c.day AS DATE)) AS BIGINT) AS x, " +
        "CAST(coalesce(d.cnt, 0) AS BIGINT) AS y " +
        "FROM cal c CROSS JOIN (SELECT DISTINCT event_type FROM daily) t " +
        "LEFT JOIN daily d ON d.event_type = t.event_type " +
        "AND d.day = CAST(c.day AS DATE)), " +
        "sl AS (SELECT a.event_type, " +
        "CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope " +
        "FROM grid a JOIN grid b ON a.event_type = b.event_type " +
        "AND a.x < b.x) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "round(median(slope), 6) AS theil_sen_slope " +
        "FROM sl GROUP BY event_type"),
    // Mirrors EventOps.mannWhitneyTypePairs: the doubled-midrank
    // closed form in exact BIGINT, pinned-order doubles for the
    // tie-corrected z, NULL z at zero variance.
    q("mann_whitney_type_pairs", (s, d) => EventOps.mannWhitneyTypePairs(events(s, d)),
      "WITH " + mannWhitneyCtes + " " +
      mannWhitneySelect),
    // Mirrors EventOps.typeCountCorrelations: zero-filled DENSE
    // min..max calendar × types grid (all-zero days kept, the
    // acf_daily_counts construction), six exact BIGINT moments, exact
    // LONG numerator/variances cast to DOUBLE at the final sqrt only.
    // Mirrors EventOps.spearmanTypePairs: doubled midranks
    // (2·min-rank + ties − 1, exact integers) through the SAME
    // integer-moment closed form; each variance casts to DOUBLE
    // before its own sqrt (the product form would overflow BIGINT on
    // century calendars).
    q("spearman_type_pairs", (s, d) => EventOps.spearmanTypePairs(events(s, d)),
      s"WITH ${typeDailyCtes("d", "t")}, " +
        "grid AS (SELECT t.event_type, d.day, coalesce(daily.cnt, 0) AS cnt " +
        "FROM d CROSS JOIN t LEFT JOIN daily " +
        "ON daily.event_type = t.event_type AND daily.day = d.day), " +
        "rk AS (SELECT event_type, day, " +
        "CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY cnt ASC) + " +
        "count(*) OVER (PARTITION BY event_type, cnt) - 1 AS BIGINT) AS r2 " +
        "FROM grid), " +
        "m AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(a.r2) AS BIGINT) AS sx, CAST(sum(b.r2) AS BIGINT) AS sy, " +
        "CAST(sum(a.r2 * b.r2) AS BIGINT) AS sxy, " +
        "CAST(sum(a.r2 * a.r2) AS BIGINT) AS sxx, " +
        "CAST(sum(b.r2 * b.r2) AS BIGINT) AS syy " +
        "FROM rk a JOIN rk b ON a.day = b.day AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n AS n_days, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
        "sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho " +
        "FROM m WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"),
    // Mirrors EventOps.kruskalWallisDailyCounts: pooled doubled
    // midranks via an exclusive prefix over the collapsed count-value
    // frame; every group holds exactly n_days dense-grid observations
    // so Σ R_i²/n_i = Σ(2R_i)²/(4·D) stays one exact BIGINT sum; two
    // pinned double divisions at the end, NULL when all values tie.
    q("kruskal_wallis_daily", (s, d) => EventOps.kruskalWallisDailyCounts(events(s, d)),
      s"WITH ${typeDailyCtes("d", "t")}, " +
        "grid AS (SELECT t.event_type, coalesce(daily.cnt, 0) AS v " +
        "FROM d CROSS JOIN t LEFT JOIN daily " +
        "ON daily.event_type = t.event_type AND daily.day = d.day), " +
        "byval AS (SELECT v, event_type, CAST(count(*) AS BIGINT) AS c " +
        "FROM grid GROUP BY 1, 2), " +
        "tot AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct FROM byval GROUP BY 1), " +
        "cum AS (SELECT v, ct, CAST(coalesce(sum(ct) OVER (ORDER BY v ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum " +
        "FROM tot), " +
        "pt AS (SELECT event_type, " +
        "CAST(sum(c * (2 * cum + ct + 1)) AS BIGINT) AS r2sum, " +
        "CAST(sum(c) AS BIGINT) AS ni " +
        "FROM byval JOIN cum USING (v) GROUP BY 1), " +
        "ties AS (SELECT CAST(sum(ct * ct * ct - ct) AS BIGINT) AS ties3 FROM cum), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS n, " +
        "CAST(max(ni) AS BIGINT) AS d, " +
        "CAST(sum(r2sum * r2sum) AS BIGINT) AS sr4 FROM pt) " +
        "SELECT k AS n_types, d AS n_days, n AS n_total, " +
        "CAST(k - 1 AS BIGINT) AS dof, " +
        "CASE WHEN 1.0 - CAST(ties3 AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) > 0.0 THEN " +
        "round((3.0 * CAST(sr4 AS DOUBLE) / CAST(d * n * (n + 1) AS DOUBLE) - " +
        "3.0 * CAST(n + 1 AS DOUBLE)) / " +
        "(1.0 - CAST(ties3 AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) END AS kw_h " +
        "FROM s CROSS JOIN ties"),
    // Mirrors EventOps.kendallTauTypePairs: exact BIGINT
    // concordant−discordant and tie counts over calendar² day pairs;
    // tau-b's two tie-adjusted counts each cast to DOUBLE before
    // their own sqrt; constant series → NULL.
    q("kendall_tau_type_pairs", (s, d) => EventOps.kendallTauTypePairs(events(s, d)),
      s"WITH ${typeDailyCtes("d", "t")}, " +
        "grid AS (SELECT t.event_type, d.day, coalesce(daily.cnt, 0) AS cnt " +
        "FROM d CROSS JOIN t LEFT JOIN daily " +
        "ON daily.event_type = t.event_type AND daily.day = d.day), " +
        "p AS (SELECT a.event_type AS ta, b.event_type AS tb, a.day AS day, " +
        "a.cnt AS x, b.cnt AS y FROM grid a JOIN grid b " +
        "ON a.day = b.day AND a.event_type < b.event_type), " +
        "dp AS (SELECT p.ta, p.tb, q.x - p.x AS dx, q.y - p.y AS dy " +
        "FROM p JOIN p q ON p.ta = q.ta AND p.tb = q.tb AND p.day < q.day), " +
        "agg AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n0, " +
        "CAST(sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0) THEN 1 " +
        "WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0) THEN -1 ELSE 0 END) " +
        "AS BIGINT) AS cmd, " +
        "CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx, " +
        "CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty " +
        "FROM dp GROUP BY 1, 2) " +
        "SELECT ta AS type_a, tb AS type_b, n0 AS n_day_pairs, " +
        "cmd AS conc_minus_disc, " +
        "CASE WHEN n0 > tx AND n0 > ty THEN " +
        "round(CAST(cmd AS DOUBLE) / (sqrt(CAST(n0 - tx AS DOUBLE)) * " +
        "sqrt(CAST(n0 - ty AS DOUBLE))), 6) END AS tau_b " +
        "FROM agg"),
    // Mirrors EventOps.chiSquareTypeDow: χ² = N·(Σ o²/(r·c) − 1) with
    // exact BIGINT o² and r·c per cell cast to DOUBLE (the
    // type_dow_mutual_info summation precedent over ≤ 7·|types|
    // cells); Cramér's V from the same unrounded cell sum.
    q("chi_square_type_dow", (s, d) => EventOps.chiSquareTypeDow(events(s, d)),
      "WITH cells AS (SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow, " +
        "CAST(count(*) AS BIGINT) AS nxy FROM events GROUP BY 1, 2), " +
        "tx AS (SELECT event_type, CAST(sum(nxy) AS BIGINT) AS nx " +
        "FROM cells GROUP BY 1), " +
        "td AS (SELECT dow, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells), " +
        "s AS (SELECT CAST(count(DISTINCT c.event_type) AS BIGINT) AS n_types, " +
        "CAST(count(DISTINCT c.dow) AS BIGINT) AS n_dows, " +
        "CAST(max(n) AS BIGINT) AS n_total, " +
        "sum(CAST(nxy * nxy AS DOUBLE) / CAST(nx * ny AS DOUBLE)) AS s1 " +
        "FROM cells c JOIN tx USING (event_type) JOIN td USING (dow) " +
        "CROSS JOIN tot) " +
        "SELECT n_types, n_dows, n_total, " +
        "CAST((n_types - 1) * (n_dows - 1) AS BIGINT) AS dof, " +
        "round(CAST(n_total AS DOUBLE) * (s1 - 1.0), 4) AS chi2, " +
        "CASE WHEN least(n_types - 1, n_dows - 1) > 0 THEN " +
        "round(sqrt((s1 - 1.0) / CAST(least(n_types - 1, n_dows - 1) AS DOUBLE)), 6) " +
        "END AS cramers_v FROM s"),
    // Mirrors EventOps.anovaValueByType: exact BIGINT cents / HUGEINT
    // Σc² per group, Σ Sᵢ²/nᵢ as a sum of single pinned divisions of
    // exact integers (the chi_square_type_dow precedent), F/η² the
    // same pinned double chains; SSW = 0 → NULL F.
    q("anova_value_by_type", (s, d) => EventOps.anovaValueByType(events(s, d)),
      "WITH c AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cc FROM events), " +
        "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ni, " +
        "CAST(sum(cc) AS BIGINT) AS si, " +
        "CAST(sum(CAST(cc AS HUGEINT) * cc) AS HUGEINT) AS ssi " +
        "FROM c GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(ni) AS BIGINT) AS n, CAST(sum(si) AS BIGINT) AS s, " +
        "CAST(sum(ssi) AS HUGEINT) AS ss, " +
        "sum(CAST(CAST(si AS HUGEINT) * si AS DOUBLE) / CAST(ni AS DOUBLE)) AS a " +
        "FROM g), " +
        "e AS (SELECT k, n, " +
        "a - CAST(CAST(s AS HUGEINT) * s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb, " +
        "CAST(ss AS DOUBLE) - a AS ssw FROM m) " +
        "SELECT k AS n_types, n AS n_total, " +
        "CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2, " +
        "CASE WHEN k >= 2 AND n > k AND ssw > 0.0 THEN " +
        "round((ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE)), 6) " +
        "END AS f_stat, " +
        "CASE WHEN ssb + ssw > 0.0 THEN round(ssb / (ssb + ssw), 6) " +
        "END AS eta_sq FROM e"),
    // Mirrors EventOps.tukeyHsdTypePairs: exact per-type cents lanes;
    // each Sᵢ²/nᵢ term rounds 6dp into DECIMAL(38,6) BEFORE the k-term
    // sum (order-exact MSW), the mean diff is one pinned division of
    // exact lanes, q the same IEEE chain; 3.858 = studentized-range
    // 5% at k=5, df=∞.
    q("tukey_hsd_type_pairs", (s, d) => EventOps.tukeyHsdTypePairs(events(s, d)),
      "WITH c AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cc FROM events), " +
        "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ni, " +
        "CAST(sum(cc) AS BIGINT) AS si, " +
        "CAST(sum(CAST(cc AS HUGEINT) * cc) AS HUGEINT) AS ssi " +
        "FROM c GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(ni) AS BIGINT) AS n, CAST(sum(ssi) AS HUGEINT) AS ss, " +
        "sum(CAST(round(CAST(CAST(si AS HUGEINT) * si AS DOUBLE) / " +
        "CAST(ni AS DOUBLE), 6) AS DECIMAL(38,6))) AS a FROM g), " +
        "w AS (SELECT CASE WHEN n > k THEN " +
        "(CAST(ss AS DOUBLE) - CAST(a AS DOUBLE)) / CAST(n - k AS DOUBLE) " +
        "END AS msw FROM m), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "a.ni AS n_a, b.ni AS n_b, " +
        "CAST(CAST(a.si AS HUGEINT) * b.ni - CAST(b.si AS HUGEINT) * a.ni " +
        "AS DOUBLE) / CAST(CAST(a.ni AS HUGEINT) * b.ni AS DOUBLE) AS dc, " +
        "msw FROM g a, g b, w WHERE a.event_type < b.event_type) " +
        "SELECT type_a, type_b, n_a, n_b, round(dc / 100.0, 6) AS mean_diff, " +
        "CASE WHEN msw IS NOT NULL AND msw > 0.0 THEN " +
        "round(abs(dc) / sqrt((msw / 2.0) * (1.0 / CAST(n_a AS DOUBLE) + " +
        "1.0 / CAST(n_b AS DOUBLE))), 6) END AS q_stat, " +
        "CASE WHEN msw IS NOT NULL AND msw > 0.0 THEN " +
        "abs(dc) / sqrt((msw / 2.0) * (1.0 / CAST(n_a AS DOUBLE) + " +
        "1.0 / CAST(n_b AS DOUBLE))) > 3.858 ELSE false END AS significant " +
        "FROM p"),
    // Mirrors EventOps.jarqueBeraByType: exact HUGEINT power sums
    // Σc..Σc⁴ per type, central moments via the SAME pinned
    // closed-form association (q2 − μ², q3 − 3μq2 + 2μ³, …) — pure
    // IEEE ·/−/sqrt chains, no libm; constant values → NULL.
    q("jarque_bera_by_type", (s, d) => EventOps.jarqueBeraByType(events(s, d)),
      "WITH c AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cc FROM events), " +
        "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cc) AS BIGINT) AS s1, " +
        "CAST(sum(CAST(cc AS HUGEINT) * cc) AS HUGEINT) AS s2, " +
        "CAST(sum(CAST(cc AS HUGEINT) * cc * cc) AS HUGEINT) AS s3, " +
        "CAST(sum(CAST(cc AS HUGEINT) * cc * cc * cc) AS HUGEINT) AS s4 " +
        "FROM c GROUP BY 1), " +
        "q AS (SELECT event_type, n, " +
        "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu, " +
        "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS q2, " +
        "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS q3, " +
        "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS q4 FROM g), " +
        "mm AS (SELECT event_type, n, " +
        "q2 - mu * mu AS m2, " +
        "q3 - 3.0 * mu * q2 + 2.0 * mu * mu * mu AS m3, " +
        "q4 - 4.0 * mu * q3 + 6.0 * mu * mu * q2 - " +
        "3.0 * mu * mu * mu * mu AS m4 FROM q), " +
        "sk AS (SELECT event_type, n, m2, " +
        "m3 / (m2 * sqrt(m2)) AS skew, " +
        "m4 / (m2 * m2) - 3.0 AS exk FROM mm) " +
        "SELECT event_type, n, " +
        "CASE WHEN n >= 2 AND m2 > 0.0 THEN round(skew, 6) END AS skewness, " +
        "CASE WHEN n >= 2 AND m2 > 0.0 THEN round(exk, 6) END AS ex_kurtosis, " +
        "CASE WHEN n >= 2 AND m2 > 0.0 THEN " +
        "round(CAST(n AS DOUBLE) / 6.0 * (skew * skew + exk * exk / 4.0), 6) " +
        "END AS jb_stat FROM sk"),
    // Mirrors EventOps.ljungBoxDaily: n-scaled deviations over the
    // zero-filled calendar grid (exact HUGEINT numerators and common
    // denominator, one pinned division per lag), K pinned terms
    // summed (chi_square precedent) and scaled once by n(n+2);
    // constant series → NULL Q.
    q("ljung_box_daily", (s, d) => EventOps.ljungBoxDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("cal")}, " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS s FROM grid), " +
        "dev AS (SELECT day, n, CAST(n * y - s AS HUGEINT) AS d " +
        "FROM grid CROSS JOIN st), " +
        "den AS (SELECT CAST(sum(d * d) AS HUGEINT) AS den, " +
        "CAST(max(n) AS BIGINT) AS n FROM dev), " +
        "lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag), " +
        "nums AS (SELECT lag, CAST(sum(a.d * b.d) AS HUGEINT) AS num " +
        "FROM dev a CROSS JOIN lags " +
        "JOIN dev b ON b.day = a.day + CAST(lag AS INT) GROUP BY 1), " +
        "terms AS (SELECT n, den, " +
        "CASE WHEN den > 0 THEN " +
        "(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * " +
        "(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) ELSE 0.0 END AS t " +
        "FROM nums CROSS JOIN den WHERE lag < n) " +
        "SELECT n AS n_days, CAST(count(*) AS BIGINT) AS k_lags, " +
        "CASE WHEN den > 0 THEN " +
        "round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * " +
        "sum(CAST(t AS DOUBLE)), 6) END AS lb_q " +
        "FROM terms GROUP BY n, den"),
    // Mirrors EventOps.theilIndexActivity: exact BIGINT x·n / Σx per
    // ratio (one pinned division), per-user ln terms re-pinned to
    // BIGINT micro-units BEFORE the corpus sum (qlm discipline),
    // divided out once at 6dp.
    q("theil_index_activity", (s, d) => EventOps.theilIndexActivity(events(s, d)),
      "WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x " +
        "FROM events GROUP BY 1), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS s FROM pu), " +
        "t AS (SELECT n, s, " +
        "CAST(round((CAST(x * n AS DOUBLE) / CAST(s AS DOUBLE)) * " +
        "ln(CAST(x * n AS DOUBLE) / CAST(s AS DOUBLE)) * 1000000.0, 0) " +
        "AS BIGINT) AS tm, " +
        "CAST(round(-ln(CAST(x * n AS DOUBLE) / CAST(s AS DOUBLE)) * " +
        "1000000.0, 0) AS BIGINT) AS lm " +
        "FROM pu CROSS JOIN st) " +
        "SELECT n AS n_users, " +
        "round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_activity, " +
        "round(CAST(CAST(sum(tm) AS BIGINT) AS DOUBLE) / 1000000.0 / " +
        "CAST(n AS DOUBLE), 6) AS theil_t, " +
        "round(CAST(CAST(sum(lm) AS BIGINT) AS DOUBLE) / 1000000.0 / " +
        "CAST(n AS DOUBLE), 6) AS theil_l " +
        "FROM t GROUP BY n, s"),
    // Mirrors EventOps.kpssDaily: n-scaled deviations, exact HUGEINT
    // partial-sum squares and autocovariances, Bartlett weights with
    // the (q+1) denominator cleared so η is ONE pinned division of
    // exact integers; zero long-run variance → NULL.
    q("kpss_daily", (s, d) => EventOps.kpssDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("cal")}, " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS s FROM grid), " +
        "dev AS (SELECT day, n, CAST(n * y - s AS HUGEINT) AS e " +
        "FROM grid CROSS JOIN st), " +
        "ps AS (SELECT CAST(sum(sp * sp) AS HUGEINT) AS ssq, " +
        "CAST(max(n) AS BIGINT) AS n FROM " +
        "(SELECT n, CAST(sum(e) OVER (ORDER BY day ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS sp " +
        "FROM dev)), " +
        "lags AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS lag), " +
        "g AS (SELECT lag, CAST(sum(a.e * b.e) AS HUGEINT) AS gk " +
        "FROM dev a CROSS JOIN lags " +
        "JOIN dev b ON b.day = a.day + CAST(lag AS INT) GROUP BY 1), " +
        "den AS (SELECT CAST(sum((CASE WHEN lag = 0 THEN 8 " +
        "ELSE 2 * (8 - lag) END) * gk) AS HUGEINT) AS d, " +
        "CAST(sum(CASE WHEN lag >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS k_lags " +
        "FROM g) " +
        "SELECT n AS n_days, k_lags, " +
        "CASE WHEN d > 0 THEN " +
        "round(CAST(8 * ssq AS DOUBLE) / CAST(n * d AS DOUBLE), 6) " +
        "END AS kpss_eta FROM ps CROSS JOIN den"),
    // Mirrors EventOps.dfTestDaily: lag pairing as an equi-join on
    // day+1, exact HUGEINT n-scaled moments, r/ρ̂/t pinned chains;
    // the correlation t IS the with-intercept slope t.
    q("df_test_daily", (s, d) => EventOps.dfTestDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("cal")}, " +
        "p AS (SELECT a.y AS x, b.y - a.y AS dy " +
        "FROM grid a JOIN grid b ON b.day = a.day + 1), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS np, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy, " +
        "CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx, " +
        "CAST(sum(CAST(x AS HUGEINT) * dy) AS HUGEINT) AS sxy, " +
        "CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy FROM p), " +
        "nn AS (SELECT np, " +
        "CAST(np AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS sxxn, " +
        "CAST(np AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS sxyn, " +
        "CAST(np AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS syyn FROM m), " +
        "rr AS (SELECT np, sxxn, syyn, " +
        "CAST(sxyn AS DOUBLE) / " +
        "sqrt(CAST(sxxn AS DOUBLE) * CAST(syyn AS DOUBLE)) AS r, " +
        "CAST(sxyn AS DOUBLE) / CAST(sxxn AS DOUBLE) AS rho FROM nn) " +
        "SELECT np AS n_pairs, " +
        "CASE WHEN np >= 3 AND sxxn > 0 AND syyn > 0 THEN round(rho, 6) " +
        "END AS rho_hat, " +
        "CASE WHEN np >= 3 AND sxxn > 0 AND syyn > 0 AND " +
        "1.0 - r * r > 0.0 THEN " +
        "round(r * sqrt((CAST(np AS DOUBLE) - 2.0) / (1.0 - r * r)), 6) " +
        "END AS df_t FROM rr"),
    // Mirrors EventOps.dmNaiveVsSeasonal: exact BIGINT loss
    // differentials, DM = n·Σd / √(Σ(n·d − Σd)²) — HUGEINT integers
    // into one pinned chain; zero variance → NULL.
    q("dm_naive_vs_seasonal", (s, d) => EventOps.dmNaiveVsSeasonal(events(s, d)),
      s"WITH ${typeDailyCtes("cal", "ty")}, " +
        "grid AS (SELECT ty.event_type, cal.day, coalesce(daily.cnt, 0) AS cnt " +
        "FROM cal CROSS JOIN ty LEFT JOIN daily " +
        "ON daily.event_type = ty.event_type AND daily.day = cal.day), " +
        "lagged AS (SELECT event_type, cnt, " +
        "lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day ASC) AS l1, " +
        "lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day ASC) AS l7 " +
        "FROM grid), " +
        "d AS (SELECT event_type, " +
        "abs(cnt - l7) - abs(cnt - l1) AS d FROM lagged " +
        "WHERE l1 IS NOT NULL AND l7 IS NOT NULL), " +
        "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(d) AS BIGINT) AS sd, " +
        "CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd " +
        "FROM d GROUP BY 1) " +
        "SELECT event_type, n AS n_days, " +
        "round(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_loss_diff, " +
        "CASE WHEN CAST(n AS HUGEINT) * " +
        "(CAST(n AS HUGEINT) * sdd - CAST(sd AS HUGEINT) * sd) > 0 THEN " +
        "round(CAST(CAST(n AS HUGEINT) * sd AS DOUBLE) / " +
        "sqrt(CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sdd - " +
        "CAST(sd AS HUGEINT) * sd) AS DOUBLE)), 6) END AS dm_stat FROM m"),
    // Mirrors EventOps.gumbelValueExtremes: exact HUGEINT moments of
    // per-day max cents, method-of-moments β̂ = s·√6/π and
    // μ̂ = m − γ_E·β̂ with both constants pinned as literals, return
    // levels one pinned ln chain.
    q("gumbel_value_extremes", (s, d) => EventOps.gumbelValueExtremes(events(s, d)),
      "WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(max(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS mx FROM events GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(mx) AS BIGINT) AS s, " +
        "CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS ss FROM daily), " +
        "f AS (SELECT n, CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean, " +
        "CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / " +
        "10000.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS varu " +
        "FROM m), " +
        "g AS (SELECT n, mean, varu, " +
        s"sqrt(varu) * ${math.sqrt(6.0)} / ${math.Pi} AS beta FROM f), " +
        "h AS (SELECT n, mean, varu, beta, " +
        "mean - 0.5772156649015329 * beta AS mu FROM g) " +
        "SELECT n AS n_days, round(mean, 6) AS mean_daily_max, " +
        "CASE WHEN n >= 2 AND varu > 0.0 THEN round(mu, 6) END AS gumbel_mu, " +
        "CASE WHEN n >= 2 AND varu > 0.0 THEN round(beta, 6) " +
        "END AS gumbel_beta, " +
        "CASE WHEN n >= 2 AND varu > 0.0 THEN " +
        "round(mu - beta * ln(-ln(1.0 - 1.0 / 30.0)), 6) " +
        "END AS return_level_30d, " +
        "CASE WHEN n >= 2 AND varu > 0.0 THEN " +
        "round(mu - beta * ln(-ln(1.0 - 1.0 / 365.0)), 6) " +
        "END AS return_level_365d FROM h"),
    // Mirrors EventOps.revenueVarCvar: zero-filled daily cent
    // revenues, quantile_cont ↔ percentile interpolated 5th
    // percentile, worst-⌈n/20⌉ tail by exact strictly-below key
    // counting, CVaR one pinned division of exact cents.
    q("revenue_var_cvar", (s, d) => EventOps.revenueVarCvar(events(s, d)),
      "WITH daily0 AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS rev FROM events GROUP BY 1), " +
        s"${calendarCte("daily0", "cal")}, " +
        "daily AS (SELECT cal.day, coalesce(daily0.rev, 0) AS rev " +
        "FROM cal LEFT JOIN daily0 ON daily0.day = cal.day), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "round(quantile_cont(rev, 0.05) / 100.0, 6) AS var95 FROM daily), " +
        "ranked AS (SELECT a.day, a.rev, " +
        "CAST(count(b.day) AS BIGINT) AS n_below " +
        "FROM daily a LEFT JOIN daily b ON b.rev < a.rev OR " +
        "(b.rev = a.rev AND b.day < a.day) GROUP BY 1, 2), " +
        "tail AS (SELECT CAST(count(*) AS BIGINT) AS k_days, " +
        "CAST(sum(rev) AS BIGINT) AS tail_rev, " +
        "CAST(max(n) AS BIGINT) AS n, max(var95) AS var95 " +
        "FROM ranked CROSS JOIN st " +
        "WHERE n_below < CAST(ceil(CAST(n AS DOUBLE) / 20.0) AS BIGINT)) " +
        "SELECT n AS n_days, var95 AS var_95, k_days, " +
        "round(CAST(tail_rev AS DOUBLE) / 100.0 / " +
        "CAST(k_days AS DOUBLE), 6) AS cvar_95 FROM tail"),
    // Mirrors EventOps.crostonForecastDaily: the two EWMAs fold in a
    // recursive CTE over the demand-day subsequence (the PACF
    // bit-identical-trajectory discipline); init z₁ = first size,
    // p₁ = first demand's day index.
    q("croston_forecast_daily", (s, d) => EventOps.crostonForecastDaily(events(s, d)),
      "WITH RECURSIVE daily AS (SELECT " +
        "CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events " +
        "WHERE event_type = 'purchase' GROUP BY 1), " +
        s"${calendarCte("daily", "cal")}, " +
        "grid AS (SELECT cal.day, coalesce(daily.cnt, 0) AS y " +
        "FROM cal LEFT JOIN daily ON daily.day = cal.day), " +
        "idx AS (SELECT CAST(row_number() OVER (ORDER BY day ASC) AS BIGINT) " +
        "AS t, y FROM grid), " +
        "nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM grid), " +
        "d AS (SELECT CAST(row_number() OVER (ORDER BY t ASC) AS BIGINT) " +
        "AS k, t, y FROM idx WHERE y > 0), " +
        "md AS (SELECT CAST(count(*) AS BIGINT) AS m FROM d), " +
        "rec AS (SELECT k, CAST(y AS DOUBLE) AS z, CAST(t AS DOUBLE) AS p " +
        "FROM d WHERE k = 1 " +
        "UNION ALL SELECT d.k, " +
        "0.1 * CAST(d.y AS DOUBLE) + 0.9 * rec.z, " +
        "0.1 * CAST(d.t - prev.t AS DOUBLE) + 0.9 * rec.p " +
        "FROM rec JOIN d ON d.k = rec.k + 1 JOIN d prev ON prev.k = rec.k), " +
        "fin AS (SELECT z, p FROM rec ORDER BY k DESC LIMIT 1) " +
        "SELECT n_days, m AS n_demand_days, " +
        "CASE WHEN m >= 1 THEN round((SELECT z FROM fin), 6) " +
        "END AS smoothed_size, " +
        "CASE WHEN m >= 1 THEN round((SELECT p FROM fin), 6) " +
        "END AS smoothed_interval, " +
        "CASE WHEN m >= 1 THEN " +
        "round((SELECT z FROM fin) / (SELECT p FROM fin), 6) " +
        "END AS croston_forecast " +
        "FROM nd CROSS JOIN md"),
    // Mirrors EventOps.kendallsWTypes: doubled midranks off the
    // collapsed per-(type, value) frame keep every rank exact;
    // W = 3·S₄·n / (n·(k²(n³−n) − kΣT)) is ONE pinned division of
    // exact HUGEINT integers.
    q("kendalls_w_types", (s, d) => EventOps.kendallsWTypes(events(s, d)),
      s"WITH ${typeDailyCtes("cal", "ty")}, " +
        "grid AS (SELECT ty.event_type, cal.day, coalesce(daily.cnt, 0) AS v " +
        "FROM cal CROSS JOIN ty LEFT JOIN daily " +
        "ON daily.event_type = ty.event_type AND daily.day = cal.day), " +
        "byval AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS tv " +
        "FROM grid GROUP BY 1, 2), " +
        "ranked AS (SELECT event_type, v, 2 * below + tv + 1 AS r2, tv " +
        "FROM (SELECT event_type, v, tv, " +
        "CAST(coalesce(sum(tv) OVER (PARTITION BY event_type ORDER BY v ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS below FROM byval)), " +
        "ties AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(tj) AS HUGEINT) AS st FROM " +
        "(SELECT event_type, CAST(sum(CAST(tv AS HUGEINT) * tv * tv - tv) " +
        "AS HUGEINT) AS tj FROM ranked GROUP BY 1)), " +
        "ds AS (SELECT day, CAST(sum(r2) AS BIGINT) AS r2sum " +
        "FROM grid JOIN ranked USING (event_type, v) GROUP BY 1), " +
        "stt AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(r2sum AS HUGEINT) * r2sum) AS HUGEINT) AS sq, " +
        "CAST(sum(r2sum) AS BIGINT) AS sr FROM ds) " +
        "SELECT n AS n_days, k AS n_types, " +
        "CASE WHEN CAST(n AS HUGEINT) * (k * k * " +
        "(CAST(n AS HUGEINT) * n * n - n) - k * st) > 0 THEN " +
        "round(CAST(3 * (CAST(n AS HUGEINT) * sq - " +
        "CAST(sr AS HUGEINT) * sr) AS DOUBLE) / " +
        "CAST(CAST(n AS HUGEINT) * (k * k * " +
        "(CAST(n AS HUGEINT) * n * n - n) - k * st) AS DOUBLE), 6) " +
        "END AS kendalls_w FROM stt CROSS JOIN ties"),
    // Mirrors EventOps.cochranQTypes: binary engagement matrix via
    // the distinct collapse, exact HUGEINT square sums, Q one pinned
    // division; saturated matrix → NULL.
    q("cochran_q_types", (s, d) => EventOps.cochranQTypes(events(s, d)),
      "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "r AS (SELECT CAST(count(*) AS BIGINT) AS b, " +
        "CAST(sum(ri) AS BIGINT) AS n, " +
        "CAST(sum(CAST(ri AS HUGEINT) * ri) AS HUGEINT) AS sr2 FROM " +
        "(SELECT user_id, CAST(count(*) AS BIGINT) AS ri FROM ut " +
        "GROUP BY 1)), " +
        "c AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS sc2 FROM " +
        "(SELECT event_type, CAST(count(*) AS BIGINT) AS cj FROM ut " +
        "GROUP BY 1)) " +
        "SELECT b AS n_users, k AS n_types, CAST(k - 1 AS BIGINT) AS dof, " +
        "CASE WHEN CAST(k AS HUGEINT) * n - sr2 > 0 THEN " +
        "round(CAST((CAST(k AS HUGEINT) - 1) * (CAST(k AS HUGEINT) * sc2 - " +
        "CAST(n AS HUGEINT) * n) AS DOUBLE) / " +
        "CAST(CAST(k AS HUGEINT) * n - sr2 AS DOUBLE), 6) " +
        "END AS cochran_q FROM r CROSS JOIN c"),
    // Mirrors EventOps.grubbsDaily: n-scaled deviations over the
    // zero-filled calendar, (|dev| desc, day asc) argmax, G one
    // pinned double chain off exact HUGEINT moments; n < 3 or a
    // constant series → NULL.
    q("grubbs_daily", (s, d) => EventOps.grubbsDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("cal")}, " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS s, " +
        "CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS ss FROM grid), " +
        "d AS (SELECT day, y, n, s, ss, abs(n * y - s) AS adev " +
        "FROM grid CROSS JOIN st ORDER BY adev DESC, day ASC LIMIT 1) " +
        "SELECT n AS n_days, day AS suspect_day, y AS cnt, " +
        "CASE WHEN n >= 3 AND " +
        "CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE) > 0.0 THEN " +
        "round(CAST(adev AS DOUBLE) / (CAST(n AS DOUBLE) * " +
        "sqrt(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))), 6) " +
        "END AS g_stat FROM d"),
    // Mirrors EventOps.pageHinkleyByType: running means re-pinned to
    // BIGINT micro-units per day (qlm discipline), so mₜ and both PH
    // statistics are exact integer arithmetic; is_peak compares exact
    // integers.
    q("page_hinkley_by_type", (s, d) => EventOps.pageHinkleyByType(events(s, d)),
      s"WITH ${typeDailyCtes("cal", "t")}, " +
        "grid AS (SELECT t.event_type, cal.day, coalesce(daily.cnt, 0) AS cnt " +
        "FROM cal CROSS JOIN t LEFT JOIN daily " +
        "ON daily.event_type = t.event_type AND daily.day = cal.day), " +
        "run AS (SELECT event_type, day, cnt, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s, " +
        "CAST(row_number() OVER (PARTITION BY event_type ORDER BY day ASC) " +
        "AS BIGINT) AS k FROM grid), " +
        "qq AS (SELECT event_type, day, cnt, s, " +
        "CAST(round((CAST(s AS DOUBLE) / CAST(k AS DOUBLE)) * 1000000.0, 0) " +
        "AS BIGINT) AS q FROM run), " +
        "mm AS (SELECT event_type, day, cnt, 1000000 * s - " +
        "CAST(sum(q) OVER (PARTITION BY event_type ORDER BY day ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m " +
        "FROM qq), " +
        "ph AS (SELECT event_type, day, cnt, " +
        "m - min(m) OVER (PARTITION BY event_type ORDER BY day ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phi, " +
        "max(m) OVER (PARTITION BY event_type ORDER BY day ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS phd " +
        "FROM mm) " +
        "SELECT event_type, day, cnt, " +
        "round(CAST(phi AS DOUBLE) / 1000000.0, 6) AS ph_inc, " +
        "round(CAST(phd AS DOUBLE) / 1000000.0, 6) AS ph_dec, " +
        "phi = max(phi) OVER (PARTITION BY event_type) AS is_peak " +
        "FROM ph"),
    // Mirrors EventOps.cusumChangepoints: identical closed form
    // cusum_k = S_k − k·(total/n_days). Every windowed quantity is an
    // exact BIGINT (running count sum, row_number, totals), so the one
    // double expression runs the same three IEEE ops on identical
    // operands in both engines — no float summation anywhere; the
    // argmax flag compares the ROUNDED cusum so ties agree too.
    q("cusum_changepoints", (s, d) => EventOps.cusumChangepoints(events(s, d)),
      "WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
        "run AS (SELECT event_type, day, cnt, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day ASC) AS BIGINT) AS s, " +
        "CAST(row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS BIGINT) AS k, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total, " +
        "CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days " +
        "FROM daily), " +
        "c AS (SELECT event_type, day, cnt, " +
        "round(CAST(s AS DOUBLE) - CAST(k AS DOUBLE) * " +
        "(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)), 4) + 0.0 AS cusum FROM run) " +
        "SELECT event_type, day, cnt, cusum, " +
        "abs(cusum) = max(abs(cusum)) OVER (PARTITION BY event_type) AS is_changepoint " +
        "FROM c"),
    // Mirrors EventOps.dauWauStickiness: exact BIGINT distincts at two
    // grains, one pinned DOUBLE division.
    q("dau_wau_stickiness", (s, d) => EventOps.dauWauStickiness(events(s, d)),
      "WITH d AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, " +
        "CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM events GROUP BY 1, 2), " +
        "w AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM events GROUP BY 1) " +
        "SELECT day, dau, wau, " +
        "round(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness " +
        "FROM d JOIN w USING (week)"),
    // Mirrors EventOps.timeDecayEngagement: epoch seconds floored to
    // exact BIGINTs (events.ts carries sub-second precision — Spark's
    // unix_timestamp truncates, so the oracle floors), exp on the
    // identical double with the same −ln2 literal, each term rounded
    // 8dp into DECIMAL so the per-user sum is order-exact.
    q("time_decay_engagement", (s, d) => EventOps.timeDecayEngagement(events(s, d)),
      "WITH a AS (SELECT CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) " +
        "AS anchor FROM events) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(CAST(sum(CAST(round(exp(-0.6931471805599453 * " +
        "(CAST(anchor - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) " +
        "/ 86400.0 / 7.0)), 8) AS DECIMAL(20,8))) AS DECIMAL(38,8)) AS DOUBLE) " +
        "AS decay_score " +
        "FROM events CROSS JOIN a GROUP BY 1"),
    // Mirrors EventOps.rollingDistinctUsers: the engine slides exact
    // per-day bitmap blobs under a 7-day RANGE window; the oracle
    // recomputes each day's distinct set from raw rows with a range
    // join — the gate proves windowed blob-OR ≡ sliding
    // count(DISTINCT).
    q("rolling_distinct_users", (s, d) => EventOps.rollingDistinctUsers(events(s, d)),
      "WITH d AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day " +
        "FROM events) " +
        "SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users_7d " +
        "FROM d JOIN events e ON CAST(date_trunc('day', e.ts) AS DATE) " +
        "BETWEEN d.day - 6 AND d.day GROUP BY 1"),
    // Mirrors EventOps.eventSnapshotDiff: the content hashes are
    // engine-LOCAL (double->string formatting differs across engines,
    // but each engine compares ITS OWN old hash to ITS OWN new hash,
    // so the change classification — the only thing emitted — is
    // identical); chr(1) column delimiter + chr(2) NULL sentinel
    // mirror the engine's boundary-safe null-aware hash; epoch
    // seconds floored to match Spark's unix_timestamp truncation.
    q("event_snapshot_diff", (s, d) => EventOps.eventSnapshotDiff(events(s, d)),
      "WITH mm AS (SELECT CAST((CAST(min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) + " +
        "CAST(max(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)) // 2 AS BIGINT) AS mid FROM events), " +
        "oh AS (SELECT event_id, md5(coalesce(CAST(user_id AS VARCHAR), chr(2)) || " +
        "chr(1) || coalesce(event_type, chr(2)) || chr(1) || " +
        "coalesce(CAST(value AS VARCHAR), chr(2))) AS h_old FROM events CROSS JOIN mm " +
        "WHERE CAST(floor(epoch(ts)) AS BIGINT) <= mid), " +
        "nh AS (SELECT event_id, md5(coalesce(CAST(user_id AS VARCHAR), chr(2)) || " +
        "chr(1) || coalesce(event_type, chr(2)) || chr(1) || " +
        "coalesce(CAST(CASE WHEN event_id % 97 = 0 THEN value + 1.0 ELSE value END " +
        "AS VARCHAR), chr(2))) AS h_new FROM events) " +
        "SELECT coalesce(oh.event_id, nh.event_id) AS event_id, " +
        "CASE WHEN oh.h_old IS NULL THEN 'added' " +
        "WHEN nh.h_new IS NULL THEN 'removed' " +
        "WHEN oh.h_old <> nh.h_new THEN 'changed' ELSE 'unchanged' END AS change " +
        "FROM oh FULL OUTER JOIN nh ON nh.event_id = oh.event_id " +
        "WHERE CASE WHEN oh.h_old IS NULL THEN 'added' " +
        "WHEN nh.h_new IS NULL THEN 'removed' " +
        "WHEN oh.h_old <> nh.h_new THEN 'changed' ELSE 'unchanged' END " +
        "<> 'unchanged'"),
    // Mirrors EventOps.topEventPaths: identical (ts, event_id) session
    // islands; the oracle's ORDER BY inside string_agg equals the
    // engine's array_sort struct order (event_id is unique, so the
    // total order has no ties).
    q("top_event_paths", (s, d) => EventOps.topEventPaths(events(s, d)),
      "WITH o AS (SELECT user_id, ts, event_id, event_type, " +
        "CAST(floor(epoch(ts)) AS BIGINT) - coalesce(" +
        "CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id " +
        "ORDER BY ts ASC, event_id ASC))) AS BIGINT), " +
        "CAST(floor(epoch(ts)) AS BIGINT)) AS gap FROM events), " +
        "s AS (SELECT *, CAST(sum(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id FROM o), " +
        "p AS (SELECT user_id, sess_id, " +
        "string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS path " +
        "FROM s GROUP BY 1, 2) " +
        "SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p " +
        "GROUP BY 1 ORDER BY n_sessions DESC, path ASC LIMIT 20"),
    // Mirrors EventOps.interarrivalStats: exact BIGINT gaps from the
    // same (ts, event_id) window order, exact integer moments into
    // pinned-double mean/sd/CV.
    q("interarrival_stats", (s, d) => EventOps.interarrivalStats(events(s, d)),
      "WITH g AS (SELECT event_type, " +
        "CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (" +
        "PARTITION BY event_type ORDER BY ts ASC, event_id ASC))) AS BIGINT) AS g " +
        "FROM events), " +
        "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps, " +
        "CAST(sum(g) AS BIGINT) AS sg, CAST(sum(g * g) AS BIGINT) AS sgg " +
        "FROM g WHERE g IS NOT NULL GROUP BY 1 HAVING count(*) >= 2) " +
        "SELECT event_type, n_gaps, " +
        "round(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE), 4) AS mean_gap_s, " +
        "round(sqrt((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) " +
        "/ CAST(n_gaps AS DOUBLE)) / (CAST(n_gaps AS DOUBLE) - 1.0)), 4) AS sd_gap_s, " +
        "round(sqrt((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) " +
        "/ CAST(n_gaps AS DOUBLE)) / (CAST(n_gaps AS DOUBLE) - 1.0)) / " +
        "(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 6) AS burstiness_cv " +
        "FROM m"),
    // Mirrors EventOps.userActivityGini: all three sums exact BIGINTs
    // over the same (count, user_id) rank order; two pinned divisions.
    q("user_activity_gini", (s, d) => EventOps.userActivityGini(events(s, d)),
      "WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT x, CAST(row_number() OVER (ORDER BY x ASC, user_id ASC) " +
        "AS BIGINT) AS i FROM c), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(x) AS BIGINT) AS total, CAST(sum(i * x) AS BIGINT) AS iwx FROM r) " +
        "SELECT n_users, total, " +
        "round(2.0 * CAST(iwx AS DOUBLE) / " +
        "(CAST(n_users AS DOUBLE) * CAST(total AS DOUBLE)) - " +
        "(CAST(n_users AS DOUBLE) + 1.0) / CAST(n_users AS DOUBLE), 6) AS gini " +
        "FROM a"),
    // Mirrors EventOps.activityLorenzDeciles: same (count, user_id)
    // total order into ntile(10) (shared Postgres remainder
    // semantics), exact BIGINT counts, one pinned division per row.
    q("activity_lorenz_deciles", (s, d) => EventOps.activityLorenzDeciles(events(s, d)),
      "WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT user_id, x, ntile(10) OVER (ORDER BY x ASC, user_id ASC) " +
        "AS decile FROM c), " +
        "p AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(x) AS BIGINT) AS n_events FROM r GROUP BY 1) " +
        "SELECT decile, n_users, n_events, " +
        "round(CAST(CAST(sum(n_events) OVER (ORDER BY decile ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(sum(n_events) OVER () AS BIGINT) AS DOUBLE), 6) AS cum_share " +
        "FROM p"),
    q("type_count_correlations", (s, d) => EventOps.typeCountCorrelations(events(s, d)),
      s"WITH ${typeDailyCtes("d", "t")}, " +
        "grid AS (SELECT t.event_type, d.day, coalesce(daily.cnt, 0) AS cnt " +
        "FROM d CROSS JOIN t LEFT JOIN daily " +
        "ON daily.event_type = t.event_type AND daily.day = d.day), " +
        "m AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(a.cnt) AS BIGINT) AS sx, CAST(sum(b.cnt) AS BIGINT) AS sy, " +
        "CAST(sum(a.cnt * b.cnt) AS BIGINT) AS sxy, " +
        "CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx, " +
        "CAST(sum(b.cnt * b.cnt) AS BIGINT) AS syy " +
        "FROM grid a JOIN grid b ON a.day = b.day AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n AS n_days, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
        "CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr " +
        "FROM m WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"),
    // Mirrors EventOps.userTypeEntropy: −p·ln p on identical doubles,
    // ≤5 addends per user, −0.0 normalized (single-type users).
    q("user_type_entropy", (s, d) => EventOps.userTypeEntropy(events(s, d)),
      "WITH ut AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS total FROM ut GROUP BY 1) " +
        "SELECT ut.user_id, CAST(count(*) AS BIGINT) AS n_types, " +
        "round(sum(-(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * " +
        "ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))) + 0.0, 6) AS entropy " +
        "FROM ut JOIN t USING (user_id) GROUP BY 1"),
    // Mirrors EventOps.linearAttribution: per-conversion credit is
    // issued in integer micro-units (1000000 // n, identical floor
    // division) and summed as BIGINT — exact in any order — so the
    // gate needs no float-summation tolerance at all; the final
    // /1e6 is one correctly-rounded IEEE division on both sides.
    q("linear_attribution", (s, d) => EventOps.linearAttribution(events(s, d)),
      "WITH conv AS (SELECT event_id AS conv_id, user_id, ts AS conv_ts " +
        "FROM events WHERE event_type = 'purchase'), " +
        "touch AS (SELECT user_id, ts AS touch_ts, event_type AS touch_type " +
        "FROM events WHERE event_type <> 'purchase'), " +
        "j AS (SELECT c.conv_id, t.touch_type FROM conv c JOIN touch t " +
        "ON t.user_id = c.user_id AND t.touch_ts < c.conv_ts " +
        "AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY), " +
        "pc AS (SELECT conv_id, touch_type, CAST(count(*) AS BIGINT) AS n_type " +
        "FROM j GROUP BY 1, 2), " +
        "pn AS (SELECT conv_id, touch_type, n_type, " +
        "CAST(sum(n_type) OVER (PARTITION BY conv_id) AS BIGINT) AS n FROM pc) " +
        "SELECT touch_type AS event_type, " +
        "CAST(sum(n_type) AS BIGINT) AS n_touches, " +
        "CAST(sum(n_type * (1000000 // n)) AS BIGINT) AS attributed_micro, " +
        "round(CAST(CAST(sum(n_type * (1000000 // n)) AS BIGINT) AS DOUBLE) " +
        "/ 1000000.0, 6) AS attributed_conversions " +
        "FROM pn GROUP BY 1"),
    // Mirrors EventOps.bitmapDistinctRollup: the day→week bitmap-OR
    // rollup is EXACT (bitwise union is associative and lossless), so
    // the oracle is plain count(DISTINCT) — the gate proves the native
    // TypedImperativeAggregate pair end to end.
    q("bitmap_distinct_rollup", (s, d) => EventOps.bitmapDistinctRollup(events(s, d)),
      "SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1"),
    // Mirrors EventOps.scd2TypeHistory: same (ts, event_id) total order
    // for both the change flags and the island numbering, so ties
    // resolve identically in both engines.
    q("scd2_type_history", (s, d) => EventOps.scd2TypeHistory(events(s, d)),
      "WITH o AS (SELECT user_id, event_type, ts, event_id, " +
        "CASE WHEN lag(event_type) OVER w IS NULL " +
        "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)), " +
        "i AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id " +
        "ORDER BY ts ASC, event_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM o), " +
        "g AS (SELECT user_id, island, event_type, min(ts) AS valid_from, " +
        "count(*) AS n_events FROM i GROUP BY 1, 2, 3) " +
        "SELECT user_id, event_type, valid_from, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY island ASC) AS valid_to, " +
        "n_events FROM g"),
    // Oracle recomputes FROM SCRATCH what the engine produces by
    // merging base+delta partials — the gate IS the merge ≡ recompute
    // proof (exact decimal sums make it bit-for-bit).
    q("incremental_daily_stats", (s, d) =>
      EventOps.incrementalDailyStats(events(s, d)),
      "SELECT CAST(ts AS DATE) AS day, count(*) AS toots, " +
        "CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS value_sum " +
        "FROM events GROUP BY 1"),
    // Mirrors EventOps.cdcApplyChanges — but as the FULL RECOMPUTE of
    // latest state over the whole log, so the hash gate IS the proof
    // that merging the delta changelog onto the base snapshot equals
    // rebuilding state from scratch (tombstones = error events).
    // Mirrors EventOps.ivmZsetAgg as the FULL recompute the delta
    // rule is associatively equal to: signed multiset collapse over
    // the whole log, zero entries normalized away, DECIMAL(12,2)·m
    // order-exact sums, live min/max over positive entries only.
    q("ivm_zset_agg", (s, d) => EventOps.ivmZsetAgg(events(s, d)),
      "WITH z AS (SELECT user_id, value, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) " +
        "AS BIGINT) AS m FROM events GROUP BY 1, 2), " +
        "nz AS (SELECT * FROM z WHERE m <> 0) " +
        "SELECT user_id, CAST(sum(m) AS BIGINT) AS net_n, " +
        "CAST(round(sum(CAST(value AS DECIMAL(12,2)) * m), 4) AS DOUBLE) " +
        "AS net_value, " +
        "min(CASE WHEN m > 0 THEN value END) AS live_min, " +
        "max(CASE WHEN m > 0 THEN value END) AS live_max " +
        "FROM nz GROUP BY 1"),
    q("cdc_apply_changes", (s, d) =>
      EventOps.cdcApplyChanges(events(s, d)),
      "WITH latest AS (SELECT user_id, ts, event_type, value, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) " +
        "SELECT user_id, value, ts AS updated_at FROM latest " +
        "WHERE rn = 1 AND event_type <> 'error'"),
    // Mirrors EventOps.huberMLocationByType: exact (type,cents,count)
    // cells, 3 identically-unrolled IRLS steps with micro-unit-pinned
    // weighted sums, the division only in the untaken-arm-safe CASE.
    q("huber_m_location", (s, d) => EventOps.huberMLocationByType(events(s, d)),
      "WITH cells AS MATERIALIZED (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x, " +
        "CAST(count(*) AS BIGINT) AS k FROM events " +
        "WHERE value IS NOT NULL GROUP BY 1, 2), " +
        "m0 AS MATERIALIZED (SELECT event_type, CAST(sum(k) AS BIGINT) AS n, " +
        "CAST(sum(x * k) AS BIGINT) AS s, " +
        "CAST(sum(CAST(x AS HUGEINT) * x * k) AS HUGEINT) AS ss FROM cells " +
        "GROUP BY 1), " +
        "p0 AS MATERIALIZED (SELECT event_type, n, " +
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu, " +
        "sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s " +
        "AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)) AS sigma " +
        "FROM m0), " +
        "p1 AS MATERIALIZED (SELECT c.event_type, n, sigma, " +
        "CAST(sum(CAST(round(CAST(c.k AS DOUBLE) * (CASE WHEN " +
        "abs(CAST(c.x AS DOUBLE) - mu) <= 1.345 * sigma THEN 1.0 ELSE " +
        "1.345 * sigma / abs(CAST(c.x AS DOUBLE) - mu) END) * " +
        "CAST(c.x AS DOUBLE) * 1000.0, 0) AS HUGEINT)) AS DOUBLE) * 1000.0 / " +
        "CAST(sum(CAST(round(CAST(c.k AS DOUBLE) * (CASE WHEN " +
        "abs(CAST(c.x AS DOUBLE) - mu) <= 1.345 * sigma THEN 1.0 ELSE " +
        "1.345 * sigma / abs(CAST(c.x AS DOUBLE) - mu) END) * " +
        "1000000.0, 0) AS HUGEINT)) AS DOUBLE) AS mu " +
        "FROM cells c JOIN p0 ON p0.event_type = c.event_type " +
        "GROUP BY 1, 2, 3), " +
        "p2 AS MATERIALIZED (SELECT c.event_type, n, sigma, " +
        "CAST(sum(CAST(round(CAST(c.k AS DOUBLE) * (CASE WHEN " +
        "abs(CAST(c.x AS DOUBLE) - mu) <= 1.345 * sigma THEN 1.0 ELSE " +
        "1.345 * sigma / abs(CAST(c.x AS DOUBLE) - mu) END) * " +
        "CAST(c.x AS DOUBLE) * 1000.0, 0) AS HUGEINT)) AS DOUBLE) * 1000.0 / " +
        "CAST(sum(CAST(round(CAST(c.k AS DOUBLE) * (CASE WHEN " +
        "abs(CAST(c.x AS DOUBLE) - mu) <= 1.345 * sigma THEN 1.0 ELSE " +
        "1.345 * sigma / abs(CAST(c.x AS DOUBLE) - mu) END) * " +
        "1000000.0, 0) AS HUGEINT)) AS DOUBLE) AS mu " +
        "FROM cells c JOIN p1 ON p1.event_type = c.event_type " +
        "GROUP BY 1, 2, 3), " +
        "p3 AS MATERIALIZED (SELECT c.event_type, n, sigma, " +
        "CAST(sum(CAST(round(CAST(c.k AS DOUBLE) * (CASE WHEN " +
        "abs(CAST(c.x AS DOUBLE) - mu) <= 1.345 * sigma THEN 1.0 ELSE " +
        "1.345 * sigma / abs(CAST(c.x AS DOUBLE) - mu) END) * " +
        "CAST(c.x AS DOUBLE) * 1000.0, 0) AS HUGEINT)) AS DOUBLE) * 1000.0 / " +
        "CAST(sum(CAST(round(CAST(c.k AS DOUBLE) * (CASE WHEN " +
        "abs(CAST(c.x AS DOUBLE) - mu) <= 1.345 * sigma THEN 1.0 ELSE " +
        "1.345 * sigma / abs(CAST(c.x AS DOUBLE) - mu) END) * " +
        "1000000.0, 0) AS HUGEINT)) AS DOUBLE) AS mu " +
        "FROM cells c JOIN p2 ON p2.event_type = c.event_type " +
        "GROUP BY 1, 2, 3), " +
        "dn AS (SELECT c.event_type, " +
        "CAST(sum(CASE WHEN abs(CAST(c.x AS DOUBLE) - p3.mu) > " +
        "1.345 * p3.sigma THEN c.k ELSE 0 END) AS BIGINT) " +
        "AS n_downweighted FROM cells c " +
        "JOIN p3 ON p3.event_type = c.event_type GROUP BY 1) " +
        "SELECT p3.event_type, p3.n, " +
        "round(p0.mu / 100.0, 6) AS mean_value, " +
        "round(p3.sigma / 100.0, 6) AS sigma_value, " +
        "round(p3.mu / 100.0, 6) AS huber_mean, dn.n_downweighted " +
        "FROM p3 JOIN dn ON dn.event_type = p3.event_type " +
        "JOIN p0 ON p0.event_type = p3.event_type"),
    // quantile_cont ≡ Spark `percentile` (interpolation parity proven
    // by value_percentiles); the mean is exact-sum / count as double.
    // Mirrors EventOps.winsorizedValueStats: EMPIRICAL order-statistic
    // bounds (k = ceil(p*n)-th smallest cents, from the collapsed
    // value grid's prefix counts), exact integer clamp/moments, the
    // avgRound half-up integer mean — no interpolated percentile on
    // either rail (quantile_cont's fp association order diverges from
    // Spark's percentile at 2dp rounding boundaries, data-dependently).
    q("winsorized_value_stats", (s, d) =>
      EventOps.winsorizedValueStats(events(s, d)),
      "WITH g AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, c, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c ASC) " +
        "AS BIGINT) AS cum, " +
        "CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS nn " +
        "FROM g), " +
        "b AS (SELECT event_type, " +
        "min(CASE WHEN cum >= CAST((nn + 19) // 20 AS BIGINT) THEN c END) " +
        "AS lo, " +
        "min(CASE WHEN cum >= CAST((19 * nn + 19) // 20 AS BIGINT) THEN c END) " +
        "AS hi " +
        "FROM cum GROUP BY 1), " +
        "w AS (SELECT e.event_type, " +
        "least(greatest(CAST(CAST(e.value AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT), b.lo), b.hi) AS w, " +
        "CASE WHEN CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT) " +
        "< b.lo THEN 1 ELSE 0 END AS is_lo, " +
        "CASE WHEN CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT) " +
        "> b.hi THEN 1 ELSE 0 END AS is_hi " +
        "FROM events e JOIN b USING (event_type)) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST((2 * (CAST(sum(w) AS BIGINT) * 100) + count(*)) // " +
        "(2 * count(*)) AS DOUBLE) / 10000.0 AS w_mean, " +
        "CAST(sum(is_lo) AS BIGINT) AS n_lo, " +
        "CAST(sum(is_hi) AS BIGINT) AS n_hi " +
        "FROM w GROUP BY 1"),
    // Mirrors EventOps.kmSurvivalHorizons: exact BIGINT risk sets
    // Mirrors EventOps.nelsonAalenHorizons: the km_survival_horizons
    // risk-set chain with each d/n hazard term micro-pinned before
    // the additive horizon sum; exp(−Ĥ) beside it.
    q("nelson_aalen_horizons", (s, d) => EventOps.nelsonAalenHorizons(events(s, d)),
      s"WITH $atRiskCtes, " +
        "h AS (SELECT CAST(unnest([1, 7, 14, 30]) AS INT) AS horizon), " +
        "curve AS (SELECT horizon, CAST(sum(d) AS BIGINT) AS n_churned, " +
        "CAST(sum(CAST(round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE) * " +
        "1000000.0, 0) AS BIGINT)) AS BIGINT) AS hsum " +
        "FROM ar CROSS JOIN h WHERE d > 0 AND t <= horizon GROUP BY 1) " +
        "SELECT h.horizon, coalesce(c.n_churned, 0) AS n_churned, " +
        "coalesce(round(CAST(c.hsum AS DOUBLE) / 1000000.0, 6), 0.0) " +
        "AS cum_hazard, " +
        "coalesce(round(exp(-(round(CAST(c.hsum AS DOUBLE) / 1000000.0, " +
        "6))), 6), 1.0) AS fh_survival " +
        "FROM h LEFT JOIN curve c ON c.horizon = h.horizon"),
    // Mirrors EventOps.peakConcurrency: identical sessionization
    // (same lag/sum windows as session_stats, strict > 1800 s gap),
    // end = last event + gap (pure interval arithmetic), half-open
    // overlap via the (t, delta) sort with ends first, and the flat
    // global running sum — provably equal to the engine's two-level
    // open(day) + intra-day prefix form.
    q("peak_concurrency", (s, d) => EventOps.peakConcurrency(events(s, d)),
      "WITH o AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "f AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 " +
        "THEN 1 ELSE 0 END AS ns FROM o), " +
        "s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM f), " +
        "iv AS (SELECT user_id, sid, min(ts) AS start_ts, " +
        "max(ts) + INTERVAL 30 MINUTE AS end_ex FROM s GROUP BY 1, 2), " +
        "pts AS (SELECT start_ts AS t, CAST(1 AS BIGINT) AS delta FROM iv " +
        "UNION ALL SELECT end_ex, CAST(-1 AS BIGINT) FROM iv), " +
        "r AS (SELECT CAST(t AS DATE) AS day, delta, " +
        "CAST(sum(delta) OVER (ORDER BY t, delta " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run FROM pts) " +
        "SELECT day, max(run) AS peak_concurrency, " +
        "CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_started " +
        "FROM r GROUP BY 1"),
    // Mirrors EventOps.holtWintersDaily: the zero-filled calendar
    // grid, the classic two-week initialization (exact integer-count
    // means), and the SAME t-ascending recursion — pure +/-/* double
    // arithmetic with CAST(... AS DOUBLE) coefficient literals, so
    // the trajectory is bit-identical to the Spark HOF fold; one 6dp
    // round at the end. Series under 14 days -> empty (both rails).
    q("holt_winters_daily", (s, d) => EventOps.holtWintersDaily(events(s, d)),
      "WITH RECURSIVE " +
        "daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        s"${calendarCte("daily", "gridd")}, " +
        "g AS (SELECT row_number() OVER (ORDER BY gridd.day) AS t, " +
        "CAST(coalesce(daily.n, 0) AS DOUBLE) AS y " +
        "FROM gridd LEFT JOIN daily ON daily.day = gridd.day), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g), " +
        "init AS (SELECT " +
        "(SELECT sum(y) FROM g WHERE t <= 7) / 7.0 AS l0, " +
        "((SELECT sum(y) FROM g WHERE t BETWEEN 8 AND 14) / 7.0 - " +
        "(SELECT sum(y) FROM g WHERE t <= 7) / 7.0) / 7.0 AS b0, " +
        "(SELECT list(y - (SELECT sum(y) FROM g WHERE t <= 7) / 7.0 " +
        "ORDER BY t) FROM g WHERE t <= 7) AS s0), " +
        "rec AS (" +
        "SELECT CAST(7 AS BIGINT) AS t, l0 AS l, b0 AS b, s0 AS s " +
        "FROM init WHERE (SELECT n FROM nn) >= 14 " +
        "UNION ALL " +
        "SELECT u.t, u.l, " +
        "CAST(0.1 AS DOUBLE) * (u.l - u.lprev) + " +
        "CAST(0.9 AS DOUBLE) * u.bprev AS b, " +
        "list_concat(u.srest, [CAST(0.2 AS DOUBLE) * (u.y - u.l) + " +
        "CAST(0.8 AS DOUBLE) * u.s1]) AS s " +
        "FROM (SELECT r.t + 1 AS t, r.l AS lprev, r.b AS bprev, " +
        "r.s[1] AS s1, r.s[2:7] AS srest, g.y AS y, " +
        "CAST(0.3 AS DOUBLE) * (g.y - r.s[1]) + " +
        "CAST(0.7 AS DOUBLE) * (r.l + r.b) AS l " +
        "FROM rec r JOIN g ON g.t = r.t + 1) u), " +
        "lastst AS (SELECT l, b, s FROM rec ORDER BY t DESC LIMIT 1), " +
        "hh AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS h) " +
        "SELECT hh.h, round(lastst.l + CAST(hh.h AS DOUBLE) * lastst.b " +
        "+ lastst.s[CAST(hh.h AS INT)], 6) AS forecast " +
        "FROM lastst, hh"),
    // Mirrors EventOps.holtWintersBacktest: the SAME recursion with
    // pre-update one-step forecasts and error accumulators carried in
    // the fold (abs is a sign flip; (r.l + r.b) + r.s[1] left-assoc
    // matches the Spark struct chain), so both error sums share the
    // bit-exact trajectory.
    q("holt_winters_backtest", (s, d) => EventOps.holtWintersBacktest(events(s, d)),
      "WITH RECURSIVE " +
        "daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        s"${calendarCte("daily", "gridd")}, " +
        "g AS (SELECT row_number() OVER (ORDER BY gridd.day) AS t, " +
        "CAST(coalesce(daily.n, 0) AS DOUBLE) AS y " +
        "FROM gridd LEFT JOIN daily ON daily.day = gridd.day), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g), " +
        "init AS (SELECT " +
        "(SELECT sum(y) FROM g WHERE t <= 7) / 7.0 AS l0, " +
        "((SELECT sum(y) FROM g WHERE t BETWEEN 8 AND 14) / 7.0 - " +
        "(SELECT sum(y) FROM g WHERE t <= 7) / 7.0) / 7.0 AS b0, " +
        "(SELECT list(y - (SELECT sum(y) FROM g WHERE t <= 7) / 7.0 " +
        "ORDER BY t) FROM g WHERE t <= 7) AS s0), " +
        "rec AS (" +
        "SELECT CAST(7 AS BIGINT) AS t, l0 AS l, b0 AS b, s0 AS s, " +
        "CAST(0.0 AS DOUBLE) AS sae_hw, CAST(0.0 AS DOUBLE) AS sae_sn " +
        "FROM init WHERE (SELECT n FROM nn) >= 14 " +
        "UNION ALL " +
        "SELECT u.t, u.l, " +
        "CAST(0.1 AS DOUBLE) * (u.l - u.lprev) + " +
        "CAST(0.9 AS DOUBLE) * u.bprev AS b, " +
        "list_concat(u.srest, [CAST(0.2 AS DOUBLE) * (u.y - u.l) + " +
        "CAST(0.8 AS DOUBLE) * u.s1]) AS s, " +
        "u.sae_hw, u.sae_sn " +
        "FROM (SELECT r.t + 1 AS t, r.l AS lprev, r.b AS bprev, " +
        "r.s[1] AS s1, r.s[2:7] AS srest, g.y AS y, " +
        "CAST(0.3 AS DOUBLE) * (g.y - r.s[1]) + " +
        "CAST(0.7 AS DOUBLE) * (r.l + r.b) AS l, " +
        "r.sae_hw + abs(g.y - (r.l + r.b + r.s[1])) AS sae_hw, " +
        "r.sae_sn + abs(g.y - g7.y) AS sae_sn " +
        "FROM rec r JOIN g ON g.t = r.t + 1 " +
        "JOIN g g7 ON g7.t = r.t - 6) u), " +
        "lastst AS (SELECT t, sae_hw, sae_sn FROM rec " +
        "ORDER BY t DESC LIMIT 1) " +
        "SELECT CAST(t - 7 AS BIGINT) AS n_fit, " +
        "round(sae_hw / CAST(t - 7 AS DOUBLE), 6) AS mae_hw, " +
        "round(sae_sn / CAST(t - 7 AS DOUBLE), 6) AS mae_seasonal_naive, " +
        "CASE WHEN sae_sn > 0.0 THEN " +
        "round(1.0 - (sae_hw / CAST(t - 7 AS DOUBLE)) / " +
        "(sae_sn / CAST(t - 7 AS DOUBLE)), 6) END AS improvement " +
        "FROM lastst"),
    // Mirrors EventOps.stationaryTypeDistribution: same (from, to)
    // count collapse, dense sorted-type matrix (uniform rows for
    // zero-successor types), 20 power iterations with LEFT-FOLD sums
    // (list_reduce here, the aggregate HOF there) so the double
    // trajectories are bit-identical.
    q("stationary_type_distribution", (s, d) => EventOps.stationaryTypeDistribution(events(s, d)),
      "WITH RECURSIVE " + chainCtes + " " +
        "SELECT ti.x AS event_type, round(fin.pi[ti.i], 6) " +
        "AS stationary_p FROM fin, ti"),
    // Mirrors EventOps.markovRemovalAttribution: same journey
    // segmentation (restart after purchase), dense channel matrix,
    // 30 fixed-point absorption iterations per removal index (r = 0
    // the base sentinel) with LEFT-FOLD sums (list_reduce here, the
    // aggregate HOF there) so every trajectory is bit-identical.
    q("markov_removal_attribution", (s, d) => EventOps.markovRemovalAttribution(events(s, d)),
      "WITH RECURSIVE " +
        "seqs AS (SELECT event_type AS cur, " +
        "lag(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY ts ASC, event_id ASC) AS prev, " +
        "lead(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY ts ASC, event_id ASC) AS nxt FROM events), " +
        "tr AS (SELECT cur AS f, CASE WHEN nxt IS NULL THEN '__null' " +
        "WHEN nxt = 'purchase' THEN '__conv' ELSE nxt END AS t, " +
        "CAST(count(*) AS BIGINT) AS c FROM seqs " +
        "WHERE cur <> 'purchase' GROUP BY 1, 2), " +
        "st AS (SELECT CASE WHEN cur = 'purchase' THEN '__conv' " +
        "ELSE cur END AS t, CAST(count(*) AS BIGINT) AS c FROM seqs " +
        "WHERE prev IS NULL OR prev = 'purchase' GROUP BY 1), " +
        "ty AS (SELECT list(x ORDER BY x) AS chans FROM (" +
        "SELECT DISTINCT f AS x FROM tr)), " +
        "kk AS (SELECT CAST(len(chans) AS BIGINT) AS k FROM ty), " +
        "ti AS (SELECT unnest(chans) AS x, " +
        "generate_subscripts(chans, 1) AS i FROM ty), " +
        "dense AS (SELECT a.i AS i, b.i AS j, coalesce(tr.c, 0) AS c " +
        "FROM ti a CROSS JOIN ti b " +
        "LEFT JOIN tr ON tr.f = a.x AND tr.t = b.x), " +
        "outs AS (SELECT ti.i AS i, CAST(sum(tr.c) AS BIGINT) AS outc " +
        "FROM ti JOIN tr ON tr.f = ti.x GROUP BY 1), " +
        "convs AS (SELECT ti.i AS i, CAST(coalesce(sum(" +
        "CASE WHEN tr.t = '__conv' THEN tr.c END), 0) AS BIGINT) AS convc " +
        "FROM ti LEFT JOIN tr ON tr.f = ti.x GROUP BY 1), " +
        "rows_ AS (SELECT d.i, " +
        "list(CAST(d.c AS DOUBLE) / CAST(o.outc AS DOUBLE) ORDER BY d.j) " +
        "AS pr, CAST(cv.convc AS DOUBLE) / CAST(o.outc AS DOUBLE) AS cvp " +
        "FROM dense d JOIN outs o ON o.i = d.i " +
        "JOIN convs cv ON cv.i = d.i GROUP BY d.i, cv.convc, o.outc), " +
        "mat AS (SELECT list(pr ORDER BY i) AS pm, " +
        "list(cvp ORDER BY i) AS cv FROM rows_), " +
        "stot AS (SELECT CAST(sum(c) AS BIGINT) AS sout FROM st), " +
        "sconv AS (SELECT CAST(coalesce(sum(" +
        "CASE WHEN t = '__conv' THEN c END), 0) AS BIGINT) AS sc FROM st), " +
        "sarr AS (SELECT list(CAST(coalesce(st.c, 0) AS BIGINT) " +
        "ORDER BY ti.i) AS sv FROM ti LEFT JOIN st ON st.t = ti.x), " +
        "it AS (SELECT r, 0 AS n, " +
        "list_transform(range(k), x -> CAST(0.0 AS DOUBLE)) AS p " +
        "FROM (SELECT unnest(range(k + 1)) AS r FROM kk), kk WHERE k > 0 " +
        "UNION ALL " +
        "SELECT r, n + 1, list_transform(range(k), ii -> " +
        "CASE WHEN ii + 1 = r THEN CAST(0.0 AS DOUBLE) ELSE " +
        "cv[CAST(ii AS INT) + 1] + " +
        "list_reduce(list_transform(range(k), jj -> " +
        "pm[CAST(ii AS INT) + 1][CAST(jj AS INT) + 1] * " +
        "p[CAST(jj AS INT) + 1]), (a, b) -> a + b) END) " +
        "FROM it, mat, kk WHERE n < 30), " +
        "fin AS (SELECT r, p FROM it WHERE n = 30), " +
        "evalr AS (SELECT r, CAST(sc AS DOUBLE) / CAST(sout AS DOUBLE) + " +
        "list_reduce(list_transform(range(k), jj -> " +
        "CASE WHEN jj + 1 = r THEN CAST(0.0 AS DOUBLE) ELSE " +
        "CAST(sv[CAST(jj AS INT) + 1] AS DOUBLE) / " +
        "CAST(sout AS DOUBLE) * p[CAST(jj AS INT) + 1] END), " +
        "(a, b) -> a + b) AS pv " +
        "FROM fin, sarr, stot, sconv, kk), " +
        "b AS (SELECT pv AS pb FROM evalr WHERE r = 0), " +
        "pvl AS (SELECT list(pv ORDER BY r) AS pl FROM evalr WHERE r >= 1), " +
        "tot AS (SELECT list_reduce(list_transform(range(k), cc -> " +
        "CASE WHEN pb > 0.0 THEN 1.0 - pl[CAST(cc AS INT) + 1] / pb " +
        "ELSE CAST(0.0 AS DOUBLE) END), (a, b) -> a + b) AS re_sum " +
        "FROM pvl, b, kk) " +
        "SELECT ti.x AS channel, round(pb, 6) AS base_conv_p, " +
        "round(e.pv, 6) AS removal_conv_p, " +
        "round(CASE WHEN pb > 0.0 THEN 1.0 - e.pv / pb END, 6) " +
        "AS removal_effect, " +
        "CASE WHEN re_sum > 0.0 THEN " +
        "round((1.0 - e.pv / pb) / re_sum, 6) END AS attribution_share " +
        "FROM evalr e JOIN ti ON ti.i = e.r CROSS JOIN b CROSS JOIN tot"),
    // Mirrors EventOps.entropyRateChain off the SHARED stationary
    // CTEs: per-state -sum p ln p folded ascending, rate = pi-weighted
    // left fold; ln re-evaluates on both engines (the Zipf/KL/JS
    // residual libm assumption), one 6dp round.
    q("entropy_rate_chain", (s, d) => EventOps.entropyRateChain(events(s, d)),
      "WITH RECURSIVE " + chainCtes + ", " +
        "hs AS (SELECT list_transform(range(k), ii -> " +
        "list_reduce(list_transform(range(k), jj -> " +
        "CASE WHEN p[CAST(ii AS INT) + 1][CAST(jj AS INT) + 1] > 0.0 " +
        "THEN -(p[CAST(ii AS INT) + 1][CAST(jj AS INT) + 1] * " +
        "ln(p[CAST(ii AS INT) + 1][CAST(jj AS INT) + 1])) " +
        "ELSE CAST(0.0 AS DOUBLE) END), (a, b) -> a + b)) AS h " +
        "FROM mat, kk), " +
        "rt AS (SELECT list_reduce(list_transform(range(k), ii -> " +
        "pi[CAST(ii AS INT) + 1] * h[CAST(ii AS INT) + 1]), " +
        "(a, b) -> a + b) AS rate FROM fin, hs, kk) " +
        "SELECT ti.x AS event_type, round(fin.pi[ti.i], 6) AS stationary_p, " +
        "round(hs.h[ti.i], 6) AS h_state_nats, " +
        "round(rt.rate, 6) AS entropy_rate_nats " +
        "FROM fin, hs, rt, ti"),
    // Mirrors EventOps.grangerTypePairs: zero-filled dense grid, the
    // lag-1 shift as a day+1 equi-join, exact HUGEINT moments cast to
    // DOUBLE once per centered term, identical closed-form RSS/F
    // chains, the pinned 4.17 cut.
    q("granger_type_pairs", (s, d) => EventOps.grangerTypePairs(events(s, d)),
      s"WITH ${typeDailyCtes("d", "t")}, " +
        "grid AS (SELECT t.event_type, d.day, coalesce(daily.cnt, 0) AS cnt " +
        "FROM d CROSS JOIN t LEFT JOIN daily " +
        "ON daily.event_type = t.event_type AND daily.day = d.day), " +
        "yf AS (SELECT event_type AS ta, day, cnt AS y FROM grid), " +
        "uf AS (SELECT event_type AS ta, day + 1 AS day, cnt AS u FROM grid), " +
        "vf AS (SELECT event_type AS tb, day + 1 AS day, cnt AS v FROM grid), " +
        "m AS (SELECT yf.ta AS type_a, vf.tb AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy, " +
        "CAST(sum(CAST(u AS HUGEINT)) AS HUGEINT) AS su, " +
        "CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sv, " +
        "CAST(sum(CAST(y AS HUGEINT) * u) AS HUGEINT) AS syu, " +
        "CAST(sum(CAST(y AS HUGEINT) * v) AS HUGEINT) AS syv, " +
        "CAST(sum(CAST(u AS HUGEINT) * v) AS HUGEINT) AS suv, " +
        "CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS suu, " +
        "CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv, " +
        "CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy " +
        "FROM yf JOIN uf USING (ta, day) JOIN vf USING (day) " +
        "WHERE yf.ta <> vf.tb GROUP BY 1, 2), " +
        "c AS (SELECT type_a, type_b, n, " +
        "CAST(n * syy - sy * sy AS DOUBLE) AS syy_c, " +
        "CAST(n * suu - su * su AS DOUBLE) AS suu_c, " +
        "CAST(n * svv - sv * sv AS DOUBLE) AS svv_c, " +
        "CAST(n * syu - su * sy AS DOUBLE) AS suy_c, " +
        "CAST(n * syv - sv * sy AS DOUBLE) AS svy_c, " +
        "CAST(n * suv - su * sv AS DOUBLE) AS suv_c FROM m), " +
        "r AS (SELECT type_a, type_b, n, suu_c, " +
        "suu_c * svv_c - suv_c * suv_c AS det, " +
        "syy_c - suy_c * suy_c / suu_c AS rss_r, " +
        "syy_c - (svv_c * suy_c * suy_c - 2.0 * suv_c * suy_c * svy_c " +
        "+ suu_c * svy_c * svy_c) / " +
        "(suu_c * svv_c - suv_c * suv_c) AS rss_f FROM c) " +
        "SELECT type_a, type_b, n AS n_days, " +
        "CASE WHEN suu_c > 0.0 AND det > 0.0 AND rss_f > 0.0 AND n > 3 " +
        "THEN round((rss_r - rss_f) / (rss_f / (CAST(n AS DOUBLE) - 3.0)), 6) " +
        "END AS f_stat, " +
        "coalesce(CASE WHEN suu_c > 0.0 AND det > 0.0 AND rss_f > 0.0 " +
        "AND n > 3 THEN " +
        "round((rss_r - rss_f) / (rss_f / (CAST(n AS DOUBLE) - 3.0)), 6) " +
        "> 4.17 END, false) AS causal_at_f417 " +
        "FROM r"),
    // Mirrors EventOps.durbinWatsonDaily: zero-filled calendar, exact
    // HUGEINT OLS moments, each residual ONE pinned double division of
    // exact integers re-pinned to BIGINT micro-units, adjacent days as
    // an x = x+1 equi-join, quadratic sums exact, one final division.
    q("durbin_watson_daily", (s, d) => EventOps.durbinWatsonDaily(events(s, d)),
      s"WITH $dailyCountCte, ${calendarCte("daily", "d")}, " +
        "grid AS (SELECT CAST(datediff('day', DATE '1970-01-01', d.day) " +
        "AS BIGINT) AS x, coalesce(daily.cnt, 0) AS y " +
        "FROM d LEFT JOIN daily ON daily.day = d.day), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx, " +
        "CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy, " +
        "CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy, " +
        "CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx FROM grid), " +
        "mo AS (SELECT n, sx, sy, n * sxy - sx * sy AS sxy_c, " +
        "n * sxx - sx * sx AS sxx_c FROM m), " +
        "res AS (SELECT x, n, sxy_c, sxx_c, " +
        "CAST(round(CAST(sxx_c * (CAST(y AS HUGEINT) * n - sy) - " +
        "sxy_c * (CAST(x AS HUGEINT) * n - sx) AS DOUBLE) / " +
        "CAST(n * sxx_c AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS em " +
        "FROM grid CROSS JOIN mo), " +
        "ds AS (SELECT CAST(sum((CAST(a.em AS HUGEINT) - b.em) * " +
        "(CAST(a.em AS HUGEINT) - b.em)) AS HUGEINT) AS sd2 " +
        "FROM res a JOIN res b ON a.x = b.x + 1), " +
        "es AS (SELECT n, sxy_c, sxx_c, " +
        "CAST(sum(CAST(em AS HUGEINT) * em) AS HUGEINT) AS se2 " +
        "FROM res GROUP BY 1, 2, 3) " +
        "SELECT n AS n_days, " +
        "CASE WHEN sxx_c > 0 THEN round(CAST(sxy_c AS DOUBLE) / " +
        "CAST(sxx_c AS DOUBLE), 6) END AS slope_per_day, " +
        "CASE WHEN se2 > 0 THEN round(CAST(sd2 AS DOUBLE) / " +
        "CAST(se2 AS DOUBLE), 6) END AS dw_stat, " +
        "CASE WHEN se2 > 0 THEN (CASE " +
        "WHEN CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) < 1.5 " +
        "THEN 'positive' " +
        "WHEN CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE) > 2.5 " +
        "THEN 'negative' ELSE 'none' END) END AS autocorrelation " +
        "FROM es CROSS JOIN ds"),
    // Mirrors EventOps.mannKendallDaily: exact BIGINT S and 18·Var
    // (pair signs + tie-group cubics over the dense calendar), one
    // pinned continuity-corrected z, stated 1.959964 cut.
    // Mirrors EventOps.breuschPaganDaily: exact D-scaled residual
    // lanes, squared residuals micro-unit-pinned (x1e6 HUGEINT) before
    // the aux sums, the g^2 lane pinned x1e4, one R^2 chain.
    q("breusch_pagan_daily", (s, d) => EventOps.breuschPaganDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "g AS (SELECT t + 1 AS t, cnt AS y FROM grid), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(t) AS BIGINT) AS sx, " +
        "CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS sxx, " +
        "CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sxy FROM g), " +
        "dd AS (SELECT n, sx, sxx, " +
        "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS d, " +
        "CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS bn, " +
        "CAST(sxx AS HUGEINT) * sy - CAST(sx AS HUGEINT) * sxy AS an " +
        "FROM m), " +
        "r AS (SELECT n, sx, sxx, g.t, " +
        "CAST(round(CAST(d * y - an - bn * t AS DOUBLE) / CAST(d AS DOUBLE) * " +
        "(CAST(d * y - an - bn * t AS DOUBLE) / CAST(d AS DOUBLE)) * " +
        "1000000.0, 0) AS HUGEINT) AS gm " +
        "FROM g CROSS JOIN dd), " +
        "aux AS (SELECT n, sx, sxx, CAST(sum(gm) AS HUGEINT) AS sgm, " +
        "CAST(sum(gm * t) AS HUGEINT) AS stgm, " +
        "CAST(sum(CAST(round(CAST(gm AS DOUBLE) / 1000000.0 * " +
        "(CAST(gm AS DOUBLE) / 1000000.0) * 10000.0, 0) AS HUGEINT)) " +
        "AS HUGEINT) AS sggm FROM r GROUP BY 1, 2, 3), " +
        "f AS (SELECT n, " +
        "CAST(n AS DOUBLE) * (CAST(stgm AS DOUBLE) / 1000000.0) - " +
        "CAST(sx AS DOUBLE) * (CAST(sgm AS DOUBLE) / 1000000.0) AS num, " +
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den1, " +
        "CAST(n AS DOUBLE) * (CAST(sggm AS DOUBLE) / 10000.0) - " +
        "(CAST(sgm AS DOUBLE) / 1000000.0) * " +
        "(CAST(sgm AS DOUBLE) / 1000000.0) AS den2 FROM aux) " +
        "SELECT n AS n_days, " +
        "CASE WHEN n >= 3 AND den2 > 0.0 THEN " +
        "round(num * num / (den1 * den2), 6) END AS r2_aux, " +
        "CASE WHEN n >= 3 AND den2 > 0.0 THEN " +
        "round(CAST(n AS DOUBLE) * (num * num / (den1 * den2)), 6) END " +
        "AS lm_stat, " +
        "CASE WHEN n >= 3 AND den2 > 0.0 THEN " +
        "CAST(n AS DOUBLE) * (num * num / (den1 * den2)) > 3.841459 " +
        "ELSE false END AS significant FROM f"),
    // Mirrors EventOps.chowBreakDaily: one conditional segment
    // collapse whose sums ARE the full-series moments, the closed-form
    // (A - B^2/D)/n SSE per fit, F in the identical chain.
    q("chow_break_daily", (s, d) => EventOps.chowBreakDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "g AS (SELECT t + 1 AS t, cnt AS y FROM grid), " +
        "nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g), " +
        "segs AS (SELECT n, CASE WHEN t * 2 <= n THEN 1 ELSE 2 END AS seg, " +
        "CAST(count(*) AS BIGINT) AS ns, CAST(sum(t) AS BIGINT) AS st, " +
        "CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt, " +
        "CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty, " +
        "CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy " +
        "FROM g CROSS JOIN nr GROUP BY 1, 2), " +
        "one AS (SELECT n, " +
        "CAST(sum(CASE WHEN seg = 1 THEN ns END) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN seg = 1 THEN st END) AS BIGINT) AS st1, " +
        "CAST(sum(CASE WHEN seg = 1 THEN stt END) AS HUGEINT) AS stt1, " +
        "CAST(sum(CASE WHEN seg = 1 THEN sy END) AS BIGINT) AS sy1, " +
        "CAST(sum(CASE WHEN seg = 1 THEN sty END) AS HUGEINT) AS sty1, " +
        "CAST(sum(CASE WHEN seg = 1 THEN syy END) AS HUGEINT) AS syy1, " +
        "CAST(sum(CASE WHEN seg = 2 THEN ns END) AS BIGINT) AS n2, " +
        "CAST(sum(CASE WHEN seg = 2 THEN st END) AS BIGINT) AS st2, " +
        "CAST(sum(CASE WHEN seg = 2 THEN stt END) AS HUGEINT) AS stt2, " +
        "CAST(sum(CASE WHEN seg = 2 THEN sy END) AS BIGINT) AS sy2, " +
        "CAST(sum(CASE WHEN seg = 2 THEN sty END) AS HUGEINT) AS sty2, " +
        "CAST(sum(CASE WHEN seg = 2 THEN syy END) AS HUGEINT) AS syy2 " +
        "FROM segs GROUP BY 1), " +
        "l AS (SELECT n, n1, " +
        "CAST(n1 AS HUGEINT) * stt1 - CAST(st1 AS HUGEINT) * st1 AS d1, " +
        "CAST(n2 AS HUGEINT) * stt2 - CAST(st2 AS HUGEINT) * st2 AS d2, " +
        "CAST(n AS HUGEINT) * (stt1 + stt2) - " +
        "CAST(st1 + st2 AS HUGEINT) * (st1 + st2) AS df_, " +
        "(CAST(CAST(n1 AS HUGEINT) * syy1 - CAST(sy1 AS HUGEINT) * sy1 " +
        "AS DOUBLE) - CAST((CAST(n1 AS HUGEINT) * sty1 - " +
        "CAST(st1 AS HUGEINT) * sy1) * (CAST(n1 AS HUGEINT) * sty1 - " +
        "CAST(st1 AS HUGEINT) * sy1) AS DOUBLE) / " +
        "CAST(CAST(n1 AS HUGEINT) * stt1 - CAST(st1 AS HUGEINT) * st1 " +
        "AS DOUBLE)) / CAST(n1 AS DOUBLE) AS sse1, " +
        "(CAST(CAST(n2 AS HUGEINT) * syy2 - CAST(sy2 AS HUGEINT) * sy2 " +
        "AS DOUBLE) - CAST((CAST(n2 AS HUGEINT) * sty2 - " +
        "CAST(st2 AS HUGEINT) * sy2) * (CAST(n2 AS HUGEINT) * sty2 - " +
        "CAST(st2 AS HUGEINT) * sy2) AS DOUBLE) / " +
        "CAST(CAST(n2 AS HUGEINT) * stt2 - CAST(st2 AS HUGEINT) * st2 " +
        "AS DOUBLE)) / CAST(n2 AS DOUBLE) AS sse2, " +
        "(CAST(CAST(n AS HUGEINT) * (syy1 + syy2) - " +
        "CAST(sy1 + sy2 AS HUGEINT) * (sy1 + sy2) AS DOUBLE) - " +
        "CAST((CAST(n AS HUGEINT) * (sty1 + sty2) - " +
        "CAST(st1 + st2 AS HUGEINT) * (sy1 + sy2)) * " +
        "(CAST(n AS HUGEINT) * (sty1 + sty2) - " +
        "CAST(st1 + st2 AS HUGEINT) * (sy1 + sy2)) AS DOUBLE) / " +
        "CAST(CAST(n AS HUGEINT) * (stt1 + stt2) - " +
        "CAST(st1 + st2 AS HUGEINT) * (st1 + st2) AS DOUBLE)) / " +
        "CAST(n AS DOUBLE) AS ssef FROM one) " +
        "SELECT n AS n_days, n1 AS n_first, " +
        "CASE WHEN n > 4 AND d1 > 0 AND d2 > 0 AND df_ > 0 " +
        "THEN round(ssef, 6) END AS sse_full, " +
        "CASE WHEN n > 4 AND d1 > 0 AND d2 > 0 AND df_ > 0 " +
        "THEN round(sse1, 6) END AS sse_first, " +
        "CASE WHEN n > 4 AND d1 > 0 AND d2 > 0 AND df_ > 0 " +
        "THEN round(sse2, 6) END AS sse_second, " +
        "CASE WHEN n > 4 AND d1 > 0 AND d2 > 0 AND df_ > 0 " +
        "AND sse1 + sse2 > 0.0 THEN " +
        "round(((ssef - sse1 - sse2) / 2.0) / " +
        "((sse1 + sse2) / (CAST(n AS DOUBLE) - 4.0)), 6) END AS f_stat " +
        "FROM l"),
    q("mann_kendall_daily", (s, d) => EventOps.mannKendallDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("d")}, " +
        "s AS (SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1 " +
        "WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s " +
        "FROM grid a JOIN grid b ON a.day < b.day), " +
        "ties AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) " +
        "AS tsum, CAST(sum(t) AS BIGINT) AS n FROM (" +
        "SELECT CAST(count(*) AS BIGINT) AS t FROM grid GROUP BY y)), " +
        "j AS (SELECT s, n, n * (n - 1) * (2 * n + 5) - tsum AS var18 " +
        "FROM s CROSS JOIN ties), " +
        "z AS (SELECT *, CASE WHEN s > 0 THEN " +
        "CAST(s - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
        "WHEN s < 0 THEN " +
        "CAST(s + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
        "ELSE 0.0 END AS zv FROM j) " +
        "SELECT n AS n_days, s AS s_stat, var18 AS var_s_x18, " +
        "CASE WHEN var18 > 0 THEN round(zv, 6) END AS z_score, " +
        "CASE WHEN var18 > 0 THEN (CASE WHEN zv > 1.959964 " +
        "THEN 'increasing' WHEN zv < -1.959964 THEN 'decreasing' " +
        "ELSE 'none' END) END AS trend " +
        "FROM z"),
    // Mirrors EventOps.pettittChangepointDaily: midrank identity
    // U_t = Σ_{i≤t}(n − 2aᵢ − eᵢ) on exact BIGINT lanes, argmax
    // tie-pinned to the earliest day, one exp() chain 6dp.
    q("pettitt_changepoint_daily", (s, d) => EventOps.pettittChangepointDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("cal")}, " +
        "e AS (SELECT y, CAST(count(*) AS BIGINT) AS e FROM grid " +
        "GROUP BY 1), " +
        "a AS (SELECT y, e, CAST(coalesce(sum(e) OVER (ORDER BY y ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS a FROM e), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n, max(day) AS dmax " +
        "FROM grid), " +
        "u AS (SELECT g.day, tot.n, tot.dmax, " +
        "CAST(sum(tot.n - 2 * a.a - a.e) OVER (ORDER BY g.day ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS u FROM grid g JOIN a ON a.y = g.y CROSS JOIN tot), " +
        "b AS (SELECT * FROM u WHERE day < dmax " +
        "ORDER BY abs(u) DESC, day ASC LIMIT 1) " +
        "SELECT n AS n_days, abs(u) AS k_stat, day AS change_day, " +
        "round(2.0 * exp(-6.0 * CAST(abs(u) AS DOUBLE) * " +
        "CAST(abs(u) AS DOUBLE) / (CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) + " +
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS p_value, " +
        "2.0 * exp(-6.0 * CAST(abs(u) AS DOUBLE) * " +
        "CAST(abs(u) AS DOUBLE) / (CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) + " +
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) < 0.05 AS significant " +
        "FROM b"),
    // Mirrors EventOps.thetaForecastDaily: moments and the SES
    // recursion as t-ascending left folds over the sorted calendar
    // list (list_reduce ≡ the aggregate HOF), identical pinned double
    // chains, no libm.
    q("theta_forecast_daily", (s, d) => EventOps.thetaForecastDaily(events(s, d)),
      s"WITH $dailyCountCte, ${calendarCte("daily", "d")}, " +
        "grid AS (SELECT d.day, CAST(coalesce(daily.cnt, 0) AS DOUBLE) AS y " +
        "FROM d LEFT JOIN daily ON daily.day = d.day), " +
        "ser AS (SELECT list(y ORDER BY day) AS ys FROM grid " +
        "HAVING count(*) >= 2), " +
        "m AS (SELECT ys, CAST(len(ys) AS DOUBLE) AS nd, " +
        "list_reduce(ys, (a, b) -> a + b) AS sy, " +
        "list_reduce(list_transform(range(len(ys)), i -> " +
        "CAST(i + 1 AS DOUBLE) * ys[CAST(i AS INT) + 1]), " +
        "(a, b) -> a + b) AS sty FROM ser), " +
        "c AS (SELECT *, nd * (nd + 1.0) / 2.0 AS st, " +
        "nd * (nd + 1.0) * (2.0 * nd + 1.0) / 6.0 AS stt FROM m), " +
        "cb AS (SELECT *, (nd * sty - st * sy) / " +
        "(nd * stt - st * st) AS b0 FROM c), " +
        "ca AS (SELECT *, (sy - b0 * st) / nd AS a0 FROM cb), " +
        "se AS (SELECT *, list_reduce(list_transform(range(len(ys)), " +
        "i -> 2.0 * ys[CAST(i AS INT) + 1] - " +
        "(a0 + b0 * CAST(i + 1 AS DOUBLE))), " +
        "(acc, x) -> 0.5 * x + 0.5 * acc) AS ses FROM ca) " +
        "SELECT CAST(h AS BIGINT) AS h, " +
        "round(0.5 * (a0 + b0 * (nd + CAST(h AS DOUBLE))) + 0.5 * ses, 6) " +
        "AS forecast " +
        "FROM se, (SELECT unnest(range(7)) + 1 AS h)"),
    // Mirrors EventOps.conformalDailyIntervals: BIGINT end to end —
    // day+7 equi-join residuals, integer-ceiling conformal index over
    // the collapsed |e| grid, seasonal-naive last-week points.
    q("conformal_daily_intervals", (s, d) => EventOps.conformalDailyIntervals(events(s, d)),
      s"WITH ${dailySeriesCtes("d")}, " +
        "res AS (SELECT abs(g.y - p.y) AS v FROM grid g " +
        "JOIN grid p ON g.day = p.day + 7), " +
        "byv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM res " +
        "GROUP BY 1), " +
        "cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc FROM byv), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM res), " +
        "qh AS (SELECT CAST(min(v) AS BIGINT) AS q_hat, " +
        "CAST(max(n) AS BIGINT) AS n_resid FROM cum CROSS JOIN tot " +
        "WHERE cumc >= least(CAST(((n + 1) * 9 + 9) // 10 AS BIGINT), n)), " +
        "last_ AS (SELECT max(day) AS d1 FROM grid), " +
        "pts AS (SELECT CAST(datediff('day', l.d1, g.day) + 7 AS BIGINT) " +
        "AS h, g.y AS forecast FROM grid g CROSS JOIN last_ l " +
        "WHERE datediff('day', g.day, l.d1) < 7) " +
        "SELECT h, forecast, " +
        "CAST(forecast - q_hat AS BIGINT) AS lo, " +
        "CAST(forecast + q_hat AS BIGINT) AS hi, q_hat, n_resid " +
        "FROM pts CROSS JOIN qh"),
    // Mirrors EventOps.hurstExponentDaily: exact integer block
    // R-numerators/S-denominators, per-block micro-pin before the
    // per-m mean, ascending-m ln folds (list_reduce ≡ aggregate), the
    // multi-unnest zip for the final explode.
    q("hurst_exponent_daily", (s, d) => EventOps.hurstExponentDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("d")}, " +
        "ranked AS (SELECT CAST(row_number() OVER (ORDER BY day ASC) " +
        "AS BIGINT) AS rn, y FROM grid), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked), " +
        "sz AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS m), " +
        "g2 AS (SELECT m, rn, y, CAST((rn - 1) // m AS BIGINT) AS bk, " +
        "CAST(rn - ((rn - 1) // m) * m AS BIGINT) AS t_in " +
        "FROM ranked CROSS JOIN sz CROSS JOIN nn " +
        "WHERE CAST((rn - 1) // m AS BIGINT) < CAST(n // m AS BIGINT)), " +
        "pre AS (SELECT *, CAST(sum(y) OVER (PARTITION BY m, bk " +
        "ORDER BY rn ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre " +
        "FROM g2), " +
        "tots AS (SELECT m, bk, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy " +
        "FROM g2 GROUP BY 1, 2), " +
        "devs AS (SELECT p.m, p.bk, t.sy, t.syy, " +
        "p.m * p.pre - p.t_in * t.sy AS dev " +
        "FROM pre p JOIN tots t ON t.m = p.m AND t.bk = p.bk), " +
        "blocks AS (SELECT m, bk, sy, syy, " +
        "CAST(max(dev) AS BIGINT) AS maxdev, " +
        "CAST(min(dev) AS BIGINT) AS mindev FROM devs GROUP BY 1, 2, 3, 4), " +
        "rs AS (SELECT m, CAST(round(CAST(maxdev - mindev AS DOUBLE) / " +
        "sqrt(CAST(m * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)) * " +
        "1000000.0, 0) AS BIGINT) AS rsm FROM blocks " +
        "WHERE m * syy - CAST(sy AS HUGEINT) * sy > 0), " +
        "perm AS (SELECT m, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(sum(rsm) AS BIGINT) AS srs FROM rs GROUP BY 1), " +
        "pk AS (SELECT list(m ORDER BY m) AS ms, " +
        "list(cnt ORDER BY m) AS cs, list(srs ORDER BY m) AS ss " +
        "FROM perm HAVING count(*) >= 2), " +
        "fold AS (SELECT ms, cs, ss, CAST(len(ms) AS DOUBLE) AS kd, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE))), " +
        "(a, b) -> a + b) AS sx, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(CAST(ss[CAST(i AS INT) + 1] AS DOUBLE) / " +
        "(CAST(cs[CAST(i AS INT) + 1] AS DOUBLE) * 1000000.0))), " +
        "(a, b) -> a + b) AS syp, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE)) * " +
        "ln(CAST(ss[CAST(i AS INT) + 1] AS DOUBLE) / " +
        "(CAST(cs[CAST(i AS INT) + 1] AS DOUBLE) * 1000000.0))), " +
        "(a, b) -> a + b) AS sxy, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE)) * " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE))), " +
        "(a, b) -> a + b) AS sxx FROM pk), " +
        "h AS (SELECT *, (kd * sxy - sx * syp) / " +
        "(kd * sxx - sx * sx) AS hurst FROM fold) " +
        "SELECT CAST(m AS BIGINT) AS m, CAST(nb AS BIGINT) AS n_blocks, " +
        "round(CAST(srs AS DOUBLE) / (CAST(nb AS DOUBLE) * 1000000.0), 6) " +
        "AS mean_rs, round(hurst, 6) AS hurst FROM (" +
        "SELECT unnest(ms) AS m, unnest(cs) AS nb, unnest(ss) AS srs, " +
        "hurst FROM h)"),
    // Mirrors EventOps.dfaAlphaDaily: n-scaled exact profile lanes,
    // per-window mean-squared OLS residual (A − B²/D)/m² clamped at 0
    // and 6dp-pinned into DECIMAL(38,6) before the per-size mean,
    // the hurst fold for the log-log slope.
    q("dfa_alpha_daily", (s, d) => EventOps.dfaAlphaDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("d")}, " +
        "ranked AS (SELECT CAST(row_number() OVER (ORDER BY day ASC) " +
        "AS BIGINT) AS rn, y FROM grid), " +
        "rp AS (SELECT rn, CAST(sum(y) OVER (ORDER BY rn ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre FROM ranked), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(max(pre) AS BIGINT) AS sy FROM rp), " +
        "sz AS (SELECT CAST(unnest([4, 8, 16]) AS BIGINT) AS m), " +
        "g2 AS (SELECT m, rn, n, " +
        "CAST((rn - 1) // m AS BIGINT) AS bk, " +
        "CAST(rn - ((rn - 1) // m) * m AS BIGINT) AS x, " +
        "CAST(n * pre - rn * sy AS BIGINT) AS p " +
        "FROM rp CROSS JOIN sz CROSS JOIN nn " +
        "WHERE CAST((rn - 1) // m AS BIGINT) < CAST(n // m AS BIGINT)), " +
        "blocks AS (SELECT m, bk, max(n) AS n, " +
        "CAST(sum(p) AS BIGINT) AS sp, " +
        "CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp, " +
        "CAST(sum(CAST(x * p AS HUGEINT)) AS HUGEINT) AS sxp, " +
        "CAST((m * (m + 1)) // 2 AS BIGINT) AS sxl, " +
        "CAST((m * (m + 1) * (2 * m + 1)) // 6 AS BIGINT) AS sxxl " +
        "FROM g2 GROUP BY 1, 2), " +
        "perm AS (SELECT m, max(n) AS n, CAST(count(*) AS BIGINT) AS cnt, " +
        "sum(CAST(round(greatest((CAST(CAST(m AS HUGEINT) * spp - " +
        "CAST(sp AS HUGEINT) * sp AS DOUBLE) - " +
        "CAST((CAST(m AS HUGEINT) * sxp - CAST(sxl AS HUGEINT) * sp) * " +
        "(CAST(m AS HUGEINT) * sxp - CAST(sxl AS HUGEINT) * sp) AS DOUBLE) / " +
        "CAST(m * sxxl - sxl * sxl AS DOUBLE)) / CAST(m * m AS DOUBLE), 0.0), 6) " +
        "AS DECIMAL(38,6))) AS ssum FROM blocks GROUP BY 1 " +
        "HAVING sum(CAST(round(greatest((CAST(CAST(m AS HUGEINT) * spp - " +
        "CAST(sp AS HUGEINT) * sp AS DOUBLE) - " +
        "CAST((CAST(m AS HUGEINT) * sxp - CAST(sxl AS HUGEINT) * sp) * " +
        "(CAST(m AS HUGEINT) * sxp - CAST(sxl AS HUGEINT) * sp) AS DOUBLE) / " +
        "CAST(m * sxxl - sxl * sxl AS DOUBLE)) / CAST(m * m AS DOUBLE), 0.0), 6) " +
        "AS DECIMAL(38,6))) > 0), " +
        "pk AS (SELECT list(m ORDER BY m) AS ms, " +
        "list(cnt ORDER BY m) AS cs, list(ssum ORDER BY m) AS ss, " +
        "max(n) AS n FROM perm HAVING count(*) >= 2), " +
        "fold AS (SELECT ms, cs, ss, n, CAST(len(ms) AS DOUBLE) AS kd, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE))), " +
        "(a, b) -> a + b) AS sx, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(sqrt(CAST(ss[CAST(i AS INT) + 1] AS DOUBLE) / " +
        "CAST(cs[CAST(i AS INT) + 1] AS DOUBLE)) / CAST(n AS DOUBLE))), " +
        "(a, b) -> a + b) AS syp, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE)) * " +
        "ln(sqrt(CAST(ss[CAST(i AS INT) + 1] AS DOUBLE) / " +
        "CAST(cs[CAST(i AS INT) + 1] AS DOUBLE)) / CAST(n AS DOUBLE))), " +
        "(a, b) -> a + b) AS sxy, " +
        "list_reduce(list_transform(range(len(ms)), i -> " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE)) * " +
        "ln(CAST(ms[CAST(i AS INT) + 1] AS DOUBLE))), " +
        "(a, b) -> a + b) AS sxx FROM pk), " +
        "h AS (SELECT *, (kd * sxy - sx * syp) / " +
        "(kd * sxx - sx * sx) AS alpha FROM fold) " +
        "SELECT CAST(m AS BIGINT) AS win_size, " +
        "CAST(nb AS BIGINT) AS n_blocks, " +
        "round(sqrt(CAST(srs AS DOUBLE) / CAST(nb AS DOUBLE)) / " +
        "CAST(n AS DOUBLE), 6) AS fluct, " +
        "round(alpha, 6) AS dfa_alpha FROM (" +
        "SELECT unnest(ms) AS m, unnest(cs) AS nb, unnest(ss) AS srs, " +
        "n, alpha FROM h)"),
    // Mirrors EventOps.cochranArmitageTrend: ntile(5) parity for the
    // quintile cut, exact HUGEINT trend moments, one pinned z.
    q("cochran_armitage_trend", (s, d) => EventOps.cochranArmitageTrend(events(s, d)),
      "WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y " +
        "FROM events GROUP BY 1), " +
        "t AS (SELECT *, CAST(ntile(5) OVER (ORDER BY x ASC, user_id ASC) " +
        "AS BIGINT) AS stratum FROM pu), " +
        "cells AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS r FROM t GROUP BY 1), " +
        "m AS (SELECT CAST(sum(n) AS BIGINT) AS nn, " +
        "CAST(sum(r) AS BIGINT) AS rr, " +
        "CAST(sum(stratum * r) AS BIGINT) AS str, " +
        "CAST(sum(stratum * n) AS BIGINT) AS stn, " +
        "CAST(sum(CAST(stratum AS HUGEINT) * stratum * n) AS HUGEINT) " +
        "AS sttn FROM cells), " +
        "f AS (SELECT *, " +
        "CAST(nn AS HUGEINT) * str - CAST(rr AS HUGEINT) * stn AS num, " +
        "CAST(rr AS HUGEINT) * (nn - rr) * " +
        "(CAST(nn AS HUGEINT) * sttn - CAST(stn AS HUGEINT) * stn) AS vi, " +
        "CAST(nn AS HUGEINT) * sttn - CAST(stn AS HUGEINT) * stn AS sv " +
        "FROM m), " +
        "z AS (SELECT *, CAST(num AS DOUBLE) / " +
        "sqrt(CAST(vi AS DOUBLE) / CAST(nn AS DOUBLE)) AS zv FROM f) " +
        "SELECT nn AS n_users, rr AS n_conv, " +
        "CASE WHEN rr > 0 AND rr < nn AND sv > 0 THEN round(zv, 6) END " +
        "AS z_score, " +
        "CASE WHEN rr > 0 AND rr < nn AND sv > 0 THEN (" +
        "CASE WHEN zv > 1.959964 THEN 'increasing' " +
        "WHEN zv < -1.959964 THEN 'decreasing' ELSE 'none' END) END " +
        "AS trend FROM z"),
    // Mirrors EventOps.runsTestDaily: exact integer 2·median off the
    // calendar order statistics, equal-to-median days dropped, runs
    // counted by a lag over the surviving days, pinned z chain.
    q("runs_test_daily", (s, d) => EventOps.runsTestDaily(events(s, d)),
      s"WITH ${dailySeriesCtes("d")}, " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM grid), " +
        "pos AS (SELECT CAST((n_cal + 1) // 2 AS BIGINT) AS lo, " +
        "CAST(n_cal // 2 + 1 AS BIGINT) AS hi FROM nn), " +
        "ranked AS (SELECT y, " +
        "row_number() OVER (ORDER BY y ASC, day ASC) AS rn FROM grid), " +
        "med AS (SELECT CAST(sum(CASE WHEN rn = lo THEN y ELSE 0 END) + " +
        "sum(CASE WHEN rn = hi THEN y ELSE 0 END) AS BIGINT) AS med2 " +
        "FROM ranked CROSS JOIN pos), " +
        "signs AS (SELECT day, " +
        "CASE WHEN y * 2 > med2 THEN 1 ELSE 0 END AS s " +
        "FROM grid CROSS JOIN med WHERE y * 2 <> med2), " +
        "wp AS (SELECT s, lag(s) OVER (ORDER BY day ASC) AS sp FROM signs), " +
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(s) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN sp IS NOT NULL AND s <> sp THEN 1 ELSE 0 END) " +
        "+ 1 AS BIGINT) AS runs FROM wp), " +
        "f AS (SELECT n, n1, runs, CAST(n AS DOUBLE) AS nd, " +
        "2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) AS p2 FROM agg), " +
        "g AS (SELECT n, n1, runs, " +
        "(CAST(runs AS DOUBLE) - (1.0 + p2 / nd)) / " +
        "sqrt(p2 * (p2 - nd) / (nd * nd * (nd - 1.0))) AS z FROM f) " +
        "SELECT n AS n_days_used, n1 AS n_above, " +
        "CAST(n - n1 AS BIGINT) AS n_below, runs, " +
        "CASE WHEN n1 > 0 AND n1 < n THEN round(z, 6) END AS z_score, " +
        "coalesce(CASE WHEN n1 > 0 AND n1 < n THEN abs(z) <= 1.959964 END, " +
        "false) AS looks_random " +
        "FROM g"),
    // Mirrors EventOps.cliffsDeltaTypePairs off the SHARED Mann-Whitney
    // prefix-sum CTEs (the shingleCtes anti-drift convention): exact
    // HUGEINT greater/less counts, one pinned division, the Romano '06
    // ladder by integer cross-multiplication.
    q("cliffs_delta_type_pairs", (s, d) => EventOps.cliffsDeltaTypePairs(events(s, d)),
      "WITH " + mannWhitneyCtes + ", " +
        "cd AS (SELECT ta, tb, CAST(sum(ca) AS BIGINT) AS n1, " +
        "CAST(sum(cb) AS BIGINT) AS n2, " +
        "CAST(sum(CAST(ca AS HUGEINT) * cum_b) AS HUGEINT) AS gt, " +
        "CAST(sum(CAST(cb AS HUGEINT) * cum_a) AS HUGEINT) AS lt " +
        "FROM cum GROUP BY 1, 2) " +
        "SELECT ta AS type_a, tb AS type_b, n1, n2, " +
        "round(CAST(gt - lt AS DOUBLE) / " +
        "CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6) AS cliffs_delta, " +
        "CASE WHEN abs(gt - lt) * 1000 < CAST(n1 AS HUGEINT) * n2 * 147 " +
        "THEN 'negligible' " +
        "WHEN abs(gt - lt) * 1000 < CAST(n1 AS HUGEINT) * n2 * 330 " +
        "THEN 'small' " +
        "WHEN abs(gt - lt) * 1000 < CAST(n1 AS HUGEINT) * n2 * 474 " +
        "THEN 'medium' ELSE 'large' END AS magnitude " +
        "FROM cd"),
    // Mirrors EventOps.friedmanDowTest: arithmetic isodow/week keys,
    // complete weeks only, doubled midranks from the 7x7 within-week
    // self-join, exact HUGEINT sum of squared centered rank sums, one
    // pinned division vs the stated 12.592 cut.
    q("friedman_dow_test", (s, d) => EventOps.friedmanDowTest(events(s, d)),
      s"WITH $dailyCountCte, ${calendarCte("daily", "d")}, " +
        "grid AS (SELECT CAST((datediff('day', DATE '1970-01-01', d.day) " +
        "+ 3) % 7 + 1 AS BIGINT) AS isodow, " +
        "CAST((datediff('day', DATE '1970-01-01', d.day) + 3) // 7 " +
        "AS BIGINT) AS wk, coalesce(daily.cnt, 0) AS y " +
        "FROM d LEFT JOIN daily ON daily.day = d.day), " +
        "complete AS (SELECT wk FROM grid GROUP BY wk " +
        "HAVING count(*) = 7), " +
        "wgrid AS (SELECT g.wk, g.isodow, g.y " +
        "FROM grid g JOIN complete USING (wk)), " +
        "r2 AS (SELECT a.wk, a.isodow, " +
        "CAST(2 * sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) + " +
        "sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1 AS BIGINT) AS r2 " +
        "FROM wgrid a JOIN wgrid b ON a.wk = b.wk GROUP BY 1, 2), " +
        "sums AS (SELECT isodow, CAST(count(*) AS BIGINT) AS n_weeks, " +
        "CAST(sum(r2) AS BIGINT) AS rs2 FROM r2 GROUP BY 1), " +
        "chi AS (SELECT max(n_weeks) AS n_weeks, " +
        "CAST(sum((CAST(rs2 AS HUGEINT) - 8 * n_weeks) * " +
        "(CAST(rs2 AS HUGEINT) - 8 * n_weeks)) AS HUGEINT) AS ssq " +
        "FROM sums) " +
        "SELECT n_weeks, " +
        "CASE WHEN n_weeks > 0 THEN round(3.0 * CAST(ssq AS DOUBLE) / " +
        "(56.0 * CAST(n_weeks AS DOUBLE)), 6) END AS chi2, " +
        "coalesce(CASE WHEN n_weeks > 0 THEN " +
        "round(3.0 * CAST(ssq AS DOUBLE) / " +
        "(56.0 * CAST(n_weeks AS DOUBLE)), 6) > 12.592 END, false) " +
        "AS significant " +
        "FROM chi"),
    // Mirrors EventOps.valueEnergyDrift: the wasserstein CTE chain
    // with three exact HUGEINT prefix-sum integrals (between/within/
    // within), one pinned double chain.
    q("value_energy_drift", (s, d) => EventOps.valueEnergyDrift(events(s, d)),
      s"WITH $binHalvesCtes, " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2 FROM c), " +
        "e AS (SELECT bin, n1, n2, " +
        "CAST(sum(c1) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum1, " +
        "CAST(sum(c2) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum2, " +
        "lead(bin) OVER (ORDER BY bin ASC) - bin AS gap " +
        "FROM c CROSS JOIN t), " +
        "s AS (SELECT max(n1) AS n_first, max(n2) AS n_second, " +
        "CAST(sum((CAST(cum1 AS HUGEINT) * (n2 - cum2) + " +
        "CAST(cum2 AS HUGEINT) * (n1 - cum1)) * gap) AS HUGEINT) AS axy, " +
        "CAST(sum(CAST(2 * cum1 AS HUGEINT) * (n1 - cum1) * gap) " +
        "AS HUGEINT) AS axx, " +
        "CAST(sum(CAST(2 * cum2 AS HUGEINT) * (n2 - cum2) * gap) " +
        "AS HUGEINT) AS ayy " +
        "FROM e WHERE gap IS NOT NULL) " +
        "SELECT n_first, n_second, " +
        "round(2.0 * CAST(axy AS DOUBLE) / " +
        "(CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE)) - " +
        "CAST(axx AS DOUBLE) / " +
        "(CAST(n_first AS DOUBLE) * CAST(n_first AS DOUBLE)) - " +
        "CAST(ayy AS DOUBLE) / " +
        "(CAST(n_second AS DOUBLE) * CAST(n_second AS DOUBLE)), 6) " +
        "AS energy_dist FROM s"),
    // Mirrors EventOps.valueCvmDrift: the wasserstein CTE chain with
    // the squared-ECDF-gap terms micro-pinned per bin before the exact
    // sum, one pinned T chain, stated 0.461 criterion.
    q("value_cvm_drift", (s, d) => EventOps.valueCvmDrift(events(s, d)),
      s"WITH $binHalvesCtes, " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2 FROM c), " +
        "e AS (SELECT c1, c2, n1, n2, " +
        "CAST(sum(c1) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum1, " +
        "CAST(sum(c2) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum2 FROM c CROSS JOIN t), " +
        "tm AS (SELECT n1, n2, CAST(round(" +
        "(CAST(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1 " +
        "AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) * " +
        "(CAST(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1 " +
        "AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) * " +
        "CAST(c1 + c2 AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS tm FROM e), " +
        "s AS (SELECT n1, n2, CAST(sum(CAST(tm AS HUGEINT)) AS HUGEINT) " +
        "AS sm FROM tm GROUP BY 1, 2) " +
        "SELECT n1 AS n_first, n2 AS n_second, " +
        "round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / " +
        "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)) * " +
        "(CAST(sm AS DOUBLE) / 1000000.0), 6) AS cvm_t, " +
        "coalesce(CASE WHEN n1 > 0 AND n2 > 0 THEN " +
        "round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / " +
        "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)) * " +
        "(CAST(sm AS DOUBLE) / 1000000.0), 6) > 0.461 END, false) " +
        "AS drifted FROM s"),
    // Mirrors EventOps.valueAdDrift: doubled midrank counts clear the
    // halves, every inner term one pinned division of HUGEINT lanes
    // micro-pinned before the grid sum, per-sample sums re-pinned,
    // final (N−1)/N chain; degenerate bins contribute 0.
    q("value_ad_drift", (s, d) => EventOps.valueAdDrift(events(s, d)),
      s"WITH $binHalvesCtes, " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2 FROM c), " +
        "e AS (SELECT c1, c2, n1, n2, n1 + n2 AS nn, c1 + c2 AS lj, " +
        "CAST(coalesce(sum(c1) OVER (ORDER BY bin ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS lt1, " +
        "CAST(coalesce(sum(c2) OVER (ORDER BY bin ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS lt2 FROM c CROSS JOIN t), " +
        "e2 AS (SELECT *, 2 * (lt1 + lt2) + lj AS b2 FROM e), " +
        "tm AS (SELECT n1, n2, nn, " +
        "CASE WHEN CAST(nn AS HUGEINT) * (CAST(b2 AS HUGEINT) * " +
        "(2 * nn - b2) - CAST(nn AS HUGEINT) * lj) > 0 THEN " +
        "CAST(round(CAST(CAST(lj AS HUGEINT) * " +
        "(CAST(nn AS HUGEINT) * (2 * lt1 + c1) - CAST(n1 AS HUGEINT) * b2) * " +
        "(CAST(nn AS HUGEINT) * (2 * lt1 + c1) - CAST(n1 AS HUGEINT) * b2) " +
        "AS DOUBLE) / CAST(CAST(nn AS HUGEINT) * (CAST(b2 AS HUGEINT) * " +
        "(2 * nn - b2) - CAST(nn AS HUGEINT) * lj) AS DOUBLE) " +
        "* 1000000.0, 0) AS BIGINT) ELSE 0 END AS t1, " +
        "CASE WHEN CAST(nn AS HUGEINT) * (CAST(b2 AS HUGEINT) * " +
        "(2 * nn - b2) - CAST(nn AS HUGEINT) * lj) > 0 THEN " +
        "CAST(round(CAST(CAST(lj AS HUGEINT) * " +
        "(CAST(nn AS HUGEINT) * (2 * lt2 + c2) - CAST(n2 AS HUGEINT) * b2) * " +
        "(CAST(nn AS HUGEINT) * (2 * lt2 + c2) - CAST(n2 AS HUGEINT) * b2) " +
        "AS DOUBLE) / CAST(CAST(nn AS HUGEINT) * (CAST(b2 AS HUGEINT) * " +
        "(2 * nn - b2) - CAST(nn AS HUGEINT) * lj) AS DOUBLE) " +
        "* 1000000.0, 0) AS BIGINT) ELSE 0 END AS t2 FROM e2), " +
        "s AS (SELECT n1, n2, nn, CAST(count(*) AS BIGINT) AS n_bins, " +
        "CAST(sum(CAST(t1 AS HUGEINT)) AS HUGEINT) AS s1, " +
        "CAST(sum(CAST(t2 AS HUGEINT)) AS HUGEINT) AS s2 " +
        "FROM tm GROUP BY 1, 2, 3) " +
        "SELECT n1 AS n_first, n2 AS n_second, n_bins, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN " +
        "round((CAST(nn AS DOUBLE) - 1.0) * " +
        "CAST(CAST(round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 0) " +
        "AS BIGINT) + CAST(round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), " +
        "0) AS BIGINT) AS DOUBLE) / CAST(nn AS DOUBLE) / 1000000.0, 6) " +
        "END AS a2_akn FROM s"),
    // Mirrors EventOps.ansariBradleyAb: doubled both-ends scores with
    // closed-form tied-block sums (T2 triangulars split at the fold
    // point), per-block contributions pinned, the general
    // conditional-on-ties linear-rank moments, one z chain.
    q("ansari_bradley_ab", (s, d) => EventOps.ansariBradleyAb(events(s, d)),
      "WITH cv AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT) AS cv, user_id % 2 AS arm FROM events), " +
        "grid AS (SELECT cv.cv, " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2 " +
        "FROM cv GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2 FROM grid), " +
        "g AS (SELECT c1, c2, n1, n2, n1 + n2 AS nn, c1 + c2 AS l, " +
        "CAST(coalesce(sum(c1 + c2) OVER (ORDER BY cv ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS bb FROM grid CROSS JOIN tot), " +
        "blk AS (SELECT *, bb + 1 AS a, bb + l AS b, " +
        "CAST((nn + 1) // 2 AS BIGINT) AS h FROM g), " +
        "sj AS (SELECT n1, n2, nn, l, c1, " +
        "(CASE WHEN a <= least(b, h) THEN " +
        "CAST(least(b, h) AS HUGEINT) * (least(b, h) + 1) - " +
        "CAST(a - 1 AS HUGEINT) * a ELSE CAST(0 AS HUGEINT) END) + " +
        "(CASE WHEN b > h THEN " +
        "CAST(nn + 1 AS HUGEINT) * 2 * (b - greatest(a, h + 1) + 1) - " +
        "(CAST(b AS HUGEINT) * (b + 1) - " +
        "CAST(greatest(a, h + 1) - 1 AS HUGEINT) * " +
        "greatest(a, h + 1)) ELSE CAST(0 AS HUGEINT) END) AS s2j " +
        "FROM blk), " +
        "terms AS (SELECT n1, n2, nn, s2j, " +
        "CAST(round(CAST(c1 AS DOUBLE) * CAST(s2j AS DOUBLE) / " +
        "CAST(l AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS wm, " +
        "CAST(round(CAST(s2j AS DOUBLE) * CAST(s2j AS DOUBLE) / " +
        "CAST(l AS DOUBLE), 0) AS HUGEINT) AS s2m FROM sj), " +
        "s AS (SELECT n1, n2, nn, CAST(sum(s2j) AS HUGEINT) AS ssum2, " +
        "CAST(sum(CAST(wm AS HUGEINT)) AS HUGEINT) AS w2m, " +
        "CAST(sum(s2m) AS HUGEINT) AS ss22 FROM terms GROUP BY 1, 2, 3) " +
        "SELECT n1 AS n_a, n2 AS n_b, " +
        "round(CAST(w2m AS DOUBLE) / 1000000.0 / 2.0, 6) AS ab_score_a, " +
        "round(CAST(CAST(n1 AS HUGEINT) * ssum2 AS DOUBLE) / " +
        "CAST(nn AS DOUBLE) / 2.0, 6) AS expected_score_a, " +
        "CASE WHEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        "CAST(CAST(nn AS HUGEINT) * ss22 - " +
        "CAST(ssum2 AS HUGEINT) * ssum2 AS DOUBLE) / " +
        "(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) - 1.0)) > 0.0 THEN " +
        "round((CAST(w2m AS DOUBLE) / 1000000.0 - " +
        "CAST(CAST(n1 AS HUGEINT) * ssum2 AS DOUBLE) / " +
        "CAST(nn AS DOUBLE)) / " +
        "sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * " +
        "CAST(CAST(nn AS HUGEINT) * ss22 - " +
        "CAST(ssum2 AS HUGEINT) * ssum2 AS DOUBLE) / " +
        "(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * " +
        "(CAST(nn AS DOUBLE) - 1.0))), 4) END AS z_score FROM s"),
    // Mirrors EventOps.yuenTrimmedTtestAb: per-arm cents grids, exact
    // prefix-rank clipping for the trimmed interior, winsorized tails
    // clamped to the cut order statistics, every statistic a pinned
    // chain of HUGEINT lanes.
    q("yuen_trimmed_ttest_ab", (s, d) => EventOps.yuenTrimmedTtestAb(events(s, d)),
      "WITH cv AS (SELECT user_id % 2 AS arm, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cv " +
        "FROM events), " +
        "grid AS (SELECT arm, cv.cv, CAST(count(*) AS BIGINT) AS c " +
        "FROM cv GROUP BY 1, 2), " +
        "tot AS (SELECT arm, CAST(sum(c) AS BIGINT) AS n " +
        "FROM grid GROUP BY 1), " +
        "g AS (SELECT grid.arm, grid.cv, c, " +
        "CAST(sum(c) OVER (PARTITION BY grid.arm ORDER BY grid.cv ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, n, " +
        "CAST(floor(CAST(n AS DOUBLE) * 0.2) AS BIGINT) AS gg " +
        "FROM grid JOIN tot ON tot.arm = grid.arm), " +
        "per AS (SELECT arm, n, gg, n - 2 * gg AS h, " +
        "CAST(sum(CAST(cv AS HUGEINT) * greatest(least(cum, n - gg) - " +
        "greatest(cum - c, gg), 0)) AS HUGEINT) AS tsum, " +
        "CAST(sum(CAST(cv AS HUGEINT) * cv * greatest(least(cum, n - gg) " +
        "- greatest(cum - c, gg), 0)) AS HUGEINT) AS tss, " +
        "CAST(max(CASE WHEN cum - c < gg + 1 AND cum >= gg + 1 " +
        "THEN cv END) AS BIGINT) AS lo, " +
        "CAST(max(CASE WHEN cum - c < n - gg AND cum >= n - gg " +
        "THEN cv END) AS BIGINT) AS hi FROM g GROUP BY 1, 2, 3, 4), " +
        "pw AS (SELECT *, tsum + CAST(gg AS HUGEINT) * lo + " +
        "CAST(gg AS HUGEINT) * hi AS sw, " +
        "tss + CAST(gg AS HUGEINT) * lo * lo + " +
        "CAST(gg AS HUGEINT) * hi * hi AS ssw FROM per), " +
        "r AS (SELECT arm, n, h, " +
        "CASE WHEN h >= 2 THEN CAST(tsum AS DOUBLE) / " +
        "(CAST(h AS DOUBLE) * 100.0) END AS mt, " +
        "CASE WHEN h >= 2 THEN " +
        "CAST(CAST(n AS HUGEINT) * ssw - sw * sw AS DOUBLE) / " +
        "CAST(CAST(n AS HUGEINT) * h * (h - 1) AS DOUBLE) / 10000.0 " +
        "END AS d FROM pw) " +
        "SELECT a.n AS n_a, b.n AS n_b, a.h AS h_a, b.h AS h_b, " +
        "round(a.mt, 6) AS trimmed_mean_a, " +
        "round(b.mt, 6) AS trimmed_mean_b, " +
        "CASE WHEN a.d + b.d > 0.0 THEN " +
        "round((a.mt - b.mt) / sqrt(a.d + b.d), 4) END AS t_stat " +
        "FROM r a, r b WHERE a.arm = 0 AND b.arm = 1"),
    // Mirrors EventOps.seasonalMannKendall: the flat MK chain with
    // pairs and tie-corrections confined to each ISO-dow subseries,
    // variances summed across the 7 seasons.
    q("seasonal_mann_kendall", (s, d) => EventOps.seasonalMannKendall(events(s, d)),
      s"WITH $dailyCountCte, ${calendarCte("daily", "d")}, " +
        "grid AS (SELECT d.day, " +
        "CAST((datediff('day', DATE '1970-01-01', d.day) + 3) % 7 + 1 " +
        "AS BIGINT) AS dow, coalesce(daily.cnt, 0) AS y " +
        "FROM d LEFT JOIN daily ON daily.day = d.day), " +
        "s AS (SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1 " +
        "WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s, " +
        "CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM grid a JOIN grid b ON a.dow = b.dow AND a.day < b.day), " +
        "ps AS (SELECT dow, CAST(sum(t) AS BIGINT) AS nd, " +
        "CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum FROM (" +
        "SELECT dow, y, CAST(count(*) AS BIGINT) AS t FROM grid " +
        "GROUP BY 1, 2) GROUP BY 1), " +
        "v AS (SELECT CAST(sum(nd * (nd - 1) * (2 * nd + 5) - tsum) " +
        "AS BIGINT) AS var18, CAST(sum(nd) AS BIGINT) AS n_days, " +
        "CAST(count(*) AS BIGINT) AS n_seasons FROM ps), " +
        "z AS (SELECT *, CASE WHEN s > 0 THEN " +
        "CAST(s - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
        "WHEN s < 0 THEN " +
        "CAST(s + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0) " +
        "ELSE 0.0 END AS zv FROM s CROSS JOIN v) " +
        "SELECT n_days, n_seasons, s AS s_stat, var18 AS var_s_x18, " +
        "CASE WHEN var18 > 0 THEN round(zv, 6) END AS z_score, " +
        "CASE WHEN var18 > 0 THEN (CASE WHEN zv > 1.959964 " +
        "THEN 'increasing' WHEN zv < -1.959964 THEN 'decreasing' " +
        "ELSE 'none' END) END AS trend FROM z"),
    // Mirrors EventOps.distanceCorrelationDaily: n²-scaled double-
    // centered distance lanes exact in HUGEINT, dCor one pinned chain.
    q("distance_correlation_daily", (s, d) => EventOps.distanceCorrelationDaily(events(s, d)),
      "WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS x, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS y " +
        "FROM events GROUP BY 1), " +
        s"${calendarCte("daily", "cal")}, " +
        "grid AS (SELECT cal.day, coalesce(daily.x, 0) AS x, " +
        "coalesce(daily.y, 0) AS y " +
        "FROM cal LEFT JOIN daily ON daily.day = cal.day), " +
        "pab AS (SELECT i.day AS di, j.day AS dj, " +
        "abs(i.x - j.x) AS a, abs(i.y - j.y) AS b " +
        "FROM grid i CROSS JOIN grid j), " +
        "rows_ AS (SELECT di, CAST(sum(a) AS BIGINT) AS ra, " +
        "CAST(sum(b) AS BIGINT) AS rb FROM pab GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta, " +
        "CAST(sum(b) AS BIGINT) AS tb, " +
        "CAST(count(DISTINCT di) AS BIGINT) AS n FROM pab), " +
        "cent AS (SELECT " +
        "CAST(n AS HUGEINT) * n * a - CAST(n AS HUGEINT) * ri.ra - " +
        "CAST(n AS HUGEINT) * rj.ra + CAST(ta AS HUGEINT) AS ac, " +
        "CAST(n AS HUGEINT) * n * b - CAST(n AS HUGEINT) * ri.rb - " +
        "CAST(n AS HUGEINT) * rj.rb + CAST(tb AS HUGEINT) AS bc, n " +
        "FROM pab JOIN rows_ ri ON ri.di = pab.di " +
        "JOIN rows_ rj ON rj.di = pab.dj CROSS JOIN tot), " +
        "s AS (SELECT n, CAST(sum(ac * bc) AS HUGEINT) AS sab, " +
        "CAST(sum(ac * ac) AS HUGEINT) AS saa, " +
        "CAST(sum(bc * bc) AS HUGEINT) AS sbb FROM cent GROUP BY 1) " +
        "SELECT n AS n_days, " +
        "CASE WHEN saa > 0 AND sbb > 0 AND sab >= 0 THEN " +
        "round(sqrt(CAST(sab AS DOUBLE) / " +
        "sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE))), 6) " +
        "END AS dcor, " +
        "CASE WHEN saa > 0 AND sbb > 0 THEN " +
        "round(CAST(sab AS DOUBLE) / " +
        "sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 6) " +
        "END AS dcor_sq FROM s"),
    // Mirrors EventOps.partialCorrTypePairs: exact moment lanes on
    // the zero-filled type×calendar grid, three Pearson chains, the
    // partial-correlation formula on those identical doubles.
    q("partial_corr_type_pairs", (s, d) => EventOps.partialCorrTypePairs(events(s, d)),
      s"WITH ${typeDailyCtes("cal", "types")}, " +
        "grid AS (SELECT t.event_type, cal.day, " +
        "coalesce(daily.cnt, 0) AS cnt " +
        "FROM cal CROSS JOIN types t LEFT JOIN daily " +
        "ON daily.day = cal.day AND daily.event_type = t.event_type), " +
        "zs AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS z " +
        "FROM grid GROUP BY 1), " +
        "rz AS (SELECT event_type, " +
        "CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 " +
        "THEN CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
        "CAST(n * syy - sy * sy AS DOUBLE)) END AS rz FROM (" +
        "SELECT g.event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(g.cnt) AS BIGINT) AS sx, " +
        "CAST(sum(zs.z) AS BIGINT) AS sy, " +
        "CAST(sum(g.cnt * zs.z) AS BIGINT) AS sxy, " +
        "CAST(sum(g.cnt * g.cnt) AS BIGINT) AS sxx, " +
        "CAST(sum(zs.z * zs.z) AS BIGINT) AS syy " +
        "FROM grid g JOIN zs ON zs.day = g.day GROUP BY 1)), " +
        "m AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(a.cnt) AS BIGINT) AS sx, " +
        "CAST(sum(b.cnt) AS BIGINT) AS sy, " +
        "CAST(sum(a.cnt * b.cnt) AS BIGINT) AS sxy, " +
        "CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx, " +
        "CAST(sum(b.cnt * b.cnt) AS BIGINT) AS syy " +
        "FROM grid a JOIN grid b ON a.day = b.day " +
        "AND a.event_type < b.event_type GROUP BY 1, 2), " +
        "r AS (SELECT type_a, type_b, n, " +
        "CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 " +
        "THEN CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
        "CAST(n * syy - sy * sy AS DOUBLE)) END AS rxy FROM m) " +
        "SELECT type_a, type_b, n AS n_days, round(rxy, 6) AS pearson_r, " +
        "CASE WHEN sqrt((1.0 - ra.rz * ra.rz) * (1.0 - rb.rz * rb.rz)) " +
        "> 0.0 THEN round((rxy - ra.rz * rb.rz) / " +
        "sqrt((1.0 - ra.rz * ra.rz) * (1.0 - rb.rz * rb.rz)), 6) " +
        "END AS partial_r FROM r " +
        "JOIN rz ra ON ra.event_type = r.type_a " +
        "JOIN rz rb ON rb.event_type = r.type_b"),
    // Mirrors EventOps.gpdPotFit: exact lower-P95 cents threshold,
    // strict exceedances, Hosking-Wallis MoM as pinned chains of
    // exact HUGEINT moment lanes.
    q("gpd_pot_fit", (s, d) => EventOps.gpdPotFit(events(s, d)),
      "WITH cv AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT) AS cv FROM events), " +
        "grid AS (SELECT cv.cv, CAST(count(*) AS BIGINT) AS n " +
        "FROM cv GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM grid), " +
        "thr AS (SELECT CAST(min(cv) AS BIGINT) AS u FROM (" +
        "SELECT cv, CAST(sum(n) OVER (ORDER BY cv ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM grid) " +
        "CROSS JOIN tot WHERE cum * 20 >= nt * 19), " +
        "ex AS (SELECT u, CAST(sum(n) AS BIGINT) AS ne, " +
        "CAST(sum(CAST(cv - u AS HUGEINT) * n) AS HUGEINT) AS se, " +
        "CAST(sum(CAST(cv - u AS HUGEINT) * (cv - u) * n) AS HUGEINT) " +
        "AS see FROM grid CROSS JOIN thr WHERE cv > u GROUP BY 1), " +
        "t2 AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events) " +
        "SELECT n_total, round(CAST(u AS DOUBLE) / 100.0, 2) " +
        "AS threshold, ne AS n_exceed, " +
        "CASE WHEN ne >= 2 THEN round(CAST(se AS DOUBLE) / " +
        "CAST(ne AS DOUBLE) / 100.0, 6) END AS mean_excess, " +
        "CASE WHEN ne >= 2 AND CAST(ne AS HUGEINT) * see - se * se > 0 " +
        "THEN round((1.0 - CAST(se * se * (ne - 1) AS DOUBLE) / " +
        "CAST(CAST(ne AS HUGEINT) * (CAST(ne AS HUGEINT) * see - " +
        "se * se) AS DOUBLE)) / 2.0, 6) END AS gpd_shape, " +
        "CASE WHEN ne >= 2 AND CAST(ne AS HUGEINT) * see - se * se > 0 " +
        "THEN round(CAST(se AS DOUBLE) / CAST(ne AS DOUBLE) / 100.0 * " +
        "(1.0 + CAST(se * se * (ne - 1) AS DOUBLE) / " +
        "CAST(CAST(ne AS HUGEINT) * (CAST(ne AS HUGEINT) * see - " +
        "se * se) AS DOUBLE)) / 2.0, 6) END AS gpd_scale " +
        "FROM ex CROSS JOIN t2"),
    // Mirrors EventOps.hodgesLehmannShift: cross of the two halves'
    // integer bin grids weighted c1·c2, weighted lower median —
    // integer comparisons only, no division.
    q("hodges_lehmann_shift", (s, d) => EventOps.hodgesLehmannShift(events(s, d)),
      s"WITH ${halvesCtes("CAST(floor(value) AS BIGINT) AS cv", "cv")}, " +
        "g1 AS (SELECT cv AS v1, CAST(count(*) AS BIGINT) AS c1 " +
        "FROM h WHERE half = 1 GROUP BY 1), " +
        "g2 AS (SELECT cv AS v2, CAST(count(*) AS BIGINT) AS c2 " +
        "FROM h WHERE half = 2 GROUP BY 1), " +
        "diffs AS (SELECT v2 - v1 AS d, " +
        "CAST(sum(CAST(c1 AS HUGEINT) * c2) AS HUGEINT) AS w " +
        "FROM g1 CROSS JOIN g2 GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(w) AS HUGEINT) AS wt FROM diffs), " +
        "cum AS (SELECT d, CAST(sum(w) OVER (ORDER BY d ASC " +
        "ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum, wt " +
        "FROM diffs CROSS JOIN tot) " +
        "SELECT CAST(max(wt) AS DOUBLE) AS n_pairs, " +
        "CAST(min(d) AS DOUBLE) AS hl_shift " +
        "FROM cum WHERE cum * 2 >= wt"),
    // Mirrors EventOps.pageTrendDow: the friedman_dow_test rank chain
    // with L₂ = Σ j·RS2ⱼ and the k=7 no-ties null moments; the z
    // clears the doubled-rank factor as (L₂ − 2E)/(2σ).
    q("page_trend_dow", (s, d) => EventOps.pageTrendDow(events(s, d)),
      s"WITH $dailyCountCte, ${calendarCte("daily", "d")}, " +
        "grid AS (SELECT CAST((datediff('day', DATE '1970-01-01', d.day) " +
        "+ 3) % 7 + 1 AS BIGINT) AS isodow, " +
        "CAST((datediff('day', DATE '1970-01-01', d.day) + 3) // 7 " +
        "AS BIGINT) AS wk, coalesce(daily.cnt, 0) AS y " +
        "FROM d LEFT JOIN daily ON daily.day = d.day), " +
        "complete AS (SELECT wk FROM grid GROUP BY wk " +
        "HAVING count(*) = 7), " +
        "wgrid AS (SELECT g.wk, g.isodow, g.y " +
        "FROM grid g JOIN complete USING (wk)), " +
        "r2 AS (SELECT a.wk, a.isodow, " +
        "CAST(2 * sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) + " +
        "sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1 AS BIGINT) AS r2 " +
        "FROM wgrid a JOIN wgrid b ON a.wk = b.wk GROUP BY 1, 2), " +
        "s AS (SELECT max(b) AS b, CAST(sum(l2p) AS HUGEINT) AS l2 FROM (" +
        "SELECT isodow, CAST(count(*) AS BIGINT) AS b, " +
        "CAST(CAST(isodow AS HUGEINT) * sum(r2) AS HUGEINT) AS l2p " +
        "FROM r2 GROUP BY 1)) " +
        "SELECT b AS n_weeks, " +
        "round(CAST(l2 AS DOUBLE) / 2.0, 1) AS page_l, " +
        "CASE WHEN b > 0 THEN round((CAST(l2 AS DOUBLE) - " +
        "2.0 * 112.0 * CAST(b AS DOUBLE)) / " +
        "(2.0 * sqrt(49.0 * 8.0 * 48.0 / 144.0 * CAST(b AS DOUBLE))), 4) " +
        "END AS z_score FROM s"),
    // Mirrors EventOps.moodsMedianByType: pooled lower median off the
    // exact cents grid, per-type χ² contribution
    // (aᵢN − nᵢA)²/(nᵢA(N−A)) micro-pinned before the k-term sum.
    q("moods_median_by_type", (s, d) => EventOps.moodsMedianByType(events(s, d)),
      "WITH cv AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cv " +
        "FROM events), " +
        "grid AS (SELECT cv.cv, CAST(count(*) AS BIGINT) AS n " +
        "FROM cv GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM grid), " +
        "med AS (SELECT CAST(min(cv) AS BIGINT) AS med FROM (" +
        "SELECT cv, CAST(sum(n) OVER (ORDER BY cv ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM grid) " +
        "CROSS JOIN tot WHERE cum * 2 >= nt), " +
        "per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ni, " +
        "CAST(sum(CASE WHEN cv.cv > med THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS ai FROM cv CROSS JOIN med GROUP BY 1), " +
        "pt AS (SELECT CAST(sum(ni) AS BIGINT) AS nn, " +
        "CAST(sum(ai) AS BIGINT) AS aa FROM per), " +
        "tm AS (SELECT nn, aa, CASE WHEN " +
        "CAST(ni AS HUGEINT) * aa * (nn - aa) > 0 THEN " +
        "CAST(round(CAST(CAST(ai AS HUGEINT) * nn - " +
        "CAST(ni AS HUGEINT) * aa AS DOUBLE) * " +
        "CAST(CAST(ai AS HUGEINT) * nn - CAST(ni AS HUGEINT) * aa " +
        "AS DOUBLE) / CAST(CAST(ni AS HUGEINT) * aa * (nn - aa) " +
        "AS DOUBLE) * 1000000.0, 0) AS BIGINT) END AS tm " +
        "FROM per CROSS JOIN pt) " +
        "SELECT nn AS n_total, " +
        "round(CAST(med AS DOUBLE) / 100.0, 2) AS pooled_median, " +
        "aa AS n_above, CAST(count(*) AS BIGINT) AS n_types, " +
        "CAST(count(*) - 1 AS BIGINT) AS dof, " +
        "CASE WHEN aa > 0 AND aa < nn THEN " +
        "round(CAST(CAST(sum(CAST(tm AS HUGEINT)) AS HUGEINT) " +
        "AS DOUBLE) / 1000000.0, 4) END AS chi2 " +
        "FROM tm CROSS JOIN med GROUP BY nn, aa, med"),
    // Mirrors EventOps.negbinFitByType: exact Sx/Sxx on the
    // zero-filled calendar, MoM estimators as single pinned divisions
    // of HUGEINT lanes; σ² ≤ μ → NULL r (Poisson limit).
    q("negbin_fit_by_type", (s, d) => EventOps.negbinFitByType(events(s, d)),
      s"WITH ${typeDailyCtes("cal", "types")}, " +
        "grid AS (SELECT t.event_type, coalesce(daily.cnt, 0) AS x " +
        "FROM cal CROSS JOIN types t LEFT JOIN daily " +
        "ON daily.day = cal.day AND daily.event_type = t.event_type), " +
        "mm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS sx, " +
        "CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx " +
        "FROM grid GROUP BY 1), " +
        "v AS (SELECT *, CAST(n AS HUGEINT) * sxx - " +
        "CAST(sx AS HUGEINT) * sx AS vn, " +
        "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx - " +
        "CAST(n - 1 AS HUGEINT) * sx AS od FROM mm WHERE n >= 2) " +
        "SELECT event_type, n AS n_days, " +
        "round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily, " +
        "round(CAST(vn AS DOUBLE) / " +
        "CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6) AS var_daily, " +
        "CASE WHEN sx > 0 THEN round(CAST(vn AS DOUBLE) / " +
        "CAST(CAST(sx AS HUGEINT) * (n - 1) AS DOUBLE), 6) END " +
        "AS dispersion_index, " +
        "CASE WHEN od > 0 THEN " +
        "round(CAST(CAST(sx AS HUGEINT) * sx * (n - 1) AS DOUBLE) / " +
        "CAST(CAST(n AS HUGEINT) * od AS DOUBLE), 6) END AS nb_r, " +
        "CASE WHEN vn > 0 THEN " +
        "round(CAST(CAST(sx AS HUGEINT) * (n - 1) AS DOUBLE) / " +
        "CAST(vn AS DOUBLE), 6) END AS nb_p FROM v"),
    // Mirrors EventOps.wilcoxonSignedRankAb: cent-exact per-user
    // spend differences across the midpoint halves, doubled midranks
    // over the |d| grid, HUGEINT cubic moments, one pinned z.
    q("wilcoxon_signed_rank_ab", (s, d) => EventOps.wilcoxonSignedRankAb(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, " +
        "max(epoch_us(ts)) AS hi FROM events), " +
        "pu AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN epoch_us(ts) > CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN CAST(value AS DECIMAL(12,2)) " +
        "ELSE CAST(0 AS DECIMAL(12,2)) END) * 100 AS BIGINT) AS post_c, " +
        "CAST(sum(CASE WHEN epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN CAST(value AS DECIMAL(12,2)) " +
        "ELSE CAST(0 AS DECIMAL(12,2)) END) * 100 AS BIGINT) AS pre_c " +
        "FROM events CROSS JOIN b GROUP BY 1), " +
        "d AS (SELECT post_c - pre_c AS d FROM pu " +
        "WHERE post_c - pre_c <> 0), " +
        "g AS (SELECT abs(d) AS v, CAST(count(*) AS BIGINT) AS c, " +
        "CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos " +
        "FROM d GROUP BY 1), " +
        "cu AS (SELECT v, c, cpos, CAST(coalesce(sum(c) OVER (" +
        "ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
        "0) AS BIGINT) AS cum FROM g), " +
        "s AS (SELECT CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(sum(CAST(cpos AS HUGEINT) * (2 * cum + c + 1)) AS HUGEINT) " +
        "AS w2, " +
        "CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS ties3 " +
        "FROM cu) " +
        "SELECT n AS n_nonzero, CAST(w2 AS BIGINT) AS w_plus_x2, " +
        "CASE WHEN n > 0 THEN round((CAST(w2 AS DOUBLE) - " +
        "CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) / 2.0) / " +
        "sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - ties3 " +
        "AS DOUBLE) / 12.0), 6) END AS z_score, " +
        "coalesce(CASE WHEN n > 0 THEN abs((CAST(w2 AS DOUBLE) - " +
        "CAST(CAST(n AS HUGEINT) * (n + 1) AS DOUBLE) / 2.0) / " +
        "sqrt(CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - ties3 " +
        "AS DOUBLE) / 12.0)) > 1.959964 END, false) AS significant " +
        "FROM s"),
    // Mirrors EventOps.pacfDailyCounts: covariance-form r_k off the
    // n-scaled deviations (pinned index folds), then the
    // Durbin-Levinson recursion as a recursive CTE with LATERAL —
    // every fold ascending, bit-identical trajectories.
    q("pacf_daily_counts", (s, d) => EventOps.pacfDailyCounts(events(s, d)),
      s"WITH RECURSIVE $dailyCountCte, ${calendarCte("daily", "d")}, " +
        "grid AS (SELECT d.day, CAST(coalesce(daily.cnt, 0) AS DOUBLE) " +
        "AS y FROM d LEFT JOIN daily ON daily.day = d.day), " +
        "ser AS (SELECT list(y ORDER BY day) AS ys FROM grid " +
        "HAVING count(*) > 7), " +
        "mo AS (SELECT ys, CAST(len(ys) AS DOUBLE) AS nd, " +
        "list_reduce(ys, (a, b) -> a + b) AS sy FROM ser), " +
        "ds AS (SELECT *, list_reduce(list_transform(range(len(ys)), " +
        "t -> (nd * ys[CAST(t AS INT) + 1] - sy) * " +
        "(nd * ys[CAST(t AS INT) + 1] - sy)), (a, b) -> a + b) AS dsum " +
        "FROM mo), " +
        "rr AS (SELECT ys, list_transform(range(7), k0 -> " +
        "list_reduce(list_transform(range(len(ys) - CAST(k0 AS INT) - 1), " +
        "t -> (nd * ys[CAST(t AS INT) + 1] - sy) * " +
        "(nd * ys[CAST(t AS INT) + 2 + CAST(k0 AS INT)] - sy)), " +
        "(a, b) -> a + b) / dsum) AS r FROM ds WHERE dsum > 0), " +
        "it AS (SELECT 0 AS k, CAST([] AS DOUBLE[]) AS phis, " +
        "CAST([] AS DOUBLE[]) AS pacf FROM rr " +
        "UNION ALL " +
        "SELECT p.k + 1, " +
        "CASE WHEN len(p.phis) = 0 THEN [w.pkk] " +
        "ELSE list_append(list_transform(range(len(p.phis)), j -> " +
        "p.phis[CAST(j AS INT) + 1] - w.pkk * " +
        "p.phis[CAST(p.k AS INT) - CAST(j AS INT)]), w.pkk) END, " +
        "list_append(p.pacf, w.pkk) " +
        "FROM it p, rr, LATERAL (SELECT CASE WHEN q.den = 0.0 THEN 0.0 " +
        "ELSE q.num / q.den END AS pkk FROM (SELECT " +
        "r[CAST(p.k AS INT) + 1] - CASE WHEN len(p.phis) = 0 THEN 0.0 " +
        "ELSE list_reduce(list_transform(range(len(p.phis)), j -> " +
        "p.phis[CAST(j AS INT) + 1] * " +
        "r[CAST(p.k AS INT) - CAST(j AS INT)]), (a, b) -> a + b) END " +
        "AS num, " +
        "1.0 - CASE WHEN len(p.phis) = 0 THEN 0.0 " +
        "ELSE list_reduce(list_transform(range(len(p.phis)), j -> " +
        "p.phis[CAST(j AS INT) + 1] * r[CAST(j AS INT) + 1]), " +
        "(a, b) -> a + b) END AS den) q) w " +
        "WHERE p.k < 7), " +
        "fin AS (SELECT pacf FROM it WHERE k = 7) " +
        "SELECT CAST(lag0 + 1 AS BIGINT) AS lag, " +
        "round(r[CAST(lag0 AS INT) + 1], 6) AS acf_cov, " +
        "round(pacf[CAST(lag0 AS INT) + 1], 6) AS pacf " +
        "FROM fin, rr, (SELECT unnest(range(7)) AS lag0)"),
    // Mirrors EventOps.decisionStumpValue: exact prefix cells over the
    // 2dp value grid, the (pos^2+neg^2)/n objective as an identical
    // pinned double chain, winner by (J DESC, v ASC) LIMIT 1.
    q("decision_stump_value", (s, d) => EventOps.decisionStumpValue(events(s, d)),
      "WITH grid AS (SELECT value AS v, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS np FROM events GROUP BY 1), " +
        "cum AS (SELECT v, " +
        "CAST(sum(n) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cn, " +
        "CAST(sum(np) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cp FROM grid), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, " +
        "CAST(sum(np) AS BIGINT) AS pt FROM grid), " +
        "cand AS (SELECT v, cn, cp, nt, pt, " +
        "CAST(cn AS DOUBLE) AS nl, CAST(cp AS DOUBLE) AS pl, " +
        "CAST(nt - cn AS DOUBLE) AS nr, CAST(pt - cp AS DOUBLE) AS pr " +
        "FROM cum CROSS JOIN t WHERE cn < nt), " +
        "scored AS (SELECT *, " +
        "(pl * pl + (nl - pl) * (nl - pl)) / nl + " +
        "(pr * pr + (nr - pr) * (nr - pr)) / nr AS j " +
        "FROM cand), " +
        "best AS (SELECT * FROM scored ORDER BY j DESC, v ASC LIMIT 1) " +
        "SELECT v AS split_value, cn AS n_left, cp AS pos_left, " +
        "CAST(nt - cn AS BIGINT) AS n_right, " +
        "CAST(pt - cp AS BIGINT) AS pos_right, " +
        "round(pl / nl, 6) AS rate_left, " +
        "round(pr / nr, 6) AS rate_right, " +
        "round(1.0 - (CAST(pt AS DOUBLE) * CAST(pt AS DOUBLE) + " +
        "CAST(nt - pt AS DOUBLE) * CAST(nt - pt AS DOUBLE)) / " +
        "(CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)), 6) AS gini_parent, " +
        "round(1.0 - j / CAST(nt AS DOUBLE), 6) AS gini_children, " +
        "round((1.0 - (CAST(pt AS DOUBLE) * CAST(pt AS DOUBLE) + " +
        "CAST(nt - pt AS DOUBLE) * CAST(nt - pt AS DOUBLE)) / " +
        "(CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))) - " +
        "(1.0 - j / CAST(nt AS DOUBLE)), 6) AS gini_gain " +
        "FROM best"),
    // Mirrors EventOps.kAnonymityProfile: two exact aggregations.
    q("k_anonymity_profile", (s, d) => EventOps.kAnonymityProfile(events(s, d)),
      "WITH c AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS class_size FROM events GROUP BY 1, 2) " +
        "SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes, " +
        "CAST(class_size * count(*) AS BIGINT) AS n_rows, " +
        "class_size < 5 AS below_k FROM c GROUP BY class_size"),
    // Mirrors EventOps.woeValueBins: label = purchase, fixed-width
    // bins, ln of the exact-integer cross product with DOUBLE casts
    // before each multiply, iv_term against the UNROUNDED woe.
    q("woe_value_bins", (s, d) => EventOps.woeValueBins(events(s, d)),
      "WITH b AS (SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg " +
        "FROM events GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos, " +
        "CAST(sum(n_neg) AS BIGINT) AS tot_neg FROM b) " +
        "SELECT bin, n_pos, n_neg, " +
        "round(ln((CAST(n_pos AS DOUBLE) * CAST(tot_neg AS DOUBLE)) / " +
        "(CAST(tot_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))), 6) AS woe, " +
        "round((CAST(n_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) - " +
        "CAST(n_neg AS DOUBLE) / CAST(tot_neg AS DOUBLE)) * " +
        "ln((CAST(n_pos AS DOUBLE) * CAST(tot_neg AS DOUBLE)) / " +
        "(CAST(tot_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))), 6) AS iv_term " +
        "FROM b CROSS JOIN t WHERE n_pos > 0 AND n_neg > 0"),
    // Mirrors EventOps.valueKuiperDrift: exact DECIMAL/HUGEINT
    // cross-multiplied ECDF gaps, both directed maxima off the same
    // grid (the final bin pins 0), V one pinned division.
    q("value_kuiper_drift", (s, d) => EventOps.valueKuiperDrift(events(s, d)),
      "WITH b AS (SELECT CAST(floor(value) AS BIGINT) AS bin, " +
        "epoch_us(ts) AS us FROM events), " +
        "mid AS (SELECT min(us) AS lo, max(us) AS hi FROM b), " +
        "half AS (SELECT bin, " +
        "CASE WHEN us <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 2 END AS half FROM b CROSS JOIN mid), " +
        "counts AS (SELECT bin, " +
        "CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1, " +
        "CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2 " +
        "FROM half GROUP BY 1), " +
        "totals AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2 FROM counts), " +
        "cum AS (SELECT bin, " +
        "CAST(sum(c1) OVER (ORDER BY bin ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1, " +
        "CAST(sum(c2) OVER (ORDER BY bin ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2 " +
        "FROM counts), " +
        "m AS (SELECT n1, n2, " +
        "CAST(max(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1) " +
        "AS HUGEINT) AS gp, " +
        "CAST(max(-(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)) " +
        "AS HUGEINT) AS gm " +
        "FROM cum CROSS JOIN totals GROUP BY n1, n2) " +
        "SELECT n1 AS n_first, n2 AS n_second, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN round(CAST(gp AS DOUBLE) / " +
        "CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6) END AS d_plus, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN round(CAST(gm AS DOUBLE) / " +
        "CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6) END AS d_minus, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN round(CAST(gp + gm AS DOUBLE) / " +
        "CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6) END AS kuiper_v FROM m"),
    // Mirrors EventOps.theilsUTypeDow: each entropy a sum of pinned
    // (n/N)·ln(n/N) terms (chi_square precedent), directions divided
    // by their own margins, zero-entropy margins → NULL.
    q("theils_u_type_dow", (s, d) => EventOps.theilsUTypeDow(events(s, d)),
      "WITH cells AS (SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow, " +
        "CAST(count(*) AS BIGINT) AS nxy FROM events GROUP BY 1, 2), " +
        "tx AS (SELECT event_type, CAST(sum(nxy) AS BIGINT) AS n " +
        "FROM cells GROUP BY 1), " +
        "td AS (SELECT dow, CAST(sum(nxy) AS BIGINT) AS n FROM cells GROUP BY 1), " +
        "nt AS (SELECT CAST(sum(nxy) AS BIGINT) AS nt FROM cells), " +
        "hx AS (SELECT sum(-(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
        "ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))) AS hx " +
        "FROM tx CROSS JOIN nt), " +
        "hy AS (SELECT sum(-(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
        "ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))) AS hy " +
        "FROM td CROSS JOIN nt), " +
        "hxy AS (SELECT sum(-(CAST(nxy AS DOUBLE) / CAST(nt AS DOUBLE)) * " +
        "ln(CAST(nxy AS DOUBLE) / CAST(nt AS DOUBLE))) AS hxy " +
        "FROM cells CROSS JOIN nt) " +
        "SELECT nt AS n_total, round(hx, 6) AS h_type, " +
        "round(hy, 6) AS h_dow, round(hxy, 6) AS h_joint, " +
        "CASE WHEN hx > 0.0 THEN round((hx + hy - hxy) / hx, 6) " +
        "END AS u_type_given_dow, " +
        "CASE WHEN hy > 0.0 THEN round((hx + hy - hxy) / hy, 6) " +
        "END AS u_dow_given_type, " +
        "CASE WHEN hx + hy > 0.0 THEN " +
        "round(2.0 * (hx + hy - hxy) / (hx + hy), 6) END AS u_symmetric " +
        "FROM nt CROSS JOIN hx CROSS JOIN hy CROSS JOIN hxy"),
    // Mirrors EventOps.typePairOddsRatio: exact 2×2 cells off the
    // binary engagement matrix, OR/ln OR/se/φ pinned chains off
    // HUGEINT-exact products; empty cells → NULL (Haldane correction
    // deliberately not applied).
    q("type_pair_odds_ratio", (s, d) => EventOps.typePairOddsRatio(events(s, d)),
      "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_one " +
        "FROM ut GROUP BY 1), " +
        "tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM ut), " +
        "pp AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(count(*) AS BIGINT) AS n11 FROM ut a JOIN ut b " +
        "ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2), " +
        "cells AS (SELECT type_a, type_b, n11, " +
        "ma.n_one - n11 AS n10, mb.n_one - n11 AS n01, " +
        "n_users - ma.n_one - mb.n_one + n11 AS n00, " +
        "ma.n_one AS na, mb.n_one AS nb, n_users " +
        "FROM pp JOIN marg ma ON ma.event_type = type_a " +
        "JOIN marg mb ON mb.event_type = type_b CROSS JOIN tot) " +
        "SELECT type_a, type_b, n11, n10, n01, n00, " +
        "CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0 THEN " +
        "round(CAST(CAST(n11 AS HUGEINT) * n00 AS DOUBLE) / " +
        "CAST(CAST(n10 AS HUGEINT) * n01 AS DOUBLE), 6) END AS odds_ratio, " +
        "CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0 THEN " +
        "round(ln(CAST(CAST(n11 AS HUGEINT) * n00 AS DOUBLE) / " +
        "CAST(CAST(n10 AS HUGEINT) * n01 AS DOUBLE)), 6) END AS log_or, " +
        "CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0 THEN " +
        "round(sqrt(1.0 / CAST(n11 AS DOUBLE) + 1.0 / CAST(n10 AS DOUBLE) + " +
        "1.0 / CAST(n01 AS DOUBLE) + 1.0 / CAST(n00 AS DOUBLE)), 6) " +
        "END AS se_log_or, " +
        "CASE WHEN CAST(na AS HUGEINT) * nb * " +
        "(CAST(n_users AS HUGEINT) - na) * " +
        "(CAST(n_users AS HUGEINT) - nb) > 0 THEN " +
        "round(CAST(CAST(n11 AS HUGEINT) * n00 - " +
        "CAST(n10 AS HUGEINT) * n01 AS DOUBLE) / " +
        "sqrt(CAST(CAST(na AS HUGEINT) * nb * " +
        "(CAST(n_users AS HUGEINT) - na) * " +
        "(CAST(n_users AS HUGEINT) - nb) AS DOUBLE)), 6) END AS phi " +
        "FROM cells"),
    // Mirrors EventOps.circadianEntropyStats: per-user hour histograms
    // exact, the (n·ln n − Σ c·ln c)/n identity with micro-pinned
    // terms, per-user entropy re-pinned, population mean one division.
    q("circadian_entropy_stats", (s, d) => EventOps.circadianEntropyStats(events(s, d)),
      "WITH uh AS (SELECT user_id, hour(ts) AS h, " +
        "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "per AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) " +
        "* 1000000.0, 0) AS BIGINT)) AS BIGINT) AS clogc " +
        "FROM uh GROUP BY 1), " +
        "hm AS (SELECT user_id, CAST(round(CAST(" +
        "CAST(round(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) " +
        "* 1000000.0, 0) AS BIGINT) - clogc AS DOUBLE) / " +
        "CAST(n AS DOUBLE), 0) AS BIGINT) AS hm FROM per) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "round(CAST(CAST(sum(hm) AS BIGINT) AS DOUBLE) / " +
        "(CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_entropy, " +
        "round(CAST(min(hm) AS DOUBLE) / 1000000.0, 6) AS min_entropy, " +
        "round(CAST(max(hm) AS DOUBLE) / 1000000.0, 6) AS max_entropy " +
        "FROM hm"),
    // Mirrors EventOps.circularHourStats: <=24 (hour,count) cells,
    // count*cos/sin terms micro-unit-pinned, pinned R/mean/Rayleigh
    // chains with Wilkie's correction.
    q("circular_hour_stats", (s, d) => EventOps.circularHourStats(events(s, d)),
      "WITH cells AS (SELECT CAST(date_part('hour', ts) AS BIGINT) AS h, " +
        "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1), " +
        "t AS (SELECT c, " +
        "CAST(round(CAST(c AS DOUBLE) * cos(2.0 * 3.141592653589793 * " +
        "CAST(h AS DOUBLE) / 24.0) * 1000000.0, 0) AS BIGINT) AS cm, " +
        "CAST(round(CAST(c AS DOUBLE) * sin(2.0 * 3.141592653589793 * " +
        "CAST(h AS DOUBLE) / 24.0) * 1000000.0, 0) AS BIGINT) AS sm " +
        "FROM cells), " +
        "s AS (SELECT CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(sum(cm) AS BIGINT) AS cm, CAST(sum(sm) AS BIGINT) AS sm " +
        "FROM t), " +
        "e AS (SELECT n, CAST(cm AS DOUBLE) / 1000000.0 AS cs, " +
        "CAST(sm AS DOUBLE) / 1000000.0 AS ss FROM s WHERE n > 0), " +
        "f AS (SELECT n, cs, ss, " +
        "sqrt(cs * cs + ss * ss) / CAST(n AS DOUBLE) AS rbar FROM e), " +
        "z AS (SELECT *, CAST(n AS DOUBLE) * rbar * rbar AS zz FROM f) " +
        "SELECT n AS n_events, round(cs, 6) AS c_sum, " +
        "round(ss, 6) AS s_sum, round(rbar, 6) AS resultant_r, " +
        "round((atan2(ss, cs) / (2.0 * 3.141592653589793) * 24.0 + 24.0) " +
        "% 24.0, 6) AS mean_hour, round(zz, 6) AS rayleigh_z, " +
        "round(exp(-zz) * (1.0 + (2.0 * zz - zz * zz) / " +
        "(4.0 * CAST(n AS DOUBLE))), 6) AS p_value, " +
        "exp(-zz) * (1.0 + (2.0 * zz - zz * zz) / " +
        "(4.0 * CAST(n AS DOUBLE))) < 0.05 AS significant FROM z"),
    // Mirrors EventOps.tClosenessProfile: identical equi-width
    // binning IEEE ops, zero-filled class×bins grid, per-class
    // cumulative BIGINTs cross-multiplied (CumC·N − CumG·n) so the
    // EMD numerator is exact, one double division, flag on the
    // 6dp-rounded EMD.
    q("t_closeness_profile", (s, d) => EventOps.tClosenessProfile(events(s, d)),
      "WITH base AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "value FROM events), " +
        "mm AS (SELECT min(value) AS vmin, max(value) AS vmax FROM base), " +
        "binned AS (SELECT event_type, day, " +
        "CAST(CASE WHEN vmax > vmin THEN " +
        "least(floor((value - vmin) / ((vmax - vmin) / 10.0)), 9) " +
        "ELSE 0 END AS BIGINT) AS bin FROM base CROSS JOIN mm), " +
        "cls AS (SELECT event_type, day, bin, CAST(count(*) AS BIGINT) AS c " +
        "FROM binned GROUP BY 1, 2, 3), " +
        "classes AS (SELECT event_type, day, CAST(sum(c) AS BIGINT) AS n " +
        "FROM cls GROUP BY 1, 2), " +
        "gb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS g FROM cls GROUP BY 1), " +
        "bf AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS bin), " +
        "gf AS (SELECT bf.bin, CAST(coalesce(g, 0) AS BIGINT) AS g " +
        "FROM bf LEFT JOIN gb ON bf.bin = gb.bin), " +
        "nt AS (SELECT CAST(sum(g) AS BIGINT) AS nn FROM gf), " +
        "grid AS (SELECT classes.event_type, classes.day, gf.bin, classes.n, " +
        "gf.g, CAST(coalesce(cls.c, 0) AS BIGINT) AS c " +
        "FROM classes CROSS JOIN gf LEFT JOIN cls " +
        "ON cls.event_type = classes.event_type AND cls.day = classes.day " +
        "AND cls.bin = gf.bin), " +
        "cum AS (SELECT event_type, day, n, " +
        "CAST(sum(c) OVER (PARTITION BY event_type, day ORDER BY bin ASC) AS BIGINT) AS cum_c, " +
        "CAST(sum(g) OVER (PARTITION BY event_type, day ORDER BY bin ASC) AS BIGINT) AS cum_g " +
        "FROM grid), " +
        "agg AS (SELECT event_type, day, n, " +
        "CAST(sum(abs(cum_c * nn - cum_g * n)) AS BIGINT) AS emd_num " +
        "FROM cum CROSS JOIN nt GROUP BY 1, 2, 3), " +
        "fin AS (SELECT event_type, day, n, " +
        "round(CAST(emd_num AS DOUBLE) / " +
        "CAST(n * (SELECT nn FROM nt) * 9 AS DOUBLE), 6) AS emd FROM agg) " +
        "SELECT event_type, day, n, emd, emd > 0.2 AS above_t FROM fin"),
    // Mirrors EventOps.ewmaDailyCounts: α=1/2 EWMA truncated at 30
    // days ⇒ every weight is 2^(29-lag), so the scaled sum is a plain
    // BIGINT and both engines do ONE division by 2^30 at the end —
    // bit-deterministic in any summation order (power(2,·) is exact
    // in fp64, so the weight cast is exact).
    q("ewma_daily_counts", (s, d) => EventOps.ewmaDailyCounts(events(s, d)),
      "WITH daily AS (SELECT event_type, " +
        "CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2) " +
        "SELECT t.event_type, t.day, " +
        "round(CAST(CAST(sum(s.cnt * CAST(power(2, 29 - " +
        "datediff('day', s.day, t.day)) AS BIGINT)) AS BIGINT) AS DOUBLE) " +
        "/ 1073741824.0, 6) AS ewma " +
        "FROM daily t JOIN daily s ON s.event_type = t.event_type " +
        "AND s.day <= t.day AND s.day > t.day - 30 " +
        "GROUP BY 1, 2"),
    // Mirrors EventOps.typeDowMutualInfo: exact BIGINT contingency
    // counts; each ln argument is the cross product (nxy·N)/(nx·ny)
    // with every factor cast to DOUBLE before multiplying; one final
    // rounding absorbs summation-order drift (the unigram_kl
    // convention). dayofweek matches Spark's numbering (dow_anomalies
    // established this).
    q("type_dow_mutual_info", (s, d) => EventOps.typeDowMutualInfo(events(s, d)),
      "WITH cells AS (SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow, " +
        "CAST(count(*) AS BIGINT) AS nxy FROM events GROUP BY 1, 2), " +
        "tx AS (SELECT event_type, CAST(sum(nxy) AS BIGINT) AS nx " +
        "FROM cells GROUP BY 1), " +
        "td AS (SELECT dow, CAST(sum(nxy) AS BIGINT) AS ny " +
        "FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells) " +
        "SELECT CAST(count(DISTINCT c.event_type) AS BIGINT) AS n_types, " +
        "CAST(count(DISTINCT c.dow) AS BIGINT) AS n_dows, " +
        "CAST(count(*) AS BIGINT) AS n_cells, " +
        "round(sum((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "ln((CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)) / " +
        "(CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))), 6) AS mi_nats " +
        "FROM cells c JOIN tx USING (event_type) JOIN td USING (dow) " +
        "CROSS JOIN tot"),
    // Mirrors ProfileOps.benfordFirstDigit: leading digit extracted
    // TEXTUALLY from floor(amount) (exact, engine-identical — no
    // log10 at decade boundaries); share is one pinned integer
    // division; expectation is ln(1+1/d)/ln(10) on identical doubles.    // Mirrors EventOps.lastDigitUniformity: exact 10-cell lanes, the
    // chi-square against uniform collapsed to (10*sum O^2 - n^2)/n —
    // one pinned division; 16.918978 = chi2(9) at 5%.
    q("last_digit_uniformity", (s, d) => EventOps.lastDigitUniformity(events(s, d)),
      "WITH d AS (SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT) % 10 AS digit FROM events WHERE value IS NOT NULL), " +
        "o AS (SELECT digit, CAST(count(*) AS BIGINT) AS o FROM d " +
        "GROUP BY 1), " +
        "m AS (SELECT CAST(sum(o) AS BIGINT) AS n, " +
        "CAST(sum(CAST(o AS HUGEINT) * o) AS HUGEINT) AS oo, " +
        "CAST(count(*) AS BIGINT) AS n_digits, " +
        "CAST(max(o) AS BIGINT) AS max_count FROM o) " +
        "SELECT n AS n_events, n_digits, max_count, " +
        "round(CAST(CAST(10 AS HUGEINT) * oo - CAST(n AS HUGEINT) * n " +
        "AS DOUBLE) / CAST(n AS DOUBLE), 6) AS chi2, " +
        "CAST(CAST(10 AS HUGEINT) * oo - CAST(n AS HUGEINT) * n " +
        "AS DOUBLE) / CAST(n AS DOUBLE) > 16.918978 AS significant " +
        "FROM m WHERE n > 0"),
    // Mirrors EventOps.acfDailyCounts: zero-filled min..max calendar,
    // equi-join on the day+lag key, six exact BIGINT moments per lag,
    // DOUBLE only at the final sqrt/division.
    q("acf_daily_counts", (s, d) => EventOps.acfDailyCounts(events(s, d)),
      s"WITH $dailyCountCte, ${calendarCte("daily", "cal")}, " +
        "grid AS (SELECT cal.day, coalesce(daily.cnt, 0) AS cnt " +
        "FROM cal LEFT JOIN daily ON daily.day = cal.day), " +
        "lags AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS lag), " +
        "m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(a.cnt) AS BIGINT) AS sx, " +
        "CAST(sum(b.cnt) AS BIGINT) AS sy, " +
        "CAST(sum(a.cnt * b.cnt) AS BIGINT) AS sxy, " +
        "CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx, " +
        "CAST(sum(b.cnt * b.cnt) AS BIGINT) AS syy " +
        "FROM grid a CROSS JOIN lags " +
        "JOIN grid b ON b.day = a.day + lag GROUP BY 1) " +
        "SELECT lag, n AS n_pairs, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
        "CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf " +
        "FROM m WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"),
    // Mirrors EventOps.periodogramDaily: per-term micro-pinned
    // cos/sin sums (the one libm call per term), C²+S² in HUGEINT,
    // one pinned division by n·10¹²; the 2π/p factor uses the same
    // mult-then-divide op order as the Scala literal.
    q("periodogram_daily", (s, d) => EventOps.periodogramDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "pf AS (SELECT period, 2 * pi() / period AS w FROM " +
        "(SELECT CAST(unnest([7, 14, 30]) AS BIGINT) AS period)), " +
        "terms AS (SELECT period, " +
        "CAST(round(CAST(cnt AS DOUBLE) * cos(CAST(t AS DOUBLE) * w) " +
        "* 1000000.0) AS BIGINT) AS cm, " +
        "CAST(round(CAST(cnt AS DOUBLE) * sin(CAST(t AS DOUBLE) * w) " +
        "* 1000000.0) AS BIGINT) AS sm " +
        "FROM grid CROSS JOIN pf), " +
        "m AS (SELECT period, CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(sum(cm) AS BIGINT) AS c, CAST(sum(sm) AS BIGINT) AS s " +
        "FROM terms GROUP BY 1) " +
        "SELECT period, n_days, " +
        "round(CAST(CAST(c AS HUGEINT) * c + CAST(s AS HUGEINT) * s " +
        "AS DOUBLE) / (CAST(n_days AS DOUBLE) * 1.0e12), 4) AS power " +
        "FROM m"),
    // Mirrors EventOps.spectralEntropyDaily: the periodogram chain on
    // the 2..15 period grid, powers re-pinned to HUGEINT 1e4 lanes,
    // −s·ln s terms micro-pinned BEFORE the cross-period sum.
    q("spectral_entropy_daily", (s, d) => EventOps.spectralEntropyDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "pf AS (SELECT period, 2 * pi() / period AS w FROM " +
        "(SELECT CAST(unnest(range(2, 16)) AS BIGINT) AS period)), " +
        "terms AS (SELECT period, " +
        "CAST(round(CAST(cnt AS DOUBLE) * cos(CAST(t AS DOUBLE) * w) " +
        "* 1000000.0) AS BIGINT) AS cm, " +
        "CAST(round(CAST(cnt AS DOUBLE) * sin(CAST(t AS DOUBLE) * w) " +
        "* 1000000.0) AS BIGINT) AS sm " +
        "FROM grid CROSS JOIN pf), " +
        "m AS (SELECT period, CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(sum(cm) AS BIGINT) AS c, CAST(sum(sm) AS BIGINT) AS s " +
        "FROM terms GROUP BY 1), " +
        "pwr AS (SELECT period, n_days, " +
        "CAST(round(round(CAST(CAST(c AS HUGEINT) * c + " +
        "CAST(s AS HUGEINT) * s AS DOUBLE) / " +
        "(CAST(n_days AS DOUBLE) * 1.0e12), 4) * 10000.0) AS HUGEINT) " +
        "AS pm FROM m), " +
        "tot AS (SELECT CAST(sum(pm) AS HUGEINT) AS ptot, " +
        "CAST(max(n_days) AS BIGINT) AS nd, " +
        "CAST(count(*) AS BIGINT) AS n_freqs FROM pwr), " +
        "hs AS (SELECT ptot, n_freqs, nd, CASE WHEN pm > 0 AND ptot > 0 " +
        "THEN CAST(round(-(CAST(pm AS DOUBLE) / CAST(ptot AS DOUBLE)) * " +
        "ln(CAST(pm AS DOUBLE) / CAST(ptot AS DOUBLE)) * 1000000.0) " +
        "AS BIGINT) ELSE 0 END AS hm FROM pwr, tot) " +
        "SELECT n_freqs, nd AS n_days, " +
        "CASE WHEN ptot > 0 THEN " +
        "round(CAST(CAST(sum(hm) AS BIGINT) AS DOUBLE) / 1000000.0, 4) " +
        "END AS spectral_entropy, " +
        "CASE WHEN ptot > 0 THEN " +
        "round(CAST(CAST(sum(hm) AS BIGINT) AS DOUBLE) / 1000000.0 / " +
        "ln(CAST(n_freqs AS DOUBLE)), 4) END AS spectral_entropy_norm " +
        "FROM hs GROUP BY ptot, n_freqs, nd"),
    // Mirrors EventOps.permutationEntropyDaily: stable ordinal ranks
    // as integer comparison chains (9r0+3r1+r2 pattern codes), each
    // -p·ln p term micro-unit-pinned before the ≤6-term sum, ln 6
    // normalizer.
    q("permutation_entropy_daily", (s, d) => EventOps.permutationEntropyDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "tri AS (SELECT t, cnt AS x0, " +
        "lead(cnt, 1) OVER (ORDER BY t ASC) AS x1, " +
        "lead(cnt, 2) OVER (ORDER BY t ASC) AS x2 FROM grid), " +
        "tf AS (SELECT * FROM tri WHERE x2 IS NOT NULL), " +
        "pc AS (SELECT CAST((CASE WHEN x1 < x0 THEN 1 ELSE 0 END + " +
        "CASE WHEN x2 < x0 THEN 1 ELSE 0 END) * 9 + " +
        "(CASE WHEN x0 <= x1 THEN 1 ELSE 0 END + " +
        "CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 3 + " +
        "(CASE WHEN x0 <= x2 THEN 1 ELSE 0 END + " +
        "CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS BIGINT) AS pattern, " +
        "CAST(count(*) AS BIGINT) AS c FROM tf GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) AS n_patterns FROM pc), " +
        "hs AS (SELECT n, n_patterns, " +
        "CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0, 0) " +
        "AS BIGINT) AS hm FROM pc CROSS JOIN tot) " +
        "SELECT n AS n_triples, n_patterns, " +
        "round(CAST(CAST(sum(hm) AS BIGINT) AS DOUBLE) / 1000000.0, 4) " +
        "AS perm_entropy, " +
        "round(CAST(CAST(sum(hm) AS BIGINT) AS DOUBLE) / 1000000.0 / " +
        "ln(6.0), 4) AS perm_entropy_norm " +
        "FROM hs GROUP BY n, n_patterns"),
    // Mirrors EventOps.sampleEntropyDaily: exact population-sigma
    // lanes, the SAME double r both rails, integer Chebyshev template
    // distances vs r, exact A/B counts, one -ln(A/B) 6dp.
    q("sample_entropy_daily", (s, d) => EventOps.sampleEntropyDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "mom AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cnt) AS BIGINT) AS sx, " +
        "CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS sxx " +
        "FROM grid), " +
        "sig AS (SELECT n, " +
        "sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx " +
        "AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)) AS sigma " +
        "FROM mom), " +
        "sg AS (SELECT n, sigma, 0.2 * sigma AS r FROM sig), " +
        "tpl AS (SELECT t, cnt AS x0, " +
        "lead(cnt, 1) OVER (ORDER BY t ASC) AS x1, " +
        "lead(cnt, 2) OVER (ORDER BY t ASC) AS x2 FROM grid), " +
        "tf AS (SELECT * FROM tpl WHERE x2 IS NOT NULL), " +
        "p AS (SELECT n, sigma, r, " +
        "CAST(greatest(abs(i.x0 - j.x0), abs(i.x1 - j.x1)) AS DOUBLE) AS d2, " +
        "CAST(greatest(abs(i.x0 - j.x0), abs(i.x1 - j.x1), " +
        "abs(i.x2 - j.x2)) AS DOUBLE) AS d3 " +
        "FROM tf i JOIN tf j ON i.t < j.t CROSS JOIN sg), " +
        "c AS (SELECT n, sigma, r, " +
        "CAST(sum(CASE WHEN d2 <= r THEN 1 ELSE 0 END) AS BIGINT) AS b, " +
        "CAST(sum(CASE WHEN d3 <= r THEN 1 ELSE 0 END) AS BIGINT) AS a " +
        "FROM p GROUP BY 1, 2, 3) " +
        "SELECT n AS n_days, round(sigma, 6) AS sigma, " +
        "round(r, 6) AS r_thresh, b AS b_count, a AS a_count, " +
        "CASE WHEN a > 0 AND b > 0 THEN " +
        "round(-ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)) + 0.0, 6) END " +
        "AS sampen FROM c"),
    // Mirrors EventOps.turningPointsDaily: exact interior-extremum
    // count off the day-sorted array, N(2(n−2)/3, (16n−29)/90) z.
    q("turning_points_daily", (s, d) => EventOps.turningPointsDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "s AS (SELECT list(cnt ORDER BY day) AS ys FROM grid), " +
        "v AS (SELECT len(ys) AS n, CAST(len(list_filter(" +
        "list_transform(range(2, len(ys)), t -> " +
        "(ys[t] - ys[t-1]) * (ys[t+1] - ys[t])), p -> p < 0)) " +
        "AS BIGINT) AS tp FROM s WHERE len(ys) >= 3) " +
        "SELECT CAST(n AS BIGINT) AS n_days, tp AS n_turning, " +
        "round(2.0 * (n - 2.0) / 3.0, 6) AS expected_turning, " +
        "round((CAST(tp AS DOUBLE) - 2.0 * (n - 2.0) / 3.0) / " +
        "sqrt((16.0 * n - 29.0) / 90.0), 4) AS z_score FROM v"),
    // Mirrors EventOps.bartelsRankDaily: doubled average ranks
    // 2L+E+1 exact BIGINT, both quadratic forms exact, RVN one
    // pinned division, the exact-n variance under the z.
    q("bartels_rank_daily", (s, d) => EventOps.bartelsRankDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "s AS (SELECT list(cnt ORDER BY day) AS ys FROM grid), " +
        "r AS (SELECT len(ys) AS n, list_transform(range(1, len(ys) + 1), " +
        "t -> 2 * len(list_filter(ys, v -> v < ys[t])) + " +
        "len(list_filter(ys, v -> v = ys[t])) + 1) AS r2 " +
        "FROM s WHERE len(ys) >= 4), " +
        "q AS (SELECT n, CAST(list_sum(list_transform(range(1, n), " +
        "t -> (r2[t] - r2[t+1]) * (r2[t] - r2[t+1]))) AS BIGINT) AS nm, " +
        "CAST(list_sum(list_transform(range(1, n + 1), " +
        "t -> (r2[t] - (n + 1)) * (r2[t] - (n + 1)))) AS BIGINT) AS d " +
        "FROM r) " +
        "SELECT CAST(n AS BIGINT) AS n_days, " +
        "CASE WHEN d > 0 THEN round(CAST(nm AS DOUBLE) / " +
        "CAST(d AS DOUBLE), 6) END AS rvn, " +
        "CASE WHEN d > 0 THEN round((CAST(nm AS DOUBLE) / " +
        "CAST(d AS DOUBLE) - 2.0) / sqrt(4.0 * (n - 2.0) * " +
        "(5.0 * n * n - 2.0 * n - 9.0) / (5.0 * n * (n + 1.0) * " +
        "(n - 1.0) * (n - 1.0))), 4) END AS z_score FROM q"),
    // Mirrors EventOps.coxStuartDaily: first-half vs second-half sign
    // counts off the one array row, binomial z, ties dropped.
    q("cox_stuart_daily", (s, d) => EventOps.coxStuartDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "s AS (SELECT list(cnt ORDER BY day) AS ys FROM grid), " +
        "v AS (SELECT len(ys) AS n, CAST((len(ys) + 1) // 2 AS INT) AS c, " +
        "ys FROM s WHERE len(ys) >= 2), " +
        "d AS (SELECT n, CAST(len(list_filter(list_transform(" +
        "range(1, n - c + 1), t -> ys[t + c] - ys[t]), x -> x > 0)) " +
        "AS BIGINT) AS pos, CAST(len(list_filter(list_transform(" +
        "range(1, n - c + 1), t -> ys[t + c] - ys[t]), x -> x < 0)) " +
        "AS BIGINT) AS neg FROM v) " +
        "SELECT CAST(n AS BIGINT) AS n_days, pos AS n_up, neg AS n_down, " +
        "CASE WHEN pos + neg > 0 THEN round(CAST(pos - neg AS DOUBLE) / " +
        "sqrt(CAST(pos + neg AS DOUBLE)), 4) END AS z_score FROM d"),
    // Mirrors EventOps.maxDrawdownDaily: exact DECIMAL daily revenue,
    // running-max-minus-cumulative in DECIMAL, first day at the max.
    q("max_drawdown_daily", (s, d) => EventOps.maxDrawdownDaily(orders(s, d)),
      "WITH daily AS (SELECT CAST(date_trunc('day', o_orderdate) " +
        "AS DATE) AS day, sum(CAST(o_totalprice AS DECIMAL(12,2))) " +
        "AS rev FROM orders GROUP BY 1), " +
        "c AS (SELECT day, sum(CAST(rev AS DECIMAL(22,2))) OVER (" +
        "ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum FROM daily), " +
        "m AS (SELECT day, max(cum) OVER (ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) - cum AS drawdown FROM c) " +
        "SELECT day AS trough_day, round(CAST(drawdown AS DOUBLE), 2) " +
        "AS max_drawdown FROM m ORDER BY drawdown DESC, day ASC LIMIT 1"),
    // Mirrors EventOps.ccfVolumeUsersDaily: the acf_daily_counts
    // moment discipline with volume as x and distinct users as y,
    // lags −7..7 on the zero-filled calendar.
    q("ccf_volume_users_daily", (s, d) => EventOps.ccfVolumeUsersDaily(events(s, d)),
      "WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS du " +
        "FROM events GROUP BY 1), " +
        s"${calendarCte("daily", "cal")}, " +
        "grid AS (SELECT cal.day, coalesce(daily.cnt, 0) AS cnt, " +
        "coalesce(daily.du, 0) AS du " +
        "FROM cal LEFT JOIN daily ON daily.day = cal.day), " +
        "lags AS (SELECT CAST(unnest(range(-7, 8)) AS INT) AS lag), " +
        "m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(a.cnt) AS BIGINT) AS sx, " +
        "CAST(sum(b.du) AS BIGINT) AS sy, " +
        "CAST(sum(a.cnt * b.du) AS BIGINT) AS sxy, " +
        "CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx, " +
        "CAST(sum(b.du * b.du) AS BIGINT) AS syy " +
        "FROM grid a CROSS JOIN lags " +
        "JOIN grid b ON b.day = a.day + lag GROUP BY 1) " +
        "SELECT lag, n AS n_pairs, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
        "CAST(n * syy - sy * sy AS DOUBLE)), 6) AS ccf " +
        "FROM m WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"),
    // Mirrors EventOps.haarEnergyDaily: lmax by integer comparison
    // (never floor(log2) — ulp-unsafe at exact powers of two), dyadic
    // block sums and diff² energies exact, one pinned division per
    // share.
    q("haar_energy_daily", (s, d) => EventOps.haarEnergyDaily(events(s, d)),
      s"WITH $dailyGridCte, " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM grid), " +
        "span AS (SELECT CAST(len(list_filter(range(1, 7), " +
        "l -> CAST(pow(2.0, l) AS BIGINT) <= n)) AS INT) AS lmax FROM n), " +
        "w AS (SELECT t, cnt, lmax FROM grid, span " +
        "WHERE t < CAST(pow(2.0, lmax) AS BIGINT)), " +
        "lv AS (SELECT CAST(unnest(range(1, 7)) AS INT) AS l), " +
        "blocks AS (SELECT l, CAST(t // (1 << l) AS BIGINT) AS block, " +
        "CAST(sum(CASE WHEN t % (1 << l) < (1 << (l - 1)) " +
        "THEN cnt ELSE -cnt END) AS BIGINT) AS diff " +
        "FROM w CROSS JOIN lv WHERE l <= lmax GROUP BY 1, 2), " +
        "lev AS (SELECT l, CAST(count(*) AS BIGINT) AS n_blocks, " +
        "CAST(sum(CAST(diff AS HUGEINT) * diff) AS HUGEINT) AS energy " +
        "FROM blocks GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(energy) AS HUGEINT) AS etot FROM lev) " +
        "SELECT CAST(l AS BIGINT) AS level, n_blocks, " +
        "CAST(energy AS DOUBLE) AS energy, " +
        "CASE WHEN etot > 0 THEN round(CAST(energy AS DOUBLE) / " +
        "CAST(etot AS DOUBLE), 6) END AS energy_share FROM lev, tot"),
    // (windowed cumsum over the tiny duration frame), ln factors on
    // identical doubles summed then rounded ONCE before exp.
    q("km_survival_horizons", (s, d) => EventOps.kmSurvivalHorizons(events(s, d)),
      s"WITH $atRiskCtes, " +
        "h AS (SELECT CAST(unnest([1, 7, 14, 30]) AS INT) AS horizon), " +
        "curve AS (SELECT horizon, CAST(sum(d) AS BIGINT) AS n_churned, " +
        "round(exp(round(sum(ln((CAST(n AS DOUBLE) - CAST(d AS DOUBLE)) / " +
        "CAST(n AS DOUBLE))), 6)), 6) AS survival " +
        "FROM ar CROSS JOIN h WHERE d > 0 AND t <= horizon GROUP BY 1) " +
        "SELECT h.horizon, coalesce(c.n_churned, 0) AS n_churned, " +
        "coalesce(c.survival, 1.0) AS survival " +
        "FROM h LEFT JOIN curve c USING (horizon)"),
    // Mirrors EventOps.kmGreenwoodCi: the km risk-set chain with
    // ORDER-EXACT lanes — each ln term 10dp-pinned into DECIMAL, each
    // Greenwood d/(n(n-d)) term 1e-12 micro-pinned; absorbing
    // horizons S = 0 with NULL CI.
    q("km_greenwood_ci", (s, d) => EventOps.kmGreenwoodCi(events(s, d)),
      s"WITH $atRiskCtes, " +
        "h AS (SELECT CAST(unnest([1, 7, 14, 30]) AS INT) AS horizon), " +
        "curve AS (SELECT horizon, CAST(sum(d) AS BIGINT) AS n_churned, " +
        "sum(CASE WHEN n > d THEN CAST(round(ln((CAST(n AS DOUBLE) - " +
        "CAST(d AS DOUBLE)) / CAST(n AS DOUBLE)), 10) AS DECIMAL(38,10)) " +
        "END) AS lns, " +
        "CAST(sum(CASE WHEN n > d THEN CAST(round(CAST(d AS DOUBLE) / " +
        "(CAST(n AS DOUBLE) * CAST(n - d AS DOUBLE)) * 1000000000000.0, " +
        "0) AS BIGINT) END) AS BIGINT) AS gwm, " +
        "CAST(sum(CASE WHEN n = d THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_absorb " +
        "FROM ar CROSS JOIN h WHERE d > 0 AND t <= horizon GROUP BY 1), " +
        "e AS (SELECT horizon, n_churned, n_absorb, " +
        "exp(CAST(lns AS DOUBLE)) AS s, " +
        "exp(CAST(lns AS DOUBLE)) * " +
        "sqrt(CAST(gwm AS DOUBLE) / 1000000000000.0) AS se " +
        "FROM curve) " +
        "SELECT h.horizon, coalesce(e.n_churned, 0) AS n_churned, " +
        "coalesce(CASE WHEN e.n_absorb > 0 THEN 0.0 " +
        "ELSE round(e.s, 6) END, 1.0) AS survival, " +
        "CASE WHEN e.n_churned IS NOT NULL AND e.n_absorb = 0 THEN " +
        "round(e.se, 6) END AS se, " +
        "CASE WHEN e.n_churned IS NOT NULL AND e.n_absorb = 0 THEN " +
        "round(greatest(e.s - 1.959964 * e.se, 0.0), 6) END AS ci_lo, " +
        "CASE WHEN e.n_churned IS NOT NULL AND e.n_absorb = 0 THEN " +
        "round(least(e.s + 1.959964 * e.se, 1.0), 6) END AS ci_hi " +
        "FROM h LEFT JOIN e USING (horizon)"),
    // Mirrors EventOps.rmstHorizons: the km CTE chain, per-step S via
    // the identical exp(round(cum-ln, 6), 6), lead() for segment
    // widths, each S·width micro-pinned 6dp into DECIMAL(38,6) before
    // the per-horizon sum, the initial [0, t1) strip exact.
    q("rmst_horizons", (s, d) => EventOps.rmstHorizons(events(s, d)),
      s"WITH $atRiskCtes, " +
        "ev AS (SELECT t, round(exp(round(sum(ln((CAST(n AS DOUBLE) - " +
        "CAST(d AS DOUBLE)) / CAST(n AS DOUBLE))) OVER (ORDER BY t ASC " +
        "ROWS UNBOUNDED PRECEDING), 6)), 6) AS s, " +
        "lead(t) OVER (ORDER BY t ASC) AS nt FROM ar WHERE d > 0), " +
        "h AS (SELECT CAST(unnest([7, 14, 30]) AS BIGINT) AS horizon), " +
        "segs AS (SELECT horizon, " +
        "sum(CAST(round(s * CAST(least(coalesce(nt, horizon), horizon) " +
        "- t AS DOUBLE), 6) AS DECIMAL(38,6))) AS tail_area, " +
        "CAST(count(*) AS BIGINT) AS n_steps " +
        "FROM ev CROSS JOIN h WHERE t < horizon GROUP BY 1), " +
        "tm AS (SELECT min(t) AS t1 FROM ev) " +
        "SELECT h.horizon, coalesce(segs.n_steps, 0) AS n_km_steps, " +
        "round(CAST(CAST(least(coalesce(tm.t1, h.horizon), h.horizon) " +
        "AS DECIMAL(38,6)) + coalesce(segs.tail_area, " +
        "CAST(0 AS DECIMAL(38,6))) AS DOUBLE), 6) AS rmst_days " +
        "FROM h CROSS JOIN tm LEFT JOIN segs ON segs.horizon = h.horizon"),
    // Mirrors EventOps.ebShrunkUserMeans: exact HUGEINT cents lanes,
    // 4dp-micro-pinned within/between terms, then the identical
    // per-user IEEE chain (DL tau^2, B_i, posterior mean) — every
    // division inside a CASE guard, matching the Spark `when` arms.
    q("eb_shrunk_user_means", (s, d) => EventOps.ebShrunkUserMeans(events(s, d)),
      "WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(cc AS HUGEINT)) AS HUGEINT) AS sc, " +
        "CAST(sum(CAST(cc AS HUGEINT) * cc) AS HUGEINT) AS sc2 " +
        "FROM (SELECT user_id, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cc " +
        "FROM events WHERE value IS NOT NULL) GROUP BY 1), " +
        "g AS (SELECT CAST(sum(n) AS BIGINT) AS nn, " +
        "CAST(count(*) AS BIGINT) AS u, " +
        "CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sn2, " +
        "CAST(sum(sc) AS HUGEINT) AS s, " +
        "sum(CAST(round(CAST(sc2 AS DOUBLE) - " +
        "CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), " +
        "4) AS DECIMAL(38,4))) AS wss FROM pu), " +
        "g2 AS (SELECT nn, u, sn2, " +
        "CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) AS m, " +
        "CASE WHEN nn > u THEN CAST(wss AS DOUBLE) / " +
        "CAST(nn - u AS DOUBLE) ELSE 0.0 END AS s2w FROM g), " +
        "qs AS (SELECT sum(CAST(round((CAST(sc AS DOUBLE) / " +
        "CAST(n AS DOUBLE) - m) * (CAST(sc AS DOUBLE) / " +
        "CAST(n AS DOUBLE) - m) * CAST(n AS DOUBLE), 4) " +
        "AS DECIMAL(38,4))) AS qs FROM pu CROSS JOIN g2), " +
        "gg AS (SELECT m, s2w, CASE WHEN u >= 2 AND " +
        "CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE) " +
        "> 0.0 THEN greatest(0.0, (CAST(qs AS DOUBLE) - " +
        "CAST(u - 1 AS DOUBLE) * s2w) / (CAST(nn AS DOUBLE) - " +
        "CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE))) ELSE 0.0 END AS t2 " +
        "FROM g2 CROSS JOIN qs) " +
        "SELECT user_id, n, " +
        "CAST((2 * CAST(sc AS BIGINT) * 100 + n) // (2 * n) AS DOUBLE) " +
        "/ 10000.0 AS mean_value, " +
        "round((CASE WHEN s2w / CAST(n AS DOUBLE) + t2 > 0.0 THEN " +
        "s2w / CAST(n AS DOUBLE) / (s2w / CAST(n AS DOUBLE) + t2) " +
        "ELSE 0.0 END * m + (1.0 - CASE WHEN s2w / CAST(n AS DOUBLE) " +
        "+ t2 > 0.0 THEN s2w / CAST(n AS DOUBLE) / (s2w / " +
        "CAST(n AS DOUBLE) + t2) ELSE 0.0 END) * (CAST(sc AS DOUBLE) / " +
        "CAST(n AS DOUBLE))) / 100.0, 4) AS shrunk_mean, " +
        "round(CASE WHEN s2w / CAST(n AS DOUBLE) + t2 > 0.0 THEN " +
        "s2w / CAST(n AS DOUBLE) / (s2w / CAST(n AS DOUBLE) + t2) " +
        "ELSE 0.0 END, 6) AS shrink_b " +
        "FROM pu CROSS JOIN gg"),
    // Mirrors EventOps.shapleyAttribution: lifetime channel bitmasks,
    // v(S) by subset containment over the ≤2^k coalition frame,
    // all-integer k!·phi lanes (counts × factorials), one final
    // division by k!.
    q("shapley_attribution", (s, d) => EventOps.shapleyAttribution(events(s, d)),
      "WITH ch AS (SELECT DISTINCT event_type AS channel FROM events " +
        "WHERE event_type <> 'purchase'), " +
        "chi AS (SELECT a.channel, CAST((SELECT count(*) FROM ch b " +
        "WHERE b.channel < a.channel) AS BIGINT) AS idx FROM ch a), " +
        "kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ch), " +
        "um AS (SELECT user_id, CAST(sum(1 << idx) AS BIGINT) AS mask " +
        "FROM (SELECT DISTINCT user_id, event_type FROM events " +
        "WHERE event_type <> 'purchase') ue " +
        "JOIN chi ON chi.channel = ue.event_type GROUP BY 1), " +
        "cv AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_conv " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        "w AS (SELECT coalesce(um.mask, 0) AS t, " +
        "CAST(sum(cv.n_conv) AS BIGINT) AS w FROM cv " +
        "LEFT JOIN um USING (user_id) GROUP BY 1), " +
        "coal AS (SELECT CAST(unnest(range((SELECT 1 << k FROM kk))) " +
        "AS BIGINT) AS s), " +
        "v AS (SELECT s, CAST(coalesce(sum(w.w), 0) AS BIGINT) AS v " +
        "FROM coal LEFT JOIN w ON (w.t & coal.s) = w.t GROUP BY 1), " +
        "terms AS (SELECT chi.channel, kk.k, " +
        "CAST(factorial(bit_count(a.s)) AS BIGINT) * " +
        "CAST(factorial(CAST(kk.k - 1 - bit_count(a.s) AS INT)) " +
        "AS BIGINT) * (b.v - a.v) AS term " +
        "FROM chi CROSS JOIN kk " +
        "JOIN v a ON (a.s & (1 << chi.idx)) = 0 " +
        "JOIN v b ON b.s = a.s + (1 << chi.idx)) " +
        "SELECT channel, round(CAST(CAST(sum(term) AS BIGINT) " +
        "AS DOUBLE) / CAST(CAST(factorial(CAST(max(k) AS INT)) " +
        "AS BIGINT) AS DOUBLE), 6) AS shapley_conversions " +
        "FROM terms GROUP BY channel"),
    // Mirrors EventOps.zipFitPurchases: exact integer moments, every
    // estimator a single half-up integer-unit division (the avgSql
    // `//` convention), NULL-fit guards mirrored as CASE arms.
    q("zip_fit_purchases", (s, d) => EventOps.zipFitPurchases(events(s, d)),
      "WITH c AS (SELECT CAST(sum(CASE WHEN event_type = 'purchase' " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS c FROM events GROUP BY user_id), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z, " +
        "CAST(sum(c) AS BIGINT) AS s1, " +
        "CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS s2 FROM c) " +
        "SELECT n AS n_users, z AS n_zero, " +
        "CAST((2 * z * 1000000 + n) // (2 * n) AS DOUBLE) / 1e6 " +
        "AS zero_share, " +
        "CAST((2 * s1 * 1000000 + n) // (2 * n) AS DOUBLE) / 1e6 " +
        "AS mean_count, " +
        "CAST((2 * (n * s2 - s1 * s1) * 1000000 + n * n) // " +
        "(2 * n * n) AS DOUBLE) / 1e6 AS var_count, " +
        "CASE WHEN s1 > 0 AND s2 > s1 THEN " +
        "CAST((2 * (s2 - s1) * 1000000 + s1) // (2 * s1) AS DOUBLE) " +
        "/ 1e6 END AS lambda_hat, " +
        "CASE WHEN s1 > 0 AND s2 > s1 AND " +
        "n * (s2 - s1) - s1 * s1 >= 0 THEN " +
        "CAST((2 * (n * (s2 - s1) - s1 * s1) * 1000000 + " +
        "n * (s2 - s1)) // (2 * n * (s2 - s1)) AS DOUBLE) / 1e6 END " +
        "AS pi_hat, " +
        "(s1 > 0 AND s2 > s1 AND n * (s2 - s1) - s1 * s1 >= 0) " +
        "AS zip_consistent FROM m"),
    // Mirrors EventOps.amsF2Audit: md5-hex-digit signs (identical
    // digests both engines), exact BIGINT tug-of-war sums, one
    // half-up mean division, the measured rel_err pinned.
    q("ams_f2_audit", (s, d) => EventOps.amsF2Audit(events(s, d)),
      "WITH f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS fu " +
        "FROM events GROUP BY 1), " +
        "ex AS (SELECT CAST(sum(CAST(fu AS HUGEINT) * fu) AS BIGINT) " +
        "AS f2 FROM f), " +
        "y AS (SELECT r, CAST(sum(CASE WHEN " +
        "substring(md5(CAST(user_id AS VARCHAR)), r + 1, 1) >= '8' " +
        "THEN fu ELSE -fu END) AS BIGINT) AS y " +
        "FROM f CROSS JOIN (SELECT CAST(unnest(range(0, 16)) AS INT) " +
        "AS r) GROUP BY 1), " +
        "e AS (SELECT CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) " +
        "AS se, CAST(count(*) AS BIGINT) AS k FROM y) " +
        "SELECT f2 AS exact_f2, k AS n_estimators, " +
        "CAST((2 * se * 10000 + k) // (2 * k) AS DOUBLE) / 1e4 " +
        "AS ams_mean_est, " +
        "round(abs(CAST(se AS DOUBLE) / CAST(k AS DOUBLE) - " +
        "CAST(f2 AS DOUBLE)) / CAST(f2 AS DOUBLE), 6) AS rel_err " +
        "FROM e CROSS JOIN ex"),
    // Mirrors EventOps.typeAssocRules: distinct-user baskets, exact
    // BIGINT pair/margin counts, three pinned divisions (lift's cross
    // product casts each factor to DOUBLE before multiplying).
    q("type_assoc_rules", (s, d) => EventOps.typeAssocRules(events(s, d)),
      "WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_one " +
        "FROM ut GROUP BY 1), " +
        "tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM ut), " +
        "p AS (SELECT a.event_type AS antecedent, " +
        "b.event_type AS consequent, CAST(count(*) AS BIGINT) AS n_both " +
        "FROM ut a JOIN ut b ON a.user_id = b.user_id " +
        "AND a.event_type <> b.event_type GROUP BY 1, 2) " +
        "SELECT antecedent, consequent, n_both, " +
        "round(CAST(n_both AS DOUBLE) / CAST(n_users AS DOUBLE), 6) " +
        "AS support, " +
        "round(CAST(n_both AS DOUBLE) / CAST(ma.n_one AS DOUBLE), 6) " +
        "AS confidence, " +
        "round((CAST(n_both AS DOUBLE) * CAST(n_users AS DOUBLE)) / " +
        "(CAST(ma.n_one AS DOUBLE) * CAST(mc.n_one AS DOUBLE)), 6) AS lift " +
        "FROM p JOIN m ma ON ma.event_type = p.antecedent " +
        "JOIN m mc ON mc.event_type = p.consequent CROSS JOIN tot"),
    // Mirrors EventOps.growthAccounting: per-user lag over the
    // distinct (user, day) frame, exact BIGINT counts, churn from the
    // reconciliation identity churned(d) = active(d-1) - retained(d).
    q("growth_accounting", (s, d) => EventOps.growthAccounting(events(s, d)),
      "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day " +
        "FROM events), " +
        "c AS (SELECT day, " +
        "CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS is_new, " +
        "CASE WHEN datediff('day', prev, day) = 1 THEN 1 ELSE 0 END " +
        "AS is_retained, " +
        "CASE WHEN datediff('day', prev, day) > 1 THEN 1 ELSE 0 END " +
        "AS is_resurrected FROM (SELECT user_id, day, lag(day) OVER " +
        "(PARTITION BY user_id ORDER BY day ASC) AS prev FROM ud)), " +
        "d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active, " +
        "CAST(sum(is_new) AS BIGINT) AS n_new, " +
        "CAST(sum(is_retained) AS BIGINT) AS n_retained, " +
        "CAST(sum(is_resurrected) AS BIGINT) AS n_resurrected " +
        "FROM c GROUP BY 1) " +
        "SELECT d.day, d.n_active, d.n_new, d.n_retained, " +
        "d.n_resurrected, " +
        "coalesce(p.n_active, 0) - d.n_retained AS n_churned " +
        "FROM d LEFT JOIN (SELECT day + 1 AS day, n_active FROM d) p " +
        "USING (day)"),
    // Mirrors EventOps.funnelLatency: the conversionFunnel user frame,
    // whole-second boundary gaps (cast-to-long diff == date_diff
    // 'second'), quantile_cont's interpolated rank over the identical
    // BIGINT multiset, one pinned /60 division rounded once.
    q("funnel_latency", (s, d) => EventOps.funnelLatency(events(s, d)),
      "WITH fv AS (SELECT user_id, min(ts) AS first_view FROM events " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "fc AS (SELECT e.user_id, min(e.ts) AS first_click FROM events e " +
        "JOIN fv ON fv.user_id = e.user_id WHERE e.event_type = 'click' " +
        "AND e.ts > fv.first_view GROUP BY 1), " +
        "fp AS (SELECT e.user_id, min(e.ts) AS first_purchase " +
        "FROM events e JOIN fc ON fc.user_id = e.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts > fc.first_click " +
        "GROUP BY 1) " +
        "SELECT 'view_to_click' AS stage, " +
        "CAST(count(*) AS BIGINT) AS n_users, " +
        "round(quantile_cont(date_diff('second', fv.first_view, " +
        "fc.first_click), 0.5) / 60.0, 4) AS p50_minutes, " +
        "round(quantile_cont(date_diff('second', fv.first_view, " +
        "fc.first_click), 0.9) / 60.0, 4) AS p90_minutes " +
        "FROM fc JOIN fv USING (user_id) " +
        "UNION ALL " +
        "SELECT 'click_to_purchase' AS stage, " +
        "CAST(count(*) AS BIGINT) AS n_users, " +
        "round(quantile_cont(date_diff('second', fc.first_click, " +
        "fp.first_purchase), 0.5) / 60.0, 4) AS p50_minutes, " +
        "round(quantile_cont(date_diff('second', fc.first_click, " +
        "fp.first_purchase), 0.9) / 60.0, 4) AS p90_minutes " +
        "FROM fp JOIN fc USING (user_id)"),
    // Mirrors EventOps.psiTypeDrift: exact integer epoch-µs midpoint
    // (shift-invariant, so engine epoch bases cancel), BIGINT half
    // counts, pinned share divisions, cross-product ln argument.
    q("psi_type_drift", (s, d) => EventOps.psiTypeDrift(events(s, d)),
      s"WITH ${halvesCtes("event_type", "event_type")}, " +
        "c AS (SELECT event_type, " +
        "CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2 " +
        "FROM h GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, " +
        "CAST(sum(n2) AS BIGINT) AS t2 FROM c) " +
        "SELECT event_type, n1 AS n_first, n2 AS n_second, " +
        "round((CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE) - " +
        "CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)) * " +
        "ln((CAST(n2 AS DOUBLE) * CAST(t1 AS DOUBLE)) / " +
        "(CAST(n1 AS DOUBLE) * CAST(t2 AS DOUBLE))), 6) AS psi_term " +
        "FROM c CROSS JOIN t WHERE n1 > 0 AND n2 > 0"),
    // Mirrors EventOps.ksValueDrift: integer-width bins (floor is
    // exact), BIGINT cumulative window ECDFs, pinned share divisions,
    // (gap DESC, bin ASC) argmax.
    q("ks_value_drift", (s, d) => EventOps.ksValueDrift(events(s, d)),
      s"WITH $binHalvesCtes, " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2 FROM c), " +
        "e AS (SELECT bin, n1, n2, " +
        "abs(CAST(CAST(sum(c1) OVER (ORDER BY bin ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE) / " +
        "CAST(n1 AS DOUBLE) - " +
        "CAST(CAST(sum(c2) OVER (ORDER BY bin ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE) / " +
        "CAST(n2 AS DOUBLE)) AS gap FROM c CROSS JOIN t) " +
        "SELECT n1 AS n_first, n2 AS n_second, round(gap, 6) AS ks_stat, " +
        "bin AS at_bin FROM e ORDER BY gap DESC, bin ASC LIMIT 1"),
    // Mirrors EventOps.valueMmdDrift: the ks midpoint split, exact
    // conditional moment lanes, the closed-form quadratic-kernel
    // MMD^2 = 2(dm)^2/c + (dq)^2/c^2 in one pinned chain.
    q("value_mmd_drift", (s, d) => EventOps.valueMmdDrift(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi " +
        "FROM events), " +
        "h AS (SELECT coalesce(CAST(CAST(value AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT), 0) AS c, " +
        "CASE WHEN epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 2 END AS half FROM events CROSS JOIN b), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN half = 1 THEN c END) AS BIGINT) AS s1, " +
        "CAST(sum(CASE WHEN half = 1 THEN CAST(c AS HUGEINT) * c END) " +
        "AS HUGEINT) AS q1, " +
        "CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(sum(CASE WHEN half = 2 THEN c END) AS BIGINT) AS s2, " +
        "CAST(sum(CASE WHEN half = 2 THEN CAST(c AS HUGEINT) * c END) " +
        "AS HUGEINT) AS q2 FROM h), " +
        "d AS (SELECT n1, n2, " +
        "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - " +
        "CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS dm, " +
        "CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE) - " +
        "CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS dq FROM m) " +
        "SELECT n1 AS n_first, n2 AS n_second, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN round(dm / 100.0, 6) END " +
        "AS mean_diff, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN " +
        "round(2.0 * dm * dm / 100000000.0, 8) END AS mmd_linear, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN " +
        "round((dq / 100000000.0) * (dq / 100000000.0), 8) END AS mmd_quad, " +
        "CASE WHEN n1 > 0 AND n2 > 0 THEN " +
        "round(2.0 * dm * dm / 100000000.0 + " +
        "(dq / 100000000.0) * (dq / 100000000.0), 8) END AS mmd_sq FROM d"),
    // Mirrors EventOps.hazardByTenure: the km_survival_horizons
    // duration/risk-set CTEs with the per-tenure rate surfaced.
    q("hazard_by_tenure", (s, d) => EventOps.hazardByTenure(events(s, d)),
      s"WITH $tenureCtes " +
        "SELECT t AS tenure_days, " +
        "n_users - CAST(sum(ending) OVER (ORDER BY t ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) + ending AS n_at_risk, " +
        "d AS n_churned, " +
        "round(CAST(d AS DOUBLE) / CAST(n_users - CAST(sum(ending) OVER (" +
        "ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) + ending " +
        "AS DOUBLE), 6) AS hazard " +
        "FROM byt CROSS JOIN tot WHERE d > 0"),
    // Mirrors EventOps.forecastBacktest: the dense zero-filled
    // calendar×type grid, lag(1)/lag(7) on the dense frame (== the
    // calendar shift), exact BIGINT absolute errors, pinned MAE
    // divisions.
    q("forecast_backtest", (s, d) => EventOps.forecastBacktest(events(s, d)),
      s"WITH ${typeDailyCtes("cal", "t")}, " +
        "grid AS (SELECT t.event_type, cal.day, " +
        "coalesce(daily.cnt, 0) AS cnt FROM cal CROSS JOIN t " +
        "LEFT JOIN daily ON daily.event_type = t.event_type " +
        "AND daily.day = cal.day), " +
        "lg AS (SELECT event_type, cnt, " +
        "lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day ASC) AS l1, " +
        "lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day ASC) AS l7 " +
        "FROM grid) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, " +
        "round(CAST(CAST(sum(abs(cnt - l1)) AS BIGINT) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mae_naive, " +
        "round(CAST(CAST(sum(abs(cnt - l7)) AS BIGINT) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mae_seasonal, " +
        "CAST(sum(CASE WHEN abs(cnt - l7) < abs(cnt - l1) THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS seasonal_wins " +
        "FROM lg WHERE l1 IS NOT NULL AND l7 IS NOT NULL GROUP BY 1"),
    // Mirrors EventOps.ucbTypePolicy: exact Bernoulli replay counts
    // per arm, UCB1 index from identical-double ln/sqrt, 6dp round.
    q("ucb_type_policy", (s, d) => EventOps.ucbTypePolicy(events(s, d)),
      "WITH arms AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_plays, " +
        "CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_success FROM events GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_plays) AS BIGINT) AS n_total FROM arms) " +
        "SELECT event_type, n_plays, n_success, " +
        "round(CAST(n_success AS DOUBLE) / CAST(n_plays AS DOUBLE), 6) " +
        "AS mean_reward, " +
        "round(CAST(n_success AS DOUBLE) / CAST(n_plays AS DOUBLE) + " +
        "sqrt(2.0 * ln(CAST(n_total AS DOUBLE)) / CAST(n_plays AS DOUBLE)), 6) " +
        "AS ucb_score FROM arms, tot"),
    // Mirrors EventOps.valueAucByType: one-vs-rest AUC via the
    // doubled-midrank identity 2R = Σ c·(2·cum_all + c_all + 1); all
    // rank sums exact BIGINT, one double division, 6dp round.
    q("value_auc_by_type", (s, d) => EventOps.valueAucByType(events(s, d)),
      "WITH cnts AS (SELECT value AS v, event_type AS t, " +
        "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT v, CAST(sum(c) AS BIGINT) AS c_all " +
        "FROM cnts GROUP BY 1), " +
        "cum AS (SELECT v, c_all, CAST(coalesce(sum(c_all) OVER " +
        "(ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 " +
        "PRECEDING), 0) AS BIGINT) AS cum_all FROM grid), " +
        "r AS (SELECT t AS event_type, CAST(sum(c) AS BIGINT) AS n_pos, " +
        "CAST(sum(c * (2 * cum_all + c_all + 1)) AS BIGINT) AS r2 " +
        "FROM cnts JOIN cum USING (v) GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_total FROM grid) " +
        "SELECT event_type, n_pos, n_total - n_pos AS n_neg, " +
        "round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) / " +
        "(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_total - n_pos AS DOUBLE)), 6) " +
        "AS auc FROM r, tot"),
    // Mirrors EventOps.scoreCalibrationBins: exact 2dp DECIMAL sums
    // Σv/Σv²/Σ_pos v, closed-form mean/Brier in identically-ordered
    // double arithmetic, min/max anchors from one scalar subquery.
    q("score_calibration_bins", (s, d) => EventOps.scoreCalibrationBins(events(s, d)),
      calibrationBinsSql),
    // Mirrors EventOps.brierDecomposition: the direct Brier is the
    // exact HUGEINT Sigma(s - o*r)^2 lane; per-bin REL/RES terms
    // micro-unit-pinned before their <=10-term sums.
    q("brier_decomposition", (s, d) => EventOps.brierDecomposition(events(s, d)),
      "WITH mm AS (SELECT " +
        "min(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cmin, " +
        "max(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cmax " +
        "FROM events), " +
        "base AS (SELECT " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) - cmin AS s, " +
        "cmax - cmin AS r, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o " +
        "FROM events CROSS JOIN mm WHERE cmax > cmin), " +
        "b2 AS (SELECT s, r, o, least(CAST(s * 10 // r AS BIGINT), 9) AS bin FROM base), " +
        "bins AS MATERIALIZED (SELECT bin, r, " +
        "CAST(count(*) AS BIGINT) AS nk, CAST(sum(o) AS BIGINT) AS ok, " +
        "CAST(sum(s) AS BIGINT) AS sk, " +
        "CAST(sum(CAST(s - o * r AS HUGEINT) * (s - o * r)) AS HUGEINT) " +
        "AS sq FROM b2 GROUP BY 1, 2), " +
        "tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n, " +
        "CAST(sum(ok) AS BIGINT) AS opos, " +
        "CAST(sum(sq) AS HUGEINT) AS sqall, " +
        "CAST(max(r) AS BIGINT) AS r FROM bins), " +
        "terms AS (SELECT " +
        "CAST(sum(CAST(round(CAST(nk AS DOUBLE) * " +
        "(CAST(sk AS DOUBLE) / (CAST(nk AS DOUBLE) * CAST(bins.r AS DOUBLE)) - " +
        "CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)) * " +
        "(CAST(sk AS DOUBLE) / (CAST(nk AS DOUBLE) * CAST(bins.r AS DOUBLE)) - " +
        "CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)) * 1000000.0, 0) " +
        "AS BIGINT)) AS BIGINT) AS relm, " +
        "CAST(sum(CAST(round(CAST(nk AS DOUBLE) * " +
        "(CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE) - " +
        "CAST(opos AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE) - " +
        "CAST(opos AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0, 0) " +
        "AS BIGINT)) AS BIGINT) AS resm " +
        "FROM bins CROSS JOIN (SELECT n, opos FROM tot) t), " +
        "f AS (SELECT n, opos, " +
        "CAST(sqall AS DOUBLE) / (CAST(r AS DOUBLE) * CAST(r AS DOUBLE)) / " +
        "CAST(n AS DOUBLE) AS brier, " +
        "CAST(relm AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS rel, " +
        "CAST(resm AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS res, " +
        "(CAST(opos AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(1.0 - CAST(opos AS DOUBLE) / CAST(n AS DOUBLE)) AS unc " +
        "FROM tot CROSS JOIN terms) " +
        "SELECT n AS n_events, round(brier, 6) AS brier, " +
        "round(rel, 6) AS reliability, round(res, 6) AS resolution, " +
        "round(unc, 6) AS uncertainty, " +
        "round(brier - (rel - res + unc), 6) + 0.0 AS within_bin_var FROM f"),
    // Mirrors EventOps.abConversionZtest: exact per-arm cells from the
    // per-user conversion collapse, pooled-variance z in pinned double
    // order, sqrt IEEE-exact, 6dp round.
    q("ab_conversion_ztest", (s, d) => EventOps.abConversionZtest(events(s, d)),
      "WITH pu AS (SELECT user_id, max(CASE WHEN event_type = 'purchase' " +
        "AND value >= 90.0 THEN 1 ELSE 0 END) AS conv, user_id % 2 AS arm " +
        "FROM events GROUP BY user_id), " +
        "cells AS (SELECT " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b " +
        "FROM pu), " +
        "d AS (SELECT n_a, conv_a, n_b, conv_b, " +
        "CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ra, " +
        "CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rb, " +
        "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * " +
        "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * " +
        "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)) AS vt " +
        "FROM cells) " +
        "SELECT n_a, conv_a, n_b, conv_b, " +
        "round(ra, 6) AS rate_a, round(rb, 6) AS rate_b, " +
        "CASE WHEN vt > 0.0 THEN round((ra - rb) / sqrt(vt), 6) END " +
        "AS z_score, " +
        "CASE WHEN vt > 0.0 THEN abs((ra - rb) / sqrt(vt)) > 1.959964 " +
        "ELSE false END AS significant FROM d"),
    // Mirrors EventOps.ratioMetricDeltaCi: exact per-user BIGINT
    // cents/count lanes, five HUGEINT moment sums per arm, the
    // linearized delta-method variance in the identical double chain;
    // degenerate arms -> NULL, false flag.
    q("ratio_metric_delta_ci", (s, d) => EventOps.ratioMetricDeltaCi(events(s, d)),
      "WITH pu AS (SELECT user_id, " +
        "CAST(sum(coalesce(CAST(CAST(value AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT), 0)) AS BIGINT) AS num, " +
        "CAST(count(*) AS BIGINT) AS den, user_id % 2 AS arm " +
        "FROM events GROUP BY user_id), " +
        "cells AS (SELECT " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN num END) AS BIGINT) AS sn_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN den END) AS BIGINT) AS sd_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN CAST(num AS HUGEINT) * num END) " +
        "AS HUGEINT) AS snn_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN CAST(den AS HUGEINT) * den END) " +
        "AS HUGEINT) AS sdd_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN CAST(num AS HUGEINT) * den END) " +
        "AS HUGEINT) AS snd_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN num END) AS BIGINT) AS sn_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN den END) AS BIGINT) AS sd_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN CAST(num AS HUGEINT) * num END) " +
        "AS HUGEINT) AS snn_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN CAST(den AS HUGEINT) * den END) " +
        "AS HUGEINT) AS sdd_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN CAST(num AS HUGEINT) * den END) " +
        "AS HUGEINT) AS snd_b FROM pu), " +
        "l AS (SELECT n_a, n_b, " +
        "n_a >= 2 AND sd_a > 0 AS ok_a, n_b >= 2 AND sd_b > 0 AS ok_b, " +
        "CAST(sn_a AS DOUBLE) / CAST(sd_a AS DOUBLE) AS ra, " +
        "CAST(sn_b AS DOUBLE) / CAST(sd_b AS DOUBLE) AS rb, " +
        "CAST(CAST(n_a AS HUGEINT) * snn_a - CAST(sn_a AS HUGEINT) * sn_a " +
        "AS DOUBLE) / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) AS vn_a, " +
        "CAST(CAST(n_a AS HUGEINT) * sdd_a - CAST(sd_a AS HUGEINT) * sd_a " +
        "AS DOUBLE) / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) AS vd_a, " +
        "CAST(CAST(n_a AS HUGEINT) * snd_a - CAST(sn_a AS HUGEINT) * sd_a " +
        "AS DOUBLE) / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) AS cnd_a, " +
        "CAST(CAST(n_b AS HUGEINT) * snn_b - CAST(sn_b AS HUGEINT) * sn_b " +
        "AS DOUBLE) / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) AS vn_b, " +
        "CAST(CAST(n_b AS HUGEINT) * sdd_b - CAST(sd_b AS HUGEINT) * sd_b " +
        "AS DOUBLE) / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) AS vd_b, " +
        "CAST(CAST(n_b AS HUGEINT) * snd_b - CAST(sn_b AS HUGEINT) * sd_b " +
        "AS DOUBLE) / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) AS cnd_b, " +
        "CAST(sd_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS dbar_a, " +
        "CAST(sd_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS dbar_b FROM cells), " +
        "v AS (SELECT n_a, n_b, ra, rb, ok_a, ok_b, " +
        "CASE WHEN ok_a THEN (vn_a - 2.0 * ra * cnd_a + ra * ra * vd_a) / " +
        "(CAST(n_a AS DOUBLE) * dbar_a * dbar_a) END AS va, " +
        "CASE WHEN ok_b THEN (vn_b - 2.0 * rb * cnd_b + rb * rb * vd_b) / " +
        "(CAST(n_b AS DOUBLE) * dbar_b * dbar_b) END AS vb FROM l) " +
        "SELECT n_a, n_b, " +
        "CASE WHEN ok_a THEN round(ra / 100.0, 6) END AS ratio_a, " +
        "CASE WHEN ok_b THEN round(rb / 100.0, 6) END AS ratio_b, " +
        "CASE WHEN va IS NOT NULL THEN round(sqrt(va) / 100.0, 6) END AS se_a, " +
        "CASE WHEN vb IS NOT NULL THEN round(sqrt(vb) / 100.0, 6) END AS se_b, " +
        "CASE WHEN va IS NOT NULL AND vb IS NOT NULL AND va + vb > 0.0 " +
        "THEN round((ra - rb) / sqrt(va + vb), 6) END AS z_score, " +
        "CASE WHEN va IS NOT NULL AND vb IS NOT NULL AND va + vb > 0.0 " +
        "THEN abs((ra - rb) / sqrt(va + vb)) > 1.959964 ELSE false END " +
        "AS significant FROM v"),
    // Mirrors EventOps.dowSeasonalityIndex: arithmetic isodow
    // (engine-independent), exact counts, pinned-ratio index.
    q("dow_seasonality_index", (s, d) => EventOps.dowSeasonalityIndex(events(s, d)),
      "WITH daily AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
        "per AS (SELECT (date_diff('day', DATE '1970-01-01', day) + 3) " +
        "% 7 + 1 AS isodow, CAST(count(*) AS BIGINT) AS n_days, " +
        "CAST(sum(n) AS BIGINT) AS n_events FROM daily GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS td, " +
        "CAST(sum(n_events) AS BIGINT) AS te FROM per) " +
        "SELECT isodow, n_days, n_events, " +
        "round(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE), 6) " +
        "AS avg_per_day, " +
        "round((CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)) / " +
        "(CAST(te AS DOUBLE) / CAST(td AS DOUBLE)), 6) " +
        "AS seasonality_index FROM per, tot"),
    // Mirrors EventOps.valueWassersteinDrift: the ks_value_drift CTE
    // prefix; W1·n1·n2 = Σ|cum1·n2 − cum2·n1|·gap in HUGEINT (Spark:
    // DECIMAL(38,0)) — identical exact integer, one double division.
    q("value_wasserstein_drift", (s, d) => EventOps.valueWassersteinDrift(events(s, d)),
      s"WITH $binHalvesCtes, " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2 FROM c), " +
        "e AS (SELECT bin, n1, n2, " +
        "CAST(sum(c1) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum1, " +
        "CAST(sum(c2) OVER (ORDER BY bin ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum2, " +
        "lead(bin) OVER (ORDER BY bin ASC) - bin AS gap " +
        "FROM c CROSS JOIN t), " +
        "s AS (SELECT max(n1) AS n_first, max(n2) AS n_second, " +
        "CAST(sum(abs(CAST(cum1 AS HUGEINT) * n2 - " +
        "CAST(cum2 AS HUGEINT) * n1) * gap) AS DOUBLE) AS num " +
        "FROM e WHERE gap IS NOT NULL) " +
        "SELECT n_first, n_second, " +
        "round(num / (CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE)), 6) " +
        "AS w1_distance FROM s"),
    // Mirrors EventOps.rollingMedianDaily: dense calendar, ±3-day
    // neighborhood join, quantile_cont ≡ percentile exact-interpolation
    // parity, ratio NULL on zero median.
    q("rolling_median_daily", (s, d) => EventOps.rollingMedianDaily(events(s, d)),
      "WITH daily AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1), " +
        "cal AS (SELECT CAST(unnest(generate_series(" +
        "(SELECT min(day) FROM daily), (SELECT max(day) FROM daily), " +
        "INTERVAL 1 DAY)) AS DATE) AS day), " +
        "grid AS (SELECT c.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n " +
        "FROM cal c LEFT JOIN daily d ON d.day = c.day), " +
        "med AS (SELECT c.day, CAST(count(*) AS BIGINT) AS w_size, " +
        "quantile_cont(o.n, 0.5) AS med FROM grid c JOIN grid o " +
        "ON date_diff('day', c.day, o.day) BETWEEN -3 AND 3 " +
        "GROUP BY 1) " +
        "SELECT g.day, g.n, m.w_size, round(m.med, 6) AS med_window, " +
        "CASE WHEN m.med > 0.0 THEN " +
        "round(CAST(g.n AS DOUBLE) / m.med, 6) END AS ratio " +
        "FROM grid g JOIN med m ON m.day = g.day"),
    // Mirrors EventOps.cupedAdjustedAb: exact BIGINT-cent half sums,
    // HUGEINT moments (Spark: DECIMAL(38,0)), pinned double theta/
    // means/diffs, NULL on zero pre-period variance.
    q("cuped_adjusted_ab", (s, d) => EventOps.cupedAdjustedAb(events(s, d)),
      "WITH m0 AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi " +
        "FROM events), " +
        "pu AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) " +
        "AS BIGINT) AS x, " +
        "CAST(sum(CASE WHEN epoch_us(ts) > CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) " +
        "AS BIGINT) AS y, user_id % 2 AS arm " +
        "FROM events CROSS JOIN m0 GROUP BY user_id), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "sum(CAST(x AS HUGEINT) * y) AS sxy, " +
        "sum(CAST(x AS HUGEINT) * x) AS sxx, " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b " +
        "FROM pu), " +
        "d AS (SELECT *, " +
        "CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) " +
        "AS varx, " +
        "CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) " +
        "AS covxy FROM m), " +
        "d2 AS (SELECT *, covxy / varx AS theta, " +
        "CAST(sy_a AS DOUBLE) / 100.0 / CAST(n_a AS DOUBLE) AS mya, " +
        "CAST(sy_b AS DOUBLE) / 100.0 / CAST(n_b AS DOUBLE) AS myb, " +
        "CAST(sx_a AS DOUBLE) / 100.0 / CAST(n_a AS DOUBLE) AS mxa, " +
        "CAST(sx_b AS DOUBLE) / 100.0 / CAST(n_b AS DOUBLE) AS mxb, " +
        "CAST(sx AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mxall FROM d) " +
        "SELECT n_a, n_b, round(mya, 6) AS mean_y_a, " +
        "round(myb, 6) AS mean_y_b, round(mya - myb, 6) AS raw_diff, " +
        "CASE WHEN varx > 0.0 THEN round(theta, 6) END AS theta, " +
        "CASE WHEN varx > 0.0 THEN round((mya - theta * (mxa - mxall)) - " +
        "(myb - theta * (mxb - mxall)), 6) END AS adj_diff FROM d2"),
    // Mirrors EventOps.cohortLtvCurve: BIGINT-cent daily collapse,
    // per-cohort cumulative window over observed ages, pinned LTV
    // division chain.
    q("cohort_ltv_curve", (s, d) => EventOps.cohortLtvCurve(events(s, d)),
      "WITH ud AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS dc FROM events GROUP BY 1, 2), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1), " +
        "sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users " +
        "FROM f GROUP BY 1), " +
        "a AS (SELECT f.cohort_day, " +
        "CAST(date_diff('day', f.cohort_day, ud.day) AS BIGINT) AS age, " +
        "CAST(sum(dc) AS BIGINT) AS sc FROM ud JOIN f USING (user_id) " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT cohort_day, age, CAST(sum(sc) OVER (" +
        "PARTITION BY cohort_day ORDER BY age ASC ROWS UNBOUNDED " +
        "PRECEDING) AS BIGINT) AS cum_cents FROM a) " +
        "SELECT c.cohort_day, c.age, sz.n_users, c.cum_cents, " +
        "round(CAST(cum_cents AS DOUBLE) / 100.0 / " +
        "CAST(n_users AS DOUBLE), 6) AS ltv_per_user " +
        "FROM c JOIN sz USING (cohort_day)"),
    // Mirrors EventOps.welchTtestAb: exact cents moments, integer
    // closed-form sample variances, pinned Welch t / Satterthwaite df.
    q("welch_ttest_ab", (s, d) => EventOps.welchTtestAb(events(s, d)),
      "WITH pu AS (SELECT user_id, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS y, user_id % 2 AS arm FROM events GROUP BY 1), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS s_a, " +
        "sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) * y " +
        "ELSE CAST(0 AS HUGEINT) END) AS ss_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS s_b, " +
        "sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) * y " +
        "ELSE CAST(0 AS HUGEINT) END) AS ss_b FROM pu), " +
        "d AS (SELECT *, " +
        "CAST(s_a AS DOUBLE) / 100.0 / CAST(n_a AS DOUBLE) AS ma, " +
        "CAST(s_b AS DOUBLE) / 100.0 / CAST(n_b AS DOUBLE) AS mb, " +
        "CAST(CAST(n_a AS HUGEINT) * ss_a - CAST(s_a AS HUGEINT) * s_a " +
        "AS DOUBLE) / 10000.0 / (CAST(n_a AS DOUBLE) * " +
        "(CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) AS va, " +
        "CAST(CAST(n_b AS HUGEINT) * ss_b - CAST(s_b AS HUGEINT) * s_b " +
        "AS DOUBLE) / 10000.0 / (CAST(n_b AS DOUBLE) * " +
        "(CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) AS vb FROM m) " +
        "SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, " +
        "CASE WHEN n_a >= 2 AND n_b >= 2 AND va + vb > 0.0 THEN " +
        "round((ma - mb) / sqrt(va + vb), 6) END AS t_stat, " +
        "CASE WHEN n_a >= 2 AND n_b >= 2 AND va * va + vb * vb > 0.0 THEN " +
        "round((va + vb) * (va + vb) / " +
        "(va * va / (CAST(n_a AS DOUBLE) - 1.0) + " +
        "vb * vb / (CAST(n_b AS DOUBLE) - 1.0)), 6) END AS df FROM d"),
    // Mirrors EventOps.scoreGainsDeciles: pre-period score, post-period
    // conversion, ntile(10) with the identical total order (globalNtile
    // ≡ ntile parity), cumulative capture over the 10-row frame.
    q("score_gains_deciles", (s, d) => EventOps.scoreGainsDeciles(events(s, d)),
      "WITH m0 AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) " +
        "AS hi FROM events), " +
        "pu AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) " +
        "AS BIGINT) AS score, " +
        "max(CASE WHEN epoch_us(ts) > CAST((lo + hi) // 2 AS BIGINT) " +
        "AND event_type = 'purchase' AND value >= 90.0 THEN 1 ELSE 0 END) " +
        "AS conv FROM events CROSS JOIN m0 GROUP BY user_id), " +
        "t AS (SELECT ntile(10) OVER (ORDER BY score DESC, user_id ASC) " +
        "AS decile, conv FROM pu), " +
        "per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(conv) AS BIGINT) AS n_conv FROM t GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu, " +
        "CAST(sum(n_conv) AS BIGINT) AS tc FROM per), " +
        "c AS (SELECT per.*, CAST(sum(n_conv) OVER (ORDER BY decile ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_conv FROM per) " +
        "SELECT decile, n_users, n_conv, " +
        "round(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE), 6) " +
        "AS conv_rate, cum_conv, " +
        "CASE WHEN tc > 0 THEN round(CAST(cum_conv AS DOUBLE) / " +
        "CAST(tc AS DOUBLE), 6) END AS cum_capture, " +
        "CASE WHEN tc > 0 THEN round((CAST(n_conv AS DOUBLE) / " +
        "CAST(n_users AS DOUBLE)) / (CAST(tc AS DOUBLE) / " +
        "CAST(tu AS DOUBLE)), 6) END AS lift FROM c CROSS JOIN tot"),
    // Mirrors EventOps.betaPosteriorArms: Beta(s+1, n−s+1) closed
    // forms in pinned double order, sqrt IEEE-exact.
    q("beta_posterior_arms", (s, d) => EventOps.betaPosteriorArms(events(s, d)),
      "WITH arms AS (SELECT event_type, CAST(count(*) AS BIGINT) " +
        "AS n_plays, CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_success FROM events GROUP BY 1), " +
        "d AS (SELECT *, CAST(n_success + 1 AS DOUBLE) AS a, " +
        "CAST(n_plays - n_success + 1 AS DOUBLE) AS b FROM arms) " +
        "SELECT event_type, n_plays, n_success, " +
        "round(a / (a + b), 6) AS post_mean, " +
        "round(sqrt(a * b / ((a + b) * (a + b) * (a + b + 1.0))), 6) " +
        "AS post_sd, " +
        "round(a / (a + b) - 1.959964 * " +
        "sqrt(a * b / ((a + b) * (a + b) * (a + b + 1.0))), 6) AS ci_low, " +
        "round(a / (a + b) + 1.959964 * " +
        "sqrt(a * b / ((a + b) * (a + b) * (a + b + 1.0))), 6) AS ci_high " +
        "FROM d"),
    // Mirrors EventOps.pinballLossByType: medians by quantile_cont ≡
    // percentile parity, |v−q| re-pinned to BIGINT milli-units before
    // the sums, single pinned divisions.
    q("pinball_loss_by_type", (s, d) => EventOps.pinballLossByType(events(s, d)),
      "WITH qg AS (SELECT quantile_cont(value, 0.5) AS qg FROM events), " +
        "qt AS (SELECT event_type, quantile_cont(value, 0.5) AS qt " +
        "FROM events GROUP BY 1), " +
        "sc AS (SELECT e.event_type, " +
        "CAST(round(abs(e.value - qg.qg) * 1000.0, 0) AS BIGINT) AS lg, " +
        "CAST(round(abs(e.value - qt.qt) * 1000.0, 0) AS BIGINT) AS lt, " +
        "qt.qt FROM events e CROSS JOIN qg " +
        "JOIN qt ON qt.event_type = e.event_type) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "round(max(qt), 6) AS q_type, " +
        "round(CAST(CAST(sum(lg) AS BIGINT) AS DOUBLE) / 2000.0 / " +
        "CAST(count(*) AS DOUBLE), 6) AS loss_global, " +
        "round(CAST(CAST(sum(lt) AS BIGINT) AS DOUBLE) / 2000.0 / " +
        "CAST(count(*) AS DOUBLE), 6) AS loss_type, " +
        "round(CAST(CAST(sum(lg) AS BIGINT) - CAST(sum(lt) AS BIGINT) " +
        "AS DOUBLE) / 2000.0 / CAST(count(*) AS DOUBLE), 6) " +
        "AS improvement FROM sc GROUP BY 1"),
    // Mirrors EventOps.quantileTreatmentEffect: per-arm quantile_cont
    // FILTER at each tau, pinned cent divisions.
    q("quantile_treatment_effect", (s, d) => EventOps.quantileTreatmentEffect(events(s, d)),
      "WITH pu AS (SELECT user_id, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS y, user_id % 2 AS arm FROM events GROUP BY 1), " +
        "q AS (" +
        Seq(0.1, 0.25, 0.5, 0.75, 0.9).map { t =>
          s"SELECT CAST($t AS DOUBLE) AS tau, " +
            s"quantile_cont(y, $t) FILTER (arm = 0) AS qa, " +
            s"quantile_cont(y, $t) FILTER (arm = 1) AS qb FROM pu"
        }.mkString(" UNION ALL ") + ") " +
        "SELECT tau, round(qa / 100.0, 6) AS q_a, " +
        "round(qb / 100.0, 6) AS q_b, " +
        "round((qa - qb) / 100.0, 6) AS qte FROM q"),
    // Mirrors EventOps.positionAttribution: the linear_attribution
    // conv⋈touch window, positions by (touch_ts, touch_id) total
    // order, 40/20/40 micro-credits with the same div convention.
    q("position_attribution", (s, d) => EventOps.positionAttribution(events(s, d)),
      "WITH conv AS (SELECT event_id AS conv_id, user_id, ts AS conv_ts " +
        "FROM events WHERE event_type = 'purchase'), " +
        "touch AS (SELECT user_id, ts AS touch_ts, event_type AS touch_type, " +
        "event_id AS touch_id FROM events WHERE event_type <> 'purchase'), " +
        "j AS (SELECT c.conv_id, t.touch_type, t.touch_ts, t.touch_id " +
        "FROM conv c JOIN touch t ON t.user_id = c.user_id " +
        "AND t.touch_ts < c.conv_ts " +
        "AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY), " +
        "rk AS (SELECT conv_id, touch_type, " +
        "CAST(row_number() OVER (PARTITION BY conv_id " +
        "ORDER BY touch_ts ASC, touch_id ASC) AS BIGINT) AS rk, " +
        "CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n FROM j), " +
        "cr AS (SELECT touch_type, CASE WHEN n = 1 THEN 1000000 " +
        "WHEN n = 2 THEN 500000 " +
        "WHEN rk = 1 OR rk = n THEN 400000 " +
        "ELSE CAST(200000 // (n - 2) AS BIGINT) END AS credit FROM rk) " +
        "SELECT touch_type AS event_type, " +
        "CAST(count(*) AS BIGINT) AS n_touches, " +
        "CAST(sum(credit) AS BIGINT) AS attributed_micro, " +
        "round(CAST(CAST(sum(credit) AS BIGINT) AS DOUBLE) / 1000000.0, 6) " +
        "AS attributed_conversions FROM cr GROUP BY 1"),
    // Mirrors EventOps.fanoFactorByType: dense-minute Fano from the
    // observed collapse only ((m·Σc² − T²)/(m·T), zeros via algebra),
    // HUGEINT moments, integer cross-multiplied burstiness flag.
    q("fano_factor_by_type", (s, d) => EventOps.fanoFactorByType(events(s, d)),
      "WITH m0 AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) " +
        "AS hi FROM events), " +
        "mb AS (SELECT event_type, CAST((epoch_us(ts) - lo) // 60000000 " +
        "AS BIGINT) AS minute, CAST((hi - lo) // 60000000 + 1 AS BIGINT) AS m " +
        "FROM events CROSS JOIN m0), " +
        "c AS (SELECT event_type, minute, m, CAST(count(*) AS BIGINT) AS c " +
        "FROM mb GROUP BY 1, 2, 3), " +
        "s AS (SELECT event_type, max(m) AS m, CAST(sum(c) AS BIGINT) AS t, " +
        "CAST(sum(c * c) AS BIGINT) AS sc2 FROM c GROUP BY 1) " +
        "SELECT event_type, t AS n_events, m AS n_minutes, " +
        "round(CAST(t AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mean_per_minute, " +
        "round(CAST(CAST(m AS HUGEINT) * sc2 - CAST(t AS HUGEINT) * t " +
        "AS DOUBLE) / CAST(CAST(m AS HUGEINT) * t AS DOUBLE), 6) AS fano, " +
        "(CAST(m AS HUGEINT) * sc2 - CAST(t AS HUGEINT) * t) * 2 > " +
        "CAST(m AS HUGEINT) * t * 3 AS bursty FROM s"),
    // Mirrors EventOps.valuePsiDrift: the KS/W1 half-split bin grid,
    // add-one-smoothed shares as ratios of exact ints, per-bin terms
    // re-pinned to BIGINT micro-units before the sum.
    q("value_psi_drift", (s, d) => EventOps.valuePsiDrift(events(s, d)),
      s"WITH $binHalvesCtes, " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, " +
        "CAST(sum(c2) AS BIGINT) AS n2, " +
        "CAST(count(*) AS BIGINT) AS nb FROM c), " +
        "e AS (SELECT n1, n2, nb, " +
        "CAST(round(((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE)) - " +
        "(CAST(c2 + 1 AS DOUBLE) / CAST(n2 + nb AS DOUBLE))) * " +
        "ln((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + nb AS DOUBLE)) / " +
        "(CAST(c2 + 1 AS DOUBLE) / CAST(n2 + nb AS DOUBLE))) * 1000000.0, " +
        "0) AS BIGINT) AS term FROM c CROSS JOIN t) " +
        "SELECT max(n1) AS n_first, max(n2) AS n_second, " +
        "max(nb) AS n_bins, " +
        "round(CAST(CAST(sum(term) AS BIGINT) AS DOUBLE) / 1000000.0, 6) " +
        "AS psi FROM e"),
    // Mirrors EventOps.brownForsytheDaily: the KW dense zero-filled
    // calendar grid, doubled medians as exact BIGINT, both ANOVA sums
    // as HUGEINT integer numerators over the equal-group common
    // denominator, one pinned double division, NULL at zero within-
    // group spread.
    q("brown_forsythe_daily", (s, d) => EventOps.brownForsytheDaily(events(s, d)),
      s"WITH ${typeDailyCtes("dd", "t")}, " +
        "grid AS (SELECT t.event_type, coalesce(daily.cnt, 0) AS v " +
        "FROM dd CROSS JOIN t LEFT JOIN daily " +
        "ON daily.event_type = t.event_type AND daily.day = dd.day), " +
        "med AS (SELECT event_type, CAST(round(median(v) * 2.0, 0) AS BIGINT) AS m2 " +
        "FROM grid GROUP BY 1), " +
        "z AS (SELECT g.event_type, abs(g.v * 2 - m.m2) AS z2 " +
        "FROM grid g JOIN med m USING (event_type)), " +
        "pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS d, " +
        "CAST(sum(z2) AS BIGINT) AS s, " +
        "CAST(sum(CAST(z2 AS HUGEINT) * z2) AS HUGEINT) AS ss " +
        "FROM z GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(max(d) AS BIGINT) AS d, " +
        "CAST(sum(s) AS BIGINT) AS stot, " +
        "CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS s2sum, " +
        "CAST(sum(ss) AS HUGEINT) AS sstot FROM pt) " +
        "SELECT k AS n_types, d AS n_days, CAST(k * d AS BIGINT) AS n_total, " +
        "CAST(k - 1 AS BIGINT) AS df1, CAST(k * d - k AS BIGINT) AS df2, " +
        "CASE WHEN CAST(CAST(d AS HUGEINT) * sstot - s2sum AS DOUBLE) > 0.0 THEN " +
        "round((CAST(k * d - k AS DOUBLE) / CAST(k - 1 AS DOUBLE)) * " +
        "(CAST(CAST(k AS HUGEINT) * s2sum - CAST(stot AS HUGEINT) * stot AS DOUBLE) / " +
        "(CAST(k AS DOUBLE) * CAST(CAST(d AS HUGEINT) * sstot - s2sum AS DOUBLE))), 6) " +
        "END AS bf_f FROM tot"),
    // Mirrors EventOps.bhFdrTypePairs: the shared Mann–Whitney CTE
    // chain, the pinned A&S 26.2.17 two-sided p (6dp-rounded before
    // any comparison), ranks and the step-up suffix min as self-joins
    // over the tiny pairs frame — no window, total (p, ta, tb) order.
    // RESIDUAL LIBM ASSUMPTION: exp(−z²/2) is evaluated by DuckDB's C
    // exp here vs JVM Math.exp on the Spark side; a 1-ulp divergence
    // landing exactly on the 6dp rounding boundary would red-row
    // data-dependently (see the EventOps.bhFdrTypePairs comment for
    // why no pinning scheme can remove this particular risk).
    q("bh_fdr_type_pairs", (s, d) => EventOps.bhFdrTypePairs(events(s, d)),
      s"WITH $mwPValueCtes, " +
        "rk AS (SELECT b.type_a, b.type_b, b.z, b.p, " +
        "CAST(count(a.p) + 1 AS BIGINT) AS rk FROM pp b LEFT JOIN pp a " +
        "ON (a.p < b.p) OR (a.p = b.p AND (a.type_a < b.type_a OR " +
        "(a.type_a = b.type_a AND a.type_b < b.type_b))) " +
        "GROUP BY 1, 2, 3, 4), " +
        "q AS (SELECT *, round(least(p * CAST((SELECT m FROM m) AS DOUBLE) / " +
        "CAST(rk AS DOUBLE), 1.0), 6) AS q FROM rk) " +
        "SELECT b.type_a, b.type_b, b.z, b.p AS p_raw, b.rk, " +
        "min(a.q) AS p_bh, min(a.q) <= 0.05 AS rejected " +
        "FROM q b JOIN q a ON a.rk >= b.rk GROUP BY 1, 2, 3, 4, 5"),
    // Mirrors EventOps.byFdrTypePairs: the bh pipeline with the
    // harmonic c(m) factor (10dp-pinned decimal terms) multiplied
    // into the q BEFORE the rank division.
    q("by_fdr_type_pairs", (s, d) => EventOps.byFdrTypePairs(events(s, d)),
      s"WITH $mwPValueCtes, " +
        "cmv AS (SELECT CAST(sum(CAST(round(10000000000.0 / " +
        "CAST(i AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS cms FROM (SELECT " +
        "unnest(range(1, (SELECT m FROM m) + 1)) AS i)), " +
        "rk AS (SELECT b.type_a, b.type_b, b.z, b.p, " +
        "CAST(count(a.p) + 1 AS BIGINT) AS rk FROM pp b LEFT JOIN pp a " +
        "ON (a.p < b.p) OR (a.p = b.p AND (a.type_a < b.type_a OR " +
        "(a.type_a = b.type_a AND a.type_b < b.type_b))) " +
        "GROUP BY 1, 2, 3, 4), " +
        "q AS (SELECT *, round(least(p * CAST((SELECT m FROM m) AS DOUBLE) * " +
        "(CAST((SELECT cms FROM cmv) AS DOUBLE) / 10000000000.0) / " +
        "CAST(rk AS DOUBLE), 1.0), 6) AS q FROM rk) " +
        "SELECT b.type_a, b.type_b, b.z, b.p AS p_raw, b.rk, " +
        "min(a.q) AS p_by, min(a.q) <= 0.05 AS rejected " +
        "FROM q b JOIN q a ON a.rk >= b.rk GROUP BY 1, 2, 3, 4, 5"),
    // Mirrors EventOps.mcnemarSwitchers: exact integer epoch-µs
    // midpoint split, per-user boolean collapse, exact BIGINT 2×2
    // cells, continuity-corrected χ² as one pinned double division.
    q("mcnemar_switchers", (s, d) => EventOps.mcnemarSwitchers(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi " +
        "FROM events), " +
        "pu AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' AND epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 0 END) AS pre, " +
        "max(CASE WHEN event_type = 'purchase' AND epoch_us(ts) > CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 0 END) AS post " +
        "FROM events CROSS JOIN b GROUP BY 1), " +
        "c AS (SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both, " +
        "CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neither, " +
        "CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b_pre_only, " +
        "CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_post_only " +
        "FROM pu) " +
        "SELECT n_users, n_both, n_neither, b_pre_only, c_post_only, " +
        "CASE WHEN b_pre_only + c_post_only > 0 THEN " +
        "round(CAST(abs(b_pre_only - c_post_only) - 1 AS DOUBLE) * " +
        "CAST(abs(b_pre_only - c_post_only) - 1 AS DOUBLE) / " +
        "CAST(b_pre_only + c_post_only AS DOUBLE), 6) END AS mcnemar_chi2 " +
        "FROM c"),
    // Mirrors EventOps.diffInDiff: midpoint-split panel 2×2 of exact
    // per-user conversion cells, pinned DiD/SE/z chain.
    q("diff_in_diff", (s, d) => EventOps.diffInDiff(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi " +
        "FROM events), " +
        "pu AS (SELECT user_id, user_id % 2 AS arm, " +
        "max(CASE WHEN event_type = 'purchase' AND epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 0 END) AS pre, " +
        "max(CASE WHEN event_type = 'purchase' AND epoch_us(ts) > CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 0 END) AS post " +
        "FROM events CROSS JOIN b GROUP BY 1, 2), " +
        "c AS (SELECT " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c, " +
        "CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT) AS x_c_pre, " +
        "CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT) AS x_c_post, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t, " +
        "CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT) AS x_t_pre, " +
        "CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT) AS x_t_post " +
        "FROM pu) " +
        "SELECT n_c, n_t, " +
        "round(CAST(x_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS p_c_pre, " +
        "round(CAST(x_c_post AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS p_c_post, " +
        "round(CAST(x_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS p_t_pre, " +
        "round(CAST(x_t_post AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS p_t_post, " +
        "round((CAST(x_t_post AS DOUBLE) / CAST(n_t AS DOUBLE) - " +
        "CAST(x_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE)) - " +
        "(CAST(x_c_post AS DOUBLE) / CAST(n_c AS DOUBLE) - " +
        "CAST(x_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE)), 6) AS did, " +
        "CASE WHEN sqrt(" +
        "CAST(x_t_post AS DOUBLE) / CAST(n_t AS DOUBLE) * (1.0 - CAST(x_t_post AS DOUBLE) / CAST(n_t AS DOUBLE)) / CAST(n_t AS DOUBLE) + " +
        "CAST(x_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE) * (1.0 - CAST(x_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE)) / CAST(n_t AS DOUBLE) + " +
        "CAST(x_c_post AS DOUBLE) / CAST(n_c AS DOUBLE) * (1.0 - CAST(x_c_post AS DOUBLE) / CAST(n_c AS DOUBLE)) / CAST(n_c AS DOUBLE) + " +
        "CAST(x_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE) * (1.0 - CAST(x_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE)) / CAST(n_c AS DOUBLE)) > 0.0 THEN " +
        "round(((CAST(x_t_post AS DOUBLE) / CAST(n_t AS DOUBLE) - " +
        "CAST(x_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE)) - " +
        "(CAST(x_c_post AS DOUBLE) / CAST(n_c AS DOUBLE) - " +
        "CAST(x_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE))) / sqrt(" +
        "CAST(x_t_post AS DOUBLE) / CAST(n_t AS DOUBLE) * (1.0 - CAST(x_t_post AS DOUBLE) / CAST(n_t AS DOUBLE)) / CAST(n_t AS DOUBLE) + " +
        "CAST(x_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE) * (1.0 - CAST(x_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE)) / CAST(n_t AS DOUBLE) + " +
        "CAST(x_c_post AS DOUBLE) / CAST(n_c AS DOUBLE) * (1.0 - CAST(x_c_post AS DOUBLE) / CAST(n_c AS DOUBLE)) / CAST(n_c AS DOUBLE) + " +
        "CAST(x_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE) * (1.0 - CAST(x_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE)) / CAST(n_c AS DOUBLE)), 6) " +
        "END AS z FROM c"),
    // Mirrors EventOps.sprtDailyAb: the Wald LLR with the ln weights
    // and boundaries interpolated as the EXACT JVM double literals
    // (Scala's shortest round-trip repr — DuckDB parses the same
    // double), so no libm-parity risk exists by construction.
    q("sprt_daily_ab", (s, d) => EventOps.sprtDailyAb(events(s, d)), {
      val lWin = math.log(0.04 / 0.02)
      val lLose = math.log((1.0 - 0.04) / (1.0 - 0.02))
      val upper = math.log((1.0 - 0.05) / 0.05)
      val lower = math.log(0.05 / (1.0 - 0.05))
      "WITH fd AS (SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS day " +
        "FROM events WHERE user_id % 2 = 1 GROUP BY 1), " +
        "fb AS (SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS buy_day " +
        "FROM events WHERE user_id % 2 = 1 AND event_type = 'purchase' GROUP BY 1), " +
        "daily AS (SELECT fd.day, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN fb.buy_day = fd.day THEN 1 ELSE 0 END) AS BIGINT) AS x " +
        "FROM fd LEFT JOIN fb USING (user_id) GROUP BY 1), " +
        "cum AS (SELECT day, n, x, " +
        "CAST(sum(n) OVER (ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) AS cum_n, " +
        "CAST(sum(x) OVER (ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) AS cum_x FROM daily) " +
        s"SELECT day, n, x, cum_n, cum_x, " +
        s"round(CAST(cum_x AS DOUBLE) * ($lWin) + " +
        s"CAST(cum_n - cum_x AS DOUBLE) * ($lLose), 6) AS llr, " +
        s"CASE WHEN CAST(cum_x AS DOUBLE) * ($lWin) + " +
        s"CAST(cum_n - cum_x AS DOUBLE) * ($lLose) >= ($upper) THEN 'accept_h1' " +
        s"WHEN CAST(cum_x AS DOUBLE) * ($lWin) + " +
        s"CAST(cum_n - cum_x AS DOUBLE) * ($lLose) <= ($lower) THEN 'accept_h0' " +
        "ELSE 'continue' END AS decision FROM cum"
    }),
    // Mirrors EventOps.obrienFlemingMonitor: per-user first-activity /
    // first-conversion offsets, five integer interim cutoffs, the
    // abConversionZtest pinned z chain per look, boundary
    // 1.959964*sqrt(K/k).
    q("obrien_fleming_monitor", (s, d) => EventOps.obrienFlemingMonitor(events(s, d)),
      "WITH b AS (SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS d0, " +
        "CAST(date_trunc('day', max(ts)) AS DATE) AS d1 FROM events), " +
        "pu AS (SELECT user_id, user_id % 2 AS arm, d0, " +
        "CAST(datediff('day', d0, d1) + 1 AS BIGINT) AS span, " +
        "CAST(min(datediff('day', d0, CAST(date_trunc('day', ts) AS DATE))) " +
        "AS BIGINT) AS first_off, " +
        "CAST(min(CASE WHEN event_type = 'purchase' AND value >= 90.0 " +
        "THEN datediff('day', d0, CAST(date_trunc('day', ts) AS DATE)) END) " +
        "AS BIGINT) AS conv_off " +
        "FROM events CROSS JOIN b GROUP BY 1, 2, 3, 4), " +
        "lk AS (SELECT arm, d0, first_off, conv_off, " +
        "CAST(look AS BIGINT) AS look, " +
        "CAST(CAST(span * look AS BIGINT) // 5 AS BIGINT) - 1 AS cut FROM pu " +
        "CROSS JOIN (SELECT unnest(range(1, 6)) AS look)), " +
        "ag AS (SELECT look, d0, cut, " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN arm = 0 AND conv_off <= cut THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS conv_a, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN arm = 1 AND conv_off <= cut THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS conv_b " +
        "FROM lk WHERE first_off <= cut GROUP BY 1, 2, 3), " +
        "zc AS (SELECT *, " +
        "CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ra, " +
        "CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rb, " +
        "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * " +
        "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * " +
        "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)) AS vt, " +
        "1.959964 * sqrt(5.0 / CAST(look AS DOUBLE)) AS bound FROM ag) " +
        "SELECT look, d0 + CAST(cut AS INT) AS cutoff_day, " +
        "n_a, conv_a, n_b, conv_b, " +
        "CASE WHEN n_a > 0 AND n_b > 0 AND vt > 0.0 THEN " +
        "round((ra - rb) / sqrt(vt), 6) END AS z_score, " +
        "round(bound, 6) AS obf_bound, " +
        "CASE WHEN n_a > 0 AND n_b > 0 AND vt > 0.0 THEN " +
        "abs((ra - rb) / sqrt(vt)) > bound ELSE false END AS crossed " +
        "FROM zc"),
    // Mirrors EventOps.mdePowerAnalysis: user-level conversion joined
    // onto each type's distinct user set; pinned two-proportion MDE
    // with the z constants as shared literals.
    q("mde_power_analysis", (s, d) => EventOps.mdePowerAnalysis(events(s, d)),
      "WITH conv AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' AND value >= 50.0 " +
        "THEN 1 ELSE 0 END) AS conv FROM events GROUP BY 1), " +
        "tu AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(conv) AS BIGINT) AS n_conv " +
        "FROM tu JOIN conv USING (user_id) GROUP BY 1) " +
        "SELECT event_type, n_users, n_conv, " +
        "round(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS p_hat, " +
        "CASE WHEN CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) > 0.0 AND " +
        "CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) < 1.0 THEN " +
        "round(2.801585 * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) * " +
        "(1.0 - CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) / " +
        "(CAST(n_users AS DOUBLE) / 2.0)), 6) END AS mde_abs, " +
        "CASE WHEN CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) > 0.0 AND " +
        "CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) < 1.0 THEN " +
        "round(2.801585 * sqrt(2.0 * (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) * " +
        "(1.0 - CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) / " +
        "(CAST(n_users AS DOUBLE) / 2.0)) / " +
        "(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)), 6) END AS mde_rel " +
        "FROM s"),
    // Mirrors EventOps.seasonalDecompositionDaily: dense calendar,
    // exact BIGINT MA-7 sums (NULL trend on edges), 1/7-unit detrended
    // values, micro-unit-pinned dow means with exact integer
    // re-centering, pinned output divisions.
    q("seasonal_decomposition_daily", (s, d) => EventOps.seasonalDecompositionDaily(events(s, d)),
      seasonalDecompSql),
    // Mirrors EventOps.isotonicCalibration: the score_calibration_bins
    // bin collapse, exact prefix sums, and the PAV minimax closed form
    // as an (i, j, k) triple join — min/max pick among identical
    // pinned-division doubles.
    q("isotonic_calibration", (s, d) => EventOps.isotonicCalibration(events(s, d)),
      "WITH mm AS (SELECT min(value) AS minv, max(value) AS maxv " +
        "FROM events), " +
        "b AS (SELECT CAST(least(floor((value - minv) / (maxv - minv) " +
        "* 10.0), 9.0) AS BIGINT) AS bin, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y " +
        "FROM events, mm), " +
        "bins AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS n_pos FROM b GROUP BY 1), " +
        "pref AS (SELECT bin, n, n_pos, " +
        "CAST(sum(n_pos) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS sp, " +
        "CAST(sum(n) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS sn FROM bins), " +
        "pe AS (SELECT bin, n, n_pos, sp, sn, " +
        "CAST(sp - n_pos AS BIGINT) AS ep, CAST(sn - n AS BIGINT) AS en " +
        "FROM pref), " +
        "a AS (SELECT i.bin AS bin, j.bin AS jb, " +
        "CAST(k.sp - j.ep AS DOUBLE) / CAST(k.sn - j.en AS DOUBLE) AS avg " +
        "FROM pe i JOIN pe j ON j.bin <= i.bin " +
        "JOIN pe k ON k.bin >= i.bin), " +
        "mn AS (SELECT bin, jb, min(avg) AS mn FROM a GROUP BY 1, 2), " +
        "iso AS (SELECT bin, max(mn) AS iso FROM mn GROUP BY 1) " +
        "SELECT bins.bin, bins.n, bins.n_pos, " +
        "round(CAST(bins.n_pos AS DOUBLE) / CAST(bins.n AS DOUBLE), 6) " +
        "AS pos_rate, round(iso.iso, 6) AS iso_rate " +
        "FROM bins JOIN iso ON iso.bin = bins.bin"),
    // Mirrors EventOps.logrankTestAb: the KM duration/censoring
    // conventions, exact at-risk windowing per arm, micro-unit-pinned
    // hypergeometric E/V terms, one pinned Z chain.
    q("logrank_test_ab", (s, d) => EventOps.logrankTestAb(events(s, d)),
      s"WITH $armTenureCtes, " +
        "ar AS (SELECT byt.*, " +
        "CAST(tot.n_users - sum(ending) OVER (ORDER BY t ASC ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) + ending AS BIGINT) AS n, " +
        "CAST(tot.n_users1 - sum(ending1) OVER (ORDER BY t ASC ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) + ending1 AS BIGINT) AS n1 " +
        "FROM byt CROSS JOIN tot), " +
        "terms AS (SELECT d1, " +
        "CAST(round(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) " +
        "* 1000000.0, 0) AS BIGINT) AS em, " +
        "CAST(round(CASE WHEN n > 1 THEN CAST(d AS DOUBLE) * " +
        "(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)) ELSE 0.0 END " +
        "* 1000000.0, 0) AS BIGINT) AS vm " +
        "FROM ar WHERE d > 0), " +
        "s AS (SELECT CAST(sum(d1) AS BIGINT) AS o1, " +
        "CAST(sum(em) AS BIGINT) AS e1m, CAST(sum(vm) AS BIGINT) AS vm " +
        "FROM terms) " +
        "SELECT CAST(tot.n_users - tot.n_users1 AS BIGINT) AS n_users_a, " +
        "tot.n_users1 AS n_users_b, s.o1 AS observed_b, " +
        "round(CAST(s.e1m AS DOUBLE) / 1000000.0, 6) AS expected_b, " +
        "CASE WHEN s.vm > 0 THEN " +
        "round((CAST(s.o1 AS DOUBLE) - CAST(s.e1m AS DOUBLE) / 1000000.0) / " +
        "sqrt(CAST(s.vm AS DOUBLE) / 1000000.0), 6) END AS logrank_z " +
        "FROM s CROSS JOIN tot"),
    // Mirrors EventOps.coxPhAb: the logrank risk table, then 3
    // identically-unrolled Newton steps — e^beta pinned 12dp per
    // step, per-time score/information terms micro-unit-pinned
    // before their sums; the risk table and each beta MATERIALIZED
    // (the k-truss CTE-inlining lesson).
    q("cox_ph_ab", (s, d) => EventOps.coxPhAb(events(s, d)),
      s"WITH $armTenureCtes, " +
        "rt AS MATERIALIZED (SELECT t, d, d1, " +
        "CAST(n - n1 AS BIGINT) AS n0, n1 FROM (SELECT byt.*, " +
        "CAST(tot.n_users - sum(ending) OVER (ORDER BY t ASC ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) + ending AS BIGINT) AS n, " +
        "CAST(tot.n_users1 - sum(ending1) OVER (ORDER BY t ASC ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) + ending1 AS BIGINT) AS n1 " +
        "FROM byt CROSS JOIN tot) WHERE d > 0), " +
        "b0 AS (SELECT 0.0 AS beta), " +
        "s1 AS (SELECT beta, round(exp(beta), 12) AS eb FROM b0), " +
        "t1 AS (SELECT beta, " +
        "CAST(round((CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * eb / (CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb)) * 1000000.0, 0) AS BIGINT) AS um, " +
        "CAST(round(CAST(d AS DOUBLE) * CAST(n0 AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * eb / ((CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb) * (CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb)) * 1000000.0, 0) AS BIGINT) AS im " +
        "FROM rt CROSS JOIN s1), " +
        "b1 AS MATERIALIZED (SELECT beta + CASE WHEN CAST(sum(im) AS BIGINT) > 0 THEN " +
        "CAST(sum(um) AS DOUBLE) / CAST(sum(im) AS DOUBLE) ELSE 0.0 END " +
        "AS beta FROM t1 GROUP BY beta), " +
        "s2 AS (SELECT beta, round(exp(beta), 12) AS eb FROM b1), " +
        "t2 AS (SELECT beta, " +
        "CAST(round((CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * eb / (CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb)) * 1000000.0, 0) AS BIGINT) AS um, " +
        "CAST(round(CAST(d AS DOUBLE) * CAST(n0 AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * eb / ((CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb) * (CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb)) * 1000000.0, 0) AS BIGINT) AS im " +
        "FROM rt CROSS JOIN s2), " +
        "b2 AS MATERIALIZED (SELECT beta + CASE WHEN CAST(sum(im) AS BIGINT) > 0 THEN " +
        "CAST(sum(um) AS DOUBLE) / CAST(sum(im) AS DOUBLE) ELSE 0.0 END " +
        "AS beta FROM t2 GROUP BY beta), " +
        "s3 AS (SELECT beta, round(exp(beta), 12) AS eb FROM b2), " +
        "t3 AS (SELECT beta, " +
        "CAST(round((CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * eb / (CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb)) * 1000000.0, 0) AS BIGINT) AS um, " +
        "CAST(round(CAST(d AS DOUBLE) * CAST(n0 AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * eb / ((CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb) * (CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb)) * 1000000.0, 0) AS BIGINT) AS im " +
        "FROM rt CROSS JOIN s3), " +
        "b3 AS MATERIALIZED (SELECT beta + CASE WHEN CAST(sum(im) AS BIGINT) > 0 THEN " +
        "CAST(sum(um) AS DOUBLE) / CAST(sum(im) AS DOUBLE) ELSE 0.0 END " +
        "AS beta FROM t3 GROUP BY beta), " +
        "sf AS (SELECT beta, round(exp(beta), 12) AS eb FROM b3), " +
        "tf AS (SELECT beta, " +
        "CAST(round(CAST(d AS DOUBLE) * CAST(n0 AS DOUBLE) * " +
        "CAST(n1 AS DOUBLE) * eb / ((CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb) * (CAST(n0 AS DOUBLE) + " +
        "CAST(n1 AS DOUBLE) * eb)) * 1000000.0, 0) AS BIGINT) AS im " +
        "FROM rt CROSS JOIN sf), " +
        "nf AS (SELECT beta, CAST(sum(im) AS BIGINT) AS im FROM tf " +
        "GROUP BY beta) " +
        "SELECT CAST(tot.n_users - tot.n_users1 AS BIGINT) AS n_users_a, " +
        "tot.n_users1 AS n_users_b, " +
        "CASE WHEN im > 0 THEN round(beta, 6) END AS beta, " +
        "CASE WHEN im > 0 THEN round(exp(beta), 6) END AS hazard_ratio, " +
        "CASE WHEN im > 0 THEN " +
        "round(1.0 / sqrt(CAST(im AS DOUBLE) / 1000000.0), 6) END AS se, " +
        "CASE WHEN im > 0 THEN " +
        "round(beta * sqrt(CAST(im AS DOUBLE) / 1000000.0), 6) END " +
        "AS z_score, " +
        "CASE WHEN im > 0 THEN " +
        "abs(beta * sqrt(CAST(im AS DOUBLE) / 1000000.0)) > 1.959964 " +
        "ELSE false END AS significant FROM nf CROSS JOIN tot"),
    // Mirrors EventOps.propensityStratifiedAte: pre-period activity
    // quintiles (ntile ≡ the two-level globalNtile, the rfm parity),
    // exact per-stratum cells, micro-unit-pinned ATE terms; strata
    // missing an arm drop from both sides of the weighted sum.
    q("propensity_stratified_ate", (s, d) => EventOps.propensityStratifiedAte(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi " +
        "FROM events), " +
        "pu AS (SELECT user_id, user_id % 2 AS arm, " +
        "CAST(sum(CASE WHEN epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS x, " +
        "max(CASE WHEN event_type = 'purchase' AND " +
        "epoch_us(ts) > CAST((lo + hi) // 2 AS BIGINT) THEN 1 ELSE 0 END) AS y " +
        "FROM events CROSS JOIN b GROUP BY 1, 2), " +
        "t AS (SELECT *, CAST(ntile(5) OVER (ORDER BY x ASC, user_id ASC) " +
        "AS BIGINT) AS stratum FROM pu), " +
        "s AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t, " +
        "CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS conv_t, " +
        "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c, " +
        "CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS conv_c " +
        "FROM t GROUP BY 1), " +
        "terms AS (SELECT CASE WHEN n_t > 0 AND n_c > 0 THEN n_users " +
        "ELSE 0 END AS nw, " +
        "CASE WHEN n_t > 0 AND n_c > 0 THEN CAST(round((" +
        "CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE) - " +
        "CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) * " +
        "CAST(n_users AS DOUBLE) * 1000000.0, 0) AS BIGINT) ELSE 0 END AS em " +
        "FROM s), " +
        "a AS (SELECT CAST(sum(em) AS BIGINT) AS ems, " +
        "CAST(sum(nw) AS BIGINT) AS nws FROM terms) " +
        "SELECT s.stratum, s.n_users, s.n_t, s.conv_t, s.n_c, s.conv_c, " +
        "CASE WHEN s.n_t > 0 AND s.n_c > 0 THEN " +
        "round(CAST(s.conv_t AS DOUBLE) / CAST(s.n_t AS DOUBLE) - " +
        "CAST(s.conv_c AS DOUBLE) / CAST(s.n_c AS DOUBLE), 6) END AS effect, " +
        "CASE WHEN a.nws > 0 THEN round(CAST(a.ems AS DOUBLE) / " +
        "(CAST(a.nws AS DOUBLE) * 1000000.0), 6) END AS ate " +
        "FROM s CROSS JOIN a"),
    // Mirrors EventOps.seasonalAnomalies: the shared decomposition
    // wrapped as a CTE, MAD-robust z over the 6dp-rounded residuals,
    // the division guarded behind the MAD > 0 case on BOTH rails.
    q("seasonal_anomalies", (s, d) => EventOps.seasonalAnomalies(events(s, d)),
      "WITH dec AS (" + seasonalDecompSql + "), " +
        "f AS (SELECT * FROM dec WHERE residual IS NOT NULL), " +
        "med AS (SELECT median(residual) AS med_res FROM f), " +
        "mad AS (SELECT median(abs(residual - med_res)) AS mad_res, " +
        "max(med_res) AS med_res FROM f CROSS JOIN med) " +
        "SELECT f.day, f.n, f.residual, " +
        "round(mad.med_res, 6) AS med_res, " +
        "round(mad.mad_res, 6) AS mad_res, " +
        "CASE WHEN mad.mad_res > 0.0 THEN " +
        "round((f.residual - mad.med_res) / (1.4826 * mad.mad_res), 6) " +
        "END AS robust_z, " +
        "CASE WHEN mad.mad_res > 0.0 THEN " +
        "abs((f.residual - mad.med_res) / (1.4826 * mad.mad_res)) > 3.0 " +
        "ELSE false END AS is_anomaly " +
        "FROM f CROSS JOIN mad"),
    // Mirrors EventOps.abSrmCheck: exact distinct-user parity cells,
    // chi2 = (a−b)²/n, the 1-dof 5% critical literal on both rails.
    q("ab_srm_check", (s, d) => EventOps.abSrmCheck(events(s, d)),
      "WITH u AS (SELECT DISTINCT user_id FROM events), " +
        "c AS (SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b " +
        "FROM u) " +
        "SELECT n_users, n_a, n_b, " +
        "CASE WHEN n_users > 0 THEN " +
        "round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE) / " +
        "CAST(n_users AS DOUBLE), 6) END AS srm_chi2, " +
        "coalesce(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE) / " +
        "CAST(n_users AS DOUBLE) > 3.841459, false) AS srm_mismatch " +
        "FROM c"),
    // Mirrors EventOps.eceScore: the shared calibration-bins CTE,
    // published-6dp gaps re-pinned to micro-units, exact weighted sum.
    q("ece_score", (s, d) => EventOps.eceScore(events(s, d)),
      "WITH bins AS (" + calibrationBinsSql + "), " +
        "t AS (SELECT n, CAST(round(abs(pos_rate - mean_score) * 1000000.0, 0) " +
        "AS BIGINT) AS em FROM bins), " +
        "s AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, " +
        "CAST(count(*) AS BIGINT) AS n_bins, " +
        "CAST(sum(CAST(n AS HUGEINT) * em) AS HUGEINT) AS wsum, " +
        "CAST(max(em) AS BIGINT) AS mm FROM t) " +
        "SELECT n_total, n_bins, " +
        "round(CAST(wsum AS DOUBLE) / (CAST(n_total AS DOUBLE) * 1000000.0), 6) " +
        "AS ece, round(CAST(mm AS DOUBLE) / 1000000.0, 6) AS mce FROM s"),
    // Mirrors EventOps.quantileNormalizeByType: per-type ranks, the
    // flat global row_number (≡ the two-level globalRank by the
    // RankOpsSpec parity), the exact round-half-up integer position
    // map, one equi-join on j.
    q("quantile_normalize_by_type", (s, d) => EventOps.quantileNormalizeByType(events(s, d)),
      "WITH base AS (SELECT event_id, event_type, value FROM events), " +
        "rt AS (SELECT event_id, event_type, value, " +
        "CAST(row_number() OVER (PARTITION BY event_type " +
        "ORDER BY value ASC, event_id ASC) AS BIGINT) AS r_t, " +
        "CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_t " +
        "FROM base), " +
        "g AS (SELECT CAST(row_number() OVER (ORDER BY value ASC, " +
        "event_id ASC) AS BIGINT) AS j, value AS norm_value FROM base), " +
        "na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM base), " +
        "jj AS (SELECT event_id, event_type, value, " +
        "CASE WHEN n_t = 1 THEN CAST((n_all + 1) // 2 AS BIGINT) " +
        "ELSE CAST(1 + (2 * (r_t - 1) * (n_all - 1) + (n_t - 1)) // " +
        "(2 * (n_t - 1)) AS BIGINT) END AS j FROM rt CROSS JOIN na) " +
        "SELECT jj.event_id, jj.event_type, jj.value, " +
        "round(g.norm_value, 6) AS norm_value FROM jj JOIN g USING (j)"),
    // Mirrors EventOps.bootstrapCiRevenue: the shared knuthHash32
    // uniform through the identical Poisson(1) CDF thresholds, exact
    // BIGINT weighted sums per replicate, percentile ≡ quantile_cont.
    q("bootstrap_ci_revenue", (s, d) => EventOps.bootstrapCiRevenue(events(s, d)), {
      val h = graft.ops.DocOps.knuthHash32Sql("(user_id * 32 + r)")
      "WITH pu AS (SELECT user_id, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS y FROM events GROUP BY 1), " +
        "ex AS (SELECT user_id, y, CAST(unnest(range(32)) AS BIGINT) AS r " +
        "FROM pu), " +
        s"wt AS (SELECT r, y, CAST(($h) AS DOUBLE) / 4294967296.0 AS u " +
        "FROM ex), " +
        "ww AS (SELECT r, y, CASE WHEN u < 0.367879441 THEN 0 " +
        "WHEN u < 0.735758882 THEN 1 WHEN u < 0.919698603 THEN 2 " +
        "WHEN u < 0.981011843 THEN 3 WHEN u < 0.996340153 THEN 4 " +
        "WHEN u < 0.999405815 THEN 5 WHEN u < 0.999916758 THEN 6 " +
        "ELSE 7 END AS w FROM wt), " +
        "rm AS (SELECT r, CAST(sum(w * y) AS BIGINT) AS wy, " +
        "CAST(sum(w) AS BIGINT) AS ws FROM ww GROUP BY 1), " +
        "means AS (SELECT CAST(wy AS DOUBLE) / 100.0 / CAST(ws AS DOUBLE) " +
        "AS m FROM rm WHERE ws > 0), " +
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n_replicates, " +
        "round(quantile_cont(m, 0.025), 6) AS ci_low, " +
        "round(quantile_cont(m, 0.975), 6) AS ci_high FROM means), " +
        "obs AS (SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(y) AS BIGINT) AS sy FROM pu) " +
        "SELECT obs.n_users, agg.n_replicates, " +
        "round(CAST(obs.sy AS DOUBLE) / 100.0 / CAST(obs.n_users AS DOUBLE), 6) " +
        "AS mean_obs, agg.ci_low, agg.ci_high FROM agg CROSS JOIN obs"
    }),
    // Mirrors EventOps.cohensDTypePairs: exact cents moments, the
    // Welch variance form, pinned pooled-sd chain, the conventional
    // magnitude ladder.
    q("cohens_d_type_pairs", (s, d) => EventOps.cohensDTypePairs(events(s, d)),
      "WITH m AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS s, " +
        "CAST(sum(CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) " +
        "AS HUGEINT) * CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS HUGEINT) AS ss FROM events GROUP BY 1), " +
        "p AS (SELECT a.t AS type_a, b.t AS type_b, a.n AS n_a, b.n AS n_b, " +
        "a.s AS s_a, b.s AS s_b, a.ss AS ss_a, b.ss AS ss_b " +
        "FROM m a JOIN m b ON a.t < b.t), " +
        "d AS (SELECT *, " +
        "CAST(s_a AS DOUBLE) / 100.0 / CAST(n_a AS DOUBLE) AS ma, " +
        "CAST(s_b AS DOUBLE) / 100.0 / CAST(n_b AS DOUBLE) AS mb, " +
        "((CAST(n_a AS DOUBLE) - 1.0) * (CAST(CAST(n_a AS HUGEINT) * ss_a - " +
        "CAST(s_a AS HUGEINT) * s_a AS DOUBLE) / 10000.0 / " +
        "(CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))) + " +
        "(CAST(n_b AS DOUBLE) - 1.0) * (CAST(CAST(n_b AS HUGEINT) * ss_b - " +
        "CAST(s_b AS HUGEINT) * s_b AS DOUBLE) / 10000.0 / " +
        "(CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)))) / " +
        "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0) AS pv FROM p) " +
        "SELECT type_a, type_b, n_a, n_b, round(ma, 6) AS mean_a, " +
        "round(mb, 6) AS mean_b, " +
        "CASE WHEN n_a >= 2 AND n_b >= 2 AND pv > 0.0 THEN " +
        "round((ma - mb) / sqrt(pv), 6) END AS cohens_d, " +
        "CASE WHEN n_a >= 2 AND n_b >= 2 AND pv > 0.0 THEN " +
        "CASE WHEN abs((ma - mb) / sqrt(pv)) < 0.2 THEN 'negligible' " +
        "WHEN abs((ma - mb) / sqrt(pv)) < 0.5 THEN 'small' " +
        "WHEN abs((ma - mb) / sqrt(pv)) < 0.8 THEN 'medium' " +
        "ELSE 'large' END END AS magnitude FROM d"),
    // Mirrors EventOps.qiniUpliftDeciles: integer-division deciles over
    // the (score desc, user_id) total order, cumulative BIGINT cells,
    // fixed-order rate/qini doubles.
    q("qini_uplift_deciles", (s, d) => EventOps.qiniUpliftDeciles(events(s, d)),
      "WITH per AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS score, " +
        "CAST(max(CASE WHEN event_type = 'purchase' AND value >= 90.0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS conv, " +
        "CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS treated FROM events GROUP BY 1), " +
        "ranked AS (SELECT *, " +
        "row_number() OVER (ORDER BY score DESC, user_id ASC) AS rn, " +
        "CAST(count(*) OVER () AS BIGINT) AS n FROM per), " +
        "dec AS (SELECT CAST(((rn - 1) * 10) // n + 1 AS BIGINT) " +
        "AS decile, treated, conv FROM ranked), " +
        "pd AS (SELECT decile, CAST(sum(treated) AS BIGINT) AS d_nt, " +
        "CAST(sum(1 - treated) AS BIGINT) AS d_nc, " +
        "CAST(sum(treated * conv) AS BIGINT) AS d_ct, " +
        "CAST(sum((1 - treated) * conv) AS BIGINT) AS d_cc " +
        "FROM dec GROUP BY 1), " +
        "cum AS (SELECT decile, " +
        "CAST(sum(d_nt) OVER (ORDER BY decile ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_t, " +
        "CAST(sum(d_nc) OVER (ORDER BY decile ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_c, " +
        "CAST(sum(d_ct) OVER (ORDER BY decile ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conv_t, " +
        "CAST(sum(d_cc) OVER (ORDER BY decile ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conv_c FROM pd) " +
        "SELECT decile, n_t, n_c, conv_t, conv_c, " +
        "CASE WHEN n_t > 0 AND n_c > 0 THEN " +
        "round(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE) - " +
        "CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) END AS uplift, " +
        "CASE WHEN n_c > 0 THEN round(CAST(conv_t AS DOUBLE) - " +
        "CAST(conv_c AS DOUBLE) * CAST(n_t AS DOUBLE) / " +
        "CAST(n_c AS DOUBLE), 6) END AS qini " +
        "FROM cum ORDER BY decile"),
    // Mirrors EventOps.ipsPolicyValue: exact (isodow,type) cell
    // masses, modal action by (count desc, type), the per-dow matched
    // mean scaled by dow prevalence, 7-term policy sum.
    q("ips_policy_value", (s, d) => EventOps.ipsPolicyValue(events(s, d)),
      "WITH cells AS (SELECT (date_diff('day', DATE '1970-01-01', " +
        "CAST(ts AS DATE)) + 3) % 7 + 1 AS isodow, event_type, " +
        "CAST(count(*) AS BIGINT) AS n_cell, " +
        "CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "AS BIGINT) AS cents_cell FROM events GROUP BY 1, 2), " +
        "bydow AS (SELECT isodow, CAST(sum(n_cell) AS BIGINT) AS n_dow " +
        "FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_dow) AS BIGINT) AS n FROM bydow), " +
        "totr AS (SELECT CAST(sum(cents_cell) AS BIGINT) AS cents_all " +
        "FROM cells), " +
        "modal AS (SELECT * FROM (SELECT c.*, row_number() OVER (" +
        "PARTITION BY isodow ORDER BY n_cell DESC, event_type ASC) " +
        "AS rk FROM cells c) WHERE rk = 1), " +
        "terms AS (SELECT m.isodow, m.event_type AS action, b.n_dow, " +
        "m.n_cell AS n_action, " +
        "round(CAST(m.n_cell AS DOUBLE) / CAST(b.n_dow AS DOUBLE), 6) " +
        "AS propensity, " +
        "round(CAST(m.cents_cell AS DOUBLE) / 100.0 / " +
        "CAST(m.n_cell AS DOUBLE), 6) AS action_mean_value, " +
        "CAST(m.cents_cell AS DOUBLE) / 100.0 / " +
        "CAST(m.n_cell AS DOUBLE) * CAST(b.n_dow AS DOUBLE) / " +
        "CAST(t.n AS DOUBLE) AS contrib_raw " +
        "FROM modal m JOIN bydow b USING (isodow) CROSS JOIN tot t), " +
        "policy AS (SELECT sum(CAST(contrib_raw AS DOUBLE)) AS pv " +
        "FROM terms), " +
        "base AS (SELECT CAST(cents_all AS DOUBLE) / 100.0 / " +
        "CAST(n AS DOUBLE) AS bv FROM totr CROSS JOIN tot) " +
        "SELECT isodow, action, n_dow, n_action, propensity, " +
        "action_mean_value, round(pv, 6) AS policy_value, " +
        "round(bv, 6) AS logging_value, " +
        "round(pv - bv, 6) AS policy_lift " +
        "FROM terms CROSS JOIN policy CROSS JOIN base ORDER BY isodow"),
    // Mirrors EventOps.brownForsytheValue: per-type lower median on
    // the cent grid (moods convention), exact integer deviation
    // moments, each si^2/ni term half-up-pinned in micro-units
    // (HUGEINT (2a+b)//(2b) = Num.halfUpRatio), SSB/SSW exact BIGINTs
    // until the final IEEE divisions.
    q("brown_forsythe_value", (s, d) => EventOps.brownForsytheValue(events(s, d)),
      "WITH grid AS (SELECT event_type, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cv, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "tots AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt " +
        "FROM grid GROUP BY 1), " +
        "med AS (SELECT event_type, CAST(min(cv) AS BIGINT) AS med " +
        "FROM (SELECT g.event_type, g.cv, " +
        "CAST(sum(g.n) OVER (PARTITION BY g.event_type ORDER BY g.cv " +
        "ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, t.nt " +
        "FROM grid g JOIN tots t USING (event_type)) " +
        "WHERE cum * 2 >= nt GROUP BY 1), " +
        "dev AS (SELECT g.event_type, g.n, abs(g.cv - m.med) AS z " +
        "FROM grid g JOIN med m USING (event_type)), " +
        "per AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS ni, " +
        "CAST(sum(n * z) AS BIGINT) AS si, " +
        "CAST(sum(n * z * z) AS BIGINT) AS qi FROM dev GROUP BY 1), " +
        "per2 AS (SELECT *, CAST((2 * CAST(si AS HUGEINT) * si * " +
        "1000000 + ni) // (2 * CAST(ni AS HUGEINT)) AS BIGINT) " +
        "AS t_micro FROM per), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(ni) AS BIGINT) AS nn, CAST(sum(si) AS BIGINT) AS ss, " +
        "CAST(sum(qi) AS BIGINT) AS qsum, " +
        "CAST(sum(t_micro) AS BIGINT) AS tsum FROM per2), " +
        "s2 AS (SELECT *, qsum * 1000000 - tsum AS ssw_micro, " +
        "tsum - CAST((2 * CAST(ss AS HUGEINT) * ss * 1000000 + nn) " +
        "// (2 * CAST(nn AS HUGEINT)) AS BIGINT) AS ssb_micro FROM s) " +
        "SELECT k AS n_types, nn AS n_total, k - 1 AS df1, " +
        "nn - k AS df2, " +
        "round(CAST(ssb_micro AS DOUBLE) / 1000000.0, 6) AS ssb, " +
        "round(CAST(ssw_micro AS DOUBLE) / 1000000.0, 6) AS ssw, " +
        "CASE WHEN ssw_micro > 0 AND k > 1 THEN round(" +
        "CAST(ssb_micro AS DOUBLE) / 1000000.0 / " +
        "CAST(k - 1 AS DOUBLE) / (CAST(ssw_micro AS DOUBLE) / " +
        "1000000.0 / CAST(nn - k AS DOUBLE)), 6) END AS f_stat " +
        "FROM s2"),
    // Mirrors EventOps.transferEntropyDaily: dense calendar, per-series
    // lower-median binarization, exact 8-cell transition counts, one
    // fixed-order log ratio per cell.
    q("transfer_entropy_daily", (s, d) => EventOps.transferEntropyDaily(events(s, d)),
      "WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM events " +
        "WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2), " +
        s"${calendarCte("daily", "cal")}, " +
        "sv AS (SELECT cal.day, coalesce(v.cnt, 0) AS c FROM cal " +
        "LEFT JOIN (SELECT day, cnt FROM daily " +
        "WHERE event_type = 'view') v ON v.day = cal.day), " +
        "sp AS (SELECT cal.day, coalesce(p.cnt, 0) AS c FROM cal " +
        "LEFT JOIN (SELECT day, cnt FROM daily " +
        "WHERE event_type = 'purchase') p ON p.day = cal.day), " +
        "gv AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM sv " +
        "GROUP BY 1), " +
        "mv AS (SELECT CAST(min(c) AS BIGINT) AS med FROM (" +
        "SELECT c, CAST(sum(n) OVER (ORDER BY c ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
        "(SELECT CAST(sum(n) AS BIGINT) FROM gv) AS nt FROM gv) " +
        "WHERE cum * 2 >= nt), " +
        "gp AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM sp " +
        "GROUP BY 1), " +
        "mp AS (SELECT CAST(min(c) AS BIGINT) AS med FROM (" +
        "SELECT c, CAST(sum(n) OVER (ORDER BY c ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, " +
        "(SELECT CAST(sum(n) AS BIGINT) FROM gp) AS nt FROM gp) " +
        "WHERE cum * 2 >= nt), " +
        "joined AS (SELECT sv.day, " +
        "CAST(CASE WHEN sv.c > mv.med THEN 1 ELSE 0 END AS BIGINT) " +
        "AS xb, " +
        "CAST(CASE WHEN sp.c > mp.med THEN 1 ELSE 0 END AS BIGINT) " +
        "AS yb FROM sv JOIN sp ON sv.day = sp.day " +
        "CROSS JOIN mv CROSS JOIN mp), " +
        "trans AS MATERIALIZED (SELECT * FROM (SELECT xb, yb, " +
        "lead(yb) OVER (ORDER BY day ASC) AS y1, " +
        "lead(xb) OVER (ORDER BY day ASC) AS x1 FROM joined) " +
        "WHERE y1 IS NOT NULL), " +
        "ca AS (SELECT xb AS x0, yb AS y0, y1, " +
        "CAST(count(*) AS BIGINT) AS c FROM trans GROUP BY 1, 2, 3), " +
        "cb AS (SELECT yb AS x0, xb AS y0, x1 AS y1, " +
        "CAST(count(*) AS BIGINT) AS c FROM trans GROUP BY 1, 2, 3), " +
        "ta AS (SELECT 'view_to_purchase' AS direction, " +
        "CAST(max(nt) AS BIGINT) AS n_transitions, " +
        "round(sum(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE) * " +
        "ln(CAST(c * c_y0 AS DOUBLE) / " +
        "CAST(c_x0y0 * c_y0y1 AS DOUBLE))) + 0.0, 6) AS te_nats " +
        "FROM (SELECT ca.*, " +
        "CAST(sum(c) OVER (PARTITION BY y0, y1) AS BIGINT) AS c_y0y1, " +
        "CAST(sum(c) OVER (PARTITION BY x0, y0) AS BIGINT) AS c_x0y0, " +
        "CAST(sum(c) OVER (PARTITION BY y0) AS BIGINT) AS c_y0, " +
        "CAST(sum(c) OVER () AS BIGINT) AS nt FROM ca)), " +
        "tb AS (SELECT 'purchase_to_view' AS direction, " +
        "CAST(max(nt) AS BIGINT) AS n_transitions, " +
        "round(sum(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE) * " +
        "ln(CAST(c * c_y0 AS DOUBLE) / " +
        "CAST(c_x0y0 * c_y0y1 AS DOUBLE))) + 0.0, 6) AS te_nats " +
        "FROM (SELECT cb.*, " +
        "CAST(sum(c) OVER (PARTITION BY y0, y1) AS BIGINT) AS c_y0y1, " +
        "CAST(sum(c) OVER (PARTITION BY x0, y0) AS BIGINT) AS c_x0y0, " +
        "CAST(sum(c) OVER (PARTITION BY y0) AS BIGINT) AS c_y0, " +
        "CAST(sum(c) OVER () AS BIGINT) AS nt FROM cb)) " +
        "SELECT * FROM ta UNION ALL SELECT * FROM tb " +
        "ORDER BY direction"),
    // Mirrors EventOps.holmMwTypePairs: the bh pipeline with the
    // step-DOWN q = p*(m-rk+1) and the prefix MAX via a.rk <= b.rk.
    q("holm_mw_type_pairs", (s, d) => EventOps.holmMwTypePairs(events(s, d)),
      s"WITH $mwPValueCtes, " +
        "rk AS (SELECT b.type_a, b.type_b, b.z, b.p, " +
        "CAST(count(a.p) + 1 AS BIGINT) AS rk FROM pp b LEFT JOIN pp a " +
        "ON (a.p < b.p) OR (a.p = b.p AND (a.type_a < b.type_a OR " +
        "(a.type_a = b.type_a AND a.type_b < b.type_b))) " +
        "GROUP BY 1, 2, 3, 4), " +
        "q AS (SELECT *, round(least(p * " +
        "CAST((SELECT m FROM m) - rk + 1 AS DOUBLE), 1.0), 6) AS q " +
        "FROM rk) " +
        "SELECT b.type_a, b.type_b, b.z, b.p AS p_raw, b.rk, " +
        "max(a.q) AS p_holm, max(a.q) <= 0.05 AS rejected " +
        "FROM q b JOIN q a ON a.rk <= b.rk GROUP BY 1, 2, 3, 4, 5"),
    // Mirrors EventOps.somersDConv: activity-grid U-statistic, exact
    // BIGINT C/D/T from one cumulative pass, two pinned divisions.
    q("somers_d_conv", (s, d) => EventOps.somersDConv(events(s, d)),
      "WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS score, " +
        "CAST(max(CASE WHEN event_type = 'purchase' AND value >= 90.0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM events GROUP BY 1), " +
        "grid AS (SELECT score, CAST(sum(conv) AS BIGINT) AS n1, " +
        "CAST(sum(1 - conv) AS BIGINT) AS n0 FROM per GROUP BY 1), " +
        "cum AS (SELECT *, CAST(coalesce(sum(n0) OVER (ORDER BY score " +
        "ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "AS BIGINT) AS n0_lt, " +
        "CAST(coalesce(sum(n1) OVER (ORDER BY score ASC ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1_lt " +
        "FROM grid), " +
        "t AS (SELECT CAST(sum(n1) AS BIGINT) AS nc, " +
        "CAST(sum(n0) AS BIGINT) AS nn, " +
        "CAST(sum(n1 * n0_lt) AS BIGINT) AS concordant, " +
        "CAST(sum(n0 * n1_lt) AS BIGINT) AS discordant, " +
        "CAST(sum(n1 * n0) AS BIGINT) AS tied FROM cum) " +
        "SELECT nc AS n_conv, nn AS n_nonconv, concordant, discordant, " +
        "tied, CASE WHEN nc * nn > 0 THEN round(" +
        "CAST(concordant - discordant AS DOUBLE) / " +
        "CAST(nc * nn AS DOUBLE), 6) END AS somers_d, " +
        "CASE WHEN nc * nn > 0 THEN round(" +
        "CAST(2 * concordant + tied AS DOUBLE) / " +
        "CAST(2 * (nc * nn) AS DOUBLE), 6) END AS auc FROM t"),
    // Mirrors EventOps.aalenJohansenCif: km risk sets, 10dp-DECIMAL
    // EXCLUSIVE ln prefix for S(t-), 1e-12 micro-pinned CIF
    // increments, cause split on purchase-on-last-day.
    q("aalen_johansen_cif", (s, d) => EventOps.aalenJohansenCif(events(s, d)),
      "WITH u AS (SELECT user_id, CAST(min(ts) AS DATE) AS f, " +
        "CAST(max(ts) AS DATE) AS l, " +
        "CAST(max(CASE WHEN event_type = 'purchase' THEN ts END) " +
        "AS DATE) AS pd FROM events GROUP BY 1), " +
        "mx AS (SELECT CAST(max(ts) AS DATE) AS max_day FROM events), " +
        "dur AS (SELECT CAST(datediff('day', f, l) + 1 AS BIGINT) AS t, " +
        "CASE WHEN l < max_day THEN 1 ELSE 0 END AS observed, " +
        "CASE WHEN pd IS NOT NULL AND pd = l THEN 1 ELSE 0 END " +
        "AS conv_exit FROM u CROSS JOIN mx), " +
        "byt AS (SELECT t, CAST(count(*) AS BIGINT) AS ending, " +
        "CAST(sum(observed) AS BIGINT) AS d, " +
        "CAST(sum(observed * conv_exit) AS BIGINT) AS d1 " +
        "FROM dur GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM dur), " +
        "ar AS (SELECT t, d, d1, n_users - CAST(sum(ending) OVER (" +
        "ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) + ending " +
        "AS n FROM byt CROSS JOIN tot), " +
        "ws AS (SELECT *, coalesce(CAST(sum(CASE WHEN d > 0 AND n > d " +
        "THEN CAST(round(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE))" +
        ", 10) AS DECIMAL(38,10)) END) OVER (ORDER BY t ASC ROWS " +
        "BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
        "AS DECIMAL(38,10)), CAST(0 AS DECIMAL(38,10))) AS lns_prev " +
        "FROM ar), " +
        "ws2 AS (SELECT *, exp(CAST(lns_prev AS DOUBLE)) AS s_prev " +
        "FROM ws), " +
        "h AS (SELECT CAST(unnest([1, 7, 14, 30]) AS INT) AS horizon), " +
        "curve AS (SELECT horizon, CAST(sum(d1) AS BIGINT) AS e1, " +
        "CAST(sum(d - d1) AS BIGINT) AS e2, " +
        "CAST(sum(CAST(round(s_prev * CAST(d1 AS DOUBLE) / " +
        "CAST(n AS DOUBLE) * 1000000000000.0, 0) AS BIGINT)) " +
        "AS BIGINT) AS m1, " +
        "CAST(sum(CAST(round(s_prev * CAST(d - d1 AS DOUBLE) / " +
        "CAST(n AS DOUBLE) * 1000000000000.0, 0) AS BIGINT)) " +
        "AS BIGINT) AS m2 " +
        "FROM ws2 CROSS JOIN h WHERE t <= horizon GROUP BY 1), " +
        "fl AS (SELECT h.horizon, curve.e1, curve.e2, curve.m1, " +
        "curve.m2 FROM h LEFT JOIN curve USING (horizon)) " +
        "SELECT horizon, 'converted_exit' AS cause, " +
        "CAST(coalesce(e1, 0) AS BIGINT) AS n_exits, " +
        "coalesce(round(CAST(m1 AS DOUBLE) / 1000000000000.0, 6), 0.0) " +
        "AS cif FROM fl " +
        "UNION ALL SELECT horizon, 'abandoned_exit' AS cause, " +
        "CAST(coalesce(e2, 0) AS BIGINT) AS n_exits, " +
        "coalesce(round(CAST(m2 AS DOUBLE) / 1000000000000.0, 6), 0.0) " +
        "AS cif FROM fl ORDER BY horizon, cause"),
    // Mirrors EventOps.mcfRecurrentPurchases: tenure risk sets via the
    // tiny-grid non-equi join, 1e-12 micro-pinned d/n increments.
    q("mcf_recurrent_purchases", (s, d) => EventOps.mcfRecurrentPurchases(events(s, d)),
      "WITH entry AS (SELECT user_id, CAST(min(ts) AS DATE) AS f " +
        "FROM events GROUP BY 1), " +
        "mx AS (SELECT CAST(max(ts) AS DATE) AS max_day FROM events), " +
        "uw AS (SELECT user_id, f, " +
        "CAST(datediff('day', f, max_day) + 1 AS BIGINT) AS wl " +
        "FROM entry CROSS JOIN mx), " +
        "p AS (SELECT CAST(datediff('day', uw.f, CAST(e.ts AS DATE)) " +
        "+ 1 AS BIGINT) AS t FROM events e JOIN uw " +
        "ON e.user_id = uw.user_id WHERE e.event_type = 'purchase'), " +
        "dbyt AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM p " +
        "GROUP BY 1), " +
        "wend AS (SELECT wl, CAST(count(*) AS BIGINT) AS n_ending " +
        "FROM uw GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM uw), " +
        "withn AS (SELECT t, d, n_users - shorter AS n_check FROM (" +
        "SELECT d.t, d.d, CAST(coalesce(sum(we.n_ending), 0) AS BIGINT) " +
        "AS shorter FROM dbyt d LEFT JOIN wend we ON we.wl < d.t " +
        "GROUP BY 1, 2) CROSS JOIN tot), " +
        "h AS (SELECT CAST(unnest([1, 7, 14, 30]) AS INT) AS horizon), " +
        "curve AS (SELECT horizon, CAST(sum(d) AS BIGINT) " +
        "AS n_purchases, CAST(sum(CAST(round(CAST(d AS DOUBLE) / " +
        "CAST(n_check AS DOUBLE) * 1000000000000.0, 0) AS BIGINT)) " +
        "AS BIGINT) AS mm FROM withn CROSS JOIN h WHERE t <= horizon " +
        "GROUP BY 1) " +
        "SELECT h.horizon, CAST(coalesce(n_purchases, 0) AS BIGINT) " +
        "AS n_purchases, coalesce(round(CAST(mm AS DOUBLE) / " +
        "1000000000000.0, 6), 0.0) AS mcf " +
        "FROM h LEFT JOIN curve USING (horizon) ORDER BY horizon"),
    // Mirrors EventOps.didParityArms: mmd midpoint split, parity arms,
    // exact cent moments per cell, fixed-order mean/variance chain.
    q("did_parity_arms", (s, d) => EventOps.didParityArms(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, " +
        "max(epoch_us(ts)) AS hi FROM events), " +
        "cells AS (SELECT user_id % 2 AS arm, " +
        "CASE WHEN epoch_us(ts) <= CAST((lo + hi) // 2 AS BIGINT) " +
        "THEN 1 ELSE 2 END AS half, " +
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c " +
        "FROM events CROSS JOIN b), " +
        "g AS (SELECT arm, half, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(c) AS BIGINT) AS s, " +
        "CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q " +
        "FROM cells GROUP BY 1, 2), " +
        "j AS (SELECT " +
        "CAST(max(CASE WHEN arm = 0 AND half = 1 THEN n END) AS BIGINT) AS n_a1, " +
        "CAST(max(CASE WHEN arm = 0 AND half = 1 THEN s END) AS BIGINT) AS s_a1, " +
        "max(CASE WHEN arm = 0 AND half = 1 THEN q END) AS q_a1, " +
        "CAST(max(CASE WHEN arm = 0 AND half = 2 THEN n END) AS BIGINT) AS n_a2, " +
        "CAST(max(CASE WHEN arm = 0 AND half = 2 THEN s END) AS BIGINT) AS s_a2, " +
        "max(CASE WHEN arm = 0 AND half = 2 THEN q END) AS q_a2, " +
        "CAST(max(CASE WHEN arm = 1 AND half = 1 THEN n END) AS BIGINT) AS n_b1, " +
        "CAST(max(CASE WHEN arm = 1 AND half = 1 THEN s END) AS BIGINT) AS s_b1, " +
        "max(CASE WHEN arm = 1 AND half = 1 THEN q END) AS q_b1, " +
        "CAST(max(CASE WHEN arm = 1 AND half = 2 THEN n END) AS BIGINT) AS n_b2, " +
        "CAST(max(CASE WHEN arm = 1 AND half = 2 THEN s END) AS BIGINT) AS s_b2, " +
        "max(CASE WHEN arm = 1 AND half = 2 THEN q END) AS q_b2 FROM g) " +
        "SELECT n_a1, n_a2, n_b1, n_b2, " +
        "round(CAST(s_a2 AS DOUBLE) / 100.0 / CAST(n_a2 AS DOUBLE) - " +
        "CAST(s_a1 AS DOUBLE) / 100.0 / CAST(n_a1 AS DOUBLE), 6) " +
        "AS delta_a, " +
        "round(CAST(s_b2 AS DOUBLE) / 100.0 / CAST(n_b2 AS DOUBLE) - " +
        "CAST(s_b1 AS DOUBLE) / 100.0 / CAST(n_b1 AS DOUBLE), 6) " +
        "AS delta_b, " +
        "round((CAST(s_a2 AS DOUBLE) / 100.0 / CAST(n_a2 AS DOUBLE) - " +
        "CAST(s_a1 AS DOUBLE) / 100.0 / CAST(n_a1 AS DOUBLE)) - " +
        "(CAST(s_b2 AS DOUBLE) / 100.0 / CAST(n_b2 AS DOUBLE) - " +
        "CAST(s_b1 AS DOUBLE) / 100.0 / CAST(n_b1 AS DOUBLE)), 6) " +
        "AS did, " +
        "CASE WHEN n_a1 > 1 AND n_a2 > 1 AND n_b1 > 1 AND n_b2 > 1 AND " +
        "(CAST(q_a1 AS DOUBLE) - CAST(s_a1 AS DOUBLE) * CAST(s_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE)) / CAST(n_a1 - 1 AS DOUBLE) / 10000.0 / CAST(n_a1 AS DOUBLE) + " +
        "(CAST(q_a2 AS DOUBLE) - CAST(s_a2 AS DOUBLE) * CAST(s_a2 AS DOUBLE) / CAST(n_a2 AS DOUBLE)) / CAST(n_a2 - 1 AS DOUBLE) / 10000.0 / CAST(n_a2 AS DOUBLE) + " +
        "(CAST(q_b1 AS DOUBLE) - CAST(s_b1 AS DOUBLE) * CAST(s_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE)) / CAST(n_b1 - 1 AS DOUBLE) / 10000.0 / CAST(n_b1 AS DOUBLE) + " +
        "(CAST(q_b2 AS DOUBLE) - CAST(s_b2 AS DOUBLE) * CAST(s_b2 AS DOUBLE) / CAST(n_b2 AS DOUBLE)) / CAST(n_b2 - 1 AS DOUBLE) / 10000.0 / CAST(n_b2 AS DOUBLE) " +
        "> 0.0 THEN round(sqrt(" +
        "(CAST(q_a1 AS DOUBLE) - CAST(s_a1 AS DOUBLE) * CAST(s_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE)) / CAST(n_a1 - 1 AS DOUBLE) / 10000.0 / CAST(n_a1 AS DOUBLE) + " +
        "(CAST(q_a2 AS DOUBLE) - CAST(s_a2 AS DOUBLE) * CAST(s_a2 AS DOUBLE) / CAST(n_a2 AS DOUBLE)) / CAST(n_a2 - 1 AS DOUBLE) / 10000.0 / CAST(n_a2 AS DOUBLE) + " +
        "(CAST(q_b1 AS DOUBLE) - CAST(s_b1 AS DOUBLE) * CAST(s_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE)) / CAST(n_b1 - 1 AS DOUBLE) / 10000.0 / CAST(n_b1 AS DOUBLE) + " +
        "(CAST(q_b2 AS DOUBLE) - CAST(s_b2 AS DOUBLE) * CAST(s_b2 AS DOUBLE) / CAST(n_b2 AS DOUBLE)) / CAST(n_b2 - 1 AS DOUBLE) / 10000.0 / CAST(n_b2 AS DOUBLE)" +
        "), 6) END AS se, " +
        "CASE WHEN n_a1 > 1 AND n_a2 > 1 AND n_b1 > 1 AND n_b2 > 1 AND " +
        "(CAST(q_a1 AS DOUBLE) - CAST(s_a1 AS DOUBLE) * CAST(s_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE)) / CAST(n_a1 - 1 AS DOUBLE) / 10000.0 / CAST(n_a1 AS DOUBLE) + " +
        "(CAST(q_a2 AS DOUBLE) - CAST(s_a2 AS DOUBLE) * CAST(s_a2 AS DOUBLE) / CAST(n_a2 AS DOUBLE)) / CAST(n_a2 - 1 AS DOUBLE) / 10000.0 / CAST(n_a2 AS DOUBLE) + " +
        "(CAST(q_b1 AS DOUBLE) - CAST(s_b1 AS DOUBLE) * CAST(s_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE)) / CAST(n_b1 - 1 AS DOUBLE) / 10000.0 / CAST(n_b1 AS DOUBLE) + " +
        "(CAST(q_b2 AS DOUBLE) - CAST(s_b2 AS DOUBLE) * CAST(s_b2 AS DOUBLE) / CAST(n_b2 AS DOUBLE)) / CAST(n_b2 - 1 AS DOUBLE) / 10000.0 / CAST(n_b2 AS DOUBLE) " +
        "> 0.0 THEN round(" +
        "((CAST(s_a2 AS DOUBLE) / 100.0 / CAST(n_a2 AS DOUBLE) - " +
        "CAST(s_a1 AS DOUBLE) / 100.0 / CAST(n_a1 AS DOUBLE)) - " +
        "(CAST(s_b2 AS DOUBLE) / 100.0 / CAST(n_b2 AS DOUBLE) - " +
        "CAST(s_b1 AS DOUBLE) / 100.0 / CAST(n_b1 AS DOUBLE))) / sqrt(" +
        "(CAST(q_a1 AS DOUBLE) - CAST(s_a1 AS DOUBLE) * CAST(s_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE)) / CAST(n_a1 - 1 AS DOUBLE) / 10000.0 / CAST(n_a1 AS DOUBLE) + " +
        "(CAST(q_a2 AS DOUBLE) - CAST(s_a2 AS DOUBLE) * CAST(s_a2 AS DOUBLE) / CAST(n_a2 AS DOUBLE)) / CAST(n_a2 - 1 AS DOUBLE) / 10000.0 / CAST(n_a2 AS DOUBLE) + " +
        "(CAST(q_b1 AS DOUBLE) - CAST(s_b1 AS DOUBLE) * CAST(s_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE)) / CAST(n_b1 - 1 AS DOUBLE) / 10000.0 / CAST(n_b1 AS DOUBLE) + " +
        "(CAST(q_b2 AS DOUBLE) - CAST(s_b2 AS DOUBLE) * CAST(s_b2 AS DOUBLE) / CAST(n_b2 AS DOUBLE)) / CAST(n_b2 - 1 AS DOUBLE) / 10000.0 / CAST(n_b2 AS DOUBLE)" +
        "), 6) END AS z_score FROM j"),
    // Mirrors EventOps.atkinsonActivity: count-grid collapse, the
    // sqrt sum multiplicity-weighted on the grid, EDE and A one
    // fixed-order chain.
    q("atkinson_activity", (s, d) => EventOps.atkinsonActivity(events(s, d)),
      "WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x " +
        "FROM events GROUP BY 1), " +
        "grid AS (SELECT x, CAST(count(*) AS BIGINT) AS m FROM per " +
        "GROUP BY 1), " +
        "s AS (SELECT CAST(sum(m) AS BIGINT) AS n, " +
        "CAST(sum(m * x) AS BIGINT) AS tot, " +
        "sum(CAST(m AS DOUBLE) * sqrt(CAST(x AS DOUBLE))) AS sqsum " +
        "FROM grid) " +
        "SELECT n AS n_users, " +
        "round(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE), 6) " +
        "AS mean_activity, " +
        "round((sqsum / CAST(n AS DOUBLE)) * (sqsum / " +
        "CAST(n AS DOUBLE)), 6) AS ede, " +
        "CASE WHEN CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) > 0.0 THEN " +
        "round(1.0 - (sqsum / CAST(n AS DOUBLE)) * (sqsum / " +
        "CAST(n AS DOUBLE)) / (CAST(tot AS DOUBLE) / " +
        "CAST(n AS DOUBLE)), 6) END AS atkinson_05 FROM s"),
    // Mirrors EventOps.captureRecaptureUsers: mmd midpoint halves,
    // exact mark/recapture BIGINTs, LP + Chapman chains.
    q("capture_recapture_users", (s, d) => EventOps.captureRecaptureUsers(events(s, d)),
      "WITH b AS (SELECT min(epoch_us(ts)) AS lo, " +
        "max(epoch_us(ts)) AS hi FROM events), " +
        "per AS (SELECT user_id, " +
        "CAST(max(CASE WHEN epoch_us(ts) <= CAST((lo + hi) // 2 " +
        "AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS in1, " +
        "CAST(max(CASE WHEN epoch_us(ts) > CAST((lo + hi) // 2 " +
        "AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS in2 " +
        "FROM events CROSS JOIN b GROUP BY 1), " +
        "s AS (SELECT CAST(sum(in1) AS BIGINT) AS n1, " +
        "CAST(sum(in2) AS BIGINT) AS n2, " +
        "CAST(sum(in1 * in2) AS BIGINT) AS m, " +
        "CAST(count(*) AS BIGINT) AS n_seen FROM per) " +
        "SELECT n1 AS n_first_half, n2 AS n_second_half, " +
        "m AS n_recaptured, n_seen AS n_seen_total, " +
        "CASE WHEN m > 0 THEN round(CAST(n1 AS DOUBLE) * " +
        "CAST(n2 AS DOUBLE) / CAST(m AS DOUBLE), 6) END " +
        "AS lp_estimate, " +
        "round((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0) " +
        "/ (CAST(m AS DOUBLE) + 1.0) - 1.0, 6) AS chapman_estimate, " +
        "round(sqrt((CAST(n1 AS DOUBLE) + 1.0) * " +
        "(CAST(n2 AS DOUBLE) + 1.0) * (CAST(n1 AS DOUBLE) - " +
        "CAST(m AS DOUBLE)) * (CAST(n2 AS DOUBLE) - " +
        "CAST(m AS DOUBLE)) / ((CAST(m AS DOUBLE) + 1.0) * " +
        "(CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 2.0))), 6) " +
        "AS chapman_se FROM s"),
    // Mirrors EventOps.mantelHaenszelAb: first-event isodow strata,
    // exact 2x2 cells, per-stratum fixed-order term ratios, the
    // <=7-term small-cardinality sums.
    q("mantel_haenszel_ab", (s, d) => EventOps.mantelHaenszelAb(events(s, d)),
      "WITH per AS (SELECT user_id, CAST(min(ts) AS DATE) AS f, " +
        "CAST(max(CASE WHEN event_type = 'purchase' AND value >= 90.0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM events GROUP BY 1), " +
        "pu AS (SELECT (date_diff('day', DATE '1970-01-01', f) + 3) " +
        "% 7 + 1 AS stratum, " +
        "CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS treated, conv FROM per), " +
        "cells AS (SELECT stratum, " +
        "CAST(sum(treated * conv) AS BIGINT) AS a, " +
        "CAST(sum(treated * (1 - conv)) AS BIGINT) AS b, " +
        "CAST(sum((1 - treated) * conv) AS BIGINT) AS c, " +
        "CAST(sum((1 - treated) * (1 - conv)) AS BIGINT) AS d " +
        "FROM pu GROUP BY 1), " +
        "c2 AS (SELECT *, a + b + c + d AS n FROM cells), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n_strata, " +
        "CAST(sum(a) AS BIGINT) AS a_tot, " +
        "sum(CAST(a * d AS DOUBLE) / CAST(n AS DOUBLE)) AS mh_num, " +
        "sum(CAST(b * c AS DOUBLE) / CAST(n AS DOUBLE)) AS mh_den, " +
        "sum(CAST((a + b) * (a + c) AS DOUBLE) / CAST(n AS DOUBLE)) " +
        "AS e_tot, " +
        "sum(CASE WHEN n > 1 THEN CAST((a + b) * (c + d) AS DOUBLE) * " +
        "CAST((a + c) * (b + d) AS DOUBLE) / (CAST(n AS DOUBLE) * " +
        "CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) ELSE 0.0 END) " +
        "AS v_tot FROM c2) " +
        "SELECT n_strata, a_tot AS conv_treated, " +
        "CASE WHEN mh_den > 0.0 THEN round(mh_num / mh_den, 6) END " +
        "AS or_mh, " +
        "CASE WHEN mh_den > 0.0 AND mh_num > 0.0 THEN " +
        "round(ln(mh_num / mh_den), 6) END AS ln_or_mh, " +
        "CASE WHEN v_tot > 0.0 THEN round((CAST(a_tot AS DOUBLE) - " +
        "e_tot) * (CAST(a_tot AS DOUBLE) - e_tot) / v_tot, 6) END " +
        "AS cmh_chi2, " +
        "CASE WHEN v_tot > 0.0 THEN (CAST(a_tot AS DOUBLE) - e_tot) * " +
        "(CAST(a_tot AS DOUBLE) - e_tot) / v_tot > 3.841459 " +
        "ELSE false END AS significant FROM s"),
    // Mirrors EventOps.gTestTypeDow: the chi_square_type_dow cell
    // chain with the likelihood-ratio term O*ln(O*N/(R*C)).
    q("g_test_type_dow", (s, d) => EventOps.gTestTypeDow(events(s, d)),
      "WITH cells AS (SELECT event_type, " +
        "dayofweek(CAST(ts AS DATE)) AS dow, " +
        "CAST(count(*) AS BIGINT) AS nxy FROM events GROUP BY 1, 2), " +
        "tx AS (SELECT event_type, CAST(sum(nxy) AS BIGINT) AS nx " +
        "FROM cells GROUP BY 1), " +
        "td AS (SELECT dow, CAST(sum(nxy) AS BIGINT) AS ny " +
        "FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells), " +
        "s AS (SELECT CAST(count(DISTINCT c.event_type) AS BIGINT) " +
        "AS n_types, CAST(count(DISTINCT c.dow) AS BIGINT) AS n_dows, " +
        "CAST(max(n) AS BIGINT) AS n_total, " +
        "sum(CAST(nxy AS DOUBLE) * ln(CAST(nxy * n AS DOUBLE) / " +
        "CAST(nx * ny AS DOUBLE))) AS g_half " +
        "FROM cells c JOIN tx USING (event_type) JOIN td USING (dow) " +
        "CROSS JOIN tot) " +
        "SELECT n_types, n_dows, n_total, " +
        "CAST((n_types - 1) * (n_dows - 1) AS BIGINT) AS dof, " +
        "round(2.0 * g_half, 4) AS g_stat FROM s"),
    // Mirrors EventOps.smdBalanceArms: one per-user collapse, exact
    // per-arm moment lanes for the three covariates, fixed-order
    // mean/variance/SMD chains.
    q("smd_balance_arms", (s, d) => EventOps.smdBalanceArms(events(s, d)),
      "WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x1, " +
        "CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 " +
        "AS BIGINT)), 0) AS BIGINT) AS x2, " +
        "CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS x3, " +
        "CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS arm FROM events GROUP BY 1), " +
        "g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x1) AS BIGINT) AS s1, " +
        "CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS q1, " +
        "CAST(sum(x2) AS BIGINT) AS s2, " +
        "CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS q2, " +
        "CAST(sum(x3) AS BIGINT) AS s3, " +
        "CAST(sum(CAST(x3 AS HUGEINT) * x3) AS HUGEINT) AS q3 " +
        "FROM per GROUP BY 1), " +
        "j AS (SELECT a.n AS n_a, a.s1 AS s1_a, a.q1 AS q1_a, " +
        "a.s2 AS s2_a, a.q2 AS q2_a, a.s3 AS s3_a, a.q3 AS q3_a, " +
        "b.n AS n_b, b.s1 AS s1_b, b.q1 AS q1_b, b.s2 AS s2_b, " +
        "b.q2 AS q2_b, b.s3 AS s3_b, b.q3 AS q3_b " +
        "FROM (SELECT * FROM g WHERE arm = 1) a CROSS JOIN " +
        "(SELECT * FROM g WHERE arm = 0) b) " +
        "SELECT * FROM (" +
        Seq(("activity", "1", "1.0"), ("total_value", "2", "100.0"),
          ("active_days", "3", "1.0")).map { case (nm, i, sc) =>
          val mA = s"CAST(s${i}_a AS DOUBLE) / $sc / CAST(n_a AS DOUBLE)"
          val mB = s"CAST(s${i}_b AS DOUBLE) / $sc / CAST(n_b AS DOUBLE)"
          def vr(sfx: String) =
            s"(CAST(q${i}_$sfx AS DOUBLE) - CAST(s${i}_$sfx AS DOUBLE) " +
              s"* CAST(s${i}_$sfx AS DOUBLE) / CAST(n_$sfx AS DOUBLE))" +
              s" / CAST(n_$sfx - 1 AS DOUBLE) / ($sc * $sc)"
          val pooled = s"((${vr("a")} + ${vr("b")}) / 2.0)"
          s"SELECT '$nm' AS covariate, n_a AS n_even, n_b AS n_odd, " +
            s"round($mA, 6) AS mean_even, round($mB, 6) AS mean_odd, " +
            s"CASE WHEN n_a > 1 AND n_b > 1 AND $pooled > 0.0 THEN " +
            s"round(($mA - $mB) / sqrt($pooled), 6) END AS smd FROM j"
        }.mkString(" UNION ALL ") +
        ") ORDER BY covariate"),
    // Mirrors EventOps.flemingHarringtonAb: logrank risk table, the
    // aalen-johansen S(t-) exclusive prefix, 1e-6 micro-pinned
    // weighted O-E and weight^2 V terms.
    q("fleming_harrington_ab", (s, d) => EventOps.flemingHarringtonAb(events(s, d)),
      "WITH u AS (SELECT user_id, CAST(min(ts) AS DATE) AS f, " +
        "CAST(max(ts) AS DATE) AS l FROM events GROUP BY 1), " +
        "mx AS (SELECT CAST(max(ts) AS DATE) AS max_day FROM events), " +
        "dur AS (SELECT CAST(datediff('day', f, l) + 1 AS BIGINT) AS t, " +
        "CASE WHEN l < max_day THEN 1 ELSE 0 END AS observed, " +
        "user_id % 2 AS arm FROM u CROSS JOIN mx), " +
        "byt AS (SELECT t, CAST(count(*) AS BIGINT) AS ending, " +
        "CAST(sum(observed) AS BIGINT) AS d, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS ending1, " +
        "CAST(sum(CASE WHEN arm = 1 THEN observed ELSE 0 END) " +
        "AS BIGINT) AS d1 FROM dur GROUP BY 1), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users, " +
        "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_users1 FROM dur), " +
        "ar AS (SELECT *, n_users - CAST(sum(ending) OVER (" +
        "ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) + ending " +
        "AS n, n_users1 - CAST(sum(ending1) OVER (ORDER BY t ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) + ending1 AS n1 " +
        "FROM byt CROSS JOIN tot), " +
        "ws AS (SELECT *, coalesce(CAST(sum(CASE WHEN d > 0 AND n > d " +
        "THEN CAST(round(ln(CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE))" +
        ", 10) AS DECIMAL(38,10)) END) OVER (ORDER BY t ASC ROWS " +
        "BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
        "AS DECIMAL(38,10)), CAST(0 AS DECIMAL(38,10))) AS lns_prev " +
        "FROM ar), " +
        "ws2 AS (SELECT *, exp(CAST(lns_prev AS DOUBLE)) AS s_prev " +
        "FROM ws WHERE d > 0), " +
        "terms AS (SELECT CAST(round(s_prev * (CAST(d1 AS DOUBLE) - " +
        "CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)))" +
        " * 1000000.0, 0) AS BIGINT) AS om, " +
        "CAST(round(CASE WHEN n > 1 THEN s_prev * s_prev * " +
        "(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))) ELSE 0.0 " +
        "END * 1000000.0, 0) AS BIGINT) AS vm FROM ws2), " +
        "s AS (SELECT CAST(sum(om) AS BIGINT) AS oem, " +
        "CAST(sum(vm) AS BIGINT) AS vvm FROM terms) " +
        "SELECT n_users - n_users1 AS n_users_a, " +
        "n_users1 AS n_users_b, " +
        "round(CAST(oem AS DOUBLE) / 1000000.0, 6) AS weighted_oe, " +
        "CASE WHEN vvm > 0 THEN round((CAST(oem AS DOUBLE) / " +
        "1000000.0) / sqrt(CAST(vvm AS DOUBLE) / 1000000.0), 6) END " +
        "AS fh_z FROM s CROSS JOIN tot"),
    // Mirrors EventOps.pafActivityConversion: count-grid lower
    // median, exact exposure/conversion cells, fixed-order
    // RR/PAF ratios.
    q("paf_activity_conversion", (s, d) => EventOps.pafActivityConversion(events(s, d)),
      "WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x, " +
        "CAST(max(CASE WHEN event_type = 'purchase' AND value >= 90.0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM events GROUP BY 1), " +
        "grid AS (SELECT x, CAST(count(*) AS BIGINT) AS m FROM per " +
        "GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(m) AS BIGINT) AS nt FROM grid), " +
        "med AS (SELECT CAST(min(x) AS BIGINT) AS med FROM (" +
        "SELECT x, CAST(sum(m) OVER (ORDER BY x ASC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM grid) " +
        "CROSS JOIN tot WHERE cum * 2 >= nt), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN x > med THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_exp, CAST(sum(conv) AS BIGINT) AS c_all, " +
        "CAST(sum(CASE WHEN x > med THEN conv ELSE 0 END) AS BIGINT) " +
        "AS c_exp FROM per CROSS JOIN med) " +
        "SELECT n AS n_users, n_exp AS n_exposed, " +
        "c_all AS n_conversions, " +
        "round(CAST(c_all AS DOUBLE) / CAST(n AS DOUBLE), 6) " +
        "AS p_conv, " +
        "CASE WHEN n_exp > 0 THEN round(CAST(c_exp AS DOUBLE) / " +
        "CAST(n_exp AS DOUBLE), 6) END AS p_conv_exposed, " +
        "CASE WHEN n - n_exp > 0 THEN round(CAST(c_all - c_exp " +
        "AS DOUBLE) / CAST(n - n_exp AS DOUBLE), 6) END " +
        "AS p_conv_unexposed, " +
        "CASE WHEN n_exp > 0 AND n - n_exp > 0 AND CAST(c_all - c_exp " +
        "AS DOUBLE) / CAST(n - n_exp AS DOUBLE) > 0.0 THEN round(" +
        "CAST(c_exp AS DOUBLE) / CAST(n_exp AS DOUBLE) / " +
        "(CAST(c_all - c_exp AS DOUBLE) / CAST(n - n_exp AS DOUBLE))" +
        ", 6) END AS relative_risk, " +
        "CASE WHEN n - n_exp > 0 AND CAST(c_all AS DOUBLE) / " +
        "CAST(n AS DOUBLE) > 0.0 THEN round((CAST(c_all AS DOUBLE) / " +
        "CAST(n AS DOUBLE) - CAST(c_all - c_exp AS DOUBLE) / " +
        "CAST(n - n_exp AS DOUBLE)) / (CAST(c_all AS DOUBLE) / " +
        "CAST(n AS DOUBLE)), 6) END AS paf FROM s"),
  )

  /** DocOps and the multimodal plumbing: text operators over `documents`. */
  private def docQueries: Seq[Query] = Seq(
    // Mirrors DocOps.rakeKeyphrases: same stopword-free island
    // segmentation (pos − row_number), same maxLen cap, per-word
    // degree/freq ratio rounded 6dp into DECIMAL(20,6) so phrase sums
    // are order-exact; phrases assembled in pos order on both sides.
    q("rake_keyphrases", (s, d) => DocOps.rakeKeyphrases(documents(s, d)),
      "WITH toks AS (SELECT doc_id, generate_subscripts(tk, 1) AS pos, " +
        "unnest(tk) AS term FROM (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents)), " +
        "content AS (SELECT * FROM toks WHERE term <> '' AND term NOT IN " +
        "('a', 'the', 'and', 'of', 'to', 'in', 'is', 'on')), " +
        "runs AS (SELECT doc_id, pos, term, pos - row_number() OVER (" +
        "PARTITION BY doc_id ORDER BY pos ASC) AS grp FROM content), " +
        "cand AS (SELECT * FROM (SELECT runs.*, " +
        "CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS n_words " +
        "FROM runs) WHERE n_words <= 4), " +
        "wsx AS (SELECT term, CAST(count(*) AS BIGINT) AS freq, " +
        "CAST(sum(n_words) AS BIGINT) AS deg FROM cand GROUP BY 1), " +
        "sc AS (SELECT doc_id, grp, pos, cand.term, " +
        "CAST(round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 6) " +
        "AS DECIMAL(20,6)) AS ws FROM cand JOIN wsx ON cand.term = wsx.term), " +
        "ph AS (SELECT doc_id, grp, string_agg(term, ' ' ORDER BY pos ASC) " +
        "AS phrase, sum(CAST(ws AS DECIMAL(20,6))) AS score " +
        "FROM sc GROUP BY 1, 2) " +
        "SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences, " +
        "CAST(max(score) AS DOUBLE) AS rake_score FROM ph GROUP BY 1 " +
        "ORDER BY rake_score DESC, phrase ASC LIMIT 20"),
    // Mirrors DocOps.termBurstiness: per-(term, doc) exact counts,
    // VMR = (n·Q − S²)/(n·S) one pinned division of HUGEINT
    // integers, (rounded VMR desc, term asc) top-30.
    q("term_burstiness", (s, d) => DocOps.termBurstiness(documents(s, d)),
      "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), " +
        "td AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS term FROM documents) " +
        "GROUP BY 1, 2), " +
        "m AS (SELECT term, CAST(count(*) AS BIGINT) AS df, " +
        "CAST(sum(c) AS BIGINT) AS tf, " +
        "CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q " +
        "FROM td GROUP BY 1) " +
        "SELECT term, df, tf, " +
        "round(CAST(CAST(n AS HUGEINT) * q - CAST(tf AS HUGEINT) * tf " +
        "AS DOUBLE) / CAST(CAST(n AS HUGEINT) * tf AS DOUBLE), 6) AS vmr " +
        "FROM m CROSS JOIN nn WHERE df >= 50 " +
        "ORDER BY vmr DESC, term ASC LIMIT 30"),
    // Mirrors DocOps.simpsonDiversityBySource: exact HUGEINT
    // collision sum Σc(c−1), one pinned division per statistic.
    q("simpson_diversity_by_source", (s, d) => DocOps.simpsonDiversityBySource(documents(s, d)),
      "WITH t AS (SELECT source, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS w FROM documents), " +
        "wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c " +
        "FROM t GROUP BY 1, 2), " +
        "s AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab, " +
        "CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS coll " +
        "FROM wc GROUP BY 1), " +
        "ll AS (SELECT source, vocab, n_tokens, coll, " +
        "CAST(coll AS DOUBLE) / " +
        "CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) AS DOUBLE) AS lam " +
        "FROM s) " +
        "SELECT source, vocab, n_tokens, " +
        "CASE WHEN n_tokens >= 2 THEN round(lam, 6) " +
        "END AS simpson_lambda, " +
        "CASE WHEN n_tokens >= 2 THEN round(1.0 - lam, 6) " +
        "END AS gini_simpson, " +
        "CASE WHEN n_tokens >= 2 AND coll > 0 THEN round(1.0 / lam, 6) " +
        "END AS effective_vocab FROM ll"),
    q("avg_len_by_lang", (s, d) => DocOps.avgLengthByLang(documents(s, d)),
      "SELECT lang, round(avg(length(text)), 4) AS avg_len, count(*) AS docs " +
        "FROM documents GROUP BY lang"),
    q("keyword_lang_counts", (s, d) =>
      DocOps.keywordLangCounts(documents(s, d), Seq("spark", "stream", "window")),
      "SELECT lang, count(*) AS cnt FROM documents " +
        "WHERE regexp_matches(text, '(?i)(spark|stream|window)') GROUP BY lang"),
    // The synthetic corpus carries no '#tags', so the raw query is 0
    // rows at every SF — a gate that can never fail (vacuous). Plant deterministic tag-bearing rows derived from
    // every 50th document (mirrored row-for-row in the oracle SQL) so
    // extraction, lowercasing, and the group counts are exercised.
    q("hashtag_counts", (s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val docs = documents(s, d)
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .select(concat(col("text"), lit(" #"), col("source"),
          lit(" #Shared")).as("text"))
      DocOps.hashtagCounts(docs.select("text").unionByName(planted))
    },
      "WITH all_docs AS (SELECT text FROM documents " +
        "UNION ALL SELECT text || ' #' || source || ' #Shared' AS text " +
        "FROM documents WHERE doc_id % 50 = 0), " +
        "tags AS (SELECT unnest(regexp_extract_all(text, '#(\\w+)', 1)) AS hashtag " +
        "FROM all_docs) " +
        "SELECT lower(hashtag) AS hashtag, count(*) AS cnt FROM tags " +
        "WHERE trim(hashtag) <> '' GROUP BY 1"),
    q("token_counts", (s, d) => DocOps.tokenCounts(documents(s, d)),
      "SELECT doc_id, CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) " +
        "AS n_tokens FROM documents"),
    q("bpeish_token_counts", (s, d) => DocOps.bpeishTokenCounts(documents(s, d)),
      "SELECT doc_id, CAST(length(regexp_extract_all(text, " +
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens FROM documents"),
    q("token_stats_by_source", (s, d) => DocOps.tokenStatsBySource(documents(s, d)),
      "WITH t AS (SELECT source, length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens " +
        "FROM documents) " +
        "SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
        "round(avg(n_tokens), 4) AS avg_tokens, count(*) AS docs FROM t GROUP BY source"),
    // Mirrors DocOps.topTerms: same tokenizer, cnt DESC / term ASC ties.
    q("top_terms", (s, d) => DocOps.topTerms(documents(s, d)),
      "SELECT term, count(*) AS cnt FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents) GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 20"),
    // Mirrors DocOps.bpeMergeCandidates: vocabulary-first (distinct
    // word + count), then adjacent char pairs WITH multiplicity
    // weighted by word count; ties break on the pair string.
    q("bpe_merge_candidates", (s, d) => DocOps.bpeMergeCandidates(documents(s, d)),
      "WITH v AS (SELECT w, count(*) AS cnt FROM (" +
        "SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w " +
        "FROM documents) WHERE length(w) >= 2 GROUP BY w), " +
        "p AS (SELECT substring(w, CAST(unnest(range(1, length(w))) AS INT), 2) " +
        "AS pair, cnt FROM v) " +
        "SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_pairs FROM p " +
        "GROUP BY pair ORDER BY n_pairs DESC, pair ASC LIMIT 20"),
    // Mirrors DocOps.readabilityScores: vowel-run syllables on the
    // lowercased tokens, sentence runs on the raw text, exact BIGINT
    // counts into the pinned-order Flesch formula.
    q("readability_scores", (s, d) => DocOps.readabilityScores(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(greatest(1, len(regexp_extract_all(term, '[aeiouy]+')))) AS BIGINT) " +
        "AS n_syllables FROM toks GROUP BY 1), " +
        "s AS (SELECT doc_id, CAST(greatest(1, " +
        "len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sentences " +
        "FROM documents) " +
        "SELECT doc_id, n_words, n_sentences, n_syllables, " +
        "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) - " +
        "84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4) AS flesch " +
        "FROM pd JOIN s USING (doc_id)"),
    // Mirrors DocOps.evalOverlapScores: same knuth-hash split, same
    // per-doc-distinct shingles; counts exact BIGINTs, one pinned
    // division.
    q("eval_overlap_scores", (s, d) => DocOps.evalOverlapScores(documents(s, d)),
      s"WITH $shingleCtes, " +
        "sp AS (SELECT doc_id, CASE WHEN b < 90 THEN 'train' " +
        "WHEN b < 95 THEN 'val' ELSE 'test' END AS split FROM " +
        s"(SELECT doc_id, ${DocOps.knuthHash32Sql("doc_id")} % 100 AS b " +
        "FROM documents)), " +
        "shs AS (SELECT inv.doc_id, inv.sh, sp.split FROM inv " +
        "JOIN sp USING (doc_id)), " +
        "tr AS (SELECT DISTINCT sh FROM shs WHERE split = 'train'), " +
        "g AS (SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "CAST(sum(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_in_train " +
        "FROM (SELECT doc_id, sh FROM shs WHERE split = 'test') ev " +
        "LEFT JOIN tr ON tr.sh = ev.sh GROUP BY 1) " +
        "SELECT doc_id, n_shingles, n_in_train, " +
        "round(CAST(n_in_train AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) " +
        "AS overlap_ratio FROM g"),
    // Mirrors DocOps.neymanAllocation: exact BIGINT moments, identical
    // pinned double σ, per-stratum weight rounded 6dp into DECIMAL so
    // the total is order-exact, floor of identical doubles for the
    // allocation.
    q("neyman_allocation", (s, d) => DocOps.neymanAllocation(documents(s, d)),
      "WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sx, " +
        "CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx " +
        "FROM documents GROUP BY 1 HAVING count(*) >= 2), " +
        "w AS (SELECT source, n_docs, " +
        "round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) " +
        "/ CAST(n_docs AS DOUBLE)) / (CAST(n_docs AS DOUBLE) - 1.0)), 6) AS sigma, " +
        "CAST(round(CAST(n_docs AS DOUBLE) * " +
        "sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) " +
        "/ CAST(n_docs AS DOUBLE)) / (CAST(n_docs AS DOUBLE) - 1.0)), 6) " +
        "AS DECIMAL(28,6)) AS w FROM m), " +
        "t AS (SELECT CAST(sum(w) AS DECIMAL(38,6)) AS w_total FROM w) " +
        "SELECT source, n_docs, sigma, " +
        "round(CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE), 6) AS alloc_share, " +
        "CAST(floor(1000.0 * (CAST(w AS DOUBLE) / CAST(w_total AS DOUBLE))) " +
        "AS BIGINT) AS n_alloc " +
        "FROM w CROSS JOIN t"),
    q("unimax_allocation", (s, d) => DocOps.unimaxAllocation(documents(s, d)),
      "WITH per AS (SELECT source, " +
        "CAST(sum(length(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) " +
        "AS n_tokens FROM documents GROUP BY 1), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM per), " +
        "r AS (SELECT source, n_tokens, " +
        "CAST(row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS BIGINT) AS i, " +
        "CAST(coalesce(sum(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s_prev " +
        "FROM per), " +
        "u AS (SELECT r.*, 4 * n_tokens AS capped, " +
        "CAST((2000000 - 4 * s_prev) // (n_src - i + 1) AS BIGINT) AS u_i " +
        "FROM r CROSS JOIN nn), " +
        "kf AS (SELECT min(CASE WHEN capped > u_i THEN i END) AS k FROM u), " +
        "ukf AS (SELECT max(CASE WHEN i = k THEN u_i END) AS u_k " +
        "FROM u CROSS JOIN kf) " +
        "SELECT source, n_tokens, " +
        "CASE WHEN k IS NOT NULL AND i >= k THEN u_k ELSE capped END " +
        "AS alloc_tokens, " +
        "round(CAST(CASE WHEN k IS NOT NULL AND i >= k THEN u_k ELSE capped END " +
        "AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS epochs " +
        "FROM u CROSS JOIN kf CROSS JOIN ukf"),
    // Mirrors DocOps.unimaxAllocation: exact BIGINT waterfill — the
    // single ascending crossover k, caps before it, uniform integer
    // div after; only the terminal epochs ratio is a double. (DuckDB
    // // floors where Spark div truncates, but a sign disagreement can
    // only occur at i > k where u is unused and the flag is true under
    // ANY negative value.)
    // Mirrors DocOps.ipfSourceLangWeights: micro-unit BIGINT cell
    // masses walked through six identically-unrolled scale steps
    // (uniform row/col targets), final row-marginal relative error.
    q("ipf_source_lang_weights", (s, d) => DocOps.ipfSourceLangWeights(documents(s, d)),
      "WITH cells AS MATERIALIZED (SELECT source, lang, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) * 1000000 AS w FROM documents " +
        "GROUP BY 1, 2), " +
        "dims AS (SELECT CAST(sum(n) AS BIGINT) AS nd, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS ns, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS nl FROM cells), " +
        "w0 AS MATERIALIZED (SELECT source, lang, n, w, nd, ns, nl " +
        "FROM cells CROSS JOIN dims), " +
        ipfStepSql("r1", "w0", "source",
          "CAST(nd AS DOUBLE) * 1000000.0 / CAST(ns AS DOUBLE)") + ", " +
        ipfStepSql("c1", "r1", "lang",
          "CAST(nd AS DOUBLE) * 1000000.0 / CAST(nl AS DOUBLE)") + ", " +
        ipfStepSql("r2", "c1", "source",
          "CAST(nd AS DOUBLE) * 1000000.0 / CAST(ns AS DOUBLE)") + ", " +
        ipfStepSql("c2", "r2", "lang",
          "CAST(nd AS DOUBLE) * 1000000.0 / CAST(nl AS DOUBLE)") + ", " +
        ipfStepSql("r3", "c2", "source",
          "CAST(nd AS DOUBLE) * 1000000.0 / CAST(ns AS DOUBLE)") + ", " +
        ipfStepSql("c3", "r3", "lang",
          "CAST(nd AS DOUBLE) * 1000000.0 / CAST(nl AS DOUBLE)") + ", " +
        "err AS (SELECT max(abs(CAST(msum AS DOUBLE) - " +
        "(CAST(nd AS DOUBLE) * 1000000.0 / CAST(ns AS DOUBLE))) / " +
        "(CAST(nd AS DOUBLE) * 1000000.0 / CAST(ns AS DOUBLE))) " +
        "AS row_rel_err FROM (SELECT source, nd, ns, " +
        "CAST(sum(w) AS BIGINT) AS msum FROM c3 GROUP BY 1, 2, 3)) " +
        "SELECT source, lang, n AS n_docs, " +
        "round(CAST(w AS DOUBLE) / 1000000.0, 6) AS cell_mass, " +
        "round(CAST(w AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6) " +
        "AS doc_weight, round(row_rel_err, 6) AS row_rel_err " +
        "FROM c3 CROSS JOIN err"),
    // Mirrors DocOps.temperatureAllocation: α = 0.5 via sqrt (IEEE
    // correctly rounded — identical doubles, unlike pow), weights
    // rounded 6dp into DECIMAL for an any-order-exact sum, one
    // terminal divide/multiply of identical doubles.
    q("temperature_allocation", (s, d) => DocOps.temperatureAllocation(documents(s, d)),
      "WITH per AS (SELECT source, " +
        "CAST(sum(length(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) " +
        "AS n_tokens FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per), " +
        "w AS (SELECT source, n_tokens, " +
        "CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(28,6)) AS w " +
        "FROM per), " +
        "ws AS (SELECT CAST(sum(w) AS DECIMAL(38,6)) AS w_sum FROM w) " +
        "SELECT source, n_tokens, " +
        "round(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS raw_share, " +
        "round(CAST(w AS DOUBLE) / CAST(w_sum AS DOUBLE), 6) AS p_temp, " +
        "round(2000000.0 * (CAST(w AS DOUBLE) / CAST(w_sum AS DOUBLE)), 4) " +
        "AS expected_tokens " +
        "FROM w CROSS JOIN t CROSS JOIN ws"),
    // heavyHitterTerms' sketch-then-confirm output is EXACT by
    // construction (MG only prunes candidates; the final counts and
    // HAVING are exact), so the oracle is the brute-force form the
    // plan is provably equivalent to. count(*) is BIGINT in DuckDB —
    // no HUGEINT cast needed (the sum() convention does not apply).
    q("heavy_hitter_terms", (s, d) => DocOps.heavyHitterTerms(documents(s, d)),
      "WITH toks AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), " +
        "'\\s+')) AS term FROM documents), " +
        "tot AS (SELECT count(*) AS n_total FROM toks) " +
        "SELECT term, count(*) AS cnt, " +
        "round(count(*) * 1.0 / n_total, 6) AS share " +
        "FROM toks, tot GROUP BY term, n_total " +
        "HAVING count(*) >= ceil(n_total * 0.001) " +
        "ORDER BY cnt DESC, term ASC"),
    // Mirrors DocOps.tokenPercentilesBySource: quantile_cont == Spark's
    // exact continuous percentile.
    q("token_percentiles_by_source", (s, d) => DocOps.tokenPercentilesBySource(documents(s, d)),
      "WITH t AS (SELECT source, " +
        "length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens " +
        "FROM documents) " +
        "SELECT source, round(quantile_cont(n_tokens, 0.5), 4) AS p50, " +
        "round(quantile_cont(n_tokens, 0.9), 4) AS p90, " +
        "round(quantile_cont(n_tokens, 0.99), 4) AS p99 FROM t GROUP BY source"),
    q("quality_signals", (s, d) => DocOps.qualitySignals(documents(s, d)),
      "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio, " +
        "CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct, " +
        "round(length(text) * 1.0 / length(regexp_split_to_array(trim(text), '\\s+')), 4) AS avg_word_len " +
        "FROM documents"),
    // Mirrors DocOps.paretoFrontier: weak-domination skyline via the
    // collapsed per-alpha frame — on the frontier iff the doc holds
    // its 4dp-alpha group's max n_chars AND beats every strictly-
    // cleaner group's max (exclusive DESC running max).
    q("pareto_frontier", (s, d) => DocOps.paretoFrontier(documents(s, d)),
      "WITH q AS (SELECT doc_id, " +
        "round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio, " +
        "CAST(length(text) AS BIGINT) AS n_chars FROM documents), " +
        "m AS (SELECT alpha_ratio, max(n_chars) AS mx FROM q GROUP BY 1), " +
        "s AS (SELECT alpha_ratio, mx, max(mx) OVER (ORDER BY alpha_ratio DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strict_mx FROM m) " +
        "SELECT q.doc_id, q.alpha_ratio, q.n_chars " +
        "FROM q JOIN s USING (alpha_ratio) " +
        "WHERE q.n_chars = s.mx AND (s.strict_mx IS NULL OR q.n_chars > s.strict_mx)"),
    q("quality_by_lang", (s, d) => DocOps.qualityByLang(documents(s, d)),
      "WITH r AS (SELECT lang, length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 " +
        "/ length(text) AS alpha_ratio FROM documents) " +
        "SELECT lang, round(avg(alpha_ratio), 4) AS avg_alpha_ratio, " +
        "round(min(alpha_ratio), 4) AS min_alpha_ratio, " +
        "round(max(alpha_ratio), 4) AS max_alpha_ratio FROM r GROUP BY lang"),
    // Mirrors DocOps.gopherQualityFlags: thresholds and stop-list come
    // from the same GopherRules constants, every ratio is a double
    // division of the SAME integer operands (no rounding step), and
    // the regex/split/replace semantics line up (both engines match
    // non-overlapping leftmost; str_split/split keep trailing empties).
    q("gopher_quality_flags", (s, d) => DocOps.gopherQualityFlags(documents(s, d)), {
      import graft.ops.DocOps.GopherRules
      // Same fused single-pass stopword count as the Spark side: one
      // extract-all over the shared alternation, distinct, length.
      val sw = "len(list_distinct(regexp_extract_all(lower(text), " +
        s"'${GopherRules.stopwordPattern}', 1)))"
      val mwl = "CAST(chars_no_ws AS DOUBLE) / CAST(n_words AS DOUBLE)"
      val hr = "CAST(n_hash AS DOUBLE) / CAST(n_words AS DOUBLE)"
      val elr = "n_ellipsis / CAST(n_lines AS DOUBLE)"
      val awr = "CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)"
      val dlf = "1.0 - CAST(n_dlines AS DOUBLE) / CAST(n_lines AS DOUBLE)"
      "WITH m AS (SELECT doc_id, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_words, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS chars_no_ws, " +
        "length(text) - length(replace(text, '#', '')) AS n_hash, " +
        "CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0 AS n_ellipsis, " +
        "len(str_split(text, chr(10))) AS n_lines, " +
        "len(list_distinct(str_split(text, chr(10)))) AS n_dlines, " +
        s"($sw) AS n_stop, " +
        "len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*')) AS n_alpha " +
        "FROM documents) " +
        "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, " +
        s"$mwl AS mean_word_len, $hr AS hash_ratio, " +
        s"$elr AS ellipsis_line_ratio, CAST(n_stop AS BIGINT) AS n_stopwords, " +
        s"$awr AS alpha_word_ratio, $dlf AS dup_line_frac, " +
        s"CAST((n_words BETWEEN ${GopherRules.minWords} AND ${GopherRules.maxWords}) " +
        s"AND ($mwl BETWEEN 3.0 AND 10.0) AND ($hr <= 0.1) AND ($elr <= 0.3) " +
        s"AND (n_stop >= 2) AND ($awr >= 0.8) AND ($dlf <= 0.3) AS BIGINT) AS keep " +
        "FROM m"
    }),
    // Mirrors DocOps.repetitionSignals: same lowercased whitespace
    // split, raw bigram multiplicities, double divisions of identical
    // integer operands.
    q("repetition_signals", (s, d) => DocOps.repetitionSignals(documents(s, d)),
      "WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws " +
        "FROM documents), " +
        "s AS (SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct FROM w), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), " +
        "i -> ws[i] || ' ' || ws[i + 1])) AS bg FROM w WHERE len(ws) >= 2), " +
        "c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, max(c) AS top_c FROM c GROUP BY 1) " +
        "SELECT s.doc_id, CAST(s.n_words AS BIGINT) AS n_words, " +
        "1.0 - CAST(s.n_distinct AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS dup_word_frac, " +
        "CASE WHEN s.n_words >= 2 THEN CAST(COALESCE(t.top_c, 0) AS DOUBLE) " +
        "/ CAST(s.n_words - 1 AS DOUBLE) ELSE 0.0 END AS top_bigram_frac " +
        "FROM s LEFT JOIN t USING (doc_id)"),
    // Mirrors DocOps.scrubPii: same RE2-safe patterns (shared
    // PiiPatterns constants), same progressive URL→email→phone order.
    q("scrub_pii", (s, d) => DocOps.scrubPii(documents(s, d)), {
      import graft.ops.DocOps.PiiPatterns
      s"WITH a AS (SELECT doc_id, len(regexp_extract_all(text, '${PiiPatterns.url}')) AS n_urls, " +
        s"regexp_replace(text, '${PiiPatterns.url}', '<URL>', 'g') AS t1 FROM documents), " +
        s"b AS (SELECT doc_id, n_urls, len(regexp_extract_all(t1, '${PiiPatterns.email}')) AS n_emails, " +
        s"regexp_replace(t1, '${PiiPatterns.email}', '<EMAIL>', 'g') AS t2 FROM a), " +
        s"c AS (SELECT doc_id, n_urls, n_emails, len(regexp_extract_all(t2, '${PiiPatterns.phone}')) AS n_phones, " +
        s"regexp_replace(t2, '${PiiPatterns.phone}', '<PHONE>', 'g') AS scrubbed FROM b) " +
        "SELECT doc_id, CAST(n_urls AS BIGINT) AS n_urls, " +
        "CAST(n_emails AS BIGINT) AS n_emails, CAST(n_phones AS BIGINT) AS n_phones, " +
        "scrubbed FROM c"
    }),
    // Mirrors DocOps.vocabStatsByLang: same lowercased split, counts
    // cast to BIGINT, ratio as a double division of identical ints.
    q("vocab_stats_by_lang", (s, d) => DocOps.vocabStatsByLang(documents(s, d)),
      "WITH w AS (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w " +
        "FROM documents), " +
        "c AS (SELECT lang, w, count(*) AS c FROM w GROUP BY 1, 2) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS vocab, " +
        "CAST(sum(c) AS BIGINT) AS total_tokens, " +
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax, " +
        "CAST(count(*) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS type_token_ratio " +
        "FROM c GROUP BY lang"),
    // Mirrors DocOps.datasetSplits: the Knuth multiplicative bucket is
    // pure integer arithmetic — identical in any engine. The SQL hash
    // comes from the same DocOps.knuthHash32Sql the Spark hash pairs
    // with, so the overflow-free split multiply cannot drift.
    q("dataset_splits", (s, d) => DocOps.datasetSplits(documents(s, d)),
      "SELECT doc_id, bucket, " +
        "CASE WHEN bucket < 90 THEN 'train' " +
        "WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split " +
        s"FROM (SELECT doc_id, ${DocOps.knuthHash32Sql("doc_id")} % 100 " +
        "AS bucket FROM documents)"),
    // Mirrors DocOps.clusterAwareSplits: the dup_clusters closure
    // labels, singletons fall back to their own id, the dataset_splits
    // Knuth bucket rule applied to the CLUSTER id.
    q("cluster_aware_splits", (s, d) => DocOps.clusterAwareSplits(documents(s, d)),
      s"WITH RECURSIVE $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")}, " +
        s"$jaccardPairsCte, " +
        "eg AS (SELECT a_id AS u, b_id AS v FROM pairs " +
        "UNION SELECT b_id, a_id FROM pairs), " +
        "r(u, v) AS (SELECT u, v FROM eg " +
        "UNION SELECT r.u, e2.v FROM r JOIN eg e2 ON r.v = e2.u), " +
        "lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id " +
        "FROM r GROUP BY u), " +
        "wc AS (SELECT d.doc_id, coalesce(lbl.cluster_id, d.doc_id) " +
        "AS cluster_id FROM documents d " +
        "LEFT JOIN lbl ON lbl.doc_id = d.doc_id) " +
        "SELECT doc_id, cluster_id, bucket, " +
        "CASE WHEN bucket < 90 THEN 'train' " +
        "WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split " +
        "FROM (SELECT doc_id, cluster_id, " +
        s"${DocOps.knuthHash32Sql("cluster_id")} % 100 AS bucket FROM wc)"),
    // Mirrors DocOps.splitLeakageAudit: the ngram_jaccard_pairs set
    // probed against both split rules; n_cross_cluster = 0 is the
    // structural invariant (shared cluster id ⇒ shared bucket).
    q("split_leakage_audit", (s, d) => DocOps.splitLeakageAudit(documents(s, d)),
      s"WITH RECURSIVE $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")}, " +
        s"$jaccardPairsCte, " +
        "eg AS (SELECT a_id AS u, b_id AS v FROM pairs " +
        "UNION SELECT b_id, a_id FROM pairs), " +
        "r(u, v) AS (SELECT u, v FROM eg " +
        "UNION SELECT r.u, e2.v FROM r JOIN eg e2 ON r.v = e2.u), " +
        "lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id " +
        "FROM r GROUP BY u), " +
        "wc AS (SELECT d.doc_id, coalesce(lbl.cluster_id, d.doc_id) " +
        "AS cluster_id FROM documents d " +
        "LEFT JOIN lbl ON lbl.doc_id = d.doc_id), " +
        "naive AS (SELECT doc_id, CASE WHEN b < 90 THEN 'train' " +
        "WHEN b < 95 THEN 'val' ELSE 'test' END AS split FROM (" +
        s"SELECT doc_id, ${DocOps.knuthHash32Sql("doc_id")} % 100 AS b " +
        "FROM documents)), " +
        "caware AS (SELECT doc_id, CASE WHEN b < 90 THEN 'train' " +
        "WHEN b < 95 THEN 'val' ELSE 'test' END AS split FROM (" +
        "SELECT doc_id, " +
        s"${DocOps.knuthHash32Sql("cluster_id")} % 100 AS b FROM wc)), " +
        "cn AS (SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs, " +
        "CAST(sum(CASE WHEN na.split <> nb.split THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_cross_naive FROM pairs " +
        "JOIN naive na ON na.doc_id = a_id " +
        "JOIN naive nb ON nb.doc_id = b_id), " +
        "cc AS (SELECT CAST(sum(CASE WHEN ca.split <> cb.split THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_cross_cluster FROM pairs " +
        "JOIN caware ca ON ca.doc_id = a_id " +
        "JOIN caware cb ON cb.doc_id = b_id) " +
        "SELECT n_neardup_pairs, n_cross_naive, n_cross_cluster " +
        "FROM cn CROSS JOIN cc"),
    // Mirrors DocOps.oovRateBySource: the dataset_splits bucket rule
    // (train = hash % 100 < 90) builds the vocab; held-out token
    // occurrences probe it through one left join.
    q("oov_rate_by_source", (s, d) => DocOps.oovRateBySource(documents(s, d)),
      "WITH toks AS (SELECT doc_id, source, " +
        s"${DocOps.knuthHash32Sql("doc_id")} % 100 AS b, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok " +
        "FROM documents), " +
        "tk AS (SELECT * FROM toks WHERE tok <> ''), " +
        "vocab AS (SELECT DISTINCT tok FROM tk WHERE b < 90), " +
        "held AS (SELECT tk.source, tk.doc_id, " +
        "CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END AS oov " +
        "FROM tk LEFT JOIN vocab USING (tok) WHERE tk.b >= 90) " +
        "SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(oov) AS BIGINT) AS n_oov, " +
        "round(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "AS oov_rate FROM held GROUP BY 1"),
    // Mirrors DocOps.dsirLogWeights: same tokenizer, exact Laplace
    // count ratios into ln (identical single-division doubles), the
    // 6dp per-doc sum round absorbing summation-order ulps (the
    // bigram_perplexity convention).
    q("dsir_log_weights", (s, d) => DocOps.dsirLogWeights(documents(s, d)),
      "WITH toks AS (SELECT doc_id, lang, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t " +
        "FROM documents), " +
        "tk AS (SELECT * FROM toks WHERE t <> ''), " +
        "raw AS (SELECT t, CAST(count(*) AS BIGINT) AS cr FROM tk GROUP BY 1), " +
        "tgt AS (SELECT t, CAST(count(*) AS BIGINT) AS ct FROM tk " +
        "WHERE lang = 'en' GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, " +
        "CAST(count(*) AS BIGINT) AS v FROM raw), " +
        "ntk AS (SELECT CAST(count(*) AS BIGINT) AS ntk FROM tk " +
        "WHERE lang = 'en') " +
        "SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "round(sum(" +
        "ln((CAST(coalesce(tgt.ct, 0) AS DOUBLE) + 1.0) / " +
        "(CAST(ntk.ntk AS DOUBLE) + CAST(tot.v AS DOUBLE))) - " +
        "ln((CAST(raw.cr AS DOUBLE) + 1.0) / " +
        "(CAST(tot.nr AS DOUBLE) + CAST(tot.v AS DOUBLE)))), 6) " +
        "AS log_weight " +
        "FROM tk JOIN raw USING (t) LEFT JOIN tgt USING (t) " +
        "CROSS JOIN tot CROSS JOIN ntk GROUP BY 1"),
    // Mirrors DocOps.doclenHillTail: descending cumulative order
    // statistic for the threshold, micro-pinned per-value lns weighted
    // by exact counts, one pinned division.
    q("doclen_hill_tail", (s, d) => DocOps.doclenHillTail(documents(s, d)),
      "WITH grid AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c " +
        "FROM documents GROUP BY 1), " +
        "cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v DESC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc FROM grid), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM grid), " +
        "thr AS (SELECT CAST(max(v) AS BIGINT) AS xk1, " +
        "CAST(max(n) AS BIGINT) AS n, " +
        "CAST(max(CAST((n + 9) // 10 AS BIGINT)) AS BIGINT) AS k " +
        "FROM cum CROSS JOIN tot " +
        "WHERE cumc >= CAST((n + 9) // 10 AS BIGINT) + 1), " +
        "terms AS (SELECT CAST(max(n) AS BIGINT) AS n, " +
        "CAST(max(k) AS BIGINT) AS k, CAST(max(xk1) AS BIGINT) AS xk1, " +
        "CAST(sum(CAST(c AS HUGEINT) * CAST(round(ln(CAST(v AS DOUBLE) / " +
        "CAST(xk1 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)) AS HUGEINT) " +
        "AS smicro FROM grid CROSS JOIN thr WHERE v > xk1 AND xk1 > 0) " +
        "SELECT n AS n_docs, k, xk1 AS tail_threshold, " +
        "CASE WHEN smicro > 0 THEN round(CAST(k AS DOUBLE) * 1000000.0 / " +
        "CAST(smicro AS DOUBLE), 6) END AS hill_alpha FROM terms"),
    // Mirrors DocOps.pmiWindowCollocations: positional tokens, the
    // +-2 window as an offset join, least/greatest pair fold, single-N
    // PMI over exact HUGEINT products, (pmi DESC, wa, wb) top-20.
    q("pmi_window_collocations", (s, d) => DocOps.pmiWindowCollocations(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w, " +
        "generate_subscripts(regexp_split_to_array(lower(trim(text)), " +
        "'\\s+'), 1) AS pos FROM documents), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM toks), " +
        "uni AS (SELECT w, CAST(count(*) AS BIGINT) AS nw FROM toks " +
        "GROUP BY 1), " +
        "pairs AS (SELECT least(a.w, b.w) AS wa, " +
        "greatest(a.w, b.w) AS wb, CAST(count(*) AS BIGINT) AS n_pair " +
        "FROM toks a JOIN toks b ON a.doc_id = b.doc_id " +
        "AND b.pos - a.pos IN (1, 2) GROUP BY 1, 2), " +
        "f AS (SELECT wa, wb, n_pair FROM pairs " +
        "WHERE n_pair >= 5 AND wa <> wb), " +
        "s AS (SELECT f.wa, f.wb, f.n_pair, ua.nw AS na, ub.nw AS nb, " +
        "round(ln(CAST(CAST(f.n_pair AS HUGEINT) * n_tok AS DOUBLE) / " +
        "CAST(CAST(ua.nw AS HUGEINT) * ub.nw AS DOUBLE)), 6) AS pmi " +
        "FROM f JOIN uni ua ON ua.w = f.wa " +
        "JOIN uni ub ON ub.w = f.wb CROSS JOIN n) " +
        "SELECT wa, wb, n_pair, na, nb, pmi FROM s " +
        "ORDER BY pmi DESC, wa ASC, wb ASC LIMIT 20"),
    // Mirrors DocOps.sourceNgramNovelty: the shingleCtes 3-gram form
    // carried with source, distinct (source, gram) rows, exact source
    // counts, one pinned share division.
    q("source_ngram_novelty", (s, d) => DocOps.sourceNgramNovelty(documents(s, d)),
      "WITH toks AS (SELECT source, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS t " +
        "FROM documents), " +
        "sets AS (SELECT source, list_distinct(list_transform(" +
        "range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || " +
        "t[i+3])) AS sh FROM toks WHERE len(t) >= 3), " +
        "grams AS (SELECT DISTINCT source, sh FROM (" +
        "SELECT source, unnest(sh) AS sh FROM sets)), " +
        "bysh AS (SELECT sh, CAST(count(*) AS BIGINT) AS n_sources " +
        "FROM grams GROUP BY 1) " +
        "SELECT g.source, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_unique, " +
        "round(CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) " +
        "AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty_share " +
        "FROM grams g JOIN bysh USING (sh) GROUP BY 1"),
    // Mirrors DocOps.codeLikeShare: the same stated line regex on
    // both engines (conservative Java/RE2-shared syntax), per-doc
    // micro-pin before the source sums.
    q("code_like_share", (s, d) => DocOps.codeLikeShare(documents(s, d)),
      "WITH d AS (SELECT source, string_split(text, chr(10)) AS ls " +
        "FROM documents), " +
        "m AS (SELECT source, CASE WHEN len(ls) > 0 THEN " +
        "CAST(round(CAST(len(list_filter(ls, l -> regexp_matches(l, " +
        "'(^(    |\\t))|([;{}] *$)|(^ *(def|class|import|function|" +
        "return|var|let|const) )'))) AS DOUBLE) / " +
        "CAST(len(ls) AS DOUBLE) * 1000000.0, 0) AS BIGINT) " +
        "ELSE 0 END AS sm FROM d) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "round(CAST(CAST(sum(sm) AS BIGINT) AS DOUBLE) / " +
        "(CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS avg_code_share, " +
        "CAST(sum(CASE WHEN sm > 300000 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_code_docs, " +
        "round(CAST(sum(CASE WHEN sm > 300000 THEN 1 ELSE 0 END) " +
        "AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS code_doc_share " +
        "FROM m GROUP BY 1"),
    // Mirrors DocOps.stratifiedSample: same hash, same (h, doc_id)
    // total order, same per-stratum cap.
    q("stratified_sample", (s, d) => DocOps.stratifiedSample(documents(s, d)),
      "SELECT doc_id, lang, rn FROM (SELECT doc_id, lang, " +
        "row_number() OVER (PARTITION BY lang ORDER BY " +
        s"${DocOps.knuthHash32Sql("doc_id")} ASC, doc_id ASC) AS rn " +
        "FROM documents) WHERE rn <= 100"),
    // Mirrors DocOps.splitContamination: same Knuth buckets as
    // dataset_splits, same 8-gram shingle form, IN == the semi join,
    // contamination as one double division of identical integers.
    q("split_contamination", (s, d) =>
      DocOps.splitContamination(documents(s, d)), {
      val gram = (1 to 8).map(o => s"t[i+$o]").mkString(" || ' ' || ")
      "WITH toks AS (SELECT doc_id, " +
        s"${DocOps.knuthHash32Sql("doc_id")} % 100 AS bucket, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "sets AS (SELECT doc_id, bucket, list_distinct(list_transform(" +
        s"range(len(t) - 7), i -> $gram)) AS sh FROM toks WHERE len(t) >= 8), " +
        "inv AS (SELECT doc_id, bucket, unnest(sh) AS sh FROM sets), " +
        "te AS (SELECT doc_id, sh FROM inv WHERE bucket >= 95), " +
        "tr AS (SELECT DISTINCT sh FROM inv WHERE bucket < 90), " +
        "pd AS (SELECT doc_id, count(*) AS n_shingles FROM te GROUP BY 1), " +
        "ct AS (SELECT doc_id, count(*) AS n_contaminated FROM te " +
        "WHERE sh IN (SELECT sh FROM tr) GROUP BY 1) " +
        "SELECT doc_id, n_shingles, " +
        "CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated, " +
        "CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination " +
        "FROM pd LEFT JOIN ct USING (doc_id)"
    }),
    // Production bloom path is rows-only by nature (the ~fpp
    // over-drop is bloom-bit-dependent); its invariants are gated by
    // bloom_contamination_audit below plus BloomDecontamSpec.
    rowsOnly("bloom_decontaminate", (s, d) =>
      DocOps.bloomDecontaminate(documents(s, d))),
    // Mirrors DocOps.bloomContaminationAudit's INVARIANT columns: the
    // exact counts are recomputed relationally (md5 stands in for the
    // Spark side's xxhash64 — both are injective stand-ins for
    // normalized-text equality); n_missed = 0 is the no-false-negative
    // Bloom guarantee and fp_within_bound = true the generous FP-excess
    // bound — a broken bloom build or probe flips either constant.
    q("bloom_contamination_audit", (s, d) =>
      DocOps.bloomContaminationAudit(documents(s, d)),
      "WITH b AS (SELECT doc_id, " +
        s"${graft.ops.DocOps.knuthHash32Sql("doc_id")} % 100 AS bucket, " +
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents), " +
        "t AS (SELECT fp FROM b WHERE bucket < 90), " +
        "e AS (SELECT DISTINCT fp FROM b WHERE bucket >= 90) " +
        "SELECT (SELECT count(*) FROM t) AS n_train, " +
        "(SELECT count(*) FROM b WHERE bucket >= 90) AS n_eval, " +
        "(SELECT count(*) FROM t WHERE fp IN (SELECT fp FROM e)) " +
        "AS n_exact_leaks, " +
        "CAST(0 AS BIGINT) AS n_missed, true AS fp_within_bound"),
    // Mirrors DocOps.tfidfTopTerms: identical integer tf/df/N operands,
    // score as one double division (bit-identical, no rounding step),
    // ties pinned by term ASC.
    q("tfidf_top_terms", (s, d) => DocOps.tfidfTopTerms(documents(s, d)),
      "WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (" +
        "SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents) GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_total FROM documents) " +
        "SELECT doc_id, term, tf, df, score FROM (" +
        "SELECT doc_id, term, tf, df, " +
        "CAST(tf * n_total AS DOUBLE) / CAST(df AS DOUBLE) AS score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY " +
        "CAST(tf * n_total AS DOUBLE) / CAST(df AS DOUBLE) DESC, term ASC) AS rn " +
        "FROM tf JOIN df USING (term) CROSS JOIN n) WHERE rn <= 3"),
    // Mirrors DocOps.unigramFreqScore: integer sums, one final double
    // division per column — no ln, no order-dependent float summation.
    q("unigram_freq_score", (s, d) => DocOps.unigramFreqScore(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1), " +
        "total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM counts) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) / " +
        "CAST(count(*) * n_total AS DOUBLE) AS mean_rel_freq, " +
        "CAST(CAST(sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) " +
        "/ CAST(count(*) AS DOUBLE) AS rare_ratio " +
        "FROM toks JOIN counts USING (term) CROSS JOIN total " +
        "GROUP BY doc_id, n_total"),
    // Mirrors DocOps.distinctiveTermsBySource: lift as one cross-product
    // division of exact integer products (the tfidf trick, twice).
    q("distinctive_terms_by_source", (s, d) => DocOps.distinctiveTermsBySource(documents(s, d)),
      "WITH st AS (SELECT source, term, count(*) AS cnt FROM (" +
        "SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents) GROUP BY 1, 2), " +
        "corpus AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM st GROUP BY 1), " +
        "srct AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS src_total FROM st GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS n_total FROM corpus), " +
        "scored AS (SELECT source, term, cnt, " +
        "CAST(cnt * n_total AS DOUBLE) / CAST(src_total * cnt_all AS DOUBLE) AS lift " +
        "FROM st JOIN corpus USING (term) JOIN srct USING (source) CROSS JOIN tot " +
        "WHERE cnt >= 5) " +
        "SELECT source, term, cnt, lift FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY source ORDER BY lift DESC, term ASC) AS rn FROM scored) " +
        "WHERE rn <= 5"),
    // Mirrors DocOps.zipfSlopeByLang: same tie-pinned (cnt DESC, term
    // ASC) ranks, same ln-space moment-sum slope, one final rounding.
    q("zipf_slope_by_lang", (s, d) => DocOps.zipfSlopeByLang(documents(s, d)),
      "WITH vocab AS (SELECT lang, term, count(*) AS cnt FROM (" +
        "SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents) GROUP BY 1, 2), " +
        "ranked AS (SELECT lang, " +
        "ln(CAST(row_number() OVER (PARTITION BY lang " +
        "ORDER BY cnt DESC, term ASC) AS DOUBLE)) AS x, " +
        "ln(CAST(cnt AS DOUBLE)) AS y FROM vocab) " +
        "SELECT lang, count(*) AS n_terms, " +
        "round((count(*) * sum(x * y) - sum(x) * sum(y)) / " +
        "(count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS zipf_slope " +
        "FROM ranked GROUP BY lang"),
    // Mirrors DocOps.nfcStats: DuckDB's nfc_normalize implements the
    // same UAX #15 algorithm as java.text.Normalizer; both length()s
    // count code points.
    q("nfc_stats", (s, d) => DocOps.nfcStats(documents(s, d)),
      "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_changed, " +
        "CAST(sum(length(nfc_normalize(text))) AS BIGINT) AS sum_len_nfc " +
        "FROM documents GROUP BY source"),
    // Mirrors DocOps.langConfusion: the languageIdSql detector (same
    // stopword patterns, same tie-break) re-aggregated to the matrix.
    q("lang_confusion", (s, d) => DocOps.langConfusion(documents(s, d)),
      s"SELECT lang, pred_lang, count(*) AS n_docs FROM ($languageIdSql) " +
        "GROUP BY 1, 2"),
    // Mirrors DocOps.importanceSample: the identical Knuth hash and the
    // same division-free integer cross-multiply predicate.
    q("importance_sample", (s, d) => DocOps.importanceSample(documents(s, d)),
      "SELECT doc_id, source, n_chars FROM documents " +
        s"WHERE (${DocOps.knuthHash32Sql("doc_id")}) % 1000000 * 1000 " +
        "< n_chars * 1000000"),
    // Mirrors DocOps.weightedSample (Efraimidis–Spirakis): same Knuth
    // u, same u^(1/n_chars) key in DOUBLE, both sides rank the
    // 9dp-ROUNDED key with the doc_id tie-break.
    q("weighted_sample", (s, d) => DocOps.weightedSample(documents(s, d)),
      "SELECT doc_id, source, n_chars, " +
        s"round(pow((CAST((${DocOps.knuthHash32Sql("doc_id")}) AS DOUBLE) " +
        "+ CAST(0.5 AS DOUBLE)) / CAST(4294967296 AS DOUBLE), " +
        "CAST(1.0 AS DOUBLE) / CAST(n_chars AS DOUBLE)), 9) AS es_key " +
        "FROM documents WHERE n_chars > 0 " +
        "ORDER BY es_key DESC, doc_id ASC LIMIT 50"),
    // Mirrors DocOps.mixtureSample: identical Knuth hash, identical
    // literal rate CASE (built from the same Scala constant).
    q("mixture_sample", (s, d) => DocOps.mixtureSample(documents(s, d), mixtureRates),
      "SELECT doc_id, source, n_chars FROM documents " +
        s"WHERE (${DocOps.knuthHash32Sql("doc_id")}) % 1000000 < " +
        s"${DocOps.mixtureRateSql(mixtureRates)}"),
    // Mirrors DocOps.mixtureSampleAudit: the sampler's own hash CASE,
    // binomial expectation/z in pinned-order doubles, NULL z at the
    // zero-variance rates (0 and 1e6 ppm).
    q("mixture_sample_audit", (s, d) => DocOps.mixtureSampleAudit(documents(s, d), mixtureRates),
      "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        s"${DocOps.mixtureRateSql(mixtureRates)} AS rate_ppm " +
        "FROM documents GROUP BY 1), " +
        "kept AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sampled " +
        "FROM documents " +
        s"WHERE (${DocOps.knuthHash32Sql("doc_id")}) % 1000000 < " +
        s"${DocOps.mixtureRateSql(mixtureRates)} GROUP BY 1), " +
        "j AS (SELECT p.source, n_docs, " +
        "coalesce(n_sampled, 0) AS n_sampled, rate_ppm " +
        "FROM per p LEFT JOIN kept k ON p.source = k.source) " +
        "SELECT source, n_docs, n_sampled, rate_ppm, " +
        "round(CAST(n_docs AS DOUBLE) * (CAST(rate_ppm AS DOUBLE) / 1000000.0), 4) AS expected, " +
        "CASE WHEN CAST(n_docs AS DOUBLE) * (CAST(rate_ppm AS DOUBLE) / 1000000.0) * " +
        "(1.0 - CAST(rate_ppm AS DOUBLE) / 1000000.0) > 0.0 THEN " +
        "round((CAST(n_sampled AS DOUBLE) - CAST(n_docs AS DOUBLE) * " +
        "(CAST(rate_ppm AS DOUBLE) / 1000000.0)) / " +
        "sqrt(CAST(n_docs AS DOUBLE) * (CAST(rate_ppm AS DOUBLE) / 1000000.0) * " +
        "(1.0 - CAST(rate_ppm AS DOUBLE) / 1000000.0)), 4) END AS binom_z " +
        "FROM j"),
    // Mirrors DocOps.langAgreementKappa over the languageIdSql
    // detector: exact BIGINT cells/marginals, p_e's numerator an exact
    // BIGINT product sum divided by (N·N) in pinned DOUBLE order.
    q("lang_agreement_kappa", (s, d) => DocOps.langAgreementKappa(documents(s, d)),
      s"WITH cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n " +
        s"FROM ($languageIdSql) GROUP BY 1, 2), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, " +
        "CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) " +
        "AS n_agree FROM cells), " +
        "rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1), " +
        "ct AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1), " +
        "pe AS (SELECT CAST(coalesce(sum(r * c), 0) AS BIGINT) AS pe_num " +
        "FROM rt JOIN ct ON rt.lang = ct.pred_lang) " +
        "SELECT n_total, n_agree, " +
        "round(CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS p_observed, " +
        "round(CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)), 6) AS p_expected, " +
        "round((CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE) - " +
        "CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))) / " +
        "(1.0 - CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))), 6) AS kappa " +
        "FROM t CROSS JOIN pe"),
    // Mirrors DocOps.krippendorffAlphaLang: exact pooled-marginal
    // lanes; Do/De collapses to the single exact ratio
    // 2*dis*(2n-1)/(4n^2 - sum nc^2) -- one pinned division.
    q("krippendorff_alpha_lang", (s, d) => DocOps.krippendorffAlphaLang(documents(s, d)),
      s"WITH pairs AS (SELECT lang, pred_lang FROM ($languageIdSql)), " +
        "u AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN lang <> pred_lang THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS dis FROM pairs), " +
        "pooled AS (SELECT CAST(count(*) AS BIGINT) AS n_categories, " +
        "CAST(sum(CAST(nc AS HUGEINT) * nc) AS HUGEINT) AS snc2 FROM (" +
        "SELECT v, CAST(count(*) AS BIGINT) AS nc FROM (" +
        "SELECT lang AS v FROM pairs " +
        "UNION ALL SELECT pred_lang FROM pairs) GROUP BY 1)) " +
        "SELECT n AS n_units, n_categories, dis AS n_disagree, " +
        "round(CAST(dis AS DOUBLE) / CAST(n AS DOUBLE), 6) AS do_rate, " +
        "CASE WHEN CAST(4 AS HUGEINT) * n * n - snc2 > 0 THEN " +
        "round(CAST(CAST(4 AS HUGEINT) * n * n - snc2 AS DOUBLE) / " +
        "CAST(CAST(2 AS HUGEINT) * n * (2 * n - 1) AS DOUBLE), 6) END " +
        "AS de_rate, " +
        "CASE WHEN CAST(4 AS HUGEINT) * n * n - snc2 > 0 THEN " +
        "round(1.0 - CAST(CAST(2 AS HUGEINT) * dis * (2 * n - 1) " +
        "AS DOUBLE) / CAST(CAST(4 AS HUGEINT) * n * n - snc2 AS DOUBLE), " +
        "6) END AS kripp_alpha FROM u CROSS JOIN pooled"),
    // Mirrors DocOps.shardAssignments: exclusive prefix sum in doc_id
    // order per source, BIGINT floor-division shard ids (both engines
    // divide exact integers; inputs are nonnegative so div == //).
    q("shard_assignments", (s, d) => DocOps.shardAssignments(documents(s, d)),
      "WITH c AS (SELECT doc_id, source, n_chars, " +
        "CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) " +
        "AS BIGINT) - n_chars AS cum_excl FROM documents) " +
        "SELECT source, CAST(cum_excl // 10000 AS BIGINT) AS shard_id, " +
        "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars " +
        "FROM c GROUP BY 1, 2"),
    // Mirrors DocOps.shardFillStats: the shard manifest CTE, then one
    // per-source packing agg.
    q("shard_fill_stats", (s, d) => DocOps.shardFillStats(documents(s, d)),
      "WITH c AS (SELECT doc_id, source, n_chars, " +
        "CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) " +
        "AS BIGINT) - n_chars AS cum_excl FROM documents), " +
        "m AS (SELECT source, CAST(cum_excl // 10000 AS BIGINT) AS shard_id, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars FROM c GROUP BY 1, 2) " +
        "SELECT source, count(*) AS n_shards, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_total, " +
        "min(n_chars) AS min_shard_chars, max(n_chars) AS max_shard_chars, " +
        "round(avg(n_chars) / 10000.0, 4) AS avg_fill " +
        "FROM m GROUP BY source"),
    // Mirrors DocOps.selectUnderBudget: exclusive prefix sum over the
    // (n_chars DESC, doc_id ASC) value order, kept while the start
    // offset fits the budget.
    q("token_budget_select", (s, d) => DocOps.selectUnderBudget(documents(s, d), 50000L),
      "WITH c AS (SELECT doc_id, source, n_chars, " +
        "CAST(sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id ASC) " +
        "AS BIGINT) - n_chars AS cum_excl FROM documents) " +
        "SELECT doc_id, source, n_chars, cum_excl FROM c " +
        "WHERE cum_excl < 50000"),
    // Per-doc ratios are deflate-bound (rows-only); the audit below
    // carries the gated invariants.
    rowsOnly("compression_signals", (s, d) => DocOps.compressionSignals(documents(s, d))),
    // Invariants of the deflate ratio that ARE SQL-derivable. The
    // bound only legitimately applies to docs long enough that zlib's
    // ~11-byte header cannot dominate — at >=64 raw bytes even
    // incompressible input stays under 2x — so BOTH sides restrict to
    // that domain (a short doc would otherwise red-row a healthy
    // compressor: 'hi' deflates to ~10 bytes, ratio 5).
    // Mirrors compression_audit: counts only (the deflate length is
    // not SQL-derivable; the in-bounds invariant is). Both sides
    // restrict the bound to docs >= 64 raw bytes — below that zlib
    // header overhead can exceed 2x on a healthy compressor — and
    // null/empty texts carry a null ratio (out of the domain) on the
    // Spark side, mirrored by strlen here.
    q("compression_audit", (s, d) => {
      import org.apache.spark.sql.functions._
      DocOps.compressionSignals(documents(s, d))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_bytes") >= 64 &&
              col("ratio") > 0.0 && col("ratio") <= 2.0, 1L)
            .otherwise(0L)).as("n_in_bounds"))
    },
      "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND strlen(text) >= 64 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_in_bounds " +
        "FROM documents GROUP BY source"),
    // Mirrors DocOps.unigramKlBySource: each cross-product factor cast
    // to DOUBLE before multiplying (exact casts, identical IEEE
    // products), one final rounding.
    q("unigram_kl_by_source", (s, d) => DocOps.unigramKlBySource(documents(s, d)),
      "WITH st AS (SELECT source, term, count(*) AS cnt FROM (" +
        "SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents) GROUP BY 1, 2), " +
        "corpus AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM st GROUP BY 1), " +
        "srct AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS src_total FROM st GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS n_total FROM corpus) " +
        "SELECT source, count(*) AS n_terms, " +
        "round(sum((CAST(cnt AS DOUBLE) / CAST(src_total AS DOUBLE)) * " +
        "ln((CAST(cnt AS DOUBLE) * CAST(n_total AS DOUBLE)) / " +
        "(CAST(src_total AS DOUBLE) * CAST(cnt_all AS DOUBLE)))), 6) " +
        "AS kl_vs_corpus " +
        "FROM st JOIN corpus USING (term) JOIN srct USING (source) " +
        "CROSS JOIN tot GROUP BY source"),
    // Mirrors DocOps.ttrBySource: same lowercased whitespace tokenizer
    // as token_counts/top_terms; the DOUBLE cast lands on the same side
    // of the division.
    q("ttr_by_source", (s, d) => DocOps.ttrBySource(documents(s, d)),
      "WITH t AS (SELECT source, " +
        "CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS DOUBLE) / " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS ttr FROM documents) " +
        "SELECT source, round(avg(ttr), 4) AS avg_ttr, count(*) AS docs " +
        "FROM t GROUP BY source"),
    q("doclen_histogram", (s, d) => DocOps.doclenHistogram(documents(s, d)),
      "SELECT source, CAST(floor(n_chars / 100.0) AS BIGINT) AS bucket, " +
        "count(*) AS n, CAST(floor(n_chars / 100.0) AS BIGINT) * 100 AS lo " +
        "FROM documents GROUP BY 1, 2"),
    q("doc_fingerprints", (s, d) => DocOps.fingerprints(documents(s, d)),
      "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents"),
    // Mirrors DocOps.dupRateByBatch: same md5 normalization, keeper =
    // min doc_id per fingerprint, exact counts into one rounded ratio.
    q("dup_rate_by_batch", (s, d) => DocOps.dupRateByBatch(documents(s, d)),
      "WITH fp AS (SELECT doc_id, " +
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents), " +
        "k AS (SELECT fp, min(doc_id) AS keeper_id FROM fp GROUP BY 1) " +
        "SELECT CAST(doc_id // 50 AS BIGINT) AS batch_id, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, " +
        "round(CAST(sum(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS dup_rate " +
        "FROM fp JOIN k USING (fp) GROUP BY 1"),
    // Mirrors DocOps.chunkDocuments(size=200, overlap=50): starts at
    // step 150 capped at greatest(n-overlap-1, 0) — range() stop is
    // exclusive, hence the +1 — so a start is emitted only while the
    // tail still holds a novel character; both sides hash the chunk
    // (md5) instead of shipping its text.
    q("doc_chunks", (s, d) => DocOps.chunkDocuments(documents(s, d)),
      "WITH d AS (SELECT doc_id, source, text, length(text) AS n " +
        "FROM documents WHERE length(text) >= 1), " +
        "s AS (SELECT doc_id, source, text, " +
        "unnest(range(0, greatest(n - 51, 0) + 1, 150)) AS start FROM d) " +
        "SELECT doc_id, source, CAST(start // 150 AS INT) AS chunk_id, " +
        "CAST(start AS BIGINT) AS char_start, " +
        "CAST(length(substring(text, CAST(start + 1 AS INT), 200)) AS BIGINT) AS chunk_len, " +
        "md5(substring(text, CAST(start + 1 AS INT), 200)) AS chunk_hash " +
        "FROM s"),
    // winnowing: same normalization, same mod-reduced Rabin-Karp k-gram
    // hash via lead(), same rightmost-min-per-window via min over a
    // (h, -i) struct — exact integer arithmetic both sides
    q("winnowed_fingerprints", (s, d) => DocOps.winnowedFingerprints(documents(s, d)),
      winnowSelCte(5, 4) +
        " SELECT DISTINCT doc_id, -(m.ni) AS pos, m.h AS fp FROM sel WHERE i >= 3"),
    q("winnow_near_dups", (s, d) => DocOps.winnowNearDups(documents(s, d)),
      winnowSelCte(12, 8) +
        ", fps AS (SELECT DISTINCT doc_id, m.h AS fp FROM sel WHERE i >= 7)" +
        ", pruned AS (SELECT * FROM (SELECT doc_id, fp, " +
        "count(*) OVER (PARTITION BY fp) AS df FROM fps) WHERE df <= 50) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared " +
        "FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 8"),
    q("language_id", (s, d) => DocOps.languageId(documents(s, d)), languageIdSql),
    q("clean_corpus", (s, d) => DocOps.cleanCorpus(documents(s, d), 100, 0.5),
      "WITH q AS (SELECT * FROM documents WHERE length(text) >= 100 AND " +
        "length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 / length(text) >= 0.5), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY " +
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) " +
        "ORDER BY doc_id ASC) AS rn FROM q) " +
        "SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn = 1"),
    q("top_bigrams_by_lang", (s, d) =>
      DocOps.topBigramsByLang(documents(s, d), 5),
      "WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "sets AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 1), " +
        "i -> t[i+1] || ' ' || t[i+2])) AS sh FROM toks WHERE len(t) >= 2), " +
        "inv AS (SELECT doc_id, unnest(sh) AS bigram FROM sets), " +
        "c AS (SELECT lang, bigram, count(*) AS cnt FROM inv " +
        "JOIN documents USING (doc_id) GROUP BY 1, 2) " +
        "SELECT lang, bigram, cnt FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY lang ORDER BY cnt DESC, bigram ASC) AS rn FROM c) " +
        "WHERE rn <= 5"),
    // Mirrors DocOps.ngramNovelty: per-doc distinct 3-gram shingles
    // (same lambda shingling as ngram_jaccard_pairs), corpus df, and
    // the df=1 fraction; the division is double/bigint in both engines
    // with one final rounding.
    q("ngram_novelty", (s, d) => DocOps.ngramNovelty(documents(s, d)),
      s"WITH $shingleCtes, " +
        "dfs AS (SELECT sh, count(*) AS df FROM inv GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1.0 " +
        "/ count(*), 4) AS novelty " +
        "FROM inv JOIN dfs USING (sh) GROUP BY doc_id"),
    // Subset invariant gating the hash-seed-bound simhash_near_dups:
    // equal normalized fingerprints ⇒ equal token sequences ⇒ equal
    // simhashes (hamming 0), and hamming-0 pairs share all four chunks,
    // so EVERY exact-dup pair must appear in the near-dup output —
    // n_missing is structurally 0 and n_exact_pairs is SQL-derivable.
    // Mirrors simhash_exactdup_audit: the exact-pair count from the
    // same normalized fingerprint; n_missing is 0 by the subset
    // invariant (hamming-0 pairs always share a band chunk).
    q("simhash_exactdup_audit", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val docs = documents(s, d)
      val fp = docs.select(col("doc_id"), DocOps.fingerprint(col("text")).as("fp"))
      val exactPairs = fp.as("a")
        .join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      val near = DedupOps.simhashNearDups(docs, 3).select("a_id", "b_id")
      exactPairs.agg(count(lit(1)).as("n_exact_pairs"))
        .crossJoin(exactPairs.join(near, Seq("a_id", "b_id"), "left_anti")
          .agg(count(lit(1)).as("n_missing")))
    },
      "WITH fp AS (SELECT doc_id, " +
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents), " +
        "p AS (SELECT count(*) AS n FROM fp a " +
        "JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id) " +
        "SELECT CAST(n AS BIGINT) AS n_exact_pairs, " +
        "CAST(0 AS BIGINT) AS n_missing FROM p"),
    q("media_byte_stats", (s, d) => multimodal.Multimodal.byteStatsByKind(
      multimodal.Multimodal.syntheticMedia(documents(s, d))),
      "WITH m AS (SELECT CASE CAST(doc_id % 3 AS INT) " +
        "WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "octet_length(CAST(text AS BLOB)) AS nb FROM documents) " +
        "SELECT kind, count(*) AS n_media, CAST(sum(nb) AS BIGINT) AS total_bytes, " +
        "min(nb) AS min_bytes, max(nb) AS max_bytes FROM m GROUP BY kind"),
    // Mirrors MediaCodec.decodeStub + extractFeatures byte-for-byte:
    // text is pure ASCII in the test data (verified octet_length ==
    // length at every SF), so byte i == unicode(char i+1); samples are
    // fp32 b/255 (double-rounding-free for all 256 byte values, checked
    // exhaustively), folds run in DOUBLE left-to-right exactly like the
    // stub's while-loop, with one final CAST to REAL per feature.
    q("media_features", (s, d) => {
      // flattened to one scalar column per feature slot — array output
      // columns crash the oracle harness's pandas row-sort
      import org.apache.spark.sql.functions.col
      val feats = multimodal.Multimodal.extractFeatures(
        multimodal.Multimodal.mediaDataset(s, documents(s, d))).toDF()
      val slots = (0 until 8).map(i =>
        col("feature").getItem(i).cast("double").as(s"f$i"))
      feats.select(Seq(col("media_id"), col("kind"), col("n_bytes"),
        col("mean_sample").cast("double").as("mean_sample")) ++ slots: _*)
    }, {
      // Each slot/mean fold is guarded: DuckDB's list_reduce ERRORS on
      // an empty list, so a doc shorter than j+1 chars (or empty) must
      // short-circuit to the stub's 0.0 instead of evaluating the fold.
      val slots = (0 until 8).map(j =>
        s"CASE WHEN len(s) < ${j + 1} THEN 0.0 ELSE " +
          s"CAST(CAST(list_reduce(list_transform(range(${j + 1}, len(s) + 1, 8), " +
          s"i -> s[i]), (a, b) -> a + b) AS REAL) AS DOUBLE) END AS f$j")
        .mkString(", ")
      "WITH m AS (SELECT doc_id AS media_id, " +
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' " +
        "ELSE 'video' END AS kind, " +
        "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, " +
        "list_transform(range(1, least(length(text), 256) + 1), " +
        "i -> CAST(CAST(unicode(substr(text, CAST(i AS INT), 1)) AS REAL) " +
        "/ CAST(255.0 AS REAL) AS DOUBLE)) AS s FROM documents) " +
        "SELECT media_id, kind, n_bytes, " +
        "CASE WHEN len(s) = 0 THEN 0.0 ELSE " +
        "CAST(CAST(list_reduce(s, (a, b) -> a + b) / CAST(len(s) AS DOUBLE) " +
        s"AS REAL) AS DOUBLE) END AS mean_sample, $slots FROM m"
    }),
    // Mirrors DocOps.sequencePacking: same bpeish token measure, the
    // same per-source (n_tokens DESC, doc_id) prefix sum, and exact
    // integer `//` for sequence index + straddle flag.
    q("sequence_packing", (s, d) => DocOps.sequencePacking(documents(s, d)),
      "WITH toks AS (SELECT doc_id, source, " +
        "CAST(length(regexp_extract_all(text, " +
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "p AS (SELECT doc_id, source, n_tokens, " +
        "CAST(sum(n_tokens) OVER (PARTITION BY source " +
        "ORDER BY n_tokens DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum FROM toks WHERE n_tokens > 0) " +
        "SELECT source, CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS tokens_started, " +
        "CAST(sum(CASE WHEN CAST((cum - 1) // 2048 AS BIGINT) > " +
        "CAST((cum - n_tokens) // 2048 AS BIGINT) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling " +
        "FROM p GROUP BY 1, 2"),
    // Mirrors DocOps.packedShards: the shard_assignments doc-grain
    // char prefix (exclusive, per source in doc_id order) assigns
    // shard_id, then the sequence_packing window runs WITHIN
    // (source, shard_id).
    q("packed_shards", (s, d) => DocOps.packedShards(documents(s, d)),
      "WITH c AS (SELECT doc_id, source, " +
        "CAST(length(regexp_extract_all(text, " +
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens, " +
        "CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) " +
        "AS BIGINT) - n_chars AS cum_excl FROM documents), " +
        "s AS (SELECT doc_id, source, n_tokens, " +
        "CAST(cum_excl // 10000 AS BIGINT) AS shard_id FROM c), " +
        "p AS (SELECT source, shard_id, doc_id, n_tokens, " +
        "CAST(sum(n_tokens) OVER (PARTITION BY source, shard_id " +
        "ORDER BY n_tokens DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum FROM s WHERE n_tokens > 0) " +
        "SELECT source, shard_id, " +
        "CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS tokens_started, " +
        "CAST(sum(CASE WHEN CAST((cum - 1) // 2048 AS BIGINT) > " +
        "CAST((cum - n_tokens) // 2048 AS BIGINT) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling " +
        "FROM p GROUP BY 1, 2, 3"),
    q("bpe_train_rounds", (s, d) => DocOps.bpeTrainRounds(documents(s, d)), bpeTrainSql(3)),
    q("bpe_tokenize_counts", (s, d) => DocOps.bpeTokenizeCounts(documents(s, d)),
      bpeTokenizeSql(3)),
    // Mirrors DocOps.datasetManifest: per-shard sorted-digest fold —
    // string_agg ORDER BY the digest itself makes the md5-of-concat
    // order/partition independent on both engines.
    q("dataset_manifest", (s, d) => DocOps.datasetManifest(documents(s, d)),
      "SELECT source, doc_id % 8 AS shard, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "md5(string_agg(md5(text), '' ORDER BY md5(text))) AS manifest_md5 " +
        "FROM documents GROUP BY 1, 2"),
    // Mirrors DocOps.langIdPrf1 over the shared languageIdSql
    // detector: exact tp/marginals, pinned p/r/f1 with NULL-denominator
    // guards and f1 = 0 at tp = 0.
    q("langid_prf1", (s, d) => DocOps.langIdPrf1(documents(s, d)),
      s"WITH cells AS (SELECT lang, pred_lang, " +
        s"CAST(count(*) AS BIGINT) AS n FROM ($languageIdSql) GROUP BY 1, 2), " +
        "tr AS (SELECT lang AS language, CAST(sum(n) AS BIGINT) AS n_true " +
        "FROM cells GROUP BY 1), " +
        "pr AS (SELECT pred_lang AS language, CAST(sum(n) AS BIGINT) " +
        "AS n_pred FROM cells GROUP BY 1), " +
        "d AS (SELECT lang AS language, CAST(sum(n) AS BIGINT) AS tp " +
        "FROM cells WHERE lang = pred_lang GROUP BY 1), " +
        "j AS (SELECT language, coalesce(n_true, 0) AS n_true, " +
        "coalesce(n_pred, 0) AS n_pred, coalesce(tp, 0) AS tp " +
        "FROM tr FULL OUTER JOIN pr USING (language) " +
        "LEFT JOIN d USING (language)) " +
        "SELECT language, n_true, n_pred, tp, " +
        "CASE WHEN n_pred > 0 THEN " +
        "round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END " +
        "AS precision, " +
        "CASE WHEN n_true > 0 THEN " +
        "round(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END " +
        "AS recall, " +
        "CASE WHEN n_pred > 0 AND n_true > 0 THEN " +
        "CASE WHEN tp > 0 THEN round(2.0 * " +
        "(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)) * " +
        "(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)) / " +
        "((CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)) + " +
        "(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE))), 6) " +
        "ELSE 0.0 END END AS f1 FROM j"),
    // Mirrors DocOps.filterAttritionWaterfall over languageIdSql:
    // prefix-AND BIGINT sums, integer cross-multiplied TTR rule,
    // guarded retention ratios.
    q("filter_attrition_waterfall", (s, d) => DocOps.filterAttritionWaterfall(documents(s, d)),
      s"WITH li AS ($languageIdSql), " +
        "fl AS (SELECT (length(trim(text)) > 0) AS f1, " +
        "(n_chars >= 100) AS f2, (n_chars <= 500) AS f3, " +
        "(CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), " +
        "'\\s+'))) AS BIGINT) * 10 >= " +
        "CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) " +
        "AS BIGINT) * 3) AS f4, " +
        "(pred_lang = lang) AS f5 FROM li), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS s0, " +
        "CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1, " +
        "CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2, " +
        "CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS s3, " +
        "CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS s4, " +
        "CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS s5 FROM fl), " +
        "w AS (SELECT 0 AS stage, 'total' AS rule, s0 AS n_pass, " +
        "s0 AS n_prev FROM s " +
        "UNION ALL SELECT 1, 'nonempty', s1, s0 FROM s " +
        "UNION ALL SELECT 2, 'min_length', s2, s1 FROM s " +
        "UNION ALL SELECT 3, 'max_length', s3, s2 FROM s " +
        "UNION ALL SELECT 4, 'lexical_diversity', s4, s3 FROM s " +
        "UNION ALL SELECT 5, 'langid_agrees', s5, s4 FROM s) " +
        "SELECT CAST(stage AS BIGINT) AS stage, rule, n_pass, " +
        "n_prev - n_pass AS n_dropped, " +
        "CASE WHEN n_prev > 0 THEN " +
        "round(CAST(n_pass AS DOUBLE) / CAST(n_prev AS DOUBLE), 6) END " +
        "AS retention FROM w"),
    // Mirrors DocOps.sourceVocabOverlap: per-term distinct source
    // pairs, exact sizes, one pinned Jaccard division.
    q("source_vocab_overlap", (s, d) => DocOps.sourceVocabOverlap(documents(s, d)),
      "WITH st AS (SELECT DISTINCT source, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "stn AS (SELECT source, term FROM st WHERE term <> ''), " +
        "sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v " +
        "FROM stn GROUP BY 1), " +
        "inter AS (SELECT a.source AS source_a, b.source AS source_b, " +
        "CAST(count(*) AS BIGINT) AS n_common FROM stn a JOIN stn b " +
        "ON a.term = b.term AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT source_a, source_b, sa.v AS v_a, sb.v AS v_b, n_common, " +
        "round(CAST(n_common AS DOUBLE) / " +
        "CAST(sa.v + sb.v - n_common AS DOUBLE), 6) AS jaccard " +
        "FROM inter JOIN sizes sa ON sa.source = inter.source_a " +
        "JOIN sizes sb ON sb.source = inter.source_b"),
    // Mirrors DocOps.chao1VocabRichness: same whitespace tokenizer as
    // ttr_by_source, exact BIGINT V/N/f1/f2, the bias-corrected
    // Chao1-bC pinned as V + (f1·(f1−1))/(2·(f2+1)).
    q("chao1_vocab_richness", (s, d) => DocOps.chao1VocabRichness(documents(s, d)),
      "WITH t AS (SELECT source, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS w FROM documents), " +
        "wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c " +
        "FROM t GROUP BY 1, 2), " +
        "s AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab, " +
        "CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1, " +
        "CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2 " +
        "FROM wc GROUP BY 1) " +
        "SELECT source, vocab, n_tokens, f1, f2, " +
        "round(CAST(vocab AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE) / " +
        "CAST(2 * (f2 + 1) AS DOUBLE), 4) AS chao1, " +
        "round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) " +
        "AS gt_coverage FROM s"),
    // Mirrors DocOps.heapsLawFit: per-source cumulative (tokens,
    // first-occurrence vocab) curve in doc_id order, ln's re-pinned to
    // BIGINT micro-units BEFORE the HUGEINT regression moments, two
    // pinned double divisions, NULL fit for single-doc sources.
    q("heaps_law_fit", (s, d) => DocOps.heapsLawFit(documents(s, d)),
      "WITH t AS (SELECT source, doc_id, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS w FROM documents), " +
        "pd AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nt " +
        "FROM t GROUP BY 1, 2), " +
        "fo AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nv FROM " +
        "(SELECT source, w, min(doc_id) AS doc_id FROM t GROUP BY 1, 2) " +
        "GROUP BY 1, 2), " +
        "cum AS (SELECT pd.source, " +
        "CAST(sum(pd.nt) OVER (PARTITION BY pd.source ORDER BY pd.doc_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n, " +
        "CAST(sum(coalesce(fo.nv, 0)) OVER (PARTITION BY pd.source " +
        "ORDER BY pd.doc_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v " +
        "FROM pd LEFT JOIN fo ON fo.source = pd.source AND fo.doc_id = pd.doc_id), " +
        "pts AS (SELECT source, " +
        "CAST(round(ln(CAST(cum_n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS xm, " +
        "CAST(round(ln(CAST(cum_v AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS ym " +
        "FROM cum), " +
        "s AS (SELECT source, CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(xm) AS BIGINT) AS sx, CAST(sum(ym) AS BIGINT) AS sy, " +
        "CAST(sum(CAST(xm AS HUGEINT) * ym) AS HUGEINT) AS sxy, " +
        "CAST(sum(CAST(xm AS HUGEINT) * xm) AS HUGEINT) AS sxx FROM pts GROUP BY 1) " +
        "SELECT source, k AS n_docs, " +
        "CASE WHEN CAST(CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0.0 THEN " +
        "round(CAST(CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / " +
        "CAST(CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6) " +
        "END AS heaps_beta, " +
        "CASE WHEN CAST(CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0.0 THEN " +
        "round(exp((CAST(sy AS DOUBLE) - " +
        "(CAST(CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) / " +
        "CAST(CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) * " +
        "CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE) / 1000000.0), 4) " +
        "END AS heaps_k FROM s"),
    // Mirrors DocOps.yuleKBySource: Σc² ≡ Σm²V_m in exact HUGEINT,
    // K = 10⁴(Σc² − N)/N² as ONE pinned division; N < 2 → NULL.
    q("yule_k_by_source", (s, d) => DocOps.yuleKBySource(documents(s, d)),
      "WITH t AS (SELECT source, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS w FROM documents), " +
        "wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c " +
        "FROM t GROUP BY 1, 2), " +
        "s AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab, " +
        "CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sumsq " +
        "FROM wc GROUP BY 1) " +
        "SELECT source, vocab, n_tokens, " +
        "CASE WHEN n_tokens >= 2 THEN round(10000.0 * " +
        "CAST(sumsq - n_tokens AS DOUBLE) / " +
        "CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS DOUBLE), 6) " +
        "END AS yule_k FROM s"),
    // Mirrors DocOps.honoreSichelBySource: H = 100·ln(N)·V/(V−V₁) as
    // one pinned division (NULL when every type is a hapax), S = V₂/V.
    q("honore_sichel_by_source", (s, d) => DocOps.honoreSichelBySource(documents(s, d)),
      "WITH t AS (SELECT source, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS w FROM documents), " +
        "wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c " +
        "FROM t GROUP BY 1, 2), " +
        "s AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab, " +
        "CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1, " +
        "CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2 " +
        "FROM wc GROUP BY 1) " +
        "SELECT source, vocab, n_tokens, v1, v2, " +
        "CASE WHEN v1 < vocab THEN round(100.0 * " +
        "ln(CAST(n_tokens AS DOUBLE)) * CAST(vocab AS DOUBLE) / " +
        "CAST(vocab - v1 AS DOUBLE), 6) END AS honore_h, " +
        "round(CAST(v2 AS DOUBLE) / CAST(vocab AS DOUBLE), 6) " +
        "AS sichel_s FROM s"),
    // Mirrors DocOps.goodTuringSpectrumBySource: spectrum sizes V₁..V₄
    // exact, r* = (r+1)V_{r+1}/V_r pinned per r, V_r = 0 → NULL.
    q("good_turing_spectrum", (s, d) => DocOps.goodTuringSpectrumBySource(documents(s, d)),
      "WITH t AS (SELECT source, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS w FROM documents), " +
        "wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c " +
        "FROM t GROUP BY 1, 2), " +
        "s AS (SELECT source, " +
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1, " +
        "CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2, " +
        "CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS v3, " +
        "CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS v4 " +
        "FROM wc GROUP BY 1) " +
        "SELECT source, v1, v2, v3, v4, " +
        "CASE WHEN v1 > 0 THEN round(2.0 * CAST(v2 AS DOUBLE) / " +
        "CAST(v1 AS DOUBLE), 6) END AS r_star_1, " +
        "CASE WHEN v2 > 0 THEN round(3.0 * CAST(v3 AS DOUBLE) / " +
        "CAST(v2 AS DOUBLE), 6) END AS r_star_2, " +
        "CASE WHEN v3 > 0 THEN round(4.0 * CAST(v4 AS DOUBLE) / " +
        "CAST(v3 AS DOUBLE), 6) END AS r_star_3 FROM s"),
    // Mirrors DocOps.sentenceLengthBySource: [.!?]+ split, whitespace-
    // only fragments dropped, exact per-sentence token counts, ONE
    // pinned division for the mean.
    q("sentence_length_by_source", (s, d) => DocOps.sentenceLengthBySource(documents(s, d)),
      "WITH sent AS (SELECT source, unnest(regexp_split_to_array(" +
        "text, '[.!?]+')) AS s FROM documents), " +
        "ns AS (SELECT source, CAST(len(regexp_split_to_array(" +
        "trim(s), '\\s+')) AS BIGINT) AS n_tok FROM sent " +
        "WHERE trim(s) <> '') " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_sentences, " +
        "round(CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "AS avg_sentence_tokens, " +
        "CAST(max(n_tok) AS BIGINT) AS max_sentence_tokens " +
        "FROM ns GROUP BY source"),
    // Mirrors DocOps.punctProfileChisqBySource: six length-minus-
    // replace class counts, χ² terms as (obs·C − n_s·C_c)²/(n_s·C_c·C)
    // off exact HUGEINT lanes, micro-pinned to BIGINT BEFORE the 6-term
    // sum, one unpin.
    q("punct_chisq_by_source", (s, d) => DocOps.punctProfileChisqBySource(documents(s, d)),
      "WITH per AS (SELECT source, " +
        (0 until 6).map { i =>
          val ch = Seq(".", ",", "!", "?", ";", ":")(i)
          s"CAST(sum(length(text) - length(replace(text, '$ch', ''))) " +
            s"AS BIGINT) AS o$i"
        }.mkString(", ") + " FROM documents GROUP BY source), " +
        "tot AS (SELECT " +
        (0 until 6).map(i => s"CAST(sum(o$i) AS BIGINT) AS t$i")
          .mkString(", ") + ", " +
        "CAST(" + (0 until 6).map(i => s"sum(o$i)").mkString(" + ") +
        " AS BIGINT) AS tc FROM per), " +
        "n AS (SELECT per.*, " +
        (0 until 6).map(i => s"o$i").mkString(" + ") + " AS ns, " +
        (0 until 6).map(i => s"t$i").mkString(", ") +
        ", tc FROM per, tot), " +
        "terms AS (SELECT source, ns, " +
        (0 until 6).map { i =>
          s"CASE WHEN CAST(ns AS HUGEINT) * t$i * tc > 0 THEN " +
            s"CAST(round(CAST(CAST(o$i AS HUGEINT) * tc - " +
            s"CAST(ns AS HUGEINT) * t$i AS DOUBLE) * " +
            s"CAST(CAST(o$i AS HUGEINT) * tc - " +
            s"CAST(ns AS HUGEINT) * t$i AS DOUBLE) / " +
            s"CAST(CAST(ns AS HUGEINT) * t$i * tc AS DOUBLE) " +
            s"* 1000000.0) AS BIGINT) ELSE 0 END AS m$i"
        }.mkString(", ") + " FROM n) " +
        "SELECT source, ns AS n_punct, " +
        "CASE WHEN ns > 0 THEN round(CAST(" +
        (0 until 6).map(i => s"m$i").mkString(" + ") +
        " AS DOUBLE) / 1000000.0, 4) END AS chisq_vs_corpus FROM terms"),
    // Mirrors DocOps.featureHashBuckets: [a-z0-9]-normalized tokens,
    // the Rabin-Karp fold per DISTINCT word (list_reduce's
    // first-element init ≡ Spark's fold from 0: 0·257+c0 = c0), sign
    // from the hash's next bit, exact integer weights.
    q("feature_hash_buckets", (s, d) => DocOps.featureHashBuckets(documents(s, d)),
      "WITH t AS (SELECT doc_id, regexp_replace(unnest(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+')), " +
        "'[^a-z0-9]', '', 'g') AS w FROM documents), " +
        "wt AS (SELECT doc_id, w FROM t WHERE length(w) > 0), " +
        "v AS (SELECT DISTINCT w FROM wt), " +
        "vh AS (SELECT w, list_reduce(list_transform(range(length(w)), " +
        "i -> CAST(ascii(substr(w, CAST(i + 1 AS INTEGER), 1)) AS BIGINT)), " +
        "(a, b) -> (a * 257 + b) % 2147483647) AS h FROM v), " +
        "vb AS (SELECT w, CAST(h % 64 AS BIGINT) AS bucket, " +
        "CASE WHEN CAST(h // 64 AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn " +
        "FROM vh) " +
        "SELECT wt.doc_id, vb.bucket, CAST(sum(vb.sgn) AS BIGINT) AS weight " +
        "FROM wt JOIN vb USING (w) GROUP BY 1, 2"),
    // Mirrors DocOps.tokenizerFertility: same whitespace-word and
    // BPE-ish regex token counts, exact BIGINT sums per language.
    q("tokenizer_fertility", (s, d) => DocOps.tokenizerFertility(documents(s, d)),
      "WITH d AS (SELECT lang, CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words, " +
        "CAST(len(regexp_extract_all(text, " +
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens " +
        "FROM documents) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS chars, " +
        "CAST(sum(n_words) AS BIGINT) AS words, " +
        "CAST(sum(n_tokens) AS BIGINT) AS tokens, " +
        "CASE WHEN CAST(sum(n_words) AS BIGINT) > 0 THEN " +
        "round(CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(sum(n_words) AS BIGINT) AS DOUBLE), 6) END AS fertility, " +
        "CASE WHEN CAST(sum(n_tokens) AS BIGINT) > 0 THEN " +
        "round(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE), 6) END " +
        "AS chars_per_token FROM d GROUP BY 1"),
    // Mirrors DocOps.jensenShannonBySource: present-terms-only scan,
    // exact count ratios, the closed-form absent-mass ln2 correction,
    // ONE final rounding over the two ln-term sums (the unigram_kl
    // convention).
    q("jensen_shannon_by_source", (s, d) => DocOps.jensenShannonBySource(documents(s, d)),
      "WITH t AS (SELECT source, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS term FROM documents), " +
        "sc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM t GROUP BY 1, 2), " +
        "corpus AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS cnt_all " +
        "FROM sc GROUP BY 1), " +
        "stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS src_total " +
        "FROM sc GROUP BY 1), " +
        "ct AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS n_total FROM corpus), " +
        "j AS (SELECT sc.source, sc.cnt, corpus.cnt_all, stot.src_total, " +
        "ct.n_total FROM sc JOIN corpus USING (term) " +
        "JOIN stot USING (source) CROSS JOIN ct), " +
        "a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms, " +
        "sum((CAST(cnt AS DOUBLE) / CAST(src_total AS DOUBLE)) * " +
        "ln((CAST(cnt AS DOUBLE) / CAST(src_total AS DOUBLE)) / " +
        "((CAST(cnt AS DOUBLE) / CAST(src_total AS DOUBLE) + " +
        "CAST(cnt_all AS DOUBLE) / CAST(n_total AS DOUBLE)) / 2.0))) AS sp, " +
        "sum((CAST(cnt_all AS DOUBLE) / CAST(n_total AS DOUBLE)) * " +
        "ln((CAST(cnt_all AS DOUBLE) / CAST(n_total AS DOUBLE)) / " +
        "((CAST(cnt AS DOUBLE) / CAST(src_total AS DOUBLE) + " +
        "CAST(cnt_all AS DOUBLE) / CAST(n_total AS DOUBLE)) / 2.0))) AS scl, " +
        "CAST(sum(cnt_all) AS BIGINT) AS present_all, " +
        "CAST(max(n_total) AS BIGINT) AS n_total FROM j GROUP BY 1) " +
        "SELECT source, n_terms, " +
        "round((sp + scl + 0.6931471805599453 * " +
        "(1.0 - CAST(present_all AS DOUBLE) / CAST(n_total AS DOUBLE))) / 2.0, 6) " +
        "AS js_vs_corpus FROM a"),
    // Mirrors DocOps.kendallWSources: tie-free row_number ranks on the
    // three volume metrics, doubled-unit deviations kept integer,
    // one final W division.
    q("kendall_w_sources", (s, d) => DocOps.kendallWSources(documents(s, d)),
      "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS tot_chars, " +
        "CAST(max(n_chars) AS BIGINT) AS max_chars FROM documents " +
        "GROUP BY 1), " +
        "ranked AS (SELECT source, " +
        "row_number() OVER (ORDER BY n_docs DESC, source ASC) AS r1, " +
        "row_number() OVER (ORDER BY tot_chars DESC, source ASC) AS r2, " +
        "row_number() OVER (ORDER BY max_chars DESC, source ASC) AS r3 " +
        "FROM per), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS nsrc FROM per), " +
        "dev AS (SELECT nsrc, 2 * (r1 + r2 + r3) - 3 * (nsrc + 1) " +
        "AS d2 FROM ranked CROSS JOIN tot), " +
        "agg AS (SELECT nsrc, CAST(sum(d2 * d2) AS BIGINT) AS d2sq " +
        "FROM dev GROUP BY 1) " +
        "SELECT nsrc AS n_sources, CAST(3 AS BIGINT) AS m_rankers, " +
        "d2sq AS ssd_doubled, " +
        "CASE WHEN nsrc > 1 THEN round(3.0 * CAST(d2sq AS DOUBLE) / " +
        "(9.0 * CAST(nsrc AS DOUBLE) * (CAST(nsrc AS DOUBLE) * " +
        "CAST(nsrc AS DOUBLE) - 1.0)), 6) END AS kendall_w, " +
        "CASE WHEN nsrc > 1 THEN round(3.0 * " +
        "(CAST(nsrc AS DOUBLE) - 1.0) * (3.0 * CAST(d2sq AS DOUBLE) / " +
        "(9.0 * CAST(nsrc AS DOUBLE) * (CAST(nsrc AS DOUBLE) * " +
        "CAST(nsrc AS DOUBLE) - 1.0))), 6) END AS chi2 FROM agg"),
    // Mirrors DocOps.hellingerLangPairs: exact-count probability
    // ratios, per-lang sqrt(p*q) terms over the shared-language inner
    // join, clamped Hellinger, NULL -ln on disjoint support.
    q("hellinger_lang_pairs", (s, d) => DocOps.hellingerLangPairs(documents(s, d)),
      "WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) " +
        "AS c FROM documents GROUP BY 1, 2), " +
        "tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS n " +
        "FROM cells GROUP BY 1), " +
        "p AS (SELECT c.source, c.lang, CAST(c.c AS DOUBLE) / " +
        "CAST(t.n AS DOUBLE) AS p FROM cells c JOIN tots t " +
        "USING (source)), " +
        "j AS (SELECT a.source AS src_a, b.source AS src_b, " +
        "sqrt(a.p * b.p) AS term FROM p a JOIN p b " +
        "ON a.lang = b.lang AND a.source < b.source), " +
        "bc AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) " +
        "AS n_shared_langs, sum(CAST(term AS DOUBLE)) AS bc " +
        "FROM j GROUP BY 1, 2) " +
        "SELECT src_a, src_b, n_shared_langs, " +
        "round(bc, 6) AS bhatt_coef, " +
        "round(sqrt(greatest(0.0, 1.0 - bc)), 6) AS hellinger, " +
        "CASE WHEN bc > 0.0 THEN round(-ln(bc), 6) END AS bhatt_dist " +
        "FROM bc ORDER BY 1, 2"),
    // Mirrors DocOps.burrowsDeltaPairs: total-order top-50 cut,
    // zero-filled frequency grid, per-term mean/sample-std over the
    // source frame, mean |z| gap per pair.
    q("burrows_delta_pairs", (s, d) => DocOps.burrowsDeltaPairs(documents(s, d)),
      "WITH t AS (SELECT source, unnest(regexp_split_to_array(" +
        "lower(trim(text)), '\\s+')) AS term FROM documents), " +
        "tt AS (SELECT source, term FROM t WHERE length(term) > 0), " +
        "sc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM tt GROUP BY 1, 2), " +
        "stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS src_total " +
        "FROM sc GROUP BY 1), " +
        "corp AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS cnt_all " +
        "FROM sc GROUP BY 1), " +
        "top AS (SELECT term FROM (SELECT term, row_number() OVER (" +
        "ORDER BY cnt_all DESC, term ASC) AS rk FROM corp) " +
        "WHERE rk <= 50), " +
        "gridf AS (SELECT st.source, tp.term, " +
        "CAST(coalesce(sc.cnt, 0) AS DOUBLE) / " +
        "CAST(st.src_total AS DOUBLE) AS f " +
        "FROM stot st CROSS JOIN top tp LEFT JOIN sc " +
        "ON sc.source = st.source AND sc.term = tp.term), " +
        "stats AS (SELECT term, CAST(count(*) AS BIGINT) AS ns, " +
        "sum(CAST(f AS DOUBLE)) AS fs, " +
        "sum(CAST(f AS DOUBLE) * f) AS fq FROM gridf GROUP BY 1), " +
        "st2 AS (SELECT term, fs / CAST(ns AS DOUBLE) AS mu, " +
        "sqrt((fq - fs * fs / CAST(ns AS DOUBLE)) / " +
        "CAST(ns - 1 AS DOUBLE)) AS sd FROM stats), " +
        "zt AS (SELECT g.source, g.term, (g.f - st2.mu) / st2.sd AS z " +
        "FROM gridf g JOIN st2 ON st2.term = g.term " +
        "WHERE st2.sd > 0.0), " +
        "pr AS (SELECT a.source AS src_a, b.source AS src_b, " +
        "CAST(count(*) AS BIGINT) AS n_terms, " +
        "sum(CAST(abs(a.z - b.z) AS DOUBLE)) AS dsum FROM zt a " +
        "JOIN zt b ON a.term = b.term AND a.source < b.source " +
        "GROUP BY 1, 2) " +
        "SELECT src_a, src_b, n_terms, " +
        "round(dsum / CAST(n_terms AS DOUBLE), 6) AS burrows_delta " +
        "FROM pr ORDER BY 1, 2"),
  )

  /** DedupOps: exact, near- and incremental dedup over `documents`. */
  private def dedupQueries: Seq[Query] = Seq(
    // Mirrors DedupOps.neardupThresholdSweep: the ngram_jaccard_pairs
    // chain at the 0.3 base rung, re-bucketed to exact ten-thousandth
    // compares; empty rungs visible via the ladder left join.
    q("neardup_threshold_sweep", (s, d) => DedupOps.neardupThresholdSweep(documents(s, d)),
      s"WITH $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")}, " +
        "p AS (SELECT CAST(round(round(shared * 1.0 / " +
        "(sa.n + sb.n - shared), 4) * 10000.0, 0) AS BIGINT) AS jbp " +
        "FROM shared JOIN sizes sa ON sa.doc_id = a_id " +
        "JOIN sizes sb ON sb.doc_id = b_id " +
        "WHERE round(shared * 1.0 / (sa.n + sb.n - shared), 4) >= 0.3), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_base FROM p), " +
        "ladder AS (SELECT CAST(unnest([3000, 4000, 5000, 6000, 7000, " +
        "8000, 9000]) AS BIGINT) AS tau_x10000), " +
        "counts AS (SELECT tau_x10000, CAST(count(*) AS BIGINT) " +
        "AS n_pairs FROM p CROSS JOIN ladder WHERE jbp >= tau_x10000 " +
        "GROUP BY 1) " +
        "SELECT l.tau_x10000, " +
        "CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs, t.n_base, " +
        "CASE WHEN t.n_base > 0 THEN " +
        "round(CAST(coalesce(c.n_pairs, 0) AS DOUBLE) / " +
        "CAST(t.n_base AS DOUBLE), 6) END AS retained_share " +
        "FROM ladder l LEFT JOIN counts c USING (tau_x10000) " +
        "CROSS JOIN tot t"),
    // Mirrors DedupOps.fuzzyContamination: the exact cross-split pair
    // set (same soundness argument as minhash_near_dups — banded
    // candidates are exact-verified, and exact recall presumes pairs
    // at J ≥ 0.9 — the precondition stated there), re-oriented
    // eval-side-first.
    q("fuzzy_contamination", (s, d) =>
      DedupOps.fuzzyContamination(documents(s, d)),
      s"WITH $shingleCtes, ${sharedCte("inv")}, pairs AS ($jaccardPairsSelect), " +
        "spl AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train' " +
        "WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split " +
        s"FROM (SELECT doc_id, ${graft.ops.DocOps.knuthHash32Sql("doc_id")} % 100 " +
        "AS bucket FROM documents)), " +
        "x AS (SELECT a_id, b_id, jaccard, sa.split AS a_split, sb.split AS b_split " +
        "FROM pairs JOIN spl sa ON sa.doc_id = a_id JOIN spl sb ON sb.doc_id = b_id " +
        "WHERE (sa.split = 'train') <> (sb.split = 'train')) " +
        "SELECT CASE WHEN a_split = 'train' THEN b_id ELSE a_id END AS eval_id, " +
        "CASE WHEN a_split = 'train' THEN b_split ELSE a_split END AS eval_split, " +
        "CASE WHEN a_split = 'train' THEN a_id ELSE b_id END AS train_id, " +
        "jaccard FROM x"),
    // Mergeable Misra–Gries contract on real data: the corpus split
    // into 4 disjoint "batches" (doc_id mod 4 — the streaming sink's
    // shape), per-batch summaries merged via mgReduce, gated on the
    // layout-INVARIANT guarantees: no true heavy hitter (cnt·k > N)
    // missing, and every candidate's exact count inside
    // [c_lb, c_lb + ceil(N/k)]. The summary CONTENT is layout-bound
    // (rows-only by nature); these flags are theorems about it.
    // Mirrors mg_merge_audit: n_true_hh is exact SQL; the other two
    // columns are layout-invariant theorems pinned to their values.
    q("mg_merge_audit", (s, d) => {
      import org.apache.spark.sql.functions._
      val k = 100
      val toks = documents(s, d).select(col("doc_id"),
        explode(DedupOps.tokens(col("text"))).as("term"))
      val merged = DocOps.mgReduce(
        (0 until 4).map(b => DocOps.mgSummary(
          toks.filter(col("doc_id") % 4 === b).select("term"), k))
          .reduce(_ unionByName _), k)
      val exact = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      val n = toks.agg(count(lit(1)).as("n_total"))
      val nTrue = exact.crossJoin(broadcast(n))
        .filter(col("cnt") * lit(k.toLong) > col("n_total"))
        .agg(count(lit(1)).as("n_true_hh"))
      val nMissed = exact.crossJoin(broadcast(n))
        .filter(col("cnt") * lit(k.toLong) > col("n_total"))
        .join(merged.select("term"), Seq("term"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      val bounds = merged.join(exact, Seq("term"))
        .crossJoin(broadcast(n))
        .agg(coalesce(min(col("c_lb") <= col("cnt") &&
          col("cnt") <= col("c_lb") + expr(s"(n_total + $k - 1) div $k")),
          lit(true)).as("bounds_ok"))
      nTrue.crossJoin(nMissed).crossJoin(bounds)
    },
      "WITH toks AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "exact AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact CROSS JOIN n " +
        "WHERE cnt * 100 > n_total) AS n_true_hh, " +
        "CAST(0 AS BIGINT) AS n_missed, true AS bounds_ok"),
    // No byte-identical texts exist in the synthetic corpus, so the
    // raw grouping is 0 groups — vacuous. Plant exact duplicates by
    // re-iding every 100th document past the id space (mirrored in the
    // oracle) so group counts and keeper selection get real rows.
    q("exact_dup_groups", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = documents(s, d)
      val planted = docs.filter(col("doc_id") % 100 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      DedupOps.exactDupGroups(docs.unionByName(planted))
    },
      "WITH all_docs AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
        "FROM documents WHERE doc_id % 100 = 0) " +
        "SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id " +
        "FROM all_docs GROUP BY 1 HAVING count(*) > 1"),
    // Mirrors DedupOps.boilerplatePhrases: per-doc-distinct word
    // 5-grams (same shingle form as ngram_jaccard_pairs at k=5), so a
    // plain count is the distinct-doc count.
    q("boilerplate_phrases", (s, d) =>
      DedupOps.boilerplatePhrases(documents(s, d)), {
      val gram = (1 to 5).map(o => s"t[i+$o]").mkString(" || ' ' || ")
      "WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t " +
        "FROM documents), " +
        "sets AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 4), " +
        s"i -> $gram)) AS sh FROM toks WHERE len(t) >= 5), " +
        "inv AS (SELECT doc_id, unnest(sh) AS phrase FROM sets) " +
        "SELECT phrase, count(*) AS n_docs FROM inv " +
        "GROUP BY phrase HAVING count(*) >= 2"
    }),
    q("dedup_exact", (s, d) => DedupOps.dedupExact(documents(s, d)),
      "SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp, " +
        "min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1"),
    // Mirrors DedupOps.dupStatsBySource: same normalized fingerprint,
    // duplicated-mass counts per source.
    q("dup_stats_by_source", (s, d) => DedupOps.dupStatsBySource(documents(s, d)),
      "WITH fps AS (SELECT doc_id, source, " +
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp " +
        "FROM documents), " +
        "g AS (SELECT fp, count(*) AS grp FROM fps GROUP BY 1) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, " +
        "count(DISTINCT fp) AS n_unique_texts " +
        "FROM fps JOIN g USING (fp) GROUP BY source"),
    // Mirrors DedupOps.dedupKeepLongest: same normalized fingerprint,
    // same (n_chars DESC, doc_id ASC) argmax.
    q("dedup_keep_longest", (s, d) => DedupOps.dedupKeepLongest(documents(s, d)),
      "SELECT fp, doc_id AS keep_id, CAST(n_chars AS BIGINT) AS n_chars " +
        "FROM (SELECT doc_id, " +
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp, " +
        "length(text) AS n_chars, row_number() OVER (" +
        "PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) " +
        "ORDER BY length(text) DESC, doc_id ASC) AS rn FROM documents) " +
        "WHERE rn = 1"),
    // Mirrors DedupOps.spanDedupStats: same tokenizer, same k=20
    // non-overlapping spans (complete spans only), same md5 span key,
    // and the same (doc_id, idx) first-occurrence ownership — here as
    // a row_number argmin over the span hash.
    q("span_dedup_stats", (s, d) => DedupOps.spanDedupStats(documents(s, d)),
      "WITH toks AS (SELECT doc_id, source, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "spans AS (SELECT doc_id, source, i AS idx, " +
        "md5(array_to_string(list_slice(t, i * 20 + 1, i * 20 + 20), ' ')) AS h " +
        "FROM toks, unnest(range(CAST(len(t) // 20 AS BIGINT))) AS u(i) WHERE len(t) >= 20), " +
        "owners AS (SELECT h, source FROM (SELECT h, source, " +
        "row_number() OVER (PARTITION BY h ORDER BY doc_id ASC, idx ASC) AS rn " +
        "FROM spans) WHERE rn = 1), " +
        "own AS (SELECT source, count(*) AS n_owned FROM owners GROUP BY 1), " +
        "inst AS (SELECT source, count(*) AS n_spans FROM spans GROUP BY 1) " +
        "SELECT source, n_spans, COALESCE(n_owned, 0) AS n_owned, " +
        "round(1.0 - CAST(COALESCE(n_owned, 0) AS DOUBLE) / " +
        "CAST(n_spans AS DOUBLE), 6) AS dup_ratio " +
        "FROM inst LEFT JOIN own USING (source)"),
    q("ngram_jaccard_pairs", (s, d) =>
      DedupOps.ngramJaccardPairs(documents(s, d), 0.5),
      s"WITH $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")} $jaccardPairsSelect"),
    // Mirrors DedupOps.jaccardPrefixPairs: the oracle is the UNPRUNED
    // exact all-pairs Jaccard (no df cap, no prefix anything) — the
    // gate therefore proves the prefix filter's losslessness claim on
    // real data, not just on a fixture: every pair the prefix/size
    // bounds drop must be exactly a sub-threshold pair.
    q("jaccard_prefix_pairs", (s, d) =>
      DedupOps.jaccardPrefixPairs(documents(s, d), 0.5),
      s"WITH $shingleCtes, ${sharedCte("inv")} $jaccardPairsSelect"),
    // Mirrors DedupOps.ngramContainmentPairs: same pruned inverted
    // index, C = shared / min(|A|,|B|) — the quote/superset detector.
    // The jaccard column rides along so the subset-relation pairs
    // (high C, low J) are visible in the gated output itself.
    q("ngram_containment_pairs", (s, d) =>
      DedupOps.ngramContainmentPairs(documents(s, d), 0.8),
      s"WITH $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")} " +
        "SELECT a_id, b_id, " +
        "round(shared * 1.0 / least(sa.n, sb.n), 4) AS containment, " +
        "round(shared * 1.0 / (sa.n + sb.n - shared), 4) AS jaccard " +
        "FROM shared JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id " +
        "WHERE round(shared * 1.0 / least(sa.n, sb.n), 4) >= 0.8"),
    // Mirrors DedupOps.dupClusters: the ngram_jaccard_pairs CTE chain,
    // then connected components as a recursive transitive closure
    // (min reachable id == the label min-propagation converges to).
    q("dup_clusters", (s, d) => DedupOps.dupClusters(documents(s, d)),
      s"WITH RECURSIVE $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")}, " +
        s"$jaccardPairsCte, " +
        "e AS (SELECT a_id AS u, b_id AS v FROM pairs " +
        "UNION SELECT b_id, a_id FROM pairs), " +
        "r(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e2.v FROM r JOIN e e2 ON r.v = e2.u), " +
        "lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM r GROUP BY u) " +
        "SELECT doc_id, cluster_id, " +
        "count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM lbl"),
    // Mirrors DedupOps.dupClusterSizeHistogram: the dup_clusters
    // closure collapsed to (cluster, size) then histogrammed — exact
    // counts end-to-end.
    q("dup_cluster_size_histogram", (s, d) => DedupOps.dupClusterSizeHistogram(documents(s, d)),
      s"WITH RECURSIVE $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")}, " +
        s"$jaccardPairsCte, " +
        "e AS (SELECT a_id AS u, b_id AS v FROM pairs " +
        "UNION SELECT b_id, a_id FROM pairs), " +
        "r(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e2.v FROM r JOIN e e2 ON r.v = e2.u), " +
        "lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM r GROUP BY u), " +
        "cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size " +
        "FROM lbl GROUP BY 1) " +
        "SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, " +
        "CAST(cluster_size * count(*) AS BIGINT) AS n_docs " +
        "FROM cs GROUP BY 1"),
    // Mirrors DedupOps.clusterKeepLongest: the dup_clusters transitive
    // closure, then longest-doc-wins (doc_id on ties) per cluster.
    q("cluster_keep_longest", (s, d) => DedupOps.clusterKeepLongest(documents(s, d)),
      s"WITH RECURSIVE $shingleCtes, $prunedShingleCte, ${sharedCte("pruned")}, " +
        s"$jaccardPairsCte, " +
        "e AS (SELECT a_id AS u, b_id AS v FROM pairs " +
        "UNION SELECT b_id, a_id FROM pairs), " +
        "r(u, v) AS (SELECT u, v FROM e " +
        "UNION SELECT r.u, e2.v FROM r JOIN e e2 ON r.v = e2.u), " +
        "lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM r GROUP BY u) " +
        "SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_chars, n_docs FROM (" +
        "SELECT l.cluster_id, d.doc_id, d.n_chars, " +
        "count(*) OVER (PARTITION BY l.cluster_id) AS n_docs, " +
        "row_number() OVER (PARTITION BY l.cluster_id " +
        "ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn " +
        "FROM lbl l JOIN documents d ON d.doc_id = l.doc_id) WHERE rn = 1"),
    // Mirrors DedupOps.minhashNearDups AGAINST THE EXACT PIPELINE: the
    // operator verifies every banded candidate with exact Jaccard over
    // the full shingle-hash sets, so precision is 1 by construction
    // and the only hash-seed-bound part is banding recall. The
    // exact-equality gate therefore PRESUMES a corpus whose ≥0.5 pairs
    // sit at J ≥ 0.9: a band of 4 matches with p = J⁴ ≥ 0.656, so
    // missing all 8 bands has p = (1-J⁴)⁸ ≤ 2.0e-4 per pair (1.5e-2
    // at J = 0.8, 0.6 at J = 0.5). RecallGateSpec asserts the
    // precondition on sf0.01; sf0.001 (min J 0.889) and sf0.1 (one
    // J = 0.8 pair) sit just under it, and the fixed xxhash64 seed
    // finds every pair there. On a mid-J corpus the gate does not
    // apply: perfbench's 30-word corpus misses 12 of 254 pairs, all at
    // J 0.50-0.75 — expected banding loss. A banding/verification
    // regression breaks this hash; RecallGateSpec covers the
    // probabilistic contract.
    q("minhash_near_dups", (s, d) => DedupOps.minhashNearDups(documents(s, d), 0.5),
      s"WITH $shingleCtes, ${sharedCte("inv")} $jaccardPairsSelect"),
    // Continual-ingestion dedup: docs with doc_id ≡ 7 (mod 10) play
    // the newly-arrived shard, the rest the existing corpus — every
    // emitted pair touches the shard, old-vs-old is never re-paired.
    // Same oracle soundness as minhash_near_dups (exact-Jaccard
    // verification ⇒ precision 1; exact recall presumes the corpus's
    // pairs sit at J ≥ 0.9 — the precondition stated there), with the
    // ≥1-new-side restriction mirrored in the SQL.
    // Mirrors incremental_near_dups: the SAME exact all-pairs Jaccard
    // oracle, restricted to pairs touching the doc_id ≡ 7 (mod 10)
    // shard — exactly the pair population the incremental path owns.
    q("incremental_near_dups", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = documents(s, d)
      DedupOps.incrementalNearDups(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7))
    },
      s"WITH $shingleCtes, ${sharedCte("inv")} $jaccardPairsSelect " +
        "AND (a_id % 10 = 7 OR b_id % 10 = 7)"),
    // The stored-index form of the same contract (what the streaming
    // NearDupStore persists): old corpus enters as precomputed band
    // rows, its text probed only via the candidate semi-join. Same
    // split, same oracle — pair-for-pair identity is the point.
    // The indexed path must be pair-for-pair identical — same oracle.
    q("incremental_near_dups_indexed", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = documents(s, d)
      val old = docs.filter(col("doc_id") % 10 =!= 7)
      val fresh = docs.filter(col("doc_id") % 10 === 7)
      DedupOps.incrementalNearDupsIndexed(
        DedupOps.minhashBands(old), old, fresh, DedupOps.minhashBands(fresh))
    },
      s"WITH $shingleCtes, ${sharedCte("inv")} $jaccardPairsSelect " +
        "AND (a_id % 10 = 7 OR b_id % 10 = 7)"),
    rowsOnly("simhash_fingerprints", (s, d) => DedupOps.simhashes(documents(s, d))),
    rowsOnly("simhash_near_dups", (s, d) => DedupOps.simhashNearDups(documents(s, d), 3)),
    // The fingerprint VALUES are xxhash64-seeded (not DuckDB-
    // expressible) but their invariants are: simhash is a pure function
    // of text, so within every text-equality group there is exactly ONE
    // fingerprint — countDistinct(text, simhash) == countDistinct(text)
    // — and every non-null-text doc gets one. A nondeterministic or
    // partial implementation breaks the hash. Texts are md5-collapsed
    // BEFORE the distinct (md5 is identical in both engines) so the
    // Expand's distinct state carries 32 hex chars per doc, not whole
    // documents — the 100 TB shape for any distinct-over-long-strings.
    // Mirrors simhash_invariants: the fingerprint is a pure function of
    // text, so distinct (text, simhash) pairs == distinct texts — both
    // sides md5-collapse the text before the distinct (identical
    // digests in both engines).
    q("simhash_invariants", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = documents(s, d).filter(col("text").isNotNull)
      docs.join(DedupOps.simhashes(docs), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_texts"),
          countDistinct(md5(col("text")), col("simhash")).as("n_fp_groups"))
    },
      "SELECT source, count(*) AS n_docs, " +
        "count(DISTINCT md5(text)) AS n_texts, " +
        "count(DISTINCT md5(text)) AS n_fp_groups " +
        "FROM documents WHERE text IS NOT NULL GROUP BY source"),
    // Mirrors DedupOps.sourceCopyMatrix: the UNPRUNED all-pairs
    // jaccard oracle (the PPJoin losslessness contract) rolled up to
    // the canonical (source, source) grid; 4dp similarities re-pinned
    // to exact ten-thousandths before the sum.
    q("source_copy_matrix", (s, d) => DedupOps.sourceCopyMatrix(documents(s, d)),
      s"WITH $shingleCtes, " +
        "shared AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "CAST(count(*) AS BIGINT) AS shared " +
        "FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2), " +
        "p AS (SELECT a_id, b_id, " +
        "round(shared * 1.0 / (sa.n + sb.n - shared), 4) AS j " +
        "FROM shared JOIN sizes sa ON sa.doc_id = a_id " +
        "JOIN sizes sb ON sb.doc_id = b_id " +
        "WHERE round(shared * 1.0 / (sa.n + sb.n - shared), 4) >= 0.5), " +
        "sp AS (SELECT least(da.source, db.source) AS source_a, " +
        "greatest(da.source, db.source) AS source_b, " +
        "CAST(round(j * 10000.0, 0) AS BIGINT) AS jm " +
        "FROM p JOIN documents da ON da.doc_id = p.a_id " +
        "JOIN documents db ON db.doc_id = p.b_id) " +
        "SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "round(CAST(CAST(sum(jm) AS BIGINT) AS DOUBLE) / " +
        "(CAST(count(*) AS DOUBLE) * 10000.0), 6) AS avg_jaccard " +
        "FROM sp GROUP BY 1, 2"),
  )

  /** VectorOps: search, quantization and clustering over `embeddings`. */
  private def vectorQueries: Seq[Query] = Seq(
    // Mirrors VectorOps.silhouetteByLabel: the 4dp-rounded centroids
    // (label_centroids values) pin the one order-dependent mean;
    // distances left-fold in index order (list_reduce ≡ the Spark
    // aggregate-from-0.0, the embedding_norm_stats identity); per-
    // vector s rounds into DECIMAL for an any-order-exact label mean.
    q("silhouette_by_label", (s, d) => VectorOps.silhouetteByLabel(embeddings(s, d)),
      "WITH cx AS (SELECT label, s.d AS dim, round(avg(s.v), 4) AS m FROM (" +
        "SELECT label, unnest(list_transform(range(len(embedding)), " +
        "i -> {'d': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) AS s " +
        "FROM embeddings) GROUP BY 1, 2), " +
        "cents AS (SELECT label AS c_label, list(m ORDER BY dim) AS c " +
        "FROM cx GROUP BY 1), " +
        "d AS (SELECT e.vec_id, e.label, c.c_label, " +
        "sqrt(list_reduce(list_transform(range(len(e.embedding)), " +
        "i -> (CAST(e.embedding[i+1] AS DOUBLE) - c.c[i+1]) * " +
        "(CAST(e.embedding[i+1] AS DOUBLE) - c.c[i+1])), " +
        "(acc, x) -> acc + x)) AS dst " +
        "FROM embeddings e CROSS JOIN cents c), " +
        "ab AS (SELECT vec_id, label, " +
        "max(CASE WHEN label = c_label THEN dst END) AS a, " +
        "min(CASE WHEN label <> c_label THEN dst END) AS b " +
        "FROM d GROUP BY 1, 2), " +
        "sc AS (SELECT label, CASE WHEN greatest(a, b) > 0.0 " +
        "THEN round((b - a) / greatest(a, b), 6) ELSE CAST(0.0 AS DOUBLE) END AS s " +
        "FROM ab) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vectors, " +
        "round(CAST(sum(CAST(s AS DECIMAL(20,6))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mean_silhouette " +
        "FROM sc GROUP BY label"),
    // Mirrors VectorOps.ndcgAtK: ranks over the 4dp-rounded cosine
    // with the vec_id tie-break; every 1/log2(rank+1) discount term
    // rounds 10dp into DECIMAL(38,10) so per-query sums are
    // order-exact; ideal DCG from the same discount over
    // 1..min(n_relevant, 10); one final double division.
    q("ndcg_retrieval_audit", (s, d) => VectorOps.ndcgAtK(embeddings(s, d)),
      "WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel " +
        "FROM embeddings WHERE vec_id IN (0, 1, 2, 3)), " +
        "scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label, " +
        s"round(${duckCos("e.embedding", "qv")}, 4) AS cs " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
        "rk AS (SELECT qid, qlabel, label, " +
        "CAST(row_number() OVER (PARTITION BY qid " +
        "ORDER BY cs DESC, vec_id ASC) AS BIGINT) AS rnk FROM scored), " +
        "dcg AS (SELECT qid, " +
        "sum(CASE WHEN label = qlabel THEN " +
        "CAST(round(1.0 / log2(CAST(rnk + 1 AS DOUBLE)), 10) AS DECIMAL(38,10)) " +
        "ELSE CAST(0 AS DECIMAL(38,10)) END) AS dcg, " +
        "CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS hits_at_k FROM rk WHERE rnk <= 10 GROUP BY 1), " +
        "rel AS (SELECT qid, " +
        "CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_relevant FROM scored GROUP BY 1), " +
        "ideal AS (SELECT qid, n_relevant, " +
        "sum(CAST(round(1.0 / log2(CAST(i + 1 AS DOUBLE)), 10) AS DECIMAL(38,10))) AS idcg " +
        "FROM (SELECT qid, n_relevant, " +
        "unnest(range(1, CAST(least(n_relevant, 10) + 1 AS BIGINT))) AS i " +
        "FROM rel) GROUP BY 1, 2), " +
        "idl AS (SELECT rel.qid, rel.n_relevant, ideal.idcg " +
        "FROM rel LEFT JOIN ideal ON rel.qid = ideal.qid) " +
        "SELECT dcg.qid AS query_id, n_relevant, hits_at_k, " +
        "CASE WHEN idcg IS NOT NULL AND idcg > 0 THEN " +
        "round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) END AS ndcg " +
        "FROM dcg JOIN idl ON dcg.qid = idl.qid"),
    // Mirrors VectorOps.errAtK: the ndcg scoring pass and total
    // order; the j-th hit at rank r contributes round(0.5^j / r, 10)
    // into DECIMAL(38,10) — 0.5^j exact in fp, one identical double
    // division — so per-query sums are order-exact.
    q("err_retrieval_audit", (s, d) => VectorOps.errAtK(embeddings(s, d)),
      "WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel " +
        "FROM embeddings WHERE vec_id IN (0, 1, 2, 3)), " +
        "scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label, " +
        s"round(${duckCos("e.embedding", "qv")}, 4) AS cs " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
        "rk AS (SELECT qid, " +
        "CASE WHEN label = qlabel THEN 1 ELSE 0 END AS hit, " +
        "CAST(row_number() OVER (PARTITION BY qid " +
        "ORDER BY cs DESC, vec_id ASC) AS BIGINT) AS rnk FROM scored), " +
        "tk AS (SELECT qid, hit, rnk, " +
        "CAST(sum(hit) OVER (PARTITION BY qid ORDER BY rnk ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS j FROM rk WHERE rnk <= 10) " +
        "SELECT qid AS query_id, " +
        "CAST(sum(hit) AS BIGINT) AS hits_at_k, " +
        "round(CAST(sum(CASE WHEN hit = 1 THEN " +
        "CAST(round(pow(0.5, CAST(j AS DOUBLE)) / CAST(rnk AS DOUBLE), " +
        "10) AS DECIMAL(38,10)) ELSE CAST(0 AS DECIMAL(38,10)) END) " +
        "AS DOUBLE), 6) AS err_at_k FROM tk GROUP BY 1"),
    // Mirrors VectorOps.mapAtK: the err scoring pass and total order;
    // each hit's precision term j/rnk (both exact BIGINTs) is one
    // identical double division rounded 10dp into DECIMAL(38,10), so
    // per-query sums are order-exact; AP normalizes by
    // min(n_relevant, 10) in one final double division.
    q("map_retrieval_audit", (s, d) => VectorOps.mapAtK(embeddings(s, d)),
      "WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel " +
        "FROM embeddings WHERE vec_id IN (0, 1, 2, 3)), " +
        "scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label, " +
        s"round(${duckCos("e.embedding", "qv")}, 4) AS cs " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
        "rk AS (SELECT qid, " +
        "CASE WHEN label = qlabel THEN 1 ELSE 0 END AS hit, " +
        "CAST(row_number() OVER (PARTITION BY qid " +
        "ORDER BY cs DESC, vec_id ASC) AS BIGINT) AS rnk FROM scored), " +
        "tk AS (SELECT qid, hit, rnk, " +
        "CAST(sum(hit) OVER (PARTITION BY qid ORDER BY rnk ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS j FROM rk WHERE rnk <= 10), " +
        "ap AS (SELECT qid, " +
        "sum(CASE WHEN hit = 1 THEN " +
        "CAST(round(CAST(j AS DOUBLE) / CAST(rnk AS DOUBLE), 10) " +
        "AS DECIMAL(38,10)) ELSE CAST(0 AS DECIMAL(38,10)) END) AS apsum, " +
        "CAST(sum(hit) AS BIGINT) AS hits_at_k FROM tk GROUP BY 1), " +
        "rel AS (SELECT qid, CAST(sum(hit) AS BIGINT) AS n_relevant " +
        "FROM rk GROUP BY 1) " +
        "SELECT ap.qid AS query_id, n_relevant, hits_at_k, " +
        "CASE WHEN n_relevant > 0 THEN " +
        "round(CAST(apsum AS DOUBLE) / " +
        "CAST(least(n_relevant, 10) AS DOUBLE), 6) END AS ap_at_k " +
        "FROM ap JOIN rel ON ap.qid = rel.qid"),
    // Density clustering: exact eps-radius pairs are the gate
    // baseline (knn_all_brute posture); at scale the same chain rides
    // any banded candidate generator.
    // Mirrors VectorOps.dbscanClusters: exact 4dp-L2 eps-pairs,
    // degree>=minPts cores, transitive closure over core-core edges
    // (the dup_clusters RECURSIVE pattern), min-id border attachment.
    q("dbscan_clusters", (s, d) => VectorOps.dbscanClusters(embeddings(s, d)),
      dbscanSql(
      "SELECT e.vec_id, CASE WHEN cl.vec_id IS NOT NULL THEN 'core' " +
        "WHEN bd.vec_id IS NOT NULL THEN 'border' ELSE 'noise' END " +
        "AS role, coalesce(cl.cluster_id, bd.cluster_id) AS cluster_id " +
        "FROM embeddings e LEFT JOIN cl ON cl.vec_id = e.vec_id " +
        "LEFT JOIN bd ON bd.vec_id = e.vec_id")),
    // Mirrors VectorOps.dbscanSummary over the same CTE chain.
    q("dbscan_summary", (s, d) => VectorOps.dbscanSummary(embeddings(s, d)),
      dbscanSql(
      "SELECT (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_core, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM bd) AS n_border, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM embeddings e " +
        "WHERE e.vec_id NOT IN (SELECT vec_id FROM cl) " +
        "AND e.vec_id NOT IN (SELECT vec_id FROM bd)) AS n_noise, " +
        "(SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM " +
        "(SELECT cluster_id FROM cl UNION ALL SELECT cluster_id " +
        "FROM bd)) AS n_clusters, " +
        "(SELECT coalesce(max(sz), 0) FROM (SELECT CAST(count(*) " +
        "AS BIGINT) AS sz FROM (SELECT cluster_id FROM cl UNION ALL " +
        "SELECT cluster_id FROM bd) GROUP BY cluster_id)) " +
        "AS largest_cluster")),
    // Deterministic JL sign projection (Knuth id-hash signs, no RNG)
    // — both rows hash-gate end-to-end.
    // Mirrors VectorOps.jlProjectionNorms: the shared jlProjSql
    // projection, norm² folds in index order, one guarded division.
    q("jl_projection_norms", (s, d) => VectorOps.jlProjectionNorms(embeddings(s, d)),
      "WITH p AS (SELECT vec_id, " +
        "list_sum(list_transform(embedding, x -> " +
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx2, " +
        "list_sum(list_transform(" + jlProjSql + ", y -> y * y)) AS ny2 " +
        "FROM embeddings) " +
        "SELECT vec_id, round(nx2, 6) AS norm2_orig, " +
        "round(ny2, 6) AS norm2_proj, " +
        "CASE WHEN nx2 > 0.0 THEN round(ny2 / nx2, 6) END AS norm_ratio " +
        "FROM p"),
    // Mirrors VectorOps.jlDistortionAudit: consecutive-id pairs,
    // index-order diff² folds on both sides, 6dp-pinned ratios,
    // DECIMAL mean lane, guarded divisions.
    q("jl_distortion_audit", (s, d) => VectorOps.jlDistortionAudit(embeddings(s, d)),
      "WITH p AS (SELECT vec_id, list_transform(embedding, x -> " +
        "CAST(x AS DOUBLE)) AS x, " + jlProjSql + " AS y " +
        "FROM embeddings), " +
        "pr AS (SELECT list_sum(list_transform(range(len(a.x)), i -> " +
        "(a.x[i+1] - b.x[i+1]) * (a.x[i+1] - b.x[i+1]))) AS dx2, " +
        "list_sum(list_transform(range(len(a.y)), i -> " +
        "(a.y[i+1] - b.y[i+1]) * (a.y[i+1] - b.y[i+1]))) AS dy2 " +
        "FROM p a JOIN p b ON a.vec_id + 1 = b.vec_id), " +
        "rt AS (SELECT dx2, CASE WHEN dx2 > 0.0 THEN " +
        "round(dy2 / dx2, 6) END AS rho FROM pr) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(sum(CASE WHEN rho IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_degenerate, " +
        "min(rho) AS min_ratio, max(rho) AS max_ratio, " +
        "CASE WHEN count(*) > CAST(sum(CASE WHEN rho IS NULL THEN 1 " +
        "ELSE 0 END) AS BIGINT) THEN " +
        "round(CAST(sum(CAST(rho AS DECIMAL(38,6))) " +
        "AS DOUBLE) / CAST(count(*) - CAST(sum(CASE WHEN rho IS NULL " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE), 6) END " +
        "AS mean_ratio, " +
        "CAST(sum(CASE WHEN rho < 1.0 / 3.0 OR rho > 3.0 THEN 1 ELSE 0 " +
        "END) AS BIGINT) AS n_outside_band FROM rt"),
    // Mirrors VectorOps.embeddingLofOutliers: the knn_all_brute top-5
    // feeds the textbook LOF chain; reachability and lrd re-pin to
    // BIGINT micro-units before every sum (order-independence), the
    // zero-reach duplicate pile clamps to 1 µu, and every division
    // keeps the Spark operand order.
    q("embedding_lof", (s, d) => VectorOps.embeddingLofOutliers(embeddings(s, d)),
      "WITH s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
        "knn AS (SELECT a_id, b_id, cos_sim FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn FROM s) " +
        "WHERE rn <= 5), " +
        "d AS (SELECT a_id, b_id, CAST(1.0 AS DOUBLE) - cos_sim AS d FROM knn), " +
        "kd AS (SELECT a_id, max(d) AS k_dist FROM d GROUP BY 1), " +
        "reach AS (SELECT d.a_id, CAST(round(greatest(kb.k_dist, d.d) * " +
        "100000000.0, 0) AS BIGINT) AS reach_micro " +
        "FROM d JOIN kd kb ON kb.a_id = d.b_id), " +
        "lrd AS (SELECT a_id, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(round(100000000000000.0 * CAST(count(*) AS DOUBLE) / " +
        "CAST(greatest(CAST(sum(reach_micro) AS BIGINT), 1) AS DOUBLE), 0) " +
        "AS BIGINT) AS lrd_micro FROM reach GROUP BY 1), " +
        "nl AS (SELECT d.a_id, CAST(sum(lb.lrd_micro) AS BIGINT) AS sum_lrd_b " +
        "FROM d JOIN lrd lb ON lb.a_id = d.b_id GROUP BY 1) " +
        "SELECT l.a_id AS vec_id, round(kd.k_dist, 6) AS k_dist, " +
        "round(CAST(l.lrd_micro AS DOUBLE) / 1000000.0, 6) AS lrd, " +
        "round(CAST(nl.sum_lrd_b AS DOUBLE) / " +
        "(CAST(l.n AS DOUBLE) * CAST(l.lrd_micro AS DOUBLE)), 6) AS lof_score " +
        "FROM lrd l JOIN nl USING (a_id) JOIN kd USING (a_id)"),
    // Mirrors VectorOps.embeddingCovariance: per-element float→DOUBLE
    // cast before any product, biased 1/n normalizer with the pinned
    // E[xy] − E[x]·E[y] operand order, upper triangle (i ≤ j,
    // 1-based), 6dp round. The oracle computes the relational
    // (explode + vec_id self-join) form the mapPartitions Gram
    // accumulation is algebraically equal to.
    q("embedding_covariance", (s, d) =>
      VectorOps.embeddingCovariance(embeddings(s, d)),
      "WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, " +
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings), " +
        "m AS (SELECT i, sum(x) AS s FROM e GROUP BY 1), " +
        "p AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS pr " +
        "FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2) " +
        "SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, " +
        "round(pr / (SELECT n FROM nn) - " +
        "(ma.s / (SELECT n FROM nn)) * (mb.s / (SELECT n FROM nn)), 6) + 0.0 AS cov " +
        "FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j"),
    // Mirrors VectorOps.pcaTop2Components: the pca_top_component
    // chain run TWICE — stage 2 over the 6dp-rounded Hotelling
    // deflation C − λ̂₁v̂₁v̂₁ᵀ of the ROUNDED stage-1 outputs, so both
    // engines iterate on identical inputs; exact DECIMAL trace.
    q("pca_top2_components", (s, d) =>
      VectorOps.pcaTop2Components(embeddings(s, d)), {
      def rounds(tag: String, fTab: String) = (1 to 5).map { k =>
        s"${tag}w$k AS MATERIALIZED (SELECT $fTab.i AS dim, " +
          s"sum(CAST($fTab.cov AS DOUBLE) * ${tag}v${k - 1}.v) AS w " +
          s"FROM $fTab JOIN ${tag}v${k - 1} ON ${tag}v${k - 1}.dim = $fTab.j GROUP BY 1), " +
          s"${tag}n$k AS MATERIALIZED (SELECT sqrt(sum(CAST(w AS DOUBLE) * w)) AS nrm FROM ${tag}w$k), " +
          s"${tag}v$k AS MATERIALIZED (SELECT dim, w / (SELECT nrm FROM ${tag}n$k) AS v FROM ${tag}w$k)"
      }.mkString(", ")
      "WITH " + pcaCovCtes + ", " + rounds("", "f") + ", " +
        "wf AS MATERIALIZED (SELECT f.i AS dim, sum(CAST(f.cov AS DOUBLE) * v5.v) AS w " +
        "FROM f JOIN v5 ON v5.dim = f.j GROUP BY 1), " +
        "lam AS MATERIALIZED (SELECT sum(CAST(v5.v AS DOUBLE) * wf.w) AS ev " +
        "FROM v5 JOIN wf ON wf.dim = v5.dim), " +
        "p1 AS MATERIALIZED (SELECT dim, round(v5.v, 6) + 0.0 AS l1, " +
        "round((SELECT ev FROM lam), 6) + 0.0 AS e1 FROM v5), " +
        "f2 AS MATERIALIZED (SELECT f.i, f.j, " +
        "round(f.cov - pa.e1 * pa.l1 * pb.l1, 6) + 0.0 AS cov " +
        "FROM f JOIN p1 pa ON pa.dim = f.i JOIN p1 pb ON pb.dim = f.j), " +
        "bv0 AS MATERIALIZED (SELECT DISTINCT i AS dim, " +
        "1.0 / sqrt((SELECT d FROM dd)) AS v FROM f2), " +
        rounds("b", "f2") + ", " +
        "bwf AS MATERIALIZED (SELECT f2.i AS dim, sum(CAST(f2.cov AS DOUBLE) * bv5.v) AS w " +
        "FROM f2 JOIN bv5 ON bv5.dim = f2.j GROUP BY 1), " +
        "blam AS MATERIALIZED (SELECT sum(CAST(bv5.v AS DOUBLE) * bwf.w) AS ev " +
        "FROM bv5 JOIN bwf ON bwf.dim = bv5.dim), " +
        "p2 AS MATERIALIZED (SELECT dim, round(bv5.v, 6) + 0.0 AS l2, " +
        "round((SELECT ev FROM blam), 6) + 0.0 AS e2 FROM bv5), " +
        "tr AS MATERIALIZED (SELECT sum(CAST(cov AS DECIMAL(38,6))) AS tr " +
        "FROM f WHERE i = j) " +
        "SELECT p1.dim, p1.l1 AS loading1, p1.e1 AS eigenvalue1, " +
        "p2.l2 AS loading2, p2.e2 AS eigenvalue2, " +
        "CASE WHEN CAST(tr.tr AS DOUBLE) > 0.0 THEN " +
        "round(p1.e1 / CAST(tr.tr AS DOUBLE), 6) END AS var_share_1, " +
        "CASE WHEN CAST(tr.tr AS DOUBLE) > 0.0 THEN " +
        "round(p2.e2 / CAST(tr.tr AS DOUBLE), 6) END AS var_share_2 " +
        "FROM p1 JOIN p2 ON p2.dim = p1.dim CROSS JOIN tr"
    }),
    // Mirrors VectorOps.pcaTopComponent: the covariance CTE chain
    // (identical to embedding_covariance), symmetrized, then the 5
    // power-iteration rounds UNROLLED as chained CTEs in identical
    // DOUBLE operand order — the event_pagerank contract. The uniform
    // all-positive start vector pins the eigenvector sign; CAST(x AS
    // DOUBLE) inside the sums is a no-op satisfying the sum lint.
    // Every CTE is AS MATERIALIZED (a pure evaluation hint — same
    // rows): DuckDB 1.0 otherwise re-INLINES the multiply-referenced
    // chain, and with 5 unrolled rounds each re-deriving f and a
    // per-row scalar subquery per normalization, the plan re-expands
    // the whole covariance exponentially — measured 0.09 s
    // materialized vs >8 MINUTES inlined on the 500-vector sf0.01.
    q("pca_top_component", (s, d) =>
      VectorOps.pcaTopComponent(embeddings(s, d)), {
      val rounds = (1 to 5).map { k =>
        s"w$k AS MATERIALIZED (SELECT f.i AS dim, sum(CAST(f.cov AS DOUBLE) * v${k - 1}.v) AS w " +
          s"FROM f JOIN v${k - 1} ON v${k - 1}.dim = f.j GROUP BY 1), " +
          s"n$k AS MATERIALIZED (SELECT sqrt(sum(CAST(w AS DOUBLE) * w)) AS nrm FROM w$k), " +
          s"v$k AS MATERIALIZED (SELECT dim, w / (SELECT nrm FROM n$k) AS v FROM w$k)"
      }.mkString(", ")
      "WITH " + pcaCovCtes + ", " + rounds + ", " +
        "wf AS MATERIALIZED (SELECT f.i AS dim, sum(CAST(f.cov AS DOUBLE) * v5.v) AS w " +
        "FROM f JOIN v5 ON v5.dim = f.j GROUP BY 1), " +
        "lam AS MATERIALIZED (SELECT sum(CAST(v5.v AS DOUBLE) * wf.w) AS ev " +
        "FROM v5 JOIN wf ON wf.dim = v5.dim) " +
        "SELECT v5.dim, round(v5.v, 6) + 0.0 AS loading, " +
        "round((SELECT ev FROM lam), 6) + 0.0 AS eigenvalue FROM v5"
    }),
    q("knn_brute", (s, d) => VectorOps.knnBrute(embeddings(s, d), 0, 10),
      "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
        "s AS (SELECT e.vec_id, e.label, " +
        "list_sum(list_transform(range(len(e.embedding)), " +
        "i -> CAST(e.embedding[i+1] AS DOUBLE) * CAST(qv[i+1] AS DOUBLE))) AS dp, " +
        "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na, " +
        "sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb " +
        "FROM embeddings e, q WHERE e.vec_id <> 0) " +
        "SELECT vec_id, label, round(dp / (na * nb), 4) AS cos_sim FROM s " +
        "ORDER BY cos_sim DESC, vec_id ASC LIMIT 10"),
    // Mirrors VectorOps.mmrDiverseTopK: the exact k-step greedy
    // recursion — each recursive step re-scores the remaining
    // candidates against the chosen list (max of 4dp-pinned cosines)
    // and picks the (score DESC, vec_id ASC) top-1 via LATERAL.
    q("mmr_diverse_topk", (s, d) => VectorOps.mmrDiverseTopK(embeddings(s, d), 0L, 10, 0.5),
      "WITH RECURSIVE q AS (SELECT embedding AS qv FROM embeddings " +
        "WHERE vec_id = 0), " +
        "cands AS (SELECT e.vec_id, e.embedding, " +
        s"round(${duckCos("e.embedding", "qv")}, 4) AS rel " +
        "FROM embeddings e, q WHERE e.vec_id <> 0), " +
        "step AS (SELECT 1 AS rank, s.vec_id, s.rel, " +
        "CAST(0.0 AS DOUBLE) AS max_sim, [s.vec_id] AS chosen " +
        "FROM (SELECT vec_id, rel, " +
        "0.5 * rel - 0.5 * CAST(0.0 AS DOUBLE) AS score FROM cands " +
        "ORDER BY score DESC, vec_id ASC LIMIT 1) s " +
        "UNION ALL " +
        "SELECT p.rank + 1, w.vec_id, w.rel, w.ms, " +
        "list_append(p.chosen, w.vec_id) " +
        "FROM step p, LATERAL (" +
        "SELECT c.vec_id, c.rel, c.ms, 0.5 * c.rel - 0.5 * c.ms AS score " +
        "FROM (SELECT c2.vec_id, c2.rel, " +
        s"(SELECT max(round(${duckCos("c2.embedding", "s.embedding")}" +
        ", 4)) FROM cands s WHERE list_contains(p.chosen, s.vec_id)) AS ms " +
        "FROM cands c2 WHERE NOT list_contains(p.chosen, c2.vec_id)) c " +
        "ORDER BY score DESC, c.vec_id ASC LIMIT 1) w " +
        "WHERE p.rank < 10) " +
        "SELECT rank, vec_id, rel, max_sim AS max_sim_selected, " +
        "round(0.5 * rel - 0.5 * max_sim, 6) AS mmr_score FROM step"),
    // Mirrors VectorOps.kCenterCoreset: the mmr recursive-CTE replay
    // discipline — pinned seed (min vec_id, present in any non-empty
    // corpus), each LATERAL step picks the max-of-min-4dp-L2
    // candidate with vec_id ASC tie-break.
    q("kcenter_coreset", (s, d) => VectorOps.kCenterCoreset(embeddings(s, d)),
      "WITH RECURSIVE cands AS (SELECT vec_id, embedding " +
        "FROM embeddings), " +
        kCenterStepSql),
    // Large-k scale path: Knuth-hash candidate
    // pool collected once, greedy loop driver-side — one distributed
    // scan total instead of k sequential ones; hash-gated via the
    // same recursive-CTE replay over the pooled candidate set.
    // Mirrors VectorOps.kCenterCoresetPooled: the SAME recursive
    // replay over the Knuth-hash candidate pool (pool % 8 = 0,
    // min-id seed) — the large-k driver-side variant's trajectory is
    // a pure function of the table, so it hash-gates like the exact
    // form.
    q("kcenter_coreset_pooled", (s, d) => VectorOps.kCenterCoresetPooled(embeddings(s, d)),
      "WITH RECURSIVE cands AS (SELECT vec_id, embedding " +
        "FROM embeddings WHERE (" +
        graft.ops.DocOps.knuthHash32Sql("vec_id") + ") % 8 = 0), " +
        kCenterStepSql),
    // Mirrors VectorOps.twoNnIntrinsicDim: 4dp L2 top-2 per vector
    // (distance ASC, b_id ASC), ln(r2/r1) terms micro-pinned, the
    // Facco MLE one final pinned chain; r1 = 0 rows excluded+counted.
    q("twonn_intrinsic_dim", (s, d) => VectorOps.twoNnIntrinsicDim(embeddings(s, d)),
      twonnExactSql),
    // Mirrors VectorOps.knnHubness: k-occurrence counts off the
    // knn_all_brute top-5 lists (zero-occurrence vectors join as 0),
    // skewness a/(b·sqrt(b)) off exact HUGEINT raw-moment lanes.
    q("knn_hubness", (s, d) => VectorOps.knnHubness(embeddings(s, d)), hubnessExactSql),
    // The two brute-scaffold diagnostics' registered SCALE paths:
    // the same estimators over the IVF-pinned ANN
    // shortlist (knn_ivf_pinned discipline — deterministic centroids,
    // so both rows hash-gate), plus agreement audits pinning the
    // exact-vs-ANN gap (the knn_all_brute-vs-knn_all_ivf precedent
    // applied to the diagnostics layer).
    q("twonn_intrinsic_dim_ann", (s, d) => VectorOps.twoNnIntrinsicDimAnn(embeddings(s, d)),
      twonnAnnSql),
    // Agreement audit: both estimates are deterministic pure
    // functions of the table, so the measured gap hash-gates
    // end-to-end (the recall-audit discipline — pin the value, no
    // arbitrary band; see VectorOps.twoNnIntrinsicDimAnnAudit).
    q("twonn_intrinsic_dim_ann_audit",
      (s, d) => VectorOps.twoNnIntrinsicDimAnnAudit(embeddings(s, d)),
      "SELECT e.n_vectors, a.n_shortfall, " +
        "e.intrinsic_dim AS dim_exact, a.intrinsic_dim AS dim_ann, " +
        "round(abs(e.intrinsic_dim - a.intrinsic_dim), 4) " +
        "AS dim_abs_gap, " +
        "CASE WHEN e.intrinsic_dim > 0.0 THEN " +
        "round(abs(e.intrinsic_dim - a.intrinsic_dim) / " +
        "e.intrinsic_dim, 4) END AS dim_rel_gap " +
        s"FROM ($twonnExactSql) e CROSS JOIN ($twonnAnnSql) a"),
    q("knn_hubness_ann", (s, d) => VectorOps.knnHubnessAnn(embeddings(s, d)), hubnessAnnSql),
    // Agreement audit for the hubness pair — the twonn audit's
    // discipline (pin the measured gap; the ANN graph is legitimately
    // hubbier, see VectorOps.knnHubnessAnnAudit).
    q("knn_hubness_ann_audit", (s, d) => VectorOps.knnHubnessAnnAudit(embeddings(s, d)),
      "SELECT e.n_vectors, e.hubness_skew AS skew_exact, " +
        "a.hubness_skew AS skew_ann, " +
        "round(abs(e.hubness_skew - a.hubness_skew), 4) " +
        "AS skew_abs_gap " +
        s"FROM ($hubnessExactSql) e CROSS JOIN ($hubnessAnnSql) a"),
    // Mirrors VectorOps.mahalanobisOutliers: 4dp-rounded per-dim
    // moments (the labelCentroids pinning), per-dim terms micro-pinned
    // before the per-vector sum, σ² ≤ 0 dims contribute 0.
    q("mahalanobis_outliers", (s, d) => VectorOps.mahalanobisOutliers(embeddings(s, d)),
      "WITH pe AS (SELECT vec_id, " +
        "unnest(range(len(embedding))) AS dim, " +
        "unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x " +
        "FROM embeddings), " +
        "mom AS (SELECT dim, round(avg(x), 4) AS mu, " +
        "round(avg(x * x), 4) AS ex2 FROM pe GROUP BY 1), " +
        "m2 AS (SELECT dim, mu, ex2 - mu * mu AS s2 FROM mom), " +
        "terms AS (SELECT vec_id, CASE WHEN s2 > 0.0 THEN " +
        "CAST(round((x - mu) * (x - mu) / s2 * 1000000.0, 0) AS BIGINT) " +
        "ELSE 0 END AS tm FROM pe JOIN m2 USING (dim)) " +
        "SELECT vec_id, round(CAST(CAST(sum(tm) AS BIGINT) AS DOUBLE) / " +
        "1000000.0, 4) AS mahalanobis_sq FROM terms GROUP BY 1 " +
        "ORDER BY mahalanobis_sq DESC, vec_id ASC LIMIT 20"),
    // Mirrors VectorOps.knnQuantized: same floor(x/scale + 0.5) codes
    // (scale = max|x|/127), integer dot/norms — exact in fp64 — and
    // the scales cancel in the cosine.
    q("knn_quantized", (s, d) => VectorOps.knnQuantized(embeddings(s, d), 0, 10),
      "WITH c AS (SELECT vec_id, label, " +
        "CASE WHEN mx > 0 THEN list_transform(embedding, " +
        "x -> floor(CAST(x AS DOUBLE) / (mx / 127.0) + 0.5)) " +
        "ELSE list_transform(embedding, x -> 0.0) END AS qc " +
        "FROM (SELECT vec_id, label, embedding, " +
        "CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS mx " +
        "FROM embeddings)), " +
        "q AS (SELECT qc AS qv FROM c WHERE vec_id = 0), " +
        "s AS (SELECT c.vec_id, c.label, " +
        "list_sum(list_transform(range(len(c.qc)), i -> c.qc[i+1] * qv[i+1])) AS dp, " +
        "sqrt(list_sum(list_transform(c.qc, x -> x * x))) AS na, " +
        "sqrt(list_sum(list_transform(qv, x -> x * x))) AS nb " +
        "FROM c, q WHERE c.vec_id <> 0) " +
        "SELECT vec_id, label, round(dp / (na * nb), 4) AS cos_sim FROM s " +
        "ORDER BY cos_sim DESC, vec_id ASC LIMIT 10"),
    rowsOnly("knn_lsh", (s, d) => VectorOps.knnLsh(embeddings(s, d), 0, 10)),
    rowsOnly("knn_ivf", (s, d) =>
      VectorOps.knnIvfWith(embeddings(s, d), ivfCentroids(s, d), 0, 10)),
    // Closes the knn_ivf/knn_all_ivf hash-gate gap:
    // the learned-centroid paths are seed/reduction-order-bound
    // (recall-gated instead), but with centroids PINNED to the
    // deterministic id-hash sample (sampleCentroids: vec_id % 997 <
    // nlist, cv = that vector's embedding) every stage — nearest-list
    // assignment, nprobe probe selection, within-list top-k — is a
    // pure function of the table, so the oracle below replays the
    // ENTIRE IVF search exactly and the row is hash-gated.
    // Mirrors knn_ivf_pinned: centroids are the deterministic id-hash
    // sample (vec_id % 997 < 16, cv = embedding), so the oracle can
    // replay the WHOLE IVF search — cosine argmax list assignment
    // (list_id ASC tie-break), nprobe=4 probe selection, and the
    // within-probed-lists top-10 — with the same fp64 index-order dot
    // product the fused Spark expression uses.
    q("knn_ivf_pinned", (s, d) =>
      VectorOps.knnIvfWith(embeddings(s, d),
        VectorOps.sampleCentroids(embeddings(s, d), 16), 0, 10),
      "WITH c AS (SELECT vec_id AS list_id, embedding AS cv " +
        "FROM embeddings WHERE vec_id % 997 < 16), " +
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
        "asn AS (SELECT vec_id, list_id FROM (" +
        "SELECT e.vec_id, c.list_id, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        s"${duckCos("e.embedding", "c.cv")} DESC, " +
        "c.list_id ASC) AS rn FROM embeddings e, c) WHERE rn = 1), " +
        "probe AS (SELECT list_id FROM c, q ORDER BY " +
        s"${duckCos("cv", "qv")} DESC, " +
        "list_id ASC LIMIT 4) " +
        "SELECT e.vec_id, e.label, " +
        s"round(${duckCos("e.embedding", "q.qv")}, 4) AS cos_sim " +
        "FROM embeddings e, asn, probe, q " +
        "WHERE e.vec_id = asn.vec_id AND asn.list_id = probe.list_id " +
        "AND e.vec_id <> 0 " +
        "ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10"),
    q("knn_all_brute", (s, d) => VectorOps.knnAllBrute(embeddings(s, d), 5),
      "WITH s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) " +
        "SELECT a_id, b_id, cos_sim FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn FROM s) " +
        "WHERE rn <= 5"),
    // Mirrors VectorOps.daviesBouldinClusters: micro-pinned member and
    // centroid L2s, ratio denominators cleared into HUGEINT lanes,
    // one pinned division per cluster pair, max over ≤15 rounded
    // values; lone/degenerate pairs drop via the dij > 0 filter.
    q("davies_bouldin_clusters", (s, d) => VectorOps.daviesBouldinClusters(embeddings(s, d)),
      s"WITH $clusterQualityCte, " +
        "dmm AS (SELECT list_id, CAST(round(sqrt(d2) * 1000000.0) " +
        "AS BIGINT) AS dm FROM md), " +
        "per AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(dm) AS HUGEINT) AS sd FROM dmm GROUP BY 1), " +
        "cd AS (SELECT li, lj, dij FROM (SELECT x.list_id AS li, " +
        "y.list_id AS lj, CAST(round(sqrt(" +
        duckSqDist("x.cv", "y.cv") + ") * 1000000.0) AS BIGINT) AS dij " +
        "FROM c x, c y WHERE x.list_id <> y.list_id) WHERE dij > 0), " +
        "ratios AS (SELECT i.list_id AS li, " +
        "max(round(CAST(i.sd * j.n + j.sd * i.n AS DOUBLE) / " +
        "CAST(CAST(i.n AS HUGEINT) * j.n * cd.dij AS DOUBLE), 6)) " +
        "AS db_component FROM per i JOIN per j " +
        "ON i.list_id <> j.list_id JOIN cd " +
        "ON cd.li = i.list_id AND cd.lj = j.list_id GROUP BY 1) " +
        "SELECT per.list_id, per.n AS n_members, " +
        "round(CAST(per.sd AS DOUBLE) / " +
        "(CAST(per.n AS DOUBLE) * 1000000.0), 6) AS scatter, " +
        "ratios.db_component FROM per " +
        "LEFT JOIN ratios ON ratios.li = per.list_id"),
    // Mirrors VectorOps.calinskiHarabasz: micro-pinned centroid
    // coordinates and member L2² lanes, grand reference = rounded
    // micro-mean of assigned centroids, CH one pinned division.
    q("calinski_harabasz", (s, d) => VectorOps.calinskiHarabasz(embeddings(s, d)),
      s"WITH $clusterQualityCte, " +
        "d2m AS (SELECT list_id, CAST(round(d2 * 1.0e12) AS HUGEINT) " +
        "AS d2m FROM md), " +
        "per AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n " +
        "FROM md GROUP BY 1), " +
        "cm AS (SELECT list_id, dim, CAST(round(x * 1000000.0) " +
        "AS BIGINT) AS cmv FROM (SELECT c.list_id, " +
        "unnest(range(len(cv))) AS dim, " +
        "unnest(list_transform(cv, v -> CAST(v AS DOUBLE))) AS x " +
        "FROM c JOIN per ON per.list_id = c.list_id)), " +
        "ghat AS (SELECT dim, CAST(round(CAST(sum(cmv) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE)) AS BIGINT) AS g FROM cm GROUP BY 1), " +
        "b2 AS (SELECT list_id, CAST(sum(CAST(cmv - g AS HUGEINT) * " +
        "(cmv - g)) AS HUGEINT) AS b2 FROM cm JOIN ghat USING (dim) " +
        "GROUP BY 1), " +
        "bw AS (SELECT CAST(sum(CAST(n AS HUGEINT) * b2) AS HUGEINT) " +
        "AS b, CAST(sum(n) AS BIGINT) AS n_vectors, " +
        "CAST(count(*) AS BIGINT) AS k FROM per JOIN b2 USING (list_id)), " +
        "w AS (SELECT CAST(sum(d2m) AS HUGEINT) AS w FROM d2m) " +
        "SELECT n_vectors, k AS n_clusters, " +
        "round(CAST(w AS DOUBLE) / 1.0e12, 4) AS within_ss, " +
        "round(CAST(b AS DOUBLE) / 1.0e12, 4) AS between_ss, " +
        "CASE WHEN k >= 2 AND w > 0 THEN " +
        "round(CAST(b * (n_vectors - k) AS DOUBLE) / " +
        "CAST(w * (k - 1) AS DOUBLE), 6) END AS ch_index FROM bw, w"),
    // Mirrors VectorOps.dunnIndexCentroid: min inter-centroid micro
    // over assigned pairs / max member radius micro, one division.
    q("dunn_index_centroid", (s, d) => VectorOps.dunnIndexCentroid(embeddings(s, d)),
      s"WITH $clusterQualityCte, " +
        "dmm AS (SELECT list_id, CAST(round(sqrt(d2) * 1000000.0) " +
        "AS BIGINT) AS dm FROM md), " +
        "assigned AS (SELECT DISTINCT list_id FROM md), " +
        "cp AS (SELECT CAST(round(sqrt(" + duckSqDist("x.cv", "y.cv") +
        ") * 1000000.0) AS BIGINT) AS dij FROM c x, c y " +
        "WHERE x.list_id < y.list_id " +
        "AND x.list_id IN (SELECT list_id FROM assigned) " +
        "AND y.list_id IN (SELECT list_id FROM assigned)), " +
        "minc AS (SELECT CAST(min(dij) AS BIGINT) AS min_dij, " +
        "CAST(count(*) AS BIGINT) AS n_pairs FROM cp), " +
        "rad AS (SELECT CAST(max(dm) AS BIGINT) AS max_r, " +
        "CAST(count(DISTINCT list_id) AS BIGINT) AS k FROM dmm) " +
        "SELECT k AS n_clusters, " +
        "round(CAST(min_dij AS DOUBLE) / 1000000.0, 6) " +
        "AS min_intercentroid, " +
        "round(CAST(max_r AS DOUBLE) / 1000000.0, 6) AS max_radius, " +
        "CASE WHEN max_r > 0 AND n_pairs > 0 THEN " +
        "round(CAST(min_dij AS DOUBLE) / CAST(max_r AS DOUBLE), 6) " +
        "END AS dunn_index FROM rad, minc"),
    // Mirrors VectorOps.clusterSizeBalance: exact sizes, imbalance one
    // pinned division, entropy via the (n·ln n − Σ c·ln c)/n identity
    // with micro-pinned terms.
    q("cluster_size_balance", (s, d) => VectorOps.clusterSizeBalance(embeddings(s, d)),
      s"WITH $clusterQualityCte, " +
        "per AS (SELECT list_id, CAST(count(*) AS BIGINT) AS cc " +
        "FROM md GROUP BY 1), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters, " +
        "CAST(sum(cc) AS BIGINT) AS n_vectors, " +
        "CAST(min(cc) AS BIGINT) AS min_size, " +
        "CAST(max(cc) AS BIGINT) AS max_size, " +
        "CAST(sum(CAST(round(CAST(cc AS DOUBLE) * " +
        "ln(CAST(cc AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT) " +
        "AS clogc FROM per) " +
        "SELECT n_clusters, n_vectors, min_size, max_size, " +
        "round(CAST(max_size AS DOUBLE) / CAST(min_size AS DOUBLE), 6) " +
        "AS imbalance_ratio, " +
        "round(CAST(CAST(round(CAST(n_vectors AS DOUBLE) * " +
        "ln(CAST(n_vectors AS DOUBLE)) * 1000000.0) AS BIGINT) - clogc " +
        "AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * 1000000.0), 6) " +
        "AS size_entropy, " +
        "CASE WHEN n_clusters >= 2 THEN " +
        "round(CAST(CAST(round(CAST(n_vectors AS DOUBLE) * " +
        "ln(CAST(n_vectors AS DOUBLE)) * 1000000.0) AS BIGINT) - clogc " +
        "AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * 1000000.0) / " +
        "ln(CAST(n_clusters AS DOUBLE)), 6) END AS size_entropy_norm " +
        "FROM s"),
    // Mirrors VectorOps.embeddingSignCodesFlat: 32-bit word packing of
    // the sign bits (bit j of word w set iff component 32w+j > 0) — the
    // shift/sum is exact integer arithmetic on both engines. The words
    // ship as SCALAR columns (code_w0, code_w1): the oracle's pandas
    // harness cannot sort a nested array column (the r15 red row).
    q("embedding_sign_codes", (s, d) => VectorOps.embeddingSignCodesFlat(embeddings(s, d)),
      s"WITH $signCodeCte " +
        "SELECT vec_id, code[1] AS code_w0, code[2] AS code_w1, " +
        "CAST(list_sum(list_transform(code, " +
        "w -> bit_count(w))) AS BIGINT) AS n_ones FROM codes"),
    // Mirrors VectorOps.knnHamming: XOR+popcount over the packed
    // words, ties pinned by b_id ASC — fully deterministic top-k.
    q("knn_hamming", (s, d) => VectorOps.knnHamming(embeddings(s, d), 5),
      s"WITH $signCodeCte, " +
        "s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "CAST(list_sum(list_transform(range(2), " +
        "w -> bit_count(xor(a.code[w+1], b.code[w+1])))) AS BIGINT) AS hamming " +
        "FROM codes a JOIN codes b ON a.vec_id <> b.vec_id) " +
        "SELECT a_id, b_id, hamming FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY a_id ORDER BY hamming ASC, b_id ASC) AS rn FROM s) " +
        "WHERE rn <= 5"),
    // Mirrors VectorOps.hammingRecallAudit: exact cosine top-1 (the
    // knn_all_brute CTE at k=1) probed against the Hamming top-5 —
    // both sides deterministic, so the audit is fully hash-gated.
    q("hamming_recall_audit", (s, d) => VectorOps.hammingRecallAudit(embeddings(s, d), 5),
      s"WITH $signCodeCte, " +
        "h AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "CAST(list_sum(list_transform(range(2), " +
        "w -> bit_count(xor(a.code[w+1], b.code[w+1])))) AS BIGINT) AS hamming " +
        "FROM codes a JOIN codes b ON a.vec_id <> b.vec_id), " +
        "hk AS (SELECT a_id, b_id FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY a_id ORDER BY hamming ASC, b_id ASC) AS rn FROM h) " +
        "WHERE rn <= 5), " +
        "cos AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
        "e1 AS (SELECT a_id, b_id AS top1_id FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, " +
        "b_id ASC) AS rn FROM cos) WHERE rn = 1), " +
        "j AS (SELECT e1.a_id, CASE WHEN hk.b_id IS NOT NULL THEN 1 " +
        "ELSE 0 END AS hit FROM e1 LEFT JOIN hk " +
        "ON hk.a_id = e1.a_id AND hk.b_id = e1.top1_id) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_queries, " +
        "CAST(sum(hit) AS BIGINT) AS n_hits, " +
        "round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "AS recall_at_k FROM j"),
    // Mirrors VectorOps.hammingBandedPairs: 8-bit byte bands (band =
    // 4w + p, value = (word >> 8p) & 255), bucket-join candidates,
    // exact Hamming verification at <= 20 (band-collision recall
    // above the 8-band pigeonhole-complete threshold of 7 —
    // documented in the operator).
    q("hamming_banded_pairs", (s, d) => VectorOps.hammingBandedPairs(embeddings(s, d)),
      s"WITH $signCodeCte, " +
        "bands AS (SELECT vec_id, code, CAST(w * 4 + p AS BIGINT) AS band, " +
        "CAST((code[w+1] >> CAST(p * 8 AS INT)) & 255 AS BIGINT) AS v " +
        "FROM codes, range(2) t(w), range(4) q(p)), " +
        "cand AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id " +
        "FROM bands x JOIN bands y ON x.band = y.band AND x.v = y.v " +
        "AND x.vec_id < y.vec_id), " +
        "hv AS (SELECT c.a_id, c.b_id, " +
        "CAST(list_sum(list_transform(range(2), " +
        "w -> bit_count(xor(ca.code[w+1], cb.code[w+1])))) AS BIGINT) AS hamming " +
        "FROM cand c JOIN codes ca ON ca.vec_id = c.a_id " +
        "JOIN codes cb ON cb.vec_id = c.b_id) " +
        "SELECT a_id, b_id, hamming FROM hv WHERE hamming <= 20"),
    // Pigeonhole parity over planted distance-7 twins (the tightest
    // band case): brute ≤7 pairs minus banded ≤7 pairs must be 0.
    // Planted because the natural corpus' min pairwise distance is 15
    // — an unplanted ≤7 gate would pass vacuously on the empty set.
    // Mirrors VectorOps.hammingBandedParityAudit: the planted frame
    // (each vector's twin flips the sign of components {0,8,…,48} —
    // one bit in each of bands 0-6, Hamming distance exactly 7), the
    // sign codes over it, and the exact all-pairs ≤7 count. The
    // banded count and n_missed are the PINNED pigeonhole invariant
    // (8 bands ⇒ every pair at distance < 8 shares a band): a Spark-
    // side banding bug shows up as n_missed > 0 against this 0.
    q("hamming_banded_parity_audit", (s, d) => VectorOps.hammingBandedParityAudit(embeddings(s, d)),
      "WITH planted AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, " +
        "list_transform(range(len(embedding)), i -> " +
        "CASE WHEN i % 8 = 0 AND i < 56 THEN " +
        "CASE WHEN embedding[i+1] > 0 THEN -embedding[i+1] - 1 " +
        "ELSE -embedding[i+1] + 1 END " +
        "ELSE embedding[i+1] END) FROM embeddings), " +
        "codes AS (SELECT vec_id, list_transform(range(2), w -> " +
        "CAST(list_sum(list_transform(range(32), j -> " +
        "CASE WHEN embedding[w * 32 + j + 1] > 0 " +
        "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)) AS code " +
        "FROM planted), " +
        "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "CAST(list_sum(list_transform(range(2), " +
        "w -> bit_count(xor(a.code[w+1], b.code[w+1])))) AS BIGINT) AS d " +
        "FROM codes a JOIN codes b ON a.vec_id < b.vec_id) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_pairs_brute, " +
        "CAST(count(*) AS BIGINT) AS n_pairs_banded, " +
        "CAST(0 AS BIGINT) AS n_missed FROM p WHERE d <= 7"),
    // Mirrors VectorOps.knnHammingRerank: Hamming top-20 shortlist
    // from the code CTE, exact 4dp cosine rerank, top-5 per query.
    q("knn_hamming_rerank", (s, d) => VectorOps.knnHammingRerank(embeddings(s, d)),
      s"WITH $signCodeCte, " +
        "h AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "CAST(list_sum(list_transform(range(2), " +
        "w -> bit_count(xor(a.code[w+1], b.code[w+1])))) AS BIGINT) AS hamming " +
        "FROM codes a JOIN codes b ON a.vec_id <> b.vec_id), " +
        "sl AS (SELECT a_id, b_id FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY a_id ORDER BY hamming ASC, b_id ASC) AS rn FROM h) " +
        "WHERE rn <= 20), " +
        "sc AS (SELECT sl.a_id, sl.b_id, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM sl JOIN embeddings a ON a.vec_id = sl.a_id " +
        "JOIN embeddings b ON b.vec_id = sl.b_id) " +
        "SELECT a_id, b_id, cos_sim FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn FROM sc) " +
        "WHERE rn <= 5"),
    // Mirrors VectorOps.hammingRerankRecallAudit: exact cosine top-1
    // probed against both the reranked and the plain Hamming top-5;
    // the dominance flag is structural (see the operator doc).
    q("hamming_rerank_recall_audit", (s, d) => VectorOps.hammingRerankRecallAudit(embeddings(s, d)),
      s"WITH $signCodeCte, " +
        "h AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        "CAST(list_sum(list_transform(range(2), " +
        "w -> bit_count(xor(a.code[w+1], b.code[w+1])))) AS BIGINT) AS hamming " +
        "FROM codes a JOIN codes b ON a.vec_id <> b.vec_id), " +
        "hr AS (SELECT *, row_number() OVER (PARTITION BY a_id " +
        "ORDER BY hamming ASC, b_id ASC) AS rn FROM h), " +
        "sl AS (SELECT a_id, b_id FROM hr WHERE rn <= 20), " +
        "hk AS (SELECT a_id, b_id FROM hr WHERE rn <= 5), " +
        "cos AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
        "rk AS (SELECT sl.a_id, sl.b_id FROM (SELECT sl.a_id, sl.b_id, " +
        "row_number() OVER (PARTITION BY sl.a_id ORDER BY cos.cos_sim DESC, " +
        "sl.b_id ASC) AS rn FROM sl JOIN cos ON cos.a_id = sl.a_id " +
        "AND cos.b_id = sl.b_id) sl WHERE rn <= 5), " +
        "e1 AS (SELECT a_id, b_id AS top1_id FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, " +
        "b_id ASC) AS rn FROM cos) WHERE rn = 1), " +
        "j AS (SELECT e1.a_id, " +
        "CASE WHEN rk.b_id IS NOT NULL THEN 1 ELSE 0 END AS hr, " +
        "CASE WHEN hk.b_id IS NOT NULL THEN 1 ELSE 0 END AS hp " +
        "FROM e1 LEFT JOIN rk ON rk.a_id = e1.a_id AND rk.b_id = e1.top1_id " +
        "LEFT JOIN hk ON hk.a_id = e1.a_id AND hk.b_id = e1.top1_id) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_queries, " +
        "CAST(sum(hr) AS BIGINT) AS n_hits_rerank, " +
        "CAST(sum(hp) AS BIGINT) AS n_hits_plain, " +
        "round(CAST(sum(hr) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "AS recall_rerank, " +
        "round(CAST(sum(hp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "AS recall_plain, " +
        "CAST(sum(hr) AS BIGINT) >= CAST(sum(hp) AS BIGINT) " +
        "AS rerank_dominates FROM j"),
    // Mirrors VectorOps.hardNegatives: the knn_all_brute cosine with
    // the label inequality in the join predicate and per-vector top-3.
    q("hard_negatives", (s, d) => VectorOps.hardNegatives(embeddings(s, d), 3),
      "WITH s AS (SELECT a.vec_id AS a_id, a.label AS a_label, " +
        "b.vec_id AS b_id, b.label AS b_label, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM embeddings a JOIN embeddings b ON a.label <> b.label) " +
        "SELECT a_id, a_label, b_id, b_label, cos_sim FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn " +
        "FROM s) WHERE rn <= 3"),
    // Mirrors VectorOps.tripletMining: the knn_all_brute pair pass and
    // total order; positive = same-label top-1, semi-hard = cross-label
    // top-1 below pos_cos, hard fallback coalesced in (flag column);
    // pair CTE MATERIALIZED against triple inlining.
    q("triplet_mining", (s, d) => VectorOps.tripletMining(embeddings(s, d)),
      "WITH s AS MATERIALIZED (SELECT a.vec_id AS a_id, a.label AS a_label, " +
        "b.vec_id AS b_id, b.label AS b_label, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cs " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
        "pos AS (SELECT a_id, a_label, b_id AS pos_id, cs AS pos_cos " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY a_id " +
        "ORDER BY cs DESC, b_id ASC) AS rn FROM s " +
        "WHERE a_label = b_label) WHERE rn = 1), " +
        "sh AS (SELECT a_id, b_id AS semi_id, cs AS semi_cos FROM (" +
        "SELECT s.a_id, s.b_id, s.cs, row_number() OVER (" +
        "PARTITION BY s.a_id ORDER BY s.cs DESC, s.b_id ASC) AS rn " +
        "FROM s JOIN pos ON pos.a_id = s.a_id " +
        "WHERE s.a_label <> s.b_label AND s.cs < pos.pos_cos) " +
        "WHERE rn = 1), " +
        "hard AS (SELECT a_id, b_id AS hard_id, cs AS hard_cos FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY a_id " +
        "ORDER BY cs DESC, b_id ASC) AS rn FROM s " +
        "WHERE a_label <> b_label) WHERE rn = 1) " +
        "SELECT pos.a_id AS anchor_id, pos.a_label AS label, " +
        "pos_id, pos_cos, " +
        "coalesce(semi_id, hard_id) AS neg_id, " +
        "coalesce(semi_cos, hard_cos) AS neg_cos, " +
        "round(pos_cos - coalesce(semi_cos, hard_cos), 4) AS margin, " +
        "semi_id IS NOT NULL AS semi_hard " +
        "FROM pos LEFT JOIN sh ON sh.a_id = pos.a_id " +
        "LEFT JOIN hard ON hard.a_id = pos.a_id"),
    // Mirrors VectorOps.tripletMiningIvf: the hard_negatives_ivf
    // pinned-centroid replay (argmax assignment, nprobe=2 probes),
    // DISTINCT in-list candidate pairs, then the triplet_mining
    // pos / semi-hard / hard-fallback selection on that set.
    q("triplet_mining_ivf", (s, d) => VectorOps.tripletMiningIvf(
      embeddings(s, d), VectorOps.sampleCentroids(embeddings(s, d), 16)),
      "WITH c AS (SELECT vec_id AS list_id, embedding AS cv " +
        "FROM embeddings WHERE vec_id % 997 < 16), " +
        "sc0 AS (SELECT e.vec_id, e.label, e.embedding, c.list_id, " +
        s"${duckCos("e.embedding", "c.cv")} AS d FROM embeddings e, c), " +
        "sc AS (SELECT *, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY d DESC, list_id ASC) AS rn FROM sc0), " +
        "asn AS (SELECT vec_id, label, embedding, list_id FROM sc WHERE rn = 1), " +
        "probes AS (SELECT vec_id, label, embedding, list_id FROM sc WHERE rn <= 2), " +
        "cand AS (SELECT DISTINCT p.vec_id AS a_id, p.label AS a_label, " +
        "m.vec_id AS b_id, m.label AS b_label, " +
        s"round(${duckCos("p.embedding", "m.embedding")}, 4) AS cs " +
        "FROM probes p JOIN asn m ON m.list_id = p.list_id " +
        "AND m.vec_id <> p.vec_id), " +
        "pos AS (SELECT a_id, a_label, b_id AS pos_id, cs AS pos_cos " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY a_id " +
        "ORDER BY cs DESC, b_id ASC) AS rn FROM cand " +
        "WHERE a_label = b_label) WHERE rn = 1), " +
        "sh AS (SELECT a_id, b_id AS semi_id, cs AS semi_cos FROM (" +
        "SELECT cand.a_id, cand.b_id, cand.cs, row_number() OVER (" +
        "PARTITION BY cand.a_id ORDER BY cand.cs DESC, cand.b_id ASC) AS rn " +
        "FROM cand JOIN pos ON pos.a_id = cand.a_id " +
        "WHERE cand.a_label <> cand.b_label AND cand.cs < pos.pos_cos) " +
        "WHERE rn = 1), " +
        "hard AS (SELECT a_id, b_id AS hard_id, cs AS hard_cos FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY a_id " +
        "ORDER BY cs DESC, b_id ASC) AS rn FROM cand " +
        "WHERE a_label <> b_label) WHERE rn = 1) " +
        "SELECT pos.a_id AS anchor_id, pos.a_label AS label, " +
        "pos_id, pos_cos, " +
        "coalesce(semi_id, hard_id) AS neg_id, " +
        "coalesce(semi_cos, hard_cos) AS neg_cos, " +
        "round(pos_cos - coalesce(semi_cos, hard_cos), 4) AS margin, " +
        "semi_id IS NOT NULL AS semi_hard " +
        "FROM pos LEFT JOIN sh ON sh.a_id = pos.a_id " +
        "LEFT JOIN hard ON hard.a_id = pos.a_id"),
    // Pinned deterministic centroids (the knn_ivf_pinned discipline):
    // the IVF-scoped mining replays end-to-end in DuckDB, hash-gated.
    // Mirrors VectorOps.hardNegativesIvf with the pinned deterministic
    // centroid sample (vec_id % 997 < 16): the oracle replays the FULL
    // IVF-scoped mining — cosine argmax assignment (list_id ASC
    // tie-break), nprobe=2 probe selection, in-list cross-label top-3 —
    // with the same fp64 index-order dot the fused expression uses.
    q("hard_negatives_ivf", (s, d) =>
      VectorOps.hardNegativesIvf(embeddings(s, d),
        VectorOps.sampleCentroids(embeddings(s, d), 16), 3),
      "WITH c AS (SELECT vec_id AS list_id, embedding AS cv " +
        "FROM embeddings WHERE vec_id % 997 < 16), " +
        "sc0 AS (SELECT e.vec_id, e.label, e.embedding, c.list_id, " +
        s"${duckCos("e.embedding", "c.cv")} AS d FROM embeddings e, c), " +
        "sc AS (SELECT *, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY d DESC, list_id ASC) AS rn FROM sc0), " +
        "asn AS (SELECT vec_id, label, embedding, list_id FROM sc WHERE rn = 1), " +
        "probes AS (SELECT vec_id, label, embedding, list_id FROM sc WHERE rn <= 2), " +
        "pairs AS (SELECT p.vec_id AS a_id, p.label AS a_label, " +
        "m.vec_id AS b_id, m.label AS b_label, " +
        s"round(${duckCos("p.embedding", "m.embedding")}, 4) AS cos_sim " +
        "FROM probes p JOIN asn m ON m.list_id = p.list_id " +
        "AND m.vec_id <> p.vec_id AND m.label <> p.label) " +
        "SELECT a_id, a_label, b_id, b_label, cos_sim FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS rn " +
        "FROM pairs) WHERE rn <= 3"),
    rowsOnly("knn_all_lsh", (s, d) => VectorOps.knnAllLsh(embeddings(s, d), 5)),
    rowsOnly("knn_all_ivf", (s, d) =>
      VectorOps.knnAllIvf(embeddings(s, d), ivfCentroids(s, d), 5)),
    // End-to-end gate for the hash-seed-bound ANN paths: over the
    // planted frame, EVERY method's top-1 for query 0 must be the
    // scaled copy at cos exactly 1.0 — LSH because a positive scalar
    // multiple shares its original's sign bucket with probability 1,
    // IVF because assignment is by cosine (identical for the copy, so
    // same list, and the query's own list is always probed first),
    // quantized because the copy's int8 codes are identical. A recall
    // or ranking regression in any path flips a constant row.
    // Batch-ANN counterpart of ann_top1_audit: over the planted frame
    // EVERY vector's top-1 must be its twin (original↔scaled copy,
    // ids ±1e6, cos exactly 1.0) — gates the whole knn_all_lsh /
    // knn_all_ivf search paths whose raw outputs are hash-seed-bound.
    // Twins share buckets (sign-LSH) and lists (cosine assignment)
    // with probability 1, so both counts are corpus-size constants.
    // Mirrors ann_batch_recall_audit: both counts equal twice the
    // corpus size by construction (every vector and every planted copy
    // has its twin as top-1).
    q("ann_batch_recall_audit", (s, d) => {
      import org.apache.spark.sql.functions.{abs, col, count, lit, sum, when}
      val planted = VectorOps.withPlantedDups(embeddings(s, d))
      def recallRow(m: String, df: DataFrame) = df.agg(
          count(lit(1)).as("n_vectors"),
          sum(when(abs(col("b_id") - col("a_id")) === 1000000L, 1L)
            .otherwise(0L)).as("n_twin_top1"))
        .select(lit(m).as("method"), col("n_vectors"), col("n_twin_top1"))
      recallRow("lsh", VectorOps.knnAllLsh(planted, 1))
        .unionByName(recallRow("ivf",
          VectorOps.knnAllIvf(planted, ivfCentroids(s, d), 1)))
    },
      "WITH n AS (SELECT 2 * count(*) AS nv FROM embeddings) " +
        "SELECT 'lsh' AS method, CAST(nv AS BIGINT) AS n_vectors, " +
        "CAST(nv AS BIGINT) AS n_twin_top1 FROM n " +
        "UNION ALL SELECT 'ivf' AS method, CAST(nv AS BIGINT), " +
        "CAST(nv AS BIGINT) FROM n"),
    // Matryoshka-truncation audit: a planted scaled copy keeps its
    // DIRECTION in every dim prefix (truncating a scalar multiple is
    // still a scalar multiple), so twin-top-1 recall through the
    // sign-LSH batch search must stay exactly 1 at 64, 32 and 16 kept
    // dims — gating truncateDims + the search path under the MRL
    // dimension-trimming practice. Both counts are corpus constants.
    // Mirrors matryoshka_recall_audit: corpus-size constants at every
    // kept-dims level (see the registration comment).
    q("matryoshka_recall_audit", (s, d) => {
      import org.apache.spark.sql.functions.{abs, col, count, lit, sum, when}
      val planted = VectorOps.withPlantedDups(embeddings(s, d))
      def row(dims: Int) =
        VectorOps.knnAllLsh(VectorOps.truncateDims(planted, dims), 1).agg(
            count(lit(1)).as("n_vectors"),
            sum(when(abs(col("b_id") - col("a_id")) === 1000000L, 1L)
              .otherwise(0L)).as("n_twin_top1"))
          .select(lit(dims.toLong).as("dims_kept"), col("n_vectors"),
            col("n_twin_top1"))
      row(64).unionByName(row(32)).unionByName(row(16))
    },
      "WITH n AS (SELECT 2 * count(*) AS nv FROM embeddings) " +
        "SELECT CAST(64 AS BIGINT) AS dims_kept, CAST(nv AS BIGINT) AS n_vectors, " +
        "CAST(nv AS BIGINT) AS n_twin_top1 FROM n " +
        "UNION ALL SELECT CAST(32 AS BIGINT), CAST(nv AS BIGINT), " +
        "CAST(nv AS BIGINT) FROM n " +
        "UNION ALL SELECT CAST(16 AS BIGINT), CAST(nv AS BIGINT), " +
        "CAST(nv AS BIGINT) FROM n"),
    // Mirrors ann_top1_audit: constants by construction (see the
    // registration comment — planted scaled copies are rank-1 under
    // every method with cosine exactly 1.0).
    // (1.0 is CAST to DOUBLE — a bare literal is DECIMAL(2,1) in
    // DuckDB, the same type-drift class as the HUGEINT sums.)
    q("ann_top1_audit", (s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      val planted = VectorOps.withPlantedDups(embeddings(s, d))
      def top1(m: String, df: DataFrame) = df.limit(1)
        .select(lit(m).as("method"), col("vec_id").as("top1_id"),
          col("cos_sim"))
      top1("brute", VectorOps.knnBrute(planted, 0, 1))
        .unionByName(top1("lsh", VectorOps.knnLsh(planted, 0, 1)))
        .unionByName(top1("ivf",
          VectorOps.knnIvfWith(planted, ivfCentroids(s, d), 0, 1)))
        .unionByName(top1("quantized", VectorOps.knnQuantized(planted, 0, 1)))
    },
      "SELECT * FROM (VALUES " +
        "('brute', CAST(1000000 AS BIGINT), CAST(1.0 AS DOUBLE)), " +
        "('lsh', CAST(1000000 AS BIGINT), CAST(1.0 AS DOUBLE)), " +
        "('ivf', CAST(1000000 AS BIGINT), CAST(1.0 AS DOUBLE)), " +
        "('quantized', CAST(1000000 AS BIGINT), CAST(1.0 AS DOUBLE))" +
        ") AS t(method, top1_id, cos_sim)"),
    // Registered over planted deterministic dups (scaled copies — see
    // VectorOps.withPlantedDups): the natural corpus has no pair above
    // cos 0.52 at test SF, so the bare operator at 0.9 returns 0 rows
    // and the gate is vacuous; planting makes it a real hash gate with
    // an exact all-pairs oracle (LSH recall of scaled copies is 1).
    // Mirrors the planted-dup registration (VectorOps.withPlantedDups):
    // exact ALL-pairs cosine in DuckDB — sound because sign-LSH recall
    // of a positive scalar multiple is exactly 1, so the bucketed Spark
    // form finds every ≥-threshold pair the exhaustive oracle does.
    q("cosine_near_dups", (s, d) =>
      VectorOps.cosineNearDups(
        VectorOps.withPlantedDups(embeddings(s, d)), 0.9),
      "WITH av AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding " +
        "FROM embeddings), " +
        "s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM av a JOIN av b ON a.vec_id < b.vec_id) " +
        "SELECT a_id, b_id, cos_sim FROM s WHERE cos_sim >= 0.9"),
    // Same planted construction, cluster-scoped (SemDeDup): at 0.9 the
    // only ≥-threshold pairs are the planted twins (natural max cos
    // 0.52, and scaling never changes a cosine), and a twin shares its
    // original's nearest-centroid list with probability 1 — so the
    // cluster-scoped search provably equals the exhaustive all-pairs
    // oracle. list_id is centroid-seed-bound and projected out.
    // Mirrors the semdedup_pairs registration: the SAME exhaustive
    // all-pairs oracle as cosine_near_dups — sound because every
    // ≥0.9 pair in the planted frame is an (original, scaled-twin)
    // pair, and a twin's centroid cosines are bit-identical to its
    // original's (×2 scales dot and norm-product exactly), so the
    // cluster-scoped search misses nothing the exhaustive form finds.
    q("semdedup_pairs", (s, d) =>
      VectorOps.semDedupPairs(
        VectorOps.withPlantedDups(embeddings(s, d)),
        ivfCentroids(s, d), 0.9)
        .select("a_id", "b_id", "cos_sim"),
      "WITH av AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding " +
        "FROM embeddings), " +
        "s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
        s"round(${duckCos("a.embedding", "b.embedding")}, 4) AS cos_sim " +
        "FROM av a JOIN av b ON a.vec_id < b.vec_id) " +
        "SELECT a_id, b_id, cos_sim FROM s WHERE cos_sim >= 0.9"),
    q("label_centroids", (s, d) => VectorOps.labelCentroids(embeddings(s, d)),
      "WITH x AS (SELECT label, unnest(list_transform(range(len(embedding)), " +
        "i -> {'d': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) AS s FROM embeddings) " +
        "SELECT label, CAST(s.d AS INTEGER) AS dim, round(avg(s.v), 4) AS mean_x " +
        "FROM x GROUP BY 1, 2"),
    // Mirrors VectorOps.normStatsByLabel: the same fp64 left-fold norm
    // as embedding_quantize's l2_norm (list_reduce == aggregate-from-0.0
    // since 0.0 + x == x exactly). The len()=0 guard matches the Spark
    // fold's 0.0 on an empty embedding — DuckDB's list_reduce raises on
    // an empty list instead of degrading (list_sum would not, but could
    // change the fp summation order; the CASE keeps non-empty rows
    // bit-identical to the hash-green form).
    q("embedding_norm_stats", (s, d) => VectorOps.normStatsByLabel(embeddings(s, d)),
      "WITH x AS (SELECT label, " +
        "CASE WHEN len(embedding) = 0 THEN 0.0 ELSE " +
        "sqrt(list_reduce(list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) END AS l2 " +
        "FROM embeddings) " +
        "SELECT label, count(*) AS n, round(avg(l2), 4) AS avg_norm, " +
        "round(min(l2), 4) AS min_norm, round(max(l2), 4) AS max_norm " +
        "FROM x GROUP BY label"),
    // Mirrors VectorOps.quantizeEmbeddings: fp64 left-fold norm,
    // float-space max|x|, explicit floor(x/scale + 0.5) rounding.
    q("embedding_quantize", (s, d) => VectorOps.quantizeEmbeddings(embeddings(s, d)), {
      val qs = (0 until 8).map(j =>
        "CASE WHEN max_abs > 0 THEN CAST(floor(CAST(embedding[" + (j + 1) +
          "] AS DOUBLE) / (max_abs / 127.0) + 0.5) AS BIGINT) ELSE 0 " +
          s"END AS q$j").mkString(", ")
      // Same empty-list guards as embedding_norm_stats: Spark's fold
      // yields l2_norm 0.0 and array_max yields NULL max_abs on an
      // empty embedding; list_reduce/list_max would raise instead.
      "WITH m AS (SELECT vec_id, embedding, " +
        "CASE WHEN len(embedding) = 0 THEN 0.0 ELSE " +
        "sqrt(list_reduce(list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) END AS l2_norm, " +
        "CASE WHEN len(embedding) = 0 THEN NULL ELSE " +
        "CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) END AS max_abs " +
        "FROM embeddings) " +
        s"SELECT vec_id, l2_norm, max_abs, max_abs / 127.0 AS scale, $qs FROM m"
    }),
    // Mirrors VectorOps.kmeansCodeRounds: the knn_quantized code CTE,
    // the knn_ivf_pinned row_number assignment, integer SUM vectors as
    // round-2 centroids (cosine scale-invariance makes sum ≡ mean —
    // no division ever happens, so both rounds are exact integer
    // arithmetic end-to-end).
    q("kmeans_code_rounds", (s, d) => VectorOps.kmeansCodeRounds(embeddings(s, d)),
      "WITH b AS (SELECT vec_id, embedding, " +
        "CAST(list_max(list_transform(embedding, " +
        "x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE) AS mx FROM embeddings), " +
        "c AS (SELECT vec_id, CASE WHEN mx > 0 THEN " +
        "list_transform(embedding, " +
        "x -> floor(CAST(x AS DOUBLE) / (mx / 127.0) + 0.5)) " +
        "ELSE list_transform(embedding, x -> 0.0) END AS qc FROM b), " +
        "cz AS (SELECT vec_id, qc FROM c " +
        "WHERE list_sum(list_transform(qc, x -> x * x)) > 0), " +
        "init AS (SELECT vec_id AS list_id, qc AS cv FROM cz " +
        "WHERE vec_id % 997 < 16), " +
        "s1 AS (SELECT z.vec_id, z.qc, i.list_id, " +
        "list_sum(list_transform(range(len(z.qc)), " +
        "j -> z.qc[j+1] * i.cv[j+1])) / " +
        "(sqrt(list_sum(list_transform(z.qc, x -> x * x))) * " +
        "sqrt(list_sum(list_transform(i.cv, x -> x * x)))) AS cos " +
        "FROM cz z CROSS JOIN init i), " +
        "a1 AS (SELECT vec_id, qc, list_id FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY cos DESC, list_id ASC) AS rn FROM s1) WHERE rn = 1), " +
        "e1 AS (SELECT list_id, unnest(range(len(qc))) AS j, " +
        "unnest(qc) AS q FROM a1), " +
        "d1 AS (SELECT list_id, j, CAST(sum(q) AS BIGINT) AS sq " +
        "FROM e1 GROUP BY 1, 2), " +
        "c2 AS (SELECT list_id, list(CAST(sq AS DOUBLE) ORDER BY j) AS cv " +
        "FROM d1 GROUP BY 1), " +
        "s2 AS (SELECT z.vec_id, z.qc, i.list_id, " +
        "list_sum(list_transform(range(len(z.qc)), " +
        "j -> z.qc[j+1] * i.cv[j+1])) / " +
        "(sqrt(list_sum(list_transform(z.qc, x -> x * x))) * " +
        "sqrt(list_sum(list_transform(i.cv, x -> x * x)))) AS cos " +
        "FROM cz z CROSS JOIN c2 i), " +
        "a2 AS (SELECT vec_id, qc, list_id AS list2 FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY cos DESC, list_id ASC) AS rn FROM s2) WHERE rn = 1) " +
        "SELECT a2.list2 AS list_id, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(sum(CASE WHEN a1.list_id <> a2.list2 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_moved_in, " +
        "CAST(sum(a2.qc[1]) AS BIGINT) AS sum_q0, " +
        "CAST(sum(a2.qc[2]) AS BIGINT) AS sum_q1 " +
        "FROM a2 JOIN a1 ON a1.vec_id = a2.vec_id GROUP BY 1"),
    // Mirrors VectorOps.mrrRetrieval: the ndcg scoring/rank CTEs, min
    // relevant rank per query, NULL for zero-relevant queries.
    q("mrr_retrieval_audit", (s, d) => VectorOps.mrrRetrieval(embeddings(s, d)),
      "WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel " +
        "FROM embeddings WHERE vec_id IN (0, 1, 2, 3)), " +
        "scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label, " +
        s"round(${duckCos("e.embedding", "qv")}, 4) AS cs " +
        "FROM embeddings e, q WHERE e.vec_id <> q.qid), " +
        "rk AS (SELECT qid, qlabel, label, " +
        "CAST(row_number() OVER (PARTITION BY qid " +
        "ORDER BY cs DESC, vec_id ASC) AS BIGINT) AS rnk FROM scored), " +
        "fr AS (SELECT qid, CAST(min(rnk) AS BIGINT) AS first_rel_rank, " +
        "CAST(count(*) AS BIGINT) AS n_relevant FROM rk " +
        "WHERE label = qlabel GROUP BY 1) " +
        "SELECT q.qid AS query_id, coalesce(n_relevant, 0) AS n_relevant, " +
        "first_rel_rank, CASE WHEN first_rel_rank IS NOT NULL THEN " +
        "round(1.0 / CAST(first_rel_rank AS DOUBLE), 6) END " +
        "AS reciprocal_rank FROM q LEFT JOIN fr ON fr.qid = q.qid"),
    // Mirrors VectorOps.labelSeparationMatrix: the label_centroids
    // CTE re-assembled in dim order, list_sum ≡ index-order-fold
    // parity for dot/norm/distance, 6dp rounds.
    q("label_separation_matrix", (s, d) => VectorOps.labelSeparationMatrix(embeddings(s, d)),
      "WITH x AS (SELECT label, unnest(list_transform(range(len(embedding)), " +
        "i -> {'d': i, 'v': CAST(embedding[i+1] AS DOUBLE)})) AS s " +
        "FROM embeddings), " +
        "cent AS (SELECT label, CAST(s.d AS INTEGER) AS dim, " +
        "round(avg(s.v), 4) AS mean_x FROM x GROUP BY 1, 2), " +
        "cv AS (SELECT label, list(mean_x ORDER BY dim) AS c " +
        "FROM cent GROUP BY 1), " +
        "p AS (SELECT a.label AS label_a, b.label AS label_b, " +
        "a.c AS ca, b.c AS cb FROM cv a JOIN cv b ON a.label < b.label) " +
        "SELECT label_a, label_b, " +
        "round(list_sum(list_transform(range(len(ca)), " +
        "i -> ca[i+1] * cb[i+1])) / " +
        "(sqrt(list_sum(list_transform(ca, x -> x * x))) * " +
        "sqrt(list_sum(list_transform(cb, x -> x * x)))), 6) " +
        "AS centroid_cosine, " +
        "round(sqrt(list_sum(list_transform(range(len(ca)), " +
        "i -> (ca[i+1] - cb[i+1]) * (ca[i+1] - cb[i+1])))), 6) " +
        "AS centroid_l2 FROM p"),
    // Mirrors VectorOps.embeddingIsotropy: the ‖Σv̂‖² − n sum-vector
    // identity per label and for the ALL row — the oracle computes the
    // same O(n·d) form (never the pair join it equals).
    q("embedding_isotropy", (s, d) => VectorOps.embeddingIsotropy(embeddings(s, d)),
      "WITH nv AS (SELECT CAST(label AS VARCHAR) AS lbl, " +
        "sqrt(list_sum(list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm, embedding " +
        "FROM embeddings WHERE sqrt(list_sum(list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0.0), " +
        "e AS (SELECT lbl, i, x / nrm AS xn FROM (" +
        "SELECT lbl, nrm, generate_subscripts(embedding, 1) AS i, " +
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM nv)), " +
        "sv AS (SELECT lbl, i, sum(CAST(xn AS DOUBLE)) AS s FROM e GROUP BY 1, 2), " +
        "np AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n FROM nv GROUP BY 1), " +
        "bl AS (SELECT sv.lbl, sum(CAST(s * s AS DOUBLE)) AS ssq FROM sv GROUP BY 1), " +
        "sall AS (SELECT i, sum(CAST(s AS DOUBLE)) AS s FROM sv GROUP BY 1), " +
        "u AS (SELECT bl.lbl, FALSE AS is_overall, bl.ssq, np.n " +
        "FROM bl JOIN np USING (lbl) " +
        "UNION ALL SELECT 'ALL' AS lbl, TRUE AS is_overall, " +
        "(SELECT sum(CAST(s * s AS DOUBLE)) FROM sall) AS ssq, " +
        "(SELECT CAST(sum(n) AS BIGINT) FROM np) AS n) " +
        "SELECT lbl AS label, is_overall, n AS n_vecs, " +
        "CASE WHEN n >= 2 THEN " +
        "round((ssq - CAST(n AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6) " +
        "END AS mean_pairwise_cosine FROM u"),
    
    // Mirrors VectorOps.pqEncode over the pinned codebook: the full
    // per-(vector, block) argmin replayed with the shared block-L2
    // fold, code ASC tie-break.
    q("pq_codes_pinned", (s, d) =>
      VectorOps.pqEncode(embeddings(s, d),
        VectorOps.pqPinnedCodebook(embeddings(s, d))),
      "WITH " + pqCtes + " SELECT vec_id, block, code FROM codes"),
    // Mirrors VectorOps.knnPqPinned: the ADC lookup table is the
    // m·|codes| block-L2 grid against query vec 0; each vector's
    // approximate distance is the sum of its m cells, 6dp-rounded
    // before the (adc, vec_id) order.
    q("knn_pq_pinned", (s, d) => VectorOps.knnPqPinned(embeddings(s, d)),
      "WITH " + pqCtes + " " +
        "SELECT a.vec_id, e.label, a.adc_l2sq FROM adc a " +
        "JOIN embeddings e ON e.vec_id = a.vec_id " +
        "ORDER BY a.adc_l2sq ASC, a.vec_id ASC LIMIT 10"),
    // Mirrors VectorOps.pqRecallAudit: raw-ADC top-10 ∩ exact
    // squared-L2 top-10 (same rounding and tie-break on both rails).
    q("pq_recall_audit", (s, d) => VectorOps.pqRecallAudit(embeddings(s, d)),
      "WITH " + pqCtes + ", " +
        "top AS (SELECT vec_id FROM adc ORDER BY adc_l2sq ASC, vec_id ASC " +
        "LIMIT 10), " +
        "ex AS (SELECT e.vec_id FROM embeddings e CROSS JOIN qq " +
        "WHERE e.vec_id <> 0 ORDER BY round(list_sum(list_transform(" +
        "range(len(e.embedding)), " +
        "i -> (CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)) * " +
        "(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)))), 6) " +
        "ASC, e.vec_id ASC LIMIT 10) " +
        "SELECT 10 AS k_eval, CAST(count(*) AS BIGINT) AS n_hits, " +
        "round(CAST(count(*) AS DOUBLE) / 10.0, 6) AS recall " +
        "FROM top JOIN ex USING (vec_id)"),
    // Mirrors VectorOps.knnPqRerank: ADC shortlist-100 from codes,
    // exact L2 re-rank of just those candidates.
    q("knn_pq_rerank", (s, d) => VectorOps.knnPqRerank(embeddings(s, d)),
      "WITH " + pqCtes + ", " +
        "short AS (SELECT vec_id FROM adc ORDER BY adc_l2sq ASC, vec_id ASC " +
        "LIMIT 100) " +
        "SELECT e.vec_id, e.label, round(list_sum(list_transform(" +
        "range(len(e.embedding)), " +
        "i -> (CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)) * " +
        "(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)))), 6) " +
        "AS l2sq FROM embeddings e JOIN short USING (vec_id) CROSS JOIN qq " +
        "ORDER BY l2sq ASC, e.vec_id ASC LIMIT 10"),
    // Mirrors VectorOps.pqRerankRecallAudit: the two-stage search's
    // top-10 ∩ exact top-10.
    q("pq_rerank_recall_audit", (s, d) => VectorOps.pqRerankRecallAudit(embeddings(s, d)),
      "WITH " + pqCtes + ", " +
        "short AS (SELECT vec_id FROM adc ORDER BY adc_l2sq ASC, vec_id ASC " +
        "LIMIT 100), " +
        "rer AS (SELECT e.vec_id FROM embeddings e JOIN short USING (vec_id) " +
        "CROSS JOIN qq ORDER BY round(list_sum(list_transform(" +
        "range(len(e.embedding)), " +
        "i -> (CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)) * " +
        "(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)))), 6) " +
        "ASC, e.vec_id ASC LIMIT 10), " +
        "ex AS (SELECT e.vec_id FROM embeddings e CROSS JOIN qq " +
        "WHERE e.vec_id <> 0 ORDER BY round(list_sum(list_transform(" +
        "range(len(e.embedding)), " +
        "i -> (CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)) * " +
        "(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)))), 6) " +
        "ASC, e.vec_id ASC LIMIT 10) " +
        "SELECT 10 AS k_eval, 100 AS shortlist, " +
        "CAST(count(*) AS BIGINT) AS n_hits, " +
        "round(CAST(count(*) AS DOUBLE) / 10.0, 6) AS recall " +
        "FROM rer JOIN ex USING (vec_id)"),
    // Mirrors VectorOps.knnIvfPqPinned: the knn_ivf_pinned coarse
    // stage (cosine argmax assignment, nprobe=4) composed with the
    // shared PQ ADC chain — the oracle filters adc to the probed
    // candidates (identical rows: ADC is per-vector independent).
    q("knn_ivf_pq_pinned", (s, d) => VectorOps.knnIvfPqPinned(embeddings(s, d)),
      "WITH " + pqCtes + ", " + ivfPinnedCtes + " " +
        "SELECT a.vec_id, e.label, a.adc_l2sq FROM adc a " +
        "JOIN cand ON cand.vec_id = a.vec_id " +
        "JOIN embeddings e ON e.vec_id = a.vec_id " +
        "ORDER BY a.adc_l2sq ASC, a.vec_id ASC LIMIT 10"),
    // Mirrors VectorOps.ivfPqRecallAudit: the composed index's top-10
    // ∩ exact squared-L2 top-10 — probe-bounded AND quantization-
    // bounded recall, published honestly.
    q("ivf_pq_recall_audit", (s, d) => VectorOps.ivfPqRecallAudit(embeddings(s, d)),
      "WITH " + pqCtes + ", " + ivfPinnedCtes + ", " +
        "top AS (SELECT a.vec_id FROM adc a JOIN cand ON cand.vec_id = a.vec_id " +
        "ORDER BY a.adc_l2sq ASC, a.vec_id ASC LIMIT 10), " +
        "ex AS (SELECT e.vec_id FROM embeddings e CROSS JOIN qq " +
        "WHERE e.vec_id <> 0 ORDER BY round(list_sum(list_transform(" +
        "range(len(e.embedding)), " +
        "i -> (CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)) * " +
        "(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)))), 6) " +
        "ASC, e.vec_id ASC LIMIT 10) " +
        "SELECT 10 AS k_eval, 4 AS nprobe, " +
        "CAST(count(*) AS BIGINT) AS n_hits, " +
        "round(CAST(count(*) AS DOUBLE) / 10.0, 6) AS recall " +
        "FROM top JOIN ex USING (vec_id)"),
    // Mirrors VectorOps.knnIvfPqResidualPinned: residual encoding
    // against the coarse centroids, residual codebook = the pinned
    // sample's own residuals, per-probed-list ADC tables. Unused
    // CTEs from the shared blocks are dropped by the planner.
    q("knn_ivf_pq_residual", (s, d) => VectorOps.knnIvfPqResidualPinned(embeddings(s, d)),
      "WITH " + pqCtes + ", " + ivfPinnedCtes + ", " + residualPqCtes + " " +
        "SELECT a.vec_id, e.label, a.adc_l2sq FROM radc a " +
        "JOIN embeddings e ON e.vec_id = a.vec_id " +
        "ORDER BY a.adc_l2sq ASC, a.vec_id ASC LIMIT 10"),
    // Mirrors VectorOps.ivfPqResidualRecallAudit.
    q("ivf_pq_residual_recall_audit", (s, d) => VectorOps.ivfPqResidualRecallAudit(embeddings(s, d)),
      "WITH " + pqCtes + ", " + ivfPinnedCtes + ", " + residualPqCtes + ", " +
        "top AS (SELECT vec_id FROM radc ORDER BY adc_l2sq ASC, vec_id ASC " +
        "LIMIT 10), " +
        "ex AS (SELECT e.vec_id FROM embeddings e CROSS JOIN qq " +
        "WHERE e.vec_id <> 0 ORDER BY round(list_sum(list_transform(" +
        "range(len(e.embedding)), " +
        "i -> (CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)) * " +
        "(CAST(e.embedding[i+1] AS DOUBLE) - CAST(qq.qv[i+1] AS DOUBLE)))), 6) " +
        "ASC, e.vec_id ASC LIMIT 10) " +
        "SELECT 10 AS k_eval, 4 AS nprobe, " +
        "CAST(count(*) AS BIGINT) AS n_hits, " +
        "round(CAST(count(*) AS DOUBLE) / 10.0, 6) AS recall " +
        "FROM top JOIN ex USING (vec_id)"),
  )

  /** GraphOps: event-transition and term co-occurrence graphs. */
  private def graphQueries: Seq[Query] = Seq(
    q("event_pagerank", (s, d) => GraphOps.eventTypePageRank(events(s, d)),
      "WITH steps AS (SELECT event_type AS src, lead(event_type) OVER (" +
        "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS dst " +
        "FROM events), " +
        "edges AS (SELECT src, dst, count(*) AS w FROM steps " +
        "WHERE dst IS NOT NULL GROUP BY 1, 2), " +
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
        "probs AS (SELECT src, dst, CAST(w AS DOUBLE) / " +
        "sum(CAST(w AS DOUBLE)) OVER (PARTITION BY src) AS p FROM edges), " +
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM nodes), " +
        "c1 AS (SELECT o.dst AS node, sum(CAST(o.p * r.pr AS DOUBLE)) AS inflow " +
        "FROM probs o JOIN r0 r ON r.node = o.src GROUP BY 1), " +
        "r1 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + " +
        "CAST(0.85 AS DOUBLE) * coalesce(c.inflow, 0) AS pr " +
        "FROM nodes n LEFT JOIN c1 c USING (node)), " +
        "c2 AS (SELECT o.dst AS node, sum(CAST(o.p * r.pr AS DOUBLE)) AS inflow " +
        "FROM probs o JOIN r1 r ON r.node = o.src GROUP BY 1), " +
        "r2 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + " +
        "CAST(0.85 AS DOUBLE) * coalesce(c.inflow, 0) AS pr " +
        "FROM nodes n LEFT JOIN c2 c USING (node)), " +
        "c3 AS (SELECT o.dst AS node, sum(CAST(o.p * r.pr AS DOUBLE)) AS inflow " +
        "FROM probs o JOIN r2 r ON r.node = o.src GROUP BY 1), " +
        "r3 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + " +
        "CAST(0.85 AS DOUBLE) * coalesce(c.inflow, 0) AS pr " +
        "FROM nodes n LEFT JOIN c3 c USING (node)), " +
        "c4 AS (SELECT o.dst AS node, sum(CAST(o.p * r.pr AS DOUBLE)) AS inflow " +
        "FROM probs o JOIN r3 r ON r.node = o.src GROUP BY 1), " +
        "r4 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + " +
        "CAST(0.85 AS DOUBLE) * coalesce(c.inflow, 0) AS pr " +
        "FROM nodes n LEFT JOIN c4 c USING (node)), " +
        "c5 AS (SELECT o.dst AS node, sum(CAST(o.p * r.pr AS DOUBLE)) AS inflow " +
        "FROM probs o JOIN r4 r ON r.node = o.src GROUP BY 1), " +
        "r5 AS (SELECT n.node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + " +
        "CAST(0.85 AS DOUBLE) * coalesce(c.inflow, 0) AS pr " +
        "FROM nodes n LEFT JOIN c5 c USING (node)) " +
        "SELECT node AS event_type, round(pr, 6) AS pagerank " +
        "FROM r5 ORDER BY event_type ASC"),
    // Mirrors GraphOps.hitsUserType: three unrolled unnormalized
    // authority iterates over the distinct incidence frame — pure
    // BIGINT matrix-vector products, one double division at the end.
    q("hits_user_type", (s, d) => GraphOps.hitsUserType(events(s, d)),
      "WITH inc AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "h1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS h " +
        "FROM inc GROUP BY 1), " +
        "a1 AS (SELECT event_type, CAST(sum(h) AS BIGINT) AS a1 " +
        "FROM inc JOIN h1 USING (user_id) GROUP BY 1), " +
        "h2 AS (SELECT user_id, CAST(sum(a1) AS BIGINT) AS h " +
        "FROM inc JOIN a1 USING (event_type) GROUP BY 1), " +
        "a2 AS (SELECT event_type, CAST(sum(h) AS BIGINT) AS a2 " +
        "FROM inc JOIN h2 USING (user_id) GROUP BY 1), " +
        "h3 AS (SELECT user_id, CAST(sum(a2) AS BIGINT) AS h " +
        "FROM inc JOIN a2 USING (event_type) GROUP BY 1), " +
        "a3 AS (SELECT event_type, CAST(sum(h) AS BIGINT) AS a3 " +
        "FROM inc JOIN h3 USING (user_id) GROUP BY 1), " +
        "t AS (SELECT CAST(sum(a3) AS BIGINT) AS t3 FROM a3) " +
        "SELECT event_type, a1, a2, a3, " +
        "round(CAST(a3 AS DOUBLE) / CAST(t3 AS DOUBLE), 6) AS authority " +
        "FROM a1 JOIN a2 USING (event_type) JOIN a3 USING (event_type) " +
        "CROSS JOIN t"),
    // Mirrors GraphOps.eventTypePpr: the pagerank unroll with the
    // restart vector concentrated on 'purchase'. The restart constant
    // is computed as 1.0 − 0.85 IN DOUBLE (not the literal 0.15 —
    // different last bit) so both engines add the identical teleport.
    q("event_ppr", (s, d) => GraphOps.eventTypePpr(events(s, d)), {
      val head =
        "WITH steps AS (SELECT event_type AS src, lead(event_type) OVER (" +
          "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS dst " +
          "FROM events), " +
          "edges AS (SELECT src, dst, count(*) AS w FROM steps " +
          "WHERE dst IS NOT NULL GROUP BY 1, 2), " +
          "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges), " +
          "probs AS (SELECT src, dst, CAST(w AS DOUBLE) / " +
          "sum(CAST(w AS DOUBLE)) OVER (PARTITION BY src) AS p FROM edges), " +
          "r0 AS (SELECT node, CASE WHEN node = 'purchase' " +
          "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS pr " +
          "FROM nodes), "
      val rounds = (1 to 5).map { i =>
        s"c$i AS (SELECT o.dst AS node, sum(CAST(o.p * r.pr AS DOUBLE)) " +
          s"AS inflow FROM probs o JOIN r${i - 1} r ON r.node = o.src " +
          "GROUP BY 1), " +
          s"r$i AS (SELECT n.node, (CASE WHEN n.node = 'purchase' " +
          "THEN CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE) " +
          "ELSE CAST(0.0 AS DOUBLE) END) + " +
          "CAST(0.85 AS DOUBLE) * coalesce(c.inflow, 0) AS pr " +
          s"FROM nodes n LEFT JOIN c$i c USING (node)), "
      }.mkString
      head + rounds.stripSuffix(", ") + " " +
        "SELECT node AS event_type, round(pr, 6) AS ppr " +
        "FROM r5 ORDER BY event_type ASC"
    }),
    // Mirrors GraphOps.likelyEventPaths: the oracle enumerates every
    // ≤4-hop path from the min-type seed with a bounded recursive CTE
    // and takes min(dist) per node; the engine's Bellman-Ford rounds
    // compute the same optimum because IEEE + is monotone
    // (min(a,b)+w = min(a+w,b+w) exactly) and both engines
    // left-associate each path's weight sum.
    q("likely_event_paths", (s, d) => GraphOps.likelyEventPaths(events(s, d)),
      "WITH RECURSIVE steps AS (SELECT event_type AS src, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS dst " +
        "FROM events), " +
        "agg AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n_steps " +
        "FROM steps WHERE dst IS NOT NULL GROUP BY 1, 2), " +
        "tot AS (SELECT src, CAST(sum(n_steps) AS BIGINT) AS n_from FROM agg GROUP BY 1), " +
        "e AS (SELECT agg.src, agg.dst, " +
        "-ln(CAST(n_steps AS DOUBLE) / CAST(n_from AS DOUBLE)) AS w " +
        "FROM agg JOIN tot USING (src)), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "seed AS (SELECT min(node) AS node FROM nodes), " +
        "p(node, dist, hops) AS (SELECT node, CAST(0.0 AS DOUBLE), 0 FROM seed " +
        "UNION ALL SELECT e.dst, p.dist + e.w, p.hops + 1 " +
        "FROM p JOIN e ON e.src = p.node WHERE p.hops < 4) " +
        "SELECT node AS event_type, round(min(dist), 6) AS neg_log_prob " +
        "FROM p GROUP BY 1"),
    // Mirrors GraphOps.cooccurrenceTriangles: the SAME pair CTE chain
    // as term_cooccurrence builds the edge set, then the oracle closes
    // triangles by plain string order (x < y < z, three edge lookups)
    // — the degree-oriented Spark form enumerates the identical
    // triangle set, just grouped at each triangle's min-degree corner.
    q("cooccurrence_triangles", (s, d) => GraphOps.cooccurrenceTriangles(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, " +
        "tri AS (SELECT e1.term_a AS x, e1.term_b AS y, e2.term_b AS z " +
        "FROM p e1 JOIN p e2 ON e2.term_a = e1.term_b " +
        "JOIN p e3 ON e3.term_a = e1.term_a AND e3.term_b = e2.term_b) " +
        "SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM " +
        "(SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node"),
    // Mirrors GraphOps.cooccurrenceClustering: same triangle CTE plus
    // the degree frame; coef = 2·T/(deg·(deg−1)) in DOUBLE with the
    // pinned operand order, deg < 2 excluded, triangle-free nodes 0.
    q("cooccurrence_clustering", (s, d) => GraphOps.cooccurrenceClustering(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, " +
        "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM " +
        "(SELECT term_a AS v FROM p UNION ALL SELECT term_b AS v FROM p) GROUP BY v), " +
        "tri AS (SELECT e1.term_a AS x, e1.term_b AS y, e2.term_b AS z " +
        "FROM p e1 JOIN p e2 ON e2.term_a = e1.term_b " +
        "JOIN p e3 ON e3.term_a = e1.term_a AND e3.term_b = e2.term_b), " +
        "tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM " +
        "(SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node) " +
        "SELECT deg.v AS node, deg.deg, coalesce(tc.n_triangles, 0) AS n_triangles, " +
        "round(2.0 * CAST(coalesce(tc.n_triangles, 0) AS DOUBLE) / " +
        "(CAST(deg.deg AS DOUBLE) * (CAST(deg.deg AS DOUBLE) - 1.0)), 6) AS clustering_coef " +
        "FROM deg LEFT JOIN tc ON tc.node = deg.v WHERE deg.deg >= 2"),
    // Mirrors GraphOps.cooccurrenceBfsHops: the same co-occurrence
    // pair chain builds the edge set, then a bounded RECURSIVE CTE
    // enumerates (term, hops) reachability from the max-degree seed
    // (UNION semantics dedupe against all prior rows, so the working
    // set is ≤ V·maxHops — no path explosion) and min(hops) is the
    // BFS level. Hop labels are unique per node (first frontier that
    // reaches a node fixes it), so the iterative Spark loop and the
    // oracle's transitive closure agree exactly — an ITERATIVE graph
    // operator hash-gated, not just audited.
    q("cooccurrence_bfs_hops", (s, d) => GraphOps.cooccurrenceBfsHops(documents(s, d)),
      s"WITH RECURSIVE ${termPairCtes(nPair = false)}, " +
        "e AS (SELECT term_a AS src, term_b AS dst FROM p " +
        "UNION ALL SELECT term_b, term_a FROM p), " +
        "deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg " +
        "FROM e GROUP BY 1), " +
        "seed AS (SELECT node FROM deg ORDER BY deg DESC, node ASC LIMIT 1), " +
        "bfs(term, hops) AS (SELECT node, 0 FROM seed " +
        "UNION SELECT e.dst, b.hops + 1 FROM bfs b JOIN e ON e.src = b.term " +
        "WHERE b.hops < 4) " +
        "SELECT term, min(hops) AS hops FROM bfs GROUP BY 1"),
    // Mirrors GraphOps.cooccurrenceCloseness: the same thresholded
    // edge set, ALL-PAIRS reachability via a bounded recursive CTE
    // (the bfs_hops precedent with every node seeded), min-hops per
    // pair, then exact-lane closeness (one pinned division), 10dp
    // DECIMAL harmonic terms (order-exact sums), max-hop eccentricity.
    q("cooccurrence_closeness", (s, d) => GraphOps.cooccurrenceCloseness(documents(s, d)),
      s"WITH RECURSIVE ${termPairCtes(nPair = false)}, " +
        "e AS (SELECT term_a AS src, term_b AS dst FROM p " +
        "UNION ALL SELECT term_b, term_a FROM p), " +
        "nodes AS (SELECT DISTINCT src AS node FROM e), " +
        "bfs(s, term, hops) AS (SELECT node, node, 0 FROM nodes " +
        "UNION SELECT b.s, e.dst, b.hops + 1 FROM bfs b " +
        "JOIN e ON e.src = b.term WHERE b.hops < 8), " +
        "dist AS (SELECT s, term, CAST(min(hops) AS BIGINT) AS d " +
        "FROM bfs GROUP BY 1, 2), " +
        "agg AS (SELECT s, CAST(count(*) AS BIGINT) AS n_reachable, " +
        "CAST(sum(d) AS BIGINT) AS sum_hops, " +
        "CAST(max(d) AS BIGINT) AS eccentricity, " +
        "sum(CAST(round(1.0 / CAST(d AS DOUBLE), 10) AS DECIMAL(38,10))) " +
        "AS h FROM dist WHERE d > 0 GROUP BY 1) " +
        "SELECT n.node AS term, " +
        "coalesce(a.n_reachable, 0) AS n_reachable, a.eccentricity, " +
        "CASE WHEN a.sum_hops > 0 THEN round(CAST(a.n_reachable AS DOUBLE) " +
        "/ CAST(a.sum_hops AS DOUBLE), 6) END AS closeness, " +
        "round(CAST(coalesce(a.h, CAST(0 AS DECIMAL(38,10))) AS DOUBLE), 6) " +
        "AS harmonic FROM nodes n LEFT JOIN agg a ON a.s = n.node"),
    // Mirrors GraphOps.cooccurrenceKCore: the same pair chain builds
    // the edge set; the peeling fixpoint is UNROLLED as 6 chained
    // membership CTEs (each: induced degree >= k over the previous
    // survivors) plus the final degree frame — the engine runs the
    // SAME 6 peels and REFUSES if a 7th would still change the set,
    // so both sides compute the identical (unique) fixpoint.
    q("cooccurrence_kcore", (s, d) => GraphOps.cooccurrenceKCore(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, " +
        "e AS (SELECT term_a AS src, term_b AS dst FROM p " +
        "UNION ALL SELECT term_b, term_a FROM p), " +
        "m0 AS (SELECT DISTINCT src AS node FROM e), " +
        (1 to 6).map(i =>
          s"m$i AS (SELECT e.src AS node FROM e " +
            s"JOIN m${i - 1} a ON a.node = e.src " +
            s"JOIN m${i - 1} b ON b.node = e.dst " +
            "GROUP BY 1 HAVING count(*) >= 3)").mkString(", ") + " " +
        "SELECT e.src AS term, CAST(count(*) AS BIGINT) AS deg_in_core " +
        "FROM e JOIN m6 a ON a.node = e.src JOIN m6 b ON b.node = e.dst " +
        "GROUP BY 1 HAVING count(*) >= 3"),
    // Mirrors GraphOps.cooccurrenceRichClub: the cooccurrence_kcore
    // edge CTE chain, exact degrees/N_k/E_k, φ one pinned division.
    q("cooccurrence_rich_club", (s, d) => GraphOps.cooccurrenceRichClub(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (" +
        "SELECT term_a AS node FROM p " +
        "UNION ALL SELECT term_b FROM p) GROUP BY 1), " +
        "dmin AS (SELECT least(a.deg, b.deg) AS dmin FROM p " +
        "JOIN deg a ON a.node = p.term_a " +
        "JOIN deg b ON b.node = p.term_b), " +
        "ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS k), " +
        "es AS (SELECT k, CAST(sum(CASE WHEN dmin > k THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_edges FROM dmin CROSS JOIN ks GROUP BY 1), " +
        "ns AS (SELECT k, CAST(sum(CASE WHEN deg > k THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_nodes FROM deg CROSS JOIN ks GROUP BY 1) " +
        "SELECT k, n_nodes, n_edges, CASE WHEN n_nodes >= 2 THEN " +
        "round(CAST(CAST(n_edges AS HUGEINT) * 2 AS DOUBLE) / " +
        "CAST(CAST(n_nodes AS HUGEINT) * (n_nodes - 1) AS DOUBLE), 6) " +
        "END AS phi FROM es JOIN ns USING (k)"),
    // Mirrors GraphOps.cooccurrenceKTruss: the cooccurrence_kcore edge
    // CTE, then 6 unrolled synchronous support-peel rounds (triangles
    // via the ordered a<b<c closure join) and the converged survivors
    // with their in-truss support.
    q("cooccurrence_ktruss", (s, d) => GraphOps.cooccurrenceKTruss(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, " +
        // MATERIALIZED: each round reads the previous edge set 4× and
        // its triangles 3× — DuckDB's default CTE inlining would
        // expand the 6-round chain into thousands of base-table scans
        // (observed as a "too many open files" parquet storm)
        "e0 AS MATERIALIZED (SELECT term_a AS src, term_b AS dst FROM p), " +
        (1 to 6).map { i =>
          val prev = s"e${i - 1}"
          s"t$i AS MATERIALIZED (SELECT x.src AS a, x.dst AS b, y.dst AS c " +
            s"FROM $prev x JOIN $prev y ON y.src = x.dst " +
            s"JOIN $prev z ON z.src = x.src AND z.dst = y.dst), " +
            s"s$i AS MATERIALIZED (SELECT src, dst, " +
            s"CAST(count(*) AS BIGINT) AS sup " +
            s"FROM (SELECT a AS src, b AS dst FROM t$i " +
            s"UNION ALL SELECT b, c FROM t$i " +
            s"UNION ALL SELECT a, c FROM t$i) GROUP BY 1, 2), " +
            s"e$i AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e " +
            s"JOIN s$i s " +
            s"ON s.src = e.src AND s.dst = e.dst WHERE s.sup >= 2)"
        }.mkString(", ") + ", " +
        "t7 AS MATERIALIZED (SELECT x.src AS a, x.dst AS b, y.dst AS c " +
        "FROM e6 x JOIN e6 y ON y.src = x.dst " +
        "JOIN e6 z ON z.src = x.src AND z.dst = y.dst), " +
        "s7 AS MATERIALIZED (SELECT src, dst, " +
        "CAST(count(*) AS BIGINT) AS sup " +
        "FROM (SELECT a AS src, b AS dst FROM t7 " +
        "UNION ALL SELECT b, c FROM t7 " +
        "UNION ALL SELECT a, c FROM t7) GROUP BY 1, 2) " +
        "SELECT e.src, e.dst, s.sup AS support FROM e6 e JOIN s7 s " +
        "ON s.src = e.src AND s.dst = e.dst WHERE s.sup >= 2 " +
        "ORDER BY e.src ASC, e.dst ASC"),
    // Mirrors GraphOps.textRankTerms: the integer-lane PageRank —
    // pico-unit ranks, per-edge round(w·pr/outw) pinned divisions so
    // inflow sums are exact BIGINT adds, teleport/damping re-pinned
    // per round, 5 unrolled rounds, (rank DESC, term ASC) top-20.
    q("textrank_keyterms", (s, d) => GraphOps.textRankTerms(documents(s, d)),
      "WITH t0 AS (SELECT doc_id, regexp_split_to_array(" +
        "lower(trim(text)), '\\s+') AS t FROM documents), " +
        "p0 AS (SELECT doc_id, unnest(t) AS w, " +
        "CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS pos FROM t0), " +
        "pairs AS (SELECT least(a.w, b.w) AS wa, " +
        "greatest(a.w, b.w) AS wb, CAST(count(*) AS BIGINT) AS n_pair " +
        "FROM p0 a JOIN p0 b ON a.doc_id = b.doc_id " +
        "AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2) " +
        "GROUP BY 1, 2 HAVING count(*) >= 5 AND wa <> wb), " +
        "edges AS (SELECT wa AS src, wb AS dst, n_pair AS w FROM pairs " +
        "UNION ALL SELECT wb, wa, n_pair FROM pairs), " +
        "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw " +
        "FROM edges GROUP BY 1), " +
        "nodes AS (SELECT DISTINCT src AS node FROM edges), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes), " +
        "ew AS (SELECT e.src, e.dst, e.w, o.outw FROM edges e " +
        "JOIN outw o USING (src)), " +
        "r0 AS (SELECT node, CAST(round(1000000000000.0 / " +
        "(SELECT nd FROM nn), 0) AS BIGINT) AS prp FROM nodes), " +
        (1 to 5).map { i =>
          s"i$i AS (SELECT e.dst AS node, CAST(sum(CAST(round(" +
            "CAST(e.w AS DOUBLE) * CAST(r.prp AS DOUBLE) / " +
            "CAST(e.outw AS DOUBLE), 0) AS BIGINT)) AS BIGINT) " +
            s"AS inflow FROM ew e JOIN r${i - 1} r ON r.node = e.src " +
            s"GROUP BY 1), " +
            s"r$i AS (SELECT n0.node, " +
            "CAST(round(0.15 * 1000000000000.0 / (SELECT nd FROM nn), " +
            "0) AS BIGINT) + CAST(round(0.85 * " +
            s"CAST(coalesce(i$i.inflow, 0) AS DOUBLE), 0) AS BIGINT) " +
            s"AS prp FROM nodes n0 LEFT JOIN i$i USING (node))"
        }.mkString(", ") + " " +
        "SELECT node AS term, round(CAST(prp AS DOUBLE) / " +
        "1000000000000.0, 6) AS textrank FROM r5 " +
        "ORDER BY textrank DESC, term ASC LIMIT 20"),
    // Mirrors GraphOps.cooccurrenceCommunities: the term_cooccurrence
    // pair chain builds the edge set; three unrolled synchronous LPA
    // rounds, each one adjacency join + plurality argmax with the
    // (count DESC, label ASC) tie-break.
    q("cooccurrence_communities", (s, d) => GraphOps.cooccurrenceCommunities(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, $labelPropCtes " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_members " +
        "FROM l3 GROUP BY 1"),
    // Mirrors GraphOps.cooccurrenceLinkPrediction: the same pair CTE
    // chain plus the 6dp-pinned lift, the mutual top-5-by-lift
    // sparsifier (row_number with the identical 3-key order), wedges
    // at each center, and both weighted scores as BIGINT micro-units
    // (one round of an identical double per neighbor) so the sums are
    // order-independent; non-adjacency via NOT EXISTS.
    q("cooccurrence_link_pred", (s, d) => GraphOps.cooccurrenceLinkPrediction(documents(s, d)),
      s"WITH ${termPairCtes(nPair = true)}, " +
        "pl AS (SELECT p.term_a, p.term_b, p.n_pair, " +
        "round(CAST(p.n_pair AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM nd) / " +
        "(CAST(da.df AS DOUBLE) * CAST(db.df AS DOUBLE)), 6) AS lift " +
        "FROM p JOIN v da ON da.term = p.term_a JOIN v db ON db.term = p.term_b), " +
        "d2 AS (SELECT term_a AS src, term_b AS dst, lift, n_pair FROM pl " +
        "UNION ALL SELECT term_b, term_a, lift, n_pair FROM pl), " +
        "tops AS (SELECT src, dst FROM (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY lift DESC, n_pair DESC, dst ASC) AS rk " +
        "FROM d2) WHERE rk <= 5), " +
        "mut AS (SELECT x.src, x.dst FROM tops x " +
        "JOIN tops y ON y.src = x.dst AND y.dst = x.src WHERE x.src < x.dst), " +
        "e AS (SELECT src, dst FROM mut UNION ALL SELECT dst, src FROM mut), " +
        "deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg " +
        "FROM e GROUP BY 1), " +
        "ec AS (SELECT e.src, e.dst, deg.deg FROM e " +
        "JOIN deg ON deg.node = e.src WHERE deg.deg <= 200), " +
        "cand AS (SELECT a.dst AS u, b.dst AS v, " +
        "CAST(count(*) AS BIGINT) AS common_neighbors, " +
        "CAST(sum(CAST(round(1000000.0 / ln(CAST(a.deg AS DOUBLE)), 0) " +
        "AS BIGINT)) AS BIGINT) AS aa_micro, " +
        "CAST(sum(CAST(round(1000000.0 / CAST(a.deg AS DOUBLE), 0) " +
        "AS BIGINT)) AS BIGINT) AS ra_micro " +
        "FROM ec a JOIN ec b ON a.src = b.src AND a.dst < b.dst " +
        "GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT u AS node_u, v AS node_v, common_neighbors, " +
        "round(CAST(aa_micro AS DOUBLE) / 1000000.0, 6) AS adamic_adar, " +
        "round(CAST(ra_micro AS DOUBLE) / 1000000.0, 6) AS resource_alloc " +
        "FROM cand c WHERE NOT EXISTS (SELECT 1 FROM mut " +
        "WHERE mut.src = c.u AND mut.dst = c.v)"),
    // Mirrors GraphOps.cooccurrenceAssortativity: the term_cooccurrence
    // pair CTE builds the edge set; endpoint-degree Pearson collapses
    // to (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²), all BIGINT, one division.
    q("cooccurrence_assortativity", (s, d) => GraphOps.cooccurrenceAssortativity(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, " +
        "e AS (SELECT term_a AS u, term_b AS w FROM p " +
        "UNION ALL SELECT term_b, term_a FROM p), " +
        "deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg " +
        "FROM e GROUP BY 1), " +
        "dp AS (SELECT du.deg AS x, dv.deg AS y FROM e " +
        "JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.w), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * y) AS BIGINT) AS sxy, " +
        "CAST(sum(x * x) AS BIGINT) AS sxx FROM dp), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg) " +
        "SELECT CAST(n // 2 AS BIGINT) AS n_edges, n_nodes, " +
        "CASE WHEN n * sxx - sx * sx > 0 THEN " +
        "round(CAST(n * sxy - sx * sx AS DOUBLE) / " +
        "CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS assortativity " +
        "FROM s, nn"),
    // Mirrors GraphOps.cooccurrenceModularity: the communities LPA
    // chain (identical l1-l3 rounds), then Q·4m² = Σ_c(4m·e_c − d_c²)
    // in HUGEINT (Spark: DECIMAL(38,0)), one double division.
    q("cooccurrence_modularity", (s, d) => GraphOps.cooccurrenceModularity(documents(s, d)),
      s"WITH ${termPairCtes(nPair = false)}, $labelPropCtes, " +
        "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p), " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg " +
        "FROM adj GROUP BY 1), " +
        "dc AS (SELECT l3.label, CAST(sum(deg) AS BIGINT) AS d_c " +
        "FROM l3 JOIN deg USING (node) GROUP BY 1), " +
        "ec AS (SELECT la.label, CAST(count(*) AS BIGINT) AS e_c " +
        "FROM p JOIN l3 la ON la.node = p.term_a " +
        "JOIN l3 lb ON lb.node = p.term_b " +
        "WHERE la.label = lb.label GROUP BY 1), " +
        "q AS (SELECT CAST(count(*) AS BIGINT) AS n_communities, " +
        "max(m) AS n_edges, " +
        "CAST(sum(CAST(4 AS HUGEINT) * m * coalesce(e_c, 0) - " +
        "CAST(d_c AS HUGEINT) * d_c) AS DOUBLE) AS qnum " +
        "FROM dc LEFT JOIN ec USING (label) CROSS JOIN mm) " +
        "SELECT n_communities, n_edges, " +
        "round(qnum / (4.0 * CAST(n_edges AS DOUBLE) * " +
        "CAST(n_edges AS DOUBLE)), 6) AS modularity FROM q"),
  )

  /** JoinOps, AggOps, SkewOps and TpchOps: joins, set ops, aggregates. */
  private def tpchQueries: Seq[Query] = Seq(
    // Mirrors JoinOps.sessionOverlapPairs: the session_stats CTE, then
    // the exact closed-bound overlap join (the oracle needs no day
    // banding — that is the Spark side's co-partitioning device, and
    // its distinct() makes the two shapes row-identical) rolled up per
    // user pair in exact BIGINT microseconds.
    q("session_overlap_pairs", (s, d) => JoinOps.sessionOverlapPairs(events(s, d)),
      "WITH o AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "f AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 " +
        "THEN 1 ELSE 0 END AS ns FROM o), " +
        "s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f), " +
        "sess AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en " +
        "FROM s GROUP BY 1, 2), " +
        "p AS (SELECT a.user_id AS ua, b.user_id AS ub, " +
        "epoch_us(least(a.en, b.en)) - epoch_us(greatest(a.st, b.st)) AS ov " +
        "FROM sess a JOIN sess b ON a.user_id < b.user_id " +
        "AND a.st <= b.en AND b.st <= a.en) " +
        "SELECT ua AS user_a, ub AS user_b, " +
        "CAST(count(*) AS BIGINT) AS n_overlaps, " +
        "CAST(sum(ov) AS BIGINT) AS overlap_usec " +
        "FROM p GROUP BY 1, 2"),
    // Mirrors JoinOps.gkGammaPriorityLatency: concordant/discordant
    // mass off per-group prefixes on the dense pooled grid (the
    // jonckheere machinery), γ one pinned division.
    q("gk_gamma_priority_latency", (s, d) =>
      JoinOps.gkGammaPriorityLatency(lineitem(s, d), orders(s, d)),
      "WITH lat AS (SELECT o_orderpriority AS g, " +
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) AS BIGINT) AS v " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c " +
        "FROM lat GROUP BY 1, 2), " +
        "dense AS (SELECT gs.g, vals.v, coalesce(cells.c, 0) AS c " +
        "FROM (SELECT DISTINCT v FROM cells) vals " +
        "CROSS JOIN (SELECT DISTINCT g FROM cells) gs " +
        "LEFT JOIN cells ON cells.g = gs.g AND cells.v = vals.v), " +
        "cum AS (SELECT g, v, c, CAST(coalesce(sum(c) OVER (" +
        "PARTITION BY g ORDER BY v ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS below, CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS tot " +
        "FROM dense), " +
        "cum2 AS (SELECT g, v, c, below, tot - below - c AS above FROM cum), " +
        "cd AS (SELECT CAST(coalesce(sum(b.c * a.below), 0) AS BIGINT) " +
        "AS conc, CAST(coalesce(sum(b.c * a.above), 0) AS BIGINT) AS disc " +
        "FROM cum2 a JOIN cum2 b ON a.v = b.v AND a.g < b.g), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lat) " +
        "SELECT n_total, conc, disc, " +
        "CASE WHEN conc + disc > 0 THEN " +
        "round(CAST(conc - disc AS DOUBLE) / CAST(conc + disc AS DOUBLE), 6) " +
        "END AS gk_gamma FROM cd CROSS JOIN nn"),
    // Mirrors JoinOps.jonckheereLatencyTrend: exact BIGINT doubled
    // statistic over the bounded (priority, days) grid theta join,
    // HUGEINT group/tie moments, the tie-corrected Hollander–Wolfe
    // variance as three pinned divisions; n < 3 short-circuits the
    // dead divisions on both rails.
    q("jonckheere_latency_trend", (s, d) =>
      JoinOps.jonckheereLatencyTrend(lineitem(s, d), orders(s, d)),
      "WITH lat AS (SELECT o_orderpriority AS g, " +
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) AS BIGINT) AS v " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
        "cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c " +
        "FROM lat GROUP BY 1, 2), " +
        "dense AS (SELECT gs.g, vals.v, coalesce(cells.c, 0) AS c " +
        "FROM (SELECT DISTINCT v FROM cells) vals " +
        "CROSS JOIN (SELECT DISTINCT g FROM cells) gs " +
        "LEFT JOIN cells ON cells.g = gs.g AND cells.v = vals.v), " +
        "cum AS (SELECT g, v, c, CAST(coalesce(sum(c) OVER (" +
        "PARTITION BY g ORDER BY v ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
        "AS cum FROM dense), " +
        "j AS (SELECT CAST(coalesce(sum(b.c * (2 * a.cum + a.c)), 0) " +
        "AS BIGINT) AS j2 " +
        "FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g), " +
        "byg AS (SELECT g, CAST(sum(c) AS BIGINT) AS ni FROM cells GROUP BY 1), " +
        "gm AS (SELECT CAST(count(*) AS BIGINT) AS k, " +
        "CAST(sum(ni) AS BIGINT) AS n, " +
        "CAST(sum(CAST(ni AS HUGEINT) * ni) AS HUGEINT) AS sn2, " +
        "CAST(sum(CAST(ni AS HUGEINT) * (ni - 1) * (2 * ni + 5)) AS HUGEINT) AS sn_a, " +
        "CAST(sum(CAST(ni AS HUGEINT) * (ni - 1) * (ni - 2)) AS HUGEINT) AS sn_b, " +
        "CAST(sum(CAST(ni AS HUGEINT) * (ni - 1)) AS HUGEINT) AS sn_c FROM byg), " +
        "byv AS (SELECT v, CAST(sum(c) AS BIGINT) AS tv FROM cells GROUP BY 1), " +
        "tm AS (SELECT " +
        "CAST(sum(CAST(tv AS HUGEINT) * (tv - 1) * (2 * tv + 5)) AS HUGEINT) AS st_a, " +
        "CAST(sum(CAST(tv AS HUGEINT) * (tv - 1) * (tv - 2)) AS HUGEINT) AS st_b, " +
        "CAST(sum(CAST(tv AS HUGEINT) * (tv - 1)) AS HUGEINT) AS st_c FROM byv), " +
        "vv AS (SELECT j2, n, k, " +
        "CAST(CAST(n AS HUGEINT) * n - sn2 AS DOUBLE) / 2.0 AS mean2, " +
        "CASE WHEN n >= 3 THEN " +
        "CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - sn_a - st_a " +
        "AS DOUBLE) / 72.0 + " +
        "CAST(sn_b * st_b AS DOUBLE) / " +
        "(36.0 * CAST(CAST(n AS HUGEINT) * (n - 1) * (n - 2) AS DOUBLE)) + " +
        "CAST(sn_c * st_c AS DOUBLE) / " +
        "(8.0 * CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)) " +
        "ELSE 0.0 END AS var " +
        "FROM j CROSS JOIN gm CROSS JOIN tm) " +
        "SELECT n AS n_total, k AS n_groups, j2 AS jt_2j, " +
        "round(mean2, 1) AS jt_mean_2j, " +
        "CASE WHEN k >= 2 AND n >= 3 AND var > 0.0 THEN " +
        "round((CAST(j2 AS DOUBLE) - mean2) / (2.0 * sqrt(var)), 6) " +
        "END AS z_score FROM vv"),
    q("daily_orders_vs_events", (s, d) =>
      JoinOps.dailyOrdersVsEvents(orders(s, d), events(s, d)),
      "WITH o AS (SELECT o_orderdate AS day, count(*) AS n_orders " +
        "FROM orders GROUP BY 1), " +
        "e AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_events " +
        "FROM events GROUP BY 1) " +
        "SELECT COALESCE(o.day, e.day) AS day, " +
        "COALESCE(n_orders, 0) AS n_orders, " +
        "COALESCE(n_events, 0) AS n_events " +
        "FROM o FULL OUTER JOIN e ON o.day = e.day"),
    // RANGE frame over epoch-day numbers; DECIMAL sum keeps the frame
    // total exact so intra-frame order cannot perturb the hash.
    q("trailing_revenue_30d", (s, d) => AggOps.trailingRevenue(orders(s, d)),
      "WITH o AS (SELECT o_custkey, o_orderkey, " +
        "CAST(o_orderdate AS DATE) AS day, " +
        "CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders) " +
        "SELECT o_custkey, o_orderkey, day, " +
        "CAST(round(sum(price) OVER w, 4) AS DOUBLE) AS trailing_revenue, " +
        "CAST(count(*) OVER w AS BIGINT) AS trailing_orders " +
        "FROM o WINDOW w AS (PARTITION BY o_custkey " +
        "ORDER BY datediff('day', DATE '1970-01-01', day) " +
        "RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)"),
    q("fuzzy_name_pairs", (s, d) => JoinOps.fuzzyNamePairs(part(s, d)),
      "WITH n AS (SELECT p_name AS name, count(*) AS n_parts " +
        "FROM part GROUP BY 1) " +
        "SELECT a.name AS name_a, b.name AS name_b, " +
        "CAST(levenshtein(a.name, b.name) AS INT) AS dist, " +
        "a.n_parts AS n_parts_a, b.n_parts AS n_parts_b " +
        "FROM n a JOIN n b ON a.name < b.name " +
        "AND abs(length(a.name) - length(b.name)) <= 3 " +
        "WHERE levenshtein(a.name, b.name) <= 3"),
    // Mirrors JoinOps.fuzzyNamePairsBlocked: two equi-join blocking
    // passes (shared first token, shared last token), UNION-dedup'd,
    // then the same levenshtein gate.
    q("fuzzy_name_pairs_blocked", (s, d) =>
      JoinOps.fuzzyNamePairsBlocked(part(s, d)),
      "WITH n AS (SELECT p_name AS name, count(*) AS n_parts " +
        "FROM part GROUP BY 1), " +
        "t AS (SELECT name, n_parts, " +
        "split_part(name, ' ', 1) AS tok_first, " +
        "list_extract(string_split(name, ' '), " +
        "len(string_split(name, ' '))) AS tok_last FROM n), " +
        "cand AS (" +
        "SELECT a.name AS name_a, b.name AS name_b, " +
        "a.n_parts AS n_parts_a, b.n_parts AS n_parts_b " +
        "FROM t a JOIN t b ON a.tok_first = b.tok_first AND a.name < b.name " +
        "UNION " +
        "SELECT a.name, b.name, a.n_parts, b.n_parts " +
        "FROM t a JOIN t b ON a.tok_last = b.tok_last AND a.name < b.name) " +
        "SELECT name_a, name_b, " +
        "CAST(levenshtein(name_a, name_b) AS INT) AS dist, " +
        "n_parts_a, n_parts_b FROM cand " +
        "WHERE levenshtein(name_a, name_b) <= 3"),
    // Mirrors JoinOps.fuzzyNamePairsJw: same blocked candidates, scored
    // by DuckDB's own jaro_winkler_similarity — the native expression's
    // semantics were pinned against it (empty→0, window ⌊max/2⌋-1,
    // boost only past 0.7, prefix cap 4, raw-byte comparison), and both
    // sides round to 6dp BEFORE the threshold.
    q("fuzzy_name_pairs_jw", (s, d) =>
      JoinOps.fuzzyNamePairsJw(part(s, d)),
      "WITH n AS (SELECT p_name AS name, count(*) AS n_parts " +
        "FROM part GROUP BY 1), " +
        "t AS (SELECT name, n_parts, " +
        "split_part(name, ' ', 1) AS tok_first, " +
        "list_extract(string_split(name, ' '), " +
        "len(string_split(name, ' '))) AS tok_last FROM n), " +
        "cand AS (" +
        "SELECT a.name AS name_a, b.name AS name_b, " +
        "a.n_parts AS n_parts_a, b.n_parts AS n_parts_b " +
        "FROM t a JOIN t b ON a.tok_first = b.tok_first AND a.name < b.name " +
        "UNION " +
        "SELECT a.name, b.name, a.n_parts, b.n_parts " +
        "FROM t a JOIN t b ON a.tok_last = b.tok_last AND a.name < b.name) " +
        "SELECT name_a, name_b, " +
        "round(jaro_winkler_similarity(name_a, name_b), 6) AS jw, " +
        "n_parts_a, n_parts_b FROM cand " +
        "WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.93"),
    // Mirrors JoinOps.sortedNeighborhoodPairs: the two-level prefix-sum
    // rank equals DuckDB's flat row_number over the same (distinct, so
    // tie-free) name order; the neighborhood predicate and the
    // 6dp-rounded JW threshold are identical.
    q("sorted_neighborhood_pairs", (s, d) =>
      JoinOps.sortedNeighborhoodPairs(part(s, d)),
      "WITH n AS (SELECT p_name AS name, count(*) AS n_parts " +
        "FROM part GROUP BY 1), " +
        "r AS (SELECT name, n_parts, " +
        "row_number() OVER (ORDER BY name) AS rank FROM n), " +
        "p AS (SELECT a.name AS name_a, b.name AS name_b, " +
        "CAST(b.rank - a.rank AS INT) AS gap, " +
        "a.n_parts AS n_parts_a, b.n_parts AS n_parts_b " +
        "FROM r a JOIN r b ON b.rank > a.rank AND b.rank <= a.rank + 10) " +
        "SELECT name_a, name_b, gap, " +
        "round(jaro_winkler_similarity(name_a, name_b), 6) AS jw, " +
        "n_parts_a, n_parts_b FROM p " +
        "WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.88"),
    // Oracle is the PLAIN join + group-by: the hash gate proves the
    // salted path is result-identical to the unsalted one.
    q("salted_nation_activity", (s, d) =>
      SkewOps.saltedNationActivity(events(s, d), customer(s, d)),
      "SELECT c_nationkey, count(*) AS n_events, " +
        "CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) " +
        "AS value_sum " +
        "FROM events JOIN customer ON user_id = c_custkey GROUP BY 1"),
    // Mirrors JoinOps.entityClusters: the same token-blocked JW pairs
    // as fuzzy_name_pairs_jw feed a recursive-CTE transitive closure
    // whose per-node min reachable name IS the star CC's label
    // (both algebras converge to the component's lexicographic-min
    // member), so the hash gate proves the O(log n) distributed CC
    // equals the textbook fixpoint.
    q("entity_clusters", (s, d) => JoinOps.entityClusters(part(s, d)),
      s"WITH RECURSIVE $entityClusterCtes, " +
        "sz AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS n_members " +
        "FROM lab GROUP BY 1) " +
        "SELECT l.cluster_rep, l.name, s.n_members " +
        "FROM lab l JOIN sz s USING (cluster_rep)"),
    // Mirrors JoinOps.goldenRecords: the entity_clusters closure, each
    // cluster's part rows re-attached by name, categoricals resolved
    // by mode (count desc, value asc — a total order) and numerics by
    // order-independent max/min.
    q("golden_records", (s, d) => JoinOps.goldenRecords(part(s, d)),
      s"WITH RECURSIVE $entityClusterCtes, " +
        "rws AS (SELECT l.cluster_rep, pt.p_brand, pt.p_type, pt.p_size, " +
        "pt.p_retailprice FROM lab l JOIN part pt ON pt.p_name = l.name), " +
        "agg AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS n_rows, " +
        "max(p_retailprice) AS max_price, min(p_size) AS min_size " +
        "FROM rws GROUP BY 1), " +
        "bc AS (SELECT cluster_rep, p_brand AS v, CAST(count(*) AS BIGINT) AS c " +
        "FROM rws GROUP BY 1, 2), " +
        "mb AS (SELECT cluster_rep, v AS p_brand FROM (SELECT cluster_rep, v, " +
        "row_number() OVER (PARTITION BY cluster_rep ORDER BY c DESC, v ASC) AS rk " +
        "FROM bc) WHERE rk = 1), " +
        "tc AS (SELECT cluster_rep, p_type AS v, CAST(count(*) AS BIGINT) AS c " +
        "FROM rws GROUP BY 1, 2), " +
        "mt AS (SELECT cluster_rep, v AS p_type FROM (SELECT cluster_rep, v, " +
        "row_number() OVER (PARTITION BY cluster_rep ORDER BY c DESC, v ASC) AS rk " +
        "FROM tc) WHERE rk = 1) " +
        "SELECT agg.cluster_rep, agg.n_rows, agg.max_price, agg.min_size, " +
        "mb.p_brand, mt.p_type FROM agg " +
        "JOIN mb USING (cluster_rep) JOIN mt USING (cluster_rep)"),
    // Mirrors JoinOps.blockingQualityAudit: the token-blocked
    // candidate CTE (first/last token passes, UNION-dedup'd), the
    // PROVABLY-complete length-banded Levenshtein truth set, exact
    // counts, two pinned ratio divisions.
    q("blocking_quality_audit", (s, d) => JoinOps.blockingQualityAudit(part(s, d)),
      "WITH n AS (SELECT p_name AS name, count(*) AS n_parts " +
        "FROM part GROUP BY 1), " +
        "t AS (SELECT name, split_part(name, ' ', 1) AS tok_first, " +
        "list_extract(string_split(name, ' '), " +
        "len(string_split(name, ' '))) AS tok_last FROM n), " +
        "cand AS (SELECT a.name AS name_a, b.name AS name_b " +
        "FROM t a JOIN t b ON a.tok_first = b.tok_first AND a.name < b.name " +
        "UNION " +
        "SELECT a.name, b.name FROM t a JOIN t b " +
        "ON a.tok_last = b.tok_last AND a.name < b.name), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_names FROM n), " +
        "cc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand), " +
        "tr AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs " +
        "FROM n a JOIN n b ON a.name < b.name " +
        "AND abs(length(a.name) - length(b.name)) <= 3 " +
        "WHERE levenshtein(a.name, b.name) <= 3), " +
        "bl AS (SELECT CAST(count(*) AS BIGINT) AS n_blocked_true " +
        "FROM cand WHERE levenshtein(name_a, name_b) <= 3) " +
        "SELECT nn.n_names, " +
        "CAST(nn.n_names * (nn.n_names - 1) // 2 AS BIGINT) AS n_all_pairs, " +
        "cc.n_candidates, tr.n_true_pairs, bl.n_blocked_true, " +
        "round(1.0 - CAST(cc.n_candidates AS DOUBLE) / " +
        "CAST(nn.n_names * (nn.n_names - 1) // 2 AS DOUBLE), 6) " +
        "AS reduction_ratio, " +
        "CASE WHEN tr.n_true_pairs > 0 THEN " +
        "round(CAST(bl.n_blocked_true AS DOUBLE) / " +
        "CAST(tr.n_true_pairs AS DOUBLE), 6) END AS pairs_completeness " +
        "FROM nn, cc, tr, bl"),
    q("revenue_by_mktsegment", (s, d) =>
      JoinOps.revenueByMktSegment(lineitem(s, d), orders(s, d), customer(s, d)),
      "SELECT c_mktsegment, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"),
    q("revenue_by_nation", (s, d) => JoinOps.revenueByNation(s, d),
      "SELECT r_name, n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name"),
    q("customers_with_orders", (s, d) =>
      JoinOps.customersWithOrders(customer(s, d), orders(s, d)),
      "SELECT c_custkey, c_name, c_mktsegment FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    // Every customer has at least one order at every SF, so the
    // unfiltered anti-join is 0 rows — vacuous. Register the realistic
    // non-empty form: customers with no RECENT orders (none since
    // 2000-01-01 — 135 rows at sf0.01), same anti-join operator with
    // the build-side filter pushed below the join.
    q("customers_without_orders", (s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      JoinOps.customersWithoutOrders(customer(s, d),
        orders(s, d).filter(
          col("o_orderdate") >= lit("2000-01-01").cast("timestamp")))
    },
      "SELECT c_custkey, c_name, c_mktsegment FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01')"),
    q("priority_line_status", (s, d) =>
      JoinOps.priorityLineStatus(lineitem(s, d), orders(s, d)),
      "SELECT o_orderpriority, l_linestatus, count(*) AS n_lines, " +
        "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sum_qty FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2"),
    q("union_distinct_users", (s, d) => JoinOps.unionDistinctUsers(events(s, d)),
      "SELECT user_id FROM events WHERE event_type = 'click' " +
        "UNION SELECT user_id FROM events WHERE event_type = 'view'"),
    q("supplier_part_revenue", (s, d) =>
      JoinOps.supplierPartRevenue(lineitem(s, d), supplier(s, d), part(s, d)),
      "SELECT s_name, p_brand, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN part ON l_partkey = p_partkey GROUP BY 1, 2"),
    q("top_orders_per_customer", (s, d) =>
      JoinOps.topOrdersPerCustomer(orders(s, d), 3),
      "SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
        "FROM orders) WHERE rn <= 3"),
    q("tpch_q3", (s, d) =>
      JoinOps.tpchQ3(lineitem(s, d), orders(s, d), customer(s, d)),
      "SELECT l_orderkey, o_orderdate, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"),
    q("tpch_q5", (s, d) => JoinOps.tpchQ5(s, d),
      "SELECT n_name, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),
    // Mirrors JoinOps.slowOrdersByPriority: EXISTS == the semi join.
    q("slow_orders_by_priority", (s, d) =>
      JoinOps.slowOrdersByPriority(orders(s, d), lineitem(s, d)),
      "SELECT o_orderpriority, count(*) AS n_orders FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) " +
        "GROUP BY o_orderpriority"),
    // Mirrors JoinOps.tpchQ14: both sums stay exact DECIMAL until the
    // final casts, so the percentage divides identical doubles.
    q("tpch_q14", (s, d) => JoinOps.tpchQ14(lineitem(s, d), part(s, d)),
      "WITH j AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) AS disc, p_type " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-09-01' " +
        "AND l_shipdate < TIMESTAMP '1996-10-01') " +
        "SELECT CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN disc END), 2) AS DOUBLE) AS promo_revenue, " +
        "CAST(round(sum(disc), 2) AS DOUBLE) AS total_revenue, " +
        "CAST(sum(CASE WHEN p_type = 'PROMO' THEN disc END) * 100 AS DOUBLE) " +
        "/ CAST(sum(disc) AS DOUBLE) AS promo_pct FROM j"),
    // Mirrors JoinOps.tpchQ18: per-order quantity rollup first, then
    // detail joins, deterministic (o_totalprice DESC, o_orderkey) top-k.
    q("tpch_q18", (s, d) =>
      JoinOps.tpchQ18(lineitem(s, d), orders(s, d), customer(s, d)),
      "WITH big AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec " +
        "FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150) " +
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
        "CAST(round(qty_dec, 2) AS DOUBLE) AS total_qty " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"),
    // Mirrors JoinOps.tpchQ19: same three brand/size/quantity bands.
    q("tpch_q19", (s, d) => JoinOps.tpchQ19(lineitem(s, d), part(s, d)),
      "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"),
    q("tpch_q10", (s, d) => JoinOps.tpchQ10(
      lineitem(s, d), orders(s, d), customer(s, d), Tables.nation(s, d)),
      "SELECT c_custkey, c_name, n_name, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' " +
        "AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00' " +
        "GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey ASC LIMIT 20"),
    // Mirrors JoinOps.tpchQ13's semantics via the spec's own shape —
    // the LEFT JOIN null-count and the eager-aggregation rewrite agree
    // by construction (count(*) per matched custkey == count of
    // non-null o_orderkey).
    q("tpch_q13", (s, d) => JoinOps.tpchQ13(customer(s, d), orders(s, d)),
      "WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders " +
        "WHERE o_orderpriority <> '1-URGENT' GROUP BY 1) " +
        "SELECT c_count, count(*) AS custdist FROM (" +
        "SELECT COALESCE(cnt, 0) AS c_count FROM customer " +
        "LEFT JOIN oc ON c_custkey = o_custkey) GROUP BY c_count"),
    // The remaining TPC-H family (TpchOps) — schema adaptations in its
    // class doc; with these, all 22 query shapes are covered.
    // ---- TpchOps: the remaining TPC-H family. Every scalar
    // threshold cross-multiplies in integer hundredths (the avgSql
    // pattern) so neither engine divides before comparing; raw-double
    // outputs (q2's unit cost, the /100.0 re-scales) are single IEEE
    // ops on identical operands and ship unrounded.
    q("tpch_q2", (s, d) => TpchOps.tpchQ2(s, d),
      "WITH euro_sup AS (SELECT s_suppkey, s_name, s_acctbal, n_name " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
        "offers AS (SELECT l_partkey, l_suppkey, " +
        "min(l_extendedprice / l_quantity) AS cost " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD' " +
        "AND l_suppkey IN (SELECT s_suppkey FROM euro_sup) GROUP BY 1, 2), " +
        "mins AS (SELECT l_partkey AS m_partkey, min(cost) AS min_cost " +
        "FROM offers GROUP BY 1) " +
        "SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, " +
        "min_cost AS unit_cost " +
        "FROM offers JOIN mins ON l_partkey = m_partkey AND cost = min_cost " +
        "JOIN euro_sup ON l_suppkey = s_suppkey " +
        "ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC " +
        "LIMIT 100"),
    q("tpch_q4", (s, d) => TpchOps.tpchQ4(orders(s, d), lineitem(s, d)),
      "SELECT o_orderpriority, count(*) AS n_orders FROM orders o " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY) " +
        "GROUP BY 1"),
    q("tpch_q7", (s, d) => TpchOps.tpchQ7(s, d),
      "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS INTEGER) AS l_year, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') " +
        "OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1') " +
        "GROUP BY 1, 2, 3"),
    q("tpch_q8", (s, d) => TpchOps.tpchQ8(s, d),
      "WITH j AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
        "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) AS disc, " +
        "sn.n_name AS supp_nation " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "WHERE p_type = 'PROMO' " +
        "AND o_orderdate >= TIMESTAMP '1997-01-01' " +
        "AND o_orderdate < TIMESTAMP '1999-01-01' " +
        "AND c_nationkey IN (SELECT n_nationkey FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')) " +
        "SELECT o_year, " +
        "CAST(round(COALESCE(sum(CASE WHEN supp_nation = 'NATION_2' THEN disc END), 0), 2) AS DOUBLE) AS nation_revenue, " +
        "CAST(round(sum(disc), 2) AS DOUBLE) AS total_revenue, " +
        "CAST(COALESCE(sum(CASE WHEN supp_nation = 'NATION_2' THEN disc END), 0) AS DOUBLE) " +
        "/ CAST(sum(disc) AS DOUBLE) AS mkt_share FROM j GROUP BY 1"),
    q("tpch_q9", (s, d) => TpchOps.tpchQ9(s, d),
      "SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2))) - " +
        "CAST(p_retailprice AS DECIMAL(12,2)) * " +
        "CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.5 AS DECIMAL(2,1))), 2) " +
        "AS DOUBLE) AS sum_profit " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE p_name LIKE '%widget%' GROUP BY 1, 2"),
    q("tpch_q11", (s, d) => TpchOps.tpchQ11(s, d),
      "WITH vals AS (SELECT l_partkey, " +
        "CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS val_c " +
        "FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3') " +
        "GROUP BY 1) " +
        "SELECT l_partkey AS p_partkey, CAST(val_c AS DOUBLE) / 100.0 AS part_value " +
        "FROM vals CROSS JOIN (SELECT CAST(sum(val_c) AS BIGINT) AS tot_c FROM vals) t " +
        "WHERE val_c * 1000 > tot_c"),
    q("tpch_q12", (s, d) => TpchOps.tpchQ12(lineitem(s, d), orders(s, d)),
      "SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 " +
        "THEN 'QUICK' WHEN datediff('day', o_orderdate, l_shipdate) <= 90 " +
        "THEN 'NORMAL' ELSE 'LATE' END AS ship_bucket, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"),
    q("tpch_q15", (s, d) => TpchOps.tpchQ15(lineitem(s, d), supplier(s, d)),
      "WITH per_supp AS (SELECT l_suppkey, " +
        "sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, CAST(round(rev_dec, 2) AS DOUBLE) AS total_revenue " +
        "FROM per_supp JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE rev_dec = (SELECT max(rev_dec) FROM per_supp)"),
    q("tpch_q16", (s, d) => TpchOps.tpchQ16(lineitem(s, d), part(s, d)),
      "SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt FROM (" +
        "SELECT DISTINCT p_brand, p_type, p_size, l_suppkey " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand <> 'Brand#45' AND p_type <> 'ECONOMY' " +
        "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)) " +
        "GROUP BY 1, 2, 3"),
    q("tpch_q17", (s, d) => TpchOps.tpchQ17(lineitem(s, d), part(s, d)),
      "WITH pruned AS (SELECT l_partkey, " +
        "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qty_c, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS ext_c " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand = 'Brand#23' AND p_size <= 10), " +
        "stats AS (SELECT l_partkey AS st_partkey, " +
        "CAST(sum(qty_c) AS BIGINT) AS qty_sum_c, count(*) AS qty_n " +
        "FROM pruned GROUP BY 1) " +
        "SELECT CAST(CAST(sum(ext_c) AS BIGINT) AS DOUBLE) / 700.0 AS avg_yearly " +
        "FROM pruned JOIN stats ON l_partkey = st_partkey " +
        "WHERE qty_c * 5 * qty_n < qty_sum_c"),
    q("tpch_q20", (s, d) => TpchOps.tpchQ20(s, d),
      "WITH per_supp AS (SELECT l_suppkey, " +
        "COALESCE(CAST(sum(CASE WHEN CAST(year(l_shipdate) AS INTEGER) = 1999 " +
        "THEN CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) END) AS BIGINT), 0) AS qy_c, " +
        "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS qt_c " +
        "FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM part " +
        "WHERE p_name LIKE '%red%') GROUP BY 1) " +
        "SELECT s_suppkey, s_name, CAST(qy_c AS DOUBLE) / 100.0 AS qty_in_year, " +
        "CAST(qt_c AS DOUBLE) / 100.0 AS qty_total " +
        "FROM per_supp JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'EUROPE' AND qy_c * 8 > qt_c"),
    q("tpch_q21", (s, d) => TpchOps.tpchQ21(s, d),
      "WITH base AS (SELECT l_orderkey AS ok, l_suppkey AS sk, " +
        "l_shipdate AS sd, o_orderdate AS od " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F'), " +
        "late AS (SELECT DISTINCT ok, sk FROM base " +
        "WHERE sd > od + INTERVAL 60 DAY), " +
        "sups AS (SELECT DISTINCT ok, sk FROM base) " +
        "SELECT s_name, count(*) AS numwait " +
        "FROM late l1 JOIN supplier ON l1.sk = s_suppkey " +
        "WHERE EXISTS (SELECT 1 FROM sups s2 WHERE s2.ok = l1.ok AND s2.sk <> l1.sk) " +
        "AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.ok = l1.ok AND l3.sk <> l1.sk) " +
        "GROUP BY 1 ORDER BY numwait DESC, s_name ASC LIMIT 20"),
    q("tpch_q22", (s, d) => TpchOps.tpchQ22(customer(s, d), orders(s, d)),
      "WITH coded AS (SELECT CAST(c_custkey % 10 AS INTEGER) AS cntrycode, " +
        "c_custkey, c_acctbal FROM customer " +
        "WHERE CAST(c_custkey % 10 AS INTEGER) IN (1, 2, 3, 4, 5)), " +
        "stats AS (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_sum, " +
        "count(*) AS bal_n FROM coded WHERE c_acctbal > 0) " +
        "SELECT cntrycode, count(*) AS numcust, " +
        "CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal " +
        "FROM coded CROSS JOIN stats " +
        "WHERE CAST(c_acctbal AS DECIMAL(12,2)) * bal_n > bal_sum " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '1999-01-01') " +
        "GROUP BY 1"),
    q("top_orders_native", (s, d) => {
      import org.apache.spark.sql.functions.col
      plans.TopK.perGroup(orders(s, d), Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    },
      "SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
        "FROM orders) WHERE rn <= 3"),
    q("pricing_summary", (s, d) => AggOps.pricingSummary(lineitem(s, d)),
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price, " +
        "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge, " +
        Num.avgSql("l_quantity", "avg_qty") + ", " +
        Num.avgSql("l_extendedprice", "avg_price") + ", " +
        Num.avgSql("l_discount", "avg_disc") + ", " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus"),
    // Mirrors AggOps.tpchQ6: exact-decimal product sum over the pushed
    // conjunctive filter (date window shifted into the data's range).
    q("tpch_q6", (s, d) => AggOps.tpchQ6(lineitem(s, d)),
      "SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    q("rollup_qty", (s, d) => AggOps.rollupQtyByFlagStatus(lineitem(s, d)),
      "SELECT l_returnflag, l_linestatus, CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty, " +
        "count(*) AS n_lines FROM lineitem " +
        "GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
    q("cube_qty", (s, d) => AggOps.cubeQtyByFlagStatus(lineitem(s, d)),
      "SELECT l_returnflag, l_linestatus, CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"),
    q("grouping_sets_qty", (s, d) => AggOps.groupingSetsQty(lineitem(s, d)),
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty, " +
        "count(*) AS n_lines FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"),
    q("value_corr_stats", (s, d) => AggOps.valueCorrStats(events(s, d)),
      "WITH s AS (SELECT event_type, count(*) AS n, " +
        "sum(CAST(value AS DECIMAL(12,2))) AS sx, " +
        "sum(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(12,2))) AS sy, " +
        "sum(CAST(value AS DECIMAL(12,2)) * CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(12,2))) AS sxy, " +
        "sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS sxx, " +
        "sum(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(12,2)) * CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DECIMAL(12,2))) AS syy " +
        "FROM events GROUP BY event_type) " +
        "SELECT event_type, n, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS corr_vk, " +
        "round(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)), 4) AS stddev_v " +
        "FROM s"),
    q("approx_value_percentiles", (s, d) => AggOps.approxValuePercentiles(events(s, d)),
      "SELECT event_type, " +
        "quantile_disc(value, 0.5) AS approx_p50, " +
        "quantile_disc(value, 0.9) AS approx_p90, " +
        "quantile_disc(value, 0.99) AS approx_p99 " +
        "FROM events GROUP BY event_type"),
    q("customer_name_funcs", (s, d) => AggOps.customerNameFuncs(customer(s, d)),
      "SELECT c_custkey, upper(c_name) AS upper_name, " +
        "substring(c_name, 10, 9) AS digits, " +
        "lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key, " +
        "concat_ws('|', c_mktsegment, c_name) AS seg_name, " +
        "length(c_name) AS name_len, " +
        "regexp_replace(c_name, '0+', '0', 'g') AS squeezed " +
        "FROM customer"),
    q("top_orders_by_price", (s, d) => AggOps.topOrdersByPrice(orders(s, d), 10),
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    q("monthly_order_stats", (s, d) => AggOps.monthlyOrderStats(orders(s, d)),
      "SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month, " +
        "count(*) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price, " +
        Num.avgSql("o_totalprice", "avg_price") + " FROM orders GROUP BY 1"),
    q("global_order_stats", (s, d) => AggOps.globalOrderStats(orders(s, d)),
      "SELECT max(o_totalprice) AS max_price, min(o_totalprice) AS min_price, " +
        "count(*) AS n_orders FROM orders"),
    // Mirrors AggOps.lineitemCorrelations: identical scaled-BIGINT
    // moment sums in DECIMAL(38,0) (exact in both engines), identical
    // double-space combination — the ulp-exact corr construction.
    q("lineitem_correlations", (s, d) => AggOps.lineitemCorrelations(lineitem(s, d)),
      "WITH s AS (SELECT " +
        "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p, " +
        "CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS d " +
        "FROM lineitem), " +
        "m AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n, " +
        "sum(CAST(q AS DECIMAL(28,0))) AS sq, " +
        "sum(CAST(p AS DECIMAL(28,0))) AS sp, " +
        "sum(CAST(d AS DECIMAL(28,0))) AS sd, " +
        "sum(CAST(q * q AS DECIMAL(28,0))) AS sqq, " +
        "sum(CAST(p * p AS DECIMAL(28,0))) AS spp, " +
        "sum(CAST(d * d AS DECIMAL(28,0))) AS sdd, " +
        "sum(CAST(q * p AS DECIMAL(28,0))) AS sqp, " +
        "sum(CAST(q * d AS DECIMAL(28,0))) AS sqd, " +
        "sum(CAST(p * d AS DECIMAL(28,0))) AS spd FROM s) " +
        "SELECT CAST(n AS BIGINT) AS n_rows, " +
        "round(CAST(n * sqp - sq * sp AS DOUBLE) / " +
        "sqrt(CAST(n * sqq - sq * sq AS DOUBLE) * " +
        "CAST(n * spp - sp * sp AS DOUBLE)), 6) AS corr_qty_price, " +
        "round(CAST(n * sqd - sq * sd AS DOUBLE) / " +
        "sqrt(CAST(n * sqq - sq * sq AS DOUBLE) * " +
        "CAST(n * sdd - sd * sd AS DOUBLE)), 6) AS corr_qty_disc, " +
        "round(CAST(n * spd - sp * sd AS DOUBLE) / " +
        "sqrt(CAST(n * spp - sp * sp AS DOUBLE) * " +
        "CAST(n * sdd - sd * sd AS DOUBLE)), 6) AS corr_price_disc FROM m"),
    // Mirrors AggOps.rfmSegments: exact BIGINT/DECIMAL rank inputs,
    // ntile(5) under shared Postgres remainder semantics with the
    // customer-key tie-break, money through the dec2 rule.
    q("rfm_segments", (s, d) => AggOps.rfmSegments(orders(s, d)),
      "WITH mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS dmax " +
        "FROM orders), " +
        "per AS (SELECT o_custkey, " +
        "CAST(min(datediff('day', CAST(o_orderdate AS DATE), dmax)) " +
        "AS BIGINT) AS recency_days, " +
        "CAST(count(*) AS BIGINT) AS frequency, " +
        "sum(CAST(o_totalprice AS DECIMAL(12,2))) AS mon " +
        "FROM orders CROSS JOIN mx GROUP BY 1), " +
        "s AS (SELECT o_custkey, recency_days, frequency, " +
        "CAST(round(mon, 2) AS DOUBLE) AS monetary, " +
        "ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score, " +
        "ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score, " +
        "ntile(5) OVER (ORDER BY mon DESC, o_custkey ASC) AS m_score " +
        "FROM per) " +
        "SELECT o_custkey, recency_days, frequency, monetary, " +
        "r_score, f_score, m_score, " +
        "CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || " +
        "CAST(m_score AS VARCHAR) AS segment FROM s"),
    // Mirrors AggOps.targetEncodePriority: exact BIGINT counts into
    // two pinned-operand-order doubles, the UNROUNDED prior feeding
    // the smoothed encode, one terminal round(…, 6) on each.
    q("target_encode_priority", (s, d) =>
      AggOps.targetEncodePriority(orders(s, d), lineitem(s, d)),
      "WITH ret AS (SELECT DISTINCT l_orderkey AS o_orderkey " +
        "FROM lineitem WHERE l_returnflag = 'R'), " +
        "per AS (SELECT o_orderpriority, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN ret.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_ret " +
        "FROM orders LEFT JOIN ret USING (o_orderkey) GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot, " +
        "CAST(sum(n_ret) AS BIGINT) AS ret_tot FROM per) " +
        "SELECT o_orderpriority, n, n_ret, " +
        "round(CAST(ret_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 6) AS prior, " +
        "round((CAST(n_ret AS DOUBLE) + 20.0 * " +
        "(CAST(ret_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))) / " +
        "(CAST(n AS DOUBLE) + 20.0), 6) AS enc_smoothed " +
        "FROM per CROSS JOIN tot ORDER BY o_orderpriority ASC"),
    // Mirrors JoinOps.simpsonReversalAudit: exact BIGINT cells,
    // integer cross-multiplication signs (no float compares), 6dp
    // display rates.
    q("simpson_reversal_audit", (s, d) => JoinOps.simpsonReversalAudit(orders(s, d), customer(s, d)),
      "WITH cells AS (SELECT c_mktsegment, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_hi, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
        "AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_hi, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_lo, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') " +
        "AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_lo " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1), " +
        "pooled AS (SELECT CAST(sum(n_hi) AS BIGINT) AS pn_hi, " +
        "CAST(sum(f_hi) AS BIGINT) AS pf_hi, " +
        "CAST(sum(n_lo) AS BIGINT) AS pn_lo, " +
        "CAST(sum(f_lo) AS BIGINT) AS pf_lo FROM cells) " +
        "SELECT c_mktsegment, n_hi, f_hi, n_lo, f_lo, " +
        "round(CAST(f_hi AS DOUBLE) / CAST(n_hi AS DOUBLE), 6) AS rate_hi, " +
        "round(CAST(f_lo AS DOUBLE) / CAST(n_lo AS DOUBLE), 6) AS rate_lo, " +
        "CASE WHEN f_hi * n_lo - f_lo * n_hi > 0 THEN 1 " +
        "WHEN f_hi * n_lo - f_lo * n_hi < 0 THEN -1 ELSE 0 END " +
        "AS stratum_sign, " +
        "CASE WHEN pf_hi * pn_lo - pf_lo * pn_hi > 0 THEN 1 " +
        "WHEN pf_hi * pn_lo - pf_lo * pn_hi < 0 THEN -1 ELSE 0 END " +
        "AS pooled_sign, " +
        "(CASE WHEN f_hi * n_lo - f_lo * n_hi > 0 THEN 1 " +
        "WHEN f_hi * n_lo - f_lo * n_hi < 0 THEN -1 ELSE 0 END) <> 0 AND " +
        "(CASE WHEN pf_hi * pn_lo - pf_lo * pn_hi > 0 THEN 1 " +
        "WHEN pf_hi * pn_lo - pf_lo * pn_hi < 0 THEN -1 ELSE 0 END) <> 0 AND " +
        "(CASE WHEN f_hi * n_lo - f_lo * n_hi > 0 THEN 1 " +
        "WHEN f_hi * n_lo - f_lo * n_hi < 0 THEN -1 ELSE 0 END) <> " +
        "(CASE WHEN pf_hi * pn_lo - pf_lo * pn_hi > 0 THEN 1 " +
        "WHEN pf_hi * pn_lo - pf_lo * pn_hi < 0 THEN -1 ELSE 0 END) " +
        "AS reversal FROM cells, pooled"),
    // Mirrors SkewOps.joinSizeProfile: exact per-key count collapses,
    // F2/max/skew and the exact join output cardinality Σ cl·cr.
    q("join_size_profile", (s, d) => SkewOps.joinSizeProfile(
      lineitem(s, d), orders(s, d), "l_orderkey", "o_orderkey"),
      "WITH cl AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cl " +
        "FROM lineitem GROUP BY 1), " +
        "cr AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cr " +
        "FROM orders GROUP BY 1), " +
        "ls AS (SELECT CAST(sum(cl) AS BIGINT) AS n_left, " +
        "CAST(count(*) AS BIGINT) AS keys_left, " +
        "CAST(sum(cl * cl) AS BIGINT) AS f2_left, max(cl) AS max_left " +
        "FROM cl), " +
        "rs AS (SELECT CAST(sum(cr) AS BIGINT) AS n_right, " +
        "CAST(count(*) AS BIGINT) AS keys_right, " +
        "CAST(sum(cr * cr) AS BIGINT) AS f2_right, max(cr) AS max_right " +
        "FROM cr), " +
        "js AS (SELECT CAST(count(*) AS BIGINT) AS keys_matched, " +
        "CAST(sum(cl * cr) AS BIGINT) AS join_rows FROM cl JOIN cr USING (k)) " +
        "SELECT n_left, keys_left, f2_left, max_left, " +
        "round(CAST(max_left AS DOUBLE) * CAST(keys_left AS DOUBLE) / " +
        "CAST(n_left AS DOUBLE), 6) AS skew_left, " +
        "n_right, keys_right, f2_right, max_right, " +
        "round(CAST(max_right AS DOUBLE) * CAST(keys_right AS DOUBLE) / " +
        "CAST(n_right AS DOUBLE), 6) AS skew_right, " +
        "keys_matched, join_rows FROM ls, rs, js"),
    // Mirrors JoinOps.kAnonGeneralizationLadder: the four grains as
    // unioned grouped CTEs (Spark runs them as ONE groupingSets pass);
    // all counts exact.
    q("k_anon_generalization_ladder", (s, d) => JoinOps.kAnonGeneralizationLadder(orders(s, d),
        customer(s, d)),
      "WITH base AS (SELECT o_orderpriority AS pri, " +
        "CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high' " +
        "ELSE 'low' END AS cls, c_mktsegment AS seg, " +
        "strftime(o_orderdate, '%Y-%m') AS mon, " +
        "CAST(year(o_orderdate) AS BIGINT) AS yr " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "c0 AS (SELECT 0 AS level, CAST(count(*) AS BIGINT) AS class_size " +
        "FROM base GROUP BY pri, seg, mon), " +
        "c1 AS (SELECT 1 AS level, CAST(count(*) AS BIGINT) AS class_size " +
        "FROM base GROUP BY cls, seg, yr), " +
        "c2 AS (SELECT 2 AS level, CAST(count(*) AS BIGINT) AS class_size " +
        "FROM base GROUP BY cls, yr), " +
        "c3 AS (SELECT 3 AS level, CAST(count(*) AS BIGINT) AS class_size " +
        "FROM base GROUP BY yr), " +
        "al AS (SELECT * FROM c0 UNION ALL SELECT * FROM c1 " +
        "UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3) " +
        "SELECT CAST(level AS BIGINT) AS level, " +
        "CAST(count(*) AS BIGINT) AS n_classes, " +
        "min(class_size) AS min_class_size, " +
        "CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_below_k, " +
        "CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) " +
        "AS BIGINT) AS rows_at_risk, " +
        "min(class_size) >= 5 AS k_satisfied FROM al GROUP BY 1"),
    // Mirrors JoinOps.supplierHhiByNation: DECIMAL discount revenue
    // pinned to BIGINT ten-thousandths, Σr² in HUGEINT, two final
    // double divisions.
    q("supplier_hhi_by_nation", (s, d) => JoinOps.supplierHhiByNation(lineitem(s, d),
        supplier(s, d), nation(s, d)),
      "WITH rev AS (SELECT n_name, s_suppkey, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT) AS r4 " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey GROUP BY 1, 2), " +
        "n AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers, " +
        "CAST(sum(r4) AS BIGINT) AS t4, " +
        "sum(CAST(r4 AS HUGEINT) * r4) AS s2 FROM rev GROUP BY 1) " +
        "SELECT n_name, n_suppliers, " +
        "round(CAST(t4 AS DOUBLE) / 10000.0, 2) AS revenue, " +
        "CASE WHEN t4 > 0 THEN round(CAST(s2 AS DOUBLE) / " +
        "(CAST(t4 AS DOUBLE) * CAST(t4 AS DOUBLE)), 6) END AS hhi, " +
        "CASE WHEN t4 > 0 THEN round((CAST(t4 AS DOUBLE) * " +
        "CAST(t4 AS DOUBLE)) / CAST(s2 AS DOUBLE), 6) END " +
        "AS effective_suppliers FROM n"),
    // Mirrors JoinOps.shippingLatencyByPriority: exact day diffs,
    // quantile_cont ≡ percentile parity, pinned avg/breach divisions.
    q("shipping_latency_by_priority", (s, d) => JoinOps.shippingLatencyByPriority(lineitem(s, d),
        orders(s, d)),
      "WITH lat AS (SELECT o_orderpriority, " +
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) AS BIGINT) AS lat " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey) " +
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines, " +
        "min(lat) AS min_days, max(lat) AS max_days, " +
        "round(CAST(CAST(sum(lat) AS BIGINT) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS avg_days, " +
        "round(quantile_cont(lat, 0.5), 6) AS p50_days, " +
        "round(quantile_cont(lat, 0.9), 6) AS p90_days, " +
        "round(CAST(CAST(sum(CASE WHEN lat > 90 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) " +
        "AS breach_rate FROM lat GROUP BY 1"),
    // Mirrors JoinOps.partAbcClasses: DuckDB's flat window cumsum IS
    // the two-level globalRunningSum (bit-equal by RankOpsSpec
    // parity); class cuts are integer cross-multiplications.
    q("part_abc_classes", (s, d) => JoinOps.partAbcClasses(lineitem(s, d)),
      "WITH rev AS (SELECT l_partkey, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT) AS rc " +
        "FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(sum(rc) AS BIGINT) AS t FROM rev), " +
        "c AS (SELECT rc, CAST(sum(rc) OVER (ORDER BY rc DESC, " +
        "l_partkey ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum " +
        "FROM rev) " +
        "SELECT CASE WHEN cum * 100 <= 80 * t THEN 'A' " +
        "WHEN cum * 100 <= 95 * t THEN 'B' ELSE 'C' END AS abc_class, " +
        "CAST(count(*) AS BIGINT) AS n_parts, " +
        "round(CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE) / 10000.0, 2) " +
        "AS revenue, " +
        "round(CAST(CAST(sum(rc) AS BIGINT) AS DOUBLE) / " +
        "CAST(max(t) AS DOUBLE), 6) AS revenue_share " +
        "FROM c CROSS JOIN t GROUP BY 1"),
  )

  /** MiningOps, ProfileOps and LayoutOps: retrieval, profiling, layout. */
  private def miningQueries: Seq[Query] = Seq(
    // Mirrors LayoutOps.zorderLayoutAudit bit-for-bit: same collected
    // domain semantics (min/max computed in SQL equal Spark's
    // collected literals), same IEEE-754 bucket arithmetic, same
    // Morton interleave (built by zorderAuditSql to keep the 16
    // shift/mask terms in lockstep with LayoutOps.zvalue).
    q("zorder_layout_audit", (s, d) =>
      LayoutOps.zorderLayoutAudit(events(s, d)), zorderAuditSql),
    // Hilbert cells: the unrolled xy2d walk replayed as layered CTEs
    // (built by hilbertAuditSql), bit-for-bit vs the Column unroll.
    q("hilbert_layout_audit", (s, d) =>
      LayoutOps.hilbertLayoutAudit(events(s, d)), hilbertAuditSql),
    // Mirrors MiningOps.termCooccurrence: distinct doc-term pairs,
    // df-pruned vocabulary [20, 0.9N], pair self-join on doc_id with
    // binary term order, HAVING >= 10, and every ratio in DOUBLE with
    // the same operand order before the 6dp round.
    q("term_cooccurrence", (s, d) => MiningOps.termCooccurrence(documents(s, d)),
      s"WITH ${termPairCtes(nPair = true)} " +
        "SELECT term_a, term_b, n_pair, " +
        "round(CAST(n_pair AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM nd), 6) AS support, " +
        "round(CAST(n_pair AS DOUBLE) / CAST(da.df AS DOUBLE), 6) AS conf_a_b, " +
        "round(CAST(n_pair AS DOUBLE) / CAST(db.df AS DOUBLE), 6) AS conf_b_a, " +
        "round(CAST(n_pair AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM nd) / " +
        "(CAST(da.df AS DOUBLE) * CAST(db.df AS DOUBLE)), 6) AS lift " +
        "FROM p JOIN v da ON da.term = p.term_a JOIN v db ON db.term = p.term_b"),
    // Mirrors MiningOps.pmiCollocations: occurrence (not distinct)
    // counts, each factor cast to DOUBLE before the pinned-order
    // products, ln on the identical double (the unigram_kl contract).
    q("pmi_collocations", (s, d) => MiningOps.pmiCollocations(documents(s, d)),
      "WITH toks AS (SELECT " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "uni AS (SELECT unnest(t) AS term FROM toks), " +
        "cu AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY 1), " +
        "nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM cu), " +
        "bg AS (SELECT unnest(list_transform(range(len(t) - 1), " +
        "i -> t[i+1] || ' ' || t[i+2])) AS bigram FROM toks), " +
        "cb AS (SELECT split_part(bigram, ' ', 1) AS w1, " +
        "split_part(bigram, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS n_pair " +
        "FROM bg GROUP BY 1, 2 HAVING count(*) >= 10), " +
        "nb AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM bg) " +
        "SELECT w1, w2, n_pair, " +
        "round(ln(CAST(n_pair AS DOUBLE) * CAST(n_tok AS DOUBLE) * " +
        "CAST(n_tok AS DOUBLE) / (CAST(n_big AS DOUBLE) * " +
        "CAST(c1.cnt AS DOUBLE) * CAST(c2.cnt AS DOUBLE))), 6) AS pmi " +
        "FROM cb JOIN cu c1 ON c1.term = cb.w1 " +
        "JOIN cu c2 ON c2.term = cb.w2 CROSS JOIN nt CROSS JOIN nb"),
    // Mirrors MiningOps.bigramPerplexity: add-one-smoothed corpus
    // bigram LM scored over the corpus itself; the per-doc Σ ln is
    // small (a document's bigram count) and rounds 6dp once — the
    // unigram_kl summation convention.
    q("bigram_perplexity", (s, d) => MiningOps.bigramPerplexity(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "uni AS (SELECT unnest(t) AS term FROM toks), " +
        "cu AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY 1), " +
        "vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cu), " +
        "bgs AS (SELECT doc_id, split_part(bigram, ' ', 1) AS w1, " +
        "split_part(bigram, ' ', 2) AS w2 FROM (SELECT doc_id, " +
        "unnest(list_transform(range(len(t) - 1), " +
        "i -> t[i+1] || ' ' || t[i+2])) AS bigram FROM toks)), " +
        "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb " +
        "FROM bgs GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "round(-sum(ln((CAST(cb.cb AS DOUBLE) + 1.0) / " +
        "(CAST(cu.c1 AS DOUBLE) + CAST(vv.v AS DOUBLE)))) / " +
        "CAST(count(*) AS DOUBLE), 6) AS cross_entropy " +
        "FROM bgs JOIN cb USING (w1, w2) JOIN cu ON cu.term = bgs.w1 " +
        "CROSS JOIN vv GROUP BY doc_id"),
    // Mirrors MiningOps.knBigramPerplexity: exact bigram/context/
    // continuation count families off the collapsed bigram frame,
    // the KN interpolation in the identical double order, each -ln P
    // 10dp-pinned into DECIMAL(38,10) before the per-doc sum, one exp.
    q("kn_bigram_perplexity", (s, d) => MiningOps.knBigramPerplexity(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "bgs AS (SELECT doc_id, split_part(bigram, ' ', 1) AS w1, " +
        "split_part(bigram, ' ', 2) AS w2 FROM (SELECT doc_id, " +
        "unnest(list_transform(range(len(t) - 1), " +
        "i -> t[i+1] || ' ' || t[i+2])) AS bigram FROM toks)), " +
        "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb " +
        "FROM bgs GROUP BY 1, 2), " +
        "ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1, " +
        "CAST(count(*) AS BIGINT) AS n1fwd FROM cb GROUP BY 1), " +
        "cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bwd " +
        "FROM cb GROUP BY 1), " +
        "nbig AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM cb), " +
        "sc AS (SELECT doc_id, CAST(round(-ln(" +
        "greatest(CAST(cb.cb AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE) + " +
        "0.75 * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE) * " +
        "(CAST(n1bwd AS DOUBLE) / CAST(nb AS DOUBLE))), 10) " +
        "AS DECIMAL(38,10)) AS term " +
        "FROM bgs JOIN cb USING (w1, w2) JOIN ctx USING (w1) " +
        "JOIN cont USING (w2) CROSS JOIN nbig) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "round(exp(CAST(sum(term) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6) " +
        "AS kn_perplexity FROM sc GROUP BY doc_id"),
    // Mirrors MiningOps.tfidfCosinePairs: identical linear-idf weight
    // (tf·N/df, same DOUBLE operand order), cosine rounded 6dp BEFORE
    // the threshold. The oracle is the inverted-index formulation; the
    // engine may answer with either of its two EXACT physical
    // strategies (sparse inverted-index or dense fused-vector — the
    // gate proves the chooser's pick equals the sparse reference).
    q("tfidf_cosine_pairs", (s, d) => MiningOps.tfidfCosinePairs(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf " +
        "FROM toks GROUP BY 1, 2), " +
        "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), " +
        "w AS (SELECT doc_id, term, " +
        "CAST(tf AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM nd) / " +
        "CAST(df AS DOUBLE) AS w " +
        "FROM tf JOIN df USING (term) " +
        "WHERE CAST(df AS DOUBLE) <= 0.9 * (SELECT CAST(n AS DOUBLE) FROM nd)), " +
        "nrm AS (SELECT doc_id, sqrt(sum(CAST(w * w AS DOUBLE))) AS nrm " +
        "FROM w GROUP BY 1), " +
        "dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "sum(CAST(a.w * b.w AS DOUBLE)) AS dot " +
        "FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, " +
        "round(dot / (x.nrm * y.nrm), 6) AS cosine " +
        "FROM dots JOIN nrm x ON x.doc_id = doc_a " +
        "JOIN nrm y ON y.doc_id = doc_b " +
        "WHERE round(dot / (x.nrm * y.nrm), 6) >= 0.9"),
    // Mirrors MiningOps.bm25TopDocs: Lucene-variant idf, identical
    // DOUBLE operand order (constants written as the same IEEE ops:
    // (1.2 + 1.0), (1.0 - 0.75)), score rounded 6dp BEFORE the
    // ORDER BY, doc_id tie-break, LIMIT 20.
    q("bm25_top_docs", (s, d) => MiningOps.bm25TopDocs(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(len(toks)) AS BIGINT) AS total_len FROM toks), " +
        "dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM " +
        "(SELECT doc_id, unnest(toks) AS term FROM toks) " +
        "WHERE term IN ('join', 'filter', 'scan') GROUP BY 1, 2), " +
        "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1) " +
        "SELECT doc_id, " +
        "round(sum(ln(((SELECT CAST(n AS DOUBLE) FROM st) - CAST(df AS DOUBLE) + 0.5) / " +
        "(CAST(df AS DOUBLE) + 0.5) + 1.0) * " +
        "(CAST(tf AS DOUBLE) * (1.2 + 1.0)) / " +
        "(CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / " +
        "((SELECT CAST(total_len AS DOUBLE) FROM st) / (SELECT CAST(n AS DOUBLE) FROM st)))))), 6) AS bm25, " +
        "CAST(count(*) AS BIGINT) AS n_matched, dl " +
        "FROM tf JOIN df USING (term) JOIN dl USING (doc_id) " +
        "GROUP BY doc_id, dl " +
        "ORDER BY bm25 DESC, doc_id ASC LIMIT 20"),
    // Mirrors MiningOps.qlmTopDocs: Dirichlet query-likelihood with
    // per-term micro-pins before the per-doc sum; corpus-absent query
    // terms skipped by the inner ctf join; (score DESC, doc_id) top-20.
    q("qlm_top_docs", (s, d) => MiningOps.qlmTopDocs(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS toks " +
        "FROM documents), " +
        "st AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS c_total FROM toks), " +
        "dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks), " +
        "hits AS (SELECT doc_id, term FROM (" +
        "SELECT doc_id, unnest(toks) AS term FROM toks) " +
        "WHERE term IN ('join', 'filter', 'scan')), " +
        "tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf " +
        "FROM hits GROUP BY 1, 2), " +
        "ctf AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf " +
        "FROM hits GROUP BY 1), " +
        "scoring AS (SELECT dl.doc_id, dl.dl, c.term, c.ctf, tfq.tf, " +
        "st.c_total FROM dl CROSS JOIN ctf c CROSS JOIN st " +
        "LEFT JOIN tfq ON tfq.doc_id = dl.doc_id AND tfq.term = c.term), " +
        "sm AS (SELECT doc_id, dl, " +
        "CAST(round(ln((CAST(coalesce(tf, 0) AS DOUBLE) + " +
        "2000.0 * (CAST(ctf AS DOUBLE) / CAST(c_total AS DOUBLE))) / " +
        "(CAST(dl AS DOUBLE) + 2000.0)) * 1000000.0, 0) AS BIGINT) AS sm, " +
        "CASE WHEN tf IS NOT NULL THEN 1 ELSE 0 END AS m FROM scoring) " +
        "SELECT doc_id, dl, CAST(sum(m) AS BIGINT) AS n_matched, " +
        "round(CAST(CAST(sum(sm) AS BIGINT) AS DOUBLE) / 1000000.0, 6) " +
        "AS qlm_score " +
        "FROM sm GROUP BY 1, 2 " +
        "ORDER BY qlm_score DESC, doc_id ASC LIMIT 20"),
    // Mirrors MiningOps.jmQlmTopDocs: the qlm_top_docs chain with the
    // Jelinek-Mercer λ=0.5 interpolation in place of the Dirichlet
    // prior; per-term ln's micro-pinned before the per-doc sum.
    q("jm_qlm_top_docs", (s, d) => MiningOps.jmQlmTopDocs(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS toks " +
        "FROM documents), " +
        "st AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS c_total FROM toks), " +
        "dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks), " +
        "hits AS (SELECT doc_id, term FROM (" +
        "SELECT doc_id, unnest(toks) AS term FROM toks) " +
        "WHERE term IN ('join', 'filter', 'scan')), " +
        "tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf " +
        "FROM hits GROUP BY 1, 2), " +
        "ctf AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf " +
        "FROM hits GROUP BY 1), " +
        "scoring AS (SELECT dl.doc_id, dl.dl, c.term, c.ctf, tfq.tf, " +
        "st.c_total FROM dl CROSS JOIN ctf c CROSS JOIN st " +
        "LEFT JOIN tfq ON tfq.doc_id = dl.doc_id AND tfq.term = c.term), " +
        "sm AS (SELECT doc_id, dl, " +
        "CAST(round(ln(0.5 * CAST(coalesce(tf, 0) AS DOUBLE) / " +
        "CAST(dl AS DOUBLE) + 0.5 * (CAST(ctf AS DOUBLE) / " +
        "CAST(c_total AS DOUBLE))) * 1000000.0, 0) AS BIGINT) AS sm, " +
        "CASE WHEN tf IS NOT NULL THEN 1 ELSE 0 END AS m FROM scoring) " +
        "SELECT doc_id, dl, CAST(sum(m) AS BIGINT) AS n_matched, " +
        "round(CAST(CAST(sum(sm) AS BIGINT) AS DOUBLE) / 1000000.0, 6) " +
        "AS jm_score " +
        "FROM sm GROUP BY 1, 2 " +
        "ORDER BY jm_score DESC, doc_id ASC LIMIT 20"),
    // Mirrors MiningOps.retrievalRboBm25Qlm: both ranklist chains off
    // ONE shared toks/tf spine, pinned (score DESC, doc_id) ranks,
    // per-depth overlaps exact, each (X_d/d)·p^d term nano-pinned;
    // the p^d weights are the same Scala-computed double literals on
    // both rails.
    q("retrieval_rbo_bm25_qlm", (s, d) => MiningOps.retrievalRboBm25Qlm(documents(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS toks " +
        "FROM documents), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(len(toks)) AS BIGINT) AS total_len FROM toks), " +
        "dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM " +
        "(SELECT doc_id, unnest(toks) AS term FROM toks) " +
        "WHERE term IN ('join', 'filter', 'scan') GROUP BY 1, 2), " +
        "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf " +
        "FROM tf GROUP BY 1), " +
        "blist AS (SELECT doc_id, " +
        "round(sum(ln(((SELECT CAST(n AS DOUBLE) FROM st) - CAST(df AS DOUBLE) + 0.5) / " +
        "(CAST(df AS DOUBLE) + 0.5) + 1.0) * " +
        "(CAST(tf AS DOUBLE) * (1.2 + 1.0)) / " +
        "(CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / " +
        "((SELECT CAST(total_len AS DOUBLE) FROM st) / (SELECT CAST(n AS DOUBLE) FROM st)))))), 6) AS s " +
        "FROM tf JOIN df USING (term) JOIN dl USING (doc_id) " +
        "GROUP BY doc_id, dl ORDER BY s DESC, doc_id ASC LIMIT 20), " +
        "ra AS (SELECT doc_id, CAST(row_number() OVER (" +
        "ORDER BY s DESC, doc_id ASC) AS BIGINT) AS ra FROM blist), " +
        "scoring AS (SELECT dl.doc_id, dl.dl, c.term, c.ctf, tf.tf, " +
        "(SELECT total_len FROM st) AS c_total FROM dl CROSS JOIN ctf c " +
        "LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = c.term), " +
        "sm AS (SELECT doc_id, dl, " +
        "CAST(round(ln((CAST(coalesce(tf, 0) AS DOUBLE) + " +
        "2000.0 * (CAST(ctf AS DOUBLE) / CAST(c_total AS DOUBLE))) / " +
        "(CAST(dl AS DOUBLE) + 2000.0)) * 1000000.0, 0) AS BIGINT) AS sm " +
        "FROM scoring), " +
        "qlist AS (SELECT doc_id, " +
        "round(CAST(CAST(sum(sm) AS BIGINT) AS DOUBLE) / 1000000.0, 6) " +
        "AS s FROM sm GROUP BY doc_id " +
        "ORDER BY s DESC, doc_id ASC LIMIT 20), " +
        "rb AS (SELECT doc_id, CAST(row_number() OVER (" +
        "ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rb FROM qlist), " +
        "shared AS (SELECT greatest(ra.ra, rb.rb) AS rmax " +
        "FROM ra JOIN rb USING (doc_id)), " +
        "depths AS (SELECT * FROM (VALUES " +
        (1 to 20).map(d =>
          s"(CAST($d AS BIGINT), CAST(${math.pow(0.9, d)} AS DOUBLE))")
          .mkString(", ") + ") t(d, pd)), " +
        "xd AS (SELECT depths.d, depths.pd, " +
        "CAST(coalesce(sum(CASE WHEN s.rmax <= depths.d THEN 1 ELSE 0 " +
        "END), 0) AS BIGINT) AS x FROM depths LEFT JOIN shared s " +
        "ON true GROUP BY 1, 2), " +
        "terms AS (SELECT d, x, CAST(round(CAST(x AS DOUBLE) / " +
        "CAST(d AS DOUBLE) * pd * 1.0e9, 0) AS BIGINT) AS tm FROM xd) " +
        "SELECT CAST(20 AS BIGINT) AS k, " +
        "(SELECT x FROM terms WHERE d = 20) AS overlap_at_k, " +
        "round((SELECT CAST(x AS DOUBLE) FROM terms WHERE d = 20) / " +
        s"20.0 * ${math.pow(0.9, 20)} + ${(1.0 - 0.9) / 0.9} * " +
        "(CAST(CAST(sum(tm) AS BIGINT) AS DOUBLE) / 1.0e9), 6) " +
        "AS rbo_ext FROM terms"),
    q("rocchio_prf_docs", (s, d) => MiningOps.rocchioPrfDocs(documents(s, d)), rocchioPrfSql),
    // Mirrors MiningOps.rrfFusedDocs: the lexical CTE is the
    // bm25_top_docs oracle verbatim, the dense CTE the knn_brute one;
    // ranks come from row_number over the same (rounded-score, id)
    // keys the Spark side counts, and the fused score is the same
    // two-term IEEE sum (commutative — order-free) rounded 9dp.
    q("rrf_fused_docs", (s, d) => MiningOps.rrfFusedDocs(documents(s, d), embeddings(s, d)),
      "WITH toks AS (SELECT doc_id, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(len(toks)) AS BIGINT) AS total_len FROM toks), " +
        "dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM " +
        "(SELECT doc_id, unnest(toks) AS term FROM toks) " +
        "WHERE term IN ('join', 'filter', 'scan') GROUP BY 1, 2), " +
        "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "lexlist AS (SELECT doc_id AS rrf_id, " +
        "round(sum(ln(((SELECT CAST(n AS DOUBLE) FROM st) - CAST(df AS DOUBLE) + 0.5) / " +
        "(CAST(df AS DOUBLE) + 0.5) + 1.0) * " +
        "(CAST(tf AS DOUBLE) * (1.2 + 1.0)) / " +
        "(CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) / " +
        "((SELECT CAST(total_len AS DOUBLE) FROM st) / (SELECT CAST(n AS DOUBLE) FROM st)))))), 6) AS bm25 " +
        "FROM tf JOIN df USING (term) JOIN dl USING (doc_id) " +
        "GROUP BY doc_id, dl ORDER BY bm25 DESC, rrf_id ASC LIMIT 20), " +
        "lex AS (SELECT rrf_id, CAST(row_number() OVER (" +
        "ORDER BY bm25 DESC, rrf_id ASC) AS BIGINT) AS lex_rank FROM lexlist), " +
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
        "ds AS (SELECT e.vec_id AS rrf_id, " +
        s"round(${duckCos("e.embedding", "qv")}, 4) AS cos_sim " +
        "FROM embeddings e, q WHERE e.vec_id <> 0 " +
        "ORDER BY cos_sim DESC, rrf_id ASC LIMIT 20), " +
        "dense AS (SELECT rrf_id, CAST(row_number() OVER (" +
        "ORDER BY cos_sim DESC, rrf_id ASC) AS BIGINT) AS dense_rank FROM ds) " +
        "SELECT coalesce(lex.rrf_id, dense.rrf_id) AS doc_id, " +
        "lex_rank, dense_rank, " +
        "round(coalesce(1.0 / CAST(60 + lex_rank AS DOUBLE), 0.0) + " +
        "coalesce(1.0 / CAST(60 + dense_rank AS DOUBLE), 0.0), 9) AS rrf_score " +
        "FROM lex FULL JOIN dense ON lex.rrf_id = dense.rrf_id " +
        "ORDER BY rrf_score DESC, doc_id ASC LIMIT 20"),
    q("table_profile_events", (s, d) => ProfileOps.profile(events(s, d)), profileEventsSql),
    // Mirrors ProfileOps.constraintAudit: each check recomputed as the
    // equivalent anti-join / distinct-gap / conditional count.
    q("constraint_audit", (s, d) => ProfileOps.constraintAudit(
      orders(s, d), customer(s, d), lineitem(s, d), events(s, d),
      documents(s, d)),
      "SELECT 'orders.o_custkey -> customer' AS check_name, " +
        "CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS " +
        "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n_violations, " +
        "(SELECT count(*) FROM orders o WHERE NOT EXISTS " +
        "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0 AS passed " +
        "UNION ALL SELECT 'lineitem.l_orderkey -> orders', " +
        "CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT), " +
        "(SELECT count(*) FROM lineitem l WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0 " +
        "UNION ALL SELECT 'customer.c_custkey unique', " +
        "CAST((SELECT count(c_custkey) - count(DISTINCT c_custkey) FROM customer) AS BIGINT), " +
        "(SELECT count(c_custkey) - count(DISTINCT c_custkey) FROM customer) = 0 " +
        "UNION ALL SELECT 'orders.o_orderkey unique', " +
        "CAST((SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT), " +
        "(SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders) = 0 " +
        "UNION ALL SELECT 'documents.doc_id unique', " +
        "CAST((SELECT count(doc_id) - count(DISTINCT doc_id) FROM documents) AS BIGINT), " +
        "(SELECT count(doc_id) - count(DISTINCT doc_id) FROM documents) = 0 " +
        "UNION ALL SELECT 'lineitem.l_quantity in (0, 50]', " +
        "CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0.0 OR l_quantity > 50.0) AS BIGINT), " +
        "(SELECT count(*) FROM lineitem WHERE l_quantity <= 0.0 OR l_quantity > 50.0) = 0 " +
        "UNION ALL SELECT 'events.user_id not null', " +
        "CAST((SELECT count(*) FROM events WHERE user_id IS NULL) AS BIGINT), " +
        "(SELECT count(*) FROM events WHERE user_id IS NULL) = 0"),
    // Mirrors ProfileOps.fdAudit: per candidate FD, the (lhs, rhs)
    // count collapse, per-LHS plurality, and the g3 repair distance
    // Σ(group − plurality) — all exact BIGINTs.
    q("fd_audit", (s, d) => ProfileOps.fdAudit(orders(s, d), Seq(
      ("o_orderkey", "o_custkey"),
      ("o_custkey", "o_orderpriority"),
      ("o_orderdate", "o_orderstatus"))),
      "WITH p1 AS (SELECT o_orderkey AS lv, o_custkey AS rv, " +
        "CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2), " +
        "g1 AS (SELECT lv, CAST(count(*) AS BIGINT) AS n_rhs, " +
        "CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS max_c " +
        "FROM p1 GROUP BY 1), " +
        "p2 AS (SELECT o_custkey AS lv, o_orderpriority AS rv, " +
        "CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2), " +
        "g2 AS (SELECT lv, CAST(count(*) AS BIGINT) AS n_rhs, " +
        "CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS max_c " +
        "FROM p2 GROUP BY 1), " +
        "p3 AS (SELECT o_orderdate AS lv, o_orderstatus AS rv, " +
        "CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2), " +
        "g3 AS (SELECT lv, CAST(count(*) AS BIGINT) AS n_rhs, " +
        "CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS max_c " +
        "FROM p3 GROUP BY 1), " +
        "u AS (SELECT 'o_orderkey -> o_custkey' AS fd, " +
        "CAST(count(*) AS BIGINT) AS n_groups, " +
        "CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating, " +
        "CAST(sum(n_rows - max_c) AS BIGINT) AS rows_to_fix FROM g1 " +
        "UNION ALL SELECT 'o_custkey -> o_orderpriority', " +
        "CAST(count(*) AS BIGINT), " +
        "CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(n_rows - max_c) AS BIGINT) FROM g2 " +
        "UNION ALL SELECT 'o_orderdate -> o_orderstatus', " +
        "CAST(count(*) AS BIGINT), " +
        "CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(n_rows - max_c) AS BIGINT) FROM g3) " +
        "SELECT fd, n_groups, n_violating, rows_to_fix, " +
        "n_violating = 0 AS holds FROM u"),
    // Mirrors ProfileOps.inclusionDependencyAudit: one branch per
    // pinned candidate, generated from the SAME indCandidates list —
    // distinct-string containment, exact BIGINT counts, one pinned
    // division per row.
    q("inclusion_dependency_audit", (s, d) => ProfileOps.inclusionDependencyAudit(
        Map("orders" -> orders(s, d), "customer" -> customer(s, d),
          "lineitem" -> lineitem(s, d), "part" -> part(s, d),
          "supplier" -> supplier(s, d), "nation" -> nation(s, d),
          "region" -> region(s, d), "events" -> events(s, d)),
        indCandidates),
      indCandidates.map(indSql).mkString(" UNION ALL ")),
    rowsOnly("table_profile_approx", (s, d) => ProfileOps.profileApprox(events(s, d))),
    // Accuracy audit gating the rows-only HLL++ profile: per column,
    // the sketch estimate must sit within ±3·rsd of the exact count —
    // deterministic (the sketch is a pure function of the value set),
    // so the flag column is an oracle-checkable constant.
    // Mirrors table_profile_approx_audit: exact per-column distincts,
    // accuracy flag constant-true (see registration comment).
    q("table_profile_approx_audit", (s, d) => {
      import org.apache.spark.sql.functions.{abs, col}
      // r18: exact + approx distinct in ONE scan/aggregation
      // (ProfileOps.profileDistinctAudit) — the two-profile + join
      // form scanned the table twice to compare one statistic; values
      // are identical (exact counts exact, HLL a pure function of the
      // value set), plan has a single Scan node
      ProfileOps.profileDistinctAudit(events(s, d))
        .select(col("col_name"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <=
            col("n_exact") * 0.15).as("within_3rsd"))
    },
      Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(c => s"SELECT '$c' AS col_name, count(DISTINCT $c) AS n_exact, " +
          "true AS within_3rsd FROM events")
        .mkString(" UNION ALL ")),

    q("benford_first_digit", (s, d) => ProfileOps.benfordFirstDigit(orders(s, d), "o_totalprice"),
      "WITH g AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) " +
        "AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit, " +
        "CAST(count(*) AS BIGINT) AS n FROM orders " +
        "WHERE o_totalprice >= 1.0 GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g) " +
        "SELECT digit, n, " +
        "round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share, " +
        "round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6) " +
        "AS benford_expected FROM g CROSS JOIN tot"),
    // Mirrors ProfileOps.constraintSuggestions: the same per-column
    // profile UNION, projected through the three rule predicates.
    q("constraint_suggestions", (s, d) => ProfileOps.constraintSuggestions(events(s, d)),
      s"WITH p AS ($profileEventsSql) " +
        "SELECT col_name, 'not_null' AS rule, " +
        "CAST(NULL AS VARCHAR) AS lo, CAST(NULL AS VARCHAR) AS hi, " +
        "n_rows AS support_rows FROM p WHERE n_nulls = 0 " +
        "UNION ALL SELECT col_name, 'unique', " +
        "CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), n_rows " +
        "FROM p WHERE n_nulls = 0 AND n_distinct = n_rows " +
        "UNION ALL SELECT col_name, 'range', min_value, max_value, n_rows " +
        "FROM p WHERE mean IS NOT NULL"),
    // Mirrors MiningOps.partAffinityPairs: per-order distinct-part
    // pair join (basket-width-bounded), exact counts, pinned
    // support/lift ratios.
    q("part_affinity_pairs", (s, d) => MiningOps.partAffinityPairs(lineitem(s, d)),
      "WITH dp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "no AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) " +
        "AS n_orders FROM dp), " +
        "df AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS df " +
        "FROM dp GROUP BY 1), " +
        "p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, " +
        "CAST(count(*) AS BIGINT) AS n_pair FROM dp a JOIN dp b " +
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING count(*) >= 3) " +
        "SELECT part_a, part_b, n_pair, da.df AS df_a, db.df AS df_b, " +
        "round(CAST(n_pair AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) " +
        "AS support, " +
        "round(CAST(n_pair AS DOUBLE) * CAST(n_orders AS DOUBLE) / " +
        "(CAST(da.df AS DOUBLE) * CAST(db.df AS DOUBLE)), 6) AS lift " +
        "FROM p JOIN df da ON da.l_partkey = p.part_a " +
        "JOIN df db ON db.l_partkey = p.part_b CROSS JOIN no"),
  )

  /** Per-column events profile as one DuckDB UNION — shared by the
    * profile gate and the constraint-suggestion projection over it. */
  private val profileEventsSql: String =
    Seq(
      ("event_id", "bigint", true), ("ts", "timestamp", false),
      ("user_id", "bigint", true), ("event_type", "string", false),
      ("value", "double", true), ("props", "string", false),
    ).map { case (c, t, num) =>
      val mean = if (num) s"round(avg(CAST($c AS DOUBLE)), 4)"
        else "CAST(NULL AS DOUBLE)"
      s"SELECT count(*) AS n_rows, '$c' AS col_name, '$t' AS dtype, " +
        s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
        s"count(DISTINCT $c) AS n_distinct, " +
        s"CAST(min($c) AS VARCHAR) AS min_value, " +
        s"CAST(max($c) AS VARCHAR) AS max_value, " +
        s"$mean AS mean FROM events"
    }.mkString(" UNION ALL ")

  /** DuckDB CTE chain mirroring [[graft.ops.DocOps.bpeTrainRounds]]:
    * per round — lead() pair stats weighted by word freq, 1-row argmax
    * with (count DESC, pair ASC) tie-break, gaps-and-islands odd-rank
    * greedy non-overlap merge, position renumbering. */
  private def bpeTrainSql(rounds: Int): String = {
    val mg = (1 to rounds).map { r =>
      s"SELECT $r AS round, bx AS sym1, b_y AS sym2, cnt AS pair_count, " +
        s"n_merged FROM b$r CROSS JOIN ap$r"
    }.mkString(" UNION ALL ")
    bpeCtePrefix(rounds) +
      s"mg AS ($mg), " +
      "it AS (SELECT CAST(sum(freq) AS BIGINT) AS total0 FROM s0) " +
      "SELECT round, sym1, sym2, pair_count, n_merged, " +
      "total0 - CAST(sum(n_merged) OVER (ORDER BY round ASC " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS corpus_symbols_after " +
      "FROM mg CROSS JOIN it"
  }

  /** DuckDB mirror of [[graft.ops.DocOps.bpeTokenizeCounts]]: the
    * train chain's end-of-round-`rounds` symbol frame `s{rounds}` IS
    * the tokenization of every trained word (apply replays the same
    * merges in the same order), so per-word token counts come
    * straight off it; single-letter words fall outside the
    * length>=2 vocabulary and tokenize to themselves —
    * `coalesce(word_tokens, 1)` on the doc-word left join. */
  private def bpeTokenizeSql(rounds: Int): String =
    bpeCtePrefix(rounds) +
      "dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), " +
      "'[a-z]+')) AS word FROM documents), " +
      s"tw AS (SELECT word, CAST(count(*) AS BIGINT) AS word_tokens " +
      s"FROM s$rounds GROUP BY 1) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(coalesce(tw.word_tokens, 1)) AS BIGINT) AS n_tokens_bpe, " +
      "CAST(sum(length(dw.word)) AS BIGINT) AS n_tokens_char " +
      "FROM dw LEFT JOIN tw USING (word) GROUP BY 1 ORDER BY doc_id"

  /** Shared CTE prefix of [[bpeTrainSql]]/[[bpeTokenizeSql]]: the
    * vocab, the character split `s0`, and one
    * stats→argmax→gaps-and-islands merge block per round producing
    * `s1..s{rounds}`. */
  private def bpeCtePrefix(rounds: Int): String = {
    val base =
      "WITH v AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        "(SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word " +
        "FROM documents) WHERE length(word) >= 2 GROUP BY 1), " +
        "s0 AS (SELECT word, freq, pos, " +
        "substr(word, CAST(pos AS INT) + 1, 1) AS sym FROM " +
        "(SELECT word, freq, CAST(unnest(range(length(word))) AS BIGINT) " +
        "AS pos FROM v)), "
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s"nx$r AS (SELECT word, freq, pos, sym, lead(sym) OVER " +
        s"(PARTITION BY word ORDER BY pos) AS sym2 FROM s$p), " +
        s"pc$r AS (SELECT sym, sym2, CAST(sum(freq) AS BIGINT) AS cnt " +
        s"FROM nx$r WHERE sym2 IS NOT NULL GROUP BY 1, 2), " +
        s"b$r AS (SELECT sym AS bx, sym2 AS b_y, cnt FROM pc$r " +
        "ORDER BY cnt DESC, sym ASC, sym2 ASC LIMIT 1), " +
        s"mk$r AS (SELECT n.word, n.freq, n.pos, n.sym, n.sym2, " +
        "(n.sym = b.bx AND n.sym2 = b.b_y) AS mark " +
        s"FROM nx$r n CROSS JOIN b$r b), " +
        s"kp$r AS (SELECT word, freq, pos, TRUE AS kept FROM " +
        "(SELECT word, freq, pos, " +
        "row_number() OVER (PARTITION BY word, island ORDER BY pos) AS rk " +
        "FROM (SELECT word, freq, pos, pos - row_number() OVER " +
        s"(PARTITION BY word ORDER BY pos) AS island FROM mk$r WHERE mark)) " +
        "WHERE rk % 2 = 1), " +
        s"ap$r AS (SELECT coalesce(CAST(sum(freq) AS BIGINT), 0) " +
        s"AS n_merged FROM kp$r), " +
        s"ab$r AS (SELECT word, pos + 1 AS pos, TRUE AS absorbed FROM kp$r), " +
        s"s$r AS (SELECT word, freq, CAST(row_number() OVER " +
        "(PARTITION BY word ORDER BY pos) - 1 AS BIGINT) AS pos, " +
        "CASE WHEN kept THEN sym || sym2 ELSE sym END AS sym FROM " +
        "(SELECT m.word, m.freq, m.pos, m.sym, m.sym2, k.kept, a.absorbed " +
        s"FROM mk$r m LEFT JOIN kp$r k ON k.word = m.word AND k.pos = m.pos " +
        s"LEFT JOIN ab$r a ON a.word = m.word AND a.pos = m.pos) " +
        "WHERE absorbed IS NULL), "
    }.mkString
    base + roundCtes
  }

  /** DuckDB CTE chain mirroring [[graft.ops.DocOps.winnowedFingerprints]]
    * up to the winnow selection (`sel`): normalization, char codes,
    * mod-reduced Rabin-Karp k-gram hash (same `polyPow` coefficients),
    * rightmost-min per w-window. */
  private def winnowSelCte(k: Int, w: Int): String = {
    val terms = (0 until k).map { j =>
      val coeff = graft.ops.DocOps.polyPow(k - 1 - j)
      val code = if (j == 0) "code" else s"lead(code, $j) OVER w"
      if (coeff == 1L) code else s"$code * $coeff"
    }.mkString(" + ")
    s"WITH base AS (SELECT doc_id, regexp_replace(regexp_replace(lower(text), " +
      s"'[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g') AS t FROM documents), " +
      s"chars AS (SELECT doc_id, unnest(range(length(t))) AS i, t " +
      s"FROM base WHERE length(t) >= $k), " +
      s"coded AS (SELECT doc_id, i, " +
      s"CAST(ascii(substr(t, CAST(i + 1 AS INTEGER), 1)) AS BIGINT) AS code FROM chars), " +
      s"hashed AS (SELECT doc_id, i, ($terms) % 2147483647 AS h " +
      s"FROM coded WINDOW w AS (PARTITION BY doc_id ORDER BY i)), " +
      s"sel AS (SELECT doc_id, i, min({'h': h, 'ni': -i}) OVER (" +
      s"PARTITION BY doc_id ORDER BY i ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS m " +
      s"FROM hashed WHERE h IS NOT NULL)"
  }

  /** DuckDB mirror of [[graft.ops.LayoutOps.zorderLayoutAudit]]: the
    * 8-bit equi-width buckets, the 16-term Morton interleave (value
    * bits at even positions, day bits at odd — generated so the term
    * layout cannot drift from LayoutOps.zvalue), and the top-4-bit
    * cell envelopes. */
  private def zorderAuditSql: String = {
    val terms = (for {
      i <- 0 until 8
      (b, j) <- Seq("bv", "bd").zipWithIndex
    } yield s"((($b >> $i) & 1) << ${i * 2 + j})").mkString(" | ")
    def bucket(c: String, lo: String, hi: String) =
      s"CAST(least(greatest(floor(($c - $lo) / " +
        s"(CASE WHEN $hi > $lo THEN $hi - $lo ELSE 1 END) * 256), 0), " +
        s"255) AS BIGINT)"
    "WITH e AS (SELECT value, CAST(datediff('day', DATE '1970-01-01', " +
      "CAST(ts AS DATE)) AS DOUBLE) AS dayn FROM events), " +
      "d AS (SELECT min(value) AS vlo, max(value) AS vhi, " +
      "min(dayn) AS dlo, max(dayn) AS dhi FROM e), " +
      "b AS (SELECT value, dayn, " +
      bucket("value", "vlo", "vhi") + " AS bv, " +
      bucket("dayn", "dlo", "dhi") + " AS bd FROM e, d), " +
      s"z AS (SELECT value, dayn, ($terms) AS zv FROM b) " +
      "SELECT (zv >> 8) AS zcell, count(*) AS n, " +
      "CAST(min(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v_min, " +
      "CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v_max, " +
      "CAST(min(dayn) AS BIGINT) AS d_min, " +
      "CAST(max(dayn) AS BIGINT) AS d_max " +
      "FROM z GROUP BY 1"
  }

  /** MiningOps.rocchioPrfDocs mirrored: two BM25 passes with every
    * per-(doc, term) contribution micro-pinned before its sum, the
    * (score desc, id asc) feedback-doc and expansion-term cuts, and
    * the β-weighted expanded query — built by a helper because the
    * score chain appears twice. */
  private def rocchioPrfSql: String = {
    val q0In = "('join', 'filter', 'scan')"
    def score(tfCte: String, dfCte: String, out: String) =
      s"$out AS (SELECT doc_id, CAST(sum(CAST(round((w * " +
        "((ln((CAST((SELECT n FROM st) AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
        "(CAST(df AS DOUBLE) + 0.5) + 1.0) * (CAST(tf AS DOUBLE) * 2.2)) / " +
        "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / " +
        "(CAST((SELECT total_len FROM st) AS DOUBLE) / " +
        "CAST((SELECT n FROM st) AS DOUBLE))))))) * 1000000.0, 0) AS BIGINT)) " +
        "AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS n_matched " +
        s"FROM $tfCte JOIN $dfCte USING (term) JOIN dl USING (doc_id) " +
        "GROUP BY 1)"
    "WITH toks AS (SELECT doc_id, " +
      "regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(len(toks)) AS BIGINT) AS total_len FROM toks), " +
      "dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks), " +
      "allt AS (SELECT doc_id, unnest(toks) AS term FROM toks), " +
      "q0 AS (SELECT term, CAST(1.0 AS DOUBLE) AS w " +
      s"FROM (VALUES ('join'), ('filter'), ('scan')) t(term)), " +
      "tf1 AS (SELECT doc_id, term, w, CAST(count(*) AS BIGINT) AS tf " +
      "FROM allt JOIN q0 USING (term) GROUP BY 1, 2, 3), " +
      "df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY 1), " +
      score("tf1", "df1", "s1") + ", " +
      "fb AS (SELECT doc_id FROM s1 ORDER BY sm DESC, doc_id ASC LIMIT 10), " +
      "tffb AS (SELECT term, CAST(count(*) AS BIGINT) AS tf_fb " +
      s"FROM allt JOIN fb USING (doc_id) WHERE term NOT IN $q0In GROUP BY 1), " +
      "dfc AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df " +
      "FROM allt JOIN (SELECT term FROM tffb) c USING (term) GROUP BY 1), " +
      "expt AS (SELECT term, CAST(0.5 AS DOUBLE) AS w FROM " +
      "(SELECT tffb.term, CAST(round((CAST(tf_fb AS DOUBLE) * " +
      "ln(CAST((SELECT n FROM st) AS DOUBLE) / CAST(df AS DOUBLE))) * " +
      "1000000.0, 0) AS BIGINT) AS wm " +
      "FROM tffb JOIN dfc USING (term) ORDER BY wm DESC, term ASC LIMIT 5)), " +
      "q2 AS (SELECT term, w FROM q0 UNION ALL SELECT term, w FROM expt), " +
      "tf2 AS (SELECT doc_id, term, w, CAST(count(*) AS BIGINT) AS tf " +
      "FROM allt JOIN q2 USING (term) GROUP BY 1, 2, 3), " +
      "df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY 1), " +
      score("tf2", "df2", "s2") + " " +
      "SELECT s2.doc_id, " +
      "round(CAST(coalesce(s1.sm, 0) AS DOUBLE) / 1000000.0, 6) AS bm25_q0, " +
      "round(CAST(s2.sm AS DOUBLE) / 1000000.0, 6) AS bm25_expanded, " +
      "s2.n_matched " +
      "FROM s2 LEFT JOIN s1 ON s1.doc_id = s2.doc_id " +
      "ORDER BY bm25_expanded DESC, s2.doc_id ASC LIMIT 20"
  }

  /** The xy2d walk of LayoutOps.hilbertIndex replayed layer by layer
    * (one CTE per bit plane, high to low, each referencing the
    * PREVIOUS layer's x/y/hd — DuckDB evaluates layers row-wise, so
    * the mirror stays flat where the Spark expression tree unrolls). */
  private def hilbertAuditSql: String = {
    val bits = 4
    val n = 1L << bits
    def bucket(c: String, lo: String, hi: String) =
      s"CAST(least(greatest(floor(($c - $lo) / " +
        s"(CASE WHEN $hi > $lo THEN $hi - $lo ELSE 1 END) * $n), 0), " +
        s"${n - 1}) AS BIGINT)"
    def rx(s: Long) = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
    def ry(s: Long) = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
    val steps = (0 until bits).map { i =>
      val s = n >> (i + 1)
      s"h${i + 1} AS (SELECT value, dayn, " +
        s"CASE WHEN ${ry(s)} = 0 THEN (CASE WHEN ${rx(s)} = 1 " +
        s"THEN ${n - 1} - y ELSE y END) ELSE x END AS x, " +
        s"CASE WHEN ${ry(s)} = 0 THEN (CASE WHEN ${rx(s)} = 1 " +
        s"THEN ${n - 1} - x ELSE x END) ELSE y END AS y, " +
        s"hd + ${s * s} * CAST(xor(3 * ${rx(s)}, ${ry(s)}) AS BIGINT) AS hd " +
        s"FROM h$i)"
    }.mkString(", ")
    "WITH e AS (SELECT value, CAST(datediff('day', DATE '1970-01-01', " +
      "CAST(ts AS DATE)) AS DOUBLE) AS dayn FROM events), " +
      "d AS (SELECT min(value) AS vlo, max(value) AS vhi, " +
      "min(dayn) AS dlo, max(dayn) AS dhi FROM e), " +
      "h0 AS (SELECT value, dayn, " +
      bucket("value", "vlo", "vhi") + " AS x, " +
      bucket("dayn", "dlo", "dhi") + " AS y, " +
      "CAST(0 AS BIGINT) AS hd FROM e, d), " +
      steps + " " +
      s"SELECT hd AS hcell, count(*) AS n, " +
      "CAST(min(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v_min, " +
      "CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v_max, " +
      "CAST(min(dayn) AS BIGINT) AS d_min, " +
      "CAST(max(dayn) AS BIGINT) AS d_max " +
      s"FROM h$bits GROUP BY 1"
  }

  /** DuckDB mirror of [[graft.ops.DocOps.languageId]]: same stopword
    * regex counts, same first-max-wins argmax (struct sort on
    * (-score, lang) — ascending struct order = score desc, lang asc —
    * matches the fold over alphabetically-sorted languages). */
  private def languageIdSql: String = {
    val langs = graft.ops.DocOps.stopwordPatterns.keys.toSeq.sorted
    val scores = langs.map { l =>
      val pat = graft.ops.DocOps.stopwordPatterns(l).replace("'", "''")
      s"len(regexp_extract_all(lower(text), '$pat')) AS s_$l"
    }.mkString(", ")
    val structs = langs
      .map(l => s"{'s': -s_$l, 'l': '$l'}").mkString("[", ", ", "]")
    val greatest = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    s"WITH s AS (SELECT doc_id, text, lang, source, n_chars, $scores FROM documents) " +
      s"SELECT doc_id, text, lang, source, n_chars, " +
      s"CASE WHEN $greatest = 0 THEN 'und' " +
      s"ELSE (list_sort($structs))[1].l END AS pred_lang FROM s"
  }
}
