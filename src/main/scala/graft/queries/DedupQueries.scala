package graft.queries

import QueryDef._

/**
 * Deduplication operators over `documents`: exact (hash group-by),
 * word-shingle Jaccard (shared-shingle join — the exact algorithm),
 * MinHash+LSH banding, and SimHash fingerprints.
 *
 * Portability: the hash everywhere is `md5` reduced to a 60-bit bigint —
 * `conv(substr(md5(x),1,15),16,10)` in Spark ≡
 * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)` in DuckDB — so even the
 * MinHash/LSH pipeline is oracle-checkable end to end. (A production run at
 * 100 TB would swap md5 for xxhash64 — same plan shape, cheaper hash; see
 * graft.functions.)
 *
 * Scale notes: all pair generation goes through equi-joins on
 * shingle/band keys (shuffle on the key, never a cartesian product);
 * signatures are fixed-width aggregates per doc_id.
 */
object DedupQueries {

  // Hashed 3-token shingles: (doc_id, 60-bit hash), DISTINCT applied on
  // the HASH so the dedup shuffle moves 8-byte ints, never shingle
  // strings (the strings exist only partition-locally, pre-hash).
  // Docs with <3 tokens produce no shingles (guarded explicitly: Spark's
  // sequence(1, 0) yields DESCENDING [1, 0] and slice(w, 0, 3) then throws)
  // graft_shingles60 (graft.functions.ShingleHashes60) computes the
  // per-doc DISTINCT shingle-hash set in one native in-row pass, so no
  // DISTINCT shuffle remains — the old explode + DISTINCT form moved
  // every (doc_id, shingle) pair through a full aggregate first
  private[queries] def sparkShinglesFrom(rel: String): String =
    s"""SELECT doc_id, h
       |FROM (SELECT doc_id, split(text, ' ') AS w FROM $rel
       |      WHERE size(split(text, ' ')) >= 3) d
       |LATERAL VIEW explode(graft_shingles60(w, false)) t AS h""".stripMargin
  private[queries] val sparkShingles = sparkShinglesFrom("documents")

  // unnest(range(...)) instead of lateral generate_series (DuckDB's binder
  // rejects lateral column refs in table functions); range(1, n+1) is empty
  // for n <= 0, so short docs drop out naturally
  private[queries] def duckShinglesFrom(rel: String): String =
    s"""SELECT DISTINCT doc_id,
       |       CAST('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15) AS BIGINT) AS h
       |FROM (SELECT doc_id, w,
       |             unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS i
       |      FROM (SELECT doc_id, string_split(text, ' ') AS w
       |            FROM $rel))""".stripMargin
  private[queries] val duckShingles = duckShinglesFrom("documents")

  // graft_hash60 = codegen'd md5-prefix (graft.functions.Hash60),
  // bit-identical to the portable conv(substr(md5)) form duckHash60 uses
  private val sparkHash60 = "graft_hash60(%s)"
  private val duckHash60 =
    "CAST('0x' || substr(md5(%s), 1, 15) AS BIGINT)"

  // Document-frequency cutoff for d03: shingles in more docs than this
  // are dropped before pair generation (k docs sharing a shingle -> k^2
  // join pairs; boilerplate shingles at corpus scale would dominate the
  // shuffle). 64 is far above any fixture shingle's df, so small-scale
  // results are unchanged; at 100 TB it is the standard stop-shingle cap.
  val hotShingleDf = 64

  // 8 fixed universal-hash (a, b) pairs for the MinHash permutations —
  // the single source of truth lives beside the native one-pass
  // expression so the SQL and in-row forms cannot drift
  private[graft] val minhashAB = graft.functions.MinHash8.AB
  private val minhashCols = minhashAB.zipWithIndex.map { case ((a, b), i) =>
    s"min((hb * $a + $b) % 1073741789) AS mh$i"
  }.mkString(", ")

  // 48 per-bit balance aggregates (wide columns, dialect-specific shift op)
  private def simhashBals(shift: Int => String): String =
    (0 until 48).map(j =>
      s"sum(CASE WHEN (${shift(j)} & 1) = 1 THEN 1 ELSE -1 END) AS bal$j")
      .mkString(", ")
  // fold the 48 sign bits back into one 48-bit fingerprint
  private val simhashSum = (0 until 48).map(j =>
    s"(CASE WHEN bal$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  // d04's pipeline as reusable CTE fragments (d04 itself, d08's cluster
  // closure, and p04's leakage-safe split all build on the same pair graph)
  // the whole shingle -> minhash pipeline runs in-row (ShingleHashes60 +
  // MinHash8, both native): no shingle explode, no per-permutation
  // GROUP BY shuffle — a document enters the exchange only as its 4
  // (band, sig) keys. Bit-identical to the old sh/shh/hs CTE chain
  // (same hashes, same AB constants via minhashAB).
  private[graft] def sparkMinhashCtesFrom(rel: String): String =
    s"""hs AS (
       |  SELECT doc_id, graft_minhash8(graft_shingles60(split(text, ' '))) AS mh
       |  FROM $rel WHERE size(split(text, ' ')) >= 3),
       |bands AS (
       |  SELECT /*+ REPARTITION(band, sig) */ doc_id, b.band, b.sig, mh FROM hs
       |  LATERAL VIEW explode(array(
       |    struct(0 AS band, concat(mh[0], ':', mh[1]) AS sig),
       |    struct(1 AS band, concat(mh[2], ':', mh[3]) AS sig),
       |    struct(2 AS band, concat(mh[4], ':', mh[5]) AS sig),
       |    struct(3 AS band, concat(mh[6], ':', mh[7]) AS sig))) t AS b)""".stripMargin
  // ^ the REPARTITION exchange is load-bearing, not a tuning knob: the
  // pair join self-joins `bands`, and without an exchange below it each
  // join side (broadcast build + probe) would recompute the whole in-row
  // md5/minhash derivation — the exchange is what ReuseExchange dedups,
  // and it doubles as the join's (band, sig) co-partitioning (measured:
  // d04 at sf1 3.6 s without it, 2.2 s with)
  private[graft] val sparkMinhashCtes: String = sparkMinhashCtesFrom("documents")

  private[queries] def duckMinhashCtesFrom(rel: String): String =
    s"""sh AS (${duckShinglesFrom(rel)}),
       |shh AS (SELECT doc_id, h % 1073741789 AS hb FROM sh),
       |hs AS (SELECT doc_id, $minhashCols FROM shh GROUP BY doc_id),
       |ub AS (
       |  SELECT doc_id, unnest([
       |    {'band': 0, 'sig': CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)},
       |    {'band': 1, 'sig': CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR)},
       |    {'band': 2, 'sig': CAST(mh4 AS VARCHAR) || ':' || CAST(mh5 AS VARCHAR)},
       |    {'band': 3, 'sig': CAST(mh6 AS VARCHAR) || ':' || CAST(mh7 AS VARCHAR)}]) AS u
       |  FROM hs),
       |bands AS (SELECT doc_id, u.band AS band, u.sig AS sig FROM ub)""".stripMargin
  private[queries] val duckMinhashCtes: String = duckMinhashCtesFrom("documents")

  // identical text in both dialects
  private[graft] val minhashPairsSelect: String =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin

  // d06's SimHash banding pipeline as CTE fragments (`bands` = (doc_id,
  // sh fingerprint, band index b, 12-bit band value bv)). d06-only now:
  // d09 moved to the MinHash bands after the 12-bit SimHash bands proved
  // collision-heavy on this template-generated corpus
  private[queries] val sparkSimhashBandCtes: String =
    s"""toks AS (
       |  SELECT DISTINCT doc_id, tok
       |  FROM documents LATERAL VIEW explode(split(text, ' ')) x AS tok),
       |th AS (SELECT doc_id, ${sparkHash60.format("tok")} AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, ${simhashBals(j => s"shiftright(h, $j)")}
       |  FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($simhashSum AS BIGINT) AS sh FROM bits),
       |bands AS (
       |  SELECT doc_id, sh, b, shiftright(sh, b * 12) & 4095 AS bv
       |  FROM fp LATERAL VIEW explode(array(0, 1, 2, 3)) t AS b)""".stripMargin

  private[queries] val duckSimhashBandCtes: String =
    s"""toks AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id, ${duckHash60.format("tok")} AS h FROM toks),
       |bits AS (
       |  SELECT doc_id, ${simhashBals(j => s"(h >> $j)")}
       |  FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($simhashSum AS BIGINT) AS sh FROM bits),
       |bands AS (
       |  SELECT doc_id, sh, b, (sh >> (b * 12)) & 4095 AS bv
       |  FROM fp, unnest([0, 1, 2, 3]) AS u(b))""".stripMargin

  /** The d04 near-dup pair graph as a DataFrame (input to d08/p04). */
  private[graft] def minhashPairs(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    spark.sql(s"WITH $sparkMinhashCtes\n$minhashPairsSelect")

  /** DuckDB-side transitive closure of the pair graph: (doc_id, rep_id)
    * with rep = component minimum — the oracle for the distributed
    * large-star/small-star in graft.ops.ConnectedComponents. Exponential
    * in nothing but fine at oracle scale; the Spark side is the one that
    * has to survive 100 TB. */
  private[queries] val duckClusterLabels: String =
    s"""WITH RECURSIVE $duckMinhashCtes,
       |pairs AS ($minhashPairsSelect),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT s, d FROM edges
       |          UNION
       |          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
       |          WHERE e.d <> r.s),
       |labels AS (
       |  SELECT CAST(s AS BIGINT) AS doc_id,
       |         CAST(least(s, min(d)) AS BIGINT) AS rep_id
       |  FROM reach GROUP BY s)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // exact dedup: group-size histogram of identical texts
    common("d01_exact_dedup",
      """SELECT dup_count, count(*) AS n_groups
        |FROM (SELECT md5(text) AS h, count(*) AS dup_count
        |      FROM documents GROUP BY md5(text)) g
        |GROUP BY dup_count""".stripMargin),

    // exact dedup survivors: smallest doc_id per distinct text, per source
    common("d02_exact_survivors",
      """SELECT source, count(*) AS n_survivors, min(keep_id) AS first_keep
        |FROM (SELECT source, md5(text) AS h, min(doc_id) AS keep_id
        |      FROM documents GROUP BY source, md5(text)) s
        |GROUP BY source""".stripMargin),

    // exact n-gram Jaccard via per-shingle pair expansion (no LSH, no
    // cartesian, no shuffle self-join): one GROUP BY shingle hash yields
    // the capped doc list per shingle; candidate pairs are expanded
    // MAP-SIDE from each list (bounded by the cap at <= cap^2/2 pairs
    // per shingle) and counted with one shuffle on (doc_a, doc_b).
    // Hot-shingle cap: a shingle occurring in > hotShingleDf docs (web
    // boilerplate) contributes k^2 candidate pairs while carrying ~zero
    // similarity signal — dropped from the shingle SET (sizes and
    // intersections consistently, both dialects, so the oracle matches)
    // by the same aggregation's HAVING.
    // The 60-bit hash keeps the GROUP BY key 8 bytes; collisions are
    // identical on both engines, so results stay comparable.
    dialect("d03_ngram_jaccard",
      s"""WITH shh0 AS ($sparkShingles),
         |byh AS (
         |  SELECT h, sort_array(collect_list(doc_id)) AS ds
         |  FROM shh0 GROUP BY h HAVING count(*) <= $hotShingleDf),
         |sizes AS (
         |  SELECT d AS doc_id, count(*) AS sz
         |  FROM byh LATERAL VIEW explode(ds) x AS d GROUP BY d),
         |inter AS (
         |  SELECT da AS doc_a, db AS doc_b, count(*) AS inter_cnt
         |  FROM byh
         |  LATERAL VIEW explode(ds) x AS da
         |  LATERAL VIEW explode(ds) y AS db
         |  WHERE da < db GROUP BY da, db)
         |SELECT doc_a, doc_b, inter_cnt,
         |       sa.sz + sb.sz - inter_cnt AS union_cnt
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE inter_cnt * 2 >= sa.sz + sb.sz - inter_cnt""".stripMargin,
      s"""WITH shh0 AS ($duckShingles),
         |byh AS (
         |  SELECT h, list_sort(list(doc_id)) AS ds
         |  FROM shh0 GROUP BY h HAVING count(*) <= $hotShingleDf),
         |sizes AS (
         |  SELECT d AS doc_id, count(*) AS sz
         |  FROM byh, unnest(ds) AS x(d) GROUP BY d),
         |inter AS (
         |  SELECT da AS doc_a, db AS doc_b, count(*) AS inter_cnt
         |  FROM byh, unnest(ds) AS x(da), unnest(ds) AS y(db)
         |  WHERE da < db GROUP BY da, db)
         |SELECT doc_a, doc_b, inter_cnt,
         |       sa.sz + sb.sz - inter_cnt AS union_cnt
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE inter_cnt * 2 >= sa.sz + sb.sz - inter_cnt""".stripMargin),

    // MinHash (8 permutations) + LSH (4 bands of 2): candidate pairs.
    // ONE md5 per distinct shingle; the 8 permutations are universal
    // hashes (a*h + b) mod p with fixed odd constants — integer
    // arithmetic both engines evaluate identically (hb < 2^30, a < 2^26,
    // so every intermediate < 2^56: no overflow on either side). The 8
    // minima are WIDE aggregate columns of one GROUP BY doc_id — no 8x
    // row explosion, one shuffle (at 100 TB the explode variant shuffles
    // 8x the rows; this shape shuffles each doc once).
    // the Spark side serves the session-cached pair graph (PairGraph —
    // one banded-join execution shared with d11 and the d08 closure);
    // the oracle recomputes it from scratch in DuckDB, so the cache's
    // contents stay externally hash-gated every round
    QueryDef("d04_minhash_lsh",
      (spark, sfDir) => { views(spark, sfDir); PairGraph.pairs(spark, sfDir) },
      Some(s"WITH $duckMinhashCtes\n$minhashPairsSelect")),

    // SimHash: 48-bit locality-sensitive fingerprint per document. The 48
    // bit balances are wide aggregate columns of ONE GROUP BY doc_id —
    // the naive shape explodes every token 48x and shuffles twice; this
    // shuffles each (doc, token) hash once and folds bits in-expression
    dialect("d05_simhash",
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, tok
         |  FROM documents LATERAL VIEW explode(split(text, ' ')) x AS tok),
         |th AS (SELECT doc_id, ${sparkHash60.format("tok")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, ${simhashBals(j => s"shiftright(h, $j)")}
         |  FROM th GROUP BY doc_id)
         |SELECT doc_id, CAST($simhashSum AS BIGINT) AS simhash
         |FROM bits""".stripMargin,
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, ${duckHash60.format("tok")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, ${simhashBals(j => s"(h >> $j)")}
         |  FROM th GROUP BY doc_id)
         |SELECT doc_id, CAST($simhashSum AS BIGINT) AS simhash
         |FROM bits""".stripMargin),

    // SimHash near-duplicate clustering via banded Hamming LSH (the
    // Manku/Google production shape): the 48-bit fingerprint splits into
    // 4 bands of 12 bits; docs are band-mates iff SOME band matches
    // exactly (guaranteed recall for hamming <= 3, approximate above).
    // Output is ONE ROW PER DOC — its cluster representative = the
    // smallest doc_id among its hamming<=8 band-mates (single-pass label
    // propagation, self for isolated docs). The equi-join on (band,
    // 12-bit value) replaces the O(n^2) all-pairs scan, and the min
    // aggregate combines map-side — candidate PAIRS are never
    // materialized (a near-dup cluster of k docs would emit k^2 pairs;
    // measured 3M pairs on the sf0.1 corpus before this shape).
    // Spark side: the band equi-join runs through SkewJoin.saltedJoin —
    // the (band, band_value) key domain is 4 × 4096 and this corpus's
    // template clusters concentrate MILLIONS of band-mate rows on a few
    // hot keys (measured at sf0.1), so a plain shuffle join sends every
    // row of a hot band to ONE reducer which then emits that band's k²
    // join output alone. Salting spreads each hot key's probe rows over
    // 8 reducers (right side replicated 8×, the documented trade) and the
    // min-mate aggregate combines map-side. Docs without a qualifying
    // mate re-enter via the left fill join, matching the SQL LEFT JOIN.
    QueryDef("d06_simhash_neardup",
      (spark, sfDir) => {
        views(spark, sfDir)
        import org.apache.spark.sql.functions.min
        val bands = spark.sql(
          s"WITH $sparkSimhashBandCtes\nSELECT doc_id, sh, b, bv FROM bands")
        val probe = bands.selectExpr("doc_id", "sh", "b * 4096 + bv AS bkey")
        val mates = bands.selectExpr(
          "doc_id AS c_doc_id", "sh AS c_sh", "b * 4096 + bv AS c_bkey")
        val mateMin = graft.ops.SkewJoin
          .saltedJoin(probe, mates, "bkey", "c_bkey", salts = 8)
          .where("c_doc_id < doc_id AND bit_count(sh ^ c_sh) <= 8")
          .groupBy("doc_id").agg(min("c_doc_id").as("mate_min"))
        bands.select("doc_id").distinct()
          .join(mateMin, Seq("doc_id"), "left")
          .selectExpr("doc_id",
            "least(doc_id, coalesce(mate_min, doc_id)) AS rep_id")
      },
      Some(s"""WITH $duckSimhashBandCtes
         |SELECT a.doc_id,
         |       least(a.doc_id, coalesce(min(
         |         CASE WHEN bit_count(CAST(xor(a.sh, c.sh) AS BIGINT)) <= 8 THEN c.doc_id END),
         |         a.doc_id)) AS rep_id
         |FROM bands a LEFT JOIN bands c
         |  ON a.b = c.b AND a.bv = c.bv AND c.doc_id < a.doc_id
         |GROUP BY a.doc_id""".stripMargin)),

    // benchmark decontamination: which training docs share an n-gram with
    // the held-out evaluation set (here: every 41st doc stands in for the
    // benchmark suite)? The production shape for train/test-overlap checks:
    // the benchmark side reduces to a DISTINCT set of 8-byte shingle
    // hashes — tiny next to the corpus, so at 100 TB it broadcasts and the
    // whole check is one map-side hash-join pass over the training
    // shingles plus one count-by-doc shuffle. Never an all-pairs compare.
    dialect("d07_decontamination",
      s"""WITH sh AS ($sparkShingles),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 41 = 0)
         |SELECT s.doc_id, count(*) AS n_shared
         |FROM sh s JOIN bench b ON s.h = b.h
         |WHERE s.doc_id % 41 <> 0
         |GROUP BY s.doc_id""".stripMargin,
      s"""WITH sh AS ($duckShingles),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 41 = 0)
         |SELECT s.doc_id, count(*) AS n_shared
         |FROM sh s JOIN bench b ON s.h = b.h
         |WHERE s.doc_id % 41 <> 0
         |GROUP BY s.doc_id""".stripMargin),

    // transitive duplicate CLUSTERS over the d04 pair graph: A~B and B~C
    // must collapse {A,B,C} to one representative even when A and C share
    // no LSH band — the step d04 (pairs) and d06 (1-hop band-mate reps)
    // stop short of. Spark side: alternating large-star/small-star
    // connected components (graft.ops.ConnectedComponents — groupBy-min +
    // equi-join per round, O(log n) rounds, no adjacency lists), the shape
    // that survives a 100 TB pair graph. Oracle side: DuckDB recursive-CTE
    // transitive closure — exact, viable only at oracle scale. Output: one
    // row per doc incident to >= 1 near-dup pair, labeled with its
    // component-minimum representative.
    QueryDef("d08_dup_clusters",
      (spark, sfDir) => {
        views(spark, sfDir)
        // session-cached closure — shared with d10/p04 (ClusterLabels)
        ClusterLabels.labels(spark, sfDir)
      },
      Some(s"""$duckClusterLabels
         |SELECT doc_id, rep_id FROM labels""".stripMargin)),

    // edit-distance near-dup: the cheap-filter → expensive-verifier
    // composition that every fuzzy-dedup pipeline at scale reduces to,
    // stacked the way production stacks it:
    //   1. EXACT-dup collapse first (GROUP BY text) — verbatim copies are
    //      the bulk of any crawl corpus and must never reach the verifier
    //      (k copies would be k² identical-text levenshtein calls);
    //   2. candidates from the MINHASH band equi-join over the collapsed
    //      corpus — 2×30-bit signature equality, far more selective than a
    //      12-bit SimHash band (whose template-cluster collisions were
    //      measured in the millions on this corpus: the d06 comment);
    //   3. only surviving candidate pairs pay the O(n*m) levenshtein DP,
    //      with a relative threshold (dist <= 20% of the longer text).
    // At 100 TB the verifier cost is linear in true near-dup pairs, not in
    // band-bucket populations. Both engines evaluate levenshtein on
    // characters with identical semantics. (The `verified` CTE names the
    // distance once; note Catalyst still pushes the threshold predicate
    // back through the projection, so a SURVIVING pair pays the DP a
    // second time in the project — survivors are a tiny fraction of
    // candidates, so the filter-side evaluation dominates either way.)
    dialect("d09_editdist_neardup",
      s"""WITH uniq AS (
         |  SELECT min(doc_id) AS doc_id, text
         |  FROM documents GROUP BY text),
         |${sparkMinhashCtesFrom("uniq")},
         |cand AS ($minhashPairsSelect),
         |verified AS (
         |  SELECT doc_a, doc_b,
         |         CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
         |         greatest(length(ta.text), length(tb.text)) AS max_len
         |  FROM cand
         |  JOIN uniq ta ON ta.doc_id = cand.doc_a
         |  JOIN uniq tb ON tb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, edit_dist
         |FROM verified
         |WHERE edit_dist * 5 <= max_len""".stripMargin,
      s"""WITH uniq AS (
         |  SELECT min(doc_id) AS doc_id, text
         |  FROM documents GROUP BY text),
         |${duckMinhashCtesFrom("uniq")},
         |cand AS ($minhashPairsSelect),
         |verified AS (
         |  SELECT doc_a, doc_b,
         |         CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
         |         greatest(length(ta.text), length(tb.text)) AS max_len
         |  FROM cand
         |  JOIN uniq ta ON ta.doc_id = cand.doc_a
         |  JOIN uniq tb ON tb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, edit_dist
         |FROM verified
         |WHERE edit_dist * 5 <= max_len""".stripMargin),

    // survivor selection over the d08 clusters — the policy step that
    // turns "these docs are duplicates" into "keep THIS one": per cluster,
    // keep the member with the most content (token count), tiebreak to
    // the smallest doc_id so retries and both engines elect identically.
    // The argmax is a struct-min aggregate ((-n_tok, doc_id) ordering) —
    // map-side combinable, one shuffle on rep_id, no window sort. This is
    // deliberately a DIFFERENT policy than the rep itself (the rep is the
    // component minimum, a canonical NAME; the survivor is a QUALITY
    // choice) — conflating them loses content whenever the smallest id
    // isn't the best copy.
    QueryDef("d10_cluster_survivors",
      (spark, sfDir) => {
        views(spark, sfDir)
        import org.apache.spark.sql.functions.expr
        // session-cached closure (shared with d08/p04) joined directly as
        // a DataFrame — no temp view, so concurrent invocations on one
        // session can't race and user views can't be clobbered
        ClusterLabels.labels(spark, sfDir)
          .join(spark.table("documents"), "doc_id")
          .selectExpr("rep_id", "doc_id", "size(split(text, ' ')) AS n_tok")
          .groupBy("rep_id")
          .agg(
            expr("min(struct(-n_tok AS nt, doc_id AS id)).id").as("survivor_id"),
            expr("count(*)").as("n_members"),
            expr("CAST(max(n_tok) AS BIGINT)").as("max_tok"))
      },
      Some(s"""$duckClusterLabels,
         |mem AS (
         |  SELECT l.rep_id, l.doc_id,
         |         len(string_split(d.text, ' ')) AS n_tok
         |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
         |SELECT rep_id,
         |       (min({'nt': -n_tok, 'id': doc_id})).id AS survivor_id,
         |       count(*) AS n_members,
         |       CAST(max(n_tok) AS BIGINT) AS max_tok
         |FROM mem GROUP BY rep_id""".stripMargin)),

    // cross-source contamination matrix: which SOURCE pairs share
    // near-duplicate content (crawl snapshots re-crawling each other,
    // a benchmark leaking into a dump). Reuses the d04 LSH pair graph —
    // the same shared band table and streamed expansion — then
    // attributes each candidate pair to its unordered source pair. The
    // doc_id->source lookup is BROADCAST when the corpus row count says
    // the ~16 bytes/doc projection fits an executor (footer-stat guard,
    // 256 MB cap ≈ 10M docs): the pair stream is unbounded on dup-heavy
    // corpora (quadratic in clique size) and should not be shuffled. Past
    // the cap — or when the count is unknowable — forcing the hint would
    // trade a planner decision for a driver/executor OOM, so the hint is
    // dropped and the planner picks the shuffle-join shape.
    QueryDef("d11_source_contamination",
      (spark, sfDir) => {
        views(spark, sfDir)
        import org.apache.spark.sql.functions.{broadcast, expr}
        val docs = spark.table("documents")
        val estBytes = docs.queryExecution.optimizedPlan
          .collectFirst {
            case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              lr
          }
          .flatMap(graft.rpt.ParquetFooters.rowCount)
          .map(_ * 24L) // doc_id + short source string, encoded
        val hint: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          if (estBytes.exists(_ <= 256L * 1024 * 1024)) broadcast else identity
        PairGraph.pairs(spark, sfDir)
          .join(hint(
            docs.selectExpr("doc_id AS doc_a", "source AS src_a")), "doc_a")
          .join(hint(
            docs.selectExpr("doc_id AS doc_b", "source AS src_b")), "doc_b")
          .selectExpr(
            "least(src_a, src_b) AS source_a",
            "greatest(src_a, src_b) AS source_b",
            "CASE WHEN src_a <> src_b THEN 1L ELSE 0L END AS x")
          .groupBy("source_a", "source_b")
          .agg(
            expr("count(*)").as("n_pairs"),
            expr("CAST(sum(x) AS BIGINT)").as("n_cross"))
      },
      Some(s"""WITH $duckMinhashCtes,
         |pairs AS ($minhashPairsSelect)
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_pairs,
         |       CAST(sum(CASE WHEN da.source <> db.source THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_cross
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |GROUP BY least(da.source, db.source), greatest(da.source, db.source)""".stripMargin))
  )
}
