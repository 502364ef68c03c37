package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator-family conformance query
  * from SURVEY.md §2 (or a north-star extension); [[oracleSql]] holds
  * its DuckDB twin over the same parquet tables. Column names/types are
  * aliased identically on both sides (the driver sorts columns by name
  * and hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"   -> Relational.pricingSummary _,
    "q02_ship_priority"     -> Relational.shipPriority _,
    "q03_brand_volume"      -> Relational.brandVolume _,
    "q04_semi_join_exists"  -> Relational.ordersWithBigLines _,
    "q05_anti_join"         -> Relational.customersWithoutOrders _,
    "q06_outer_join_counts" -> Relational.nationCustomerCounts _,
    "q07_latest_event_per_user" -> Relational.latestEventPerUser _,
    "q08_top3_orders_per_customer" -> Relational.top3OrdersPerCustomer _,
    "q09_boolean_gates"     -> Relational.booleanGates _,
    "q10_per_source_counts" -> Relational.perSourceCounts _,
    "q11_sources_per_lang"  -> Relational.sourcesPerLang _,
    "q12_union_distinct"    -> Relational.unionDistinctKeys _,
    "q13_try_cast_props"    -> Relational.tryCastProps _,
    "q14_rollup_orders"     -> Relational.rollupOrders _,
    "q15_dep_scan_docs"     -> RefAnalog.depScanDocs _,
    "q16_owners_glob_join"  -> RefAnalog.ownersDocs _,
    "q17_review_gate"       -> RefAnalog.reviewGateEvents _,
    "q18_utm_attribution"   -> RefAnalog.utmAttribution _,
    "q19_exact_dedup"       -> LlmOps.exactDedup _,
    "q20_jaccard_pairs"     -> ((s, d) => LlmOps.jaccardPairs(s, d)),
    "q21_minhash_lsh_pairs" -> LlmOps.lshCandidatePairs _,
    "q22_simhash"           -> TextOps.simhash _,
    "q23_text_stats"        -> TextOps.textStats _,
    "q24_lang_id"           -> TextOps.langId _,
    "q25_token_counts"      -> TextOps.tokenCounts _,
    "q26_winnow_fingerprint" -> ((s, d) => TextOps.winnowFingerprint(s, d)),
    "q27_ann_topk"          -> ((s, d) => Embeddings.annTopK(s, d)),
    "q28_media_meta"        -> Multimodal.mediaMeta _,
    "q29_embedding_neardup" -> ((s, d) => Embeddings.cosineNearDupPairs(s, d)),
    "q30_event_windows"     -> graft.stream.EventWindows.windowedTypeCountsBatch _,
    "q31_ivf_topk"          -> ((s, d) => Embeddings.ivfTopK(s, d)),
    "q32_neardup_clusters"  -> ((s, d) => LlmOps.nearDupClusters(s, d)),
    "q33_embedding_clusters" -> ((s, d) => Embeddings.nearDupClusters(s, d)),
    // the SCALE configuration of the embedding near-dup family, oracle-
    // gated: planes sized by planesFor (not the pinned toy 4), two
    // independent sketch bands. The count() is a sizing-only aggregate
    // action (no data moves to the driver) — the same count the oracle
    // runs to derive its plane budget.
    "q34_neardup_scaled"    -> ((s, d) => {
      val n = Tables.embeddings(s, d).count()
      Embeddings.cosineNearDupPairs(s, d,
        planes = Embeddings.planesFor(n, targetBucket = 64), bands = 2)
    }),
    "q35_corpus_curation"   -> ((s, d) => LlmOps.curateCorpus(s, d)),
    "q36_train_split"       -> ((s, d) => Sampling.hashSplit(s, d)),
    "q37_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(s, d)),
    "q38_benchmark_overlap" -> ((s, d) => LlmOps.benchmarkOverlap(s, d)),
    "q39_sequence_packing"  -> ((s, d) => Sampling.packSequences(s, d)),
    "q40_stratum_cap"       -> ((s, d) => Sampling.stratumCapSample(s, d)),
    "q41_repetition_stats"  -> TextOps.repetitionStats _,
    "q42_cluster_keep_best" -> ((s, d) => LlmOps.clusterKeepBest(s, d)),
    "q43_vocab_topk"        -> ((s, d) => TextOps.vocabTopK(s, d)),
    "q44_cross_source_dups" -> ((s, d) => LlmOps.crossSourceDupReport(s, d)),
    "q45_brute_topk"        -> ((s, d) => Embeddings.bruteTopK(s, d)),
    "q46_sliding_chunks"    -> ((s, d) => Sampling.slidingChunks(s, d)),
    "q47_session_stats"     -> graft.stream.EventWindows.sessionStatsBatch _,
    "q48_source_mix"        -> ((s, d) => Sampling.sourceMix(s, d)),
    "q49_corpus_profile"    -> Relational.corpusProfile _,
    "q50_overlap_bloom"     -> ((s, d) => LlmOps.benchmarkOverlapBloom(s, d)),
    "q51_lang_pivot"        -> Relational.langPivot _,
    "q52_range_join"        -> ((s, d) => Temporal.rangeJoinConversions(s, d)),
    "q53_asof_join"         -> Temporal.asofLastClick _,
    "q54_cube_orders"       -> Relational.cubeOrders _,
    "q55_daily_gap_fill"    -> Relational.dailyGapFill _,
    "q56_substring_dedup"   -> ((s, d) => LlmOps.substringDedup(s, d)),
    "q57_nfc_normalize"     -> TextOps.nfcNormalize _,
    "q58_rolling_revenue"   -> Relational.rollingRevenue _,
    "q59_length_deciles"    -> Relational.lengthDeciles _,
    "q60_profile_unpivot"   -> Relational.profileUnpivot _,
    "q61_bpe_pairs"         -> ((s, d) => TextOps.bpePairCounts(s, d)),
    "q62_label_centroids"   -> Embeddings.labelCentroids _,
    "q63_engaged_purchasers" -> Relational.engagedPurchasers _,
    "q64_event_navigation"  -> Temporal.eventNavigation _,
    // q65 grades accuracy-band BOOLEANS vs in-query exact twins
    // (VERDICT r12 #1): the sketch VALUES stay un-oracled (engine-
    // specific internals), but the bands are engine-invariant, so the
    // row is hash-oracle-able — DuckDB replays with its own sketches.
    "q65_approx_profile"    -> Relational.approxProfile _,
    "q66_price_stats"       -> Relational.priceStats _,
    "q67_order_marginals"   -> Relational.orderMarginals _,
    "q68_semantic_dedup"    -> ((s, d) => Embeddings.semanticDedup(s, d)),
    "q69_skew_salted_join"  -> ((s, d) => Skew.skewedEventSegments(s, d)),
    "q70_semantic_scaled"   -> ((s, d) => Embeddings.semanticDedupScaled(s, d)),
    "q71_bm25_topk"         -> Retrieval.bm25TopKDocs _,
    "q72_lm_perplexity"     -> TextOps.lmPerplexityScores _,
    "q73_dsir_select"       -> Dsir.dsirSelectDocs _,
    "q74_temperature_mix"   -> Sampling.temperatureMix _,
    "q75_ngram_novelty"     -> ((s, d) => LlmOps.ngramNovelty(s, d)),
    "q76_semantic_twolevel" -> ((s, d) => Embeddings.semanticDedupTwoLevel(s, d)),
    "q77_pq_topk"           -> ((s, d) => Pq.pqTopK(s, d)),
    "q78_knn_classify"      -> ((s, d) => Pq.knnClassify(s, d)),
    "q79_ivfpq_topk"        -> ((s, d) => Pq.ivfPqTopK(s, d)),
    "q80_pq_scaled"         -> ((s, d) => Pq.pqTopKScaled(s, d)),
    "q81_sq8_topk"          -> ((s, d) => Sq.sq8TopK(s, d)),
    "q82_ivfsq8_topk"       -> ((s, d) => Sq.ivfSq8TopK(s, d)),
    "q83_pq_refine"         -> ((s, d) => Pq.pqRefineTopK(s, d)),
    // the ROUTED serve on the graded surface (VERDICT r10 #6): train
    // the pinned quantizer, then serve through the TWO-LEVEL probe
    // path (nSuper = superFor(nCells) = 4 groups at the oracle scale,
    // so the grouped kernel really executes) at a SATURATING
    // nSuperProbe — every group probed — which the pinned
    // probeGrouped property makes bit-exact to the exact serve, so
    // the q31 oracle applies verbatim. EmbeddingsSpec asserts the
    // analyzed plan carries the routed expression (this entry must
    // never silently degenerate to the exact kernel).
    "q84_ivf_routed_serve"  -> ((s, d) => {
      val cents = Embeddings.trainQuantizer(s, d)
      Embeddings.ivfTopKServeRouted(s, d, cents,
        nSuperProbe = Embeddings.OracleCells)
    }),
    "q85_ivfpq_sq8_refine"  -> ((s, d) => Sq.ivfPqSq8RefineTopK(s, d)),
    "q86_filtered_ivfsq8"   -> ((s, d) => Sq.ivfSq8TopKFiltered(s, d)),
    "q87_ivfsq8_frozen_ingest" -> ((s, d) => Sq.ivfSq8FrozenIngestTopK(s, d)),
    "q88_hybrid_rrf"        -> ((s, d) => Retrieval.hybridRrfDocs(s, d)),
    "q89_range_search"      -> ((s, d) => Sq.ivfSq8RangeSearch(s, d)),
    "q90_delete_serve"      -> ((s, d) => Sq.ivfSq8DeleteTopK(s, d)),
    "q91_pq_balanced"       -> ((s, d) => Pq.pqTopKBalanced(s, d)),
    "q92_mmr_rerank"        -> ((s, d) => Mmr.mmrRerankTopK(s, d)),
    "q93_rm3_expansion"     -> ((s, d) => Retrieval.bm25Rm3TopK(s, d)),
    "q94_fuzzy_dedup"       -> ((s, d) => LlmOps.fuzzyDupPairs(s, d)),
    "q95_bm25_frozen_ingest" -> ((s, d) => Retrieval.bm25FrozenIngestTopK(s, d)),
    "q96_triplet_mine"      -> ((s, d) => Sq.ivfSq8TripletMine(s, d)),
    "q97_leakage_split"     -> ((s, d) => Sampling.leakageSafeSplit(s, d)),
    "q98_refine_scaled"     -> ((s, d) => Pq.pqRefineScaled(s, d)),
    "q99_pii_redact"        -> Pii.piiRedact _,
  )

  /** Shared DuckDB CTE fragments for the n-gram shingle family — ONE
    * definition of the n=3 / maxDf=50 cap semantics, mirroring
    * [[LlmOps]]' single `cappedShingles` on the Spark side: editing a
    * default in one engine but not the other must fail EVERY query of
    * the family, not silently diverge a single oracle. Used by q20,
    * q32, q35, q38, q42, q44. */
  private val ShingleCtes =
    """words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh0 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
                FROM words, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 50),
         sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)"""

  /** Thresholded Jaccard pair stream over [[ShingleCtes]] (threshold
    * 0.2); carries inter/n1/n2/jaccard so every consumer — the q20
    * report, the component fixpoints, the q44 rollup — reads the one
    * definition and ignores what it doesn't need. */
  private val PairCtes =
    """pairs0 AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
                     CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) AS jaccard
                   FROM pairs0
                   JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
                   WHERE CAST(inter AS DOUBLE)/(s1.n + s2.n - inter) >= 0.2)"""

  /** Connected components over [[PairCtes]] by recursive reachability
    * (requires WITH RECURSIVE at the consumer): comp = (doc_id,
    * cluster_id = min reachable node). Used by q32, q35, q42. */
  private val ComponentCtes =
    """edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
         reach AS (
           SELECT a AS node, a AS r FROM (SELECT DISTINCT a FROM edges) t
           UNION
           SELECT e.a AS node, r.r FROM edges e JOIN reach r ON e.b = r.node),
         comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)"""

  /** Exact quantized-cosine threshold predicate over two `v` aliases —
    * ONE definition of q29's scoring formula (codegen `vec_dot` dot /
    * one sqrt over the norm product) for every vector-pairs oracle
    * (q33's LSH buckets, q68's IVF cells): a drifted threshold or
    * formula on the Spark side ([[graft.ops.Embeddings]] scorePairs)
    * must fail BOTH consumers. The threshold is the single-sourced
    * [[graft.ops.Embeddings.OracleThreshold]] (ADVICE r6). */
  private def VecCosineGE(x: String, y: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1,64), i -> $x.qv[i]*$y.qv[i])) AS DOUBLE)
                 / sqrt(CAST($x.nrm AS DOUBLE)*CAST($y.nrm AS DOUBLE)) >= ${Embeddings.OracleThreshold}"""

  /** Vector-side resolution tail shared by q33 and q68 (recursive
    * reachability over a `pairs(d1, d2)` CTE + the full-table
    * drop-list SELECT — [[graft.ops.LlmOps.dropList]]'s contract);
    * requires WITH RECURSIVE at the consumer. One definition: a
    * drifted survivor rule fails both oracles, not one. */
  private val VecComponentSql =
    """edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION ALL SELECT d2 AS a, d1 AS b FROM pairs),
         reach AS (
           SELECT a AS node, a AS r FROM (SELECT DISTINCT a FROM edges) t
           UNION
           SELECT e.a AS node, r.r FROM edges e JOIN reach r ON e.b = r.node),
         comp AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node)
         SELECT e.vec_id, coalesce(c.cluster_id, e.vec_id) AS cluster_id,
                coalesce(c.cluster_id, e.vec_id) = e.vec_id AS keep
         FROM embeddings e LEFT JOIN comp c USING (vec_id)
         ORDER BY e.vec_id"""

  /** Shared IVF training replay for the quantizer family (q31, q68):
    * ONE definition of the pinned trajectory — quantize (`floor(x·10³)`
    * BIGINTs), Forgy seeding (10 smallest vec_ids), two exact-integer
    * Lloyd's rounds, final cell assignment `af` (vec_id, j) — mirroring
    * [[graft.ops.Embeddings.trainQuantizerOn]]/`nearestCell` bit-for-
    * bit: distances in the scaled form Σ(n·q−s)² / n² with ties to the
    * smallest cell id. Editing a training constant on one engine but
    * not the other must fail BOTH consumers, not silently diverge
    * one. `cellsSql` is a SQL expression for the cell count — the
    * pinned [[graft.ops.Embeddings.OracleCells]] for q31/q68, the
    * corpus-derived [[graft.ops.Embeddings.cellsFor]] replay for q70 —
    * and the two unrolled Lloyd's rounds are `OracleIters`, pinned by
    * the require below (ADVICE r6 — a parameter change on the Scala
    * side now fails here rather than silently de-certifying). */
  private def ivfCtes(cellsSql: String, trainWhere: String = ""): String = {
    require(Embeddings.OracleIters == 2,
      "IvfCtes structurally unrolls exactly 2 Lloyd's rounds — re-derive the replay SQL")
    // `trainWhere` restricts the TRAINING tranche only (seeding + both
    // Lloyd's rounds read `vt`); the FINAL assignment (df/af) always
    // covers the full corpus — the frozen-quantizer ingest contract
    // (q87): later deltas are assigned against centroids they never
    // trained. Empty (the default) trains on everything, emitting the
    // same trajectory the q27..q85 replays have always pinned.
    val t = if (trainWhere.isEmpty) "v" else "vt"
    val tCte = if (trainWhere.isEmpty) ""
               else s"vt AS (SELECT * FROM v WHERE $trainWhere),\n         "
    s"""q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         v AS (
           SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
         dims AS (SELECT unnest(generate_series(1,64)) AS d),
         ${tCte}c0 AS (SELECT vec_id AS j, qv AS s, CAST(1 AS BIGINT) AS n
                FROM $t ORDER BY vec_id LIMIT ($cellsSql)),
         d1 AS (
           SELECT v.vec_id, c.j,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (c.n*v.qv[i]-c.s[i])*(c.n*v.qv[i]-c.s[i]))) AS DOUBLE)
               / CAST(c.n*c.n AS DOUBLE) AS dist
           FROM $t v, c0 c),
         a1 AS (SELECT vec_id, j FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
                  FROM d1) t WHERE rn = 1),
         s1 AS (SELECT a1.j, dims.d, CAST(sum(v.qv[dims.d]) AS BIGINT) AS sv
                FROM a1 JOIN $t v USING (vec_id), dims GROUP BY a1.j, dims.d),
         n1 AS (SELECT j, CAST(count(*) AS BIGINT) AS n FROM a1 GROUP BY j),
         c1 AS (SELECT s1.j, list(sv ORDER BY d) AS s, n1.n
                FROM s1 JOIN n1 USING (j) GROUP BY s1.j, n1.n),
         d2 AS (
           SELECT v.vec_id, c.j,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (c.n*v.qv[i]-c.s[i])*(c.n*v.qv[i]-c.s[i]))) AS DOUBLE)
               / CAST(c.n*c.n AS DOUBLE) AS dist
           FROM $t v, c1 c),
         a2 AS (SELECT vec_id, j FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
                  FROM d2) t WHERE rn = 1),
         s2 AS (SELECT a2.j, dims.d, CAST(sum(v.qv[dims.d]) AS BIGINT) AS sv
                FROM a2 JOIN $t v USING (vec_id), dims GROUP BY a2.j, dims.d),
         n2 AS (SELECT j, CAST(count(*) AS BIGINT) AS n FROM a2 GROUP BY j),
         c2 AS (SELECT s2.j, list(sv ORDER BY d) AS s, n2.n
                FROM s2 JOIN n2 USING (j) GROUP BY s2.j, n2.n),
         df AS (
           SELECT v.vec_id, c.j,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (c.n*v.qv[i]-c.s[i])*(c.n*v.qv[i]-c.s[i]))) AS DOUBLE)
               / CAST(c.n*c.n AS DOUBLE) AS dist
           FROM v, c2 c),
         af AS (SELECT vec_id, j FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
                  FROM df) t WHERE rn = 1)"""
  }

  private val IvfCtes = ivfCtes(Embeddings.OracleCells.toString)

  /** q70's cells-parametric replay: the SAME training trajectory with
    * the cell count derived from the corpus the way
    * [[graft.ops.Embeddings.cellsFor]] does — exact-integer ceil with
    * the [[graft.ops.Embeddings.OracleCells]] floor. */
  private val CellsForSql =
    s"""SELECT greatest(${Embeddings.OracleCells},
          (count(*) + ${Embeddings.OracleTargetCell} - 1) // ${Embeddings.OracleTargetCell})
        FROM embeddings"""

  private val IvfCtesScaled = ivfCtes(CellsForSql)

  /** The exact-integer scaled distance Σ(n·q−s)²/n² over a `v` row
    * and a centroid alias — the ONE distance formula of the IVF
    * family, shared by [[ivfCtes]]' inline copies and the q76
    * two-level replay below. */
  private def IvfDist(c: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1,64),
               i -> ($c.n*v.qv[i]-$c.s[i])*($c.n*v.qv[i]-$c.s[i]))) AS DOUBLE)
               / CAST($c.n*$c.n AS DOUBLE)"""

  /** One TWO-LEVEL cell-assignment replay block ([[graft.ops
    * .Embeddings.nearestCellTwoLevel]] / [[graft.ops.Embeddings
    * .superGroups]] bit-for-bit): from the centroid CTE `cents`,
    * derive each centroid's integer mean grid (⌊s_d/n + 0.5⌋ — ONE
    * IEEE division per component, the `meanGrid` contract), seed
    * `ns` groups STRIDED over the (grid[1], j) ordering, run the
    * pinned 3 exact-integer grouping rounds (ties to the smallest
    * group, empty groups keeping their previous mean), build the
    * 1-member super-centroids from the final membership's exact sums,
    * route every vector to its nearest super (ties to the smallest
    * group) and assign within ONLY the chosen group's member cells
    * (ties to the smallest cell id). Emits `${p}a(vec_id, j)`. */
  private def twoLevelAssign(cents: String, p: String): String = {
    val cnt = s"(SELECT count(*) FROM ${p}mm)"
    val ns = "(SELECT ns FROM params)"
    def grpDist(m: String, gm: String): String =
      s"""list_sum(list_transform(generate_series(1,64),
               i -> ($m.mm[i]-$gm.gm[i])*($m.mm[i]-$gm.gm[i])))"""
    def grpRound(t: Int): String = {
      val upd =
        if (t >= Embeddings.SuperIters) "" // final membership: no mean update
        else s""",
         ${p}gs$t AS MATERIALIZED (
           SELECT ga.g, dims.d, CAST(sum(m.s[dims.d]) AS BIGINT) AS sv
           FROM ${p}ga$t ga JOIN ${p}mm m USING (j), dims GROUP BY ga.g, dims.d),
         ${p}gn$t AS MATERIALIZED (
           SELECT ga.g, CAST(sum(m.n) AS BIGINT) AS tn
           FROM ${p}ga$t ga JOIN ${p}mm m USING (j) GROUP BY ga.g),
         ${p}gu$t AS MATERIALIZED (
           SELECT gs.g, list(CAST(floor(CAST(gs.sv AS DOUBLE)/CAST(gn.tn AS DOUBLE) + 0.5) AS BIGINT)
                             ORDER BY gs.d) AS gm
           FROM ${p}gs$t gs JOIN ${p}gn$t gn USING (g) GROUP BY gs.g),
         ${p}gm$t AS MATERIALIZED (
           SELECT prev.g, coalesce(nu.gm, prev.gm) AS gm
           FROM ${p}gm${t - 1} prev LEFT JOIN ${p}gu$t nu USING (g))"""
      s"""${p}ga$t AS MATERIALIZED (
           SELECT j, g FROM (
             SELECT m.j, gm.g,
               row_number() OVER (PARTITION BY m.j ORDER BY ${grpDist("m", "gm")}, gm.g) AS rn
             FROM ${p}mm m, ${p}gm${t - 1} gm) t WHERE rn = 1)$upd"""
    }
    val last = Embeddings.SuperIters
    s"""${p}mm AS MATERIALIZED (
           SELECT j, n, s, list_transform(generate_series(1,64),
             i -> CAST(floor(CAST(s[i] AS DOUBLE)/CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS mm
           FROM $cents),
         ${p}ord AS MATERIALIZED (
           SELECT j, mm, row_number() OVER (ORDER BY mm[1], j) - 1 AS rk FROM ${p}mm),
         ${p}gm0 AS MATERIALIZED (
           SELECT gg.g, o.mm AS gm
           FROM (SELECT unnest(generate_series(1, $ns)) AS g) gg
           JOIN ${p}ord o ON o.rk = ((gg.g - 1) * ($cnt - 1)) // ($ns - 1)),
         ${(1 to last).map(grpRound).mkString(",\n         ")},
         ${p}ss AS MATERIALIZED (
           SELECT ga.g, dims.d, CAST(sum(m.s[dims.d]) AS BIGINT) AS sv
           FROM ${p}ga$last ga JOIN ${p}mm m USING (j), dims GROUP BY ga.g, dims.d),
         ${p}sn AS MATERIALIZED (
           SELECT ga.g, CAST(sum(m.n) AS BIGINT) AS tn
           FROM ${p}ga$last ga JOIN ${p}mm m USING (j) GROUP BY ga.g),
         ${p}sup AS MATERIALIZED (
           SELECT ss.g AS j, list(CAST(floor(CAST(ss.sv AS DOUBLE)/CAST(sn.tn AS DOUBLE) + 0.5) AS BIGINT)
                                  ORDER BY ss.d) AS s,
                  CAST(1 AS BIGINT) AS n
           FROM ${p}ss ss JOIN ${p}sn sn USING (g) GROUP BY ss.g),
         ${p}sd AS MATERIALIZED (SELECT v.vec_id, c.j AS g, ${IvfDist("c")} AS dist FROM v, ${p}sup c),
         ${p}ch AS MATERIALIZED (
           SELECT vec_id, g FROM (
             SELECT vec_id, g, row_number() OVER (PARTITION BY vec_id ORDER BY dist, g) AS rn
             FROM ${p}sd) t WHERE rn = 1),
         ${p}dd AS MATERIALIZED (
           SELECT v.vec_id, c.j, ${IvfDist("c")} AS dist
           FROM v JOIN ${p}ch ch USING (vec_id)
           JOIN ${p}ga$last mb ON mb.g = ch.g
           JOIN $cents c ON c.j = mb.j),
         ${p}a AS MATERIALIZED (
           SELECT vec_id, j FROM (
             SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
             FROM ${p}dd) t WHERE rn = 1)"""
  }

  /** q76's replay: the [[ivfCtes]] training trajectory at the
    * [[graft.ops.Embeddings.cellsFor]] sizing with EVERY assignment —
    * both Lloyd's rounds and the final one — routed through the
    * two-level block above at nSuper = ⌈√nCells⌉ ([[graft.ops
    * .Embeddings.superFor]]: the same IEEE sqrt + ceil on both
    * engines). Emits `af(vec_id, j)` like [[ivfCtes]], so the q70
    * pairing/resolution tail applies unchanged. */
  private val IvfCtesTwoLevel: String = {
    require(Embeddings.OracleIters == 2,
      "IvfCtesTwoLevel structurally unrolls exactly 2 Lloyd's rounds — re-derive the replay SQL")
    require(Embeddings.SuperIters == 3,
      "twoLevelAssign structurally unrolls exactly 3 grouping rounds — re-derive the replay SQL")
    s"""q AS MATERIALIZED (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         v AS MATERIALIZED (
           SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
         dims AS MATERIALIZED (SELECT unnest(generate_series(1,64)) AS d),
         params AS MATERIALIZED (
           SELECT nc, CAST(ceil(sqrt(CAST(nc AS DOUBLE))) AS BIGINT) AS ns
           FROM (SELECT ($CellsForSql) AS nc) t),
         c0 AS MATERIALIZED (SELECT vec_id AS j, qv AS s, CAST(1 AS BIGINT) AS n
                FROM v ORDER BY vec_id LIMIT (SELECT nc FROM params)),
         ${twoLevelAssign("c0", "t1")},
         s1 AS MATERIALIZED (SELECT a.j, dims.d, CAST(sum(v.qv[dims.d]) AS BIGINT) AS sv
                FROM t1a a JOIN v USING (vec_id), dims GROUP BY a.j, dims.d),
         n1 AS MATERIALIZED (SELECT j, CAST(count(*) AS BIGINT) AS n FROM t1a GROUP BY j),
         c1 AS MATERIALIZED (SELECT s1.j, list(sv ORDER BY d) AS s, n1.n
                FROM s1 JOIN n1 USING (j) GROUP BY s1.j, n1.n),
         ${twoLevelAssign("c1", "t2")},
         s2 AS MATERIALIZED (SELECT a.j, dims.d, CAST(sum(v.qv[dims.d]) AS BIGINT) AS sv
                FROM t2a a JOIN v USING (vec_id), dims GROUP BY a.j, dims.d),
         n2 AS MATERIALIZED (SELECT j, CAST(count(*) AS BIGINT) AS n FROM t2a GROUP BY j),
         c2 AS MATERIALIZED (SELECT s2.j, list(sv ORDER BY d) AS s, n2.n
                FROM s2 JOIN n2 USING (j) GROUP BY s2.j, n2.n),
         ${twoLevelAssign("c2", "tf")},
         af AS MATERIALIZED (SELECT vec_id, j FROM tfa)"""
  }

  /** The 16-dim scaled sub-distance of alias `$v`'s `sv` slice to
    * sub-centroid alias `$c` — the ONE distance formula of the PQ
    * family's replay (training, encoding, ADC tables, q79's
    * per-probed-cell tables). */
  private def PqSubDist(c: String, v: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1,16),
           i -> ($c.n*$v.sv[i]-$c.s[i])*($c.n*$v.sv[i]-$c.s[i]))) AS DOUBLE)
           / CAST($c.n*$c.n AS DOUBLE)"""

  /** PQ trajectory replay over the (vec_id, qv) relation named `src`:
    * per subspace m (prefix `pm`) Forgy seed, 2 Lloyd's rounds with
    * keep-previous-on-empty (PQ codes are POSITIONS in a fixed-K
    * list, so a dead code must keep its centroid rather than shift
    * its neighbors — unlike the IVF replay, where dead cells just
    * drop), code index `pmcd` in seed-id order, corpus codes `pmf`,
    * per-probe ADC tables `pmt` (floor(dist·10⁶) BIGINT — one IEEE
    * division and multiply, so the estimate sum is exact-integer in
    * both engines), plus the shared `sdims`/`probes` and the
    * plain-ADC serve tail `pqest`/`pqtopk`. q77/q78 instantiate it
    * over the raw quantized grid; q79 instantiates it over the IVF
    * RESIDUAL
    * relation (and serves through its own per-cell tables — the
    * plain tail prunes away unreferenced). */
  private def pqCtes(src: String, kSql: String = Pq.K.toString): String = {
    require(Embeddings.OracleIters == 2,
      "pqCtes structurally unrolls exactly 2 Lloyd's rounds — re-derive the replay SQL")
    require(Pq.M == 4 && Pq.SubDim == 16,
      "pqCtes hard-codes the 4×16 subspace grid — re-derive the replay SQL")
    def sub(m: Int): String = {
      val o = m * Pq.SubDim
      val p = s"p$m"
      def dist(c: String, v: String) = PqSubDist(c, v)
      def round(r: Int) =
        s"""${p}a$r AS MATERIALIZED (SELECT vec_id, j FROM (
               SELECT v.vec_id, c.j,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY ${dist("c", "v")}, c.j) AS rn
               FROM ${p}v v, ${p}c${r - 1} c) t WHERE rn = 1),
           ${p}s$r AS (SELECT a.j, sd.d, CAST(sum(v.sv[sd.d]) AS BIGINT) AS sv
               FROM ${p}a$r a JOIN ${p}v v USING (vec_id), sdims sd GROUP BY a.j, sd.d),
           ${p}n$r AS (SELECT j, CAST(count(*) AS BIGINT) AS n FROM ${p}a$r GROUP BY j),
           ${p}u$r AS (SELECT s.j, list(sv ORDER BY d) AS s, n.n
               FROM ${p}s$r s JOIN ${p}n$r n USING (j) GROUP BY s.j, n.n),
           ${p}c$r AS MATERIALIZED (SELECT prev.j, coalesce(u.s, prev.s) AS s, coalesce(u.n, prev.n) AS n
               FROM ${p}c${r - 1} prev LEFT JOIN ${p}u$r u USING (j))"""
      s"""${p}v AS MATERIALIZED (SELECT vec_id, list_transform(generate_series(1,16), i -> qv[i+$o]) AS sv FROM $src),
           ${p}c0 AS MATERIALIZED (SELECT vec_id AS j, sv AS s, CAST(1 AS BIGINT) AS n
               FROM ${p}v ORDER BY vec_id LIMIT ($kSql)),
           ${round(1)},
           ${round(2)},
           ${p}cd AS MATERIALIZED (SELECT j, row_number() OVER (ORDER BY j) - 1 AS code FROM ${p}c2),
           ${p}f AS MATERIALIZED (SELECT vec_id, code FROM (
               SELECT v.vec_id, x.code,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY ${dist("c", "v")}, c.j) AS rn
               FROM ${p}v v, ${p}c2 c JOIN ${p}cd x USING (j)) t WHERE rn = 1),
           ${p}t AS MATERIALIZED (SELECT v.vec_id AS q_id, x.code,
                 CAST(floor((${dist("c", "v")}) * 1000000.0) AS BIGINT) AS dq
               FROM ${p}v v JOIN probes USING (vec_id), ${p}c2 c JOIN ${p}cd x USING (j))"""
    }
    s"""sdims AS (SELECT unnest(generate_series(1,16)) AS d),
         probes AS (SELECT vec_id FROM $src WHERE vec_id % 50 = 0 AND vec_id < ${Pq.ProbeCap}),
         ${(0 until Pq.M).map(sub).mkString(",\n         ")},
         pqest AS (
           SELECT t0.q_id, f0.vec_id AS neighbor_id,
             (t0.dq + t1.dq + t2.dq + t3.dq) AS est
           FROM p0f f0
           JOIN p1f f1 USING (vec_id)
           JOIN p2f f2 USING (vec_id)
           JOIN p3f f3 USING (vec_id)
           JOIN p0t t0 ON t0.code = f0.code
           JOIN p1t t1 ON t1.code = f1.code AND t1.q_id = t0.q_id
           JOIN p2t t2 ON t2.code = f2.code AND t2.q_id = t0.q_id
           JOIN p3t t3 ON t3.code = f3.code AND t3.q_id = t0.q_id
           WHERE f0.vec_id <> t0.q_id),
         pqtopk AS (
           SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, est FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM pqest) t WHERE rn <= 5)"""
  }

  /** q77/q78's instantiation: the PQ trajectory over the raw
    * quantized grid. */
  private val PqCtes: String =
    s"""q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         ${pqCtes("q")}"""

  /** q80's K-parametric replay: the SAME exact-integer [[graft.ops
    * .Pq.kFor]] rule — K = max{2^p : p ∈ [5,8], TrainPerCode·2^p ≤ n}
    * else the pinned 16 — as one scalar subquery (shift-compares only,
    * no log2 doubles). */
  private val KForSql: String =
    s"""SELECT coalesce((SELECT max(1 << p) FROM generate_series(5, 8) t(p)
          WHERE (CAST(${Pq.TrainPerCode} AS BIGINT) << p) <= (SELECT count(*) FROM embeddings)),
          ${Pq.K})"""

  /** q98's r-parametric replay: the SAME exact-integer [[graft.ops
    * .Pq.rFor]] rule — r = max{2^p : p ∈ [5,7], RefinePerCand·2^p ≤ n}
    * floored at RefineR — as one scalar subquery (shift-compares
    * only), the [[KForSql]] pattern applied to the refine budget.
    * The subquery's smallest non-NULL value is 32 > RefineR, so the
    * floor only ever binds through the coalesce fallback — exactly
    * the Scala max(RefineR, 1 << p) with p ≥ 5 reachable only when
    * the subquery is non-empty. */
  private val RForSql: String =
    s"""SELECT coalesce((SELECT max(1 << p) FROM generate_series(5, 7) t(p)
          WHERE (CAST(${Pq.RefinePerCand} AS BIGINT) << p) <= (SELECT count(*) FROM embeddings)),
          ${Pq.RefineR})"""

  /** q80's instantiation: the q77 trajectory with the codebook size
    * derived from the corpus — the q70/q34 oracle-parametric pattern
    * applied to the ADC family (VERDICT r9 #1). */
  private val PqCtesScaled: String =
    s"""q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         ${pqCtes("q", KForSql)}"""

  /** The shared IVF-residual routing replay of the ROUTED
    * compressions (q79 IVFADC, q82 IVF+SQ8): each final cell's
    * [[graft.ops.Embeddings.meanGrid]] integer mean (`igr`), every
    * vector's exact-integer residual from its HOME cell (`irq` —
    * keeps `cell`), the probes' nprobe=2 nearest cells by the fused
    * ProbeCells (dist ASC, id ASC) semantics (`ipc`), and each
    * probe's residual AGAINST EACH PROBED CELL (`iprq`). ONE
    * definition so the two compressions can never diverge on the
    * routing they share — the Spark side shares it the same way
    * ([[graft.ops.Pq.residualsOf]] feeds both serves, and both rank
    * probes with the one `CellTable.probe` kernel: q79 through
    * [[graft.ops.Pq.probeCellsRelation]], q82 on the driver through
    * [[graft.ops.Sq.probeRows]]). `queryMod` selects the
    * probe set (`vec_id % queryMod = 0` under the ProbeCap) — 50 for
    * the q79/q82 family, 100 for q88's hybrid leg, which must share
    * ONE probe set with the BM25 leg it fuses against. */
  private def ivfResidualCtes(queryMod: Int): String =
    s"""igr AS MATERIALIZED (SELECT j AS cell, list_transform(generate_series(1,64),
               i -> CAST(floor(CAST(s[i] AS DOUBLE)/CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS g
             FROM c2),
         irq AS MATERIALIZED (SELECT v.vec_id, af.j AS cell, list_transform(generate_series(1,64), i -> v.qv[i] - g.g[i]) AS qv
             FROM v JOIN af ON af.vec_id = v.vec_id JOIN igr g ON g.cell = af.j),
         ipc AS MATERIALIZED (SELECT vec_id AS q_id, j AS cell FROM (
               SELECT v.vec_id, c.j, row_number() OVER (PARTITION BY v.vec_id ORDER BY ${IvfDist("c")}, c.j) AS rn
               FROM v, c2 c WHERE v.vec_id % $queryMod = 0 AND v.vec_id < ${Pq.ProbeCap}) t WHERE rn <= 2),
         iprq AS MATERIALIZED (SELECT pc.q_id, pc.cell, list_transform(generate_series(1,64), i -> v.qv[i] - g.g[i]) AS qv
             FROM ipc pc JOIN v ON v.vec_id = pc.q_id JOIN igr g ON g.cell = pc.cell)"""

  private val IvfResidualCtes: String = ivfResidualCtes(50)

  /** The SQ8-over-residuals replay shared by q82 (IVF+SQ8 serve) and
    * q85 (SQ8 refine): per-dim bounds over the shared residual
    * relation `irq` (`sbounds`) and the fused encode∘decode
    * reconstruction per vector (`srv`) — ONE definition, because the
    * Scala side shares the reconstruction through one
    * [[graft.ops.Sq.encode]]/[[graft.ops.Sq.decodeCol]] pair, so a
    * clamp/rounding fix must reach both oracles or neither. Requires
    * [[IvfResidualCtes]]'s `irq` and [[ivfCtes]]'s `dims` upstream. */
  private def sqResidualCtes(boundsWhere: String = ""): String = {
    // `boundsWhere` restricts the BOUNDS tranche only (the frozen-
    // artifact ingest contract, q87): bounds are learned over the
    // tranche's residuals, while `srv` encodes the FULL corpus against
    // them — the clamp saturates drifted deltas to the grid edge, the
    // exact semantics Sq.encode's least/greatest pins.
    val w = if (boundsWhere.isEmpty) "" else s" WHERE $boundsWhere"
    s"""sbounds AS (
           SELECT d, min(qv[d]) AS mn, max(qv[d]) AS mx FROM irq, dims$w GROUP BY d),
         srv AS MATERIALIZED (
           SELECT r.vec_id, r.cell, list(CASE WHEN b.mx = b.mn THEN b.mn
               ELSE b.mn + (least(255, greatest(0, ((r.qv[b.d] - b.mn) * 255) // (b.mx - b.mn))) * (b.mx - b.mn)) // 255 END
             ORDER BY b.d) AS r
           FROM irq r, sbounds b GROUP BY r.vec_id, r.cell)"""
  }

  private val SqResidualCtes: String = sqResidualCtes()

  /** The ONE SQ8 serve tail — q82's exact-integer estimate over
    * (probe residual, reconstruction) pairs met through the cell
    * equi-join, (est ASC, neighbor_id ASC) top-5 — shared verbatim by
    * q82, q86 (which adds the label selector join + predicate) and
    * q87, mirroring the Scala side's single [[graft.ops.Sq]] sqTail:
    * the estimate and tie-break can never drift between the serves. */
  private def sqEstCte(extraJoin: String = "", extraWhere: String = ""): String =
    s"""isqest AS (
           SELECT p.q_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (p.qv[i]-c.r[i])*(p.qv[i]-c.r[i]))) AS BIGINT) AS est
           FROM iprq p JOIN srv c ON c.cell = p.cell$extraJoin
           WHERE c.vec_id <> p.q_id$extraWhere)"""

  private def sqServeTail(extraJoin: String = "", extraWhere: String = ""): String =
    s"""${sqEstCte(extraJoin, extraWhere)}
         SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, est FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
           FROM isqest) t
         WHERE rn <= 5 ORDER BY q_id, rank"""

  /** q92's replay — MMR over routed candidates: the q82 chain cut at
    * RefineR candidates per probe (mcand), candidates re-joined to the
    * exact grid for rel = dist(q,d) and the pairwise distances
    * (mrel/mpw), then [[graft.ops.Mmr.mmrSelect]]'s k = 5 greedy
    * rounds UNROLLED as CTEs — round i attaches dv = min distance to
    * the selected set s(i−1) (selected candidates excluded via NOT
    * EXISTS, exactly the Spark side's anti-join) and picks the
    * (rel − dv, neighbor_id) argmin per query. Every score is a
    * BIGINT on the q45 grid, so the greedy trajectory replays
    * bit-for-bit. */
  private val MmrOracle: String = {
    val rounds = (2 to 5).map { i =>
      s"""mm$i AS (SELECT p.q_id, p.a AS neighbor_id, min(p.d_ab) AS dv
           FROM mpw p JOIN ms${i - 1} s ON s.q_id = p.q_id AND s.neighbor_id = p.b
           WHERE NOT EXISTS (SELECT 1 FROM ms${i - 1} z
                             WHERE z.q_id = p.q_id AND z.neighbor_id = p.a)
           GROUP BY p.q_id, p.a),
         mp$i AS (SELECT q_id, neighbor_id, rel, CAST($i AS BIGINT) AS rank FROM (
             SELECT r.q_id, r.neighbor_id, r.rel,
               row_number() OVER (PARTITION BY r.q_id ORDER BY r.rel - m.dv, r.neighbor_id) AS rn
             FROM mrel r JOIN mm$i m ON m.q_id = r.q_id AND m.neighbor_id = r.neighbor_id) t
           WHERE rn = 1),
         ms$i AS (SELECT * FROM ms${i - 1} UNION ALL SELECT * FROM mp$i)"""
    }.mkString(",\n         ")
    s"""WITH $IvfCtes,
         $IvfResidualCtes,
         $SqResidualCtes,
         ${sqEstCte()},
         mcand AS (SELECT q_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM isqest) t WHERE rn <= ${Pq.RefineR}),
         mrel AS MATERIALIZED (SELECT c.q_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (pv.qv[i]-nv.qv[i])*(pv.qv[i]-nv.qv[i]))) AS BIGINT) AS rel
           FROM mcand c JOIN v pv ON pv.vec_id = c.q_id JOIN v nv ON nv.vec_id = c.neighbor_id),
         mpw AS MATERIALIZED (SELECT x.q_id, x.neighbor_id AS a, y.neighbor_id AS b,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (xv.qv[i]-yv.qv[i])*(xv.qv[i]-yv.qv[i]))) AS BIGINT) AS d_ab
           FROM mrel x JOIN mrel y ON y.q_id = x.q_id AND y.neighbor_id <> x.neighbor_id
           JOIN v xv ON xv.vec_id = x.neighbor_id JOIN v yv ON yv.vec_id = y.neighbor_id),
         ms1 AS (SELECT q_id, neighbor_id, rel, CAST(1 AS BIGINT) AS rank FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel, neighbor_id) AS rn
             FROM mrel) t WHERE rn = 1),
         $rounds
         SELECT q_id, rank, neighbor_id, rel AS est FROM ms5 ORDER BY q_id, rank"""
  }

  /** q79's replay — IVFADC: the [[IvfCtes]] coarse trajectory, the
    * [[IvfResidualCtes]] routing, the PQ trajectory trained over the
    * residual relation ([[pqCtes]]("irq")), then the IVFADC serve:
    * one ADC table per (probe, probed cell) over the probe's residual
    * AGAINST THAT CELL, exact-integer estimate sum, ties (est,
    * neighbor_id), self excluded. */
  private val IvfPqCtes: String = {
    def ipt(m: Int): String = {
      val o = m * Pq.SubDim
      val p = s"p$m"
      s"""ipt$m AS MATERIALIZED (SELECT p.q_id, p.cell, x.code,
               CAST(floor((${PqSubDist("c", "p")}) * 1000000.0) AS BIGINT) AS dq
             FROM (SELECT q_id, cell, list_transform(generate_series(1,16), i -> qv[i+$o]) AS sv
                   FROM iprq) p,
                  ${p}c2 c JOIN ${p}cd x USING (j))"""
    }
    s"""$IvfCtes,
         $IvfResidualCtes,
         ${pqCtes("irq")},
         icodes AS MATERIALIZED (SELECT f0.vec_id, af.j AS cell,
               f0.code AS cc0, f1.code AS cc1, f2.code AS cc2, f3.code AS cc3
             FROM p0f f0 JOIN p1f f1 USING (vec_id) JOIN p2f f2 USING (vec_id)
             JOIN p3f f3 USING (vec_id) JOIN af USING (vec_id)),
         ${(0 until Pq.M).map(ipt).mkString(",\n         ")},
         iest AS MATERIALIZED (SELECT t0.q_id, cd.vec_id AS neighbor_id,
               (t0.dq + t1.dq + t2.dq + t3.dq) AS est
             FROM icodes cd
             JOIN ipt0 t0 ON t0.cell = cd.cell AND t0.code = cd.cc0
             JOIN ipt1 t1 ON t1.q_id = t0.q_id AND t1.cell = cd.cell AND t1.code = cd.cc1
             JOIN ipt2 t2 ON t2.q_id = t0.q_id AND t2.cell = cd.cell AND t2.code = cd.cc2
             JOIN ipt3 t3 ON t3.q_id = t0.q_id AND t3.cell = cd.cell AND t3.code = cd.cc3
             WHERE cd.vec_id <> t0.q_id)"""
  }

  /** The q31 IVF serve replay — nprobe=1 probes each query's own
    * final cell, exact cosine re-rank inside it, (cosine DESC, id)
    * ties. ONE definition for BOTH serve entries: q31 (exact probe)
    * and q84 (two-level ROUTED probe at saturating nSuperProbe, which
    * the pinned probeGrouped property makes bit-exact to the exact
    * probe — so the same SQL is the correct twin, verbatim). */
  private val IvfServeOracle: String =
    s"""WITH $IvfCtes,
         scored AS (
           SELECT qa.vec_id AS q_id, cv.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64), i -> qq.qv[i]*cv.qv[i])) AS BIGINT) AS dot,
             qq.nrm AS qn, cv.nrm AS cn
           FROM af qa
           JOIN af ca ON ca.j = qa.j AND ca.vec_id <> qa.vec_id
           JOIN v qq ON qq.vec_id = qa.vec_id
           JOIN v cv ON cv.vec_id = ca.vec_id
           WHERE qa.vec_id % 50 = 0),
         ranked AS (
           SELECT q_id, neighbor_id, dot,
             CAST(dot AS DOUBLE)/sqrt(CAST(qn AS DOUBLE)*CAST(cn AS DOUBLE)) AS cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(qn AS DOUBLE)*CAST(cn AS DOUBLE)) DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT q_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, dot, cosine
         FROM ranked WHERE rnk <= 5 ORDER BY q_id, rank"""

  /** DuckDB twins. Determinism: decimal-exact aggregation, full-key
    * ORDER BY, explicit casts so dtypes line up (see Relational docs). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q02_ship_priority" ->
      """SELECT l_orderkey, o_orderpriority,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q03_brand_volume" ->
      """SELECT p_brand,
         CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
         count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q04_semi_join_exists" ->
      """SELECT o_orderkey, o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_dec
         FROM orders WHERE EXISTS (
           SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
         ORDER BY o_orderkey""",
    "q05_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer WHERE NOT EXISTS (
           SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q06_outer_join_counts" ->
      """SELECT n_nationkey, n_name, count(c_custkey) AS n_customers
         FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
         GROUP BY n_nationkey, n_name ORDER BY n_nationkey""",
    "q07_latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value_dec
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    "q08_top3_orders_per_customer" ->
      """SELECT o_custkey, rnk, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
               FROM orders) t
         WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
    "q09_boolean_gates" ->
      """SELECT o_custkey,
         bool_and(o_orderstatus = 'F') AS all_finished,
         bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
         count(*) AS n_orders
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q10_per_source_counts" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY source, lang ORDER BY source, lang""",
    "q11_sources_per_lang" ->
      """SELECT lang, array_to_string(list_sort(list(DISTINCT source)), '|') AS sources, count(*) AS n_docs
         FROM documents GROUP BY lang ORDER BY lang""",
    "q12_union_distinct" ->
      """SELECT DISTINCT custkey FROM (
           SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           UNION ALL
           SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000) t
         ORDER BY custkey""",
    "q13_try_cast_props" ->
      """SELECT event_id,
         json_extract_string(props, '$.k') AS k_str,
         CAST(TRY_CAST(json_extract_string(props, '$.k') AS DECIMAL(38,0)) AS DOUBLE) AS k_num,
         CAST(TRY_CAST(event_type AS DECIMAL(38,0)) AS DOUBLE) AS not_a_number
         FROM events ORDER BY event_id""",
    "q14_rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q15_dep_scan_docs" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         wordsf AS (SELECT * FROM words WHERE length(word) > 0),
         cat AS (
           SELECT split_part(text, ' ', 1) AS word, min(doc_id) AS def_doc
           FROM documents WHERE doc_id % 25 = 0 AND length(split_part(text, ' ', 1)) > 0
           GROUP BY 1),
         edges AS (
           SELECT w.word, c.def_doc, w.doc_id
           FROM wordsf w JOIN cat c USING (word)
           WHERE w.doc_id <> c.def_doc)
         SELECT word, def_doc, array_to_string(list_sort(list(DISTINCT doc_id)), '|') AS used_in, count(*) AS n_uses
         FROM edges GROUP BY word, def_doc ORDER BY word""",
    "q16_owners_glob_join" ->
      """WITH owners(regex, teams) AS (VALUES
           ('^src1[^/]*$', ['team_alpha','team_beta']),
           ('^src2[^/]$',  ['team_gamma']),
           ('^.*$',        ['team_all']),
           ('^src[^/]*3$', ['team_x'])),
         m AS (
           SELECT d.lang, o.teams FROM documents d
           JOIN owners o ON regexp_matches(d.source, o.regex))
         SELECT lang, array_to_string(list_sort(list_distinct(flatten(list(teams)))), '|') AS teams, count(*) AS n_matches
         FROM m GROUP BY lang ORDER BY lang""",
    "q17_review_gate" ->
      """WITH base AS (
           SELECT event_id % 97 AS pr, user_id, event_type, ts, event_id FROM events),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY pr, user_id ORDER BY ts DESC, event_id DESC) AS rn
             FROM base) t WHERE rn = 1),
         approved AS (SELECT * FROM latest WHERE event_type = 'purchase'),
         ateams AS (
           SELECT pr, list(team) AS teams FROM (
             SELECT DISTINCT pr, team FROM (
               SELECT pr, unnest([user_id % 5, 5 + user_id % 7]) AS team FROM approved) t1) t2
           GROUP BY pr),
         napp AS (SELECT pr, count(*) AS n_approvers FROM approved GROUP BY pr)
         SELECT p.pr,
           coalesce(list_contains(a.teams, p.pr % 5) AND list_contains(a.teams, 5 + p.pr % 7), false) AS all_approved,
           coalesce(n.n_approvers, 0) AS n_approvers
         FROM (SELECT DISTINCT pr FROM base) p
         LEFT JOIN ateams a USING (pr) LEFT JOIN napp n USING (pr)
         ORDER BY p.pr""",
    "q18_utm_attribution" ->
      """SELECT event_id, campaign, product,
           CASE WHEN product = 'Страхование имущества' THEN 'ИФЛ' ELSE 'Прочее' END AS segment
         FROM (
           SELECT event_id, campaign,
             CASE WHEN campaign LIKE '%insurance%' OR campaign LIKE '%strah%' THEN 'Страхование имущества'
                  WHEN campaign LIKE '%micro%' OR campaign LIKE '%mfo%' OR campaign LIKE '%loan%' THEN 'Микрокредиты'
                  ELSE 'Прочее' END AS product
           FROM (
             SELECT event_id,
               CASE event_type WHEN 'purchase' THEN 'fb_micro_loans'
                               WHEN 'signup' THEN 'gg_insurance_home'
                               ELSE 'organic_generic' END AS campaign
             FROM events) t1) t2
         WHERE product <> 'Прочее' ORDER BY event_id""",
    "q19_exact_dedup" ->
      """SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
         min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "q20_jaccard_pairs" ->
      s"""WITH $ShingleCtes,
         $PairCtes
         SELECT d1, d2, inter, n1, n2, jaccard FROM pairs
         ORDER BY d1, d2""",
    "q21_minhash_lsh_pairs" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
                FROM words, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         mh AS (SELECT doc_id, s,
                  min(CAST(('0x' || substr(md5(s || ':' || shingle), 1, 15)) AS BIGINT)) AS v
                FROM sh, (SELECT unnest(generate_series(0, 15)) AS s) seeds
                GROUP BY 1, 2),
         sig AS (SELECT doc_id, list(v ORDER BY s) AS sig FROM mh GROUP BY 1),
         bands AS (SELECT doc_id, b,
                     md5(sig[b*4+1] || ',' || sig[b*4+2] || ',' || sig[b*4+3] || ',' || sig[b*4+4]) AS bhash
                   FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) bs),
         cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
                  FROM bands x JOIN bands y
                    ON x.b = y.b AND x.bhash = y.bhash AND x.doc_id < y.doc_id),
         eq AS (SELECT d1, d2,
                  CAST(sum(CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END) AS INT) AS n_equal
                FROM cand JOIN sig s1 ON d1 = s1.doc_id JOIN sig s2 ON d2 = s2.doc_id,
                     (SELECT unnest(generate_series(1, 16)) AS i) idx
                GROUP BY 1, 2)
         SELECT d1, d2, n_equal, CAST(n_equal AS DOUBLE)/16.0 AS est_sim
         FROM eq ORDER BY d1, d2""",
    "q22_simhash" ->
      """WITH toks AS (
           SELECT doc_id, tok, count(*) AS cnt FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
           WHERE length(tok) > 0 GROUP BY 1, 2),
         hashed AS (
           SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h, cnt FROM toks),
         bits AS (
           SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
           FROM hashed, (SELECT unnest(generate_series(0, 59)) AS b) bs GROUP BY 1, 2)
         SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id ORDER BY doc_id""",
    "q23_text_stats" ->
      """SELECT doc_id, n_tokens, n_distinct_tokens,
           CAST(sum_tok_len AS DOUBLE)/n_tokens AS avg_token_len,
           CAST(n_stop AS DOUBLE)/n_tokens AS stopword_ratio,
           CAST(length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
             / length(text) AS alnum_ratio
         FROM (
           SELECT doc_id, text,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_tokens,
             CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_tok_len,
             CAST(len(list_filter(ws, x -> list_contains(['the','a','of','to','and','in','is','on'], x))) AS BIGINT) AS n_stop
           FROM (SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
                 FROM documents) t) t2
         ORDER BY doc_id""",
    "q24_lang_id" ->
      """WITH docs AS (
           SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
           FROM documents),
         scored AS (
           SELECT doc_id, lang, 'de' AS cand,
             CAST(len(list_filter(ws, x -> list_contains(['der','die','das','und'], x))) AS BIGINT) AS score FROM docs
           UNION ALL SELECT doc_id, lang, 'en',
             CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and'], x))) AS BIGINT) FROM docs
           UNION ALL SELECT doc_id, lang, 'es',
             CAST(len(list_filter(ws, x -> list_contains(['el','la','de','los'], x))) AS BIGINT) FROM docs
           UNION ALL SELECT doc_id, lang, 'fr',
             CAST(len(list_filter(ws, x -> list_contains(['le','la','et','les'], x))) AS BIGINT) FROM docs),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
           FROM scored)
         SELECT lang, CASE WHEN score > 0 THEN cand ELSE 'unknown' END AS pred,
           count(*) AS n_docs
         FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY lang, pred""",
    "q25_token_counts" ->
      """SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id""",
    "q26_winnow_fingerprint" ->
      """WITH grams AS (
           SELECT doc_id, i,
             CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT) AS h
           FROM documents, unnest(generate_series(1, length(text)-7)) AS t(i)
           WHERE length(text) >= 8),
         wmins AS (
           SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
           FROM grams)
         SELECT doc_id, array_to_string(list_sort(list(DISTINCT wmin)), '|') AS fingerprint, count(*) AS n_grams
         FROM wmins GROUP BY doc_id ORDER BY doc_id""",
    "q27_ann_topk" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         nrm AS (
           SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
         hp AS (
           SELECT s.s, d.d,
             CASE WHEN CAST(('0x' || substr(md5(s.s || ':' || d.d), 1, 15)) AS BIGINT) & 1 = 1 THEN 1 ELSE -1 END AS r
           FROM (SELECT unnest(generate_series(0,3)) AS s) s, (SELECT unnest(generate_series(0,63)) AS d) d),
         sk AS (
           SELECT n.vec_id, hp.s, sum(hp.r * n.qv[hp.d+1]) AS dot_s
           FROM nrm n, hp GROUP BY 1,2),
         bk AS (
           SELECT vec_id, CAST(sum(CASE WHEN dot_s >= 0 THEN (CAST(1 AS BIGINT) << s) ELSE 0 END) AS BIGINT) AS bucket
           FROM sk GROUP BY 1),
         v AS (SELECT n.vec_id, n.qv, n.nrm, b.bucket FROM nrm n JOIN bk b USING (vec_id)),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64), i -> q.qv[i]*c.qv[i])) AS BIGINT) AS dot,
             q.nrm AS qn, c.nrm AS cn
           FROM v q JOIN v c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
           WHERE q.vec_id % 50 = 0),
         ranked AS (
           SELECT q_id, neighbor_id, dot,
             CAST(dot AS DOUBLE)/sqrt(CAST(qn AS DOUBLE)*CAST(cn AS DOUBLE)) AS cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(qn AS DOUBLE)*CAST(cn AS DOUBLE)) DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT q_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, dot, cosine
         FROM ranked WHERE rnk <= 5 ORDER BY q_id, rank""",
    "q28_media_meta" ->
      """WITH m AS (
           SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(text AS BLOB) AS content, text
           FROM documents),
         h AS (
           -- duckdb md5 takes VARCHAR; the blob IS the utf-8 bytes of
           -- text, so md5(text) hashes the identical byte string
           SELECT *, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hv FROM m)
         SELECT media_id, kind,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           substr(md5(text), 1, 12) AS content_key,
           CAST(160 + (hv % 16) * 16 AS BIGINT) AS width,
           CAST(120 + ((hv // 16) % 16) * 16 AS BIGINT) AS height,
           CAST(CASE kind WHEN 'video' THEN 1 + hv % 240 WHEN 'audio' THEN 0 ELSE 1 END AS BIGINT) AS n_frames
         FROM h ORDER BY media_id""",
    "q29_embedding_neardup" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         nrm AS (
           SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
         hp AS (
           SELECT s.s, d.d,
             CASE WHEN CAST(('0x' || substr(md5(s.s || ':' || d.d), 1, 15)) AS BIGINT) & 1 = 1 THEN 1 ELSE -1 END AS r
           FROM (SELECT unnest(generate_series(0,3)) AS s) s, (SELECT unnest(generate_series(0,63)) AS d) d),
         sk AS (
           SELECT n.vec_id, hp.s, sum(hp.r * n.qv[hp.d+1]) AS dot_s
           FROM nrm n, hp GROUP BY 1,2),
         bk AS (
           SELECT vec_id, CAST(sum(CASE WHEN dot_s >= 0 THEN (CAST(1 AS BIGINT) << s) ELSE 0 END) AS BIGINT) AS bucket
           FROM sk GROUP BY 1),
         v AS (SELECT n.vec_id, n.qv, n.nrm, b.bucket FROM nrm n JOIN bk b USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS d1, c.vec_id AS d2,
             CAST(list_sum(list_transform(generate_series(1,64), i -> a.qv[i]*c.qv[i])) AS BIGINT) AS dot,
             a.nrm AS n1, c.nrm AS n2
           FROM v a JOIN v c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
         SELECT d1, d2, dot,
           CAST(dot AS DOUBLE)/sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS cosine
         FROM pairs
         WHERE CAST(dot AS DOUBLE)/sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) >= 0.35
         ORDER BY d1, d2""",
    "q30_event_windows" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q31_ivf_topk" -> IvfServeOracle,
    "q32_neardup_clusters" ->
      s"""WITH RECURSIVE $ShingleCtes,
         $PairCtes,
         $ComponentCtes
         SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
         FROM documents d LEFT JOIN comp c USING (doc_id)
         ORDER BY d.doc_id""",
    "q33_embedding_clusters" ->
      s"""WITH RECURSIVE q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         nrm AS (
           SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
         hp AS (
           SELECT s.s, d.d,
             CASE WHEN CAST(('0x' || substr(md5(s.s || ':' || d.d), 1, 15)) AS BIGINT) & 1 = 1 THEN 1 ELSE -1 END AS r
           FROM (SELECT unnest(generate_series(0,3)) AS s) s, (SELECT unnest(generate_series(0,63)) AS d) d),
         sk AS (
           SELECT n.vec_id, hp.s, sum(hp.r * n.qv[hp.d+1]) AS dot_s
           FROM nrm n, hp GROUP BY 1,2),
         bk AS (
           SELECT vec_id, CAST(sum(CASE WHEN dot_s >= 0 THEN (CAST(1 AS BIGINT) << s) ELSE 0 END) AS BIGINT) AS bucket
           FROM sk GROUP BY 1),
         v AS (SELECT n.vec_id, n.qv, n.nrm, b.bucket FROM nrm n JOIN bk b USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS d1, c.vec_id AS d2
           FROM v a JOIN v c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
           WHERE ${VecCosineGE("a", "c")}),
         $VecComponentSql""",
    // parametric in the plane count: p = smallest integer with
    // 64·2^p ≥ count(embeddings) — the same exact-integer planesFor the
    // Spark side runs — and band k draws planes k·p .. k·p+p-1, so the
    // certified configuration tracks the corpus size instead of the
    // pinned toy planes=4.
    "q34_neardup_scaled" ->
      """WITH nn AS (SELECT count(*) AS cnt FROM embeddings),
         par AS (SELECT GREATEST(1, min(pp.p)) AS p
                 FROM nn, (SELECT unnest(generate_series(0, 30)) AS p) pp
                 WHERE 64 * (CAST(1 AS BIGINT) << pp.p) >= nn.cnt),
         q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         nrm AS (
           SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
         hp AS (
           SELECT b.band, s.s, d.d,
             CASE WHEN CAST(('0x' || substr(md5((b.band * par.p + s.s) || ':' || d.d), 1, 15)) AS BIGINT) & 1 = 1 THEN 1 ELSE -1 END AS r
           FROM par, (SELECT unnest(generate_series(0, 1)) AS band) b,
                (SELECT unnest(generate_series(0, 30)) AS s) s,
                (SELECT unnest(generate_series(0, 63)) AS d) d
           WHERE s.s < par.p),
         sk AS (
           SELECT n.vec_id, hp.band, hp.s, sum(hp.r * n.qv[hp.d+1]) AS dot_s
           FROM nrm n, hp GROUP BY 1, 2, 3),
         bk AS (
           SELECT vec_id, band,
             CAST(sum(CASE WHEN dot_s >= 0 THEN (CAST(1 AS BIGINT) << s) ELSE 0 END) AS BIGINT) AS bucket
           FROM sk GROUP BY 1, 2),
         cand AS (
           SELECT DISTINCT a.vec_id AS d1, c.vec_id AS d2
           FROM bk a JOIN bk c ON a.band = c.band AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         pairs AS (
           SELECT cand.d1, cand.d2,
             CAST(list_sum(list_transform(generate_series(1,64), i -> a.qv[i]*c.qv[i])) AS BIGINT) AS dot,
             a.nrm AS n1, c.nrm AS n2
           FROM cand JOIN nrm a ON cand.d1 = a.vec_id JOIN nrm c ON cand.d2 = c.vec_id)
         SELECT d1, d2, dot,
           CAST(dot AS DOUBLE)/sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) AS cosine
         FROM pairs
         WHERE CAST(dot AS DOUBLE)/sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) >= 0.35
         ORDER BY d1, d2""",
    // the q32 component pipeline + exact-dup window + token gate,
    // composed with the same reason precedence as curateCorpus
    // raw interpolator: the exact-dup regex '\s+' must not hit the s""
    // interpolator's escape processing
    "q35_corpus_curation" ->
      raw"""WITH RECURSIVE $ShingleCtes,
         $PairCtes,
         $ComponentCtes,
         exact AS (
           SELECT doc_id,
             doc_id <> min(doc_id) OVER (
               PARTITION BY sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS exact_dup
           FROM documents),
         near AS (
           SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) <> d.doc_id AS near_dup
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         tok AS (
           SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> length(x) > 0)) < 5 AS too_short
           FROM documents)
         SELECT e.doc_id,
           NOT (e.exact_dup OR n.near_dup OR t.too_short) AS keep,
           CASE WHEN e.exact_dup THEN 'exact_dup'
                WHEN n.near_dup THEN 'near_dup'
                WHEN t.too_short THEN 'too_short'
                ELSE 'kept' END AS reason
         FROM exact e JOIN near n USING (doc_id) JOIN tok t USING (doc_id)
         ORDER BY e.doc_id""",
    "q36_train_split" ->
      """SELECT doc_id, source,
           CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 CAST(('0x' || substr(md5('split-v1:' || doc_id), 1, 15)) AS BIGINT) % 1000 AS h
               FROM documents) t
         ORDER BY doc_id""",
    "q37_stratified_sample" ->
      """SELECT doc_id, source, lang FROM (
           SELECT doc_id, source, lang,
             CAST(('0x' || substr(md5('sample-v1/' || source || ':' || doc_id), 1, 15)) AS BIGINT) % 1000 AS h
           FROM documents) t
         WHERE h < 200 ORDER BY doc_id""",
    // q20's shingle machinery with one side restricted to the
    // benchmark subset (doc_id % 50 = 0, capped at doc_id < 51200 —
    // the q71 probe-cap pattern: ≤1,024 bench docs at any SF) and a
    // best-match argmax
    "q38_benchmark_overlap" ->
      s"""WITH $ShingleCtes,
         inter AS (
           SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS inter
           FROM sh c JOIN sh b ON c.shingle = b.shingle
           WHERE b.doc_id % 50 = 0 AND b.doc_id < 51200 AND c.doc_id % 50 <> 0
           GROUP BY 1, 2),
         scored AS (
           SELECT i.doc_id, i.bench_id, i.inter,
             CAST(i.inter AS DOUBLE)/(s1.n + s2.n - i.inter) AS jaccard
           FROM inter i JOIN sizes s1 ON i.doc_id = s1.doc_id
                        JOIN sizes s2 ON i.bench_id = s2.doc_id
           WHERE CAST(i.inter AS DOUBLE)/(s1.n + s2.n - i.inter) >= 0.2),
         best AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, bench_id) AS rn
           FROM scored)
         SELECT doc_id, bench_id, inter, jaccard FROM best WHERE rn = 1
         ORDER BY doc_id""",
    // GPT-style concatenation packing, shard-parallel: cumulative
    // token offsets within doc_id%8 shards, pack = start_tok div 128
    "q39_sequence_packing" ->
      """WITH tok AS (
           SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM tok)
         SELECT doc_id, shard, n_tokens, cum - n_tokens AS start_tok,
           (cum - n_tokens) // 128 AS pack_id
         FROM c ORDER BY doc_id""",
    // per-(source,lang) cap at 5 expected docs: the 60-bit hash is
    // accepted below (2^60 div n)·5 (clamped to 2^60 when n ≤ 5) —
    // full-granularity exact-integer rate, never floors to zero
    "q40_stratum_cap" ->
      """WITH strata AS (
           SELECT source, lang, CAST(count(*) AS BIGINT) AS n_stratum
           FROM documents GROUP BY 1, 2),
         r AS (
           SELECT source, lang, n_stratum,
             CASE WHEN n_stratum <= 5 THEN CAST(1152921504606846976 AS BIGINT)
                  ELSE (CAST(1152921504606846976 AS BIGINT) // n_stratum) * 5 END AS accept_threshold
           FROM strata)
         SELECT d.doc_id, d.source, d.lang, r.n_stratum, r.accept_threshold
         FROM documents d JOIN r USING (source, lang)
         WHERE CAST(('0x' || substr(md5('cap-v1/' || d.source || '/' || d.lang || ':' || d.doc_id), 1, 15)) AS BIGINT) < r.accept_threshold
         ORDER BY d.doc_id""",
    // within-doc bigram repetition (Gopher-style): the explode/groupBy
    // formulation here IS the spec for the Spark side's one-pass
    // codegen expression
    "q41_repetition_stats" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
           FROM documents),
         bi AS (
           SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
           FROM toks, unnest(generate_series(1, len(ws)-1)) AS t(i)
           WHERE len(ws) >= 2),
         cnt AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             CAST(count(*) AS BIGINT) AS n_distinct_bigrams, CAST(max(c) AS BIGINT) AS max_count
           FROM cnt GROUP BY 1)
         SELECT doc_id, n_bigrams, n_distinct_bigrams, max_count,
           1 - CAST(n_distinct_bigrams AS DOUBLE)/n_bigrams AS dup_frac,
           CAST(max_count AS DOUBLE)/n_bigrams AS top_frac
         FROM agg ORDER BY doc_id""",
    // q32's component pipeline resolved by keep-best (most tokens,
    // tie → min doc_id) instead of min doc_id
    "q42_cluster_keep_best" ->
      s"""WITH RECURSIVE $ShingleCtes,
         $PairCtes,
         $ComponentCtes,
         tok AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_tokens
           FROM documents),
         ranked AS (
           SELECT c.doc_id, c.cluster_id, t.n_tokens,
             row_number() OVER (PARTITION BY c.cluster_id ORDER BY t.n_tokens DESC, c.doc_id) AS rn
           FROM comp c JOIN tok t USING (doc_id))
         SELECT t.doc_id, coalesce(r.cluster_id, t.doc_id) AS cluster_id, t.n_tokens,
           coalesce(r.rn = 1, true) AS keep
         FROM tok t LEFT JOIN ranked r USING (doc_id)
         ORDER BY t.doc_id""",
    // corpus vocabulary profile: top-50 tokens by total occurrences,
    // with document frequency; ties at the cut break by token
    "q43_vocab_topk" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS token
           FROM documents),
         perdoc AS (SELECT token, doc_id, count(*) AS c FROM toks GROUP BY 1, 2),
         vocab AS (
           SELECT token, CAST(sum(c) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df
           FROM perdoc GROUP BY 1),
         top AS (SELECT *, row_number() OVER (ORDER BY tf DESC, token) AS rank FROM vocab)
         SELECT CAST(rank AS BIGINT) AS rank, token, tf, df
         FROM top WHERE rank <= 50 ORDER BY rank""",
    // q20's near-dup pairs rolled up to source level: which sources
    // mirror each other (max jaccard is summation-order-independent —
    // an avg of doubles would hash differently per engine)
    "q44_cross_source_dups" ->
      s"""WITH $ShingleCtes,
         $PairCtes,
         srcd AS (
           SELECT LEAST(a.source, b.source) AS src_a, GREATEST(a.source, b.source) AS src_b,
                  p.jaccard
           FROM pairs p JOIN documents a ON p.d1 = a.doc_id JOIN documents b ON p.d2 = b.doc_id)
         SELECT src_a, src_b, count(*) AS n_pairs, max(jaccard) AS max_jaccard
         FROM srcd GROUP BY 1, 2 ORDER BY src_a, src_b""",
    // exact full-scan cosine top-k — q27's scoring WITHOUT the bucket
    // restriction: the recall-1.0 baseline the ANN variants trade away
    "q45_brute_topk" ->
      """WITH q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         nrm AS (
           SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
         scored AS (
           SELECT a.vec_id AS q_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64), i -> a.qv[i]*c.qv[i])) AS BIGINT) AS dot,
             a.nrm AS qn, c.nrm AS cn
           FROM nrm a JOIN nrm c ON c.vec_id <> a.vec_id
           WHERE a.vec_id % 50 = 0),
         ranked AS (
           SELECT q_id, neighbor_id, dot,
             CAST(dot AS DOUBLE)/sqrt(CAST(qn AS DOUBLE)*CAST(cn AS DOUBLE)) AS cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(qn AS DOUBLE)*CAST(cn AS DOUBLE)) DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT q_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, dot, cosine
         FROM ranked WHERE rnk <= 5 ORDER BY q_id, rank""",
    // overlapping token windows (64 every 48): starts while inside the
    // doc, final chunk partial — every token covered
    "q46_sliding_chunks" ->
      """WITH tok AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n
           FROM documents),
         c AS (
           SELECT doc_id, n, unnest(generate_series(0, (n - 1) // 48)) AS chunk_id
           FROM tok WHERE n > 0)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 48 AS BIGINT) AS tok_start,
           CAST(LEAST(64, n - chunk_id * 48) AS BIGINT) AS tok_len
         FROM c ORDER BY doc_id, chunk_id""",
    // gaps-and-islands replay of session_window's merge rule: touching
    // windows MERGE (a gap of exactly 30 minutes continues the
    // session — pinned by EventWindowsSpec), so a session breaks only
    // on a STRICTLY greater gap; session_end = last event + gap
    "q47_session_stats" ->
      """WITH g AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    // weighted source mixing: T = min over sources of supply/weight
    // (exact integer), per-source expected target (T·w) div 1000
    // applied via the shared 60-bit hash threshold (q40's rule)
    "q48_source_mix" ->
      """WITH w AS (
           SELECT source, CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS wt, count(*) AS n
           FROM documents GROUP BY source),
         t AS (SELECT min(n * 1000 // wt) AS t FROM w WHERE wt > 0),
         r AS (
           SELECT w.source, w.n, (t.t * w.wt) // 1000 AS target_n,
             CASE WHEN (t.t * w.wt) // 1000 >= w.n THEN 1152921504606846976
                  ELSE (1152921504606846976 // w.n) * ((t.t * w.wt) // 1000) END AS thr
           FROM w, t WHERE w.wt > 0)
         SELECT d.doc_id, d.source, r.n AS n_stratum, r.target_n
         FROM documents d JOIN r ON d.source = r.source
         WHERE CAST(('0x' || substr(md5('mix-v1/' || d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < r.thr
         ORDER BY d.doc_id""",
    // exact quantiles: DuckDB quantile_cont interpolates at p·(n−1),
    // the same rule as Spark's percentile
    "q49_corpus_profile" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           quantile_cont(n_chars, 0.5) AS median_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars
         FROM documents GROUP BY source ORDER BY source""",
    // q38's oracle VERBATIM: the Bloom pre-filter has no false
    // negatives and the exact join removes its false positives, so the
    // scale path must produce byte-identical results
    "q50_overlap_bloom" ->
      s"""WITH $ShingleCtes,
         inter AS (
           SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS inter
           FROM sh c JOIN sh b ON c.shingle = b.shingle
           WHERE b.doc_id % 50 = 0 AND b.doc_id < 51200 AND c.doc_id % 50 <> 0
           GROUP BY 1, 2),
         scored AS (
           SELECT i.doc_id, i.bench_id, i.inter,
             CAST(i.inter AS DOUBLE)/(s1.n + s2.n - i.inter) AS jaccard
           FROM inter i JOIN sizes s1 ON i.doc_id = s1.doc_id
                        JOIN sizes s2 ON i.bench_id = s2.doc_id
           WHERE CAST(i.inter AS DOUBLE)/(s1.n + s2.n - i.inter) >= 0.2),
         best AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, bench_id) AS rn
           FROM scored)
         SELECT doc_id, bench_id, inter, jaccard FROM best WHERE rn = 1
         ORDER BY doc_id""",
    // pivot = conditional counts per fixed language column; FILTER
    // counts give 0 for missing cells, matching the Spark side's fill
    "q51_lang_pivot" ->
      """SELECT source,
           count(*) FILTER (WHERE lang = 'de') AS de,
           count(*) FILTER (WHERE lang = 'en') AS en,
           count(*) FILTER (WHERE lang = 'es') AS es,
           count(*) FILTER (WHERE lang = 'fr') AS fr,
           count(*) FILTER (WHERE lang = 'zh') AS zh
         FROM documents GROUP BY source ORDER BY source""",
    // range join: equi on user + micros window predicate, exact
    // integer gaps on both engines
    "q52_range_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
         c AS (SELECT user_id, event_id AS click_id, us AS click_us FROM e WHERE event_type = 'click'),
         v AS (SELECT user_id, event_id AS view_id, us AS view_us FROM e WHERE event_type = 'view')
         SELECT c.user_id, c.click_id, v.view_id, v.view_us - c.click_us AS gap_us
         FROM c JOIN v ON c.user_id = v.user_id
          AND v.view_us > c.click_us AND v.view_us <= c.click_us + 600000000
         ORDER BY click_id, view_id""",
    // as-of join as the running-max window replay — the same
    // preceding-rows frame the Spark side executes, so the strictly-
    // before tie rule is one definition on both engines
    "q53_asof_join" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
           WHERE event_type IN ('click', 'purchase')),
         w AS (
           SELECT *, max(CASE WHEN event_type = 'click' THEN us END)
             OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
           FROM e)
         SELECT user_id, event_id, make_timestamp(us) AS ts,
           make_timestamp(last_click_us) AS last_click_ts,
           us - last_click_us AS gap_us
         FROM w WHERE event_type = 'purchase' ORDER BY event_id""",
    // cube: all four grouping combinations + GROUPING() bitmask
    // (same bit order as Spark's grouping_id: first column = MSB)
    "q54_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    // gap-fill: per-user daily grid over each user's own span,
    // missing days zero-filled
    "q55_daily_gap_fill" ->
      """WITH d AS (
           SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_events
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
         grid AS (
           SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM s)
         SELECT g.user_id, g.day, CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events
         FROM grid g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day
         ORDER BY g.user_id, g.day""",
    // exact duplicated-substring removal (Lee et al. 2021 semantics):
    // any 8-token shingle occurring >= 2 times anywhere marks all its
    // occurrences' tokens for removal; survivors re-join with single
    // spaces. Tokens = split-on-single-space keeping empties, the
    // shingle family's pinned convention. Parallel unnests zip in
    // DuckDB, giving (token, 0-based position) with no join.
    "q56_substring_dedup" ->
      """WITH tok AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         shl AS (
           SELECT doc_id, unnest(generate_series(0, len(toks) - 8)) AS spos, toks
           FROM tok WHERE len(toks) >= 8),
         shs AS (
           SELECT doc_id, spos, array_to_string(toks[spos + 1 : spos + 8], ' ') AS shingle
           FROM shl),
         dup AS (SELECT shingle FROM shs GROUP BY shingle HAVING count(*) >= 2),
         spans AS (SELECT s.doc_id, s.spos FROM shs s JOIN dup d USING (shingle)),
         cov AS (
           SELECT DISTINCT doc_id, cp FROM (
             SELECT doc_id, unnest(generate_series(spos, spos + 7)) AS cp FROM spans) t),
         tokpos AS (
           SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) - 1 AS p
           FROM tok),
         kept AS (
           SELECT t.doc_id, t.tok, t.p
           FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.cp
           WHERE c.cp IS NULL),
         agg AS (
           SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY p) AS text_clean
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.text_clean, '') AS text_clean
         FROM tok t LEFT JOIN agg a USING (doc_id)
         ORDER BY t.doc_id""",
    // NFC canonicalization: the corpus is ASCII, so both engines
    // prepend the same pinned DECOMPOSED prefix (Cafe+U+0301,
    // nai+U+0308) to make the normalization observable — DuckDB's
    // nfc_normalize and the JDK's Normalizer implement the same
    // Unicode canonical composition, len_nfc = len_raw - 2
    "q57_nfc_normalize" ->
      ("WITH r AS (SELECT doc_id, 'Cafe\u0301 nai\u0308ve ' || substr(text, 1, 40) AS raw FROM documents) " +
        "SELECT doc_id, CAST(length(raw) AS BIGINT) AS len_raw, " +
        "CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc, " +
        "nfc_normalize(raw) AS text_nfc FROM r ORDER BY doc_id"),
    // rolling RANGE-frame window over the daily rollup: both engines
    // order by the identical integer day number, sum in exact decimal,
    // and cast only the final columns to double
    "q58_rolling_revenue" ->
      """WITH daily AS (
           SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1),
         d2 AS (
           SELECT *, datediff('day', DATE '1970-01-01', CAST(day AS DATE)) AS day_num
           FROM daily)
         SELECT day, n_orders, CAST(rev AS DOUBLE) AS day_rev,
           CAST(sum(rev) OVER w AS DOUBLE) AS rev7,
           count(*) OVER w AS days7,
           CAST(sum(rev) OVER w AS DOUBLE) / (count(*) OVER w) AS avg7
         FROM d2
         WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY day""",
    // rank-function family over a TOTAL order key (n_chars, doc_id):
    // ntile/percent_rank/cume_dist are deterministic on both engines
    "q59_length_deciles" ->
      """SELECT doc_id, source, n_chars,
           ntile(10) OVER w AS decile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
         FROM documents
         WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
         ORDER BY source, doc_id""",
    // unpivot of q49's wide profile: the UNION ALL is the portable
    // spelling of UNPIVOT; every stat cast to double (one value type)
    "q60_profile_unpivot" ->
      """WITH p AS (
           SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
             min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             quantile_cont(n_chars, 0.5) AS median_chars,
             quantile_cont(n_chars, 0.9) AS p90_chars
           FROM documents GROUP BY source)
         SELECT source, stat, value FROM (
           SELECT source, 'n_docs' AS stat, CAST(n_docs AS DOUBLE) AS value FROM p
           UNION ALL SELECT source, 'n_langs', CAST(n_langs AS DOUBLE) FROM p
           UNION ALL SELECT source, 'min_chars', CAST(min_chars AS DOUBLE) FROM p
           UNION ALL SELECT source, 'max_chars', CAST(max_chars AS DOUBLE) FROM p
           UNION ALL SELECT source, 'median_chars', CAST(median_chars AS DOUBLE) FROM p
           UNION ALL SELECT source, 'p90_chars', CAST(p90_chars AS DOUBLE) FROM p)
         ORDER BY source, stat""",
    // BPE pair counts: character-addressed substr(w, i, 2) within each
    // word replays char_pairs' code-point slices; ties broken by pair
    "q61_bpe_pairs" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         prs AS (
           SELECT doc_id, substr(w, i, 2) AS pair
           FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i)
           WHERE length(w) >= 2),
         cnt AS (
           SELECT pair, count(*) AS n, count(DISTINCT doc_id) AS df
           FROM prs GROUP BY pair)
         SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank,
           pair, n, df
         FROM cnt ORDER BY n DESC, pair LIMIT 50""",
    // dim-wise centroid sums on round(x·1e6) BIGINTs — exact integer
    // partial-agg on both engines; DuckDB's BIGINT sum widens to
    // HUGEINT, cast back; mean is one identical IEEE division
    "q62_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim, count(*) AS n,
           CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
           CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*) AS mean_q
         FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
         GROUP BY label, dim ORDER BY label, dim""",
    // INTERSECT binds tighter than EXCEPT (both DISTINCT semantics) —
    // parenthesized anyway so both engines read one grouping; value
    // thresholds keep every operand a strict subset (non-vacuous rows)
    "q63_engaged_purchasers" ->
      """(SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 50
          INTERSECT
          SELECT user_id FROM events WHERE event_type = 'click' AND value > 50)
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error' AND value > 90
         ORDER BY user_id""",
    // navigation windows over the identical total order key; the
    // default running frame makes first_value the partition's first
    "q64_event_navigation" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
         SELECT user_id, event_id, event_type,
           lag(event_type) OVER w AS prev_type,
           us - lag(us) OVER w AS gap_us,
           lead(us) OVER w - us AS next_gap_us,
           us - first_value(us) OVER w AS since_first_us
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
         ORDER BY user_id, event_id""",
    // sketch accuracy bands, NOT sketch values: each engine runs its
    // OWN approx_count_distinct / approx_quantile and asserts the same
    // deterministic bands vs the same exact twins (count-distinct,
    // quantile_cont) — booleans are engine-invariant where HLL/t-digest
    // register values never are, so the row hash-matches without
    // pinning either engine's sketch internals
    "q65_approx_profile" ->
      """WITH toks AS (
           SELECT source, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS token
           FROM documents),
         v AS (
           SELECT source, count(DISTINCT token) AS exact_vocab,
             approx_count_distinct(token) AS av
           FROM toks GROUP BY source),
         l AS (
           SELECT source, count(*) AS n_docs,
             quantile_cont(n_chars, 0.5) AS exact_median,
             quantile_cont(n_chars, 0.9) AS exact_p90,
             approx_quantile(n_chars, 0.5) AS ap50,
             approx_quantile(n_chars, 0.9) AS ap90
           FROM documents GROUP BY source)
         SELECT l.source, l.n_docs, v.exact_vocab, l.exact_median, l.exact_p90,
           (abs(v.av - v.exact_vocab) <= 0.10 * v.exact_vocab) AS vocab_in_band,
           (abs(ap50 - exact_median) <= 0.15 * exact_median + 8) AS p50_in_band,
           (abs(ap90 - exact_p90) <= 0.15 * exact_p90 + 8) AS p90_in_band
         FROM l JOIN v USING (source)
         ORDER BY source""",
    // moments from EXACT decimal co-moment sums (order-independent),
    // derived by the identical IEEE double formula tree on both
    // engines — never the engines' own streaming stddev/corr, whose
    // partial-merge order drifts
    "q66_price_stats" ->
      """WITH s AS (
           SELECT l_returnflag AS flag, count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
             sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
             sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
             sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp
           FROM lineitem GROUP BY 1)
         SELECT flag, n,
           CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
           CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS mean_p,
           sqrt(greatest(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE), 0)) / CAST(n AS DOUBLE) AS stddev_q,
           sqrt(greatest(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE), 0)) / CAST(n AS DOUBLE) AS stddev_p,
           (CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) /
             nullif(sqrt(greatest(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE), 0)) *
                    sqrt(greatest(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE), 0)), 0) AS corr_qp
         FROM s ORDER BY flag""",
    // the two one-dimension marginals in one pass; GROUPING() bitmask
    // in Spark's bit order (first listed column = MSB)
    "q67_order_marginals" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    // SemDeDup: the shared IVF training replay assigns cells (af),
    // exact within-cell cosine pairs (q29's formula: one sqrt over the
    // norm product), then the q32/q33 recursive-reachability
    // resolution and full-table drop-list
    "q68_semantic_dedup" ->
      s"""WITH RECURSIVE $IvfCtes,
         pairs AS (
           SELECT x.vec_id AS d1, y.vec_id AS d2
           FROM af x
           JOIN af y ON y.j = x.j AND x.vec_id < y.vec_id
           JOIN v vx ON vx.vec_id = x.vec_id
           JOIN v vy ON vy.vec_id = y.vec_id
           WHERE ${VecCosineGE("vx", "vy")}),
         $VecComponentSql""",
    // the oracle is the PLAIN (unsalted) join — certifying the salted
    // plan's result-identity claim on driver data
    "q69_skew_salted_join" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_events,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_val
         FROM (SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS k, value
               FROM events) e
         JOIN customer ON c_custkey = k
         GROUP BY c_mktsegment ORDER BY seg""",
    // q68's training/pairing/resolution replay with the CELL COUNT
    // derived from the corpus (cellsFor) — the production sizing rule
    // of the semantic-dedup family, oracle-gated like q34's planesFor
    "q70_semantic_scaled" ->
      s"""WITH RECURSIVE $IvfCtesScaled,
         pairs AS (
           SELECT x.vec_id AS d1, y.vec_id AS d2
           FROM af x
           JOIN af y ON y.j = x.j AND x.vec_id < y.vec_id
           JOIN v vx ON vx.vec_id = x.vec_id
           JOIN v vy ON vy.vec_id = y.vec_id
           WHERE ${VecCosineGE("vx", "vy")}),
         $VecComponentSql""",
    // q70's trajectory with every assignment routed TWO-LEVEL
    // (IvfCtesTwoLevel) — the executed production scale path of the
    // semantic-dedup family, gated end-to-end: seeding, grouping
    // rounds, super-routing, training, pairing, and resolution all
    // replay bit-for-bit because the router is exact-integer plus the
    // pinned single-division meanGrid rounding
    "q76_semantic_twolevel" ->
      s"""WITH RECURSIVE $IvfCtesTwoLevel,
         pairs AS (
           SELECT x.vec_id AS d1, y.vec_id AS d2
           FROM af x
           JOIN af y ON y.j = x.j AND x.vec_id < y.vec_id
           JOIN v vx ON vx.vec_id = x.vec_id
           JOIN v vy ON vy.vec_id = y.vec_id
           WHERE ${VecCosineGE("vx", "vy")}),
         $VecComponentSql""",
    // BM25 over the documents relation: Lucene-form idf, k1=1.2,
    // b=0.75, per-term contributions quantized DECIMAL(18,6) before
    // the sum (exact addition — the q62 rule), probes = every 100th
    // doc's first 8 tokens, top-10. Double literals are CAST to
    // DOUBLE (a bare 0.5 is DECIMAL in DuckDB and would divide on a
    // different grid than Spark's double arithmetic).
    "q71_bm25_topk" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> length(w) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl, ws FROM toks),
         tf AS (
           SELECT doc_id, dl, term, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dl) t GROUP BY 1, 2, 3),
         stats AS (
           SELECT (SELECT count(*) FROM documents) AS n,
                  CAST(sum(dl) AS DOUBLE)/(SELECT count(*) FROM documents) AS avgdl FROM dl),
         idf AS (
           SELECT term, ln(1 + (CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))/(df + CAST(0.5 AS DOUBLE))) AS idf
           FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) d, stats),
         qterms AS (
           SELECT DISTINCT doc_id AS query_id, term
           FROM (SELECT doc_id, unnest(ws[1:8]) AS term FROM toks
                 WHERE doc_id % 100 = 0 AND doc_id < 102400) t),
         contrib AS (
           SELECT q.query_id, t.doc_id,
             CAST(i.idf * (t.tf*(CAST(1.2 AS DOUBLE) + 1)/(t.tf + CAST(1.2 AS DOUBLE)*(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)*t.dl/avgdl))) AS DECIMAL(18,6)) AS c
           FROM qterms q JOIN tf t USING (term) JOIN idf i USING (term), stats),
         scores AS (SELECT query_id, doc_id, sum(c) AS score_q FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, doc_id, score_q,
             row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank
           FROM scores)
         SELECT query_id, CAST(rank AS INT) AS rank, doc_id, CAST(score_q AS DOUBLE) AS score
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // Bigram-LM perplexity: train on doc_id%10<8, score the held-out
    // 20%; vocab = top-2000 raw tokens (freq DESC, token ASC), <s>
    // head conditions every token, literal <s> remaps to <unk> before
    // adjacency, add-0.1 smoothing over V = |vocab|+1. Per-bigram
    // log-probs quantized DECIMAL(18,8) before the per-doc sum.
    "q72_lm_perplexity" ->
      """WITH raw AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws0
           FROM documents),
         toks AS (
           SELECT doc_id, ws0,
             list_transform(ws0, t -> CASE WHEN t = '<s>' THEN '<unk>' ELSE t END) AS ws
           FROM raw),
         vocab AS (
           SELECT token FROM (SELECT unnest(ws0) AS token FROM toks WHERE doc_id % 10 < 8) t
           WHERE token NOT IN ('<s>', '<unk>')
           GROUP BY token ORDER BY count(*) DESC, token LIMIT 2000),
         vsize AS (SELECT count(*) + 1 AS v FROM vocab),
         bg0 AS (
           SELECT doc_id,
             CASE WHEN i = 1 THEN '<s>' ELSE ws[i-1] END AS w1, ws[i] AS w2
           FROM toks, unnest(generate_series(1, len(ws))) AS t(i)),
         bgm AS (
           SELECT doc_id,
             CASE WHEN w1 = '<s>' THEN w1
                  WHEN w1 IN (SELECT token FROM vocab) THEN w1 ELSE '<unk>' END AS w1,
             CASE WHEN w2 IN (SELECT token FROM vocab) THEN w2 ELSE '<unk>' END AS w2
           FROM bg0),
         bc AS (SELECT w1, w2, count(*) AS bcount FROM bgm WHERE doc_id % 10 < 8 GROUP BY 1, 2),
         cc AS (SELECT w1, CAST(sum(bcount) AS BIGINT) AS ccount FROM bc GROUP BY 1),
         scored AS (
           SELECT g.doc_id,
             CAST(ln((coalesce(b.bcount, 0) + CAST(0.1 AS DOUBLE)) /
                     (coalesce(c.ccount, 0) + CAST(0.1 AS DOUBLE)*v)) AS DECIMAL(18,8)) AS logp
           FROM bgm g LEFT JOIN bc b USING (w1, w2) LEFT JOIN cc c USING (w1), vsize
           WHERE g.doc_id % 10 >= 8),
         perdoc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(logp) AS sum_logp
           FROM scored GROUP BY 1),
         xents AS (
           SELECT doc_id, n_tokens,
             -CAST(sum_logp AS DOUBLE)/n_tokens AS cross_entropy
           FROM perdoc)
         SELECT doc_id, n_tokens, cross_entropy,
           CAST(CAST(exp(cross_entropy) AS DECIMAL(38,6)) AS DOUBLE) AS perplexity
         FROM xents ORDER BY doc_id""",
    // DSIR selection: hashed uni+bigram models (10000 buckets,
    // add-0.1), target = doc_id%7=0 slice, raw = the whole pool;
    // per-bucket log ratios quantized DECIMAL(18,8), Gumbel-top-100
    // on deterministic hash noise; the gumbel key itself is dropped
    // from the output (libm-ulp-sensitive) — membership + exact
    // weights are gated.
    "q73_dsir_select" ->
      """WITH raw AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS ws
           FROM documents),
         feats AS (
           SELECT doc_id, CAST(('0x' || substr(md5(ngram), 1, 15)) AS BIGINT) % 10000 AS bucket
           FROM (
             SELECT doc_id, unnest(ws) AS ngram FROM raw
             UNION ALL
             SELECT doc_id, ws[i] || ' ' || ws[i+1] AS ngram
             FROM raw, unnest(generate_series(1, len(ws)-1)) AS t(i)) t),
         tm AS (SELECT bucket, count(*) AS tcnt FROM feats WHERE doc_id % 7 = 0 GROUP BY 1),
         rm AS (SELECT bucket, count(*) AS rcnt FROM feats GROUP BY 1),
         tot AS (
           SELECT (SELECT CAST(coalesce(sum(tcnt), 0) AS BIGINT) FROM tm) AS tt,
                  (SELECT CAST(coalesce(sum(rcnt), 0) AS BIGINT) FROM rm) AS rt),
         lr AS (
           SELECT rm.bucket,
             CAST(ln((coalesce(tm.tcnt, 0) + CAST(0.1 AS DOUBLE))/(tt + CAST(0.1 AS DOUBLE)*10000)) -
                  ln((rm.rcnt + CAST(0.1 AS DOUBLE))/(rt + CAST(0.1 AS DOUBLE)*10000)) AS DECIMAL(18,8)) AS lr
           FROM rm LEFT JOIN tm USING (bucket), tot),
         dflt AS (
           SELECT CAST(ln(CAST(0.1 AS DOUBLE)/(tt + CAST(0.1 AS DOUBLE)*10000)) -
                       ln(CAST(0.1 AS DOUBLE)/(rt + CAST(0.1 AS DOUBLE)*10000)) AS DECIMAL(18,8)) AS d
           FROM tot),
         w AS (
           SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             sum(coalesce(l.lr, dflt.d)) AS lwq
           FROM feats f LEFT JOIN lr l USING (bucket), dflt
           GROUP BY f.doc_id, dflt.d),
         keyed AS (
           SELECT doc_id, n_feats, CAST(lwq AS DOUBLE) AS log_weight,
             lwq + CAST(-ln(-ln((CAST(('0x' || substr(md5('dsir-v1:' || doc_id), 1, 15)) AS BIGINT) + CAST(0.5 AS DOUBLE))/1152921504606846976)) AS DECIMAL(18,8)) AS gk
           FROM w),
         sel AS (SELECT doc_id, n_feats, log_weight FROM keyed ORDER BY gk DESC, doc_id LIMIT 100)
         SELECT doc_id, n_feats, log_weight FROM sel ORDER BY doc_id""",
    // Temperature-flattened mixing: weight n_s^0.5 quantized to a
    // DECIMAL(18,6) grid (pow ulps die in the cast), then all-integer
    // budget/target/threshold arithmetic and the q40 hash-acceptance
    // rule — the selected SET replays bit-for-bit.
    "q74_temperature_mix" ->
      """WITH strata AS (SELECT source, count(*) AS n_stratum FROM documents GROUP BY 1),
         w AS (
           SELECT source, n_stratum,
             CAST(CAST(pow(n_stratum, CAST(0.5 AS DOUBLE)) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS wq
           FROM strata),
         tot AS (
           SELECT CAST(sum(wq) AS BIGINT) AS sum_wq,
                  CAST(sum(n_stratum) AS BIGINT) AS n_total FROM w),
         rates AS (
           SELECT source, n_stratum,
             CAST(LEAST(CAST(n_stratum AS HUGEINT),
               ((CAST(n_total AS HUGEINT) * 500 // 1000) * wq) // sum_wq) AS BIGINT) AS target_n
           FROM w, tot),
         acc AS (
           SELECT source, n_stratum, target_n,
             CASE WHEN target_n >= n_stratum THEN 1152921504606846976
                  ELSE (1152921504606846976 // n_stratum) * target_n END AS accept_threshold
           FROM rates)
         SELECT d.doc_id, d.source, a.n_stratum, a.target_n
         FROM documents d JOIN acc a USING (source)
         WHERE CAST(('0x' || substr(md5('temp-v1/' || d.source || ':' || d.doc_id), 1, 15)) AS BIGINT) < a.accept_threshold
         ORDER BY d.doc_id""",
    // Per-doc n-gram novelty of the held-out 20% vs train: the q20
    // family's UNCAPPED distinct-shingle relation (sh0 — the df cap
    // is a near-dup optimization, not a novelty semantic), one
    // distinct train set, indicator left join, exact-integer counts,
    // one IEEE division.
    "q75_ngram_novelty" ->
      s"""WITH $ShingleCtes,
         train AS (SELECT DISTINCT shingle FROM sh0 WHERE doc_id % 10 < 8),
         ev AS (
           SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
           FROM sh0 s LEFT JOIN train t USING (shingle)
           WHERE s.doc_id % 10 >= 8 GROUP BY 1)
         SELECT doc_id, n_shingles, n_seen,
           1 - CAST(n_seen AS DOUBLE)/n_shingles AS novelty
         FROM ev ORDER BY doc_id""",
    // PQ ADC top-k (PqCtes replays training, encoding, the per-probe
    // ADC tables, and the exact-integer estimate sum bit-for-bit)
    "q77_pq_topk" ->
      s"""WITH $PqCtes
         SELECT q_id, rank, neighbor_id, est FROM pqtopk ORDER BY q_id, rank""",
    // kNN majority vote over the PQ neighbors: per-probe label votes
    // (ties to the smallest label), rolled up to per-true-label
    // accuracy counts
    "q78_knn_classify" ->
      s"""WITH $PqCtes,
         votes AS (SELECT t.q_id, e.label AS n_label, count(*) AS votes
                   FROM pqtopk t JOIN embeddings e ON e.vec_id = t.neighbor_id
                   GROUP BY 1, 2),
         pred AS (SELECT q_id, n_label AS pred FROM (
                   SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, n_label) AS rn
                   FROM votes) t WHERE rn = 1)
         SELECT e.label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         FROM pred p JOIN embeddings e ON e.vec_id = p.q_id
         GROUP BY e.label ORDER BY e.label""",
    // IVFADC: coarse IVF routing + PQ residual codes, nprobe=2 serve
    // over a cell equi-join (IvfPqCtes replays coarse training,
    // residuals, shared-codebook training, probing, and the
    // per-(probe, cell) ADC tables bit-for-bit)
    "q79_ivfpq_topk" ->
      s"""WITH $IvfPqCtes
         SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, est FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
           FROM iest) t
         WHERE rn <= 5 ORDER BY q_id, rank""",
    // q77's training/encoding/ADC replay with the CODEBOOK SIZE
    // derived from the corpus (kFor) — the production sizing rule of
    // the PQ family, oracle-gated like q70's cellsFor / q34's
    // planesFor (non-vacuous: 500 vectors derive K = 32 ≠ 16)
    "q80_pq_scaled" ->
      s"""WITH $PqCtesScaled
         SELECT q_id, rank, neighbor_id, est FROM pqtopk ORDER BY q_id, rank""",
    // SQ8: per-dim [min,max] bounds on the quantized grid, byte codes
    // c = clamp((x−mn)·255 // rng, 0, 255) (the clamp is an identity
    // when bounds come from this corpus, and the pinned saturation
    // semantics under a stale bounds artifact — Sq.encode), pinned
    // reconstruction r = mn + (c·rng) // 255 (the CASE fuses
    // encode∘decode; mx = mn dims reconstruct to mn exactly as code-0
    // does), exact-integer Σ(q−r)² estimate, ties (est, neighbor_id),
    // self excluded, ProbeCap-capped probes. `//`/`div` agree because
    // every operand is non-negative on the covered grid.
    "q81_sq8_topk" ->
      s"""WITH q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         dims AS (SELECT unnest(generate_series(1,64)) AS d),
         bounds AS (
           SELECT d, min(qv[d]) AS mn, max(qv[d]) AS mx FROM q, dims GROUP BY d),
         rv AS MATERIALIZED (
           SELECT vec_id, list(CASE WHEN b.mx = b.mn THEN b.mn
               ELSE b.mn + (least(255, greatest(0, ((q.qv[b.d] - b.mn) * 255) // (b.mx - b.mn))) * (b.mx - b.mn)) // 255 END
             ORDER BY b.d) AS r
           FROM q, bounds b GROUP BY vec_id),
         sprobes AS (SELECT vec_id, qv FROM q WHERE vec_id % 50 = 0 AND vec_id < ${Pq.ProbeCap}),
         sest AS (
           SELECT p.vec_id AS q_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (p.qv[i]-c.r[i])*(p.qv[i]-c.r[i]))) AS BIGINT) AS est
           FROM sprobes p, rv c WHERE c.vec_id <> p.vec_id)
         SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, est FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
           FROM sest) t
         WHERE rn <= 5 ORDER BY q_id, rank""",
    // IVF+SQ8: the IvfCtes coarse trajectory + the SHARED
    // IvfResidualCtes routing (one definition with q79), then the q81
    // byte grid learned over the RESIDUAL relation: per-dim bounds,
    // fused encode∘decode (clamped exactly as Sq.encode — an identity
    // here since the bounds cover the residuals), and the serve as a
    // cell equi-join of each probe's per-cell residual against the
    // probed cells' reconstructions — est = exact-integer Σ(qres−r)²,
    // ties (est, neighbor_id), self excluded.
    "q82_ivfsq8_topk" ->
      s"""WITH $IvfCtes,
         $IvfResidualCtes,
         $SqResidualCtes,
         ${sqServeTail()}""",
    // q82's serve under the label selector: the tier join + modulo
    // predicate drop candidates AFTER cell probing (index built on
    // the full corpus, filter per request — the Sq.ivfSq8TopKFiltered
    // contract)
    "q86_filtered_ivfsq8" ->
      s"""WITH $IvfCtes,
         $IvfResidualCtes,
         $SqResidualCtes,
         ${sqServeTail(
           extraJoin = " JOIN embeddings e ON e.vec_id = c.vec_id",
           extraWhere = " AND e.label % 2 = 0")}""",
    // frozen-quantizer rolling ingest: training (seeding + both
    // Lloyd's rounds) AND the residual bounds read ONLY the base
    // tranche (vec_id % 5 <> 4); assignment, encoding (clamped — the
    // drifted-delta saturation semantics) and the serve cover the
    // full corpus against the frozen artifacts
    "q87_ivfsq8_frozen_ingest" ->
      s"""WITH ${ivfCtes(Embeddings.OracleCells.toString, trainWhere = "vec_id % 5 <> 4")},
         $IvfResidualCtes,
         ${sqResidualCtes(boundsWhere = "irq.vec_id % 5 <> 4")},
         ${sqServeTail()}""",
    // ADC + exact re-rank: the q77 trajectory generates RefineR
    // candidates per probe by the ADC estimate (pqest + row_number,
    // the same (est, neighbor_id) tie-break), then ONLY those
    // candidates re-score by the exact integer distance on the
    // quantized grid (q45's formula) and re-rank to the top-5 —
    // est in the output is the EXACT distance, not the PQ estimate.
    "q83_pq_refine" ->
      s"""WITH $PqCtes,
         rcands AS (SELECT q_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM pqest) t WHERE rn <= ${Pq.RefineR}),
         rex AS (SELECT c.q_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (pq.qv[i]-nq.qv[i])*(pq.qv[i]-nq.qv[i]))) AS BIGINT) AS est
           FROM rcands c
           JOIN q pq ON pq.vec_id = c.q_id
           JOIN q nq ON nq.vec_id = c.neighbor_id)
         SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, est FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
           FROM rex) t
         WHERE rn <= 5 ORDER BY q_id, rank""",
    // q83's two-stage refine at PRODUCTION SIZING (VERDICT r11 #1):
    // codebooks sized by kFor (the q80 scaled CTEs) and the stage-1
    // candidate budget by rFor — BOTH derived from count(*) via the
    // same integer rules as the Scala side, so the gate is
    // non-vacuous at the oracle SF (K = 32 ≠ 16, r = 64 ≠ 20). The
    // tail is q83's verbatim with the literal RefineR replaced by
    // the RForSql scalar subquery.
    "q98_refine_scaled" ->
      s"""WITH $PqCtesScaled,
         rscands AS (SELECT q_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM pqest) t WHERE rn <= ($RForSql)),
         rsex AS (SELECT c.q_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (pq.qv[i]-nq.qv[i])*(pq.qv[i]-nq.qv[i]))) AS BIGINT) AS est
           FROM rscands c
           JOIN q pq ON pq.vec_id = c.q_id
           JOIN q nq ON nq.vec_id = c.neighbor_id)
         SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, est FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
           FROM rsex) t
         WHERE rn <= 5 ORDER BY q_id, rank""",
    // routed serve ≡ exact serve at saturating nSuperProbe (the
    // pinned probeGrouped property) → the q31 replay IS the twin
    "q84_ivf_routed_serve" -> IvfServeOracle,
    // IVFADC candidates + SQ8 refine: stage 1 is q79's routed ADC
    // replay generating RefineR candidates per probe (iest + the same
    // (est, neighbor_id) tie-break); stage 2 re-scores ONLY those
    // candidates with q82's SQ8-reconstruction distance — the probe's
    // residual against the CANDIDATE's home cell (iprq) vs the
    // candidate's reconstructed residual (srv over the shared irq
    // relation) — and re-ranks to the top-5. est in the output is the
    // SQ8 refine distance, not the ADC estimate.
    "q85_ivfpq_sq8_refine" ->
      s"""WITH $IvfPqCtes,
         $SqResidualCtes,
         rrcands AS (SELECT q_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM iest) t WHERE rn <= ${Pq.RefineR}),
         rrex AS (SELECT c.q_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1,64),
               i -> (p.qv[i]-s.r[i])*(p.qv[i]-s.r[i]))) AS BIGINT) AS est
           FROM rrcands c
           JOIN srv s ON s.vec_id = c.neighbor_id
           JOIN iprq p ON p.q_id = c.q_id AND p.cell = s.cell)
         SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, est FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
           FROM rrex) t
         WHERE rn <= 5 ORDER BY q_id, rank""",
    // Hybrid lexical+semantic fusion: the q71 BM25 replay (b-prefixed
    // CTEs, probe set % 100 under the ProbeCap, SELF-EXCLUDED — both
    // legs treat the query doc as external) and the q82 routed
    // IVF+SQ8 replay (the shared CTE chain at queryMod = 100) each
    // cut a top-10, then Reciprocal Rank Fusion on the exact-integer
    // grid: candidates = union of both lists, score = Σ RrfScale //
    // (60 + rank) with an absent leg contributing 0, fused cut on
    // (rrf_score DESC, doc_id).
    "q88_hybrid_rrf" ->
      s"""WITH $IvfCtes,
         ${ivfResidualCtes(100)},
         $SqResidualCtes,
         ${sqEstCte()},
         sem AS (SELECT q_id AS query_id, neighbor_id AS doc_id, rn AS srank FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM isqest) t WHERE rn <= 10),
         btoks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> length(w) > 0) AS ws
             FROM documents),
         bdl AS (SELECT doc_id, len(ws) AS dl, ws FROM btoks),
         btf AS (SELECT doc_id, dl, term, count(*) AS tf
             FROM (SELECT doc_id, dl, unnest(ws) AS term FROM bdl) t GROUP BY 1, 2, 3),
         bstats AS (SELECT (SELECT count(*) FROM documents) AS n,
                CAST(sum(dl) AS DOUBLE)/(SELECT count(*) FROM documents) AS avgdl FROM bdl),
         bidf AS (SELECT term, ln(1 + (CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))/(df + CAST(0.5 AS DOUBLE))) AS idf
             FROM (SELECT term, count(*) AS df FROM btf GROUP BY 1) d, bstats),
         bq AS (SELECT DISTINCT doc_id AS query_id, term
             FROM (SELECT doc_id, unnest(ws[1:8]) AS term FROM btoks
                   WHERE doc_id % 100 = 0 AND doc_id < ${Pq.ProbeCap}) t),
         bcontrib AS (SELECT q.query_id, t.doc_id,
             CAST(i.idf * (t.tf*(CAST(1.2 AS DOUBLE) + 1)/(t.tf + CAST(1.2 AS DOUBLE)*(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)*t.dl/avgdl))) AS DECIMAL(18,6)) AS c
             FROM bq q JOIN btf t USING (term) JOIN bidf i USING (term), bstats
             WHERE t.doc_id <> q.query_id),
         bscores AS (SELECT query_id, doc_id, sum(c) AS score_q FROM bcontrib GROUP BY 1, 2),
         lex AS (SELECT query_id, doc_id, lrank FROM (
             SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS lrank
             FROM bscores) t WHERE lrank <= 10),
         cand AS (SELECT query_id, doc_id FROM lex UNION SELECT query_id, doc_id FROM sem),
         fused AS (SELECT c.query_id, c.doc_id,
             CAST(coalesce(${Retrieval.RrfScale} // (${Retrieval.RrfK0} + l.lrank), 0)
                + coalesce(${Retrieval.RrfScale} // (${Retrieval.RrfK0} + s.srank), 0) AS BIGINT) AS rrf_score
             FROM cand c
             LEFT JOIN lex l ON l.query_id = c.query_id AND l.doc_id = c.doc_id
             LEFT JOIN sem s ON s.query_id = c.query_id AND s.doc_id = c.doc_id)
         SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, rrf_score FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rn
           FROM fused) t
         WHERE rn <= 10 ORDER BY query_id, rank""",
    // Range search: q82's chain with the rank cut replaced by the
    // radius predicate — every (probe, neighbor) pair from the probed
    // cells with est ≤ tau, ordered (q_id, est, neighbor_id); a probe
    // with no in-radius neighbor contributes no rows.
    "q89_range_search" ->
      s"""WITH $IvfCtes,
         $IvfResidualCtes,
         $SqResidualCtes,
         ${sqEstCte()}
         SELECT q_id, neighbor_id, est FROM isqest
         WHERE est <= ${Sq.RangeTau} ORDER BY q_id, est, neighbor_id""",
    // Tombstone delete: the refreshed snapshot's serve is bit-equal to
    // q82's chain minus the deleted keys (the tombstone merge is "base
    // rows minus deleted keys" and encode is row-local), so the oracle
    // drops them on the corpus side; deleted ids still PROBE (query
    // vectors are external to the index).
    "q90_delete_serve" ->
      s"""WITH $IvfCtes,
         $IvfResidualCtes,
         $SqResidualCtes,
         ${sqServeTail(extraWhere = " AND c.vec_id % 10 <> 3")}""",
    // OPQ-lite: per-dim variance n·Σx²−(Σx)² (exact integer, no
    // division), rank (variance DESC, d ASC), round-robin deal rank r
    // → slot (r mod M)·SubDim + r div M, then the q77 trajectory
    // verbatim over the PERMUTED source relation — training, codes,
    // ADC tables, serve all replay through pqCtes("vp").
    "q91_pq_balanced" ->
      s"""WITH q AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           FROM embeddings),
         pdims AS (SELECT unnest(generate_series(1,64)) AS d),
         pstat AS (SELECT d, CAST(count(*) AS BIGINT) AS n, CAST(sum(q.qv[d]) AS BIGINT) AS s1,
               CAST(sum(q.qv[d]*q.qv[d]) AS BIGINT) AS s2 FROM q, pdims GROUP BY d),
         pperm AS (SELECT d, row_number() OVER (ORDER BY (n*s2 - s1*s1) DESC, d) - 1 AS r FROM pstat),
         vp AS MATERIALIZED (SELECT q.vec_id,
               list(q.qv[p.d] ORDER BY (p.r % ${Pq.M})*${Pq.SubDim} + (p.r // ${Pq.M})) AS qv
             FROM q, pperm p GROUP BY q.vec_id),
         ${pqCtes("vp")}
         SELECT q_id, rank, neighbor_id, est FROM pqtopk ORDER BY q_id, rank""",
    // MMR diversity re-rank over the q82 routed candidates: the k = 5
    // greedy rounds unroll as CTEs (see [[MmrOracle]]); λ = 1/2 on
    // the distance domain makes every objective an exact BIGINT
    "q92_mmr_rerank" -> MmrOracle,
    // RM3 pseudo-relevance feedback: the q71 replay (pass 1, top-10
    // feedback docs), expansion terms by exact-integer Σ (tf·10⁶)//dl
    // over the feedback set (original terms excluded, ties w DESC /
    // term ASC, top-10), then the weighted second pass — original
    // terms at weight 2, expansion at 1, each term's DECIMAL(18,6)
    // contribution scaled by its integer weight so the sum is exact
    "q93_rm3_expansion" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> length(w) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl, ws FROM toks),
         tf AS (
           SELECT doc_id, dl, term, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dl) t GROUP BY 1, 2, 3),
         stats AS (
           SELECT (SELECT count(*) FROM documents) AS n,
                  CAST(sum(dl) AS DOUBLE)/(SELECT count(*) FROM documents) AS avgdl FROM dl),
         idf AS (
           SELECT term, ln(1 + (CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))/(df + CAST(0.5 AS DOUBLE))) AS idf
           FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) d, stats),
         qterms AS (
           SELECT DISTINCT doc_id AS query_id, term
           FROM (SELECT doc_id, unnest(ws[1:8]) AS term FROM toks
                 WHERE doc_id % 100 = 0 AND doc_id < 102400) t),
         contrib1 AS (
           SELECT q.query_id, t.doc_id,
             CAST(i.idf * (t.tf*(CAST(1.2 AS DOUBLE) + 1)/(t.tf + CAST(1.2 AS DOUBLE)*(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)*t.dl/avgdl))) AS DECIMAL(18,6)) AS c
           FROM qterms q JOIN tf t USING (term) JOIN idf i USING (term), stats),
         fb AS (
           SELECT query_id, doc_id FROM (
             SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rnk
             FROM (SELECT query_id, doc_id, sum(c) AS score_q FROM contrib1 GROUP BY 1, 2) s) t
           WHERE rnk <= 10),
         exp0 AS (
           SELECT f.query_id, t.term, CAST(sum((t.tf * 1000000) // t.dl) AS BIGINT) AS w
           FROM fb f JOIN tf t ON t.doc_id = f.doc_id GROUP BY 1, 2),
         expt AS (
           SELECT query_id, term FROM (
             SELECT e.query_id, e.term,
               row_number() OVER (PARTITION BY e.query_id ORDER BY e.w DESC, e.term) AS rn
             FROM exp0 e
             WHERE NOT EXISTS (SELECT 1 FROM qterms q
                               WHERE q.query_id = e.query_id AND q.term = e.term)) t
           WHERE rn <= 10),
         wq AS (
           SELECT query_id, term, 2 AS wt FROM qterms
           UNION ALL SELECT query_id, term, 1 AS wt FROM expt),
         contrib2 AS (
           SELECT q.query_id, t.doc_id,
             q.wt * CAST(i.idf * (t.tf*(CAST(1.2 AS DOUBLE) + 1)/(t.tf + CAST(1.2 AS DOUBLE)*(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)*t.dl/avgdl))) AS DECIMAL(18,6)) AS c
           FROM wq q JOIN tf t USING (term) JOIN idf i USING (term), stats),
         ranked2 AS (
           SELECT query_id, doc_id, score_q,
             row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank
           FROM (SELECT query_id, doc_id, sum(c) AS score_q FROM contrib2 GROUP BY 1, 2) s)
         SELECT query_id, CAST(rank AS INT) AS rank, doc_id, CAST(score_q AS DOUBLE) AS score
         FROM ranked2 WHERE rank <= 10 ORDER BY query_id, rank""",
    // fuzzy dedup: 40-char whitespace-collapsed lowercase key,
    // prefix+suffix 4-char blocking (UNION dedups a key whose two
    // blocks coincide), 32-cap on hot blocks, Levenshtein ≤ 18 on
    // colliding pairs only
    "q94_fuzzy_dedup" ->
      """WITH k AS (
           SELECT doc_id, substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 40) AS key
           FROM documents),
         b AS (
           SELECT doc_id, key, substr(key, 1, 4) AS blk FROM k
           UNION
           SELECT doc_id, key, right(key, 4) AS blk FROM k),
         ok AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 32),
         bb AS (SELECT b.* FROM b JOIN ok USING (blk)),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2, a.key AS k1, c.key AS k2
           FROM bb a JOIN bb c ON c.blk = a.blk AND a.doc_id < c.doc_id)
         SELECT d1, d2, CAST(levenshtein(k1, k2) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(k1, k2) <= 18 ORDER BY d1, d2""",
    // frozen-stats BM25 ingest (the q87 train()/add() split on the
    // lexical side): tf/dl over the FULL corpus, N/avgdl/df → idf
    // over the base tranche (doc_id % 5 <> 4) only; the inner idf
    // join drops terms unseen in base — Lucene's unseen-vocabulary
    // behavior until the next rebuild
    "q95_bm25_frozen_ingest" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> length(w) > 0) AS ws
           FROM documents),
         dl AS (SELECT doc_id, len(ws) AS dl, ws FROM toks),
         tf AS (
           SELECT doc_id, dl, term, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(ws) AS term FROM dl) t GROUP BY 1, 2, 3),
         stats AS (
           SELECT (SELECT count(*) FROM documents WHERE doc_id % 5 <> 4) AS n,
                  CAST((SELECT sum(dl) FROM dl WHERE doc_id % 5 <> 4) AS DOUBLE)
                    /(SELECT count(*) FROM documents WHERE doc_id % 5 <> 4) AS avgdl),
         idf AS (
           SELECT term, ln(1 + (CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))/(df + CAST(0.5 AS DOUBLE))) AS idf
           FROM (SELECT term, count(*) AS df FROM tf WHERE doc_id % 5 <> 4 GROUP BY 1) d, stats),
         qterms AS (
           SELECT DISTINCT doc_id AS query_id, term
           FROM (SELECT doc_id, unnest(ws[1:8]) AS term FROM toks
                 WHERE doc_id % 100 = 0 AND doc_id < 102400) t),
         contrib AS (
           SELECT q.query_id, t.doc_id,
             CAST(i.idf * (t.tf*(CAST(1.2 AS DOUBLE) + 1)/(t.tf + CAST(1.2 AS DOUBLE)*(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)*t.dl/avgdl))) AS DECIMAL(18,6)) AS c
           FROM qterms q JOIN tf t USING (term) JOIN idf i USING (term), stats),
         ranked AS (
           SELECT query_id, doc_id, score_q,
             row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank
           FROM (SELECT query_id, doc_id, sum(c) AS score_q FROM contrib GROUP BY 1, 2) s)
         SELECT query_id, CAST(rank AS INT) AS rank, doc_id, CAST(score_q AS DOUBLE) AS score
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // semi-hard triplet mining: the q82 chain cut at RefineR
    // candidates per anchor, labels joined on, positive = nearest
    // same-label candidate, negatives = different-label candidates
    // in the FaceNet band d_pos ≤ d_neg < d_pos + 200000
    "q96_triplet_mine" ->
      s"""WITH $IvfCtes,
         $IvfResidualCtes,
         $SqResidualCtes,
         ${sqEstCte()},
         tcand AS (SELECT q_id, neighbor_id, est FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM isqest) t WHERE rn <= ${Pq.RefineR}),
         tl AS (SELECT c.q_id, c.neighbor_id, c.est, eq.label AS ql, en.label AS nl
           FROM tcand c
           JOIN embeddings eq ON eq.vec_id = c.q_id
           JOIN embeddings en ON en.vec_id = c.neighbor_id),
         tpos AS (SELECT q_id, neighbor_id AS pos_id, est AS d_pos FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY est, neighbor_id) AS rn
             FROM tl WHERE nl = ql) t WHERE rn = 1)
         SELECT t.q_id, p.pos_id, t.neighbor_id AS neg_id, p.d_pos, t.est AS d_neg
         FROM tl t JOIN tpos p USING (q_id)
         WHERE t.nl <> t.ql AND t.est >= p.d_pos AND t.est < p.d_pos + ${Sq.TripletMargin}
         ORDER BY q_id, neg_id""",
    // leakage-safe split: the q36 hash rule keyed on the q32 near-dup
    // component id (singletons group as themselves, so they replay
    // q36's assignment bit-for-bit under the shared salt)
    "q97_leakage_split" ->
      s"""WITH RECURSIVE $ShingleCtes,
         $PairCtes,
         $ComponentCtes
         SELECT doc_id, group_id,
           CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_id,
                 CAST(('0x' || substr(md5('split-v1:' || coalesce(c.cluster_id, d.doc_id)), 1, 15)) AS BIGINT) % 1000 AS h
               FROM documents d LEFT JOIN comp c USING (doc_id)) t
         ORDER BY doc_id""",
    // PII detect + redact over the PLANTED corpus (the synthetic text
    // carries no digits, so the gate plants deterministic PII derived
    // from doc_id — Pii.plantPii — and what it then certifies is the
    // cross-engine parity of the pattern set and the masking order:
    // Java regex on the Spark side, RE2 here, same patterns by
    // construction). Counts via regexp_extract_all BEFORE masking;
    // masking = the pinned email → IP → SSN → phone chain with 'g'.
    "q99_pii_redact" ->
      s"""WITH planted AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '${Pii.EmailRe}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '${Pii.Ipv4Re}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '${Pii.SsnRe}')) AS BIGINT) AS n_ssns,
           CAST(len(regexp_extract_all(t, '${Pii.PhoneRe}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '${Pii.EmailRe}'))
             + len(regexp_extract_all(t, '${Pii.Ipv4Re}'))
             + len(regexp_extract_all(t, '${Pii.SsnRe}'))
             + len(regexp_extract_all(t, '${Pii.PhoneRe}')) AS BIGINT) AS n_pii,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '${Pii.EmailRe}', '<EMAIL>', 'g'),
             '${Pii.Ipv4Re}', '<IP>', 'g'),
             '${Pii.SsnRe}', '<SSN>', 'g'),
             '${Pii.PhoneRe}', '<PHONE>', 'g') AS text_masked
         FROM planted ORDER BY doc_id""",
  )
}
