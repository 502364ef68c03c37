package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.termCounts

/** BM25 keyword retrieval over the documents relation (Robertson &
  * Zaragoza 2009, the Okapi BM25 ranking function; idf in the
  * always-positive Lucene form ln(1 + (N−df+0.5)/(df+0.5))) — the
  * retrieval operator a training-data pipeline uses for
  * retrieval-based quality probes, decontamination spot-checks, and
  * eval-set neighbor pulls; the keyword counterpart of the embedding
  * family's ANN top-k (q27/q31).
  *
  * The index IS a relation (the Spark-first inverted index): one
  * postings table (term, doc_id, tf, dl, idf) with the document
  * length and the term's idf DENORMALIZED in at build time — build
  * pays the term-keyed shuffles once, and serving needs no join
  * against corpus-sized side tables. Serving scans postings pruned
  * by an explicit broadcast of the query-term list (query sets are
  * small by contract — a broadcast semi-shape join that drops
  * non-query terms at the scan), rolls up per (query_id, doc_id)
  * with map-side partials, and takes the per-query top-k with one
  * window over #candidate rows. No corpus-sized shuffle anywhere in
  * the serve path; the only corpus-sized work is the build, which is
  * the point of an index.
  */
object Retrieval {

  /** A built BM25 index: `postings` is (term, doc_id, tf, dl, idf) —
    * corpus-token-bounded; scalars are the corpus stats and the BM25
    * free parameters pinned at build time. */
  final case class Bm25Index(postings: DataFrame, nDocs: Long,
                             avgdl: Double, k1: Double, b: Double)

  /** Retrieval tokens: lowercased whitespace tokens — the engine's
    * whitespace rule (q23/q25) plus case folding, matched by query
    * tokenization so index and query can never disagree. */
  private def termsOf(c: org.apache.spark.sql.Column) =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** Build the index in one corpus pass: row-local tokenization AND
    * row-local term-frequency counting (the codegen
    * [[graft.functions.TermCounts]] expression — tf is per-document
    * state, so the previous `explode → groupBy(term, doc_id)` paid a
    * full corpus-token exchange for an aggregation that needs no
    * cross-row data movement), one term aggregate for df → idf, idf
    * joined back onto the postings (term-keyed, build-time only).
    * The postings are CACHED via [[Caches]] (the df aggregate and
    * every serve re-read them); `N`/`avgdl` funnel to the driver as
    * one row (scalar corpus stats, the quantizer-collect contract). */
  def bm25Build(docs: DataFrame, k1: Double = 1.2, b: Double = 0.75): Bm25Index = {
    require(k1 >= 0 && b >= 0 && b <= 1, "k1 must be >= 0 and b in [0,1]")
    val tf = Caches.persist(docs
      .select(col("doc_id"), termCounts(col("text")).as("tc"))
      .select(col("doc_id"), col("tc.dl").as("dl"), explode(col("tc.pairs")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("dl"),
        col("p.tf").cast("long").as("tf")))
    // corpus stats WITHOUT a second tokenization pass:
    // Σdl folds off the cached tf relation's per-doc (doc_id, dl)
    // rows — zero-term docs have no tf rows but contribute 0 to the
    // sum, so only the COUNT must come from the corpus, and count(*)
    // over a parquet scan is metadata-only (no text column read).
    // avgdl = Σdl/N as ONE IEEE division of exact integers — the
    // same value avg(size(tokens)) produced, without re-reading and
    // re-splitting every text at build time (at 100 TB the build is
    // the corpus-sized cost, and must not be paid twice).
    // Semantics pin: a NULL-text doc now counts in the denominator
    // with dl = 0 (it used to vanish from the null-skipping avg) —
    // "null tokenizes to no tokens", the engine's q23/q25 rule; the
    // documents contract has no null text, so the gate is unaffected.
    val nDocs = docs.count()
    val sumDl = tf.select(col("doc_id"), col("dl")).distinct()
      .agg(coalesce(sum(col("dl")), lit(0L)).as("s")).collect()(0).getLong(0)
    val avgdl = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("term"),
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)).as("idf"))
    // DOC-CLUSTERED postings layout ("aggregate before you
    // shuffle"). DECLARING the cache hash-partitioned to delete the
    // serve exchange does not work: AQE can't see InMemoryRelation
    // partitioning, so the exchange stays.
    // This is the weaker but REAL win the layout still owns: the
    // serve's (query_id, doc_id) roll-up keeps its exchange, but its
    // map-side PARTIAL aggregation collapses fully only when all of a
    // doc's term rows sit in one partition. On the term-clustered
    // layout the idf join leaves behind, they never do — Probe's stage table
    // measured the matched-stream exchange carrying 1.3M rows/17 MB
    // (q71/q95, ≈ zero collapse over 250k (q,d) groups) and 2.9M/40 MB
    // (q93 pass 2). One doc_id repartition at BUILD time (the index
    // build already pays a term-keyed corpus shuffle; build cost is
    // amortized over every serve — the index contract) makes every
    // downstream partial agg exact: the exchange then carries one row
    // per (query_id, doc_id) candidate. Row-preserving; the q71/q88/
    // q93/q95 oracles are untouched.
    val postings = Caches.persist(tf.join(idf, Seq("term"))
      .repartition(col("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("idf")))
    Bm25Index(postings, nDocs, avgdl, k1, b)
  }

  /** FROZEN-STATS index build (the q87 train()/add() split on the
    * lexical side — how Lucene-family deployments actually roll: the
    * corpus-wide statistics (N, avgdl, per-term df → idf) are
    * expensive global aggregates recomputed only at REBUILD time,
    * while newly ingested documents join the postings immediately
    * with their own tf/dl): postings cover the FULL relation, but N,
    * avgdl and idf read ONLY the rows where `isBase` holds. Delta
    * semantics this pins: a delta doc is retrievable the moment it
    * is ingested (its tf/dl rows exist); a term UNSEEN in the base
    * tranche has no idf row and contributes NOTHING until the next
    * rebuild (the inner idf join drops it — Lucene's
    * unseen-vocabulary behavior, the exact lexical analog of q87's
    * frozen-grid clamp). The rebuild itself lands through
    * [[bm25Publish]]: retrain on the grown corpus, publish as the
    * next artifact version, and live serving jobs swap atomically —
    * the mechanism, not a deferral. */
  def bm25BuildFrozen(docs: DataFrame, isBase: org.apache.spark.sql.Column): Bm25Index = {
    val tf = Caches.persist(docs
      .select(col("doc_id"), isBase.as("is_base"), termCounts(col("text")).as("tc"))
      .select(col("doc_id"), col("is_base"), col("tc.dl").as("dl"),
        explode(col("tc.pairs")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("is_base"), col("dl"),
        col("p.tf").cast("long").as("tf")))
    val nDocs = docs.filter(isBase).count()
    val sumDl = tf.filter(col("is_base")).select(col("doc_id"), col("dl")).distinct()
      .agg(coalesce(sum(col("dl")), lit(0L)).as("s")).collect()(0).getLong(0)
    val avgdl = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs
    val idf = tf.filter(col("is_base")).groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .select(col("term"),
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)).as("idf"))
    // doc-clustered like bm25Build — the same partial-agg-collapse
    // rationale, one repartition at (re)build time
    val postings = Caches.persist(tf.join(idf, Seq("term"))
      .repartition(col("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("idf")))
    Bm25Index(postings, nDocs, avgdl, 1.2, 0.75)
  }

  /** q95 — the frozen-stats ingest on the graded surface: base
    * tranche = `doc_id % 5 ≠ 4` (the q87 split), the delta fifth
    * ingested against the frozen statistics, served with the q71
    * probe set (probes read the FULL corpus — a probe drawn from the
    * delta tranche queries like any other). */
  def bm25FrozenIngestTopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ix = bm25BuildFrozen(docs, col("doc_id") % 5 =!= 4)
    bm25TopK(ix, prefixProbes(docs), k = 10).orderBy(col("query_id"), col("rank"))
  }

  /** Persist the index as a parquet artifact (the lmSave shape): the
    * postings distributed, the scalars as one meta row. A serving
    * job [[bm25Load]]s and never touches the corpus. Writes a BARE
    * path (atomic per parquet file, not per artifact) — deployments
    * that rebuild under live readers publish through [[bm25Publish]]
    * instead, which stages this layout and swaps it atomically. */
  def bm25Save(ix: Bm25Index, path: String): Unit = {
    ix.postings.write.mode(SaveMode.Overwrite).parquet(s"$path/postings.parquet")
    val spark = ix.postings.sparkSession
    import spark.implicits._
    Seq((ix.nDocs, ix.avgdl, ix.k1, ix.b)).toDF("n_docs", "avgdl", "k1", "b")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta.parquet")
  }

  /** Publish the index as a VERSIONED artifact under `root` (the
    * [[Storage.publishArtifact]] lifecycle applied to the lexical
    * index): the [[bm25Save]] layout is staged invisibly and
    * swapped in as the next `v<n>` atomically, so a REBUILD — the step
    * the q95 frozen-stats ingest defers until drift demands it — lands
    * under live serving jobs without ever exposing a half-written
    * index: a running [[graft.stream.ServeLoop]] over [[bm25TopK]]
    * keeps its pinned version (the [[Storage.vacuumSnapshots]] grace
    * contract) while every job started after the swap
    * [[bm25Resolve]]s the rebuilt one (StreamingServeSpec proves the
    * swap under a live stream). Returns the published version dir. */
  def bm25Publish(ix: Bm25Index, root: String): String =
    Storage.publishArtifact(ix.postings.sparkSession, root)(dir => bm25Save(ix, dir))

  /** Load the newest COMMITTED [[bm25Publish]] version under `root` —
    * the serving-job entry point of the versioned lexical index. */
  def bm25Resolve(spark: SparkSession, root: String): Bm25Index =
    bm25Load(spark, Storage.resolveArtifact(spark, root))

  /** Load a [[bm25Save]] artifact. */
  def bm25Load(spark: SparkSession, path: String): Bm25Index = {
    val m = spark.read.parquet(s"$path/meta.parquet").collect()(0)
    Bm25Index(spark.read.parquet(s"$path/postings.parquet"),
      m.getAs[Long]("n_docs"), m.getAs[Double]("avgdl"),
      m.getAs[Double]("k1"), m.getAs[Double]("b"))
  }

  /** Top-k documents per query: `queries` is (query_id: long,
    * query: string), small by contract (an eval set, a probe list) —
    * its DISTINCT (query_id, term) pairs broadcast onto the postings
    * (explicit hint: the query side is bounded by contract, and the
    * pruning join is the index lookup — without it the static
    * planner would shuffle the postings). BM25 sums each matched
    * term's idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) per
    * (query_id, doc_id) — duplicate query terms count once (the
    * standard unique-terms form); terms absent from the corpus
    * contribute nothing by construction of the join. Ties rank by
    * doc_id, so the cut is deterministic. Zero-term queries match
    * nothing. `excludeSelf` drops the document whose id equals the
    * query_id BEFORE ranking (for corpus-derived probe sets whose
    * query_id IS a doc_id — the ANN family's excludeSelf contract);
    * external query ids match nothing and are unaffected. */
  def bm25TopK(ix: Bm25Index, queries: DataFrame, k: Int = 10,
               excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = queries
      .select(col("query_id"), explode(termsOf(col("query"))).as("term"))
      .distinct()
    val norm = col("tf") * (ix.k1 + 1) /
      (col("tf") + lit(ix.k1) * (lit(1.0 - ix.b) + lit(ix.b) * col("dl") / ix.avgdl))
    // Per-term contribution QUANTIZED to a 6-dp decimal before the
    // sum (the q62 rule: never sum raw doubles): decimal addition is
    // exact, so the score — and therefore the ranking and the top-k
    // cut — is bit-identical under any partitioning, summation order,
    // or engine (a double sum is none of these; at 1000 executors the
    // per-query roll-up order is nondeterministic). 6 dp ≈ 5e-7
    // absolute on O(1..100) scores: far below any rank-relevant gap.
    val contrib = (col("idf") * norm).cast("decimal(18,6)")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id"))
    val matched = ix.postings.join(broadcast(qterms), Seq("term"))
    (if (excludeSelf) matched.filter(col("doc_id") =!= col("query_id")) else matched)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contrib).as("score_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_q").cast("double").as("score"))
  }

  /** q71 — the oracle-gated conformance shape: index the `documents`
    * relation, probe it with corpus-derived queries (every 100th
    * doc's first 8 whitespace tokens, CAPPED at doc_id < 102,400 —
    * so ≤1,024 probes at ANY scale factor; without the cap the probe
    * set would grow ∝ corpus and the broadcast hint inside
    * [[bm25TopK]] — correct for its bounded-query-set contract —
    * would eventually broadcast a corpus-sized build side), top-10
    * per probe. Probing with in-corpus prefixes makes every BM25
    * term — tf saturation, dl normalization, idf — load-bearing in
    * the ranking the oracle replays. The probe text reuses
    * [[termsOf]], the ONE tokenization rule (already lowercased —
    * [[bm25TopK]]'s own termsOf pass is idempotent on it). */
  def bm25TopKDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bm25TopK(bm25Build(docs), prefixProbes(docs), k = 10).orderBy(col("query_id"), col("rank"))
  }

  /** The q71 probe set (query_id, query), shared with q93 and q95. */
  private def prefixProbes(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 100 === 0 && col("doc_id") < 102400L)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(termsOf(col("text")), 1, 8)).as("query"))

  /** Reciprocal Rank Fusion constants (Cormack, Clarke & Büttcher,
    * SIGIR 2009): the standard k₀ = 60 smoothing, with the 1/(k₀+r)
    * contributions lifted onto an exact-integer grid —
    * RrfScale div (k₀ + r) — so the fused score, and therefore the
    * ranking and the cut, are bit-identical under any partitioning,
    * summation order, or engine (the q62/BM25 never-sum-raw-doubles
    * rule; integer division of non-negative operands agrees between
    * Spark `div` and DuckDB `//`). At 10¹² scale the integer
    * truncation distinguishes every rank pair r ∈ [1, 10⁵]. */
  val RrfK0 = 60L
  val RrfScale = 1000000000000L

  /** RECIPROCAL RANK FUSION of two per-query rankings — the
    * production hybrid-retrieval combiner (lexical BM25 + semantic
    * ANN is how retrieval systems actually serve: each leg catches
    * what the other misses; RRF fuses them rank-domain, so the two
    * legs' incomparable score scales never need calibration). Both
    * inputs carry (query_id, rank, doc_id) and are top-list-bounded
    * by contract (≤ perList rows per query), so the fusion is
    * candidate-sized: the candidate set is the UNION of both lists,
    * each candidate scores Σ_lists RrfScale div (k₀ + rank) with an
    * absent list contributing 0, and the fused top-k cuts on
    * (rrf_score DESC, doc_id ASC). A doc on both lists outranks
    * docs on one — the consensus property that makes RRF robust.
    *
    * Plan shape at 100 TB: both legs end in per-query top lists, so
    * everything here is bounded by nQueries·perList rows — the
    * joins broadcast, the window partitions by query_id over ≤
    * 2·perList rows each; the fusion itself never touches the
    * corpus. */
  def rrfFuse(lex: DataFrame, sem: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    val l = lex.select(col("query_id"), col("doc_id"), col("rank").cast("long").as("lrank"))
    val s = sem.select(col("query_id"), col("doc_id"), col("rank").cast("long").as("srank"))
    val cand = l.select("query_id", "doc_id").union(s.select("query_id", "doc_id")).distinct()
    val fused = cand
      .join(broadcast(l), Seq("query_id", "doc_id"), "left")
      .join(broadcast(s), Seq("query_id", "doc_id"), "left")
      .withColumn("rrf_score",
        coalesce(expr(s"${RrfScale}L div (${RrfK0}L + lrank)"), lit(0L)) +
          coalesce(expr(s"${RrfScale}L div (${RrfK0}L + srank)"), lit(0L)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("rrf_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q88 — HYBRID lexical+semantic retrieval: the BM25 leg (q71's
    * index + prefix probes) and the ROUTED IVF+SQ8 ANN leg (q82's
    * serve) fused by [[rrfFuse]]. Rides the dataset contract that
    * `documents.doc_id` and `embeddings.vec_id` share one id space
    * (each document has its embedding row) — the probe set is ids
    * `% 100 = 0` under [[Pq.ProbeCap]], the SAME set on both legs,
    * each leg self-excluded (the query doc is not its own answer — the
    * external-query production contract). 10 candidates per leg, the
    * ANN leg at nprobe 2, fused top-10: the one configuration the q88
    * oracle replays.
    *
    * Exact-replayable end to end: BM25's decimal-quantized scores,
    * the q82 exact-integer serve, and the integer RRF grid — the q88
    * oracle replays both legs AND the fusion. */
  def hybridRrfDocs(spark: SparkSession, dir: String): DataFrame = {
    val perList = 10
    val queryMod = 100
    val docs = Tables.documents(spark, dir)
    val ix = bm25Build(docs)
    val probes = docs
      .filter(col("doc_id") % queryMod === 0 && col("doc_id") < Pq.ProbeCap)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(termsOf(col("text")), 1, 8)).as("query"))
    // Each leg feeds rrfFuse TWICE (the candidate union and its
    // rank-attach join), and each leg carries a full index build
    // (postings + idf model; IVF training + bounds). Persist the leg
    // TOP LISTS — ≤ nQueries·perList rows each, trivially memory-safe
    // — so the builds run once per leg instead of twice (measured:
    // q88 6.1 → ~3.4 s at sf0.1). Session-lived via the [[Caches]]
    // contract; [[hybridServe]] does NOT persist its per-batch legs
    // (there the corpus-sized sides are already cached and the
    // per-batch leg cost is probe-sized — a per-batch registry entry
    // would leak until releaseAll instead).
    val lex = Caches.persist(bm25TopK(ix, probes, perList, excludeSelf = true)
      .select(col("query_id"), col("rank"), col("doc_id")))
    val sem = Caches.persist(
      Sq.ivfSq8TopK(spark, dir, k = perList, queryMod = queryMod, nprobe = 2)
        .select(col("q_id").as("query_id"), col("rank"), col("neighbor_id").as("doc_id")))
    rrfFuse(lex, sem, k = 10)
  }

  /** The per-batch form of [[hybridRrfDocs]] for external requests:
    * `queries` carries (query_id, query, embedding); `ix` is a loaded
    * BM25 index and `tier` the decoded routed IVF+SQ8 tier
    * ([[Sq.decodedTier]]) built from the `cents`/`mins`/`maxs`
    * artifacts, both persisted by the caller, so a batch never decodes.
    * Both legs run the kernels the q71/q82 oracles certify and fuse
    * through the same [[rrfFuse]] the q88 oracle replays; RRF is
    * per-query, so how requests split into batches cannot change an
    * answer. The legs are not persisted: they are probe-sized here.
    * It serves q88's configuration, the one [[hybridRrfDocs]] runs:
    * 10 candidates per leg, the ANN leg at nprobe 2, fused top-10.
    *
    * `excludeSelf`: pass true only when the query_ids ARE corpus ids
    * (the q88 conformance situation); an external id matches nothing
    * on either leg and is unaffected. */
  def hybridServe(ix: Bm25Index, tier: DataFrame, cents: Seq[Embeddings.Centroid],
                  queries: DataFrame, excludeSelf: Boolean = false): DataFrame = {
    val perList = 10
    val lex = bm25TopK(ix, queries.select(col("query_id"), col("query")), perList, excludeSelf)
      .select(col("query_id"), col("rank"), col("doc_id"))
    val sem = Sq.ivfSq8Server(tier, cents, perList, 2, excludeSelf)(
        Pq.quantizeQueries(queries.select(col("query_id").as("q_id"), col("embedding"))))
      .select(col("q_id").as("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
    rrfFuse(lex, sem, k = 10)
  }

  /** Integer scale for the expansion-term weights: w(q,t) =
    * Σ_{d ∈ feedback(q)} (tf(t,d)·10⁶) div dl_d — per-doc integer
    * division THEN the sum, so the weight is an exact BIGINT both
    * engines reproduce (Spark `div` ≡ DuckDB `//` on non-negative
    * operands, the q88 RRF rule). 10⁶ distinguishes tf/dl ratios down
    * to 1e-6 — far below any rank-relevant gap at retrieval doc
    * lengths. */
  val Rm3Scale = 1000000L

  /** Interpolation as INTEGER term weights (λ = 2/3 in RM3 terms):
    * an original query term scores 2× an expansion term's
    * contribution — integer weights keep the weighted decimal sum
    * exact (decimal × integer is exact; λ as a double would break
    * the replay). */
  val Rm3OrigWt = 2L
  val Rm3ExpWt = 1L

  /** q93 — PSEUDO-RELEVANCE FEEDBACK query expansion (the RM3 idea —
    * Lavrenko & Croft 2001 relevance models, as deployed in
    * Lucene/Anserini's RM3 reranker — on this engine's exact grids):
    * lexical retrieval misses relevant docs that phrase the concept
    * differently; PRF assumes the first-pass top docs ARE relevant,
    * mines them for the terms that characterize them, and re-queries
    * with the expanded term set. The production lexical-leg upgrade:
    * no training, no vectors, one extra postings pass.
    *
    * Pipeline (`fbDocs` = `fbTerms` = 10, top-10 served): (1)
    * first-pass BM25 top-`fbDocs` per query (the q71
    * serve); (2) expansion candidates = every term of every feedback
    * doc, weighted by the exact-integer normalized term frequency
    * [[Rm3Scale]]·tf div dl summed over the feedback set — tf/dl is
    * P(t|d) in the relevance-model estimate, on the integer grid;
    * (3) the top-`fbTerms` NEW terms per query (original terms
    * excluded — they return at their own weight), ties (w DESC, term
    * ASC); (4) second-pass BM25 over original ∪ expansion terms with
    * integer weights [[Rm3OrigWt]]/[[Rm3ExpWt]] scaling each term's
    * decimal-quantized contribution.
    *
    * Plan shape at 100 TB: three passes over the (cached) postings,
    * each a broadcast equi-join against a bounded build side — the
    * probe terms (pass 1), the nQueries·fbDocs feedback doc ids
    * (expansion mining), and the ≤ nQueries·(8+fbTerms) weighted
    * terms (pass 2). Nothing corpus × corpus; the expansion join is
    * doc_id-keyed so it prunes like any index lookup. */
  def bm25Rm3TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ix = bm25Build(docs)
    val probes = prefixProbes(docs)
    val qterms = Caches.persist(probes
      .select(col("query_id"), explode(termsOf(col("query"))).as("term"))
      .distinct())
    // pass 1: feedback docs (query_id, doc_id) — nQueries·fbDocs rows
    val fb = bm25TopK(ix, probes, 10)
      .select(col("query_id"), col("doc_id"))
    // expansion mining: the feedback doc ids broadcast onto the
    // postings (doc_id-keyed lookup), exact-integer P(t|d) weights
    val exp0 = ix.postings.join(broadcast(fb), Seq("doc_id"))
      .groupBy(col("query_id"), col("term"))
      .agg(sum(expr(s"(tf * ${Rm3Scale}L) div dl")).as("w"))
    val wExp = Window.partitionBy(col("query_id"))
      .orderBy(col("w").desc, col("term"))
    val expTerms = exp0
      .join(qterms, Seq("query_id", "term"), "left_anti")
      .withColumn("rn", row_number().over(wExp))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("term"))
    // pass 2: the expanded weighted query
    val wq = qterms.withColumn("wt", lit(Rm3OrigWt))
      .unionByName(expTerms.withColumn("wt", lit(Rm3ExpWt)))
    val norm = col("tf") * (ix.k1 + 1) /
      (col("tf") + lit(ix.k1) * (lit(1.0 - ix.b) + lit(ix.b) * col("dl") / ix.avgdl))
    val contrib = (col("idf") * norm).cast("decimal(18,6)") * col("wt")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id"))
    ix.postings.join(broadcast(wq), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(contrib).as("score_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_q").cast("double").as("score"))
      .orderBy(col("query_id"), col("rank"))
  }
}
