package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vecDot

/** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein,
  * SIGIR 1998) — the standard production DIVERSITY stage of a
  * retrieval serve: plain top-k over a corpus with near-duplicates
  * returns k copies of one answer; MMR greedily selects the next
  * result by relevance MINUS similarity to what is already selected,
  * so the emitted list covers the query's neighborhood instead of
  * re-stating its nearest cluster. RAG serving pipelines run exactly
  * this between retrieval and the context window.
  *
  * This engine's composition (q92) mirrors q83's two-stage shape with
  * diversity instead of accuracy as the stage-2 objective: stage 1
  * generates `r` ≫ k candidates per probe through the ROUTED IVF+SQ8
  * serve (q82 — the 64 B/vec tier, probed-cell pruning and all);
  * stage 2 is CANDIDATE-SIZED — candidates join back to the exact
  * integer grid once, and the greedy selection runs inside one
  * grouped exchange, k rounds imperative over each query's ≤ r
  * buffered candidates. The corpus is touched only by stage 1.
  *
  * Exactness: with the conventional λ = 1/2 the MMR objective
  * argmax_d [λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)] is, on the
  * distance domain and scaled by 2 (a positive constant — argmax
  * unchanged), argmin_d [dist(q,d) − min_{s∈S} dist(d,s)] — with
  * dist the exact-integer squared L2 on the q45 grid, every score in
  * the greedy loop is an exact BIGINT and the whole selection replays
  * bit-for-bit in DuckDB (the q92 oracle unrolls the same k rounds as
  * CTEs). Ties break by neighbor_id at every step, so the selection
  * is a total order.
  */
object Mmr {

  /** q92 — MMR-diversified top-k over routed IVF+SQ8 candidates:
    * stage 1 = [[Sq.ivfSq8TopK]] at k = `r` (train coarse quantizer,
    * encode residuals on the SQ8 grid, serve the probe set
    * `vec_id % 50 = 0` under the ProbeCap with 2-cell
    * pruning, self excluded); stage 2 = [[mmrSelect]] over those
    * candidates on the exact integer grid.
    *
    * Output (q_id, rank, neighbor_id, est): rank = MMR selection
    * order (1 = nearest candidate — the first pick has no diversity
    * term), est = the EXACT squared L2 distance to the query (not
    * the SQ8 estimate), so downstream consumers read true distances.
    *
    * At 100 TB: stage 1's cost is the audited q82 serve
    * (nprobe/nCells of the 4 B+64 B tiers); stage 2 costs ONE
    * shuffle of ≤ nProbes·r candidate rows plus O(k·r·dim) in-group
    * work per query. Diversity quality is bounded by the
    * candidate pool — raise `r` when the corpus is duplicate-heavy
    * (the q83 recall-vs-r dial, applied to coverage; MEASURED by
    * [[graft.tools.DiversityReport.coverageVsR]] — coverage-vs-r
    * tables per geometry in bench/SCALING_r12.md). */
  def mmrRerankTopK(spark: SparkSession, dir: String,
                    k: Int = 5, r: Int = Pq.RefineR): DataFrame = {
    require(r >= k, s"MMR candidate budget r=$r must cover k=$k")
    val cands = Sq.ivfSq8TopK(spark, dir, k = r).select(col("q_id"), col("neighbor_id"))
    mmrSelect(Embeddings.quantized(spark, dir), cands, k)
  }

  /** The per-batch form of [[mmrRerankTopK]] for external queries:
    * `queries` carries (q_id, embedding); `tier` is the decoded routed
    * IVF+SQ8 tier ([[Sq.decodedTier]]) built from the
    * `cents`/`mins`/`maxs` artifacts, so a batch never decodes, and
    * `exact` the (vec_id, qv) grid tier, both persisted by the
    * caller. The batch's own quantized vectors are the query relation
    * of [[mmrSelectWith]], so external ids never need corpus rows. MMR
    * is per-query, so how queries split into batches cannot change an
    * answer. It serves q92's configuration, [[mmrRerankTopK]] at its
    * defaults: [[Pq.RefineR]] candidates at nprobe 2, top-5 selected.
    *
    * `excludeSelf`: pass true only when the q_ids ARE corpus vec_ids
    * (the q92 conformance situation). */
  def mmrServe(tier: DataFrame, exact: DataFrame, cents: Seq[Embeddings.Centroid],
               queries: DataFrame, excludeSelf: Boolean = false): DataFrame = {
    val probes = Pq.quantizeQueries(queries)
    val cands = Sq.ivfSq8Server(tier, cents, Pq.RefineR, 2, excludeSelf)(probes)
      .select(col("q_id"), col("neighbor_id"))
    mmrSelectWith(probes.select(col("q_id"), col("qv").as("q_v")), exact, cands, k = 5)
  }

  /** Exact squared L2 between two qv-grid vector COLUMNS (by name) —
    * ‖a‖² − 2⟨a,b⟩ + ‖b‖², each term an exact integer via the codegen
    * vec_dot. */
  private def sqDist(a: String, b: String): Column =
    vecDot(col(a), col(a)) - lit(2L) * vecDot(col(a), col(b)) + vecDot(col(b), col(b))

  /** One candidate row inside a query's MMR group: the exact grid
    * vector rides along so the pairwise diversity distances never
    * leave the group. */
  private[ops] final case class MmrCand(q_id: Long, neighbor_id: Long,
                                   n_v: Seq[Long], rel: Long)

  /** One emitted selection row; `est` is the EXACT squared L2 to the
    * query (rel of the pick), not an SQ8 estimate. */
  private[ops] final case class MmrPick(q_id: Long, rank: Long,
                                   neighbor_id: Long, est: Long)

  /** Exact squared L2 between two grid vectors — the in-group twin of
    * [[sqDist]]; Long arithmetic on the q45 grid, so the value is the
    * same exact BIGINT the codegen vec_dot path produces. */
  private def sqd(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The greedy MMR selection: `vecs` is the exact grid relation
    * (vec_id, qv) the candidates re-score against (the SAME relation
    * stage 1 encoded from — the q83 refine contract); `cands` carries
    * (q_id, neighbor_id), ≤ r rows per query BY CONTRACT (a stage-1
    * top list). Returns (q_id, rank, neighbor_id, est), ≤ k rows per
    * query — fewer when a query has fewer candidates (the selection
    * never invents candidates stage 1 didn't produce).
    *
    * Execution shape: ONE shuffle. The candidates join
    * back to the exact grid broadcast-style and rel = dist(q, d) is
    * computed by the codegen vec_dot BEFORE the shuffle; then a
    * single groupByKey(q_id) collects each query's ≤ r candidates
    * and the k greedy rounds run imperatively inside the group —
    * argmin (rel, id) first, then argmin (rel − min-div, id) with
    * div updated incrementally against each new pick. Per-group state
    * is ≤ r vectors (r·64 longs), so memory is bounded by the stage-1
    * top-list contract at ANY corpus size, and the per-group work is
    * O(k·r·dim) — microseconds against the shuffle it replaced.
    *
    * Why imperative-in-group instead of k joined rounds: greedy MMR
    * is inherently sequential in k, so a dataflow formulation costs
    * k cluster-wide barrier rounds (join + window + checkpoint each)
    * over a candidate relation that already fits in one group
    * buffer. On a 1000-executor cluster the k rounds are k× the
    * scheduling floor and k× the shuffle of the SAME rows;
    * the grouped form is one exchange keyed by q_id, embarrassingly
    * parallel across queries, and replays the identical exact-integer
    * trajectory (MmrSpec pins it against a plain-Scala model; the q92
    * DuckDB oracle unrolls the same rounds as CTEs). flatMapGroups is
    * the documented Dataset seam for bounded sequential per-key
    * logic — the same judgment call as the Multimodal decode seam,
    * not a UDF replacing a built-in. */
  def mmrSelect(vecs: DataFrame, cands: DataFrame, k: Int): DataFrame =
    mmrSelectWith(vecs.select(col("vec_id").as("q_id"), col("qv").as("q_v")),
      vecs, cands, k)

  /** [[mmrSelect]] with an EXPLICIT query relation (q_id, q_v) — the
    * external-query seam ([[mmrServe]] feeds each micro-batch's own
    * vectors here; the batch q92 derives the relation from the corpus
    * because its probes ARE corpus rows).
    *
    * CONTRACT (`boundedProbes`): the default plan
    * force-broadcasts BOTH `cands` and `queries` — correct for every
    * in-repo caller because stage-1 serves cap the candidate list at
    * [[graft.ops.Pq.ProbeCap]] rows (≤ 1,024 probes × r per batch at
    * ANY corpus size) and the query relation is the same probe batch.
    * An EXTERNAL caller feeding an unbounded relation through the
    * default would OOM the driver on the broadcast build, so callers
    * that cannot assert the bound must pass `boundedProbes = false`:
    * the hints drop and AQE sizes both joins at runtime (it still
    * broadcasts genuinely small sides; a big side gets a shuffle
    * join instead of a driver OOM). Same results either way —
    * MmrSpec pins the unbounded-caller path bit-identical. */
  def mmrSelectWith(queries: DataFrame, vecs: DataFrame,
                    cands: DataFrame, k: Int,
                    boundedProbes: Boolean = true): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = vecs.sparkSession
    import spark.implicits._
    // candidates join back to the exact grid ONCE (broadcast under
    // the boundedProbes contract: the candidate list is
    // top-list-bounded); rel = exact dist(q, d) in codegen, before
    // the one shuffle
    val hint: DataFrame => DataFrame =
      if (boundedProbes) df => broadcast(df) else df => df
    val qs = queries.select(col("q_id"), col("q_v"))
    val nb = vecs.select(col("vec_id").as("neighbor_id"), col("qv").as("n_v"))
    val cand = nb.join(hint(cands), Seq("neighbor_id"))
      .join(hint(qs), Seq("q_id"))
      .withColumn("rel", sqDist("q_v", "n_v"))
      .select(col("q_id"), col("neighbor_id"), col("n_v"), col("rel"))
    cand.as[MmrCand]
      .groupByKey(_.q_id)
      .flatMapGroups { (q: Long, it: Iterator[MmrCand]) =>
        val cs = it.toArray
        val n = cs.length
        val vs = cs.map(_.n_v.toArray)
        val taken = new Array[Boolean](n)
        val div = Array.fill(n)(Long.MaxValue)
        val out = Seq.newBuilder[MmrPick]
        val kk = math.min(k, n)
        var r = 1
        while (r <= kk) {
          var best = -1
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              if (best < 0) best = i
              else {
                // the first pick's objective = rel; later picks rel − min-div
                val oi = if (r == 1) cs(i).rel else cs(i).rel - div(i)
                val ob = if (r == 1) cs(best).rel else cs(best).rel - div(best)
                if (oi < ob ||
                    (oi == ob && cs(i).neighbor_id < cs(best).neighbor_id))
                  best = i
              }
            }
            i += 1
          }
          taken(best) = true
          out += MmrPick(q, r.toLong, cs(best).neighbor_id, cs(best).rel)
          var j = 0
          while (j < n) {
            if (!taken(j)) {
              val d = sqd(vs(j), vs(best))
              if (d < div(j)) div(j) = d
            }
            j += 1
          }
          r += 1
        }
        out.result().iterator
      }
      .toDF()
      .select(col("q_id"), col("rank"), col("neighbor_id"), col("est"))
      .orderBy(col("q_id"), col("rank"))
  }
}
