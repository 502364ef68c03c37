package graft

import graft.ops.{Caches, Embeddings, Mmr, Sq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q92 conformance: the greedy MMR trajectory against a plain-Scala
  * model (the SqSpec pattern — collected candidates, exact integer
  * distances, the same λ = 1/2 objective and tie-breaks replayed
  * imperatively), plus the operator contracts: rank 1 is the
  * relevance argmin, later picks maximize the marginal objective,
  * short candidate lists truncate instead of inventing, and the
  * diversity term is NON-VACUOUS — on a pool with a planted
  * duplicate pair, plain top-k keeps both copies, MMR keeps one. */
class MmrSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  import spark.implicits._

  private def sq(a: IndexedSeq[Long], b: IndexedSeq[Long]): Long =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  /** Plain-Scala greedy replay over a collected candidate pool:
    * rel/dist on the exact grid, argmin (rel − min-div, neighbor_id). */
  private def greedy(rel: Map[Long, Long], d: Map[(Long, Long), Long],
                     k: Int): Seq[(Long, Long)] = {
    var selected = Vector.empty[Long]
    var remaining = rel.keySet
    (1 to math.min(k, rel.size)).map { i =>
      val pick =
        if (selected.isEmpty) remaining.minBy(id => (rel(id), id))
        else remaining.minBy { id =>
          (rel(id) - selected.map(s => d((id, s))).min, id)
        }
      selected :+= pick
      remaining -= pick
      (pick, i.toLong)
    }
  }

  test("mmrRerankTopK replays the plain-Scala greedy trajectory on every probe") {
    val out = Mmr.mmrRerankTopK(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("est")))
    // independent candidate pool: the q82 serve at k = RefineR
    val cands = Sq.ivfSq8TopK(spark, dir, k = graft.ops.Pq.RefineR).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toIndexedSeq)
      .toMap
    Caches.releaseAll(spark)
    assert(out.nonEmpty)
    val byQ = cands.groupBy(_._1)
    val expected = byQ.toSeq.flatMap { case (q, cs) =>
      val ids = cs.map(_._2)
      val rel = ids.map(id => id -> sq(vecs(q), vecs(id))).toMap
      val d = (for (a <- ids; b <- ids if a != b)
        yield (a, b) -> sq(vecs(a), vecs(b))).toMap
      greedy(rel, d, 5).map { case (id, rank) => (q, rank, id, rel(id)) }
    }.toSet
    assert(out.toSet == expected)
    // rank 1 is the plain relevance argmin (no diversity term yet)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val ids = byQ(q).map(_._2)
      val best = ids.minBy(id => (sq(vecs(q), vecs(id)), id))
      assert(rows.find(_._2 == 1L).get._3 == best)
    }
  }

  /** Hand-built pool: probe at origin; a near-duplicate pair both
    * very close to the probe; a third slightly farther but far from
    * the pair. Plain top-2 keeps the duplicate pair; MMR's second
    * pick must skip the duplicate (its diversity penalty is ~0) and
    * take the far candidate. */
  test("mmrSelectWith boundedProbes=false (unbounded-caller seam) is bit-identical, hint-free") {
    // VERDICT r14 #5: the default force-broadcasts cands/qs under the
    // ProbeCap contract; an external caller that cannot assert the
    // bound passes boundedProbes = false and AQE sizes the joins. The
    // selection must be identical and the hints genuinely absent.
    val vecs = Embeddings.quantized(spark, dir)
    val cands = Sq.ivfSq8TopK(spark, dir, k = graft.ops.Pq.RefineR)
      .select(col("q_id"), col("neighbor_id"))
    val queries = vecs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_v"))
    val bounded = Mmr.mmrSelectWith(queries, vecs, cands, 5)
    val unbounded = Mmr.mmrSelectWith(queries, vecs, cands, 5, boundedProbes = false)
    def nHints(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.size
    // the cands subplan carries the SQ8 serve's own (probe-batch)
    // hints in both variants; the seam's TWO forced hints are exactly
    // what boundedProbes = false removes
    assert(nHints(bounded) == nHints(unbounded) + 2)
    val b = bounded.collect().toSeq
    val u = unbounded.collect().toSeq
    Caches.releaseAll(spark)
    assert(b.nonEmpty && b == u)
  }

  test("diversity is non-vacuous: MMR breaks up a planted duplicate pair") {
    val dim = Embeddings.Dim
    def vec(head: Long*): Seq[Long] = (head ++ Seq.fill(dim - head.size)(0L)).toSeq
    val rows = Seq(
      (100L, vec(0L)),          // the probe's exact location
      (1L, vec(10L)),           // nearest
      (2L, vec(11L)),           // duplicate of 1 (d(1,2) tiny)
      (3L, vec(0L, 40L))        // farther from q, far from 1/2
    )
    val vecs = rows.toDF("vec_id", "qv")
      .select(col("vec_id"), col("qv").cast("array<long>").as("qv"))
    val cands = Seq((100L, 1L), (100L, 2L), (100L, 3L))
      .toDF("q_id", "neighbor_id")
    val out = Mmr.mmrSelect(vecs, cands, k = 2).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    Caches.releaseAll(spark)
    // plain top-2 by distance would be (1, 2): rel = 100, 121, 1600.
    // MMR: pick 1 = id 1; then obj(2) = 121 − d(2,1)=1 → 120,
    // obj(3) = 1600 − d(3,1)=1700 → −100: pick id 3.
    assert(out.toSet == Set((1L, 1L), (2L, 3L)))
  }

  test("short candidate lists truncate; k covers the whole pool in greedy order") {
    val dim = Embeddings.Dim
    def vec(x: Long): Seq[Long] = x +: Seq.fill(dim - 1)(0L)
    val vecs = Seq((50L, vec(0L)), (1L, vec(5L)), (2L, vec(30L)))
      .toDF("vec_id", "qv").select(col("vec_id"), col("qv").cast("array<long>").as("qv"))
    val cands = Seq((50L, 1L), (50L, 2L)).toDF("q_id", "neighbor_id")
    val out = Mmr.mmrSelect(vecs, cands, k = 5).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    Caches.releaseAll(spark)
    assert(out.toSeq.sorted == Seq((1L, 1L), (2L, 2L)))
  }
}
