package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import graft.ops.{Caches, Embeddings, Pq, Sq}
import graft.stream.StreamingIvfSqServe
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

final case class QueryVec(q_id: Long, embedding: Seq[Float])

/** Seeded clustered embeddings: `nClusters` centres uniform in
  * [-0.3, 0.3]^64; vector `id` lies in cluster `id % nClusters`, at its
  * centre plus uniform noise of half-width 0.25 per dimension. With as
  * many clusters as IVF cells, the pinned Forgy seeds (the smallest
  * ids) start one per cluster, so cell sizes, and with them the serve
  * cost, do not depend on the seed; the seed moves only the values. */
final class Vectors(seed: Long, nClusters: Int = Embeddings.OracleCells) {
  val Dim: Int = Embeddings.Dim
  private val centres: IndexedSeq[Array[Double]] = {
    val r = new SplittableRandom(seed ^ 0xc1c1L)
    (0 until nClusters).map(_ => Array.fill(Dim)(0.3 * (2 * r.nextDouble() - 1)))
  }
  def clusterOf(id: Long): Int = (id % nClusters).toInt
  /** The vector of `id` in stream `salt`: deterministic per (seed, salt, id). */
  def vector(id: Long, salt: Long): Array[Float] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt << 40) ^ id)
    val c = centres(clusterOf(id))
    Array.tabulate(Dim)(d => (c(d) + 0.25 * (2 * r.nextDouble() - 1)).toFloat)
  }

  /** Write (vec_id, embedding, label) rows as `dir/embeddings.parquet`. */
  def write(spark: SparkSession, dir: String, ids: Seq[Long], salt: Long): Unit = {
    import spark.implicits._
    ids.map(id => (id, vector(id, salt).toSeq, clusterOf(id)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

object SearchCheck {
  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var d = 0
    while (d < a.length) { val x = a(d).toDouble - b(d).toDouble; s += x * x; d += 1 }
    s
  }

  /** Exact top-k ids by squared distance over the raw floats. */
  def exactTopK(q: Array[Float], corpus: Array[(Long, Array[Float])], k: Int): Seq[Long] =
    corpus.map { case (id, v) => (sqDist(q, v), id) }.sortBy(identity).take(k).map(_._2).toSeq

  /** Rows are (q_id, rank, neighbor_id, est). Throws unless every query
    * has k distinct neighbours at ranks 1..k with non-decreasing
    * estimates; returns recall@k against the exact answer. */
  def check(rows: Seq[(Long, Long, Long, Long)], queries: Seq[QueryVec],
            corpus: Array[(Long, Array[Float])], k: Int): Double = {
    val byQ = rows.groupBy(_._1)
    if (byQ.keySet != queries.map(_.q_id).toSet)
      throw new CheckFailed(s"answered ${byQ.size} of ${queries.length} queries")
    val recalls = queries.map { q =>
      val rs = byQ(q.q_id).sortBy(_._2)
      if (rs.map(_._2) != (1L to k.toLong)) throw new CheckFailed(s"query ${q.q_id}: ranks ${rs.map(_._2)}")
      if (rs.map(_._3).distinct.length != k) throw new CheckFailed(s"query ${q.q_id}: repeated neighbours")
      if (rs.map(_._4).sliding(2).exists(p => p.length == 2 && p(1) < p(0)))
        throw new CheckFailed(s"query ${q.q_id}: estimates not ranked non-decreasing")
      val exact = exactTopK(q.embedding.toArray, corpus, k).toSet
      rs.count(r => exact(r._3)).toDouble / k
    }
    recalls.sum / recalls.length
  }
}

/** `search_serve`: one batch of held-out query vectors through
  * StreamingIvfSqServe.run. Set-up ingests the served corpus as one
  * tranche (the write side, [[Ingest]]: curation, quantizer training
  * and encoding, BM25), checks it, and saves the quantizer and
  * residual bounds the serve loop loads. */
final class SearchServe(spark: SparkSession, work: Path, seed: Long, tr: Tracer) extends Workload {
  type Out = Seq[(Long, Long, Long, Long)]
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val N = 2000
  val Docs = 500
  val BatchSize = 32
  val K = 10
  val NProbe = 2
  val warmupOps = 12
  val warmupSeconds = 13
  val tailPct = 65
  private val vecs = new Vectors(seed)
  private val dir = work.resolve("corpus").toString
  private val tranche = new Tranche(seed, 0, Docs, N)
  private val corpus: Array[(Long, Array[Float])] = tranche.vecIds.map(id => (id, vecs.vector(id, tranche.salt))).toArray
  private var setupProblem: Option[String] = None
  private var ingestLayers = Map.empty[String, Double]
  private val queries = MemoryStream[QueryVec]
  @volatile private var result: Array[Row] = Array.empty
  private var query: StreamingQuery = _
  private var batches = 0L
  private var current: Seq[QueryVec] = Nil
  private var trained: (Seq[Embeddings.Centroid], IndexedSeq[Long], IndexedSeq[Long]) = _
  private var codes: DataFrame = _

  def batchOf(i: Int): Seq[QueryVec] =
    (0 until BatchSize).map { j =>
      val id = 1000000L + i.toLong * BatchSize + j
      QueryVec(id, vecs.vector(id, 1).toSeq)
    }

  def setup(): Unit = {
    tranche.write(spark, dir, vecs)
    val built = Ingest.run(spark, dir, work.resolve("bm25").toString, tr)
    try Ingest.verify(built, tranche, Ingest.expected(tranche, vecs))
    catch { case e: CheckFailed => setupProblem = Some(s"ingest: ${e.getMessage}") }
    Caches.releaseAll(spark)
    if (tr.enabled) {
      // layer values from a second, warm ingest of the same tranche
      val again = Ingest.run(spark, dir, work.resolve("bm25").toString, tr)
      tr.settle()
      ingestLayers = Ingest.layers(spark, dir, again, tr)
      Caches.releaseAll(spark)
    }
    trained = (built.cents, built.mins, built.maxs)
    val qPath = work.resolve("quantizer").toString
    val bPath = work.resolve("bounds").toString
    Embeddings.saveQuantizer(spark, built.cents, qPath)
    Sq.saveBounds(spark, built.mins, built.maxs, bPath)
    query = StreamingIvfSqServe.run(spark, queries.toDF(), dir, qPath, bPath,
        work.resolve("checkpoint").toString, k = K, nprobe = NProbe) { ranked =>
      result = tr.span("ops.Sq.serve")(ranked.collect())
    }
    if (tr.enabled) codes = Caches.persist(Sq.ivfSq8Codes(spark, dir, built.cents, built.mins, built.maxs))
  }

  override def setupLayers: Map[String, Double] = ingestLayers

  def op(i: Int): Out = {
    current = batchOf(i)
    tr.span("stream.StreamingIvfSqServe.batch") {
      queries.addData(current)
      query.processAllAvailable()
    }
    batches += 1
    result.toSeq.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("est")))
  }

  def check(i: Int, out: Out): Checked = {
    setupProblem.foreach(p => throw new CheckFailed(p))
    Checked(BatchSize, SearchCheck.check(out, current, corpus, K))
  }

  override def traceOp(i: Int, out: Out): Map[String, Double] = {
    val ps = tr.progressOf(query.id, batches - 1)
    def dur(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val (cents, mins, maxs) = trained
    val q = Pq.quantizeQueries(current.toDF())
    val all = Sq.ivfSq8Serve(codes, cents, mins, maxs, q, k = Int.MaxValue, nprobe = NProbe)
    val (_, candidates) = tr.rows(all)
    val (_, cells) = tr.rows(all.join(codes.select(col("vec_id").as("neighbor_id"), col("cell")), "neighbor_id")
      .select("q_id", "cell").distinct())
    Map(
      "stream.StreamingIvfSqServe.trigger_ms" -> dur("triggerExecution"),
      "stream.StreamingIvfSqServe.add_batch_ms" -> dur("addBatch"),
      "stream.StreamingIvfSqServe.seam_ms" -> (dur("triggerExecution") - dur("addBatch")),
      "ops.Sq.serve_ms" -> tr.lastMs("ops.Sq.serve"),
      "ops.Sq.candidates_per_query" -> candidates.toDouble / BatchSize,
      "ops.Sq.cells_probed_per_query" -> cells.toDouble / BatchSize)
  }

  def close(): Unit = if (query != null) { query.stop(); query.awaitTermination(10000); () }
}
