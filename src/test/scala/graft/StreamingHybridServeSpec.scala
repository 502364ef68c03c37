package graft

import graft.ops.{Caches, Embeddings, Retrieval, Sq, Tables}
import graft.stream.ServeLoop
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.Files
import scala.collection.mutable

/** The hybrid serving seam: all three artifacts (BM25 index, coarse
  * quantizer, residual bounds) feed one [[ServeLoop]] over
  * [[Retrieval.hybridServe]], and a stream of (text, vector) queries
  * fused per micro-batch must agree bit-for-bit with the batch q88
  * path — across micro-batch boundaries, which is an identity because
  * RRF is per-query. */
class StreamingHybridServeSpec extends SparkSpec with VectorServeFixtures {

  private def view(rows: Seq[Row]) = rows.map(r =>
    (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
      (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_score"))).toMap

  /** Batch q88 truth (its caches released before the stream runs),
    * the artifacts a deployment persists from the SAME trajectories
    * the batch path trains, the q88 probe set as EXTERNAL requests
    * (id, text prefix, vector), and the serve that
    * loads the artifacts into a [[ServeLoop]]. */
  private def fixture() = {
    val s = spark
    import s.implicits._
    val batch = view(Retrieval.hybridRrfDocs(spark, SfDir).collect().toSeq)
    Caches.releaseAll(spark)
    val ixPath = Files.createTempDirectory("hyb-ix").toString
    Retrieval.bm25Save(Retrieval.bm25Build(Tables.documents(spark, SfDir)), ixPath)
    Caches.releaseAll(spark)
    val (cents, mins, maxs) = Sq.trainIvfSq8(spark, SfDir)
    val qPath = Files.createTempDirectory("hyb-quant").toString
    val bPath = Files.createTempDirectory("hyb-bounds").toString
    Embeddings.saveQuantizer(spark, cents, qPath)
    Sq.saveBounds(spark, mins, maxs, bPath)
    Caches.releaseAll(spark)
    val reqs = Tables.documents(spark, SfDir)
      .join(Tables.embeddings(spark, SfDir),
        col("doc_id") === col("vec_id"))
      .filter(col("doc_id") % 100 === 0 && col("doc_id") < graft.ops.Pq.ProbeCap)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0), 1, 8)).as("query"),
        col("embedding"))
      .as[(Long, String, Seq[Float])].collect().sortBy(_._1).toSeq
    def start(in: DataFrame, ckpt: String, sink: DataFrame => Unit): StreamingQuery = {
      val ix0 = Retrieval.bm25Load(spark, ixPath)
      val ix = ix0.copy(postings = Caches.persist(ix0.postings))
      val cents = Embeddings.loadQuantizer(spark, qPath)
      val (mins, maxs) = Sq.loadBounds(spark, bPath)
      val tier = Caches.persist(Sq.decodedTier(Sq.ivfSq8Codes(spark, SfDir, cents, mins, maxs), mins, maxs))
      ServeLoop.run(in, ckpt)(
        Retrieval.hybridServe(ix, tier, cents, _, excludeSelf = true))(sink)
    }
    (batch, reqs, start _)
  }

  test("stream of hybrid (text, vector) queries ≡ batch hybridRrfDocs, across two micro-batches") {
    // the ANN leg reads the persisted decoded tier: no batch decodes
    assumeTestdata()
    val s = spark
    import s.implicits._
    val (batch, reqs, start) = fixture()
    assert(batch.nonEmpty)
    assert(reqs.length >= 2, "need at least two hybrid queries to split across batches")
    val (firstHalf, secondHalf) = reqs.splitAt(reqs.length / 2)
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val (r1, r2) = streamInHalves(firstHalf, secondHalf, "query_id", "query", "embedding")(
      recordingPlans(plans)(start))
    assert(view(r1).keySet.map(_._1) == firstHalf.map(_._1).toSet,
      "first micro-batch must answer exactly its own queries")
    assert(view(r1 ++ r2) == batch,
      "streamed hybrid serving diverged from the batch q88 path")
    assert(plans.size == 2)
    plans.foreach(assertServesDecodedTier)
    Caches.releaseAll(spark)
  }

  test("hybrid serving RESTARTS from checkpoint: no re-emission, batch 2 identical to uninterrupted") {
    // of the serving seams, this one holds the MOST static state (two
    // persisted indexes — postings + routed codes): kill after batch
    // 1, restart from the SAME checkpoint, batch 1 never re-emitted,
    // batch 2 bit-identical to the uninterrupted path — both legs and
    // the fusion rebuilt from the artifacts alone.
    assumeTestdata()
    val s = spark
    import s.implicits._
    val (batch, reqs, start) = fixture()
    val (firstHalf, secondHalf) = reqs.splitAt(reqs.length / 2)
    val (got1, got2) = restartInHalves(firstHalf.toDF("query_id", "query", "embedding"),
      secondHalf.toDF("query_id", "query", "embedding"))(start)
    assert(view(got1).keySet.map(_._1) == firstHalf.map(_._1).toSet,
      "run 1 must answer exactly batch 1's queries")
    assert(view(got2).keySet.map(_._1) == secondHalf.map(_._1).toSet,
      s"restart must answer exactly the queries that arrived while down — no re-emission " +
        s"(got ${view(got2).keySet.map(_._1)})")
    assert(view(got1 ++ got2) == batch,
      "restarted hybrid serving diverged from the uninterrupted batch path")
  }
}
