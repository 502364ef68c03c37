package graft

import graft.ops.{Caches, Embeddings, Mmr, Pq, Sq}
import graft.stream.ServeLoop
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import java.nio.file.Files
import scala.collection.mutable

/** The MMR serving seam: a stream of query vectors served through
  * [[ServeLoop]] over [[Mmr.mmrServe]] — the persisted q82 artifact
  * pair + the exact tier — must agree bit-for-bit with the batch q92
  * path, across micro-batch boundaries (MMR is per-query, so the split
  * cannot change any answer). */
class StreamingMmrServeSpec extends SparkSpec with VectorServeFixtures {

  test("stream of query vectors ≡ batch mmrRerankTopK, across micro-batch boundaries") {
    assumeTestdata()
    val batch = byRank(Mmr.mmrRerankTopK(spark, SfDir).collect().toSeq)
    assert(batch.nonEmpty)
    Caches.releaseAll(spark)

    // the q82 artifact pair, persisted the way a deployment would
    val (cents, mins, maxs) = Sq.trainIvfSq8(spark, SfDir)
    val quantizerPath = Files.createTempDirectory("mmr-quant").toString + "/q"
    val boundsPath = Files.createTempDirectory("mmr-bounds").toString + "/b"
    Embeddings.saveQuantizer(spark, cents, quantizerPath)
    Sq.saveBounds(spark, mins, maxs, boundsPath)
    Caches.releaseAll(spark)

    val lc = Embeddings.loadQuantizer(spark, quantizerPath)
    val (lm, lx) = Sq.loadBounds(spark, boundsPath)
    val tier = Caches.persist(Sq.decodedTier(Sq.ivfSq8Codes(spark, SfDir, lc, lm, lx), lm, lx))
    val exact = Caches.persist(Embeddings.quantized(spark, SfDir).select(col("vec_id"), col("qv")))
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    assertStreamMatchesBatch(batch, probeVectors(cap = Pq.ProbeCap),
      "streamed MMR serve diverged from the batch q92 ranking")(recordingPlans(plans)(
      ServeLoop.run(_, _)(Mmr.mmrServe(tier, exact, lc, _, excludeSelf = true))(_)))
    // the candidate leg reads the persisted decoded tier: no batch decodes
    assert(plans.size == 2)
    plans.foreach(assertServesDecodedTier)
  }
}
