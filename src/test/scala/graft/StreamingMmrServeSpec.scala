package graft

import graft.ops.{Caches, Embeddings, Mmr, Pq, Sq}
import graft.stream.ServeLoop
import org.apache.spark.sql.functions.col
import java.nio.file.Files

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
    val codes = Caches.persist(Sq.ivfSq8Codes(spark, SfDir, lc, lm, lx))
    val exact = Caches.persist(Embeddings.quantized(spark, SfDir).select(col("vec_id"), col("qv")))
    assertStreamMatchesBatch(batch, probeVectors(cap = Pq.ProbeCap),
      "streamed MMR serve diverged from the batch q92 ranking")(
      ServeLoop.run(_, _)(Mmr.mmrServe(codes, exact, lc, lm, lx, _, excludeSelf = true))(_))
  }
}
