package graft

import graft.ops.{Caches, Embeddings, Pq, Sq}
import graft.stream.ServeLoop
import java.nio.file.Files

/** The SQ8 serving seam: bounds artifact round-trip, and a stream of
  * query vectors scored through [[ServeLoop]] against the persisted
  * artifact must agree bit-for-bit with the batch q81 path — across
  * micro-batch boundaries (the family's standard stream ≡ batch
  * identity). */
class StreamingSqServeSpec extends SparkSpec with VectorServeFixtures {

  test("bounds artifact round-trips; stream of query vectors ≡ batch sq8TopK") {
    assumeTestdata()
    val vecs = Embeddings.quantized(spark, SfDir)
    val (mins, maxs) = Sq.gridBounds(vecs)
    val artifact = Files.createTempDirectory("sqbounds").toString + "/bounds"
    Sq.saveBounds(spark, mins, maxs, artifact)
    val (lm, lx) = Sq.loadBounds(spark, artifact)
    assert(lm == mins && lx == maxs, "bounds artifact round-trip diverged")

    val batch = byRank(Sq.sq8TopK(spark, SfDir, k = 5, queryMod = 50).collect().toSeq)
    Caches.releaseAll(spark)
    val codes = Caches.persist(Sq.encode(Embeddings.quantized(spark, SfDir), lm, lx))
    assertStreamMatchesBatch(batch, probeVectors(),
      "streamed SQ8 serving diverged from the batch q81 path")(
      ServeLoop.run(_, _)(b => Sq.sq8Serve(codes, lm, lx, Pq.quantizeQueries(b), 5, excludeSelf = true))(_))
  }
}
