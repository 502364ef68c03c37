package graft

import graft.ops.{Caches, Embeddings, Pq, Sq}
import graft.stream.ServeLoop
import java.nio.file.Files

/** The q85 serving seam: all three training artifacts (coarse
  * quantizer + residual codebooks + residual bounds) round-trip, and
  * a stream of query vectors two-stage-served through [[ServeLoop]]
  * against the two compressed tiers must agree bit-for-bit with the
  * batch q85 path — across micro-batch boundaries (the family's
  * standard stream ≡ batch identity). The deployment reads raw vectors
  * exactly once, at startup, to encode both compressed tiers off one
  * shared residual pass ([[Sq.buildRefineTiers]]); no micro-batch
  * touches them again. */
class StreamingRefineServeSpec extends SparkSpec with VectorServeFixtures {

  test("artifact triple round-trips; stream of query vectors ≡ batch ivfPqSq8RefineTopK") {
    assumeTestdata()
    val (cents, books) = Pq.trainIvfPq(spark, SfDir)
    val (cents2, mins, maxs) = Sq.trainIvfSq8(spark, SfDir)
    assert(cents.map(c => (c.j, c.n, c.s)) == cents2.map(c => (c.j, c.n, c.s)))
    val base = Files.createTempDirectory("refineartifacts").toString
    Embeddings.saveQuantizer(spark, cents, s"$base/quantizer")
    Pq.saveCodebooks(spark, books, s"$base/codebooks")
    Sq.saveBounds(spark, mins, maxs, s"$base/bounds")
    val lb = Pq.loadCodebooks(spark, s"$base/codebooks")
    assert(lb.map(_.map(c => (c.j, c.n, c.s))) == books.map(_.map(c => (c.j, c.n, c.s))),
      "codebooks artifact round-trip diverged")

    val batch = byRank(Sq.ivfPqSq8RefineTopK(spark, SfDir, k = 5, queryMod = 50).collect().toSeq)
    Caches.releaseAll(spark)

    val lc = Embeddings.loadQuantizer(spark, s"$base/quantizer")
    val (lm, lx) = Sq.loadBounds(spark, s"$base/bounds")
    val (pqTier, sqTier) = Sq.buildRefineTiers(spark, SfDir, lc, lb, lm, lx)
    val (pqCodes, sqCodes) = (Caches.persist(pqTier), Caches.persist(sqTier))
    assertStreamMatchesBatch(batch, probeVectors(),
      "streamed refine serving diverged from the batch q85 path")(
      ServeLoop.run(_, _)(b => Sq.ivfPqSq8RefineServe(pqCodes, sqCodes, lc, lb, lm, lx,
        Pq.quantizeQueries(b), 5, Pq.RefineR, 2, excludeSelf = true))(_))
  }
}
