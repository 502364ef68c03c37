package graft

import graft.ops.{Caches, Embeddings, Sq}
import graft.stream.StreamingIvfSqServe
import org.apache.spark.sql.functions.col
import java.nio.file.Files

/** The IVF+SQ8 serving seam: both artifacts (coarse quantizer +
  * residual bounds) round-trip, and a stream of query vectors scored
  * against them must agree bit-for-bit with the batch q82 path —
  * across micro-batch boundaries (the family's standard stream ≡
  * batch identity). */
class StreamingIvfSqServeSpec extends SparkSpec with VectorServeFixtures {

  /** Train the q82 artifact pair and persist it; returns the trained
    * triple and the two artifact paths. */
  private def artifacts(tag: String) = {
    val (cents, mins, maxs) = Sq.trainIvfSq8(spark, SfDir)
    val qArtifact = Files.createTempDirectory(tag).toString + "/quantizer"
    val bArtifact = Files.createTempDirectory(tag).toString + "/bounds"
    Embeddings.saveQuantizer(spark, cents, qArtifact)
    Sq.saveBounds(spark, mins, maxs, bArtifact)
    (cents, mins, maxs, qArtifact, bArtifact)
  }

  test("artifacts round-trip; stream of query vectors ≡ batch ivfSq8TopK") {
    assumeTestdata()
    val (cents, mins, maxs, qArtifact, bArtifact) = artifacts("ivfsq")
    val loaded = Embeddings.loadQuantizer(spark, qArtifact)
    assert(loaded.map(c => (c.j, c.n, c.s)) == cents.map(c => (c.j, c.n, c.s)),
      "quantizer artifact round-trip diverged")
    val (lm, lx) = Sq.loadBounds(spark, bArtifact)
    assert(lm == mins && lx == maxs, "bounds artifact round-trip diverged")

    val batch = byRank(Sq.ivfSq8TopK(spark, SfDir, k = 5, queryMod = 50).collect().toSeq)
    Caches.releaseAll(spark)
    assertStreamMatchesBatch(batch, probeVectors(),
      "streamed IVF+SQ8 serving diverged from the batch q82 path")(
      StreamingIvfSqServe.run(spark, _, SfDir, qArtifact, bArtifact, _, k = 5, excludeSelf = true)(_))
  }

  test("service-level selector: filtered stream ≡ batch ivfSq8TopKFiltered (q86)") {
    assumeTestdata()
    val s = spark
    import s.implicits._
    val (_, _, _, qArtifact, bArtifact) = artifacts("ivfsqf")

    val batch = byRank(Sq.ivfSq8TopKFiltered(spark, SfDir, k = 5, queryMod = 50).collect().toSeq)
    assert(batch.nonEmpty)
    Caches.releaseAll(spark)

    val queryVecs = probeVectors()
    val (h1, h2) = queryVecs.splitAt(queryVecs.length / 2)
    val (r1, r2) = streamInHalves(h1, h2, "q_id", "embedding")(
      StreamingIvfSqServe.run(spark, _, SfDir, qArtifact, bArtifact, _, k = 5, excludeSelf = true,
        selector = Some(col("label") % 2 === 0))(_))
    assert(byRank(r1 ++ r2) == batch,
      "selector-filtered streamed serving diverged from the batch q86 path")
    Caches.releaseAll(spark)
  }

  test("IVF+SQ8 serving RESTARTS from checkpoint: no re-emission, batch 2 identical to uninterrupted") {
    // The IVFADC restart certification applied to the OTHER routed
    // serving seam: a file source whose offsets the checkpoint can
    // replay, the query killed after batch 1, new queries landing
    // while the service is down, and a restart that must serve
    // exactly the late arrivals — bit-identical to the uninterrupted
    // batch path, with batch 1 never re-emitted.
    assumeTestdata()
    val (_, _, _, qArtifact, bArtifact) = artifacts("ivfsq-rst")
    val batch = byRank(Sq.ivfSq8TopK(spark, SfDir, k = 5, queryMod = 50).collect().toSeq)
    Caches.releaseAll(spark)
    assertRestartMatchesBatch(batch, probeVectors())(
      StreamingIvfSqServe.run(spark, _, SfDir, qArtifact, bArtifact, _, k = 5, excludeSelf = true)(_))
  }
}
