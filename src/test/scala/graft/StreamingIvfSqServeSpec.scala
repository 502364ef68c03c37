package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.ops.{Caches, Embeddings, Pq, Sq}
import graft.stream.StreamingIvfSqServe
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

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

  test("serve batches: at most 4 jobs, no compile after batch 1, no decode") {
    // the decoded tier is persisted once per loop and the probe ranking
    // runs on the driver, so a batch's plan reads the cached (rv, r_n)
    // tier directly: no `transform` over `codes` above the cache scan.
    // The tail has no global sort (no sample or range-shuffle job),
    // and the probed-cell filter is read from a set object, so a batch
    // whose probed cells first appear in a new order, or are other
    // cells, generates the same code as the batches before it.
    assumeTestdata()
    val s = spark
    import s.implicits._
    val (cents, _, _, qArtifact, bArtifact) = artifacts("ivfsq-jobs")
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val queries = probeVectors()
    // five batches, three of them past batch 1; the last probes a
    // different cell set, not only the same cells in a new order
    val batches = Seq(queries, queries.reverse, queries.drop(3) ++ queries.take(3),
      queries.reverse.drop(5) ++ queries.reverse.take(5), queries.take(2))
    val cellOrders = batches.map(b => Sq.probeRows(Pq.quantizeQueries(b.toDF("q_id", "embedding")),
      cents.sortBy(_.j), 2).map(_.getLong(3)).distinct.toSeq)
    assert(cellOrders.distinct.size == batches.size && cellOrders.last.toSet != cellOrders.head.toSet,
      s"fixture vacuous: batches share a probed-cell order or set: $cellOrders")
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiles = mutable.ArrayBuffer.empty[Long]
    val perBatch = jobsPerBatch {
      val input = MemoryStream[(Long, Seq[Float])](implicitly[Encoder[(Long, Seq[Float])]], spark.sqlContext)
      val q = StreamingIvfSqServe.run(spark, input.toDF().toDF("q_id", "embedding"), SfDir,
          qArtifact, bArtifact, Files.createTempDirectory("ivfsq-jobs-ckpt").toString, k = 5) { ranked =>
        assert(ranked.collect().nonEmpty)
        plans += ranked.queryExecution.executedPlan
      }
      try batches.foreach { b =>
        val before = compiled
        input.addData(b)
        q.processAllAvailable()
        compiles += compiled - before
      } finally q.stop()
      q.id.toString
    }
    Caches.releaseAll(spark)
    info(s"jobs by micro-batch: $perBatch; classes compiled by micro-batch: $compiles")
    assert(perBatch.size == batches.size, s"jobs by micro-batch: $perBatch")
    // batch 0 also fills the cache; the later ones are the steady state
    assert(perBatch.filter(_._1 != "0").values.forall(_ <= 4),
      s"jobs by micro-batch (want at most 4 after batch 0): $perBatch")
    assert(compiles.size == batches.size && compiles.drop(2).forall(_ == 0),
      s"generated classes compiled by micro-batch (want none after batch 1): $compiles")
    assert(plans.size == batches.size)
    plans.foreach(assertServesDecodedTier)
  }
}
