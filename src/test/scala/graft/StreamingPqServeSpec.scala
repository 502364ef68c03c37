package graft

import graft.ops.{Caches, Embeddings, Pq}
import graft.stream.ServeLoop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.Files

/** The streaming PQ serving seams: a stream of query vectors scored
  * through [[ServeLoop]] against the PERSISTED codebook artifact +
  * codes relation (and its IVFADC routed twin) must agree bit-for-bit
  * with the batch q77/q79 paths — across micro-batch boundaries, so
  * the per-batch plan provably carries no cross-batch state. Also pins
  * the artifact round-trip, the external-id default and the IVFADC
  * restart. */
class StreamingPqServeSpec extends SparkSpec with VectorServeFixtures {

  test("codebook artifact round-trips bit-for-bit") {
    val vecs = Embeddings.quantized(spark, SfDir)
    val books = Pq.trainCodebooks(vecs)
    val path = Files.createTempDirectory("pqbooks").toString
    Pq.saveCodebooks(spark, books, path)
    val loaded = Pq.loadCodebooks(spark, path)
    assert(loaded == books, "loaded codebooks diverged from the trained ones")
    Caches.releaseAll(spark)
  }

  test("stream of query vectors ≡ batch pqTopK, across two micro-batches") {
    assumeTestdata()
    val s = spark
    import s.implicits._

    // train once → persist → load: the deployment trajectory
    val artifact = Files.createTempDirectory("pqbooks").toString
    Pq.saveCodebooks(spark,
      Pq.trainCodebooks(Embeddings.quantized(spark, SfDir)), artifact)
    // the batch twin IS the q77 oracle-certified path
    val batch = byRank(Pq.pqTopK(spark, SfDir, k = 5, queryMod = 50).collect().toSeq)
    val books = Pq.loadCodebooks(spark, artifact)
    val codes = Caches.persist(Pq.buildCodes(spark, SfDir, books))
    val queryVecs = probeVectors()
    assertStreamMatchesBatch(batch, queryVecs, "streamed PQ serving diverged from the batch q77 path")(
      ServeLoop.run(_, _)(b => Pq.adcServe(codes, books, Pq.quantizeQueries(b), 5, excludeSelf = true))(_))

    // external-id default: a query whose q_id collides with a corpus
    // vec_id must still see that vector — with equal embeddings the
    // ADC estimate of a vector against its own codes is the minimum
    // possible for that code combination, so the collision surfaces
    // at rank 1 where the corpus-id mode would drop it
    val (cid, cemb) = queryVecs.head
    val external = Pq.quantizeQueries(Seq((cid, cemb)).toDF("q_id", "embedding"))
    val kept = Pq.adcServe(codes, books, external, k = 5).collect()
    assert(kept.length == 5)
    // tie-proof form: serving at corpus-covering k, the colliding
    // vector IS returned (nothing filters it), and its own-codes
    // estimate is the global MINIMUM — a vector's ADC estimate against
    // its own code combination cannot be beaten (a top-5-membership
    // check could flake if 5+ vectors shared the minimal estimate with
    // smaller neighbor_ids).
    val all = Pq.adcServe(codes, books, external, k = 100000).collect()
    val own = all.find(r => r.getAs[Long]("neighbor_id") == cid)
    assert(own.nonEmpty, "external-id serving must not drop an id-colliding vector")
    assert(own.get.getAs[Long]("est") == all.map(_.getAs[Long]("est")).min,
      "the colliding vector's own-codes estimate must be minimal")
    Caches.releaseAll(spark)
  }

  /** Train the q79 artifact pair and persist it; returns the artifact
    * paths and the batch ivfPqTopK truth (its caches released). */
  private def ivfPqArtifacts(): (String, String, Map[(Long, Long), (Long, Long)]) = {
    val (cents, books) = Pq.trainIvfPq(spark, SfDir)
    val quantPath = Files.createTempDirectory("ivfpq-coarse").toString
    val bookPath = Files.createTempDirectory("ivfpq-books").toString
    Embeddings.saveQuantizer(spark, cents, quantPath)
    Pq.saveCodebooks(spark, books, bookPath)
    val batch = byRank(Pq.ivfPqTopK(spark, SfDir, k = 5, queryMod = 50, nprobe = 2).collect().toSeq)
    Caches.releaseAll(spark)
    (quantPath, bookPath, batch)
  }

  /** The IVFADC serving deployment: load both artifacts, build and
    * persist the routed codes, serve through [[ServeLoop]]. */
  private def serveIvfPq(quantPath: String, bookPath: String)
                        (in: DataFrame, ckpt: String, sink: DataFrame => Unit): StreamingQuery = {
    val cents = Embeddings.loadQuantizer(spark, quantPath)
    val books = Pq.loadCodebooks(spark, bookPath)
    val codes = Caches.persist(Pq.ivfPqCodes(spark, SfDir, cents, books))
    ServeLoop.run(in, ckpt)(b =>
      Pq.ivfPqServe(codes, cents, books, Pq.quantizeQueries(b), 5, 2, excludeSelf = true))(sink)
  }

  test("IVFADC stream ≡ batch ivfPqTopK, across two micro-batches") {
    assumeTestdata()
    val (quantPath, bookPath, batch) = ivfPqArtifacts()
    assertStreamMatchesBatch(batch, probeVectors(),
      "streamed IVFADC serving diverged from the batch q79 path")(serveIvfPq(quantPath, bookPath))
  }

  test("IVFADC serving RESTARTS from checkpoint: no re-emission, batch 2 identical to uninterrupted") {
    // The serving seams pin stream ≡ batch; this kills and resumes the
    // query — the recovery story a production serving loop depends
    // on: a FILE source, the query stopped after batch 1, a restart
    // from the SAME checkpoint, batch 1 never re-emitted and batch 2's
    // results bit-identical to the uninterrupted batch path.
    assumeTestdata()
    val (quantPath, bookPath, batch) = ivfPqArtifacts()
    assertRestartMatchesBatch(batch, probeVectors())(serveIvfPq(quantPath, bookPath))
  }
}
