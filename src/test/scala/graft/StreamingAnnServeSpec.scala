package graft

import graft.ops.{Caches, Embeddings}
import graft.stream.ServeLoop
import org.apache.spark.sql.Row
import java.nio.file.Files

/** The streaming ANN serving seam: a stream of query vectors scored
  * through [[ServeLoop]] against the PERSISTED quantizer artifact must
  * agree bit-for-bit with the batch q31 serving path — across
  * micro-batch boundaries, so the per-batch plan provably carries no
  * cross-batch state. */
class StreamingAnnServeSpec extends SparkSpec with VectorServeFixtures {

  test("stream of query vectors ≡ batch ivfTopKServe, across two micro-batches") {
    assumeTestdata()
    val s = spark
    import s.implicits._

    // train once → persist → load: the deployment trajectory
    val artifact = Files.createTempDirectory("quant").toString
    Embeddings.saveQuantizer(spark, Embeddings.trainQuantizer(spark, SfDir), artifact)

    // the batch twin: corpus vectors with vec_id % 50 == 0 as queries
    val cents = Embeddings.loadQuantizer(spark, artifact)
    def view(rows: Seq[Row]) = rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
      (r.getAs[Long]("neighbor_id"), r.getAs[Long]("dot"), r.getAs[Double]("cosine"))).toMap
    val batch = view(Embeddings.ivfTopKServe(spark, SfDir, cents, k = 5, queryMod = 50, nprobe = 2)
      .collect().toSeq)
    assert(batch.nonEmpty)

    // the same query vectors, fed as a STREAM in two micro-batches
    val queryVecs = probeVectors()
    assert(queryVecs.length >= 2, "need at least two queries to split across batches")
    val (firstHalf, secondHalf) = queryVecs.splitAt(queryVecs.length / 2)
    val index = Caches.persist(Embeddings.serveIndex(spark, SfDir, cents))
    // excludeSelf = true: this stream's q_ids ARE corpus vec_ids, so
    // the batch twin's self-filter applies (the external-id default
    // is covered below)
    val (r1, r2) = streamInHalves(firstHalf, secondHalf, "q_id", "embedding")(
      ServeLoop.run(_, _)(Embeddings.serveQueryBatch(index, cents, _, k = 5, nprobe = 2,
        excludeSelf = true))(_))
    assert(view(r1).keySet.map(_._1) == firstHalf.map(_._1).toSet,
      "first micro-batch must serve exactly its own queries")
    assert(view(r1 ++ r2) == batch,
      "streamed serving diverged from the batch q31 serving path")

    // external-id default: a query whose q_id collides with a corpus
    // vec_id must still see that vector among its neighbors — the
    // default (excludeSelf = false) returns the collision at rank 1
    // with cosine 1.0 (it IS the same vector), where the corpus-id
    // mode would silently drop it
    val (cid, cemb) = queryVecs.head
    val external = Seq((cid, cemb)).toDF("q_id", "embedding")
    val kept = Embeddings.serveQueryBatch(index, cents, external, k = 1, nprobe = 2)
      .collect()
    assert(kept.length == 1 && kept(0).getAs[Long]("neighbor_id") == cid &&
      kept(0).getAs[Double]("cosine") == 1.0,
      "external-id serving must not drop an id-colliding true neighbor")
    Caches.releaseAll(spark)
  }

  test("routed probing through the seam: saturating ≡ exact; routed stream ≡ routed batch") {
    assumeTestdata()
    val s = spark
    import s.implicits._
    val artifact = Files.createTempDirectory("quant-routed").toString
    Embeddings.saveQuantizer(spark, Embeddings.trainQuantizer(spark, SfDir), artifact)
    val cents = Embeddings.loadQuantizer(spark, artifact)
    val index = Caches.persist(Embeddings.serveIndex(spark, SfDir, cents))
    val queryVecs = probeVectors()
    val external = queryVecs.toDF("q_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq

    // degenerate identity END-TO-END through the external-query path:
    // a saturating nSuperProbe reproduces the exact serve bit-for-bit
    val exact = rows(Embeddings.serveQueryBatch(index, cents, external, k = 5, nprobe = 2))
    assert(rows(Embeddings.serveQueryBatch(index, cents, external, k = 5, nprobe = 2,
      nSuper = 3, nSuperProbe = 100)) == exact)

    // routed stream ≡ routed batch across micro-batch boundaries —
    // the same identity the exact seam pins, at the routed setting
    val routedBatch = rows(Embeddings.serveQueryBatch(index, cents, external,
      k = 5, nprobe = 2, nSuper = 3, nSuperProbe = 1))
    assert(routedBatch.map(_.head).toSet == exact.map(_.head).toSet,
      "routed serve must cover every probe")
    val (firstHalf, secondHalf) = queryVecs.splitAt(queryVecs.length / 2)
    val (r1, r2) = streamInHalves(firstHalf, secondHalf, "q_id", "embedding")(
      ServeLoop.run(_, _)(Embeddings.serveQueryBatch(index, cents, _, k = 5, nprobe = 2,
        nSuper = 3, nSuperProbe = 1))(_))
    assert((r1 ++ r2).map(_.toSeq).sortBy(_.head.asInstanceOf[Long]) ==
      routedBatch.sortBy(_.head.asInstanceOf[Long]),
      "routed streamed serving diverged from the routed batch path")
    Caches.releaseAll(spark)
  }
}
