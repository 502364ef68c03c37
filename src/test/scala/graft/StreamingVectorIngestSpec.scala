package graft

import graft.ops.{Embeddings, Sq, Storage}
import graft.stream.ServeLoop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** The rolling-ingest write loop end-to-end (the streaming form of
  * q87): frozen artifacts trained on the base tranche, the base tier
  * published as snapshot v1, NEW vectors streamed through a
  * [[ServeLoop]] whose sink upserts each batch's
  * [[Sq.ivfSq8EncodeBatch]] codes ([[Storage.upsertSnapshot]]) across
  * TWO micro-batches — then a serve off the newest-committed
  * snapshot must be bit-identical to q87's one-pass encode of the
  * full corpus. Any
  * divergence is an ingest defect (lost delta, duplicate key, stale
  * resolution, clamp drift between the batch and streaming encoders),
  * since encode is row-local. */
class StreamingVectorIngestSpec extends SparkSpec with VectorServeFixtures {

  /** The ingest loop: load the frozen artifact pair, encode each
    * micro-batch of (vec_id, embedding) against it and upsert it into
    * the codes snapshot at `root` — keyed by vec_id, so a re-delivered
    * vector UPDATES its codes rather than duplicating them. */
  private def ingest(vectors: DataFrame, root: String, qPath: String, bPath: String,
                     ckpt: String): StreamingQuery = {
    val cents = Embeddings.loadQuantizer(spark, qPath)
    val (mins, maxs) = Sq.loadBounds(spark, bPath)
    ServeLoop.run(vectors, ckpt)(Sq.ivfSq8EncodeBatch(_, cents, mins, maxs))(
      Storage.upsertSnapshot(spark, root, _, "vec_id"))
  }

  test("base publish + two streamed delta batches; snapshot serve ≡ one-pass q87") {
    assumeTestdata()
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    // BUILD stage: tranche-train, freeze, persist the artifact pair
    val (cents, mins, maxs) = Sq.trainFrozenIvfSq8(spark, SfDir)
    graft.ops.Caches.releaseAll(spark)
    val qArtifact = Files.createTempDirectory("vecingest").toString + "/quantizer"
    val bArtifact = Files.createTempDirectory("vecingest").toString + "/bounds"
    Embeddings.saveQuantizer(spark, cents, qArtifact)
    Sq.saveBounds(spark, mins, maxs, bArtifact)

    // base tier published as snapshot v1
    val root = Files.createTempDirectory("vecingest").toString + "/codes"
    val base = Sq.ivfSq8Codes(spark, SfDir, cents, mins, maxs)
      .filter(col("vec_id") % 5 =!= 4)
    val baseCount = base.count()
    Storage.upsertSnapshot(spark, root, base, "vec_id")
    graft.ops.Caches.releaseAll(spark)

    // the delta tranche arrives as a STREAM, split across two
    // micro-batches — each upserts a new snapshot version
    val deltas = graft.ops.Tables.embeddings(spark, SfDir)
      .filter($"vec_id" % 5 === 4)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(deltas.length >= 2, "need at least two delta vectors to split across batches")
    val (firstHalf, secondHalf) = deltas.splitAt(deltas.length / 2)
    val input = MemoryStream[(Long, Seq[Float])]
    val ckpt = Files.createTempDirectory("vecingest-ckpt").toString
    val q = ingest(input.toDF().toDF("vec_id", "embedding"), root, qArtifact, bArtifact, ckpt)
    try {
      input.addData(firstHalf.toSeq)
      q.processAllAvailable()
      // mid-ingest reads resolve a COMMITTED version: base + batch 1
      assert(Storage.readSnapshot(spark, root).count() ==
        baseCount + firstHalf.length,
        "mid-ingest snapshot must hold base plus exactly the first delta batch")
      input.addData(secondHalf.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // the refreshed snapshot serves bit-identically to q87's one-pass
    // encode (same probes, same frozen artifacts)
    val probes = Embeddings.quantized(spark, SfDir)
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < graft.ops.Pq.ProbeCap)
      .select(col("vec_id").as("q_id"), col("qv"))
    val served = Sq.ivfSq8Serve(Storage.readSnapshot(spark, root),
        cents, mins, maxs, probes, k = 5, nprobe = 2, excludeSelf = true)
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Caches.releaseAll(spark)
    val direct = Sq.ivfSq8FrozenIngestTopK(spark, SfDir)
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Caches.releaseAll(spark)
    assert(served == direct,
      "stream-ingested snapshot serve diverged from q87's one-pass encode")
  }

  test("ingest RESTARTS from checkpoint: batch 1's snapshot version is not re-published") {
    // The snapshot-PUBLISHING seam's restart contract is stronger
    // than a serve's — a replayed batch would not just
    // re-emit rows, it would publish a SPURIOUS snapshot version (same
    // content, new version number, a vacuum-cycle tax forever). File
    // source, kill after batch 1, restart from the SAME checkpoint:
    // batch 1 must NOT re-upsert (version chain stays v1..v3), and the
    // final snapshot serves bit-identically to q87's one-pass encode.
    assumeTestdata()
    val s = spark
    import s.implicits._

    val (cents, mins, maxs) = Sq.trainFrozenIvfSq8(spark, SfDir)
    graft.ops.Caches.releaseAll(spark)
    val qArtifact = Files.createTempDirectory("vecing-rst").toString + "/quantizer"
    val bArtifact = Files.createTempDirectory("vecing-rst").toString + "/bounds"
    Embeddings.saveQuantizer(spark, cents, qArtifact)
    Sq.saveBounds(spark, mins, maxs, bArtifact)

    val root = Files.createTempDirectory("vecing-rst").toString + "/codes"
    Storage.upsertSnapshot(spark, root,
      Sq.ivfSq8Codes(spark, SfDir, cents, mins, maxs).filter(col("vec_id") % 5 =!= 4),
      "vec_id") // v1
    graft.ops.Caches.releaseAll(spark)

    def versionDirs(): Seq[String] = {
      val d = new java.io.File(root)
      if (!d.isDirectory) Nil
      else d.listFiles.filter(_.isDirectory).map(_.getName)
        .filter(_.matches("v[0-9]+")).sorted.toSeq
    }
    assert(versionDirs() == Seq("v1"))

    val deltas = graft.ops.Tables.embeddings(spark, SfDir)
      .filter($"vec_id" % 5 === 4)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val (firstHalf, secondHalf) = deltas.splitAt(deltas.length / 2)

    val srcDir = Files.createTempDirectory("vecing-rst-src").toString
    val ckpt = Files.createTempDirectory("vecing-rst-ckpt").toString
    val schema = firstHalf.toSeq.toDF("vec_id", "embedding").schema
    def stream() = spark.readStream.schema(schema).parquet(srcDir)

    // ---- run 1: ingest batch 1 (publishes v2), then KILL the query
    firstHalf.toSeq.toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)
    val q1 = ingest(stream(), root, qArtifact, bArtifact, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    assert(versionDirs() == Seq("v1", "v2"),
      s"run 1 must publish exactly v2 (got ${versionDirs()})")

    // ---- new vectors land while the ingester is DOWN
    secondHalf.toSeq.toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)

    // ---- run 2: restart from the SAME checkpoint — batch 1 must not
    // replay (no v4; v3 carries ONLY batch 2's delta on top of v2)
    val q2 = ingest(stream(), root, qArtifact, bArtifact, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(versionDirs() == Seq("v1", "v2", "v3"),
      s"restart re-published a committed batch (got ${versionDirs()})")

    // the restarted chain serves bit-identically to q87's one-pass encode
    val probes = Embeddings.quantized(spark, SfDir)
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < graft.ops.Pq.ProbeCap)
      .select(col("vec_id").as("q_id"), col("qv"))
    val served = Sq.ivfSq8Serve(Storage.readSnapshot(spark, root),
        cents, mins, maxs, probes, k = 5, nprobe = 2, excludeSelf = true)
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Caches.releaseAll(spark)
    val direct = Sq.ivfSq8FrozenIngestTopK(spark, SfDir)
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Caches.releaseAll(spark)
    assert(served == direct,
      "restarted ingest chain diverged from q87's one-pass encode")
  }
}
