package graft

import graft.ops.{Caches, Dsir, Retrieval}
import graft.stream.ServeLoop
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

/** The DSIR and BM25 serving seams: streamed scoring through
  * [[ServeLoop]] against the persisted artifacts must agree
  * bit-for-bit with the batch paths, across micro-batch boundaries (no
  * cross-batch state). */
class StreamingServeSpec extends SparkSpec {

  test("stream of documents ≡ batch dsirLogWeights, across two micro-batches") {
    val s = spark
    import s.implicits._

    val targetTexts = Seq((1L, "the quiet garden held a hundred small worlds"),
      (2L, "she read the letter twice before answering"))
    val rawTexts = Seq((11L, "click here to subscribe now"),
      (12L, "the road was long and quiet"))
    val dir = Files.createTempDirectory("dsir-serve").toString
    Dsir.dsirSave(Dsir.dsirTrain(targetTexts.toDF("doc_id", "text"), 64, 0.25), s"$dir/t")
    Dsir.dsirSave(Dsir.dsirTrain(rawTexts.toDF("doc_id", "text"), 64, 0.25), s"$dir/r")

    // pool mix including an empty doc (no row, stream and batch alike)
    val pool = Seq((21L, "the garden was quiet"), (22L, "click subscribe now"),
      (23L, "a zebra wanders"), (24L, "   "))
    val target = Dsir.dsirLoad(spark, s"$dir/t")
    val raw = Dsir.dsirLoad(spark, s"$dir/r")
    def view(rows: Seq[Row]) = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_feats"), r.getAs[Double]("log_weight"))).toMap
    val batch = view(Dsir.dsirLogWeights(pool.toDF("doc_id", "text"), target, raw).collect().toSeq)
    assert(batch.keySet == Set(21L, 22L, 23L))

    // the serving deployment: both bucket tables persisted once
    val (t, r) = (target.copy(buckets = Caches.persist(target.buckets)),
      raw.copy(buckets = Caches.persist(raw.buckets)))
    val (h1, h2) = pool.splitAt(2)
    val (r1, r2) = streamInHalves(h1, h2, "doc_id", "text")(
      ServeLoop.run(_, _)(Dsir.dsirLogWeights(_, t, r))(_))
    assert(view(r1).keySet == Set(21L, 22L),
      "first micro-batch must weigh exactly its own docs")
    assert(view(r1 ++ r2) == batch,
      "streamed weighting diverged from the batch dsirLogWeights path")
    Caches.releaseAll(spark)
  }

  test("stream of queries ≡ batch bm25TopK, across two micro-batches") {
    val s = spark
    import s.implicits._

    val corpus = Seq((1L, "the cat sat on the mat"), (2L, "a dog chased the cat"),
      (3L, "dogs and cats live together"), (4L, "the stock market closed higher"))
    val dir = Files.createTempDirectory("bm25-serve").toString
    Retrieval.bm25Save(Retrieval.bm25Build(corpus.toDF("doc_id", "text")), s"$dir/ix")

    // query mix including a no-hit and a zero-term query (no rows)
    val queries = Seq((10L, "the cat"), (11L, "dog chased"),
      (12L, "zebra quux"), (13L, "stock market"))
    val loaded = Retrieval.bm25Load(spark, s"$dir/ix")
    def view(rows: Seq[Row]) = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
      (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    val batch = view(Retrieval.bm25TopK(loaded, queries.toDF("query_id", "query"), k = 2)
      .collect().toSeq)
    assert(batch.keys.map(_._1).toSet == Set(10L, 11L, 13L))

    val ix = loaded.copy(postings = Caches.persist(loaded.postings))
    val (h1, h2) = queries.splitAt(2)
    val (r1, r2) = streamInHalves(h1, h2, "query_id", "query")(
      ServeLoop.run(_, _)(Retrieval.bm25TopK(ix, _, k = 2))(_))
    assert(view(r1).keys.map(_._1).toSet == Set(10L, 11L),
      "first micro-batch must answer exactly its own queries")
    assert(view(r1 ++ r2) == batch,
      "streamed serving diverged from the batch bm25TopK path")
    Caches.releaseAll(spark)
  }

  test("bm25 index REBUILD swaps atomically under a live serving stream (versioned artifact)") {
    // VERDICT r11 #4: the quantizer lifecycle (StorageSpec) applied to
    // the lexical index — the rebuild the q95 frozen-stats ingest
    // defers. A live BM25 serving loop stays pinned to the version it
    // resolved at startup while a retrain publishes v2; answers on the
    // live stream never change mid-flight; a NEW serving job resolves
    // the rebuilt index and sees the new corpus; vacuum retires v1
    // only after the grace window.
    import graft.ops.Storage
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val corpusV1 = Seq((1L, "the cat sat on the mat"), (2L, "a dog chased the cat"),
      (3L, "dogs and cats live together"))
    // the rebuild corpus ADDS a doc whose vocabulary v1 never saw —
    // retrievable only through the rebuilt index
    val corpusV2 = corpusV1 :+ (4L, "zebra stripes shimmer at dusk")
    val root = Files.createTempDirectory("bm25-art").toString + "/ix"

    // nothing committed yet: a serving job must fail loudly
    intercept[IllegalArgumentException] { Retrieval.bm25Resolve(spark, root) }

    val v1 = Retrieval.bm25Publish(
      Retrieval.bm25Build(corpusV1.toDF("doc_id", "text")), root)
    graft.ops.Caches.releaseAll(spark)
    // the nested bm25Save layout has no top-level marker of its own:
    // publishArtifact must have stamped it (ADVICE r11), or this
    // version would be committed-looking-but-unresolvable debris
    assert(new java.io.File(v1.stripPrefix("file:"), "_SUCCESS").isFile,
      "publishArtifact did not stamp the top-level _SUCCESS marker")
    assert(Storage.resolveArtifact(spark, root) == v1)

    val queries = Seq((10L, "the cat"), (11L, "zebra stripes"))
    val (h1, h2) = queries.splitAt(1)
    def key(r: Row): (Long, Int) = (r.getAs[Long]("query_id"), r.getAs[Int]("rank"))
    def value(r: Row): Long = r.getAs[Long]("doc_id")
    val ixV1 = Retrieval.bm25Resolve(spark, root)
    val wantV1 = Retrieval.bm25TopK(ixV1, queries.toDF("query_id", "query"), k = 2)
      .collect().map(r => key(r) -> value(r)).toMap
    assert(!wantV1.values.toSet.contains(4L), "v1 must not know the v2-only doc")

    // live serving job, pinned at startup to the CURRENT version
    val input = MemoryStream[(Long, String)]
    val got = collection.mutable.Map.empty[(Long, Int), Long]
    val ckpt = Files.createTempDirectory("bm25-art-ckpt").toString
    val pinned = Retrieval.bm25Load(spark, Storage.resolveArtifact(spark, root))
    val ix = pinned.copy(postings = Caches.persist(pinned.postings))
    val q = ServeLoop.run(input.toDF().toDF("query_id", "query"), ckpt)(
        Retrieval.bm25TopK(ix, _, k = 2)) { res =>
      res.collect().foreach(r => got += key(r) -> value(r))
    }
    try {
      input.addData(h1)
      q.processAllAvailable()

      // ---- REBUILD lands while the stream is live: publish v2, keep
      // v1 in the vacuum grace window for the pinned reader
      val v2 = Retrieval.bm25Publish(
        Retrieval.bm25Build(corpusV2.toDF("doc_id", "text")), root)
      assert(v2 != v1 && Storage.resolveArtifact(spark, root) == v2)
      assert(Storage.vacuumSnapshots(spark, root, keepLast = 2).isEmpty,
        "grace window must keep the pinned reader's version")

      // the live stream keeps serving the version it pinned: batch 2's
      // answers are v1's, not v2's
      input.addData(h2)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == wantV1,
      "a live serving stream changed answers mid-flight during a rebuild swap")

    // a NEW serving job resolves the rebuilt index and sees the new doc
    val ixV2 = Retrieval.bm25Resolve(spark, root)
    val wantV2 = Retrieval.bm25TopK(ixV2, h2.toDF("query_id", "query"), k = 2)
      .collect().map(r => key(r) -> value(r)).toMap
    assert(wantV2.values.toSet.contains(4L),
      "the rebuilt index must retrieve the newly ingested vocabulary")

    // after the pinned reader is gone, vacuum retires v1; v2 survives
    val deleted = Storage.vacuumSnapshots(spark, root, keepLast = 1)
    assert(deleted.map(_.stripPrefix("file:")) == Seq(v1),
      s"vacuum removed $deleted, expected exactly $v1")
    assert(Retrieval.bm25Resolve(spark, root).nDocs == 4L)
    graft.ops.Caches.releaseAll(spark)
  }
}
