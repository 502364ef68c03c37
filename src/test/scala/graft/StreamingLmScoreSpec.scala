package graft

import graft.ops.{Caches, TextOps}
import graft.stream.ServeLoop
import org.apache.spark.sql.Row
import java.nio.file.Files

/** The streaming LM serving seam: a stream of documents scored
  * through [[ServeLoop]] against the PERSISTED model artifact must
  * agree bit-for-bit with the batch lmScore path — across micro-batch
  * boundaries, so the per-batch plan provably carries no cross-batch
  * state. */
class StreamingLmScoreSpec extends SparkSpec {

  test("stream of documents ≡ batch lmScore, across two micro-batches") {
    val s = spark
    import s.implicits._

    // train once → persist → load: the deployment trajectory (cap
    // below the token count so <unk> rows flow through the stream)
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "a dog ran fast")).toDF("doc_id", "text")
    val artifact = Files.createTempDirectory("lm-serve").toString
    TextOps.lmSave(TextOps.lmTrain(train, maxVocab = 6, k = 0.2), artifact)

    // eval mix: training docs, an OOV doc, a literal-"<s>" doc, and
    // an empty doc (must emit NO row, in stream and batch alike)
    val evalDocs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat ran"),
      (4L, "the zebra sat"), (5L, "<s> the cat"), (6L, "   "))
    val loaded = TextOps.lmLoad(spark, artifact)
    def view(rows: Seq[Row]) = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_tokens"), r.getAs[Double]("cross_entropy"),
        r.getAs[Double]("perplexity"))).toMap
    val batch = view(TextOps.lmScore(evalDocs.toDF("doc_id", "text"), loaded).collect().toSeq)
    assert(batch.keySet == Set(1L, 2L, 4L, 5L) && batch.nonEmpty)

    // the same docs, fed as a STREAM in two micro-batches against the
    // model tables persisted once
    val lm = loaded.copy(vocab = Caches.persist(loaded.vocab),
      bigrams = Caches.persist(loaded.bigrams), contexts = Caches.persist(loaded.contexts))
    val (firstHalf, secondHalf) = evalDocs.splitAt(2)
    val (r1, r2) = streamInHalves(firstHalf, secondHalf, "doc_id", "text")(
      ServeLoop.run(_, _)(TextOps.lmScore(_, lm))(_))
    assert(view(r1).keySet == firstHalf.map(_._1).toSet,
      "first micro-batch must score exactly its own docs")
    assert(view(r1 ++ r2) == batch,
      "streamed scoring diverged from the batch lmScore path")
    Caches.releaseAll(spark)
  }
}
