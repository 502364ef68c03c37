package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{LlmOps, Sampling, Tables}

/** The "user could switch" story executed end-to-end THROUGH DISK:
  * curate → filter survivors → deterministic split → sequence packing
  * → partitioned export → read-back — every module seam a real
  * training-data pipeline crosses, certified in one run. The
  * intra-stage semantics are each pinned by their own spec/oracle;
  * this spec certifies the COMPOSITION: column contracts line up,
  * the export round-trips, and the determinism guarantees survive
  * the full chain. */
class PipelineE2ESpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  test("curate → split → pack → partitioned write → read-back round-trips") {
    assume(new java.io.File(SfDir).isDirectory, "testdata not present")
    val out = Files.createTempDirectory("pipeline-e2e").toString

    // 1. curation drop-list over the corpus (exact + near dedup + quality)
    val verdicts = LlmOps.curateCorpus(spark, SfDir)
    val kept = verdicts.filter(col("keep")).select("doc_id")
    val docs = Tables.documents(spark, SfDir)
    val curated = docs.join(kept, Seq("doc_id"))
    val nCurated = curated.count()
    assert(nCurated > 0 && nCurated < docs.count(),
      "curation must keep a strict non-empty subset")

    // 2. deterministic split rides along as a column
    val split = Sampling.hashSplitDocs(curated)
    val train = split.filter(col("split") === "train")

    // 3. pack the training subset into context windows
    val packed = Sampling.packSequencesDocs(train)
    assert(packed.count() == train.count(), "packing emits one row per doc")

    // 4. partitioned export of the packed table joined back to its split
    val `export` = packed.join(split.select("doc_id", "split", "source"), Seq("doc_id"))
    `export`.write.mode("overwrite").partitionBy("split", "source").parquet(s"$out/packed")
    val back = spark.read.parquet(s"$out/packed")

    // round-trip: identical row set (partition columns read back as strings)
    val sentCols = `export`.columns.sorted.toIndexedSeq
    assert(back.columns.sorted.toSeq == sentCols.toSeq)
    val sent = `export`.select(sentCols.map(col): _*).collect().map(_.toString).sorted
    val got = back.select(sentCols.map(col): _*)
      .collect().map(_.toString).sorted
    assert(got.length == sent.length && got.sameElements(sent),
      "partitioned export must round-trip the packed table exactly")

    // 5. the determinism contracts survive the chain: re-running the whole
    // pipeline yields byte-identical pack assignments
    val packed2 = Sampling.packSequencesDocs(
      Sampling.hashSplitDocs(docs.join(
        LlmOps.curateCorpus(spark, SfDir).filter(col("keep")).select("doc_id"),
        Seq("doc_id"))).filter(col("split") === "train"))
    val a = packed.collect().map(_.toString).sorted
    val b = packed2.collect().map(_.toString).sorted
    assert(a.sameElements(b), "pipeline re-run must reproduce identical packing")

    // 6. partition pruning works on the export layout: reading one split
    // touches only its directories
    val trainOnly = back.filter(col("split") === "train")
    assert(trainOnly.count() == export.filter(col("split") === "train").count())
    graft.ops.Caches.releaseAll(spark)
  }
}
