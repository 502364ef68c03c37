package graft

import graft.ops.{LlmOps, Sampling, Tables}
import org.apache.spark.sql.functions._

/** The README's "Using as a library" snippet, executed — a docs-rot
  * gate in the spirit of DriverContractSpec's SURVEY §8.2 check: if a
  * rename breaks the front-page example, this fails instead of the
  * first user's copy-paste. Mirrors the snippet's composition exactly
  * (curate → semi-join → split → pack) on the smallest fixture and
  * asserts the shapes a reader would observe. */
class ReadmeExampleSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  test("the library-usage pipeline from the README runs end-to-end") {
    assume(new java.io.File(SfDir).isDirectory, "testdata not present")
    val docs = Tables.documents(spark, SfDir)
    val kept = LlmOps.curateCorpus(spark, SfDir).filter(col("keep"))
    val curated = docs.join(kept.select("doc_id"), Seq("doc_id"))
    val train = Sampling.hashSplitDocs(curated).filter(col("split") === "train")
    val packed = Sampling.packSequencesDocs(train)
    val nDocs = docs.count()
    val nKept = curated.count()
    val nTrain = train.count()
    val nPacked = packed.count()
    graft.ops.Caches.releaseAll(spark)
    assert(nKept > 0 && nKept < nDocs, s"curation vacuous: $nKept of $nDocs")
    assert(nTrain > 0 && nTrain < nKept, s"split vacuous: $nTrain of $nKept")
    assert(nPacked > 0, "packing produced nothing")
  }

  test("the README's SQL example (simhash60 via the extension) runs as written") {
    assume(new java.io.File(SfDir).isDirectory, "testdata not present")
    // the README injects via spark.sql.extensions; this is its
    // programmatic equivalent on the suite's live context
    withExtensionSession { ext =>
      Tables.documents(ext, SfDir).createOrReplaceTempView("documents")
      val rows = ext.sql(
        """SELECT doc_id,
           simhash60(filter(split(text, ' '), x -> length(x) > 0)) AS simhash
           FROM documents
           WHERE size(filter(split(text, ' '), x -> length(x) > 0)) > 0""").count()
      assert(rows > 0, "the README SQL returned no rows")
    }
  }
}
