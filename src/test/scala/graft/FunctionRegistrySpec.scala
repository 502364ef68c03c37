package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.{Caches, Embeddings, LlmOps, Pq, Retrieval, Sq, Tables, TextOps}
import graft.stream.StreamingIvfSqServe
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The operators build their custom expressions as typed Columns, so
  * running them — and serving a stream of queries against several
  * quantizers, as a long-running service that reloads its artifacts
  * does — leaves the session's function registry exactly as it was:
  * no entry added, none replaced. */
class FunctionRegistrySpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  /** Run `f` and count the WARN events Spark's function registry logs
    * when a registration replaces an existing entry. */
  private def countReplacements(f: => Unit): Int = {
    val n = new AtomicInteger
    val appender = new AbstractAppender("registry-replacements", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (String.valueOf(e.getMessage.getFormattedMessage)
            .contains("replaced a previously registered function")) n.incrementAndGet()
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try f finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    n.get
  }

  test("serving three quantizers and running every custom-expression family leaves the registry unchanged") {
    assume(new java.io.File(SfDir).isDirectory, "testdata not present")
    val s = spark
    import s.implicits._
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().size

    val queryVecs = Tables.embeddings(spark, SfDir)
      .filter($"vec_id" % 200 === 0)
      .select($"vec_id".as("q_id"), $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    assert(queryVecs.nonEmpty)

    val replaced = countReplacements {
      for (nCells <- Seq(3, 5, 8)) {
        val (cents, mins, maxs) = Sq.trainIvfSq8(spark, SfDir, nCells = nCells, iters = 2)
        val root = Files.createTempDirectory("registry").toString
        Embeddings.saveQuantizer(spark, cents, s"$root/quantizer")
        Sq.saveBounds(spark, mins, maxs, s"$root/bounds")
        val (r1, r2) = streamInHalves(queryVecs, queryVecs, "q_id", "embedding")(
          StreamingIvfSqServe.run(spark, _, SfDir, s"$root/quantizer", s"$root/bounds", _)(_))
        assert(r1.size + r2.size > 0, s"the $nCells-cell serve returned nothing")
        Caches.releaseAll(spark)
      }
      // one batch operator per family that used to register a session
      // function: text stats, shingles, BM25 term counts, PQ cells
      assert(TextOps.textStats(spark, SfDir).count() > 0)
      assert(LlmOps.shingles(Tables.documents(spark, SfDir)).count() > 0)
      assert(Retrieval.bm25TopKDocs(spark, SfDir).count() > 0)
      assert(Pq.pqTopK(spark, SfDir, iters = 2).count() > 0)
      Caches.releaseAll(spark)
    }

    assert(replaced == 0, s"$replaced registrations replaced an existing function")
    assert(registry.listFunction().size == before, "the function registry changed size")
  }
}
