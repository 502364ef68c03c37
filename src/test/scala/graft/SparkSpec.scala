package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import graft.ops.{Caches, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ArrayTransform
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's default forked test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Run `f` on a fresh session built with [[GraftExtensions]] over
    * the shared SparkContext. The injection goes through
    * `builder.withExtensions`, the seam the
    * `spark.sql.extensions=graft.GraftExtensions` config drives; that
    * config is a STATIC conf pinned at SparkContext creation, so only
    * the builder API is testable in-JVM. The shared session stays the
    * active/default one for every later suite; the context is not
    * stopped (it is shared). */
  def withExtensionSession[T](f: SparkSession => T): T = {
    val base = spark
    // clearing the handles makes getOrCreate construct a session
    // instead of returning `base`
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    try {
      assert(ext ne base, "getOrCreate returned the existing session — extensions never applied")
      f(ext)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** Feed `first`, then `second`, through a MemoryStream with columns
    * `cols`, one `processAllAvailable` each, into the query `start`
    * builds from (stream, fresh checkpoint dir, collecting sink); stop
    * it and return the rows the sink got for each half. */
  def streamInHalves[A: Encoder](first: Seq[A], second: Seq[A], cols: String*)
      (start: (DataFrame, String, DataFrame => Unit) => StreamingQuery): (Seq[Row], Seq[Row]) = {
    val input = MemoryStream[A](implicitly[Encoder[A]], spark.sqlContext)
    val got = collection.mutable.ArrayBuffer.empty[Row]
    val q = start(input.toDF().toDF(cols: _*), Files.createTempDirectory("serve-ckpt").toString,
      got ++= _.collect())
    try {
      input.addData(first)
      q.processAllAvailable()
      val n = got.length
      input.addData(second)
      q.processAllAvailable()
      (got.take(n).toSeq, got.drop(n).toSeq)
    } finally q.stop()
  }

  /** The restart form of [[streamInHalves]]: serve `first` over a
    * parquet FILE source (offsets a checkpoint can replay; a
    * MemoryStream's cannot survive a restart), stop the query, land
    * `second` while it is down, and restart from the SAME checkpoint.
    * Session caches are released after each run, so the restarted
    * query rebuilds its static side from the artifacts alone. */
  def restartInHalves(first: DataFrame, second: DataFrame)
      (start: (DataFrame, String, DataFrame => Unit) => StreamingQuery): (Seq[Row], Seq[Row]) = {
    val src = Files.createTempDirectory("restart-src").toString
    val ckpt = Files.createTempDirectory("restart-ckpt").toString
    def run(half: DataFrame): Seq[Row] = {
      half.write.mode("append").parquet(src)
      val got = collection.mutable.ArrayBuffer.empty[Row]
      val q = start(spark.readStream.schema(first.schema).parquet(src), ckpt, got ++= _.collect())
      try q.processAllAvailable() finally q.stop()
      Caches.releaseAll(spark)
      got.toSeq
    }
    (run(first), run(second))
  }

  /** Spark jobs started per micro-batch of the streaming query
    * `queryId`, read from the job properties every micro-batch job
    * carries. `run` does the work; a marker job afterwards, whose end
    * the listener must see, drains the listener bus. */
  def jobsPerBatch(run: => String): Map[String, Int] = {
    val sc = spark.sparkContext
    val started = mutable.ArrayBuffer.empty[(String, String)]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      private var marker = -1
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("graft.marker") != null) marker = e.jobId
        else if (p != null) started.synchronized {
          started += ((p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId")))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == marker) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val queryId = run
      sc.setLocalProperty("graft.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.marker", null)
      assert(drained.await(60, TimeUnit.SECONDS), "the listener bus did not drain")
      started.synchronized(started.filter(_._1 == queryId).groupBy(_._2).map { case (b, js) => b -> js.size })
    } finally sc.removeSparkListener(listener)
  }

  /** Gate for suites pinned against the EXTERNAL read-only reference
    * tree (golden E2E, verbatim SQL, owners glue): skipped when the
    * tree is absent, or explicitly via GRAFT_SKIP_REF_GOLDEN=1 — the
    * documented escape hatch if that tree ever drifts, so the
    * repo-controlled suite can still run green (ADVICE r4). */
  def refTreeAvailable: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/root/reference")) &&
      !sys.env.get("GRAFT_SKIP_REF_GOLDEN").contains("1")
}

/** The sf0.001 fixture the vector serving specs share: corpus vectors
  * fed back as queries, and the (q_id, rank) → (neighbor_id, est) view
  * in which a serve's streamed and batch results are compared. */
trait VectorServeFixtures { this: SparkSpec =>
  val SfDir = "/root/testdata/sf0.001"

  def assumeTestdata(): Unit =
    assume(new java.io.File(SfDir).isDirectory, "testdata not present")

  /** (q_id, embedding) of the corpus vectors with vec_id % 50 = 0 and
    * vec_id < `cap`, ordered by q_id. */
  def probeVectors(cap: Long = Long.MaxValue): Seq[(Long, Seq[Float])] = {
    val s = spark
    import s.implicits._
    Tables.embeddings(spark, SfDir)
      .filter($"vec_id" % 50 === 0 && $"vec_id" < cap)
      .select($"vec_id".as("q_id"), $"embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
  }

  def byRank(rows: Seq[Row]): Map[(Long, Long), (Long, Long)] = rows.map(r =>
    (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
      (r.getAs[Long]("neighbor_id"), r.getAs[Long]("est"))).toMap

  /** Wrap a serve's `start` so the executed plan of every micro-batch
    * (read after the sink has run it) lands in `plans`. */
  def recordingPlans(plans: collection.mutable.Buffer[SparkPlan])
      (start: (DataFrame, String, DataFrame => Unit) => StreamingQuery)
      : (DataFrame, String, DataFrame => Unit) => StreamingQuery =
    (in, ckpt, sink) => start(in, ckpt, { b => sink(b); plans += b.queryExecution.executedPlan })

  /** A routed SQ8 serve batch reads the cached decoded tier (an
    * `InMemoryTableScan` with `rv`) and never decodes the codes: no
    * `transform` over `codes` anywhere in its executed `plan`. */
  def assertServesDecodedTier(plan: SparkPlan): Unit = {
    object Aqe extends AdaptiveSparkPlanHelper
    val nodes = Aqe.collect(plan) { case p => p }
    val decodes = nodes.flatMap(_.expressions).flatMap(_.collect {
      case t: ArrayTransform if t.references.exists(_.name == "codes") => t
    })
    assert(decodes.isEmpty, s"a serve batch decodes the codes:\n$plan")
    assert(nodes.exists {
      case scan: InMemoryTableScanExec => scan.output.exists(_.name == "rv")
      case _ => false
    }, s"a serve batch does not scan the cached decoded tier:\n$plan")
  }

  /** Stream `queries` in two halves through `start`: the first
    * micro-batch must serve exactly its own queries, and the streamed
    * results must equal `batch` (the `diverged` message otherwise). */
  def assertStreamMatchesBatch(batch: Map[(Long, Long), (Long, Long)],
                               queries: Seq[(Long, Seq[Float])], diverged: String)
      (start: (DataFrame, String, DataFrame => Unit) => StreamingQuery): Unit = {
    val s = spark
    import s.implicits._
    assert(batch.nonEmpty)
    assert(queries.length >= 2, "need at least two queries to split across batches")
    val (h1, h2) = queries.splitAt(queries.length / 2)
    val (r1, r2) = streamInHalves(h1, h2, "q_id", "embedding")(start)
    assert(byRank(r1).keySet.map(_._1) == h1.map(_._1).toSet,
      "first micro-batch must serve exactly its own queries")
    assert(byRank(r1 ++ r2) == batch, diverged)
    Caches.releaseAll(spark)
  }

  /** The restart form of [[assertStreamMatchesBatch]] over
    * [[restartInHalves]]: run 1 serves exactly the first half, the
    * restarted run exactly the half that landed while it was down (no
    * re-emission), and together they equal `batch`. */
  def assertRestartMatchesBatch(batch: Map[(Long, Long), (Long, Long)],
                                queries: Seq[(Long, Seq[Float])])
      (start: (DataFrame, String, DataFrame => Unit) => StreamingQuery): Unit = {
    val s = spark
    import s.implicits._
    val (h1, h2) = queries.splitAt(queries.length / 2)
    val (got1, got2) = restartInHalves(h1.toDF("q_id", "embedding"),
      h2.toDF("q_id", "embedding"))(start)
    assert(byRank(got1).keySet.map(_._1) == h1.map(_._1).toSet,
      "run 1 must serve exactly batch 1's queries")
    assert(byRank(got2).keySet.map(_._1) == h2.map(_._1).toSet,
      s"restart must serve exactly the files that arrived while down — no re-emission of batch 1 " +
        s"(got ${byRank(got2).keySet.map(_._1)})")
    assert(byRank(got1 ++ got2) == batch,
      "restarted serving diverged from the uninterrupted batch path")
  }
}
