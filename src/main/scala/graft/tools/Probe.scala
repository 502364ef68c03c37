package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query bench probe on the [[GraftSession]] that [[Bench]] runs
  * on, without paying the full 99-query surface: one [[Bench.warm]]
  * loop (the bench's own warm-up, so a probe reads the same JIT and
  * allocation regime as a graded sample), then per query
  *
  *  - run 1, which builds the query's caches, and a timed run 2 with
  *    a stage listener attached; their min is the bench's graded value;
  *  - run 2's per-stage metrics, one JSON row per stage (task time,
  *    executor CPU time, input/shuffle bytes and rows, spill, peak
  *    task memory): the same
  *    query's table at two scale factors attributes a superlinear
  *    decade to data growth, a shuffle or memory pressure;
  *  - the `InMemoryTableScan` and parquet scan counts of run 2's
  *    plan: a cache scan above a table means run 2 read run 1's cache,
  *    a parquet scan means it rebuilt;
  *  - the generated classes run 2 compiled and the milliseconds spent
  *    compiling them: run 2 repeats run 1's plans, so a nonzero count
  *    names a plan whose generated code changes from run to run (a
  *    literal that moves, say) and that recompiles on every call;
  *  - with `planDir`, run 2's AQE-final executed plan as
  *    `<query>.txt`, the plan that ran rather than a pre-execution
  *    explain.
  *
  * Usage: runMain graft.tools.Probe <q1[,q2,...]> [sfDir] [planDir]
  * (`sfDir` defaults to the bench's own, `SPARK_GRAFT_SF_DIR` or sf0.1) */
object Probe {

  /** One query's probe: `stages` holds run 2's per-stage JSON rows,
    * slowest first, and `plan` its formatted AQE-final plan. */
  final case class Report(query: String, run1: Double, run2: Double, stages: Seq[String],
                          cacheScans: Int, parquetScans: Int, compiles: Long, compileMs: Double,
                          plan: String) {
    def lines: Seq[String] =
      f"[probe] $query run1=$run1%.3f run2=$run2%.3f min=${math.min(run1, run2)}%.3f" +:
        s"[probe] $query run2 plan: InMemoryTableScan=$cacheScans parquetScan=$parquetScans" +:
        f"[probe] $query run2 codegen: compiles=$compiles compile_ms=$compileMs%.1f" +:
        stages.map(j => s"[probe] $query $j")
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq).getOrElse(
      sys.error("usage: Probe <q1[,q2,...]> [sfDir] [planDir]"))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = args.lift(1).getOrElse(Bench.sfDir)
    val spark = GraftSession()
    try {
      println(f"[probe] warm=${Bench.warm(spark, Bench.warmDir)}%.1f sf=$sfDir")
      names.foreach(n => probe(spark, n, sfDir, args.lift(2)).lines.foreach(println))
    } finally spark.stop()
  }

  /** Probe `name` at `sfDir` on a warmed `spark`, writing the plan
    * under `planDir` when given; the query's caches are released
    * after. */
  def probe(spark: SparkSession, name: String, sfDir: String, planDir: Option[String]): Report =
    probeRuns(spark, name, planDir)(SparkEntry.queries(name)(spark, sfDir))

  /** [[probe]] over the plan `query` builds, once per run. */
  private[graft] def probeRuns(spark: SparkSession, name: String, planDir: Option[String])
                              (query: => DataFrame): Report = {
    val run1 = Bench.timed(query)
    val stages = new ConcurrentLinkedQueue[(Long, String)]()
    val drained = new CountDownLatch(1)
    val marker = "graft.probe.marker"
    // stage and query events share the listener bus's queue, so once
    // the marker job's end arrives every run-2 event has been seen
    val onStages = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (markerJob < 0) {
        val (i, m) = (sc.stageInfo, sc.stageInfo.taskMetrics)
        def mb(b: Long) = b / 1048576
        stages.add(m.executorRunTime ->
          (s"""{"stage":${i.stageId},"name":"${i.name.takeWhile(_ != '\n').take(80).replace("\"", "'")}",""" +
            s""""tasks":${i.numTasks},"run_ms":${m.executorRunTime},""" +
            s""""cpu_ms":${m.executorCpuTime / 1000000},""" +
            s""""in_mb":${mb(m.inputMetrics.bytesRead)},"in_rows":${m.inputMetrics.recordsRead},""" +
            s""""sh_read_mb":${mb(m.shuffleReadMetrics.totalBytesRead)},"sh_read_rows":${m.shuffleReadMetrics.recordsRead},""" +
            s""""sh_write_mb":${mb(m.shuffleWriteMetrics.bytesWritten)},"sh_write_rows":${m.shuffleWriteMetrics.recordsWritten},""" +
            s""""spill_mem_mb":${mb(m.memoryBytesSpilled)},"spill_disk_mb":${mb(m.diskBytesSpilled)},""" +
            s""""peak_exec_mb":${mb(m.peakExecutionMemory)}}"""))
      }
    }
    // the last query execution of run 2 is its noop write
    val lastRun = new AtomicReference[QueryExecution]()
    val onQueries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lastRun.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(onStages)
    spark.listenerManager.register(onQueries)
    // (classes compiled, compile ns) so far in this JVM
    def codegen = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val (compiles0, compileNs0) = codegen
    val (run2, compiles, compileNs) = try {
      val sec = Bench.timed(query)
      val (compiles1, compileNs1) = codegen
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      require(drained.await(60, TimeUnit.SECONDS), "the listener bus did not drain")
      (sec, compiles1 - compiles0, compileNs1 - compileNs0)
    } finally {
      spark.listenerManager.unregister(onQueries)
      sc.removeSparkListener(onStages)
      graft.ops.Caches.releaseAll(spark)
    }
    val qe = Option(lastRun.get).getOrElse(sys.error(s"$name: run 2 reported no query execution"))
    val plan = qe.explainString(FormattedMode)
    planDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.writeString(Paths.get(d, s"$name.txt"), plan)
    }
    Report(name, run1, run2, stages.asScala.toSeq.sortBy(-_._1).map(_._2),
      Aqe.collect(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size,
      Aqe.collect(qe.executedPlan) { case s: FileSourceScanExec => s }.size,
      compiles, compileNs / 1e6, plan)
  }
}
