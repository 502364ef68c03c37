package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One traced interval: a call from the benchmark into a layer. */
final case class Span(name: String, startMs: Double, endMs: Double, parent: Int, op: Int) {
  def ms: Double = endMs - startMs
}

/** Spans and counters of a run. The untraced form records nothing but
  * still runs the wrapped code, so the timed path of both modes is the
  * same code. Spans are kept in memory and written when the run ends.
  *
  * Counts come from three sources, read at the same boundaries as the
  * spans: a [[SparkListener]] (jobs, tasks, executor CPU, shuffle,
  * spill, peak execution memory), a [[StreamingQueryListener]]
  * (progress durations and state operators) and observed metrics on
  * DataFrames the benchmark holds ([[rows]]). */
class Tracer(val spark: SparkSession, val enabled: Boolean) {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.getOrElse(-1)
      val idx = spans.length
      spans += Span(name, nowMs, Double.NaN, parent, op)
      stack = idx :: stack
      try f
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endMs = nowMs)
      }
    }

  /** Duration of the last span with this name in the current op. */
  def lastMs(name: String): Double =
    spans.reverseIterator.find(s => s.name == name && s.op == op).map(_.ms).getOrElse(0.0)

  // ---- SparkListener counters -------------------------------------
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val peakExec = new AtomicLong
  @volatile private var lastEventNs = System.nanoTime()
  private val jobTimes = mutable.Map.empty[Int, (Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobTimes.synchronized(jobTimes(e.jobId) = (e.time, Long.MaxValue))
      jobsStarted.incrementAndGet(); lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobTimes.synchronized(jobTimes.get(e.jobId).foreach(t => jobTimes(e.jobId) = (t._1, e.time)))
      jobsEnded.incrementAndGet(); lastEventNs = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExec.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
      }
      lastEventNs = System.nanoTime()
    }
  }

  // ---- StreamingQueryListener progress ----------------------------
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  // ---- temp-function registrations, counted from outside the program
  private val replaced = new AtomicLong
  private val appender = new AbstractAppender("perfbench-registrations", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (String.valueOf(e.getMessage.getFormattedMessage).contains("replaced a previously registered function"))
        replaced.incrementAndGet()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  def registrations: Long =
    replaced.get() + spark.sessionState.functionRegistry.listFunction().size

  /** Wait until the listener bus has delivered every event of the work
    * done so far (all started jobs ended, then a quiet period). */
  def settle(): Unit = if (enabled) {
    val limit = System.nanoTime() + 3000000000L
    while (System.nanoTime() < limit &&
           (jobsEnded.get() < jobsStarted.get() || System.nanoTime() - lastEventNs < 30000000L))
      Thread.sleep(2)
  }

  /** The progress events of micro-batch `batchId` of `queryId`, once reported. */
  def progressOf(queryId: java.util.UUID, batchId: Long): Seq[StreamingQueryProgress] = {
    val limit = System.nanoTime() + 3000000000L
    def got = progress.synchronized(progress.filter(p => p.id == queryId && p.batchId == batchId).toList)
    while (System.nanoTime() < limit && got.isEmpty) Thread.sleep(2)
    got
  }

  /** A snapshot of every counter, to be differenced around an op. */
  final case class Snap(atMs: Double, jobs: Long, tasks: Long, cpuNs: Long, shuffle: Long,
                        spill: Long, gcMs: Long, regs: Long)
  def resetPeak(): Unit = peakExec.set(0)
  def snap(): Snap =
    Snap(nowMs, jobsStarted.get(), tasks.get(), cpuNs.get(), shuffleBytes.get(), spillBytes.get(),
      gcMs, if (enabled) registrations else 0L)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0

  /** Jobs whose start falls inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Double, toMs: Double): Int =
    jobTimes.synchronized(jobTimes.values.count { case (s, _) => s >= fromMs - 1 && s <= toMs + 1 })

  /** Op wall time not covered by any running job. */
  private def uncoveredMs(fromMs: Double, toMs: Double): Double = {
    val iv = jobTimes.synchronized(jobTimes.values.toList)
      .map { case (s, e) => (math.max(s.toDouble, fromMs), math.min(e.toDouble, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    (toMs - fromMs) - covered
  }

  /** The Spark and JVM per-layer values of one op between two snapshots. */
  def opCounters(a: Snap, b: Snap): Map[String, Double] = Map(
    "spark.jobs_per_op" -> (b.jobs - a.jobs).toDouble,
    "spark.driver_gap_ms_per_op" -> uncoveredMs(a.atMs, b.atMs),
    "spark.tasks_per_op" -> (b.tasks - a.tasks).toDouble,
    "spark.executor_cpu_ms_per_op" -> (b.cpuNs - a.cpuNs) / 1e6,
    "spark.shuffle_bytes_per_op" -> (b.shuffle - a.shuffle).toDouble,
    "spark.spill_bytes_per_op" -> (b.spill - a.spill).toDouble,
    "spark.peak_exec_mb" -> peakExec.get() / 1048576.0,
    "jvm.gc_ms_per_op" -> (b.gcMs - a.gcMs).toDouble,
    "jvm.heap_after_gc_mb" -> heapAfterGcMb,
    "functions.registrations_per_op" -> (b.regs - a.regs).toDouble)

  /** Materialise `df` through the noop sink; returns (ms, rows), the
    * row count read from an observed metric of the executed plan. */
  def rows(df: DataFrame): (Double, Long) = {
    val obs = Observation()
    val t0 = System.nanoTime()
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    val ms = (System.nanoTime() - t0) / 1e6
    (ms, obs.get("rows").asInstanceOf[Long])
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.iterator.zipWithIndex.map { case (s, i) =>
      f"""{"id": $i, "name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "parent": ${s.parent}, "op": ${s.op}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(path, lines)
    ()
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }
}
