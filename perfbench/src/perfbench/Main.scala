package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one operation hands back: its work items and the
  * answer recall its check measured. */
final case class Checked(items: Long, recall: Double)

/** A workload: set-up, then a closed loop of operations. `op` is the
  * timed part and returns the program's output; `check` compares it
  * with the independently computed answer, untimed, and throws
  * [[CheckFailed]] on a mismatch. `traceOp` runs only in traced mode,
  * untimed, and returns the layer values of op `i`; `setupLayers` are
  * the layer values read once in set-up. Untimed warm-up runs at
  * least `warmupOps` operations and at least `warmupSeconds` of them,
  * so that JIT compilation of the hot path is over before the timed
  * operations start. */
trait Workload {
  type Out
  def setup(): Unit
  def op(i: Int): Out
  def check(i: Int, out: Out): Checked
  def traceOp(i: Int, out: Out): Map[String, Double] = Map.empty
  def setupLayers: Map[String, Double] = Map.empty
  def warmupOps: Int
  def warmupSeconds: Int
  /** Percentile reported as op_tail_ms, fixed per workload; a run holds
    * too few operations for a percentile with ten beyond it. */
  def tailPct: Int
  def close(): Unit
}

final class CheckFailed(msg: String) extends Exception(msg)

object Main {

  val PerLayer: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.driver_gap_ms_per_op", "spark.tasks_per_op",
    "spark.executor_cpu_ms_per_op", "spark.shuffle_bytes_per_op", "spark.spill_bytes_per_op",
    "spark.peak_exec_mb", "jvm.gc_ms_per_op", "jvm.heap_after_gc_mb",
    "stream.ReviewStateMachine.trigger_ms", "stream.ReviewStateMachine.add_batch_ms",
    "stream.ReviewStateMachine.commit_ms", "stream.ReviewStateMachine.planning_ms",
    "stream.ReviewStateMachine.state_update_ms", "stream.ReviewStateMachine.state_commit_ms",
    "stream.ReviewStateMachine.state_rows", "ops.ReviewGate.status_ms",
    "ops.ReviewGate.label_ops_per_event", "ops.Owners.requirements_ms",
    "io.CorpusIO.scan_ms", "io.CorpusIO.files_per_op", "ops.DepGraph.raw_ms",
    "ops.DepGraph.flatten_ms", "ops.DepGraph.call_sites_per_op", "ops.DepGraph.edges_per_op",
    "ops.Owners.facilitators_ms", "ops.Owners.pattern_tests_per_op", "ops.Owners.matches_per_op",
    "stream.StreamingIvfSqServe.trigger_ms", "stream.StreamingIvfSqServe.add_batch_ms",
    "stream.StreamingIvfSqServe.seam_ms", "ops.Sq.serve_ms", "ops.Sq.candidates_per_query",
    "ops.Sq.cells_probed_per_query", "functions.registrations_per_op", "ops.Sq.train_ms",
    "ops.Sq.train_jobs", "ops.Sq.encode_ms", "ops.LlmOps.curate_ms",
    "ops.LlmOps.candidate_pairs_per_op", "ops.LlmOps.dup_pairs_per_op",
    "ops.Retrieval.bm25_build_ms", "ops.Caches.cached_mb")

  private def unitOf(name: String): String =
    if (name.endsWith("_ms") || name.endsWith("_ms_per_op")) "ms"
    else if (name.endsWith("_mb")) "MB"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_per_event")) "count/event"
    else if (name.endsWith("_per_query")) "count/query"
    else "count"

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, out: String = "perfbench/out",
                        cores: Int = 4, selfTest: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--self-test" :: t => parse(t, o.copy(selfTest = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      // the program's own bench session: AQE coalesces by size
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try all.forEach(q => Files.deleteIfExists(q)) finally all.close()
    }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args.toList)
    if (o.selfTest) {
      val failures = SelfTest.run()
      failures.foreach(f => println(s"self-test FAILED: $f"))
      println(if (failures.isEmpty) "self-test passed: every checker rejected its wrong answer" else "self-test failed")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val outDir = Paths.get(o.out)
    Files.createDirectories(outDir)
    val work = Files.createTempDirectory(outDir, s"work-${o.workload}-")
    var spark: SparkSession = null
    var exit = 0
    try {
      spark = session(o.cores)
      val tr = new Tracer(spark, o.trace)
      val w: Workload = o.workload match {
        case "review_events" => new ReviewEvents(spark, work, o.seed, tr)
        case "dep_scan" => new DepScan(spark, work, o.seed, tr)
        case "search_serve" => new SearchServe(spark, work, o.seed, tr)
        case "corpus_build" => new CorpusBuild(spark, work, o.seed, tr)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      try {
        val selfFailures = SelfTest.runFor(o.workload)
        selfFailures.foreach(f => println(s"# checker self-test FAILED: $f"))
        val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
        w.setup()
        val inputsS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
        var correct = selfFailures.isEmpty
        def checked(i: Int, out: w.Out): Option[Checked] =
          try Some(w.check(i, out))
          catch {
            case e: CheckFailed =>
              correct = false
              println(s"# op $i: check failed: ${e.getMessage}")
              None
          }
        var i = 0
        val warmEndNs = System.nanoTime() + w.warmupSeconds * 1000000000L
        while (i < w.warmupOps || System.nanoTime() < warmEndNs) { checked(i, w.op(i)); i += 1 }
        val warmOps = i
        val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
        println(f"# setup: session_ready_s=$sessionS%.2f inputs_ready_s=$inputsS%.2f warm_s=$setupS%.2f warm_ops=$warmOps")

        val times = mutable.ArrayBuffer.empty[Double]
        val items = mutable.ArrayBuffer.empty[Long]
        val recalls = mutable.ArrayBuffer.empty[Double]
        val layers = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
        var failed = 0
        var timedNs = 0L
        val budgetNs = o.seconds * 1000000000L
        while (timedNs < budgetNs) {
          tr.op = i
          tr.settle()
          tr.resetPeak()
          val a = tr.snap()
          val t0 = System.nanoTime()
          // an operation that throws or fails its check counts as failed,
          // with no items and recall 0; the loop goes on
          val out =
            try Some(w.op(i))
            catch {
              case NonFatal(e) =>
                if (failed < 5) println(s"# op $i: failed: $e")
                None
            }
          val dt = System.nanoTime() - t0
          val endMs = a.atMs + dt / 1e6
          timedNs += dt
          times += dt / 1e6
          if (o.trace && out.isDefined) {
            tr.settle()
            val b = tr.snap().copy(atMs = endMs)
            tr.opCounters(a, b).foreach { case (k, v) => layers.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
          }
          out.flatMap(checked(i, _)) match {
            case Some(c) => items += c.items; recalls += c.recall
            case None => failed += 1; recalls += 0.0
          }
          if (o.trace && out.isDefined)
            w.traceOp(i, out.get).foreach { case (k, v) => layers.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
          i += 1
        }
        val n = times.length
        val q = math.max(1, n / 4)
        println(f"# workload=${o.workload} seed=${o.seed} ops=$n tail=p${w.tailPct} " +
          f"first_quarter_p50_ms=${median(times.take(q).toSeq)}%.2f last_quarter_p50_ms=${median(times.takeRight(q).toSeq)}%.2f " +
          f"p90_ms=${pct(times.toSeq, 90)}%.2f max_ms=${times.max}%.2f")
        println(s"# ops_ms=${times.map(t => f"$t%.0f").mkString(",")}")
        val metrics: Seq[(String, Double, String)] =
          if (!o.trace) Seq(
            ("setup_s", setupS, "s"),
            ("op_p50_ms", median(times.toSeq), "ms"),
            ("op_tail_ms", pct(times.toSeq, w.tailPct), "ms"),
            ("items_per_s", items.sum / (timedNs / 1e9), "1/s"),
            ("answer_recall", if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length, "ratio"))
          else {
            val setupLayers = w.setupLayers
            // GC pauses are sporadic, so their per-op value is the mean;
            // every other layer value is the median over the operations
            def summary(k: String, xs: Seq[Double]): Double =
              if (k == "jvm.gc_ms_per_op") xs.sum / xs.length else median(xs)
            PerLayer.map { k =>
              val v = setupLayers.getOrElse(k, layers.get(k).map(xs => summary(k, xs.toSeq)).getOrElse(0.0))
              (k, v, unitOf(k))
            }
          }
        if (o.trace) {
          tr.writeSpans(outDir.resolve("trace").resolve(s"${o.workload}-seed${o.seed}.spans.jsonl"))
          println(f"# traced op_p50_ms=${median(times.toSeq)}%.3f")
        }
        val body = metrics.map { case (k, v, u) =>
          val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
          s""""$k": {"value": $num, "unit": "$u"}"""
        }.mkString(", ")
        println(s"""{"correct": $correct, "attempted": $n, "failed": $failed, "metrics": {$body}}""")
      } finally {
        w.close()
        tr.close()
      }
    } catch {
      case e: Throwable =>
        System.err.println("perfbench: run failed")
        e.printStackTrace()
        exit = 1
    } finally {
      if (spark != null) spark.stop()
      deleteTree(work)
    }
    sys.exit(exit)
  }
}
