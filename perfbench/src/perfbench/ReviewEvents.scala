package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.io.CorpusIO
import graft.ops.{DepGraph, Owners}
import graft.stream.{ReviewEvent, ReviewStateMachine}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Plain-Scala replay of the reference's review rules: the latest
  * review per user by `seq` (a stale re-delivery changes nothing); a
  * stage passes when every required team has an approving member, and
  * passes vacuously when no team is required; labels follow the stage
  * verdicts, so a rollback removes its label; reviewer requests are
  * add-only. Only PRs whose review state changed are re-evaluated. */
final class ReviewReplay(required: Map[(Long, String), Set[String]],
                         members: Map[String, Set[String]]) {
  val Stages = Seq("codeowners", "facilitators", "tech")
  val state = mutable.Map.empty[Long, Map[String, (String, Long)]]
  val labels = mutable.Set.empty[(Long, String)]
  val requests = mutable.Set.empty[(Long, String)]
  var lastTouched: Seq[Long] = Nil

  def approvers(pr: Long): Set[String] =
    state.getOrElse(pr, Map.empty).collect { case (u, (s, _)) if s.toUpperCase == "APPROVED" => u }.toSet

  def passes(pr: Long, stage: String): Boolean = {
    val ap = approvers(pr)
    required.getOrElse((pr, stage), Set.empty).forall(t => members.getOrElse(t, Set.empty).exists(ap))
  }

  def apply(batch: Seq[ReviewEvent]): Unit = {
    val touched = mutable.ArrayBuffer.empty[Long]
    batch.groupBy(_.pr).foreach { case (pr, evs) =>
      val cur = state.get(pr)
      val next = evs.sortBy(_.seq).foldLeft(cur.getOrElse(Map.empty[String, (String, Long)])) { (st, e) =>
        st.get(e.user) match {
          case Some((_, s)) if s >= e.seq => st
          case _ => st.updated(e.user, (e.state, e.seq))
        }
      }
      if (!cur.contains(next)) { state(pr) = next; touched += pr }
    }
    touched.foreach { pr =>
      val ok = Stages.map(s => s -> passes(pr, s)).toMap
      Stages.foreach { s =>
        if (ok(s)) labels += ((pr, s"$s-approved")) else labels -= ((pr, s"$s-approved"))
      }
      if (ok("codeowners") && !ok("facilitators")) requests += ((pr, "facilitators"))
      if (ok("codeowners") && ok("facilitators") && !ok("tech")) requests += ((pr, "tech-team"))
    }
    lastTouched = touched.toSeq.sorted
  }
}

object ReviewCheck {
  def compare(what: String, got: Set[(Long, String)], want: Set[(Long, String)]): Unit =
    if (got != want)
      throw new CheckFailed(s"$what: missing ${(want -- got).take(3)} extra ${(got -- want).take(3)}")
}

/** The review set-up shared by the generator and the workload: owners
  * files, a CODEFACILITATORS made by the dependency scan, PR file
  * lists, team membership and the expected stage requirements. */
final class ReviewWorld(seed: Long) {
  private val rng = new SplittableRandom(seed ^ 0x7e7e7eL)
  val repo = new SqlRepo(seed, nFunctions = 20, nConsumers = 80, nPlain = 3200)
  val codeowners: Seq[(String, Seq[String])] = Seq(
    "deployer/patch/DWH/kimball/*.sql" -> Seq("@co_core"),
    "superset/datasets/kimball/*/*.sql" -> Seq("@co_bi"),
    "replicator/source/*.sql" -> Seq("@co_repl", "@co_core"))
  val codetechteam: Seq[(String, Seq[String])] = Seq("*" -> Seq("@tech"))
  def ownersText(rows: Seq[(String, Seq[String])]): String =
    "# owners\n\n" + rows.map { case (p, ts) => s"$p ${ts.mkString(" ")}" }.mkString("\n") + "\n"

  /** Code owners of one file, by construction of the layout above. */
  private def codeownersOf(file: String): Set[String] =
    if (file.startsWith("deployer/patch/DWH/kimball/")) Set("co_core")
    else if (file.startsWith("superset/datasets/kimball/")) Set("co_bi")
    else if (file.startsWith("replicator/source/")) Set("co_repl", "co_core")
    else Set.empty

  val prs: Seq[Long] = (101L to 140L)
  val prFiles: Map[Long, Seq[String]] = {
    val defs = repo.functions.map(repo.defPathOf)
    val cons = repo.consumers.keys.toIndexedSeq.sorted
    prs.map { pr =>
      if (pr == prs.last) pr -> Seq.empty[String] // a PR with no files
      else pr -> Seq.fill(1 + rng.nextInt(3)) {
        rng.nextInt(4) match {
          case 0 | 1 => defs(rng.nextInt(defs.length))
          case 2 => cons(rng.nextInt(cons.length))
          case _ => s"docs/guide_${rng.nextInt(5)}.md"
        }
      }.distinct.sorted
    }.toMap
  }

  /** Stage requirements from the model: codeowners by layout, the
    * facilitator teams of each touched function definition, and the
    * bare-`*` tech team on every PR (zero-file PRs too). */
  val required: Map[(Long, String), Set[String]] = {
    val facs = repo.expectedFacilitators.values.map { case (path, teams) => path -> teams.map(_.stripPrefix("@")).toSet }.toMap
    prs.flatMap { pr =>
      val files = prFiles(pr)
      Seq((pr, "codeowners") -> files.flatMap(codeownersOf).toSet,
        (pr, "facilitators") -> files.flatMap(f => facs.getOrElse(f, Set.empty[String])).toSet,
        (pr, "tech") -> Set("tech"))
    }.toMap
  }

  val users: IndexedSeq[String] = (1 to 24).map(i => f"u$i%02d")
  val teams: Seq[String] = Seq("co_core", "co_bi", "co_repl", "fac_mart0", "fac_mart1", "fac_mart2",
    "fac_core", "fac_repl", "fac_dwh", "tech")
  val members: Map[String, Set[String]] =
    teams.map(t => t -> Seq.fill(2 + rng.nextInt(2))(users(rng.nextInt(users.length))).toSet).toMap

  /** Seeded micro-batches: approvals, change requests, comments, stale
    * re-deliveries of earlier events and rollbacks of approvals, in a
    * shuffled delivery order. Reviewers are mostly members of a team
    * the PR needs, so stages do pass and fail. */
  final class Events(batchSize: Int, replay: ReviewReplay) {
    private var seq = 0L
    private val history = mutable.ArrayBuffer.empty[ReviewEvent]
    private def fresh(pr: Long, user: String, state: String): ReviewEvent = {
      seq += 1; ReviewEvent(pr, user, state, seq)
    }
    def batch(b: Int): Seq[ReviewEvent] = {
      val r = new SplittableRandom(seed * 7919L + b)
      val out = (0 until batchSize).map { _ =>
        val x = r.nextInt(100)
        if (x < 15 && history.nonEmpty) history(r.nextInt(history.length))
        else {
          val approved = replay.state.toSeq.flatMap { case (pr, m) =>
            m.collect { case (u, (s, _)) if s == "APPROVED" => (pr, u) } }.sorted
          if (x < 25 && approved.nonEmpty) {
            val (pr, u) = approved(r.nextInt(approved.length))
            fresh(pr, u, "CHANGES_REQUESTED")
          } else {
            val pr = prs(r.nextInt(prs.length))
            val need = Seq("codeowners", "facilitators", "tech").flatMap(s => required((pr, s))).distinct.sorted
            val user =
              if (need.nonEmpty && r.nextInt(10) < 7) {
                val ms = members(need(r.nextInt(need.length))).toSeq.sorted
                ms(r.nextInt(ms.length))
              } else users(r.nextInt(users.length))
            val st = r.nextInt(20) match {
              case n if n < 12 => "APPROVED"
              case n if n < 15 => "CHANGES_REQUESTED"
              case _ => "COMMENTED"
            }
            fresh(pr, user, st)
          }
        }
      }
      history ++= out
      val arr = out.toArray
      for (i <- arr.indices.reverse) { val j = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t }
      arr.toSeq
    }
  }
}

/** `review_events`: one micro-batch of seeded review events through
  * ReviewStateMachine.run, its label and reviewer deltas applied to
  * the label stores. Stage requirements come from
  * Owners.stageRequirements in set-up, over generated owners files and
  * a CODEFACILITATORS made by the dependency scan. */
final class ReviewEvents(spark: SparkSession, work: Path, seed: Long, tr: Tracer) extends Workload {
  type Out = (Set[(Long, String)], Set[(Long, String)])
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val BatchSize = 50
  val warmupOps = 4
  val warmupSeconds = 8
  val tailPct = 75
  private val world = new ReviewWorld(seed)
  private val replay = new ReviewReplay(world.required, world.members)
  private val gen = new world.Events(BatchSize, replay)
  private val events = MemoryStream[ReviewEvent]
  private val store = new ReviewStateMachine.LabelStore
  private val requests = new ReviewStateMachine.LabelStore
  private var query: StreamingQuery = _
  private var req: (DataFrame, DataFrame, DataFrame) = _
  private var membership: DataFrame = _
  private var requirementsMs = 0.0
  private var scanLayers = Map.empty[String, Double]
  private var setupProblem: Option[String] = None
  private var batches = 0L
  private var prevLabels = Set.empty[(Long, String)]
  private var labelOps = 0
  private var lastBatch: Seq[ReviewEvent] = Nil

  private def write(name: String, text: String): String = {
    val p = work.resolve(name); Files.writeString(p, text); p.toString
  }

  def setup(): Unit = {
    val root = work.resolve("repo")
    world.repo.materialize(root)
    val martowners = write("MARTOWNERS", world.repo.ownersText)
    // E1 + E2: the dependency scan writes CODEFACILITATORS
    val flat = DepGraph.flattenedDependencies(DepGraph.rawDependencies(CorpusIO.corpus(spark, root.toString)))
    val facs = Owners.facilitators(flat, Owners.parseOwners(spark.read.text(martowners)))
    val codefac = write("CODEFACILITATORS", CorpusIO.facilitatorsText(facs))
    // the scan runs only here, so its layers are read here
    if (tr.enabled) scanLayers = DepScanLayers.probe(spark, root.toString, martowners, tr)
    val codeowners = write("CODEOWNERS", world.ownersText(world.codeowners))
    val tech = write("CODETECHTEAM", world.ownersText(world.codetechteam))
    val prFiles = world.prFiles.toSeq.flatMap { case (pr, fs) => fs.map(f => (pr, f)) }.toDF("pr", "file")
    val prs = world.prs.toDF("pr")
    val t0 = tr.nowMs
    val rows = tr.span("ops.Owners.stageRequirements") {
      val (a, b, c) = Owners.stageRequirements(prFiles, spark.read.text(codeowners), spark.read.text(codefac),
        spark.read.text(tech), Some(prs))
      Seq(a, b, c).map(_.as[(Long, String)].collect().toSeq)
    }
    requirementsMs = tr.nowMs - t0
    Seq("codeowners", "facilitators", "tech").zip(rows).foreach { case (stage, got) =>
      val want = world.prs.flatMap(pr => world.required((pr, stage)).map(t => (pr, t))).toSet
      if (got.toSet != want) setupProblem = Some(s"$stage requirements differ from the model: " +
        s"missing ${(want -- got).take(3)} extra ${(got.toSet -- want).take(3)}")
    }
    req = (rows(0).toDF("pr", "team"), rows(1).toDF("pr", "team"), rows(2).toDF("pr", "team"))
    membership = world.members.toSeq.flatMap { case (t, us) => us.map(u => (t, u)) }.toDF("team", "user")
    query = ReviewStateMachine.run(events.toDS(), req._1, req._2, req._3, membership, store,
      work.resolve("checkpoint").toString, requests)
  }

  override def setupLayers: Map[String, Double] = scanLayers + ("ops.Owners.requirements_ms" -> requirementsMs)

  def op(i: Int): Out = {
    val batch = gen.batch(i)
    lastBatch = batch
    tr.span("stream.ReviewStateMachine.batch") {
      events.addData(batch)
      query.processAllAvailable()
    }
    batches += 1
    (store.current, requests.current)
  }

  def check(i: Int, out: Out): Checked = {
    setupProblem.foreach(p => throw new CheckFailed(p))
    replay(lastBatch)
    ReviewCheck.compare("labels", out._1, replay.labels.toSet)
    ReviewCheck.compare("reviewer requests", out._2, replay.requests.toSet)
    labelOps = (out._1 -- prevLabels).size + (prevLabels -- out._1).size
    prevLabels = out._1
    Checked(lastBatch.length, 1.0)
  }

  override def traceOp(i: Int, out: Out): Map[String, Double] = {
    val ps = tr.progressOf(query.id, batches - 1)
    def dur(k: String): Double = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val sops = ps.flatMap(_.stateOperators.headOption)
    val updates = replay.lastTouched.map(pr => (pr, replay.approvers(pr).toSeq.sorted, replay.state(pr).size))
      .toDF("pr", "approvers", "nReviews")
    val (statusMs, _) = tr.rows(ReviewStateMachine.fullStatus(updates, req._1, req._2, req._3, membership))
    Map(
      "stream.ReviewStateMachine.trigger_ms" -> dur("triggerExecution"),
      "stream.ReviewStateMachine.add_batch_ms" -> dur("addBatch"),
      "stream.ReviewStateMachine.commit_ms" -> dur("commitOffsets"),
      "stream.ReviewStateMachine.planning_ms" -> dur("queryPlanning"),
      "stream.ReviewStateMachine.state_update_ms" -> sops.map(_.allUpdatesTimeMs.toDouble).sum,
      "stream.ReviewStateMachine.state_commit_ms" -> sops.map(_.commitTimeMs.toDouble).sum,
      "stream.ReviewStateMachine.state_rows" -> sops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "ops.ReviewGate.status_ms" -> statusMs,
      "ops.ReviewGate.label_ops_per_event" -> labelOps.toDouble / BatchSize)
  }

  def close(): Unit = if (query != null) { query.stop(); query.awaitTermination(10000); () }
}
