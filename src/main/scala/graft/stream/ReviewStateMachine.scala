package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** One review submission (reference event
  * `pull_request_review: submitted`, pr-review-flow.yml:3-5). `seq` is
  * the event-order key (submission sequence / event time): the
  * reference dedups by ARRIVAL order (`Map.set`,
  * pr-review-flow.yml:100-103); keying on `seq` instead makes the
  * result independent of batch boundaries and late delivery — our
  * engine's documented improvement over processing-time semantics. */
case class ReviewEvent(pr: Long, user: String, state: String, seq: Long)

/** Latest retained review per user. */
case class ReviewerLatest(state: String, seq: Long)

/** Keyed state: the per-PR map of latest reviews (the streaming twin
  * of the reference's per-event full recompute). */
case class PrState(reviews: Map[String, ReviewerLatest])

/** Emitted whenever a PR's review state changes: the current approver
  * set after latest-wins dedup + APPROVED filter (W1 + P6). */
case class ApproverUpdate(pr: Long, approvers: Seq[String], nReviews: Int)

/** Streaming review state machine (SURVEY §2.8; reference E3,
  * pr-review-flow.yml:60-227 re-expressed as Structured Streaming).
  *
  * The reference re-runs the whole gate pipeline on every review event
  * on a fresh runner; here `flatMapGroupsWithState` keeps the per-PR
  * latest-review map incremental — one state row per PR, O(events)
  * work per trigger instead of O(history).
  *
  * Semantics vs the reference, deliberately:
  *  - latest-wins per (pr, user) — NOT `dropDuplicates` (which keeps
  *    the FIRST occurrence and would freeze a user's initial verdict);
  *  - rollback works: a later CHANGES_REQUESTED *replaces* a prior
  *    APPROVED and the emitted approver set shrinks, so downstream
  *    labels are removed — fixing the reference's documented
  *    "labels are not restored on review rollback" gap
  *    (README.md:111-123);
  *  - out-of-order and duplicate deliveries are no-ops (stale `seq`
  *    is ignored), so replays are idempotent.
  *
  * Scale: state is keyed by PR and holds one small map per PR —
  * shuffles partition by `pr`, state store grows with open PRs, not
  * with event history.
  */
object ReviewStateMachine {

  /** Per-PR state transition: fold the batch's events in `seq` order,
    * keeping the per-user latest; emit an update only when the state
    * actually changed (downstream sinks see deltas, not heartbeats). */
  def updatePr(pr: Long, events: Iterator[ReviewEvent],
               state: GroupState[PrState]): Iterator[ApproverUpdate] = {
    val cur = state.getOption.getOrElse(PrState(Map.empty))
    val next = events.toSeq.sortBy(_.seq).foldLeft(cur) { (st, ev) =>
      st.reviews.get(ev.user) match {
        case Some(prev) if prev.seq >= ev.seq => st // stale or duplicate delivery
        case _ => PrState(st.reviews.updated(ev.user, ReviewerLatest(ev.state, ev.seq)))
      }
    }
    if (next == cur && state.exists) Iterator.empty
    else {
      state.update(next)
      val approvers = next.reviews.collect {
        case (user, r) if r.state.toUpperCase == "APPROVED" => user
      }.toSeq.sorted
      Iterator.single(ApproverUpdate(pr, approvers, next.reviews.size))
    }
  }

  /** The stateful core: review events → per-PR approver-set updates. */
  def approverUpdates(events: Dataset[ReviewEvent]): Dataset[ApproverUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.pr)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updatePr)
  }

  /** The three review stages, in the order of [[fullStatus]]'s
    * `<stage>_approved` columns and of each PR's [[verdicts]]. */
  private val Stages = Seq("codeowners", "facilitators", "tech")

  /** The K4 labels, one per stage, in [[Stages]] order. */
  private val StageLabels = Stages.map(s => s"$s-approved")

  /** The 3-stage gate (E3 steps c-d) on the driver: for each touched
    * PR, each stage passes when every team it requires has an
    * approving member (the ReviewGate.stageGate rule, J4 + A4/A5).
    * `approvers`: (pr, approving users), one entry per touched PR;
    * `required`: one (pr, team) set per stage, in [[Stages]] order;
    * `membership`: (team, user). Returns (pr, one verdict per stage)
    * in the order of `approvers`.
    *
    * A PR with ZERO required teams for a stage passes that stage
    * vacuously — the reference's `results.every(Boolean)` over an
    * empty team list is `true` (pr-review-flow.yml:190-211), e.g. a
    * docs-only PR whose files match no CODEFACILITATORS pattern needs
    * no facilitator review. */
  private def verdicts(approvers: Seq[(Long, Seq[String])], required: Seq[Seq[(Long, String)]],
                       membership: Seq[(String, String)]): Seq[(Long, Seq[Boolean])] = {
    val teamsOf = membership.groupMap(_._2)(_._1)
    val requiredOf = required.map(_.groupMap(_._1)(_._2))
    approvers.map { case (pr, users) =>
      val approved = users.flatMap(teamsOf.getOrElse(_, Nil)).toSet
      pr -> requiredOf.map(_.getOrElse(pr, Nil).forall(approved))
    }
  }

  /** K4/K5 deltas of [[verdicts]] on the driver, the
    * ReviewGate.labelOps and ReviewGate.reviewerRequests rules. The
    * `<stage>-approved` labels a PR should carry are diffed against
    * `current` (pr, label): a managed label in `current` that no
    * verdict asks for is removed, so `current` must hold the verdicts'
    * PRs only, or untouched PRs would be wiped. A PR whose codeowners
    * stage passed requests `facilitators` until that stage passes,
    * then `tech-team` until tech does. Returns the (pr, op, label)
    * label deltas and the (pr, target) requests. */
  private[graft] def deltas(verdicts: Seq[(Long, Seq[Boolean])], current: Seq[(Long, String)])
      : (Seq[(Long, String, String)], Seq[(Long, String)]) = {
    val desired = verdicts.flatMap { case (pr, ok) =>
      StageLabels.zip(ok).collect { case (label, true) => (pr, label) }
    }.toSet
    val managed = current.filter(c => StageLabels.contains(c._2)).toSet
    val labels = (desired -- managed).toSeq.map { case (pr, l) => (pr, "add", l) } ++
      (managed -- desired).toSeq.map { case (pr, l) => (pr, "remove", l) }
    val requests = verdicts.collect {
      case (pr, Seq(true, false, _)) => (pr, "facilitators")
      case (pr, Seq(true, true, false)) => (pr, "tech-team")
    }
    (labels, requests)
  }

  /** [[verdicts]] of the touched PRs. Each required side (pr: long,
    * team: string) and membership (team, user) is collected as the
    * caller built it, then restricted on the driver to the PRs' rows
    * and, for membership, to their approvers' rows. A Dataset plans
    * once and keeps its plan, so every batch of [[run]] and every
    * [[fullStatus]] call on the same frames only executes it: a
    * local-relation side is a local scan with no job, a file-backed
    * side one small job, and a side whose plan shuffles reads its
    * first execution's shuffle output from then on. */
  private def gate(approvers: Seq[(Long, Seq[String])], required: Seq[DataFrame],
                   membership: DataFrame): Seq[(Long, Seq[Boolean])] = {
    val prs = approvers.map(_._1).toSet
    val users = approvers.flatMap(_._2).toSet
    verdicts(approvers,
      required.map(_.collect().toSeq.map(r => (r.getAs[Long]("pr"), r.getAs[String]("team")))
        .filter(r => prs(r._1))),
      membership.collect().toSeq.map(r => (r.getAs[String]("team"), r.getAs[String]("user")))
        .filter(m => users(m._2)))
  }

  /** Per-batch 3-stage status: [[verdicts]] of the PRs in `updates`
    * (pr, approvers), as a local DataFrame (pr, codeowners_approved,
    * facilitators_approved, tech_approved), one row per touched PR.
    * `required*`: (pr, team); `membership`: (team, user). `updates` is
    * collected, then evaluated by the same driver gate [[run]] applies
    * to each micro-batch. */
  def fullStatus(updates: DataFrame, requiredCodeowners: DataFrame,
                 requiredFacilitators: DataFrame, requiredTech: DataFrame,
                 membership: DataFrame): DataFrame = {
    import updates.sparkSession.implicits._
    val approvers = updates.select(col("pr"), col("approvers")).as[(Long, Seq[String])].collect().toSeq
    gate(approvers, Seq(requiredCodeowners, requiredFacilitators, requiredTech), membership)
      .map { case (pr, ok) => (pr, ok(0), ok(1), ok(2)) }
      .toDF("pr" +: Stages.map(s => s"${s}_approved"): _*)
  }

  /** K4/K5 side-effect target standing in for the GitHub label /
    * reviewer-request API: adds are no-ops when present, removes are
    * tolerated-if-absent (pr-review-flow.yml:254-264, 277-287), so
    * replayed batches are idempotent. Keyed by PR, so a batch reads
    * the labels of its touched PRs only ([[of]]), however many labels
    * the store has seen. */
  class LabelStore extends Serializable {
    private val labels = scala.collection.concurrent.TrieMap.empty[Long, Set[String]]
    def apply(pr: Long, op: String, label: String): Unit = op match {
      case "add"    => labels.updateWith(pr)(ls => Some(ls.getOrElse(Set.empty[String]) + label)); ()
      case "remove" => labels.updateWith(pr)(_.map(_ - label).filter(_.nonEmpty)); ()
      case other    => throw new IllegalArgumentException(s"unknown label op: $other")
    }
    def current: Set[(Long, String)] =
      labels.iterator.flatMap { case (pr, ls) => ls.iterator.map(pr -> _) }.toSet
    /** (pr, label) rows of the given PRs only. */
    def of(prs: Iterable[Long]): Seq[(Long, String)] =
      prs.iterator.flatMap(pr => labels.getOrElse(pr, Set.empty[String]).iterator.map(pr -> _)).toSeq
  }

  /** End-to-end pipeline (E3): events → stateful dedup/gate →
    * foreachBatch label sink. Each micro-batch evaluates the gate for
    * the touched PRs only, diffs it against the store's current
    * labels for those PRs and applies the label and reviewer-request
    * deltas — O(changed PRs) per batch, the reference's own API-call
    * granularity.
    *
    * The batch is collected once, first thing: every action on a
    * `foreachBatch` frame re-executes the plan behind it, the
    * `flatMapGroupsWithState` operator included, so a second action
    * would reload and re-commit the state store for the same batch.
    * The collected rows (at most one [[ApproverUpdate]] per touched
    * PR) are already on the driver, so the whole gate runs there:
    * [[gate]] collects the required sides and membership and restricts
    * them to the batch, then [[verdicts]] and [[deltas]] are plain
    * Scala. With local-relation sides a batch is one Spark job,
    * the batch's own. */
  def run(events: Dataset[ReviewEvent],
          requiredCodeowners: DataFrame, requiredFacilitators: DataFrame,
          requiredTech: DataFrame, membership: DataFrame,
          store: LabelStore, checkpointDir: String,
          requests: LabelStore = new LabelStore): StreamingQuery = {
    val required = Seq(requiredCodeowners, requiredFacilitators, requiredTech)
    approverUpdates(events).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[ApproverUpdate], _: Long) =>
        val rows = batch.collect()
        if (rows.nonEmpty) {
          val status = gate(rows.toSeq.map(u => (u.pr, u.approvers)), required, membership)
          val (labelDeltas, requestDeltas) = deltas(status, store.of(rows.map(_.pr)))
          (labelDeltas.map(_ -> store) ++ requestDeltas.map { case (pr, t) => (pr, "add", t) -> requests })
            .sortBy(_._1)
            .foreach { case ((pr, op, value), target) => target(pr, op, value) }
        }
      }
      .start()
  }
}
