package graft.stream

import scala.jdk.CollectionConverters._

import graft.ops.ReviewGate
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
    * `<stage>_approved` columns. */
  private val Stages = Seq("codeowners", "facilitators", "tech")

  /** Per-batch 3-stage status (E3 steps c-d): each stage's required
    * teams must all have an approving active member (the
    * ReviewGate.stageGate rule, J4 + A4/A5). `required*`: (pr, team);
    * `membership`: (team, user). Only PRs present in `updates` are
    * evaluated; output is (pr, codeowners_approved,
    * facilitators_approved, tech_approved), one row per touched PR.
    *
    * One pass for all three stages: the required tables are unioned
    * with a `stage` tag, left-joined onto the touched PRs (which
    * restricts them to this batch), left-joined once to
    * ReviewGate.approvedTeams and grouped by `pr`; each stage is
    * `every` over its own rows.
    *
    * A touched PR with ZERO required teams for a stage passes that
    * stage vacuously — the reference's `results.every(Boolean)` over
    * an empty team list is `true` (pr-review-flow.yml:190-211), e.g. a
    * docs-only PR whose files match no CODEFACILITATORS pattern needs
    * no facilitator review. Such a PR has no rows for that stage, so
    * its `every` aggregates only nulls and reads null, hence the
    * `true` fill. */
  def fullStatus(updates: DataFrame, requiredCodeowners: DataFrame,
                 requiredFacilitators: DataFrame, requiredTech: DataFrame,
                 membership: DataFrame): DataFrame = {
    val required = Stages.zip(Seq(requiredCodeowners, requiredFacilitators, requiredTech))
      .map { case (stage, req) => req.select(col("pr"), col("team"), lit(stage).as("stage")) }
      .reduce(_ unionByName _)
    val approvedTeams = ReviewGate.approvedTeams(
      updates.select(col("pr"), explode(col("approvers")).as("user")), membership)
    val stageCols = Stages.map(s =>
      every(when(col("stage") === s, coalesce(col("ok"), lit(false)))).as(s"${s}_approved"))
    updates.select(col("pr"))
      .join(required, Seq("pr"), "left")
      .join(approvedTeams, Seq("pr", "team"), "left")
      .groupBy(col("pr"))
      .agg(stageCols.head, stageCols.tail: _*)
      .na.fill(true)
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
    * foreachBatch label sink. Each micro-batch recomputes stage status
    * for the touched PRs only, diffs it against the store's current
    * labels for those PRs (ReviewGate.labelOps emits only deltas) and
    * applies the label and reviewer-request deltas — O(changed PRs)
    * per batch, the reference's own API-call granularity.
    *
    * The batch is collected once, first thing: every action on a
    * `foreachBatch` frame re-executes the plan behind it, the
    * `flatMapGroupsWithState` operator included, so a second action
    * would reload and re-commit the state store for the same batch.
    * The collected rows (at most one [[ApproverUpdate]] per touched
    * PR) become a local relation that everything downstream reads;
    * the status is likewise collected once into a local relation, so
    * the label diff and the reviewer requests read the same rows, and
    * both deltas come back in one tagged `collect`. */
  def run(events: Dataset[ReviewEvent],
          requiredCodeowners: DataFrame, requiredFacilitators: DataFrame,
          requiredTech: DataFrame, membership: DataFrame,
          store: LabelStore, checkpointDir: String,
          requests: LabelStore = new LabelStore): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    approverUpdates(events).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[ApproverUpdate], _: Long) =>
        val rows = batch.collect()
        if (rows.nonEmpty) {
          val gate = fullStatus(rows.toSeq.toDF(), requiredCodeowners,
            requiredFacilitators, requiredTech, membership)
          val status = spark.createDataFrame(gate.collect().toSeq.asJava, gate.schema)
          // diff only the touched PRs: labelOps treats absence from
          // `desired` as "remove", so the current-label side must be
          // scoped to this batch's PRs or untouched PRs would be wiped.
          val current = store.of(rows.map(_.pr)).toDF("pr", "label")
          val labelDeltas = ReviewGate.labelOps(status, current)
            .select(lit(true).as("is_label"), col("pr"), col("op"), col("label").as("value"))
          // K5: reviewer-request fan-out for PRs entering a stage
          // (idempotent add-only target set)
          val requestDeltas = ReviewGate.reviewerRequests(status)
            .select(lit(false).as("is_label"), col("pr"), lit("add").as("op"), col("target").as("value"))
          labelDeltas.unionByName(requestDeltas).collect()
            .sortBy(r => (r.getLong(1), r.getString(2), r.getString(3)))
            .foreach { r => (if (r.getBoolean(0)) store else requests)(r.getLong(1), r.getString(2), r.getString(3)) }
        }
      }
      .start()
  }
}
