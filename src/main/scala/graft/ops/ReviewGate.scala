package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch form of the reference's review gating (E3,
  * `pr-review-flow.yml:78-227` — semantics only; streaming twin in
  * [[graft.stream.ReviewStateMachine]]).
  *
  * Inputs are relations instead of per-row API probes (S6-S8): the
  * reference's `teams.getMembershipForUserInOrg` loop becomes a join
  * against a `membership(team, user)` dimension — the only shape that
  * survives at scale.
  */
object ReviewGate {

  /** W1 — latest review per (pr, user), LAST write wins
    * (pr-review-flow.yml:100-103 `Map.set` over arrival order).
    * `seq` is the arrival sequence; ties impossible by construction
    * but row_number keeps it deterministic anyway. */
  def latestPerUser(reviews: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pr"), col("user")).orderBy(col("seq").desc)
    reviews.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** P6 — only APPROVED survive (pr-review-flow.yml:107-109). */
  def approvers(reviews: DataFrame): DataFrame =
    latestPerUser(reviews)
      .filter(upper(col("state")) === "APPROVED")
      .select(col("pr"), col("user"))

  /** J4 + A4/A5 — per (pr): does EVERY required team have ≥1 approver
    * who is an active member (ANY-member gate)?
    * required: (pr, team); membership: (team, user); approverDf:
    * (pr, user). A team with two approving members joins twice, which
    * `every` reads the same as once. */
  def stageGate(required: DataFrame, membership: DataFrame, approverDf: DataFrame): DataFrame = {
    val approvedTeams = approverDf.join(membership, Seq("user"))
      .select(col("pr"), col("team"), lit(true).as("ok"))
    required
      .join(approvedTeams, Seq("pr", "team"), "left")
      .groupBy(col("pr"))
      .agg(every(coalesce(col("ok"), lit(false))).as("stage_approved"))
  }

  /** K4 — label state machine as idempotent ops (pr-review-flow.yml:
    * 242-288): given per-PR stage booleans and current labels, emit
    * (pr, op, label) where op ∈ add|remove. Removes are tolerated-if-
    * absent downstream; here we only emit deltas so the sink is
    * naturally idempotent. */
  def labelOps(status: DataFrame, currentLabels: DataFrame): DataFrame = {
    val desired = status.select(col("pr"),
      explode(filter(array(
        when(col("codeowners_approved"), lit("codeowners-approved")),
        when(col("facilitators_approved"), lit("facilitators-approved")),
        when(col("tech_approved"), lit("tech-approved"))
      ), c => c.isNotNull)).as("label"))
    labelDiff(desired, currentLabels,
      Seq("codeowners-approved", "facilitators-approved", "tech-approved"))
  }

  /** K4, reference-faithful variant — the STAGED labels the reference
    * actually manages (pr-review-flow.yml:242-288):
    * `ready-for-facilitators-review` while codeowners are done but
    * facilitators aren't; `ready-for-tech-review` while facilitators
    * are done but tech isn't; nothing once all three stages pass.
    * Expressed as desired-state + diff instead of the reference's
    * imperative add/remove ladder — which also REMOVES a stage label
    * when an approval is rolled back, fixing the documented
    * "labels are not restored on review rollback" gap
    * (README.md:111-123). */
  def stagedLabelOps(status: DataFrame, currentLabels: DataFrame): DataFrame = {
    val desired = status.select(col("pr"),
      explode(filter(array(
        when(col("codeowners_approved") && !col("facilitators_approved"),
          lit("ready-for-facilitators-review")),
        when(col("codeowners_approved") && col("facilitators_approved") &&
          !col("tech_approved"), lit("ready-for-tech-review"))
      ), c => c.isNotNull)).as("label"))
    labelDiff(desired, currentLabels,
      Seq("ready-for-facilitators-review", "ready-for-tech-review"))
  }

  private def labelDiff(desired: DataFrame, currentLabels: DataFrame,
                        managed: Seq[String]): DataFrame = {
    val current = currentLabels.filter(col("label").isin(managed: _*))
    val adds = desired.join(current, Seq("pr", "label"), "left_anti")
      .withColumn("op", lit("add"))
    val removes = current.join(desired, Seq("pr", "label"), "left_anti")
      .withColumn("op", lit("remove"))
    adds.unionByName(removes).select(col("pr"), col("op"), col("label"))
  }

  /** K5 — reviewer-request fan-out (pr-review-flow.yml:290-324): when
    * a PR enters the facilitators stage, request the facilitator
    * groups (the external CODEFACILITATORS action); when it enters the
    * tech stage, request `tech-team`. One (pr, target) row per needed
    * request — the downstream sink is idempotent like the label store
    * (re-requesting an already-requested team is a no-op upstream). */
  def reviewerRequests(status: DataFrame): DataFrame =
    status.select(col("pr"),
      explode(filter(array(
        when(col("codeowners_approved") && !col("facilitators_approved"),
          lit("facilitators")),
        when(col("codeowners_approved") && col("facilitators_approved") &&
          !col("tech_approved"), lit("tech-team"))
      ), c => c.isNotNull)).as("target"))
}
