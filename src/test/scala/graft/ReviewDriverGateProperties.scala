package graft

import graft.ops.ReviewGate
import graft.stream.ReviewStateMachine
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** ScalaCheck property pinning the review gate [[ReviewStateMachine.run]]
  * evaluates on the driver to the batch forms in [[ReviewGate]]. Each
  * case draws the touched PRs and their approver sets, per-stage
  * requirements (empty stages, teams nobody belongs to and rows for
  * PRs outside the batch included), a membership table and the
  * current labels (unmanaged labels and labels of other PRs
  * included). It checks that [[ReviewStateMachine.fullStatus]] gives
  * each stage the verdict of `ReviewGate.stageGate`, `true` for a
  * stage the PR has no requirement in, and that
  * [[ReviewStateMachine.deltas]] over that status equals
  * `ReviewGate.labelOps` and `ReviewGate.reviewerRequests` over it. */
object ReviewDriverGateProperties extends Properties("ReviewStateMachine driver gate") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters = p.withMinSuccessfulTests(25)

  private val Stages = Seq("codeowners", "facilitators", "tech")
  private val Teams = Seq("t1", "t2", "t3", "ghost")
  private val Users = Seq("u1", "u2", "u3", "outsider")
  private val Labels = Stages.map(s => s"$s-approved") :+ "wip"

  /** One drawn case: `approvers` of the touched PRs 1..n, `required`
    * (pr, team) per stage over PRs 1..n+1, `membership` (team, user)
    * over t1-t3 only, `current` (pr, label) over PRs 1..n+1. */
  private final case class Case(approvers: Seq[(Long, Seq[String])],
                                required: Seq[Seq[(Long, String)]],
                                membership: Seq[(String, String)],
                                current: Seq[(Long, String)])

  private def subsetOf[A](xs: Seq[A]): Gen[Seq[A]] = Gen.someOf(xs).map(_.toSeq)

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(1, 4)
    approvers <- Gen.listOfN(n, subsetOf(Users))
    reqs <- Gen.listOfN(Stages.size, Gen.listOfN(n + 1, subsetOf(Teams)))
    mems <- Gen.listOfN(Teams.size - 1, subsetOf(Users.init))
    labels <- Gen.listOfN(n + 1, subsetOf(Labels))
  } yield {
    def perPr[A](xs: Seq[Seq[A]]): Seq[(Long, A)] =
      xs.zipWithIndex.flatMap { case (as, i) => as.map((i + 1L) -> _) }
    Case(approvers.zipWithIndex.map { case (us, i) => (i + 1L, us.sorted) },
      reqs.map(perPr), Teams.zip(mems).flatMap { case (t, us) => us.map(t -> _) }, perPr(labels))
  }

  property("verdicts ≡ stageGate with the vacuous fill; deltas ≡ labelOps + reviewerRequests") =
    forAll(caseGen) { c =>
      val spark = SparkSpec.spark
      import spark.implicits._
      val prs = c.approvers.map(_._1)
      val updates = c.approvers.toDF("pr", "approvers")
      val required = c.required.map(_.toDF("pr", "team"))
      val membership = c.membership.toDF("team", "user")
      val status = ReviewStateMachine.fullStatus(updates, required(0), required(1), required(2), membership)
      val got = status.as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
        .map { case (pr, a, b, t) => pr -> Seq(a, b, t) }

      val approverDf = c.approvers.flatMap { case (pr, us) => us.map(pr -> _) }.toDF("pr", "user")
      val gated = Stages.zip(required).map { case (s, req) =>
        ReviewGate.stageGate(req, membership, approverDf).withColumn("stage", lit(s))
      }.reduce(_ unionByName _).as[(Long, Boolean, String)].collect()
        .map { case (pr, ok, s) => (pr, s) -> ok }.toMap
      val want = prs.map(pr => pr -> Stages.map(s => gated.getOrElse((pr, s), true)))

      val (labelDeltas, requests) = ReviewStateMachine.deltas(got, c.current)
      val wantLabels = ReviewGate.labelOps(status, c.current.toDF("pr", "label"))
        .as[(Long, String, String)].collect().toSeq
      val wantRequests = ReviewGate.reviewerRequests(status).select(col("pr"), col("target"))
        .as[(Long, String)].collect().toSeq

      (got.sortBy(_._1) == want) :| s"verdicts $got, stageGate $want" &&
        (labelDeltas.sorted == wantLabels.sorted) :| s"label deltas $labelDeltas, labelOps $wantLabels" &&
        (requests.sorted == wantRequests.sorted) :| s"requests $requests, reviewerRequests $wantRequests"
    }
}
