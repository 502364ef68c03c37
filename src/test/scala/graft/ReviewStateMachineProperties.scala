package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.stream.{ReviewEvent, ReviewStateMachine}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck property pinning the streaming review gate
  * ([[ReviewStateMachine.run]]) to a plain-Scala replay of the
  * reference's rules: the latest review per (pr, user) by `seq`, a
  * stale or duplicate re-delivery changes nothing, a stage passes when
  * every required team has an approving member (vacuously when none is
  * required), the `<stage>-approved` labels follow the verdicts (so a
  * rollback removes its label) and reviewer requests are add-only.
  * Each case draws the PRs, per-stage requirements (empty stages
  * included), a membership table and 1-4 micro-batches of fresh
  * reviews (rollbacks among them) and re-deliveries of earlier
  * batches' events (stale ones among them), each batch in shuffled
  * order, and compares both stores with the replay after every batch.
  * Each case starts a streaming query, so the case count is small. */
object ReviewStateMachineProperties extends Properties("ReviewStateMachine.run") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters = p.withMinSuccessfulTests(10)

  private val Stages = Seq("codeowners", "facilitators", "tech")
  private val Teams = Seq("t1", "t2", "t3")
  private val Users = Seq("u1", "u2", "u3")

  /** One drawn case: `required` keyed by (pr, stage), `members` by
    * team, `batches` in delivery order. */
  private final case class Case(required: Map[(Long, String), Set[String]],
                                members: Map[String, Set[String]],
                                batches: Seq[Seq[ReviewEvent]])

  private def subsetOf[A](xs: Seq[A]): Gen[Set[A]] = Gen.someOf(xs).map(_.toSet)

  /** A fresh review with the next `seq` (Left), or a re-delivery of an
    * event from an earlier batch (Right: the pick, and whether to pick
    * among the superseded events — a stale re-delivery — when any). */
  private def stepGen(nPr: Int): Gen[Either[(Long, String, String), (Int, Boolean)]] = Gen.frequency(
    3 -> (for {
      pr <- Gen.choose(1L, nPr.toLong)
      user <- Gen.oneOf(Users)
      state <- Gen.frequency(5 -> "APPROVED", 3 -> "CHANGES_REQUESTED", 2 -> "COMMENTED")
    } yield Left((pr, user, state))),
    1 -> Gen.zip(Gen.choose(0, 1000), Gen.oneOf(true, false)).map(Right(_)))

  private val caseGen: Gen[Case] = for {
    nPr <- Gen.choose(2, 4)
    reqs <- Gen.listOfN(nPr * Stages.size, subsetOf(Teams))
    mems <- Gen.listOfN(Teams.size, subsetOf(Users))
    nBatches <- Gen.choose(1, 4)
    steps <- Gen.listOfN(nBatches, Gen.choose(1, 6).flatMap(Gen.listOfN(_, stepGen(nPr))))
    shuffleSeed <- Gen.long
  } yield {
    val required = (for { pr <- 1 to nPr; s <- Stages } yield (pr.toLong, s))
      .zip(reqs).toMap
    val rnd = new scala.util.Random(shuffleSeed)
    val history = mutable.ArrayBuffer.empty[ReviewEvent]
    val batches = steps.map { batchSteps =>
      val earlier = history.toIndexedSeq
      val superseded = earlier.filter(e => earlier.exists(n => n.pr == e.pr && n.user == e.user && n.seq > e.seq))
      val batch = batchSteps.flatMap {
        case Left((pr, user, state)) =>
          val e = ReviewEvent(pr, user, state, history.size + 1L)
          history += e
          Some(e)
        case Right((i, stale)) =>
          val from = if (stale && superseded.nonEmpty) superseded else earlier
          if (from.isEmpty) None else Some(from(i % from.size))
      }
      rnd.shuffle(batch)
    }.filter(_.nonEmpty)
    Case(required, Teams.zip(mems).toMap, batches)
  }

  /** The reference rules, replayed batch by batch. */
  private final class Replay(c: Case) {
    val state = mutable.Map.empty[Long, Map[String, ReviewEvent]]
    val labels = mutable.Set.empty[(Long, String)]
    val requests = mutable.Set.empty[(Long, String)]

    private def passes(pr: Long, stage: String): Boolean = {
      val approvers = state(pr).values.filter(_.state == "APPROVED").map(_.user).toSet
      c.required((pr, stage)).forall(t => c.members(t).exists(approvers))
    }

    def apply(batch: Seq[ReviewEvent]): Unit =
      batch.groupBy(_.pr).foreach { case (pr, evs) =>
        val cur = state.get(pr)
        val next = evs.sortBy(_.seq).foldLeft(cur.getOrElse(Map.empty[String, ReviewEvent])) { (m, e) =>
          if (m.get(e.user).exists(_.seq >= e.seq)) m else m.updated(e.user, e)
        }
        if (!cur.contains(next)) {
          state(pr) = next
          val ok = Stages.map(s => s -> passes(pr, s)).toMap
          Stages.foreach { s =>
            if (ok(s)) labels += ((pr, s"$s-approved")) else labels -= ((pr, s"$s-approved"))
          }
          if (ok("codeowners") && !ok("facilitators")) requests += ((pr, "facilitators"))
          if (ok("codeowners") && ok("facilitators") && !ok("tech")) requests += ((pr, "tech-team"))
        }
      }
  }

  property("streamed labels and requests ≡ plain-Scala replay, after every micro-batch") =
    forAll(caseGen) { c =>
      val spark = SparkSpec.spark
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def req(stage: String) = c.required.toSeq
        .collect { case ((pr, s), teams) if s == stage => teams.map(t => (pr, t)) }.flatten
        .toDF("pr", "team")
      val membership = c.members.toSeq.flatMap { case (t, us) => us.map(u => (t, u)) }.toDF("team", "user")
      val events = MemoryStream[ReviewEvent]
      val store = new ReviewStateMachine.LabelStore
      val requests = new ReviewStateMachine.LabelStore
      val q = ReviewStateMachine.run(events.toDS(), req("codeowners"), req("facilitators"),
        req("tech"), membership, store, Files.createTempDirectory("rsm-prop").toString, requests)
      val replay = new Replay(c)
      try c.batches.forall { b =>
        events.addData(b)
        q.processAllAvailable()
        replay(b)
        store.current == replay.labels.toSet && requests.current == replay.requests.toSet
      } finally q.stop()
    }
}
