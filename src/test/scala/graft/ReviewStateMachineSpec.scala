package graft

import graft.stream._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.TestGroupState

/** Golden transitions for the streaming review state machine
  * (SURVEY §2.8), including the rollback case the reference documents
  * as broken (README.md:111-123) and permuted/stale arrival. */
class ReviewStateMachineSpec extends SparkSpec {

  test("updatePr: latest wins per user, stale seq ignored, no-change emits nothing") {
    def step(st: Option[PrState], evs: ReviewEvent*): (Seq[ApproverUpdate], Option[PrState]) = {
      import org.apache.spark.api.java.Optional
      val gs = TestGroupState.create[PrState](
        st.map(Optional.of[PrState]).getOrElse(Optional.empty[PrState]()),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
        0L, Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]], hasTimedOut = false)
      val out = ReviewStateMachine.updatePr(1L, evs.iterator, gs).toSeq
      (out, gs.getOption)
    }
    // first event: approved
    val (o1, s1) = step(None, ReviewEvent(1, "alice", "APPROVED", 1))
    assert(o1 == Seq(ApproverUpdate(1, Seq("alice"), 1)))
    // rollback replaces the approval (latest wins, NOT first-wins)
    val (o2, s2) = step(s1, ReviewEvent(1, "alice", "CHANGES_REQUESTED", 2))
    assert(o2 == Seq(ApproverUpdate(1, Seq(), 1)))
    // stale re-delivery of the old approval is a no-op
    val (o3, s3) = step(s2, ReviewEvent(1, "alice", "APPROVED", 1))
    assert(o3.isEmpty && s3 == s2)
    // permuted batch folds in seq order: final verdict is seq=5
    val (o4, _) = step(s3,
      ReviewEvent(1, "alice", "APPROVED", 5), ReviewEvent(1, "alice", "CHANGES_REQUESTED", 3))
    assert(o4 == Seq(ApproverUpdate(1, Seq("alice"), 1)))
  }

  test("end-to-end: stage gates + idempotent label sink + rollback removes labels") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val reqCode = Seq((1L, "team_a"), (1L, "team_b")).toDF("pr", "team")
    val reqFac  = Seq((1L, "team_f")).toDF("pr", "team")
    val reqTech = Seq((1L, "team_t")).toDF("pr", "team")
    val membership = Seq(("team_a", "alice"), ("team_b", "bob"),
      ("team_f", "frank"), ("team_t", "tina")).toDF("team", "user")

    val events = MemoryStream[ReviewEvent]
    val store = new ReviewStateMachine.LabelStore
    val requests = new ReviewStateMachine.LabelStore
    val ckpt = java.nio.file.Files.createTempDirectory("rsm-ckpt").toString
    val q = ReviewStateMachine.run(events.toDS(), reqCode, reqFac, reqTech,
      membership, store, ckpt, requests)
    try {
      // alice alone: codeowners still needs team_b → no stage green yet
      events.addData(ReviewEvent(1, "alice", "APPROVED", 1),
        ReviewEvent(1, "bob", "COMMENTED", 2))
      q.processAllAvailable()
      assert(store.current.isEmpty && requests.current.isEmpty)

      // bob approves: codeowners green → facilitators stage opens (K5)
      events.addData(ReviewEvent(1, "bob", "APPROVED", 3))
      q.processAllAvailable()
      assert(store.current == Set((1L, "codeowners-approved")))
      assert(requests.current == Set((1L, "facilitators")))

      // frank (facilitator) approves → tech stage opens
      events.addData(ReviewEvent(1, "frank", "APPROVED", 4))
      q.processAllAvailable()
      assert(store.current == Set((1L, "codeowners-approved"),
        (1L, "facilitators-approved")))
      assert(requests.current == Set((1L, "facilitators"), (1L, "tech-team")))

      // tina (tech) approves: all three stages green
      events.addData(ReviewEvent(1, "tina", "APPROVED", 5))
      q.processAllAvailable()
      assert(store.current == Set((1L, "codeowners-approved"),
        (1L, "facilitators-approved"), (1L, "tech-approved")))

      // ROLLBACK: alice requests changes — codeowners label removed
      // (the reference's documented gap, fixed here)
      events.addData(ReviewEvent(1, "alice", "CHANGES_REQUESTED", 6))
      q.processAllAvailable()
      assert(store.current == Set((1L, "facilitators-approved"), (1L, "tech-approved")))

      // stale duplicate of the old approval: no state change, no ops
      events.addData(ReviewEvent(1, "alice", "APPROVED", 1))
      q.processAllAvailable()
      assert(store.current == Set((1L, "facilitators-approved"), (1L, "tech-approved")))
    } finally q.stop()
  }

  test("the stateful operator runs once per micro-batch: state rows = distinct PRs seen") {
    // Every action on the foreachBatch frame re-executes the
    // flatMapGroupsWithState plan, and each execution adds the store's
    // row count to the operator's numRowsTotal again: a sink that acts
    // on the frame k times reads k × (PRs in state).
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val prs = 1L to 6L
    val reqCode = prs.map(pr => (pr, s"team_${pr % 2}")).toDF("pr", "team")
    val reqFac = Seq((1L, "team_f"), (4L, "team_f")).toDF("pr", "team")
    val reqTech = prs.map(pr => (pr, "team_t")).toDF("pr", "team")
    val membership = Seq(("team_0", "alice"), ("team_1", "bob"),
      ("team_f", "frank"), ("team_t", "tina")).toDF("team", "user")
    val events = MemoryStream[ReviewEvent]
    val store = new ReviewStateMachine.LabelStore
    val ckpt = java.nio.file.Files.createTempDirectory("rsm-once").toString
    val q = ReviewStateMachine.run(events.toDS(), reqCode, reqFac, reqTech,
      membership, store, ckpt)
    val batches = Seq(
      Seq(ReviewEvent(1, "bob", "APPROVED", 1), ReviewEvent(2, "alice", "APPROVED", 2),
        ReviewEvent(3, "bob", "COMMENTED", 3)),
      Seq(ReviewEvent(3, "bob", "APPROVED", 4), ReviewEvent(4, "alice", "APPROVED", 5),
        ReviewEvent(5, "tina", "APPROVED", 6), ReviewEvent(1, "bob", "APPROVED", 1)),
      Seq(ReviewEvent(6, "alice", "CHANGES_REQUESTED", 7), ReviewEvent(2, "tina", "APPROVED", 8),
        ReviewEvent(1, "frank", "APPROVED", 9)))
    try {
      val seen = collection.mutable.Set.empty[Long]
      batches.zipWithIndex.foreach { case (b, i) =>
        events.addData(b)
        q.processAllAvailable()
        seen ++= b.map(_.pr)
        val rows = q.lastProgress.stateOperators(0).numRowsTotal
        assert(rows == seen.size,
          s"batch $i: $rows state rows for ${seen.size} PRs — the stateful plan ran more than once")
      }
      assert(seen.size == prs.size)
      // the gate still ran: PR 2 (team_0 via alice, tech via tina,
      // facilitators vacuous) is green on all three stages
      assert(store.current.filter(_._1 == 2L) == Set((2L, "codeowners-approved"),
        (2L, "facilitators-approved"), (2L, "tech-approved")))
    } finally q.stop()
  }

  test("a review micro-batch runs one Spark job: the gate runs on the driver") {
    // the batch's own collect is the only job, from the first batch
    // on: the local-relation requirement and membership sides plan to
    // local scans, collected without a job and restricted to the
    // batch on the driver, and the
    // verdicts and deltas are plain Scala — no status plan, no delta
    // union, no second collect
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val reqCode = Seq((1L, "team_a"), (2L, "team_a"), (2L, "team_b")).toDF("pr", "team")
    val reqFac = Seq((1L, "team_f")).toDF("pr", "team")
    val reqTech = Seq((1L, "team_t"), (2L, "team_t"), (3L, "team_t")).toDF("pr", "team")
    val membership = Seq(("team_a", "alice"), ("team_b", "bob"),
      ("team_f", "frank"), ("team_t", "tina")).toDF("team", "user")
    val store = new ReviewStateMachine.LabelStore
    val requests = new ReviewStateMachine.LabelStore
    val batches = Seq(
      Seq(ReviewEvent(1, "alice", "APPROVED", 1), ReviewEvent(2, "bob", "APPROVED", 2)),
      Seq(ReviewEvent(2, "alice", "APPROVED", 3), ReviewEvent(3, "tina", "APPROVED", 4)),
      Seq(ReviewEvent(1, "frank", "APPROVED", 5), ReviewEvent(2, "alice", "CHANGES_REQUESTED", 6)))
    val perBatch = jobsPerBatch {
      val events = MemoryStream[ReviewEvent]
      val q = ReviewStateMachine.run(events.toDS(), reqCode, reqFac, reqTech, membership, store,
        java.nio.file.Files.createTempDirectory("rsm-jobs").toString, requests)
      try batches.foreach { b => events.addData(b); q.processAllAvailable() } finally q.stop()
      q.id.toString
    }
    assert(perBatch.size == batches.size, s"jobs by micro-batch: $perBatch")
    assert(perBatch.values.forall(_ == 1), s"jobs by micro-batch (want exactly 1 each): $perBatch")
    // the gate still ran: PR 1 passed codeowners and facilitators, PR 2
    // lost codeowners to alice's rollback, PR 3 needs tech only
    assert(store.current == Set((1L, "codeowners-approved"), (1L, "facilitators-approved"),
      (2L, "facilitators-approved"), (3L, "codeowners-approved"), (3L, "facilitators-approved"),
      (3L, "tech-approved")))
    assert(requests.current == Set((1L, "facilitators"), (1L, "tech-team"), (2L, "tech-team")))
  }

  test("labelOps application is idempotent (remove tolerated if absent)") {
    val store = new ReviewStateMachine.LabelStore
    store(1, "add", "x"); store(1, "add", "x")
    assert(store.current == Set((1L, "x")))
    store(1, "remove", "x"); store(1, "remove", "x")
    assert(store.current.isEmpty)
  }

  test("LabelStore.of reads the given PRs' labels only") {
    val store = new ReviewStateMachine.LabelStore
    store(1, "add", "x"); store(1, "add", "y"); store(2, "add", "x"); store(3, "add", "z")
    store(3, "remove", "z")
    assert(store.of(Seq(1L, 3L, 9L)).toSet == Set((1L, "x"), (1L, "y")))
    assert(store.of(Nil).isEmpty)
    assert(store.current == Set((1L, "x"), (1L, "y"), (2L, "x")))
  }
}
