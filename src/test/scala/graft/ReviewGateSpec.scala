package graft

import graft.ops.ReviewGate

/** Batch review-gate semantics: W1 latest-wins under permuted arrival,
  * P6 approval filter, J4/A4/A5 stage gate, K4 label-delta
  * idempotence. */
class ReviewGateSpec extends SparkSpec {
  import spark.implicits._

  test("latestPerUser: LAST write wins under any arrival permutation") {
    val events = Seq(
      (1L, "alice", "APPROVED", 3L),
      (1L, "alice", "CHANGES_REQUESTED", 1L),
      (1L, "alice", "COMMENTED", 2L),
      (1L, "bob", "CHANGES_REQUESTED", 5L),
      (1L, "bob", "APPROVED", 4L),
      (2L, "alice", "APPROVED", 1L))
    // three different arrival orders must give identical results
    Seq(events, events.reverse, events.sortBy(_._3)).foreach { perm =>
      val got = ReviewGate.latestPerUser(perm.toDF("pr", "user", "state", "seq"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(
        (1L, "alice", "APPROVED"),          // seq 3 beats 1, 2
        (1L, "bob", "CHANGES_REQUESTED"),   // seq 5 beats 4 — rollback kept
        (2L, "alice", "APPROVED")))
    }
  }

  test("approvers: only latest-state APPROVED survives, case-insensitive") {
    val reviews = Seq(
      (1L, "alice", "approved", 1L),
      (1L, "bob", "APPROVED", 1L),
      (1L, "bob", "CHANGES_REQUESTED", 2L),
      (1L, "carol", "COMMENTED", 1L)).toDF("pr", "user", "state", "seq")
    val got = ReviewGate.approvers(reviews).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "alice")))
  }

  test("stageGate: every required team needs >=1 approving active member") {
    val required = Seq((1L, "ta"), (1L, "tb"), (2L, "ta")).toDF("pr", "team")
    val membership = Seq(("ta", "alice"), ("tb", "bob"), ("ta", "carol"))
      .toDF("team", "user")
    val approvers = Seq((1L, "alice"), (1L, "bob"), (2L, "bob"))
      .toDF("pr", "user")
    val got = ReviewGate.stageGate(required, membership, approvers).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // pr 1: ta via alice, tb via bob → true; pr 2: bob is not in ta → false
    assert(got == Map(1L -> true, 2L -> false))
  }

  test("stagedLabelOps walks the reference's label ladder and cleans up on rollback") {
    def status(co: Boolean, fac: Boolean, tech: Boolean) =
      Seq((1L, co, fac, tech)).toDF(
        "pr", "codeowners_approved", "facilitators_approved", "tech_approved")
    def ops(st: org.apache.spark.sql.DataFrame, cur: Seq[String]) =
      ReviewGate.stagedLabelOps(st, cur.map((1L, _)).toDF("pr", "label"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
    // codeowners done → facilitators-review label appears
    assert(ops(status(true, false, false), Nil) ==
      Set(("add", "ready-for-facilitators-review")))
    // facilitators done → ladder advances (old label removed, next added)
    assert(ops(status(true, true, false), Seq("ready-for-facilitators-review")) ==
      Set(("remove", "ready-for-facilitators-review"), ("add", "ready-for-tech-review")))
    // all stages done → nothing desired, tech label removed
    assert(ops(status(true, true, true), Seq("ready-for-tech-review")) ==
      Set(("remove", "ready-for-tech-review")))
    // ROLLBACK: codeowners regress while tech label present — removed
    // (the reference leaves it dangling; desired-state diff fixes that)
    assert(ops(status(false, false, false), Seq("ready-for-tech-review")) ==
      Set(("remove", "ready-for-tech-review")))
  }

  test("reviewerRequests: facilitators then tech-team as stages open (K5)") {
    val st = Seq(
      (1L, true, false, false),  // → facilitators
      (2L, true, true, false),   // → tech-team
      (3L, false, false, false), // codeowners pending → nothing
      (4L, true, true, true)     // done → nothing
    ).toDF("pr", "codeowners_approved", "facilitators_approved", "tech_approved")
    val got = ReviewGate.reviewerRequests(st).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "facilitators"), (2L, "tech-team")))
  }

  test("labelOps emits only deltas and re-application is empty (idempotent)") {
    val status = Seq((1L, true, false, true)).toDF(
      "pr", "codeowners_approved", "facilitators_approved", "tech_approved")
    val current = Seq((1L, "facilitators-approved"), (1L, "unrelated-label"))
      .toDF("pr", "label")
    val ops = ReviewGate.labelOps(status, current).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // unmanaged labels untouched; desired-but-absent added; present-but-
    // undesired managed label removed
    assert(ops == Set(
      (1L, "add", "codeowners-approved"),
      (1L, "add", "tech-approved"),
      (1L, "remove", "facilitators-approved")))
    // apply the deltas → the new current; a second diff must be empty
    val applied = Seq((1L, "codeowners-approved"), (1L, "tech-approved"),
      (1L, "unrelated-label")).toDF("pr", "label")
    assert(ReviewGate.labelOps(status, applied).isEmpty)
  }
}
