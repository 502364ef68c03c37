package graft

import graft.io.CorpusIO
import graft.ops.{DepGraph, Owners}
import graft.stream.{ReviewEvent, ReviewStateMachine}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.{Files, Paths}

/** E1→E2→E3 composition: dependency scan → generated CODEFACILITATORS
  * artifact → per-PR stage requirements from the three owners files
  * (pr-review-flow.yml:117-176) → the streaming review gate, ending at
  * label/request side-effects. This is the full hand-off a reference
  * user runs across the three workflow stages, in one pipeline. The
  * first test runs it over a small synthetic tree written here, with
  * every intermediate worked out by hand, so the path always runs; the
  * second runs it over the REAL reference tree when that is present. */
class OwnersGlueSpec extends SparkSpec {

  private val ref = "/root/reference"
  private val orgName = "rzv-data-engineering-series-s01"

  test("E1→E2→E3: synthetic tree → CODEFACILITATORS → stage requirements → streaming gate → labels") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = Files.createTempDirectory("e3synth")
    def write(rel: String, text: String): String = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
      p.toString
    }
    val kimball = "deployer/patch/DWH/kimball"
    val alpha = s"$kimball/r_1.000001_f_alpha.sql"
    val beta = s"$kimball/r_1.000002_f_beta.sql"
    val orders = "superset/datasets/kimball/sales/orders.sql"
    val loadUsers = "replicator/source/load_users.sql"
    // alpha's definition calls beta (a consumer FUNCTION); its own name
    // in the header is a self-definition and must not count
    write(alpha, "create or replace function kimball.alpha(x int) returns int as $$\n" +
      "  select kimball.beta(x) + 1\n$$;\n")
    write(beta, "create or replace function kimball.beta(x int) returns int as $$ select x * 2 $$;\n")
    write(orders, "select kimball.alpha(amount) from kimball.orders;\n")
    // upper case and a space before the paren still call beta
    write(loadUsers, "SELECT KIMBALL.BETA (id) FROM users;\n")
    // unknown function: no edge; plain file: no calls
    write("superset/datasets/kimball/sales/unused.sql", "select kimball.gamma(1);\n")
    write("deployer/patch/misc/cleanup.sql", "select 1;\n")
    val martowners = write(".github/MARTOWNERS", "# mart owners\n\n" +
      "superset/datasets/kimball/sales/*.sql @org/sales-facilitators\n" +
      "replicator/source/*.sql @org/repl-facilitators\n")
    val codeowners = write(".github/CODEOWNERS",
      s"$kimball/*.sql @org/dwh-owners\n*.md @org/docs\n")
    val codetech = write(".github/CODETECHTEAM", "* @org/tech\n")

    // E1: one-hop flattening — beta's dependents are its own consumer
    // file plus those of alpha, the function that calls it
    val flat = DepGraph.flattenedDependencies(DepGraph.rawDependencies(CorpusIO.corpus(spark, root.toString)))
    assert(flat.as[(String, String, Seq[String])].collect().toSet == Set(
      ("alpha", alpha, Seq(orders)),
      ("beta", beta, Seq(loadUsers, orders))))
    // E2: MARTOWNERS teams of each function's dependents
    val codefac = write("CODEFACILITATORS",
      CorpusIO.facilitatorsText(Owners.facilitators(flat, Owners.parseOwners(spark.read.text(martowners)))))
    assert(Files.readString(Paths.get(codefac)) == "# Auto-generated from dependencies\n\n" +
      s"$alpha @org/sales-facilitators\n" +
      s"$beta @org/repl-facilitators @org/sales-facilitators\n")

    // E3: PR 1 edits beta, PR 2 only docs, PR 3 has no files
    val prFiles = Seq((1L, beta), (2L, "README.md")).toDF("pr", "file")
    val (reqCo, reqFa, reqTe) = Owners.stageRequirements(prFiles, spark.read.text(codeowners),
      spark.read.text(codefac), spark.read.text(codetech), Some(Seq(1L, 2L, 3L).toDF("pr")))
    def rel(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.as[(Long, String)].collect().toSet
    assert(rel(reqCo) == Set((1L, "org/dwh-owners"), (2L, "org/docs")))
    assert(rel(reqFa) == Set((1L, "org/repl-facilitators"), (1L, "org/sales-facilitators")))
    assert(rel(reqTe) == Set((1L, "org/tech"), (2L, "org/tech"), (3L, "org/tech")))

    val membership = Seq(("org/dwh-owners", "dora"), ("org/docs", "dan"),
      ("org/repl-facilitators", "rita"), ("org/sales-facilitators", "sam"),
      ("org/tech", "tom")).toDF("team", "user")
    val events = MemoryStream[ReviewEvent]
    val store = new ReviewStateMachine.LabelStore
    val requests = new ReviewStateMachine.LabelStore
    val q = ReviewStateMachine.run(events.toDS(), reqCo, reqFa, reqTe, membership, store,
      root.resolve("ckpt").toString, requests)
    def all3(pr: Long) = Set((pr, "codeowners-approved"), (pr, "facilitators-approved"), (pr, "tech-approved"))
    try {
      // PR 1: codeowners green, facilitators need rita AND sam. PR 2:
      // docs and tech green, facilitators vacuous. PR 3: only tech is
      // required, so tom alone makes it all green.
      events.addData(ReviewEvent(1, "dora", "APPROVED", 1), ReviewEvent(2, "dan", "APPROVED", 2),
        ReviewEvent(2, "tom", "APPROVED", 3), ReviewEvent(3, "tom", "APPROVED", 4))
      q.processAllAvailable()
      assert(store.current == Set((1L, "codeowners-approved")) ++ all3(2) ++ all3(3))
      assert(requests.current == Set((1L, "facilitators")))

      // both facilitator teams approve PR 1: the tech stage opens
      events.addData(ReviewEvent(1, "rita", "APPROVED", 5), ReviewEvent(1, "sam", "APPROVED", 6))
      q.processAllAvailable()
      assert(store.current.filter(_._1 == 1L) == Set((1L, "codeowners-approved"), (1L, "facilitators-approved")))
      assert(requests.current == Set((1L, "facilitators"), (1L, "tech-team")))

      // tom approves PR 1 while dora rolls back: codeowners label goes,
      // requests stay (add-only), PRs 2 and 3 are untouched
      events.addData(ReviewEvent(1, "dora", "CHANGES_REQUESTED", 8), ReviewEvent(1, "tom", "APPROVED", 7))
      q.processAllAvailable()
      assert(store.current == Set((1L, "facilitators-approved"), (1L, "tech-approved")) ++ all3(2) ++ all3(3))
      assert(requests.current == Set((1L, "facilitators"), (1L, "tech-team")))
    } finally q.stop()
  }

  test("E1→E2→E3: real owners files → stage requirements → streaming gate → labels") {
    assume(refTreeAvailable, "reference tree not present (or skipped via GRAFT_SKIP_REF_GOLDEN)")
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    // E1+E2 over the real tree: dep scan → CODEFACILITATORS artifact
    val out = Files.createTempDirectory("e3glue").toString
    CorpusIO.scanAndSave(spark, ref, out)
    CorpusIO.generateFacilitators(spark, s"$out/flattened_dependencies.json",
      s"$ref/.github/MARTOWNERS", s"$out/CODEFACILITATORS")

    // E3 glue: PR file lists × (static CODEOWNERS/CODETECHTEAM +
    // generated CODEFACILITATORS). PR 7 touches a catalog function
    // file + docs; PR 8 is docs-only.
    val prFiles = Seq(
      (7L, "deployer/patch/DWH/kimball/r_3.000140_f_utm_campaign_to_product.sql"),
      (7L, "README.md"),
      (8L, "README.md")).toDF("pr", "file")
    val (reqCo, reqFa, reqTe) = Owners.stageRequirements(prFiles,
      spark.read.text(s"$ref/.github/CODEOWNERS"),
      spark.read.text(s"$out/CODEFACILITATORS"),
      spark.read.text(s"$ref/.github/CODETECHTEAM"))

    // Bare-`*` unconditional grant (pr-review-flow.yml:141): a
    // zero-file PR 9 in the PR universe still owes the CODETECHTEAM
    // `*` owners — and nothing from the glob-only files — while the
    // with-files PRs are unchanged vs the default universe.
    val universe = Seq(7L, 8L, 9L).toDF("pr")
    val (uCo, uFa, uTe) = Owners.stageRequirements(prFiles,
      spark.read.text(s"$ref/.github/CODEOWNERS"),
      spark.read.text(s"$out/CODEFACILITATORS"),
      spark.read.text(s"$ref/.github/CODETECHTEAM"), Some(universe))

    def rel(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // CODEOWNERS: *.md → tech-team for both PRs; the r_3* pattern
    // matches PR 7's function file → analysts-owners. Handles arrive
    // @-stripped (yml:149).
    assert(rel(reqCo) == Set(
      (7L, s"$orgName/tech-team"), (7L, s"$orgName/analysts-owners"), (8L, s"$orgName/tech-team")))
    // generated CODEFACILITATORS: PR 7's file IS a mapped function path
    // → market-facilitators; PR 8 matches nothing → NO rows (the
    // vacuous-truth edge: [].every is true in the reference)
    assert(rel(reqFa) == Set((7L, s"$orgName/market-facilitators")))
    // CODETECHTEAM's bare `*` matches every PR with files
    assert(rel(reqTe) == Set((7L, s"$orgName/tech-team"), (8L, s"$orgName/tech-team")))
    // With an explicit PR universe, the zero-file PR 9 gets the bare-`*`
    // grant unconditionally (yml:141) and nothing from glob patterns;
    // the with-files PRs are unchanged.
    assert(rel(uCo) == rel(reqCo) && rel(uFa) == rel(reqFa))
    assert(rel(uTe) == rel(reqTe) + ((9L, s"$orgName/tech-team")))
    // the universe RESTRICTS too: dropping PR 8 removes all its rows —
    // glob matches included — so a wider prFiles table cannot leak
    // half-gated rows for PRs outside the review set
    val narrow = Seq(7L).toDF("pr")
    val (nCo, _, nTe) = Owners.stageRequirements(prFiles,
      spark.read.text(s"$ref/.github/CODEOWNERS"),
      spark.read.text(s"$out/CODEFACILITATORS"),
      spark.read.text(s"$ref/.github/CODETECHTEAM"), Some(narrow))
    assert(rel(nCo) == rel(reqCo).filter(_._1 == 7L))
    assert(rel(nTe) == Set((7L, s"$orgName/tech-team")))

    // default path: the bare-`*` grant matches on the PR row's
    // PRESENCE, never the file value — a null file (an upstream left
    // join) still carries it, while glob patterns cannot match it
    val inlineOwners = Seq("* @org/everyone", "*.md @org/docs").toDF("value")
    val withNull = Seq((7L, Option("README.md")), (10L, Option.empty[String]))
      .toDF("pr", "file")
    assert(rel(Owners.requiredTeams(withNull, inlineOwners)) == Set(
      (7L, "org/everyone"), (7L, "org/docs"), (10L, "org/everyone")))

    // E3 streaming gate over those requirements
    val membership = Seq(
      (s"$orgName/tech-team", "tina"),
      (s"$orgName/analysts-owners", "anna"),
      (s"$orgName/market-facilitators", "mark")).toDF("team", "user")
    val events = MemoryStream[ReviewEvent]
    val store = new ReviewStateMachine.LabelStore
    val requests = new ReviewStateMachine.LabelStore
    val ckpt = Files.createTempDirectory("e3glue-ckpt").toString
    val q = ReviewStateMachine.run(events.toDS(), reqCo, reqFa, reqTe,
      membership, store, ckpt, requests)
    try {
      // tina approves both PRs: docs-only PR 8 clears ALL stages
      // (codeowners via tech-team, facilitators vacuously, tech via
      // tech-team); PR 7's independent tech stage is green too, but
      // codeowners still needs analysts
      events.addData(ReviewEvent(7, "tina", "APPROVED", 1),
        ReviewEvent(8, "tina", "APPROVED", 2))
      q.processAllAvailable()
      assert(store.current == Set((7L, "tech-approved"),
        (8L, "codeowners-approved"), (8L, "facilitators-approved"), (8L, "tech-approved")))

      // anna approves PR 7: codeowners green (facilitator stage opens),
      // tech already green via tina — facilitators outstanding
      events.addData(ReviewEvent(7, "anna", "APPROVED", 3))
      q.processAllAvailable()
      assert(store.current.filter(_._1 == 7L) == Set(
        (7L, "codeowners-approved"), (7L, "tech-approved")))
      assert(requests.current == Set((7L, "facilitators")))

      // mark (facilitator) approves: PR 7 fully green
      events.addData(ReviewEvent(7, "mark", "APPROVED", 4))
      q.processAllAvailable()
      assert(store.current == Set(
        (7L, "codeowners-approved"), (7L, "facilitators-approved"), (7L, "tech-approved"),
        (8L, "codeowners-approved"), (8L, "facilitators-approved"), (8L, "tech-approved")))
    } finally q.stop()
  }
}
