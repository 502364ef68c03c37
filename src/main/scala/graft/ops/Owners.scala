package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ownership resolution (reference E2,
  * `.github/scripts/generate_codefacilitators.py` + the embedded-JS
  * twin in `pr-review-flow.yml:117-176` — semantics only).
  *
  * Owners files are CODEOWNERS-format text: `glob-pattern team…`,
  * `#` comments, blank lines. Files are tiny config — they broadcast;
  * the dependent-file side is the big relation at scale, so the theta
  * join is a broadcast nested-loop with the regex on the small side.
  */
object Owners {

  /** Glob→regex translation (F3). The two reference implementations
    * diverge (generate_codefacilitators.py:28-30 vs
    * pr-review-flow.yml:127-147); we adopt the JS superset, verified
    * against both test surfaces:
    *  - `*`  → `[^/]*` (no `/` crossing)
    *  - `?`  → `[^/]`  (JS-only; Python leaves `?` = regex-optional)
    *  - bare `*` pattern → match-all (JS special case)
    *  - `/`  → `\/`
    *  - `.` is left as regex-any in BOTH references — preserved as
    *    documented conformance behavior (a glob `.` therefore matches
    *    any character, exactly like the reference).
    * Anchored `^…$` (both references use full match). */
  def globToRegex(glob: String): String =
    if (glob == "*") "^.*$"
    else "^" + glob
      .replace("/", "\\/")
      .replace("*", "[^/]*")
      .replace("?", "[^/]") + "$"

  /** Column form of [[globToRegex]] for pattern-from-column joins.
    * Pure string ops — stays inside codegen, no UDF. */
  def globToRegexCol(glob: Column): Column = {
    val translated = concat(lit("^"),
      regexp_replace(
        regexp_replace(
          regexp_replace(glob, "/", "\\\\/"),
          "\\*", "[^/]*"),
        "\\?", "[^/]"),
      lit("$"))
    when(glob === "*", "^.*$").otherwise(translated)
  }

  /** Parse owners lines (S5/P5/F4-F6): DataFrame(value: string) →
    * (pattern: string, teams: array<string>). Team handles keep their
    * `@org/…` form; strip with [[stripHandle]] where the reference
    * does (pr-review-flow.yml:149). */
  def parseOwners(lines: DataFrame): DataFrame =
    lines
      .select(trim(col("value")).as("line"))
      .filter(col("line") =!= "" && !col("line").startsWith("#"))
      .select(split(col("line"), "\\s+").as("toks"))
      .select(col("toks").getItem(0).as("pattern"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("teams"))

  def stripHandle(team: Column): Column = regexp_replace(team, "^@", "")

  /** File × pattern theta join (J3): which patterns match each path.
    * `paths` may be arbitrarily large; `owners` broadcasts. */
  def matchingTeams(paths: DataFrame, owners: DataFrame, pathCol: String = "path"): DataFrame = {
    val pats = owners.select(
      globToRegexCol(col("pattern")).as("regex"), col("teams"))
    paths.join(broadcast(pats), regexp_like(col(pathCol), col("regex")), "inner")
  }

  /** Facilitator resolution (E2, A3): per function, the sorted distinct
    * union of teams across all patterns matched by any dependent file.
    * Functions with no matching team are dropped
    * (generate_codefacilitators.py:40-41). */
  def facilitators(flatDeps: DataFrame, owners: DataFrame): DataFrame = {
    val files = flatDeps.select(col("function"), col("path"),
      explode(col("used_in_files")).as("dep_file"))
    matchingTeams(files, owners, "dep_file")
      .groupBy(col("function"), col("path"))
      .agg(array_sort(array_distinct(flatten(collect_list(col("teams"))))).as("teams"))
      .filter(size(col("teams")) > 0)
  }

  /** E3 owners glue (pr-review-flow.yml:135-155): a PR file list × one
    * owners file → that stage's required reviewer set, as a (pr, team)
    * relation. Mirrors the embedded JS: blank/`#` lines skipped
    * ([[parseOwners]]), a pattern contributes its owners to every PR
    * with at least one matching file (the bare `*` pattern matches all
    * — [[globToRegex]]'s special case), matched handles are
    * `@`-stripped (yml:149) and de-duplicated. A PR whose files match
    * no pattern yields no rows — the stage is then vacuously satisfied
    * downstream (`[].every` is true, yml:190-211), which the driver
    * gate of ReviewStateMachine encodes as a `forall` over the stage's
    * (empty) team list.
    * `prFiles`: (pr, file) — file paths repo-relative POSIX, the form
    * the GitHub API returns and [[graft.io.CorpusIO.corpus]] emits.
    *
    * Bare-`*` conformance: the
    * reference's `pattern === '*'` branch (yml:141) adds the bare-`*`
    * owners UNCONDITIONALLY — even to a PR whose file list is empty.
    * A zero-file PR has no rows in a (pr, file) relation, so the `*`
    * grant is computed against a PR universe when the caller supplies
    * one (`prs` — the set of PRs under review, zero-file PRs
    * included); the `*` side is owners-config-sized → the cross join
    * is an intentional broadcast BNLJ with a tiny build side. With no
    * `prs`, zero-file PRs cannot exist in the input at all, so bare
    * `*` rides the glob join itself, as a join-condition branch that
    * matches on the PR row's presence WITHOUT inspecting the file
    * value (so null files and regex-opaque paths still carry the
    * grant, per yml:141): the default path stays a single broadcast
    * join with no distinct aggregation over the big (pr, file)
    * relation.
    *
    * A supplied `prs` is a true UNIVERSE restriction: glob matches
    * for PRs outside it are dropped too (semi join), so the relation
    * is consistent per PR — a prFiles row set wider than the PRs
    * under review (a corpus-derived file table, say) cannot leak
    * half-gated rows that carry glob teams but not the `*` grant. */
  def requiredTeams(prFiles: DataFrame, ownersLines: DataFrame,
                    prs: Option[DataFrame] = None): DataFrame = {
    val owners = parseOwners(ownersLines)
    val matched = prs match {
      case None =>
        // the same single broadcast BNLJ as matchingTeams, with the
        // reference's unconditional-`*` branch (yml:141) folded into
        // the join condition: a bare-`*` pattern row matches on the
        // PR's mere presence, never inspecting the file value — so a
        // null file (an upstream left join) or a path regexes can't
        // see still carries the `*` grant, exactly like the reference
        val pats = owners.select(globToRegexCol(col("pattern")).as("regex"), col("teams"))
        prFiles.join(broadcast(pats),
            col("regex") === "^.*$" || regexp_like(col("file"), col("regex")), "inner")
          .select(col("pr"), explode(col("teams")).as("team"))
      case Some(p) =>
        val prSet = p.select(col("pr")).distinct()
        val starTeams = owners.filter(col("pattern") === "*")
          .select(explode(col("teams")).as("team"))
        matchingTeams(prFiles, owners.filter(col("pattern") =!= "*"), "file")
          .select(col("pr"), explode(col("teams")).as("team"))
          .join(broadcast(prSet), Seq("pr"), "left_semi")
          .unionByName(prSet.crossJoin(broadcast(starTeams)))
    }
    matched
      .select(col("pr"), stripHandle(col("team")).as("team"))
      .distinct()
  }

  /** The three per-stage requirement relations the reference derives
    * per review event (pr-review-flow.yml:156-158): CODEOWNERS and
    * CODETECHTEAM are static config; CODEFACILITATORS is the
    * E2-GENERATED artifact ([[graft.io.CorpusIO.generateFacilitators]])
    * — this composition is the E1→E2→E3 hand-off. Feed the results to
    * [[graft.stream.ReviewStateMachine.run]] (or `fullStatus`), which
    * plans each once and restricts it to a batch's PRs on the driver. Pass `prs` to gate
    * zero-file PRs (see [[requiredTeams]]). */
  def stageRequirements(prFiles: DataFrame, codeowners: DataFrame,
                        codefacilitators: DataFrame, codetechteam: DataFrame,
                        prs: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) =
    (requiredTeams(prFiles, codeowners, prs),
     requiredTeams(prFiles, codefacilitators, prs),
     requiredTeams(prFiles, codetechteam, prs))
}
