package graft

import graft.ops.DepGraph
import org.apache.spark.sql.DataFrame

/** Ports of the reference's unit tests
  * (.github/tests/test_scan_dependencies.py:31-162) plus the verified
  * one-hop-flattening quirk from SURVEY §2.3 J5. Corpora are inline
  * (path, content) rows — the same fixture shape the reference builds
  * in a tmpdir. */
class DepGraphSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (String, String)*): DataFrame =
    rows.toDF("path", "content")

  private def rawMap(df: DataFrame): Map[String, (Seq[String], Seq[String])] =
    df.collect().map(r => r.getString(0) ->
      (r.getSeq[String](2), r.getSeq[String](3))).toMap

  private def flatMapOf(df: DataFrame): Map[String, Seq[String]] =
    df.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap

  // test_dependency_searching (test_scan_dependencies.py:31-64)
  test("direct file→function dependency, templated call resolves") {
    val c = corpus(
      "deployer/patch/DWH/kimball/r_3.000001_f_base_func.sql" ->
        "CREATE OR REPLACE FUNCTION DWH.KIMBALL.base_func(...) RETURNS VARCHAR AS $$ x $$",
      "replicator/source/end_view.sql" ->
        "SELECT ${ENV_PREFIX}DWH.KIMBALL.base_func(col) as c FROM t;")
    val raw = rawMap(DepGraph.rawDependencies(c))
    assert(raw("base_func")._1 === Seq("replicator/source/end_view.sql"))
    assert(raw("base_func")._2 === Seq())
  }

  // test_function_to_function_dependency (test_scan_dependencies.py:66-97)
  test("function-calling-function lands in used_in_functions, not files") {
    val c = corpus(
      "deployer/patch/DWH/kimball/r_3.000001_f_base_func.sql" ->
        "CREATE FUNCTION KIMBALL.base_func() ...",
      "deployer/patch/DWH/kimball/r_3.000002_f_caller_func.sql" ->
        "CREATE FUNCTION KIMBALL.caller_func() RETURN ${ENV_PREFIX}DWH.KIMBALL.base_func(1);")
    val raw = rawMap(DepGraph.rawDependencies(c))
    assert(raw("base_func")._1 === Seq())
    assert(raw("base_func")._2 === Seq("caller_func"))
  }

  // test_transitive_dependency_flattening (test_scan_dependencies.py:99-162)
  test("one-hop flattening: view attributed to both middle and base") {
    val c = corpus(
      "deployer/patch/DWH/kimball/r_3.000001_f_base_func.sql" ->
        "CREATE FUNCTION KIMBALL.base_func() ...",
      "deployer/patch/DWH/kimball/r_3.000002_f_middle_func.sql" ->
        "SELECT KIMBALL.base_func(1);",
      "replicator/source/end_view.sql" ->
        "SELECT KIMBALL.middle_func(2) FROM t;")
    val raw = rawMap(DepGraph.rawDependencies(c))
    assert(raw("base_func") === (Seq(), Seq("middle_func")))
    assert(raw("middle_func") === (Seq("replicator/source/end_view.sql"), Seq()))
    val flat = flatMapOf(DepGraph.flattenedDependencies(DepGraph.rawDependencies(c)))
    assert(flat("middle_func") === Seq("replicator/source/end_view.sql"))
    assert(flat("base_func") === Seq("replicator/source/end_view.sql"))
  }

  // SURVEY §2.3 J5 verified quirk: 3-level chain is NOT transitive
  test("flattening is exactly one hop: a←b←c←view leaves a empty") {
    val c = corpus(
      "deployer/patch/DWH/kimball/r_1.1_f_a.sql" -> "def a",
      "deployer/patch/DWH/kimball/r_1.2_f_b.sql" -> "SELECT KIMBALL.a(1);",
      "deployer/patch/DWH/kimball/r_1.3_f_c.sql" -> "SELECT KIMBALL.b(1);",
      "replicator/source/view.sql" -> "SELECT KIMBALL.c(1);")
    val flat = flatMapOf(DepGraph.flattenedDependencies(DepGraph.rawDependencies(c)))
    assert(flat("c") === Seq("replicator/source/view.sql"))
    assert(flat("b") === Seq("replicator/source/view.sql")) // one hop via c
    assert(flat("a") === Seq())                             // two hops away: NOT reached
  }

  test("scanner quirks: digits rejected in names, mixed case resolves, self-def skipped") {
    val c = corpus(
      "deployer/patch/DWH/kimball/r_1.1_f_func2.sql" -> "not a function (digit in name)",
      "deployer/patch/DWH/kimball/r_1.2_f_real.sql" ->
        "CREATE FUNCTION KIMBALL.real() ... SELECT KIMBALL.real(1); -- self call ignored",
      "superset_objects/datasets/ds.sql" -> "SELECT Kimball.REAL ( 1 ), kimball.func2(2);")
    val raw = rawMap(DepGraph.rawDependencies(c))
    assert(!raw.contains("func2"))
    assert(raw("real")._1 === Seq("superset_objects/datasets/ds.sql"))
    assert(raw("real")._2 === Seq())
  }

  test("filename regex anchoring: trailing junk rejected, 3-part version accepted") {
    // the reference uses re.match (prefix-anchored only), but its S1
    // glob('*.sql') guarantees the name ends at '.sql' — so our full
    // ^…$ anchor is observationally identical; pin that here
    val c = corpus(
      "deployer/patch/DWH/kimball/r_1.1_f_foo.sql.bak" -> "not globbed by *.sql",
      "deployer/patch/DWH/kimball/r_1.2.3_f_tri.sql" -> "def (optional third number)",
      "replicator/source/v.sql" -> "SELECT KIMBALL.foo(1), KIMBALL.tri(2);")
    val raw = rawMap(DepGraph.rawDependencies(c))
    assert(!raw.contains("foo"))
    assert(raw("tri")._1 === Seq("replicator/source/v.sql"))
  }

  test("corpus outside the four search dirs is not scanned") {
    val c = corpus(
      "deployer/patch/DWH/kimball/r_1.2_f_real.sql" -> "def",
      "somewhere/else/view.sql" -> "SELECT KIMBALL.real(1);",
      "README.md" -> "KIMBALL.real( in prose")
    val raw = rawMap(DepGraph.rawDependencies(c))
    assert(raw("real") === (Seq(), Seq()))
  }
}
