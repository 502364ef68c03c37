package graft

/** The SparkEntry ↔ driver contract, guarded mechanically: the
  * correctness gate only checks queries that HAVE an oracle, so a new
  * query whose author forgets the oracleSql twin would silently
  * downgrade to the weak rows-only check and still look green. Every
  * exclusion must be explicit here with its documented reason. */
class DriverContractSpec extends SparkSpec {

  /** Queries deliberately without a DuckDB twin. EMPTY since round 13:
    * q65 (the last entry — HLL/t-digest values are engine-specific)
    * now grades accuracy-band booleans vs in-query exact twins, which
    * ARE oracle-able (VERDICT r12 #1). The mechanism stays: any future
    * query must either carry an oracle or land here with a reason. */
  private val RowsOnly = Set.empty[String]

  test("every query has an oracle or a documented rows-only exclusion") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((oracles -- queries).isEmpty,
      s"oracles without a query: ${(oracles -- queries).toSeq.sorted}")
    val missing = queries -- oracles -- RowsOnly
    assert(missing.isEmpty,
      s"queries silently lacking an oracle: ${missing.toSeq.sorted} — " +
        "add the DuckDB twin or an explicit RowsOnly entry with a reason")
    assert((RowsOnly -- queries).isEmpty, "stale RowsOnly entry")
    assert((RowsOnly intersect oracles).isEmpty,
      "RowsOnly query also has an oracle — drop one")
  }

  test("SURVEY §8.2 maps every graded query (regenerate via scripts/gen_survey_map.py)") {
    // the round-13 restructure replaced the append-only §8 prose with a
    // generated query→implementation→gate table; this keeps it from
    // rotting — a new/renamed query must re-run the generator
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    val missing = SparkEntry.queries.keySet.filterNot(n => survey.contains(s"| $n |"))
    assert(missing.isEmpty,
      s"queries absent from SURVEY §8.2: ${missing.toSeq.sorted} — run " +
        "python3 scripts/gen_survey_map.py bench/BENCH_DETAIL_sf1_r<N>.json " +
        "bench/BENCH_DETAIL_sf10_r<N>.json")
  }

  test("query names follow the qNN_snake convention with unique numbers") {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    names.foreach(n => assert(n.matches("q[0-9]{2}_[a-z0-9_]+"), s"bad name: $n"))
    val nums = names.map(_.take(3))
    assert(nums.distinct.size == nums.size, "duplicate query numbers")
  }

  test("documents.text is single-space tokenizable (the q71/q72/q73 oracle contract)") {
    // three oracles tokenize with DuckDB's string_split(text, ' ')
    // while the Spark twins split on \s+ — identical ONLY while text
    // contains no tabs/newlines/CRs and no leading/trailing/double
    // spaces that \s+ collapses differently than ' '-split's
    // empty-token filter... in fact both sides filter empty tokens,
    // so runs of spaces agree too; the REAL divergence class is any
    // non-space whitespace. The driver regenerates testdata between
    // rounds: pin the invariant on every generation present so drift
    // fails HERE, loudly, instead of as a silent oracle mismatch
    // (ADVICE r8).
    import org.apache.spark.sql.functions._
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)
    assume(dirs.nonEmpty, "testdata not present")
    dirs.foreach { d =>
      val bad = graft.ops.Tables.documents(spark, d)
        .filter(col("text").rlike("[\\t\\n\\r\\x0b\\f]"))
        .count()
      assert(bad == 0,
        s"$d: $bad documents contain non-space whitespace — the " +
          "q71/q72/q73 DuckDB oracles (string_split on ' ') would " +
          "silently diverge from the Spark \\s+ tokenizers; switch the " +
          "oracles to regexp_split_to_array(text, '\\s+') before trusting the gate")
    }
  }

  test("the ADC probe cap is pinned and mirrored into every capped oracle") {
    // ProbeCap/stride = the 1,024-probe bound at any SF — the
    // scale-safety contract the q77-q79 conformance queries state;
    // and the SAME constant must appear in the oracle CTEs, so an
    // edit to one side fails here instead of silently un-capping
    // the other engine
    assert(graft.ops.Pq.ProbeCap / 50 == 1024,
      "ProbeCap no longer bounds the %-50 probe stride at 1,024")
    Seq("q77_pq_topk", "q78_knn_classify", "q79_ivfpq_topk", "q80_pq_scaled",
        "q81_sq8_topk").foreach { q =>
      assert(SparkEntry.oracleSql(q).contains(s"< ${graft.ops.Pq.ProbeCap}"),
        s"$q oracle does not carry the ProbeCap bound")
    }
  }

  test("no session-function registration outside GraftExtensions and ops/Udfs") {
    // operators build their custom expressions as typed Columns
    // (graft.functions); GraftExtensions is the one SQL surface, and
    // the reference's verbatim warehouse SQL needs ops/Udfs' kimball_*
    // names. A registration anywhere else, or an expr string that only
    // resolves after one, brings the per-call registry bridge back.
    val names = GraftExtensions.All.map(_._1) ++
      Seq("nearest_cells", "probe_cells", "adc_subdists", "minhash_sig")
    val byName = ("(expr|selectExpr)\\(\\s*s?\"[^\"]*\\b(" + names.mkString("|") + ")\\s*\\(").r
    val offenders = mainSourceHits(
      ("createOrReplaceTempFunction|registerFunction|\\.udf\\.register|" + byName.regex).r,
      Set("graft/GraftExtensions.scala", "graft/ops/Udfs.scala"))
    assert(offenders.isEmpty, offenders.mkString("session-function registration bridge:\n", "\n", ""))
  }

  test("no streaming loop outside ServeLoop and ReviewStateMachine") {
    // every stateless serve runs through ServeLoop.run; ReviewStateMachine
    // needs update mode and typed state. A per-kernel writeStream /
    // foreachBatch skeleton anywhere else is a second serving seam.
    val offenders = mainSourceHits("writeStream|foreachBatch".r,
      Set("graft/stream/ServeLoop.scala", "graft/stream/ReviewStateMachine.scala"))
    assert(offenders.isEmpty, offenders.mkString("streaming loop outside ServeLoop:\n", "\n", ""))
  }

  test("one session builder: SparkSession.builder only in GraftSession") {
    // Bench, Verify and every tool run on GraftSession(); a second
    // builder is a copied session config that drifts from it
    val offenders = mainSourceHits("SparkSession\\.builder".r, Set("graft/GraftSession.scala"))
    assert(offenders.isEmpty, offenders.mkString("session builder outside GraftSession:\n", "\n", ""))
  }

  /** `file:line: text` of every `src/main/scala` line matching
    * `pattern`, skipping the `allowed` files (paths relative to the
    * tree, which must contain them all). */
  private def mainSourceHits(pattern: scala.util.matching.Regex, allowed: Set[String]): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(p => root.relativize(p).toString -> p).toList
    assert(allowed.subsetOf(files.map(_._1).toSet), s"scanned the wrong tree: $root")
    files.filterNot(f => allowed(f._1)).flatMap { case (rel, p) =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$rel:${i + 1}: ${line.trim}"
      }
    }
  }

  test("every oracle ends with a deterministic ORDER BY") {
    // the driver hashes rows in order after a column-name sort; an
    // oracle without a total ORDER BY can flake with DuckDB's
    // parallel execution even when values match
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.toUpperCase.contains("ORDER BY"), s"$name oracle has no ORDER BY")
    }
  }
}
