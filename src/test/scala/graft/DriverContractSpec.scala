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

  /** `file:line: text` of every `src/main/scala` line of `view(source)`
    * matching `pattern`, skipping the `allowed` files (paths relative
    * to the tree, which must contain them all). */
  private def mainSourceHits(pattern: scala.util.matching.Regex, allowed: Set[String],
                             view: String => String = identity): List[String] = {
    val files = sources(Seq("src/main/scala")).map { case (p, src) => p.stripPrefix("src/main/scala/") -> src }
    assert(allowed.subsetOf(files.map(_._1).toSet), "scanned the wrong tree: src/main/scala")
    files.filterNot(f => allowed(f._1)).flatMap { case (rel, src) =>
      view(src).linesIterator.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$rel:${i + 1}: ${line.trim}"
      }
    }
  }

  test("no round or review citations in src/main comments") {
    // a comment gives the reason for the code as it stands; which
    // round or review asked for it is history, kept in git and
    // CHANGES.md
    val cite = """\b[Rr]ound[- ]?\d+\b|\br\d{1,2}\b|\bVERDICT\b|\bADVICE\b""".r
    val offenders = mainSourceHits(cite, Set.empty, split(_).comments)
    assert(offenders.isEmpty, offenders.mkString("history citation in a comment:\n", "\n", ""))
  }

  /** Public `src/main` names with no use outside `src/test`, kept on
    * purpose: each names the README serving-kernel row it loads or
    * serves, the production path it is the reference for, or the
    * paper entry point it implements. */
  private val SpecsOnlyKeep: Map[String, String] = Map(
    "scanAndSave" -> "paper entry point: E1 dependency scan writing the raw and flattened artifacts",
    "generateFacilitators" -> "paper entry point: E2 CODEFACILITATORS generation",
    "substituteTemplates" -> "paper entry point: F12 deploy-time ${VAR} substitution on corpus text",
    "prepare" -> "paper entry point: runs the reference's warehouse SQL fragments (WarehouseSqlSpec)",
    "globToRegex" -> "reference for Owners.globToRegexCol, the glob dialect the owners join runs (GlobProperties)",
    "stageGate" -> "reference for ReviewStateMachine's driver gate (ReviewDriverGateProperties)",
    "stagedLabelOps" -> "reference for ReviewStateMachine's label deltas (ReviewDriverGateProperties)",
    "reviewerRequests" -> "reference for ReviewStateMachine's reviewer requests (ReviewDriverGateProperties)",
    "lshBuckets" -> "reference for the q27/q29 LSH bucket key that planesFor sizes (EmbeddingsSpec)",
    "assignCells" -> "reference for q68's exact and q76's two-level cell assignment (EmbeddingsSpec)",
    "serveQueryBatch" -> "README serving kernel: ANN (q31)",
    "bm25Publish" -> "README serving kernel: BM25 (q71), publishes what bm25Resolve loads",
    "bm25Resolve" -> "README serving kernel: BM25 (q71) loader",
    "dsirSave" -> "README serving kernel: DSIR (q73), writes what dsirLoad reads",
    "dsirLoad" -> "README serving kernel: DSIR (q73) loader",
    "dsirLogWeights" -> "README serving kernel: DSIR (q73)",
    "lmSave" -> "README serving kernel: LM perplexity (q72), writes what lmLoad reads",
    "lmLoad" -> "README serving kernel: LM perplexity (q72) loader",
    "saveCodebooks" -> "README serving kernel: PQ ADC (q77), writes what loadCodebooks reads",
    "loadCodebooks" -> "README serving kernel: PQ ADC (q77) loader",
    "buildCodes" -> "README serving kernel: PQ ADC (q77) loader",
    "trainIvfPq" -> "README serving kernel: IVFADC (q79), trains the quantizer and codebooks it loads",
    "ivfPqCodes" -> "README serving kernel: IVFADC (q79) loader",
    "buildRefineTiers" -> "README serving kernel: refine (q85) loader",
    "hybridServe" -> "README serving kernel: hybrid (q88)",
    "mmrServe" -> "README serving kernel: MMR (q92)",
    "trainFrozenIvfSq8" -> "README serving kernel: vector ingest (q87), trains the frozen quantizer and bounds",
    "ivfSq8EncodeBatch" -> "README serving kernel: vector ingest (q87)",
    "compactSnapshot" -> "README serving kernel: vector ingest (q87), compacts its upsertSnapshot sink",
    "publishArtifactSuperseding" -> "README serving kernel: artifact retrains that the serving loaders resolve",
    "nearDupMatchesRefreshing" -> "README serving kernel: near-dup intake",
    "simhashIndex" -> "README streaming entry point: StreamingNearDedup.simhashIndex",
    "nearDupMatches" -> "README streaming entry points: the StreamingNearDedup and StreamingPhashDedup matchers",
    "phashIndex" -> "README streaming entry point: StreamingPhashDedup.phashIndex",
    "phashNearDup" -> "README streaming entry point: batch twin of StreamingPhashDedup.phashIndex",
    "ingestStream" -> "README streaming entry point: StreamingIngest.ingestStream",
    "redactPii" -> "README streaming entry point: batch form of StreamingIngest.ingestStream's redaction",
    "clickViewConversions" -> "README streaming entry point: IntervalJoin.clickViewConversions",
    "windowedTypeCounts" -> "README streaming entry point: EventWindows.windowedTypeCounts",
    "sessionStatsStreaming" -> "README streaming entry point: EventWindows.sessionStatsStreaming")

  test("every public src/main name has a use outside src/test, or a reasoned keep-list entry") {
    // code in src/main and perfbench/src counts as a use; comments do
    // not. A name only specs reach is code kept alive by its own tests.
    val scanned = sources(Seq("src/main/scala", "perfbench/src")).map { case (rel, src) => rel -> split(src) }
    val uses = scanned.flatMap(s => Ident.findAllIn(s._2.code)).groupMapReduce(identity)(_ => 1)(_ + _)
    val defs = scanned.flatMap(s => s._2.skeleton.linesIterator.flatMap(DefRe.findPrefixMatchOf(_)).map(_.group(3)))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val publicNames = scanned.filter(_._1.startsWith("src/main")).flatMap { case (rel, s) =>
      members(s.skeleton).collect { case (line, mods, name)
          if !mods.contains("private") && !mods.contains("protected") && !mods.contains("override") &&
            !Set("apply", "unapply", "main")(name) => (rel, line, name) }
    }
    val unused = publicNames.filter { case (_, _, n) => uses.getOrElse(n, 0) <= defs.getOrElse(n, 0) }
    val offenders = unused.filterNot(u => SpecsOnlyKeep.contains(u._3))
    assert(offenders.isEmpty, offenders.map { case (rel, line, n) => s"$rel:$line: $n" }
      .mkString("public names only specs reach (delete, or keep-list with a reason):\n", "\n", ""))
    val stale = SpecsOnlyKeep.keySet -- unused.map(_._3)
    assert(stale.isEmpty, s"stale keep-list entries (now used, or gone): ${stale.toSeq.sorted}")
  }

  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val DefRe = ("""^\s*((?:(?:override|final|implicit|lazy|sealed|abstract|case|""" +
    """private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)(def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)""").r
  private val TemplateHead = """\b(object|class|trait)\b[^=]*$""".r

  /** (line, modifiers, name) of every `def`/`val`/`var` whose innermost
    * enclosing brace block is an object, class or trait body, in a
    * [[Scanned.skeleton]]. */
  private def members(skeleton: String): Seq[(Int, String, String)] = {
    var stack = List.empty[Boolean]
    val head = new StringBuilder
    skeleton.linesIterator.zipWithIndex.toList.flatMap { case (text, i) =>
      val found = if (stack.headOption.contains(true))
        DefRe.findPrefixMatchOf(text).map(m => (i + 1, m.group(1), m.group(3))).toList
      else Nil
      text.foreach {
        case '{' =>
          val h = head.toString
          stack = (TemplateHead.findFirstIn(h).isDefined && !h.contains("new ")) :: stack
          head.clear()
        case '}' => stack = stack.drop(1); head.clear()
        case c => head.append(c)
      }
      head.append(' ')
      found
    }
  }

  /** Scala source split three ways, each keeping every newline so line
    * numbers agree: `code` without comments, `comments` alone, and
    * `skeleton`, the code with string and char literal contents
    * blanked (so its braces are the real ones). */
  private case class Scanned(code: String, comments: String, skeleton: String)

  private def split(src: String): Scanned = {
    val code, comments, skeleton = new StringBuilder
    val n = src.length
    var i = 0
    def newlines(s: String) = "\n" * s.count(_ == '\n')
    def take(j: Int, kind: Char): Unit = {
      val s = src.substring(i, j)
      kind match {
        case 'c' => code.append(s); comments.append(newlines(s)); skeleton.append(s)
        case 'l' => code.append(s); comments.append(newlines(s)); skeleton.append(s.map(c => if (c == '\n') c else ' '))
        case _ => comments.append(s); code.append(newlines(s)); skeleton.append(newlines(s))
      }
      i = j
    }
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        take(j, 'l')
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n') j += (if (src.charAt(j) == '\\') 2 else 1)
        take(math.min(n, j + 1), 'l')
      } else if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        take(if (e < 0) n else e, '/')
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        take(math.min(n, j), '/')
      } else if (src.charAt(i) == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        take(i + 3, 'l')
      } else if (src.charAt(i) == '\'' && i + 3 < n && src.charAt(i + 1) == '\\' && src.charAt(i + 3) == '\'') {
        take(i + 4, 'l')
      } else take(i + 1, 'c')
    }
    Scanned(code.toString, comments.toString, skeleton.toString)
  }

  /** (path relative to the repo, text) of every `.scala` file under `roots`. */
  private def sources(roots: Seq[String]): List[(String, String)] = {
    import scala.jdk.CollectionConverters._
    roots.toList.flatMap { r =>
      val root = java.nio.file.Paths.get(r)
      assert(java.nio.file.Files.isDirectory(root), s"missing source tree: $root")
      java.nio.file.Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
        .map(p => p.toString -> java.nio.file.Files.readString(p))
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
