package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.io.CorpusIO
import graft.ops.{DepGraph, Owners}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

/** A seeded SQL repository in the reference's layout, plus the
  * generator's own model of it: which catalog function each file
  * calls and which owners pattern owns each directory. The expected
  * dependency graph and facilitator teams are derived from that model,
  * never by running the program's regexes.
  *
  * Layout: `nFunctions` definition files `r_1.000.NNN_f_<name>.sql`
  * under deployer/patch/DWH/kimball (some calling other functions, and
  * each mentioning itself); consumer files in the four scanned roots;
  * decoys the scan must ignore: calls outside the scanned roots, calls
  * in non-.sql files, a non-UTF-8 file, unknown function names and
  * `kimball.` mentions without a call. `nPlain` more .sql files in the
  * consumer roots call no catalog function, only the decoy names: the
  * bulk of a real SQL tree, which the scan reads but which adds no
  * edge. */
final class SqlRepo(seed: Long, nFunctions: Int, nConsumers: Int, nPlain: Int = 0) {
  private val rng = new SplittableRandom(seed ^ 0x5eedL)

  private val stems = Seq("utm", "session", "channel", "campaign", "source", "medium", "visit",
    "order", "revenue", "funnel", "cohort", "device", "geo", "click", "lead", "user")
  private val tails = Seq("key", "name", "group", "flag", "bucket", "score", "class", "type",
    "label", "rank", "norm", "id")
  val functions: IndexedSeq[String] = {
    val all = for (a <- stems; b <- tails) yield s"${a}_$b"
    val arr = all.toArray
    for (i <- arr.indices.reverse) { val j = rng.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t }
    arr.take(nFunctions).toIndexedSeq
  }
  def defPath(i: Int): String = f"deployer/patch/DWH/kimball/r_1.000.${i + 1}%03d_f_${functions(i)}.sql"
  val defPathOf: Map[String, String] = functions.indices.map(i => functions(i) -> defPath(i)).toMap

  /** Function -> functions its definition file calls (never itself). */
  val defCalls: Map[String, Seq[String]] = functions.map { f =>
    val k = if (rng.nextInt(3) == 0) 1 + rng.nextInt(2) else 0
    f -> pick(functions.filter(_ != f), k)
  }.toMap

  /** Owned consumer directories -> owners teams (MARTOWNERS). */
  val ownedDirs: Seq[(String, Seq[String])] =
    (0 until 6).map(m => s"superset/datasets/kimball/mart_$m" ->
      (if (m == 0) Seq("@fac_mart0", "@fac_core") else Seq(s"@fac_mart${m % 3}"))) ++ Seq(
      "replicator/source" -> Seq("@fac_repl"),
      "deployer/patch/DWH/marts" -> Seq("@fac_dwh"),
      "deployer/patch/DWH/kimball" -> Seq("@fac_core"))
  val consumerDirs: Seq[String] = ownedDirs.map(_._1).filter(_ != "deployer/patch/DWH/kimball") :+
    "superset_objects/datasets"
  def teamsOfDir(d: String): Seq[String] = ownedDirs.find(_._1 == d).map(_._2).getOrElse(Nil)

  def ownersText: String =
    "# mart owners\n\n" + ownedDirs.map { case (d, ts) => s"$d/*.sql ${ts.mkString(" ")}" }.mkString("\n") + "\n"

  /** Consumer path -> known functions it calls. */
  val consumers: mutable.Map[String, Seq[String]] = mutable.Map.empty
  private var nextId = 0
  private def newConsumer(): String = {
    val d = consumerDirs(rng.nextInt(consumerDirs.length))
    nextId += 1
    f"$d/ds_$nextId%05d.sql"
  }
  private def pick(from: Seq[String], k: Int): Seq[String] =
    if (from.isEmpty) Nil else Seq.fill(k)(from(rng.nextInt(from.length))).distinct.sorted
  private def randomCalls(): Seq[String] = pick(functions, 1 + rng.nextInt(4))

  (0 until nConsumers).foreach(_ => consumers(newConsumer()) = randomCalls())
  val helperPath = "deployer/patch/DWH/kimball/helpers.sql"
  consumers(helperPath) = pick(functions, 3)
  val plainFiles: IndexedSeq[String] =
    (1 to nPlain).map(k => f"${consumerDirs(rng.nextInt(consumerDirs.length))}/plain_$k%05d.sql")

  private def render(calls: Seq[String], decoys: Boolean): String = {
    val sb = new StringBuilder("-- generated dataset\nSELECT\n")
    calls.zipWithIndex.foreach { case (f, i) =>
      val c = i % 4 match {
        case 0 => s"kimball.$f(col_$i)"
        case 1 => s"KIMBALL.${f.toUpperCase}(col_$i)"
        case 2 => s"kimball.$f (col_$i)"
        case _ => s"kimball.$f(\n    col_$i)"
      }
      sb.append(s"  $c AS out_$i,\n")
    }
    if (decoys) {
      val g = functions(rng.nextInt(functions.length))
      sb.append(s"  kimball.not_in_catalog(x) AS unknown_fn,\n  kimball_$g(x) AS no_dot\n")
      sb.append(s"-- see kimball.$g for details\n")
    } else sb.append("  1 AS one\n")
    sb.append("FROM kimball.fact_sessions s\n")
    sb.toString
  }

  private def defText(f: String): String =
    s"CREATE OR REPLACE FUNCTION kimball.$f(x text) RETURNS text AS $$$$\n" +
      s"  -- usage: SELECT kimball.$f(col)\n" +
      (if (defCalls(f).isEmpty) "  SELECT x\n" else "  SELECT " + defCalls(f).map(g => s"kimball.$g(x)").mkString(" || ") + "\n") +
      "$$$$ LANGUAGE sql;\n"

  private def write(root: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    ()
  }

  /** Write the whole tree under `root`. */
  def materialize(root: Path): Unit = {
    functions.foreach(f => write(root, defPathOf(f), defText(f).getBytes(UTF_8)))
    consumers.foreach { case (p, calls) => write(root, p, render(calls, decoys = true).getBytes(UTF_8)) }
    plainFiles.foreach(p => write(root, p, render(Nil, decoys = true).getBytes(UTF_8)))
    // decoys: calls that the scan must not see
    write(root, "docs/notes_outside_scan.sql", render(functions.take(3), decoys = false).getBytes(UTF_8))
    write(root, "superset/datasets/kimball/mart_1/README.md", render(functions.take(2), decoys = false).getBytes(UTF_8))
    write(root, "replicator/source/latin1_broken.sql",
      render(functions.take(2), decoys = false).getBytes(UTF_8) ++ Array(0xff.toByte, 0xfe.toByte, 0x41.toByte))
  }

  /** .sql files under the root: definitions, consumers, plain files and the two .sql decoys. */
  def sqlFiles: Int = functions.length + consumers.size + nPlain + 2

  /** A seeded edit script: remove, add and rewrite consumer files. */
  def edit(root: Path, op: Int): Unit = {
    val r = new SplittableRandom(seed * 1000003L + op)
    val keys = consumers.keys.filter(_ != helperPath).toIndexedSeq.sorted
    val removed = Seq.fill(2)(keys(r.nextInt(keys.length))).distinct
    removed.foreach { p => consumers.remove(p); Files.deleteIfExists(root.resolve(p)) }
    (0 until removed.length).foreach { _ =>
      val p = newConsumer(); consumers(p) = randomCalls()
      write(root, p, render(consumers(p), decoys = true).getBytes(UTF_8))
    }
    val left = consumers.keys.filter(_ != helperPath).toIndexedSeq.sorted
    Seq.fill(3)(left(r.nextInt(left.length))).distinct.foreach { p =>
      consumers(p) = randomCalls()
      write(root, p, render(consumers(p), decoys = true).getBytes(UTF_8))
    }
  }

  // ---- the expected answer, from the model --------------------------
  private def dirOf(p: String): String = p.substring(0, p.lastIndexOf('/'))

  /** Function -> consumer files calling it directly. */
  def directFiles: Map[String, Set[String]] = {
    val m = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    consumers.foreach { case (p, calls) => calls.foreach(f => m(f) = m(f) + p) }
    functions.map(f => f -> m(f)).toMap
  }

  /** Flattened graph: function -> (definition path, sorted files). */
  def expectedFlat: Map[String, (String, Seq[String])] = {
    val direct = directFiles
    val users = functions.map(f => f -> functions.filter(h => defCalls(h).contains(f))).toMap
    functions.map { f =>
      f -> (defPathOf(f), (direct(f) ++ users(f).flatMap(direct)).toSeq.sorted)
    }.toMap
  }

  /** CODEFACILITATORS rows: function -> (definition path, sorted teams); functions without teams dropped. */
  def expectedFacilitators: Map[String, (String, Seq[String])] =
    expectedFlat.flatMap { case (f, (path, files)) =>
      val teams = files.flatMap(p => teamsOfDir(dirOf(p))).distinct.sorted
      if (teams.isEmpty) None else Some(f -> (path, teams))
    }
}

object DepScanCheck {
  type Rows = Map[String, (String, Seq[String])]

  def rowsOf(rows: Array[Row], listCol: String): Rows =
    rows.map(r => r.getAs[String]("function") ->
      (r.getAs[String]("path"), r.getAs[scala.collection.Seq[String]](listCol).toSeq)).toMap

  /** Throws unless the program's rows equal the model's exactly. */
  def compare(what: String, got: Rows, want: Rows): Unit = {
    if (got.keySet != want.keySet)
      throw new CheckFailed(s"$what: functions differ, missing ${(want.keySet -- got.keySet).take(3)} " +
        s"extra ${(got.keySet -- want.keySet).take(3)}")
    want.foreach { case (f, w) =>
      if (got(f) != w) throw new CheckFailed(s"$what: $f is ${got(f)}, expected $w")
    }
  }
}

/** Layer values of one rescan of `root`: self times from consecutive
  * prefixes of the chain (corpus, raw, flattened, facilitators), each
  * run `reps` times through the noop sink and taken at its fastest,
  * floored at 0 where the difference is inside the noise; counts from
  * observed row counts. */
object DepScanLayers {
  def probe(spark: SparkSession, root: String, ownersPath: String, tr: Tracer,
            reps: Int = 1): Map[String, Double] = {
    val owners = Owners.parseOwners(spark.read.text(ownersPath))
    def fastest(df: => DataFrame): (Double, Long) = Seq.fill(reps)(tr.rows(df)).minBy(_._1)
    val corpus = CorpusIO.corpus(spark, root)
    val (scanMs, files) = fastest(corpus)
    val raw = DepGraph.rawDependencies(corpus)
    val (rawMs, _) = fastest(raw)
    val flat = DepGraph.flattenedDependencies(raw)
    val (flatMs, _) = fastest(flat)
    val (facMs, _) = fastest(Owners.facilitators(flat, owners))
    val (_, sites) = tr.rows(DepGraph.callSites(corpus))
    val depFiles = flat.select(explode(col("used_in_files")).as("dep_file"))
    val (_, edges) = tr.rows(depFiles)
    val (_, nPatterns) = tr.rows(owners)
    val (_, matches) = tr.rows(Owners.matchingTeams(depFiles, owners, "dep_file"))
    Map(
      "io.CorpusIO.scan_ms" -> scanMs,
      "io.CorpusIO.files_per_op" -> files.toDouble,
      "ops.DepGraph.raw_ms" -> math.max(0.0, rawMs - scanMs),
      "ops.DepGraph.flatten_ms" -> math.max(0.0, flatMs - rawMs),
      "ops.DepGraph.call_sites_per_op" -> sites.toDouble,
      "ops.DepGraph.edges_per_op" -> edges.toDouble,
      "ops.Owners.facilitators_ms" -> math.max(0.0, facMs - flatMs),
      "ops.Owners.pattern_tests_per_op" -> (edges * nPatterns).toDouble,
      "ops.Owners.matches_per_op" -> matches.toDouble)
  }
}

/** `dep_scan`: a seeded edit to the SQL repo, then one rescan through
  * CorpusIO.corpus -> DepGraph.rawDependencies -> flattenedDependencies
  * -> Owners.facilitators (the reference's E1 + E2). */
final class DepScan(spark: SparkSession, work: Path, seed: Long, tr: Tracer) extends Workload {
  type Out = (Array[Row], Array[Row])
  val repo = new SqlRepo(seed, nFunctions = 40, nConsumers = 360)
  private val root = work.resolve("repo")
  private val ownersPath = work.resolve("MARTOWNERS")
  val warmupOps = 1
  val warmupSeconds = 0
  val tailPct = 75

  def setup(): Unit = {
    repo.materialize(root)
    Files.writeString(ownersPath, repo.ownersText)
    ()
  }

  private def owners: DataFrame = Owners.parseOwners(spark.read.text(ownersPath.toString))

  def op(i: Int): Out = {
    repo.edit(root, i)
    // cached like CorpusIO.scanAndSave caches its corpus: the graph
    // feeds both the flattened artifact and the facilitator resolution
    val corpus = tr.span("io.CorpusIO.corpus")(CorpusIO.corpus(spark, root.toString)).persist()
    val raw = tr.span("ops.DepGraph.rawDependencies")(DepGraph.rawDependencies(corpus))
    val flat = tr.span("ops.DepGraph.flattenedDependencies")(DepGraph.flattenedDependencies(raw)).persist()
    try {
      val flatRows = tr.span("collect.flat")(flat.collect())
      val facRows = tr.span("ops.Owners.facilitators")(Owners.facilitators(flat, owners).collect())
      (flatRows, facRows)
    } finally { flat.unpersist(); corpus.unpersist() }
  }

  def check(i: Int, out: Out): Checked = {
    DepScanCheck.compare("flattened dependencies", DepScanCheck.rowsOf(out._1, "used_in_files"), repo.expectedFlat)
    DepScanCheck.compare("facilitators", DepScanCheck.rowsOf(out._2, "teams"), repo.expectedFacilitators)
    Checked(repo.sqlFiles, 1.0)
  }

  override def traceOp(i: Int, out: Out): Map[String, Double] =
    DepScanLayers.probe(spark, root.toString, ownersPath.toString, tr)

  def close(): Unit = ()
}
