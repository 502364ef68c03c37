package graft.io

import graft.ops.{DepGraph, Owners}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Real file sources and artifact sinks for the dependency-scan
  * pipeline (reference E1/E2; SURVEY §2.1 S1-S4, K1-K3, P7).
  *
  * Sources are declarative Spark file scans: the reference's
  * per-file Python loop (glob → read_text → regex) becomes one
  * `binaryFile` scan with `pathGlobFilter`/`recursiveFileLookup`, so
  * 100 TB of SQL text is just more input splits. Non-UTF-8 files are
  * not errors: they are routed to a corrupt-record side channel
  * exactly like the reference's log-and-skip
  * (scan_dependencies.py:125, 151-152).
  *
  * Sinks produce the reference's two artifacts byte-compatibly
  * (python `json.dump(..., indent=2)` / the CODEFACILITATORS text
  * shape). Both artifacts are O(#functions) — catalog-sized, not
  * corpus-sized — so a driver-side assembly after the distributed
  * aggregation is the correct plan at any scale (same contract as the
  * reference's single output file, scan_dependencies.py:194-208).
  */
object CorpusIO {

  /** Raw scan: every `*.sql` under `root`, recursively, with the path
    * relativized to `root` and posix-normalized (P7,
    * scan_dependencies.py:21-23, 122). Keeps binary `content` plus a
    * strict-UTF-8 validity flag. `cast(binary as string)` is a raw
    * byte reinterpretation (no validation — unlike `decode`, which
    * throws on malformed input under ANSI), so `is_valid_utf8` on it
    * classifies without ever failing the scan. */
  private def rawScan(spark: SparkSession, root: String): DataFrame = {
    val rootUri = "file:" + new java.io.File(root).getCanonicalPath + "/"
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.sql")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(
        regexp_replace(substring(col("path"), rootUri.length + 1, Int.MaxValue),
          "\\\\", "/").as("path"),
        col("length"),
        expr("is_valid_utf8(cast(content as string))").as("is_utf8"),
        col("content").cast("string").as("text"))
  }

  /** S2/S3 — the scannable corpus: (path, content) for valid-UTF-8
    * files only. Feed straight into [[DepGraph.rawDependencies]]. */
  def corpus(spark: SparkSession, root: String): DataFrame =
    rawScan(spark, root).filter(col("is_utf8"))
      .select(col("path"), col("text").as("content"))

  /** F12 — deploy-time `${VAR}` template substitution
    * (r_4.001.045:1, r_3.000140:1): config-driven interpolation
    * applied to corpus text before parsing. Unknown variables stay
    * intact — the scanner regex tolerates them by matching the
    * `KIMBALL.` suffix (test_scan_dependencies.py:52 relies on this).
    * A fold of literal regexp_replace calls: constant-folded pattern,
    * stays in codegen, no UDF. Rewrites the `content` column. */
  def substituteTemplates(corpus: DataFrame, vars: Map[String, String]): DataFrame =
    vars.toSeq.sortBy(_._1).foldLeft(corpus) { case (df, (k, v)) =>
      df.withColumn("content", regexp_replace(col("content"),
        java.util.regex.Pattern.quote("${" + k + "}"),
        java.util.regex.Matcher.quoteReplacement(v)))
    }

  /** S3 side channel — files skipped for invalid UTF-8 (the
    * reference's error log, scan_dependencies.py:151-152). */
  def corrupt(spark: SparkSession, root: String): DataFrame =
    rawScan(spark, root).filter(!col("is_utf8"))
      .select(col("path"), col("length").as("n_bytes"))

  /** S4 — read a keyed-object dependency JSON back as rows (the E1→E2
    * artifact hand-off, generate_codefacilitators.py:16-17). Function
    * names are dynamic object keys, so the document parses as a MAP
    * and explodes — no per-artifact schema inference. */
  def readFlattenedJson(spark: SparkSession, path: String): DataFrame = {
    val schema = MapType(StringType, StructType(Seq(
      StructField("type", StringType),
      StructField("path", StringType),
      StructField("used_in", StructType(Seq(
        StructField("files", ArrayType(StringType))))))))
    spark.read.option("wholetext", "true").text(path)
      .select(explode(from_json(col("value"), schema)).as(Seq("function", "dep")))
      .select(col("function"), col("dep.path").as("path"),
        col("dep.used_in.files").as("used_in_files"))
  }

  // ---- K1: JSON artifact sink (python json.dump indent=2 compatible) ----

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jarr(xs: Seq[String], indent: String): String =
    if (xs.isEmpty) "[]"
    else xs.map(x => indent + "  " + jstr(x)).mkString("[\n", ",\n", "\n" + indent + "]")

  /** Raw-graph record (scan_dependencies.py:18-26): type, path,
    * used_in{files, functions}; flat-graph record omits `functions`
    * (`:185-192`). Ordering: records sorted by function name (the
    * reference's dict order is filesystem-glob order — unspecified —
    * so we pin the deterministic sort; list contents are sorted in the
    * reference itself). */
  private def depEntry(name: String, path: String, files: Seq[String],
                       functions: Option[Seq[String]]): String = {
    val usedIn = functions match {
      case Some(fs) =>
        s"""    "used_in": {
           |      "files": ${jarr(files, "      ")},
           |      "functions": ${jarr(fs, "      ")}
           |    }""".stripMargin
      case None =>
        s"""    "used_in": {
           |      "files": ${jarr(files, "      ")}
           |    }""".stripMargin
    }
    s"""  ${jstr(name)}: {
       |    "type": "function",
       |    "path": ${jstr(path)},
       |$usedIn
       |  }""".stripMargin
  }

  private def keyedJson(entries: Seq[String]): String =
    if (entries.isEmpty) "{}" else entries.mkString("{\n", ",\n", "\n}")

  /** K1 — serialize [[DepGraph.rawDependencies]] output. The input is
    * the already-aggregated catalog-sized table; collect is the
    * artifact boundary, same as the reference's json.dump. */
  def rawDepsJson(raw: DataFrame): String =
    keyedJson(raw.orderBy(col("function")).collect().toSeq.map { r =>
      depEntry(r.getAs[String]("function"), r.getAs[String]("path"),
        r.getAs[collection.Seq[String]]("used_in_files").toSeq,
        Some(r.getAs[collection.Seq[String]]("used_in_functions").toSeq))
    })

  /** K1 — serialize [[DepGraph.flattenedDependencies]] output. */
  def flatDepsJson(flat: DataFrame): String =
    keyedJson(flat.orderBy(col("function")).collect().toSeq.map { r =>
      depEntry(r.getAs[String]("function"), r.getAs[String]("path"),
        r.getAs[collection.Seq[String]]("used_in_files").toSeq, None)
    })

  /** K2 — CODEFACILITATORS text artifact
    * (generate_codefacilitators.py:44-49): header + `path team…`
    * sorted by function, teams sorted. */
  def facilitatorsText(facs: DataFrame): String = {
    val lines = facs.orderBy(col("function")).collect().toSeq.map { r =>
      (r.getAs[String]("path") +: r.getAs[collection.Seq[String]]("teams").toSeq).mkString(" ")
    }
    "# Auto-generated from dependencies\n\n" + lines.map(_ + "\n").mkString
  }

  private def writeFile(path: String, content: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, content)
    ()
  }

  /** K3 — the E1 entry point end-to-end: scan a real directory tree,
    * build both graphs, persist both JSON artifacts (the job-boundary
    * hand-off the reference does with workflow artifacts,
    * pr-review-flow.yml:33-58). Returns the corrupt-file side channel
    * so callers can surface skipped files. */
  def scanAndSave(spark: SparkSession, root: String, outDir: String,
                  transitive: Boolean = false): DataFrame = {
    val c = corpus(spark, root).persist() // feeds catalog + call-site scans
    val raw = DepGraph.rawDependencies(c)
    val flat = DepGraph.flattenedDependencies(raw)
    writeFile(s"$outDir/raw_dependencies.json", rawDepsJson(raw))
    writeFile(s"$outDir/flattened_dependencies.json", flatDepsJson(flat))
    // flagged EXTENSION artifact, same record shape: full closure via
    // DepGraph.transitiveDependencies (the reference's recursion helper
    // is never self-called — scan_dependencies.py:164-171 — so one-hop
    // stays the conformance default and the default output set)
    if (transitive)
      writeFile(s"$outDir/flattened_dependencies_transitive.json",
        flatDepsJson(DepGraph.transitiveDependencies(raw)))
    corrupt(spark, root)
  }

  /** E2 end-to-end: flattened JSON + MARTOWNERS lines →
    * CODEFACILITATORS. Team handles keep their `@org/…` form — the
    * reference strips `@` only for membership probes
    * (pr-review-flow.yml:149), not in this artifact
    * (generate_codefacilitators.py:49). */
  def generateFacilitators(spark: SparkSession, flatJsonPath: String,
                           ownersPath: String, outPath: String): Unit = {
    val flat = readFlattenedJson(spark, flatJsonPath)
    val owners = Owners.parseOwners(spark.read.text(ownersPath))
    writeFile(outPath, facilitatorsText(Owners.facilitators(flat, owners)))
  }
}
