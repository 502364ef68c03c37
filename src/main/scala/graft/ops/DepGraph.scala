package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQL-corpus dependency analytics (reference E1,
  * `.github/scripts/scan_dependencies.py:91-216` — semantics only,
  * re-planned as declarative Spark).
  *
  * Input corpus = `DataFrame(path: string, content: string)` — paths
  * already relative + posix-normalized (P7). The whole pipeline is one
  * Catalyst plan: scan → regex project → explode → broadcast join →
  * two-stage set aggregation; the reference's per-file Python loop
  * parallelizes by corpus row at any scale (100 TB = more input
  * splits, same plan).
  */
object DepGraph {

  /** Filename→function rule (scan_dependencies.py:32-34). Anchored to
    * the basename; digits in the name part are rejected (verified
    * reference quirk: `[a-z_]+` only). */
  val FunctionFileRegex = "(?i)^r_\\d+\\.\\d+(?:\\.\\d+)?_f_([a-z_]+)\\.sql$"

  /** Call-site rule over lowercased content (scan_dependencies.py:35-37,
    * 128-130): `kimball.<name>(` — all occurrences. */
  val CallSiteRegex = "kimball\\.([a-z_]+)\\s*\\("

  /** Catalog scan (S1/P1, scan_dependencies.py:43-67): non-recursive
    * `*.sql` under deployer/patch/DWH/kimball; name from filename.
    * On name collision the reference's dict keeps the LAST glob hit;
    * glob order is filesystem-dependent, so we pin the deterministic
    * max(path) — documented divergence from unspecified behavior. */
  def catalog(corpus: DataFrame): DataFrame =
    corpus
      .filter(col("path").rlike("^deployer/patch/DWH/kimball/[^/]+\\.sql$"))
      .select(
        lower(regexp_extract(element_at(split(col("path"), "/"), -1), FunctionFileRegex, 1))
          .as("function"),
        col("path"))
      .filter(col("function") =!= "")
      .groupBy(col("function"))
      .agg(max(col("path")).as("def_path"))

  /** The four consumer scan roots (S2, scan_dependencies.py:71-76). */
  val SearchDirs: Seq[String] = Seq(
    "replicator/source", "deployer/patch",
    "superset/datasets/kimball", "superset_objects/datasets")

  private def inSearchDirs = SearchDirs
    .map(d => col("path").startsWith(d + "/"))
    .reduce(_ || _) && col("path").endsWith(".sql")

  /** Call-site extraction (P2): one row per `kimball.f(` occurrence in
    * the scanned corpus subset. */
  def callSites(corpus: DataFrame): DataFrame =
    corpus
      .filter(inSearchDirs)
      .select(col("path"),
        explode(regexp_extract_all(lower(col("content")), lit(CallSiteRegex), lit(1)))
          .as("function"))

  /** Raw dependency graph (E1 steps c-e): per function, the sorted
    * distinct consumer files and consumer functions.
    *
    * Output: (function, path, used_in_files: array<string>,
    * used_in_functions: array<string>) — one row per catalog function,
    * empty arrays when unused (reference initializes every function,
    * scan_dependencies.py:107-113).
    */
  def rawDependencies(corpus: DataFrame): DataFrame = {
    val cat = catalog(corpus)
    val sites = callSites(corpus)
      .join(broadcast(cat), Seq("function"))                 // J1/P3: known functions only
      .filter(col("path") =!= col("def_path"))               // P4: skip self-definition
    // J2: is the calling file itself a function definition?
    val callerCat = cat.select(col("function").as("caller_function"),
      col("def_path").as("caller_path"))
    val classified = sites
      .join(broadcast(callerCat), col("path") === col("caller_path"), "left")
      .select(col("function"),
        when(col("caller_function").isNull, col("path")).as("consumer_file"),
        col("caller_function"))
    val grouped = classified.groupBy(col("function")).agg(
      sort_array(collect_set(col("consumer_file"))).as("used_in_files"),
      sort_array(collect_set(col("caller_function"))).as("used_in_functions"))
    cat.join(grouped, Seq("function"), "left")
      .select(col("function"), col("def_path").as("path"),
        coalesce(col("used_in_files"), array().cast(ArrayType(StringType))).as("used_in_files"),
        coalesce(col("used_in_functions"), array().cast(ArrayType(StringType))).as("used_in_functions"))
  }

  /** One-hop flattening (J5, scan_dependencies.py:163-192 — verified
    * NOT transitive: only the direct `used_in_functions` are expanded).
    * files(F) ∪ ⋃ { files(G) : G directly uses F }. */
  def flattenedDependencies(raw: DataFrame): DataFrame = {
    val ownFiles = raw.select(col("function"), col("path"), col("used_in_files"))
    val viaFuncs = raw
      .select(col("function"), explode(col("used_in_functions")).as("g"))
      .join(raw.select(col("function").as("g"), col("used_in_files").as("g_files")), Seq("g"))
      .groupBy(col("function"))
      .agg(flatten(collect_list(col("g_files"))).as("indirect_files"))
    ownFiles.join(viaFuncs, Seq("function"), "left")
      .select(col("function"), col("path"),
        array_sort(array_distinct(concat(col("used_in_files"),
          coalesce(col("indirect_files"), array().cast(ArrayType(StringType))))))
          .as("used_in_files"))
  }
}
