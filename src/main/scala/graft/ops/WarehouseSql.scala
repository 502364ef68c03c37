package graft.ops

import org.apache.spark.sql.SparkSession

/** Verbatim execution of the reference's warehouse SQL surface.
  *
  * The reference's query layer is SQL *text* calling schema-qualified
  * scalar functions — `KIMBALL.UTM_CAMPAIGN_TO_PRODUCT(UTM_CAMPAIGN)`
  * (superset_objects/datasets/CPA-WEB-COSTS.sql:1,
  * DIM_MFO_FD_WEB_CHANNEL.sql:2-9, superset/datasets/kimball/
  * kimball.msb-web-fb_req.sql:1), sometimes behind deploy templates
  * and an environment prefix
  * (`${ENV_PREFIX}DWH.KIMBALL.UTM_CAMPAIGN_TO_PRODUCT`,
  * deployer/patch/DWH/kimball/
  * r_4.001.045_v_marketing_paid_traffic_report_hot_view.sql:1).
  * [[Udfs.register]] exposes the functions under flattened names
  * (`kimball_utm_campaign_to_product` — Spark has no function
  * schemas), so feeding those files straight to `spark.sql` hits
  * unresolved-function errors. This object closes that seam: a user
  * can run the reference's own .sql texts after [[prepare]].
  *
  * [[rewriteCalls]] is a CALL-GRAMMAR rewrite, not a SQL parser: only
  * two token shapes change — qualified function calls and the
  * warehouse `NUMBER(p,s)` type — everything else passes through
  * byte-for-byte, so the executed text IS the reference text.
  */
object WarehouseSql {

  /** `${VAR}` → value substitution on SQL text — the string twin of
    * [[graft.io.CorpusIO.substituteTemplates]] (same semantics:
    * literal match, unknown variables stay intact). */
  def substitute(sql: String, vars: Map[String, String]): String =
    vars.toSeq.sortBy(_._1).foldLeft(sql) { case (s, (k, v)) =>
      s.replace("${" + k + "}", v)
    }

  /** Default deploy variables: no environment prefix, the `kimball`
    * schema template resolved to its literal name (the values the
    * reference's production deploy uses for the primary environment —
    * pr-review-flow.yml substitutes per-env prefixes the same way). */
  val DefaultVars: Map[String, String] =
    Map("ENV_PREFIX" -> "", "kimball" -> "KIMBALL", "KIMBALL" -> "KIMBALL")

  // optionally-qualified warehouse call: [ENV.][DWH.]KIMBALL.F( —
  // anchored at a word boundary so an identifier merely ENDING in
  // "KIMBALL" (MY_KIMBALL.F) is never mangled mid-token
  private val CallRe = """(?i)\b(?:[A-Za-z_][\w$]*\.)*KIMBALL\.([A-Za-z_][\w$]*)\s*\(""".r
  // warehouse NUMBER(p[,s]) type (TRY_CAST targets) → Spark DECIMAL
  private val NumberTypeRe = """(?i)\bNUMBER\s*\(""".r

  /** Spans of `sql` the rewrite must never touch: single-quoted string
    * literals (with `''` doubling AND `\'` backslash escapes — Spark's
    * default parser honors both, and a scanner ignoring backslashes
    * would end the span early and rewrite text Spark executes as
    * literal data), double-quoted strings/identifiers (same two escape
    * forms), `--` line comments and block comments. Returned half-open
    * [start, end) intervals, in order. An unclosed literal/comment
    * extends to end-of-text — the rewrite stays inert on text the SQL
    * parser will reject anyway. */
  private def protectedSpans(sql: String): Seq[(Int, Int)] = {
    val spans = Seq.newBuilder[(Int, Int)]
    val n = sql.length
    var i = 0
    def quoted(start: Int, q: Char): Int = {
      var j = start + 1
      while (j < n) {
        val c = sql.charAt(j)
        if (c == '\\') j += 2 // backslash escape: skip the escaped char
        else if (c == q) {
          if (j + 1 < n && sql.charAt(j + 1) == q) j += 2 // doubled quote = escape
          else return j + 1
        } else j += 1
      }
      n
    }
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"') {
        val end = quoted(i, c); spans += ((i, end)); i = end
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        val nl = sql.indexOf('\n', i)
        val end = if (nl < 0) n else nl // keep the newline as code
        spans += ((i, end)); i = end
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val close = sql.indexOf("*/", i + 2)
        val end = if (close < 0) n else close + 2
        spans += ((i, end)); i = end
      } else i += 1
    }
    spans.result()
  }

  /** Rewrite the warehouse call grammar to Spark-resolvable tokens:
    * any `…KIMBALL.F(` chain becomes the registered flattened name
    * `kimball_f(`, and the `NUMBER(` type constructor becomes
    * `DECIMAL(` (same precision/scale text). String literals,
    * double-quoted identifiers and comments pass through byte-for-byte
    * — a literal containing `KIMBALL.F(x)` or a commented-out
    * `NUMBER(38,0)` is data, not call grammar. */
  def rewriteCalls(sql: String): String = {
    def rewriteCode(s: String): String = {
      // quoteReplacement: '$' is legal in the identifier class and must
      // not be read as a group reference in the replacement
      val calls = CallRe.replaceAllIn(s, m =>
        scala.util.matching.Regex.quoteReplacement(s"kimball_${m.group(1).toLowerCase}("))
      NumberTypeRe.replaceAllIn(calls, _ => "DECIMAL(")
    }
    val sb = new StringBuilder
    var pos = 0
    protectedSpans(sql).foreach { case (a, b) =>
      sb.append(rewriteCode(sql.substring(pos, a)))
      sb.append(sql.substring(a, b))
      pos = b
    }
    sb.append(rewriteCode(sql.substring(pos)))
    sb.toString
  }

  /** Full preparation of a reference .sql text: template substitution
    * then call-grammar rewrite. Registers the UDF names so the result
    * is immediately runnable via `spark.sql`. */
  def prepare(spark: SparkSession, sql: String): String = {
    Udfs.register(spark)
    rewriteCalls(substitute(sql, DefaultVars))
  }
}
