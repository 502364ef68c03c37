package graft

import graft.ops.{Udfs, WarehouseSql}
import org.apache.spark.sql.functions._

/** Verbatim execution of the reference's warehouse SQL fragments:
  * the real .sql texts (read from the reference tree at test time,
  * byte-for-byte) run through `${VAR}` substitution + the
  * call-grammar rewrite and then `spark.sql`, asserted row-equal to
  * the codegen Column twins on the same input. The fragments are
  * stored as FRAGMENTS in the reference (a WHERE clause, a SELECT
  * line with a trailing comma, a CASE arm), so each is completed with
  * the minimal harness text around the untouched fragment. */
class WarehouseSqlSpec extends SparkSpec {
  import spark.implicits._

  private val refRoot = "/root/reference"
  private def refSql(rel: String): Option[String] = {
    val p = java.nio.file.Paths.get(refRoot, rel)
    if (java.nio.file.Files.isReadable(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
    else None
  }

  private def utmRows() = {
    val df = Seq(
      ("fb", "cpc", "fb_micro_loans", "123"),
      ("gg", "cpm", "gg_insurance_home", "9"),
      ("organic", null, "strah_retarget", "x"),
      ("fb", "email", "mfo_aug", null),
      ("yt", "paid", "organic_generic", "77"),
      (null, null, null, null)
    ).toDF("UTM_SOURCE", "UTM_MEDIUM", "UTM_CAMPAIGN", "UTM_CONTENT")
    df.createOrReplaceTempView("utm_rows")
    df
  }

  test("rewriteCalls maps every qualified call shape and leaves the rest untouched") {
    // the three shapes that appear in the reference files
    assert(WarehouseSql.rewriteCalls("KIMBALL.UTM_CAMPAIGN_TO_PRODUCT(X)") ==
      "kimball_utm_campaign_to_product(X)")
    assert(WarehouseSql.rewriteCalls("DWH.KIMBALL.utm_to_financial_channel (a)") ==
      "kimball_utm_to_financial_channel(a)")
    assert(WarehouseSql.rewriteCalls("PROD_DWH.KIMBALL.F(a)") == "kimball_f(a)")
    assert(WarehouseSql.rewriteCalls("TRY_CAST(c AS NUMBER(38,0))") ==
      "TRY_CAST(c AS DECIMAL(38,0))")
    // non-call text with the schema name stays put
    assert(WarehouseSql.rewriteCalls("SELECT 'KIMBALL' AS s, kimball_x(1)") ==
      "SELECT 'KIMBALL' AS s, kimball_x(1)")
    // substitution tolerates unknown vars (scanner contract)
    assert(WarehouseSql.substitute("${ENV_PREFIX}A ${nope}", WarehouseSql.DefaultVars) ==
      "A ${nope}")
  }

  test("rewriteCalls never touches string literals, quoted identifiers or comments") {
    // call grammar inside a literal is data
    assert(WarehouseSql.rewriteCalls("SELECT 'KIMBALL.F(x)' AS s") ==
      "SELECT 'KIMBALL.F(x)' AS s")
    // '' escape keeps the literal span intact past the doubled quote
    assert(WarehouseSql.rewriteCalls("SELECT 'it''s NUMBER(38,0)' , NUMBER(2,1)") ==
      "SELECT 'it''s NUMBER(38,0)' , DECIMAL(2,1)")
    // a user function literally named NUMBER survives when quoted
    assert(WarehouseSql.rewriteCalls("SELECT \"NUMBER\"(x) FROM t") ==
      "SELECT \"NUMBER\"(x) FROM t")
    // line comment shields to end-of-line only
    assert(WarehouseSql.rewriteCalls("-- KIMBALL.F(a)\nKIMBALL.F(a)") ==
      "-- KIMBALL.F(a)\nkimball_f(a)")
    // block comment shields its span, code resumes after */
    assert(WarehouseSql.rewriteCalls("/* NUMBER(1) */ KIMBALL.G(b)") ==
      "/* NUMBER(1) */ kimball_g(b)")
    // unclosed literal: rewrite stays inert (parser will reject anyway)
    assert(WarehouseSql.rewriteCalls("SELECT 'open KIMBALL.F(") ==
      "SELECT 'open KIMBALL.F(")
    // backslash escape: Spark's parser reads \' as an escaped quote, so
    // the literal extends to the LAST quote — call grammar inside it is
    // data (a ''-only scanner would end the span early and corrupt it)
    assert(WarehouseSql.rewriteCalls("SELECT 'it\\'s KIMBALL.F(x)' , KIMBALL.G(y)") ==
      "SELECT 'it\\'s KIMBALL.F(x)' , kimball_g(y)")
  }

  test("CPA-WEB-COSTS.sql WHERE fragment runs verbatim and matches the Column twin") {
    val frag = refSql("superset_objects/datasets/CPA-WEB-COSTS.sql")
    assume(refTreeAvailable && frag.isDefined, "reference tree not present (or skipped via GRAFT_SKIP_REF_GOLDEN)")
    val df = utmRows()
    val sql = "SELECT UTM_CAMPAIGN FROM utm_rows\n" +
      WarehouseSql.prepare(spark, frag.get)
    val got = spark.sql(sql).as[String].collect().toSet
    val want = df.filter(Udfs.utmCampaignToProduct(col("UTM_CAMPAIGN")) === "Микрокредиты")
      .select(col("UTM_CAMPAIGN")).as[String].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("kimball.msb-web-fb_req.sql SELECT fragment runs verbatim and matches") {
    val frag = refSql("superset/datasets/kimball/kimball.msb-web-fb_req.sql")
    assume(refTreeAvailable && frag.isDefined, "reference tree not present (or skipped via GRAFT_SKIP_REF_GOLDEN)")
    val df = utmRows()
    // the fragment IS the select-list head (trailing comma included);
    // complete with one more column + FROM
    val sql = WarehouseSql.prepare(spark, frag.get) + " UTM_SOURCE FROM utm_rows"
    val got = spark.sql(sql).select(col("CAMPAIGN"))
      .as[String].collect().toSeq.sorted
    val want = df.select(Udfs.utmCampaignToProduct(col("UTM_CAMPAIGN")))
      .as[String].collect().toSeq.sorted
    assert(got == want)
  }

  test("DIM_MFO_FD_WEB_CHANNEL.sql 7-arg call fragment runs verbatim and matches") {
    val frag = refSql("superset_objects/datasets/DIM_MFO_FD_WEB_CHANNEL.sql")
    assume(refTreeAvailable && frag.isDefined, "reference tree not present (or skipped via GRAFT_SKIP_REF_GOLDEN)")
    val df = utmRows()
    // fragment begins with a leading comma (select-list continuation)
    val sql = "SELECT UTM_SOURCE\n" + WarehouseSql.prepare(spark, frag.get) +
      " AS channel FROM utm_rows"
    val got = spark.sql(sql).select(col("channel")).as[String].collect().toSeq
    val want = df.select(Udfs.utmToFinancialChannel(
      col("UTM_SOURCE"), col("UTM_MEDIUM"), col("UTM_CAMPAIGN"),
      expr("TRY_CAST(UTM_CONTENT AS DECIMAL(38,0))"),
      lit(null), lit(null), lit("Микрокредиты")).as("channel"))
      .as[String].collect().toSeq
    assert(got == want)
    assert(got.contains("Платный/Микрокредиты"))
  }

  test("templated hot-view CASE arm (${ENV_PREFIX}DWH.KIMBALL...) runs verbatim and matches") {
    val frag = refSql(
      "deployer/patch/DWH/kimball/r_4.001.045_v_marketing_paid_traffic_report_hot_view.sql")
    assume(refTreeAvailable && frag.isDefined, "reference tree not present (or skipped via GRAFT_SKIP_REF_GOLDEN)")
    val df = utmRows()
    val sql = "SELECT CASE\n" + WarehouseSql.prepare(spark, frag.get) +
      " ELSE 'Прочее' END AS segment FROM utm_rows"
    val got = spark.sql(sql).select(col("segment")).as[String].collect().toSeq
    val want = df.select(
      when(Udfs.utmCampaignToProduct(col("UTM_CAMPAIGN")) === "Страхование имущества", "ИФЛ")
        .otherwise("Прочее").as("segment")).as[String].collect().toSeq
    assert(got == want)
    assert(got.contains("ИФЛ"))
  }
}
