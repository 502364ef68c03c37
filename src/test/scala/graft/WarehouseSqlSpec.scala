package graft

import graft.ops.{Udfs, WarehouseSql}
import org.apache.spark.sql.functions._

/** Verbatim execution of warehouse SQL fragments: `${VAR}`
  * substitution + the call-grammar rewrite, then `spark.sql`. The
  * reference stores its SQL as FRAGMENTS (a WHERE clause, a SELECT
  * line with a trailing comma, a 7-arg call continuing a select list,
  * a templated CASE arm), so each is completed with the minimal
  * harness text around the untouched fragment.
  *
  * Each golden runs a hand-written fragment of the same shape, whose
  * rows over [[utmRows]] are worked out by hand below, and, when the
  * reference tree is present, the real .sql text (read byte-for-byte
  * at test time) asserted row-equal to the codegen Column twins. */
class WarehouseSqlSpec extends SparkSpec {
  import spark.implicits._

  private val refRoot = "/root/reference"
  /** The reference's fragment at `rel`, when the tree is present. */
  private def refSql(rel: String): Option[String] = {
    val p = java.nio.file.Paths.get(refRoot, rel)
    if (refTreeAvailable && java.nio.file.Files.isReadable(p))
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

  // Hand-worked products of utmRows' campaigns (Udfs.productOfCampaign:
  // insurance/strah first, then micro/mfo/loan, else Прочее)
  private val Micro = "Микрокредиты"
  private val Insurance = "Страхование имущества"
  private val Other = "Прочее"

  test("WHERE fragment runs verbatim: hand-written twin, and CPA-WEB-COSTS.sql vs the Column twin") {
    val df = utmRows()
    def run(frag: String) = spark.sql("SELECT UTM_CAMPAIGN FROM utm_rows\n" +
      WarehouseSql.prepare(spark, frag)).as[String].collect().toSet
    // a 3-part qualified call in the predicate, a comment line after it
    val synthetic = "WHERE DWH.KIMBALL.UTM_CAMPAIGN_TO_PRODUCT(UTM_CAMPAIGN) = '" + Insurance + "'\n" +
      "-- KIMBALL.UTM_CAMPAIGN_TO_PRODUCT( stays a comment\n"
    assert(run(synthetic) == Set("gg_insurance_home", "strah_retarget"))
    refSql("superset_objects/datasets/CPA-WEB-COSTS.sql").foreach { frag =>
      val want = df.filter(Udfs.utmCampaignToProduct(col("UTM_CAMPAIGN")) === Micro)
        .select(col("UTM_CAMPAIGN")).as[String].collect().toSet
      assert(run(frag) == want && want.nonEmpty)
    }
  }

  test("SELECT fragment with a trailing comma runs verbatim: hand-written twin, and kimball.msb-web-fb_req.sql") {
    val df = utmRows()
    // the fragment IS the select-list head (trailing comma included);
    // complete with one more column + FROM
    def run(frag: String) = spark.sql(WarehouseSql.prepare(spark, frag) + " UTM_SOURCE FROM utm_rows")
    val synthetic = "SELECT UTM_CAMPAIGN, KIMBALL.UTM_CAMPAIGN_TO_PRODUCT(UTM_CAMPAIGN) AS CAMPAIGN,"
    val got = run(synthetic).select(col("UTM_CAMPAIGN"), col("CAMPAIGN")).as[(String, String)].collect().toMap
    assert(got == Map("fb_micro_loans" -> Micro, "gg_insurance_home" -> Insurance,
      "strah_retarget" -> Insurance, "mfo_aug" -> Micro, "organic_generic" -> Other,
      (null: String) -> Other))
    refSql("superset/datasets/kimball/kimball.msb-web-fb_req.sql").foreach { frag =>
      val want = df.select(Udfs.utmCampaignToProduct(col("UTM_CAMPAIGN")))
        .as[String].collect().toSeq.sorted
      assert(run(frag).select(col("CAMPAIGN")).as[String].collect().toSeq.sorted == want)
    }
  }

  test("7-arg call fragment runs verbatim: hand-written twin, and DIM_MFO_FD_WEB_CHANNEL.sql") {
    val df = utmRows()
    // the fragment begins with a leading comma (select-list continuation)
    def run(frag: String) = spark.sql("SELECT UTM_CAMPAIGN\n" + WarehouseSql.prepare(spark, frag) +
      " AS channel FROM utm_rows")
    val synthetic = ", ${ENV_PREFIX}DWH.KIMBALL.UTM_TO_FINANCIAL_CHANNEL(UTM_SOURCE, UTM_MEDIUM,\n" +
      "    UTM_CAMPAIGN, TRY_CAST(UTM_CONTENT AS NUMBER(38,0)), NULL, NULL, '" + Micro + "')"
    val got = run(synthetic).as[(String, String)].collect().toMap
    // paid media (cpc/cpm/paid) win over an organic source; email is neither
    assert(got == Map("fb_micro_loans" -> s"Платный/$Micro", "gg_insurance_home" -> s"Платный/$Micro",
      "strah_retarget" -> s"Органика/$Micro", "mfo_aug" -> Micro,
      "organic_generic" -> s"Платный/$Micro", (null: String) -> Micro))
    refSql("superset_objects/datasets/DIM_MFO_FD_WEB_CHANNEL.sql").foreach { frag =>
      val want = df.select(Udfs.utmToFinancialChannel(
        col("UTM_SOURCE"), col("UTM_MEDIUM"), col("UTM_CAMPAIGN"),
        expr("TRY_CAST(UTM_CONTENT AS DECIMAL(38,0))"),
        lit(null), lit(null), lit(Micro)).as("channel"))
        .as[String].collect().toSeq
      val real = run(frag).select(col("channel")).as[String].collect().toSeq
      assert(real == want)
      assert(real.contains(s"Платный/$Micro"))
    }
  }

  test("templated CASE arm runs verbatim: hand-written twin, and the hot-view fragment") {
    val df = utmRows()
    def run(frag: String) = spark.sql("SELECT UTM_CAMPAIGN, CASE\n" + WarehouseSql.prepare(spark, frag) +
      " ELSE '" + Other + "' END AS segment FROM utm_rows")
    // both deploy templates resolve before the call rewrite
    val synthetic = "WHEN ${ENV_PREFIX}DWH.${kimball}.UTM_CAMPAIGN_TO_PRODUCT(UTM_CAMPAIGN) = '" +
      Micro + "' THEN 'МФО'"
    val got = run(synthetic).as[(String, String)].collect().toMap
    assert(got == Map("fb_micro_loans" -> "МФО", "gg_insurance_home" -> Other,
      "strah_retarget" -> Other, "mfo_aug" -> "МФО", "organic_generic" -> Other,
      (null: String) -> Other))
    refSql("deployer/patch/DWH/kimball/r_4.001.045_v_marketing_paid_traffic_report_hot_view.sql").foreach { frag =>
      val want = df.select(
        when(Udfs.utmCampaignToProduct(col("UTM_CAMPAIGN")) === Insurance, "ИФЛ")
          .otherwise(Other).as("segment")).as[String].collect().toSeq
      val real = run(frag).select(col("segment")).as[String].collect().toSeq
      assert(real == want)
      assert(real.contains("ИФЛ"))
    }
  }
}
