package graft

import graft.io.CorpusIO
import java.nio.file.{Files, Path, Paths}

/** End-to-end E1/E2 over a REAL directory tree (tmpdir fixture in the
  * reference's corpus shape, test_scan_dependencies.py:18-64 style):
  * recursive file scan with non-UTF-8 side channel, dependency graphs,
  * byte-exact python-`json.dump(indent=2)` artifacts, JSON round-trip,
  * and the CODEFACILITATORS text artifact. */
class CorpusIOSpec extends SparkSpec {

  private def write(root: Path, rel: String, content: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    ()
  }

  private def fixture(): Path = {
    val root = Files.createTempDirectory("corpus")
    write(root, "deployer/patch/DWH/kimball/r_1.1_f_base_func.sql",
      "CREATE OR REPLACE FUNCTION ${kimball}KIMBALL.BASE_FUNC(x VARCHAR) AS 1;")
    write(root, "deployer/patch/DWH/kimball/r_1.2_f_middle_func.sql",
      "CREATE OR REPLACE FUNCTION KIMBALL.MIDDLE_FUNC(x VARCHAR) AS KIMBALL.BASE_FUNC(x);")
    write(root, "superset_objects/datasets/view1.sql",
      "SELECT ${ENV_PREFIX}KIMBALL.middle_func(UTM_CAMPAIGN) FROM t;")
    // outside every search dir: its call-sites must not count
    write(root, "unscanned/elsewhere.sql", "SELECT KIMBALL.base_func(1);")
    // wrong extension: excluded by the path glob
    write(root, "superset_objects/datasets/notes.txt", "KIMBALL.base_func(1)")
    // invalid UTF-8: skipped with a side-channel record, like the
    // reference's read_text error log
    Files.write(root.resolve("deployer/patch/bad_encoding.sql"),
      Array[Byte](0x53, 0x51, 0x4c, 0xFF.toByte, 0xFE.toByte, 0x00))
    root
  }

  private val rawGolden =
    """{
      |  "base_func": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_1.1_f_base_func.sql",
      |    "used_in": {
      |      "files": [],
      |      "functions": [
      |        "middle_func"
      |      ]
      |    }
      |  },
      |  "middle_func": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_1.2_f_middle_func.sql",
      |    "used_in": {
      |      "files": [
      |        "superset_objects/datasets/view1.sql"
      |      ],
      |      "functions": []
      |    }
      |  }
      |}""".stripMargin

  private val flatGolden =
    """{
      |  "base_func": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_1.1_f_base_func.sql",
      |    "used_in": {
      |      "files": [
      |        "superset_objects/datasets/view1.sql"
      |      ]
      |    }
      |  },
      |  "middle_func": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_1.2_f_middle_func.sql",
      |    "used_in": {
      |      "files": [
      |        "superset_objects/datasets/view1.sql"
      |      ]
      |    }
      |  }
      |}""".stripMargin

  test("scanAndSave: real tree -> byte-exact json.dump(indent=2) artifacts + corrupt side channel") {
    val root = fixture()
    val out = Files.createTempDirectory("deps").toString
    val corrupt = CorpusIO.scanAndSave(spark, root.toString, out)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(corrupt.toSeq == Seq(("deployer/patch/bad_encoding.sql", 6L)))
    assert(Files.readString(Paths.get(s"$out/raw_dependencies.json")) == rawGolden)
    assert(Files.readString(Paths.get(s"$out/flattened_dependencies.json")) == flatGolden)
  }

  // ---- golden E2E over a synthetic tree in the reference's shape ----
  // Written here so the E2E golden always runs. Call sites worked out
  // by hand from the same three rules as the real-tree golden below:
  //  - catalog: the `_f_` files directly under
  //    deployer/patch/DWH/kimball — product_of, and channel_of with a
  //    three-part version;
  //  - consumers: `kimball.<name>(` in the four search dirs, any case,
  //    blanks allowed before the paren, a file's own definition
  //    skipped. product_of calls channel_of, so it is a consumer
  //    FUNCTION of channel_of. The `_v_` view and the `_f_` file one
  //    directory down are not catalog functions, so they are consumer
  //    FILES;
  //  - decoys: a caller outside the search dirs, a `.md` caller, an
  //    unknown function, and a non-UTF-8 caller, which the side
  //    channel reports and the scan skips.
  // One-hop flattening gives channel_of product_of's files too.

  private val kimballDir = "deployer/patch/DWH/kimball"
  private val productOf = s"$kimballDir/r_2.000100_f_product_of.sql"
  private val channelOf = s"$kimballDir/r_5.001.002_f_channel_of.sql"
  private val salesView = s"$kimballDir/r_4.002.010_v_sales_report.sql"
  private val legacy = s"$kimballDir/old/r_1.0_f_legacy.sql"
  private val orders = "superset/datasets/kimball/kimball.orders.sql"
  private val loads = "replicator/source/load_channels.sql"
  private val dimChannel = "superset_objects/datasets/DIM_CHANNEL.sql"
  private val revenue = "superset_objects/datasets/REVENUE.sql"
  private val brokenBytes = "SELECT KIMBALL.PRODUCT_OF(x) -- ".getBytes("UTF-8") ++ Array(0xC3.toByte, 0x28.toByte)

  private def referenceShapedTree(): Path = {
    val root = Files.createTempDirectory("corpus-refshape")
    write(root, productOf,
      "CREATE OR REPLACE FUNCTION ${kimball}KIMBALL.PRODUCT_OF(c VARCHAR) AS\n" +
        "  CASE WHEN KIMBALL.CHANNEL_OF(c) = 'paid' THEN 'ads' ELSE 'organic' END;\n")
    write(root, channelOf,
      "CREATE OR REPLACE FUNCTION KIMBALL.CHANNEL_OF(c VARCHAR) AS lower(c);\n")
    write(root, salesView, "CREATE VIEW sales AS SELECT kimball.product_of (utm) FROM t;\n")
    write(root, legacy, "SELECT kimball.channel_of(c) FROM old_t;\n")
    write(root, orders, "SELECT ${ENV_PREFIX}KIMBALL.PRODUCT_OF(UTM_CAMPAIGN) FROM orders;\n")
    write(root, loads, "INSERT INTO ch SELECT kimball.channel_of(src), kimball.unknown_fn(src) FROM raw;\n")
    write(root, dimChannel, "SELECT KIMBALL.channel_of(c) AS channel FROM dim;\n")
    write(root, revenue, "SELECT kimball.product_of(c), sum(v) FROM rev GROUP BY 1;\n")
    write(root, "analytics/adhoc.sql", "SELECT kimball.product_of(c), kimball.channel_of(c);\n")
    write(root, "superset_objects/datasets/README.md", "Uses kimball.channel_of(c).\n")
    Files.createDirectories(root.resolve("superset/datasets/kimball"))
    Files.write(root.resolve("superset/datasets/kimball/broken.sql"), brokenBytes)
    root
  }

  private def jsonList(xs: Seq[String]): String =
    if (xs.isEmpty) "[]" else xs.map(x => s"""        "$x"""").mkString("[\n", ",\n", "\n      ]")

  private val shapedRawGolden = Seq(
    s"""  "channel_of": {
       |    "type": "function",
       |    "path": "$channelOf",
       |    "used_in": {
       |      "files": ${jsonList(Seq(legacy, loads, dimChannel))},
       |      "functions": ${jsonList(Seq("product_of"))}
       |    }
       |  }""".stripMargin,
    s"""  "product_of": {
       |    "type": "function",
       |    "path": "$productOf",
       |    "used_in": {
       |      "files": ${jsonList(Seq(salesView, orders, revenue))},
       |      "functions": []
       |    }
       |  }""".stripMargin).mkString("{\n", ",\n", "\n}")

  private val shapedFlatGolden = Seq(
    s"""  "channel_of": {
       |    "type": "function",
       |    "path": "$channelOf",
       |    "used_in": {
       |      "files": ${jsonList(Seq(legacy, salesView, loads, orders, dimChannel, revenue))}
       |    }
       |  }""".stripMargin,
    s"""  "product_of": {
       |    "type": "function",
       |    "path": "$productOf",
       |    "used_in": {
       |      "files": ${jsonList(Seq(salesView, orders, revenue))}
       |    }
       |  }""".stripMargin).mkString("{\n", ",\n", "\n}")

  test("golden E2E: scanAndSave over a synthetic reference-shaped tree matches hand-worked artifacts") {
    val out = Files.createTempDirectory("shapeddeps").toString
    val corrupt = CorpusIO.scanAndSave(spark, referenceShapedTree().toString, out)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(corrupt.toSeq == Seq(("superset/datasets/kimball/broken.sql", brokenBytes.length.toLong)))
    assert(Files.readString(Paths.get(s"$out/raw_dependencies.json")) == shapedRawGolden)
    assert(Files.readString(Paths.get(s"$out/flattened_dependencies.json")) == shapedFlatGolden)
  }

  // ---- golden E2E over the REAL reference tree (/root/reference) ----
  // Derived by hand from the reference's own semantics
  // (scan_dependencies.py:32-34 filename rule, :71-76 search dirs,
  // :128-130 call-site rule): the catalog is the 2 `_f_` files under
  // deployer/patch/DWH/kimball (r_4.001.045 is `_v_` — a consumer FILE,
  // not a function), and utm_campaign_to_product appears in
  // utm_to_financial_channel's used_in_functions because r_3.000140
  // calls KIMBALL.utm_to_financial_channel( from a function file.

  private val refRawGolden =
    """{
      |  "utm_campaign_to_product": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_3.000140_f_utm_campaign_to_product.sql",
      |    "used_in": {
      |      "files": [
      |        "deployer/patch/DWH/kimball/r_4.001.045_v_marketing_paid_traffic_report_hot_view.sql",
      |        "superset/datasets/kimball/kimball.msb-web-fb_req.sql",
      |        "superset_objects/datasets/CPA-WEB-COSTS.sql"
      |      ],
      |      "functions": []
      |    }
      |  },
      |  "utm_to_financial_channel": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_6.001.001_f_utm_to_financial_channel.sql",
      |    "used_in": {
      |      "files": [
      |        "superset_objects/datasets/DIM_MFO_FD_WEB_CHANNEL.sql"
      |      ],
      |      "functions": [
      |        "utm_campaign_to_product"
      |      ]
      |    }
      |  }
      |}""".stripMargin

  private val refFlatGolden =
    """{
      |  "utm_campaign_to_product": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_3.000140_f_utm_campaign_to_product.sql",
      |    "used_in": {
      |      "files": [
      |        "deployer/patch/DWH/kimball/r_4.001.045_v_marketing_paid_traffic_report_hot_view.sql",
      |        "superset/datasets/kimball/kimball.msb-web-fb_req.sql",
      |        "superset_objects/datasets/CPA-WEB-COSTS.sql"
      |      ]
      |    }
      |  },
      |  "utm_to_financial_channel": {
      |    "type": "function",
      |    "path": "deployer/patch/DWH/kimball/r_6.001.001_f_utm_to_financial_channel.sql",
      |    "used_in": {
      |      "files": [
      |        "deployer/patch/DWH/kimball/r_4.001.045_v_marketing_paid_traffic_report_hot_view.sql",
      |        "superset/datasets/kimball/kimball.msb-web-fb_req.sql",
      |        "superset_objects/datasets/CPA-WEB-COSTS.sql",
      |        "superset_objects/datasets/DIM_MFO_FD_WEB_CHANNEL.sql"
      |      ]
      |    }
      |  }
      |}""".stripMargin

  test("golden E2E: scanAndSave over the real reference tree matches pinned artifacts") {
    assume(refTreeAvailable, "reference tree not present (or skipped via GRAFT_SKIP_REF_GOLDEN)")
    val out = Files.createTempDirectory("refdeps").toString
    val corrupt = CorpusIO.scanAndSave(spark, "/root/reference", out).collect()
    assert(corrupt.isEmpty, "reference corpus has no malformed-UTF-8 SQL files")
    assert(Files.readString(Paths.get(s"$out/raw_dependencies.json")) == refRawGolden)
    assert(Files.readString(Paths.get(s"$out/flattened_dependencies.json")) == refFlatGolden)
  }

  test("corpus excludes non-sql files and relativizes to posix paths") {
    val root = fixture()
    val paths = CorpusIO.corpus(spark, root.toString)
      .select("path").collect().map(_.getString(0)).sorted.toSeq
    assert(paths == Seq(
      "deployer/patch/DWH/kimball/r_1.1_f_base_func.sql",
      "deployer/patch/DWH/kimball/r_1.2_f_middle_func.sql",
      "superset_objects/datasets/view1.sql",
      "unscanned/elsewhere.sql"))
  }

  test("transitive artifact mode: 3-deep chain closes fully, one-hop default untouched") {
    // deep_base ← deep_middle ← deep_top ← view: one-hop gives
    // deep_base NO files (its only caller, deep_middle, has none of
    // its own), the closure carries the view down all three hops
    val root = Files.createTempDirectory("corpus-deep")
    write(root, "deployer/patch/DWH/kimball/r_2.1_f_deep_base.sql",
      "CREATE OR REPLACE FUNCTION KIMBALL.DEEP_BASE(x VARCHAR) AS 1;")
    write(root, "deployer/patch/DWH/kimball/r_2.2_f_deep_middle.sql",
      "CREATE OR REPLACE FUNCTION KIMBALL.DEEP_MIDDLE(x VARCHAR) AS KIMBALL.DEEP_BASE(x);")
    write(root, "deployer/patch/DWH/kimball/r_2.3_f_deep_top.sql",
      "CREATE OR REPLACE FUNCTION KIMBALL.DEEP_TOP(x VARCHAR) AS KIMBALL.DEEP_MIDDLE(x);")
    write(root, "superset_objects/datasets/view_deep.sql",
      "SELECT KIMBALL.deep_top(c) FROM t;")

    val defaultOut = Files.createTempDirectory("deps-deep-default").toString
    CorpusIO.scanAndSave(spark, root.toString, defaultOut)
    assert(!Files.exists(Paths.get(s"$defaultOut/flattened_dependencies_transitive.json")),
      "default mode must not write the transitive artifact")

    val out = Files.createTempDirectory("deps-deep").toString
    CorpusIO.scanAndSave(spark, root.toString, out, transitive = true)
    val viewFiles =
      """[
        |        "superset_objects/datasets/view_deep.sql"
        |      ]""".stripMargin
    def entry(name: String, seq: String, files: String): String =
      s"""  "$name": {
         |    "type": "function",
         |    "path": "deployer/patch/DWH/kimball/r_2.${seq}_f_${name}.sql",
         |    "used_in": {
         |      "files": $files
         |    }
         |  }""".stripMargin
    val oneHopGolden = Seq(
      entry("deep_base", "1", "[]"),
      entry("deep_middle", "2", viewFiles),
      entry("deep_top", "3", viewFiles)).mkString("{\n", ",\n", "\n}")
    val transitiveGolden = Seq(
      entry("deep_base", "1", viewFiles),
      entry("deep_middle", "2", viewFiles),
      entry("deep_top", "3", viewFiles)).mkString("{\n", ",\n", "\n}")
    assert(Files.readString(Paths.get(s"$out/flattened_dependencies.json")) == oneHopGolden)
    assert(Files.readString(
      Paths.get(s"$out/flattened_dependencies_transitive.json")) == transitiveGolden)
  }

  test("readFlattenedJson round-trips the K1 artifact (S4)") {
    val root = fixture()
    val out = Files.createTempDirectory("deps").toString
    CorpusIO.scanAndSave(spark, root.toString, out)
    val back = CorpusIO.readFlattenedJson(spark, s"$out/flattened_dependencies.json")
      .collect().map(r => (r.getString(0), r.getString(1), r.getSeq[String](2)))
      .sortBy(_._1).toSeq
    assert(back == Seq(
      ("base_func", "deployer/patch/DWH/kimball/r_1.1_f_base_func.sql",
        Seq("superset_objects/datasets/view1.sql")),
      ("middle_func", "deployer/patch/DWH/kimball/r_1.2_f_middle_func.sql",
        Seq("superset_objects/datasets/view1.sql"))))
  }

  test("substituteTemplates: known vars replaced, unknown left intact (F12)") {
    val s = spark
    import s.implicits._
    val c = Seq("SELECT ${ENV_PREFIX}KIMBALL.f(${kimball}.x) FROM ${UNKNOWN}t")
      .toDF("content")
    val got = CorpusIO.substituteTemplates(c,
      Map("ENV_PREFIX" -> "DWH.", "kimball" -> "KIMBALL"))
      .collect()(0).getString(0)
    assert(got == "SELECT DWH.KIMBALL.f(KIMBALL.x) FROM ${UNKNOWN}t")
  }

  test("generateFacilitators: E2 end-to-end text artifact (K2)") {
    val root = fixture()
    val out = Files.createTempDirectory("deps").toString
    CorpusIO.scanAndSave(spark, root.toString, out)
    write(root, ".github/MARTOWNERS",
      """# owners
        |superset_objects/datasets/* @org/market-facilitators @org/second
        |nothing/matches/this @org/ghost
        |""".stripMargin)
    val outFile = s"$out/CODEFACILITATORS"
    CorpusIO.generateFacilitators(spark, s"$out/flattened_dependencies.json",
      root.resolve(".github/MARTOWNERS").toString, outFile)
    val expected =
      "# Auto-generated from dependencies\n\n" +
        "deployer/patch/DWH/kimball/r_1.1_f_base_func.sql @org/market-facilitators @org/second\n" +
        "deployer/patch/DWH/kimball/r_1.2_f_middle_func.sql @org/market-facilitators @org/second\n"
    assert(Files.readString(Paths.get(outFile)) == expected)
  }
}
