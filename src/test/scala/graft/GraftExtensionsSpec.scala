package graft

import org.apache.spark.sql.SparkSession

/** The `spark.sql.extensions=graft.GraftExtensions` opt-in: a FRESH
  * session built with the extension must expose the whole custom
  * expression family in SQL, and no session without it may see it. */
class GraftExtensionsSpec extends SparkSpec {

  test("a session built with GraftExtensions has the full function family in SQL") {
    withExtensionSession { ext =>
      val r = ext.sql(
        """SELECT
             simhash60(array('alpha', 'beta')) AS sh,
             text_stats('a b b').n_tokens AS nt,
             bigram_stats('a b a b').n_bigrams AS nb,
             size(winnow_minima('abcdefghijkl', 8, 4)) AS nw,
             vec_dot(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
                     array(CAST(3 AS BIGINT), CAST(4 AS BIGINT))) AS vd,
             shingle_set('a b c d', 3) AS ss,
             char_pairs('abc de') AS cp""").collect()(0)
      assert(!r.isNullAt(0))        // simhash evaluates
      assert(r.getLong(1) == 3L)    // 'a b b' → 3 tokens
      assert(r.getLong(2) == 3L)    // bigrams: a b, b a, a b
      assert(r.getInt(3) == 5)      // 12 chars, k=8 → 5 gram positions
      assert(r.getLong(4) == 11L)   // 1·3 + 2·4
      assert(r.getSeq[String](5).toSet == Set("a b c", "b c d"))
      assert(r.getSeq[String](6) == Seq("ab", "bc", "de"))
      // the injection is per-session opt-in: neither a fresh session
      // built WITHOUT the extension nor the shared test session (whose
      // operators build their expressions as typed Columns) sees the
      // family
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val plain = SparkSession.builder().master("local[4]").getOrCreate()
      assert((plain ne ext) && (plain ne spark))
      for (s <- Seq(plain, spark)) {
        intercept[org.apache.spark.sql.AnalysisException] {
          s.sql("SELECT bigram_stats('x')").collect()
        }
        GraftExtensions.All.foreach { case (name, _, _) =>
          assert(!s.catalog.functionExists(name), s"$name is visible without the extension")
        }
      }
    }
  }
}
