package graft

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions makes vec_dot available to plain SQL") {
    withGraftSql { ext =>
      val out = ext.sql(
        "SELECT vec_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
        .head().getDouble(0)
      assert(out === 32.0)
      // wrong arity: clean message, not an IndexOutOfBoundsException
      val err = intercept[Exception] {
        ext.sql("SELECT vec_dot(array(1.0d)) AS d").head()
      }
      assert(err.getMessage.contains("2 arguments"),
        s"unexpected error: ${err.getMessage}")
      // the native aggregate rides the same front door
      val bk = ext.sql(
        "SELECT bottom_k(k, id, 2) AS ids FROM VALUES ('b', 2L), ('a', 1L), " +
          "('c', 3L) AS t(k, id)")
        .head().getSeq[Long](0)
      assert(bk === Seq(1L, 2L))
      // the mergeable heavy-hitters pair, end-to-end in SQL: build
      // per-group summaries, roll them up, read the top item
      val hh = ext.sql(
        """SELECT e.item, e.est FROM (
          |  SELECT explode(heavy_hitters_merge(hh, 4)) AS e FROM (
          |    SELECT g, heavy_hitters(t, 4) AS hh
          |    FROM VALUES (0, 'x'), (0, 'x'), (0, 'y'), (1, 'x') AS v(g, t)
          |    GROUP BY g))
          |ORDER BY e.est DESC, e.item LIMIT 1""".stripMargin)
        .head()
      assert(hh.getString(0) === "x" && hh.getLong(1) === 3L)
    }
  }

  test("GraftExtensions injects the fixed-name scalar functions and sketches") {
    withGraftSql { ext =>
      def one(sql: String) = ext.sql(s"SELECT $sql").head().get(0)
      assert(one("poly_hash('abc')") === 96354L)
      assert(one("nfc_normalize('cafe\u0301')") === "caf\u00e9")
      assert(one("nfkc_normalize('\ufb01n')") === "fin")
      assert(one("jaro_winkler('MARTHA', 'MARTHA')") === 1.0)
      assert(one("contains_wsfree_script('abc \u6f22')") === true)
      assert(one("contains_wsfree_script('abc')") === false)
      // a 16x2 count-min sketch per group, merged: every item adds one
      // to each of the 2 rows, so the merged cells sum to 2 x 4 items
      val cells = ext.sql(
        """SELECT count_min_merge(sk, 16, 2) FROM (
          |  SELECT g, count_min(t, 16, 2) AS sk
          |  FROM VALUES (0, 'x'), (0, 'y'), (1, 'x'), (1, 'z') AS v(g, t)
          |  GROUP BY g)""".stripMargin)
        .head().getSeq[Long](0)
      assert(cells.size === 32 && cells.sum === 8L)
      // the arity guard covers the new names too
      val err = intercept[Exception] { one("poly_hash('a', 'b')") }
      assert(err.getMessage.contains("1 argument"),
        s"unexpected error: ${err.getMessage}")
    }
  }
}
