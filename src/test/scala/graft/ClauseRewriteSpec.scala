package graft

/** ClickHouse read-path clause tail on the raw-SQL surface (r16):
  * `LIMIT n BY cols` (reference sql_executor.py:901-910 emits
  * `LIMIT 1 BY "a", "b"` for drop_duplicates pushdown), `PREWHERE`
  * (≡ WHERE + a storage hint Spark's pushdown already provides) and
  * `SAMPLE f` (≡ TABLESAMPLE). A chdb user pasting ClickHouse SQL with
  * these clauses gets the documented semantics, not a parse error.
  */
class ClauseRewriteSpec extends SparkTestBase {
  import spark.implicits._

  private def g = new graft.engine.GraftSession(spark)

  private def docs(): Unit =
    Seq(
      ("a.com", 1L, 9.0), ("a.com", 2L, 7.0), ("a.com", 3L, 5.0),
      ("b.com", 4L, 8.0), ("b.com", 5L, 6.0),
      ("c.com", 6L, 4.0)
    ).toDF("domain", "id", "score").createOrReplaceTempView("cr_docs")

  test("LIMIT n BY keeps first n per group in ORDER BY order") {
    docs()
    val rows = g.sql(
      "SELECT domain, id FROM cr_docs ORDER BY score DESC, id LIMIT 2 BY domain")
      .collect()
    // global ORDER BY preserved on output; per-domain cut at 2 best scores
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a.com", 1L), ("b.com", 4L), ("a.com", 2L), ("b.com", 5L), ("c.com", 6L)))
  }

  test("reference drop_duplicates emission: LIMIT 1 BY with double-quoted idents") {
    docs()
    val rows = g.sql("""SELECT domain, id FROM cr_docs ORDER BY id LIMIT 1 BY "domain"""")
      .collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 4L, 6L))
  }

  test("trailing plain LIMIT cuts AFTER the per-group cut") {
    docs()
    val rows = g.sql(
      "SELECT domain, id FROM cr_docs ORDER BY score DESC, id LIMIT 2 BY domain LIMIT 3")
      .collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 4L, 2L))
  }

  test("LIMIT n BY without ORDER BY keeps exactly n arbitrary rows per group") {
    docs()
    val counts = g.sql("SELECT domain, id FROM cr_docs LIMIT 2 BY domain")
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a.com" -> 2L, "b.com" -> 2L, "c.com" -> 1L))
  }

  test("LIMIT n BY tolerates parens (expressions, table functions) in the prefix") {
    val rows = g.sql(
      "SELECT number % 3 AS g, number FROM numbers(30) ORDER BY number LIMIT 2 BY g")
      .collect()
    assert(rows.map(_.getAs[Number]("number").longValue).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("offset forms: LIMIT m, n BY and LIMIT n OFFSET m BY skip the first m per group") {
    docs()
    // a.com ordered by score desc: ids 1,2,3 — offset 1, take 2 → ids 2,3
    val commaForm = g.sql(
      "SELECT domain, id FROM cr_docs ORDER BY score DESC, id LIMIT 1, 2 BY domain")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val offsetForm = g.sql(
      "SELECT domain, id FROM cr_docs ORDER BY score DESC, id LIMIT 2 OFFSET 1 BY domain")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = Set(("a.com", 2L), ("a.com", 3L), ("b.com", 5L)) // c.com has 1 row, all skipped
    assert(commaForm == want, commaForm.toString)
    assert(offsetForm == want, offsetForm.toString)
  }

  test("PREWHERE alone is WHERE") {
    docs()
    val n = g.sql("SELECT id FROM cr_docs PREWHERE score > 6.5").count()
    assert(n == 3L)
  }

  test("PREWHERE + WHERE folds into a parenthesized conjunction (OR precedence)") {
    docs()
    // without the parens this would parse as (score>6.5 AND domain='b.com') OR id=6
    val ids = g.sql(
      "SELECT id FROM cr_docs PREWHERE score > 6.5 WHERE domain = 'b.com' OR id = 6 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(4L))
  }

  test("PREWHERE ends at a WHERE that opens with a paren") {
    docs()
    def ids(q: String) = g.sql(q).collect().map(_.getLong(0)).toSeq
    assert(ids("SELECT id FROM cr_docs PREWHERE score > 6.5 " +
      "WHERE (domain = 'b.com' OR id = 6) ORDER BY id") == Seq(4L))
    assert(ids("SELECT id FROM cr_docs PREWHERE (score > 6.5) WHERE (id < 3) ORDER BY id") ==
      Seq(1L, 2L))
  }

  test("PREWHERE + WHERE + GROUP BY keeps the aggregate clauses intact") {
    docs()
    val r = g.sql(
      """SELECT domain, COUNT(*) AS n FROM cr_docs
         PREWHERE score >= 5 WHERE id <= 5
         GROUP BY domain ORDER BY domain""").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("a.com", 3L), ("b.com", 2L)))
  }

  test("clause keywords INSIDE string literals are data, not clauses (r16 review)") {
    docs()
    // PREWHERE as a literal value must survive verbatim
    assert(g.sql("SELECT 'PREWHERE' AS k").head().getString(0) == "PREWHERE")
    // LIMIT n BY inside a literal must not trigger the window wrap
    val lit = g.sql("SELECT 'rate LIMIT 5 BY user' AS msg, id FROM cr_docs ORDER BY id")
      .collect()
    assert(lit.length == 6 && lit.forall(_.getString(0) == "rate LIMIT 5 BY user"))
    // FROM-t-SAMPLE-n inside a literal must not become TABLESAMPLE
    assert(g.sql("SELECT 'rows from t SAMPLE 5' AS note").head().getString(0) ==
      "rows from t SAMPLE 5")
  }

  test("PREWHERE inside a subquery folds within its own scope (r16 review)") {
    docs()
    val ids = g.sql(
      """SELECT id FROM (SELECT * FROM cr_docs PREWHERE score > 6.5) u
         WHERE u.domain = 'a.com' ORDER BY id""")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("a paren inside a string literal does not disable the LIMIT BY rewrite") {
    docs()
    val rows = g.sql(
      """SELECT domain, id FROM cr_docs WHERE domain != ':-)'
         ORDER BY score DESC, id LIMIT 1 BY domain""")
      .collect().map(_.getLong(1)).toSet
    assert(rows == Set(1L, 4L, 6L))
  }

  test("ordinal ORDER BY positions resolve against the projection (r16 review)") {
    docs()
    // ORDER BY 3 = score: a constant in the window spec would keep an
    // arbitrary row; the resolved form must keep the best-scored per domain
    val rows = g.sql(
      "SELECT domain, id, score FROM cr_docs ORDER BY 3 DESC, 2 LIMIT 1 BY domain")
      .collect().map(_.getLong(1)).toSeq
    assert(rows == Seq(1L, 4L, 6L), rows.toString)
    // on an aggregated query ordinals refuse loudly instead of silently
    // ordering by a constant
    val e = intercept[Exception] {
      g.sql("""SELECT domain, COUNT(*) AS n FROM cr_docs
               GROUP BY domain ORDER BY 2 DESC LIMIT 1 BY domain""").collect()
    }
    assert(e.getMessage.contains("ordinal"), e.getMessage)
  }

  test("ARRAY JOIN explodes: AS alias, LEFT keeps empty rows, bare col replaces") {
    Seq(
      (1L, Seq(10, 20), Seq("a", "b")),
      (2L, Seq(30), Seq("c")),
      (3L, Seq.empty[Int], Seq.empty[String])
    ).toDF("id", "xs", "ys").createOrReplaceTempView("aj_t")
    // AS alias form → LATERAL VIEW explode
    val basic = g.sql("SELECT id, v FROM aj_t ARRAY JOIN xs AS v ORDER BY id, v")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(basic == Seq((1L, 10), (1L, 20), (2L, 30)))
    // LEFT keeps the empty-array row with a NULL element
    val left = g.sql("SELECT id, v FROM aj_t LEFT ARRAY JOIN xs AS v ORDER BY id, v")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
    assert(left == Seq((1L, 10), (1L, 20), (2L, 30), (3L, -1)))
    // bare column: the exploded value REPLACES the column (CH semantics)
    val bare = g.sql("SELECT id, xs FROM aj_t ARRAY JOIN xs ORDER BY id, xs")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(bare == Seq((1L, 10), (1L, 20), (2L, 30)))
  }

  test("multi-column ARRAY JOIN zips element-wise (not a cartesian)") {
    Seq((1L, Seq(10, 20), Seq("a", "b"))).toDF("id", "xs", "ys")
      .createOrReplaceTempView("aj_zip_t")
    val rows = g.sql(
      "SELECT id, x, y FROM aj_zip_t ARRAY JOIN xs AS x, ys AS y ORDER BY x")
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    assert(rows == Seq((10, "a"), (20, "b")), s"zip, not cartesian: $rows")
    // expression item with mandatory alias
    val expr = g.sql(
      "SELECT id, v FROM aj_zip_t ARRAY JOIN sequence(1, 3) AS v ORDER BY v")
      .collect().map(_.getInt(1)).toSeq
    assert(expr == Seq(1, 2, 3))
    // 'ARRAY JOIN' inside a string literal is data
    assert(g.sql("SELECT 'FROM t ARRAY JOIN xs' AS s").head().getString(0) ==
      "FROM t ARRAY JOIN xs")
  }

  test("FROM t FINAL is accepted as the identity; a column named final is untouched") {
    docs()
    assert(g.sql("SELECT count(*) AS n FROM cr_docs FINAL").head().getLong(0) == 6L)
    assert(g.sql("SELECT count(*) AS n FROM cr_docs AS d FINAL WHERE d.id > 0")
      .head().getLong(0) == 6L)
    // `final` as a projected alias/identifier must survive
    assert(g.sql("SELECT id AS final FROM cr_docs ORDER BY final").count() == 6L)
    assert(g.sql("SELECT 'FROM t FINAL' AS s").head().getString(0) == "FROM t FINAL")
  }

  test("SAMPLE f becomes TABLESAMPLE percent; row counts are bounded") {
    spark.range(10000).toDF("n").createOrReplaceTempView("cr_big")
    val n = g.sql("SELECT n FROM cr_big SAMPLE 0.1").count()
    // Bernoulli sampling: expect ~1000, assert generous bounds
    assert(n > 400 && n < 2500, s"SAMPLE 0.1 of 10000 returned $n rows")
    // fraction 1 = whole table
    assert(g.sql("SELECT n FROM cr_big SAMPLE 1").count() == 10000L)
  }

  test("integer SAMPLE n becomes TABLESAMPLE (n ROWS)") {
    spark.range(10000).toDF("n").createOrReplaceTempView("cr_big2")
    assert(g.sql("SELECT n FROM cr_big2 SAMPLE 100").count() == 100L)
  }

  test("DISTINCT ON keeps the first row per key in ORDER BY order (r19)") {
    import spark.implicits._
    Seq((1, "a", 5.0), (1, "b", 9.0), (2, "c", 3.0), (2, "d", 7.0))
      .toDF("g", "v", "x").createOrReplaceTempView("cr_don")
    // highest x per g
    assert(g.sql(
      "SELECT DISTINCT ON (g) g, v, x FROM cr_don ORDER BY x DESC")
      .collect().map(_.getString(1)).toSet == Set("b", "d"))
    // the outer ORDER BY survives (result ordered by x desc)
    assert(g.sql(
      "SELECT DISTINCT ON (g) g, v, x FROM cr_don ORDER BY x DESC")
      .collect().map(_.getString(1)).toSeq == Seq("b", "d"))
    // trailing LIMIT applies after the dedup
    assert(g.sql(
      "SELECT DISTINCT ON (g) g, v FROM cr_don ORDER BY x DESC LIMIT 1")
      .collect().map(_.getString(1)).toSeq == Seq("b"))
    // no ORDER BY: one row per key (pick is CH-style arbitrary)
    assert(g.sql("SELECT DISTINCT ON (g) g, v FROM cr_don").count() == 2)
  }

  test("SELECT TOP n [WITH TIES] normalizes to the LIMIT form (r19)") {
    import spark.implicits._
    Seq(1, 2, 2, 3).toDF("k").createOrReplaceTempView("cr_top")
    assert(g.sql("SELECT TOP 2 k FROM cr_top ORDER BY k").count() == 2)
    assert(g.sql("SELECT TOP 2 WITH TIES k FROM cr_top ORDER BY k")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 2))
    // a projected string mentioning TOP is untouched
    assert(g.sql("SELECT 'TOP 5 hits' AS s FROM cr_top LIMIT 1")
      .head().getString(0) == "TOP 5 hits")
  }

  test("QUALIFY filters on window expressions and projection aliases (r19)") {
    import spark.implicits._
    Seq((1, "a", 5.0), (1, "b", 9.0), (2, "c", 3.0), (2, "d", 7.0), (2, "e", 1.0))
      .toDF("g", "v", "x").createOrReplaceTempView("cr_qual")
    // direct window expression in the predicate (the canonical per-group top-1)
    assert(g.sql(
      """SELECT g, v, x FROM cr_qual
         QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) = 1
         ORDER BY g""").collect().map(_.getString(1)).toSeq == Seq("b", "d"))
    // predicate over a PROJECTION ALIAS (ClickHouse allows it; the wrap
    // evaluates the predicate over the query's output columns)
    assert(g.sql(
      """SELECT g, v, RANK() OVER (PARTITION BY g ORDER BY x) AS rk
         FROM cr_qual QUALIFY rk <= 1 ORDER BY g""")
      .collect().map(_.getString(1)).toSeq == Seq("a", "e"))
    // tail clauses stay outside the wrap: kept set is {a,b,c,e} (d is the
    // group-2 rn=3 row), top-2 by x desc = b(9), a(5)
    assert(g.sql(
      """SELECT g, v, x FROM cr_qual
         QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) <= 2
         ORDER BY x DESC LIMIT 2""").collect().map(_.getString(1)).toSeq ==
      Seq("b", "a"))
    // a QUALIFY inside a string literal is data
    assert(g.sql("SELECT 'QUALIFY rk = 1' AS s FROM cr_qual LIMIT 1")
      .head().getString(0) == "QUALIFY rk = 1")
    // QUALIFY after a set operation scopes to the LAST branch (r20, was a
    // refusal): the first arm contributes all 5 g values, the second arm
    // is filtered to its single row_number-1 row
    assert(g.sql("""SELECT g FROM cr_qual UNION ALL SELECT g FROM cr_qual
               QUALIFY ROW_NUMBER() OVER (ORDER BY g) = 1""")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 1, 1, 2, 2, 2))
    // … and the scoping recurses across several arms / INTERSECT too
    assert(g.sql("""SELECT g FROM cr_qual WHERE g = 1
               INTERSECT SELECT g FROM cr_qual
               QUALIFY ROW_NUMBER() OVER (ORDER BY g) <= 2""")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("TOP refusals: WITH TIES without ORDER BY, TOP ahead of a set op (r20 ADVICE)") {
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("cr_topg")
    val e1 = intercept[UnsupportedOperationException] {
      g.sql("SELECT TOP 2 WITH TIES k FROM cr_topg")
    }
    assert(e1.getMessage.contains("ORDER BY"))
    val e2 = intercept[UnsupportedOperationException] {
      g.sql("SELECT TOP 1 k FROM cr_topg UNION ALL SELECT k FROM cr_topg")
    }
    assert(e2.getMessage.contains("set operation"))
    // subquery-level ORDER BY/UNION do not trip the top-level guards
    assert(g.sql("""SELECT TOP 1 k FROM
        (SELECT k FROM cr_topg UNION ALL SELECT k FROM cr_topg) ORDER BY k""")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("DISTINCT ON: ORDER BY over a projection alias resolves (r20 ADVICE)") {
    import spark.implicits._
    Seq((1, 5), (1, 9), (2, 3), (2, 7)).toDF("gk", "x")
      .createOrReplaceTempView("cr_don_alias")
    // ClickHouse-legal: the alias y = x + 1 drives both the per-key pick
    // and the final sort; the rewrite substitutes the aliased expression
    // into the source-scope window/hidden columns
    val rows = g.sql("""SELECT DISTINCT ON (gk) gk, x + 1 AS y
        FROM cr_don_alias ORDER BY y DESC""")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == Seq((1, 10), (2, 8)), rows.toString)
  }

  test("LIMIT n WITH TIES keeps every row tying with the n-th (r19)") {
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (2, "c"), (3, "d"), (3, "e"), (4, "f"))
      .toDF("k", "v").createOrReplaceTempView("cr_ties")
    // the 2nd row's key (2) ties with a 3rd row — all three come back
    assert(g.sql("SELECT k, v FROM cr_ties ORDER BY k LIMIT 2 WITH TIES")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b"), (2, "c")))
    // DESC + a tiebreaker column: v breaks the k tie, so exactly 3 rows
    assert(g.sql(
      "SELECT k, v FROM cr_ties ORDER BY k DESC, v LIMIT 3 WITH TIES")
      .collect().map(_.getString(1)).toSet == Set("f", "d", "e"))
    // no tie at the boundary = plain LIMIT semantics
    assert(g.sql("SELECT k, v FROM cr_ties ORDER BY k, v LIMIT 2 WITH TIES")
      .count() == 2)
    // a string literal spelling the clause is data, not a clause
    assert(g.sql("SELECT 'LIMIT 2 WITH TIES' AS s FROM cr_ties LIMIT 1")
      .head().getString(0) == "LIMIT 2 WITH TIES")
  }

  test("SAMPLE k OFFSET m: deterministic disjoint md5-bucket slices (r19)") {
    spark.range(10000).toDF("n").createOrReplaceTempView("cr_so")
    val parts = Seq("0", "1/4", "2/4", "3/4")
      .map(off => g.sql(s"SELECT n FROM cr_so SAMPLE 1/4 OFFSET $off")
        .collect().map(_.getLong(0)).toSet)
    // slices partition the table: disjoint, union = everything
    parts.combinations(2).foreach { case Seq(a, b) =>
      assert((a & b).isEmpty, "slices overlap")
    }
    assert(parts.map(_.size).sum == 10000)
    // deterministic: the same slice twice is byte-identical
    assert(g.sql("SELECT n FROM cr_so SAMPLE 1/4 OFFSET 1/4")
      .collect().map(_.getLong(0)).toSet == parts(1))
    // fractions close to a quarter of the keyspace (md5 is uniform)
    parts.foreach(p => assert(p.size > 2000 && p.size < 3000, p.size))
    // the row-count form with OFFSET has no deterministic meaning
    val e = intercept[UnsupportedOperationException] {
      g.sql("SELECT n FROM cr_so SAMPLE 100 OFFSET 1/2")
    }
    assert(e.getMessage.contains("OFFSET"))
    // alias survives the subquery wrap
    assert(g.sql(
      "SELECT t.n FROM cr_so t SAMPLE 1/2 OFFSET 0 WHERE t.n >= 0").count() ==
      g.sql("SELECT n FROM cr_so SAMPLE 1/2 OFFSET 0").count())
    // `SAMPLE a/b` without OFFSET takes the TABLESAMPLE path (r19 fraction
    // spelling)
    val frac = g.sql("SELECT n FROM cr_so SAMPLE 1/10").count()
    assert(frac > 400 && frac < 2500, s"SAMPLE 1/10 of 10000 returned $frac")
  }

  test("SAMPLE after an alias lands before the alias for Spark's grammar") {
    spark.range(1000).toDF("n").createOrReplaceTempView("cr_big3")
    val n = g.sql("SELECT t.n FROM cr_big3 t SAMPLE 0.5 WHERE t.n >= 0").count()
    assert(n > 200 && n < 800)
  }

  test("a comment between clauses neither hides nor breaks LIMIT BY") {
    Seq((0, 0), (0, 1), (1, 1), (1, 2)).toDF("k", "v").createOrReplaceTempView("cr_kv")
    val rows = g.sql("SELECT k, v -- k's first row\nFROM cr_kv ORDER BY k, v LIMIT 1 BY k")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == Seq((0, 0), (1, 1)), rows.toString)
  }

  test("FINAL inside a literal with a backslash-escaped quote is data") {
    docs()
    val s = g.sql("SELECT 'x\\' FROM cr_docs FINAL' AS s FROM cr_docs LIMIT 1")
      .head().getString(0)
    assert(s == "x' FROM cr_docs FINAL", s)
  }

  test("argument-less count() is count(*)") {
    Seq(("click", 1), ("view", 2), ("click", 3), (null, 4)).toDF("event_type", "n")
      .createOrReplaceTempView("cr_events")
    def counts(agg: String) =
      g.sql(s"SELECT event_type, $agg AS c FROM cr_events GROUP BY event_type ORDER BY event_type")
        .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(counts("count()") == counts("count(*)"))
    assert(counts("count()") == Seq((None, 1L), (Some("click"), 2L), (Some("view"), 1L)))
  }

  test("a {name:Type} placeholder inside a literal is not bound") {
    val r = g.sql("SELECT '{x:String}' AS s, {n:Int} AS n", Map("n" -> 1)).head()
    assert(r.getString(0) == "{x:String}" && r.getInt(1) == 1)
  }

  test("a leading comment does not hide ALTER TABLE … DELETE from routing") {
    val p = java.nio.file.Files.createTempDirectory("graft_cr_alter").toString + "/t"
    graft.io.DeltaNative.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), p)
    val gs = g
    gs.registerDelta("cr_alter_d", p)
    gs.sql("-- note\nALTER TABLE cr_alter_d DELETE WHERE k = 1")
    assert(gs.sql("SELECT k FROM cr_alter_d").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("comment markers in an INSERT … FORMAT CSV payload are data") {
    val p = java.nio.file.Files.createTempDirectory("graft_cr_ins").toString + "/t"
    graft.io.DeltaNative.write(Seq((0, "seed")).toDF("k", "v"), p)
    val gs = g
    gs.registerDelta("cr_ins_d", p)
    gs.sql("/* load */ INSERT INTO cr_ins_d FORMAT CSV\n1,a--b\n2,c/*d*/e\n")
    val rows = gs.sql("SELECT k, v FROM cr_ins_d ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((0, "seed"), (1, "a--b"), (2, "c/*d*/e")), rows.toString)
  }

  test("an ANY LEFT JOIN condition ends at a WHERE that opens with a paren") {
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "lab").createOrReplaceTempView("cr_any_l")
    Seq((1, "y"), (1, "x"), (2, "z")).toDF("k", "tag").createOrReplaceTempView("cr_any_r")
    val rows = g.sql(
      """SELECT l.k, r.tag FROM cr_any_l l ANY LEFT JOIN cr_any_r r ON l.k = r.k
         WHERE (l.k < 3 OR l.lab = 'c') ORDER BY l.k""")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    assert(rows == Seq((1, Some("x")), (2, Some("z")), (3, None)), rows.toString)
  }

  test("an unclosed /* comment fails the statement instead of hiding its tail") {
    val p = java.nio.file.Files.createTempDirectory("graft_cr_unclosed").toString + "/t"
    graft.io.DeltaNative.write(Seq((1, 1), (1, 2)).toDF("k", "tenant"), p)
    val gs = g
    gs.registerDelta("cr_unclosed_d", p)
    intercept[Exception](gs.sql("DELETE FROM cr_unclosed_d WHERE k = 1 /* AND tenant = 2"))
    intercept[Exception](gs.sql("SELECT 1 /* x").collect())
    assert(gs.sql("SELECT tenant FROM cr_unclosed_d ORDER BY tenant")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }
}
