package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Property: comments and string literals are inert under every dialect
  * rewrite. Each clause-rewrite query is cut into clause fragments; a
  * generated comment (dialect keywords, an apostrophe, unbalanced parens)
  * is planted in one gap, and optionally a projected literal spelling
  * clauses, escapes and parens. The rows must not change, apart from the
  * planted column.
  */
class CommentLiteralPropertySpec extends SparkTestBase {
  import spark.implicits._

  private def g = new graft.engine.GraftSession(spark)

  /** (head, projection, rest…): the literal is planted at the projection. */
  private val queries: Seq[Seq[String]] = Seq(
    Seq("SELECT", "domain, id", "FROM cp_docs", "ORDER BY score DESC, id", "LIMIT 2 BY domain"),
    Seq("SELECT", "domain, count(*) AS n", "FROM cp_docs", "FINAL", "GROUP BY domain"),
    Seq("SELECT", "n", "FROM cp_big", "SAMPLE 1/4 OFFSET 1/4"),
    Seq("SELECT", "id", "FROM cp_docs", "PREWHERE score > 6.5",
      "WHERE domain = 'b.com' OR id = 6", "ORDER BY id"),
    Seq("SELECT", "id", "FROM cp_docs", "PREWHERE (score > 6.5)",
      "WHERE (domain = 'b.com' OR id = 6)", "ORDER BY id"),
    Seq("SELECT", "id, v", "FROM cp_arr", "ARRAY JOIN xs AS v", "ORDER BY id, v"),
    Seq("SELECT", "g, v, x", "FROM cp_q",
      "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) = 1", "ORDER BY g"),
    Seq("SELECT", "g, count(*) AS n", "FROM cp_q", "GROUP BY g", "WITH TOTALS"),
    Seq("SELECT DISTINCT ON (g)", "g, v, x", "FROM cp_q", "ORDER BY x DESC"),
    Seq("SELECT", "tr.trade, q.px", "FROM cp_trades tr",
      "ASOF JOIN cp_quotes q", "ON tr.uid = q.uid AND tr.t >= q.qt", "ORDER BY tr.trade"),
    Seq("SELECT", "tr.trade, q.px", "FROM cp_trades tr", "ANY LEFT JOIN cp_quotes q",
      "ON tr.uid = q.uid", "ORDER BY tr.trade"),
    Seq("SELECT", "tr.trade, q.px", "FROM cp_trades tr", "ANY LEFT JOIN cp_quotes q",
      "ON tr.uid = q.uid", "WHERE (tr.t > 5 OR q.px > 0)", "ORDER BY tr.trade"),
    Seq("SELECT", "* REPLACE (x * 2 AS x)", "FROM cp_q", "ORDER BY g, v"),
    Seq("SELECT", "* EXCEPT (v) APPLY (abs)", "FROM cp_q"))

  private val plantedLiteral = "'LIMIT 1 BY ( \\' FINAL'' )'"

  private val commentText: Gen[String] = for {
    words <- Gen.someOf("LIMIT 1 BY g", "FINAL", "PREWHERE x", "ARRAY JOIN xs",
      "QUALIFY", "WITH TOTALS", "SAMPLE 1/2", "DISTINCT ON (", "ASOF JOIN",
      "ANY LEFT JOIN", "GLOBAL IN", "* APPLY(f)", "UNION ALL", "FORMAT CSV",
      "SETTINGS a = 1", "system.tables", "file('x')", "{n:Int}")
    junk <- Gen.oneOf("it's", "((", ")", "'", "(')")
    line <- Gen.oneOf(true, false)
  } yield {
    val body = (words.toSeq :+ junk).mkString(" ")
    if (line) s"-- $body\n" else s"/* $body */"
  }

  private val planted: Gen[(Seq[String], String, Boolean)] = for {
    q <- Gen.oneOf(queries)
    gap <- Gen.choose(0, q.length)
    comment <- commentText
    lit <- Gen.oneOf(true, false)
  } yield {
    val frags = if (lit) q.updated(1, s"$plantedLiteral AS __p, ${q(1)}") else q
    val (pre, post) = frags.splitAt(gap)
    (q, (pre ++ (comment +: post)).mkString(" "), lit)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("planted comments and literals leave every clause rewrite's rows unchanged") {
    Seq(("a.com", 1L, 9.0), ("a.com", 2L, 7.0), ("a.com", 3L, 5.0),
      ("b.com", 4L, 8.0), ("b.com", 5L, 6.0), ("c.com", 6L, 4.0))
      .toDF("domain", "id", "score").createOrReplaceTempView("cp_docs")
    spark.range(2000).toDF("n").createOrReplaceTempView("cp_big")
    Seq((1L, Seq(10, 20)), (2L, Seq(30)), (3L, Seq.empty[Int]))
      .toDF("id", "xs").createOrReplaceTempView("cp_arr")
    Seq((1, "a", 5), (1, "b", -9), (2, "c", 3), (2, "d", -7))
      .toDF("g", "v", "x").createOrReplaceTempView("cp_q")
    Seq((1, 10, "T1"), (1, 25, "T2"), (2, 5, "T3")).toDF("uid", "t", "trade")
      .createOrReplaceTempView("cp_trades")
    Seq((1, 8, 100.0), (1, 20, 110.0), (2, 50, 90.0)).toDF("uid", "qt", "px")
      .createOrReplaceTempView("cp_quotes")
    val litValue = spark.sql(s"SELECT $plantedLiteral").head().getString(0)
    val baseline = queries.map(q => q -> rows(g.sql(q.mkString(" ")))).toMap
    assert(baseline.values.forall(_.nonEmpty))

    val prop = Prop.forAllNoShrink(planted) { case (q, text, lit) =>
      val df = g.sql(text)
      val kept = if (lit) df.drop("__p") else df
      val litOk = !lit || df.select("__p").collect().forall(_.getString(0) == litValue)
      Prop(rows(kept) == baseline(q) && litOk) :| text
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(7L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }
}
