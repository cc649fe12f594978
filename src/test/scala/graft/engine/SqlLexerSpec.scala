package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The dialect scanner's primitives — pure string functions, no session. */
class SqlLexerSpec extends AnyFunSuite {
  import SqlLexer._

  test("stripComments: one space per comment; hints, strings and names kept") {
    assert(stripComments("SELECT 1 -- x'\nFROM t") == "SELECT 1  \nFROM t")
    assert(stripComments("SELECT /* a /* nested */ b */ 1") == "SELECT   1")
    assert(stripComments("SELECT /*+ BROADCAST(t) */ 1") == "SELECT /*+ BROADCAST(t) */ 1")
    val kept = "SELECT '-- no', 'it''s /* no */', 'x\\' -- no', `a--b`, \"c/*d*/\""
    assert(stripComments(kept) == kept)
  }

  test("an unclosed /* is code, so Spark's parser still sees and reports it") {
    val q = "DELETE FROM d WHERE k = 1 /* AND tenant = 2"
    assert(stripComments(q) == q)
    assert(mask(q) == q)
    assert(codeStart("/* x SELECT") == 0)
    assert(stripComments("a /* /* b */ c") == "a /*   c")
  }

  test("mask: same length, literal contents blanked, code and quotes kept") {
    val q = "SELECT 'x\\' FROM t FINAL' AS s, `my FINAL` FROM t FINAL"
    val m = mask(q)
    assert(m.length == q.length)
    assert(m.indexOf("FINAL") == q.lastIndexOf("FINAL"))
    assert(m.startsWith("SELECT '") && m.contains("' AS s, `") && m.endsWith(" FROM t FINAL"))
    assert(regex("(?i)\\bFINAL\\b").findAllIn(q).map(_.start).toSeq == Seq(q.lastIndexOf("FINAL")))
  }

  test("code regex: groups read the original text; replacement is literal") {
    val re = regex("(?i)\\bSAMPLE\\s+('[^']*')")
    assert(re.findFirstIn("x SAMPLE 'a b$1'").map(_.group(1)).contains("'a b$1'"))
    assert(re.replaceAllIn("SAMPLE 'q' , 'SAMPLE ''x'''", _ => "$0") == "$0 , 'SAMPLE ''x'''")
    val whole = regex("(?is)^DELETE\\s+WHERE\\s+(.+?)\\s+LIMIT\\s+(\\d+)$")
    "DELETE WHERE s = ' LIMIT 9' LIMIT 2" match {
      case whole(where, n) => assert(where == "s = ' LIMIT 9'" && n == "2")
    }
  }

  test("structural helpers skip parens, commas and keywords inside literals") {
    val s = "f(a, ')', g(b)), 'x,y', \"p,q\" AND c"
    assert(matchParen(s, 1) == s.indexOf("),") + 1)
    assert(openParenOf(s, s.indexOf("),")) == 1)
    assert(parenBalanced(s) && !parenBalanced("(')'"))
    assert(splitTopLevel(s) == Seq("f(a, ')', g(b))", "'x,y'", "\"p,q\" AND c"))
    assert(splitTopLevel("a = 'AND' AND (b AND c) and d", "AND") ==
      Seq("a = 'AND'", "(b AND c)", "d"))
    assert(topLevelKeyword("SELECT (SELECT 1 FROM x) AS y FROM t", "FROM") == 30)
    assert(topLevelKeyword("x=y", "=") == 1)
    assert(lastTopLevelKeyword("a AS b, (c AS d) AS e", "AS") == 17)
    assert(clauseExtent("x > left('a', 1) WHERE y", 0, Seq("LEFT", "WHERE")) == 17)
    assert(clauseExtent("(a WHERE b) ORDER", 1, Seq("ORDER")) == 10)
    assert(clauseExtent("a > 5 WHERE (b OR c)", 0, Seq("WHERE")) == 6)
    assert(clauseExtent("a = any(b) UNION (SELECT 1)", 0, Seq("ANY", "UNION")) == 11)
    assert(codeStart("  -- c\n /* d */ SELECT") == 16)
  }
}
