package graft.engine

import scala.util.matching.Regex

/** The one SQL scanner under the ClickHouse dialect rewrites. It knows
  * `'…'` strings (with `''` and `\` escapes, Spark's two conventions),
  * backtick and double-quoted identifiers, `--` and `/* … */` comments and
  * paren depth — nothing else, and it keeps no state.
  *
  * Invariant: [[GraftSession.sql]] strips comments once, before it routes a
  * statement, so no rewrite ever sees one; every rewrite matches on the
  * [[mask]], so none ever matches inside a literal.
  */
private[engine] object SqlLexer {

  private val StringFill = '\u0001' // non-word, non-space: no regex token matches it
  private val IdentFill = '_' // word char: a quoted name still reads as one token

  private def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** Index just past the string, quoted identifier or comment starting at
    * `i`, or `i` when none starts there. An unterminated string, name or
    * `--` comment runs to the end; an unclosed block comment is no comment
    * at all, so it reaches Spark's parser, which reports it.
    */
  private def tokenEnd(s: String, i: Int): Int = {
    val n = s.length
    s.charAt(i) match {
      case q @ ('\'' | '"' | '`') =>
        var j = i + 1
        while (j < n) {
          val c = s.charAt(j)
          if (c == '\\' && q != '`') j += 2
          else if (c == q) {
            if (j + 1 < n && s.charAt(j + 1) == q) j += 2 else return j + 1
          } else j += 1
        }
        n
      case '-' if i + 1 < n && s.charAt(i + 1) == '-' =>
        val nl = s.indexOf('\n', i)
        if (nl < 0) n else nl
      case '/' if i + 1 < n && s.charAt(i + 1) == '*' =>
        val e = blockCommentEnd(s, i)
        if (e < 0) i else e
      case _ => i
    }
  }

  /** Can a string, quoted identifier or comment start with `c`? */
  private def opensToken(c: Char): Boolean =
    c == '\'' || c == '"' || c == '`' || c == '-' || c == '/'

  /** Index just past the (nested) `/* … */` comment opening at `i`, or -1
    * when it is never closed.
    */
  private def blockCommentEnd(s: String, i: Int): Int = {
    var depth = 0; var j = i
    while (j < s.length) {
      if (s.startsWith("/*", j)) { depth += 1; j += 2 }
      else if (s.startsWith("*/", j)) { depth -= 1; j += 2; if (depth == 0) return j }
      else j += 1
    }
    -1
  }

  private def isComment(s: String, i: Int): Boolean =
    s.startsWith("--", i) ||
      (s.startsWith("/*", i) && !s.startsWith("/*+", i) && blockCommentEnd(s, i) >= 0)

  /** Each `--` or `/* */` comment becomes one space; `/*+ … */` hints, an
    * unclosed block comment and everything else are kept verbatim.
    */
  def stripComments(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val e = tokenEnd(s, i)
      if (e == i) { sb.append(s.charAt(i)); i += 1 }
      else {
        if (isComment(s, i)) sb.append(' ') else sb.append(s, i, e)
        i = e
      }
    }
    sb.toString
  }

  /** Index of the first character that is neither whitespace nor inside a
    * comment.
    */
  def codeStart(s: String): Int = {
    var i = 0
    while (i < s.length && (Character.isWhitespace(s.charAt(i)) || isComment(s, i)))
      i = if (Character.isWhitespace(s.charAt(i))) i + 1 else tokenEnd(s, i)
    i
  }

  /** Same-length code mask: string contents are blanked with a non-word
    * character, quoted-identifier contents with `_`, comments and hints
    * with spaces. Quote characters, parens and all code stay in place, so
    * offsets into the mask index the original text.
    */
  def mask(s: String): String = {
    var out: Array[Char] = null // copied on the first token: plain code is its own mask
    var i = 0
    while (i < s.length) {
      val e = if (opensToken(s.charAt(i))) tokenEnd(s, i) else i
      if (e == i) i += 1
      else {
        if (out == null) out = s.toCharArray
        val q = s.charAt(i)
        if (q == '\'' || q == '"' || q == '`') {
          val closed = e - 1 > i && s.charAt(e - 1) == q
          java.util.Arrays.fill(out, i + 1, if (closed) e - 1 else e,
            if (q == '\'') StringFill else IdentFill)
        } else java.util.Arrays.fill(out, i, e, ' ')
        i = e
      }
    }
    if (out == null) s else new String(out)
  }

  /** A regex run on the code mask: it never matches inside a literal or a
    * comment, while match offsets and capture groups read the original text.
    */
  final class CodeRegex(val re: Regex) {
    def findAllIn(s: String): Iterator[Regex.Match] = {
      val m = re.pattern.matcher(mask(s))
      new Iterator[Regex.Match] {
        private var found = m.find()
        def hasNext: Boolean = found
        def next(): Regex.Match = {
          val r = new Regex.Match(s, m, Nil).force
          found = m.find(); r
        }
      }
    }
    def findFirstIn(s: String): Option[Regex.Match] = findAllIn(s).nextOption()
    /** Replace every match with `f(match)`, taken literally (no `$` groups);
      * `s` itself when nothing matches.
      */
    def replaceAllIn(s: String, f: Regex.Match => String): String = {
      val it = findAllIn(s)
      if (!it.hasNext) return s
      val sb = new java.lang.StringBuilder(s.length)
      var last = 0
      it.foreach { m =>
        sb.append(s, last, m.start).append(f(m)); last = m.end
      }
      sb.append(s, last, s.length).toString
    }
    /** Whole-text match, for `case re(a, b) =>` patterns. */
    def unapplySeq(s: String): Option[List[String]] = {
      val m = re.pattern.matcher(mask(s))
      if (!m.matches()) None
      else Some((1 to m.groupCount).toList.map(g =>
        if (m.start(g) < 0) null else s.substring(m.start(g), m.end(g))))
    }
  }

  def regex(pattern: String): CodeRegex = new CodeRegex(pattern.r)

  /** Exclusive end of the paren group opening at `open`, or -1. */
  def matchParen(s: String, open: Int): Int = {
    val c = mask(s)
    var d = 0; var i = open
    while (i < c.length) {
      c.charAt(i) match {
        case '(' => d += 1
        case ')' => d -= 1; if (d == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Index of the '(' matching the ')' at `close`, or -1. */
  def openParenOf(s: String, close: Int): Int = {
    val c = mask(s)
    var d = 0; var i = close
    while (i >= 0) {
      c.charAt(i) match {
        case ')' => d += 1
        case '(' => d -= 1; if (d == 0) return i
        case _ =>
      }
      i -= 1
    }
    -1
  }

  /** Parens balance, and depth never drops below zero. */
  def parenBalanced(s: String): Boolean = {
    var d = 0
    mask(s).foreach {
      case '(' => d += 1
      case ')' => d -= 1; if (d < 0) return false
      case _ =>
    }
    d == 0
  }

  /** Does keyword `k` start at `i` of the code `u` (case-insensitive)?
    * Word edges of `k` need a non-word neighbour.
    */
  private def wordAt(u: String, i: Int, k: String): Boolean =
    u.regionMatches(true, i, k, 0, k.length) &&
      (!isWordChar(k.head) || i == 0 || !isWordChar(u.charAt(i - 1))) &&
      (!isWordChar(k.last) || i + k.length >= u.length || !isWordChar(u.charAt(i + k.length)))

  /** First `kw` at the paren depth of `from`, or -1 when the scope closes
    * first. With `from = 0` that is the first top-level occurrence.
    */
  def topLevelKeyword(s: String, kw: String, from: Int = 0): Int =
    keywordInCode(mask(s), kw, from)

  private def keywordInCode(u: String, kw: String, from: Int): Int = {
    var d = 0; var i = from
    while (i < u.length) {
      u.charAt(i) match {
        case '(' => d += 1
        case ')' => d -= 1; if (d < 0) return -1
        case _ => if (d == 0 && wordAt(u, i, kw)) return i
      }
      i += 1
    }
    -1
  }

  /** Last top-level `kw`, or -1. */
  def lastTopLevelKeyword(s: String, kw: String): Int = {
    val u = mask(s)
    Iterator.iterate(keywordInCode(u, kw, 0))(p =>
      if (p < 0) -1 else keywordInCode(u, kw, p + kw.length))
      .takeWhile(_ >= 0).toSeq.lastOption.getOrElse(-1)
  }

  /** Clause words that are also function names (`left('x', 2)`,
    * `any(v)`, `array(1, 2)`, `format('{}', v)`): followed by '(' they are
    * a call, not a clause. Any other clause word ends a clause even when a
    * paren follows it (`WHERE (a OR b)`).
    */
  private val callableWords = Set("LEFT", "RIGHT", "ANY", "ARRAY", "FORMAT")

  /** Exclusive end of the clause starting at `from`: the first `bounds`
    * keyword at the same depth that does not open a call, the enclosing
    * scope's ')', or the end of the text.
    */
  def clauseExtent(s: String, from: Int, bounds: Seq[String]): Int = {
    val u = mask(s)
    def opensCall(k: String, end: Int): Boolean =
      callableWords(k.toUpperCase(java.util.Locale.ROOT)) && {
        var j = end
        while (j < u.length && Character.isWhitespace(u.charAt(j))) j += 1
        j < u.length && u.charAt(j) == '('
      }
    var d = 0; var i = from
    while (i < u.length) {
      u.charAt(i) match {
        case '(' => d += 1
        case ')' => d -= 1; if (d < 0) return i
        case _ if d == 0 =>
          bounds.find(wordAt(u, i, _)).foreach { k =>
            if (!opensCall(k, i + k.length)) return i
          }
        case _ =>
      }
      i += 1
    }
    u.length
  }

  /** Split on a top-level separator — a comma by default, or a keyword such
    * as AND; pieces are trimmed and empty ones dropped.
    */
  def splitTopLevel(s: String, sep: String = ","): Seq[String] = {
    val u = mask(s)
    val out = Seq.newBuilder[String]
    var d = 0; var i = 0; var start = 0
    while (i < u.length) {
      u.charAt(i) match {
        case '(' => d += 1; i += 1
        case ')' => d -= 1; i += 1
        case _ if d == 0 && wordAt(u, i, sep) =>
          out += s.substring(start, i); i += sep.length; start = i
        case _ => i += 1
      }
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
