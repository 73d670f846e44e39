package graft

import scala.util.matching.Regex

/** Impala's lexical rules for SQL text, in one place
  * (`fe/src/main/jflex/sql-scanner.flex`). Every text rewrite of the
  * dialect layer asks this module what is code and what is not:
  *
  *  - string literals in `'` and `"`; a backslash escapes the next
  *    character, so `'it\'s'` is one literal;
  *  - backtick-quoted identifiers;
  *  - `--` comments to the end of the line (newline included) and
  *    slash-star comments;
  *  - hint comments (`/* +…*/`, `-- +…`), which Impala's lexer returns
  *    as tokens: not code for depth and keyword scans, but a text
  *    rewrite may still match at them.
  *
  * Paren depth counts the parens in code only.
  */
object SqlText {

  /** Span classes, one per offset of a lexed text. */
  final val Code: Byte = 0
  final val Str: Byte = 1
  final val Ident: Byte = 2
  final val Comment: Byte = 3
  final val Hint: Byte = 4

  /** `depth(i)`: paren depth once the char at `i` is read (a '(' counts
    * at its own offset, a ')' no longer does). `span(i)`: that char's
    * class. `open`: the text ends inside a literal, quoted identifier
    * or block comment.
    */
  final class Lexed(text: String, val depth: Array[Int],
      val span: Array[Byte], val open: Boolean) {
    /** Offset of the ')' that closes the code '(' at `at`; -1 when
      * there is none.
      */
    def close(at: Int): Int = {
      if (at >= text.length || span(at) != Code || text.charAt(at) != '(')
        return -1
      val base = depth(at) - 1
      var i = at + 1
      while (i < text.length) {
        if (depth(i) == base && span(i) == Code) return i
        i += 1
      }
      -1
    }
  }

  def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  /** Calls `f(start, end, class)` for each token of `s` that is not code,
    * in order; returns whether the text ends inside an unclosed literal,
    * quoted identifier or block comment.
    */
  private def scan(s: String)(f: (Int, Int, Byte) => Unit): Boolean = {
    val n = s.length
    def hintAt(k0: Int): Boolean = {
      var k = k0
      while (k < n && Character.isWhitespace(s.charAt(k)) && s.charAt(k) != '\n') k += 1
      k < n && s.charAt(k) == '+'
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      val start = i
      if (c == '\'' || c == '"' || c == '`') {
        val cls = if (c == '`') Ident else Str
        i += 1
        while (i < n && s.charAt(i) != c)
          i += (if (cls == Str && s.charAt(i) == '\\') 2 else 1)
        if (i >= n) { f(start, n, cls); return true }
        i += 1
        f(start, i, cls)
      } else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') {
        val cls = if (hintAt(i + 2)) Hint else Comment
        val eol = s.indexOf('\n', i + 2)
        i = if (eol < 0) n else eol + 1
        f(start, i, cls)
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        val cls = if (hintAt(i + 2)) Hint else Comment
        val end = s.indexOf("*/", i + 2)
        if (end < 0) { f(start, n, cls); return true }
        i = end + 2
        f(start, i, cls)
      } else i += 1
    }
    false
  }

  def lex(s: String): Lexed = {
    val span = new Array[Byte](s.length)
    val open = scan(s)((a, b, cls) => java.util.Arrays.fill(span, a, b, cls))
    val depths = new Array[Int](s.length)
    var depth = 0
    var i = 0
    while (i < s.length) {
      if (span(i) == Code) s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      depths(i) = depth
      i += 1
    }
    new Lexed(s, depths, span, open)
  }

  /** Paren depth, and "inside a literal, quoted identifier, comment or
    * hint", at each offset of `s`.
    */
  def depthMap(s: String): (Array[Int], Array[Boolean]) = {
    val l = lex(s)
    (l.depth, l.span.map(_ != Code))
  }

  /** [[Lexed.close]] on a text lexed for this one call. */
  def matchingParen(s: String, open: Int): Int = lex(s).close(open)

  /** No ')' without its '(', every paren closed, nothing left open. */
  def balanced(s: String): Boolean = {
    val l = lex(s)
    !l.open && l.depth.forall(_ >= 0) && (s.isEmpty || l.depth.last == 0)
  }

  /** Split `s` at each depth-0 code `sep`: "," or a keyword such as
    * "AND" (case-insensitive, whole words only). Pieces keep their
    * whitespace; an empty text is one empty piece.
    */
  def split(s: String, sep: String = ","): Seq[String] = {
    val l = lex(s)
    val word = isWordChar(sep.head)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (l.span(i) == Code && l.depth(i) == 0 &&
          s.regionMatches(true, i, sep, 0, sep.length) &&
          (!word || ((i == 0 || !isWordChar(s.charAt(i - 1))) &&
            (i + sep.length >= s.length || !isWordChar(s.charAt(i + sep.length)))))) {
        out += s.substring(start, i)
        i += sep.length
        start = i
      } else i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** `s` with the contents of literals and quoted identifiers, and
    * whole comments and hints, blanked to spaces: same length, so a
    * match offset in the mask is an offset in `s`.
    */
  def mask(s: String): String = {
    val out = s.toCharArray
    scan(s) { (a, b, cls) =>
      val (from, to) =
        if (cls == Str || cls == Ident)
          (a + 1, if (b - a >= 2 && s.charAt(b - 1) == s.charAt(a)) b - 1 else b)
        else (a, b)
      java.util.Arrays.fill(out, from, math.max(from, to), ' ')
    }
    new String(out)
  }

  /** Replace each match of `re` that starts in code or in a hint; a
    * match starting inside a literal, quoted identifier or comment is
    * kept as it is.
    */
  def replaceOutside(s: String, re: Regex)(f: Regex.Match => String): String = {
    val span = lex(s).span
    re.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      if (m.start < s.length && span(m.start) != Code && span(m.start) != Hint)
        m.matched
      else f(m)))
  }
}
