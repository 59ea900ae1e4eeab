package graft.server

import scala.util.matching.Regex

/** The one place that decides which spans of SQL text are code and which
  * are string literals, quoted identifiers or comments. Every dialect
  * rewrite, statement intercept and `$n` splice asks it instead of
  * keeping its own in-string state, so a `'` inside `"it's"` or
  * `-- it's` can no longer flip one pass's idea of where a literal is.
  *
  * Span grammar (one left-to-right pass, no options):
  *   - `'…'` literal; `''` is the only escape (PG/DuckDB standard
  *     strings — a backslash is an ordinary character)
  *   - `"…"` and `` `…` `` identifiers; the quote doubles to escape
  *   - `--` line comment, up to (not including) its newline
  *   - `/* … */` block comment, nesting as in PG and Spark
  *   - `$tag$ … $tag$` dollar quote (`$$` included; `$1` is code — a
  *     tag cannot start with a digit)
  * An unterminated span runs to the end of the text. */
object SqlLexer {
  sealed trait Kind
  case object Code extends Kind
  case object Literal extends Kind
  case object Ident extends Kind
  case object LineComment extends Kind
  case object BlockComment extends Kind
  case object DollarQuote extends Kind

  final case class Span(kind: Kind, start: Int, end: Int) {
    def isCode: Boolean = kind == Code
  }

  private def isWord(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Kind of the non-code span that opens at `i`, or Code. `i` must be a
    * position in code (the start of the text, or the end of a span). */
  private def opens(sql: String, i: Int): Kind = sql.charAt(i) match {
    case '\'' => Literal
    case '"' | '`' => Ident
    case '-' if sql.startsWith("--", i) => LineComment
    case '/' if sql.startsWith("/*", i) => BlockComment
    case '$' if (i == 0 || !isWord(sql.charAt(i - 1))) && dollarTag(sql, i) > 0 => DollarQuote
    case _ => Code
  }

  /** Length of the `$tag$` opener at `i`, or 0. */
  private def dollarTag(sql: String, i: Int): Int = {
    var j = i + 1
    if (j < sql.length && (sql.charAt(j).isLetter || sql.charAt(j) == '_'))
      while (j < sql.length && isWord(sql.charAt(j))) j += 1
    if (j < sql.length && sql.charAt(j) == '$') j + 1 - i else 0
  }

  /** End (exclusive) of the literal, identifier, comment or dollar quote
    * opening at code position `i`; `i` itself when code starts there. */
  def skip(sql: String, i: Int): Int = {
    val n = sql.length
    if (i >= n) return i
    opens(sql, i) match {
      case Code => i
      case Literal | Ident =>
        val q = sql.charAt(i)
        var j = i + 1
        while (j < n) {
          if (sql.charAt(j) != q) j += 1
          else if (j + 1 < n && sql.charAt(j + 1) == q) j += 2
          else return j + 1
        }
        n
      case LineComment =>
        val e = sql.indexOf('\n', i)
        if (e < 0) n else e
      case BlockComment =>
        var depth = 0
        var j = i
        while (j < n) {
          if (sql.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (sql.startsWith("*/", j)) { depth -= 1; j += 2; if (depth == 0) return j }
          else j += 1
        }
        n
      case DollarQuote =>
        val tag = sql.substring(i, i + dollarTag(sql, i))
        val e = sql.indexOf(tag, i + tag.length)
        if (e < 0) n else e + tag.length
    }
  }

  /** The whole text as consecutive spans. */
  def spans(sql: String): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var code = 0
    var i = 0
    while (i < sql.length) {
      val e = skip(sql, i)
      if (e == i) i += 1
      else {
        if (code < i) out += Span(Code, code, i)
        out += Span(opens(sql, i), i, e)
        code = e; i = e
      }
    }
    if (code < sql.length) out += Span(Code, code, sql.length)
    out.result()
  }

  /** `f` applied to each code span; every other span passes verbatim. */
  def mapCode(sql: String)(f: String => String): String =
    spans(sql).map { sp =>
      val t = sql.substring(sp.start, sp.end)
      if (sp.isCode) f(t) else t
    }.mkString

  /** Matches of `re` over the whole text that START in code. A match may
    * run on through a literal (`date_diff('day',`, `getvariable('x')`);
    * one starting inside a non-code span is dropped and the search
    * resumes at that span's end. Lexes only once a first match exists. */
  def codeMatches(sql: String, re: Regex): Iterator[Regex.Match] = {
    val m = re.pattern.matcher(sql)
    lazy val quoted = spans(sql).iterator.filterNot(_.isCode).buffered
    var from = 0
    Iterator.continually {
      var hit: Regex.Match = null
      while (hit == null && from <= sql.length && m.find(from)) {
        while (quoted.hasNext && quoted.head.end <= m.start) quoted.next()
        if (quoted.hasNext && quoted.head.start <= m.start) from = quoted.head.end
        else {
          hit = new Regex.Match(sql, m, Nil).force
          from = if (m.end > m.start) m.end else m.end + 1
        }
      }
      hit
    }.takeWhile(_ != null)
  }

  /** Replace each code match of `re` (see [[codeMatches]]) with `f`'s
    * result, taken literally (no `$n` group references). */
  def replaceInCode(sql: String, re: Regex)(f: Regex.Match => String): String = {
    val it = codeMatches(sql, re)
    if (!it.hasNext) return sql
    val out = new java.lang.StringBuilder(sql.length + 16)
    var last = 0
    it.foreach { m => out.append(sql, last, m.start).append(f(m)); last = m.end }
    out.append(sql, last, sql.length).toString
  }

  private def isOpen(c: Char) = c == '(' || c == '[' || c == '{'
  private def isClose(c: Char) = c == ')' || c == ']' || c == '}'

  /** Visit each code character from code position `from` with the
    * bracket depth before it (relative to `from`); returns the first
    * index where `f` holds, or -1. Stops once a closer leaves the group
    * `from` sits in. */
  private def walk(sql: String, from: Int)(f: (Int, Int) => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < sql.length) {
      val e = skip(sql, i)
      if (e > i) i = e
      else {
        if (f(i, depth)) return i
        val c = sql.charAt(i)
        if (isOpen(c)) depth += 1
        else if (isClose(c)) { depth -= 1; if (depth < 0) return -1 }
        i += 1
      }
    }
    -1
  }

  /** Index of the bracket closing the `(`, `[` or `{` at `open`, or -1. */
  def matchingClose(sql: String, open: Int): Int =
    walk(sql, open)((i, d) => d == 1 && isClose(sql.charAt(i)))

  /** Index of the bracket opening the one that closes at `close`, or -1
    * (also when `close` is not a code bracket). */
  def matchingOpen(sql: String, close: Int): Int = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    var out = -1
    walk(sql, 0) { (i, _) =>
      val c = sql.charAt(i)
      if (i == close) { if (stack.nonEmpty && isClose(c)) out = stack.last; true }
      else {
        if (isOpen(c)) stack += i
        else if (isClose(c) && stack.nonEmpty) stack.remove(stack.length - 1)
        false
      }
    }
    out
  }

  /** First code index ≥ `from` at bracket depth 0 (brackets themselves
    * excluded) where `hit` holds; -1 when none does before the
    * enclosing group ends. */
  def scanTopLevel(sql: String, from: Int)(hit: Int => Boolean): Int =
    walk(sql, from)((i, d) => d == 0 && !isOpen(sql.charAt(i)) && !isClose(sql.charAt(i)) && hit(i))

  /** True iff the word-bounded keyword `kw` starts at `i` (ASCII
    * case-insensitive). */
  def keywordAt(sql: String, i: Int, kw: String): Boolean =
    sql.regionMatches(true, i, kw, 0, kw.length) &&
      (i == 0 || !isWord(sql.charAt(i - 1))) &&
      (i + kw.length >= sql.length || !isWord(sql.charAt(i + kw.length)))

  /** First top-level position of any of `kws`, or -1. */
  def topLevelKeyword(sql: String, from: Int, kws: String*): Int =
    scanTopLevel(sql, from)(i => kws.exists(keywordAt(sql, i, _)))

  /** Split at top-level `sep`; pieces trimmed, empty ones dropped. */
  def splitTopLevel(sql: String, sep: Char): Seq[String] = {
    val cuts = scala.collection.mutable.ArrayBuffer(-1)
    scanTopLevel(sql, 0) { i => if (sql.charAt(i) == sep) cuts += i; false }
    cuts += sql.length
    cuts.indices.tail.map(k => sql.substring(cuts(k - 1) + 1, cuts(k)).trim).filter(_.nonEmpty)
  }
}
