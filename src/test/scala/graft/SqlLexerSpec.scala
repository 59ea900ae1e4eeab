package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.server.SqlLexer
import graft.server.SqlLexer._

/** Span boundaries of the one SQL lexer every rewrite, intercept and
  * `$n` splice consults. */
class SqlLexerSpec extends AnyFunSuite {
  private def kinds(sql: String): Seq[(Kind, String)] =
    SqlLexer.spans(sql).map(sp => sp.kind -> sql.substring(sp.start, sp.end))

  test("doubled quotes stay inside literals and identifiers") {
    assert(kinds("select 'it''s', x") ==
      Seq(Code -> "select ", Literal -> "'it''s'", Code -> ", x"))
    assert(kinds("""a "x""y" b""") ==
      Seq(Code -> "a ", Ident -> "\"x\"\"y\"", Code -> " b"))
    assert(kinds("a `x``y` b") ==
      Seq(Code -> "a ", Ident -> "`x``y`", Code -> " b"))
  }

  test("a single quote inside a comment or identifier opens no literal") {
    assert(kinds("select 1 -- it's\n, 'a'") == Seq(Code -> "select 1 ",
      LineComment -> "-- it's", Code -> "\n, ", Literal -> "'a'"))
    assert(kinds("""select 1 AS "it's", 'b'""") == Seq(Code -> "select 1 AS ",
      Ident -> "\"it's\"", Code -> ", ", Literal -> "'b'"))
    assert(kinds("/* don't */ 'c'") ==
      Seq(BlockComment -> "/* don't */", Code -> " ", Literal -> "'c'"))
  }

  test("block comments nest") {
    assert(kinds("a /* x /* y */ z */ b") ==
      Seq(Code -> "a ", BlockComment -> "/* x /* y */ z */", Code -> " b"))
  }

  test("a $tag$ opens a dollar quote, $1 and a word-attached $ do not") {
    assert(kinds("select $q$ it's $1 $q$, $1") ==
      Seq(Code -> "select ", DollarQuote -> "$q$ it's $1 $q$", Code -> ", $1"))
    assert(kinds("$$a$$||$$b$$") ==
      Seq(DollarQuote -> "$$a$$", Code -> "||", DollarQuote -> "$$b$$"))
    assert(kinds("select a$b$ + $1") == Seq(Code -> "select a$b$ + $1"))
  }

  test("an unterminated span runs to the end of the text") {
    assert(kinds("select 'abc") == Seq(Code -> "select ", Literal -> "'abc"))
    assert(kinds("select \"abc") == Seq(Code -> "select ", Ident -> "\"abc"))
    assert(kinds("x /* a /* b */") == Seq(Code -> "x ", BlockComment -> "/* a /* b */"))
    assert(kinds("x -- c") == Seq(Code -> "x ", LineComment -> "-- c"))
    assert(kinds("x $t$ body") == Seq(Code -> "x ", DollarQuote -> "$t$ body"))
  }

  test("code matches start in code; a match may run on through a literal") {
    val re = """(?i)getvariable\('(\w+)'\)""".r
    val sql = "select getvariable('x'), 'getvariable(''y'')' -- getvariable('z')"
    assert(SqlLexer.codeMatches(sql, re).map(_.group(1)).toList == List("x"))
    assert(SqlLexer.replaceInCode("a semi join b, 'a semi join b'", "semi join".r)(_ => "$1") ==
      "a $1 b, 'a semi join b'")
  }

  test("bracket matching, top-level keywords and splits skip non-code spans") {
    val sql = "f(')', \"(\", [1, (2)]) + g(x)"
    assert(SqlLexer.matchingClose(sql, 1) == sql.indexOf(" +") - 1)
    assert(SqlLexer.matchingOpen(sql, sql.indexOf(" +") - 1) == 1)
    assert(SqlLexer.topLevelKeyword("select (select 1 from t) 'from' from u", 0, "from") == 32)
    assert(SqlLexer.splitTopLevel("a, 'b,c', f(d, e) -- x, y\n, [g, h]", ',') ==
      Seq("a", "'b,c'", "f(d, e) -- x, y", "[g, h]"))
  }
}
