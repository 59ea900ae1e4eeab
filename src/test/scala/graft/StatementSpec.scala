package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.server.Statement
import graft.server.Statement._

/** The one statement classifier: what is stripped from a statement's
  * ends and which kind its head reads as. */
class StatementSpec extends AnyFunSuite {
  test("ends lose whitespace, comments and semicolons; the middle stays") {
    assert(Statement(" /* a */ -- b\n select 1 -- c\n ;; ").text == "select 1")
    assert(Statement("select /*+ BROADCAST(t) */ 1 /* x */ + 2;").text ==
      "select /*+ BROADCAST(t) */ 1 /* x */ + 2")
    assert(Statement("select 'a;' ; -- ;").text == "select 'a;'")
    assert(Statement("select $$ -- $$").text == "select $$ -- $$")
    for (s <- Seq("", "  ", ";", "/* x */", "-- only\n-- comments", "/* a /* nested */ b */ ;"))
      assert(Statement(s) == Statement(Empty, ""), s)
  }

  test("the kind comes from the first code keywords, past comments and brackets") {
    def kind(s: String) = Statement(s).kind
    assert(kind("/* delete */ select 1") == Query)
    assert(kind("-- drop\n((select 1))") == Query)
    for (s <- Seq("WITH x AS (SELECT 1) SELECT * FROM x", "values (1)", "table t", "from t"))
      assert(kind(s) == Query, s)
    assert(kind("/* c */ insert into t values (1)") == Insert)
    assert(kind("start /* c */ transaction") == StartTransaction)
    assert(kind("start") == Other("START"))
    assert(kind("end") == Commit && kind("force checkpoint") == Checkpoint)
    assert(kind("desc t") == Describe && kind("unpivot t on a") == Pivot)
    assert(kind("use main") == Other("USE") && kind("use main").tag == "USE")
    assert(Seq(Query, Show, Describe, Explain, Pivot, Summarize).forall(_.returnsRows))
    assert(!Seq(Insert, Create, Begin, Copy, Empty, Other("USE")).exists(_.returnsRows))
    assert(Seq(Create, Drop, Alter).forall(_.isDdl) && !Insert.isDdl)
    assert(Seq(Begin, StartTransaction, Commit, Rollback).forall(_.isTxnControl))
  }
}
