package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.server.Engine.{Constraints, Fk, MacroDef}
import graft.server.Persistence
import graft.server.Persistence.JournalOp
import graft.server.Persistence.JournalOp._

/** The on-disk formats under --db_path: every record and journal line
  * the server writes must decode and encode back to the same bytes, so
  * a directory written by one server version boots the same under the
  * next. The literal lines are the ones the formats have always had. */
class PersistenceSpec extends AnyFunSuite {

  private def b64(s: String) =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def roundTrip[V](r: Persistence.Registry[V], line: String): V = {
    val (k, v) = r.decode(line).getOrElse(fail(s"${r.file} line does not decode: $line"))
    assert(r.encode(k, v) == line, s"${r.file} line changed on re-encode")
    v
  }

  test("every registry record round-trips byte-identical") {
    import Persistence._
    assert(roundTrip(Users, "alice\tSCRAM-SHA-256$4096:c2FsdA==$c3RvcmVk:c2VydmVy") ==
      "SCRAM-SHA-256$4096:c2FsdA==$c3RvcmVk:c2VydmVy")
    assert(roundTrip(Sequences, "main.seq\t17\t-2").next.get() == 17L)
    assert(roundTrip(Enums, "mood\tsad,ok,happy") == Seq("sad", "ok", "happy"))
    assert(roundTrip(Enums, "empty\t") == Nil)
    val body = "x + y * 2"
    assert(roundTrip(Macros, s"add\tS\tx,y:=${b64("1")}\t${b64(body)}") ==
      MacroDef(Seq("x", "y"), Map("y" -> "1"), body, isTable = false))
    assert(roundTrip(Macros, s"rows\tT\t\t${b64("SELECT 1 AS a")}").isTable)
    assert(roundTrip(Indexes, "idx_kv\tmain.t\tk,v\tU") == (("main.t", Seq("k", "v"), true)))
    assert(roundTrip(Indexes, "idx_k\tmain.t\tk\t") == (("main.t", Seq("k"), false)))
    val checks = Seq("v > 0", "w <> 'a|b'")
    val full = s"main.t\tk\ta,b|c\tv\tp>main.u:k|q,r>main.w:x,y\tm:mood\t" +
      checks.map(b64).mkString("|")
    assert(roundTrip(ConstraintRecords, full) == Constraints(Seq("k"),
      Seq(Seq("a", "b"), Seq("c")), Seq("v"),
      Seq(Fk(Seq("p"), "main.u", Seq("k")), Fk(Seq("q", "r"), "main.w", Seq("x", "y"))),
      Seq("m" -> "mood"), checks))
    assert(roundTrip(ConstraintRecords, "main.e\t\t\t\t\t\t").isEmpty)
  }

  test("every publish-journal op kind round-trips byte-identical") {
    val reg = "main.t\tk\t\t\t\t\t"
    val child = "main.c\t\t\t\tp>main.u:k\t\t"
    val view = "CREATE OR REPLACE VIEW main.v AS SELECT 1 AS a"
    val lines = Seq(
      "drop\tmain.t\t\t\t" -> Drop("main.t"),
      "overwrite\tmain.t\tmain.t__txn3\t\t" -> Overwrite("main.t", "main.t__txn3"),
      "overwrite\tmain.t\tmain.t__cow\t\t" -> Overwrite("main.t", "main.t__cow"),
      "append\tmain.t\tmain.t__txn4delta\tpart-0.parquet,part-1.parquet\t" ->
        Append("main.t", "main.t__txn4delta", Seq("part-0.parquet", "part-1.parquet")),
      "append\tmain.t\tmain.t__txn4delta\t\t" -> Append("main.t", "main.t__txn4delta", Nil),
      "replace\tmain.t\tmain.t__txn5\t\t" -> Replace("main.t", "main.t__txn5"),
      s"rename\tmain.t\tmain.t__txn6\t\t${b64(reg)}" ->
        Rename("main.t", "main.t__txn6", Some(Constraints(Seq("k"), Nil, Nil))),
      "rename\tmain.t\tmain.t__txn6\t\t" -> Rename("main.t", "main.t__txn6", None),
      s"mv\tmain.t\tmain.s\twh\t${b64(reg)}" ->
        Mv("main.t", "main.s", "wh", Some(Constraints(Seq("k"), Nil, Nil))),
      "mv\tmain.t\tmain.s\text\t" -> Mv("main.t", "main.s", "ext", None),
      "mv\tmain.s__txn9\tmain.s\tchain\t" -> Mv("main.s__txn9", "main.s", "chain", None),
      s"constraint\tmain.c\t\t\t${b64(child)}" -> Constraint("main.c",
        Some(Constraints(Nil, Nil, Nil, Seq(Fk(Seq("p"), "main.u", Seq("k")))))),
      s"vcreate\tmain.v\t\t\t${b64(view)}" -> ViewCreate("main.v", view),
      "vdrop\tmain.v\t\t\t" -> ViewDrop("main.v"),
      s"ecreate\tmood\t\t\t${b64("mood\tsad,ok")}" -> EnumCreate("mood", Seq("sad", "ok")),
      "edrop\tmood\t\t\t" -> EnumDrop("mood"),
      "sdrop\ts1\t\t\t" -> SchemaDrop("s1"))
    lines.foreach { case (line, op) =>
      assert(JournalOp.decode(line).contains(op), line)
      assert(JournalOp.encode(op) == line, line)
    }
    val kinds = lines.map(_._1.takeWhile(_ != '\t')).toSet
    assert(kinds == Set("drop", "overwrite", "append", "replace", "rename", "mv",
      "constraint", "vcreate", "vdrop", "ecreate", "edrop", "sdrop"))
    // the three-field CHECKPOINT line older servers wrote still decodes
    assert(JournalOp.decode("replace\tmain.t\tmain.t__alter")
      .contains(Replace("main.t", "main.t__alter")))
    assert(JournalOp.decode("frobnicate\tmain.t\t\t\t").isEmpty)
  }

  test("registry files, views.sql and journals written through one directory") {
    val dir = Files.createTempDirectory("graft-persist").toFile
    try {
      val p = new Persistence(dir.getPath, new java.io.File(dir, "wh").getPath,
        l => """(?i)^create view (\S+)""".r.findFirstMatchIn(l).map(_.group(1)))
      p.save(Persistence.Enums, Map("b" -> Seq("y"), "a" -> Seq("x", "z")))
      assert(new String(Files.readAllBytes(new java.io.File(dir, "enums.tsv").toPath),
        "UTF-8") == "a\tx,z\nb\ty")
      assert(p.load(Persistence.Enums) == Seq("a" -> Seq("x", "z"), "b" -> Seq("y")))
      p.logView("create view v1\nas select 1")
      p.logView("create view v2 as select 2")
      p.rewriteViews(Set("v1"), Seq("create view v3 as select 3"))
      assert(new String(Files.readAllBytes(new java.io.File(dir, "views.sql").toPath),
        "UTF-8") == "create view v2 as select 2\ncreate view v3 as select 3\n")
      val j = p.writeJournal(7, Seq(Drop("main.t"), SchemaDrop("s")))
      assert(j.getName == "publish_journal_7.tsv")
      assert(new String(Files.readAllBytes(j.toPath), "UTF-8") ==
        "drop\tmain.t\t\t\t\nsdrop\ts\t\t\t")
    } finally Persistence.rm(dir)
  }

  test("the boot walk reclaims driver-append temp files and keeps committed data and checksums") {
    val root = Files.createTempDirectory("persist-append").toFile
    try {
      val wh = new java.io.File(root, "warehouse")
      val t = new java.io.File(wh, "main.db/t")
      t.mkdirs()
      val kept = Seq("part-00000-a-c000.snappy.parquet", ".part-00000-a-c000.snappy.parquet.crc",
        "_SUCCESS")
      val temps = Seq(".part-00000-b-c000.snappy.parquet", "..part-00000-b-c000.snappy.parquet.crc")
      (kept ++ temps).foreach(n => Files.write(new java.io.File(t, n).toPath, Array[Byte](1)))
      assert(temps.forall(Persistence.isAppendTemp) && !kept.exists(Persistence.isAppendTemp))
      val live = new Persistence(new java.io.File(root, "db").getPath, wh.getPath, _ => None)
        .liveTableDirs()
      assert(live.map { case (db, ds) => db -> ds.map(_.getName) } == Seq("main" -> Seq("t")))
      assert(t.list().toSet == kept.toSet)
    } finally Persistence.rm(root)
  }
}
