package graft.server

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Base64

import scala.collection.mutable

import graft.server.Engine.{Constraints, Fk, MacroDef, SeqState}

/** Every file the server keeps under `--db_path` (the reference keeps
  * all of it in one DuckDB file and its WAL, main.go:18):
  *  - six registries rewritten whole on every change ([[Persistence.Registry]])
  *  - `views.sql`, the replayable log of catalog view DDL, one
  *    statement per line (views have no warehouse footprint)
  *  - `pending_schema_<s>.marker`, the write-ahead record of a schema
  *    created eagerly inside a transaction
  *  - `publish_journal_<n>.tsv`, the ops of a publish whose decision is
  *    made ([[Persistence.JournalOp]]): written before the first
  *    destructive step, deleted after the last, rolled forward by
  *    [[recover]] when a crash left it behind.
  * Table data lives in the warehouse, one parquet dir per table. Only
  * files here; the Spark catalog side stays in [[Engine]]. `viewName`
  * is the qualified name a views.sql statement defines. */
final class Persistence(dir: String, warehouse: String,
    viewName: String => Option[String]) {
  import Persistence._

  private def file(name: String) = new File(dir, name)

  // -- registries ------------------------------------------------------------

  def save[V](r: Registry[V], entries: Iterable[(String, V)]): Unit =
    writeFile(file(r.file).getPath, entries.toSeq.sortBy(_._1)
      .map { case (k, v) => r.encode(k, v) }.mkString("\n"))

  def load[V](r: Registry[V]): Seq[(String, V)] =
    readLines(file(r.file)).flatMap(r.decode)

  // -- views.sql ---------------------------------------------------------------

  /** Serializes views.sql read-modify-write cycles against appends, so
    * concurrent CREATE/DROP VIEW cannot lose entries. */
  private val viewsLock = new Object

  def logView(ddl: String): Unit = viewsLock.synchronized {
    val w = new java.io.FileWriter(file(ViewsFile), true)
    try w.write(oneLine(ddl) + "\n") finally w.close()
  }

  /** Drop every statement defining one of `names`, then append `add`.
    * The file keeps its trailing newline: [[logView]] appends, and a
    * missing terminator would merge the next entry into the last line. */
  def rewriteViews(names: Set[String], add: Seq[String] = Nil): Unit =
    viewsLock.synchronized {
      rewriteLines(file(ViewsFile), l => viewName(l).exists(names),
        add.map(oneLine), terminated = true)
    }

  def viewDdl(): Seq[String] = readLines(file(ViewsFile))

  // -- schema markers ------------------------------------------------------------

  private def schemaMarker(s: String) = file(s"pending_schema_$s.marker")
  def markSchema(s: String): Unit = writeFile(schemaMarker(s).getPath, s)
  def clearSchemaMarker(s: String): Unit = schemaMarker(s).delete()

  /** Hand every leftover marker's schema to `compensate`, then delete it. */
  def consumeSchemaMarkers(compensate: String => Unit): Unit =
    listFiles(new File(dir))
      .filter(f => f.isFile && f.getName.startsWith("pending_schema_") &&
        f.getName.endsWith(".marker"))
      .foreach { f =>
        compensate(f.getName.stripPrefix("pending_schema_").stripSuffix(".marker"))
        f.delete()
      }

  // -- publish journals ----------------------------------------------------------

  def writeJournal(seq: Long, ops: Seq[JournalOp]): File = {
    val f = file(s"$JournalPrefix$seq.tsv"); rewriteJournal(f, ops); f
  }

  private def tableDirOf(name: String): File = Persistence.tableDirOf(warehouse, name)

  /** Boot-time roll-forward of publishes that crashed midway. Each
    * leftover journal was written AFTER the publish decision and before
    * its first destructive step, so the publish may be half-done — e.g.
    * an INSERT OVERWRITE that deleted the table's files and died before
    * writing the new ones. Rolling FORWARD from the still-on-disk
    * staged images (pure file-level ops, before any catalog
    * registration) is the only direction that never loses data. Every
    * op (see [[Persistence.JournalOp]]) is idempotent against a crash
    * DURING recovery; `overwrite` and `append` COPY the staged files
    * so a crash mid-copy leaves the source whole for the retry. A
    * table whose staged source dir is GONE already published fully
    * (sources are only dropped after the last table publishes). Runs
    * BEFORE constraints.tsv is read and before the stale-staging
    * reclaim (which deletes the now-consumed sources). */
  def recover(): Unit = {
    import JournalOp._
    val journals = listFiles(new File(dir))
      .filter(f => f.isFile && f.getName.startsWith(JournalPrefix))
      .sortBy(_.getName)
    if (journals.isEmpty) return
    def dataFiles(d: File): Seq[File] =
      listFiles(d).filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).toSeq
    def clearCruft(d: File): Unit =
      listFiles(d).filter(f => f.isDirectory && f.getName == "_temporary").foreach(rm)
    val dropNames = mutable.Set.empty[String]
    val addRegs = mutable.Map.empty[String, Constraints]
    journals.foreach { jf =>
      val ops = readLines(jf).flatMap(JournalOp.decode)
      // Ops replay in the PHASES the publish loop ran; a consumed
      // source dir means an op ran pre-crash, so a crash at any point
      // rolls the whole commit forward exactly once.
      // ---- phase 1: drops, skipped when a later publish into the SAME
      // name already completed (that dir is the PUBLISHED table). A
      // staged image's missing source dir means it was consumed. An
      // `mv` source is a REAL table: "ext" never had a warehouse dir,
      // so its absence proves nothing; otherwise evidence is source
      // gone AND target present (target alone is ambiguous with the
      // dropped table's own dir).
      def gone(src: String) = src.nonEmpty && !tableDirOf(src).exists()
      ops.collect { case Drop(t) => t }.foreach { t =>
        val laterDone = ops.exists {
          case Overwrite(`t`, s) => gone(s)
          case Append(`t`, s, _) => gone(s)
          case Replace(`t`, s) => gone(s)
          case Rename(`t`, s, _) => gone(s)
          case Mv(`t`, from, marker, _) =>
            marker != "ext" && gone(from) && tableDirOf(t).exists()
          case _ => false
        }
        if (!laterDone) { val d = tableDirOf(t); if (d.exists()) rm(d) }
        dropNames += t
      }
      // ---- phase 2: publishes into existing names — before any
      // rename moves the dir out from under the name
      ops.foreach {
        case Replace(t, s) if tableDirOf(s).exists() =>
          val tDir = tableDirOf(t)
          if (tDir.exists()) rm(tDir)
          Files.move(tableDirOf(s).toPath, tDir.toPath)
        case Overwrite(t, s) if tableDirOf(s).exists() =>
          val tDir = tableDirOf(t)
          tDir.mkdirs(); clearCruft(tDir)
          dataFiles(tDir).foreach(_.delete())
          dataFiles(tableDirOf(s)).foreach(f => Files.copy(f.toPath,
            new File(tDir, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING))
        case Append(t, s, base) if tableDirOf(s).exists() =>
          val tDir = tableDirOf(t)
          tDir.mkdirs(); clearCruft(tDir)
          dataFiles(tDir).filterNot(f => base.contains(f.getName)).foreach(_.delete())
          dataFiles(tableDirOf(s)).foreach(f => Files.copy(f.toPath,
            new File(tDir, "jr_" + f.getName).toPath, StandardCopyOption.REPLACE_EXISTING))
        case _ =>
      }
      // ---- phase 3: renames — the old dir takes the new name; the
      // registration rekeys even when the move itself already ran (or
      // the table has no warehouse dir to move)
      ops.foreach {
        case Mv(to, from, _, reg) =>
          val nDir = tableDirOf(to); val oDir = tableDirOf(from)
          var rescued = false
          if (oDir.exists() && !nDir.exists()) Files.move(oDir.toPath, nDir.toPath)
          else if (oDir.exists() && nDir.exists() &&
              staleStagingRe.matches(from.split('.').last)) {
            // a chain hop stranded at its TEMP name with the target
            // occupied: the temp dir is REAL DATA one reclaim away from
            // deletion — move it to a visible rescue name
            val rescue = tableDirOf(to + "__rescued")
            if (!rescue.exists()) {
              Files.move(oDir.toPath, rescue.toPath)
              rescued = true
            }
          }
          dropNames += from
          // a rescued table keeps NO registration under the occupied
          // target name — that line would bind the CONCURRENT table
          if (!rescued) reg.foreach(addRegs(to) = _)
        case _ =>
      }
      ops.collect { case Constraint(t, Some(c)) => addRegs(t) = c }
      // ---- phase 4: created-table publishes — after renames freed
      // any same-name dirs (a transactional recreate of a renamed-away
      // name)
      ops.foreach {
        case Rename(t, s, reg) =>
          val tDir = tableDirOf(t); val sDir = tableDirOf(s)
          if (!sDir.exists()) {
            // completed pre-crash; the one non-file step — the created
            // table's registration — is idempotent to re-apply
            if (tDir.exists()) reg.foreach(addRegs(t) = _)
          } else {
            if (!tDir.exists()) Files.move(sDir.toPath, tDir.toPath)
            reg.foreach(addRegs(t) = _)
          }
        case _ =>
      }
      // ---- phase 5: view intents — rewrite the view DDL log (catalog
      // views replay from views.sql at boot, so editing it IS the
      // durable commit of the txn's view DDL)
      val vdrops = ops.collect { case ViewDrop(v) => v }
      val vcreates = ops.collect { case ViewCreate(v, ddl) => (v, ddl) }
      if (vdrops.nonEmpty || vcreates.nonEmpty)
        rewriteViews((vdrops ++ vcreates.map(_._1)).toSet, vcreates.map(_._2))
      // ---- phase 6: enum-type intents — same treatment on enums.tsv
      val edrops = ops.collect { case EnumDrop(n) => n }
      val ecreates = ops.collect { case EnumCreate(n, vs) => (n, vs) }
      if (edrops.nonEmpty || ecreates.nonEmpty) {
        val names = (edrops ++ ecreates.map(_._1)).toSet
        rewriteLines(file(Enums.file), l => names.contains(keyOf(l)),
          ecreates.map { case (n, vs) => Enums.encode(n, vs) }, terminated = false)
      }
      // ---- phase 7: schema-drop intents — remove the schema's
      // warehouse dir so the boot dir-walk doesn't resurrect it;
      // RESTRICT: only when nothing but stale staging remains inside
      ops.collect { case SchemaDrop(s) => new File(warehouse, s"$s.db") }.foreach { d =>
        if (d.isDirectory &&
            listFiles(d).forall(f => f.isDirectory && staleStagingRe.matches(f.getName))) rm(d)
      }
      jf.delete()
    }
    if (dropNames.nonEmpty || addRegs.nonEmpty)
      rewriteLines(file(ConstraintRecords.file), l => {
        val n = keyOf(l); dropNames.contains(n) || addRegs.contains(n)
      }, addRegs.toSeq.map { case (t, c) => ConstraintRecords.encode(t, c) },
        terminated = false)
  }

  /** The boot walk of the warehouse: each `<db>.db` dir with the table
    * dirs to re-register. Crash leftovers of engine staging
    * ([[Persistence.staleStagingRe]]) and of driver-side appends
    * ([[Persistence.isAppendTemp]]) are reclaimed on the way — left
    * out of the catalog AND deleted, or they leak disk forever. */
  def liveTableDirs(): Seq[(String, Seq[File])] = {
    val wh = new File(warehouse)
    listFiles(wh).filter(d => d.isDirectory && d.getName.endsWith(".db")).toSeq
      .map { dbDir =>
        val db = dbDir.getName.stripSuffix(".db")
        val (stale, live) = listFiles(dbDir).filter(_.isDirectory)
          .partition(t => staleStagingRe.matches(t.getName))
        stale.foreach { tDir =>
          if (tDir.getName.matches(""".*__tmpc\d+$""")) {
            // conn-temp leftovers are garbage after a crash, but a
            // pre-r14 database could hold a USER table with this suffix:
            // quarantine loudly instead of deleting (ADVICE r14)
            val dst = new File(wh, s".quarantine/$db/${tDir.getName}")
            dst.getParentFile.mkdirs()
            System.err.println(s"[graft] boot reclaim: quarantining temp-table leftover " +
              s"${tDir.getAbsolutePath} -> ${dst.getAbsolutePath} (delete the quarantine " +
              "dir to reclaim disk; restore by moving it back if this was a pre-guard user table)")
            if (dst.exists() || !tDir.renameTo(dst)) rm(tDir) // occupied/cross-volume: fall back
          } else rm(tDir)
        }
        live.foreach(t => listFiles(t).filter(f => f.isFile && isAppendTemp(f.getName)).foreach(rm))
        db -> live.toSeq
      }
  }
}

object Persistence {
  private val ViewsFile = "views.sql"
  private val JournalPrefix = "publish_journal_"

  /** Staging dirs a crash may leave behind — never re-registered, and
    * reclaimed at boot. __txn overlays/deltas are included (a crash
    * mid-transaction must not resurrect its uncommitted staging as a
    * user table); __alter is deliberately NOT — a directory written by
    * an older server may hold the only surviving copy of a table in an
    * `__alter` stage. */
  private val staleStagingRe =
    """.*(__cow|__oc_src|__oc_src_raw|__oc_stage|__txn\d+(delta)?|__tmpc\d+)$""".r

  /** A file [[ParquetAppend]] writes before its rename — `.part-…` —
    * or that file's checksum, `..part-….crc`. A committed data file's
    * own checksum (`.part-….crc`) is not one. */
  def isAppendTemp(name: String): Boolean =
    name.startsWith("..part-") || (name.startsWith(".part-") && !name.endsWith(".crc"))

  // -- file primitives -----------------------------------------------------------

  /** Serializes [[writeFile]]: the stage file is `path + ".tmp"`, so two
    * concurrent writes of the SAME file would interleave content in one
    * tmp or race the move. The files are tiny metadata. */
  private val writeLock = new Object

  /** Crash-safe replace: write `<path>.tmp`, then ATOMIC_MOVE over the
    * target — a crash mid-write leaves the old file intact instead of a
    * truncated one that silently drops records on load. */
  def writeFile(path: String, content: String): Unit = writeLock.synchronized {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val tmp = new File(path + ".tmp")
    val w = new java.io.FileWriter(tmp)
    try w.write(content) finally w.close()
    try Files.move(tmp.toPath, Paths.get(path),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Replace a publish journal's ops (a kept journal shrinks to what
    * is still outstanding). */
  def rewriteJournal(f: File, ops: Seq[JournalOp]): Unit =
    writeFile(f.getPath, ops.map(JournalOp.encode).mkString("\n"))

  /** The non-empty lines of a file; none when it does not exist. */
  private def readLines(f: File): List[String] =
    if (!f.exists()) Nil
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().filter(_.nonEmpty).toList finally src.close()
    }

  /** Rewrite a line file: drop the lines `drop` matches, append `add`.
    * `terminated` ends a non-empty file with a newline (files that are
    * also appended to line by line). A missing file with nothing to add
    * stays missing. */
  private def rewriteLines(f: File, drop: String => Boolean, add: Seq[String],
      terminated: Boolean): Unit = {
    if (!f.exists() && add.isEmpty) return
    val out = readLines(f).filterNot(drop) ++ add
    writeFile(f.getPath,
      if (terminated && out.nonEmpty) out.mkString("\n") + "\n" else out.mkString("\n"))
  }

  /** Delete a file or a directory tree. */
  def rm(f: File): Unit = {
    if (f.isDirectory) listFiles(f).foreach(rm)
    f.delete()
  }

  private def listFiles(d: File): Array[File] =
    Option(d.listFiles()).getOrElse(Array.empty)

  /** Warehouse dir of a qualified table (or staging) name. */
  def tableDirOf(warehouse: String, name: String): File = {
    val Array(db, t) = name.split("\\.", 2)
    new File(warehouse, s"$db.db/$t")
  }

  /** The key field of a registry line. */
  private def keyOf(line: String): String = line.takeWhile(_ != '\t')

  private def oneLine(ddl: String): String = ddl.replace("\n", " ")

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), "UTF-8")

  private def list(s: String): Seq[String] = if (s.isEmpty) Nil else s.split(",").toSeq

  // -- registry records ------------------------------------------------------------

  /** One registry file: `key\t…` per line, written sorted by key. */
  sealed abstract class Registry[V](val file: String) {
    def encode(key: String, v: V): String
    def decode(line: String): Option[(String, V)]
  }

  /** username → SCRAM verifier */
  object Users extends Registry[String]("users.tsv") {
    def encode(u: String, verifier: String): String = s"$u\t$verifier"
    def decode(l: String): Option[(String, String)] =
      PartialFunction.condOpt(l.split("\t", 2)) { case Array(u, v) => u -> v }
  }

  /** sequence → next value, increment */
  object Sequences extends Registry[SeqState]("sequences.tsv") {
    def encode(n: String, s: SeqState): String = s"$n\t${s.next.get()}\t${s.inc}"
    def decode(l: String): Option[(String, SeqState)] =
      PartialFunction.condOpt(l.split("\t", -1)) { case Array(n, next, inc) =>
        n -> new SeqState(new java.util.concurrent.atomic.AtomicLong(next.toLong), inc.toLong)
      }
  }

  /** ENUM type → its values */
  object Enums extends Registry[Seq[String]]("enums.tsv") {
    def encode(n: String, vs: Seq[String]): String = s"$n\t${vs.mkString(",")}"
    def decode(l: String): Option[(String, Seq[String])] =
      PartialFunction.condOpt(l.split("\t", -1)) { case Array(n, vs) => n -> list(vs) }
  }

  /** macro → `T`able/`S`calar kind, params (`p:=<b64 default>` for a
    * defaulted one) and the base64 body. */
  object Macros extends Registry[MacroDef]("macros.tsv") {
    def encode(n: String, d: MacroDef): String = {
      val ps = d.params.map(p =>
        if (d.defaults.contains(p)) s"$p:=${b64(d.defaults(p))}" else p).mkString(",")
      s"$n\t${if (d.isTable) "T" else "S"}\t$ps\t${b64(d.body)}"
    }
    def decode(l: String): Option[(String, MacroDef)] =
      PartialFunction.condOpt(l.split("\t", -1)) { case Array(n, t, ps, b) =>
        val items = list(ps).map(_.split(":=", 2))
        n -> MacroDef(items.map(_(0)), items.collect { case Array(p, d) => p -> unb64(d) }.toMap,
          unb64(b), t == "T")
      }
  }

  /** index → (qualified table, columns, unique) */
  object Indexes extends Registry[(String, Seq[String], Boolean)]("indexes.tsv") {
    def encode(n: String, v: (String, Seq[String], Boolean)): String =
      s"$n\t${v._1}\t${v._2.mkString(",")}\t${if (v._3) "U" else ""}"
    def decode(l: String): Option[(String, (String, Seq[String], Boolean))] =
      PartialFunction.condOpt(l.split("\t", -1)) {
        case Array(n, t, cs, u) => n -> ((t, list(cs), u == "U"))
      }
  }

  /** table → declared constraints: pk, `|`-separated unique sets, not
    * null, FKs as `cols>refTable:refCols`, enum columns as `col:type`,
    * base64 CHECK predicates. The same line rides in the journal's
    * `rename`/`mv`/`constraint` ops. */
  object ConstraintRecords extends Registry[Constraints]("constraints.tsv") {
    def encode(t: String, c: Constraints): String = {
      val fkStr = c.fks.map(f =>
        s"${f.cols.mkString(",")}>${f.refTable}:${f.refCols.mkString(",")}").mkString("|")
      val enStr = c.enumCols.map { case (cn, en) => s"$cn:$en" }.mkString("|")
      val ckStr = c.checks.map(b64).mkString("|")
      s"$t\t${c.pk.mkString(",")}\t${c.unique.map(_.mkString(",")).mkString("|")}\t" +
        s"${c.notNull.mkString(",")}\t$fkStr\t$enStr\t$ckStr"
    }
    def decode(l: String): Option[(String, Constraints)] = {
      val parts = l.split("\t", -1)
      if (parts.length < 4) return None
      def field(i: Int) = if (parts.length > i) parts(i) else ""
      def items(s: String) = if (s.isEmpty) Seq.empty[String] else s.split("\\|").toSeq
      val fks = items(field(4)).map(_.split(">", 2)).collect {
        case Array(cols, rhs) if rhs.contains(":") =>
          val Array(ref, rcols) = rhs.split(":", 2)
          Fk(list(cols), ref, list(rcols))
      }
      val enumCols = items(field(5)).map(_.split(":", 2)).collect {
        case Array(cn, en) => cn -> en
      }
      Some(parts(0) -> Constraints(list(parts(1)), items(parts(2)).map(_.split(",").toSeq),
        list(parts(3)), fks, enumCols, items(field(6)).map(unb64)))
    }
  }

  // -- publish journal ----------------------------------------------------------------

  /** One publish-journal op. On disk a line of five tab-separated
    * fields: `kind`, the target name, a source name, a kind-specific
    * field and a base64 payload (empty when unused). */
  sealed trait JournalOp

  object JournalOp {
    /** drop: delete `table`'s dir and registration */
    final case class Drop(table: String) extends JournalOp
    /** overwrite: replace `table`'s data files with `stage`'s */
    final case class Overwrite(table: String, stage: String) extends JournalOp
    /** append: delete `table` files not in `baseFiles` (a crashed
      * partial append), then add `delta`'s under a `jr_` prefix */
    final case class Append(table: String, delta: String, baseFiles: Seq[String])
      extends JournalOp
    /** replace: `stage`'s dir replaces `table`'s (the schema may differ) */
    final case class Replace(table: String, stage: String) extends JournalOp
    /** rename: a created table's `stage` dir takes its name; register `reg` */
    final case class Rename(table: String, stage: String, reg: Option[Constraints])
      extends JournalOp
    /** mv: table `from` moves to `to` with registration `reg`; `marker`
      * "wh"/"ext" = the source had a warehouse dir or not, "chain" = a
      * bare dir hop of a multi-step rename */
    final case class Mv(to: String, from: String, marker: String, reg: Option[Constraints])
      extends JournalOp
    /** constraint: set `table`'s registration (FKs following a rename) */
    final case class Constraint(table: String, reg: Option[Constraints]) extends JournalOp
    final case class ViewCreate(view: String, ddl: String) extends JournalOp
    final case class ViewDrop(view: String) extends JournalOp
    final case class EnumCreate(name: String, values: Seq[String]) extends JournalOp
    final case class EnumDrop(name: String) extends JournalOp
    final case class SchemaDrop(schema: String) extends JournalOp

    def encode(op: JournalOp): String = {
      def line(kind: String, a: String, b: String = "", c: String = "", d: String = "") =
        s"$kind\t$a\t$b\t$c\t$d"
      def regOf(t: String, r: Option[Constraints]) =
        r.fold("")(c => b64(ConstraintRecords.encode(t, c)))
      op match {
        case Drop(t) => line("drop", t)
        case Overwrite(t, s) => line("overwrite", t, s)
        case Append(t, d, base) => line("append", t, d, base.mkString(","))
        case Replace(t, s) => line("replace", t, s)
        case Rename(t, s, r) => line("rename", t, s, "", regOf(t, r))
        case Mv(to, from, m, r) => line("mv", to, from, m, regOf(to, r))
        case Constraint(t, r) => line("constraint", t, "", "", regOf(t, r))
        case ViewCreate(v, ddl) => line("vcreate", v, "", "", b64(ddl))
        case ViewDrop(v) => line("vdrop", v)
        case EnumCreate(n, vs) => line("ecreate", n, "", "", b64(Enums.encode(n, vs)))
        case EnumDrop(n) => line("edrop", n)
        case SchemaDrop(s) => line("sdrop", s)
      }
    }

    /** None for a kind this server does not know. Short lines decode
      * with the missing fields empty (CHECKPOINT journals written by
      * older servers carry only three). */
    def decode(l: String): Option[JournalOp] = {
      val f = l.split("\t", -1).padTo(5, "")
      def reg = if (f(4).isEmpty) None else ConstraintRecords.decode(unb64(f(4))).map(_._2)
      f(0) match {
        case "drop" => Some(Drop(f(1)))
        case "overwrite" => Some(Overwrite(f(1), f(2)))
        case "append" => Some(Append(f(1), f(2), list(f(3))))
        case "replace" => Some(Replace(f(1), f(2)))
        case "rename" => Some(Rename(f(1), f(2), reg))
        case "mv" => Some(Mv(f(1), f(2), f(3), reg))
        case "constraint" => Some(Constraint(f(1), reg))
        case "vcreate" => Some(ViewCreate(f(1), unb64(f(4))))
        case "vdrop" => Some(ViewDrop(f(1)))
        case "ecreate" => Enums.decode(unb64(f(4))).map { case (n, vs) => EnumCreate(n, vs) }
        case "edrop" => Some(EnumDrop(f(1)))
        case "sdrop" => Some(SchemaDrop(f(1)))
        case _ => None
      }
    }
  }
}
