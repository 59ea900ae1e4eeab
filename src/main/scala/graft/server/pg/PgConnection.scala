package graft.server.pg

import java.io.EOFException
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.server.{Engine, ResultStream, SqlLexer, Statement}

/** One PG client connection: startup → auth → message loop. Mirrors
  * the reference's state machine (pg_conn.go:90-208) with SURVEY's
  * quirk decisions applied: Q4 standard command tags, Q6 exact
  * show-match, Q8 multi-statement split, Q9 Close/Flush handled.
  */
final class PgConnection(socket: Socket, server: PgServer) extends Runnable {
  private val engine: Engine = server.engine
  private val spark = engine.spark

  private val in = new WireIn(socket.getInputStream)
  private val out = new WireOut(socket.getOutputStream)

  private case class Stmt(stmt: Statement, numParams: Int, paramOids: Seq[Int] = Nil) {
    /** The statement with its `$n` placeholders bound (None = NULL). */
    def bound(params: Seq[Option[String]]): Statement =
      stmt.copy(text = substituteParams(stmt.text, params))
  }
  private final class Portal(val stmt: Stmt, val params: Seq[Option[String]],
      val resultFmts: Seq[Int] = Nil) {
    // live cursor state for Execute.maxRows / PortalSuspended (Q7 done
    // properly — the reference ignores maxRows, pg_conn.go:509-532)
    var it: java.util.Iterator[Row] = _
    var schema: StructType = _
    var tag: String = _
  }

  private final class Cursor(val it: java.util.Iterator[Row], val schema: StructType)

  private val stmts = mutable.Map.empty[String, Stmt]
  private val portals = mutable.Map.empty[String, Portal]
  private val cursors = mutable.Map.empty[String, Cursor]
  private var inError = false
  private var user = ""
  val backendPid: Int = server.nextPid()
  val backendSecret: Int = util.Random.nextInt()
  @volatile private var jobGroup: String = s"pg-$backendPid"

  override def run(): Unit =
    try runInner()
    catch {
      case _: EOFException | _: java.net.SocketException => // client went away
      case NonFatal(e) => System.err.println(s"[pg] conn error: $e")
    } finally {
      // a client that disconnects (or Terminates) mid-transaction must
      // roll back: the thread is about to die, and without this its
      // staged overlay tables would leak on disk forever
      try engine.rollbackDanglingTxn() catch { case NonFatal(_) => }
      // temp objects are connection-private (r14) and die with the
      // connection, like the reference's per-conn DuckDB temp catalog
      try engine.releaseConnTemps() catch { case NonFatal(_) => }
      server.unregister(this)
      try socket.close() catch { case NonFatal(_) => }
    }

  private def runInner(): Unit = {
    if (!startup()) return
    out.authenticationOk()
    // reference announces exactly these three (pg_conn.go:20-24) — Q
    out.parameterStatus("client_encoding", "UTF8")
    out.parameterStatus("server_version", s"16.0-graft-spark-${spark.version}")
    out.parameterStatus("standard_conforming_strings", "on")
    out.backendKeyData(backendPid, backendSecret)
    out.readyForQuery()
    messageLoop()
  }

  /** Handles SSLRequest denial, CancelRequest routing, StartupMessage,
    * and (when enabled) SCRAM auth. Returns false to drop the conn. */
  private def startup(): Boolean = {
    var (code, body) = in.readStartup()
    if (code == 80877103) { // SSLRequest → deny, like the reference (wire.go:44-49)
      out.raw('N'); out.flush()
      val again = in.readStartup(); code = again._1; body = again._2
    }
    if (code == 80877102) { // CancelRequest on a second connection
      val p = new Payload(body)
      server.cancel(p.int32(), p.int32())
      return false
    }
    // StartupMessage: protocol 3.0, k\0v\0 pairs
    val p = new Payload(body)
    val params = mutable.Map.empty[String, String]
    while (p.remaining > 1) {
      val k = p.cstr()
      if (k.nonEmpty) params(k) = p.cstr()
    }
    user = params.getOrElse("user", "")
    jobGroup = s"pg-$backendPid-$user"
    server.register(this)
    // loopback trust mirrors the reference (pg_auth.go:22-25); see
    // PgServer.trustLoopback for the opt-out
    if (!server.authEnabled ||
        (server.trustLoopback && socket.getInetAddress.isLoopbackAddress)) return true
    authenticate()
  }

  private def authenticate(): Boolean = {
    val verifier = Option(engine.users.get(user.toLowerCase)).flatMap(Scram.parseVerifier)
    out.authenticationSASL(Seq("SCRAM-SHA-256"))
    out.flush()
    val conv = verifier.map(new Scram.Conversation(_))
    // SASLInitialResponse: mech\0 int32 len + data
    val (t1, b1) = in.readMessage()
    if (t1 != 'p') { out.errorResponse("expected SASL response"); return false }
    val p1 = new Payload(b1)
    p1.cstr() // mechanism
    val n1 = p1.int32()
    val clientFirst = new String(p1.bytes(n1), UTF_8)
    conv match {
      case None =>
        out.errorResponse(s"""password authentication failed for user "$user"""", "28P01")
        false
      case Some(c) =>
        out.authenticationSASLContinue(c.serverFirstMessage(clientFirst).getBytes(UTF_8))
        out.flush()
        val (t2, b2) = in.readMessage()
        if (t2 != 'p') { out.errorResponse("expected SASL response"); return false }
        c.verifyClientFinal(new String(b2, UTF_8)) match {
          case Left(err) => out.errorResponse(err, "28P01"); false
          case Right(serverFinal) =>
            out.authenticationSASLFinal(serverFinal.getBytes(UTF_8)); true
        }
    }
  }

  // -- main loop -------------------------------------------------------------

  private def messageLoop(): Unit = {
    while (true) {
      val (typ, body) = in.readMessage()
      typ.toChar match {
        case 'X' => return
        case 'Q' => simpleQuery(new Payload(body).cstr()); inError = false
          out.readyForQuery(engine.txnStatus)
        case 'S' => inError = false; out.readyForQuery(engine.txnStatus)
        case 'H' => out.flush()
        case 'P' => if (!inError) guard(parse(body))
        case 'B' => if (!inError) guard(bind(body))
        case 'D' => if (!inError) guard(describe(body))
        case 'E' => if (!inError) guard(executePortal(body))
        case 'C' => if (!inError) guard(closeMsg(body))
        case 'd' | 'c' | 'f' => // stray COPY chunks outside COPY mode: ignore
        case other =>
          if (!inError) { out.errorResponse(s"unsupported message type '$other'"); inError = true }
      }
    }
  }

  private def guard(body: => Unit): Unit =
    try body
    catch {
      case NonFatal(e) =>
        fail(e)
        inError = true // skip until Sync (reference pg_conn.go:145-193)
    }

  /** A RUNTIME failure during row pumping happens OUTSIDE
    * engine.execute's catch (SELECTs are lazy) — the open transaction
    * must still abort, DuckDB-style. Analysis errors were classified
    * inside execute() already; anything surfacing here is execution. */
  private def fail(e: Throwable): Unit = {
    engine.abortOpenTxn(e)
    out.errorResponse(trimmedMessage(e))
  }

  private def trimmedMessage(e: Throwable): String = {
    if (sys.env.contains("GRAFT_DEBUG")) e.printStackTrace(System.err)
    val m = Option(e.getMessage).getOrElse(e.toString)
    if (m.length > 800) m.take(800) + "…" else m
  }

  // -- simple query ----------------------------------------------------------

  private def simpleQuery(sql: String): Unit = {
    try {
      // Q8 fixed: split multi-statement simple queries. A piece holding
      // only comments is no statement; a query of nothing else gets
      // EmptyQueryResponse, as in PG.
      val stmts = SqlLexer.splitTopLevel(sql, ';').map(Statement(_))
        .filter(_.kind != Statement.Empty)
      if (stmts.isEmpty) out.emptyQueryResponse()
      else stmts.foreach(runOne)
    } catch { case NonFatal(e) => fail(e) }
  }

  // DECLARE/FETCH/CLOSE cursors (psql FETCH_COUNT, DataGrip paging)
  private val declareCursorRe =
    """(?is)^\s*declare\s+(\S+)(?:\s+no\s+scroll)?\s+cursor\s+for\s+(.+)$""".r
  private val fetchRe =
    """(?is)^\s*fetch\s+(?:forward\s+)?(\d+|all)?\s*(?:from\s+|in\s+)?(\S+)\s*$""".r
  private val closeCursorRe = """(?is)^\s*close\s+(\S+)\s*$""".r

  private def runOne(stmt: Statement): Unit = {
    if (stmt.kind == Statement.Copy)
      copyFromStdinRe.findFirstMatchIn(stmt.text).foreach { m =>
        copyInMode(m.group(1), Option(m.group(2)))
        return
      }
    withJobGroup {
      stmt.kind match {
        case Statement.Declare => declareCursorRe.findFirstMatchIn(stmt.text).foreach { m =>
          val df = engine.execute(m.group(2)).df
          cursors(m.group(1).toLowerCase) = new Cursor(ResultStream.open(df), df.schema)
          out.commandComplete("DECLARE CURSOR")
          return
        }
        case Statement.Fetch => fetchRe.findFirstMatchIn(stmt.text).foreach { m =>
          val name = m.group(2).toLowerCase
          val cur = cursors.getOrElse(name,
            throw new IllegalStateException(s"cursor \"$name\" does not exist"))
          val n = Option(m.group(1)).map(s => if (s.equalsIgnoreCase("all")) Long.MaxValue else s.toLong)
            .getOrElse(1L)
          // each FETCH is its own result set → RowDescription every time
          rowDescription(cur.schema)
          out.commandComplete(s"FETCH ${sendRows(cur.it, cur.schema, Nil, n)}")
          return
        }
        case Statement.Close => closeCursorRe.findFirstMatchIn(stmt.text).foreach { m =>
          val name = m.group(1).toLowerCase
          if (name == "all") cursors.clear() else cursors.remove(name)
          out.commandComplete("CLOSE CURSOR")
          return
        }
        case _ =>
      }
      val res = engine.executeStatement(stmt)
      if (res.df == null) { out.commandComplete(res.tag); return }
      rowDescription(res.df.schema)
      val n = sendRows(ResultStream.open(res.df), res.df.schema, Nil, Long.MaxValue)
      out.commandComplete(if (res.tag == "SELECT") s"SELECT $n" else res.tag)
    }
  }

  private def rowDescription(schema: StructType, fmts: Seq[Int] = Nil): Unit =
    out.rowDescription(schema.fields.toSeq.map(f => f.name -> PgTypes.oidOf(f.dataType)), fmts)

  /** Send up to `limit` rows of `it` as DataRows; returns the count
    * sent. Cells follow the Bind result-format codes (PG rules: none =
    * all text, one = applies to every column, else per column). Simple
    * queries, cursors and portals all stream through here. */
  private def sendRows(it: java.util.Iterator[Row], schema: StructType, fmts: Seq[Int],
      limit: Long): Long = {
    val nCols = schema.length
    val binary = (0 until nCols).map(i =>
      (if (fmts.size == 1) fmts.head else fmts.lift(i).getOrElse(0)) == 1)
    val anyBinary = binary.contains(true)
    var n = 0L
    while (n < limit && it.hasNext) {
      val row = it.next()
      if (!anyBinary)
        out.dataRow((0 until nCols).map(i => PgTypes.render(row.get(i))))
      else
        out.dataRowBytes((0 until nCols).map { i =>
          if (binary(i)) PgTypes.renderBinary(row.get(i))
          else PgTypes.render(row.get(i)).map(_.getBytes(UTF_8))
        })
      n += 1
    }
    n
  }

  private def withJobGroup[A](body: => A): A = {
    spark.sparkContext.setJobGroup(jobGroup, s"pg conn $backendPid", interruptOnCancel = true)
    try body finally spark.sparkContext.clearJobGroup()
  }

  def cancelRunning(): Unit = spark.sparkContext.cancelJobGroup(jobGroup)

  // -- COPY FROM STDIN (SURVEY A15) -----------------------------------------

  private val copyFromStdinRe =
    """(?is)^\s*copy\s+([\w.]+)\s*(?:\(([^)]*)\))?\s+from\s+stdin.*$""".r

  private def copyInMode(table0: String, colList: Option[String]): Unit = {
    // COPY targets come from wire text, not a SQL statement — resolve
    // the connection's temp namespace here (r14)
    val table = engine.resolveConnTemp(table0)
    val target = spark.table(table)
    // honor the statement's column list: fields bind to the listed
    // columns in order, the rest null-fill in appendBatch (round-2 bug:
    // the list was discarded and fields bound by full-schema position).
    // Identifiers unquote and resolve case-insensitively (PG folds
    // unquoted names to lowercase).
    val cols = colList.map(_.split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
        .map(c => target.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"""column "$c" of relation "$table0" does not exist"""))))
      .getOrElse(target.schema.fieldNames.toSeq)
    out.copyInResponse(cols.size)
    // accumulate raw bytes and decode ONCE at CopyDone — a CopyData
    // chunk boundary can split a multi-byte UTF-8 sequence (round-2 bug:
    // per-chunk decode corrupted the split character)
    val buf = new java.io.ByteArrayOutputStream()
    var done = false
    var failed = false
    while (!done) {
      val (typ, body) = in.readMessage()
      typ.toChar match {
        case 'd' => buf.write(body)
        case 'c' => done = true
        case 'f' => done = true; failed = true
        case 'H' | 'S' => // flush/sync during copy: ignore
        case _ => // ignore others mid-copy like the reference
      }
    }
    if (failed) { out.errorResponse("COPY cancelled by client"); return }
    val parsers = cols.map(c => CsvValues.parserFor(target.schema(c).dataType, c))
    val rows = CsvValues.parseCsv(new String(buf.toByteArray, UTF_8)).filter(_.nonEmpty).map { fields =>
      fields.zipWithIndex.map { case (v, i) =>
        if (v == null) null else parsers(i)(v)
      }.toSeq
    }
    withJobGroup { engine.appendBatch(table, cols, rows) }
    out.commandComplete(s"COPY ${rows.size}")
  }

  // -- extended protocol (SURVEY A8–A13) ------------------------------------

  private def parse(body: Array[Byte]): Unit = {
    val p = new Payload(body)
    val name = p.cstr()
    val sql = p.cstr()
    if (name.nonEmpty && stmts.contains(name))
      throw new IllegalStateException(s"prepared statement \"$name\" already exists")
    // the client's declared param OIDs trail the SQL (r15b — pgx
    // declares them from the Go types and then sends BINARY param
    // values, which can only be decoded per-OID: a float8 and an int8
    // are both 8 bytes)
    val declaredOids =
      try { val n = p.int16(); (0 until n).map(_ => p.int32()) }
      catch { case _: Throwable => Seq.empty[Int] }
    val stmt = Stmt(Statement(sql), maxParamIndex(sql), declaredOids)
    // Parse-time validation (the reference gets this from DuckDB's
    // Prepare): analyze row-returning statements now so bad SQL errors
    // at Parse, not Execute. Lazy analysis only — no job runs.
    resultSchema(stmt)
    stmts(name) = stmt
    out.parseComplete()
  }

  private def bind(body: Array[Byte]): Unit = {
    val p = new Payload(body)
    val portal = p.cstr()
    val stmtName = p.cstr()
    val stmt = stmts.getOrElse(stmtName,
      throw new IllegalStateException(s"unknown prepared statement \"$stmtName\""))
    val nFmt = p.int16()
    val fmts = (0 until nFmt).map(_ => p.int16())
    val nParams = p.int16()
    val params = (0 until nParams).map { i =>
      val len = p.int32()
      if (len < 0) None
      else {
        val fmt = if (fmts.isEmpty) 0 else if (fmts.size == 1) fmts.head else fmts(i)
        val bs = p.bytes(len)
        if (fmt == 0) Some(new String(bs, UTF_8))
        else Some(binaryParamToText(bs,
          if (i < stmt.paramOids.size) stmt.paramOids(i) else 0))
      }
    }
    // result-format codes follow the params in the Bind body (r15b —
    // previously unread, so binary-requesting clients like pgx's
    // default query mode decoded text bytes as binary garbage)
    val nRes = p.int16()
    val resFmts = (0 until nRes).map(_ => p.int16())
    portals(portal) = new Portal(stmt, params, resFmts)
    out.bindComplete()
  }

  private def describe(body: Array[Byte]): Unit = {
    val p = new Payload(body)
    val kind = p.bytes(1)(0).toChar
    val name = p.cstr()
    kind match {
      case 'S' =>
        val stmt = stmts.getOrElse(name, throw new IllegalStateException(s"unknown statement \"$name\""))
        // echo declared OIDs where the client sent them, 0 elsewhere
        out.parameterDescription((0 until stmt.numParams).map(i =>
          if (i < stmt.paramOids.size) stmt.paramOids(i) else 0))
        sendDescription(stmt)
      case 'P' =>
        val portal = portals.getOrElse(name, throw new IllegalStateException(s"unknown portal \"$name\""))
        sendDescription(portal.stmt, portal.resultFmts)
    }
  }

  /** Columns of a prepared statement, params bound to NULL: Execute's
    * query path after the intercepts (dialect rewrite, catalog views,
    * temp names, txn overlays) — lazy analysis, no job (improvement over
    * the reference's `describe <q>` probe round-trip, pg_conn.go:652-670). */
  private def resultSchema(stmt: Stmt): Option[StructType] =
    engine.resultSchema(stmt.bound(Seq.fill(stmt.numParams)(None)))

  private def sendDescription(stmt: Stmt, fmts: Seq[Int] = Nil): Unit =
    resultSchema(stmt) match {
      case Some(schema) if schema.nonEmpty => rowDescription(schema, fmts)
      case _ => out.noData()
    }

  private def executePortal(body: Array[Byte]): Unit = withJobGroup {
    val p = new Payload(body)
    val name = p.cstr()
    val maxRows = p.int32()
    val portal = portals.getOrElse(name, throw new IllegalStateException(s"unknown portal \"$name\""))
    if (portal.it == null) { // first Execute on this portal
      val res = engine.executeStatement(portal.stmt.bound(portal.params))
      if (res.df == null) { out.commandComplete(res.tag); return }
      portal.it = ResultStream.open(res.df)
      portal.schema = res.df.schema
      portal.tag = res.tag
    }
    // stream up to maxRows (0 = all); suspend if the cursor survives
    val n = sendRows(portal.it, portal.schema, portal.resultFmts,
      if (maxRows <= 0) Long.MaxValue else maxRows)
    if (portal.it.hasNext) out.portalSuspended()
    else {
      portal.it = null
      out.commandComplete(if (portal.tag == "SELECT") s"SELECT $n" else portal.tag)
    }
  }

  private def closeMsg(body: Array[Byte]): Unit = {
    val p = new Payload(body)
    val kind = p.bytes(1)(0).toChar
    val name = p.cstr()
    if (kind == 'S') stmts.remove(name) else portals.remove(name)
    out.closeComplete()
  }

  // -- $n parameter handling (literal splice, reference A12) ----------------

  // only $n in code is a placeholder: one inside a literal, quoted
  // identifier, comment or dollar quote is text
  private val paramRe = """\$(\d+)""".r

  private def maxParamIndex(sql: String): Int =
    SqlLexer.codeMatches(sql, paramRe).map(_.group(1).toInt).maxOption.getOrElse(0)

  /** $n → escaped literal; None/absent → NULL (describe path). Values
    * are guessed int/float/string like the reference (message.go:430). */
  private def substituteParams(sql: String, params: Seq[Option[String]]): String =
    SqlLexer.replaceInCode(sql, paramRe)(m => renderParam(params.lift(m.group(1).toInt - 1).flatten))

  private def renderParam(v: Option[String]): String = v match {
    case None => "NULL"
    case Some(s) =>
      if (s.matches("[+-]?\\d+") && s.length < 19) s
      else if (s.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?")) s
      else "'" + s.replace("'", "''") + "'"
  }

  /** Decode a BINARY param value to its text spelling, by the OID the
    * client declared at Parse (r15b — a float8 and an int8 are both 8
    * bytes; only the OID disambiguates). OID 0/unknown falls back to
    * the pre-r15 length guess, which is correct for the int family the
    * undeclared case sends in practice. */
  private def binaryParamToText(bs: Array[Byte], oid: Int): String = {
    def buf = java.nio.ByteBuffer.wrap(bs)
    oid match {
      case PgTypes.OidBool => if (bs.nonEmpty && bs(0) == 1) "true" else "false"
      case PgTypes.OidInt2 => buf.getShort.toString
      case PgTypes.OidInt4 => buf.getInt.toString
      case PgTypes.OidInt8 => buf.getLong.toString
      case PgTypes.OidFloat4 => java.lang.Float.intBitsToFloat(buf.getInt).toString
      case PgTypes.OidFloat8 => java.lang.Double.longBitsToDouble(buf.getLong).toString
      case PgTypes.OidDate =>
        java.time.LocalDate.ofEpochDay(buf.getInt + 10957L).toString
      case PgTypes.OidTimestamp | PgTypes.OidTimestamptz =>
        val micros = buf.getLong
        val secs = java.lang.Math.floorDiv(micros, 1000000L) + 946684800L
        val nanos = (java.lang.Math.floorMod(micros, 1000000L) * 1000L).toInt
        PgTypes.render(java.time.LocalDateTime.ofEpochSecond(
          secs, nanos, java.time.ZoneOffset.UTC)).get
      case PgTypes.OidNumeric =>
        val b = buf
        val nd = b.getShort; val w = b.getShort; val sign = b.getShort; val ds = b.getShort
        var v = java.math.BigDecimal.ZERO
        for (k <- 0 until nd)
          v = v.add(java.math.BigDecimal.valueOf(b.getShort.toLong)
            .scaleByPowerOfTen(4 * (w - k)))
        v = v.setScale(ds)
        (if (sign == 0x4000) v.negate() else v).toPlainString
      case PgTypes.OidText => new String(bs, UTF_8)
      case _ => bs.length match {
        case 2 => buf.getShort.toString
        case 4 => buf.getInt.toString
        case 8 => buf.getLong.toString
        case _ => new String(bs, UTF_8)
      }
    }
  }
}

/** CSV parsing for COPY (text/CSV with standard quoting; \N = NULL on
  * unquoted fields, mirroring the reference's csv.Reader usage). */
object CsvValues {
  import org.apache.spark.sql.types._

  /** The text parser for the values of `column`, of type `dt`, built
    * once per batch. A type with no text form here (BINARY, nested
    * types) raises, naming the column and its type, before any row is
    * parsed: nothing on the write path casts a String. */
  def parserFor(dt: DataType, column: String = "?"): String => Any = dt match {
    case ByteType => _.trim.toByte
    case IntegerType => _.trim.toInt
    case LongType => _.trim.toLong
    case ShortType => _.trim.toShort
    case DoubleType => _.trim.toDouble
    case FloatType => _.trim.toFloat
    case BooleanType => s => s.trim.toLowerCase match {
      case "t" | "true" | "1" | "yes" | "on" => true
      case _ => false
    }
    case d: DecimalType => s => new java.math.BigDecimal(s.trim)
    case DateType => s => java.sql.Date.valueOf(s.trim)
    case TimestampNTZType => s => java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
    case TimestampType => s => java.sql.Timestamp.valueOf(s.trim)
    case _: StringType => identity[String]
    case other => throw new IllegalArgumentException(
      s"""column "$column" has type ${graft.functions.DuckTypeNames.of(other)}, """ +
        "which COPY FROM STDIN and INSERT … FORMAT cannot read from text")
  }

  /** Minimal RFC-4180 CSV split; returns null for \N. */
  def parseCsv(text: String): Seq[Array[String]] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var fieldWasQuoted = false
    def endField(): Unit = {
      val s = cur.toString
      fields += (if (!fieldWasQuoted && s == "\\N") null else s)
      cur.clear(); fieldWasQuoted = false
    }
    def endRow(): Unit = {
      if (fields.nonEmpty || cur.nonEmpty) { endField(); rows += fields.toArray }
      fields.clear()
    }
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += c
      } else c match {
        case '"' => inQ = true; fieldWasQuoted = true
        case ',' => endField()
        case '\n' => endRow()
        case '\r' => // swallow
        case _ => cur += c
      }
      i += 1
    }
    endRow()
    rows.toSeq
  }
}
