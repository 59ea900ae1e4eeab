package graft.server.ch

import java.io.InputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.server.{Engine, SqlLexer, Statement}
import graft.server.pg.{CsvValues, Scram}

/** ClickHouse HTTP frontend (reference ch_server.go): GET/POST query
  * endpoint, FORMAT clause, basic auth against the shared SCRAM users
  * table (60s cache, Q5's user-key bug fixed), INSERT…FORMAT streaming
  * ingest, and the reference's compat rewrites (version() spoof,
  * LIMIT n,m, `select table` quoting).
  */
final class ChServer(engine: Engine, port: Int, authEnabled: Boolean,
    bindAddr: String = "0.0.0.0") {
  private val spark = engine.spark
  private var server: HttpServer = _

  // auth cache: user -> (password, expiry) — amortizes PBKDF2 (A18)
  private val authCache = new ConcurrentHashMap[String, (String, Long)]()

  private val insertFormatRe =
    """(?is)^\s*insert\s+into\s+([\w.]+)\s*(\(([^)]*)\))?\s*format\s+(\w+)\s*$""".r
  private val formatClauseRe = """(?is)\s+format\s+(\w+)\s*$""".r
  private val limitNmRe = """(?i)limit\s+(\d+)\s*,\s*(\d+)""".r

  def start(): ChServer = {
    server = HttpServer.create(new InetSocketAddress(bindAddr, port), 128)
    server.setExecutor(Executors.newCachedThreadPool())
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    this
  }
  def stop(): Unit = if (server != null) server.stop(0)

  private def handle(ex: HttpExchange): Unit =
    try {
      if (authEnabled && !authorized(ex)) { respond(ex, 401, "unauthorized\n"); return }
      val query = urlParam(ex, "query").getOrElse("")
      val bodyIn =
        if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
            .exists(_.toLowerCase.contains("gzip")))
          new java.util.zip.GZIPInputStream(ex.getRequestBody)
        else ex.getRequestBody
      val body = new String(readAll(bodyIn), UTF_8)
      if (ex.getRequestMethod == "GET") run(ex, (query + " " + body).trim, "")
      else {
        // POST: head = query text (from ?query= or the body's first
        // lines), remainder = ingest payload (reference ch_server.go:118-140)
        if (query.nonEmpty) run(ex, query.trim, body)
        else {
          val (head, payload) = splitHead(body)
          run(ex, head, payload)
        }
      }
    } catch {
      case NonFatal(e) =>
        respond(ex, 500, s"error: ${Option(e.getMessage).getOrElse(e.toString)}\n")
    } finally {
      // HTTP is stateless but the executor is a cached thread POOL: a
      // transaction left open on this thread (engine txn state is
      // per-thread) would silently stage later, unrelated requests'
      // writes into never-committed copies. Reset unconditionally.
      try engine.rollbackDanglingTxn() catch { case NonFatal(_) => }
      // same pooled-thread hazard for temp objects (r14): HTTP is
      // stateless, so a request's temp views/tables must not leak into
      // later, unrelated requests that land on the same pool thread
      try engine.releaseConnTemps() catch { case NonFatal(_) => }
      ex.close()
    }

  /** By kind: row-returning → stream result; INSERT…FORMAT → ingest;
    * other → exec (reference ch_server.go:107-150). */
  private def run(ex: HttpExchange, sql0: String, payload: String): Unit = {
    val stmt = Statement(sql0)
    insertFormat(stmt) match {
      case Some(m) =>
        val cols = Option(m.group(3)).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        ingest(ex, m.group(1), cols, m.group(4), payload)
      case None if stmt.kind == Statement.Empty => respond(ex, 200, "Ok.\n")
      // explicit transactions need a session; HTTP requests don't have
      // one (and real ClickHouse rejects these too)
      case None if stmt.kind.isTxnControl =>
        respond(ex, 400,
          "error: transaction control statements are not supported over the " +
            "ClickHouse HTTP protocol (each request auto-commits)\n")
      case None if stmt.kind.returnsRows => select(ex, stmt)
      case None =>
        engine.executeStatement(stmt)
        respond(ex, 200, "Ok.\n")
    }
  }

  private def insertFormat(stmt: Statement): Option[scala.util.matching.Regex.Match] =
    if (stmt.kind == Statement.Insert) insertFormatRe.findFirstMatchIn(stmt.text) else None

  private def select(ex: HttpExchange, stmt: Statement): Unit = {
    var sql = stmt.text
    // FORMAT clause extraction
    var format = "TabSeparated"
    SqlLexer.codeMatches(sql, formatClauseRe).nextOption().foreach { m =>
      if (Formats.names.contains(m.group(1)) || m.group(1).equalsIgnoreCase("json")) {
        format = m.group(1)
        sql = sql.substring(0, m.start)
      }
    }
    // reference rewrites (ch_server.go:155-164)
    sql = SqlLexer.mapCode(sql)(_.replace("version()", "'23.3.1.2823'"))
    sql = SqlLexer.replaceInCode(sql, limitNmRe)(m => s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    if (sql.trim.equalsIgnoreCase("select table")) sql = "select `table`"

    val res = engine.executeStatement(stmt.copy(text = sql))
    ex.getResponseHeaders.set("X-ClickHouse-Format", format)
    ex.getResponseHeaders.set("Content-Type", format match {
      case "JSONEachRow" => "application/x-ndjson; charset=UTF-8"
      case f if f.startsWith("CSV") => "text/csv; charset=UTF-8"
      case _ => "text/tab-separated-values; charset=UTF-8"
    })
    // gzip when the client asks (clickhouse-jdbc/DataGrip default
    // compress=true; the reference lists this as unimplemented and
    // tells users to disable it, README.md:93)
    val gzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.toLowerCase.contains("gzip"))
    if (gzip) ex.getResponseHeaders.set("Content-Encoding", "gzip")
    ex.sendResponseHeaders(200, 0) // chunked: stream rows as they come
    val raw = ex.getResponseBody
    val out = if (gzip) new java.util.zip.GZIPOutputStream(raw, 8192) else raw
    if (res.df != null) {
      import scala.jdk.CollectionConverters._
      Formats.write(format, res.df.schema, res.df.toLocalIterator().asScala, out)
    }
    out.close()
  }

  private def ingest(ex: HttpExchange, table0: String, cols: Option[Seq[String]],
      format: String, payload: String): Unit = {
    if (!Formats.names.contains(format))
      { respond(ex, 400, s"unknown format $format\n"); return }
    // conn-temp names resolve first (protocol-text target, r14); a
    // non-temp bare name qualifies to main as before
    val resolved = engine.resolveConnTemp(table0)
    val table =
      if (resolved != table0) resolved
      else if (table0.contains(".")) table0 else s"main.$table0"
    val target = spark.table(table)
    val columns = cols.getOrElse(target.schema.fieldNames.toSeq)
    val parsers = columns.map(c => CsvValues.parserFor(target.schema(c).dataType))
    val rows = Formats.read(format, payload, columns).filter(_.nonEmpty).map { fields =>
      fields.zipWithIndex.map { case (v, i) => if (v == null) null else parsers(i)(v) }
    }
    engine.appendBatch(table, columns, rows)
    respond(ex, 200, "Ok.\n")
  }

  // -- auth (A18, Q5 fixed) --------------------------------------------------

  private def authorized(ex: HttpExchange): Boolean = {
    val cred: Option[(String, String)] =
      Option(ex.getRequestHeaders.getFirst("Authorization")).flatMap { h =>
        if (h.startsWith("Basic "))
          new String(Base64.getDecoder.decode(h.drop(6)), UTF_8).split(":", 2) match {
            case Array(u, p) => Some((u, p))
            case _ => None
          }
        else None
      }.orElse(for (u <- urlParam(ex, "user"); p <- urlParam(ex, "password")) yield (u, p))
    cred.exists { case (u, p) => checkPassword(u, p) }
  }

  private def checkPassword(user: String, password: String): Boolean = {
    val now = System.currentTimeMillis()
    Option(authCache.get(user)) match {
      case Some((p, exp)) if exp > now && p == password => true
      case _ =>
        val ok = Option(engine.users.get(user.toLowerCase))
          .flatMap(Scram.parseVerifier).exists { v =>
            val sp = Scram.saltedPassword(password, v.salt, v.iterations)
            val storedKey = java.security.MessageDigest.getInstance("SHA-256")
              .digest(Scram.hmac(sp, "Client Key".getBytes(UTF_8)))
            java.security.MessageDigest.isEqual(storedKey, v.storedKey)
          }
        if (ok) authCache.put(user, (password, now + 60000)) // keyed by user: Q5 fixed
        ok
    }
  }

  // -- helpers ---------------------------------------------------------------

  private def urlParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap { q =>
      q.split("&").collectFirst {
        case kv if kv.startsWith(name + "=") =>
          java.net.URLDecoder.decode(kv.drop(name.length + 1), "UTF-8")
      }
    }

  /** POST body head/payload split: the head grows line by line until it
    * classifies as INSERT…FORMAT, whose payload starts on the next line
    * (reference ch_server.go:118-140); a head that classifies as any
    * other statement ends the search, and the whole body is the
    * statement. Line breaks stay in the head — they may sit inside a
    * literal or end a `--` comment. */
  private def splitHead(body: String): (String, String) = {
    var idx = body.indexOf('\n')
    while (idx >= 0) {
      val head = Statement(body.substring(0, idx))
      if (insertFormat(head).isDefined) return (body.substring(0, idx).trim, body.substring(idx + 1))
      idx = head.kind match {
        case Statement.Empty | Statement.Insert => body.indexOf('\n', idx + 1)
        case _ => -1
      }
    }
    (body.trim, "")
  }

  private def readAll(in: InputStream): Array[Byte] = in.readAllBytes()

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bs = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bs.length)
    ex.getResponseBody.write(bs)
    ex.getResponseBody.close()
  }
}
