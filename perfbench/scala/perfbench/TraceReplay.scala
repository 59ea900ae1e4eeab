package perfbench

import java.io.{File, OutputStream, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.server.Engine
import graft.server.ch.Formats
import graft.server.pg.{CsvValues, PgTypes, WireOut}

/** Traced replay: the benchmark's seeded operation stream, run in one
  * JVM against the same Engine the server builds, calling each layer's
  * public functions in frontend order:
  *
  *   statement: Engine.rewrite → Engine.execute → optimize → plan →
  *              first row → drain → PG/CH encode
  *   ingest:    resolve target (Spark catalog) → Formats.read + CsvValues →
  *              Engine.appendBatch
  *
  * One thread per connection (Engine transaction and temp state is per
  * thread). After a warm-up, each thread alternates operations with
  * spans on and spans off (only the operation's own wall time), so the
  * tracing overhead is a number of its own. A SparkListener attributes
  * jobs, stages and tasks to operations by job group.
  *
  * Usage: TraceReplay <config.json>; the config names the fixture dir,
  * the warehouse dir, the op files and the output dir (see layers.py).
  */
object TraceReplay {
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + epochBase

  /** `due`: earliest start in seconds from the phase's start (paced
    * ingest), negative for none. */
  final case class Op(conn: Int, cls: String, kind: String, proto: String,
      stmts: Seq[String], sql: String, format: String, table: String, payload: String,
      due: Double)

  /** One replayed operation: wall time plus per-call times (ns), summed
    * over the statements of a multi-statement operation. */
  final class Rec(val id: Long, val phase: String, val op: Op) {
    var ok = false
    var err = ""
    var totalNs = 0L
    /** Time of calls made only to be measured (not in the frontend's
      * path); left out of totalNs. */
    var probeNs = 0L
    val ns = mutable.LinkedHashMap.empty[String, Long]
    def add(k: String, v: Long): Unit = ns(k) = ns.getOrElse(k, 0L) + v
  }

  final case class Span(op: Long, id: Int, parent: Int, layer: String, name: String,
      start: Long, end: Long)

  final class Counting extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  def main(args: Array[String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cfg = mapper.readValue(new File(args(0)), classOf[java.util.Map[String, Object]]).asScala
    def str(k: String) = cfg(k).toString
    def strs(k: String) = cfg(k).asInstanceOf[java.util.List[String]].asScala.toSeq
    val db = str("db")
    val spark = graft.engine.GraftSession.local(cores = str("cores"),
      warehouse = Some(s"$db/warehouse"))
    // the same session profile ServerMain sets before serving
    spark.conf.set(graft.plans.PresentationSort.ConfKey, "true")
    val engine = Engine.bootstrap(spark, str("data"), allowFileIo = false, dbPath = Some(db))
    val listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    strs("setup_sql").foreach(engine.execute)

    val replay = new Replay(spark, engine)
    // warm-up as on the wire (at least one full round per connection),
    // then one timed pass in which each thread alternates traced and
    // untraced operations, so spans-on and spans-off see the same JVM
    strs("reset_sql").foreach(engine.execute)
    replay.run("warm", readOps(mapper, str("warm_ops")), str("warm_seconds").toDouble,
      c => cfg("warm_min_ops").asInstanceOf[java.util.List[Number]].get(c).intValue)
    strs("reset_sql").foreach(engine.execute)
    replay.run("timed", readOps(mapper, str("ops")), str("seconds").toDouble, _ => 0)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val out = new File(str("out"))
    out.mkdirs()
    val recs = replay.records.asScala.toSeq.filter(_.phase != "warm")
    val w = new PrintWriter(new File(out, "ops.jsonl"), "UTF-8")
    recs.foreach { r =>
      val counts = listener.of(r.id)
      val fields = Seq(
        "id" -> r.id.toString, "phase" -> Json.str(r.phase), "conn" -> r.op.conn.toString,
        "cls" -> Json.str(r.op.cls), "kind" -> Json.str(r.op.kind),
        "ok" -> r.ok.toString, "err" -> Json.str(r.err), "total_ns" -> r.totalNs.toString) ++
        r.ns.toSeq.map { case (k, v) => k -> v.toString } ++
        counts.toSeq.map { case (k, v) => k -> v.toString }
      w.println(fields.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}"))
    }
    w.close()
    val sw = new PrintWriter(new File(out, "spans.tsv"), "UTF-8")
    sw.println("op\tid\tparent\tlayer\tname\tstart_ns\tend_ns")
    val jobSpans = recs.filter(_.phase == "on").flatMap { r =>
      listener.jobSpans(r.id).zipWithIndex.map { case ((s, e), i) =>
        Span(r.id, 100000 + i, -1, "spark", "job", s * 1000000L, e * 1000000L)
      }
    }
    (replay.spans ++ jobSpans).foreach { s =>
      sw.println(s"${s.op}\t${s.id}\t${s.parent}\t${s.layer}\t${s.name}\t${s.start}\t${s.end}")
    }
    sw.close()
    spark.stop()
  }

  def readOps(mapper: com.fasterxml.jackson.databind.ObjectMapper, file: String): Seq[Op] =
    scala.io.Source.fromFile(file, "UTF-8").getLines().filter(_.nonEmpty).map { line =>
      val m = mapper.readValue(line, classOf[java.util.Map[String, Object]]).asScala
      def s(k: String) = m.get(k).map(_.toString).orNull
      Op(m("conn").toString.toInt, s("cls"), s("kind"), s("proto"),
        m.get("stmts").map(_.asInstanceOf[java.util.List[String]].asScala.toSeq).getOrElse(Nil),
        s("sql"), s("format"), s("table"), s("payload"),
        m.get("due").map(_.toString.toDouble).getOrElse(-1.0))
    }.toSeq

  final class Replay(spark: org.apache.spark.sql.SparkSession, engine: Engine) {
    private val nextId = new AtomicLong(0)
    val records = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    private val spanQ = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Span]]()
    def spans: Seq[Span] = spanQ.asScala.toSeq.flatten

    /** Closed loop as on the wire (an op with a `due` time waits for
      * it): each connection's thread replays its ops in order until the
      * phase time is up and it has run at least `minOps`. In the timed
      * phase half the ops are traced ("on"/"off"). */
    def run(phase: String, ops: Seq[Op], seconds: Double, minOps: Int => Int): Unit = {
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      def due(op: Op) = if (op.due < 0) start else start + (op.due * 1e9).toLong
      val threads = ops.groupBy(_.conn).toSeq.sortBy(_._1).map { case (conn, mine) =>
        new Thread(() => {
          val it = mine.iterator.buffered
          val floor = minOps(conn)
          var n = 0
          while (it.hasNext && (n < floor ||
              (System.nanoTime() < deadline && due(it.head) < deadline))) {
            val op = it.next()
            val wait = due(op) - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            // on/off in pairs: each ingest writer alternates its two
            // formats, and each format must be seen both ways
            val traced = phase != "warm" && (n / 2 + conn) % 2 == 0
            runOp(if (phase == "warm") phase else if (traced) "on" else "off", op, traced)
            n += 1
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    private final class Tracer(rec: Rec, val on: Boolean) {
      val buf = ArrayBuffer.empty[Span]
      private var nextSpan = 1
      /** Time `body` as a child span of the op root (span 0). */
      def apply[A](layer: String, name: String)(body: => A): A = {
        if (!on) return body
        val s = now()
        try body
        finally {
          val e = now()
          buf += Span(rec.id, nextSpan, 0, layer, name, s, e)
          nextSpan += 1
          rec.add(s"$layer.$name", e - s)
        }
      }
      def lastId: Int = nextSpan - 1
      def synthetic(parent: Int, layer: String, name: String, s: Long, e: Long): Unit = if (on) {
        buf += Span(rec.id, nextSpan, parent, layer, name, s, e)
        nextSpan += 1
      }
    }

    private def runOp(phase: String, op: Op, traced: Boolean): Unit = {
      val rec = new Rec(nextId.getAndIncrement(), phase, op)
      val t = new Tracer(rec, traced)
      val sc = spark.sparkContext
      sc.setJobGroup(s"perfbench-${rec.id}", "perfbench replay", interruptOnCancel = false)
      val start = now()
      try {
        op.proto match {
          case "simple" | "prepared" =>
            var oid: String = null
            op.stmts.foreach { s0 =>
              val first = statement(rec, t, if (oid == null) s0 else s0.replace("@oid@", oid),
                pgEncode _)
              if (oid == null) oid = first
            }
          case "ch_read" => statement(rec, t, op.sql, chEncode(op.format) _)
          case "ch_ingest" => ingest(rec, t, op)
        }
        rec.ok = true
      } catch {
        case NonFatal(e) => rec.err = e.toString
      } finally sc.clearJobGroup()
      val end = now()
      rec.totalNs = end - start - rec.probeNs
      if (traced) t.buf.prepend(Span(rec.id, 0, -1, "op", op.kind, start, end))
      records.add(rec)
      if (traced) spanQ.add(t.buf.toSeq)
    }

    /** One statement in PgConnection/ChServer order; returns the first
      * cell of the first row (psql's \d feeds it to its next query). */
    private def statement(rec: Rec, t: Tracer, sql: String,
        encode: (Tracer, StructType, Seq[Row]) => Long): String = {
      // a separate call, as execute rewrites again inside: traced ops
      // only, no span (execute's covers it) and not part of the op's time
      if (t.on) {
        val s = now()
        engine.rewrite(sql)
        val d = now() - s
        rec.add("engine.rewrite", d)
        rec.probeNs += d
      }
      val res = t("engine", "execute")(engine.execute(sql))
      val execSpan = t.lastId
      if (res.df == null) return null
      val df = res.df
      t("spark", "optimize")(df.queryExecution.optimizedPlan)
      t("spark", "plan")(df.queryExecution.executedPlan)
      if (t.on) {
        val phases = df.queryExecution.tracker.phases
        Seq("parsing" -> "parse", "analysis" -> "analysis", "optimization" -> "optimize_phase",
          "planning" -> "plan_phase").foreach { case (k, n) =>
          phases.get(k).foreach { p =>
            rec.add(s"tracker.$n", p.durationMs * 1000000L)
            if (k == "parsing" || k == "analysis")
              t.synthetic(execSpan, "spark", n, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
          }
        }
      }
      val it = df.toLocalIterator()
      val rows = ArrayBuffer.empty[Row]
      t("spark", "first_row")(if (it.hasNext) rows += it.next())
      t("spark", "drain")(while (it.hasNext) rows += it.next())
      val bytes = encode(t, df.schema, rows.toSeq)
      rec.add("rows", rows.size)
      rec.add("wire_bytes", bytes)
      rows.headOption.filter(_.length > 0).flatMap(r => PgTypes.render(r.get(0))).orNull
    }

    /** PgConnection.pump's per-row work: PgTypes.render + DataRow. */
    private def pgEncode(t: Tracer, schema: StructType, rows: Seq[Row]): Long =
      encodeWith(t, "pg") { sink =>
        val out = new WireOut(sink)
        val n = schema.length
        rows.foreach(r => out.dataRow((0 until n).map(i => PgTypes.render(r.get(i)))))
        out.flush()
      }

    /** ChServer.select's streaming writer. */
    private def chEncode(format: String)(t: Tracer, schema: StructType, rows: Seq[Row]): Long =
      encodeWith(t, "ch")(sink => Formats.write(format, schema, rows.iterator, sink))

    private def encodeWith(t: Tracer, layer: String)(body: OutputStream => Unit): Long = {
      val sink = new Counting
      t(layer, "encode")(body(sink))
      sink.n
    }

    private def ingest(rec: Rec, t: Tracer, op: Op): Unit = {
      // ChServer.ingest: conn-temp names first, bare names qualify to main
      val resolved = engine.resolveConnTemp(op.table)
      val table =
        if (resolved != op.table) resolved
        else if (op.table.contains(".")) op.table else s"main.${op.table}"
      val (columns, parsers) = t("spark", "resolve") {
        val target = spark.table(table)
        val cols = target.schema.fieldNames.toSeq
        (cols, cols.map(c => CsvValues.parserFor(target.schema(c).dataType)))
      }
      val rows = t("ch", "decode") {
        Formats.read(op.format, op.payload, columns).filter(_.nonEmpty).map { fields =>
          fields.zipWithIndex.map { case (v, i) => if (v == null) null else parsers(i)(v) }
        }
      }
      t("engine", "append")(engine.appendBatch(table, columns, rows))
      rec.add("rows", rows.size)
      rec.add("wire_bytes", op.payload.getBytes("UTF-8").length)
    }
  }

  /** Jobs, stages and tasks per operation, keyed by the job group the
    * replay thread set ("perfbench-<op id>"). Times in ms. */
  final class OpListener extends SparkListener {
    private final class Agg {
      var jobs, stages, tasks = 0L
      var jobWallMs, busyMs, schedWaitMs, shuffleBytes, spillBytes = 0L
      val jobSpans = ArrayBuffer.empty[(Long, Long)]
    }
    private val byOp = mutable.HashMap.empty[Long, Agg]
    private val stageOp = mutable.HashMap.empty[Int, Long]
    private val jobOp = mutable.HashMap.empty[Int, (Long, Long)]
    private val stageSubmit = mutable.HashMap.empty[Int, Long]
    private val stageLaunched = mutable.HashSet.empty[Int]

    private def opOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toLong)
    private def agg(op: Long) = byOp.getOrElseUpdate(op, new Agg)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      opOf(e.properties).foreach { op =>
        agg(op).jobs += 1
        jobOp(e.jobId) = (op, e.time)
        e.stageInfos.foreach(s => stageOp(s.stageId) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOp.remove(e.jobId).foreach { case (op, st) =>
        agg(op).jobWallMs += e.time - st
        agg(op).jobSpans += ((st, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val id = e.stageInfo.stageId
      stageOp.get(id).foreach { op =>
        agg(op).stages += 1
        stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        if (stageLaunched.add(e.stageId))
          stageSubmit.get(e.stageId).foreach(s =>
            agg(op).schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val a = agg(op)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.busyMs += m.executorRunTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    def of(op: Long): Map[String, Long] = synchronized {
      val a = byOp.getOrElse(op, new Agg)
      Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "job_wall_ms" -> a.jobWallMs, "task_busy_ms" -> a.busyMs,
        "sched_wait_ms" -> a.schedWaitMs, "shuffle_bytes" -> a.shuffleBytes,
        "spill_bytes" -> a.spillBytes)
    }
    def jobSpans(op: Long): Seq[(Long, Long)] = synchronized {
      byOp.get(op).map(_.jobSpans.toSeq).getOrElse(Nil)
    }
  }
}
