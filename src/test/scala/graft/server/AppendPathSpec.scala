package graft.server

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpecBase
import graft.server.pg.CsvValues

/** `Engine.appendBatch` (COPY FROM STDIN, CH `INSERT … FORMAT`): a
  * plain parquet target takes one driver-written file and no Spark job,
  * and reads back what `insertInto` would have written; every other
  * target keeps the Spark path, and the locks, constraint checks and
  * transaction overlays hold on both. */
class AppendPathSpec extends SparkSpecBase with BeforeAndAfterAll {

  private lazy val engine: Engine = {
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    new Engine(spark)
  }

  private val jobs = new AtomicInteger
  private lazy val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Spark jobs `body` ran, counted after a listener-bus drain. */
  private def jobsOf(body: => Unit): Int = {
    ListenerDrain(spark.sparkContext)
    jobs.set(0)
    body
    ListenerDrain(spark.sparkContext)
    jobs.get()
  }

  /** Drop `main.<t>` and any warehouse dir a crashed run left. */
  private def fresh(t: String): Unit = {
    engine.execute(s"drop table if exists main.$t")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Persistence.rm(new java.io.File(s"$wh/main.db/$t"))
  }

  private def meta(t: String) = spark.sessionState.catalog.getTableMetadata(
    spark.sessionState.sqlParser.parseTableIdentifier(s"main.$t"))

  /** Names of the files in the table dir, checksums included. */
  private def files(t: String): Seq[String] =
    Option(new java.io.File(meta(t).location).listFiles()).toSeq.flatten.map(_.getName)

  private def dataFiles(t: String): Seq[String] =
    files(t).filterNot(n => n.startsWith(".") || n.startsWith("_"))

  private def count(t: String): Long = spark.table(s"main.$t").count()

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("an unconstrained parquet batch runs no Spark job and lands as one file") {
    fresh("ap_zero")
    engine.execute("create table main.ap_zero (id BIGINT, k INT, v DOUBLE, s STRING, ts TIMESTAMP)")
    val rows = (0 until 1000).map(i => Seq[Any](i.toLong, i % 7, i * 0.5, s"s$i",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(jobsOf(engine.appendBatch("main.ap_zero", Seq("id", "k", "v", "s", "ts"), rows)) == 0)
    val names = dataFiles("ap_zero")
    assert(names.size == 1 && names.head.matches("""part-00000-[0-9a-f-]{36}-c000\..*parquet"""))
    assert(!files("ap_zero").exists(Persistence.isAppendTemp))
    val r = spark.sql("select count(*), sum(id), count(distinct k) from main.ap_zero").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1000L, 499500L, 7L)))
    engine.execute("drop table main.ap_zero")
  }

  test("every COPY/CH value type, with nulls, through a column subset, reads back as insertInto wrote it") {
    fresh("ap_drv"); fresh("ap_ref")
    val ddl = "(i INT, b BIGINT, sm SMALLINT, d DOUBLE, f FLOAT, bo BOOLEAN, de DECIMAL(18,4), " +
      "dt DATE, ts TIMESTAMP, tn TIMESTAMP_NTZ, s STRING, extra STRING, extra2 INT)"
    engine.execute(s"create table main.ap_drv $ddl")
    engine.execute(s"create table main.ap_ref $ddl")
    val table = spark.table("main.ap_drv").schema
    // a subset, out of table order; extra and extra2 null-fill
    val cols = Seq("s", "tn", "ts", "dt", "de", "bo", "f", "d", "sm", "b", "i")
    val rnd = new scala.util.Random(42)
    def pick(xs: String*) = xs(rnd.nextInt(xs.size))
    def stamp = java.time.LocalDateTime.ofEpochSecond(rnd.nextInt(2000000000) - 500000000L,
      rnd.nextInt(1000000) * 1000, java.time.ZoneOffset.UTC).toString.replace('T', ' ')
    val text: Map[String, () => String] = Map(
      "i" -> (() => rnd.nextInt().toString),
      "b" -> (() => rnd.nextLong().toString),
      "sm" -> (() => (rnd.nextInt(65536) - 32768).toString),
      "d" -> (() => pick((rnd.nextDouble() * 1e6 - 5e5).toString, "NaN", "-0.0", "1e300")),
      "f" -> (() => (rnd.nextFloat() * 1000).toString),
      "bo" -> (() => pick("t", "f", "true", "false", "1", "0")),
      "de" -> (() => java.math.BigDecimal.valueOf(rnd.nextLong() % 10000000000000L, 4).toString),
      "dt" -> (() => pick(java.time.LocalDate.ofEpochDay(rnd.nextInt(40000) - 10000L).toString,
        "1000-01-01")),
      "ts" -> (() => stamp),
      "tn" -> (() => stamp),
      "s" -> (() => pick(rnd.alphanumeric.take(rnd.nextInt(12)).mkString, "", "a,\"b\"", "é∑")))
    val parsers = cols.map(c => CsvValues.parserFor(table(c).dataType))
    val rows = (0 until 300).map { _ =>
      cols.zip(parsers).map { case (c, p) => if (rnd.nextInt(10) == 0) null else p(text(c)()) }
    }
    assert(jobsOf(engine.appendBatch("main.ap_drv", cols, rows)) == 0)
    // the reference: the Spark write path appendBatch took for every batch before
    val subset = StructType(cols.map(table(_)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), subset)
      .select(table.fieldNames.toIndexedSeq.map(c =>
        if (cols.contains(c)) col(c) else lit(null).cast(table(c).dataType).as(c)): _*)
      .write.insertInto("main.ap_ref")
    sameRows(spark.table("main.ap_drv"), spark.table("main.ap_ref"))
    // the files themselves carry the same physical schema
    val Seq(drv, ref) = Seq("ap_drv", "ap_ref").map(t => spark.read.parquet(meta(t).location.toString))
    assert(drv.schema == ref.schema)
    sameRows(drv, ref)
    assert(spark.table("main.ap_drv").filter(col("extra").isNotNull || col("extra2").isNotNull).isEmpty)
    engine.execute("drop table main.ap_drv"); engine.execute("drop table main.ap_ref")
  }

  test("fallbacks: VARCHAR keeps its length check, partitioned and oversized batches keep the Spark job") {
    fresh("ap_vc"); fresh("ap_part"); fresh("ap_big")
    engine.execute("create table main.ap_vc (id INT, s VARCHAR(3))")
    val e = intercept[Exception](engine.appendBatch("main.ap_vc", Seq("id", "s"), Seq(Seq(1, "abcd"))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("EXCEED_LIMIT_LENGTH")), e.toString)
    assert(count("ap_vc") == 0)
    assert(jobsOf(engine.appendBatch("main.ap_vc", Seq("id", "s"), Seq(Seq(2, "abc")))) > 0)
    assert(spark.table("main.ap_vc").collect().map(_.toString).toSeq == Seq("[2,abc]"))

    spark.sql("create table main.ap_part (id INT, k INT) using parquet partitioned by (k)")
    engine.appendBatch("main.ap_part", Seq("id", "k"), (0 until 10).map(i => Seq[Any](i, i % 2)))
    assert(spark.sql("select k, count(*) from main.ap_part group by k order by k")
      .collect().map(_.toString).toSeq == Seq("[0,5]", "[1,5]"))

    engine.execute("create table main.ap_big (id BIGINT)")
    val n = ParquetAppend.MaxRows + 1
    assert(jobsOf(engine.appendBatch("main.ap_big", Seq("id"), (0 until n).map(i => Seq[Any](i.toLong)))) > 0)
    assert(count("ap_big") == n)
    Seq("ap_vc", "ap_part", "ap_big").foreach(t => engine.execute(s"drop table main.$t"))
  }

  test("inside BEGIN the batch lands in the txn delta; ROLLBACK leaves the base unchanged") {
    fresh("ap_txn")
    engine.execute("create table main.ap_txn (id INT, s STRING)")
    engine.appendBatch("main.ap_txn", Seq("id", "s"), Seq(Seq(1, "a")))
    val before = files("ap_txn")
    engine.execute("begin")
    try {
      engine.appendBatch("main.ap_txn", Seq("id"), Seq(Seq(2), Seq(3)))
      assert(engine.execute("select count(*) from main.ap_txn").df.head().getLong(0) == 3)
      assert(files("ap_txn") == before)
    } finally engine.execute("rollback")
    assert(count("ap_txn") == 1 && files("ap_txn") == before)
    engine.execute("drop table main.ap_txn")
  }

  test("a PK duplicate is rejected with nothing written") {
    fresh("ap_pk")
    engine.execute("create table main.ap_pk (id INT PRIMARY KEY, v STRING)")
    engine.appendBatch("main.ap_pk", Seq("id", "v"), Seq(Seq(1, "a"), Seq(2, "b")))
    val before = files("ap_pk")
    val e = intercept[IllegalArgumentException](
      engine.appendBatch("main.ap_pk", Seq("id", "v"), Seq(Seq(3, "c"), Seq(2, "dup"))))
    assert(e.getMessage.contains("duplicate key"))
    assert(count("ap_pk") == 2 && files("ap_pk") == before)
    engine.execute("drop table main.ap_pk")
  }

  test("after ANALYZE, an append drops the stale table stats as insertInto does") {
    fresh("ap_stats")
    engine.execute("create table main.ap_stats (id INT)")
    engine.appendBatch("main.ap_stats", Seq("id"), Seq(Seq(1), Seq(2)))
    spark.sql("analyze table main.ap_stats compute statistics")
    assert(meta("ap_stats").stats.exists(_.rowCount.contains(BigInt(2))))
    engine.appendBatch("main.ap_stats", Seq("id"), Seq(Seq(3)))
    assert(meta("ap_stats").stats.isEmpty)
    assert(count("ap_stats") == 3)
    engine.execute("drop table main.ap_stats")
  }
}
