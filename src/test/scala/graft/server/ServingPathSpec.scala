package graft.server

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpecBase
import graft.plans.{LocalFold, LocalFoldExec}

/** The server's session profile for the serving-path specs: the
  * LocalFold strategy and the presentation sort, as ServerMain and
  * Engine.bootstrap set them. Both are removed again afterwards, so the
  * suites that follow in the same JVM plan as before. */
trait ServingProfile extends SparkSpecBase with BeforeAndAfterAll {
  override def beforeAll(): Unit = {
    super.beforeAll()
    LocalFold.install(spark)
    spark.conf.set(graft.plans.PresentationSort.ConfKey, "true")
  }

  override def afterAll(): Unit = {
    spark.experimental.extraStrategies = spark.experimental.extraStrategies.filterNot(_ == LocalFold)
    spark.conf.unset(graft.plans.PresentationSort.ConfKey)
    super.afterAll()
  }

  /** The plan whose root ResultStream inspects (AQE's input plan). */
  def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case p => p
  }

  def folded(df: DataFrame): Boolean = physical(df).exists(_.isInstanceOf[LocalFoldExec])

  /** The whole plan is one driver-local leaf: a fold, or a relation the
    * optimizer already reduced (an empty join side empties the join). */
  def driverOnly(df: DataFrame): Boolean = physical(df) match {
    case _: LocalFoldExec | _: LocalTableScanExec => true
    case _ => false
  }

  def drain(df: DataFrame): Seq[Row] = ResultStream.open(df).asScala.toSeq
}

/** Jobs per serving statement, counted by a listener after a real bus
  * drain: the connect probes and the catalog SQL of the pg_short mix
  * (psql `\dt` and `\d`, JDBC getTables) run no Spark job; a bounded
  * top-k over parquet runs exactly one. */
class ServingJobsSpec extends ServingProfile {

  private lazy val engine: Engine = {
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    CatalogViews.install(spark)
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

  /** (jobs, rows) of executing `sql` and draining it as the frontends do. */
  private def run(sql: String): (Int, Seq[Row]) = {
    ListenerDrain(spark.sparkContext)
    jobs.set(0)
    val rows = drain(engine.execute(sql).df)
    ListenerDrain(spark.sparkContext)
    (jobs.get, rows)
  }

  // psql 16's \dt and \d <table>, and pgJDBC's getTables shape
  private val psqlDt = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
WHERE c.relkind IN ('r','p','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2"""

  private val psqlD1 = """SELECT c.oid,
  n.nspname,
  c.relname
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
WHERE c.relname OPERATOR(pg_catalog.~) '^(c_jobs)$' COLLATE pg_catalog.default
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 2, 3"""

  private def psqlD2(oid: Long) = s"""SELECT c.relchecks, c.relkind, c.relhasindex, c.relhasrules, c.relhastriggers, c.relrowsecurity, c.relforcerowsecurity, false AS relhasoids, c.relispartition, '', c.reltablespace, CASE WHEN c.reloftype = 0 THEN '' ELSE c.reloftype::pg_catalog.regtype::pg_catalog.text END, c.relpersistence, c.relreplident, am.amname
FROM pg_catalog.pg_class c
 LEFT JOIN pg_catalog.pg_class tc ON (c.reltoastrelid = tc.oid)
LEFT JOIN pg_catalog.pg_am am ON (c.relam = am.oid)
WHERE c.oid = $oid"""

  private def psqlD3(oid: Long) = s"""SELECT a.attname,
  pg_catalog.format_type(a.atttypid, a.atttypmod),
  (SELECT pg_catalog.pg_get_expr(d.adbin, d.adrelid, true)
   FROM pg_catalog.pg_attrdef d
   WHERE d.adrelid = a.attrelid AND d.adnum = a.attnum AND a.atthasdef),
  a.attnotnull,
  (SELECT c.collname FROM pg_catalog.pg_collation c, pg_catalog.pg_type t
   WHERE c.oid = a.attcollation AND t.oid = a.atttypid AND a.attcollation <> t.typcollation) AS attcollation,
  a.attidentity,
  a.attgenerated
FROM pg_catalog.pg_attribute a
WHERE a.attrelid = $oid AND a.attnum > 0 AND NOT a.attisdropped
ORDER BY a.attnum"""

  private val jdbcTables = "SELECT NULL AS TABLE_CAT, n.nspname AS TABLE_SCHEM, " +
    "c.relname AS TABLE_NAME, CASE c.relkind WHEN 'r' THEN 'TABLE' WHEN 'v' THEN 'VIEW' " +
    "ELSE NULL END AS TABLE_TYPE FROM pg_catalog.pg_namespace n, pg_catalog.pg_class c " +
    "WHERE c.relnamespace = n.oid AND c.relname LIKE 'c_job%' " +
    "ORDER BY TABLE_TYPE, TABLE_SCHEM, TABLE_NAME"

  test("probes and catalog SQL of the short mix run no Spark job; a top-k LIMIT runs one") {
    engine.execute("drop table if exists main.c_jobs")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Persistence.rm(new java.io.File(s"$wh/main.db/c_jobs"))
    engine.execute("create table main.c_jobs using parquet as " +
      "select id, cast(id % 7 as int) as k, cast(id as string) as s from range(200)")
    try {
      def zero(sql: String): Seq[Row] = {
        val (n, rows) = run(sql)
        assert(n == 0, s"$n job(s) for: $sql")
        rows
      }
      assert(zero("SELECT 1") == Seq(Row(1)))
      assert(zero("SELECT version()").size == 1)
      assert(zero("SELECT current_setting('server_version')").size == 1)
      assert(zero("SELECT current_schema()").size == 1)
      assert(zero(psqlDt).map(_.getString(1)).contains("c_jobs"))
      val d1 = zero(psqlD1)
      assert(d1.map(r => (r.getString(1), r.getString(2))) == Seq(("main", "c_jobs")))
      val oid = d1.head.get(0).toString.toLong
      assert(zero(psqlD2(oid)).map(_.getString(1)) == Seq("r"))
      assert(zero(psqlD3(oid)).map(_.getString(0)) == Seq("id", "k", "s"))
      assert(zero(jdbcTables).map(r => (r.getString(2), r.getString(3))) ==
        Seq(("c_jobs", "TABLE")))
      assert(zero("SELECT * FROM information_schema.tables").exists(_.getString(2) == "c_jobs"))

      val (n, rows) = run("SELECT id, k FROM main.c_jobs ORDER BY k DESC, id LIMIT 10")
      assert(n == 1, s"$n jobs for a top-k LIMIT over parquet")
      assert(rows.map(_.getLong(0)) == (6L until 200L by 7L).take(10))
    } finally engine.execute("drop table if exists main.c_jobs")
  }
}

/** LocalFold against Spark's own plan: seeded random local tables
  * (nulls, duplicates, NaN, empty strings, an empty table) through
  * every join type, filters, sorts and limits must give exactly what
  * the same SQL gives over the same rows written to parquet. Also pins
  * the fallbacks and the runtime-error path. */
class LocalFoldSpec extends ServingProfile {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("k", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType)))

  private def table(seed: Long, n: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def pick[A](nulls: Boolean)(a: => A): Any = if (nulls && rnd.nextInt(5) == 0) null else a
    (0 until n).map { i =>
      Row(i,
        pick(nulls = true)(rnd.nextInt(5)),
        pick(nulls = true)(rnd.nextInt(6) match {
          case 0 => Double.NaN
          case 1 => 0.5
          case j => j.toDouble / 4
        }),
        pick(nulls = true)(Seq("", "a", "b", "ab")(rnd.nextInt(4))))
    }
  }

  private lazy val dir = Files.createTempDirectory("graft-fold").toFile

  /** `l*` views are local relations (folded), `p*` views the same rows
    * read back from parquet (Spark's plan). */
  override def beforeAll(): Unit = {
    super.beforeAll()
    Seq("a" -> table(11, 40), "b" -> table(12, 30), "e" -> Nil).foreach { case (n, rows) =>
      val df = spark.createDataFrame(rows.asJava, schema)
      df.createOrReplaceTempView(s"l$n")
      df.write.parquet(s"$dir/$n")
      spark.read.parquet(s"$dir/$n").createOrReplaceTempView(s"p$n")
    }
  }

  override def afterAll(): Unit = {
    Seq("la", "lb", "le", "pa", "pb", "pe").foreach(spark.catalog.dropTempView)
    Persistence.rm(dir)
    super.afterAll()
  }

  /** `sql` with `$a`/`$b`/`$e` bound to the local or the parquet views. */
  private def both(sql: String): (DataFrame, DataFrame) = {
    def bind(p: String) = sql.replace("$a", s"${p}a").replace("$b", s"${p}b").replace("$e", s"${p}e")
    (spark.sql(bind("l")), spark.sql(bind("p")))
  }

  private def same(sql: String, ordered: Boolean = false): Unit = {
    val (local, parquet) = both(sql)
    assert(driverOnly(local), s"not folded: $sql\n${physical(local)}")
    assert(!folded(parquet))
    val (got, want) = (drain(local).map(_.toString), drain(parquet).map(_.toString))
    if (ordered) assert(got == want, sql)
    else assert(got.sorted == want.sorted, sql)
  }

  test("every join type matches Spark's plan (nulls, duplicates, NaN, empty side)") {
    val conds = Seq("x.k = y.k", "x.d = y.d", "x.s = y.s AND x.k <=> y.k", "x.k < y.k")
    for (jt <- Seq("INNER", "LEFT", "RIGHT", "FULL"); c <- conds) {
      same(s"SELECT x.id, x.k, x.d, y.id, y.s FROM $$a x $jt JOIN $$b y ON $c")
      same(s"SELECT x.id, y.id FROM $$a x $jt JOIN $$e y ON $c")
    }
    for (jt <- Seq("LEFT SEMI", "LEFT ANTI"); c <- conds)
      same(s"SELECT x.id, x.s FROM $$a x $jt JOIN $$b y ON $c")
    same("SELECT x.id, y.id FROM $a x CROSS JOIN $b y WHERE x.id < 5")
    same("SELECT x.id FROM $a x WHERE x.k NOT IN (SELECT k FROM $b)")
    same("SELECT x.id, y.id, z.id FROM $a x JOIN $b y ON x.k = y.k LEFT JOIN $a z ON y.s = z.s")
  }

  test("filters, sorts (ASC/DESC, NULLS FIRST/LAST) and limits match Spark's plan") {
    same("SELECT x.id, y.id FROM $a x JOIN $b y ON x.k = y.k WHERE x.d > 0.5 OR y.s = ''")
    for (o <- Seq("ASC NULLS FIRST", "ASC NULLS LAST", "DESC NULLS FIRST", "DESC NULLS LAST")) {
      same(s"SELECT x.id, x.d, y.s FROM $$a x JOIN $$b y ON x.id = y.id " +
        s"ORDER BY x.d $o, y.s $o, x.id", ordered = true)
      same(s"SELECT x.id, x.k FROM $$a x JOIN $$b y ON x.id = y.id " +
        s"ORDER BY x.k $o, x.id LIMIT 7", ordered = true)
    }
    same("SELECT x.id, y.id FROM $a x LEFT JOIN $b y ON x.s = y.s " +
      "ORDER BY x.id, y.id NULLS FIRST LIMIT 12", ordered = true)
    same("SELECT x.id FROM $a x JOIN $e y ON x.k = y.k ORDER BY x.id LIMIT 3", ordered = true)
  }

  test("falls back to Spark's plan: above the cap, nondeterministic, scalar subquery") {
    val big = spark.range(1001).selectExpr("cast(id as int) as id")
    big.createOrReplaceTempView("l_big")
    try {
      val cap = spark.sql("SELECT x.id FROM l_big x JOIN l_big y ON x.id = y.id")
      assert(!folded(cap) && drain(cap).size == 1001)
      // a nondeterministic node runs in Spark; only the deterministic
      // subtree below it folds
      def deterministicFolds(df: DataFrame) =
        physical(df).collect { case f: LocalFoldExec => f.folded }.forall(_.deterministic)
      val r = spark.sql("SELECT x.id, rand(7) AS r FROM la x JOIN lb y ON x.id = y.id").filter("r < 2")
      assert(folded(r) && !driverOnly(r) && deterministicFolds(r) && drain(r).size == 30)
      val sorted = spark.sql("SELECT x.id FROM la x JOIN lb y ON x.id = y.id ORDER BY rand(7)")
      assert(!driverOnly(sorted) && deterministicFolds(sorted) && drain(sorted).size == 30)
      val (local, parquet) = both("SELECT x.id, (SELECT max(k) FROM $b) AS m FROM $a x ORDER BY x.id")
      assert(!folded(local))
      assert(drain(local).map(_.toString) == drain(parquet).map(_.toString))
    } finally spark.catalog.dropTempView("l_big")
  }

  test("EXPLAIN and Describe plan the fold without evaluating it") {
    val q = "SELECT 1 / (x.id - x.id) AS q FROM la x JOIN lb y ON x.id = y.id"
    assert(spark.sql(s"EXPLAIN $q").collect().head.getString(0).contains("LocalFold"))
    assert(spark.sql(q).schema.fieldNames.toSeq == Seq("q"))
  }

  test("a runtime error in a folded projection reaches the client as Spark's, and aborts the txn") {
    def condition(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
      }.getOrElse(e.toString)
    val (local, parquet) = both("SELECT x.k / 0 AS q FROM $a x JOIN $b y ON x.id = y.id")
    assert(folded(local))
    val viaFold = intercept[Exception](drain(local))
    val viaSpark = intercept[Exception](drain(parquet))
    assert(condition(viaFold) == "DIVIDE_BY_ZERO")
    assert(condition(viaFold) == condition(viaSpark))
    assert(viaFold.getMessage.contains("[DIVIDE_BY_ZERO]"))

    // the wire layer's error path: a failure while draining aborts the
    // open transaction through abortOpenTxn, as a Spark task error does
    val engine = new Engine(spark)
    engine.execute("begin")
    try {
      val df = engine.execute("SELECT a.x / 0 AS q FROM (VALUES (1), (2)) a(x) " +
        "JOIN (VALUES (1), (3)) b(y) ON a.x = b.y").df
      assert(folded(df))
      val e = intercept[Exception](drain(df))
      engine.abortOpenTxn(e)
      assert(engine.txnStatus == 'E')
      val next = intercept[IllegalArgumentException](engine.execute("SELECT 1"))
      assert(next.getMessage.contains("current transaction is aborted"))
    } finally engine.execute("rollback")
  }
}
