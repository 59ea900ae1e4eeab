package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.server.Engine
import graft.server.ch.Formats

/** Engine-layer server semantics: declared-constraint enforcement
  * (incl. the round-2 UNIQUE-drop and check/insert TOCTOU bugs),
  * file-I/O gating, and --db_path persistence round-trips. */
class ServerEngineSpec extends SparkSpecBase {

  private lazy val engine: Engine = {
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    new Engine(spark)
  }

  /** Drop + clear any stale warehouse dir for `main.<table>`: the
    * catalog is in-memory but the warehouse persists under target/, so
    * a crashed previous run leaves an orphaned location that makes
    * CREATE TABLE fail with LOCATION_ALREADY_EXISTS. */
  private def fresh(table: String): Unit = {
    engine.execute(s"drop table if exists main.$table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(s"$wh/main.db/$table")
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("NOT NULL UNIQUE records both attributes — duplicate rejected") {
    fresh("c_nnu")
    engine.execute("create table main.c_nnu (x INT NOT NULL UNIQUE, y STRING) using parquet")
    engine.execute("insert into main.c_nnu values (1, 'a')")
    val dup = intercept[IllegalArgumentException] {
      engine.execute("insert into main.c_nnu values (1, 'b')")
    }
    assert(dup.getMessage.contains("unique"))
    val nn = intercept[IllegalArgumentException] {
      engine.execute("insert into main.c_nnu values (NULL, 'c')")
    }
    assert(nn.getMessage.contains("not-null"))
    engine.execute("drop table main.c_nnu")
  }

  test("txn snapshot point is the FIRST statement, like DuckDB (r15 fuzz find)") {
    fresh("c_snap"); fresh("c_snap_u")
    engine.execute("create table main.c_snap (id INT, a INT) using parquet")
    engine.execute("create table main.c_snap_u (x INT) using parquet")
    engine.execute("insert into main.c_snap values (1, 1), (2, 2)")
    // a dedicated thread = one connection (engine txn state is per-thread)
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    def a(sql: String): Either[Throwable, Seq[String]] =
      exec.submit(() =>
        try Right(Option(engine.execute(sql).df)
          .map(_.collect().toSeq.map(_.toString)).getOrElse(Nil))
        catch { case e: Throwable => Left(e) }).get()
    try {
      // DuckDB parity 1: a commit BETWEEN BEGIN and the first statement
      // IS visible (the snapshot is fixed at the first statement, not
      // at BEGIN — measured against DuckDB)
      assert(a("begin").isRight)
      engine.execute("insert into main.c_snap values (3, 3)")
      assert(a("select count(*) as n from main.c_snap") == Right(Seq("[3]")))
      assert(a("rollback").isRight)
      // DuckDB parity 2: a FAILED first statement still fixes the
      // snapshot — a commit after it must never become visible. DuckDB
      // serves the older image; this engine cannot reconstruct one, so
      // the first touch aborts in the declared serialization class
      // (never silently serves the too-new state — the r15 fuzz find)
      assert(a("begin").isRight)
      assert(a("alter table main.snap_nosuch rename to main.snap_x").isLeft)
      engine.execute("insert into main.c_snap values (4, 4)")
      val drift = a("select count(*) from main.c_snap")
      assert(drift.isLeft &&
        drift.swap.toOption.get.getMessage.contains("could not serialize"),
        s"expected serialization abort, got $drift")
      assert(a("rollback").isRight)
      // DuckDB parity 3: a successful statement on ANOTHER table fixes
      // the snapshot for every table, not just the touched one
      assert(a("begin").isRight)
      assert(a("select count(*) from main.c_snap_u").isRight)
      engine.execute("insert into main.c_snap values (5, 5)")
      val drift2 = a("select count(*) from main.c_snap")
      assert(drift2.isLeft &&
        drift2.swap.toOption.get.getMessage.contains("could not serialize"))
      assert(a("rollback").isRight)
      // and with no interleaved commit, everything reads normally
      assert(a("begin").isRight)
      assert(a("select count(*) from main.c_snap_u").isRight)
      assert(a("select count(*) as n from main.c_snap") == Right(Seq("[5]")))
      assert(a("commit").isRight)
    } finally {
      a("rollback")
      exec.shutdown()
      engine.execute("drop table main.c_snap")
      engine.execute("drop table main.c_snap_u")
    }
  }

  test("CHECKPOINT compacts fragmented tables; DuckDB txn semantics; ANALYZE feeds stats") {
    fresh("c_ckpt")
    engine.execute("create table main.c_ckpt (id INT PRIMARY KEY, v STRING) using parquet")
    for (i <- 1 to 12)
      engine.execute(s"insert into main.c_ckpt values ($i, 'r$i')")
    val before = spark.table("main.c_ckpt").inputFiles.length
    assert(before >= 12, s"expected one file per single-row insert, got $before")
    val pre = engine.execute("select * from main.c_ckpt order by id")
      .df.collect().map(_.toString).toSeq
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    def b(sql: String): Either[Throwable, Seq[String]] =
      exec.submit(() =>
        try Right(Option(engine.execute(sql).df)
          .map(_.collect().toSeq.map(_.toString)).getOrElse(Nil))
        catch { case e: Throwable => Left(e) }).get()
    try {
      // inside a transaction block: refused (DuckDB errors here too)
      engine.execute("begin")
      val inTxn = intercept[IllegalArgumentException] { engine.execute("checkpoint") }
      assert(inTxn.getMessage.contains("transaction block"))
      engine.execute("rollback")
      // another connection's OPEN transaction: plain CHECKPOINT refuses
      assert(b("begin").isRight)
      assert(b("select count(*) from main.c_ckpt").isRight) // pins the file set
      val busy = intercept[IllegalArgumentException] { engine.execute("checkpoint") }
      assert(busy.getMessage.contains("other transactions active"))
      // FORCE CHECKPOINT proceeds; the pinned reader aborts at its
      // next touch in the declared serialization class (DuckDB aborts
      // it eagerly — same outcome)
      engine.execute("force checkpoint")
      val after = spark.table("main.c_ckpt").inputFiles.length
      assert(after < before && after <= 2, s"compaction: $before -> $after files")
      val aborted = b("select count(*) from main.c_ckpt")
      assert(aborted.isLeft &&
        aborted.swap.toOption.get.getMessage.contains("could not serialize"))
      assert(b("rollback").isRight)
      // content identical, PK registration survives the swap
      assert(engine.execute("select * from main.c_ckpt order by id")
        .df.collect().map(_.toString).toSeq == pre)
      val dup = intercept[IllegalArgumentException] {
        engine.execute("insert into main.c_ckpt values (1, 'dup')")
      }
      assert(dup.getMessage.toLowerCase.contains("key"))
      // idempotent: a second sweep finds everything already in shape
      engine.execute("checkpoint")
      assert(spark.table("main.c_ckpt").inputFiles.length == after)
      // PRAGMA force_checkpoint spelling answers too
      engine.execute("pragma force_checkpoint")
      // VACUUM / ANALYZE recompute catalog stats (the CBO inputs the
      // adaptive-broadcast plans read)
      engine.execute("vacuum analyze main.c_ckpt")
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("main.c_ckpt"))
      assert(meta.stats.exists(_.rowCount.contains(BigInt(12))),
        s"ANALYZE should record rowCount=12, got ${meta.stats}")
      // Spark's own ANALYZE TABLE spelling still reaches the generic path
      engine.execute("analyze table main.c_ckpt compute statistics")
    } finally {
      b("rollback")
      exec.shutdown()
      engine.execute("drop table main.c_ckpt")
    }
  }

  test("INSERT OR IGNORE/REPLACE sugar; CREATE UNIQUE INDEX enforces, plain is a no-op") {
    def rows(sql: String): Seq[String] =
      engine.execute(sql).df.collect().map(_.toString).toSeq
    fresh("c_ins")
    engine.execute("create table main.c_ins (id INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("insert into main.c_ins values (1, 'a')")
    engine.execute("insert or ignore into main.c_ins values (1, 'dup'), (2, 'b')")
    assert(rows("select * from main.c_ins order by id") == Seq("[1,a]", "[2,b]"))
    engine.execute("insert or replace into main.c_ins values (1, 'A'), (3, 'c')")
    assert(rows("select * from main.c_ins order by id") == Seq("[1,A]", "[2,b]", "[3,c]"))
    // a UNIQUE index registers an enforced constraint; existing
    // duplicates refuse creation
    engine.execute("drop index if exists c_ins_v_uq")
    engine.execute("create unique index c_ins_v_uq on main.c_ins (v)")
    val dup = intercept[IllegalArgumentException] {
      engine.execute("insert into main.c_ins values (4, 'A')")
    }
    assert(dup.getMessage.toLowerCase.contains("unique"))
    val dupAtCreate = intercept[IllegalArgumentException] {
      engine.execute("insert into main.c_ins values (4, 'd')")
      engine.execute("insert into main.c_ins values (5, 'd')")
    }
    assert(dupAtCreate.getMessage.toLowerCase.contains("unique"))
    engine.execute("delete from main.c_ins where id >= 4")
    // DROP INDEX deregisters: the duplicate inserts cleanly after
    engine.execute("drop index c_ins_v_uq")
    engine.execute("insert into main.c_ins values (4, 'A')")
    assert(rows("select count(*) from main.c_ins") == Seq("[4]"))
    // plain index: accepted no-op, duplicate names refused, DROP works
    engine.execute("create index c_ins_plain on main.c_ins (id)")
    val dupIdx = intercept[IllegalArgumentException] {
      engine.execute("create index c_ins_plain on main.c_ins (v)")
    }
    assert(dupIdx.getMessage.contains("already exists"))
    engine.execute("create index if not exists c_ins_plain on main.c_ins (v)")
    engine.execute("drop index c_ins_plain")
    val gone = intercept[IllegalArgumentException] { engine.execute("drop index c_ins_plain") }
    assert(gone.getMessage.contains("does not exist"))
    // quoted assigned-column spellings update (silently skipped
    // pre-fix in BOTH set parsers — surfaced by the sugar's generated
    // backticks)
    engine.execute("update main.c_ins set \"v\" = 'QQ' where id = 2")
    assert(rows("select v from main.c_ins where id = 2") == Seq("[QQ]"))
    // create-unique refused while duplicates exist
    engine.execute("insert into main.c_ins values (9, 'A')")
    val refuse = intercept[IllegalArgumentException] {
      engine.execute("create unique index c_ins_bad on main.c_ins (v)")
    }
    assert(refuse.getMessage.contains("duplicate values"))
    engine.execute("drop table main.c_ins")
  }

  test("duckdb_* introspection TVFs: tables/columns/functions/sequences/constraints") {
    def rows(sql: String): Seq[String] =
      engine.execute(sql).df.collect().map(_.toString).toSeq
    fresh("c_dintro")
    engine.execute("create table main.c_dintro (id INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("create macro dintro_mac(a) as a + 1")
    engine.execute("drop sequence if exists main.dintro_seq")
    engine.execute("create sequence main.dintro_seq start with 5")
    try {
      assert(rows("select table_name, has_primary_key, column_count from duckdb_tables() " +
        "where table_name = 'c_dintro'") == Seq("[c_dintro,true,2]"))
      assert(rows("select column_name, data_type, is_nullable from duckdb_columns() " +
        "where table_name = 'c_dintro' order by column_index").size == 2)
      assert(rows("select function_type, macro_definition from duckdb_functions() " +
        "where function_name = 'dintro_mac'") == Seq("[macro,dintro_mac(a) AS a + 1]"))
      assert(rows("select sequence_name, increment_by from duckdb_sequences() " +
        "where sequence_name = 'dintro_seq'") == Seq("[dintro_seq,1]"))
      assert(rows("select constraint_type from duckdb_constraints() " +
        "where table_name = 'c_dintro'").contains("[PRIMARY KEY]"))
      assert(rows("select database_name from duckdb_databases()") == Seq("[memory]"))
      assert(rows("select schema_name from duckdb_schemas() where schema_name = 'main'").nonEmpty)
      assert(rows("select value from duckdb_settings() where name = 'version'").nonEmpty)
    } finally {
      engine.execute("drop macro if exists dintro_mac")
      engine.execute("drop sequence if exists main.dintro_seq")
      engine.execute("drop table if exists main.c_dintro")
    }
  }

  test("catalog families: exact rows for one table and one view") {
    def rows(sql: String): Seq[String] =
      engine.execute(sql).df.collect().map(_.toString).toSeq
    fresh("c_fam")
    engine.execute("drop view if exists main.c_fam_v")
    engine.execute("create table main.c_fam (id INT PRIMARY KEY, name STRING NOT NULL, " +
      "amt DECIMAL(10,2)) using parquet")
    engine.execute("create view main.c_fam_v as select id, name from main.c_fam")
    try {
      // pg_catalog
      assert(rows("select nspname, nspowner from pg_catalog.pg_namespace " +
        "where nspname = 'main'") == Seq("[main,0]"))
      assert(rows("select c.relname, c.relkind, n.nspname, c.relhasindex, c.reltuples " +
        "from pg_catalog.pg_class c join pg_catalog.pg_namespace n on c.relnamespace = n.oid " +
        "where c.relname like 'c_fam%' order by c.relname") ==
        Seq("[c_fam,r,main,false,-1.0]", "[c_fam_v,v,main,false,-1.0]"))
      assert(rows("select c.relname, a.attname, a.atttypid, a.attnum, a.atttypmod, " +
        "a.attnotnull, a.attisdropped from pg_catalog.pg_class c " +
        "join pg_catalog.pg_attribute a on a.attrelid = c.oid " +
        "where c.relname like 'c_fam%' order by c.relname, a.attnum") == Seq(
        "[c_fam,id,23,1,-1,true,false]", "[c_fam,name,25,2,-1,true,false]",
        "[c_fam,amt,1700,3,655366,false,false]",
        "[c_fam_v,id,23,1,-1,false,false]", "[c_fam_v,name,25,2,-1,false,false]"))
      // every pg_attribute row of these relations hangs off a pg_class oid
      assert(rows("select count(*) from pg_catalog.pg_attribute a " +
        "where a.attrelid in (select oid from pg_catalog.pg_class " +
        "where relname like 'c_fam%')") == Seq("[5]"))
      // information_schema (data_type in Spark's own spelling)
      assert(rows("select table_catalog, table_schema, table_name, table_type " +
        "from information_schema.tables where table_name like 'c_fam%' order by table_name") ==
        Seq("[spark,main,c_fam,BASE TABLE]", "[spark,main,c_fam_v,VIEW]"))
      assert(rows("select table_name, column_name, ordinal_position, data_type, is_nullable " +
        "from information_schema.columns where table_name like 'c_fam%' " +
        "order by table_name, ordinal_position") == Seq(
        "[c_fam,id,1,int,YES]", "[c_fam,name,2,string,YES]",
        "[c_fam,amt,3,decimal(10,2),YES]",
        "[c_fam_v,id,1,int,YES]", "[c_fam_v,name,2,string,YES]"))
      assert(rows("select * from information_schema.constraint_column_usage " +
        "where table_name = 'c_fam'") == Seq("[spark,main,c_fam,id,c_fam_pkey]"))
      // ClickHouse system.* (views are not tables here)
      assert(rows("select name, database, uuid, engine, is_temporary, comment " +
        "from system.tables where name like 'c_fam%'") == Seq("[c_fam,main,uuid,graft,0,]"))
      assert(rows("select database, `table`, name, type, default_kind from system.columns " +
        "where `table` like 'c_fam%'") == Seq(
        "[main,c_fam,id,int,int]", "[main,c_fam,name,string,string]",
        "[main,c_fam,amt,decimal(10,2),decimal(10,2)]",
        "[main,c_fam_v,id,int,int]", "[main,c_fam_v,name,string,string]"))
      // DuckDB duckdb_*()
      assert(rows("select * from duckdb_tables() where table_name like 'c_fam%'") ==
        Seq("[memory,main,c_fam,false,false,true,3]"))
      assert(rows("select * from duckdb_columns() where table_name like 'c_fam%'") == Seq(
        "[memory,main,c_fam,id,0,false,INTEGER,true]",
        "[memory,main,c_fam,name,1,false,VARCHAR,true]",
        "[memory,main,c_fam,amt,2,false,DECIMAL(10,2),true]",
        "[memory,main,c_fam_v,id,0,false,INTEGER,true]",
        "[memory,main,c_fam_v,name,1,false,VARCHAR,true]"))
      assert(rows("select * from duckdb_views() where view_name like 'c_fam%'") ==
        Seq("[memory,main,c_fam_v,false,false]"))
    } finally {
      engine.execute("drop view if exists main.c_fam_v")
      engine.execute("drop table if exists main.c_fam")
    }
  }

  test("Parse/Describe and DESCRIBE resolve statements the way Execute does") {
    def rows(sql: String): Seq[String] =
      engine.execute(sql).df.collect().map(_.toString).toSeq
    def cols(sql: String): Seq[String] = engine.analyzeOnly(sql).schema.fieldNames.toSeq
    fresh("c_pd"); fresh("c_pd_t")
    engine.execute("create table main.c_pd (a INT, b STRING) using parquet")
    try {
      // pgJDBC's getTables, as Parse sees it with $1 bound to NULL
      assert(cols("SELECT NULL AS TABLE_CAT, n.nspname AS TABLE_SCHEM, " +
        "c.relname AS TABLE_NAME, CASE c.relkind WHEN 'r' THEN 'TABLE' " +
        "WHEN 'v' THEN 'VIEW' ELSE NULL END AS TABLE_TYPE " +
        "FROM pg_catalog.pg_namespace n, pg_catalog.pg_class c " +
        "WHERE c.relnamespace = n.oid AND c.relname LIKE NULL " +
        "ORDER BY TABLE_TYPE, TABLE_SCHEM, TABLE_NAME") ==
        Seq("TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME", "TABLE_TYPE"))
      assert(cols("select table_name from information_schema.tables where table_name = NULL") ==
        Seq("table_name"))
      assert(cols("select name from system.tables") == Seq("name"))
      assert(cols("select table_name from duckdb_tables()") == Seq("table_name"))
      assert(cols("select * exclude (a) from main.c_pd") == Seq("b"))
      assert(rows("describe select relname from pg_catalog.pg_class") ==
        Seq("[relname,VARCHAR,YES]"))
      // a table created inside the open transaction: Parse and DESCRIBE
      // see it exactly as the SELECT does
      engine.execute("BEGIN")
      try {
        engine.execute("CREATE TABLE main.c_pd_t (a INT)")
        assert(rows("SELECT * FROM main.c_pd_t").isEmpty)
        assert(cols("SELECT * FROM main.c_pd_t") == Seq("a"))
        assert(rows("DESCRIBE main.c_pd_t") == Seq("[a,INTEGER,YES]"))
      } finally engine.execute("ROLLBACK")
      assert(!spark.catalog.tableExists("main.c_pd_t"))
    } finally engine.execute("drop table if exists main.c_pd")
  }

  test("statement-level PIVOT/UNPIVOT: DuckDB simplified spellings") {
    fresh("c_piv")
    engine.execute("create table main.c_piv as " +
      "select id % 3 as r, id as k, concat('x', id) as s from range(6)")
    // implicit grouping = all columns not referenced by ON/USING
    // (measured against DuckDB: schema k,s,0,1,2; count zero-fills)
    val p1 = engine.execute("pivot main.c_piv on r using count(*)").df
    assert(p1.schema.fieldNames.toSeq == Seq("k", "s", "0", "1", "2"))
    assert(p1.orderBy("k").collect().map(_.toString).toSeq.head == "[0,x0,1,0,0]")
    // explicit GROUP BY keeps only the named columns; sum leaves null
    val p2 = engine.execute("pivot main.c_piv on r using sum(k) group by s").df
    assert(p2.schema.fieldNames.toSeq == Seq("s", "0", "1", "2"))
    assert(p2.filter(org.apache.spark.sql.functions.col("s") === "x3")
      .collect().head.toString == "[x3,3,null,null]")
    // explicit IN list restricts and orders the pivot columns
    val p3 = engine.execute(
      "pivot main.c_piv on r in (2, 0) using sum(k) group by s").df
    assert(p3.schema.fieldNames.toSeq == Seq("s", "2", "0"))
    // trailing ORDER BY / LIMIT
    val p4 = engine.execute(
      "pivot main.c_piv on r using sum(k) group by s order by s limit 2").df
    assert(p4.collect().map(_.getString(0)).toSeq == Seq("x0", "x1"))
    // UNPIVOT with default and custom output names
    val u1 = engine.execute("unpivot (select 1 as a, 2 as b) on a, b").df
    assert(u1.schema.fieldNames.toSeq == Seq("name", "value"))
    assert(u1.collect().map(_.toString).toSeq == Seq("[a,1]", "[b,2]"))
    val u2 = engine.execute(
      "unpivot (select 1 as a, 2 as b, 'z' as id) on a, b into name n2 value v").df
    assert(u2.schema.fieldNames.toSeq == Seq("id", "n2", "v"))
    engine.execute("drop table main.c_piv")
  }

  test("statement-level PIVOT/UNPIVOT: resultSchema (Parse/Describe) equals the executed schema") {
    fresh("c_pivs")
    engine.execute("create table main.c_pivs as " +
      "select id % 3 as r, id as k, concat('x', id) as s from range(6)")
    Seq("pivot main.c_pivs on r using count(*)",
      "pivot main.c_pivs on r in (2, 0) using sum(k) group by s",
      "unpivot (select 1 as a, 2 as b, 'z' as id) on a, b into name n2 value v",
      "unpivot main.c_pivs on r, k").foreach { sql =>
      assert(engine.resultSchema(graft.server.Statement(sql)) ==
        Some(engine.execute(sql).df.schema), sql)
    }
    engine.execute("drop table main.c_pivs")
  }

  test("SQL-level PREPARE/EXECUTE/DEALLOCATE: params splice, connection-scoped") {
    def one(sql: String): String =
      engine.execute(sql).df.collect().head.toString
    assert(engine.execute("prepare c_pq as select $1 + $2 as v").tag == "PREPARE")
    assert(one("execute c_pq(40, 2)") == "[42]")
    assert(one("execute c_pq(1, -1)") == "[0]")
    // expression args, and $n inside a literal stays text
    engine.execute("prepare c_pq2 as select concat('$1:', cast($1 as string)) as s")
    assert(one("execute c_pq2(7 * 2)") == "[$1:14]")
    // missing arg / unknown name / deallocate semantics
    val missing = intercept[IllegalArgumentException] { engine.execute("execute c_pq(1)") }
    assert(missing.getMessage.contains("no value bound"))
    val unknown = intercept[IllegalArgumentException] { engine.execute("execute c_nope") }
    assert(unknown.getMessage.contains("does not exist"))
    engine.execute("deallocate c_pq2")
    intercept[IllegalArgumentException] { engine.execute("execute c_pq2(1)") }
    // connection-scoped: another connection cannot EXECUTE this one's
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val other = exec.submit(() =>
        try Right(engine.execute("execute c_pq(1, 2)").df.collect().head.toString)
        catch { case e: Throwable => Left(e.getMessage) }).get()
      assert(other.isLeft, s"prepared statement leaked: $other")
    } finally exec.shutdown()
    engine.execute("deallocate all")
    intercept[IllegalArgumentException] { engine.execute("execute c_pq(1, 2)") }
  }

  test("PG binary numeric encoding: base-10000 wire layout round-trips") {
    import graft.server.pg.PgTypes
    def decode(bs: Array[Byte]): java.math.BigDecimal = {
      val b = java.nio.ByteBuffer.wrap(bs)
      val nd = b.getShort; val w = b.getShort; val sign = b.getShort; val ds = b.getShort
      var v = java.math.BigDecimal.ZERO
      for (k <- 0 until nd)
        v = v.add(java.math.BigDecimal.valueOf(b.getShort.toLong)
          .scaleByPowerOfTen(4 * (w - k)))
      v = v.setScale(ds)
      if (sign == 0x4000) v.negate() else v
    }
    val samples = Seq("0", "0.1", "-0.1", "1234.56", "-1234.56", "10000",
      "99999999.9999", "-0.0001", "12345678901234567890.123",
      "0.00010000", "1000", "9999", "10001", "123.4500")
    samples.foreach { s =>
      val in = new java.math.BigDecimal(s)
      val enc = PgTypes.renderBinary(in).get
      val out = decode(enc)
      assert(out.compareTo(in) == 0, s"$s decoded as $out")
      assert(out.scale == math.max(0, in.scale), s"$s scale ${out.scale}")
    }
    // the other fixed-layout codecs, spot checks
    assert(PgTypes.renderBinary(7).get.toSeq == Seq[Byte](0, 0, 0, 7))
    assert(PgTypes.renderBinary(true).get.toSeq == Seq[Byte](1))
    assert(PgTypes.renderBinary(java.time.LocalDate.of(2000, 1, 2)).get.toSeq ==
      Seq[Byte](0, 0, 0, 1))
    assert(java.nio.ByteBuffer.wrap(
      PgTypes.renderBinary(java.time.LocalDateTime.of(2000, 1, 1, 0, 0, 1)).get)
      .getLong == 1000000L)
  }

  test("dialect: CREATE OR REPLACE TABLE, USING SAMPLE, SET VARIABLE/getvariable") {
    def one(sql: String): String =
      engine.execute(sql).df.collect().head.toString
    fresh("c_ort")
    engine.execute("create table main.c_ort (x INT) using parquet")
    engine.execute("insert into main.c_ort values (1)")
    // OR REPLACE swaps content and schema under the write lock
    engine.execute("create or replace table main.c_ort as select 'v' as s, 9 as y")
    assert(one("select * from main.c_ort") == "[v,9]")
    // in-txn it composes the transactional DROP + CREATE intents:
    // ROLLBACK restores the original table entirely
    engine.execute("begin")
    engine.execute("create or replace table main.c_ort as select 1 as z")
    assert(one("select * from main.c_ort") == "[1]")
    engine.execute("rollback")
    assert(one("select * from main.c_ort") == "[v,9]")
    engine.execute("drop table main.c_ort")
    // USING SAMPLE spellings → TABLESAMPLE
    fresh("c_smp")
    engine.execute("create table main.c_smp (k INT) using parquet")
    engine.execute("insert into main.c_smp select id from range(100)")
    assert(one("select count(*) as n from main.c_smp using sample 5 rows") == "[5]")
    assert(one("select count(*) as n from main.c_smp using sample 5") == "[5]")
    assert(one("select count(*) as n from main.c_smp using sample 100%") == "[100]")
    assert(one("select count(*) as n from main.c_smp using sample reservoir(7 rows)") == "[7]")
    val r1 = engine.execute("select k from main.c_smp using sample 20% (bernoulli, 42) order by k")
      .df.collect().map(_.toString).toSeq
    val r2 = engine.execute("select k from main.c_smp using sample 20 percent repeatable (42) order by k")
      .df.collect().map(_.toString).toSeq
    assert(r1 == r2, "same seed must sample the same rows")
    engine.execute("drop table main.c_smp")
    // session variables: SET VARIABLE auto-declares, getvariable reads,
    // RESET drops (undeclared read errors — declared divergence from
    // DuckDB's NULL)
    engine.execute("set variable c_mv = 40 + 2")
    assert(one("select getvariable('c_mv') as v") == "[42]")
    engine.execute("set variable c_mv = 'abc'")
    assert(one("select getvariable('c_mv') as v") == "[abc]")
    // connection-private (DuckDB semantics): another connection cannot
    // read this one's variable — Spark variables are session-wide, so
    // privacy comes from the per-connection name mangle
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val other = exec.submit(() =>
        try Right(engine.execute("select getvariable('c_mv')").df.collect().head.toString)
        catch { case e: Throwable => Left(e) }).get()
      assert(other.isLeft, s"variable leaked across connections: $other")
    } finally exec.shutdown()
    engine.execute("reset variable c_mv")
    intercept[Exception] { engine.execute("select getvariable('c_mv')") }
    // bare DESCRIBE <table> answers the DuckDB 3-column shape with
    // DuckDB type names (Spark's native DESCRIBE says `int`)
    fresh("c_desc")
    engine.execute("create table main.c_desc (id INT, v STRING) using parquet")
    val d = engine.execute("describe main.c_desc").df
    assert(d.schema.fieldNames.toSeq == Seq("column_name", "column_type", "null"))
    assert(d.collect().map(_.toString).toSeq ==
      Seq("[id,INTEGER,YES]", "[v,VARCHAR,YES]"))
    engine.execute("drop table main.c_desc")
    // PG current_setting shim answers the common GUCs
    assert(one("select current_setting('search_path') as p") == "[main]")
  }

  test("concurrent INSERT jobs into one unconstrained table: every row lands, zero errors") {
    // pre-r15 the append read-lock was taken AFTER txnExec had already
    // executed the write eagerly, so concurrent INSERT jobs shared the
    // committer's _temporary staging and killed each other's tasks —
    // this asserts the append mutex + pre-exec lock placement
    fresh("c_capp")
    engine.execute("create table main.c_capp (id INT) using parquet")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = (0 until 4).map(_ => java.util.concurrent.Executors.newSingleThreadExecutor())
    val futures = pool.zipWithIndex.map { case (ex, w) =>
      ex.submit(new Runnable {
        def run(): Unit = for (i <- 0 until 10) {
          try engine.execute(s"insert into main.c_capp values (${w * 100 + i})")
          catch { case e: Throwable => errors.add(String.valueOf(e.getMessage)) }
        }
      })
    }
    futures.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    pool.foreach(_.shutdown())
    assert(errors.isEmpty, s"append errors: ${errors.toArray.mkString("; ")}")
    val rows = engine.execute("select count(*) as n, count(distinct id) as d from main.c_capp")
      .df.collect().head
    assert(rows.getLong(0) == 40 && rows.getLong(1) == 40,
      s"expected 40 distinct rows, got $rows")
    engine.execute("drop table main.c_capp")
  }

  test("FORCE CHECKPOINT racing writers: no deadlock, no lost rows, declared aborts only") {
    fresh("c_ckc")
    engine.execute("create table main.c_ckc (id INT) using parquet")
    val committed = new java.util.concurrent.atomic.AtomicInteger(0)
    val badErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def declaredAbort(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("")
      // both serialization spellings (read-path "could not serialize",
      // commit-path "serialization conflict") are the declared class
      m.contains("serializ") || m.contains("aborted")
    }
    // 3 append writers (auto-commit, read-lock path) + 2 txn writers
    // (BEGIN/INSERT/COMMIT, pin path) + 1 FORCE CHECKPOINT loop — each
    // on its own thread (engine txn state is per-thread)
    val pool = (0 until 6).map(_ => java.util.concurrent.Executors.newSingleThreadExecutor())
    val futures = new scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
    for (w <- 0 until 3) futures += pool(w).submit(new Runnable {
      def run(): Unit = for (i <- 0 until 12) {
        try { engine.execute(s"insert into main.c_ckc values (${w * 1000 + i})"); committed.incrementAndGet() }
        catch { case e: Throwable => if (!declaredAbort(e)) badErrors.add(s"append: ${e.getMessage}") }
      }
    })
    for (w <- 3 until 5) futures += pool(w).submit(new Runnable {
      def run(): Unit = for (i <- 0 until 8) {
        try {
          engine.execute("begin")
          engine.execute(s"insert into main.c_ckc values (${w * 1000 + i})")
          engine.execute("commit")
          committed.incrementAndGet()
        } catch {
          case e: Throwable =>
            if (!declaredAbort(e)) badErrors.add(s"txn: ${e.getMessage}")
            try engine.execute("rollback") catch { case _: Throwable => }
        }
      }
    })
    futures += pool(5).submit(new Runnable {
      def run(): Unit = for (_ <- 0 until 10) {
        try engine.execute("force checkpoint")
        catch { case e: Throwable => badErrors.add(s"checkpoint: ${e.getMessage}") }
        Thread.sleep(50)
      }
    })
    // watchdog: everything must finish — a deadlock in the compaction
    // write lock vs the append/commit lock order would hang here
    futures.foreach(f => f.get(180, java.util.concurrent.TimeUnit.SECONDS))
    pool.foreach(_.shutdown())
    assert(badErrors.isEmpty, s"undeclared errors: ${badErrors.toArray.mkString("; ")}")
    val rows = engine.execute("select count(*) as n from main.c_ckc")
      .df.collect().head.getLong(0)
    assert(rows == committed.get(),
      s"committed ${committed.get()} inserts but table has $rows rows")
    engine.execute("drop table main.c_ckc")
  }

  test("CREATE MACRO: scalar/table, defaults+named args, temp privacy, literal safety") {
    def one(sql: String): String =
      engine.execute(sql).df.collect().head.toString
    engine.execute("drop macro if exists madd")
    engine.execute("drop macro if exists mfull")
    engine.execute("drop macro if exists mtab")
    // scalar macro over a real table column
    fresh("c_mac")
    engine.execute("create table main.c_mac (k INT) using parquet")
    engine.execute("insert into main.c_mac values (1), (2)")
    engine.execute("create macro madd(a, b) as a + b")
    assert(one("select madd(k, 100) as v from main.c_mac order by k limit 1") == "[101]")
    engine.execute("drop table main.c_mac")
    // composition: a macro calling a macro, plus defaults and := named
    // args — DuckDB's model (measured): a defaulted param is
    // named-ONLY, a plain param is positional-ONLY
    engine.execute("create macro mfull(x, y := 10) as madd(x, y) * 2")
    assert(one("select mfull(1) as v") == "[22]")
    assert(one("select mfull(1, y := 5) as v") == "[12]")
    val posOnDflt = intercept[IllegalArgumentException] {
      engine.execute("select mfull(1, 2)")
    }
    assert(posOnDflt.getMessage.contains("positional"))
    val namedOnPos = intercept[IllegalArgumentException] {
      engine.execute("select mfull(y := 5, x := 1)")
    }
    assert(namedOnPos.getMessage.contains("does not have default parameter"))
    // table macro in FROM position, user-aliased and bare
    engine.execute("create macro mtab(n) as table select id from range(n)")
    assert(one("select count(*) as c from mtab(5)") == "[5]")
    assert(one("select max(z.id) as m from mtab(4) z") == "[3]")
    // OR REPLACE rebinding; plain CREATE on an existing name refused
    engine.execute("create or replace macro madd(a, b) as a - b")
    assert(one("select madd(10, 4) as v") == "[6]")
    val dup = intercept[IllegalArgumentException] {
      engine.execute("create macro madd(a) as a")
    }
    assert(dup.getMessage.contains("already exists"))
    // refusals: builtin-name shadowing, arity, missing param, recursion
    val builtin = intercept[IllegalArgumentException] {
      engine.execute("create macro abs(a) as a")
    }
    assert(builtin.getMessage.contains("function with that name"))
    val arity = intercept[IllegalArgumentException] {
      engine.execute("select madd(1, 2, 3)")
    }
    assert(arity.getMessage.contains("argument"))
    val missing = intercept[IllegalArgumentException] {
      engine.execute("select mfull(y := 5)")
    }
    assert(missing.getMessage.contains("positional"))
    engine.execute("create macro mrec(a) as mrec(a) + 1")
    val rec = intercept[IllegalArgumentException] { engine.execute("select mrec(1)") }
    assert(rec.getMessage.contains("recursive"))
    engine.execute("drop macro mrec")
    // literal safety: a call-shaped string stays data; a param name in
    // the body's own literal stays text
    assert(one("select 'madd(1,2)' as s") == "[madd(1,2)]")
    engine.execute("create or replace macro mlit(a) as concat('a=', cast(a as string))")
    assert(one("select mlit(7) as s") == "[a=7]")
    engine.execute("drop macro mlit")
    // temp macro: connection-private, shadows the persistent name
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    def b(sql: String): Either[Throwable, String] =
      exec.submit(() =>
        try Right(Option(engine.execute(sql).df)
          .map(_.collect().head.toString).getOrElse(""))
        catch { case e: Throwable => Left(e) }).get()
    try {
      assert(b("create temp macro madd(a, b) as a * b").isRight)
      assert(b("select madd(3, 4) as v") == Right("[12]")) // temp-first
      assert(one("select madd(3, 4) as v") == "[-1]")      // this conn: persistent (a - b)
      assert(b("drop macro madd").isRight)                 // removes the TEMP one first
      assert(b("select madd(3, 4) as v") == Right("[-1]")) // back to persistent
    } finally exec.shutdown()
    // DROP MACRO: gone means gone
    engine.execute("drop macro mfull")
    engine.execute("drop macro mtab")
    engine.execute("drop macro madd")
    val gone = intercept[Exception] { engine.execute("select madd(1, 2)") }
    assert(gone.getMessage.toLowerCase.contains("madd"))
    val dropGone = intercept[IllegalArgumentException] { engine.execute("drop macro madd") }
    assert(dropGone.getMessage.contains("does not exist"))
  }

  test("CREATE TABLE IF NOT EXISTS with constraints: created, enforced, no-op on repeat") {
    fresh("c_ine")
    // pre-fix the constrained IF NOT EXISTS form fell through to raw
    // Spark (the intercept excluded `if`), which cannot parse PRIMARY
    // KEY → UNSUPPORTED_FEATURE (r15 soak find)
    engine.execute("create table if not exists main.c_ine (k INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("insert into main.c_ine values (1, 'a')")
    val dup = intercept[IllegalArgumentException] {
      engine.execute("insert into main.c_ine values (1, 'b')")
    }
    assert(dup.getMessage.contains("unique") || dup.getMessage.contains("duplicate"))
    // repeat is a no-op: content and constraints survive
    engine.execute("create table if not exists main.c_ine (k INT PRIMARY KEY, v STRING) using parquet")
    assert(spark.table("main.c_ine").count() == 1)
    val dup2 = intercept[IllegalArgumentException] {
      engine.execute("insert into main.c_ine values (1, 'c')")
    }
    assert(dup2.getMessage.contains("unique") || dup2.getMessage.contains("duplicate"))
    // in-txn: IF NOT EXISTS of a name this txn created is a no-op too
    engine.execute("begin")
    engine.execute("create table if not exists main.c_ine (k INT PRIMARY KEY) using parquet")
    engine.execute("commit")
    assert(spark.table("main.c_ine").count() == 1)
    engine.execute("drop table main.c_ine")
  }

  test("concurrent same-key PK inserts admit exactly one (TOCTOU closed)") {
    fresh("c_race")
    engine.execute("create table main.c_race (id INT PRIMARY KEY, v STRING) using parquet")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val results = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          try { engine.execute(s"insert into main.c_race values (7, 'w$i')"); true }
          catch { case _: IllegalArgumentException => false }
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(outcomes.count(identity) == 1, s"expected exactly one insert to win, got $outcomes")
    assert(spark.table("main.c_race").count() == 1)
    engine.execute("drop table main.c_race")
  }

  test("qualified and bare table names serialize on the same lock") {
    fresh("c_qrace")
    engine.execute("create table main.c_qrace (id INT PRIMARY KEY, v STRING) using parquet")
    // bare-name resolution (and the engine's qualify()) follow the
    // session's current schema — enter main the way a client would
    val prevDb = spark.catalog.currentDatabase
    spark.catalog.setCurrentDatabase("main")
    try {
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    // one writer uses 'c_qrace', the other 'main.c_qrace' — the lock
    // keys on the qualified name, so this is the same race as above
    val stmts = Seq("insert into c_qrace values (7, 'bare')",
                    "insert into main.c_qrace values (7, 'qual')")
    val results = stmts.map { s =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          try { engine.execute(s); true }
          catch { case _: IllegalArgumentException => false }
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(outcomes.count(identity) == 1, s"expected exactly one insert to win, got $outcomes")
    assert(spark.table("main.c_qrace").count() == 1)
    engine.execute("drop table main.c_qrace")
    } finally spark.catalog.setCurrentDatabase(prevDb)
  }

  test("COPY TO/FROM file refused when file I/O is disabled") {
    val locked = new Engine(spark, allowFileIo = false)
    val e = intercept[SecurityException] {
      locked.execute("copy (select 1 as x) to '/tmp/graft_spec_denied.csv'")
    }
    assert(e.getMessage.contains("--allow-file-io"))
    intercept[SecurityException] {
      locked.execute("copy main.c_nnu from '/tmp/never_read.csv'")
    }
  }

  test("COPY TO with PARTITION_BY writes a hive-partitioned layout") {
    val out = Files.createTempDirectory("graft-copy-part").toFile
    engine.execute(
      s"copy (select r_regionkey, r_name from parquet.`$sf/region.parquet`) to '${out.getAbsolutePath}' (format parquet, partition_by (r_regionkey))")
    val parts = out.listFiles().filter(_.getName.startsWith("r_regionkey="))
    assert(parts.length == 5, s"expected 5 partition dirs, got ${parts.map(_.getName).mkString(",")}")
    assert(spark.read.parquet(out.getAbsolutePath).count() == 5)
  }

  test("users + constraints survive an engine restart via --db_path files") {
    val tmp = Files.createTempDirectory("graft-db").toFile.getAbsolutePath
    val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e1.execute("create user persisted_user with password 'pw123'")
    e1.execute("drop table if exists main.c_persist")
    e1.execute("create table main.c_persist (k INT PRIMARY KEY, v STRING) using parquet")
    e1.execute("insert into main.c_persist values (1, 'x')")

    val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e2.loadPersisted()
    assert(e2.users.containsKey("persisted_user"))
    // constraint knowledge restored: duplicate PK still rejected
    intercept[IllegalArgumentException] {
      e2.execute("insert into main.c_persist values (1, 'dup')")
    }
    e2.execute("drop table main.c_persist")
  }

  test("in-txn schema DDL: unsupported spellings reject binder-class, not auto-commit") {
    val e = new Engine(spark)
    e.execute("begin")
    // quoted multi-word name — falls outside the transactional regexes;
    // must reject with a clear error, not silently auto-commit (ADVICE r13)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      e.execute("""create schema "weird name"""")
    }
    assert(bad.getMessage.contains("inside a transaction"))
    val auth = intercept[org.apache.spark.sql.AnalysisException] {
      e.execute("create schema s_auth authorization bob")
    }
    assert(auth.getMessage.contains("inside a transaction"))
    // binder-class: the block stays usable, plain ROLLBACK succeeds
    e.execute("select 1")
    e.execute("rollback")
    // DROP SCHEMA … CASCADE keeps its declared auto-commit path
    e.execute("create schema tsg_casc")
    e.execute("begin")
    e.execute("drop schema tsg_casc cascade")
    val rb = intercept[IllegalArgumentException] { e.execute("rollback") }
    assert(rb.getMessage.contains("cannot undo DDL"))
    assert(!spark.catalog.databaseExists("tsg_casc"))
  }

  test("crash-stranded in-txn CREATE SCHEMA reclaims at boot if still empty") {
    val tmp = Files.createTempDirectory("graft-db").toFile.getAbsolutePath
    val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e1.execute("begin")
    e1.execute("create schema tsg_orphan")
    assert(spark.catalog.databaseExists("tsg_orphan"))
    // the write-ahead compensation marker exists while the txn is open
    val marker = new java.io.File(tmp, "pending_schema_tsg_orphan.marker")
    assert(marker.exists())
    // simulate kill -9: no ROLLBACK ever runs; a fresh engine boots
    val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e2.loadPersisted()
    assert(!spark.catalog.databaseExists("tsg_orphan"),
      "boot recovery must drop the empty orphan schema")
    assert(!marker.exists(), "boot recovery must consume the marker")
    // clear e1's dangling txn state on this thread
    e1.rollbackDanglingTxn()
    // COMMIT consumes the marker — a later restart keeps the schema
    val e3 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e3.execute("begin")
    e3.execute("create schema tsg_kept")
    e3.execute("commit")
    assert(!new java.io.File(tmp, "pending_schema_tsg_kept.marker").exists())
    val e4 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e4.loadPersisted()
    assert(spark.catalog.databaseExists("tsg_kept"))
    e4.execute("drop schema tsg_kept")
  }

  test("INSERT ON CONFLICT: DO UPDATE merges, DO NOTHING skips, null keys insert") {
    fresh("oc_t")
    engine.execute("create table main.oc_t (k INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("insert into main.oc_t values (1,'a'),(2,'b')")
    val up = engine.execute(
      "insert into main.oc_t values (2,'B2'),(3,'c') on conflict (k) do update set v = excluded.v")
    assert(up.tag == "INSERT 0 2")
    val after1 = spark.table("main.oc_t").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(after1.toSeq == Seq(1 -> "a", 2 -> "B2", 3 -> "c"))
    engine.execute("insert into main.oc_t values (3,'zz'),(4,'d') on conflict do nothing")
    val after2 = spark.table("main.oc_t").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(after2.toSeq == Seq(1 -> "a", 2 -> "B2", 3 -> "c", 4 -> "d"))
    engine.execute("drop table main.oc_t")
  }

  test("ON CONFLICT with a multi-column conflict target") {
    fresh("oc_mc")
    engine.execute("create table main.oc_mc (a INT, b INT, v STRING, PRIMARY KEY (a, b)) using parquet")
    engine.execute("insert into main.oc_mc values (1, 1, 'x'), (1, 2, 'y')")
    engine.execute(
      "insert into main.oc_mc values (1, 2, 'Y2'), (2, 1, 'z') on conflict (a, b) do update set v = excluded.v")
    val rows = spark.table("main.oc_mc").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sortBy(t => (t._1, t._2))
    assert(rows.toSeq == Seq((1, 1, "x"), (1, 2, "Y2"), (2, 1, "z")))
    // DO NOTHING defaults the target to the declared composite PK
    engine.execute("insert into main.oc_mc values (2, 1, 'dup'), (3, 3, 'w') on conflict do nothing")
    assert(spark.table("main.oc_mc").count() == 4)
    assert(spark.table("main.oc_mc").filter("a = 2 and b = 1").head().getString(2) == "z")
    engine.execute("drop table main.oc_mc")
  }

  test("ON CONFLICT DO UPDATE WHERE updates only passing conflicts (DuckDB semantics)") {
    fresh("oc_w")
    engine.execute("create table main.oc_w (k INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("insert into main.oc_w values (1,'a'),(2,'b')")
    // (1) conflicts and passes WHERE → updated; (2) conflicts but fails
    // → row kept as-is AND excluded from the count; (3) inserts.
    // DuckDB reports count 2 for this exact battery (updated+inserted).
    val r = engine.execute(
      "insert into main.oc_w values (1,'A'),(2,'B'),(3,'c') on conflict (k) do update set v = excluded.v where oc_w.v = 'a'")
    assert(r.tag == "INSERT 0 2", r.tag)
    val rows = spark.table("main.oc_w").collect()
      .map(x => (x.getInt(0), x.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(1 -> "A", 2 -> "b", 3 -> "c"))
    // a WHERE containing its own subquery-WHERE still splits correctly
    engine.execute(
      "insert into main.oc_w values (3,'z') on conflict (k) do update set v = (select max(v) from (select v from main.oc_w where v = 'A')) where oc_w.v = 'c'")
    assert(spark.table("main.oc_w").filter("k = 3").head().getString(1) == "A")
    // duplicate source keys raise even when the WHERE would filter them
    val e = intercept[IllegalArgumentException] {
      engine.execute(
        "insert into main.oc_w values (1,'x'),(1,'y') on conflict (k) do update set v = excluded.v where false")
    }
    assert(e.getMessage.contains("duplicate key"), e.getMessage)
    engine.execute("drop table main.oc_w")
  }

  test("ON CONFLICT edge semantics: null keys, counts, constraint checks") {
    fresh("oc_edge")
    engine.execute(
      "create table main.oc_edge (k INT, u INT UNIQUE, v STRING NOT NULL) using parquet")
    engine.execute("insert into main.oc_edge values (1, 10, 'a')")
    // NULL conflict keys never collide: both rows insert
    val nulls = engine.execute(
      "insert into main.oc_edge (k, u, v) values (NULL, 20, 'b'), (NULL, 21, 'c') on conflict (k) do nothing")
    assert(nulls.tag == "INSERT 0 2", s"got ${nulls.tag}")
    // DO NOTHING reports only the rows actually appended
    val partial = engine.execute(
      "insert into main.oc_edge values (1, 30, 'dup-k'), (2, 31, 'd') on conflict (k) do nothing")
    assert(partial.tag == "INSERT 0 1", s"got ${partial.tag}")
    assert(spark.table("main.oc_edge").count() == 4)
    // non-target constraints still enforced on the insert path
    intercept[IllegalArgumentException] {
      engine.execute("insert into main.oc_edge values (9, 10, 'dup-u') on conflict (k) do nothing")
    }
    intercept[IllegalArgumentException] {
      engine.execute("insert into main.oc_edge values (9, 99, NULL) on conflict (k) do nothing")
    }
    // multiple NULLs in a UNIQUE column are legal
    engine.execute("insert into main.oc_edge values (7, NULL, 'n1'), (8, NULL, 'n2')")
    assert(spark.table("main.oc_edge").count() == 6)
    engine.execute("drop table main.oc_edge")
  }

  test("ON CONFLICT duplicate source keys raise under DO UPDATE and DO NOTHING (DuckDB 1.0)") {
    fresh("oc_dup")
    engine.execute("create table main.oc_dup (k INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("insert into main.oc_dup values (1,'a')")
    // DuckDB 1.0 (probed): a duplicate key WITHIN the batch raises
    // 'PRIMARY KEY or UNIQUE constraint violated: duplicate key' under
    // BOTH arms — it never picks a SET image or keeps the first row
    // (PG would keep-first under DO NOTHING; the reference's engine
    // does not)
    val e = intercept[IllegalArgumentException] {
      engine.execute(
        "insert into main.oc_dup values (1,'x'),(1,'y') on conflict (k) do update set v = excluded.v")
    }
    assert(e.getMessage.contains("duplicate key"), e.getMessage)
    assert(spark.table("main.oc_dup").count() == 1) // nothing written
    val e2 = intercept[IllegalArgumentException] {
      engine.execute(
        "insert into main.oc_dup values (2,'first'),(2,'second'),(2,'third') on conflict (k) do nothing")
    }
    assert(e2.getMessage.contains("duplicate key"), e2.getMessage)
    assert(spark.table("main.oc_dup").count() == 1) // nothing written
    engine.execute("drop table main.oc_dup")
  }

  test("bare and spaced SEMI/ANTI JOIN return the LEFT SEMI/ANTI rows") {
    fresh("sa_l"); fresh("sa_r")
    engine.execute("create table main.sa_l (id INT, v VARCHAR)")
    engine.execute("create table main.sa_r (id INT)")
    try {
      engine.execute("insert into main.sa_l values (1, 'a'), (2, 'b'), (3, 'c')")
      engine.execute("insert into main.sa_r values (2), (3), (3)")
      def rows(join: String): Seq[String] = engine.execute(
        s"select * from main.sa_l $join main.sa_r on sa_l.id = sa_r.id").df.collect().toSeq
        .map(_.toString).sorted
      val semi = rows("LEFT SEMI JOIN")
      val anti = rows("LEFT ANTI JOIN")
      assert(semi == Seq("[2,b]", "[3,c]") && anti == Seq("[1,a]"))
      Seq("SEMI JOIN", "semi /**/ join", "LEFT  SEMI JOIN", "LEFT\nSEMI JOIN").foreach(j =>
        assert(rows(j) == semi, j))
      Seq("ANTI JOIN", "anti join", "LEFT  ANTI JOIN", "LEFT\nANTI JOIN").foreach(j =>
        assert(rows(j) == anti, j))
    } finally Seq("sa_l", "sa_r").foreach(t => engine.execute(s"drop table if exists main.$t"))
  }

  test("view journal survives drop-then-create (trailing newline kept)") {
    val tmp = Files.createTempDirectory("graft-vj").toFile.getAbsolutePath
    spark.sql("CREATE DATABASE IF NOT EXISTS main") // order-independent
    val e = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e.execute("create or replace view main.vj1 as select 1 as x")
    e.execute("create or replace view main.vj2 as select 2 as x")
    e.execute("drop view main.vj1")
    e.execute("create or replace view main.vj3 as select 3 as x")
    val journal = scala.io.Source.fromFile(s"$tmp/views.sql").getLines().toList
    assert(journal.size == 2, s"journal: $journal")
    assert(journal.forall(l => l.contains("vj2") || l.contains("vj3")))
    e.execute("drop view main.vj2")
    e.execute("drop view main.vj3")
  }

  test("DROP TABLE clears the constraint registry (re-create inherits nothing)") {
    fresh("c_redo")
    engine.execute("create table main.c_redo (k INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("insert into main.c_redo values (1,'a')")
    engine.execute("drop table main.c_redo")
    engine.execute("create table main.c_redo (k INT, v STRING) using parquet")
    engine.execute("insert into main.c_redo values (1,'a')")
    engine.execute("insert into main.c_redo values (1,'b')") // no PK anymore: must succeed
    assert(spark.table("main.c_redo").count() == 2)
    engine.execute("drop table main.c_redo")
  }

  test("EXPLAIN ANALYZE returns the executed plan") {
    val res = engine.execute("explain analyze select 1 as one")
    val text = res.df.collect().map(_.getString(0)).mkString("\n")
    assert(text.contains("Project") || text.contains("Scan"), s"unexpected plan: $text")
  }

  test("8-thread mixed insert/update storm keeps constrained-table invariants") {
    fresh("c_storm")
    engine.execute("create table main.c_storm (id INT PRIMARY KEY, v STRING) using parquet")
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val futures = (0 until 8).map { t =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          var ok = 0
          (0 until 5).foreach { i =>
            val k = t * 100 + i
            try { engine.execute(s"insert into main.c_storm values ($k, 'w$t')"); ok += 1 }
            catch { case _: IllegalArgumentException => }
            if (i == 2 && t % 2 == 0)
              engine.execute(s"update main.c_storm set v = 'u$t' where id = $k")
          }
          ok
        }
      })
    }
    start.countDown()
    val inserted = futures.map(_.get(300, TimeUnit.SECONDS)).sum
    pool.shutdown()
    assert(inserted == 40, s"expected all 40 distinct-key inserts to succeed, got $inserted")
    assert(spark.table("main.c_storm").count() == 40)
    // PK invariant held throughout: ids unique
    assert(spark.table("main.c_storm").select("id").distinct().count() == 40)
    engine.execute("drop table main.c_storm")
  }

  test("TSV unescape is a single left-to-right pass (backslash-t stays literal)") {
    assert(Formats.unescapeTsv("a\\tb") == "a\tb")
    assert(Formats.unescapeTsv("a\\\\tb") == "a\\tb") // wire \\t = literal backslash + t
    assert(Formats.unescapeTsv("a\\\\\\tb") == "a\\\tb")
    assert(Formats.unescapeTsv("plain") == "plain")
  }

  test("TSV escape/unescape round-trips arbitrary control-char strings") {
    val gen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('\t', '\n', '\r', '\\', 'Ω')))
      .map(_.mkString)
    val prop = Prop.forAll(gen) { s =>
      val escaped = {
        // same escaping the writer applies (Formats.esc is private):
        s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n").replace("\r", "\\r")
      }
      Formats.unescapeTsv(escaped) == s
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("SUMMARIZE emits DuckDB's 12-column profile; FROM-first queries run") {
    val r = engine.execute(s"summarize select * from parquet.`$sf/region.parquet`")
    assert(r.df.columns.toSeq == Seq("column_name", "column_type", "min", "max",
      "approx_unique", "avg", "std", "q25", "q50", "q75", "count", "null_percentage"))
    val rows = r.df.collect()
    assert(rows.length == spark.read.parquet(s"$sf/region.parquet").columns.length)
    val key = rows.find(_.getString(0) == "r_regionkey").get
    assert(key.getString(1) == "INTEGER", key.getString(1))
    assert(key.getString(2) == "0" && key.getString(3) == "4")
    assert(key.getLong(10) == 5)
    assert(key.getDecimal(11).toPlainString == "0.00")
    val name = rows.find(_.getString(0) == "r_name").get
    assert(name.getString(5) == null) // no avg for VARCHAR
    // FROM-first forms (DuckDB syntax): bare, with WHERE, with SELECT list
    assert(engine.execute(s"from parquet.`$sf/region.parquet`").df.count() == 5)
    assert(engine.execute(s"from parquet.`$sf/region.parquet` where r_regionkey > 2").df.count() == 2)
    val sel = engine.execute(s"from parquet.`$sf/region.parquet` select r_name, r_regionkey where r_regionkey = 0").df.collect()
    assert(sel.head.getString(0) == "AFRICA")
    // string-protected: a FROM inside a literal in a normal query is untouched
    assert(Engine.rewriteLeadingFrom("select 'from x' as s") == "select 'from x' as s")
  }

  test("sequences: nextval/currval semantics, options, persistence") {
    engine.execute("drop sequence if exists main.sq1")
    engine.execute("create sequence main.sq1")
    // each textual occurrence allocates (DuckDB: 1,2 in one row)
    val two = engine.execute("select nextval('main.sq1') as a, nextval('main.sq1') as b").df.head()
    assert((two.getLong(0), two.getLong(1)) == (1L, 2L))
    assert(engine.execute("select currval('main.sq1')").df.head().getLong(0) == 2L)
    // VALUES: one allocation per occurrence per tuple
    fresh("sq_t")
    engine.execute("create table main.sq_t (k BIGINT, v STRING) using parquet")
    engine.execute("insert into main.sq_t values (nextval('main.sq1'),'a'),(nextval('main.sq1'),'b')")
    assert(spark.table("main.sq_t").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    // START WITH / INCREMENT BY
    engine.execute("drop sequence if exists main.sq2")
    engine.execute("create sequence main.sq2 start with 10 increment by 5")
    val t2 = engine.execute("select nextval('main.sq2') as a, nextval('main.sq2') as b").df.head()
    assert((t2.getLong(0), t2.getLong(1)) == (10L, 15L))
    // duplicate create raises; IF NOT EXISTS does not
    intercept[IllegalArgumentException](engine.execute("create sequence main.sq1"))
    engine.execute("create sequence if not exists main.sq1")
    // currval before any nextval raises (fresh sequence)
    engine.execute("drop sequence if exists main.sq3")
    engine.execute("create sequence main.sq3")
    val e = intercept[IllegalArgumentException](engine.execute("select currval('main.sq3')"))
    assert(e.getMessage.contains("not yet defined"))
    // nextval over a distributed INSERT...SELECT: contiguous range
    // allocated under the table lock, applied in the statement's ORDER
    // BY order (counter was at 4 after the VALUES insert above)
    engine.execute("insert into main.sq_t select nextval('main.sq1'), r_name from parquet.`" +
      sf + "/region.parquet` order by r_name")
    val got = spark.table("main.sq_t").filter("k >= 5").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val names = spark.read.parquet(s"$sf/region.parquet").collect()
      .map(_.getString(1)).sorted.toSeq
    assert(got == (5L to 9L).zip(names), got)
    assert(engine.execute("select currval('main.sq1')").df.head().getLong(0) == 9L)
    // multiple nextval calls per row over SELECT stay rejected
    val e2 = intercept[IllegalArgumentException](engine.execute(
      "insert into main.sq_t select nextval('main.sq1'), cast(nextval('main.sq1') as string) from parquet.`" +
        sf + "/region.parquet`"))
    assert(e2.getMessage.contains("one call"), e2.getMessage)
    // persistence: counters survive an engine restart via --db_path
    val tmp = Files.createTempDirectory("graft-seq").toFile.getAbsolutePath
    val e3 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e3.execute("create sequence main.psq start with 7")
    e3.execute("select nextval('main.psq')") // 7 allocated
    val e4 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e4.loadPersisted()
    assert(e4.execute("select nextval('main.psq')").df.head().getLong(0) == 8L)
    engine.execute("drop sequence main.sq1")
    engine.execute("drop sequence main.sq2")
    engine.execute("drop sequence main.sq3")
    engine.execute("drop table main.sq_t")
  }

  test("nextval in a transactional CTAS counts as one rollback-able write") {
    engine.execute("drop sequence if exists main.sq_txn")
    engine.execute("create sequence main.sq_txn")
    fresh("sq_txn_t")
    try {
      engine.execute("begin")
      engine.execute("create table main.sq_txn_t as select nextval('main.sq_txn') as x")
      // the nextval pass re-dispatches the rewritten text; the staged
      // CTAS must still count once, as a write ROLLBACK can undo
      engine.execute("rollback")
      assert(!spark.catalog.tableExists("main.sq_txn_t"))
      assert(engine.execute("select table_name from information_schema.tables " +
        "where table_name = 'sq_txn_t'").df.collect().isEmpty)
    } finally {
      engine.rollbackDanglingTxn()
      engine.execute("drop table if exists main.sq_txn_t")
      engine.execute("drop sequence if exists main.sq_txn")
    }
  }

  // -- wire-path dialect constructs Spark's parser rejects -------------------
  // The reference forwards these verbatim to DuckDB (pg_conn.go:314);
  // here Engine.rewrite hoists them into standard SQL, so the SAME text
  // a psql/JDBC client types round-trips through execute().

  test("QUALIFY round-trips through the SQL path (inline window and alias forms)") {
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("wq_orders")
    // inline window in QUALIFY
    val r1 = engine.execute(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM wq_orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) = 1
        |ORDER BY o_custkey LIMIT 50""".stripMargin).df.collect()
    assert(r1.length == 50)
    assert(r1.map(_.getLong(0)).distinct.length == 50) // one row per custkey
    assert(!r1.head.schema.fieldNames.contains("__graft_qualify"))
    // alias reference in QUALIFY
    val r2 = engine.execute(
      """SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |FROM wq_orders QUALIFY rn <= 2 ORDER BY o_custkey, rn LIMIT 10""".stripMargin).df.collect()
    assert(r2.length == 10 && r2.forall(_.getInt(1) <= 2))
    // bare QUALIFY with no tail
    assert(engine.execute(
      "SELECT o_custkey FROM wq_orders QUALIFY row_number() OVER (ORDER BY o_orderkey) <= 3")
      .df.count() == 3)
  }

  test("DISTINCT ON round-trips through the SQL path") {
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("wd_orders")
    val rows = engine.execute(
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        |FROM wd_orders
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 40""".stripMargin).df.collect()
    assert(rows.length == 40)
    assert(rows.map(_.getLong(0)).distinct.length == 40)
    // each kept row is its customer's max-price order
    val maxes = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_custkey").agg(org.apache.spark.sql.functions.max("o_totalprice").as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(r.getDouble(2) == maxes(r.getLong(0))))
  }

  test("SIMILAR TO round-trips through the SQL path") {
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("ws_orders")
    val n = engine.execute(
      "SELECT count(*) AS n FROM ws_orders WHERE o_orderpriority SIMILAR TO '[1-3]-[A-Z]+'")
      .df.head().getLong(0)
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority").rlike("^(?:[1-3]-[A-Z]+)$"))
      .count()
    assert(n == expect && n > 0)
    // NOT SIMILAR TO; partial match is NOT enough (full-string anchor)
    val m = engine.execute(
      "SELECT count(*) AS n FROM ws_orders WHERE o_orderpriority NOT SIMILAR TO '[0-9]'")
      .df.head().getLong(0)
    assert(m == spark.read.parquet(s"$sf/orders.parquet").count()) // '1-URGENT' !~ ^[0-9]$
  }

  test("UNION BY NAME round-trips through the SQL path") {
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("wu_nation")
    spark.read.parquet(s"$sf/region.parquet").createOrReplaceTempView("wu_region")
    val rows = engine.execute(
      """SELECT n_nationkey AS k, n_name AS v FROM wu_nation
        |UNION ALL BY NAME
        |SELECT r_name AS v, r_regionkey + 100 AS k FROM wu_region
        |ORDER BY k""".stripMargin).df.collect()
    assert(rows.length == 30)
    assert(rows.head.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(rows.last.getString(1) == "MIDDLE EAST" || rows.last.getLong(0) == 104L)
    // missing columns NULL-fill; UNION (no ALL) dedups
    val r2 = engine.execute(
      """SELECT 1 AS a, 'x' AS b
        |UNION BY NAME
        |SELECT 1 AS a
        |UNION BY NAME
        |SELECT 1 AS a""".stripMargin).df.collect()
    assert(r2.length == 2) // (1,'x') and (1,NULL) — third branch deduped
    // CTE prefix scopes over every branch
    val r3 = engine.execute(
      """WITH c AS (SELECT 7 AS x)
        |SELECT x AS a FROM c UNION ALL BY NAME SELECT x AS b, x AS a FROM c""".stripMargin)
      .df.collect()
    assert(r3.length == 2 && r3.head.schema.fieldNames.toSeq == Seq("a", "b"))
  }

  test("regexp_replace: duck first-match on the wire, Spark-global in the Column API") {
    // wire path: 3-arg replaces FIRST match only; 'g' restores global;
    // 'i' case-folds; \1 backrefs work
    val r = engine.execute(
      "SELECT regexp_replace('aaa','a','b') AS f, regexp_replace('aaa','a','b','g') AS g, " +
        "regexp_replace('AbA','a','x','gi') AS ci, " +
        "regexp_replace('a1','([a-z])([0-9])','\\2\\1') AS br").df.head()
    assert(r.getString(0) == "baa" && r.getString(1) == "bbb")
    assert(r.getString(2) == "xbx" && r.getString(3) == "1a")
    // Column API unaffected: functions.regexp_replace stays global
    import org.apache.spark.sql.functions.{lit => flit, regexp_replace => frr}
    val api = spark.range(1).select(frr(flit("aaa"), flit("a"), flit("b"))).head().getString(0)
    assert(api == "bbb", "Column-API regexp_replace lost Spark-global semantics")
  }

  test("GLOB operator translates to an anchored full-string match") {
    val r = engine.execute(
      "SELECT 'file.txt' GLOB '*.txt' AS a, 'file.txt' GLOB '*.csv' AS b, " +
        "'abc' GLOB 'a?c' AS c, 'abc' GLOB 'b*' AS d, 'a.c' GLOB 'a.c' AS e, " +
        "'axc' GLOB 'a.c' AS f").df.head()
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4) && !r.getBoolean(5), "glob '.' must be literal, not regex-any")
  }

  test("GLOB bracket sets, escapes and malformed patterns (DuckDB-probed)") {
    // wire spelling: PG/DuckDB literals carry backslashes verbatim, so
    // the raw glob pattern IS the wire text (the engine's literal
    // pre-pass handles Spark's unescaper)
    def g(s: String, p: String): Boolean =
      engine.execute(s"SELECT '$s' GLOB '$p' AS v").df.head().getBoolean(0)
    // sets + '!' negation
    assert(g("a", "[!bc]") && !g("b", "[!bc]"))
    assert(g("b", "[abc]") && !g("d", "[abc]"))
    assert(g("x", "[a-z]") && !g("X", "[a-z]"))
    assert(g("z", "[!a-y]") && !g("x", "[!a-y]"))
    // '^' NEVER negates — it is a literal member; '!' mid-set literal
    assert(g("^", "[^]") && g("b", "[^ab]") && !g("c", "[^ab]"))
    assert(g("!", "[a!]"))
    // literal '^' / '!' / '&' / ']' outside sets
    assert(g("a^b", "a^b") && g("a!b", "a!b") && g("a&b", "a&b") && g("a]b", "a]b"))
    // ']' as first member; '[' inside a set; leading '-' literal
    assert(g("]", "[]]") && g("[x]", "[[]x]"))
    assert(g("-", "[-a]") && g("a", "[-a]"))
    // '-' after a range is a literal member (fnmatch rule)
    assert(g("b", "[a-c-e]") && g("-", "[a-c-e]") && g("e", "[a-c-e]") && !g("d", "[a-c-e]"))
    // malformed: unclosed '[', '[!]', trailing '-' range → match NOTHING
    assert(!g("[", "[") && !g("a", "[a") && !g("!", "[!]") && !g("x", "[!]x"))
    assert(!g("a", "[a-]") && !g("-", "[a-]"))
    // backslash escapes: next char literal; trailing lone '\' fails
    assert(g("*", "\\*") && !g("x", "\\*") && g("x", "\\x") && g("a[b", "a\\[b"))
    assert(!g("\\", "\\") && g("a\\b", "a\\\\b"))
  }

  test("regexp_replace replacement backslash handling and 'c' option") {
    // '\\' in the replacement = ONE literal backslash; trailing lone
    // '\' also a literal backslash (neither may throw); 'ic' = 'c'
    // wins (case-sensitive again)
    val r = engine.execute(
      "SELECT regexp_replace('ab','b','x\\\\y') AS a, " +
        "regexp_replace('ab','b','x\\\\') AS b, " +
        "regexp_replace('AbA','a','x','ic') AS c, " +
        "regexp_replace('AbA','A','x','ci') AS d").df.head()
    assert(r.getString(0) == "ax\\y", s"got ${r.getString(0)}")
    assert(r.getString(1) == "ax\\", s"got ${r.getString(1)}")
    assert(r.getString(2) == "AbA", "'ic': trailing c must restore case sensitivity")
    assert(r.getString(3) == "xbA", "'ci': trailing i must win (case-insensitive, first match)")
  }

  test("CAST accepts DuckDB type spellings (VARCHAR/TEXT/JSON) including array-to-text") {
    val r = engine.execute(
      "SELECT CAST(42 AS VARCHAR) AS a, TRY_CAST('7' AS TEXT) AS b, " +
        "CAST([1, 2] AS VARCHAR) AS c, CAST(CAST(5 AS VARCHAR) AS BIGINT) AS d").df.head()
    assert(r.getString(0) == "42" && r.getString(1) == "7")
    assert(r.getString(2) == "[1, 2]", s"array cast rendered ${r.getString(2)}")
    assert(r.getLong(3) == 5L)
    // parameterized VARCHAR(n) still passes through untouched
    val r2 = engine.execute("SELECT CAST('abcdef' AS VARCHAR(3)) AS v").df.head()
    assert(r2.getString(0).startsWith("abc"))
  }

  test("PRAGMA compat shims: table_info, database_size, show_tables, version; ATTACH errors") {
    engine.execute("CREATE TABLE prag_t (a BIGINT PRIMARY KEY, b VARCHAR NOT NULL, c DOUBLE)")
    try {
      val ti = engine.execute("PRAGMA table_info('prag_t')").df.collect()
      assert(ti.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
      assert(ti.head.schema.fieldNames.toSeq ==
        Seq("cid", "name", "type", "notnull", "dflt_value", "pk"))
      val a = ti.find(_.getString(1) == "a").get
      assert(a.getString(2) == "BIGINT" && a.getBoolean(3) && a.getBoolean(5))
      val b = ti.find(_.getString(1) == "b").get
      assert(b.getString(2) == "VARCHAR" && b.getBoolean(3) && !b.getBoolean(5))
      val sz = engine.execute("PRAGMA database_size").df.head()
      assert(sz.schema.fieldNames.head == "database_name" && sz.getString(1).nonEmpty)
      val names = engine.execute("PRAGMA show_tables").df.collect().map(_.getString(0))
      assert(names.contains("prag_t"))
      assert(engine.execute("PRAGMA version").df.head().getString(0).startsWith("v"))
      // settings swallow like SET; unknown pragma and ATTACH error clearly
      assert(engine.execute("PRAGMA memory_limit='2GB'").tag == "SET")
      intercept[IllegalArgumentException] { engine.execute("PRAGMA no_such_pragma") }
      val e = intercept[UnsupportedOperationException] {
        engine.execute("ATTACH 'other.db' AS other") }
      assert(e.getMessage.contains("single warehouse"))
    } finally engine.execute("DROP TABLE IF EXISTS prag_t")
  }

  test("UPDATE of a referenced FK key restricts when children still reference it") {
    fresh("ufk_p"); fresh("ufk_c")
    engine.execute("create table main.ufk_p (id BIGINT PRIMARY KEY, nm VARCHAR) using parquet")
    engine.execute(
      "create table main.ufk_c (cid BIGINT, pid BIGINT REFERENCES main.ufk_p(id)) using parquet")
    try {
      engine.execute("insert into main.ufk_p values (1, 'a'), (2, 'b')")
      engine.execute("insert into main.ufk_c values (10, 1)")
      // changing the REFERENCED key away while a child points at it → reject
      val e = intercept[IllegalArgumentException] {
        engine.execute("update main.ufk_p set id = 99 where id = 1") }
      assert(e.getMessage.contains("still reference"), e.getMessage)
      // changing an unreferenced key passes; non-key updates pass
      engine.execute("update main.ufk_p set id = 20 where id = 2")
      engine.execute("update main.ufk_p set nm = 'A' where id = 1")
      val rows = spark.table("main.ufk_p").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(rows.toSeq == Seq(1L -> "A", 20L -> "b"))
    } finally Seq("ufk_c", "ufk_p").foreach(t => engine.execute(s"drop table if exists main.$t"))
  }

  test("DELETE restricts on referenced FK rows; WHERE-less DELETE works") {
    fresh("del_p"); fresh("del_c")
    engine.execute("create table main.del_p (id BIGINT PRIMARY KEY, nm VARCHAR) using parquet")
    engine.execute(
      "create table main.del_c (cid BIGINT, pid BIGINT, FOREIGN KEY (pid) REFERENCES main.del_p(id)) using parquet")
    try {
      engine.execute("insert into main.del_p values (1, 'a'), (2, 'b'), (3, 'c')")
      engine.execute("insert into main.del_c values (10, 1)")
      // deleting a referenced parent row → reject
      val e = intercept[IllegalArgumentException] {
        engine.execute("delete from main.del_p where id = 1") }
      assert(e.getMessage.contains("still referenced"), e.getMessage)
      // unreferenced parent rows delete fine
      assert(engine.execute("delete from main.del_p where id = 3").tag == "DELETE 1")
      // whole-child delete (no WHERE — the parse-hazard form), then parent clears
      assert(engine.execute("delete from main.del_c").tag == "DELETE 1")
      assert(engine.execute("delete from main.del_p").tag == "DELETE 2")
    } finally Seq("del_c", "del_p").foreach(t => engine.execute(s"drop table if exists main.$t"))
  }

  test("UPDATE re-validates constraints (PK collapse, CHECK, NOT NULL)") {
    fresh("upd_t")
    engine.execute(
      "create table main.upd_t (k BIGINT PRIMARY KEY, v BIGINT NOT NULL CHECK (v >= 0)) using parquet")
    engine.execute("insert into main.upd_t values (1, 10), (2, 20)")
    // collapse both PKs onto one value → reject
    intercept[IllegalArgumentException] {
      engine.execute("update main.upd_t set k = 7") }
    // CHECK violation via SET → reject; NOT NULL via SET → reject
    intercept[IllegalArgumentException] {
      engine.execute("update main.upd_t set v = -5 where k = 1") }
    intercept[IllegalArgumentException] {
      engine.execute("update main.upd_t set v = NULL where k = 1") }
    // a legal update still works
    engine.execute("update main.upd_t set v = 11 where k = 1")
    val rows = spark.table("main.upd_t").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.toSeq == Seq(1L -> 11L, 2L -> 20L))
    engine.execute("drop table main.upd_t")
  }

  test("CHECK constraints enforced on ingest (table-level and column-level)") {
    fresh("ck_t")
    engine.execute(
      "create table main.ck_t (a BIGINT CHECK (a > 0), b BIGINT, CHECK (b < 100)) using parquet")
    engine.execute("insert into main.ck_t values (1, 50)")
    val e1 = intercept[IllegalArgumentException] {
      engine.execute("insert into main.ck_t values (-1, 50)") }
    assert(e1.getMessage.contains("check constraint"), e1.getMessage)
    intercept[IllegalArgumentException] {
      engine.execute("insert into main.ck_t values (2, 200)") }
    // NULL check result passes (PG semantics)
    engine.execute("insert into main.ck_t values (3, NULL)")
    assert(spark.table("main.ck_t").count() == 2)
    engine.execute("drop table main.ck_t")
  }

  test("EXPORT DATABASE / IMPORT DATABASE round-trips tables, constraints and enums") {
    val dir = Files.createTempDirectory("graft-export").toFile.getAbsolutePath
    engine.execute("DROP TYPE IF EXISTS exp_kind")
    engine.execute("CREATE TYPE exp_kind AS ENUM ('a', 'b')")
    // a DEDICATED database: EXPORT dumps the whole current db, so any
    // leftover table in `main` (e.g. from a live-server probe sharing
    // target/warehouse) would be exported too and collide at IMPORT
    spark.sql("CREATE DATABASE IF NOT EXISTS expdb")
    spark.sql("DROP TABLE IF EXISTS expdb.exp_t")
    locally { // clear any stale warehouse dir for expdb.exp_t (cf. fresh())
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val d = new java.io.File(s"$wh/expdb.db/exp_t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      if (d.exists()) rm(d)
    }
    engine.execute(
      "create table expdb.exp_t (k BIGINT PRIMARY KEY, v VARCHAR NOT NULL, m exp_kind) using parquet")
    engine.execute("insert into expdb.exp_t values (1, 'x', 'a'), (2, 'y', 'b')")
    val prevDb = spark.catalog.currentDatabase
    spark.catalog.setCurrentDatabase("expdb")
    try {
      // the r15b additions DuckDB's own EXPORT also carries
      engine.execute("drop view if exists expdb.exp_v")
      engine.execute("drop macro if exists exp_mac")
      engine.execute("drop index if exists exp_idx")
      engine.execute("drop sequence if exists exp_seq")
      engine.execute("create view expdb.exp_v as select k + 1 as k1 from expdb.exp_t")
      engine.execute("create macro exp_mac(a, b := 5) as a * b")
      engine.execute("create index exp_idx on expdb.exp_t (v)")
      engine.execute("create sequence exp_seq start with 41")
      assert(engine.execute("select nextval('exp_seq') as n").df.head().getLong(0) == 41L)
      val ex = engine.execute(s"EXPORT DATABASE '$dir'")
      assert(ex.tag.startsWith("EXPORT"))
      val schema = new String(Files.readAllBytes(new java.io.File(dir, "schema.sql").toPath))
      assert(schema.contains("CREATE TYPE exp_kind AS ENUM"))
      assert(schema.contains("PRIMARY KEY (k)") && schema.contains("v VARCHAR NOT NULL"))
      assert(schema.contains("CREATE VIEW exp_v AS"))
      assert(schema.contains("CREATE MACRO exp_mac(a, b := 5) AS a * b"))
      assert(schema.contains("CREATE INDEX exp_idx ON exp_t (v)"))
      assert(schema.contains("CREATE SEQUENCE exp_seq START WITH 42"))
      assert(new java.io.File(dir, "exp_t.parquet").exists())
      // wipe and re-import
      engine.execute("drop view expdb.exp_v")
      engine.execute("drop macro exp_mac")
      engine.execute("drop index exp_idx")
      engine.execute("drop sequence exp_seq")
      engine.execute("drop table expdb.exp_t")
      engine.execute("DROP TYPE exp_kind")
      val im = engine.execute(s"IMPORT DATABASE '$dir'")
      assert(im.tag.startsWith("IMPORT"))
      val rows = spark.table("expdb.exp_t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "x", "a"), (2L, "y", "b")))
      // constraints live again after import: dup PK and bad enum rejected
      intercept[IllegalArgumentException] {
        engine.execute("insert into expdb.exp_t values (1, 'dup', 'a')") }
      intercept[IllegalArgumentException] {
        engine.execute("insert into expdb.exp_t values (3, 'z', 'nope')") }
      // the re-imported catalog extras answer: view reads through the
      // re-imported table, the macro binds, the sequence CONTINUES
      // from its exported position
      assert(engine.execute("select min(k1) as m from expdb.exp_v").df.head().getLong(0) == 2L)
      assert(engine.execute("select exp_mac(3) as v").df.head().getInt(0) == 15)
      assert(engine.execute("select nextval('exp_seq') as n").df.head().getLong(0) == 42L)
    } finally {
      spark.catalog.setCurrentDatabase(prevDb)
      engine.execute("drop view if exists expdb.exp_v")
      engine.execute("drop macro if exists exp_mac")
      engine.execute("drop index if exists exp_idx")
      engine.execute("drop sequence if exists exp_seq")
      engine.execute("drop table if exists expdb.exp_t")
      engine.execute("DROP TYPE IF EXISTS exp_kind")
    }
  }

  test("uuid type spelling and gen_random_uuid()") {
    val r = engine.execute(
      "SELECT gen_random_uuid() AS u, CAST('a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11' AS uuid) AS v").df.head()
    assert(r.getString(0).matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(r.getString(1) == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    // ::uuid spelling too
    assert(engine.execute("SELECT 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11'::uuid AS v")
      .df.head().getString(0).startsWith("a0eebc99"))
  }

  test("CREATE TYPE ... AS ENUM: membership enforced on ingest, casts resolve") {
    engine.execute("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    fresh("en_t")
    try {
      engine.execute("create table main.en_t (id INT, m mood) using parquet")
      engine.execute("insert into main.en_t values (1, 'ok'), (2, 'happy')")
      val e = intercept[IllegalArgumentException] {
        engine.execute("insert into main.en_t values (3, 'angry')") }
      assert(e.getMessage.contains("angry") && e.getMessage.contains("mood"), e.getMessage)
      assert(spark.table("main.en_t").count() == 2)
      // NULL passes; ::mood cast resolves to the storage type
      engine.execute("insert into main.en_t values (4, NULL)")
      val r = engine.execute("SELECT 'sad'::mood AS m").df.head()
      assert(r.getString(0) == "sad")
      // DROP TYPE: gone; IF EXISTS tolerant
      engine.execute("DROP TYPE mood")
      intercept[IllegalArgumentException] { engine.execute("DROP TYPE mood") }
      engine.execute("DROP TYPE IF EXISTS mood")
    } finally {
      engine.execute("drop table if exists main.en_t")
      engine.execute("DROP TYPE IF EXISTS mood")
    }
  }

  test("ALTER COLUMN TYPE rebuilds the table with the cast (and USING expr)") {
    fresh("alt_t")
    engine.execute("create table main.alt_t (k INT PRIMARY KEY, v STRING) using parquet")
    engine.execute("insert into main.alt_t values (1, '10'), (2, '20')")
    engine.execute("ALTER TABLE main.alt_t ALTER COLUMN v TYPE BIGINT")
    val sch = spark.table("main.alt_t").schema
    assert(sch("v").dataType == org.apache.spark.sql.types.LongType)
    assert(spark.table("main.alt_t").collect().map(_.getLong(1)).sorted.toSeq == Seq(10L, 20L))
    // USING expression form + DuckDB type spelling
    engine.execute("ALTER TABLE main.alt_t ALTER v SET DATA TYPE VARCHAR USING concat('x', v)")
    val vs = spark.table("main.alt_t").collect().map(_.getString(1)).sorted
    assert(vs.toSeq == Seq("x10", "x20"))
    // PK knowledge survives the rebuild
    intercept[IllegalArgumentException] {
      engine.execute("insert into main.alt_t values (1, 'dup')") }
    // unknown column errors cleanly
    val e = intercept[IllegalArgumentException] {
      engine.execute("ALTER TABLE main.alt_t ALTER COLUMN nope TYPE INT") }
    assert(e.getMessage.contains("does not exist"))
    engine.execute("drop table main.alt_t")
  }

  test("interval and time values get real OIDs and PG text renderings") {
    import graft.server.pg.PgTypes
    import org.apache.spark.sql.types._
    // OIDs: interval family → 1186, time → 1083 (no text fallback)
    assert(PgTypes.oidOf(DayTimeIntervalType()) == 1186)
    assert(PgTypes.oidOf(YearMonthIntervalType()) == 1186)
    assert(PgTypes.nameOf(1186, -1) == "interval")
    assert(PgTypes.nameOf(1083, -1) == "time without time zone")
    // DuckDB interval text (the reference returns DuckDB's renderings
    // through the PG wire), not java.time toString ("PT26H")
    assert(PgTypes.render(java.time.Duration.ofHours(26)) == Some("1 day 02:00:00"))
    assert(PgTypes.render(java.time.Duration.ofMinutes(90)) == Some("01:30:00"))
    assert(PgTypes.render(java.time.Duration.ZERO) == Some("00:00:00"))
    assert(PgTypes.render(java.time.Period.of(1, 2, 0)) == Some("1 year 2 months"))
    assert(PgTypes.render(java.time.LocalTime.of(12, 30, 45, 500000000)) == Some("12:30:45.5"))
    // end-to-end: a SELECT interval literal carries through the engine
    val df = engine.execute("SELECT INTERVAL '1' DAY + INTERVAL '2' HOUR AS iv").df
    val v = df.head().get(0)
    assert(PgTypes.render(v) == Some("1 day 02:00:00"), s"got $v -> ${PgTypes.render(v)}")
  }

  test("FOREIGN KEY constraints are enforced on ingest (NULL FKs pass)") {
    engine.execute("CREATE TABLE fk_parent (id BIGINT PRIMARY KEY, nm VARCHAR)")
    engine.execute(
      "CREATE TABLE fk_child (cid BIGINT PRIMARY KEY, pid BIGINT, " +
        "FOREIGN KEY (pid) REFERENCES fk_parent(id))")
    try {
      engine.execute("INSERT INTO fk_parent VALUES (1, 'a'), (2, 'b')")
      engine.execute("INSERT INTO fk_child VALUES (10, 1), (11, 2)")
      // NULL FK passes (PG/DuckDB semantics)
      engine.execute("INSERT INTO fk_child VALUES (12, NULL)")
      val e = intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO fk_child VALUES (13, 99)") }
      assert(e.getMessage.contains("foreign key"), e.getMessage)
      // the violating batch wrote nothing
      assert(engine.execute("SELECT count(*) AS c FROM fk_child").df.head().getLong(0) == 3L)
      // column-level REFERENCES spelling records and enforces too
      engine.execute(
        "CREATE TABLE fk_child2 (cid BIGINT, pid BIGINT REFERENCES fk_parent(id))")
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO fk_child2 VALUES (1, 42)") }
      engine.execute("INSERT INTO fk_child2 VALUES (1, 2)")
    } finally Seq("fk_child2", "fk_child", "fk_parent").foreach(t =>
      engine.execute(s"DROP TABLE IF EXISTS $t"))
  }

  test("in-txn subqueries read the staged copy, including inside DML (txn_fuzz find)") {
    engine.execute("CREATE TABLE txn_sq (id INT, a INT CHECK (a < 100))")
    try {
      engine.execute("INSERT INTO txn_sq VALUES (1, 10), (19, 50)")
      engine.execute("BEGIN")
      engine.execute("DELETE FROM txn_sq WHERE id > 7")
      // scalar subquery carries its plan inside an EXPRESSION — a plain
      // plan-transform never rewrites it, so it read the BASE (19)
      assert(engine.execute("SELECT (SELECT max(id) FROM txn_sq) AS m")
        .df.head().getInt(0) == 1)
      // the same subquery inside an UPDATE's WHERE must hit the staged
      // max (id 1, still present) and so trip the CHECK — pre-fix it
      // located the base max (19, deleted in-txn) and no-op'd
      val err = intercept[Exception](
        engine.execute("UPDATE txn_sq SET a = 999 WHERE id = (SELECT max(id) FROM txn_sq)"))
      assert(err.getMessage.contains("check constraint"), err.getMessage)
      engine.execute("ROLLBACK")
    } finally engine.execute("DROP TABLE IF EXISTS txn_sq")
  }

  test("staged-overlay transactions: rollback undoes, commit publishes") {
    engine.execute("CREATE TABLE txn_t (a BIGINT)")
    try {
      // read-only transaction: rollback is a clean no-op
      engine.execute("BEGIN")
      engine.execute("SELECT 1")
      assert(engine.execute("ROLLBACK").tag == "ROLLBACK")
      // write transaction: ROLLBACK really undoes the staged writes
      engine.execute("BEGIN")
      engine.execute("INSERT INTO txn_t VALUES (1)")
      // read-your-writes inside the transaction
      assert(engine.execute("SELECT count(*) AS c FROM txn_t").df.head().getLong(0) == 1L)
      assert(engine.execute("ROLLBACK").tag == "ROLLBACK")
      assert(engine.execute("SELECT count(*) AS c FROM txn_t").df.head().getLong(0) == 0L)
      assert(engine.execute("ROLLBACK").tag == "ROLLBACK") // no open txn → no-op
      // COMMIT publishes
      engine.execute("BEGIN")
      engine.execute("INSERT INTO txn_t VALUES (2)")
      engine.execute("INSERT INTO txn_t VALUES (3)")
      engine.execute("UPDATE txn_t SET a = a + 10 WHERE a = 2")
      assert(engine.execute("COMMIT").tag == "COMMIT")
      val vals = engine.execute("SELECT a FROM txn_t ORDER BY a").df
        .collect().map(_.getLong(0)).toSeq
      assert(vals == Seq(3L, 12L), vals)
      // DELETE + TRUNCATE in a rolled-back transaction leave no trace
      engine.execute("BEGIN")
      engine.execute("DELETE FROM txn_t WHERE a = 3")
      engine.execute("TRUNCATE TABLE txn_t")
      assert(engine.execute("SELECT count(*) AS c FROM txn_t").df.head().getLong(0) == 0L)
      engine.execute("ROLLBACK")
      assert(engine.execute("SELECT count(*) AS c FROM txn_t").df.head().getLong(0) == 2L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_t")
    }
  }

  test("transaction isolation: other connections see base until COMMIT") {
    engine.execute("CREATE TABLE txn_iso (a BIGINT)")
    engine.execute("INSERT INTO txn_iso VALUES (1)")
    try {
      def countFromOtherThread(): Long = {
        var n = -1L
        val t = new Thread(() => {
          n = engine.execute("SELECT count(*) AS c FROM txn_iso").df.head().getLong(0)
        })
        t.start(); t.join()
        n
      }
      engine.execute("BEGIN")
      engine.execute("INSERT INTO txn_iso VALUES (2)")
      assert(engine.execute("SELECT count(*) AS c FROM txn_iso").df.head().getLong(0) == 2L)
      assert(countFromOtherThread() == 1L) // uncommitted writes invisible elsewhere
      engine.execute("COMMIT")
      assert(countFromOtherThread() == 2L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_iso")
    }
  }

  test("staged rewrite + concurrent APPEND commute: COMMIT replays the appended rows") {
    engine.execute("CREATE TABLE txn_ww (a BIGINT)")
    engine.execute("INSERT INTO txn_ww VALUES (1)")
    try {
      engine.execute("BEGIN")
      engine.execute("UPDATE txn_ww SET a = 100") // stages txn_ww, snapshot a=1
      // a concurrent connection commits an APPEND to the same table —
      // in DuckDB's row-level MVCC the update (old rows) and the
      // insert (a new row) commute; r11 replays the appended files
      // into the staged image at COMMIT instead of aborting
      var otherErr: Throwable = null
      val other = new Thread(() => {
        try engine.execute("INSERT INTO txn_ww VALUES (2)")
        catch { case e: Throwable => otherErr = e }
      })
      other.start(); other.join()
      assert(otherErr == null, String.valueOf(otherErr))
      engine.execute("COMMIT")
      // the update applied to the OLD rows; the concurrent append
      // survived UNMODIFIED (it was not in the update's snapshot)
      val vals = engine.execute("SELECT a FROM txn_ww ORDER BY a").df
        .collect().map(_.getLong(0)).toSeq
      assert(vals == Seq(2L, 100L), vals)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_ww")
    }
  }

  test("rewrite-vs-rewrite conflict still aborts the later commit") {
    engine.execute("CREATE TABLE txn_wr (a BIGINT)")
    engine.execute("INSERT INTO txn_wr VALUES (1)")
    try {
      engine.execute("BEGIN")
      engine.execute("UPDATE txn_wr SET a = 100")
      // a concurrent connection commits a REWRITE of the same table
      var otherErr: Throwable = null
      val other = new Thread(() => {
        try engine.execute("UPDATE txn_wr SET a = a + 7")
        catch { case e: Throwable => otherErr = e }
      })
      other.start(); other.join()
      assert(otherErr == null, String.valueOf(otherErr))
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("serialization conflict"), e.getMessage)
      // the losing transaction rolled back; the concurrent rewrite survived
      val vals = engine.execute("SELECT a FROM txn_wr ORDER BY a").df
        .collect().map(_.getLong(0)).toSeq
      assert(vals == Seq(8L), vals)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_wr")
    }
  }

  test("read-only pin tolerates a concurrent append (reader serializes first)") {
    engine.execute("CREATE TABLE txn_rp_a (a BIGINT)")
    engine.execute("CREATE TABLE txn_rp_b (b BIGINT)")
    engine.execute("INSERT INTO txn_rp_a VALUES (1)")
    try {
      engine.execute("BEGIN")
      // read A (pins it), write B based on the read
      val seen = engine.execute("SELECT count(*) AS c FROM txn_rp_a").df.head().getLong(0)
      engine.execute(s"INSERT INTO txn_rp_b VALUES ($seen)")
      val other = new Thread(() => engine.execute("INSERT INTO txn_rp_a VALUES (2)"))
      other.start(); other.join()
      // in-txn re-read still serves the pinned snapshot
      assert(engine.execute("SELECT count(*) AS c FROM txn_rp_a").df.head().getLong(0) == 1L)
      engine.execute("COMMIT") // appends to a read pin commute — no abort
      assert(engine.execute("SELECT b FROM txn_rp_b").df.head().getLong(0) == 1L)
      assert(engine.execute("SELECT count(*) AS c FROM txn_rp_a").df.head().getLong(0) == 2L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_rp_a")
      engine.execute("DROP TABLE IF EXISTS txn_rp_b")
    }
  }

  test("transactional DROP TABLE: ROLLBACK keeps the table, COMMIT drops it") {
    engine.execute("CREATE TABLE txn_drop (a BIGINT)")
    engine.execute("INSERT INTO txn_drop VALUES (1)")
    try {
      // ROLLBACK forgets the drop intent — the table is intact
      engine.execute("BEGIN")
      engine.execute("DROP TABLE txn_drop")
      // reads of a dropped table fail as not-found (binder-class: the
      // block stays USABLE, DuckDB semantics) …
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM txn_drop").df.collect()
      }
      // … and writes too
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("INSERT INTO txn_drop VALUES (9)")
      }
      assert(engine.txnStatus == 'T') // NOT aborted
      engine.execute("ROLLBACK") // no "cannot undo DDL" error: the drop was staged
      assert(engine.execute("SELECT a FROM txn_drop").df.head().getLong(0) == 1L)
      // COMMIT performs the real drop
      engine.execute("BEGIN")
      engine.execute("DROP TABLE txn_drop")
      engine.execute("COMMIT")
      assert(!spark.catalog.tableExists("txn_drop"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_drop")
    }
  }

  test("in-txn write then DROP discards the overlay with the table") {
    engine.execute("CREATE TABLE txn_wd (a BIGINT)")
    engine.execute("INSERT INTO txn_wd VALUES (1)")
    try {
      engine.execute("BEGIN")
      engine.execute("UPDATE txn_wd SET a = 50") // stages a rewrite
      engine.execute("INSERT INTO txn_wd VALUES (2)")
      engine.execute("DROP TABLE txn_wd") // allowed: overlay dies with the drop intent
      engine.execute("COMMIT")
      assert(!spark.catalog.tableExists("txn_wd"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_wd")
    }
  }

  test("DROP then re-CREATE in one transaction publishes the new table") {
    engine.execute("CREATE TABLE txn_dc (a BIGINT)")
    engine.execute("INSERT INTO txn_dc VALUES (1)")
    try {
      engine.execute("BEGIN")
      engine.execute("DROP TABLE txn_dc")
      engine.execute("CREATE TABLE txn_dc (s STRING)") // name freed by the in-txn drop
      engine.execute("INSERT INTO txn_dc VALUES ('new')")
      assert(engine.execute("SELECT s FROM txn_dc").df.head().getString(0) == "new")
      engine.execute("COMMIT")
      assert(spark.table("txn_dc").schema.fieldNames.toSeq == Seq("s"))
      assert(engine.execute("SELECT s FROM txn_dc").df.head().getString(0) == "new")
      // and the ROLLBACK variant restores the ORIGINAL table
      engine.execute("BEGIN")
      engine.execute("DROP TABLE txn_dc")
      engine.execute("CREATE TABLE txn_dc (z BIGINT)")
      engine.execute("ROLLBACK")
      assert(spark.table("txn_dc").schema.fieldNames.toSeq == Seq("s"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_dc")
    }
  }

  test("a failed in-txn CREATE leaves no phantom registration (ADVICE r10)") {
    try {
      engine.execute("BEGIN")
      // CTAS from a nonexistent source: binder error, non-aborting —
      // and the staged registration must be unwound with it
      intercept[Throwable] {
        engine.execute("CREATE TABLE txn_ph AS SELECT * FROM txn_ph_no_such_source")
      }
      assert(engine.txnStatus == 'T')
      // the name must NOT redirect to a nonexistent overlay
      intercept[Throwable] { engine.execute("SELECT * FROM txn_ph").df.collect() }
      // a retried CREATE succeeds (no phantom "already exists")
      engine.execute("CREATE TABLE txn_ph AS SELECT 42 AS v")
      assert(engine.execute("SELECT v FROM txn_ph").df.head().getInt(0) == 42)
      engine.execute("COMMIT")
      assert(engine.execute("SELECT v FROM txn_ph").df.head().getInt(0) == 42)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_ph")
    }
  }

  test("statement error aborts the transaction until ROLLBACK (PG semantics)") {
    engine.execute("CREATE TABLE txn_ab (a BIGINT, c BIGINT CHECK (c < 100))")
    try {
      engine.execute("BEGIN")
      engine.execute("INSERT INTO txn_ab VALUES (1, 1)")
      // a BINDER error (missing table) does NOT abort the block —
      // DuckDB semantics (the reference's engine; txn_fuzz find r10)
      intercept[Throwable] { engine.execute("SELECT * FROM txn_ab_nonexistent") }
      assert(engine.execute("SELECT count(*) AS c FROM txn_ab").df.head().getLong(0) == 1L)
      // a RUNTIME/constraint error DOES abort it
      intercept[Throwable] { engine.execute("INSERT INTO txn_ab VALUES (2, 999)") }
      val e = intercept[IllegalArgumentException] { engine.execute("SELECT 1") }
      assert(e.getMessage.contains("aborted"), e.getMessage)
      // COMMIT of an aborted transaction rolls back and says so
      assert(engine.execute("COMMIT").tag == "ROLLBACK")
      assert(engine.execute("SELECT count(*) AS c FROM txn_ab").df.head().getLong(0) == 0L)
      assert(engine.txnStatus == 'I')
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_ab")
    }
  }

  test("constraints enforce against the transaction's own staged state") {
    engine.execute("CREATE TABLE txn_pk (id BIGINT PRIMARY KEY)")
    try {
      engine.execute("BEGIN")
      engine.execute("INSERT INTO txn_pk VALUES (1)")
      // duplicate of an uncommitted row must be rejected inside the txn
      intercept[IllegalArgumentException] { engine.execute("INSERT INTO txn_pk VALUES (1)") }
      engine.execute("ROLLBACK")
      // after rollback the key is free again
      engine.execute("INSERT INTO txn_pk VALUES (1)")
      assert(engine.execute("SELECT count(*) AS c FROM txn_pk").df.head().getLong(0) == 1L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS txn_pk")
    }
  }

  test("auto-commit DDL inside a transaction: ROLLBACK says so honestly") {
    try {
      // table CREATE/DROP/ALTER, views, types and schemas are
      // transactional since r10/r11/r12/r12b/r13 — the auto-commit
      // honesty contract covers the REST (temp views)
      engine.execute("CREATE TABLE txn_ddl (a BIGINT)")
      engine.execute("BEGIN")
      engine.execute("CREATE TEMP VIEW txn_ddl_tv AS SELECT 1 AS one")
      engine.execute("INSERT INTO txn_ddl VALUES (1)")
      val e = intercept[IllegalArgumentException] { engine.execute("ROLLBACK") }
      assert(e.getMessage.contains("DDL"), e.getMessage)
      // the temp view (auto-commit DDL) survives; the staged DML rolled back
      assert(engine.execute("SELECT one FROM txn_ddl_tv").df.head().getInt(0) == 1)
      assert(engine.execute("SELECT count(*) AS c FROM txn_ddl").df.head().getLong(0) == 0L)
      // drop through the engine: temp names are connection-mangled (r14)
      engine.execute("DROP VIEW txn_ddl_tv")
      // ALTER … RENAME TO is transactional too (r12b): it composes
      // with uncommitted txn changes — the overlays answer to the new
      // name — and ROLLBACK undoes both the rename and the DML
      engine.execute("BEGIN")
      engine.execute("INSERT INTO txn_ddl VALUES (2)")
      engine.execute("ALTER TABLE txn_ddl RENAME TO txn_ddl_z")
      assert(engine.execute("SELECT count(*) AS c FROM txn_ddl_z").df.head().getLong(0) == 1L)
      engine.execute("ROLLBACK")
      assert(spark.catalog.tableExists("txn_ddl"))
      assert(!spark.catalog.tableExists("txn_ddl_z"))
      assert(engine.execute("SELECT count(*) AS c FROM txn_ddl").df.head().getLong(0) == 0L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS txn_ddl_v")
      engine.execute("DROP TABLE IF EXISTS txn_ddl")
    }
  }

  test("rewrites never mutate string-literal or quoted-identifier content") {
    // a literal CONTAINING 'regexp_replace(' must pass through verbatim
    val r = engine.execute("SELECT 'use regexp_replace(x) here' AS s").df.head()
    assert(r.getString(0) == "use regexp_replace(x) here")
    // a single quote inside a double-quoted identifier must not flip
    // literal state: the '\d' literal after it still arrives intact
    val r2 = engine.execute(
      "SELECT 1 AS \"o'clock\", regexp_matches('7', '\\d') AS m").df.head()
    assert(r2.getInt(0) == 1 && r2.getBoolean(1))
    // keyword and type-alias passes leave literal text alone
    assert(engine.execute("SELECT 'a semi join b' AS s").df.head().getString(0) == "a semi join b")
    assert(engine.execute("SELECT 'v::text' AS s").df.head().getString(0) == "v::text")
    // a ' inside a quoted identifier or a comment opens no literal, so
    // the list literal after it still rewrites
    def list(r: org.apache.spark.sql.Row, i: Int) = r.getSeq[Int](i)
    val r3 = engine.execute("SELECT 1 AS \"it's\", [1, 2] AS l").df.head()
    assert(r3.getInt(0) == 1 && list(r3, 1) == Seq(1, 2))
    val r4 = engine.execute("SELECT 1 -- it's\n, [1, 2] AS l").df.head()
    assert(r4.getInt(0) == 1 && list(r4, 1) == Seq(1, 2))
    // catalog names map in code only
    Seq("information_schema.tables", "system.tables", "duckdb_tables()",
        "pg_catalog.pg_class").foreach { lit =>
      assert(engine.execute(s"SELECT '$lit' AS s").df.head().getString(0) == lit)
    }
  }

  test("unnest nested in a select-list expression hoists to an inner explode") {
    val rows = engine.execute("select unnest(generate_series(1, 3)) + 10 AS v")
      .df.collect().map(_.getAs[Number](0).longValue).sorted
    assert(rows.toSeq == Seq(11L, 12L, 13L))
    // with a FROM source and trailing clauses on the outer query
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("hu_nation")
    val r2 = engine.execute(
      "select n_nationkey * 100 + unnest(generate_series(1, 2)) AS v " +
        "from hu_nation where n_nationkey < 2 order by v")
      .df.collect().map(_.getAs[Number](0).longValue)
    assert(r2.toSeq == Seq(1L, 2L, 101L, 102L))
  }

  test("in-txn reads THROUGH A VIEW see the staged overlay (r9 judge find)") {
    fresh("txv_t")
    engine.execute("CREATE TABLE main.txv_t (a BIGINT) USING parquet")
    engine.execute("DROP VIEW IF EXISTS main.txv_v")
    engine.execute("DROP VIEW IF EXISTS main.txv_v2")
    try {
      engine.execute("INSERT INTO main.txv_t VALUES (1), (2)")
      engine.execute("CREATE VIEW main.txv_v AS SELECT * FROM main.txv_t")
      // nested view, and a view used inside a subquery expression
      engine.execute("CREATE VIEW main.txv_v2 AS SELECT a * 10 AS b FROM main.txv_v")
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txv_t VALUES (10)")
      def one(q: String): Long = engine.execute(q).df.head().getLong(0)
      assert(one("SELECT sum(a) AS s FROM main.txv_t") == 13L) // direct
      assert(one("SELECT sum(a) AS s FROM main.txv_v") == 13L) // through view
      assert(one("SELECT sum(b) AS s FROM main.txv_v2") == 130L) // nested view
      assert(one("SELECT (SELECT max(a) FROM main.txv_v) AS m") == 10L) // view in subquery
      // UPDATE upgrades the delta to a full stage; views still track it
      engine.execute("UPDATE main.txv_t SET a = a + 100 WHERE a = 10")
      assert(one("SELECT max(a) AS m FROM main.txv_v") == 110L)
      engine.execute("ROLLBACK")
      assert(one("SELECT sum(a) AS s FROM main.txv_v") == 3L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.txv_v2")
      engine.execute("DROP VIEW IF EXISTS main.txv_v")
      engine.execute("DROP TABLE IF EXISTS main.txv_t")
    }
  }

  test("insert-only transactions stage a delta, not a full-table snapshot") {
    fresh("txd_t")
    engine.execute("CREATE TABLE main.txd_t (a BIGINT) USING parquet")
    try {
      engine.execute("INSERT INTO main.txd_t VALUES (1), (2)")
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txd_t VALUES (3)")
      engine.execute("INSERT INTO main.txd_t VALUES (4)")
      // read-your-writes through the base ∪ delta union
      assert(engine.execute("SELECT count(*) AS c FROM main.txd_t").df.head().getLong(0) == 4L)
      // the overlay is a DELTA (suffix __txnNdelta), and no full __txnN
      // snapshot copy exists — the r9 shape copied the whole base here
      val internal = spark.sessionState.catalog.listTables("main").map(_.table)
        .filter(_.contains("__txn"))
      assert(internal.nonEmpty && internal.forall(_.matches(".*__txn\\d+delta")), internal)
      // the delta holds ONLY the txn's rows
      val d = internal.find(_.contains("txd_t")).get
      assert(spark.table(s"main.$d").count() == 2L, "delta must hold only appended rows")
      engine.execute("COMMIT")
      assert(engine.execute("SELECT count(*) AS c FROM main.txd_t").df.head().getLong(0) == 4L)
      assert(spark.sessionState.catalog.listTables("main").map(_.table)
        .forall(!_.contains("__txn")), "overlays must be dropped after COMMIT")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txd_t")
    }
  }

  test("ALTER on a table with uncommitted txn changes applies to the staged copy (r12)") {
    fresh("txa_t")
    engine.execute("CREATE TABLE main.txa_t (a BIGINT) USING parquet")
    try {
      engine.execute("INSERT INTO main.txa_t VALUES (1)")
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txa_t VALUES (2)")
      // the ALTER upgrades the delta to a staged copy and retypes it —
      // in-txn reads see BOTH rows as the new type; ROLLBACK undoes all
      assert(engine.execute("ALTER TABLE main.txa_t ALTER COLUMN a TYPE STRING").tag
        == "ALTER TABLE")
      val vals = engine.execute("SELECT a FROM main.txa_t ORDER BY a").df
        .collect().map(_.getString(0)).toSeq
      assert(vals == Seq("1", "2"), vals)
      engine.execute("ROLLBACK") // no DDL error: the ALTER was absorbed
      assert(spark.table("main.txa_t").schema("a").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(spark.table("main.txa_t").count() == 1L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txa_t")
    }
  }

  test("snapshot reads: concurrent appends stay invisible; rewrites abort the read") {
    fresh("txr_t"); fresh("txr_u")
    engine.execute("CREATE TABLE main.txr_t (a BIGINT) USING parquet")
    engine.execute("CREATE TABLE main.txr_u (a BIGINT) USING parquet")
    try {
      engine.execute("INSERT INTO main.txr_t VALUES (1)")
      engine.execute("BEGIN")
      // pin txr_t into the read set (no write to it)
      assert(engine.execute("SELECT count(*) AS c FROM main.txr_t").df.head().getLong(0) == 1L)
      engine.execute("INSERT INTO main.txr_u VALUES (7)") // the txn's own write
      // concurrent connection APPENDS to the READ table
      val other = new Thread(() => engine.execute("INSERT INTO main.txr_t VALUES (2)"))
      other.start(); other.join()
      // the read keeps serving the pinned-file snapshot (parquet appends
      // only ADD files) — DuckDB-equivalent, no mid-txn switch, no abort
      assert(engine.execute("SELECT count(*) AS c FROM main.txr_t").df.head().getLong(0) == 1L)
      // COMMIT commutes with the concurrent APPEND (r11): every in-txn
      // read served the pinned snapshot, so this txn serializes first
      engine.execute("COMMIT")
      assert(engine.execute("SELECT count(*) AS c FROM main.txr_u").df.head().getLong(0) == 1L)
      // a concurrent REWRITE of a pinned table fails the next read fast
      engine.execute("BEGIN")
      assert(engine.execute("SELECT count(*) AS c FROM main.txr_t").df.head().getLong(0) == 2L)
      val upd = new Thread(() => engine.execute("UPDATE main.txr_t SET a = a + 10"))
      upd.start(); upd.join()
      val e2 = intercept[IllegalArgumentException] {
        engine.execute("SELECT count(*) FROM main.txr_t") }
      assert(e2.getMessage.contains("could not serialize"), e2.getMessage)
      assert(engine.execute("COMMIT").tag == "ROLLBACK") // aborted block
      // read-only transactions always commit, snapshot or not
      engine.execute("BEGIN")
      assert(engine.execute("SELECT count(*) AS c FROM main.txr_t").df.head().getLong(0) == 2L)
      val app = new Thread(() => engine.execute("INSERT INTO main.txr_t VALUES (3)"))
      app.start(); app.join()
      assert(engine.execute("SELECT count(*) AS c FROM main.txr_t").df.head().getLong(0) == 2L)
      assert(engine.execute("COMMIT").tag == "COMMIT")
      assert(engine.execute("SELECT count(*) AS c FROM main.txr_t").df.head().getLong(0) == 3L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txr_t")
      engine.execute("DROP TABLE IF EXISTS main.txr_u")
    }
  }

  test("read-write conflict at COMMIT: read-set epochs are verified too") {
    fresh("txrw_r"); fresh("txrw_w")
    engine.execute("CREATE TABLE main.txrw_r (a BIGINT) USING parquet")
    engine.execute("CREATE TABLE main.txrw_w (a BIGINT) USING parquet")
    try {
      engine.execute("INSERT INTO main.txrw_r VALUES (1)")
      engine.execute("BEGIN")
      assert(engine.execute("SELECT count(*) AS c FROM main.txrw_r").df.head().getLong(0) == 1L)
      engine.execute("INSERT INTO main.txrw_w VALUES (7)")
      // a concurrent REWRITE of the read table (an append would
      // commute — r11): rows this txn read may have changed
      val other = new Thread(() => engine.execute("UPDATE main.txrw_r SET a = a + 1"))
      other.start(); other.join()
      // no further reads of txrw_r — the conflict must be caught at COMMIT
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("first read it"), e.getMessage)
      assert(engine.execute("SELECT count(*) AS c FROM main.txrw_w").df.head().getLong(0) == 0L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txrw_r")
      engine.execute("DROP TABLE IF EXISTS main.txrw_w")
    }
  }

  test("concurrent appends commute: insert-only txn commits past a concurrent insert") {
    fresh("txc_t")
    engine.execute("CREATE TABLE main.txc_t (a BIGINT) USING parquet")
    try {
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txc_t VALUES (1)")
      val other = new Thread(() => engine.execute("INSERT INTO main.txc_t VALUES (2)"))
      other.start(); other.join()
      // r9 semantics aborted here (table-granularity write-write);
      // appends commute, so both must land — like DuckDB's row-level MVCC
      assert(engine.execute("COMMIT").tag == "COMMIT")
      val vals = engine.execute("SELECT a FROM main.txc_t ORDER BY a").df
        .collect().map(_.getLong(0)).toSeq
      assert(vals == Seq(1L, 2L), vals)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txc_t")
    }
  }

  test("delta commit still aborts on concurrent duplicate key / concurrent rewrite") {
    fresh("txk_t")
    engine.execute("CREATE TABLE main.txk_t (id INT PRIMARY KEY, a INT)")
    try {
      // duplicate key landed by a concurrent append AFTER our insert-time check
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txk_t VALUES (5, 1)")
      val t1 = new Thread(() => engine.execute("INSERT INTO main.txk_t VALUES (5, 2)"))
      t1.start(); t1.join()
      val e1 = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e1.getMessage.contains("duplicate key"), e1.getMessage)
      assert(engine.execute("SELECT count(*) AS c FROM main.txk_t").df.head().getLong(0) == 1L)
      // concurrent KEY-DISJOINT rewrite (UPDATE of id=5) now COMMUTES
      // with an insert-only txn (r12 row granularity): both commit
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txk_t VALUES (7, 1)")
      val t2 = new Thread(() => engine.execute("UPDATE main.txk_t SET a = 99 WHERE id = 5"))
      t2.start(); t2.join()
      assert(engine.execute("COMMIT").tag == "COMMIT")
      val rows = engine.execute("SELECT id, a FROM main.txk_t ORDER BY id").df
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(rows == Seq((5, 99), (7, 1)), rows)
      // an UNATTRIBUTABLE concurrent rewrite (upsert logs no key set)
      // still aborts at table granularity
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txk_t VALUES (8, 1)")
      val t3 = new Thread(() => engine.execute(
        "INSERT INTO main.txk_t VALUES (5, 77) ON CONFLICT (id) DO UPDATE SET a = 77"))
      t3.start(); t3.join()
      val e2 = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e2.getMessage.contains("rewritten by a concurrent"), e2.getMessage)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txk_t")
    }
  }

  test("transactional CREATE TABLE: rollback undoes it, commit publishes it") {
    fresh("txn_ct"); fresh("txn_ct2"); fresh("txn_ctas")
    try {
      // plain create + insert + read-own, then ROLLBACK: fully undone
      engine.execute("BEGIN")
      assert(engine.execute("CREATE TABLE main.txn_ct (a BIGINT)").tag == "CREATE TABLE")
      engine.execute("INSERT INTO main.txn_ct VALUES (1), (2)")
      assert(engine.execute("SELECT sum(a) AS s FROM main.txn_ct").df.head().getLong(0) == 3L)
      // invisible to the rest of the world until COMMIT
      assert(!spark.catalog.tableExists("main.txn_ct"))
      assert(engine.execute("ROLLBACK").tag == "ROLLBACK") // NOT the DDL error: create was absorbed
      assert(!spark.catalog.tableExists("main.txn_ct"))
      intercept[Throwable] { engine.execute("SELECT * FROM main.txn_ct").df.collect() }
      // create + UPDATE (delta→staged upgrade on a created table) + COMMIT
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.txn_ct (a BIGINT)")
      engine.execute("INSERT INTO main.txn_ct VALUES (5)")
      engine.execute("UPDATE main.txn_ct SET a = a + 1")
      assert(engine.execute("COMMIT").tag == "COMMIT")
      assert(spark.table("main.txn_ct").collect().map(_.getLong(0)).toSeq == Seq(6L))
      // CTAS inside a txn, reading an existing table
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.txn_ctas AS SELECT a * 10 AS b FROM main.txn_ct")
      assert(engine.execute("SELECT b FROM main.txn_ctas").df.head().getLong(0) == 60L)
      engine.execute("ROLLBACK")
      assert(!spark.catalog.tableExists("main.txn_ctas"))
      // constrained create in-txn: PK enforced inside the txn, and the
      // registration rolls back with the table
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.txn_ct2 (id INT PRIMARY KEY, v INT)")
      engine.execute("INSERT INTO main.txn_ct2 VALUES (1, 10)")
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.txn_ct2 VALUES (1, 20)") }
      engine.execute("ROLLBACK")
      // re-created WITHOUT constraints: the old PK must not linger
      engine.execute("CREATE TABLE main.txn_ct2 (id INT, v INT)")
      engine.execute("INSERT INTO main.txn_ct2 VALUES (1, 10)")
      engine.execute("INSERT INTO main.txn_ct2 VALUES (1, 20)") // dup OK now
      assert(spark.table("main.txn_ct2").count() == 2L)
      // DROP of a table created in the SAME txn is a clean net no-op
      // (DuckDB allows it); a fresh re-create afterwards commits fine
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.txn_ct3 (a BIGINT)")
      engine.execute("INSERT INTO main.txn_ct3 VALUES (1)")
      assert(engine.execute("DROP TABLE main.txn_ct3").tag == "DROP TABLE")
      engine.execute("CREATE TABLE main.txn_ct3 (b BIGINT)")
      assert(engine.execute("ROLLBACK").tag == "ROLLBACK") // no DDL error: all absorbed
      assert(!spark.catalog.tableExists("main.txn_ct3"))
      // creating an existing table inside a txn errors; IF NOT EXISTS no-ops
      engine.execute("BEGIN")
      intercept[Throwable] { engine.execute("CREATE TABLE main.txn_ct2 (x INT)") }
      engine.execute("ROLLBACK")
      engine.execute("BEGIN")
      assert(engine.execute("CREATE TABLE IF NOT EXISTS main.txn_ct2 (x INT)").tag == "CREATE TABLE")
      engine.execute("COMMIT")
      assert(spark.table("main.txn_ct2").schema.fieldNames.toSeq == Seq("id", "v"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_ct")
      engine.execute("DROP TABLE IF EXISTS main.txn_ct2")
      engine.execute("DROP TABLE IF EXISTS main.txn_ctas")
    }
  }

  test("rollbackDanglingTxn drops overlays (disconnect / pooled-thread hygiene)") {
    fresh("txh_t")
    engine.execute("CREATE TABLE main.txh_t (a BIGINT) USING parquet")
    try {
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.txh_t VALUES (1)")
      assert(spark.sessionState.catalog.listTables("main").exists(_.table.contains("__txn")))
      engine.rollbackDanglingTxn()
      assert(spark.sessionState.catalog.listTables("main").forall(!_.table.contains("__txn")))
      assert(engine.txnStatus == 'I')
      assert(engine.execute("SELECT count(*) AS c FROM main.txh_t").df.head().getLong(0) == 0L)
      engine.rollbackDanglingTxn() // idempotent outside a txn
    } finally engine.execute("DROP TABLE IF EXISTS main.txh_t")
  }

  test("json arrow chains take integer subscripts where a lambda reading is impossible") {
    val r = engine.execute(
      """SELECT '{"xs": [1,2,3]}'::json -> 'xs' ->> 1 AS a,
        |  '[10,20,30]' -> 2 AS b""".stripMargin).df.head()
    assert(r.getString(0) == "2", s"arrow int subscript: ${r.getString(0)}")
    assert(r.getString(1) == "30")
    // lambdas with integer bodies still parse (the collision case)
    val l = engine.execute("SELECT list_transform([1,2], x -> 1) AS l").df.head()
    assert(l.getSeq[Any](0).length == 2)
  }

  test("drop-then-recreate ROLLBACK keeps the base table's constraints (r11 judge bug)") {
    fresh("txn_cb")
    engine.execute("CREATE TABLE main.txn_cb (id INT PRIMARY KEY, v INT)")
    try {
      engine.execute("INSERT INTO main.txn_cb VALUES (1, 10)")
      // PK enforced before the transaction
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.txn_cb VALUES (1, 99)") }
      // the judge's exact probe: BEGIN; DROP; CREATE (unconstrained); ROLLBACK
      engine.execute("BEGIN")
      engine.execute("DROP TABLE main.txn_cb")
      engine.execute("CREATE TABLE main.txn_cb (id INT, v INT)")
      engine.execute("INSERT INTO main.txn_cb VALUES (1, 1), (1, 2)") // txn's view: no PK
      assert(engine.execute("ROLLBACK").tag == "ROLLBACK")
      // the surviving BASE table still enforces its PK …
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.txn_cb VALUES (1, 99)") }
      // … and its data is intact
      assert(spark.table("main.txn_cb").count() == 1L)
      // the same holds when the txn ABORTS instead of rolling back
      // (the error must be EAGER — a lazy SELECT's failure surfaces in
      // the wire layer's pump, outside execute())
      engine.execute("BEGIN")
      engine.execute("DROP TABLE main.txn_cb")
      engine.execute("CREATE TABLE main.txn_cb (id INT, v INT)")
      engine.execute("INSERT INTO main.txn_cb VALUES (5, 5)")
      intercept[Throwable] { engine.execute("UPDATE main.txn_cb SET v = v / 0") }
      assert(engine.txnStatus == 'E')
      assert(engine.execute("COMMIT").tag == "ROLLBACK") // aborted: COMMIT rolls back
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.txn_cb VALUES (1, 99)") }
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_cb")
    }
  }

  test("drop-then-recreate rollback keeps constraints DURABLY (restart probe)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cbdur").toString
    val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    e1.execute("DROP TABLE IF EXISTS main.cbdur")
    try {
      e1.execute("CREATE TABLE main.cbdur (id INT PRIMARY KEY, v INT)")
      e1.execute("INSERT INTO main.cbdur VALUES (1, 10)")
      e1.execute("BEGIN")
      e1.execute("DROP TABLE main.cbdur")
      e1.execute("CREATE TABLE main.cbdur (id INT, v INT)")
      e1.execute("ROLLBACK")
      // a NEW engine booted from the same --db_path must still enforce
      // the PK (r11 made the constraint loss durable via persist)
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.cbdur VALUES (1, 99)") }
      assert(spark.table("main.cbdur").count() == 1L)
    } finally {
      try e1.execute("ROLLBACK") catch { case _: Throwable => () }
      e1.execute("DROP TABLE IF EXISTS main.cbdur")
    }
  }

  test("drop-then-recreate COMMIT publishes the NEW constraint set") {
    fresh("txn_cb2")
    engine.execute("CREATE TABLE main.txn_cb2 (id INT PRIMARY KEY, v INT)")
    try {
      engine.execute("INSERT INTO main.txn_cb2 VALUES (1, 10)")
      // the txn's own enforcement uses the NEW set: dup id fine, dup v
      // not (a constraint violation ABORTS the txn, so this probe runs
      // in its own rolled-back transaction)
      engine.execute("BEGIN")
      engine.execute("DROP TABLE main.txn_cb2")
      engine.execute("CREATE TABLE main.txn_cb2 (id INT, v INT UNIQUE)")
      engine.execute("INSERT INTO main.txn_cb2 VALUES (7, 70)")
      engine.execute("INSERT INTO main.txn_cb2 VALUES (7, 71)")
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.txn_cb2 VALUES (8, 70)") }
      assert(engine.execute("COMMIT").tag == "ROLLBACK") // aborted by the violation
      // clean run of the same sequence commits and publishes the NEW set
      engine.execute("BEGIN")
      engine.execute("DROP TABLE main.txn_cb2")
      engine.execute("CREATE TABLE main.txn_cb2 (id INT, v INT UNIQUE)")
      engine.execute("INSERT INTO main.txn_cb2 VALUES (7, 70)")
      engine.execute("INSERT INTO main.txn_cb2 VALUES (7, 71)")
      assert(engine.execute("COMMIT").tag == "COMMIT")
      // committed: old PK gone (dup id passes), new UNIQUE(v) enforced
      engine.execute("INSERT INTO main.txn_cb2 VALUES (7, 72)")
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.txn_cb2 VALUES (9, 70)") }
      assert(spark.table("main.txn_cb2").count() == 3L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_cb2")
    }
  }

  test("concurrent connections keep validating against the BASE set during a recreate") {
    fresh("txn_cb3")
    engine.execute("CREATE TABLE main.txn_cb3 (id INT PRIMARY KEY, v INT)")
    try {
      engine.execute("INSERT INTO main.txn_cb3 VALUES (1, 10)")
      engine.execute("BEGIN")
      engine.execute("DROP TABLE main.txn_cb3")
      // recreate declares a DIFFERENT key — the overlay must not leak
      // into other connections' enforcement (r11 latent window)
      engine.execute("CREATE TABLE main.txn_cb3 (id INT, v INT UNIQUE)")
      var otherErr: Throwable = null
      val other = new Thread(() => {
        try engine.execute("INSERT INTO main.txn_cb3 VALUES (1, 77)") // dup base PK
        catch { case e: Throwable => otherErr = e }
      })
      other.start(); other.join()
      assert(otherErr != null &&
        otherErr.getMessage.toLowerCase.contains("unique constraint (id)"),
        s"base PK must reject the concurrent dup: $otherErr")
      engine.execute("ROLLBACK")
      assert(spark.table("main.txn_cb3").count() == 1L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_cb3")
    }
  }

  test("DROP TABLE IF EXISTS no-ops inside a txn stay rollback-able (ADVICE r11)") {
    fresh("txn_de")
    engine.execute("CREATE TABLE main.txn_de (a BIGINT)")
    try {
      engine.execute("BEGIN")
      engine.execute("DROP TABLE main.txn_de")
      // already dropped in this txn → IF EXISTS no-op
      assert(engine.execute("DROP TABLE IF EXISTS main.txn_de").tag == "DROP TABLE")
      // never-existed name → IF EXISTS no-op
      assert(engine.execute("DROP TABLE IF EXISTS main.txn_de_nope").tag == "DROP TABLE")
      // neither no-op is auto-commit DDL: ROLLBACK succeeds, table intact
      assert(engine.execute("ROLLBACK").tag == "ROLLBACK")
      assert(spark.catalog.tableExists("main.txn_de"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_de")
    }
  }

  test("FK write-skew via append-commute is re-validated at COMMIT (ADVICE r11)") {
    fresh("txn_fkp"); fresh("txn_fkc")
    engine.execute("CREATE TABLE main.txn_fkp (id INT PRIMARY KEY)")
    engine.execute(
      "CREATE TABLE main.txn_fkc (cid INT, pid INT REFERENCES main.txn_fkp(id))")
    try {
      engine.execute("INSERT INTO main.txn_fkp VALUES (1), (2)")
      // conflicting case: txn deletes parent 2; a concurrent append
      // lands a child row REFERENCING 2 after the FK check's read pin
      engine.execute("BEGIN")
      engine.execute("DELETE FROM main.txn_fkp WHERE id = 2") // FK check pins the child
      var otherErr: Throwable = null
      val other = new Thread(() => {
        try engine.execute("INSERT INTO main.txn_fkc VALUES (10, 2)")
        catch { case e: Throwable => otherErr = e }
      })
      other.start(); other.join()
      assert(otherErr == null, String.valueOf(otherErr))
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("foreign key"), e.getMessage)
      // consistent final state: parent row survived, child references it
      assert(spark.table("main.txn_fkp").count() == 2L)
      assert(spark.table("main.txn_fkc").count() == 1L)
      // commuting case: the concurrent append references an UNTOUCHED
      // key — the commute is allowed and both commit
      engine.execute("DELETE FROM main.txn_fkc") // reset child
      engine.execute("BEGIN")
      engine.execute("DELETE FROM main.txn_fkp WHERE id = 2")
      val other2 = new Thread(() => engine.execute("INSERT INTO main.txn_fkc VALUES (11, 1)"))
      other2.start(); other2.join()
      engine.execute("COMMIT")
      assert(spark.table("main.txn_fkp").count() == 1L)
      assert(spark.table("main.txn_fkc").count() == 1L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_fkc")
      engine.execute("DROP TABLE IF EXISTS main.txn_fkp")
    }
  }

  test("transactional ALTER COLUMN TYPE: rollback restores, commit publishes") {
    fresh("txn_alt")
    engine.execute("CREATE TABLE main.txn_alt (a BIGINT) USING parquet")
    try {
      engine.execute("INSERT INTO main.txn_alt VALUES (1), (2)")
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.txn_alt ALTER COLUMN a TYPE STRING")
      // in-txn read binds against the staged (post-ALTER) schema
      val inTxn = engine.execute("SELECT a FROM main.txn_alt ORDER BY a").df
      assert(inTxn.schema("a").dataType == org.apache.spark.sql.types.StringType)
      assert(inTxn.collect().map(_.getString(0)).toSeq == Seq("1", "2"))
      // other connections still see the committed schema
      var otherType: org.apache.spark.sql.types.DataType = null
      val other = new Thread(() => {
        otherType = engine.execute("SELECT a FROM main.txn_alt").df.schema("a").dataType
      })
      other.start(); other.join()
      assert(otherType == org.apache.spark.sql.types.LongType, s"$otherType")
      engine.execute("ROLLBACK") // no DDL error; schema intact
      assert(spark.table("main.txn_alt").schema("a").dataType ==
        org.apache.spark.sql.types.LongType)
      // commit path, with a USING expression and an in-txn write AFTER
      // the alter (the staged image carries both)
      engine.execute("BEGIN")
      engine.execute(
        "ALTER TABLE main.txn_alt ALTER COLUMN a TYPE VARCHAR USING concat('x', a)")
      engine.execute("INSERT INTO main.txn_alt VALUES ('x9')")
      engine.execute("COMMIT")
      val vals = spark.table("main.txn_alt").collect().map(_.getString(0)).toSeq.sorted
      assert(vals == Seq("x1", "x2", "x9"), vals)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_alt")
    }
  }

  test("transactional ALTER ADD COLUMNS; concurrent append aborts an altered commit") {
    fresh("txn_alt2")
    engine.execute("CREATE TABLE main.txn_alt2 (a BIGINT) USING parquet")
    try {
      engine.execute("INSERT INTO main.txn_alt2 VALUES (1)")
      // ADD COLUMNS inside a txn: visible in-txn, rolled back cleanly
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.txn_alt2 ADD COLUMNS (b INT)")
      engine.execute("INSERT INTO main.txn_alt2 VALUES (2, 20)")
      val r = engine.execute(
        "SELECT a, b FROM main.txn_alt2 WHERE b IS NOT NULL").df.head()
      assert(r.getLong(0) == 2L && r.getInt(1) == 20)
      engine.execute("ROLLBACK")
      assert(spark.table("main.txn_alt2").schema.fieldNames.toSeq == Seq("a"))
      // an ALTERED staged image cannot replay concurrent appends (the
      // appended files carry the OLD schema) — the commit aborts
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.txn_alt2 ALTER COLUMN a TYPE STRING")
      val other = new Thread(() => engine.execute("INSERT INTO main.txn_alt2 VALUES (7)"))
      other.start(); other.join()
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("serialization conflict"), e.getMessage)
      // the base kept its schema and the concurrent append
      assert(spark.table("main.txn_alt2").schema("a").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(spark.table("main.txn_alt2").count() == 2L)
      // ALTER of a table CREATED in the same txn stays on the rename path
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.txn_alt3 (x INT)")
      engine.execute("INSERT INTO main.txn_alt3 VALUES (5)")
      engine.execute("ALTER TABLE main.txn_alt3 ALTER COLUMN x TYPE STRING")
      engine.execute("COMMIT")
      assert(spark.table("main.txn_alt3").schema("x").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(spark.table("main.txn_alt3").head().getString(0) == "5")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txn_alt2")
      engine.execute("DROP TABLE IF EXISTS main.txn_alt3")
    }
  }

  test("reading an in-txn-altered table through a view fails clean (declared)") {
    fresh("txn_altv")
    engine.execute("CREATE TABLE main.txn_altv (a BIGINT) USING parquet")
    engine.execute("DROP VIEW IF EXISTS main.txn_altv_v")
    try {
      engine.execute("INSERT INTO main.txn_altv VALUES (1)")
      engine.execute("CREATE VIEW main.txn_altv_v AS SELECT * FROM main.txn_altv")
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.txn_altv ALTER COLUMN a TYPE STRING")
      val e = intercept[IllegalArgumentException] {
        engine.execute("SELECT * FROM main.txn_altv_v").df.collect() }
      assert(e.getMessage.contains("view"), e.getMessage)
      engine.execute("ROLLBACK")
      // outside the txn the view works again
      assert(engine.execute("SELECT a FROM main.txn_altv_v").df.head().getLong(0) == 1L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.txn_altv_v")
      engine.execute("DROP TABLE IF EXISTS main.txn_altv")
    }
  }

  test("engine-internal staging suffixes are reserved table names (ADVICE r11)") {
    Seq("main.user__cow", "main.t__txn7", "main.t__txn7delta", "main.x__oc_stage",
      "main.y__alter").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        engine.execute(s"CREATE TABLE $bad (a INT)") }
      assert(e.getMessage.contains("reserved"), s"$bad → ${e.getMessage}")
    }
    // RENAME TO a reserved name is rejected too
    fresh("rsv_t")
    engine.execute("CREATE TABLE main.rsv_t (a INT)")
    try {
      val e = intercept[IllegalArgumentException] {
        engine.execute("ALTER TABLE main.rsv_t RENAME TO main.rsv_t__cow") }
      assert(e.getMessage.contains("reserved"), e.getMessage)
    } finally engine.execute("DROP TABLE IF EXISTS main.rsv_t")
  }

  test("publish journal rolls a crashed COMMIT forward at boot (r12)") {
    // Simulate a SIGKILL mid-INSERT-OVERWRITE: the base dir is damaged
    // (files half-deleted), the staged image and the publish journal
    // are still on disk. Boot recovery must rebuild the base FROM the
    // staged image (roll forward), not reclaim it as stale staging —
    // the staged image is the only intact copy at that point.
    val tmp = java.nio.file.Files.createTempDirectory("graft_jr").toString
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def dir(t: String) = new java.io.File(wh, s"main.db/$t")
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    spark.sql("DROP TABLE IF EXISTS main.jrt")
    spark.sql("DROP TABLE IF EXISTS main.jrt__txn901")
    spark.sql("DROP TABLE IF EXISTS main.jrt__txn902delta")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.jrt (k INT, v STRING)")
      e1.execute("INSERT INTO main.jrt VALUES (1,'old'), (2,'old'), (3,'old')")
      // staged overwrite image (what the txn would publish)
      spark.sql("CREATE TABLE main.jrt__txn901 USING parquet AS " +
        "SELECT k, 'new' AS v FROM main.jrt")
      // the crash: half the base's data files are already gone
      dir("jrt").listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).take(1).foreach(_.delete())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_1.tsv"),
        "overwrite\tmain.jrt\tmain.jrt__txn901\t\t".getBytes("UTF-8"))
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      spark.catalog.refreshTable("main.jrt") // fresh-JVM boot has no cache
      val rows = spark.table("main.jrt").collect()
      assert(rows.length == 3 && rows.forall(_.getString(1) == "new"),
        rows.mkString(","))
      assert(!new java.io.File(tmp, "publish_journal_1.tsv").exists())
      assert(!dir("jrt__txn901").exists(), "consumed staging reclaimed")

      // append roll-forward: a stray partial-append file must go, the
      // delta must land exactly once
      val base = dir("jrt").listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName)
      spark.sql("CREATE TABLE main.jrt__txn902delta USING parquet AS " +
        "SELECT 9 AS k, 'app' AS v")
      val deltaFile = dir("jrt__txn902delta").listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).head
      java.nio.file.Files.copy(deltaFile.toPath,   // the crashed partial append
        new java.io.File(dir("jrt"), deltaFile.getName).toPath)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_2.tsv"),
        ("append\tmain.jrt\tmain.jrt__txn902delta\t" +
          base.mkString(",") + "\t").getBytes("UTF-8"))
      val e3 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e3.loadPersisted()
      spark.catalog.refreshTable("main.jrt")
      val rows2 = spark.table("main.jrt").orderBy("k").collect()
      assert(rows2.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 9), rows2.mkString(","))

      // drop + rename roll-forward (a drop-then-recreate commit that
      // crashed before either op ran): the old dir must go, the staged
      // dir must take the name, and the journaled constraint line must
      // install durably
      spark.sql("CREATE TABLE main.jrt__txn903 USING parquet AS " +
        "SELECT 7 AS k, 'recreated' AS v")
      val cl = java.util.Base64.getEncoder.encodeToString(
        "main.jrt\tk\t\t\t\t\t".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_3.tsv"),
        (s"drop\tmain.jrt\t\t\t\nrename\tmain.jrt\tmain.jrt__txn903\t\t$cl")
          .getBytes("UTF-8"))
      val e4 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e4.loadPersisted()
      spark.catalog.refreshTable("main.jrt")
      val rows3 = spark.table("main.jrt").collect()
      assert(rows3.length == 1 && rows3.head.getString(1) == "recreated",
        rows3.mkString(","))
      // the journaled PK registration survived into constraints.tsv
      val tsv = scala.io.Source.fromFile(s"$tmp/constraints.tsv").mkString
      assert(tsv.contains("main.jrt\tk"), tsv)

      // replace roll-forward (transactional ALTER publish that crashed
      // between DROP and RENAME — target dir already gone)
      spark.sql("DROP TABLE IF EXISTS main.jrt")
      spark.sql("CREATE TABLE main.jrt USING parquet AS SELECT 1 AS k")
      spark.sql("CREATE TABLE main.jrt__txn904 USING parquet AS " +
        "SELECT 2 AS k, 'extra' AS e")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_4.tsv"),
        "replace\tmain.jrt\tmain.jrt__txn904\t\t".getBytes("UTF-8"))
      val e5 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e5.loadPersisted()
      // assert on the dir directly: the shared-session catalog keeps
      // the pre-replace schema, which a fresh JVM's boot would not
      val rows4 = spark.read.parquet(dir("jrt").getAbsolutePath).collect()
      assert(rows4.length == 1 && rows4.head.schema.fieldNames.toSeq == Seq("k", "e"),
        rows4.mkString(","))
    } finally {
      spark.sql("DROP TABLE IF EXISTS main.jrt")
      spark.sql("DROP TABLE IF EXISTS main.jrt__txn901")
      spark.sql("DROP TABLE IF EXISTS main.jrt__txn902delta")
      spark.sql("DROP TABLE IF EXISTS main.jrt__txn903")
      spark.sql("DROP TABLE IF EXISTS main.jrt__txn904")
    }
  }

  test("registry files reload and re-persist byte-identical") {
    // one literal line per registry in the on-disk format; booting them
    // and then rewriting each file (a DDL of an object sorting last)
    // must keep every loaded line byte-for-byte
    val tmp = Files.createTempDirectory("graft-reg").toFile.getAbsolutePath
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val files = Seq(
      "users.tsv" -> Seq("alice\tSCRAM-SHA-256$4096:c2FsdA==$c3RvcmVk:c2VydmVy"),
      "sequences.tsv" -> Seq("main.a_s\t17\t-2"),
      "enums.tsv" -> Seq("a_mood\tsad,ok,happy"),
      "macros.tsv" -> Seq(s"a_add\tS\tx,y:=${b64("1")}\t${b64("x + y")}"),
      "indexes.tsv" -> Seq("a_idx\tmain.a_t\tk,v\tU"),
      "constraints.tsv" -> Seq(s"main.a_t\tk\tv\t\t\t\t${b64("k > 0")}",
        "main.b_t\t\t\t\tp>main.a_t:k\tm:a_mood\t"))
    files.foreach { case (f, ls) =>
      Files.write(java.nio.file.Paths.get(tmp, f), ls.mkString("\n").getBytes("UTF-8"))
    }
    fresh("zz_t")
    try {
      val e = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e.loadPersisted()
      e.execute("CREATE USER zz WITH PASSWORD 'pw'")
      e.execute("CREATE SEQUENCE main.zz_s")
      e.execute("CREATE TYPE zz_mood AS ENUM ('x')")
      e.execute("CREATE MACRO zz_m(x) AS x + 1")
      e.execute("CREATE TABLE main.zz_t (k INT PRIMARY KEY)")
      e.execute("CREATE INDEX zz_idx ON main.zz_t (k)")
      files.foreach { case (f, ls) =>
        val got = new String(Files.readAllBytes(java.nio.file.Paths.get(tmp, f)), "UTF-8")
          .split("\n").toSeq
        assert(got.init == ls && got.last.matches("(main\\.)?zz.*"), s"$f: $got")
      }
    } finally spark.sql("DROP TABLE IF EXISTS main.zz_t")
  }

  test("auto-commit swaps leave no publish journal and no staging dir behind") {
    // UPDATE, DELETE, upsert, ALTER COLUMN TYPE and CHECKPOINT each swap
    // a staged image into a committed table under a one-op publish
    // journal; a successful swap consumes both the journal and the stage
    val tmp = Files.createTempDirectory("graft-swap").toFile.getAbsolutePath
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    spark.sql("DROP DATABASE IF EXISTS swp CASCADE")
    val e = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
    def leftovers(): Seq[String] =
      new java.io.File(tmp).list().toSeq.filter(_.startsWith("publish_journal_")) ++
        Seq("swp.db", "main.db").flatMap(d =>
          Option(new java.io.File(wh, d).list()).getOrElse(Array.empty[String]).toSeq
            .filter(n => n.matches("(swp_)?(t|vw)__.*"))
            .filter(n => n.endsWith("__cow") || n.endsWith("__alter") || n.contains("__oc_")))
    def rows(): Seq[String] = e.execute("SELECT k, v FROM swp.t ORDER BY k").df
      .collect().map(r => s"${r.get(0)}:${r.get(1)}").toSeq
    try {
      e.execute("CREATE SCHEMA swp")
      e.execute("CREATE TABLE swp.t (k INT PRIMARY KEY, v STRING)")
      for (i <- 1 to 4) e.execute(s"INSERT INTO swp.t VALUES ($i, 'v$i')")
      assert(e.execute("UPDATE swp.t SET v = 'u' WHERE k <= 2").tag == "UPDATE 2")
      assert(rows() == Seq("1:u", "2:u", "3:v3", "4:v4"))
      assert(leftovers().isEmpty, leftovers())
      assert(e.execute("DELETE FROM swp.t WHERE k = 4").tag == "DELETE 1")
      assert(rows() == Seq("1:u", "2:u", "3:v3"))
      assert(leftovers().isEmpty, leftovers())
      e.execute("INSERT INTO swp.t VALUES (3, 'x'), (5, 'y') " +
        "ON CONFLICT (k) DO UPDATE SET v = excluded.v")
      assert(rows() == Seq("1:u", "2:u", "3:x", "5:y"))
      assert(leftovers().isEmpty, leftovers())
      e.execute("ALTER TABLE swp.t ALTER COLUMN k TYPE BIGINT")
      assert(spark.table("swp.t").schema("k").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(rows() == Seq("1:u", "2:u", "3:x", "5:y"))
      assert(leftovers().isEmpty, leftovers())
      // the PK registration survived the replace
      intercept[IllegalArgumentException] { e.execute("INSERT INTO swp.t VALUES (1, 'dup')") }
      // a swap refused before it touched anything (a view is no table)
      // discards its stage and journal too
      e.execute("CREATE VIEW swp.vw AS SELECT * FROM swp.t")
      intercept[Exception] { e.execute("UPDATE swp.vw SET v = 'no'") }
      assert(leftovers().isEmpty, leftovers())
      for (i <- 6 to 8) e.execute(s"INSERT INTO swp.t VALUES ($i, 'w$i')")
      assert(spark.table("swp.t").inputFiles.length > 1)
      e.execute("CHECKPOINT swp")
      assert(spark.table("swp.t").inputFiles.length == 1)
      assert(rows() == Seq("1:u", "2:u", "3:x", "5:y", "6:w6", "7:w7", "8:w8"))
      assert(leftovers().isEmpty, leftovers())
    } finally spark.sql("DROP DATABASE IF EXISTS swp CASCADE")
  }

  test("disjoint-row rewrites both commit (r12 row granularity)") {
    fresh("txrr")
    engine.execute("CREATE TABLE main.txrr (id INT PRIMARY KEY, v STRING)")
    try {
      engine.execute("INSERT INTO main.txrr VALUES (1,'a'), (2,'b'), (3,'c')")
      engine.execute("BEGIN")
      engine.execute("UPDATE main.txrr SET v = 'T1' WHERE id = 1")
      var otherErr: Throwable = null
      val other = new Thread(() => {
        try engine.execute("UPDATE main.txrr SET v = 'T2' WHERE id = 2")
        catch { case e: Throwable => otherErr = e }
      })
      other.start(); other.join()
      assert(otherErr == null, String.valueOf(otherErr))
      // DuckDB's row-level MVCC commits both — so do we now
      assert(engine.execute("COMMIT").tag == "COMMIT")
      val rows = engine.execute("SELECT id, v FROM main.txrr ORDER BY id").df
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows == Seq((1, "T1"), (2, "T2"), (3, "c")), rows)

      // disjoint DELETE vs UPDATE commute too
      engine.execute("BEGIN")
      engine.execute("DELETE FROM main.txrr WHERE id = 3")
      val other2 = new Thread(() => engine.execute(
        "UPDATE main.txrr SET v = 'T3' WHERE id = 1"))
      other2.start(); other2.join()
      assert(engine.execute("COMMIT").tag == "COMMIT")
      val rows2 = engine.execute("SELECT id, v FROM main.txrr ORDER BY id").df
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows2 == Seq((1, "T3"), (2, "T2")), rows2)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txrr")
    }
  }

  test("overlapping-row rewrites still abort; so do rewrite+append mixes") {
    fresh("txro")
    engine.execute("CREATE TABLE main.txro (id INT PRIMARY KEY, v STRING)")
    try {
      engine.execute("INSERT INTO main.txro VALUES (1,'a'), (2,'b')")
      // same-key overlap: first committer wins, second aborts
      engine.execute("BEGIN")
      engine.execute("UPDATE main.txro SET v = 'mine' WHERE id = 1")
      val o1 = new Thread(() => engine.execute(
        "UPDATE main.txro SET v = 'theirs' WHERE id = 1"))
      o1.start(); o1.join()
      val e1 = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e1.getMessage.contains("serialization conflict"), e1.getMessage)
      assert(engine.execute("SELECT v FROM main.txro WHERE id = 1").df
        .head().getString(0) == "theirs")
      // disjoint rewrite + an interleaved APPEND: the merge cannot
      // attribute appended rows, so the staged commit aborts (declared)
      engine.execute("BEGIN")
      engine.execute("UPDATE main.txro SET v = 'M' WHERE id = 1")
      val o2 = new Thread(() => {
        engine.execute("UPDATE main.txro SET v = 'X' WHERE id = 2")
        engine.execute("INSERT INTO main.txro VALUES (9, 'new')")
      })
      o2.start(); o2.join()
      val e2 = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e2.getMessage.contains("serialization conflict"), e2.getMessage)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txro")
    }
  }

  test("non-deterministic predicates poison the change set (no mis-attributed commute)") {
    fresh("txnd")
    engine.execute("CREATE TABLE main.txnd (id INT PRIMARY KEY, v INT)")
    try {
      engine.execute("INSERT INTO main.txnd VALUES (1, 10), (2, 20), (3, 30)")
      // a rand() predicate re-evaluates differently between the key
      // capture and the swap — the captured keys would mis-attribute
      // the change, so the set must be poisoned: a concurrent
      // KEY-DISJOINT rewrite then aborts this txn instead of merging
      engine.execute("BEGIN")
      engine.execute("UPDATE main.txnd SET v = 99 WHERE rand() < 2") // always true, but non-deterministic
      val other = new Thread(() => engine.execute(
        "UPDATE main.txnd SET v = 7 WHERE id = 2"))
      other.start(); other.join()
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("serialization conflict"), e.getMessage)
      assert(engine.execute("SELECT v FROM main.txnd WHERE id = 2").df
        .head().getInt(0) == 7)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txnd")
    }
  }

  test("disjoint-key merge still re-validates non-PK UNIQUE collisions") {
    fresh("txru")
    engine.execute("CREATE TABLE main.txru (id INT PRIMARY KEY, u INT UNIQUE)")
    try {
      engine.execute("INSERT INTO main.txru VALUES (1, 10), (2, 20)")
      engine.execute("BEGIN")
      engine.execute("UPDATE main.txru SET u = 55 WHERE id = 1")
      // concurrent, KEY-disjoint rewrite takes the same UNIQUE value —
      // both were valid against their snapshots (classic write skew on
      // a unique column); the merge's recheck must abort ours
      val other = new Thread(() => engine.execute(
        "UPDATE main.txru SET u = 55 WHERE id = 2"))
      other.start(); other.join()
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("unique"), e.getMessage)
      val rows = engine.execute("SELECT id, u FROM main.txru ORDER BY id").df
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(rows == Seq((1, 10), (2, 55)), rows)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txru")
    }
  }

  test("disjoint rewrites commute on a UNIQUE-keyed table without a PK (r12b)") {
    fresh("txuq")
    engine.execute("CREATE TABLE main.txuq (id INT UNIQUE, v STRING)")
    try {
      engine.execute("INSERT INTO main.txuq VALUES (1,'a'), (2,'b'), (3,'c')")
      engine.execute("BEGIN")
      engine.execute("UPDATE main.txuq SET v = 'T1' WHERE id = 1")
      val other = new Thread(() =>
        engine.execute("UPDATE main.txuq SET v = 'T2' WHERE id = 2"))
      other.start(); other.join()
      engine.execute("COMMIT") // commutes: disjoint identity keys
      val rows = engine.execute("SELECT id, v FROM main.txuq ORDER BY id").df
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows == Seq((1, "T1"), (2, "T2"), (3, "c")), rows)

      // a NULL identity tuple cannot attribute a row: the commute is
      // declined and the concurrent rewrite aborts this txn instead
      engine.execute("INSERT INTO main.txuq VALUES (NULL,'n1')")
      engine.execute("BEGIN")
      engine.execute("UPDATE main.txuq SET v = 'nx' WHERE id IS NULL")
      val o2 = new Thread(() =>
        engine.execute("UPDATE main.txuq SET v = 'T3' WHERE id = 3"))
      o2.start(); o2.join()
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("serialization"), e.getMessage)
      val rows2 = engine.execute(
        "SELECT v FROM main.txuq WHERE id = 3 OR id IS NULL ORDER BY v").df
        .collect().map(_.getString(0)).toSeq
      assert(rows2 == Seq("T3", "n1"), rows2)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.txuq")
    }
  }

  // ---- ALTER TABLE … RENAME TO (r12b) --------------------------------------

  test("rename moves the constraint registration with the table") {
    fresh("rnm_a"); fresh("rnm_b")
    engine.execute("CREATE TABLE main.rnm_a (k INT PRIMARY KEY, v STRING)")
    try {
      engine.execute("INSERT INTO main.rnm_a VALUES (1, 'a')")
      engine.execute("ALTER TABLE main.rnm_a RENAME TO main.rnm_b")
      // the PK follows the table to its new name …
      val dup = intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.rnm_b VALUES (1, 'dup')")
      }
      assert(dup.getMessage.contains("unique"), dup.getMessage)
      // … and a RECREATED old name does NOT inherit the stale set
      engine.execute("CREATE TABLE main.rnm_a (k INT, v STRING)")
      engine.execute("INSERT INTO main.rnm_a VALUES (7, 'x')")
      engine.execute("INSERT INTO main.rnm_a VALUES (7, 'x')") // no PK here: fine
      assert(engine.execute("SELECT count(*) FROM main.rnm_a").df.head().getLong(0) == 2L)
    } finally {
      engine.execute("DROP TABLE IF EXISTS main.rnm_a")
      engine.execute("DROP TABLE IF EXISTS main.rnm_b")
    }
  }

  test("rename rekeys FK registrations that reference the old name") {
    fresh("rnm_p"); fresh("rnm_p2"); fresh("rnm_c")
    engine.execute("CREATE TABLE main.rnm_p (k INT PRIMARY KEY)")
    engine.execute("INSERT INTO main.rnm_p VALUES (1)")
    engine.execute(
      "CREATE TABLE main.rnm_c (ck INT, FOREIGN KEY (ck) REFERENCES main.rnm_p (k))")
    try {
      engine.execute("ALTER TABLE main.rnm_p RENAME TO main.rnm_p2")
      // child inserts still validate against the (renamed) parent
      engine.execute("INSERT INTO main.rnm_c VALUES (1)")
      val bad = intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.rnm_c VALUES (99)")
      }
      assert(bad.getMessage.toLowerCase.contains("foreign key"), bad.getMessage)
      // and parent deletes still RESTRICT through the new name
      val del = intercept[IllegalArgumentException] {
        engine.execute("DELETE FROM main.rnm_p2 WHERE k = 1")
      }
      assert(del.getMessage.toLowerCase.contains("foreign key"), del.getMessage)
    } finally {
      engine.execute("DROP TABLE IF EXISTS main.rnm_c")
      engine.execute("DROP TABLE IF EXISTS main.rnm_p")
      engine.execute("DROP TABLE IF EXISTS main.rnm_p2")
    }
  }

  test("rename target conflicts and IF EXISTS behave like the catalog says") {
    fresh("rnm_e1"); fresh("rnm_e2")
    engine.execute("CREATE TABLE main.rnm_e1 (a INT)")
    engine.execute("CREATE TABLE main.rnm_e2 (a INT)")
    try {
      intercept[Throwable] {
        engine.execute("ALTER TABLE main.rnm_e1 RENAME TO main.rnm_e2")
      }
      intercept[Throwable] {
        engine.execute("ALTER TABLE main.rnm_nope RENAME TO main.rnm_e3")
      }
      // IF EXISTS on an unknown source: clean no-op
      engine.execute("ALTER TABLE IF EXISTS main.rnm_nope RENAME TO main.rnm_e3")
      intercept[IllegalArgumentException] {
        engine.execute("ALTER TABLE main.rnm_e1 RENAME TO other_db.rnm_x")
      }
    } finally {
      engine.execute("DROP TABLE IF EXISTS main.rnm_e1")
      engine.execute("DROP TABLE IF EXISTS main.rnm_e2")
    }
  }

  test("transactional RENAME: ROLLBACK forgets it, COMMIT publishes it") {
    fresh("rnt_a"); fresh("rnt_b")
    engine.execute("CREATE TABLE main.rnt_a (k INT PRIMARY KEY, v STRING)")
    engine.execute("INSERT INTO main.rnt_a VALUES (1, 'a')")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rnt_a RENAME TO main.rnt_b")
      // in-txn: the new name reads the table, the old name is gone
      assert(engine.execute("SELECT v FROM main.rnt_b").df.head().getString(0) == "a")
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM main.rnt_a").df.collect()
      }
      assert(engine.txnStatus == 'T') // binder-class: block stays usable
      // constraints follow the new name mid-txn
      val dup = intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.rnt_b VALUES (1, 'dup')")
      }
      assert(dup.getMessage.contains("unique"), dup.getMessage)
      engine.execute("ROLLBACK") // NOT "cannot undo DDL": the rename was staged
      assert(spark.catalog.tableExists("main.rnt_a"))
      assert(!spark.catalog.tableExists("main.rnt_b"))
      // the base registration never moved
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.rnt_a VALUES (1, 'dup')")
      }

      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rnt_a RENAME TO main.rnt_b")
      engine.execute("INSERT INTO main.rnt_b VALUES (2, 'b')") // write via new name
      engine.execute("UPDATE main.rnt_b SET v = 'A' WHERE k = 1")
      engine.execute("COMMIT")
      assert(!spark.catalog.tableExists("main.rnt_a"))
      val rows = engine.execute("SELECT k, v FROM main.rnt_b ORDER BY k").df
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows == Seq((1, "A"), (2, "b")), rows)
      // committed registration followed the rename
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.rnt_b VALUES (2, 'dup')")
      }
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.rnt_a")
      engine.execute("DROP TABLE IF EXISTS main.rnt_b")
    }
  }

  test("transactional RENAME: chains collapse, rename-back cancels") {
    fresh("rnc_a"); fresh("rnc_b"); fresh("rnc_c")
    engine.execute("CREATE TABLE main.rnc_a (x INT)")
    engine.execute("INSERT INTO main.rnc_a VALUES (5)")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rnc_a RENAME TO main.rnc_b")
      engine.execute("ALTER TABLE main.rnc_b RENAME TO main.rnc_c") // collapses to a→c
      assert(engine.execute("SELECT x FROM main.rnc_c").df.head().getInt(0) == 5)
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM main.rnc_b").df.collect()
      }
      engine.execute("COMMIT")
      assert(spark.catalog.tableExists("main.rnc_c") &&
        !spark.catalog.tableExists("main.rnc_a") &&
        !spark.catalog.tableExists("main.rnc_b"))

      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rnc_c RENAME TO main.rnc_a")
      engine.execute("ALTER TABLE main.rnc_a RENAME TO main.rnc_c") // back: net no-op
      assert(engine.execute("SELECT x FROM main.rnc_c").df.head().getInt(0) == 5)
      engine.execute("COMMIT")
      assert(spark.catalog.tableExists("main.rnc_c"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.rnc_a")
      engine.execute("DROP TABLE IF EXISTS main.rnc_b")
      engine.execute("DROP TABLE IF EXISTS main.rnc_c")
    }
  }

  test("re-CREATE of a renamed-away name is cleanly rejected in-txn") {
    fresh("rnr_a"); fresh("rnr_b")
    engine.execute("CREATE TABLE main.rnr_a (x INT)")
    engine.execute("INSERT INTO main.rnr_a VALUES (1)")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rnr_a RENAME TO main.rnr_b")
      // re-creating the freed name in the SAME txn would make the
      // renamed base's and the new table's overlays collide — declared
      // unsupported, rejected with a clear error (separate txns work)
      val e = intercept[IllegalArgumentException] {
        engine.execute("CREATE TABLE main.rnr_a (s STRING)")
      }
      assert(e.getMessage.contains("RENAME"), e.getMessage)
      // the unsupported-DDL guard aborts the block (same contract as
      // guardStagedDdl); roll back and run the steps in separate txns
      engine.execute("ROLLBACK")
      engine.execute("ALTER TABLE main.rnr_a RENAME TO main.rnr_b")
      // …and the SEPARATE-transaction sequence works fine
      engine.execute("CREATE TABLE main.rnr_a (s STRING)")
      engine.execute("INSERT INTO main.rnr_a VALUES ('new')")
      assert(engine.execute("SELECT s FROM main.rnr_a").df.head().getString(0) == "new")
      assert(engine.execute("SELECT x FROM main.rnr_b").df.head().getInt(0) == 1)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.rnr_a")
      engine.execute("DROP TABLE IF EXISTS main.rnr_b")
    }
  }

  test("transactional RENAME: drop-via-new-name, created-table rename") {
    fresh("rnd_a"); fresh("rnd_b"); fresh("rnd_c")
    engine.execute("CREATE TABLE main.rnd_a (x INT)")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rnd_a RENAME TO main.rnd_b")
      engine.execute("DROP TABLE main.rnd_b") // resolves to the original
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM main.rnd_b").df.collect()
      }
      engine.execute("COMMIT")
      assert(!spark.catalog.tableExists("main.rnd_a") &&
        !spark.catalog.tableExists("main.rnd_b"))

      // a table CREATED in the txn renames by rekeying its overlay
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.rnd_c (y INT)")
      engine.execute("INSERT INTO main.rnd_c VALUES (9)")
      engine.execute("ALTER TABLE main.rnd_c RENAME TO main.rnd_a")
      assert(engine.execute("SELECT y FROM main.rnd_a").df.head().getInt(0) == 9)
      engine.execute("COMMIT")
      assert(engine.execute("SELECT y FROM main.rnd_a").df.head().getInt(0) == 9)
      assert(!spark.catalog.tableExists("main.rnd_c"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.rnd_a")
      engine.execute("DROP TABLE IF EXISTS main.rnd_b")
      engine.execute("DROP TABLE IF EXISTS main.rnd_c")
    }
  }

  test("transactional RENAME: concurrent create of the target aborts the commit") {
    fresh("rnx_a"); fresh("rnx_b")
    engine.execute("CREATE TABLE main.rnx_a (x INT)")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rnx_a RENAME TO main.rnx_b")
      val other = new Thread(() =>
        engine.execute("CREATE TABLE main.rnx_b (z STRING)"))
      other.start(); other.join()
      val e = intercept[IllegalArgumentException] { engine.execute("COMMIT") }
      assert(e.getMessage.contains("serialization"), e.getMessage)
      // the loser rolled back: the original is intact, the winner kept
      assert(spark.catalog.tableExists("main.rnx_a"))
      assert(spark.table("main.rnx_b").schema.fieldNames.toSeq == Seq("z"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.rnx_a")
      engine.execute("DROP TABLE IF EXISTS main.rnx_b")
    }
  }

  // ---- transactional VIEW DDL (r12b) ---------------------------------------

  test("transactional CREATE VIEW: ROLLBACK forgets, COMMIT publishes") {
    fresh("tv_t")
    engine.execute("DROP VIEW IF EXISTS main.tv_v")
    engine.execute("CREATE TABLE main.tv_t (x INT)")
    engine.execute("INSERT INTO main.tv_t VALUES (1), (2)")
    try {
      engine.execute("BEGIN")
      engine.execute("CREATE VIEW main.tv_v AS SELECT x * 10 AS y FROM main.tv_t")
      // in-txn reads substitute the view body…
      assert(engine.execute("SELECT sum(y) FROM main.tv_v").df.head().getLong(0) == 30L)
      // …and the body sees the txn's own overlay
      engine.execute("INSERT INTO main.tv_t VALUES (3)")
      assert(engine.execute("SELECT sum(y) FROM main.tv_v").df.head().getLong(0) == 60L)
      engine.execute("ROLLBACK") // no "cannot undo DDL": the view was staged
      assert(!spark.catalog.tableExists("main.tv_v"))

      engine.execute("BEGIN")
      engine.execute("CREATE VIEW main.tv_v AS SELECT x FROM main.tv_t WHERE x > 1")
      engine.execute("COMMIT")
      assert(engine.execute("SELECT count(*) FROM main.tv_v").df.head().getLong(0) == 1L)
      // duplicate name: binder-class, block stays usable; IF NOT EXISTS no-ops
      engine.execute("BEGIN")
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("CREATE VIEW main.tv_v AS SELECT 1")
      }
      assert(engine.txnStatus == 'T')
      engine.execute("CREATE VIEW IF NOT EXISTS main.tv_v AS SELECT 1")
      engine.execute("ROLLBACK")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.tv_v")
      engine.execute("DROP TABLE IF EXISTS main.tv_t")
    }
  }

  test("transactional DROP VIEW and OR REPLACE semantics") {
    fresh("tvd_t")
    engine.execute("DROP VIEW IF EXISTS main.tvd_v")
    engine.execute("CREATE TABLE main.tvd_t (x INT)")
    engine.execute("INSERT INTO main.tvd_t VALUES (7)")
    engine.execute("CREATE VIEW main.tvd_v AS SELECT x FROM main.tvd_t")
    try {
      engine.execute("BEGIN")
      engine.execute("DROP VIEW main.tvd_v")
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM main.tvd_v").df.collect()
      }
      assert(engine.txnStatus == 'T')
      engine.execute("ROLLBACK")
      assert(engine.execute("SELECT x FROM main.tvd_v").df.head().getInt(0) == 7)

      // OR REPLACE in-txn: reads see the new text, ROLLBACK restores old
      engine.execute("BEGIN")
      engine.execute("CREATE OR REPLACE VIEW main.tvd_v AS SELECT x + 1 AS x FROM main.tvd_t")
      assert(engine.execute("SELECT x FROM main.tvd_v").df.head().getInt(0) == 8)
      engine.execute("ROLLBACK")
      assert(engine.execute("SELECT x FROM main.tvd_v").df.head().getInt(0) == 7)

      // replace-then-drop drops the NAME (not back to the old text)
      engine.execute("BEGIN")
      engine.execute("CREATE OR REPLACE VIEW main.tvd_v AS SELECT 99 AS x")
      engine.execute("DROP VIEW main.tvd_v")
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM main.tvd_v").df.collect()
      }
      engine.execute("COMMIT")
      assert(!spark.catalog.tableExists("main.tvd_v"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.tvd_v")
      engine.execute("DROP TABLE IF EXISTS main.tvd_t")
    }
  }

  test("in-txn view over a created table and over a renamed table") {
    fresh("tvc_t"); fresh("tvc_r"); fresh("tvc_r2")
    engine.execute("DROP VIEW IF EXISTS main.tvc_v")
    engine.execute("DROP VIEW IF EXISTS main.tvc_w")
    engine.execute("CREATE TABLE main.tvc_r (k INT)")
    engine.execute("INSERT INTO main.tvc_r VALUES (5)")
    try {
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.tvc_t (a INT)")
      engine.execute("INSERT INTO main.tvc_t VALUES (4)")
      engine.execute("CREATE VIEW main.tvc_v AS SELECT a FROM main.tvc_t")
      engine.execute("ALTER TABLE main.tvc_r RENAME TO main.tvc_r2")
      engine.execute("CREATE VIEW main.tvc_w AS SELECT k FROM main.tvc_r2")
      assert(engine.execute("SELECT a FROM main.tvc_v").df.head().getInt(0) == 4)
      assert(engine.execute("SELECT k FROM main.tvc_w").df.head().getInt(0) == 5)
      engine.execute("COMMIT")
      // post-commit the views bind against the real catalog objects
      assert(engine.execute("SELECT a FROM main.tvc_v").df.head().getInt(0) == 4)
      assert(engine.execute("SELECT k FROM main.tvc_w").df.head().getInt(0) == 5)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.tvc_v")
      engine.execute("DROP VIEW IF EXISTS main.tvc_w")
      engine.execute("DROP TABLE IF EXISTS main.tvc_t")
      engine.execute("DROP TABLE IF EXISTS main.tvc_r")
      engine.execute("DROP TABLE IF EXISTS main.tvc_r2")
    }
  }

  test("view journal ops (vcreate/vdrop) roll forward at boot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_vj").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    fresh("vj_t")
    spark.sql("DROP VIEW IF EXISTS main.vj_v")
    spark.sql("DROP VIEW IF EXISTS main.vj_old")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.vj_t (x INT)")
      e1.execute("INSERT INTO main.vj_t VALUES (6)")
      e1.execute("CREATE VIEW main.vj_old AS SELECT x FROM main.vj_t")
      // crash mid-commit: the journal carries a vdrop of the old view
      // and a vcreate of a new one, neither applied to the catalog yet
      def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
      val stmt = "CREATE OR REPLACE VIEW main.vj_v AS SELECT x * 2 AS d FROM main.vj_t"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_7.tsv"),
        s"vdrop\tmain.vj_old\t\t\t\nvcreate\tmain.vj_v\t\t\t${b64(stmt)}"
          .getBytes("UTF-8"))
      spark.sql("DROP VIEW IF EXISTS main.vj_old") // a fresh JVM has no catalog
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted() // rewrites views.sql, then replays it
      assert(e2.execute("SELECT d FROM main.vj_v").df.head().getInt(0) == 12)
      val vs = scala.io.Source.fromFile(s"$tmp/views.sql").mkString
      assert(vs.contains("main.vj_v") && !vs.contains("vj_old"), vs)
    } finally {
      spark.sql("DROP VIEW IF EXISTS main.vj_v")
      spark.sql("DROP VIEW IF EXISTS main.vj_old")
      spark.sql("DROP TABLE IF EXISTS main.vj_t")
    }
  }

  test("view intents: drop-then-recreate, self-reference, dialect bodies, collisions") {
    fresh("vx_t")
    engine.execute("DROP VIEW IF EXISTS main.vx_v")
    engine.execute("CREATE TABLE main.vx_t (x INT)")
    engine.execute("INSERT INTO main.vx_t VALUES (10)")
    engine.execute("CREATE VIEW main.vx_v AS SELECT x FROM main.vx_t")
    try {
      // DROP then re-CREATE in one txn: reads serve the NEW body
      engine.execute("BEGIN")
      engine.execute("DROP VIEW main.vx_v")
      engine.execute("CREATE VIEW main.vx_v AS SELECT x + 5 AS x FROM main.vx_t")
      assert(engine.execute("SELECT x FROM main.vx_v").df.head().getInt(0) == 15)
      engine.execute("COMMIT")
      assert(engine.execute("SELECT x FROM main.vx_v").df.head().getInt(0) == 15)

      // self-referential OR REPLACE is rejected binder-class, exactly
      // like Spark's non-txn cyclic-view check (its COMMIT text could
      // never publish); the block stays usable
      engine.execute("BEGIN")
      val cyc = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute(
          "CREATE OR REPLACE VIEW main.vx_v AS SELECT x + 1 AS x FROM main.vx_v")
      }
      assert(cyc.getMessage.contains("recursive"), cyc.getMessage)
      assert(engine.txnStatus == 'T')
      engine.execute("ROLLBACK")
      assert(engine.execute("SELECT x FROM main.vx_v").df.head().getInt(0) == 15)

      // nested views LATE-BIND uniformly: replacing vx_v mid-txn is
      // visible through a view created earlier in the same txn, in any
      // query shape
      engine.execute("BEGIN")
      engine.execute("CREATE VIEW main.vx_n AS SELECT x FROM main.vx_v")
      engine.execute("CREATE OR REPLACE VIEW main.vx_v AS SELECT x + 100 AS x FROM main.vx_t")
      assert(engine.execute("SELECT x FROM main.vx_n").df.head().getInt(0) == 110)
      assert(engine.execute(
        "SELECT n.x FROM main.vx_n n JOIN main.vx_v v ON n.x = v.x")
        .df.head().getInt(0) == 110)
      engine.execute("ROLLBACK")

      // a body needing the dialect rewrite is readable in-txn (the
      // stored plan is parsed from the REWRITTEN text)
      engine.execute("BEGIN")
      engine.execute(
        "CREATE VIEW main.vx_w AS SELECT CAST(x AS VARCHAR) AS s FROM main.vx_t")
      assert(engine.execute("SELECT s FROM main.vx_w").df.head().getString(0) == "10")
      // a same-txn view joined with itself still resolves
      assert(engine.execute(
        "SELECT count(*) FROM main.vx_w a JOIN main.vx_w b ON a.s = b.s")
        .df.head().getLong(0) == 1L)
      // name collisions against the created view are caught up front
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("CREATE TABLE main.vx_w (z INT)")
      }
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("ALTER TABLE main.vx_t RENAME TO main.vx_w")
      }
      engine.execute("ROLLBACK")

      // a renamed-away name cannot host a view (the symmetric corner to
      // rejectRecreateOfRenamedAway; reads of it would fail)
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.vx_t RENAME TO main.vx_t2")
      val rn = intercept[IllegalArgumentException] {
        engine.execute("CREATE VIEW main.vx_t AS SELECT 1 AS one")
      }
      assert(rn.getMessage.contains("RENAME"), rn.getMessage)
      engine.execute("ROLLBACK")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.vx_v")
      engine.execute("DROP VIEW IF EXISTS main.vx_w")
      engine.execute("DROP TABLE IF EXISTS main.vx_t")
    }
  }

  test("review-3 corners: created-parent rename FK, mutual cycles, CTE names, deep chains, dropped-view depth, IF EXISTS view") {
    fresh("r3p"); fresh("r3p2"); fresh("r3c")
    engine.execute("DROP VIEW IF EXISTS main.r3_a")
    engine.execute("DROP VIEW IF EXISTS main.r3_b")
    engine.execute("DROP VIEW IF EXISTS main.r3_cte")
    try {
      // (1) rename of an in-txn CREATED parent rekeys a sibling
      // created child's FK — the committed registration must not dangle
      engine.execute("BEGIN")
      engine.execute("CREATE TABLE main.r3p (id INT PRIMARY KEY)")
      engine.execute("INSERT INTO main.r3p VALUES (1)")
      engine.execute(
        "CREATE TABLE main.r3c (k INT, FOREIGN KEY (k) REFERENCES main.r3p (id))")
      engine.execute("ALTER TABLE main.r3p RENAME TO main.r3p2")
      engine.execute("COMMIT")
      engine.execute("INSERT INTO main.r3c VALUES (1)") // FK resolves to r3p2
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.r3c VALUES (9)")
      }
      intercept[IllegalArgumentException] {
        engine.execute("DELETE FROM main.r3p2 WHERE id = 1")
      }

      // (2) mutual recursion introduced by OR REPLACE is rejected
      engine.execute("BEGIN")
      engine.execute("CREATE VIEW main.r3_a AS SELECT 1 AS x")
      engine.execute("CREATE VIEW main.r3_b AS SELECT x FROM main.r3_a")
      val cyc = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("CREATE OR REPLACE VIEW main.r3_a AS SELECT x FROM main.r3_b")
      }
      assert(cyc.getMessage.contains("recursive"), cyc.getMessage)
      // (5) a CTE named like the view is NOT a self-reference
      engine.execute(
        "CREATE VIEW main.r3_cte AS WITH r3_cte AS (SELECT 7 AS x) SELECT x FROM r3_cte")
      assert(engine.execute("SELECT x FROM main.r3_cte").df.head().getInt(0) == 7)
      // (7) a 9-deep in-txn view chain still resolves (cap scales)
      engine.execute("CREATE VIEW main.r3_d1 AS SELECT 5 AS x")
      (2 to 9).foreach(i => engine.execute(
        s"CREATE VIEW main.r3_d$i AS SELECT x FROM main.r3_d${i - 1}"))
      assert(engine.execute("SELECT x FROM main.r3_d9").df.head().getInt(0) == 5)
      engine.execute("ROLLBACK")

      // (6) a catalog view DROPPED in-txn fails reads at ANY depth
      engine.execute("CREATE VIEW main.r3_a AS SELECT 1 AS x")
      engine.execute("BEGIN")
      engine.execute("CREATE VIEW main.r3_b AS SELECT x FROM main.r3_a")
      engine.execute("DROP VIEW main.r3_a")
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT x FROM main.r3_b").df.collect()
      }
      engine.execute("ROLLBACK")

      // (4) DROP TABLE IF EXISTS on a VIEW errors (no silent no-op)
      engine.execute("BEGIN")
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("DROP TABLE IF EXISTS main.r3_a")
      }
      engine.execute("ROLLBACK")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.r3_a")
      engine.execute("DROP VIEW IF EXISTS main.r3_b")
      engine.execute("DROP VIEW IF EXISTS main.r3_cte")
      engine.execute("DROP TABLE IF EXISTS main.r3c")
      engine.execute("DROP TABLE IF EXISTS main.r3p")
      engine.execute("DROP TABLE IF EXISTS main.r3p2")
    }
  }

  test("serialization error covers reads through views and renamed names (review 3)") {
    fresh("rvp_t"); fresh("rvp_u")
    engine.execute("DROP VIEW IF EXISTS main.rvp_v")
    engine.execute("CREATE TABLE main.rvp_t (x INT)")
    engine.execute("INSERT INTO main.rvp_t VALUES (1)")
    engine.execute("CREATE VIEW main.rvp_v AS SELECT x FROM main.rvp_t")
    try {
      engine.execute("BEGIN")
      engine.execute("SELECT count(*) FROM main.rvp_t").df.collect() // pins t
      val other = new Thread(() =>
        engine.execute("ALTER TABLE main.rvp_t RENAME TO main.rvp_u"))
      other.start(); other.join()
      // the read goes THROUGH A CATALOG VIEW — the plan never names the
      // pinned table, so only the analysis-failure converter can map
      // the not-found to the serialization class
      val e = intercept[IllegalArgumentException] {
        engine.execute("SELECT count(*) FROM main.rvp_v").df.collect()
      }
      assert(e.getMessage.contains("could not serialize"), e.getMessage)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.rvp_v")
      engine.execute("DROP TABLE IF EXISTS main.rvp_t")
      engine.execute("DROP TABLE IF EXISTS main.rvp_u")
    }
  }

  test("review-4 corners: created/dropped-view DROP TABLE, catalog-view cycles, drop-then-rename-onto, typo errors") {
    fresh("r4t"); fresh("r4u")
    engine.execute("DROP VIEW IF EXISTS main.r4_v")
    engine.execute("DROP VIEW IF EXISTS main.r4_cv")
    engine.execute("DROP VIEW IF EXISTS main.r4_a")
    engine.execute("CREATE TABLE main.r4t (x INT)")
    engine.execute("INSERT INTO main.r4t VALUES (3)")
    try {
      // (1) DROP TABLE IF EXISTS on an in-txn CREATED view: wrong
      // command, not a silent no-op
      engine.execute("BEGIN")
      engine.execute("CREATE VIEW main.r4_v AS SELECT x FROM main.r4t")
      val wc = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("DROP TABLE IF EXISTS main.r4_v")
      }
      assert(wc.getMessage.contains("DROP VIEW"), wc.getMessage)
      assert(engine.execute("SELECT x FROM main.r4_v").df.head().getInt(0) == 3)
      engine.execute("ROLLBACK")

      // (3) DROP TABLE [IF EXISTS] on a view this txn DROPPED: the
      // name is absent from its viewpoint — no-op / not-found
      engine.execute("CREATE VIEW main.r4_v AS SELECT 1 AS x")
      engine.execute("BEGIN")
      engine.execute("DROP VIEW main.r4_v")
      engine.execute("DROP TABLE IF EXISTS main.r4_v") // no-op, no error
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("DROP TABLE main.r4_v")
      }
      engine.execute("ROLLBACK")
      engine.execute("DROP VIEW main.r4_v")

      // (2) a cycle routed through an untouched CATALOG view is
      // rejected at CREATE (commit's swallowed publish would lose it)
      engine.execute("CREATE VIEW main.r4_a AS SELECT 1 AS x")
      engine.execute("CREATE VIEW main.r4_cv AS SELECT x FROM main.r4_a")
      engine.execute("BEGIN")
      val cyc = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("CREATE OR REPLACE VIEW main.r4_a AS SELECT x FROM main.r4_cv")
      }
      assert(cyc.getMessage.contains("recursive"), cyc.getMessage)
      engine.execute("ROLLBACK")

      // (4) DROP VIEW w then RENAME t onto w: reads of w serve the
      // renamed TABLE, not the dropped-view error
      engine.execute("BEGIN")
      engine.execute("DROP VIEW main.r4_cv")
      engine.execute("ALTER TABLE main.r4t RENAME TO main.r4_cv")
      assert(engine.execute("SELECT x FROM main.r4_cv").df.head().getInt(0) == 3)
      engine.execute("COMMIT")
      assert(engine.execute("SELECT x FROM main.r4_cv").df.head().getInt(0) == 3)
      engine.execute("ALTER TABLE main.r4_cv RENAME TO main.r4t") // restore

      // (5) a genuine TYPO keeps its non-aborting binder error even
      // while a concurrent commit moved a pinned table's epoch
      engine.execute("BEGIN")
      engine.execute("SELECT count(*) FROM main.r4t").df.collect() // pins r4t
      val other = new Thread(() =>
        engine.execute("UPDATE main.r4t SET x = 4 WHERE x = 3"))
      other.start(); other.join()
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM main.r4_no_such").df.collect()
      }
      assert(engine.txnStatus == 'T') // binder-class: block usable
      engine.execute("ROLLBACK")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.r4_v")
      engine.execute("DROP VIEW IF EXISTS main.r4_cv")
      engine.execute("DROP VIEW IF EXISTS main.r4_a")
      engine.execute("DROP TABLE IF EXISTS main.r4t")
      engine.execute("DROP TABLE IF EXISTS main.r4_cv")
      engine.execute("DROP TABLE IF EXISTS main.r4u")
    }
  }

  test("review-5 corners: DROP of a rename-retaken name, dropped views in cycle detection") {
    fresh("r5t")
    engine.execute("DROP VIEW IF EXISTS main.r5_w")
    engine.execute("DROP VIEW IF EXISTS main.r5_cv")
    engine.execute("CREATE TABLE main.r5t (x INT)")
    engine.execute("INSERT INTO main.r5t VALUES (1)")
    engine.execute("CREATE VIEW main.r5_w AS SELECT 9 AS x")
    try {
      // DROP TABLE on a name freed by DROP VIEW and retaken by RENAME
      // drops the renamed TABLE (collapse path), not a false not-found
      engine.execute("BEGIN")
      engine.execute("DROP VIEW main.r5_w")
      engine.execute("ALTER TABLE main.r5t RENAME TO main.r5_w")
      // DROP VIEW of the retaken name: it is a table now
      val wt = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("DROP VIEW main.r5_w")
      }
      assert(wt.getMessage.contains("DROP TABLE"), wt.getMessage)
      engine.execute("DROP TABLE main.r5_w") // drops the renamed table
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("SELECT * FROM main.r5_w").df.collect()
      }
      engine.execute("COMMIT")
      assert(!spark.catalog.tableExists("main.r5t"))
      assert(!spark.catalog.tableExists("main.r5_w"))

      // a view DROPPED in-txn never forms a post-commit cycle: a new
      // body referencing it must fail with the dropped-view NOT-FOUND,
      // not a spurious "recursive view" from its stale catalog text
      engine.execute("CREATE VIEW main.r5_w AS SELECT 1 AS x")
      engine.execute("CREATE VIEW main.r5_cv AS SELECT x FROM main.r5_w")
      engine.execute("BEGIN")
      engine.execute("DROP VIEW main.r5_cv")
      val nf = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("CREATE OR REPLACE VIEW main.r5_w AS SELECT x FROM main.r5_cv")
      }
      assert(!nf.getMessage.contains("recursive"), nf.getMessage)
      assert(engine.txnStatus == 'T')
      engine.execute("ROLLBACK")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.r5_cv")
      engine.execute("DROP VIEW IF EXISTS main.r5_w")
      engine.execute("DROP TABLE IF EXISTS main.r5t")
      engine.execute("DROP TABLE IF EXISTS main.r5_w")
    }
  }

  test("in-txn table DDL against a VIEW name raises Spark's own type errors") {
    fresh("vt_t")
    engine.execute("DROP VIEW IF EXISTS main.vt_v")
    engine.execute("CREATE TABLE main.vt_t (x INT)")
    engine.execute("INSERT INTO main.vt_t VALUES (1)")
    engine.execute("CREATE VIEW main.vt_v AS SELECT x FROM main.vt_t")
    try {
      engine.execute("BEGIN")
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("DROP TABLE main.vt_v")
      }
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("ALTER TABLE main.vt_v ADD COLUMN y INT")
      }
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("ALTER TABLE main.vt_v RENAME TO main.vt_w")
      }
      assert(engine.txnStatus == 'T') // all binder-class: block usable
      engine.execute("ROLLBACK")
      // the view is untouched
      assert(engine.execute("SELECT x FROM main.vt_v").df.head().getInt(0) == 1)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP VIEW IF EXISTS main.vt_v")
      engine.execute("DROP TABLE IF EXISTS main.vt_t")
    }
  }

  test("rename composes with deltas and ALTER in one transaction") {
    fresh("rcx_a"); fresh("rcx_b")
    engine.execute("CREATE TABLE main.rcx_a (k INT)")
    engine.execute("INSERT INTO main.rcx_a VALUES (1)")
    try {
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.rcx_a VALUES (2)") // delta pre-rename
      engine.execute("ALTER TABLE main.rcx_a RENAME TO main.rcx_b")
      assert(engine.execute("SELECT count(*) FROM main.rcx_b").df.head().getLong(0) == 2L)
      engine.execute("ALTER TABLE main.rcx_b ADD COLUMN z INT") // alter via new name
      engine.execute("INSERT INTO main.rcx_b VALUES (3, 30)")
      val rows = engine.execute("SELECT k, z FROM main.rcx_b ORDER BY k").df
        .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
      assert(rows == Seq((1, -1), (2, -1), (3, 30)), rows)
      engine.execute("COMMIT")
      assert(!spark.catalog.tableExists("main.rcx_a"))
      val fin = engine.execute("SELECT k, z FROM main.rcx_b ORDER BY k").df
        .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
      assert(fin == Seq((1, -1), (2, -1), (3, 30)), fin)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.rcx_a")
      engine.execute("DROP TABLE IF EXISTS main.rcx_b")
    }
  }

  test("concurrent rename of a pinned table raises a serialization error, not not-found") {
    fresh("rnp_a"); fresh("rnp_b")
    engine.execute("CREATE TABLE main.rnp_a (id INT PRIMARY KEY, v STRING)")
    engine.execute("INSERT INTO main.rnp_a VALUES (1,'a')")
    try {
      engine.execute("BEGIN")
      engine.execute("INSERT INTO main.rnp_a VALUES (2,'b')") // pins the table
      // another connection renames it (auto-commit): the catalog entry
      // moves, so WITHOUT the pinned-epoch pre-check the next read
      // raised a raw TABLE_OR_VIEW_NOT_FOUND (fuzz find, seed 1709)
      val other = new Thread(() =>
        engine.execute("ALTER TABLE main.rnp_a RENAME TO main.rnp_b"))
      other.start(); other.join()
      val e = intercept[IllegalArgumentException] {
        engine.execute("SELECT count(*) FROM main.rnp_a").df.collect()
      }
      assert(e.getMessage.contains("could not serialize"), e.getMessage)
      engine.execute("ROLLBACK")
      assert(engine.execute("SELECT count(*) FROM main.rnp_b").df.head().getLong(0) == 1L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.rnp_a")
      engine.execute("DROP TABLE IF EXISTS main.rnp_b")
    }
  }

  test("in-txn created child's FK follows a same-txn parent rename at COMMIT") {
    fresh("fkr_p"); fresh("fkr_p2"); fresh("fkr_c")
    engine.execute("CREATE TABLE main.fkr_p (id INT PRIMARY KEY)")
    engine.execute("INSERT INTO main.fkr_p VALUES (1)")
    try {
      engine.execute("BEGIN")
      // FK declared against the PRE-rename name, then the parent moves
      engine.execute(
        "CREATE TABLE main.fkr_c (ck INT, FOREIGN KEY (ck) REFERENCES main.fkr_p (id))")
      engine.execute("ALTER TABLE main.fkr_p RENAME TO main.fkr_p2")
      engine.execute("COMMIT")
      // the committed registration must reference the NEW name: valid
      // child inserts pass, dangling ones fail, parent deletes RESTRICT
      engine.execute("INSERT INTO main.fkr_c VALUES (1)")
      val bad = intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.fkr_c VALUES (99)")
      }
      assert(bad.getMessage.toLowerCase.contains("foreign key"), bad.getMessage)
      val del = intercept[IllegalArgumentException] {
        engine.execute("DELETE FROM main.fkr_p2 WHERE id = 1")
      }
      assert(del.getMessage.toLowerCase.contains("foreign key"), del.getMessage)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.fkr_c")
      engine.execute("DROP TABLE IF EXISTS main.fkr_p")
      engine.execute("DROP TABLE IF EXISTS main.fkr_p2")
    }
  }

  test("recovery tolerates drop + view ops sharing a name in one journal") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dvj").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    fresh("dvj_t")
    spark.sql("DROP VIEW IF EXISTS main.dvj_t")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.dvj_t (x INT)")
      e1.execute("INSERT INTO main.dvj_t VALUES (1)")
      // BEGIN; DROP TABLE t; CREATE VIEW t AS …; COMMIT crashed right
      // after journaling: a drop op and a vcreate op share the name —
      // the laterDone scan must not call tableDirOf on the view op's
      // EMPTY source field (pre-fix: MatchError aborted boot recovery)
      def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
      val stmt = "CREATE OR REPLACE VIEW main.dvj_t AS SELECT 42 AS x"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_8.tsv"),
        s"drop\tmain.dvj_t\t\t\t\nvcreate\tmain.dvj_t\t\t\t${b64(stmt)}"
          .getBytes("UTF-8"))
      spark.sql("DROP TABLE IF EXISTS main.dvj_t")
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted() // pre-fix: MatchError here
      assert(e2.execute("SELECT x FROM main.dvj_t").df.head().getInt(0) == 42)
    } finally {
      spark.sql("DROP VIEW IF EXISTS main.dvj_t")
      spark.sql("DROP TABLE IF EXISTS main.dvj_t")
    }
  }

  test("transactional CREATE/DROP TYPE (enum intents)") {
    fresh("te_t")
    engine.execute("DROP TYPE IF EXISTS te_mood")
    try {
      engine.execute("BEGIN")
      engine.execute("CREATE TYPE te_mood AS ENUM ('ok', 'sad')")
      engine.execute("CREATE TABLE main.te_t (m te_mood)")
      engine.execute("INSERT INTO main.te_t VALUES ('ok')")
      // membership enforced against the txn-local type
      val bad = intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.te_t VALUES ('angry')")
      }
      assert(bad.getMessage.contains("enum"), bad.getMessage)
      engine.execute("ROLLBACK") // type and table both forgotten
      assert(!spark.catalog.tableExists("main.te_t"))
      // the type never reached the committed map: a table using it now
      // fails (unknown type)
      intercept[Throwable] { engine.execute("CREATE TABLE main.te_t (m te_mood)") }

      engine.execute("BEGIN")
      engine.execute("CREATE TYPE te_mood AS ENUM ('ok', 'sad')")
      engine.execute("CREATE TABLE main.te_t (m te_mood)")
      engine.execute("COMMIT")
      engine.execute("INSERT INTO main.te_t VALUES ('sad')")
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.te_t VALUES ('angry')")
      }
      // transactional DROP TYPE: ROLLBACK keeps it, COMMIT removes it
      engine.execute("BEGIN")
      engine.execute("DROP TYPE te_mood")
      engine.execute("ROLLBACK")
      engine.execute("BEGIN")
      engine.execute("DROP TYPE te_mood")
      engine.execute("COMMIT")
      // gone: enforcement no longer knows the type (insert passes raw)
      engine.execute("INSERT INTO main.te_t VALUES ('angry')")
      assert(engine.execute("SELECT count(*) FROM main.te_t").df.head().getLong(0) == 2L)
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => () }
      engine.execute("DROP TABLE IF EXISTS main.te_t")
      engine.execute("DROP TYPE IF EXISTS te_mood")
    }
  }

  test("rename journal (mv) rolls forward at boot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rn").toString
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def dir(t: String) = new java.io.File(wh, s"main.db/$t")
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    fresh("rnj_a"); fresh("rnj_b")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.rnj_a (k INT PRIMARY KEY)")
      e1.execute("INSERT INTO main.rnj_a VALUES (1)")
      // crash BEFORE any rename step ran: only the journal exists (the
      // catalog entry for rnj_a stays — a real fresh JVM would simply
      // not have it; the dir walk below registers the NEW name)
      val cl = java.util.Base64.getEncoder.encodeToString(
        "main.rnj_b\tk\t\t\t\t\t".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_9.tsv"),
        s"mv\tmain.rnj_b\tmain.rnj_a\t\t$cl".getBytes("UTF-8"))
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      assert(!dir("rnj_a").exists() && dir("rnj_b").exists())
      // boot re-registration picked the NEW name; registration rekeyed
      assert(spark.catalog.tableExists("main.rnj_b"))
      val tsv = scala.io.Source.fromFile(s"$tmp/constraints.tsv").mkString
      assert(tsv.contains("main.rnj_b\tk") && !tsv.contains("main.rnj_a"), tsv)
      val dup = intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.rnj_b VALUES (1)")
      }
      assert(dup.getMessage.contains("unique"), dup.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS main.rnj_a")
      spark.sql("DROP TABLE IF EXISTS main.rnj_b")
    }
  }

  test("rename survives an engine restart (external dir moves)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rp").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    fresh("rps_a"); fresh("rps_b")
    val whDir = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      // an EXTERNAL table at the warehouse-canonical path — exactly
      // what boot re-registration produces, and the case Spark's own
      // RENAME does NOT move the dir for (managed dirs move themselves)
      e1.execute("CREATE TABLE main.rps_a (k INT) USING parquet " +
        s"LOCATION '$whDir/main.db/rps_a'")
      e1.execute("INSERT INTO main.rps_a VALUES (42)")
      spark.sql("DROP TABLE main.rps_a") // external: the dir survives
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      assert(spark.catalog.tableExists("main.rps_a"))
      e2.execute("ALTER TABLE main.rps_a RENAME TO main.rps_b")
      assert(e2.execute("SELECT k FROM main.rps_b").df.head().getInt(0) == 42)
      // a restart must come back with the NEW name, not revert
      spark.sql("DROP TABLE IF EXISTS main.rps_b")
      val e3 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e3.loadPersisted()
      assert(spark.catalog.tableExists("main.rps_b"))
      assert(!spark.catalog.tableExists("main.rps_a"))
      assert(e3.execute("SELECT k FROM main.rps_b").df.head().getInt(0) == 42)
    } finally {
      spark.sql("DROP TABLE IF EXISTS main.rps_a")
      spark.sql("DROP TABLE IF EXISTS main.rps_b")
    }
  }

  test("ALTER TABLE RENAME rejects a view outside a transaction") {
    fresh("rnv_t")
    engine.execute("CREATE TABLE main.rnv_t (k INT) USING parquet")
    engine.execute("CREATE VIEW main.rnv_v AS SELECT k FROM main.rnv_t")
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("ALTER TABLE main.rnv_v RENAME TO main.rnv_w")
      }
      assert(e.getMessage.contains("is a view"), e.getMessage)
      // the view is untouched and still reads
      assert(spark.catalog.tableExists("main.rnv_v"))
      assert(engine.execute("SELECT count(*) AS c FROM main.rnv_v").df.head().getLong(0) == 0L)
    } finally {
      spark.sql("DROP VIEW IF EXISTS main.rnv_v")
      spark.sql("DROP TABLE IF EXISTS main.rnv_t")
    }
  }

  test("COPY TO of an in-txn created view resolves through the txn overlay") {
    fresh("cpv_t")
    engine.execute("CREATE TABLE main.cpv_t (k INT, v STRING) USING parquet")
    engine.execute("INSERT INTO main.cpv_t VALUES (1,'a'), (2,'b'), (3,'c')")
    val out = Files.createTempDirectory("graft-copy-txnview").toFile
    val dest = new java.io.File(out, "v.parquet").getAbsolutePath
    try {
      engine.execute("BEGIN")
      // the view AND an overlay write it must see, both inside the txn
      engine.execute("INSERT INTO main.cpv_t VALUES (4,'d')")
      engine.execute("CREATE VIEW main.cpv_v AS SELECT k FROM main.cpv_t WHERE k > 1")
      val r = engine.execute(s"COPY main.cpv_v TO '$dest' (FORMAT parquet)")
      assert(r.tag == "COPY 3", r.tag) // k = 2, 3 and the in-txn 4
      assert(spark.read.parquet(dest).collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
      // a name this txn DROPPED fails binder-class from COPY too
      engine.execute("DROP VIEW main.cpv_v")
      val gone = intercept[Exception] {
        engine.execute(s"COPY main.cpv_v TO '$dest' (FORMAT parquet)")
      }
      assert(gone.getMessage.toLowerCase.contains("cpv_v"), gone.getMessage)
      engine.execute("ROLLBACK")
      // rolled back: the view never reached the catalog
      assert(!spark.catalog.tableExists("main.cpv_v"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      spark.sql("DROP VIEW IF EXISTS main.cpv_v")
      spark.sql("DROP TABLE IF EXISTS main.cpv_t")
    }
  }

  test("partial rename keeps a repair journal; boot completes the rekey") {
    val tmp = Files.createTempDirectory("graft-prn").toFile.getAbsolutePath
    fresh("prn_t"); fresh("prn_u")
    val block = new java.io.File(tmp, "constraints.tsv.tmp")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.prn_t (k INT PRIMARY KEY, v STRING) USING parquet")
      e1.execute("INSERT INTO main.prn_t VALUES (1,'a')")
      // wedge persistConstraints: its atomic-write temp path is a DIR
      assert(block.mkdirs())
      val err = intercept[IllegalStateException] {
        e1.execute("ALTER TABLE main.prn_t RENAME TO main.prn_u")
      }
      assert(err.getMessage.contains("partially applied"), err.getMessage)
      // catalog renamed (point of no return) and the LIVE process is
      // consistent: the PK registration followed the table in memory
      assert(spark.catalog.tableExists("main.prn_u"))
      assert(!spark.catalog.tableExists("main.prn_t"))
      intercept[IllegalArgumentException] {
        e1.execute("INSERT INTO main.prn_u VALUES (1,'dup')")
      }
      // the journal SURVIVED, shrunk to the outstanding mv + regline
      val jf = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("publish_journal_"))
      assert(jf.length == 1, jf.mkString(","))
      val ops = scala.io.Source.fromFile(jf.head).mkString
      assert(ops.startsWith("mv\tmain.prn_u\tmain.prn_t\t"), ops)
      assert(ops.split("\t", -1)(4).nonEmpty, s"regline must repair the tsv: $ops")
      // unwedge; a restart rolls the registration forward durably
      assert(block.delete())
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      assert(!new java.io.File(tmp, jf.head.getName).exists(), "journal consumed")
      val tsv = scala.io.Source.fromFile(s"$tmp/constraints.tsv").mkString
      assert(tsv.contains("main.prn_u") && !tsv.contains("main.prn_t"), tsv)
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.prn_u VALUES (1,'dup2')")
      }
    } finally {
      block.delete()
      spark.sql("DROP TABLE IF EXISTS main.prn_t")
      spark.sql("DROP TABLE IF EXISTS main.prn_u")
    }
  }

  test("partial rename at COMMIT keeps only the rename's repair ops") {
    val tmp = Files.createTempDirectory("graft-prnc").toFile.getAbsolutePath
    fresh("prnc_t"); fresh("prnc_u")
    val block = new java.io.File(tmp, "constraints.tsv.tmp")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.prnc_t (k INT PRIMARY KEY, v STRING) USING parquet")
      e1.execute("INSERT INTO main.prnc_t VALUES (1,'a')")
      e1.execute("BEGIN")
      e1.execute("INSERT INTO main.prnc_t VALUES (2,'b')") // delta publishes first
      e1.execute("ALTER TABLE main.prnc_t RENAME TO main.prnc_u")
      assert(block.mkdirs())
      val err = intercept[IllegalStateException] { e1.execute("COMMIT") }
      assert(err.getMessage.contains("partially"), err.getMessage)
      assert(spark.catalog.tableExists("main.prnc_u"))
      // the surviving journal was REWRITTEN: only the rename's mv op —
      // the already-published delta op must NOT replay at boot over
      // post-failure state
      val jf = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("publish_journal_"))
      assert(jf.length == 1, jf.mkString(","))
      val lines = scala.io.Source.fromFile(jf.head).getLines().filter(_.nonEmpty).toList
      assert(lines.forall(l => l.startsWith("mv\t") || l.startsWith("constraint\t")), lines.mkString("|"))
      assert(lines.head.startsWith("mv\tmain.prnc_u\tmain.prnc_t\t"), lines.head)
      assert(block.delete())
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      spark.catalog.refreshTable("main.prnc_u")
      // both the delta row and the rename committed, exactly once
      assert(spark.table("main.prnc_u").count() == 2)
      val tsv = scala.io.Source.fromFile(s"$tmp/constraints.tsv").mkString
      assert(tsv.contains("main.prnc_u"), tsv)
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.prnc_u VALUES (2,'dup')")
      }
    } finally {
      block.delete()
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      spark.sql("DROP TABLE IF EXISTS main.prnc_t")
      spark.sql("DROP TABLE IF EXISTS main.prnc_u")
    }
  }

  test("rename chains: rename onto a name freed by another rename (r13)") {
    fresh("rch_t"); fresh("rch_old"); fresh("rch_new")
    engine.execute("CREATE TABLE main.rch_t (k INT PRIMARY KEY, v STRING) USING parquet")
    engine.execute("INSERT INTO main.rch_t VALUES (1,'orig')")
    engine.execute("CREATE TABLE main.rch_new (k INT PRIMARY KEY, v STRING) USING parquet")
    engine.execute("INSERT INTO main.rch_new VALUES (10,'next')")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rch_t RENAME TO main.rch_old")
      engine.execute("ALTER TABLE main.rch_new RENAME TO main.rch_t")
      // mid-txn: t denotes the former t_new, t_old the former t,
      // t_new is gone
      assert(engine.execute("SELECT v FROM main.rch_t").df.head().getString(0) == "next")
      assert(engine.execute("SELECT v FROM main.rch_old").df.head().getString(0) == "orig")
      intercept[Exception] { engine.execute("SELECT * FROM main.rch_new") }
      // DML through the retaken name lands on the retaking table
      engine.execute("INSERT INTO main.rch_t VALUES (11,'nxt2')")
      engine.execute("COMMIT")
      assert(spark.table("main.rch_t").collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 11))
      assert(spark.table("main.rch_old").head().getString(1) == "orig")
      assert(!spark.catalog.tableExists("main.rch_new"))
      // constraint registrations followed both tables through the chain
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.rch_t VALUES (10,'dup')")
      }
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.rch_old VALUES (1,'dup')")
      }
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      spark.sql("DROP TABLE IF EXISTS main.rch_t")
      spark.sql("DROP TABLE IF EXISTS main.rch_old")
      spark.sql("DROP TABLE IF EXISTS main.rch_new")
    }
  }

  test("rename chains: ROLLBACK forgets, swap-close collapses, chain via dropped name") {
    fresh("rcy_a"); fresh("rcy_b"); fresh("rcy_c")
    engine.execute("CREATE TABLE main.rcy_a (k INT) USING parquet")
    engine.execute("INSERT INTO main.rcy_a VALUES (1)")
    engine.execute("CREATE TABLE main.rcy_b (k INT) USING parquet")
    engine.execute("INSERT INTO main.rcy_b VALUES (2)")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.rcy_b RENAME TO main.rcy_c")
      engine.execute("ALTER TABLE main.rcy_a RENAME TO main.rcy_b")
      // closing the cycle (c -> a collapses to b -> a) is supported
      // since r13b: a⇄b swap — each spelling denotes the other's table
      engine.execute("ALTER TABLE main.rcy_c RENAME TO main.rcy_a")
      assert(engine.execute("SELECT k FROM main.rcy_b").df.head().getInt(0) == 1)
      assert(engine.execute("SELECT k FROM main.rcy_a").df.head().getInt(0) == 2)
      engine.execute("ROLLBACK")
      // everything back: a and b hold their original rows, c unknown
      assert(spark.table("main.rcy_a").head().getInt(0) == 1)
      assert(spark.table("main.rcy_b").head().getInt(0) == 2)
      assert(!spark.catalog.tableExists("main.rcy_c"))

      // chain through a transactional DROP: DROP b; rename a onto b
      engine.execute("BEGIN")
      engine.execute("DROP TABLE main.rcy_b")
      engine.execute("ALTER TABLE main.rcy_a RENAME TO main.rcy_b")
      engine.execute("COMMIT")
      assert(spark.table("main.rcy_b").head().getInt(0) == 1)
      assert(!spark.catalog.tableExists("main.rcy_a"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      spark.sql("DROP TABLE IF EXISTS main.rcy_a")
      spark.sql("DROP TABLE IF EXISTS main.rcy_b")
      spark.sql("DROP TABLE IF EXISTS main.rcy_c")
    }
  }

  test("rename chains: FK rekeys through the chain; durable across restart") {
    val tmp = Files.createTempDirectory("graft-rchfk").toFile.getAbsolutePath
    fresh("rcf_p"); fresh("rcf_pold"); fresh("rcf_pnew"); fresh("rcf_child")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.rcf_p (id INT PRIMARY KEY) USING parquet")
      e1.execute("INSERT INTO main.rcf_p VALUES (1)")
      e1.execute("CREATE TABLE main.rcf_pnew (id INT PRIMARY KEY) USING parquet")
      e1.execute("INSERT INTO main.rcf_pnew VALUES (7)")
      e1.execute("CREATE TABLE main.rcf_child (pid INT REFERENCES main.rcf_p(id)) USING parquet")
      e1.execute("BEGIN")
      e1.execute("ALTER TABLE main.rcf_p RENAME TO main.rcf_pold")
      e1.execute("ALTER TABLE main.rcf_pnew RENAME TO main.rcf_p")
      e1.execute("COMMIT")
      // the child's FK now references the RENAMED original (rcf_pold)
      e1.execute("INSERT INTO main.rcf_child VALUES (1)")
      intercept[IllegalArgumentException] {
        e1.execute("INSERT INTO main.rcf_child VALUES (7)") // only in new rcf_p
      }
      // registrations survive a restart with the post-chain names
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.rcf_child VALUES (99)")
      }
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.rcf_p VALUES (7)") // PK followed the chain
      }
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      spark.sql("DROP TABLE IF EXISTS main.rcf_p")
      spark.sql("DROP TABLE IF EXISTS main.rcf_pold")
      spark.sql("DROP TABLE IF EXISTS main.rcf_pnew")
      spark.sql("DROP TABLE IF EXISTS main.rcf_child")
    }
  }

  test("rename chains: deep chain resolution, re-rename of retaken names, FK spellings") {
    fresh("dcx_a"); fresh("dcx_b"); fresh("dcx_c"); fresh("dcx_d"); fresh("dcx_k")
    // three tables so the chain runs two deep: c->d, b->c, a->b
    engine.execute("CREATE TABLE main.dcx_a (k INT PRIMARY KEY, v STRING) USING parquet")
    engine.execute("INSERT INTO main.dcx_a VALUES (1,'a')")
    engine.execute("CREATE TABLE main.dcx_b (k INT PRIMARY KEY, v STRING) USING parquet")
    engine.execute("INSERT INTO main.dcx_b VALUES (2,'b')")
    engine.execute("CREATE TABLE main.dcx_c (k INT PRIMARY KEY, v STRING) USING parquet")
    engine.execute("INSERT INTO main.dcx_c VALUES (3,'c')")
    try {
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.dcx_c RENAME TO main.dcx_d")
      engine.execute("ALTER TABLE main.dcx_b RENAME TO main.dcx_c")
      engine.execute("ALTER TABLE main.dcx_a RENAME TO main.dcx_b")
      // every spelling denotes the right original, one hop only
      assert(engine.execute("SELECT v FROM main.dcx_d").df.head().getString(0) == "c")
      assert(engine.execute("SELECT v FROM main.dcx_c").df.head().getString(0) == "b")
      assert(engine.execute("SELECT v FROM main.dcx_b").df.head().getString(0) == "a")
      intercept[Exception] { engine.execute("SELECT * FROM main.dcx_a") }
      // writes through MIDDLE spellings key by the right original
      engine.execute("INSERT INTO main.dcx_c VALUES (5,'b2')")
      engine.execute("UPDATE main.dcx_d SET v = 'c9' WHERE k = 3")
      // re-rename of a RETAKEN name collapses to the retaking table
      engine.execute("ALTER TABLE main.dcx_b RENAME TO main.dcx_k")
      assert(engine.execute("SELECT v FROM main.dcx_k").df.head().getString(0) == "a")
      intercept[Exception] { engine.execute("SELECT * FROM main.dcx_b") }
      // an in-txn child referencing a retaken spelling binds the
      // RETAKING table (former b, now spelled dcx_c)
      engine.execute("CREATE TABLE main.dcx_child (pid INT REFERENCES main.dcx_c(k)) USING parquet")
      engine.execute("INSERT INTO main.dcx_child VALUES (5)") // in former b
      engine.execute("COMMIT")
      assert(spark.table("main.dcx_k").head().getString(1) == "a")
      assert(spark.table("main.dcx_c").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 5))
      assert(spark.table("main.dcx_d").head().getString(1) == "c9")
      assert(!spark.catalog.tableExists("main.dcx_a"))
      assert(!spark.catalog.tableExists("main.dcx_b"))
      // committed FK spelling followed the chain: still binds dcx_c
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.dcx_child VALUES (99)")
      }
      engine.execute("INSERT INTO main.dcx_child VALUES (2)")
      // constraint probes through a FRESH mid-txn chain (each aborts
      // the block — DuckDB semantics — so each runs in its own txn):
      // dcx_b is free again; chain c->b, d->c inside one txn
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.dcx_c RENAME TO main.dcx_b")
      engine.execute("ALTER TABLE main.dcx_d RENAME TO main.dcx_c")
      // spelled b = former dcx_c table (keys 2,5): a double-resolution
      // would validate against the wrong original's PK set
      val dup = intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.dcx_b VALUES (2,'dup')")
      }
      assert(dup.getMessage.toLowerCase.contains("unique") ||
        dup.getMessage.toLowerCase.contains("constraint"), dup.getMessage)
      engine.execute("ROLLBACK")
      // chain FK probe: child references dcx_c; mid-chain the parent's
      // original key is retaken by another rename — enforcement must
      // still bind the registration's table, not the retaking one
      engine.execute("BEGIN")
      engine.execute("ALTER TABLE main.dcx_c RENAME TO main.dcx_b")
      engine.execute("ALTER TABLE main.dcx_d RENAME TO main.dcx_c")
      intercept[IllegalArgumentException] {
        engine.execute("INSERT INTO main.dcx_child VALUES (3)") // not in former dcx_c
      }
      engine.execute("ROLLBACK")
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      Seq("dcx_child", "dcx_a", "dcx_b", "dcx_c", "dcx_d", "dcx_k").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS main.$t"))
    }
  }

  test("rename cycles: pure swap and 3-rotation commit via temp hops (r13b)") {
    val tmp = Files.createTempDirectory("graft-swap").toFile.getAbsolutePath
    fresh("swp_a"); fresh("swp_b"); fresh("swp_c")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.swp_a (k INT PRIMARY KEY, v STRING) USING parquet")
      e1.execute("INSERT INTO main.swp_a VALUES (1,'a')")
      e1.execute("CREATE TABLE main.swp_b (k INT PRIMARY KEY, v STRING) USING parquet")
      e1.execute("INSERT INTO main.swp_b VALUES (2,'b')")
      // a⇄b swap in ONE transaction (staged via collapse: b->c, a->b, c->a)
      e1.execute("BEGIN")
      e1.execute("ALTER TABLE main.swp_b RENAME TO main.swp_c")
      e1.execute("ALTER TABLE main.swp_a RENAME TO main.swp_b")
      e1.execute("ALTER TABLE main.swp_c RENAME TO main.swp_a")
      // mid-txn: each spelling denotes the other's table, writes land right
      e1.execute("INSERT INTO main.swp_a VALUES (20,'b2')") // into former b
      e1.execute("COMMIT")
      assert(spark.table("main.swp_a").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 20))
      assert(spark.table("main.swp_b").head().getString(1) == "a")
      assert(!spark.catalog.tableExists("main.swp_c"))
      // constraints swapped with the tables (PK keyed per-table)
      intercept[IllegalArgumentException] {
        e1.execute("INSERT INTO main.swp_a VALUES (2,'dup')")
      }
      intercept[IllegalArgumentException] {
        e1.execute("INSERT INTO main.swp_b VALUES (1,'dup')")
      }
      // durable across a restart (journal consumed, registrations swapped)
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.swp_a VALUES (2,'dup2')")
      }
      assert(e2.execute("SELECT v FROM main.swp_b").df.head().getString(0) == "a")

      // 3-rotation: a->b->c->a in one txn
      e2.execute("CREATE TABLE main.swp_c (k INT, v STRING) USING parquet")
      e2.execute("INSERT INTO main.swp_c VALUES (3,'c')")
      e2.execute("BEGIN")
      e2.execute("ALTER TABLE main.swp_a RENAME TO main.swp_x")
      e2.execute("ALTER TABLE main.swp_c RENAME TO main.swp_a")
      e2.execute("ALTER TABLE main.swp_b RENAME TO main.swp_c")
      e2.execute("ALTER TABLE main.swp_x RENAME TO main.swp_b")
      e2.execute("COMMIT")
      assert(spark.table("main.swp_a").head().getString(1) == "c")
      assert(spark.table("main.swp_b").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 20))
      assert(spark.table("main.swp_c").head().getString(1) == "a")
      assert(!spark.catalog.tableExists("main.swp_x"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      Seq("swp_a", "swp_b", "swp_c", "swp_x").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS main.$t"))
    }
  }

  test("in-process mid-cycle failure keeps a whole-phase repair journal") {
    val tmp = Files.createTempDirectory("graft-swapfail").toFile.getAbsolutePath
    fresh("swf_a"); fresh("swf_b")
    val block = new java.io.File(tmp, "constraints.tsv.tmp")
    try {
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.execute("CREATE TABLE main.swf_a (k INT PRIMARY KEY, v STRING) USING parquet")
      e1.execute("INSERT INTO main.swf_a VALUES (1,'a')")
      e1.execute("CREATE TABLE main.swf_b (k INT PRIMARY KEY, v STRING) USING parquet")
      e1.execute("INSERT INTO main.swf_b VALUES (2,'b')")
      e1.execute("BEGIN")
      e1.execute("ALTER TABLE main.swf_b RENAME TO main.swf_x")
      e1.execute("ALTER TABLE main.swf_a RENAME TO main.swf_b")
      e1.execute("ALTER TABLE main.swf_x RENAME TO main.swf_a")
      // wedge persistConstraints: the FIRST hop (a -> temp) fails
      // partially, the whole rename phase must roll forward at boot
      assert(block.mkdirs())
      val err = intercept[IllegalStateException] { e1.execute("COMMIT") }
      assert(err.getMessage.contains("partially"), err.getMessage)
      val jf = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("publish_journal_"))
      assert(jf.length == 1, jf.mkString(","))
      val lines = scala.io.Source.fromFile(jf.head).getLines().filter(_.nonEmpty).toList
      assert(lines.forall(l => l.startsWith("mv\t") || l.startsWith("constraint\t")),
        lines.mkString("|"))
      assert(block.delete())
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      spark.catalog.refreshTable("main.swf_a"); spark.catalog.refreshTable("main.swf_b")
      // the swap completed at boot, registrations followed
      assert(spark.read.parquet(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:") + "/main.db/swf_a").head().getString(1) == "b")
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.swf_a VALUES (2,'dup')")
      }
      intercept[IllegalArgumentException] {
        e2.execute("INSERT INTO main.swf_b VALUES (1,'dup')")
      }
    } finally {
      block.delete()
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      Seq("swf_a", "swf_b", "swf_x").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS main.$t"))
    }
  }

  test("recovery: mid-cycle crash rolls the whole swap forward from the journal") {
    val tmp = Files.createTempDirectory("graft-swapcrash").toFile.getAbsolutePath
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def dir(t: String) = new java.io.File(wh, s"main.db/$t")
    fresh("swc_a"); fresh("swc_b")
    try {
      spark.sql("CREATE TABLE main.swc_a USING parquet AS SELECT 'a' AS v")
      spark.sql("CREATE TABLE main.swc_b USING parquet AS SELECT 'b' AS v")
      // the journal a swap commit writes: a->tmp, b->a, tmp->b.
      // Crash simulated at three points by pre-applying 0/1/2 dir moves.
      val cl = java.util.Base64.getEncoder.encodeToString(
        "main.swc_b\tv\t\t\t\t\t".getBytes("UTF-8")) // a's (empty-ish) reg under b
      val ops = "mv\tmain.swc_a__txn901\tmain.swc_a\tchain\t\n" +
        "mv\tmain.swc_a\tmain.swc_b\tchain\t\n" +
        s"mv\tmain.swc_b\tmain.swc_a__txn901\tchain\t$cl"
      // crash BEFORE any move ran
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_1.tsv"), ops.getBytes("UTF-8"))
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.loadPersisted()
      spark.catalog.refreshTable("main.swc_a"); spark.catalog.refreshTable("main.swc_b")
      assert(spark.read.parquet(dir("swc_a").getAbsolutePath).head().getString(0) == "b")
      assert(spark.read.parquet(dir("swc_b").getAbsolutePath).head().getString(0) == "a")
      assert(!dir("swc_a__txn901").exists())
      // crash midway: first hop already ran (a's dir sits at the temp)
      java.nio.file.Files.move(dir("swc_a").toPath, dir("swc_a__txn901").toPath)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_2.tsv"), ops.getBytes("UTF-8"))
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      // the swap completes again: contents swap BACK relative to run 1
      assert(spark.read.parquet(dir("swc_a").getAbsolutePath).head().getString(0) == "a")
      assert(spark.read.parquet(dir("swc_b").getAbsolutePath).head().getString(0) == "b")
      assert(!dir("swc_a__txn901").exists())
    } finally {
      spark.sql("DROP TABLE IF EXISTS main.swc_a")
      spark.sql("DROP TABLE IF EXISTS main.swc_b")
    }
  }

  test("transactional CREATE/DROP SCHEMA: rollback compensates, commit publishes") {
    spark.sql("DROP DATABASE IF EXISTS txs_a CASCADE")
    spark.sql("DROP DATABASE IF EXISTS txs_b CASCADE")
    try {
      // CREATE SCHEMA rolls back (compensated)
      engine.execute("BEGIN")
      engine.execute("CREATE SCHEMA txs_a")
      engine.execute("CREATE TABLE txs_a.t (k INT) USING parquet")
      engine.execute("INSERT INTO txs_a.t VALUES (1)")
      assert(engine.execute("SELECT k FROM txs_a.t").df.head().getInt(0) == 1)
      engine.execute("ROLLBACK")
      assert(!spark.catalog.databaseExists("txs_a"))
      // CREATE SCHEMA + table commits as a unit
      engine.execute("BEGIN")
      engine.execute("CREATE SCHEMA txs_a")
      engine.execute("CREATE TABLE txs_a.t (k INT) USING parquet")
      engine.execute("INSERT INTO txs_a.t VALUES (2)")
      engine.execute("COMMIT")
      assert(spark.table("txs_a.t").head().getInt(0) == 2)
      // DROP SCHEMA: non-empty rejected binder-class (block usable);
      // empty-after-in-txn-drop stages and applies at COMMIT
      engine.execute("BEGIN")
      val full = intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("DROP SCHEMA txs_a")
      }
      assert(full.getMessage.contains("not empty"), full.getMessage)
      engine.execute("DROP TABLE txs_a.t")
      engine.execute("DROP SCHEMA txs_a")
      // no new objects in a dropped schema
      intercept[org.apache.spark.sql.AnalysisException] {
        engine.execute("CREATE TABLE txs_a.u (k INT) USING parquet")
      }
      engine.execute("ROLLBACK")
      // rollback: schema AND its table intact
      assert(spark.catalog.databaseExists("txs_a"))
      assert(spark.table("txs_a.t").head().getInt(0) == 2)
      // the same sequence COMMITs: table and schema both gone
      engine.execute("BEGIN")
      engine.execute("DROP TABLE txs_a.t")
      engine.execute("DROP SCHEMA txs_a")
      engine.execute("COMMIT")
      assert(!spark.catalog.databaseExists("txs_a"))
      // create-then-drop in one txn is a net no-op; drop-then-recreate
      // un-drops
      engine.execute("BEGIN")
      engine.execute("CREATE SCHEMA txs_b")
      engine.execute("DROP SCHEMA txs_b")
      engine.execute("CREATE SCHEMA txs_b")
      engine.execute("COMMIT")
      assert(spark.catalog.databaseExists("txs_b"))
    } finally {
      try engine.execute("ROLLBACK") catch { case _: Throwable => }
      spark.sql("DROP DATABASE IF EXISTS txs_a CASCADE")
      spark.sql("DROP DATABASE IF EXISTS txs_b CASCADE")
    }
  }

  test("recovery: a chain hop blocked by an occupied target rescues the temp dir") {
    val tmp = Files.createTempDirectory("graft-rescue").toFile.getAbsolutePath
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def dir(t: String) = new java.io.File(wh, s"main.db/$t")
    fresh("rsq_n"); fresh("rsq_n__rescued"); fresh("rsq_u__txn955")
    try {
      // the OCCUPIED target: a table created concurrently pre-crash
      spark.sql("CREATE TABLE main.rsq_n USING parquet AS SELECT 'winner' AS v")
      // the stranded chain hop: real data sitting at a temp name
      spark.sql("CREATE TABLE main.rsq_u__txn955 USING parquet AS SELECT 'stranded' AS v")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_1.tsv"),
        "mv\tmain.rsq_n\tmain.rsq_u__txn955\tchain\t".getBytes("UTF-8"))
      val e = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e.loadPersisted()
      // the temp dir was RESCUED to a visible name, not left for the
      // stale-staging reclaim; the concurrent winner is untouched
      assert(dir("rsq_n__rescued").isDirectory, "rescued dir exists")
      assert(spark.read.parquet(dir("rsq_n__rescued").getAbsolutePath)
        .head().getString(0) == "stranded")
      assert(spark.table("main.rsq_n").head().getString(0) == "winner")
      assert(!dir("rsq_u__txn955").exists())
    } finally {
      spark.sql("DROP TABLE IF EXISTS main.rsq_n")
      spark.sql("DROP TABLE IF EXISTS main.rsq_n__rescued")
      spark.sql("DROP TABLE IF EXISTS main.rsq_u__txn955")
    }
  }

  test("recovery: sdrop journal op removes an empty schema dir, keeps a live one") {
    val tmp = Files.createTempDirectory("graft-sdrop").toFile.getAbsolutePath
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    spark.sql("DROP DATABASE IF EXISTS sdr_gone CASCADE")
    spark.sql("DROP DATABASE IF EXISTS sdr_kept CASCADE")
    try {
      spark.sql("CREATE DATABASE sdr_gone")
      spark.sql("CREATE DATABASE sdr_kept")
      spark.sql("CREATE TABLE sdr_kept.alive USING parquet AS SELECT 1 AS k")
      new java.io.File(wh, "sdr_gone.db").mkdirs() // dir may not exist until first table
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_1.tsv"),
        "sdrop\tsdr_gone\t\t\t\nsdrop\tsdr_kept\t\t\t".getBytes("UTF-8"))
      val e = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e.loadPersisted()
      assert(!new java.io.File(wh, "sdr_gone.db").exists(), "empty schema dir removed")
      // RESTRICT at recovery: a concurrent table keeps the schema alive
      assert(new java.io.File(wh, "sdr_kept.db").isDirectory)
      assert(spark.table("sdr_kept.alive").head().getInt(0) == 1)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS sdr_gone CASCADE")
      spark.sql("DROP DATABASE IF EXISTS sdr_kept CASCADE")
    }
  }

  test("recovery: drop-then-rename with an external-location source still drops the dir") {
    val tmp = Files.createTempDirectory("graft-ldh").toFile.getAbsolutePath
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def dir(t: String) = new java.io.File(wh, s"main.db/$t")
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    fresh("ldh_n"); fresh("ldh2_n"); fresh("ldh2_s")
    try {
      // case 1 (the ADVICE find): journaled `DROP n; RENAME u TO n`
      // where u lives at an EXTERNAL location — u never had a
      // warehouse dir, so its absence must NOT read as "mv completed";
      // the dropped n's dir has to go
      spark.sql("CREATE TABLE main.ldh_n USING parquet AS SELECT 1 AS k")
      assert(dir("ldh_n").isDirectory)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_1.tsv"),
        "drop\tmain.ldh_n\t\t\t\nmv\tmain.ldh_n\tmain.ldh_u\text\t".getBytes("UTF-8"))
      val e1 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e1.loadPersisted()
      assert(!dir("ldh_n").exists(), "dropped table's dir must be removed")

      // case 2: same shape, warehouse-resident source whose mv COMPLETED
      // pre-crash (source gone, target present) — the moved dir is the
      // PUBLISHED table and must be kept
      spark.sql("DROP TABLE IF EXISTS main.ldh_n")
      spark.sql("CREATE TABLE main.ldh2_n USING parquet AS SELECT 41 AS k")
      // simulate: the old n-dir was removed and s was moved onto n
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "publish_journal_2.tsv"),
        "drop\tmain.ldh2_n\t\t\t\nmv\tmain.ldh2_n\tmain.ldh2_s\twh\t".getBytes("UTF-8"))
      val e2 = new Engine(spark, allowFileIo = true, dbPath = Some(tmp))
      e2.loadPersisted()
      assert(dir("ldh2_n").isDirectory, "moved dir is the published table — kept")
      spark.catalog.refreshTable("main.ldh2_n")
      assert(spark.table("main.ldh2_n").head().getInt(0) == 41)
    } finally {
      spark.sql("DROP TABLE IF EXISTS main.ldh_n")
      spark.sql("DROP TABLE IF EXISTS main.ldh2_n")
      spark.sql("DROP TABLE IF EXISTS main.ldh2_s")
    }
  }

  test("a leading comment or bracket never changes what a statement is") {
    def rows(sql: String): Seq[String] =
      engine.execute(sql).df.collect().toSeq.map(_.toString)
    def tables(): Seq[String] =
      rows("select table_name from information_schema.tables " +
        "where table_name like 'c_cmt%' order by table_name")
    for ((lead, i) <- Seq("/* c */ ", "-- c\n").zipWithIndex) {
      val t = s"c_cmt$i"
      fresh(t); fresh(t + "_d")
      // queries: the rows and the SELECT tag, bracketed too
      for (q <- Seq(s"${lead}select 1 as x", s"${lead}(select 1 as x)", "(select 1 as x)",
          s"${lead}from (select 1 as x) select x", "select 1 as x -- c")) {
        val r = engine.execute(q)
        assert(r.tag == "SELECT" && r.df.collect().toSeq.map(_.toString) == Seq("[1]"), q)
      }
      // CREATE TABLE … PRIMARY KEY enforces, and the catalog sees the
      // table (the DDL epoch moved)
      assert(tables().isEmpty)
      assert(engine.execute(s"${lead}create table main.$t (id INT PRIMARY KEY, v STRING) " +
        "using parquet").tag == "CREATE TABLE")
      assert(tables() == Seq(s"[$t]"))
      // DESCRIBE: Parse/Describe announces the columns Execute sends
      val described = engine.execute(s"${lead}describe main.$t").df
      assert(described.collect().map(_.getString(0)).toSeq == Seq("id", "v"))
      assert(engine.resultSchema(graft.server.Statement(s"${lead}describe main.$t")) ==
        Some(described.schema))
      assert(engine.execute(s"${lead}insert into main.$t values (1, 'a'), (2, 'b')").tag ==
        "INSERT 0 2")
      val dup = intercept[IllegalArgumentException] {
        engine.execute(s"${lead}insert into main.$t values (1, 'c')")
      }
      assert(dup.getMessage.contains("duplicate key"))
      // a bracketed, TABLE or FROM-first source is a query as well, so
      // its rows are constraint-checked too
      for (src <- Seq("(select 1, 'c')", s"table main.$t", s"from main.$t select id, v")) {
        val e = intercept[IllegalArgumentException] {
          engine.execute(s"${lead}insert into main.$t $src")
        }
        assert(e.getMessage.contains("duplicate key"), src)
      }
      // UPDATE / DELETE take the copy-on-write path, as bare ones do
      assert(engine.execute(s"${lead}update main.$t set v = 'u' where id = 1").tag == "UPDATE 1")
      assert(engine.execute(s"${lead}delete from main.$t where id = 2").tag == "DELETE 1")
      assert(rows(s"select id, v from main.$t") == Seq("[1,u]"))
      // BEGIN / ROLLBACK / COMMIT open and close a real transaction
      assert(engine.execute(s"${lead}begin").tag == "BEGIN")
      engine.execute(s"${lead}insert into main.$t values (3, 'c')")
      assert(engine.execute(s"${lead}rollback").tag == "ROLLBACK")
      assert(rows(s"select count(*) from main.$t") == Seq("[1]"))
      assert(engine.execute(s"${lead}start transaction").tag == "START TRANSACTION")
      engine.execute(s"${lead}insert into main.$t values (3, 'c')")
      assert(engine.execute(s"commit -- c").tag == "COMMIT")
      assert(rows(s"select count(*) from main.$t") == Seq("[2]"))
      // DROP TABLE clears the constraint registry, with the comment on
      // either end: a re-created table without constraints takes
      // duplicate keys
      engine.execute(s"create table main.${t}_d (id INT PRIMARY KEY) using parquet")
      for ((tbl, drop) <- Seq(t -> s"${lead}drop table main.$t",
          s"${t}_d" -> s"drop table main.${t}_d -- c")) {
        assert(engine.execute(drop).tag == "DROP")
        engine.execute(s"create table main.$tbl (id INT) using parquet")
        engine.execute(s"insert into main.$tbl values (1), (1)")
        assert(rows(s"select count(*) from main.$tbl") == Seq("[2]"), drop)
        engine.execute(s"drop table main.$tbl")
      }
      assert(tables().isEmpty)
      // a statement of comments only is EMPTY
      assert(engine.execute(lead.trim).tag == "EMPTY")
    }
    assert(engine.execute("/* a */ -- b\n ; ").tag == "EMPTY")
    // a keyword inside a comment is never read as the statement's kind
    val r = engine.execute("/* delete */ select 1 as x")
    assert(r.tag == "SELECT" && r.df.collect().toSeq.map(_.toString) == Seq("[1]"))
  }

  // -- one append protocol: COPY FROM 'file' and INSERT share the checks --

  private def rowsOf(sql: String): Seq[String] =
    engine.execute(sql).df.collect().toSeq.map(_.toString)

  /** `body` outside any transaction, then inside BEGIN … COMMIT. */
  private def bothTxnModes(body: Boolean => Unit): Unit = {
    body(false)
    engine.execute("BEGIN")
    try body(true)
    finally engine.execute(if (engine.txnStatus == 'T') "COMMIT" else "ROLLBACK")
  }

  test("COPY FROM file enforces constraints: an in-file duplicate, an existing key or a NULL NOT NULL writes nothing") {
    fresh("c_cpk"); fresh("c_cnn")
    val dir = Files.createTempDirectory("copy_checks")
    def file(name: String, text: String): String = {
      val f = dir.resolve(name); Files.write(f, text.getBytes("UTF-8")); f.toString
    }
    try {
      engine.execute("create table main.c_cpk (id INT PRIMARY KEY, v VARCHAR)")
      engine.execute("create table main.c_cnn (id INT NOT NULL, v VARCHAR)")
      val dup = file("dup.csv", "id,v\n1,a\n1,b\n")
      val e1 = intercept[IllegalArgumentException](engine.execute(s"copy main.c_cpk from '$dup' (HEADER)"))
      assert(e1.getMessage.contains("duplicate key"), e1.getMessage)
      assert(rowsOf("select count(*) from main.c_cpk") == Seq("[0]"))
      assert(engine.execute(s"copy main.c_cpk from '${file("ok.csv", "id,v\n1,a\n2,b\n")}' (HEADER)")
        .tag == "COPY 2")
      val e2 = intercept[IllegalArgumentException](
        engine.execute(s"copy main.c_cpk from '${file("old.csv", "id,v\n3,c\n2,again\n")}' (HEADER)"))
      assert(e2.getMessage.contains("duplicate key value"), e2.getMessage)
      assert(rowsOf("select id, v from main.c_cpk order by id") == Seq("[1,a]", "[2,b]"))
      // the same check inside a transaction; the violation aborts it
      engine.execute("BEGIN")
      try intercept[IllegalArgumentException](engine.execute(s"copy main.c_cpk from '$dup' (HEADER)"))
      finally engine.execute("ROLLBACK")
      assert(rowsOf("select count(*) from main.c_cpk") == Seq("[2]"))
      val e3 = intercept[IllegalArgumentException](
        engine.execute(s"copy main.c_cnn from '${file("nn.csv", "id,v\n1,a\n,b\n")}' WITH (HEADER)"))
      assert(e3.getMessage.contains("""null value in column "id""""), e3.getMessage)
      assert(rowsOf("select count(*) from main.c_cnn") == Seq("[0]"))
    } finally {
      engine.execute("drop table if exists main.c_cpk"); engine.execute("drop table if exists main.c_cnn")
      graft.server.Persistence.rm(dir.toFile)
    }
  }

  test("INSERT with a column list into a constrained table checks the full row, omitted columns NULL") {
    fresh("c_il"); fresh("c_iln")
    engine.execute("create table main.c_il (id INT PRIMARY KEY, v VARCHAR, w INT CHECK (w > 0))")
    engine.execute("create table main.c_iln (id INT NOT NULL, v VARCHAR)")
    try {
      bothTxnModes { inTxn =>
        val k = if (inTxn) 2 else 1
        // the CHECK column is omitted: NULL passes it
        assert(engine.execute(s"insert into main.c_il (id, v) values ($k, 'v$k')").tag == "INSERT 0 1")
        assert(rowsOf(s"select id, v, w from main.c_il where id = $k") == Seq(s"[$k,v$k,null]"))
      }
      assert(rowsOf("select count(*) from main.c_il") == Seq("[2]"))
      bothTxnModes { inTxn =>
        // the omitted NOT NULL column is NULL: DuckDB's not-null error,
        // not an unresolved column
        val e = intercept[IllegalArgumentException](
          engine.execute("insert into main.c_iln (v) values ('a')"))
        assert(e.getMessage.contains("""null value in column "id" violates not-null constraint"""),
          s"inTxn=$inTxn: ${e.getMessage}")
      }
      assert(rowsOf("select count(*) from main.c_iln") == Seq("[0]"))
      // a listed column still meets its CHECK, in either order
      intercept[IllegalArgumentException](engine.execute("insert into main.c_il (w, id) values (-1, 3)"))
      assert(engine.execute("insert into main.c_il (w, id) values (7, 3)").tag == "INSERT 0 1")
      assert(rowsOf("select id, v, w from main.c_il where id = 3") == Seq("[3,null,7]"))
    } finally {
      engine.execute("drop table if exists main.c_il"); engine.execute("drop table if exists main.c_iln")
    }
  }

  test("a double-quoted INSERT target gets the same checks and ON CONFLICT handling") {
    fresh("c_qpk")
    engine.execute("create table main.c_qpk (id INT PRIMARY KEY, v VARCHAR)")
    try {
      engine.execute("insert into main.c_qpk values (1, 'a')")
      val e = intercept[IllegalArgumentException](engine.execute("""insert into main."c_qpk" values (1, 'b')"""))
      assert(e.getMessage.contains("duplicate key"), e.getMessage)
      intercept[IllegalArgumentException](engine.execute("""insert into "main"."c_qpk" (id) values (1)"""))
      engine.execute("""insert into main."c_qpk" values (1, 'c'), (2, 'd') on conflict do nothing""")
      assert(rowsOf("select id, v from main.c_qpk order by id") == Seq("[1,a]", "[2,d]"))
    } finally engine.execute("drop table if exists main.c_qpk")
  }

  test("INSERT … SELECT * EXCLUDE into a constrained table") {
    fresh("c_exk"); fresh("c_exs")
    engine.execute("create table main.c_exk (id INT PRIMARY KEY, v VARCHAR)")
    engine.execute("create table main.c_exs (id INT, x INT, v VARCHAR)")
    try {
      engine.execute("insert into main.c_exs values (1, 10, 'a'), (2, 20, 'b')")
      assert(engine.execute("insert into main.c_exk select * exclude (x) from main.c_exs").tag ==
        "INSERT 0 2")
      assert(rowsOf("select id, v from main.c_exk order by id") == Seq("[1,a]", "[2,b]"))
      val e = intercept[IllegalArgumentException](
        engine.execute("insert into main.c_exk select * exclude (x) from main.c_exs"))
      assert(e.getMessage.contains("duplicate key"), e.getMessage)
    } finally {
      engine.execute("drop table if exists main.c_exk"); engine.execute("drop table if exists main.c_exs")
    }
  }

  test("* EXCLUDE covers TEMP and in-transaction tables, qualified stars and extra items") {
    fresh("c_exq")
    engine.execute("create table main.c_exq (a INT, b INT)")
    engine.execute("insert into main.c_exq values (1, 2)")
    def cols(sql: String): Seq[String] = engine.execute(sql).df.schema.fieldNames.toSeq
    try {
      assert(rowsOf("select t.* exclude (b) from main.c_exq t") == Seq("[1]"))
      assert(cols("select * exclude (b), 1 as one from main.c_exq") == Seq("a", "one"))
      assert(rowsOf("select * exclude (B) from main.c_exq where b = 2") == Seq("[1]"))
      engine.execute("create temp table c_ex_tmp (a INT, b INT, c INT)")
      try {
        engine.execute("insert into c_ex_tmp values (1, 2, 3)")
        assert(rowsOf("select * exclude (b) from c_ex_tmp") == Seq("[1,3]"))
      } finally engine.execute("drop table c_ex_tmp")
      engine.execute("BEGIN")
      try {
        engine.execute("create table main.c_ex_txn (a INT, b INT)")
        engine.execute("insert into main.c_ex_txn values (5, 6)")
        assert(rowsOf("select * exclude (a) from main.c_ex_txn") == Seq("[6]"))
        // an unknown name is a binder error: the transaction stays usable
        intercept[org.apache.spark.sql.AnalysisException](
          engine.execute("select * exclude (nope) from main.c_exq"))
        assert(engine.txnStatus == 'T')
        assert(rowsOf("select count(*) from main.c_ex_txn") == Seq("[1]"))
      } finally engine.execute("ROLLBACK")
      assert(!spark.catalog.tableExists("main.c_ex_txn"))
    } finally engine.execute("drop table if exists main.c_exq")
  }

  test("nextval INSERT … SELECT racing batch appends into one unconstrained table: no deadlock") {
    // the sequence path holds the table's write lock while its INSERT
    // appends; taking the append mutex under it would wait on a batch
    // that holds the mutex and waits on the read lock
    fresh("c_seqapp")
    engine.execute("drop sequence if exists main.c_seqapp_s")
    engine.execute("create sequence main.c_seqapp_s")
    engine.execute("create table main.c_seqapp (id BIGINT, v INT)")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val seq = pool.submit(new Runnable {
        def run(): Unit = for (_ <- 0 until 10)
          engine.execute("insert into main.c_seqapp select nextval('main.c_seqapp_s'), 1 from range(3)")
      })
      val batches = pool.submit(new Runnable {
        def run(): Unit = for (_ <- 0 until 40)
          engine.appendBatch("main.c_seqapp", Seq("id", "v"), Seq(Seq[Any](-1L, 2)))
      })
      seq.get(120, TimeUnit.SECONDS); batches.get(120, TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    assert(rowsOf("select v, count(*), count(distinct id) from main.c_seqapp group by v order by v") ==
      Seq("[1,30,30]", "[2,40,1]"))
    engine.execute("drop table main.c_seqapp"); engine.execute("drop sequence main.c_seqapp_s")
  }

  test("ON CONFLICT DO UPDATE checks NOT NULL, FK and non-target UNIQUE on the merged image") {
    fresh("c_ocpar"); fresh("c_ockid")
    engine.execute("create table main.c_ocpar (id INT PRIMARY KEY)")
    engine.execute("create table main.c_ockid (id INT PRIMARY KEY, " +
      "pid INT REFERENCES main.c_ocpar(id), v VARCHAR NOT NULL, u INT UNIQUE)")
    try {
      engine.execute("insert into main.c_ocpar values (1)")
      engine.execute("insert into main.c_ockid values (1, 1, 'a', 10), (2, 1, 'b', 20)")
      val before = rowsOf("select * from main.c_ockid order by id")
      val ins = "insert into main.c_ockid values (1, 1, 'x', 11) on conflict (id) do update set "
      Seq("v = NULL" -> "not-null", "pid = 99" -> "foreign key", "u = 20" -> "unique").foreach {
        case (set, msg) => bothTxnModes { inTxn =>
          val e = intercept[IllegalArgumentException](engine.execute(ins + set))
          assert(e.getMessage.contains(msg), s"$set inTxn=$inTxn: ${e.getMessage}")
        }
      }
      assert(rowsOf("select * from main.c_ockid order by id") == before)
      // a SET that keeps every constraint still applies, in both modes
      bothTxnModes { inTxn =>
        assert(engine.execute(ins + s"v = 'y$inTxn'").tag == "INSERT 0 1")
        assert(rowsOf("select v from main.c_ockid where id = 1") == Seq(s"[y$inTxn]"))
      }
    } finally Seq("c_ockid", "c_ocpar").foreach(t => engine.execute(s"drop table if exists main.$t"))
  }

  test("TRUNCATE of a referenced parent is rejected and changes nothing") {
    fresh("c_trp"); fresh("c_trc")
    engine.execute("create table main.c_trp (id INT PRIMARY KEY)")
    engine.execute("create table main.c_trc (pid INT REFERENCES main.c_trp(id))")
    try {
      engine.execute("insert into main.c_trp values (1), (2)")
      engine.execute("insert into main.c_trc values (1)")
      bothTxnModes { inTxn =>
        val e = intercept[IllegalArgumentException](engine.execute("truncate main.c_trp"))
        assert(e.getMessage.contains("still referenced"), s"inTxn=$inTxn: ${e.getMessage}")
      }
      assert(rowsOf("select count(*) from main.c_trp") == Seq("[2]"))
      assert(rowsOf("select pid from main.c_trc") == Seq("[1]"))
      // once the child is empty the parent truncates, in a transaction too
      engine.execute("BEGIN")
      engine.execute("truncate table main.c_trc")
      engine.execute("truncate table main.c_trp")
      engine.execute("COMMIT")
      assert(rowsOf("select count(*) from main.c_trp") == Seq("[0]"))
    } finally Seq("c_trc", "c_trp").foreach(t => engine.execute(s"drop table if exists main.$t"))
  }

  test("UPDATE splits its WHERE at the top level, not inside a SET subquery") {
    fresh("c_ua"); fresh("c_ub")
    engine.execute("create table main.c_ua (id INT, v INT)")
    engine.execute("create table main.c_ub (id INT, w INT)")
    try {
      engine.execute("insert into main.c_ua values (1, 0), (2, 0)")
      engine.execute("insert into main.c_ub values (1, 5), (1, 7), (2, 9)")
      assert(engine.execute("update main.c_ua set v = (select max(w) from main.c_ub " +
        "where c_ub.id = c_ua.id) where id = 1").tag == "UPDATE 1")
      assert(rowsOf("select id, v from main.c_ua order by id") == Seq("[1,7]", "[2,0]"))
    } finally Seq("c_ua", "c_ub").foreach(t => engine.execute(s"drop table if exists main.$t"))
  }

  test("in-transaction UPDATE and DELETE write what their subqueries read in the transaction") {
    fresh("c_sqt")
    engine.execute("create table main.c_sqt (id INT, a INT)")
    try {
      engine.execute("insert into main.c_sqt values (1, 10), (19, 50)")
      engine.execute("BEGIN")
      engine.execute("delete from main.c_sqt where id > 7")
      assert(engine.execute("update main.c_sqt set a = 7 " +
        "where id = (select max(id) from main.c_sqt)").tag == "UPDATE 1")
      assert(rowsOf("select id, a from main.c_sqt") == Seq("[1,7]"))
      engine.execute("insert into main.c_sqt values (5, 5)")
      assert(engine.execute("delete from main.c_sqt " +
        "where id = (select max(id) from main.c_sqt)").tag == "DELETE 1")
      assert(rowsOf("select id, a from main.c_sqt") == Seq("[1,7]"))
      engine.execute("COMMIT")
      assert(rowsOf("select id, a from main.c_sqt") == Seq("[1,7]"))
    } finally engine.execute("drop table if exists main.c_sqt")
  }

  test("a SET of an unknown column, or with no `=`, is a binder error that changes nothing") {
    fresh("c_unk")
    engine.execute("create table main.c_unk (id INT PRIMARY KEY, v INT)")
    try {
      engine.execute("insert into main.c_unk values (1, 1)")
      bothTxnModes { inTxn =>
        intercept[org.apache.spark.sql.AnalysisException](
          engine.execute("update main.c_unk set nosuch = 5"))
        intercept[org.apache.spark.sql.AnalysisException](engine.execute(
          "insert into main.c_unk values (1, 2) on conflict (id) do update set nosuch = 5"))
        // so is a SET item with no `=`
        intercept[org.apache.spark.sql.AnalysisException](engine.execute("update main.c_unk set v"))
        // a binder error leaves the transaction usable
        assert(engine.txnStatus == (if (inTxn) 'T' else 'I'))
      }
      assert(rowsOf("select id, v from main.c_unk") == Seq("[1,1]"))
    } finally engine.execute("drop table if exists main.c_unk")
  }

  test("quoted and aliased UPDATE, DELETE and TRUNCATE targets take the rewrite path") {
    fresh("c_qt"); fresh("c_qtc")
    engine.execute("create table main.c_qt (id INT PRIMARY KEY, v VARCHAR)")
    engine.execute("create table main.c_qtc (pid INT REFERENCES main.c_qt(id))")
    try {
      engine.execute("insert into main.c_qt values (1, 'a'), (2, 'b'), (3, 'c')")
      engine.execute("insert into main.c_qtc values (2)")
      assert(engine.execute("""update "main"."c_qt" set v = 'q' where id = 1""").tag == "UPDATE 1")
      assert(engine.execute("update main.c_qt as x set v = 'y' where x.id = 1").tag == "UPDATE 1")
      assert(engine.execute("update main.c_qt x set v = x.v || 'z' where x.id = 1").tag == "UPDATE 1")
      // the constraint checks run: a key collision and a referenced delete
      val dup = intercept[IllegalArgumentException](
        engine.execute("""update main."c_qt" set id = 3 where id = 1"""))
      assert(dup.getMessage.contains("duplicate key"), dup.getMessage)
      val ref = intercept[IllegalArgumentException](
        engine.execute("""delete from main."c_qt" where id = 2"""))
      assert(ref.getMessage.contains("still referenced"), ref.getMessage)
      assert(engine.execute("delete from main.c_qt as x where x.id = 3").tag == "DELETE 1")
      assert(engine.execute("delete from main.c_qt x where x.v = 'yz'").tag == "DELETE 1")
      assert(rowsOf("select id, v from main.c_qt") == Seq("[2,b]"))
      assert(engine.execute("""truncate "main"."c_qtc"""").tag == "TRUNCATE TABLE")
      assert(rowsOf("select count(*) from main.c_qtc") == Seq("[0]"))
      // a TEMP table's own name qualifies its columns
      engine.execute("create temp table c_qtmp (id INT PRIMARY KEY, v INT)")
      try {
        engine.execute("insert into c_qtmp values (1, 1), (2, 2)")
        assert(engine.execute("update c_qtmp set v = c_qtmp.v + 8 where c_qtmp.id = 1").tag == "UPDATE 1")
        assert(engine.execute("delete from c_qtmp where c_qtmp.id = 2").tag == "DELETE 1")
        engine.execute("insert into c_qtmp values (1, 0) on conflict (id) do update set v = c_qtmp.v + 1")
        assert(rowsOf("select id, v from c_qtmp") == Seq("[1,10]"))
      } finally engine.execute("drop table c_qtmp")
    } finally Seq("c_qtc", "c_qt").foreach(t => engine.execute(s"drop table if exists main.$t"))
  }

  test("SELECT * REPLACE over a TEMP table") {
    engine.execute("create temp table c_rep_tmp (a INT, b INT)")
    try {
      engine.execute("insert into c_rep_tmp values (1, 1)")
      assert(rowsOf("select * replace (b + 10 as b) from c_rep_tmp") == Seq("[1,11]"))
    } finally engine.execute("drop table c_rep_tmp")
  }

  test("SELECT * REPLACE over a table created in the open transaction") {
    engine.execute("BEGIN")
    try {
      engine.execute("create table main.c_rep_txn (a INT, b INT)")
      engine.execute("insert into main.c_rep_txn values (1, 1)")
      assert(rowsOf("select * replace (b + 10 as b) from main.c_rep_txn") == Seq("[1,11]"))
    } finally engine.execute("ROLLBACK")
  }
}
