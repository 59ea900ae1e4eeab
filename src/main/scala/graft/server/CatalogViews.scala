package graft.server

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** Catalog emulation: PG `pg_catalog`, `information_schema`, ClickHouse
  * `system.*` and DuckDB's `duckdb_*()` table functions. The reference
  * takes its catalog from DuckDB and adds ~10 compat views at startup
  * (pg_server.go:35-76); Spark has none of these, and static views
  * would go stale, so every family is a temp view over a driver-local
  * relation (no Spark job) built from the live catalog.
  *
  * All families come from one snapshot: the databases, their tables
  * and views, and each one's catalog metadata (schema, kind, view
  * text), read once per DDL epoch ([[Engine.ddlEpoch]]) — and only when
  * a statement names a catalog view. psql's `\d` sends several catalog
  * queries per meta-command; they share one walk.
  *
  * [[resolve]] is the per-statement entry point: it maps catalog names
  * in code spans (never inside literals, identifiers or comments) to
  * the view names, applies the psql-dialect fixes, and refreshes the
  * snapshot when anything was named. */
private[server] final class CatalogViews(spark: SparkSession, engine: Engine) {
  import CatalogViews._

  private val seen = new AtomicLong(-1L)

  def resolve(sql: String): String = {
    var s = SqlLexer.replaceInCode(sql, infoSchemaRe)(m => s"__is_${m.group(1).toLowerCase}")
    s = SqlLexer.replaceInCode(s, sysCatalogRe)(m => s"__sys_${m.group(1).toLowerCase}")
    s = SqlLexer.replaceInCode(s, duckCatalogRe)(m => s"__duck_${m.group(1).toLowerCase}")
    val pg = SqlLexer.codeMatches(s, pgRefRe).hasNext
    if (pg) s = pgCompat(s)
    if (pg || (s ne sql)) refresh()
    s
  }

  // views that list nothing from the catalog: registered once
  locally {
    import spark.implicits._
    view("pg_am", Seq.empty[(Int, String)], "oid", "amname")
    view("pg_auth_members", Seq.empty[(Int, Int, Int, Boolean)],
      "roleid", "member", "grantor", "admin_option")
    view("pg_attrdef", Seq.empty[(Int, Int, String)], "adrelid", "adnum", "adbin")
    view("pg_collation", Seq.empty[(Int, String)], "oid", "collname")
    view("pg_constraint",
      Seq.empty[(Int, Int, String, String, Boolean, Boolean, Int, Int, Boolean, Int)],
      "oid", "conrelid", "contype", "conname", "condeferrable", "condeferred",
      "conindid", "confrelid", "convalidated", "conparentid")
    view("pg_index", Seq.empty[(Int, Int, Boolean, Boolean, Boolean, Boolean, Boolean)],
      "indexrelid", "indrelid", "indisprimary", "indisunique", "indisclustered",
      "indisvalid", "indisreplident")
    view("__duck_databases", Seq(("memory", 0L, "", false, "duckdb")),
      "database_name", "database_oid", "path", "internal", "type")
    view("__duck_settings", Seq(
        ("threads", spark.sparkContext.defaultParallelism.toString,
          "number of worker threads", "BIGINT"),
        ("memory_limit", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"),
          "memory limit", "VARCHAR"),
        ("version", spark.version, "engine version", "VARCHAR")),
      "name", "value", "description", "input_type")
  }

  /** One catalog object: `schema` is its catalog schema (a view's as
    * stored at CREATE VIEW), `viewText` a view's defining SQL. */
  private case class Rel(db: String, name: String, isView: Boolean,
      schema: StructType, viewText: Option[String]) {
    def key: String = s"$db.$name".toLowerCase
  }

  private def refresh(): Unit =
    if (seen.get() != Engine.ddlEpoch.get()) synchronized {
      val epoch = Engine.ddlEpoch.get()
      if (seen.get() != epoch) {
        // session-catalog calls: Catalog.listDatabases/listTables run a
        // Spark job per call. Listing order is kept for
        // information_schema; every other family lists databases sorted.
        val sc = spark.sessionState.catalog
        val listed = sc.listDatabases()
        val rels = listed.map { d =>
          d -> sc.listTables(d, "*", includeLocalTempViews = false)
            .filterNot(t => Engine.isHiddenTable(t.table))
            .flatMap { t =>
              // a table dropped since the listing drops out of the snapshot
              try {
                val meta = sc.getTableMetadata(t)
                Some(Rel(d, t.table, meta.tableType == CatalogTableType.VIEW, meta.schema,
                  meta.viewText))
              } catch { case NonFatal(_) => None }
            }
        }.toMap
        register(listed, rels)
        seen.set(epoch)
      }
    }

  private def view[T: Encoder](name: String, rows: Seq[T], cols: String*): Unit =
    spark.createDataset(rows).toDF(cols: _*).createOrReplaceTempView(name)

  private def register(listed: Seq[String], rels: Map[String, Seq[Rel]]): Unit = {
    import spark.implicits._
    val dbs = listed.sorted
    val all = dbs.flatMap(rels)
    val tables = all.filterNot(_.isView)
    val constraints = engine.constraints.asScala.toSeq.sortBy(_._1)
    // Spark's type spelling, as Catalog.listColumns reports it
    def sparkType(f: org.apache.spark.sql.types.StructField): String =
      CharVarcharUtils.getRawType(f.metadata).getOrElse(f.dataType).simpleString

    // -- information_schema.{schemata,tables,columns,constraint_column_usage}
    val isRels = listed.flatMap(rels)
    view("__is_schemata", listed.map(d => ("spark", d)), "catalog_name", "schema_name")
    view("__is_tables", isRels.map(r =>
      ("spark", r.db, r.name, if (r.isView) "VIEW" else "BASE TABLE")),
      "table_catalog", "table_schema", "table_name", "table_type")
    view("__is_columns", isRels.flatMap(r => r.schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => ("spark", r.db, r.name, f.name, i + 1, sparkType(f),
        if (f.nullable) "YES" else "NO")
    }), "table_catalog", "table_schema", "table_name", "column_name", "ordinal_position",
      "data_type", "is_nullable")
    // from the declared-constraint registry (the reference ships it
    // empty, pg_server.go:39 — real rows here)
    view("__is_constraint_column_usage", constraints.flatMap { case (key, c) =>
      val Array(sch, tbl) = key.split("\\.", 2)
      c.pk.map(col => ("spark", sch, tbl, col, s"${tbl}_pkey")) ++
        c.unique.flatten.map(col => ("spark", sch, tbl, col, s"${tbl}_${col}_key"))
    }, "table_catalog", "table_schema", "table_name", "column_name", "constraint_name")

    // -- pg_catalog: psql \dt / \dn / \dv / \d <table>, JDBC metadata.
    // pg_class carries the full psql-15 column set (all "off": no
    // indexes/rules/triggers, so psql skips those footer queries);
    // pg_attribute is real per-column data with NOT NULL sourced from
    // declared constraints.
    val nsOid = dbs.zipWithIndex.map { case (d, i) => d -> (1000 + i) }.toMap
    view("pg_namespace", dbs.map(d => (nsOid(d), d, 0)), "oid", "nspname", "nspowner")
    // per-db oid stride of 10k: DDL in one database can't shift another
    // database's oids between psql's successive catalog queries, and
    // collisions need >10k tables in one db
    val oids = dbs.flatMap(d => rels(d).sortBy(_.name).zipWithIndex.map { case (r, i) =>
      (100000 + (nsOid(d) - 1000) * 10000 + i, r)
    })
    spark.createDataset(oids.map { case (oid, r) =>
      (oid, r.name, nsOid(r.db), if (r.isView) "v" else "r", 0, 0,
        0 /*relchecks*/, false /*relhasindex*/, false /*relhasrules*/,
        false /*relhastriggers*/, false /*relrowsecurity*/, false /*relforcerowsecurity*/,
        false /*relispartition*/, 0 /*reltablespace*/, "p" /*relpersistence*/,
        "d" /*relreplident*/, -1.0 /*reltuples*/, 0 /*relpages*/, false /*relhassubclass*/,
        0 /*reltoastrelid*/, 0 /*reloftype*/)
    }).toDF("oid", "relname", "relnamespace", "relkind", "relowner", "relam",
        "relchecks", "relhasindex", "relhasrules", "relhastriggers", "relrowsecurity",
        "relforcerowsecurity", "relispartition", "reltablespace", "relpersistence",
        "relreplident", "reltuples", "relpages", "relhassubclass",
        "reltoastrelid", "reloftype")
      .withColumn("reloptions", lit(null).cast("array<string>"))
      .createOrReplaceTempView("pg_class")
    view("pg_attribute", oids.flatMap { case (oid, r) =>
      val nn = Option(engine.constraints.get(r.key)).map(c => (c.notNull ++ c.pk).toSet)
        .getOrElse(Set.empty[String])
      r.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        (oid, f.name, graft.server.pg.PgTypes.oidOf(f.dataType), i + 1,
          graft.server.pg.PgTypes.typmodOf(f.dataType), nn(f.name.toLowerCase),
          false /*atthasdef*/, false /*attisdropped*/, 0 /*attcollation*/,
          "" /*attidentity*/, "" /*attgenerated*/, "p" /*attstorage*/, "" /*attcompression*/,
          -1 /*attstattarget*/)
      }
    }, "attrelid", "attname", "atttypid", "attnum", "atttypmod", "attnotnull", "atthasdef",
      "attisdropped", "attcollation", "attidentity", "attgenerated", "attstorage",
      "attcompression", "attstattarget")
    // view definitions for pg_get_viewdef (rewritten in pgCompat to a
    // scalar subquery over this view — a UDF can't close over the
    // session catalog)
    view("__pg_viewdefs", oids.flatMap { case (oid, r) => r.viewText.map(v => (oid, v)) },
      "oid", "viewdef")
    // pg_roles from the live users table (psql \du); the bootstrap
    // pseudo-role 'spark' owns everything
    val roles = ("spark" +: engine.users.keySet.asScala.toSeq.sorted).distinct
    spark.createDataset(roles.zipWithIndex.map { case (u, i) =>
      (50000 + i, u, u == "spark", true, false, false, true, false, -1, false)
    }).toDF("oid", "rolname", "rolsuper", "rolinherit", "rolcreaterole",
        "rolcreatedb", "rolcanlogin", "rolreplication", "rolconnlimit", "rolbypassrls")
      .withColumn("rolvaliduntil", lit(null).cast("timestamp"))
      .createOrReplaceTempView("pg_roles")
    // pg_database: one row per Spark database (psql \l)
    spark.createDataset(dbs.map(d => (nsOid(d), d, 0, 6 /*UTF8*/, "C", "C", null: String, "c")))
      .toDF("oid", "datname", "datdba", "encoding", "datcollate", "datctype",
        "daticulocale", "datlocprovider")
      .withColumn("datacl", lit(null).cast("array<string>"))
      .createOrReplaceTempView("pg_database")
    // pg_proc from the live function registry; prokind 'a' marks
    // aggregates (the reference exposes DuckDB's; system.functions
    // derives from it, pg_server.go:66-68)
    val reg = spark.sessionState.functionRegistry
    val procs = reg.listFunction().map { f =>
      val group = try Option(reg.lookupFunction(f).orNull).flatMap(i => Option(i.getGroup))
        catch { case NonFatal(_) => None }
      (f.funcName, if (group.contains("agg_funcs")) "a" else "f")
    }.distinct.sortBy(_._1)
    view("pg_proc", procs.zipWithIndex.map { case ((n, k), i) => (30000 + i, n, k, 11) },
      "oid", "proname", "prokind", "pronamespace")

    // -- ClickHouse system.* (reference pg_server.go:47-68 defines these
    // over information_schema/pg_proc; same data here)
    view("__sys_databases", dbs.map(Tuple1(_)), "name")
    view("__sys_tables", tables.map(r => (r.name, r.db, "uuid", "graft", 0, "")),
      "name", "database", "uuid", "engine", "is_temporary", "comment")
    view("__sys_columns", all.flatMap(r => r.schema.fields.toSeq.map { f =>
      (r.db, r.name, f.name, sparkType(f), "", sparkType(f), "")
    }), "database", "table", "name", "type", "comment", "default_kind", "default_expression")
    view("__sys_functions", procs.map { case (n, k) => (n, k == "a") }, "name", "is_aggregate")

    // -- DuckDB's introspection TVFs (scripts ported from the
    // reference's backing engine call them directly): core columns of
    // each DuckDB 1.0 shape; macros and sequences surface the engine's
    // own registries (a created MACRO is introspectable here)
    val dl = dbs.map(_.toLowerCase)
    view("__duck_schemas", dl.zipWithIndex.map { case (d, i) => (i.toLong, "memory", d, false) },
      "oid", "database_name", "schema_name", "internal")
    view("__duck_tables", tables.map(r => ("memory", r.db.toLowerCase, r.name.toLowerCase,
        false, false, Option(engine.constraints.get(r.key)).exists(_.pk.nonEmpty),
        r.schema.size.toLong)),
      "database_name", "schema_name", "table_name", "internal", "temporary",
      "has_primary_key", "column_count")
    view("__duck_views", all.filter(_.isView).map(r =>
        ("memory", r.db.toLowerCase, r.name.toLowerCase, false, false)),
      "database_name", "schema_name", "view_name", "internal", "temporary")
    view("__duck_columns", all.flatMap(r => r.schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => ("memory", r.db.toLowerCase, r.name.toLowerCase, f.name, i.toLong, false,
        graft.functions.DuckTypeNames.of(f.dataType), f.nullable)
    }), "database_name", "schema_name", "table_name", "column_name", "column_index",
      "internal", "data_type", "is_nullable")
    // the names Catalog.listFunctions returns, in its order (builtins
    // and the operators SHOW FUNCTIONS adds, then session functions,
    // each sorted), without the two Spark jobs it runs to get them
    val (user, builtin) = spark.sessionState.catalog
      .listFunctions(spark.catalog.currentDatabase, "*").partition(_._2 == "USER")
    val fnNames =
      (builtin.map(_._1.funcName) ++ FunctionRegistry.builtinOperators.keys).distinct.sorted ++
        user.map(_._1.funcName).distinct.sorted
    view("__duck_functions", fnNames.map(n => ("memory", "main", n.toLowerCase, "scalar", "")) ++
      engine.macros.asScala.toSeq.sortBy(_._1).map { case (n, d) =>
        ("memory", "main", n, if (d.isTable) "table_macro" else "macro",
          s"${n}(${d.params.mkString(", ")}) AS ${d.body}")
      }, "database_name", "schema_name", "function_name", "function_type", "macro_definition")
    view("__duck_sequences", engine.sequences.asScala.toSeq
      .filterNot { case (n, _) => Engine.isTempConnName(n.split('.').last) }
      .sortBy(_._1).map { case (n, s) =>
        val parts = n.split('.')
        ("memory", if (parts.length > 1) parts(0) else "main", parts.last,
          s.inc, s.next.get())
      }, "database_name", "schema_name", "sequence_name", "increment_by", "last_value")
    view("__duck_constraints", constraints.flatMap { case (q, c) =>
      val parts = q.split('.')
      val (db, t) = (if (parts.length > 1) parts(0) else "main", parts.last)
      def row(kind: String, cols: Seq[String], ex: String = "") =
        ("memory", db, t, kind, cols, ex)
      (if (c.pk.nonEmpty) Seq(row("PRIMARY KEY", c.pk)) else Nil) ++
        c.unique.map(u => row("UNIQUE", u)) ++
        c.notNull.map(nn => row("NOT NULL", Seq(nn))) ++
        c.fks.map(f => row("FOREIGN KEY", f.cols,
          s"REFERENCES ${f.refTable}(${f.refCols.mkString(", ")})")) ++
        c.checks.map(ck => row("CHECK", Nil, ck))
    }, "database_name", "schema_name", "table_name", "constraint_type",
      "constraint_column_names", "expression")
  }

  /** psql-dialect → Spark SQL, in code spans only: strip pg_catalog
    * qualification, the OPERATOR(~) spelling, COLLATE clauses and
    * ::reg* casts psql emits, regex operators `~`/`!~` → regexp_like.
    * (Double-quoted identifiers are handled by
    * spark.sql.ansi.doubleQuotedIdentifiers.) */
  private def pgCompat(sql: String): String =
    pgCompatPasses.foldLeft(sql) { case (s, (re, f)) => SqlLexer.replaceInCode(s, re)(f) }
}

private[server] object CatalogViews {
  private val infoSchemaRe =
    """(?i)information_schema\.(schemata|tables|columns|constraint_column_usage)""".r
  private val sysCatalogRe = """(?i)\bsystem\.(databases|tables|columns|functions)\b""".r
  private val duckCatalogRe =
    """(?i)\bduckdb_(tables|columns|views|schemas|databases|functions|settings|sequences|constraints)\s*\(\s*\)""".r
  private val pgRefRe =
    """(?i)pg_catalog\.|\bpg_(class|namespace|am|proc|attribute|attrdef|collation|index|constraint|database|roles)\b""".r

  private val pgCompatPasses: Seq[(scala.util.matching.Regex,
      scala.util.matching.Regex.Match => String)] = Seq(
    """(?i)pg_catalog\.""".r -> (_ => ""),
    // psql \d+ concatenates toast reloptions via a PG array-subquery
    // constructor Spark can't parse; reloptions is always NULL here,
    // so the concatenation is identity — drop it
    """(?is)\|\|\s*array\(select\s+'toast\.'\s*\|\|\s*x\s+from\s+unnest\(tc\.reloptions\)\s+x\)""".r ->
      (_ => ""),
    // psql \du memberof column: PG ARRAY(SELECT …) constructor over
    // pg_auth_members — role membership doesn't exist here, so an
    // empty array is the truthful answer
    """(?is)ARRAY\(SELECT\s+b\.rolname\s+FROM\s+pg_auth_members\s+m\s+JOIN\s+pg_roles\s+b\s+ON\s*\(m\.roleid\s*=\s*b\.oid\)\s*WHERE\s+m\.member\s*=\s*r\.oid\)""".r ->
      (_ => "array()"),
    // PG escape-string literals: E'\n' → '\n' (Spark processes
    // backslash escapes in plain literals)
    """(?i)\bE'""".r -> (_ => "'"),
    """(?i)OPERATOR\s*\(\s*!~\s*\)""".r -> (_ => " !~ "),
    """(?i)OPERATOR\s*\(\s*~\s*\)""".r -> (_ => " ~ "),
    """(?i)\s+COLLATE\s+[\w."]+""".r -> (_ => ""),
    """(?i)::(regclass|regnamespace|regtype|regrole|oid|"char")""".r -> (_ => ""),
    """(?i)::text\b""".r -> (_ => "::string"),
    """([\w.]+)\s+!~\s+('(?:[^']*)')""".r ->
      (m => s"NOT regexp_like(${m.group(1)}, ${m.group(2)})"),
    """([\w.]+)\s+~\s+('(?:[^']*)')""".r -> (m => s"regexp_like(${m.group(1)}, ${m.group(2)})"),
    """(?i)pg_get_viewdef\s*\(\s*([^,)]+?)\s*(?:,[^)]*)?\)""".r ->
      (m => s"(SELECT viewdef FROM __pg_viewdefs WHERE oid = ${m.group(1).trim})"))

  /** psql footer queries over catalogs with no analog here (extended
    * stats, publications, policies …): answered with an empty result,
    * not an error, so \d keeps rendering (DuckDB gives the reference
    * real-but-empty versions of these). */
  def isUnmodelled(sql: String): Boolean = SqlLexer.codeMatches(sql, psqlStubRe).hasNext
  private val psqlStubRe =
    """(?i)\bpg_(statistic_ext|publication|policy|policies|rules|event_trigger|inherits|partitioned_table|foreign_table|stat_\w+)\b""".r

  /** Compat objects that never change: pg_type and pg_matviews, and the
    * psql meta-command helper functions (reference pg_server.go:35-76). */
  def install(spark: SparkSession): Unit = {
    val oidRows = Seq(
      16 -> "bool", 20 -> "int8", 21 -> "int2", 23 -> "int4", 25 -> "text",
      700 -> "float4", 701 -> "float8", 1700 -> "numeric", 1082 -> "date",
      1114 -> "timestamp", 1184 -> "timestamptz", 114 -> "json", 17 -> "bytea")
      .map { case (o, n) => s"($o, '$n', 0)" }.mkString(", ")
    spark.sql(s"CREATE OR REPLACE VIEW pg_type AS SELECT * FROM VALUES $oidRows AS t(oid, typname, typcollation)")
    spark.sql("CREATE OR REPLACE VIEW pg_matviews AS SELECT '' AS matviewname WHERE false")
    // psql meta-command helpers (always-true visibility, fixed owner)
    spark.udf.register("pg_table_is_visible", (_: Long) => true)
    spark.udf.register("pg_get_userbyid", (_: Long) => "spark")
    // \d support: format_type drives the column-type column; the rest
    // are inert stubs psql's queries must merely resolve (defaults,
    // constraint defs, comments, sizes are all empty here)
    spark.udf.register("format_type",
      (oid: Int, typmod: Int) => graft.server.pg.PgTypes.nameOf(oid, typmod))
    spark.udf.register("pg_get_expr", (_: String, _: Int, _: Boolean) => null: String)
    spark.udf.register("pg_get_constraintdef", (_: Int, _: Boolean) => null: String)
    spark.udf.register("pg_get_indexdef", (_: Int, _: Int, _: Boolean) => null: String)
    spark.udf.register("obj_description", (_: Int, _: String) => null: String)
    spark.udf.register("col_description", (_: Int, _: Int) => null: String)
    spark.udf.register("quote_ident", (s: String) => if (s == null) null else "\"" + s.replace("\"", "\"\"") + "\"")
    spark.udf.register("array_to_string",
      (a: scala.collection.Seq[String], sep: String) =>
        if (a == null) null else a.filter(_ != null).mkString(sep))
    spark.udf.register("pg_encoding_to_char", (_: Int) => "UTF8")
    spark.udf.register("pg_table_size", (_: Int) => 0L)
    spark.udf.register("pg_total_relation_size", (_: Int) => 0L)
    spark.udf.register("pg_size_pretty", (_: Long) => "0 bytes")
  }
}
