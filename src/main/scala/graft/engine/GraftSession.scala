package graft.engine

import org.apache.spark.sql.SparkSession

/** Central SparkSession bootstrap: every entry point (Verify, Bench,
  * server, tests) builds its session here so semantics-critical config
  * is uniform.
  *
  *  - UTC session TZ + ANSI mode: aligns Catalyst semantics with the
  *    DuckDB oracle (SURVEY §2-B legend) — error-on-overflow, strict
  *    casts, identical wall-clock timestamps.
  *  - AQE on: runtime re-plan (broadcast promotion, skew-join split,
  *    partition coalescing) is the 100 TB story — plans written here
  *    are declarative and AQE adapts them per-scale.
  *  - shuffle.partitions defaults to the local core count; on a real
  *    cluster this is overridden by job conf, and AQE coalescing makes
  *    the static value non-critical.
  *  - nanosAsLong: the events fixture carries parquet TIMESTAMP(NANOS)
  *    which the vectorized reader rejects; read as Long and normalize
  *    in [[Tables]].
  */
object GraftSession {
  /** Ephemeral default warehouse, PER PROCESS: a test/bench/fuzz JVM
    * and a live server on the same box must never share a warehouse —
    * Engine.bootstrap WIPES the ephemeral dir at startup, and two JVMs
    * sharing one dir delete each other's staged tables mid-statement
    * (observed as FILE_NOT_EXIST finds in fuzz campaigns that only
    * "reproduced" while `sbt test` ran concurrently). Stale dirs from
    * dead processes are reclaimed by [[Engine.bootstrap]]. */
  val ephemeralWarehouse: String =
    s"/root/repo/target/warehouse-${java.lang.ProcessHandle.current().pid()}"

  def builder(master: String, cores: String,
      warehouse: String = null): SparkSession.Builder = {
    val wh = Option(warehouse).getOrElse(ephemeralWarehouse)
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      // "identifier" means identifier (PG/DuckDB convention; psql meta
      // commands and DataGrip emit double-quoted column aliases)
      .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      // (string-literal backslash semantics for the WIRE are handled by
      // Engine.rewrite's escapeLiteralBackslashes pass, not the
      // escapedStringLiterals conf: the conf disables UNESCAPING but
      // Spark's lexer still consumes \' — a literal ending in a lone
      // backslash would be inexpressible)
      .config("spark.sql.adaptive.enabled", "true")
      // 100 TB levers: runtime bloom filters prune the probe side of
      // large joins at the scan; parquet aggregate pushdown answers
      // count/min/max from footers without reading pages
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // default warehouse is ephemeral (under target/, wiped at server
      // bootstrap); ServerMain --db_path relocates it to a persistent
      // dir and Engine.bootstrap re-registers surviving tables — the
      // analog of the reference's single-file store (main.go:18)
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      // custom optimizer rules (graft.plans): top-k projection
      // transpose — expensive per-row expressions evaluate on the k
      // survivors of ORDER BY … LIMIT, not the full input
      .withExtensions(_.injectOptimizerRule(_ => graft.plans.ProjectThroughTopK))
      // root ORDER BY → single-partition presentation sort (kills the
      // range-sampling job); opt-in per session via
      // spark.graft.presentationSort — see the rule's scale note
      .withExtensions(_.injectOptimizerRule(_ => graft.plans.PresentationSort))
  }

  /** The session profile `graft.Bench` times and `graft.PlanDump`
    * dumps; the server never runs it (measured, BENCH_NOTES r7):
    *  - 4 MB scan splits: sf0.1 files are < 128 MB, so the default split
    *    ran every scan as one task;
    *  - presentation sort: a root ORDER BY sorts at the gather point,
    *    one job fewer per query (plans/PresentationSort.scala);
    *  - AQE off: with plans that pin their broadcast/shuffle split, its
    *    per-exchange job barriers are pure cost here (37.9 s vs 32.2 s
    *    full corpus); SPARK_GRAFT_AQE=1 keeps it on for A/B runs;
    *  - 8 shuffle partitions, sized to the benchmark's data rather than
    *    the core count; SPARK_GRAFT_BENCH_SHUFFLE overrides it. */
  def benchProfile(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4194304")
    spark.conf.set(graft.plans.PresentationSort.ConfKey, "true")
    if (!sys.env.contains("SPARK_GRAFT_AQE"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SHUFFLE", "8"))
  }

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      warehouse: Option[String] = None): SparkSession = {
    var b = builder(s"local[$cores]", cores, warehouse.orNull)
    // core-conf experiments (r15 floor A/Bs): SPARK_GRAFT_CORE_CONF
    // applies BUILDER-time conf — spark.shuffle.*, spark.local.dir,
    // spark.locality.* are SparkConf reads that runtime
    // spark.conf.set cannot reach (unlike SPARK_GRAFT_CONF in Bench)
    sys.env.get("SPARK_GRAFT_CORE_CONF").foreach { kvs =>
      kvs.split(';').filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b = b.config(k.trim, v.trim)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }
}
