package graft

import java.io.{File, FileWriter}

/** Dump `.explain("formatted")` of every declared query to one file per
  * query — the plan evidence the optimization rounds commit under
  * `plans/r<N>/<query>_<suffix>.txt`.
  *
  * The session runs Bench's profile ([[graft.engine.GraftSession.benchProfile]]:
  * AQE off, static-8 shuffle partitions, 4 MB scan splits, presentation
  * sort) so the dumped plan is the plan the bench actually times;
  * SPARK_GRAFT_AQE=1 restores the adaptive plan like in Bench.
  *
  *   SPARK_GRAFT_PLAN_DIR=plans/r15 SPARK_GRAFT_PLAN_SUFFIX=before \
  *   SPARK_GRAFT_ONLY='q_tpch_.*' sbt "runMain graft.PlanDump"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // ADVICE r15: no round-numbered default — a forgotten env var must
    // not silently refresh a PREVIOUS round's committed evidence
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR",
      sys.error("SPARK_GRAFT_PLAN_DIR is required (e.g. plans/r16)"))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.engine.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.GraftSession.benchProfile(spark)
    new File(outDir).mkdirs()
    graft.engine.Tables(spark, sfDir)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    // ADVICE r15: track failures and exit non-zero — a run where every
    // dump fails must not exit 0 and leave stale plan evidence behind
    var failed = 0
    SparkEntry.defs.foreach { d =>
      if (only.forall(re => d.name.matches(re))) {
        try {
          val df = d.run(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val w = new FileWriter(s"$outDir/${d.name}_$suffix.txt")
          try w.write(plan) finally w.close()
          println(s"[plandump] ${d.name} ok")
        } catch {
          case e: Throwable =>
            failed += 1
            println(s"[plandump] ${d.name} FAILED: $e")
        }
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plandump] $failed queries failed")
      sys.exit(1)
    }
  }
}
