package graft

/** Dev tool: print the formatted physical plan of named queries
  * (`runMain graft.Explain <sfDir> <name>[,<name>…]`) — the per-operator
  * scale audit (broadcast sides, shuffle counts, pushed filters,
  * whole-stage codegen spans) without running the query. The session is
  * the bench's (`local[$SPARK_GRAFT_CPUS]`, same shuffle width), so the
  * plans are the ones the bench measures. */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = Harness.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXPLAIN_RUN=1 materializes each query first, so the
    // printed plan is AQE's FINAL plan (runtime join-strategy changes,
    // coalesced reads) instead of the pre-execution estimate. The
    // execution MUST run through the SAME QueryExecution that is printed:
    // a noop-sink write plans a SEPARATE QueryExecution and leaves
    // `df.queryExecution` unexecuted (isFinalPlan=false — the r18 dumps
    // proved it). Draining `toRdd` executes that plan without moving
    // result rows to the driver.
    val run = sys.env.get("SPARK_GRAFT_EXPLAIN_RUN").contains("1")
    names.split(',').foreach { n =>
      println(s"\n=== $n ===")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (run) df.queryExecution.toRdd.foreach(_ => ())
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
