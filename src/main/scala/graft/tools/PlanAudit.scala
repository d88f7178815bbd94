package graft.tools

import graft.Posture

/** Plan-shape audit main: for each named registry query (or all), print
  * the physical-plan stats the scale ledger cares about — parquet scans,
  * hash-partitioning exchanges, join strategies, cartesians — so a
  * regression is visible without reading full explains. Plans under the
  * SAME posture as Bench ([[Posture.session]] + [[Posture.statsOn]]).
  * Not part of the driver contract.
  *
  * runMain graft.tools.PlanAudit [query1,query2,...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Posture.session()
    spark.sparkContext.setLogLevel("ERROR")
    Posture.statsOn(spark, sfDir)
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq
      else graft.Registry.all.map(_.name)
    // GRAFT_AUDIT_EXEC=1: execute first and audit the FINAL adaptive
    // plan — AQE decisions (runtime exchange reuse, skew splits) only
    // exist post-execution
    val exec = sys.env.get("GRAFT_AUDIT_EXEC").contains("1")
    for (n <- names) {
      val p = try {
        val df = graft.Registry.queries(n)(spark, sfDir)
        if (exec) df.write.mode("overwrite").format("noop").save()
        df.queryExecution.executedPlan.toString
      } catch { case e: Throwable => s"ERROR ${e.getMessage}" }
      def c(pat: String) = pat.r.findAllIn(p).size
      println(s"$n scans=${c("Scan parquet")} exchanges=${c("Exchange hashpartitioning")}" +
        s" bcast=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")}" +
        s" cartesian=${c("CartesianProduct")} bnlj=${c("BroadcastNestedLoopJoin")}" +
        s" windows=${c("Window ")} takeOrdered=${c("TakeOrderedAndProject")}" +
        (if (exec) s" reused=${c("ReusedExchange")}" else ""))
    }
    spark.stop()
  }
}
