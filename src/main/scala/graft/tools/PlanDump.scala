package graft.tools

import graft.Posture

/** Dump `.explain("formatted")` for named registry queries to files —
  * the plan evidence the optimization rounds commit under `plans/rNN/`.
  * Runs under the SAME posture as Bench ([[Posture.session]] +
  * [[Posture.statsOn]]) so the dumped plan is the benched plan. Not
  * part of the driver contract.
  *
  * runMain graft.tools.PlanDump <outDir> <suffix> [query1,query2,...]
  * e.g. runMain graft.tools.PlanDump plans/r18 before graph_triangles
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Posture.session()
    spark.sparkContext.setLogLevel("ERROR")
    Posture.statsOn(spark, sfDir)
    val names =
      if (args.length > 2) args(2).split(",").toSeq
      else graft.Registry.all.map(_.name)
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      val txt = try {
        val q = graft.Registry.all.find(_.name == n).get
        q.setup.foreach(_(spark, sfDir))
        val df = q.run(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"ERROR ${e.getMessage}" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"dumped $n")
    }
    spark.stop()
  }
}
