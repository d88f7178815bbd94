package graft.tools

import graft.Posture

/** Time ONLY the bench's setup surface (stats-ON ANALYZE + each
  * benchmark=true query's one-time store build) under the same session
  * posture as Bench — the fast iteration loop for optimizing setup_total
  * without re-running 217 queries. Not part of the driver contract.
  *
  * runMain graft.tools.SetupProbe [setup1,setup2,...]
  */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Posture.session()
    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[setup] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    timed("stats")(Posture.statsOn(spark, sfDir))
    graft.Registry.all.filter(q => q.benchmark && q.setup.nonEmpty)
      .filter(q => only.forall(_.contains(q.name)))
      .sortBy(_.name).foreach { q =>
        timed(q.name)(q.setup.get(spark, sfDir))
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    spark.stop()
  }
}
