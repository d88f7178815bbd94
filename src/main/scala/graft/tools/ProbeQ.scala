package graft.tools
import graft.Posture

/** Time named registry queries under the SAME posture as Bench
  * ([[Posture.session]] + [[Posture.statsOn]], noop-write action, setup
  * run once and timed, persisted RDDs reclaimed between reps) — the fast
  * per-query A/B loop. Not part of the driver contract.
  *
  * runMain graft.tools.ProbeQ <q1,q2,...> [sfDir] [reps]
  */
object ProbeQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sf = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Posture.session()
    Posture.statsOn(spark, sf)
    def reclaim(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    for (name <- names) {
      val q = graft.Registry.all.find(_.name == name).getOrElse(
        sys.error(s"unknown query: $name"))
      q.setup.foreach { s =>
        val t0 = System.nanoTime()
        s(spark, sf)
        reclaim()
        println(f"$name setup ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      for (rep <- 1 to reps) {
        val t0 = System.nanoTime()
        val df = q.run(spark, sf)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        reclaim()
        println(f"$name rep $rep construct ${(t1 - t0) / 1e9}%.2f s " +
          f"execute ${(t2 - t1) / 1e9}%.2f s total ${(t2 - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
