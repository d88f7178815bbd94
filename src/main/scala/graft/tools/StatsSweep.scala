package graft.tools

import org.apache.spark.sql.DataFrame
import graft.{ExtensionQueries, Posture, RelationalQueries, Tables}
import graft.plans.Cbo

/** Stats-ON breadth gauge (offline tool): run the full relational
  * q-series plus the join-shaped extension queries once PLANNED
  * stats-less over raw parquet reads (the registered default) and once
  * PLANNED under ANALYZE'd catalog tables with CBO + join reorder on
  * ([[Cbo.withStatsOn]] over [[Cbo.ensureStatsAll]]'s tables and the
  * [[Tables.statsCatalogConf]] redirect), and report which queries'
  * join ORDER (optimized-logical leaf sequence) or join STRATEGY
  * (physical join operator sequence) statistics change — then time each
  * CHANGED query both ways (min of reps).
  *
  * A 100 TB deployment runs with statistics ON everywhere; this gauge
  * answers "what would that change here, and is each change a win".
  * Since r16 the sweep's conclusion IS the default: Verify and Bench
  * run ANALYZE'd + CBO-on out of the box (`SPARK_GRAFT_STATS=0` opts
  * out), so this tool's remaining job is the PLAN DIFF — naming which
  * queries statistics move when the surface grows. Results land in
  * SURVEY §8.17 (the r15 sweep) and §8.19 (the default flip).
  *
  * Usage: StatsSweep <sfDir> [reps]
  */
object StatsSweep {

  /** Join-shaped extension queries over the relational tables (the
    * q-series covers the rest of the join surface).
    */
  private val extensionScope = Seq(
    "er_fuzzy_name_pairs", "er_canonical_support", "er_canonical_revenue",
    "dim_scd2_asof", "dim_scd2_snapshot", "dim_scd2_merge",
    "graph_pagerank_cosupplier", "graph_bfs_hops",
    "mine_assoc_rules", "mine_freq_triples",
    "gov_fk_orphans", "gov_join_estimate")

  /** First-column → table heuristic: every relation leaf in these plans
    * projects at least one prefixed TPC-H column, so the leaf ORDER in
    * the optimized plan is recoverable from a normalized string even
    * though path reads print no table name.
    */
  private val colTag: Seq[(String, String)] = Seq(
    "l_" -> "lineitem", "o_" -> "orders", "c_" -> "customer",
    "s_" -> "supplier", "p_" -> "part", "n_" -> "nation", "r_" -> "region",
    "doc_" -> "documents", "vec_" -> "embeddings")

  private def leafOrder(plan: String): Seq[String] =
    plan.linesIterator
      .filter(l => l.contains("Relation") && l.contains("parquet"))
      .map { l =>
        colTag.collectFirst {
          case (p, t) if l.contains(s"[$p") || l.contains(s" $p") ||
            l.contains(s",$p") => t
        }.getOrElse("?")
      }.toSeq

  private def joinOps(phys: String): Seq[String] =
    ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct)").r
      .findAllIn(phys).toSeq

  /** (logical leaf order, physical join-op sequence) — both resolved at
    * ACCESS time, so callers must invoke this INSIDE the conf scope
    * (stats are lazy — the plan-facts lesson).
    */
  private def sig(df: DataFrame): (Seq[String], Seq[String]) =
    (leafOrder(df.queryExecution.optimizedPlan.toString),
      joinOps(df.queryExecution.sparkPlan.toString))

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    // the sweep compares both postures itself, so no Posture.statsOn here
    val spark = Posture.session()
    Cbo.ensureStatsAll(spark, dir)
    val scope = RelationalQueries.specs ++
      ExtensionQueries.specs.filter(q => extensionScope.contains(q.name))
    val changed = scala.collection.mutable.ListBuffer.empty[String]
    scope.foreach { q =>
      try {
        val off = sig(q.run(spark, dir))
        val on = Cbo.withStatsOn(spark, dir)(sig(q.run(spark, dir)))
        if (off != on) {
          changed += q.name
          println(s"CHANGED ${q.name}")
          println(s"  off leaves=${off._1.mkString(">")} joins=${off._2.mkString(",")}")
          println(s"  on  leaves=${on._1.mkString(">")} joins=${on._2.mkString(",")}")
        } else println(s"same ${q.name} joins=${off._2.mkString(",")}")
      } catch {
        case e: Throwable =>
          println(s"ERROR ${q.name}: ${e.getMessage}")
          var c = e.getCause
          while (c != null) {
            println(s"  cause: ${c.getClass.getName}: ${c.getMessage}")
            c.getStackTrace.take(6).foreach(f => println(s"    at $f"))
            c = c.getCause
          }
      }
    }
    // price each flipped plan: min-of-reps both ways
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    changed.foreach { name =>
      val q = scope.find(_.name == name).get
      val off = (1 to reps).map(_ => timed(q.run(spark, dir).collect())).min
      val on = Cbo.withStatsOn(spark, dir) {
        (1 to reps).map(_ => timed(q.run(spark, dir).collect())).min
      }
      println(f"TIMING $name off=$off%.3f on=$on%.3f ratio=${on / off}%.2f")
    }
    println(s"SWEEP_DONE scope=${scope.size} changed=${changed.size}: " +
      changed.mkString(","))
    spark.stop()
  }
}
