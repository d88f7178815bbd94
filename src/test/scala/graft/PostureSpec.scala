package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one session posture: its stats degrade path, and the rule that no
  * other main builds a session of its own.
  */
class PostureSpec extends GraftSpec {

  test("statsOn over a directory with no tables degrades to stats-less") {
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      Tables.statsCatalogConf)
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    val empty = Files.createTempDirectory("graft-no-tables").toString
    try {
      spark.conf.unset(Tables.statsCatalogConf)
      val state = Posture.statsOn(spark, empty)
      assert(state === (if (Posture.statsRequested) "degraded" else "off"))
      assert(spark.conf.get("spark.sql.cbo.enabled") === "false")
      assert(spark.conf.get("spark.sql.cbo.joinReorder.enabled") === "false")
      assert(spark.conf.getOption(Tables.statsCatalogConf).isEmpty,
        "a degraded run must keep path reads")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Files.delete(Paths.get(empty))
    }
  }

  test("only Posture.scala builds a SparkSession under src/main/scala") {
    val builds = "SparkSession\\s*\\.\\s*builder\\b".r
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
    }
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Posture.scala")
      .filter((p: Path) => Files.readAllLines(p).asScala
        .exists(l => builds.findFirstIn(code(l)).nonEmpty))
      .toSeq
    assert(Files.exists(root.resolve("graft/Posture.scala")))
    assert(offenders.isEmpty, s"sessions built outside Posture: ${offenders.mkString(", ")}")
  }
}
