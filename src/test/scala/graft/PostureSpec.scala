package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

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

  test("a Posture-built session checkpoints through the fork-free file: stack, changelog on") {
    val fc = FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    assert(spark.conf.get(Posture.ChangelogConf) === "true")
    assert(Posture.ioEnv(spark).toMap === Map(
      "checkpoint_fs" -> classOf[NioLocalFs].getName, "rocksdb_changelog" -> "true"))
  }

  test("TickSink.start puts the streaming I/O confs back on a session that lost them") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val keys = Posture.streamingIo.map(_._1)
    keys.foreach(spark.conf.unset)
    try {
      assert(Posture.ioEnv(spark).toMap ===
        Map("checkpoint_fs" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName,
          "rocksdb_changelog" -> "false"))
      val input = MemoryStream[Int]
      val q = streaming.TickSink.start(input.toDF(), streaming.TickSink.Noop)
      try {
        input.addData(1, 2)
        q.processAllAvailable()
      } finally q.stop()
      assert(keys.map(spark.conf.getOption) === Posture.streamingIo.map(kv => Some(kv._2)))
      assert(Posture.ioEnv(spark).head === ("checkpoint_fs" -> classOf[NioLocalFs].getName))
    } finally Posture.streamingIo.foreach { case (k, v) => spark.conf.set(k, v) }
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
