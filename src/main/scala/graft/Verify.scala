package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names — dump/check just
    // those (fast single-operator iteration; the driver passes two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Posture.session()
    // Verify checks the same statistics-fed plans Bench times and a
    // deployment runs; the NTZ FilterEstimation guard lives in
    // ensureStatsAll.
    Posture.statsOn(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        // Normalize tz-aware timestamps to NTZ at the output boundary:
        // session tz is UTC, so the wall-clock values are unchanged, but
        // DuckDB then reads plain TIMESTAMP — the type its oracle produces.
        val df = fn(spark, sfDir)
        val cols = df.schema.fields.map { f =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            org.apache.spark.sql.functions.col(f.name)
              .cast(org.apache.spark.sql.types.TimestampNTZType).as(f.name)
          else org.apache.spark.sql.functions.col(f.name)
        }
        df.select(cols.toIndexedSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
