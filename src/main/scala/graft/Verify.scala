package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.r)) // dev-only: regex over query names
    }
    val spark = Sessions.local(Sessions.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
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
    // Side-channel queries (q112/q148/q153/q164) write dir-derived /tmp
    // paths; the oracle SQL carries a __SFTAG__ token resolved here with
    // the SAME derivation, so a bench run at another SF can never clobber
    // the files between this dump and the driver's DuckDB pass.
    val tag = SparkEntry.sfTag(sfDir)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.findFirstIn(k).isDefined) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__SFTAG__", tag))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
