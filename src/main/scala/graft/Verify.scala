package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each catalog query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracles.py`).
  * Queries run in `Catalog.all` declared order, so every run sees the
  * same session history. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    // local-iteration escape hatch: dump only the named queries
    // (comma-separated). The driver never sets this.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = Catalog.all.filter(qd => only.forall(_.contains(qd.name)))
    selected.foreach { qd =>
      try qd.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${qd.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${qd.name} failed: ${e.getMessage}")
      }
      // queries persist() hot intermediates; drop them between queries
      // so 50+ queries don't accumulate cached blocks
      spark.catalog.clearCache()
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
    val json = selected.flatMap(qd => qd.oracle.map(o => s"${q(qd.name)}: ${q(o)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
