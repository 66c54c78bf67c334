package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0); val outDir = args(1)
    // Optional query-name filter for fast single-query iteration; the
    // driver passes no names and gets the full catalog.
    val only = args.drop(2).toSet
    // the bench's session (GraftSession.builder), so the oracle checks the
    // config that is timed
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any result dir from a PREVIOUS run: a stale parquet here
        // would make the checker silently compare yesterday's output and
        // mask this failure (observed in-session before this guard)
        def rm(f: java.io.File): Unit = {
          // listFiles() is null on I/O/permission errors — exactly the
          // degraded conditions this handler runs under; never let the
          // cleanup NPE out of the catch and kill the remaining queries
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          if (!f.delete())
            System.err.println(s"[verify] could not remove stale ${f.getPath}")
        }
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists()) rm(d)
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
