package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query-name filter — local
    // iteration via tools/check.py re-dumps only the named queries
    // (the driver passes no filter and dumps everything)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim)
        .filter(_.nonEmpty).toSet)
      else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.toString).take(500)
        // a stale dump from a previous run against the same outDir would
        // make a newly-broken query look green to any dir-driven compare
        val stale = new java.io.File(s"$outDir/$name")
        if (stale.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(); ()
          }
          rm(stale)
        }
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
    // A query that throws has no output dir and would silently vanish from
    // any dir-driven compare (this bit us: a broken query looked "dropped by
    // the harness" instead of red). Record failures where graders can see
    // them; the exit code stays 0 so one red query can't zero the rest.
    Files.writeString(Paths.get(s"$outDir/_verify_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    if (failures.nonEmpty)
      // exit 0 regardless: one red query must not zero the other ~80
      System.err.println(
        s"[verify] ${failures.size} queries failed: ${failures.keys.mkString(", ")}")
  }
}
