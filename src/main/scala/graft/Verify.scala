package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // keep INT96 timestamps (the default; Engine does not change it):
    // pandas reads them tz-NAIVE like DuckDB's — TIMESTAMP_MICROS would
    // come back tz-aware and diverge
    val spark = Engine.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Deterministic order; name-sorted. A query that kills the JVM's
    // SparkContext (OOM) must not void the rest: recreate the session.
    var active = spark
    // local-iteration filter (comma-separated names); unset = all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        if (active.sparkContext.isStopped) active = Engine.local(cpus)
        fn(active, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // gate boundary: drop operator-owned caches (banded keys,
        // fingerprint projections) so 157 queries in one session don't
        // accumulate cached blocks; user/gate-level persists (q135's
        // stage frames) are NOT registry-owned and survive untouched
        graft.ops.Caches.release()
      } catch { case e: Throwable =>
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    active.stop() // `spark` may be a dead session replaced after an OOM
  }
}
