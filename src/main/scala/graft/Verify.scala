package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated allowlist for local iteration (unset = all,
    // which is what the driver runs) — mirrors SPARK_GRAFT_BENCH_ONLY
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Coverage self-check (loud, machine-readable): a driver or reviewer
    // diffing rounds sees declared-vs-ran shrinkage immediately instead of
    // inferring it from absent result dirs — guards against the silent
    // 117→59 coverage collapse a fixture-schema drift caused once.
    val coverage =
      s"""{"declared": ${SparkEntry.queries.size}, "attempted": ${attempted.size}, """ +
      s""""ran": ${attempted.size - failed.size}, "failed": ${failed.sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]")}}"""
    println(s"[verify-coverage] $coverage")
    Files.writeString(Paths.get(s"$outDir/coverage.json"), coverage)
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
