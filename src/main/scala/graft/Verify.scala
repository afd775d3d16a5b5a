package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timeout-proof by construction: oracle_sql.json is written FIRST (it
  * depends on nothing computed), and each query's parquet lands on disk as
  * it completes — so a driver timeout mid-run still leaves every finished
  * query gradable. Round 6 was zeroed by the opposite ordering.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = Graft.builder(s"local[$cpus]", Some(cpus.toInt))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(
      f"[verify] fork->session ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs")
    // Dev-only subset filter (comma-separated names); driver leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val total = catalog.size
    var done = 0
    catalog.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        done += 1
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.2fs ($done/$total)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
