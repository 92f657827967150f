package graft
import java.nio.file.{Files, Paths}
import graft.sql.GraftSpark
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSpark.session(s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    // per-query wall budget: one runaway query must not eat the whole
    // verify window — cancel its job group and move on
    val budgetMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_MS", "300000").toLong
    val sc = spark.sparkContext
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val worker = new Thread(() => {
        try {
          sc.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally sc.clearJobGroup()
      }, s"verify-$name")
      worker.setDaemon(true)
      worker.start()
      worker.join(budgetMs)
      if (worker.isAlive) {
        System.err.println(s"[verify] $name exceeded ${budgetMs}ms budget; cancelling")
        sc.cancelJobGroup(name)
        worker.join(30000)
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
