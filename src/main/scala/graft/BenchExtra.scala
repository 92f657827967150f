package graft

/** Optimization-round helper bench (guide §1.4/§1.5): NOT the driver
  * contract — Bench.scala stays the frozen harness. This main
  *  - times individual queries with the noop sink (same action as Bench),
  *  - records /proc/loadavg before/after each query so a contaminated
  *    window is identifiable from the artifact alone,
  *  - optionally dumps, per query, .explain("formatted") to
  *    `<explainDir>/<name>.txt` and, after one more run that collects the
  *    rows, the AQE-final executed plan to `<name>.executed.txt`
  *    (`scripts/plan_diff.py` compares two such directories).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.BenchExtra [q32_minhash_lsh,...] [explainDir] [iters]"
  */
object BenchExtra {
  private def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "?" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only: Set[String] =
      if (args.length > 0 && args(0).nonEmpty && args(0) != "-") args(0).split(",").toSet
      else SparkEntry.queries.keySet
    val explainDir = if (args.length > 1 && args(1).nonEmpty && args(1) != "-") Some(args(1)) else None
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = graft.sql.GraftSpark.session(s"local[$cpus]")

    explainDir.foreach(d => new java.io.File(d).mkdirs())
    def dump(file: String, text: => String): Unit = explainDir.foreach { d =>
      val body = try text catch { case e: Throwable => s"failed: $e" }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, file), body)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.contains(name) }
      .map { case (name, fn) =>
        spark.sparkContext.setJobDescription(name)
        dump(s"$name.txt",
          fn(spark, sfDir).queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        val la0 = loadavg()
        val ts = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Right((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable => Left(e.getClass.getSimpleName + ": " + e.getMessage) }
        }
        val la1 = loadavg()
        dump(s"$name.executed.txt", {
          val df = fn(spark, sfDir)
          df.collect()
          df.queryExecution.executedPlan.treeString
        })
        (name, ts, la0, la1)
      }
    // a failed iteration's time-to-exception is no timing: its query is
    // printed FAILED and left out of TOTAL
    val timed = results.flatMap { case (name, ts, la0, la1) =>
      val (errs, secs) = ts.partitionMap(identity)
      if (errs.nonEmpty) {
        println(f"$name%-28s FAILED ${errs.head.replaceAll("\\s+", " ")} load0=$la0 load1=$la1")
        None
      } else {
        println(f"$name%-28s min=${secs.min}%8.3f med=${secs.sorted.apply(secs.length / 2)}%8.3f all=[${secs.map(t => f"$t%.3f").mkString(", ")}] load0=$la0 load1=$la1")
        Some(secs.min)
      }
    }
    println(s"TOTAL(min) ${timed.sum}")
    spark.stop()
  }
}
