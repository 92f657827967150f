package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The benchmark driver: one workload, one seed, one JVM.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --work <dir> [--smoke]
  *
  * Untraced (--trace 0), it prints the end-to-end metrics. Traced
  * (--trace 1), it measures the same loop untraced, traced and untraced
  * again, prints the per-layer metrics and the tracing overhead, and writes
  * the spans. The last line of standard output is the result object. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_ms" -> "ms", "queries_per_s" -> "1/s", "cpu_s_per_query" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "sql.codegen_compiles" -> "count", "sql.codegen_compile_ms" -> "ms",
    "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms", "sql.physical_planning_ms" -> "ms",
    "sql.partitions_read" -> "count", "sql.partitions_total" -> "count", "sql.prune_ratio" -> "fraction",
    "sql.rows_scanned" -> "rows", "sql.rows_out_per_row_scanned" -> "fraction",
    "engine.build_ms" -> "ms", "engine.execute_ms" -> "ms", "engine.jobs" -> "count",
    "engine.stages" -> "count", "engine.tasks" -> "count", "engine.driver_gap_ms" -> "ms",
    "engine.executor_cpu_s" -> "s", "engine.executor_run_s" -> "s", "engine.gc_ms" -> "ms",
    "engine.shuffle_write_bytes" -> "B", "engine.shuffle_read_bytes" -> "B", "engine.spill_bytes" -> "B",
    "engine.tile_assign_rows_per_s" -> "rows/s", "engine.image_tile_rows_per_s" -> "rows/s",
    "engine.cell_assign_rows_per_s" -> "rows/s", "engine.multibox_rows_per_s" -> "rows/s",
    "engine.histogram_rows_per_s" -> "rows/s",
    "engine.lsh_pairs_ms" -> "ms", "engine.clusters_ms" -> "ms", "engine.keep_ms" -> "ms",
    "engine.stream_dedup_ms" -> "ms", "engine.stream_neardup_ms" -> "ms",
    "core.gh_encode_ns" -> "ns", "core.h3u_cell_ns" -> "ns", "core.s2u_cell_ns" -> "ns",
    "core.gh_covering_us" -> "us", "core.h3u_polyfill_us" -> "us", "core.s2u_cover_us" -> "us",
    "core.polygon_covering_us" -> "us", "core.covering_cells" -> "count",
    "data.extend_ms" -> "ms", "data.compact_ms" -> "ms", "data.read_manifest_ms" -> "ms",
    "data.files_per_commit" -> "count", "data.snapshots_live" -> "count",
    "data.manifest_entries" -> "count", "data.bytes_written_per_row" -> "B",
    "data.stored_bytes_per_row" -> "B",
    "bench.self_ms" -> "ms", "core.self_ms" -> "ms", "sql.self_ms" -> "ms",
    "engine.self_ms" -> "ms", "data.self_ms" -> "ms",
    "trace.op_wall_ms" -> "ms", "trace.remainder_ms" -> "ms", "trace.overhead" -> "fraction")

  final case class Done(kind: String, rows: Long, wallNs: Long, cpuNs: Long)

  final class Loop {
    val done = mutable.ArrayBuffer.empty[Done]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def latenciesMs: Array[Double] = done.map(_.wallNs / 1e6).toArray.sorted
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Closed loop, one client: the next operation starts when the previous
    * one and its check have finished. Measures whole rounds until the
    * operations' own time reaches `seconds`. */
  def loop(w: Workload, first: Int, seconds: Double, minOps: Int, maxWallS: Double): (Loop, Int) = {
    val out = new Loop
    var i = first
    var spent = 0L
    val t0 = System.nanoTime()
    def more = (spent < seconds * 1e9 || out.attempted < minOps || (i - first) % w.roundLength != 0) &&
      (System.nanoTime() - t0) < maxWallS * 1e9 && System.nanoTime() < hardStop
    while (more) {
      val op = w.op(i)
      out.attempted += 1
      val res = try {
        op.pre()
        Trace.betweenOps()
        val c0 = osBean.getProcessCpuTime; val s0 = System.nanoTime()
        val check = Trace.op(op.kind)(op.body())
        val s1 = System.nanoTime(); val c1 = osBean.getProcessCpuTime
        spent += s1 - s0
        Trace.betweenOps()
        check() match {
          case None => Right(Done(op.kind, op.rows, s1 - s0, c1 - c0))
          case Some(why) => Left(s"${op.kind} #$i: $why")
        }
      } catch { case e: Throwable => Left(s"${op.kind} #$i threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      res match {
        case Right(d) => out.done += d
        case Left(why) => out.failures += why; System.err.println(s"[graftbench] FAILED $why")
      }
      i += 1
    }
    (out, i)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def workload(name: String, spark: org.apache.spark.sql.SparkSession, seed: Long, smoke: Boolean): Workload =
    name match {
      case "tiled_serve" => new TiledServe(spark, seed, smoke)
      case "tile_scan" => new TileScan(spark, seed, smoke)
      case "ingest_serve" => new IngestServe(spark, seed, smoke)
      case "dedup_pipeline" => new DedupPipeline(spark, seed, smoke)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  private val t0 = System.nanoTime()
  // every loop stops here, so a run prints its result inside its time limit
  private val hardStop = t0 + 130L * 1000000000L
  private def phase(what: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val smoke = args.contains("--smoke")
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    // two cores: on a shared host, headroom for the JVM's own GC and JIT
    // threads and for other tenants keeps the run-to-run spread down
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())

    val spark = Session.create(cores, work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w = workload(name, spark, seed, smoke)
    val stageS = (1 to (if (smoke) 1 else 3)).map { r =>
      val t0 = System.nanoTime(); w.stage(work.resolve(s"stage$r")); (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(stageS)
    phase(f"set up: session $sessionS%.2f s, staging ${stageS.map(x => f"$x%.2f").mkString(" ")} s")

    // warm-up, untimed (plans, codegen, JIT)
    val maxWall = 3 * seconds + 30
    val (warm, next) = loop(w, 0, 0.0, w.roundLength * (if (smoke) 1 else w.warmupRounds), maxWall)
    phase(s"warm-up: ${warm.attempted} operations")
    // at least two rounds: when a round outlasts --seconds on a loaded host,
    // one round would be the slower one right after warm-up, so a run's
    // figures would depend on how many rounds it happened to measure
    val minOps = 2 * w.roundLength
    val (main, next2) = loop(w, next, seconds, minOps, maxWall)
    phase(s"measured: ${main.attempted} operations")
    val runs = mutable.ArrayBuffer(warm, main)

    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val lat = main.latenciesMs
        val n = main.done.size
        Seq("setup_s" -> setupS, "query_p50_ms" -> median(lat.toSeq),
          "queries_per_s" -> (if (n == 0) 0.0 else n / (main.done.map(_.wallNs).sum / 1e9)),
          "cpu_s_per_query" -> (if (n == 0) 0.0 else main.done.map(_.cpuNs).sum / 1e9 / n))
          .map { case (k, v) => (k, EndToEnd.toMap.apply(k), v) }
      } else {
        Trace.enable(spark)
        val (tr, next3) = loop(w, next2, seconds, minOps, maxWall)
        Trace.disable(spark)
        phase(s"traced: ${tr.attempted} operations")
        // untraced loops on both sides of the traced one, so latency still
        // falling as the JIT compiles does not read as negative overhead
        val (after, _) = loop(w, next3, seconds, minOps, maxWall)
        phase(s"untraced again: ${after.attempted} operations")
        runs ++= Seq(tr, after)
        // mean, not median: over whole rounds the mix is the same in every
        // loop, while a median sits in whichever kind is in the middle
        def meanMs(l: Loop) = l.latenciesMs.sum / math.max(l.done.size, 1)
        // the hard stop can leave the last loop empty
        val untracedMs = Seq(main, after).filter(_.done.nonEmpty).map(meanMs)
        val layer = perLayer(tr, meanMs(tr) / (untracedMs.sum / math.max(untracedMs.size, 1)) - 1.0) ++
          CoreBench.run(w.coreInputs) ++ w.tableStats
        val f = work.resolve("runs").resolve(s"$name-seed$seed-spans.jsonl")
        Trace.write(f)
        PerLayer.map { case (k, u) => (k, u, layer.getOrElse(k, 0.0)) }
      }

    val attempted = runs.map(_.attempted).sum
    val failed = runs.map(_.failures.size).sum
    val jvm = Seq(
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "spark_version" -> Json.str(spark.version),
      "jdk_version" -> Json.str(System.getProperty("java.version")),
      "cores" -> cores.toString, "samples" -> main.done.size.toString,
      "stage_s" -> stageS.mkString("[", ",", "]"), "session_s" -> sessionS.toString,
      "failures" -> runs.flatMap(_.failures).map(Json.str).mkString("[", ",", "]"),
      "ops" -> main.done.map(d => s"[${Json.str(d.kind)},${d.wallNs / 1e6},${d.cpuNs / 1e6}]").mkString("[", ",", "]"),
      "kinds" -> main.done.groupBy(_.kind).map { case (k, ds) =>
        Json.str(k) + ":" + Json.obj(Seq("n" -> ds.size.toString,
          "p50_ms" -> median(ds.map(_.wallNs / 1e6).toSeq).toString))
      }.mkString("{", ",", "}"))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    val artifact = work.resolve("runs").resolve(s"$name-seed$seed-trace${if (traced) 1 else 0}.json")
    Files.createDirectories(artifact.getParent)
    Files.writeString(artifact, Json.obj(Seq("jvm" -> Json.obj(jvm), "result" -> result)))
    spark.stop()
    phase("stopped")
    println(result)
  }

  /** Per-operation means over the traced loop, plus the per-kind figures
    * of tile_scan and dedup_pipeline. */
  def perLayer(tr: Loop, overhead: Double): Map[String, Double] = {
    val ops = Trace.counters.keys.toSeq
    val n = math.max(ops.size, 1).toDouble
    val cs = Trace.counters.values.toSeq
    val spans = Trace.allSpans
    def total(f: OpCounters => Long) = cs.map(f).sum.toDouble
    def spanMs(layer: String, names: String*) =
      spans.filter(s => s.layer == layer && names.contains(s.name)).map(_.durNs).sum / 1e6
    def perCallMs(layer: String, names: String*) = {
      val ss = spans.filter(s => s.layer == layer && names.contains(s.name))
      if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e6 / ss.size
    }
    // execute wall not covered by any job
    val gapNs = spans.filter(s => s.layer == "engine" && s.name == "execute").map { ex =>
      val jobs = spans.filter(j => j.name == "job" && j.parent == ex.id).map(j => (j.startNs, j.endNs))
      ex.durNs - Trace.covered(jobs, ex.startNs, ex.endNs)
    }.sum
    val selfs = ops.map(Trace.selfTimes)
    def selfMs(layer: String) = selfs.map(_._2.getOrElse(layer, 0L)).sum / 1e6 / n
    val wallMs = selfs.map(_._1).sum / 1e6 / n
    val partsRead = total(_.partitionsRead); val partsTotal = total(_.partitionsTotal)
    val scanned = total(_.rowsScanned)
    def kindMs(k: String) = { val ds = tr.done.filter(_.kind == k); if (ds.isEmpty) 0.0 else ds.map(_.wallNs).sum / 1e6 / ds.size }
    def kindRate(k: String) = { val ds = tr.done.filter(_.kind == k); if (ds.isEmpty) 0.0 else ds.map(_.rows).sum / (ds.map(_.wallNs).sum / 1e9) }
    Map(
      "sql.codegen_compiles" -> total(_.compiles) / n, "sql.codegen_compile_ms" -> total(_.compileNs) / 1e6 / n,
      "sql.analysis_ms" -> spanMs("sql", "analysis") / n, "sql.optimization_ms" -> spanMs("sql", "optimization") / n,
      "sql.physical_planning_ms" -> spanMs("sql", "physical_planning") / n,
      "sql.partitions_read" -> partsRead / n, "sql.partitions_total" -> partsTotal / n,
      "sql.prune_ratio" -> (if (partsTotal == 0) 0.0 else 1.0 - partsRead / partsTotal),
      "sql.rows_scanned" -> scanned / n,
      "sql.rows_out_per_row_scanned" -> (if (scanned == 0) 0.0 else total(_.rowsOut) / scanned),
      "engine.build_ms" -> spanMs("engine", "build") / n, "engine.execute_ms" -> spanMs("engine", "execute") / n,
      "engine.jobs" -> total(_.jobs) / n, "engine.stages" -> total(_.stages) / n, "engine.tasks" -> total(_.tasks) / n,
      "engine.driver_gap_ms" -> gapNs / 1e6 / n,
      "engine.executor_cpu_s" -> total(_.executorCpuNs) / 1e9 / n, "engine.executor_run_s" -> total(_.executorRunMs) / 1e3 / n,
      "engine.gc_ms" -> total(_.gcMs) / n, "engine.shuffle_write_bytes" -> total(_.shuffleWrite) / n,
      "engine.shuffle_read_bytes" -> total(_.shuffleRead) / n, "engine.spill_bytes" -> total(_.spill) / n,
      "engine.tile_assign_rows_per_s" -> kindRate("tile_assign"), "engine.image_tile_rows_per_s" -> kindRate("image_tile"),
      "engine.cell_assign_rows_per_s" -> kindRate("cell_assign"), "engine.multibox_rows_per_s" -> kindRate("multibox"),
      "engine.histogram_rows_per_s" -> kindRate("histogram"),
      "engine.lsh_pairs_ms" -> kindMs("lsh_pairs"), "engine.clusters_ms" -> kindMs("clusters"),
      "engine.keep_ms" -> kindMs("keep"), "engine.stream_dedup_ms" -> kindMs("stream_dedup"),
      "engine.stream_neardup_ms" -> kindMs("stream_neardup"),
      "data.extend_ms" -> perCallMs("data", "extend"), "data.compact_ms" -> perCallMs("data", "compact"),
      "data.read_manifest_ms" -> perCallMs("data", "read", "readManifest"),
      "bench.self_ms" -> selfMs("bench"), "core.self_ms" -> selfMs("core"), "sql.self_ms" -> selfMs("sql"),
      "engine.self_ms" -> selfMs("engine"), "data.self_ms" -> selfMs("data"),
      "trace.op_wall_ms" -> wallMs,
      "trace.remainder_ms" -> (wallMs - Seq("bench", "core", "sql", "engine", "data").map(selfMs).sum),
      "trace.overhead" -> overhead)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
