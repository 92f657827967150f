package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` is the module the interval belongs to
  * (bench, core, sql, engine, data); `op` is the operation it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Counters of one operation that are not intervals. */
final class OpCounters {
  var compiles = 0L; var compileNs = 0L
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var executorCpuNs = 0L; var executorRunMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var partitionsRead = 0L; var partitionsTotal = 0L; var rowsScanned = 0L
  var rowsOut = 0L
}

/** The traced run's recorder. Spans are kept in memory and written out
  * when the run ends. Bench-side spans wrap the calls the benchmark makes
  * into each layer; Spark-side spans (planning phases from
  * `QueryPlanningTracker`, jobs from a `SparkListener`) are attached under
  * the innermost bench span that contains their start. Disabled, `span`
  * costs one volatile read. */
object Trace {
  @volatile private var on = false
  def enabled: Boolean = on

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var curOp = 0L
  val counters = mutable.LinkedHashMap.empty[Long, OpCounters]
  val opKinds = mutable.LinkedHashMap.empty[Long, String]

  // listener events land here from the listener-bus thread
  private val jobEvents = new ConcurrentLinkedQueue[(Long, Long)]() // startMs, endMs
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageEvents = new ConcurrentLinkedQueue[StageInfo]()
  private val taskCount = new java.util.concurrent.atomic.AtomicLong()
  private val queryEvents = new ConcurrentLinkedQueue[QueryExecution]()

  // epoch milliseconds (listener timestamps) to System.nanoTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0: Long = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
      jobEvents.add((t0, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stageEvents.add(e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskCount.incrementAndGet()
  }
  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = queryEvents.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = queryEvents.add(qe)
  }

  private var sc: SparkContext = _

  def enable(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    drainAndDrop()
    on = true
  }

  def disable(spark: SparkSession): Unit = {
    on = false
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(listener)
  }

  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Wrap a call the benchmark makes into `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, curOp, layer, name, t0, t1)
      }
    }

  /** Root span of one client operation; Spark events of the operation are
    * collected when it ends (the bus is drained first). */
  def op[T](kind: String)(body: => T): T =
    if (!on) body
    else {
      curOp += 1
      opKinds(curOp) = kind
      val c = new OpCounters
      counters(curOp) = c
      val comp0 = compileCount; val compNs0 = compileNs
      try span("bench", kind)(body)
      finally {
        c.compiles = compileCount - comp0
        c.compileNs = compileNs - compNs0
        collect(c)
      }
    }

  def addRowsOut(n: Long): Unit = if (on) counters.get(curOp).foreach(_.rowsOut += n)

  private def drainAndDrop(): Unit = {
    if (sc != null) org.apache.spark.BenchBus.drain(sc)
    jobEvents.clear(); stageEvents.clear(); queryEvents.clear(); taskCount.set(0)
  }

  /** Drop events produced between operations (correctness checks). */
  def betweenOps(): Unit = if (on) drainAndDrop()

  private def collect(c: OpCounters): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    val opSpans = spans.filter(s => s.op == curOp && s.layer != "sql" && s.name != "job")
    def place(startNs: Long): Long = {
      val containing = opSpans.filter(s => s.startNs <= startNs && startNs <= s.endNs)
      if (containing.isEmpty) opSpans.find(_.parent == 0L).map(_.id).getOrElse(0L)
      else containing.maxBy(_.startNs).id
    }
    def add(layer: String, name: String, t0: Long, t1: Long): Unit = {
      val id = nextId; nextId += 1
      spans += Span(id, place(t0), curOp, layer, name, t0, math.max(t0, t1))
    }
    var ev = jobEvents.poll()
    while (ev != null) {
      c.jobs += 1
      add("engine", "job", msToNs(ev._1), msToNs(ev._2))
      ev = jobEvents.poll()
    }
    var st = stageEvents.poll()
    while (st != null) {
      c.stages += 1
      val m = st.taskMetrics
      if (m != null) {
        c.executorCpuNs += m.executorCpuTime
        c.executorRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      st = stageEvents.poll()
    }
    c.tasks += taskCount.getAndSet(0)
    var qe = queryEvents.poll()
    while (qe != null) {
      qe.tracker.phases.foreach { case (phase, s) =>
        val name = phase match {
          case "analysis" => "analysis"
          case "optimization" => "optimization"
          case "planning" => "physical_planning"
          case other => other
        }
        add("sql", name, msToNs(s.startTimeMs), msToNs(s.endTimeMs))
      }
      scans(qe.executedPlan).foreach { s =>
        c.rowsScanned += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        if (s.relation.partitionSchema.nonEmpty) {
          c.partitionsRead += s.selectedPartitions.partitionCount
          c.partitionsTotal += (s.relation.location match {
            case f: PartitioningAwareFileIndex => f.partitionSpec().partitions.size
            case _ => 0
          })
        }
      }
      qe = queryEvents.poll()
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = 0L; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Per-operation self time by layer: a span's duration minus the part of
    * it its children cover. Returns (op wall ns, layer -> self ns). */
  def selfTimes(op: Long): (Long, Map[String, Long]) = {
    val ss = spans.filter(_.op == op)
    val byParent = ss.groupBy(_.parent)
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    ss.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq
      self(s.layer) += s.durNs - covered(kids, s.startNs, s.endNs)
    }
    val root = ss.find(_.parent == 0L).map(_.durNs).getOrElse(0L)
    (root, self.toMap)
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${opKinds.getOrElse(s.op, "")}","layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
