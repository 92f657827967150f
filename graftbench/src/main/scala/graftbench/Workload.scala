package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One client operation. `pre` runs untimed before it, `body` is the timed
  * part and returns the correctness check, which runs untimed after it
  * (None = correct, Some(reason) = failed). `rows` is the operation's input
  * row count where the workload defines one. */
final case class Op(kind: String, rows: Long, body: () => Op.Check, pre: () => Unit = () => ())

object Op {
  type Check = () => Option[String]
  val Ok: Check = () => None
  def expect[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got ${show(got)}, want ${show(want)}")
  private def show(x: Any): String = x match {
    case s: Iterable[_] => s"${s.size} items ${s.take(5).mkString("[", ",", if (s.size > 5) ",…]" else "]")}"
    case a: Array[_] => show(a.toSeq)
    case o => String.valueOf(o)
  }
}

/** A benchmark workload: seeded inputs, a fixed cycle of operation kinds
  * (a round), and the checks of each operation. */
trait Workload {
  /** Stage the inputs under `dir`, fresh on each call; the last call's
    * inputs are the ones the operations use. */
  def stage(dir: Path): Unit
  /** Operations per round. Runs measure whole rounds, so the mix of
    * operation kinds is the same in every run. */
  def roundLength: Int
  /** Untimed rounds before measuring. */
  def warmupRounds: Int = 1
  def op(i: Int): Op
  /** core.* metrics, timed on the workload's own points and geometry. */
  def coreInputs: CoreBench.Inputs
  /** data.* table statistics at the end of the run. */
  def tableStats: Map[String, Double] = Map.empty
}

/** Calls into the layers, wrapped in trace spans. */
object L {
  def engine[T](name: String)(body: => T): T = Trace.span("engine", name)(body)
  def data[T](name: String)(body: => T): T = Trace.span("data", name)(body)
  def core[T](name: String)(body: => T): T = Trace.span("core", name)(body)

  /** Run the action that materialises a query's result. */
  def collect(df: DataFrame): Array[Row] = {
    val rows = Trace.span("engine", "execute")(df.collect())
    Trace.addRowsOut(rows.length.toLong)
    rows
  }
  def count(df: DataFrame): Long = {
    val n = Trace.span("engine", "execute")(df.count())
    Trace.addRowsOut(1L)
    n
  }
  def noop(df: DataFrame): Unit =
    Trace.span("engine", "execute")(df.write.format("noop").mode("overwrite").save())

  def longs(rows: Array[Row], i: Int = 0): Array[Long] = rows.map(_.getLong(i)).sorted
}

object Session {
  /** local[N] with the engine's extensions (covering prune, PIP bbox
    * derivation) and functions, as a library user would configure it. */
  def create(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .withExtensions(new graft.sql.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sql.GraftFunctions.register(spark)
    spark
  }
}
