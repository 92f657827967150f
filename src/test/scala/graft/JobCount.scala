package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Deterministic job counting for budget specs: the call sites of every
  * Spark job started by the calling thread while `body` runs. Jobs are
  * tagged with a thread-local property, so jobs of other threads are not
  * counted; a fence job started after `body` drains the (asynchronous)
  * listener bus, since the bus delivers events in order. */
object JobCount {
  private val Tag = "graft.test.jobcount"

  /** The first stage name (Spark's short call site, e.g.
    * `parquet at IcebergLite.scala:285`) of each job `body` started. */
  def sites(spark: SparkSession)(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val id = UUID.randomUUID().toString
    val fence = s"$id-fence"
    val seen = new ConcurrentLinkedQueue[String]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).orNull match {
          case `id` => seen.add(e.stageInfos.headOption.map(_.name).getOrElse(""))
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Tag)
    try {
      sc.setLocalProperty(Tag, id)
      body
      sc.setLocalProperty(Tag, fence)
      sc.parallelize(Seq(1), 1).count()
      require(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      seen.asScala.toSeq
    } finally {
      sc.setLocalProperty(Tag, prior)
      sc.removeSparkListener(listener)
    }
  }
}
