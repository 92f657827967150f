package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Deterministic plan capture for plan specs: the executed plan (the final
  * one, under adaptive execution) of every query the session completed
  * while `body` ran, in completion order. Listener delivery is
  * asynchronous; a fence query on a local relation (it starts no job) is
  * delivered after every earlier query, so its arrival drains the queue. */
object QueryPlans {
  def of(spark: SparkSession)(body: => Any): Seq[SparkPlan] = {
    val fence = s"fence_${UUID.randomUUID().toString.replace('-', '_')}"
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val fenced = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == fence)) fenced.countDown()
        else seen.add(qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        })
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.createDataFrame(Seq(Tuple1(1))).toDF(fence).collect()
      require(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
