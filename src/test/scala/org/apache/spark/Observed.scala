package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of code ran, seen through Spark's listener bus. Events
  * reach listeners asynchronously, so each observer drains the bus
  * before it starts listening and again before it stops: every event of
  * the block is seen, and none from before it. The bus is
  * package-private to Spark, hence this package. */
object Observed {

  private def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it started. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    drain(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      drain(spark)
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `body`'s result and the query executions it ran to success, named
    * (`collect`, `count`, …) as the action that ran them. */
  def executions[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(name -> qe); ()
      }
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain(spark)
    spark.listenerManager.register(l)
    try {
      val r = body
      drain(spark)
      (r, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }
}
