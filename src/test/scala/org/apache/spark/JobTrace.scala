package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Runs a body under its own job group and returns its result, the
  * number of Spark jobs the group started and the executed plans of the
  * queries that hold an observed node (`CollectMetricsExec`), i.e. the
  * observed writes. Every listener event is delivered before the count
  * is read.
  */
object JobTrace extends AdaptiveSparkPlanHelper {
  def apply[T](spark: SparkSession, group: String)(
      body: => T): (T, Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val writes = new ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[CollectMetricsExec]).nonEmpty)
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      ListenerDrain(sc)
      (result, jobs.get, writes.toArray(Array.empty[SparkPlan]).toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}
