package graft

import java.nio.file.Files

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + temp-dir helpers for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(s"graft-$prefix").toString

  /** Runs `body`; returns its result and the executed plan of every query
    * that succeeded meanwhile (the listener bus is drained on both sides). */
  def executedPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    val result = try {
      val r = body
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    (result, plans.synchronized(plans.toList))
  }

  /** Runs `body`; returns its result and the number of SQL executions
    * (actions) it started — raw job counts are AQE-noisy, one action fans into
    * a job per shuffle stage. The listener bus is drained on both sides. */
  def sqlExecutions[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet(); ()
        case _ => ()
      }
    }
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      val r = body
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    (result, n.get())
  }

  /** Every executed node, through AQE stages and into cached plans: a
    * persisted table's plan is shared by every scan of it, so one node
    * instance = one computation, and its row metric counts each run. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case m: InMemoryTableScanExec => planNodes(m.relation.cachedPlan)
    case other => other.children.flatMap(planNodes)
  })
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cores = 8)
}
