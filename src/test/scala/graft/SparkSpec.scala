package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs — one JVM-wide session, warehouse in
  * a temp dir so saveAsTable/catalog ops work against the in-memory catalog. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** The executions of the queries `body` runs, and no others. Query
    * listeners are called from Spark's asynchronous listener bus, so the
    * bus is drained before the listener registers (an earlier query's
    * event cannot reach it) and again after `body` (every event of its
    * queries has). */
  def capturedExecutions(body: => Unit): Seq[QueryExecution] = {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        captured.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    captured.toArray(Array.empty[QueryExecution]).toSeq
  }

  /** Every node of `p`, through the adaptive plan and its query stages,
    * whose children a plain traversal does not see. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case _ => Seq.empty
    }
    p +: (p.children.flatMap(planNodes) ++ inner)
  }
}
