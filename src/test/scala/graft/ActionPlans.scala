package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** The name and executed plan of every action `body` runs in `spark`,
  * in order: the actions a DataFrame's construction runs (a
  * `localCheckpoint`, a forcing `count`, a driver `collect`) as much as
  * the ones it is read by. Listener events arrive asynchronously and in
  * order, so a marked action after `body` tells when all of its events
  * have been seen. */
object ActionPlans {

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[(String, SparkPlan)]) = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val marker = "__action_plans_done"
    @volatile var done = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) done = true
        else seen.synchronized { seen += funcName -> qe.executedPlan; () }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).select(lit(1).as(marker)).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!done && System.nanoTime() < deadline) Thread.sleep(10)
      assert(done, "listener events did not arrive")
      (out, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}
