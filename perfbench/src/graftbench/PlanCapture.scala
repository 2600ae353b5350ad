package graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Keeps the executed plan of every action that completes while
  * [[capturing]] is set, so a timed action can be checked for the kernel
  * projections it must run: an action that Catalyst can answer without
  * them (a bare `.count()`) would time a pruned plan. */
object PlanCapture extends QueryExecutionListener {
  @volatile private var on = false
  private val plans = scala.collection.mutable.ArrayBuffer.empty[String]

  def capturing[A](body: => A): (A, Seq[String]) = {
    synchronized(plans.clear())
    on = true
    try {
      val r = body
      // the listener bus is asynchronous: wait for the action's event
      val deadline = System.nanoTime() + 5000000000L
      while (synchronized(plans.isEmpty) && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(100)
      (r, synchronized(plans.toSeq))
    } finally on = false
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized { plans += qe.executedPlan.toString }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
