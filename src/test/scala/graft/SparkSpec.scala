package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val sf001 = "/root/testdata/sf0.001"

  /** (action name, executed plan) of the queries `action` runs, as a
    * [[QueryExecutionListener]] sees them. Listener events arrive
    * asynchronously, so wait (bounded) until `done` holds for them. */
  def executedPlans(action: => Unit)(
      done: Seq[(String, SparkPlan)] => Boolean): Seq[(String, SparkPlan)] = {
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(f -> qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      val deadline = System.nanoTime() + 30000000000L
      def seen = plans.toArray(Array.empty[(String, SparkPlan)]).toSeq
      while (!done(seen) && System.nanoTime() < deadline) Thread.sleep(20)
      seen
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpec {
  /** The engine's session at a fixed 4 cores, whatever the machine. */
  lazy val session: SparkSession = Run.session(4)
}
