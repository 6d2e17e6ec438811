package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One shared local session for all suites (GraftSession config: AQE,
  * UTC, nanosAsLong).
  */
trait SparkTestBase {
  lazy val spark: SparkSession = GraftSession.get("4")
  val Sf = "/root/testdata/sf0.001"

  /** SQL executions and jobs that `body` starts, counted after the
    * listener bus drains.
    */
  def recording[T](body: => T): (T, Seq[QueryExecution], Int) = {
    val execs = mutable.ArrayBuffer.empty[QueryExecution]
    var jobs = 0
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.synchronized(execs += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        execs.synchronized(execs += qe)
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized(jobs += 1)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, execs.synchronized(execs.toList), jl.synchronized(jobs))
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
  }
}
