package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the ROOT SQL executions a block starts — one per query the
  * engine sends to Spark (a write, a collect); the nested executions a
  * root one spawns (broadcasts, subqueries, AQE stages) are not counted.
  * It sits in Spark's package because draining the listener bus, so that
  * every event of the block is seen before the count is read, is private
  * to Spark. */
class SqlExecutions(spark: SparkSession) extends SparkListener {
  private val started = new ConcurrentLinkedQueue[String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) =>
      started.add(s.description.takeWhile(_ != '\n')): Unit
    case _ =>
  }

  /** `body`'s result and the first line of each root execution it ran. */
  def during[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    started.clear()
    sc.addSparkListener(this)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, started.asScala.toSeq)
    } finally sc.removeSparkListener(this)
  }
}
