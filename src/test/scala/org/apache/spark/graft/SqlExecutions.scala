package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the ROOT SQL executions a block starts — one per query the
  * engine sends to Spark (a write, a collect); the nested executions a
  * root one spawns (broadcasts, subqueries, AQE stages) are not counted —
  * and the Spark jobs and tasks started inside the block, nested ones
  * included. It sits in Spark's package because draining the listener
  * bus, so that every event of the block is seen before the count is
  * read, is private to Spark. */
class SqlExecutions(spark: SparkSession) extends SparkListener {
  private val started = new ConcurrentLinkedQueue[String]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val tasks = new AtomicInteger()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) =>
      started.add(s.description.takeWhile(_ != '\n')): Unit
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(e.stageInfos.lastOption.map(_.name).getOrElse("")): Unit

  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet(): Unit

  /** `body`'s result and the first line of each root execution it ran. */
  def during[T](body: => T): (T, Seq[String]) = {
    val (r, c) = measure(body)
    (r, c.executions)
  }

  /** `body`'s result and what it started in Spark. */
  def measure[T](body: => T): (T, SqlExecutions.Counts) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    started.clear()
    jobs.clear()
    tasks.set(0)
    sc.addSparkListener(this)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, SqlExecutions.Counts(started.asScala.toSeq, jobs.asScala.toSeq, tasks.get))
    } finally sc.removeSparkListener(this)
  }
}

object SqlExecutions {
  /** A block's root SQL executions (first description line each), the
    * jobs it started (each named by its final stage) and its tasks. */
  case class Counts(executions: Seq[String], jobSites: Seq[String], tasks: Int) {
    def jobs: Int = jobSites.size
  }
}
