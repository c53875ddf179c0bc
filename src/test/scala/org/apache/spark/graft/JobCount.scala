package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, and the SQL executions
  * they ran under. Lives in Spark's package for the listener bus's
  * `waitUntilEmpty`: job-start events are delivered asynchronously.
  */
object JobCount {
  final case class Counted[T](result: T, jobs: Int, sqlExecutions: Int)

  /** Runs `body` under a fresh job group on this thread; jobs it starts
    * on other threads (broadcast builds) inherit the group. */
  def apply[T](spark: SparkSession)(body: => T): Counted[T] = {
    val sc = spark.sparkContext
    val group = "job-count-" + java.util.UUID.randomUUID
    // one entry per job: its SQL execution id, "" when it ran outside one
    val started = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          .foreach { p =>
            started.add(Option(p.getProperty("spark.sql.execution.id"))
              .getOrElse(""))
            ()
          }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted", interruptOnCancel = false)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      val ids = started.asScala.toSeq
      Counted(r, ids.size, ids.filter(_.nonEmpty).distinct.size)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
