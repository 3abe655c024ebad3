package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches. The block runs under a job
  * group of its own, so jobs of anything else running in the session do
  * not count, and the listener bus is drained before and after (it lives
  * in this package because the drain is `private[spark]`). */
object GraftJobProbe {
  /** The block's result and the descriptions of the jobs it launched. */
  def jobs[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val group = s"graft-job-probe-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          seen.add(props.flatMap(p =>
            Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))).getOrElse(""))
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
