package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/**
 * Counts the Spark jobs a block launches. The shared test session runs
 * other suites' jobs too, so each block runs under its own job group and
 * only jobs of that group count. Lives under `org.apache.spark` to drain
 * the (asynchronous) listener bus before reading the count.
 */
final class JobCounter(sc: SparkContext) {
  private val groups = new ConcurrentLinkedQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
        .foreach(groups.add)
  }
  sc.addSparkListener(listener)
  private var n = 0

  /** The value of `body` and the number of jobs it launched. */
  def apply[T](body: => T): (T, Int) = {
    n += 1
    val group = s"graft-job-counter-${System.identityHashCode(this)}-$n"
    sc.setJobGroup(group, "job budget")
    val out = try body finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty(60000L)
    (out, groups.asScala.count(_ == group))
  }

  def close(): Unit = sc.removeSparkListener(listener)
}
