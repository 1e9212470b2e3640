package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Counts the Spark jobs a block submits, and the stages and tasks
  * they run. Draining the listener bus before and after makes the
  * counts exact; the bus is package-private to Spark, hence this
  * package. */
object JobCounter {

  /** one submitted stage: its task count, and whether it is a shuffle
    * map stage (one that writes shuffle output). */
  final case class Stage(tasks: Int, shuffle: Boolean)

  /** the jobs a block submitted and its stages in submission order. */
  final case class Counts(jobs: Int, stages: Seq[Stage])

  def measure[T](sc: SparkContext)(body: => T): (T, Counts) = {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(Stage(e.stageInfo.numTasks, e.stageInfo.shuffleDepId.isDefined))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, Counts(jobs.get, stages.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, counts) = measure(sc)(body)
    (out, counts.jobs)
  }
}
