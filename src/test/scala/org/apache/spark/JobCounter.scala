package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs, stages and tasks a block launches. It sits in
  * Spark's package to drain the (private) listener bus, so the counts
  * are complete when the block returns. */
object JobCounter {
  final case class Counts(jobs: Int, stages: Int, tasks: Int)

  def apply[A](sc: SparkContext)(f: => A): (A, Counts) = {
    val l = new SparkListener {
      var c = Counts(0, 0, 0)
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        c = c.copy(jobs = c.jobs + 1, stages = c.stages + e.stageInfos.size)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        c = c.copy(tasks = c.tasks + 1)
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      val a = f
      sc.listenerBus.waitUntilEmpty()
      (a, l.synchronized(l.c))
    } finally sc.removeSparkListener(l)
  }
}
