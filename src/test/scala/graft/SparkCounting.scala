package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Counts of the Spark jobs and broadcasts a block of code makes. */
trait SparkCounting { self: SparkSpec =>

  /** Spark jobs started while `f` runs, counted under a private job group. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "spark-counting"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "SparkCounting")
      try f finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Broadcasts made while `f` runs, besides the task binary Spark
    * broadcasts for every stage it submits.
    */
  def broadcastsDuring(f: => Unit): Long = {
    val sc = spark.sparkContext
    val stages = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val before = sc.broadcast(0).id
      f
      val after = sc.broadcast(0).id
      ListenerBusDrain(sc)
      after - before - 1 - stages.get
    } finally sc.removeSparkListener(listener)
  }
}
