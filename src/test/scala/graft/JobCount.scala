package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits: the block runs under a job group
  * of its own (Spark carries the group into the threads a query spawns),
  * and a listener counts job starts in that group once the bus has
  * delivered every event, so other suites' jobs never leak in. */
object JobCount {
  private val seq = new AtomicInteger()

  def of[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${seq.incrementAndGet()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      GraftBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
