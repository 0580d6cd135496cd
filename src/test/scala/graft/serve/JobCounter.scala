package graft.serve

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftColumnShim, SparkSession}

import scala.jdk.CollectionConverters._

/** The Spark jobs, and the task ends, of one block of work. */
final class JobCounter extends SparkListener {
  private val jobIds = new ConcurrentLinkedQueue[Int]()
  private val taskEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobIds.add(e.jobId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskEnds.add((e.taskInfo.partitionId, e.taskInfo.finishTime))

  def jobs: Int = jobIds.size
  /** (partition id, finish time ms) of every task that ended. */
  def tasks: Seq[(Int, Long)] = taskEnds.asScala.toSeq
}

object JobCounter {
  /** Run `body` with a fresh counter listening; the listener bus is
    * drained before and after, so no other block's events leak in. */
  def during[A](spark: SparkSession)(body: => A): (A, JobCounter) = {
    GraftColumnShim.drainListenerBus(spark)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      val a = body
      GraftColumnShim.drainListenerBus(spark)
      (a, counter)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
