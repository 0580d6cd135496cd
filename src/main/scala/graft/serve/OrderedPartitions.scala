package graft.serve

import java.util.concurrent.LinkedBlockingQueue

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

import scala.concurrent.ExecutionContext
import scala.util.{Failure, Success, Try}

/** The partition-ordered runner behind every streamed result: the
  * partitions of an encoded result (byte chunks built on the executors)
  * come back in partition order on the iterating thread. One Spark job
  * runs per window of partitions; `toLocalIterator` runs one per
  * partition, one after another.
  *
  * Scale: a window is submitted when its first partition is asked for,
  * so the driver holds one window at a time: at most `defaultParallelism`
  * partitions, and only as many as fit in [[budget]], since Spark aborts
  * a job whose results pass `spark.driver.maxResultSize`. The first
  * window is sized from the bytes the plan reads, each later one from
  * the largest partition of the window before. A window has at least
  * one partition, however large, as `toLocalIterator` would serve it.
  *
  * Spark's result handler runs on the scheduler thread that every job
  * shares, so it only enqueues; a failed or cancelled job surfaces as the
  * exception of the next `next()`. Jobs inherit the caller's job group
  * and SQL execution id.
  */
object OrderedPartitions {
  /** One partition's encoded chunks. */
  type Part = Array[Array[Byte]]

  /** Encoded bytes guessed per byte read: Arrow and JSON rows run
    * several times larger than compressed parquet. */
  val EncodedPerStoredByte = 8

  /** Partitions in a window when each is `partBytes` long: as many as
    * fit in `budget`, at least 1 and at most `cap`. */
  def windowSize(partBytes: Long, budget: Long, cap: Int): Int =
    math.min(cap.toLong, math.max(1L, budget / math.max(1L, partBytes))).toInt

  /** Bytes one window may return: half of `spark.driver.maxResultSize`
    * (0 means no limit) and at most an eighth of the driver heap, since
    * each of a server's four handler threads may hold a window. */
  def budget(sc: SparkContext): Long = {
    val heap = Runtime.getRuntime.maxMemory / 8
    val results = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (results > 0) math.min(results / 2, heap) else heap
  }

  /** Cancel the request whose jobs run in job group `group`: its running
    * window and every later one. Spark refuses the group's later jobs,
    * so the next window is never run and its `next()` throws, also when
    * the cancel falls between two windows. */
  def cancel(sc: SparkContext, group: String): Unit = sc.cancelJobGroupAndFutureJobs(group)

  /** `rdd`, the encoded result of `plan`, one partition at a time. */
  def iterator(plan: Dataset[_], rdd: RDD[Array[Byte]]): Iterator[Part] = {
    val stored = plan.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum
    val guess = stored * EncodedPerStoredByte / math.max(1, rdd.getNumPartitions)
    iterator(rdd, guess.min(Long.MaxValue).toLong, budget(rdd.sparkContext))
  }

  /** `rdd` one partition at a time, the first window sized as if each
    * partition were `firstPartBytes` long. */
  def iterator(rdd: RDD[Array[Byte]], firstPartBytes: Long,
      budget: Long): Iterator[Part] = new Iterator[Part] {
    private val sc = rdd.sparkContext
    private val n = rdd.getNumPartitions
    private val done = new LinkedBlockingQueue[Try[(Int, Part)]]()
    private val held = scala.collection.mutable.HashMap.empty[Int, Part]
    private var at = 0
    private var end = 0 // the first partition past the submitted window
    private var partBytes = firstPartBytes

    def hasNext: Boolean = at < n

    def next(): Part = {
      if (!hasNext) throw new NoSuchElementException("no partition left")
      if (at == end) {
        val parts = at until math.min(n, at + windowSize(partBytes, budget, sc.defaultParallelism))
        end = parts.end
        partBytes = 0L
        sc.submitJob(rdd, (it: Iterator[Array[Byte]]) => it.toArray, parts,
          (i: Int, p: Part) => done.put(Success((parts.start + i, p))), ())
          .onComplete(_.failed.foreach(e => done.put(Failure(e))))(ExecutionContext.parasitic)
      }
      while (!held.contains(at)) done.take() match {
        case Success((i, p)) => held(i) = p
        case Failure(e) => throw e
      }
      val part = held.remove(at).get
      partBytes = math.max(partBytes, part.iterator.map(_.length.toLong).sum)
      at += 1
      part
    }
  }
}
