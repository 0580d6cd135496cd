package graft.serve

import graft.SparkSpec
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame

class OrderedPartitionsSpec extends SparkSpec {

  test("a window holds as many partitions as fit the byte budget, 1 to the cap") {
    assert(OrderedPartitions.windowSize(partBytes = 10, budget = 1000, cap = 32) == 32)
    assert(OrderedPartitions.windowSize(partBytes = 300, budget = 1000, cap = 32) == 3)
    // partitions near the limit, or past it, go one at a time
    assert(OrderedPartitions.windowSize(partBytes = 900, budget = 1000, cap = 32) == 1)
    assert(OrderedPartitions.windowSize(partBytes = 5000, budget = 1000, cap = 32) == 1)
    // empty partitions, or no limit at all, take the whole cap
    assert(OrderedPartitions.windowSize(partBytes = 0, budget = 1000, cap = 32) == 32)
    assert(OrderedPartitions.windowSize(1, Long.MaxValue, cap = 32) == 32)
  }

  test("the budget stays under spark.driver.maxResultSize and the heap") {
    val b = OrderedPartitions.budget(spark.sparkContext)
    val limit = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    assert(b > 0 && b <= Runtime.getRuntime.maxMemory / 8)
    assert(limit == 0 || b <= limit / 2)
  }

  test("later windows are sized from the bytes the window before returned") {
    val sc = spark.sparkContext
    val par = sc.defaultParallelism
    val n = 2 * par + 4
    // 1000 bytes per partition, its index in every byte
    val rdd = sc.parallelize(0 until n, n).map(i => Array.fill[Byte](1000)(i.toByte))
    def run(firstPartBytes: Long, budget: Long) = JobCounter.during(spark) {
      OrderedPartitions.iterator(rdd, firstPartBytes, budget).map(_.head.head.toInt).toList
    }
    // a guess that is too low: the first window takes the cap, then the
    // 1000-byte partitions seen there shrink the windows to two each
    val (order, jobs) = run(firstPartBytes = 1, budget = 2500)
    assert(order == (0 until n))
    assert(jobs.jobs == 1 + (n - par + 1) / 2, s"$n partitions ran ${jobs.jobs} jobs")
    // partitions near the budget run one per job
    val (alone, aloneJobs) = run(firstPartBytes = 1000, budget = 1500)
    assert(alone == (0 until n) && aloneJobs.jobs == n)
  }

  test("a cancel between two windows ends the stream: no later window runs") {
    val sc = spark.sparkContext
    val n = 2 * sc.defaultParallelism
    val rdd = sc.parallelize(0 until n, n).map(i => Array.fill[Byte](1000)(i.toByte))
    val group = s"ordered-cancel-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "cancel between windows", interruptOnCancel = true)
    val (err, jobs) =
      try JobCounter.during(spark) {
        // partitions near the budget: one partition per window
        val it = OrderedPartitions.iterator(rdd, firstPartBytes = 1000, budget = 1500)
        assert(it.next().head.head == 0)
        OrderedPartitions.cancel(sc, group)
        intercept[SparkException](it.next())
      } finally sc.clearJobGroup()
    assert(jobs.jobs == 1, s"a cancelled stream ran ${jobs.jobs} jobs")
    assert(err.getMessage.contains(group))
  }

  test("the first window is sized from the bytes the plan reads") {
    val small = spark.range(0, 40, 1, 4).toDF()
    // a plan over an RDD has no size estimate, so Spark reads it as huge
    val unknown = spark.createDataFrame(small.rdd, small.schema)
    def run(df: DataFrame) = JobCounter.during(spark) {
      OrderedPartitions.iterator(df, df.rdd.map(r => Array(r.getLong(0).toByte)))
        .flatMap(_.map(_.head.toInt)).toList
    }
    val (smallIds, smallJobs) = run(small)
    val par = spark.sparkContext.defaultParallelism
    assert(smallIds == (0 until 40) && smallJobs.jobs == (4 + par - 1) / par)
    val (unknownIds, unknownJobs) = run(unknown)
    // read as huge, partition 0 runs alone; its few bytes widen the rest
    assert(unknownIds == (0 until 40) && unknownJobs.jobs == 1 + (3 + par - 1) / par)
  }
}
