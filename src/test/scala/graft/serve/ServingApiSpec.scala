package graft.serve

import graft.{SparkSpec, Tables}

class ServingApiSpec extends SparkSpec {

  test("flightInfo returns schema without executing") {
    val df = Tables.orders(spark, sfDir)
    assert(ServingApi.flightInfo(df).fieldNames.toSet.contains("o_orderkey"))
  }

  test("listTables resolves each table once: a repeat call runs no Spark job") {
    val first = ServingApi.listTables(spark, sfDir)
    val (again, jobs) = JobCounter.during(spark)(ServingApi.listTables(spark, sfDir))
    assert(again == first)
    assert(jobs.jobs == 0, s"repeat listTables ran ${jobs.jobs} jobs")
    // another session, with its own read settings, resolves for itself
    val (other, otherJobs) =
      JobCounter.during(spark)(ServingApi.listTables(spark.newSession(), sfDir))
    assert(other == first && otherJobs.jobs > 0)
  }
}
