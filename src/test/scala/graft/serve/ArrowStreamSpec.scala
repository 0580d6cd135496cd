package graft.serve

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.SparkSpec
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.functions._

/** Type-coverage roundtrip for the Arrow wire: every scalar type the
  * engine's query surface produces, plus nulls and batch boundaries,
  * must survive write → ArrowStreamReader intact. Batches are encoded
  * per partition, so they end at partition boundaries. */
class ArrowStreamSpec extends SparkSpec {

  private def roundtrip(df: org.apache.spark.sql.DataFrame, batchSize: Int) = {
    val bos = new ByteArrayOutputStream()
    ArrowStream.write(df, bos, batchSize)
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bos.toByteArray), alloc)
    val rows = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val batches = scala.collection.mutable.ArrayBuffer[Int]()
    while (reader.loadNextBatch()) {
      val root = reader.getVectorSchemaRoot
      batches += root.getRowCount
      (0 until root.getRowCount).foreach { i =>
        rows += root.getSchema.getFields.toArray.map { f =>
          val name = f.asInstanceOf[org.apache.arrow.vector.types.pojo.Field].getName
          name -> root.getVector(name).getObject(i)
        }.toMap
      }
    }
    reader.close(); alloc.close()
    (rows.toSeq, batches.toSeq)
  }

  /** Batch count is the sum over partitions of ⌈rows / batchSize⌉, and
    * no batch exceeds `batchSize` rows. */
  private def assertPartitionBatches(
      df: org.apache.spark.sql.DataFrame, batchSize: Int, batches: Seq[Int]): Unit = {
    val perPartition = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(batches.size == perPartition.map(n => (n + batchSize - 1) / batchSize).sum,
      s"batches $batches for partitions ${perPartition.toSeq} at batchSize $batchSize")
    assert(batches.forall(n => n > 0 && n <= batchSize), s"batches $batches")
  }

  test("scalar types, nulls, and batch boundaries roundtrip exactly") {
    import spark.implicits._
    val df = spark.range(7).select(
      col("id"),
      (col("id") % 2 === 0).as("flag"),
      col("id").cast("int").as("i32"),
      (col("id") * 1.5).cast("double").as("d"),
      (col("id") * 0.25).cast("float").as("f"),
      concat(lit("s"), col("id")).as("s"),
      when(col("id") % 3 === 0, null).otherwise(concat(lit("n"), col("id"))).as("maybe"),
      (col("id") * 100 + 0.07).cast("decimal(12,2)").as("dec"),
      to_date(concat(lit("2024-01-0"), col("id") + 1)).as("dt"),
      to_timestamp(concat(lit("2024-06-01 10:00:00."), col("id") + 1)).as("ts"),
      to_timestamp_ntz(concat(lit("2024-06-01 10:00:00."), col("id") + 1)).as("ntz"),
      encode(concat(lit("b"), col("id")), "UTF-8").as("bin"))
    val (rows, batches) = roundtrip(df, batchSize = 3)
    assert(rows.size == 7)
    assertPartitionBatches(df, 3, batches)
    assertPartitionBatches(df, 1, roundtrip(df, batchSize = 1)._2)

    val expected = df.collect()
    rows.zip(expected).zipWithIndex.foreach { case ((got, want), idx) =>
      assert(got("id") == want.getAs[Long]("id"))
      assert(got("flag") == want.getAs[Boolean]("flag"))
      assert(got("i32") == want.getAs[Int]("i32"))
      assert(got("d") == want.getAs[Double]("d"))
      assert(got("f") == want.getAs[Float]("f"))
      assert(got("s").toString == want.getAs[String]("s"))
      if (idx % 3 == 0) assert(got("maybe") == null)
      else assert(got("maybe").toString == want.getAs[String]("maybe"))
      assert(new java.math.BigDecimal(got("dec").toString)
        .compareTo(want.getAs[java.math.BigDecimal]("dec")) == 0)
      // DateDayVector yields epoch days (Integer) or LocalDate by version
      val gotDay = got("dt") match {
        case i: Integer => java.time.LocalDate.ofEpochDay(i.longValue())
        case other => java.time.LocalDate.parse(other.toString)
      }
      assert(gotDay == want.getAs[java.sql.Date]("dt").toLocalDate)
      // TimeStampMicroTZVector yields epoch micros as Long
      val wantTs = want.getAs[java.sql.Timestamp]("ts")
      val wantMicros = math.floorDiv(wantTs.getTime, 1000L) * 1000000L + wantTs.getNanos / 1000L
      assert(got("ts").asInstanceOf[Long] == wantMicros,
        s"ts mismatch: got ${got("ts")}, want $wantMicros")
      // TimeStampMicroVector (no zone) yields the LocalDateTime itself
      assert(got("ntz") == want.getAs[java.time.LocalDateTime]("ntz"))
      assert(got("bin").asInstanceOf[Array[Byte]].toSeq ==
        want.getAs[Array[Byte]]("bin").toSeq)
    }
  }

  test("map columns roundtrip as Arrow maps") {
    import spark.implicits._
    val df = Seq((1, Map("k" -> 1))).toDF("id", "m")
    val (rows, _) = roundtrip(df, 10)
    assert(rows.size == 1 && rows.head("id") == 1)
    val entries = rows.head("m").asInstanceOf[java.util.List[_]]
    assert(entries.size == 1)
    val entry = entries.get(0).asInstanceOf[java.util.Map[String, Any]]
    assert(entry.get("key").toString == "k" && entry.get("value") == 1)
  }

  test("empty result yields a valid zero-batch stream") {
    import spark.implicits._
    val df = spark.range(5).filter(col("id") > 100).select(col("id"))
    val (rows, _) = roundtrip(df, 10)
    assert(rows.isEmpty)
  }
}
