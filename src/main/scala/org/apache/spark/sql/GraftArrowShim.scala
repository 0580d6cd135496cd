package org.apache.spark.sql

import java.io.OutputStream

import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.arrow.{ArrowBatchStreamWriter, ArrowConverters}
import org.apache.spark.sql.util.ArrowUtils

/** Bridge to Spark's private[sql] Arrow path, the one Spark Connect and
  * PySpark's `toPandas` take: `ArrowConverters` encodes record batches
  * on the executors, `ArrowBatchStreamWriter` copies them to a stream,
  * `SQLExecution.withNewExecutionId` makes the action one SQL execution.
  * Field mapping is Spark's `ArrowUtils` under the session's time zone
  * and large-var-types setting.
  */
object GraftArrowShim {
  // Arrow allows repeated field names; refusing them would turn a
  // servable result (`SELECT a.x, b.x ...`) into an error
  private val ErrorOnDuplicates = false

  private def conf(df: DataFrame) =
    df.sparkSession.asInstanceOf[classic.SparkSession].sessionState.conf

  /** `df`'s Arrow schema; throws for a type Spark cannot encode. Runs no job. */
  def arrowSchema(df: DataFrame): Schema = ArrowUtils.toArrowSchema(df.schema,
    conf(df).sessionLocalTimeZone, ErrorOnDuplicates, conf(df).arrowUseLargeVarTypes)

  /** `df`'s rows as IPC record batches of at most `maxRows` rows, encoded
    * per partition on the executors (none for an empty partition).
    * Executes the plan: under AQE its shuffle stages run here. */
  def arrowBatches(df: DataFrame, maxRows: Int): RDD[Array[Byte]] = {
    val (schema, tz, large) =
      (df.schema, conf(df).sessionLocalTimeZone, conf(df).arrowUseLargeVarTypes)
    df.queryExecution.toRdd.mapPartitionsInternal(ArrowConverters.toBatchIterator(
      _, schema, maxRows.toLong, tz, ErrorOnDuplicates, large, TaskContext.get()))
  }

  /** One IPC stream to `out`: `df`'s schema, every batch `body` passes to
    * the function it is given, then the end-of-stream marker. */
  def writeStream(df: DataFrame, out: OutputStream)(
      body: (Iterator[Array[Byte]] => Unit) => Unit): Unit = {
    val writer = new ArrowBatchStreamWriter(df.schema, out, conf(df).sessionLocalTimeZone,
      ErrorOnDuplicates, conf(df).arrowUseLargeVarTypes)
    body(writer.writeBatches)
    writer.end()
  }

  /** Run `body` as one SQL execution of `ds`'s plan, as a Dataset action
    * does: its jobs carry the execution id. */
  def withExecution[T](ds: Dataset[_], name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(ds.queryExecution, Some(name))(body)
}
