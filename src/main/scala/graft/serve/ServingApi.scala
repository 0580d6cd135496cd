package graft.serve

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Batched result serving — the zero-egress analogue of the reference's
  * Arrow Flight `do_get` (reference: src/flight_server/server.py:41
  * streams a table in 10k-row record batches).
  *
  * Scale: `stream` pulls rows with `toLocalIterator`, one Spark job per
  * partition, so the driver holds one partition of rows at a time and
  * a result far larger than the driver streams through it; batches
  * bound the consumer's working set exactly like Flight's stream chunks.
  * The HTTP server's wire formats take [[OrderedPartitions]] instead.
  */
object ServingApi {
  val DefaultBatchSize = 10000

  final case class ResultStream(schema: StructType, batches: Iterator[Seq[Row]])

  /** Stream a DataFrame as size-bounded row batches (reference:
    * server.py:52 `_table_generator`). */
  def stream(df: DataFrame, batchSize: Int = DefaultBatchSize): ResultStream =
    ResultStream(df.schema, df.toLocalIterator().asScala.grouped(batchSize))

  /** Schema lookup without executing — the analogue of
    * `get_flight_info` (reference: server.py:19). */
  def flightInfo(df: DataFrame): StructType = df.schema

  // per session, whose read settings shape the inferred schemas; a
  // session's entry goes when the session is collected
  private val tableSchemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Map[String, StructType]]]()

  /** Catalog listing: table name → schema for the served corpus — the
    * analogue of `list_flights` (reference: server.py:14). Each table is
    * resolved (file listing, schema inference) on the first call for
    * `spark` and `dir` only; later calls run no Spark job. This assumes
    * a corpus directory is not rewritten in place while a session
    * serves it: a rewrite is not seen by later calls. */
  def listTables(spark: SparkSession, dir: String): Map[String, StructType] =
    tableSchemas.synchronized(tableSchemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
      .computeIfAbsent(dir,
        _ => graft.Tables.names.map(n => n -> graft.Tables.load(spark, dir, n).schema).toMap)
}
