package graft.serve

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The catalog side of result serving — the zero-egress analogue of the
  * reference's Arrow Flight service (reference:
  * src/flight_server/server.py): the record-batch size, schema lookup
  * and table listing.
  *
  * Scale: nothing here pulls rows. Results stream from
  * [[GraftHttpServer]], which runs them through [[OrderedPartitions]]
  * and writes `DefaultBatchSize`-row Arrow record batches, the chunking
  * of Flight's `do_get` (server.py:41 streams a table in 10k-row
  * batches).
  */
object ServingApi {
  val DefaultBatchSize = 10000

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
