package graft.serve

import java.io.OutputStream

import org.apache.spark.sql.{DataFrame, GraftArrowShim}

/** DataFrame → Arrow IPC stream, batched — the columnar wire format of
  * the reference's `do_get` (reference: src/flight_server/server.py:41,
  * 10k-row record batches), written over plain chunked HTTP with the
  * arrow-vector jars Spark already ships.
  *
  * Encoding is Spark's own Arrow path (`ArrowConverters`, the one Spark
  * Connect and `toPandas` use): each partition becomes record batches of
  * at most `batchSize` rows on its executor, so batches end at partition
  * boundaries and every type a DataFrame can hold goes over the wire.
  *
  * Scale: one Spark job per window of partitions ([[OrderedPartitions]]);
  * batches are written in partition order and flushed after each
  * partition. The driver holds one window of encoded partitions, never a
  * decoded row: at most `defaultParallelism` partitions, and no more than
  * fit in half of `spark.driver.maxResultSize` and an eighth of the heap.
  */
object ArrowStream {

  /** Stream `df` as Arrow IPC record batches of at most `batchSize` rows. */
  def write(df: DataFrame, os: OutputStream, batchSize: Int): Unit =
    writer(df, batchSize)(os)

  /** Build `df`'s Arrow schema now, throwing on a column type Spark's
    * Arrow writer cannot encode, and return the function that streams
    * `df` under it — so a server can fail before it commits to a 200
    * header. */
  def writer(df: DataFrame, batchSize: Int): OutputStream => Unit = {
    GraftArrowShim.arrowSchema(df)
    os => GraftArrowShim.withExecution(df, "graft arrow stream") {
      val batches = GraftArrowShim.arrowBatches(df, batchSize)
      GraftArrowShim.writeStream(df, os) { writeBatches =>
        OrderedPartitions.iterator(df, batches).foreach { part =>
          writeBatches(part.iterator)
          os.flush()
        }
      }
    }
  }
}
