package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical table registry over a scale-factor directory.
  *
  * The reference resolves table ids to data files through an Iceberg
  * catalog (reference: src/iceberg_management/metadata.py:20
  * `IcebergMetadataManager.get_table`) and loads parquet through
  * `S3DataLoader` (reference: src/storage/dataloader.py:17). Spark-first,
  * both collapse into the DataSource V2 parquet reader: `spark.read
  * .parquet` gives vectorized scans, column pruning and predicate
  * pushdown for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(path(dir, name))

  /** events.ts arrives in generator-dependent physical shapes —
    * TIMESTAMP(NANOS) (rejected by Spark's reader unless read as
    * epoch-nanos long via the legacy conf), plain INT64 epoch-nanos, or
    * TIMESTAMP(MICROS) (surfacing as NTZ under Spark's parquet NTZ
    * inference). [[events]] canonicalizes all three to one session-UTC
    * microsecond TimestampType column under the same name. */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path(dir, "events"))
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = eventsRaw(s, d)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
