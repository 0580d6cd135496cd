package graft.meta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.time.{Instant, ZoneOffset}

/** Iceberg-style HIDDEN partitioning (reference consumes the Iceberg
  * partition-spec metadata this mirrors: partition values as transforms
  * of source columns, with readers stating predicates on the SOURCE
  * column only — the engine derives which partitions can match).
  *
  * Each transform owns: the Spark column expression that materializes
  * the partition value at WRITE time (always rendered as a string, since
  * Hive path segments are strings), and the driver-side inverse used at
  * PLAN time to map a raw-column [[PruneFilter]] into a partition-column
  * filter. The two derivations MUST agree bit-for-bit — spec-checked by
  * evaluating both on the same values.
  *
  * Scale: this is pure metadata — the mapping runs once per query on the
  * driver; pruning then skips whole partition directories from the
  * manifest alone (no footer reads), exactly like
  * [[graft.sinks.Writers.writePartitionedSnapshot]]'s identity layout.
  */
sealed trait PartTransform {
  def source: String
  /** Hidden partition column this transform materializes. */
  def partCol: String
  /** Write-side derivation of the partition value (string-rendered). */
  def colExpr: Column
}

/** Day granularity over a timestamp column (Iceberg `days(ts)`): the
  * time-series layout — a time-range query touches only its days. */
final case class DaysTransform(source: String) extends PartTransform {
  val partCol = s"__p_${source}_day"
  def colExpr: Column = date_format(col(source), "yyyy-MM-dd")
  /** UTC day of an epoch-millis bound (the session timezone is UTC, so
    * this matches `date_format` exactly). */
  def dayOfMillis(ms: Double): String =
    Instant.ofEpochMilli(ms.toLong).atZone(ZoneOffset.UTC).toLocalDate.toString
}

/** String prefix truncation (Iceberg `truncate(width, col)`): prefix
  * truncation is monotone under lexicographic order, so range predicates
  * map to truncated ranges. */
final case class TruncateTransform(source: String, width: Int) extends PartTransform {
  require(width > 0, "truncate width must be positive")
  val partCol = s"__p_${source}_trunc$width"
  def colExpr: Column = substring(col(source), 1, width)
  def truncOf(v: String): String = v.take(width)
}

/** Hash bucketing (Iceberg `bucket(n, col)`): the join/point-lookup
  * layout. The hash is the md5-hex-prefix bucket (the same family as
  * [[graft.queries.TrainPrep.hashBucket]]) — engine-portable, unlike
  * Spark's internal murmur/xxhash, so the driver-side inverse can
  * reproduce it without an executor. Equality and IN-list predicates
  * prune to one bucket each; ranges pass through unpruned (hashing
  * destroys order — same contract as Iceberg). */
final case class BucketTransform(source: String, n: Int) extends PartTransform {
  require(n > 1, "bucket count must be > 1")
  val partCol = s"__p_${source}_bucket$n"
  def colExpr: Column =
    (conv(substring(md5(col(source).cast("string")), 1, 6), 16, 10).cast("bigint") % n)
      .cast("string")
  def bucketOf(v: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(v.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % n).toString
  }
}

object PartitionTransforms {

  /** `df` with each transform's hidden partition column materialized —
    * the frame a transform-partitioned write hands to `partitionBy`. */
  def withPartitionColumns(df: DataFrame, spec: Seq[PartTransform]): DataFrame =
    spec.foldLeft(df)((d, t) => d.withColumn(t.partCol, t.colExpr))

  /** Map raw-column prune filters through the spec into partition-column
    * filters. A filter whose shape a transform cannot invert contributes
    * nothing (pruning stays CORRECT — partition pruning is only ever an
    * optimization on top of the row filter; the raw filter still prunes
    * via per-file column stats). Returned filters are IN ADDITION to the
    * raw ones. */
  def mapFilters(spec: Seq[PartTransform], raw: Seq[PruneFilter]): Seq[PruneFilter] =
    for {
      t <- spec
      f <- raw if f.column == t.source
      mapped <- mapOne(t, f)
    } yield mapped

  private def mapOne(t: PartTransform, f: PruneFilter): Option[PruneFilter] = (t, f) match {
    // days(ts): epoch-millis range → day-string range (inclusive both
    // ends: the boundary days' files survive, rows are re-filtered)
    case (d: DaysTransform, RangeNum(_, lo, hi)) =>
      val loDay = if (lo.isInfinite) "0000-01-01" else d.dayOfMillis(lo)
      val hiDay = if (hi.isInfinite) "9999-12-31" else d.dayOfMillis(hi)
      Some(RangeString(d.partCol, loDay, hiDay))
    case (tr: TruncateTransform, EqString(_, v)) =>
      Some(EqString(tr.partCol, tr.truncOf(v)))
    case (tr: TruncateTransform, RangeString(_, lo, hi)) =>
      Some(RangeString(tr.partCol, tr.truncOf(lo), tr.truncOf(hi)))
    case (tr: TruncateTransform, InString(_, vs)) =>
      Some(InString(tr.partCol, vs.map(tr.truncOf).distinct))
    case (b: BucketTransform, EqString(_, v)) =>
      Some(EqString(b.partCol, b.bucketOf(v)))
    case (b: BucketTransform, InString(_, vs)) =>
      Some(InString(b.partCol, vs.map(b.bucketOf).distinct))
    case _ => None
  }
}
