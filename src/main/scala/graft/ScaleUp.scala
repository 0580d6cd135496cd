package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf scale-up generator (SURVEY §6's validation sweep): writes an
  * N×-scaled copy of an sf directory by replicating each scaling table
  * with CONSISTENT key remapping — every key column k becomes
  * `k * N + copy` in every table that carries it, so join fan-outs,
  * key cardinalities and group counts all scale with the data (a bare
  * union would scale bytes but collapse distinct counts). The fixed
  * dimension tables (region, nation) stay as-is, exactly like TPC-H's
  * own sf scaling. Document/event/vector ids shift the same way so
  * dedup clusters and ANN corpora grow in POPULATION, not in copies of
  * one population (`doc_id` collisions would turn every near-dup
  * family into one giant cluster and invalidate the sweep).
  *
  * [[ensureScaled]] is the one path that writes the scaled corpus; the
  * gate, `CpuScaling` and `StreamProbe` call it before they read it.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *      sbt "runMain graft.ScaleUp /tmp/graft-sf1"
  */
object ScaleUp {

  /** The scale factor of the gate's corpus: one decade, the span the
    * gate's bounds (and `ScaleGate.boundOverrides`) are derived for. */
  val Copies = 10

  /** Key columns per table — remapped consistently everywhere. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "region" -> Nil,
    "nation" -> Nil)

  private def scaled(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$table.parquet")
    val keys = keyCols(table)
    if (keys.isEmpty) df
    else (0 until Copies).map { i =>
      val keyed = keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) * Copies + i))
      // Population must grow in CONTENT, not just in keys: verbatim text
      // copies give every doc `copies` exact clones, so LSH bucket width
      // and candidate pairs grow quadratically in the copy count — a
      // property of the cloning, not of a larger corpus (real pipelines
      // exact-dedup clones away before near-dup). A per-copy suffix
      // token keeps copies textually distinct while preserving each
      // copy's INTERNAL near-dup structure; embeddings get a tiny
      // deterministic per-copy nudge on one component for the same
      // reason (identical vectors would make every ANN bucket a
      // copies-wide tie).
      table match {
        case "documents" =>
          // every 7th word (copy-rotated phase) gets a copy suffix: ~43%
          // of 3-gram shingles differ between copies (each changed word
          // kills the 3 windows covering it), dropping cross-copy
          // jaccard to ~0.4 — below near-dup thresholds — while leaving
          // within-copy similarity structure intact
          keyed.withColumn("text", array_join(
            transform(split(col("text"), " "),
              (w, p) => when((p + lit(i)) % 7 === 0, concat(w, lit(s"x$i")))
                .otherwise(w)), " "))
        case "embeddings" =>
          // copy i's whole cloud shifts on component (i mod dim), then
          // renormalizes: within-copy distances are preserved under the
          // common shift (near-dup structure intact), while vectors
          // from different copies land far apart in cosine — identical
          // (or tiny-offset) copies would make every LSH/IVF bucket a
          // copies-wide tie and near-dup candidate sets quadratic in
          // the copy count. The shift MAGNITUDE grows with floor(i/dim)
          // so the transform is injective in i past dim copies (copies
          // i and i+dim would otherwise be exact clones), and dim comes
          // from the array itself, not a hardcoded 64.
          val dimC = size(col("embedding"))
          val shifted = transform(col("embedding"),
            (v, p) => when(p === pmod(lit(i), dimC),
              v + (lit(1.0d) + floor(lit(i).cast("double") / dimC)).cast("float"))
              .otherwise(v))
          val nrm = sqrt(aggregate(shifted, lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double")))
          keyed.withColumn("embedding",
            transform(shifted, v => (v.cast("double") / nrm).cast("float")))
        case _ => keyed
      }
    }.reduce(_ unionAll _)
  }

  /** Build the 10× copy of `sfDir` at `outDir`, or reuse it: a table is
    * rebuilt only when its parquet `_SUCCESS` marker is missing, since
    * rebuilding 10× of sf0.1 costs ~1 min. */
  def ensureScaled(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val missing = keyCols.keys.toSeq.sorted.filterNot(t =>
      Files.exists(Paths.get(s"$outDir/$t.parquet/_SUCCESS")))
    if (missing.isEmpty) { println(s"[scaleup] reusing scaled copy at $outDir"); return }
    println(s"[scaleup] building ${Copies}x copy at $outDir (missing: ${missing.mkString(",")})")
    // events.ts is TIMESTAMP(NANOS): read it as epoch-nanos long and
    // write it back as plain INT64 — Tables.events handles both shapes
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    missing.foreach { t =>
      scaled(spark, sfDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"$t -> $outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-scaleup")
    ensureScaled(spark, Measure.sfDir, args.headOption.getOrElse("/tmp/graft-sf1"))
    spark.stop()
  }
}
