package graft.streaming

import graft.{SparkSpec, Tables}
import graft.meta.SnapshotCatalog
import graft.sinks.{MaterializedAgg, Writers}
import org.apache.spark.sql.functions._

/** Continuous MV maintenance (T11): the refresh daemon must track the
  * source across appends / deletes / merges, do ZERO work when the
  * source is idle, and converge (never double-apply) when the stream's
  * offset bookkeeping is lost — the watermark, not the checkpoint, is
  * the correctness anchor. */
class MvMaintenanceSpec extends SparkSpec {

  private val base = tempDir("graft-mvd-").toString
  private val root = s"$base/cat"
  private val cat = new SnapshotCatalog(root)

  private def recompute(): Set[(String, Long, java.math.BigDecimal)] =
    cat.read(spark, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(28,6)")).as("sum_o_totalprice"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet

  private def viewState(): Set[(String, Long, java.math.BigDecimal)] =
    cat.read(spark, "mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).setScale(6))).toSet

  private def runDaemon(ckpt: String): Unit =
    MvMaintenance.start(spark, root, "mv", s"$base/view", ckpt)
      .awaitTermination(120000)

  test("the daemon follows the source; idle runs and lost checkpoints never double-apply") {
    val o = Tables.orders(spark, sfDir)
    Writers.writeSnapshot(cat, "orders", o.filter(col("o_orderkey") <= 900), s"$base/data")
    MaterializedAgg.build(spark, cat, "orders", "mv",
      Seq("o_orderstatus"), Seq("o_totalprice"), s"$base/view")
    val ckpt = s"$base/chk"

    // churn: an append AND a COW delete land before the daemon wakes —
    // one refresh folds both commits
    Writers.writeSnapshot(cat, "orders",
      o.filter(col("o_orderkey").between(901, 2000)), s"$base/data")
    Writers.deleteWhere(spark, cat, "orders",
      df => df.filter(col("o_orderkey") % 3 =!= 0), Nil, s"$base/data")
    runDaemon(ckpt)
    assert(viewState() == recompute(), "daemon refresh != from-scratch recompute")

    // idle source: the daemon commits NOTHING (no empty refresh commits)
    val quiet = cat.snapshots("mv").size
    runDaemon(ckpt)
    assert(cat.snapshots("mv").size == quiet,
      "an idle daemon pass must not commit")

    // lost checkpoint: a FRESH checkpoint replays the full-table signal,
    // but the refresh folds from the view's own watermark — no double
    // apply, no commit (convergence is the watermark's, not the offset's)
    runDaemon(s"$base/chk2")
    assert(cat.snapshots("mv").size == quiet,
      "a replayed signal over a current watermark must no-op")
    assert(viewState() == recompute())

    // a merge upsert after the restart: the daemon picks it up
    val src = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    Writers.mergeInto(spark, cat, "orders", src, Seq("o_orderkey"), s"$base/data")
    runDaemon(s"$base/chk2")
    assert(viewState() == recompute(), "daemon missed post-restart churn")
  }
}
