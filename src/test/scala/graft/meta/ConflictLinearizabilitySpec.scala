package graft.meta

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.Writers
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Random

/** Generative linearizability gate for S49: rounds of RACING writer
  * pairs through the REAL `Writers` API (threads, not simulated
  * staleness), asserting after every round that the table's visible
  * key set equals SOME serial order of the operations that succeeded —
  * reconciliation is allowed to pick any order, conflicts are allowed
  * to drop a loser, but a state matching NO serial order (a lost
  * update, a resurrected row) fails the round. Thread timing varies
  * across rounds, so both the overlap (reconcile/conflict) and the
  * serialized (no-contention) branches are exercised. */
class ConflictLinearizabilitySpec extends SparkSpec {

  private type Op = (String, Set[Long] => Set[Long], () => Unit)

  test("30 rounds of racing writer pairs always land on a serial-order state") {
    val cat = new SnapshotCatalog(tempDir("graft-lin-").toString)
    val dataDir = tempDir("graft-lin-data-").toString
    val customers = graft.Tables.customer(spark, sfDir)
    val corpusMax = 140L

    Writers.writeRangedSnapshot(cat, "t",
      customers.filter(col("c_custkey").between(1, 40)), dataDir, "c_custkey", nFiles = 4)

    def visible(): Set[Long] = {
      val keys = cat.read(spark, "t").select(col("c_custkey").cast("long"))
        .collect().map(_.getLong(0))
      val set = keys.toSet
      // appends only ever add FRESH ids, so any multiset growth is a
      // resurrected/duplicated row — the failure a set-read would hide
      assert(keys.length == set.size,
        s"duplicate visible rows: ${keys.groupBy(identity).filter(_._2.length > 1).keys.toSeq.sorted.take(5)}")
      set
    }

    val rnd = new Random(4242)
    var nextFresh = 41L // appended ranges never reuse ids: set semantics stay exact
    var state = visible()
    assert(state == (1L to 40L).toSet)
    var conflicts = 0
    var reconciled = 0

    def mkOp(): Op = rnd.nextInt(6) match {
      case 0 | 1 if nextFresh + 10 <= corpusMax => // append a fresh slice
        val lo = nextFresh; val hi = math.min(lo + 4 + rnd.nextInt(6), corpusMax)
        nextFresh = hi + 1
        (s"append[$lo,$hi]", s => s ++ (lo to hi),
          () => { Writers.writeSnapshot(cat, "t",
            customers.filter(col("c_custkey").between(lo, hi)), dataDir); () })
      case 0 | 1 => // corpus exhausted: maintenance instead
        ("compact", (s: Set[Long]) => s,
          () => { Writers.compact(spark, cat, "t", dataDir, smallBytes = 1L << 20); () })
      case 2 => // COW delete of one existing key's neighborhood
        val ks = state.toSeq.sorted
        val pick = ks(rnd.nextInt(ks.size)); val hi = pick + rnd.nextInt(3)
        (s"cowDelete[$pick,$hi]", s => s.filterNot(k => k >= pick && k <= hi),
          () => { Writers.deleteWhere(spark, cat, "t",
            rowPredicate = df => df.filter(!col("c_custkey").between(pick, hi)),
            pruneFilters = Seq(RangeNum("c_custkey", pick.toDouble, hi.toDouble)),
            dataDir = dataDir); () })
      case 3 => // MoR position-delete of one key
        val ks = state.toSeq.sorted
        val pick = ks(rnd.nextInt(ks.size))
        (s"morDelete[$pick]", s => s - pick,
          () => { Writers.deleteWhereMoR(spark, cat, "t", col("c_custkey") === pick,
            Seq(RangeNum("c_custkey", pick.toDouble, pick.toDouble)), dataDir); () })
      case 4 => // zero-scan equality delete of two keys
        val ks = state.toSeq.sorted
        val picks = Set(ks(rnd.nextInt(ks.size)), ks(rnd.nextInt(ks.size)))
        import spark.implicits._
        (s"eqDelete$picks", s => s -- picks,
          () => { Writers.deleteByKeys(spark, cat, "t",
            picks.toSeq.toDF("c_custkey"), Seq("c_custkey"), dataDir); () })
      case _ => // row-preserving maintenance
        if (rnd.nextBoolean())
          ("compact", (s: Set[Long]) => s,
            () => { Writers.compact(spark, cat, "t", dataDir, smallBytes = 1L << 20); () })
        else
          ("materialize", (s: Set[Long]) => s,
            () => { Writers.materializeDeletes(spark, cat, "t", dataDir); () })
    }

    for (round <- 1 to 30) {
      val preId = cat.currentSnapshot("t").get.snapshotId
      val a = mkOp(); val b = mkOp()
      val results = Await.result(Future.sequence(Seq(a, b).map { op =>
        Future(
          try { op._3(); Right(op) }
          catch { case e: CommitConflictException => Left((op, e)) })
      }), 180.seconds)
      val winners = results.collect { case Right(op) => op }
      conflicts += results.count(_.isLeft)
      assert(winners.nonEmpty, s"round $round: both writers conflicted (${a._1} vs ${b._1})")
      if (winners.size == 2) reconciled += 1
      val candidates: Seq[Set[Long]] = winners.permutations
        .map(perm => perm.foldLeft(state) { case (s, (_, f, _)) => f(s) }).toSeq
      val actual = visible()
      assert(candidates.exists(_ == actual),
        s"round $round: state after ${winners.map(_._1).mkString(" || ")} " +
          s"(planned: ${a._1}, ${b._1}) matches no serial order; " +
          s"diff vs first candidate: +${(actual -- candidates.head).toSeq.sorted.take(5)} " +
          s"-${(candidates.head -- actual).toSeq.sorted.take(5)}")
      // CDC exactness ACROSS racing commits: the net feed over the
      // round's snapshot range must transform pre-state into actual —
      // reconciled commits record accurate lineage props or this fails
      val postId = cat.currentSnapshot("t").get.snapshotId
      if (postId != preId) {
        val feed = cat.changesBetween(spark, "t", preId, Some(postId))
          .select(col("c_custkey").cast("long"), col("_change_type")).collect()
          .map(r => (r.getLong(0), r.getString(1)))
        val ins = feed.collect { case (k, "insert") => k }.toSet
        val del = feed.collect { case (k, "delete") => k }.toSet
        assert((state -- del) ++ ins == actual,
          s"round $round: net feed ($preId->$postId) applied to pre-state != actual " +
            s"(+$ins -$del)")
        assert(feed.length == ins.size + del.size, s"round $round: duplicate feed rows")
      }
      state = actual
    }
    // the generator must have exercised both branches across the run
    assert(reconciled > 0, "no round had both writers succeed")
    info(s"30 rounds: $conflicts conflicts, $reconciled fully-reconciled rounds, " +
      s"final keys=${state.size}")
  }

  test("10 rounds of racing merges and updates always land on a serial-order state") {
    val cat = new SnapshotCatalog(tempDir("graft-linm-").toString)
    val dataDir = tempDir("graft-linm-data-").toString
    val customers = graft.Tables.customer(spark, sfDir)
    val tagType = customers.schema("c_nationkey").dataType
    val corpusMax = 140L
    // key -> c_nationkey: merges and updates restate a key's tag
    type State = Map[Long, Long]
    type MergeOp = (String, State => State, () => Unit)

    Writers.writeRangedSnapshot(cat, "t",
      customers.filter(col("c_custkey").between(1, 40)), dataDir, "c_custkey", nFiles = 4)

    def visible(): State = {
      val rows = cat.read(spark, "t")
        .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(rows.length == rows.map(_._1).distinct.length,
        s"duplicate visible keys: ${rows.groupBy(_._1).filter(_._2.length > 1).keys.toSeq.sorted.take(5)}")
      rows.toMap
    }
    def rowsOf(ks: Seq[Long], tag: Long) =
      customers.filter(col("c_custkey").isin(ks: _*))
        .withColumn("c_nationkey", lit(tag).cast(tagType))

    val rnd = new Random(777)
    var nextFresh = 41L
    var nextTag = 100L
    var state = visible()
    var conflicts = 0
    var reconciled = 0

    // kind 0 appends, 1 merges, 2 updates, 3 deletes
    def mkOp(kind: Int): MergeOp = {
      val ks = state.keys.toSeq.sorted
      val tag = nextTag; nextTag += 1
      kind match {
        case 0 if nextFresh + 5 <= corpusMax => // append a fresh slice
          val lo = nextFresh; val hi = lo + 2 + rnd.nextInt(3)
          nextFresh = hi + 1
          val orig = customers.filter(col("c_custkey").between(lo, hi))
            .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          (s"append[$lo,$hi]", st => st ++ orig,
            () => { Writers.writeSnapshot(cat, "t",
              customers.filter(col("c_custkey").between(lo, hi)), dataDir); () })
        case 0 | 1 => // MERGE: existing keys update, fresh keys insert
          val existing = rnd.shuffle(ks).take(1 + rnd.nextInt(2))
          val fresh =
            if (nextFresh + 2 > corpusMax) Nil
            else { val f = Seq(nextFresh, nextFresh + 1); nextFresh += 2; f }
          val keys = existing ++ fresh
          (s"merge${keys.mkString("[", ",", "]")}=$tag", st => st ++ keys.map(_ -> tag),
            () => { Writers.mergeInto(spark, cat, "t", rowsOf(keys, tag),
              Seq("c_custkey"), dataDir); () })
        case 2 => // UPDATE ... SET c_nationkey = tag WHERE key in a range
          val lo = ks(rnd.nextInt(ks.size)); val hi = lo + rnd.nextInt(3)
          (s"update[$lo,$hi]=$tag",
            st => st.map { case (k, v) => k -> (if (k >= lo && k <= hi) tag else v) },
            () => { Writers.updateWhere(spark, cat, "t",
              Seq("c_nationkey" -> lit(tag)), col("c_custkey").between(lo, hi),
              Seq(RangeNum("c_custkey", lo.toDouble, hi.toDouble)), dataDir); () })
        case _ => // COW delete of a key range
          val lo = ks(rnd.nextInt(ks.size)); val hi = lo + rnd.nextInt(3)
          (s"cowDelete[$lo,$hi]", st => st.filterNot { case (k, _) => k >= lo && k <= hi },
            () => { Writers.deleteWhere(spark, cat, "t",
              rowPredicate = df => df.filter(!col("c_custkey").between(lo, hi)),
              pruneFilters = Seq(RangeNum("c_custkey", lo.toDouble, hi.toDouble)),
              dataDir = dataDir); () })
      }
    }

    for (round <- 1 to 10) {
      // every round races a merge-shaped commit against any writer
      val a = mkOp(1 + rnd.nextInt(2)); val b = mkOp(rnd.nextInt(4))
      val results = Await.result(Future.sequence(Seq(a, b).map { op =>
        Future(
          try { op._3(); Right(op) }
          catch { case e: CommitConflictException => Left((op, e)) })
      }), 180.seconds)
      val winners = results.collect { case Right(op) => op }
      conflicts += results.count(_.isLeft)
      assert(winners.nonEmpty, s"round $round: both writers conflicted (${a._1} vs ${b._1})")
      if (winners.size == 2) reconciled += 1
      val candidates: Seq[State] = winners.permutations
        .map(perm => perm.foldLeft(state) { case (st, (_, f, _)) => f(st) }).toSeq
      val actual = visible()
      assert(candidates.contains(actual),
        s"round $round: state after ${winners.map(_._1).mkString(" || ")} " +
          s"(planned: ${a._1}, ${b._1}) matches no serial order; " +
          s"diff vs first candidate: +${(actual.toSet -- candidates.head.toSet).toSeq.sortBy(_._1).take(5)} " +
          s"-${(candidates.head.toSet -- actual.toSet).toSeq.sortBy(_._1).take(5)}")
      state = actual
    }
    assert(reconciled > 0, "no round had both writers succeed")
    info(s"10 rounds: $conflicts conflicts, $reconciled fully-reconciled rounds, " +
      s"final keys=${state.size}")
  }
}
