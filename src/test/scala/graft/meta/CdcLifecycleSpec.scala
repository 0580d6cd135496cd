package graft.meta

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec
import graft.sinks.Writers
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Full-lifecycle CDC property test.
  *
  * The per-operation CDC contracts (DeleteEvolveSpec, MergeCompactSpec)
  * prove each commit kind in isolation; this spec proves the
  * COMPOSITIONAL contract over random interleavings of
  * append / deleteWhere / mergeInto / compact / expireSnapshots /
  * deleteWhereMoR / materializeDeletes / rollbackTo:
  *
  *   1. every surviving snapshot reads back exactly the model state at
  *      the time it was committed (time travel is exact under churn);
  *   2. for EVERY surviving snapshot pair (a, b):
  *      state(a) minus the feed's deletes plus its inserts == state(b)
  *      as multisets — `changesBetween` is an exact NET row feed no
  *      matter which commit kinds the range spans (including ranges
  *      whose interior snapshots were expired: the chain walk collapses
  *      the missing commits into one file-level diff);
  *   3. `readIncremental(a, b)` never resurrects a row: every row it
  *      emits (with multiplicity) is present in state(b). (Incremental
  *      read is an appended-rows feed, so ⊆ is the contract; exactness
  *      is per-kind spec'd.)
  *
  * All tables are tiny (≤ ~200 rows), so each kind of check (time
  * travel, net feed, incremental feed) is one collect per sequence over
  * the union of its frames, and the multiset algebra runs driver-side —
  * the spec's cost is Spark job scheduling, not data.
  */
class CdcLifecycleSpec extends SparkSpec {

  // SQL-routed ops (INSERT / DELETE / MERGE through GraftExtensions)
  // join the pool so the DML rules run under the SAME model-
  // reconciliation + feed-exactness gate as the code API; the SQL path
  // resolves the root through its own catalog instance, proving the
  // disk format is the coordination point, not shared driver state.
  private lazy val es = {
    val s = org.apache.spark.sql.GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    s
  }

  private type MS = Map[(Long, Long), Int] // multiset of (id, v)

  private def ms(rows: Seq[(Long, Long)]): MS =
    rows.groupBy(identity).map { case (k, g) => k -> g.size }

  private def plus(a: MS, b: MS): MS =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0)))
      .filter(_._2 != 0).toMap

  private def minus(a: MS, b: MS): MS =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) - b.getOrElse(k, 0)))
      .filter(_._2 != 0).toMap

  private def subsetOf(a: MS, b: MS): Boolean =
    a.forall { case (k, n) => b.getOrElse(k, 0) >= n }

  /** The rows of each of `frames`, projected to `(_k, id, v, extra…)`,
    * collected through ONE Spark action (a union tagged by frame index
    * `_k`): a check kind costs one job per sequence, not one per frame. */
  private def collectEach(frames: Seq[DataFrame], extra: String*): Seq[Seq[Row]] = {
    val cols = (Seq("id", "v") ++ extra).map(col)
    val byFrame = frames.zipWithIndex
      .map { case (df, k) => df.select(lit(k).as("_k") +: cols: _*) }
      .reduceOption(_ union _).map(_.collect().toSeq.groupBy(_.getInt(0))).getOrElse(Map.empty)
    frames.indices.map(byFrame.getOrElse(_, Nil))
  }

  test("changesBetween/readIncremental hold over 80 random 6-op sequences") {
    import spark.implicits._
    val rnd = new Random(20260812L)
    // 80 × 6-op chains ≈ the 100 × 4-op runtime but with deeper
    // compositions (a rollback ACROSS a materialize ACROSS an equality
    // delete only appears at depth ≥ 5)
    val nSequences = 80
    val opsPerSeq = 6

    for (seq <- 0 until nSequences) {
      val rootDir = tempDir(s"graft-cdcp-$seq-").toString
      val cat = new SnapshotCatalog(rootDir)
      val dataDir = tempDir(s"graft-cdcp-data-$seq-").toString
      val t = "t"
      es.conf.set(graft.sql.GraftSqlResolution.RootConf, rootDir)

      def batch(n: Int): Seq[(Long, Long)] =
        Seq.fill(n)((rnd.nextInt(100).toLong, rnd.nextInt(1000).toLong))
      // once the table schema evolved (+w column), every later batch
      // carries it (merge sources must match the target schema; the
      // invariants below are projections onto (id, v) either way)
      var evolved = false
      def df(rows: Seq[(Long, Long)]): DataFrame = {
        val base = rows.toDF("id", "v")
        (if (evolved) base.withColumn("w", col("id") * 2L) else base).coalesce(1)
      }

      // recorded (snapshotId -> model state) in commit order
      var states = Vector.empty[(Long, MS)]
      var state: MS = Map.empty

      // first op is always an append so every later op has a snapshot
      val first = batch(5 + rnd.nextInt(20))
      state = plus(state, ms(first))
      states :+= (Writers.writeSnapshot(cat, t, df(first), dataDir).snapshotId, state)

      // Racing-writer helper (S49 under the feed-exactness gate): run
      // two writer ops CONCURRENTLY from a start latch; each returns
      // (snapshotId, model effect) or None (conflict / no-op). Apply
      // the successful effects in COMMIT order — every effect is
      // expressed relative to the PRE-RACE state (a rewrite's scope is
      // its basis snapshot's files, so a racing append's rows are never
      // touched by the partner's delete/merge regardless of which
      // commit lands first), which makes the interleaved states exact.
      def race(ops: Seq[() => Option[(Long, MS => MS)]]): Unit = {
        val latch = new java.util.concurrent.CountDownLatch(1)
        val outs = ops.map { op =>
          val out = new java.util.concurrent.atomic.AtomicReference(
            Option.empty[(Long, MS => MS)])
          val th = new Thread(() => {
            latch.await()
            out.set(
              try op()
              catch { case _: CommitConflictException => None })
          })
          th.start()
          (th, out)
        }
        latch.countDown()
        outs.foreach(_._1.join())
        for ((id, eff) <- outs.flatMap(_._2.get()).sortBy(_._1)) {
          state = eff(state)
          states :+= (id, state)
        }
      }
      def inRange(s: MS, lo: Long, hi: Long): MS =
        s.filter { case ((id, _), _) => id >= lo && id <= hi }

      def sqlTuple(id: Long, v: Long): String =
        if (evolved) s"($id, $v, ${id * 2})" else s"($id, $v)"

      for (_ <- 1 until opsPerSeq) {
        rnd.nextInt(31) match {
          case 0 => // append
            val b = batch(5 + rnd.nextInt(20))
            state = plus(state, ms(b))
            states :+= (Writers.writeSnapshot(cat, t, df(b), dataDir).snapshotId, state)
          case 1 => // COW delete of an id range
            val lo = rnd.nextInt(90).toLong
            val hi = lo + rnd.nextInt(20).toLong
            val snap = Writers.deleteWhere(spark, cat, t,
              d => d.filter(!col("id").between(lo, hi)),
              Seq(RangeNum("id", lo.toDouble, hi.toDouble)), dataDir)
            state = state.filter { case ((id, _), _) => id < lo || id > hi }
            states :+= (snap.snapshotId, state)
          case 2 => // keyed merge (distinct source keys, some new some old)
            val keys = rnd.shuffle((0 until 100).toList).take(1 + rnd.nextInt(8))
            val src = keys.map(k => (k.toLong, rnd.nextInt(1000).toLong))
            val snap = Writers.mergeInto(spark, cat, t, df(src), Seq("id"), dataDir)
            state = plus(state.filter { case ((id, _), _) => !keys.contains(id.toInt) }, ms(src))
            states :+= (snap.snapshotId, state)
          case 3 => // bin-pack compaction: row-preserving, maybe a no-op
            Writers.compact(spark, cat, t, dataDir).foreach { snap =>
              states :+= (snap.snapshotId, state)
            }
          case 4 => // expire old manifests; table state unchanged — a
            // coin picks the direct API or the sticky-policy spelling
            // (SET retention prop, then CALL graft.enforce_retention)
            val keepLast = 1 + rnd.nextInt(3)
            if (rnd.nextBoolean()) cat.expireSnapshots(t, keepLast)
            else {
              es.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
                s"('graft.retention.snapshots' = '$keepLast')")
              es.sql(s"CALL graft.enforce_retention('$t')").collect()
            }
            val surviving = cat.snapshots(t).map(_.snapshotId).toSet
            states = states.filter { case (id, _) => surviving.contains(id) }
          case 5 => // schema evolution: append a batch carrying a NEW
            // column — later feeds spanning this boundary must render
            // earlier parts null-filled in the end schema, and a later
            // narrow-looking commit must not regress the table schema
            evolved = true
            val b = batch(5 + rnd.nextInt(10))
            state = plus(state, ms(b))
            states :+= (Writers.writeSnapshot(cat, t, df(b), dataDir).snapshotId, state)
          case 6 => // merge-on-read delete of an id range: same model
            // effect as the COW delete, zero data-file churn
            val lo = rnd.nextInt(90).toLong
            val hi = lo + rnd.nextInt(20).toLong
            val before = cat.currentSnapshot(t).map(_.snapshotId)
            val snap = Writers.deleteWhereMoR(spark, cat, t,
              col("id").between(lo, hi),
              Seq(RangeNum("id", lo.toDouble, hi.toDouble)), dataDir)
            if (before.contains(snap.snapshotId)) () // matched nothing: no commit
            else {
              state = state.filter { case ((id, _), _) => id < lo || id > hi }
              states :+= (snap.snapshotId, state)
            }
          case 7 => // materialize outstanding MoR deletes: visible-row
            // preserving, maybe a no-op — a coin picks the Scala API or
            // its SQL spelling (r14), which must be the SAME code path
            if (rnd.nextBoolean())
              Writers.materializeDeletes(spark, cat, t, dataDir).foreach { snap =>
                states :+= (snap.snapshotId, state)
              }
            else {
              val r = es.sql("CALL graft.materialize_deletes('t')").head()
              if (r.getBoolean(0)) states :+= (r.getLong(1), state)
            }
          case 8 => // rollback to a random surviving snapshot: state
            // becomes that snapshot's model state, history moves forward.
            // `states` can be EMPTY here: a changing SET TBLPROPERTIES
            // burns a props-only snapshot the model never records, and an
            // aggressive expire (keep 1) can then evict every RECORDED id
            // — with no recorded survivor there is nothing to roll back to
            if (states.nonEmpty) {
              val (targetId, targetState) = states(rnd.nextInt(states.size))
              val snap = cat.rollbackTo(spark, t, targetId)
              state = targetState
              states :+= (snap.snapshotId, state)
            }
          case 9 => // zero-scan equality delete of random ids: masks only
            // rows existing NOW (a later append of the same id re-adds)
            val ids = Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(100).toLong).distinct
            val before = cat.currentSnapshot(t).map(_.snapshotId)
            val snap = Writers.deleteByKeys(spark, cat, t,
              ids.toDF("id"), Seq("id"), dataDir)
            if (!before.contains(snap.snapshotId)) {
              state = state.filter { case ((id, _), _) => !ids.contains(id) }
              states :+= (snap.snapshotId, state)
            }
          case 10 => // RACE: append vs {append | MoR delete | merge |
            // compact} — always reconcilable per S49 (appends merge in;
            // a mask/rewrite scopes to its basis files). Both commits
            // must land and the interleaved feed stay exact.
            val preRace = state
            val b1 = batch(5 + rnd.nextInt(10))
            val appendOp: () => Option[(Long, MS => MS)] = () =>
              Some((Writers.writeSnapshot(cat, t, df(b1), dataDir).snapshotId,
                (s: MS) => plus(s, ms(b1))))
            val partner: () => Option[(Long, MS => MS)] = rnd.nextInt(4) match {
              case 0 =>
                val b2 = batch(5 + rnd.nextInt(10))
                () => Some((Writers.writeSnapshot(cat, t, df(b2), dataDir).snapshotId,
                  (s: MS) => plus(s, ms(b2))))
              case 1 if preRace.nonEmpty =>
                // guaranteed-match range so the MoR delete always commits
                val lo = preRace.keySet.toSeq(rnd.nextInt(preRace.size))._1
                val hi = lo + rnd.nextInt(10).toLong
                val masked = inRange(preRace, lo, hi)
                () => Some((Writers.deleteWhereMoR(spark, cat, t,
                  col("id").between(lo, hi),
                  Seq(RangeNum("id", lo.toDouble, hi.toDouble)), dataDir).snapshotId,
                  (s: MS) => minus(s, masked)))
              case 2 =>
                val keys = rnd.shuffle((0 until 100).toList).take(1 + rnd.nextInt(6))
                val src = keys.map(k => (k.toLong, rnd.nextInt(1000).toLong))
                val matched = preRace.filter { case ((id, _), _) => keys.contains(id.toInt) }
                () => Some((Writers.mergeInto(spark, cat, t, df(src), Seq("id"), dataDir)
                  .snapshotId,
                  (s: MS) => plus(minus(s, matched), ms(src))))
              case _ =>
                () => Writers.compact(spark, cat, t, dataDir)
                  .map(sn => (sn.snapshotId, (s: MS) => s))
            }
            race(Seq(appendOp, partner))
          case 11 => // RACE: two rewrites (COW delete vs merge) whose
            // file sets may overlap — the loser must CONFLICT (surface,
            // not clobber); when both land their row effects were
            // provably disjoint and the feed stays exact either way.
            val preRace = state
            val lo = rnd.nextInt(90).toLong
            val hi = lo + rnd.nextInt(20).toLong
            val removed = inRange(preRace, lo, hi)
            val delOp: () => Option[(Long, MS => MS)] = () =>
              Some((Writers.deleteWhere(spark, cat, t,
                d => d.filter(!col("id").between(lo, hi)),
                Seq(RangeNum("id", lo.toDouble, hi.toDouble)), dataDir).snapshotId,
                (s: MS) => minus(s, removed)))
            val keys = rnd.shuffle((0 until 100).toList).take(1 + rnd.nextInt(6))
            val src = keys.map(k => (k.toLong, rnd.nextInt(1000).toLong))
            val matched = preRace.filter { case ((id, _), _) => keys.contains(id.toInt) }
            val mergeOp: () => Option[(Long, MS => MS)] = () =>
              Some((Writers.mergeInto(spark, cat, t, df(src), Seq("id"), dataDir).snapshotId,
                (s: MS) => plus(minus(s, matched), ms(src))))
            race(Seq(delOp, mergeOp))
          case 12 => // SQL INSERT INTO: the DML rule's append path must
            // compose with every API op under the same feed gate
            val b = batch(3 + rnd.nextInt(8))
            es.sql(s"INSERT INTO t VALUES ${b.map((sqlTuple _).tupled).mkString(", ")}")
            state = plus(state, ms(b))
            states :+= (cat.currentSnapshot(t).get.snapshotId, state)
          case 13 => // SQL DELETE FROM ... WHERE: MoR mask through the
            // extensions (prune translation + position delete commit)
            val lo = rnd.nextInt(90).toLong
            val hi = lo + rnd.nextInt(20).toLong
            val before = cat.currentSnapshot(t).map(_.snapshotId)
            es.sql(s"DELETE FROM t WHERE id BETWEEN $lo AND $hi")
            val after = cat.currentSnapshot(t).get.snapshotId
            if (!before.contains(after)) {
              state = state.filter { case ((id, _), _) => id < lo || id > hi }
              states :+= (after, state)
            }
          case 14 => // SQL clause-MERGE (CDC apply): matched-delete,
            // matched-update, gated insert — first clause wins; the
            // model applies the same algebra
            val keys = rnd.shuffle((0 until 100).toList).take(1 + rnd.nextInt(6))
            val src = keys.map(k =>
              (k.toLong, rnd.nextInt(1000).toLong, if (rnd.nextBoolean()) "D" else "U"))
            val cols = if (evolved) "(id, v, w, op)" else "(id, v, op)"
            val vals = src.map { case (id, v, op) =>
              if (evolved) s"($id, $v, ${id * 2}, '$op')" else s"($id, $v, '$op')"
            }.mkString(", ")
            es.sql(
              s"""MERGE INTO t USING (SELECT * FROM VALUES $vals AS v$cols) s
                 |ON t.id = s.id
                 |WHEN MATCHED AND s.op = 'D' THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
            val matchedKeys = state.keySet.map(_._1).toSet
            var next = state
            src.foreach { case (id, v, op) =>
              if (matchedKeys.contains(id)) {
                next = next.filter { case ((i, _), _) => i != id }
                if (op == "U") next = plus(next, ms(Seq((id, v))))
              } else if (op != "D") next = plus(next, ms(Seq((id, v))))
            }
            state = next
            states :+= (cat.currentSnapshot(t).get.snapshotId, state)
          case 15 => // SQL UPDATE: the COW self-merge through the
            // extensions — SET reads the OLD row; the model shifts v
            // on the matched range (no-match updates commit nothing)
            val lo = rnd.nextInt(90).toLong
            val hi = lo + rnd.nextInt(20).toLong
            val before = cat.currentSnapshot(t).map(_.snapshotId)
            es.sql(s"UPDATE t SET v = v + 1000 WHERE id BETWEEN $lo AND $hi")
            val after = cat.currentSnapshot(t).get.snapshotId
            if (!before.contains(after)) {
              val matched = inRange(state, lo, hi)
              val shifted = ms(matched.toSeq.flatMap { case ((id, v), n) =>
                Seq.fill(n)((id, v + 1000L)) })
              state = plus(minus(state, matched), shifted)
              states :+= (after, state)
            }
          case 16 => // SQL CALL compact: row-preserving through the
            // procedure surface; the returned summary says whether a
            // commit happened (same model as case 3)
            val res = es.sql("CALL graft.compact('t')").head()
            if (res.getBoolean(0)) states :+= (res.getLong(1), state)
          case 17 => // SQL CALL expire_snapshots: history trim through
            // the procedure surface (same model as case 4)
            es.sql(s"CALL graft.expire_snapshots('t', retain_last => ${1 + rnd.nextInt(3)})")
            val surviving = cat.snapshots(t).map(_.snapshotId).toSet
            states = states.filter { case (id, _) => surviving.contains(id) }
          case 18 => // SQL CALL rollback: state becomes the target
            // snapshot's model state (same model as case 8, incl. the
            // recorded-survivor guard)
            if (states.nonEmpty) {
              val (targetId, targetState) = states(rnd.nextInt(states.size))
              val newId = es.sql(s"CALL graft.rollback('t', $targetId)").head().getLong(0)
              state = targetState
              states :+= (newId, state)
            }
          case 19 => // SQL MERGE ... NOT MATCHED BY SOURCE (full-sync
            // apply): matched rows take the source version; unmatched
            // TARGET rows in the swept range get deleted; the model
            // mirrors both effects relative to the pre-merge state
            val keys = rnd.shuffle((0 until 100).toList).take(1 + rnd.nextInt(6))
            val src = keys.map(k => (k.toLong, rnd.nextInt(1000).toLong))
            val lo = rnd.nextInt(90).toLong
            val hi = lo + rnd.nextInt(20).toLong
            val cols = if (evolved) "(id, v, w)" else "(id, v)"
            val vals = src.map { case (id, v) =>
              if (evolved) s"($id, $v, ${id * 2})" else s"($id, $v)" }.mkString(", ")
            es.sql(
              s"""MERGE INTO t USING (SELECT * FROM VALUES $vals AS v$cols) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED BY SOURCE AND t.id BETWEEN $lo AND $hi THEN DELETE""".stripMargin)
            val srcKeys = src.map(_._1).toSet
            val matchedIds = state.keySet.map(_._1).intersect(srcKeys)
            val matched = state.filter { case ((id, _), _) => srcKeys.contains(id) }
            val swept = state.filter { case ((id, _), _) =>
              !srcKeys.contains(id) && id >= lo && id <= hi }
            val replaced = ms(src.filter { case (id, _) => matchedIds.contains(id) })
            state = plus(minus(minus(state, matched), swept), replaced)
            states :+= (cat.currentSnapshot(t).get.snapshotId, state)
          case 20 => // SQL CALL rewrite_sorted: full re-cluster under the
            // compact protocol — rows preserved, feed silent (model
            // state unchanged, new snapshot recorded)
            val sid = es.sql("CALL graft.rewrite_sorted('t', 'id', files => 2)")
              .head().getLong(0)
            states :+= (sid, state)
          case 21 => // SQL MERGE explicit SET over the matched PAIR:
            // every target row of a matched key shifts by the source's
            // delta (per-row, unlike star's per-key collapse) — the
            // model applies the same per-row algebra
            val keys = rnd.shuffle((0 until 100).toList).take(1 + rnd.nextInt(6))
            val src = keys.map(k => (k.toLong, 1 + rnd.nextInt(500).toLong))
            val vals = src.map { case (id, d) => s"($id, $d)" }.mkString(", ")
            es.sql(
              s"""MERGE INTO t USING (SELECT * FROM VALUES $vals AS v(id, delta)) s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta""".stripMargin)
            val deltas = src.toMap
            val matched = state.filter { case ((id, _), _) => deltas.contains(id) }
            val shifted = ms(matched.toSeq.flatMap { case ((id, v), n) =>
              Seq.fill(n)((id, v + deltas(id))) })
            state = plus(minus(state, matched), shifted)
            states :+= (cat.currentSnapshot(t).get.snapshotId, state)
          case 22 => // SQL CALL index / drop_index: metadata-only index
            // enable+backfill (and sometimes the inverse) — file set
            // unchanged, rows unchanged, feed silent
            val sid =
              if (rnd.nextBoolean())
                es.sql("CALL graft.index('t', 'id', type => 'both')").head().getLong(0)
              else
                es.sql("CALL graft.drop_index('t', 'id')").head().getLong(0)
            states :+= (sid, state)
          case 23 => // SQL CALL rewrite_sorted scoped by `where`: only
            // the manifest-matching files re-cluster (the partition-at-
            // a-time maintenance shape); the intent reconcile must keep
            // every out-of-scope file — rows preserved, feed silent
            val cut = 10 + rnd.nextInt(80)
            val sid = es.sql("CALL graft.rewrite_sorted('t', 'id', files => 2, " +
                s"where => 'id <= $cut')")
              .head().getLong(0)
            states :+= (sid, state)
          case 24 if !evolved => // S61 write-default: move v's default to
            // a fresh constant (metadata-only — feed must stay silent),
            // then append a frame OMITTING v: the committed file LACKS
            // the column (write-default stamp, zero data bytes), and
            // every later reader — state compares, feeds, compactions,
            // merges and deletes racing over those files — must serve
            // the constant the stamp recorded, not a later default
            val d = rnd.nextInt(1000).toLong
            es.sql(s"ALTER TABLE t ALTER COLUMN v SET DEFAULT ${d}L")
            states :+= (cat.currentSnapshot(t).get.snapshotId, state)
            val ids = (0 until 1 + rnd.nextInt(4))
              .map(_ => rnd.nextInt(100).toLong).distinct
            val omitted = spark.createDataFrame(
              ids.map(org.apache.spark.sql.Row(_)).asJava,
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("id",
                  org.apache.spark.sql.types.LongType)))).coalesce(1)
            val sid = Writers.writeSnapshot(cat, t, omitted, dataDir).snapshotId
            state = plus(state, ms(ids.map(i => (i, d))))
            states :+= (sid, state)
          case 24 => // evolved rows carry the derived third column a
            // constant default can't model — keep the op a plain append
            val b = batch(3 + rnd.nextInt(8))
            state = plus(state, ms(b))
            states :+= (Writers.writeSnapshot(cat, t, df(b), dataDir).snapshotId, state)
          case 25 => // SQL CALL compact scoped by `where` (r12): only the
            // manifest-matching small files bin-pack; every out-of-scope
            // file must survive with its identity — rows preserved, feed
            // silent, a no-op result allowed (too few files in scope)
            val cut = 10 + rnd.nextInt(80)
            val res = es.sql(s"CALL graft.compact('t', where => 'id <= $cut')").head()
            if (res.getBoolean(0))
              states :+= (res.getLong(1), state)
          case 26 => // SQL WAP verbs (r13): stage is INVISIBLE (no
            // commit, no model change); a coin then gate-publishes
            // (clean rule → the batch lands as one append commit) or
            // discards (nothing ever lands) — either way every
            // interleaved feed and time-travel read must stay exact
            val b = batch(3 + rnd.nextInt(8))
            val vals = b.map((sqlTuple _).tupled).mkString(", ")
            val before = cat.currentSnapshot(t).get.snapshotId
            val sid = es.sql(
              s"CALL graft.stage('t', 'SELECT * FROM VALUES $vals')")
              .head().getString(0)
            assert(cat.currentSnapshot(t).get.snapshotId == before,
              s"seq=$seq stage must not commit")
            if (rnd.nextBoolean()) {
              val pub = es.sql(
                s"CALL graft.publish_if_clean('t', '$sid', 'id IS NOT NULL')")
                .collect()
              assert(pub.forall(_.getBoolean(2)), s"seq=$seq clean stage must publish")
              state = plus(state, ms(b))
              states :+= (cat.currentSnapshot(t).get.snapshotId, state)
            } else
              es.sql(s"CALL graft.discard_staged('t', '$sid')")
          case 27 => // SQL CALL expire_rows (r13): the compliance TTL
            // sweep as a MoR mask — v doubles as an epoch-seconds
            // column; rows with v strictly before the cutoff expire.
            // Same no-match-no-commit contract as the other MoR ops.
            val cutoffSec = rnd.nextInt(1000).toLong
            val before = cat.currentSnapshot(t).map(_.snapshotId)
            val sid = es.sql(
              s"CALL graft.expire_rows('t', 'v', cutoff_ms => ${cutoffSec * 1000})")
              .head().getLong(0)
            if (!before.contains(sid)) {
              state = state.filter { case ((_, v), _) => v >= cutoffSec }
              states :+= (sid, state)
            }
          case 28 => // SQL CALL delete_by_keys (r14): the zero-scan GDPR
            // path through SQL — same model effect as the Scala-API
            // equality delete (case 9): masks only rows existing NOW
            val ids = Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(100).toLong).distinct
            val before = cat.currentSnapshot(t).map(_.snapshotId)
            val sid = es.sql(s"CALL graft.delete_by_keys('t', 'id', " +
                s"'${ids.mkString(",")}')").head().getLong(0)
            if (!before.contains(sid)) {
              state = state.filter { case ((id, _), _) => !ids.contains(id) }
              states :+= (sid, state)
            }
          case 29 => // SQL MV maintenance (r14): build once, then
            // CDC-fold refreshes — after every op the view must equal a
            // from-scratch GROUP BY of the source's CURRENT state
            // (incl. across expired watermarks, which force a rebuild);
            // t's own history, feeds and model are untouched (the view
            // is a separate table)
            val at =
              if (!cat.tables().contains("t_mv"))
                es.sql("CALL graft.create_mv('t_mv', 't', 'id', 'v')")
                  .head().getLong(1)
              else es.sql("CALL graft.refresh_mv('t_mv')").head().getLong(1)
            assert(at == cat.currentSnapshot(t).get.snapshotId,
              s"seq=$seq MV watermark must equal the source head")
            val got = cat.read(spark, "t_mv")
              .select(col("id"), col("n_rows"),
                col("sum_v").cast("long").as("sv"))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
            val want = cat.read(spark, t)
              .groupBy(col("id"))
              .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
            assert(got == want, s"seq=$seq MV != from-scratch aggregate")
            // the GENERALIZED MV (r15) races the same op pool: MIN/MAX
            // fold additively under inserts and recompute key-scoped
            // under extremum deletes, AVG renders from (sum, cnt), the
            // HLL sketch invalidates on any delete — after EVERY op the
            // rendered view equals a from-scratch aggregate (exact nd:
            // per-key cardinality here stays in sparse-sketch range)
            val atx =
              if (!cat.tables().contains("t_mvx"))
                es.sql("CALL graft.create_mv('t_mvx', 't', 'id', 'v', " +
                  "avg_columns => 'v', min_columns => 'v', " +
                  "max_columns => 'v', nd_columns => 'v')").head().getLong(1)
              else es.sql("CALL graft.refresh_mv('t_mvx')").head().getLong(1)
            assert(atx == cat.currentSnapshot(t).get.snapshotId,
              s"seq=$seq generalized MV watermark must equal the source head")
            val gotx = graft.sinks.MaterializedAgg.readRendered(spark, cat, "t_mvx")
              .select(col("id"), col("n_rows"), col("sum_v").cast("long").as("sv"),
                col("avg_v"), col("min_v"), col("max_v"), col("approx_nd_v"))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
            val wantx = cat.read(spark, t).groupBy(col("id"))
              .agg(count(lit(1)).as("n"),
                sum(col("v").cast("decimal(28,6)")).as("s"),
                count(col("v")).as("c"), min(col("v")).as("mn"),
                max(col("v")).as("mx"), countDistinct(col("v")).as("nd"))
              .select(col("id"), col("n"), col("s").cast("long"),
                (col("s").cast("double") / col("c")).as("avg"),
                col("mn"), col("mx"), col("nd"))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
            assert(gotx == wantx, s"seq=$seq generalized MV != from-scratch")
            // occasionally re-lay a view as TWO key-clustered files so
            // later refreshes in this interleaving race through the
            // DELTA-MERGE commit path (r16) — the rewrite/merge split
            // must be invisible to every consumer above it
            if (rnd.nextInt(8) == 0) {
              def listPq(d: java.nio.file.Path): Seq[String] = {
                val s = Files.walk(d)
                try s.iterator().asScala.map(_.toString)
                  .filter(p => p.endsWith(".parquet") || p.contains("part-")).toList
                  .filter(_.endsWith(".parquet"))
                finally s.close()
              }
              Seq("t_mv", "t_mvx").foreach { v =>
                val vsnap = cat.currentSnapshot(v).get
                if (vsnap.files.size == 1 && cat.read(spark, v).count() > 1) {
                  val stDf = cat.read(spark, v)
                  val dir = tempDir(s"graft-cdcp-mvsplit-$seq-")
                  stDf.filter(col("id") < 50).coalesce(1)
                    .write.parquet(dir.resolve("a").toString)
                  stDf.filter(col("id") >= 50).coalesce(1)
                    .write.parquet(dir.resolve("b").toString)
                  cat.commit(spark, v,
                    listPq(dir.resolve("a")) ++ listPq(dir.resolve("b")),
                    props = vsnap.props +
                      (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
                    intent = CommitIntent(Some(vsnap.snapshotId),
                      removedPaths = vsnap.files.map(_.path)))
                }
              }
            }
          case 30 => // SQL CALL ingest (r14): a landing-zone CSV batch
            // appends through the COPY INTO path; an immediate re-run
            // must skip it (fingerprints rode the commit). Same model
            // effect as any append.
            val b = batch(3 + rnd.nextInt(6))
            val landing = tempDir(s"graft-cdcp-land-$seq-")
            val lines = b.map { case (id, v) =>
              if (evolved) s"$id,$v,${id * 2}" else s"$id,$v"
            }
            Files.write(landing.resolve("drop.csv"),
              lines.mkString("", "\n", "\n").getBytes("UTF-8"))
            val r = es.sql(
              s"CALL graft.ingest('t', '$landing', format => 'csv')").head()
            assert(r.getLong(0) == 1 && !r.isNullAt(3))
            state = plus(state, ms(b))
            states :+= (r.getLong(3), state)
            val rerun = es.sql(
              s"CALL graft.ingest('t', '$landing', format => 'csv')").head()
            assert(rerun.getLong(0) == 0 && rerun.isNullAt(3),
              s"seq=$seq ingest re-run must load nothing")
        }
      }

      // 1. every surviving snapshot time-travels to its model state
      val reads = collectEach(states.map { case (id, _) =>
        cat.read(spark, t, snapshotId = Some(id)) })
      for (((id, expected), rows) <- states.zip(reads)) {
        val got = ms(rows.map(r => (r.getLong(1), r.getLong(2))))
        assert(got == expected, s"seq=$seq snapshot $id read != model state")
      }

      // 2 + 3. every surviving pair
      val pairs = for (i <- states.indices; j <- (i + 1) until states.size)
        yield (states(i), states(j))
      val feeds = collectEach(pairs.map { case ((aId, _), (bId, _)) =>
        cat.changesBetween(spark, t, aId, Some(bId)) }, "_change_type")
      val incs = collectEach(pairs.map { case ((aId, _), (bId, _)) =>
        cat.readIncremental(spark, t, aId, Some(bId)) })
      for ((((aId, aState), (bId, bState)), feed, incRows) <- pairs.lazyZip(feeds).lazyZip(incs)) {
        val ins = ms(feed.filter(_.getString(3) == "insert").map(r => (r.getLong(1), r.getLong(2))))
        val del = ms(feed.filter(_.getString(3) == "delete").map(r => (r.getLong(1), r.getLong(2))))
        val applied = plus(minus(aState, del), ins)
        assert(applied == bState,
          s"seq=$seq changesBetween($aId,$bId) applied to a != b: " +
            s"extra=${minus(applied, bState)} missing=${minus(bState, applied)}")
        // deletes must have been present at a, inserts must exist at b
        assert(subsetOf(del, aState), s"seq=$seq changesBetween($aId,$bId) deletes rows absent at a")
        assert(subsetOf(ins, bState), s"seq=$seq changesBetween($aId,$bId) inserts rows absent at b")

        val inc = ms(incRows.map(r => (r.getLong(1), r.getLong(2))))
        assert(subsetOf(inc, bState),
          s"seq=$seq readIncremental($aId,$bId) resurrects rows: ${minus(inc, bState)}")
      }
    }
  }
}
