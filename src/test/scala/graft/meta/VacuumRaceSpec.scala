package graft.meta

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.util.Random

import graft.SparkSpec
import graft.sinks.Writers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vacuum-vs-commit race property (SURVEY §2 S34's concurrent
  * contract): the grace window is the ONLY thing standing between the
  * orphan sweep and an in-flight commit's files (data files and index
  * sidecars land on disk BEFORE their manifest publishes). The
  * sequential specs prove what vacuum deletes; this gate proves what
  * it must NEVER delete while writers, stagers and branch writers race
  * it continuously:
  *
  *   1. every aged true orphan is collected (the sweep still works);
  *   2. no surviving snapshot (table or branch) references a missing
  *      data file, delete file, bloom or sketch sidecar;
  *   3. an in-audit WAP stage survives and publishes exactly;
  *   4. the final table state equals the writer's model multiset.
  */
class VacuumRaceSpec extends SparkSpec {

  private def ageFile(p: String, ms: Long): Unit =
    Files.setLastModifiedTime(Paths.get(p), FileTime.fromMillis(System.currentTimeMillis() - ms))

  test("continuous vacuum never deletes what a racing commit/stage/branch references") {
    import spark.implicits._
    val rnd = new Random(20260813L)
    val t = "t"

    for (round <- 0 until 5) {
      val root = tempDir(s"graft-vacrace-$round-").toString
      val dataDir = tempDir(s"graft-vacrace-data-$round-").toString
      val cat = new SnapshotCatalog(root)

      def df(rows: Seq[(Long, Long)]): DataFrame = rows.toDF("id", "v").coalesce(1)
      def batch(n: Int): Seq[(Long, Long)] =
        Seq.fill(n)((rnd.nextInt(100).toLong, rnd.nextInt(1000).toLong))

      // seed (bloom+sketch indexed so rewrites churn sidecars), then a
      // full rewrite + expire strands the seed's files and sidecars
      var model = Map.empty[(Long, Long), Int]
      def plus(rows: Seq[(Long, Long)]): Unit =
        rows.foreach(r => model = model.updated(r, model.getOrElse(r, 0) + 1))
      val seed = batch(30)
      plus(seed)
      Writers.writeSnapshot(cat, t, df(seed), dataDir,
        bloomColumns = Seq("v"), sketchColumns = Seq("v"))
      Writers.deleteWhere(spark, cat, t, d => d, // rewrite-all, keep rows
        Seq(RangeNum("id", 0.0, 1000.0)), dataDir)
      cat.expireSnapshots(t, keepLast = 1)

      // aged true orphans = on-disk parquet/sidecars no snapshot references
      import scala.jdk.CollectionConverters._
      def onDisk(dir: String, suffix: String): Set[String] = {
        if (!Files.isDirectory(Paths.get(dir))) return Set.empty
        val s = Files.walk(Paths.get(dir))
        try s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(suffix))
          .map(p => SnapshotCatalog.normalizePath(p.toAbsolutePath.toString)).toSet
        finally s.close()
      }
      def liveNow(): Set[String] = {
        val chains = cat.snapshots(t) ++
          cat.branches(t).flatMap(b => cat.snapshots(cat.branchRef(t, b)))
        (chains.flatMap(_.files).map(_.path) ++
          chains.flatMap(_.deleteFiles).map(_.path) ++
          chains.flatMap(_.files).flatMap(f => f.blooms.values ++ f.sketches.values) ++
          cat.listStaged(t).flatMap(cat.staged(t, _)).flatMap(_.paths))
          .map(SnapshotCatalog.normalizePath).toSet
      }
      val orphanData = onDisk(dataDir, ".parquet") -- liveNow()
      val orphanSidecars = (onDisk(s"$root/$t/blooms", ".bin") ++
        onDisk(s"$root/$t/sketches", ".bin")) -- liveNow()
      assert(orphanData.nonEmpty, "setup must strand data files")
      assert(orphanSidecars.nonEmpty, "setup must strand sidecars")
      (orphanData ++ orphanSidecars).foreach(ageFile(_, 2 * 3600 * 1000L))

      // race: writer ops vs a continuous vacuum loop. grace = 5 min —
      // far beyond any in-flight write-to-publish gap here, so only the
      // aged orphans are eligible.
      @volatile var writing = true
      @volatile var vacuumed = List.empty[String]
      @volatile var vacError = Option.empty[Throwable]
      val vac = new Thread(() => {
        try {
          while (writing) {
            vacuumed = vacuumed ++
              cat.vacuumDataFiles(t, dataDir, graceMs = 300 * 1000L) ++
              cat.vacuumSidecars(t, graceMs = 300 * 1000L)
          }
        } catch { case e: Throwable => vacError = Some(e) }
      })
      vac.start()
      try {
        for (_ <- 0 until 4) {
          rnd.nextInt(4) match {
            case 0 =>
              val b = batch(10); plus(b)
              Writers.writeSnapshot(cat, t, df(b), dataDir)
            case 1 => // COW rewrite of a range (keeps rows out of range)
              val lo = rnd.nextInt(90).toLong
              val hi = lo + rnd.nextInt(20).toLong
              Writers.deleteWhere(spark, cat, t,
                d => d.filter(!col("id").between(lo, hi)),
                Seq(RangeNum("id", lo.toDouble, hi.toDouble)), dataDir)
              model = model.filter { case ((id, _), _) => id < lo || id > hi }
            case 2 => // WAP: stage, dwell (vacuum loops meanwhile), publish
              val b = batch(10)
              val sid = Writers.stageAppendSnapshot(cat, t, df(b), dataDir)
              Thread.sleep(50)
              plus(b)
              cat.publishStaged(spark, t, sid)
            case 3 => // branch fork + branch-only append (shared data dir)
              val name = s"dev${rnd.nextInt(1000)}"
              if (!cat.branches(t).contains(name)) {
                cat.createBranch(t, name)
                Writers.writeSnapshot(cat, cat.branchRef(t, name), df(batch(5)), dataDir)
              }
          }
        }
      } finally {
        writing = false
        vac.join()
      }

      // 0. the vacuum loop survived every racing writer (a sweep that
      // dies when a writer's _temporary dir vanishes mid-walk is broken)
      assert(vacError.isEmpty, s"round=$round vacuum thread died: ${vacError.mkString}")
      // 1. the sweep collected every aged orphan
      val leftover = (orphanData ++ orphanSidecars).filter(p => Files.exists(Paths.get(p)))
      assert(leftover.isEmpty, s"round=$round aged orphans survived: ${leftover.take(3)}")
      // 2. nothing any surviving snapshot references is missing
      val missing = liveNow().filterNot(p => Files.exists(Paths.get(p)))
      assert(missing.isEmpty, s"round=$round vacuum deleted live files: ${missing.take(3)}")
      // 3+4. the table reads exactly the model (stage published, rows intact)
      val got = cat.read(spark, t).select(col("id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(identity).map { case (k, g) => k -> g.size }
      assert(got == model, s"round=$round final state != model")
    }
  }
}
