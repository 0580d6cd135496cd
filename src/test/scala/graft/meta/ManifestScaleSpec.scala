package graft.meta

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The streaming-scale contract of the manifest layer: a table with
  * N snapshots (one commit per micro-batch is the design point) must
  * resolve current-snapshot reads with O(1) manifest parses, and
  * bloom-enabled commits must write manifests whose size tracks the
  * data actually committed — not a flat 1M-item bloom per column.
  */
class ManifestScaleSpec extends SparkSpec {

  private def oneFile(): String = {
    val data = tempDir("graft-mscale-").toString
    Tables.nation(spark, sfDir).coalesce(1).write.parquet(s"$data/f")
    new java.io.File(s"$data/f").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
  }

  test("read-side manifest parses stay O(1) at 1000 snapshots") {
    val root = tempDir("graft-mcat-").toString
    val writer = new SnapshotCatalog(root)
    writer.commit(spark, "t", Seq(oneFile()))
    // 999 metadata-only commits: the streaming-ingest shape (one commit
    // per micro-batch), no Spark jobs involved
    (1 until 1000).foreach { _ =>
      writer.commit(spark, "t", Nil)
    }
    assert(writer.currentSnapshot("t").get.snapshotId == 1000L)

    // a FRESH catalog (cold memo cache) resolving the current snapshot
    // must not re-parse the whole log
    val reader = new SnapshotCatalog(root)
    val files = reader.planFiles("t")
    assert(files.nonEmpty)
    val parsesAfterPlan = reader.manifestParses.get()
    assert(parsesAfterPlan <= 3,
      s"planFiles parsed $parsesAfterPlan manifests for a 1000-snapshot table; must be O(1)")

    // repeated reads and snapshot-by-id hits are memoized
    reader.read(spark, "t").count()
    reader.planFiles("t")
    reader.snapshotById("t", 1000L)
    assert(reader.manifestParses.get() <= parsesAfterPlan + 1,
      "repeat current-snapshot reads must hit the manifest memo cache")

    // history/listing still sees everything (and parses each once)
    assert(reader.snapshots("t").size == 1000)
    val afterList = reader.manifestParses.get()
    reader.snapshots("t")
    assert(reader.manifestParses.get() == afterList, "second listing must be fully memoized")
  }

  test("as-of resolution is O(log n) parses on a cold cache; holes fall back correctly") {
    val root = tempDir("graft-masof-").toString
    var tick = 1000L
    val writer = new SnapshotCatalog(root, clock = () => { tick += 1000; tick })
    writer.commit(spark, "t", Seq(oneFile()))
    (1 until 500).foreach { _ =>
      writer.commit(spark, "t", Nil)
    }
    // snapshot k has timestamp 1000*(k+1); pick the as-of point between
    // snapshots 250 and 251
    val reader = new SnapshotCatalog(root)
    val hit = reader.snapshotAsOf("t", 251_500L)
    assert(hit.map(_.snapshotId).contains(250L))
    val parses = reader.manifestParses.get()
    assert(parses <= 14, s"as-of on 500 snapshots parsed $parses manifests; must be O(log n)")

    // carve a hole: tag snapshot 3, expire to the last 50 — as-of points
    // inside the expired era resolve to the tag-preserved snapshot
    writer.tag("t", "old", 3L)
    writer.expireSnapshots("t", keepLast = 50)
    val reader2 = new SnapshotCatalog(root)
    assert(reader2.snapshotAsOf("t", 100_000L).map(_.snapshotId).contains(3L))
    // and points in the dense tail still bisect
    assert(reader2.snapshotAsOf("t", 480_500L).map(_.snapshotId).contains(479L))
  }

  test("commit latency and read parses stay flat from 1k to 10k snapshots") {
    // the T5 streaming design point (one commit per micro-batch) reaches
    // 10k+ snapshots in days; the whole metadata path must stay O(1)
    // per operation — no hidden directory listing or log replay.
    val root = tempDir("graft-m10k-").toString
    val writer = new SnapshotCatalog(root)
    writer.commit(spark, "t", Seq(oneFile()))
    def commits(n: Int): Unit = (0 until n).foreach { _ =>
      writer.commit(spark, "t", Nil)
    }
    def perCommitMs(n: Int): Double = {
      val t0 = System.nanoTime()
      commits(n)
      (System.nanoTime() - t0) / 1e6 / n
    }
    commits(799) // id 800
    val at1k = perCommitMs(200) // ids 801..1000
    commits(8800) // id 9800
    val at10k = perCommitMs(200) // ids 9801..10000
    assert(writer.currentSnapshot("t").get.snapshotId == 10000L)
    info(f"per-commit latency: $at1k%.2f ms @1k, $at10k%.2f ms @10k")

    // cold readers at 10k parse the same O(1) manifests as at 1k
    val reader = new SnapshotCatalog(root)
    assert(reader.planFiles("t").nonEmpty)
    assert(reader.manifestParses.get() <= 3,
      s"planFiles parsed ${reader.manifestParses.get()} manifests at 10k snapshots")
    val late = new SnapshotCatalog(root)
    late.commit(spark, "t", Nil)
    assert(late.manifestParses.get() <= 3,
      s"commit at 10k snapshots parsed ${late.manifestParses.get()} manifests")

    // latency flat: generous 8x band + 3 ms absolute floor absorbs fs
    // jitter while still catching any O(n)-per-commit regression (an
    // O(n) publish would be ~10x slower at 10k than 1k by construction)
    assert(at10k <= at1k * 8 + 3.0,
      f"per-commit latency grew $at1k%.2f ms @1k -> $at10k%.2f ms @10k; publish must be O(1)")
  }

  test("commit cost does not scale with snapshot count (pointer, not list+parse)") {
    val root = tempDir("graft-mcat2-").toString
    val writer = new SnapshotCatalog(root)
    writer.commit(spark, "t", Seq(oneFile()))
    (1 until 500).foreach { _ =>
      writer.commit(spark, "t", Nil)
    }
    // a fresh committer against the 500-snapshot table: its publish path
    // (currentSnapshot probe) must also be O(1) parses
    val late = new SnapshotCatalog(root)
    late.commit(spark, "t", Nil)
    assert(late.manifestParses.get() <= 3,
      s"one metadata commit parsed ${late.manifestParses.get()} manifests; publish must be O(1)")
  }

  test("readers racing a committer always see a complete, monotonically advancing snapshot") {
    val root = tempDir("graft-race-").toString
    val writer = new SnapshotCatalog(root)
    writer.commit(spark, "t", Seq(oneFile()))
    val reader = new SnapshotCatalog(root)
    @volatile var failure: Option[Throwable] = None
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val readerThreads = (1 to 3).map { _ =>
      new Thread(() => {
        try {
          while (!done) {
            // every read resolves a fully-parsed manifest: a torn write or
            // dangling pointer would throw here
            val snap = reader.currentSnapshot("t").get
            assert(snap.files.nonEmpty)
            seen.add(snap.snapshotId)
            reader.planFiles("t")
            ()
          }
        } catch { case t: Throwable => failure = Some(t) }
      })
    }
    readerThreads.foreach(_.start())
    (1 until 60).foreach { _ =>
      writer.commit(spark, "t", Nil)
    }
    done = true
    readerThreads.foreach(_.join(10000))
    failure.foreach(t => fail(s"reader failed during commits: $t"))
    // snapshot ids observed by each reader never move backwards globally
    // beyond the probe window: final state is the last commit
    assert(reader.currentSnapshot("t").get.snapshotId == 60L)
    assert(!seen.isEmpty)
  }

  test("bloom-enabled manifest bytes are proportional to committed rows (sidecars, not inline)") {
    val root = tempDir("graft-mcat3-").toString
    val cat = new SnapshotCatalog(root)
    val snap = cat.commit(spark, "nation", Seq(oneFile()), bloomColumns = Seq("n_name"))
    val f = snap.files.head
    assert(f.blooms.contains("n_name"))

    // manifest JSON itself is small: stats + a sidecar path, no blob
    val manifest = Paths.get(root, "nation").resolve(f"snap-${snap.snapshotId}%06d.json")
    val manifestBytes = Files.size(manifest)
    assert(manifestBytes < 20 * 1024,
      s"manifest is $manifestBytes bytes; blooms must live in sidecars")

    // the sidecar is sized from the file's actual rows (nation = tiny),
    // not a flat 1M-item default (~900 KB)
    val sidecar = Paths.get(f.blooms("n_name"))
    assert(Files.exists(sidecar))
    val sidecarBytes = Files.size(sidecar)
    assert(sidecarBytes < 8 * 1024,
      s"bloom sidecar is $sidecarBytes bytes for a ${f.rowCount}-row file; must be row-sized")

    // and it still answers membership: present value yes, absent value
    // prunes (fpp on one small file is negligible)
    val planned = cat.planFiles("nation", Seq(EqString("n_name", "NATION_0")))
    assert(planned.nonEmpty)
    assert(cat.planFiles("nation", Seq(EqString("n_name", "NO_SUCH_NATION_X"))).isEmpty)
  }
}
