package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** See [[SparkSpec.tempDir]]. */
  def tempDir(prefix: String): Path = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", nCpus = 4)

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, named `prefix` plus a
    * random suffix, deleted with everything under it when the test JVM
    * exits. Specs keep their files for the whole run (a later test may
    * share a lazily made root), so nothing is deleted earlier. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  sys.addShutdownHook {
    tempDirs.forEach(d => { graft.meta.SnapshotCatalog.deleteRecursively(d); () })
  }
}
