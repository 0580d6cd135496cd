package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** The fixture registry on its own: no Spark session, each test on a
  * fresh registry, the whole suite well under 5 s. */
class FixturesSpec extends AnyFunSuite {

  test("8 threads racing a first call build once and share the value") {
    val reg = new Fixtures
    val builds = new AtomicInteger
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val calls = (1 to 8).map { _ =>
        Future {
          go.await()
          reg("race", "k") { builds.incrementAndGet(); Thread.sleep(100); new Object }
        }
      }
      go.countDown()
      val got = Await.result(Future.sequence(calls), 3.seconds)
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  test("a builder may call the registry for another key (nested build)") {
    val reg = new Fixtures
    val got = reg.rooted("outer", "k") { outer =>
      val inner = reg.rooted("inner", "k")(root => root)
      (outer, inner, reg("leaf", 1)("leaf"))
    }
    assert(got._1 != got._2 && got._3 == "leaf")
    assert(Files.isDirectory(Paths.get(got._1)) && Files.isDirectory(Paths.get(got._2)))
    assert(reg.rooted[(String, String, String)]("outer", "k")(_ => fail("rebuilt")) == got)
    reg.close()
  }

  test("a build that throws leaves no root behind; the next call rebuilds") {
    val reg = new Fixtures
    var failedRoot: String = null
    val e = intercept[IllegalStateException] {
      reg.rooted("flaky", "k") { root =>
        failedRoot = root
        Files.createDirectories(Paths.get(root, "data", "part"))
        Files.writeString(Paths.get(root, "data", "part", "f.txt"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(failedRoot != null && !Files.exists(Paths.get(failedRoot)))
    val root = reg.rooted("flaky", "k")(identity)
    assert(root != failedRoot && Files.isDirectory(Paths.get(root)))
    assert(reg.rooted[String]("flaky", "k")(_ => fail("rebuilt")) == root)
    reg.close()
  }

  test("close, the shutdown hook's path, deletes every root it created") {
    val reg = new Fixtures
    val roots = Seq("a", "b", "c").map { name =>
      reg.rooted(name, "k") { root =>
        Files.createDirectories(Paths.get(root, "cat", "t"))
        Files.writeString(Paths.get(root, "cat", "t", "m.json"), "{}")
        root
      }
    }
    assert(roots.forall(r => Files.isDirectory(Paths.get(r))))
    reg.close()
    assert(roots.forall(r => !Files.exists(Paths.get(r))))
    // a closed registry forgets its entries: the next call builds anew
    val again = reg.rooted("a", "k")(identity)
    assert(!roots.contains(again) && Files.isDirectory(Paths.get(again)))
    reg.close()
    assert(!Files.exists(Paths.get(again)))
  }
}
