package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The scratch owner's contract, on private roots so the JVM-wide one
  * the other specs use is never touched: one build per (kind, key)
  * under concurrency, nested builds, retry after a failed build, fresh
  * directories under the root, and the shutdown cleanup. */
class ScratchSpec extends AnyFunSuite {

  private def fresh(): Scratch = new Scratch(Scratch.dir("scratchspec"))

  private def under(root: Path, p: String): Boolean =
    Paths.get(p).normalize.startsWith(root.normalize)

  test("one (kind, key) builds once, even with 8 concurrent callers") {
    val sc = fresh()
    val builds = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            sc.once("idx", "/data/a") { d => builds.incrementAndGet(); Thread.sleep(50); d }
          }
        })
      }
      start.countDown()
      val paths = calls.map(_.get())
      assert(builds.get == 1)
      assert(paths.distinct.size == 1)
      assert(sc.once[String]("idx", "/data/a")(_ => fail("memoized build ran again")) == paths.head)
    } finally pool.shutdown()
  }

  test("a build may call once for another key") {
    val sc = fresh()
    val outer = sc.once("day2", "k") { d =>
      val inner = sc.once("day1", "k") { d1 =>
        sc.once("base", "k")(identity) + "|" + d1
      }
      inner + "|" + d
    }
    val parts = outer.split('|')
    assert(parts.length == 3 && parts.distinct.length == 3)
    assert(sc.once("base", "k")(_ => "rebuilt") == parts(0))
    assert(sc.once("day1", "k")(_ => "rebuilt") == parts(0) + "|" + parts(1))
  }

  test("a throwing build is not memoized: the next call retries") {
    val sc = fresh()
    var failed: String = null
    val e = intercept[IllegalStateException] {
      sc.once("flaky", "k") { d => failed = d; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(!Files.exists(Paths.get(failed)), "a failed build's directory is removed")
    val ok = sc.once("flaky", "k") { d => d }
    assert(ok != failed && Files.isDirectory(Paths.get(ok)))
    assert(sc.once("flaky", "k")(_ => "again") == ok)
  }

  test("a build that needs its own key fails instead of recursing") {
    val sc = fresh()
    intercept[IllegalStateException] {
      sc.once("loop", "k")(_ => sc.once("loop", "k")(identity))
    }
  }

  test("different keys and every dir call get distinct fresh paths under the root") {
    val sc = fresh()
    val a = sc.once("idx", "/data/a")(identity)
    val b = sc.once("idx", "/data/b")(identity)
    val c = sc.once("other", "/data/a")(identity)
    val d1 = sc.dir("sink").toString
    val d2 = sc.dir("sink").toString
    val all = Seq(a, b, c, d1, d2)
    assert(all.distinct.size == all.size)
    all.foreach { p =>
      assert(under(sc.root, p), s"$p is not under ${sc.root}")
      assert(Files.isDirectory(Paths.get(p)))
    }
    assert(Files.list(Paths.get(d1)).count() == 0)
  }

  test("cleanup deletes the root and everything under it") {
    val sc = fresh()
    val d = sc.once("idx", "k") { d =>
      Files.createDirectories(Paths.get(d, "a", "b"))
      Files.writeString(Paths.get(d, "a", "b", "part.parquet"), "x")
      d
    }
    assert(Files.exists(Paths.get(d, "a", "b", "part.parquet")))
    sc.cleanup()
    assert(!Files.exists(sc.root))
  }
}
