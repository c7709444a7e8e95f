package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

/** The session memo's contract: one build per (session, key, token),
  * release of the superseded value on a token change, and builds that
  * may call other memos. */
class MemoSpec extends SparkSpecBase {

  test("the same key and token build once") {
    val builds = new AtomicInteger()
    def get(): Int = Memo.value(spark, "memospec:once", Nil, "t") {
      builds.incrementAndGet()
    }
    assert(get() == 1 && get() == 1)
    assert(builds.get == 1)
  }

  test("concurrent callers of one key share one build") {
    val builds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 8).map(_ => new Callable[Int] {
        def call(): Int = Memo.value(spark, "memospec:concurrent", Nil) {
          Thread.sleep(50); builds.incrementAndGet()
        }
      })
      val got = pool.invokeAll(calls.asJava).asScala.map(_.get(30, TimeUnit.SECONDS))
      assert(got.toSet == Set(1))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("a changed token rebuilds and releases the superseded value") {
    val released = ListBuffer.empty[String]
    def get(token: String): String =
      Memo[String](spark, "memospec:release", Nil, token)(released += _)(s"v$token")
    assert(get("a") == "va" && get("a") == "va")
    assert(released.isEmpty)
    assert(get("b") == "vb")
    assert(released.toList == List("va"))
    assert(get("b") == "vb" && released.size == 1)
  }

  test("a source mtime change is a token change") {
    val f = java.nio.file.Files.createTempFile("memospec", ".bin").toFile
    f.deleteOnExit()
    val builds = new AtomicInteger()
    def get(): Int = Memo.value(spark, s"memospec:mtime:$f", Seq(f.toString)) {
      builds.incrementAndGet()
    }
    assert(get() == 1 && get() == 1)
    assert(f.setLastModified(f.lastModified() + 60000L))
    assert(get() == 2 && builds.get == 2)
  }

  test("an in-place overwrite of a directory table's part file is a token change") {
    val d = java.nio.file.Files.createTempDirectory("memospec_dir")
    val part = d.resolve("part-00000.parquet")
    java.nio.file.Files.write(part, Array.fill[Byte](16)(1))
    val builds = new AtomicInteger()
    def get(): Int = Memo.value(spark, s"memospec:dir:$d", Seq(d.toString)) {
      builds.incrementAndGet()
    }
    assert(get() == 1 && get() == 1)
    val dirMtime = java.nio.file.Files.getLastModifiedTime(d)
    // a truncating write into the existing file, as `cp` over it does
    java.nio.file.Files.write(part, Array.fill[Byte](32)(2))
    assert(part.toFile.setLastModified(part.toFile.lastModified() + 60000L))
    assert(java.nio.file.Files.getLastModifiedTime(d) == dirMtime,
      "the overwrite must leave the directory's own mtime where it was")
    assert(get() == 2 && builds.get == 2)
  }

  test("a build that calls another memo completes") {
    // many outer/inner key pairs, so some share a hash bin: a build
    // run inside ConcurrentHashMap.compute would fail there with
    // "Recursive update"
    val got = (1 to 64).map { i =>
      Memo.value(spark, s"memospec:outer:$i", Nil) {
        Memo.value(spark, s"memospec:inner:$i", Nil)(i) * 2
      }
    }
    assert(got == (1 to 64).map(_ * 2))
  }

  test("a failed build leaves no entry behind") {
    intercept[IllegalStateException] {
      Memo.value[Int](spark, "memospec:fail", Nil)(throw new IllegalStateException("boom"))
    }
    assert(Memo.value(spark, "memospec:fail", Nil)(7) == 7)
  }
}
