package graft

import java.io.File
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class FixturesSuite extends AnyFunSuite {

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs `body` on a fresh one-file dataset directory, then removes it and
    * every cache directory built for it. */
  private def withDataset(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft-fixtures-spec").toFile
    Files.write(new File(d, "t.parquet").toPath, d.getName.getBytes("UTF-8"))
    try body(d.getPath)
    finally {
      Option(Fixtures.cacheRoot.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(d.getName + "_")).foreach(deleteTree)
      deleteTree(d)
    }
  }

  private def touch(dir: String, name: String): Unit = {
    new File(dir).mkdirs()
    Files.write(new File(dir, name).toPath, Array[Byte](1))
  }

  test("a build that throws publishes nothing, and the next call rebuilds") {
    withDataset { d =>
      intercept[IllegalStateException] {
        Fixtures.once(d, "a") { p => touch(p, "half"); throw new IllegalStateException("boom") }
      }
      val key = Fixtures.key(d)
      assert(!new File(key, "a").exists())
      assert(key.list().toSeq === Seq(".a.lock"), "no temporary directory is left behind")
      var builds = 0
      val path = Fixtures.once(d, "a") { p => builds += 1; touch(p, "done") }
      assert(builds === 1)
      assert(new File(path).list().toSeq === Seq("done"))
      assert(Fixtures.once(d, "a")(_ => builds += 1) === path)
      assert(builds === 1)
    }
  }

  test("8 threads calling once on one key run the build once and all see it complete") {
    withDataset { d =>
      val builds = new AtomicInteger
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      try {
        val seen = (1 to 8).map(_ => pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            val p = Fixtures.once(d, "shared") { out =>
              builds.incrementAndGet()
              (1 to 3).foreach { i => Thread.sleep(50); touch(out, s"f$i") }
            }
            new File(p).list().toSeq.sorted
          }
        }))
        start.countDown()
        assert(seen.map(_.get(60, TimeUnit.SECONDS)).forall(_ == Seq("f1", "f2", "f3")))
        assert(builds.get === 1)
      } finally pool.shutdownNow()
    }
  }

  test("changing one dataset file's size or mtime yields a new key") {
    withDataset { d =>
      val f = new File(d, "t.parquet")
      val k0 = Fixtures.key(d)
      assert(Fixtures.key(d) === k0)
      assert(f.setLastModified(f.lastModified - 60000))
      val k1 = Fixtures.key(d)
      assert(k1 !== k0)
      val mtime = f.lastModified
      Files.write(f.toPath, Array[Byte](1), StandardOpenOption.APPEND)
      assert(f.setLastModified(mtime))
      val k2 = Fixtures.key(d)
      assert(k2 !== k1)
      assert(k2 !== k0)
    }
  }

  test("scratch resolves under a root private to this JVM, gone after a normal exit") {
    val mine = new File(Fixtures.scratch("spec")).getParentFile
    assert(mine.isDirectory)
    assert(mine.getName.startsWith("graft_scratch-"))
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val child = new ProcessBuilder(java, "-Xmx64m", "-cp",
        System.getProperty("java.class.path"), ScratchChild.getClass.getName.stripSuffix("$"))
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString.trim
    assert(child.waitFor() === 0, out)
    val theirs = new File(out).getParentFile
    assert(theirs.getName.startsWith("graft_scratch-"), out)
    assert(theirs !== mine)
    assert(!theirs.exists(), "the child's scratch root outlived it")
    assert(mine.isDirectory)
  }
}

/** Run in a child JVM by FixturesSuite: fills a scratch directory, prints
  * its path and exits normally. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val p = Fixtures.scratch("child")
    Files.write(Files.createDirectories(new File(p).toPath).resolve("f"), Array[Byte](1))
    println(p)
  }
}
