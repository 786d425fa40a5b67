package graft.plans

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The build-once contract of [[Scratch]]: nested builds, failed-build
  * cleanup and retry, the scratch root, one build per key under
  * concurrency, and family-keyed dirs. Every key carries a fresh token,
  * so the specs never meet each other's (or the engine's) entries in the
  * JVM-wide map. */
class ScratchSpec extends SparkSpec {

  private def fresh(family: String): String =
    s"$family|${java.util.UUID.randomUUID()}"

  test("a build that calls dir for other keys finishes") {
    val outer = fresh("spec-outer")
    // 32 nested keys: with the old computeIfAbsent spelling, any of them
    // sharing the outer key's hash bin threw "Recursive update"
    val inner = (1 to 32).map(i => fresh(s"spec-inner$i"))
    val (dir, nested) = Scratch.dir(spark, outer) { tmp =>
      (tmp, inner.map(k => Scratch.dir(spark, k)(d => d)))
    }
    assert(new File(dir).isDirectory)
    assert(nested.distinct.size == inner.size)
    assert(nested.forall(d => new File(d).isDirectory && d != dir))
    // served from the memo afterwards
    assert(inner.map(k => Scratch.dir[String](spark, k)(_ => fail("rebuilt"))) == nested)
  }

  test("a build that throws leaves no dir behind and the next call rebuilds") {
    val key = fresh("spec-fail")
    var seen: String = null
    val e = intercept[IllegalStateException] {
      Scratch.dir(spark, key) { tmp =>
        seen = tmp
        Files.write(new File(tmp, "part").toPath, Array[Byte](1, 2, 3))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(seen != null && !new File(seen).exists())
    val builds = new AtomicInteger()
    val dir = Scratch.dir(spark, key) { tmp => builds.incrementAndGet(); tmp }
    assert(builds.get == 1)
    assert(dir != seen && new File(dir).isDirectory)
  }

  test("with spark.graft.scratch.dir set, dir's output lands under it") {
    val root = new java.io.File(tempDir("graft_scratch_root"))
    try {
      val s = spark.newSession()
      s.conf.set("spark.graft.scratch.dir", s"${root.getPath}/nested")
      val dir = Scratch.dir(s, fresh("spec-root")) { tmp =>
        Files.write(new File(tmp, "part").toPath, Array[Byte](1))
        tmp
      }
      assert(new File(dir).getParentFile.getCanonicalPath ==
        new File(root, "nested").getCanonicalPath)
      assert(new File(dir, "part").isFile)
    } finally Scratch.rm(root)
  }

  test("8 concurrent callers of one key run the build once") {
    val key = fresh("spec-race")
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          go.await()
          Scratch.dir(spark, key) { tmp =>
            builds.incrementAndGet()
            Thread.sleep(200) // the other callers arrive mid-build
            tmp
          }
        }
      }))
      go.countDown()
      val dirs = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(dirs.distinct.size == 1)
    } finally pool.shutdownNow()
  }

  test("a frame key and a dir key of different families never share a dir") {
    val token = java.util.UUID.randomUUID().toString
    val df = Scratch.frame(spark, s"spec-frame|$token")(spark.range(3).toDF("id"))
    val dir = Scratch.dir(spark, s"spec-dir|$token")(d => d)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    val frameFiles = df.inputFiles.map(f => new File(new java.net.URI(f)).getCanonicalPath)
    assert(frameFiles.nonEmpty)
    val dirPath = new File(dir).getCanonicalPath + File.separator
    assert(frameFiles.forall(!_.startsWith(dirPath)))
    assert(new File(dir).list().isEmpty)
  }

  test("operators keep the dir decision behind Scratch") {
    val banned = Seq("createTempDirectory(", "addShutdownHook(")
    val files = new File("src/main/scala/graft/operators").listFiles()
      .filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty)
    val hits = for {
      f <- files.toSeq
      (line, n) <- Files.readAllLines(f.toPath).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getName}:${n + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
