package graft.plans

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once, per JVM: the one memo behind every at-rest index dir
  * ([[dir]]) and every scratch parquet frame ([[frame]]).
  *
  * The contract:
  *  - '''The key determines the rows.''' A key names its family and
  *    its inputs (`"ivf|<sfDir>"`, `"lpadel|<sfDir>"`) — every family
  *    shares one map — and the build is deterministic in those inputs,
  *    so any later caller, from any session, may be served the stored
  *    result.
  *  - '''Built outside the lock.''' One `FutureTask` per key is
  *    published with `putIfAbsent` and run by the thread that published
  *    it, outside the map's bin lock: a build may call [[dir]] or
  *    [[frame]] for another key (the takedown layouts copy their clean
  *    layout; `communityLabels` reads `knnEdgesCos`), concurrent callers
  *    of one key wait for the one build, and callers of other keys never
  *    wait on it. A hit is a lock-free map read of a completed task.
  *  - '''A failed build is removed and retried.''' A build that throws
  *    deletes its dir and frees its slot; the next caller builds again
  *    instead of replaying the failure.
  *  - '''The root is `spark.graft.scratch.dir`''' when set (a filesystem
  *    the executors share, on a real cluster), else the JVM temp dir.
  *    One shutdown hook removes every dir made here; nothing outlives the
  *    JVM, so every run still computes from its parquet inputs.
  *
  * No new memo without a fresh-build attribution row: a memo takes its
  * build out of every measured call after the first, so each derivation
  * memoized here needs a benched row that builds the same derivation
  * fresh (as `dedup_cross_idx_build` and `mm_phash_idx_build` do for
  * their index families), or its cost leaves the suite unseen. */
object Scratch {

  private val built = new ConcurrentHashMap[String, FutureTask[Any]]()
  private val dirs = ConcurrentHashMap.newKeySet[File]()
  private val planCache = new ConcurrentHashMap[String, DataFrame]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(d => rm(d))))
  }

  /** Remove `f` and everything under it. */
  private[graft] def rm(f: File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
  }

  private def newDir(s: SparkSession): File =
    s.conf.getOption("spark.graft.scratch.dir") match {
      case Some(root) =>
        val p = Files.createDirectories(Paths.get(root))
        Files.createTempDirectory(p, "graft_scratch").toFile
      case None => Files.createTempDirectory("graft_scratch").toFile
    }

  /** The value `build` computes, once per key of `m`: the first caller
    * runs it outside `m`'s bin lock, concurrent callers wait for that
    * run, and a build that throws frees its slot so the next caller
    * retries. Callers may remove keys of `m` at any time (a sweep, an
    * invalidation); the next call then builds again. */
  def once[K, V](m: ConcurrentHashMap[K, FutureTask[V]], key: K)(build: => V): V = {
    var task = m.get(key)
    if (task == null) {
      val fresh = new FutureTask[V](() => build)
      task = m.putIfAbsent(key, fresh)
      if (task == null) { fresh.run(); task = fresh }
    }
    try task.get()
    catch {
      case e: ExecutionException =>
        m.remove(key, task)
        throw e.getCause
    }
  }

  /** What `build` returns when given a fresh dir under the scratch root,
    * built once per (JVM, `key`) under the contract above. The build
    * writes its layout into the dir and returns what its readers need:
    * the dir, a path inside it, or the dir with the in-memory state the
    * layout was written with (the IVFADC codebook). */
  def dir[A](s: SparkSession, key: String)(build: String => A): A =
    once(built, key) {
      val d = newDir(s)
      dirs.add(d)
      try build(d.toString)
      catch {
        case e: Throwable =>
          dirs.remove(d)
          rm(d)
          throw e
      }
    }.asInstanceOf[A]

  /** A dir under the scratch root that lives only for `body`: removed
    * when `body` returns or throws. For fresh builds that are measured,
    * not memoized. */
  def tempDir[A](s: SparkSession)(body: String => A): A = {
    val d = newDir(s)
    try body(d.toString) finally rm(d)
  }

  /** The frame `build` evaluates to, written to scratch parquet by
    * [[dir]] and read back. The build is eager at first call: the first
    * query that resolves the binding, never view registration. The
    * re-read relation is memoized per dir, so parquet schema inference
    * runs once per build; it is re-read through the caller's session
    * when the session that first read it has a stopped context. */
  def frame(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val d = dir(s, key) { tmp =>
      build.write.mode("overwrite").parquet(s"$tmp/data")
      tmp
    }
    val cached = planCache.get(d)
    if (cached != null && !cached.sparkSession.sparkContext.isStopped) cached
    else {
      val df = s.read.parquet(s"$d/data")
      planCache.put(d, df)
      df
    }
  }
}
