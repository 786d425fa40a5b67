package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; Spark 4's
  * default ANSI mode is kept ON so tests prove the engine is ANSI-safe —
  * the driver's Verify session runs with the same defaults). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** A spec on the shared session, with a per-suite temp root: every
  * [[tempDir]] lives under it, and `afterAll` removes the root with all
  * it holds, so a test run leaves nothing in the JVM temp dir. */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  private var tmpRoot: Option[Path] = None
  private var made = 0

  /** A fresh, empty dir `<prefix>-<n>` under this suite's temp root. The
    * name is short on purpose: plan strings cut a scan's location at 100
    * characters, and specs look for path parts in them. */
  def tempDir(prefix: String): String = synchronized {
    val root = tmpRoot.getOrElse {
      val r = Files.createTempDirectory("graft_spec"); tmpRoot = Some(r); r
    }
    made += 1
    Files.createDirectory(root.resolve(s"$prefix-$made")).toString
  }

  override protected def afterAll(): Unit =
    try synchronized { tmpRoot.foreach(r => graft.plans.Scratch.rm(r.toFile)); tmpRoot = None }
    finally super.afterAll()
}
