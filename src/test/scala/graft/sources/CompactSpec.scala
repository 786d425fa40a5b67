package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = tempDir("graft-compact")

  test("compactParquet: merges small files, content identical, staging gone") {
    val dir = s"${tmpDir()}/t"
    spark.range(10000).withColumn("v", col("id") % 97)
      .repartition(40).write.parquet(dir)
    val before = Compact.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    // dry stats from the no-op path would equal 40 only if 40 <= target n;
    // with a huge target the rewrite must collapse to 1 file
    assert(before.filesBefore === 40 && before.filesAfter === 1)
    val back = spark.read.parquet(dir)
    assert(back.count() === 10000L)
    assert(back.agg(sum("v")).as[Long].head() ===
      (0L until 10000L).map(_ % 97).sum)
    assert(!new java.io.File(s"${dir}__compact_staging").exists())
  }

  test("compactParquet: sizes output from real bytes and is idempotent") {
    val dir = s"${tmpDir()}/t"
    spark.range(20000).withColumn("pad", md5(col("id").cast("string")))
      .repartition(30).write.parquet(dir)
    val bytes = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length).sum
    val target = bytes / 4 + 1 // expect ~4-5 output files
    val s1 = Compact.compactParquet(spark, dir, target)
    assert(s1.filesAfter >= 4 && s1.filesAfter <= 6, s1.toString)
    // second run: already at/below target count → no-op
    val s2 = Compact.compactParquet(spark, dir, target)
    assert(s2.filesBefore === s2.filesAfter)
  }

  test("compactParquet: a crash at any swap step loses nothing and self-heals") {
    def seed(): String = {
      val dir = s"${tmpDir()}/t"
      spark.range(5000).withColumn("v", col("id") % 7)
        .repartition(20).write.parquet(dir)
      dir
    }
    val checksum = (0L until 5000L).map(_ % 7).sum
    def readable(path: String): Boolean =
      scala.util.Try(spark.read.parquet(path).agg(sum("v")).as[Long].head())
        .toOption.contains(checksum)
    case class Boom(step: String) extends RuntimeException(step)
    for (crashAt <- Seq("staged", "vacated", "swapped")) {
      val dir = seed()
      intercept[Boom] {
        Compact.compactParquet(spark, dir, targetBytes = Long.MaxValue,
          onStep = s => if (s == crashAt) throw Boom(s))
      }
      // a COMPLETE durable copy exists at every step: at the table path
      // itself except in the instant between the two renames, where it is
      // intact at __old
      assert(readable(dir) || readable(s"${dir}__compact_old"),
        s"crash at $crashAt must leave a full copy")
      // the next scheduled run self-heals and completes the compaction
      val healed = Compact.compactParquet(spark, dir, targetBytes = Long.MaxValue)
      assert(healed.filesAfter === 1L, s"post-crash($crashAt) run: $healed")
      assert(readable(dir), s"table readable after healing from $crashAt")
      assert(!new java.io.File(s"${dir}__compact_old").exists())
      assert(!new java.io.File(s"${dir}__compact_staging").exists())
    }
  }

  test("compactPartitioned: only oversized partitions rewritten") {
    val dir = s"${tmpDir()}/t"
    Seq.tabulate(2000)(i => (i.toLong, if (i % 4 == 0) "a" else "b"))
      .toDF("id", "p").repartition(20)
      .write.partitionBy("p").parquet(dir)
    val stats = Compact.compactPartitioned(spark, dir, targetBytes = Long.MaxValue)
    assert(stats.keySet === Set("p=a", "p=b"))
    assert(stats.values.forall(_.filesAfter === 1))
    val back = spark.read.parquet(dir)
    assert(back.count() === 2000L)
    assert(back.filter(col("p") === "a").count() === 500L)
  }

  test("rewriteLive: a rewrite that keeps rows runs only the staged write's Spark job") {
    val root = s"${tmpDir()}/t"
    spark.range(100).withColumn("bkt", lit(0)).coalesce(1)
      .write.partitionBy("bkt").parquet(root)
    val leaf = s"$root/bkt=0"
    assert(new java.io.File(leaf).listFiles()
      .count(f => f.getName.endsWith(".parquet")) === 1)
    val sc = spark.sparkContext
    val group = s"rewrite-live-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one rewriteLive")
      Tombstones.rewriteLive(spark, leaf, _.filter(col("id") % 2 === 0))
      // the listener bus delivers in order: once the marker's job start
      // arrives, every job the rewrite launched has been counted
      sc.setJobGroup(group + "-marker", "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() === 1, s"rewriteLive ran ${jobs.get()} job(s)")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(spark.read.parquet(root).count() === 50L)
  }
}
