package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** At-rest perceptual-hash index lifecycle: write/probe parity with the
  * in-plan banded join, append-is-merge, takedown (logical + physical),
  * and the meta config discipline — the image-family mirror of
  * `DedupIndexSpec`. */
class PhashIndexSpec extends SparkSpec {
  import spark.implicits._

  private def imgsOf(ids: Seq[Long]): DataFrame =
    graft.sources.JdkImage.renderBmpFixtures(ids.toDF("doc_id"))
      .toDF("doc_id", "payload")

  /** Brute-force all-pairs truth from the SAME shared hash derivation —
    * valid as a reference because the pigeonhole guarantee (h ≤ 3 < 4
    * bands) makes banded-proposal completeness a theorem. */
  private def brutePairs(ids: Seq[Long]): Set[(Long, Long, Long)] = {
    val h = Multimodal.phashOf(imgsOf(ids), grid = 4)
    h.as("a").join(h.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
      .filter(_._3 <= 3L)
  }

  private val ids: Seq[Long] = (1L to 120L)

  test("phash index: write + whole-corpus probe ≡ brute all-pairs (pigeonhole parity)") {
    val dir = tempDir("graft_ph_spec")
    Multimodal.writePhashIndex(imgsOf(ids), dir)
    val got = Multimodal.probePhashIndex(imgsOf(ids), dir)
      .filter(col("doc_a") < col("doc_b"))
      .as[(Long, Long, Long)].collect().toSet
    val want = brutePairs(ids)
    assert(want.nonEmpty, "fixture set must contain hamming<=3 pairs")
    assert(got === want)
  }

  test("phash index: append is the merge — incremental build ≡ one-shot build") {
    val dir = tempDir("graft_ph_app")
    val (lake, inc) = ids.partition(_ % 2 == 0)
    Multimodal.writePhashIndex(imgsOf(lake), dir)
    // cross-corpus probe BEFORE append: increment vs lake only
    val cross = Multimodal.probePhashIndex(imgsOf(inc), dir)
      .as[(Long, Long, Long)].collect().toSet
    val want = brutePairs(ids)
    val wantCross = want.flatMap { case (a, b, h) =>
      Seq((a, b, h), (b, a, h))
    }.filter { case (a, b, _) => inc.contains(a) && lake.contains(b) }
    assert(cross === wantCross, "pre-append probe = increment×lake pairs")
    // append, then the whole corpus probes ≡ a one-shot whole build
    Multimodal.appendToPhashIndex(imgsOf(inc), dir)
    val got = Multimodal.probePhashIndex(imgsOf(ids), dir)
      .filter(col("doc_a") < col("doc_b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("phash index: takedown drops pairs immediately; compaction reclaims physically and is idempotent") {
    val dir = tempDir("graft_ph_del")
    Multimodal.writePhashIndex(imgsOf(ids), dir)
    val want = brutePairs(ids)
    // pick a doc that participates in a pair — takedown must be visible
    val victim = want.head._1
    Multimodal.deleteFromPhashIndex(Seq(victim).toDF("doc_id"),
      col("doc_id"), dir)
    val afterDel = Multimodal.probePhashIndex(
        imgsOf(ids.filter(_ != victim)), dir)
      .filter(col("doc_a") < col("doc_b"))
      .as[(Long, Long, Long)].collect().toSet
    val wantDel = want.filter { case (a, b, _) => a != victim && b != victim }
    assert(afterDel === wantDel, "tombstoned doc must stop pairing at once")
    // physical reclaim: rows gone from the at-rest table, probe unchanged
    Multimodal.compactPhashIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/hashes")
      .filter(col("doc_id") === victim).count() === 0L)
    val afterCompact = Multimodal.probePhashIndex(
        imgsOf(ids.filter(_ != victim)), dir)
      .filter(col("doc_a") < col("doc_b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(afterCompact === wantDel)
    Multimodal.compactPhashIndex(spark, dir) // idempotent on re-run
    assert(Multimodal.probePhashIndex(imgsOf(ids.filter(_ != victim)), dir)
      .filter(col("doc_a") < col("doc_b")).count() === wantDel.size.toLong)
  }

  test("phash index: probe reads the lake through PartitionFilters on bucket") {
    val dir = tempDir("graft_ph_plan")
    Multimodal.writePhashIndex(imgsOf(ids), dir)
    val plan = Multimodal.probePhashIndex(imgsOf(ids.take(3)), dir)
      .queryExecution.executedPlan.toString
    // the bucket predicate must sit INSIDE the PartitionFilters bracket
    // — a bare contains() pair passes even on 'PartitionFilters: []'
    // with 'bucket' elsewhere in the scan's schema
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"probe must prune index partitions, not filter rows:\n$plan")
  }

  test("phash index: probe takes its config from the index meta, not the caller") {
    val dir = tempDir("graft_ph_meta")
    // widen the radius guard: bands from META must bound maxHamming
    Multimodal.writePhashIndex(imgsOf(ids.take(20)), dir, grid = 4, bands = 4)
    val e = intercept[IllegalArgumentException] {
      Multimodal.probePhashIndex(imgsOf(ids.take(5)), dir, maxHamming = 4)
    }
    assert(e.getMessage.contains("pigeonhole"))
  }
}
