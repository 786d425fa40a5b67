package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Substantiates the at-rest MinHash signature index's claims (Dedup
  * scaladoc): a probe through the `writeMinhashIndex` layout is
  * bit-identical to the in-plan `minhashPairsAcross`, appending an
  * increment equals rebuilding over the union, and the probe's touched
  * buckets reach the scan as PartitionFilters — the lake side is read
  * through pruning, never re-signed.
  */
class DedupIndexSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def docs = graft.Tables.documents(spark, d)
    .withColumn("blk", concat_ws("_", col("lang"), expr("n_chars DIV 100")))

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("probeMinhashIndex ≡ minhashPairsAcross (bit parity, config from meta)") {
    val inc = docs.filter(col("doc_id") % 4 === 0)
    val lake = docs.filter(col("doc_id") % 4 =!= 0)
    val dir = tempDir("graft_sig_spec")
    Dedup.writeMinhashIndex(lake, col("doc_id"), col("text"), col("blk"),
      dir, shingleN = 3)
    val served = Dedup.probeMinhashIndex(inc, col("doc_id"), col("text"),
      col("blk"), dir)
    val inPlan = Dedup.minhashPairsAcross(inc, lake,
      col("doc_id"), col("text"), col("blk"), shingleN = 3)
    assert(pairsOf(served) === pairsOf(inPlan))
    assert(pairsOf(served).nonEmpty, "fixture must exercise the join")
  }

  test("appendToMinhashIndex ≡ rebuild over the union") {
    val inc = docs.filter(col("doc_id") % 4 === 0)
    val first = docs.filter(col("doc_id") % 4 === 1)
    val second = docs.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    val appended = tempDir("graft_sig_app")
    Dedup.writeMinhashIndex(first, col("doc_id"), col("text"), col("blk"),
      appended, shingleN = 3)
    Dedup.appendToMinhashIndex(second, col("doc_id"), col("text"), col("blk"),
      appended)
    val rebuilt = tempDir("graft_sig_reb")
    Dedup.writeMinhashIndex(first.unionByName(second), col("doc_id"),
      col("text"), col("blk"), rebuilt, shingleN = 3)
    def probe(dir: String) = Dedup.probeMinhashIndex(inc, col("doc_id"),
      col("text"), col("blk"), dir)
    assert(pairsOf(probe(appended)) === pairsOf(probe(rebuilt)))
  }

  test("probe reads the lake through PartitionFilters on bucket") {
    val inc = docs.filter(col("doc_id") % 4 === 0)
    val lake = docs.filter(col("doc_id") % 4 =!= 0)
    val dir = tempDir("graft_sig_plan")
    Dedup.writeMinhashIndex(lake, col("doc_id"), col("text"), col("blk"),
      dir, shingleN = 3)
    val plan = Dedup.probeMinhashIndex(inc, col("doc_id"), col("text"),
      col("blk"), dir).queryExecution.executedPlan.toString
    // the bucket predicate must sit INSIDE the PartitionFilters bracket
    // — a bare contains() pair passes even on 'PartitionFilters: []'
    // with 'bucket' elsewhere in the scan's schema
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"probe must prune index partitions, not filter rows:\n$plan")
  }

  test("takedown: a recalled lake doc stops pairing (and stops counting occupancy); compaction applies physically") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "completely different tokens populate this lake document body"
    val lake = Seq((1L, text, "b"), (2L, text, "b"), (3L, text, "b"),
      (4L, other, "b")).toDF("doc_id", "text", "blk")
    val inc = Seq((1000L, text, "b")).toDF("doc_id", "text", "blk")
    val dir = tempDir("graft_sig_td")
    Dedup.writeMinhashIndex(lake, col("doc_id"), col("text"), col("blk"), dir)
    def probe() = Dedup.probeMinhashIndex(inc, col("doc_id"), col("text"),
      col("blk"), dir)
    val pre = pairsOf(probe())
    assert(pre.map(_._2) === Set(1L, 2L, 3L))
    Dedup.deleteFromMinhashIndex(Seq(2L).toDF("doc_id"), col("doc_id"), dir)
    // the recalled doc vanishes; the survivors' estimates are untouched
    val post = pairsOf(probe())
    assert(post === pre.filter(_._2 != 2L))
    // deleted rows no longer count toward the hot-band occupancy guard:
    // 3 identical docs occupy their shared bands 4× with the increment —
    // a cap of 3 drops everything pre-delete, but passes post-delete
    // (occupancy is now 3)
    assert(Dedup.probeMinhashIndex(inc, col("doc_id"), col("text"),
      col("blk"), dir, maxBandFreq = 3).count() === 2L,
      "post-delete occupancy must reflect only live signature rows")
    // compaction: signature rows physically gone, tombstones cleared,
    // serving unchanged; re-run is a no-op
    Dedup.compactMinhashIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/bands")
      .filter(col("doc_id") === 2L).count() === 0L)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    assert(pairsOf(probe()) === post)
    Dedup.compactMinhashIndex(spark, dir)
    assert(pairsOf(probe()) === post)
  }

  test("hot-band guard drops a band shared too widely, across both sides") {
    import spark.implicits._
    // 30 identical lake docs + 1 identical increment doc: every band key
    // they share is occupied 31 times. Guarded at 10, nothing pairs;
    // unguarded, the increment doc pairs with all 30.
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val lake = (1 to 30).map(i => (i.toLong, text, "b")).toDF("doc_id", "text", "blk")
    val inc = Seq((1000L, text, "b")).toDF("doc_id", "text", "blk")
    val dir = tempDir("graft_sig_hot")
    Dedup.writeMinhashIndex(lake, col("doc_id"), col("text"), col("blk"), dir)
    def n(maxBandFreq: Int) = Dedup.probeMinhashIndex(inc, col("doc_id"),
      col("text"), col("blk"), dir, maxBandFreq = maxBandFreq).count()
    assert(n(0) === 30L, "unguarded probe pairs the increment with every copy")
    assert(n(10) === 0L, "guard drops bands occupied beyond the cap")
  }

  test("hyperplane index: probe+rescore ≡ in-plan embeddingPairsLsh; append ≡ rebuild; takedown drops pairs") {
    import graft.functions.VectorExpressions.fusedCosine
    val emb = graft.Tables.embeddings(spark, d)
    def rescored(cands: org.apache.spark.sql.DataFrame) = {
      val base = emb.select(col("vec_id"), col("embedding").as("__v"))
      cands.filter(col("vec_a") < col("vec_b"))
        .join(base.select(col("vec_id").as("vec_a"), col("__v").as("va")), "vec_a")
        .join(base.select(col("vec_id").as("vec_b"), col("__v").as("vb")), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(fusedCosine(spark, col("va"), col("vb")), 6).as("cos"))
        .filter(col("cos") >= 0.45)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val inPlan = Dedup.embeddingPairsLsh(emb, col("vec_id"), col("embedding"),
        minCos = 0.45, bands = 32)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // one-shot build + whole-corpus probe = the in-plan banded join
    val dir = tempDir("graft_hpl_spec")
    Dedup.writeHyperplaneIndex(emb, col("vec_id"), col("embedding"), dir,
      bands = 32)
    val served = rescored(
      Dedup.probeHyperplaneIndex(emb, col("vec_id"), col("embedding"), dir))
    assert(inPlan.nonEmpty && served === inPlan)
    // append ≡ rebuild over the union
    val dir2 = tempDir("graft_hpl_app")
    Dedup.writeHyperplaneIndex(emb.filter(col("vec_id") % 2 === 0),
      col("vec_id"), col("embedding"), dir2, bands = 32)
    Dedup.appendToHyperplaneIndex(emb.filter(col("vec_id") % 2 =!= 0),
      col("vec_id"), col("embedding"), dir2)
    assert(rescored(Dedup.probeHyperplaneIndex(emb, col("vec_id"),
      col("embedding"), dir2)) === inPlan)
    // takedown: the recalled vector stops pairing at once
    import spark.implicits._
    val victim = inPlan.head._1
    Dedup.deleteFromHyperplaneIndex(Seq(victim).toDF("vec_id"),
      col("vec_id"), dir)
    val afterDel = rescored(Dedup.probeHyperplaneIndex(
      emb.filter(col("vec_id") =!= victim), col("vec_id"), col("embedding"), dir))
    assert(afterDel === inPlan.filter(p => p._1 != victim && p._2 != victim))
    // physical reclaim: rows gone from the at-rest table, probe unchanged,
    // re-run a no-op
    Dedup.compactHyperplaneIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/bands")
      .filter(col("vec_id") === victim).count() === 0L)
    Dedup.compactHyperplaneIndex(spark, dir)
    assert(rescored(Dedup.probeHyperplaneIndex(
      emb.filter(col("vec_id") =!= victim), col("vec_id"), col("embedding"), dir))
      === afterDel)
  }
}
