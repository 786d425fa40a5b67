package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Substantiates knnIvf's scale claim (Retrieval scaladoc): when the IVF
  * cluster assignment is materialized as a WRITE-TIME PARTITION COLUMN,
  * probing is literal partition pruning — the probe's cluster filter
  * reaches the scan as a PartitionFilter and unprobed clusters' files are
  * never opened.
  */
class IvfLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("writeIvfIndex + knnIvfIndexed: at-rest index matches in-plan knnIvf, probe prunes") {
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(spark, d)
    val cents = Retrieval.labelCentroids(spark, d)
      .select(col("label").cast("long").as("cid"), col("c"))
    val dir = tempDir("graft_ivf_api")
    Search.writeIvfIndex(e, col("embedding"), cents, s"$dir/idx")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val indexed = Search.knnIvfIndexed(spark, s"$dir/idx", col("embedding"),
      cents, q, nprobe = 3, k = 10, tie = col("vec_id"))
    // the probe's cluster filter reaches the scan as a partition filter
    val planStr = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(planStr).isDefined,
      s"probe must prune partitions, not filter rows:\n$planStr")
    // and the at-rest path answers exactly like the in-plan path
    val a = indexed.select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val b = Search.knnIvf(e, col("vec_id"), col("embedding"), cents, q,
        nprobe = 3, k = 10)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    assert(a === b)
  }

  test("cluster-partitioned layout: probe filter prunes partitions at the scan") {
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(spark, d)
    // cluster assignment = the IVF write path (here: label as the cluster)
    val dir = tempDir("graft_ivf")
    e.withColumn("cluster", col("label").cast("long"))
      .write.partitionBy("cluster").parquet(s"$dir/emb")

    val lake = spark.read.parquet(s"$dir/emb")
    val probed = lake.filter(col("cluster").isin(1L, 2L, 3L))
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"cluster filter must be a partition filter:\n$plan")
    // pruning is real: the probed scan reads fewer files than the full scan.
    // Metrics must be read from the SAME plan instance that executed, with
    // AQE off so collect() runs the inspected plan directly.
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().map(_.metrics
          .get("numFiles").map(_.value).getOrElse(0L)).sum
      }
      val probedFiles = filesRead(lake.filter(col("cluster").isin(1L, 2L, 3L)))
      val allFiles = filesRead(spark.read.parquet(s"$dir/emb"))
      assert(probedFiles > 0 && probedFiles < allFiles,
        s"pruned scan reads fewer files: $probedFiles < $allFiles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    // and the pruned corpus still answers the kNN correctly
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val top = Search.knnBrute(probed, col("embedding"), q, k = 5, tie = col("vec_id"))
    assert(top.count() === 5)
  }

  test("knnIvfIndexed with filter: predicate pushes to the pruned scan; post-filter semantics") {
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(spark, d)
    val cents = Retrieval.labelCentroids(spark, d)
      .select(col("label").cast("long").as("cid"), col("c"))
    val dir = tempDir("graft_ivf_fil")
    Search.writeIvfIndex(e, col("embedding"), cents, s"$dir/idx")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val filtered = Search.knnIvfIndexed(spark, s"$dir/idx", col("embedding"),
      cents, q, nprobe = 3, k = 10, tie = col("vec_id"),
      filter = Some(col("label") === 2))
    // BOTH pruning layers reach the scan: the probe as a NON-EMPTY
    // PartitionFilter (file skipping — the bare header prints on every
    // scan) and the metadata predicate as a PushedFilter (row-group
    // skipping inside probed partitions)
    val plan = filtered.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"probe must prune partitions:\n$plan")
    assert(plan.contains("PushedFilters:") &&
      plan.replaceAll("\\s", "").contains("EqualTo(label,2)"),
      s"label predicate must push into the parquet scan:\n$plan")
    // post-filter semantics: same probe set as the unfiltered query, the
    // predicate restricts the CANDIDATES — equal to filtering the full
    // probed candidate list and re-taking top-k
    val expect = Search.knnIvfIndexed(spark, s"$dir/idx", col("embedding"),
        cents, q, nprobe = 3, k = Int.MaxValue, tie = col("vec_id"))
      .collect().filter(_.getAs[Int]("label") == 2)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    val got = filtered.select("vec_id", "score").as[(Long, Double)]
      .collect().toSeq
    assert(got === expect)
    assert(got.nonEmpty, "the filter must leave a non-trivial result set")
  }

  test("maxSimIndexed: full probe equals in-plan maxSim; partial probe prunes the scan") {
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(spark, d)
    val cents = Retrieval.labelCentroids(spark, d)
      .select(col("label").cast("long").as("cid"), col("c"))
    val dir = tempDir("graft_ivf_ms")
    Search.writeIvfIndex(e, col("embedding"), cents, s"$dir/idx")
    val qbag = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // nprobe = all clusters ⇒ candidate set is the whole corpus ⇒ the
    // indexed path must reproduce the in-plan MaxSim exactly
    val full = Search.maxSim(e.withColumn("img", expr("vec_id DIV 8")),
        col("img"), col("embedding"), qbag, k = 5)
      .as[(Long, Double)].collect().toSeq
    val idxFull = Search.maxSimIndexed(spark, s"$dir/idx",
        expr("vec_id DIV 8").as("img"), col("embedding"), cents, qbag,
        nprobe = 10, k = 5, tie = col("vec_id"))
      .as[(Long, Double)].collect().toSeq
    assert(idxFull === full)
    // partial probe: the scan carries a cluster PartitionFilter
    val pruned = Search.maxSimIndexed(spark, s"$dir/idx",
      expr("vec_id DIV 8").as("img"), col("embedding"), cents, qbag,
      nprobe = 1, k = 5, tie = col("vec_id"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"probe must prune cluster partitions:\n$plan")
    assert(pruned.count() > 0)
  }

  // well-separated clusters so centroid argmax assignments are stable
  // under last-ulp float-sum order differences between layouts
  private def clusteredCorpus(n: Int) = {
    def mk(c: Int, i: Int): Seq[Float] = {
      val base = Array.fill(8)(0.05f * c)
      base(c % 8) = 1f + 0.01f * (i % 5)
      base.toSeq
    }
    (0 until n).map(i => (i.toLong, mk(i % 4, i))).toDF("vec_id", "embedding")
  }

  test("retrainIvfIndex: re-train over a grown index equals a fresh build on the union") {
    val all = clusteredCorpus(80)
    val a = all.filter(col("vec_id") < 60)
    val b = all.filter(col("vec_id") >= 60)
    val centsA = Search.kmeansTrain(a, col("vec_id"), col("embedding"), k = 4)
    val dir = tempDir("graft_retrain")
    Search.writeIvfIndex(a, col("embedding"), centsA, s"$dir/idx")
    Search.appendToIvfIndex(b, col("embedding"), centsA, s"$dir/idx")
    val newCents = Search.retrainIvfIndex(spark, s"$dir/idx",
      col("vec_id"), col("embedding"), k = 4)
    // staging/backup dirs are gone; only the migrated index remains
    assert(!new java.io.File(s"$dir/idx__retrain_staging").exists())
    assert(!new java.io.File(s"$dir/idx__retrain_old").exists())
    // fresh build on the union corpus for comparison
    val centsF = Search.kmeansTrain(all, col("vec_id"), col("embedding"), k = 4)
    val freshDir = tempDir("graft_retrain_f")
    Search.writeIvfIndex(all, col("embedding"), centsF, s"$freshDir/idx")
    // centroids agree (tolerance: summation order differs between the
    // index layout and the original corpus layout)
    val nc = newCents.select(col("cid"), col("c"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val fc = centsF.select(col("cid"), col("c"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(nc.map(_._1).toSeq === fc.map(_._1).toSeq)
    nc.zip(fc).foreach { case ((_, c1), (_, c2)) =>
      c1.zip(c2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // per-row cluster assignment identical to the fresh build
    def assignments(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cluster").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(assignments(s"$dir/idx") === assignments(s"$freshDir/idx"))
    // and the migrated layout still serves probes with partition pruning
    val q = all.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val served = Search.knnIvfIndexed(spark, s"$dir/idx", col("embedding"),
      newCents, q, nprobe = 2, k = 5, tie = col("vec_id"))
    assert(served.count() === 5)
  }

  test("IVF takedown: tombstones filter the probe; compaction applies physically, touching only deleted clusters") {
    val all = clusteredCorpus(80)
    val cents = Search.kmeansTrain(all, col("vec_id"), col("embedding"), k = 4)
    val dir = tempDir("graft_ivf_td")
    Search.writeIvfIndex(all, col("embedding"), cents, s"$dir/idx")
    val q = all.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    def serve() = Search.knnIvfIndexed(spark, s"$dir/idx", col("embedding"),
      cents, q, nprobe = 2, k = 10, tie = col("vec_id"))
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val pre = serve()
    val deleted = pre.take(3).map(_._1)
    Search.deleteFromIvfIndex(deleted.toDF("vec_id"), col("vec_id"), s"$dir/idx")
    // serving reflects the delete immediately: equals an index freshly
    // built WITHOUT the deleted rows (same codebook), with ranks k+1…
    // replacing the removed entries — not just pre minus deleted
    val post = serve()
    assert(deleted.forall(id => !post.exists(_._1 == id)) && post.size == 10)
    val freshDir = tempDir("graft_ivf_td_f")
    Search.writeIvfIndex(all.filter(!col("vec_id").isin(deleted: _*)),
      col("embedding"), cents, s"$freshDir/idx")
    assert(post === Search.knnIvfIndexed(spark, s"$freshDir/idx",
      col("embedding"), cents, q, nprobe = 2, k = 10, tie = col("vec_id"))
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq)
    // compaction: deleted rows physically gone, only their clusters rewrote
    def clusterFiles(): Map[String, Set[String]] =
      new java.io.File(s"$dir/idx").listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("cluster="))
        .map(f => f.getName -> f.listFiles().map(_.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet).toMap
    val before = clusterFiles()
    val touched = spark.read.parquet(s"$dir/idx")
      .filter(col("vec_id").isin(deleted: _*))
      .select(col("cluster").cast("long")).distinct().as[Long].collect()
      .map(c => s"cluster=$c").toSet
    Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"))
    val after = clusterFiles()
    assert(spark.read.parquet(s"$dir/idx")
      .filter(col("vec_id").isin(deleted: _*)).count() === 0L)
    assert(!new java.io.File(s"$dir/idx/_tombstones").exists())
    (before.keySet -- touched).foreach { c =>
      assert(after(c) === before(c), s"untouched $c must not rewrite") }
    assert(serve() === post, "serving unchanged by the physical apply")
    // idempotent: nothing left to do, nothing moves
    Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"))
    assert(clusterFiles() === after)
  }

  test("IVF compaction: crash at every swap step self-heals; straddling append survives; all-deleted cluster dir goes") {
    val all = clusteredCorpus(40)
    val cents = Search.kmeansTrain(all, col("vec_id"), col("embedding"), k = 4)
    val dir = tempDir("graft_ivf_crash")
    Search.writeIvfIndex(all, col("embedding"), cents, s"$dir/idx")
    val someCluster = spark.read.parquet(s"$dir/idx")
      .select(col("vec_id"), col("cluster").cast("long")).as[(Long, Long)]
      .collect().groupBy(_._2).maxBy(_._2.length)
    val (victimCluster, members) = (someCluster._1, someCluster._2.map(_._1).toSeq)
    // crash injection at each step, then a clean retry completes
    // (fresh ids per step — the previous step's retry already compacted
    // its own away, and an empty touched set would skip the injection)
    Seq("staged", "vacated").zipWithIndex.foreach { case (step, i) =>
      val ids = Seq(members(4 + 2 * i), members(5 + 2 * i))
      Search.deleteFromIvfIndex(ids.toDF("vec_id"), col("vec_id"), s"$dir/idx")
      intercept[RuntimeException] {
        Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"),
          onStep = l => if (l.endsWith(s":$step")) throw new RuntimeException(s"boom at $l"))
      }
      Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"))
      assert(spark.read.parquet(s"$dir/idx")
        .filter(col("vec_id").isin(ids: _*)).count() === 0L, s"after crash at $step")
      assert(!new java.io.File(s"$dir/idx/_tombstones").exists())
    }
    // straddling append: lands in the victim cluster AFTER its rewrite
    // staged — the carry moves it into the new layout verbatim
    val straddler = all.filter(col("vec_id") === members(2))
      .withColumn("vec_id", col("vec_id") + 1000)
    var injected = false
    Search.deleteFromIvfIndex(Seq(members(2)).toDF("vec_id"), col("vec_id"), s"$dir/idx")
    Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"),
      onStep = l => if (l.endsWith(":staged") && !injected) {
        injected = true
        Search.appendToIvfIndex(straddler, col("embedding"), cents, s"$dir/idx")
      })
    assert(injected)
    val ids = spark.read.parquet(s"$dir/idx").select("vec_id").as[Long].collect()
    assert(ids.count(_ == members(2) + 1000) === 1, "straddler exactly once")
    assert(!ids.contains(members(2)), "deleted row gone")
    // all-deleted cluster: its partition directory disappears entirely
    val rest = spark.read.parquet(s"$dir/idx")
      .filter(col("cluster").cast("long") === victimCluster)
      .select("vec_id").as[Long].collect().toSeq
    Search.deleteFromIvfIndex(rest.toDF("vec_id"), col("vec_id"), s"$dir/idx")
    Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"))
    assert(!new java.io.File(s"$dir/idx/cluster=$victimCluster").exists(),
      "an all-deleted partition directory is removed, not left empty")
  }

  test("writeGraphIndex + graphSearchIndexed: bit parity with in-plan graphSearch; bucket probe prunes the scans") {
    val corpus = clusteredCorpus(40)
    val cents = Search.kmeansTrain(corpus, col("vec_id"), col("embedding"), k = 4)
    val edges = Search.knnGraph(corpus, col("vec_id"), col("embedding"),
      cents, k = 3).select("__vid", "nbr_id").localCheckpoint()
    val query = Seq(Tuple1(Seq(1f, 0.4f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("qv")
    val dir = tempDir("graft_graph_idx")
    Search.writeGraphIndex(corpus, col("vec_id"), col("embedding"), edges,
      s"$dir/idx", entriesN = 8, buckets = 4)
    val inPlan = Search.graphSearch(corpus, col("vec_id"), col("embedding"),
        edges, query, k = 5, entriesN = 8, beam = 4, hops = 2)
      .select(col("id"), col("score")).as[(Long, Double)].collect().toSeq
    val served = Search.graphSearchIndexed(spark, s"$dir/idx", query,
        k = 5, beam = 4, hops = 2, buckets = 4)
      .select(col("id"), col("score")).as[(Long, Double)].collect().toSeq
    assert(served === inPlan, s"at-rest serving must be bit-identical:\n$served\n$inPlan")
    // the layout contract: the id-bucket filter each hop issues reaches
    // the scan as a PartitionFilter (file skipping), the id predicate
    // pushes into the read
    val probe = spark.read.parquet(s"$dir/idx/edges")
      .filter(col("bkt").isin(1L, 2L) && col("__vid").isin(5L, 6L))
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bkt".r.findFirstIn(plan).isDefined,
      s"bucket probe must prune partitions:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("__vid"),
      s"id predicate must push into the pruned scan:\n$plan")
  }

  test("graph layout: a build/serve bucket-modulus mismatch fails loudly instead of silently missing rows") {
    val corpus = clusteredCorpus(12)
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("__vid", "nbr_id")
    val dir = tempDir("graft_bktguard")
    Search.writeGraphIndex(corpus.select(col("vec_id"), col("embedding")),
      col("vec_id"), col("embedding"), edges, s"$dir/idx",
      entriesN = 4, buckets = 8)
    val q = Seq(Tuple1(Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("qv")
    // matching modulus serves; a different one is the silent-wrong-results
    // config the persisted meta exists to reject
    assert(Search.graphSearchIndexed(spark, s"$dir/idx", q,
      k = 3, beam = 4, hops = 2, buckets = 8).count() > 0)
    val e = intercept[IllegalArgumentException] {
      Search.graphSearchIndexed(spark, s"$dir/idx", q,
        k = 3, beam = 4, hops = 2, buckets = 4)
    }
    assert(e.getMessage.contains("buckets=8"))
    intercept[IllegalArgumentException] {
      Search.appendToGraphIndex(Seq((99L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
        .toDF("id", "vec"), col("id"), col("vec"), s"$dir/idx",
        linkK = 2, buckets = 16)
    }
  }

  test("graph takedown: deleted relay nodes REROUTE the walk (reachability, not just filtering); entry deletion shrinks the frozen ring; compaction + crash injection") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // 6 nodes; roles assigned by md5 order so the entry ring is under
    // our control: E (smallest md5) and E2 are the ring, then relay a,
    // decoy c, target t (cos 1 with the query), spare
    val order = (0L to 5L).sortBy(i => md5hex(i.toString))
    val Seq(e, e2, a, c, t, spare) = order
    def v(x: Double, y: Double, z: Double) = Seq(x.toFloat, y.toFloat, z.toFloat)
    val vecs = Map(
      e -> v(0.1, 1, 0), e2 -> v(0.05, 1, 0.1), a -> v(0.4, 1, 0),
      c -> v(0.5, 1, 0), t -> v(1, 0, 0), spare -> v(0, 0, 1))
    val corpus = vecs.toSeq.map { case (i, vv) => (i, vv) }.toDF("vec_id", "embedding")
    // the ONLY path to the target runs through relay a
    val edges = Seq((e, a), (a, t), (e, c), (e2, c), (c, spare))
      .toDF("__vid", "nbr_id")
    val query = Seq(Tuple1(v(1, 0, 0))).toDF("qv")
    val dir = tempDir("graft_graph_del")
    Search.writeGraphIndex(corpus, col("vec_id"), col("embedding"), edges,
      s"$dir/idx", entriesN = 2, buckets = 2)
    def serve() = Search.graphSearchIndexed(spark, s"$dir/idx", query,
      k = 6, beam = 3, hops = 3, buckets = 2)
      .select("id").as[Long].collect().toSeq
    assert(serve().head === t, "with the relay alive the walk reaches the target")
    // tombstone the relay: the target now scores NOWHERE even though it
    // is alive and the best match — its only in-edge is unreachable
    Search.deleteFromGraphIndex(Seq(a).toDF("vec_id"), col("vec_id"), s"$dir/idx")
    val rerouted = serve()
    assert(!rerouted.contains(a), "deleted id never appears")
    assert(!rerouted.contains(t),
      s"target must be UNREACHABLE once its relay is deleted: $rerouted")
    // entry deletion: the frozen ring shrinks (E2 leaves, no refill)
    Search.deleteFromGraphIndex(Seq(e2).toDF("vec_id"), col("vec_id"), s"$dir/idx")
    val afterEntryDel = serve()
    assert(!afterEntryDel.contains(e2))
    // compaction with crash injection at each swap step: serving stays
    // correct mid-crash (tombstones still present), retry converges
    Seq("staged", "vacated").foreach { step =>
      val freshDir = tempDir(s"graft_gc_$step")
      Search.writeGraphIndex(corpus, col("vec_id"), col("embedding"), edges,
        s"$freshDir/idx", entriesN = 2, buckets = 2)
      Search.deleteFromGraphIndex(Seq(a, e2).toDF("vec_id"), col("vec_id"), s"$freshDir/idx")
      val before = Search.graphSearchIndexed(spark, s"$freshDir/idx", query,
        k = 6, beam = 3, hops = 3, buckets = 2).select("id").as[Long].collect().toSeq
      intercept[RuntimeException] {
        Search.compactGraphIndex(spark, s"$freshDir/idx",
          onStep = l => if (l.endsWith(s":$step")) throw new RuntimeException(s"boom at $l"))
      }
      val midCrash = Search.graphSearchIndexed(spark, s"$freshDir/idx", query,
        k = 6, beam = 3, hops = 3, buckets = 2).select("id").as[Long].collect().toSeq
      assert(midCrash === before, s"mid-crash($step) serving must be unchanged")
      Search.compactGraphIndex(spark, s"$freshDir/idx")
      val after = Search.graphSearchIndexed(spark, s"$freshDir/idx", query,
        k = 6, beam = 3, hops = 3, buckets = 2).select("id").as[Long].collect().toSeq
      assert(after === before, s"compaction must not change serving ($step)")
      // physically gone: no node row, no edge touching a deleted id, no
      // ring member, no tombstone store
      assert(spark.read.parquet(s"$freshDir/idx/nodes")
        .filter(col("id").isin(a, e2)).count() === 0L)
      assert(spark.read.parquet(s"$freshDir/idx/edges")
        .filter(col("__vid").isin(a, e2) || col("nbr_id").isin(a, e2))
        .count() === 0L)
      assert(spark.read.parquet(s"$freshDir/idx/entries")
        .filter(col("id").isin(a, e2)).count() === 0L)
      assert(!new java.io.File(s"$freshDir/idx/_tombstones").exists())
    }
  }

  test("rebuildGraphIndex preserves a cos-carrying edge schema; id-only stores stay id-only") {
    val corpus = clusteredCorpus(20)
    val nodes = corpus.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Search.kmeansTrain(nodes, col("id"), col("vec"), k = 2)
    val edges = Search.nnDescend(nodes, col("id"), col("vec"),
      Search.knnGraph(nodes, col("id"), col("vec"), cents, k = 2)
        .select(col("__vid"), col("nbr_id")), k = 2, rounds = 1)
    val dir = tempDir("graft_grb_cos")
    // cos-carrying store: the weight column must survive a rebuild —
    // a weighted centrality reader breaks otherwise
    Search.writeGraphIndex(nodes, col("id"), col("vec"),
      edges.select("__vid", "nbr_id", "cos"), s"$dir/w", entriesN = 4, buckets = 2)
    Search.rebuildGraphIndex(spark, s"$dir/w", kmeansK = 2, linkK = 2,
      ringR = 2, rounds = 1, entriesN = 4, buckets = 2)
    val wCols = spark.read.parquet(s"$dir/w/edges").columns.toSet
    assert(wCols.contains("cos"), s"rebuild dropped cos: $wCols")
    assert(spark.read.parquet(s"$dir/w/edges").filter(col("cos").isNull).count() === 0)
    // id-only store: the rebuild must NOT add a column
    Search.writeGraphIndex(nodes, col("id"), col("vec"),
      edges.select("__vid", "nbr_id"), s"$dir/p", entriesN = 4, buckets = 2)
    Search.rebuildGraphIndex(spark, s"$dir/p", kmeansK = 2, linkK = 2,
      ringR = 2, rounds = 1, entriesN = 4, buckets = 2)
    assert(!spark.read.parquet(s"$dir/p/edges").columns.contains("cos"))
  }

  test("rebuildGraphIndex: deletes applied + appends re-linked equals a fresh build on the live set; ring refreshed; crash injection; straddler exactly once") {
    import org.apache.spark.sql.DataFrame
    val corpus = clusteredCorpus(40)
    def recipe(nodes: DataFrame, path: String): Unit = {
      val cents = Search.kmeansTrain(nodes, col("id"), col("vec"), k = 4)
      val seed = Search.knnGraph(nodes, col("id"), col("vec"), cents, k = 2)
        .select(col("__vid"), col("nbr_id"))
        .unionByName(Search.hashRingEdges(nodes, col("id"), r = 2))
      val edges = Search.nnDescend(nodes, col("id"), col("vec"), seed,
        k = 2, rounds = 1).select("__vid", "nbr_id")
      Search.writeGraphIndex(nodes, col("id"), col("vec"), edges, path,
        entriesN = 8, buckets = 4)
    }
    def nodesOf(c: DataFrame) = c.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val dir = tempDir("graft_grebuild")
    recipe(nodesOf(corpus), s"$dir/idx")
    // entry ring member to delete: smallest md5 of 0..39
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ringMember = (0L to 39L).minBy(i => md5hex(i.toString))
    val del = Seq(ringMember, 7L, 13L)
    Search.deleteFromGraphIndex(del.toDF("id"), col("id"), s"$dir/idx")
    val appended = Seq((100L, Seq(1f, 0.5f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (101L, Seq(0f, 1f, 0.5f, 0f, 0f, 0f, 0f, 0f)))
    Search.appendToGraphIndex(appended.toDF("id", "vec"), col("id"),
      col("vec"), s"$dir/idx", linkK = 2, buckets = 4)
    Search.rebuildGraphIndex(spark, s"$dir/idx", kmeansK = 4, linkK = 2,
      ringR = 2, rounds = 1, entriesN = 8, buckets = 4)
    // the fresh reference: the same recipe on the live node set
    val live = nodesOf(corpus.filter(!col("vec_id").isin(del: _*)))
      .unionByName(appended.toDF("id", "vec"))
    recipe(live, s"$dir/fresh")
    def table(p: String, cols: Seq[String]) = spark.read.parquet(p)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(table(s"$dir/idx/nodes", Seq("id")) === table(s"$dir/fresh/nodes", Seq("id")))
    assert(table(s"$dir/idx/edges", Seq("__vid", "nbr_id")) ===
      table(s"$dir/fresh/edges", Seq("__vid", "nbr_id")),
      "rebuilt edge set must equal the fresh build's (appends re-linked, deletes gone)")
    assert(table(s"$dir/idx/entries", Seq("id")) === table(s"$dir/fresh/entries", Seq("id")))
    // ring refreshed: the deleted member replaced, ring back at full size
    val ring = spark.read.parquet(s"$dir/idx/entries").select("id").as[Long].collect().toSet
    assert(ring.size === 8 && !ring.contains(ringMember),
      s"refreshed ring must replace the deleted member: $ring")
    // tombstones consumed (pre-snapshot ones applied, none carried)
    assert(!new java.io.File(s"$dir/idx/_tombstones").exists())
    val query = Seq(Tuple1(Seq(1f, 0.45f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("qv")
    def serve(p: String) = Search.graphSearchIndexed(spark, p, query,
      k = 5, beam = 4, hops = 3, buckets = 4)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    assert(serve(s"$dir/idx") === serve(s"$dir/fresh"))
    // crash injection: boom at each step, re-run converges to the same state
    Seq("staged", "prepared", "vacated").foreach { step =>
      val cdir = tempDir(s"graft_grb_$step")
      recipe(nodesOf(corpus), s"$cdir/idx")
      Search.deleteFromGraphIndex(Seq(7L).toDF("id"), col("id"), s"$cdir/idx")
      intercept[RuntimeException] {
        Search.rebuildGraphIndex(spark, s"$cdir/idx", kmeansK = 4, linkK = 2,
          ringR = 2, rounds = 1, entriesN = 8, buckets = 4,
          onStep = l => if (l == step) throw new RuntimeException(s"boom at $l"))
      }
      Search.rebuildGraphIndex(spark, s"$cdir/idx", kmeansK = 4, linkK = 2,
        ringR = 2, rounds = 1, entriesN = 8, buckets = 4)
      recipe(nodesOf(corpus.filter(col("vec_id") =!= 7L)), s"$cdir/fresh")
      assert(serve(s"$cdir/idx") === serve(s"$cdir/fresh"), s"after crash at $step")
      assert(table(s"$cdir/idx/edges", Seq("__vid", "nbr_id")) ===
        table(s"$cdir/fresh/edges", Seq("__vid", "nbr_id")), s"after crash at $step")
    }
    // straddling append during the rebuild: caught up into the staged
    // graph exactly once and reachable afterwards
    val sdir = tempDir("graft_grb_straddle")
    recipe(nodesOf(corpus), s"$sdir/idx")
    var injected = false
    Search.rebuildGraphIndex(spark, s"$sdir/idx", kmeansK = 4, linkK = 2,
      ringR = 2, rounds = 1, entriesN = 8, buckets = 4,
      onStep = l => if (l == "staged" && !injected) {
        injected = true
        Search.appendToGraphIndex(
          Seq((200L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 0.5f, 1f))).toDF("id", "vec"),
          col("id"), col("vec"), s"$sdir/idx", linkK = 2, buckets = 4)
      })
    assert(injected)
    val ids = spark.read.parquet(s"$sdir/idx/nodes").select("id").as[Long].collect()
    assert(ids.count(_ == 200L) === 1, "straddler exactly once")
    val q200 = Seq(Tuple1(Seq(0f, 0f, 0f, 0f, 0f, 0f, 0.5f, 1f))).toDF("qv")
    assert(Search.graphSearchIndexed(spark, s"$sdir/idx", q200,
        k = 1, beam = 4, hops = 4, buckets = 4)
      .select("id").as[Long].head() === 200L,
      "straddler reachable through its re-derived links")
  }

  test("retrainIvfIndex: pre-snapshot tombstones are applied, mid-migration ones carried") {
    val all = clusteredCorpus(60)
    val cents0 = Search.kmeansTrain(all, col("vec_id"), col("embedding"), k = 4)
    val dir = tempDir("graft_retrain_td")
    Search.writeIvfIndex(all, col("embedding"), cents0, s"$dir/idx")
    val deleted = Seq(5L, 17L, 33L)
    Search.deleteFromIvfIndex(deleted.toDF("vec_id"), col("vec_id"), s"$dir/idx")
    var injected = false
    val newCents = Search.retrainIvfIndex(spark, s"$dir/idx",
      col("vec_id"), col("embedding"), k = 4,
      onStep = step => if (step == "staged" && !injected) {
        injected = true
        Search.deleteFromIvfIndex(Seq(41L).toDF("vec_id"), col("vec_id"), s"$dir/idx")
      })
    assert(injected)
    // applied: pre-snapshot deletes are gone from the migrated layout,
    // and the new codebook equals a fresh train on the SURVIVING corpus
    val ids = spark.read.parquet(s"$dir/idx").select("vec_id").as[Long].collect().toSeq
    assert(deleted.forall(!ids.contains(_)), "pre-snapshot tombstones applied")
    val centsF = Search.kmeansTrain(all.filter(!col("vec_id").isin(deleted: _*)),
      col("vec_id"), col("embedding"), k = 4)
    val nc = newCents.select(col("cid"), col("c")).as[(Long, Seq[Double])]
      .collect().sortBy(_._1)
    val fc = centsF.select(col("cid"), col("c")).as[(Long, Seq[Double])]
      .collect().sortBy(_._1)
    nc.zip(fc).foreach { case ((_, c1), (_, c2)) =>
      c1.zip(c2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) } }
    // carried: the mid-migration tombstone survives the swap unapplied —
    // its row is still in the data but every probe filters it
    assert(ids.contains(41L), "mid-migration tombstone not applied yet")
    assert(new java.io.File(s"$dir/idx/_tombstones").exists())
    val q = all.filter(col("vec_id") === 41L).select(col("embedding").as("qv"))
    val served = Search.knnIvfIndexed(spark, s"$dir/idx", col("embedding"),
      newCents, q, nprobe = 4, k = 60, tie = col("vec_id"))
      .select("vec_id").as[Long].collect()
    assert(!served.contains(41L), "carried tombstone keeps filtering probes")
    // and a later compaction applies it
    Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"))
    assert(!spark.read.parquet(s"$dir/idx").select("vec_id").as[Long]
      .collect().contains(41L))
  }

  test("retrainIvfIndex: an append straddling the migration is kept exactly once, replay stays exact-once") {
    val all = clusteredCorpus(90)
    val a = all.filter(col("vec_id") < 50)
    val b = all.filter(col("vec_id") >= 50 && col("vec_id") < 70)
    val late = all.filter(col("vec_id") >= 70)
    val centsA = Search.kmeansTrain(a, col("vec_id"), col("embedding"), k = 4)
    val dir = tempDir("graft_retrain_s")
    Search.writeIvfIndex(a, col("embedding"), centsA, s"$dir/idx")
    // a streamed batch BEFORE the migration, with its replay marker
    graft.streaming.Streams.applyIvfBatch(b, col("embedding"),
      centsA.select(col("cid"), col("c")), s"$dir/idx", batchId = 7L)
    // inject a straddling append: a streamed batch (OLD frozen codebook)
    // lands after the snapshot is staged but before the swap
    var injected = false
    val newCents = Search.retrainIvfIndex(spark, s"$dir/idx",
      col("vec_id"), col("embedding"), k = 4,
      onStep = step => if (step == "staged" && !injected) {
        injected = true
        graft.streaming.Streams.applyIvfBatch(late, col("embedding"),
          centsA.select(col("cid"), col("c")), s"$dir/idx", batchId = 8L)
      })
    assert(injected)
    // not lost, not doubled: every row exactly once
    val ids = spark.read.parquet(s"$dir/idx").select("vec_id")
      .as[Long].collect().sorted.toSeq
    assert(ids === (0L until 90L).toSeq)
    // the caught-up rows were RE-ASSIGNED under the new codebook
    val book = newCents.select(col("cid"), col("c"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val got = spark.read.parquet(s"$dir/idx")
      .filter(col("vec_id") >= 70)
      .withColumn("expect", graft.functions.VectorExpressions.nearestCentroid(
        spark, col("embedding"), book.map(_._1).toSeq, book.map(_._2).toSeq))
      .filter(col("cluster").cast("long") =!= col("expect"))
    assert(got.count() === 0, "straddling rows must carry new-codebook clusters")
    // replay markers survived the migration: re-delivering batch 8 is a no-op
    graft.streaming.Streams.applyIvfBatch(late, col("embedding"),
      centsA.select(col("cid"), col("c")), s"$dir/idx", batchId = 8L)
    assert(spark.read.parquet(s"$dir/idx").count() === 90L,
      "a checkpoint replay after migration must not double-append")
  }

  test("IVFADC takedown: tombstones exclude PQ codes from serving immediately; compaction + crash injection parity with IVF") {
    val all = clusteredCorpus(80)
    val cents = Search.kmeansTrain(all, col("vec_id"), col("embedding"), k = 4)
    val book = Search.pqTrain(all, col("vec_id"), col("embedding"), m = 4, ks = 8)
    val dir = tempDir("graft_ivfpq_td")
    Search.writeIvfPqIndex(all, col("embedding"), cents, book, ks = 8, s"$dir/idx")
    val q = all.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    // exact config (all clusters probed, corpus-sized rerank pool): the
    // layout must reproduce brute force, so the delete's effect is
    // checkable as brute-minus-deleted with rank k+1 replacement
    def serve(path: String) = Search.knnIvfPq(spark, path, col("embedding"),
        cents, book, ks = 8, q, nprobe = Int.MaxValue, k = 10,
        tie = col("vec_id"), refine = 8)
      .select("vec_id", "score").as[(Long, Double)].collect().toSeq
    val pre = serve(s"$dir/idx")
    val deleted = pre.take(3).map(_._1)
    Search.deleteFromIvfIndex(deleted.toDF("vec_id"), col("vec_id"), s"$dir/idx")
    val post = serve(s"$dir/idx")
    assert(deleted.forall(id => !post.exists(_._1 == id)) && post.size == 10,
      "recalled PQ codes must stop scoring immediately")
    // equals a fresh IVFADC build (same codebooks) without the deleted rows
    val freshDir = tempDir("graft_ivfpq_td_f")
    Search.writeIvfPqIndex(all.filter(!col("vec_id").isin(deleted: _*)),
      col("embedding"), cents, book, ks = 8, s"$freshDir/idx")
    assert(post === serve(s"$freshDir/idx"))
    // compactIvfIndex is layout-agnostic (cluster partitions + id): the
    // physical apply removes the rows, drops the store, serving unchanged
    Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"))
    assert(spark.read.parquet(s"$dir/idx")
      .filter(col("vec_id").isin(deleted: _*)).count() === 0L)
    assert(!new java.io.File(s"$dir/idx/_tombstones").exists())
    assert(serve(s"$dir/idx") === post, "serving unchanged by the physical apply")
    // crash injection at each swap step, then a clean retry completes —
    // the same discipline the IVF layout pins
    import spark.implicits._
    val members = spark.read.parquet(s"$dir/idx")
      .select(col("vec_id")).as[Long].collect().sorted.toSeq
    Seq("staged", "vacated").zipWithIndex.foreach { case (step, i) =>
      val ids = Seq(members(20 + 2 * i), members(21 + 2 * i))
      Search.deleteFromIvfIndex(ids.toDF("vec_id"), col("vec_id"), s"$dir/idx")
      assert(ids.forall(id => !serve(s"$dir/idx").exists(_._1 == id)))
      intercept[RuntimeException] {
        Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"),
          onStep = l => if (l.endsWith(s":$step")) throw new RuntimeException(s"boom at $l"))
      }
      // serving stays correct between the crash and the retry (heal runs
      // inside the probe path)
      assert(ids.forall(id => !serve(s"$dir/idx").exists(_._1 == id)),
        s"mid-crash($step) serving must still exclude deleted ids")
      Search.compactIvfIndex(spark, s"$dir/idx", col("vec_id"))
      assert(spark.read.parquet(s"$dir/idx")
        .filter(col("vec_id").isin(ids: _*)).count() === 0L, s"after crash at $step")
      assert(!new java.io.File(s"$dir/idx/_tombstones").exists())
    }
  }
}
