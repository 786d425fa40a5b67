package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val D = 0.85

  test("pageRank: 3-cycle stays uniform (the stationary point)") {
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val pr = GraphAnalytics.pageRank(nodes, edges, iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(pr.keySet === Set(0L, 1L, 2L))
    pr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("pageRank: star with dangling hub matches the hand-computed rounds") {
    // 1,2,3 → 0; node 0 has no out-edges (dangling).
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    // Replay the published recurrence by hand for 2 rounds (N=4):
    //   round 1 from pr=0.25 each: dm=0.25
    //     leaf = 0.0375 + 0.85*(0.0625 + 0)      = 0.0903125
    //     hub  = 0.0375 + 0.85*(0.0625 + 0.75)   = 0.728125
    //   round 2: dm = hub1
    var leaf = 1.0 / 4; var hub = 1.0 / 4
    for (_ <- 1 to 2) {
      val dm = hub
      val nl = (1 - D) / 4 + D * (dm / 4 + 0.0)
      val nh = (1 - D) / 4 + D * (dm / 4 + (leaf + leaf + leaf))
      leaf = nl; hub = nh
    }
    val pr = GraphAnalytics.pageRank(nodes, edges, iters = 2)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr(0L) - hub) < 1e-15, s"hub ${pr(0L)} vs $hub")
    Seq(1L, 2L, 3L).foreach(i =>
      assert(math.abs(pr(i) - leaf) < 1e-15, s"leaf ${pr(i)} vs $leaf"))
  }

  test("pageRank: mass is conserved with dangling redistribution") {
    val nodes = (0L to 9L).toDF("id")
    // sparse asymmetric graph incl. two dangling nodes (8, 9)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 4L),
      (4L, 5L), (5L, 3L), (6L, 8L), (7L, 9L)).toDF("src", "dst")
    val total = GraphAnalytics.pageRank(nodes, edges, iters = 5)
      .agg(sum("pr")).as[Double].head()
    assert(math.abs(total - 1.0) < 1e-9, s"mass $total")
  }

  test("pageRank: in-degree concentration ranks the hub highest; deterministic reruns") {
    val nodes = (0L to 5L).toDF("id")
    val edges = ((1L to 5L).map(i => (i, 0L)) ++ Seq((0L, 1L))).toDF("src", "dst")
    val a = GraphAnalytics.pageRank(nodes, edges, iters = 3, subBuckets = 2)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = GraphAnalytics.pageRank(nodes, edges, iters = 3, subBuckets = 2)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a === b) // bit-identical, not approximately
    assert(a.maxBy(_._2)._1 === 0L)
  }

  test("pageRank: deeper iteration counts keep exact values (per-round cuts)") {
    // every round is cut (sized coalesce + lazy localCheckpoint); the
    // cut must not perturb values at any depth
    val nodes = (0L to 5L).toDF("id")
    val edges = ((1L to 5L).map(i => (i, 0L)) ++ Seq((0L, 1L))).toDF("src", "dst")
    val a = GraphAnalytics.pageRank(nodes, edges, iters = 4)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = GraphAnalytics.pageRank(nodes, edges, iters = 4)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a === b)
    assert(math.abs(a.map(_._2).sum - 1.0) < 1e-9) // mass conserved through cuts
  }

  test("orderedSumByKey: bit-equal across sub-bucket counts on exact-representable values") {
    // powers of two sum exactly in any order — the assert is about the
    // CONTRACT (same total per key from any subBuckets), not FP luck
    val df = (0L until 64L).map(i => (i % 4, i, math.pow(2.0, -(i % 50).toInt)))
      .toDF("k", "o", "x")
    val s1 = GraphAnalytics.orderedSumByKey(df, "k", "o", "x", subBuckets = 1)
      .as[(Long, Double)].collect().toMap
    val s16 = GraphAnalytics.orderedSumByKey(df, "k", "o", "x", subBuckets = 16)
      .as[(Long, Double)].collect().toMap
    assert(s1 === s16)
  }

  test("orderedSumByKeySized: in-plan b reproduces the literal fold bit-for-bit") {
    val df = (0L until 97L).map(i => (i % 3, i, 1.0 / (1L << (i % 40))))
      .toDF("k", "o", "x")
    val lit7 = GraphAnalytics.orderedSumByKey(df, "k", "o", "x", subBuckets = 7)
      .as[(Long, Double)].collect().toMap
    val sized = GraphAnalytics.orderedSumByKeySized(df, "k", "o", "x",
        spark.range(1).select(lit(7L).as("__b")))
      .as[(Long, Double)].collect().toMap
    assert(lit7 === sized)
  }

  test("subBucketsFor: b = max(floor, ceil(sqrt(N))), derived with zero driver jobs at plan time") {
    assert(GraphAnalytics.subBucketsFor((0L until 500L).toDF("id"))
      .as[Long].head() === 23L) // ceil(sqrt(500)) = 23 > 16
    assert(GraphAnalytics.subBucketsFor((0L until 100L).toDF("id"))
      .as[Long].head() === 16L) // floor wins below 256 nodes
    assert(GraphAnalytics.subBucketsFor((0L until 100L).toDF("id"), floor = 2)
      .as[Long].head() === 10L)
  }

  test("mega-hub: a 100k-in-degree dst folds through ~sqrt(N) slices and matches the published order exactly") {
    // star: leaves 1..n-1 → hub 0; hub dangling. The per-(key, bucket)
    // collect is bounded by ceil((n-1)/b) ≈ 317 instead of the old
    // (n-1)/16 = 6250 — and the VALUE must equal the slice-major fold
    // replayed in plain Scala (same b, same order), not just "a sum".
    val n = 100001L
    val nodes = spark.range(n).toDF("id")
    val edges = spark.range(1L, n).select($"id".as("src"), lit(0L).as("dst"))
    val b = GraphAnalytics.subBucketsFor(nodes).as[Long].head()
    assert(b === 317L) // ceil(sqrt(100001))
    val pr = GraphAnalytics.pageRank(nodes, edges, iters = 1)
      .as[(Long, Double)].collect().toMap
    // replay round 1 exactly: dm folds {0 -> 1/n} (single value); the
    // hub's contribution sum folds (n-1) copies of 1/n in the two-level
    // slice-major order with the SAME derived b
    val t = 1.0 / n
    val sliceSums = (1L until n).groupBy(_ % b).toSeq.sortBy(_._1)
      .map { case (_, ids) => ids.sorted.foldLeft(0.0)((a, _) => a + t) }
    val hubSum = sliceSums.foldLeft(0.0)(_ + _)
    val hubExp = (1 - D) * t + D * (t * t + hubSum)
    val leafExp = (1 - D) * t + D * (t * t + 0.0)
    assert(pr(0L) === hubExp) // bit-exact, not approximate
    assert(pr(1L) === leafExp && pr(n - 1) === leafExp)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
  }

  test("prIterate conserves mass even when edges point outside the node set (dst semi-join)") {
    // ADVICE r15: an edge to a non-node used to count in od yet deliver
    // nowhere → sum(pr) < 1 silently. Now it is removed up front and a
    // node whose WHOLE out-list pointed outside becomes honestly dangling.
    val nodes = Seq(0L, 1L).toDF("id")
    val leaky = Seq((0L, 1L), (0L, 99L), (1L, 98L)).toDF("src", "dst")
    val pr = GraphAnalytics.pageRank(nodes, leaky, iters = 3)
      .as[(Long, Double)].collect().toMap
    assert(pr.keySet === Set(0L, 1L))
    assert(math.abs(pr.values.sum - 1.0) < 1e-12, s"mass ${pr.values.sum}")
    // node 1's only edge left the graph → it is dangling, and the graph
    // must equal the explicitly-cleaned spelling bit-for-bit
    val clean = GraphAnalytics.pageRank(nodes, Seq((0L, 1L)).toDF("src", "dst"),
      iters = 3).as[(Long, Double)].collect().toMap
    assert(pr === clean)
  }

  test("weightedPageRank: equal weights are BIT-identical to plain pageRank") {
    val nodes = (0L to 9L).toDF("id")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 4L),
      (4L, 5L), (5L, 3L), (6L, 8L), (7L, 9L)).toDF("src", "dst")
    val plain = GraphAnalytics.pageRank(nodes, edges, iters = 4)
      .as[(Long, Double)].collect().toMap
    val w1 = GraphAnalytics.weightedPageRank(nodes,
        edges.withColumn("w", lit(1.0)), iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(plain === w1) // exact: the 1.0-weight fold sums to the count
  }

  test("weightedPageRank: mass splits in weight proportion and is conserved") {
    // 0 -> 1 (w .75), 0 -> 2 (w .25); 1 and 2 dangling. Round 1 from
    // uniform: dm = pr(1)+pr(2) = 2/3 (fold order: id 1 then 2);
    // W(0) = .75+.25 = 1 exactly.
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val edges = Seq((0L, 1L, 0.75), (0L, 2L, 0.25)).toDF("src", "dst", "w")
    val pr = GraphAnalytics.weightedPageRank(nodes, edges, iters = 1)
      .as[(Long, Double)].collect().toMap
    val t = 1.0 / 3; val dm = t + t
    assert(pr(0L) === (1 - D) * t + D * (dm * t + 0.0))
    assert(pr(1L) === (1 - D) * t + D * (dm * t + t * 0.75 / 1.0))
    assert(pr(2L) === (1 - D) * t + D * (dm * t + t * 0.25 / 1.0))
    assert(math.abs(pr.values.sum - 1.0) < 1e-12)
    // the heavy edge's target outranks the light one's
    assert(pr(1L) > pr(2L))
  }

  test("personalizedPageRank: mass stays in the seed component; conserved; dangling returns to seeds") {
    // two components: {0,1} (0 seeded, 1 dangling) and {2,3} (unseeded cycle)
    val nodes = Seq((0L, true), (1L, false), (2L, false), (3L, false))
      .toDF("id", "seed")
    val edges = Seq((0L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val pr = GraphAnalytics.personalizedPageRank(nodes, edges, iters = 4)
      .as[(Long, Double)].collect().toMap
    // the unseeded component can only lose mass (no teleport lands there)
    assert(pr(2L) === 0.0 && pr(3L) === 0.0)
    assert(pr(0L) > pr(1L) && pr(1L) > 0.0) // seed holds the teleport mass
    assert(math.abs(pr.values.sum - 1.0) < 1e-12) // dangling 1 returns via seeds
  }

  test("personalizedPageRank: hand-computed round on a 2-node seed→leaf edge") {
    val nodes = Seq((0L, true), (1L, false)).toDF("id", "seed")
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    // t = (1, 0); round 1 from pr = t: dangling = {1} with pr 0 → dm = 0
    //   pr(0) = 0.15*1 + 0.85*(0*1 + 0)  = 0.15
    //   pr(1) = 0.15*0 + 0.85*(0*0 + 1)  = 0.85
    val pr = GraphAnalytics.personalizedPageRank(nodes, edges, iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr(0L) - (1 - D)) < 1e-15 && math.abs(pr(1L) - D) < 1e-15)
  }

  test("labelProp: path propagates from clamped ends; majority + min-label tiebreak") {
    // path 0-1-2-3-4 (undirected), seeds: 0→lbl 1, 4→lbl 2.
    val nodes = Seq((0L, Some(1)), (1L, None), (2L, None), (3L, None),
      (4L, Some(2))).toDF("id", "seed")
    val dir = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val und = dir.unionByName(dir.select($"dst".as("src"), $"src".as("dst")))
    val r1 = GraphAnalytics.labelPropagation(nodes, und, iters = 1)
      .as[(Long, Option[Int])].collect().toMap
    // after 1 round only the seed-adjacent nodes are labeled
    assert(r1 === Map(0L -> Some(1), 1L -> Some(1), 2L -> None,
      3L -> Some(2), 4L -> Some(2)))
    val r2 = GraphAnalytics.labelPropagation(nodes, und, iters = 2)
      .as[(Long, Option[Int])].collect().toMap
    // node 2 now sees one vote of each label → tie → min label wins
    assert(r2(2L) === Some(1))
    // seeds never drift even once surrounded by the other label
    assert(r2(0L) === Some(1) && r2(4L) === Some(2))
  }

  test("labelProp: no labeled neighbor keeps the current label; isolates stay null") {
    val nodes = Seq((0L, Some(7)), (1L, None), (2L, None)).toDF("id", "seed")
    val edges = Seq((0L, 1L)).toDF("src", "dst") // node 2 is isolated
    val out = GraphAnalytics.labelPropagation(nodes, edges, iters = 3)
      .as[(Long, Option[Int])].collect().toMap
    assert(out === Map(0L -> Some(7), 1L -> Some(7), 2L -> None))
  }

  test("labelProp meter query: seeds are exact and accuracy is high on the blocked graph") {
    val acc = GraphAnalytics.queries("graph_label_prop_acc")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Double)].head()
    val (nNodes, nSeed, nPred, nCorrect, a) = acc
    assert(nSeed === nNodes / 5)
    assert(nPred > 0 && nCorrect <= nPred)
    // the testdata embeddings are only weakly label-correlated (the same
    // reason the ANN recall meters sit well below 1.0), so the pin is
    // "clearly above the 1-in-20 chance floor", not a high absolute:
    // measured 0.156 at sf0.001 ≈ 3x chance
    assert(a > 0.1, s"acc $a")
  }

  test("weighted labelProp: one trusted heavy edge outvotes two light ones (diverges from majority)") {
    // node 0 unlabeled; seeds: 1 (label 1, w .9), 2 and 3 (label 2, w .2)
    val nodes = Seq((0L, None), (1L, Some(1)), (2L, Some(2)), (3L, Some(2)))
      .toDF("id", "seed")
    val ew = Seq((1L, 0L, 0.9), (2L, 0L, 0.2), (3L, 0L, 0.2))
      .toDF("src", "dst", "w")
    val weighted = GraphAnalytics.weightedLabelPropagation(nodes, ew, iters = 1)
      .as[(Long, Option[Int])].collect().toMap
    val majority = GraphAnalytics.labelPropagation(nodes,
        ew.select("src", "dst"), iters = 1)
      .as[(Long, Option[Int])].collect().toMap
    assert(weighted(0L) === Some(1)) // 0.9 > 0.4
    assert(majority(0L) === Some(2)) // 2 votes > 1 vote
  }

  test("weighted labelProp: exact-tie mass falls to the smaller label; clamping holds") {
    val nodes = Seq((0L, None), (1L, Some(5)), (2L, Some(3))).toDF("id", "seed")
    val ew = Seq((1L, 0L, 0.25), (2L, 0L, 0.25)).toDF("src", "dst", "w")
    val out = GraphAnalytics.weightedLabelPropagation(nodes, ew, iters = 2)
      .as[(Long, Option[Int])].collect().toMap
    assert(out(0L) === Some(3)) // equal mass → min label
    assert(out(1L) === Some(5) && out(2L) === Some(3))
  }

  test("density query: every node has its blocked degree <= 3 and a sane mean cosine") {
    val rows = GraphAnalytics.queries("graph_density")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, deg, mc) =>
      assert(deg >= 1 && deg <= 3, s"$id degree $deg")
      assert(mc >= -1.0 - 1e-9 && mc <= 1.0 + 1e-9, s"$id mean_cos $mc")
    }
  }

  test("clustering: hand-counted triangle census; direction and dups erased") {
    // triangle 0-1-2 plus pendant 0-3; edges deliberately mixed-direction
    // and duplicated — pairs {01,02,12,03}; deg 3/2/2/1 → wedges 3+1+1=5;
    // one triangle; coeff 3·1/5 = 0.6
    val e = Seq((0L, 1L), (1L, 0L), (2L, 0L), (1L, 2L), (3L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val (nPairs, nWedges, nTri, coeff) = GraphAnalytics.clusteringOf(e)
      .as[(Long, Long, Long, Double)].head()
    assert((nPairs, nWedges, nTri) === ((4L, 5L, 1L)))
    assert(math.abs(coeff - 0.6) < 1e-12)
  }

  test("clustering query: consistent census on the bound corpus") {
    val (nPairs, nWedges, nTri, coeff) =
      GraphAnalytics.queries("graph_clustering")(spark, "/root/testdata/sf0.001")
        .as[(Long, Long, Long, Double)].head()
    assert(nPairs > 0 && nWedges > 0 && nTri >= 0)
    assert(coeff >= 0.0 && coeff <= 1.0, s"coeff $coeff")
    assert(math.abs(coeff - 3.0 * nTri / nWedges) < 1e-6)
  }

  test("takedown centrality: recalled ids leave the ranking; mass renormalizes over survivors") {
    val d = "/root/testdata/sf0.001"
    val pr = GraphAnalytics.queries("graph_pagerank_del")(spark, d).as[(Long, Double)].collect()
    val ids = pr.map(_._1).toSet
    Retrieval.GraphDeletedIds.foreach(i => assert(!ids.contains(i), s"recalled $i still ranked"))
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(ids.size.toLong === n - Retrieval.GraphDeletedIds.size)
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-6)
  }

  test("components over a streamed at-rest graph: inserts join components through their links") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Search
    import graft.streaming.Streams
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft_graph_cc_stream")
    def ang(deg: Double) = Array(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    // TWO disjoint rings in the stored layout (0-3 near 0°, 10-13 near
    // 180°) — two components before the stream
    val base = (0 until 4).map(i => (i.toLong, ang(i * 4))) ++
      (0 until 4).map(i => ((10 + i).toLong, ang(180 + i * 4)))
    val rings = Seq(0L, 10L).flatMap(b => (0 until 4).flatMap(i =>
      Seq((b + i, b + (i + 1) % 4), (b + i, b + (i + 3) % 4))))
    Search.writeGraphIndex(base.toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", rings.toDF("__vid", "nbr_id"),
      s"$dir/idx", entriesN = 4, buckets = 4)
    def comps() = GraphAnalytics.connectedComponents(
      spark.read.parquet(s"$dir/idx/nodes").select($"id"),
      spark.read.parquet(s"$dir/idx/edges")
        .select($"__vid".as("src"), $"nbr_id".as("dst")))
      .as[(Long, Long)].collect().toMap
    val before = comps()
    assert(before.values.toSet === Set(0L, 10L))
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streams.graphIngest(input.toDF().toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", s"$dir/idx", s"$dir/ckpt",
      linkK = 2, beam = 4, hops = 4, buckets = 4)
    try {
      // a streamed insert near the 0° ring joins component 0 through
      // its insert-time links, with no rebuild
      input.addData(Seq((100L, ang(6)))); q.processAllAvailable()
      val after = comps()
      assert(after(100L) === 0L, s"streamed node landed in ${after(100L)}")
      assert(after.view.filterKeys(_ != 100L).toMap === before)
      assert(comps() === after) // deterministic refresh
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("pageRank over a streamed at-rest graph: inserts enter the ranking, mass stays 1") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Search
    import graft.streaming.Streams
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft_graph_pr_stream")
    def ang(deg: Double) = Array(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = (0 until 8).map(i => (i.toLong, ang(30 + i * 15)))
    val ring = (0 until 8).flatMap(i =>
      Seq((i.toLong, ((i + 1) % 8).toLong), (i.toLong, ((i + 7) % 8).toLong)))
    Search.writeGraphIndex(base.toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", ring.toDF("__vid", "nbr_id"),
      s"$dir/idx", entriesN = 4, buckets = 4)
    def ranks() = GraphAnalytics.pageRank(
      spark.read.parquet(s"$dir/idx/nodes").select($"id"),
      spark.read.parquet(s"$dir/idx/edges")
        .select($"__vid".as("src"), $"nbr_id".as("dst")),
      iters = 3).as[(Long, Double)].collect().toMap
    val before = ranks()
    assert(before.keySet === (0L until 8L).toSet)
    assert(math.abs(before.values.sum - 1.0) < 1e-12)
    val input = MemoryStream[(Long, Array[Double])]
    val q = Streams.graphIngest(input.toDF().toDF("vec_id", "embedding"),
      $"vec_id", $"embedding", s"$dir/idx", s"$dir/ckpt",
      linkK = 2, beam = 4, hops = 4, buckets = 4)
    try {
      input.addData(Seq((100L, ang(2)), (101L, ang(-2)))); q.processAllAvailable()
      val after = ranks()
      // the centrality refresh sees the streamed nodes without any
      // rebuild — mass re-normalizes over the grown node set
      assert(after.keySet === before.keySet ++ Set(100L, 101L))
      assert(after(100L) > 0.0 && after(101L) > 0.0)
      assert(math.abs(after.values.sum - 1.0) < 1e-12)
      assert(ranks() === after) // deterministic refresh
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("takedown label propagation: a deleted seed's past votes stop conducting (dependents flip)") {
    import graft.operators.Search
    val dir = tempDir("graft_lp_del")
    try {
      // path 0-1-2-3-4; seeds: 0 -> label 1, 4 -> label 2. With both
      // seeds, node 2 ties at round 2 and takes min label 1; with seed 0
      // tombstoned, its votes must not conduct: node 2 FLIPS to 2 and
      // node 1 (whose only label source was the recalled seed) reverts
      // to null.
      val nodes = (0L to 4L).map(i => (i, Array(i.toDouble, 1.0)))
      val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      Search.writeGraphIndex(nodes.toDF("vec_id", "embedding"),
        $"vec_id", $"embedding", edges.toDF("__vid", "nbr_id"),
        s"$dir/idx", entriesN = 2, buckets = 2)
      val seeded = Seq((0L, Some(1)), (1L, None), (2L, None), (3L, None),
        (4L, Some(2))).toDF("id", "seed")
      def run() = {
        val g = GraphAnalytics.layout(spark, seeded, s"$dir/idx")
        GraphAnalytics.labelPropagation(g.nodes,
            GraphAnalytics.undirected(g.pairs), iters = 2)
          .as[(Long, Option[Int])].collect().toMap
      }
      assert(run() === Map(0L -> Some(1), 1L -> Some(1), 2L -> Some(1),
        3L -> Some(2), 4L -> Some(2)))
      Search.deleteFromGraphIndex(Seq(0L).toDF("vec_id"), $"vec_id", s"$dir/idx")
      assert(run() === Map(1L -> None, 2L -> Some(2), 3L -> Some(2),
        4L -> Some(2)))
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("graph_label_prop_del query: recalled ids leave the labeling; seeds among survivors hold") {
    val d = "/root/testdata/sf0.001"
    val rows = GraphAnalytics.queries("graph_label_prop_del")(spark, d)
      .as[(Long, Option[Int], Boolean)].collect()
    val ids = rows.map(_._1).toSet
    Retrieval.GraphDeletedIds.foreach(i =>
      assert(!ids.contains(i), s"recalled $i still labeled"))
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.length.toLong === n - Retrieval.GraphDeletedIds.size)
    rows.filter(_._3).foreach { case (id, l, _) =>
      assert(l.isDefined, s"surviving seed $id lost its label") }
  }

  test("appended-layout centrality: increment ids enter the ranking without a rebuild; mass stays 1") {
    val d = "/root/testdata/sf0.001"
    val pr = GraphAnalytics.queries("graph_pagerank_append")(spark, d)
      .as[(Long, Double)].collect()
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(pr.length.toLong === n) // base slice + the appended increment
    val byId = pr.toMap
    Retrieval.GraphAppendIds.foreach { i =>
      assert(byId.contains(i) && byId(i) > 0.0, s"appended $i unranked") }
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-6)
  }

  test("quality propagation: clamped confident seeds, consistent meter, no unlabeled seed") {
    val d = "/root/testdata/sf0.001"
    val rows = GraphAnalytics.queries("graph_quality_prop")(spark, d)
      .as[(Long, Option[Int], Boolean)].collect()
    // every seed carries its own verdict; quality is binary where set
    rows.filter(_._3).foreach { case (id, q, _) =>
      assert(q.isDefined, s"seed $id lost its label") }
    rows.flatMap(_._2).foreach(q => assert(q == 0 || q == 1))
    val (nDocs, nSeed, nProp, nAgree, rate) =
      GraphAnalytics.queries("graph_quality_prop_acc")(spark, d)
        .as[(Long, Long, Long, Long, Double)].head()
    assert(nDocs === rows.length.toLong)
    assert(nSeed === rows.count(_._3).toLong)
    assert(nProp <= nDocs - nSeed && nAgree <= nProp)
    assert(rate >= 0.0 && rate <= 1.0)
    assert(nProp === rows.count(r => !r._3 && r._2.isDefined).toLong)
  }

  test("connectedComponents: min-id labels, isolated singleton, direction-blind") {
    // {0,1,2} triangle (given directed one way), {5,6} pair, {9} isolated
    val nodes = Seq(0L, 1L, 2L, 5L, 6L, 9L).toDF("id")
    val edges = Seq((1L, 0L), (1L, 2L), (5L, 6L)).toDF("src", "dst")
    def run() = GraphAnalytics.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L,
      9L -> 9L)
    assert(run() === expected)
    assert(run() === expected) // deterministic rerun
  }

  test("connectedComponents: distributed loop (fast path disabled) handles a mega-hub and matches the fast path") {
    // star: hub 0 with 5000 leaves, plus a separate pair — the hub's
    // min-label aggregation is a map-side-combined min, never a
    // collect_list, so one high-degree key must not change results or
    // blow a task. Forcing maxDriverEdges = 0 runs the distributed
    // pointer-jumping loop; the default runs driver union-find — the
    // two must agree byte for byte (the dupClusters parity contract,
    // re-pinned here on the graph face).
    val nodes = ((0L to 5000L) ++ Seq(9001L, 9002L)).toDF("id")
    val edges = ((1L to 5000L).map(i => (i, 0L)) :+ ((9001L, 9002L)))
      .toDF("src", "dst")
    val dist = GraphAnalytics.connectedComponents(nodes, edges,
      maxDriverEdges = 0L).as[(Long, Long)].collect().toMap
    val fast = GraphAnalytics.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(dist === fast)
    assert(dist.view.filterKeys(_ <= 5000L).values.toSet === Set(0L))
    assert(dist(9001L) === 9001L && dist(9002L) === 9001L)
  }

  test("connectedComponents: an edge endpoint outside the node set neither joins nor becomes a label") {
    // without the double semi-join, edge (1, 10) would conduct the
    // OUTSIDE id 1 into node 10's component as its min label, and edge
    // (20, 99) would bridge 20 to a non-member
    val nodes = Seq(10L, 20L).toDF("id")
    val edges = Seq((1L, 10L), (20L, 99L)).toDF("src", "dst")
    val comp = GraphAnalytics.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(10L -> 10L, 20L -> 20L))
  }

  test("kcorePeel: tail peels off in cascade, the triangle survives as the 2-core") {
    // triangle {0,1,2} with a 2-hop tail 2-3-4: round 1 peels 4
    // (deg 1), round 2 peels 3 (its deg fell to 1) — the cascade a
    // single-pass degree filter would miss
    val nodes = (0L to 4L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val out = GraphAnalytics.kcorePeel(nodes, edges, k = 2, rounds = 4)
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(
      0L -> ((true, Some(2L))), 1L -> ((true, Some(2L))),
      2L -> ((true, Some(2L))), 3L -> ((false, None)),
      4L -> ((false, None))))
    // one round is NOT enough for the cascade: node 3 still has deg 2
    val r1 = GraphAnalytics.kcorePeel(nodes, edges, k = 2, rounds = 1)
      .filter(col("in_core")).as[(Long, Boolean, Option[Long])].collect()
    assert(r1.map(_._1).toSet === Set(0L, 1L, 2L, 3L))
  }

  test("graph_kcore query: the published round count reaches the fixpoint at test SFs") {
    // fixpoint test: if any survivor's degree WITHIN the final set were
    // < k, one more round would peel it — so all-core_deg ≥ 2 proves
    // the fixed-round relation IS the converged 2-core
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = GraphAnalytics.queries("graph_kcore")(spark, d)
        .as[(Long, Boolean, Option[Long])].collect()
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      assert(rows.length.toLong === n)
      rows.filter(_._2).foreach { case (id, _, deg) =>
        assert(deg.exists(_ >= 2L), s"$d: in-core $id has core_deg $deg") }
      rows.filterNot(_._2).foreach { case (id, _, deg) =>
        assert(deg.isEmpty, s"$d: peeled $id kept core_deg $deg") }
    }
  }

  test("graph_components query: sizes consistent, propagation cannot cross components") {
    val d = "/root/testdata/sf0.001"
    val rows = GraphAnalytics.queries("graph_components")(spark, d)
      .as[(Long, Long, Long)].collect()
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.length.toLong === n)
    // component = min member id; comp_size = the member count
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (c, ms) =>
      assert(ms.map(_._1).min === c, s"component $c not its min id")
      ms.foreach { case (id, _, sz) =>
        assert(sz === ms.length.toLong, s"size mismatch at $id") }
    }
    // cross-check the label-free propagation contract: every PageRank
    // unit of mass lives inside one component, so summing pr by
    // component and re-running on ONE component's node slice must not
    // see mass from the others (structural guard, cheap at sf0.001)
    val hist = GraphAnalytics.queries("graph_components_hist")(spark, d)
      .as[(Long, Long)].collect()
    assert(hist.map(h => h._1 * h._2).sum === n)
    assert(hist.map(_._2).sum.toInt === byComp.size)
  }

  test("graph_components_del query: recalled bridge ids leave; components only ever split") {
    val d = "/root/testdata/sf0.001"
    val live = GraphAnalytics.queries("graph_components_del")(spark, d)
      .as[(Long, Long, Long)].collect()
    val ids = live.map(_._1).toSet
    Retrieval.GraphDeletedIds.foreach(i =>
      assert(!ids.contains(i), s"recalled $i still present"))
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(live.length.toLong === n - Retrieval.GraphDeletedIds.size)
    // takedown is edge-removal only: two nodes in the same live
    // component must have been in the same component BEFORE the
    // takedown (splits allowed, merges impossible) — "before" is the
    // SAME stored refined layout without its tombstones, not the
    // in-plan blocked graph componentsQ reads
    val e = spark.read.parquet(
        s"${Retrieval.graphIdxDir(spark, d)}/idx/edges")
      .select(col("__vid").as("src"), col("nbr_id").as("dst"))
    val nodes = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id").as("id"))
    val before = GraphAnalytics.connectedComponents(nodes, e)
      .as[(Long, Long)].collect().toMap
    live.groupBy(_._2).values.foreach { ms =>
      assert(ms.map(m => before(m._1)).distinct.length === 1,
        s"live component ${ms.head._2} merges pre-takedown components")
    }
  }

  test("graph_blast_radius query: hop-0 = the recalled ids, hop-1 rows share a stored edge with one") {
    val d = "/root/testdata/sf0.001"
    val rows = GraphAnalytics.queries("graph_blast_radius")(spark, d)
      .as[(Long, Int)].collect()
    val byHop = rows.groupBy(_._2).map { case (h, r) => h -> r.map(_._1).toSet }
    assert(rows.map(_._2).forall(h => h >= 0 && h <= 2))
    assert(byHop(0) === Retrieval.GraphDeletedIds.toSet)
    // every hop-1 id is adjacent (either direction) to a recalled id in
    // the stored layout; no id appears at two hop levels (min-hop)
    val e = spark.read.parquet(
        s"${Retrieval.graphIdxDir(spark, d)}/idx/edges")
      .select(col("__vid").as("src"), col("nbr_id").as("dst"))
      .as[(Long, Long)].collect()
    val adj0 = e.collect {
      case (s0, d0) if byHop(0).contains(s0) => d0
      case (s0, d0) if byHop(0).contains(d0) => s0
    }.toSet -- byHop(0)
    assert(byHop.getOrElse(1, Set.empty) === adj0)
    assert(rows.map(_._1).distinct.length === rows.length)
  }

  test("harmonic3: hand-checked path graph distances; isolated node reads zero") {
    // path 0-1-2-3-4-5 (given directed) plus isolated node 9
    val nodes = (Seq(9L) ++ (0L to 5L)).toDF("id")
    val edges = (0L to 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = GraphAnalytics.harmonic3(nodes, edges)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // node 0: d1={1}, d2={2}, d3={3} → 1 + 1/2 + 1/3
    assert(out(0L) === ((1L, 1L, 1L, 1.833333)))
    // node 2: d1={1,3}, d2={0,4}, d3={5} → 2 + 1 + 1/3
    assert(out(2L) === ((2L, 2L, 1L, 3.333333)))
    // symmetric ends agree; isolated node is all-zero
    assert(out(5L) === out(0L))
    assert(out(9L) === ((0L, 0L, 0L, 0.0)))
    // a hub sees everything at distance 1: star center n1 = N-1
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val hub = GraphAnalytics.harmonic3((0L to 5L).toDF("id"), star)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(hub(0L) === 5L)
  }

  test("graph_components_append query: inserted ids join components through their links, no rebuild") {
    val d = "/root/testdata/sf0.001"
    val rows = GraphAnalytics.queries("graph_components_append")(spark, d)
      .as[(Long, Long, Long)].collect()
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.length.toLong === n) // base slice + appended increment
    val byId = rows.map(r => r._1 -> r._2).toMap
    val e = spark.read.parquet(
        s"${Retrieval.graphAppendDir(spark, d)}/idx/edges")
      .select(col("__vid").as("src"), col("nbr_id").as("dst"))
      .as[(Long, Long)].collect()
    Retrieval.GraphAppendIds.foreach { i =>
      // the insert wrote forward links, so an appended id is never a
      // singleton — and it shares its component with every link target
      val nbrs = e.collect { case (s0, d0) if s0 == i => d0
                             case (s0, d0) if d0 == i => s0 }
      assert(nbrs.nonEmpty, s"appended $i wrote no links")
      nbrs.foreach(nb => assert(byId(nb) === byId(i),
        s"appended $i not in its link target $nb's component"))
    }
  }

  test("assortativityOf: star reads exactly -1, regular ring reads degenerate, hand-checked sums") {
    // star 0-{1,2,3}: every edge joins deg-3 to deg-1 — perfect
    // disassortativity. Hand sums over the 6 stubs: m=6, sx=12, sxx=30,
    // sxy=18 → r = (108-144)/(180-144) = -1.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val (m, sx, sxx, sxy, r) = GraphAnalytics.assortativityOf(star)
      .as[(Long, Long, Long, Long, Double)].head()
    assert((m, sx, sxx, sxy) === ((6L, 12L, 30L, 18L)))
    assert(r === -1.0)
    // a 2-regular ring has zero degree variance — the denominator is 0
    // and mixing honestly reads null rather than a fabricated 0
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val rr = GraphAnalytics.assortativityOf(ring)
      .select("assortativity").as[Option[Double]].head()
    assert(rr.isEmpty)
  }

  test("communityLabelProp: two bridged triangles separate; modularity matches the hand-computed rational") {
    // triangles {0,1,2} and {3,4,5} bridged by 2-3. Hand-unrolled
    // synchronous LPA from identity labels over the undirected closure:
    //   r1 = [1,0,0,2,3,3], r2 = [0,0,0,3,2,2], r3 = [0,0,0,2,2,2]
    // — the partition is the two triangles (the label VALUE 2 is just a
    // label; membership is what the partition means).
    val nodes = (0L to 5L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L),
      (5L, 3L), (2L, 3L)).toDF("src", "dst")
    val und = e.unionByName(e.select($"dst".as("src"), $"src".as("dst")))
    def run(iters: Int) = GraphAnalytics.communityLabelProp(nodes, und, iters)
      .as[(Long, Long)].collect().toMap
    assert(run(1) === Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 2L,
      4L -> 3L, 5L -> 3L))
    assert(run(3) === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 2L,
      4L -> 2L, 5L -> 2L))
    assert(run(3) === run(3)) // deterministic
    // modularity of that partition: m2 = 14 stubs, each community has
    // in = 6 (the bridge stubs cross), deg = 7 → q_num = 2·(84-49) = 70,
    // Q = 70/196 = 0.357143 (the hand rational)
    val (nc, m2, qn, q) = GraphAnalytics.modularityOf(
        run(3).toSeq.toDF("id", "lbl"), e)
      .as[(Long, Long, Long, Double)].head()
    assert((nc, m2, qn) === ((2L, 14L, 70L)))
    assert(q === 0.357143)
    // the identity partition (every node alone) scores strictly worse
    val (_, _, _, qIdent) = GraphAnalytics.modularityOf(
        nodes.select($"id", $"id".as("lbl")), e)
      .as[(Long, Long, Long, Double)].head()
    assert(qIdent < q)
  }

  test("localClusteringOf: hand-checked coefficients; degree-1 reads null; isolates absent") {
    // kite: triangle {0,1,2} + edge 2-3 + isolated 9 (no edges ⇒ no row).
    //   c(0)=c(1)= 2·1/(2·1) = 1.0 (their neighbors know each other),
    //   c(2) = 2·1/(3·2) = 1/3 (one of three neighbor pairs closed),
    //   c(3): deg 1 ⇒ undefined (null).
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L),
      (1L, 0L) /* reverse dup — erased by the unordered-pair distinct */)
      .toDF("src", "dst")
    val got = GraphAnalytics.localClusteringOf(e)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      0L -> ((2L, 1L, Some(1.0))),
      1L -> ((2L, 1L, Some(1.0))),
      2L -> ((3L, 1L, Some(0.333333))),
      3L -> ((1L, 0L, None))))
    // consistency with the global census: Σ per-node triangles = 3·T
    val (_, _, t, _) = GraphAnalytics.clusteringOf(e)
      .as[(Long, Long, Long, Double)].head()
    assert(got.values.map(_._2).sum === 3 * t)
  }

  test("takedown clustering: recalling a triangle corner drops the other corners' coefficients") {
    // same kite; recall node 0 — the {0,1,2} triangle dies:
    //   c(1): deg 2→1 ⇒ undefined (null),
    //   c(2): deg 3→2, triangles 1→0 ⇒ 0.0 (neighbors now strangers),
    //   0 emits no row (its edges left with it).
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("src", "dst")
    val live = e.filter(col("src") =!= 0L && col("dst") =!= 0L)
    val got = GraphAnalytics.localClusteringOf(live)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> ((1L, 0L, None)),
      2L -> ((2L, 0L, Some(0.0))),
      3L -> ((1L, 0L, None))))
    // the global census agrees: no triangles, no wedge closure
    val (_, w, t, _) = GraphAnalytics.clusteringOf(live)
      .as[(Long, Long, Long, Double)].head()
    assert(t === 0L && w === 1L)
  }

  test("takedown communities: deleting a doc splits its neighbors' community (labels move non-locally)") {
    import graft.operators.Search
    val dir = tempDir("graft_cm_del")
    try {
      // barbell: triangle {0,1,2}, triangle {4,5,6}, bridge 2-3-4.
      // Hand-unrolled sync LPA (identity labels, 3 rounds) over the
      // undirected closure: r3 = [0,0,0,0,3,3,3] → {0,1,2,3} + {4,5,6}.
      // Tombstone 4: triangle B loses its center of gravity and the
      // 5-6 edge left behind is bipartite — sync LPA label-swaps, so 5
      // and 6 land in DIFFERENT singleton communities: the community
      // that contained (4,5,6) splits, not just shrinks.
      val nodes = (0L to 6L).map(i => (i, Array(i.toDouble, 1.0)))
      val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (4L, 5L), (5L, 6L),
        (6L, 4L), (2L, 3L), (3L, 4L))
      Search.writeGraphIndex(nodes.toDF("vec_id", "embedding"),
        $"vec_id", $"embedding", edges.toDF("__vid", "nbr_id"),
        s"$dir/idx", entriesN = 2, buckets = 2)
      def run() = GraphAnalytics.communitySizes(
          GraphAnalytics.layout(spark, (0L to 6L).toDF("id"), s"$dir/idx"))
        .as[(Long, Long, Long)].collect()
        .map { case (id, lbl, sz) => id -> ((lbl, sz)) }.toMap
      assert(run() === Map(
        0L -> ((0L, 4L)), 1L -> ((0L, 4L)), 2L -> ((0L, 4L)),
        3L -> ((0L, 4L)),
        4L -> ((3L, 3L)), 5L -> ((3L, 3L)), 6L -> ((3L, 3L))))
      Search.deleteFromGraphIndex(Seq(4L).toDF("vec_id"), $"vec_id", s"$dir/idx")
      val del = run()
      assert(!del.contains(4L), "recalled id still in the partition")
      assert(del(0L) === ((0L, 4L)) && del(3L) === ((0L, 4L)))
      assert(del(5L)._1 !== del(6L)._1,
        "5 and 6 should split into different communities after the takedown")
      assert(del(5L)._2 === 1L && del(6L)._2 === 1L)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("graph_communities_del query: recalled ids leave the partition; sizes consistent") {
    val d = "/root/testdata/sf0.001"
    val rows = GraphAnalytics.queries("graph_communities_del")(spark, d)
      .as[(Long, Long, Long)].collect()
    val ids = rows.map(_._1).toSet
    Retrieval.GraphDeletedIds.foreach(i =>
      assert(!ids.contains(i), s"recalled $i still in a community"))
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.length.toLong === n - Retrieval.GraphDeletedIds.size)
    rows.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.map(_._3).distinct === Array(members.length.toLong),
        s"community $lbl size column disagrees with its member count") }
  }

  test("graph_density_del: recalled ids emit no row; survivors' degrees only ever thin") {
    val d = "/root/testdata/sf0.001"
    val del = GraphAnalytics.queries("graph_density_del")(spark, d)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    Retrieval.GraphDeletedIds.foreach(i =>
      assert(!del.contains(i), s"recalled $i still profiled"))
    val clean = GraphAnalytics.queries("graph_density_refined")(spark, d)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    del.foreach { case (id, deg) =>
      assert(deg <= clean(id), s"node $id GAINED degree under a takedown") }
    assert(del.exists { case (id, deg) => deg < clean(id) },
      "no survivor lost evidence — the takedown left no trace")
  }

  test("graph_kcore_del / graph_harmonic_del: recalled ids leave; support and reach stop counting") {
    val d = "/root/testdata/sf0.001"
    val kc = GraphAnalytics.queries("graph_kcore_del")(spark, d)
      .as[(Long, Boolean, Option[Long])].collect()
    val hm = GraphAnalytics.queries("graph_harmonic_del")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect()
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    Seq(kc.map(_._1), hm.map(_._1)).foreach { ids =>
      assert(ids.length.toLong === n - Retrieval.GraphDeletedIds.size)
      Retrieval.GraphDeletedIds.foreach(i =>
        assert(!ids.contains(i), s"recalled $i still served")) }
    // the takedown is visible in the signals, not just the row count:
    // some survivor's harmonic shrinks vs the clean layout (reach
    // through a recalled doc no longer counts)
    val clean = GraphAnalytics.harmonic3(
        spark.read.parquet(s"$d/embeddings.parquet").select($"vec_id".as("id")),
        spark.read.parquet(s"${Retrieval.graphIdxDir(spark, d)}/idx/edges")
          .select($"__vid".as("src"), $"nbr_id".as("dst")))
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(hm.exists { case (id, _, _, _, h) => h < clean(id) },
      "no survivor's centrality changed — the takedown left no trace")
  }

  test("kcore convergence guard: an under-peeled relation fails loudly; the converged one passes") {
    // path 0-..-5: the 2-core is EMPTY, but each peel round only strips
    // the two current endpoints — after 1 round nodes 1..4 still read
    // in_core with core_deg 1 (node 1's only surviving neighbor is 2).
    val ids = (0L to 5L).toDF("id")
    val e = (0L to 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val under = GraphAnalytics.kcoreConverged(
      GraphAnalytics.kcorePeel(ids, e, k = 2, rounds = 1), k = 2, rounds = 1)
    val ex = intercept[Exception] { under.collect() }
    assert(ex.getMessage.contains("not converged") ||
      Option(ex.getCause).exists(_.getMessage.contains("not converged")))
    // 3 rounds reach the (empty-core) fixpoint: the guard is identity
    val done = GraphAnalytics.kcoreConverged(
        GraphAnalytics.kcorePeel(ids, e, k = 2, rounds = 3), k = 2, rounds = 3)
      .as[(Long, Boolean, Option[Long])].collect()
    assert(done.length === 6 && done.forall(!_._2))
  }

  test("blastRadiusOf: hop distances from a seed set; an edgeless seed still reads hop 0") {
    val e = Seq((0L, 1L), (0L, 2L)).toDF("src", "dst")
    val h0 = Seq(1L, 99L).toDF("id")
    val got = GraphAnalytics.blastRadiusOf(e, h0)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 99L -> 0, 0L -> 1, 2L -> 2))
  }

  test("harmonicSketch: exact parity with harmonic3 below k — synthetic graph and served corpus rows") {
    // path 0-1-2-3-4-5 with k = 64: no register ever saturates, so the
    // sketch relation must equal the exact relation column for column
    val pids = (0L to 5L).toDF("id")
    val pe = (0L to 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val exact = GraphAnalytics.harmonic3(pids, pe)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2.toDouble, r._3.toDouble, r._4.toDouble, r._5)))
      .toMap
    val sk = GraphAnalytics.harmonicSketch(pids, pe, k = 64)
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(sk === exact)
    // served query vs served exact query on the corpus graph: every
    // sf0.001 reach saturates the k = 16 registers (reach ≥ 16
    // everywhere — the estimator path, not the exact one), so grade the
    // estimates against the exact relation: KMV at k = 16 carries
    // ~1/√14 ≈ 27% expected per-ring error; assert the DETERMINISTIC
    // corpus-mean harmonic error sits well inside it and no node is
    // wild. (Bit-parity vs DuckDB is the oracle's job; this pins that
    // the estimates mean what they claim vs ground truth.)
    val d = "/root/testdata/sf0.001"
    val ex = GraphAnalytics.queries("graph_harmonic")(spark, d)
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r._5).toMap
    val sq = GraphAnalytics.queries("graph_harmonic_sketch")(spark, d)
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    val rel = ex.collect { case (id, h) if h > 0 =>
      math.abs(sq(id) - h) / h }.toSeq
    assert(rel.nonEmpty && rel.sum / rel.size < 0.30,
      f"mean harmonic rel err ${rel.sum / rel.size}%.3f exceeds the KMV envelope")
    assert(rel.max < 1.5, f"worst-node rel err ${rel.max}%.3f is wild")
  }

  test("harmonicSketch: saturated registers estimate within the KMV error envelope; deterministic") {
    // star: hub 0 + 40 leaves — the hub's 1-hop reach is 41 > k = 8,
    // so its register saturates and the estimate path runs. KMV with
    // k = 8 has ~1/sqrt(k-2) ≈ 40% expected error; assert a loose 3x
    // envelope (the estimator is deterministic, so this can't flake).
    val ids = (0L to 40L).toDF("id")
    val e = (1L to 40L).map(i => (0L, i)).toDF("src", "dst")
    val sk = GraphAnalytics.harmonicSketch(ids, e, k = 8)
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(sk(0L) > 40.0 * 0.25 && sk(0L) < 40.0 * 4.0,
      s"hub n1_est ${sk(0L)} outside the loose KMV envelope around 40")
    // a leaf's 1-ring is exactly the hub (reach 2 < k): exact path
    assert(sk(1L) === 1.0)
    val again = GraphAnalytics.harmonicSketch(ids, e, k = 8)
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(again === sk) // replayable: no RNG, no partitioning dependence
  }

  test("pageRank fast path (plain sums): ≤ 1e-12 relative vs the ordered folds; mass conserved") {
    // the production fast path trades the published fold order for
    // map-side-combined plain sums — same math, float association only
    val d = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val ids = emb.select($"vec_id".as("id"))
    // a deterministic synthetic edge mix with dangling nodes: ring
    // edges + a hub, over the corpus ids
    val e = ids.filter($"id" % 3 =!= 0)
      .select($"id".as("src"), (($"id" * 7 + 13) % 500).as("dst"))
      .unionByName(ids.filter($"id" % 5 === 0)
        .select($"id".as("src"), lit(0L).as("dst")))
      .distinct()
    val slow = GraphAnalytics.pageRank(ids, e, iters = 3)
      .as[(Long, Double)].collect().toMap
    val fast = GraphAnalytics.pageRank(ids, e, iters = 3,
        orderedFolds = false)
      .as[(Long, Double)].collect().toMap
    assert(fast.keySet === slow.keySet)
    fast.foreach { case (id, p) =>
      val s0 = slow(id)
      assert(math.abs(p - s0) <= 1e-12 * math.max(math.abs(s0), 1e-300),
        s"node $id fast $p vs ordered $s0 exceeds 1e-12 relative") }
    assert(math.abs(fast.values.sum - 1.0) < 1e-9)
  }

  test("pageRank query: full relation over sf0.001, mass ≈ 1, all nodes present") {
    val df = GraphAnalytics.queries("graph_pagerank")(spark, "/root/testdata/sf0.001")
    val rows = df.as[(Long, Double)].collect()
    val n = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert(rows.length.toLong === n)
    val total = rows.map(_._2).sum
    assert(math.abs(total - 1.0) < 1e-6, s"mass $total") // round(9) per row
  }

  test("the generated query map holds exactly the 56 graph queries, each with its oracle") {
    val expected = Set(
      "graph_assortativity", "graph_assortativity_del",
      "graph_assortativity_refined", "graph_blast_radius", "graph_clustering",
      "graph_clustering_del", "graph_clustering_local",
      "graph_clustering_local_del", "graph_clustering_local_refined",
      "graph_clustering_refined", "graph_communities",
      "graph_communities_append", "graph_communities_del",
      "graph_communities_refined", "graph_components",
      "graph_components_append", "graph_components_del",
      "graph_components_hist", "graph_components_refined", "graph_density",
      "graph_density_del", "graph_density_refined", "graph_harmonic",
      "graph_harmonic_append", "graph_harmonic_del", "graph_harmonic_refined",
      "graph_harmonic_sketch", "graph_harmonic_sketch_del",
      "graph_harmonic_sketch_refined", "graph_kcore", "graph_kcore_append",
      "graph_kcore_del", "graph_kcore_refined", "graph_label_prop",
      "graph_label_prop_acc", "graph_label_prop_del",
      "graph_label_prop_refined", "graph_label_prop_w",
      "graph_label_prop_w_del", "graph_label_prop_w_refined",
      "graph_modularity", "graph_modularity_del", "graph_modularity_refined",
      "graph_pagerank", "graph_pagerank_append", "graph_pagerank_del",
      "graph_pagerank_refined", "graph_pagerank_w",
      "graph_pagerank_w_refined", "graph_ppr", "graph_ppr_del",
      "graph_ppr_expand", "graph_ppr_refined", "graph_quality_prop",
      "graph_quality_prop_acc", "graph_stats_store")
    assert(expected.size === 56)
    assert(GraphAnalytics.queries.keySet === expected)
    assert(GraphAnalytics.queries.keySet === GraphAnalytics.oracleSql.keySet)
  }
}
