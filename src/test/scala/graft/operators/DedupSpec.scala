package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The generic dedup API on a hand-built corpus with known structure:
  * ids 1,2 exact dups; 3 a near-dup of them; 4 unrelated. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"),
    (3L, "the quick brown fox jumps over the lazy cat again and again today"),
    (4L, "completely different text about spark catalyst codegen and physical plans")
  ).toDF("id", "text").withColumn("blk", lit("b"))

  test("spanCoverageOn: a shared 8-token passage is localized exactly") {
    // 20-token docs sharing tokens 5..16 (a 12-token pasted passage →
    // 5 dup 8-grams covering 12 positions); doc 3 shares nothing
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    val corpus = Seq(
      (1L, s"a1 a2 a3 a4 a5 $passage z1 z2 z3"),
      (2L, s"b1 b2 b3 b4 b5 $passage y1 y2 y3"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15 c16 c17 c18 c19 c20")
    ).toDF("id", "text")
    val r = Dedup.spanCoverageOn(corpus, $"id", $"text")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(r.map(_._1) === Seq(1L, 2L), "only the passage-sharing docs appear")
    r.foreach { case (id, nToks, nGrams, nCov, cov) =>
      assert(nToks === 20L)
      assert(nGrams === 5L, s"doc $id: 12-token run ⇒ 5 dup 8-grams")
      assert(nCov === 12L, s"doc $id: exactly the pasted span is covered")
      assert(math.abs(cov - 0.6) < 1e-12)
    }
  }

  test("spanExciseOn: owner keeps the passage, others lose exactly it, rest verbatim") {
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    val t1 = s"a1 a2 a3 a4 a5 $passage z1 z2 z3"
    val t2 = s"b1 b2 b3 b4 b5 $passage y1 y2 y3"
    val t3 = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    val corpus = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("id", "text")
    val r = Dedup.spanExciseOn(corpus, $"id", $"text")
      .as[(Long, Long, Long, String)].collect()
      .map(x => x._1 -> (x._3, x._4)).toMap
    assert(r(1L) === ((0L, t1)), "owner (smallest doc id) keeps its copy intact")
    assert(r(2L) === ((12L, "b1 b2 b3 b4 b5 y1 y2 y3")),
      "non-owner loses exactly the pasted passage")
    assert(r(3L) === ((0L, t3)), "an untouched doc passes through verbatim")
  }

  test("span ops hot-gram guard: a boilerplate block is dropped, the audit reports it") {
    // 40 docs all pasting the same 8-token boilerplate (one viral gram,
    // df=40) + one genuine 2-doc dup passage. Guarded at maxDocFreq=10 the
    // viral gram must vanish from coverage AND stay un-excised, while the
    // 2-doc passage still dedups — the bounded-explode contract.
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8"
    val corpus = ((1L to 40L).map(i =>
        (i, s"u${i}a u${i}b u${i}c $boiler u${i}d u${i}e u${i}f")) ++
      Seq((41L, s"w1 w2 w3 $passage w4 w5 w6"),
          (42L, s"x1 x2 x3 $passage x4 x5 x6"))).toDF("id", "text")
    val cov = Dedup.spanCoverageOn(corpus, $"id", $"text", maxDocFreq = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(cov === Seq(41L, 42L),
      "guarded coverage sees only the genuine dup, not the viral boilerplate")
    val exc = Dedup.spanExciseOn(corpus, $"id", $"text", maxDocFreq = 10)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert((1L to 40L).forall(exc(_) === 0L), "hot gram left in place everywhere")
    assert(exc(41L) === 0L && exc(42L) === 8L, "genuine dup still excises")
    val audit = Dedup.hotGrams(corpus, $"id", $"text", maxDocFreq = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(audit.size === 1, "exactly the boilerplate gram is hot")
    assert(audit.head._2 === 40L && audit.head._4 === 320L,
      "audit reports df and the position rows the guard saved")
    // guard OFF (the default) keeps the old semantics: everything dedups
    val unguarded = Dedup.spanCoverageOn(corpus, $"id", $"text")
      .select("doc_id").as[Long].collect().toSeq
    assert(unguarded.size === 42, "default (guard off) counts the boilerplate")
  }

  test("spanExciseOn: raw/tokens alignment survives hostile whitespace and case") {
    // multi-space runs produce empty-string tokens; both arrays derive
    // from ONE split, so untouched docs must round-trip VERBATIM and
    // case-folded matching must excise original-case text
    // (whitespace hostility sits AWAY from the passage edges — empty
    // tokens adjacent to the shared run would legitimately extend it)
    val passage = "P1 p2 P3 p4 p5 p6 P7 p8"
    val t1 = s"a1  a2 $passage z1 z2 "
    val t2 = s"b1 b2 b3 ${passage.toLowerCase} y1 y2"
    val t3 = "c1   c2  c3 c4 "
    val corpus = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("id", "text")
    val r = Dedup.spanExciseOn(corpus, $"id", $"text")
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Long, String)].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    assert(r(1L) === ((0L, t1)),
      "owner round-trips verbatim — double space and trailing space intact")
    assert(r(2L) === ((8L, "b1 b2 b3 y1 y2")),
      "case-folded match excises the original-case run exactly")
    assert(r(3L) === ((0L, t3)), "untouched multi-space doc is byte-identical")
  }

  test("exactDuplicates: dup group sizes") {
    val m = Dedup.exactDuplicates(docs, $"id", $"text")
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("jaccardPairs: exact value for the known near-dup, no cross-block pairs") {
    val pairs = Dedup.jaccardPairs(docs, $"id", $"text", $"blk")
      .as[(Long, Long, Double)].collect().toSeq
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(math.abs(m((1L, 2L)) - 1.0) < 1e-12, "exact dups have jac 1")
    // 13 tokens → 11 distinct 3-shingles each; 'dog'→'cat' at pos 8 breaks
    // shingles 6,7,8 → inter 8, union 14 → 4/7
    assert(math.abs(m((1L, 3L)) - 8.0 / 14.0) < 1e-12)
    assert(!m.contains((1L, 4L)) || m((1L, 4L)) < 0.2)
  }

  test("minhashPairs: collapses exact dups, finds the near-dup, carries cluster size") {
    val pairs = Dedup.minhashPairs(docs, $"id", $"text", $"blk", minEst = 0.3)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    // 1 and 2 collapse to representative 1 with n_docs=2
    assert(pairs.forall(p => p._1 != 2L && p._2 != 2L))
    val nd = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(nd.isDefined, s"near-dup (1,3) must surface: $pairs")
    assert(nd.get._4 === 2L, "representative carries cluster size")
    assert(nd.get._3 > 0.3)
  }

  test("minhashPairsAcross: pairs only cross the corpus boundary, never within") {
    // 30 distinct tokens → 28 3-shingles; one changed token breaks 3 of
    // them → jac 25/31 ≈ 0.81, inside banding's high-recall regime
    // (16×4 miss prob ≈ 1e-4), unlike the short `docs` fixture whose
    // 0.57-jac pair sits where a 16-band miss is ~17% and determinism
    // freezes the unlucky draw.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu one two three four"
    val corpus = Seq(
      (10L, base),                            // left
      (11L, base),                            // left, exact dup of 10 — a
                                              // WITHIN-left pair: must not pair
      (20L, base.replace("oscar", "ocean")),  // right, near-dup of both
      (21L, "completely different text about spark catalyst codegen plans")
    ).toDF("id", "text").withColumn("blk", lit("b"))
    val left = corpus.filter($"id" < 20L)
    val right = corpus.filter($"id" >= 20L)
    val pairs = Dedup.minhashPairsAcross(left, right, $"id", $"text", $"blk",
      minEst = 0.3, shingleN = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((10L, 20L), (11L, 20L)),
      s"exactly the two cross near-dups, never the within-left exact dup: $pairs")
    // the verified binding shape: exact jaccard confirms the estimates
    val verified = Dedup.verifyJaccard(spark,
      corpus.select($"id".as("doc_id"), $"text"),
      pairs.map(p => (p._1, p._2)).toDF("doc_a", "doc_b"), minJac = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(verified.map(p => (p._1, p._2)).toSet === Set((10L, 20L), (11L, 20L)))
    verified.foreach(p => assert(math.abs(p._3 - 25.0 / 31.0) < 1e-12))
  }

  test("simhashPairs: near-dup within hamming budget, unrelated doc outside") {
    val pairs = Dedup.simhashPairs(docs, $"id", $"text", $"blk", maxHamming = 16)
      .as[(Long, Long, Long)].collect().toSeq
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 2L)) === 0L, "exact dups at hamming 0")
    assert(m.get((1L, 3L)).exists(_ <= 16L), s"near-dup close in hamming: $pairs")
  }

  test("minhashPairs topK hint: identical top-k to the full-distinct path") {
    val d = "/root/testdata/sf0.001"
    val blk = graft.Tables.documents(spark, d)
      .withColumn("blk", concat_ws("_", col("lang"), expr("n_chars DIV 100")))
    def top(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(desc("est_jaccard"), asc("doc_a"), asc("doc_b")).limit(10)
      .collect().toSeq
    val full = top(Dedup.minhashPairs(blk, $"doc_id", $"text", $"blk"))
    val hinted = top(Dedup.minhashPairs(blk, $"doc_id", $"text", $"blk", topK = 10))
    assert(hinted === full)
  }

  test("hot-bucket guard: shared boilerplate can't go quadratic") {
    // Degenerate block: 40 docs that share one boilerplate prefix but have
    // otherwise-unique tails — the worst case for an inverted-index join:
    // every boilerplate shingle pairs all 40 docs → ~m²/2 join rows.
    val boiler = "copyright acme corp all rights reserved unauthorized use prohibited"
    val corpus = (1 to 40).map(i =>
      (i.toLong, s"$boiler unique tail ${i}a ${i}b ${i}c ${i}d ${i}e"))
      .toDF("id", "text").withColumn("blk", lit("b"))
    val unguarded = Dedup.jaccardPairs(corpus, $"id", $"text", $"blk")
    val guarded = Dedup.jaccardPairs(corpus, $"id", $"text", $"blk", maxDocFreq = 10)
    // Unguarded: all 40·39/2 pairs share boilerplate shingles.
    assert(unguarded.count() === 40L * 39 / 2)
    // Guarded: boilerplate shingles (df=40 > 10) are dropped; tails are
    // unique so no pair shares a surviving shingle.
    assert(guarded.count() === 0)
    // The audit view reports exactly the dropped hot keys and their cost.
    val hot = Dedup.hotShingles(corpus, $"id", $"text", $"blk", maxDocFreq = 10)
      .select("df", "pairs_dropped").as[(Long, Long)].collect()
    assert(hot.nonEmpty && hot.forall { case (df, p) => df === 40L && p === 40L * 39 / 2 })
    // Same guard on the banded minhash path: candidates bounded, none of
    // the truly-identical-signature pairs are lost for non-hot buckets.
    val mhUnguarded = Dedup.minhashPairs(corpus, $"id", $"text", $"blk", minEst = 0.2)
    val mhGuarded = Dedup.minhashPairs(corpus, $"id", $"text", $"blk",
      minEst = 0.2, maxBandFreq = 10)
    assert(mhGuarded.count() <= mhUnguarded.count())
  }

  test("dupClusters: 1000-node chain converges within O(log d) pointer-jump rounds") {
    // Worst-case diameter: a path graph 1-2-…-1000. Plain min-label
    // propagation needs ~1000 rounds; pointer jumping squares the reach
    // each round, so ⌈log2(1000)⌉ ≈ 10 rounds must suffice. maxRounds=14
    // (10 + convergence-detection slack) guards the O(log d) claim — if a
    // regression degrades to linear propagation, labels come back wrong.
    val n = 1000L
    val chain = spark.range(1, n).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    // maxDriverEdges = 0 forces the DISTRIBUTED loop — this test guards
    // the loop's pointer jumping, which the small-graph fast path would
    // otherwise bypass entirely
    val labels = Dedup.dupClusters(chain, maxRounds = 14, maxDriverEdges = 0L)
    assert(labels.filter(col("cluster") === 1L).count() === n)
    assert(labels.count() === n)
  }

  test("dupClusters: driver fast path is byte-identical to the distributed loop") {
    // chains, a triangle, isolated pairs, plus a pseudo-random component mix
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L), (31L, 32L), (30L, 32L)) ++
      (0 until 400).map { i =>
        val a = (i * 7919L) % 97; val b = (i * 104729L) % 97
        (100L + math.min(a, b), 100L + math.max(a, b))
      }.filter(p => p._1 != p._2)).toDF("doc_a", "doc_b")
    val fast = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().sorted.toSeq
    val loop = Dedup.dupClusters(pairs, maxDriverEdges = 0L)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(fast === loop)
    assert(fast.nonEmpty)
  }

  test("statsReset: checkpoint size estimates must not compound across rounds") {
    // localCheckpoint propagates the ORIGIN plan's estimated sizeInBytes
    // into the LogicalRDD. An iterative loop that re-checkpoints a frame
    // built from several self-joins of the previous checkpoint therefore
    // MULTIPLIES the estimate into itself every round — bit-length grows
    // geometrically, and from round ~10 the driver burns minutes in
    // BigInteger.multiply during join-size estimation (measured: 87 s for
    // one 20k-row round). statsReset re-roots on the materialized RDD,
    // restoring the constant session-default estimate.
    def sizeBits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.stats.sizeInBytes.bigInteger.bitLength
    def step(df: org.apache.spark.sql.DataFrame) = df.as("a")
      .join(df.as("b"), col("a.node") === col("b.node"))
      .join(df.as("c"), col("a.node") === col("c.node"))
      .select(col("a.node").as("node"))
    var naive = spark.range(50).select(col("id").as("node")).localCheckpoint()
    var reset = Dedup.statsReset(naive)
    val naiveBits = (1 to 3).map { _ =>
      naive = step(naive).localCheckpoint(); sizeBits(naive)
    }
    val resetBits = (1 to 3).map { _ =>
      reset = Dedup.statsReset(step(reset).localCheckpoint()); sizeBits(reset)
    }
    assert(naiveBits.last > 3 * naiveBits.head,
      s"precondition: naive estimates compound geometrically, got $naiveBits")
    assert(resetBits.distinct.size === 1 && resetBits.head <= 64,
      s"statsReset keeps the estimate constant, got $resetBits")
  }

  test("dupClusters: transitive components, min-id representative") {
    // chain 1-2-3, pair 10-11, chain 20-21-22-23 (longer diameter), isolated pairs
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L),
      (30L, 31L), (31L, 32L), (30L, 32L) // triangle
    ).toDF("doc_a", "doc_b")
    val m = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(m(1L) === 1L && m(2L) === 1L && m(3L) === 1L, "A~B~C one cluster via transitivity")
    assert(m(10L) === 10L && m(11L) === 10L)
    assert(Seq(20L, 21L, 22L, 23L).map(m) === Seq(20L, 20L, 20L, 20L))
    assert(Seq(30L, 31L, 32L).map(m) === Seq(30L, 30L, 30L))
  }

  test("embeddingPairsLsh: full recall in the near-dup regime, exact subset elsewhere") {
    // The dedup regime (θ→0): 20 deterministic base directions in R^16,
    // 3 jittered copies each (within-group cos ≥ 0.99). SRP banding must
    // find EVERY within-group pair — near-identical vectors agree on
    // (essentially) all bands, which is the regime the operator targets.
    def h(i: Int, j: Int): Double = (((i * 2654435761L + j * 40503L) % 1000).toDouble / 500.0) - 1.0
    val rows = (for { g <- 0 until 20; c <- 0 until 3 } yield {
      val base = Array.tabulate(16)(j => h(g, j))
      val v = base.zipWithIndex.map { case (x, j) => (x + 0.02 * h(g * 31 + c, j)).toFloat }
      ((g * 10 + c).toLong, v.toSeq)
    }).toDF("id", "v")
    val bruteNd = Dedup.embeddingPairs(rows, $"id", $"v").filter($"cos" >= 0.99)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val lshNd = Dedup.embeddingPairsLsh(rows, $"id", $"v", minCos = 0.99)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(bruteNd.size >= 60, s"construction sanity: ${bruteNd.size}")
    assert(lshNd === bruteNd, "near-dup regime demands full recall + exact scores")

    // Wide-angle regime on real testdata (max pairwise cos ≈ 0.48): at
    // the production 8×8 bands recall is best-effort by design, but
    // every returned pair must be a brute pair with the IDENTICAL exact
    // cosine.
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Dedup.embeddingPairs(e, $"vec_id", $"embedding")
      .filter($"cos" >= 0.35)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val lsh = Dedup.embeddingPairsLsh(e, $"vec_id", $"embedding", minCos = 0.35)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (k, c) =>
      assert(brute.contains(k) && math.abs(brute(k) - c) < 1e-12, s"$k") }

    // The named binding's recall-1 config (32×2 bands): candidate recall
    // is FULL even at this wide angle — the property that makes
    // dedup_embedding_lsh oracle-checkable against the all-pairs join.
    val lsh32 = Dedup.embeddingPairsLsh(e, $"vec_id", $"embedding",
        minCos = 0.35, bands = 32)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(lsh32.keySet === brute.keySet,
      s"recall-1 config must find every exact pair: ${brute.size} vs ${lsh32.size}")
  }

  test("embeddingPairs: cosine ground truth on unit vectors") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("id", "v")
    val m = Dedup.embeddingPairs(vecs, $"id", $"v")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(math.abs(m((1L, 2L)) - 1.0) < 1e-9)
    assert(math.abs(m((1L, 3L))) < 1e-9)
  }

  test("minhashPairs uniqTexts=false: identical texts emit their concrete pairs") {
    val t = "alpha beta gamma delta epsilon zeta"
    val df = Seq((1L, t), (2L, t), (3L, t)).toDF("id", "text")
      .withColumn("blk", lit("b"))
    // production default collapses the trio to one representative → no pairs
    val collapsed = Dedup.minhashPairs(df, $"id", $"text", $"blk")
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(collapsed.isEmpty)
    // pair-level mode: all three in-group pairs surface with est = 1
    val pairs = Dedup.minhashPairs(df, $"id", $"text", $"blk", uniqTexts = false)
      .select("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.forall(_._3 === 1.0))
  }

  test("minhashPairs shingleN: signature estimates the n-gram jaccard, not 1-gram") {
    // Same vocabulary, different order: 1-gram jaccard = 1.0, 3-gram
    // jaccard ≈ 0 — shingle signing must NOT pair them at minEst 0.5.
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).reverse.map(i => s"w$i").mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("id", "text").withColumn("blk", lit("b"))
    val oneGram = Dedup.minhashPairs(df, $"id", $"text", $"blk",
      uniqTexts = false).count()
    val threeGram = Dedup.minhashPairs(df, $"id", $"text", $"blk",
      uniqTexts = false, shingleN = 3).count()
    assert(oneGram === 1L, "1-gram signatures see identical token sets")
    assert(threeGram === 0L, "3-gram signatures see disjoint shingle sets")
  }

  test("dupClusters: rejects non-integral id columns loudly") {
    val pairs = Seq(("a", "b")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] { Dedup.dupClusters(pairs) }
    assert(e.getMessage.contains("integral"))
  }

  test("semanticDedup: within-cluster dups flagged, cross-cluster near-dups invisible by design") {
    def v(x: Double, y: Double, z: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat)
    val corpus = Seq(
      (1L, v(1, 0.01, 0)),     // cluster 0
      (2L, v(1, 0.011, 0)),    // near-dup of 1, same cluster → flagged
      (3L, v(0, 0.01, 1)),     // cluster 1, unique
      // cos(4,5) ≈ 0.9997 but the boundary splits them — the SemDeDup
      // recall trade: cross-cluster near-dups are not tested
      (4L, v(0.71, 0, 0.70)),  // cluster 0 (barely)
      (5L, v(0.70, 0, 0.71))   // cluster 1 (barely)
    ).toDF("id", "vec")
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 0.0, 1.0)))
      .toDF("cid", "c")
    val r = Dedup.semanticDedup(corpus, $"id", $"vec", cents, minCos = 0.95)
      .select($"__vid", $"cluster", $"is_dup", $"dup_of")
      .as[(Long, Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    assert(r.map(t => (t._1, t._2)) ===
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 0L), (5L, 1L)),
      s"argmax-centroid assignment: $r")
    assert(r.filter(_._3).map(_._1) === Seq(2L), s"only 2 is a dup: $r")
    assert(r.find(_._1 == 2L).get._4 === Some(1L), "witness = smallest lower id")
    // 4 and 5 are nearer each other than anything else, yet unflagged —
    // the documented cluster-boundary blindness
    assert(!r.find(_._1 == 4L).get._3 && !r.find(_._1 == 5L).get._3)
  }

  test("semanticDedupIncrement: increment pairs against the lake only") {
    def v(x: Double, y: Double, z: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat)
    val lake = Seq(
      (10L, v(1, 0.01, 0)),   // cluster 0
      (11L, v(0, 0.01, 1))    // cluster 1
    ).toDF("id", "vec")
    val inc = Seq(
      (20L, v(1, 0.011, 0)),  // near-dup of lake 10 → flagged, witness 10
      (21L, v(0, 0.5, 1)),    // cluster 1 but far from lake 11 → clean
      (22L, v(0, 0.49, 1))    // near-dup of INCREMENT 21 only → clean
    ).toDF("id", "vec")
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 0.0, 1.0)))
      .toDF("cid", "c")
    val r = Dedup.semanticDedupIncrement(inc, lake, $"id", $"vec", cents,
        minCos = 0.95)
      .select($"__vid", $"is_dup", $"dup_of")
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    assert(r.map(_._1) === Seq(20L, 21L, 22L), "one row per increment id only")
    assert(r === Seq((20L, true, Some(10L)), (21L, false, None),
      (22L, false, None)),
      s"only lake witnesses count — increment×increment must not pair: $r")
  }

  test("dedup_semantic_incr_idx: at-rest probe equals in-plan, scan prunes to touched clusters") {
    val d = "/root/testdata/sf0.001"
    val idx = Dedup.semanticIncrIdx(spark, d)
    val plan = idx.queryExecution.executedPlan.toString
    // a NON-EMPTY PartitionFilters list referencing the partition column —
    // "PartitionFilters:" alone prints (empty) on every file scan
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      s"lake scan must prune untouched cluster partitions:\n$plan")
    assert(idx.collect().toSeq === Dedup.semanticIncr(spark, d).collect().toSeq,
      "index-served output ≡ in-plan output (same codebook)")
  }

  test("semanticDedupIncrementIdx takedown: recalling the sole witness flips the increment to clean") {
    def v(x: Double, y: Double, z: Double) =
      Seq(x.toFloat, y.toFloat, z.toFloat)
    val lake = Seq((10L, v(1, 0.01, 0)), (11L, v(0, 0.01, 1))).toDF("id", "vec")
    val inc = Seq((20L, v(1, 0.011, 0))).toDF("id", "vec")
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 0.0, 1.0)))
      .toDF("cid", "c")
    val dir = tempDir("graft_semdel")
    Search.writeIvfIndex(lake, $"vec", cents, s"$dir/idx")
    def probe() = Dedup.semanticDedupIncrementIdx(spark, s"$dir/idx", inc,
        $"id", $"vec", cents, minCos = 0.95)
      .select($"is_dup", $"dup_of").as[(Boolean, Option[Long])]
      .collect().toSeq
    assert(probe() === Seq((true, Some(10L))), "lake 10 is the witness")
    Search.deleteFromIvfIndex(Seq(10L).toDF("id"), $"id", s"$dir/idx")
    assert(probe() === Seq((false, None)),
      "the recalled vector stops suppressing the arriving near-dup")
  }

  test("semanticDedup: hot-cluster guard fails loudly on a degenerate codebook") {
    def v(x: Double) = Seq(x.toFloat, 0f, 0f)
    val corpus = (1L to 10L).map(i => (i, v(1.0))).toDF("id", "vec")
    val oneCent = Seq((0L, Seq(1.0, 0.0, 0.0))).toDF("cid", "c")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(corpus, $"id", $"vec", oneCent,
        minCos = 0.9, maxClusterN = 5)
    }
    assert(e.getMessage.contains("maxClusterN"))
  }

  test("memorizationRate: contained, partial, novel, and short-probe cases") {
    val ref = Seq(
      (100L, "a b c d e f g h i j"), // grams of this doc are "in the lake"
      (101L, "q r s t u v w x y z")
    ).toDF("id", "text")
    val probe = Seq(
      (1L, "a b c d e f g h"),     // exactly one 8-gram, verbatim in ref -> 1.0
      (2L, "n o p a b c d e f g h i"), // 5 grams, 2 memorized (windows 4,5)
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8"), // novel single gram -> 0.0
      (4L, "too short")             // < 8 tokens: dropped entirely
    ).toDF("id", "text")
    val m = Dedup.memorizationRate(probe, ref, $"id", $"text", n = 8)
      .select("doc_id", "n_grams", "n_memorized")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(m(1L) === ((1L, 1L, 1L)))
    assert(m(2L) === ((2L, 5L, 2L)))
    assert(m(3L) === ((3L, 1L, 0L)))
    assert(!m.contains(4L))
  }

  test("sourceOverlapOn: exact shared-gram counts; diagonal dominates every row") {
    val docs = Seq(
      ("s1", "a b c d e f g h i"),        // grams: abc..h, bcd..i
      ("s1", "a b c d e f g h i"),        // duplicate doc — distinct collapses
      ("s2", "x a b c d e f g h tail"),   // shares gram a..h with s1
      ("s3", "p q r s t u v w")           // disjoint
    ).toDF("source", "text")
    val m = Dedup.sourceOverlapOn(docs, $"source", $"text", n = 8)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(m(("s1", "s1")) === 2L, s"s1 has two distinct 8-grams: $m")
    assert(m(("s1", "s2")) === 1L, "the verbatim a..h run is shared")
    assert(!m.contains(("s1", "s3")) && !m.contains(("s2", "s3")),
      "disjoint sources produce no row")
    // diagonal dominance: shared(a,b) <= min(|grams a|, |grams b|)
    m.foreach { case ((a, b), n) if a != b =>
      assert(n <= m((a, a)) && n <= m((b, b)))
    case _ => ()
    }
  }
}
