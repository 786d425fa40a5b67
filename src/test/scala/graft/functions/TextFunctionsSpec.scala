package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._
  import TextFunctions._

  test("tokens + ratios on a normal document") {
    val df = Seq("The cat and the dog sat on the mat").toDF("text")
      .select(tokens($"text").as("toks"))
    val r = df.select(
      stopwordRatio($"toks").as("sw"),
      distinctTokenRatio($"toks").as("dr"),
      meanTokenLength($"toks").as("ml")
    ).head()
    // 9 tokens; stopwords: the×3, and, on → 5/9
    assert(math.abs(r.getDouble(0) - 5.0 / 9.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 7.0 / 9.0) < 1e-12)
    assert(r.getDouble(2) > 2.0 && r.getDouble(2) < 4.0)
  }

  test("ratio denominators are ANSI-safe: empty tokens yield NULL") {
    val df = Seq(Seq.empty[String]).toDF("toks")
    val r = df.select(
      stopwordRatio($"toks"), distinctTokenRatio($"toks"), meanTokenLength($"toks")).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("punctRatio") {
    val r = Seq("a,b.c!").toDF("t").select(punctRatio($"t")).as[Double].head()
    assert(math.abs(r - 0.5) < 1e-12)
  }

  test("langIdPredict on marker-rich text") {
    val df = Seq(
      "the quick fox is happy to run in the woods and a river",
      "el perro y la casa de los amigos que viven en madrid",
      "der hund und die katze ist ein freund",
      "zzz qqq xxx"
    ).toDF("text")
    val r = df.select(langIdPredict(tokens($"text"))).as[String].collect()
    assert(r === Array("en", "es", "de", "und"))
  }

  test("shingles") {
    val r = Seq("a b c d").toDF("t")
      .select(shingles(tokens($"t"), 3)).as[Seq[String]].head()
    assert(r === Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(shingles(tokens($"t"), 3)).as[Seq[String]].head()
    assert(short === Seq("a b"))
  }

  test("minhash signature: identical docs agree, sig length = k") {
    val df = Seq(("x", "a b c d e f g"), ("y", "a b c d e f g"), ("z", "q r s t u v w"))
      .toDF("id", "t")
      .select($"id", minhashSignature(shingles(tokens($"t"), 2), 16).as("sig"))
    val m = df.as[(String, Seq[Long])].collect().toMap
    assert(m("x").length === 16)
    assert(m("x") === m("y"))
    assert(m("x") !== m("z"))
  }

  test("lsh band keys: identical signatures share all bands") {
    val df = Seq(("x", "a b c d e f g h"), ("y", "a b c d e f g h"))
      .toDF("id", "t")
      .select($"id", lshBandKeys(minhashSignature(shingles(tokens($"t"), 2), 16), 4, 4).as("bk"))
    val m = df.as[(String, Seq[String])].collect().toMap
    assert(m("x").length === 4)
    assert(m("x") === m("y"))
  }

  test("simhash: deterministic, near-dup docs have small hamming distance") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy cat again and again"),
      ("c", "completely different words about spark catalyst codegen physical plans")
    ).toDF("id", "t").select($"id", simhash64(tokens($"t")).as("h"))
    val m = df.as[(String, Long)].collect().toMap
    val near = java.lang.Long.bitCount(m("a") ^ m("b"))
    val far = java.lang.Long.bitCount(m("a") ^ m("c"))
    assert(near < far, s"near=$near far=$far")
    val viaCol = df.agg(max(hamming64(lit(m("a")), lit(m("b"))))).as[Long].head()
    assert(viaCol === near.toLong)
  }

  test("jaccard: exact sets, empty-safe") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("a", "b")
    val r = df.select(jaccard($"a", $"b")).as[Double].head()
    assert(math.abs(r - 0.5) < 1e-12)
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    assert(empty.select(jaccard($"a", $"b")).head().isNullAt(0))
  }

  test("native MinHashSigExpr is bit-compatible with the HOF minhashSignature") {
    val docs = Seq("a b c d e f g", "the quick brown fox", "x", "", "a a a b")
    val df = docs.toDF("t").withColumn("toks", tokens($"t"))
    val hof = df.select(minhashSignature($"toks", 16)).as[Seq[Long]].collect()
    val native = df.select(
      graft.functions.TextExpressions.minhashSig(spark, $"toks", 16)).as[Seq[Long]].collect()
    assert(native.toSeq === hof.toSeq)
    assert(native.forall(_.length === 16))
  }

  test("native SimHash64Expr is bit-compatible with the HOF simhash64") {
    val docs = Seq("a b c d e f g", "the quick brown fox jumps", "solo", "", "a a b")
    val df = docs.toDF("t").withColumn("toks", tokens($"t"))
    val hof = df.select(simhash64($"toks")).as[Long].collect()
    val native = df.select(
      graft.functions.TextExpressions.simhash64(spark, $"toks")).as[Long].collect()
    assert(native.toSeq === hof.toSeq)
  }

  test("ShingleHashSetExpr: distinct count parity with HOF shingles, dedupe works") {
    val docs = Seq("a b c d e", "a b a b a b", "x y", "", "solo")
    val df = docs.toDF("t").withColumn("toks", tokens($"t"))
    val hofN = df.select(size(array_distinct(shingles($"toks", 3)))).as[Int].collect()
    val natN = df.select(
      size(graft.functions.TextExpressions.shingleHashes(spark, $"toks", 3))).as[Int].collect()
    assert(natN.toSeq === hofN.toSeq)
    // identical docs produce identical hash sets
    val two = Seq("p q r s t", "p q r s t").toDF("t")
      .select(graft.functions.TextExpressions.shingleHashes(spark, tokens($"t"), 3))
      .as[Seq[Long]].collect()
    assert(two(0) === two(1))
  }

  test("native expressions: null/edge inputs") {
    import graft.functions.TextExpressions._
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq.empty[String])
    ).toDF("id", "toks")
      .union(Seq((3L, null.asInstanceOf[Seq[String]])).toDF("id", "toks"))
    val r = df.select($"id",
        minhashSig(spark, $"toks", 4).as("mh"),
        simhash64(spark, $"toks").as("sh"),
        shingleHashes(spark, $"toks", 3).as("shg"))
      .orderBy("id").collect()
    assert(!r(0).isNullAt(1) && !r(0).isNullAt(2) && !r(0).isNullAt(3))
    // empty array: minhash = all MaxValue (aggregate init), simhash 0, 1 shingle
    assert(r(1).getSeq[Long](1).forall(_ == Long.MaxValue))
    assert(r(1).getLong(2) === 0L)
    assert(r(1).getSeq[Long](3).length === 1)
    // null array propagates null
    assert(r(2).isNullAt(1) && r(2).isNullAt(2) && r(2).isNullAt(3))
    // null ELEMENTS are skipped, not fatal
    val withNullElem = spark.sql(
      "SELECT graft_minhash(array('a', CAST(NULL AS STRING), 'b'), 4) AS m, " +
      "graft_minhash(array('a', 'b'), 4) AS m2")
    val row = withNullElem.head()
    assert(row.getSeq[Long](0) === row.getSeq[Long](1))
  }

  test("HyperplaneSigExpr: deterministic, angular-distance-sensitive") {
    val base = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val near = base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val far = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq(("b", base.toSeq), ("b2", base.toSeq), ("n", near.toSeq), ("f", far.toSeq))
      .toDF("id", "v").withColumn("v", $"v".cast("array<float>"))
      .select($"id", graft.functions.TextExpressions.hyperplaneSig(spark, $"v", 64).as("s"))
    val m = df.as[(String, Long)].collect().toMap
    assert(m("b") === m("b2"), "same vector → same signature")
    val dNear = java.lang.Long.bitCount(m("b") ^ m("n"))
    val dFar = java.lang.Long.bitCount(m("b") ^ m("f"))
    assert(dNear < dFar, s"near=$dNear far=$dFar")
    // double input gives the same signature as float input (widened math)
    val d2 = Seq(base.map(_.toDouble).toSeq).toDF("v")
      .select(graft.functions.TextExpressions.hyperplaneSig(spark, $"v", 64)).as[Long].head()
    assert(d2 === m("b"))
  }

  test("MinHash agreement estimates Jaccard within statistical tolerance") {
    import graft.functions.TextExpressions._
    // two token sets with known Jaccard 1/3 (10 shared, 20 each-only)
    val shared = (1 to 10).map(i => s"s$i")
    val a = shared ++ (1 to 20).map(i => s"a$i")
    val b = shared ++ (1 to 20).map(i => s"b$i")
    val est = Seq((a, b)).toDF("a", "b")
      .select(minhashAgree(spark,
        minhashSig(spark, $"a", 256), minhashSig(spark, $"b", 256)))
      .as[Double].head()
    val trueJac = 10.0 / 50.0
    // σ = sqrt(p(1-p)/k) ≈ 0.025 at k=256; 4σ tolerance
    assert(math.abs(est - trueJac) < 0.1, s"est=$est true=$trueJac")
  }

  test("TopTokenCountExpr: parity with explode-groupBy mode count") {
    import graft.functions.TextExpressions._
    // deterministic pseudo-random token bags with heavy repeats
    val rows = (1 to 50).map { i =>
      (i.toLong, (1 to 40).map(j => s"t${(i * 31 + j * j) % 7}"))
    }
    val df = rows.toDF("id", "toks")
    val native = df.select($"id", topTokenCount(spark, $"toks").as("c"))
      .as[(Long, Long)].collect().toMap
    val oracle = rows.map { case (id, toks) =>
      id -> toks.groupBy(identity).values.map(_.size).max.toLong
    }.toMap
    assert(native === oracle)
    // degenerate inputs
    val edge = Seq((1L, Seq.empty[String]), (2L, Seq("x")), (3L, Seq("x", "x", "x")))
      .toDF("id", "toks")
      .select($"id", topTokenCount(spark, $"toks").as("c"))
      .as[(Long, Long)].collect().toMap
    assert(edge === Map(1L -> 0L, 2L -> 1L, 3L -> 3L))
  }

  test("ArrayLongIntersectCountExpr: parity with size(array_intersect) on random sets") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 60).map { i =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong).distinct
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val nat = df.select($"id",
        graft.functions.TextExpressions.intersectCount(spark, $"a", $"b"))
      .as[(Long, Long)].collect().toMap
    val ref = df.select($"id", size(array_intersect($"a", $"b")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(nat === ref)
    // edges: empty either side, null input, duplicate elements count once
    val edge = Seq(
      (1L, Seq.empty[Long], Seq(1L, 2L)),
      (2L, Seq(1L, 1L, 2L), Seq(1L, 1L, 3L)),
      (3L, null.asInstanceOf[Seq[Long]], Seq(1L)))
      .toDF("id", "a", "b")
      .select($"id", graft.functions.TextExpressions.intersectCount(spark, $"a", $"b"))
      .as[(Long, Option[Long])].collect().toMap
    assert(edge === Map(1L -> Some(0L), 2L -> Some(1L), 3L -> None))
  }

  test("LshBandKeysExpr: identical signatures share all keys, band index separates") {
    val sigA = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
    val sigB = Seq(1L, 2L, 3L, 4L, 99L, 6L, 7L, 8L) // band 1 of 2 differs
    val df = Seq((1L, sigA), (2L, sigA), (3L, sigB)).toDF("id", "sig")
      .select($"id",
        graft.functions.TextExpressions.lshBandKeysLong(spark, $"sig", 2, 4).as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(df(1L) === df(2L), "deterministic")
    assert(df(1L).length === 2)
    assert(df(1L).head === df(3L).head, "unchanged band agrees")
    assert(df(1L)(1) !== df(3L)(1), "changed band differs")
    assert(df(1L).distinct.length === 2, "band index separates equal slot content")
  }

  test("fingerprints: content fingerprint is order/multiplicity invariant") {
    val df = Seq(("x", "b a a c"), ("y", "a b c"), ("z", "a b d")).toDF("id", "t")
      .select($"id", contentFingerprint(tokens($"t")).as("fp"))
    val m = df.as[(String, String)].collect().toMap
    assert(m("x") === m("y"))
    assert(m("x") !== m("z"))
  }

  test("bigramSurprisal: hand-checked interpolated probabilities on sf0.001-free corpus") {
    // corpus: doc1 = "a b", doc2 = "a b", doc3 = "a c" → total 6 tokens
    // tf: a=3, b=2, c=1; c2: (a,b)=2, (a,c)=1; c1(a)=3
    // doc1: p(a)=3/6; p(b|a)=0.7*(2/3)+0.3*(2/6)
    val d = tempDir("graft_bigram")
    Seq((1L, "a b", "en", "s", 3L), (2L, "a b", "en", "s", 3L),
      (3L, "a c", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m = graft.operators.TextAnalysis.bigramSurprisal(spark, d)
      .select("doc_id", "n_tokens", "mean_surprisal2")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    def fx(x: Double) = math.round(-math.log(x) * 1e6)
    val pA = 3.0 / 6.0
    val d1 = (fx(pA) + fx(0.7 * (2.0 / 3.0) + 0.3 * (2.0 / 6.0))) / (2 * 1e6)
    val d3 = (fx(pA) + fx(0.7 * (1.0 / 3.0) + 0.3 * (1.0 / 6.0))) / (2 * 1e6)
    assert(m(1L) === ((1L, 2L, d1)))
    assert(m(2L) === ((2L, 2L, d1)))
    assert(m(3L) === ((3L, 2L, d3)))
  }

  test("bigramSurprisal ranks a common-pattern doc below a rare-pattern doc") {
    val d = tempDir("graft_bigram2")
    val common = (1L to 20L).map(i => (i, "the cat sat on the mat", "en", "s", 22L))
    val rare = Seq((99L, "zyx qwv jkl pqr mno stu", "en", "s", 23L))
    (common ++ rare).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val m = graft.operators.TextAnalysis.bigramSurprisal(spark, d)
      .select("doc_id", "mean_surprisal2").as[(Long, Double)].collect().toMap
    assert(m(1L) < m(99L), s"common ${m(1L)} must score below rare ${m(99L)}")
  }

  test("AdjacentPairsExpr: exact parity with the HOF transform spelling") {
    val docs = Seq("a b c d e", "a a a", "x y", "solo", "", "p q p q p")
    val df = docs.toDF("t").withColumn("toks", tokens($"t"))
    val hof = df.select(expr(
      "CASE WHEN size(toks) < 2 THEN array() ELSE transform(" +
        "sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1])) END"))
      .as[Seq[String]].collect()
    val fused = df.select(
      graft.functions.TextExpressions.adjacentPairs(spark, $"toks"))
      .as[Seq[String]].collect()
    assert(fused.toSeq === hof.toSeq)
    // null elements null-propagate like concat
    val withNull = Seq(Tuple1(Seq("a", null, "b"))).toDF("toks")
      .select(graft.functions.TextExpressions.adjacentPairs(spark, $"toks"))
      .as[Seq[Option[String]]].collect().head
    assert(withNull === Seq(None, None))
  }

  test("BpeMergeExpr: greedy-leftmost merge incl. equal-symbol runs") {
    import graft.functions.TextExpressions.bpeMerge
    def run(toks: Seq[String], a: String, b: String): Seq[String] =
      Seq(Tuple1(toks)).toDF("toks")
        .select(bpeMerge(spark, $"toks", a, b)).as[Seq[String]].collect().head
    assert(run(Seq("x", "a", "b", "y"), "a", "b") === Seq("x", "a b", "y"))
    assert(run(Seq("a", "b", "a", "b"), "a", "b") === Seq("a b", "a b"))
    // greedy on a run of equal symbols: positions 0, 2 of the run merge
    assert(run(Seq("a", "a", "a"), "a", "a") === Seq("a a", "a"))
    assert(run(Seq("x", "a", "a", "a", "a"), "a", "a")
      === Seq("x", "a a", "a a"))
    // merged symbols carry spaces and match as whole symbols only
    assert(run(Seq("a b", "c"), "a b", "c") === Seq("a b c"))
    assert(run(Seq("a", "b c"), "a", "b") === Seq("a", "b c"))
    assert(run(Seq("q"), "a", "b") === Seq("q"))
    assert(run(Seq.empty[String], "a", "b") === Seq.empty[String])
  }

  test("bpeTrainState: encode face consistent with the merge table") {
    val docs = Seq(
      (1L, "a b a b a b c"), (2L, "a b c d a b"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val (merges, encoded) = graft.operators.TextAnalysis
      .bpeTrainState(docs, $"doc_id", $"text", rounds = 2)
    assert(merges.head._2 === "a b" && merges.head._3 === 5L,
      s"top pair of round 1: $merges")
    val m = encoded.as[(Long, Seq[String])].collect().toMap
    // round 1 merges (a,b) everywhere; round 2's winner then applies
    assert(m(1L).count(_ == "a b") + m(1L).count(_.startsWith("a b ")) >= 1)
    assert(m(3L) === Seq("x", "y", "z"), "untouched doc passes through")
    // n_after <= n_before for every doc, and strictly < where merges hit
    val sizes = docs.select($"doc_id",
        size(tokens($"text")).as("before")).as[(Long, Int)].collect().toMap
    m.foreach { case (id, toks) => assert(toks.size <= sizes(id)) }
    assert(m(1L).size < sizes(1L))
  }

  test("GopherStatsExpr: parity with a reference implementation; coverage counts overlap once") {
    // independent reference for every field of the fused kernel
    def ref(toks: Seq[String]): (Long, Long, Long, Long, Long, Long, Long, Long) = {
      val n = toks.size
      val wordChars = toks.map(_.length.toLong).sum
      val nAlpha = toks.count(_.exists(c => c.isLetter && c <= 'z')).toLong
      def grams(g: Int): Seq[String] =
        if (n < g) Nil else (0 to n - g).map(i => toks.slice(i, i + g).mkString(" "))
      def top(g: Int): Long = {
        val counts = grams(g).groupBy(identity).view.mapValues(_.size.toLong)
        if (counts.isEmpty) 0L
        else counts.map { case (k, c) => c * k.length }.max
      }
      def cov(g: Int): Long = {
        val occ = grams(g).zipWithIndex
        val dup = occ.groupBy(_._1).filter(_._2.size >= 2).keySet
        occ.filter(o => dup(o._1)).flatMap(o => o._2 until o._2 + g)
          .toSet.size.toLong
      }
      (n.toLong, wordChars, nAlpha, top(2), top(3), top(4), cov(5), cov(10))
    }
    val docs = Seq(
      // overlap-once: every position sits under a duplicated 5-gram, but
      // coverage is 10, never the Σcount·len upper bound (30)
      "a b a b a b a b a b",
      "x y x y x y z", // repeated 2-gram, no 5-gram dups
      "unique tokens only here now never repeating anything at all",
      "a", "a b c d", "", // shorter than every gram width
      "t t t t t t t t t t t t t t t" // one-symbol run: all grams dup
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = docs
      .select($"doc_id", graft.functions.TextExpressions
        .gopherStats(spark, tokens($"text")).as("g"))
      .select($"doc_id", $"g.n_words", $"g.word_chars", $"g.n_alpha",
        $"g.top2_chars", $"g.top3_chars", $"g.top4_chars", $"g.cov5", $"g.cov10")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .sortBy(_._1).zip(got).foreach { case ((id, text), g) =>
        val e = ref(text.toLowerCase.split(" ", -1).toSeq)
        assert((g._2, g._3, g._4, g._5, g._6, g._7, g._8, g._9) === e,
          s"doc $id '$text'")
      }
    // the overlap-once doc, explicitly: 10 covered positions, not 30
    assert(got.find(_._1 === 0L).get._8 === 10L)
    // null text → null struct (nullSafeEval)
    val nulls = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(graft.functions.TextExpressions
        .gopherStats(spark, tokens($"text")).as("g"))
    assert(nulls.filter($"g".isNull).count() === 1L)
  }

  test("bpeTrain: merge counts are non-increasing across rounds (property)") {
    import org.scalacheck.{Gen, rng}
    // small vocab + short docs → merges genuinely repeat and cascade
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(3, 10).flatMap(n => Gen.listOfN(n, doc))
    (0 until 8).foreach { seed =>
      val corpus = corpusGen(Gen.Parameters.default, rng.Seed(seed.toLong)).get
      val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rounds = graft.operators.TextAnalysis
        .bpeTrain(df, $"text", rounds = 4)
        .as[(Int, String, Long)].collect().toSeq
      assert(rounds.nonEmpty)
      rounds.sliding(2).foreach {
        case Seq((_, _, n1), (_, _, n2)) =>
          assert(n2 <= n1,
            s"merge counts must be non-increasing, got $rounds (seed $seed)")
        case _ => ()
      }
    }
  }

  test("normalizeText: NFC-composes, folds case/digits/whitespace, trims; idempotent; null-safe") {
    def norm(t: String): String =
      Seq(Tuple1(t)).toDF("t")
        .select(graft.functions.TextExpressions.normalizeText(spark, $"t"))
        .as[String].head()
    // composed vs decomposed accent -> the SAME dedup key
    val composed = "caf\u00e9 menu"          // é as one code point
    val decomposed = "cafe\u0301 menu"        // e + combining acute
    assert(norm(composed) === norm(decomposed))
    // case, digit and whitespace folds + trim, in one pass
    assert(norm("  Order\t42\n of  99 Items ") === "order 00 of 00 items")
    // idempotence: normalizing a normalized key is the identity
    val once = norm("  Mixed\tCASE 123  text\n")
    assert(norm(once) === once)
    // null in, null out (nullSafeEval)
    assert(Seq(Tuple1(null: String)).toDF("t")
      .select(graft.functions.TextExpressions.normalizeText(spark, $"t").as("n"))
      .filter($"n".isNull).count() === 1L)
  }
}
