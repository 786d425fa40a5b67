package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BM25 + RRF against an independent driver-side re-implementation, and
  * the clustersQ face of dupClusters against an in-test union-find. */
class LexicalSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Plain-Scala BM25 over the collected corpus — an independent oracle
    * for the distributed pipeline (same tokenizer: split(lower, ' ')). */
  private lazy val expectedBm25: Map[Long, Double] = {
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).toSeq }
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val terms = Lexical.QueryTerms
    val dfreq = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    toks.flatMap { case (id, ts) =>
      val score = terms.map { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val idf = math.log(1.0 + (n - dfreq(t) + 0.5) / (dfreq(t) + 0.5))
          idf * tf * (Lexical.K1 + 1.0) /
            (tf + Lexical.K1 * (1.0 - Lexical.B + Lexical.B * ts.size / avgdl))
        }
      }.sum
      if (score > 0) Some(id -> score) else None
    }.toMap
  }

  test("bm25Scores matches a driver-side re-implementation") {
    val got = Lexical.bm25Scores(spark, sf)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === expectedBm25.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - expectedBm25(id)) < 1e-6, s"doc $id")
    }
    assert(got.nonEmpty, "benchmark terms must occur in the corpus")
  }

  test("search_bm25: top-10, descending, deterministic across runs") {
    val a = Lexical.bm25Q(spark, sf).as[(Long, Double)].collect().toSeq
    val b = Lexical.bm25Q(spark, sf).as[(Long, Double)].collect().toSeq
    assert(a === b)
    assert(a.size === 10)
    assert(a.map(_._2) === a.map(_._2).sorted.reverse)
  }

  test("rrfHybrid: ranks bounded by PoolN, score reconstructs from ranks") {
    val rows = Lexical.rrfHybrid(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(rows.size === 10)
    rows.foreach { case (id, rl, rv, s) =>
      assert(rl >= 0 && rl <= Lexical.PoolN, s"doc $id r_lex")
      assert(rv >= 0 && rv <= Lexical.PoolN, s"doc $id r_vec")
      assert(rl > 0 || rv > 0, s"doc $id must be in at least one list")
      val want =
        (if (rl > 0) 1.0 / (Lexical.RrfK + rl) else 0.0) +
        (if (rv > 0) 1.0 / (Lexical.RrfK + rv) else 0.0)
      assert(math.abs(s - want) < 1e-6, s"doc $id score")
    }
    // docs in BOTH lists outrank docs of the same best single rank
    val scores = rows.map(_._4)
    assert(scores === scores.sorted.reverse)
  }

  test("bm25FromIndex: bit-identical to the corpus scan, bucket filter prunes partitions") {
    val dir = tempDir("lex_idx")
    try {
      Lexical.writeInvertedIndex(
        graft.Tables.documents(spark, sf), $"doc_id", $"text", s"$dir/idx")
      val served = Lexical.bm25FromIndex(spark, s"$dir/idx")
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters:") && plan.contains("bucket"),
        s"query-term buckets must be partition filters:\n$plan")
      assert(plan.contains("PushedFilters:") && plan.contains("term"),
        s"term equality must push into the pruned partitions:\n$plan")
      val a = served.as[(Long, Double)].collect().toMap
      val b = Lexical.bm25Scores(spark, sf).as[(Long, Double)].collect().toMap
      assert(a === b, "index serving must equal the corpus-scan formulation")
      // pruning is meaningful: the layout has far more bucket dirs than
      // the ≤|Q| the PartitionFilters admit
      val total = new java.io.File(s"$dir/idx/postings").listFiles()
        .count(_.getName.startsWith("bucket="))
      assert(total > Lexical.QueryTerms.size,
        s"index must have more buckets than query terms (got $total)")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("phraseFromIndex: exact occurrence counts vs a driver-side sliding window") {
    val dir = tempDir("lex_phrase")
    try {
      Lexical.writeInvertedIndex(
        graft.Tables.documents(spark, sf), $"doc_id", $"text", s"$dir/idx")
      val got = Lexical.phraseFromIndex(spark, s"$dir/idx")
        .as[(Long, Long)].collect().toMap
      val want = graft.Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .map { case (id, t) =>
          val ts = t.toLowerCase.split(" ", -1).toSeq
          id -> ts.sliding(Lexical.Phrase.size)
            .count(_ == Lexical.Phrase).toLong
        }.filter(_._2 > 0).toMap
      assert(got === want)
      assert(got.nonEmpty, "benchmark phrase must occur in the corpus")
      // a doc with 2+ occurrences exists at this sf — counting, not existence
      assert(got.values.max >= 2,
        "a multi-occurrence doc must count > 1 (intersect must not collapse repeats)")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("proximityFromIndex: slop widens matches; counts match a driver-side scan") {
    val dir = tempDir("lex_prox")
    try {
      Lexical.writeInvertedIndex(
        graft.Tables.documents(spark, sf), $"doc_id", $"text", s"$dir/idx")
      val slop = 2
      val got = Lexical.proximityFromIndex(spark, s"$dir/idx", "sort", "merge", slop)
        .as[(Long, Long)].collect().toMap
      val want = graft.Tables.documents(spark, sf)
        .select($"doc_id", $"text").as[(Long, String)].collect()
        .map { case (id, t) =>
          val ts = t.toLowerCase.split(" ", -1)
          id -> ts.indices.count(i => ts(i) == "sort" &&
            (i + 1 to math.min(i + 1 + slop, ts.length - 1))
              .exists(j => ts(j) == "merge")).toLong
        }.filter(_._2 > 0).toMap
      assert(got === want)
      // slop 2 is a strict superset of exact adjacency
      val exact = Lexical.proximityFromIndex(spark, s"$dir/idx", "sort", "merge", 0)
        .as[(Long, Long)].collect().toMap
      assert(exact.keySet.subsetOf(got.keySet) && got.size > exact.size)
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("appendToIndex: build half + append half serves bit-identical to a full rebuild") {
    val dir = tempDir("lex_incr")
    try {
      val docs = graft.Tables.documents(spark, sf)
      val cut = 250L
      Lexical.writeInvertedIndex(
        docs.filter($"doc_id" < cut), $"doc_id", $"text", s"$dir/incr")
      Lexical.appendToIndex(
        docs.filter($"doc_id" >= cut), $"doc_id", $"text", s"$dir/incr")
      Lexical.writeInvertedIndex(docs, $"doc_id", $"text", s"$dir/full")
      val a = Lexical.bm25FromIndex(spark, s"$dir/incr")
        .as[(Long, Double)].collect().toMap
      val b = Lexical.bm25FromIndex(spark, s"$dir/full")
        .as[(Long, Double)].collect().toMap
      assert(a === b, "BM25 from the appended index must equal the full rebuild")
      val pa = Lexical.phraseFromIndex(spark, s"$dir/incr")
        .as[(Long, Long)].collect().toMap
      val pb = Lexical.phraseFromIndex(spark, s"$dir/full")
        .as[(Long, Long)].collect().toMap
      assert(pa === pb, "phrase counts from the appended index must equal the full rebuild")
      // both halves really contributed
      assert(a.keys.exists(_ < cut) && a.keys.exists(_ >= cut))
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("bm25BoolScores: must filters, mustNot excludes, must+should both score") {
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.toLowerCase.split(" ", -1).toSeq }.toMap
    val got = Lexical.bm25BoolScores(spark, sf,
        must = Seq("hash"), should = Seq("vector", "merge"), mustNot = Seq("slow"))
      .as[(Long, Double)].collect().toMap
    assert(got.nonEmpty)
    got.keys.foreach { id =>
      assert(docs(id).contains("hash"), s"doc $id must contain the must term")
      assert(!docs(id).contains("slow"), s"doc $id must not contain the mustNot term")
    }
    // every eligible doc appears (the filter is exact, not approximate)
    val eligible = docs.filter { case (_, ts) =>
      ts.contains("hash") && !ts.contains("slow")
    }.keySet
    assert(got.keySet === eligible)
    // the must term scores: a doc with ONLY the must term still scores > 0
    val onlyMust = eligible.filter(id =>
      !docs(id).contains("vector") && !docs(id).contains("merge"))
    onlyMust.foreach(id => assert(got(id) > 0.0, s"doc $id: must clause must score"))
  }

  test("weightedHybrid: weights are live, extremes reduce to the single retrievers") {
    val lexOnly = Lexical.weightedHybrid(spark, sf, wLex = 1.0, wVec = 0.0)
      .select("doc_id").as[Long].collect().toSeq
    val lexDirect = Lexical.bm25Scores(spark, sf)
      .orderBy(org.apache.spark.sql.functions.desc("score"),
        org.apache.spark.sql.functions.asc("doc_id"))
      .limit(10).select("doc_id").as[Long].collect().toSeq
    // wVec=0 ⇒ ranking by normalized lex score = ranking by lex score
    // (min-max is monotone), with vec-only pool docs at fused 0
    assert(lexOnly.take(lexDirect.size) === lexDirect)
    val fused = Lexical.weightedHybrid(spark, sf)
      .as[(Long, Double, Double, Double)].collect()
    fused.foreach { case (id, nl, nv, f) =>
      assert(nl >= 0.0 && nl <= 1.0 && nv >= 0.0 && nv <= 1.0, s"doc $id norms")
      assert(math.abs(f - BigDecimal(0.4 * nl + 0.6 * nv)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"doc $id fused reconstructs from norms")
    }
  }

  test("query analyzer: case-folded terms, dotted and duplicate terms are safe") {
    val lower = Lexical.bm25Scores(spark, sf, Seq("vector"))
      .as[(Long, Double)].collect().toMap
    val upper = Lexical.bm25Scores(spark, sf, Seq(" Vector "))
      .as[(Long, Double)].collect().toMap
    assert(upper === lower, "the query runs through the document analyzer")
    // '.' or duplicates in terms must not break attribute resolution
    val weird = Lexical.bm25Scores(spark, sf, Seq("node.js", "hash", "hash"))
      .as[(Long, Double)].collect()
    assert(weird.nonEmpty)
    intercept[IllegalArgumentException] {
      Lexical.bm25Scores(spark, sf, Seq("  ", ""))
    }
  }

  test("healIndex: serving recovers an index whose stats swap was interrupted") {
    val dir = tempDir("lex_heal")
    try {
      Lexical.writeInvertedIndex(
        graft.Tables.documents(spark, sf), $"doc_id", $"text", s"$dir/idx")
      val before = Lexical.bm25FromIndex(spark, s"$dir/idx")
        .as[(Long, Double)].collect().toMap
      // simulate a crash between the swap's two renames: stats vacated
      // to __old, replacement never moved in
      for (t <- Seq("stats", "terms")) {
        assert(new java.io.File(s"$dir/idx/$t")
          .renameTo(new java.io.File(s"$dir/idx/${t}__old")))
      }
      val after = Lexical.bm25FromIndex(spark, s"$dir/idx")
        .as[(Long, Double)].collect().toMap
      assert(after === before, "heal must restore the vacated tables")
    } finally {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("takedown liveDocs: deleted docs leave every served query; surviving scores stay bit-identical (stale df)") {
    val dir = tempDir("lex_td")
    Lexical.writeInvertedIndex(
      graft.Tables.documents(spark, sf), $"doc_id", $"text", s"$dir/idx")
    val pre = Lexical.bm25FromIndex(spark, s"$dir/idx")
      .as[(Long, Double)].collect().toMap
    val phrasePre = Lexical.phraseFromIndex(spark, s"$dir/idx")
      .as[(Long, Long)].collect().toMap
    val del = pre.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(2).map(_._1)
    val delPhrase = phrasePre.keys.head
    Lexical.deleteFromIndex((del :+ delPhrase).toDF("doc_id"), $"doc_id", s"$dir/idx")
    val post = Lexical.bm25FromIndex(spark, s"$dir/idx")
      .as[(Long, Double)].collect().toMap
    // Lucene's documented pre-merge contract, exactly: the deleted docs
    // vanish, and every surviving score is UNCHANGED because df and
    // corpus stats still count the deleted docs until the merge
    assert(post === (pre -- del - delPhrase))
    assert(!Lexical.phraseFromIndex(spark, s"$dir/idx")
      .as[(Long, Long)].collect().toMap.contains(delPhrase))
  }

  test("mergeIndex: post-merge index is bit-identical to a fresh build on the filtered corpus; crash-interrupted merge re-runs to the same state") {
    val docs = graft.Tables.documents(spark, sf)
    val pre = Lexical.bm25FromIndex(spark, {
      val tmp = tempDir("lex_mg_pre")
      Lexical.writeInvertedIndex(docs, $"doc_id", $"text", s"$tmp/idx"); s"$tmp/idx"
    }).as[(Long, Double)].collect().toMap
    val del = pre.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(3).map(_._1)
    // fresh build on the filtered corpus = the merge's target state
    val freshDir = tempDir("lex_mg_fresh")
    Lexical.writeInvertedIndex(docs.filter(!$"doc_id".isin(del: _*)),
      $"doc_id", $"text", s"$freshDir/idx")
    def tableRows(dir: String, t: String): Set[String] =
      spark.read.parquet(s"$dir/$t").collect()
        .map(r => r.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case x => String.valueOf(x)
        }.mkString("|")).toSet
    // a merge interrupted after the terms swap re-runs to completion
    val dir = tempDir("lex_mg")
    Lexical.writeInvertedIndex(docs, $"doc_id", $"text", s"$dir/idx")
    Lexical.deleteFromIndex(del.toDF("doc_id"), $"doc_id", s"$dir/idx")
    intercept[RuntimeException] {
      Lexical.mergeIndex(spark, s"$dir/idx",
        onStep = l => if (l == "stats") throw new RuntimeException("boom"))
    }
    // mid-merge, serving is still correct (tombstones filter postings)
    assert(!Lexical.bm25FromIndex(spark, s"$dir/idx")
      .as[(Long, Double)].collect().toMap.keySet.exists(del.contains))
    Lexical.mergeIndex(spark, s"$dir/idx")
    // every derived table now equals the fresh filtered build, bit for bit
    for (t <- Seq("postings", "terms", "stats"))
      assert(tableRows(s"$dir/idx", t) === tableRows(s"$freshDir/idx", t),
        s"merged $t must equal a fresh build on the filtered corpus")
    assert(!new java.io.File(s"$dir/idx/_tombstones").exists())
    val served = Lexical.bm25FromIndex(spark, s"$dir/idx")
      .as[(Long, Double)].collect().toMap
    assert(served === Lexical.bm25FromIndex(spark, s"$freshDir/idx")
      .as[(Long, Double)].collect().toMap)
  }

  test("fuzzyExpansions: deletion-neighborhood candidates are a proven superset of levenshtein<=1; cap picks by df") {
    import spark.implicits._
    // real vocabulary from testdata: every (q, vocab-term) pair within
    // edit distance 1 must be proposed by the delete-1 key join — the
    // SymSpell completeness property the oracle relies on
    val docs = graft.Tables.documents(spark, sf)
      .select(graft.functions.TextFunctions.tokens($"text").as("toks"))
    val vocab = docs.select(explode(array_distinct($"toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val vocabTerms = vocab.select("term").as[String].collect().toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val qs = Seq("vektor", "streem", "sow", "haash", "nomatchxyz", "key")
    val got = Lexical.fuzzyExpansions(vocab, qs, maxExpansions = 1000)
      .select("q_term", "term").as[(String, String)].collect().toSet
    val want = (for (q <- qs; t <- vocabTerms if lev(q, t) <= 1) yield (q, t)).toSet
    assert(got === want,
      s"expansion must equal the brute levenshtein join: missing=${want -- got} extra=${got -- want}")
    // "key" is itself in the vocab: exact matches ride the same path
    assert(got.contains(("key", "key")))
    assert(!got.exists(_._1 == "nomatchxyz"), "no expansion for a far term")
    // cap: with maxExpansions=1 "sow" keeps only the higher-df of
    // {slow, row}
    val capped = Lexical.fuzzyExpansions(vocab, Seq("sow"), maxExpansions = 1)
      .select("term").as[String].collect().toSeq
    val dfOf = vocab.as[(String, Double)].collect().toMap
    val best = Seq("slow", "row").maxBy(t => (dfOf(t), t.hashCode))
    assert(capped === Seq(if (dfOf("slow") == dfOf("row")) Seq("row", "slow").min else best))
  }

  test("autoFuzzyExpansions: per-term AUTO budget — brute-equal at ED<=2, ED1 band at 3-5 chars, exact below 3") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select(graft.functions.TextFunctions.tokens($"text").as("toks"))
    val vocab = docs.select(explode(array_distinct($"toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val vocabTerms = vocab.select("term").as[String].collect().toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def budget(t: String): Int =
      if (t.length >= 6) 2 else if (t.length >= 3) 1 else 0
    // one query per band + a transposition (plain-Levenshtein 2)
    val qs = Seq("vektorr", "vectro", "strem", "jo", "key")
    val got = Lexical.autoFuzzyExpansions(vocab, qs, maxExpansions = 1000)
      .select("q_term", "term").as[(String, String)].collect().toSet
    val want = (for (q <- qs; t <- vocabTerms if lev(q, t) <= budget(q))
      yield (q, t)).toSet
    assert(got === want,
      s"AUTO expansion must equal the brute budgeted join: missing=${want -- got} extra=${got -- want}")
    // the ED2 reach the plain family lacks: "vektorr" -> vector needs
    // a substitution AND a deletion
    assert(got.contains(("vektorr", "vector")))
    assert(!Lexical.fuzzyExpansions(vocab, Seq("vektorr"), maxExpansions = 1000)
      .select("term").as[String].collect().contains("vector"),
      "the ED1 family must NOT reach vector from vektorr")
    // the 3-5 band stays at ED1: "strem" reaches stream, never ED2 terms
    assert(got.contains(("strem", "stream")))
    assert(got.filter(_._1 == "strem").forall(p => lev("strem", p._2) <= 1))
    // below 3 chars: exact only ("jo" is not a corpus token -> nothing)
    assert(!got.exists(_._1 == "jo"))
    // exact matches still ride the path at every band
    assert(got.contains(("key", "key")))
  }

  test("bm25FuzzyScores: best-expansion max per query term, summed in order; a term can score two query terms") {
    import spark.implicits._
    // hand corpus: "vector" and "victor" are both distance 1 from query
    // "vcctor"… use controlled words instead:
    //   q1="cat" → {cart, cap}; q2="dog" → {dig}
    //   "bat" is distance 1 from BOTH "cat"-like q "bat"? keep simple:
    //   doc1 has cart+dig, doc2 has cap only, doc3 unrelated
    val docs = Seq(
      (1L, "cart dig x y"),
      (2L, "cap z z z"),
      (3L, "unrelated words only here"),
      (4L, "cart cap dig q")).toDF("doc_id", "text")
    val saved = docs.cache()
    // local stand-in for Tables.documents: call the generic pieces
    val toks = saved.select($"doc_id",
      graft.functions.TextFunctions.tokens($"text").as("toks"))
    val vocab = toks.select(explode(array_distinct($"toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val exp = Lexical.fuzzyExpansions(vocab, Seq("cat", "dog"))
      .select("q_term", "term").as[(String, String)].collect().toSet
    assert(exp === Set(("cat", "cart"), ("cat", "cap"), ("dog", "dig")),
      s"got $exp")
    // scoring semantics via the public scorer on a written corpus
    val dir = tempDir("lex_fuzzy")
    saved.write.parquet(s"$dir/documents.parquet")
    val scored = Lexical.bm25FuzzyScores(spark, dir, Seq("cat", "dog"))
      .as[(Long, Double)].collect().toMap
    // doc3 matches nothing → absent
    assert(!scored.contains(3L))
    // per-q_term components (each the MAX over that term's expansions)
    // must ADD across query terms: reconstruct from single-term queries
    val catOnly = Lexical.bm25FuzzyScores(spark, dir, Seq("cat"))
      .as[(Long, Double)].collect().toMap
    val dogOnly = Lexical.bm25FuzzyScores(spark, dir, Seq("dog"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(scored(4L) - (catOnly(4L) + dogOnly(4L))) < 2e-6,
      s"per-q_term components must add: ${scored(4L)} vs ${catOnly(4L)} + ${dogOnly(4L)}")
    assert(scored(1L) > 0 && scored(2L) > 0)
    // max-not-sum within a query term: doc4 holds BOTH cat-expansions;
    // its "cat" component must equal the better single-term BM25 score
    // (exact-term scorer, same formula/df), not their sum
    val sCart = Lexical.bm25Scores(spark, dir, Seq("cart"))
      .as[(Long, Double)].collect().toMap
    val sCap = Lexical.bm25Scores(spark, dir, Seq("cap"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(catOnly(4L) - math.max(sCart(4L), sCap(4L))) < 2e-6,
      s"cat component must be the best expansion: ${catOnly(4L)} vs max(${sCart(4L)}, ${sCap(4L)})")
    assert(catOnly(4L) < sCart(4L) + sCap(4L) - 1e-6,
      "expansions within one query term must not sum")
    saved.unpersist()
  }

  test("prefixExpansions: completions capped by df; bm25PrefixScores keeps the best completion") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("toks"))
    val vocab = docs.select(explode(array_distinct($"toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val dfOf = vocab.as[(String, Double)].collect().toMap
    // "s" matches 6 vocabulary terms — the cap must keep the 5 highest-df
    val sTerms = dfOf.keys.filter(_.startsWith("s")).toSeq
    assert(sTerms.size === 6, s"fixture drift: $sTerms")
    val expected = sTerms.sortBy(t => (-dfOf(t), t)).take(5).toSet
    val got = Lexical.prefixExpansions(vocab, Seq("s", "co"))
      .select("q_term", "term").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got("s") === expected, s"got ${got("s")} want $expected")
    assert(got("co") === dfOf.keys.filter(_.startsWith("co")).toSet)
    // scoring reuses the verified expansion scorer — spot-check topology:
    // every scored doc contains at least one expansion term
    val scored = Lexical.bm25PrefixScores(spark, sf, Seq("co"))
      .as[(Long, Double)].collect().toMap
    val withCo = docs.filter(exists($"toks",
        t => t.startsWith("co"))).select("doc_id").as[Long].collect().toSet
    assert(scored.keySet.subsetOf(withCo) && scored.values.forall(_ > 0))
  }

  test("moreLikeThis: tf-idf term selection, source excluded, equals plain BM25 on the selected terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana cherry date"),
      (3L, "unrelated words entirely here"),
      (4L, "banana only here today")).toDF("doc_id", "text")
    val dir = tempDir("lex_mlt")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = Lexical.moreLikeThis(spark, dir, 1L, maxQueryTerms = 2)
      .as[(Long, Double)].collect().toMap
    // tf is 1 for every doc-1 term; df(banana)=3 (doc 4 too) while
    // df(apple)=df(cherry)=2 ⇒ banana's idf is lowest — the tf·idf
    // selection keeps {apple, cherry} (tie between them broken by term
    // asc doesn't matter at cap 2), proving selection is idf-driven,
    // not positional
    val expected = Lexical.bm25Scores(spark, dir, Seq("apple", "cherry"))
      .as[(Long, Double)].collect().toMap - 1L
    assert(got === expected,
      s"MLT must equal BM25 on the selected terms minus the source: $got vs $expected")
    assert(!got.contains(1L), "source doc excluded")
    assert(!got.contains(3L) && !got.contains(4L),
      "docs sharing no selected term are absent (banana was not selected)")
  }

  test("bm25DisMax: best term dominates, tie_breaker extremes reduce to max and to the plain sum") {
    import spark.implicits._
    val terms = Seq("hash", "vector")
    // components from the verified per-term scorer
    val h = Lexical.bm25Scores(spark, sf, Seq("hash")).as[(Long, Double)].collect().toMap
    val v = Lexical.bm25Scores(spark, sf, Seq("vector")).as[(Long, Double)].collect().toMap
    val both = (h.keySet ++ v.keySet).map { id =>
      id -> (h.getOrElse(id, 0.0), v.getOrElse(id, 0.0))
    }.toMap
    // tb = 0 → pure max
    val dm0 = Lexical.bm25DisMax(spark, sf, terms, tieBreaker = 0.0)
      .as[(Long, Double)].collect().toMap
    dm0.foreach { case (id, s) =>
      assert(math.abs(s - math.max(both(id)._1, both(id)._2)) < 2e-6, s"id $id")
    }
    // tb = 1 → plain bool-style sum (bm25Scores on both terms)
    val dm1 = Lexical.bm25DisMax(spark, sf, terms, tieBreaker = 1.0)
      .as[(Long, Double)].collect().toMap
    val sum2 = Lexical.bm25Scores(spark, sf, terms).as[(Long, Double)].collect().toMap
    dm1.foreach { case (id, s) =>
      assert(math.abs(s - sum2(id)) < 2e-6, s"id $id: $s vs ${sum2(id)}") }
    intercept[IllegalArgumentException] {
      Lexical.bm25DisMax(spark, sf, terms, tieBreaker = 1.5)
    }
  }

  test("synonymExpansions: identity + vocab-present synonyms only; absent query terms resolve through synonyms") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select(graft.functions.TextFunctions.tokens($"text").as("toks"))
    val vocab = docs.select(explode(array_distinct($"toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val exp = Lexical.synonymExpansions(vocab, Seq("rapid", "row"),
        Lexical.Synonyms)
      .select("q_term", "term").as[(String, String)].collect().toSet
    // "rapid" and "quick" are not corpus terms — only "fast" survives;
    // "row" keeps itself plus "line"
    assert(exp === Set(("rapid", "fast"), ("row", "row"), ("row", "line")),
      s"got $exp")
    // the scored result equals best-expansion semantics: a doc with only
    // "line" still scores the "row" component
    val scored = Lexical.bm25SynonymScores(spark, sf, Seq("rapid", "row"),
      Lexical.Synonyms).as[(Long, Double)].collect().toMap
    assert(scored.nonEmpty && scored.values.forall(_ > 0))
  }

  test("fuzzyFromIndex: bit-identical to the corpus scan; takedown filters the served hits") {
    import spark.implicits._
    val dir = tempDir("lex_fuzzy_idx")
    Lexical.writeInvertedIndex(graft.Tables.documents(spark, sf),
      col("doc_id"), col("text"), dir)
    val scan = Lexical.bm25FuzzyScores(spark, sf, Seq("vektor", "sow"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val served = Lexical.fuzzyFromIndex(spark, dir, Seq("vektor", "sow"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(served === scan, "index-served fuzzy must be bit-identical to the scan")
    // liveDocs: a deleted doc leaves the fuzzy results immediately,
    // surviving scores unchanged (stale-df contract)
    val victim = scan.maxBy(_._2)._1
    Lexical.deleteFromIndex(Seq(victim).toDF("doc_id"), col("doc_id"), dir)
    val after = Lexical.fuzzyFromIndex(spark, dir, Seq("vektor", "sow"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(after === scan.filterNot(_._1 == victim),
      "takedown removes the doc, everything else bit-identical")
  }

  test("fuzzyFromIndex(auto) ≡ bm25AutoFuzzyScores row-for-row on a fresh index (ADVICE r19)") {
    // the ED1 served family shares search_fuzzy's oracle; the AUTO arm
    // deserved the same pin — its served path expands over the index's
    // own terms table, the in-plan path over the corpus vocabulary, and
    // both must select identical expansions and scores
    import spark.implicits._
    val dir = tempDir("lex_fuzzy_auto_idx")
    Lexical.writeInvertedIndex(graft.Tables.documents(spark, sf),
      col("doc_id"), col("text"), dir)
    val scan = Lexical.bm25AutoFuzzyScores(spark, sf, Lexical.AutoFuzzyTerms)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(scan.nonEmpty)
    val served = Lexical.fuzzyFromIndex(spark, dir, Lexical.AutoFuzzyTerms,
        auto = true)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(served === scan,
      "index-served AUTO fuzzy must be bit-identical to the in-plan spelling")
  }

  test("searchHighlight: snippet window clamps at doc start, counts every occurrence; searchFacets covers the page") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash x y z a b c d", "en", "web"),
      (2L, "a b c d e hash f g h i", "en", "book"),
      (3L, "hash q hash", "fr", "web"),
      (4L, "nothing matching here", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val dir = tempDir("lex_hl")
    docs.write.parquet(s"$dir/documents.parquet")
    val hl = Lexical.searchHighlight(spark, dir, Seq("hash"), k = 10)
      .select("doc_id", "n_occ", "snippet")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(hl(1L) === ((1L, "hash x y z a b c")), "start-clamped 7-token window")
    assert(hl(2L) === ((1L, "c d e hash f g h")), "centered window")
    assert(hl(3L) === ((2L, "hash q hash")), "all occurrences counted, short doc clamps")
    assert(!hl.contains(4L), "non-matching docs absent")
    val facets = Lexical.searchFacets(spark, dir, Seq("hash"), k = 10)
      .as[(String, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(facets("source") === Map("web" -> 2L, "book" -> 1L))
    assert(facets("lang") === Map("en" -> 2L, "fr" -> 1L))
  }

  test("clustersQ matches an in-test union-find over the same pairs") {
    val pairs = Dedup.jaccardPairs(
        graft.Tables.documents(spark, sf)
          .withColumn("blk", concat_ws("_", $"lang", expr("n_chars DIV 100"))),
        $"doc_id", $"text", $"blk")
      .filter($"jac" >= 0.35)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val sizes = want.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    val got = Dedup.clustersQ(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(r => r._1 -> r._2).toMap === want)
    got.foreach { case (id, c, n) => assert(n === sizes(c), s"doc $id comp_size") }
    assert(got.nonEmpty, "sf0.001 has planted near-dups")
  }

  // --- index routing and reads without Spark jobs -------------------------

  private def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree); f.delete()
  }

  test("bucketOf: driver-side bucket ids equal Spark's pmod(xxhash64(term), n)") {
    // the whole sf0.01 vocabulary, tokenized as the index tokenizes it,
    // plus non-ASCII terms; both sides run through a scan so Spark's
    // side is the generated code the index writers run
    val vocab = graft.Tables.documents(spark, new java.io.File(sf).getParent + "/sf0.01")
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("term"))
      .distinct()
    val odd = Seq("café", "naïve", "straße", "日本語", "привет", "😀x", "", " ")
    val oddDf = spark.range(odd.size)
      .select(element_at(typedlit(odd), $"id".cast("int") + 1).as("term"))
    val synthetic = spark.range(2000).select(concat(lit("w"), $"id").as("term"))
    val terms = vocab.unionByName(oddDf).unionByName(synthetic)
    Seq(2, 32, 64).foreach { n =>
      val got = terms.select($"term", pmod(xxhash64($"term"), lit(n.toLong)))
        .as[(String, Long)].collect()
      assert(got.length >= 2000 + odd.size + 20, s"too few terms: ${got.length}")
      got.foreach { case (t, b) =>
        assert(Lexical.bucketOf(t, n) === b, s"term '$t' at n=$n")
      }
    }
  }

  /** A 64-bucket index over two short docs: most bucket dirs are missing. */
  private def sparseIndex(dir: String): Unit =
    Lexical.writeInvertedIndex(
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      $"doc_id", $"text", dir)

  /** A term whose bucket has no dir in `dir`'s postings. */
  private def unroutedTerm(dir: String): String = {
    val present = new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).filter(_.startsWith("bucket=")).toSet
    Iterator.from(0).map(i => s"zz$i")
      .find(t => !present(s"bucket=${Lexical.bucketOf(t, Lexical.IndexBuckets)}")).get
  }

  test("index read: a term routed to a missing bucket dir returns no rows, no PATH_NOT_FOUND") {
    val dir = tempDir("lex_missing")
    try {
      sparseIndex(s"$dir/idx")
      val t = unroutedTerm(s"$dir/idx")
      assert(Lexical.bm25FromIndex(spark, s"$dir/idx", Seq(t)).collect().isEmpty)
      assert(Lexical.phraseFromIndex(spark, s"$dir/idx", Seq(t, "zz_other")).collect().isEmpty)
      // a routed term beside it still scores
      assert(Lexical.bm25FromIndex(spark, s"$dir/idx", Seq(t, "gamma"))
        .as[(Long, Double)].collect().map(_._1).toSeq === Seq(2L))
    } finally rmTree(new java.io.File(dir))
  }

  test("index read: after appendToIndex into a previously empty bucket, the new doc is found") {
    val dir = tempDir("lex_newbucket")
    try {
      sparseIndex(s"$dir/idx")
      val t = unroutedTerm(s"$dir/idx")
      assert(Lexical.bm25FromIndex(spark, s"$dir/idx", Seq(t)).collect().isEmpty)
      Lexical.appendToIndex(Seq((3L, s"beta $t")).toDF("doc_id", "text"),
        $"doc_id", $"text", s"$dir/idx")
      assert(Lexical.bm25FromIndex(spark, s"$dir/idx", Seq(t))
        .as[(Long, Double)].collect().map(_._1).toSeq === Seq(3L))
    } finally rmTree(new java.io.File(dir))
  }

  test("a warm lexical Retrieval.run launches no Spark job") {
    val sc = spark.sparkContext
    def req(terms: String*) = Retrieval.SearchRequest("lexical", k = 5, terms = terms)
    Retrieval.run(spark, sf, req("hash", "merge")).collect() // builds the per-JVM index
    val group = s"lex-warm-${System.nanoTime()}"
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
      sc.setJobGroup(group, "warm lexical build")
      val df = Retrieval.run(spark, sf, req("vector", "window", "slow"))
      // the listener bus delivers in order: once a later job's start
      // arrives, every job the build launched has been counted
      sc.setJobGroup(group + "-marker", "listener drain marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() === 0, s"building the lexical request ran ${jobs.get()} job(s)")
      assert(df.collect().length === 5)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
