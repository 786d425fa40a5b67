package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The curation generic APIs on hand-built corpora with known structure. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionSignals: exact fractions on a known repetitive doc") {
    val df = Seq(
      (1L, "a a a b"), // top tok a:3/4; 2grams [a a, a a, a b] → 1 dup of 3
      (2L, "x y z w") // no repetition at all
    ).toDF("id", "text")
    val m = Curation.repetitionSignals(df, $"id", $"text")
      .select("doc_id", "n_tokens", "top_tok_frac", "dup_2gram_frac")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(m(1L) === ((1L, 4L, 3.0 / 4.0, 1.0 / 3.0)))
    assert(m(2L) === ((2L, 4L, 1.0 / 4.0, 0.0)))
  }

  test("repetitionSignals: single-token doc degenerates cleanly") {
    val r = Curation.repetitionSignals(Seq((1L, "solo")).toDF("id", "text"), $"id", $"text")
      .select("n_tokens", "top_tok_frac", "dup_2gram_frac")
      .as[(Long, Double, Double)].head()
    assert(r === ((1L, 1.0, 0.0)))
  }

  test("piiRedact: counts and replacement order") {
    val df = Seq(
      (1L, "mail a@b.com and c.d+x@e.org, ip 192.168.0.1, call +4915112345678"),
      (2L, "nothing sensitive here")
    ).toDF("id", "text")
    val out = Curation.piiRedact(df, $"text")
      .select("id", "n_emails", "n_ips", "n_phones", "redacted")
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 2L) // a@b.com and c.d+x@e.org ('+' is in the local-part class)
    assert(out(1L)._3 === 1L && out(1L)._4 === 1L)
    val red = out(1L)._5
    assert(red.contains("<EMAIL>") && red.contains("<IP>") && red.contains("<PHONE>"))
    assert(!red.contains("192.168.0.1") && !red.contains("+49151"))
    assert(out(2L) === ((2L, 0L, 0L, 0L, "nothing sensitive here")))
  }

  test("piiRedact: email digits never leak into the IP pattern") {
    // local part looks like a dotted quad — must be eaten by the email pass
    val red = Curation.piiRedact(Seq((1L, "odd 1.2.3.4@x.io addr")).toDF("id", "text"), $"text")
      .select("redacted").as[String].head()
    assert(red === "odd <EMAIL> addr")
  }

  test("piiRedact fused kernel: counts are on the ORIGINAL text, replace is sequential") {
    // The dotted-quad local part matches the IP pattern on the raw text
    // (counted) but is consumed by the email replacement (not redacted
    // twice) — the exact contract of the 6-expression spelling the fused
    // PiiScrubExpr replaced, and what the DuckDB oracle computes.
    val out = Curation.piiRedact(
        Seq((1L, "odd 1.2.3.4@x.io addr")).toDF("id", "text"), $"text")
      .select("n_emails", "n_ips", "n_phones", "redacted")
      .as[(Long, Long, Long, String)].head()
    assert(out === ((1L, 1L, 0L, "odd <EMAIL> addr")))
  }

  test("decontaminate: drops shingle-sharing train docs only") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 5-gram with test
      (2L, "completely unrelated text about catalyst physical plans here"),
      (3L, "short doc") // <5 tokens → whole-text shingle
    ).toDF("id", "text")
    val test = Seq(
      (100L, "we saw the quick brown fox jumps nearby"),
      (101L, "short doc")
    ).toDF("id", "text")
    val kept = Curation.decontaminate(train, test, $"id", $"text")
      .as[Long].collect().sorted
    assert(kept === Array(2L)) // 1 contaminated via shared 5-gram, 3 via whole-text
  }

  test("decontaminate: shuffle fallback produces identical survivors, no broadcast probe") {
    // Corpus-shaped held-out side: maxBroadcastRows = 0 forces the
    // SHUFFLE_HASH left-semi membership probe. Survivors must be identical
    // to the broadcast path — only the physical join strategy may move.
    val train = (1L to 60L).map(i => (i, s"train document number $i about topic ${i % 7} body"))
      .toDF("id", "text")
    val test = (100L to 120L).map(i => (i, s"train document number ${i - 99} about topic ${(i - 99) % 7} body"))
      .toDF("id", "text")
    val viaBroadcast = Curation.decontaminate(train, test, $"id", $"text")
    val viaShuffle = Curation.decontaminate(train, test, $"id", $"text",
      maxBroadcastRows = 0L)
    assert(viaShuffle.as[Long].collect().sorted
      === viaBroadcast.as[Long].collect().sorted)
    // the probe (LeftSemi on sh) really is a shuffled hash join, not a
    // broadcast — the property that keeps a corpus-sized test set off the
    // driver and executors' heap
    val semiJoins = viaShuffle.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semiJoins.nonEmpty)
    assert(semiJoins.exists(l => l.contains("ShuffledHashJoin")),
      s"expected a ShuffledHashJoin LeftSemi probe in:\n${semiJoins.mkString("\n")}")
    assert(!semiJoins.exists(l => l.contains("BroadcastHashJoin")),
      s"broadcast probe must be gone under the fallback:\n${semiJoins.mkString("\n")}")
    // and the broadcast path keeps its broadcast probe
    val bSemi = viaBroadcast.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(bSemi.exists(_.contains("BroadcastHashJoin")))
  }

  test("decontaminate: no test overlap keeps everything") {
    val train = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val test = Seq((9L, "one two three four five six")).toDF("id", "text")
    assert(Curation.decontaminate(train, test, $"id", $"text").count() === 1L)
  }

  test("decontaminateBloom: survivors identical to the exact path; probe is prefiltered") {
    // enough docs that the bloom has real work: 120 train docs, 40 of
    // which verbatim-share 5-grams with the 30-doc held-out set
    val train = (1L to 120L).map { i =>
      val body = if (i % 3 == 0) s"shared passage number ${i / 3} appears in eval too"
        else s"clean train document $i about topic ${i % 11} body text"
      (i, body)
    }.toDF("id", "text")
    val test = (1L to 30L).map(j =>
      (1000L + j, s"shared passage number $j appears in eval too")).toDF("id", "text")
    val exactKept = Curation.decontaminate(train, test, $"id", $"text")
      .as[Long].collect().sorted
    val bloom = Curation.decontaminateBloom(train, test, $"id", $"text")
    assert(bloom.as[Long].collect().sorted === exactKept,
      "bloom prefilter must be result-invariant (no false negatives)")
    // plan shape: the corpus gram stream passes a graft_bloom_contains
    // filter, and the exact disposal join is the shuffled-hash semi —
    // never a corpus-side broadcast of the held-out grams
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_contains"),
      "bloom probe missing from the physical plan")
    val semis = plan.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semis.exists(_.contains("ShuffledHashJoin")),
      s"exact disposal must be the shuffle-hash semi:\n${semis.mkString("\n")}")
  }

  test("temperatureSample: keeps all of the rarest language, downsamples the rest") {
    val df = (1L to 400L).map(i => (i, if (i <= 40) "rare" else "big")).toDF("id", "lang")
    val kept = Curation.temperatureSample(df, $"lang", $"id", alpha = 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("rare") === 40L) // keep prob sqrt(40/40) = 1
    // big: keep prob sqrt(40/360) ≈ 0.333 of 360 ≈ 120; md5 uniformity → wide bounds
    assert(kept("big") > 60L && kept("big") < 180L)
  }

  test("temperatureSample: deterministic across runs") {
    val df = (1L to 200L).map(i => (i, if (i % 3 == 0) "a" else "b")).toDF("id", "lang")
    val a = Curation.temperatureSample(df, $"lang", $"id").select("id").as[Long].collect().sorted
    val b = Curation.temperatureSample(df, $"lang", $"id").select("id").as[Long].collect().sorted
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("packSequences: chop points and offsets, per shard") {
    val df = Seq(
      (1L, "s1", 4L), (2L, "s1", 4L), (3L, "s1", 4L), (4L, "s1", 4L),
      (5L, "s2", 11L), (6L, "s2", 1L)
    ).toDF("id", "shard", "n")
    val m = Curation.packSequences(df, $"shard", $"id", $"n", budget = 10L)
      .select("id", "pack_id", "pack_offset")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) === ((0L, 0L)) && m(2L) === ((0L, 4L)) && m(3L) === ((0L, 8L)))
    assert(m(4L) === ((1L, 2L))) // cum 12 → second window, offset 2
    assert(m(5L) === ((0L, 0L)) && m(6L) === ((1L, 1L))) // shards independent
  }

  test("packSequences: hierarchical two-pass matches the flat-window prefix sum exactly") {
    // Skewed id-space (i²) + uneven shards + a single-row shard: bucket
    // BALANCE degrades, bucket ORDER (and thus the packing) must not.
    val df = (1L to 500L).map { i =>
      val shard = if (i <= 350) "big" else if (i <= 499) "mid" else "solo"
      (i * i, shard, (i % 7) + 1)
    }.toDF("id", "shard", "n")
    val got = Curation.packSequences(df, $"shard", $"id", $"n", budget = 100L, buckets = 8)
      .select("id", "pack_id", "pack_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = df.withColumn("cum", coalesce(sum($"n").over(w), lit(0L)))
      .select($"id", expr("cum DIV 100L").as("p"), ($"cum" % 100L).as("o"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.sameElements(want))
  }

  test("packSequences: prefix-sum window is per (shard, bucket), not per shard") {
    val df = (1L to 1000L).map(i => (i, "onlyshard", 3L)).toDF("id", "shard", "n")
    val m = Curation.packSequences(df, $"shard", $"id", $"n", budget = 64L, buckets = 8)
    val plan = m.queryExecution.executedPlan.toString
    // The heavy window's shuffle must key on BOTH the shard and the
    // sub-bucket — a single-shard corpus still fans out across tasks.
    assert("hashpartitioning\\(__pp#\\d+, __bkt#\\d+".r.findFirstIn(plan).isDefined,
      s"expected (__pp, __bkt) hash partitioning in:\n$plan")
    // And the sub-split is real: 1000 uniform ids over 8 buckets.
    val nBuckets = df.withColumn("b",
        width_bucket($"id".cast("double"), lit(1.0), lit(1001.0), lit(8)))
      .select("b").distinct().count()
    assert(nBuckets === 8L)
  }

  test("packSequencesIncremental: composes exactly with the full packing; brand-new shards start at zero") {
    import spark.implicits._
    val all = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 100L),
      (4L, "b", 500L), (5L, "b", 200L),
      (6L, "a", 400L), (7L, "b", 50L), (8L, "c", 120L)) // ids 6-8 arrive later
      .toDF("id", "grp", "n")
    val full = Curation.packSequences(all, $"grp", $"id", $"n", budget = 512L)
      .select("id", "pack_id", "pack_offset").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val existing = all.filter($"id" <= 5L)
    val wm = existing.groupBy($"grp".as("__pp")).agg(sum($"n").as("__wm"))
    val incr = Curation.packSequencesIncremental(all.filter($"id" > 5L),
        $"grp", $"id", $"n", budget = 512L, wm)
      .select("id", "pack_id", "pack_offset").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(incr === full.filter(_._1 > 5L),
      s"incremental must equal the full packing restricted to the increment:\n$incr\n${full.filter(_._1 > 5L)}")
    // group "c" has no watermark row — its packing starts at zero
    assert(incr.find(_._1 == 8L).get._3 === 0L)
  }

  test("shardPacks: exact md5-permutation rank, full shards, deterministic") {
    import spark.implicits._
    val n = 533 // deliberately NOT a multiple of packsPerShard
    val packs = (0 until n).map(i => (s"src${i % 3}", i.toLong)).toDF("source", "pack_id")
    val key = concat($"source", lit("#"), $"pack_id".cast("string"))
    val got = Curation.shardPacks(packs, key, packsPerShard = 8L)
      .select("source", "pack_id", "shard_id", "pos_in_shard")
      .as[(String, Long, Long, Long)].collect()
    // reference: flat global rank by (md5(key), key) computed driver-side
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = (0 until n).map { i =>
      val k = s"src${i % 3}#$i"
      (s"src${i % 3}", i.toLong, md5hex(k), k)
    }.sortBy(t => (t._3, t._4)).zipWithIndex.map { case ((s0, p, _, _), rk) =>
      (s0, p) -> (rk.toLong / 8, rk.toLong % 8)
    }.toMap
    got.foreach { case (s0, p, sh, pos) =>
      assert((sh, pos) === expected((s0, p)),
        s"($s0,$p): got shard=$sh pos=$pos want ${expected((s0, p))}")
    }
    // every shard full except the highest
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    val lastShard = sizes.keys.max
    assert(sizes.filterKeys(_ != lastShard).values.forall(_ == 8))
    assert(sizes(lastShard) == n % 8 || sizes(lastShard) == 8)
    // deterministic
    val again = Curation.shardPacks(packs, key, packsPerShard = 8L)
      .select("source", "pack_id", "shard_id", "pos_in_shard")
      .as[(String, Long, Long, Long)].collect()
    assert(got.sortBy(t => (t._1, t._2)).toSeq === again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("writeTrainingShards: one file per shard, round-trip content") {
    import spark.implicits._
    val packs = (0 until 64).map(i => (i.toLong, s"payload_$i")).toDF("pack_id", "body")
    val sharded = Curation.shardPacks(packs, $"pack_id".cast("string"), packsPerShard = 8L)
    val dir = tempDir("shards")
    Curation.writeTrainingShards(sharded, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 64)
    // shard dirs exist and each holds exactly one data file — the write
    // parallelism contract (shard-contiguous files)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.length === 8, shardDirs.map(_.getName).mkString(","))
    shardDirs.foreach { sd =>
      val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${sd.getName}: ${files.length} files")
    }
    // content round-trips (shard_id comes back as a partition column)
    val want = sharded.select("pack_id", "body", "shard_id", "pos_in_shard")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val gotB = back.select($"pack_id", $"body", $"shard_id".cast("long"), $"pos_in_shard")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(gotB === want)
  }

  test("capTokensPerGroup: budget boundary kept, oversized first doc survives, groups independent") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 400L), (2L, "a", 500L), (3L, "a", 300L), (4L, "a", 1L),
      (5L, "b", 9999L), (6L, "b", 1L),
      (7L, "c", 10L)).toDF("id", "grp", "n")
    val kept = Curation.capTokensPerGroup(df, $"grp", $"id", $"n", budget = 1000L)
      .select("id", "cum_before").as[(Long, Long)].collect().toMap
    // a: 400 (cum 0) + 500 (cum 400) + 300 (cum 900 < 1000, boundary doc
    // kept) — then id 4 at cum 1200 dropped
    assert(kept.keySet === Set(1L, 2L, 3L, 5L, 7L), s"got $kept")
    assert(kept(3L) === 900L, "boundary doc crosses the budget but is kept")
    // an oversized FIRST doc still represents its group
    assert(kept(5L) === 0L)
  }

  test("decontaminateFuzzy: strips near-copies, keeps low-jaccard idiom sharers the exact pass would strip") {
    // test doc 100 vs: doc 1 a one-word paraphrase (high jaccard → fuzzy
    // strips); doc 2 unrelated (both passes keep); doc 3 shares one
    // 5-token phrase but is otherwise different (exact 5-shingle
    // decontam strips it, the fuzzy pass KEEPS it — the precision the
    // near-dup rule buys)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val para = base.replace("sigma", "sigmaX")
    val idiom = "alpha beta gamma delta epsilon " + // one shared 5-gram
      "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen"
    val train = Seq((1L, para), (2L, "totally different words entirely here"),
      (3L, idiom)).toDF("id", "text").withColumn("blk", lit("b"))
    val test_ = Seq((100L, base)).toDF("id", "text").withColumn("blk", lit("b"))
    val fuzzy = Curation.decontaminateFuzzy(train, test_,
      $"id", $"text", $"blk").as[Long].collect().toSet
    assert(fuzzy === Set(2L, 3L), s"fuzzy survivors: $fuzzy")
    val exact = Curation.decontaminate(train, test_, $"id", $"text", n = 5)
      .as[Long].collect().toSet
    assert(exact === Set(2L), s"exact survivors: $exact")
    // no test docs → nothing stripped
    val none = Curation.decontaminateFuzzy(train,
      test_.filter($"id" < 0L), $"id", $"text", $"blk")
      .as[Long].collect().toSet
    assert(none === Set(1L, 2L, 3L))
  }

  test("capPerGroup: boundary inclusive, order respected") {
    val df = (1L to 10L).map(i => (i, "g")).toDF("id", "grp")
    val kept = Curation.capPerGroup(df, $"grp", $"id", n = 3)
      .select("id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L, 3L))
  }

  test("urlBlocklistGate: suffix chain blocks subdomains, never cousins; case-folded host; report counts hits") {
    val docs = Seq(
      (1L, "https://evil.example.com/a"),        // exact entry
      (2L, "https://cdn.evil.example.com/b"),    // subdomain of entry
      (3L, "https://EVIL.EXAMPLE.COM:8080/c"),   // case + port folded
      (4L, "https://notevil.example.com/d"),     // cousin: suffix of the
                                                 // STRING but not of the
                                                 // label chain — must pass
      (5L, "https://good.example.org/e"),
      (6L, "ftp://files.badhost.net/f"))         // second entry, other scheme
      .toDF("doc_id", "url")
    val blocklist = Seq("evil.example.com", "badhost.net").toDF("domain")
    val gated = Curation.urlBlocklistGate(docs, $"doc_id", $"url", blocklist)
    // the blocklist join is deliberately UNHINTED: a config-sized list
    // must still broadcast from its measured size (no hint needed), so
    // a multi-GB list can degrade to shuffle-hash instead of being
    // forced through the driver
    assert(gated.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val kept = gated.select("doc_id").as[Long].collect().toSet
    assert(kept === Set(4L, 5L))
    // chain semantics directly: the cousin's chain never contains the entry
    val chain = docs.filter($"doc_id" === 4L)
      .select(Curation.hostSuffixChain(Curation.urlHost($"url")))
      .as[Seq[String]].head()
    assert(chain === Seq("notevil.example.com", "example.com", "com"))
    // measured face: per-entry hit counts (distinct docs)
    val report = Curation.urlBlocklistReport(docs, $"doc_id", $"url", blocklist)
      .as[(String, Long)].collect().toMap
    assert(report === Map("evil.example.com" -> 3L, "badhost.net" -> 1L))
    // the per-row (config-sized, literal) spelling agrees with the join
    val keptLit = Curation.urlBlocklistGated(docs, $"url",
        Seq("EVIL.example.com", "badhost.net")) // case-folds entries too
      .select("doc_id").as[Long].collect().toSet
    assert(keptLit === kept)
    // schemeless/malformed urls extract an empty host → empty chain
    // element only → never match a real entry → the doc PASSES (a gate
    // must not drop rows it cannot parse; unparseable-url policy is the
    // caller's, not a silent side effect of regex failure)
    val weird = Seq((7L, "not a url at all"), (8L, "evil.example.com/no-scheme"))
      .toDF("doc_id", "url")
    assert(Curation.urlBlocklistGate(weird, $"doc_id", $"url", blocklist)
      .count() === 2L)
    assert(Curation.urlBlocklistGated(weird, $"url", Seq("evil.example.com"))
      .count() === 2L)
  }
}
