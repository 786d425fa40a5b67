package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The at-rest distinct-gram index family: probe parity with the
  * in-plan audits, append-equals-rebuild, takedown semantics,
  * partition-pruned probes, and the disjoint-append contract. */
class GramIndexSpec extends SparkSpec {
  import spark.implicits._

  // a corpus with genuine verbatim overlap: docs 10/11 share an 8-gram
  // run, 20 shares a 5-shingle with 11, 30/31 are short (degenerate
  // whole-span shingles), 40 is disjoint filler
  private def corpus: DataFrame = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (11L, "prefix alpha beta gamma delta epsilon zeta eta theta tail"),
    (20L, "zeta eta theta tail words and more filler here now"),
    (30L, "tiny doc"),
    (31L, "tiny doc"),
    (40L, "completely different content with no shared runs at all okay")
  ).toDF("doc_id", "text")

  private def probe: DataFrame = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta novel suffix"),
    (101L, "nothing here overlaps the lake in any eight token window"),
    (102L, "tiny doc")
  ).toDF("doc_id", "text")

  private def memRows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.as[(Long, Long, Long, Double)].collect().toSeq

  test("memorizationRateFromIndex: bit parity with the in-plan operator") {
    val dir = tempDir("gram_mem")
    GramIndex.write(corpus, $"doc_id", $"text", s"$dir/idx", n = 8)
    val idx = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx"))
    val plan = memRows(Dedup.memorizationRate(
      probe, corpus, $"doc_id", $"text", n = 8))
    assert(idx === plan, "index-served audit must equal the in-plan one")
    // the overlap is real: doc 100 carries memorized windows, 101 none;
    // 102 (2 tokens < n) is excluded on both paths
    val byDoc = idx.map(r => r._1 -> r._3).toMap
    assert(byDoc(100L) > 0L && byDoc(101L) === 0L && !byDoc.contains(102L))
  }

  test("decontaminateFromIndex + contaminatedIds: parity with Curation") {
    val dir = tempDir("gram_dec")
    val train = corpus
    val test5 = probe
    GramIndex.write(train, $"doc_id", $"text", s"$dir/idx", n = 5)
    val idx = GramIndex.decontaminateFromIndex(
      train, test5, $"doc_id", $"text", s"$dir/idx")
      .as[Long].collect().sorted.toSeq
    val plan = Curation.decontaminate(train, test5, $"doc_id", $"text", n = 5)
      .as[Long].collect().sorted.toSeq
    assert(idx === plan)
    // the degenerate whole-span shingle matters: probe 102 ("tiny doc",
    // 2 tokens < 5) must still contaminate lake docs 30/31
    assert(!idx.contains(30L) && !idx.contains(31L),
      "short-doc whole-span shingle must decide membership like shingles()")
    assert(idx.contains(40L), "disjoint doc survives")
    // the report face rides the same probe — parity with Curation
    val grp = train.withColumn("src", concat(lit("s"), $"doc_id" % 2))
    val repIdx = GramIndex.decontamReportFromIndex(grp, test5,
        $"doc_id", $"src", $"text", s"$dir/idx")
      .as[(String, Long, Long, Double)].collect().toSeq
    val repPlan = Curation.decontamReport(grp, test5,
        $"doc_id", $"src", $"text", n = 5)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(repIdx === repPlan)
  }

  test("probe prunes the gram scan to the probe's buckets (PartitionFilters)") {
    val dir = tempDir("gram_prune")
    GramIndex.write(corpus, $"doc_id", $"text", s"$dir/idx", n = 8)
    // single short probe doc → few grams → strictly fewer buckets than 64
    val one = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val df = GramIndex.memorizationRateFromIndex(
      one, $"doc_id", $"text", s"$dir/idx")
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"probe must prune gram partitions, got:\n$plan")
    // the index scan decodes only what the probe needs — a scan pulling
    // extra columns would defeat the at-rest economics at 100 TB
    val gramScan = plan.linesIterator
      .filter(_.contains("gram_prune")).mkString("\n")
    assert(!gramScan.contains("text"),
      s"the lake's text must never reach the probe plan:\n$gramScan")
  }

  test("append equals rebuild; disjoint-append contract enforced loudly") {
    val a = corpus.filter($"doc_id" < 25L)
    val b = corpus.filter($"doc_id" >= 25L)
    val dir = tempDir("gram_app")
    GramIndex.write(a, $"doc_id", $"text", s"$dir/inc", n = 8)
    GramIndex.append(b, $"doc_id", $"text", s"$dir/inc")
    GramIndex.write(corpus, $"doc_id", $"text", s"$dir/full", n = 8)
    val inc = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/inc"))
    val full = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/full"))
    assert(inc === full, "append-then-probe must equal fresh build on union")
    // stats recombined exactly
    assert(spark.read.parquet(s"$dir/inc/stats").select("n_docs")
      .head().getLong(0) === corpus.count())
    val e = intercept[IllegalArgumentException] {
      GramIndex.append(b, $"doc_id", $"text", s"$dir/inc")
    }
    assert(e.getMessage.contains("overlaps"),
      "re-appending indexed doc_ids must fail loudly")
  }

  test("threshold probe (minOverlap) and reversed benchmark gate: parity with Curation") {
    val dir = tempDir("gram_thresh")
    GramIndex.write(corpus, $"doc_id", $"text", s"$dir/idx", n = 5)
    // ≥2-distinct-shingles threshold: same survivors as the in-plan rule
    val idx2 = corpus.select($"doc_id")
      .join(GramIndex.contaminatedIdsFromIndex(probe, $"text", s"$dir/idx",
        minOverlap = 2L), Seq("doc_id"), "left_anti")
      .as[Long].collect().sorted.toSeq
    val plan2 = Curation.decontaminate(corpus, probe, $"doc_id", $"text",
        n = 5, minOverlap = 2L)
      .as[Long].collect().sorted.toSeq
    assert(idx2 === plan2)
    // thresholding is strictly weaker: every minOverlap=2 contamination
    // is also a minOverlap=1 contamination
    val plan1 = Curation.decontaminate(corpus, probe, $"doc_id", $"text", n = 5)
      .as[Long].collect().toSet
    assert(plan1.subsetOf(idx2.toSet))
    assert(idx2.size > plan1.size, "the fixture must exercise the gap")
    // reversed direction: the PROBE set indexed as the benchmark, the
    // corpus gated against it — must equal in-plan decontaminate
    val bdir = tempDir("gram_bench")
    GramIndex.write(probe, $"doc_id", $"text", s"$bdir/idx", n = 5)
    val gated = GramIndex.decontamGateFromIndex(corpus, $"doc_id", $"text",
        s"$bdir/idx")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(gated === plan1.toSeq.sorted)
  }

  test("int-typed id builds a readable index; docids sidecar drives the disjointness probe") {
    val dir = tempDir("gram_int")
    // readGrams pins `doc_id LONG`; without the write-side cast this
    // index would build fine and then throw on every vectorized read
    val intCorpus = corpus.withColumn("doc_id", $"doc_id".cast("int"))
    GramIndex.write(intCorpus, $"doc_id", $"text", s"$dir/idx", n = 8)
    val idx = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx"))
    val plan = memRows(Dedup.memorizationRate(
      probe, corpus, $"doc_id", $"text", n = 8))
    assert(idx === plan)
    // the sidecar: one long-typed row per indexed doc — the O(n_docs)
    // membership set appends probe instead of scanning the gram table
    val ids = spark.read.parquet(s"$dir/idx/docids")
    assert(ids.schema("doc_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(ids.as[Long].collect().sorted.toSeq ===
      corpus.select($"doc_id").as[Long].collect().sorted.toSeq)
    // an int-typed overlapping append still trips the contract
    val e = intercept[IllegalArgumentException] {
      GramIndex.append(intCorpus.limit(1), $"doc_id", $"text", s"$dir/idx")
    }
    assert(e.getMessage.contains("overlaps"))
  }

  test("takedown of EVERY doc leaves a validly-empty index; ids become re-appendable") {
    val dir = tempDir("gram_all_del")
    GramIndex.write(corpus, $"doc_id", $"text", s"$dir/idx", n = 8)
    GramIndex.delete(corpus.select($"doc_id"), $"doc_id", s"$dir/idx")
    GramIndex.merge(spark, s"$dir/idx")
    def nDocs = spark.read.parquet(s"$dir/idx/stats")
      .select("n_docs").head().getLong(0)
    assert(nDocs === 0L, "all docs taken down → zero, not a crash")
    val served = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx"))
    assert(served.nonEmpty && served.forall(_._3 === 0L),
      "an empty lake memorizes nothing")
    // a taken-down id is legitimately re-appendable: the docids sidecar
    // forgot it with the gram rows
    GramIndex.append(corpus.filter($"doc_id" === 10L), $"doc_id", $"text",
      s"$dir/idx")
    assert(nDocs === 1L)
    val again = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx"))
    assert(again.find(_._1 === 100L).get._3 > 0L,
      "re-appended doc's grams serve again")
  }

  test("takedown: tombstoned docs leave the audit immediately; merge applies physically") {
    val dir = tempDir("gram_del")
    GramIndex.write(corpus, $"doc_id", $"text", s"$dir/idx", n = 8)
    // doc 100's memorized windows come only from lake docs 10/11 — delete
    // both and the rate must drop to the fresh-build-on-live-set answer
    GramIndex.delete(Seq(10L, 11L).toDF("doc_id"), $"doc_id", s"$dir/idx")
    val served = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx"))
    GramIndex.write(corpus.filter(!$"doc_id".isin(10L, 11L)),
      $"doc_id", $"text", s"$dir/live", n = 8)
    val fresh = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/live"))
    assert(served === fresh,
      "tombstoned serving must equal a fresh build on the live set")
    assert(served.find(_._1 == 100L).get._3 === 0L,
      "memorized windows vanish with their source docs")
    // contaminated ids reflect the delete too
    val c = GramIndex.contaminatedIdsFromIndex(probe, $"text", s"$dir/idx")
      .as[Long].collect().toSet
    assert(!c.contains(10L) && !c.contains(11L))
    // merge: physical apply — no tombstones left, same answers, n_docs down
    GramIndex.merge(spark, s"$dir/idx")
    val p = new org.apache.hadoop.fs.Path(
      graft.sources.Tombstones.dir(s"$dir/idx"))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(p), "merge clears the tombstone store")
    val merged = memRows(GramIndex.memorizationRateFromIndex(
      probe, $"doc_id", $"text", s"$dir/idx"))
    assert(merged === fresh)
    assert(spark.read.parquet(s"$dir/idx/stats").select("n_docs")
      .head().getLong(0) === corpus.count() - 2)
    assert(spark.read.parquet(s"$dir/idx/grams")
      .filter($"doc_id".isin(10L, 11L)).count() === 0,
      "deleted docs' rows physically gone after merge")
  }
}
