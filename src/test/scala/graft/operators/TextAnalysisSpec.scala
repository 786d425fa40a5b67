package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gopher LINE-rule semantics on constructed multi-line docs — each rule
  * isolated, hand-computed fractions, and the degenerate no-lines edge.
  * (The word-stream kernel is spec'd in TextFunctionsSpec; the named
  * query's reflow corpus is oracle-checked end to end.) */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def metrics(text: String) =
    TextAnalysis.withGopherLineMetrics(Seq((1L, text)).toDF("doc_id", "text"),
        $"text")
      .select("n_lines", "bullet_frac", "ellipsis_frac", "dup_line_frac",
        "dup_line_char_frac", "passes_lines")
      .as[(Long, Double, Double, Double, Double, Boolean)].head()

  test("line rules: each rule isolated with hand-computed fractions") {
    // clean: 4 distinct prose lines → everything 0, passes
    val clean = metrics("first line here\nsecond line there\nthird one\nfourth one")
    assert(clean === ((4L, 0.0, 0.0, 0.0, 0.0, true)))
    // bullets: 10 lines, all "- x" → bullet_frac 1.0 > 0.9 fails
    val bullets = (1 to 10).map(i => s"- item$i").mkString("\n")
    val b = metrics(bullets)
    assert(b._2 === 1.0 && !b._6)
    // ellipsis: 2 of 4 lines end "..." (one via the unicode form) → 0.5 > 0.3 fails
    val e = metrics("cut short...\nfull line stays\nalso trimmed…\nlast full line")
    assert(e._3 === 0.5 && !e._6)
    // duplicate lines: "same line" ×3 + 1 distinct → dup_line_frac =
    // (4−2)/4 = 0.5; dup chars = 3·9/(3·9+8) — both above threshold
    val d = metrics("same line\nsame line\nsame line\ndistinct")
    assert(d._4 === 0.5)
    assert(math.abs(d._5 - 27.0 / 35.0) < 1e-12)
    assert(!d._6)
    // boundary: exactly at every threshold still passes (<= rules)
    // 10 lines: 9 bullets (0.9), 3 ellipsis... build a 0.9/0.3 case
    val boundary = ((1 to 9).map(i => s"- item number$i") :+ "plain closing line")
      .zipWithIndex.map { case (l, i) => if (i < 3) l + "..." else l }
      .mkString("\n")
    val bd = metrics(boundary)
    assert(bd._2 === 0.9 && bd._3 === 0.3 && bd._6,
      s"at-threshold doc must pass: $bd")
  }

  test("line rules: blank lines are ignored; a no-lines doc passes with zero fractions") {
    // (trim strips SPACES only, same as the DuckDB oracle's trim — a
    // tab-only line counts as content in both spellings)
    val padded = metrics("   \nreal line\n\n \nother line\n  ")
    assert(padded._1 === 2L && padded._6)
    val empty = metrics("   \n \n")
    assert(empty === ((0L, 0.0, 0.0, 0.0, 0.0, true)))
  }

  test("dedupLinesAcross: corpus-frequent lines excise everywhere, rare lines keep positions, emptied docs survive") {
    val boiler = "accept cookies to continue"
    val docs = Seq(
      (1L, s"$boiler\nreal content one\nmore real text"),
      (2L, s"unique opening\n$boiler\nclosing words"),
      (3L, s"$boiler\n$boiler"), // all boilerplate → emptied, not dropped
      (4L, "entirely original document here"))
      .toDF("doc_id", "text")
    // maxOcc = 2: boiler occurs 4× corpus-wide → excised; everything
    // else occurs once → kept in original order
    val got = TextAnalysis.dedupLinesAcross(docs, $"doc_id", $"text", maxOcc = 2L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "real content one\nmore real text", 3L, 1L),
      (2L, "unique opening\nclosing words", 3L, 1L),
      (3L, "", 2L, 2L),
      (4L, "entirely original document here", 1L, 0L)))
    // at maxOcc = 4 the boilerplate sits exactly at the cap → kept
    assert(TextAnalysis.dedupLinesAcross(docs, $"doc_id", $"text", maxOcc = 4L)
      .agg(sum("n_removed")).as[Long].head() === 0L)
  }

  test("line-count index: incremental merge ≡ one-shot; replayed batches and buckets never double-count") {
    val boiler = "accept cookies to continue"
    val half1 = Seq(
      (1L, s"$boiler\nreal content one"),
      (2L, s"unique opening\n$boiler"))
    val half2 = Seq(
      (3L, s"$boiler\nclosing thoughts"),
      (4L, "entirely original document"))
    val all = (half1 ++ half2).toDF("doc_id", "text")
    def excised(dir: String): Seq[(Long, String, Long, Long)] =
      TextAnalysis.exciseFromLineIndex(all, $"doc_id", $"text", dir, maxOcc = 2L)
        .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    // one-shot reference
    val ref = tempDir("graft_lc_ref")
    TextAnalysis.writeLineCountIndex(all, $"text", ref)
    val want = excised(ref)
    assert(want.map(_._4).sum === 3L, s"boiler (3 occurrences > 2) excises: $want")
    // incremental: write half 1, fold half 2 in as a batch
    val dir = tempDir("graft_lc_inc")
    TextAnalysis.writeLineCountIndex(half1.toDF("doc_id", "text"), $"text", dir)
    TextAnalysis.applyLineCountBatch(half2.toDF("doc_id", "text"), $"text", dir,
      batchId = 1L)
    assert(excised(dir) === want)
    // replaying the WHOLE batch is a no-op (the _batch marker)
    TextAnalysis.applyLineCountBatch(half2.toDF("doc_id", "text"), $"text", dir,
      batchId = 1L)
    assert(excised(dir) === want)
    // bucket-level replay: the commit record is the IN-LEAF
    // `_applied_<batchId>` stamp, which swaps in atomically with the
    // merged data — plant one by hand for a NEW batch and apply: the
    // stamped bucket must be skipped (its line keeps the pre-batch
    // count), because the stamp IS the evidence the merge swapped in.
    val probeLine = "entirely original document"
    val bkt = spark.range(1).select(
      pmod(xxhash64(lit(probeLine)), lit(TextAnalysis.LineBuckets.toLong)))
      .as[Long].head()
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(
      s"$dir/counts/bucket=$bkt/_applied_2"), true).close()
    TextAnalysis.applyLineCountBatch(
      Seq((9L, probeLine)).toDF("doc_id", "text"), $"text", dir, batchId = 2L)
    val n = spark.read.parquet(s"$dir/counts")
      .filter($"line" === probeLine).select("n").as[Long].collect().toSeq
    assert(n === Seq(1L),
      s"a bucket whose stamp says committed must not merge again: $n")
    // and a batch into a bucket that does NOT yet exist commits through
    // the staged-rename path: the stamp arrives WITH the data
    val fresh = "a line the store has never seen before"
    TextAnalysis.applyLineCountBatch(
      Seq((10L, fresh)).toDF("doc_id", "text"), $"text", dir, batchId = 3L)
    val fb = spark.range(1).select(
      pmod(xxhash64(lit(fresh)), lit(TextAnalysis.LineBuckets.toLong)))
      .as[Long].head()
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$dir/counts/bucket=$fb/_applied_3")),
      "new-bucket commits must carry their stamp atomically")
    // replaying batch 3 with its _batch marker removed still skips the
    // stamped bucket — no double count
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/_batch_3"), false)
    TextAnalysis.applyLineCountBatch(
      Seq((10L, fresh)).toDF("doc_id", "text"), $"text", dir, batchId = 3L)
    assert(spark.read.parquet(s"$dir/counts")
      .filter($"line" === fresh).select("n").as[Long].head() === 1L)
  }

  test("line-count index: floor pruning bounds the store, keeps the boilerplate gate, is idempotent") {
    val boiler = "accept cookies to continue"
    val docs = ((1L to 5L).map(i => (i, s"$boiler\nunique line number $i")) :+
      (6L, "another singleton document")).toDF("doc_id", "text")
    val dir = tempDir("graft_lc_prune")
    TextAnalysis.writeLineCountIndex(docs, $"text", dir)
    val before = spark.read.parquet(s"$dir/counts").count()
    TextAnalysis.pruneLineCountIndex(spark, dir, floor = 2L)
    // only the frequent line survives — the once-seen tail (most rows,
    // none of the signal) is gone
    val after = spark.read.parquet(s"$dir/counts")
      .select("line", "n").as[(String, Long)].collect().toSeq
    assert(before === 7L && after === Seq((boiler, 5L)))
    // the gate on actual boilerplate is unchanged by the prune
    val excised = TextAnalysis.exciseFromLineIndex(docs, $"doc_id", $"text",
      dir, maxOcc = 2L).agg(sum("n_removed")).as[Long].head()
    assert(excised === 5L)
    TextAnalysis.pruneLineCountIndex(spark, dir, floor = 2L) // idempotent
    assert(spark.read.parquet(s"$dir/counts").count() === 1L)
  }

  test("line rules: row shape preserved and clobber guard fires") {
    val df = Seq((1L, "a line\nb line", "keep")).toDF("doc_id", "text", "extra")
    val out = TextAnalysis.withGopherLineMetrics(df, $"text")
    assert(out.columns.take(3).toSeq === Seq("doc_id", "text", "extra"))
    assert(out.count() === 1L)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.withGopherLineMetrics(
        df.withColumn("n_lines", lit(1L)), $"text")
    }
    assert(e.getMessage.contains("clobber"))
  }
}
