package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.plans.Scratch

/** Text-analysis queries over `documents` — the LLM-training-data operators
  * (quality scoring, language ID, token counting, fingerprinting) layered
  * on [[graft.functions.TextFunctions]]. Everything is a pure expression
  * tree per row: no shuffle, runs at scan speed, trivially parallel at
  * 100 TB. All ratio outputs are single IEEE divisions of exact integer
  * counts, so they hash-match the oracle bit-for-bit without rounding.
  */
object TextAnalysis {

  private def docToks = tokens(col("text"))

  /** Quality-scoring features per document. */
  def quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", docToks)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        distinctTokenRatio(col("toks")).as("distinct_ratio"),
        stopwordRatio(col("toks")).as("stopword_ratio"),
        meanTokenLength(col("toks")).as("mean_tok_len"),
        punctRatio(col("text")).as("punct_ratio"))
      .orderBy("doc_id")

  /** The Gopher rules' stopword presence list (Rae et al. 2021 A1.1:
    * a document must contain ≥2 of these 8). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality rules (Rae et al. 2021, Appendix A1.1) — the
    * standard pre-training quality/repetition admission gate, per doc:
    * word-count bounds [50, 100k], mean word length [3, 10], ≥2 distinct
    * stopwords, >80% alphabetic words, most-frequent-{2,3,4}-gram char
    * fraction ≤ {0.20, 0.18, 0.16}, duplicated-{5,10}-gram coverage
    * ≤ {0.15, 0.10}, plus the combined `passes` verdict.
    *
    * All integer cores come from ONE traversal of the token array
    * ([[graft.functions.GopherStatsExpr]] — computing them relationally
    * is five explode→groupBy aggregations over the corpus token stream);
    * every fraction is a single IEEE division of two exact longs, so the
    * relational DuckDB replay hash-matches bit-for-bit. Zero shuffles:
    * the whole gate is a map over the corpus scan, the only shape that
    * holds at 100 TB (line/paragraph-based rules are omitted — the
    * tokenizer boundary here is the word stream; they would ride the
    * same kernel over a line split). */
  /** The names [[withGopherMetrics]] appends, in output order. */
  val GopherMetricCols: Seq[String] = Seq("n_words", "mean_word_len",
    "n_stop", "alpha_ratio", "top2_frac", "top3_frac", "top4_frac",
    "dup5_frac", "dup10_frac", "passes")

  /** Append the Gopher metric + verdict columns to `df` WITHOUT touching
    * its row shape — the composable face: batch quality reporting
    * ([[gopherQualityOn]]) selects the metrics out, streaming admission
    * ([[graft.streaming.Streams.gopherGated]]) filters on `passes` and
    * drops them. Stateless per-row computation, so it runs unchanged on
    * a streaming DataFrame. The kernel struct is materialized ONCE in
    * its own projection (a CodegenFallback expression referenced per
    * field would otherwise re-run the whole traversal per metric). */
  def withGopherMetrics(df: DataFrame, text: Column,
      stopwords: Seq[String] = GopherStopwords): DataFrame = {
    val s = df.sparkSession
    val clash = df.columns.toSet.intersect(GopherMetricCols.toSet)
    require(clash.isEmpty,
      s"withGopherMetrics would clobber input columns: ${clash.toSeq.sorted.mkString(", ")}")
    df.withColumn("__toks", tokens(text))
      .withColumn("__g", graft.functions.TextExpressions.gopherStats(s, col("__toks")))
      .withColumn("n_stop", size(array_intersect(array_distinct(col("__toks")),
        lit(stopwords.toArray))).cast("long"))
      // the n−1 joining spaces count toward the doc's char mass, same as
      // the oracle's array_to_string denominator
      .withColumn("__joined",
        col("__g.word_chars") + greatest(col("__g.n_words") - 1L, lit(0L)))
      .withColumn("n_words", col("__g.n_words"))
      .withColumn("mean_word_len", col("__g.word_chars").cast("double") /
        nullif(col("__g.n_words"), lit(0L)).cast("double"))
      .withColumn("alpha_ratio", col("__g.n_alpha").cast("double") /
        nullif(col("__g.n_words"), lit(0L)).cast("double"))
      .withColumn("top2_frac", col("__g.top2_chars").cast("double") /
        nullif(col("__joined"), lit(0L)).cast("double"))
      .withColumn("top3_frac", col("__g.top3_chars").cast("double") /
        nullif(col("__joined"), lit(0L)).cast("double"))
      .withColumn("top4_frac", col("__g.top4_chars").cast("double") /
        nullif(col("__joined"), lit(0L)).cast("double"))
      .withColumn("dup5_frac", col("__g.cov5").cast("double") /
        nullif(col("__g.n_words"), lit(0L)).cast("double"))
      .withColumn("dup10_frac", col("__g.cov10").cast("double") /
        nullif(col("__g.n_words"), lit(0L)).cast("double"))
      .withColumn("passes", coalesce(
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          (col("n_stop") >= 2L) &&
          (col("alpha_ratio") > 0.8) &&
          (col("top2_frac") <= 0.20) &&
          (col("top3_frac") <= 0.18) &&
          (col("top4_frac") <= 0.16) &&
          (col("dup5_frac") <= 0.15) &&
          (col("dup10_frac") <= 0.10), lit(false)))
      .drop("__toks", "__g", "__joined")
  }

  /** The names [[withGopherLineMetrics]] appends, in output order. */
  val GopherLineMetricCols: Seq[String] = Seq("n_lines", "bullet_frac",
    "ellipsis_frac", "dup_line_frac", "dup_line_char_frac", "passes_lines")

  /** Gopher LINE-level rules (Rae et al. 2021 A1.1, the half
    * [[withGopherMetrics]]'s word-stream kernel deliberately left to a
    * line split — this closes that documented omission), per doc over
    * the non-empty (post-trim) lines of `text`:
    *  - bullet fraction ≤ 0.90 (trimmed line starts "- ", "* " or "•"),
    *  - ellipsis fraction ≤ 0.30 (trimmed line ends "..." or "…"),
    *  - duplicate-line fraction ≤ 0.30 — EXCESS occurrences over
    *    distinct lines, (n − n_distinct)/n,
    *  - duplicate-line CHAR fraction ≤ 0.20 — chars across ALL
    *    occurrences of any line appearing ≥ 2 times, over total line
    *    chars (the Gopher "fraction of characters in duplicated lines"
    *    reading).
    * Definitions stated exactly because two integer-exact numerators
    * exist for "duplication"; the oracle replays these spellings.
    *
    * Shape: pure per-row HOFs over the line array — zero shuffles, a
    * map over the corpus scan like the word kernel. The dup-char term
    * is O(distinct × lines) per doc, bounded by the document's own
    * size, never by the corpus. A doc with no non-empty lines passes
    * with zero fractions (nothing to object to). Row shape preserved —
    * composes like [[withGopherMetrics]]. */
  def withGopherLineMetrics(df: DataFrame, text: Column): DataFrame = {
    val clash = df.columns.toSet.intersect(GopherLineMetricCols.toSet)
    require(clash.isEmpty,
      s"withGopherLineMetrics would clobber input columns: ${clash.toSeq.sorted.mkString(", ")}")
    val isBullet = (x: Column) => startswith(trim(x), lit("- ")) ||
      startswith(trim(x), lit("* ")) || startswith(trim(x), lit("•"))
    val isEllipsis = (x: Column) => endswith(trim(x), lit("...")) ||
      endswith(trim(x), lit("…"))
    def frac(n: Column) =
      coalesce(n.cast("double") /
        nullif(col("n_lines"), lit(0L)).cast("double"), lit(0.0))
    df.withColumn("__ls",
        filter(split(text, "\n"), x => length(trim(x)) > 0))
      .withColumn("n_lines", size(col("__ls")).cast("long"))
      .withColumn("bullet_frac",
        frac(size(filter(col("__ls"), isBullet)).cast("long")))
      .withColumn("ellipsis_frac",
        frac(size(filter(col("__ls"), isEllipsis)).cast("long")))
      .withColumn("dup_line_frac",
        frac((col("n_lines") - size(array_distinct(col("__ls"))).cast("long"))))
      // per-distinct occurrence counts materialize ONCE (a struct per
      // distinct line), so the dup-char term costs one filter pass per
      // distinct line, not two
      .withColumn("__dupchars", aggregate(
        transform(array_distinct(col("__ls")), d =>
          struct(size(filter(col("__ls"), y => y === d)).cast("long").as("c"),
            length(d).cast("long").as("w"))),
        lit(0L), (acc, v) =>
          acc + when(v.getField("c") > 1L, v.getField("c") * v.getField("w"))
            .otherwise(lit(0L))))
      .withColumn("__chars", aggregate(
        transform(col("__ls"), x => length(x).cast("long")),
        lit(0L), (acc, v) => acc + v))
      .withColumn("dup_line_char_frac",
        coalesce(col("__dupchars").cast("double") /
          nullif(col("__chars"), lit(0L)).cast("double"), lit(0.0)))
      .withColumn("passes_lines",
        col("bullet_frac") <= 0.90 && col("ellipsis_frac") <= 0.30 &&
          col("dup_line_frac") <= 0.30 && col("dup_line_char_frac") <= 0.20)
      .drop("__ls", "__dupchars", "__chars")
  }

  def gopherQualityOn(df: DataFrame, id: Column, text: Column,
      stopwords: Seq[String] = GopherStopwords): DataFrame =
    withGopherMetrics(df.select(id.as("doc_id"), text.as("__text")),
        col("__text"), stopwords)
      .select((col("doc_id") +: GopherMetricCols.map(col)): _*)

  /** Named query: the per-doc Gopher rule metrics and verdict. The
    * stopword-presence rule is inventory-parameterized (the published 8
    * are English-prose function words; a corpus in another register
    * supplies its own, the [[graft.functions.TextFunctions.LangMarkers]]
    * precedent) — the named binding uses the library's
    * [[graft.functions.TextFunctions.EnglishStopwords]], shared with
    * `txt_quality`, under which the testdata corpus splits on the
    * word-count and repetition gates rather than failing vacuously on
    * words its synthetic vocabulary never contains. */
  def gopherQuality(s: SparkSession, d: String): DataFrame =
    // lazy cut before the global sort (r21): a range exchange SAMPLES
    // its child to place partition bounds, so an uncut orderBy directly
    // over the metric projection executes the tokenize+kernel chain
    // TWICE per action (measured 1.40 s vs 0.56 s for the uncut
    // projection alone at sf0.1). The cut materializes the 11 numeric
    // metric columns once; the sort then samples and shuffles those
    // rows only. Values unchanged.
    gopherQualityOn(Tables.documents(s, d), col("doc_id"), col("text"),
      stopwords = EnglishStopwords)
      .localCheckpoint(eager = false)
      .orderBy("doc_id")

  /** The strip face: doc ids the gates admit. */
  def gopherFilter(s: SparkSession, d: String): DataFrame =
    // same sampled-sort cut as [[gopherQuality]] (r21)
    gopherQualityOn(Tables.documents(s, d), col("doc_id"), col("text"),
      stopwords = EnglishStopwords)
      .filter(col("passes")).select("doc_id")
      .localCheckpoint(eager = false)
      .orderBy("doc_id")

  /** Named query: [[withGopherLineMetrics]] over a deterministic
    * multi-line REFLOW of the documents table — the testdata corpus is
    * single-line, so running the line rules on it directly would be a
    * vacuous oracle (every fraction 0). The reflow builds real line
    * structure from the text + doc_id alone (5-token lines; every
    * (doc_id+i)≡0 mod 4 line is a fixed repeated literal, mod 7 gets a
    * bullet prefix, mod 11 an ellipsis suffix — the fixture-from-formula
    * idiom the mm_* queries use), so every rule has nonzero mass and
    * the DuckDB oracle replays construction AND metrics end to end. */
  def gopherLinesQ(s: SparkSession, d: String): DataFrame =
    withGopherLineMetrics(
        Tables.documents(s, d).withColumn("__text2", reflowExpr), col("__text2"))
      .select((col("doc_id") +: GopherLineMetricCols.map(col)): _*)
      // sampled-sort cut (r21, the [[gopherQuality]] note): the reflow +
      // line-metric HOFs would otherwise run twice per action
      .localCheckpoint(eager = false)
      .orderBy("doc_id")

  /** CCNet-style cross-corpus LINE dedup (Wenzek et al. 2020 §3.1 —
    * the boilerplate-removal pass CommonCrawl pipelines run BEFORE
    * doc-level dedup): a line that occurs more than `maxOcc` times
    * across the WHOLE corpus (nav bars, cookie banners, license
    * headers) is excised from every document; rarer lines keep their
    * positions, so the doc's remaining structure survives. Output: one
    * row per input doc — (doc_id, text_clean, n_lines, n_removed); a
    * doc whose every line is boilerplate stays in the relation with
    * empty text (the caller decides whether empty docs drop — this
    * operator's contract is the transform, not the gate).
    *
    * Shape at 100 TB: posexplode → line-keyed count (map-side combine
    * collapses per-partition repeats of hot boilerplate before the
    * exchange) → count join back (line-keyed; a viral line is exactly
    * the AQE skew-split case) → per-doc reassembly whose state is
    * bounded by the DOCUMENT's own line count (array_sort over the
    * collected (idx, line) structs — deterministic despite
    * collect_list's arrival order). Line identity is the raw string —
    * exact match, the CCNet rule; near-dup lines are [[graft.operators
    * .Dedup]]'s job, not this pass's. */
  def dedupLinesAcross(df: DataFrame, id: Column, text: Column,
      maxOcc: Long): DataFrame = {
    require(maxOcc >= 1, s"dedupLinesAcross: maxOcc >= 1, got $maxOcc")
    // `base` is read three times (the exploded lines feed BOTH the
    // corpus-wide count and the rebuild join, and the final select
    // reads n_lines), so without a cut the caller's text derivation —
    // for the named query, the 5-token reflow over every document —
    // runs three times per action (the pre-r20 plan held 3 scans of
    // documents each re-running the reflow). Lazy cut, values unchanged.
    val base = df.select(id.as("doc_id"),
      filter(split(text, "\n"), x => length(trim(x)) > 0).as("__ls"))
      .localCheckpoint(eager = false)
    val lines = base.select(col("doc_id"),
      posexplode(col("__ls")).as(Seq("__idx", "__line")))
    val counts = lines.groupBy("__line").agg(count(lit(1)).as("__n"))
    val kept = lines.join(counts, Seq("__line"))
      .filter(col("__n") <= maxOcc)
      .groupBy("doc_id")
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("__idx"), col("__line")))),
            s => s.getField("__line")), "\n").as("text_clean"),
        count(lit(1)).as("__kept"))
    base.select(col("doc_id"), size(col("__ls")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  // =========================================================================
  // At-rest line-count index — incremental boilerplate excision
  // =========================================================================

  /** Bucket count for [[writeLineCountIndex]] — the index-family sizing
    * rule ([[Dedup.SigBuckets]]); excision probes read
    * `|touched|/buckets` of the store via partition pruning. */
  val LineBuckets = 64

  /** The (line, n, bucket) relation writes, merges and probes share —
    * counts over the non-empty (post-trim) lines, bucket =
    * xxhash64(line) mod buckets. */
  private def lineCountsOf(df: DataFrame, text: Column,
      buckets: Int): DataFrame =
    df.select(explode(filter(split(text, "\n"),
        x => length(trim(x)) > 0)).as("line"))
      .groupBy("line").agg(count(lit(1)).as("n"))
      .withColumn("bucket", pmod(xxhash64(col("line")), lit(buckets.toLong)))

  /** Write the at-rest LINE-COUNT index: corpus-wide per-line occurrence
    * counts, hash-partitioned into bucket dirs + a one-row config table
    * — what makes [[dedupLinesAcross]] INCREMENTAL: production can't
    * recount 100 TB of lines per arriving batch, so the counts live at
    * rest, each micro-batch folds its own counts in additively
    * ([[applyLineCountBatch]]), and excision serves from the
    * accumulated history ([[exciseFromLineIndex]]). Counts are additive
    * sufficient statistics (the [[graft.streaming.Streams.nbIngest]]
    * argument), so the merged store equals a from-scratch count over
    * everything ever ingested. */
  def writeLineCountIndex(df: DataFrame, text: Column, dir: String,
      buckets: Int = LineBuckets): Unit = {
    val s = df.sparkSession
    lineCountsOf(df, text, buckets)
      .repartition(col("bucket")) // one file per bucket dir (guide §6, r20)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/counts")
    import s.implicits._
    Seq(Tuple1(buckets)).toDF("buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def readLineMeta(s: SparkSession, dir: String): Int =
    s.read.parquet(s"$dir/meta").select("buckets").head().getInt(0)

  /** Create an EMPTY store (meta only) — the streaming bootstrap:
    * writing meta is IDEMPOTENT (fixed content for fixed `buckets`), so
    * a replayed first batch can re-run it and then fold its counts
    * through the stamped [[applyLineCountBatch]] path like every other
    * batch. Routing the first batch through [[writeLineCountIndex]]
    * instead would reopen the window this design closes: a crash
    * between its counts write and any marker replays the batch down
    * the ADDITIVE path against a store that already holds it. */
  def initLineCountIndex(s: SparkSession, dir: String,
      buckets: Int = LineBuckets): Unit = {
    import s.implicits._
    Seq(Tuple1(buckets)).toDF("buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Fold one batch's line counts into the store ADDITIVELY — unlike
    * the per-(band, doc) index appends, a count merge is NOT
    * idempotent, so each bucket's commit record must land ATOMICALLY
    * with its data: the merge stages through
    * [[graft.sources.Tombstones.rewriteLive]] with an in-leaf
    * `_applied_<batchId>` stamp planted in the staging dir BEFORE the
    * swap (new buckets stage + stamp + rename the same way), so there
    * is no marker-vs-data window — a replay that finds the stamp knows
    * this exact merge swapped in; one that doesn't knows it didn't.
    * The batch's `_batch_<id>` marker lands only after every bucket
    * committed: a crash mid-batch replays ONLY the unstamped buckets,
    * never double-counting a committed one. Stale stamps from older
    * batches die with each leaf's next rewrite (staging carries fresh
    * files only) and are never read — the skip check names the current
    * batch id. */
  def applyLineCountBatch(batch: DataFrame, text: Column, dir: String,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val done = new org.apache.hadoop.fs.Path(s"$dir/_batch_$batchId")
    val f = done.getFileSystem(conf)
    if (f.exists(done)) return
    graft.sources.Tombstones.healPartitions(s, s"$dir/counts")
    val buckets = readLineMeta(s, dir)
    val stamp = s"_applied_$batchId"
    val bc = lineCountsOf(batch, text, buckets)
      .localCheckpoint() // touched-bucket collect + one read per bucket
    val touched = bc.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    touched.foreach { b =>
      val leaf = s"$dir/counts/bucket=$b"
      val leafP = new org.apache.hadoop.fs.Path(leaf)
      if (!f.exists(new org.apache.hadoop.fs.Path(leafP, stamp))) {
        val rows = bc.filter(col("bucket") === b).select("line", "n")
        if (f.exists(leafP))
          graft.sources.Tombstones.rewriteLive(s, leaf, live =>
            live.select("line", "n").unionByName(rows)
              .groupBy("line").agg(sum("n").as("n")),
            stampFile = Some(stamp))
        else {
          // new bucket: stage + stamp + one atomic rename (a bare write
          // then stamp would reopen the marker-vs-data window)
          val tmpP = new org.apache.hadoop.fs.Path(
            leafP.getParent, s".bucket=${b}__new")
          f.delete(tmpP, true) // a crashed earlier attempt is rebuilt
          rows.write.mode("overwrite").parquet(tmpP.toString)
          f.create(new org.apache.hadoop.fs.Path(tmpP, stamp), true).close()
          if (!f.rename(tmpP, leafP))
            throw new java.io.IOException(
              s"line-count bucket commit rename failed: $tmpP -> $leafP")
        }
      }
    }
    f.create(done, true).close()
  }

  /** [[dedupLinesAcross]] SERVED from the at-rest store: only the
    * arriving docs' lines are hashed, their ≤`buckets` distinct bucket
    * ids prune the store read, and a line the store has never seen
    * counts 0 (kept — a brand-new line is not boilerplate yet). With
    * the store built over exactly the probe corpus this is bit-equal to
    * the in-plan pass (same counts, same cut), which is what lets
    * `txt_line_dedup_idx` share its oracle. */
  def exciseFromLineIndex(df: DataFrame, id: Column, text: Column,
      dir: String, maxOcc: Long): DataFrame = {
    require(maxOcc >= 1, s"exciseFromLineIndex: maxOcc >= 1, got $maxOcc")
    val s = df.sparkSession
    val buckets = readLineMeta(s, dir)
    // read twice (the exploded lines and the final n_lines select) —
    // the lazy cut keeps the caller's text derivation single-run, the
    // dedupLinesAcross note applies
    val base = df.select(id.as("doc_id"),
      filter(split(text, "\n"), x => length(trim(x)) > 0).as("__ls"))
      .localCheckpoint(eager = false)
    val lines = base.select(col("doc_id"),
        posexplode(col("__ls")).as(Seq("__idx", "__line")))
      .withColumn("__bkt", pmod(xxhash64(col("__line")), lit(buckets.toLong)))
      .localCheckpoint() // touched-bucket collect + the count join
    val touched = lines.select("__bkt").distinct()
      .collect().map(_.getLong(0)).toSeq
    graft.sources.Tombstones.healPartitions(s, s"$dir/counts")
    val counts = s.read.parquet(s"$dir/counts")
      .filter(col("bucket").isin(touched: _*))
      .select(col("line").as("__line"), col("n").as("__n"))
    val kept = lines
      .join(counts, Seq("__line"), "left")
      .filter(coalesce(col("__n"), lit(0L)) <= maxOcc)
      .groupBy("doc_id")
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("__idx"), col("__line")))),
            v => v.getField("__line")), "\n").as("text_clean"),
        count(lit(1)).as("__kept"))
    base.select(col("doc_id"), size(col("__ls")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Bound the store: drop lines with n < `floor` — the CCNet trade
    * that keeps a line-count store sub-corpus-sized (boilerplate is by
    * definition FREQUENT; the long tail of once-seen lines is most of
    * the rows and none of the signal). Stated error bound: a pruned
    * line restarts its count, so a line that ever fell below the floor
    * gates LATE by at most `floor − 1` occurrences — choose
    * floor ≪ maxOcc and the gate's behavior on actual boilerplate is
    * unchanged. Per-bucket crash-safe rewrites (the compaction
    * discipline every at-rest family here uses); idempotent. */
  def pruneLineCountIndex(s: SparkSession, dir: String, floor: Long,
      onStep: String => Unit = _ => ()): Unit = {
    require(floor >= 2, s"pruneLineCountIndex: floor >= 2, got $floor")
    graft.sources.Tombstones.healPartitions(s, s"$dir/counts")
    val root = new org.apache.hadoop.fs.Path(s"$dir/counts")
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) return
    f.listStatus(root).filter(_.getPath.getName.startsWith("bucket=")).foreach { st =>
      graft.sources.Tombstones.rewriteLive(s, st.getPath.toString,
        live => live.filter(col("n") >= floor), onStep)
    }
  }

  /** Named query: [[exciseFromLineIndex]] with the store built once over
    * the same reflow corpus — bit-equal to [[lineDedupQ]], so it SHARES
    * `txt_line_dedup`'s oracle. */
  def lineDedupIdxQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("__text2", reflowExpr)
    val dir = Scratch.dir(s, s"lineidx|$d") { tmp =>
      writeLineCountIndex(docs, col("__text2"), tmp)
      tmp
    }
    exciseFromLineIndex(docs, col("doc_id"), col("__text2"), dir, maxOcc = 10L)
      // sampled-sort cut (r21, the gopherQuality note)
      .localCheckpoint(eager = false)
      .orderBy("doc_id")
  }

  /** Named query: [[dedupLinesAcross]] over the same deterministic
    * reflow corpus as [[gopherLinesQ]] (single-line testdata would make
    * the pass vacuous) — the planted `repeat …` literal occurs in ~¼ of
    * all lines corpus-wide, so it excises everywhere, while ordinary
    * 5-token slices stay under the cap. */
  def lineDedupQ(s: SparkSession, d: String): DataFrame =
    dedupLinesAcross(
      Tables.documents(s, d).withColumn("__text2", reflowExpr),
      col("doc_id"), col("__text2"), maxOcc = 10L)
      // sampled-sort cut (r21, the gopherQuality note)
      .localCheckpoint(eager = false)
      .orderBy("doc_id")

  /** The shared multi-line reflow (see [[gopherLinesQ]] for the why). */
  private def reflowExpr = expr("""array_join(
      transform(sequence(0, cast(ceil(size(split(text, ' ')) / 5.0) as int) - 1),
        i -> CASE WHEN (doc_id + i) % 4 = 0
               THEN 'repeat repeat repeat repeat repeat'
               ELSE concat(
                 CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END,
                 array_join(slice(split(text, ' '), cast(i * 5 + 1 as int), 5), ' '),
                 CASE WHEN (doc_id + i) % 11 = 0 THEN '...' ELSE '' END) END),
      '\n')""")

  /** Named query: dedup-key normalization
    * ([[graft.functions.TextExpressions.normalizeText]] — NFC →
    * lowercase → digit-fold → whitespace collapse → trim) over a
    * deterministically PERTURBED rendering of each doc (upper-cased
    * head, ragged whitespace, a numeric counter suffix — the byte
    * variations re-crawls actually produce; the clean synthetic corpus
    * would normalize to itself and prove nothing). The invariant the
    * oracle checks end to end: every perturbed doc's normalized key
    * equals `md5` of the normalization DuckDB computes from the same
    * perturbation — and the key equals the normalization of the
    * ORIGINAL text, i.e. the perturbation is invisible to dedup. */
  def normalizeQ(s: SparkSession, d: String): DataFrame = {
    val perturbed = concat(
      upper(substring(col("text"), 1, 12)), substring(col("text"), 13, 1 << 24),
      lit("   crawl\tid "), col("doc_id"), lit(" \n"))
    val norm = graft.functions.TextExpressions.normalizeText(s, perturbed)
    val normOrig =
      graft.functions.TextExpressions.normalizeText(s, col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), norm.as("norm_key"), md5(norm).as("fp"),
        (norm === concat(normOrig, lit(" crawl id "),
          repeat(lit("0"), length(col("doc_id").cast("string")))))
          .as("perturb_invisible"))
      .orderBy("doc_id")
  }

  /** n-gram/stopword-marker language ID (argmax over per-language hit
    * counts; deterministic tie rule = LangMarkers declaration order). */
  def langId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", docToks)
      .select(col("doc_id"), langIdPredict(col("toks")).as("lang_pred"))
      .orderBy("doc_id")

  /** BPE-ish token-count estimate: whitespace words + punctuation clusters. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(filter(split(col("text"), "[\\s]+"), t => length(t) > 0))
          .cast("long").as("n_ws_tokens"),
        size(filter(split(col("text"), "[^\\p{Punct}]+"), t => length(t) > 0))
          .cast("long").as("n_punct_clusters"),
        tokenCountEstimate(col("text")).cast("long").as("token_estimate"))
      .orderBy("doc_id")

  /** Token-window document chunking — the transform that turns long
    * documents into trainer-ready windows: fixed `window` tokens per
    * chunk, `stride` tokens between chunk starts (overlap =
    * window − stride), chunk starts stop as soon as one covers the tail
    * (no degenerate all-overlap tail chunk; the final chunk may be
    * short). Pure per-row HOF arithmetic — sequence + slice + join
    * inside one codegen'd projection, zero shuffle, so at 100 TB this is
    * scan-speed. Lineage (doc_id, chunk_id) is preserved for
    * provenance/decontamination joins downstream. */
  def chunkOn(df: DataFrame, id: Column, text: Column,
      window: Int, stride: Int): DataFrame = {
    require(window >= stride && stride >= 1,
      s"chunkOn: need window >= stride >= 1, got window=$window stride=$stride")
    // null text = empty text (both sides of the oracle agree); without
    // the coalesce, size(null) = -1 fabricates a garbage chunk row where
    // the SQL replay drops the doc
    df.select(id.as("doc_id"), tokens(coalesce(text, lit(""))).as("toks"))
      .withColumn("n_doc_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n_doc_tokens") <= window, lit(1L))
          .otherwise(ceil((col("n_doc_tokens") - window)
            .cast("double") / stride).cast("long") + 1))
      .select(col("doc_id"), col("n_doc_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"),
        col("toks"))
      .withColumn("ct",
        slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(window)))
      .select(col("doc_id"), col("chunk_id"), col("n_doc_tokens"),
        size(col("ct")).cast("long").as("n_chunk_tokens"),
        array_join(col("ct"), " ").as("chunk_text"))
  }

  /** `txt_chunk`: window 16 / stride 12 over the documents table (sized
    * to this corpus' 10–99-token docs so multi-chunk docs dominate;
    * production uses e.g. 2048/1536 — same plan). */
  def chunk(s: SparkSession, d: String): DataFrame =
    chunkOn(Tables.documents(s, d), col("doc_id"), col("text"),
      window = 16, stride = 12)
      .orderBy("doc_id", "chunk_id")

  /** Document fingerprints: exact (md5), bag-of-words (order/multiplicity
    * invariant), and the 3-shingle count feeding MinHash. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", docToks)
      .select(
        col("doc_id"),
        exactFingerprint(col("text")).as("fp_exact"),
        contentFingerprint(col("toks")).as("fp_bag"),
        // |shingles(toks, 3)| is pure arithmetic — building the shingle
        // strings just to count them would interpret an HOF per row
        greatest(lit(1L), (size(col("toks")) - 2).cast("long")).as("n_shingles"))
      .orderBy("doc_id")

  /** Corpus vocabulary profile: the top-30 terms by total occurrences,
    * with document frequency and the share of the token stream each
    * covers — the Zipf head a tokenizer-training or stopword-curation
    * pass reads first. One explode + one term-keyed aggregation
    * (map-side partial, so the shuffle carries one row per
    * (partition, term), not per occurrence); top-k is a
    * TakeOrderedAndProject heap. The share divides two exact longs cast
    * to double, so it hash-matches the oracle bit for bit. */
  def vocab(s: SparkSession, d: String): DataFrame = {
    // stream total WITHOUT the explode (sum of array sizes — cheap scan,
    // broadcast as a 1-row constant); an unpartitioned window over the
    // vocabulary would serialize on one task at corpus scale
    val total = Tables.documents(s, d)
      .agg(sum(size(docToks)).cast("double").as("total_toks"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(docToks).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf_total"),
        countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(total))
      .withColumn("token_share", col("tf_total").cast("double") / col("total_toks"))
      .drop("total_toks")
      .orderBy(desc("tf_total"), asc("term")).limit(30)
  }

  /** CCNet-style language-model quality score, the unigram special case:
    * surprisal(doc) = mean over its tokens of −ln p(token), with p
    * estimated from the corpus itself (p = tf/total — no smoothing
    * needed: every scored token occurs, so p > 0). High mean surprisal =
    * rare/garbled vocabulary (the docs a perplexity gate drops); low =
    * common fluent text. Production CCNet scores with a 5-gram KenLM; the
    * unigram variant keeps the identical pipeline SHAPE — train token
    * scores on the corpus, join them back per token, average per doc —
    * while staying exact arithmetic end to end (counts in, two ln calls
    * out), hence the DuckDB oracle.
    *
    * Scale shape: one corpus explode; tf is a map-side-partial agg on the
    * term key; the score join shuffles (doc_id, term) rows against the
    * VOCABULARY-sized tf table on the key tf is already aggregated by
    * (not broadcast — vocabulary grows with corpus); the per-doc average
    * is a second keyed agg. The 1-row total broadcasts ([[vocab]]'s
    * no-window idiom). */
  /** Interpolated bigram-LM surprisal — one Markov order closer to the
    * CCNet KenLM gate than [[unigramSurprisal]]:
    * p(tᵢ | tᵢ₋₁) = λ·c₂(tᵢ₋₁,tᵢ)/c₁(tᵢ₋₁) + (1−λ)·p_uni(tᵢ), the first
    * token scored by the unigram alone. In-corpus scoring, so every pair
    * a document contains is in the count tables by construction — no
    * unseen-mass term needed.
    *
    * Determinism discipline: each token's −ln p is quantized to
    * fixed-point (×10⁶) and the per-doc mean is an INTEGER sum divided
    * by n·10⁶ — partitioning-independent and bit-exact vs the oracle
    * (the [[Classify]] rule applied to a 3-term probability, where
    * `avg(double)`'s order sensitivity has more room to bite than the
    * unigram's single ratio).
    *
    * Scale shape: the (prev, cur) pair column is built with
    * slice/arrays_zip — codegen'd array ops, NO interpreted lambda per
    * token (the lesson `GramBucketsExpr` encodes) — so pair extraction
    * rides the corpus scan; c₂ is a map-side-partial agg on the pair
    * key; c₁ derives from c₂ (bigram-vocabulary-sized, never re-scans);
    * the score join shuffles on the pair key against those tables. */
  def bigramSurprisal(s: SparkSession, d: String, lambda: Double = 0.7)
      : DataFrame = {
    val docs = Tables.documents(s, d)
    val total = docs.agg(sum(size(docToks)).cast("double").as("total_toks"))
    val tf = docs.select(explode(docToks).as("cur"))
      .groupBy("cur").agg(count(lit(1)).as("tf"))
    // prev(i) = toks(i-1), null for the first token; slice(…, 1, n-1)
    // with greatest(…, 0) keeps the single-token doc at a [null] prefix
    val pairsCol = arrays_zip(
      concat(array(lit(null).cast("string")),
        slice(docToks, lit(1), greatest(size(docToks) - 1, lit(0)))).as("prev"),
      docToks.as("cur"))
    val pairs = docs.select(col("doc_id"), explode(pairsCol).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
      // read by the c2/c1 count tables AND the score join — cut so the
      // corpus pair-explode runs once per action (r21, §7.2)
      .localCheckpoint(eager = false)
    val c2 = pairs.filter(col("prev").isNotNull)
      .groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("prev").agg(sum("c2").as("c1"))
    val pUni = col("tf").cast("double") / col("total_toks")
    val p = when(col("prev").isNull, pUni)
      .otherwise(lit(lambda) * (col("c2").cast("double") / col("c1").cast("double"))
        + lit(1.0 - lambda) * pUni)
    pairs
      .join(tf, Seq("cur"))
      .join(c2, Seq("prev", "cur"), "left") // null rows only for prev=null
      .join(c1, Seq("prev"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), round(-log(p) * lit(1e6)).cast("long").as("__sfx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("__sfx").as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__s").cast("double")
          / (col("n_tokens").cast("double") * lit(1e6))).as("mean_surprisal2"))
      .orderBy("doc_id")
  }

  /** Per-document token-distribution stats — the zero-model repetition /
    * diversity gate (low entropy = repetitive text; complements the
    * Gopher coverage rules and the LM surprisal gates with a signal that
    * needs NO corpus-side state): H = ln n − (Σ_t c_t·ln c_t)/n over the
    * doc's OWN token multiset, type-token ratio alongside. The Σ runs
    * over per-(doc, token) counts as FIXED-POINT longs, so FP addition
    * order can't leak into the result (the [[bigramSurprisal]]
    * discipline); the final ln/÷ are single deterministic double ops
    * both engines spell identically. One explode → one (doc, term)
    * count → one doc aggregation; no joins, no model state — scan-speed
    * at any corpus size. */
  def tokenEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(docToks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg(sum("__c").as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(floor(col("__c").cast("double") * log(col("__c").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long")).as("__sfx"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        round(col("distinct_tokens").cast("double")
          / col("n_tokens").cast("double"), 6).as("ttr"),
        round(log(col("n_tokens").cast("double"))
          - col("__sfx").cast("double") / lit(1e6)
            / col("n_tokens").cast("double"), 6).as("token_entropy"))
      .orderBy("doc_id")

  def unigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val total = Tables.documents(s, d)
      .agg(sum(size(docToks)).cast("double").as("total_toks"))
    val tf = Tables.documents(s, d)
      .select(explode(docToks).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(docToks).as("term"))
      .join(tf, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        avg(-log(col("tf").cast("double") / col("total_toks")))
          .as("mean_surprisal"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("mean_surprisal"), 6).as("mean_surprisal"))
      .orderBy("doc_id")
  }

  /** Per-source distinctive vocabulary — weighted log-odds with an
    * informative Dirichlet prior (Monroe et al.'s "Fightin' Words", the
    * standard corpus-comparison tool curation teams run to characterize
    * a source before mixing it): for each (source, term),
    * δ = ln-odds(term in source, prior-smoothed) −
    *     ln-odds(term in REST of corpus, prior-smoothed),
    * prior mass a_w = corpus share × a0 (a0 = 100). Top 5 per source.
    *
    * Shape: one explode, three aggregations keyed (source,term)/(term)/
    * (source) — all map-side partial. The (source,term)⋈(term) join
    * shuffles on the term key both sides are already aggregated by
    * (vocabulary-sized — NOT broadcast); only the #sources table and the
    * 1-row total broadcast. Rank window partitions by source, never
    * global. Every input to the two ln calls is an exact integer count
    * in double, so both engines evaluate identical expressions. */
  def distinctiveTerms(s: SparkSession, d: String): DataFrame = {
    val e = Tables.documents(s, d)
      .select(col("source"), explode(docToks).as("term"))
    // one corpus explode; yw/ni/n are ROLL-UPS of yi (exact integer sums,
    // so values equal the direct aggregations), not re-scans. statsReset
    // wraps the checkpoint because yi is immediately self-joined with its
    // own roll-ups (the attribute-conflict hazard pinned in Dedup).
    val yi = Dedup.statsReset(e.groupBy("source", "term")
      .agg(count(lit(1)).cast("double").as("y_iw"))
      .localCheckpoint())
    val yw = yi.groupBy("term").agg(sum("y_iw").as("y_w"))
    val ni = yi.groupBy("source").agg(sum("y_iw").as("n_i"))
    val n = ni.agg(sum("n_i").as("n_all"))
    val a0 = lit(100.0)
    val aw = col("y_w") * a0 / col("n_all")
    val delta =
      log((col("y_iw") + aw) / (col("n_i") + a0 - col("y_iw") - aw)) -
      log((col("y_w") - col("y_iw") + aw) /
        (col("n_all") - col("n_i") + a0 - (col("y_w") - col("y_iw")) - aw))
    val w = Window.partitionBy("source")
      .orderBy(desc("log_odds"), asc("term"))
    yi.join(yw, "term")
      .join(broadcast(ni), "source")
      .crossJoin(broadcast(n))
      .withColumn("log_odds", round(delta, 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("source"), col("term"), col("log_odds"))
      .orderBy(asc("source"), desc("log_odds"), asc("term"))
  }

  /** Adjacent-pair merge statistics — the per-round statistic a BPE /
    * WordPiece trainer computes (count every adjacent symbol pair, merge
    * the winner, repeat), here over the word stream: top 20 pairs by
    * count with the number of distinct documents containing each. One
    * array kernel per row (no self-join: the pair list is built by a
    * positional transform over the token array), then a pair-keyed
    * partial aggregation — the trainer's full loop is this query
    * iterated with a merge applied between rounds. */
  def bigramMerge(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", docToks)
      .filter(size(col("toks")) >= 2)
      // fused [[graft.functions.AdjacentPairsExpr]] kernel (direct byte
      // concat) replacing the interpreted
      // `transform(sequence, i -> concat(toks[i],' ',toks[i+1]))` HOF —
      // one lambda eval per pair, the DSIR trap; fused ≡ HOF parity is
      // spec-pinned and the oracle is unchanged
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.adjacentPairs(s, col("toks")))
          .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(desc("n"), asc("pair")).limit(20)

  /** BPE trainer loop — the operator a tokenizer-training pipeline
    * actually runs over the word stream: R rounds of (count adjacent
    * symbol pairs → take the most frequent → merge it corpus-wide),
    * [[bigramMerge]] iterated with the re-tokenize applied between
    * rounds. The driver holds ONLY the ≤R-row merge table (the
    * [[Search.kmeansTrain]] codebook pattern); each round is one
    * pair-keyed partial aggregation plus one narrow map over the token
    * column, with `localCheckpoint` bounding lineage so round r never
    * re-evaluates rounds 1..r-1 (the standard iterative-algorithm trade,
    * as in NN-Descent).
    *
    * Pairs are counted as (a, b) STRUCTS, not concat strings — merged
    * symbols contain spaces, so the winning pair must stay split to
    * parameterize the next round's [[graft.functions.BpeMergeExpr]]
    * (greedy-leftmost replace; in a run of equal symbols positions
    * 0, 2, 4… of the run merge). Ties break on (a, b) ascending —
    * componentwise, NOT on the concatenated string: once merged symbols
    * contain spaces, concat is not injective (('x y','z') and
    * ('x','y z') both concat to "x y z"), so a concat tie-break would
    * leave the winner engine/oracle-nondeterministic. The CTE-replay
    * oracle orders by the same (n DESC, a, b). Stops early if a round
    * finds no pair (degenerate corpora).
    *
    * Returns (round, pair, n): the merge table with each winner's count
    * at selection time — non-increasing in `round` (a merge can only
    * remove occurrences of existing pairs and introduce new pairs with
    * at most its own count; ScalaCheck-pinned). */
  def bpeTrain(docs: DataFrame, text: Column, rounds: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeTrainState(docs, lit(0L), text, rounds)._1
      .toDF("round", "pair", "n").orderBy("round")
  }

  /** The trainer loop's full state: the merge table AND the final
    * re-tokenized corpus (doc_id, toks) — shared by [[bpeTrain]] (reads
    * the merges) and [[bpeEncodeQ]] (reads the encoded corpus), so the
    * two faces can never drift. */
  def bpeTrainState(docs: DataFrame, id: Column, text: Column, rounds: Int)
      : (Seq[(Int, String, Long)], DataFrame) = {
    val s = docs.sparkSession
    require(rounds >= 1, s"bpeTrain: rounds >= 1, got $rounds")
    var toks = docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = toks.filter(size(col("toks")) >= 2)
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1).as("a"),
          slice(col("toks"), lit(2), size(col("toks")) - 1).as("b"))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        val n = top(0).getLong(2)
        merges += ((r, s"$a $b", n))
        toks = toks.select(col("doc_id"), graft.functions.TextExpressions
          .bpeMerge(s, col("toks"), a, b).as("toks")).localCheckpoint()
      }
      r += 1
    }
    (merges.toSeq, toks)
  }

  /** Named query: 3 BPE rounds over the corpus word stream. */
  def bpeTrainQ(s: SparkSession, d: String): DataFrame =
    bpeTrain(Tables.documents(s, d), col("text"), rounds = 3)

  /** Named query: APPLY the 3 trained merges corpus-wide — the encode
    * face a tokenizer pipeline runs after training (and the fertility
    * statistic it reports): per doc, symbols before vs after, and the
    * compression ratio (one IEEE division of two exact longs). */
  def bpeEncodeQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (_, encoded) = bpeTrainState(docs, col("doc_id"), col("text"), rounds = 3)
    val before = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_before"))
    encoded.select(col("doc_id"), size(col("toks")).cast("long").as("n_after"))
      .join(before, "doc_id")
      .select(col("doc_id"), col("n_before"), col("n_after"),
        (col("n_after").cast("double") / col("n_before").cast("double"))
          .as("compression"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_quality" -> quality,
    "txt_gopher_quality" -> gopherQuality,
    "txt_gopher_filter" -> gopherFilter,
    "txt_gopher_lines" -> gopherLinesQ,
    "txt_line_dedup" -> lineDedupQ,
    "txt_line_dedup_idx" -> lineDedupIdxQ,
    "txt_normalize" -> normalizeQ,
    "txt_bigram_merge" -> bigramMerge,
    "txt_bpe_train" -> bpeTrainQ,
    "txt_bpe_encode" -> bpeEncodeQ,
    "txt_langid" -> langId,
    "txt_tokencount" -> tokenCount,
    "txt_chunk" -> chunk,
    "txt_fingerprint" -> fingerprint,
    "txt_vocab" -> vocab,
    "txt_surprisal" -> unigramSurprisal,
    "txt_entropy" -> tokenEntropy,
    "txt_surprisal_bigram" -> ((s: SparkSession, d: String) =>
      bigramSurprisal(s, d)),
    "txt_distinctive" -> distinctiveTerms)

  /** CCNet line dedup over the reflow corpus — shared by the in-plan
    * and index-served spellings (same counts, same cut, same
    * reassembly). */
  private val lineDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       l0 AS (SELECT doc_id,
         [CASE WHEN (doc_id + i) % 4 = 0 THEN 'repeat repeat repeat repeat repeat'
               ELSE concat(
                 CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END,
                 array_to_string(list_slice(toks, CAST(i*5+1 AS INT), CAST(i*5+5 AS INT)), ' '),
                 CASE WHEN (doc_id + i) % 11 = 0 THEN '...' ELSE '' END) END
          FOR i IN range(0, CAST(ceil(len(toks)/5.0) AS INT))] AS ls0
         FROM t),
       l AS (SELECT doc_id, list_filter(ls0, x -> trim(x) != '') AS ls FROM l0),
       lines AS (SELECT doc_id, u.idx AS idx, u.line AS line
         FROM l, unnest([struct_pack(idx := i, line := ls[i+1]) FOR i IN range(0, len(ls))]) AS r(u)),
       c AS (SELECT line, CAST(count(*) AS BIGINT) AS n FROM lines GROUP BY line),
       kept AS (SELECT doc_id,
           array_to_string(list(line ORDER BY idx), chr(10)) AS text_clean,
           CAST(count(*) AS BIGINT) AS n_kept
         FROM lines JOIN c USING (line) WHERE c.n <= 10 GROUP BY doc_id)
       SELECT l.doc_id AS doc_id,
         COALESCE(k.text_clean, '') AS text_clean,
         CAST(len(l.ls) AS BIGINT) AS n_lines,
         CAST(len(l.ls) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
       FROM l LEFT JOIN kept k ON l.doc_id = k.doc_id
       ORDER BY l.doc_id"""

  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** The Gopher metrics relationally: per-n positional-gram CTEs replay
    * the kernel's counts (gram identity = the same space-joined string),
    * coverage = DISTINCT positions under duplicated grams (overlap once),
    * every fraction the same two-long division as the engine column. */
  private[operators] def gopherSql: String = {
    def topCte(n: Int) =
      s"""o$n AS (SELECT doc_id, array_to_string(toks[i:i + ${n - 1}], ' ') AS g
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${n - 2})) AS i
                    FROM t WHERE len(toks) >= $n)),
         t$n AS (SELECT doc_id, max(cnt * length(g)) AS chars
               FROM (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
                     FROM o$n GROUP BY doc_id, g) GROUP BY doc_id)"""
    def covCte(n: Int) =
      s"""p$n AS (SELECT doc_id, i, array_to_string(toks[i:i + ${n - 1}], ' ') AS g
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${n - 2})) AS i
                    FROM t WHERE len(toks) >= $n)),
         d$n AS (SELECT doc_id, g FROM p$n GROUP BY doc_id, g HAVING count(*) >= 2),
         c$n AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS cov
               FROM (SELECT o.doc_id, unnest(range(o.i, o.i + $n)) AS p
                     FROM p$n o JOIN d$n d USING (doc_id, g))
               GROUP BY doc_id)"""
    val meanE = "CAST(b.word_chars AS DOUBLE) / CAST(nullif(b.n_words, 0) AS DOUBLE)"
    val alphaE = "CAST(b.n_alpha AS DOUBLE) / CAST(nullif(b.n_words, 0) AS DOUBLE)"
    def topE(n: Int) =
      s"CAST(coalesce(t$n.chars, 0) AS DOUBLE) / CAST(nullif(b.word_chars + greatest(b.n_words - 1, 0), 0) AS DOUBLE)"
    def covE(n: Int) =
      s"CAST(coalesce(c$n.cov, 0) AS DOUBLE) / CAST(nullif(b.n_words, 0) AS DOUBLE)"
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS word_chars,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(list_distinct(toks), ${sqlList(EnglishStopwords)})) AS BIGINT) AS n_stop
           FROM t),
       ${topCte(2)}, ${topCte(3)}, ${topCte(4)}, ${covCte(5)}, ${covCte(10)}
       SELECT b.doc_id, b.n_words,
         $meanE AS mean_word_len,
         b.n_stop,
         $alphaE AS alpha_ratio,
         ${topE(2)} AS top2_frac,
         ${topE(3)} AS top3_frac,
         ${topE(4)} AS top4_frac,
         ${covE(5)} AS dup5_frac,
         ${covE(10)} AS dup10_frac,
         COALESCE(b.n_words BETWEEN 50 AND 100000
           AND ($meanE) BETWEEN 3 AND 10
           AND b.n_stop >= 2
           AND ($alphaE) > 0.8
           AND (${topE(2)}) <= 0.20
           AND (${topE(3)}) <= 0.18
           AND (${topE(4)}) <= 0.16
           AND (${covE(5)}) <= 0.15
           AND (${covE(10)}) <= 0.10, FALSE) AS passes
       FROM b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
         LEFT JOIN t4 USING (doc_id) LEFT JOIN c5 USING (doc_id)
         LEFT JOIN c10 USING (doc_id)"""
  }

  /** One tokenizer definition for every `txt_*` oracle — `of` lets a
    * query pre-treat the text expression (txt_chunk's null coalesce)
    * without forking the tokenizer itself. */
  private def toksSqlOf(textExpr: String) =
    s"string_split(lower($textExpr), ' ')"
  private val toksSql = toksSqlOf("text")

  /** One BPE round replayed in SQL: count pairs over `t{r-1}`, pick the
    * winner (`w$r`), then rebuild the token arrays (`t$r`) with the
    * greedy-leftmost merge expressed as gaps-and-islands — in each
    * maximal run of consecutive matching positions the 1st, 3rd, 5th…
    * merge (`rp % 2 = 1`), a position is consumed iff its predecessor
    * was selected. Exactly [[graft.functions.BpeMergeExpr]]'s rule.
    * Winner ties break on (n DESC, a, b) — the engine's componentwise
    * order, never the ambiguous concat. The winner joins in via
    * `LEFT JOIN … ON TRUE`, NOT a cross join: a round with no pairs
    * left (every doc merged to one symbol) has an EMPTY `w$r`, and a
    * cross join there would vaporize the whole corpus out of `t$r` —
    * the left join carries it forward unchanged, matching the trainer
    * loop's early stop. */
  private def bpeRoundSql(r: Int): String = {
    val prev = s"t${r - 1}"
    s"""p$r AS (SELECT toks[i] AS a, toks[i + 1] AS b, count(*) AS n
            FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                  FROM $prev WHERE len(toks) >= 2)
            GROUP BY a, b),
       w$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
       m$r AS (SELECT d.doc_id, d.i, d.toks[d.i] AS tok,
                 COALESCE(d.toks[d.i] = w.a AND d.toks[d.i + 1] = w.b, FALSE) AS hit
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
                     FROM $prev) d LEFT JOIN w$r w ON TRUE),
       h$r AS (SELECT doc_id, i,
                 i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
               FROM m$r WHERE hit),
       sel$r AS (SELECT doc_id, i FROM
                  (SELECT doc_id, i,
                     row_number() OVER (PARTITION BY doc_id, isl ORDER BY i) AS rp
                   FROM h$r) WHERE rp % 2 = 1),
       t$r AS (SELECT m.doc_id,
                 list(CASE WHEN s.i IS NOT NULL THEN w.a || ' ' || w.b
                      ELSE m.tok END ORDER BY m.i) AS toks
               FROM m$r m LEFT JOIN w$r w ON TRUE
               LEFT JOIN sel$r s ON m.doc_id = s.doc_id AND m.i = s.i
               LEFT JOIN sel$r c ON m.doc_id = c.doc_id AND m.i = c.i + 1
               WHERE c.i IS NULL
               GROUP BY m.doc_id)"""
  }

  val oracleSql: Map[String, String] = Map(
    "txt_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS distinct_ratio,
           CAST(len(list_filter(toks, x -> list_contains(${sqlList(EnglishStopwords)}, x))) AS DOUBLE)
             / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS stopword_ratio,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS mean_tok_len,
           CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio
         FROM t ORDER BY doc_id""",
    "txt_gopher_quality" -> s"$gopherSql ORDER BY doc_id",
    // line rules over the deterministic reflow — construction AND
    // metrics replayed (see gopherLinesQ for why the corpus reflows)
    "txt_gopher_lines" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         l0 AS (SELECT doc_id,
           [CASE WHEN (doc_id + i) % 4 = 0 THEN 'repeat repeat repeat repeat repeat'
                 ELSE concat(
                   CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END,
                   array_to_string(list_slice(toks, CAST(i*5+1 AS INT), CAST(i*5+5 AS INT)), ' '),
                   CASE WHEN (doc_id + i) % 11 = 0 THEN '...' ELSE '' END) END
            FOR i IN range(0, CAST(ceil(len(toks)/5.0) AS INT))] AS ls0
           FROM t),
         l AS (SELECT doc_id, list_filter(ls0, x -> trim(x) != '') AS ls FROM l0),
         m AS (SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(list_filter(ls, x -> starts_with(trim(x), '- ') OR starts_with(trim(x), '* ') OR starts_with(trim(x), '•'))) AS BIGINT) AS n_bullet,
           CAST(len(list_filter(ls, x -> ends_with(trim(x), '...') OR ends_with(trim(x), '…'))) AS BIGINT) AS n_ell,
           CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup,
           CAST(COALESCE(list_sum(list_transform(list_distinct(ls), d ->
             CASE WHEN len(list_filter(ls, y -> y = d)) > 1
               THEN len(list_filter(ls, y -> y = d)) * length(d) ELSE 0 END)), 0) AS BIGINT) AS dup_chars,
           CAST(COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) AS BIGINT) AS chars
           FROM l)
         SELECT doc_id, n_lines,
           CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_bullet AS DOUBLE)/n_lines END AS bullet_frac,
           CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_ell AS DOUBLE)/n_lines END AS ellipsis_frac,
           CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_dup AS DOUBLE)/n_lines END AS dup_line_frac,
           CASE WHEN chars = 0 THEN 0.0 ELSE CAST(dup_chars AS DOUBLE)/chars END AS dup_line_char_frac,
           ((CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_bullet AS DOUBLE)/n_lines END) <= 0.90
             AND (CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_ell AS DOUBLE)/n_lines END) <= 0.30
             AND (CASE WHEN n_lines = 0 THEN 0.0 ELSE CAST(n_dup AS DOUBLE)/n_lines END) <= 0.30
             AND (CASE WHEN chars = 0 THEN 0.0 ELSE CAST(dup_chars AS DOUBLE)/chars END) <= 0.20) AS passes_lines
         FROM m ORDER BY doc_id""",
    // CCNet line dedup over the same reflow: the planted repeat-literal
    // excises everywhere, rare lines keep their positions. The
    // index-served spelling shares it (store over the same corpus ⇒
    // identical counts ⇒ identical cut).
    "txt_line_dedup" -> lineDedupSql,
    "txt_line_dedup_idx" -> lineDedupSql,
    // dedup-key normalization: perturbation + NFC/lower/digit-fold/
    // whitespace-collapse replayed (nfc_normalize is DuckDB's UAX#15
    // NFC, same algorithm as java.text.Normalizer's)
    "txt_normalize" ->
      """WITH p AS (SELECT doc_id,
           concat(upper(substr(text, 1, 12)), substr(text, 13),
                  '   crawl', chr(9), 'id ', CAST(doc_id AS VARCHAR), ' ', chr(10)) AS pt,
           text FROM documents),
         n AS (SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(nfc_normalize(pt)), '[0-9]', '0', 'g'),
             '[ \t\n\r\f]+', ' ', 'g')) AS norm_key,
           trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)), '[0-9]', '0', 'g'),
             '[ \t\n\r\f]+', ' ', 'g')) AS norm_orig
           FROM p)
         SELECT doc_id, norm_key, md5(norm_key) AS fp,
           norm_key = concat(norm_orig, ' crawl id ',
             repeat('0', length(CAST(doc_id AS VARCHAR)))) AS perturb_invisible
         FROM n ORDER BY doc_id""",
    "txt_gopher_filter" ->
      s"SELECT doc_id FROM ($gopherSql) WHERE passes ORDER BY doc_id",
    "txt_langid" -> {
      val hits = LangMarkers.map { case (l, m) =>
        s"len(list_filter(list_distinct(toks), x -> list_contains(${sqlList(m)}, x))) AS h_$l"
      }.mkString(", ")
      val best = LangMarkers.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
      val cases = LangMarkers.map { case (l, _) =>
        s"WHEN h_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         h AS (SELECT doc_id, $hits FROM t),
         b AS (SELECT *, $best AS best FROM h)
         SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
         FROM b ORDER BY doc_id"""
    },
    "txt_tokencount" ->
      """WITH t AS (SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS n_ws,
           len(list_filter(regexp_split_to_array(text, '[^[:punct:]]+'), x -> length(x) > 0)) AS n_pc
           FROM documents)
         SELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws_tokens,
           CAST(n_pc AS BIGINT) AS n_punct_clusters,
           CAST(n_ws + n_pc AS BIGINT) AS token_estimate
         FROM t ORDER BY doc_id""",
    // chunking: window 16 / stride 12; starts stop once a chunk covers
    // the tail, the final chunk may be short — replayed exactly
    "txt_chunk" ->
      s"""WITH t AS (SELECT doc_id,
           ${toksSqlOf("coalesce(text, '')")} AS toks FROM documents),
         d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_doc_tokens,
           CASE WHEN len(toks) <= 16 THEN 1
             ELSE CAST(ceil(CAST(len(toks) - 16 AS DOUBLE) / 12) AS BIGINT) + 1
           END AS n_chunks FROM t),
         e AS (SELECT doc_id, n_doc_tokens, toks,
             CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_id FROM d),
         c AS (SELECT doc_id, chunk_id, n_doc_tokens,
             toks[chunk_id*12 + 1 : chunk_id*12 + 16] AS ct FROM e)
         SELECT doc_id, chunk_id, n_doc_tokens,
           CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
           array_to_string(ct, ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_id""",
    "txt_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
         SELECT doc_id,
           md5(text) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bag,
           CAST(CASE WHEN len(toks) < 3 THEN 1 ELSE len(toks) - 2 END AS BIGINT) AS n_shingles
         FROM t ORDER BY doc_id""",
    "txt_vocab" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         total AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS total_toks FROM t),
         e AS (SELECT doc_id, unnest(toks) AS term FROM t),
         v AS (SELECT term, count(*) AS tf_total, count(DISTINCT doc_id) AS df
               FROM e GROUP BY term)
         SELECT term, tf_total, df,
           CAST(tf_total AS DOUBLE) / total_toks AS token_share
         FROM v CROSS JOIN total
         ORDER BY tf_total DESC, term LIMIT 30""",
    "txt_surprisal" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         total AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS total_toks FROM t),
         e AS (SELECT doc_id, unnest(toks) AS term FROM t),
         tf AS (SELECT term, count(*) AS c FROM e GROUP BY term)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(CAST(c AS DOUBLE) / total_toks)), 6) AS mean_surprisal
         FROM e JOIN tf USING (term) CROSS JOIN total
         GROUP BY doc_id ORDER BY doc_id""",
    "txt_entropy" ->
      s"""WITH e AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         c AS (SELECT doc_id, count(*) AS c FROM e GROUP BY doc_id, term),
         a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS distinct_tokens,
             CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sfx
           FROM c GROUP BY doc_id)
         SELECT doc_id, n_tokens, distinct_tokens,
           round(CAST(distinct_tokens AS DOUBLE)
             / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           round(ln(CAST(n_tokens AS DOUBLE))
             - CAST(sfx AS DOUBLE) / 1000000.0
               / CAST(n_tokens AS DOUBLE), 6) AS token_entropy
         FROM a ORDER BY doc_id""",
    // mirrors bigramSurprisal's exact double expression (0.7/0.3
    // interpolation, same parenthesization) and its fixed-point mean
    "txt_surprisal_bigram" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         total AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS total_toks FROM t),
         e AS (SELECT doc_id, toks[i] AS cur,
                 CASE WHEN i = 1 THEN NULL ELSE toks[i - 1] END AS prev
               FROM (SELECT doc_id, toks,
                       unnest(range(1, len(toks) + 1)) AS i FROM t)),
         tf AS (SELECT cur, count(*) AS tf FROM e GROUP BY cur),
         c2 AS (SELECT prev, cur, count(*) AS c2 FROM e
                WHERE prev IS NOT NULL GROUP BY prev, cur),
         c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev),
         sc AS (SELECT doc_id,
                 CAST(round(-ln(CASE WHEN e.prev IS NULL
                     THEN CAST(tf AS DOUBLE) / total_toks
                     ELSE 0.7 * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
                       + 0.3 * (CAST(tf AS DOUBLE) / total_toks) END)
                   * 1000000) AS BIGINT) AS sfx
               FROM e JOIN tf USING (cur)
                 LEFT JOIN c2 ON e.prev = c2.prev AND e.cur = c2.cur
                 LEFT JOIN c1 ON e.prev = c1.prev
                 CROSS JOIN total)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(sfx) AS BIGINT) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean_surprisal2
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "txt_distinctive" ->
      """WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents),
         e AS (SELECT source, unnest(toks) AS term FROM t),
         yi AS (SELECT source, term, CAST(count(*) AS DOUBLE) AS y_iw FROM e GROUP BY source, term),
         yw AS (SELECT term, CAST(count(*) AS DOUBLE) AS y_w FROM e GROUP BY term),
         ni AS (SELECT source, CAST(count(*) AS DOUBLE) AS n_i FROM e GROUP BY source),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n_all FROM e),
         d AS (SELECT yi.source, yi.term,
                 ln((y_iw + y_w * 100.0 / n_all) / (n_i + 100.0 - y_iw - y_w * 100.0 / n_all))
                 - ln((y_w - y_iw + y_w * 100.0 / n_all)
                      / (n_all - n_i + 100.0 - (y_w - y_iw) - y_w * 100.0 / n_all)) AS delta
               FROM yi JOIN yw USING (term) JOIN ni USING (source) CROSS JOIN n),
         r AS (SELECT source, term, round(delta, 6) AS log_odds,
                 row_number() OVER (PARTITION BY source ORDER BY round(delta, 6) DESC, term) AS rn
               FROM d)
         SELECT source, term, log_odds FROM r WHERE rn <= 5
         ORDER BY source, log_odds DESC, term""",
    "txt_bigram_merge" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         p AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1])) AS pair
               FROM t WHERE len(toks) >= 2)
         SELECT pair, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",
    "txt_bpe_train" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         ${bpeRoundSql(1)},
         ${bpeRoundSql(2)},
         ${bpeRoundSql(3)}
         SELECT * FROM (
           SELECT 1 AS round, a || ' ' || b AS pair, CAST(n AS BIGINT) AS n FROM w1
           UNION ALL
           SELECT 2 AS round, a || ' ' || b AS pair, CAST(n AS BIGINT) AS n FROM w2
           UNION ALL
           SELECT 3 AS round, a || ' ' || b AS pair, CAST(n AS BIGINT) AS n FROM w3)
         ORDER BY round""",
    "txt_bpe_encode" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         ${bpeRoundSql(1)},
         ${bpeRoundSql(2)},
         ${bpeRoundSql(3)}
         SELECT t0.doc_id, CAST(len(t0.toks) AS BIGINT) AS n_before,
           CAST(len(t3.toks) AS BIGINT) AS n_after,
           CAST(len(t3.toks) AS DOUBLE) / CAST(len(t0.toks) AS DOUBLE)
             AS compression
         FROM t0 JOIN t3 ON t0.doc_id = t3.doc_id ORDER BY t0.doc_id""")
}
