package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.functions.TextExpressions
import graft.plans.Scratch

/** At-rest DISTINCT-GRAM index — the 5th at-rest index family (after
  * IVF, kNN-graph, MinHash signatures and the inverted index), serving
  * the verbatim-overlap audits: memorization
  * ([[Dedup.memorizationRate]]) and benchmark decontamination
  * ([[Curation.decontaminate]]).
  *
  * Why it exists: both audits reduce the LAKE side to a gram-hash
  * membership set and probe it with a (benchmark-sized) held-out set.
  * Computed in-plan, that reduction — tokenize, hash, explode, dedup
  * 100 TB of text — is the entire cost, and it is paid again on EVERY
  * audit run (audits run per eval, per takedown, per release). This
  * index pays it once at ingest and serves every probe after from
  * bucket-pruned parquet, the same economics as
  * [[Lexical.writeInvertedIndex]] (reference anchor: the incremental
  * merge discipline of `upload_features_to_elasticsearch.py`
  * generalized to the eval face — tokenize once, serve forever).
  *
  * Layout under `dir/`:
  *  - `grams/bucket=<b>/` — rows `(doc_id, g)`: per-doc-DISTINCT
  *    xxhash64 gram-chain hashes ([[TextExpressions.shingleHashes]],
  *    width `n`), hash-partitioned by `bucket = pmod(g, buckets)` so a
  *    probe's grams map to partition directories (PartitionFilters —
  *    `GramIndexSpec` asserts the pruned scan). Rows carry `doc_id`
  *    (posting-style, not a bare distinct set) for two reasons: the
  *    decontam probe NEEDS the contaminated doc ids back, and takedowns
  *    need doc attribution to delete ([[Tombstones]] anti-join; a bare
  *    gram set cannot forget a document without refcounts).
  *  - `docids/` — one row per indexed doc id: the O(n_docs) membership
  *    set the append disjointness contract is checked against (probing
  *    the gram table itself would re-scan ~|tokens| rows per ingest
  *    micro-batch) and the ground truth `n_docs` counts.
  *  - `stats/` — one row `(n, buckets, n_docs)`, swap-managed, written
  *    LAST so its presence means "build completed" (the
  *    [[graft.streaming.Streams.indexIngest]] rebuild-vs-append probe
  *    discipline).
  *  - `_tombstones/` — shared takedown store.
  *
  * Gram semantics are [[graft.functions.TextFunctions.shingles]]'s:
  * every doc contributes, docs shorter than `n` tokens contribute their
  * single whole-span gram. That makes the index EXACTLY the membership
  * relation [[Curation.decontaminate]] explodes in-plan. The
  * memorization probe filters its probe docs to ≥ n tokens (as
  * [[Dedup.memorizationRate]] does), so every probe gram is width-n and
  * a lake-side degenerate (width < n) gram can only match it by a
  * 64-bit chain collision (~2⁻⁶⁴ per pair — the same w.h.p. contract
  * every hashed-gram query in this repo carries; the string-gram oracle
  * replay confirms it at sf0.01).
  *
  * 100 TB shape: the build is one corpus scan → fused per-row hash
  * kernel → bucket-partitioned write (no joins, map-side distinct per
  * doc); a probe reads ≤ min(|probe grams|, buckets) partition dirs and
  * never touches corpus text; appends are file drops into bucket dirs
  * plus an O(n_docs) disjointness semi-join against the docids sidecar
  * and one swap of the one-row stats; takedowns are O(|deletes|)
  * tombstones applied at probe time and compacted bucket-wise by
  * [[merge]].
  */
object GramIndex {

  val DefaultBuckets = 64
  val DefaultN = 8

  // --- swap plumbing (the Lexical/Compact crash-safe rewrite discipline;
  // rename results CHECKED — HDFS reports failure by returning false) ----

  private def fsOf(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private def mustRename(f: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"swap rename failed: $src -> $dst")

  private def healSwap(s: SparkSession, path: String): Unit = {
    val f = fsOf(s, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val oldP = new org.apache.hadoop.fs.Path(path + "__old")
    if (!f.exists(p) && f.exists(oldP)) mustRename(f, oldP, p)
  }

  private def swapWrite(s: SparkSession, path: String)(write: String => Unit): Unit = {
    val f = fsOf(s, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val oldP = new org.apache.hadoop.fs.Path(path + "__old")
    val tmpP = new org.apache.hadoop.fs.Path(path + "__staging")
    healSwap(s, path)
    f.delete(tmpP, true); f.delete(oldP, true)
    write(tmpP.toString)
    mustRename(f, p, oldP); mustRename(f, tmpP, p); f.delete(oldP, true)
  }

  /** Heal interrupted stats swaps — entry point for callers that must
    * decide "does this index exist?" before an eager parquet read (the
    * streaming ingest's rebuild-vs-append probe). */
  private[graft] def healIndex(s: SparkSession, dir: String): Unit =
    healSwap(s, s"$dir/stats")

  // --- build / append / delete / compact ---------------------------------

  /** The row derivation shared by full build and append — ONE definition
    * so a layout change can never silently break append-equals-rebuild
    * parity. Per-doc-distinct gram hashes via the fused set kernel (one
    * string-hash per token, open-addressed dedup — no gram strings).
    * `id` is cast to long HERE (the [[graft.sources.Tombstones.add]]
    * discipline): [[readGrams]] pins `doc_id LONG`, and an index written
    * with a caller's int id column would otherwise build fine and then
    * throw on every vectorized read. */
  private def gramRows(docs: DataFrame, id: Column, text: Column,
      n: Int, buckets: Int): DataFrame = {
    val s = docs.sparkSession
    val toks = docs.select(id.cast("long").as("doc_id"), tokens(text).as("toks"))
    toks.select(col("doc_id"),
        explode(TextExpressions.shingleHashes(s, col("toks"), n)).as("g"))
      .withColumn("bucket", pmod(col("g"), lit(buckets.toLong)))
  }

  /** Every read of the gram table carries the EXPLICIT schema: a
    * bucket-partitioned write of an EMPTY frame (an empty lake slice, a
    * filtered-out increment) leaves no part file to infer from, and an
    * audit over that index must answer "nothing memorized", not throw
    * UNABLE_TO_INFER_SCHEMA. */
  private def readGrams(s: SparkSession, dir: String): DataFrame =
    s.read.schema("doc_id LONG, g LONG, bucket LONG").parquet(s"$dir/grams")

  /** The `docids/` sidecar: one distinct `doc_id` row per indexed doc —
    * the membership set [[append]]'s disjointness probe semi-joins
    * (O(n_docs), NOT a scan of the gram table, which is ~|tokens|-sized)
    * and the ground truth `n_docs` is counted from. Every doc appears
    * here, including docs whose text tokenizes to no gram (NULL text) —
    * the doc-count and the id-disjointness contract are about DOCS, not
    * about gram rows. Same explicit-schema rule as [[readGrams]]. */
  private def readDocIds(s: SparkSession, dir: String): DataFrame = {
    // a takedown of EVERY indexed doc removes the dir outright
    // (rewriteLive's all-rows-deleted branch) — that index is validly
    // empty, not corrupt
    val p = new org.apache.hadoop.fs.Path(s"$dir/docids")
    if (fsOf(s, s"$dir/docids").exists(p))
      s.read.schema("doc_id LONG").parquet(s"$dir/docids")
    else s.range(0).select(col("id").as("doc_id"))
  }

  private def docIdRows(docs: DataFrame, id: Column): DataFrame =
    docs.select(id.cast("long").as("doc_id")).distinct()

  def write(docs: DataFrame, id: Column, text: Column, dir: String,
      n: Int = DefaultN, buckets: Int = DefaultBuckets): Unit = {
    require(n >= 1 && buckets >= 1)
    val s = docs.sparkSession
    gramRows(docs, id, text, n, buckets)
      .repartition(col("bucket")) // one file per bucket dir (guide §6, r20)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/grams")
    docIdRows(docs, id).write.mode("overwrite").parquet(s"$dir/docids")
    // stats LAST: presence = completed build; n_docs counted from the
    // just-written sidecar so write/append/merge share one definition
    readDocIds(s, dir).agg(count(lit(1)).as("n_docs"))
      .select(lit(n.toLong).as("n"), lit(buckets.toLong).as("buckets"),
        col("n_docs"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** `(n, buckets)` the index was built with — probes and appends MUST
    * use the same, so they read it rather than trusting a parameter. */
  private def readStats(s: SparkSession, dir: String): (Int, Int) = {
    healIndex(s, dir)
    val r = s.read.parquet(s"$dir/stats").select("n", "buckets").head()
    (r.getLong(0).toInt, r.getLong(1).toInt)
  }

  /** Append NEW documents (ids disjoint from the indexed corpus — the
    * ingest-increment contract, enforced like [[Lexical.appendToIndex]]):
    * gram rows drop into their bucket dirs (new doc_ids touch no
    * existing row, so appending files IS the merge); the one-row stats
    * recombine behind a crash-safe swap. Probe results from an appended
    * index are identical to a full rebuild on the union (spec-pinned) —
    * membership is a set union and doc attribution is row-disjoint. */
  def append(docs: DataFrame, id: Column, text: Column, dir: String,
      requireDisjoint: Boolean = true): Unit = {
    val s = docs.sparkSession
    val (n, buckets) = readStats(s, dir)
    // a crash mid-[[merge]] can leave the docids dir vacated — reunite
    // it before the disjointness probe reads it (one listing when clean)
    graft.sources.Tombstones.healPartitions(s, dir)
    val newIds = docIdRows(docs, id).localCheckpoint()
    if (requireDisjoint) {
      // probe the docids SIDECAR, never the gram table: the sidecar is
      // one row per doc, so the per-micro-batch cost of the contract
      // check is O(n_docs), not a full scan of the ~|tokens|-sized index
      // (gramIngest pays this on every batch)
      val clash = readDocIds(s, dir)
        .join(broadcast(newIds), Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        "GramIndex.append batch overlaps the indexed corpus (doc_ids " +
          "must be NEW); an overlapping append would double-count a " +
          "doc's grams and mis-attribute contamination")
    }
    // docids land FIRST: a crash anywhere after this line makes a replay
    // of the same batch trip the disjointness check LOUDLY (the operator
    // resolves the partial append), never silently double-append grams —
    // the same detect-on-retry contract the old gram-table probe gave
    newIds.write.mode("append").parquet(s"$dir/docids")
    gramRows(docs, id, text, n, buckets)
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/grams")
    val nNew = newIds.count()
    val merged = s.read.parquet(s"$dir/stats")
      .select(col("n"), col("buckets"), (col("n_docs") + lit(nNew)).as("n_docs"))
    swapWrite(s, s"$dir/stats") { tmp =>
      merged.write.mode("overwrite").parquet(tmp)
    }
  }

  /** Takedown: O(|ids|) tombstones; every probe drops the docs' rows
    * immediately, [[merge]] reclaims the space later. */
  def delete(ids: DataFrame, idCol: Column, dir: String): Unit =
    graft.sources.Tombstones.add(ids, idCol, dir)

  /** Scheduled compaction: apply tombstones physically, rewriting ONLY
    * the bucket dirs that hold a deleted doc's rows (crash-safe
    * per-bucket swaps via [[graft.sources.Tombstones.rewriteLive]]),
    * refresh `n_docs`, clear the tombstones. */
  def merge(s: SparkSession, dir: String): Unit = {
    healIndex(s, dir)
    graft.sources.Tombstones.healPartitions(s, s"$dir/grams")
    graft.sources.Tombstones.ids(s, dir).foreach { tomb =>
      val grams = readGrams(s, dir)
      val touched = grams.join(tomb, col("doc_id") === tomb("id"), "left_semi")
        .select(col("bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      touched.foreach { b =>
        graft.sources.Tombstones.rewriteLive(s, s"$dir/grams/bucket=$b",
          df => df.join(tomb, col("doc_id") === tomb("id"), "left_anti"))
      }
      // the docids sidecar forgets the docs too — it is the disjointness
      // membership set, and a taken-down id must become re-appendable
      graft.sources.Tombstones.rewriteLive(s, s"$dir/docids",
        df => df.join(tomb, col("doc_id") === tomb("id"), "left_anti"))
      // n_docs RECOMPUTED from the rewritten sidecar, not decremented
      // from a pre-rewrite count: a crash mid-rewrite re-runs merge, and
      // a delta computed then would miss docs whose buckets already
      // rewrote — recomputation is idempotent (the Lexical.mergeIndex
      // discipline). Counting docids (not distinct gram doc_ids) keeps
      // the write/append/merge definitions identical: a doc whose text
      // tokenizes to no gram row (NULL text) is still an indexed doc.
      val nLive = readDocIds(s, dir).distinct().count()
      val merged = s.read.parquet(s"$dir/stats")
        .select(col("n"), col("buckets"), lit(nLive).as("n_docs"))
      swapWrite(s, s"$dir/stats") { tmp =>
        merged.write.mode("overwrite").parquet(tmp)
      }
      graft.sources.Tombstones.clear(s, dir)
    }
  }

  // --- probes -------------------------------------------------------------

  /** Shared probe preamble: heal, read the gram table with the probe's
    * bucket ids as PartitionFilters (≤ buckets values — collected from a
    * probe-bounded distinct, never the lake), tombstones dropped. */
  private def prunedLive(s: SparkSession, dir: String, probeGrams: DataFrame,
      buckets: Int): DataFrame = {
    graft.sources.Tombstones.healPartitions(s, s"$dir/grams")
    val bIds = probeGrams
      .select(pmod(col("g"), lit(buckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0))
    val read = readGrams(s, dir)
    val pruned =
      if (bIds.length < buckets) read.filter(col("bucket").isin(bIds.map(Long.box): _*))
      else read
    graft.sources.Tombstones.dropDeleted(pruned, col("doc_id"), dir)
  }

  /** [[Dedup.memorizationRate]] answered from the index: per probe doc,
    * the fraction of its positional width-n gram windows present
    * anywhere in the indexed lake. Same output schema/ordering; shares
    * `eval_memorization`'s oracle. The lake-side distinct reduction the
    * in-plan operator pays per audit is replaced by a bucket-pruned
    * index read; the only aggregates are probe-bounded (matched grams ⊆
    * probe grams → broadcast back over the probe's positions). */
  def memorizationRateFromIndex(probe: DataFrame, id: Column, text: Column,
      dir: String): DataFrame = {
    val s = probe.sparkSession
    val (n, buckets) = readStats(s, dir)
    val pr = probe.select(id.as("doc_id"), tokens(text).as("toks"))
      .filter(size(col("toks")) >= n)
    // positional grams — each window is one trial, duplicates count
    val prG = pr.select(col("doc_id"),
      explode(TextExpressions.shingleHashSeq(s, col("toks"), n)).as("g"))
    val probeSet = prG.select("g").distinct()
    // lake scan (pruned) probed BY the broadcast probe set — the lake is
    // never aggregated; matched ⊆ probe set, so it broadcasts back
    val matched = prunedLive(s, dir, probeSet, buckets)
      .join(broadcast(probeSet), Seq("g"), "left_semi")
      .select("g").distinct()
      .withColumn("__hit", lit(1L))
    prG.join(broadcast(matched), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_memorized"))
      .select(col("doc_id"), col("n_grams"), col("n_memorized"),
        (col("n_memorized").cast("double") / col("n_grams").cast("double"))
          .as("memorization_rate"))
      .orderBy("doc_id")
  }

  /** Indexed-lake doc ids sharing ≥ `minOverlap` distinct width-n grams
    * with the held-out set — [[Curation.decontaminate]]'s membership
    * probe served from the index (train corpus never re-tokenized).
    * Index rows are per-doc-distinct, so `count(*)` over matched rows IS
    * the distinct-overlap count, same as the in-plan probe. */
  def contaminatedIdsFromIndex(test: DataFrame, text: Column,
      dir: String, minOverlap: Long = 1L): DataFrame = {
    require(minOverlap >= 1L, s"minOverlap >= 1, got $minOverlap")
    val s = test.sparkSession
    val (n, buckets) = readStats(s, dir)
    val testSh = test
      .select(explode(TextExpressions.shingleHashes(s, tokens(text), n)).as("g"))
      .distinct()
    val matched = prunedLive(s, dir, testSh, buckets)
      .join(broadcast(testSh), Seq("g"), "left_semi")
    if (minOverlap == 1L) matched.select("doc_id").distinct()
    else matched.groupBy("doc_id")
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select("doc_id")
  }

  /** The REVERSED probe direction: which of `docs` (an arriving ingest
    * batch) share ≥ `minOverlap` distinct grams with the INDEXED corpus
    * (a benchmark/eval set indexed once at its publication) — the
    * never-train-on-eval admission gate. Returns `docs` minus the
    * contaminated. The benchmark side is eval-sized by nature, so its
    * live gram set broadcasts; the batch is exploded once. */
  def decontamGateFromIndex(docs: DataFrame, id: Column, text: Column,
      benchmarkDir: String, minOverlap: Long = 1L): DataFrame = {
    require(minOverlap >= 1L, s"minOverlap >= 1, got $minOverlap")
    val s = docs.sparkSession
    val (n, _) = readStats(s, benchmarkDir)
    graft.sources.Tombstones.healPartitions(s, s"$benchmarkDir/grams")
    val bench = graft.sources.Tombstones.dropDeleted(
        readGrams(s, benchmarkDir), col("doc_id"), benchmarkDir)
      .select("g").distinct()
    val docSh = docs.select(id.as("__gid"),
      explode(TextExpressions.shingleHashes(s, tokens(text), n)).as("g"))
    val contaminated = docSh
      .join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy("__gid").agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select("__gid")
    docs.join(contaminated, id === col("__gid"), "left_anti")
  }

  /** The strip face over an indexed lake: live indexed doc ids minus the
    * contaminated — equals [[Curation.decontaminate]] on the same corpus
    * split (shares `curate_decontam`'s oracle). `train` supplies the
    * id universe (the survivors relation is over the lake TABLE, not the
    * index — the index only decides membership). */
  def decontaminateFromIndex(train: DataFrame, test: DataFrame, id: Column,
      text: Column, dir: String): DataFrame =
    train.select(id.as("doc_id"))
      .join(contaminatedIdsFromIndex(test, text, dir), Seq("doc_id"), "left_anti")

  /** The measured face ([[Curation.decontamReport]]) from the index:
    * per-source doc counts, contaminated counts, rate — same output,
    * same oracle, train corpus re-read only for its (id, group) columns
    * (column-pruned scan), never re-tokenized. */
  def decontamReportFromIndex(train: DataFrame, test: DataFrame, id: Column,
      group: Column, text: Column, dir: String): DataFrame = {
    val contaminated = contaminatedIdsFromIndex(test, text, dir)
      .withColumn("__hit", lit(1L))
    train.select(id.as("doc_id"), group.as("source"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .as("contamination_rate"))
      .orderBy("source")
  }

  // --- named queries -------------------------------------------------------

  // The named queries serve per-JVM indexes over the immutable testdata
  // dirs, built once through Scratch.dir: the benched number is the
  // SERVING path.

  private def isTest: Column =
    graft.functions.HashFunctions.md5Bucket16(col("doc_id")) === "0"

  /** The takedown set for `eval_memorization_idx_del` — the two lake
    * docs contributing the MOST memorized windows at sf0.01 (86 and 76
    * probe-gram hits), so the delete visibly moves the audited rates
    * while four other contributing docs keep the result non-trivial. */
  val MemDeletedDocIds: Seq[Long] = Seq(301L, 8L)

  private def memIdx(s: SparkSession, d: String): String =
    Scratch.dir(s, s"grammem|$d") { tmp =>
      write(Tables.documents(s, d).filter(!isTest), col("doc_id"), col("text"),
        s"$tmp/idx", n = 8)
      s"$tmp/idx"
    }

  private def decIdx(s: SparkSession, d: String): String =
    Scratch.dir(s, s"gramdec|$d") { tmp =>
      write(Tables.documents(s, d).filter(!isTest), col("doc_id"), col("text"),
        s"$tmp/idx", n = 5)
      s"$tmp/idx"
    }

  /** A SEPARATE index (never the shared [[memIdx]] — tombstones would
    * leak into `eval_memorization_idx`) with [[MemDeletedDocIds]]
    * tombstoned but not merged: the liveDocs serving state. */
  private def memDelIdx(s: SparkSession, d: String): String =
    Scratch.dir(s, s"grammemdel|$d") { tmp =>
      write(Tables.documents(s, d).filter(!isTest), col("doc_id"), col("text"),
        s"$tmp/idx", n = 8)
      import s.implicits._
      delete(MemDeletedDocIds.toDF("doc_id"), col("doc_id"), s"$tmp/idx")
      s"$tmp/idx"
    }

  /** [[Dedup.evalMemorizationQ]] served from the at-rest gram index —
    * SAME oracle, so the whole build/append/probe path is hash-checked
    * against the in-plan formulation. */
  def evalMemorizationIdxQ(s: SparkSession, d: String): DataFrame =
    memorizationRateFromIndex(Tables.documents(s, d).filter(isTest),
      col("doc_id"), col("text"), memIdx(s, d))

  /** The audit AFTER a takedown, tombstones un-merged: deleted lake
    * docs' grams stop counting as memorized immediately (the oracle
    * recomputes the reference gram set over the lake MINUS the deleted
    * ids — any residue of their rows would hash-mismatch). */
  def evalMemorizationIdxDelQ(s: SparkSession, d: String): DataFrame =
    memorizationRateFromIndex(Tables.documents(s, d).filter(isTest),
      col("doc_id"), col("text"), memDelIdx(s, d))

  /** [[Curation.curateDecontam]] served from the at-rest gram index —
    * same oracle. */
  def curateDecontamIdxQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    decontaminateFromIndex(docs.filter(!isTest), docs.filter(isTest),
      col("doc_id"), col("text"), decIdx(s, d))
      .orderBy("doc_id")
  }

  /** [[Curation.curateDecontamReport]] served from the index — same
    * oracle (and the same cached n=5 index as the strip face). */
  def curateDecontamReportIdxQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    decontamReportFromIndex(docs.filter(!isTest), docs.filter(isTest),
      col("doc_id"), col("source"), col("text"), decIdx(s, d))
  }

  /** [[Curation.curateDecontamK]] (≥2-shared-shingles threshold) served
    * from the same cached n=5 index — same oracle. */
  def curateDecontamKIdxQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.filter(!isTest).select(col("doc_id"))
      .join(contaminatedIdsFromIndex(docs.filter(isTest), col("text"),
        decIdx(s, d), minOverlap = 2L), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "eval_memorization_idx" -> evalMemorizationIdxQ,
    "eval_memorization_idx_del" -> evalMemorizationIdxDelQ,
    "curate_decontam_idx" -> curateDecontamIdxQ,
    "curate_decontam_k_idx" -> curateDecontamKIdxQ,
    "curate_decontam_report_idx" -> curateDecontamReportIdxQ)

  /** Oracle SQL SHARED with the in-plan formulations — bit-for-bit the
    * same strings, the `search_bm25_idx` pattern. The `_del` oracle is
    * the same audit with the takedown ids excluded from the lake side. */
  val oracleSql: Map[String, String] = Map(
    "eval_memorization_idx" -> Dedup.oracleSql("eval_memorization"),
    "eval_memorization_idx_del" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_test
           FROM documents),
         rg AS (SELECT DISTINCT array_to_string(toks[pos:pos+7], ' ') AS gram
               FROM (SELECT toks, unnest(range(1, len(toks) - 6)) AS pos
                     FROM t WHERE NOT is_test AND len(toks) >= 8
                       AND doc_id NOT IN (${MemDeletedDocIds.mkString(", ")}))),
         pg AS (SELECT doc_id, array_to_string(toks[pos:pos+7], ' ') AS gram
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS pos
                     FROM t WHERE is_test AND len(toks) >= 8))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN gram IN (SELECT gram FROM rg)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_memorized,
           CAST(sum(CASE WHEN gram IN (SELECT gram FROM rg)
             THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS memorization_rate
         FROM pg GROUP BY doc_id ORDER BY doc_id""",
    "curate_decontam_idx" -> Curation.oracleSql("curate_decontam"),
    "curate_decontam_k_idx" -> Curation.oracleSql("curate_decontam_k"),
    "curate_decontam_report_idx" -> Curation.oracleSql("curate_decontam_report"))
}
