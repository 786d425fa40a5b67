package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.{TextExpressions, VectorKernels}
import graft.functions.VectorExpressions.fusedCosine

/** The generic retrieval API — the reference's four search modes
  * (`/root/reference/search_with_segments.py`, `app.py:296-321`) as
  * functions over ARBITRARY corpora, so a user can point them at their own
  * tables; [[Retrieval]]'s named queries are thin oracle-checked bindings.
  *
  * Conventions: `query` is a one-row DataFrame holding the query vector in
  * column `qv` (broadcast everywhere — with a query BATCH the crossJoins
  * become broadcast joins keyed by a query id, same plans). Every top-k is
  * `orderBy(score desc, tie asc).limit(k)` ⇒ TakeOrderedAndProject (a
  * per-partition k-heap + driver merge, the shape ES uses per shard).
  */
object Search {

  /** Hard ceiling on [[mmrRerank]]'s candidate pool. The greedy MMR pass
    * holds the pool's vectors and relevance list AND its poolN² pairwise
    * similarity matrix on the driver; 1000² = 10⁶ pairs is a bounded index-scale
    * artifact, but an unchecked caller value (e.g. 10⁵ → 10¹⁰ pairs) is a
    * driver OOM. Servers clamp request-derived pools to this before
    * calling ([[Retrieval.run]]); direct callers hit the `require`. */
  val MaxMmrPool = 1000

  /** Q1 — brute-force cosine kNN: one narrow corpus scan, fused-codegen
    * scoring, tournament top-k. `offset` reproduces the reference's
    * `cos + 1.0` calibration. */
  def knnBrute(corpus: DataFrame, vec: Column, query: DataFrame, k: Int,
      tie: Column, offset: Double = 0.0): DataFrame = {
    val s = corpus.sparkSession
    corpus.crossJoin(broadcast(query))
      .withColumn("score", fusedCosine(s, vec, col("qv")) + lit(offset))
      .orderBy(desc("score"), tie.asc).limit(k)
      .drop("qv")
  }

  /** MMR diversified re-rank (maximal marginal relevance) — the standard
    * diversity pass over a retrieved pool: greedily pick
    * argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), so near
    * duplicates of an already-selected hit are pushed down in favor of
    * relevant-but-different results.
    *
    * Distribution boundary, stated plainly: the candidate pool (top
    * `poolN` by rounded relevance) is computed DISTRIBUTED and collected
    * once, vectors included; its `poolN`² pairwise similarity matrix is
    * then computed on the driver with `graft_cosine`'s own kernel
    * ([[graft.functions.VectorKernels.cosine]], so the same bits as the
    * SQL function), and the greedy selection, inherently sequential
    * (selection i depends on 1..i−1), runs there over that bounded
    * index-scale artifact — the same rule as the serving edge's ≤k
    * collect and the codebook artifacts. All inputs to the greedy are
    * 6-decimal-rounded (`r6` is Spark's `round(x, 6)` on doubles) with
    * doc-id tiebreaks, so the selection is deterministic and the DuckDB
    * oracle replays it exactly with a recursive CTE. */
  def mmrRerank(corpus: DataFrame, id: Column, vec: Column, query: DataFrame,
      poolN: Int = 20, k: Int = 10, lambda: Double = 0.7,
      // the diversity weight is an EXPLICIT parameter, not 1−λ computed
      // at runtime: (1.0 − 0.7) is 0.30000000000000004, a different
      // double from the oracle's 0.3 literal — exactly the class of
      // boundary hazard the 6-decimal rounding convention exists to kill
      diversity: Double = 0.3): DataFrame = {
    require(k >= 1 && k <= poolN, s"need 1 <= k <= poolN, got k=$k poolN=$poolN")
    require(poolN <= MaxMmrPool,
      s"poolN=$poolN exceeds MaxMmrPool=$MaxMmrPool (poolN^2 sim pairs are held on the driver)")
    val s = corpus.sparkSession
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pool = corpus.crossJoin(broadcast(query))
      .select(id.as("vec_id"), vec.as("v"),
        round(fusedCosine(s, vec, col("qv")), 6).as("rel"))
      .orderBy(desc("rel"), asc("vec_id")).limit(poolN)
      .select(col("vec_id"), col("v").cast("array<double>"), col("rel")) // exact widening
      .collect()
    val rel = pool.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val vecs = pool.map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val sims = (for ((ia, va) <- vecs; (ib, vb) <- vecs)
      yield (ia, ib) -> r6(VectorKernels.cosine(va, vb))).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ rel.keys
    while (selected.size < k && remaining.nonEmpty) {
      val pick =
        if (selected.isEmpty)
          remaining.map(d => d -> rel(d)).toSeq
            .maxBy { case (d, sc) => (sc, -d) } // rel desc, id asc
        else
          remaining.map { d =>
            val worst = selected.map { case (sid, _) => sims((d, sid)) }.max
            d -> r6(lambda * rel(d) - diversity * worst)
          }.toSeq.maxBy { case (d, sc) => (sc, -d) }
      selected += pick
      remaining -= pick._1
    }
    import s.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id0, sc), i) => (i + 1L, id0, sc) }
      .toDF("rank", "vec_id", "mmr_score")
  }

  /** IVF kNN: assign every vector to its nearest centroid, probe the
    * `nprobe` centroids closest to the query, brute-force only vectors in
    * probed clusters.
    *
    * The codebook is an index artifact — small by construction (≈√N lists
    * even at lake scale), so it is collected once and the per-row argmax
    * runs as ONE fused expression over the literal codebook
    * ([[graft.functions.VectorExpressions.NearestCentroidExpr]]). The
    * corpus is never shuffled: scan → assign (per-row, codegen) → probe
    * filter → score → TakeOrdered, asserted by `SearchSpec`'s plan test.
    * (The previous formulation — crossJoin(centroids) + a row_number
    * window keyed by vector id — pushed N·C rows through a hash Exchange
    * just to pick each row's argmax; at 100× that Exchange IS the query.)
    * The probe is resolved driver-side over the same codebook and becomes
    * an `isin` filter — against a cluster-partitioned layout that is
    * literal partition pruning (`IvfLayoutSpec`). */
  def knnIvf(corpus: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, // (cid: long-castable, c: vector)
      query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val s = corpus.sparkSession
    val book = collectCodebook(centroids)
    val qv = query.select(col("qv").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    // Probe selection = the oracle's ORDER BY cos DESC, cid LIMIT nprobe,
    // computed over the already-collected codebook.
    val probed = book.map { case (cid, c) => (cid, cosArr(c, qv)) }
      .sortBy { case (cid, qcos) => (-qcos, cid) }
      .take(nprobe).map(_._1).toSeq
    corpus
      .withColumn("cluster", graft.functions.VectorExpressions.nearestCentroid(
        s, vec, book.map(_._1).toSeq, book.map(_._2.toSeq).toSeq))
      .filter(col("cluster").isin(probed: _*))
      .crossJoin(broadcast(query))
      .withColumn("score", fusedCosine(s, vec, col("qv")))
      .orderBy(desc("score"), id.asc).limit(k)
      .drop("qv")
  }

  /** Materialize the IVF index AT REST: assign each corpus row to its
    * nearest centroid (same fused argmax as [[knnIvf]], zero shuffle) and
    * write the corpus parquet PARTITIONED BY cluster. This is the 100 TB
    * form of the index: the assignment happens once at write time, and a
    * probe's cluster filter becomes literal partition pruning — unprobed
    * clusters' files are never opened (`IvfLayoutSpec` asserts
    * PartitionFilters + numFiles). */
  def writeIvfIndex(corpus: DataFrame, vec: Column,
      centroids: DataFrame, // (cid: long-castable, c: vector)
      path: String): Unit =
    writeIvf(corpus, vec, centroids, path, org.apache.spark.sql.SaveMode.ErrorIfExists)

  /** One writer for both the initial build ([[writeIvfIndex]]) and the
    * streaming append ([[appendToIvfIndex]]) — the assignment expression
    * MUST be identical or the batch-built and streamed layouts silently
    * diverge. */
  private def writeIvf(corpus: DataFrame, vec: Column, centroids: DataFrame,
      path: String, mode: org.apache.spark.sql.SaveMode): Unit = {
    val s = corpus.sparkSession
    val book = collectCodebook(centroids)
    corpus
      .withColumn("cluster", graft.functions.VectorExpressions.nearestCentroid(
        s, vec, book.map(_._1).toSeq, book.map(_._2.toSeq).toSeq))
      // cluster rows before the partitioned write: without it every
      // upstream task opens a file in every cluster dir it has rows for
      // (tasks × clusters tiny files — the guide-§6 small-files bug,
      // paid again by every probe's scan); clustered, each cluster dir
      // holds one file per owning task (r20)
      .repartition(col("cluster"))
      .write.mode(mode).partitionBy("cluster").parquet(path)
  }

  /** Append a batch of vectors into a [[writeIvfIndex]] layout (creating
    * it if absent): same fused literal-codebook assignment, `Append`
    * mode — new files land inside their cluster partition dirs and
    * existing files are never rewritten. Unlike the lexical index (whose
    * df/stats must be recombined on every append,
    * [[Lexical.appendToIndex]]), this layout carries NO derived global
    * state, so append IS the whole maintenance story: a probe's
    * partition pruning reads old and new files alike, and the codebook
    * stays frozen between periodic re-trains (the faiss add-vs-train
    * split). */
  def appendToIvfIndex(batch: DataFrame, vec: Column,
      centroids: DataFrame, path: String): Unit =
    writeIvf(batch, vec, centroids, path, org.apache.spark.sql.SaveMode.Append)

  /** kNN over a [[writeIvfIndex]] layout: resolve the probe driver-side
    * over the codebook, filter the indexed corpus by probed clusters (a
    * partition filter — file skipping, not row filtering), brute-force
    * only what survives. Matches [[knnIvf]]'s results for the same
    * codebook; the difference is WHERE the assignment ran (write time vs
    * in-plan). */
  def knnIvfIndexed(s: SparkSession, indexPath: String, vec: Column,
      centroids: DataFrame, query: DataFrame, nprobe: Int, k: Int,
      tie: Column, filter: Option[Column] = None): DataFrame = {
    val book = collectCodebook(centroids)
    val qv = query.select(col("qv").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val probed = book.map { case (cid, c) => (cid, cosArr(c, qv)) }
      .sortBy { case (cid, qcos) => (-qcos, cid) }
      .take(nprobe).map(_._1).toSeq
    // a compaction crash may have left a partition vacated — reunite
    // before reading (one root readdir; no-op in the common case)
    graft.sources.Tombstones.healPartitions(s, indexPath)
    // Filtered ANN: a metadata predicate composes with the probe by
    // landing directly on the pruned scan — the partition filter skips
    // unprobed clusters' FILES, the pushed parquet predicate skips
    // non-matching ROW GROUPS inside the probed ones, and only survivors
    // are scored (`IvfLayoutSpec` asserts both reach the scan). The
    // probe set is chosen by the query alone (standard post-filter ANN
    // semantics): a highly selective predicate wants a larger `nprobe`,
    // which `annRecall`-style instrumentation tunes.
    //
    // The read targets the PROBED cluster dirs (basePath keeps the
    // partition column), not the table root: a root read pays partition
    // DISCOVERY over all k dirs per request, and with the k ∝ N rule
    // that listing grows with the corpus — measured 3.2 s of a 3.6 s
    // probe at 100× (r20). Listing nprobe dirs is O(probe), the same
    // contract as the lexical index's bucket-pruned read; a probed
    // cluster that never received rows (no dir) is skipped via one
    // existence stat per probed id. Tombstone filtering is unchanged.
    val fsys = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = probed.map(c => s"$indexPath/cluster=$c")
      .filter(p => fsys.exists(new org.apache.hadoop.fs.Path(p)))
    val scan = (if (dirs.isEmpty) s.read.parquet(indexPath)
                else s.read.option("basePath", indexPath).parquet(dirs: _*))
      .filter(col("cluster").isin(probed: _*))
    // `tie` doubles as the row id (it is in every binding and spec):
    // takedown tombstones ([[deleteFromIvfIndex]]) key on it, and the
    // anti-join costs nothing when the index has no deletes
    graft.sources.Tombstones.dropDeleted(
        filter.foldLeft(scan)(_.filter(_)), tie, indexPath)
      .crossJoin(broadcast(query))
      .withColumn("score", fusedCosine(s, vec, col("qv")))
      .orderBy(desc("score"), tie.asc).limit(k)
      .drop("qv")
  }

  /** Takedown: mark `idCol` of `ids` deleted in a [[writeIvfIndex]]
    * layout. O(|ids|) — no cluster file is rewritten; [[knnIvfIndexed]]
    * excludes the ids immediately and [[compactIvfIndex]] reclaims the
    * space on schedule (the Lucene liveDocs / Delta deletion-vector
    * split). Unlike the lexical index there is no derived global state,
    * so the tombstone IS the whole delete. */
  def deleteFromIvfIndex(ids: DataFrame, idCol: Column, path: String): Unit =
    graft.sources.Tombstones.add(ids, idCol, path)

  /** Apply accumulated tombstones physically: rewrite ONLY the cluster
    * partitions that actually contain deleted rows (one pruned scan
    * finds them — the touched set is bounded by k clusters, a driver
    * artifact), each through the crash-safe swap-with-straddle-carry of
    * [[graft.sources.Tombstones.rewriteLive]], then drop the tombstone
    * store. Crash anywhere → tombstones remain → probes stay correct and
    * the re-run is idempotent (anti-join of already-rewritten partitions
    * removes nothing). `id` must be the column [[deleteFromIvfIndex]]
    * keyed on. */
  def compactIvfIndex(s: SparkSession, path: String, id: Column,
      onStep: String => Unit = _ => ()): Unit = {
    graft.sources.Tombstones.healPartitions(s, path)
    graft.sources.Tombstones.ids(s, path).foreach { tomb =>
      val touched = s.read.parquet(path)
        .join(tomb, id === tomb("id"), "left_semi")
        .select(col("cluster").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      touched.foreach { c =>
        graft.sources.Tombstones.rewriteLive(s, s"$path/cluster=$c",
          df => df.join(tomb, id === tomb("id"), "left_anti"), onStep)
      }
      graft.sources.Tombstones.clear(s, path)
    }
  }

  /** Re-train the IVF codebook on the GROWN corpus and migrate the
    * at-rest layout to it — the batch half of the faiss add-vs-train
    * split that [[appendToIvfIndex]]/`Streams.ivfIngest` deliberately
    * defer: appends freeze the codebook, so after enough growth the
    * cluster balance drifts and a periodic re-train rebuilds the layout.
    *
    * Protocol (the [[graft.sources.Compact.compactParquet]] swap
    * discipline, extended with a catch-up loop for concurrent appends):
    *
    *  1. snapshot the index's data-file listing; train a fresh codebook
    *     on exactly that snapshot ([[kmeansTrain]] — deterministic, so
    *     re-train ≡ fresh build on the same rows, `SearchSpec` pins it);
    *  2. write the re-assigned snapshot to a sibling staging dir
    *     (durable before anything moves);
    *  3. CATCH-UP: re-list; any files appended since the snapshot are
    *     read back, re-assigned under the NEW codebook, and appended to
    *     staging; repeat until a listing shows no delta;
    *  4. copy the `_batch_*` replay markers (including ones that arrived
    *     during catch-up) into staging, so a streaming source's replayed
    *     batch is still recognized AFTER the migration — caught-up rows
    *     must not be re-appended by a checkpoint replay ("not doubled");
    *     takedown tombstones split the same way: ids deleted BEFORE the
    *     snapshot are APPLIED (the rewrite is their compaction, and the
    *     new codebook must not train on deleted vectors), while
    *     tombstone files arriving DURING the migration are carried over
    *     unapplied for a later [[compactIvfIndex]];
    *  5. swap: rename(path → __old) · final catch-up pass over __old
    *     (an append racing the rename moves WITH the directory, so its
    *     files surface in __old's listing and are carried over — "not
    *     lost") · rename(staging → path) · delete(__old). A crash
    *     between the renames self-heals on the next call, same as
    *     Compact.
    *
    * Residual boundary, stated plainly: an append that STARTS after the
    * vacate rename finds no table directory and fails — its source
    * retries the batch after the swap (the marker protocol makes the
    * retry exact-once), but it will still assign with the codebook it
    * froze at stream start. Migration therefore pairs with a stream
    * restart, exactly as faiss pairs re-train with index reload; the
    * window is two O(1) metadata renames, not the rewrite.
    *
    * `onStep` is the same test seam as Compact's: `SearchSpec` injects an
    * old-codebook append at "staged" and asserts the rows survive the
    * migration exactly once under the new codebook.
    *
    * Returns the new centroids (cid, c) for callers to serve probes with. */
  def retrainIvfIndex(s: SparkSession, indexPath: String, id: Column,
      vec: Column, k: Int, iters: Int = 10,
      onStep: String => Unit = _ => ()): DataFrame = {
    import org.apache.hadoop.fs.Path
    val pathP = new Path(indexPath)
    val f = pathP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val oldP = new Path(s"${indexPath}__retrain_old")
    val tmpP = new Path(s"${indexPath}__retrain_staging")
    // self-heal a crash between the swap renames (Compact discipline)
    if (!f.exists(pathP) && f.exists(oldP)) f.rename(oldP, pathP)
    f.delete(tmpP, true)
    f.delete(oldP, true)
    def dataFiles(root: Path): Set[String] = {
      val qRoot = f.makeQualified(root).toString // listFiles returns qualified URIs
      val it = f.listFiles(root, true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val st = it.next()
        // store PATH RELATIVE to the root so the same file is
        // recognized across the path → __old rename; skip a file when
        // ANY component is underscore/dot-prefixed — Spark's own listing
        // hides those directories (e.g. `_tombstones/part-*.parquet`
        // holds deleted ids, not vectors), and a recursive listFiles
        // descends into them where listStatus would not
        val rel = st.getPath.toString.stripPrefix(qRoot)
        val hidden = rel.split('/').exists(c =>
          c.startsWith("_") || c.startsWith("."))
        if (st.isFile && !hidden) out += rel
      }
      out.toSet
    }
    def readFiles(root: Path, rel: Set[String]): DataFrame = {
      val qRoot = f.makeQualified(root).toString
      s.read.option("basePath", qRoot)
        .parquet(rel.toSeq.sorted.map(r => qRoot + r): _*)
        .drop("cluster") // re-assignment replaces the old partition value
    }
    // Tombstone split: ids deleted BEFORE the snapshot are APPLIED here —
    // the re-train rewrite is their natural compaction (and the new
    // codebook must not learn deleted vectors); tombstone FILES that
    // arrive during the migration are CARRIED into the new layout
    // unapplied (probes keep filtering them; a later compactIvfIndex
    // reclaims), exactly mirroring how data appends are caught up.
    val tombRoot = new Path(graft.sources.Tombstones.dir(indexPath))
    def tombFiles(base: Path): Set[String] = {
      val d = new Path(base, graft.sources.Tombstones.DirName)
      if (!f.exists(d)) Set.empty
      else f.listStatus(d).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        .map(_.getPath.getName).toSet
    }
    val tomb0 = tombFiles(pathP)
    val applied: Option[DataFrame] =
      if (tomb0.isEmpty) None
      else Some(s.read.schema(graft.sources.Tombstones.Schema).parquet(tomb0.toSeq.sorted
        .map(n => s"${tombRoot}/$n"): _*).distinct())
    def dropApplied(df: DataFrame): DataFrame = applied match {
      case Some(t) => df.join(t, id === t("id"), "left_anti")
      case None => df
    }
    var seen = dataFiles(pathP)
    val snapshot = dropApplied(readFiles(pathP, seen))
    val newCents = kmeansTrain(snapshot, id, vec, k, iters)
      .localCheckpoint() // train ONCE; both writes below reuse the result
    writeIvf(snapshot, vec, newCents, tmpP.toString,
      org.apache.spark.sql.SaveMode.ErrorIfExists)
    onStep("staged")
    // catch-up loop: appends that landed while we trained/staged
    def catchUp(root: Path): Unit = {
      var delta = dataFiles(root) -- seen
      while (delta.nonEmpty) {
        writeIvf(readFiles(root, delta), vec, newCents, tmpP.toString,
          org.apache.spark.sql.SaveMode.Append)
        seen ++= delta
        delta = dataFiles(root) -- seen
      }
    }
    catchUp(pathP)
    // carry the replay markers (empty files, named _batch_<id>) across
    // the migration — a replayed batch must stay recognized
    f.listStatus(pathP).filter(_.getPath.getName.startsWith("_batch_"))
      .foreach { st => f.create(new Path(tmpP, st.getPath.getName), true).close() }
    // carry tombstone files that arrived AFTER the applied snapshot —
    // a takedown racing the migration must not be lost (real copy:
    // parquet parts, content matters, and the source dir still serves)
    def carryTombs(base: Path): Unit =
      (tombFiles(base) -- tomb0).foreach { n =>
        val dst = new Path(new Path(tmpP, graft.sources.Tombstones.DirName), n)
        if (!f.exists(dst))
          org.apache.hadoop.fs.FileUtil.copy(f,
            new Path(new Path(base, graft.sources.Tombstones.DirName), n),
            f, dst, false, s.sparkContext.hadoopConfiguration)
      }
    carryTombs(pathP)
    onStep("prepared")
    f.rename(pathP, oldP)
    onStep("vacated")
    // final pass: an append racing the vacate rename moved with the dir
    catchUp(oldP)
    f.listStatus(oldP).filter(_.getPath.getName.startsWith("_batch_"))
      .foreach { st =>
        val m = new Path(tmpP, st.getPath.getName)
        if (!f.exists(m)) f.create(m, true).close()
      }
    carryTombs(oldP)
    f.rename(tmpP, pathP)
    onStep("swapped")
    f.delete(oldP, true)
    newCents
  }

  private def collectCodebook(centroids: DataFrame): Array[(Long, Array[Double])] =
    centroids.select(col("cid").cast("long"), col("c").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) Double.NegativeInfinity else dot / d
  }

  /** SRP-LSH kNN: hyperplane signatures banded `bands`×(nbits/bands) bits;
    * candidates share ≥1 band with the query; exact cosine only on
    * candidates. Recall grows with band count, precision with band width. */
  def knnLsh(corpus: DataFrame, id: Column, vec: Column, query: DataFrame,
      k: Int, nbits: Int = 64, bands: Int = 8): DataFrame = {
    val s = corpus.sparkSession
    val width = nbits / bands
    def banded(df: DataFrame, sig: Column): DataFrame =
      // numeric band key ([[TextFunctions.packedBandKeys]]) — 8 bytes
      // through the semi-join, no per-row string building
      df.withColumn("band", explode(array(
        graft.functions.TextFunctions.packedBandKeys(sig, bands, width): _*)))
    val e = corpus.select(id.as("__vid"), vec.as("__v"))
      .withColumn("sig", TextExpressions.hyperplaneSig(s, col("__v"), nbits))
    val qBands = banded(query
      .withColumn("sig", TextExpressions.hyperplaneSig(s, col("qv"), nbits)), col("sig"))
      .select("band")
    // Candidate dedup carries 8-byte ids ONLY — the embeddings never cross
    // an exchange: band hits dedup on __vid (map-side partial combine eats
    // the per-band duplication before the shuffle), the deduped id set
    // broadcasts back, and scoring re-scans the corpus through a broadcast
    // semi-join probe (a second narrow scan beats shuffling dim-sized
    // vectors at 100 TB; the candidate set is band-selectivity-bounded —
    // the same order as the scoring work itself, so broadcast-safe for any
    // sane band config).
    val candIds = banded(e.select("__vid", "sig"), col("sig"))
      .join(broadcast(qBands), Seq("band"), "left_semi")
      .select("__vid").distinct()
    e.select("__vid", "__v")
      .join(broadcast(candIds), Seq("__vid"), "left_semi")
      .crossJoin(broadcast(query))
      .withColumn("score", fusedCosine(s, col("__v"), col("qv")))
      .orderBy(desc("score"), asc("__vid")).limit(k)
      .select(col("__vid").as("id"), col("score"))
  }

  /** Distributed spherical k-means (Lloyd's) — the codebook TRAINER the
    * IVF path was missing ([[knnIvf]]/[[writeIvfIndex]] take centroids as
    * input; this produces them from the corpus itself). Each round is one
    * job with no corpus shuffle beyond the aggregate:
    *
    *  - ASSIGN: cosine-argmax against the current codebook riding the
    *    plan as a foldable literal
    *    ([[graft.functions.VectorExpressions.NearestCentroidExpr]] —
    *    per-row, codegen'd, zero shuffle);
    *  - UPDATE: element-wise [[graft.functions.VectorMeanDouble]] per
    *    cluster — map-side partial aggregation means the shuffle carries
    *    one dim-sized buffer per (cluster, partition), not vectors;
    *  - the k new centroids collect to the driver (an index artifact,
    *    ≈√N lists even at lake scale — same justification as the probe
    *    codebook).
    *
    * Deterministic: init = the k corpus rows with smallest `xxhash64(id)`
    * (reproducible pseudo-random, TakeOrdered not full sort), no RNG
    * anywhere. Empty clusters keep their previous centroid; zero vectors
    * are unassignable (the argmax yields null) and drop from updates.
    * Stops early when the max centroid movement (L∞ of element deltas)
    * falls below `tol`. Returns (cid, c) ready to feed [[knnIvf]] /
    * [[writeIvfIndex]]. */
  def kmeansTrain(corpus: DataFrame, id: Column, vec: Column, k: Int,
      iters: Int = 10, tol: Double = 1e-9,
      // init sample order: xxhash64(id) by default (pseudo-random,
      // reproducible). `vec_kmeans` overrides with md5(id) — the same
      // ordering DuckDB can compute — so its one-step config replays as
      // SQL end to end (xxhash64 has no DuckDB counterpart).
      initOrd: Option[Column] = None): DataFrame = {
    val s = corpus.sparkSession
    var book: Array[Array[Double]] = corpus
      .orderBy(initOrd.getOrElse(xxhash64(id)).asc, id.asc).limit(k)
      .select(vec.cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val cids = book.indices.map(_.toLong)
    var moved = Double.MaxValue
    var it = 0
    while (it < iters && moved > tol) {
      val assigned = corpus
        .withColumn("__c", graft.functions.VectorExpressions.nearestCentroid(
          s, vec, cids, book.map(_.toSeq).toSeq))
        .filter(col("__c").isNotNull)
        .groupBy("__c")
        .agg(graft.functions.VectorAggregates
          .vectorMeanDouble(vec.cast("array<float>")).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
      moved = 0.0
      book = book.zipWithIndex.map { case (old, c) =>
        assigned.get(c.toLong) match {
          case Some(next) =>
            var i = 0
            while (i < next.length) {
              moved = math.max(moved, math.abs(next(i) - old(i))); i += 1
            }
            next
          case None => old // empty cluster: keep previous centroid
        }
      }
      it += 1
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      book.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i.toLong, c.toSeq)
      }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false),
          nullable = false))))
  }

  /** Train a PQ codebook ([[graft.functions.PqExpressions]]) from a
    * deterministic sample: the `sampleN` corpus rows with the smallest
    * `xxhash64(id)` — pseudo-random, reproducible across runs/partitions,
    * and a TakeOrdered (no sort of the full corpus). faiss-style division
    * of labor: training is driver-side on the sample, encoding/scoring
    * are distributed native expressions. */
  def pqTrain(corpus: DataFrame, id: Column, vec: Column, m: Int, ks: Int,
      sampleN: Int = 10000, iters: Int = 8): Seq[Seq[Double]] = {
    val sample = corpus.orderBy(xxhash64(id).asc, id.asc).limit(sampleN)
      .select(vec.cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    graft.functions.PqExpressions.train(sample, m, ks, iters)
      .map(_.toSeq).toSeq
  }

  /** Corpus → (corpus, `codes` array<int>): the AT-REST form of a PQ
    * index. Persist id+codes (m small ints/row instead of D floats) and
    * serve ADC scans from that — for 512-dim/float corpora that is the
    * 100 TB→0.4 TB compression that lets the whole index live in RAM. */
  def pqEncode(corpus: DataFrame, vec: Column,
      book: Seq[Seq[Double]], ks: Int): DataFrame =
    corpus.withColumn("codes",
      graft.functions.PqExpressions.pqEncode(corpus.sparkSession, vec, book, ks))

  /** Two-stage PQ kNN: (1) ADC scan — the query's per-subspace dot
    * products with every centroid fold into an m×ks lookup table riding
    * the plan as a literal, so each row scores with m table lookups and
    * no float math; TakeOrdered keeps `refine·k` candidates. (2) exact
    * cosine rerank of the candidates only. `encoded` must carry `codes`
    * (from [[pqEncode]], typically read back from the at-rest index) plus
    * the raw vector for the rerank stage (at scale: a point-lookup join
    * of refine·k ids against the vector table instead). */
  def knnPq(encoded: DataFrame, id: Column, vec: Column,
      book: Seq[Seq[Double]], ks: Int,
      query: DataFrame, k: Int, refine: Int = 4): DataFrame = {
    val s = encoded.sparkSession
    val qv = query.select(col("qv").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val m = book.length / ks
    val lut = graft.functions.PqExpressions
      .adcLut(qv, book.map(_.toArray).toArray, m, ks)
    encoded
      .withColumn("adc", graft.functions.PqExpressions.pqAdc(s, col("codes"), lut.toSeq, ks))
      .orderBy(desc("adc"), id.asc).limit(math.max(refine * k, k))
      .crossJoin(broadcast(query))
      .withColumn("score", fusedCosine(s, vec, col("qv")))
      .orderBy(desc("score"), id.asc).limit(k)
      .drop("qv", "adc")
  }

  /** Materialize the COMPOSED IVF × PQ index at rest — the textbook IVFADC
    * layout: every row carries its nearest-centroid `cluster` (the same
    * fused literal-codebook argmax as [[writeIvfIndex]], zero shuffle) AND
    * its PQ `codes` (the distributed codegen encode of [[pqEncode]]), and
    * the table is written `partitionBy(cluster)`. A query then composes the
    * two prunings: the probe's cluster filter skips FILES (partition
    * pruning) and the ADC scan reads m small ints per surviving row
    * instead of D floats. PQ here encodes raw vectors (IVF-Flat + PQ), not
    * per-cluster residuals — one shared codebook, simpler and
    * oracle-friendly; the residual refinement is a documented non-goal.
    * Raw vectors ride along for the rerank stage (at lake scale: keep
    * id+codes only and point-lookup the rerank candidates instead). */
  def writeIvfPqIndex(corpus: DataFrame, vec: Column,
      centroids: DataFrame, // (cid: long-castable, c: vector)
      book: Seq[Seq[Double]], ks: Int, path: String): Unit = {
    val s = corpus.sparkSession
    val cb = collectCodebook(centroids)
    corpus
      .withColumn("cluster", graft.functions.VectorExpressions.nearestCentroid(
        s, vec, cb.map(_._1).toSeq, cb.map(_._2.toSeq).toSeq))
      .withColumn("codes",
        graft.functions.PqExpressions.pqEncode(s, vec, book, ks))
      .repartition(col("cluster")) // one file per cluster, see writeIvf
      .write.partitionBy("cluster").parquet(path)
  }

  /** kNN over a [[writeIvfPqIndex]] layout — IVFADC serving: (1) resolve
    * the probe driver-side over the IVF codebook → a partition filter, so
    * unprobed clusters' files never open; (2) ADC-scan the survivors (m
    * table lookups per row against the query's literal LUT — no float
    * math, no raw-vector reads needed for scoring); (3) exact cosine
    * rerank of the top `refine·k` ADC candidates. With `refine·k` ≥ the
    * probed row count the rerank is exhaustive over the probe and the
    * result equals [[knnIvf]]/[[knnIvfIndexed]] for the same codebook —
    * the parity `SearchSpec` pins. */
  def knnIvfPq(s: SparkSession, indexPath: String, vec: Column,
      centroids: DataFrame, book: Seq[Seq[Double]], ks: Int,
      query: DataFrame, nprobe: Int, k: Int, tie: Column,
      refine: Int = 4): DataFrame = {
    val cb = collectCodebook(centroids)
    val qv = query.select(col("qv").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val probed = cb.map { case (cid, c) => (cid, cosArr(c, qv)) }
      .sortBy { case (cid, qcos) => (-qcos, cid) }
      .take(nprobe).map(_._1).toSeq
    val m = book.length / ks
    val lut = graft.functions.PqExpressions
      .adcLut(qv, book.map(_.toArray).toArray, m, ks)
    // same takedown posture as [[knnIvfIndexed]]: heal any interrupted
    // compaction swap, then anti-join the tombstone store keyed on `tie`
    // — a recalled vector must stop scoring IMMEDIATELY, not at the next
    // rebuild, and must be excluded BEFORE the ADC top-pool cut (a
    // deleted near-match would otherwise eat a rerank slot)
    graft.sources.Tombstones.healPartitions(s, indexPath)
    graft.sources.Tombstones.dropDeleted(
        s.read.parquet(indexPath)
          .filter(col("cluster").isin(probed: _*)), // partition pruning, not row filtering
        tie, indexPath)
      .withColumn("adc",
        graft.functions.PqExpressions.pqAdc(s, col("codes"), lut.toSeq, ks))
      .orderBy(desc("adc"), tie.asc).limit(math.max(refine * k, k))
      .crossJoin(broadcast(query))
      .withColumn("score", fusedCosine(s, vec, col("qv")))
      .orderBy(desc("score"), tie.asc).limit(k)
      .drop("qv", "adc")
  }

  /** Batched kNN — N query vectors against the corpus in ONE plan: the
    * query table (qid, qv) broadcasts, scoring is the same fused kernel,
    * and per-query top-k comes from a rank window partitioned by qid (one
    * shuffle by qid instead of N separate jobs). This is the production
    * shape for offline retrieval evaluation / bulk similarity suggestion
    * (SRS §4.2): at 1000 executors the corpus is scanned once regardless
    * of the batch size. */
  def knnBatch(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, // (qid, qv)
      k: Int): DataFrame = {
    val s = corpus.sparkSession
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("__vid").asc)
    corpus.select(id.as("__vid"), vec.as("__v"))
      .crossJoin(broadcast(queries))
      .withColumn("score", fusedCosine(s, col("__v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("__vid").as("id"), col("score"), col("rank"))
  }

  /** Late-interaction retrieval (MaxSim, the ColBERT scoring rule —
    * Khattab & Zaharia, SIGIR 2020): query and doc are both BAGS of
    * vectors and score(doc) = Σ_q max_s cos(q, s) — each
    * query vector picks its best-matching doc vector, contributions sum.
    * The multi-vector upgrade of [[knnBrute]] and the sum-calibrated
    * sibling of [[segmentScores]]'s avg/max (reference Q2 semantics,
    * `search_with_segments.py`): MaxSim rewards docs that cover ALL query
    * aspects rather than docs with one strong match.
    *
    * Scale shape: one corpus scan regardless of query-bag size (the bag
    * broadcasts), fused-codegen scoring, two hash aggregations that both
    * partial map-side (the (doc,qid) grid then per-doc fold), top-k via
    * TakeOrderedAndProject. The per-doc Σ folds in ascending-qid order
    * through an explicit `aggregate` — FP addition is not associative, so
    * an unordered SUM would leak partial-aggregation grouping order into
    * scores the oracle hash-checks. */
  def maxSim(docVecs: DataFrame, // one row per (doc, vector)
      docId: Column, vec: Column,
      queryVecs: DataFrame, // (qid, qv) — the query's token/segment bag
      k: Int): DataFrame = {
    val s = docVecs.sparkSession
    docVecs.select(docId.as("__doc"), vec.as("__v"))
      .crossJoin(broadcast(queryVecs))
      .withColumn("cos", fusedCosine(s, col("__v"), col("qv")))
      .groupBy(col("__doc"), col("qid")).agg(max("cos").as("best"))
      .groupBy(col("__doc"))
      .agg(expr("aggregate(sort_array(collect_list(struct(qid, best))), " +
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x.best)").as("score"))
      .orderBy(desc("score"), col("__doc").asc).limit(k)
      .select(col("__doc").as("doc_id"), col("score"))
  }

  /** [[maxSim]] over a [[writeIvfIndex]] layout — late interaction with
    * candidate generation, the ColBERT serving split: each query vector
    * resolves its own `nprobe` nearest clusters driver-side (the
    * codebook is the bounded artifact), the index scan partition-prunes
    * to the UNION of probed clusters, and only surviving doc vectors
    * enter the (doc, qid) MaxSim grid. A query vector whose best match
    * lives in an unprobed cluster contributes its best SURVIVING match
    * instead — the standard recall trade `nprobe` tunes. Tombstones on
    * the index are honored before scoring. */
  def maxSimIndexed(s: SparkSession, indexPath: String,
      docId: Column, vec: Column,
      centroids: DataFrame, // (cid, c)
      queryVecs: DataFrame, // (qid, qv)
      nprobe: Int, k: Int, tie: Column): DataFrame = {
    val book = collectCodebook(centroids)
    val probed = queryVecs.select(col("qid"), col("qv").cast("array<double>"))
      .collect().flatMap { r =>
        val qv = r.getSeq[Double](1).toArray
        book.map { case (cid, c) => (cid, cosArr(c, qv)) }
          .sortBy { case (cid, qcos) => (-qcos, cid) }
          .take(nprobe).map(_._1)
      }.distinct.toSeq
    graft.sources.Tombstones.healPartitions(s, indexPath)
    val scan = graft.sources.Tombstones.dropDeleted(
      s.read.parquet(indexPath).filter(col("cluster").isin(probed: _*)),
      tie, indexPath)
    maxSim(scan, docId, vec, queryVecs, k)
  }

  /** Cluster-blocked k-NN graph: every vector's top-`k` neighbors WITHIN
    * its codebook cluster — the all-corpus self-kNN that graph-based
    * curation builds on (neighbor lists feed connected components,
    * cluster growing, graph dedup). The blocking is the same trade every
    * IVF path makes: neighbors in other clusters are invisible
    * (recall follows the codebook's resolution), and in exchange the
    * pair space is Σ|cluster|² instead of N² — with k ∝ N cluster
    * sizing this is the linear-ish kNN-graph recipe (NN-Descent and
    * friends refine it; the blocked pass is the scalable seed).
    *
    * Shape: one assignment scan (fused literal-codebook argmax, zero
    * shuffle), one cluster-keyed self-join, one per-source rank window —
    * vectors never ride the candidate shuffle twice. */
  def knnGraph(corpus: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, // (cid, c)
      k: Int, maxClusterN: Long = 100000): DataFrame = {
    val s = corpus.sparkSession
    val book = collectCodebook(centroids)
    val assigned = corpus.select(id.as("__vid"), vec.as("__v"))
      .withColumn("cluster", graft.functions.VectorExpressions.nearestCentroid(
        s, col("__v"), book.map(_._1).toSeq, book.map(_._2.toSeq).toSeq))
    val worst = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    require(worst <= maxClusterN,
      s"knnGraph: largest cluster has $worst rows > maxClusterN=" +
        s"$maxClusterN — retrain a finer codebook (k should grow with N)")
    val w = Window.partitionBy("__vid").orderBy(desc("cos"), col("nbr_id").asc)
    assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.__vid") =!= col("b.__vid"))
      .select(col("a.__vid").as("__vid"), col("b.__vid").as("nbr_id"),
        fusedCosine(s, col("a.__v"), col("b.__v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic bootstrap edges for [[nnDescend]] — the "random
    * initial graph" of NN-Descent (Dong, Moses & Li, WWW 2011) made
    * reproducible and oracle-replayable: nodes sort by `md5(id)` within
    * `buckets` hash buckets (first hex char scales this to however many
    * parallel rings a corpus needs) and each node links to its next `r`
    * ring successors (wrapping). md5 order is uncorrelated with vector
    * geometry, so these edges CROSS cluster boundaries by construction —
    * exactly the seed diversity the cluster-blocked [[knnGraph]] lacks:
    * that graph is CLOSED under neighbor-of-neighbor expansion (a
    * same-cluster neighbor's neighbors are same-cluster again), so
    * refinement over it alone can never surface a cross-cluster edge.
    * One window shuffle keyed by bucket; no vectors ride the exchange. */
  def hashRingEdges(corpus: DataFrame, id: Column, r: Int = 2,
      buckets: Int = 16): DataFrame = {
    require(r >= 1 && buckets >= 1 && buckets <= 16,
      s"hashRingEdges: need r >= 1, 1 <= buckets <= 16 (one hex char), got r=$r buckets=$buckets")
    val h = corpus.select(id.as("__vid"), md5(id.cast("string")).as("__h"))
      // first hex char mod `buckets` — buckets=1 collapses to one global
      // ring (small corpora / tests), 16 gives full single-char spread
      .withColumn("__bkt",
        (conv(substring(col("__h"), 1, 1), 16, 10).cast("long") % buckets))
    val w = Window.partitionBy("__bkt").orderBy("__h")
    val idx = h.withColumn("__i", row_number().over(w).cast("long"))
    val cnt = idx.groupBy("__bkt").agg(count(lit(1)).as("__n"))
    val src = idx.join(broadcast(cnt), "__bkt")
      .withColumn("__j", explode(sequence(lit(1L), least(lit(r.toLong), col("__n") - 1))))
      // sequence(1, 0) DESCENDS in Spark ([1, 0]) — a singleton bucket
      // would fabricate self-edges without this guard
      .filter(col("__j") >= 1 && col("__j") <= col("__n") - 1)
      .withColumn("__ti", ((col("__i") - 1 + col("__j")) % col("__n")) + 1)
    src.join(idx.select(col("__bkt"), col("__i").as("__ti"),
        col("__vid").as("nbr_id")), Seq("__bkt", "__ti"))
      .filter(col("__vid") =!= col("nbr_id"))
      .select(col("__vid"), col("nbr_id"))
  }

  /** NN-Descent-style refinement of a kNN-graph seed (Dong et al., WWW
    * 2011): each round proposes every node's neighbors-of-neighbors
    * (over the UNDIRECTED closure of the current graph — reverse edges
    * carry information too), scores only the fresh pairs with exact
    * cosine, and a rank window keeps each node's best `k`. The classic
    * convergence argument: if b is near a and c is near b, c is likely
    * near a — each round effectively squares the graph's reach, so a few
    * rounds recover most true edges from a cheap seed.
    *
    * `seed` is (\_\_vid, nbr_id) PAIRS — typically [[knnGraph]]'s
    * cluster-blocked lists UNIONed with [[hashRingEdges]] (see its doc
    * for why the blocked seed alone cannot improve). Scale shape per
    * round: the undirected closure is 2·N·k edge rows (ids only), the
    * NoN self-join is keyed on the shared middle node (≤ 4k² candidates
    * per node, never corpus×corpus), fresh-pair scoring joins vectors
    * back by id, and the keep-k window shuffles by node — every stage is
    * bounded by N·k², the published NN-Descent cost. Deterministic
    * (cos-desc, id-asc tie), so the whole refinement is oracle-replayable
    * SQL. Output: (\_\_vid, nbr_id, cos, rank). */
  def nnDescend(corpus: DataFrame, id: Column, vec: Column,
      seed: DataFrame, // (__vid, nbr_id)
      k: Int, rounds: Int = 1): DataFrame = {
    val s = corpus.sparkSession
    val base = corpus.select(id.as("__nid"), vec.as("__nv"))
    def score(pairs: DataFrame): DataFrame = pairs
      .join(base.select(col("__nid").as("__vid"), col("__nv").as("__va")), "__vid")
      .join(base.select(col("__nid").as("nbr_id"), col("__nv").as("__vb")), "nbr_id")
      .select(col("__vid"), col("nbr_id"),
        fusedCosine(s, col("__va"), col("__vb")).as("cos"))
    val w = Window.partitionBy("__vid").orderBy(desc("cos"), col("nbr_id").asc)
    def keepK(scored: DataFrame): DataFrame = scored
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    // g is read 3-4× inside every round body (the undirected closure,
    // the fresh-pair anti-join, and the keep-k union) — cut it at round
    // boundaries and cut the closure (read by both self-join sides), or
    // the seed-scoring pipeline replays per reference (r20; lazy cuts,
    // values unchanged — the keep-k window is deterministic).
    var g = keepK(score(seed.select(col("__vid"), col("nbr_id")).distinct()))
      .localCheckpoint(eager = false)
    for (round <- 1 to rounds) {
      val und = g.select(col("__vid").as("src"), col("nbr_id").as("dst"))
        .unionByName(g.select(col("nbr_id").as("src"), col("__vid").as("dst")))
        .distinct()
        .localCheckpoint(eager = false)
      val non = und.as("x").join(und.as("y"), col("x.dst") === col("y.src"))
        .filter(col("x.src") =!= col("y.dst"))
        .select(col("x.src").as("__vid"), col("y.dst").as("nbr_id"))
        .distinct()
      // score only pairs the graph hasn't already scored — known edges
      // carry their cos forward
      val fresh = non.join(g.select(col("__vid"), col("nbr_id")),
        Seq("__vid", "nbr_id"), "left_anti")
      g = keepK(g.select(col("__vid"), col("nbr_id"), col("cos"))
        .unionByName(score(fresh)))
      // bound the lineage between rounds: each round stacks joins/windows
      // on the last — checkpointing keeps the plan round-local (same
      // discipline as dupClusters' pointer jumping). Not after the final
      // round: the caller consumes that plan directly. Lazy (r20) so
      // plan construction runs no job.
      if (round < rounds) g = g.localCheckpoint(eager = false)
    }
    g
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * anchor, the `k` HIGHEST-cosine vectors with a DIFFERENT label (the
    * near-misses an embedding model trains against). Candidates are
    * restricted to the anchor's cluster, which here is semantically
    * right, not just the scale trick: hard negatives are by definition
    * the confusable NEARBY points, and those share the anchor's cluster
    * — same assignment scan, cluster-keyed self-join, and hot-cluster
    * guard as [[knnGraph]], with the label-differs predicate riding the
    * join. Σ|cluster|² work, never corpus²; deterministic (cos desc, id
    * asc) ⇒ fully oracle-replayable. Output: (`__vid`, `neg_id`, `cos`,
    * `rank`). */
  def mineHardNegatives(corpus: DataFrame, id: Column, vec: Column,
      label: Column, centroids: DataFrame, k: Int = 1,
      maxClusterN: Long = 100000): DataFrame = {
    val s = corpus.sparkSession
    val book = collectCodebook(centroids)
    val assigned = corpus.select(id.as("__vid"), vec.as("__v"),
        label.as("__lbl"))
      .withColumn("cluster", graft.functions.VectorExpressions.nearestCentroid(
        s, col("__v"), book.map(_._1).toSeq, book.map(_._2.toSeq).toSeq))
    // empty corpus → max(n) is NULL: an empty result, not an NPE (same
    // guard as Dedup.semanticDedup)
    val mk = assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(max("n")).head()
    val worst = if (mk.isNullAt(0)) 0L else mk.getLong(0)
    require(worst <= maxClusterN,
      s"mineHardNegatives: largest cluster has $worst rows > maxClusterN=" +
        s"$maxClusterN — retrain a finer codebook (k should grow with N)")
    val w = Window.partitionBy("__vid").orderBy(desc("cos"), col("neg_id").asc)
    assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.__vid") =!= col("b.__vid") &&
          col("a.__lbl") =!= col("b.__lbl"))
      .select(col("a.__vid").as("__vid"), col("b.__vid").as("neg_id"),
        fusedCosine(s, col("a.__v"), col("b.__v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Graph-served ANN — the HNSW layer-0 / DiskANN search shape over a
    * prebuilt kNN graph ([[knnGraph]] seed refined by [[nnDescend]]),
    * made deterministic and therefore oracle-replayable.
    *
    * Entry points: the `entriesN` nodes with the smallest `md5(id)` — a
    * fixed, query-independent "entry ring" standing in for HNSW's upper
    * layers (at rest it is a tiny cached table; here it is a top-N scan,
    * `TakeOrderedAndProject`). The ring is scored exactly and the best
    * `beam` seed the frontier. Each of the `hops` rounds expands the
    * beam's out-edges, scores only UNSEEN nodes, and re-selects the
    * global top-`beam` of everything visited — greedy best-first with
    * backtracking, HNSW's ef-search loop unrolled a fixed number of
    * rounds (fixed rounds keep the search a bounded SQL pyramid the
    * oracle replays; the adaptive "stop when the beam is stable" rule
    * reaches the same fixed point, just data-dependently).
    *
    * Scale shape: the beam is ≤ `beam` id rows and is BROADCAST into the
    * edge join, so each hop reads the edge table once (id-bucketed at
    * rest ⇒ the join prunes to the beam's buckets) and joins the corpus
    * only for the fresh candidates (an id-keyed layout makes that a
    * point lookup). Per-query work is `entriesN + hops·beam·outdeg`
    * exact scores — independent of corpus size, which is why graph
    * serving is the lowest-latency ANN family at 100 TB. The visited set
    * (≤ entriesN + hops·beam·outdeg rows) is a bounded artifact;
    * `localCheckpoint` keeps the per-hop lineage flat exactly as
    * [[nnDescend]] does between rounds. Deterministic everywhere
    * (score desc, id asc) ⇒ the whole search hash-checks against a
    * recursive-free CTE replay. Recall is measured, not assumed: the
    * `graph_beam_h3` arm of `ann_recall` scores this routine against the
    * brute-force top-k ([[graft.operators.Retrieval.annRecall]]).
    *
    * `edges`: directed adjacency (`__vid`, `nbr_id`); `query`: one row,
    * column `qv`. Returns (`id`, `score`), the top-`k` of the visited
    * set. */
  def graphSearch(corpus: DataFrame, id: Column, vec: Column,
      edges: DataFrame, query: DataFrame,
      k: Int, entriesN: Int = 16, beam: Int = 8, hops: Int = 3,
      filter: Option[Column] = None): DataFrame = {
    require(k >= 1 && entriesN >= 1 && beam >= 1 && hops >= 0,
      s"graphSearch: need k,entriesN,beam >= 1 and hops >= 0, " +
        s"got k=$k entriesN=$entriesN beam=$beam hops=$hops")
    val s = corpus.sparkSession
    val base = corpus.select(id.as("__nid"), vec.as("__nv"))
    def score(ids: DataFrame): DataFrame = ids
      .join(base, "__nid")
      .crossJoin(broadcast(query))
      .select(col("__nid"), fusedCosine(s, col("__nv"), col("qv")).as("score"))
    def top(df: DataFrame, n: Int): DataFrame =
      df.orderBy(desc("score"), col("__nid").asc).limit(n)
    val entries = base
      .select(col("__nid"), md5(col("__nid").cast("string")).as("__h"))
      .orderBy("__h").limit(entriesN).select("__nid")
    var visited = score(entries)
    var beamIds = top(visited, beam).select("__nid")
    for (h <- 1 to hops) {
      val frontier = broadcast(beamIds.withColumnRenamed("__nid", "__vid"))
        .join(edges.select(col("__vid"), col("nbr_id")), "__vid")
        .select(col("nbr_id").as("__nid")).distinct()
      val fresh = frontier.join(visited.select("__nid"), Seq("__nid"), "left_anti")
      visited = visited.unionByName(score(fresh))
      if (h < hops) visited = visited.localCheckpoint()
      beamIds = top(visited, beam).select("__nid")
    }
    // Filtered graph ANN (post-filter, the DiskANN-filtered shape): the
    // WALK is unfiltered — filtered-out nodes still relay, or a
    // selective predicate would disconnect the graph — and only the
    // final top-k is restricted. The semi-join probes the corpus with
    // the predicate pushed to its scan; the left side is the bounded
    // visited set. Selective filters want a wider beam, which the
    // `graph_beam_filtered` arm of `ann_recall` measures.
    val eligible = filter match {
      case Some(p) => visited.join(
        corpus.filter(p).select(id.as("__nid")), Seq("__nid"), "left_semi")
      case None => visited
    }
    top(eligible, k).select(col("__nid").as("id"), col("score"))
  }

  // --- At-rest graph serving layout (the 4th index family) ------------------

  /** Materialize a kNN graph as a SERVING layout — the DiskANN/Vamana
    * at-rest shape:
    *
    *   - `nodes/bkt=…`   (id, vec), hash-bucketed `id mod buckets`;
    *   - `edges/bkt=…`   (__vid, nbr_id), bucketed on the SOURCE id;
    *   - `entries/`      the `entriesN` smallest-md5 ids, frozen at
    *     build time (HNSW's upper layers as a tiny cached table).
    *
    * Every [[graphSearchIndexed]] hop resolves its probe ids
    * driver-side (beam-sized artifacts) and lands them as partition
    * filters + pushed id predicates, so a hop reads `≤ beam` buckets of
    * edges and `≤ beam·outdeg` bucket files of nodes — never the
    * corpus. The same tombstone store every other index family uses
    * ([[graft.sources.Tombstones]], one `_tombstones` dir at `path`)
    * gives O(|deletes|) right-to-be-forgotten: entries, scored nodes,
    * and edge TARGETS all anti-join it (a deleted node can never enter
    * the beam, so its out-edges are unreachable without rewriting
    * anything); [[compactGraphIndex]] reclaims the space through the
    * shared crash-safe swap. The entry ring stays FROZEN under takedown
    * (minus deleted members) until a compaction/rebuild refreshes it —
    * the same documented staleness Lucene's liveDocs model accepts. */
  /** The layout's bucket modulus is LOAD-BEARING (every probe computes
    * `pmod(id, buckets)` to prune partitions) — a build/serve mismatch
    * would silently miss most rows, so the writer persists it and every
    * reader validates against it. Underscore-prefixed: invisible to
    * parquet listings. */
  private def writeBucketsMeta(s: SparkSession, path: String, buckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_buckets_$buckets")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true).close()
  }

  private def requireBucketsMeta(s: SparkSession, path: String, buckets: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) return // missing index fails at the read, loudly
    val metas = f.listStatus(root)
      .map(_.getPath.getName).filter(_.startsWith("_graft_buckets_"))
    // pre-meta layouts (or hand-built test trees) stay readable — the
    // guard only fires when the stored modulus CONTRADICTS the caller's
    metas.headOption.foreach { m =>
      val stored = m.stripPrefix("_graft_buckets_").toInt
      require(stored == buckets,
        s"graph index at $path was built with buckets=$stored but is " +
          s"being read with buckets=$buckets — the probe's pmod would " +
          "silently miss rows")
    }
  }

  def writeGraphIndex(corpus: DataFrame, id: Column, vec: Column,
      edges: DataFrame, // (__vid, nbr_id[, cos])
      path: String, entriesN: Int = 64, buckets: Int = 32): Unit = {
    require(entriesN >= 1 && buckets >= 1,
      s"writeGraphIndex: need entriesN, buckets >= 1, got $entriesN, $buckets")
    writeBucketsMeta(corpus.sparkSession, path, buckets)
    corpus.select(id.cast("long").as("id"), vec.as("vec"))
      .withColumn("bkt", pmod(col("id"), lit(buckets.toLong)).cast("int"))
      .repartition(col("bkt")) // one file per bucket dir, see writeIvf
      .write.partitionBy("bkt").parquet(s"$path/nodes")
    // a `cos` column rides along when the caller has it (the NN-Descent
    // edge weight) — weighted centrality refreshes then read ids +
    // weights from the store with no vector join; id-only layouts stay
    // two-column and every id-only reader selects its columns explicitly
    val ecols = Seq(col("__vid").cast("long").as("__vid"),
      col("nbr_id").cast("long").as("nbr_id")) ++
      (if (edges.columns.contains("cos"))
        Seq(col("cos").cast("double").as("cos")) else Nil)
    edges.select(ecols: _*)
      .withColumn("bkt", pmod(col("__vid"), lit(buckets.toLong)).cast("int"))
      .repartition(col("bkt")) // one file per bucket dir, see writeIvf
      .write.partitionBy("bkt").parquet(s"$path/edges")
    corpus.select(id.cast("long").as("id"))
      .withColumn("__h", md5(col("id").cast("string")))
      .orderBy("__h").limit(entriesN).select("id")
      .write.parquet(s"$path/entries")
    bumpLayoutVersion(path)
  }

  /** [[graphSearch]] served from a [[writeGraphIndex]] layout: identical
    * semantics (same beam loop, same tie-breaks — `IvfLayoutSpec` pins
    * bit parity with the in-plan search), but every read is a
    * partition-pruned point lookup. Per-hop driver state is the beam id
    * list (≤ `beam` longs) and the frontier (≤ `beam·outdeg`) — bounded
    * artifacts, the same contract as every probe list in the IVF and
    * MinHash families. Tombstone-aware at all three tables. */
  def graphSearchIndexed(s: SparkSession, path: String, query: DataFrame,
      k: Int, beam: Int = 32, hops: Int = 3, buckets: Int = 32): DataFrame = {
    import graft.sources.Tombstones
    requireBucketsMeta(s, path, buckets)
    Tombstones.healPartitions(s, s"$path/nodes")
    Tombstones.healPartitions(s, s"$path/edges")
    def bktOf(ids: Seq[Long]): Seq[Long] =
      ids.map(i => java.lang.Math.floorMod(i, buckets.toLong)).distinct
    val entryIds = Tombstones.dropDeleted(
        s.read.parquet(s"$path/entries"), col("id"), path)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    def score(ids: Seq[Long]): DataFrame = Tombstones.dropDeleted(
        s.read.parquet(s"$path/nodes")
          .filter(col("bkt").isin(bktOf(ids): _*) && col("id").isin(ids: _*)),
        col("id"), path)
      .crossJoin(broadcast(query))
      .select(col("id"), fusedCosine(s, col("vec"), col("qv")).as("score"))
    def topIds(v: DataFrame, n: Int): Seq[Long] =
      v.orderBy(desc("score"), col("id").asc).limit(n)
        .select("id").collect().map(_.getLong(0)).toSeq
    var visited = score(entryIds).localCheckpoint()
    var seen = entryIds.toSet
    var beamIds = topIds(visited, beam)
    for (_ <- 1 to hops if beamIds.nonEmpty) {
      val fresh = Tombstones.dropDeleted(
          s.read.parquet(s"$path/edges")
            .filter(col("bkt").isin(bktOf(beamIds): _*) &&
              col("__vid").isin(beamIds: _*)),
          col("nbr_id"), path)
        .select("nbr_id").distinct()
        .collect().map(_.getLong(0)).toSeq.filterNot(seen)
      if (fresh.nonEmpty) {
        visited = visited.unionByName(score(fresh)).localCheckpoint()
        seen ++= fresh
      }
      beamIds = topIds(visited, beam)
    }
    visited.orderBy(desc("score"), col("id").asc).limit(k)
  }

  /** O(|ids|) takedown on the graph layout — serving excludes the ids
    * immediately (see [[writeGraphIndex]]); [[compactGraphIndex]]
    * reclaims. */
  def deleteFromGraphIndex(ids: DataFrame, idCol: Column, path: String): Unit = {
    graft.sources.Tombstones.add(ids, idCol, path)
    bumpLayoutVersion(path)
  }

  // ------------------- hot-tier graph serving (r19) ------------------ //

  /** Version-manifest file at the layout root — the hot tier's change
    * signal. Every mutation commit point ([[writeGraphIndex]],
    * [[deleteFromGraphIndex]], [[appendToGraphIndex]],
    * [[compactGraphIndex]], and the staged [[rebuildGraphIndex]] via the
    * fresh build's own bump) rewrites it with a fresh UUID (r20 — the
    * r19 mtime stamp missed a mutation landing in the same filesystem
    * clock tick as the cached stamp: ms on ext4, a full second on some
    * filesystems — permanent staleness, not a one-request race). UUID
    * inequality, not monotonic ordering, is the contract: the hot tier
    * only asks "did the layout change since I loaded", which equality on
    * a value that every mutation replaces answers with no clock at all —
    * the same role Iceberg's snapshot id plays. Written via temp-file +
    * atomic move so a reader never observes a half-written value. */
  private[graft] val VersionFile = "_graft_version"

  /** Rewrite the layout's version manifest — the mutation COMMIT POINT
    * for hot-tier visibility: a crash after the data mutation but before
    * the bump leaves the hot tier serving the pre-mutation image until
    * the next committed mutation (manifest semantics — an uncommitted
    * snapshot is invisible), while the distributed spellings, which read
    * tombstones/buckets per request, see it immediately. */
  private[graft] def bumpLayoutVersion(path: String): Unit = {
    val dir = new java.io.File(path)
    if (!dir.exists()) dir.mkdirs()
    val tmp = java.io.File.createTempFile(s".$VersionFile", ".tmp", dir)
    java.nio.file.Files.write(tmp.toPath,
      java.util.UUID.randomUUID().toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(dir, VersionFile).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** In-memory image of one graph layout: the HOT TIER a real ANN
    * serving node keeps (HNSW serves from RAM; the at-rest bucketed
    * layout is the build/refresh artifact). `stamp` is the layout's
    * [[VersionFile]] content at load (pre-r20 layouts without one fall
    * back to the recursive max-mtime, prefixed so the two spaces can
    * never collide). */
  private case class GraphHot(stamp: String,
      vecs: java.util.HashMap[java.lang.Long, Array[Double]],
      nbrs: java.util.HashMap[java.lang.Long, Array[Long]],
      entries: Array[Long],
      tombs: java.util.HashSet[java.lang.Long])

  private val graphHotCache =
    new java.util.concurrent.ConcurrentHashMap[String, GraphHot]()

  /** The layout's change stamp: the version manifest when present (the
    * r20 contract — clock-granularity-free), else the mtime walk for
    * layouts written before the manifest existed. */
  private def layoutStampOf(path: String): String = {
    val vf = new java.io.File(path, VersionFile)
    if (vf.exists())
      "v:" + new String(java.nio.file.Files.readAllBytes(vf.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    else "mtime:" + layoutMtime(path)
  }

  /** Recursive max-mtime of the layout — appends land part files inside
    * bucket subdirs and takedowns inside `_tombstones/`, so only a deep
    * stat sees every mutation. Bounded by the layout's file count (a
    * few hundred here); kept only as the pre-manifest fallback — see
    * [[VersionFile]] for why mtime alone is not a correct change signal
    * (clock-tick granularity). */
  private def layoutMtime(path: String): Long = {
    // depth-2 stat is sufficient AND per-request-cheap: tombstones land
    // as files directly under `_tombstones/` (level 2), appends land
    // part files inside `nodes/bkt=N/` whose DIRECTORY mtime (level 2)
    // moves with them — a full recursive walk per request was the graph
    // mode's p95 tail under a concurrent burst
    val root = new java.io.File(path)
    if (!root.exists()) return 0L
    var m = root.lastModified()
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { k =>
      m = math.max(m, k.lastModified())
      if (k.isDirectory)
        Option(k.listFiles()).getOrElse(Array.empty[java.io.File])
          .foreach(g => m = math.max(m, g.lastModified()))
    }
    m
  }

  private[operators] def widen(v: Any): Array[Double] = v match {
    case a: scala.collection.Seq[_] => a.map {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue()
      case o => o.toString.toDouble
    }.toArray
    case o => sys.error(s"driver image: unexpected vec cell $o")
  }

  /** Spec-only seam: runs between the stamp read and the image load in
    * [[graphHotFor]], so GraphServeSpec can land a real mutation inside
    * exactly the race window the stamp protocol argues about (a mutation
    * racing the load bumps the version AFTER `now` was read, so the next
    * request sees a changed stamp and reloads). Production never sets
    * it. */
  private[graft] var hotLoadTestHook: () => Unit = () => ()

  /** Driver-RAM budget for one hot image, measured as the layout's
    * ON-DISK parquet bytes (nodes + edges + entries — the file metadata
    * the guard can read without loading anything). Default 2 GiB of
    * parquet — roomy for the per-shard serving tier this cache is
    * (VERDICT r19 #3: the expansion to boxed driver HashMaps is a small
    * multiple of the on-disk bytes, well inside this JVM's heap), loud
    * for the mistake it exists to catch: pointing the hot tier at a
    * whole-corpus layout that belongs on the distributed spelling.
    * Override via -Dgraft.graph.hot.maxBytes / GRAFT_GRAPH_HOT_MAX_BYTES.
    * The point band's image ([[pointImage]]) and the lexical index image
    * ([[Lexical.IndexImage]]) are held to the same budget. */
  private[operators] def hotMaxBytes: Long =
    sys.props.get("graft.graph.hot.maxBytes")
      .orElse(sys.env.get("GRAFT_GRAPH_HOT_MAX_BYTES"))
      .map(_.toLong).getOrElse(2L << 30)

  private def layoutBytes(path: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(sz).sum
      else f.length()
    Seq("nodes", "edges", "entries")
      .map(t => sz(new java.io.File(path, t))).sum
  }

  /** Load (or reload, when the layout's stamp moved — a takedown or
    * append after the last load must be served immediately, the same
    * probe-time-current contract the distributed path gets from its
    * per-request tombstone anti-join) the hot image of `path`. */
  private def graphHotFor(s: SparkSession, path: String): GraphHot = {
    // a layout whose directory vanished must not serve its ghost (and a
    // long-lived JVM must not retain dead layouts' full in-RAM images):
    // drop the entry and let the parquet read fail loudly; past ~16 live
    // layouts, sweep every entry whose path is gone
    if (!new java.io.File(path).exists()) graphHotCache.remove(path)
    if (graphHotCache.size() > 16)
      graphHotCache.keySet.removeIf(p => !new java.io.File(p).exists())
    val now = layoutStampOf(path)
    hotLoadTestHook()
    val cur = graphHotCache.get(path)
    if (cur != null && cur.stamp == now) return cur
    // loud size guard (r20, VERDICT r19 #3): the hot tier collects the
    // ENTIRE layout into driver HashMaps — deliberate for the per-shard
    // serving tier, an OOM for a corpus-sized layout. Refuse with the
    // distributed alternative named instead of dying mid-collect.
    val bytes = layoutBytes(path)
    require(bytes <= hotMaxBytes,
      s"graph hot tier: layout $path is $bytes on-disk bytes, over the " +
        s"$hotMaxBytes budget for a driver-RAM image — this cache is the " +
        "per-shard serving tier, not a corpus store. Either raise " +
        "-Dgraft.graph.hot.maxBytes / GRAFT_GRAPH_HOT_MAX_BYTES, or serve " +
        "this layout through the distributed walk (Search.graphSearchIndexed), " +
        "which reads only partition-pruned point lookups per hop.")
    graphHotCache.compute(path, (_, prev) => {
      if (prev != null && prev.stamp == now) prev
      else {
        import graft.sources.Tombstones
        Tombstones.healPartitions(s, s"$path/nodes")
        Tombstones.healPartitions(s, s"$path/edges")
        val vecs = new java.util.HashMap[java.lang.Long, Array[Double]]()
        s.read.parquet(s"$path/nodes").select("id", "vec").collect()
          .foreach(r => vecs.put(r.getLong(0), widen(r.get(1))))
        val nbrsRaw = new java.util.HashMap[java.lang.Long,
          scala.collection.mutable.ArrayBuffer[Long]]()
        s.read.parquet(s"$path/edges").select("__vid", "nbr_id").collect()
          .foreach { r =>
            nbrsRaw.computeIfAbsent(r.getLong(0),
              _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
          }
        val nbrs = new java.util.HashMap[java.lang.Long, Array[Long]](
          nbrsRaw.size() * 2)
        nbrsRaw.forEach((k, v) => nbrs.put(k, v.toArray))
        val entries = s.read.parquet(s"$path/entries").select("id")
          .collect().map(_.getLong(0)).sorted
        val tombs = new java.util.HashSet[java.lang.Long]()
        Tombstones.ids(s, path).foreach(
          _.collect().foreach(r => tombs.add(r.getLong(0))))
        // the PRE-load stamp is stored: a mutation racing the load may
        // be missing from this image, but it replaced the version
        // manifest AFTER `now` was read, so the next request sees a
        // different stamp and reloads — storing a post-load stamp would
        // absorb exactly that racing mutation forever (spec-pinned via
        // hotLoadTestHook, which lands a real mutation in this window)
        GraphHot(now, vecs, nbrs, entries, tombs)
      }
    })
  }

  /** [[graphSearchIndexed]]'s SERVING twin: the same deterministic beam
    * walk — same entry ring, same (score desc, id asc) beam and final
    * tiebreaks, same tombstone semantics — executed driver-side against
    * the hot image, so a request costs ZERO Spark jobs (the distributed
    * spelling pays ~11 jobs of scheduler latency per request, which is
    * the whole tail under a concurrent serving burst; GraphServeSpec
    * pins row-for-row equality against it on the clean AND tombstoned
    * layouts). The query vector is fetched from the hot image by id —
    * the layout stores the corpus vectors — so an unknown id returns
    * the empty relation exactly like the distributed spelling's empty
    * query frame. At 100 TB this is the hot shard tier: each serving
    * node holds its shard's graph in RAM and refreshes from the at-rest
    * layout on its version stamp.
    *
    * Query-vector resolution (r20, ADVICE r19): the hot image stores the
    * corpus vectors, so an INDEXED id resolves locally for free; an id
    * absent from the layout consults `fallbackVec` — the serving dispatch
    * passes the embeddings-table lookup, so "in the corpus but not (yet)
    * in this layout" executes the walk with that query vector exactly
    * like the distributed spelling would (GraphServeSpec pins it), and
    * only an id known to NEITHER returns the empty relation (the
    * distributed empty-query-frame analog). */
  def graphSearchServeById(s: SparkSession, path: String, queryId: Long,
      k: Int, beam: Int = 32, hops: Int = 3, buckets: Int = 32,
      fallbackVec: Long => Option[Array[Double]] = _ => None): DataFrame = {
    requireBucketsMeta(s, path, buckets)
    val hot = graphHotFor(s, path)
    val qv = Option(hot.vecs.get(queryId))
      .orElse(fallbackVec(queryId)).orNull
    if (qv == null) return localRows(s, GraphServeSchema, Nil)
    // `scores` holds every VISITED live id, null score included — the
    // distributed walk keeps null-cosine rows (zero-norm or mismatched-
    // length vectors) in its visited frame, where desc ordering sorts
    // them last (ties by id asc); dropping them here would diverge from
    // that spelling the moment a beam or final cut reaches past the
    // non-null candidates (GraphServeSpec pins row equality)
    val scores = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    def score(ids: Iterable[Long]): Unit = ids.foreach { id =>
      if (!hot.tombs.contains(id) && !scores.containsKey(id)) {
        val v = hot.vecs.get(id)
        if (v != null) scores.put(id, VectorKernels.cosine(v, qv))
      }
    }
    def top(n: Int): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      val (nonNull, nulls) = scores.entrySet().asScala.toSeq
        .partition(_.getValue != null)
      (nonNull.sortBy(e => (-e.getValue.doubleValue(), e.getKey.longValue()))
        ++ nulls.sortBy(_.getKey.longValue()))
        .take(n).map(_.getKey.longValue())
    }
    val liveEntries = hot.entries.filterNot(hot.tombs.contains(_))
    score(liveEntries)
    val seen = scala.collection.mutable.Set[Long](liveEntries: _*)
    var beamIds = top(beam)
    var h = 0
    while (h < hops && beamIds.nonEmpty) {
      val fresh = beamIds.iterator
        .flatMap(b => Option(hot.nbrs.get(b)).iterator.flatten)
        .filterNot(n => hot.tombs.contains(n) || seen(n))
        .toSet
      if (fresh.nonEmpty) { score(fresh); seen ++= fresh }
      beamIds = top(beam)
      h += 1
    }
    localRows(s, GraphServeSchema, top(k).map(id => InternalRow(id, scores.get(id))))
  }

  /** [[graphSearchServeById]]'s rows: a non-null id and a nullable score,
    * the schema `toDF("id", "score")` gives `(Long, Option[Double])`
    * tuples, written out so a request derives no encoder. */
  private val GraphServeSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("score", DoubleType)))

  /** HNSW-style incremental insert into a [[writeGraphIndex]] layout:
    * each new row (in ascending-id order — deterministic) (1) beam-
    * searches its top-`linkK` live neighbors on the CURRENT index
    * ([[graphSearchIndexed]] — so earlier rows of the same batch are
    * already linkable), (2) appends its (id, vec) into its node bucket,
    * (3) appends forward (new→nbr) and REVERSE (nbr→new) edges into the
    * respective source buckets — the undirected linking HNSW does, which
    * is what keeps a new node reachable. Existing k-lists are not
    * re-pruned at insert time (degree grows by appends until the
    * periodic rebuild — the add-vs-train split every index family here
    * uses), and the FROZEN entry ring does not admit new members until
    * that rebuild.
    *
    * Cost: one bounded beam search (`entries + hops·beam·outdeg` scores)
    * plus three bucket appends PER ROW, independent of corpus size — the
    * published per-insert cost of graph ANN, which is why the batch is
    * collected to the driver and walked sequentially (micro-batch-sized
    * by the ingest contract; a bulk load belongs in the batch builder,
    * not here). */
  def appendToGraphIndex(rows: DataFrame, id: Column, vec: Column,
      path: String, linkK: Int = 3, beam: Int = 8, hops: Int = 3,
      buckets: Int = 32): Unit = {
    val s = rows.sparkSession
    requireBucketsMeta(s, path, buckets)
    val batch = rows.select(id.cast("long").as("id"), vec.as("vec"))
      .localCheckpoint()
    // match the store's edge schema: a cos-carrying layout gets the
    // insert's exact search score as the new links' weight (symmetric,
    // so the reverse edge carries the same value); an id-only layout
    // stays id-only — never mix schemas within one store
    val withCos = s.read.parquet(s"$path/edges").columns.contains("cos")
    val ids = batch.select("id").collect().map(_.getLong(0)).sorted
    ids.foreach { nid =>
      val one = batch.filter(col("id") === nid)
      val nbrs = graphSearchIndexed(s, path,
          one.select(col("vec").as("qv")), k = linkK, beam, hops, buckets)
        .select("id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      one.withColumn("bkt", pmod(col("id"), lit(buckets.toLong)).cast("int"))
        .write.mode("append").partitionBy("bkt").parquet(s"$path/nodes")
      if (nbrs.nonEmpty) {
        import s.implicits._
        val links =
          nbrs.map { case (nb, c) => (nid, nb, c) } ++
            nbrs.map { case (nb, c) => (nb, nid, c) }
        val df =
          if (withCos) links.toDF("__vid", "nbr_id", "cos")
          else links.map { case (a, b, _) => (a, b) }.toDF("__vid", "nbr_id")
        df.withColumn("bkt", pmod(col("__vid"), lit(buckets.toLong)).cast("int"))
          .write.mode("append").partitionBy("bkt").parquet(s"$path/edges")
      }
    }
    bumpLayoutVersion(path)
  }

  /** Physically apply graph tombstones: rewrite the node buckets holding
    * deleted ids, every edge bucket holding an edge that TOUCHES a
    * deleted id (either endpoint — a target-deleted edge lives in its
    * source's bucket, so the touched set comes from one index scan, as
    * compaction may), and the entry ring; then drop the store. Each leaf
    * goes through [[graft.sources.Tombstones.rewriteLive]]'s crash-safe
    * swap — crash anywhere leaves tombstones in place and the re-run
    * idempotent. */
  def compactGraphIndex(s: SparkSession, path: String,
      onStep: String => Unit = _ => ()): Unit = {
    import graft.sources.Tombstones
    Tombstones.healPartitions(s, s"$path/nodes")
    Tombstones.healPartitions(s, s"$path/edges")
    Tombstones.ids(s, path).foreach { t =>
      val tomb = t.select(t("id").as("__t")) // avoid id-vs-id ambiguity
      val nodeBkts = s.read.parquet(s"$path/nodes")
        .join(tomb, col("id") === col("__t"), "left_semi")
        .select(col("bkt").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      nodeBkts.foreach { b =>
        Tombstones.rewriteLive(s, s"$path/nodes/bkt=$b",
          df => df.join(tomb, col("id") === col("__t"), "left_anti"), onStep)
      }
      val edgeBkts = s.read.parquet(s"$path/edges")
        .join(tomb,
          col("__vid") === col("__t") || col("nbr_id") === col("__t"),
          "left_semi")
        .select(col("bkt").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      edgeBkts.foreach { b =>
        Tombstones.rewriteLive(s, s"$path/edges/bkt=$b",
          df => df.join(tomb,
              col("__vid") === col("__t") || col("nbr_id") === col("__t"),
              "left_anti"), onStep)
      }
      Tombstones.rewriteLive(s, s"$path/entries",
        df => df.join(tomb, col("id") === col("__t"), "left_anti"), onStep)
      Tombstones.clear(s, path)
      bumpLayoutVersion(path)
    }
  }

  /** Periodic batch rebuild of a [[writeGraphIndex]] layout — the
    * "train" half of the graph family's add-vs-train split, closing the
    * staleness every other graph operation defers to ("frozen until the
    * periodic rebuild"): re-trains a k-means codebook on the LIVE nodes
    * (pre-snapshot tombstones applied — deleted vectors neither train
    * nor survive), re-derives the edge set (blocked seed ∪ md5 ring, one
    * NN-Descent pass — so append-era nodes get their reverse links
    * re-pruned and cross-cluster edges recovered), and REFRESHES the
    * entry ring (deleted members replaced, appended nodes eligible).
    *
    * Migration discipline = [[retrainIvfIndex]]'s: stage the whole new
    * tree, CATCH UP nodes appended while building by re-inserting them
    * into the staged graph ([[appendToGraphIndex]] — re-linking in the
    * NEW topology is the semantically right carry for a graph, their old
    * edge appends are obsolete), carry `_batch_*` replay markers and
    * mid-migration tombstone files unapplied, then vacate/swap. Crash
    * anywhere: the function-start heal renames the old tree back and a
    * re-run converges; pre-swap states leave the old tree serving with
    * its tombstones intact. Caller picks `kmeansK` ∝ N (the
    * [[knnGraph]] hot-cluster guard rejects a degenerate codebook). */
  def rebuildGraphIndex(s: SparkSession, indexPath: String,
      kmeansK: Int, linkK: Int = 3, ringR: Int = 2, rounds: Int = 1,
      entriesN: Int = 64, buckets: Int = 32,
      onStep: String => Unit = _ => ()): Unit = {
    import org.apache.hadoop.fs.Path
    val pathP = new Path(indexPath)
    val f = pathP.getFileSystem(s.sparkContext.hadoopConfiguration)
    val oldP = new Path(s"${indexPath}__rebuild_old")
    val tmpP = new Path(s"${indexPath}__rebuild_staging")
    if (!f.exists(pathP) && f.exists(oldP)) f.rename(oldP, pathP)
    f.delete(tmpP, true)
    f.delete(oldP, true)
    def nodeFiles(base: Path): Set[String] = {
      val root = new Path(base, "nodes")
      if (!f.exists(root)) return Set.empty
      val qRoot = f.makeQualified(root).toString
      val it = f.listFiles(root, true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toString.stripPrefix(qRoot)
        val hidden = rel.split('/').exists(c =>
          c.startsWith("_") || c.startsWith("."))
        if (st.isFile && !hidden) out += rel
      }
      out.toSet
    }
    def readNodeFiles(base: Path, rel: Set[String]): DataFrame = {
      val qRoot = f.makeQualified(new Path(base, "nodes")).toString
      s.read.option("basePath", qRoot)
        .parquet(rel.toSeq.sorted.map(r => qRoot + r): _*)
        .select("id", "vec")
    }
    def tombFiles(base: Path): Set[String] = {
      val d = new Path(base, graft.sources.Tombstones.DirName)
      if (!f.exists(d)) Set.empty
      else f.listStatus(d).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        .map(_.getPath.getName).toSet
    }
    val tomb0 = tombFiles(pathP)
    val applied: Option[DataFrame] =
      if (tomb0.isEmpty) None
      else Some(s.read.schema(graft.sources.Tombstones.Schema).parquet(tomb0.toSeq.sorted
        .map(n => s"${graft.sources.Tombstones.dir(indexPath)}/$n"): _*)
        .select(col("id").as("__t")).distinct())
    var seen = nodeFiles(pathP)
    val snapshot0 = readNodeFiles(pathP, seen)
    val snapshot = (applied match {
      case Some(t) => snapshot0.join(t, col("id") === col("__t"), "left_anti")
      case None => snapshot0
      // a replay inside appendToGraphIndex's marker window can duplicate
      // a node row; the rebuild is where those dups die
    }).dropDuplicates("id").localCheckpoint()
    val cents = kmeansTrain(snapshot, col("id"), col("vec"), kmeansK)
    val seed = knnGraph(snapshot, col("id"), col("vec"), cents, linkK)
      .select(col("__vid"), col("nbr_id"))
      .unionByName(hashRingEdges(snapshot, col("id"), r = ringR))
    // a rebuild must PRESERVE the store's edge schema: a cos-carrying
    // layout (writeGraphIndex's optional weight column) keeps its
    // weights — nnDescend derives them anyway — or a weighted reader
    // would break after a semantics-preserving periodic rebuild
    val hadCos = f.exists(new Path(pathP, "edges")) &&
      s.read.parquet(s"$indexPath/edges").columns.contains("cos")
    val edgeCols = if (hadCos) Seq("__vid", "nbr_id", "cos")
      else Seq("__vid", "nbr_id")
    val edges = nnDescend(snapshot, col("id"), col("vec"), seed,
      linkK, rounds).select(edgeCols.head, edgeCols.tail: _*)
    writeGraphIndex(snapshot, col("id"), col("vec"), edges, tmpP.toString,
      entriesN, buckets)
    onStep("staged")
    def catchUp(base: Path): Unit = {
      var delta = nodeFiles(base) -- seen
      while (delta.nonEmpty) {
        appendToGraphIndex(readNodeFiles(base, delta), col("id"), col("vec"),
          tmpP.toString, linkK, buckets = buckets)
        seen ++= delta
        delta = nodeFiles(base) -- seen
      }
    }
    catchUp(pathP)
    def carryMarkers(base: Path): Unit =
      f.listStatus(base).filter(_.getPath.getName.startsWith("_batch_"))
        .foreach { st =>
          val m = new Path(tmpP, st.getPath.getName)
          if (!f.exists(m)) f.create(m, true).close()
        }
    def carryTombs(base: Path): Unit =
      (tombFiles(base) -- tomb0).foreach { n =>
        val dst = new Path(new Path(tmpP, graft.sources.Tombstones.DirName), n)
        if (!f.exists(dst))
          org.apache.hadoop.fs.FileUtil.copy(f,
            new Path(new Path(base, graft.sources.Tombstones.DirName), n),
            f, dst, false, s.sparkContext.hadoopConfiguration)
      }
    carryMarkers(pathP)
    carryTombs(pathP)
    onStep("prepared")
    f.rename(pathP, oldP)
    onStep("vacated")
    catchUp(oldP)
    carryMarkers(oldP)
    carryTombs(oldP)
    f.rename(tmpP, pathP)
    onStep("swapped")
    f.delete(oldP, true)
  }

  /** Q2 scoring core — for each query segment find the best-cosine db
    * segment per image (A13 argmax), then avg/max across query segments
    * per image (A12). `qSegs` carries one vector per query segment in
    * `qv` (+ a `qseg` id). */
  def segmentScores(dbSegs: DataFrame, // (image_id, embedding)
      qSegs: DataFrame): DataFrame = {
    val s = dbSegs.sparkSession
    dbSegs.crossJoin(broadcast(qSegs))
      .withColumn("cos", fusedCosine(s, col("qv"), col("embedding")))
      .groupBy("image_id", "qseg").agg(max("cos").as("best"))
      .groupBy("image_id")
      .agg(avg("best").as("avg_sim"), max("best").as("max_sim"))
  }

  /** Q3 combine — weighted two-stage score with the reference's
    * missing-segment→0.0 default (`search_with_segments.py:427,430`). */
  def hybridCombine(whole: DataFrame, // (image_id, whole_score)
      seg: DataFrame, // (image_id, avg_sim)
      wWhole: Double, wSeg: Double, k: Int): DataFrame =
    whole.join(seg, Seq("image_id"), "left")
      .withColumn("seg_score", coalesce(col("avg_sim"), lit(0.0)))
      .withColumn("hybrid_score",
        col("whole_score") * wWhole + col("seg_score") * wSeg)
      .orderBy(desc("hybrid_score"), asc("image_id")).limit(k)

  /** Q3 — the full two-stage hybrid mode as one call
    * (`search_with_segments.py:345-445`): stage 1 ranks whole-image
    * vectors and keeps a pool of max(poolFactor·k, poolMin) candidates;
    * stage 2 computes segment scores for the pool ONLY; final score
    * `wWhole·whole + wSeg·coalesce(segment, 0)`. Stage 1 uses the same
    * `cos + 1.0` calibration as the standalone whole-image mode (the ES
    * script_score, `search_with_segments.py:159,425`), so the reported
    * whole/hybrid scores match the reference's, not just the ranking.
    * The pool bound is a semantic feature (it caps rerank cost) and the
    * 100 TB story: the quadratic segment matching only ever sees `pool`
    * images.
    *
    * `wholeVecs`: (image_id, wv); `dbSegs`: (image_id, embedding);
    * `queryWhole`: one row (qv); `qSegs`: (qseg, qv). */
  def hybrid(wholeVecs: DataFrame, dbSegs: DataFrame,
      queryWhole: DataFrame, qSegs: DataFrame, k: Int,
      wWhole: Double = 0.4, wSeg: Double = 0.6,
      poolFactor: Int = 20, poolMin: Int = 100): DataFrame = {
    val pool = math.max(poolFactor * k, poolMin)
    val whole = knnBrute(wholeVecs, col("wv"), queryWhole, pool,
      tie = col("image_id"), offset = 1.0)
      .select(col("image_id"), col("score").as("whole_score"))
    val candSegs = dbSegs.join(broadcast(whole.select("image_id")), "image_id")
    val seg = segmentScores(candSegs, qSegs).select(col("image_id"), col("avg_sim"))
    hybridCombine(whole, seg, wWhole, wSeg, k)
  }

  /** Q4 — tag search with per-object conjunction (tag ∈ set AND conf ≥
    * minConf on the SAME segment row); deterministic score = max matching
    * confidence (documented BM25 replacement, SURVEY.md §7.4). */
  def tagSearch(segTable: DataFrame, // (image_id, tag, conf)
      tags: Seq[String], minConf: Double, k: Int): DataFrame =
    segTable
      .filter(col("tag").isin(tags: _*) && col("conf") >= minConf)
      .groupBy("image_id")
      .agg(count(lit(1)).as("n_matched"), max("conf").as("best_conf"))
      .orderBy(desc("best_conf"), asc("image_id")).limit(k)

  // --- the point band, served from the driver ------------------------------

  /** A driver-held copy of the three tables the point band reads, rows
    * as Spark computed them: whole vectors `(image_id: bigint, wv)`,
    * segments `(image_id: bigint, tag, conf: double)` and embeddings
    * `(vec_id: bigint, embedding)` widened to doubles. [[knnServeById]]
    * and [[tagSearchServe]] answer from it with the rows [[knnBrute]] and
    * [[tagSearch]] give over those tables, as a `LocalRelation`, so a
    * request runs no Spark job; the schemas are the distributed plans'
    * own, resolved once at load. [[vecPoolServe]] gives rrf's dense pool
    * from the embeddings, which the image holds only when they too fit
    * (see [[pointImage]]). Query-independent, so one image serves every
    * request (the session reuse of the EDBT 2020 top-k framework,
    * PAPERS.md). */
  final class PointImage private[Search] (
      private[Search] val ids: Array[Long],
      private[Search] val vecs: Array[Array[Double]],
      private[Search] val at: scala.collection.mutable.LongMap[Int],
      private[Search] val byTag: Map[String, (Array[Long], Array[Double])],
      private[Search] val emb: Option[Embeddings],
      private[Search] val knnSchema: StructType,
      private[Search] val tagSchema: StructType)

  /** The embeddings `(vec_id, embedding)` widened to doubles, and each
    * vec_id's row. */
  final class Embeddings private[Search] (
      private[Search] val ids: Array[Long],
      private[Search] val vecs: Array[Array[Double]],
      private[Search] val at: scala.collection.mutable.LongMap[Int])

  /** Load the [[PointImage]] of `vecs`, `segTable` and `emb`, or None —
    * then the distributed plans of `whole` and `tags` serve — when the
    * on-disk bytes of `vecs` and `segTable` are over the graph hot tier's
    * driver budget ([[hotMaxBytes]]), when a whole-vector id repeats or is
    * null, or when a segment has no id (the image keys rows by id). The
    * embeddings, which only rrf's dense pool reads, are held when the
    * three tables' bytes fit the budget together and every vec_id is
    * present and unique; otherwise only rrf runs its distributed plan. */
  def pointImage(vecs: DataFrame, segTable: DataFrame, emb: DataFrame): Option[PointImage] = {
    val hadoop = vecs.sparkSession.sparkContext.hadoopConfiguration
    def bytes(files: Seq[String]) = files.distinct.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hadoop).getFileStatus(p).getLen
    }.sum
    val files = (vecs.inputFiles ++ segTable.inputFiles).toSeq
    if (bytes(files) > hotMaxBytes) return None
    def byId(rows: Array[Row]) = {
      val at = scala.collection.mutable.LongMap.empty[Int]
      rows.indices.foreach(i => at(rows(i).getLong(0)) = i)
      at
    }
    def vecsOf(rows: Array[Row]) =
      rows.map(r => if (r.isNullAt(1)) null else widen(r.get(1)))
    // a null id can neither be the query nor pass `image_id != query`
    val v = vecs.select("image_id", "wv").collect().filterNot(_.isNullAt(0))
    val at = byId(v)
    if (at.size != v.length) return None
    val segRows = segTable.select("image_id", "tag", "conf").collect()
    if (segRows.exists(_.isNullAt(0))) return None
    // a null tag or conf never passes the filter
    val byTag = segRows.filterNot(r => r.isNullAt(1) || r.isNullAt(2))
      .groupBy(_.getString(1))
      .map { case (t, rs) => t -> (rs.map(_.getLong(0)), rs.map(_.getDouble(2))) }
    val knnSchema = knnBrute(vecs.filter(col("image_id") =!= 0L), col("wv"),
        vecs.select(col("wv").as("qv")), 1, tie = col("image_id"))
      .select("image_id", "score").schema
    val dense =
      if (bytes(files ++ emb.inputFiles) > hotMaxBytes) None
      else {
        val e = emb.select("vec_id", "embedding").collect()
        // a null vec_id would rank in rrf's dense pool, so it is refused
        lazy val embAt = byId(e)
        if (e.exists(_.isNullAt(0)) || embAt.size != e.length) None
        else Some(new Embeddings(e.map(_.getLong(0)), vecsOf(e), embAt))
      }
    Some(new PointImage(v.map(_.getLong(0)), vecsOf(v), at, byTag, dense,
      knnSchema, tagSearch(segTable, Nil, 0.0, 1).schema))
  }

  /** The ids of rrf's dense pool ([[Lexical.rrfHybridK]]'s vector leg)
    * served from the image, in rank order: the first [[Lexical.PoolN]]
    * embeddings by `round(graft_cosine(embedding, query's), 6)` desc
    * (nulls last), vec_id asc, the query itself included. Empty when
    * `queryId` has no embedding row, as the distributed pool's empty
    * query frame is; None when the image holds no embeddings. */
  def vecPoolServe(img: PointImage, queryId: Long): Option[Seq[Long]] =
    img.emb.map(e => e.at.get(queryId).toSeq.flatMap { q =>
      val qv = e.vecs(q)
      val cs = e.vecs.map { v =>
        val c = if (v == null || qv == null) null else VectorKernels.cosine(v, qv)
        if (c == null) null else java.lang.Double.valueOf(roundHalfUp(c, 6))
      }
      topByScore(e.ids, cs, Lexical.PoolN).map(e.ids)
    })

  /** [[knnBrute]]'s serving twin: the `k` nearest whole vectors to image
    * `queryId`'s, itself excluded, scored `graft_cosine + offset` with
    * the same kernel ([[graft.functions.VectorKernels]]) and ordered
    * score desc (nulls last), id asc. An id not in the image gives the
    * empty relation, as the distributed plan's empty query frame does. */
  def knnServeById(s: SparkSession, img: PointImage, queryId: Long, k: Int,
      offset: Double = 0.0): DataFrame = {
    require(k >= 0, s"top_k must be >= 0, got $k")
    val rows = img.at.get(queryId).toSeq.flatMap { q =>
      val qv = img.vecs(q)
      val cand = img.ids.indices.filter(_ != q).toArray
      val score = cand.map { i =>
        val v = img.vecs(i)
        val c = if (v == null || qv == null) null else VectorKernels.cosine(v, qv)
        if (c == null) null else java.lang.Double.valueOf(c + offset)
      }
      val ids = cand.map(img.ids)
      topByScore(ids, score, k).map(i => InternalRow(ids(i), score(i)))
    }
    localRows(s, img.knnSchema, rows)
  }

  /** [[tagSearch]]'s serving twin: per image, the segments with tag ∈
    * `tags` and conf ≥ `minConf` counted and their best conf taken,
    * ordered best desc, id asc. Doubles compare as Spark compares them
    * (`SQLOrderingUtil`, NaN above all). */
  def tagSearchServe(s: SparkSession, img: PointImage, tags: Seq[String],
      minConf: Double, k: Int): DataFrame = {
    require(k >= 0, s"top_k must be >= 0, got $k")
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val n = scala.collection.mutable.LongMap.empty[Long]
    val best = scala.collection.mutable.LongMap.empty[Double]
    for (t <- tags.distinct; (ids, confs) <- img.byTag.get(t); i <- ids.indices
         if compareDoubles(confs(i), minConf) >= 0) {
      val (id, c) = (ids(i), confs(i))
      n(id) = n.getOrElse(id, 0L) + 1L
      if (best.get(id).forall(b => compareDoubles(c, b) > 0)) best(id) = c
    }
    val ids = n.keys.toArray
    val score = ids.map(id => java.lang.Double.valueOf(best(id)))
    localRows(s, img.tagSchema,
      topByScore(ids, score, k).map(i => InternalRow(ids(i), n(ids(i)), score(i))))
  }

  /** The first `k` indices of `ids` under `ORDER BY score DESC NULLS LAST,
    * id ASC`, doubles compared as Spark's sort compares them. */
  private[operators] def topByScore(ids: Array[Long], score: Array[java.lang.Double],
      k: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    Array.range(0, ids.length).sorted(new Ordering[Int] {
      def compare(i: Int, j: Int): Int = {
        val (a, b) = (score(i), score(j))
        val bys =
          if (a == null) { if (b == null) 0 else 1 }
          else if (b == null) -1
          else compareDoubles(b, a)
        if (bys != 0) bys else java.lang.Long.compare(ids(i), ids(j))
      }
    }).take(k).toSeq
  }

  /** Spark's `round(x, scale)` of a double (`RoundBase`): HALF_UP through
    * Scala's `BigDecimal(x)`, NaN and the infinities unchanged. */
  private[operators] def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private[operators] def localRows(s: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    GraftSqlShim.ofRows(s, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
