package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Takedown tombstones for the at-rest index layouts — the
  * right-to-be-forgotten half of index maintenance that the append paths
  * deliberately lack. A 100 TB training-data lake receives deletion
  * requests (DMCA, GDPR, contaminated-source recalls) continuously;
  * rewriting a petabyte-scale index per request is not an option, and
  * neither is serving the deleted rows until a scheduled rebuild. The
  * standard answer — Lucene's `liveDocs`, Delta/Iceberg delete files —
  * is a TOMBSTONE: an O(|deletes|) side-table of deleted row ids that
  * every probe anti-joins, plus a scheduled compaction that applies the
  * tombstones physically and drops them. This object is that store,
  * shared by all three index families ([[graft.operators.Search]] IVF,
  * [[graft.operators.Dedup]] MinHash signatures,
  * [[graft.operators.Lexical]] inverted index).
  *
  * Layout: `<indexDir>/_tombstones/` — an append-only parquet dir of
  * one long `id` column. The underscore prefix keeps it invisible to
  * every Spark read of the index root (`InMemoryFileIndex` filters
  * underscore-prefixed paths), so data scans can never confuse
  * tombstones for rows. Duplicate appends are harmless (readers
  * `distinct()`); delete-of-nonexistent-id is a no-op by construction
  * (anti-join matches nothing) — both make retries trivially safe.
  */
object Tombstones {

  val DirName = "_tombstones"

  def dir(indexDir: String): String = s"$indexDir/$DirName"

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The store's fixed schema, as [[add]] writes it: reads pass it to
    * the reader, so a probe of a tombstoned index runs no
    * schema-inference job over the store's footers. */
  val Schema: StructType = StructType(Seq(StructField("id", LongType)))

  /** Record `idCol` of `ids` as deleted. O(|ids|) — no index data file
    * is touched; serving excludes the ids immediately (every probe path
    * filters through [[dropDeleted]]) and compaction reclaims the space
    * later. Append-mode parquet: concurrent adds interleave safely
    * (distinct files), and a crashed add leaves only uncommitted temp
    * files. */
  def add(ids: DataFrame, idCol: Column, indexDir: String): Unit =
    ids.select(idCol.cast("long").as("id"))
      .write.mode("append").parquet(dir(indexDir))

  /** The distinct deleted ids, or None when nothing was ever deleted
    * (the common case — probes skip the anti-join entirely, so an index
    * with no deletes pays nothing for the capability). */
  def ids(s: SparkSession, indexDir: String): Option[DataFrame] = {
    val p = new Path(dir(indexDir))
    if (fs(s, p).exists(p)) Some(s.read.schema(Schema).parquet(dir(indexDir)).distinct())
    else None
  }

  /** Filter `df` to live rows: anti-join `idCol` against the tombstone
    * set. The tombstone side is takedown-request-sized — Spark
    * broadcasts it off its parquet stats, so at lake scale this is a
    * broadcast-anti against every scan, the same plan shape Delta uses
    * for its deletion vectors' fallback path. */
  def dropDeleted(df: DataFrame, idCol: Column, indexDir: String): DataFrame =
    ids(df.sparkSession, indexDir) match {
      // reserved alias: with the store's own `id` name, a corpus whose id
      // column is ALSO literally `id` would make idCol ambiguous between
      // the two join sides
      case Some(t) =>
        df.join(t.select(t("id").as("__graft_tomb_id")),
          idCol === col("__graft_tomb_id"), "left_anti")
      case None => df
    }

  /** Drop the tombstone store — called by compaction AFTER the physical
    * rewrite completes. Crash-ordering contract: clearing last means a
    * crash anywhere mid-compaction leaves tombstones in place, probes
    * stay correct (they filter rows the rewrite already removed — a
    * no-op), and the re-run is idempotent. */
  def clear(s: SparkSession, indexDir: String): Unit = {
    val p = new Path(dir(indexDir))
    fs(s, p).delete(p, true)
  }

  private val OldSuffix = "__rw_old"
  private val StagingSuffix = "__rw_staging"
  private val SwapMarker = "_RW_SWAPPED"

  /** Scratch dirs are SIBLINGS of the partition dir and must be
    * invisible to Spark's partition discovery — `cluster=3__rw_old`
    * would be parsed as partition value "3__rw_old" and blow up the
    * next full-table read (a real crash-recovery bug this naming
    * prevents; spec-pinned). Dot-prefix hides them. */
  private def oldPath(p: Path) = new Path(p.getParent, s".${p.getName}$OldSuffix")
  private def stagingPath(p: Path) = new Path(p.getParent, s".${p.getName}$StagingSuffix")

  private def mustRename(f: org.apache.hadoop.fs.FileSystem,
      src: Path, dst: Path, what: String): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"$what rename failed: $src -> $dst")

  private def dataFiles(f: org.apache.hadoop.fs.FileSystem, root: Path): Seq[String] =
    f.listStatus(root).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName)

  /** A parquet file's footer, read on the driver (no Spark job). */
  private def footer(s: SparkSession, file: Path) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, s.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** Rows in the data files directly under `root`, summed from their
    * footers. */
  private def footerRows(s: SparkSession, f: org.apache.hadoop.fs.FileSystem,
      root: Path): Long =
    dataFiles(f, root).map { n =>
      footer(s, new Path(root, n)).getBlocks.asScala.map(_.getRowCount).sum
    }.sum

  /** A reader with the schema Spark wrote into `file`'s footer, which
    * is what schema inference would read, without inference's Spark
    * job. A file without that key (not written by Spark) leaves it to
    * inference. */
  private def readerFor(s: SparkSession, file: Path) =
    Option(footer(s, file).getFileMetaData
        .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .fold(s.read)(s.read.schema)

  /** Heal [[rewriteLive]] swaps interrupted by a crash, for every
    * partition dir under `tableRoot`. MUST run before any full-table
    * read that follows a possible crash (compaction entry, probe entry):
    * a vacated partition's rows are otherwise invisible. Three states,
    * disambiguated by the swap marker the happy path plants just before
    * rename-in and removes after the old copy is deleted:
    *
    *  - target missing, `.X__rw_old` present → crash between the
    *    renames: rename the old copy back (nothing was lost);
    *  - target present WITH the marker → crash after the swap: the
    *    staged copy is live, the old copy is redundant — delete it,
    *    drop the marker;
    *  - target present WITHOUT the marker → an append recreated the
    *    vacated dir before the swap-in could land (the rename-in then
    *    fails loudly): move the old copy's files back in beside the
    *    append's — the pre-rewrite state plus the append, nothing lost,
    *    and the still-present tombstones make the retry exact.
    *
    * Leftover staging dirs always predate the swap-in and are deleted
    * (their content is rebuilt by the retry). Idempotent; cheap (one
    * listing) when there is nothing to heal. */
  def healPartitions(s: SparkSession, tableRoot: String): Unit = {
    val root = new Path(tableRoot)
    val f = fs(s, root)
    if (!f.exists(root)) return
    f.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") && n.endsWith(OldSuffix)) {
        val target = new Path(root, n.stripPrefix(".").stripSuffix(OldSuffix))
        val marker = new Path(target, SwapMarker)
        if (!f.exists(target)) mustRename(f, st.getPath, target, "heal")
        else if (f.exists(marker)) { f.delete(st.getPath, true); f.delete(marker, false) }
        else {
          dataFiles(f, st.getPath).foreach { fn =>
            val dst = new Path(target, fn)
            if (!f.exists(dst)) mustRename(f, new Path(st.getPath, fn), dst, "heal-merge")
          }
          f.delete(st.getPath, true)
        }
      } else if (n.startsWith(".") && n.endsWith(StagingSuffix)) {
        f.delete(st.getPath, true)
      } else {
        val marker = new Path(st.getPath, SwapMarker)
        if (st.isDirectory && f.exists(marker)) f.delete(marker, false)
      }
    }
  }

  /** Rewrite one parquet leaf directory (a partition dir of a
    * `partitionBy` layout) through `rewrite`, with the
    * [[Compact.compactParquet]] swap discipline plus a catch-up carry
    * for files appended while the rewrite ran:
    *
    *  1. self-heal a previous crash ([[healPartitions]] states, for
    *     this dir);
    *  2. snapshot the file listing and stage `rewrite(read(snapshot))`
    *     durably in a hidden sibling dir — the read names the snapshot
    *     files explicitly, so a file appended mid-job is neither
    *     half-read nor double-counted;
    *  3. rename(dir → .dir__rw_old); any file there that was NOT in the
    *     snapshot arrived during staging — move it into the staged dir
    *     VERBATIM (appends carry rows the rewrite has no business
    *     touching: for tombstone-apply, append batches are new ids by
    *     the ingest contract);
    *  4. plant the swap marker and rename(staging → dir) — unless the
    *     staged result is EMPTY (every row rewritten away and nothing
    *     carried), in which case the partition directory is simply
    *     removed, the correct physical form of an all-deleted partition;
    *  5. delete the old copy, drop the marker.
    *
    * Every intermediate state keeps a complete durable copy; `onStep`
    * is the crash-injection seam (labels prefixed with the dir name).
    *
    * `stampFile`: an empty `_`-prefixed file created INSIDE the staged
    * dir before the swap, so it becomes visible ATOMICALLY with the
    * rewritten data — the commit-record hook for callers whose rewrite
    * is not idempotent (additive count merges): a replay that finds the
    * stamp in the live dir knows this exact rewrite already swapped in,
    * with no marker-vs-data race window. Underscore names are invisible
    * to parquet readers and excluded from [[dataFiles]], so stamps are
    * never snapshotted, carried, or counted as rows; a leaf's NEXT
    * rewrite stages fresh files only, so old stamps die with the old
    * copy. */
  def rewriteLive(s: SparkSession, leafDir: String,
      rewrite: DataFrame => DataFrame,
      onStep: String => Unit = _ => (),
      stampFile: Option[String] = None): Unit = {
    val p = new Path(leafDir)
    val f = fs(s, p)
    val oldP = oldPath(p)
    val tmpP = stagingPath(p)
    healPartitions(s, p.getParent.toString)
    if (!f.exists(p)) return
    val snapshot = dataFiles(f, p)
    if (snapshot.isEmpty) return
    rewrite(readerFor(s, new Path(p, snapshot.head)).parquet(snapshot.map(n => s"$leafDir/$n"): _*))
      .write.mode("overwrite").parquet(tmpP.toString)
    stampFile.foreach { n =>
      require(n.startsWith("_"),
        s"rewriteLive stampFile must be _-prefixed (parquet-invisible), got $n")
      f.create(new Path(tmpP, n), true).close()
    }
    onStep(s"${p.getName}:staged")
    mustRename(f, p, oldP, "vacate")
    onStep(s"${p.getName}:vacated")
    // carry straddling appends verbatim (moved WITH the dir by the rename)
    val carried = dataFiles(f, oldP).toSet -- snapshot.toSet
    carried.foreach { n =>
      mustRename(f, new Path(oldP, n), new Path(tmpP, n), "carry")
    }
    // "all rows deleted" must be decided on ROWS, not files — an empty
    // DataFrame still writes a zero-row part file to preserve schema
    val hasRows = carried.nonEmpty || footerRows(s, f, tmpP) > 0
    if (hasRows) {
      f.create(new Path(tmpP, SwapMarker), true).close()
      // an append may have recreated the dir since the vacate; renaming
      // over it would nest on HDFS and clobber on local — fail loudly,
      // healPartitions reunites the copies and the retry converges
      if (f.exists(p))
        throw new java.io.IOException(
          s"partition $p recreated by a concurrent append during the swap")
      mustRename(f, tmpP, p, "swap")
      onStep(s"${p.getName}:swapped")
      f.delete(oldP, true)
      f.delete(new Path(p, SwapMarker), false)
    } else {
      f.delete(tmpP, true) // all rows deleted: the partition dir goes
      onStep(s"${p.getName}:swapped")
      f.delete(oldP, true)
    }
  }
}
