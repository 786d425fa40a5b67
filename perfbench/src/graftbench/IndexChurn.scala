package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Lexical, Retrieval, Search}

/** The index part of `batch_suite`'s pass: private copies of three at-rest
  * index families (lexical, IVF, graph), built during set-up from a fixed
  * slice of sf0.1 in the run's own directory, and a churn cycle of seeded
  * appends, deletes of the appended rows, reads and compactions. Every
  * append, delete, compaction and read is one op. */
object IndexChurn {

  /** The slice of sf0.1 the indexes are built from: the documents and
    * vectors with the lowest ids. Small enough that every op costs about
    * as much as a batch query; the families are the ones `serve_search`
    * and the batch queries read at full size. */
  val DocSlice = 1000L
  val VecSlice = 500L
  /** Rows per append batch (and per delete batch). */
  val Batch = 1
  /** Hash buckets of the lexical and graph layouts (the defaults are 64
    * and 32). An append or compaction rewrites every bucket it touches,
    * one Spark job each, and a one-row batch touches nearly all of them,
    * so the bucket count sets the cost of the write ops. */
  val Buckets = 2
  /** New ids start here, above every id of the corpus. */
  val FreshIdBase = 10000000L

  val Kinds: Seq[String] = Seq("append", "delete", "read", "compact")

  /** One family's index: where it lives and how each op reaches it. */
  trait Family {
    def name: String
    def append(ids: Seq[Long], r: java.util.Random): Unit
    def delete(ids: Seq[Long]): Unit
    def compact(): Unit
    /** The top-10 rows answering a seeded query. The query is drawn the
      * way `append` draws its first row, so a read with a batch's seed
      * asks for the row that batch appended. */
    def read(r: java.util.Random): Seq[Row]
    def idOf(row: Row): Long
    def userBytes(n: Int): Long
    def dir: String
  }

  final class Setup(val s: SparkSession, val data: String, val root: String) {
    import s.implicits._
    val docs: DataFrame = Tables.documents(s, data).filter(col("doc_id") < DocSlice)
      .select("doc_id", "text")
    val vecs: DataFrame = Tables.embeddings(s, data).filter(col("vec_id") < VecSlice)
      .select("vec_id", "embedding", "label")
    val cents: DataFrame = Retrieval.labelCentroids(s, data).select(col("label").as("cid"), col("c"))
    val vocab: IndexedSeq[String] = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    val baseVecs: IndexedSeq[(Array[Float], Int)] = vecs.orderBy("vec_id").collect()
      .map(r => (r.getSeq[Float](1).toArray, r.getInt(2))).toIndexedSeq
    val docCount: Long = docs.count()
    val meanDocBytes: Long = 8 + docs.agg(avg(octet_length(col("text")))).head().getDouble(0).toLong
    val vecBytes: Long = 8 + 4L * baseVecs.head._1.length + 4

    /** A document: a token of its own, then 20 to 49 words drawn from the
      * slice's vocabulary. The vocabulary is small (31 words at sf0.1), so
      * only the own token singles the document out to a query. */
    def docText(r: java.util.Random): Seq[String] =
      f"doc${r.nextInt(1 << 30)}%08x" +: Seq.fill(20 + r.nextInt(30))(vocab(r.nextInt(vocab.size)))

    /** A vector near a random corpus vector. */
    def nearVec(r: java.util.Random): (Array[Float], Int) = {
      val (v, label) = baseVecs(r.nextInt(baseVecs.size))
      (v.map(x => (x + 0.05 * r.nextGaussian()).toFloat), label)
    }

    def query(r: java.util.Random): DataFrame =
      Seq(Tuple1(nearVec(r)._1.toSeq)).toDF("qv")

    def build(): Unit = {
      Lexical.writeInvertedIndex(docs, col("doc_id"), col("text"), s"$root/lexical", Buckets)
      Search.writeIvfIndex(vecs, col("embedding"), cents, s"$root/ivf")
      val seed = Search.knnGraph(vecs, col("vec_id"), col("embedding"), cents, k = 3)
        .select(col("__vid"), col("nbr_id"))
        .unionByName(Search.hashRingEdges(vecs, col("vec_id"), r = 2))
      val edges = Search.nnDescend(vecs, col("vec_id"), col("embedding"), seed, k = 3, rounds = 1)
      Search.writeGraphIndex(vecs, col("vec_id"), col("embedding"),
        edges.select("__vid", "nbr_id", "cos"), s"$root/graph", entriesN = 16, buckets = Buckets)
    }

    def families(base: String): Seq[Family] =
      Seq(new LexicalF(this, s"$base/lexical"), new IvfF(this, s"$base/ivf"), new GraphF(this, s"$base/graph"))

    /** Bytes of the live base rows of a family. */
    def baseBytes(f: Family): Long = f.name match {
      case "lexical" => docCount * meanDocBytes
      case "ivf" => baseVecs.size * vecBytes
      case _ => baseVecs.size * (vecBytes - 4)
    }
  }

  final class LexicalF(st: Setup, val dir: String) extends Family {
    import st.s.implicits._
    def name = "lexical"
    def append(ids: Seq[Long], r: java.util.Random): Unit =
      Lexical.appendToIndex(ids.map(i => (i, st.docText(r).mkString(" "))).toDF("doc_id", "text"),
        col("doc_id"), col("text"), dir, Buckets)
    def delete(ids: Seq[Long]): Unit = Lexical.deleteFromIndex(ids.toDF("doc_id"), col("doc_id"), dir)
    def compact(): Unit = Lexical.mergeIndex(st.s, dir)
    def read(r: java.util.Random): Seq[Row] = {
      val terms = st.docText(r).distinct.take(3)
      Lexical.bm25FromIndex(st.s, dir, terms, Buckets).orderBy(desc("score"), asc("doc_id")).limit(10).collect().toSeq
    }
    def idOf(row: Row): Long = row.getAs[Long]("doc_id")
    def userBytes(n: Int): Long = n * st.meanDocBytes
  }

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  private def vecRows(st: Setup, ids: Seq[Long], r: java.util.Random): DataFrame = {
    val rows = ids.map { i => val (v, l) = st.nearVec(r); Row(i, v.toSeq, l) }
    st.s.createDataFrame(st.s.sparkContext.parallelize(rows, 1), vecSchema)
  }

  final class IvfF(st: Setup, val dir: String) extends Family {
    import st.s.implicits._
    def name = "ivf"
    def append(ids: Seq[Long], r: java.util.Random): Unit =
      Search.appendToIvfIndex(vecRows(st, ids, r), col("embedding"), st.cents, dir)
    def delete(ids: Seq[Long]): Unit = Search.deleteFromIvfIndex(ids.toDF("vec_id"), col("vec_id"), dir)
    def compact(): Unit = Search.compactIvfIndex(st.s, dir, col("vec_id"))
    def read(r: java.util.Random): Seq[Row] =
      Search.knnIvfIndexed(st.s, dir, col("embedding"), st.cents, st.query(r), nprobe = 3, k = 10,
        tie = col("vec_id")).select("vec_id", "score").collect().toSeq
    def idOf(row: Row): Long = row.getAs[Long]("vec_id")
    def userBytes(n: Int): Long = n * st.vecBytes
  }

  final class GraphF(st: Setup, val dir: String) extends Family {
    import st.s.implicits._
    def name = "graph"
    def append(ids: Seq[Long], r: java.util.Random): Unit =
      Search.appendToGraphIndex(vecRows(st, ids, r).select("vec_id", "embedding"),
        col("vec_id"), col("embedding"), dir, linkK = 3, beam = 8, hops = 2, buckets = Buckets)
    def delete(ids: Seq[Long]): Unit = Search.deleteFromGraphIndex(ids.toDF("vec_id"), col("vec_id"), dir)
    def compact(): Unit = Search.compactGraphIndex(st.s, dir)
    def read(r: java.util.Random): Seq[Row] =
      Search.graphSearchIndexed(st.s, dir, st.query(r), k = 10, beam = 16, hops = 2, buckets = Buckets)
        .select("id", "score").collect().toSeq
    def idOf(row: Row): Long = row.getAs[Long]("id")
    def userBytes(n: Int): Long = n * (st.vecBytes - 4)
  }

  def noneDeleted(ids: Seq[Long], deleted: scala.collection.Set[Long]): Boolean =
    !ids.exists(deleted.contains)

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath, StandardCopyOption.COPY_ATTRIBUTES)

  /** The churn state over `fams`: what was appended, what is deleted. */
  final class Churn(st: Setup, val fams: Seq[Family], seed: Long) {
    private val r = new java.util.Random(seed)
    private var nextId = FreshIdBase
    /** Ids deleted so far; the family clients only read it. */
    val deleted = scala.collection.mutable.Set.empty[Long]
    var appendedRows = 0L

    /** Reads return non-empty answers with no deleted id. */
    def readOk(f: Family, rows: Seq[Row]): Boolean =
      rows.nonEmpty && noneDeleted(rows.map(f.idOf), deleted)

    /** One cycle, each family in its own client: append a seeded batch,
      * delete it again (tombstones), read, and compact, 4 ops a family.
      * The read asks for the row just deleted while it is still on disk,
      * so only the tombstone filter keeps it out of the answer; after the
      * compaction the live set is the base slice again. */
    def cycle(exec: BatchSuite.Exec, clients: Seq[ExecutionContext]): Future[Seq[BatchSuite.Op]] = {
      val ids = Seq.fill(Batch) { nextId += 1; nextId }
      // one seed per batch: every family gets the same rows' content
      val seedOf = r.nextLong()
      appendedRows += ids.size
      // every family deletes the batch before it reads
      deleted ++= ids
      val lanes = fams.zip(clients).map { case (f, ec) =>
        Future(Seq(
          exec("append", f.name, Some(f.dir), () => { f.append(ids, new java.util.Random(seedOf)); true }),
          exec("delete", f.name, Some(f.dir), () => { f.delete(ids); true }),
          exec("read", f.name, None, () => readOk(f, f.read(new java.util.Random(seedOf)))),
          exec("compact", f.name, Some(f.dir), () => { f.compact(); true })))(ec)
      }
      implicit val ec: ExecutionContext = ExecutionContext.parasitic
      Future.sequence(lanes).map(_.flatten)
    }
  }

  /** The built indexes of one run: the churned working copy, and the
    * fingerprints of fixed reads over a pristine build of the same
    * slice. */
  final class State(val setup: Setup, val churn: Churn, val pristineReads: Seq[(Long, Fingerprint.Fp)])

  /** The fixed reads of the rebuild check: one seed per family. */
  private def checkSeeds: Seq[Long] = {
    val vr = new java.util.Random(20261017L)
    Seq.fill(3)(vr.nextLong())
  }

  private def readFp(f: Family, seed: Long): Fingerprint.Fp =
    Fingerprint.ofCanon(f.read(new java.util.Random(seed)).map(Fingerprint.canon))

  /** Build the indexes, read the fixed reads of the pristine build (the
    * warm-up of the reads) and copy it. The write ops get no untimed
    * cycle: the builds run most of their code, and a cycle would add
    * about 20 s to every run's set-up. */
  def prepare(c: Ctx): State = {
    val root = new File(c.workDir, "indexes").getPath
    val st = new Setup(c.spark, c.data, s"$root/pristine")
    st.build()
    val pristine = st.families(s"$root/pristine")
    val reads = pristine.zip(checkSeeds).map { case (f, seed) => (seed, readFp(f, seed)) }
    copyTree(new File(s"$root/pristine"), new File(s"$root/work"))
    new State(st, new Churn(st, st.families(s"$root/work"), c.seed), reads)
  }

  /** Incremental ≡ rebuild: after a cycle's compaction the live set is
    * the base slice again, whose fresh build is the pristine one. Returns
    * the families whose fixed read differs between the two. */
  def rebuildMismatches(state: State): Seq[String] =
    state.churn.fams.zip(state.pristineReads).collect {
      case (f, (seed, fp)) if readFp(f, seed) != fp => f.name
    }

  /** Files under a dir with their (size, mtime), for bytes written. */
  def listing(dir: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  /** Bytes of files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, meta) if !before.get(p).contains(meta) => meta._1 }.sum

  /** The index.* metrics of a traced window: per-family mean op times,
    * files, write amplification (bytes written by appends, deletes and
    * compactions ÷ user bytes appended) and space amplification (index
    * bytes ÷ live bytes, read after a compaction, when the live set is
    * the base slice). */
  def metrics(state: State, ops: Seq[BatchSuite.Op], writtenBytes: Map[String, Long],
      appendedRows: Long): Map[String, Double] = {
    val st = state.setup
    state.churn.fams.flatMap { f =>
      def ms(kind: String) = Stats.mean(ops.filter(o => o.name == f.name && o.kind == kind).map(_.seconds * 1000))
      val live = st.baseBytes(f)
      Kinds.map(k => s"index.${f.name}.${k}_ms" -> ms(k)) ++ Seq(
        s"index.${f.name}.files" -> Json.files(new File(f.dir)).toDouble,
        s"index.${f.name}.write_amp" ->
          writtenBytes.getOrElse(f.name, 0L).toDouble / math.max(1L, f.userBytes(appendedRows.toInt)),
        s"index.${f.name}.space_amp" -> Json.du(new File(f.dir)).toDouble / live)
    }.toMap
  }
}
