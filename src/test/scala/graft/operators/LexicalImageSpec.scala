package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.Retrieval.SearchRequest

/** The text modes served from the driver ([[Lexical.IndexImage]]): the
  * `lexical`, `fuzzy`, `mlt` and `rrf` rows of [[Retrieval.run]] must be
  * the rows of [[Lexical.bm25Serve]], [[Lexical.fuzzyServe]],
  * [[Lexical.moreLikeThis]] and [[Lexical.rrfHybridK]] with their
  * `orderBy`/`limit`, compared as `toJSON` strings (what the server
  * writes) with the same schema, over a swept key set on the test data
  * and on a built corpus whose cuts turn on Spark's string order; and on
  * a private index, the image must follow a takedown, an append and a
  * merge. Every order is total (doc ids are unique), so the rows of
  * `limit(k)` are the first k rows of `limit(60)`: each case runs its
  * distributed plan once and checks every k against that prefix. */
class LexicalImageSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.01"
  private val ks = Seq(0, 1, 10, 60)

  private def json(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq

  private def top(df: DataFrame, k: Int): DataFrame =
    df.orderBy(desc("score"), asc("doc_id")).limit(k)

  /** `got(k)` is a `LocalRelation` with `want`'s schema and its first k
    * rows, for every k of the sweep. */
  private def same(clue: String, want: DataFrame)(got: Int => DataFrame): Unit = {
    val rows = json(want)
    ks.foreach { k =>
      val g = got(k)
      assert(g.queryExecution.analyzed.isInstanceOf[LocalRelation], s"$clue, k $k")
      assert(g.schema === want.schema, s"$clue, k $k")
      assert(json(g) === rows.take(k), s"$clue, k $k")
    }
  }

  private def run(req: SearchRequest): DataFrame = Retrieval.run(spark, d, req)

  /** Both sides refuse the request with the same request error. */
  private def sameError(clue: String)(want: => DataFrame)(got: => DataFrame): Unit = {
    val w = intercept[IllegalArgumentException](want)
    val g = intercept[IllegalArgumentException](got)
    assert(g.getMessage === w.getMessage, clue)
  }

  private lazy val vocab: Seq[String] = Tables.documents(spark, d)
    .select(explode(split(lower(col("text")), " ")).as("t")).distinct()
    .as[String].collect().filter(_.nonEmpty).sorted.toSeq

  /** Term sets: every vocabulary term alone, pairs, duplicates, case and
    * padding the analyzer folds, a blank that it drops, absent terms. */
  private def termSets: Seq[Seq[String]] = {
    val v = vocab
    v.map(Seq(_)) ++ v.indices.by(3).map(i => Seq(v(i), v((i + 7) % v.size))) ++ Seq(
      Seq(v(0), v(0)), Seq(v(1), v(2), v(1)), Seq(v(3).toUpperCase),
      Seq(s"  ${v(4)}  ", v(5).capitalize), Seq(" ", v(6)), Seq("zzqx"), Seq("zzqx", v(7)))
  }

  test("sf0.01: lexical rows equal bm25Serve's over every vocabulary term, pairs, duplicates, case, padding and absent terms") {
    assert(vocab.size >= 10, "the sweep needs the test data's vocabulary")
    for (terms <- termSets)
      same(s"terms $terms", top(Lexical.bm25Serve(spark, d, terms), 60))(k =>
        run(SearchRequest("lexical", k = k, terms = terms)))
    sameError("blank terms")(Lexical.bm25Serve(spark, d, Seq("  ")))(
      run(SearchRequest("lexical", terms = Seq("  "))))
  }

  /** One edit of `w`, the kind rotating with `i`: substitution,
    * deletion, insertion, and (two edits) a swap of two letters. */
  private def typo(w: String, i: Int): String = (i % 4, w.length) match {
    case (_, n) if n < 2 => w + "e"
    case (0, n) => w.substring(0, n / 2) + "q" + w.substring(n / 2 + 1)
    case (1, n) => w.substring(0, n - 1)
    case (2, n) => w.substring(0, 1) + "x" + w.substring(1)
    case (_, n) => w.substring(1, 2) + w.substring(0, 1) + w.substring(2, n)
  }

  test("sf0.01: fuzzy rows equal fuzzyServe's under both budgets, typos, non-ASCII and supplementary-plane terms") {
    val v = vocab
    val typos = v.indices.map(i => Seq(typo(v(i), i))) ++
      v.indices.by(4).map(i => Seq(typo(v(i), i + 1), typo(v((i + 5) % v.size), i + 2))) ++ Seq(
        Seq(v(0), v(0)), Seq(v(1).toUpperCase, "zzqx"), Seq("jo"), Seq("a", "x"),
        Seq("véctor", "straße"), Seq("ΣΤΡΕΑΜ", "İndex"),
        Seq(s"${v(2)}😀"), // one supplementary-plane character
        Seq("𝒗ecto"), // 6 UTF-16 units, 5 code points: the budgets differ
        Seq(v(3).substring(0, 1) + "😀" + v(3).substring(1)))
    for (terms <- typos; fuzziness <- Seq("1", "auto"))
      same(s"terms $terms, fuzziness $fuzziness",
          top(Lexical.fuzzyServe(spark, d, terms, auto = fuzziness == "auto"), 60))(k =>
        run(SearchRequest("fuzzy", k = k, terms = terms, fuzziness = fuzziness)))
    val long = Seq(v(0), "a" * (Lexical.MaxFuzzyTermLen + 1))
    for (fuzziness <- Seq("1", "auto"))
      sameError(s"an over-long term, fuzziness $fuzziness")(
          Lexical.fuzzyServe(spark, d, long, auto = fuzziness == "auto"))(
        run(SearchRequest("fuzzy", terms = long, fuzziness = fuzziness)))
    assert(typos.exists(t => json(run(SearchRequest("fuzzy", terms = t, fuzziness = "auto"))).nonEmpty))
  }

  test("sf0.01: mlt rows equal moreLikeThis's on 31 sampled docs and absent ids") {
    val n = Tables.documents(spark, d).count()
    val ids = (0L until n by math.max(1L, n / 30)).take(30) ++ Seq(Lexical.MltDocId, -1L, n + 100)
    for (id <- ids)
      same(s"doc $id", top(Lexical.moreLikeThis(spark, d, id), 60))(k =>
        run(SearchRequest("mlt", k = k, queryImageId = id)))
    assert(json(run(SearchRequest("mlt", queryImageId = -1L))).isEmpty)
  }

  test("sf0.01: rrf rows equal rrfHybridK's, including query ids absent from the embeddings") {
    val v = vocab
    val nVec = Tables.embeddings(spark, d).count()
    val sets = Seq(Seq(v(0)), Seq(v(1), v(2)), Seq(v(3), v(3)), Seq("zzqx"), Seq(v(4).toUpperCase, "zzqx"))
    for (terms <- sets; qid <- Seq(0L, 7L, nVec - 1, nVec, -1L))
      same(s"terms $terms, query $qid", Lexical.rrfHybridK(spark, d, terms, 60, qid))(k =>
        run(SearchRequest("rrf", k = k, terms = terms, queryImageId = qid)))
  }

  test("a built corpus: the fuzzy cap and mlt's term tie-break order strings as Spark does") {
    // "aａ" (U+FF41) and "a😀" (U+1F600) are one edit from "ab", as are
    // aa, ac, ad and ae, all with df 1, so the cap of 5 keeps the first 5
    // by term: in UTF-8 bytes (Spark) "aａ" comes first, in UTF-16 units
    // (a Java String) "a😀" does. The y-terms, two edits from "ab", all tie
    // on tf·idf in doc 100, so mlt's 5 picks turn on the same order.
    val y = Seq("ya", "yc", "yd", "ye", "yａ", "y😀")
    val docs = Seq("aa", "ac", "ad", "ae", "aａ", "a😀").zipWithIndex
      .map { case (t, i) => (i.toLong, s"$t filler") } ++
      Seq(100L -> y.mkString(" ")) ++ y.zipWithIndex.map { case (t, i) => (101L + i, s"$t filler") }
    val dir = tempDir("lex_utf8")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    def on(req: SearchRequest) = Retrieval.run(spark, dir, req)
    for (fuzziness <- Seq("1", "auto"))
      same(s"fuzzy ab, fuzziness $fuzziness",
          top(Lexical.fuzzyServe(spark, dir, Seq("ab"), auto = fuzziness == "auto"), 60))(k =>
        on(SearchRequest("fuzzy", k = k, terms = Seq("ab"), fuzziness = fuzziness)))
    same("mlt 100", top(Lexical.moreLikeThis(spark, dir, 100L), 60))(k =>
      on(SearchRequest("mlt", k = k, queryImageId = 100L)))
    same("lexical", top(Lexical.bm25Serve(spark, dir, Seq("a😀", "yａ")), 60))(k =>
      on(SearchRequest("lexical", k = k, terms = Seq("a😀", "yａ"))))
    val fuzzyIds = json(on(SearchRequest("fuzzy", k = 60, terms = Seq("ab"))))
    assert(fuzzyIds.exists(_.startsWith("""{"doc_id":4,""")) &&
      !fuzzyIds.exists(_.startsWith("""{"doc_id":5,""")), "the cap must cut between the two")
    val mltIds = json(on(SearchRequest("mlt", k = 60, queryImageId = 100L)))
    assert(mltIds.exists(_.startsWith("""{"doc_id":105,""")) &&
      !mltIds.exists(_.startsWith("""{"doc_id":106,""")), "the picks must cut between the two")
  }

  test("a private index: the image follows a takedown, an append and a merge") {
    val docs = Tables.documents(spark, d)
    val dir = s"${tempDir("lex_img")}/idx"
    Lexical.writeInvertedIndex(docs.filter($"doc_id" < 300), $"doc_id", $"text", dir)
    val v = vocab
    val sets = Seq(Seq(v(0)), Seq(v(1), v(2)), Seq(v(3), v(3)), Seq(typo(v(4), 0)), Seq("zzqx"))
    def check(state: String): Lexical.IndexImage = {
      val img = Lexical.indexImage(spark, dir).get
      for (terms <- sets) {
        same(s"$state, lexical $terms", top(Lexical.bm25FromIndex(spark, dir, terms), 60))(k =>
          Lexical.bm25Image(spark, img, terms, k))
        for (auto <- Seq(false, true))
          same(s"$state, fuzzy $terms, auto $auto",
              top(Lexical.fuzzyFromIndex(spark, dir, terms, auto = auto), 60))(k =>
            Lexical.fuzzyImage(spark, img, terms, auto, k))
      }
      img
    }
    val fresh = check("fresh")
    // the takedown removes docs from the top of a served list
    val gone = json(top(Lexical.bm25FromIndex(spark, dir, Seq(v(1), v(2))), 3))
      .map(r => r.drop(r.indexOf(':') + 1).takeWhile(_ != ',').toLong)
    assert(gone.nonEmpty)
    Lexical.deleteFromIndex(gone.toDF("doc_id"), $"doc_id", dir)
    val deleted = check("after a takedown")
    assert(!(deleted eq fresh), "the takedown must drop the image")
    assert(json(Lexical.bm25Image(spark, deleted, Seq(v(1), v(2)), 60)).forall(r =>
      !gone.exists(id => r.startsWith(s"""{"doc_id":$id,"""))))
    Lexical.appendToIndex(docs.filter($"doc_id" >= 300 && $"doc_id" < 450), $"doc_id", $"text", dir)
    val appended = check("after an append")
    assert(!(appended eq deleted), "the append must drop the image")
    Lexical.mergeIndex(spark, dir)
    assert(!(check("after a merge") eq appended), "the merge must drop the image")
  }

  test("the image refuses an index over the hot tier's budget") {
    val dir = s"${tempDir("lex_big")}/idx"
    Lexical.writeInvertedIndex(Tables.documents(spark, d).filter($"doc_id" < 50),
      $"doc_id", $"text", dir)
    sys.props("graft.graph.hot.maxBytes") = "1" // any real index is over
    try assert(Lexical.indexImage(spark, dir).isEmpty)
    finally sys.props -= "graft.graph.hot.maxBytes"
  }

  test("the image refuses an index whose estimated size is over the budget though its on-disk bytes are not") {
    // 4,000 docs of the same 12 terms: 48,000 postings whose doc ids and
    // constant dl, tf and positions compress on disk, 24 B each in the image
    val text = (0 until 12).map(i => s"w$i").mkString(" ")
    val docs = (0L until 4000L).map(i => (i, text)).toDF("doc_id", "text")
    def build(name: String): String = {
      val dir = s"${tempDir(name)}/idx"
      Lexical.writeInvertedIndex(docs, $"doc_id", $"text", dir)
      dir
    }
    val (refused, served) = (build("lex_est"), build("lex_est_ok"))
    val root = new org.apache.hadoop.fs.Path(refused)
    val onDisk = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(root).getLength
    assert(onDisk < 48000L * 24, "the index must be smaller on disk than in the image")
    sys.props("graft.graph.hot.maxBytes") = onDisk.toString // the on-disk check passes
    try assert(Lexical.indexImage(spark, refused).isEmpty)
    finally sys.props -= "graft.graph.hot.maxBytes"
    assert(Lexical.indexImage(spark, served).nonEmpty)
  }

  test("with the images refused, lexical, fuzzy, mlt and rrf serve their distributed plans' rows") {
    // `refused` loses both images; `noPoint` keeps its index image and
    // loses its point image. Each dir's decision is made once per JVM, so
    // it is made here, under a 1-byte budget.
    val (refused, noPoint) = (tempDir("lex_refused"), tempDir("lex_no_point"))
    for (dir <- Seq(refused, noPoint)) {
      Tables.documents(spark, d).write.parquet(s"$dir/documents.parquet")
      Tables.embeddings(spark, d).write.parquet(s"$dir/embeddings.parquet")
    }
    assert(Lexical.servedImage(spark, noPoint).nonEmpty)
    sys.props("graft.graph.hot.maxBytes") = "1"
    try {
      assert(Lexical.servedImage(spark, refused).isEmpty)
      assert(Retrieval.pointImage(spark, refused).isEmpty)
      assert(Retrieval.pointImage(spark, noPoint).isEmpty)
    } finally sys.props -= "graft.graph.hot.maxBytes"
    val v = vocab
    val (terms, typos) = (Seq(v(1), v(2)), Seq(typo(v(4), 0), typo(v(5), 2)))
    def check(dir: String, req: SearchRequest, want: DataFrame): Unit = {
      val got = Retrieval.run(spark, dir, req)
      assert(!got.queryExecution.analyzed.isInstanceOf[LocalRelation], s"$dir, $req")
      assert(json(got) === json(want), s"$dir, $req")
      // the same documents and embeddings as the test data's image-served rows
      assert(json(got) === json(run(req)), s"$dir, $req")
    }
    for (k <- Seq(1, 10)) {
      check(refused, SearchRequest("lexical", k = k, terms = terms),
        top(Lexical.bm25Serve(spark, refused, terms), k))
      for (fuzziness <- Seq("1", "auto"))
        check(refused, SearchRequest("fuzzy", k = k, terms = typos, fuzziness = fuzziness),
          top(Lexical.fuzzyServe(spark, refused, typos, auto = fuzziness == "auto"), k))
      check(refused, SearchRequest("mlt", k = k, queryImageId = Lexical.MltDocId),
        top(Lexical.moreLikeThis(spark, refused, Lexical.MltDocId), k))
      for (dir <- Seq(refused, noPoint))
        check(dir, SearchRequest("rrf", k = k, terms = terms, queryImageId = 7L),
          Lexical.rrfHybridK(spark, dir, terms, k, 7L))
    }
  }
}
