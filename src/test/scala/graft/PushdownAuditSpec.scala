package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.operators.{Analytics, Retrieval}

/** Plan-level audit that the declarative-plan promise holds where it
  * matters most at 100 TB: predicates reach the parquet scan as
  * PushedFilters (row groups skip via statistics) and ReadSchema is
  * pruned to the referenced columns (a scan that decodes all columns for
  * a 2-column projection pays the full IO bill). Complements
  * `PlanAuditSpec` (no unbroadcast cartesians) with positive evidence on
  * representative queries of each shape. */
class PushdownAuditSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).toSeq

  /** Every parquet scan node of the plan, inside adaptive plans and
    * subqueries too. */
  private def fileScans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }

  test("knn_whole: label pre-filter and query point-lookup are pushed; vectors pruned") {
    val s = scans(Retrieval.knnWhole(spark, d))
    assert(s.exists(_.contains("PushedFilters: [In(label")),
      s"corpus label filter must reach the scan:\n${s.mkString("\n")}")
    assert(s.exists(_.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)")),
      s"query-vector lookup must be a pushed point filter:\n${s.mkString("\n")}")
  }

  test("agg_value_counts: 9-column table, exactly one column decoded") {
    val s = scans(Analytics.valueCounts(spark, d))
    assert(s.exists(_.contains("ReadSchema: struct<o_orderdate:timestamp_ntz>")),
      s"scan must read ONLY o_orderdate:\n${s.mkString("\n")}")
  }

  test("join_point_lookup: the id batch is pushed into the big-side scan") {
    val s = scans(Analytics.joinPointLookup(spark, d))
    assert(s.exists(_.contains("PushedFilters: [In(o_orderkey")),
      s"point-lookup ids must prune at the scan:\n${s.mkString("\n")}")
  }

  test("documents text queries never decode unreferenced columns") {
    val s = scans(graft.operators.TextAnalysis.queries("txt_tokencount")(spark, d))
    val docScans = s.filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty)
    assert(docScans.forall(l => !l.matches(".*ReadSchema.*(lang|source|n_chars).*")),
      s"token count needs doc_id+text only:\n${docScans.mkString("\n")}")
  }

  test("search_bm25: corpus scans decode doc_id+text only") {
    val s = scans(graft.operators.Lexical.bm25Q(spark, d))
    val docScans = s.filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty)
    assert(docScans.forall(l => !l.matches(".*ReadSchema.*(lang|source|n_chars).*")),
      s"BM25 needs doc_id+text only:\n${docScans.mkString("\n")}")
  }

  test("fuzzyFromIndex: expanded-term postings reads prune to buckets and push the term set; corpus never scanned") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("lex_fz_push")
    graft.operators.Lexical.writeInvertedIndex(
      graft.Tables.documents(spark, d), col("doc_id"), col("text"), s"$dir/idx")
    val df = graft.operators.Lexical.fuzzyFromIndex(spark, s"$dir/idx",
      Seq("vektor", "sow"))
    // scans picked by their relation's root paths: the printed Location
    // is cut at 100 characters, so a long temp root would hide the path
    val all = fileScans(df)
    def under(f: FileSourceScanExec, root: String) =
      f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root))
    val postScans = all.filter(under(_, s"$dir/idx/postings"))
    val shown = all.map(_.simpleString(400)).mkString("\n")
    assert(postScans.nonEmpty, s"expected a postings scan:\n$shown")
    assert(postScans.forall(_.partitionFilters.exists(_.references.exists(_.name == "bucket"))),
      s"postings read must prune to the expanded terms' buckets:\n$shown")
    assert(postScans.exists(_.metadata("PushedFilters").contains("In(term")),
      s"expanded term set must push into the postings scan:\n$shown")
    assert(!all.exists(under(_, d)),
      s"index serving must not scan the corpus:\n$shown")
  }

  test("quality_nb: document scans prune to the referenced columns only") {
    // train leg reads (doc_id, text, lang); score leg (doc_id, text) —
    // n_chars and source must never be decoded
    val s = scans(operators.Classify.qualityNbQ(spark, d))
    val docScans = s.filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty)
    assert(docScans.forall(l => !l.matches(".*ReadSchema.*(n_chars|source).*")),
      s"NB legs must not decode n_chars/source:\n${docScans.mkString("\n")}")
  }

  test("curate_dsir: the bucket log-ratio table joins by broadcast, grams never shuffle") {
    // the per-doc weight sum joins the 256-row lr table — broadcast hash
    // join; the only exchanges are the bucket/doc aggregates' partial
    // sums, so no exchange may carry the gram/bucket row stream unreduced
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try operators.Classify.curateDsirQ(spark, d).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    val bcasts = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.exists(_.leftKeys.map(_.sql).exists(_.contains("__b")) ||
        bcasts.exists(_.rightKeys.map(_.sql).exists(_.contains("__b")))),
      s"lr join must be a broadcast hash join on __b:\n$plan")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the raw gram stream is (doc_id, __tgt, __b); both aggregates fold
    // __tgt into conditional sums BEFORE their exchange, so any shuffle
    // still carrying __tgt would be the unreduced per-gram stream
    shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "__tgt"),
        s"exchange carries the raw gram stream: ${e.output.map(_.name)}")
    }
  }
}
