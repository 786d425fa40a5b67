package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Pipelines, Search}
import graft.sources.Compact
import graft.streaming.Streams

/** The whole library composed as ONE production flow over real testdata —
  * the end-to-end a reference user runs daily, stage outputs feeding the
  * next stage with assertions at every boundary:
  *
  *   documents → full curation chain → token-window chunking → sequence
  *   packing → parquet table → small-file compaction → (embeddings)
  *   k-means codebook → at-rest IVFADC index → probe-pruned search.
  */
class GoldenPathSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("curate → pack → write → compact → train → index → search, end to end") {
    val dir = tempDir("graft_golden")

    // 1. curate: quality/repetition/language/exact/near-dup gates
    val docs = Tables.documents(spark, d)
    val curated = Pipelines.curateFullOn(docs)
    val kept = curated.select("doc_id")
    val nDocs = docs.count()
    val nKept = kept.count()
    assert(nKept > 0 && nKept < nDocs, s"curation keeps a strict subset: $nKept/$nDocs")

    // 2. chunk the survivors into trainer windows (r10: lineage-keeping
    //    token-window chunking), then pack the CHUNKS into 512-token
    //    sequences — the documents→trainer-sequences flow
    val chunks = operators.TextAnalysis.chunkOn(
        docs.join(kept, "doc_id"), $"doc_id", $"text",
        window = 64, stride = 48)
      .join(docs.select("doc_id", "source"), "doc_id")
    val nChunks = chunks.count()
    assert(nChunks >= nKept, "every kept doc yields at least one chunk")
    assert(chunks.agg(max("n_chunk_tokens")).as[Long].head() <= 64L)
    val packed = Curation.packSequences(
      chunks.withColumn("chunk_key", $"doc_id" * 10 + $"chunk_id"),
      $"source", $"chunk_key", $"n_chunk_tokens", budget = 512L)
    assert(packed.count() === nChunks, "packing is row-preserving")
    assert(packed.agg(max("pack_offset")).as[Long].head() < 512L)

    // 3. land the curated+packed table deliberately fragmented, then compact
    packed.select("doc_id", "chunk_id", "source", "n_chunk_tokens",
        "pack_id", "pack_offset")
      .repartition(16).write.parquet(s"$dir/corpus")
    val stats = Compact.compactParquet(spark, s"$dir/corpus", targetBytes = Long.MaxValue)
    assert(stats.filesBefore === 16 && stats.filesAfter === 1L)
    val landed = spark.read.parquet(s"$dir/corpus")
    assert(landed.count() === nChunks, "compaction preserves every row")

    // 4. train an IVF codebook on the embeddings and lay the index at rest
    val emb = Tables.embeddings(spark, d)
    val cents = Search.kmeansTrain(emb, $"vec_id", $"embedding", k = 8, iters = 5)
    val book = Search.pqTrain(emb, $"vec_id", $"embedding", m = 8, ks = 16, sampleN = 2000)
    Search.writeIvfPqIndex(emb, $"embedding", cents, book, ks = 16, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx").select("cluster").distinct().count() === 8L)

    // 5. serve a query: probe-pruned ADC scan + exact rerank finds the
    //    query vector itself first, with the probe pruning partitions
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val hits = Search.knnIvfPq(spark, s"$dir/idx", $"embedding", cents, book,
      ks = 16, q, nprobe = 2, k = 5, tie = $"vec_id", refine = 10)
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("cluster"))
    val top = hits.select("vec_id", "score").as[(Long, Double)].collect()
    assert(top.head._1 === 0L && math.abs(top.head._2 - 1.0) < 1e-6,
      s"self-retrieval at cosine 1.0: ${top.toSeq}")
    assert(top.length === 5)

    // 6. the lexical leg over the SAME curated corpus: index it in two
    //    ingest increments (exercising the append path), serve BM25 and
    //    a positional phrase, and check the curation boundary holds —
    //    only surviving docs are ever retrievable
    val curatedDocs = docs.join(kept, "doc_id")
    val ids = kept.as[Long].collect().toSet
    val cut = ids.toSeq.sorted.apply(ids.size / 2)
    graft.operators.Lexical.writeInvertedIndex(
      curatedDocs.filter($"doc_id" <= cut), $"doc_id", $"text", s"$dir/lex")
    graft.operators.Lexical.appendToIndex(
      curatedDocs.filter($"doc_id" > cut), $"doc_id", $"text", s"$dir/lex")
    val lexTop = graft.operators.Lexical.bm25FromIndex(spark, s"$dir/lex")
      .orderBy(desc("score"), asc("doc_id")).limit(5)
      .as[(Long, Double)].collect()
    assert(lexTop.nonEmpty && lexTop.forall(r => ids.contains(r._1)),
      "BM25 serves only curated docs")
    val phr = graft.operators.Lexical.phraseFromIndex(spark, s"$dir/lex")
      .as[(Long, Long)].collect()
    assert(phr.forall(r => ids.contains(r._1)), "phrase serves only curated docs")
    // the streamed two-increment index holds exactly the curated corpus:
    // every curated doc that matches a benchmark term is retrievable
    val matchable = curatedDocs
      .filter(graft.operators.Lexical.QueryTerms
        .map(t => array_contains(split(lower($"text"), " "), t))
        .reduce(_ || _))
      .select("doc_id").as[Long].collect().toSet
    val allLex = graft.operators.Lexical.bm25FromIndex(spark, s"$dir/lex")
      .select("doc_id").as[Long].collect().toSet
    assert(allLex === matchable,
      "the incremental index must retrieve exactly the matchable curated docs")

    // 7. the GRAPH leg (r11): build the kNN graph over the embeddings,
    //    refine it, lay it at rest, stream one more vector in, take one
    //    down, rebuild — and serving stays coherent at every step
    val seed = Search.knnGraph(emb, $"vec_id", $"embedding", cents, k = 3)
      .select($"__vid", $"nbr_id")
      .unionByName(Search.hashRingEdges(emb, $"vec_id", r = 2))
    val edges = Search.nnDescend(emb, $"vec_id", $"embedding", seed,
      k = 3, rounds = 1).select("__vid", "nbr_id")
    Search.writeGraphIndex(emb, $"vec_id", $"embedding", edges,
      s"$dir/graph", entriesN = 16, buckets = 8)
    def gServe(qdf: org.apache.spark.sql.DataFrame) =
      Search.graphSearchIndexed(spark, s"$dir/graph", qdf,
        k = 5, beam = 8, hops = 3, buckets = 8)
        .select("id").as[Long].collect().toSeq
    val g0 = gServe(q)
    assert(g0.nonEmpty)
    // stream in a new vector near the query: it becomes the best match
    val qvArr = emb.filter($"vec_id" === 0)
      .select($"embedding").as[Seq[Float]].head()
    Search.appendToGraphIndex(
      Seq((99999L, qvArr)).toDF("id", "vec"), $"id", $"vec",
      s"$dir/graph", linkK = 3, buckets = 8)
    assert(gServe(q).contains(99999L), "streamed vector immediately reachable")
    // take it down: gone at the next probe, nothing rewritten
    Search.deleteFromGraphIndex(Seq(99999L).toDF("id"), $"id", s"$dir/graph")
    assert(!gServe(q).contains(99999L), "takedown excludes immediately")
    // periodic rebuild consumes the tombstone and re-links everything
    Search.rebuildGraphIndex(spark, s"$dir/graph", kmeansK = 8, linkK = 3,
      entriesN = 16, buckets = 8)
    val g3 = gServe(q)
    assert(!g3.contains(99999L) && g3.nonEmpty)
    assert(!new java.io.File(s"$dir/graph/_tombstones").exists(),
      "rebuild consumes the tombstones")

    // 8. the serving envelope answers all three families over this data
    val fz = Serving.handle(spark, d,
      """{"mode":"fuzzy","terms":"vektor","top_k":3}""")
    assert(fz.contains("\"results\"") && !fz.contains("\"error\""))
    val gr = Serving.handle(spark, d,
      """{"mode":"graph","top_k":3,"query_image_id":0}""")
    assert(gr.contains("\"results\"") && !gr.contains("\"error\""))
  }

  test("label → train → stream-refresh → eval → gate → mix: the model-based selection flow") {
    // the r12 classify leg composed end to end on real testdata: weak
    // labels, batch train on the base, STREAM the increment into the
    // at-rest count state, assert the refreshed model is bit-identical
    // to a full retrain, then gate + rebalance + budget the corpus with
    // the refreshed model and check every funnel boundary.
    val docs = Tables.documents(spark, d)
    val isPos = col("lang") === "en"
    val cut = docs.agg(expr("max(doc_id) * 4 DIV 5")).head().getLong(0)
    val modelDir = tempDir("graft_gold_nb")

    // batch backfill + "daily" increment through the SAME batch applier
    Streams.applyNbBatch(docs.filter($"doc_id" <= cut), $"text", isPos, modelDir, 0L)
    Streams.applyNbBatch(docs.filter($"doc_id" > cut), $"text", isPos, modelDir, 1L)
    val (llrS, scS) = Streams.nbModelFromStore(spark, modelDir)
    val (llrF, scF) = operators.Classify.nbModel(docs, $"text", isPos)
    assert(llrS.as[(String, Long)].collect().toMap ===
      llrF.as[(String, Long)].collect().toMap,
      "streamed count state must equal the full retrain")
    assert(scS.as[(Long, Long)].head() === scF.as[(Long, Long)].head())

    // gate the corpus with the refreshed model
    val scored = operators.Classify.nbScore(docs, $"doc_id", $"text", llrS, scS)
    val admitted = scored.filter($"pred_pos")
    val nAdm = admitted.count()
    assert(nAdm > 0 && nAdm < docs.count(), s"gate admits a strict subset: $nAdm")

    // the admitted set skews toward the weak-positive label it was
    // trained on (better than the corpus base rate)
    val joined = admitted.join(docs.select($"doc_id", isPos.as("y")), "doc_id")
    val prec = joined.filter($"y").count().toDouble / nAdm
    val base = docs.filter(isPos).count().toDouble / docs.count()
    assert(prec > base, s"gate precision $prec must beat base rate $base")

    // rebalance + token budget on the admitted set — funnel monotone,
    // budget respected per source
    val withMeta = admitted.join(docs.select("doc_id", "lang", "source"), "doc_id")
    val sampled = Curation.temperatureSample(withMeta, $"lang", $"doc_id", alpha = 0.5)
    val mixed = Curation.capTokensPerGroup(sampled, $"source", $"doc_id",
      $"n_tokens", budget = 500L)
    assert(mixed.count() <= sampled.count() && sampled.count() <= nAdm)
    assert(mixed.agg(max("cum_before")).as[Long].head() < 500L)
  }
}
