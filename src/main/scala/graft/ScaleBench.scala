package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Scratch

/** One-off scale-stress evidence (`BENCH_scale.json`): replicate the
  * sf0.1 `documents`/`embeddings` tables 10× and time the four heaviest
  * queries at 1× and 10×. Pass condition = time grows ≤ ~linearly in
  * rows: every candidate-generation step is blocked/banded and every
  * corpus join is broadcast or band-keyed, so work should scale with
  * rows, not rows².
  *
  * The replication is deliberately dup-heavy (the realistic 10× for a
  * crawl corpus, and the adversarial direction for dedup):
  *  - replicas 1–4: token ROTATIONS of the original — identical token
  *    multiset ⇒ identical MinHash signature, so they stress the
  *    exact-collapse-before-banding path (a dup cluster of size c must
  *    NOT emit c² band candidates);
  *  - replicas 5–9: rotations + a unique suffix token — distinct
  *    signatures at ~0.95 estimated Jaccard, so each source doc gains a
  *    bounded near-dup clique (constant size ⇒ pair count stays linear
  *    in rows).
  * Embeddings are replicated as-is under shifted ids (10× scoring and
  * assignment work; centroid count unchanged, as an IVF codebook would
  * be).
  */
object ScaleBench {

  private val Queries = Seq(
    "dedup_minhash_lsh", "pipeline_curate", "knn_ivf", "q3_hybrid",
    "dedup_ngram_jaccard", "zs_tags", "knn_batch",
    // round 5: the hierarchical prefix-sum packer (parallelism must not
    // collapse to one task per source shard) and the PQ encode+ADC scan
    // (per-row work ⇒ strictly linear).
    "pack_sequences", "knn_pq",
    // round 7: the full oracle-checked hygiene chain (its jaccard near-dup
    // stage must stay clique-bounded on the dup-heavy replicas) and the
    // composed IVFADC build+serve (encode linear, probe pruned).
    "pipeline_curate_full", "knn_ivfpq",
    // round 8: the lexical family — BM25 ad-hoc (postings restricted to
    // query terms), index build+serve (explode/shuffle must stay linear;
    // the timing is dominated by the build since the per-sfDir cache sees
    // each scale once), positional phrase (pruned reads + doc_id joins),
    // and transitive clustering (pairs stay clique-bounded on the
    // dup-heavy replicas, CC rounds O(log d)).
    "search_bm25", "search_bm25_idx", "search_phrase", "dedup_clusters",
    // round 8b: exact-substring span ops — the dup-heavy corpus is their
    // WORST case (~every 8-gram is duplicated, so the position explode
    // covers the whole corpus), yet work stays linear in dup occurrences.
    "dedup_span_coverage", "pipeline_curate_excise",
    // round 9: cross-corpus pairing (the increment side is the %4
    // replica subset — band buckets shared with a 10× lake must stay
    // increment-bounded) and the LM gate (vocabulary-keyed score join —
    // the tf table grows sublinearly, the explode linearly).
    "dedup_cross", "txt_surprisal",
    // dedup_clusters as served is ADAPTIVE: at sf0.1 its edge count sits
    // under the driver fast-path threshold, so its 1×/10× ratio compares
    // union-find against the distributed loop. This entry forces the
    // distributed loop at BOTH scales for a like-for-like scaling ratio.
    "dedup_clusters_dist",
    // round 10: MaxSim late interaction (corpus × 8-vector query grid —
    // strictly linear in corpus rows) and SemDeDup under its OWN scaling
    // rule: the served binding's fixed 10-label codebook would go
    // quadratic at 10× (clusters grow 10×, pairs 100× — the degenerate
    // regime the hot-cluster guard rejects), so the scale entry trains
    // k ∝ N centroids, holding per-cluster size ~constant — the
    // published SemDeDup recipe for why Σ|cluster|² stays ~linear.
    "knn_maxsim", "dedup_semantic_scaled",
    // the sketch claim: one narrow scan + a bounded-candidate shuffle —
    // time must track rows, and certification must still hold at 10×
    "txt_heavyhitters",
    // round 11: the graph family end to end under its OWN scaling rule —
    // like SemDeDup, the served binding's fixed 10-label codebook would
    // go quadratic at 10× (cluster-blocked seed pairs grow 100×), so the
    // scale entry trains k ∝ N centroids, holding per-cluster size
    // ~constant: seed ~linear, NN-Descent N·k², beam search constant.
    "knn_graph_scaled",
    // round 12: model-based selection — NB train+score (explode linear,
    // vocab-keyed score join sublinear in the tf table; dup-heavy
    // replicas barely grow the vocabulary, the realistic crawl shape)
    // and DSIR (one fused gram pass, O(256) model — strictly linear).
    "quality_nb", "curate_dsir",
    // round 13: the full model-gated mixing chain (NB gate → temperature
    // resample → token cap) — the one r12 Classify composition with no
    // 10× row: its shuffles are the Zipf-skewed term-keyed score join
    // (AQE skew-split territory at 100 TB) plus two broadcast-bounded
    // resampling stages, so time must track the explode (~rows).
    "pipeline_quality_mix",
    // round 13b: the 5th at-rest index family (distinct-gram audits).
    // Like search_bm25_idx, the per-sfDir cache sees each scale once, so
    // the timing is build-dominated (one corpus scan → fused gram kernel
    // → bucket-partitioned write — must stay ~linear in rows); the probe
    // side is benchmark-sized at both scales. Dup-heavy replicas barely
    // grow the DISTINCT gram set (rotations reuse the same windows up to
    // boundary effects) — the realistic crawl shape for this index.
    "eval_memorization_idx",
    // round 13c: the Bloom-prefiltered decontam A/B — BOTH spellings at
    // both scales. The held-out side is is_test = 1/16 of docs, so it
    // grows 10× with the corpus; the exact path's probe exchange grows
    // with the corpus gram stream, the bloom path's with (matches +
    // fpp·stream). Survivor sets are identical by construction, so
    // rows_1x/rows_10x must agree between the two rows — a built-in
    // cross-check the other arms don't have.
    "curate_decontam", "curate_decontam_bloom",
    // round 13c: grouped KMV (typed-Aggregator partials — the shuffle
    // carries ≤k-element buffers per group per partition, so time must
    // track the explode) and the bottom-k quantile sample
    // (TakeOrderedAndProject heaps + an exact-percentile grading leg —
    // both single-scan, ~linear; rebound onto documents in Extra because
    // the 10× scratch dir replicates only documents/embeddings).
    "agg_group_kmv", "agg_quantile_scaled",
    // round 13f: the JL-sketch kNN (16-d scan + 200-row exact rescore —
    // both stages TakeOrderedAndProject, so time must track rows with a
    // ~4× lighter constant than full-width scoring) and the per-group
    // quantile sample (bottom-k-ids Aggregator + a broadcast join-back;
    // the exact grading leg is the only corpus-sized aggregation).
    "knn_rp", "agg_group_quantile",
    // round 13g: exact rank-sum AUC (one corpus-keyed tie-group reduce →
    // width-bucketed PARTITIONED prefix windows — time must track the
    // score explode ~rows; distinct fixed-point margins are what the
    // windows see, and the dup-heavy replicas grow them sub-linearly)
    // and the fuzzy decontam strip (the dedup_cross banding shape plus a
    // corpus anti-join: candidates grow with true near-dup mass, so the
    // ratio is judged against the dedup family's output-driven rule).
    "quality_nb_auc", "curate_decontam_fuzzy",
    // round 14: the r13/r14 newcomers. txt_bpe_train is 3 fused
    // pair-count rounds + 4 localCheckpoints — materialization-dominated
    // by design, each round one corpus scan (~linear).
    // curate_decontam_fuzzy_idx signs the held-out side into the at-rest
    // signature index (per-sfDir cache sees each scale once, so the
    // timing is build+probe) and probes band buckets — both sides grow
    // 10×, candidates with true near-dup mass.
    "txt_bpe_train", "curate_decontam_fuzzy_idx",
    // round 14: the image family at its PRODUCTION hash width, and the
    // composed admission stack (see Extra bindings below).
    "mm_phash_scaled", "pipeline_gated_scaled",
    // round 14b: CCNet line dedup — the corpus-wide line-count exchange
    // plus the skew-prone count join-back (the planted repeat literal is
    // the viral-boilerplate case: ~¼ of ALL lines share one key); the
    // reassembly state is bounded per doc, so time must track the line
    // explode (~rows).
    "txt_line_dedup",
    // round 14c: the index-served spelling — per-JVM cache sees each
    // scale once, so the timing is store build (bucket-partitioned
    // count write) + pruned excise; both ~linear in the line stream.
    "txt_line_dedup_idx",
    // round 15: the graph-analytics propagation loop — blocked-kNN edge
    // build under knn_graph_scaled's k ∝ N rule (per-cluster size
    // ~constant), then 3 PageRank power iterations. Each iteration is
    // two |E|-bounded joins plus the two-level ordered folds, |E| = 3N,
    // so time must track rows; the edge set is localCheckpointed once
    // so the iterations measure the LOOP, not three edge rebuilds.
    "graph_pagerank_scaled",
    // round 15b: the NB×graph composition — NB train+score (the
    // quality_nb arm's ~linear shape) feeding clamped seeds into 3
    // integer vote rounds over the k ∝ N blocked graph; every loop
    // stage is |E| = 3N-bounded, so time must track rows.
    "graph_quality_scaled",
    // round 16: the triangle census under a PLANTED MEGA-HUB — the
    // Σdeg² candidate bound of clusteringOf is exactly what degree skew
    // stresses, and the hub's wedge pairs all route through ONE middle-
    // vertex join key. The hub degree is held at ~2k (the full 1× node
    // set) at BOTH scales, so its one-key candidate mass (~2M pairs) is
    // scale-constant and the ratio isolates the k ∝ N kNN part: time
    // must track rows.
    "graph_clustering_scaled",
    // round 16b: the propagation loop under a hub whose IN-DEGREE GROWS
    // WITH N (half the corpus votes into one node) — the contribution
    // fold's worst case, and the direct 10x evidence for the derived
    // b = ceil(sqrt(N)) sizing: the hub key folds through ~sqrt(N)-row
    // slices at both scales where the old fixed-16 split would put N/32
    // rows in one collect_list. |E| = 3N + N/2 stays linear, so time
    // must track rows.
    "graph_pagerank_hub_scaled",
    // round 16c: connected components over the k ∝ N blocked graph with
    // the driver union-find fast path DISABLED at both scales (the
    // dedup_clusters_dist discipline — at these edge counts the served
    // binding would union-find on the driver, which scales by fiat):
    // edge build ~linear, then O(log diameter) min-propagation rounds,
    // each one |E|-keyed aggregate + one label self-join. Component
    // geometry (per-cluster size, diameter) is scale-constant under the
    // k ∝ N rule, so the round count is too and time must track rows.
    "graph_components_scaled",
    // round 16d: the two remaining structure shapes. harmonic = three
    // cumulative reach expansions + a distinct over (id, member) pairs
    // — bounded per node by the degree cap (k ∝ N holds per-cluster
    // size, so reach stays ~40 members at both scales) ⇒ the pair
    // stream and its distinct must track rows. kcore = four peel
    // rounds, each a double semi-join + count agg keyed by id ⇒ |E|-
    // bounded per round, must track rows.
    "graph_harmonic_scaled", "graph_kcore_scaled",
    // round 16f: the unclamped-LPA community loop — per round one
    // |E|-keyed label join, one (dst, label) count and one per-dst
    // argmax window; label diversity shrinks per round but the vote
    // stream stays |E|-bounded, so time must track rows.
    "graph_communities_scaled",
    // round 17: the KMV-register harmonic sketch next to the exact
    // reach-set arm above — per hop the state is ≤ k doubles per node
    // (partial-aggregated, so a hub's fan-in never lands in one task)
    // and the hop join carries ≤ |E|·k values: row growth is FLAT in N
    // where harmonic3's reach sets grow with k_deg^h. Time must track
    // rows with a constant ~k factor.
    "graph_harmonic_sketch_scaled",
    // round 17b: the three remaining structure shapes, all integer.
    // modularity on a FIXED partition (the label column) isolates the
    // grading pass from the LPA loop graph_communities_scaled already
    // times: one closure distinct + two label joins + one global agg.
    // assortativity: one degree count + two |E|-keyed joins + one agg.
    // blast radius: two |E|-bounded joins from a broadcast 3-row seed —
    // the seed is scale-constant, so hop rows grow only with degree.
    "graph_modularity_scaled", "graph_assortativity_scaled",
    "graph_blast_radius_scaled",
    // round 17c: the ordered-fold determinism tax, measured — the SAME
    // loop as graph_pagerank_scaled with orderedFolds = false (plain
    // partial-aggregated sums, no collect_list, no published order).
    // The delta vs graph_pagerank_scaled's row is what bit-exact
    // oracle parity costs per refresh; named queries keep the ordered
    // default (spec-pinned ≤ 1e-12 relative apart).
    "graph_pagerank_fast_scaled",
    // round 17d: the per-node coefficient under the SAME planted
    // ~2000-degree hub as graph_clustering_scaled — identical Σdeg²
    // triangle join plus the three-corner credit union (≤ 3·T rows,
    // linear in triangles); the hub's one-key candidate mass is
    // scale-constant, so time must track rows like the census arm.
    "graph_clustering_local_scaled",
    // round 19: the graph-stats SERVING ARTIFACT (the one at-rest
    // family with no 10× row of its own until now). build = the
    // production refresh job over the k ∝ N layout — PageRank + LPA
    // communities + k-core + local clustering + harmonic sketch, all
    // |E| = 3N-bounded, plus the bucket-partitioned write ⇒ time must
    // track rows. read = 32 point lookups against the PRE-BUILT store
    // (a deterministic on-disk path, so the isolated per-query-JVM
    // freeze reads the store the build row left behind instead of
    // re-paying the refresh): each lookup opens ONE bucket's partition,
    // so the ratio is bounded by bucket growth (N/32 rows), far below
    // rows — the per-request serving cost the SRS latency contract
    // rides on.
    "graph_stats_build_scaled", "graph_stats_read_scaled")

  /** Scratch dirs created by scale-only bindings whose output DataFrame
    * reads them lazily — reclaimed at JVM exit. */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach(dir => Scratch.rm(new java.io.File(dir)))))
  }

  /** The k ∝ N blocked-kNN edge build every graph_* scale arm shares
    * (per-cluster size ~constant — the knn_graph_scaled scaling rule):
    * returns (embeddings, directed (src, dst) edges, NOT checkpointed —
    * each arm decides its own lineage cut). One definition keeps the
    * arms' edge builds byte-identical, which is what makes their A/B
    * ratios (e.g. pagerank vs pagerank_fast) valid tax measurements. */
  private def scaledKnnEdges(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.operators.Search
    val e = Tables.embeddings(s, d)
    val k = math.max(10, (e.count() / 50L).toInt)
    val cents = Search.kmeansTrain(e, col("vec_id"), col("embedding"), k)
    (e, Search.knnGraph(e, col("vec_id"), col("embedding"), cents, k = 3)
      .select(col("__vid").as("src"), col("nbr_id").as("dst")))
  }

  /** Scratch root for every on-disk ScaleBench artifact — derived from
    * the working dir (r20, ADVICE r19: the absolute /root/repo literal
    * broke any checkout elsewhere), env-overridable for shared-scratch
    * deployments. */
  private def scaleRootBase: String =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_ROOT",
      s"${sys.props("user.dir")}/.scalebench")

  /** Deterministic per-dir store root for the graph-stats arms — ON
    * DISK (not a temp dir) so the isolated one-query-per-JVM freeze
    * loop's read row finds the store the build row's JVM wrote. Under
    * [[scaleRootBase]], which the repo already treats as scratch. */
  private def statsScaleRoot(d: String): String =
    s"$scaleRootBase/graph_stats_${Integer.toHexString(d.hashCode)}"

  /** Write the k ∝ N edge layout + run the production stats refresh
    * ([[graft.operators.Retrieval.buildGraphStats]]) into the
    * deterministic root — ALWAYS rebuilding (the build row times the
    * refresh; staleness from an older code version must never survive a
    * re-freeze). The read row requires the artifact this leaves. */
  private def buildScaledStats(s: SparkSession, d: String): String = {
    val root = statsScaleRoot(d)
    val (_, knn) = scaledKnnEdges(s, d)
    knn.select(col("src").as("__vid"), col("dst").as("nbr_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/idx/edges")
    graft.operators.Retrieval.buildGraphStats(s, d, s"$root/idx", root)
    root
  }

  /** Scale-only bindings that aren't part of the served query surface. */
  private val Extra: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map("dedup_clusters_dist" ->
      ((s, d) => graft.operators.Dedup.clustersQOn(s, d, maxDriverEdges = 0L)),
      // the served agg_quantile_kmv samples lineitem, which the scratch
      // dir doesn't replicate — same sketch, documents-shaped binding
      "agg_quantile_scaled" -> ((s, d) =>
        graft.operators.Sketches.quantileSketch(Tables.documents(s, d),
          col("doc_id"), col("n_chars"), probs = Seq(0.25, 0.5, 0.75), k = 512)),
      "dedup_semantic_scaled" -> ((s, d) => {
        val e = Tables.embeddings(s, d)
        val k = math.max(10, (e.count() / 50L).toInt)
        val cents = graft.operators.Search.kmeansTrain(
          e, col("vec_id"), col("embedding"), k)
        graft.operators.Dedup.semanticDedup(e, col("vec_id"),
          col("embedding"), cents, minCos = 0.4)
      }),
      // the image family at the PRODUCTION 64-bit hash (grid=8 — the
      // config phashDedup's doc names for billion-image corpora; the
      // served 16-bit binding saturates its 2^16 hash space on a 10×
      // corpus and pair mass goes quadratic BY CONSTRUCTION, which is a
      // fixture artifact, not an operator property). Build = decode +
      // hash + bucket-partitioned write over the full corpus (must stay
      // ~linear in rows — decode-bound, the 100 TB cost center); probe =
      // the %4 increment slice decoded once and pruned against at-rest
      // 8-byte hashes (increment-bounded, the dedup_cross shape).
      "mm_phash_scaled" -> ((s, d) => {
        import graft.operators.Multimodal
        val imgs = graft.sources.JdkImage
          .renderBmpFixtures(Tables.documents(s, d).select("doc_id"))
          .toDF("doc_id", "payload")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ph_scale").toString
        // the probe DataFrame reads the index lazily, so the dir can't
        // delete inline — the shutdown hook reclaims it (the idx-cache
        // cleanup discipline; at the 10× arm this is the full index
        // footprint per rep otherwise)
        scratchDirs.add(tmp)
        Multimodal.writePhashIndex(imgs.filter(pmod(col("doc_id"), lit(4L)) =!= 0L),
          tmp, grid = 8, bands = 4)
        Multimodal.probePhashIndex(
          imgs.filter(pmod(col("doc_id"), lit(4L)) === 0L), tmp)
      }),
      // the composed production admission stack, batch face: Gopher
      // rules → NB quality model → rank-based top-fraction — the three
      // gates pipelines actually chain (rules cheap-first, model on
      // survivors, fraction self-calibrating on model margins). Shape:
      // one fused-kernel rule pass, one term-keyed score join on the
      // survivor set, then the two-level prefix cut — every stage
      // ~linear in the explode.
      "pipeline_gated_scaled" -> ((s, d) => {
        import graft.operators.{Classify, TextAnalysis}
        val docs = Tables.documents(s, d)
        // EnglishStopwords, not the 8-word Gopher list — the corpus
        // adaptation pipeline_gopher itself makes (synthetic text has
        // none of the canonical 8, so the default gate passes nothing)
        val passed = TextAnalysis.withGopherMetrics(docs, col("text"),
            stopwords = graft.functions.TextFunctions.EnglishStopwords)
          .filter(col("passes"))
          .drop(TextAnalysis.GopherMetricCols: _*)
        val (llr, scalars) = Classify.nbModel(
          docs.filter(graft.functions.HashFunctions.md5Bucket16(col("doc_id")) < "8"),
          col("text"), col("lang") === "en")
        val scores = Classify.nbScore(passed, col("doc_id"), col("text"),
          llr, scalars)
        Classify.topFractionByScore(scores, col("doc_id"),
          col("nb_margin"), frac = 0.1)
      }),
      "knn_graph_scaled" -> ((s, d) => {
        import graft.operators.Search
        val e = Tables.embeddings(s, d)
        val k = math.max(10, (e.count() / 50L).toInt)
        val cents = Search.kmeansTrain(e, col("vec_id"), col("embedding"), k)
        val seed = Search.knnGraph(e, col("vec_id"), col("embedding"),
            cents, k = 3).select(col("__vid"), col("nbr_id"))
          .unionByName(Search.hashRingEdges(e, col("vec_id"), r = 2))
        val edges = Search.nnDescend(e, col("vec_id"), col("embedding"),
          seed, k = 3, rounds = 1).select("__vid", "nbr_id").localCheckpoint()
        Search.graphSearch(e, col("vec_id"), col("embedding"), edges,
          e.filter(col("vec_id") === 0).select(col("embedding").as("qv")),
          k = 10, entriesN = 64, beam = 32, hops = 3)
      }),
      // r19: the serving-artifact pair (see the Queries doc). The build
      // row returns the artifact read back whole (rows ≈ N — its count
      // is the row-growth denominator); the read row returns 32 point
      // lookups (rows flat at 32 by construction — its TIME ratio is
      // the claim).
      "graph_stats_build_scaled" -> ((s, d) => {
        val root = buildScaledStats(s, d)
        s.read.parquet(s"$root/stats")
      }),
      "graph_stats_read_scaled" -> ((s, d) => {
        import graft.operators.Retrieval
        // LOUD guard: the read row must measure READS. If the store the
        // build row leaves behind is absent, silently building it here
        // would freeze a refresh measurement under the read row's name
        // (and a pre-existing store from OLDER code would serve stale
        // artifact contents) — fail with the fix instead.
        val root = statsScaleRoot(d)
        require(new java.io.File(s"$root/stats/_SUCCESS").exists(),
          s"graph_stats_read_scaled: no pre-built store at $root — run " +
            "graph_stats_build_scaled first (same code version), e.g. " +
            "tools/scalebench_isolated.sh graph_stats_build_scaled " +
            "graph_stats_read_scaled")
        (0L until 32L).map(id =>
            Retrieval.graphStatsReadAt(s, root, s"$root/idx", id))
          .reduce(_ unionByName _)
      }),
      "graph_pagerank_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        GraphAnalytics.pageRank(e.select(col("vec_id").as("id")),
          knn.localCheckpoint(), iters = 3)
      }),
      "graph_clustering_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        // planted mega-hub: node 0 linked to ids 1..1999 (rep-0 slice —
        // present and identical at both scales, no sort needed), so one
        // vertex carries degree ~2000 against the kNN graph's 3: the
        // hub's C(2000,2) wedge candidates all hit one join key at both
        // scales, and the ratio isolates the linear kNN census
        val hub = e.select(col("vec_id"))
          .filter(col("vec_id") > 0 && col("vec_id") < 2000)
          .select(lit(0L).as("src"), col("vec_id").as("dst"))
        GraphAnalytics.clusteringOf(knn.unionByName(hub))
      }),
      "graph_pagerank_hub_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        val hub = e.select(col("vec_id")).filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("src"), lit(0L).as("dst"))
        GraphAnalytics.pageRank(e.select(col("vec_id").as("id")),
          knn.unionByName(hub).localCheckpoint(), iters = 3)
      }),
      "graph_components_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        val edges = knn.localCheckpoint()
        GraphAnalytics.connectedComponents(
          e.select(col("vec_id").as("id")), edges, maxDriverEdges = 0L)
      }),
      "graph_communities_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        val und = knn.unionByName(
            knn.select(col("dst").as("src"), col("src").as("dst"))).distinct()
          .localCheckpoint()
        GraphAnalytics.communityLabelProp(
          e.select(col("vec_id").as("id")), und, iters = 3)
      }),
      "graph_harmonic_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        val edges = knn.localCheckpoint()
        GraphAnalytics.harmonic3(e.select(col("vec_id").as("id")), edges)
      }),
      "graph_kcore_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        val edges = knn.localCheckpoint()
        GraphAnalytics.kcorePeel(e.select(col("vec_id").as("id")), edges,
          k = 2, rounds = 4)
      }),
      "graph_clustering_local_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        val hub = e.select(col("vec_id"))
          .filter(col("vec_id") > 0 && col("vec_id") < 2000)
          .select(lit(0L).as("src"), col("vec_id").as("dst"))
        GraphAnalytics.localClusteringOf(knn.unionByName(hub))
      }),
      "graph_pagerank_fast_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        GraphAnalytics.pageRank(e.select(col("vec_id").as("id")),
          knn.localCheckpoint(), iters = 3, orderedFolds = false)
      }),
      "graph_harmonic_sketch_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        GraphAnalytics.harmonicSketch(e.select(col("vec_id").as("id")),
          knn.localCheckpoint(), k = 16)
      }),
      "graph_modularity_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        val (e, knn) = scaledKnnEdges(s, d)
        GraphAnalytics.modularityOf(
          e.select(col("vec_id").as("id"), col("label").as("lbl")),
          knn.localCheckpoint())
      }),
      "graph_assortativity_scaled" -> ((s, d) => {
        import graft.operators.GraphAnalytics
        GraphAnalytics.assortativityOf(scaledKnnEdges(s, d)._2.localCheckpoint())
      }),
      "graph_blast_radius_scaled" -> ((s, d) => {
        import s.implicits._
        import graft.operators.GraphAnalytics
        // rep-0 ids — present and identical at both scales
        GraphAnalytics.blastRadiusOf(scaledKnnEdges(s, d)._2.localCheckpoint(),
          graft.operators.Retrieval.GraphDeletedIds.toDF("id"))
      }),
      "graph_quality_scaled" -> ((s, d) => {
        import graft.operators.{Classify, GraphAnalytics, Search}
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val (llr, scalars) = Classify.nbModel(
          docs.filter(graft.functions.HashFunctions.md5Bucket16(col("doc_id")) < "8"),
          col("text"), col("lang") === "en")
        val nodes = Classify.nbScore(docs, col("doc_id"), col("text"),
            llr, scalars)
          .select(col("doc_id").as("id"),
            when(abs(col("nb_margin")) >= 0.5,
              when(col("nb_margin") > 0.0, 1).otherwise(0)).as("seed"))
          .localCheckpoint() // the served query's own NB-lineage cut
        val k = math.max(10, (emb.count() / 50L).toInt)
        val cents = Search.kmeansTrain(emb, col("vec_id"), col("embedding"), k)
        val e = Search.knnGraph(emb, col("vec_id"), col("embedding"),
            cents, k = 3)
          .select(col("__vid").as("src"), col("nbr_id").as("dst"))
          .localCheckpoint()
        val und = e.unionByName(
          e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        GraphAnalytics.labelPropagation(nodes, und, iters = 3)
      }))
  private val Reps = 10
  private val IdStride = 10000000L

  /** Artifact rows NOT in [[Queries]] — the r20 100× probe arms. Known
    * here so a full 10× re-freeze carries them instead of dropping them. */
  private val ExtraArtifactRows: Set[String] =
    Set("knn_ivf_probe_100x", "search_bm25_probe_100x")

  /** Parse the artifact's per-line rows (our own writer emits one row
    * per line, so a line regex is a full parser for it). */
  private def existingRows(out: String): Map[String, String] = {
    val rowRe = """^\s*"([A-Za-z0-9_]+)": (\{.*\}),?$""".r
    val f = new java.io.File(out)
    if (!f.exists()) Map.empty
    else {
      // explicit charset: the plain-java launcher's default may not be
      // UTF-8, and the note contains multi-byte punctuation
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().collect { case rowRe(n, body) => n -> body }.toMap
      finally src.close()
    }
  }

  private def renderArtifact(base: String, note: String,
      rows: Map[String, String]): String = {
    val ordered = Queries.filter(rows.contains) ++
      rows.keys.toSeq.filterNot(Queries.contains).sorted
    val qJson = ordered.map(n => s"""    "$n": ${rows(n)}""").mkString(",\n")
    s"""{
       |  "rows_factor": $Reps,
       |  "base": "$base",
       |  "note": "$note",
       |  "queries": {
       |$qJson
       |  }
       |}""".stripMargin
  }

  /** r20, VERDICT r19 #7: ONE real datapoint past the 10× suite for the
    * two serving-critical probe paths — IVF cluster probe and BM25
    * term-bucket probe — at 100× replication, builds UNTIMED (the build
    * is the scheduled refresh; the probe is what production repeats per
    * request). Partition pruning is already plan-asserted
    * (`IvfLayoutSpec` / `LexicalSpec`); this MEASURES it: probe time
    * must grow ≪ the 100× corpus.
    *
    * The IVF codebook follows the k ∝ N rule of every scaled arm
    * (per-cluster size ~constant — the regime a 100 TB store trains
    * for), so the probe's pruned read is ~nprobe·clusterSize rows at
    * BOTH scales. The BM25 probe reads the two query terms' bucket
    * dirs — postings of the probed terms grow with df, far below the
    * corpus. Probe timing = median of 3 after one untimed warm run. */
  private def probe100(s: SparkSession, base: String, out: String): Unit = {
    import graft.operators.{Lexical, Search}
    val scratch = s"$scaleRootBase/sf100"
    replicate(s, base, scratch, 100)
    def timeNoop(df: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median3(df: => org.apache.spark.sql.DataFrame): Double = {
      timeNoop(df) // warm: file listing, plan, JIT
      (1 to 3).map(_ => timeNoop(df)).sorted.apply(1)
    }
    def ivfProbeSec(d: String): Double = {
      val e = Tables.embeddings(s, d).localCheckpoint()
      val n = e.count()
      val k = math.max(8, (n / 100L).toInt) // k ∝ N: per-cluster ~100 rows
      val cents = Search.kmeansTrain(e, col("vec_id"), col("embedding"), k,
        iters = 3).localCheckpoint()
      val idx = s"$scratch/__ivf_${Integer.toHexString(d.hashCode)}/idx"
      Scratch.rm(new java.io.File(idx)) // always fresh — never a stale-code layout
      Search.writeIvfIndex(e, col("embedding"), cents, idx) // build UNTIMED
      val q0 = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv")).localCheckpoint()
      median3(Search.knnIvfIndexed(s, idx, col("embedding"), cents, q0,
        nprobe = 3, k = 10, tie = col("vec_id")))
    }
    def bm25ProbeSec(d: String): Double = {
      val idx = s"$scratch/__bm25_${Integer.toHexString(d.hashCode)}/idx"
      Scratch.rm(new java.io.File(idx))
      Lexical.writeInvertedIndex(Tables.documents(s, d), // build UNTIMED
        col("doc_id"), col("text"), idx)
      median3(Lexical.bm25FromIndex(s, idx)
        .orderBy(desc("score"), asc("doc_id")).limit(10))
    }
    def row(p1: Double, p100: Double): String =
      f"""{"probe_sec_1x": $p1%.3f, "probe_sec_100x": $p100%.3f, "probe_ratio": ${p100 / p1}%.2f, "rows_factor": 100, "build_untimed": true}"""
    val ivf1 = ivfProbeSec(base)
    val ivf100 = ivfProbeSec(scratch)
    val bm1 = bm25ProbeSec(base)
    val bm100 = bm25ProbeSec(scratch)
    val fresh = Map(
      "knn_ivf_probe_100x" -> row(ivf1, ivf100),
      "search_bm25_probe_100x" -> row(bm1, bm100))
    val merged = existingRows(out) ++ fresh
    // note: re-render with the committed note line preserved via the
    // existing artifact's own text — renderArtifact re-emits it
    val noteRe = """^\s*"note": "(.*)",\s*$""".r
    val note = {
      val f = new java.io.File(out)
      if (!f.exists()) "" else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().collectFirst { case noteRe(n) => n }.getOrElse("")
        finally src.close()
      }
    }
    val json = renderArtifact(base, note, merged)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
  }

  /** Replicate `documents`/`embeddings` `reps`× into `scratch` (skipped
    * when already present) — the dup-heavy recipe documented on the
    * class, shared by the 10× suite and the r20 100× probe arms. */
  private def replicate(spark: SparkSession, base: String, scratch: String,
      reps: Int): Unit = {
    if (new java.io.File(s"$scratch/embeddings.parquet").exists()) return
    val docs = Tables.documents(spark, base)
    (0 until reps).map { i =>
      val toks = split(col("text"), " ")
      val rotated =
        if (i == 0) col("text")
        else array_join(concat(
          slice(toks, i + 1, 1 << 20), slice(toks, 1, i)), " ")
      val text =
        if (i >= 5) concat(rotated, lit(s" sbr$i")) // unique token → near-dup, not dup
        else rotated
      docs.select(
        (col("doc_id") + i * IdStride).as("doc_id"),
        text.as("text"), col("lang"), col("source"))
    }.reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode(SaveMode.Overwrite).parquet(s"$scratch/documents.parquet")
    val emb = Tables.embeddings(spark, base)
    (0 until reps).map { i =>
      emb.select((col("vec_id") + i * IdStride).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$scratch/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scratch = if (args.length > 1) args(1) else s"$scaleRootBase/sf1"
    val out = if (args.length > 2) args(2)
      else s"${sys.props("user.dir")}/BENCH_scale.json"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // r20: the 100×-replication PROBE arms (serving-critical paths only)
    // run as their own mode and merge their rows into the artifact
    if (sys.env.get("SPARK_GRAFT_SCALE_100").contains("1")) {
      probe100(spark, base, out)
      spark.stop()
      return
    }

    replicate(spark, base, scratch, Reps)

    def run(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      Extra.getOrElse(name, SparkEntry.queries(name))(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // localCheckpoint blocks (CC loop in pipeline_curate) are released
      // by the async ContextCleaner only when the RDD objects are GC'd;
      // at 10× they otherwise pin gigabytes of block-manager memory and
      // every LATER query's timing degrades monotonically (measured:
      // knn_batch read 27× instead of its true ~2.4×). Free them
      // deterministically so each query is timed against a clean heap.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      sec
    }
    // Optional subset filter for same-day A/B attribution runs (the
    // Bench discipline: a cross-run regression claim needs an isolated
    // re-measure before it's believed). Subset runs PRINT their JSON but
    // never overwrite the committed full artifact.
    //
    // r12 attribution: a second same-day full run read search_bm25_idx
    // at 17.4×, pipeline_curate_full at 15.5×, dedup_clusters at 10.7×
    // — on code untouched since the healthy first run (2.45× / 2.58× /
    // 5.16×). Isolated same-day re-measures via this filter: 1.95× /
    // 1.77× / 4.01× — the inflated numbers were late-suite JVM state at
    // the 10× scale (the same suite-context drift Bench.scala documents
    // per-query), not code. The committed artifact is the healthy run.
    //
    // r13 attribution (the r12-advice follow-up): the r12 artifact's own
    // inflated rows, isolated same-day re-measures on untouched code:
    //   dedup_minhash_lsh    14.75× → 3.47× (r11 artifact: 3.81×)
    //   pipeline_curate      13.78× → 1.86× (r11: 1.84×)
    //   pack_sequences        6.61× → 1.08× (r11: 0.94×)
    //   pipeline_curate_excise 0.79× (sec_1x 17.9 > sec_10x 14.1,
    //     physically implausible) → 4.17× with a sane 4.54 s 1× — the
    //     committed 1× was the inflated leg, not the 10×.
    // All four converge back to their r11 values ⇒ the r12 rows were the
    // same late-suite JVM-state drift as above, and the r13 artifact was
    // re-frozen from a clean full run the same day.
    //
    // THE COMMITTED r13 ARTIFACT (one clean full run, 28 rows) is the
    // record; its rows for the re-measured set — dedup_minhash_lsh
    // 3.24×, pipeline_curate 1.56×, pack_sequences 1.10×,
    // pipeline_curate_excise 6.79× (3.68 s 1×, both legs sane) — sit
    // within the documented full-run-vs-isolated noise band of the A/Bs
    // above, and every ratio is ≤ the 10× rows factor.
    // pipeline_curate's intermediate TRANSITIVE-NEAR-DUP pair set is the
    // denominator its ratio is judged against (the jaccard stage
    // consumes the banded candidate pairs — 77 verified pairs at 1× vs
    // 223,919 at 10×, the dedup_minhash_lsh output above — so at 1.56×
    // it is strongly sublinear in candidates).
    // pipeline_quality_mix (added r13): committed 1.44× (isolated A/B
    // read 1.27×) — the NB gate's term-keyed score join + two broadcast
    // resampling stages track the explode.
    // eval_memorization_idx (added r13b): committed 1.68× (isolated
    // same-day 1.28×, 3.27 s → 4.20 s) — build-dominated like
    // search_bm25_idx; the dup-heavy replicas reuse the same gram
    // windows, so the distinct set (and the bucketed write) grows far
    // slower than rows.
    // curate_decontam vs curate_decontam_bloom (added r13c): at sf0.1
    // the bloom leg is the SLOWER spelling (isolated A/B 1.0 s/1.3 s at
    // 1×, ratios 1.70×/2.99×) — expected: here the held-out gram set
    // still broadcasts as an exact hash map, so the bloom's two extra
    // construction jobs (count + bit-set reduce, both growing with the
    // 10× test side) are pure overhead. The bloom exists for the regime
    // where that broadcast is IMPOSSIBLE (≥1e9-gram held-out sets); the
    // scale row's job is to show its construction+probe stays ~linear
    // (it does) and that rows_1x/rows_10x match the exact path's
    // bit-for-bit (they do — the no-false-negative invariant measured).
    // Machine-readable query list for tools/scalebench_isolated.sh (the
    // per-query-JVM freeze loop) — print and exit before any Spark job.
    if (sys.env.get("SPARK_GRAFT_SCALE_LIST").contains("1")) {
      Queries.foreach(println)
      spark.stop()
      return
    }
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- Queries.toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_ONLY names not in ScaleBench.Queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val selected = only match {
      case Some(names) => Queries.filter(names)
      case None => Queries
    }
    // JIT/footer warmup at the smallest scale so 1× timings aren't
    // absorbing JVM startup (same policy as Bench).
    selected.foreach(run("/root/testdata/sf0.01", _))
    val oneX = selected.map(n => n -> run(base, n)).toMap
    val tenX = selected.map(n => n -> run(scratch, n)).toMap
    // UNTIMED second pass: result-row counts give the time ratio its
    // denominator — on the dup-heavy replicas a dedup query's OUTPUT
    // grows far faster than its input (10 replicas ⇒ ~45 pairs per
    // source doc, measured 77 → 223,919 verified pairs at sf0.1), so a
    // time_ratio above rows_factor can still be strongly sublinear in
    // actual work. Counted after all timing so the extra executions
    // can't perturb the measured numbers.
    def rows(dir: String, name: String): Long = {
      val n = Extra.getOrElse(name, SparkEntry.queries(name))(spark, dir).count()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      n
    }
    val rows1 = selected.map(n => n -> rows(base, n)).toMap
    val rows10 = selected.map(n => n -> rows(scratch, n)).toMap

    def rowBody(n: String): String = {
      val r = tenX(n) / oneX(n)
      f"""{"sec_1x": ${oneX(n)}%.3f, "sec_10x": ${tenX(n)}%.3f, "time_ratio": $r%.2f, "rows_1x": ${rows1(n)}, "rows_10x": ${rows10(n)}}"""
    }
    val note = "10x replication is dup-heavy by design (rotated + suffixed " +
      "replicas); pass = time_ratio <= ~max(rows_factor, output growth): " +
      "rows_1x/rows_10x are the result-row counts — dedup outputs grow ~45 " +
      "pairs per source doc here, so their time ratios are judged against " +
      "output, not input. Rows are frozen ONE QUERY PER JVM " +
      "(tools/scalebench_isolated.sh → SPARK_GRAFT_SCALE_MERGE), so no row " +
      "inherits another query's JIT/GC/block-manager state — the late-suite " +
      "drift that needed per-round attribution through r12 is gone by " +
      "construction."
    def render(rows: Map[String, String]): String =
      renderArtifact(base, note, rows)
    val fresh = selected.map(n => n -> rowBody(n)).toMap
    val merge = sys.env.get("SPARK_GRAFT_SCALE_MERGE").contains("1")
    val json =
      if (only.isEmpty) render(existingRows(out).view
        .filterKeys(ExtraArtifactRows).toMap ++ fresh)
      else if (merge) render(existingRows(out) ++ fresh)
      else render(fresh)
    // subset (attribution) runs without SPARK_GRAFT_SCALE_MERGE must not
    // clobber the committed artifact — same rule as SPARK_GRAFT_BENCH_ONLY
    if (only.isEmpty || merge)
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
