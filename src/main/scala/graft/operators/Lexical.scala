package graft.operators

import java.util.concurrent.{ConcurrentHashMap, FutureTask}

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.TextFunctions.tokens
import graft.plans.Scratch

/** Lexical (keyword) retrieval and lexical+vector fusion — the portable
  * replacement for the reference's Elasticsearch relevance scoring.
  *
  * The reference's tag search orders hits by ES's BM25 `_score`
  * (`/root/reference/search_with_segments.py:304-342`,
  * `/root/reference/app.py:256-293`), which SURVEY.md §6 flags as
  * unportable: ES relevance depends on shard-local statistics. Here the
  * same ranking model (Lucene's BM25, the formula ES documents publicly)
  * is computed EXACTLY from global corpus statistics, so scores are
  * deterministic and reproducible — and therefore oracle-checkable.
  *
  * Scale shape (100 TB corpus, |Q| query terms):
  *   - corpus stats (N, avgdl) are one map-side-partial aggregate —
  *     at lake scale these live as precomputed table statistics;
  *   - postings are restricted to the query terms BEFORE the explode
  *     (`filter(toks, …)` then `explode`), so the shuffle carries
  *     O(matching occurrences), never O(corpus tokens);
  *   - per-term document frequencies are ≤ |Q| rows, broadcast back;
  *   - the per-document score is a FIXED-ORDER sum over the query terms
  *     (per-term pivot, then left-to-right addition) so the IEEE result
  *     is bit-identical to the oracle no matter what order Spark's
  *     aggregation visits postings in;
  *   - top-k is orderBy+limit → TakeOrderedAndProject per-partition heaps.
  */
object Lexical {

  /** Lucene/ES BM25 constants (the values ES ships with). */
  val K1 = 1.2
  val B = 0.75

  /** The deterministic benchmark query (terms present in the corpus
    * vocabulary; order fixes the score-summation order). */
  val QueryTerms: Seq[String] = Seq("vector", "stream", "filter")

  /** RRF constant — the value Elasticsearch's hybrid `rank` API uses. */
  val RrfK = 60

  /** Candidate-list depth for rank fusion: ranks are computed on the
    * top-`PoolN` retrieved list of each retriever (that is what rank
    * fusion fuses), never on the corpus — the global row_number window
    * only ever sees `PoolN` rows. */
  val PoolN = 50

  /** Per-(doc, term) BM25 contribution `s`: postings ⋈ broadcast df ⋈
    * broadcast corpus stats with the Lucene formula applied. */
  private def scoredPostings(tf: DataFrame, dfreq: DataFrame,
      stats: DataFrame): DataFrame =
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("s", col("idf") * col("tf") * lit(K1 + 1.0) /
        (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl"))))

  /** Per-term score pivots, aliased by INDEX, not term text —
    * user-supplied terms may contain '.', '`', or duplicates, any of
    * which would break attribute resolution if embedded in a column
    * name. */
  private def scorePivots(terms: Seq[String]): Seq[Column] =
    terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("s"))).as(s"s_$i")
    }

  /** Fixed-order (left-to-right in `terms` order) pivot sum — the IEEE
    * result is independent of aggregation order. */
  private def pivotTotal(terms: Seq[String]): Column =
    terms.indices.map(i => coalesce(col(s"s_$i"), lit(0.0))).reduceLeft(_ + _)

  /** Shared scoring tail: postings (doc_id, dl, term, tf) ⋈ broadcast
    * per-term df ⋈ broadcast corpus stats → per-doc fixed-order score
    * sum. Both the ad-hoc path and the at-rest index path end here, so
    * their results are bit-identical by construction. */
  private def score(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
      terms: Seq[String]): DataFrame = {
    val pivots = scorePivots(terms)
    scoredPostings(tf, dfreq, stats).groupBy("doc_id")
      .agg(pivots.head, pivots.tail: _*)
      .select(col("doc_id"), round(pivotTotal(terms), 6).as("score"))
  }

  /** Query-side analyzer — the SAME normalization [[tokens]] applies to
    * documents (ES runs its analyzer over the query too; without this,
    * "Vector" silently scores zero against a lowercased index). */
  private def analyze(terms: Seq[String]): Seq[String] =
    terms.map(_.trim.toLowerCase).filter(_.nonEmpty)

  /** Matched postings + per-term df + corpus stats for `terms` — the
    * shared front of every ad-hoc lexical query. */
  private def termStats(s: SparkSession, d: String,
      terms: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val qarr = array(terms.map(lit): _*)
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("toks"))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(filter(col("toks"), t => array_contains(qarr, t))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    (tf, dfreq, stats)
  }

  /** Per-document BM25 score for `terms` over `documents`:
    * idf(t)·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), summed per doc in
    * declaration order of `terms`; idf = ln(1 + (N−df+0.5)/(df+0.5)).
    * Only documents matching ≥1 term appear.
    *
    * Ad-hoc shape: the corpus is scanned twice (matched postings; corpus
    * stats — the N/avgdl constants a lake deployment precomputes as
    * table statistics). The at-rest shape that scans neither is
    * [[bm25FromIndex]]. */
  def bm25Scores(s: SparkSession, d: String,
      rawTerms: Seq[String] = QueryTerms): DataFrame = {
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "BM25 needs at least one non-empty term")
    val (tf, dfreq, stats) = termStats(s, d, terms)
    score(tf, dfreq, stats, terms)
  }

  /** ES `dis_max` over per-term BM25 subqueries: a document scores its
    * BEST term plus `tieBreaker` × the remaining terms — the "best match
    * wins, others only break ties" shape that plain `bool` summing
    * over-rewards keyword stuffing on. Same single postings pass as
    * [[bm25Scores]]: the per-term pivots already carry every component,
    * so dis-max is pure per-row arithmetic after the aggregation
    * (best = greatest(pivots), score = best + tb·(sum − best), both in
    * the fixed pivot order ⇒ bit-replayable). */
  def bm25DisMax(s: SparkSession, d: String,
      rawTerms: Seq[String] = QueryTerms,
      tieBreaker: Double = 0.3): DataFrame = {
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "dis_max needs at least one term")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tie_breaker in [0,1], got $tieBreaker")
    val (tf, dfreq, stats) = termStats(s, d, terms)
    val pivots = scorePivots(terms)
    val comps = terms.indices.map(i => coalesce(col(s"s_$i"), lit(0.0)))
    val best = comps.reduceLeft((a, b) => greatest(a, b))
    scoredPostings(tf, dfreq, stats).groupBy("doc_id")
      .agg(pivots.head, pivots.tail: _*)
      .select(col("doc_id"),
        round(best + lit(tieBreaker) * (pivotTotal(terms) - best), 6)
          .as("score"))
  }

  def disMaxQ(s: SparkSession, d: String): DataFrame =
    bm25DisMax(s, d)
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** ES `bool` query semantics, made deterministic: a document matches
    * when it contains EVERY `must` term and NO `mustNot` term; its score
    * is the BM25 sum over the `must` and `should` terms it matches (must
    * clauses score in ES too — filter-only is its separate `filter`
    * clause). One postings pass covers all three clause lists; the
    * exclusion flags ride the same per-doc aggregation as the score
    * pivots, so bool adds no extra shuffle over plain BM25. */
  def bm25BoolScores(s: SparkSession, d: String, must: Seq[String],
      should: Seq[String], mustNot: Seq[String]): DataFrame = {
    val (mustT, shouldT, notT) = (analyze(must), analyze(should), analyze(mustNot))
    require(mustT.nonEmpty || shouldT.nonEmpty,
      "bool query needs at least one must or should term")
    val scoring = mustT ++ shouldT // fixed summation order: must, then should
    val (tf, dfreq, stats) = termStats(s, d, scoring ++ notT)
    val mustFlags = mustT.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, lit(1)).otherwise(lit(0))).as(s"m_$i")
    }
    val notFlags = notT.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, lit(1)).otherwise(lit(0))).as(s"x_$i")
    }
    val aggs = scorePivots(scoring) ++ mustFlags ++ notFlags
    val keep = (mustT.indices.map(i => col(s"m_$i") === 1) ++
      notT.indices.map(i => col(s"x_$i") === 0))
      .foldLeft(lit(true))(_ && _)
    scoredPostings(tf, dfreq, stats).groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .filter(keep)
      .select(col("doc_id"), round(pivotTotal(scoring), 6).as("score"))
  }

  /** Named query: bool search — require "hash", score "vector"/"merge"
    * alongside it, exclude anything mentioning "slow". */
  def boolQ(s: SparkSession, d: String): DataFrame =
    bm25BoolScores(s, d, must = Seq("hash"),
      should = Seq("vector", "merge"), mustNot = Seq("slow"))
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  // --- Fuzzy matching (ES `fuzziness: 1`, made deterministic) ---------------

  /** ES caps fuzzy expansion at 50 terms; same idea, smaller default —
    * the cap picks by (df DESC, term ASC), ES's "most frequent first". */
  val MaxFuzzyExpansions = 5

  /** Query-side guard: each delete-1 neighborhood is `len+1` strings; a
    * pathological kilobyte "term" would explode the broadcast for a
    * query that can't match a real token anyway. */
  val MaxFuzzyTermLen = 64

  /** All delete-one-character variants of `t`, plus `t` itself — the
    * SymSpell candidate key set for edit distance 1 (Garbe's
    * symmetric-delete algorithm, public): two strings within Levenshtein
    * distance 1 ALWAYS share a key (deletion/insertion: one side's
    * delete equals the other; substitution: deleting the differing
    * position from both sides collides), so joining on keys proposes a
    * SUPERSET of the true matches and an exact `levenshtein` verify
    * disposes — the same propose/verify shape as the MinHash dedup. */
  private def delVariants(t: String): Seq[String] =
    t +: (0 until t.length).map(i => t.substring(0, i) + t.substring(i + 1))

  /** Column form of [[delVariants]] for the vocabulary side (codegen'd
    * HOF, no UDF): term plus its `len` delete-1 strings. */
  private def delVariantsCol(term: Column): Column =
    array_union(array(term),
      transform(sequence(lit(0), length(term) - 1), i =>
        concat(term.substr(lit(1), i), term.substr(i + lit(2), length(term)))))

  /** [[delVariants]] extended to ≤2 deletions — the SymSpell key set
    * for edit distance 2: the term, its delete-1 strings, and its
    * C(len, 2) delete-2 strings (≤ ~2k keys at [[MaxFuzzyTermLen]]). */
  private def delVariants2(t: String): Seq[String] = {
    val d2 = for {
      i <- 0 until t.length
      j <- i + 1 until t.length
    } yield t.substring(0, i) + t.substring(i + 1, j) + t.substring(j + 1)
    (delVariants(t) ++ d2).distinct
  }

  /** Column form of [[delVariants2]] (codegen'd HOFs, no UDF): term +
    * delete-1 + delete-2 strings. The outer sequence stops at len−2 so
    * the inner `sequence(i+1, len−1)` is always ascending (Spark's
    * sequence DESCENDS when start > stop — a silent wrong-key
    * generator otherwise); terms shorter than 2 get no delete-2 keys. */
  private def delVariants2Col(term: Column): Column = {
    val d2 = when(length(term) >= 2,
      flatten(transform(sequence(lit(0), length(term) - 2), i =>
        transform(sequence(i + lit(1), length(term) - 1), j =>
          concat(term.substr(lit(1), i),
            term.substr(i + lit(2), j - i - 1),
            term.substr(j + lit(2), length(term))))))
    ).otherwise(array())
    array_union(delVariantsCol(term), d2)
  }

  /** ES `fuzziness: AUTO`'s edit-distance budget: 0 below 3 chars, 1
    * for 3–5, 2 from 6 — the rule ES applies per analyzed term. */
  private def autoAllowed(t: String): Int =
    if (t.length >= 6) 2 else if (t.length >= 3) 1 else 0

  /** [[fuzzyExpansions]] under ES `fuzziness: AUTO` semantics: each
    * query term's budget follows [[autoAllowed]] (so short terms stay
    * exact and long terms tolerate two edits — the ES default
    * recommendation the r18 VERDICT listed as the one lexical gap).
    * Same SymSpell shape at k = 2: the delete-neighborhood theorem
    * (ED(q, v) ≤ k ⇒ some ≤k-deletion variants of q and v collide)
    * holds per side, so the vocab side explodes delete-≤2 keys (≤
    * ~len²/2 per term — still VOCABULARY-sized work, never corpus) and
    * the query side broadcasts its per-budget keys; candidates are
    * verified by exact `levenshtein` against each term's own budget. */
  def autoFuzzyExpansions(vocab: DataFrame, rawTerms: Seq[String],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val s = vocab.sparkSession
    import s.implicits._
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "fuzzy expansion needs at least one term")
    require(terms.forall(_.length <= MaxFuzzyTermLen),
      s"fuzzy query terms are capped at $MaxFuzzyTermLen chars")
    val qvar = terms.flatMap { t =>
      (autoAllowed(t) match {
        case 2 => delVariants2(t)
        case 1 => delVariants(t)
        case _ => Seq(t)
      }).map(v => (t, v))
    }.distinct.toDF("q_term", "__var")
    val maxQLen = terms.map(_.length).max
    val maxK = terms.map(autoAllowed).max
    val vocabKeys = maxK match {
      case 2 => delVariants2Col(col("term"))
      case 1 => delVariantsCol(col("term"))
      case _ => array(col("term"))
    }
    val budget = when(length(col("q_term")) >= 6, 2)
      .when(length(col("q_term")) >= 3, 1).otherwise(0)
    val cands = vocab
      .filter(length(col("term")) <= maxQLen + maxK)
      .select(col("term"), col("df"), explode(vocabKeys).as("__var"))
      .join(broadcast(qvar), "__var")
      .select("q_term", "term", "df").distinct()
      .filter(levenshtein(col("q_term"), col("term")) <= budget)
    capExpansions(cands, maxExpansions)
  }

  /** Fuzzy BM25 under `fuzziness: AUTO` — [[bm25FuzzyScores]] with the
    * per-term-length budget. */
  def bm25AutoFuzzyScores(s: SparkSession, d: String, rawTerms: Seq[String],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val terms = analyze(rawTerms)
    val (docs, vocab) = docsAndVocab(s, d)
    bm25BestExpansionScores(docs, terms,
      autoFuzzyExpansions(vocab, terms, maxExpansions))
  }

  /** Named query terms for the AUTO arm, one per budget band:
    * "vektorr" (7 chars, budget 2 — k→c substitution PLUS a deleted r
    * reach "vector", beyond the ED1 family's reach), "strem" (5 chars,
    * budget 1 — one insertion to "stream"), "jo" (2 chars, budget 0 —
    * matches only itself; absent from the corpus, it scores nothing:
    * AUTO's short-term exactness gate, visible in the relation). */
  val AutoFuzzyTerms: Seq[String] = Seq("vektorr", "strem", "jo")

  def fuzzyAutoQ(s: SparkSession, d: String): DataFrame =
    bm25AutoFuzzyScores(s, d, AutoFuzzyTerms)
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Fuzzy term expansion: for each query term, the vocabulary terms
    * within Levenshtein distance 1, capped at `maxExpansions` by
    * (df DESC, term ASC).
    *
    * Scale shape: the corpus never appears — only `vocab` (term, df),
    * which is vocabulary-sized (millions of SHORT strings at 100 TB, not
    * billions of documents). The vocab side explodes into delete-1 keys
    * (≤ avg_len+1 each) after pruning terms longer than `max(|q|)+1`
    * (Levenshtein ≥ length difference, so nothing longer can match);
    * the query side is a broadcast of |Q|·(len+1) keys. Candidates =
    * key-equality join, verified by exact `levenshtein` — no all-pairs
    * distance join anywhere. */
  def fuzzyExpansions(vocab: DataFrame, // (term, df)
      rawTerms: Seq[String],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val s = vocab.sparkSession
    import s.implicits._
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "fuzzy expansion needs at least one term")
    require(terms.forall(_.length <= MaxFuzzyTermLen),
      s"fuzzy query terms are capped at $MaxFuzzyTermLen chars")
    val qvar = terms.flatMap(t => delVariants(t).map(v => (t, v)))
      .toDF("q_term", "__var")
    val maxQLen = terms.map(_.length).max
    val cands = vocab
      .filter(length(col("term")) <= maxQLen + 1)
      .select(col("term"), col("df"),
        explode(delVariantsCol(col("term"))).as("__var"))
      .join(broadcast(qvar), "__var")
      .select("q_term", "term", "df").distinct()
      .filter(levenshtein(col("q_term"), col("term")) <= 1)
    capExpansions(cands, maxExpansions)
  }

  /** Cap helper shared by the expansion flavors: keep each query label's
    * `maxExpansions` best candidates by (df DESC, term ASC). */
  private def capExpansions(cands: DataFrame, maxExpansions: Int): DataFrame = {
    val w = Window.partitionBy("q_term").orderBy(desc("df"), col("term").asc)
    cands.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxExpansions).drop("__rn")
  }

  /** Synonym expansion (ES's query-time synonym token filter): each
    * query term expands to itself plus its synonym-set members — kept
    * only when they EXIST in the vocabulary (a synonym with no postings
    * scores nothing anyway). The IDENTITY pair is always retained (ES's
    * synonym filter never drops the original token); only the
    * synonym-derived candidates go through the df-ranked cap — a term
    * with `maxExpansions` higher-df synonyms must not evict ITSELF.
    * ES's synonym graph scores alternatives at one position —
    * best-match, not sum — which is exactly
    * [[bm25BestExpansionScores]]'s rule. */
  def synonymExpansions(vocab: DataFrame, rawTerms: Seq[String],
      synonyms: Map[String, Seq[String]],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val s = vocab.sparkSession
    import s.implicits._
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "synonym expansion needs at least one term")
    val pairs = terms.flatMap { t =>
      // the synonym list goes through the SAME analyzer as query terms —
      // one normalization rule, and a whitespace-only synonym drops out
      // instead of normalizing to "" and matching empty-string tokens
      (t +: analyze(synonyms.getOrElse(t, Nil)))
        .distinct.map(v => (t, v))
    }
    val cands = pairs.toDF("q_term", "term").join(vocab, "term")
      .select("q_term", "term", "df")
    capExpansions(cands.filter(col("q_term") =!= col("term")), maxExpansions)
      .unionByName(cands.filter(col("q_term") === col("term")))
  }

  def bm25SynonymScores(s: SparkSession, d: String, rawTerms: Seq[String],
      synonyms: Map[String, Seq[String]],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val terms = analyze(rawTerms)
    val (docs, vocab) = docsAndVocab(s, d)
    bm25BestExpansionScores(docs, terms,
      synonymExpansions(vocab, terms, synonyms, maxExpansions))
  }

  /** Tokenized corpus + vocabulary — the df pair every expanded query
    * (fuzzy, prefix, more-like-this, synonyms) starts from — built ONCE
    * per (JVM, sfDir) into scratch parquet ([[graft.plans.Scratch]] —
    * r20; r19's session-keyed lazy checkpoints died under the bench's
    * per-rep unpersist, see the Scratch doc): every expansion-family
    * request re-derived the corpus tokenization AND the vocabulary df
    * table — under a 32-way serving burst that made fuzzy/mlt the two
    * worst tails (p50 17.5s / 15.1s at sf0.1). The pair is
    * query-independent, so one derivation serves every request; values
    * are unchanged (same deterministic rows). */
  private def docsAndVocab(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Scratch.frame(s, s"lexdocs|$d") {
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
    }
    val vocab = Scratch.frame(s, s"lexvocab|$d") {
      docs.select(explode(array_distinct(col("toks"))).as("term"))
        .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    }
    (docs, vocab)
  }

  /** Shared scorer for EXPANDED queries ([[bm25FuzzyScores]],
    * [[bm25PrefixScores]]): postings restricted to the union of
    * expansions (a bounded driver artifact — ≤ |labels|·cap terms, like
    * the probe lists every index family collects), each expansion scored
    * with its OWN df, a document's component per query label = the MAX
    * over that label's expansions present in it (ES's fuzzy/prefix
    * rewrite scoring), summed across labels in declaration order. */
  private def bm25BestExpansionScores(docs: DataFrame, labels: Seq[String],
      exp: DataFrame /* (q_term, term) */): DataFrame = {
    val expC = exp.select("q_term", "term").localCheckpoint()
    val expTerms = expC.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    if (expTerms.isEmpty) {
      return noHits(docs.sparkSession)
    }
    val qarr = array(expTerms.map(lit): _*)
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("toks"))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(filter(col("toks"), t => array_contains(qarr, t))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val pivots = labels.zipWithIndex.map { case (t, i) =>
      max(when(col("q_term") === t, col("s"))).as(s"s_$i")
    }
    scoredPostings(tf, dfreq, stats)
      .join(broadcast(expC), "term")
      .groupBy("doc_id")
      .agg(pivots.head, pivots.tail: _*)
      .select(col("doc_id"), round(pivotTotal(labels), 6).as("score"))
  }

  /** The `(doc_id, score)` relation with no rows, for a query whose
    * expansion or term selection came back empty. */
  private def noHits(s: SparkSession): DataFrame =
    s.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0.0).as("score")).limit(0)

  /** Fuzzy BM25 (ES `match` with `fuzziness: 1`): each query term
    * expands to its ≤[[MaxFuzzyExpansions]] nearest vocabulary terms
    * ([[fuzzyExpansions]]), then [[bm25BestExpansionScores]] — a
    * document's score for a query term is the BEST BM25 score among that
    * term's expansions present in it. A term within distance 1 of
    * several query terms scores each of them. Same scale shape as
    * [[bm25Scores]] plus the vocabulary pass. */
  def bm25FuzzyScores(s: SparkSession, d: String,
      rawTerms: Seq[String],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val terms = analyze(rawTerms)
    val (docs, vocab) = docsAndVocab(s, d)
    bm25BestExpansionScores(docs, terms,
      fuzzyExpansions(vocab, terms, maxExpansions))
  }

  /** Prefix expansion (ES `match_phrase_prefix`'s last-term rewrite /
    * `prefix` query): vocabulary terms starting with each query prefix,
    * capped like [[fuzzyExpansions]]. Vocabulary-sized work, corpus never
    * scanned. */
  def prefixExpansions(vocab: DataFrame, rawPrefixes: Seq[String],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val s = vocab.sparkSession
    import s.implicits._
    val prefixes = analyze(rawPrefixes)
    require(prefixes.nonEmpty, "prefix expansion needs at least one prefix")
    val qp = prefixes.toDF("q_term")
    capExpansions(
      vocab.join(broadcast(qp), col("term").startsWith(col("q_term")))
        .select("q_term", "term", "df"),
      maxExpansions)
  }

  /** Prefix BM25 (ES `prefix` with `rewrite: top_terms_N`): each prefix
    * expands to its top-df completions, scored like the fuzzy path —
    * best completion per prefix, summed across prefixes. */
  def bm25PrefixScores(s: SparkSession, d: String,
      rawPrefixes: Seq[String],
      maxExpansions: Int = MaxFuzzyExpansions): DataFrame = {
    val prefixes = analyze(rawPrefixes)
    val (docs, vocab) = docsAndVocab(s, d)
    bm25BestExpansionScores(docs, prefixes,
      prefixExpansions(vocab, prefixes, maxExpansions))
  }

  /** How many of the source doc's terms more-like-this queries with — ES's
    * `max_query_terms`, smaller. */
  val MltQueryTerms = 5

  /** More-like-this (ES `more_like_this`, single-doc form): rank the
    * source document's distinct terms by tf·idf (the same BM25 idf), keep
    * the top `maxQueryTerms` (ties by term — ES's `max_query_terms`
    * selection), then run plain [[bm25Scores]] with them — in ASCENDING
    * term order, so the oracle can replay the FP sum as an ordered fold
    * over data-derived terms — excluding the source document itself.
    * The selected term list is a bounded driver artifact
    * (`maxQueryTerms` strings). */
  def moreLikeThis(s: SparkSession, d: String, docId: Long,
      maxQueryTerms: Int = MltQueryTerms): DataFrame = {
    // term selection is deterministic per (dir, doc, cap) — under a
    // serving burst the tf/df join was paid per REQUEST (mlt p95 7.4 s
    // at C=32, VERDICT r19 #1); cache the ≤ maxQueryTerms selected terms
    // like the other serving pools (r20) and the repeated request costs
    // one pruned-bucket BM25 probe
    sweepIfLarge(mltTermsCache)
    val selected = Scratch.once(mltTermsCache, (s, d, docId, maxQueryTerms)) {
      graft.SessionSweep.watch(s)
      val (docs, vocab) = docsAndVocab(s, d)
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val srcTf = docs.filter(col("doc_id") === docId)
        .select(explode(col("toks")).as("term"))
        .groupBy("term").agg(count(lit(1)).cast("double").as("tf"))
      srcTf.join(vocab, "term").crossJoin(nDocs)
        .withColumn("__mlt", col("tf") *
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .orderBy(desc("__mlt"), col("term").asc).limit(maxQueryTerms)
        .select("term").collect().map(_.getString(0)).toSeq.sorted
    }
    if (selected.isEmpty) {
      return noHits(s)
    }
    // scoring tail serves from the at-rest index (r19): bit-identical to
    // the ad-hoc corpus scan on a fresh per-JVM index (search_bm25_idx's
    // shared-oracle contract) — mlt was the worst serving row (p50 24s
    // under a 32-way burst) because every request re-tokenized the
    // corpus twice through the ad-hoc tail
    bm25Serve(s, d, selected).filter(col("doc_id") =!= docId)
  }

  /** Fuzzy search SERVED from the at-rest index ([[writeInvertedIndex]]):
    * the vocabulary IS the index's own `terms` table (vocabulary-sized —
    * the artifact a SymSpell deployment keeps hot), expansion via
    * [[fuzzyExpansions]], then the standard scoring tail over the PRUNED
    * postings buckets of the expanded terms — the corpus is never read
    * at query time. df comes from the index (the documented pre-merge
    * staleness contract, same as [[bm25FromIndex]]); results are
    * bit-identical to the ad-hoc [[bm25FuzzyScores]] on a fresh index,
    * so the named binding shares its oracle. */
  def fuzzyFromIndex(s: SparkSession, dir: String, rawTerms: Seq[String],
      maxExpansions: Int = MaxFuzzyExpansions,
      buckets: Int = IndexBuckets,
      auto: Boolean = false): DataFrame = {
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "fuzzy search needs at least one term")
    healIndex(s, dir)
    // the expansion table is bounded (≤ |Q|·cap rows) and consumed twice;
    // it used to be cut with a localCheckpoint, but that is an EAGER job
    // plus a persisted block PER REQUEST — under a 32-way serving burst
    // the accumulating blocks were the fuzzy tail (p95 26s). One collect
    // and a LocalTableScan re-creation costs one job and zero block-
    // manager state; values unchanged. r20 goes the rest of the way:
    // the table is DETERMINISTIC per (index, query, cap, budget) — the
    // delete-neighborhood SymSpell literally precomputes — so it is
    // cached like the other serving pools and a repeated fuzzy request
    // pays only the pruned-bucket scoring leg (fuzzy's C=32 p95 was
    // still ~3× lexical's from the per-request vocabulary jobs).
    import s.implicits._
    sweepIfLarge(fuzzyExpCache)
    val expRows = Scratch.once(fuzzyExpCache,
        (s, dir, terms.toList, maxExpansions, auto)) {
      graft.SessionSweep.watch(s)
      val vocab = s.read.schema(TermsSchema).parquet(s"$dir/terms").select("term", "df")
      (if (auto) autoFuzzyExpansions(vocab, terms, maxExpansions)
       else fuzzyExpansions(vocab, terms, maxExpansions))
        .select("q_term", "term").collect()
        .map(r => (r.getString(0), r.getString(1)))
    }
    val expTerms = expRows.map(_._2).distinct.toSeq
    if (expTerms.isEmpty) {
      return noHits(s)
    }
    val exp = expRows.toSeq.toDF("q_term", "term")
    val posts = prunedRead(s, dir, "postings", expTerms, buckets)
      .select("doc_id", "dl", "term", "tf")
    val dfreq = prunedRead(s, dir, "terms", expTerms, buckets)
      .select("term", "df")
    val stats = readStats(s, dir)
    val pivots = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("q_term") === t, col("s"))).as(s"s_$i")
    }
    scoredPostings(posts, dfreq, stats)
      .join(broadcast(exp), "term")
      .groupBy("doc_id")
      .agg(pivots.head, pivots.tail: _*)
      .select(col("doc_id"), round(pivotTotal(terms), 6).as("score"))
  }

  /** Named query: fuzzy search with three typo'd terms — "vektor" →
    * vector (substitution), "streem" → stream (substitution), "sow" →
    * {slow (insertion), row (substitution)} — the last exercising the
    * best-of-several-expansions max. */
  val FuzzyTerms: Seq[String] = Seq("vektor", "streem", "sow")

  def fuzzyQ(s: SparkSession, d: String): DataFrame =
    bm25FuzzyScores(s, d, FuzzyTerms)
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  def fuzzyIdxQ(s: SparkSession, d: String): DataFrame =
    fuzzyFromIndex(s, index(s, d), FuzzyTerms)
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Named query: "s" completes to six vocabulary terms (exercising the
    * top-df expansion cap at 5), "co" to two. */
  val PrefixTerms: Seq[String] = Seq("s", "co")

  /** Named query: "rapid" is NOT a corpus term — only its synonym "fast"
    * reaches postings ("quick" isn't in the vocabulary either and drops
    * out); "row" matches itself AND its synonym "line". */
  val SynonymTerms: Seq[String] = Seq("rapid", "row")
  val Synonyms: Map[String, Seq[String]] = Map(
    "rapid" -> Seq("fast", "quick"), "row" -> Seq("line"))

  def synonymQ(s: SparkSession, d: String): DataFrame =
    bm25SynonymScores(s, d, SynonymTerms, Synonyms)
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  def prefixQ(s: SparkSession, d: String): DataFrame =
    bm25PrefixScores(s, d, PrefixTerms)
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Named query: documents most like document 42. */
  val MltDocId = 42L

  def mltQ(s: SparkSession, d: String): DataFrame =
    moreLikeThis(s, d, MltDocId)
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Faceted search (ES `aggs` alongside `query`): the metadata
    * breakdown of the MATCHED TOP-K — each facet dimension's value
    * counts over the result page. The facet aggregation runs on the
    * bounded top-k artifact joined back to the corpus by id (at lake
    * scale: k point lookups), never on the corpus. */
  def searchFacets(s: SparkSession, d: String,
      terms: Seq[String] = QueryTerms, k: Int = 10): DataFrame = {
    val top = bm25Scores(s, d, terms)
      .orderBy(desc("score"), asc("doc_id")).limit(k)
    val meta = Tables.documents(s, d).select("doc_id", "source", "lang")
      .join(broadcast(top.select("doc_id")), "doc_id")
    meta.groupBy(col("source").as("value")).agg(count(lit(1)).as("n"))
      .withColumn("facet", lit("source"))
      .unionByName(meta.groupBy(col("lang").as("value"))
        .agg(count(lit(1)).as("n")).withColumn("facet", lit("lang")))
      .select("facet", "value", "n")
      .orderBy("facet", "value")
  }

  /** Hit highlighting (ES `highlight`): for each top-k document, the
    * total query-term occurrence count and a snippet around the FIRST
    * occurrence (three tokens of context each side). Pure token-array
    * HOFs on the k result rows — no extra corpus pass beyond the id
    * join. Deterministic: the first occurrence of the EARLIEST-matching
    * position across all query terms anchors the snippet. */
  def searchHighlight(s: SparkSession, d: String,
      rawTerms: Seq[String] = QueryTerms, k: Int = 10): DataFrame = {
    val terms = analyze(rawTerms)
    val qarr = array(terms.map(lit): _*)
    val top = bm25Scores(s, d, terms)
      .orderBy(desc("score"), asc("doc_id")).limit(k)
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(broadcast(top), "doc_id")
      .withColumn("pos", filter(
        sequence(lit(1), size(col("toks"))),
        i => array_contains(qarr, element_at(col("toks"), i))))
      .withColumn("n_occ", size(col("pos")).cast("long"))
      .withColumn("first", element_at(col("pos"), 1))
      .withColumn("snippet", array_join(
        slice(col("toks"), greatest(col("first") - 3, lit(1)), lit(7)), " "))
      .select(col("doc_id"), col("score"), col("n_occ"), col("snippet"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  // --- At-rest inverted index — the 100 TB serving path ---------------------

  /** Postings-list bucket count. Serving reads `|Q|/buckets` of the index
    * via partition pruning; real deployments size this so one bucket ≈
    * one HDFS block per executor wave. */
  val IndexBuckets = 64

  /** Write the inverted index: POSITIONAL postings
    * (doc_id, dl, term, tf, positions) and the per-term df table, both
    * hash-partitioned on the term (so a query term's postings and its df
    * land in ONE partition directory each), plus the one-row corpus
    * stats. This is the standard search-engine split — tokenize once at
    * ingest, serve every query after from term-keyed posting lists; no
    * query ever re-reads the corpus. Positions (sorted, 0-based) are
    * what phrase queries ([[phraseFromIndex]]) consume — the same extra
    * ~1 int per occurrence Lucene pays for `match_phrase`. */
  /** The posting-list derivation shared by full build and append — ONE
    * definition so a layout change can never silently break the
    * append-equals-rebuild bit-parity contract. */
  private def postings(toks: DataFrame, buckets: Int): DataFrame =
    toks
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))

  def writeInvertedIndex(docs: DataFrame, id: Column, text: Column,
      dir: String, buckets: Int = IndexBuckets): Unit = {
    val toks = docs.select(id.cast("long").as("doc_id"), tokens(text).as("toks"))
    val posts = postings(toks, buckets)
    // cluster rows before the partitioned writes — without it every task
    // opens a file in every bucket dir it has rows for (the guide-§6
    // small-files bug, paid again by every probe's scan; r20)
    posts.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    posts.groupBy("bucket", "term")
      .agg(count(lit(1)).cast("double").as("df"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/terms")
    // sum_dl rides along so incremental appends can recombine the average
    // EXACTLY (token counts are integers, so double sums are exact and
    // avgdl = sum/n reproduces the full-rebuild division bit for bit)
    toks.agg(count(lit(1)).cast("double").as("n_docs"),
        avg(size(col("toks"))).as("avgdl"),
        sum(size(col("toks"))).cast("double").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** The fixed schemas of the three index tables, as [[postings]] and
    * the writers produce them (`bucket` is the partition column, typed
    * as partition inference types it). Serving reads pass them to the
    * reader, so no read runs a schema-inference job over the footers. */
  val PostingsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", DoubleType),
    StructField("term", StringType), StructField("tf", DoubleType),
    StructField("positions", ArrayType(IntegerType)),
    StructField("bucket", IntegerType)))
  val TermsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", DoubleType),
    StructField("bucket", IntegerType)))
  val StatsSchema: StructType = StructType(Seq(
    StructField("n_docs", DoubleType), StructField("avgdl", DoubleType),
    StructField("sum_dl", DoubleType)))

  /** The bucket of `term` in a `buckets`-way layout, computed on the
    * driver by evaluating the very expression [[postings]] writes with
    * (`pmod(xxhash64(term), buckets)`, Spark's seed 42), so the ids are
    * bit-identical by construction and routing runs no Spark job. */
  private[graft] def bucketOf(term: String, buckets: Int): Long =
    Pmod(new XxHash64(Seq(Literal(term))), Literal(buckets.toLong))
      .eval().asInstanceOf[Long]

  /** Crash-safe table rewrite (the Compact swap pattern): stage the new
    * contents (the staging job may still READ `path` — it is untouched
    * until the job commits), vacate, rename in; on entry self-heal a
    * crash between the renames from `__old`. */
  /** The swap's crash self-heal, callable on its own: a crash between
    * `rename(p, __old)` and `rename(__staging, p)` leaves only `__old` on
    * disk, and any EAGER read of `path` (parquet schema resolution) would
    * fail before reaching the swap that knows how to heal it — so entry
    * points that read swap-managed tables heal FIRST. */
  private def healSwap(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val oldP = new org.apache.hadoop.fs.Path(path + "__old")
    if (!f.exists(p) && f.exists(oldP)) mustRename(f, oldP, p)
  }

  /** Hadoop `FileSystem.rename` reports failure by RETURNING FALSE, not
    * throwing — and a swallowed false here means the next rename can move
    * the staging dir INSIDE the live table (HDFS into-existing-dir
    * semantics) or leave stale data serving silently. Every swap rename
    * goes through this so a failed step is loud. */
  private def mustRename(f: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"swap rename failed: $src -> $dst " +
        "(FileSystem.rename returned false; index left un-swapped)")
  }

  /** Heal both swap-managed index tables — for callers that must decide
    * "does this index exist?" (e.g. the streaming ingest's
    * rebuild-vs-append probe): without healing first, a crash mid-swap
    * makes a COMPLETE index look absent and a rebuild would clobber it. */
  private[graft] def healIndex(s: SparkSession, dir: String): Unit = {
    healSwap(s, s"$dir/terms"); healSwap(s, s"$dir/stats")
  }

  private def swapWrite(s: SparkSession, path: String)(write: String => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val oldP = new org.apache.hadoop.fs.Path(path + "__old")
    val tmpP = new org.apache.hadoop.fs.Path(path + "__staging")
    healSwap(s, path)
    f.delete(tmpP, true); f.delete(oldP, true)
    write(tmpP.toString)
    mustRename(f, p, oldP); mustRename(f, tmpP, p); f.delete(oldP, true)
  }

  /** Append a batch of NEW documents (doc_ids disjoint from the indexed
    * corpus — the contract of an ingest increment) to an existing index:
    * postings append into their bucket directories (new doc_ids touch no
    * existing row, so appending files IS the merge), while the two small
    * derived tables — per-term df and corpus stats — are recombined by
    * exact integer-in-double sums and swapped in crash-safely. Serving
    * from an appended index is bit-identical to a full rebuild
    * (spec-pinned), because every aggregate the scorer reads is
    * order-independent.
    *
    * Atomicity caveat, stated honestly: the three updates (postings
    * append, terms swap, stats swap) are individually durable but not
    * jointly atomic — a crash between them leaves df/stats stale w.r.t.
    * the appended postings, and the recovery is re-running the batch's
    * derived-table merge (or a full [[writeInvertedIndex]] rebuild).
    * Production lakes put exactly this multi-file commit under a table
    * format's MVCC (Iceberg/Delta); the operator keeps the layout
    * format-agnostic. */
  def appendToIndex(docs: DataFrame, id: Column, text: Column,
      dir: String, buckets: Int = IndexBuckets,
      requireDisjoint: Boolean = true): Unit = {
    val s = docs.sparkSession
    // heal interrupted swaps BEFORE the eager parquet reads below — a
    // crash between a swap's renames would otherwise wedge every retry
    // on PATH_NOT_FOUND without ever reaching the swap's own self-heal
    healIndex(s, dir)
    invalidateFuzzyExpansions(dir) // vocabulary/df change below
    try {
      val toks = docs.select(id.cast("long").as("doc_id"), tokens(text).as("toks"))
      val posts = postings(toks, buckets)
        .localCheckpoint() // one computation feeds both the append and the df merge
      if (requireDisjoint) {
        // The disjoint-doc_ids contract enforced, not assumed: a violated
        // contract would silently yield duplicate (doc_id, term) posting
        // rows — the score pivot's max() picks one arbitrarily and df /
        // n_docs double-count, i.e. WRONG scores with no failure signal.
        // Cost = one doc_id-column scan of postings with a broadcast
        // semi-join probe (batch ids are increment-sized); parquet
        // row-group min/max stats skip most files when ids are monotonic.
        // Lake-scale callers that track disjointness upstream (e.g. the
        // streaming ingest's exactly-once batch ids) may opt out.
        val clash = s.read.parquet(s"$dir/postings").select("doc_id")
          .join(broadcast(posts.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
          .limit(1).count()
        require(clash == 0L,
          "appendToIndex batch overlaps the indexed corpus (doc_ids must be " +
            "NEW — an ingest increment); an overlapping append would " +
            "double-count postings/df and corrupt BM25 scores")
      }
      posts.write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
      val newDf = posts.groupBy("bucket", "term")
        .agg(count(lit(1)).cast("double").as("df"))
      val mergedTerms = s.read.parquet(s"$dir/terms")
        .select("bucket", "term", "df").unionByName(newDf)
        .groupBy("bucket", "term").agg(sum("df").as("df"))
      swapWrite(s, s"$dir/terms") { tmp =>
        mergedTerms.repartition(col("bucket")) // one file per bucket (§6, r20)
          .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      }
      val newStats = toks.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(size(col("toks"))).cast("double").as("sum_dl"))
      val merged = s.read.parquet(s"$dir/stats")
        .select(col("n_docs"), col("sum_dl"))
        .unionByName(newStats)
        .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
        .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl"), col("sum_dl"))
      swapWrite(s, s"$dir/stats") { tmp =>
        merged.write.mode("overwrite").parquet(tmp)
      }
    } finally dropImage(dir)
  }

  /** Shared index-serving preamble: heal interrupted swaps, compute the
    * query terms' bucket ids on the driver ([[bucketOf]]), and open only
    * those `bucket=<b>` leaf dirs that exist, with the table's fixed
    * schema, with the bucket PartitionFilter + term PushedFilter applied.
    * Neither routing, listing nor schema resolution runs a Spark job;
    * opening the table root instead would list every bucket dir (a
    * parallel listing job past 32 dirs) and infer the schema in another
    * job, on every call.
    * Every index-served query path (BM25, fuzzy, phrase, proximity)
    * reads through here so the pruning logic has exactly one definition. */
  private def prunedRead(s: SparkSession, dir: String, table: String,
      terms: Seq[String], buckets: Int): DataFrame = {
    healIndex(s, dir)
    // heal BEFORE the parquet read snapshots its file listing — a merge
    // crash may have left a bucket partition vacated, and its rows must
    // be visible to this very read
    if (table == "postings")
      graft.sources.Tombstones.healPartitions(s, s"$dir/postings")
    val bIds = terms.map(bucketOf(_, buckets)).distinct
    val root = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val leaves = bIds.map(b => new org.apache.hadoop.fs.Path(root, s"bucket=$b"))
      .filter(f.exists).map(_.toString)
    val schema = if (table == "postings") PostingsSchema else TermsSchema
    // a bucket no indexed term hashes to has no dir: its terms match nothing
    val all =
      if (leaves.isEmpty) s.createDataFrame(java.util.List.of[Row](), schema)
      else s.read.schema(schema).option("basePath", root.toString).parquet(leaves: _*)
    val read = all
      .filter(col("bucket").isin(bIds: _*) && col("term").isin(terms: _*))
    // Lucene liveDocs semantics for takedowns ([[deleteFromIndex]]):
    // deleted docs' postings are filtered out of EVERY index-served
    // query (BM25, phrase, proximity, bool) right here at the read, but
    // df and corpus stats keep counting them until [[mergeIndex]] — the
    // exact staleness contract Lucene documents for deletes-before-merge
    // (scores of surviving docs are UNCHANGED by a delete, which is also
    // what makes the pre-merge state oracle-checkable). The terms/stats
    // tables carry no doc_id, so only the postings read filters.
    if (table == "postings")
      graft.sources.Tombstones.dropDeleted(read, col("doc_id"), dir)
    else read
  }

  /** Takedown: mark docs deleted in a [[writeInvertedIndex]] layout.
    * O(|ids|) — no postings file is rewritten. Serving reflects the
    * delete immediately ([[prunedRead]] filters postings rows); df and
    * corpus stats intentionally stay stale until [[mergeIndex]], the
    * Lucene liveDocs-then-merge split. */
  def deleteFromIndex(ids: DataFrame, idCol: Column, dir: String): Unit =
    try graft.sources.Tombstones.add(ids, idCol, dir) finally dropImage(dir)

  /** Apply accumulated tombstones physically — the Lucene "merge" that
    * ends the liveDocs staleness window. Every derived artifact is
    * recomputed from the SURVIVING postings view (anti-join over the
    * current files), never by delta subtraction, which is what makes a
    * crashed merge re-runnable: after any partial completion the
    * surviving view is unchanged, so every step is idempotent.
    *
    * Order (tombstones clear LAST, so serving stays correct throughout):
    *  1. terms: per-(bucket, term) df recomputed from survivors, swapped
    *     (full recompute — a merge is a whole-index maintenance job, as
    *     Lucene's is);
    *  2. stats: every indexed doc owns ≥1 posting row ([[tokens]] maps
    *     "" to [""], so dl ≥ 1), so distinct (doc_id, dl) over survivors
    *     enumerates the surviving corpus exactly; counts and dl sums are
    *     integers-in-doubles → n_docs/avgdl/sum_dl equal a fresh
    *     [[writeInvertedIndex]] on the filtered corpus BIT FOR BIT.
    *     (Stated boundary: a doc indexed with NULL text has no postings
    *     and would drop out of n_docs here where a fresh build counts
    *     it; the corpus tables have no null text, and production lakes
    *     gate nulls out before indexing.)
    *  3. postings: only buckets that contain deleted rows rewrite, each
    *     through the crash-safe swap-with-straddle-carry.
    *  4. clear tombstones.
    * Post-merge serving is bit-identical to a rebuild on the filtered
    * corpus (spec-pinned). Mid-merge (between 1 and 2) scores transiently
    * mix new df with old stats — same non-atomicity class as
    * [[appendToIndex]]'s documented multi-table commit, and the same
    * production answer (table-format MVCC) applies. Not safe to run
    * concurrently with [[appendToIndex]] for the SAME reason appends
    * serialize with each other: both recombine the derived tables. */
  def mergeIndex(s: SparkSession, dir: String,
      onStep: String => Unit = _ => ()): Unit = {
    healIndex(s, dir)
    invalidateFuzzyExpansions(dir) // df recombines below
    try {
      graft.sources.Tombstones.healPartitions(s, s"$dir/postings")
      graft.sources.Tombstones.ids(s, dir).foreach { tomb =>
        val posts = s.read.parquet(s"$dir/postings")
        val live = posts.join(tomb, col("doc_id") === tomb("id"), "left_anti")
        val newTerms = live.groupBy(col("bucket"), col("term"))
          .agg(count(lit(1)).cast("double").as("df"))
        swapWrite(s, s"$dir/terms") { tmp =>
          newTerms.repartition(col("bucket")) // one file per bucket (§6, r20)
            .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        }
        onStep("terms")
        val newStats = live.select(col("doc_id"), col("dl")).distinct()
          .agg(count(lit(1)).cast("double").as("n_docs"),
            sum(col("dl")).as("sum_dl"))
          .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl"),
            col("sum_dl"))
        swapWrite(s, s"$dir/stats") { tmp =>
          newStats.write.mode("overwrite").parquet(tmp)
        }
        onStep("stats")
        val touched = posts.join(tomb, col("doc_id") === tomb("id"), "left_semi")
          .select(col("bucket").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted
        touched.foreach { b =>
          graft.sources.Tombstones.rewriteLive(s, s"$dir/postings/bucket=$b",
            df => df.join(tomb, col("doc_id") === tomb("id"), "left_anti"), onStep)
        }
        graft.sources.Tombstones.clear(s, dir)
      }
    } finally dropImage(dir)
  }

  /** BM25 served from a [[writeInvertedIndex]] layout: the query terms'
    * bucket ids become PartitionFilters (≤ |Q| of `buckets` directories
    * listed and read) and the term equality a PushedFilter inside them —
    * corpus text is never touched. Bit-identical to [[bm25Scores]]
    * (shared [[score]] tail; parity spec-pinned). */
  def bm25FromIndex(s: SparkSession, dir: String,
      rawTerms: Seq[String] = QueryTerms,
      buckets: Int = IndexBuckets): DataFrame = {
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "BM25 needs at least one non-empty term")
    val posts = prunedRead(s, dir, "postings", terms, buckets)
      .select("doc_id", "dl", "term", "tf")
    val dfreq = prunedRead(s, dir, "terms", terms, buckets)
      .select("term", "df")
    score(posts, dfreq, readStats(s, dir), terms)
  }

  /** The one-row corpus stats table, read with its fixed schema. */
  private def readStats(s: SparkSession, dir: String): DataFrame =
    s.read.schema(StatsSchema).parquet(s"$dir/stats")

  /** The benchmark phrase (occurs in the corpus, some docs twice). */
  val Phrase: Seq[String] = Seq("hash", "join")

  /** Phrase search over the positional index — ES/Lucene `match_phrase`
    * (the query shape the reference runs against filenames,
    * `/root/reference/SAM/update_elasticsearch_with_segments.py:138-162`)
    * generalized to text. For an n-term phrase, shift term i's positions
    * back by i and intersect: the surviving values are the phrase's
    * start offsets, so multi-occurrence counts are exact and overlapping
    * matches are counted (a replace-and-measure oracle can't do that).
    *
    * Scale shape: each term reads ONE pruned bucket directory; the n−1
    * equi-joins key on doc_id only (posting rows, never corpus rows);
    * intersections are per-row array kernels. */
  def phraseFromIndex(s: SparkSession, dir: String,
      rawPhrase: Seq[String] = Phrase,
      buckets: Int = IndexBuckets): DataFrame = {
    val phrase = analyze(rawPhrase)
    require(phrase.size >= 2, "a phrase needs at least two terms")
    val posts = prunedRead(s, dir, "postings", phrase, buckets)
      .select("doc_id", "term", "positions")
    val shifted = phrase.zipWithIndex.map { case (t, i) =>
      posts.filter(col("term") === t)
        .select(col("doc_id"),
          transform(col("positions"), p => p - i).as(s"p$i"))
    }
    val joined = shifted.reduceLeft((a, b) => a.join(b, "doc_id"))
    val starts = phrase.indices.map(i => col(s"p$i"))
      .reduceLeft((a, b) => array_intersect(a, b))
    joined.select(col("doc_id"), size(starts).cast("long").as("n_occ"))
      .filter(col("n_occ") > 0)
      .orderBy("doc_id")
  }

  /** Named query: [[phraseFromIndex]] on the cached index. */
  def phraseQ(s: SparkSession, d: String): DataFrame =
    phraseFromIndex(s, index(s, d))

  /** Proximity pair search — `match_phrase` with `slop`: an occurrence
    * is a position of `first` followed by `second` within `slop + 1`
    * tokens (slop 0 ≡ exact adjacency; the LEFT term anchors, so counts
    * are per-anchor like [[phraseFromIndex]]'s are per-start). Same
    * pruned posting reads and doc_id join as the exact phrase — slop
    * only changes the per-row position kernel. */
  def proximityFromIndex(s: SparkSession, dir: String, first: String,
      second: String, slop: Int,
      buckets: Int = IndexBuckets): DataFrame = {
    val pair = analyze(Seq(first, second))
    require(pair.size == 2, "proximity search needs two non-empty terms")
    require(slop >= 0, "slop must be >= 0")
    val posts = prunedRead(s, dir, "postings", pair, buckets)
      .select("doc_id", "term", "positions")
    val a = posts.filter(col("term") === pair.head)
      .select(col("doc_id"), col("positions").as("pa"))
    val b = posts.filter(col("term") === pair(1))
      .select(col("doc_id"), col("positions").as("pb"))
    a.join(b, "doc_id")
      .select(col("doc_id"),
        size(filter(col("pa"), p =>
          exists(col("pb"), q => q > p && q <= p + 1 + slop)))
          .cast("long").as("n_occ"))
      .filter(col("n_occ") > 0)
      .orderBy("doc_id")
  }

  /** Named query: "sort … merge" within slop 2 on the cached index. */
  def proximityQ(s: SparkSession, d: String): DataFrame =
    proximityFromIndex(s, index(s, d), "sort", "merge", slop = 2)

  /** The per-JVM index over `d`'s documents, built once through
    * [[Scratch.dir]]: the testdata dirs are immutable, so one build
    * serves all Bench reps and the measured number is the SERVING path. */
  private def index(s: SparkSession, d: String): String =
    Scratch.dir(s, s"bm25|$d") { tmp =>
      writeInvertedIndex(Tables.documents(s, d), col("doc_id"), col("text"), s"$tmp/idx")
      s"$tmp/idx"
    }

  /** Serving entries (r19): the request-parameterized dispatch serves
    * the lexical family from the per-JVM AT-REST index — the 100 TB
    * shape (the corpus is never read at request time; the query terms'
    * bucket directories are), and the measured serving fix: the ad-hoc
    * spellings re-scanned the corpus per request, which under a 32-way
    * HTTP burst read p50 1.2-17.5s while the index-served forms are
    * bit-identical on a fresh index (the shared-oracle contract of
    * `search_bm25_idx` / `search_fuzzy_idx`). */
  def bm25Serve(s: SparkSession, d: String, terms: Seq[String]): DataFrame =
    bm25FromIndex(s, index(s, d), terms)

  /** [[bm25Serve]]'s fuzzy twin — [[fuzzyFromIndex]] over the per-JVM
    * index; `auto` selects the ES AUTO per-term-length budget. */
  def fuzzyServe(s: SparkSession, d: String, terms: Seq[String],
      auto: Boolean = false): DataFrame =
    fuzzyFromIndex(s, index(s, d), terms, auto = auto)

  // ------------------- serving pool caches (r20) -------------------- //
  // VERDICT r19 #1: at C=32 the rrf mode's p95 hit 35.3 s — its plan ran
  // BOTH retrieval pools (an index-served BM25 AND a full embeddings
  // cosine scan) plus the rank-fusion window PER REQUEST, ~10× its
  // peers' cliff. Every pool is a deterministic, bounded artifact —
  // top-PoolN (doc_id, score) rows fixed by (data dir, terms) or
  // (data dir, query id), rounded/tiebroken exactly as the oracle ranks
  // them — so a serving node computes each once and fuses driver-local
  // LocalRelations (≤ PoolN rows) thereafter: repeated rrf/weighted
  // requests cost two 50-row windows and a join, zero corpus reads.
  // Value-preserving by construction (the cached rows ARE the collect of
  // the exact pool expression the oracle-checked bindings used — the
  // shared-oracle contract of the index-served family), bounded (cleared
  // past 1024 entries — a pool is ≤ PoolN tuples, so the cap is ~400 KB),
  // and swept with the owning session like every per-JVM cache here. A
  // pool build is a Spark job, so it runs through Scratch.once, outside
  // the map's bin lock. Since the serving modes answer from the driver-held
  // [[IndexImage]], these caches back the named bindings (`q6_rrf_hybrid`,
  // `q7_weighted_hybrid`, `search_mlt`, `search_fuzzy_idx`) and the
  // serving fallback for an index over the image's budget.
  private val lexPoolCache = new ConcurrentHashMap[
    (SparkSession, String, List[String]), FutureTask[Seq[(Long, Double)]]]()
  private val vecPoolCache = new ConcurrentHashMap[
    (SparkSession, String, Long), FutureTask[Seq[(Long, Double)]]]()
  private val mltTermsCache = new ConcurrentHashMap[
    (SparkSession, String, Long, Int), FutureTask[Seq[String]]]()
  private val fuzzyExpCache = new ConcurrentHashMap[
    (SparkSession, String, List[String], Int, Boolean),
    FutureTask[Array[(String, String)]]]()
  locally {
    graft.SessionSweep.onContextStop(sc => {
      lexPoolCache.keySet.removeIf(k => graft.SessionSweep.ownedBy(k._1, sc))
      vecPoolCache.keySet.removeIf(k => graft.SessionSweep.ownedBy(k._1, sc))
      mltTermsCache.keySet.removeIf(k => graft.SessionSweep.ownedBy(k._1, sc))
      fuzzyExpCache.keySet.removeIf(k => graft.SessionSweep.ownedBy(k._1, sc))
    })
  }
  private def sweepIfLarge(m: ConcurrentHashMap[_, _]): Unit =
    if (m.size() > 1024) m.clear() // rebuilding a pool is one bounded query

  /** Drop cached fuzzy expansions for `dir` — called by the index
    * mutations that can change the terms table ([[appendToIndex]],
    * [[mergeIndex]]): the expansion CAP selects by df, so stale df could
    * pick different expansions after a merge. Takedowns
    * ([[deleteFromIndex]]) deliberately do NOT invalidate — the terms
    * table is untouched until the merge (the documented pre-merge
    * staleness contract), so the cached expansions remain exact. */
  private def invalidateFuzzyExpansions(dir: String): Unit =
    fuzzyExpCache.keySet.removeIf(_._2 == dir)

  /** Top-`PoolN` BM25 pool for `terms`, served from the at-rest index
    * and cached as driver rows — the lex leg of [[rrfHybridK]] and
    * [[weightedHybrid]]. */
  private def lexPoolRows(s: SparkSession, d: String,
      terms: Seq[String]): Seq[(Long, Double)] = {
    sweepIfLarge(lexPoolCache)
    Scratch.once(lexPoolCache, (s, d, terms.toList)) {
      graft.SessionSweep.watch(s)
      bm25Serve(s, d, terms)
        .orderBy(desc("score"), asc("doc_id")).limit(PoolN)
        .select(col("doc_id").cast("long"), col("score").cast("double"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
  }

  /** Top-`PoolN` dense pool for `queryVecId` — the ROUNDED cosine cut
    * ([[rrfHybridK]]'s oracle-boundary note) collected once per query id. */
  private def vecPoolRows(s: SparkSession, d: String,
      queryVecId: Long): Seq[(Long, Double)] = {
    sweepIfLarge(vecPoolCache)
    Scratch.once(vecPoolCache, (s, d, queryVecId)) {
      graft.SessionSweep.watch(s)
      val q0 = Tables.embeddings(s, d).filter(col("vec_id") === queryVecId)
        .select(col("embedding").as("qv"))
      Tables.embeddings(s, d).crossJoin(broadcast(q0))
        .select(col("vec_id").as("doc_id"),
          round(graft.functions.VectorExpressions.fusedCosine(
            s, col("embedding"), col("qv")), 6).as("cs"))
        .orderBy(desc("cs"), asc("doc_id")).limit(PoolN)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
  }

  // ------------------ the index served from the driver ------------------ //

  /** A driver-held copy of one [[writeInvertedIndex]] layout, read once as
    * [[prunedRead]] reads it (swaps healed, tombstoned docs dropped): per
    * row of the terms table the term, its df and its postings `(doc_id,
    * dl, tf)` by doc_id; the stats row; and the fuzzy vocabulary's
    * delete-1 and delete-≤2 keys, evaluated by Spark through
    * [[delVariantsCol]] / [[delVariants2Col]] so they keep Spark's
    * code-point `length`/`substr`. Strings stay Spark's `UTF8String`
    * bytes, so equality, `levenshtein` and order are Spark's own.
    * [[bm25Image]], [[fuzzyImage]], [[mltImage]] and [[rrfImage]] answer
    * from it with the rows of [[bm25Serve]], [[fuzzyServe]],
    * [[moreLikeThis]] and [[rrfHybridK]] (`LexicalImageSpec` pins it), as
    * a `LocalRelation`, so a request runs no Spark job; the schemas are
    * the distributed plans' own, resolved once at load. Query-independent,
    * so one image serves every request, like the point image. */
  final class IndexImage private[Lexical] (
      private[Lexical] val terms: Array[UTF8String],
      private[Lexical] val df: Array[Double],
      private[Lexical] val docs: Array[Array[Long]],
      private[Lexical] val dl: Array[Array[Double]],
      private[Lexical] val tf: Array[Array[Double]],
      // by edit budget 0, 1, 2: key → the terms that hold it (budget 0:
      // the term itself)
      private[Lexical] val keys: IndexedSeq[Map[UTF8String, Array[Int]]],
      private[Lexical] val nDocs: Double,
      private[Lexical] val avgdl: Double,
      private[Lexical] val scoreSchema: StructType,
      private[Lexical] val emptySchema: StructType,
      private[Lexical] val rrfSchema: StructType)

  private val images = new ConcurrentHashMap[String, FutureTask[Option[IndexImage]]]()

  /** The [[IndexImage]] of the index at `dir`, built once per JVM through
    * [[Scratch.once]], outside the map's bin lock; [[appendToIndex]],
    * [[deleteFromIndex]] and [[mergeIndex]] drop it when they finish. */
  private[graft] def indexImage(s: SparkSession, dir: String): Option[IndexImage] =
    Scratch.once(images, dir)(loadImage(s, dir))

  /** The image of the per-JVM index over `d` that the serving modes read. */
  private[graft] def servedImage(s: SparkSession, d: String): Option[IndexImage] =
    indexImage(s, index(s, d))

  /** A build that read a mutation's partial state was put in the map
    * before it read, so this removes it too. */
  private def dropImage(dir: String): Unit = images.remove(dir)

  /** Load the image, or None — then the modes run their distributed plans
    * — when the index's on-disk bytes or the image's estimated size are
    * over the hot tier's driver budget ([[Search.hotMaxBytes]]), when the
    * rows to collect are estimated over `spark.driver.maxResultSize`,
    * when a row sits outside its term's
    * bucket (the pruned read would then keep it for some queries and not
    * others), when a term repeats or a cell is null, or when the stats are
    * not one row with a positive avgdl. */
  private def loadImage(s: SparkSession, dir: String): Option[IndexImage] = {
    healIndex(s, dir)
    graft.sources.Tombstones.healPartitions(s, s"$dir/postings")
    val root = new org.apache.hadoop.fs.Path(dir)
    val onDisk = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(root).getLength
    if (onDisk > Search.hotMaxBytes) return None
    // parquet is compressed and holds no delete keys, so an index inside
    // the budget on disk can still expand past it: estimate, from the
    // terms table and before collecting anything, the image (24 B a
    // posting, a key's bytes and ~64 B of object per delete key) and the
    // collected rows (an UnsafeRow's 48 B fixed part plus the term a
    // posting, a key's bytes plus its 16 B slot), and refuse an image over
    // the budget or rows over what one collect may bring to the driver
    val len = length(col("term")).cast("double")
    val nb = octet_length(col("term")).cast("double")
    // a term's delete-1 and delete-≤2 keys, duplicates counted
    val nKeys = when(len <= MaxFuzzyTermLen + 2, lit(2.0) + len * 2 + len * (len - 1) / 2)
      .otherwise(0.0)
    val est = GraftSqlShim.collectInternal(s.read.schema(TermsSchema).parquet(s"$dir/terms")
      .agg(coalesce(sum(col("df") * 24 + nKeys * (nb + 64)), lit(0.0)),
        coalesce(sum(col("df") * (nb + 48) + nKeys * (nb + 16)), lit(0.0))))(0)
    val maxResult = s.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (est.getDouble(0) > Search.hotMaxBytes ||
        (maxResult > 0 && est.getDouble(1) > maxResult)) return None
    val stats = GraftSqlShim.collectInternal(readStats(s, dir).select("n_docs", "avgdl"))
    if (stats.length != 1 || stats(0).anyNull || !(stats(0).getDouble(1) > 0.0)) return None
    val home = col("bucket") === pmod(xxhash64(col("term")), lit(IndexBuckets.toLong))
    // no longer term passes fuzzy's length cut (query length + budget)
    val short = length(col("term")) <= MaxFuzzyTermLen + 2
    val vocab = GraftSqlShim.collectInternal(
      s.read.schema(TermsSchema).parquet(s"$dir/terms").select(col("term"), col("df"), home,
        when(short, delVariantsCol(col("term"))), when(short, delVariants2Col(col("term")))))
    if (vocab.exists(r => (0 to 2).exists(r.isNullAt) || !r.getBoolean(2))) return None
    val terms = vocab.map(_.getUTF8String(0))
    val exact = terms.indices.map(j => terms(j) -> Array(j)).toMap
    if (exact.size != terms.length) return None
    def keyMap(c: Int): Map[UTF8String, Array[Int]] =
      vocab.indices.filterNot(vocab(_).isNullAt(c)).flatMap { j =>
        val a = vocab(j).getArray(c)
        (0 until a.numElements()).map(i => a.getUTF8String(i) -> j)
      }.groupBy(_._1).map { case (key, js) => key -> js.map(_._2).toArray }
    val posts = GraftSqlShim.collectInternal(
      graft.sources.Tombstones.dropDeleted(
          s.read.schema(PostingsSchema).parquet(s"$dir/postings"), col("doc_id"), dir)
        .select(col("term"), col("doc_id"), col("dl"), col("tf"), home))
    if (posts.exists(r => r.anyNull || !r.getBoolean(4))) return None
    // a posting of a term the terms table lacks never joins a df: dropped
    val byTerm = posts.groupBy(r => exact.get(r.getUTF8String(0)).map(_(0)))
    val rows = terms.indices.map(j =>
      byTerm.getOrElse(Some(j), Array.empty[InternalRow]).sortBy(_.getLong(1)))
    Some(new IndexImage(terms, vocab.map(_.getDouble(1)),
      rows.map(_.map(_.getLong(1))).toArray, rows.map(_.map(_.getDouble(2))).toArray,
      rows.map(_.map(_.getDouble(3))).toArray, IndexedSeq(exact, keyMap(3), keyMap(4)),
      stats(0).getDouble(0), stats(0).getDouble(1),
      bm25FromIndex(s, dir, Seq("a")).orderBy(desc("score"), asc("doc_id"))
        .limit(1).schema,
      noHits(s).schema, rrfFuse(s, Nil, Nil, 1).schema))
  }

  /** Spark's `log` (`Log`): `StrictMath.log`, null at or below 0. */
  private def sparkLog(x: Double): java.lang.Double =
    if (x <= 0.0) null else java.lang.Double.valueOf(StrictMath.log(x))

  /** The idf of image term `j`, [[scoredPostings]]' expression. */
  private def idf(img: IndexImage, j: Int): java.lang.Double =
    sparkLog(1.0 + (img.nDocs - img.df(j) + 0.5) / (img.df(j) + 0.5))

  /** The pivot-and-sum tail of [[score]] and [[fuzzyFromIndex]] on the
    * image: a doc's component for slot `i` is the max, over the slot's
    * terms in the doc, of [[scoredPostings]]' BM25 contribution (the same
    * operands in the same order); a doc scores when one of the slots'
    * terms is in it; its score is the left-to-right sum of the
    * components, 0 for an empty one, rounded to 6 places. */
  private def scoreImage(img: IndexImage,
      slots: Seq[Array[Int]]): (Array[Long], Array[java.lang.Double]) = {
    val acc = scala.collection.mutable.LongMap.empty[Array[java.lang.Double]]
    for (j <- slots.flatten.distinct) {
      val in = slots.indices.filter(slots(_).contains(j))
      val w = idf(img, j)
      val (ds, dls, tfs) = (img.docs(j), img.dl(j), img.tf(j))
      for (r <- ds.indices) {
        val a = acc.getOrElseUpdate(ds(r), new Array[java.lang.Double](slots.size))
        if (w != null) {
          val sc: java.lang.Double = w * tfs(r) * (K1 + 1.0) /
            (tfs(r) + K1 * ((1.0 - B) + B * dls(r) / img.avgdl))
          for (i <- in if a(i) == null || compareDoubles(sc, a(i)) > 0) a(i) = sc
        }
      }
    }
    val ids = acc.keys.toArray
    (ids, ids.map { id =>
      val total = acc(id).map(c => if (c == null) 0.0 else c.doubleValue).reduceLeft(_ + _)
      java.lang.Double.valueOf(Search.roundHalfUp(total, 6))
    })
  }

  /** [[bm25FromIndex]] on the image: one slot per analyzed term. */
  private def bm25Scores(img: IndexImage,
      rawTerms: Seq[String]): (Array[Long], Array[java.lang.Double]) = {
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "BM25 needs at least one non-empty term")
    scoreImage(img, terms.map(t => img.keys(0).getOrElse(UTF8String.fromString(t), Array.empty[Int])))
  }

  /** The first `k` scored docs by score desc, doc_id asc. */
  private def topDocs(s: SparkSession, schema: StructType,
      scored: (Array[Long], Array[java.lang.Double]), k: Int): DataFrame = {
    val (ids, score) = scored
    Search.localRows(s, schema,
      Search.topByScore(ids, score, k).map(i => InternalRow(ids(i), score(i))))
  }

  /** `lexical` from the image: [[bm25Serve]]'s top `k`. */
  def bm25Image(s: SparkSession, img: IndexImage, terms: Seq[String], k: Int): DataFrame =
    topDocs(s, img.scoreSchema, bm25Scores(img, terms), k)

  /** [[fuzzyExpansions]] (`auto` false) and [[autoFuzzyExpansions]] on
    * the image, step for step: each query term's delete keys as the
    * encoder stores them, the vocabulary terms holding one of them within
    * the length cut, `levenshtein` within the budget, and the cap by df
    * desc, term asc. Each `q_term` maps to its capped expansions. */
  private def imageExpansions(img: IndexImage, rawTerms: Seq[String],
      auto: Boolean): Map[UTF8String, Array[Int]] = {
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "fuzzy expansion needs at least one term")
    require(terms.forall(_.length <= MaxFuzzyTermLen),
      s"fuzzy query terms are capped at $MaxFuzzyTermLen chars")
    def allowed(t: String) = if (auto) autoAllowed(t) else 1
    val qvar = terms.flatMap { t =>
      (allowed(t) match {
        case 2 => delVariants2(t)
        case 1 => delVariants(t)
        case _ => Seq(t)
      }).map(v => (UTF8String.fromString(t), UTF8String.fromString(v)))
    }
    val maxK = terms.map(allowed).max
    val maxLen = terms.map(_.length).max + maxK
    // the budget of the stored q_term, by Spark's `length`
    def budget(q: UTF8String) =
      if (!auto) 1 else if (q.numChars >= 6) 2 else if (q.numChars >= 3) 1 else 0
    qvar.flatMap { case (q, v) =>
      img.keys(maxK).getOrElse(v, Array.empty[Int])
        .filter(img.terms(_).numChars <= maxLen).map(q -> _)
    }.distinct
      .filter { case (q, j) => q.levenshteinDistance(img.terms(j)) <= budget(q) }
      .groupBy(_._1).map { case (q, cands) =>
        q -> cands.map(_._2).sortWith { (a, b) =>
          val byDf = compareDoubles(img.df(b), img.df(a))
          if (byDf != 0) byDf < 0 else img.terms(a).compareTo(img.terms(b)) < 0
        }.take(MaxFuzzyExpansions).toArray
      }
  }

  /** `fuzzy` from the image: [[fuzzyServe]]'s top `k` — each analyzed
    * term's slot holds its expansions. */
  def fuzzyImage(s: SparkSession, img: IndexImage, rawTerms: Seq[String],
      auto: Boolean, k: Int): DataFrame = {
    val terms = analyze(rawTerms)
    require(terms.nonEmpty, "fuzzy search needs at least one term")
    val exp = imageExpansions(img, terms, auto)
    if (exp.isEmpty) return Search.localRows(s, img.emptySchema, Nil)
    topDocs(s, img.scoreSchema, scoreImage(img,
      terms.map(t => exp.getOrElse(UTF8String.fromString(t), Array.empty[Int]))), k)
  }

  /** `mlt` from the image: [[moreLikeThis]]'s top `k`. The source doc's
    * terms and tf come from its postings, df and n_docs from the index:
    * on the per-JVM index, built from the same documents and never
    * mutated, these are the values [[docsAndVocab]] derives. */
  def mltImage(s: SparkSession, img: IndexImage, docId: Long, k: Int): DataFrame = {
    val src = img.terms.indices.flatMap { j =>
      val r = java.util.Arrays.binarySearch(img.docs(j), docId)
      if (r < 0) None
      else Some(j -> Option(idf(img, j)).map(w => java.lang.Double.valueOf(img.tf(j)(r) * w)).orNull)
    }
    // __mlt desc (nulls last), term asc
    val selected = src.sortWith { case ((a, x), (b, y)) =>
      val byMlt =
        if (x == null) { if (y == null) 0 else 1 }
        else if (y == null) -1
        else compareDoubles(y, x)
      if (byMlt != 0) byMlt < 0 else img.terms(a).compareTo(img.terms(b)) < 0
    }.take(MltQueryTerms).map(p => img.terms(p._1).toString).sorted
    if (selected.isEmpty) return Search.localRows(s, img.emptySchema, Nil)
    val (ids, score) = bm25Scores(img, selected)
    val keep = ids.indices.filter(ids(_) != docId)
    topDocs(s, img.scoreSchema, (keep.map(ids).toArray, keep.map(score).toArray), k)
  }

  /** `rrf` from the image: [[rrfHybridK]]'s top `k`, fusing the image's
    * top-[[PoolN]] BM25 pool with `vecPool` (the dense pool's ids in
    * rank order, [[Search.vecPoolServe]]): ranks from 1, `60 + r` in long
    * arithmetic, the full-outer fusion and the rounded `rrf_score`. */
  def rrfImage(s: SparkSession, img: IndexImage, terms: Seq[String],
      vecPool: Seq[Long], k: Int): DataFrame = {
    val (ids, score) = bm25Scores(img, terms)
    val lexPool = Search.topByScore(ids, score, PoolN).map(ids)
    def ranks(pool: Seq[Long]) = pool.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val (rl, rv) = (ranks(lexPool), ranks(vecPool))
    def part(r: Option[Long]) = r.map(x => 1.0 / (RrfK + x).toDouble).getOrElse(0.0)
    val fused = (lexPool ++ vecPool).distinct.toArray
    val rrf = fused.map(id =>
      java.lang.Double.valueOf(Search.roundHalfUp(part(rl.get(id)) + part(rv.get(id)), 6)))
    Search.localRows(s, img.rrfSchema, Search.topByScore(fused, rrf, k).map { i =>
      val id = fused(i)
      InternalRow(id, rl.getOrElse(id, 0L), rv.getOrElse(id, 0L), rrf(i))
    })
  }

  /** The benchmark takedown set — doc_ids inside `search_bm25`'s sf0.01
    * top-10, so the delete visibly reranks the served list (and the
    * oracle proves exactly how). */
  val DeletedDocIds: Seq[Long] = Seq(46L, 478L, 352L)

  /** A SEPARATE index (never the shared [[index]] — tombstones would
    * leak into `search_bm25_idx`) with [[DeletedDocIds]] tombstoned but
    * NOT merged: the liveDocs serving state. */
  private def delIndex(s: SparkSession, d: String): String =
    Scratch.dir(s, s"bm25del|$d") { tmp =>
      writeInvertedIndex(Tables.documents(s, d), col("doc_id"), col("text"), s"$tmp/idx")
      import s.implicits._
      deleteFromIndex(DeletedDocIds.toDF("doc_id"), col("doc_id"), s"$tmp/idx")
      s"$tmp/idx"
    }

  /** Build → delete → [[mergeIndex]]: the post-merge physical state. */
  private def mergedIndex(s: SparkSession, d: String): String =
    Scratch.dir(s, s"bm25merged|$d") { tmp =>
      writeInvertedIndex(Tables.documents(s, d), col("doc_id"), col("text"), s"$tmp/idx")
      import s.implicits._
      deleteFromIndex(DeletedDocIds.toDF("doc_id"), col("doc_id"), s"$tmp/idx")
      mergeIndex(s, s"$tmp/idx")
      s"$tmp/idx"
    }

  /** Named query: [[bm25Q]] answered from the at-rest index — shares
    * `search_bm25`'s oracle, so the whole index write/read/serve path is
    * hash-checked against the corpus-scan formulation. */
  def bm25IdxQ(s: SparkSession, d: String): DataFrame =
    bm25FromIndex(s, index(s, d))
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Named query: BM25 after a takedown, BEFORE the merge — Lucene
    * liveDocs semantics, oracle-pinned: deleted docs vanish from the
    * list while surviving docs' scores are computed with the STALE
    * full-corpus df/stats (the oracle scores the full corpus and
    * excludes the deleted ids at the end — any df drift would
    * hash-mismatch). */
  def bm25DelQ(s: SparkSession, d: String): DataFrame =
    bm25FromIndex(s, delIndex(s, d))
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Named query: BM25 AFTER the merge — scores now equal a fresh index
    * over the filtered corpus (the oracle recomputes df/stats over
    * `documents` minus the deleted ids), closing the staleness window. */
  def bm25MergedQ(s: SparkSession, d: String): DataFrame =
    bm25FromIndex(s, mergedIndex(s, d))
      .orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Named query: BM25 top-10 for the benchmark terms. */
  def bm25Q(s: SparkSession, d: String): DataFrame =
    bm25Scores(s, d).orderBy(desc("score"), asc("doc_id")).limit(10)

  /** Reciprocal-rank fusion of the BM25 list and the dense-vector kNN
    * list (doc_id ⟗ vec_id — the synthetic corpus aligns them 1:1):
    * score = Σ 1/(60+rank), a retriever missing the doc contributes 0.
    * This is ES's hybrid `rank.rrf` — the fusion the reference would use
    * if it combined its tag `_score` with its kNN similarity. Ranks are
    * positions WITHIN each top-`PoolN` retrieved list (rank fusion's
    * definition), so the unpartitioned row_number window is bounded by
    * `PoolN`, not the corpus. */
  def rrfHybrid(s: SparkSession, d: String): DataFrame =
    rrfHybridK(s, d, QueryTerms, k = 10)

  /** [[rrfHybrid]] with the request knobs exposed (serving dispatch).
    *
    * r20: both pools come from the serving caches ([[lexPoolRows]] —
    * the r19 index-served lex leg, collected once per (dir, terms);
    * [[vecPoolRows]] — the ROUNDED-cosine cut, see its doc for why
    * rounding before the cut is the oracle-exact boundary — collected
    * once per (dir, query id)), so a repeated request fuses two ≤ PoolN
    * LocalRelations: the ranks, the full-outer join and the RRF
    * arithmetic are unchanged expression-for-expression, which is what
    * keeps `q6_rrf_hybrid`'s oracle hash intact. */
  def rrfHybridK(s: SparkSession, d: String, terms: Seq[String],
      k: Int, queryVecId: Long = 0L): DataFrame =
    rrfFuse(s, lexPoolRows(s, d, terms), vecPoolRows(s, d, queryVecId), k)

  /** [[rrfHybridK]]'s fusion of the two pools' `(doc_id, score)` rows. */
  private def rrfFuse(s: SparkSession, lexPool: Seq[(Long, Double)],
      vecPool: Seq[(Long, Double)], k: Int): DataFrame = {
    import s.implicits._
    val byLex = Window.orderBy(desc("score"), asc("doc_id"))
    val lex = lexPool.toDF("doc_id", "score")
      .select(col("doc_id"), row_number().over(byLex).cast("long").as("r_lex"))
    val byVec = Window.orderBy(desc("cs"), asc("doc_id"))
    val vec = vecPool.toDF("doc_id", "cs")
      .select(col("doc_id"), row_number().over(byVec).cast("long").as("r_vec"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("r_vec"), lit(0L)).as("rank_vec"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0)), 6).as("rrf_score"))
      .orderBy(desc("rrf_score"), asc("doc_id")).limit(k)
  }

  /** Weighted SCORE fusion — the second fusion flavor beside
    * [[rrfHybridK]]'s rank fusion, and the same weighting pattern the
    * reference's own hybrid mode applies to whole/segment scores
    * (default weights 0.4/0.6 match its `whole_weight`/`segment_weight`
    * defaults): each retriever's top-`PoolN` scores min-max normalize to
    * [0,1] within the pool, then fuse as w_lex·lex + w_vec·vec. A doc
    * missing from one list contributes 0 on that side. All arithmetic
    * runs on 6-decimal-rounded pool scores with fixed operand order, so
    * the fusion is oracle-exact; the pools are the serving caches'
    * driver-local rows (r20 — the checkpointed-pool spelling this
    * replaced collected the same rows per request; LocalRelations make
    * the min/max self-reference trivially safe). */
  def weightedHybrid(s: SparkSession, d: String,
      terms: Seq[String] = QueryTerms, wLex: Double = 0.4, wVec: Double = 0.6,
      queryVecId: Long = 0L, k: Int = 10): DataFrame = {
    import s.implicits._
    def norm(pool: DataFrame, scoreCol: String, out: String): DataFrame = {
      val mm = pool.agg(min(col(scoreCol)).as("mn"), max(col(scoreCol)).as("mx"))
      pool.crossJoin(broadcast(mm))
        .select(col("doc_id"),
          round(when(col("mx") > col("mn"),
            (col(scoreCol) - col("mn")) / (col("mx") - col("mn")))
            .otherwise(lit(1.0)), 6).as(out))
    }
    val lexPool = lexPoolRows(s, d, terms).toDF("doc_id", "score")
    val vecPool = vecPoolRows(s, d, queryVecId).toDF("doc_id", "cs")
    norm(lexPool, "score", "norm_lex")
      .join(norm(vecPool, "cs", "norm_vec"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("norm_lex"), lit(0.0)).as("norm_lex"),
        coalesce(col("norm_vec"), lit(0.0)).as("norm_vec"),
        round(lit(wLex) * coalesce(col("norm_lex"), lit(0.0)) +
          lit(wVec) * coalesce(col("norm_vec"), lit(0.0)), 6).as("fused"))
      .orderBy(desc("fused"), asc("doc_id")).limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_bm25" -> bm25Q,
    "search_bm25_idx" -> bm25IdxQ,
    "search_bm25_del" -> bm25DelQ,
    "search_bm25_merged" -> bm25MergedQ,
    "search_phrase" -> phraseQ,
    "search_phrase_slop" -> proximityQ,
    "search_bool" -> boolQ,
    "search_dismax" -> disMaxQ,
    "search_fuzzy" -> fuzzyQ,
    "search_fuzzy_auto" -> fuzzyAutoQ,
    "search_fuzzy_idx" -> fuzzyIdxQ,
    "search_prefix" -> prefixQ,
    "search_synonyms" -> synonymQ,
    "search_mlt" -> mltQ,
    "search_facets" -> ((s: SparkSession, d: String) => searchFacets(s, d)),
    "search_highlight" -> ((s: SparkSession, d: String) => searchHighlight(s, d)),
    "q6_rrf_hybrid" -> rrfHybrid,
    "q7_weighted_hybrid" -> ((s: SparkSession, d: String) => weightedHybrid(s, d)))

  /** SQL string literal with embedded single quotes escaped — the
    * expansion helpers take arbitrary Seq[String], so a term containing
    * a quote must not break the oracle replay. */
  private def sqlLit(t: String): String = "'" + t.replace("'", "''") + "'"

  private def termIn = QueryTerms.map(sqlLit).mkString("(", ", ", ")")
  private def pivotSum = QueryTerms
    .map(t => s"coalesce(max(CASE WHEN term = ${sqlLit(t)} THEN s END), 0.0)")
    .mkString(" + ")

  /** The BM25 pipeline as oracle SQL (same fixed-order score sum). */
  private def bm25Sql(corpusWhere: String = ""): String =
    s"""t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents $corpusWhere),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl FROM t),
       tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, term,
                CAST(count(*) AS DOUBLE) AS tf
              FROM (SELECT doc_id, toks, unnest(toks) AS term FROM t)
              WHERE term IN $termIn GROUP BY doc_id, dl, term),
       dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       sc AS (SELECT doc_id, term,
                ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ${K1 + 1.0}
                  / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)) AS s
              FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
       lexs AS (SELECT doc_id, round($pivotSum, 6) AS score FROM sc GROUP BY doc_id)"""

  /** Expanded-query oracle shared by fuzzy and prefix: `matchCond`
    * states the expansion SEMANTICS directly over the vocabulary CTE
    * (the Spark side's deletion-neighborhood / startsWith candidates are
    * proven equivalent), then both sides compute the same capped rank,
    * postings, and fixed-order best-expansion sum. */
  private def expansionSql(labels: Seq[String], matchCond: String,
      keepIdentity: Boolean = false): String = {
    val qIn = labels.map(sqlLit).mkString("[", ", ", "]")
    val qSum = labels
      .map(t => s"coalesce(max(CASE WHEN q_term = ${sqlLit(t)} THEN s END), 0.0)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       vocab AS (SELECT term, CAST(count(*) AS DOUBLE) AS vdf
         FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t)
         GROUP BY term),
       qt AS (SELECT unnest($qIn) AS q_term),
       exp AS (SELECT q_term, term FROM (
           SELECT q.q_term, v.term,
             row_number() OVER (PARTITION BY q.q_term${
               // identity retention: the (t, t) pair ranks in its own
               // partition (always rn=1 ≤ cap); only synonym-derived
               // candidates compete for the df-ranked slots — mirrors
               // synonymExpansions' identity/cap split exactly
               if (keepIdentity) ", (v.term = q.q_term)" else ""}
               ORDER BY v.vdf DESC, v.term) AS rn
           FROM qt q JOIN vocab v ON $matchCond)
         WHERE rn <= $MaxFuzzyExpansions),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl FROM t),
       tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, term,
                CAST(count(*) AS DOUBLE) AS tf
              FROM (SELECT doc_id, toks, unnest(toks) AS term FROM t)
              WHERE term IN (SELECT term FROM exp) GROUP BY doc_id, dl, term),
       dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       sc AS (SELECT doc_id, term,
                ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ${K1 + 1.0}
                  / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)) AS s
              FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
       m AS (SELECT doc_id, q_term, s FROM sc JOIN exp USING (term))
       SELECT doc_id, score FROM (
         SELECT doc_id, round($qSum, 6) AS score FROM m GROUP BY doc_id)
       ORDER BY score DESC, doc_id LIMIT 10"""
  }

  private def fuzzySql: String =
    expansionSql(FuzzyTerms, "levenshtein(q.q_term, v.term) <= 1")

  /** AUTO replay: the same expansion pyramid with ES's per-term-length
    * budget as the match condition. */
  private def fuzzyAutoSql: String =
    expansionSql(AutoFuzzyTerms,
      """levenshtein(q.q_term, v.term) <=
         CASE WHEN len(q.q_term) >= 6 THEN 2
              WHEN len(q.q_term) >= 3 THEN 1 ELSE 0 END""")

  private def prefixSql: String =
    expansionSql(PrefixTerms, "v.term LIKE q.q_term || '%'")

  private def synonymSql: String = {
    val cond = SynonymTerms.map { t =>
      val set = (t +: Synonyms.getOrElse(t, Nil)).distinct
        .map(sqlLit).mkString("(", ", ", ")")
      s"(q.q_term = ${sqlLit(t)} AND v.term IN $set)"
    }.mkString(" OR ")
    expansionSql(SynonymTerms, cond, keepIdentity = true)
  }

  /** MLT oracle: tf·idf term selection from the source doc replayed,
    * then the BM25 sum as an ORDERED fold by term (the Spark side scores
    * the selected terms in ascending order, and folding only the
    * PRESENT terms equals the full coalesce-0 pivot sum exactly —
    * x + 0.0 == x for the positive scores here). */
  private def mltSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       vocab AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
         FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t)
         GROUP BY term),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl FROM t),
       src AS (SELECT term, CAST(count(*) AS DOUBLE) AS tf
         FROM (SELECT unnest(toks) AS term FROM t WHERE doc_id = $MltDocId)
         GROUP BY term),
       sel AS (SELECT term FROM (
           SELECT s.term, row_number() OVER (ORDER BY
               s.tf * ln(1.0 + (n_docs - v.df + 0.5) / (v.df + 0.5)) DESC,
               s.term) AS rn
           FROM src s JOIN vocab v USING (term) CROSS JOIN stats)
         WHERE rn <= 5),
       tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, term,
                CAST(count(*) AS DOUBLE) AS tf
              FROM (SELECT doc_id, toks, unnest(toks) AS term FROM t)
              WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, dl, term),
       dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       sc AS (SELECT doc_id, term,
                ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ${K1 + 1.0}
                  / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)) AS s
              FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
       SELECT doc_id, score FROM (
         SELECT doc_id,
           round(list_reduce(list(s ORDER BY term), (a, b) -> a + b), 6) AS score
         FROM sc GROUP BY doc_id)
       WHERE doc_id <> $MltDocId
       ORDER BY score DESC, doc_id LIMIT 10"""

  val oracleSql: Map[String, String] = Map(
    "search_fuzzy" -> fuzzySql,
    "search_fuzzy_auto" -> fuzzyAutoSql,
    // index serving is bit-identical to the corpus scan — same oracle
    "search_fuzzy_idx" -> fuzzySql,
    "search_prefix" -> prefixSql,
    "search_synonyms" -> synonymSql,
    // dis-max: per-term components from the same pivot CASEs, then
    // best + tb*(sum - best) — the greatest() fold mirrors the Spark
    // reduceLeft order
    "search_dismax" -> {
      val comps = QueryTerms
        .map(t => s"coalesce(max(CASE WHEN term = ${sqlLit(t)} THEN s END), 0.0)")
      val best = comps.tail.foldLeft(comps.head)((a, b) => s"greatest($a, $b)")
      val total = comps.mkString(" + ")
      s"""WITH ${bm25Sql()}
         SELECT doc_id, score FROM (
           SELECT doc_id, round($best + 0.3 * (($total) - ($best)), 6) AS score
           FROM sc GROUP BY doc_id)
         ORDER BY score DESC, doc_id LIMIT 10"""
    },
    "search_mlt" -> mltSql,
    "search_facets" ->
      s"""WITH ${bm25Sql()},
         top AS (SELECT doc_id FROM lexs ORDER BY score DESC, doc_id LIMIT 10),
         meta AS (SELECT d.doc_id, d.source, d.lang
           FROM documents d JOIN top USING (doc_id))
         SELECT facet, value, n FROM (
           SELECT 'source' AS facet, source AS value,
             CAST(count(*) AS BIGINT) AS n FROM meta GROUP BY source
           UNION ALL
           SELECT 'lang', lang, CAST(count(*) AS BIGINT) FROM meta GROUP BY lang)
         ORDER BY facet, value""",
    // snippet window mirrors Spark's slice(start, 7): elements
    // start..start+6 with start = max(first-3, 1) — the DuckDB end bound
    // must be start+6, NOT first+3 (they differ when first <= 3)
    "search_highlight" -> {
      val qList = QueryTerms.map(sqlLit).mkString("[", ", ", "]")
      s"""WITH ${bm25Sql()},
         top AS (SELECT doc_id, score FROM lexs ORDER BY score DESC, doc_id LIMIT 10),
         m AS (SELECT t.doc_id, top.score, t.toks,
             list_filter(range(1, len(toks) + 1),
               i -> list_contains($qList, toks[i])) AS pos
           FROM t JOIN top ON t.doc_id = top.doc_id)
         SELECT doc_id, score, CAST(len(pos) AS BIGINT) AS n_occ,
           array_to_string(list_slice(toks,
             greatest(pos[1] - 3, 1), greatest(pos[1] - 3, 1) + 6), ' ') AS snippet
         FROM m ORDER BY score DESC, doc_id"""
    },
    "search_bm25" ->
      s"""WITH ${bm25Sql()}
         SELECT doc_id, score FROM lexs ORDER BY score DESC, doc_id LIMIT 10""",
    "search_bm25_idx" ->
      s"""WITH ${bm25Sql()}
         SELECT doc_id, score FROM lexs ORDER BY score DESC, doc_id LIMIT 10""",
    // liveDocs semantics: stats/df over the FULL corpus (deleted docs
    // still count — Lucene's documented pre-merge staleness), exclusion
    // only at the served list
    "search_bm25_del" ->
      s"""WITH ${bm25Sql()}
         SELECT doc_id, score FROM lexs
         WHERE doc_id NOT IN ${DeletedDocIds.mkString("(", ", ", ")")}
         ORDER BY score DESC, doc_id LIMIT 10""",
    // post-merge: df/stats recomputed over the filtered corpus — the
    // index must now be indistinguishable from a fresh build without
    // the deleted docs
    "search_bm25_merged" ->
      s"""WITH ${bm25Sql(s"WHERE doc_id NOT IN ${DeletedDocIds.mkString("(", ", ", ")")}")}
         SELECT doc_id, score FROM lexs ORDER BY score DESC, doc_id LIMIT 10""",
    "search_phrase_slop" ->
      // per-anchor proximity count: first term at i, second within slop+1
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         m AS (SELECT doc_id, CAST(len(list_filter(range(1, len(toks) + 1),
           i -> toks[i] = 'sort' AND len(list_filter(
             range(i + 1, least(i + 4, len(toks) + 1)),
             j -> toks[j] = 'merge')) > 0)) AS BIGINT) AS n_occ FROM t)
         SELECT doc_id, n_occ FROM m WHERE n_occ > 0 ORDER BY doc_id""",
    "search_bool" -> {
      val must = Seq("hash"); val should = Seq("vector", "merge"); val not = Seq("slow")
      val allIn = (must ++ should ++ not).map(sqlLit).mkString("(", ", ", ")")
      val sum = (must ++ should)
        .map(t => s"coalesce(max(CASE WHEN term = ${sqlLit(t)} THEN s END), 0.0)")
        .mkString(" + ")
      val mustF = must.map(t =>
        s"max(CASE WHEN term = ${sqlLit(t)} THEN 1 ELSE 0 END) = 1").mkString(" AND ")
      val notF = not.map(t =>
        s"max(CASE WHEN term = ${sqlLit(t)} THEN 1 ELSE 0 END) = 0").mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl FROM t),
         tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, term,
                  CAST(count(*) AS DOUBLE) AS tf
                FROM (SELECT doc_id, toks, unnest(toks) AS term FROM t)
                WHERE term IN $allIn GROUP BY doc_id, dl, term),
         dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         sc AS (SELECT doc_id, term,
                  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ${K1 + 1.0}
                    / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)) AS s
                FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
         SELECT doc_id, round($sum, 6) AS score FROM sc GROUP BY doc_id
         HAVING $mustF AND $notF
         ORDER BY score DESC, doc_id LIMIT 10"""
    },
    "search_phrase" -> {
      // adjacency check straight off the token array (1-based lists):
      // i is a candidate start, term j must sit at i+j
      val adj = Phrase.zipWithIndex
        .map { case (t, j) => s"toks[i + $j] = ${sqlLit(t)}" }.mkString(" AND ")
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         m AS (SELECT doc_id,
           CAST(len(list_filter(range(1, len(toks) - ${Phrase.size - 2}),
             i -> $adj)) AS BIGINT) AS n_occ FROM t)
         SELECT doc_id, n_occ FROM m WHERE n_occ > 0 ORDER BY doc_id"""
    },
    "q7_weighted_hybrid" ->
      s"""WITH ${bm25Sql()},
         lexp AS (SELECT * FROM lexs ORDER BY score DESC, doc_id LIMIT $PoolN),
         lexn AS (SELECT doc_id,
             round(CASE WHEN mx > mn THEN (score - mn) / (mx - mn) ELSE 1.0 END, 6) AS nl
           FROM lexp CROSS JOIN (SELECT min(score) AS mn, max(score) AS mx FROM lexp)),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         vs AS (SELECT vec_id AS doc_id,
             round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) AS cs
           FROM embeddings, q),
         vp AS (SELECT * FROM vs ORDER BY cs DESC, doc_id LIMIT $PoolN),
         vn AS (SELECT doc_id,
             round(CASE WHEN mx > mn THEN (cs - mn) / (mx - mn) ELSE 1.0 END, 6) AS nv
           FROM vp CROSS JOIN (SELECT min(cs) AS mn, max(cs) AS mx FROM vp))
         SELECT doc_id, coalesce(nl, 0.0) AS norm_lex, coalesce(nv, 0.0) AS norm_vec,
           round(0.4 * coalesce(nl, 0.0) + 0.6 * coalesce(nv, 0.0), 6) AS fused
         FROM lexn FULL OUTER JOIN vn USING (doc_id)
         ORDER BY fused DESC, doc_id LIMIT 10""",
    "q6_rrf_hybrid" ->
      s"""WITH ${bm25Sql()},
         lexr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
                  FROM (SELECT * FROM lexs ORDER BY score DESC, doc_id LIMIT $PoolN)),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         vs AS (SELECT vec_id AS doc_id,
                  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) AS cs
                FROM embeddings, q),
         vr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS BIGINT) AS r_vec
                FROM (SELECT * FROM vs ORDER BY cs DESC, doc_id LIMIT $PoolN))
         SELECT doc_id,
           coalesce(r_lex, 0) AS rank_lex, coalesce(r_vec, 0) AS rank_vec,
           round(coalesce(1.0 / ($RrfK + r_lex), 0.0)
                 + coalesce(1.0 / ($RrfK + r_vec), 0.0), 6) AS rrf_score
         FROM lexr FULL OUTER JOIN vr USING (doc_id)
         ORDER BY rrf_score DESC, doc_id LIMIT 10""")
}
