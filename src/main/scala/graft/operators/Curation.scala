package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.plans.Scratch

/** Training-data curation operators beyond the reference's own surface —
  * the standard pre-training corpus hygiene passes (Gopher/C4-style
  * repetition filters, PII redaction, benchmark decontamination,
  * temperature-based language mixing, sequence packing, per-source caps),
  * each generic-API-first with a thin named binding over `documents`.
  *
  * Scale notes per operator are inline; the common theme: every shuffle is
  * keyed by doc id or a blocking key, the only broadcast sides are
  * provably small (per-language count table, benchmark shingle set), and
  * per-row math is integer/IEEE-exact so the DuckDB oracles hash-match
  * bit for bit.
  */
object Curation {

  // --- repetition signals (Gopher-style quality filters) -------------------

  /** Per-document repetition signals: `top_tok_frac` (share of the most
    * frequent token) and `dup_2gram_frac` (share of duplicate 2-gram
    * occurrences) — the classic "top n-gram fraction" / "duplicate n-gram
    * fraction" repetition filters for pre-training corpora.
    *
    * Shape: one narrow codegen'd scan, ZERO shuffles — both signals are
    * per-document facts, so they are computed per row by native kernels
    * ([[graft.functions.TextExpressions.TopTokenCountExpr]] for the mode
    * count; the deduped [[graft.functions.TextExpressions.ShingleHashSetExpr]]
    * size for distinct 2-grams, with total 2-grams pure arithmetic). The
    * earlier explode → groupBy(doc, gram) → groupBy(doc) → join spelling
    * shuffled a row per distinct token/gram per doc — correct, but a
    * corpus-sized shuffle for a row-local quantity. */
  def repetitionSignals(df: DataFrame, id: Column, text: Column): DataFrame = {
    val s = df.sparkSession
    val nGrams = when(col("n_tokens") < 2, lit(1L)).otherwise(col("n_tokens") - 1L)
    df.select(id.as("doc_id"), tokens(text).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.TextExpressions.topTokenCount(s, col("toks")).as("top_c"),
        size(graft.functions.TextExpressions.shingleHashes(s, col("toks"), 2))
          .cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        (col("top_c").cast("double") / col("n_tokens").cast("double"))
          .as("top_tok_frac"),
        ((nGrams - col("n_distinct")).cast("double")
          / nGrams.cast("double")).as("dup_2gram_frac"))
  }

  // --- PII redaction --------------------------------------------------------

  /** Simple character classes only — identical leftmost-greedy semantics in
    * Java regex (Spark) and RE2 (the DuckDB oracle). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{7,15}"

  /** Redact emails, IPv4 addresses and international phone numbers with
    * typed placeholders, and count each. Replacement order matters (email
    * first: its local part may contain digits/dots that would otherwise
    * feed the IP pattern) and is part of the contract. One fused native
    * kernel ([[graft.functions.PiiScrubExpr]]) — the original spelling
    * was 6 independent regexp expressions (3 extract-all counts + 3
    * nested replaces), i.e. 6 full scans and string materializations per
    * row; the fused pass does 3 for clean rows. Per-row, shuffle-free,
    * scan-speed at 100 TB; counts/redaction semantics are unchanged
    * (counts on the original text, sequential replacement). */
  def piiRedact(df: DataFrame, text: Column): DataFrame = {
    val pii = graft.functions.TextExpressions.piiScrub(
      df.sparkSession, text, EmailRe, Ipv4Re, PhoneRe)
    df.withColumn("__pii", pii)
      .withColumn("n_emails", col("__pii").getField("n_emails"))
      .withColumn("n_ips", col("__pii").getField("n_ips"))
      .withColumn("n_phones", col("__pii").getField("n_phones"))
      .withColumn("redacted", col("__pii").getField("redacted"))
      .drop("__pii")
  }

  // --- benchmark decontamination -------------------------------------------

  /** Drop training documents that share ANY word `n`-shingle with the
    * benchmark/test set — standard eval-set decontamination.
    *
    * 100 TB shape: the benchmark side is tiny relative to the corpus, so
    * its distinct shingle set is BROADCAST and contamination is a
    * broadcast left-semi per exploded shingle — the corpus is scanned
    * once and never shuffled; the only exchange is the doc-id distinct
    * on the (small) contaminated set. Membership is keyed on the
    * xxhash64'd shingle ([[graft.functions.TextExpressions.ShingleHashSetExpr]]
    * — one native pass per row, per-doc pre-deduped, 8-byte join keys
    * instead of strings, ~8× smaller broadcast). A 64-bit collision
    * (~2⁻⁶⁴ per shingle pair) can only OVER-drop a training doc, never
    * leak contamination. The DuckDB oracle decides membership on the
    * shingle strings themselves, so the hashed result hash-matches it
    * exactly unless such a collision occurs.
    *
    * The broadcast is only safe while the test side IS small: 8 bytes ×
    * distinct shingles must fit the driver and every executor. When the
    * held-out side is corpus-shaped (`maxBroadcastRows` exceeded — decided
    * by one cheap count of the test side, metadata-scale next to the
    * corpus scan), the membership probe falls back to a SHUFFLE_HASH
    * left-semi on the 8-byte key: both sides exchange on `sh`, nothing
    * collects anywhere. Identical survivors either way (`CurationSpec`
    * proves it); only the physical join strategy moves. */
  def decontaminate(train: DataFrame, test: DataFrame, id: Column,
      text: Column, n: Int = 5,
      maxBroadcastRows: Long = 10L * 1000 * 1000,
      minOverlap: Long = 1L): DataFrame =
    train.select(id.as("doc_id"))
      .join(contaminatedIds(train, test, id, text, n, maxBroadcastRows,
        minOverlap), Seq("doc_id"), "left_anti")

  /** The shared shingle probe behind [[decontaminate]] (strip) and
    * [[decontamReport]] (measure): training doc ids sharing at least
    * `minOverlap` distinct `n`-shingles with the held-out set
    * (`minOverlap = 1` — the default "any shared shingle" rule — keeps
    * the pure semi-join shape; above 1 it is the thresholded rule
    * production decontam actually tunes, via one doc-keyed count over
    * the matched shingles: [[graft.functions.TextExpressions.shingleHashes]]
    * is per-doc-deduped, so `count(*)` IS the distinct-overlap count).
    * The test side broadcasts only under `maxBroadcastRows` — beyond it,
    * the shuffle-hash fallback (a lake-scale held-out set must not OOM
    * the driver). */
  private def contaminatedIds(train: DataFrame, test: DataFrame,
      id: Column, text: Column, n: Int,
      maxBroadcastRows: Long, minOverlap: Long = 1L): DataFrame = {
    require(minOverlap >= 1L, s"minOverlap >= 1, got $minOverlap")
    val s = train.sparkSession
    def sh(c: Column) = graft.functions.TextExpressions.shingleHashes(s, tokens(c), n)
    val testSh = test.select(explode(sh(text)).as("sh")).distinct()
    // count() the ~|test| side only — never the training corpus
    val probeSide =
      if (test.count() <= maxBroadcastRows) broadcast(testSh)
      else testSh.hint("shuffle_hash")
    val matched = train
      .select(id.as("doc_id"), explode(sh(text)).as("sh"))
      .join(probeSide, Seq("sh"), "left_semi")
    if (minOverlap == 1L) matched.select("doc_id").distinct()
    else matched.groupBy("doc_id")
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select("doc_id")
  }

  // --- temperature-based language mixing -----------------------------------

  /** Deterministic temperature resampling across languages: language `l`
    * with `c_l` docs is downsampled with keep-probability
    * `(c_min / c_l)^(1-alpha)` — alpha=1 keeps the natural distribution,
    * alpha=0 equalizes, alpha=0.5 is the usual sqrt flattening for
    * multilingual pre-training mixes. Membership is decided by an
    * md5-derived uniform in [0,1), so the sample is reproducible
    * run-to-run and engine-to-engine (no RNG state).
    *
    * The per-language count table is a handful of rows → broadcast both
    * ways; the corpus is never shuffled. alpha=0.5 routes through IEEE
    * `sqrt` (correctly rounded ⇒ bit-exact vs the oracle); other alphas
    * use `pow`, which the JVM does not guarantee correctly rounded —
    * fine for production, not for bit-exact cross-engine checks. */
  def temperatureSample(df: DataFrame, langCol: Column, idCol: Column,
      alpha: Double = 0.5): DataFrame = {
    val cnts = df.groupBy(langCol.as("__lang")).agg(count(lit(1)).as("__c"))
    val cmin = cnts.agg(min("__c").as("__cmin"))
    val ratio = col("__cmin").cast("double") / col("__c").cast("double")
    val keepF = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1.0 - alpha)
    val fracs = cnts.crossJoin(broadcast(cmin)).withColumn("__f", keepF)
    val u = graft.functions.HashFunctions.md5Uniform(idCol)
    df.join(broadcast(fracs), langCol === col("__lang"))
      .filter(u < col("__f"))
      .drop("__lang", "__c", "__cmin", "__f")
  }

  // --- sequence packing -----------------------------------------------------

  /** Concat-and-chop sequence packing: within each `part` shard, documents
    * (ordered by `id`) are laid end to end and cut into fixed `budget`
    * windows; each doc gets the window index (`pack_id`) and token offset
    * (`pack_offset`) where it starts. This is the GPT-style pre-training
    * layout pass.
    *
    * The running token sum is a hierarchical two-pass prefix sum, NOT a
    * single `Window.partitionBy(part)` — that window funnels every row of
    * a shard through ONE task, so a corpus with a handful of shards runs
    * on a handful of cores no matter how many executors exist. Instead:
    *
    *  1. each shard's id-range is cut into `buckets` order-preserving
    *     sub-buckets (`width_bucket` over the shard's [min,max] id span —
    *     monotonic in id, so bucket order == id order);
    *  2. an exclusive prefix sum runs per (shard, bucket) — parallelism
    *     is shards × buckets;
    *  3. bucket token totals (shards × buckets rows — tiny) get a
    *     per-shard exclusive cumulative sum and broadcast back: each
    *     row's global cum = its local prefix + its bucket's offset.
    *
    * Identical output to the flat window (integer arithmetic, same total
    * order), verified row-exact in `CurationSpec`. Bucket *balance*
    * depends on ids being roughly uniform in their span; imbalance only
    * costs parallelism, never correctness. `id` must be numeric (it is
    * range-bucketed). Two scans of the input (prefix pass + totals pass)
    * buy unbounded scale-out — the classic scan/offset decomposition. */
  def packSequences(df: DataFrame, part: Column, id: Column, nTok: Column,
      budget: Long, buckets: Int = 64): DataFrame =
    packSequencesFrom(df, part, id, nTok, budget, buckets, None)

  /** Incremental packing — the daily-increment face: the arriving rows
    * (which must sort AFTER the already-packed corpus in `id` order —
    * the ingest contract that also orders every append-only id space
    * here) continue each shard's running token sum from `watermarks`
    * (`__pp`, `__wm` = tokens already packed per shard, an integer the
    * lake keeps as one row per shard). The result is EXACTLY the rows
    * the full-corpus [[packSequences]] would have produced for them —
    * prefix sums are left-composable — so yesterday's packs never move
    * and the oracle can replay the full packing and restrict it. */
  def packSequencesIncremental(increment: DataFrame, part: Column,
      id: Column, nTok: Column, budget: Long,
      watermarks: DataFrame, // (__pp, __wm)
      buckets: Int = 64): DataFrame =
    packSequencesFrom(increment, part, id, nTok, budget, buckets,
      Some(watermarks))

  private def packSequencesFrom(df: DataFrame, part: Column, id: Column,
      nTok: Column, budget: Long, buckets: Int,
      watermarks: Option[DataFrame]): DataFrame = {
    val in = df.withColumn("__pp", part)
      .withColumn("__pid", id.cast("double"))
      .withColumn("__pn", nTok.cast("long"))
    // Per-shard id span; +1 keeps lo < hi even for single-id shards and
    // puts max itself in the top bucket (width_bucket's hi is exclusive).
    val span = in.groupBy("__pp")
      .agg(min("__pid").as("__lo"), max("__pid").as("__hi"))
    val bucketed = in.join(broadcast(span), "__pp")
      .withColumn("__bkt",
        width_bucket(col("__pid"), col("__lo"), col("__hi") + 1, lit(buckets)))
      .drop("__lo", "__hi")
    val wLoc = Window.partitionBy("__pp", "__bkt").orderBy(id)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy("__pp").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("__pp", "__bkt")
      .agg(sum("__pn").as("__tot"))
      .withColumn("__off", coalesce(sum("__tot").over(wOff), lit(0L)))
      .select("__pp", "__bkt", "__off")
    val withCum = bucketed
      .withColumn("__loc", coalesce(sum(col("__pn")).over(wLoc), lit(0L)))
      .join(broadcast(offsets), Seq("__pp", "__bkt"))
      .withColumn("__cum", col("__loc") + col("__off"))
    val based = watermarks match {
      case Some(wm) => withCum
        .join(broadcast(wm.select(col("__pp"), col("__wm").cast("long"))),
          Seq("__pp"), "left")
        .withColumn("__cum", col("__cum") + coalesce(col("__wm"), lit(0L)))
        .drop("__wm")
      case None => withCum
    }
    based
      .withColumn("pack_id", expr(s"__cum DIV ${budget}L"))
      .withColumn("pack_offset", col("__cum") % lit(budget))
      .drop("__pp", "__pid", "__pn", "__bkt", "__loc", "__off", "__cum")
  }

  // --- per-source caps ------------------------------------------------------

  /** Keep at most `n` rows per group (first by `order`) — the per-domain /
    * per-source cap that bounds any single crawl source's share of the
    * corpus. One window shuffle keyed by the group. */
  def capPerGroup(df: DataFrame, group: Column, order: Column, n: Int): DataFrame =
    df.withColumn("rn",
        row_number().over(Window.partitionBy(group).orderBy(order)).cast("long"))
      .filter(col("rn") <= n)

  // --- named queries --------------------------------------------------------

  def txtRepetition(s: SparkSession, d: String): DataFrame =
    repetitionSignals(Tables.documents(s, d), col("doc_id"), col("text"))
      .orderBy("doc_id")

  /** The corpus carries no real PII, so the binding seeds deterministic
    * synthetic PII derived from `doc_id` (an extra email on even ids) —
    * the redaction itself is what's under test, with exact oracle parity. */
  def txtPiiRedact(s: SparkSession, d: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com via +1555"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
      when(col("doc_id") % 2 === 0, lit(" cc admin@example.org")).otherwise(lit("")))
    piiRedact(Tables.documents(s, d).withColumn("text", aug), col("text"))
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")
      .orderBy("doc_id")
  }

  /** Registrable host from a URL — scheme://HOST[:port]/… → host,
    * lowercased (URL authority is case-insensitive; paths are not,
    * which is why only the host folds). */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))

  /** The host's DNS suffix chain — `a.b.example.org` →
    * [`a.b.example.org`, `b.example.org`, `example.org`, `org`] — the
    * expansion that turns "block this domain AND its subdomains" into an
    * EQUI-join: a blocklist entry matches iff it equals some chain
    * element, so no per-row regex over the blocklist and no LIKE join
    * (both are cartesian-shaped at lake scale). ≤ label-count elements
    * per host (hostnames cap at 127 labels; real ones run 3–5). */
  def hostSuffixChain(host: Column): Column = {
    val labels = split(host, "\\.")
    transform(sequence(lit(0), size(labels) - 1),
      i => array_join(slice(labels, i + 1, size(labels)), "."))
  }

  /** URL blocklist gate — the stage-1 URL filter crawl pipelines run
    * BEFORE any content look (RefinedWeb §3.1's URL filtering, CCNet's
    * domain blacklists): a document drops iff its url's host has ANY
    * blocklist entry on its suffix chain, so `example.org` blocks
    * `img.cdn.example.org` without regexes. Returns the SURVIVORS'
    * (doc_id, host) — the gate face; [[urlBlocklistReport]] is the
    * measured face.
    *
    * Scale shape: suffix-chain explode (≤ labels per doc) → semi-join
    * the blocklist → anti-join back on doc id. The blocklist carries NO
    * broadcast hint on purpose: the planner broadcasts it from its
    * measured size when it fits (the ~5M-entry public lists ≈ 100 MB
    * do under a production threshold), and a genuinely huge one
    * degrades to a shuffle-hash equi-join on the chain element instead
    * of being forced through the driver — never a scan of
    * rows × entries either way. */
  def urlBlocklistGate(df: DataFrame, id: Column, url: Column,
      blocklist: DataFrame): DataFrame = {
    val hosts = df.select(id.as("doc_id"), urlHost(url).as("host"))
    val blockedIds = hosts
      .select(col("doc_id"), explode(hostSuffixChain(col("host"))).as("__sfx"))
      .join(blocklist.select(lower(col("domain")).as("__sfx")),
        Seq("__sfx"), "left_semi")
      .select("doc_id").distinct()
    hosts.join(blockedIds, Seq("doc_id"), "left_anti")
  }

  /** [[urlBlocklistGate]] as a PURE PER-ROW predicate for a
    * CONFIG-SIZED blocklist (the hand-curated hundreds-of-domains case
    * every crawler config ships): the entries inline as an array
    * literal and membership is one `array_intersect` over the suffix
    * chain — no join, no state, row shape preserved, so it composes
    * into a streaming ingest exactly like the Gopher gates. For the
    * millions-of-entries public blocklists use [[urlBlocklistGate]]
    * (broadcast join) — a 5M-entry plan literal would bloat every task
    * binary. */
  def urlBlocklistGated(df: DataFrame, url: Column,
      blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "urlBlocklistGated: empty blocklist")
    df.filter(size(array_intersect(
      hostSuffixChain(urlHost(url)),
      lit(blocked.map(_.toLowerCase).toArray))) === 0)
  }

  /** Per-blocked-domain hit counts — WHERE the blocklist bites (the
    * review that decides whether an entry is stale or load-bearing).
    * One row per blocklist entry with ≥1 hit. Unhinted join for the
    * same reason as [[urlBlocklistGate]]. */
  def urlBlocklistReport(df: DataFrame, id: Column, url: Column,
      blocklist: DataFrame): DataFrame =
    df.select(id.as("doc_id"), explode(hostSuffixChain(urlHost(url))).as("__sfx"))
      .join(blocklist.select(lower(col("domain")).as("__sfx")),
        Seq("__sfx"), "left_semi")
      .select(col("__sfx").as("domain"), col("doc_id")).distinct()
      .groupBy("domain").agg(count(lit(1)).as("n_blocked"))

  /** Named query: fixture URLs with the source in the HOST
    * (`https://[cdn.]{source}.archive.example.org/photos/img_{doc_id}
    * .jpg` — the P6 formula moved into the authority so the gate has
    * real structure) against a two-entry blocklist exercising both
    * match modes: `src3.…` hits its apex host EXACTLY, while `src5.…`
    * hits `cdn.src5.…` only via the SUFFIX-chain walk (src5/src6
    * publish under a cdn subdomain in the fixture). src6 shares the cdn
    * shape but is unblocked — the control that proves the chain walk
    * matches the entry, not the shape. */
  def curateUrlBlocklistQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // sources src5 and src6 publish under a cdn SUBDOMAIN; the rest on
    // their apex — the two match modes the gate must distinguish
    val url = concat(lit("https://"),
      when(col("source").isin("src5", "src6"), lit("cdn.")).otherwise(lit("")),
      col("source"), lit(".archive.example.org/photos/img_"),
      col("doc_id"), lit(".jpg"))
    import s.implicits._
    val blocklist = Seq(
      "src3.archive.example.org", // exact apex hit
      "src5.archive.example.org"  // suffix hit: blocks cdn.src5.…
    ).toDF("domain")
    urlBlocklistGate(docs.withColumn("__url", url),
        col("doc_id"), col("__url"), blocklist)
      .orderBy("doc_id")
  }

  /** Held-out set = docs whose md5(doc_id) starts with '0' (~1/16 of the
    * corpus); survivors = the rest minus anything sharing a 5-shingle. */
  def curateDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isTest = graft.functions.HashFunctions.md5Bucket16(col("doc_id")) === "0"
    decontaminate(docs.filter(!isTest), docs.filter(isTest),
      col("doc_id"), col("text"), n = 5)
      .orderBy("doc_id")
  }

  /** FUZZY decontamination — the near-duplicate face of
    * [[curateDecontam]]: exact shingle overlap misses a benchmark doc
    * that was lightly paraphrased or re-wrapped before landing in the
    * training crawl (the contamination mode DCLM/Dolma actually hunt
    * with MinHash), so this pass strips training docs that are
    * NEAR-copies of held-out docs. Two-stage, the
    * [[Dedup.minhashLsh]] discipline: cross-corpus banding proposes
    * ([[Dedup.minhashPairsAcross]] — train signatures never self-pair,
    * band-bucket joins only, hot-bucket guard available), exact
    * 3-shingle Jaccard ≥ 0.5 disposes ([[Dedup.verifyJaccard]]). The
    * all-pairs-SQL oracle equality is CORPUS-VERIFIED, not structural:
    * unlike the Bloom leg (no false negatives by construction) and the
    * phash leg (pigeonhole), a true J ≥ 0.5 pair CAN miss every band
    * with nonzero probability — it is ~1e-13 here only because the
    * pinned corpus's qualifying pairs sit at J ≥ 0.95 (a 16×4 banding
    * misses a J = 0.5 pair with probability (1−0.5⁴)¹⁶ ≈ 0.36). On
    * another corpus, size (bands, rows) to the J distribution actually
    * present, or a benchmark near-copy at the threshold edge can slip
    * the strip. Output shape matches
    * [[curateDecontam]]: the surviving train ids. At 100 TB the
    * banding side is the only corpus-scale shuffle; the verify join
    * touches candidate pairs only. */
  def decontaminateFuzzy(train: DataFrame, test: DataFrame,
      id: Column, text: Column, block: Column,
      minJac: Double = 0.5): DataFrame = {
    val s = train.sparkSession
    val cands = Dedup.minhashPairsAcross(train, test,
      id, text, block, shingleN = 3)
      .select("doc_a", "doc_b")
    // verifyJaccard needs one (doc_id, text) relation covering both
    // sides; doc_a is always the train side by minhashPairsAcross's
    // left/right orientation
    val docs = train.select(id.as("doc_id"), text.as("text"))
      .unionByName(test.select(id.as("doc_id"), text.as("text")))
    val contaminated = Dedup.verifyJaccard(s, docs, cands, minJac)
      .select(col("doc_a").as("doc_id")).distinct()
    train.select(id.as("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  def curateDecontamFuzzy(s: SparkSession, d: String): DataFrame = {
    val docs = Dedup.blocked(s, d)
    val isTest = graft.functions.HashFunctions.md5Bucket16(col("doc_id")) === "0"
    decontaminateFuzzy(docs.filter(!isTest), docs.filter(isTest),
      col("doc_id"), col("text"), col("blk"))
      .orderBy("doc_id")
  }

  /** [[curateDecontamFuzzy]] served from the AT-REST MinHash signature
    * index ([[Dedup.writeMinhashIndex]]) built over the HELD-OUT set —
    * the 100 TB shape: the benchmark suite (the small, slowly-changing
    * side) is signed once; each arriving training batch signs only
    * itself and probes band buckets by partition pruning
    * ([[Dedup.probeMinhashIndex]] — touched-bucket pushdown, tombstone
    * heal, hot-bucket guard). Survivors are identical to the in-plan
    * pass (same signatures, same band keys, same verify stage), so it
    * SHARES `curate_decontam_fuzzy`'s oracle bit for bit — with that
    * oracle's corpus-verified (not structural) recall caveat, see
    * [[decontaminateFuzzy]]. */
  def curateDecontamFuzzyIdx(s: SparkSession, d: String): DataFrame = {
    val docs = Dedup.blocked(s, d)
    val isTest = graft.functions.HashFunctions.md5Bucket16(col("doc_id")) === "0"
    val dir = Scratch.dir(s, s"fzidx|$d") { tmp =>
      Dedup.writeMinhashIndex(docs.filter(isTest), col("doc_id"),
        col("text"), col("blk"), tmp, shingleN = 3)
      tmp
    }
    val cands = Dedup.probeMinhashIndex(docs.filter(!isTest),
      col("doc_id"), col("text"), col("blk"), dir)
      .select("doc_a", "doc_b")
    val contaminated = Dedup.verifyJaccard(s, Tables.documents(s, d),
        cands, minJac = 0.5)
      .select(col("doc_a").as("doc_id")).distinct()
    Tables.documents(s, d).filter(!isTest).select("doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** [[decontaminate]] with a Bloom-prefiltered probe — the join-sizing
    * regime BETWEEN its two strategies. The broadcast semi-join needs an
    * exact hash map (~16+ B/key: a 1e9-shingle benchmark union is a
    * ≥16 GB broadcast — undeliverable); the shuffle-hash fallback
    * exchanges the ENTIRE corpus gram stream. A ~1.2 B/key Bloom
    * ([[graft.functions.BloomFilters]]) broadcasts where the hash map
    * cannot, and the corpus-side `graft_bloom_contains` filter rides
    * the scan's codegen span, so only true matches + fpp·non-matches
    * (≈0.1% of the stream at fpp=1e-3) reach the exchange for the exact
    * semi-join that disposes of the false positives. Bloom filters have
    * NO false negatives, so survivors are IDENTICAL to [[decontaminate]]
    * — same oracle, different (much smaller) shuffle. Construction runs
    * two bounded jobs eagerly (count + bit-set reduce over the TEST
    * side only — metadata-scale next to the corpus scan they shrink). */
  def decontaminateBloom(train: DataFrame, test: DataFrame, id: Column,
      text: Column, n: Int = 5, fpp: Double = 0.001,
      reuseHandle: Option[String] = None): DataFrame = {
    val s = train.sparkSession
    def sh(c: Column) = graft.functions.TextExpressions.shingleHashes(s, tokens(c), n)
    val testSh = test.select(explode(sh(text)).as("sh")).distinct()
    // `reuseHandle` lets a caller that probes the SAME test set
    // repeatedly (a gate service, a bench rep loop) amortize the
    // two-job build + broadcast instead of leaking one TorrentBroadcast
    // per invocation; the caller owns the handle's lifetime
    // ([[graft.functions.BloomFilters.destroy]] when done). Ad-hoc
    // callers get a fresh build, alive for the JVM (documented at
    // BloomFilters.build).
    val handle = reuseHandle.getOrElse(
      graft.functions.BloomFilters.build(testSh, col("sh"), fpp))
    val candidates = train
      .select(id.as("doc_id"), explode(sh(text)).as("sh"))
      .filter(graft.functions.BloomFilters.mightContain(s, handle, col("sh")))
    // exact disposal: candidates ⋉ testSh — both sides exchange on the
    // 8-byte key, but the left leg is the PREFILTERED trickle, not the
    // corpus stream (and the right leg must not broadcast: being too
    // big for a hash map is this regime's premise)
    val bad = candidates
      .join(testSh.hint("shuffle_hash"), Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    train.select(id.as("doc_id")).join(bad, Seq("doc_id"), "left_anti")
  }

  /** Per-(SparkContext, dataset) Bloom handle cache — the at-rest
    * indexes' build-once discipline applied to broadcasts: the benchmark
    * set is signed ONCE per JVM and every later invocation (each Bench
    * rep ran TWO extra jobs and leaked a fresh TorrentBroadcast before
    * this) reuses the bits. Keyed by applicationId because a broadcast
    * dies with its SparkContext — a cached handle from a stopped
    * context must not be served to a new one (the stale registry entry
    * is a map row, not a leak of bits). */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.FutureTask[String]]()

  /** [[curateDecontam]] through the Bloom-prefiltered probe — survivors
    * bit-identical by the no-false-negative argument, so it shares that
    * query's oracle verbatim. The test-side filter is built once per
    * (context, dataset) via [[bloomCache]] and reused across
    * invocations — production probes a benchmark suite signed once. */
  def curateDecontamBloom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isTest = graft.functions.HashFunctions.md5Bucket16(col("doc_id")) === "0"
    def sh(c: Column) =
      graft.functions.TextExpressions.shingleHashes(s, tokens(c), 5)
    val key = s"${s.sparkContext.applicationId}|$d|n=5|fpp=0.001"
    val handle = Scratch.once(bloomCache, key)(
      graft.functions.BloomFilters.build(
        docs.filter(isTest).select(explode(sh(col("text"))).as("sh")).distinct(),
        col("sh"), fpp = 0.001))
    decontaminateBloom(docs.filter(!isTest), docs.filter(isTest),
      col("doc_id"), col("text"), n = 5, reuseHandle = Some(handle))
      .orderBy("doc_id")
  }

  /** Contamination REPORT — the measured face of [[decontaminate]]:
    * per-source document counts, contaminated counts, and the rate. A
    * pipeline that silently strips overlap hides WHERE the leakage
    * concentrates; the report is what decides whether a source is
    * salvageable or drops wholesale. Same shingle probe as the strip
    * pass (one extra per-source aggregate, integer-exact oracle). */
  def decontamReport(train: DataFrame, test: DataFrame, id: Column,
      group: Column, text: Column, n: Int = 5,
      maxBroadcastRows: Long = 10L * 1000 * 1000): DataFrame = {
    val contaminated =
      contaminatedIds(train, test, id, text, n, maxBroadcastRows)
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

  /** Thresholded strip: contaminated only at ≥ 2 distinct shared
    * shingles — the overlap-count knob (a single incidental shingle is
    * often a idiom, two is a passage) production decontam tunes. */
  def curateDecontamK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isTest = graft.functions.HashFunctions.md5Bucket16(col("doc_id")) === "0"
    decontaminate(docs.filter(!isTest), docs.filter(isTest),
      col("doc_id"), col("text"), n = 5, minOverlap = 2L)
      .orderBy("doc_id")
  }

  def curateDecontamReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isTest = graft.functions.HashFunctions.md5Bucket16(col("doc_id")) === "0"
    decontamReport(docs.filter(!isTest), docs.filter(isTest),
      col("doc_id"), col("source"), col("text"), n = 5)
  }

  def mixTemperature(s: SparkSession, d: String): DataFrame =
    temperatureSample(Tables.documents(s, d), col("lang"), col("doc_id"), alpha = 0.5)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** The packed corpus at the export budget, projected to pack
    * coordinates — the table `pack_sequences` publishes and every
    * export face (shards, manifest, curriculum) re-reads. Built once
    * per (JVM, sfDir) into scratch parquet ([[graft.plans.Scratch]],
    * r20): a production loader materializes the packing ONCE and its
    * exports/manifests are reads of THAT table, not re-packings — the
    * four bindings each re-ran the tokenize + two-level prefix-sum
    * pipeline before. Values unchanged (same deterministic rows). */
  private def packedDocs(s: SparkSession, d: String): DataFrame =
    Scratch.frame(s, s"exportpacks|$d") {
      packSequences(
        Tables.documents(s, d)
          .withColumn("n_tokens", size(tokens(col("text"))).cast("long")),
        col("source"), col("doc_id"), col("n_tokens"), budget = 512L)
        .select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")
    }

  def packSequencesQ(s: SparkSession, d: String): DataFrame =
    packedDocs(s, d)
      .select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")

  /** Named query: the top fifth of doc ids (per the append-ordered id
    * space) arrives as an increment; its packing must continue each
    * source's token watermark so it lands exactly where the full-corpus
    * packing would put it — the oracle replays the FULL packing and
    * restricts to the increment, which only passes if the composition
    * property holds bit for bit. */
  def packSequencesIncr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
    val cutRow = docs.agg(expr("max(doc_id) * 4 DIV 5").as("c")).head()
    // empty corpus → no increment (same empty-corpus guard class as
    // mineHardNegatives' isNullAt check)
    val cut = if (cutRow.isNullAt(0)) -1L else cutRow.getLong(0)
    val wm = docs.filter(col("doc_id") <= cut)
      .groupBy(col("source").as("__pp"))
      .agg(sum("n_tokens").as("__wm"))
    packSequencesIncremental(docs.filter(col("doc_id") > cut),
        col("source"), col("doc_id"), col("n_tokens"), budget = 512L, wm)
      .select("doc_id", "source", "n_tokens", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  def mixSourceCap(s: SparkSession, d: String): DataFrame =
    capPerGroup(Tables.documents(s, d), col("source"), col("doc_id"), n = 15)
      .select("doc_id", "source", "rn")
      .orderBy("doc_id")

  def mixTokenBudget(s: SparkSession, d: String): DataFrame =
    capTokensPerGroup(
      Tables.documents(s, d)
        .withColumn("n_tokens", size(tokens(col("text"))).cast("long")),
      col("source"), col("doc_id"), col("n_tokens"), budget = 1000L)
      .select("doc_id", "source", "n_tokens", "cum_before")
      .orderBy("doc_id")

  /** Token-budget source capping — the mixture knob trainers actually
    * express ("at most B tokens of source X"), where [[capPerGroup]]
    * counts DOCS: within each group, in deterministic `order`, a row
    * survives while the running token total BEFORE it is under `budget`
    * — so a group always contributes at least its first document and the
    * boundary document that crosses the budget is the last one kept
    * (standard trainer semantics: budgets are met by the pack cut, not
    * by splitting a document here). One per-group window shuffle, no
    * corpus-wide state. */
  def capTokensPerGroup(df: DataFrame, group: Column, order: Column,
      nTok: Column, budget: Long): DataFrame = {
    require(budget >= 1, s"capTokensPerGroup: budget >= 1, got $budget")
    val w = Window.partitionBy(group).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before", coalesce(sum(nTok).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
  }

  /** Training-shard layout: assign pack rows to fixed-size output shards
    * in a reproducible pseudo-random order — the last leg of the export
    * pipeline (trainers want (a) shards of uniform size for even data
    * loading, (b) a GLOBAL shuffle of the pack order so one shard never
    * holds one source's contiguous run, (c) byte-reproducibility so a
    * re-export is the same dataset).
    *
    * Order = `md5(key)` (ties by key) — a deterministic permutation, the
    * same trick [[temperatureSample]] and `hashSample` use instead of a
    * PRNG. The exact global rank is computed WITHOUT the single-task
    * `row_number() OVER (ORDER BY …)` bottleneck: hex PREFIXES of the
    * hash cut the order into PREFIX-MONOTONE cells (lexicographic
    * prefix order == hash order) folded in two levels — the
    * [[Etl.rangePrefixSum]] decomposition keyed on a hash prefix
    * instead of a numeric range (md5 is uniform, so the cells are
    * balanced by construction, not by hope).
    * `shard_id = rank div packsPerShard`,
    * `pos_in_shard = rank mod packsPerShard`: every shard except the
    * last is exactly full. */
  def shardPacks(packs: DataFrame, key: Column,
      packsPerShard: Long): DataFrame = {
    require(packsPerShard >= 1, s"shardPacks: packsPerShard >= 1, got $packsPerShard")
    // Two-level fold (the [[Etl.rangePrefixSum]] shape on a hash-prefix
    // order instead of a numeric range): row_number runs per 4-hex-char
    // CELL — 65,536-way parallel, ~N/65536 rows per task — cell counts
    // fold within their 2-char bucket (≤256 cells per partition), and
    // only the ≤256 bucket totals cross the one partition-less window.
    // The r13 single-level form capped the sort parallelism at 256
    // tasks of N/256 rows — the same N/buckets wall aucExact had.
    val in = packs.withColumn("__k", key.cast("string"))
      .withColumn("__h", md5(col("__k")))
      .withColumn("__bkt", substring(col("__h"), 1, 2))
      .withColumn("__cell", substring(col("__h"), 1, 4))
      // read twice (cell totals + the ranked join) — lazy cut so the
      // caller's pack aggregation runs once per action (r20)
      .localCheckpoint(eager = false)
    val cellTot = in.groupBy("__bkt", "__cell").agg(count(lit(1)).as("__cn"))
    val wCell = Window.partitionBy("__bkt").orderBy("__cell")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellOff = cellTot
      .withColumn("__coff", coalesce(sum("__cn").over(wCell), lit(0L)))
      .select("__cell", "__coff")
    // ≤ 256 bucket totals flow through this partition-less window.
    val wOff = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cellTot.groupBy("__bkt").agg(sum("__cn").as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .select("__bkt", "__off")
    val wLoc = Window.partitionBy("__cell").orderBy(col("__h"), col("__k"))
    in.withColumn("__ln", row_number().over(wLoc).cast("long"))
      .join(broadcast(cellOff), "__cell")
      .join(broadcast(offsets), "__bkt")
      .withColumn("__rank", col("__off") + col("__coff") + col("__ln") - 1L)
      .withColumn("shard_id", expr(s"__rank DIV ${packsPerShard}L"))
      .withColumn("pos_in_shard", col("__rank") % lit(packsPerShard))
      .drop("__k", "__h", "__bkt", "__cell", "__ln", "__off", "__coff", "__rank")
  }

  /** Materialize [[shardPacks]] output as the at-rest training layout:
    * one directory per shard, ONE file per shard (rows hash-repartition
    * on the shard id, so a shard's rows land in a single task and the
    * `partitionBy` writer emits a single contiguous file for it — shard
    * count, not row count, sets the write parallelism, exactly how an
    * export of 10⁵ shards from a 1000-executor cluster wants it). */
  def writeTrainingShards(sharded: DataFrame, dir: String): Unit =
    sharded.repartition(col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(dir)

  /** Named query: the pack→shard leg — [[packSequencesQ]]'s packs rolled
    * up to pack granularity (n_docs, token total per pack), then
    * [[shardPacks]] at 8 packs/shard. Every stage is exact integer /
    * hash arithmetic, so the oracle replays the whole lineage including
    * the md5 permutation and the rank decomposition. */
  def exportShardsQ(s: SparkSession, d: String): DataFrame = {
    val packed = packedDocs(s, d)
    val packs = packed.groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
    shardPacks(packs,
        concat(col("source"), lit("#"), col("pack_id").cast("string")),
        packsPerShard = 8L)
      .select("source", "pack_id", "n_docs", "pack_tokens",
        "shard_id", "pos_in_shard")
      .orderBy("source", "pack_id")
  }

  /** Dataset MANIFEST for the shard export — the reproducibility
    * receipt: per shard, its pack/doc/token totals and a content hash
    * over the pack keys in shard order. [[shardPacks]] promises
    * byte-reproducibility; this row is how a re-export PROVES it
    * (manifests equal ⇔ same packs in the same slots) without diffing
    * shard files — and how a trainer pins the exact dataset a run
    * consumed. The hash folds keys in `pos_in_shard` order via an
    * explicit sort of the collected ≤packsPerShard struct list, so it
    * is partitioning-independent. */
  def exportManifestQ(s: SparkSession, d: String): DataFrame = {
    val packed = packedDocs(s, d)
    val packs = packed.groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
    val key = concat(col("source"), lit("#"), col("pack_id").cast("string"))
    shardPacks(packs, key, packsPerShard = 8L)
      .select(col("shard_id"), col("n_docs"), col("pack_tokens"),
        col("pos_in_shard"), key.as("__k"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_packs"),
        sum("n_docs").as("n_docs"),
        sum("pack_tokens").as("shard_tokens"),
        md5(concat_ws("|", transform(
          sort_array(collect_list(struct(col("pos_in_shard"), col("__k")))),
          e => e.getField("__k")))).as("content_hash"))
      .orderBy("shard_id")
  }

  /** Curriculum-phase export: each pack gets a DIFFICULTY (token-
    * weighted mean unigram surprisal of its documents, the established
    * LM-gate signal) and a phase 1..3 cut at the global difficulty
    * terciles — the easy-first ordering curriculum-learning trainers
    * consume, attached to the SAME pack keys the shard export uses.
    *
    * Determinism: per-doc surprisal is the fixed-point integer sum
    * (txt_surprisal's quantization discipline), pack difficulty one
    * exact division, and the tercile thresholds come from `percentile`
    * — whose DuckDB `quantile_cont` parity `agg_quantiles` already
    * proves — broadcast as a one-row frame. No global window anywhere:
    * phase assignment is a CASE against two broadcast scalars, so the
    * 200M-pack corpus never single-partitions. */
  def exportCurriculumQ(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
    val total = docs.agg(sum("n_tokens").cast("double").as("total_toks"))
    val tf = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val sfx = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(tf, "term").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum(round(-log(col("tf").cast("double") / col("total_toks"))
        * lit(1e6)).cast("long")).as("__sfx"))
    val packs = packedDocs(s, d)
      .join(sfx, "doc_id")
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"),
        sum("__sfx").as("__psfx"))
      .withColumn("difficulty", col("__psfx").cast("double")
        / (col("pack_tokens").cast("double") * lit(1e6)))
    val q = packs
      .agg(expr("percentile(difficulty, array(1.0D/3, 2.0D/3))").as("q"))
      .select(col("q")(0).as("__q1"), col("q")(1).as("__q2"))
    packs.crossJoin(broadcast(q))
      .withColumn("phase",
        when(col("difficulty") <= col("__q1"), 1L)
          .when(col("difficulty") <= col("__q2"), 2L).otherwise(3L))
      .select(col("source"), col("pack_id"), col("n_docs"),
        col("pack_tokens"), round(col("difficulty"), 6).as("difficulty"),
        col("phase"))
      .orderBy("source", "pack_id")
  }

  /** Corpus-level hygiene report in ONE scan — the aggregate face of the
    * reference's per-stage "removed N rows" logs (`clean_and_fill_na.py`
    * prints counts after every rule): how many docs each gate of
    * [[Pipelines.curateFullOn]] would flag, plus the exact-dup surplus.
    * Gate counts are INDEPENDENT (a doc can trip several), so the report
    * explains the corpus, not the funnel — the funnel is
    * [[Pipelines.curateExactObserved]]. All metrics are integer counts ⇒
    * bit-exact against the oracle; one narrow codegen'd scan + a single
    * aggregate, no shuffle wider than the final one-row reduce. */
  def hygieneReport(df: DataFrame, text: Column,
      minTokens: Long = 5, maxTopTokFrac: Double = 0.2,
      maxDup2gramFrac: Double = 0.1): DataFrame = {
    val s = df.sparkSession
    val nGrams = when(col("n_tokens") < 2, lit(1L)).otherwise(col("n_tokens") - 1L)
    def flag(c: Column) = sum(when(c, 1L).otherwise(0L))
    df.select(tokens(text).as("toks"), exactFingerprint(text).as("fp"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("top_frac",
        graft.functions.TextExpressions.topTokenCount(s, col("toks")).cast("double")
          / col("n_tokens").cast("double"))
      .withColumn("dup_frac",
        (nGrams - size(graft.functions.TextExpressions.shingleHashes(s, col("toks"), 2))
          .cast("long")).cast("double") / nGrams.cast("double"))
      .withColumn("lang_pred", langIdPredict(col("toks")))
      .agg(
        count(lit(1)).as("n_docs"),
        flag(col("n_tokens") < minTokens).as("n_too_short"),
        flag(col("top_frac") > maxTopTokFrac || col("dup_frac") > maxDup2gramFrac)
          .as("n_repetitive"),
        flag(col("lang_pred") === "und").as("n_lang_und"),
        countDistinct(col("fp")).as("n_distinct_texts"),
        sum(col("n_tokens")).as("total_tokens"))
  }

  def curateReport(s: SparkSession, d: String): DataFrame =
    hygieneReport(Tables.documents(s, d), col("text"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_repetition" -> txtRepetition,
    "txt_pii_redact" -> txtPiiRedact,
    "curate_decontam" -> curateDecontam,
    "curate_url_blocklist" -> curateUrlBlocklistQ,
    "curate_decontam_fuzzy" -> curateDecontamFuzzy,
    "curate_decontam_fuzzy_idx" -> curateDecontamFuzzyIdx,
    "curate_decontam_bloom" -> curateDecontamBloom,
    "curate_decontam_k" -> curateDecontamK,
    "curate_decontam_report" -> curateDecontamReport,
    "export_manifest" -> exportManifestQ,
    "export_curriculum" -> exportCurriculumQ,
    "mix_temperature" -> mixTemperature,
    "pack_sequences" -> packSequencesQ,
    "pack_sequences_incr" -> packSequencesIncr,
    "export_shards" -> exportShardsQ,
    "mix_source_cap" -> mixSourceCap,
    "mix_token_budget" -> mixTokenBudget,
    "curate_report" -> curateReport)

  private val toksSql = "string_split(lower(text), ' ')"

  /** DuckDB 5-shingle expression mirroring [[TextFunctions.shingles]]
    * (docs shorter than n collapse to one whole-text shingle). */
  private[operators] def shinglesSql(n: Int) =
    s"""CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
        ELSE list_transform(range(1, len(toks) - ${n - 2}),
          i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')) END"""

  /** Shared by `curate_decontam` and its Bloom-prefiltered twin. */
  private val decontamSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_test
         FROM documents),
       e AS (SELECT doc_id, is_test, unnest(${shinglesSql(5)}) AS sh FROM t),
       bad AS (SELECT DISTINCT e.doc_id FROM e
               JOIN (SELECT DISTINCT sh FROM e WHERE is_test) ts ON e.sh = ts.sh
               WHERE NOT e.is_test)
       SELECT doc_id FROM t
       WHERE NOT is_test AND doc_id NOT IN (SELECT doc_id FROM bad)
       ORDER BY doc_id"""

  /** Hex → uint32 for the md5-uniform (DuckDB has no conv()); shared
    * with the `pipeline_export` oracle's temperature stage. */
  private[operators] val hexUSql = (1 to 8).map { i =>
    s"(CAST(strpos('0123456789abcdef', substr(h, $i, 1)) AS BIGINT) - 1) * ${1L << (4 * (8 - i))}"
  }.mkString("(", " + ", ")")

  private lazy val fuzzyDecontamSql =
    s"""WITH t AS (SELECT doc_id, lang || '_' || (n_chars // 100) AS blk,
           string_split(lower(text), ' ') AS toks,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_test
         FROM documents),
       sh AS (SELECT doc_id, blk, is_test,
           list_distinct(${Dedup.shSql}) AS sh FROM t),
       pair AS (
         SELECT a.doc_id AS doc_a,
           len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
           len(a.sh) AS na, len(b.sh) AS nb
         FROM sh a JOIN sh b ON a.blk = b.blk
           AND NOT a.is_test AND b.is_test),
       bad AS (SELECT DISTINCT doc_a AS doc_id FROM pair
         WHERE CAST(inter AS DOUBLE)
           / nullif(CAST(na + nb - inter AS DOUBLE), 0.0) >= 0.5)
       SELECT doc_id FROM t
       WHERE NOT is_test AND doc_id NOT IN (SELECT doc_id FROM bad)
       ORDER BY doc_id"""

  val oracleSql: Map[String, String] = Map(
    "txt_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         tc AS (SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok),
         ta AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tokens FROM tc GROUP BY doc_id),
         g0 AS (SELECT doc_id, ${shinglesSql(2)} AS grams FROM t),
         gc AS (SELECT doc_id, g, count(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS g FROM g0) GROUP BY doc_id, g),
         ga AS (SELECT doc_id, sum(c) AS n_grams, count(*) AS n_distinct FROM gc GROUP BY doc_id)
         SELECT ta.doc_id, CAST(ta.n_tokens AS BIGINT) AS n_tokens,
           CAST(top_c AS DOUBLE) / CAST(ta.n_tokens AS DOUBLE) AS top_tok_frac,
           CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_2gram_frac
         FROM ta JOIN ga ON ta.doc_id = ga.doc_id ORDER BY ta.doc_id""",
    "txt_pii_redact" ->
      s"""WITH a AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com via +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
             || CASE WHEN doc_id % 2 = 0 THEN ' cc admin@example.org' ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
             '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
             '$PhoneRe', '<PHONE>', 'g') AS redacted
         FROM a ORDER BY doc_id""",
    "curate_decontam" -> decontamSql,
    // suffix-chain blocklist: the chain walk replayed as a suffix test
    // (h = entry, or h ends with '.'+entry — exactly what chain
    // membership means)
    "curate_url_blocklist" ->
      """WITH u AS (SELECT doc_id,
           lower(concat(CASE WHEN source IN ('src5','src6') THEN 'cdn.' ELSE '' END,
             source, '.archive.example.org')) AS host
           FROM documents),
         b AS (SELECT unnest(['src3.archive.example.org',
                              'src5.archive.example.org']) AS domain),
         blocked AS (SELECT DISTINCT u.doc_id FROM u JOIN b
           ON u.host = b.domain OR ends_with(u.host, '.' || b.domain))
         SELECT doc_id, host FROM u
         WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
         ORDER BY doc_id""",
    // bit-identical by the Bloom no-false-negative argument — the exact
    // semi-join disposes of every false positive, so the SAME oracle
    // checks the prefiltered path end to end
    "curate_decontam_bloom" -> decontamSql,
    // the near-dup strip replayed as ALL-PAIRS exact Jaccard (train ×
    // test within block) — valid against the banded implementation by
    // the recall-1-at-verify-threshold argument (Dedup.verifyJaccard)
    "curate_decontam_fuzzy" -> fuzzyDecontamSql,
    // index-served probe shares the in-plan oracle bit for bit (same
    // signatures, same verify — only the candidate transport differs)
    "curate_decontam_fuzzy_idx" -> fuzzyDecontamSql,
    "curate_decontam_k" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_test
           FROM documents),
         e AS (SELECT doc_id, is_test, unnest(${shinglesSql(5)}) AS sh FROM t),
         bad AS (SELECT e.doc_id FROM e
                 JOIN (SELECT DISTINCT sh FROM e WHERE is_test) ts ON e.sh = ts.sh
                 WHERE NOT e.is_test
                 GROUP BY e.doc_id HAVING count(DISTINCT e.sh) >= 2)
         SELECT doc_id FROM t
         WHERE NOT is_test AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",
    "curate_decontam_report" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_test
           FROM documents),
         e AS (SELECT doc_id, source, is_test, unnest(${shinglesSql(5)}) AS sh FROM t),
         bad AS (SELECT DISTINCT e.doc_id FROM e
                 JOIN (SELECT DISTINCT sh FROM e WHERE is_test) ts ON e.sh = ts.sh
                 WHERE NOT e.is_test)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM bad)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM bad)
             THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS contamination_rate
         FROM t WHERE NOT is_test GROUP BY source ORDER BY source""",
    "export_manifest" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM t),
         p AS (SELECT source, CAST(cum // 512 AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
           FROM c GROUP BY source, pack_id),
         r AS (SELECT *, source || '#' || CAST(pack_id AS VARCHAR) AS k,
             CAST(row_number() OVER (
               ORDER BY md5(source || '#' || CAST(pack_id AS VARCHAR)),
                 source || '#' || CAST(pack_id AS VARCHAR)) AS BIGINT) - 1 AS rk
           FROM p)
         SELECT CAST(rk // 8 AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(pack_tokens) AS BIGINT) AS shard_tokens,
           md5(string_agg(k, '|' ORDER BY rk % 8)) AS content_hash
         FROM r GROUP BY 1 ORDER BY shard_id""",
    // mirrors exportCurriculumQ: fixed-point surprisal, exact division,
    // quantile_cont terciles (the percentile parity agg_quantiles pins)
    "export_curriculum" ->
      """WITH t AS (SELECT doc_id, source, string_split(lower(text), ' ') AS toks,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         total AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total_toks FROM t),
         e AS (SELECT doc_id, unnest(toks) AS term FROM t),
         tf AS (SELECT term, count(*) AS tf FROM e GROUP BY term),
         sfx AS (SELECT doc_id,
             CAST(sum(CAST(round(-ln(CAST(tf AS DOUBLE) / total_toks)
               * 1000000) AS BIGINT)) AS BIGINT) AS sfx
           FROM e JOIN tf USING (term) CROSS JOIN total GROUP BY doc_id),
         c AS (SELECT doc_id, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM t),
         p AS (SELECT source, CAST(cum // 512 AS BIGINT) AS pack_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
             CAST(sum(sfx) AS BIGINT) AS psfx
           FROM c JOIN sfx USING (doc_id) GROUP BY source, pack_id),
         p2 AS (SELECT *, CAST(psfx AS DOUBLE)
             / (CAST(pack_tokens AS DOUBLE) * 1000000.0) AS difficulty FROM p),
         q AS (SELECT quantile_cont(difficulty, 1.0/3) AS q1,
             quantile_cont(difficulty, 2.0/3) AS q2 FROM p2)
         SELECT source, pack_id, n_docs, pack_tokens,
           round(difficulty, 6) AS difficulty,
           CAST(CASE WHEN difficulty <= q1 THEN 1
             WHEN difficulty <= q2 THEN 2 ELSE 3 END AS BIGINT) AS phase
         FROM p2 CROSS JOIN q ORDER BY source, pack_id""",
    "mix_temperature" ->
      s"""WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         m AS (SELECT min(c) AS cmin FROM c),
         f AS (SELECT lang, sqrt(CAST(cmin AS DOUBLE) / CAST(c AS DOUBLE)) AS f FROM c, m),
         u AS (SELECT doc_id, lang, $hexUSql AS uu
               FROM (SELECT doc_id, lang,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
                     FROM documents))
         SELECT u.doc_id, u.lang FROM u JOIN f ON u.lang = f.lang
         WHERE CAST(uu AS DOUBLE) / 4294967296.0 < f ORDER BY u.doc_id""",
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM t)
         SELECT doc_id, source, n_tokens,
           CAST(cum // 512 AS BIGINT) AS pack_id,
           CAST(cum % 512 AS BIGINT) AS pack_offset
         FROM c ORDER BY doc_id""",
    // composition property: the incremental run must equal the FULL
    // packing restricted to the increment rows
    "pack_sequences_incr" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM t)
         SELECT doc_id, source, n_tokens,
           CAST(cum // 512 AS BIGINT) AS pack_id,
           CAST(cum % 512 AS BIGINT) AS pack_offset
         FROM c WHERE doc_id > (SELECT max(doc_id) * 4 // 5 FROM t)
         ORDER BY doc_id""",
    // pack rollup → md5-permutation global rank → div/mod shard cut; the
    // oracle may use the flat OVER (ORDER BY …) window the Spark side
    // decomposes into 256 prefix buckets — identical output
    "export_shards" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM t),
         p AS (SELECT source, CAST(cum // 512 AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
           FROM c GROUP BY source, pack_id),
         r AS (SELECT *, CAST(row_number() OVER (
             ORDER BY md5(source || '#' || CAST(pack_id AS VARCHAR)),
               source || '#' || CAST(pack_id AS VARCHAR)) AS BIGINT) - 1 AS rk
           FROM p)
         SELECT source, pack_id, n_docs, pack_tokens,
           CAST(rk // 8 AS BIGINT) AS shard_id,
           CAST(rk % 8 AS BIGINT) AS pos_in_shard
         FROM r ORDER BY source, pack_id""",
    "mix_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM t)
         SELECT doc_id, source, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
         FROM c WHERE cum_before < 1000 ORDER BY doc_id""",
    "mix_source_cap" ->
      """SELECT doc_id, source, rn FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
           FROM documents)
         WHERE rn <= 15 ORDER BY doc_id""",
    "curate_report" -> {
      import graft.functions.TextFunctions.LangMarkers
      val hits = LangMarkers.map { case (l, m) =>
        s"len(list_filter(list_distinct(toks), x -> list_contains([${m.map(x => s"'$x'").mkString(", ")}], x))) AS h_$l"
      }.mkString(", ")
      val best = LangMarkers.map { case (l, _) => s"h_$l" }.mkString("greatest(", ", ", ")")
      val cases = LangMarkers.map { case (l, _) =>
        s"WHEN h_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         h AS (SELECT *, $hits FROM t),
         b AS (SELECT *, $best AS best FROM h),
         lp AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
             CASE $cases ELSE 'und' END AS lang_pred
           FROM b),
         tc AS (SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS tok FROM lp) GROUP BY doc_id, tok),
         ta AS (SELECT doc_id, max(c) AS top_c FROM tc GROUP BY doc_id),
         gc AS (SELECT doc_id, g, count(*) AS c
                FROM (SELECT doc_id, unnest(${shinglesSql(2)}) AS g FROM lp) GROUP BY doc_id, g),
         ga AS (SELECT doc_id, sum(c) AS n_grams, count(*) AS n_distinct FROM gc GROUP BY doc_id),
         rep AS (SELECT lp.doc_id, lp.text, lp.n_tokens, lp.lang_pred,
             CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_frac,
             CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac
           FROM lp JOIN ta USING (doc_id) JOIN ga USING (doc_id))
         SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN n_tokens < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
           CAST(sum(CASE WHEN top_frac > 0.2 OR dup_frac > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
           CAST(sum(CASE WHEN lang_pred = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_und,
           count(DISTINCT md5(text)) AS n_distinct_texts,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM rep"""
    })
}
