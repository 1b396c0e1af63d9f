package graft.operators

import graft.Ckpt._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** L4 (SURVEY.md §2.9): text-analysis operators for corpus curation —
  * per-document statistics / quality scores, corpus term frequency,
  * stopword-profile language ID, and rolling-hash fingerprints.
  *
  * Scale posture: the per-document queries are pure narrow maps over
  * higher-order array functions (no UDF, no shuffle, whole-stage
  * codegen); term frequency is the only shuffle (explode → map-side
  * partial count → final agg on a 31-word key space).
  */
object TextOps {

  /** Tiny built-in stopword profiles. English list doubles as the
    * "quality" stopword set for [[l4TextAnalysis]].
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Default tokenizer: single-space split. Exactly right for the fixture
    * word soup and replayable verbatim in the DuckDB oracle (every
    * declared query keeps it); real corpora want [[unicodeTokenizer]].
    */
  val spaceTokenizer: Column => Column = text => split(text, " ")

  /** Unicode-aware tokenizer: tokens are maximal runs of letters/digits
    * (`\p{L}`/`\p{N}`); punctuation, whitespace runs, and every other
    * symbol separate. On text that is already single-space-joined
    * letter/digit words it agrees with [[spaceTokenizer]] exactly (the
    * scalacheck property in PropertiesSpec), so swapping it in changes
    * nothing on clean input and stops silent mis-tokenization on
    * punctuated/unicode input. Same per-row codegen'd shape — `split` on
    * a compiled regex plus `array_remove` of the empty strings a
    * leading/trailing separator produces (array_remove, unlike a
    * higher-order `filter` lambda, stays inside whole-stage codegen —
    * the same interpreted-HOF trap SCALING.md pins for trigram langid).
    */
  val unicodeTokenizer: Column => Column = text =>
    array_remove(split(text, "[^\\p{L}\\p{N}]+"), "")

  private def toks(text: Column): Column = spaceTokenizer(text)

  /** BPE-style pre-tokenization pattern (GPT-2-family shape):
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs. Counting LLM-token budget needs no vocabulary —
    * BPE merges only ever split/join WITHIN a pre-token, so the match
    * count estimates (and for common-word English text closely tracks)
    * the real tokenizer's count. ASCII classes on purpose: `[A-Za-z]`
    * counts identically under Java regex (Spark) and RE2 (DuckDB),
    * which makes the declared query oracle-exact; a `\p{L}` variant
    * would be the production choice for multilingual corpora.
    */
  val BpeTokenPattern = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

  /** Codegen'd per-row count of [[BpeTokenPattern]] matches. */
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpeTokenPattern))

  /** L4 declared query: per-doc LLM-token budget — whitespace tokens vs
    * BPE-style pre-tokens, plus the per-doc ratio in integer permille
    * (exact cross-engine). The budget line every packing/cap decision
    * upstream consumes ([[Curation.packBins]] bins on token counts).
    */
  def l4TokcountBpe(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.Tables(spark, dir)
    t.documents
      .select(col("doc_id"),
        size(spaceTokenizer(col("text"))).cast("long").as("n_ws"),
        bpeTokenCount(col("text")).cast("long").as("n_bpe"))
      .withColumn("bpe_per_ws_permille",
        call_function("div", col("n_bpe") * lit(1000L), col("n_ws")))
      .orderBy(col("doc_id"))
  }

  private def countIn(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isInCollection(words)))

  /** The composite quality score of [[l4TextAnalysis]] as a standalone
    * per-row expression (700‰ lexical diversity + 300‰ non-stopword
    * share, integer floor-div — exact on any engine). Shared with
    * [[Curation.l8QualityGate]]'s median filter.
    */
  def qualityPermille(text: Column,
                      tokenizer: Column => Column = spaceTokenizer): Column = {
    val ts = tokenizer(text)
    call_function("div",
      (lit(700) * size(array_distinct(ts)) +
        lit(300) * (size(ts) - countIn(ts, stopwords("en")))).cast("long"),
      size(ts).cast("long"))
  }

  /** Per-doc token/uniqueness/stopword stats + derived quality score.
    * All counts are exact integers. Ratios are single double divisions of
    * those integers rounded at 6 dp — token counts are ≤ 99, so any
    * power-of-two denominator terminates within 6 digits and the rounding
    * never lands on a cross-engine half-boundary. The composite quality
    * score stays in exact integer arithmetic (permille, floor-div), which
    * no floating-point rounding discipline can break.
    */
  def l4TextAnalysis(spark: SparkSession, dir: String): DataFrame =
    textStats(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** The [[l4TextAnalysis]] stats over any documents-shaped frame with a
    * pluggable tokenizer (declared query keeps [[spaceTokenizer]]).
    */
  def textStats(docs: DataFrame,
                tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val ts = tokenizer(col("text"))
    docs
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        size(ts).as("n_tokens"),
        size(array_distinct(ts)).as("n_unique"),
        countIn(ts, stopwords("en")).as("n_stop"),
        aggregate(transform(ts, length(_)), lit(0), _ + _).as("sum_tok_len"),
        // BPE-ish subword count: ⌈len/4⌉ units per word — the integer-exact
        // stand-in for a learned-merge tokenizer's piece count
        aggregate(transform(ts, t => floor((length(t) + lit(3)) / lit(4)).cast("int")),
          lit(0), _ + _).as("n_subtokens"))
      .withColumn("ttr", round(col("n_unique").cast("double") / col("n_tokens"), 6))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn("avg_tok_len", round(col("sum_tok_len").cast("double") / col("n_tokens"), 6))
      // Quality heuristic for corpus filtering: favour lexical diversity,
      // penalize stopword-heavy docs. Integer permille: 700‰ diversity +
      // 300‰ non-stopword share, floor-divided — exact on any engine.
      .withColumn("quality_permille",
        expr("(700 * n_unique + 300 * (n_tokens - n_stop)) DIV n_tokens"))
  }

  /** Corpus term frequency: token → occurrences + document frequency. */
  def l4TermFreq(spark: SparkSession, dir: String): DataFrame =
    termFreq(Tables(spark, dir).documents)
      .orderBy(col("n_occurrences").desc, col("token"))

  /** [[l4TermFreq]] over any documents frame with a pluggable tokenizer. */
  def termFreq(docs: DataFrame,
               tokenizer: Column => Column = spaceTokenizer): DataFrame =
    docs
      .select(col("doc_id"), explode(tokenizer(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))

  /** L4 declared query for the UNICODE tokenizer: deterministically
    * punctuate the fixture text in-query (comma-space separators plus a
    * trailing bang — the fixture corpus itself is clean word soup), then
    * recover term frequencies through [[unicodeTokenizer]]. By the
    * tokenizer property this equals [[l4TermFreq]] over the original
    * text, and the DuckDB oracle replays the regex split itself — so the
    * row proves CROSS-ENGINE agreement of the `\p{L}\p{N}` tokenization
    * (Java regex vs RE2), not just the Spark-side property.
    */
  def l4TermFreqUnicode(spark: SparkSession, dir: String): DataFrame = {
    val punct = Tables(spark, dir).documents.withColumn("text",
      concat(regexp_replace(col("text"), " ", ", "), lit("!")))
    termFreq(punct, unicodeTokenizer)
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  /** Shared term-statistics pipeline for [[l4TfIdf]] / [[l4Bm25]]:
    * per-(doc, token) tf with the doc's token count under `lenCol`, and
    * per-token document frequency (terms is unique per (doc_id, token),
    * so df is a plain count).
    */
  private def termStats(docs: DataFrame, lenCol: String,
                        tokenizer: Column => Column): (DataFrame, DataFrame) = {
    // tokenize ONCE per row: size() and explode() both consume the
    // projected array — two independent tokenizer(col("text")) calls
    // straddle the Generate boundary, which common-subexpression
    // elimination does not cross, so the regex split would run twice
    // over every document
    val terms = docs
      .select(col("doc_id"), tokenizer(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as(lenCol),
        explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col(lenCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    (terms, terms.groupBy(col("token")).agg(count(lit(1)).as("df")))
  }

  /** TF-IDF per (document, token): tf-normalized term weight × ln-idf —
    * the standard relevance weight a curation/retrieval pipeline derives
    * from [[l4TermFreq]]'s raw counts. The corpus size reaches the plan as
    * a 1-row broadcast (agg → crossJoin(broadcast)), never a driver-side
    * count: two shuffles total (doc-term partial count, token df), then a
    * token-keyed join of narrow rows.
    *
    * ln is the ONE transcendental in the whole oracle discipline (divide
    * and sqrt are IEEE correctly-rounded and engine-identical; libm/JVM
    * ln is only ~1-ulp accurate). The idf is therefore snapped to
    * INTEGER micro-units once (residual cross-engine exposure: a 1-ulp
    * ln disagreement within ~2 ulp of a .5 micro boundary, ~1e-10 per
    * DISTINCT df value), and the final weight is HALF_UP(tf·idfµ/n)
    * computed entirely in integer arithmetic — (2·tf·idfµ + n) DIV (2n)
    * — because a double ROUND of the terminating rational tf·idf6/n
    * genuinely lands on half boundaries (observed at sf0.1: idf6/70 =
    * 3860.5e-6 exactly), where Spark's BigDecimal HALF_UP and DuckDB's
    * scaled-multiply round disagree. The closing ÷1e6 is one correctly-
    * rounded double op, identical on both engines.
    */
  def l4TfIdf(spark: SparkSession, dir: String): DataFrame =
    tfIdf(Tables(spark, dir).documents).orderBy(col("doc_id"), col("token"))

  /** [[l4TfIdf]] over any documents frame with a pluggable tokenizer. */
  def tfIdf(docs: DataFrame,
            tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val (terms, docFreq) = termStats(docs, "n_tokens", tokenizer)
    val total = docs.agg(count(lit(1)).as("n_docs_total"))
    terms.join(docFreq, "token")
      .crossJoin(broadcast(total))
      .withColumn("idf_micro",
        round(log(col("n_docs_total").cast("double") / col("df")) * lit(1e6)).cast("long"))
      .select(col("doc_id"), col("token"), col("tf"), col("n_tokens"), col("df"),
        (expr("(2L * tf * idf_micro + n_tokens) DIV (2L * n_tokens)")
          .cast("double") / lit(1e6)).as("tf_idf"))
  }

  /** Keywords kept per document by [[l4Keywords]]. */
  val KeywordsK = 3

  /** L4 declared query: per-document keyword extraction — the top
    * [[KeywordsK]] terms by TF-IDF, the doc-tagging signal curation and
    * retrieval pipelines attach to every document. Ranking happens inside
    * a `Window.partitionBy(doc_id)` — each partition is one document's
    * vocabulary, so the window state is row-sized at any corpus scale
    * (unlike a global rank, per-doc top-k is embarrassingly parallel).
    * The tf_idf double is an exact integer/1e6, so its ordering IS the
    * integer ordering on both engines; ties break on the token text.
    */
  def l4Keywords(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tf_idf").desc, col("token"))
    tfIdf(Tables(spark, dir).documents)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KeywordsK)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("tf_idf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** BM25 term weights — the standard retrieval scoring function (and the
    * relevance signal retrieval-augmented curation ranks by):
    * idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with the classic
    * k1=1.2, b=0.75 and the Lucene-style non-negative idf
    * ln(1 + (N−df+0.5)/(df+0.5)) — the raw Robertson form goes NEGATIVE
    * for terms in more than half the corpus, which would make a matching
    * doc rank below a non-matching one in [[bm25Search]]'s sum. Same
    * plan shape as [[l4TfIdf]] (two shuffles, corpus stats as a 1-row
    * broadcast) and the same transcendental discipline: ln is pre-rounded
    * at 6 dp so every downstream op consumes engine-identical inputs
    * (k1/b literals parse to the same doubles on both engines; all other
    * ops are IEEE correctly-rounded, and norm's dl/avgdl is generically
    * non-terminating so the closing 6-dp round has no exact half
    * boundaries to land on).
    */
  def l4Bm25(spark: SparkSession, dir: String): DataFrame =
    defaultBm25(spark, dir).orderBy(col("doc_id"), col("token"))

  /** The corpus BM25 table memoized per (session, corpus dir) — the
    * [[defaultBpeTrain]] discipline: an index a real deployment builds
    * once and serves many retrieval/eval queries from, consumed here by
    * `l4_bm25`, `m3_mrr` and `m5_ndcg` (a Verify/Bench session would
    * otherwise re-pay the corpus tf/df pass once per query). Cached
    * ROWS equal the un-memoized call's exactly (RelationalSpec pins a
    * recompute); the one-time build cost surfaces in the bench
    * artifact's `shared_build.bm25` instead of vanishing into warm-up.
    * Same immutable-corpus-dir assumption as every session cache;
    * [[graft.SessionCache.clearAll]] clears it.
    */
  private val bm25Cache = new graft.SessionCache[String, DataFrame]
  private[graft] def defaultBm25(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): DataFrame =
    bm25Cache.getOrElseUpdate(spark, dir) {
      import graft.Ckpt._
      bm25Frame(Tables(spark, dir).documents).materialize()
    }

  /** Per-(doc, token) BM25 frame over any documents frame with a
    * pluggable tokenizer (declared queries keep [[spaceTokenizer]]).
    */
  def bm25Frame(docs: DataFrame,
                tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val (terms, docFreq) = termStats(docs, "dl", tokenizer)
    val stats = docs.agg(
      count(lit(1)).as("n_docs_total"),
      sum(size(tokenizer(col("text")))).as("sum_dl"))
    val idf6 = round(log(lit(1.0) +
      (col("n_docs_total").cast("double") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))), 6)
    val tfD = col("tf").cast("double")
    val norm = tfD + lit(1.2) * (lit(1.0) - lit(0.75) +
      lit(0.75) * col("dl").cast("double") /
        (col("sum_dl").cast("double") / col("n_docs_total")))
    terms.join(docFreq, "token")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"), col("tf"), col("dl"), col("df"),
        round(idf6 * tfD * lit(2.2) / norm, 6).as("bm25"))
  }

  /** Ranked retrieval over the corpus: top-k documents for a free-text
    * query by summed per-term BM25 (non-negative idf, so matching an
    * extra query term can never DEMOTE a doc). Token matching is
    * case-exact, consistent with the corpus tokenization everywhere else
    * in this file — lowercase both sides upstream for case-folded search.
    * The token filter is pushed beneath the joins by Catalyst, so only
    * the query's terms flow through the tf/df aggregates; consumes the
    * UNSORTED frame (l4Bm25's declared-query orderBy would survive the
    * sum(double) aggregate as a useless global sort), and ranking is
    * TakeOrderedAndProject (k-row driver merge).
    */
  def bm25Search(spark: SparkSession, dir: String, query: String, k: Int,
                 tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val qTokens = query.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(qTokens.nonEmpty, "empty query")
    // per-term weights are 6-dp-rounded, so each is an exact integer in
    // micro-units; summing those LONGS (not the doubles) makes the score
    // independent of partial-aggregation order — a plain sum(double) can
    // differ in the last bit between runs, let alone engines
    bm25Frame(Tables(spark, dir).documents, tokenizer)
      .filter(col("token").isInCollection(qTokens))
      .groupBy(col("doc_id"))
      .agg((sum(round(col("bm25") * lit(1e6)).cast("long")).cast("double") / lit(1e6))
        .as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Fixed query + k for the declared [[bm25Search]] form (shared with the
    * Registry oracle builder): one corpus-rare term ("dup", high idf) plus
    * two common ones, all present at every fixture scale.
    */
  val Bm25SearchQuery = "dup scan query"
  val Bm25SearchK     = 15

  /** L4 declared query: end-to-end BM25 retrieval — top-k docs for
    * [[Bm25SearchQuery]] by summed per-term weight.
    */
  def l4Bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Search(spark, dir, Bm25SearchQuery, Bm25SearchK)

  /** Unigram-LM document scoring — the perplexity-proxy quality filter of
    * LLM-corpus curation (CCNet-style): fit a unigram language model on
    * the corpus itself (token occurrence counts / total token mass), then
    * score each document by its mean per-token negative log-likelihood.
    * Low NLL ≈ typical of the corpus; high NLL flags outlier/garbage docs
    * to drop or down-sample before training.
    *
    * Plan: one doc-term partial count (shuffle on (doc_id, token)), one
    * token-count aggregate reusing the same exploded pass (shuffle on
    * token), corpus total as a 1-row broadcast, then a token-keyed join
    * of narrow (token, tf) rows and a doc-keyed final aggregate — the
    * tf-idf plan shape, nothing corpus-sized on the driver. At 100 TB the
    * token dimension is vocabulary-sized (≪ corpus), the join key is the
    * token, and every row through the multiplicative stages is ≤ 3 longs.
    *
    * Same transcendental discipline as [[tfIdf]]: ln is snapped ONCE per
    * distinct count to an integer micro-unit NLL (ln(T/cnt) ≥ 0, so no
    * signed-division ambiguity), the per-doc mean is the exact HALF_UP
    * rational (2·Σtf·nllµ + n) DIV (2n) in pure integer arithmetic, and
    * the closing ÷1e6 is one correctly-rounded double op.
    */
  def unigramNll(docs: DataFrame,
                 tokenizer: Column => Column = spaceTokenizer): DataFrame =
    unigramNllMicro(docs, tokenizer)
      .select(col("doc_id"), col("n_tokens"),
        (col("nll_micro").cast("double") / lit(1e6)).as("mean_nll"))

  /** [[unigramNll]] before the closing ÷1e6 — (doc_id, n_tokens,
    * nll_micro) with the per-doc mean NLL as an exact HALF_UP integer in
    * micro-units. The integer form is what downstream EXACT machinery
    * (ranking, bucketing) consumes: integers order and replay identically
    * on any engine, doubles need a rounding argument.
    */
  def unigramNllMicro(docs: DataFrame,
                      tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokenizer(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // token unigram counts derive from the tf frame (Σ tf per token), so
    // the exploded scan is paid once and the second aggregate shuffles
    // vocabulary-sized rows, not corpus-sized ones
    val cnt = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("t_total"))
    val nll = cnt.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("t_total").cast("double") / col("cnt")) * lit(1e6))
          .cast("long").as("nll_micro"))
    tf.join(nll, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("nll_micro")).as("s_micro"))
      .select(col("doc_id"), col("n_tokens"),
        expr("(2L * s_micro + n_tokens) DIV (2L * n_tokens)").as("nll_micro"))
  }

  /** L4 declared query: per-document mean unigram NLL over the fixture
    * corpus, the rank curation pipelines threshold on.
    */
  def l4UnigramLm(spark: SparkSession, dir: String): DataFrame =
    unigramNll(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** CCNet bucket shares in tenths of the corpus: ranks in the lowest
    * [[CcnetHeadTenths]] tenths by NLL are "head" (closest to the LM =
    * highest quality), the next [[CcnetMiddleTenths]] are "middle", the
    * rest "tail" — CCNet's 30/30/40 split (Wenzek et al. 2020 §4.4).
    */
  val CcnetHeadTenths = 3
  val CcnetMiddleTenths = 3

  /** CCNet-style perplexity bucketing: rank every document by LM score
    * (here [[unigramNllMicro]], ascending — lower NLL reads more like the
    * reference corpus) and cut the ranking into head/middle/tail shares.
    * Curation runs keep head+middle, or mix buckets at chosen rates.
    *
    * The global rank is [[Relational.bucketedRank]] — the NLL itself
    * coarsened into monotone integer buckets (`nll_micro DIV 2¹³` ≈
    * 0.008-nat slices; per-doc mean NLL spans a few nats, so the corpus
    * spreads over hundreds of populated buckets), one hash exchange plus
    * per-bucket windows, never a single-task global window and never a
    * range-sampling job (the bucket is a pure function of the row, not a
    * sampled boundary) — and the bucket of a row is `(rank−1)·10 DIV n`
    * compared to the share constants: pure integer arithmetic over an
    * exactly replayable (nll_micro, doc_id) total order, so the cut
    * points land identically on any engine at any scale. The scored
    * frame is pinned with ONE narrow materialization
    * (`materializeInput`) that the bucket-count branch, the rank branch
    * AND the corpus count (`totalCol`) all ride, so the expensive NLL
    * derivation — plus whatever filters a caller like the L0 pipeline
    * stacked below it — executes exactly once.
    */
  def ccnetBuckets(docs: DataFrame,
                   tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val scored = unigramNllMicro(docs, tokenizer)
    val ranked = Relational.bucketedRank(scored,
      Seq(col("nll_micro"), col("doc_id")),
      expr("nll_micro DIV 8192L"),
      totalCol = Some("__n"),
      // the NLL chain (tokenize + LM fit + score, plus whatever filters
      // a composed caller stacked below) is expensive — pin it once
      materializeInput = true)
    ranked
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"),
        // corpus-global rank stays BIGINT — it passes 2^31 long before
        // 100 TB and an INT cast would silently wrap
        col("rank"),
        when(expr("(rank - 1) * 10 DIV __n") < CcnetHeadTenths, lit("head"))
          .when(expr("(rank - 1) * 10 DIV __n") < CcnetHeadTenths + CcnetMiddleTenths,
            lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** L4 declared query: CCNet head/middle/tail assignment per document. */
  def l4CcnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBuckets(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** Reference-source set for the declared quality-classifier query: a
    * deterministic "known-good" slice (five of the fixture's twenty
    * sources) standing in for the curated reference corpus (Wikipedia /
    * books) real pipelines label positive.
    */
  val NbRefSources: Seq[String] = Seq("src0", "src1", "src2", "src3", "src4")

  /** LEARNED binary quality classifier, trained and applied in one
    * declarative plan: multinomial Naive Bayes with add-one smoothing
    * over unigram counts — the reference-vs-crawl gate (the GPT-3 /
    * LLaMA-style "does this look like the reference corpus" classifier,
    * Brown et al. 2020 App. A; fastText plays this role in CCNet) that
    * complements the heuristic filters: Gopher scores FORM (lengths,
    * ratios), the unigram LM scores typicality of the corpus to ITSELF,
    * this scores resemblance to a LABELED reference slice.
    *
    * score(d) = ln(N₊/N₋) + Σ_t tf_{d,t} · ln(((c₊ₜ+1)·(T₋+V)) /
    * ((c₋ₜ+1)·(T₊+V))) in integer micro-nats: each token's log-odds
    * weight is snapped ONCE per vocabulary row (the [[unigramNllMicro]] /
    * m4 transcendental discipline — one correctly-rounded ln per
    * distinct count vector, never per corpus row), and the per-doc sum
    * is exact integer arithmetic, so the scores and the keep decisions
    * replay bit-identically on any engine. Long products inside the ln
    * argument error LOUD on overflow under ANSI, matching DuckDB's
    * BIGINT-overflow error (the m4 posture).
    *
    * Plan shape: one exploded doc-term pass (shared tf frame), a
    * vocabulary-sized class-count aggregate, scalars (T±, V, N±) as one
    * 1-row broadcast, then a token-keyed weight join and a doc-keyed
    * final aggregate — the tf-idf plan. The trained model IS the
    * (token → w_micro) frame: vocabulary-sized state, the 100 TB shape
    * (train once, persist the weight table, score any corpus by one
    * token-keyed join).
    */
  def nbQualityScore(docs: DataFrame, isRef: Column,
                     tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    // is_ref rides the doc-term frame (functionally dependent on doc_id —
    // the mrrAtK keep-in-scope trick), so neither the class counts nor
    // the final select needs a label join-back. Pinned ONCE: the frame
    // feeds the class-count aggregate and the final scoring aggregate,
    // separate non-exchange subtrees Catalyst will not share (the
    // ReuseExchange refinement in SCALING.md — the unpinned first cut
    // re-ran the tokenize pass per consumer, 4 Generates in one plan).
    val tf = docs.select(col("doc_id"),
        coalesce(isRef, lit(false)).as("is_ref"),
        explode(tokenizer(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("is_ref"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .materialize()
    // vocabulary-sized class-conditional counts — the trained model's
    // support; pinned for its two consumers (scalar fold + weight map)
    val cnt = tf.groupBy(col("token")).agg(
        sum(when(col("is_ref"), col("tf")).otherwise(0L)).as("c_pos"),
        sum(when(!col("is_ref"), col("tf")).otherwise(0L)).as("c_neg"))
      .materialize()
    // bounded model scalars (class token masses, vocab size, class doc
    // counts): collected once and injected as literals — the SCALING.md
    // local-relation lesson. The doc-count side scans only (doc_id,
    // label) columns; it cannot derive from tf because zero-token docs
    // carry prior mass too. The ln snap itself stays IN the plan so the
    // round() semantics are Spark's single HALF_UP everywhere.
    val s = cnt.agg(
        sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"),
        count(lit(1)).as("v"))
      .crossJoin(docs.select(coalesce(isRef, lit(false)).as("is_ref")).agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_neg")))
      .head()
    val (tPos, tNeg, v) = (s.getLong(0), s.getLong(1), s.getLong(2))
    val (nPos, nNeg) = (s.getLong(3), s.getLong(4))
    val w = cnt.select(col("token"),
      round(log(((col("c_pos") + 1) * lit(tNeg + v)).cast("double") /
          ((col("c_neg") + 1) * lit(tPos + v))) * lit(1e6))
        .cast("long").as("w_micro"))
    val priorMicro =
      round(log(lit(nPos.toDouble) / lit(nNeg.toDouble)) * lit(1e6)).cast("long")
    tf.join(w, "token")
      .groupBy(col("doc_id"), col("is_ref"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("w_micro")).as("s_micro"))
      .select(col("doc_id"), col("n_tokens"), col("is_ref"),
        (priorMicro + col("s_micro")).as("score_micro"),
        (priorMicro + col("s_micro") > 0L).as("predicted_ref"))
  }

  /** L4 declared query: Naive-Bayes reference-resemblance score per
    * document, reference class = [[NbRefSources]].
    */
  def l4QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    defaultNbScored(spark, dir).orderBy(col("doc_id"))

  /** The fixture corpus's NB score frame memoized per (session, dir) —
    * one train+score chain feeds the declared classifier query AND the
    * M7 eval family (calibration, confusion), the [[defaultBm25]]
    * discipline; its one-time build surfaces in Bench's `shared_build`.
    * [[graft.SessionCache.clearAll]] clears it with the rest.
    */
  private val nbScoreCache = new graft.SessionCache[String, DataFrame]
  private[graft] def defaultNbScored(spark: SparkSession, dir: String): DataFrame =
    nbScoreCache.getOrElseUpdate(spark, dir) {
      import graft.Ckpt._
      nbQualityScore(Tables(spark, dir).documents,
        col("source").isin(NbRefSources: _*)).materialize()
    }

  /** A trained [[nbTrain]] classifier: the vocabulary-sized token →
    * micro-nat log-odds weight frame plus the five smoothing scalars.
    * The prior and the out-of-vocabulary weight are exposed as COLUMNS
    * of literals, not pre-rounded longs, so every consumer snaps them
    * with the same single in-plan HALF_UP round the fused
    * [[nbQualityScore]] uses — no second rounding implementation to
    * drift.
    */
  final case class NbModel(weights: DataFrame, tPos: Long, tNeg: Long,
                           v: Long, nPos: Long, nNeg: Long) {
    /** ln(N₊/N₋), snapped in-plan to micro-nats. */
    def priorMicro: Column =
      round(log(lit(nPos.toDouble) / lit(nNeg.toDouble)) * lit(1e6)).cast("long")
    /** Weight of a token the training corpus never saw — the smoothing
      * mass only: ln((T₋+V)/(T₊+V)).
      */
    def oovMicro: Column =
      round(log(lit((tNeg + v).toDouble) / lit((tPos + v).toDouble)) * lit(1e6))
        .cast("long")
  }

  /** TRAIN-ONCE half of the classifier: the same counts/weights chain as
    * [[nbQualityScore]], ending in a pinned vocabulary-sized model frame
    * instead of self-scoring — persist `weights` and re-create the model
    * to score any other corpus or stream ([[nbApply]],
    * [[graft.streaming.Streams.runNbQualityGate]]). LlmOpsSpec pins
    * train+apply over the training corpus equal to the fused declared
    * query.
    */
  def nbTrain(docs: DataFrame, isRef: Column,
              tokenizer: Column => Column = spaceTokenizer): NbModel = {
    val tf = docs.select(col("doc_id"),
        coalesce(isRef, lit(false)).as("is_ref"),
        explode(tokenizer(col("text"))).as("token"))
      .groupBy(col("is_ref"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("token")).agg(
        sum(when(col("is_ref"), col("tf")).otherwise(0L)).as("c_pos"),
        sum(when(!col("is_ref"), col("tf")).otherwise(0L)).as("c_neg"))
      .materialize()
    val s = cnt.agg(
        sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"),
        count(lit(1)).as("v"))
      .crossJoin(docs.select(coalesce(isRef, lit(false)).as("is_ref")).agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_neg")))
      .head()
    val (tPos, tNeg, v) = (s.getLong(0), s.getLong(1), s.getLong(2))
    val w = cnt.select(col("token"),
      round(log(((col("c_pos") + 1) * lit(tNeg + v)).cast("double") /
          ((col("c_neg") + 1) * lit(tPos + v))) * lit(1e6))
        .cast("long").as("w_micro"))
      .materialize()
    NbModel(w, tPos, tNeg, v, s.getLong(3), s.getLong(4))
  }

  /** APPLY half: score any documents frame against a trained model —
    * one tokenize pass, a token-keyed left join against the weight
    * table (vocabulary-sized: broadcasts on a cluster), unseen tokens
    * at the model's smoothing-mass weight. Output matches
    * [[nbQualityScore]] minus the training label.
    */
  def nbApply(docs: DataFrame, model: NbModel,
              tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(tokenizer(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    tf.join(model.weights, Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * coalesce(col("w_micro"), model.oovMicro)).as("s_micro"))
      .select(col("doc_id"), col("n_tokens"),
        (model.priorMicro + col("s_micro")).as("score_micro"),
        (model.priorMicro + col("s_micro") > 0L).as("predicted_ref"))
  }

  /** First BPE-merge iteration of tokenizer training: corpus-wide
    * occurrence counts of adjacent character pairs inside words, the
    * statistic each BPE round maximizes. Two-stage for scale — the
    * corpus pass is ONE word-frequency aggregate (the standard BPE
    * word-count table), and the character-pair explosion runs over the
    * VOCABULARY (distinct words, weighted by count), which is
    * sublinear in corpus size: at 100 TB the explode touches the ~10⁷
    * distinct words, not the ~10¹³ word instances. All-integer output.
    */
  def bpePairStats(docs: DataFrame,
                   tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val vocab = docs
      .select(explode(tokenizer(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
      .filter(length(col("word")) >= 2)
    vocab
      .select(col("n_word"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n_word")).as("n_occurrences"))
  }

  /** Top-k adjacent pairs to merge — deterministic (count desc, pair asc). */
  val BpePairsK = 20

  /** L4 declared query: the top-[[BpePairsK]] BPE merge candidates. */
  def l4BpePairs(spark: SparkSession, dir: String): DataFrame =
    bpePairStats(Tables(spark, dir).documents)
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(BpePairsK)

  /** Fixed merge rounds for the declared BPE TRAINING query — shared with
    * the Registry oracle builder (the DuckDB replay runs exactly this many
    * rounds, the `trainedCentroids`/`DefaultCcIters` discipline).
    */
  val BpeTrainRounds = 4

  /** The character-symbol state BPE trains over: one row per
    * (distinct word, position) with the word's corpus count as weight —
    * the Sennrich formulation (train on the word-frequency dictionary,
    * never the raw corpus; documents re-attach by a word join). Symbols
    * start as single characters.
    */
  private def bpeInitSyms(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("n_word"),
      posexplode(transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1)))).as(Seq("pos0", "sym")))
      .select(col("word"), col("n_word"), (col("pos0") + 1).as("pos"), col("sym"))

  /** Apply ONE merge pair (the 1-row `best` frame, columns l/r) to the
    * symbol state with GREEDY LEFTMOST-FIRST non-overlapping semantics —
    * the standard BPE application order, computed set-wise: among the
    * matching positions, maximal runs of CONSECUTIVE matches (overlapping
    * occurrences share their middle symbol) keep every ODD-indexed
    * member — exactly the pairs a left-to-right scan would take. All
    * windows partition by `word` (state bounded by word length); the
    * merge pair is a 1-row broadcast.
    */
  private def bpeApplyPair(syms: DataFrame, best: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("word")).orderBy(col("pos"))
    val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(wd))
    val flagged = withNext.join(broadcast(best.select(col("l"), col("r"))),
      col("sym") === col("l") && col("nxt") === col("r"), "left_outer")
    val sel = flagged.filter(col("l").isNotNull).select(col("word"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(wd))
      .withColumn("idx", row_number().over(
        Window.partitionBy(col("word"), col("grp")).orderBy(col("pos"))))
      .filter(col("idx") % 2 === 1)
      .select(col("word"), col("pos"))
    flagged.drop("l", "r")
      .join(sel.withColumn("sel", lit(true)), Seq("word", "pos"), "left_outer")
      .join(sel.select(col("word"), (col("pos") + 1).as("pos"))
        .withColumn("dropped", lit(true)), Seq("word", "pos"), "left_outer")
      .filter(col("dropped").isNull)
      .select(col("word"), col("n_word"), col("pos").as("oldpos"),
        when(col("sel"), concat(col("sym"), col("nxt")))
          .otherwise(col("sym")).as("sym"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("word")).orderBy(col("oldpos"))))
      .drop("oldpos")
  }

  /** L4e: BPE TRAINING — `rounds` full merge iterations (the multi-round
    * generalization of [[bpePairStats]]' "first iteration"): each round
    * counts adjacent symbol pairs weighted by word frequency, merges the
    * most frequent pair (ties broken (count desc, left, right) — both
    * engines agree), and rewrites the symbol state greedily. Returns the
    * merge table (round, lhs, rhs, n_occurrences) and the final symbol
    * state. Deterministic end to end, so the DuckDB oracle replays the
    * training round-for-round — the text-side analogue of the k-means
    * Lloyd chain ([[graft.operators.Similarity.trainedCentroids]]):
    * fixed rounds, state `materialize()`d per round (constant-size plan),
    * 1-row argmax broadcast. At 100 TB training runs on a vocabulary
    * SAMPLE (the trainer only ever sees the distinct-word dictionary —
    * corpus size enters via the weights, not the row count) and
    * documents encode by joining the merged vocabulary ([[l4BpeEncode]]).
    *
    * A round with no remaining adjacent pair contributes no merge row
    * and leaves the state unchanged (the 1-row broadcast is empty, every
    * left-join misses) — both engines compute that identically.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = BpeTrainRounds,
               tokenizer: Column => Column = spaceTokenizer): (DataFrame, DataFrame) = {
    val vocab = docs.select(explode(tokenizer(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
    var syms = bpeInitSyms(vocab).materialize()
    var merges = List.empty[DataFrame]
    for (r <- 1 to rounds) {
      val wd = Window.partitionBy(col("word")).orderBy(col("pos"))
      val best = syms.withColumn("nxt", lead(col("sym"), 1).over(wd))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt"))
        .agg(sum(col("n_word")).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("sym"), col("nxt"))
        .limit(1)
        .select(col("sym").as("l"), col("nxt").as("r"), col("n_occurrences"))
        .materialize() // 1 row; feeds both the merge table and the apply
      merges = best.select(lit(r).as("round"), col("l").as("lhs"),
        col("r").as("rhs"), col("n_occurrences")) :: merges
      syms = bpeApplyPair(syms, best).materialize()
    }
    (merges.reverse.reduce(_ unionByName _), syms)
  }

  /** Serving-path encode: apply a FIXED merge table (training is offline,
    * like a persisted ANN index) in priority order to a vocabulary. Same
    * greedy kernel as training; TextOpsSpec pins applying the trained
    * table == the state training itself produced.
    */
  def bpeApply(vocab: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    merges.foldLeft(bpeInitSyms(vocab).materialize()) { case (syms, (l, r)) =>
      bpeApplyPair(syms, Seq((l, r)).toDF("l", "r")).materialize()
    }
  }

  /** The BPE training chain at its declared defaults, materialized ONCE
    * per (session, corpus dir) — the same memoization discipline as the
    * shared l6 near-dup chain ([[graft.operators.Dedup]]): training is
    * offline state that both `l4_bpe_train` and `l4_bpe_encode`
    * consume, and a Verify/Bench run would
    * otherwise re-pay the multi-round trainer once per query. The cached
    * frames are exactly what the un-memoized call computes (rows, not
    * plan), so declared-query semantics and the DuckDB oracle replay are
    * unchanged; LlmOpsSpec pins the memoized results against an
    * independent recompute.
    */
  private val bpeTrainCache =
    new graft.SessionCache[String, (DataFrame, DataFrame)]
  private[graft] def defaultBpeTrain(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    bpeTrainCache.getOrElseUpdate(spark, dir) {
      val (merges, syms) = bpeTrain(Tables(spark, dir).documents)
      (merges.materialize(), syms.materialize())
    }

  /** L4e declared query: the [[BpeTrainRounds]]-round merge table. */
  def l4BpeTrain(spark: SparkSession, dir: String): DataFrame =
    defaultBpeTrain(spark, dir)._1.orderBy(col("round"))

  /** L4f declared query: per-document BPE token accounting under the
    * trained merges — words count, post-merge symbol count, and the
    * symbols-per-character compression permille. The encode itself is
    * vocabulary-sized work (symbol counts per distinct word) that
    * documents pick up through ONE word join — the only corpus-sized
    * pass; at 100 TB this is the token-budget input the packing/mix
    * operators consume.
    */
  def l4BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val (_, syms) = defaultBpeTrain(spark, dir)
    val wordSyms = syms.groupBy(col("word")).agg(count(lit(1)).as("n_syms_word"))
    docs.select(col("doc_id"), explode(spaceTokenizer(col("text"))).as("word"))
      .join(wordSyms, "word") // every corpus word is in the trained vocab
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms_word")).as("n_syms"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_syms"),
        // greatest(n_chars, 1): a doc whose words are all empty strings
        // has n_chars = 0, where Spark DIV yields NULL but DuckDB //
        // raises — guard BOTH sides identically (oracle mirrors this)
        // so degenerate input stays lock-step instead of diverging
        expr("n_syms * 1000 DIV greatest(n_chars, 1)").as("compression_permille"))
      .orderBy(col("doc_id"))
  }

  /** Stopword-profile language ID: score each language by how many of its
    * profile words appear, argmax with a fixed tie order (en→de→es→fr→zh).
    * (The fixture corpus is synthetic shared-vocabulary soup, so the
    * declared query mostly exercises determinism; real discrimination is
    * asserted in scalatest on language-typical sentences.)
    */
  def langIdExpr(text: Column,
                 tokenizer: Column => Column = spaceTokenizer): Column = {
    val ts = tokenizer(text)
    val langs = Seq("en", "de", "es", "fr", "zh")
    val scores = langs.map(l => l -> countIn(ts, stopwords(l))).toMap
    langs.init.foldRight(lit(langs.last): Column) { (l, els) =>
      val geAll = langs.filter(_ != l).map(o => scores(l) >= scores(o)).reduce(_ && _)
      when(geAll, lit(l)).otherwise(els)
    }
  }

  def l4LangId(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .select(col("lang"), langIdExpr(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Character-trigram language profiles — the classic n-gram langid
    * signal (Cavnar–Trenkle style, reduced to each language's most
    * frequent trigrams). Character n-grams see morphology the stopword
    * profile can't: a sentence with zero function words still carries
    * "sch"/"ich" (de) or "ión"/"ció" (es) in its content words.
    */
  val trigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "he ", "ing", "ng ", "ed ", " of", "ion", "tio", "and"),
    "de" -> Seq("en ", "er ", "ein", "sch", "ich", "nde", "die", "und", "cht", "ung"),
    "es" -> Seq(" de", "os ", "ión", "ció", " la", "ue ", "as ", "ado", "nte", "es "),
    "fr" -> Seq(" de", "es ", "le ", "ent", "eur", "que", "ait", "eau", "aux", " le"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不", "有", "这", "个", "们"))

  private val LangIdLangs = Seq("en", "de", "es", "fr", "zh")

  /** Occurrence-mass score for one language: Σ over profile entries of
    * `length(lo) - length(replace(lo, entry))` = matched characters
    * (3 per trigram hit — no profile trigram is self-overlapping, so
    * non-overlapping replace-count == sliding-window count). zh entries
    * are single CJK chars; ×3 puts them on the same matched-char scale.
    * Everything here is `length`/`replace` — whole-stage codegen'd, no
    * gram array ever materializes (the array form measured 30 s at
    * sf0.1 interpreted; this form is ~0.2 s).
    */
  private def trigramScore(lo: Column, l: String): Column = {
    val weight = if (l == "zh") 3 else 1
    trigramProfiles(l)
      .map(p => length(lo) - length(replace(lo, lit(p))))
      .reduce(_ + _) * lit(weight)
  }

  /** argmax over per-language scores with the fixed tie order
    * en→de→es→fr→zh (same discipline as [[langIdExpr]]).
    */
  private def argmaxLang(score: String => Column): Column =
    LangIdLangs.init.foldRight(lit(LangIdLangs.last): Column) { (l, els) =>
      val geAll = LangIdLangs.filter(_ != l)
        .map(o => score(l) >= score(o)).reduce(_ && _)
      when(geAll, lit(l)).otherwise(els)
    }

  /** Trigram-profile language ID as a single Column. Inlining the score
    * into every argmax comparison is safe here: codegen subexpression
    * elimination dedups the repeated `length`/`replace` trees (unlike
    * the interpreted higher-order-function form it replaced).
    */
  def langIdNgramExpr(text: Column): Column = {
    val lo = lower(text)
    argmaxLang(l => trigramScore(lo, l))
  }

  /** Staged trigram langid: lowered text → five score columns → argmax;
    * multi-referenced non-cheap aliases keep `CollapseProject` from
    * re-inlining, so each score computes once per row even without CSE.
    * A pure narrow map — no UDF, no shuffle — at any scale.
    */
  def l4LangIdNgram(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .select(col("lang"), lower(col("text")).as("lo"))
      .select(col("lang") +:
        LangIdLangs.map(l => trigramScore(col("lo"), l).as(s"s_$l")): _*)
      .select(col("lang"), argmaxLang(l => col(s"s_$l")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Rolling-hash document fingerprint: minimum md5 over 3-token shingles
    * (1-permutation MinHash over shingles — robust to small edits, cheap
    * to compare). Narrow per-row compute; the fingerprint is a 128-bit
    * join/dedup key at scale.
    */
  def fingerprint(text: Column, shingle: Int = 3,
                  tokenizer: Column => Column = spaceTokenizer): Column = {
    // Bind the token array ONCE via a single-element wrapper (same trick
    // as Dedup.shingles): HOF lambdas are interpreted with no CSE, so an
    // element_at(tokenizer(text), …) inside the gram lambda would re-split
    // the document for every (shingle, offset) pair — O(n²) per doc.
    val bound = transform(array(tokenizer(text)), ts => {
      val grams = transform(
        sequence(lit(1), size(ts) - lit(shingle - 1)),
        i => concat_ws(" ", (0 until shingle).map(o => element_at(ts, i + lit(o))): _*))
      // docs shorter than one shingle have no fingerprint (guard: Spark's
      // sequence(1, n) DESCENDS for n < 1 instead of being empty, and the
      // DuckDB oracle's range() yields NULL for the same case)
      when(size(ts) >= shingle, array_min(transform(grams, md5(_))))
        .otherwise(lit(null).cast("string"))
    })
    element_at(bound, 1)
  }

  def l4Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ts = toks(col("text"))
    t.documents
      .select(col("doc_id"), fingerprint(col("text")).as("fingerprint"),
        greatest(size(ts) - lit(2), lit(0)).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Posting-list block width (doc ids per block). */
  val PostingsBlock = 1000L

  /** Inverted-index build: token → sorted doc-id posting list, emitted in
    * [[PostingsBlock]]-wide doc-id BLOCKS rather than one list per token.
    * Blocking is the scale posture, not a convenience: an unblocked
    * `collect_list` keys the shuffle on the token alone, so a stopword
    * appearing in half of 100 TB of documents funnels its entire posting
    * list through ONE reducer's memory. With (token, doc_id DIV B) as the
    * key, per-group state is bounded by B regardless of token frequency,
    * hot tokens spread over their block range, and the blocks concatenate
    * in block order into exactly the unblocked list (the layout real
    * inverted indexes use — delta-encoded fixed-size postings blocks,
    * e.g. Lucene's doc-id block files).
    */
  def postings(docs: DataFrame, tokenizer: Column => Column = spaceTokenizer,
               block: Long = PostingsBlock): DataFrame =
    docs
      // array_distinct first: postings record membership, not occurrences
      .select(col("doc_id"), explode(array_distinct(tokenizer(col("text")))).as("token"))
      .groupBy(col("token"), expr(s"doc_id DIV ${block}L").as("block"))
      .agg(count(lit(1)).as("df_block"),
        sort_array(collect_list(col("doc_id"))).as("postings"))

  /** L4h declared query: the blocked inverted index of the fixture corpus.
    * The posting list is emitted as a canonical comma-joined STRING (not a
    * raw array column): the sorted list already has exactly one textual
    * form, and a flat string is hashable by any downstream comparator —
    * the driver's DuckDB-compare harness cannot lexsort array columns.
    */
  def l4Postings(spark: SparkSession, dir: String): DataFrame =
    postings(Tables(spark, dir).documents)
      .withColumn("postings", array_join(col("postings").cast("array<string>"), ","))
      .orderBy(col("token"), col("block"))

  /** Within-document repetition metrics (Gopher-style quality rules:
    * Rae et al. 2021 §A.1.1 filter on duplicate-line/duplicate-n-gram
    * fractions): per doc, the share of tokens that are repeats of an
    * earlier token, the mass of the single most frequent token, and the
    * duplicate-bigram share. High values flag boilerplate / generated
    * spam a curation run drops before training.
    *
    * Scale posture: token-type stats are an exploded two-stage
    * aggregation — per (doc_id, token) counts partial-aggregate
    * map-side, then one per-doc rollup — so no per-row map of
    * type→count ever materializes (the array-free shape that survives a
    * pathologically hot token). Bigram uniqueness stays narrow per row
    * (zip_with adjacent pairs + array_distinct, codegen'd): the gram
    * array is the same order of memory as the text the row already
    * holds, so exploding it would buy nothing and cost a second
    * shuffle. Metrics are integer permille (floor DIV) — exact on any
    * engine.
    */
  def repetitionStats(docs: DataFrame,
                      tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val ts = tokenizer(col("text"))
    val tok = docs.select(col("doc_id"), explode(ts).as("token"))
    val perTok = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val tokStats = perTok.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_unique"),
      max(col("cnt")).as("top_count"),
      // mass of token TYPES that repeat (the Gopher duplicate-n-gram
      // numerator at n=1): tokens belonging to a type with count > 1
      sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).as("dup_mass"))
    // bigrams: adjacent-pair join of the token array; only uniqueness is
    // needed so the distinct count stays narrow per row (array_distinct,
    // codegen'd — no second shuffle)
    val grams = zip_with(
      slice(ts, lit(1), greatest(size(ts) - lit(1), lit(0))),
      slice(ts, lit(2), greatest(size(ts) - lit(1), lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val gramStats = docs.select(
      col("doc_id"),
      size(grams).as("n_bigrams"),
      size(array_distinct(grams)).as("n_unique_bigrams"))
    tokStats.join(gramStats, "doc_id")
      .select(
        col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("n_unique").cast("int").as("n_unique"),
        col("top_count").cast("int").as("top_count"),
        col("n_bigrams"), col("n_unique_bigrams"),
        expr("1000 * (n_tokens - n_unique) DIV n_tokens").as("dup_token_permille"),
        expr("1000 * top_count DIV n_tokens").as("top_token_permille"),
        expr("1000 * dup_mass DIV n_tokens").as("dup_mass_permille"),
        expr("CASE WHEN n_bigrams > 0 THEN 1000 * (n_bigrams - n_unique_bigrams) DIV n_bigrams ELSE 0 END")
          .cast("bigint").as("dup_bigram_permille"))
  }

  /** L4i declared query: repetition metrics over the fixture corpus. */
  def l4Repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** Gopher rule thresholds (Rae et al. 2021 §A.1.1, the canonical
    * LLM-corpus quality ruleset): word-count bounds, mean-word-length
    * band (chars, permille), minimum share of words containing a letter,
    * minimum count of DISTINCT required stopwords present, maximum
    * symbol-to-word ratio, and maximum duplicate-bigram share.
    */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanLenPermille = 3000L
  val GopherMaxMeanLenPermille = 10000L
  val GopherMinAlphaPermille = 800L
  val GopherMinStopHits = 2
  val GopherMaxSymbolPermille = 100L
  val GopherMaxDupBigramPermille = 200L

  /** The stopwords Gopher requires at least [[GopherMinStopHits]] of:
    * the canonical eight (the, be, to, of, and, that, have, with)
    * unioned with this engine's English profile ([[stopwords]]) — the
    * list is a ruleset parameter, and the union keeps the rule
    * discriminating on corpora whose function-word inventory differs
    * from newswire English (on the fixture: 0/1/2 hits split the corpus
    * 47/136/317 at sf0.01, so both rule outcomes are exercised).
    */
  val GopherRequiredStops: Seq[String] =
    (Seq("the", "be", "to", "of", "and", "that", "have", "with") ++
      stopwords("en")).distinct

  /** Gopher-style document quality filter: evaluate every named rule as
    * its own boolean column plus the conjunction `keep` — the repetition
    * rule a curation run reads to see WHY a document was dropped, not
    * just that it was. All metrics are exact integer permille (floor
    * DIV), so the rule cut points land identically on any engine.
    *
    * Scale posture: one narrow, shuffle-free projection per row — every
    * rule is an array function or regexp count over the row's own
    * tokens (the bigram-uniqueness trick of [[repetitionStats]]:
    * `array_distinct` per row, never an exploded corpus-wide pass). The
    * filter scales with the scan; 100 TB costs exactly one read.
    *
    * Per-row cost discipline (the interpreted-HOF trap, SCALING.md):
    * the default-tokenizer path computes every counter in the ONE-pass
    * native kernel [[graft.functions.GopherStats]] — tokenize, letter
    * scan, stopword probes, symbol scan, and exact bigram dedup in a
    * single text walk, zero interpreted lambda dispatch (measured 1.24
    * → 0.44 s warm at sf0.1, vs 0.84 s for the explode-and-join twin).
    * The retained declarative path ([[gopherRulesDeclarative]], custom
    * tokenizers + the spec's differential reference) documents the
    * pre-kernel discipline: token/gram arrays materialized once per
    * projection boundary, `array_intersect` over per-stopword scans,
    * codegen'd `length(concat_ws("", toks))` over interpreted folds.
    */
  def gopherRules(docs: DataFrame,
                  tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    // Default (space) tokenization rides the one-pass native kernel —
    // [[graft.functions.GopherStats]] folds tokenize + every counter into
    // a single text walk (the declarative form pays three interpreted
    // HOF lambdas per row; measured 1.24 → ~0.5 s warm at sf0.1). A
    // custom tokenizer keeps the declarative path: the kernel's split is
    // part of its contract. Equality of the two paths is pinned in
    // LlmOpsSpec on fixture + constructed edge docs.
    if (tokenizer eq spaceTokenizer) {
      val counters = docs.select(col("doc_id"),
        graft.functions.GopherStatsCol(col("text"), GopherRequiredStops).as("__g"))
        .select(col("doc_id"),
          col("__g.n_tokens").as("n_tokens"),
          col("__g.sum_tok_len").as("sum_tok_len"),
          col("__g.n_alpha").as("n_alpha"),
          col("__g.stop_hits").as("stop_hits"),
          col("__g.n_symbols").as("n_symbols"),
          col("__g.n_dup_bigrams").as("n_dup_bigrams"),
          col("__g.n_bigrams").as("n_bigrams"))
      gopherRuleColumns(counters)
    } else gopherRulesDeclarative(docs, tokenizer)
  }

  /** The declarative (pre-kernel) formulation — the non-default-tokenizer
    * path and the differential reference the spec pins [[gopherRules]]
    * against. Same narrow shuffle-free shape, but per-row cost includes
    * the interpreted `filter`/`zip_with` lambdas and the materialized
    * token + gram arrays.
    */
  private[graft] def gopherRulesDeclarative(
      docs: DataFrame,
      tokenizer: Column => Column = spaceTokenizer): DataFrame = {
    val toks = col("__toks")
    val grams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - lit(1), lit(0))),
      slice(toks, lit(2), greatest(size(toks) - lit(1), lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val counters = docs
      .select(col("doc_id"), col("text"), tokenizer(col("text")).as("__toks"))
      .select(col("doc_id"), col("text"), toks, grams.as("__grams"))
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        length(concat_ws("", toks)).as("sum_tok_len"),
        size(filter(toks, t => t.rlike("[A-Za-z]"))).as("n_alpha"),
        size(array_intersect(typedLit(GopherRequiredStops), toks)).as("stop_hits"),
        regexp_count(col("text"), lit("#|\\.\\.\\.")).as("n_symbols"),
        (size(col("__grams")) - size(array_distinct(col("__grams"))))
          .as("n_dup_bigrams"),
        greatest(size(col("__grams")), lit(1)).as("n_bigrams"))
    gopherRuleColumns(counters)
  }

  /** Shared rule arithmetic: permille metrics + per-rule booleans + the
    * `keep` conjunction over a (doc_id, counters) frame — both the native
    * kernel and the declarative path feed it, so the cut points are
    * defined exactly once.
    */
  private def gopherRuleColumns(counters: DataFrame): DataFrame = {
    def permille(num: Column): Column =
      call_function("div", num * lit(1000L), col("n_tokens").cast("long"))
    counters
      .select(col("doc_id"), col("n_tokens"),
        permille(col("sum_tok_len")).as("mean_len_permille"),
        permille(col("n_alpha").cast("long")).as("alpha_permille"),
        col("stop_hits"),
        permille(col("n_symbols").cast("long")).as("symbol_permille"),
        call_function("div", col("n_dup_bigrams").cast("long") * lit(1000L),
          col("n_bigrams").cast("long")).as("dup_bigram_permille"))
      .select(col("*"),
        col("n_tokens").between(GopherMinWords, GopherMaxWords).as("r_words"),
        col("mean_len_permille")
          .between(GopherMinMeanLenPermille, GopherMaxMeanLenPermille).as("r_mean_len"),
        (col("alpha_permille") >= GopherMinAlphaPermille).as("r_alpha"),
        (col("stop_hits") >= GopherMinStopHits).as("r_stops"),
        (col("symbol_permille") <= GopherMaxSymbolPermille).as("r_symbols"),
        (col("dup_bigram_permille") <= GopherMaxDupBigramPermille).as("r_dup_bigram"))
      .withColumn("keep",
        col("r_words") && col("r_mean_len") && col("r_alpha") &&
          col("r_stops") && col("r_symbols") && col("r_dup_bigram"))
  }

  /** L4 declared query: the Gopher ruleset over the fixture corpus. */
  def l4Gopher(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables(spark, dir).documents).orderBy(col("doc_id"))

  /** PII scrub patterns, applied in this order. ASCII character classes
    * on purpose: Java regex (Spark) and RE2 (DuckDB) match identically,
    * so the declared query's hash compare pins the redaction behavior
    * itself cross-engine. Order matters — emails before bare domains
    * would, and URLs before emails could, double-redact; URL first
    * (it can contain '@' userinfo), then email, then IPv4.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "https?://[^ ]+"                                      -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>")

  /** Redact PII-shaped spans (URLs, emails, IPv4s) from a text column —
    * the scrub step a training-data pipeline runs before anything else
    * touches the text. A chain of codegen'd `regexp_replace`s: narrow,
    * shuffle-free, scales with the scan.
    */
  def scrub(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Count of PII-shaped spans a scrub of `text` would redact. */
  def piiCount(text: Column): Column =
    PiiPatterns.map { case (pat, _) => regexp_count(text, lit(pat)) }
      .reduce(_ + _)

  /** L4h: HTML boilerplate strip — the REAL stage 0 of a crawl
    * pipeline, run before any tokenizer sees the text. The whole
    * kernel is [[graft.functions.HtmlStrip]] (library-free one-pass
    * walker: script/style removal with content, comment removal, CDATA
    * kept verbatim, quote-aware tag drop, named + numeric entity
    * decode, block-tag paragraph boundaries, token-count +
    * text-density paragraph filter); this operator is the frame
    * surface: one codegen'd projection over the scan, shuffle-free,
    * scales with the corpus like every other per-doc L4 stage.
    *
    * Input (doc_id, html); output (doc_id, n_paras, n_kept,
    * text_clean) — text_clean is kept paragraphs whitespace-normalized
    * and '\n'-joined, ready for [[spaceTokenizer]]-family consumers
    * (modulo the '\n' separators, which `split(' ')` callers should
    * treat via a whitespace split or a per-paragraph explode).
    */
  def htmlStrip(docs: DataFrame, minTokens: Int = 2,
                minDensityPermille: Int = 0): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.HtmlStrip.colOf(col("html"), minTokens,
        minDensityPermille).as("s"))
      .select(col("doc_id"), col("s.n_paras").as("n_paras"),
        col("s.n_kept").as("n_kept"), col("s.text_clean").as("text_clean"))

  /** L4h declared query: strip deterministic synthesized HTML built
    * around the fixture text (tags, attributes, a script element with a
    * stray `<`, a comment, named + numeric entities, CDATA, one-token
    * boilerplate paragraphs the min-token filter must drop). The oracle
    * replays the expected TRANSFORMATION — what the clean text must be,
    * built from the same token halves — so any walker defect (entity
    * arithmetic, paragraph boundaries, script skipping, filter
    * decisions) surfaces as a hash mismatch.
    */
  def l4HtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .withColumn("t", split(col("text"), " "))
      .withColumn("half", expr("(size(t) + 1) DIV 2"))
      .withColumn("fh", array_join(expr("slice(t, 1, half)"), " "))
      .withColumn("sh", array_join(expr("slice(t, half + 1, size(t) - half)"), " "))
      .select(col("doc_id"), concat(
        lit("<html><head><title>T</title><script>var x = 1 < 2;</script>" +
          "<style>p { color: red }</style></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><p class=\"main\">"), col("fh"),
        lit("</p><!-- hidden "), col("doc_id"),
        lit(" --><div>"), col("sh"),
        lit(" &amp; &lt;b&gt; &#65;&#x42; ok</div>" +
          "<ul><li>x</li><li>tail words</li></ul><![CDATA[raw "),
        col("doc_id"),
        lit("]]></body></html>")).as("html"))
    htmlStrip(docs, minTokens = 2).orderBy(col("doc_id"))
  }

  /** v2 candidate patterns: a 16-digit payment-card-shaped run (the
    * dominant real-world card length; redaction additionally requires
    * [[luhnOk16]] — a 16-digit number that fails the check digit is NOT
    * a card and must survive) and an E.164 phone (+, then 8–15 digits
    * total, no leading zero — ITU-T E.164's own shape). ASCII classes
    * and `\b` for the same Java-regex/RE2 agreement as [[PiiPatterns]].
    */
  val CcCandidatePattern = "\\b[0-9]{16}\\b"
  val PhonePattern = "\\+[1-9][0-9]{7,14}"

  /** Luhn checksum validity of a 16-digit candidate, as a pure
    * codegen'd digit fold (`aggregate` over position 1–16; odd 1-based
    * positions double-with-casting-out-nines, the check digit at 16
    * stays plain) — no UDF, so card validation rides whole-stage
    * codegen with the rest of the scrub chain and the DuckDB oracle
    * replays the identical integer arithmetic.
    */
  def luhnOk16(card: Column): Column = {
    val total = aggregate(sequence(lit(1), lit(16)), lit(0), (acc, i) => {
      val d = ascii(card.substr(i, lit(1))) - lit(48)
      val dd = d * lit(2)
      acc + when(pmod(i, lit(2)) === 1,
        when(dd > 9, dd - 9).otherwise(dd)).otherwise(d)
    })
    pmod(total, lit(10)) === 0
  }

  /** L10b: staged PII scrub with per-type counts — the v2 hardening of
    * [[scrub]]. Stages run in a fixed documented order, each counting
    * on the PREVIOUS stage's output (so a count is exactly "spans this
    * stage redacted"): URL → email → IPv4 → E.164 phone → Luhn-valid
    * 16-digit card. Phones run BEFORE cards so `+` followed by 16
    * digits reads as E.164 (15-digit max) rather than a card with a
    * stray sign — the inherent ambiguity is resolved by order, and
    * pinned by the spec. Cards are the one non-regex stage: candidates
    * from `regexp_extract_all`, validated by the [[luhnOk16]] fold,
    * then each VALID candidate replaced via an `aggregate` fold of
    * `replace` — all codegen'd expressions, no UDF, one projection
    * over the scan (shuffle-free, scales with the corpus).
    *
    * Output: (doc_id, n_url, n_email, n_ip, n_phone, n_cc, scrubbed).
    */
  def piiScrubV2(docs: DataFrame): DataFrame = {
    val Seq((urlP, urlR), (emP, emR), (ipP, ipR)) = PiiPatterns
    // parallelism floor (Engine.parallelFloor): ten regex passes per
    // document, all in the scan stage — one task on the fixture's
    // single row group without it; no-op on an already-parallel scan
    graft.Engine.parallelFloor(docs)
      .withColumn("n_url", regexp_count(col("text"), lit(urlP)).cast("long"))
      .withColumn("t1", regexp_replace(col("text"), urlP, urlR))
      .withColumn("n_email", regexp_count(col("t1"), lit(emP)).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), emP, emR))
      .withColumn("n_ip", regexp_count(col("t2"), lit(ipP)).cast("long"))
      .withColumn("t3", regexp_replace(col("t2"), ipP, ipR))
      .withColumn("n_phone",
        regexp_count(col("t3"), lit(PhonePattern)).cast("long"))
      .withColumn("t4", regexp_replace(col("t3"), PhonePattern, "<PHONE>"))
      .withColumn("cards",
        filter(regexp_extract_all(col("t4"), lit(CcCandidatePattern), lit(0)),
          luhnOk16 _))
      .select(col("doc_id"), col("n_url"), col("n_email"), col("n_ip"),
        col("n_phone"), size(col("cards")).cast("long").as("n_cc"),
        aggregate(col("cards"), col("t4"),
          (acc, c) => replace(acc, c, lit("<CC>"))).as("scrubbed"))
  }

  /** L10b declared query: [[piiScrubV2]] over a corpus with synthesized
    * card/phone/email PII. Per doc the appended line carries an email,
    * an E.164 phone, a LUHN-VALID 16-digit card (check digit computed
    * in-plan by the same fold the validator runs — the oracle replays
    * the derivation), and the SAME card with the check digit
    * incremented — which must survive unredacted: redacting it would
    * be a false positive the hash compare catches.
    */
  def l10PiiV2(spark: SparkSession, dir: String): DataFrame = {
    // base15 = '4' + zero-padded doc-derived 14 digits; check digit
    // from the Luhn sum over positions 1–15 (all doubled positions are
    // odd, the eventual check digit at 16 is even/plain)
    val base15 = concat(lit("4"),
      lpad(pmod(col("doc_id"), lit(100000000L)).cast("string"), 14, "0"))
    val lsum = aggregate(sequence(lit(1), lit(15)), lit(0), (acc, i) => {
      val d = ascii(col("b15").substr(i, lit(1))) - lit(48)
      val dd = d * lit(2)
      acc + when(pmod(i, lit(2)) === 1,
        when(dd > 9, dd - 9).otherwise(dd)).otherwise(d)
    })
    val withPii = Tables(spark, dir).documents
      .withColumn("b15", base15)
      .withColumn("chk", pmod(lit(10) - pmod(lsum, lit(10)), lit(10)))
      .withColumn("valid_cc", concat(col("b15"), col("chk").cast("string")))
      .withColumn("bad_cc",
        concat(col("b15"), pmod(col("chk") + 1, lit(10)).cast("string")))
      .select(col("doc_id"), concat(
        col("text"),
        lit(" reach user"), col("doc_id"), lit("@mail.example or +1"),
        lpad(pmod(col("doc_id"), lit(1000000000L)).cast("string"), 9, "0"),
        lit(" card "), col("valid_cc"), lit(" not "), col("bad_cc")).as("text"))
    piiScrubV2(withPii).orderBy(col("doc_id"))
  }

  /** L10 declared query: scrub a corpus that genuinely contains PII. The
    * fixture word soup has none, so the query first appends a
    * deterministic doc-derived contact line (same derivation replayed in
    * the oracle) — the hash compare then pins that both engines redact
    * the same spans the same way, not just that clean text passes
    * through.
    */
  def l10PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables(spark, dir).documents.select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or http://host"),
        col("doc_id"), lit(".example/x via 10.0."), pmod(col("doc_id"), lit(256L)),
        lit(".7")).as("text"))
    withPii.select(
      col("doc_id"),
      piiCount(col("text")).cast("bigint").as("n_pii"),
      md5(col("text")).as("raw_md5"),
      scrub(col("text")).as("scrubbed"))
      .orderBy(col("doc_id"))
  }
}
