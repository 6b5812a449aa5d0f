package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus vocabulary statistics — term and document frequencies, and
  * per-document distinctive terms. The building blocks behind tokenizer
  * training, stopword derivation, and tf-idf-style feature selection in
  * a training-data pipeline.
  *
  * Scale shape: tokens explode map-side and immediately partial-
  * aggregate, so the shuffle carries (token, partial counts) — bounded
  * by vocabulary size per partition, NOT corpus size. Document text
  * never shuffles. Per-doc term ranking windows partition by doc id.
  */
object Vocab {

  /** Per-document exact BPE token counts via the vocabulary cache: the
    * 100 TB plan for frozen-tokenizer encoding (p70 is the direct
    * per-row kernel; identical results, PlanSpec-pinned plans).
    *
    * A natural corpus is Zipfian — word TYPES ≪ word occurrences — and
    * a production merge table is ~50k rules, so encoding cost per word
    * is the workload. Encode each distinct word ONCE (the type table is
    * vocabulary-sized), broadcast the (word → token count) map back
    * onto the token stream, and partial-aggregate per document: the
    * corpus is scanned once, the only corpus-sized shuffle carries
    * (doc, count-sum) partials, and the encode kernel runs |vocab|
    * times instead of |corpus-words| times.
    *
    * @return (doc, n_words, n_chars, bpe_tokens) — one row per doc
    */
  def bpeTokensCached(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // fused tokenize+count kernel (r16): the token stream is the
    // distinct-types-per-doc table weighted by n — every downstream sum
    // distributes over n, so results are identical with far fewer rows
    // ever exploded or joined (and no String.split decode per doc).
    val toks = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .select(col("doc"), col("tc.token").as("word"), col("tc.n").as("n"))
    val types = toks.select("word").distinct()
      .select(col("word"),
        graft.functions.Text.bpeCount(array(col("word"))).as("n_tok"),
        length(col("word")).cast("long").as("n_ch"))
    toks.join(broadcast(types), "word")
      .groupBy("doc")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_ch")).as("n_chars"),
        sum(col("n") * col("n_tok")).as("bpe_tokens"))
  }

  /** Corpus-wide (token, tf, df): total occurrences and number of
    * distinct documents containing the token.
    *
    * Fused kernel (r16): tokenCounts emits one (token, n) per distinct
    * token per doc, so tf = sum(n) and — because (doc, token) rows are
    * already unique — df = count(*). The countDistinct two-phase
    * aggregation (an extra exchange keyed (token, doc) over the full
    * OCCURRENCE stream) disappears; one vocab-sized shuffle remains.
    *
    * PRECONDITION: one input row per document. df counts (row, token)
    * pairs, so a document split over several rows (after a union or a
    * re-chunking) counts once per row. `idCol` is unused: it stays for
    * signature parity with the other Vocab operators. */
  def termStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.widen(docs.select(col(textCol)))
      .select(
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .groupBy(col("tc.token").as("token"))
      .agg(sum(col("tc.n")).as("tf"),
        count(lit(1)).as("df"))

  /** Top-k corpus vocabulary by total frequency (ties broken by token
    * text for determinism). */
  def topVocab(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    termStats(docs, idCol, textCol)
      .orderBy(col("tf").desc, col("token"))
      .limit(k)

  /** Per-document mean unigram log-probability — the cheap perplexity
    * proxy used to quality-filter web corpora (low mean log-prob under
    * the corpus's own unigram LM = token soup / boilerplate / wrong
    * language; the poor man's KenLM score).
    *
    * Model: add-one-smoothed corpus unigram LM, p(t) = (tf+1)/(N+V).
    * Determinism: each token's log-prob is quantized to integer
    * micro-nats (floor(ln p * 1e6)) BEFORE the per-doc sum — integer
    * sums are order-free, so scores are bit-identical across
    * partitionings, engines, and re-runs; the mean is one final double
    * division. (A raw double sum would depend on reduction order.)
    *
    * SCALE: the LM is vocabulary-sized (≪ corpus) and broadcast onto
    * the exploded token stream, which partial-aggregates back to one
    * row per doc — the only shuffle carries (doc, count, sum) triples,
    * never text. */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // fused tokenize+count kernel (r16): both the LM build and the
    // per-doc scoring consume the distinct-(doc, token, n) stream —
    // tf = sum(n), per-doc count(*) = sum(n), per-doc sum(lpq over
    // occurrences) = sum(n * lpq). Same integer micro-nat results.
    val toks = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .select(col("doc"), col("tc.token").as("token"), col("tc.n").as("n"))
    val vocab = toks.groupBy("token").agg(sum(col("n")).as("tf"))
    val totals = vocab.agg(sum(col("tf")).as("n"), count(lit(1)).as("vsz"))
    val lm = vocab.crossJoin(broadcast(totals))
      .select(col("token"),
        floor(log((col("tf").cast("double") + lit(1.0d)) /
          (col("n").cast("double") + col("vsz").cast("double"))) * lit(1e6))
          .cast("long").as("lpq"))
    toks.join(broadcast(lm), "token")
      .groupBy(col("doc"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("lpq")).as("lp_sum"))
      .select(col("doc").as(idCol), col("n_tokens"), col("lp_sum"),
        (col("lp_sum").cast("double") / lit(1e6) /
          col("n_tokens").cast("double")).as("mean_logprob"))
  }

  /** Per-document mean bigram surprisal — the conditional-LM upgrade of
    * [[unigramLogProb]]: -ln P(w_i | w_{i-1}) averaged over a doc's
    * bigrams, with add-one smoothing over the corpus's own bigram
    * table. High surprisal = improbable word TRANSITIONS (shuffled or
    * machine-mangled text scores high even when its unigrams look
    * normal). Same determinism scheme: per-bigram log-probs quantized
    * to integer micro-nats before the order-free per-doc sum.
    *
    * SCALE: the bigram LM is at most vocab² rows (in practice far
    * sparser) and broadcasts; the doc-side bigram stream partial-aggs
    * to one row per doc. */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Single-pass bigram generator (r16): emits (prev, cur) occurrence
    // structs directly from the byte scan — no token-array
    // materialization, no sequence() explode, no element_at pair. The
    // prev-margin is DERIVED from the bigram table (np = Σ_cur nb, one
    // vocab²-bounded rollup reusing cBig's exchange) instead of a third
    // corpus pass, and vsz consumes the distinct-types stream. Corpus
    // passes: 4 → 3 (cBig, final scoring, vsz).
    val wide = Par.widen(docs.select(col(idCol), col(textCol)))
    val bg = wide
      .select(col(idCol).as("doc"),
        explode(graft.functions.Tok.bigramsCol(col(textCol))).as("p"))
      .select(col("doc"), col("p.a").as("prev"), col("p.b").as("cur"))
    val cBig = bg.groupBy("prev", "cur").agg(count(lit(1)).as("nb"))
    val cPrev = cBig.groupBy("prev").agg(sum(col("nb")).as("np"))
    val vsz = wide.select(
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .agg(countDistinct(col("tc.token")).as("vsz"))
    val lm = cBig.join(broadcast(cPrev), "prev").crossJoin(broadcast(vsz))
      .select(col("prev"), col("cur"),
        floor(log((col("nb").cast("double") + lit(1.0d)) /
          (col("np").cast("double") + col("vsz").cast("double"))) * lit(1e6))
          .cast("long").as("lpq"))
    bg.join(broadcast(lm), Seq("prev", "cur"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpq")).as("lp_sum"))
      .select(col("doc").as(idCol), col("n_bigrams"),
        (-col("lp_sum").cast("double") / lit(1e6) /
          col("n_bigrams").cast("double")).as("mean_surprisal"))
  }

  /** Vocabulary-growth curve (Heaps' law view): for each doc in id
    * order, the number of NEVER-SEEN-BEFORE tokens it introduces and
    * the cumulative vocabulary size up to it. Distributes cleanly even
    * though the curve looks sequential: first occurrence = min(doc) per
    * token (one agg), then a prefix sum over the per-doc counts — the
    * running window here ranks |docs| rows, not tokens; at extreme doc
    * counts swap it for Packing's two-phase distributed prefix sum. */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val first = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .groupBy(col("tc.token").as("token")).agg(min(col("doc")).as("first_doc"))
    val perDoc = first.groupBy("first_doc")
      .agg(count(lit(1)).as("new_tokens"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"),
        coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
      .withColumn("vocab_size", sum(col("new_tokens")).over(w))
  }

  /** Pointwise mutual information of token pairs by document-level
    * co-occurrence: PMI(a,b) = ln(c(a,b)·N / (c(a)·c(b))) over distinct
    * per-doc token sets — the collocation/phrase-mining statistic.
    * Quantized to integer micro-nats for engine-exact ranking.
    *
    * SCALE: the pair join is per-doc quadratic in DISTINCT tokens —
    * bounded here by capping each doc to its `maxTokens` first distinct
    * tokens (standard practice: PMI over full 100k-token docs is
    * meaningless anyway); margins and totals are vocab-sized
    * broadcasts. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 64, minPairCount: Long = 5L): DataFrame = {
    // r16: the "first maxTokens distinct tokens in token order" cap was
    // a row_number window — a full (doc)-keyed exchange + sort of the
    // exploded distinct-token stream — and the pair generation a
    // doc-keyed self-join (second exchange over the same stream). The
    // sorted-distinct-capped set is a per-ROW property, so the codegen'd
    // kernel computes it in the projection, and ordered pairs of a
    // sorted distinct array ARE the (tok_a < tok_b) self-join output —
    // zero doc-keyed exchanges remain; only the vocab-sized margin and
    // pair aggregates shuffle.
    val capped = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        graft.functions.Tok.sortedDistinctTokensCol(col(textCol), maxTokens)
          .as("ts"))
    val docTok = capped.select(col("doc"), explode(col("ts")).as("token"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val margin = docTok.groupBy("token").agg(count(lit(1)).as("m"))
    val pairs = capped
      .select(explode(graft.functions.Tok.orderedPairsCol(col("ts"))).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minPairCount)
    pairs
      .join(broadcast(margin.select(col("token").as("tok_a"),
        col("m").as("ca"))), "tok_a")
      .join(broadcast(margin.select(col("token").as("tok_b"),
        col("m").as("cb"))), "tok_b")
      .crossJoin(broadcast(n))
      .select(col("tok_a"), col("tok_b"), col("cab"),
        floor(log((col("cab").cast("double") * col("n_docs").cast("double")) /
          (col("ca").cast("double") * col("cb").cast("double"))) * lit(1e6))
          .cast("long").as("pmi_q"))
  }

  /** BPE first-iteration statistics: corpus-wide adjacent character-pair
    * frequencies, weighted by word frequency — the exact counts the
    * first merge step of byte-pair-encoding tokenizer training ranks.
    * (Later BPE iterations re-run this over the merged symbol stream;
    * one iteration is the representative distributed kernel.)
    *
    * SCALE: pairs are exploded from the DISTINCT-token table (vocabulary
    * ≪ corpus) and weighted by tf, so corpus text is scanned once,
    * partial-aggregated to the vocab map-side, and only (token, tf) and
    * then (pair, partial sum) ever shuffle. Exploding pairs from raw
    * text would shuffle every character of the corpus. */
  def bpePairCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    termStats(docs, idCol, textCol)
      .where(length(col("token")) >= 2)
      .select(col("token"), col("tf"),
        explode(sequence(lit(1), length(col("token")) - 1)).as("i"))
      .select(col("tf"), col("token").substr(col("i"), lit(2)).as("pair"))
      .groupBy("pair")
      .agg(sum(col("tf")).as("n"))

  /** Per-document top-k terms by true tf-idf weight — the keyword-
    * extraction / doc-representation statistic (complements
    * [[topTermsPerDoc]], which ranks by (tf, df) lexicographically
    * without a weighting function). idf = ln(N/df), quantized to
    * integer micro-nats BEFORE the tf multiplication so the score is
    * an exact integer — ranking ties and cross-engine comparisons are
    * bit-deterministic, never at the mercy of float summation order.
    *
    * SCALE: identical shape to [[topTermsPerDoc]] — the df table and
    * the one-row corpus count are vocabulary-sized broadcasts onto the
    * per-doc term counts; the ranking window partitions by document.
    *
    * PRECONDITION: one input row per document (`idCol` unique), as in
    * [[termStats]]: tf and df are counted per row, not per distinct id.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // r16 fused kernel: tokenCounts IS the per-doc (doc, token, tf)
    // table — docs are unique rows, so no (doc, token) aggregation (and
    // its corpus-pairs exchange) is needed at all; df over the unique
    // pairs is count(*), so the countDistinct two-phase agg (two more
    // exchanges) collapses to one vocab-sized shuffle.
    val perDoc = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .select(col("doc"), col("tc.token").as("token"), col("tc.n").as("tf"))
    val dfTab = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy("doc")
      .orderBy(col("tfidf_q").desc, col("token"))
    perDoc.join(broadcast(dfTab), "token").crossJoin(broadcast(nDocs))
      .select(col("doc"), col("token"), col("tf"), col("df"),
        (col("tf") * floor(log(col("n_docs").cast("double") /
          col("df").cast("double")) * lit(1e6)).cast("long"))
          .as("tfidf_q"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc"), col("rk"), col("token"), col("tf"), col("df"),
        col("tfidf_q"))
  }

  /** Per-document top-k distinctive terms: rank by within-doc frequency
    * descending, then corpus document-frequency ascending (rarer-in-
    * corpus wins the tie — the rank-based analog of tf-idf without
    * float logarithms), then token text.
    *
    * The corpus df table is vocabulary-sized (≪ corpus), so Catalyst
    * broadcast-joins it back onto the per-doc term counts; the ranking
    * window partitions by document.
    *
    * PRECONDITION: one input row per document (`idCol` unique), as in
    * [[termStats]]: tf and df are counted per row, not per distinct id. */
  def topTermsPerDoc(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // r16 fused kernel — same restructure as [[tfidfTopTerms]]: the
    // generator output IS the per-doc tf table (no corpus-pairs
    // exchange), and df = count(*) over the unique (doc, token) stream
    // (no countDistinct double-agg, no second occurrence-stream pass).
    val perDoc = Par.widen(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .select(col("doc"), col("tc.token").as("token"), col("tc.n").as("tf"))
    val df = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc")
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    perDoc.join(broadcast(df), "token")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc"), col("rank"), col("token"), col("tf"), col("df"))
  }

  /** Iterative BPE tokenizer training over word TYPES: `rounds` greedy
    * merge rounds, each picking the most frequent adjacent symbol pair
    * (ties: lexicographic) and merging it left-to-right non-overlapping
    * in every word — the actual merge-table construction, where
    * [[bpePairCounts]] is only round zero's statistics.
    *
    * SCALE: the loop state is the word-TYPE table (vocabulary-sized,
    * ≪ corpus — the corpus is touched once by termStats); each round is
    * one vocabulary-sized aggregation plus a driver round-trip of
    * exactly ONE row (the argmax pair — bounded metadata, the IVF-pivot
    * pattern), and `localCheckpoint` truncates the growing lineage.
    * The fold-based merge is a higher-order `aggregate` (non-codegen),
    * acceptable off the corpus hot path. Inherently sequential rounds
    * are the algorithm, not the plan: no SQL oracle exists, so p62 is a
    * rows-only driver check backed by a hand-computed reference spec.
    *
    * @return one row per round: (round, a, b, n) — merge `a`+`b` with
    *         weighted pair count `n` at that round
    */
  def bpeTrain(
      docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = termStats(docs, idCol, textCol)
      .select(expr(
        "transform(sequence(1, length(token)), i -> substring(token, i, 1))")
        .as("sym"), col("tf"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = words
        .where(size(col("sym")) >= 2)
        .select(col("tf"), explode(expr(
          "transform(sequence(1, size(sym) - 1), " +
            "i -> struct(element_at(sym, i) AS a, element_at(sym, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("tf").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, n))
        val merged = lit(a + b)
        // greedy left-to-right fold: append, or replace the tail symbol
        // when (tail, next) is exactly the chosen pair
        words = words.withColumn("sym",
          aggregate(col("sym"),
            lit(Array.empty[String]),
            (acc, s) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
              .otherwise(concat(acc, array(s)))))
          .localCheckpoint()
        r += 1
      }
    }
    merges.toSeq.toDF("round", "a", "b", "n")
  }

  /** Term-distribution drift between two corpus snapshots: the top-k
    * tokens by absolute per-token KL contribution
    * `p_a(t) * ln(p_a(t)/p_b(t))` — the monitor a recurring crawl
    * ingestion runs to catch topic/spam shifts before mixing a new
    * snapshot into training data. Tokens must appear in BOTH snapshots
    * (the crawl-delta tokens are p38/p43's job); contributions are
    * micro-nat-quantized (floor at 1e-9 nat) so ranking and values are
    * exact across engines.
    *
    * SCALE: tokens partial-aggregate into ONE (token, n_a, n_b) table
    * (vocabulary-sized, one shuffle); totals are a one-row broadcast;
    * top-k is TakeOrdered. Text never shuffles.
    *
    * @param splitA boolean column over `df` assigning rows to snapshot A
    */
  def termDrift(
      docs: DataFrame, idCol: String, textCol: String,
      splitA: org.apache.spark.sql.Column, k: Int = 20): DataFrame = {
    // widen the FULL frame: splitA is caller-supplied and may reference
    // any column of `docs`, so no projection can precede it
    val counts = Par.widen(docs)
      .select(splitA.as("__a"),
        explode(graft.functions.Tok.tokenCountsCol(col(textCol))).as("tc"))
      .groupBy(col("tc.token").as("tok"))
      .agg(sum(when(col("__a"), col("tc.n")).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), col("tc.n")).otherwise(0L)).as("n_b"))
    val totals = counts.agg(
      sum("n_a").cast("long").as("__ta"), sum("n_b").cast("long").as("__tb"))
    counts.crossJoin(broadcast(totals))
      .where(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("drift_q",
        floor((col("n_a").cast("double") / col("__ta").cast("double")) *
          log((col("n_a").cast("double") * col("__tb").cast("double")) /
            (col("n_b").cast("double") * col("__ta").cast("double"))) *
          lit(1e9)).cast("long"))
      .select(col("tok"), col("n_a"), col("n_b"), col("drift_q"))
      .orderBy(abs(col("drift_q")).desc, col("tok"))
      .limit(k)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed n-gram features are
    * under a TARGET distribution (the data you want more of — here the
    * rows matching `targetPred`) than under the raw pool, then keep the
    * top-weighted docs. The workhorse for steering a 100 TB crawl
    * toward a high-quality reference corpus without training a model.
    *
    * Features: unigrams hashed into `nBuckets` buckets (md5-based, so
    * the DuckDB oracle replays every bucket assignment). Both bucket
    * distributions get add-one smoothing; each bucket's log-ratio
    * ln p_target(b) − ln p_raw(b) is quantized to integer micro-nats
    * BEFORE the per-doc sum, so weights are order-free and engine-exact
    * (same determinism scheme as [[unigramLogProb]]).
    *
    * Selection: deterministic top-`topN` by (weight desc, id) — the
    * argmax variant of the paper's Gumbel resampling
    * ([[dsirResample]] is the sampling variant, with seeded-hash
    * Gumbel noise instead of per-row randomness).
    *
    * SCALE: the bucket LM is `nBuckets` rows — broadcast, never
    * shuffled; the token stream partial-aggregates to one (doc, count,
    * sum) row; selection is TakeOrdered(topN), not a global sort; the
    * membership flag joins a broadcast topN-row set. Text never
    * shuffles.
    *
    * @return (doc, n_tokens, w_sum, selected) — one row per doc
    */
  def dsirWeights(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column,
      nBuckets: Int = 64, topN: Int = 100,
      hugeVocab: Boolean = false): DataFrame = {
    val scored = dsirScored(docs, idCol, textCol, targetPred, nBuckets,
      hugeVocab)
    val sel = scored.orderBy(col("w_sum").desc, col("doc")).limit(topN)
      .select(col("doc"), lit(true).as("selected"))
    scored.join(broadcast(sel), Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_tokens"), col("w_sum"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** Shared DSIR scoring stage: (doc, n_tokens, w_sum) per document,
    * w_sum = integer micro-nat sum of per-bucket log-ratios.
    *
    * The bucket hash runs over distinct token TYPES, not occurrences
    * (a natural corpus is Zipfian — types ≪ occurrences), and the
    * type→bucket map broadcasts back onto the token stream: measured
    * 2.1x on the full entry at sf1, where per-occurrence md5 was the
    * single hottest stage of the whole catalog. */
  private def dsirScored(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column, nBuckets: Int,
      hugeVocab: Boolean = false): DataFrame =
    scoreFeatures(
      dsirFeatures(docs, idCol, textCol, targetPred, nBuckets, hugeVocab),
      nBuckets)

  /** The per-doc hashed-unigram FEATURE TABLE — [[dsirScored]]'s token
    * stream collapsed to one (doc, is_t, b, n) row per doc per touched
    * bucket: ≤ `nBuckets` rows per document REGARDLESS of its length.
    * This is the artifact a standing corpus persists at ingest (the
    * p88b standing-index precedent): every later selection run scores
    * the compact table instead of re-paying tokenize+md5 over the raw
    * text — at sf10 that re-scan dominated p87's 36.4 s isolated wall.
    * Changing the TARGET (a different `targetPred`) only flips the
    * per-doc boolean, so one persisted table with a handful of flag
    * columns serves every target distribution of interest. */
  def dsirFeatures(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column, nBuckets: Int = 64,
      hugeVocab: Boolean = false): DataFrame = {
    // NOT widened here: the streaming feature sink (j43) runs this on
    // micro-batch frames where a round-robin repartition is pure
    // overhead — the BATCH entries (p87/p87b) widen their input at the
    // call site instead (single-split parquet text, see Par.widen).
    val raw = docs.select(col(idCol).as("doc"), targetPred.as("is_t"),
      explode(TextOps.tokens(col(textCol))).as("token"))
    val tb = raw.select("token").distinct()
      .withColumn("b",
        conv(substring(md5(concat(lit("dsir:"), col("token"))), 1, 8),
          16, 10).cast("long") % nBuckets)
    // the broadcast hint is right for any vocabulary that fits an
    // executor (measured 35% faster than letting AQE convert at sf1);
    // a dirty web-scale type table (urls, ids, typos) can exceed the
    // 8 GB broadcast hard limit, so `hugeVocab` switches to a plain
    // (token)-keyed shuffle join — the same exchange any per-token
    // groupBy pays — instead of dying on the forced broadcast.
    raw.join(if (hugeVocab) tb else broadcast(tb), "token")
      .groupBy("doc", "is_t", "b")
      .agg(count(lit(1)).as("n"))
  }

  /** Score a [[dsirFeatures]] table: (doc, n_tokens, w_sum), identical
    * to [[dsirScored]] on the original text (w_sum distributes over the
    * per-bucket counts: Σ_occurrences lw(b) = Σ_b n·lw(b)). */
  private def scoreFeatures(features: DataFrame, nBuckets: Int): DataFrame = {
    val cnt = features.groupBy("b").agg(
      sum(when(col("is_t"), col("n")).otherwise(0L)).as("ct"),
      sum(col("n")).as("cr"))
    val tot = cnt.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val lw = cnt.crossJoin(broadcast(tot)).select(col("b"),
      (floor(log((col("ct").cast("double") + lit(1.0d)) /
          (col("tt").cast("double") + lit(nBuckets.toDouble))) * lit(1e6))
        .cast("long") -
       floor(log((col("cr").cast("double") + lit(1.0d)) /
          (col("tr").cast("double") + lit(nBuckets.toDouble))) * lit(1e6))
        .cast("long")).as("lw"))
    features.join(broadcast(lw), "b")
      .groupBy("doc")
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("lw")).as("w_sum"))
  }

  /** [[dsirWeights]] over a PERSISTED feature table — the standing-
    * corpus path: the raw text is never re-read. Same output schema and
    * bytes as [[dsirWeights]] on the source documents. */
  def dsirWeightsFromFeatures(
      features: DataFrame, idCol: String, nBuckets: Int = 64,
      topN: Int = 100): DataFrame = {
    val scored = scoreFeatures(features, nBuckets)
    val sel = scored.orderBy(col("w_sum").desc, col("doc")).limit(topN)
      .select(col("doc"), lit(true).as("selected"))
    scored.join(broadcast(sel), Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_tokens"), col("w_sum"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** [[dsirResample]] over a persisted feature table — the Gumbel
    * draw's randomness is a seeded hash of the doc id, so the sampled
    * selection reproduces exactly from the compact table too. This is
    * the production repeat path: the paper's selection rule is the
    * RESAMPLE, and re-draws (new seed, new quota, new target flag) are
    * the operations a standing corpus runs again and again. */
  def dsirResampleFromFeatures(
      features: DataFrame, idCol: String, nBuckets: Int = 64,
      topN: Int = 100, seed: String = "g1"): DataFrame = {
    val scored = scoreFeatures(features, nBuckets)
      .withColumn("__u",
        (conv(substring(md5(concat(lit(s"gmb:$seed:"), col("doc"))), 1, 13),
          16, 10).cast("double") + lit(0.5d)) / lit(4503599627370496.0d))
      .withColumn("gumbel_q",
        floor(-log(-log(col("__u"))) * lit(1e6)).cast("long"))
      .withColumn("__key", col("w_sum") + col("gumbel_q"))
    val sel = scored.orderBy(col("__key").desc, col("doc")).limit(topN)
      .select(col("doc"), lit(true).as("selected"))
    scored.join(broadcast(sel), Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_tokens"), col("w_sum"),
        col("gumbel_q"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** DSIR importance RESAMPLING — the paper's actual selection rule:
    * sample `topN` docs without replacement from softmax(importance
    * weights) via the Gumbel-top-k trick, keeping the top `topN` by
    * w + g where g is Gumbel(0,1) noise. Randomness is a seeded hash,
    * not an RNG: u = (h + 0.5) / 2^52 from 13 md5 hex digits of the
    * doc id (never 0 or 1, exactly representable), g = −ln(−ln u),
    * quantized to integer micro-nats to match w_sum's scale — so the
    * draw is reproducible across engines, partitionings and reruns,
    * and the DuckDB oracle replays every selected id. Versus
    * [[dsirWeights]]' argmax, the noise trades a sliver of average
    * weight for diversity — argmax fills the quota with near-identical
    * top-scoring boilerplate, the sampled draw doesn't (the paper's
    * stated reason for resampling over filtering).
    *
    * SCALE: identical shape to [[dsirWeights]] — the only additions
    * are a per-row hash (map-side) and the same TakeOrdered(topN).
    *
    * @return (doc, n_tokens, w_sum, gumbel_q, selected)
    */
  def dsirResample(
      docs: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column,
      nBuckets: Int = 64, topN: Int = 100, seed: String = "g1",
      hugeVocab: Boolean = false): DataFrame = {
    val scored = dsirScored(docs, idCol, textCol, targetPred, nBuckets,
      hugeVocab)
      .withColumn("__u",
        (conv(substring(md5(concat(lit(s"gmb:$seed:"), col("doc"))), 1, 13),
          16, 10).cast("double") + lit(0.5d)) / lit(4503599627370496.0d))
      .withColumn("gumbel_q",
        floor(-log(-log(col("__u"))) * lit(1e6)).cast("long"))
      .withColumn("__key", col("w_sum") + col("gumbel_q"))
    val sel = scored.orderBy(col("__key").desc, col("doc")).limit(topN)
      .select(col("doc"), lit(true).as("selected"))
    scored.join(broadcast(sel), Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_tokens"), col("w_sum"),
        col("gumbel_q"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** BM25 top-k retrieval (Robertson/Zaragoza, k1=1.2 b=0.75): rank
    * documents for a batch of keyword queries — the workhorse behind
    * decontamination lookups, targeted data selection, and eval-set
    * retrieval over a training corpus.
    *
    * Determinism: idf = ln((N-df+0.5)/(df+0.5)+1) is quantized to
    * integer micro-nats; the tf saturation term
    * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) is evaluated as an exact
    * integer ratio — numerator and denominator are multiplied through
    * by 10*avgdl_q (avgdl in milli-tokens) so k1/b's decimal digits
    * and the length ratio clear without floats — then floor-divided at
    * 1e3 scale. Scores are exact integer sums; ranking ties and
    * cross-engine hashes are bit-deterministic.
    *
    * SCALE (inverted-index shape): the distinct query-term set is
    * broadcast and prunes the token stream MAP-SIDE, so only postings
    * of query terms are ever aggregated; dl rides the exploded stream
    * (max over the group), costing no second corpus scan; df and the
    * corpus stats are query-term-sized / one-row broadcasts; ranking
    * is the bounded [[graft.functions.TopK]] aggregate, so the final
    * shuffle carries |queries| x |partitions| k-entry buffers, never
    * the scored postings. For a serving index probed repeatedly, use
    * [[Retrieval.writeIndex]]/[[Retrieval.probeTopK]] — identical
    * scores off a standing bucket-partitioned posting store.
    *
    * @param queries (query_id, query text) pairs; terms are the
    *        space-split distinct words of the text
    * @return (query_id, rank, doc_id, score_q) — top-k docs per query
    *         by (BM25 desc, doc_id)
    */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val qterms = Retrieval.queryTerms(docs.sparkSession, queries)
    val stats = Retrieval.segStats(docs, idCol, textCol)
      .select(col("n_docs"), expr("tt * 1000L div n_docs").as("avgdl_q"))
    val post = docs.select(col(idCol).as("doc"),
        size(TextOps.tokens(col(textCol))).cast("long").as("dl"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .join(broadcast(qterms.select("token").distinct()), "token")
      .groupBy("doc", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    Retrieval.scoreTopK(post, stats, qterms, k)
  }
}
