package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-quality / language analysis for training-data curation.
  * Pure Column expressions; ratios are exact int/int double divisions
  * (deterministic cross-engine).
  */
object TextAnalysis {

  def tokenCount(words: Column): Column = size(words)

  /** Heuristic quality score in [0,1]:
    * 0.4 * distinct-token ratio (repetition penalty)
    * + 0.3 * capped mean-word-length/8
    * + 0.3 * capped stopword ratio * 3 (natural-language-ness).
    * All terms are exact divisions of exact ints — deterministic.
    *
    * Codegen'd one-pass kernel (graft.functions.QualityScoreExpr); the
    * HOF formulation (`aggregate`+`filter` lambdas) is CodegenFallback. */
  def qualityScore(words: Column): Column =
    graft.functions.Text.qualityScore(words)

  /** Stopword-overlap language guess: the argmax of per-language
    * stopword ratios (lists in graft.functions.TextStats), lexicographic
    * first-wins tiebreak, else "und" (undetermined) below the `floor`
    * evidence minimum (passed through bit-exactly). Codegen'd one pass
    * (graft.functions.PredictLangExpr). Real pipelines plug in
    * fastText-style models via the multimodal UDF path; the heuristic is
    * the engine-native fallback. */
  def predictLang(words: Column, floor: Double = 0.05): Column =
    graft.functions.Text.predictLang(words, floor)

  /** BPE-ish subword count estimate: whitespace tokens + extra splits
    * every 6 chars of long words (a cheap, deterministic proxy for
    * tokenizer token counts). Codegen'd single pass
    * (graft.functions.SubwordEstExpr). */
  def subwordCountEstimate(text: Column): Column =
    graft.functions.Text.subwordEst(TextOps.tokens(text))

  /** Per-token weight bucket for [[hashedFeatureScore]]: the token's
    * feature-hash slot in a `dim`-entry weight table —
    * first 32 md5 bits of "qw:<token>", mod dim. Portable: DuckDB's
    * `CAST('0x'||substr(md5('qw:'||t),1,8) AS BIGINT) % dim`. */
  def featureBucket(token: Column, dim: Int): Column =
    conv(substring(md5(concat(lit("qw:"), token)), 1, 8), 16, 10)
      .cast("long") % dim

  /** Model-based quality scoring via feature hashing (the
    * fastText/FineWeb-Edu classifier-filter shape): each token maps to
    * one of `dim` weight slots by hash, the doc score is the mean slot
    * weight, and `keep` thresholds it at 0. The weight table here is a
    * deterministic stand-in — slot b carries weight
    * (b - (dim-1)/2) / dim, i.e. hash-uniform pseudo-weights centered
    * on 0 — because shipping a trained model is out of scope; a real
    * deployment swaps in broadcast learned weights behind the same
    * bucket → weight lookup with the identical plan shape.
    *
    * SCALE: tokens explode map-side and immediately partial-aggregate
    * to one (sum, count) pair per doc per task — the shuffle carries
    * two longs per doc, never tokens. The score divides exact integer
    * sums once at the end, so it is summation-order-independent and
    * bit-identical in the DuckDB oracle.
    *
    * @return (doc_id, n_tokens, score, keep)
    */
  def hashedFeatureScore(
      docs: org.apache.spark.sql.DataFrame, dim: Int = 1024,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("t"))
    tok.select(col("doc_id"), featureBucket(col("t"), dim).as("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("b")).as("wsum"))
      .withColumn("score",
        (col("wsum").cast("double") / col("n_tokens").cast("double")
          - lit((dim - 1) / 2.0)) / lit(dim.toDouble))
      .withColumn("keep",
        when(col("score") > 0, 1).otherwise(0))
      .drop("wsum")
  }
}
