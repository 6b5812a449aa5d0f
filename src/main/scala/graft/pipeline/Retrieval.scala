package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval over a standing inverted index — the scale path
  * for the ad-hoc BM25 of [[Vocab.bm25TopK]] (which re-derives postings
  * from the corpus per query batch; right for one-off lookups, wrong
  * for a serving index probed thousands of times).
  *
  * Layout (`path/`):
  *   - `postings/tb=<bucket>/…parquet` — postings (token, doc, tf,
  *     dl), partitioned by the md5 token bucket. A probe touches only
  *     the buckets its query terms hash into: partition pruning does
  *     the index lookup. Per-term df is NOT stored — the probe counts
  *     it exactly from the pruned postings it already reads, which is
  *     what makes segmented appends
  *     ([[graft.streaming.InvertedIndexSink]]) trivially correct: no
  *     stored statistic ever goes stale.
  *   - `segstats/` — one (n_docs, tt) row per segment; probes SUM the
  *     segments for exact global doc count and average length.
  *
  * All scoring arithmetic is the exact-integer BM25 of
  * [[Vocab.bm25TopK]] (micro-nat idf, integer tf-saturation ratio), so
  * a probe over the index returns BIT-IDENTICAL rows to the ad-hoc
  * path over the same corpus — p88b shares p88's DuckDB oracle.
  *
  * SCALE: the index is written once (one shuffle by bucket); a probe
  * reads |query terms| buckets, broadcasts the term-sized df table and
  * the one-row stats, and ranks through the bounded
  * [[graft.functions.TopK]] aggregate. Nothing corpus-sized shuffles
  * at probe time.
  */
object Retrieval {

  /** Stable token -> bucket hash; lowest 8 md5 hex digits mod
    * `nBuckets` (the [[Vocab.dsirWeights]] bucket-hash pattern, so an
    * oracle could replay the assignment if it ever needs to). */
  def tokenBucket(token: Column, nBuckets: Int): Column =
    conv(substring(md5(concat(lit("tb:"), token)), 1, 8), 16, 10)
      .cast("long") % nBuckets

  /** (query_id, token) — distinct space-split terms per query. */
  private[pipeline] def queryTerms(
      spark: SparkSession, queries: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(array_distinct(TextOps.tokens(col("qtext")))).as("token"))
  }

  /** The exact-integer per-(posting, query-term) BM25 contribution:
    * micro-nat idf x the integer tf-saturation ratio. Expects columns
    * n_docs, df, tf, dl, avgdl_q in scope. */
  private def contribExpr: Column =
    floor(log(((col("n_docs") - col("df")).cast("double") + lit(0.5d)) /
        (col("df").cast("double") + lit(0.5d)) + lit(1.0d)) * lit(1e6))
      .cast("long") *
      expr("(22L*tf*avgdl_q*1000L) div (10L*tf*avgdl_q + 3L*avgdl_q + 9L*dl*1000L)")

  /** Bounded top-k tail over per-(query, doc) integer scores. */
  private def rankTail(perDoc: DataFrame, k: Int): DataFrame =
    perDoc.groupBy("query_id")
      .agg(graft.functions.TopK.agg(
        col("score_q").cast("double"), col("doc"), k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.rank").as("rank"),
        col("e.neighbor_id").as("doc_id"),
        col("e.cos").cast("long").as("score_q"))

  /** Shared BM25 scoring tail (k1=1.2, b=0.75): `post` must already be
    * pruned to the query-term postings (token, doc, tf, dl); `stats` is
    * one row (n_docs, avgdl_q). df is counted from `post` — exact, as
    * each posting row is one (doc, token) pair of the full corpus.
    *
    * `allowed`: optional (doc) set restricting the RANKED candidates —
    * filtered search keeps GLOBAL statistics (df/avgdl over the whole
    * corpus, the standard convention), so the filter applies after df
    * is counted but before scoring, as a doc-keyed semi join.
    * Returns (query_id, rank, doc_id, score_q). */
  private[pipeline] def scoreTopK(
      post: DataFrame, stats: DataFrame, qterms: DataFrame,
      k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    val dfTab = post.groupBy("token").agg(count(lit(1)).as("df"))
    val postA = allowed.fold(post)(a =>
      post.join(a.select(col("doc")), Seq("doc"), "left_semi"))
    rankTail(postA
      .join(broadcast(dfTab), "token")
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc"), contribExpr.as("contrib"))
      .join(broadcast(qterms), "token")
      .groupBy("query_id", "doc")
      .agg(sum(col("contrib")).as("score_q")), k)
  }

  /** Passage-level retrieval — the RAG data-prep shape: slide the
    * [[Chunking]] token windows over every document, score each CHUNK
    * as a BM25 unit (chunk-grain df and length norm — long documents
    * can't bury a relevant passage), keep each document's best
    * passage, and rank documents by it (max-passage aggregation, the
    * standard long-document trick).
    *
    * SCALE: chunks are a map-side generator off the token stream
    * (p46's arithmetic — no chunk materialization shuffle); the
    * posting prune, broadcast df/stats, and bounded top-k tail are
    * [[scoreTopK]]'s; the only extra aggregation is the per-(query,
    * doc) max over chunk scores, which partial-aggregates map-side.
    *
    * @return (query_id, rank, doc_id, score_q) — top-k docs per query
    *         by best-passage score
    */
  def bm25PassageTopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int,
      window: Int = 40, stride: Int = 30): DataFrame = {
    require(stride >= 1 && window >= stride,
      s"need window >= stride >= 1, got window=$window stride=$stride")
    val qterms = queryTerms(docs.sparkSession, queries)
    val chunks = docs.select(col(idCol).cast("long").as("doc"),
        TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("nc", when(col("n") <= window, lit(1L))
        .otherwise(lit(1L) + expr(s"(n - ${window - stride + 1}) div $stride")))
      .select(col("doc"),
        explode(sequence(lit(0L), col("nc") - 1)).as("ci"), col("toks"))
      .select(col("doc"), col("ci"),
        slice(col("toks"), (col("ci") * stride + 1).cast("int"),
          lit(window)).as("ctoks"))
      .withColumn("dl", size(col("ctoks")).cast("long"))
    val stats = chunks.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).as("tt"))
      .select(col("n_docs"), expr("tt * 1000L div n_docs").as("avgdl_q"))
    val post = chunks
      .select(col("doc"), col("ci"), col("dl"),
        explode(col("ctoks")).as("token"))
      .join(broadcast(qterms.select("token").distinct()), "token")
      .groupBy("doc", "ci", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfTab = post.groupBy("token").agg(count(lit(1)).as("df"))
    rankTail(post
      .join(broadcast(dfTab), "token")
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc"), col("ci"), contribExpr.as("contrib"))
      .join(broadcast(qterms), "token")
      .groupBy("query_id", "doc", "ci")
      .agg(sum(col("contrib")).as("cscore"))
      .groupBy("query_id", "doc")
      .agg(max(col("cscore")).as("score_q")), k)
  }

  /** Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009) — the
    * standard hybrid-search combiner: given ranked lists from
    * different retrievers (BM25, ANN, ...), score each (query, doc) by
    * the sum of 1/(k0 + rank) over the lists that returned it, and
    * re-rank. Scores are quantized to exact integers
    * (floor(1e9/(k0+rank)) per entry — rank is small, so the sum is
    * order-free and engine-replayable).
    *
    * SCALE: each input is already a top-k list (|queries| x k rows,
    * tiny by construction); the fusion is a union + one partial-agg'd
    * groupBy and the bounded top-k tail. Nothing corpus-sized ever
    * enters.
    *
    * @param rankings (query_id, rank, doc_id) lists — extra columns
    *        are ignored
    * @return (query_id, rank, doc_id, score_q) — fused top-k per query
    *         by (RRF desc, doc_id)
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "RRF needs at least one ranking")
    val parts = rankings.map(_.select(col("query_id"),
      col("doc_id").cast("long").as("doc"),
      expr(s"1000000000L div (${k0}L + CAST(rank AS BIGINT))").as("pt")))
    rankTail(parts.reduce(_ unionAll _)
      .groupBy("query_id", "doc")
      .agg(sum(col("pt")).as("score_q")), k)
  }

  /** Posting rows of a document set: (token, doc, tf, dl, tb). One
    * corpus scan; dl rides the exploded stream (max over the group). */
  private[graft] def postingRows(
      docs: DataFrame, nBuckets: Int,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc"),
        size(TextOps.tokens(col(textCol))).cast("long").as("dl"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("doc", "token")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("tb", tokenBucket(col("token"), nBuckets))

  /** One-row segment statistics of a document set: (n_docs, tt). */
  private[graft] def segStats(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(size(TextOps.tokens(col(textCol)))).cast("long").as("tt"))

  /** Build the index from scratch: postings partitioned by token
    * bucket (one file per bucket — `repartition` by the partition key)
    * plus the base `segstats` segment and the `docids` sidecar (the
    * indexed-id set [[graft.streaming.InvertedIndexSink]] anti-joins
    * redelivered docs against). Overwrites `path`. */
  def writeIndex(
      docs: DataFrame, path: String, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    postingRows(docs, nBuckets, idCol, textCol)
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
    segStats(docs, idCol, textCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/segstats")
    docs.select(col(idCol).cast("long").as("doc")).distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$path/docids")
  }

  /** BM25 top-k over the standing index. `nBuckets` must match the
    * writer's. The query-term bucket set is computed driver-side from
    * the same hash expression (|terms| bounded) and pushed into the
    * scan as a partition filter; `token IN terms` prunes within the
    * bucket files (parquet row-group stats). */
  def probeTopK(
      spark: SparkSession, path: String,
      queries: Seq[(Long, String)], k: Int,
      nBuckets: Int = 64, allowed: Option[DataFrame] = None): DataFrame = {
    val qterms = queryTerms(spark, queries)
    val terms = qterms.select("token").distinct()
      .withColumn("tb", tokenBucket(col("token"), nBuckets))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val buckets = terms.map(_._2).distinct.toSeq
    val tokens = terms.map(_._1).toSeq
    val post = spark.read.parquet(s"$path/postings")
      .where(col("tb").isin(buckets: _*) && col("token").isin(tokens: _*))
      .select("token", "doc", "tf", "dl")
    val stats = spark.read.parquet(s"$path/segstats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tt")).as("tt"))
      .select(col("n_docs"), expr("tt * 1000L div n_docs").as("avgdl_q"))
    scoreTopK(post, stats, qterms, k, allowed)
  }
}
