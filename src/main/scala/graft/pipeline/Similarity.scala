package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (Array[Float]).
  *
  * Embeddings are quantized to 64-bit integers (floor(x*1e6)) before any
  * arithmetic: integer dot products are EXACT, making scores independent
  * of summation order — reproducible across partitionings, engines, and
  * re-runs (the DuckDB oracle matches bit-for-bit). The quantization
  * error (1e-6 per dim) is far below any meaningful similarity delta.
  */
object Similarity {

  /** Quantize a float-array embedding column to bigint components.
    * The float is promoted to double BEFORE the multiply — float32
    * multiplication would round differently than the oracle's.
    * Codegen'd one-pass expression (graft.functions.QuantizeExpr); the
    * `transform` lambda equivalent is CodegenFallback. */
  def quantize(emb: Column): Column =
    graft.functions.Vectors.quantizeCol(emb)

  /** Codegen'd integer dot product (graft.functions.DotLongExpr) — the
    * inner loop of every scoring join. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.Vectors.dotCol(a, b)

  /** Exact cosine from quantized vectors — deterministic double math:
    * dot / sqrt(na * nb), all operands exact integers. */
  def cosine(qa: Column, qb: Column): Column =
    dot(qa, qb).cast("double") /
      sqrt(dot(qa, qa).cast("double") * dot(qb, qb).cast("double"))

  /** Cosine with pre-computed self-norms: one dot per pair instead of
    * three. Norms are per-VECTOR (linear), pairs are quadratic — at any
    * scale the norms must be computed before the pair join, not in it. */
  def cosinePrenormed(qa: Column, qb: Column, na: Column, nb: Column): Column =
    dot(qa, qb).cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  /** The ranking tail shared by every scoring path: per-query top-k of
    * (cos DESC, neighbor_id ASC) via the bounded partial-aggregating
    * [[graft.functions.TopK]] — each task keeps at most k entries per
    * query and partials combine map-side, so the shuffle carries
    * |queries| x |partitions| bounded buffers, NEVER the scored pairs
    * themselves (the window formulation this replaced shuffled all
    * |queries| x |candidates| rows — 225M at sf1 for the brute path). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.agg(col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.rank").as("rank"),
        col("e.neighbor_id").as("neighbor_id"), col("e.cos").as("cos"))

  /** Quantized corpus projection (id, vec, self-norm), widened to the
    * cluster parallelism floor first: the scoring joins are broadcast
    * (corpus side never shuffles), so corpus-scan partitioning bounds
    * scoring parallelism — see [[Par.widen]]. */
  private def corpusSide(
      corpus: DataFrame, idCol: String, embCol: String): DataFrame =
    Par.widen(corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("e")))
      .select(col("neighbor_id"), quantize(col("e")).as("c_emb"))
      .withColumn("c_nrm", dot(col("c_emb"), col("c_emb")))

  /** Brute-force top-k cosine neighbors for each query vector.
    * Baseline path: |queries| x |corpus| scored pairs. SCALE: broadcast
    * the (small) query set so the corpus never shuffles for scoring;
    * per-partition bounded top-k buffers are all that shuffle for the
    * ranking ([[topKPerQuery]]). */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", graft.functions.Vectors.dotCol(col("q_emb"), col("q_emb"))))
    val c = corpusSide(corpus, idCol, embCol)
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("q_emb"), col("c_emb"),
          col("q_nrm"), col("c_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k nearest corpus vectors with a DIFFERENT label — the
    * most-confusable negatives that make embedding-model batches
    * informative (easy random negatives teach nothing). The dual of
    * [[knnClassify]]'s same-label voting.
    *
    * SCALE: [[bruteForceTopK]]'s shape exactly — the labeled query set
    * broadcasts with its label, the corpus streams map-side, the
    * label-mismatch predicate prunes pairs BEFORE scoring, and ranking
    * is the bounded top-k aggregate. Swap the corpus side for a
    * bucketed/IVF probe when the negative pool is indexed.
    *
    * @return (query_id, rank, neighbor_id, cos) — k hardest negatives
    *         per query by (cos DESC, neighbor_id)
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"),
      col(labelCol).as("q_lbl"))
      .withColumn("q_nrm",
        graft.functions.Vectors.dotCol(col("q_emb"), col("q_emb"))))
    val c = Par.widen(corpus.select(col(idCol).as("neighbor_id"),
        col(embCol).as("e"), col(labelCol).as("c_lbl")))
      .select(col("neighbor_id"), col("c_lbl"), quantize(col("e")).as("c_emb"))
      .withColumn("c_nrm", dot(col("c_emb"), col("c_emb")))
    val scored = q.join(c, col("q_lbl") =!= col("c_lbl"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("q_emb"), col("c_emb"),
          col("q_nrm"), col("c_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Sign-bucket LSH key: sign bits of the first `planes` components
    * (axis-aligned hyperplane LSH). Coarse but deterministic; the scale
    * path — corpus is bucketed once, queries probe only their bucket. */
  def signBucket(qemb: Column, planes: Int): Column =
    concat((0 until planes).map(i =>
      when(element_at(qemb, i + 1) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** LSH-bucketed ANN: score only within the query's sign bucket.
    * Approximate (recall < 1) but the scored-pair count drops by ~2^planes.
    * At scale: corpus pre-partitioned by bucket (write once, probe many). */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, planes: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", graft.functions.Vectors.dotCol(col("q_emb"), col("q_emb")))
      .withColumn("bucket", signBucket(col("q_emb"), planes)))
    val c = corpusSide(corpus, idCol, embCol)
      .withColumn("bucket", signBucket(col("c_emb"), planes))
    val scored = q.join(c,
      col("q_emb") =!= col("c_emb") && col("query_id") =!= col("neighbor_id")
        && q("bucket") === c("bucket"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("q_emb"), col("c_emb"),
          col("q_nrm"), col("c_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Build the persistent ANN index: quantized vectors + self-norms,
    * written ONCE partitioned by sign bucket (`path/bucket=XXXX/...`).
    * This is the write-once/probe-many scale path the per-call
    * [[lshTopK]] re-bucketing can't give: at 100 TB the corpus is
    * indexed by one batch job and every probe afterwards reads only its
    * buckets' directories (static partition pruning — the scan never
    * touches the other 2^planes - |probed| partitions). */
  def writeBucketedCorpus(
      corpus: DataFrame, path: String, planes: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding",
      metaCols: Seq[String] = Nil): Unit =
    corpus.select(col(idCol).as("neighbor_id") +:
        quantize(col(embCol)).as("c_emb") +: metaCols.map(col): _*)
      .withColumn("c_nrm", dot(col("c_emb"), col("c_emb")))
      .withColumn("bucket", signBucket(col("c_emb"), planes))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Flip plane `i` (0-based) of a sign-bucket key — the Hamming-1
    * neighbor bucket on that plane. */
  private def flipPlane(bucket: Column, i: Int, planes: Int): Column =
    concat(
      substring(bucket, 1, i),
      when(substring(bucket, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
      substring(bucket, i + 2, planes - i - 1))

  /** Probe a pre-bucketed corpus ([[writeBucketedCorpus]]) for top-k
    * neighbors. `multiProbe` = m additionally probes the Hamming-1
    * buckets of the first m planes (the standard multi-probe LSH recall
    * lever: recall lost to an unlucky sign flip near a hyperplane is
    * recovered without rebuilding the index).
    *
    * The probed bucket set is collected driver-side — bounded by
    * min(|queries| * (1+m), 2^planes), i.e. a handful of fixed-width
    * keys, NOT data — and pushed into the scan as a partition filter,
    * so only matching `bucket=` directories are read. Queries broadcast;
    * the corpus index never shuffles. */
  def probeBucketedTopK(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, corpusPath: String, k: Int, planes: Int = 4,
      multiProbe: Int = 0,
      idCol: String = "vec_id", embCol: String = "embedding",
      metaFilter: Option[Column] = None): DataFrame = {
    val q0 = queries.select(
      col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", dot(col("q_emb"), col("q_emb")))
      .withColumn("q_bucket", signBucket(col("q_emb"), planes))
    val probes = array(col("q_bucket") +:
      (0 until multiProbe).map(i => flipPlane(col("q_bucket"), i, planes)): _*)
    val q = q0.withColumn("probe_bucket", explode(probes))
    val buckets = q.select("probe_bucket").distinct()
      .collect().map(_.getString(0)).toSeq // bounded: <= 2^planes keys
    // FILTERED vector search: the metadata predicate (over metaCols the
    // index stored at write time) lands on the pruned scan itself —
    // Parquet pushdown, before any scoring — so one standing index
    // serves every filter without rebuild. Top-k ranks only survivors:
    // the bounded TopK aggregate makes over-fetch unnecessary (filtered
    // candidates never displace kept ones, unlike post-filtering a
    // pre-ranked top-k list, which silently returns < k).
    val c0 = spark.read.parquet(corpusPath)
      .where(col("bucket").isin(buckets: _*)) // static partition pruning
    val c = metaFilter.fold(c0)(c0.where)
    val scored = broadcast(q).join(c,
      col("probe_bucket") === col("bucket")
        && col("query_id") =!= col("neighbor_id")
        && col("q_emb") =!= col("c_emb"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("q_emb"), col("c_emb"),
          col("q_nrm"), col("c_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** IVF(-flat) ANN: the corpus is partitioned into the Voronoi cells of
    * a small pivot set (cell = argmax cosine to pivot); each query
    * probes only its `nProbe` highest-affinity cells, so the candidate
    * count drops to ~nProbe/nPivots of the corpus. The coarse-quantizer
    * analog of [[lshTopK]]'s sign buckets — data-adaptive where sign
    * buckets are axis-aligned.
    *
    * Pivots are the `nPivots` lowest-id corpus vectors — a deterministic
    * stand-in for an offline training job (k-means / reservoir sample);
    * assignment and probing are identical whatever produces the pivots.
    * They are collected driver-side (bounded: nPivots rows) and folded
    * into the plan as literals, so cell assignment is ONE codegen'd
    * projection over the corpus — no join, no shuffle. Only the
    * (query, candidate) survivors shuffle for the top-k ranking.
    * At 100 TB: persist the assigned corpus partitioned by cell, the
    * same write-once/probe-many shape as [[writeBucketedCorpus]]. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nPivots: Int = 8, nProbe: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(nPivots >= 2 && nProbe >= 1 && nProbe <= nPivots)
    val c = corpusSide(corpus, idCol, embCol)
    val piv = c.orderBy(col("neighbor_id")).limit(nPivots)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq, r.getLong(2)))
      .toIndexedSeq
    ivfTopKPivots(queries, c, k, piv, nProbe, idCol, embCol)
  }

  /** IVF probe with a TRAINED coarse quantizer: the [[KMeans.Model]]'s
    * centroids (quantized means, not corpus vectors) become the pivot
    * set — the production IVF shape, where an offline training job
    * fits the cells to the data distribution instead of hoping the k
    * lowest-id vectors spread well. Assignment/probe mechanics are
    * byte-identical to [[ivfTopK]]: centroids fold in as literals with
    * precomputed norms, cells are argmax-cosine, queries probe their
    * `nProbe` best cells. Model state is k x dim longs — training
    * ([[KMeans.train]]) and probing stay two independent jobs, the
    * write-once/probe-many split an index at 100 TB needs. */
  def ivfTopKTrained(
      queries: DataFrame, corpus: DataFrame, k: Int,
      model: KMeans.Model, nProbe: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1 && nProbe <= model.centroids.size)
    val piv = model.centroids.map { case (cid, cv) =>
      (cid, cv, cv.map(x => x * x).sum)
    }
    ivfTopKPivots(queries, corpusSide(corpus, idCol, embCol),
      k, piv, nProbe, idCol, embCol)
  }

  private def ivfTopKPivots(
      queries: DataFrame, c: DataFrame, k: Int,
      piv: IndexedSeq[(Long, IndexedSeq[Long], Long)], nProbe: Int,
      idCol: String, embCol: String): DataFrame = {
    // per-row affinity structs (cos, tiebreak) against each literal pivot
    def aff(emb: Column, nrm: Column, tiebreak: Long => Column) = piv.map {
      case (pid, pemb, pnrm) => struct(
        cosinePrenormed(emb, typedLit(pemb), nrm, lit(pnrm)).as("cos"),
        tiebreak(pid).as("tb"))
    }
    // cell = argmax (cos, then lowest pivot id): greatest() over the
    // affinity structs — lexicographic struct comparison, codegen'd
    val assigned = c.withColumn("cell",
      -greatest(aff(col("c_emb"), col("c_nrm"), pid => lit(-pid)): _*)
        .getField("tb"))
    val q0 = queries.select(
      col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", dot(col("q_emb"), col("q_emb")))
    // queries keep their nProbe best cells (query side is small)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("paff.cos").desc, col("paff.tb"))
    val probes = q0
      .withColumn("paff",
        explode(array(aff(col("q_emb"), col("q_nrm"), pid => lit(pid)): _*)))
      .withColumn("prn", row_number().over(wq))
      .where(col("prn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("paff.tb").as("probe_cell"))
    val scored = broadcast(probes).join(assigned,
      col("probe_cell") === col("cell")
        && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("q_emb"), col("c_emb"),
          col("q_nrm"), col("c_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-duplicate removal over embeddings — cluster with a
    * coarse quantizer, compare pairs ONLY within a cluster, and drop
    * every vector that has a lower-id cluster-mate above the cosine
    * threshold `tau`. Output is the DROP list: (vec_id, dup_of, cos)
    * where dup_of is the lowest-id qualifying mate (deterministic
    * representative choice, same keep-lowest-id convention as
    * [[Dedup]]); anti-join it against the corpus to materialize the
    * deduplicated set.
    *
    * Clustering reuses [[ivfTopK]]'s Voronoi assignment: pivots fold in
    * as literals, so assignment is one codegen'd projection — no join.
    * SCALE: this is exactly the paper's design point — the quadratic
    * pair comparison is confined to single cells, so cost is
    * sum(|cell|^2) not |corpus|^2, and the cell count scales with
    * `nPivots` (k-means k in the paper; ~10-100k clusters at web
    * scale, keeping cells ~constant-size as the corpus grows). The
    * pair join is a cell-keyed equi-join (never cartesian) carrying
    * quantized vectors + precomputed norms; the drop-list aggregate is
    * a per-vector min — partial-agg'd map-side. */
  def semanticDedup(
      corpus: DataFrame, tau: Double, nPivots: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxCell: Long = 10000L): DataFrame = {
    val c = corpusSide(corpus, idCol, embCol)
    val piv = c.orderBy(col("neighbor_id")).limit(nPivots)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq, r.getLong(2)))
    val affs = piv.map { case (pid, pemb, pnrm) => struct(
      cosinePrenormed(col("c_emb"), typedLit(pemb), col("c_nrm"),
        lit(pnrm)).as("cos"),
      lit(-pid).as("tb")) }
    val assigned = c.withColumn("cell", -greatest(affs: _*).getField("tb"))
    // Cell-population guard — the fixed-pivot analog of the paper's
    // "cluster count scales with the corpus": a cell over `maxCell`
    // rows squares, so it is sub-blocked by sign buckets (enough planes
    // for ~64 expected rows/bucket) with the same exact cosine verify,
    // exactly the [[cosinePairsGuarded]] mechanics. The preflight is
    // nPivots rows of metadata. No cell trips at catalog oracle scales;
    // the real fix at 100 TB is raising nPivots (k-means k) so cells
    // stay constant-size — this guard is the backstop for the skewed
    // cell a static quantizer can't avoid.
    // maxCell = Long.MaxValue disables the guard (the cross-check
    // audit's exact-semantics pin) — skip the preflight scan entirely,
    // its result could never trip
    val withSb =
      if (maxCell == Long.MaxValue) assigned.withColumn("sb", lit(""))
      else {
        val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val hot = sizes.filter(_._2 > maxCell).map(_._1).toSet
        if (hot.isEmpty) assigned.withColumn("sb", lit(""))
        else {
          val planesEff = adaptivePlanes(sizes.map(_._2).max, 1,
            piv.head._2.size)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"semanticDedup: ${hot.size} cell(s) over maxCell=$maxCell " +
              s"sub-blocked at planes=$planesEff")
          assigned.withColumn("sb",
            when(col("cell").isInCollection(hot),
              signBucket(col("c_emb"), planesEff)).otherwise(lit("")))
        }
      }
    val a = withSb.select(col("neighbor_id").as("id_a"),
      col("c_emb").as("ea"), col("c_nrm").as("na"),
      col("cell").as("cell_a"), col("sb").as("sb_a"))
    val b = withSb.select(col("neighbor_id").as("id_b"),
      col("c_emb").as("eb"), col("c_nrm").as("nb"),
      col("cell").as("cell_b"), col("sb").as("sb_b"))
    val pairs = a.join(b,
        col("cell_a") === col("cell_b") && col("sb_a") === col("sb_b") &&
          col("id_b") < col("id_a"))
      .select(col("id_a"), col("id_b"),
        cosinePrenormed(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .where(col("cos") >= tau)
    // min + min_by (not min over a struct): both are declarative
    // aggregates, so the drop list hash-aggregates with a map-side
    // partial pass — min(struct) would force a SortAggregate
    pairs.groupBy(col("id_a").as("vec_id"))
      .agg(min(col("id_b")).as("dup_of"),
        min_by(col("cos"), col("id_b")).as("cos"))
  }

  /** Persist the IVF index: quantized corpus + self-norms written ONCE
    * partitioned by Voronoi cell (`path/cell=N/...`) — [[ivfTopK]]'s
    * assignment, made write-once/probe-many like [[writeBucketedCorpus]].
    * Pivots are recoverable from the index itself (a pivot is assigned
    * to its own cell), so probes need no side-channel metadata. */
  def writeIvfCorpus(
      corpus: DataFrame, path: String, nPivots: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"), quantize(col(embCol)).as("c_emb"))
      .withColumn("c_nrm", dot(col("c_emb"), col("c_emb")))
    val piv = c.orderBy(col("neighbor_id")).limit(nPivots)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq, r.getLong(2)))
    val affs = piv.map { case (pid, pemb, pnrm) => struct(
      cosinePrenormed(col("c_emb"), typedLit(pemb), col("c_nrm"),
        lit(pnrm)).as("cos"),
      lit(-pid).as("tb")) }
    c.withColumn("cell", -greatest(affs: _*).getField("tb"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** Probe a persisted IVF index ([[writeIvfCorpus]]) for top-k
    * neighbors: queries rank the pivots (recovered from the index —
    * bounded driver collect), and the probed cell set is pushed into
    * the scan as a partition filter, so only `nProbe * |queries|` cell
    * directories are read. Queries broadcast; the index never shuffles. */
  def probeIvfTopK(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame, indexPath: String, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val idx = spark.read.parquet(indexPath)
    // pivots self-assign (cos=1 with themselves beats any tiebreak), so
    // the pivot set is exactly the self-assigned index rows
    val piv = idx.where(col("neighbor_id") === col("cell"))
      .select(col("neighbor_id"), col("c_emb"), col("c_nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toIndexedSeq, r.getLong(2)))
    val paffs = piv.map { case (pid, pemb, pnrm) => struct(
      cosinePrenormed(col("q_emb"), typedLit(pemb), col("q_nrm"),
        lit(pnrm)).as("cos"),
      lit(pid).as("tb")) }
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("paff.cos").desc, col("paff.tb"))
    val probes = queries.select(
      col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", dot(col("q_emb"), col("q_emb")))
      .withColumn("paff", explode(array(paffs: _*)))
      .withColumn("prn", row_number().over(wq))
      .where(col("prn") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("paff.tb").as("probe_cell"))
    val cells = probes.select("probe_cell").distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: <= nPivots cells
    val c = idx.where(col("cell").isin(cells: _*)) // partition pruning
    val scored = broadcast(probes).join(c,
      col("probe_cell") === col("cell")
        && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosinePrenormed(col("q_emb"), col("c_emb"),
          col("q_nrm"), col("c_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** kNN label propagation: predict each query vector's label as the
    * majority label among its k nearest labeled neighbors by cosine
    * (ties toward more votes, then the smaller label — deterministic).
    * The standard weak-labeling step for extending a small hand-labeled
    * seed set over an unlabeled corpus.
    *
    * SCALE: reuses [[bruteForceTopK]]'s shape (queries broadcast, the
    * labeled corpus never shuffles for scoring); the label join-back
    * broadcasts the k·|queries| survivor set against the corpus, so the
    * corpus side streams map-side there too. Swap the inner call for
    * [[probeBucketedTopK]]/[[probeIvfTopK]] when the labeled set is
    * itself indexed. */
  def knnClassify(
      queries: DataFrame, labeled: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val nn = bruteForceTopK(queries, labeled, k, idCol, embCol)
    val lab = labeled.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("nbr_label"))
    val votes = broadcast(nn).join(lab, "neighbor_id")
      .groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nbr_label"))
    votes.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("query_id"), col("nbr_label").as("pred_label"),
        col("votes"))
  }

  /** Recall@k of an approximate ANN result against the brute-force
    * truth: per query, the fraction of true top-k neighbors the
    * approximate method returned. The tuning metric for every
    * plane-count / nProbe / multi-probe decision — run it on a sampled
    * query set before committing an index configuration to the corpus.
    * Both inputs are (query_id, rank, neighbor_id, cos) as produced by
    * [[bruteForceTopK]] / [[lshTopK]] / [[probeBucketedTopK]] /
    * [[ivfTopK]]; left join keeps recall-0 queries visible. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val t = exact.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val a = approx.where(col("rank") <= k)
      .select(col("query_id").as("a_qid"), col("neighbor_id").as("a_nid"))
    t.join(a, t("query_id") === a("a_qid")
        && t("neighbor_id") === a("a_nid"), "left")
      .groupBy(col("query_id"))
      .agg((count(col("a_nid")) / lit(k.toDouble)).as("recall"))
  }

  /** Near-duplicate pairs by embedding cosine above a threshold, blocked
    * on sign-bucket LSH — the label-free scale path for [[cosinePairs]]:
    * no metadata column needed, candidate pairs are generated only
    * within each of the 2^planes buckets, never all-pairs.
    *
    * SCALE: the self-join shuffles (id, qv, nrm) hashed on a fixed-width
    * bucket key; pick `planes` so 2^planes is well above the cluster
    * parallelism (and per-bucket row count fits a task) — e.g. 16-20
    * planes at 1e9 vectors. Recall: a true near-dup pair straddling a
    * hyperplane lands in different buckets and is missed — standard
    * LSH-blocking behavior; raise recall by unioning runs with
    * independent plane sets (deterministic here, so the catalog oracle
    * reproduces the exact bucket assignment). */
  def cosinePairsLsh(
      df: DataFrame, threshold: Double, planes: Int = 6,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = Par.widen(df.select(col(idCol).as("id"), col(embCol).as("e")))
      .select(col("id"), quantize(col("e")).as("qv"))
      .withColumn("nrm", graft.functions.Vectors.dotCol(col("qv"), col("qv")))
      .withColumn("blk", signBucket(col("qv"), planes))
    val a = q.as("a")
    val b = q.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosinePrenormed(col("a.qv"), col("b.qv"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .where(col("cos") > threshold)
  }

  /** Near-duplicate pairs by embedding cosine above a threshold, blocked
    * on a coarse key to avoid all-pairs (here: a provided blocking
    * column; at scale: LSH buckets or cluster assignments — see
    * [[cosinePairsLsh]]).
    *
    * SCALE: a metadata blocking column is inherently LOW-cardinality
    * (labels, languages, sources — tens of values), so a plain
    * block-equi self-join serializes the quadratic within-block scoring
    * into <= |blocks| tasks no matter how big the cluster. The pair
    * generation is therefore salted ([[graft.operators.SkewJoin]]):
    * the left side hashes into `salts` sub-keys by id, the right side
    * replicates to each — identical pair set (each (a,b) meets exactly
    * once: a carries ONE salt, b carries ALL), |blocks|·salts-way
    * parallel scoring, at the documented cost of shipping the right
    * projection `salts` times (fixed-width (id, qv, nrm) rows — the
    * quantized vectors, never raw text). */
  def cosinePairs(
      df: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      salts: Int = 8): DataFrame = {
    val q = Par.widen(df.select(col(idCol).as("id"),
      col(blockCol).as("blk"), col(embCol).as("e")))
      .select(col("id"), col("blk"), quantize(col("e")).as("qv"))
      .withColumn("nrm", graft.functions.Vectors.dotCol(col("qv"), col("qv")))
    val a = q.select(col("id").as("id_a"), col("blk").as("blk_a"),
      col("qv").as("qv_a"), col("nrm").as("nrm_a"))
    val b = q.select(col("id").as("id_b"), col("blk").as("blk_b"),
      col("qv").as("qv_b"), col("nrm").as("nrm_b"))
    graft.operators.SkewJoin.saltedInnerJoin(
      a, b,
      col("blk_a") === col("blk_b") && col("id_a") < col("id_b"),
      salts, col("id_a"))
      .select(col("id_a"), col("id_b"),
        cosinePrenormed(col("qv_a"), col("qv_b"),
          col("nrm_a"), col("nrm_b")).as("cos"))
      .where(col("cos") > threshold)
  }

  /** Skew-adaptive sign-bucket plane count, shared by
    * [[cosinePairsGuarded]] and [[semanticDedup]]: enough planes that
    * the EXPECTED per-bucket population of the hottest block is ~64
    * rows, so the in-bucket quadratic stays flat as blocks grow 100x.
    * Capped at 16 planes (64Ki buckets) AND at the vector dimension —
    * [[signBucket]] reads one component per plane, so positions past
    * the end would all contribute the same bit and silently weaken the
    * sub-blocking. Pure function of the measured sizes: deterministic.
    */
  private def adaptivePlanes(maxHot: Long, floorPlanes: Int, dim: Int): Int =
    math.min(math.min(16, math.max(1, dim)), math.max(floorPlanes,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, maxHot / 64L)).toInt))

  /** [[cosinePairs]] behind a block-size guard — the production entry
    * point. Metadata blocks square: a label holding b rows costs b²/2
    * comparisons no matter how the join is salted, so blocks whose
    * population exceeds `maxBlock` are DIVERTED through sign-bucket
    * sub-blocking (the [[cosinePairsLsh]] geometry, applied WITHIN the
    * label): candidates meet only when they agree on (label, bucket),
    * verified by the same exact quantized cosine. Small blocks keep the
    * exact salted path, so the guarded result equals [[cosinePairs]]
    * exactly until a block trips; tripped blocks trade the standard LSH
    * recall (a pair straddling a hyperplane is missed) for b²/2^planes
    * work, and are logged.
    *
    * The preflight is one groupBy-count over the blocking column —
    * bounded by its cardinality (labels/languages/sources: tens of
    * values), the same profile q44 computes for skew monitoring. */
  def cosinePairsGuarded(
      df: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      salts: Int = 8, maxBlock: Long = 4000L, planes: Int = 6): DataFrame = {
    // one preflight scan yields both the block populations AND the
    // vector dimension (for the plane cap) — no second action, and no
    // NPE on a null first-row embedding
    val pre = df.groupBy(col(blockCol)).agg(count(lit(1)).as("__n"),
        max(size(col(embCol))).as("__d"))
      .collect().map(r => (r.get(0), r.getLong(1),
        if (r.isNullAt(2)) 0 else r.getInt(2)))
    val sizes = pre.map(t => (t._1, t._2))
    val hot = sizes.filter(_._2 > maxBlock).map(_._1)
    if (hot.isEmpty)
      return cosinePairs(df, blockCol, threshold, idCol, embCol, salts)
    val maxHot = sizes.map(_._2).max
    val dim = math.max(1, pre.map(_._3).max)
    val planesEff = adaptivePlanes(maxHot, planes, dim)
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"cosinePairsGuarded: ${hot.length} block(s) over maxBlock=$maxBlock " +
        s"diverted to sign-bucket sub-blocking (planes=$planesEff): " +
        hot.take(10).mkString(", "))
    val exact = cosinePairs(
      df.where(!col(blockCol).isInCollection(hot.toSeq)),
      blockCol, threshold, idCol, embCol, salts)
    // hot blocks: candidates must agree on (label, sign bucket) — the
    // quadratic term drops from b² to Σ per-(label,bucket) sizes²
    val q = Par.widen(df.where(col(blockCol).isInCollection(hot.toSeq))
      .select(col(idCol).as("id"), col(blockCol).as("blk"), col(embCol).as("e")))
      .select(col("id"), col("blk"), quantize(col("e")).as("qv"))
      .withColumn("nrm", graft.functions.Vectors.dotCol(col("qv"), col("qv")))
      .withColumn("sb", signBucket(col("qv"), planesEff))
    val a = q.as("a")
    val b = q.as("b")
    val lsh = a.join(b,
      col("a.blk") === col("b.blk") && col("a.sb") === col("b.sb") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosinePrenormed(col("a.qv"), col("b.qv"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .where(col("cos") > threshold)
    exact.unionAll(lsh)
  }

  // --------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)): split
  // each vector into `m` subvectors, quantize each against a per-subspace
  // codebook of `nCode` codewords, score queries against the CODES via an
  // asymmetric-distance lookup table (ADC). The memory story at 100 TB:
  // a 64-dim float vector (256 B) compresses to m code bytes (4 B at
  // m=4/nCode<=256) — the whole index fits in RAM when the raw corpus
  // can't, and scoring never touches raw floats.
  // --------------------------------------------------------------------

  /** One per-subspace codebook entry: (code, quantized subvector, |w|²). */
  private type PqCodebook = IndexedSeq[IndexedSeq[(Int, IndexedSeq[Long], Long)]]

  /** Deterministic PQ codebook: the subvectors of the `nCode` lowest-id
    * corpus vectors, per subspace. The same convention as [[ivfTopK]]'s
    * pivot set — a deterministic sample stands in for per-subspace
    * k-means training (see [[KMeans.train]] / [[ivfTopKTrained]] for the
    * trained-quantizer shape; PQ training composes the same way: run
    * [[KMeans.train]] on each subspace projection offline). Collected to
    * the driver: nCode x dim longs — bounded metadata, never data. */
  private def pqCodebookOf(c: DataFrame, m: Int, nCode: Int): PqCodebook = {
    val seeds = c.orderBy(col("neighbor_id")).limit(nCode).collect()
      .map(_.getSeq[Long](1).toIndexedSeq).toIndexedSeq
    require(seeds.nonEmpty, "PQ codebook: corpus is empty — nothing to seed from")
    if (seeds.size < nCode)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"PQ codebook: corpus has ${seeds.size} rows < nCode=$nCode; " +
          "building a smaller codebook")
    val dim = seeds.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    IndexedSeq.tabulate(m) { s =>
      seeds.zipWithIndex.map { case (v, code) =>
        val w = v.slice(s * sub, (s + 1) * sub)
        (code, w, w.map(x => x * x).sum)
      }
    }
  }

  /** Argmin code over one subspace's codewords — dist(x,w) = |x|² -
    * 2·x·w + |w|² on exact integers, ties to the lowest code. The
    * codebook rides as a reference object inside ONE codegen'd
    * expression ([[graft.functions.PqArgminExpr]]) reading the full
    * embedding in place at `off` — NOT as literal-folded
    * `least(struct(...))` chains, which grew one generated method past
    * janino's 64 KB limit and silently de-codegen'd the whole stage
    * (and sliced a fresh subvector array per row per subspace). */
  private def pqAssign(
      emb: Column, cw: IndexedSeq[(Int, IndexedSeq[Long], Long)],
      off: Int): Column = {
    // codes are positional by construction (pqCodebookOf tabulates,
    // training preserves order) — the expression returns the index
    require(cw.zipWithIndex.forall { case ((c, _, _), i) => c == i },
      "PQ codebook codes must be positional")
    graft.functions.PqOps.argminCol(emb, cw.map(_._2), off)
  }

  /** TRAINED PQ codebook: per-subspace Lloyd's k-means, all m subspaces
    * updated from ONE corpus scan per iteration — the per-row projection
    * computes every subspace's assigned code ([[pqAssign]]'s
    * reference-object expression), explodes to (subspace, code, dim)
    * partial sums, and the driver collects m x nCode x subDim bounded
    * rows to rebuild the codebooks. Seeds = the sampled codebook
    * ([[pqCodebookOf]]); truncating integer means keep every update
    * exact and order-independent. iters=0 returns the sampled seeds.
    *
    * SCALE: iteration cost is one corpus scan + a shuffle of at most
    * tasks x m x nCode x subDim partial rows; model state on the driver
    * is m x nCode x subDim longs. Training m independent k-means jobs
    * would scan the corpus m times per round for the same result. */
  private def pqCodebookTrained(
      c: DataFrame, m: Int, nCode: Int, iters: Int): PqCodebook = {
    var cb = pqCodebookOf(c, m, nCode)
    if (iters == 0) return cb
    val sub = cb.head.head._2.size
    val q = c.persist()
    try {
      var it = 0
      while (it < iters) {
        val perSub = (0 until m).map { s =>
          val x = slice(col("c_emb"), s * sub + 1, sub)
          struct(lit(s).as("s"),
            pqAssign(col("c_emb"), cb(s), s * sub).as("code"), x.as("x"))
        }
        val sums = q.select(explode(array(perSub: _*)).as("e"))
          .select(col("e.s").as("s"), col("e.code").as("code"),
            posexplode(col("e.x")))
          .groupBy(col("s"), col("code"), col("pos"))
          .agg(sum(col("col")).as("sm"), count(lit(1)).as("n"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
        cb = IndexedSeq.tabulate(m) { s =>
          cb(s).map { case (code, prev, _) =>
            val w = sums.get((s, code)).map { rows =>
              val n = rows.head.getLong(4)
              rows.sortBy(_.getInt(2)).map(_.getLong(3) / n).toIndexedSeq
            }.getOrElse(prev) // empty code keeps its previous codeword
            (code, w, w.map(x => x * x).sum)
          }
        }
        it += 1
      }
      cb
    } finally { q.unpersist(blocking = false) }
  }

  /** Nearest-codeword assignment for every subspace: the codebook rides
    * as a broadcast-style reference object inside [[pqAssign]]'s
    * expression, so encoding is ONE codegen'd map pass over the corpus —
    * no join, no shuffle, and generated-code size independent of
    * (m, nCode, dim). dist(x,w) = |x|² - 2·x·w + |w|² on exact integers;
    * ties break to the lowest code. */
  private def pqEncodeWith(c: DataFrame, cb: PqCodebook): DataFrame = {
    val sub = cb.head.head._2.size
    (0 until cb.size).foldLeft(c) { (df, s) =>
      df.withColumn(s"code_$s", pqAssign(col("c_emb"), cb(s), s * sub))
    }
  }

  /** Total PQ quantization error — the k-means objective the trained
    * codebook minimizes: sum over rows and subspaces of
    * |x_s - w_code(s)|², exact integers. The tuning audit for
    * (m, nCode, trainIters) before committing an index config, the same
    * role [[recallAtK]] plays for the probe side. One scan, one scalar. */
  def pqQuantizationError(
      corpus: DataFrame, m: Int = 4, nCode: Int = 16, trainIters: Int = 0,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = corpusSide(corpus, idCol, embCol)
    val cb = pqCodebookTrained(c, m, nCode, trainIters)
    val sub = cb.head.head._2.size
    // the assigned codeword's distance per subspace, same reference-obj
    // expression as the encode path (one call per subspace, never a
    // literal-folded least() chain)
    val err = (0 until m).map { s =>
      graft.functions.PqOps.minDistCol(col("c_emb"), cb(s).map(_._2), s * sub)
    }.reduce(_ + _)
    c.select(err.as("e")).agg(sum(col("e")).as("total_err"))
  }

  /** PQ-encode the corpus: (vec_id, code_0..code_{m-1}). Write this once
    * partitioned however the probe path wants it — the codes table IS
    * the index. */
  def pqEncode(
      corpus: DataFrame, m: Int = 4, nCode: Int = 16, trainIters: Int = 0,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = corpusSide(corpus, idCol, embCol)
    val enc = pqEncodeWith(c, pqCodebookTrained(c, m, nCode, trainIters))
    enc.select(col("neighbor_id").as("vec_id") +:
      (0 until m).map(s => col(s"code_$s").cast("int").as(s"c$s")): _*)
  }

  /** ADC top-k: score queries against PQ codes via per-query lookup
    * tables. Per query and subspace, LUT[c] = q_sub · w_c (nCode exact
    * integer dots, computed once on the tiny broadcast query side); a
    * corpus row's score is then m array lookups + adds — never a
    * dim-length dot. Ranking normalizes by sqrt(|q|²·|reconstruction|²),
    * the cosine of the query against the code reconstruction.
    *
    * SCALE: the corpus side carries only (id, m codes) — the raw
    * embedding column is pruned out of the scan once the index is
    * materialized ([[pqEncode]]); queries + LUTs broadcast; the only
    * shuffle is [[topKPerQuery]]'s bounded per-partition top-k buffers.
    * Compose with IVF cells (IVF-PQ) by bucketing the codes table on
    * cell like [[writeIvfCorpus]]. */
  def pqAdcTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 4, nCode: Int = 16, trainIters: Int = 0,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = corpusSide(corpus, idCol, embCol)
    val cb = pqCodebookTrained(c, m, nCode, trainIters)
    val sub = cb.head.head._2.size
    // reconstruction self-norm: exact per-subspace |w|² looked up by code
    val reconNrm = (0 until m).map(s =>
      element_at(typedLit(cb(s).map(_._3)), col(s"code_$s") + 1)).reduce(_ + _)
    val enc = pqEncodeWith(c, cb)
      .select(col("neighbor_id") +: col("c_nrm") +:
        (0 until m).map(s => col(s"code_$s")): _*)
      .withColumn("r_nrm", reconNrm)
    val q0 = queries.select(
      col(idCol).as("query_id"), quantize(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", graft.functions.Vectors.dotCol(col("q_emb"), col("q_emb")))
    val withLut = (0 until m).foldLeft(q0) { (df, s) =>
      val qs = slice(col("q_emb"), s * sub + 1, sub)
      df.withColumn(s"lut_$s", array(cb(s).map { case (_, w, _) =>
        graft.functions.Vectors.dotCol(qs, typedLit(w)) }: _*))
    }
    val adc = (0 until m).map(s =>
      element_at(col(s"lut_$s"), col(s"code_$s") + 1)).reduce(_ + _)
    val scored = broadcast(withLut)
      .join(enc, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (adc.cast("double") /
          sqrt(col("q_nrm").cast("double") * col("r_nrm").cast("double")))
          .as("cos"))
    topKPerQuery(scored, k)
  }
}
