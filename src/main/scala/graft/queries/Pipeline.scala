package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.SegmentLog
import graft.pipeline.{Chunking, Contamination, Dedup, KMeans, Multimodal, Packing, Par, Pca, Retrieval, Sampling, Similarity, Sketch, TextAnalysis, TextOps, Vocab}

/** Training-data pipeline operator catalog: deduplication, similarity
  * search, text analysis, multimodal plumbing — the operations a 100 TB
  * LLM-data pipeline runs on top of the document plane.
  *
  * Every oracle reproduces the Spark computation exactly in DuckDB SQL:
  * md5 signatures bit-for-bit, integer-quantized cosine, identical
  * banding — so the hash-compare gate verifies the ALGORITHM, not just
  * row counts.
  */
object Pipeline {

  private def T(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** Shared DuckDB CTE: tokenized documents. */
  private val W = "WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)"

  /** The sign-bucket ANN probe oracle shared by p8b (batch-written
    * index) and j27 (stream-maintained index): same probe, same answer,
    * regardless of which writer produced the bucket layout. */
  private[queries] val annPrebucketOracle =
    """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
      |bk AS (SELECT vec_id, qv,
      |  (CASE WHEN qv[1]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[2]>=0 THEN '1' ELSE '0' END)||
      |  (CASE WHEN qv[3]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[4]>=0 THEN '1' ELSE '0' END) AS bucket FROM q),
      |qp AS (SELECT vec_id, qv, [bucket,
      |  (CASE WHEN qv[1]>=0 THEN '0' ELSE '1' END)||substr(bucket, 2)] AS probes
      |  FROM bk WHERE vec_id < 10),
      |cand AS (SELECT a.vec_id AS query_id, a.qv AS aqv, u.pb AS pb
      |  FROM qp a, UNNEST(a.probes) AS u(pb)),
      |scored AS (SELECT c.query_id, b.vec_id AS neighbor_id,
      |  CAST(list_sum(list_transform(range(1,65), i -> c.aqv[i]*b.qv[i])) AS DOUBLE) /
      |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> c.aqv[i]*c.aqv[i])) AS DOUBLE) *
      |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
      |  FROM cand c JOIN bk b ON b.bucket = c.pb AND b.vec_id <> c.query_id AND b.qv <> c.aqv),
      |ranked AS (SELECT query_id, neighbor_id, cos,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
      |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** What a [[cachedArtifact]] build is handed: `out`, the empty
    * artifact root it fills; `scratch`, an empty tree for what the build
    * needs only while it runs (staged feeds, checkpoints, stores),
    * deleted once the build returns or throws; and `name`, a streaming
    * query name unique to this build and usable as a SQL identifier (a
    * memory sink is read back by it). */
  private[queries] final case class Build(
      out: java.io.File, scratch: java.nio.file.Path, name: String)

  /** The cache dir of (`dir`, `table`, `key`): `graft-<key>-<fp>` in
    * the JVM tmpdir, where `fp` hashes the source table's CONTENT
    * ([[graft.Fingerprint.ofTable]]: name + length + head/middle/tail
    * byte sample, not mtime, so identical regenerated testdata keeps
    * warm caches) and the compiled graft bytecode
    * ([[graft.Fingerprint.machinery]]: the builders are part of the
    * recipe, so any code change rekeys every artifact). */
  private[queries] def artifactDir(
      dir: String, table: String, key: String): java.io.File = {
    val fp = graft.Fingerprint.md5hex(
      dir + "#" + graft.Fingerprint.machinery + "#" +
        graft.Fingerprint.ofTable(new java.io.File(s"$dir/$table.parquet")))
      .take(16)
    new java.io.File(sys.props("java.io.tmpdir"), s"graft-$key-$fp")
  }

  /** Written into an artifact root after its build returned. */
  private val ArtifactMarker = "_complete"

  /** Tmp-cached derived artifact (media fixtures, ANN/BM25 indexes,
    * the streaming gates' verified results) at [[artifactDir]]; layout
    * parameters belong in `key`. The artifact is served only when its
    * marker exists. Otherwise any partial root an earlier, interrupted
    * build left is deleted, `build` fills an empty `out`, and the marker
    * is written last, so a build that dies at any point is rebuilt from
    * scratch by the next call, never resumed or half-served. The
    * build's [[Build.scratch]] is deleted, and a streaming query or temp
    * view named [[Build.name]] stopped and dropped, in a `finally`, after
    * `build` has written its result. Every later call reads the cached
    * path, so benches time the pipeline under test, not artifact
    * construction. */
  private[queries] def cachedArtifact(
      dir: String, table: String, key: String)(
      build: Build => Unit): java.io.File = {
    val out = artifactDir(dir, table, key)
    val marker = new java.io.File(out, ArtifactMarker)
    if (!marker.exists()) {
      val scratch = java.nio.file.Paths.get(out.getPath + ".scratch")
      Seq(out.toPath, scratch).foreach(SegmentLog.deleteTree)
      java.nio.file.Files.createDirectories(scratch)
      val name = key.replaceAll("\\W", "_") + "_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      try build(Build(out, scratch, name))
      finally {
        val session = org.apache.spark.sql.SparkSession
        session.getActiveSession.orElse(session.getDefaultSession).foreach { s =>
          s.streams.active.filter(_.name == name).foreach(_.stop())
          s.catalog.dropTempView(name)
        }
        SegmentLog.deleteTree(scratch)
      }
      java.nio.file.Files.createDirectories(out.toPath)
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }
    out
  }

  /** Media fixtures (encoded PNG/WAV/AVI payloads) built once into the
    * artifact cache. */
  private def cachedMedia(
      s: org.apache.spark.sql.SparkSession, dir: String, key: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val out = cachedArtifact(dir, "documents", s"media-$key") { b =>
      build.write.mode("overwrite").parquet(b.out.toString)
    }
    s.read.parquet(out.toString)
  }

  /** The png-seed fixture's decoded dHash FINGERPRINT TABLE
    * (media_id, width, height, feature_hash), extracted once per corpus
    * into the artifact cache. This is the 100 TB shape: feature
    * extraction runs at INGEST and every downstream miner reads the
    * stored 8-byte fingerprint column — re-running the decoder inside
    * each pair/group job re-pays the corpus's heaviest per-byte stage
    * per query (measured: p66 spent ~12 s of its 27 s sf10 wall
    * re-decoding what p65 had already extracted). p65 stays the
    * decode-measuring entry — it runs [[Multimodal.phashCodec]] every
    * time; p66/p68 mine the stored column, like production would. */
  private def cachedPhash(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val out = cachedArtifact(dir, "documents", "phashfp-v1") { b =>
      val dims = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          (lit(9) + col("n_chars") % 48).cast("int").as("w"),
          (lit(8) + col("n_chars") % 31).cast("int").as("h"),
          (col("doc_id") % 97).as("seed"))
      val media = cachedMedia(s, dir, "png-seed-v1")(
        Multimodal.encodePng(dims, "doc_id", "w", "h", Some("seed")))
      Multimodal.decodeBatched(media, codec = Multimodal.phashCodec)
        .write.mode("overwrite").parquet(b.out.toString)
    }
    s.read.parquet(out.toString)
  }

  /** Per-cluster argmax WITHOUT a per-cluster window (VERDICT r13 task
    * 3): `row_number().over(Window.partitionBy(cluster_id))` funnels an
    * entire cluster through ONE task — a boilerplate storm makes the
    * hottest cluster O(|cluster|) on a single core. `max(struct(score,
    * -doc))` is the identical argmax (score desc, doc-id-asc tiebreak)
    * but partially aggregates map-side: no task ever holds more than
    * one combined row per cluster, at any skew. Input columns:
    * (doc_id, cluster_id, score_q). */
  private[graft] def representatives(
      scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scored
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("score_q"), (-col("doc_id")).as("neg_id"))).as("top"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("top.neg_id")).as("rep_id"),
        col("n_members"), col("top.score_q").as("rep_score_q"))
      .orderBy(col("cluster_id"))

  val entries: Seq[QueryDef] = Seq(

    // ---- Exact dedup on content hash (hash-groupBy; text never shuffles).
    QueryDef(
      "p1_dedup_exact",
      (s, dir) => {
        import s.implicits._
        Dedup.exactGroups(T(s, dir, "documents"), "doc_id", "text")
          .orderBy($"keep_id")
      },
      Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
             |COUNT(*) AS n_copies FROM documents GROUP BY md5(text)
             |ORDER BY keep_id""".stripMargin),
      "exact dedup via md5 content hash"),

    // ---- MinHash + LSH near-dup pairs, shingle-set Jaccard verified.
    QueryDef(
      "p2_minhash_lsh",
      (s, dir) => {
        import s.implicits._
        Dedup.minhashPairs(T(s, dir, "documents"), "doc_id", "text",
          nGram = 3, k = 6, bands = 3, threshold = 0.2)
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM w),
             |sig AS (SELECT doc_id, ss,
             |  [list_min(list_transform(ss, s -> md5('mh0:'||s))), list_min(list_transform(ss, s -> md5('mh1:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh2:'||s))), list_min(list_transform(ss, s -> md5('mh3:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh4:'||s))), list_min(list_transform(ss, s -> md5('mh5:'||s)))] AS sg
             |  FROM sh WHERE len(ss) > 0),
             |bands AS (SELECT doc_id, ss, u.b AS band, md5(sg[2*u.b+1] || '|' || sg[2*u.b+2]) AS bkey
             |  FROM sig, UNNEST(range(3)) AS u(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS jaccard
             |  FROM bands a JOIN bands b ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, jaccard FROM cand WHERE jaccard >= 0.2
             |ORDER BY doc_a, doc_b""".stripMargin),
      "MinHash(k=6) + LSH(3 bands of 2) + exact Jaccard verify — signatures reproduced bit-for-bit"),

    // ---- SimHash signatures (60-bit, md5-derived word hashes).
    QueryDef(
      "p3_simhash_sig",
      (s, dir) => {
        import s.implicits._
        Dedup.simhashSignatures(T(s, dir, "documents"), "doc_id", "text")
          .orderBy($"doc")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |h AS (SELECT doc_id, list_transform(words, x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT)) AS hs FROM w)
             |SELECT doc_id AS doc,
             |CAST(list_sum(list_transform(range(0,60), b -> CASE WHEN
             |  list_sum(list_transform(hs, v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |  THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS simhash
             |FROM h ORDER BY doc""".stripMargin),
      "60-bit SimHash per doc; per-bit majority vote of 60-bit md5 word hashes"),

    // ---- SimHash near-dup pairs via 15-bit chunk banding.
    QueryDef(
      "p4_simhash_pairs",
      (s, dir) => {
        import s.implicits._
        Dedup.simhashPairs(T(s, dir, "documents"), "doc_id", "text",
          maxHamming = 8, chunks = 4)
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |h AS (SELECT doc_id, list_transform(words, x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT)) AS hs FROM w),
             |sg AS (SELECT doc_id,
             |  list_sum(list_transform(range(0,60), b -> CASE WHEN
             |    list_sum(list_transform(hs, v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |    THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS simhash FROM h),
             |ch AS (SELECT doc_id, simhash, u.c AS chunk_id, (simhash >> (u.c*15)) & 32767 AS chunk_val
             |  FROM sg, UNNEST(range(4)) AS u(c)),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  bit_count(xor(a.simhash, b.simhash)) AS hamming
             |  FROM ch a JOIN ch b ON a.chunk_id=b.chunk_id AND a.chunk_val=b.chunk_val AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 8
             |ORDER BY doc_a, doc_b""".stripMargin),
      "SimHash LSH: 4x15-bit chunk join, Hamming<=8 verify (identical banding in oracle)"),

    // ---- Near-dup cluster assignment: connected components over the
    // simhash pair graph (min reachable id = canonical representative).
    // The oracle computes the same fixpoint via a recursive CTE.
    QueryDef(
      "p16_dedup_clusters",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val pairs = Dedup.simhashPairs(d, "doc_id", "text",
          maxHamming = 8, chunks = 4).select($"doc_a", $"doc_b")
        Dedup.clusters(d.select($"doc_id"), pairs)
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |h AS (SELECT doc_id, list_transform(words, x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT)) AS hs FROM w),
             |sg AS (SELECT doc_id,
             |  list_sum(list_transform(range(0,60), b -> CASE WHEN
             |    list_sum(list_transform(hs, v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |    THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS simhash FROM h),
             |ch AS (SELECT doc_id, simhash, u.c AS chunk_id, (simhash >> (u.c*15)) & 32767 AS chunk_val
             |  FROM sg, UNNEST(range(4)) AS u(c)),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  bit_count(xor(a.simhash, b.simhash)) AS hamming
             |  FROM ch a JOIN ch b ON a.chunk_id=b.chunk_id AND a.chunk_val=b.chunk_val AND a.doc_id < b.doc_id),
             |pr AS (SELECT doc_a, doc_b FROM cand WHERE hamming <= 8),
             |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
             |reach(src, dst) AS (SELECT src, dst FROM ed
             |  UNION SELECT r.src, e.dst FROM reach r JOIN ed e ON r.dst = e.src),
             |mr AS (SELECT src AS doc_id, min(dst) AS m FROM reach GROUP BY src)
             |SELECT d.doc_id, least(d.doc_id, coalesce(m.m, d.doc_id)) AS cluster_id
             |FROM documents d LEFT JOIN mr m ON d.doc_id = m.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      "near-dup cluster assignment: min-label connected components (O(diameter) join rounds)"),

    // ---- The EXTREME-SCALE CC path as its own catalog row (VERDICT r12
    // task 2): alternating large-star/small-star contraction (Kiveris
    // et al., SoCC 2014) over the SAME pair graph, against p16's
    // UNCHANGED oracle. The iteration geometry is the difference: p16's
    // min-label propagation walks a fixed edge list for O(log d)
    // pointer-jumped rounds; the star alternation CONTRACTS the edge
    // set geometrically, so on a 100 TB graph the heavy rounds are the
    // first two or three and every later round touches less data. Same
    // deterministic fixpoint, hash-identical output.
    QueryDef(
      "p16b_dedup_clusters_star",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val pairs = Dedup.simhashPairs(d, "doc_id", "text",
          maxHamming = 8, chunks = 4).select($"doc_a", $"doc_b")
        Dedup.clustersStar(d.select($"doc_id"), pairs)
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |h AS (SELECT doc_id, list_transform(words, x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT)) AS hs FROM w),
             |sg AS (SELECT doc_id,
             |  list_sum(list_transform(range(0,60), b -> CASE WHEN
             |    list_sum(list_transform(hs, v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |    THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS simhash FROM h),
             |ch AS (SELECT doc_id, simhash, u.c AS chunk_id, (simhash >> (u.c*15)) & 32767 AS chunk_val
             |  FROM sg, UNNEST(range(4)) AS u(c)),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  bit_count(xor(a.simhash, b.simhash)) AS hamming
             |  FROM ch a JOIN ch b ON a.chunk_id=b.chunk_id AND a.chunk_val=b.chunk_val AND a.doc_id < b.doc_id),
             |pr AS (SELECT doc_a, doc_b FROM cand WHERE hamming <= 8),
             |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
             |reach(src, dst) AS (SELECT src, dst FROM ed
             |  UNION SELECT r.src, e.dst FROM reach r JOIN ed e ON r.dst = e.src),
             |mr AS (SELECT src AS doc_id, min(dst) AS m FROM reach GROUP BY src)
             |SELECT d.doc_id, least(d.doc_id, coalesce(m.m, d.doc_id)) AS cluster_id
             |FROM documents d LEFT JOIN mr m ON d.doc_id = m.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      "the scale-path CC gated: large-star/small-star contraction, geometric edge-set shrinkage, hash-identical to p16's oracle"),

    // ---- Deterministic train/val/test split + sampling flag. rand()
    // would be unreproducible across runs/engines/partitionings; the
    // md5 bucket gives every doc a stable verdict (identical in DuckDB).
    QueryDef(
      "p17_hash_split",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "documents")
          .select($"doc_id",
            Sampling.hashSplit($"doc_id",
              Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
            Sampling.hashSample($"doc_id", 0.25).as("in_quarter_sample"))
          .orderBy($"doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
             |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 AS sb,
             |  CAST('0x'||substr(md5('sample:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 AS pb
             |  FROM documents)
             |SELECT doc_id,
             |CASE WHEN sb < 800 THEN 'train' WHEN sb < 900 THEN 'val' ELSE 'test' END AS split,
             |pb < 250 AS in_quarter_sample
             |FROM b ORDER BY doc_id""".stripMargin),
      "deterministic md5-bucket train/val/test split + Bernoulli sample flag"),

    // ---- Token-budget shard packing (distributed two-phase prefix sum;
    // the oracle's global running window states the same semantics).
    QueryDef(
      "p18_pack_shards",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
          .select($"doc_id", size(TextOps.tokens($"text")).as("tokens"))
        Packing.packShards(d, "doc_id", "tokens", budget = 2000L)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, len(string_split(text,' ')) AS tokens FROM documents),
             |p AS (SELECT doc_id, tokens,
             |  CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix FROM t)
             |SELECT doc_id, tokens, prefix // 2000 AS shard_id,
             |prefix % 2000 AS shard_offset FROM p ORDER BY doc_id""".stripMargin),
      "token-budget shard packing: global prefix sum as a distributed two-phase scan, exact integer div/mod"),

    // ---- Repetition capping: per-source quality quota (partitioned
    // window — groups rank in parallel; the domain-quota op of
    // web-corpus curation).
    QueryDef(
      "p19_source_cap",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
          .select($"doc_id", $"source",
            TextAnalysis.qualityScore(TextOps.tokens($"text")).as("quality"))
        Sampling.capPerGroup(d, "source",
          Seq($"quality".desc, $"doc_id"), n = 10)
          .select($"doc_id", $"source", $"quality", $"rk")
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, source, string_split(text,' ') AS words FROM documents),
             |q AS (SELECT doc_id, source,
             |0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE))
             |+ 0.3 * least((CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) / 8.0, 1.0)
             |+ 0.3 * least((CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) * 3.0, 1.0)
             |AS quality FROM w),
             |r AS (SELECT doc_id, source, quality,
             |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk FROM q)
             |SELECT doc_id, source, quality, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 10
             |ORDER BY doc_id""".stripMargin),
      "repetition capping: top-10 docs per source by quality (parallel partitioned window)"),

    // ---- Benchmark decontamination: training docs sharing >=1 3-gram
    // with the held-out split (both sides reduced to md5 hashes before
    // the join; composes p17's deterministic split).
    QueryDef(
      "p20_contamination",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
          .withColumn("split", Sampling.hashSplit($"doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        Contamination.shingleHits(
          d.where($"split" === "train"), d.where($"split" === "test"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sp AS (SELECT doc_id,
             |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 AS sb FROM documents),
             |sh AS (SELECT w.doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> md5(words[i]||' '||words[i+1]||' '||words[i+2]))
             |  ELSE [] END) AS hs FROM w),
             |tr AS (SELECT s.doc_id, u.h FROM sh s JOIN sp ON sp.doc_id = s.doc_id AND sp.sb < 800, UNNEST(s.hs) AS u(h)),
             |te AS (SELECT DISTINCT u.h FROM sh s JOIN sp ON sp.doc_id = s.doc_id AND sp.sb >= 900, UNNEST(s.hs) AS u(h))
             |SELECT tr.doc_id, COUNT(*) AS n_hits FROM tr JOIN te ON tr.h = te.h
             |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin),
      "decontamination: train docs sharing 3-grams with the test split (hash-only join)"),

    // ---- Boilerplate fraction: corpus-frequent shingles per doc (the
    // repeated-template signal; document frequency = hash groupBy).
    QueryDef(
      "p21_boilerplate",
      (s, dir) => {
        import s.implicits._
        Contamination.boilerplateStats(T(s, dir, "documents"),
          nGram = 5, minDf = 10)
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT w.doc_id, u.h FROM w, UNNEST(list_distinct(CASE WHEN len(words)>=5
             |  THEN list_transform(range(1, len(words)-3), i -> md5(words[i]||' '||words[i+1]||' '||words[i+2]||' '||words[i+3]||' '||words[i+4]))
             |  ELSE [] END)) AS u(h)),
             |df AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
             |SELECT sh.doc_id, COUNT(*) AS n_shingles,
             |CAST(SUM(CASE WHEN df.df >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
             |CAST(SUM(CASE WHEN df.df >= 10 THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*) AS boiler_frac
             |FROM sh JOIN df ON df.h = sh.h GROUP BY sh.doc_id
             |ORDER BY sh.doc_id""".stripMargin),
      "boilerplate fraction: share of corpus-frequent 5-gram shingles per doc"),

    // ---- n-gram Jaccard calibration over consecutive doc pairs.
    QueryDef(
      "p5_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val sh = d.select($"doc_id",
          array_distinct(TextOps.shingles(TextOps.tokens($"text"), 3)).as("ss"))
        val a = sh.as("a")
        val b = sh.as("b")
        a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            TextOps.jaccard(col("a.ss"), col("b.ss")).as("jaccard"))
          .orderBy($"doc_a")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM w)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS jaccard
             |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
             |ORDER BY doc_a""".stripMargin),
      "3-gram shingle-set Jaccard (exact int/int division)"),

    // ---- Embedding near-dup pairs (quantized cosine, label-blocked),
    // behind the block-size guard: labels stay on the exact salted path
    // until a block exceeds maxBlock=4000 rows (b² comparisons), then
    // divert through sign-bucket sub-blocking with the same exact
    // verify. At sf<=1 no label trips (<=~2200 rows/label), so the
    // oracle below is the plain exact computation; at sf10 (~22k
    // rows/label) every label diverts and the catalog's former
    // quadratic hotspot drops to the sub-blocked cost (raise `planes`
    // with corpus size to keep per-bucket populations flat at 100x).
    QueryDef(
      "p6_embed_cosine_pairs",
      (s, dir) => {
        import s.implicits._
        Similarity.cosinePairsGuarded(T(s, dir, "embeddings"), "label", 0.4)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH q AS (SELECT vec_id, label,
             |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |     CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |FROM q a, q b WHERE a.label=b.label AND a.vec_id < b.vec_id
             |AND CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |     CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) > 0.4
             |ORDER BY id_a, id_b""".stripMargin),
      "embedding near-dup: exact integer-quantized cosine, blocked on label"),

    // ---- Embedding near-dup pairs, LSH-blocked (the label-free scale
    // path for p6: candidate pairs only within 2^6 sign buckets).
    QueryDef(
      "p6b_embed_cosine_lsh",
      (s, dir) => {
        import s.implicits._
        Similarity.cosinePairsLsh(T(s, dir, "embeddings"), 0.4, planes = 6)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH q AS (SELECT vec_id,
             |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |bk AS (SELECT vec_id, qv,
             |  (CASE WHEN qv[1]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[2]>=0 THEN '1' ELSE '0' END)||
             |  (CASE WHEN qv[3]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[4]>=0 THEN '1' ELSE '0' END)||
             |  (CASE WHEN qv[5]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[6]>=0 THEN '1' ELSE '0' END) AS blk FROM q)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |     CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |FROM bk a, bk b WHERE a.blk=b.blk AND a.vec_id < b.vec_id
             |AND CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |     CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) > 0.4
             |ORDER BY id_a, id_b""".stripMargin),
      "embedding near-dup: exact quantized cosine, sign-bucket LSH blocking (no metadata column)"),

    // ---- Brute-force ANN top-k (the exact baseline).
    QueryDef(
      "p7_ann_brute",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        Similarity.bruteForceTopK(em.filter($"vec_id" < 10), em, 5)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM q a, q b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin),
      "brute-force cosine top-5 for 10 query vectors (broadcast queries, corpus never shuffles)"),

    // ---- IVF(-flat) ANN: Voronoi cells of a deterministic pivot set,
    // nProbe-cell probe. The oracle reproduces the identical assignment
    // (argmax quantized cosine, lowest-pivot tiebreak) in SQL.
    QueryDef(
      "p7b_ann_ivf",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        Similarity.ivfTopK(em.filter($"vec_id" < 10), em, 3,
          nPivots = 8, nProbe = 2)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |piv AS (SELECT vec_id AS pivot_id, qv AS pv FROM q WHERE vec_id < 8),
             |aff AS (SELECT c.vec_id, p.pivot_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> c.qv[i]*p.pv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> c.qv[i]*c.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> p.pv[i]*p.pv[i])) AS DOUBLE)) AS acos
             |  FROM q c, piv p),
             |rnk AS (SELECT vec_id, pivot_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY acos DESC, pivot_id) AS rn FROM aff),
             |cells AS (SELECT vec_id, pivot_id AS cell FROM rnk WHERE rn = 1),
             |probes AS (SELECT vec_id, pivot_id AS cell FROM rnk WHERE rn <= 2 AND vec_id < 10),
             |scored AS (SELECT pr.vec_id AS query_id, cb.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qa.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> qb.qv[i]*qb.qv[i])) AS DOUBLE)) AS cos
             |  FROM probes pr JOIN cells cb ON cb.cell = pr.cell AND cb.vec_id <> pr.vec_id
             |  JOIN q qa ON qa.vec_id = pr.vec_id JOIN q qb ON qb.vec_id = cb.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin),
      "IVF ANN: 8 Voronoi cells from deterministic pivots, 2-cell probe, literal-folded assignment (no join)"),

    // ---- Persisted IVF index probe: assignment written once into
    // cell= partitions, probes read only the probed cells' directories.
    // Same assignment semantics as p7b -> same oracle.
    QueryDef(
      "p7c_ann_ivf_prebucket",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val nPivots = 8 // layout parameter -> part of the index identity
        val idx = cachedArtifact(dir, "embeddings", s"ivfidx-p$nPivots") {
          b => Similarity.writeIvfCorpus(em, b.out.toString, nPivots = nPivots)
        }
        Similarity.probeIvfTopK(s, em.filter($"vec_id" < 10),
          idx.toString, 3, nProbe = 2)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |piv AS (SELECT vec_id AS pivot_id, qv AS pv FROM q WHERE vec_id < 8),
             |aff AS (SELECT c.vec_id, p.pivot_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> c.qv[i]*p.pv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> c.qv[i]*c.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> p.pv[i]*p.pv[i])) AS DOUBLE)) AS acos
             |  FROM q c, piv p),
             |rnk AS (SELECT vec_id, pivot_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY acos DESC, pivot_id) AS rn FROM aff),
             |cells AS (SELECT vec_id, pivot_id AS cell FROM rnk WHERE rn = 1),
             |probes AS (SELECT vec_id, pivot_id AS cell FROM rnk WHERE rn <= 2 AND vec_id < 10),
             |scored AS (SELECT pr.vec_id AS query_id, cb.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qa.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> qb.qv[i]*qb.qv[i])) AS DOUBLE)) AS cos
             |  FROM probes pr JOIN cells cb ON cb.cell = pr.cell AND cb.vec_id <> pr.vec_id
             |  JOIN q qa ON qa.vec_id = pr.vec_id JOIN q qb ON qb.vec_id = cb.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin),
      "persisted IVF index: cell-partitioned corpus, partition-pruned nProbe probe"),

    // ---- LSH-bucketed ANN (sign-bit hyperplane buckets).
    QueryDef(
      "p8_ann_lsh",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        Similarity.lshTopK(em.filter($"vec_id" < 10), em, 3, planes = 4)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |bk AS (SELECT vec_id, qv,
             |  (CASE WHEN qv[1]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[2]>=0 THEN '1' ELSE '0' END)||
             |  (CASE WHEN qv[3]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[4]>=0 THEN '1' ELSE '0' END) AS bucket FROM q),
             |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM bk a, bk b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id AND a.bucket = b.bucket AND a.qv <> b.qv),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin),
      "sign-bucket LSH ANN: 2^4 buckets, probe own bucket only (identical bucketing in oracle)"),

    // ---- ANN recall evaluation: LSH top-3 scored against brute-force
    // truth — the tuning metric behind every plane-count decision.
    QueryDef(
      "p8c_ann_recall",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val q = em.filter($"vec_id" < 10)
        Similarity.recallAtK(
          Similarity.lshTopK(q, em, 3, planes = 4),
          Similarity.bruteForceTopK(q, em, 3), k = 3)
          .orderBy($"query_id")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |bk AS (SELECT vec_id, qv,
             |  (CASE WHEN qv[1]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[2]>=0 THEN '1' ELSE '0' END)||
             |  (CASE WHEN qv[3]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[4]>=0 THEN '1' ELSE '0' END) AS bucket FROM q),
             |bscored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM q a, q b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
             |truth AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM bscored) WHERE rank <= 3),
             |lscored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM bk a, bk b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id AND a.bucket = b.bucket AND a.qv <> b.qv),
             |approx AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM lscored) WHERE rank <= 3)
             |SELECT t.query_id, CAST(COUNT(a.neighbor_id) AS DOUBLE)/3.0 AS recall
             |FROM truth t LEFT JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
             |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin),
      "ANN recall@3: sign-bucket LSH vs brute-force truth per query"),

    // ---- Pre-bucketed ANN index probe (the write-once/probe-many scale
    // path): corpus indexed ONCE into bucket= partitions, probe reads
    // only the probed buckets' directories (partition pruning) with
    // Hamming-1 multi-probe on plane 0 for recall.
    QueryDef(
      "p8b_ann_prebucket",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val planes = 4 // layout parameter -> part of the index identity
        val idx = cachedArtifact(dir, "embeddings", s"annidx-p$planes") {
          b => Similarity.writeBucketedCorpus(em, b.out.toString, planes = planes)
        }
        Similarity.probeBucketedTopK(s, em.filter($"vec_id" < 10),
          idx.toString, 3, planes = planes, multiProbe = 1)
          .orderBy($"query_id", $"rank")
      },
      Some(annPrebucketOracle),
      "persisted sign-bucket ANN index: partition-pruned probe + Hamming-1 multi-probe"),

    // ---- Token statistics.
    QueryDef(
      "p9_token_stats",
      (s, dir) => {
        import s.implicits._
        val words = TextOps.tokens($"text")
        T(s, dir, "documents")
          .select($"doc_id",
            TextAnalysis.tokenCount(words).as("n_tokens"),
            size(array_distinct(words)).as("n_uniq"),
            TextAnalysis.subwordCountEstimate($"text").as("subword_est"),
            length($"text").as("len"))
          .orderBy($"doc_id")
      },
      Some(s"""$W
              |SELECT w.doc_id, len(words) AS n_tokens,
              |len(list_distinct(words)) AS n_uniq,
              |CAST(list_sum(list_transform(words, x -> greatest(CAST(ceil(len(x)/6.0) AS BIGINT), 1))) AS BIGINT) AS subword_est,
              |len(d.text) AS len
              |FROM w JOIN documents d ON w.doc_id = d.doc_id
              |ORDER BY w.doc_id""".stripMargin),
      "token counting: whitespace + BPE-ish subword estimate"),

    // ---- Quality scoring.
    QueryDef(
      "p10_quality",
      (s, dir) => {
        import s.implicits._
        val words = TextOps.tokens($"text")
        T(s, dir, "documents")
          .select($"doc_id", TextAnalysis.qualityScore(words).as("quality"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents)
             |SELECT doc_id,
             |0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE))
             |+ 0.3 * least((CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) / 8.0, 1.0)
             |+ 0.3 * least((CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) * 3.0, 1.0)
             |AS quality
             |FROM w ORDER BY doc_id""".stripMargin),
      "quality score: repetition + word-length + stopword ratios (deterministic double math)"),

    // ---- Language-ID heuristic.
    QueryDef(
      "p11_langid",
      (s, dir) => {
        import s.implicits._
        val words = TextOps.tokens($"text")
        T(s, dir, "documents")
          .select($"doc_id", $"lang".as("labeled"),
            TextAnalysis.predictLang(words).as("pred"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS words FROM documents),
             |sc AS (SELECT doc_id, lang,
             |  CAST(len(list_filter(words, x -> list_contains(['der','die','das','und','ist','ein','zu'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_de,
             |  CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_en,
             |  CAST(len(list_filter(words, x -> list_contains(['el','la','los','y','es','un','una'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_es,
             |  CAST(len(list_filter(words, x -> list_contains(['le','la','les','et','est','un','une'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_fr
             |  FROM w)
             |SELECT doc_id, lang AS labeled,
             |CASE WHEN greatest(s_de,s_en,s_es,s_fr) >= 0.05 THEN
             |  (CASE WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 'de'
             |        WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 'en'
             |        WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 'es'
             |        ELSE 'fr' END)
             |ELSE 'und' END AS pred
             |FROM sc ORDER BY doc_id""".stripMargin),
      "stopword-overlap language heuristic, argmax with evidence floor"),

    // ---- Document fingerprinting.
    QueryDef(
      "p12_fingerprint",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "documents")
          .select($"doc_id",
            TextOps.fingerprint(TextOps.tokens($"text")).as("fp"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents)
             |SELECT doc_id, CASE WHEN len(words) >= 5 THEN
             |  list_min(list_transform(range(1, len(words)-3), i ->
             |    md5(words[i]||' '||words[i+1]||' '||words[i+2]||' '||words[i+3]||' '||words[i+4])))
             |ELSE md5(array_to_string(words,' ')) END AS fp
             |FROM w ORDER BY doc_id""".stripMargin),
      "winnowing-style min-hash fingerprint over 5-gram shingles"),

    // ---- Multimodal: binary payload + typed metadata.
    QueryDef(
      "p13_media_meta",
      (s, dir) => {
        import s.implicits._
        Multimodal.asMedia(T(s, dir, "documents"), "doc_id", "text")
          .select($"media_id", $"mime", $"n_bytes",
            upper(hex(substring($"payload", 1, 8))).as("header_hex"))
          .orderBy($"media_id")
      },
      Some("""SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
             |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |upper(hex(encode(substring(text, 1, 8)))) AS header_hex
             |FROM documents ORDER BY media_id""".stripMargin),
      "opaque binary column + typed metadata (schema plumbing for image/audio payloads)"),

    // ---- Multimodal: REAL image decode. PNG fixtures are generated
    // executor-side (dims derived from doc fields), then decoded back
    // with the JDK's javax.imageio through the batched-codec plumbing;
    // the oracle recomputes the fixture dimensions from the same
    // formulas — so a decoder that misread actual pixel dims would
    // hash-mismatch. feature_hash is payload md5 (PNG bytes aren't
    // reproducible in SQL), so the output carries dims only.
    QueryDef(
      "p14_decode_png",
      (s, dir) => {
        import s.implicits._
        val dims = T(s, dir, "documents")
          .select($"doc_id",
            (lit(8) + $"n_chars" % 48).cast("int").as("w"),
            (lit(8) + $"doc_id" % 32).cast("int").as("h"))
        val media = cachedMedia(s, dir, "png-id-v1")(
          Multimodal.encodePng(dims, "doc_id", "w", "h"))
        Multimodal.decodeBatched(media, codec = Multimodal.imageIoCodec)
          .select($"media_id", $"width", $"height")
          .orderBy($"media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |CAST(8 + n_chars % 48 AS INTEGER) AS width,
             |CAST(8 + doc_id % 32 AS INTEGER) AS height
             |FROM documents ORDER BY media_id""".stripMargin),
      "real javax.imageio PNG decode through the batched-codec plumbing; dims vs fixture oracle"),

    // ---- Multimodal: frame sampling fan-out.
    QueryDef(
      "p15_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = T(s, dir, "documents")
          .select($"doc_id".as("media_id"), ($"n_chars" % 50 + 10).as("n_frames"))
        Multimodal.sampleFrames(media, "n_frames", 7)
          .orderBy($"media_id", $"frame_idx")
      },
      Some("""SELECT doc_id AS media_id, u.f AS frame_idx,
             |md5(CAST(doc_id AS VARCHAR) || ':' || CAST(u.f AS VARCHAR)) AS frame_key
             |FROM documents, UNNEST(range(0, n_chars % 50 + 10, 7)) AS u(f)
             |ORDER BY media_id, frame_idx""".stripMargin),
      "every-7th-frame sampling plan: generator fan-out, deterministic frame keys"),

    // ---- Corpus vocabulary: top-100 tokens by total frequency with
    // document frequency. Tokens partial-aggregate map-side, so the
    // shuffle carries (token, counts) bounded by vocabulary size.
    QueryDef(
      "p22_vocab",
      (s, dir) => {
        import s.implicits._
        graft.pipeline.Vocab.topVocab(T(s, dir, "documents"), "doc_id", "text", 100)
      },
      Some("""SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
             |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |      FROM documents) t
             |GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin),
      "corpus vocabulary: term + document frequency, top-100 by tf"),

    // ---- Per-document distinctive terms: rank-based tf-idf (tf desc,
    // corpus df asc) — no float logarithms, bit-exact across engines.
    // The vocabulary-sized df table broadcasts back onto per-doc counts.
    QueryDef(
      "p23_top_terms",
      (s, dir) => {
        import s.implicits._
        graft.pipeline.Vocab.topTermsPerDoc(T(s, dir, "documents"), "doc_id", "text", 3)
          .orderBy($"doc", $"rank")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
             |pd AS (SELECT doc_id AS doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dft AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
             |r AS (SELECT pd.doc, pd.token, pd.tf, dft.df,
             |  ROW_NUMBER() OVER (PARTITION BY pd.doc
             |    ORDER BY pd.tf DESC, dft.df ASC, pd.token) AS rank
             |  FROM pd JOIN dft USING (token))
             |SELECT doc, rank, token, tf, df FROM r WHERE rank <= 3
             |ORDER BY doc, rank""".stripMargin),
      "per-doc top-3 distinctive terms: rank-based tf-idf, broadcast df join"),

    // ---- PII scrubbing: email + digit-run masking over the raw JSON
    // props (codegen'd regexp_replace chain; identical RE2-safe patterns
    // run in the oracle). n_digits audits how much was masked.
    QueryDef(
      "p24_pii_scrub",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "events")
          .select($"event_id",
            graft.pipeline.TextOps.scrubPii($"props").as("scrubbed"),
            graft.pipeline.TextOps.digitCount($"props").as("n_digits"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
             |regexp_replace(regexp_replace(props,
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |  '[0-9]+', '<NUM>', 'g') AS scrubbed,
             |CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
             |FROM events ORDER BY event_id""".stripMargin),
      "PII scrub: email + digit-run masking, digit-count audit"),

    // ---- Corpus length histogram (100-char buckets) with per-bucket
    // token totals — the length-filter calibration view every data
    // pipeline starts from. Pure partial-agg'd groupBy on a derived
    // integer key; shuffle carries |buckets| rows.
    QueryDef(
      "p25_length_hist",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "documents")
          .groupBy(floor($"n_chars" / 100).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(graft.pipeline.TextOps.tokens($"text")).cast("long"))
              .as("n_tokens"))
          .orderBy($"bucket")
      },
      Some("""SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
             |COUNT(*) AS n_docs,
             |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin),
      "document length histogram: 100-char buckets, doc + token counts"),

    // ---- Stratified balanced sampling: thin over-represented languages
    // to ~cap docs each via the md5 keep-rate (group counts broadcast
    // back; the corpus never shuffles — one scan + map-side filter).
    QueryDef(
      "p26_balanced_sample",
      (s, dir) => {
        import s.implicits._
        Sampling.balancedSample(T(s, dir, "documents"), "lang", "doc_id", 50)
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
             |t AS (SELECT lang, (least(CAST(50 AS BIGINT), n) * 1000) // n AS th FROM c),
             |b AS (SELECT doc_id, lang,
             |  CAST('0x'||substr(md5('balance:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 AS hb
             |  FROM documents)
             |SELECT b.doc_id, b.lang FROM b JOIN t USING(lang)
             |WHERE b.hb < t.th ORDER BY b.doc_id""".stripMargin),
      "language rebalancing: deterministic md5 keep-rate thins each lang to ~50 docs, no data shuffle"),

    // ---- Unigram-LM quality score (perplexity proxy): add-one-smoothed
    // corpus unigram LM, per-doc mean log-prob. Token log-probs are
    // quantized to integer micro-nats before summing, so the score is
    // order-free and engine-exact; the LM is vocab-sized and broadcast.
    QueryDef(
      "p27_unigram_logprob",
      (s, dir) => {
        import s.implicits._
        Vocab.unigramLogProb(T(s, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |t AS (SELECT w.doc_id, u.tok FROM w, UNNEST(w.ws) AS u(tok)),
             |v AS (SELECT tok, COUNT(*) AS tf FROM t GROUP BY tok),
             |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n, COUNT(*) AS vsz FROM v),
             |lp AS (SELECT tok,
             |  CAST(floor(ln((CAST(tf AS DOUBLE) + 1.0) / (CAST(n AS DOUBLE) + CAST(vsz AS DOUBLE))) * 1000000.0) AS BIGINT) AS lpq
             |  FROM v, tot)
             |SELECT t.doc_id, COUNT(*) AS n_tokens, CAST(SUM(lp.lpq) AS BIGINT) AS lp_sum,
             |CAST(SUM(lp.lpq) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS mean_logprob
             |FROM t JOIN lp ON t.tok = lp.tok
             |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
      "perplexity-proxy quality score: mean unigram log-prob in exact micro-nats (broadcast LM)"),

    // ---- kNN label propagation: majority label of the 5 nearest
    // labeled neighbors (exact quantized cosine; queries broadcast, the
    // labeled corpus never shuffles for scoring). The gated exact truth
    // runs over a BOUNDED deterministic query sample (~128 at any SF):
    // exact scoring is O(|queries| x |corpus|) by semantics, so the
    // query set must not scale with the corpus — an unbounded %10 slice
    // made this the largest line of the sf10 curve (88 s) and would not
    // survive another 10x. The md5 keep-rate mirrors p26's
    // quantized-threshold pattern; at the sf0.01 gate the threshold
    // saturates and every %10 query is kept, so the sample changes
    // nothing where the corpus is small. |q| is a one-row driver scalar
    // (admission math, not data movement).
    QueryDef(
      "p28_knn_label",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val qAll = em.filter($"vec_id" % 10 === 0)
        val nq = qAll.count()
        val th = math.min(1000000L, 128L * 1000000L / math.max(1L, nq))
        val q = qAll.filter(
          conv(substring(md5(concat(lit("knn:"), $"vec_id".cast("string"))),
            1, 8), 16, 10).cast("long") % 1000000L < th)
        Similarity.knnClassify(q, em.filter($"vec_id" % 10 =!= 0), 5)
          .orderBy($"query_id")
      },
      Some("""WITH q AS (SELECT vec_id, label,
             |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |th AS (SELECT least(CAST(1000000 AS BIGINT), 128000000 // GREATEST(COUNT(*), 1)) AS t
             |  FROM embeddings WHERE vec_id % 10 = 0),
             |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS nbr_label,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM q a JOIN q b ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
             |  WHERE CAST('0x'||substr(md5('knn:'||CAST(a.vec_id AS VARCHAR)),1,8) AS BIGINT) % 1000000 < (SELECT t FROM th)),
             |ranked AS (SELECT query_id, neighbor_id, nbr_label,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored),
             |votes AS (SELECT query_id, nbr_label, COUNT(*) AS votes FROM ranked
             |  WHERE rank <= 5 GROUP BY query_id, nbr_label),
             |best AS (SELECT query_id, nbr_label, votes,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, nbr_label) AS rk FROM votes)
             |SELECT query_id, nbr_label AS pred_label, votes FROM best WHERE rk = 1
             |ORDER BY query_id""".stripMargin),
      "kNN label propagation: majority vote of 5 nearest labeled neighbors over a bounded deterministic query sample, smaller-label tiebreak"),

    // ---- p28's sampling branch FORCED sub-saturation: at the
    // correctness-gate SF p28's ~128-query threshold saturates (every
    // %10 query kept), so the Spark conv(md5)/DuckDB CAST('0x'||…)
    // hash-sampling equivalence was only exercised where it filtered
    // nothing. This entry targets ~8 queries, so the threshold BITES at
    // every SF and the two sampling expressions are pinned against each
    // other exactly where they disagree if wrong. Same kNN semantics.
    QueryDef(
      "p28b_knn_sampled",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val qAll = em.filter($"vec_id" % 10 === 0)
        val nq = qAll.count()
        val th = math.min(1000000L, 8L * 1000000L / math.max(1L, nq))
        val q = qAll.filter(
          conv(substring(md5(concat(lit("knn:"), $"vec_id".cast("string"))),
            1, 8), 16, 10).cast("long") % 1000000L < th)
        Similarity.knnClassify(q, em.filter($"vec_id" % 10 =!= 0), 5)
          .orderBy($"query_id")
      },
      Some("""WITH q AS (SELECT vec_id, label,
             |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |th AS (SELECT least(CAST(1000000 AS BIGINT), 8000000 // GREATEST(COUNT(*), 1)) AS t
             |  FROM embeddings WHERE vec_id % 10 = 0),
             |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS nbr_label,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM q a JOIN q b ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
             |  WHERE CAST('0x'||substr(md5('knn:'||CAST(a.vec_id AS VARCHAR)),1,8) AS BIGINT) % 1000000 < (SELECT t FROM th)),
             |ranked AS (SELECT query_id, neighbor_id, nbr_label,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored),
             |votes AS (SELECT query_id, nbr_label, COUNT(*) AS votes FROM ranked
             |  WHERE rank <= 5 GROUP BY query_id, nbr_label),
             |best AS (SELECT query_id, nbr_label, votes,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, nbr_label) AS rk FROM votes)
             |SELECT query_id, nbr_label AS pred_label, votes FROM best WHERE rk = 1
             |ORDER BY query_id""".stripMargin),
      "p28's md5 query sampler forced sub-saturation (~8 queries): Spark conv(md5) == DuckDB CAST('0x'||…) pinned where the filter bites"),

    // ---- BPE tokenizer-training statistics: top adjacent character
    // pairs by tf-weighted frequency. Pairs explode from the DISTINCT
    // token table (vocab ≪ corpus), so corpus text partial-aggs away
    // map-side and only (pair, partial sum) shuffles; top-k is
    // TakeOrdered, not a full sort.
    QueryDef(
      "p29_bpe_pairs",
      (s, dir) => {
        import s.implicits._
        Vocab.bpePairCounts(T(s, dir, "documents"), "doc_id", "text")
          .orderBy($"n".desc, $"pair")
          .limit(50)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |t AS (SELECT u.tok FROM w, UNNEST(w.ws) AS u(tok)),
             |v AS (SELECT tok, COUNT(*) AS tf FROM t GROUP BY tok),
             |p AS (SELECT tf, substr(tok, CAST(r.i AS INTEGER), 2) AS pair
             |  FROM v, UNNEST(range(1, len(tok))) AS r(i) WHERE len(tok) >= 2)
             |SELECT pair, CAST(SUM(tf) AS BIGINT) AS n FROM p GROUP BY pair
             |ORDER BY n DESC, pair LIMIT 50""".stripMargin),
      "BPE merge-step statistics: tf-weighted adjacent char-pair counts off the vocab, top-50"),

    // ---- HLL distinct-count sketch vs exact, one row. The sketch is
    // md5-deterministic (same buckets/rhos in DuckDB); at 100 TB the
    // exact side is the one that stops scaling — the sketch's per-
    // partition state is 512 ints regardless of input size.
    QueryDef(
      "p30_hll_distinct",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        graft.pipeline.Sketch.hllSummary(d, "text")
          .crossJoin(d.agg(countDistinct($"text").as("exact_distinct")))
      },
      Some(s"""WITH h AS (SELECT CAST('0x'||substr(md5(text),1,8) AS BIGINT) AS v FROM documents),
             |r AS (SELECT v >> 23 AS bucket,
             |  CASE WHEN (v & 8388607) = 0 THEN 24
             |       ELSE 24 - length(bin(v & 8388607)) END AS rho FROM h),
             |g AS (SELECT bucket, MAX(rho) AS mrho FROM r GROUP BY bucket),
             |st AS (SELECT COUNT(*) AS used_buckets,
             |  CAST(SUM(CAST(1 AS BIGINT) << (24 - mrho)) AS BIGINT) AS sp FROM g),
             |raw AS (SELECT used_buckets, 512 - used_buckets AS zero_buckets,
             |  sp + (512 - used_buckets) * 16777216 AS sum_scaled,
             |  ${graft.pipeline.Sketch.K} / CAST(sp + (512 - used_buckets) * 16777216 AS DOUBLE) AS estimate
             |  FROM st)
             |SELECT used_buckets, zero_buckets, sum_scaled, estimate,
             |CASE WHEN zero_buckets > 0 AND estimate <= 1280.0
             |  THEN 512.0 * ln(512.0 / CAST(zero_buckets AS DOUBLE))
             |  ELSE estimate END AS estimate_corrected,
             |(SELECT COUNT(DISTINCT text) FROM documents) AS exact_distinct
             |FROM raw""".stripMargin),
      "deterministic md5-HLL cardinality sketch (512 buckets, exact integer path) vs exact distinct"),

    // ---- End-to-end curation pipeline: quality filter → exact dedup →
    // train/val/test split → token-budget shard packing for the train
    // split, ONE composed plan. The composition is the point: every
    // stage is the catalog operator (p10/p1/p17/p18) applied in
    // sequence, and text is projected away before the first shuffle —
    // downstream stages move only (id, hash, quality, tokens).
    QueryDef(
      "p31_curation_e2e",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
          .select($"doc_id", $"text",
            TextAnalysis.qualityScore(TextOps.tokens($"text")).as("quality"),
            size(TextOps.tokens($"text")).cast("long").as("tokens"))
        val kept = d.where($"quality" >= 0.40)
          .select($"doc_id", md5($"text").as("h"), $"quality", $"tokens")
        val wd = org.apache.spark.sql.expressions.Window
          .partitionBy($"h").orderBy($"doc_id")
        val clean = kept.withColumn("rn", row_number().over(wd))
          .where($"rn" === 1)
          .select($"doc_id", $"quality", $"tokens",
            Sampling.hashSplit($"doc_id",
              Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        val shards = Packing.packShards(
          clean.where($"split" === "train"), "doc_id", "tokens", 2000L)
          .select($"doc_id", $"shard_id")
        clean.join(shards, Seq("doc_id"), "left")
          .select($"doc_id", $"quality", $"tokens", $"split", $"shard_id")
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
             |q AS (SELECT doc_id, text, CAST(len(words) AS BIGINT) AS tokens,
             |  0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE))
             |  + 0.3 * least((CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) / 8.0, 1.0)
             |  + 0.3 * least((CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) * 3.0, 1.0)
             |  AS quality FROM w),
             |k AS (SELECT doc_id, md5(text) AS h, quality, tokens FROM q WHERE quality >= 0.40),
             |c AS (SELECT doc_id, quality, tokens,
             |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM k),
             |cl AS (SELECT doc_id, quality, tokens,
             |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 AS sb
             |  FROM c WHERE rn = 1),
             |sp AS (SELECT doc_id, quality, tokens,
             |  CASE WHEN sb < 800 THEN 'train' WHEN sb < 900 THEN 'val' ELSE 'test' END AS split FROM cl),
             |tr AS (SELECT doc_id,
             |  CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
             |  FROM sp WHERE split = 'train')
             |SELECT sp.doc_id, sp.quality, sp.tokens, sp.split,
             |tr.prefix // 2000 AS shard_id
             |FROM sp LEFT JOIN tr ON sp.doc_id = tr.doc_id
             |ORDER BY sp.doc_id""".stripMargin),
      "end-to-end curation: quality filter -> exact dedup -> split -> train shard packing, one plan"),

    // ---- Corpus snapshot diff: full-outer reconciliation of two
    // dataset versions by doc id, comparing md5 content — the
    // added/removed/changed accounting between corpus releases. Both
    // sides collapse to (id, hash) BEFORE the join: the shuffle carries
    // fixed-width keys, never text. Snapshot B is derived
    // deterministically (drop doc_id%17==0, re-case doc_id%13==0) so
    // the oracle reproduces it exactly.
    QueryDef(
      "p32_snapshot_diff",
      (s, dir) => {
        import s.implicits._
        val a = T(s, dir, "documents")
          .select($"doc_id".as("id_a"), md5($"text").as("h_a"))
        val d = T(s, dir, "documents")
        val b = d.where($"doc_id" % 17 =!= 0)
          .select($"doc_id".as("id_b"),
            md5(when($"doc_id" % 13 === 0, upper($"text"))
              .otherwise($"text")).as("h_b"))
          .unionAll(d.where($"doc_id" % 19 === 0) // new docs in B: negative
            // ids are disjoint from real ids (>= 0) at EVERY scale factor
            .select((-$"doc_id" - 1L).as("id_b"), md5($"text").as("h_b")))
        a.join(b, $"id_a" === $"id_b", "full_outer")
          .select(coalesce($"id_a", $"id_b").as("doc_id"),
            when($"id_a".isNull, "added")
              .when($"id_b".isNull, "removed")
              .when($"h_a" =!= $"h_b", "changed")
              .otherwise("same").as("status"))
          .groupBy($"status")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"status")
      },
      Some("""WITH a AS (SELECT doc_id AS id_a, md5(text) AS h_a FROM documents),
             |b AS (SELECT doc_id AS id_b,
             |  md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS h_b
             |  FROM documents WHERE doc_id % 17 <> 0
             |  UNION ALL
             |  SELECT -doc_id - 1, md5(text) FROM documents WHERE doc_id % 19 = 0)
             |SELECT CASE WHEN id_a IS NULL THEN 'added'
             |  WHEN id_b IS NULL THEN 'removed'
             |  WHEN h_a <> h_b THEN 'changed' ELSE 'same' END AS status,
             |COUNT(*) AS n_docs
             |FROM a FULL OUTER JOIN b ON id_a = id_b
             |GROUP BY status ORDER BY status""".stripMargin),
      "corpus snapshot diff: added/removed/changed/same accounting via hash-only full-outer join"),

    // ---- Resize planning on REAL decoded media (VERDICT r13 task 4 —
    // the last decodeStub call site, retired): the p14 PNG fixture is
    // decoded back through javax.imageio, then aspect-preserving fit
    // into a 48x40 box in integer permille arithmetic (never upscales).
    // The byte resample lives in the batched codec; the planning is a
    // pure projection over the decode output — and the oracle
    // recomputes the fixture dims from their generating formulas, so a
    // decoder that misread actual pixel dimensions hash-mismatches.
    QueryDef(
      "p33_resize_dims",
      (s, dir) => {
        import s.implicits._
        val dims = T(s, dir, "documents")
          .select($"doc_id",
            (lit(8) + $"n_chars" % 48).cast("int").as("w"),
            (lit(8) + $"doc_id" % 32).cast("int").as("h"))
        val media = cachedMedia(s, dir, "png-id-v1")(
          Multimodal.encodePng(dims, "doc_id", "w", "h"))
        Multimodal.resizeDims(
          Multimodal.decodeBatched(media, codec = Multimodal.imageIoCodec),
          maxW = 48, maxH = 40)
          .select($"media_id", $"width", $"height",
            $"scale_pm", $"out_w", $"out_h")
          .orderBy($"media_id")
      },
      Some("""WITH d AS (SELECT doc_id AS media_id,
             |  CAST(8 + n_chars % 48 AS INTEGER) AS width,
             |  CAST(8 + doc_id % 32 AS INTEGER) AS height
             |  FROM documents),
             |s AS (SELECT media_id, width, height,
             |  least(CAST(48000 AS BIGINT) // width,
             |        CAST(40000 AS BIGINT) // height,
             |        CAST(1000 AS BIGINT)) AS scale_pm FROM d)
             |SELECT media_id, width, height, scale_pm,
             |(width * scale_pm) // 1000 AS out_w,
             |(height * scale_pm) // 1000 AS out_h
             |FROM s ORDER BY media_id""".stripMargin),
      "media resize planning over real javax.imageio decodes: aspect-preserving integer fit into 48x40"),

    // ---- Quality-weighted sampling without replacement (A-ES): rank by
    // ln(u)/w with an md5-derived uniform — weight-proportional, fully
    // deterministic (no rand()), and the top-k is TakeOrdered, so only
    // k survivors per partition ever move.
    QueryDef(
      "p34_weighted_sample",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "documents")
          .select($"doc_id",
            TextAnalysis.qualityScore(TextOps.tokens($"text")).as("quality"))
          .withColumn("wkey_q",
            // nano-unit quantization: the ranking key becomes an exact
            // integer (raw ln keys showed 1-ulp cross-engine drift)
            floor(Sampling.weightedSampleKey($"doc_id", $"quality") *
              lit(1e9)).cast("long"))
          .orderBy($"wkey_q".desc, $"doc_id")
          .limit(100)
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             |q AS (SELECT doc_id,
             |  0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE))
             |  + 0.3 * least((CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) / 8.0, 1.0)
             |  + 0.3 * least((CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) * 3.0, 1.0)
             |  AS quality FROM w),
             |k AS (SELECT doc_id, quality,
             |  CAST(floor(ln((CAST(CAST('0x'||substr(md5('wsample:'||CAST(doc_id AS VARCHAR)),1,12) AS BIGINT) AS DOUBLE) + 1.0) / 281474976710656.0) / greatest(quality, 0.000001) * 1000000000.0) AS BIGINT) AS wkey_q
             |  FROM q),
             |top AS (SELECT doc_id, quality, wkey_q FROM k ORDER BY wkey_q DESC, doc_id LIMIT 100)
             |SELECT doc_id, quality, wkey_q FROM top ORDER BY doc_id""".stripMargin),
      "Efraimidis-Spirakis weighted sample: quality-proportional top-100, md5-deterministic draws"),

    // ---- Sorted-neighborhood blocking: sort by SimHash, compare each
    // doc against its next 3 neighbors — O(n·w) comparisons, no bucket
    // skew; complements p4's band-LSH (union both for recall). The
    // oracle states the window as a row_number range self-join.
    QueryDef(
      "p35_sorted_neighbors",
      (s, dir) => {
        import s.implicits._
        Dedup.sortedNeighborPairs(T(s, dir, "documents"), "doc_id", "text",
          window = 3, maxHamming = 8)
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |h AS (SELECT doc_id, list_transform(words, x -> CAST('0x'||substr(md5(x),1,15) AS BIGINT)) AS hs FROM w),
             |sg AS (SELECT doc_id,
             |  CAST(list_sum(list_transform(range(0,60), b -> CASE WHEN
             |  list_sum(list_transform(hs, v -> CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             |  THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS sig FROM h),
             |r AS (SELECT doc_id, sig, ROW_NUMBER() OVER (ORDER BY sig, doc_id) AS rn FROM sg),
             |p AS (SELECT least(a.doc_id, b.doc_id) AS doc_a,
             |  greatest(a.doc_id, b.doc_id) AS doc_b,
             |  bit_count(xor(a.sig, b.sig)) AS hamming
             |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3)
             |SELECT DISTINCT doc_a, doc_b, hamming FROM p WHERE hamming <= 8
             |ORDER BY doc_a, doc_b""".stripMargin),
      "sorted-neighborhood near-dup blocking: SimHash sort order + 3-neighbor window, Hamming verify"),

    // ---- Robust outlier flagging: per-language median/MAD of document
    // length (discrete exact percentiles — integer-preserving, the
    // q24 convention), flag |x - med| > 3*MAD. Robust to the heavy
    // tails that wreck mean/stddev cutoffs; both stats are tiny
    // per-group aggregates broadcast back — the corpus never shuffles.
    QueryDef(
      "p36_length_outliers",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents").select($"doc_id", $"lang", $"n_chars")
        val med = d.groupBy($"lang").agg(
          percentile_approx($"n_chars", lit(0.5), lit(Int.MaxValue)).as("med"))
        val j = d.join(broadcast(med), "lang")
        val mad = j.groupBy($"lang").agg(
          percentile_approx(abs($"n_chars" - $"med"), lit(0.5),
            lit(Int.MaxValue)).as("mad"))
        j.join(broadcast(mad), "lang")
          .select($"doc_id", $"lang", $"n_chars", $"med", $"mad",
            (abs($"n_chars" - $"med") > $"mad" * 3).as("is_outlier"))
          .orderBy($"doc_id")
      },
      Some("""WITH m AS (SELECT lang, quantile_disc(n_chars, 0.5) AS med
             |  FROM documents GROUP BY lang),
             |j AS (SELECT d.doc_id, d.lang, d.n_chars, m.med
             |  FROM documents d JOIN m USING(lang)),
             |md AS (SELECT lang, quantile_disc(abs(n_chars - med), 0.5) AS mad
             |  FROM j GROUP BY lang)
             |SELECT j.doc_id, j.lang, j.n_chars, j.med, md.mad,
             |abs(j.n_chars - j.med) > md.mad * 3 AS is_outlier
             |FROM j JOIN md USING(lang) ORDER BY j.doc_id""".stripMargin),
      "robust per-language length outliers: exact discrete median/MAD, 3-MAD flag, broadcast stats"),

    // ---- Bigram surprisal: conditional-LM quality signal (catches
    // shuffled/mangled text whose unigrams look normal). Bigram LM is
    // ≤vocab² rows, broadcast; per-bigram log-probs quantized to
    // integer micro-nats before the order-free per-doc sum.
    QueryDef(
      "p37_bigram_surprisal",
      (s, dir) => {
        import s.implicits._
        Vocab.bigramSurprisal(T(s, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |bg AS (SELECT doc_id, ws[CAST(r.i AS INTEGER)] AS prev, ws[CAST(r.i AS INTEGER) + 1] AS cur
             |  FROM w, UNNEST(range(1, len(ws))) AS r(i) WHERE len(ws) >= 2),
             |cb AS (SELECT prev, cur, COUNT(*) AS nb FROM bg GROUP BY prev, cur),
             |cp AS (SELECT prev, COUNT(*) AS np FROM bg GROUP BY prev),
             |v AS (SELECT COUNT(DISTINCT u.tok) AS vsz FROM w, UNNEST(w.ws) AS u(tok)),
             |lm AS (SELECT cb.prev, cb.cur,
             |  CAST(floor(ln((CAST(nb AS DOUBLE) + 1.0) / (CAST(np AS DOUBLE) + CAST(vsz AS DOUBLE))) * 1000000.0) AS BIGINT) AS lpq
             |  FROM cb JOIN cp ON cb.prev = cp.prev, v)
             |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
             |-CAST(SUM(lm.lpq) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS mean_surprisal
             |FROM bg JOIN lm ON bg.prev = lm.prev AND bg.cur = lm.cur
             |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin),
      "bigram conditional surprisal per doc: broadcast vocab^2-bounded LM, exact micro-nat sums"),

    // ---- Vocabulary growth (Heaps' law): new tokens introduced per doc
    // + cumulative vocab size, in doc-id order. First-occurrence = one
    // min() agg over tokens; the prefix sum runs over |docs| rows.
    QueryDef(
      "p38_vocab_growth",
      (s, dir) => {
        import s.implicits._
        Vocab.vocabGrowth(T(s, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT w.doc_id, u.tok
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w,
             |  UNNEST(w.ws) AS u(tok)),
             |f AS (SELECT tok, MIN(doc_id) AS first_doc FROM t GROUP BY tok),
             |p AS (SELECT first_doc, COUNT(*) AS new_tokens FROM f GROUP BY first_doc)
             |SELECT d.doc_id, COALESCE(p.new_tokens, 0) AS new_tokens,
             |CAST(SUM(COALESCE(p.new_tokens, 0)) OVER (ORDER BY d.doc_id) AS BIGINT) AS vocab_size
             |FROM documents d LEFT JOIN p ON d.doc_id = p.first_doc
             |ORDER BY d.doc_id""".stripMargin),
      "Heaps-law vocabulary growth: per-doc new-token count + running vocab size"),

    // ---- PMI collocations: document-level co-occurrence PMI of token
    // pairs (micro-nat quantized), top-50. Per-doc pair generation is
    // capped at 64 distinct tokens; margins/totals broadcast.
    QueryDef(
      "p39_pmi_pairs",
      (s, dir) => {
        import s.implicits._
        Vocab.pmiPairs(T(s, dir, "documents"), "doc_id", "text")
          .orderBy($"pmi_q".desc, $"tok_a", $"tok_b")
          .limit(50)
      },
      Some("""WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents),
             |dt0 AS (SELECT w.doc_id, u.tok,
             |  ROW_NUMBER() OVER (PARTITION BY w.doc_id ORDER BY u.tok) AS rk
             |  FROM w, UNNEST(w.ws) AS u(tok)),
             |dt AS (SELECT doc_id, tok FROM dt0 WHERE rk <= 64),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
             |m AS (SELECT tok, COUNT(*) AS mm FROM dt GROUP BY tok),
             |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS cab
             |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
             |  GROUP BY a.tok, b.tok HAVING COUNT(*) >= 5),
             |s AS (SELECT p.tok_a, p.tok_b, p.cab,
             |  CAST(floor(ln((CAST(p.cab AS DOUBLE) * CAST(n.n_docs AS DOUBLE)) /
             |    (CAST(ma.mm AS DOUBLE) * CAST(mb.mm AS DOUBLE))) * 1000000.0) AS BIGINT) AS pmi_q
             |  FROM p JOIN m ma ON p.tok_a = ma.tok JOIN m mb ON p.tok_b = mb.tok, n)
             |SELECT tok_a, tok_b, cab, pmi_q FROM s
             |ORDER BY pmi_q DESC, tok_a, tok_b LIMIT 50""".stripMargin),
      "PMI collocations: doc-level co-occurrence, capped pair fan-out, micro-nat exact ranking"),

    // ---- Language-ID confusion matrix: labeled vs predicted language
    // counts — the classifier-evaluation rollup over p11's predictor.
    // Low-cardinality double groupBy; shuffle carries |langs|² rows.
    QueryDef(
      "p40_lang_confusion",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "documents")
          .select($"lang".as("labeled"),
            TextAnalysis.predictLang(TextOps.tokens($"text")).as("pred"))
          .groupBy($"labeled", $"pred")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"labeled", $"pred")
      },
      Some("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS words FROM documents),
             |sc AS (SELECT doc_id, lang,
             |  CAST(len(list_filter(words, x -> list_contains(['der','die','das','und','ist','ein','zu'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_de,
             |  CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_en,
             |  CAST(len(list_filter(words, x -> list_contains(['el','la','los','y','es','un','una'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_es,
             |  CAST(len(list_filter(words, x -> list_contains(['le','la','les','et','est','un','une'], x))) AS DOUBLE)/CAST(len(words) AS DOUBLE) AS s_fr
             |  FROM w),
             |pr AS (SELECT lang AS labeled,
             |  CASE WHEN greatest(s_de,s_en,s_es,s_fr) >= 0.05 THEN
             |    (CASE WHEN s_de = greatest(s_de,s_en,s_es,s_fr) THEN 'de'
             |          WHEN s_en = greatest(s_de,s_en,s_es,s_fr) THEN 'en'
             |          WHEN s_es = greatest(s_de,s_en,s_es,s_fr) THEN 'es'
             |          ELSE 'fr' END)
             |  ELSE 'und' END AS pred
             |  FROM sc)
             |SELECT labeled, pred, COUNT(*) AS n_docs FROM pr
             |GROUP BY labeled, pred ORDER BY labeled, pred""".stripMargin),
      "language-ID confusion matrix: labeled vs predicted counts (classifier evaluation rollup)"),

    // ---- Within-doc repetition signals (the Gopher-rules quality
    // family): top-token share, top-bigram share, duplicate-token share
    // — boilerplate/spam whose unigram stats look normal lights up
    // here. One codegen'd pass per doc (RepetitionStatsExpr), permille
    // integers; pure projection, no shuffle at all until the final sort.
    QueryDef(
      "p41_repetition",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "documents")
          .select($"doc_id",
            graft.functions.Text.repetitionStats(TextOps.tokens($"text")).as("r"))
          .select($"doc_id",
            element_at($"r", 1).as("top_token_pm"),
            element_at($"r", 2).as("top_bigram_pm"),
            element_at($"r", 3).as("dup_token_pm"))
          .where($"top_token_pm" >= 100 || $"dup_token_pm" >= 400)
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             |s AS (SELECT doc_id, words,
             |  list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1]) AS bgs
             |  FROM w),
             |r AS (SELECT doc_id,
             |  list_max(list_transform(list_distinct(words), t -> len(list_filter(words, x -> x = t)))) * 1000 // len(words) AS top_token_pm,
             |  CASE WHEN len(words) < 2 THEN 0
             |    ELSE list_max(list_transform(list_distinct(bgs), t -> len(list_filter(bgs, x -> x = t)))) * 1000 // (len(words) - 1) END AS top_bigram_pm,
             |  1000 - len(list_distinct(words)) * 1000 // len(words) AS dup_token_pm
             |  FROM s)
             |SELECT doc_id, CAST(top_token_pm AS BIGINT) AS top_token_pm,
             |  CAST(top_bigram_pm AS BIGINT) AS top_bigram_pm,
             |  CAST(dup_token_pm AS BIGINT) AS dup_token_pm
             |FROM r WHERE top_token_pm >= 100 OR dup_token_pm >= 400
             |ORDER BY doc_id""".stripMargin),
      "within-doc repetition: top-token/top-bigram/dup-token permille shares, one codegen'd pass"),

    // ---- int8 embedding quantization audit: per-vector scale,
    // reconstruction error, saturation count — the 4x-compression
    // decision for a 100 TB embedding store. All-integer outputs from
    // one codegen'd pass (QuantStatsExpr); floor(+0.5) rounding because
    // round() ties differ between engines.
    QueryDef(
      "p42_embed_quantize",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "embeddings")
          .select($"vec_id",
            graft.functions.Vectors.quantStatsCol($"embedding").as("qs"))
          .select($"vec_id",
            element_at($"qs", 1).as("n_dims"),
            element_at($"qs", 2).as("maxabs_u"),
            element_at($"qs", 3).as("err_n"),
            element_at($"qs", 4).as("n_sat"))
          .orderBy($"vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |m AS (SELECT vec_id, v, greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS ma FROM e)
             |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
             |CAST(floor(ma * 1000000.0) AS BIGINT) AS maxabs_u,
             |CAST(list_sum(list_transform(v, x -> floor(abs(x - floor(x * 127.0 / ma + 0.5) * ma / 127.0) * 1000000000.0))) AS BIGINT) AS err_n,
             |CAST(len(list_filter(v, x -> abs(floor(x * 127.0 / ma + 0.5)) = 127.0)) AS BIGINT) AS n_sat
             |FROM m ORDER BY vec_id""".stripMargin),
      "int8 quantization audit: per-vector scale, nano-unit reconstruction error, saturation count"),

    // ---- Incremental dedup against a persisted hash index: an
    // arriving snapshot keeps only docs whose content hash is UNSEEN —
    // the steady-state form of exact dedup for a continuously-crawled
    // corpus (p1 is the bootstrap; this is every day after). The index
    // side is hashes only: the anti-join shuffles 32-byte keys, never
    // text, and AQE broadcasts the index when it fits.
    QueryDef(
      "p43_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        // "already ingested" index: everything except each 17th doc
        val index = d.where($"doc_id" % 17 =!= 0)
          .select(md5($"text").as("seen_hash"))
        val incoming = d.select($"doc_id", $"lang", md5($"text").as("h"))
        incoming.join(index, $"h" === $"seen_hash", "left_anti")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_new"), min($"doc_id").as("first_id"))
          .orderBy($"lang")
      },
      Some("""WITH idx AS (SELECT DISTINCT md5(text) AS seen_hash FROM documents WHERE doc_id % 17 <> 0),
             |inc AS (SELECT doc_id, lang, md5(text) AS h FROM documents)
             |SELECT lang, COUNT(*) AS n_new, min(doc_id) AS first_id
             |FROM inc WHERE NOT EXISTS (SELECT 1 FROM idx WHERE seen_hash = h)
             |GROUP BY lang ORDER BY lang""".stripMargin),
      "incremental exact dedup: arriving snapshot anti-joined against a persisted content-hash index"),

    // ---- Count-Min sketch heavy hitters: a custom mergeable
    // TypedImperativeAggregate builds a FIXED 4x1024 counter grid
    // (partial agg map-side; grids add element-wise), so the shuffle
    // carries 32 KB per partition however many distinct keys exist —
    // the sub-linear-state answer to per-key counting at 100 TB. The
    // query compares CMS point estimates (min over rows of the grid
    // cell each md5-hash lands in) against exact counts for the top-10
    // keys: estimates always >= exact, error <= 2N/width w.h.p.
    QueryDef(
      "p44_cms_heavyhitters",
      (s, dir) => {
        import s.implicits._
        val depth = 4
        val width = 1024
        val keys = T(s, dir, "lineitem")
          .select($"l_partkey".cast("string").as("key"))
        val sk = keys.agg(graft.functions.Cms.sketch($"key", depth, width).as("sk"))
        val top = keys.groupBy($"key")
          .agg(count(lit(1)).as("exact_n"))
          .orderBy($"exact_n".desc, $"key")
          .limit(10)
        def hashD(d: Int) = pmod(
          conv(substring(md5(concat(lit(s"cms$d:"), $"key")), 1, 12), 16, 10)
            .cast("long"), lit(width.toLong))
        val est = least((0 until depth).map(d =>
          element_at($"sk", (lit(d * width) + hashD(d) + 1).cast("int"))): _*)
        top.join(broadcast(sk)) // 1-row sketch fans onto the 10 keys
          .select($"key", $"exact_n", est.as("cms_est"))
          .orderBy($"exact_n".desc, $"key")
      },
      Some("""WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem),
             |c AS (SELECT d.d AS d,
             |  CAST('0x'||substr(md5('cms'||d.d||':'||key),1,12) AS BIGINT) % 1024 AS b,
             |  COUNT(*) AS n
             |  FROM k, (SELECT UNNEST(range(0, 4)) AS d) d GROUP BY 1, 2),
             |top AS (SELECT key, COUNT(*) AS exact_n FROM k GROUP BY key
             |  ORDER BY exact_n DESC, key LIMIT 10)
             |SELECT t.key, t.exact_n, min(c.n) AS cms_est
             |FROM top t JOIN c
             |  ON c.b = CAST('0x'||substr(md5('cms'||c.d||':'||t.key),1,12) AS BIGINT) % 1024
             |GROUP BY t.key, t.exact_n
             |ORDER BY exact_n DESC, key""".stripMargin),
      "Count-Min heavy hitters: custom mergeable fixed-state aggregate, estimate vs exact for top-10"),

    // ---- Canonical normalization + its dedup payoff: deterministic
    // case/punctuation/whitespace corruption (what a crawler actually
    // sees) must collapse back to the clean content hash after
    // TextOps.normalize — the precondition for exact dedup hitting
    // across near-identical crawls. Per-doc md5 of the normalized text
    // makes the driver's hash-compare verify the full regex chain
    // bit-for-bit in both engines. Pure projection; nothing shuffles.
    QueryDef(
      "p45_normalize_dedup",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val dirty = d.select($"doc_id", $"text",
          when($"doc_id" % 3 === 0, upper($"text"))
            .when($"doc_id" % 3 === 1, concat(lit("  "), $"text", lit(" !!! ")))
            .otherwise(regexp_replace($"text", lit(" "), lit("   ")))
            .as("dirty"))
        dirty.select($"doc_id",
            md5(TextOps.normalize($"dirty")).as("norm_hash"),
            (md5(TextOps.normalize($"dirty")) === md5($"text")).as("recovered"))
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, text,
             |  CASE WHEN doc_id % 3 = 0 THEN upper(text)
             |       WHEN doc_id % 3 = 1 THEN '  ' || text || ' !!! '
             |       ELSE regexp_replace(text, ' ', '   ', 'g') END AS dirty
             |  FROM documents),
             |n AS (SELECT doc_id, text,
             |  trim(regexp_replace(regexp_replace(lower(dirty), '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
             |  FROM d)
             |SELECT doc_id, md5(norm) AS norm_hash,
             |md5(norm) = md5(text) AS recovered
             |FROM n ORDER BY doc_id""".stripMargin),
      "canonical normalization: corrupted variants collapse back to the clean content hash"),

    // ---- Sliding chunk windows: split each doc into fixed-size token
    // windows (size 40, stride 30 — 10-token overlap so no training
    // sequence straddles a hard cut) — the doc->sequence step between
    // curation and shard packing (p18). Generator fan-out per doc;
    // chunk count is closed-form integer arithmetic in both engines,
    // chunk identity is the md5 of the joined window.
    QueryDef(
      "p46_chunk_windows",
      (s, dir) => {
        import s.implicits._
        val size40 = 40
        val stride = 30
        T(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .withColumn("n", size($"toks").cast("long"))
          // nc = 1 + ceil((n - size)/stride) for n > size, else 1
          .withColumn("nc", when($"n" <= size40, lit(1L))
            .otherwise(lit(1L) + expr(s"(n - ${size40 - stride + 1}) div $stride")))
          .select($"doc_id", $"toks",
            explode(sequence(lit(0L), $"nc" - 1)).as("chunk_idx"))
          .select($"doc_id", $"chunk_idx",
            slice($"toks", ($"chunk_idx" * stride + 1).cast("int"),
              lit(size40)).as("chunk"))
          .select($"doc_id", $"chunk_idx",
            size($"chunk").cast("long").as("chunk_tokens"),
            md5(concat_ws(" ", $"chunk")).as("chunk_hash"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             |c AS (SELECT doc_id, words, len(words) AS n,
             |  CASE WHEN len(words) <= 40 THEN 1
             |       ELSE 1 + (len(words) - 11) // 30 END AS nc
             |  FROM w),
             |x AS (SELECT doc_id,
             |  CAST(r.i AS BIGINT) AS chunk_idx,
             |  list_slice(words, CAST(r.i * 30 + 1 AS BIGINT), CAST(r.i * 30 + 40 AS BIGINT)) AS chunk
             |  FROM c, UNNEST(range(0, nc)) AS r(i))
             |SELECT doc_id, chunk_idx,
             |CAST(len(chunk) AS BIGINT) AS chunk_tokens,
             |md5(array_to_string(chunk, ' ')) AS chunk_hash
             |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),
      "sliding token windows (size 40, stride 30): the doc-to-training-sequence chunking step"),

    // ---- Per-label embedding centroids: distributed element-wise mean
    // — posexplode the micro-quantized components, one partial-agg'd
    // (label, dim) sum, integer mean. The shuffle carries (label, dim,
    // q) fixed-width triples — dim x |labels| cells however many
    // vectors exist; the k-means/classifier-prototype primitive.
    QueryDef(
      "p47_label_centroids",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "embeddings")
          .select($"label",
            posexplode(graft.pipeline.Similarity.quantize($"embedding"))
              .as(Seq("pos", "q")))
          .groupBy($"label", $"pos")
          .agg(count(lit(1)).as("n_vecs"), sum($"q").as("sum_q"))
          .select($"label", $"pos".cast("long").as("dim"), $"n_vecs",
            expr("sum_q div n_vecs").as("mean_q"))
          .orderBy($"label", $"dim")
      },
      Some("""WITH e AS (SELECT label, embedding AS v FROM embeddings),
             |x AS (SELECT label, CAST(r.i - 1 AS BIGINT) AS dim,
             |  CAST(floor(CAST(v[CAST(r.i AS INTEGER)] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             |  FROM e, UNNEST(range(1, len(v) + 1)) AS r(i))
             |SELECT label, dim, COUNT(*) AS n_vecs,
             |CAST(SUM(q) AS BIGINT) // COUNT(*) AS mean_q
             |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin),
      "per-label embedding centroids: element-wise integer mean via one partial-agg'd (label, dim) sum"),

    // ---- Mislabel candidates: distance to the OWN-label centroid,
    // top-3 farthest per label — the label-noise audit over p47's
    // prototypes. The centroid table is |labels| x dim rows (tiny,
    // broadcast); per-vector distances partial-aggregate map-side
    // because a vector's exploded components stay in one partition.
    // All integer arithmetic (micro-quantized components), so ranking
    // ties and sums are engine-exact.
    QueryDef(
      "p48_centroid_outliers",
      (s, dir) => {
        import s.implicits._
        val comps = T(s, dir, "embeddings")
          .select($"vec_id", $"label",
            posexplode(graft.pipeline.Similarity.quantize($"embedding"))
              .as(Seq("dim", "q")))
        val cents = comps.groupBy($"label", $"dim")
          .agg(count(lit(1)).as("n"), sum($"q").as("sum_q"))
          .select($"label", $"dim", expr("sum_q div n").as("mean_q"))
        val dists = comps.join(broadcast(cents), Seq("label", "dim"))
          .select($"vec_id", $"label",
            (($"q" - $"mean_q") * ($"q" - $"mean_q")).as("d2"))
          .groupBy($"vec_id", $"label")
          .agg(sum($"d2").as("dist_sq"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"label").orderBy($"dist_sq".desc, $"vec_id")
        dists.withColumn("rk", row_number().over(w).cast("long"))
          .where($"rk" <= 3)
          .select($"label", $"rk", $"vec_id", $"dist_sq")
          .orderBy($"label", $"rk")
      },
      Some("""WITH x AS (SELECT vec_id, label, CAST(r.i - 1 AS BIGINT) AS dim,
             |  CAST(floor(CAST(embedding[CAST(r.i AS INTEGER)] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)),
             |c AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) // COUNT(*) AS mean_q
             |  FROM x GROUP BY label, dim),
             |d AS (SELECT x.vec_id, x.label,
             |  CAST(SUM((x.q - c.mean_q) * (x.q - c.mean_q)) AS BIGINT) AS dist_sq
             |  FROM x JOIN c ON x.label = c.label AND x.dim = c.dim
             |  GROUP BY x.vec_id, x.label),
             |r AS (SELECT vec_id, label, dist_sq,
             |  ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist_sq DESC, vec_id) AS rk
             |  FROM d)
             |SELECT label, rk, vec_id, dist_sq FROM r WHERE rk <= 3
             |ORDER BY label, rk""".stripMargin),
      "label-noise audit: top-3 farthest vectors from their own label centroid, exact integer distances"),

    // ---- Mixture/epoch plan: per-source repeat factors that hit an
    // equal-share token mixture — the curriculum-planning step that
    // turns raw source sizes into sampling rates (repeat_pm > 1000 =
    // upsample/epochs, < 1000 = downsample). Per-source totals are a
    // partial-agg'd groupBy; the corpus-wide summary is ONE row
    // broadcast back — the data never shuffles twice. Integer permille
    // throughout.
    QueryDef(
      "p49_mixture_plan",
      (s, dir) => {
        import s.implicits._
        val per = T(s, dir, "documents")
          .select($"source", size(TextOps.tokens($"text")).cast("long").as("t"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"t").as("src_tokens"))
        val tot = per.agg(sum($"src_tokens").as("total_tokens"),
          count(lit(1)).as("n_sources"))
        per.join(broadcast(tot))
          .select($"source", $"n_docs", $"src_tokens",
            expr("((1000 div n_sources) * total_tokens) div src_tokens")
              .as("repeat_pm"))
          .orderBy($"source")
      },
      Some("""WITH p AS (SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
             |  FROM documents GROUP BY source),
             |t AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
             |  COUNT(*) AS n_sources FROM p)
             |SELECT source, n_docs, src_tokens,
             |((1000 // n_sources) * total_tokens) // src_tokens AS repeat_pm
             |FROM p, t ORDER BY source""".stripMargin),
      "equal-share mixture plan: per-source permille repeat factors from one aggregate + one broadcast"),

    // ---- Duplicated-span fraction (Lee et al. 2022 exact-substring
    // dedup, window-level): share of each doc's 8-gram windows occurring
    // >=2 times corpus-wide. Occurrences, not distinct shingles — in-doc
    // repetition counts too.
    QueryDef(
      "p50_dup_spans",
      (s, dir) => {
        import s.implicits._
        Contamination.dupSpanStats(T(s, dir, "documents"), nGram = 8)
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT w.doc_id, u.h FROM w, UNNEST(CASE WHEN len(words)>=8
             |  THEN list_transform(range(1, len(words)-6), i -> md5(words[i]||' '||words[i+1]||' '||words[i+2]||' '||words[i+3]||' '||words[i+4]||' '||words[i+5]||' '||words[i+6]||' '||words[i+7]))
             |  ELSE [] END) AS u(h)),
             |c AS (SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS cnt FROM sh)
             |SELECT doc_id, COUNT(*) AS n_windows,
             |CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*) AS dup_frac
             |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "duplicated-span fraction: per-doc share of 8-gram windows repeated anywhere in the corpus"),

    // ---- Model-based quality filter via feature hashing (the
    // fastText/FineWeb classifier-filter shape; hash-derived stand-in
    // weights, real plan shape — see TextAnalysis.hashedFeatureScore).
    QueryDef(
      "p51_quality_classifier",
      (s, dir) => {
        import s.implicits._
        TextAnalysis.hashedFeatureScore(T(s, dir, "documents"), dim = 1024)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, u.t FROM
             |  (SELECT doc_id, string_split(text,' ') AS words FROM documents), UNNEST(words) AS u(t)),
             |b AS (SELECT doc_id, CAST('0x'||substr(md5('qw:'||t),1,8) AS BIGINT) % 1024 AS b FROM t),
             |a AS (SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(b) AS BIGINT) AS wsum FROM b GROUP BY doc_id)
             |SELECT doc_id, n_tokens,
             |(CAST(wsum AS DOUBLE) / CAST(n_tokens AS DOUBLE) - 511.5) / 1024.0 AS score,
             |CAST(CASE WHEN (CAST(wsum AS DOUBLE) / CAST(n_tokens AS DOUBLE) - 511.5) / 1024.0 > 0
             |  THEN 1 ELSE 0 END AS INTEGER) AS keep
             |FROM a ORDER BY doc_id""".stripMargin),
      "feature-hashing linear quality scorer: mean hashed-slot weight per doc, keep = score > 0"),

    // ---- SemDeDup: semantic near-dup drop list — IVF-cell clustering,
    // within-cell cosine >= tau, keep the lowest id (Abbas et al. 2023;
    // same cell assignment as p7b, so the oracle reuses its CTEs).
    QueryDef(
      "p52_semantic_dedup",
      (s, dir) => {
        import s.implicits._
        Similarity.semanticDedup(T(s, dir, "embeddings"), tau = 0.4,
            nPivots = 8)
          .orderBy($"vec_id")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |piv AS (SELECT vec_id AS pivot_id, qv AS pv FROM q WHERE vec_id < 8),
             |aff AS (SELECT c.vec_id, p.pivot_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> c.qv[i]*p.pv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> c.qv[i]*c.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> p.pv[i]*p.pv[i])) AS DOUBLE)) AS acos
             |  FROM q c, piv p),
             |cells AS (SELECT vec_id, pivot_id AS cell FROM (
             |  SELECT vec_id, pivot_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY acos DESC, pivot_id) AS rn FROM aff) WHERE rn = 1),
             |pairs AS (SELECT ca.vec_id AS id_a, cb.vec_id AS id_b,
             |  CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qb.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> qa.qv[i]*qa.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> qb.qv[i]*qb.qv[i])) AS DOUBLE)) AS cos
             |  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND cb.vec_id < ca.vec_id
             |  JOIN q qa ON qa.vec_id = ca.vec_id JOIN q qb ON qb.vec_id = cb.vec_id),
             |hit AS (SELECT id_a, id_b, cos, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY id_b) AS rn
             |  FROM pairs WHERE cos >= 0.4)
             |SELECT id_a AS vec_id, id_b AS dup_of, cos FROM hit WHERE rn = 1
             |ORDER BY vec_id""".stripMargin),
      "SemDeDup drop list: within-IVF-cell cosine >= 0.4, lowest-id representative kept"),

    // ---- Decontamination with a broadcast Bloom pre-filter: identical
    // semantics to the exact join (the filter admits no false
    // negatives; the verify join removes false positives) — the plan
    // that survives a held-out set too large to broadcast as a hash
    // set. 4-gram so it complements p20's 3-gram report.
    QueryDef(
      "p53_bloom_decontaminate",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
          .withColumn("split", Sampling.hashSplit($"doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        Contamination.bloomShingleHits(
          d.where($"split" === "train"), d.where($"split" === "test"),
          nGram = 4)
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sp AS (SELECT doc_id,
             |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 AS sb FROM documents),
             |sh AS (SELECT w.doc_id, list_distinct(CASE WHEN len(words)>=4
             |  THEN list_transform(range(1, len(words)-2), i -> md5(words[i]||' '||words[i+1]||' '||words[i+2]||' '||words[i+3]))
             |  ELSE [] END) AS hs FROM w),
             |tr AS (SELECT s.doc_id, u.h FROM sh s JOIN sp ON sp.doc_id = s.doc_id AND sp.sb < 800, UNNEST(s.hs) AS u(h)),
             |te AS (SELECT DISTINCT u.h FROM sh s JOIN sp ON sp.doc_id = s.doc_id AND sp.sb >= 900, UNNEST(s.hs) AS u(h))
             |SELECT tr.doc_id, COUNT(*) AS n_hits FROM tr JOIN te ON tr.h = te.h
             |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin),
      "Bloom-prefiltered decontamination: 1 MiB broadcast filter + exact verify join, bit-identical to the equi-join"),

    // ---- Event-log windowed dedup: first event per (user, type) in
    // each 10-minute tumbling bucket — the batch twin of streaming
    // dropDuplicatesWithinWatermark; window partitions by compound key,
    // never globally.
    QueryDef(
      "p54_window_dedup",
      (s, dir) => {
        import s.implicits._
        Dedup.firstPerWindow(T(s, dir, "events"),
            Seq("user_id", "event_type"), "ts", "event_id", 600)
          .select($"event_id", $"user_id", $"event_type", $"win_bucket",
            $"value")
          .orderBy($"event_id")
      },
      Some("""WITH b AS (SELECT event_id, user_id, event_type, value, ts,
             |  CAST(floor(epoch(ts)/600) AS BIGINT) AS win_bucket FROM events),
             |r AS (SELECT *, ROW_NUMBER() OVER (
             |  PARTITION BY user_id, event_type, win_bucket
             |  ORDER BY ts, event_id) AS rn FROM b)
             |SELECT event_id, user_id, event_type, win_bucket, value
             |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin),
      "windowed event dedup: first per (user, type) in 10-min tumbling buckets, batch twin of dropDuplicatesWithinWatermark"),

    // ---- Cross-source overlap matrix: pairwise 3-gram Jaccard between
    // sources — the leakage audit before assigning mixture weights.
    QueryDef(
      "p55_source_overlap",
      (s, dir) => {
        import s.implicits._
        Contamination.sourceOverlap(T(s, dir, "documents"), nGram = 3)
          .orderBy($"src_a", $"src_b")
      },
      Some("""WITH w AS (SELECT source, string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT DISTINCT w.source AS src, u.h FROM w, UNNEST(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> md5(words[i]||' '||words[i+1]||' '||words[i+2]))
             |  ELSE [] END) AS u(h)),
             |n AS (SELECT src, COUNT(*) AS n FROM sh GROUP BY src),
             |p AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2)
             |SELECT src_a, src_b, na.n AS n_a, nb.n AS n_b, inter,
             |CAST(inter AS DOUBLE)/CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
             |FROM p JOIN n na ON na.src = src_a JOIN n nb ON nb.src = src_b
             |ORDER BY src_a, src_b""".stripMargin),
      "cross-source 3-gram Jaccard overlap matrix: per-hash bounded source sets, one hash-keyed shuffle"),

    // ---- True tf-idf keyword extraction: top-3 terms per doc by
    // tf * ln(N/df), integer-quantized idf for exact ranking.
    QueryDef(
      "p56_tfidf",
      (s, dir) => {
        import s.implicits._
        Vocab.tfidfTopTerms(T(s, dir, "documents"), "doc_id", "text", k = 3)
          .select($"doc".as("doc_id"), $"rk", $"token", $"tf", $"df",
            $"tfidf_q")
          .orderBy($"doc_id", $"rk")
      },
      Some("""WITH t AS (SELECT doc_id, u.t AS token FROM
             |  (SELECT doc_id, string_split(text,' ') AS words FROM documents), UNNEST(words) AS u(t)),
             |pd AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |dfx AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
             |sc AS (SELECT pd.doc_id, pd.token, pd.tf, dfx.df,
             |  pd.tf * CAST(floor(ln(CAST(n_docs AS DOUBLE)/CAST(df AS DOUBLE))*1000000) AS BIGINT) AS tfidf_q
             |  FROM pd JOIN dfx USING(token) CROSS JOIN n),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |  ORDER BY tfidf_q DESC, token) AS rk FROM sc)
             |SELECT doc_id, rk, token, tf, df, tfidf_q
             |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
      "tf-idf keyword extraction: top-3 per doc by tf * micro-nat-quantized ln(N/df)"),

    // ---- EXACT-size stratified eval sample: largest-remainder quota
    // per (lang, source) stratum, survivors = lowest md5 draws. Quota
    // math runs on the |strata|-row aggregate (strata-bounded window,
    // the IVF-pivot pattern); the corpus-side rank partitions by
    // stratum. Output is exactly `total` rows at any corpus size.
    QueryDef(
      "p57_stratified_quota",
      (s, dir) => {
        import s.implicits._
        Sampling.stratifiedQuota(T(s, dir, "documents"),
            Seq("lang", "source"), "doc_id", total = 100)
          .select($"lang", $"source", $"quota", $"rk", $"doc_id")
          .orderBy($"lang", $"source", $"rk")
      },
      Some("""WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
             |t AS (SELECT SUM(n) AS nn FROM c),
             |q0 AS (SELECT lang, source, (100 * n) // nn AS base, (100 * n) % nn AS rem FROM c CROSS JOIN t),
             |q1 AS (SELECT *, SUM(base) OVER () AS sb,
             |  ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source) AS rrk FROM q0),
             |q AS (SELECT lang, source,
             |  CAST(base + CASE WHEN rrk <= 100 - sb THEN 1 ELSE 0 END AS BIGINT) AS quota FROM q1),
             |r AS (SELECT lang, source, doc_id, ROW_NUMBER() OVER (
             |  PARTITION BY lang, source
             |  ORDER BY md5('quota:'||CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
             |SELECT r.lang, r.source, q.quota, CAST(r.rk AS BIGINT) AS rk, r.doc_id
             |FROM r JOIN q USING (lang, source) WHERE r.rk <= q.quota
             |ORDER BY lang, source, rk""".stripMargin),
      "exact-size stratified sample: largest-remainder quotas over (lang, source), deterministic md5 draws"),

    // ---- Histogram quantile sketch vs exact: per-source p50/p90 of
    // n_chars from a 64-bin mergeable histogram, with the exact
    // quantiles joined alongside — the estimator audit (like p8c for
    // ANN) that prices the sketch's error before using it corpus-wide.
    QueryDef(
      "p58_hist_quantiles",
      (s, dir) => {
        import s.implicits._
        val Wnd = org.apache.spark.sql.expressions.Window
        val est = Sketch.histQuantiles(T(s, dir, "documents"),
          "source", "n_chars", bins = 64, qsPermille = Seq(500, 900))
        val ranked = T(s, dir, "documents")
          .select($"source", $"n_chars".cast("long").as("__v"), $"doc_id")
          .withColumn("__rn", row_number().over(
            Wnd.partitionBy($"source").orderBy($"__v", $"doc_id")).cast("long"))
          .withColumn("__n", count(lit(1)).over(Wnd.partitionBy($"source")))
        val exact = ranked.groupBy($"source").agg(
          min(when($"__rn" === expr("(500 * __n + 999) DIV 1000"), $"__v"))
            .as("p500_exact"),
          min(when($"__rn" === expr("(900 * __n + 999) DIV 1000"), $"__v"))
            .as("p900_exact"))
        est.join(exact, "source")
          .select($"source", $"n", $"p500_est", $"p500_exact",
            $"p900_est", $"p900_exact")
          .orderBy($"source")
      },
      Some("""WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v, doc_id FROM documents),
             |b AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v),
             |bn AS (SELECT source, ((v - lo) * 64) // (hi - lo + 1) AS bin, lo, hi - lo + 1 AS span
             |  FROM v CROSS JOIN b),
             |g AS (SELECT source, bin, lo, span, COUNT(*) AS cnt FROM bn GROUP BY 1, 2, 3, 4),
             |c AS (SELECT source, bin, cnt, lo + ((bin + 1) * span) // 64 - 1 AS edge,
             |  CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum,
             |  CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n FROM g),
             |est AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n,
             |  MIN(CASE WHEN cum >= (500 * n + 999) // 1000 THEN edge END) AS p500_est,
             |  MIN(CASE WHEN cum >= (900 * n + 999) // 1000 THEN edge END) AS p900_est
             |  FROM c GROUP BY source),
             |r AS (SELECT source, v, ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS rn,
             |  COUNT(*) OVER (PARTITION BY source) AS n FROM v),
             |ex AS (SELECT source,
             |  MIN(CASE WHEN rn = (500 * n + 999) // 1000 THEN v END) AS p500_exact,
             |  MIN(CASE WHEN rn = (900 * n + 999) // 1000 THEN v END) AS p900_exact
             |  FROM r GROUP BY source)
             |SELECT est.source, est.n, p500_est, p500_exact, p900_est, p900_exact
             |FROM est JOIN ex USING (source) ORDER BY source""".stripMargin),
      "mergeable 64-bin histogram quantile sketch (p50/p90) audited against the exact per-source quantiles"),

    // ---- LSH dedup recall harness: MinHash-LSH candidate pairs scored
    // against the EXACT 3-gram-Jaccard ground truth on a 40 % hash
    // sample — the banding-config audit before a corpus-wide dedup run
    // (the dedup twin of p8c's ANN recall).
    QueryDef(
      "p59_lsh_dedup_recall",
      (s, dir) => {
        import s.implicits._
        val docs = T(s, dir, "documents")
          .where(Sampling.hashBucket($"doc_id", "recall") < 400)
        val truth = Dedup.exactJaccardPairs(docs, "doc_id", "text",
          nGram = 3, threshold = 0.2).select($"doc_a", $"doc_b")
        val cand = Dedup.minhashPairs(docs, "doc_id", "text",
          nGram = 3, k = 6, bands = 3, threshold = 0.0)
          .select($"doc_a", $"doc_b")
        truth.withColumn("__t", lit(1L))
          .join(cand.withColumn("__c", lit(1L)),
            Seq("doc_a", "doc_b"), "full")
          .agg(count($"__t").as("n_truth"), count($"__c").as("n_cand"),
            count(when($"__t".isNotNull && $"__c".isNotNull, 1)).as("n_hit"))
          .select($"n_truth", $"n_cand", $"n_hit",
            when($"n_truth" > 0,
              $"n_hit".cast("double") / $"n_truth".cast("double"))
              .as("recall"),
            when($"n_cand" > 0,
              $"n_hit".cast("double") / $"n_cand".cast("double"))
              .as("precision"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS words FROM documents
             |  WHERE CAST('0x'||substr(md5('recall:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 < 400),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM d),
             |shf AS (SELECT * FROM sh WHERE len(ss) > 0),
             |ex AS (SELECT doc_id, md5(u.s) AS h FROM shf, UNNEST(ss) AS u(s)),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
             |  FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(ss) AS n FROM shf),
             |truth AS (SELECT doc_a, doc_b FROM inter
             |  JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
             |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.2),
             |sig AS (SELECT doc_id,
             |  [list_min(list_transform(ss, s -> md5('mh0:'||s))), list_min(list_transform(ss, s -> md5('mh1:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh2:'||s))), list_min(list_transform(ss, s -> md5('mh3:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh4:'||s))), list_min(list_transform(ss, s -> md5('mh5:'||s)))] AS sg
             |  FROM shf),
             |bands AS (SELECT doc_id, u.b AS band, md5(sg[2*u.b+1] || '|' || sg[2*u.b+2]) AS bkey
             |  FROM sig, UNNEST(range(3)) AS u(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
             |m AS (SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
             |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
             |  CAST((SELECT COUNT(*) FROM truth t JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS BIGINT) AS n_hit)
             |SELECT n_truth, n_cand, n_hit,
             |CASE WHEN n_truth > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS recall,
             |CASE WHEN n_cand > 0 THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS precision
             |FROM m""".stripMargin),
      "LSH banding recall/precision vs exact Jaccard ground truth on a 40 % hash sample"),

    // ---- Curation funnel report: per-source survivor counts through
    // length -> quality -> exact-dedup stages — the audit table a
    // curation run publishes. One scan, one groupBy on source; the
    // dedup stage counts distinct md5, never shuffling text.
    QueryDef(
      "p60_curation_funnel",
      (s, dir) => {
        import s.implicits._
        val toks = TextOps.tokens($"text")
        T(s, dir, "documents")
          .select($"source",
            size(toks).cast("long").as("__tok"),
            TextAnalysis.qualityScore(toks).as("__q"),
            md5($"text").as("__h"))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_total"),
            count(when($"__tok" >= 20, 1)).as("n_len"),
            count(when($"__tok" >= 20 && $"__q" >= 0.40, 1)).as("n_quality"),
            countDistinct(when($"__tok" >= 20 && $"__q" >= 0.40, $"__h"))
              .as("n_unique"))
          .orderBy($"source")
      },
      Some("""WITH w AS (SELECT source, text, string_split(text, ' ') AS words FROM documents),
             |q AS (SELECT source, text, CAST(len(words) AS BIGINT) AS tok,
             |  0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE))
             |  + 0.3 * least((CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) / 8.0, 1.0)
             |  + 0.3 * least((CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS DOUBLE) / CAST(len(words) AS DOUBLE)) * 3.0, 1.0)
             |  AS q FROM w)
             |SELECT source, COUNT(*) AS n_total,
             |COUNT(CASE WHEN tok >= 20 THEN 1 END) AS n_len,
             |COUNT(CASE WHEN tok >= 20 AND q >= 0.40 THEN 1 END) AS n_quality,
             |COUNT(DISTINCT CASE WHEN tok >= 20 AND q >= 0.40 THEN md5(text) END) AS n_unique
             |FROM q GROUP BY source ORDER BY source""".stripMargin),
      "per-source curation funnel: total -> length filter -> quality filter -> exact-dedup survivors"),

    // ---- Snapshot drift monitor: top-20 tokens by absolute KL
    // contribution between two hash-split corpus halves — the check a
    // recurring crawl runs before mixing a new snapshot into training
    // data. One vocabulary-sized shuffle; totals broadcast; TakeOrdered.
    QueryDef(
      "p61_term_drift",
      (s, dir) => {
        import s.implicits._
        Vocab.termDrift(T(s, dir, "documents"), "doc_id", "text",
          Sampling.hashBucket($"doc_id", "drift") < 500, k = 20)
      },
      Some("""WITH t AS (SELECT u.tok,
             |  (CAST('0x'||substr(md5('drift:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 1000 < 500) AS in_a
             |  FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents) w, UNNEST(ws) AS u(tok)),
             |c AS (SELECT tok, COUNT(CASE WHEN in_a THEN 1 END) AS n_a,
             |  COUNT(CASE WHEN NOT in_a THEN 1 END) AS n_b FROM t GROUP BY tok),
             |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM c)
             |SELECT tok, n_a, n_b,
             |CAST(floor((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)) *
             |  ln((CAST(n_a AS DOUBLE) * CAST(tb AS DOUBLE)) / (CAST(n_b AS DOUBLE) * CAST(ta AS DOUBLE))) * 1000000000.0) AS BIGINT) AS drift_q
             |FROM c CROSS JOIN tot WHERE n_a > 0 AND n_b > 0
             |ORDER BY abs(drift_q) DESC, tok LIMIT 20""".stripMargin),
      "snapshot term-distribution drift: top-20 tokens by nano-nat-quantized KL contribution between hash-split halves"),

    // ---- Iterative BPE training: the real merge-table construction
    // (p29 is round zero's pair statistics). The greedy rounds are
    // inherently sequential, but each round IS SQL — one pair-count
    // aggregate, one 1-row argmax, one REPLACE-chain merge — so the
    // oracle replays all 5 rounds as chained materialized CTEs over the
    // same `|sym||sym|` delimiter encoding the p70/p71 encode oracles
    // use (REPLACE's left-to-right non-overlapping scan = the greedy
    // merge fold). Also unit-tested against a hand-computed reference
    // in QuantileQuotaSpec.
    QueryDef(
      "p62_bpe_train",
      (s, dir) => {
        import s.implicits._
        Vocab.bpeTrain(T(s, dir, "documents"), "doc_id", "text", rounds = 5)
          .orderBy($"round")
      },
      Some(bpeTrainOracle(rounds = 5)),
      "iterative BPE merge table: 5 greedy most-frequent-pair rounds over the word-type table"),

    // ---- Best-representative survivor selection: within each near-dup
    // cluster keep the most CENTRAL member (max summed quantized
    // Jaccard to its neighbors, doc id tiebreak) instead of p1/p16's
    // lowest-id convention — the curation policy that keeps the
    // canonical copy, not an arbitrary one. Jaccards are micro-unit
    // longs BEFORE summing, so the centrality score is an exact integer
    // under any partitioning. Only edge-bearing docs enter the ranking
    // (singletons can't be multi-member representatives); the ranking
    // window partitions by cluster.
    QueryDef(
      "p63_cluster_representative",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val pr = Dedup.minhashPairs(d, "doc_id", "text",
            nGram = 3, k = 6, bands = 3, threshold = 0.2)
          .select($"doc_a", $"doc_b",
            floor($"jaccard" * 1e6).cast("long").as("jq"))
          .localCheckpoint() // one pair generation feeds labels AND scores
        val labels = Dedup.clusters(d.select($"doc_id"),
          pr.select($"doc_a", $"doc_b"))
        val scores = pr.select($"doc_a".as("doc_id"), $"jq")
          .union(pr.select($"doc_b".as("doc_id"), $"jq"))
          .groupBy($"doc_id").agg(sum($"jq").as("score_q"))
        Pipeline.representatives(labels.join(scores, "doc_id"))
      },
      Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM w),
             |sig AS (SELECT doc_id, ss,
             |  [list_min(list_transform(ss, s -> md5('mh0:'||s))), list_min(list_transform(ss, s -> md5('mh1:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh2:'||s))), list_min(list_transform(ss, s -> md5('mh3:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh4:'||s))), list_min(list_transform(ss, s -> md5('mh5:'||s)))] AS sg
             |  FROM sh WHERE len(ss) > 0),
             |bands AS (SELECT doc_id, ss, u.b AS band, md5(sg[2*u.b+1] || '|' || sg[2*u.b+2]) AS bkey
             |  FROM sig, UNNEST(range(3)) AS u(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS jaccard
             |  FROM bands a JOIN bands b ON a.band=b.band AND a.bkey=b.bkey AND a.doc_id < b.doc_id),
             |pr AS (SELECT doc_a, doc_b, CAST(floor(jaccard * 1000000.0) AS BIGINT) AS jq
             |  FROM cand WHERE jaccard >= 0.2),
             |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
             |reach(src, dst) AS (SELECT src, dst FROM ed
             |  UNION SELECT r.src, e.dst FROM reach r JOIN ed e ON r.dst = e.src),
             |lab AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src),
             |sc AS (SELECT doc_id, SUM(jq) AS score_q FROM
             |  (SELECT doc_a AS doc_id, jq FROM pr UNION ALL SELECT doc_b, jq FROM pr) GROUP BY doc_id),
             |r AS (SELECT lab.cluster_id, lab.doc_id, sc.score_q,
             |  ROW_NUMBER() OVER (PARTITION BY lab.cluster_id ORDER BY sc.score_q DESC, lab.doc_id) AS rk,
             |  COUNT(*) OVER (PARTITION BY lab.cluster_id) AS n_members
             |  FROM lab JOIN sc ON lab.doc_id = sc.doc_id)
             |SELECT cluster_id, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members,
             |CAST(score_q AS BIGINT) AS rep_score_q
             |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin),
      "best-representative dedup survivor: max summed micro-Jaccard centrality per near-dup cluster"),

    // ---- p63's adversarial-skew twin (VERDICT r13 task 3): the same
    // representative selection under a 150-copy boilerplate storm, with
    // BOTH skew defenses on — capped pair generation (p82's delegate
    // collapse + bucket cap) and the windowless per-cluster argmax. The
    // whole path is now bounded per task at any cluster size: pairs are
    // linear stars inside exact groups, candidates are <= cap² per
    // bucket, and selection partially aggregates. The oracle replays
    // collapse + cap + banding + CC + centrality exactly.
    QueryDef(
      "p63b_representative_boiler",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val boiler = d.orderBy($"doc_id").limit(1)
          .select(explode(sequence(lit(1), lit(150))).as("i"), $"text")
          .select(($"i".cast("long") + lit(100000000L)).as("doc_id"), $"text")
        val corpus = d.select($"doc_id", $"text").unionAll(boiler)
        val pr = Dedup.minhashPairsCapped(corpus, "doc_id", "text",
            nGram = 3, k = 6, bands = 3, threshold = 0.2, bucketCap = 64)
          .select($"doc_a", $"doc_b",
            floor($"jaccard" * 1e6).cast("long").as("jq"))
          .localCheckpoint() // one pair generation feeds labels AND scores
        val labels = Dedup.clusters(corpus.select($"doc_id"),
          pr.select($"doc_a", $"doc_b"))
        val scores = pr.select($"doc_a".as("doc_id"), $"jq")
          .union(pr.select($"doc_b".as("doc_id"), $"jq"))
          .groupBy($"doc_id").agg(sum($"jq").as("score_q"))
        Pipeline.representatives(labels.join(scores, "doc_id"))
      },
      Some("""WITH RECURSIVE boiler AS (SELECT CAST(100000000 + u.i AS BIGINT) AS doc_id,
             |  (SELECT text FROM documents ORDER BY doc_id LIMIT 1) AS text
             |  FROM UNNEST(range(1, 151)) AS u(i)),
             |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM boiler),
             |w AS (SELECT doc_id, string_split(text,' ') AS words FROM corpus),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM w),
             |shf AS (SELECT doc_id, ss, md5(array_to_string(list_sort(ss), chr(1))) AS ch
             |  FROM sh WHERE len(ss) > 0),
             |del AS (SELECT ch, MIN(doc_id) AS ddoc FROM shf GROUP BY ch),
             |star AS (SELECT d.ddoc AS doc_a, s.doc_id AS doc_b, 1.0 AS jaccard
             |  FROM shf s JOIN del d ON s.ch = d.ch AND s.doc_id <> d.ddoc),
             |dsh AS (SELECT s.doc_id, s.ss FROM shf s JOIN del d ON s.ch = d.ch AND s.doc_id = d.ddoc),
             |sig AS (SELECT doc_id, ss,
             |  [list_min(list_transform(ss, s -> md5('mh0:'||s))), list_min(list_transform(ss, s -> md5('mh1:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh2:'||s))), list_min(list_transform(ss, s -> md5('mh3:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh4:'||s))), list_min(list_transform(ss, s -> md5('mh5:'||s)))] AS sg
             |  FROM dsh),
             |bands AS (SELECT doc_id, ss, u.b AS band, md5(sg[2*u.b+1] || '|' || sg[2*u.b+2]) AS bkey
             |  FROM sig, UNNEST(range(3)) AS u(b)),
             |sizes AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
             |kept AS (SELECT b.* FROM bands b JOIN sizes z
             |  ON b.band = z.band AND b.bkey = z.bkey AND z.n <= 64),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS jaccard
             |  FROM kept a JOIN kept b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
             |pr AS (SELECT doc_a, doc_b, CAST(floor(jaccard * 1000000.0) AS BIGINT) AS jq FROM
             |  (SELECT doc_a, doc_b, jaccard FROM star
             |   UNION ALL SELECT doc_a, doc_b, jaccard FROM cand WHERE jaccard >= 0.2)),
             |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pr UNION ALL SELECT doc_b, doc_a FROM pr),
             |reach(src, dst) AS (SELECT src, dst FROM ed
             |  UNION SELECT r.src, e.dst FROM reach r JOIN ed e ON r.dst = e.src),
             |lab AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src),
             |sc AS (SELECT doc_id, SUM(jq) AS score_q FROM
             |  (SELECT doc_a AS doc_id, jq FROM pr UNION ALL SELECT doc_b, jq FROM pr) GROUP BY doc_id),
             |r AS (SELECT lab.cluster_id, lab.doc_id, sc.score_q,
             |  ROW_NUMBER() OVER (PARTITION BY lab.cluster_id ORDER BY sc.score_q DESC, lab.doc_id) AS rk,
             |  COUNT(*) OVER (PARTITION BY lab.cluster_id) AS n_members
             |  FROM lab JOIN sc ON lab.doc_id = sc.doc_id)
             |SELECT cluster_id, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members,
             |CAST(score_q AS BIGINT) AS rep_score_q
             |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin),
      "representative selection under a boilerplate storm: capped pairs + windowless per-cluster argmax"),

    // ---- Distributed k-means training (Lloyd's) — the offline coarse-
    // quantizer trainer IVF/SemDeDup assume. Assignment folds the k
    // centroids in as literals (one codegen'd projection per round, no
    // join); the update shuffles only partial-agg'd (cluster, dim) sums
    // and the driver holds k*dim longs of model state. 2 rounds from
    // the k lowest-id seeds; exact-integer math end to end, so the
    // oracle replays the identical iteration in SQL.
    QueryDef(
      "p64_kmeans_train",
      (s, dir) =>
        KMeans.trainStats(T(s, dir, "embeddings"), k = 8, iters = 2),
      Some("""WITH q AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v
             |  FROM embeddings),
             |c0 AS (
             |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v AS cv
             |  FROM q ORDER BY vec_id LIMIT 8),
             |d1 AS (
             |  SELECT q.vec_id, c0.cid, q.v,
             |    list_sum(list_transform(list_zip(q.v, c0.cv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
             |  FROM q, c0),
             |a1 AS (
             |  SELECT vec_id, cid, v FROM (
             |    SELECT vec_id, cid, v, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1
             |  ) WHERE rn = 1),
             |m1 AS (
             |  SELECT cid, i, CAST(trunc(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval FROM (
             |    SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS i FROM a1
             |  ) GROUP BY cid, i),
             |c1 AS (
             |  SELECT c0.cid, COALESCE(g.cv, c0.cv) AS cv
             |  FROM c0 LEFT JOIN (SELECT cid, list(mval ORDER BY i) AS cv FROM m1 GROUP BY cid) g USING (cid)),
             |d2 AS (
             |  SELECT q.vec_id, c1.cid, q.v,
             |    list_sum(list_transform(list_zip(q.v, c1.cv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
             |  FROM q, c1),
             |a2 AS (
             |  SELECT vec_id, cid, v FROM (
             |    SELECT vec_id, cid, v, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2
             |  ) WHERE rn = 1),
             |m2 AS (
             |  SELECT cid, i, CAST(trunc(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval FROM (
             |    SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS i FROM a2
             |  ) GROUP BY cid, i),
             |c2 AS (
             |  SELECT c1.cid, COALESCE(g.cv, c1.cv) AS cv
             |  FROM c1 LEFT JOIN (SELECT cid, list(mval ORDER BY i) AS cv FROM m2 GROUP BY cid) g USING (cid)),
             |d3 AS (
             |  SELECT q.vec_id, c2.cid,
             |    list_sum(list_transform(list_zip(q.v, c2.cv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
             |  FROM q, c2),
             |a3 AS (
             |  SELECT vec_id, cid, dist FROM (
             |    SELECT vec_id, cid, dist, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3
             |  ) WHERE rn = 1)
             |SELECT c2.cid,
             |  CAST(COALESCE(s.n, 0) AS BIGINT) AS n_members,
             |  CAST(list_sum(list_transform(c2.cv, x -> abs(x))) AS BIGINT) AS c_l1,
             |  CAST(COALESCE(s.inertia, 0) AS BIGINT) AS inertia
             |FROM c2 LEFT JOIN (
             |  SELECT cid, COUNT(*) AS n, SUM(dist) AS inertia FROM a3 GROUP BY cid
             |) s USING (cid)
             |ORDER BY cid""".stripMargin),
      "distributed Lloyd's k-means: literal-folded assignment, partial-agg'd (cluster,dim) update, exact-integer model"),

    // ---- Image perceptual fingerprint over REAL decoded pixels:
    // encode one PNG per doc (seed = doc_id % 97 plants identical-image
    // groups), javax.imageio-decode it back, box-average luma to a 9x8
    // grid, dHash to a 64-bit hex fingerprint. The oracle replays the
    // grid arithmetic from the fixture's pixel pattern — if decode,
    // pooling, or bit packing drift by one pixel anywhere, the hash
    // diverges. 8-byte fingerprints are the only thing that leaves the
    // codec stage, whatever the payload size.
    QueryDef(
      "p65_phash",
      (s, dir) => {
        import s.implicits._
        val dims = T(s, dir, "documents")
          .select($"doc_id",
            (lit(9) + $"n_chars" % 48).cast("int").as("w"),
            (lit(8) + $"n_chars" % 31).cast("int").as("h"),
            ($"doc_id" % 97).as("seed"))
        val media = cachedMedia(s, dir, "png-seed-v1")(
          Multimodal.encodePng(dims, "doc_id", "w", "h", Some("seed")))
        Multimodal.decodeBatched(media, codec = Multimodal.phashCodec)
          .select($"media_id", $"width", $"height", $"feature_hash")
          .orderBy($"media_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, CAST(9 + n_chars % 48 AS BIGINT) AS w, CAST(8 + n_chars % 31 AS BIGINT) AS h,
             |    doc_id % 97 AS b
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, gy.y AS gy, gx.x AS gx,
             |    SUM((((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) // 3) // COUNT(*) AS g
             |  FROM docs d,
             |    UNNEST(range(8)) AS gy(y), UNNEST(range(9)) AS gx(x),
             |    UNNEST(range((gx.x*d.w)//9, ((gx.x+1)*d.w)//9)) AS ux(x),
             |    UNNEST(range((gy.y*d.h)//8, ((gy.y+1)*d.h)//8)) AS uy(y),
             |    LATERAL (SELECT (d.b * 2654435761 + (uy.y*d.w + ux.x) * 2246822519) & 16777215 AS p) pp
             |  GROUP BY 1,2,3,4,5),
             |bits AS (
             |  SELECT doc_id, w, h, gy, gx,
             |    CASE WHEN lead(g) OVER (PARTITION BY doc_id, gy ORDER BY gx) > g THEN 1 ELSE 0 END AS b
             |  FROM px),
             |rb AS (
             |  SELECT doc_id, w, h, gy, SUM(b * (1 << gx)) AS byte
             |  FROM bits WHERE gx < 8 GROUP BY 1,2,3,4)
             |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             |  string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY gy) AS feature_hash
             |FROM rb GROUP BY 1,2,3 ORDER BY media_id""".stripMargin),
      "image dHash fingerprint from real javax.imageio-decoded pixels; oracle replays the grid math per pixel"),

    // ---- Image near-dup pairs off those fingerprints: band on the
    // first 16 hash bits (equi-join, never all-pairs — scrambled
    // fixtures keep bands uniform, so band population ~ n/2^16), then
    // exact 64-bit Hamming <= 4 on band survivors via per-byte
    // conv/xor/bit_count columns. The planted seed groups surface as
    // hamming=0 pairs; everything else collides only by chance.
    QueryDef(
      "p66_phash_pairs",
      (s, dir) => {
        import s.implicits._
        // pair mining reads the STORED fingerprint column (cachedPhash
        // extracts it once per corpus at "ingest") — the decoder never
        // re-runs inside the mining job
        Multimodal.phashPairs(cachedPhash(s, dir), maxHamming = 4)
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, CAST(9 + n_chars % 48 AS BIGINT) AS w, CAST(8 + n_chars % 31 AS BIGINT) AS h,
             |    doc_id % 97 AS b
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
             |    SUM((((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) // 3) // COUNT(*) AS g
             |  FROM docs d,
             |    UNNEST(range(8)) AS gy(y), UNNEST(range(9)) AS gx(x),
             |    UNNEST(range((gx.x*d.w)//9, ((gx.x+1)*d.w)//9)) AS ux(x),
             |    UNNEST(range((gy.y*d.h)//8, ((gy.y+1)*d.h)//8)) AS uy(y),
             |    LATERAL (SELECT (d.b * 2654435761 + (uy.y*d.w + ux.x) * 2246822519) & 16777215 AS p) pp
             |  GROUP BY 1,2,3),
             |bits AS (
             |  SELECT doc_id, gy, gx,
             |    CASE WHEN lead(g) OVER (PARTITION BY doc_id, gy ORDER BY gx) > g THEN 1 ELSE 0 END AS b
             |  FROM px),
             |rb AS (
             |  SELECT doc_id, gy, SUM(b * (1 << gx)) AS byte
             |  FROM bits WHERE gx < 8 GROUP BY 1,2),
             |hsh AS (
             |  SELECT doc_id, string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY gy) AS ph
             |  FROM rb GROUP BY 1),
             |cand AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM hsh a JOIN hsh b ON substr(a.ph,1,4) = substr(b.ph,1,4) AND a.doc_id < b.doc_id),
             |ham AS (
             |  SELECT c.doc_a, c.doc_b, SUM(bit_count(xor(ra.byte, rbb.byte))) AS hd
             |  FROM cand c
             |  JOIN rb ra ON ra.doc_id = c.doc_a
             |  JOIN rb rbb ON rbb.doc_id = c.doc_b AND rbb.gy = ra.gy
             |  GROUP BY 1,2)
             |SELECT doc_a, doc_b, CAST(hd AS BIGINT) AS hamming
             |FROM ham WHERE hd <= 4 ORDER BY doc_a, doc_b""".stripMargin),
      "image near-dup via dHash banding: fixed-width band equi-join + bounded Hamming verify, planted dup groups"),

    // ---- IVF probe with a TRAINED coarse quantizer: k-means centroids
    // (p64's exact-integer model) as the pivot set instead of the
    // lowest-id corpus vectors — training and probing as two separate
    // jobs sharing only k x dim longs of model state. The oracle chains
    // the full Lloyd iteration into the same assignment/probe SQL as
    // p7b, so any drift in either stage breaks the hash.
    QueryDef(
      "p67_ann_ivf_kmeans",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val model = KMeans.train(em, k = 8, iters = 2)
        Similarity.ivfTopKTrained(em.filter($"vec_id" < 10), em, 3,
          model, nProbe = 2)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v
             |  FROM embeddings),
             |c0 AS (
             |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v AS cv
             |  FROM q ORDER BY vec_id LIMIT 8),
             |d1 AS (
             |  SELECT q.vec_id, c0.cid, q.v,
             |    list_sum(list_transform(list_zip(q.v, c0.cv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
             |  FROM q, c0),
             |a1 AS (
             |  SELECT vec_id, cid, v FROM (
             |    SELECT vec_id, cid, v, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1
             |  ) WHERE rn = 1),
             |m1 AS (
             |  SELECT cid, i, CAST(trunc(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval FROM (
             |    SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS i FROM a1
             |  ) GROUP BY cid, i),
             |c1 AS (
             |  SELECT c0.cid, COALESCE(g.cv, c0.cv) AS cv
             |  FROM c0 LEFT JOIN (SELECT cid, list(mval ORDER BY i) AS cv FROM m1 GROUP BY cid) g USING (cid)),
             |d2 AS (
             |  SELECT q.vec_id, c1.cid, q.v,
             |    list_sum(list_transform(list_zip(q.v, c1.cv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
             |  FROM q, c1),
             |a2 AS (
             |  SELECT vec_id, cid, v FROM (
             |    SELECT vec_id, cid, v, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2
             |  ) WHERE rn = 1),
             |m2 AS (
             |  SELECT cid, i, CAST(trunc(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mval FROM (
             |    SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS i FROM a2
             |  ) GROUP BY cid, i),
             |c2 AS (
             |  SELECT c1.cid, COALESCE(g.cv, c1.cv) AS cv
             |  FROM c1 LEFT JOIN (SELECT cid, list(mval ORDER BY i) AS cv FROM m2 GROUP BY cid) g USING (cid)),
             |piv AS (SELECT cid AS pivot_id, cv AS pv FROM c2),
             |aff AS (SELECT c.vec_id, p.pivot_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> c.v[i]*p.pv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> c.v[i]*c.v[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> p.pv[i]*p.pv[i])) AS DOUBLE)) AS acos
             |  FROM q c, piv p),
             |rnk AS (SELECT vec_id, pivot_id, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY acos DESC, pivot_id) AS rn FROM aff),
             |cells AS (SELECT vec_id, pivot_id AS cell FROM rnk WHERE rn = 1),
             |probes AS (SELECT vec_id, pivot_id AS cell FROM rnk WHERE rn <= 2 AND vec_id < 10),
             |scored AS (SELECT pr.vec_id AS query_id, cb.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> qa.v[i]*qb.v[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> qa.v[i]*qa.v[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> qb.v[i]*qb.v[i])) AS DOUBLE)) AS cos
             |  FROM probes pr JOIN cells cb ON cb.cell = pr.cell AND cb.vec_id <> pr.vec_id
             |  JOIN q qa ON qa.vec_id = pr.vec_id JOIN q qb ON qb.vec_id = cb.vec_id),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin),
      "IVF ANN with k-means-trained cells: offline Lloyd training feeds the same literal-folded probe"),

    // ---- Image exact-dup GROUPS off the fingerprints — the linear
    // production formulation (p66's pair enumeration is the audit view:
    // on a dup-heavy corpus, in-group pairs grow quadratically with
    // group size, measured 46k pairs at sf1 -> 4.8M at sf10; this
    // grouping stays one fixed-width groupBy of 8-byte keys however
    // large the groups get). Keep-lowest-id survivor, same convention
    // as exact text dedup.
    QueryDef(
      "p68_phash_dedup",
      (s, dir) => {
        import s.implicits._
        // same stored-fingerprint read as p66: the exact-dup groupBy is
        // a fingerprint-column job, not a decode job
        cachedPhash(s, dir)
          .groupBy($"feature_hash")
          .agg(count(lit(1)).as("n_members"),
            min($"media_id").as("survivor_id"))
          .where($"n_members" > 1)
          .select($"feature_hash", $"n_members", $"survivor_id")
          .orderBy($"feature_hash")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, CAST(9 + n_chars % 48 AS BIGINT) AS w, CAST(8 + n_chars % 31 AS BIGINT) AS h,
             |    doc_id % 97 AS b
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, gy.y AS gy, gx.x AS gx,
             |    SUM((((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) // 3) // COUNT(*) AS g
             |  FROM docs d,
             |    UNNEST(range(8)) AS gy(y), UNNEST(range(9)) AS gx(x),
             |    UNNEST(range((gx.x*d.w)//9, ((gx.x+1)*d.w)//9)) AS ux(x),
             |    UNNEST(range((gy.y*d.h)//8, ((gy.y+1)*d.h)//8)) AS uy(y),
             |    LATERAL (SELECT (d.b * 2654435761 + (uy.y*d.w + ux.x) * 2246822519) & 16777215 AS p) pp
             |  GROUP BY 1,2,3),
             |bits AS (
             |  SELECT doc_id, gy, gx,
             |    CASE WHEN lead(g) OVER (PARTITION BY doc_id, gy ORDER BY gx) > g THEN 1 ELSE 0 END AS b
             |  FROM px),
             |rb AS (
             |  SELECT doc_id, gy, SUM(b * (1 << gx)) AS byte
             |  FROM bits WHERE gx < 8 GROUP BY 1,2),
             |hsh AS (
             |  SELECT doc_id, string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY gy) AS feature_hash
             |  FROM rb GROUP BY 1)
             |SELECT feature_hash, CAST(COUNT(*) AS BIGINT) AS n_members,
             |  MIN(doc_id) AS survivor_id
             |FROM hsh GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY feature_hash""".stripMargin),
      "image exact-dup groups on 8-byte fingerprints: linear groupBy formulation, keep-lowest-id survivor"),

    // ---- REAL audio decode: javax.sound.sampled WAV fixtures (RIFF
    // container written by the JDK's own encoder) decoded back to
    // exact integer signal stats — sample rate, frame count, peak and
    // L1 amplitude. The oracle replays the PCM pattern per sample; a
    // one-sample drift in container parsing or sign handling breaks it.
    // Only fixed-width stats leave the codec stage, never samples.
    QueryDef(
      "p69_wav_stats",
      (s, dir) => {
        import s.implicits._
        val spec = T(s, dir, "documents")
          .select($"doc_id",
            (lit(200) + $"n_chars" % 800).cast("int").as("n_samples"))
        val media = cachedMedia(s, dir, "wav-v1")(
          Multimodal.encodeWav(spec, "doc_id", "n_samples"))
        Multimodal.decodeWavBatched(media)
          .select($"media_id", $"sample_rate", $"n_samples",
            $"peak", $"sum_abs")
          .orderBy($"media_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, CAST(200 + n_chars % 800 AS BIGINT) AS n FROM documents),
             |smp AS (
             |  SELECT d.doc_id, d.n,
             |    abs(((d.doc_id * 2654435761 + u.i * 2246822519) & 65535) - 32768) AS a
             |  FROM docs d, UNNEST(range(d.n)) AS u(i))
             |SELECT doc_id AS media_id, CAST(8000 AS INTEGER) AS sample_rate,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(MAX(a) AS BIGINT) AS peak, CAST(SUM(a) AS BIGINT) AS sum_abs
             |FROM smp GROUP BY 1, 3 ORDER BY media_id""".stripMargin),
      "real javax.sound WAV decode: container-parsed PCM stats vs a per-sample oracle replay"),

    // ---- Exact tokenization with a frozen BPE tokenizer: the count a
    // token-budgeted pipeline actually bills by (p9/subword_est is the
    // estimate; shard packing, mixture planning and context-window
    // chunking all want the real number). The 24-rule merge table is a
    // fixed pretrained artifact (graft.functions.Bpe.PRETRAINED);
    // encoding is one codegen'd pass per row. The oracle replays greedy
    // merge-in-table-order exactly: each rule r is one REPLACE pass
    // over a '|sym||sym|' delimiter encoding of the word — SQL REPLACE's
    // left-to-right non-overlapping scan IS BPE's greedy pass (the
    // double-bar separators make symbol boundaries unambiguous even
    // when one symbol is a suffix of another).
    QueryDef(
      "p70_bpe_encode",
      (s, dir) => {
        import s.implicits._
        T(s, dir, "documents")
          .select($"doc_id",
            size(TextOps.tokens($"text")).cast("long").as("n_words"),
            length(regexp_replace($"text", " ", "")).cast("long")
              .as("n_chars"),
            graft.functions.Text.bpeCount(TextOps.tokens($"text"))
              .as("bpe_tokens"))
          .withColumn("chars_per_token_ppm",
            when($"bpe_tokens" > 0,
              expr("n_chars * 1000000 DIV bpe_tokens")).otherwise(0L))
          .orderBy($"doc_id")
      },
      Some(bpeEncodeOracle),
      "exact BPE token counts under a frozen 24-rule merge table; oracle replays greedy merges as delimiter-encoded REPLACE chains"),

    // ---- The same computation through the vocabulary cache — the plan
    // that wins at 100 TB with a production-sized (~50k rule) merge
    // table: encode each distinct word ONCE, broadcast the (word →
    // token count) map back, partial-aggregate per doc. Same oracle as
    // p70; PlanSpec pins the broadcast join + partial aggregation.
    QueryDef(
      "p71_bpe_vocab_cached",
      (s, dir) => {
        import s.implicits._
        Vocab.bpeTokensCached(T(s, dir, "documents"), "doc_id", "text")
          .select($"doc".as("doc_id"), $"n_words", $"n_chars",
            $"bpe_tokens",
            when($"bpe_tokens" > 0,
              expr("n_chars * 1000000 DIV bpe_tokens")).otherwise(0L)
              .as("chars_per_token_ppm"))
          .orderBy($"doc_id")
      },
      Some(bpeEncodeOracle),
      "vocabulary-cached BPE encoding: encode word types once, broadcast-join counts back — identical output to p70 under the scale plan"),

    // ---- Distributed PCA, phase 1: the principal component of the
    // embedding corpus. One pass reduces the corpus to a bounded
    // (dim+1)² second-moment matrix (GramAggExpr — fixed 17 KB buffers,
    // map-side combined, vectors never shuffle); the eigen-iteration is
    // driver-side integer power iteration on that 64×64 model state.
    // Exact-integer end to end (quantized inputs, truncating rescales),
    // so the oracle replays the identical recurrence as chained CTE
    // matrix-vector steps — any drift in centering, rescale, or
    // iteration order diverges the result.
    QueryDef(
      "p72_pca_power",
      (s, dir) => Pca.topComponent(s, T(s, dir, "embeddings")),
      Some(s"""$pcaChainSql,
             |w9 AS (SELECT g.i, SUM(g.gv * v.v) AS w
             |       FROM gs g JOIN v${Pca.Steps} v ON g.j = v.i GROUP BY 1),
             |lam AS (SELECT CAST(SUM(a.v * w9.w) AS BIGINT) AS num,
             |               CAST(SUM(a.v * a.v) AS BIGINT) AS den
             |        FROM v${Pca.Steps} a JOIN w9 ON a.i = w9.i)
             |SELECT CAST(a.i AS INTEGER) AS dim, CAST(a.v AS BIGINT) AS v_q,
             |  (SELECT num FROM lam) AS lam_num,
             |  (SELECT den FROM lam) AS lam_den
             |FROM v${Pca.Steps} a ORDER BY dim""".stripMargin),
      "distributed PCA: one-pass bounded Gram aggregate + exact-integer power iteration, oracle-replayed as a CTE recurrence"),

    // ---- Distributed PCA, phase 2: per-label distribution along the
    // learned axis — the embedding-drift / outlier audit a curation
    // pipeline runs per snapshot. Component and centering constant fold
    // in as literals (score = dot(q,v) − dot(mu,v)): projection is a
    // map-only codegen'd integer dot, then a partial-agg'd groupBy —
    // nothing pair-proportional, nothing driver-side but the 64-long
    // model.
    QueryDef(
      "p73_pca_project",
      (s, dir) => Pca.projectByLabel(T(s, dir, "embeddings")),
      Some(s"""$pcaChainSql,
             |dv AS (SELECT CAST(SUM(mu.m * v.v) AS BIGINT) AS c
             |       FROM mu JOIN v${Pca.Steps} v ON mu.i = v.i),
             |sc AS (SELECT e.vec_id, MIN(e.label) AS label,
             |         CAST(SUM(e.val * v.v) AS BIGINT) - (SELECT c FROM dv) AS score
             |       FROM e JOIN v${Pca.Steps} v ON e.i = v.i GROUP BY e.vec_id)
             |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |  CAST(SUM(score) AS BIGINT) AS score_sum,
             |  CAST(MIN(score) AS BIGINT) AS score_min,
             |  CAST(MAX(score) AS BIGINT) AS score_max
             |FROM sc GROUP BY label ORDER BY label""".stripMargin),
      "PCA projection audit: literal-folded component, map-only integer dot, per-label partial-agg'd distribution stats"),

    // ---- Context-window chunking: split documents into overlapping
    // token windows — the curation→packing bridge step. Pure per-row
    // integer arithmetic + a generator: map-only, no shuffle; only
    // 16-byte chunk fingerprints leave the stage. The catalog entry
    // runs win=32/stride=24 so the 10-99-word testdata docs genuinely
    // multi-chunk (production default is 120/96, Chunking.Win/Stride).
    QueryDef(
      "p74_chunk_plan",
      (s, dir) => {
        import s.implicits._
        Chunking.plan(T(s, dir, "documents"), win = 32, stride = 24)
          .drop("source")
          .orderBy($"doc_id", $"chunk_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             |b AS (SELECT doc_id, words, len(words) AS ntok,
             |        1 + (GREATEST(len(words) - 32, 0) + 23) // 24 AS nch FROM w),
             |c AS (SELECT doc_id, words, ntok, u.k AS chunk_id
             |      FROM b, UNNEST(range(b.nch)) AS u(k))
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  CAST(chunk_id * 24 AS BIGINT) AS tok_start,
             |  CAST(LEAST(chunk_id * 24 + 32, ntok) AS BIGINT) AS tok_end,
             |  CAST(LEAST(chunk_id * 24 + 32, ntok) - chunk_id * 24 AS BIGINT) AS n_tok,
             |  md5(array_to_string(
             |    words[chunk_id * 24 + 1 : LEAST(chunk_id * 24 + 32, ntok)],
             |    ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
      "context-window chunk plan: overlapping token windows as map-only integer arithmetic; md5 fingerprint per chunk"),

    // ---- Chunk-level dedup audit: tokens saved by exact chunk dedup
    // per source — the paragraph-grain complement to p1's doc-grain
    // dedup (boilerplate chunks repeat across documents long before
    // whole docs do). Shuffles (source, md5, n_tok) triples only.
    QueryDef(
      "p75_chunk_dedup",
      (s, dir) =>
        Chunking.dedupAudit(T(s, dir, "documents"), win = 32, stride = 24),
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
             |b AS (SELECT doc_id, source, words, len(words) AS ntok,
             |        1 + (GREATEST(len(words) - 32, 0) + 23) // 24 AS nch FROM w),
             |c AS (SELECT doc_id, source, ntok, u.k AS chunk_id,
             |        CAST(LEAST(u.k * 24 + 32, ntok) - u.k * 24 AS BIGINT) AS n_tok,
             |        md5(array_to_string(
             |          words[u.k * 24 + 1 : LEAST(u.k * 24 + 32, ntok)],
             |          ' ')) AS chunk_md5
             |      FROM b, UNNEST(range(b.nch)) AS u(k)),
             |g AS (SELECT source, chunk_md5, COUNT(*) AS copies, MIN(n_tok) AS n_tok
             |      FROM c GROUP BY 1, 2)
             |SELECT source, CAST(SUM(copies) AS BIGINT) AS n_chunks,
             |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |  CAST(SUM(copies * n_tok) AS BIGINT) AS tok_total,
             |  CAST(SUM((copies - 1) * n_tok) AS BIGINT) AS tok_saved
             |FROM g GROUP BY source ORDER BY source""".stripMargin),
      "chunk-grain dedup audit: tokens saved by exact fingerprint dedup per source; only 16-byte hashes shuffle"),

    // ---- The curation→training bridge end to end: chunk documents
    // into context windows, count each chunk's EXACT BPE tokens (the
    // number training bills by — frozen merge table, codegen'd kernel),
    // pack chunks into ~500-token shards with the distributed
    // prefix-sum scan. Composition of p74 × p71 × p18: per-chunk counts
    // come through the VOCABULARY CACHE (Chunking.bpeCountsCached —
    // encode each distinct word type once, broadcast the counts back,
    // window-sum per chunk), the same decomposition the oracle replays;
    // re-encoding every overlapping slice paid occurrences × overlap
    // instead of types and was the catalog's largest sf10 compute line
    // (83 s → ~10 s). Only (chunk key, token count) — 16 bytes/chunk —
    // enters the packing scan.
    QueryDef(
      "p76_chunk_pack",
      (s, dir) => {
        import s.implicits._
        val ch = Chunking
          .bpeCountsCached(T(s, dir, "documents"), win = 32, stride = 24)
          // chunk key: unique + orderable; 4096 bounds chunks/doc until
          // ~98k-word documents (stride 24), far past any web doc
          .withColumn("cid", $"doc_id" * 4096 + $"chunk_id")
        Packing.packShards(ch, "cid", "bpe_tokens", budget = 500L)
          .select(expr("doc_id DIV 4096").as("doc_id"),
            (col("doc_id") % 4096).as("chunk_id"),
            col("tokens").as("bpe_tokens"),
            col("shard_id"), col("shard_offset"))
          .orderBy($"doc_id", $"chunk_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             |b AS (SELECT doc_id, words, len(words) AS ntok,
             |        1 + (GREATEST(len(words) - 32, 0) + 23) // 24 AS nch FROM w),
             |ch AS (SELECT doc_id, u.k AS chunk_id, u.k * 24 AS s,
             |         LEAST(u.k * 24 + 32, ntok) AS e
             |       FROM b, UNNEST(range(b.nch)) AS u(k)),
             |wt AS (SELECT doc_id, generate_subscripts(words, 1) AS wi,
             |         unnest(words) AS word FROM w),
             |enc AS MATERIALIZED (SELECT doc_id, wi,
             |         (length(seq) - length(replace(seq, '|', ''))) // 2 AS wtok
             |       FROM (SELECT doc_id, wi, $bpeReplaceChain AS seq FROM wt)),
             |ct AS (SELECT ch.doc_id, ch.chunk_id, SUM(enc.wtok) AS bpe_tokens
             |       FROM ch JOIN enc ON ch.doc_id = enc.doc_id
             |         AND enc.wi > ch.s AND enc.wi <= ch.e
             |       GROUP BY 1, 2),
             |o AS (SELECT doc_id * 4096 + chunk_id AS cid, doc_id, chunk_id,
             |        bpe_tokens FROM ct),
             |p AS (SELECT cid, doc_id, chunk_id, bpe_tokens,
             |        CAST(COALESCE(SUM(bpe_tokens) OVER (ORDER BY cid
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          AS BIGINT) AS prefix FROM o)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
             |  prefix // 500 AS shard_id, prefix % 500 AS shard_offset
             |FROM p ORDER BY doc_id, chunk_id""".stripMargin),
      "chunk → exact BPE count → shard packing: the full curation-to-training bridge; 16 bytes per chunk enter the scan"),

    // ---- Top-TWO principal components: the second deflates by
    // per-step projection against the converged first (proj truncated,
    // all integer) on the SAME rescaled Gram — one distributed pass
    // still feeds everything. orth_q carries the exact v1·v2 dot as an
    // in-result orthogonality audit. Oracle = the p72 chain plus a
    // second 8-step CTE recurrence with the projection subqueries.
    QueryDef(
      "p77_pca_two",
      (s, dir) => Pca.topTwoComponents(s, T(s, dir, "embeddings")),
      Some(s"""$pcaChainSql,
             |u0 AS (SELECT i, v FROM v0),
             |$pcaSecondSql,
             |orth AS (SELECT CAST(SUM(a.v * b.v) AS BIGINT) AS o
             |         FROM v${Pca.Steps} a JOIN u${Pca.Steps} b ON a.i = b.i)
             |SELECT CAST(a.i AS INTEGER) AS dim, CAST(a.v AS BIGINT) AS v1_q,
             |  CAST(b.v AS BIGINT) AS v2_q, (SELECT o FROM orth) AS orth_q
             |FROM v${Pca.Steps} a JOIN u${Pca.Steps} b ON a.i = b.i
             |ORDER BY dim""".stripMargin),
      "two-component PCA via integer deflation on one Gram pass; exact orthogonality audit in-result"),

    // ---- Product quantization: encode the corpus into m=4 per-subspace
    // codes (Jégou et al. 2011). Codebook = subvectors of the 16
    // lowest-id vectors (deterministic stand-in for per-subspace k-means
    // — p64 shows the trained path); assignment is literal-folded, one
    // codegen'd projection, no join (PlanSpec-pinned). The codes table
    // IS the index: 4 ints replace 64 floats per vector.
    QueryDef(
      "p78_pq_encode",
      (s, dir) => {
        import s.implicits._
        Similarity.pqEncode(T(s, dir, "embeddings"), m = 4, nCode = 16)
          .orderBy($"vec_id")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v FROM embeddings),
             |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, v AS cv FROM q ORDER BY vec_id LIMIT 16),
             |d AS (SELECT q.vec_id, s.s, cb.code,
             |        list_sum(list_transform(range(1,17), i -> (q.v[s.s*16+i]-cb.cv[s.s*16+i])*(q.v[s.s*16+i]-cb.cv[s.s*16+i]))) AS dist
             |      FROM q, UNNEST(range(4)) AS s(s), cb),
             |a AS (SELECT vec_id, s, code FROM (
             |        SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn FROM d) WHERE rn = 1)
             |SELECT vec_id,
             |  CAST(MAX(CASE WHEN s=0 THEN code END) AS INTEGER) AS c0,
             |  CAST(MAX(CASE WHEN s=1 THEN code END) AS INTEGER) AS c1,
             |  CAST(MAX(CASE WHEN s=2 THEN code END) AS INTEGER) AS c2,
             |  CAST(MAX(CASE WHEN s=3 THEN code END) AS INTEGER) AS c3
             |FROM a GROUP BY vec_id ORDER BY vec_id""".stripMargin),
      "PQ corpus encoding: literal-folded nearest-codeword per subspace — 4 ints replace 64 floats"),

    // ---- ADC probe over the PQ codes: per-query integer lookup tables
    // (m x nCode dots on the broadcast query side), corpus scored by m
    // array lookups — never a 64-dim dot, never the raw embedding.
    QueryDef(
      "p79_pq_adc",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        Similarity.pqAdcTopK(em.filter($"vec_id" < 10), em, k = 5)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v FROM embeddings),
             |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, v AS cv FROM q ORDER BY vec_id LIMIT 16),
             |d AS (SELECT q.vec_id, s.s, cb.code,
             |        list_sum(list_transform(range(1,17), i -> (q.v[s.s*16+i]-cb.cv[s.s*16+i])*(q.v[s.s*16+i]-cb.cv[s.s*16+i]))) AS dist
             |      FROM q, UNNEST(range(4)) AS s(s), cb),
             |a AS (SELECT vec_id, s, code FROM (
             |        SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn FROM d) WHERE rn = 1),
             |recon AS (SELECT a.vec_id, SUM(list_sum(list_transform(range(1,17), i -> cb.cv[a.s*16+i]*cb.cv[a.s*16+i]))) AS rnrm
             |          FROM a JOIN cb ON cb.code = a.code GROUP BY a.vec_id),
             |qs AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS qnrm FROM q WHERE vec_id < 10),
             |adc AS (SELECT qs.vec_id AS query_id, a.vec_id AS neighbor_id,
             |          SUM(list_sum(list_transform(range(1,17), i -> qs.v[a.s*16+i]*cb.cv[a.s*16+i]))) AS adot
             |        FROM qs, a, cb WHERE cb.code = a.code AND qs.vec_id <> a.vec_id
             |        GROUP BY 1, 2),
             |scored AS (SELECT adc.query_id, adc.neighbor_id,
             |             CAST(adot AS DOUBLE) / sqrt(CAST(qs.qnrm AS DOUBLE) * CAST(r.rnrm AS DOUBLE)) AS cos
             |           FROM adc JOIN qs ON qs.vec_id = adc.query_id
             |                    JOIN recon r ON r.vec_id = adc.neighbor_id),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin),
      "PQ-ADC top-5: broadcast per-query LUTs, m lookups per corpus row — the RAM-resident index probe"),

    // ---- Incremental NEAR-dup: a new batch (doc_id % 10 = 7) probes the
    // standing corpus's LSH band index — the near-dup twin of p43's
    // exact incremental join. Nothing re-pairs corpus-vs-corpus; the
    // per-new-doc survivor verdict is a partial-agg'd struct min.
    QueryDef(
      "p80_incremental_lsh",
      (s, dir) => {
        import s.implicits._
        val docs = T(s, dir, "documents")
        Dedup.minhashNewVsCorpus(
          docs.filter($"doc_id" % 10 === 7),
          docs.filter($"doc_id" % 10 =!= 7),
          "doc_id", "text", nGram = 3, k = 6, bands = 3, threshold = 0.2)
          .orderBy($"new_doc")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM w),
             |sig AS (SELECT doc_id, ss,
             |  [list_min(list_transform(ss, s -> md5('mh0:'||s))), list_min(list_transform(ss, s -> md5('mh1:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh2:'||s))), list_min(list_transform(ss, s -> md5('mh3:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh4:'||s))), list_min(list_transform(ss, s -> md5('mh5:'||s)))] AS sg
             |  FROM sh WHERE len(ss) > 0),
             |bands AS (SELECT doc_id, ss, u.b AS band, md5(sg[2*u.b+1] || '|' || sg[2*u.b+2]) AS bkey
             |  FROM sig, UNNEST(range(3)) AS u(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS dup_of,
             |  CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS jaccard
             |  FROM bands a JOIN bands b ON a.band=b.band AND a.bkey=b.bkey
             |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
             |v AS (SELECT new_doc, dup_of, jaccard,
             |  row_number() OVER (PARTITION BY new_doc ORDER BY dup_of) AS rn
             |  FROM cand WHERE jaccard >= 0.2)
             |SELECT new_doc, dup_of, jaccard FROM v WHERE rn = 1
             |ORDER BY new_doc""".stripMargin),
      "incremental LSH near-dup: batch probes the corpus band index; lowest-id survivor per new doc"),

    // ---- PQ quantization-error audit: the k-means objective as a
    // one-scalar tuning job for (m, nCode) before committing an index
    // config. PqSpec pins that trainIters rounds only reduce it.
    QueryDef(
      "p81_pq_error",
      (s, dir) =>
        Similarity.pqQuantizationError(
          T(s, dir, "embeddings"), m = 4, nCode = 16, trainIters = 0),
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v FROM embeddings),
             |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, v AS cv FROM q ORDER BY vec_id LIMIT 16),
             |d AS (SELECT q.vec_id, s.s,
             |        MIN(list_sum(list_transform(range(1,17), i -> (q.v[s.s*16+i]-cb.cv[s.s*16+i])*(q.v[s.s*16+i]-cb.cv[s.s*16+i])))) AS dd
             |      FROM q, UNNEST(range(4)) AS s(s), cb GROUP BY 1, 2)
             |SELECT CAST(SUM(dd) AS BIGINT) AS total_err FROM d""".stripMargin),
      "PQ objective audit: exact-integer total quantization error in one scan — the index-config tuning scalar"),

    // ---- Frequency-capped LSH under adversarial skew: 150 exact copies
    // of one doc are unioned in (a boilerplate storm — every band gets
    // one hot bucket that a raw self-join would square). The capped
    // path collapses them to ONE delegate + linear star pairs, so the
    // "has a lower-id near-dup" survivor predicate is unchanged; the
    // oracle replays collapse + cap + banding and must agree exactly.
    // DedupCapSpec pins the candidate-count bound.
    QueryDef(
      "p82_lsh_bucket_cap",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val boiler = d.orderBy($"doc_id").limit(1)
          .select(explode(sequence(lit(1), lit(150))).as("i"), $"text")
          .select(($"i".cast("long") + lit(100000000L)).as("doc_id"), $"text")
        val corpus = d.select($"doc_id", $"text").unionAll(boiler)
        Dedup.minhashPairsCapped(corpus, "doc_id", "text",
          nGram = 3, k = 6, bands = 3, threshold = 0.2, bucketCap = 64)
          .select($"doc_b".as("dup_id")).distinct().orderBy($"dup_id")
      },
      Some("""WITH boiler AS (SELECT CAST(100000000 + u.i AS BIGINT) AS doc_id,
             |  (SELECT text FROM documents ORDER BY doc_id LIMIT 1) AS text
             |  FROM UNNEST(range(1, 151)) AS u(i)),
             |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM boiler),
             |w AS (SELECT doc_id, string_split(text,' ') AS words FROM corpus),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM w),
             |shf AS (SELECT doc_id, ss, md5(array_to_string(list_sort(ss), chr(1))) AS ch
             |  FROM sh WHERE len(ss) > 0),
             |del AS (SELECT ch, MIN(doc_id) AS ddoc FROM shf GROUP BY ch),
             |star AS (SELECT s.doc_id AS doc_b FROM shf s JOIN del d ON s.ch = d.ch AND s.doc_id <> d.ddoc),
             |dsh AS (SELECT s.doc_id, s.ss FROM shf s JOIN del d ON s.ch = d.ch AND s.doc_id = d.ddoc),
             |sig AS (SELECT doc_id, ss,
             |  [list_min(list_transform(ss, s -> md5('mh0:'||s))), list_min(list_transform(ss, s -> md5('mh1:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh2:'||s))), list_min(list_transform(ss, s -> md5('mh3:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh4:'||s))), list_min(list_transform(ss, s -> md5('mh5:'||s)))] AS sg
             |  FROM dsh),
             |bands AS (SELECT doc_id, ss, u.b AS band, md5(sg[2*u.b+1] || '|' || sg[2*u.b+2]) AS bkey
             |  FROM sig, UNNEST(range(3)) AS u(b)),
             |sizes AS (SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY 1, 2),
             |kept AS (SELECT b.* FROM bands b JOIN sizes z
             |  ON b.band = z.band AND b.bkey = z.bkey AND z.n <= 64),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ss, b.ss))) AS DOUBLE) AS j
             |  FROM kept a JOIN kept b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
             |SELECT DISTINCT doc_b AS dup_id FROM
             |  (SELECT doc_b FROM cand WHERE j >= 0.2 UNION ALL SELECT doc_b FROM star)
             |ORDER BY dup_id""".stripMargin),
      "capped LSH on a 150-copy boilerplate storm: exact-content collapse + band-bucket cap, survivor set oracle-exact"),

    // ---- The divert log itself: which band buckets the cap flagged.
    // 80 NEAR-copies (shared prefix, distinct tail token) are unioned
    // in; their signatures mostly agree per band, so with cap=16 the
    // hot buckets are diverted and surface here — the monitoring feed a
    // 100 TB ingest run alerts on. The oracle replays the same collapse
    // + bucket count, so rows match exactly (band, bkey, n_delegates).
    QueryDef(
      "p83_lsh_hot_buckets",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val near = d.orderBy($"doc_id").limit(1)
          .select(explode(sequence(lit(1), lit(80))).as("i"), $"text")
          .select(($"i".cast("long") + lit(100000000L)).as("doc_id"),
            concat($"text", lit(" zz"), $"i").as("text"))
        val corpus = d.select($"doc_id", $"text").unionAll(near)
        Dedup.minhashHotBuckets(corpus, "doc_id", "text",
          nGram = 3, k = 6, bands = 3, bucketCap = 16)
          .orderBy($"band", $"bkey")
      },
      Some("""WITH near AS (SELECT CAST(100000000 + u.i AS BIGINT) AS doc_id,
             |  (SELECT text FROM documents ORDER BY doc_id LIMIT 1) || ' zz' || CAST(u.i AS VARCHAR) AS text
             |  FROM UNNEST(range(1, 81)) AS u(i)),
             |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM near),
             |w AS (SELECT doc_id, string_split(text,' ') AS words FROM corpus),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> words[i]||' '||words[i+1]||' '||words[i+2])
             |  ELSE [] END) AS ss FROM w),
             |shf AS (SELECT doc_id, ss, md5(array_to_string(list_sort(ss), chr(1))) AS ch
             |  FROM sh WHERE len(ss) > 0),
             |del AS (SELECT ch, MIN(doc_id) AS ddoc FROM shf GROUP BY ch),
             |dsh AS (SELECT s.doc_id, s.ss FROM shf s JOIN del d ON s.ch = d.ch AND s.doc_id = d.ddoc),
             |sig AS (SELECT doc_id,
             |  [list_min(list_transform(ss, s -> md5('mh0:'||s))), list_min(list_transform(ss, s -> md5('mh1:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh2:'||s))), list_min(list_transform(ss, s -> md5('mh3:'||s))),
             |   list_min(list_transform(ss, s -> md5('mh4:'||s))), list_min(list_transform(ss, s -> md5('mh5:'||s)))] AS sg
             |  FROM dsh),
             |bands AS (SELECT doc_id, CAST(u.b AS INTEGER) AS band, md5(sg[2*u.b+1] || '|' || sg[2*u.b+2]) AS bkey
             |  FROM sig, UNNEST(range(3)) AS u(b))
             |SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS n_delegates FROM bands GROUP BY 1, 2
             |HAVING COUNT(*) > 16 ORDER BY band, bkey""".stripMargin),
      "LSH divert log: band buckets whose distinct-content population exceeds the cap on a near-copy storm"),

    // ---- PQ recall gate: the ADC probe (p79) audited against the
    // brute-force truth (p7) per query, with a thresholded pass flag —
    // the acceptance check an index config (m, nCode, trainIters) must
    // clear before the compressed codes replace raw vectors in
    // production. Completes the recall-audit family (p8c = sign-bucket
    // LSH, p59 = MinHash banding, p8d = product quantization).
    QueryDef(
      "p8d_pq_recall",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val q = em.filter($"vec_id" < 10)
        Similarity.recallAtK(
          Similarity.pqAdcTopK(q, em, k = 5),
          Similarity.bruteForceTopK(q, em, 5), k = 5)
          .withColumn("pass", $"recall" >= 0.6)
          .orderBy($"query_id")
      },
      Some("""WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v FROM embeddings),
             |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, v AS cv FROM q ORDER BY vec_id LIMIT 16),
             |d AS (SELECT q.vec_id, s.s, cb.code,
             |        list_sum(list_transform(range(1,17), i -> (q.v[s.s*16+i]-cb.cv[s.s*16+i])*(q.v[s.s*16+i]-cb.cv[s.s*16+i]))) AS dist
             |      FROM q, UNNEST(range(4)) AS s(s), cb),
             |a AS (SELECT vec_id, s, code FROM (
             |        SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn FROM d) WHERE rn = 1),
             |recon AS (SELECT a.vec_id, SUM(list_sum(list_transform(range(1,17), i -> cb.cv[a.s*16+i]*cb.cv[a.s*16+i]))) AS rnrm
             |          FROM a JOIN cb ON cb.code = a.code GROUP BY a.vec_id),
             |qs AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x*x)) AS qnrm FROM q WHERE vec_id < 10),
             |adc AS (SELECT qs.vec_id AS query_id, a.vec_id AS neighbor_id,
             |          SUM(list_sum(list_transform(range(1,17), i -> qs.v[a.s*16+i]*cb.cv[a.s*16+i]))) AS adot
             |        FROM qs, a, cb WHERE cb.code = a.code AND qs.vec_id <> a.vec_id
             |        GROUP BY 1, 2),
             |approx AS (SELECT query_id, neighbor_id FROM (
             |    SELECT adc.query_id, adc.neighbor_id,
             |      row_number() OVER (PARTITION BY adc.query_id ORDER BY
             |        CAST(adot AS DOUBLE) / sqrt(CAST(qs.qnrm AS DOUBLE) * CAST(r.rnrm AS DOUBLE)) DESC,
             |        adc.neighbor_id) AS rank
             |    FROM adc JOIN qs ON qs.vec_id = adc.query_id
             |             JOIN recon r ON r.vec_id = adc.neighbor_id) WHERE rank <= 5),
             |bscored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*a.v[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.v[i]*b.v[i])) AS DOUBLE)) AS cos
             |  FROM q a, q b WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
             |truth AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM bscored) WHERE rank <= 5)
             |SELECT t.query_id, CAST(COUNT(a.neighbor_id) AS DOUBLE)/5.0 AS recall,
             |  CAST(COUNT(a.neighbor_id) AS DOUBLE)/5.0 >= 0.6 AS pass
             |FROM truth t LEFT JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
             |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin),
      "PQ-ADC recall@5 vs brute-force truth per query, with the >=0.6 acceptance flag"),

    // ---- Pixel-exact image-pipeline audit at ANY scale: p65's full
    // decode→dHash path on a deterministic 1% sample (doc_id%100==7), so
    // the per-pixel DuckDB replay stays affordable where the full-corpus
    // oracle isn't (sf10: 5k sampled docs vs 500k). The sample is
    // id-keyed, not positional — the same docs at every SF — making this
    // the oracle-exact slice of the scale evidence, alongside the
    // full-corpus p65/p66 rows at small SF.
    QueryDef(
      "p65b_phash_sample",
      (s, dir) => {
        import s.implicits._
        val dims = T(s, dir, "documents")
          .where($"doc_id" % 100 === 7)
          .select($"doc_id",
            (lit(9) + $"n_chars" % 48).cast("int").as("w"),
            (lit(8) + $"n_chars" % 31).cast("int").as("h"),
            ($"doc_id" % 97).as("seed"))
        val media = cachedMedia(s, dir, "png-seed-sample-v1")(
          Multimodal.encodePng(dims, "doc_id", "w", "h", Some("seed")))
        Multimodal.decodeBatched(media, codec = Multimodal.phashCodec)
          .select($"media_id", $"width", $"height", $"feature_hash")
          .orderBy($"media_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, CAST(9 + n_chars % 48 AS BIGINT) AS w, CAST(8 + n_chars % 31 AS BIGINT) AS h,
             |    doc_id % 97 AS b
             |  FROM documents WHERE doc_id % 100 = 7),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, gy.y AS gy, gx.x AS gx,
             |    SUM((((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) // 3) // COUNT(*) AS g
             |  FROM docs d,
             |    UNNEST(range(8)) AS gy(y), UNNEST(range(9)) AS gx(x),
             |    UNNEST(range((gx.x*d.w)//9, ((gx.x+1)*d.w)//9)) AS ux(x),
             |    UNNEST(range((gy.y*d.h)//8, ((gy.y+1)*d.h)//8)) AS uy(y),
             |    LATERAL (SELECT (d.b * 2654435761 + (uy.y*d.w + ux.x) * 2246822519) & 16777215 AS p) pp
             |  GROUP BY 1,2,3,4,5),
             |bits AS (
             |  SELECT doc_id, w, h, gy, gx,
             |    CASE WHEN lead(g) OVER (PARTITION BY doc_id, gy ORDER BY gx) > g THEN 1 ELSE 0 END AS b
             |  FROM px),
             |rb AS (
             |  SELECT doc_id, w, h, gy, SUM(b * (1 << gx)) AS byte
             |  FROM bits WHERE gx < 8 GROUP BY 1,2,3,4)
             |SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             |  string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY gy) AS feature_hash
             |FROM rb GROUP BY 1,2,3 ORDER BY media_id""".stripMargin),
      "pixel-exact dHash audit on a deterministic 1% sample — the image-pipeline oracle slice that stays affordable at sf10"),

    // ---- VIDEO, frame grain: real RIFF/AVI containers (Motion-PNG
    // frames) decoded by the real container walk + javax.imageio, every
    // 2nd frame sampled; per sampled frame the dHash, integer gray mass,
    // and motion vs the previous sample. The oracle replays container
    // metadata and every pixel from the fixture formula — if the RIFF
    // walk, frame decode, sampling, pooling, or diff arithmetic drift
    // anywhere, the hash diverges.
    QueryDef(
      "p84_video_frames",
      (s, dir) => {
        import s.implicits._
        val dims = T(s, dir, "documents")
          .select($"doc_id",
            (lit(9) + $"n_chars" % 40).cast("int").as("w"),
            (lit(8) + $"n_chars" % 23).cast("int").as("h"),
            (lit(2) + $"doc_id" % 4).cast("int").as("nf"),
            ($"doc_id" % 97).as("seed"))
        val media = cachedMedia(s, dir, "avi-v1")(Multimodal.encodeAviPng(
          dims, "doc_id", "w", "h", "nf", Some("seed")))
        Multimodal.decodeAviBatched(media, step = 2)
          .orderBy($"media_id", $"frame_idx")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, CAST(9 + n_chars % 40 AS BIGINT) AS w, CAST(8 + n_chars % 23 AS BIGINT) AS h,
             |    CAST(2 + doc_id % 4 AS BIGINT) AS nf, doc_id % 97 AS b
             |  FROM documents),
             |fr AS (SELECT doc_id, w, h, nf, fi.f AS f, b * 1000003 + fi.f AS fs
             |  FROM docs, UNNEST(range(0, nf, 2)) AS fi(f)),
             |pxg AS (SELECT fr.doc_id, fr.f, uy.y AS y, ux.x AS x,
             |    (((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) // 3 AS g
             |  FROM fr, UNNEST(range(fr.w)) AS ux(x), UNNEST(range(fr.h)) AS uy(y),
             |    LATERAL (SELECT (fr.fs * 2654435761 + (uy.y*fr.w + ux.x) * 2246822519) & 16777215 AS p) pp),
             |gs AS (SELECT doc_id, f, CAST(SUM(g) AS BIGINT) AS gray_sum FROM pxg GROUP BY 1,2),
             |mo AS (SELECT a.doc_id, a.f, CAST(SUM(abs(a.g - b.g)) AS BIGINT) AS motion
             |  FROM pxg a JOIN pxg b ON a.doc_id = b.doc_id AND b.f = a.f - 2
             |    AND a.x = b.x AND a.y = b.y
             |  GROUP BY 1,2),
             |cell AS (SELECT fr.doc_id, fr.f, gy.y AS gy, gx.x AS gx,
             |    SUM((((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) // 3) // COUNT(*) AS cg
             |  FROM fr, UNNEST(range(8)) AS gy(y), UNNEST(range(9)) AS gx(x),
             |    UNNEST(range((gx.x*fr.w)//9, ((gx.x+1)*fr.w)//9)) AS ux(x),
             |    UNNEST(range((gy.y*fr.h)//8, ((gy.y+1)*fr.h)//8)) AS uy(y),
             |    LATERAL (SELECT (fr.fs * 2654435761 + (uy.y*fr.w + ux.x) * 2246822519) & 16777215 AS p) pp
             |  GROUP BY 1,2,3,4),
             |bits AS (SELECT doc_id, f, gy, gx,
             |    CASE WHEN lead(cg) OVER (PARTITION BY doc_id, f, gy ORDER BY gx) > cg THEN 1 ELSE 0 END AS bb
             |  FROM cell),
             |rb AS (SELECT doc_id, f, gy, SUM(bb * (1 << gx)) AS byte
             |  FROM bits WHERE gx < 8 GROUP BY 1,2,3),
             |hsh AS (SELECT doc_id, f, string_agg(lpad(lower(hex(byte)), 2, '0'), '' ORDER BY gy) AS frame_hash
             |  FROM rb GROUP BY 1,2)
             |SELECT d.doc_id AS media_id, CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
             |  CAST(d.nf AS INTEGER) AS n_frames, CAST(h.f AS INTEGER) AS frame_idx,
             |  h.frame_hash, gs.gray_sum, CAST(COALESCE(mo.motion, 0) AS BIGINT) AS motion
             |FROM hsh h JOIN docs d ON d.doc_id = h.doc_id
             |JOIN gs ON gs.doc_id = h.doc_id AND gs.f = h.f
             |LEFT JOIN mo ON mo.doc_id = h.doc_id AND mo.f = h.f
             |ORDER BY media_id, frame_idx""".stripMargin),
      "real AVI container walk + Motion-PNG frame decode: per-sampled-frame dHash, gray mass, motion — pixel-replay oracle"),

    // ---- VIDEO, clip grain: scene-cut summary. Every 5th video is a
    // planted STILL (frozen frame seed -> motion exactly 0); the cut
    // detector must count zero cuts there and nf-1 cuts on scrambled
    // clips, with total motion integer-exact both ways.
    QueryDef(
      "p85_video_scenes",
      (s, dir) => {
        import s.implicits._
        val dims = T(s, dir, "documents")
          .select($"doc_id",
            (lit(9) + $"n_chars" % 40).cast("int").as("w"),
            (lit(8) + $"n_chars" % 23).cast("int").as("h"),
            (lit(2) + $"doc_id" % 4).cast("int").as("nf"),
            ($"doc_id" % 97).as("seed"),
            ($"doc_id" % 5 === 0).as("still"))
        val media = cachedMedia(s, dir, "avi-still-v1")(
          Multimodal.encodeAviPng(
            dims, "doc_id", "w", "h", "nf", Some("seed"), Some("still")))
        Multimodal.decodeAviBatched(media, step = 1)
          .groupBy($"media_id")
          .agg(max($"n_frames").as("n_frames"),
            count(lit(1)).as("n_sampled"),
            sum($"motion").as("total_motion"),
            sum(when($"motion" > 0, 1L).otherwise(0L)).as("n_cuts"))
          .orderBy($"media_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, CAST(9 + n_chars % 40 AS BIGINT) AS w, CAST(8 + n_chars % 23 AS BIGINT) AS h,
             |    CAST(2 + doc_id % 4 AS BIGINT) AS nf, doc_id % 97 AS b
             |  FROM documents),
             |fr AS (SELECT doc_id, w, h, nf, fi.f AS f,
             |    CASE WHEN doc_id % 5 = 0 THEN b ELSE b * 1000003 + fi.f END AS fs
             |  FROM docs, UNNEST(range(0, nf, 1)) AS fi(f)),
             |pxg AS (SELECT fr.doc_id, fr.f, uy.y AS y, ux.x AS x,
             |    (((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)) // 3 AS g
             |  FROM fr, UNNEST(range(fr.w)) AS ux(x), UNNEST(range(fr.h)) AS uy(y),
             |    LATERAL (SELECT (fr.fs * 2654435761 + (uy.y*fr.w + ux.x) * 2246822519) & 16777215 AS p) pp),
             |mo AS (SELECT a.doc_id, a.f, SUM(abs(a.g - b.g)) AS motion
             |  FROM pxg a JOIN pxg b ON a.doc_id = b.doc_id AND b.f = a.f - 1
             |    AND a.x = b.x AND a.y = b.y
             |  GROUP BY 1,2)
             |SELECT d.doc_id AS media_id, CAST(ANY_VALUE(d.nf) AS INTEGER) AS n_frames,
             |  CAST(ANY_VALUE(d.nf) AS BIGINT) AS n_sampled,
             |  CAST(COALESCE(SUM(mo.motion), 0) AS BIGINT) AS total_motion,
             |  CAST(COALESCE(SUM(CASE WHEN mo.motion > 0 THEN 1 END), 0) AS BIGINT) AS n_cuts
             |FROM docs d LEFT JOIN mo ON mo.doc_id = d.doc_id
             |GROUP BY 1 ORDER BY media_id""".stripMargin),
      "scene-cut detection over real decoded video: planted stills count 0 cuts, scrambled clips nf-1 — integer-exact motion"),

    // ---- FILTERED vector search: the retrieval shape every RAG /
    // curation stack needs — top-k restricted by a metadata predicate
    // (here label % 2 = 0) served from ONE standing index. The index
    // stores metadata columns at write time, the predicate lands on the
    // partition-pruned scan (Parquet pushdown, before scoring), and the
    // bounded TopK aggregate ranks only survivors, so no over-fetch
    // heuristics and never fewer than the available k.
    QueryDef(
      "p86_ann_filtered",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        val planes = 4
        val idx = cachedArtifact(dir, "embeddings", s"annidx-meta-p$planes") {
          b => Similarity.writeBucketedCorpus(em, b.out.toString, planes = planes,
            metaCols = Seq("label"))
        }
        Similarity.probeBucketedTopK(s, em.filter($"vec_id" < 10),
          idx.toString, 3, planes = planes, multiProbe = 1,
          metaFilter = Some($"label" % 2 === 0))
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |bk AS (SELECT vec_id, label, qv,
             |  (CASE WHEN qv[1]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[2]>=0 THEN '1' ELSE '0' END)||
             |  (CASE WHEN qv[3]>=0 THEN '1' ELSE '0' END)||(CASE WHEN qv[4]>=0 THEN '1' ELSE '0' END) AS bucket FROM q),
             |qp AS (SELECT vec_id, qv, [bucket,
             |  (CASE WHEN qv[1]>=0 THEN '0' ELSE '1' END)||substr(bucket, 2)] AS probes
             |  FROM bk WHERE vec_id < 10),
             |cand AS (SELECT a.vec_id AS query_id, a.qv AS aqv, u.pb AS pb
             |  FROM qp a, UNNEST(a.probes) AS u(pb)),
             |scored AS (SELECT c.query_id, b.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> c.aqv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> c.aqv[i]*c.aqv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM cand c JOIN bk b ON b.bucket = c.pb AND b.vec_id <> c.query_id
             |    AND b.qv <> c.aqv AND b.label % 2 = 0),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin),
      "filtered vector search: metadata predicate pushed onto the partition-pruned index scan, ranked after filtering"),

    // ---- DSIR importance resampling (Xie et al. 2023): steer the raw
    // pool toward a target distribution (here: English docs) by hashed-
    // unigram importance weights — the model-free data-selection step
    // between heuristic filtering and training. Weights are integer
    // micro-nat sums (order-free, engine-exact); selection is the
    // deterministic top-100 by (weight, id). The oracle replays bucket
    // hashing, both smoothed distributions, the log-ratio quantization,
    // and the selection threshold.
    QueryDef(
      "p87_dsir_select",
      (s, dir) => {
        import s.implicits._
        // widened at the call site (r16): the live tokenize+bucket pass
        // is compute-dense and the compressed text table is a single
        // parquet split at bench SFs (see Par.widen; the streaming
        // feature sink shares dsirFeatures and must NOT widen)
        Vocab.dsirWeights(
          Par.widen(T(s, dir, "documents")
            .select($"doc_id", $"text", $"lang")),
          "doc_id", "text",
          targetPred = $"lang" === "en", nBuckets = 64, topN = 100)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS is_t, u.tok AS tok
             |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) w,
             |  UNNEST(w.ws) AS u(tok)),
             |bt AS (SELECT doc_id, is_t,
             |  CAST('0x'||substr(md5('dsir:'||tok),1,8) AS BIGINT) % 64 AS b FROM t),
             |cnt AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             |  CAST(COUNT(*) AS BIGINT) AS cr FROM bt GROUP BY b),
             |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM cnt),
             |lw AS (SELECT b,
             |  CAST(floor(ln((CAST(ct AS DOUBLE)+1.0)/(CAST(tt AS DOUBLE)+64.0))*1000000.0) AS BIGINT)
             |  - CAST(floor(ln((CAST(cr AS DOUBLE)+1.0)/(CAST(tr AS DOUBLE)+64.0))*1000000.0) AS BIGINT) AS lw
             |  FROM cnt, tot),
             |scored AS (SELECT bt.doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(lw.lw) AS BIGINT) AS w_sum
             |  FROM bt JOIN lw USING(b) GROUP BY bt.doc_id),
             |sel AS (SELECT doc_id FROM scored ORDER BY w_sum DESC, doc_id LIMIT 100)
             |SELECT s.doc_id, s.n_tokens, s.w_sum,
             |  s.doc_id IN (SELECT doc_id FROM sel) AS selected
             |FROM scored s ORDER BY s.doc_id""".stripMargin),
      "DSIR importance resampling: hashed-unigram log-ratio weights vs a target distribution, deterministic top-100 selection"),

    // ---- DSIR with the paper's actual Gumbel-top-k draw: sample 100
    // docs from softmax(weights) without replacement, with the Gumbel
    // noise seeded from a doc-id hash so the draw is engine-exact. The
    // oracle replays the hash -> uniform -> Gumbel -> key arithmetic.
    QueryDef(
      "p87b_dsir_gumbel",
      (s, dir) => {
        import s.implicits._
        // widened at the call site — same single-split reason as p87
        Vocab.dsirResample(
          Par.widen(T(s, dir, "documents")
            .select($"doc_id", $"text", $"lang")),
          "doc_id", "text",
          targetPred = $"lang" === "en", nBuckets = 64, topN = 100)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS is_t, u.tok AS tok
             |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) w,
             |  UNNEST(w.ws) AS u(tok)),
             |bt AS (SELECT doc_id, is_t,
             |  CAST('0x'||substr(md5('dsir:'||tok),1,8) AS BIGINT) % 64 AS b FROM t),
             |cnt AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             |  CAST(COUNT(*) AS BIGINT) AS cr FROM bt GROUP BY b),
             |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM cnt),
             |lw AS (SELECT b,
             |  CAST(floor(ln((CAST(ct AS DOUBLE)+1.0)/(CAST(tt AS DOUBLE)+64.0))*1000000.0) AS BIGINT)
             |  - CAST(floor(ln((CAST(cr AS DOUBLE)+1.0)/(CAST(tr AS DOUBLE)+64.0))*1000000.0) AS BIGINT) AS lw
             |  FROM cnt, tot),
             |scored AS (SELECT bt.doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(lw.lw) AS BIGINT) AS w_sum
             |  FROM bt JOIN lw USING(b) GROUP BY bt.doc_id),
             |g AS (SELECT doc_id, n_tokens, w_sum,
             |  CAST(floor(-ln(-ln((CAST(CAST('0x'||substr(md5('gmb:g1:'||doc_id),1,13) AS BIGINT) AS DOUBLE)+0.5)
             |    / 4503599627370496.0))*1000000.0) AS BIGINT) AS gumbel_q
             |  FROM scored),
             |sel AS (SELECT doc_id FROM g ORDER BY w_sum + gumbel_q DESC, doc_id LIMIT 100)
             |SELECT doc_id, n_tokens, w_sum, gumbel_q,
             |  doc_id IN (SELECT doc_id FROM sel) AS selected
             |FROM g ORDER BY doc_id""".stripMargin),
      "DSIR Gumbel-top-k resampling: seeded-hash Gumbel noise on the importance weights, engine-exact 100-doc draw"),

    // ---- DSIR over a PERSISTED feature artifact (VERDICT r12 task 7,
    // the p88b standing-index precedent): the hashed-unigram table —
    // one (doc, is_t, b, n) row per doc per touched bucket, ≤ 64 rows
    // per doc regardless of length — is built ONCE per corpus; every
    // later selection run scores the compact table without re-reading
    // text. p87 stays the scan-measuring entry; this row is what a
    // production repeat-selection run does. Same oracle as p87.
    QueryDef(
      "p87c_dsir_cached",
      (s, dir) => {
        import s.implicits._
        val art = cachedArtifact(dir, "documents", "p87feat-v1") { b =>
          Vocab.dsirFeatures(T(s, dir, "documents"), "doc_id", "text",
            targetPred = $"lang" === "en", nBuckets = 64)
            .write.mode("overwrite").parquet(b.out.toString)
        }
        Vocab.dsirWeightsFromFeatures(s.read.parquet(art.toString),
          "doc_id", nBuckets = 64, topN = 100)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS is_t, u.tok AS tok
             |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) w,
             |  UNNEST(w.ws) AS u(tok)),
             |bt AS (SELECT doc_id, is_t,
             |  CAST('0x'||substr(md5('dsir:'||tok),1,8) AS BIGINT) % 64 AS b FROM t),
             |cnt AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             |  CAST(COUNT(*) AS BIGINT) AS cr FROM bt GROUP BY b),
             |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM cnt),
             |lw AS (SELECT b,
             |  CAST(floor(ln((CAST(ct AS DOUBLE)+1.0)/(CAST(tt AS DOUBLE)+64.0))*1000000.0) AS BIGINT)
             |  - CAST(floor(ln((CAST(cr AS DOUBLE)+1.0)/(CAST(tr AS DOUBLE)+64.0))*1000000.0) AS BIGINT) AS lw
             |  FROM cnt, tot),
             |scored AS (SELECT bt.doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(lw.lw) AS BIGINT) AS w_sum
             |  FROM bt JOIN lw USING(b) GROUP BY bt.doc_id),
             |sel AS (SELECT doc_id FROM scored ORDER BY w_sum DESC, doc_id LIMIT 100)
             |SELECT s.doc_id, s.n_tokens, s.w_sum,
             |  s.doc_id IN (SELECT doc_id FROM sel) AS selected
             |FROM scored s ORDER BY s.doc_id""".stripMargin),
      "DSIR from a persisted hashed-feature artifact: build once per corpus, score the <=64-rows/doc table — repeat selection never re-reads text"),

    // ---- The Gumbel RESAMPLE over the same persisted artifact: the
    // paper's actual selection rule is the sampled draw, and re-draws
    // (new seed / new quota) are what a standing corpus runs
    // repeatedly — each must cost the compact-table scan, not a
    // corpus re-tokenization. Same oracle as p87b.
    QueryDef(
      "p87d_dsir_gumbel_cached",
      (s, dir) => {
        import s.implicits._
        val art = cachedArtifact(dir, "documents", "p87feat-v1") { b =>
          Vocab.dsirFeatures(T(s, dir, "documents"), "doc_id", "text",
            targetPred = $"lang" === "en", nBuckets = 64)
            .write.mode("overwrite").parquet(b.out.toString)
        }
        Vocab.dsirResampleFromFeatures(s.read.parquet(art.toString),
          "doc_id", nBuckets = 64, topN = 100)
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS is_t, u.tok AS tok
             |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) w,
             |  UNNEST(w.ws) AS u(tok)),
             |bt AS (SELECT doc_id, is_t,
             |  CAST('0x'||substr(md5('dsir:'||tok),1,8) AS BIGINT) % 64 AS b FROM t),
             |cnt AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             |  CAST(COUNT(*) AS BIGINT) AS cr FROM bt GROUP BY b),
             |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM cnt),
             |lw AS (SELECT b,
             |  CAST(floor(ln((CAST(ct AS DOUBLE)+1.0)/(CAST(tt AS DOUBLE)+64.0))*1000000.0) AS BIGINT)
             |  - CAST(floor(ln((CAST(cr AS DOUBLE)+1.0)/(CAST(tr AS DOUBLE)+64.0))*1000000.0) AS BIGINT) AS lw
             |  FROM cnt, tot),
             |scored AS (SELECT bt.doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(lw.lw) AS BIGINT) AS w_sum
             |  FROM bt JOIN lw USING(b) GROUP BY bt.doc_id),
             |g AS (SELECT doc_id, n_tokens, w_sum,
             |  CAST(floor(-ln(-ln((CAST(CAST('0x'||substr(md5('gmb:g1:'||doc_id),1,13) AS BIGINT) AS DOUBLE)+0.5)
             |    / 4503599627370496.0))*1000000.0) AS BIGINT) AS gumbel_q
             |  FROM scored),
             |sel AS (SELECT doc_id FROM g ORDER BY w_sum + gumbel_q DESC, doc_id LIMIT 100)
             |SELECT doc_id, n_tokens, w_sum, gumbel_q,
             |  doc_id IN (SELECT doc_id FROM sel) AS selected
             |FROM g ORDER BY doc_id""".stripMargin),
      "DSIR Gumbel resampling from the persisted feature artifact: the paper's repeat-draw path at compact-table cost, same oracle as p87b"),

    // ---- BM25 retrieval (k1=1.2, b=0.75): keyword top-k over the
    // corpus — decontamination lookups and targeted selection. All
    // arithmetic is exact-integer (micro-nat idf, the tf saturation
    // ratio multiplied through by 10*avgdl_q so k1/b clear), so the
    // oracle replays scores bit-for-bit; ranking is the bounded TopK
    // aggregate, never a postings-stream window.
    QueryDef(
      "p88_bm25_topk",
      (s, dir) => {
        import s.implicits._
        Vocab.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
          bm25Queries, k = 5)
          .orderBy($"query_id", $"rank")
      },
      Some(bm25Oracle),
      "BM25 top-5 per keyword query: broadcast query terms prune postings map-side, exact-integer scoring, bounded TopK ranking"),

    // ---- The same BM25 queries over a STANDING inverted index
    // (Retrieval.writeIndex/probeTopK): postings partitioned by token
    // bucket, probe = partition-pruned scan + broadcast stats. Scores
    // are bit-identical to p88's ad-hoc path, so the oracle is shared —
    // the entry proves index round-trip fidelity, and the plan proves
    // the probe touches only the query terms' buckets (PlanSpec).
    QueryDef(
      "p88b_bm25_index",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val nBuckets = 64 // layout parameter -> part of the index identity
        val idx = cachedArtifact(dir, "documents", s"bm25idx-b$nBuckets") {
          b => Retrieval.writeIndex(d, b.out.toString, nBuckets = nBuckets)
        }
        Retrieval.probeTopK(s, idx.toString, bm25Queries, k = 5,
          nBuckets = nBuckets)
          .orderBy($"query_id", $"rank")
      },
      Some(bm25Oracle),
      "BM25 top-5 over a standing bucket-partitioned inverted index: partition-pruned probe, summed segment stats, shared p88 oracle"),

    // ---- FILTERED retrieval (the search analog of p86's filtered
    // ANN): a metadata predicate restricts the ranked candidates while
    // df/avgdl stay GLOBAL — the standard filtered-search convention.
    // The allowed-id set applies as a doc-keyed semi join on the
    // pruned postings, after df is counted, before scoring.
    QueryDef(
      "p88c_bm25_filtered",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents")
        val nBuckets = 64
        val idx = cachedArtifact(dir, "documents", s"bm25idx-b$nBuckets") {
          b => Retrieval.writeIndex(d, b.out.toString, nBuckets = nBuckets)
        }
        val allowed = d.where($"lang" === "en")
          .select($"doc_id".as("doc"))
        Retrieval.probeTopK(s, idx.toString, bm25Queries, k = 5,
          nBuckets = nBuckets, allowed = Some(allowed))
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q(query_id, qtext) AS (VALUES (1, 'spark window merge'), (2, 'hash join table'), (3, 'vector stream')),
             |qt AS (SELECT DISTINCT query_id, u.t AS token FROM q, UNNEST(string_split(qtext,' ')) AS u(t)),
             |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |ad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  (CAST(SUM(len(ws)) AS BIGINT)*1000)//CAST(COUNT(*) AS BIGINT) AS avgdl_q FROM w),
             |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, u.t AS token FROM w, UNNEST(ws) AS u(t)),
             |post AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
             |  FROM t WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
             |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
             |sc AS (SELECT qt.query_id, post.doc_id, CAST(SUM(
             |    CAST(floor(ln((CAST(n_docs - df AS DOUBLE)+0.5)/(CAST(df AS DOUBLE)+0.5)+1.0)*1000000.0) AS BIGINT)
             |    * ((22*tf*avgdl_q*1000)//(10*tf*avgdl_q + 3*avgdl_q + 9*dl*1000))) AS BIGINT) AS score_q
             |  FROM post JOIN dfx USING(token) JOIN qt USING(token) CROSS JOIN ad
             |  WHERE post.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
             |  GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, score_q,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank FROM sc)
             |SELECT query_id, rank, doc_id, score_q FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin),
      "filtered BM25: lang predicate restricts ranked candidates via a doc-keyed semi join, global df/avgdl statistics kept"),

    // ---- Greedy k-center diversity selection (Gonzalez farthest-point
    // traversal): pick 5 maximally-spread embedding vectors and assign
    // every vector to its nearest pick — the coverage/coreset sampling
    // step of embedding curation. Exact integer squared-L2 on the
    // quantized projection; the oracle unrolls the same greedy rounds.
    QueryDef(
      "p89_kcenter_select",
      (s, dir) => {
        import s.implicits._
        KMeans.kCenterSelect(T(s, dir, "embeddings"), k = 5)
          .orderBy($"vec_id")
      },
      Some(kCenterOracle(5)),
      "greedy k-center (farthest-point) selection of 5 centers + literal-folded nearest-center assignment; one-row driver round-trip per round"),

    // ---- Hard-negative mining (contrastive training): per query, the
    // 5 nearest corpus vectors with a DIFFERENT label — the label
    // predicate prunes pairs before scoring, broadcast queries, corpus
    // never shuffles, bounded TopK ranking (p7's plan + one predicate).
    QueryDef(
      "p90_hard_negatives",
      (s, dir) => {
        import s.implicits._
        val em = T(s, dir, "embeddings")
        Similarity.hardNegatives(em.filter($"vec_id" < 10), em, 5)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv FROM embeddings),
             |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*b.qv[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.qv[i]*a.qv[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.qv[i]*b.qv[i])) AS DOUBLE)) AS cos
             |  FROM q a, q b WHERE a.vec_id < 10 AND a.label <> b.label),
             |ranked AS (SELECT query_id, neighbor_id, cos,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
             |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin),
      "hard-negative mining: top-5 nearest different-label vectors per query, label predicate pruning pairs before scoring"),

    // ---- Passage retrieval (RAG data prep): p46's sliding token
    // windows scored as BM25 units (chunk-grain df + length norm so
    // long docs can't bury a relevant passage), documents ranked by
    // their best passage. Chunks are a map-side generator; the oracle
    // replays the window arithmetic, chunk-grain statistics, and
    // max-passage aggregation exactly.
    QueryDef(
      "p91_passage_topk",
      (s, dir) => {
        import s.implicits._
        Retrieval.bm25PassageTopK(T(s, dir, "documents"), "doc_id", "text",
          bm25Queries, k = 5, window = 40, stride = 30)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q(query_id, qtext) AS (VALUES (1, 'spark window merge'), (2, 'hash join table'), (3, 'vector stream')),
             |qt AS (SELECT DISTINCT query_id, u.t AS token FROM q, UNNEST(string_split(qtext,' ')) AS u(t)),
             |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |cn AS (SELECT doc_id, ws, CASE WHEN len(ws) <= 40 THEN 1
             |  ELSE 1 + (CAST(len(ws) AS BIGINT) - 11)//30 END AS nc FROM w),
             |cd AS (SELECT doc_id, u.ci AS ci,
             |  ws[(u.ci*30+1):(u.ci*30+40)] AS ct
             |  FROM cn, UNNEST(range(0, nc)) AS u(ci)),
             |cl AS (SELECT doc_id, ci, CAST(len(ct) AS BIGINT) AS dl, ct FROM cd),
             |ad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  (CAST(SUM(dl) AS BIGINT)*1000)//CAST(COUNT(*) AS BIGINT) AS avgdl_q FROM cl),
             |t AS (SELECT doc_id, ci, dl, u.t AS token FROM cl, UNNEST(ct) AS u(t)),
             |post AS (SELECT doc_id, ci, token, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
             |  FROM t WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2, 3),
             |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
             |sc AS (SELECT qt.query_id, post.doc_id, post.ci, CAST(SUM(
             |    CAST(floor(ln((CAST(n_docs - df AS DOUBLE)+0.5)/(CAST(df AS DOUBLE)+0.5)+1.0)*1000000.0) AS BIGINT)
             |    * ((22*tf*avgdl_q*1000)//(10*tf*avgdl_q + 3*avgdl_q + 9*dl*1000))) AS BIGINT) AS cscore
             |  FROM post JOIN dfx USING(token) JOIN qt USING(token) CROSS JOIN ad
             |  GROUP BY 1, 2, 3),
             |pd AS (SELECT query_id, doc_id, MAX(cscore) AS score_q FROM sc GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, score_q,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank FROM pd)
             |SELECT query_id, rank, doc_id, score_q FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin),
      "passage retrieval: sliding windows scored as BM25 units, documents ranked by best passage (max-passage aggregation)"),

    // ---- Hybrid retrieval via Reciprocal Rank Fusion: the BM25
    // keyword list and the embedding ANN list fuse by
    // sum(1e9 div (60+rank)) — exact integers, so the oracle replays
    // both retrievers at k=20 and the fusion arithmetic bit-for-bit.
    // Both inputs are |queries| x 20 rows; fusion is a union + one
    // partial-agg'd groupBy + the bounded top-k tail.
    QueryDef(
      "p92_rrf_hybrid",
      (s, dir) => {
        import s.implicits._
        val bm = Vocab.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
          bm25Queries, k = 20)
        val em = T(s, dir, "embeddings")
        val ann = Similarity.bruteForceTopK(
            em.filter($"vec_id".isin(1L, 2L, 3L)), em, 20)
          .withColumnRenamed("neighbor_id", "doc_id")
        Retrieval.rrfFuse(Seq(bm, ann), k = 5)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH q(query_id, qtext) AS (VALUES (1, 'spark window merge'), (2, 'hash join table'), (3, 'vector stream')),
             |qt AS (SELECT DISTINCT query_id, u.t AS token FROM q, UNNEST(string_split(qtext,' ')) AS u(t)),
             |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |ad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  (CAST(SUM(len(ws)) AS BIGINT)*1000)//CAST(COUNT(*) AS BIGINT) AS avgdl_q FROM w),
             |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, u.t AS token FROM w, UNNEST(ws) AS u(t)),
             |post AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
             |  FROM t WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
             |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
             |sc AS (SELECT qt.query_id, post.doc_id, CAST(SUM(
             |    CAST(floor(ln((CAST(n_docs - df AS DOUBLE)+0.5)/(CAST(df AS DOUBLE)+0.5)+1.0)*1000000.0) AS BIGINT)
             |    * ((22*tf*avgdl_q*1000)//(10*tf*avgdl_q + 3*avgdl_q + 9*dl*1000))) AS BIGINT) AS score_q
             |  FROM post JOIN dfx USING(token) JOIN qt USING(token) CROSS JOIN ad
             |  GROUP BY 1, 2),
             |bm AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
             |  PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank FROM sc),
             |qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v FROM embeddings),
             |asc_ AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
             |  CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i])) AS DOUBLE) /
             |  sqrt(CAST(list_sum(list_transform(range(1,65), i -> a.v[i]*a.v[i])) AS DOUBLE) *
             |       CAST(list_sum(list_transform(range(1,65), i -> b.v[i]*b.v[i])) AS DOUBLE)) AS cos
             |  FROM qv a, qv b WHERE a.vec_id IN (1, 2, 3) AND a.vec_id <> b.vec_id),
             |ann AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
             |  PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank FROM asc_),
             |u AS (SELECT query_id, doc_id, CAST(1000000000 AS BIGINT)//(60+rank) AS pt
             |  FROM bm WHERE rank <= 20
             |  UNION ALL SELECT query_id, doc_id, CAST(1000000000 AS BIGINT)//(60+rank)
             |  FROM ann WHERE rank <= 20),
             |f AS (SELECT query_id, doc_id, CAST(SUM(pt) AS BIGINT) AS score_q FROM u GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, score_q, ROW_NUMBER() OVER (
             |  PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank FROM f)
             |SELECT query_id, rank, doc_id, score_q FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin),
      "hybrid retrieval: BM25 + ANN lists fused by exact-integer Reciprocal Rank Fusion, bounded top-k re-rank"),

    // ---- p55 at production source cardinality: the same overlap
    // matrix with the source universe widened past one mask word
    // (20 real sources x 5 shards = 100 > 62), exercising the
    // SEGMENTED bitmask path — per-hash state is an array of two
    // bit_or'd longs, still one corpus-scale shuffle, and the pair
    // math still runs on the broadcast mask-count table. A corpus
    // keyed by domain or crawl-shard has hundreds of sources; this
    // gate pins that the data-driven mask width changes the plan, not
    // the answer.
    QueryDef(
      "p93_source_overlap_wide",
      (s, dir) => {
        import s.implicits._
        val d = T(s, dir, "documents").withColumn("source",
          concat($"source", lit("#"), ($"doc_id" % 5).cast("string")))
        Contamination.sourceOverlap(d, nGram = 3)
          .orderBy($"src_a", $"src_b")
      },
      Some("""WITH w AS (SELECT source || '#' || CAST(doc_id % 5 AS VARCHAR) AS source,
             |  string_split(text,' ') AS words FROM documents),
             |sh AS (SELECT DISTINCT w.source AS src, u.h FROM w, UNNEST(CASE WHEN len(words)>=3
             |  THEN list_transform(range(1, len(words)-1), i -> md5(words[i]||' '||words[i+1]||' '||words[i+2]))
             |  ELSE [] END) AS u(h)),
             |n AS (SELECT src, COUNT(*) AS n FROM sh GROUP BY src),
             |p AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2)
             |SELECT src_a, src_b, na.n AS n_a, nb.n AS n_b, inter,
             |CAST(inter AS DOUBLE)/CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
             |FROM p JOIN n na ON na.src = src_a JOIN n nb ON nb.src = src_b
             |ORDER BY src_a, src_b""".stripMargin),
      "source overlap at 100 sources: segmented (2-word) bitmask, same one-shuffle plan, answer unchanged")
  )

  /** Shared with j20's streaming-index replay (JsonDoc). */
  private[queries] lazy val bm25QueriesShared: Seq[(Long, String)] = bm25Queries
  private[queries] lazy val bm25OracleShared: String = bm25Oracle

  private lazy val bm25Queries = Seq(
    1L -> "spark window merge", 2L -> "hash join table",
    3L -> "vector stream")

  /** Shared by p88 (ad-hoc) and p88b (standing index): the index is a
    * lossless re-layout of the postings, so both paths produce
    * bit-identical rows and replay against the same SQL. */
  private lazy val bm25Oracle =
         """WITH q(query_id, qtext) AS (VALUES (1, 'spark window merge'), (2, 'hash join table'), (3, 'vector stream')),
             |qt AS (SELECT DISTINCT query_id, u.t AS token FROM q, UNNEST(string_split(qtext,' ')) AS u(t)),
             |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |ad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  (CAST(SUM(len(ws)) AS BIGINT)*1000)//CAST(COUNT(*) AS BIGINT) AS avgdl_q FROM w),
             |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, u.t AS token FROM w, UNNEST(ws) AS u(t)),
             |post AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
             |  FROM t WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
             |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
             |sc AS (SELECT qt.query_id, post.doc_id, CAST(SUM(
             |    CAST(floor(ln((CAST(n_docs - df AS DOUBLE)+0.5)/(CAST(df AS DOUBLE)+0.5)+1.0)*1000000.0) AS BIGINT)
             |    * ((22*tf*avgdl_q*1000)//(10*tf*avgdl_q + 3*avgdl_q + 9*dl*1000))) AS BIGINT) AS score_q
             |  FROM post JOIN dfx USING(token) JOIN qt USING(token) CROSS JOIN ad
             |  GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, score_q,
             |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank FROM sc)
             |SELECT query_id, rank, doc_id, score_q FROM r WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin

  /** Shared oracle prefix for p72/p73: quantize → per-dim sums →
    * truncated integer means → algebraically-centered integer Gram
    * (G − mu·sᵀ − s·muᵀ + n·mu·muᵀ, exact for truncated mu) → rescale →
    * [[Pca.Steps]] chained matrix-vector power steps. Every division is
    * DuckDB `//` (truncates toward zero, exactly Scala Long `/`), so the
    * CTE chain reproduces graft.pipeline.Pca bit-for-bit. */
  private lazy val pcaChainSql: String = {
    // AS MATERIALIZED throughout: DuckDB inlines CTEs referenced more
    // than once, and the 8-step recurrence references each level twice
    // (the matvec and its MAX-ABS rescale) — inlining would re-evaluate
    // the whole Gram 2^Steps times.
    val steps = (1 to Pca.Steps).map { t =>
      s"""w$t AS MATERIALIZED (SELECT g.i, SUM(g.gv * v.v) AS w
         |        FROM gs g JOIN v${t - 1} v ON g.j = v.i GROUP BY 1),
         |v$t AS MATERIALIZED (SELECT i, (w * ${Pca.VScale}) //
         |          GREATEST((SELECT MAX(ABS(w)) FROM w$t), 1) AS v
         |        FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, label, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT vec_id, label, generate_subscripts(v, 1) AS i,
       |    unnest(v) AS val FROM q),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM q),
       |su AS (SELECT i, SUM(val) AS s FROM e GROUP BY i),
       |mu AS MATERIALIZED (SELECT i, s, s // (SELECT n FROM nn) AS m FROM su),
       |g0 AS (SELECT a.i AS i, b.i AS j, SUM(a.val * b.val) AS gv
       |       FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |g AS MATERIALIZED (SELECT g0.i, g0.j,
       |        g0.gv - mi.m * mj.s - mj.m * mi.s
       |          + (SELECT n FROM nn) * mi.m * mj.m AS gv
       |      FROM g0 JOIN mu mi ON g0.i = mi.i JOIN mu mj ON g0.j = mj.i),
       |cd AS (SELECT GREATEST((SELECT MAX(ABS(gv)) FROM g) // ${Pca.GramCap},
       |         1) AS d),
       |gs AS MATERIALIZED (SELECT i, j, gv // (SELECT d FROM cd) AS gv FROM g),
       |v0 AS (SELECT CAST(t.i AS BIGINT) AS i, CAST(${Pca.VScale} AS BIGINT) AS v
       |       FROM UNNEST(range(1, ${Pca.Dim + 1})) AS t(i)),
       |$steps""".stripMargin
  }

  /** p77's second-component chain: the same recurrence as
    * [[pcaChainSql]]'s v-steps with a per-step deflation against the
    * converged first component v[[Pca.Steps]] — proj = (w·v1)/(v1·v1)
    * truncated, w ← w − proj·v1 — exactly [[Pca.iterate]]'s ortho arm. */
  private lazy val pcaSecondSql: String = {
    val vS = s"v${Pca.Steps}"
    (1 to Pca.Steps).map { t =>
      s"""wu$t AS MATERIALIZED (SELECT g.i, SUM(g.gv * u.v) AS w
         |        FROM gs g JOIN u${t - 1} u ON g.j = u.i GROUP BY 1),
         |pj$t AS MATERIALIZED (SELECT
         |          (SELECT SUM(wu.w * v.v) FROM wu$t wu JOIN $vS v ON wu.i = v.i) //
         |          GREATEST((SELECT SUM(v.v * v.v) FROM $vS v), 1) AS p),
         |uo$t AS MATERIALIZED (SELECT wu.i,
         |          wu.w - (SELECT p FROM pj$t) * v.v AS w
         |        FROM wu$t wu JOIN $vS v ON wu.i = v.i),
         |u$t AS MATERIALIZED (SELECT i, (w * ${Pca.VScale}) //
         |          GREATEST((SELECT MAX(ABS(w)) FROM uo$t), 1) AS v
         |        FROM uo$t)""".stripMargin
    }.mkString(",\n")
  }

  /** Unrolled greedy k-center oracle: c0 = the lowest-id vector; round
    * t folds the newest center into the running min-distance (LEAST)
    * and picks the unchosen argmax (ties: lowest vec_id) — the exact
    * selection of [[graft.pipeline.KMeans.kCenterSelect]]; the final
    * assignment cross-joins the k-row center set and keeps the
    * (dist, rank)-lexicographic minimum per vector. */
  private def kCenterOracle(k: Int): String = {
    def d(av: String, bv: String) =
      s"CAST(list_sum(list_transform(list_zip($av, $bv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "q AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS v FROM embeddings)",
      "c0 AS (SELECT CAST(0 AS BIGINT) AS rk, vec_id, v FROM q ORDER BY vec_id LIMIT 1)")
    for (t <- 1 until k) {
      val body =
        if (t == 1)
          s"SELECT q.vec_id, q.v, ${d("q.v", "c0.v")} AS dmin FROM q, c0"
        else
          s"SELECT s${t - 1}.vec_id, s${t - 1}.v, LEAST(s${t - 1}.dmin, " +
            s"${d(s"s${t - 1}.v", s"c${t - 1}.v")}) AS dmin FROM s${t - 1}, c${t - 1}"
      ctes += s"s$t AS MATERIALIZED ($body)"
      val excl = (0 until t).map(i => s"SELECT vec_id FROM c$i")
        .mkString(" UNION ALL ")
      ctes += s"c$t AS (SELECT CAST($t AS BIGINT) AS rk, vec_id, v FROM s$t " +
        s"WHERE vec_id NOT IN ($excl) ORDER BY dmin DESC, vec_id LIMIT 1)"
    }
    val cents = (0 until k).map(i => s"SELECT * FROM c$i")
      .mkString(" UNION ALL ")
    s"""WITH ${ctes.mkString(",\n")},
       |cents AS ($cents),
       |dist AS (SELECT q.vec_id, c.rk, c.vec_id AS center_id,
       |  ${d("q.v", "c.v")} AS dist_q FROM q, cents c),
       |a AS (SELECT vec_id, rk, center_id, dist_q,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_q, rk) AS rn FROM dist)
       |SELECT vec_id, rk AS center_rank, center_id, dist_q FROM a WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replay of [[graft.pipeline.Vocab.bpeTrain]]'s `rounds`
    * greedy rounds: the word-TYPE table is encoded once as
    * `|c||h||a||r|` (injective per word, so grouping by seq = grouping
    * by token), then each round is three chained CTEs — adjacent-pair
    * counts via lateral UNNEST over the split symbol list, the 1-row
    * argmax `(n DESC, a, b)`, and the merge as a single REPLACE whose
    * left-to-right non-overlapping scan is exactly the Spark side's
    * greedy fold (same trick as [[bpeReplaceChain]]). MATERIALIZED
    * keeps DuckDB from re-running a round per downstream reference. */
  private def bpeTrainOracle(rounds: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      """w0 AS MATERIALIZED (
        |  SELECT regexp_replace(word, '(.)', '|\1|', 'g') AS seq,
        |         CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
        |  GROUP BY 1)""".stripMargin)
    for (t <- 1 to rounds) {
      ctes += s"""p$t AS (
        |  SELECT s.sym[g.i] AS a, s.sym[g.i+1] AS b,
        |         CAST(SUM(s.tf) AS BIGINT) AS n
        |  FROM (SELECT string_split(substr(seq, 2, length(seq)-2), '||') AS sym,
        |          tf FROM w${t - 1}) s,
        |       UNNEST(generate_series(1, len(s.sym)-1)) AS g(i)
        |  GROUP BY 1, 2)""".stripMargin
      ctes += s"b$t AS MATERIALIZED (SELECT a, b, n FROM p$t ORDER BY n DESC, a, b LIMIT 1)"
      if (t < rounds)
        ctes += s"""w$t AS MATERIALIZED (
          |  SELECT replace(seq, '|'||a||'|'||'|'||b||'|', '|'||a||b||'|') AS seq, tf
          |  FROM w${t - 1} CROSS JOIN b$t)""".stripMargin
    }
    val sel = (1 to rounds)
      .map(t => s"SELECT CAST($t AS INTEGER) AS round, a, b, n FROM b$t")
      .mkString("\nUNION ALL ")
    "WITH " + ctes.mkString(",\n") + "\n" + sel + " ORDER BY round"
  }

  /** Shared oracle for p70/p71: greedy BPE application replayed as a
    * REPLACE chain per merge rule over a `|sym||sym|` delimiter
    * encoding (REPLACE's left-to-right non-overlapping scan is exactly
    * the greedy merge pass; double-bar separators keep symbol
    * boundaries unambiguous under suffix-overlapping symbols). */
  /** The frozen-tokenizer REPLACE chain over a column named `word` —
    * shared by the p70/p71 doc-grain oracles and p76's chunk grain. */
  private lazy val bpeReplaceChain: String =
    graft.functions.Bpe.PRETRAINED.foldLeft(
      "regexp_replace(word,'(.)','|\\1|','g')") { case (acc, m) =>
      s"replace($acc, '|${m(0)}||${m(1)}|', '|${m(0)}${m(1)}|')"
    }

  private lazy val bpeEncodeOracle: String = {
    val chain = bpeReplaceChain
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
       |  FROM documents),
       |e AS (SELECT doc_id, word, $chain AS seq FROM w),
       |a AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum((length(seq) - length(replace(seq,'|','')))//2)
       |      AS BIGINT) AS bpe_tokens
       |  FROM e GROUP BY doc_id)
       |SELECT a.doc_id, n_words,
       |  CAST(length(replace(d.text,' ','')) AS BIGINT) AS n_chars,
       |  bpe_tokens,
       |  CASE WHEN bpe_tokens > 0 THEN
       |    CAST(length(replace(d.text,' ','')) * 1000000 // bpe_tokens
       |      AS BIGINT) ELSE 0 END AS chars_per_token_ppm
       |FROM a JOIN documents d ON a.doc_id = d.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }
}
