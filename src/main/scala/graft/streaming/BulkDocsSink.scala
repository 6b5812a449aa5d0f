package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** HTTP write-back sinks — SURVEY.md §2.1 S4/S5: push documents from the
  * engine back into CouchDB, single-doc PUT and chunked `_bulk_docs`.
  *
  * The reference does this with a Postgres trigger (`couchdb_put`,
  * README.md:336-352: rows written with `from_pg=true` are routed to
  * `http_post('http://couch/<table>/<id>', doc)` and the local write is
  * suppressed) and, for bulk, a ROW_NUMBER chunking + `json_agg` +
  * `http_post('.../_bulk_docs', {"all_or_nothing":true,"docs":[...]})`
  * recipe (README.md:491-528; 50 works, ~500 safe, 1000 times out —
  * README.md:504-530).
  *
  * Spark-first: the "trigger" is a sink stage — rows destined for
  * write-back flow through [[BulkDocsSink.post]] instead of the local
  * store (the `from_pg` column becomes *which sink you call*, SURVEY
  * §1.1 #2). Bulk write-back is ONE pipelined stage with no shuffle:
  * read → JSON map → chunk ([[BulkDocsSink.chunkedByPartition]]) →
  * POST → per-doc result parse. HTTP itself is behind [[DocPoster]] so
  * tests inject a recorder (zero-egress environment); the production
  * poster is a thin `java.net.http` client per executor.
  */
trait DocPoster extends Serializable {
  /** POST body to url; returns HTTP status. */
  def post(url: String, body: String): Int

  /** POST returning (status, response body). Default wraps [[post]]
    * with an empty-array body for posters that discard responses; the
    * production poster returns the real `_bulk_docs` per-doc result
    * array. */
  def postForBody(url: String, body: String): (Int, String) =
    (post(url, body), "[]")

  /** GET returning (status, body) — the replay-convergence check reads
    * a conflicted doc back to compare content. Posters that can't read
    * answer 405, which counts as NOT converged (fail loudly). */
  def get(url: String): (Int, String) = (405, "")
}

object BulkDocsSink {

  /** [[chunkedByPartition]]'s output columns. */
  private val chunkSchema =
    StructType.fromDDL("chunk_no BIGINT, n_docs BIGINT, docs_json STRING")

  /** Chunk the docs for `_bulk_docs`: one pass over each input
    * partition, emitting a (chunk_no, n_docs, docs_json) row for every
    * `chunkSize` rows (a partition's last chunk may be shorter). No
    * sort, window, aggregate or exchange: read → chunk → POST runs as
    * ONE stage, the first POST leaves after `chunkSize` rows, and a task
    * holds one chunk in memory. A task retry re-reads its input
    * partition.
    *
    * The reference numbers chunks with a global sort,
    * `((ROW_NUMBER() OVER (ORDER BY id) - 1) / chunkSize) + 1`
    * (README.md:518); the Relational entry `q8_bulk_chunks` keeps that
    * arithmetic under its DuckDB oracle. Here chunks follow the partition's row order and
    * `idCol` is not read, which an order-insensitive bulk API does not
    * see. `chunk_no` is the partition index in the high 32 bits and the
    * chunk's index within its partition in the low 32, so keys never
    * collide. A null doc counts in `n_docs` and is left out of
    * `docs_json`. Doc bytes are copied once, UTF-8 into the chunk's
    * buffer, with no String round trip. */
  def chunkedByPartition(df: DataFrame, idCol: String, docCol: String,
      chunkSize: Int = 50): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    val docs = df.select(col(docCol).cast("string")).queryExecution.toRdd
    Bridge.internalDataFrame(df.sparkSession,
      docs.mapPartitionsWithIndex((pid, rows) =>
        new PartitionChunker(rows, pid, chunkSize)),
      chunkSchema)
  }

  /** `_bulk_docs` payload from a chunk (README.md:522-527). */
  def payload(docsJson: Column): Column =
    concat(lit("""{"all_or_nothing":true,"docs":"""), docsJson, lit("}"))

  /** POST every chunk to `<baseUrl>/_bulk_docs`; returns (chunk_no,
    * n_docs, status). Distributed: each executor posts its partitions'
    * chunks — the driver never sees a document. */
  def post(chunks: DataFrame, baseUrl: String, poster: DocPoster): DataFrame = {
    val spark = chunks.sparkSession
    val url = s"$baseUrl/_bulk_docs"
    val out = chunks
      .select(col("chunk_no"), col("n_docs"), payload(col("docs_json")).as("body"))
      .rdd.mapPartitions { it =>
        it.map { r =>
          val status = poster.post(url, r.getAs[String]("body"))
          org.apache.spark.sql.Row(
            r.getAs[Long]("chunk_no"), r.getAs[Long]("n_docs"), status)
        }
      }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType.fromDDL(
        "chunk_no BIGINT, n_docs BIGINT, status INT"))
  }

  /** POST every chunk and EXPLODE the server's per-doc result array —
    * the J1 lateral set-returning-join shape (chunk → POST → one status
    * row per doc). CouchDB answers `_bulk_docs` 201 with
    * `[{"ok":true,"id":..,"rev":..} | {"id":..,"error":"conflict",
    * "reason":..}]` (README.md:504-530; modern servers ignore
    * `all_or_nothing` and report conflicts per doc) — so a conflict is
    * a ROW in the result, never a batch failure. Parsing happens
    * executor-side on each response; the driver sees only the status
    * rows. Returns (chunk_no, doc_id, ok, error, reason). */
  def postPerDoc(
      chunks: DataFrame, baseUrl: String, poster: DocPoster): DataFrame = {
    val spark = chunks.sparkSession
    val url = s"$baseUrl/_bulk_docs"
    val out = chunks
      .select(col("chunk_no"), payload(col("docs_json")).as("body"))
      .rdd.mapPartitions { it =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        it.flatMap { r =>
          val chunkNo = r.getAs[Long]("chunk_no")
          val (status, respBody) = poster.postForBody(url, r.getAs[String]("body"))
          if (status >= 400)
            throw new java.io.IOException(s"_bulk_docs -> HTTP $status")
          val arr = mapper.readTree(respBody)
          (0 until arr.size()).iterator.map { i =>
            val n = arr.get(i)
            org.apache.spark.sql.Row(
              chunkNo,
              n.path("id").asText(""),
              n.path("ok").asBoolean(false),
              if (n.hasNonNull("error")) n.path("error").asText() else null,
              if (n.hasNonNull("reason")) n.path("reason").asText() else null)
          }
        }
      }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType.fromDDL(
        "chunk_no BIGINT, doc_id STRING, ok BOOLEAN, error STRING, reason STRING"))
  }

  /** Generic batch-id replay guard for write-back — the cluster-safe
    * shape (VERDICT r11 "what's wrong" #1). HTTP POSTs are side effects,
    * so they must NOT live in lazily re-evaluable plan lineage: under
    * at-least-once redelivery (a restart replaying the last uncommitted
    * micro-batch) a replayed batch would re-POST rows whose first POST
    * was accepted, advancing the server's revs and reading back as
    * conflicts.
    *
    * Contract (same applied-batch log the state stores use): if
    * `<logRoot>/_wb_batches/batch-<id>` exists the batch already went
    * out — return false and send NOTHING. Otherwise run `send`, spill
    * its per-doc result rows to `<logRoot>/results/batch-<id>.parquet`
    * (the parquet write is the ONE action that fires the HTTP stage;
    * every later read hits the file, never the lineage), then write the
    * marker LAST. Residual duplicates — a task retry inside a running
    * batch, or a crash between POST and marker — are not silent: the
    * server's rev guard reports each as a per-doc conflict row on the
    * next attempt. */
  def sendBatchGuarded(logRoot: String, batchId: Long)
      (send: => DataFrame): Boolean =
    sendBatchGuarded(logRoot, batchId, (_, _) => ())(send)

  /** [[sendBatchGuarded]] with a validation hook over the spilled
    * result rows, run BEFORE the marker is written: a throwing
    * `validate` fails the batch loudly with no marker, so Spark's
    * retry redelivers it instead of a conflict vanishing into a
    * committed batch.
    *
    * `validate`'s second argument is true when a PRIOR attempt of this
    * batch may have reached the wire (an `intent-<id>` marker, written
    * just before the first send, already existed). A crash between the
    * result spill and the completion marker re-POSTs the whole batch on
    * redelivery; the server's rev guard then reports every
    * already-accepted doc as a conflict — indistinguishable from a real
    * conflict by the result rows alone. The flag lets a validator treat
    * that attempt's conflicts as possibly-converged replays (verify
    * content against the server) instead of crash-looping forever. */
  def sendBatchGuarded(logRoot: String, batchId: Long,
      validate: (DataFrame, Boolean) => Unit)(send: => DataFrame): Boolean = {
    val log = java.nio.file.Paths.get(logRoot, "_wb_batches")
    if (java.nio.file.Files.exists(log.resolve(s"batch-$batchId")))
      return false // replayed batch: NOOP, nothing reaches the wire
    val intent = log.resolve(s"intent-$batchId")
    val priorAttempt = java.nio.file.Files.exists(intent)
    java.nio.file.Files.createDirectories(log)
    if (!priorAttempt)
      java.nio.file.Files.write(intent, Array.emptyByteArray)
    val sent = send
    sent.write.mode("overwrite").parquet(resultPath(logRoot, batchId))
    validate(sent.sparkSession.read.parquet(resultPath(logRoot, batchId)),
      priorAttempt)
    java.nio.file.Files.write(log.resolve(s"batch-$batchId"),
      Array.emptyByteArray)
    true
  }

  /** Where [[sendBatchGuarded]] spilled batch `id`'s per-doc results. */
  def resultPath(logRoot: String, batchId: Long): String =
    s"$logRoot/results/batch-$batchId.parquet"

  /** Batch-ids already written back (the replay-guard log). */
  def appliedBatches(logRoot: String): Set[Long] = {
    val log = java.nio.file.Paths.get(logRoot, "_wb_batches")
    if (!java.nio.file.Files.exists(log)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(log)) { st =>
        st.iterator().asScala.map(_.getFileName.toString)
          .collect { case s if s.startsWith("batch-") =>
            s.stripPrefix("batch-").toLong }
          .toSet
      }
    }
  }

  /** [[postPerDoc]] behind the replay guard — the foreachBatch shape of
    * bulk write-back. Returns false (and POSTs nothing) on a replayed
    * batchId. */
  def postBatchGuarded(
      docs: DataFrame, batchId: Long, idCol: String, docCol: String,
      baseUrl: String, poster: DocPoster, logRoot: String): Boolean =
    sendBatchGuarded(logRoot, batchId)(
      postPerDoc(chunkedByPartition(docs, idCol, docCol), baseUrl, poster))

  /** [[putEach]] behind the replay guard — the foreachBatch shape of
    * the single-doc PUT path (S4). */
  def putBatchGuarded(
      docs: DataFrame, batchId: Long, idCol: String, docCol: String,
      baseUrl: String, poster: DocPoster, logRoot: String): Boolean =
    sendBatchGuarded(logRoot, batchId)(
      putEach(docs, idCol, docCol, baseUrl, poster))

  /** Per conflicted doc_id: did the server CONVERGE to the outgoing
    * content anyway? GETs each conflicted doc back (executor-side,
    * bounded by the batch's conflict count — a rare recovery path) and
    * compares content ignoring `_id`/`_rev`/`_deleted`. A redelivered
    * batch whose first attempt was accepted reads back as conflicts
    * that ALL converge; a real concurrent-writer conflict does not. */
  def conflictsConverged(docs: DataFrame, conflictedIds: DataFrame,
      docCol: String, baseUrl: String,
      poster: DocPoster): DataFrame = {
    val spark = docs.sparkSession
    // join on the payload's `_id` — the key the server stored and
    // reported the conflict under (the batch's idCol need not match it)
    //
    // ...then collapse to ONE payload per _id before any verdict: the
    // revision that SHOULD be the final state (highest `_rev` ordinal,
    // CouchDB's winner rule, cdc.Rev; payload text as a deterministic
    // tie-break for rev-less docs). Judging every row independently let
    // a batch carrying two DIFFERING revisions of one _id converge on
    // the STALE row's match while the latest never landed — the batch
    // then committed with the final state unapplied (ADVICE r14).
    val pending = docs
      .select(get_json_object(col(docCol), "$._id").as("doc_id"),
        col(docCol).as("doc"))
      .join(conflictedIds.select(col("doc_id")), Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(max_by(col("doc"), struct(
        coalesce(
          graft.cdc.Rev.ordinalCol(get_json_object(col("doc"), "$._rev")),
          lit(-1L)),
        col("doc"))).as("doc"))
    val out = pending.rdd.mapPartitions { it =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def strip(n: com.fasterxml.jackson.databind.JsonNode)
          : com.fasterxml.jackson.databind.JsonNode = n match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          val c = o.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          c.remove("_id"); c.remove("_rev"); c.remove("_deleted"); c
        case other => other
      }
      it.map { r =>
        val id = r.getAs[String]("doc_id")
        val (status, body) = poster.get(s"$baseUrl/$id")
        val doc = r.getAs[String]("doc")
        // a tombstone payload whose first attempt was ACCEPTED reads
        // back 404 — that IS the converged state for a delete (ADVICE
        // r13: requiring 200 made a crash between spill and marker on a
        // delete-carrying batch crash-loop forever)
        val deleted =
          try mapper.readTree(doc).path("_deleted").asBoolean(false)
          catch { case _: java.io.IOException => false }
        val converged =
          if (deleted) status == 404
          else status == 200 &&
            (try strip(mapper.readTree(body)) == strip(mapper.readTree(doc))
            catch { case _: java.io.IOException => false })
        org.apache.spark.sql.Row(id, converged)
      }
    }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id STRING, converged BOOLEAN"))
  }

  /** foreachBatch hook for a streaming write-back:
    * `writeStream.foreachBatch(BulkDocsSink.forBatch(...))`. `idCol`/
    * `docCol` name the batch's key and JSON-doc columns. Per-doc
    * conflicts FAIL the batch (before the replay marker commits, so
    * redelivery retries it) — a conflict must surface, never vanish
    * into a swallowed batch; set `failOnConflict = false` only when a
    * downstream consumer reads the spilled result rows itself.
    * EXCEPTION: on a redelivered attempt (the intent marker shows a
    * prior send may have reached the wire), conflicts whose server-side
    * doc already equals the outgoing payload are replay echoes — the
    * batch CONVERGED — and are tolerated, so a crash between POST and
    * marker heals instead of crash-looping (ADVICE r12). */
  def forBatch(baseUrl: String, poster: DocPoster, logRoot: String,
      idCol: String = "id", docCol: String = "doc",
      failOnConflict: Boolean = true)
      : (DataFrame, Long) => Unit =
    (df, id) => {
      val validate: (DataFrame, Boolean) => Unit =
        if (!failOnConflict) (_, _) => ()
        else (res, priorAttempt) => {
          val bad = res.where(!col("ok"))
          val nBad = bad.count()
          if (nBad > 0L) {
            if (!priorAttempt) throw new IllegalStateException(
              s"write-back batch $id reported $nBad per-doc conflicts")
            // per UNIQUE id, not per result row: a duplicate _id in the
            // batch (two revisions of one doc in a micro-batch) yields
            // more join-back rows than conflict rows, and a row-count
            // subtraction went NEGATIVE — cancelling real failures in
            // the final check (ADVICE r13)
            val conflicted = bad
              .where(col("error") === lit("conflict"))
              .select(col("doc_id")).distinct()
            val nonConflict =
              bad.where(!(col("error") <=> lit("conflict"))).count()
            // anti-join, so a conflicted id the batch can't even be
            // joined back to (no converged verdict at all) counts as
            // NOT converged
            val notConverged = conflicted.join(
                conflictsConverged(df, conflicted, docCol, baseUrl, poster)
                  .where(col("converged")).select(col("doc_id")).distinct(),
                Seq("doc_id"), "left_anti")
              .count()
            if (nonConflict + notConverged > 0L)
              throw new IllegalStateException(
                s"write-back batch $id (redelivered): " +
                s"${nonConflict + notConverged} per-doc failures did not " +
                "converge — real conflicts, not replay echoes")
          }
        }
      sendBatchGuarded(logRoot, id, validate)(
        postPerDoc(chunkedByPartition(df, idCol, docCol), baseUrl, poster))
      ()
    }

  /** Single-doc PUT path (S4, the per-row trigger semantics): one HTTP
    * call per row, executor-side. Small-batch escape hatch; bulk is the
    * real path. */
  def putEach(docs: DataFrame, idCol: String, docCol: String,
      baseUrl: String, poster: DocPoster): DataFrame = {
    val spark = docs.sparkSession
    val out = docs.select(col(idCol).cast("string").as("id"), col(docCol).as("doc"))
      .rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getAs[String]("id")
          val status = poster.post(s"$baseUrl/$id", r.getAs[String]("doc"))
          org.apache.spark.sql.Row(id, status)
        }
      }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType.fromDDL("id STRING, status INT"))
  }
}

/** One partition's docs (column 0 of `rows`, a string) as `_bulk_docs`
  * chunks, streamed: each `next()` drains up to `chunkSize` rows into a
  * fresh buffer, sized from the previous chunk, and emits it as a
  * (chunk_no, n_docs, docs_json) row. The emitted string owns its
  * buffer, so a cached or buffered chunk row stays valid after the
  * input advances. */
private final class PartitionChunker(
    rows: Iterator[InternalRow], pid: Int, chunkSize: Int)
    extends Iterator[InternalRow] {
  private var k = 0L
  private var sizeHint = 64

  def hasNext: Boolean = rows.hasNext

  def next(): InternalRow = {
    if (!rows.hasNext) throw new NoSuchElementException("no more chunks")
    require(k <= 0xFFFFFFFFL,
      s"partition $pid yields more than 2^32 chunks; raise chunkSize")
    var buf = new Array[Byte](sizeHint)
    buf(0) = '['
    var len = 1
    var n = 0L
    var first = true
    while (n < chunkSize && rows.hasNext) {
      val r = rows.next()
      n += 1
      if (!r.isNullAt(0)) {
        val doc = r.getUTF8String(0)
        // room for a separator, the doc and the closing bracket
        val need = len.toLong + doc.numBytes + 2
        if (need > buf.length) {
          require(need <= ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
            s"a chunk of partition $pid exceeds 2 GB; lower chunkSize")
          buf = java.util.Arrays.copyOf(buf, math.min(
            math.max(need, 2L * buf.length),
            ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong).toInt)
        }
        if (!first) { buf(len) = ','; len += 1 }
        doc.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += doc.numBytes
        first = false
      }
    }
    buf(len) = ']'
    len += 1
    sizeHint = len
    val chunk = new GenericInternalRow(Array[Any](
      (pid.toLong << 32) | k, n, UTF8String.fromBytes(buf, 0, len)))
    k += 1
    chunk
  }
}

/** Production poster: JDK HTTP client, one instance per executor JVM.
  * Not exercised in tests (zero-egress environment). */
final class JdkHttpPoster(auth: Option[(String, String)] = None)
    extends DocPoster {
  @transient private lazy val client = java.net.http.HttpClient.newHttpClient()

  private def withAuth(b: java.net.http.HttpRequest.Builder) = {
    auth.foreach { case (u, p) =>
      val tok = java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes("UTF-8"))
      b.header("Authorization", s"Basic $tok")
    }
    b.build()
  }

  private def request(url: String, body: String) =
    withAuth(java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))

  override def post(url: String, body: String): Int =
    client.send(request(url, body),
      java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()

  /** Real response body — feeds [[BulkDocsSink.postPerDoc]]'s per-doc
    * status parsing. */
  override def postForBody(url: String, body: String): (Int, String) = {
    val resp = client.send(request(url, body),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Doc read-back for the replay-convergence check. */
  override def get(url: String): (Int, String) = {
    val resp = client.send(
      withAuth(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(url)).GET()),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

/** Test poster: records every call into a local spool directory (works
  * in local[n] where executors share the filesystem). */
final class SpoolingPoster(spoolDir: String) extends DocPoster {
  override def post(url: String, body: String): Int = {
    val dir = java.nio.file.Paths.get(spoolDir)
    java.nio.file.Files.createDirectories(dir)
    val name = f"post-${System.nanoTime()}%020d-${
      Integer.toHexString(url.hashCode)}.json"
    java.nio.file.Files.write(dir.resolve(name),
      s"""{"url":${com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .build().writeValueAsString(url)},"body":$body}"""
        .getBytes("UTF-8"))
    201
  }
}
