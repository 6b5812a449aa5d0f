package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One CouchDB `_changes` feed entry — the unit of ingest.
  *
  * Mirrors the reference's change object `{seq, id, changes:[{rev}],
  * deleted?, doc}` (reference lib/index.js:185-195; FIXTURES.md §1).
  * `doc` is the raw JSON document string (absent on deletes); `rev` is
  * CouchDB's `"N-hash"` revision string.
  */
final case class ChangeEvent(
    seq: Long,
    id: String,
    rev: String,
    deleted: Boolean,
    doc: String)

object ChangeEvent {
  /** Envelope schema (SURVEY.md §1.3). */
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("rev", StringType, nullable = true),
    StructField("deleted", BooleanType, nullable = false),
    StructField("doc", StringType, nullable = true)))
}

/** CouchDB revision-string helpers — `"N-hash"` with ordinal prefix.
  *
  * The reference splits on `-` for the ordinal (lib/index.js:107-108) but
  * compares FULL rev strings for idempotence (lib/index.js:110); both
  * semantics are preserved here.
  */
object Rev {
  /** Ordinal prefix of a rev string: "3-abc" -> 3. */
  def ordinal(rev: String): Long =
    rev.substring(0, rev.indexOf('-')).toLong

  /** Column form: split(rev,'-')[0] cast to long. */
  def ordinalCol(rev: Column): Column =
    split(rev, "-").getItem(0).cast(LongType)

  /** The winning leaf among a change's rev list (`style=all_docs`
    * emits every open conflict branch, in no guaranteed order):
    * CouchDB's deterministic winner is the highest ordinal, ties broken
    * by the lexicographically highest suffix — reproduced here so the
    * merge stores the same rev the server reports as the doc body's. */
  def winner(revs: Seq[String]): Option[String] = {
    val valid = revs.filter(r => r != null && r.nonEmpty)
    if (valid.isEmpty) None
    else Some(valid.maxBy { r =>
      val i = r.indexOf('-')
      val ord =
        if (i > 0 && r.substring(0, i).forall(_.isDigit))
          r.substring(0, i).toLong
        else 0L
      (ord, r)
    })
  }
}
