package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd single-pass tokenization kernels for the per-token
  * accounting family (vocab, tf-idf, drift, surprisal, PMI).
  *
  * `split(text, " ")` routes through `UTF8String.split` →
  * `String.split`: a full UTF-16 decode of the document, a `String`
  * allocation per token, and a UTF-8 re-encode per token — paid once
  * per corpus pass, and the token-accounting entries pay 2-4 corpus
  * passes each. Each kernel here is ONE monomorphic static method that
  * scans the UTF-8 bytes directly (0x20 never occurs inside a
  * multi-byte UTF-8 sequence, so byte-splitting IS char-splitting) and
  * emits zero-copy slices of the original buffer (`UTF8String.fromAddress`
  * views; `UTF8String.substring`, by contrast, copies). INVARIANT: a
  * slice must be consumed before the input row advances. Upstream
  * buffers (shuffle-reader rows, column vectors) are reused row to row,
  * so a slice read after the next input row points at that row's
  * bytes. Every current consumer holds it: generate/project write each
  * output into an UnsafeRow (a copy) before pulling the next input.
  *
  * Semantics are BIT-IDENTICAL to `split(text, " ")` (Java
  * `String.split(" ", -1)`) for valid UTF-8: every token kept,
  * including empty tokens from leading/adjacent/trailing spaces;
  * "" → [""]. Pinned by TokExprsSpec against the built-in.
  *
  * [[Tok.tokenCounts]] additionally fuses the per-document
  * `groupBy(doc, token).count()`: it emits one (token, n) struct per
  * DISTINCT token per document (first-occurrence order), so a
  * downstream per-doc term-frequency table needs NO aggregation at all
  * (doc rows are unique), and corpus-level df/tf aggregates see the
  * distinct-pairs stream instead of the occurrence stream.
  */
object Tok {

  /** Number of tokens `split(" ", -1)` produces = spaces + 1. */
  private def countSpaces(t: UTF8String): Int = {
    val n = t.numBytes()
    var spaces = 0
    var i = 0
    while (i < n) {
      if (t.getByte(i) == 0x20) spaces += 1
      i += 1
    }
    spaces
  }

  /** Zero-copy byte slice [start, end) of `t`. */
  private def slice(t: UTF8String, start: Int, end: Int): UTF8String =
    UTF8String.fromAddress(
      t.getBaseObject, t.getBaseOffset + start, end - start)

  /** split(text, " ") — all tokens, empties included. */
  def tokens(t: UTF8String): ArrayData = {
    val n = t.numBytes()
    val out = new Array[Any](countSpaces(t) + 1)
    var tok = 0
    var start = 0
    var i = 0
    while (i < n) {
      if (t.getByte(i) == 0x20) {
        out(tok) = slice(t, start, i)
        tok += 1
        start = i + 1
      }
      i += 1
    }
    out(tok) = slice(t, start, n)
    new GenericArrayData(out)
  }

  /** FNV-1a over the token's bytes — cheap, only used for the in-call
    * open-addressing tables below (never leaves the JVM). */
  private def hashBytes(t: UTF8String, start: Int, end: Int): Int = {
    var h = 0x811c9dc5
    var i = start
    while (i < end) {
      h = (h ^ (t.getByte(i) & 0xff)) * 0x01000193
      i += 1
    }
    h
  }

  private def sameBytes(t: UTF8String, s1: Int, e1: Int, s2: Int, e2: Int): Boolean = {
    if (e1 - s1 != e2 - s2) return false
    var i = 0
    val len = e1 - s1
    while (i < len) {
      if (t.getByte(s1 + i) != t.getByte(s2 + i)) return false
      i += 1
    }
    true
  }

  /** Interning table size for `nTokens` tokens: the next power of two
    * >= 2 * nTokens (load factor <= 0.5), at least 4. Computed in Long:
    * past 2^29 tokens the doubled count overflows an Int and the table
    * could not be allocated, so such a document fails here with a
    * message instead of looping forever. */
  private[functions] def tableCapacity(nTokens: Int): Int = {
    require(nTokens <= (1 << 29),
      s"a document of $nTokens tokens exceeds the tokenizer's limit of 2^29")
    var c = 4L
    while (c < 2L * nTokens) c <<= 1
    c.toInt
  }

  /** Open-addressing token interning over [start,end) byte ranges of one
    * document. Returns (tokStart, tokEnd, count, order) arrays packed as
    * (starts, ends, counts, nDistinct) — tokens in first-occurrence
    * order. */
  private final class Counter(t: UTF8String, nTokens: Int) {
    private val cap = tableCapacity(nTokens)
    private val table = new Array[Int](cap) // 0 = empty, else idx+1
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    val counts = new Array[Long](nTokens)
    var nDistinct = 0

    def add(start: Int, end: Int): Unit = {
      var pos = hashBytes(t, start, end) & (cap - 1)
      while (true) {
        val e = table(pos)
        if (e == 0) {
          table(pos) = nDistinct + 1
          starts(nDistinct) = start
          ends(nDistinct) = end
          counts(nDistinct) = 1L
          nDistinct += 1
          return
        }
        val idx = e - 1
        if (sameBytes(t, starts(idx), ends(idx), start, end)) {
          counts(idx) += 1L
          return
        }
        pos = (pos + 1) & (cap - 1)
      }
    }
  }

  private def countTokens(t: UTF8String): Counter = {
    val n = t.numBytes()
    val c = new Counter(t, countSpaces(t) + 1)
    var start = 0
    var i = 0
    while (i < n) {
      if (t.getByte(i) == 0x20) {
        c.add(start, i)
        start = i + 1
      }
      i += 1
    }
    c.add(start, n)
    c
  }

  /** Fused tokenize + per-document count: one (token, n) struct per
    * distinct token of `t`, first-occurrence order. Explode + no
    * aggregation = the per-doc term-frequency table. */
  def tokenCounts(t: UTF8String): ArrayData = {
    val c = countTokens(t)
    val out = new Array[Any](c.nDistinct)
    var i = 0
    while (i < c.nDistinct) {
      val row = new GenericInternalRow(2)
      row.update(0, slice(t, c.starts(i), c.ends(i)))
      row.setLong(1, c.counts(i))
      out(i) = row
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent token pairs (prev, cur) — one struct per bigram
    * OCCURRENCE, in document order; < 2 tokens → empty array. Matches
    * the (element_at(ws,i), element_at(ws,i+1)) formulation including
    * empty tokens. */
  def bigrams(t: UTF8String): ArrayData = {
    val n = t.numBytes()
    val nTok = countSpaces(t) + 1
    if (nTok < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nTok - 1)
    var prevStart = 0
    var prevEnd = -1
    var pair = 0
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || t.getByte(i) == 0x20) {
        if (prevEnd >= 0) {
          val row = new GenericInternalRow(2)
          row.update(0, slice(t, prevStart, prevEnd))
          row.update(1, slice(t, start, i))
          out(pair) = row
          pair += 1
        }
        prevStart = start
        prevEnd = i
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The first `cap` DISTINCT tokens of `t` in binary (UTF8String)
    * order — equivalent to exploding array_distinct(tokens), ranking by
    * token with row_number over (doc ORDER BY token), and keeping
    * rank <= cap. */
  def sortedDistinctTokens(t: UTF8String, cap: Int): ArrayData = {
    val c = countTokens(t)
    val arr = new Array[UTF8String](c.nDistinct)
    var i = 0
    while (i < c.nDistinct) {
      arr(i) = slice(t, c.starts(i), c.ends(i))
      i += 1
    }
    java.util.Arrays.sort(arr, null) // UTF8String: unsigned byte order
    val k = math.min(cap, c.nDistinct)
    val out = new Array[Any](k)
    i = 0
    while (i < k) { out(i) = arr(i); i += 1 }
    new GenericArrayData(out)
  }

  /** All ordered index pairs (arr[i], arr[j]), i < j, as (a, b) structs.
    * Over a SORTED DISTINCT array this is exactly the self-join
    * `a.doc = b.doc AND a.tok < b.tok` — without the join. */
  def orderedPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new Array[Any](n * (n - 1) / 2)
    var p = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val row = new GenericInternalRow(2)
        row.update(0, toks(i))
        row.update(1, toks(j))
        out(p) = row
        p += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  // ---- Column wrappers ----
  def tokensCol(text: Column): Column =
    Bridge.column(TokensExpr(Bridge.expression(text)))
  def tokenCountsCol(text: Column): Column =
    Bridge.column(TokenCountsExpr(Bridge.expression(text)))
  def bigramsCol(text: Column): Column =
    Bridge.column(BigramsExpr(Bridge.expression(text)))
  def sortedDistinctTokensCol(text: Column, cap: Int): Column =
    Bridge.column(SortedDistinctTokensExpr(Bridge.expression(text), cap))
  def orderedPairsCol(arr: Column): Column =
    Bridge.column(OrderedPairsExpr(Bridge.expression(arr)))

  val pairStruct: StructType = StructType(Seq(
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = false)))
  val countStruct: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))
}

final case class TokensExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false) // matches StringSplit
  override def nullSafeEval(input: Any): Any =
    Tok.tokens(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tok.tokens($c)")
  override protected def withNewChildInternal(c: Expression): TokensExpr =
    copy(child = c)
}

final case class TokenCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(Tok.countStruct, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Tok.tokenCounts(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tok.tokenCounts($c)")
  override protected def withNewChildInternal(c: Expression): TokenCountsExpr =
    copy(child = c)
}

final case class BigramsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(Tok.pairStruct, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Tok.bigrams(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tok.bigrams($c)")
  override protected def withNewChildInternal(c: Expression): BigramsExpr =
    copy(child = c)
}

final case class SortedDistinctTokensExpr(child: Expression, cap: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Tok.sortedDistinctTokens(input.asInstanceOf[UTF8String], cap)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Tok.sortedDistinctTokens($c, $cap)")
  override protected def withNewChildInternal(
      c: Expression): SortedDistinctTokensExpr = copy(child = c)
}

final case class OrderedPairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(Tok.pairStruct, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Tok.orderedPairs(input.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tok.orderedPairs($c)")
  override protected def withNewChildInternal(c: Expression): OrderedPairsExpr =
    copy(child = c)
}
