package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd text-analysis kernels for the training-data pipeline
  * (p9 token stats, p10 quality scoring, p11 language-ID).
  *
  * The higher-order-function formulations (`aggregate`/`filter` lambdas
  * in TextAnalysis) are CodegenFallback: interpreted per-element
  * evaluation through megamorphic `Expression.eval` call sites — both
  * slow at 100 TB (the per-token lambda IS the workload) and a JIT
  * profile-pollution source that destabilized the round-1 bench. Each
  * kernel here is a single static pass over the token array; `doGenCode`
  * emits one call so the projection stays inside whole-stage codegen.
  *
  * Double arithmetic reproduces the HOF formulations' operation order
  * exactly (same IEEE results — the DuckDB oracle hashes match
  * bit-for-bit).
  */
object TextStats {

  private def set(words: String*): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Tiny per-language stopword lists for TextAnalysis.qualityScore and
    * TextAnalysis.predictLang. */
  val EN: java.util.HashSet[UTF8String] =
    set("the", "a", "of", "and", "to", "in", "is", "it")
  val DE: java.util.HashSet[UTF8String] =
    set("der", "die", "das", "und", "ist", "ein", "zu")
  val FR: java.util.HashSet[UTF8String] =
    set("le", "la", "les", "et", "est", "un", "une")
  val ES: java.util.HashSet[UTF8String] =
    set("el", "la", "los", "y", "es", "un", "una")

  private val SEP = UTF8String.fromString(" ")

  /** Within-doc repetition signals (the Gopher-rules quality family:
    * heavily repeated content is boilerplate/spam even when its
    * unigram stats look normal). One pass over the token array,
    * permille-quantized so both engines agree exactly:
    *   [0] top-token share:  max token count * 1000 / n
    *   [1] top-bigram share: max bigram count * 1000 / (n-1)  (0 if n<2)
    *   [2] duplicate-token share: 1000 - distinct * 1000 / n
    * Bigram identity is the space-joined token pair — unambiguous
    * because tokens come from a space split and so never contain one
    * (and trivially reproduced by `a || ' ' || b` in the oracle). */
  def repetitionStats(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val toks = new java.util.HashMap[UTF8String, Integer]()
    val bgs = new java.util.HashMap[UTF8String, Integer]()
    var maxTok = 0
    var maxBg = 0
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      val c = toks.getOrDefault(w, 0) + 1
      toks.put(w, c)
      if (c > maxTok) maxTok = c
      if (i > 0) {
        val bg =
          if (prev == null || w == null) null
          else UTF8String.concat(prev, SEP, w)
        val cb = bgs.getOrDefault(bg, 0) + 1
        bgs.put(bg, cb)
        if (cb > maxBg) maxBg = cb
      }
      prev = w
      i += 1
    }
    val topTokPm = if (n == 0) 0L else maxTok.toLong * 1000L / n
    val topBgPm = if (n < 2) 0L else maxBg.toLong * 1000L / (n - 1)
    val dupPm = if (n == 0) 0L else 1000L - toks.size.toLong * 1000L / n
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](topTokPm, topBgPm, dupPm))
  }

  /** BPE-ish subword estimate: sum over tokens of
    * max(ceil(chars/6), 1); null tokens count 1 (greatest(null,1)=1,
    * matching the HOF formulation). */
  def subwordEst(words: ArrayData): Long = {
    val n = words.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w == null) acc += 1L
      else {
        val t = (w.numChars() + 5) / 6
        acc += (if (t < 1) 1L else t.toLong)
      }
      i += 1
    }
    acc
  }

  /** Quality score in [0,1]:
    * 0.4*distinct-ratio + 0.3*min(meanLen/8,1) + 0.3*min(stopRatio*3,1).
    * One pass: distinct set, char count, stopword hits. Null tokens
    * (impossible from split) count as zero-length non-stopwords. */
  def qualityScore(words: ArrayData): Double = {
    val n = words.numElements()
    val distinct = new java.util.HashSet[UTF8String]()
    var sumLen = 0L
    var stop = 0L
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w != null) {
        distinct.add(w)
        sumLen += w.numChars()
        if (EN.contains(w)) stop += 1
      } else distinct.add(null)
      i += 1
    }
    val nD = n.toDouble
    val dr = distinct.size.toDouble / nD
    val ml = (sumLen.toDouble / nD) / 8.0
    val sr = (stop.toDouble / nD) * 3.0
    0.4 * dr + 0.3 * (if (ml < 1.0) ml else 1.0) +
      0.3 * (if (sr < 1.0) sr else 1.0)
  }

  /** Language-ID: stopword-overlap ratio per language, argmax with
    * lexicographic (de,en,es,fr) first-wins tiebreak and an evidence
    * floor — below the floor returns "und". Matches
    * TextAnalysis.predictLang's fold exactly. */
  def predictLang(words: ArrayData, floor: Double): UTF8String = {
    val n = words.numElements()
    var cDe = 0L; var cEn = 0L; var cEs = 0L; var cFr = 0L
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w != null) {
        if (DE.contains(w)) cDe += 1
        if (EN.contains(w)) cEn += 1
        if (ES.contains(w)) cEs += 1
        if (FR.contains(w)) cFr += 1
      }
      i += 1
    }
    val nD = n.toDouble
    var bestS = cDe.toDouble / nD
    var bestL = "de"
    val rEn = cEn.toDouble / nD
    if (rEn > bestS) { bestS = rEn; bestL = "en" }
    val rEs = cEs.toDouble / nD
    if (rEs > bestS) { bestS = rEs; bestL = "es" }
    val rFr = cFr.toDouble / nD
    if (rFr > bestS) { bestS = rFr; bestL = "fr" }
    UTF8String.fromString(if (bestS >= floor) bestL else "und")
  }
}

/** Greedy BPE application with a FIXED pretrained merge table — the
  * exact-token-count op a training pipeline runs corpus-wide once a
  * tokenizer is frozen (SubwordEstExpr is the cheap estimate; this is
  * the real thing). Per word: char-split into symbols, then each merge
  * rule in table order does one greedy left-to-right non-overlapping
  * pass. Merge semantics are exactly SQL REPLACE over a
  * `|sym||sym||sym|` delimiter encoding, which is what the DuckDB
  * oracle replays (p70) — validated rule-by-rule in BpeSpec.
  *
  * SCALE: the merge table is a few hundred bytes folded into the
  * codegen'd projection (one static call per row, inside whole-stage
  * codegen); cost is O(rules × word_len) per word with zero allocation
  * beyond the symbol array. Vocabulary-level caching (encode word
  * TYPES once, join back) is the next lever at 100 TB — the word-type
  * table is what [[graft.pipeline.Vocab.bpeTrain]] already builds.
  */
object Bpe {

  /** Pretrained on the sf0.01 documents word frequencies (24 greedy
    * rounds, ties lexicographic) — fixed forever after, like shipping a
    * tokenizer artifact. Chained merges (h+ash, b+atch, s+can) exercise
    * multi-level merge order. */
  val PRETRAINED: Array[Array[String]] = Array(
    Array("e", "r"), Array("i", "n"), Array("o", "w"), Array("o", "r"),
    Array("s", "t"), Array("m", "er"), Array("a", "t"), Array("l", "u"),
    Array("a", "r"), Array("p", "ar"), Array("j", "o"), Array("jo", "in"),
    Array("a", "s"), Array("as", "h"), Array("h", "ash"), Array("r", "ow"),
    Array("at", "c"), Array("atc", "h"), Array("b", "atch"), Array("a", "n"),
    Array("c", "an"), Array("s", "can"), Array("c", "o"), Array("c", "u"))

  /** Symbol sequence for one word after applying every rule in order. */
  def encodeWord(word: String, merges: Array[Array[String]]): Array[String] = {
    var syms = new Array[String](word.length)
    var i = 0
    while (i < word.length) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var r = 0
    while (r < merges.length && syms.length >= 2) {
      val a = merges(r)(0)
      val b = merges(r)(1)
      // cheap presence scan first: most rules touch few words
      var hit = false
      i = 0
      while (i < syms.length - 1 && !hit) {
        if (syms(i) == a && syms(i + 1) == b) hit = true
        i += 1
      }
      if (hit) {
        val out = new Array[String](syms.length)
        var oi = 0
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out(oi) = a + b; oi += 1; j += 2
          } else { out(oi) = syms(j); oi += 1; j += 1 }
        }
        syms = java.util.Arrays.copyOf(out, oi)
      }
      r += 1
    }
    syms
  }

  /** Total token count over a word array (null words count 0). */
  def encodeCount(words: ArrayData, merges: Array[Array[String]]): Long = {
    val n = words.numElements()
    var total = 0L
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (w != null) total += encodeWord(w.toString, merges).length.toLong
      i += 1
    }
    total
  }
}

/** ARRAY<STRING> words -> BIGINT exact BPE token count under the fixed
  * pretrained merge table (see [[Bpe]]). */
final case class BpeCountExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Bpe.encodeCount(input.asInstanceOf[ArrayData], Bpe.PRETRAINED)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Bpe.encodeCount($c, graft.functions.Bpe.PRETRAINED())")
  override protected def withNewChildInternal(c: Expression): BpeCountExpr =
    copy(child = c)
}

final case class SubwordEstExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextStats.subwordEst(input.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStats.subwordEst($c)")
  override protected def withNewChildInternal(c: Expression): SubwordEstExpr =
    copy(child = c)
}

final case class QualityScoreExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    TextStats.qualityScore(input.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStats.qualityScore($c)")
  override protected def withNewChildInternal(c: Expression): QualityScoreExpr =
    copy(child = c)
}

/** The floor is emitted as a Java double literal at the call site
  * (Double.toString round-trips exactly per JLS 3.10.2) — any caller
  * floor is honored bit-exactly, no reference object, no quantization. */
final case class PredictLangExpr(child: Expression, floor: Double = 0.05)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    TextStats.predictLang(input.asInstanceOf[ArrayData], floor)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStats.predictLang($c, ${java.lang.Double.toString(floor)}d)")
  override protected def withNewChildInternal(c: Expression): PredictLangExpr =
    copy(child = c)
}

/** [top_token_pm, top_bigram_pm, dup_token_pm] — ARRAY<STRING> ->
  * ARRAY<LONG>(3), permille integers (see TextStats.repetitionStats). */
final case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextStats.repetitionStats(input.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStats.repetitionStats($c)")
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr =
    copy(child = c)
}

/** Column wrappers. */
object Text {
  def subwordEst(words: Column): Column =
    Bridge.column(SubwordEstExpr(Bridge.expression(words)))
  def qualityScore(words: Column): Column =
    Bridge.column(QualityScoreExpr(Bridge.expression(words)))
  def predictLang(words: Column, floor: Double = 0.05): Column =
    Bridge.column(PredictLangExpr(Bridge.expression(words), floor))
  def repetitionStats(words: Column): Column =
    Bridge.column(RepetitionStatsExpr(Bridge.expression(words)))
  def bpeCount(words: Column): Column =
    Bridge.column(BpeCountExpr(Bridge.expression(words)))
}
