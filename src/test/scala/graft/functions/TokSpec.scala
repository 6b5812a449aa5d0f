package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins the byte-scan tokenize kernels bit-for-bit against the built-in
  * formulations they replace on the per-token accounting paths:
  *  - Tok.tokens          ≡ split(text, " ")
  *  - Tok.tokenCounts     ≡ explode(split) → groupBy(doc, token).count
  *  - Tok.bigrams         ≡ (element_at(ws,i), element_at(ws,i+1)) fan-out
  *  - Tok.sortedDistinct  ≡ row_number over (doc ORDER BY token) ≤ cap
  *  - Tok.orderedPairs    ≡ doc self-join with tok_a < tok_b
  * Edge cases carried by split(" ", -1) semantics: empty string → [""],
  * leading/adjacent/trailing spaces → empty tokens kept, multi-byte
  * UTF-8 preserved byte-for-byte.
  */
class TokSpec extends AnyFunSuite with SparkSpec {

  private val cases = Seq(
    "a b c",
    "",
    " ",
    "  ",
    "a",
    " a",
    "a ",
    "a  b",
    "  a b  c  ",
    "über älter über",
    "日本 語 日本 語 テスト",
    "x y x y x z z",
    "same same same")

  private def df() = {
    import spark.implicits._
    cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc", "t")
  }

  test("tokens == split(text, ' ')") {
    import spark.implicits._
    val got = df().select($"doc", graft.functions.Tok.tokensCol($"t").as("w"))
      .orderBy($"doc").collect().map(_.getSeq[String](1))
    val want = df().select($"doc", split($"t", " ").as("w"))
      .orderBy($"doc").collect().map(_.getSeq[String](1))
    assert(got.toSeq == want.toSeq)
  }

  test("tokenCounts == explode(split) -> groupBy(doc, token).count") {
    import spark.implicits._
    val got = df()
      .select($"doc", explode(Tok.tokenCountsCol($"t")).as("tc"))
      .select($"doc", $"tc.token", $"tc.n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = df()
      .select($"doc", explode(split($"t", " ")).as("token"))
      .groupBy($"doc", $"token").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("tokenCounts emits unique (doc, token) rows") {
    import spark.implicits._
    val rows = df()
      .select($"doc", explode(Tok.tokenCountsCol($"t")).as("tc"))
      .select($"doc", $"tc.token").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == rows.toSet.size)
  }

  test("bigrams == element_at pair fan-out") {
    import spark.implicits._
    val got = df()
      .select($"doc", explode(Tok.bigramsCol($"t")).as("p"))
      .select($"doc", $"p.a", $"p.b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = df()
      .select($"doc", split($"t", " ").as("ws"))
      .where(size($"ws") >= 2)
      .select($"doc", $"ws",
        explode(sequence(lit(1), size($"ws") - 1)).as("i"))
      .select($"doc",
        element_at($"ws", $"i").as("a"),
        element_at($"ws", $"i" + 1).as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want)
  }

  test("sortedDistinctTokens == windowed rank cap") {
    import spark.implicits._
    for (cap <- Seq(2, 3, 64)) {
      val got = df()
        .select($"doc",
          explode(Tok.sortedDistinctTokensCol($"t", cap)).as("token"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc").orderBy($"token")
      val want = df()
        .select($"doc", explode(array_distinct(split($"t", " "))).as("token"))
        .withColumn("rk", row_number().over(w))
        .where($"rk" <= cap)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want, s"cap=$cap")
    }
  }

  test("orderedPairs == self-join with tok_a < tok_b") {
    import spark.implicits._
    val capped = df().select($"doc",
      Tok.sortedDistinctTokensCol($"t", 64).as("ts"))
    val got = capped
      .select($"doc", explode(Tok.orderedPairsCol($"ts")).as("p"))
      .select($"doc", $"p.a", $"p.b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val dt = capped.select($"doc", explode($"ts").as("token"))
    val want = dt.select($"doc", $"token".as("tok_a"))
      .join(dt.select($"doc", $"token".as("tok_b")), Seq("doc"))
      .where($"tok_a" < $"tok_b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == want)
  }

  test("null text propagates as null / no rows") {
    import spark.implicits._
    val nd = Seq((1L, Option.empty[String]), (2L, Some("a b"))).toDF("doc", "t")
    assert(nd.select(Tok.tokensCol($"t")).collect().head.isNullAt(0))
    val n = nd.select($"doc", explode(Tok.tokenCountsCol($"t")).as("tc"))
      .groupBy($"doc").count().collect()
    assert(n.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 2L)))
  }

  test("a non-string input is rejected at analysis") {
    import spark.implicits._
    val d = Seq((1L, "a b")).toDF("doc", "t")
    Seq[org.apache.spark.sql.Column](
      Tok.tokensCol($"doc"), Tok.tokenCountsCol($"doc"), Tok.bigramsCol($"doc"),
      Tok.sortedDistinctTokensCol($"doc", 4), Tok.orderedPairsCol($"doc"),
      Tok.orderedPairsCol(array($"doc"))).foreach { c =>
      intercept[org.apache.spark.sql.AnalysisException](d.select(c))
    }
  }

  test("interning table capacity: next pow2 >= 2n, fails fast past 2^29 tokens") {
    assert(Tok.tableCapacity(0) == 4)
    assert(Tok.tableCapacity(1) == 4)
    assert(Tok.tableCapacity(3) == 8)
    assert(Tok.tableCapacity(1000) == 2048)
    assert(Tok.tableCapacity(1 << 29) == (1 << 30))
    // 2n overflows an Int here: an Int loop never reached it
    Seq((1 << 29) + 1, 1 << 30, Int.MaxValue).foreach { n =>
      val e = intercept[IllegalArgumentException](Tok.tableCapacity(n))
      assert(e.getMessage.contains("2^29"))
    }
  }
}
