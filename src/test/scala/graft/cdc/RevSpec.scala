package graft.cdc

import org.apache.spark.sql.functions.col
import graft.SparkSpec

class RevSpec extends SparkSpec {
  import spark.implicits._

  test("ordinal parse (lib/index.js:107-108)") {
    assert(Rev.ordinal("1-d3747a58baa817834a21ceeaf3084c41") == 1L)
    assert(Rev.ordinal("42-abc") == 42L)
  }

  test("ordinalCol matches scala impl") {
    val revs = Seq("1-aaa", "12-bbb", "3-c-c") // hash may contain '-'
    val got = revs.toDF("rev")
      .select(Rev.ordinalCol(col("rev"))).as[Long].collect().toSeq
    assert(got == Seq(1L, 12L, 3L))
  }

  test("winner: highest ordinal wins, ties break on suffix, nulls drop") {
    assert(Rev.winner(Seq("2-b", "3-a", "1-z")).contains("3-a"))
    assert(Rev.winner(Seq("3-aaa", "3-zzz")).contains("3-zzz"))
    assert(Rev.winner(Seq(null, "1-x")).contains("1-x"))
    assert(Rev.winner(Seq.empty).isEmpty)
    // ordinal beats string order: 12 > 9 even though "12" < "9"
    assert(Rev.winner(Seq("9-a", "12-b")).contains("12-b"))
  }
}
