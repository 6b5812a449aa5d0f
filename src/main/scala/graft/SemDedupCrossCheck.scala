package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Independent-algorithm cross-validation of the SemDeDup drop list
  * (p52) at ANY scale factor: the same (pivot assignment, within-cell
  * cosine >= tau, lowest-id survivor) semantics are recomputed by a
  * SECOND execution path — typed `flatMapGroups` over cells with a
  * local early-terminating quadratic scan — and compared row-for-row
  * against [[Similarity.semanticDedup]]'s declarative cell-join plan.
  *
  * Exists because the p52 DuckDB oracle is within-cell quadratic in
  * interpreted list arithmetic: at sf1 (~2.5e9 pairs x 64-element
  * list_transform per side) it stops terminating in useful time, while
  * both Spark paths finish in seconds/minutes. Past the sf0.1 oracle
  * gate, this two-path agreement is the correctness evidence.
  *
  * Both paths share only the scalar quantization rule
  * (floor(x * 1e6), exact integer dot, double cosine) — the join
  * plan exercises codegen'd DotLongExpr inside a cell-key equi-join;
  * this path re-implements the arithmetic in plain Scala on the
  * executor, so a codegen bug, a join-semantics bug, or a tie-break
  * bug in either path shows up as a mismatch.
  *
  * Usage: runMain graft.SemDedupCrossCheck <sfDir>
  */
object SemDedupCrossCheck {

  private val Tau = 0.4
  private val NPivots = 8

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.session()
    import spark.implicits._

    val emb = Tables.load(spark, dir, "embeddings")

    // Path A: the declarative plan (cell equi-join). maxCell is
    // disabled: this audit pins the EXACT within-cell semantics, and
    // path B below is exhaustive per cell — the production cell-size
    // guard (sub-blocking) is a separate scale policy with its own
    // recall trade, not what this check validates.
    val a = Similarity.semanticDedup(emb, tau = Tau, nPivots = NPivots,
        maxCell = Long.MaxValue)
      .select($"vec_id", $"dup_of".as("dup_a"), $"cos".as("cos_a"))

    // Path B: local quadratic per cell, typed API.
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])]
      .map { case (id, e) =>
        (id, e.map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      }
    def dot(x: Array[Long], y: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    val pivots = vecs.filter(_._1 < NPivots).collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(
      pivots.map { case (pid, pq) => (pid, pq, dot(pq, pq)) })
    val b = vecs
      .groupByKey { case (_, q) =>
        val nrm = dot(q, q)
        // argmax cosine, smallest pivot id on exact ties — the same
        // (cos, -pid) struct-max rule as the declarative path
        var best = -1L; var bestCos = Double.NegativeInfinity
        bc.value.foreach { case (pid, pq, pn) =>
          val c = dot(q, pq).toDouble / math.sqrt(nrm.toDouble * pn.toDouble)
          if (c > bestCos || (c == bestCos && pid < best)) {
            best = pid; bestCos = c
          }
        }
        best
      }
      .flatMapGroups { (_, it) =>
        val members = it.toArray.sortBy(_._1)
        val norms = members.map { case (_, q) => dot(q, q) }
        members.indices.iterator.flatMap { i =>
          val (idA, qa) = members(i)
          // earliest (lowest-id) duplicate wins; stop at first hit
          var j = 0; var hit = -1; var cosHit = 0.0
          while (j < i && hit < 0) {
            val (_, qb) = members(j)
            val c = dot(qa, qb).toDouble /
              math.sqrt(norms(i).toDouble * norms(j).toDouble)
            if (c >= Tau) { hit = j; cosHit = c }
            j += 1
          }
          if (hit >= 0) Iterator.single((idA, members(hit)._1, cosHit))
          else Iterator.empty
        }
      }
      .toDF("vec_id", "dup_b", "cos_b")

    val joined = a.join(b, Seq("vec_id"), "full_outer")
    val total = joined.count()
    val mismatches = joined.filter(
      $"dup_a".isNull || $"dup_b".isNull ||
        $"dup_a" =!= $"dup_b" || $"cos_a" =!= $"cos_b").count()
    val drops = a.count()

    println(s"""{"drop_rows":$drops,"compared":$total,""" +
      s""""mismatches":$mismatches}""")
    spark.stop()
    if (mismatches != 0L || drops == 0L) sys.exit(1)
  }
}
