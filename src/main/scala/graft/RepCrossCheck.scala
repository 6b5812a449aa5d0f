package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Independent-plan cross-validation of the p63 representative
  * selection at ANY scale factor: the same (doc, cluster, score) table
  * is reduced by BOTH argmax implementations — the shipped partial
  * aggregate (`max(struct(score_q, -doc_id))`, skew-proof) and the
  * pre-r14 per-cluster `row_number` window it replaced — and the
  * (cluster_id, rep_id, n_members, rep_score_q) outputs compared
  * row-for-row.
  *
  * Exists because p63's DuckDB oracle carries a recursive-CTE
  * transitive closure that stops being runnable around sf1 (the
  * p16-family pathology): past sf0.1 this two-plan agreement check,
  * plus the oracle gate at sf0.01/sf0.1, is the correctness evidence
  * for the r14 window→aggregate rewrite ([[ClusterCrossCheck]] is the
  * same protocol for the CC labels themselves).
  *
  * Usage: runMain graft.RepCrossCheck <sfDir>
  */
object RepCrossCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.session()
    import spark.implicits._

    val d = Tables.load(spark, dir, "documents")
    val pr = Dedup.minhashPairs(d, "doc_id", "text",
        nGram = 3, k = 6, bands = 3, threshold = 0.2)
      .select($"doc_a", $"doc_b",
        floor($"jaccard" * 1e6).cast("long").as("jq"))
      .localCheckpoint() // one pair generation feeds both plans
    val labels = Dedup.clusters(d.select($"doc_id"),
      pr.select($"doc_a", $"doc_b"))
    val scores = pr.select($"doc_a".as("doc_id"), $"jq")
      .union(pr.select($"doc_b".as("doc_id"), $"jq"))
      .groupBy($"doc_id").agg(sum($"jq").as("score_q"))
    val scored = labels.join(scores, "doc_id").localCheckpoint()

    val agg = graft.queries.Pipeline.representatives(scored)
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id")
    val win = scored
      .withColumn("rk",
        row_number().over(wc.orderBy($"score_q".desc, $"doc_id")))
      .withColumn("n_members", count(lit(1)).over(wc))
      .where($"rk" === 1)
      .select($"cluster_id", $"doc_id".as("rep_id"),
        $"n_members", $"score_q".as("rep_score_q"))

    val nClusters = agg.count()
    val mismatches = agg.exceptAll(win).count() + win.exceptAll(agg).count()
    println(s"""{"metric":"rep_crosscheck","sf":"$dir",""" +
      s""""clusters":$nClusters,"mismatches":$mismatches}""")
    require(mismatches == 0L,
      s"representative argmax plans disagree: $mismatches rows")
    spark.stop()
  }
}
