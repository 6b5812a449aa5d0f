package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Independent-algorithm cross-validation of the connected-components
  * cluster assignment at ANY scale factor: the p16 pipeline's pairs are
  * clustered by BOTH implementations — iterative min-label
  * pointer-jumping ([[Dedup.clusters]]) and alternating
  * large-star/small-star contraction ([[Dedup.clustersStar]]) — and the
  * label vectors compared row-for-row.
  *
  * Exists because the p16 DuckDB oracle (recursive-CTE transitive
  * closure) stops being runnable around sf1 (>45 min where the engine
  * takes seconds): past that point this two-algorithm agreement check,
  * plus the oracle gate at sf0.01/sf0.1, is the correctness evidence.
  *
  * Usage: runMain graft.ClusterCrossCheck <sfDir>
  */
object ClusterCrossCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.session()
    import spark.implicits._

    val d = Tables.load(spark, dir, "documents")
    val pairs = Dedup.simhashPairs(d, "doc_id", "text",
      maxHamming = 8, chunks = 4).select($"doc_a", $"doc_b")
      .localCheckpoint() // one pair generation feeds both algorithms
    val nPairs = pairs.count()

    val a = Dedup.clusters(d.select($"doc_id"), pairs)
      .withColumnRenamed("cluster_id", "cid_jump")
    val b = Dedup.clustersStar(d.select($"doc_id"), pairs)
      .withColumnRenamed("cluster_id", "cid_star")
    val joined = a.join(b, "doc_id")
    val total = joined.count()
    val mismatches = joined.filter($"cid_jump" =!= $"cid_star").count()
    val nClusters = a.select("cid_jump").distinct().count()
    val nonSingleton = a.groupBy("cid_jump").count()
      .filter($"count" > 1).count()

    println(s"""{"docs":$total,"pairs":$nPairs,"clusters":$nClusters,""" +
      s""""multi_doc_clusters":$nonSingleton,"mismatches":$mismatches}""")
    spark.stop()
    if (mismatches != 0L || total == 0L) sys.exit(1)
  }
}
