package graft

/** Plan inspector: print the formatted physical plan and wall time for
  * one or more catalog queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [queryName ...]
  * Pass `-t` as first query name to only time (skip the plan dump).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val (timeOnly, names) =
      if (args(1) == "-t") (true, args.drop(2)) else (false, args.tail)
    val spark = SparkEntry.session()
    names.foreach { name =>
      // time builder + action together: iterative operators (p16) run
      // jobs inside the builder, and Bench measures them — so must we
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      if (!timeOnly) {
        println(s"===== $name: plan =====")
        df.explain("formatted")
      }
      val t1 = System.nanoTime()
      val n = df.count()
      val tCount = (System.nanoTime() - t1) / 1e9
      println(f"===== $name: $n rows in ${tBuild + tCount}%.2f s " +
        f"(build $tBuild%.2f + count $tCount%.2f) =====")
    }
    spark.stop()
  }
}
