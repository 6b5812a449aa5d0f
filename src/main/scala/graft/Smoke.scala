package graft

/** Local smoke: the driver's entry check (rows>0 at sf0.001). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    val n = SparkEntry.entry(spark).count()
    println(s"FLAGSHIP_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
