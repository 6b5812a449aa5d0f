package cdcbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   cdcbench.Main --workload sync|tail|roundtrip|catalog --seed N
  *                 --seconds S --trace 0|1 --root DIR [--data DIR]
  *
  * `--root` is the run's private scratch directory (stores, checkpoints,
  * Spark local dirs); `--data` holds the catalog tables. Writes
  * `<root>/result.json` for `run.py`, which checks it and prints the
  * benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val root = Paths.get(opt("root"))
    val traceRun = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"cdcbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.sql.streaming.noDataProgressEventInterval", "600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    val progress = new ProgressLog
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, root,
      traceRun, new Tracer, counters, progress)

    var setupS = Double.NaN
    val markReady = () => {
      setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    }
    val out = workload match {
      case "sync" => Workloads.sync(ctx, markReady)
      case "tail" => Workloads.tail(ctx, markReady)
      case "roundtrip" => Workloads.roundtrip(ctx, markReady)
      case "catalog" => Catalog.run(ctx, opt("data"), markReady)
      case w => sys.error(s"unknown workload $w")
    }
    ctx.tracer.write(root.resolve("spans.jsonl"))
    spark.stop()

    val rssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
    val m = new ObjectMapper()
    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("attempted", out.attempted)
    res.put("failed", out.failed)
    res.put("setup_s", setupS)
    res.put("max_rss_mb", rssKb / 1024)
    res.put("end_to_end", out.endToEnd.asJava)
    res.put("per_layer", new java.util.TreeMap[String, Double](out.layers.asJava))
    res.put("notes", new java.util.TreeMap[String, String](
      (out.notes + ("session_ready_s" -> f"$sessionS%.2f")).asJava))
    res.put("counts", new java.util.TreeMap[String, Long](out.counts.asJava))
    res.put("oracle", new java.util.TreeMap[String, String](out.oracle.asJava))
    Files.writeString(root.resolve("result.json"), m.writeValueAsString(res))
  }
}
