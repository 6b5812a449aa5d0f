package cdcbench

import graft.SparkEntry
import graft.queries.{GateKeys, JsonDoc, Pipeline, Relational}

/** `catalog`: a fixed twelfth of the `SparkEntry.queries` entries (every
  * twelfth in registration order, so each family keeps its share), without
  * the live streaming gates (the three CDC workloads run that machinery
  * live), as a closed loop with one client. Each entry is built, planned
  * and executed as its row count — the same `count()` the repository's
  * sweep uses — once untimed, then in two timed passes in seed-permuted
  * orders; its time is the mean of the two. The counts go out for
  * checking against DuckDB. A whole cold sweep runs about 75 s on a
  * 4-core box, more than one run can spend, hence the twelfth. */
object Catalog {
  private lazy val familyOf: Map[String, String] =
    (Relational.entries.map(_.name -> "Relational") ++
      JsonDoc.entries.map(_.name -> "JsonDoc") ++
      Pipeline.entries.map(_.name -> "Pipeline")).toMap

  def names: Seq[String] =
    SparkEntry.catalog.map(_.name).filterNot(GateKeys.byQuery.contains)
      .zipWithIndex.collect { case (n, i) if i % 12 == 0 => n }

  final case class Run(name: String, build: Double, plan: Double, exec: Double, rows: Long) {
    def wall: Double = build + plan + exec
  }

  /** Run every entry once; a failing entry has rows = -1. */
  private def sweep(ctx: Ctx, dir: String, order: Seq[String]): Seq[Run] = {
    val fns = SparkEntry.queries
    order.map { name =>
      ctx.tagged(name) {
        val t0 = System.nanoTime()
        try {
          val df = ctx.tracer.span("queries.build") { fns(name)(ctx.spark, dir) }
          val t1 = System.nanoTime()
          val counted = df.groupBy().count()
          ctx.tracer.span("queries.plan") { counted.queryExecution.executedPlan }
          val t2 = System.nanoTime()
          val rows = ctx.tracer.span("queries.exec") { counted.collect().head.getLong(0) }
          val t3 = System.nanoTime()
          Run(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows)
        } catch {
          case e: Exception =>
            System.err.println(s"[cdcbench] $name failed: ${e.toString.take(300)}")
            Run(name, (System.nanoTime() - t0) / 1e9, 0, 0, -1L)
        }
      }
    }
  }

  def run(ctx: Ctx, dir: String, markReady: () => Unit): Outcome = {
    val rnd = new scala.util.Random(ctx.seed)
    // warm-up (untimed): every measured entry once, in its own order, so
    // the timed pass sees built artifacts and generated code — the
    // resident engine's steady state; the cold pass lands in setup_s
    sweep(ctx, dir, rnd.shuffle(names))
    markReady()
    val passes = Seq.fill(2)(sweep(ctx, dir, rnd.shuffle(names)).map(r => r.name -> r).toMap)
    val runs = names.map { n =>
      val rs = passes.map(_(n))
      Run(n, rs.map(_.build).sum / 2, rs.map(_.plan).sum / 2, rs.map(_.exec).sum / 2,
        if (rs.map(_.rows).distinct.size == 1) rs.head.rows else -1L)
    }
    var layers = Map.empty[String, Double]
    if (ctx.traceRun) {
      Streams.resetCounters(ctx)
      ctx.tracer.enabled = true
      val traced = try sweep(ctx, dir, rnd.shuffle(names)) finally ctx.tracer.enabled = false
      ctx.drain()
      layers = Streams.sparkLayers(ctx) ++ Families.all.flatMap { f =>
        val rs = traced.filter(r => familyOf(r.name) == f)
        val accs = rs.map(r => ctx.sparkCounters.acc(r.name))
        Seq(
          s"queries.$f.wall_s" -> rs.map(_.wall).sum,
          s"queries.$f.build_s" -> rs.map(_.build).sum,
          s"queries.$f.plan_s" -> rs.map(_.plan).sum,
          s"queries.$f.exec_s" -> rs.map(_.exec).sum,
          s"queries.$f.stages" -> accs.map(_.stages.get).sum.toDouble,
          s"queries.$f.tasks" -> accs.map(_.tasks.get).sum.toDouble,
          s"queries.$f.shuffle_bytes" -> accs.map(_.shuffleBytes.get).sum.toDouble,
          s"queries.$f.spill_bytes" -> accs.map(_.spillBytes.get).sum.toDouble,
          s"queries.$f.max_task_ms" -> (0L +: accs.map(_.maxTaskMs.get)).max.toDouble)
      }.toMap ++ Map(
        "trace.overhead_frac" -> (traced.map(_.wall).sum / runs.map(_.wall).sum - 1))
    }
    val walls = runs.map(_.wall * 1000)
    val famWall = Families.all.map { f =>
      f -> runs.filter(r => familyOf(r.name) == f).map(_.wall).sum }
    Outcome(
      attempted = runs.size.toLong,
      failed = runs.count(_.rows < 0).toLong,
      endToEnd = Map(
        "throughput_per_s" -> runs.size / runs.map(_.wall).sum,
        "latency_p50_ms" -> Stats.pct(walls, 50),
        "latency_p90_ms" -> Stats.pct(walls, 90)),
      layers = layers,
      notes = Map("catalog_s" -> f"${runs.map(_.wall).sum}%.3f",
        "slowest" -> runs.sortBy(-_.wall).take(40).map(r => f"${r.name}:${r.wall}%.2f").mkString(" ")) ++
        famWall.map { case (f, s) => s"catalog_${f.toLowerCase}_s" -> f"$s%.3f" },
      counts = runs.map(r => r.name -> r.rows).toMap,
      oracle = SparkEntry.oracleSql.filter { case (k, _) => familyOf.contains(k) && names.contains(k) })
  }
}
