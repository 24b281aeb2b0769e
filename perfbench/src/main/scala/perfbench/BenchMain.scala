package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one process, one result file.
  * run.py launches it, turns the result into the printed metrics and runs
  * the DuckDB half of the analytics check.
  *
  * Usage: perfbench.BenchMain --workload migrate|serve|analytics
  *   --seed N --seconds S --trace 0|1 --fixture DIR --oracle-fixture DIR
  *   --work DIR
  *   --bench-dir DIR --out FILE [--corrupt 1]
  *
  * The untraced loop always runs and gives the end-to-end samples. With
  * `--trace 1` a second, traced loop of the same length follows; it gives
  * the per-layer metrics, and the gap between the two loops' median
  * operation is the tracing overhead. */
object BenchMain {
  /** Local task threads: the 4-core box every recorded number comes from. */
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.BoundedWindow.quietPlannerWarnings()
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val plans = new PlanListener
    spark.listenerManager.register(plans)
    val tracer = new Tracer(enabled = false)
    val ctx = Ctx(spark, a("fixture"), a("oracle-fixture"), work, a("bench-dir"), a("seed").toLong,
      tracer, counters, plans, corrupt = a.get("corrupt").contains("1"))

    val wl: Workload = workload match {
      case "migrate" => new Migrate(ctx)
      case "serve" => new Serve(ctx)
      case "analytics" => new Analytics(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val untraced = wl.measure(seconds, traced = false)
    val traced = if (!trace) None else {
      ctx.drain()
      val before = counters.snapshot()
      tracer.enabled = true
      val m = wl.measure(seconds, traced = true)
      tracer.enabled = false
      ctx.drain()
      Some((m, counters.snapshot().minus(before)))
    }
    val result = collect(ctx, wl, setupS, untraced, traced) +
      ("session_s" -> sessionS) + ("warm_s" -> wl.warmS.toList) +
      ("end_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)
    spark.stop()
    Json.mapper.writeValue(new java.io.File(a("out")), result)
  }

  private def collect(ctx: Ctx, wl: Workload, setupS: Double, untraced: Measured,
      traced: Option[(Measured, SparkAcc)]): Map[String, Any] = {
    val check = try wl.check() catch {
      case scala.util.control.NonFatal(e) => Check(ok = false, s"check threw: $e")
    }
    val rt = Runtime.getRuntime
    val layer = traced.map { case (m, s) =>
      val spark = Map(
        "spark.jobs" -> s.jobs.toDouble,
        "spark.stages" -> s.stages.toDouble,
        "spark.tasks" -> s.tasks.toDouble,
        "spark.task_cpu_s" -> s.cpuNs / 1e9,
        "spark.task_run_s" -> s.runMs / 1e3,
        "spark.gc_s" -> s.gcMs / 1e3,
        "spark.shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
        "spark.spill_mb" -> s.spillBytes / 1e6,
        "spark.input_mb" -> s.inputBytes / 1e6,
        "spark.output_mb" -> s.outputBytes / 1e6,
        "spark.idle_core_share" -> (1.0 - s.runMs / 1e3 / (m.wallS * Cores)),
        "trace.overhead_s" -> (Stats.median(m.main.toSeq) - Stats.median(untraced.main.toSeq)))
      spark ++ wl.layerMetrics(m)
    }
    val tracePath = s"${ctx.work}/trace.json"
    if (traced.isDefined)
      Json.mapper.writeValue(new java.io.File(tracePath), ctx.tracer.toJson)
    Map(
      "setup_s" -> setupS,
      "untraced" -> untraced.toJson,
      "traced" -> traced.map(_._1.toJson).orNull,
      "layer" -> layer.orNull,
      "trace_file" -> (if (traced.isDefined) tracePath else null),
      "check" -> Map("ok" -> check.ok, "detail" -> check.detail),
      "extra" -> wl.extra,
      "heap_used_mb" -> (rt.totalMemory - rt.freeMemory) / 1e6,
      "heap_max_mb" -> rt.maxMemory / 1e6,
      "rss_peak_mb" -> vmHwmMb())
  }

  /** Peak resident set size of this JVM (`VmHWM`), in MB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
