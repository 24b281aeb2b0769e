package perfbench

import graft.{Catalog, QueryDef}
import org.apache.spark.sql.execution.SQLExecution

import scala.collection.mutable

/** `analytics`: the 9 `Catalog.headline` queries (the query set of
  * `graft.Bench`), each materialized through the `noop` sink, with the
  * SQL cache and `FrameCache` cleared between queries. The seed fixes
  * the query order. Main operation: one pass over the 9 queries. Side
  * operation: one pass that only constructs and plans each query, the
  * latency before the first row (construction-time jobs included).
  *
  * The first warm-up pass runs on the oracle fixture (`oracleFixture`,
  * the scale at which the catalog's DuckDB oracles are defined) and writes
  * every result as Parquet; run.py compares each with its DuckDB oracle.
  * At the benchmark scale one oracle alone (the n-gram Jaccard self-join)
  * takes DuckDB minutes. */
final class Analytics(ctx: Ctx) extends Workload {
  import ctx._

  /** A plan pass takes about half a second: one sample would be mostly
    * noise. */
  private val PlanPasses = 3

  private val queries: Seq[QueryDef] = {
    val r = new scala.util.Random(seed)
    r.shuffle(Catalog.headline.sortBy(_.name))
  }
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var tracedPasses = 0
  val outDir = s"$work/analytics_out"

  private def clear(): Unit = {
    spark.catalog.clearCache()
    graft.ops.FrameCache.clear(spark)
  }

  private def runNoop(q: QueryDef): Unit =
    q.fn(spark, fixture).write.mode("overwrite").format("noop").save()

  /** One query split into construction, planning and execution, each in
    * its own job group. Execution runs the planned physical plan once
    * and drops its rows, as the noop sink does. */
  private def runTraced(q: QueryDef): Unit = {
    val sc = spark.sparkContext
    try {
      sc.setJobGroup(s"${q.name}.construct", q.name, interruptOnCancel = false)
      val df = tracer.span(s"${q.name}.construct")(q.fn(spark, fixture))
      sc.setJobGroup(s"${q.name}.plan", q.name, interruptOnCancel = false)
      val qe = df.queryExecution
      tracer.span(s"${q.name}.plan")(qe.executedPlan)
      sc.setJobGroup(s"${q.name}.exec", q.name, interruptOnCancel = false)
      tracer.span(s"${q.name}.exec")(SQLExecution.withNewExecutionId(qe, Some("noop")) {
        qe.executedPlan.execute().foreach(_ => ())
      })
    } finally sc.clearJobGroup()
  }

  /** Untimed warm-up: the oracle-fixture export, which loads the classes
    * and fills the codegen cache for less than a full pass costs. */
  def setup(): Unit = warm(queries.foreach { q =>
    val df = q.fn(spark, oracleFixture)
    // deliberately wrong output: one row duplicated
    val out = if (corrupt && q == queries.head) df.union(df.limit(1)) else df
    out.write.mode("overwrite").parquet(s"$outDir/${q.name}")
    clear()
  })

  def measure(seconds: Double, traced: Boolean): Measured = {
    val m = Workload.loop(seconds) { m =>
      val times = queries.flatMap { q =>
        val t = m.attempt(q.name) {
          tracer.op(q.name)(if (traced) runTraced(q) else runNoop(q))
        }
        clear()
        if (!traced)
          t.foreach(perQuery.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += _)
        t
      }
      if (times.size == queries.size) m.main += times.sum
      if (traced) tracedPasses += 1
    }
    if (!traced) planPass(m)
    m
  }

  /** The side operation, `PlanPasses` times per untraced loop: construct
    * and plan every query, execute none. */
  private def planPass(m: Measured): Unit = (1 to PlanPasses).foreach { _ =>
    val times = queries.flatMap { q =>
      val t = m.attempt(s"${q.name} (plan)")(q.fn(spark, fixture).queryExecution.executedPlan)
      clear()
      t
    }
    if (times.size == queries.size) m.side += times.sum
  }

  /** The oracle comparison itself runs in run.py (DuckDB); this writes
    * its input and checks that every query exported. */
  def check(): Check = {
    val oracles = queries.map(q => q.name -> q.oracle.getOrElse(""))
    Json.mapper.writeValue(new java.io.File(s"$outDir/oracle_sql.json"), oracles.toMap)
    val missing = queries.filterNot(q =>
      new java.io.File(s"$outDir/${q.name}/_SUCCESS").exists()).map(_.name)
    val noOracle = oracles.filter(_._2.isEmpty).map(_._1)
    Check(missing.isEmpty && noOracle.isEmpty,
      s"exported ${queries.size - missing.size}/${queries.size}; " +
        s"missing ${missing.mkString(",")}; without oracle ${noOracle.mkString(",")}")
  }

  override def extra: Map[String, Any] = Map(
    "query_order" -> queries.map(_.name),
    "per_query_median_s" -> perQuery.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
    "oracle_dir" -> outDir)

  def layerMetrics(traced: Measured): Map[String, Double] = {
    val passes = tracedPasses.max(1).toDouble
    queries.flatMap { q =>
      def med(phase: String) = Stats.median(tracer.named(s"${q.name}.$phase").map(_.seconds))
      val c = counters.groupSnapshot(s"${q.name}.construct")
      val p = counters.groupSnapshot(s"${q.name}.plan")
      val e = counters.groupSnapshot(s"${q.name}.exec")
      val all = Seq(c, p, e)
      Seq(
        s"${q.name}.construct_s" -> med("construct"),
        s"${q.name}.plan_s" -> med("plan"),
        s"${q.name}.exec_s" -> med("exec"),
        s"${q.name}.construct_jobs" -> c.jobs / passes,
        s"${q.name}.exec_jobs" -> e.jobs / passes,
        s"${q.name}.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / passes,
        s"${q.name}.shuffle_mb" -> all.map(_.shuffleWriteBytes).sum / 1e6 / passes,
        s"${q.name}.gc_s" -> all.map(_.gcMs).sum / 1e3 / passes)
    }.toMap
  }
}
