package perfbench

import graft.pipeline.V2KeyedTableSink
import graft.sources.KeyedTableOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** `serve`: one closed-loop client against the migrated target. Setup
  * loads the star-join target once (about 96k live rows, same key,
  * clustering and write parallelism as `migrate`); the client then runs
  * seeded point lookups by full primary key through
  * `KeyedTableOps.latest(...).filter(...).collect()`, and every 10th
  * operation upserts a batch that re-prices existing keys through
  * `V2KeyedTableSink.append`. Main operation: the lookup; side
  * operation: the upsert. Every lookup is compared with the benchmark's
  * own key-to-row model. */
final class Serve(ctx: Ctx) extends Workload {
  import ctx._

  private val WarmOps = 20
  private val UpsertEvery = 10
  private val UpsertBatch = 20

  private val spec = Expected.jobSpec(benchDir)
  private val table = spec.tables.head
  private val sinkSpec = spec.sink.get
  private val keyCols = sinkSpec.key.get +:
    sinkSpec.clustering.map(KeyedTableOps.parseClustering).getOrElse(Seq.empty)
  private val target = s"$work/serve/target"
  private val sink = V2KeyedTableSink(sinkSpec.key.get, sinkSpec.writePartitions)
  private val rnd = new java.util.Random(seed)

  private val model = mutable.HashMap.empty[Seq[Any], Row]
  private var keys: Array[Seq[Any]] = Array.empty
  private var schema: org.apache.spark.sql.types.StructType = _
  private var priceIdx = -1
  private var opIndex = 0
  private val mismatches = mutable.ArrayBuffer.empty[String]

  /** Per traced lookup: rows returned and the scan's counters. */
  private final case class LookupInfo(rows: Int, decoded: Long, pruned: Long,
      jobs: Long, tasks: Long)
  private val lookups = mutable.ArrayBuffer.empty[LookupInfo]

  private def keyOf(r: Row): Seq[Any] = keyCols.map(c => r.get(r.fieldIndex(c)))

  def setup(): Unit = {
    KeyedTableOps.declareTable(target, sinkSpec.key.get, sinkSpec.writePartitions,
      keyCols.tail)
    val star = Expected.star(spark, table, fixture)
    warm(sink.append(star, target))
    val rows = star.collect()
    schema = star.schema
    priceIdx = schema.fieldIndex("price")
    rows.foreach(r => model(keyOf(r)) = r)
    keys = model.keys.toArray.sortBy(_.mkString("\u0000"))
    val w = new Measured
    warm((1 to WarmOps).foreach(_ => step(w, traced = false)))
    w.failures.headOption.foreach(f => throw new IllegalStateException(
      s"serve warm-up failed: $f"))
  }

  private def lookupFrame(k: Seq[Any]): DataFrame =
    KeyedTableOps.latest(spark, target).filter(
      keyCols.zip(k).map { case (c, v) => col(c) === v }.reduce(_ && _))

  private def lookup(m: Measured, traced: Boolean): Unit = {
    val k = keys(rnd.nextInt(keys.length))
    val before = if (traced) { drain(); counters.snapshot() } else null
    var got: Array[Row] = Array.empty
    m.attempt("lookup") {
      got = tracer.op("serve.lookup") {
        if (!traced) lookupFrame(k).collect()
        else {
          val df = tracer.span("ktable.lookup_build")(lookupFrame(k))
          tracer.span("ktable.lookup_plan")(df.queryExecution.executedPlan)
          tracer.span("ktable.lookup_exec")(df.collect())
        }
      }
    }.foreach { s =>
      m.main += s
      val want = model(k)
      if (got.length != 1 || got.head != want) mismatches +=
        s"key $k: got ${got.mkString(";")}, expected $want"
      if (traced) {
        drain()
        val d = counters.snapshot().minus(before)
        val (decoded, pruned) = plans.last
          .map(qe => PlanMetrics.keyedScanRows(qe.executedPlan)).getOrElse((0L, 0L))
        lookups += LookupInfo(got.length, decoded, pruned, d.jobs, d.tasks)
      }
    }
  }

  private def upsert(m: Measured): Unit = {
    val picks = Seq.fill(UpsertBatch)(keys(rnd.nextInt(keys.length))).distinct
    val rows = picks.map(k =>
      Row.fromSeq(model(k).toSeq.updated(priceIdx, rnd.nextInt(10000000) / 100.0)))
    m.attempt("upsert") {
      tracer.op("serve.upsert") {
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        tracer.span("sink.append")(sink.append(df, target))
      }
    } match {
      case Some(s) =>
        m.side += s
        picks.zip(rows).foreach { case (k, r) => model(k) = r }
      case None =>
        // the commit may or may not have landed: stop looking these up
        val dead = picks.toSet
        keys = keys.filterNot(dead)
        dead.foreach(model.remove)
    }
  }

  private def step(m: Measured, traced: Boolean): Unit = {
    opIndex += 1
    if (opIndex % UpsertEvery == 0) upsert(m) else lookup(m, traced)
  }

  /** A window too short to reach an upsert still gets one, after the
    * loop, so that every run has both kinds of sample. */
  def measure(seconds: Double, traced: Boolean): Measured = {
    val m = Workload.loop(seconds)(step(_, traced))
    if (m.side.isEmpty) upsert(m)
    m
  }

  def check(): Check = {
    if (corrupt) {
      // deliberately wrong output: an upsert the model never saw
      val k = keys.head
      val bad = Row.fromSeq(model(k).toSeq.updated(priceIdx,
        model(k).getDouble(priceIdx) + 1.0))
      sink.append(spark.createDataFrame(java.util.Arrays.asList(bad), schema), target)
    }
    val state = KeyedTableOps.latest(spark, target).collect()
    val stateOk = state.length == model.size &&
      state.forall(r => model.get(keyOf(r)).contains(r))
    Check(stateOk && mismatches.isEmpty,
      s"${lookups.size} traced lookups; ${mismatches.size} lookup mismatches " +
        s"${mismatches.take(3).mkString(" | ")}; final state ${state.length} rows " +
        s"vs model ${model.size}, equal=$stateOk")
  }

  def layerMetrics(traced: Measured): Map[String, Double] = {
    def ms(name: String) = Stats.median(tracer.named(name).map(_.seconds * 1e3))
    val n = lookups.size.max(1).toDouble
    val decoded = lookups.map(_.decoded).sum
    val commits = new java.io.File(s"$target/_commits").listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    Map(
      "ktable.lookup_build_ms" -> ms("ktable.lookup_build"),
      "ktable.lookup_plan_ms" -> ms("ktable.lookup_plan"),
      "ktable.lookup_exec_ms" -> ms("ktable.lookup_exec"),
      "ktable.decoded_rows_per_lookup" -> decoded / n,
      "ktable.block_pruned_rows_per_lookup" -> lookups.map(_.pruned).sum / n,
      "ktable.lookup_useful_ratio" ->
        (if (decoded == 0) 0.0 else lookups.map(_.rows).sum.toDouble / decoded),
      "ktable.jobs_per_lookup" -> lookups.map(_.jobs).sum / n,
      "ktable.tasks_per_lookup" -> lookups.map(_.tasks).sum / n,
      "ktable.upsert_append_ms" -> ms("sink.append"),
      "ktable.live_manifests_end" -> commits.toDouble)
  }
}
