package perfbench

import graft.ops.Relational
import graft.pipeline._
import graft.sources.KeyedTableOps
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** `migrate`: the reference's unit of work, one config-driven,
  * checkpointed migration job (`job_star.json`: a 4-way star join, a
  * renamed projection, 8 staged transformed files, a keyed-table sink
  * with auto-compaction) through `graft.Main.main`, each time into a
  * fresh workspace, followed by an idempotent rerun on the finished
  * workspace. Main operation: the cold job; side operation: the rerun. */
final class Migrate(ctx: Ctx) extends Workload {
  import ctx._

  /** Reruns of each finished job: a rerun takes a fraction of a second,
    * so one sample would be mostly noise. */
  private val RerunsPerJob = 5

  private val specPath = s"$benchDir/job_star.json"
  private val spec0 = Expected.jobSpec(benchDir)
  private val table = spec0.tables.head
  private val sinkSpec = spec0.sink.get
  private val key = sinkSpec.key.get
  private val clustering =
    sinkSpec.clustering.map(KeyedTableOps.parseClustering).getOrElse(Seq.empty)

  private var wsCount = 0
  private var lastWs: Option[String] = None
  private var liveRows = 0L

  private def freshWorkspace(): String = {
    wsCount += 1
    s"$work/migrate/ws$wsCount"
  }
  private def targetOf(ws: String) = spec0.copy(workspace = ws).targetDir(table.targetTable)

  private def runMain(ws: String): Unit = graft.Main.main(Array(specPath, ws, fixture))

  /** Per traced job: what the spans cannot say. */
  private final case class JobInfo(op: Long, rerunOp: Long, rowsTransformed: Long,
      compacted: Boolean, raw: Long, transformed: Long, target: Long)
  private val jobs = mutable.ArrayBuffer.empty[JobInfo]
  private var compacted = false

  /** `graft.Main`'s keyed-table wiring, rebuilt here so that each
    * Pipeline hook and each sink call can be timed. */
  private def runTraced(ws: String): Pipeline = {
    val spec = spec0.copy(workspace = ws)
    val inner = V2KeyedTableSink(key, sinkSpec.writePartitions)
    val sink = new AppendSink {
      def append(df: DataFrame, target: String): Unit =
        tracer.span("sink.append")(inner.append(df, target))
      override def append(df: DataFrame, target: String, file: String): Unit =
        tracer.span("sink.append:" + file)(inner.append(df, target, file))
    }
    val source: SourceSpec => DataFrame = s =>
      tracer.span("pipeline.source")(
        Relational.scanParquet(spark, s"$fixture/${s.name}.parquet"))
    val prepare: TableSpec => Unit = t => tracer.span("pipeline.prepareTarget")(
      KeyedTableOps.declareTable(spec.targetDir(t.targetTable), key,
        sinkSpec.writePartitions, clustering))
    val finish: TableSpec => Unit = t => tracer.span("pipeline.finishTarget") {
      compacted = sinkSpec.autoCompact &&
        KeyedTableOps.maybeCompact(spark, spec.targetDir(t.targetTable)).isDefined
    }
    val p = new Pipeline(spark, spec, source, sink,
      prepareTarget = prepare, finishTarget = finish)
    tracer.span("pipeline.runAll")(p.runAll())
    p
  }

  /** Untimed warm-up: one job and its rerun on the small oracle fixture,
    * which loads the classes and fills the codegen cache for less than a
    * full job costs. */
  def setup(): Unit = {
    val ws = freshWorkspace()
    warm(graft.Main.main(Array(specPath, ws, oracleFixture)))
    warm(graft.Main.main(Array(specPath, ws, oracleFixture)))
    Workload.deleteTree(ws)
  }

  def measure(seconds: Double, traced: Boolean): Measured = Workload.loop(seconds) { m =>
    val ws = freshWorkspace()
    var rows = 0L
    val job = m.attempt("job") {
      tracer.op("migrate.job") {
        if (traced) rows = runTraced(ws).stageCounts
          .getOrElse(s"${table.targetTable}/transform", 0L)
        else runMain(ws)
      }
    }
    job.foreach(m.main += _)
    val jobCompacted = compacted
    if (job.isDefined) (1 to RerunsPerJob).foreach { _ =>
      m.attempt("rerun") {
        tracer.op("migrate.rerun") {
          if (traced) runTraced(ws) else runMain(ws)
        }
      }.foreach(m.side += _)
    }
    if (traced && job.isDefined) jobs += JobInfo(
      tracer.named("migrate.job").last.op, tracer.named("migrate.rerun").last.op,
      rows, jobCompacted, Workload.treeBytes(s"$ws/raw"),
      Workload.treeBytes(s"$ws/transformed"), Workload.treeBytes(s"$ws/target"))
    lastWs.foreach(Workload.deleteTree)
    lastWs = Some(ws)
  }

  def check(): Check = lastWs match {
    case None => Check(ok = false, "no migration job completed")
    case Some(ws) =>
      val target = targetOf(ws)
      val got0 = KeyedTableOps.latest(spark, target)
      if (corrupt) {
        // deliberately wrong output: re-price one live row
        val r = got0.limit(1).collect().head
        val i = r.fieldIndex("price")
        val bad = Row.fromSeq(r.toSeq.updated(i, r.getDouble(i) + 1.0))
        V2KeyedTableSink(key, sinkSpec.writePartitions).append(
          spark.createDataFrame(java.util.Arrays.asList(bad), got0.schema), target)
      }
      val got = Expected.fingerprint(KeyedTableOps.latest(spark, target))
      val want = Expected.fingerprint(Expected.star(spark, table, fixture))
      liveRows = want._2
      Check(got == want, s"target (schema, rows, hash) $got; expected $want")
  }

  override def extra: Map[String, Any] = Map("live_rows" -> liveRows)

  def layerMetrics(traced: Measured): Map[String, Double] = {
    def spansOf(op: Long) = tracer.opSpans(op)
    def dur(op: Long, name: String) =
      spansOf(op).filter(_.name == name).map(_.seconds).sum
    def appends(op: Long) = spansOf(op).filter(_.name.startsWith("sink.append"))
    val per = jobs.toList.map { j =>
      val s = spansOf(j.op)
      val prep = s.find(_.name == "pipeline.prepareTarget").get
      val fin = s.find(_.name == "pipeline.finishTarget").get
      val firstAppend = appends(j.op).map(_.startNs).minOption.getOrElse(fin.startNs)
      val stage = (firstAppend - prep.startNs) / 1e9
      val load = (fin.startNs - firstAppend) / 1e9
      val append = appends(j.op).map(_.seconds).sum
      val rr = spansOf(j.rerunOp)
      val rerunProbe = (for {
        run <- rr.find(_.name == "pipeline.runAll")
        f <- rr.find(_.name == "pipeline.finishTarget")
      } yield (f.startNs - run.startNs) / 1e9).getOrElse(Double.NaN)
      Map(
        "pipeline.stage_s" -> stage,
        "pipeline.load_s" -> load,
        "sink.append_s" -> append,
        "sink.append_calls" -> appends(j.op).size.toDouble,
        "sink.files" -> appends(j.op).map(_.name).distinct.size.toDouble,
        "pipeline.checkpoint_s" -> (load - append),
        "ktable.compact_s" -> dur(j.op, "pipeline.finishTarget"),
        "ktable.compacted" -> (if (j.compacted) 1.0 else 0.0),
        "ws.bytes_raw" -> j.raw.toDouble,
        "ws.bytes_transformed" -> j.transformed.toDouble,
        "ws.bytes_target" -> j.target.toDouble,
        "ws.write_amp" -> (j.raw + j.transformed + j.target).toDouble / j.target,
        "pipeline.rows_transformed" -> j.rowsTransformed.toDouble,
        "rerun.probe_s" -> rerunProbe)
    }
    if (per.isEmpty) Map.empty
    else per.head.keys.map(k => k -> Stats.median(per.map(_(k)))).toMap
  }
}
