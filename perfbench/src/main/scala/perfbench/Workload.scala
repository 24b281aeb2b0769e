package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.control.NonFatal

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, fixture: String,
    oracleFixture: String, work: String, benchDir: String, seed: Long, tracer: Tracer, counters: SparkCounters,
    plans: PlanListener, corrupt: Boolean) {
  def drain(): Unit = org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
}

/** Samples of one measured loop. `main` and `side` hold the wall
  * seconds of the workload's two operation kinds; a thrown operation is
  * counted in `failed` and `failures` and never enters a sample list. */
final class Measured {
  val main = mutable.ArrayBuffer.empty[Double]
  val side = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var completed = 0
  /** Operations completed inside the measured loop, over `wallS`. */
  var loopCompleted = 0
  var wallS = 0.0

  def failed: Int = failures.size

  /** Runs one operation; returns its wall seconds, or None if it threw. */
  def attempt(kind: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      completed += 1
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case NonFatal(e) =>
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  def toJson: Map[String, Any] = Map(
    "main_s" -> main.toList, "side_s" -> side.toList,
    "attempted" -> attempted, "completed" -> completed,
    "loop_completed" -> loopCompleted, "failed" -> failed,
    "failures" -> failures.toList, "wall_s" -> wallS)
}

final case class Check(ok: Boolean, detail: String)

trait Workload {
  /** Untimed: fixtures and warm-up, so JIT, codegen and footer caches
    * are filled before the first timed operation. */
  def setup(): Unit
  /** Runs operations for about `seconds` (see [[Workload.loop]]). */
  def measure(seconds: Double, traced: Boolean): Measured
  /** Untimed output check, once per run. */
  def check(): Check
  /** Per-layer metrics of this workload's layers, from the traced loop. */
  def layerMetrics(traced: Measured): Map[String, Double]
  /** Numbers the end-to-end metrics need besides the samples. */
  def extra: Map[String, Any] = Map.empty

  /** Wall seconds of each warm-up step, kept for the result file. */
  val warmS = mutable.ArrayBuffer.empty[Double]
  protected def warm(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    warmS += (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  /** Runs `step` while the next step is expected to end within
    * `seconds`, judged by the previous step's wall time; the first step
    * always runs. Steps of a few seconds therefore never overrun the
    * window by a whole step. */
  def loop(seconds: Double)(step: Measured => Unit): Measured = {
    val m = new Measured
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var last = 0.0
    while (elapsed + last <= seconds) {
      val s0 = elapsed
      step(m)
      last = elapsed - s0
    }
    m.wallS = elapsed
    m.loopCompleted = m.completed
    m
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  def treeBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var n = 0L
        s.filter(f => java.nio.file.Files.isRegularFile(f))
          .forEach(f => n += java.nio.file.Files.size(f))
        n
      } finally s.close()
    }
  }
}

object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
}

/** The migration job both keyed-table workloads use (`job_star.json`),
  * and its expected target, evaluated with plain Spark straight from the
  * fixture: the spec's filters, join graph and projection, without the
  * engine's staging, sink or keyed-table read path. */
object Expected {
  def jobSpec(benchDir: String): graft.pipeline.JobSpec =
    graft.pipeline.JobSpec.fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$benchDir/job_star.json")), "UTF-8"))

  def star(spark: SparkSession, t: graft.pipeline.TableSpec,
      fixture: String): DataFrame = {
    val frames = t.sources.map { s =>
      val d = spark.read.parquet(s"$fixture/${s.name}.parquet")
      s.name -> s.filter.fold(d)(f => d.where(f)).alias(s.name)
    }.toMap
    t.joins.foldLeft(frames(t.root)) { (acc, j) =>
      acc.join(frames(j.rightTable), col(j.leftCol) === col(j.rightCol), j.joinType)
    }.selectExpr(t.transformedColumns: _*)
  }

  /** Order-insensitive fingerprint: column names and types, row count
    * and the sum of per-row 64-bit hashes. */
  def fingerprint(df: DataFrame): (String, Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted
    val schema = cols.map(c => s"$c:${df.schema(c).dataType.simpleString}").mkString(",")
    val r = df.select(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (schema, r.getLong(0), r.getDecimal(1))
  }
}
