package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session setup shared by the `Bench` and `Verify`
  * mains, the `Scratch` and `PlanAudit` probes and the test suite:
  * `local[cores]` with as many shuffle partitions, UTC session time,
  * no UI, the [[graft.functions.GraftExtensions]] rules and functions,
  * WARN logging, and the catalog's planner-warning override.
  *
  * `graft.Main` keeps its own builder: it must reuse a caller's live
  * session without pushing these runtime confs onto it. */
object LocalSession {

  def apply(cores: Int, overrides: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    overrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // every catalog window is BoundedWindow-fenced or CI-linted; the
    // per-plan warning is pure noise in these entry points (and only
    // here — the override is entry-point-scoped, see BoundedWindow)
    graft.ops.BoundedWindow.quietPlannerWarnings()
    spark
  }

  /** `SPARK_GRAFT_CPUS` cores (default 4) plus the flag-run overrides
    * in `SPARK_GRAFT_SQLCONF` (e.g. codegen-off / AQE-off sweeps). */
  def fromEnv(): SparkSession =
    apply(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4),
      sys.env.get("SPARK_GRAFT_SQLCONF").map(parseSqlConf).getOrElse(Nil))

  /** Parses `"k=v,k=v"`; blank segments are skipped, and a segment
    * without `=` or with an empty key fails rather than being dropped,
    * so a typo cannot silently run the default configuration. */
  def parseSqlConf(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_SQLCONF segment '$kv' is not key=value")
      }
    }
}
