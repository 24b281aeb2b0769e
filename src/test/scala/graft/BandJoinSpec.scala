package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The band-join optimizer rule: a naive BETWEEN join plans as a
  * nested-loop cross product; with the rule it becomes a bucketed hash
  * join with identical results. The rule is wired session-wide through
  * spark.sql.extensions; the naive baseline uses its kill switch.
  *
  * Frames are built by `def`, not `val`: a materialized QueryExecution
  * is cached per Dataset, so a pre-built frame would keep the plan of
  * whichever setting it was first planned under. */
class BandJoinSpec extends SparkSpecBase {

  private def bandJoin = {
    val p = Tables(spark, sfDir, "part")
    val li = Tables(spark, sfDir, "lineitem")
    p.join(li, li("l_extendedprice").between(
        p("p_retailprice") - 5, p("p_retailprice") + 5))
      .groupBy(p("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private def naive[T](body: => T): T = {
    spark.conf.set("spark.graft.bandjoin.enabled", "false")
    try body finally spark.conf.unset("spark.graft.bandjoin.enabled")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertRewritten(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"band join not rewritten:\n$plan")
    assert(plan.contains("__graft_bucket"), s"rewrite marker missing:\n$plan")
  }

  test("without the rule: nested-loop; with it: hash join, same result") {
    val (naivePlan, expected) =
      naive((bandJoin.queryExecution.executedPlan.toString, rows(bandJoin)))
    assert(naivePlan.contains("BroadcastNestedLoopJoin") ||
      naivePlan.contains("CartesianProduct"),
      s"expected the naive plan to be a cross product:\n$naivePlan")
    assertRewritten(bandJoin)
    assert(rows(bandJoin) === expected)
  }

  test("swapped orientation (banded column on the right child) rewrites too") {
    // here the banded variable (p_retailprice) sits on the LEFT child
    // and the band anchor (l_extendedprice) on the RIGHT — the mirror
    // of the first test's orientation
    def q = {
      val p = Tables(spark, sfDir, "part")
      val li = Tables(spark, sfDir, "lineitem")
      p.join(li, p("p_retailprice").between(
          li("l_extendedprice") - 5, li("l_extendedprice") + 5))
        .groupBy(li("l_returnflag").as("rf"))
        .agg(count(lit(1)).as("n_pairs"))
    }
    val expected = naive(rows(q))
    assertRewritten(q)
    assert(rows(q) === expected)
  }

  test("integral band (exact LONG bucketing) matches the naive join") {
    def q = {
      val o = Tables(spark, sfDir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
      val c = Tables(spark, sfDir, "customer")
        .select(col("c_custkey").as("cck"), col("c_nationkey").as("nk"))
      o.join(c, o("ck") >= c("cck") - 2 && o("ck") <= c("cck") + 3)
        .groupBy(col("nk")).agg(count(lit(1)).as("n"))
    }
    val expected = naive(rows(q))
    assert(expected.nonEmpty)
    assertRewritten(q)
    assert(rows(q) === expected)
  }

  test("null band operands produce no pairs (inner semantics)") {
    import spark.implicits._
    def q = {
      val l = Seq(Some(1.0), None, Some(10.0)).toDF("xv")
      val r = Seq(Some(1.5), None, Some(20.0)).toDF("yv")
      l.join(r, l("xv") >= r("yv") - 1 && l("xv") <= r("yv") + 1)
    }
    val expected = naive(rows(q))
    assertRewritten(q)
    val got = rows(q)
    assert(got === expected)
    assert(got.nonEmpty && !got.exists(_.contains("null")))
  }

  test("rule leaves plain equi-joins and already-bucketed joins alone") {
    val o = Tables(spark, sfDir, "orders")
    val c = Tables(spark, sfDir, "customer")
    val equi = o.join(c, o("o_custkey") === c("c_custkey"))
    assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft_bucket"))
    // hand-bucketed query from the catalog still passes through
    val handBucketed = Catalog.byName("q_range_join_bucketed").fn(spark, sfDir)
    assert(handBucketed.count() > 0)
  }

  test("q_range_join_native is rewritten and leaves the session as it found it") {
    val confBefore = spark.conf.getAll
    val rulesBefore = spark.experimental.extraOptimizations
    val strategiesBefore = spark.experimental.extraStrategies
    val df = Catalog.byName("q_range_join_native").fn(spark, sfDir)
    assert(df.collect().nonEmpty)
    assert(spark.conf.getAll === confBefore)
    assert(spark.experimental.extraOptimizations === rulesBefore)
    assert(spark.experimental.extraStrategies === strategiesBefore)
    assertRewritten(df)
  }
}
