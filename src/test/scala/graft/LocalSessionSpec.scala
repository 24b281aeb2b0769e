package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_SQLCONF parser shared by the Bench and Verify mains. */
class LocalSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SQLCONF parses key=value segments, trimmed, in order") {
    assert(LocalSession.parseSqlConf(
      " spark.sql.adaptive.enabled = false ,spark.sql.shuffle.partitions=7") ===
      Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "7"))
    // only the first '=' splits: values may contain '='
    assert(LocalSession.parseSqlConf("k=a=b") === Seq("k" -> "a=b"))
    // blank segments (trailing or doubled commas) are not errors
    assert(LocalSession.parseSqlConf("k=v,, ,") === Seq("k" -> "v"))
    assert(LocalSession.parseSqlConf("") === Nil)
  }

  test("SPARK_GRAFT_SQLCONF fails on a malformed segment instead of dropping it") {
    Seq("spark.sql.codegen.wholeStage", "k=v,oops", "=v").foreach { spec =>
      val e = intercept[IllegalArgumentException](LocalSession.parseSqlConf(spec))
      assert(e.getMessage.contains("is not key=value"), spec)
    }
  }
}
