package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — local[4] mirrors the driver harness. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Regime-equivalence template for the [[Gate]]d local solves: runs
    * `body` as gated, then again with every gate forced distributed, and
    * asserts equal results. The forced run must also have overridden a
    * gate that would otherwise have gone local — else both runs took the
    * distributed path and the comparison proved nothing. Returns the
    * gated result. */
  def regimesAgree[A](what: String)(body: => A): A = {
    val gated = body
    val before = Gate.overrides.get
    val forced = Gate.distributed(body)
    assert(Gate.overrides.get > before,
      s"$what: no gate went local, so the regimes were never compared")
    assert(gated == forced, s"$what regimes disagree:\n$gated\nvs\n$forced")
    gated
  }
}

/** Every declared query must construct, execute and not throw at sf0.001.
  * (Value-level correctness is the DuckDB preflight's job —
  * tools/preflight.py; these tests guard the Bench/Verify contract that no
  * query ever throws.) */
class QuerySmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has either an oracle or a documented omission") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name executes at sf0.001") {
      val n = fn(spark, sf).count()
      assert(n >= 0)
    }
  }
}
