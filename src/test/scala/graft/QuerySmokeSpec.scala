package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions._

import graft.sources.GraftScanMetrics
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

  private object Plans extends AdaptiveSparkPlanHelper

  /** Execute `df`, then read the scan metrics of its one scan of
    * `table` ([[scanReport]]). */
  def scanMetrics(df: DataFrame, table: String): GraftScanMetrics.Report = {
    df.collect()
    scanReport(df, table)
  }

  /** The [[GraftScanMetrics]] SQL metrics of `df`'s one scan of `table`,
    * read from its executed plan (through the AQE stages) as the last
    * execution of `df` left them; runs nothing. */
  def scanReport(df: DataFrame, table: String): GraftScanMetrics.Report = {
    val plan = df.queryExecution.executedPlan
    val scans = Plans.collect(plan) {
      case b: BatchScanExec if b.table.name() == table => b
    }
    assert(scans.length == 1,
      s"expected one scan of $table, found ${scans.length}:\n$plan")
    val v = scans.head.metrics.map { case (k, m) => k -> m.value }
    GraftScanMetrics.Report(v("totalPartitions").toInt,
      v("keptPartitions").toInt, v("runtimeEmptied").toInt,
      v("filesTotal").toInt, v("filesRead").toInt, v("bytesTotal"),
      v("bytesRead"))
  }

  /** Run `body` and return the QueryExecution of every query and command
    * it ran, in order, as a QueryExecutionListener receives them. The
    * listener bus delivers asynchronously, so a marker query runs last
    * and the wait (at most 10 s) ends when its event arrives. */
  def commandPlans(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = { seen.add(qe); () }
    }
    val marker = spark.range(1)
    spark.listenerManager.register(listener)
    try {
      body
      marker.collect()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.asScala.exists(_ eq marker.queryExecution) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_ eq marker.queryExecution),
        "query events not delivered within 10 s")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filterNot(_ eq marker.queryExecution)
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
