package graft

import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A registered query: (session, scale-factor dir) => lazy DataFrame.
  * Contract: no eager work at construction (no actions, no lingering
  * .cache) — graft.Bench times the terminal .count() and graft.Verify
  * writes the result once (SURVEY.md §3 EP2/EP3). Sanctioned carve-outs,
  * each amortized or bounded and documented at the call site:
  *  - sink_* queries write eagerly — the write IS the operator under test;
  *  - Fixtures side files / bucketed tables are one-time, fingerprinted
  *    staging shared across queries (their cost lands on the first query
  *    that needs them — noted in BASELINE.md);
  *  - model fits (sim_ivf_topk k-means on a bounded sample) and iterative
  *    fixpoints (GraphOps connected components, localCheckpoint'ed
  *    keep-list) are inherently driver-stepped algorithms; neither leaves
  *    a corpus-sized cache behind.
  */
object Q { type Fn = (SparkSession, String) => DataFrame }

/** One module per operator family (SURVEY.md §2). SparkEntry merges them. */
trait QueryModule {
  /** query-id -> query fn. Ids are the scoreboard identifiers — stable. */
  def queries: Map[String, Q.Fn]
  /** query-id -> equivalent DuckDB SQL over bare table names
    * (`lineitem`, `orders`, ...). Omit ids that are not SQL-expressible —
    * the driver then records a weaker rows-only check. */
  def oracles: Map[String, String]
}

/** An eager local checkpoint of a frame with aggregates observed on the
  * job that writes it (`Dataset.observe`): a count or a diagnostic over
  * a frame the code snapshots anyway costs no job of its own. */
private[graft] object Snapshot {
  /** Bound on the wait for the observed row. The writing job has ended
    * when the checkpoint returns; only the listener bus that delivers
    * the row is still in flight, so the bound is never reached unless
    * the observation was lost. */
  private val ObservedWait = 60.seconds

  /** `frame`, checkpointed eagerly, and the row of `metrics` over it. */
  def observed(frame: DataFrame, metric: Column,
      metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val snap = frame.observe(obs, metric, metrics: _*).localCheckpoint()
    (snap, awaitRow(obs))
  }

  private[graft] def awaitRow(obs: Observation,
      bound: FiniteDuration = ObservedWait): Row = {
    val row = try Await.result(obs.future, bound)
      catch { case e: TimeoutException =>
        throw new IllegalStateException(s"observation ${obs.name} " +
          s"was not delivered within $bound", e)
      }
    require(row.length > 0,
      s"observation ${obs.name} completed without its metrics")
    row
  }
}

/** Size gate for the local solves (connected components, graph_bfs, MMR
  * rerank, BPE fit) and the store's driver-side resolutions (change-feed
  * pre-images, exact scan ndv). Each site has an exact single-task or
  * driver-side solve and a distributed twin with identical results, and
  * picks one from a size it knows without a job: [[snapshot]] observes
  * the row count of a frame on the job that writes its checkpoint, and
  * [[decide]] takes a count the caller already holds (a manifest's, or
  * MMR's bounded fetch of its queries). At
  * `rows × weight ≤ budget` the local solve runs, above it the
  * distributed path — the one that scales to any input — runs
  * unchanged. Budgets are per-site constants sized to what one task or
  * the driver holds comfortably; no conf changes them. Every decision
  * is logged once at INFO under `graft.Gate`. */
private[graft] object Gate {
  final case class Decision(rows: Long, local: Boolean)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Gate")
  private val forced = new scala.util.DynamicVariable(false)
  /** gates that [[distributed]] turned from local to distributed */
  private[graft] val overrides = new java.util.concurrent.atomic.AtomicLong

  /** `frame` checkpointed eagerly, and the gate's decision on its row
    * count. */
  def snapshot(site: String, frame: DataFrame, budget: Long,
      weight: Long = 1L): (DataFrame, Decision) = {
    val (snap, m) = Snapshot.observed(frame, count(lit(1)).as("rows"))
    (snap, decide(site, m.getLong(0), budget, weight))
  }

  /** the gate's decision on `rows` the caller already counted */
  def decide(site: String, rows: Long, budget: Long,
      weight: Long = 1L): Decision = {
    // rows·w ≤ budget without the overflow of the product
    val fits = rows <= budget / math.max(weight, 1L)
    val local = fits && !forced.value
    if (fits && !local) overrides.incrementAndGet()
    if (log.isInfoEnabled)
      log.info(s"$site: ${if (local) "local" else "distributed"} ($rows " +
        s"rows × $weight vs budget $budget" +
        s"${if (fits && !local) ", forced" else ""})")
    Decision(rows, local)
  }

  /** Test hook: every gate evaluated inside `body` (on this thread) takes
    * its distributed branch. */
  private[graft] def distributed[A](body: => A): A =
    forced.withValue(true)(body)
}

/** The local session the dev mains (Bench, Verify, RunOne) run in:
  * `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
  * partitions, UTC session time, no UI, WARN logging, and a
  * generated-class cache of [[CodegenCacheEntries]] instead of Spark's
  * 100 (README, "Deployment: the generated-code cache"). */
private[graft] object LocalSession {
  /** a static conf: it takes effect only in the JVM's first session */
  val CodegenCacheEntries = 1000

  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** What a capped candidate path dropped — the shingle maxDf cap
  * (`TextOps.prunePostings`) and the LSH bucket budget
  * (`VectorOps.cappedMembers`) — logged at WARN under `graft.Drops`,
  * so no cap drops recall silently. Both counts are exact: each site
  * observes them on the job that writes its ranked checkpoint. */
private[graft] object Drops {
  /** `groups` posting lists or buckets past the cap, holding `rows`
    * dropped or sampled-away member rows */
  final case class Drop(tag: String, groups: Long, rows: Long)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Drops")
  private val recording =
    new scala.util.DynamicVariable[Option[ArrayBuffer[Drop]]](None)

  /** Log a nonzero drop, described by `what`. */
  def apply(d: Drop, what: String): Unit =
    if (d.groups > 0) {
      recording.value.foreach(_ += d)
      log.warn(s"[graft] ${d.tag}: $what")
    }

  /** Test hook: `body`'s result and the drops it reported on this
    * thread. */
  private[graft] def recorded[A](body: => A): (A, Seq[Drop]) = {
    val buf = ArrayBuffer.empty[Drop]
    val a = recording.withValue(Some(buf))(body)
    (a, buf.toSeq)
  }
}

/** The one memo for values computed once per session and reused by later
  * query builds: resolved relations, model fits, generated oracle SQL,
  * sibling sessions. Keys are (session, kind, key), `kind` naming the
  * call site. Values are plans, driver-side fits, SQL text or sessions —
  * never cached rows.
  *
  * Lifetime: entries live until their session's SparkContext ends; one
  * [[SparkListener]] per context drops them all on `onApplicationEnd`.
  *
  * Path keying: a key naming a data directory names it by PATH, not by
  * content. Rewriting files under an already-memoized directory while
  * the context runs serves the old value (a stale listing or fit), so
  * data is regenerated only between contexts and tests use fresh temp
  * dirs.
  *
  * Computes may be re-entrant (a model fit resolves its input through
  * the relation memo): the map only installs a lazy cell, which computes
  * outside the map's locks, so lookups stay O(1) and nested lookups never
  * hit `computeIfAbsent`'s recursive-update check. A compute that throws
  * leaves its cell empty and the next lookup retries. */
object SessionMemo {
  private final class Cell(compute: => Any) { lazy val value: Any = compute }

  private final class Scope(sc: SparkContext) extends SparkListener {
    val cells = new ConcurrentHashMap[(SparkSession, String, Any), Cell]()
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      scopes.remove(sc, this)
  }
  private val scopes = new ConcurrentHashMap[SparkContext, Scope]()

  def apply[V](spark: SparkSession, kind: String, key: Any)(compute: => V): V = {
    val scope = scopes.computeIfAbsent(spark.sparkContext, { sc =>
      val s = new Scope(sc)
      sc.addSparkListener(s)
      s
    })
    scope.cells.computeIfAbsent((spark, kind, key), _ => new Cell(compute))
      .value.asInstanceOf[V]
  }

  /** the context's registered end hook, if it holds a scope */
  private[graft] def hook(sc: SparkContext): Option[SparkListener] =
    Option(scopes.get(sc))
  /** entries held for a context */
  private[graft] def size(sc: SparkContext): Int =
    Option(scopes.get(sc)).fold(0)(_.cells.size)
}

/** Typed loaders for the driver-generated parquet tables (TESTDATA.md).
  * Schemas documented in FIXTURES.md; the parquet footer is the source of
  * truth, so plain spark.read.parquet is correct and keeps predicate
  * pushdown + column pruning intact (no schema-merge cost).
  */
object Tables {
  /** Read a corpus table, normalizing every TIMESTAMP_NTZ column to the
    * session-TZ TimestampType. The testdata generator has shipped
    * timestamps both as isAdjustedToUTC=true (round ≤ 5) and as
    * NTZ micros (round 6 regeneration); the engine standardizes on
    * TimestampType so plans, function semantics (unix_timestamp, window
    * range frames) and Verify's written schemas stay identical across
    * generations. Value-preserving: every session pins
    * spark.sql.session.timeZone=UTC.
    *
    * Resolved relations are memoized per session: every
    * `spark.read.parquet` re-lists the path and re-reads footers (a
    * small driver job per call), and a 355-query drive resolves the
    * same ten files hundreds of times. Reusing the ANALYZED plan is
    * metadata reuse only (guide §6 file-listing caching) — no rows are
    * cached and every action still computes from the parquet bytes. */
  private[graft] def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    SessionMemo(spark, "relation", (sfDir, name)) {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      df.schema.fields.collect {
        case f if f.dataType == TimestampNTZType => f.name
      }.foldLeft(df)((acc, c) =>
        acc.withColumn(c, col(c).cast(TimestampType)))
    }
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")

  /** events.ts additionally shipped once as parquet TIMESTAMP(NANOS),
    * which Spark 4 refuses to read directly (PARQUET_TYPE_ILLEGAL): the
    * legacy conf surfaces it as a nanos long, floor-divided here to µs —
    * exactly the ns→µs truncation DuckDB applies (FIXTURES.md
    * events.ts). Micros generations pass through `t`'s NTZ
    * normalization untouched. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** Context for GENERATED oracles whose SQL embeds corpus-fitted literals
  * (vec_pca_project's axes). The driver contract compares at one fixed
  * sf dir; Verify sets this to its actual sfDir before dumping
  * oracle_sql.json so the fit and the compare always see the same
  * corpus, even if the driver's sf ever changes. */
object OracleCtx {
  @volatile var sfDir: String = "/root/testdata/sf0.01"
}

/** Determinism helpers for oracle-compared queries (SURVEY.md §5.3).
  *
  * Raw double SUM/AVG is partial-aggregation-order sensitive, so results
  * drift in the last ulp between Spark and DuckDB. All generated money /
  * quantity doubles carry <= 2 decimal digits (FIXTURES.md), so casting to
  * DECIMAL is lossless; decimal addition is exact and therefore
  * order-insensitive. The final value is cast back to double so the output
  * schema matches DuckDB's (whose DECIMAL widths differ from Spark's).
  *
  * At 100 TB this stays correct: decimal sums are still exact under
  * arbitrary partial/final aggregation splits across executors.
  */
object Det {
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** products of two 2-dp values are exact at 4 dp */
  def dec4(c: Column): Column = c.cast(DecimalType(22, 4))
  /** products of three 2-dp values are exact at 6 dp */
  def dec6(c: Column): Column = c.cast(DecimalType(26, 6))
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)
  def dsum4(c: Column): Column = sum(dec4(c)).cast(DoubleType)
  def dsum6(c: Column): Column = sum(dec6(c)).cast(DoubleType)
  /** exact decimal sum, divided in double space — bit-identical on both
    * engines because both divide the same two exactly-determined doubles. */
  def davg(c: Column): Column = sum(dec2(c)).cast(DoubleType) / count(lit(1))

  /** deterministic uniform in (0, 1) from a key: the first 32 md5 bits,
    * centered (+0.5) and scaled — pure integer arithmetic everywhere, no
    * RNG, so it is identical across engines, retries and layouts. The
    * DuckDB twin is `(CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8)
    * AS UBIGINT) + 0.5) / 4294967296.0`. Shared by sample_weighted's
    * reservoir keys and pipeline_upweight's stochastic-rounding coin. */
  def md5Uniform(key: Column): Column =
    (conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10)
      .cast(DoubleType) + lit(0.5)) / lit(4294967296.0)
}
