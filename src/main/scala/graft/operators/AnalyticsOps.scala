package graft.operators

import graft.{Det, Gate, Q, QueryModule, SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.15 (round 4, second wave) statistical / graph analytics:
  * correlation profiling, distribution entropy, embedding centroids,
  * blocked fuzzy entity resolution, and PageRank over the
  * customer–supplier interaction graph.
  *
  * Determinism notes (SURVEY §5.3 discipline, extended):
  *  - `profile_corr` reduces Pearson correlation to five decimal-exact
  *    moment sums (order-insensitive under any partial/final aggregation
  *    split); the final correlation is ONE double expression over those
  *    exactly-determined inputs, written with the identical shape in both
  *    engines, so the IEEE result is bit-equal.
  *  - `agg_entropy` contains transcendentals (log2), which are NOT
  *    guaranteed bit-equal across engines (different libm). Every log
  *    term is quantized with floor(x·1e4 + 0.5) BEFORE summation: the
  *    sum is then an exact integer, and the ≤2-ulp cross-engine log
  *    drift (~1e-7 absolute here) cannot move a value across a
  *    quantization boundary except with probability ~1e-6 per term.
  *  - `graph_pagerank` keeps per-edge contributions integer-quantized at
  *    1e-9 resolution each iteration, so the per-node incoming sums are
  *    exact integers and the iteration is reproducible regardless of
  *    aggregation order — the same trick that makes the oracle's
  *    unrolled CTE chain hash-match.
  *
  * Scale notes:
  *  - profile_corr / agg_entropy are single-scan grouped aggregates with
  *    map-side partial aggregation; output is O(groups).
  *  - vec_centroid is one explode + one (label, dim)-keyed shuffle of
  *    integer partial sums — the distributed-centroid step of k-means at
  *    100 TB, with O(labels × dims) output.
  *  - join_fuzzy is blocked: the quadratic Levenshtein evaluation is
  *    confined to ≤100-row blocks (id-prefix blocking), so cost is
  *    O(blocks × B²), never corpus².
  *  - graph_pagerank is O(iterations) joins over the edge list, each a
  *    key-partitioned shuffle; ranks frame is O(nodes). Three unrolled
  *    iterations keep the lazy plan bounded (no driver fixpoint needed
  *    for a fixed-step power iteration).
  */
object AnalyticsOps extends QueryModule {

  /** graph_bfs's [[Gate]] budget: co-purchase edges the single-task BFS
    * holds as an adjacency map. */
  private val BfsLocalSolveMaxEdges = 4000000L

  /** The ONE support-≥2 co-purchase edge list (a < b over partkeys),
    * materialized once per lineitem snapshot through the fingerprinted
    * fixture and shared by graph_jaccard and graph_bfs (a per-op copy
    * of the builder lambda could silently diverge while both read the
    * same writeOnce path — round-7b review finding). */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val dir = Fixtures.copurchaseEdges(s, d) {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.join(li.select(col("ok"), col("pk").as("pk2")), "ok")
        .where(col("pk") < col("pk2"))
        .groupBy(col("pk").as("a"), col("pk2").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select("a", "b")
    }
    s.read.schema(Fixtures.copurchaseSchema).parquet(dir)
  }

  /** scale used to quantize log terms — see determinism notes above */
  private val EntScale = 1e4

  /** Monetary pre-bucketing for agg_rfm's exact-percentile threshold
    * fit (round 9, VERDICT r8 "what's wrong" #1): $10 grid
    * (cents // 1000) capped at bucket 10 000 ($100k+), so the value
    * domain fed to `percentile` is ≤ 10 001 distinct values at ANY
    * corpus scale — the StatsSpec value-compaction contract applied to
    * the one RFM dimension whose raw domain grows with the corpus.
    * floor(x/1000.0) is exact for |cents| < 2^53; StatsSpec pins the
    * bound. */
  private[graft] def rfmMonetaryBucket(cents: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    least(floor(cents / lit(1000.0)).cast(LongType), lit(10000L))

  /** Count-Min probe tokens: four known-present corpus tokens plus one
    * absent control (its estimate exposes the collision floor). */
  private val CmProbes = Seq("hash", "join", "scan", "the", "zz_absent")

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) as a pure
    * relational kernel. Hash row r assigns token t to cell
    * pmod(murmur3(t, r), width); the sketch IS the (r, cell) → count
    * aggregate (≤ depth×width rows), and a probe's estimate is the min
    * over its depth cells, 0 when a cell was never hit.
    *
    * Guarantee: est(t) ≥ true(t) and est(t) ≤ true(t) + ε·N w.p. ≥ 1−δ,
    * ε = e/width, δ = e^(−depth); depth=4, width=2048 → ε ≈ 1.3e-3.
    *
    * Scale shape: the explode-×depth stream partial-aggregates map-side
    * to ≤ depth×width bounded rows per task — the same communication as
    * merging per-partition sketches cell-wise — and the whole kernel
    * (split, explode, hash, both aggregates) stays in whole-stage
    * codegen. Cell assignment hashes only token bytes and the row index,
    * so the aggregate is identical under any partition layout
    * (PropertySpec pins this on random streams and layouts).
    */
  private[graft] def countMinEstimates(
      toks: org.apache.spark.sql.DataFrame, probes: Seq[String],
      depth: Int = 4, width: Int = 2048): org.apache.spark.sql.DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    // cell hash = first 32 md5 bits of "token:row" mod width — the Det
    // md5 discipline (Core.scala), NOT murmur: pairwise-independent
    // enough for the CM guarantee and expressible verbatim in the DuckDB
    // oracle, which makes the whole sketch oracle-EXACT. Cost is depth
    // md5 calls per token, all inside whole-stage codegen; at 100 TB
    // the hash family is a one-line swap if profiling demands murmur.
    def cells(t: org.apache.spark.sql.Column) =
      posexplode(array((0 until depth).map(r =>
        pmod(conv(substring(md5(concat(t, lit(":" + r))), 1, 8), 16, 10)
          .cast(LongType), lit(width.toLong))): _*))
    val sketch = toks
      .select(cells(col("token")))
      .toDF("r", "c")
      .groupBy("r", "c").agg(count(lit(1)).as("n"))
    probes.toDF("token")
      .select(col("token"), cells(col("token")))
      .toDF("token", "r", "c")
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("n"), lit(0L))).as("est_count"))
      .orderBy("token")
  }

  /** k-means rounds shared by the Spark plan and the generated oracle
    * CTE chain (vec_kmeans). */
  private val KmK = 8
  private val KmIters = 2

  /** Lloyd's k-means over an embedding frame, fully relational and
    * collect-free — the iterative twin of vec_centroid's single reduce
    * step. Every number is integer from quantization onward, so the
    * assignment is engine-exact:
    *
    *  - components quantized `floor(v·1e6 + 0.5)` (the vec_centroid
    *    discipline); distances are exact integer sums of squares
    *    (|iv| ≤ ~2e6, 64 dims → dist < 3e14, safely inside Long).
    *  - init = the embeddings of the k SMALLEST vec_ids, labeled by
    *    their rank 0..k-1 (deterministic, no RNG to coordinate across
    *    engines or executors; a `vec_id < k` shortcut would silently
    *    mis-seed any frame whose ids aren't dense 0-based).
    *  - centroid update `floor(SUM(iv)/n)` is EXACT through double
    *    division: |SUM| ≤ 5e8 < 2^53 and the true quotient is a
    *    rational with denominator n ≤ corpus size, so it is either an
    *    integer (division exact) or ≥ 1/n from one — both beyond the
    *    ~1e-7 correctly-rounded error.
    *  - argmin ties break to the smaller cluster id via min(struct):
    *    lexicographic (dist, cluster) order, same as the oracle's
    *    ROW_NUMBER ... ORDER BY dist_q, cluster.
    *
    * Scale shape (the MLlib pattern, declaratively): centroids are an
    * O(k·d) frame broadcast to the assignment join; the fan-out stream
    * (N·d rows × k) partial-aggregates map-side on (vec_id, cluster), so
    * the shuffle carries N·k distance rows, never the fan-out; the
    * update is the vec_centroid reduce keyed by (cluster, dim). Empty
    * clusters simply drop out of the centroid frame (both engines
    * agree). Iterations chain lazily — no driver fixpoint, no collect. */
  private[graft] def kmeansAssign(emb: org.apache.spark.sql.DataFrame,
      k: Int = KmK, iters: Int = KmIters): org.apache.spark.sql.DataFrame = {
    // the quantized exploded frame feeds SIX legs through the lazy
    // iteration chain (init, each round's assignment join AND its
    // centroid update) — materialize once (r15 multi-leg playbook,
    // guide §2.4); at scale this is one corpus pass instead of six.
    val q = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"),
        floor(col("v").cast(DoubleType) * 1e6 + 0.5).cast(LongType).as("iv"))
      .localCheckpoint(true)
    def assign(cent: org.apache.spark.sql.DataFrame) =
      q.join(broadcast(cent), Seq("dim"))
        .groupBy(col("vec_id"), col("cluster"))
        .agg(sum((col("iv") - col("civ")) * (col("iv") - col("civ")))
          .as("dist_q"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist_q"), col("cluster"))).as("m"))
        .select(col("vec_id"), col("m.cluster").as("cluster"),
          col("m.dist_q").as("dist_q"))
    // init = the k SMALLEST vec_ids (not `vec_id < k`, which silently
    // returns empty/under-clustered output on frames whose ids aren't
    // dense 0-based): TakeOrderedAndProject over ids only, broadcast
    val seeds = emb.select(col("vec_id")).orderBy("vec_id").limit(k)
      .withColumn("cluster",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")) - 1).cast(IntegerType))
    val init = q.join(broadcast(seeds), "vec_id")
      .select(col("cluster"), col("dim"), col("iv").as("civ"))
    (1 to iters).foldLeft(assign(init)) { (a, _) =>
      assign(q.join(a.select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "dim")
        .agg(sum("iv").as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          floor(col("s").cast(DoubleType) / col("n").cast(DoubleType))
            .cast(LongType).as("civ")))
    }
  }

  /** Distributed covariance over a (vec_id, embedding) frame — the
    * second-moment twin of vec_centroid (vec_covariance scaladoc at the
    * query site). Upper triangle as (dim_i, dim_j, n_vecs, cov). */
  private[graft] def covarianceFrame(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val q = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast(LongType).as("dim"),
        floor(col("v").cast(DoubleType) * 1e6 + 0.5).cast(LongType)
          .as("iv"))
    val firsts = q.groupBy("dim").agg(sum("iv").as("s"))
    // count only rows the explodes keep: a null embedding would
    // otherwise inflate n and silently bias every entry toward zero
    val nRow = emb.where(col("embedding").isNotNull)
      .agg(count(lit(1)).as("n_vecs"))
    val sij = emb.select(col("embedding").as("em"))
      .select(col("em"),
        explode(sequence(lit(0), size(col("em")) - 1)).as("i"))
      .select(col("em"), col("i"),
        explode(sequence(col("i"), size(col("em")) - 1)).as("j"))
      .select(col("i").cast(LongType).as("dim_i"),
        col("j").cast(LongType).as("dim_j"),
        (floor(expr("element_at(em, i + 1)").cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType) *
         floor(expr("element_at(em, j + 1)").cast(DoubleType) * 1e6 + 0.5)
          .cast(LongType)).as("p"))
      .groupBy("dim_i", "dim_j").agg(sum("p").as("sij"))
    sij
      .join(broadcast(firsts.select(col("dim").as("dim_i"),
        col("s").as("si"))), "dim_i")
      .join(broadcast(firsts.select(col("dim").as("dim_j"),
        col("s").as("sj"))), "dim_j")
      .crossJoin(broadcast(nRow))
      .select(col("dim_i"), col("dim_j"), col("n_vecs"),
        ((col("sij").cast(DoubleType) -
          col("si").cast(DoubleType) * col("sj").cast(DoubleType) /
            col("n_vecs").cast(DoubleType)) /
          col("n_vecs").cast(DoubleType) / lit(1e12)).as("cov"))
  }

  /** principal components kept by vec_pca_project */
  private val PcaK = 4

  /** Top-PcaK eigenpairs of the embedding covariance: the distributed
    * part is covarianceFrame's exact moment aggregation; the collected
    * O(d²) matrix (64×64, corpus-size-independent — a sanctioned
    * bounded model) is eigensolved on the driver with deterministic
    * power iteration: all-ones start, 500 fixed iterations, deflation,
    * and a largest-|component|-positive sign convention — a pure
    * function of the corpus, reproducible across layouts and engines.
    * Returns (axes, eigenvalues) or None on an empty/degenerate corpus. */
  private[graft] def pcaFit(emb: org.apache.spark.sql.DataFrame)
      : Option[(Array[Array[Double]], Array[Double])] = {
    val rows = covarianceFrame(emb).collect()
    // degenerate = empty corpus OR zero total variance (constant /
    // single-row corpus): power iteration cannot normalize the zero
    // vector and would return four identical non-orthogonal axes
    if (rows.isEmpty ||
        rows.filter(r => r.getLong(0) == r.getLong(1))
          .map(_.getDouble(3)).sum <= 0.0) None
    else {
      val dim = rows.iterator.map(_.getLong(1)).max.toInt + 1
      val cov = Array.ofDim[Double](dim, dim)
      rows.foreach { r =>
        val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt,
          r.getDouble(3))
        cov(i)(j) = c; cov(j)(i) = c
      }
      val axes = Array.ofDim[Double](PcaK, dim)
      val evs = new Array[Double](PcaK)
      for (k <- 0 until PcaK) {
        var v = Array.fill(dim)(1.0 / math.sqrt(dim))
        for (_ <- 1 to 500) {
          val w = Array.tabulate(dim)(i =>
            (0 until dim).map(j => cov(i)(j) * v(j)).sum)
          val n = math.sqrt(w.map(x => x * x).sum)
          v = if (n > 0) w.map(_ / n) else v
        }
        val lambda = (0 until dim).map(i =>
          v(i) * (0 until dim).map(j => cov(i)(j) * v(j)).sum).sum
        // sign convention: the largest-magnitude component is positive
        val pivot = v.indices.maxBy(i => math.abs(v(i)))
        val sv = if (v(pivot) < 0) v.map(-_) else v
        axes(k) = sv; evs(k) = lambda
        // deflate: cov -= lambda·v·vᵀ
        for (i <- 0 until dim; j <- 0 until dim)
          cov(i)(j) -= lambda * sv(i) * sv(j)
      }
      Some((axes, evs))
    }
  }

  /** vec_pca_project's GENERATED oracle: re-runs the same driver-side
    * pure-function fit on the corpus at [[graft.OracleCtx]].sfDir and
    * emits the projection as plain SQL with the 1e6-quantized axes as
    * literals. The FIT is verified by TextVectorSpec (orthonormality,
    * descending eigenvalues, projection-variance ≈ eigenvalue); the
    * oracle then proves the DISTRIBUTED projection — per-component
    * quantization, exact integer dot, one double division — on the
    * driver's hash-compare signal (the vec_kmeans generated-oracle
    * precedent). Memoized per sf dir: the fit collects an O(d²)
    * covariance — bounded, but not free per oracleSql evaluation. */
  private def pcaDuck(): String = {
    val d = graft.OracleCtx.sfDir
    val s = SparkSession.getActiveSession
      .getOrElse(SparkSession.builder()
        .master("local[4]").config("spark.ui.enabled", "false")
        .getOrCreate())
    SessionMemo(s, "pcaOracle", d) {
      pcaFit(Tables.embeddings(s, d)) match {
        case None =>
          (1 to PcaK).map(i => s"0.0 AS p$i")
            .mkString("SELECT vec_id, ", ", ", " FROM embeddings LIMIT 0")
        case Some((axes, _)) =>
          val aq = axes.map(_.map(x => math.floor(x * 1e6 + 0.5).toLong))
          val dims = axes(0).indices
          val values = dims.map(j =>
            s"($j, ${(0 until PcaK).map(k => aq(k)(j)).mkString(", ")})")
            .mkString(",\n  ")
          val axCols = (1 to PcaK).map(k => s"a$k").mkString(", ")
          val sums = (1 to PcaK)
            .map(k => s"CAST(SUM(iv * a$k) AS BIGINT) AS s$k")
            .mkString(",\n      ")
          // LEFT JOIN from embeddings so NULL/empty-embedding rows are
          // kept with the projection Spark's dot_q kernel gives them
          // (NULL for a NULL array, 0.0 for an empty one) — the q CTE
          // unnests nothing for such rows and an inner-join tail would
          // silently drop them (round-6 review finding; the null-safe
          // covariance sibling set the precedent)
          val ps = (1 to PcaK).map(k =>
            s"CASE WHEN e.embedding IS NULL THEN NULL ELSE " +
              s"COALESCE(s.s$k / 1e12, 0.0e0) END AS p$k")
            .mkString(",\n  ")
          s"""WITH q AS (SELECT vec_id, i AS dim,
             |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5)
             |      AS BIGINT) AS iv
             |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
             |ax(dim, $axCols) AS (VALUES
             |  $values),
             |s AS (SELECT vec_id,
             |      $sums
             |  FROM q JOIN ax USING (dim) GROUP BY vec_id)
             |SELECT e.vec_id,
             |  $ps
             |FROM embeddings e LEFT JOIN s ON s.vec_id = e.vec_id
             |ORDER BY e.vec_id""".stripMargin
      }
    }
  }

  /** The same k-means rounds as DuckDB CTEs, generated from the same
    * iteration count so the two engines cannot drift structurally. */
  private def kmeansDuck(k: Int = KmK, iters: Int = KmIters): String = {
    def dist(i: Int, cent: String) =
      s"""d$i AS (SELECT q.vec_id, c.cluster,
         |    CAST(SUM((q.iv - c.civ) * (q.iv - c.civ)) AS BIGINT) AS dist_q
         |  FROM q JOIN $cent c ON q.dim = c.dim
         |  GROUP BY q.vec_id, c.cluster),
         |a$i AS (SELECT vec_id, cluster, dist_q FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY dist_q, cluster) AS rn FROM d$i) WHERE rn = 1)"""
        .stripMargin
    def update(i: Int) =
      s"""c$i AS (SELECT a.cluster, q.dim,
         |    CAST(floor(CAST(SUM(q.iv) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS civ
         |  FROM q JOIN a$i a ON q.vec_id = a.vec_id
         |  GROUP BY a.cluster, q.dim)""".stripMargin
    val rounds = (1 to iters).map(i => update(i) + ",\n" + dist(i + 1, s"c$i"))
    s"""WITH q AS (SELECT vec_id, i AS dim,
       |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5)
       |      AS BIGINT) AS iv
       |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
       |seeds AS (SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
       |  FROM embeddings
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= $k),
       |c0 AS (SELECT s.cluster, q.dim, q.iv AS civ
       |  FROM q JOIN seeds s ON q.vec_id = s.vec_id),
       |${dist(1, "c0")},
       |${rounds.mkString(",\n")}
       |SELECT vec_id, cluster, dist_q FROM a${iters + 1}
       |ORDER BY vec_id""".stripMargin
  }

  override def queries: Map[String, Q.Fn] = Map(
    // per-group Pearson correlation from decimal-exact moments: one scan,
    // five exact sums, one double expression. The naive corr() aggregate
    // is partial-order sensitive in the last ulp; this form is not.
    "profile_corr" -> ((s, d) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val m = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(x.cast(DecimalType(18, 2))).as("sx"),
          sum(y.cast(DecimalType(18, 2))).as("sy"),
          // l_quantity is integer-valued → x² exact at 0 dp
          sum((x * x).cast(DecimalType(18, 2))).as("sxx"),
          // 2-dp × 2-dp products exact at 4 dp
          sum((y * y).cast(DecimalType(22, 4))).as("syy"),
          sum((x * y).cast(DecimalType(22, 4))).as("sxy"))
      val nD = col("n").cast(DoubleType)
      def dbl(c: String) = col(c).cast(DoubleType)
      m.select(col("l_returnflag"), col("n"),
          ((nD * dbl("sxy") - dbl("sx") * dbl("sy")) /
            (sqrt(nD * dbl("sxx") - dbl("sx") * dbl("sx")) *
              sqrt(nD * dbl("syy") - dbl("sy") * dbl("sy"))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }),

    // per-group simple linear regression (price ~ quantity) from the
    // same five decimal-exact moments as profile_corr: slope =
    // (nΣxy−ΣxΣy)/(nΣxx−(Σx)²), intercept = (Σy−b·Σx)/n — one scan,
    // shared double expressions, no MLlib needed for the 1-feature case.
    "profile_regression" -> ((s, d) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val m = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x.cast(DecimalType(18, 2))).as("sx"),
          sum(y.cast(DecimalType(18, 2))).as("sy"),
          sum((x * x).cast(DecimalType(18, 2))).as("sxx"),
          sum((x * y).cast(DecimalType(22, 4))).as("sxy"))
      val nD = col("n").cast(DoubleType)
      def dbl(c: String) = col(c).cast(DoubleType)
      val slope = (nD * dbl("sxy") - dbl("sx") * dbl("sy")) /
        (nD * dbl("sxx") - dbl("sx") * dbl("sx"))
      m.select(col("l_returnflag"), col("n"), slope.as("slope"),
          ((dbl("sy") - slope * dbl("sx")) / nD).as("intercept"))
        .orderBy("l_returnflag")
    }),

    // time-decayed aggregation (the leaderboard / trending-score shape:
    // recent activity counts more): per event_type the raw sum and the
    // half-life-decayed sum, half-life = 7 days anchored at the
    // corpus's max event date. THE DETERMINISM TRICK: the decay factor
    // is 2^-k with k = whole half-lives elapsed (integer datediff div
    // 7, capped 62) — a POWER OF TWO, so value·10⁶/2^k is one exact
    // halving chain on the stored double (bit-identical in any IEEE
    // engine, no pow/exp transcendental drift), and the per-event
    // floor(·+0.5) quantization makes the decayed sum an exact integer
    // aggregation — order-free under any partial-agg split (the
    // agg_entropy discipline). One groupBy; anchor is a broadcast
    // 1-row cross join. 100 TB: partial aggregation reduces each task
    // to |types| rows.
    "agg_decay" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("dt"),
          col("value"))
      val anchor = ev.agg(max("dt").as("adt"))
      ev.crossJoin(broadcast(anchor))
        .select(col("event_type"), col("value"),
          expr("shiftleft(cast(1 as bigint), " +
            "cast(least(datediff(adt, dt) div 7, 62) as int))").as("p2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("raw_sum"),
          sum(floor(col("value") * 1e6 / col("p2").cast(DoubleType)
            + 0.5).cast(LongType)).as("dq"))
        .select(col("event_type"), col("n"), col("raw_sum"),
          (col("dq").cast(DoubleType) / 1e6).as("decayed_sum"))
        .orderBy("event_type")
    }),

    // A/B experiment readout (Welch's unequal-variance t, the standard
    // two-cohort test): cohort = user_id parity (the deterministic
    // stand-in for an assignment column), per event_type the cohort
    // means, Welch t and the |t| > 1.96 verdict. The profile_regression
    // discipline end-to-end: 2-decimal values sum EXACTLY as
    // DECIMAL(18,2) (squares as (18,4) — products of 2-decimal doubles
    // ≤ 2⁵³ are exact), so every moment is aggregation-order-free; the
    // t statistic is then ONE fixed chain of correctly-rounded double
    // ops (+ an IEEE-exact sqrt) over those exact moments — bit-equal
    // across engines, hence the unrounded t and the threshold verdict
    // both hash-match. One groupBy on event_type; 100 TB: partial
    // aggregation reduces each task to |types| rows before the
    // |types|-row shuffle.
    "profile_ab_test" -> ((s, d) => {
      val isA = col("user_id") % 2 === 0
      val v = col("value")
      val m = Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          sum(when(isA, 1L).otherwise(0L)).as("n_a"),
          sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
          sum(when(isA, v).cast(DecimalType(18, 2))).as("s_a"),
          sum(when(!isA, v).cast(DecimalType(18, 2))).as("s_b"),
          sum(when(isA, v * v).cast(DecimalType(18, 4))).as("q_a"),
          sum(when(!isA, v * v).cast(DecimalType(18, 4))).as("q_b"))
      def dbl(c: String) = col(c).cast(DoubleType)
      val (na, nb) = (dbl("n_a"), dbl("n_b"))
      val meanA = dbl("s_a") / na
      val meanB = dbl("s_b") / nb
      val varA = (dbl("q_a") - dbl("s_a") * dbl("s_a") / na) / (na - 1.0)
      val varB = (dbl("q_b") - dbl("s_b") * dbl("s_b") / nb) / (nb - 1.0)
      val t = (meanA - meanB) / sqrt(varA / na + varB / nb)
      m.where(col("n_a") > 1 && col("n_b") > 1)
        .select(col("event_type"), col("n_a"), col("n_b"),
          meanA.as("mean_a"), meanB.as("mean_b"), t.as("t_stat"),
          (abs(t) > 1.96).cast(LongType).as("is_significant"))
        .orderBy("event_type")
    }),

    // k-anonymity audit (privacy governance): equivalence classes over
    // the quasi-identifier tuple, how many rows sit in classes smaller
    // than k=5 (re-identifiable) and the suppression rate a k-anon
    // release would need. One grouped count + one O(classes) reduction.
    "validate_kanon" -> ((s, d) => {
      val classes = Tables.customer(s, d)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("cls"))
      classes.agg(
          count(lit(1)).as("n_classes"),
          expr("count_if(cls < 5)").as("n_small_classes"),
          sum("cls").as("n_rows"),
          sum(when(col("cls") < 5, col("cls")).otherwise(0L))
            .as("n_rows_at_risk"))
        .select(col("n_classes"), col("n_small_classes"), col("n_rows"),
          col("n_rows_at_risk"),
          (col("n_rows_at_risk").cast(DoubleType) /
            col("n_rows").cast(DoubleType)).as("suppression_rate"))
    }),

    // triangle counting over the thresholded co-purchase graph (parts
    // co-ordered ≥2 times): the clustering-coefficient numerator. Edges
    // are oriented a<b, so each triangle is counted exactly once by the
    // two-hop join — O(edges^1.5)-ish work on a support-thresholded
    // (hence bounded) edge set, never the raw pair explosion.
    "graph_triangles" -> ((s, d) => {
      // li feeds both self-join sides and e feeds THREE join legs
      // (wedge build ×2 + closure); un-materialized, the whole
      // scan→distinct→pair-agg subtree re-evaluates per leg (round-15
      // measurement: ~3× the one-pass cost). Checkpoint each once —
      // the agg_copurchase stage-materialization note applies.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true)
      val e = li
        .join(li.select(col("ok"), col("pk").as("pk2")), "ok")
        .where(col("pk") < col("pk2"))
        .groupBy(col("pk").as("a"), col("pk2").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select("a", "b")
        .localCheckpoint(true)
      val wedges = e.join(e.select(col("a").as("b"), col("b").as("c")), "b")
        .select("a", "b", "c")
      wedges.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // Jaccard link prediction over the co-purchase graph — "which part
    // pairs SHOULD be related?": for every distance-2 pair, the overlap
    // of their neighbor sets. Candidate pairs come from the same
    // support-filtered wedge join graph_triangles uses (never the raw
    // pair explosion — the candidate space is bounded by Σ deg², the
    // published common-neighbors bound), common counts are one groupBy
    // over wedges, and |N(a)∪N(c)| = deg(a)+deg(c)−common needs only
    // the degree table — keyed on the same u/v the candidate frame
    // already shuffles on. NO broadcast hint on the degree joins: the
    // table is one row per part appearing in any support-≥2 edge, which
    // is parts-scale at 100 TB, not broadcast-sized — the optimizer
    // (with AQE) picks broadcast only when the measured size permits
    // (round-8 advisory). Top-20 by (jaccard, pair) — exact integer
    // ratio, deterministic ties.
    "graph_jaccard" -> ((s, d) => {
      // edges come from the fingerprinted fixture (computed once per
      // lineitem snapshot; live aggregation priced by graph_triangles)
      val e = copurchaseEdges(s, d)
      // symmetric neighbor list + degrees
      val n = e.select(col("a").as("x"), col("b").as("y"))
        .unionByName(e.select(col("b").as("x"), col("a").as("y")))
      val deg = n.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      val common = n.select(col("x").as("u"), col("y").as("via"))
        .join(n.select(col("x").as("via"), col("y").as("v")), "via")
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("common"))
      val j = common
        .join(deg.select(col("x").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("deg").as("dv")), "v")
        .select(col("u"), col("v"), col("common"),
          (col("du") + col("dv") - col("common")).as("uni"))
        .withColumn("jaccard",
          col("common").cast(DoubleType) / col("uni").cast(DoubleType))
      // top-20 via TakeOrderedAndProject (distributed partial top-k);
      // the rank window then touches 20 rows, not the candidate frame
      val top = j.orderBy(col("jaccard").desc, col("u"), col("v")).limit(20)
      val w = Window.orderBy(col("jaccard").desc, col("u"), col("v"))
      top.withColumn("rank", row_number().over(w).cast(LongType))
        .select("rank", "u", "v", "common", "uni", "jaccard")
        .orderBy("rank")
    }),

    // bounded-depth BFS hop distances from the minimum part in the
    // co-purchase graph — "how close is everything to this product?"
    // (the reachability/radius primitive under recommendation blast-
    // radius and recall-expansion queries). Level-synchronous relax
    // rounds (the sanctioned iterative-fixpoint shape: GraphOps CC
    // precedent, localCheckpoint per round so lineage stays flat); at
    // depth 6 on a support-filtered graph the frontier is edge-bounded
    // per round, and the shuffle carries (node, dist) pairs only. The
    // round cap is part of the op's CONTRACT (dist ≤ 6 — "within six
    // hops"), which is what makes the DuckDB recursive replay finite.
    "graph_bfs" -> ((s, d) => {
      // materialized ONCE: the copurchase subtree (scan + distinct +
      // self-join + support agg) used to re-evaluate for the gate count
      // AND again per consumer leg — the exact multi-leg re-evaluation
      // the r15 round fixed elsewhere with localCheckpoint (r15 ADVICE);
      // the gate's count rides the checkpoint's own job
      val (e, gate) = Gate.snapshot("graph_bfs", copurchaseEdges(s, d),
        BfsLocalSolveMaxEdges)
      // size-gated exact local solve (the GraphOps/CC pattern): the
      // support-filtered co-purchase graph is a tiny residual at test
      // SF — 6 relax rounds of join+union+agg+checkpoint are pure job
      // latency there. Within the gate, one EXECUTOR-SIDE task
      // (coalesce(1).mapPartitions — no driver collect, guide §5) runs
      // the identical BFS (source = max-degree hub, ties min id; dist
      // = min over ≤6 hops); above it the distributed frontier loop is
      // the parts-scale path.
      if (gate.local) {
        import s.implicits._
        val out = e.select(col("a"), col("b")).as[(Long, Long)]
          .coalesce(1)
          .mapPartitions { it =>
            val adj = scala.collection.mutable.HashMap
              .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
            val deg = scala.collection.mutable.HashMap.empty[Long, Long]
            it.foreach { case (a, b) =>
              adj.getOrElseUpdate(a, scala.collection.mutable
                .ArrayBuffer.empty[Long]) += b
              adj.getOrElseUpdate(b, scala.collection.mutable
                .ArrayBuffer.empty[Long]) += a
              deg(a) = deg.getOrElse(a, 0L) + 1L
              deg(b) = deg.getOrElse(b, 0L) + 1L
            }
            if (deg.isEmpty) Iterator.empty
            else {
              val hub = deg.toSeq.minBy { case (x, dg) => (-dg, x) }._1
              val dist = scala.collection.mutable.HashMap(hub -> 0L)
              var frontier = Seq(hub)
              for (lvl <- 1L to 6L) {
                frontier = frontier.flatMap(adj.getOrElse(_, Nil))
                  .filter(y => !dist.contains(y)).distinct
                frontier.foreach(y => dist(y) = lvl)
              }
              dist.iterator
            }
          }
          .toDF("node", "dist")
          .localCheckpoint(true)
        e.unpersist()
        out.orderBy("node")
      } else {
        val n = e.select(col("a").as("x"), col("b").as("y"))
          .unionByName(e.select(col("b").as("x"), col("a").as("y")))
        // source = the max-degree hub (ties → min id): the
        // support-filtered graph is sparse at larger SF and an arbitrary
        // minimum node sits in a 2-node component — the hub's ball is
        // the informative one
        var dist = n.groupBy("x").agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("x")).limit(1)
          .select(col("x").as("node"), lit(0L).as("dist")).localCheckpoint()
        for (_ <- 1 to 6) {
          val next = dist.join(n, col("node") === col("x"))
            .select(col("y").as("node"), (col("dist") + 1).as("dist"))
          dist = dist.unionByName(next)
            .groupBy("node").agg(min("dist").as("dist"))
            .localCheckpoint()
        }
        dist.orderBy("node")
      }
    }),

    // Shannon entropy of the event-type mix per user bucket — the
    // mixture-diversity signal a curation pipeline tracks per shard.
    // entropy = log2(total) - Σ c·log2(c) / total, with each c·log2(c)
    // term and the final value quantized (determinism notes above).
    "agg_entropy" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .groupBy((col("user_id") % 10).as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val cD = col("c").cast(DoubleType)
      val g = counts.groupBy("bucket").agg(
        sum("c").as("n_events"),
        count(lit(1)).cast(LongType).as("n_types"),
        sum(floor(cD * log2(cD) * EntScale + 0.5).cast(LongType)).as("tsum"))
      val tot = col("n_events").cast(DoubleType)
      val ent = log2(tot) - (col("tsum").cast(DoubleType) / EntScale) / tot
      g.select(col("bucket"), col("n_events"), col("n_types"),
          (floor(ent * EntScale + 0.5) / EntScale).as("entropy"))
        .orderBy("bucket")
    }),

    // distributed per-label embedding centroid — the reduce step of
    // k-means / cluster profiling. Component values are quantized to
    // exact 1e-6-resolution integers (floats carry ~7 significant
    // digits, so nothing real is lost), summed exactly, divided once.
    "vec_centroid" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim").cast(LongType).as("dim"),
          floor(col("v").cast(DoubleType) * 1e6 + 0.5).cast(LongType).as("iv"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum("iv").as("s"))
        .select(col("label"), col("dim"), col("n"),
          (col("s").cast(DoubleType) / 1e6 / col("n").cast(DoubleType))
            .as("centroid"))
        .orderBy("label", "dim")),

    // distributed covariance matrix over the embedding corpus (the
    // second-moment twin of vec_centroid; whitening / PCA-prep input).
    // Pair products are generated NARROWLY inside each row's array
    // (explode i, explode j ≥ i — no self-join, no N·d shuffle): the
    // only shuffle carries O(d²) map-side-combined partials, the Gram
    // communication lower bound. profile_corr discipline: quantized
    // integer sums are exact under any aggregation order; cov is ONE
    // double expression over exactly-determined inputs, so the IEEE
    // result is bit-equal across engines.
    "vec_covariance" -> ((s, d) =>
      covarianceFrame(Tables.embeddings(s, d)).orderBy("dim_i", "dim_j")),

    // PCA projection: top-4 principal components per vector. The eigen
    // step is a driver-side bounded model fit (the sanctioned vec_pq
    // shape — the covariance matrix is O(d²)=64×64 REGARDLESS of corpus
    // size; the distributed work is the exact integer moment aggregation
    // shared with vec_covariance). Deterministic power iteration with
    // deflation + a sign convention, so the fit is a pure function of
    // the corpus; the projection itself is one narrow codegen'd dot
    // pass. Rows-only (eigenvectors aren't SQL-expressible); TextVector-
    // Spec asserts orthonormal axes, descending eigenvalues, and
    // projection variance ≈ eigenvalue per component.
    "vec_pca_project" -> ((s, d) =>
      pcaFit(Tables.embeddings(s, d)) match {
        case Some((axes, _)) =>
          // oracle-exact projection (round 6): quantize BOTH the fitted
          // axis and each embedding component at 1e6, integer dot (the
          // dot_q kernel — exact, codegen'd), one double division by
          // 1e12 — the vec_kmeans discipline, so the generated oracle
          // (pcaDuck) reproduces every p value bit-for-bit
          val pcols = axes.zipWithIndex.map { case (v, i) =>
            (graft.functions.VectorExprs.dotQ(col("embedding"),
              typedLit(v.map(x => math.floor(x * 1e6 + 0.5).toLong).toSeq))
              .cast(DoubleType) / lit(1e12)).as(s"p${i + 1}")
          }
          Tables.embeddings(s, d)
            .select((col("vec_id") +: pcols.toSeq): _*)
            .orderBy("vec_id")
        case None =>
          Tables.embeddings(s, d)
            .select((col("vec_id") +: (1 to PcaK).map(i =>
              lit(0.0).as(s"p$i"))): _*).limit(0)
      }),

    // distributed Lloyd's k-means (the unsupervised twin of
    // vec_centroid): deterministic init from the k smallest vec_ids, two
    // broadcast-assign + integer-centroid-update rounds, final exact
    // argmin assignment per vector. The workhorse behind topic-balanced
    // mixture sampling over an unlabeled corpus. All arithmetic integer
    // after 1e6 quantization → oracle-exact (see kmeansAssign).
    "vec_kmeans" -> ((s, d) =>
      kmeansAssign(Tables.embeddings(s, d)).orderBy("vec_id")),

    // blocked fuzzy entity resolution: match customer records across two
    // "systems" (even vs odd keys) whose names differ by ≤1 edit. The
    // block key (7-digit id prefix) bounds each Levenshtein comparison
    // set to ≤100 rows — the standard record-linkage shape: candidate
    // generation by blocking, verification by edit distance.
    "join_fuzzy" -> ((s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 10, 7).as("blk"))
      val a = cust.where(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("a_key"), col("c_name").as("a_name"), col("blk"))
      val b = cust.where(col("c_custkey") % 2 === 1)
        .select(col("c_custkey").as("b_key"), col("c_name").as("b_name"),
          col("blk").as("blk_b"))
      a.join(b, col("blk") === col("blk_b") &&
          levenshtein(col("a_name"), col("b_name")) <= 1)
        .groupBy(col("a_key"))
        .agg(count(lit(1)).as("n_matches"), min(col("b_key")).as("first_match"))
        .orderBy("a_key")
    }),

    // daily active users split new vs returning — the growth readout
    // every product dashboard leads with ("are we acquiring or just
    // retaining?"). One distinct (user, day) frame, first-seen day per
    // user, day-keyed counts. Scale: the first-seen join is keyed on
    // user_id (user-scale, never broadcast); output is O(days).
    "agg_new_vs_returning" -> ((s, d) => {
      val byDay = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = byDay.groupBy("user_id").agg(min("day").as("d0"))
      byDay.join(first, "user_id")
        .groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("d0"), 1L).otherwise(0L))
            .as("n_new"))
        .select(col("day"), col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"))
        .orderBy("day")
    }),

    // RFM segmentation (recency / frequency / monetary quintiles) —
    // the classic customer-value grid every CRM runs. Scores come from
    // BROADCAST percentile thresholds + comparisons, NOT a global
    // NTILE window (which would single-task the whole user frame at
    // 100 TB — the profile_skew lesson): the exact percentile fit is
    // the agg_percentile class (one aggregate; the KLL sketch twin is
    // the shipped approximate path at extreme scale), and the
    // per-user scoring is a narrow broadcast map. Recency is inverted
    // (most recent = 5, the RFM convention); ties at a threshold score
    // LOW on both engines (strict >). Output: the ≤125-cell segment
    // grid with occupancy and spend.
    //
    // Every threshold fit runs over a RANGE-BOUNDED value domain (the
    // StatsSpec value-compaction contract): rec is calendar-bounded,
    // freq activity-bounded, and the monetary dimension — whose raw
    // distinct per-user cent totals GROW with corpus scale — is
    // pre-bucketed via rfmMonetaryBucket ($10 grid capped at $100k,
    // ≤ 10 001 distinct values) BEFORE percentile, so the exact
    // percentile buffer can never grow with the corpus. A quintile
    // threshold on the $10 grid moves a user's m-score only when their
    // spend sits within one grid step of the cut — segmentation-
    // irrelevant at CRM granularity, and the determinism win is that
    // the fit stays exact at any scale.
    "agg_rfm" -> ((s, d) => {
      // ONE events scan: the corpus edge (max date) is the max of the
      // per-user last dates, so it derives from the user aggregate
      // instead of a second full pass (round-8 self-review)
      val byUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(max(to_date(col("ts"))).as("lastd"),
          count(lit(1)).as("freq"),
          (sum(Det.dec2(col("value"))) * 100).cast(LongType).as("cents"))
      val edge = byUser.agg(max("lastd").as("maxd"))
      val perUser = byUser
        .crossJoin(broadcast(edge))
        .select(col("user_id"),
          datediff(col("maxd"), col("lastd")).cast(LongType).as("rec"),
          col("freq"), col("cents"),
          rfmMonetaryBucket(col("cents")).as("mq"))
      val th = perUser.agg(
        expr("percentile(rec, array(0.2D, 0.4D, 0.6D, 0.8D))").as("tr"),
        expr("percentile(freq, array(0.2D, 0.4D, 0.6D, 0.8D))").as("tf"),
        expr("percentile(mq, array(0.2D, 0.4D, 0.6D, 0.8D))").as("tm"))
      def score(m: org.apache.spark.sql.Column,
          t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (1 to 4).map(i =>
          when(m > element_at(t, i), 1L).otherwise(0L)).reduce(_ + _) + 1L
      perUser.crossJoin(broadcast(th))
        .select(
          (lit(6L) - score(col("rec").cast(DoubleType), col("tr"))).as("r"),
          score(col("freq").cast(DoubleType), col("tf")).as("f"),
          score(col("mq").cast(DoubleType), col("tm")).as("m"),
          col("cents"))
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_users"),
          (sum("cents").cast(DoubleType) / 100.0).as("total_spend"))
        .orderBy("r", "f", "m")
    }),

    // cohort retention matrix — the product-analytics staple: users
    // grouped by first-activity week, counted per subsequent active
    // week offset. Two passes over the SAME user_id partitioning (first
    // week per user, then distinct active weeks), one broadcast-joined
    // reduction; all week arithmetic is exact integer division from the
    // epoch anchor, so the matrix is engine-independent.
    "agg_retention" -> ((s, d) => {
      val week = floor(datediff(to_date(col("ts")),
        lit("2024-01-01").cast("date")).cast(DoubleType) / 7.0)
        .cast(LongType)
      val uw = Tables.events(s, d)
        .select(col("user_id"), week.as("week")).distinct()
      val cohort = uw.groupBy("user_id").agg(min("week").as("cohort_week"))
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // association-rule mining over co-purchase pairs: lift =
    // P(a,b)/(P(a)·P(b)) and confidence = P(b|a) — agg_copurchase
    // counts pairs, this SCORES them (a high-count pair of two
    // bestsellers is uninteresting; lift > 1 is actual affinity, the
    // recommender-bootstrap signal). Exact integer counts everywhere;
    // lift's final ratio is one double division of exactly-determined
    // operands, quantized. Top-20 by (lift, pair) via
    // TakeOrderedAndProject; item supports join the pair frame
    // broadcast (items ≪ pairs).
    "agg_basket_lift" -> ((s, d) => {
      // measured round 15 AND re-measured round 16: a checkpoint of li
      // is a LOSS here (+0.5-1.0 s warm — the eager materialization
      // blocks, and the (ok, pk)-partitioned snapshot satisfies
      // neither the ok-keyed self-join nor the agg legs, so every
      // consumer reshuffles anyway) — left un-materialized
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        // r16: pin the self-join's input partitioning to ok — the
        // pk->pk2 rename sits ABOVE this exchange, so canonicalized
        // exchange reuse serves BOTH join sides from one shuffle and
        // the join itself adds no exchange (guide §2.4)
        .repartition(col("ok"))
      val nOrders = li.select("ok").distinct().agg(count(lit(1)).as("n"))
      val item = li.groupBy(col("pk")).agg(count(lit(1)).as("ci"))
      val pair = li
        .join(li.select(col("ok"), col("pk").as("pk2")), "ok")
        .where(col("pk") < col("pk2"))
        .groupBy(col("pk").as("a"), col("pk2").as("b"))
        .agg(count(lit(1)).as("cab"))
        .where(col("cab") >= 2)
      val scored = pair
        .join(broadcast(item.select(col("pk").as("a"), col("ci").as("ca"))),
          "a")
        .join(broadcast(item.select(col("pk").as("b"), col("ci").as("cb"))),
          "b")
        .crossJoin(broadcast(nOrders))
        .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"),
          (floor(col("cab").cast(DoubleType) * col("n").cast(DoubleType)
            / (col("ca") * col("cb")).cast(DoubleType) * 1e6 + 0.5) / 1e6)
            .as("lift"),
          (floor(col("cab").cast(DoubleType) / col("ca").cast(DoubleType)
            * 1e6 + 0.5) / 1e6).as("confidence"))
      val top = scored.orderBy(col("lift").desc, col("a"), col("b"))
        .limit(20)
      top.withColumn("rank", row_number()
          .over(Window.orderBy(col("lift").desc, col("a"), col("b")))
          .cast(LongType))
        .select("rank", "a", "b", "cab", "lift", "confidence")
        .orderBy("rank")
    }),

    // time-to-convert distribution: per user, the delay from FIRST
    // signup to FIRST subsequent purchase — the latency half of the
    // funnel story (agg_funnel counts who converts; this says how
    // long conversion takes, which is what staged nudge campaigns key
    // on). p50/p90 are LOWER percentiles (integer rank picks on the
    // second-compacted delay frame — profile_outlier_mad's
    // no-interpolation rule), conversion share is an exact integer
    // ratio. One user-keyed agg + two rank windows over O(converted
    // users) rows.
    "agg_time_to_convert" -> ((s, d) => {
      val firsts = Tables.events(s, d)
        .where(col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t1"))
        .where(col("t0").isNotNull)
      // exact microsecond difference floored to whole seconds — the
      // engines' second-level epoch functions disagree on sub-second
      // handling (Spark truncates, DuckDB keeps the fraction)
      val conv = firsts
        .select(col("user_id"),
          when(col("t1") > col("t0"),
            expr("(unix_micros(t1) - unix_micros(t0)) div 1000000"))
            .as("delay_s"))
      val counts = conv.agg(count(lit(1)).as("n_signup"),
        count(col("delay_s")).as("n_converted"))
      def rankPick(q: Int): DataFrame = {
        val w = Window.orderBy(col("delay_s"), col("user_id"))
        conv.where(col("delay_s").isNotNull)
          .withColumn("__rn", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
          .where(col("__rn") === expr(s"greatest((__n * $q + 99) div 100, 1)"))
          .select(col("delay_s").as(s"p$q" + "_s"))
      }
      // LEFT joins (not crossJoin): when NO user converts both
      // percentile frames are empty, and a cross join would erase the
      // counts row — silently discarding n_signup and the conversion=0
      // signal. The left join keeps it with NULL p50_s/p90_s
      // (round-8 advisory).
      counts
        .join(broadcast(rankPick(50)), lit(true), "left")
        .join(broadcast(rankPick(90)), lit(true), "left")
        .select(col("n_signup"), col("n_converted"),
          (col("n_converted").cast(DoubleType) /
            col("n_signup").cast(DoubleType)).as("conversion"),
          col("p50_s"), col("p90_s"))
    }),

    // cumulative LTV curve per signup cohort — agg_retention's revenue
    // twin: "how much has the week-w cohort spent per member by offset
    // k?" (the growth readout that decides payback windows). Revenue
    // sums are exact cents; the per-member division happens once per
    // output row against a broadcast cohort-size table; the cohort
    // assignment join is keyed on user_id (never broadcast — cohorts
    // are user-scale); cumulation rides a per-cohort window over the
    // week-offset-compacted frame.
    "agg_cohort_ltv" -> ((s, d) => {
      val week = floor(datediff(to_date(col("ts")),
        lit("2024-01-01").cast("date")).cast(DoubleType) / 7.0)
        .cast(LongType)
      val ev = Tables.events(s, d)
        .select(col("user_id"), week.as("week"),
          floor(col("value") * 100 + 0.5).cast(LongType).as("cents"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      val sizes = cohort.groupBy("cohort_week")
        .agg(count(lit(1)).as("cohort_size"))
      val byOff = ev.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(sum("cents").as("rev"),
          countDistinct("user_id").as("n_active"))
      val wCum = Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byOff.join(broadcast(sizes), "cohort_week")
        .withColumn("cum_rev", sum("rev").over(wCum))
        .select(col("cohort_week"), col("week_offset"),
          col("cohort_size"), col("n_active"),
          (col("cum_rev").cast(DoubleType)
            / col("cohort_size").cast(DoubleType) / 100.0)
            .as("ltv_per_user"))
        .orderBy("cohort_week", "week_offset")
    }),

    // (poissonThresholds / poissonCase defined below the queries map)
    // Poisson bootstrap confidence interval for the mean purchase value
    // (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    // Streams" — THE scale-native resampling scheme: classical
    // bootstrap needs n draws WITH replacement per replicate, impossible
    // distributed; Poisson(1) weights are independent per row, so all
    // 32 replicates compute in ONE pass with a 32× keyed fan-out and
    // map-side partial aggregation down to 32 rows). Determinism: the
    // per-(row, replicate) weight is the Poisson(1) inverse CDF of the
    // md5-derived uniform (Det.md5Uniform — no RNG), with the CDF
    // thresholds emitted ONCE as shared double literals; replicate sums
    // stay exact decimal/integer, each mean is one IEEE division, and
    // the CI bounds are order statistics (2nd/31st of 32) chosen by
    // integer rank — no quantile interpolation to drift.
    "profile_bootstrap_ci" -> ((s, d) => {
      val reps = 32
      val ev = Tables.events(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("value"))
      val fan = ev.select(col("event_id"), col("value"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
        .withColumn("u", Det.md5Uniform(
          concat(col("event_id").cast(StringType), lit("_"),
            col("rep").cast(StringType))))
        .withColumn("w", expr(poissonCase("u")))
      val repMeans = fan.groupBy("rep")
        .agg((sum(Det.dec2(col("value")) * col("w")).cast(DoubleType) /
          sum(col("w")).cast(DoubleType)).as("m"))
      val ranked = repMeans.withColumn("rn",
        row_number().over(Window.orderBy(col("m"), col("rep"))))
      val point = ev.agg(
        count(lit(1)).as("n_purchases"),
        (sum(Det.dec2(col("value"))).cast(DoubleType) /
          count(lit(1))).as("point_mean"))
      point.crossJoin(broadcast(
          ranked.where(col("rn") === 2).select(col("m").as("ci_lo"))))
        .crossJoin(broadcast(
          ranked.where(col("rn") === reps - 1).select(col("m").as("ci_hi"))))
        .select("n_purchases", "point_mean", "ci_lo", "ci_hi")
    }),

    // multi-touch revenue attribution — the marketing-analytics staple:
    // each purchase's revenue credited to the FIRST and to the LAST
    // non-purchase touchpoint (channel = event_type) in the user's
    // preceding history; purchases with no prior touch credit 'direct'.
    // Two IGNORE NULLS frame lookups over ONE user_id window sort, then
    // a single unioned channel aggregation (exact decimal sums) — never
    // a per-purchase self-join. At 100 TB: one user-keyed exchange +
    // one O(channels) reduce.
    "agg_attribution" -> ((s, d) => {
      val base = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val before = base.rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val p = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"),
          first(touch, ignoreNulls = true).over(before).as("first_ch"),
          last(touch, ignoreNulls = true).over(before).as("last_ch"))
        .where(col("event_type") === "purchase")
        .select(col("value"),
          coalesce(col("first_ch"), lit("direct")).as("first_ch"),
          coalesce(col("last_ch"), lit("direct")).as("last_ch"))
      val dv = col("value").cast(DecimalType(18, 2))
      // one window pass, not two: the union's two legs re-evaluated
      // the whole events window subtree (exchange reuse covers only
      // the Exchange, not the Window above it) — a 2-element
      // struct-array explode emits the same (channel, m, v) rows from
      // a single pass (r16; guide §2.4). Values and schema identical.
      p.select(explode(array(
          struct(col("first_ch").as("channel"), lit("f").as("m"),
            dv.as("v")),
          struct(col("last_ch").as("channel"), lit("l").as("m"),
            dv.as("v")))).as("x"))
        .select(col("x.channel").as("channel"), col("x.m").as("m"),
          col("x.v").as("v"))
        .groupBy("channel")
        .agg(
          sum(when(col("m") === "f", col("v"))).cast(DoubleType)
            .as("first_touch_rev"),
          sum(when(col("m") === "l", col("v"))).cast(DoubleType)
            .as("last_touch_rev"),
          sum(when(col("m") === "f", 1L).otherwise(0L)).as("n_purchases"))
        .orderBy("channel")
    }),

    // market-basket co-purchase mining: frequent part pairs across
    // orders. The pair generation is a self-join KEYED ON THE ORDER —
    // baskets average a handful of items, so the quadratic blow-up is
    // per-basket (~tens of pairs), never corpus-wide; the pair counts
    // then partial-aggregate before one (part_a, part_b) shuffle. This
    // is the a-priori candidate step every recommender ETL runs.
    "agg_copurchase" -> ((s, d) => {
      // two-leg reuse only: measured round 15, a checkpoint here is a
      // wash (materialization ≈ the one saved scan+distinct) — left
      // un-materialized; graph_triangles' 5-leg reuse is the one that
      // pays for a checkpoint
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        // r16: same ok-pinned exchange-reuse shape as agg_basket_lift
        .repartition(col("ok"))
      val pairs = li
        .join(li.select(col("ok"), col("pk").as("pk2")), "ok")
        .where(col("pk") < col("pk2"))
        .groupBy(col("pk").as("part_a"), col("pk2").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
      pairs
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    }),

    // pairwise audience overlap between event-type segments with exact
    // Jaccard: one (user, type)-distinct pass, a user-keyed self-join of
    // the deduped memberships (never the raw event stream), per-type
    // audience sizes broadcast back in. Output is O(types²); every
    // shuffled row is a (user_id, type) pair.
    "agg_audience_overlap" -> ((s, d) => {
      // ut feeds the size table + both membership self-join sides —
      // checkpoint once, the agg_copurchase note applies
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint(true)
      val sizes = ut.groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      val both = ut.select(col("user_id"), col("event_type").as("type_a"))
        .join(ut.select(col("user_id"), col("event_type").as("type_b")),
          "user_id")
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_both"))
      both
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
          .withColumnRenamed("n", "n_a")), "type_a")
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
          .withColumnRenamed("n", "n_b")), "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          (col("n_both").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_both")).cast(DoubleType))
            .as("jaccard"))
        .orderBy("type_a", "type_b")
    }),

    // Count-Min point-frequency estimates for the probe set — the
    // bounded-memory sketch for per-token counts at 100 TB. Expressed as
    // a relational kernel (see countMinEstimates) rather than a typed
    // Aggregator: the Aggregator form's product-encoded buffer re-encoded
    // the full depth×width cell array once per input row (measured 10.7 s
    // at sf0.1); the groupBy form partial-aggregates the exploded
    // (row, cell) stream to ≤ depth×width rows per task — the identical
    // cell-wise-merge communication — entirely inside whole-stage
    // codegen. Oracle-EXACT (round 6): the md5-derived cell hash is
    // plain SQL in both engines, so sketch + min-lookup replay verbatim;
    // AnalyticsSpec still pins the overestimate-only guarantee and the
    // ε·N error bound, PropertySpec the layout invariance.
    "agg_countmin" -> ((s, d) =>
      countMinEstimates(
        Tables.documents(s, d)
          .select(explode(split(lower(col("text")), " ")).as("token")),
        CmProbes)),

    // EXACT distributed distinct via bitmap partials: bucket the key
    // space, build one fixed-size bitmap per (group, bucket) map-side,
    // OR-merge, then sum bit counts. At 100 TB this shuffles O(groups ×
    // buckets) bounded bitmaps instead of every raw key occurrence —
    // exactness of count(DISTINCT) without its shuffle, proven by the
    // count-distinct oracle.
    "agg_bitmap_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"),
          expr("bitmap_bit_position(user_id)").as("pos"))
        .groupBy("event_type", "bkt")
        .agg(expr("bitmap_construct_agg(pos)").as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
        .orderBy("event_type")),

    // PageRank over the bipartite customer–supplier graph (distinct
    // order→lineitem pairs, symmetrized so every node has out-edges).
    // Three power iterations, each: rank/outdeg contribution per edge →
    // quantized → exact integer sum per destination. N enters the plan
    // via a broadcast scalar aggregate, never a driver-side count.
    "graph_pagerank" -> ((s, d) => {
      val e0 = Tables.orders(s, d)
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // iterative-algorithm carve-out (Core.scala contract, same as
      // GraphOps): the edge list feeds every one of the 3 unrolled rounds
      // plus the degree table — checkpoint it once instead of recomputing
      // the join+distinct subtree ~8x through the unrolled plan
      // hash-partition the edge list by the join key BEFORE the one-time
      // checkpoint (checkpoint preserves outputPartitioning): every
      // unrolled round's relax join then shuffles only the rank table,
      // never the edge list — the canonical iterate-over-static-graph
      // layout (guide §2.4: two operations keyed the same way share one
      // exchange). At 100 TB this is the difference between shuffling
      // the billion-edge list once vs once per iteration.
      val edges = e0
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(true)
      // node count from the MATERIALIZED degree table — the CC edge-count
      // pattern. The old crossJoin(broadcast(nAgg)) re-executed the count
      // aggregate as a fresh broadcast exchange 4× through the unrolled
      // rounds; a literal over the checkpointed frame is the same double
      // (1.0 / N in IEEE either way) with zero per-round plan weight.
      // max(count, 1): an empty graph folds 1/N at PLAN time, where
      // ANSI division-by-zero throws — the per-row form never evaluated
      // on an empty frame. deg is empty whenever nn would be 0, so the
      // clamp can never reach a produced row; every nonempty graph is
      // bit-identical.
      val nn = math.max(deg.count(), 1L).toDouble
      // ranks: (node, outdeg, p) — p0 = 1/N uniformly
      var ranks = deg
        .select(col("node"), col("outdeg"), (lit(1.0) / lit(nn)).as("p"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(ranks, col("src") === col("node"))
          .select(col("dst"),
            floor(lit(0.85) * col("p") / col("outdeg").cast(DoubleType) * 1e9
              + 0.5).cast(LongType).as("iv"))
          .groupBy("dst").agg(sum("iv").as("isum"))
        ranks = deg
          .join(contrib, col("node") === col("dst"))
          .select(col("node"), col("outdeg"),
            (lit(0.15) / lit(nn) +
              col("isum").cast(DoubleType) / 1e9).as("p"))
      }
      ranks.select(col("node"), col("p").as("pagerank"))
        .orderBy(col("pagerank").desc, col("node")).limit(20)
    }),

    // Theta-sketch set algebra (round 5): day-over-day audience retention
    // from MERGEABLE sketches. Unlike HLL (union-only), theta sketches
    // support intersection and difference — retained = |day ∩ day+1|,
    // churned = |day ∖ day+1| — computed from the per-day sketches alone.
    // At 100 TB the raw (user, day) distinct pass shuffles every
    // membership; the sketch path keeps O(days × 4 KB) state that a
    // pipeline stores and re-intersects nightly without rescanning
    // history (the set-operation twin of agg_hll_incremental). Below
    // ~4096 uniques per day the sketch is in exact mode, so
    // AnalyticsSpec pins estimates == exact counts at test SF; at real
    // scale the estimate carries ~1/√k relative error. No SQL oracle
    // (sketch internals are not SQL-expressible).
    "agg_theta_sketch" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("theta_sketch_agg(user_id)").as("sk"))
      val nxt = daily.select(date_sub(col("day"), 1).as("day"),
        col("sk").as("sk_next"))
      daily.join(nxt, "day")
        .select(col("day"),
          expr("theta_sketch_estimate(sk)").as("est_today"),
          expr("theta_sketch_estimate(sk_next)").as("est_next"),
          expr("theta_sketch_estimate(theta_intersection(sk, sk_next))")
            .as("est_retained"),
          expr("theta_sketch_estimate(theta_difference(sk, sk_next))")
            .as("est_churned"))
        .orderBy("day")
    }),

    // KLL quantile sketches (round 5): mergeable per-group quantile state.
    // agg_percentile is the exact twin (full sort-based percentile);
    // approx_percentile is Spark's built-in one-shot sketch. The KLL form
    // adds what a pipeline actually stores: per-segment sketches that
    // MERGE — the ALL row is built from the five per-type sketches via
    // kll_merge_agg_double, never from re-reading the events (the
    // quantile twin of agg_hll_incremental's union-from-state). Rank
    // error ≤ ~1.65% at the default k=200 (Karnin-Lang-Liberty 2016),
    // pinned by AnalyticsSpec. No SQL oracle (sketch estimates).
    "agg_kll_quantiles" -> ((s, d) => {
      val sk = Tables.events(s, d)
        .groupBy("event_type")
        .agg(expr("kll_sketch_agg_double(value)").as("sk"),
          count(lit(1)).as("n"))
      def quantiles(df: org.apache.spark.sql.DataFrame) =
        df.select(col("event_type"),
          expr("kll_sketch_get_quantile_double(sk, 0.5)").as("p50"),
          expr("kll_sketch_get_quantile_double(sk, 0.9)").as("p90"),
          expr("kll_sketch_get_quantile_double(sk, 0.99)").as("p99"),
          col("n"))
      val all = sk.agg(expr("kll_merge_agg_double(sk)").as("sk"),
          sum("n").as("n"))
        .select(lit("ALL").as("event_type"), col("sk"), col("n"))
      quantiles(sk.select(col("event_type"), col("sk"), col("n")))
        .unionByName(quantiles(all))
        .orderBy("event_type")
    }),

    // top-k full user journeys: the most common ordered event-type
    // PATHS (agg_transitions gives the one-step Markov view; this is
    // the "what do users actually do, start to finish" readout product
    // flow analysis keys on). Each user's path is their ts-ordered
    // event sequence truncated to the first 8 steps (path analysis
    // always truncates — unbounded paths are all unique). Determinism:
    // the sequence is materialized by array_sort over (ts, event_id,
    // type) structs — order-insensitive under any partial-agg split,
    // and the (ts, event_id) tiebreak is total. Scale: one user-keyed
    // agg carrying ≤8 small structs per user, one path-keyed count
    // with map-side partials, top-20 via TakeOrderedAndProject.
    "agg_top_paths" -> ((s, d) => {
      val p = Tables.events(s, d)
        .groupBy("user_id")
        .agg(array_join(transform(slice(array_sort(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))), 1, 8),
          x => x.getField("event_type")), ">").as("path"))
      val c = p.groupBy("path").agg(count(lit(1)).as("n_users"))
      val top = c.orderBy(col("n_users").desc, col("path")).limit(20)
      val w = Window.orderBy(col("n_users").desc, col("path"))
      top.withColumn("rank", row_number().over(w).cast(LongType))
        .select("rank", "path", "n_users")
        .orderBy("rank")
    }),

    // first-order Markov transition matrix over per-user event sequences
    // — the behavioral-model statistic under next-event prediction and
    // anomaly scoring. One lag window on the user_id partitioning (the
    // session/funnel exchange), then a partial-aggregated (prev, next)
    // count; transition probabilities divide two exact integers in
    // double space once (engine-identical), with the row-count window
    // running over the O(types²) aggregate, never the event stream.
    "agg_transitions" -> ((s, d) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tot = Window.partitionBy("prev_type")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(ord))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("prev_type"), col("next_type"), col("n"),
          (col("n").cast(DoubleType) /
            sum("n").over(tot).cast(DoubleType)).as("p"))
        .orderBy("prev_type", "next_type")
    })
  )

  /** Poisson(1) CDF thresholds, computed once and emitted as the SAME
    * double literals into the Spark expression and the oracle SQL —
    * Double.toString is the shortest round-tripping decimal, and both
    * engines parse it back to the identical bit pattern. */
  private[graft] val poissonThresholds: Seq[Double] = {
    var fact = 1.0
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cum += math.exp(-1.0) / fact
      cum
    }
  }

  /** inverse-CDF weight: the first k whose threshold exceeds u, else 8 */
  private[graft] def poissonCase(u: String): String =
    "CASE " + poissonThresholds.zipWithIndex.map { case (t, k) =>
      s"WHEN $u < $t THEN $k" }.mkString(" ") + " ELSE 8 END"

  override def oracles: Map[String, String] = Map(
    "profile_bootstrap_ci" -> {
      val u = "(CAST('0x' || substr(md5(event_id || '_' || r), 1, 8) " +
        "AS UBIGINT) + 0.5) / 4294967296.0"
      s"""WITH ev AS (SELECT event_id, value FROM events
        |  WHERE event_type = 'purchase'),
        |fan AS (SELECT event_id, value, r AS rep,
        |    ${poissonCase(u)} AS w
        |  FROM ev, unnest(range(0, 32)) AS t(r)),
        |rm AS (SELECT rep,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * w) AS DOUBLE)
        |      / CAST(SUM(w) AS DOUBLE) AS m
        |  FROM fan GROUP BY rep),
        |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS rn
        |  FROM rm),
        |pt AS (SELECT COUNT(*) AS n_purchases,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |      AS point_mean
        |  FROM ev)
        |SELECT n_purchases, point_mean,
        |  (SELECT m FROM rk WHERE rn = 2) AS ci_lo,
        |  (SELECT m FROM rk WHERE rn = 31) AS ci_hi
        |FROM pt""".stripMargin
    },
    // generated projection CTE with corpus-fitted quantized axes
    "vec_pca_project" -> pcaDuck(),
    // verbatim replay of the CM sketch: same md5 cell hashes, same
    // depth×width groupBy, same min-over-rows probe lookup
    "agg_countmin" ->
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' '))
        |    AS token FROM documents),
        |cells AS (SELECT token, r,
        |    CAST(CAST('0x' || substr(md5(token || ':' ||
        |      CAST(r AS VARCHAR)), 1, 8) AS UBIGINT) % 2048 AS BIGINT)
        |      AS c
        |  FROM toks, unnest(range(0, 4)) AS u(r)),
        |sketch AS (SELECT r, c, COUNT(*) AS n FROM cells GROUP BY r, c),
        |probes(token) AS (VALUES ('hash'), ('join'), ('scan'), ('the'),
        |  ('zz_absent')),
        |pc AS (SELECT token, r,
        |    CAST(CAST('0x' || substr(md5(token || ':' ||
        |      CAST(r AS VARCHAR)), 1, 8) AS UBIGINT) % 2048 AS BIGINT)
        |      AS c
        |  FROM probes, unnest(range(0, 4)) AS u(r))
        |SELECT pc.token, CAST(MIN(COALESCE(sketch.n, 0)) AS BIGINT)
        |    AS est_count
        |FROM pc LEFT JOIN sketch ON pc.r = sketch.r AND pc.c = sketch.c
        |GROUP BY pc.token ORDER BY pc.token""".stripMargin,
    "agg_top_paths" ->
      """WITH p AS (SELECT user_id,
        |    array_to_string(
        |      (list(event_type ORDER BY ts, event_id))[1:8], '>') AS path
        |  FROM events GROUP BY user_id),
        |c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path),
        |top AS (SELECT path, n_users FROM c
        |  ORDER BY n_users DESC, path LIMIT 20)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC, path)
        |    AS BIGINT) AS rank,
        |  path, n_users
        |FROM top ORDER BY rank""".stripMargin,
    "agg_transitions" ->
      """WITH p AS (SELECT event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
        |        AS DOUBLE) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "profile_regression" ->
      """WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |  SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,2))) AS sxx,
        |  SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(22,4))) AS sxy
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |     - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |     - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS slope,
        |  (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
        |   - (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |     / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |     * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |  / CAST(n AS DOUBLE) AS intercept
        |FROM a ORDER BY l_returnflag""".stripMargin,
    // power-of-two decay: value·10⁶/2^k is an exact halving chain,
    // floor-quantized per event → order-free integer sum (see query)
    "agg_decay" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS adt FROM events),
        |e AS (SELECT event_type, value,
        |    (CAST(1 AS BIGINT) << least(
        |      date_diff('day', CAST(ts AS DATE), adt) // 7, 62)) AS p2
        |  FROM events, a)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS raw_sum,
        |  CAST(SUM(CAST(floor(value * 1000000.0 / CAST(p2 AS DOUBLE)
        |      + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS decayed_sum
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact decimal moments, then the identical double chain — see the
    // query's scaladoc for the determinism argument
    "profile_ab_test" ->
      """WITH a AS (SELECT event_type,
        |  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_a,
        |  CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_b,
        |  SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(18,2)) END) AS s_a,
        |  SUM(CASE WHEN user_id % 2 <> 0
        |      THEN CAST(value AS DECIMAL(18,2)) END) AS s_b,
        |  SUM(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value * value AS DECIMAL(18,4)) END) AS q_a,
        |  SUM(CASE WHEN user_id % 2 <> 0
        |      THEN CAST(value * value AS DECIMAL(18,4)) END) AS q_b
        | FROM events GROUP BY event_type),
        |b AS (SELECT event_type, n_a, n_b,
        |  CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
        |  CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
        |  (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |     / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS v_a,
        |  (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |     / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS v_b
        | FROM a WHERE n_a > 1 AND n_b > 1)
        |SELECT event_type, n_a, n_b, mean_a, mean_b,
        |  (mean_a - mean_b) / sqrt(v_a / CAST(n_a AS DOUBLE)
        |    + v_b / CAST(n_b AS DOUBLE)) AS t_stat,
        |  CAST(CASE WHEN abs((mean_a - mean_b)
        |      / sqrt(v_a / CAST(n_a AS DOUBLE)
        |        + v_b / CAST(n_b AS DOUBLE))) > 1.96
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_significant
        |FROM b ORDER BY event_type""".stripMargin,
    "validate_kanon" ->
      """WITH c AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS cls
        |  FROM customer GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_classes,
        |  COUNT(*) FILTER (WHERE cls < 5) AS n_small_classes,
        |  CAST(SUM(cls) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN cls < 5 THEN cls ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk,
        |  CAST(SUM(CASE WHEN cls < 5 THEN cls ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(cls) AS DOUBLE) AS suppression_rate
        |FROM c""".stripMargin,
    "graph_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |w AS (SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a)
        |SELECT COUNT(*) AS n_triangles
        |FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b""".stripMargin,
    // bounded-depth recursive replay: UNION (distinct) recursion over
    // (node, dist) states with the same dist < 6 contract keeps the
    // state space finite; MIN(dist) per node = the BFS level
    "graph_bfs" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok,
        |    l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |n AS (SELECT a AS x, b AS y FROM e
        |  UNION ALL SELECT b AS x, a AS y FROM e),
        |src AS (SELECT x AS node FROM (SELECT x, COUNT(*) AS deg
        |  FROM n GROUP BY x ORDER BY deg DESC, x LIMIT 1)),
        |bfs AS (
        |  SELECT node, CAST(0 AS BIGINT) AS dist FROM src
        |  UNION
        |  SELECT n.y AS node, bfs.dist + 1 AS dist
        |  FROM bfs JOIN n ON n.x = bfs.node WHERE bfs.dist < 6)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin,
    "graph_jaccard" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (SELECT a.pk AS a, b.pk AS b
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |n AS (SELECT a AS x, b AS y FROM e
        |  UNION ALL SELECT b AS x, a AS y FROM e),
        |deg AS (SELECT x, COUNT(*) AS deg FROM n GROUP BY x),
        |cm AS (SELECT n1.x AS u, n2.y AS v, COUNT(*) AS common
        |  FROM n n1 JOIN n n2 ON n1.y = n2.x AND n1.x < n2.y
        |  GROUP BY 1, 2),
        |j AS (SELECT cm.u, cm.v, cm.common,
        |    du.deg + dv.deg - cm.common AS uni,
        |    CAST(cm.common AS DOUBLE)
        |      / CAST(du.deg + dv.deg - cm.common AS DOUBLE) AS jaccard
        |  FROM cm JOIN deg du ON du.x = cm.u JOIN deg dv ON dv.x = cm.v)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY jaccard DESC, u, v)
        |    AS BIGINT) AS rank,
        |  u, v, common, uni, jaccard
        |FROM j ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin,
    "agg_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |no AS (SELECT COUNT(DISTINCT ok) AS n FROM li),
        |it AS (SELECT pk, COUNT(*) AS ci FROM li GROUP BY pk),
        |pr AS (SELECT a.pk AS a, b.pk AS b, COUNT(*) AS cab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sc AS (SELECT pr.a, pr.b, pr.cab, ia.ci AS ca, ib.ci AS cb,
        |    floor(CAST(pr.cab AS DOUBLE) * CAST(no.n AS DOUBLE)
        |      / CAST(ia.ci * ib.ci AS DOUBLE) * 1e6 + 0.5) / 1e6 AS lift,
        |    floor(CAST(pr.cab AS DOUBLE) / CAST(ia.ci AS DOUBLE)
        |      * 1e6 + 0.5) / 1e6 AS confidence
        |  FROM pr JOIN it ia ON ia.pk = pr.a JOIN it ib ON ib.pk = pr.b,
        |    no)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, a, b)
        |    AS BIGINT) AS rank,
        |  a, b, cab, lift, confidence
        |FROM sc ORDER BY lift DESC, a, b LIMIT 20""".stripMargin,
    "agg_time_to_convert" ->
      """WITH f AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t1
        |  FROM events WHERE event_type IN ('signup', 'purchase')
        |  GROUP BY user_id
        |  HAVING MIN(CASE WHEN event_type = 'signup' THEN ts END)
        |    IS NOT NULL),
        |conv AS (SELECT user_id,
        |    CASE WHEN t1 > t0
        |      THEN (epoch_us(t1) - epoch_us(t0)) // 1000000 END AS delay_s
        |  FROM f),
        |c AS (SELECT COUNT(*) AS n_signup, COUNT(delay_s) AS n_converted
        |  FROM conv),
        |rk AS (SELECT delay_s, user_id,
        |    ROW_NUMBER() OVER (ORDER BY delay_s, user_id) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM conv WHERE delay_s IS NOT NULL),
        |p50 AS (SELECT delay_s AS p50_s FROM rk
        |  WHERE rn = greatest((n * 50 + 99) // 100, 1)),
        |p90 AS (SELECT delay_s AS p90_s FROM rk
        |  WHERE rn = greatest((n * 90 + 99) // 100, 1))
        |SELECT n_signup, n_converted,
        |  CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE)
        |    AS conversion,
        |  p50_s, p90_s
        |FROM c LEFT JOIN p50 ON TRUE LEFT JOIN p90 ON TRUE""".stripMargin,
    "agg_cohort_ltv" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      / 7.0) AS BIGINT) AS week,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM ev
        |  GROUP BY user_id),
        |sz AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM c
        |  GROUP BY cohort_week),
        |o AS (SELECT c.cohort_week, ev.week - c.cohort_week AS week_offset,
        |    CAST(SUM(ev.cents) AS BIGINT) AS rev,
        |    COUNT(DISTINCT ev.user_id) AS n_active
        |  FROM ev JOIN c ON ev.user_id = c.user_id
        |  GROUP BY 1, 2),
        |w AS (SELECT o.*, sz.cohort_size,
        |    CAST(SUM(rev) OVER (PARTITION BY o.cohort_week
        |      ORDER BY week_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_rev
        |  FROM o JOIN sz ON sz.cohort_week = o.cohort_week)
        |SELECT cohort_week, week_offset, cohort_size, n_active,
        |  CAST(cum_rev AS DOUBLE) / CAST(cohort_size AS DOUBLE) / 100.0
        |    AS ltv_per_user
        |FROM w ORDER BY cohort_week, week_offset""".stripMargin,
    "agg_new_vs_returning" ->
      """WITH bd AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS d0 FROM bd GROUP BY user_id)
        |SELECT bd.day, COUNT(*) AS n_active,
        |  CAST(SUM(CASE WHEN bd.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  COUNT(*) - CAST(SUM(CASE WHEN bd.day = f.d0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returning
        |FROM bd JOIN f USING (user_id)
        |GROUP BY bd.day ORDER BY day""".stripMargin,
    "agg_rfm" ->
      """WITH bu AS (SELECT user_id, MAX(CAST(ts AS DATE)) AS lastd,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY user_id),
        |edge AS (SELECT MAX(lastd) AS maxd FROM bu),
        |pu AS (SELECT user_id,
        |    CAST(date_diff('day', lastd, (SELECT maxd FROM edge))
        |      AS BIGINT) AS rec,
        |    freq, cents,
        |    least(CAST(floor(cents / 1000.0) AS BIGINT), 10000) AS mq
        |  FROM bu),
        |th AS (SELECT
        |    quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS tr,
        |    quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS tf,
        |    quantile_cont(mq, [0.2, 0.4, 0.6, 0.8]) AS tm
        |  FROM pu),
        |sc AS (SELECT
        |    6 - (1
        |      + CASE WHEN CAST(rec AS DOUBLE) > tr[1] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(rec AS DOUBLE) > tr[2] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(rec AS DOUBLE) > tr[3] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(rec AS DOUBLE) > tr[4] THEN 1 ELSE 0 END)
        |      AS r,
        |    1 + CASE WHEN CAST(freq AS DOUBLE) > tf[1] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(freq AS DOUBLE) > tf[2] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(freq AS DOUBLE) > tf[3] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(freq AS DOUBLE) > tf[4] THEN 1 ELSE 0 END
        |      AS f,
        |    1 + CASE WHEN CAST(mq AS DOUBLE) > tm[1] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(mq AS DOUBLE) > tm[2] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(mq AS DOUBLE) > tm[3] THEN 1 ELSE 0 END
        |      + CASE WHEN CAST(mq AS DOUBLE) > tm[4] THEN 1 ELSE 0 END
        |      AS m,
        |    cents
        |  FROM pu, th)
        |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
        |  CAST(m AS BIGINT) AS m, COUNT(*) AS n_users,
        |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_spend
        |FROM sc GROUP BY r, f, m ORDER BY r, f, m""".stripMargin,
    "agg_retention" ->
"""WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      / 7.0) AS BIGINT) AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw
        |  GROUP BY user_id)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(*) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "agg_attribution" ->
      """WITH t AS (SELECT user_id, ts, event_id, event_type, value,
        |    FIRST_VALUE(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS) OVER wb AS first_ch,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS) OVER wb AS last_ch
        |  FROM events
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    COALESCE(first_ch, 'direct') AS first_ch,
        |    COALESCE(last_ch, 'direct') AS last_ch
        |  FROM t WHERE event_type = 'purchase'),
        |u AS (SELECT first_ch AS channel, 'f' AS m, v FROM p
        |  UNION ALL SELECT last_ch AS channel, 'l' AS m, v FROM p)
        |SELECT channel,
        |  CAST(SUM(CASE WHEN m = 'f' THEN v END) AS DOUBLE)
        |    AS first_touch_rev,
        |  CAST(SUM(CASE WHEN m = 'l' THEN v END) AS DOUBLE)
        |    AS last_touch_rev,
        |  CAST(SUM(CASE WHEN m = 'f' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchases
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin,
    "agg_copurchase" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |p AS (SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_orders
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, n_orders FROM p
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    "agg_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
        |b AS (SELECT a.event_type AS type_a, c.event_type AS type_b,
        |    COUNT(*) AS n_both
        |  FROM ut a JOIN ut c ON a.user_id = c.user_id
        |  WHERE a.event_type < c.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE)
        |    AS jaccard
        |FROM b JOIN sz sa ON b.type_a = sa.event_type
        |       JOIN sz sb ON b.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    // decimal moments reach double space through a VARCHAR round-trip
    // on the DuckDB side (round-9 cross-SF sweep): DuckDB's direct
    // decimal→double is unscaled/10^scale — TWO roundings once the
    // unscaled value tops 2^53 (syy ≈ 7e13 at scale 4 does), which
    // drifted 1 ulp from Spark's correctly-rounded BigDecimal cast at
    // sf0.001; strtod is correctly rounded, so the string path always
    // agrees with Spark
    "profile_corr" ->
      """WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |  SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,2))) AS sxx,
        |  SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(22,4))) AS syy,
        |  SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(22,4))) AS sxy
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |     - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
        |  AS corr_qty_price
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "agg_entropy" ->
      s"""WITH c AS (SELECT user_id % 10 AS bucket, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS n_events,
        |    COUNT(*) AS n_types,
        |    SUM(CAST(floor(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
        |      * $EntScale + 0.5) AS BIGINT)) AS tsum
        |  FROM c GROUP BY bucket)
        |SELECT bucket, n_events, n_types,
        |  floor((log2(CAST(n_events AS DOUBLE))
        |    - (CAST(tsum AS DOUBLE) / $EntScale) / CAST(n_events AS DOUBLE))
        |    * $EntScale + 0.5) / $EntScale AS entropy
        |FROM g ORDER BY bucket""".stripMargin,
    "vec_centroid" ->
      """WITH x AS (SELECT label, i AS dim,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
        |      AS iv
        |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i))
        |SELECT label, dim, COUNT(*) AS n,
        |  CAST(SUM(iv) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE) AS centroid
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "vec_kmeans" -> kmeansDuck(),
    "vec_covariance" ->
      """WITH q AS (SELECT vec_id, i AS dim,
        |    CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e6 + 0.5)
        |      AS BIGINT) AS iv
        |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
        |nn AS (SELECT COUNT(*) AS n_vecs FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |s1 AS (SELECT dim, CAST(SUM(iv) AS BIGINT) AS s
        |  FROM q GROUP BY dim),
        |s2 AS (SELECT a.dim AS dim_i, b.dim AS dim_j,
        |    CAST(SUM(a.iv * b.iv) AS BIGINT) AS sij
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        |  GROUP BY a.dim, b.dim)
        |SELECT dim_i, dim_j, nn.n_vecs,
        |  (CAST(sij AS DOUBLE) - CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)
        |     / CAST(nn.n_vecs AS DOUBLE)) / CAST(nn.n_vecs AS DOUBLE) / 1e12
        |    AS cov
        |FROM s2 CROSS JOIN nn
        |JOIN s1 sa ON s2.dim_i = sa.dim
        |JOIN s1 sb ON s2.dim_j = sb.dim
        |ORDER BY dim_i, dim_j""".stripMargin,
    "join_fuzzy" ->
      """WITH c AS (SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk
        |  FROM customer)
        |SELECT a.c_custkey AS a_key, COUNT(*) AS n_matches,
        |  MIN(b.c_custkey) AS first_match
        |FROM c a JOIN c b
        |  ON a.blk = b.blk AND levenshtein(a.c_name, b.c_name) <= 1
        |WHERE a.c_custkey % 2 = 0 AND b.c_custkey % 2 = 1
        |GROUP BY a.c_custkey ORDER BY a_key""".stripMargin,
    "graph_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
        |    l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src),
        |nn AS (SELECT COUNT(*) AS nn FROM deg),
        |r0 AS (SELECT node, outdeg, CAST(1 AS DOUBLE) / CAST(nn AS DOUBLE) AS p,
        |    nn FROM deg, nn),
        |c1 AS (SELECT dst, SUM(CAST(floor(CAST(0.85 AS DOUBLE) * p
        |      / CAST(outdeg AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS isum
        |  FROM e JOIN r0 ON e.src = r0.node GROUP BY dst),
        |r1 AS (SELECT deg.node, deg.outdeg,
        |    CAST(0.15 AS DOUBLE) / CAST(nn.nn AS DOUBLE)
        |      + CAST(isum AS DOUBLE) / 1e9 AS p, nn.nn
        |  FROM deg CROSS JOIN nn JOIN c1 ON deg.node = c1.dst),
        |c2 AS (SELECT dst, SUM(CAST(floor(CAST(0.85 AS DOUBLE) * p
        |      / CAST(outdeg AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS isum
        |  FROM e JOIN r1 ON e.src = r1.node GROUP BY dst),
        |r2 AS (SELECT deg.node, deg.outdeg,
        |    CAST(0.15 AS DOUBLE) / CAST(nn.nn AS DOUBLE)
        |      + CAST(isum AS DOUBLE) / 1e9 AS p, nn.nn
        |  FROM deg CROSS JOIN nn JOIN c2 ON deg.node = c2.dst),
        |c3 AS (SELECT dst, SUM(CAST(floor(CAST(0.85 AS DOUBLE) * p
        |      / CAST(outdeg AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS isum
        |  FROM e JOIN r2 ON e.src = r2.node GROUP BY dst),
        |r3 AS (SELECT deg.node, deg.outdeg,
        |    CAST(0.15 AS DOUBLE) / CAST(nn.nn AS DOUBLE)
        |      + CAST(isum AS DOUBLE) / 1e9 AS p, nn.nn
        |  FROM deg CROSS JOIN nn JOIN c3 ON deg.node = c3.dst)
        |SELECT node, p AS pagerank FROM r3
        |ORDER BY pagerank DESC, node LIMIT 20""".stripMargin
  )
}
