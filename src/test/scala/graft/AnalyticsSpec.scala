package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §2.15 analytics operators: quantitative invariants beyond the DuckDB
  * hash oracle (which already pins exact values at sf0.01). */
class AnalyticsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("profile_corr emits valid correlations for every return flag") {
    val rows = SparkEntry.queries("profile_corr")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val c = r.getAs[Double]("corr_qty_price")
      assert(!c.isNaN && math.abs(c) <= 1.0, s"corr out of range: $c")
    }
  }

  test("graph_bfs size-gated local solve and frontier loop agree") {
    // round-15 gate: small graphs BFS driver-side; pin the two regimes
    // node-for-node and dist-for-dist on the real corpus graph
    val local = regimesAgree("graph_bfs gated") {
      SparkEntry.queries("graph_bfs")(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(local.values.min == 0L && local.values.max <= 6L)
  }

  test("agg_entropy bounded by log2(n_types) and nonnegative") {
    SparkEntry.queries("agg_entropy")(spark, sf).collect().foreach { r =>
      val ent = r.getAs[Double]("entropy")
      val hi = math.log(r.getAs[Long]("n_types").toDouble) / math.log(2.0)
      // 1e-4 slack: entropy is quantized at 1e-4 by design
      assert(ent >= -1e-4 && ent <= hi + 1e-4,
        s"entropy $ent outside [0, log2(n_types)=$hi]")
    }
  }

  test("vec_centroid matches a directly computed per-label mean") {
    val got = SparkEntry.queries("vec_centroid")(spark, sf)
      .where(col("dim") === 0).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("centroid")).toMap
    val direct = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding").getItem(0).cast("double").as("v"))
      .groupBy("label").agg(avg("v").as("m")).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Double]("m")).toMap
    assert(got.keySet == direct.keySet)
    got.foreach { case (l, c) =>
      // quantization at 1e-6 per component; n ≤ a few hundred per label
      assert(math.abs(c - direct(l)) < 1e-4, s"label $l: $c vs ${direct(l)}")
    }
  }

  test("vec_covariance diagonal matches direct variance; PSD-consistent") {
    val got = SparkEntry.queries("vec_covariance")(spark, sf).collect()
      .map(r => (r.getAs[Long]("dim_i"), r.getAs[Long]("dim_j")) ->
        r.getAs[Double]("cov")).toMap
    assert(got.size == 64 * 65 / 2)
    // every diagonal entry is a population variance → nonnegative, and
    // |cov(i,j)| ≤ sqrt(var_i · var_j) (Cauchy–Schwarz) up to the 1e-6
    // quantization slack
    got.foreach { case ((i, j), c) =>
      if (i == j) assert(c >= -1e-9, s"var($i) negative: $c")
      else {
        val bound = math.sqrt(got((i, i)) * got((j, j))) + 1e-6
        assert(math.abs(c) <= bound, s"cov($i,$j)=$c exceeds $bound")
      }
    }
    // spot-check dim 0 against a direct driver computation
    val xs = Tables.embeddings(spark, sf)
      .select(col("embedding").getItem(0).cast("double")).collect()
      .map(_.getDouble(0))
    val m = xs.sum / xs.length
    val direct = xs.map(x => (x - m) * (x - m)).sum / xs.length
    assert(math.abs(got((0L, 0L)) - direct) < 1e-4,
      s"var(0): ${got((0L, 0L))} vs $direct")
    // null embedding rows must not inflate n (public-API contract):
    // adding a null row leaves every covariance entry unchanged
    val base = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
    val clean = operators.AnalyticsOps
      .covarianceFrame(base.toDF("vec_id", "embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val withNull = operators.AnalyticsOps
      .covarianceFrame((base.map { case (id, v) => (id, Some(v)) } :+
        (4L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(clean == withNull,
      s"null row changed covariance: $clean vs $withNull")
  }

  test("join_fuzzy finds the planted one-edit neighbor pair") {
    // Customer#000000100 vs Customer#000000101 share block "0000010"
    // and differ by exactly one substitution
    val m = SparkEntry.queries("join_fuzzy")(spark, sf)
      .where(col("a_key") === 100).collect()
    assert(m.nonEmpty, "custkey 100 should match at least custkey 101")
    assert(m.head.getAs[Long]("n_matches") >= 1)
  }

  test("join_fuzzy matches all verify at edit distance <= 1") {
    // re-derive the pair list and recheck the edit distance holds on
    // every pair the blocked join admitted
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 10, 7).as("blk"))
    val a = cust.where(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("a_key"), col("c_name").as("a_name"),
        col("blk"))
    val b = cust.where(col("c_custkey") % 2 === 1)
      .select(col("c_custkey").as("b_key"), col("c_name").as("b_name"),
        col("blk").as("blk_b"))
    val bad = a.join(b, col("blk") === col("blk_b") &&
        levenshtein(col("a_name"), col("b_name")) <= 1)
      .where(levenshtein(col("a_name"), col("b_name")) > 1).count()
    assert(bad == 0)
  }

  test("graph_pagerank: 20 rows, positive ranks, descending order") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
    assert(rows.length == 20)
    val ps = rows.map(_.getAs[Double]("pagerank"))
    assert(ps.forall(p => p > 0.0 && p < 1.0))
    assert(ps.sameElements(ps.sorted.reverse), "not rank-descending")
  }

  test("agg_countmin never underestimates and respects the eps*N bound") {
    val est = SparkEntry.queries("agg_countmin")(spark, sf).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("est_count")).toMap
    val toks = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("t"))
    val n = toks.count()
    val exact = toks.where(col("t").isin(est.keys.toSeq: _*))
      .groupBy("t").count().collect()
      .map(r => r.getAs[String]("t") -> r.getAs[Long]("count")).toMap
    // CMS guarantee: overestimate-only, within eps*N (eps = e/2048)
    val eps = math.E / 2048
    est.foreach { case (t, e) =>
      val tru = exact.getOrElse(t, 0L)
      assert(e >= tru, s"$t underestimated: $e < $tru")
      assert(e <= tru + eps * n * 3, s"$t over bound: $e vs $tru (N=$n)")
    }
    // the absent control token exposes the collision floor only
    assert(est("zz_absent") <= (eps * n).toLong)
  }

  test("agg_countmin is stable under repartitioning (cell-wise merge)") {
    def run(parts: Int): Map[String, Long] = {
      val toks = Tables.documents(spark, sf)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .repartition(parts)
      graft.operators.AnalyticsOps
        .countMinEstimates(toks, Seq("hash", "the")).collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("est_count"))
        .toMap
    }
    assert(run(2) == run(13))
  }

  test("agg_bitmap_distinct equals exact countDistinct per type") {
    val got = SparkEntry.queries("agg_bitmap_distinct")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_distinct"))
      .toMap
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
    assert(got == exact)
  }

  test("agg_retention: offset-0 row equals the cohort size") {
    // every user is active in their own first week by construction, so
    // the week_offset=0 count IS the cohort size, and no offset row can
    // exceed it
    val rows = SparkEntry.queries("agg_retention")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cohortSize = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    assert(cohortSize.nonEmpty)
    rows.foreach { case (c, _, n) =>
      assert(n <= cohortSize(c), s"cohort $c retention exceeds its size")
    }
  }

  test("validate_kanon accounts for every row with a sane rate") {
    val r = SparkEntry.queries("validate_kanon")(spark, sf).collect().head
    assert(r.getAs[Long]("n_rows") == Tables.customer(spark, sf).count())
    val rate = r.getAs[Double]("suppression_rate")
    assert(rate >= 0.0 && rate <= 1.0)
    assert(r.getAs[Long]("n_rows_at_risk") <= r.getAs[Long]("n_rows"))
  }

  test("win_abc_pareto shares are monotone and end at 1.0 per group") {
    val byGroup = SparkEntry.queries("win_abc_pareto")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rk"),
        r.getAs[Double]("cum_share"), r.getAs[String]("abc_class")))
      .groupBy(_._1)
    byGroup.foreach { case (g, rows) =>
      val ordered = rows.sortBy(_._2)
      val shares = ordered.map(_._3)
      assert(shares.zip(shares.tail).forall { case (a, b) => b >= a },
        s"group $g: cum_share not monotone")
      assert(math.abs(shares.last - 1.0) < 1e-9, s"group $g ends at ${shares.last}")
      val classes = ordered.map(_._4)
      assert(classes.mkString.matches("A+B*C*"), s"group $g classes: ${classes.mkString}")
    }
  }

  test("graph_pagerank is stable under input repartitioning") {
    // integer-quantized contributions make the iteration aggregation-
    // order-free: a 7-partition layout must give bit-equal ranks
    val base = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val again = SparkEntry.queries("graph_pagerank")(spark, sf)
      .repartition(7).collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(x => (-x._2, x._1))
    assert(base.sameElements(again))
  }

  test("agg_theta_sketch set algebra is exact below sketch capacity") {
    // per-day uniques at test SF are far under the 4096-entry nominal, so
    // theta sketches are in exact mode: every estimate (including the
    // intersection and difference, which HLL cannot express) must equal
    // the true set cardinality. The ≈1/√k error regime only starts past
    // capacity — this pins the exact regime; the sketch path's value at
    // scale is the O(days × 4 KB) mergeable state.
    val got = SparkEntry.queries("agg_theta_sketch")(spark, sf).collect()
    assert(got.nonEmpty)
    val byDay = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .collect().groupBy(_.getDate(0))
      .map { case (k, v) => k.toLocalDate -> v.map(_.getLong(1)).toSet }
    got.foreach { r =>
      val day = r.getDate(0).toLocalDate
      val today = byDay(day)
      val next = byDay(day.plusDays(1))
      assert(r.getAs[Long]("est_today") == today.size.toLong, s"$day today")
      assert(r.getAs[Long]("est_next") == next.size.toLong, s"$day next")
      assert(r.getAs[Long]("est_retained") == (today & next).size.toLong,
        s"$day retained")
      assert(r.getAs[Long]("est_churned") == (today -- next).size.toLong,
        s"$day churned")
    }
  }

  test("agg_kll_quantiles is monotone and within the KLL rank bound") {
    val rows = SparkEntry.queries("agg_kll_quantiles")(spark, sf).collect()
    assert(rows.length == 6) // 5 event types + merged ALL
    val all = Tables.events(spark, sf)
      .select(col("value").cast("double")).collect()
      .map(_.getDouble(0)).sorted
    rows.foreach { r =>
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(p50 <= p90 && p90 <= p99,
        s"${r.getString(0)}: quantiles not monotone ($p50, $p90, $p99)")
      if (r.getString(0) == "ALL") {
        // the ALL row is merged from the five per-type sketches, never
        // from re-reading events — rank error must still respect the KLL
        // k=200 bound (~1.65%) plus discreteness slack
        for ((q, est) <- Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99)) {
          val rank = all.count(_ <= est).toDouble / all.length
          assert(math.abs(rank - q) <= 0.025,
            s"ALL p$q: est $est has true rank $rank")
        }
      }
    }
  }

  test("agg_transitions rows form a stochastic matrix that conserves counts") {
    val rows = SparkEntry.queries("agg_transitions")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("prev_type")).foreach { case (t, rs) =>
      val total = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(total - 1.0) < 1e-9, s"$t: probabilities sum to $total")
    }
    // every event except each user's first is exactly one transition
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == expected)
  }

  test("join_asof_nearest matches a brute-force nearest-click model") {
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicksByUser = rows.filter(_._3 == "click")
      .groupBy(_._2).view.mapValues(_.map(e => (e._4, e._1))).toMap
    val want = rows.filter(_._3 == "purchase").map {
      case (pid, uid, _, pus) =>
        val cs = clicksByUser.getOrElse(uid, Array.empty[(Long, Long)])
        // backward = latest (ts, id) ≤ purchase position in the
        // (ts, id) order; forward = earliest after it
        val back = cs.filter(c => c._1 < pus ||
          (c._1 == pus && c._2 < pid)).sorted.lastOption
        val fwd = cs.filter(c => c._1 > pus ||
          (c._1 == pus && c._2 > pid)).sorted.headOption
        val (cid, delta) = (back, fwd) match {
          case (None, None) => (-1L, -1L)
          case (Some(b), None) => (b._2, pus - b._1)
          case (None, Some(f)) => (f._2, f._1 - pus)
          case (Some(b), Some(f)) =>
            if (pus - b._1 <= f._1 - pus) (b._2, pus - b._1)
            else (f._2, f._1 - pus)
        }
        pid -> ((uid, cid, delta))
    }.toMap
    val got = SparkEntry.queries("join_asof_nearest")(spark, sf).collect()
      .map(r => r.getAs[Long]("p_id") -> ((r.getAs[Long]("user_id"),
        r.getAs[Long]("c_id"), r.getAs[Long]("delta_us")))).toMap
    assert(got.size == want.size && got.nonEmpty)
    want.foreach { case (pid, w) => assert(got(pid) == w, s"purchase $pid") }
    // the nearest rule must actually use both directions on this corpus
    val backOnly = rows.filter(_._3 == "purchase").map {
      case (pid, uid, _, pus) =>
        clicksByUser.getOrElse(uid, Array.empty[(Long, Long)])
          .filter(c => c._1 < pus || (c._1 == pus && c._2 < pid))
          .sorted.lastOption.map(_._2).getOrElse(-1L)
    }
    assert(want.values.map(_._2).toSeq.sorted !=
      backOnly.sorted.toSeq, "forward matches never chosen — vacuous corpus")
  }

  test("agg_decay matches a brute-force half-life model bit-for-bit " +
      "and decays strictly below the raw sum") {
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("dt"),
        col("value"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getDouble(2)))
    val anchor = rows.map(_._2).maxBy(_.toEpochDay)
    val want = rows.groupBy(_._1).map { case (et, xs) =>
      val dq = xs.map { case (_, dt, v) =>
        val k = math.min(
          (anchor.toEpochDay - dt.toEpochDay) / 7, 62L).toInt
        math.floor(v * 1e6 / (1L << k).toDouble + 0.5).toLong
      }.sum
      val raw = xs.map(x =>
        BigDecimal(x._3).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      et -> ((xs.size.toLong, raw, dq.toDouble / 1e6))
    }
    val got = SparkEntry.queries("agg_decay")(spark, sf).collect()
    assert(got.length == want.size && got.nonEmpty)
    got.foreach { r =>
      val et = r.getString(0)
      val (n, raw, dec) = want(et)
      assert(r.getAs[Long]("n") == n, et)
      assert(r.getAs[Double]("raw_sum") == raw, s"$et raw")
      assert(r.getAs[Double]("decayed_sum") == dec, s"$et decayed")
      assert(r.getAs[Double]("decayed_sum") < r.getAs[Double]("raw_sum"),
        s"$et no decay happened — corpus spans > 1 half-life")
    }
  }

  test("validate_pk_fk passes every edge on the referentially-intact " +
      "fixture and catches a planted orphan") {
    val got = SparkEntry.queries("validate_pk_fk")(spark, sf).collect()
    assert(got.length == 7, "one row per FK edge")
    got.foreach { r =>
      assert(r.getAs[Long]("is_valid") == 1L,
        s"${r.getAs[String]("edge")} flagged on an intact fixture: $r")
      assert(r.getAs[Long]("n_child") > 0L, r.getAs[String]("edge"))
    }
    // sensitivity: the audit logic must actually catch a bad FK — replay
    // the orphan check on a staged frame with one dangling key
    val child = Seq((1L, 10L), (2L, 10L), (3L, 99L)).toDF("id", "fk")
    val parent = Seq((10L, "x")).toDF("pk", "name")
    val orphans = child.where(col("fk").isNotNull)
      .join(parent, col("fk") === col("pk"), "left_anti").count()
    assert(orphans == 1L)
  }

  test("profile_ab_test matches a brute-force Welch model bit-for-bit") {
    // independent truth: exact BigDecimal moments (the DECIMAL
    // discipline the query uses), then the IDENTICAL double chain —
    // any reassociation or a lost cast in the query shows as a
    // last-ulp mismatch here.
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def d2(v: Double) =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    def d4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val want = rows.groupBy(_._1).map { case (et, xs) =>
      val (a, b) = xs.partition(_._2 % 2 == 0)
      val (na, nb) = (a.size.toDouble, b.size.toDouble)
      val sa = a.map(x => d2(x._3)).sum.toDouble
      val sb = b.map(x => d2(x._3)).sum.toDouble
      val qa = a.map(x => d4(x._3 * x._3)).sum.toDouble
      val qb = b.map(x => d4(x._3 * x._3)).sum.toDouble
      val (ma, mb) = (sa / na, sb / nb)
      val va = (qa - sa * sa / na) / (na - 1.0)
      val vb = (qb - sb * sb / nb) / (nb - 1.0)
      val t = (ma - mb) / math.sqrt(va / na + vb / nb)
      et -> ((a.size.toLong, b.size.toLong, ma, mb, t,
        if (math.abs(t) > 1.96) 1L else 0L))
    }
    val got = SparkEntry.queries("profile_ab_test")(spark, sf).collect()
    assert(got.length == want.size && got.nonEmpty)
    got.foreach { r =>
      val et = r.getString(0)
      val (na, nb, ma, mb, t, sig) = want(et)
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb, et)
      assert(r.getAs[Double]("mean_a") == ma &&
        r.getAs[Double]("mean_b") == mb, s"$et means")
      assert(r.getAs[Double]("t_stat") == t, s"$et t-stat")
      assert(r.getAs[Long]("is_significant") == sig, s"$et verdict")
    }
  }

  test("agg_rfm: scores in 1..5, users conserved, quintiles roughly " +
    "balanced") {
    val rows = SparkEntry.queries("agg_rfm")(spark, sf).collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("f"),
        r.getAs[Long]("m"), r.getAs[Long]("n_users")))
    val nUsers = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._4).sum == nUsers, "users not conserved")
    assert(rows.forall(t => t._1 >= 1 && t._1 <= 5 &&
      t._2 >= 1 && t._2 <= 5 && t._3 >= 1 && t._3 <= 5))
    // a broken threshold chain collapses an axis into ONE bucket; ties
    // legitimately merge buckets (at this sf most users' last event is
    // in the corpus tail, so recency thresholds tie at 0 and r is
    // {1, 5} by the strict-> convention) — require ≥2 buckets per axis
    // and no bucket holding everyone
    for ((axis, idx) <- Seq("r" -> 0, "f" -> 1, "m" -> 2)) {
      val marg = rows.groupBy(t => t.productElement(idx))
        .view.mapValues(_.map(_._4).sum).toMap
      assert(marg.size >= 2, s"$axis collapsed to ${marg.keySet}")
      marg.foreach { case (s5, n) =>
        assert(n < nUsers, s"$axis=$s5 holds every user")
      }
    }
  }

  test("agg_new_vs_returning: day one is all-new and actives add up") {
    val rows = SparkEntry.queries("agg_new_vs_returning")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val first = rows.head
    assert(first.getAs[Long]("n_returning") == 0L,
      "someone returned on the first day of the corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_returning"))
    }
    val nUsers = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_new")).sum == nUsers,
      "every user must be new exactly once")
  }

  test("agg_funnel_window is dominated by the unwindowed funnel") {
    def stages(id: String): Map[String, Long] =
      SparkEntry.queries(id)(spark, sf).collect()
        .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_users"))
        .toMap
    val open = stages("agg_funnel")
    val win = stages("agg_funnel_window")
    assert(win.keySet == open.keySet)
    // stage 1 has no delay constraint; later stages can only LOSE users
    assert(win("1_view") == open("1_view"))
    assert(win("2_click") <= open("2_click"))
    assert(win("3_purchase") <= open("3_purchase"))
    val convs = SparkEntry.queries("agg_funnel_window")(spark, sf)
      .collect().filter(r => !r.isNullAt(r.fieldIndex("conv_from_prev")))
      .map(_.getAs[Double]("conv_from_prev"))
    assert(convs.forall(c => c >= 0.0 && c <= 1.0), convs.toSeq)
  }

  test("agg_top_paths matches a driver-side path computation") {
    val got = SparkEntry.queries("agg_top_paths")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("path"),
        r.getAs[Long]("n_users"))).toSeq
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    val paths = ev.groupBy(_._1).values.map { es =>
      es.sortBy(e => (e._2, e._3)).take(8).map(_._4).mkString(">")
    }.toSeq
    val expect = paths.groupBy(identity)
      .map { case (p, g) => (p, g.size.toLong) }.toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20).zipWithIndex
      .map { case ((p, n), i) => (i + 1L, p, n) }
    assert(got == expect, s"paths diverge:\ngot    $got\nexpect $expect")
  }
}
