package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7b wave: brute-force model parity for the statistics /
  * evaluation / feature operators (the DuckDB hash oracle pins exact
  * values at sf0.01; these pin the MATH against independent driver-side
  * reimplementations at sf0.001). */
class StatsSpec extends AnyFunSuite {
  import TestSpark._

  // ── shared collected fixtures (sf0.001: tiny) ──────────────────────
  private lazy val eventsRows: Seq[(Long, String, Double, Int)] =
    Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"),
        dayofmonth(col("ts")).as("dom"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))

  private lazy val embs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  test("profile_mannwhitney matches a direct rank-sum computation") {
    val got = SparkEntry.queries("profile_mannwhitney")(spark, sf).collect()
    assert(got.length == 1)
    val r = got.head
    // direct: average ranks over the quantized pooled sample
    val xs = eventsRows.filter(t => t._2 == "purchase" || t._2 == "click")
      .map(t => (t._2, math.floor(t._3 * 100 + 0.5).toLong))
    val n1 = xs.count(_._1 == "purchase").toLong
    val n2 = xs.size - n1
    val byV = xs.groupBy(_._2).toSeq.sortBy(_._1)
    var before = 0L
    var r1 = 0.0
    var ties = 0.0
    for ((_, grp) <- byV) {
      val t = grp.size.toLong
      val t1 = grp.count(_._1 == "purchase")
      val avgRank = before + (t + 1) / 2.0
      r1 += t1 * avgRank
      ties += t.toDouble * t * t - t
      before += t
    }
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val n = (n1 + n2).toDouble
    val varU = n1.toDouble * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    val z = (u1 - n1.toDouble * n2 / 2.0) / math.sqrt(varU)
    assert(r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2)
    assert(math.abs(r.getAs[Double]("u1") - u1) < 1e-9)
    assert(math.abs(r.getAs[Double]("z") - z) < 2e-4,
      s"z ${r.getAs[Double]("z")} vs direct $z")
  }

  test("profile_psi matches a direct PSI computation over the full grid") {
    val rows = SparkEntry.queries("profile_psi")(spark, sf).collect()
    // the FULL fixed 0..9 grid is the contract — bins empty in both
    // halves still carry their smoothed term
    assert(rows.length == 10)
    val binned = eventsRows.map(t =>
      (math.min(math.floor(t._3 / 56.1), 9).toInt, t._4 <= 15))
    assert(rows.map(_.getAs[Int]("bin")).toSeq == (0 to 9))
    val ta = binned.count(_._2).toLong
    val tb = binned.size - ta
    var psi = 0.0
    val terms = (0 to 9).map { b =>
      val na = binned.count(t => t._1 == b && t._2).toLong
      val nb = binned.count(t => t._1 == b && !t._2).toLong
      val p = (na + 1).toDouble / (ta + 10)
      val q = (nb + 1).toDouble / (tb + 10)
      val term = math.floor((p - q) * math.log(p / q) * 1e6 + 0.5) / 1e6
      psi += term
      b -> (na, nb, term)
    }.toMap
    rows.foreach { r =>
      val (na, nb, term) = terms(r.getAs[Int]("bin"))
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb)
      assert(math.abs(r.getAs[Double]("term") - term) < 1e-9)
      assert(math.abs(r.getAs[Double]("psi") - psi) < 1e-9)
    }
  }

  test("agg_gini matches a direct Gini computation and stays in [0,1)") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)))
    val segOf = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val spend = orders.groupBy(_._1).map { case (ck, os) =>
      (ck, segOf(ck), (os.map(_._2).sum * 100).toLongExact)
    }.toSeq
    val direct = spend.groupBy(_._2).map { case (seg, cs) =>
      val sorted = cs.sortBy(c => (c._3, c._1))
      val nC = sorted.size.toLong
      val s = sorted.map(_._3).sum
      val s1 = sorted.zipWithIndex.map { case (c, i) => (i + 1) * c._3 }.sum
      seg -> ((2.0 * s1 - (nC + 1) * s) / (nC.toDouble * s), nC)
    }
    val got = SparkEntry.queries("agg_gini")(spark, sf).collect()
    assert(got.length == direct.size)
    got.foreach { r =>
      val (g, nC) = direct(r.getAs[String]("segment"))
      val gg = r.getAs[Double]("gini")
      assert(r.getAs[Long]("n_customers") == nC)
      assert(gg >= 0.0 && gg < 1.0, s"gini out of range: $gg")
      assert(math.abs(gg - g) < 2e-6, s"gini $gg vs direct $g")
    }
  }

  test("text_zipf slope is negative and matches a direct OLS fit") {
    val got = SparkEntry.queries("text_zipf")(spark, sf).collect().head
    val freqs = Tables.documents(spark, sf).select(col("text")).collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, g) => (t, g.length.toLong) }.toSeq
    // the op fits on the top-N spectrum head (round-8 scale fix) — the
    // direct fit replays the same truncation
    val ranked = freqs.sortBy { case (t, f) => (-f, t) }
      .take(graft.operators.StatsOps.ZipfHeadN).zipWithIndex
      .map { case ((_, f), i) => (math.log((i + 1).toDouble), math.log(f.toDouble)) }
    val n = ranked.size.toDouble
    val sx = ranked.map(_._1).sum
    val sy = ranked.map(_._2).sum
    val sxy = ranked.map(p => p._1 * p._2).sum
    val sxx = ranked.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(got.getAs[Long]("n_vocab") == ranked.size)
    val gs = got.getAs[Double]("zipf_slope")
    assert(gs < 0.0, s"zipf slope should be negative: $gs")
    assert(math.abs(gs - slope) < 1e-3, s"slope $gs vs direct $slope")
  }

  test("sim_sq8_topk: valid ranks, sims descending, high overlap with exact") {
    val rows = SparkEntry.queries("sim_sq8_topk")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 10L))
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      // exact top-10 via collected embeddings
      val qv = embs(q)
      val exact = embs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          val dot = v.indices.foldLeft(0.0)((acc, i) => acc + qv(i) * v(i))
          (id, math.rint(dot * 1e4) / 1e4)
        }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
      val gotIds = rs.map(_.getAs[Long]("vec_id")).toSet
      assert(exact.intersect(gotIds).size >= 8,
        s"q=$q SQ8 overlap with exact top-10 too low: " +
          s"${exact.intersect(gotIds).size}")
    }
  }

  test("sim_recall_eval matches a direct recall computation") {
    val rows = SparkEntry.queries("sim_recall_eval")(spark, sf).collect()
    assert(rows.length == 3)
    def words(v: Array[Double]): (Long, Long) = {
      def w(base: Int) = (base until base + 32).foldLeft(0L)((acc, j) =>
        if (v(j) > 0) acc | (1L << (j - base)) else acc)
      (w(0), w(32))
    }
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val qv = embs(q)
      val exact = embs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          val dot = v.indices.foldLeft(0.0)((acc, i) => acc + qv(i) * v(i))
          (id, math.rint(dot * 1e4) / 1e4)
        }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
      val (qw0, qw1) = words(qv)
      val short = embs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          val (w0, w1) = words(v)
          (id, java.lang.Long.bitCount(w0 ^ qw0) +
            java.lang.Long.bitCount(w1 ^ qw1))
        }
        .sortBy { case (id, h) => (h, id) }.take(200).map(_._1).toSet
      val hits = exact.intersect(short).size
      assert(r.getAs[Long]("hits") == hits.toLong,
        s"q=$q hits ${r.getAs[Long]("hits")} vs direct $hits")
      assert(math.abs(r.getAs[Double]("recall") - hits / 10.0) < 1e-12)
    }
  }

  test("graph_jaccard matches a direct neighbor-overlap computation") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = li.groupBy(_._1).values
      .flatMap(g => g.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val cand = (for {
      (u, nu) <- nbrs.toSeq; via <- nu; v <- nbrs(via) if u < v
    } yield (u, v)).distinct
    val direct = cand.map { case (u, v) =>
      val c = nbrs(u).intersect(nbrs(v)).size
      val uni = nbrs(u).size + nbrs(v).size - c
      (u, v, c.toLong, uni.toLong, c.toDouble / uni)
    }.sortBy(t => (-t._5, t._1, t._2)).take(20)
    val got = SparkEntry.queries("graph_jaccard")(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
        r.getAs[Long]("common"), r.getAs[Long]("uni"),
        r.getAs[Double]("jaccard")))
    assert(got.length == direct.length)
    got.zip(direct).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 && g._4 == e._4,
        s"pair mismatch: $g vs $e")
      assert(math.abs(g._5 - e._5) < 1e-12)
    }
  }

  test("pipeline_source_cap keeps exactly the longest docs per source") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val direct = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.sortBy(d => (-d._3, d._1)).take(20).zipWithIndex
        .map { case (d, i) => (src, (i + 1).toLong, d._1, d._3) }
    }.toSet
    val got = SparkEntry.queries("pipeline_source_cap")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"))).toSet
    assert(got == direct)
  }

  test("profile_chisq matches a direct Pearson computation") {
    val got = SparkEntry.queries("profile_chisq")(spark, sf).collect().head
    val cells = eventsRows.map(t => (t._2, t._1 % 5))
    val types = cells.map(_._1).distinct
    val buckets = cells.map(_._2).distinct
    val n = cells.size.toDouble
    var chi2 = 0.0
    for (t <- types; b <- buckets) {
      val o = cells.count(c => c._1 == t && c._2 == b).toDouble
      val e = cells.count(_._1 == t) * cells.count(_._2 == b) / n
      chi2 += (o - e) * (o - e) / e
    }
    assert(got.getAs[Long]("df") ==
      (types.size - 1).toLong * (buckets.size - 1))
    assert(got.getAs[Long]("n") == cells.size.toLong)
    assert(math.abs(got.getAs[Double]("chi2") - chi2) < 2e-3,
      s"chi2 ${got.getAs[Double]("chi2")} vs direct $chi2")
    val v = got.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0, s"cramers_v out of range: $v")
    assert(math.abs(v - math.sqrt(chi2 /
      (n * (math.min(types.size, buckets.size) - 1)))) < 2e-4)
  }

  test("rank_ndcg: ndcg in (0,1], dcg <= idcg, matches direct math") {
    val rows = SparkEntry.queries("rank_ndcg")(spark, sf).collect()
    assert(rows.length == 3)
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val dls = texts.map { case (id, t) => id -> t.split(" ").length }.toMap
    val tot = dls.values.map(_.toLong).sum
    val nd = dls.size
    rows.foreach { r =>
      val tok = r.getAs[String]("tok")
      val tfs = texts.map { case (id, t) =>
        id -> t.split(" ").count(_ == tok) }.filter(_._2 >= 1)
      val df = tfs.length
      def bm25(tf: Int, dl: Int): Double =
        math.log((nd - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
          (tf + 1.2 * (0.25 + 0.75 * dl / (tot.toDouble / nd)))
      val ranked = tfs.map { case (id, tf) =>
        (id, math.floor(bm25(tf, dls(id)) * 1e4 + 0.5), tf) }
        .sortBy(t => (-t._2, t._1)).take(10)
      def w(p: Int) = 1.0 / (math.log(p + 1.0) / math.log(2.0))
      val dcg = ranked.zipWithIndex.map { case ((_, _, tf), i) =>
        (if (tf >= 3) 3.0 else 1.0) * w(i + 1) }.sum
      val grades = tfs.map(t => if (t._2 >= 3) 3.0 else 1.0)
        .sortBy(-_).padTo(10, 0.0).take(10)
      val idcg = grades.zipWithIndex.map { case (g, i) => g * w(i + 1) }.sum
      val ndcg = r.getAs[Double]("ndcg")
      assert(ndcg > 0.0 && ndcg <= 1.0)
      assert(r.getAs[Double]("dcg") <= r.getAs[Double]("idcg") + 1e-9)
      assert(math.abs(r.getAs[Double]("dcg") - dcg) < 1e-3)
      assert(math.abs(r.getAs[Double]("idcg") - idcg) < 1e-3)
      assert(math.abs(ndcg - dcg / idcg) < 1e-3)
    }
  }

  test("text_hash_embed matches a direct md5 hashing-trick computation") {
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val direct = texts.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).map { tok =>
        val h = md5hex(tok)
        val dim = java.lang.Long.parseLong(h.substring(0, 8), 16) % 256
        val sign = if (java.lang.Long.parseLong(h.substring(8, 9), 16) % 2 == 0)
          1L else -1L
        ((id, dim), sign)
      }
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      .filter(_._2 != 0)
    val got = SparkEntry.queries("text_hash_embed")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dim"))
        -> r.getAs[Long]("weight")).toMap
    assert(got == direct)
  }

  test("validate_freshness covers the full day grid consistently") {
    val rows = SparkEntry.queries("validate_freshness")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sf).count())
    // contiguous daily grid
    val days = rows.map(_.getAs[java.sql.Timestamp]("day_ts").getTime)
    days.zip(days.tail).foreach { case (a, b) =>
      assert(b - a == 86400000L, "grid gap")
    }
    val nDays = rows.count(_.getAs[Long]("n_events") > 0).toLong
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      assert((r.getAs[Long]("is_missing") == 1L) == (n == 0L))
      assert((r.getAs[Long]("is_thin") == 1L) == (n * nDays * 2 < total))
    }
  }

  test("win_cusum matches the textbook max(0, s+dev) recurrence") {
    val rows = SparkEntry.queries("win_cusum")(spark, sf).collect()
    val daily = rows.map(r => (r.getAs[java.sql.Timestamp]("day_ts"),
      BigDecimal(r.getAs[Double]("rev")).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)))
    val cents = daily.map(d => (d._2 * 100).toLongExact)
    val dd = cents.length.toLong
    val t = cents.sum
    var s = 0L
    val expect = cents.map { c =>
      s = math.max(0L, s + (c * dd - t))
      s
    }
    val sx2 = cents.map(c => c * c).sum
    val thr = math.floor(math.sqrt((sx2 * dd - t * t).toDouble) * 2.0 + 0.5)
      .toLong
    rows.zip(expect).foreach { case (r, e) =>
      val got = r.getAs[Double]("cusum")
      val direct = e.toDouble / dd / 100.0
      assert(got >= 0.0)
      assert(math.abs(got - direct) < 1e-9,
        s"${r.getAs[java.sql.Timestamp]("day_ts")}: $got vs $direct")
      assert((r.getAs[Long]("is_alarm") == 1L) == (e > thr))
    }
  }

  test("agg_autocorr matches a direct consecutive-day Pearson ratio") {
    val got = SparkEntry.queries("agg_autocorr")(spark, sf).collect().head
    // day-of-month is the query's datediff day + 1 — a constant shift,
    // which changes neither the lag pairing nor the deviations
    val daily = eventsRows
      .groupBy(_._4).map { case (day, xs) =>
        day.toLong -> xs.map(t => BigDecimal(t._3).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)).sum
      }.map { case (day, rev) => day -> (rev * 100).toLongExact }
    val dd = daily.size.toLong
    val t = daily.values.sum
    val dev = daily.map { case (day, c) => day -> (c * dd - t) }
    def acf(lag: Long): Double = {
      val s0 = dev.values.map(v => v * v).sum
      val sl = dev.toSeq.flatMap { case (day, v) =>
        dev.get(day + lag).map(v2 => v * v2) }.sum
      math.floor(sl.toDouble / s0.toDouble * 1e6 + 0.5) / 1e6
    }
    assert(got.getAs[Long]("n_days") == dd)
    val a1 = got.getAs[Double]("acf1")
    val a7 = got.getAs[Double]("acf7")
    assert(math.abs(a1) <= 1.0 && math.abs(a7) <= 1.0)
    assert(math.abs(a1 - acf(1)) < 1e-9, s"acf1 $a1 vs ${acf(1)}")
    assert(math.abs(a7 - acf(7)) < 1e-9, s"acf7 $a7 vs ${acf(7)}")
  }

  test("profile_benford: shares sum to 1, expected is log10(1+1/d), MAD direct") {
    val rows = SparkEntry.queries("profile_benford")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    val madDirect = rows.map { r =>
      val d = r.getAs[Int]("digit")
      val exp = math.log10(1.0 + 1.0 / d)
      assert(math.abs(r.getAs[Double]("expected") - exp) < 1e-15)
      math.floor(math.abs(r.getAs[Double]("share") - exp) * 1e6 + 0.5) / 1e6
    }.sum / 9.0
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("mad") -
        math.floor(madDirect * 1e4 + 0.5) / 1e4) < 1e-12)
    }
  }

  test("multimodal_phash matches a direct dHash-band computation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val hashes = texts.map { case (id, t) =>
      val nb = (7 + id % 57).toInt
      val hx = (md5hex(t) * 4).substring(0, 2 * nb)
      val srcW = 64 + nb % 512
      val srcH = 64 + Integer.parseInt(hx.substring(0, 2), 16) % 512
      def cell(g: Int): Int = {
        val px = math.floor((g % 8) * srcW / 8.0).toLong
        val py = math.floor(math.floor(g / 8.0) * srcH / 8.0).toLong
        val pos = (((px * 7 + py * 13) % nb) * 2).toInt
        Integer.parseInt(hx.substring(pos, pos + 2), 16)
      }
      var ph0 = 0L
      var ph1 = 0L
      for (g <- 0 until 64 if cell(g) > cell((g + 8) % 64)) {
        if (g < 32) ph0 |= 1L << g else ph1 |= 1L << (g - 32)
      }
      id -> (ph0, ph1)
    }
    def bands(p: (Long, Long)) = Seq(
      (0, p._1 & 65535), (1, (p._1 >> 16) & 65535),
      (2, p._2 & 65535), (3, (p._2 >> 16) & 65535))
    val direct = (for {
      (i1, p1) <- hashes; (i2, p2) <- hashes if i1 < i2
      if bands(p1).intersect(bands(p2)).nonEmpty
      h = java.lang.Long.bitCount(p1._1 ^ p2._1) +
        java.lang.Long.bitCount(p1._2 ^ p2._2)
      if h <= 10
    } yield (i1, i2, h.toLong)).toSet
    val got = SparkEntry.queries("multimodal_phash")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Long]("hamming"))).toSet
    assert(got == direct, s"phash pair divergence: " +
      s"extra=${got diff direct} missing=${direct diff got}")
  }

  test("stream_drift matches a direct per-window PSI computation") {
    val ev = Tables.events(spark, sf).select(col("ts"), col("value"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getDouble(1)))
    def binOf(v: Double) = math.min(math.floor(v / 56.1), 9).toInt
    val byW = ev.groupBy(t => t._1 / 21600000L * 21600000L)
    val baseCnt = ev.groupBy(t => binOf(t._2)).map { case (b, xs) =>
      b -> xs.length.toLong }
    val tb = ev.length.toLong
    val direct = byW.map { case (w, xs) =>
      val tw = xs.length.toLong
      // full 0..9 grid: bins empty in both the window and the baseline
      // still carry their smoothed term (the profile_psi contract)
      val psi = (0 to 9).map { b =>
        val n = xs.count(t => binOf(t._2) == b).toLong
        val p = (n + 1).toDouble / (tw + 10)
        val q = (baseCnt.getOrElse(b, 0L) + 1).toDouble / (tb + 10)
        math.floor((p - q) * math.log(p / q) * 1e6 + 0.5) / 1e6
      }.sum
      w -> (tw, psi)
    }
    val rows = SparkEntry.queries("stream_drift")(spark, sf).collect()
    assert(rows.length == direct.size)
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == ev.length.toLong)
    rows.foreach { r =>
      val w = r.getAs[java.sql.Timestamp]("w_start").getTime
      val (tw, psi) = direct(w)
      assert(r.getAs[Long]("n_events") == tw)
      val got = r.getAs[Double]("psi")
      assert(got >= -1e-4, s"negative psi: $got") // terms are >= 0 - quant
      assert(math.abs(got - psi) < 1e-9, s"window $w psi $got vs $psi")
    }
  }

  test("agg_survival matches a direct Kaplan-Meier estimate") {
    val rows = SparkEntry.queries("agg_survival")(spark, sf).collect()
    // day-of-month stands in for the calendar day: all events are in
    // one month, so durations and censor gaps are unchanged
    val perUser = eventsRows.groupBy(_._1).toSeq.map { case (_, es) =>
      (es.map(_._4).min, es.map(_._4).max) }
    val maxd = perUser.map(_._2).max
    val subj = perUser.map { case (d0, d1) =>
      ((d1 - d0).toLong, maxd - d1 > 2) }
    val byT = subj.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.count(_._2).toLong, xs.size.toLong - xs.count(_._2)) }
    val ts = byT.keys.toSeq.sorted
    var logS = 0.0
    val direct = ts.map { t =>
      val nRisk = byT.view.filterKeys(_ >= t).values.map(v => v._1 + v._2).sum
      val (dd, cc) = byT(t)
      if (dd > 0)
        logS += math.floor(math.log(1.0 - dd.toDouble / nRisk) * 1e6 + 0.5) / 1e6
      t -> (nRisk, dd, cc, math.exp(logS))
    }.toMap
    assert(rows.map(_.getAs[Long]("t")).toSeq == ts)
    var prev = 1.0
    rows.foreach { r =>
      val (nRisk, dd, cc, s) = direct(r.getAs[Long]("t"))
      assert(r.getAs[Long]("n_risk") == nRisk)
      assert(r.getAs[Long]("d") == dd && r.getAs[Long]("c") == cc)
      val surv = r.getAs[Double]("survival")
      assert(surv <= prev + 1e-9 && surv >= 0.0 && surv <= 1.0)
      prev = surv
      assert(math.abs(surv - s) < 1e-3, s"t=${r.getAs[Long]("t")}: $surv vs $s")
    }
  }

  test("value-compaction contract: rank-frame quantizers are range-bounded") {
    // VERDICT r7 "what's wrong" #2: mannWhitneyCore /
    // agg_weighted_percentile run unpartitioned cumulative windows over
    // value-COMPACTED frames whose size is bounded by the VALUE RANGE,
    // not the corpus — a contract on the quantizer, previously only
    // documented. Pin it: 200 000 DISTINCT raw doubles spanning
    // [0, 100) must compact to ≤ 10 001 quantized values. A switch to a
    // finer or unbounded quantization (raw micros, ppm) blows the bound
    // to 200 000 and fails HERE instead of silently moving the whole
    // spectrum to one task at scale.
    import spark.implicits._
    val raw = spark.range(200000)
      .select((col("id").cast("double") / 2000.0).as("v"))
    assert(raw.distinct().count() == 200000L)
    val mwCard = raw
      .select(operators.StatsOps.quant2dp(col("v")).as("q"))
      .distinct().count()
    assert(mwCard <= 10001L,
      s"mannwhitney quantizer no longer range-bounded: $mwCard")
    val centCard = raw
      .select(operators.AggOps.centQuant(col("v")).as("q"))
      .distinct().count()
    assert(centCard <= 10001L,
      s"weighted-percentile quantizer no longer range-bounded: $centCard")
    // agg_rfm's monetary percentile fit (round 9, VERDICT r8 #1): the
    // raw per-user cent totals are the ONE RFM domain that grows with
    // the corpus — the $10-grid bucketing must cap the distinct values
    // the exact percentile buffers at 10 001, including an arbitrary
    // heavy tail (values far past the $100k cap share bucket 10 000)
    val rfmCard = spark.range(200000)
      .select((col("id") * 977L + 13L).as("cents")) // 200k distinct cents
      .select(operators.AnalyticsOps.rfmMonetaryBucket(col("cents")).as("q"))
      .distinct().count()
    assert(rfmCard <= 10001L,
      s"rfm monetary bucketing no longer range-bounded: $rfmCard")
    // survival's compaction is the whole-day duration: the frame is
    // bounded by the corpus CALENDAR SPAN, asserted on the real input
    val sub = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val span = sub.agg(min("d0").as("lo"), max("d1").as("hi"))
      .select(datediff(col("hi"), col("lo")).as("span"))
      .collect().head.getInt(0)
    val tCard = sub.select(datediff(col("d1"), col("d0")).as("t"))
      .distinct().count()
    assert(tCard <= span + 2,
      s"survival durations exceed the calendar-span bound: $tCard vs $span")
  }

  test("ts_seasonal_decompose: additive identity holds and trend is " +
    "the centered 7-day mean") {
    val rows = SparkEntry.queries("ts_seasonal_decompose")(spark, sf)
      .collect()
    val byDay = rows.map(r => r.getAs[Long]("day") -> r).toMap
    var checked = 0
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("residual"))) {
        // x = trend + seasonal + residual (within the 1e-4 output
        // quantization of the two quantized components)
        val recon = r.getAs[Double]("trend") +
          r.getAs[Double]("seasonal") + r.getAs[Double]("residual")
        assert(math.abs(r.getAs[Double]("revenue") - recon) < 2e-4,
          s"additivity broken at day ${r.getAs[Long]("day")}")
        checked += 1
      }
    }
    assert(checked > 0, "no fully-defined interior day decomposed")
    rows.filter(r => !r.isNullAt(r.fieldIndex("trend"))).foreach { r =>
      val d = r.getAs[Long]("day")
      val win = (d - 3 to d + 3).flatMap(byDay.get)
        .map(_.getAs[Double]("revenue"))
      assert(win.size == 7, s"trend defined on a partial window at $d")
      assert(math.abs(r.getAs[Double]("trend") - win.sum / 7) < 1e-6,
        s"trend is not the centered mean at day $d")
    }
  }

  test("profile_power matches a direct pooled-variance sample-size calc") {
    val got = SparkEntry.queries("profile_power")(spark, sf).collect().head
    val xs = eventsRows.filter(t => t._2 == "purchase" || t._2 == "click")
      .map(t => (t._2 == "purchase", math.floor(t._3 * 100 + 0.5).toLong))
    val (a, b) = xs.partition(_._1)
    def ss(v: Seq[Long]) = {
      val s = v.sum.toDouble
      v.map(x => x.toDouble * x).sum - s * s / v.length
    }
    val s2p = (ss(a.map(_._2)) + ss(b.map(_._2))) / (a.length + b.length - 2)
    val delta = a.map(_._2).sum.toDouble / a.length -
      b.map(_._2).sum.toDouble / b.length
    val z = 1.959963984540054 + 0.8416212335729143
    val nReq = math.ceil(2.0 * s2p * z * z / (delta * delta)).toLong
    assert(got.getAs[Long]("n1") == a.length.toLong)
    assert(got.getAs[Long]("n2") == b.length.toLong)
    assert(math.abs(got.getAs[Double]("delta") - delta / 100.0) < 1e-4)
    assert(got.getAs[Long]("n_required") == nReq,
      s"n_required ${got.getAs[Long]("n_required")} vs $nReq")
  }

  test("agg_ratio_metrics: CI brackets the ratio, matches direct math") {
    val rows = SparkEntry.queries("agg_ratio_metrics")(spark, sf).collect()
    val perUser = eventsRows.groupBy(_._1).map { case (u, es) =>
      (u % 5, u,
        es.filter(_._2 == "purchase")
          .map(t => math.floor(t._3 * 100 + 0.5).toLong).sum,
        es.length.toLong)
    }.toSeq
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val us = perUser.filter(_._1 == b)
      val sx = us.map(_._3).sum.toDouble
      val sy = us.map(_._4).sum.toDouble
      val ratio = sx / sy
      val rq = math.floor(ratio * 1e9 + 0.5) / 1e9
      val ssr = us.map { u =>
        val d = u._3 - rq * u._4; d * d }.sum
      val se = math.sqrt(math.max(ssr, 0.0)) / sy
      assert(r.getAs[Long]("n_users") == us.length.toLong)
      assert(math.abs(r.getAs[Double]("rev_per_event") - ratio / 100.0)
        < 1e-4)
      assert(math.abs(r.getAs[Double]("se") - se / 100.0) < 1e-6)
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("rev_per_event"))
      assert(r.getAs[Double]("ci_hi") >= r.getAs[Double]("rev_per_event"))
    }
  }

  test("win_rolling_slope matches a direct windowed OLS") {
    val rows = SparkEntry.queries("win_rolling_slope")(spark, sf).collect()
    val daily = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day"))
      -> (BigDecimal(r.getAs[Double]("rev")).setScale(2,
        BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact).toMap
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val day = r.getAs[Long]("day")
      val win = (day - 6 to day).flatMap(dd =>
        daily.get((u, dd)).map(c => (dd, c)))
      assert(r.getAs[Long]("n_days") == win.length.toLong)
      val n = win.length.toLong
      val sd = win.map(_._1).sum
      val sy = win.map(_._2).sum
      val sdy = win.map(p => p._1 * p._2).sum
      val sdd = win.map(p => p._1 * p._1).sum
      val den = n * sdd - sd * sd
      val got = Option(r.getAs[java.lang.Double]("slope")).map(_.toDouble)
      if (den == 0) assert(got.isEmpty)
      else {
        val direct = math.floor((n * sdy - sd * sy).toDouble / den
          * 1e6 + 0.5) / 1e6 / 100.0
        assert(math.abs(got.get - direct) < 1e-12,
          s"u=$u day=$day slope ${got.get} vs $direct")
      }
    }
  }

  test("agg_log_histogram buckets are powers of two and cover all orders") {
    val rows = SparkEntry.queries("agg_log_histogram")(spark, sf).collect()
    val orders = Tables.orders(spark, sf).select(col("o_totalprice"))
      .collect().map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong)
      .filter(_ > 0)
    val direct = orders.groupBy(c => 63 - java.lang.Long.numberOfLeadingZeros(c))
      .map { case (b, xs) => b -> xs.length.toLong }
    assert(rows.map(_.getAs[Int]("bucket")).toSeq ==
      direct.keys.toSeq.sorted)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(r.getAs[Long]("n") == direct(b))
      assert(r.getAs[Double]("lo") == (1L << b).toDouble / 100.0)
      assert(r.getAs[Double]("hi") == (1L << (b + 1)).toDouble / 100.0)
    }
  }

  test("pipeline_interleave stripes sources round-robin, no pos collisions") {
    val rows = SparkEntry.queries("pipeline_interleave")(spark, sf).collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("doc_id"),
        r.getAs[String]("source")))
    assert(rows.length == Tables.documents(spark, sf).count())
    // positions are unique
    assert(rows.map(_._1).distinct.length == rows.length)
    // consecutive positions within one stripe hit distinct sources: the
    // first |sources| positions are one doc from each source in order
    val srcs = rows.map(_._3).distinct.sorted
    val firstStripe = rows.sortBy(_._1).take(srcs.length).map(_._3)
    assert(firstStripe.toSeq == srcs.toSeq,
      s"first stripe not round-robin: ${firstStripe.toSeq} vs ${srcs.toSeq}")
    // within a source, order follows md5(doc_id)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.groupBy(_._3).foreach { case (_, rs) =>
      val byPos = rs.sortBy(_._1).map(_._2)
      val byHash = rs.map(_._2).sortBy(id => (md5hex(id.toString), id))
      assert(byPos.toSeq == byHash.toSeq)
    }
  }

  test("graph_bfs matches a direct bounded BFS from the max-degree hub") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val edges = li.groupBy(_._1).values
      .flatMap(g => g.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val deg = nbrs.map { case (k, vs) => k -> vs.length }
    val maxDeg = deg.values.max
    val src = deg.filter(_._2 == maxDeg).keys.min
    var dist = Map(src -> 0L)
    var frontier = Set(src)
    for (r <- 1 to 6) {
      val next = frontier.flatMap(n => nbrs.getOrElse(n, Seq()))
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> r.toLong)
      frontier = next
    }
    val got = SparkEntry.queries("graph_bfs")(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(got == dist, s"bfs divergence: extra=${got.toSet diff dist.toSet} " +
      s"missing=${dist.toSet diff got.toSet}")
  }

  test("dedup_pair_eval: hits equal the verified near-dup pair count") {
    val r = SparkEntry.queries("dedup_pair_eval")(spark, sf).collect().head
    val nTruth = r.getAs[Long]("n_truth")
    val nCand = r.getAs[Long]("n_cand")
    val nHit = r.getAs[Long]("n_hit")
    assert(nHit <= math.min(nTruth, nCand))
    // a verified dedup_near pair is exactly a candidate with exact
    // jaccard >= 0.6 — i.e. truth ∩ candidates — so the hit count must
    // equal the (oracle-verified) dedup_near row count
    val nearPairs = SparkEntry.queries("dedup_near")(spark, sf).count()
    assert(nHit == nearPairs, s"hits $nHit vs dedup_near rows $nearPairs")
    if (nCand > 0)
      assert(math.abs(r.getAs[Double]("prec") - nHit.toDouble / nCand)
        < 1e-12)
    if (nTruth > 0)
      assert(math.abs(r.getAs[Double]("recall") - nHit.toDouble / nTruth)
        < 1e-12)
  }

  test("profile_lorenz: cumulative shares are monotone and end at 1") {
    val rows = SparkEntry.queries("profile_lorenz")(spark, sf).collect()
    val bySeg = rows.groupBy(_.getAs[String]("segment"))
    bySeg.foreach { case (seg, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("decile"))
      assert(sorted.map(_.getAs[Int]("decile")).toSeq ==
        (1 to sorted.length))
      val shares = sorted.map(_.getAs[Double]("cum_share"))
      shares.zip(shares.tail).foreach { case (a, b) =>
        assert(b >= a - 1e-9, s"$seg: cum_share not monotone") }
      assert(math.abs(shares.last - 1.0) < 1e-5, s"$seg ends at ${shares.last}")
      // equal-count deciles: sizes differ by at most 1, NTILE order
      val ns = sorted.map(_.getAs[Long]("n"))
      assert(ns.max - ns.min <= 1)
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ts_backtest_naive matches a direct lag-forecast error computation") {
    val daily = eventsRows.groupBy(_._4).toSeq.map { case (dom, es) =>
      dom.toLong -> (es.map(t => BigDecimal(t._3).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum * 100).toLongExact
    }.toMap
    def direct(lag: Long): (Long, Double, Double) = {
      val pairs = daily.toSeq.flatMap { case (day, a) =>
        daily.get(day - lag).map(f => (a, f)) }.filter(_._1 > 0)
      val n = pairs.length.toLong
      val mae = pairs.map(p => math.abs(p._1 - p._2)).sum.toDouble / n / 100.0
      val mape = pairs.map(p => math.floor(
        math.abs(p._1 - p._2).toDouble / p._1 * 1e6 + 0.5)).sum / n / 1e6
      (n, mae, mape)
    }
    val rows = SparkEntry.queries("ts_backtest_naive")(spark, sf).collect()
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("n_days"), r.getAs[Double]("mae"),
          r.getAs[Double]("mape")))).toMap
    Seq("naive" -> 1L, "seasonal_naive" -> 7L).foreach { case (m, lag) =>
      val (n, mae, mape) = direct(lag)
      val (gn, gmae, gmape) = rows(m)
      assert(gn == n, s"$m n_days $gn vs $n")
      assert(math.abs(gmae - mae) < 1e-9, s"$m mae $gmae vs $mae")
      assert(math.abs(gmape - mape) < 1e-9, s"$m mape $gmape vs $mape")
    }
  }

  test("win_bollinger: breakout flag matches the exact integer rule") {
    val rows = SparkEntry.queries("win_bollinger")(spark, sf).collect()
    val daily = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day"))
      -> (BigDecimal(r.getAs[Double]("rev")).setScale(2,
        BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact).toMap
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val day = r.getAs[Long]("day")
      val win = (day - 6 to day).flatMap(dd => daily.get((u, dd)))
      val x = daily((u, day))
      val n = win.length.toLong
      val sx = win.sum
      val sxx = win.map(v => v * v).sum
      val d = x * n - sx
      val mBig = n * sxx - sx * sx
      assert(r.getAs[Long]("n_days") == n)
      val expect = if (d > 0 && d * d > 4 * mBig) 1L else 0L
      assert(r.getAs[Long]("is_breakout") == expect,
        s"u=$u day=$day breakout ${r.getAs[Long]("is_breakout")} vs $expect")
      // mean/sd read coherently: |x - mean| <= 2sd + slack iff no breakout
      val mean = r.getAs[Double]("mean")
      val sd = r.getAs[Double]("sd")
      if (expect == 0)
        assert(x / 100.0 <= mean + 2 * sd + 0.02)
    }
  }

  test("multimodal_scenecut matches a direct frame-luma computation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val direct = texts.flatMap { case (id, t) =>
      val nb = (7 + id % 57).toInt
      val hx = (md5hex(t) * 4).substring(0, 2 * nb)
      val nf = (1 + nb % 16)
      (0 until nf).map { f =>
        val pos = (f % nb) * 2
        val luma = Integer.parseInt(hx.substring(pos, pos + 2), 16).toLong
        (id, f.toLong, luma)
      }
    }
    val withDiff = direct.groupBy(_._1).toSeq.flatMap { case (_, fs) =>
      val sorted = fs.sortBy(_._2)
      sorted.zipWithIndex.map { case ((id, f, l), i) =>
        val diff = if (i == 0) None else Some(l - sorted(i - 1)._3)
        (id, f, l, diff, diff.exists(dd => math.abs(dd) > 64))
      }
    }.map(t => (t._1, t._2) -> ((t._3, t._4, if (t._5) 1L else 0L))).toMap
    val got = SparkEntry.queries("multimodal_scenecut")(spark, sf).collect()
    assert(got.length == withDiff.size)
    got.foreach { r =>
      val k = (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx"))
      val (luma, diff, cut) = withDiff(k)
      assert(r.getAs[Long]("luma") == luma)
      assert(Option(r.getAs[java.lang.Long]("diff")).map(_.toLong) == diff)
      assert(r.getAs[Long]("is_cut") == cut)
    }
  }

  test("agg_cohort_ltv matches a direct cohort-cumulation computation") {
    val rows = SparkEntry.queries("agg_cohort_ltv")(spark, sf).collect()
    val ev = eventsRows.map(t =>
      (t._1, (t._4 - 1) / 7, math.floor(t._3 * 100 + 0.5).toLong))
    val cohortOf = ev.groupBy(_._1).map { case (u, es) =>
      u -> es.map(_._2).min }
    val sizes = cohortOf.values.groupBy(identity)
      .map { case (c, xs) => c -> xs.size.toLong }
    rows.foreach { r =>
      val cw = r.getAs[Long]("cohort_week").toInt
      val off = r.getAs[Long]("week_offset").toInt
      assert(r.getAs[Long]("cohort_size") == sizes(cw))
      val inWin = ev.filter(t =>
        cohortOf(t._1) == cw && t._2 - cw <= off && t._2 - cw >= 0)
      val cum = inWin.map(_._3).sum
      assert(math.abs(r.getAs[Double]("ltv_per_user") -
        cum.toDouble / sizes(cw) / 100.0) < 1e-9)
      val active = ev.filter(t => cohortOf(t._1) == cw && t._2 - cw == off)
        .map(_._1).distinct.size.toLong
      assert(r.getAs[Long]("n_active") == active)
    }
    // LTV is nondecreasing in offset within a cohort
    rows.groupBy(_.getAs[Long]("cohort_week")).foreach { case (_, rs) =>
      val ltv = rs.sortBy(_.getAs[Long]("week_offset"))
        .map(_.getAs[Double]("ltv_per_user"))
      ltv.zip(ltv.tail).foreach { case (a, b) => assert(b >= a - 1e-9) }
    }
  }

  test("profile_outlier_mad matches a direct lower-median/MAD computation") {
    val rows = SparkEntry.queries("profile_outlier_mad")(spark, sf).collect()
    val cents = rows.map(r => (BigDecimal(r.getAs[Double]("rev")).setScale(2,
      BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact)
    def lowerMedian(xs: Seq[Long]): Long = {
      val sorted = xs.sorted
      sorted((sorted.length + 1) / 2 - 1)
    }
    val med = lowerMedian(cents.toIndexedSeq)
    val mad = lowerMedian(cents.map(c => math.abs(c - med)).toIndexedSeq)
    rows.zip(cents).foreach { case (r, c) =>
      assert(math.abs(r.getAs[Double]("median") - med / 100.0) < 1e-9)
      assert(math.abs(r.getAs[Double]("mad") - mad / 100.0) < 1e-9)
      val expect = if (math.abs(c - med) * 10000 > mad * 44478) 1L else 0L
      assert(r.getAs[Long]("is_outlier") == expect)
    }
  }

  test("agg_time_to_convert matches a direct first-signup/first-purchase calc") {
    val got = SparkEntry.queries("agg_time_to_convert")(spark, sf)
      .collect().head
    val ev = Tables.events(spark, sf)
      .where(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val s0 = es.filter(_._2 == "signup").map(_._3)
      if (s0.isEmpty) None
      else {
        val t0 = s0.min
        val p = es.filter(t => t._2 == "purchase").map(_._3)
        val t1 = if (p.isEmpty) None else Some(p.min)
        Some((u, t1.filter(_ > t0).map(t => (t - t0) / 1000000L)))
      }
    }
    val nSignup = byUser.length.toLong
    val delays = byUser.flatMap(_._2)
    assert(got.getAs[Long]("n_signup") == nSignup)
    assert(got.getAs[Long]("n_converted") == delays.length.toLong)
    assert(math.abs(got.getAs[Double]("conversion") -
      delays.length.toDouble / nSignup) < 1e-12)
    def pick(q: Int): Long = {
      val sorted = delays.sorted
      sorted(math.max((sorted.length * q + 99) / 100, 1) - 1)
    }
    assert(got.getAs[Long]("p50_s") == pick(50))
    assert(got.getAs[Long]("p90_s") == pick(90))
    assert(got.getAs[Long]("p50_s") <= got.getAs[Long]("p90_s"))
  }

  test("agg_basket_lift matches a direct lift/confidence computation") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrders = li.map(_._1).distinct.length.toLong
    val itemC = li.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val pairC = li.groupBy(_._1).values
      .flatMap(g => g.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSeq.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
      .filter(_._2 >= 2)
    val direct = pairC.toSeq.map { case ((a, b), cab) =>
      val lift = math.floor(cab.toDouble * nOrders /
        (itemC(a) * itemC(b)) * 1e6 + 0.5) / 1e6
      val conf = math.floor(cab.toDouble / itemC(a) * 1e6 + 0.5) / 1e6
      (a, b, cab, lift, conf)
    }.sortBy(t => (-t._4, t._1, t._2)).take(20)
    val got = SparkEntry.queries("agg_basket_lift")(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("cab"), r.getAs[Double]("lift"),
        r.getAs[Double]("confidence")))
    assert(got.length == direct.length)
    got.zip(direct).foreach { case (g, e) => assert(g == e, s"$g vs $e") }
  }

  test("text_js_divergence is within [0, ln 2] and matches direct math") {
    val got = SparkEntry.queries("text_js_divergence")(spark, sf)
      .collect().head
    val toks = Tables.documents(spark, sf)
      .where(col("lang").isin("en", "de"))
      .select(col("lang"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(t => (r.getString(0), t)))
    val byT = toks.groupBy(_._2).map { case (t, xs) =>
      t -> (xs.count(_._1 == "en").toLong,
        xs.count(_._1 != "en").toLong) }
    val na = byT.values.map(_._1).sum
    val nb = byT.values.map(_._2).sum
    val v = byT.size.toLong
    val js = byT.values.map { case (cen, cde) =>
      val p = (cen + 1).toDouble / (na + v)
      val q = (cde + 1).toDouble / (nb + v)
      val m = (p + q) / 2.0
      math.floor((0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m))
        * 1e6 + 0.5) / 1e6
    }.sum
    assert(got.getAs[Long]("n_en") == na && got.getAs[Long]("n_de") == nb)
    assert(got.getAs[Long]("vocab") == v)
    val gjs = got.getAs[Double]("js_nats")
    assert(gjs >= -1e-4 && gjs <= math.log(2.0) + 1e-4)
    assert(math.abs(gjs - js) < 1e-9, s"js $gjs vs $js")
  }

  test("sample_negatives never emits a positive and picks by hash order") {
    val rows = SparkEntry.queries("sample_negatives")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("rank"),
        r.getAs[String]("negative_item")))
    val pos = eventsRows.map(t => (t._1,
      s"${t._2}:${math.min(math.floor(t._3 / 112.1), 4).toInt}")).toSet
    rows.foreach { case (u, _, item) =>
      assert(!pos.contains((u, item)), s"negative ($u, $item) is a positive")
    }
    // per user: at most 2, ranks 1..k, and the hash order is respected
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val universe = pos.map(_._2)
    rows.groupBy(_._1).foreach { case (u, rs) =>
      assert(rs.length <= 2)
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length))
      val expect = universe.filterNot(i => pos.contains((u, i))).toSeq
        .sortBy(i => (md5hex(s"$u:$i"), i)).take(2)
      assert(rs.sortBy(_._2).map(_._3).toSeq == expect)
    }
  }

  test("ts_lag_features: calendar lags line up with the daily series") {
    val daily = eventsRows.isEmpty // force fixture init (unused marker)
    assert(!daily)
    val got = SparkEntry.queries("ts_lag_features")(spark, sf).collect()
    val rev = got.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day"))
      -> r.getAs[Double]("rev")).toMap
    got.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val day = r.getAs[Long]("day")
      def check(colName: String, delta: Long): Unit = {
        val expect = rev.get((u, day - delta))
        val v = Option(r.getAs[java.lang.Double](colName)).map(_.toDouble)
        assert(v == expect, s"user=$u day=$day $colName: $v vs $expect")
      }
      check("lag1_rev", 1)
      check("lag7_rev", 7)
      // rolling mean is the 7-day-window average of observed days
      val window = (day - 6 to day).flatMap(dd => rev.get((u, dd)))
      val mean = window.sum / window.size
      assert(math.abs(r.getAs[Double]("roll7_mean") - mean) < 1e-6)
    }
  }

  test("profile_ttest matches a direct Welch computation") {
    import org.apache.spark.sql.functions._
    val row = SparkEntry.queries("profile_ttest")(spark, sf).collect()(0)
    // re-derive from the raw events in plain Scala
    val vals = Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("g"),
        floor(col("value") * 100 + 0.5).cast("long").as("iv"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = vals.filter(_._1 == 0L).map(_._2.toDouble)
    val b = vals.filter(_._1 != 0L).map(_._2.toDouble)
    def sampleVar(xs: Array[Double]): Double = {
      val n = xs.length.toDouble
      (xs.map(x => x * x).sum - xs.sum * xs.sum / n) / (n - 1.0)
    }
    val se2 = sampleVar(a) / a.length + sampleVar(b) / b.length
    val tExp = (a.sum / a.length - b.sum / b.length) / math.sqrt(se2)
    val dfExp = se2 * se2 /
      (math.pow(sampleVar(a) / a.length, 2) / (a.length - 1) +
        math.pow(sampleVar(b) / b.length, 2) / (b.length - 1))
    assert(row.getLong(0) == a.length && row.getLong(1) == b.length)
    assert(math.abs(row.getAs[Double]("t_stat") - tExp) < 1e-3,
      s"t=${row.getAs[Double]("t_stat")} vs direct $tExp")
    assert(math.abs(row.getAs[Double]("df") - dfExp) < 1e-2,
      s"df=${row.getAs[Double]("df")} vs direct $dfExp")
    // Satterthwaite df can never exceed the pooled df
    assert(row.getAs[Double]("df") <= a.length + b.length - 2.0)
  }
}
