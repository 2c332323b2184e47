package graft

import graft.functions.WeightedAvg
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Hand-computed expected values on tiny in-memory frames (SURVEY §5.2.2). */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("WeightedAvg matches hand computation and handles a single group") {
    val df = Seq(("a", 2.0, 10.0), ("a", 3.0, 20.0), ("b", 1.0, 5.0))
      .toDF("k", "w", "x")
    val got = df.groupBy("k").agg(WeightedAvg(col("w"), col("x")).as("wa"))
      .orderBy("k").collect()
    assert(got.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 16.0), ("b", 5.0)))
  }

  test("WeightedAvg is exact on decimal-cent inputs (order-insensitive)") {
    // 0.1-style doubles would drift under naive double summation
    val rows = (1 to 1000).map(i => ("g", 0.01, 0.01 * (i % 7)))
    val got = rows.toDF("k", "w", "x").repartition(7)
      .groupBy("k").agg(WeightedAvg(col("w"), col("x")).as("wa"))
      .collect().head.getDouble(1)
    val num = BigDecimal("0.01") *
      rows.map(r => BigDecimal(r._3.toString)).sum
    val den = BigDecimal("0.01") * 1000
    assert(got == (num.doubleValue / den.doubleValue))
  }

  test("approx_count_distinct within 5% of exact at sf0.001") {
    val li = Tables.lineitem(spark, sf)
    val Row(approx: Long, exact: Long) = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02),
      countDistinct(col("l_partkey"))).collect().head
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("hll sketch estimates within 5% of exact, union matches rebuild") {
    val ev = Tables.events(spark, sf)
    val est = SparkEntry.queries("agg_hll_sketch")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = ev.select(countDistinct(col("user_id"))).collect()
      .head.getLong(0)
    assert(math.abs(est("ALL") - exactAll).toDouble / exactAll < 0.05)
    val exactPer = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exactPer.foreach { case (t, n) =>
      assert(math.abs(est(t) - n).toDouble / n < 0.05, s"event_type $t")
    }
  }

  test("agg_hll_incremental merge equals full rebuild, within 5% of exact") {
    val inc = SparkEntry.queries("agg_hll_incremental")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_users"))
      .toMap
    // register-wise max ⇒ sketch union over day-partitions must equal the
    // single-pass sketch over the same rows exactly
    val full = Tables.events(spark, sf)
      .where(to_date(col("ts")) < lit("2024-02-01").cast("date"))
      .groupBy("event_type")
      .agg(expr("cast(hll_sketch_estimate(hll_sketch_agg(user_id, 12)) as bigint)")
        .as("n")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
    assert(inc == full, s"incremental $inc != full rebuild $full")
    val exact = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
    exact.foreach { case (t, n) =>
      assert(math.abs(inc(t) - n).toDouble / n < 0.05, s"type $t: ${inc(t)} vs $n")
    }
  }

  test("sink_compacted rewrites 64 fragments into at most 2 files") {
    SparkEntry.queries("sink_compacted")(spark, sf).collect()
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    val frag = graft.operators.Fixtures.fragmentedEvents(spark, sf)
    assert(parts(frag) == 64)
    // derive the sink path exactly as the query does (fingerprinted side
    // dir + this session's applicationId) — a hardcoded path silently
    // tests a stale directory from a previous naming scheme
    val out = graft.operators.Fixtures.sinkDir(spark, sf, "events", "compacted")
    assert(parts(out) <= 2 && parts(out) >= 1)
  }

  test("sink_bloom writes a real bloom filter and the lookup matches") {
    val rows = SparkEntry.queries("sink_bloom")(spark, sf).collect()
    assert(rows.length == 1 && rows.head.getLong(0) > 0)
    // open the written footer with parquet-mr and assert the o_custkey
    // column chunk carries a bloom filter — the write option silently
    // no-ops if misspelled, and min/max stats would still answer the
    // lookup, so only the footer proves the skipping structure exists
    val dir = graft.operators.Fixtures.sinkDir(spark, sf, "orders",
      "orders_bloom")
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getRowGroups
      assert(!blocks.isEmpty)
      val cc = blocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "o_custkey").get
      assert(r.getBloomFilterDataReader(blocks.get(0))
          .readBloomFilter(cc) != null,
        "no bloom filter on o_custkey")
    } finally r.close()
  }

  test("Dataset.observe collects quality counters in the same pass") {
    // the in-flight data-quality pattern: metrics ride the job instead
    // of a second scan — at 100 TB the difference between free counters
    // and doubling the read
    val obs = new org.apache.spark.sql.Observation("qc")
    val df = Tables.lineitem(spark, sf)
      .observe(obs, count(lit(1)).as("n"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("bad_qty"),
        sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L))
          .as("null_price"))
    val total = df.agg(count(lit(1))).collect().head.getLong(0)
    val m = obs.get
    assert(m("n") == total && total > 0)
    assert(m("bad_qty") == 0L && m("null_price") == 0L, s"quality: $m")
  }

  test("cdc_diff change feed applied to v1 reproduces v2 exactly") {
    // the consumer-side contract of a change feed: v1 minus deletes and
    // update preimages, plus inserts and update postimages, IS v2
    val feed = SparkEntry.queries("cdc_diff")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    val v1 = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    val removed = feed
      .filter(c => c._4 == "delete" || c._4 == "update_preimage")
      .map(c => (c._1, c._2, c._3)).toSet
    val added = feed
      .filter(c => c._4 == "insert" || c._4 == "update_postimage")
      .map(c => (c._1, c._2, c._3)).toSet
    val applied = (v1 -- removed) ++ added
    // recompute v2 by the fixture's own derivation rules
    val v2 = v1.filter(_._1 % 11 != 0)
      .map { case (k, n, b) =>
        (k, n, if (k % 7 == 0) b + 100.0 else b) } ++
      v1.filter(_._1 % 13 == 0)
        .map { case (k, n, b) => (k + 1000000L, n + " (new)", b) }
    assert(applied == v2,
      s"apply(feed) != v2: extra=${applied -- v2} missing=${v2 -- applied}")
  }

  test("text_slice_chunks covers every token and respects window/stride") {
    // hand-checked boundary cases around the w8/s6 chunk-count formula:
    // n<=8 → 1 chunk; n=9 → 2; n=14 → 2; n=15 → 3
    val q = SparkEntry.queries("text_slice_chunks")
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunks")
      .toString
    val toks = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings"))
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    Seq((1L, toks(8), 8L), (2L, toks(9), 9L), (3L, toks(14), 14L),
        (4L, toks(15), 15L), (5L, toks(1), 1L))
      .toDF("doc_id", "text", "n_chars")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = q(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byDoc == Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 3, 5L -> 1),
      s"chunk counts wrong: $byDoc")
    // every token of doc 4 appears in some chunk, and chunk 1 starts at
    // token 7 (stride 6)
    val d4 = got.filter(_._1 == 4L).sortBy(_._2).map(_._3)
    assert(d4(1).startsWith("w7 "))
    val covered = d4.flatMap(_.split(" ")).toSet
    assert(covered == (1 to 15).map(i => s"w$i").toSet)
  }

  test("space-saving sketch keeps heavy hitters within the N/Cap bound") {
    import graft.functions.TopKTokens
    // vocabulary (200 rare + 3 heavy) deliberately exceeds Cap=64 so
    // eviction and merge-trim actually fire, unlike the oracle-exact
    // corpus case
    val heavy = Seq.fill(300)("hh1") ++ Seq.fill(200)("hh2") ++
      Seq.fill(120)("hh3")
    val rare = (0 until 1000).map(i => s"rare${i % 200}")
    val tokens = new scala.util.Random(7).shuffle(heavy ++ rare).toDS()
      .repartition(7)
    val n = heavy.size + rare.size
    val out = tokens.select(TopKTokens.toColumn).collect().head
    val got = out.toks.zip(out.cnts).toMap
    val bound = n.toDouble / TopKTokens.Cap // max overestimate per entry
    for ((tok, trueCnt) <- Seq("hh1" -> 300L, "hh2" -> 200L, "hh3" -> 120L)) {
      assert(got.contains(tok), s"heavy hitter $tok evicted: $got")
      assert(got(tok) >= trueCnt && got(tok) <= trueCnt + bound * 7,
        s"$tok count ${got(tok)} outside [$trueCnt, $trueCnt + 7·N/Cap]")
    }
  }

  test("agg_approx_percentile within 1% of the exact percentile") {
    val exact = SparkEntry.queries("agg_percentile")(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val approx = SparkEntry.queries("agg_approx_percentile")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(exact.keySet == approx.keySet)
    for ((flag, es) <- exact; (e, a) <- es.zip(approx(flag)))
      assert(math.abs(a - e) / e < 0.01,
        s"$flag: approx $a vs exact $e drifts more than 1%")
  }

  test("join_asof picks the latest click at-or-before each purchase") {
    val q = SparkEntry.queries("join_asof")(spark, sf)
    val asof = q.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // independent oracle: naive per-purchase scan on collected rows
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    val naive = ev.filter(_._4 == "purchase").map { case (pid, u, pts, _) =>
      val clicks = ev.filter(e => e._2 == u && e._4 == "click" &&
        (e._3.before(pts) || e._3.equals(pts)))
      pid -> (if (clicks.isEmpty) -1L
              else clicks.maxBy(e => (e._3.getTime, e._1))._1)
    }.toMap
    assert(asof == naive)
  }

  test("dropDuplicates key set equals SQL DISTINCT") {
    val got = SparkEntry.queries("distinct_rows")(spark, sf).count()
    val want = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_linestatus").distinct().count()
    assert(got == want)
  }

  test("scan_csv_malformed quarantines bad rows and drops nothing") {
    // cache first: filtering a raw CSV read on ONLY the corrupt-record
    // column is rejected by Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    // the documented workaround is to materialize the parsed frame
    val df = operators.ScanOps.malformedFrame(spark, sf).cache()
    try {
      val nEvents = Tables.events(spark, sf).count()
      val nBad = Tables.events(spark, sf)
        .where(col("event_id") % 97 === 3).count()
      assert(df.count() == nEvents, "PERMISSIVE read dropped rows")
      val bad = df.where(col("_corrupt").isNotNull)
      assert(bad.count() == nBad, "quarantine misses injected bad rows")
      // the corrupt field nulls out; parseable siblings survive per-row
      assert(bad.where(col("user_id").isNotNull).count() == 0)
      assert(bad.where(col("event_id").isNull).count() == 0)
      // and no clean row lost its user_id
      assert(df.where(col("_corrupt").isNull && col("user_id").isNull)
        .count() == 0)
    } finally df.unpersist(): Unit
  }

  test("profile_stats_sketch distinct counts within 5% of exact") {
    def byCol(id: String): Map[String, Long] =
      SparkEntry.queries(id)(spark, sf).collect()
        .map(r => r.getAs[String]("col_name") -> r.getAs[Long]("n_distinct"))
        .toMap
    val exact = byCol("profile_stats")
    val approx = byCol("profile_stats_sketch")
    for ((c, e) <- exact) {
      val a = approx(c)
      assert(math.abs(a - e) <= math.max(1L, (0.05 * e).toLong),
        s"$c: approx $a vs exact $e exceeds 5%")
    }
  }

  test("connectedComponents refuses to return an unconverged labeling") {
    // a 12-hop path cannot converge in one relax+compress round; the
    // round-2 advisory: an unconverged labeling must fail fast, never
    // silently materialize into a fixture. The size gate would solve
    // this tiny graph exactly in one task, so force the distributed
    // fixpoint for the refusal pin.
    val nodes = (0L to 12L).toDF("doc_id")
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    val before = Gate.overrides.get
    Gate.distributed {
      assertThrows[IllegalArgumentException] {
        operators.GraphOps.connectedComponents(nodes, pairs, rounds = 1)
      }
    }
    assert(Gate.overrides.get > before, "the gate did not flip to the fixpoint")
    // and with the default budget the same graph converges exactly
    val labels = operators.GraphOps.connectedComponents(nodes, pairs)
      .collect()
    assert(labels.forall(_.getLong(1) == 0L), "path did not collapse to 0")
  }

  test("connectedComponents single-task solve and distributed fixpoint " +
      "produce identical labels (long chain + random cross-links)") {
    // the round-15 size gate: below it an exact union-find runs in one
    // task; this pins the two regimes label-for-label on a graph with a
    // >16-hop chain (the fixpoint's hard case) plus arbitrary extras
    val n = 40L
    val nodes = (0L until n).toDF("doc_id")
    val chain = (5L until 30L).map(i => (i, i + 1))
    val extra = Seq((0L, 3L), (3L, 36L), (38L, 39L), (2L, 2L + 0L))
    val pairs = (chain ++ extra).toDF("id1", "id2")
    val local = regimesAgree("size-gated") {
      operators.GraphOps.connectedComponents(nodes, pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(local(29L) == 5L && local(36L) == 0L && local(4L) == 4L)
  }

  test("join_skew_salted hot key produces matched, spread output") {
    // round-2 advisory: the hot ~70% previously routed to dead key 0 and
    // matched nothing. Now every lineitem row must match some supplier,
    // and the hot nation group must carry the hot mass.
    val res = SparkEntry.queries("join_skew_salted")(spark, sf).collect()
    val liCount = Tables.lineitem(spark, sf).count()
    assert(res.map(_.getAs[Long]("n_rows")).sum == liCount,
      "salted join lost rows — hot key not matched")
    assert(res.map(_.getAs[Long]("n_rows")).max >= (0.7 * liCount).toLong,
      "hot-key mass not visible in matched output")
  }

  test("sink_zorder files are narrow in BOTH dimensions at once") {
    // the point of z-ordering: each file's footer bounding box covers a
    // small fraction of user-space AND time-space simultaneously, so a
    // 2-D box predicate skips most files. A 1-D sort can only deliver
    // one narrow dimension — asserted as the contrast case below.
    val d = "/root/testdata/sf0.01"
    SparkEntry.queries("sink_zorder")(spark, d).count() // triggers write
    val dir = operators.Fixtures.sinkDir(spark, d, "events", "ev_zorder")
    val hour = expr("unix_timestamp(ts) div 3600")
    def bboxFracs(files: Array[String]): (Double, Double) = {
      val st = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("user_id"), max("user_id"), min(hour), max(hour)).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val uSpan = (st.map(_._2).max - st.map(_._1).min).toDouble
      val hSpan = (st.map(_._4).max - st.map(_._3).min).toDouble
      (st.map(s => (s._2 - s._1) / uSpan).sum / st.length,
        st.map(s => (s._4 - s._3) / hSpan).sum / st.length)
    }
    val zFiles = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(zFiles.length >= 8, s"expected >=8 z-ordered files in $dir")
    val (zUser, zHour) = bboxFracs(zFiles)
    assert(zUser <= 0.7 && zHour <= 0.7,
      f"z-order files not 2-D narrow: user=$zUser%.2f hour=$zHour%.2f")
    // contrast: the same data range-sorted by user_id alone leaves every
    // file spanning ~the full time range
    val linDir = java.nio.file.Files
      .createTempDirectory("zorder_lin").toString
    Tables.events(spark, d).repartitionByRange(16, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(linDir)
    val linFiles = new java.io.File(linDir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    val (_, linHour) = bboxFracs(linFiles)
    assert(linHour >= 0.9,
      f"contrast layout unexpectedly time-narrow: $linHour%.2f")
    assert(zHour < 0.8 * linHour,
      f"z-order no better than 1-D sort on time: $zHour%.2f vs $linHour%.2f")
  }

  test("validate_constraints audits every rule against the full snapshot") {
    val n = Tables.events(spark, sf).count()
    val rows = SparkEntry.queries("validate_constraints")(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getLong(1) == n), "a rule checked fewer rows than the snapshot")
    val v = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    // generator invariants (FIXTURES.md): these rules must audit clean
    for (r <- Seq("value_nonneg", "type_in_vocab", "props_k_in_0_99",
        "ts_in_jan_2024", "user_id_in_range"))
      assert(v(r) == 0L, s"$r flagged ${v(r)} rows on clean data")
    assert(v("value_le_500") >= 0L && v("value_le_500") < n)
  }

  test("validate_reconcile classification partitions the order set") {
    val rows = SparkEntry.queries("validate_reconcile")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1),
        s"classes don't partition orders in $r")
      assert(r.getDouble(5) >= 0.0)
    }
    assert(rows.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
  }

  test("profile_drift shares sum to 1 in each window") {
    val rows = SparkEntry.queries("profile_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    rows.foreach(r => assert(
      math.abs(r.getDouble(5) - math.abs(r.getDouble(3) - r.getDouble(4))) < 1e-15))
  }

  test("profile_skew ranks heavy hitters with consistent ratios") {
    val rows = SparkEntry.queries("profile_skew")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "heavy hitters not count-descending")
    rows.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 1.0, "a top-5 key cannot be below uniform share")
    }
  }

  test("clean_outliers bounds clip ~1% per tail and order correctly") {
    val rows = SparkEntry.queries("clean_outliers")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p01, p99) = (r.getDouble(1), r.getDouble(2))
      val (n, nLo, nHi) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(p01 <= p99)
      // exact percentile definition: at most 1% of values strictly below
      // p01 / strictly above p99 (interpolated bound ⇒ ceil slack of 1)
      assert(nLo <= n / 100 + 1, s"p01 clips too much: $nLo of $n")
      assert(nHi <= n / 100 + 1, s"p99 clips too much: $nHi of $n")
      assert(r.getDouble(6) > 0.0, "inlier sum should be positive")
    }
  }

  /** Independent reconstruction of Det.md5Uniform in plain Scala (shared
    * by the sample_weighted and pipeline_upweight reconstructions). */
  private def md5UniformOf(docId: Long): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
  }

  test("sample_weighted selects exactly the 200 smallest E-S keys") {
    // independent reconstruction: recompute every doc's quantized
    // Efraimidis–Spirakis key (-ln(u)/w at 1e9) from the md5 uniform in
    // plain Scala, take the 200 smallest with doc_id tiebreak, and
    // require the query's selection and key values to match exactly
    def key(docId: Long, nChars: Long): Long =
      math.floor(-math.log(md5UniformOf(docId)) /
        math.max(nChars, 1L).toDouble * 1e9 + 0.5).toLong
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = docs.map { case (id, n) => (key(id, n), id) }
      .sorted.take(200).toSeq
    val got = SparkEntry.queries("sample_weighted")(spark, sf).collect()
      .map(r => (r.getAs[Long]("key_q"), r.getAs[Long]("doc_id"))).toSeq
    assert(got == want)
    // weighting sanity: selected docs skew long — P(selected) ∝ n_chars
    val byId = docs.toMap
    val selMean = got.map(g => byId(g._2)).sum.toDouble / got.size
    val allMean = docs.map(_._2).sum.toDouble / docs.length
    assert(selMean > allMean,
      s"weighted sample not length-skewed: $selMean <= $allMean")
  }

  test("sample_weighted survives zero-length docs (weight floors to 1)") {
    // the fixture has no empty docs; stage one (n_chars = 0) plus a few
    // real rows and require a finite, non-null key — an unguarded
    // -ln(u)/0 is an Infinity key that breaks the BIGINT cast
    val dir = java.nio.file.Files
      .createTempDirectory("graft_zero_chars").toString
    Tables.documents(spark, sf).limit(4)
      .withColumn("n_chars",
        when(col("doc_id") === min("doc_id").over(), lit(0L))
          .otherwise(col("n_chars")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("sample_weighted")(spark, dir).collect()
    assert(rows.length == 4)
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("key_q"))))
  }

  test("pipeline_upweight emits floor(w)+coin copies, integer-exact") {
    def coin(docId: Long): Double = md5UniformOf(docId)
    val rows = SparkEntry.queries("pipeline_upweight")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("repeats"), r.getAs[Long]("copy_idx")))
    assert(rows.nonEmpty)
    // per-doc: copy_idx tiles 1..repeats with no gaps or extras
    rows.groupBy(_._1).foreach { case (id, rs) =>
      val reps = rs.head._3
      assert(rs.map(_._4).sorted.toSeq == (1L to reps),
        s"doc $id: copies ${rs.map(_._4).sorted.toSeq} != 1..$reps")
    }
    // every doc's repeat count matches the w = min(n_chars/400, 4)
    // stochastic-rounding schedule recomputed independently
    val emitted = rows.groupBy(_._1).map { case (id, rs) =>
      id -> rs.head._3
    }
    Tables.documents(spark, sf).select(col("doc_id"), col("n_chars"))
      .collect().foreach { r =>
        val (id, n) = (r.getLong(0), r.getLong(1))
        val w = math.min(n.toDouble / 400.0, 4.0)
        val want = math.floor(w).toLong +
          (if (coin(id) < w - math.floor(w)) 1L else 0L)
        assert(emitted.getOrElse(id, 0L) == want,
          s"doc $id (n_chars=$n): ${emitted.getOrElse(id, 0L)} != $want")
      }
  }

  test("pipeline_pack tiles each shard's token stream exactly") {
    val cap = 2048L
    val rows = SparkEntry.queries("pipeline_pack")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("toks"), r.getAs[Long]("bin"),
        r.getAs[Long]("bin_offset")))
    assert(rows.nonEmpty)
    rows.foreach { case (id, _, _, bin, off) =>
      assert(bin >= 0 && off >= 0 && off < cap, s"doc $id: bin=$bin off=$off")
    }
    // concat-and-cut semantics: within a shard, doc_id order tiles the
    // token stream with no gaps — each doc starts where the previous
    // ended, bins advance every cap tokens
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { case (id, _, toks, bin, off) =>
        assert(bin == cum / cap, s"shard $shard doc $id: bin $bin != ${cum / cap}")
        assert(off == cum % cap, s"shard $shard doc $id: off $off != ${cum % cap}")
        cum += toks
      }
    }
  }

  /** micro-quantized value: the same decimal-exact cast the queries use */
  private def micros(v: Double, scale: Long): Long =
    (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) *
      BigDecimal(scale)).toLongExact

  private def sortedUserEvents = {
    val evs = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getDouble(3), r.getString(4)))
    evs.groupBy(_._2).view.mapValues(_.sortBy(e =>
      (e._3.getTime / 1000, e._3.getNanos, e._1)).toVector).toMap
  }

  test("win_ewma matches the 20-term halving-chain model") {
    val want = sortedUserEvents.flatMap { case (_, rows) =>
      val qs = rows.map(e => micros(e._4, 1000000L))
      rows.indices.map { t =>
        val ew = (0 until math.min(20, t + 1))
          .map(k => qs(t - k) >> k).sum
        rows(t)._1 -> ew
      }
    }
    val got = SparkEntry.queries("win_ewma")(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("ewma_micro"), r.getAs[Double]("ewma")))).toMap
    assert(got.size == want.size)
    want.foreach { case (id, w) =>
      assert(got(id)._1 == w, s"event $id")
      assert(got(id)._2 == w.toDouble / 1000000.0, s"event $id double")
    }
  }

  test("win_interpolate fills gaps linearly between purchase values") {
    val want = sortedUserEvents.flatMap { case (_, rows) =>
      val qc = rows.map(e =>
        if (e._5 == "purchase") Some(micros(e._4, 100L)) else None)
      rows.indices.map { t =>
        val filled: Option[Double] =
          if (qc(t).isDefined) Some(qc(t).get.toDouble / 100.0)
          else {
            val p = (t - 1 to 0 by -1).find(qc(_).isDefined)
            val n = (t + 1 until rows.size).find(qc(_).isDefined)
            (p, n) match {
              case (Some(pi), Some(ni)) =>
                val (pq, nq) = (qc(pi).get, qc(ni).get)
                Some((pq.toDouble +
                  ((nq - pq).toDouble * (t - pi).toDouble) /
                    (ni - pi).toDouble) / 100.0)
              case _ => None
            }
          }
        rows(t)._1 -> ((if (qc(t).isDefined) 1L else 0L, filled))
      }
    }
    val got = SparkEntry.queries("win_interpolate")(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("is_observed"),
          Option(r.getAs[java.lang.Double]("filled")).map(_.doubleValue))))
      .toMap
    assert(got.size == want.size)
    want.foreach { case (id, w) => assert(got(id) == w, s"event $id") }
    // non-vacuity: interpolated (not observed, not null) rows exist
    assert(want.values.exists(v => v._1 == 0L && v._2.isDefined))
    assert(want.values.exists(v => v._1 == 0L && v._2.isEmpty))
  }

  test("agg_attribution matches a brute-force first/last-touch model") {
    val byUser = sortedUserEvents
    val first = scala.collection.mutable.Map[String, BigDecimal]()
      .withDefaultValue(BigDecimal(0))
    val last = scala.collection.mutable.Map[String, BigDecimal]()
      .withDefaultValue(BigDecimal(0))
    val nP = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    byUser.values.foreach { rows =>
      rows.indices.foreach { t =>
        if (rows(t)._5 == "purchase") {
          val touches = (0 until t).map(rows(_)._5).filter(_ != "purchase")
          val (f, l) = (touches.headOption.getOrElse("direct"),
            touches.lastOption.getOrElse("direct"))
          val v = BigDecimal(rows(t)._4.toString).setScale(2)
          first(f) += v; last(l) += v; nP(f) += 1L
        }
      }
    }
    val got = SparkEntry.queries("agg_attribution")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getAs[Double]("first_touch_rev"),
        r.getAs[Double]("last_touch_rev"), r.getAs[Long]("n_purchases"))))
      .toMap
    val channels = (first.keySet ++ last.keySet)
    assert(got.keySet == channels)
    channels.foreach { ch =>
      val (gf, gl, gn) = got(ch)
      // our double is the exact decimal cast; model mirrors it
      assert(gf == first(ch).doubleValue || (gf.isNaN && first(ch) == 0),
        s"first $ch")
      assert(gl == last(ch).doubleValue || (gl.isNaN && last(ch) == 0),
        s"last $ch")
      assert(gn == nP(ch), s"n $ch")
    }
    assert(channels.contains("direct"),
      "some purchase should have no prior touch")
  }

  test("ts_resample materializes gap days and carries revenue forward") {
    val byUser = sortedUserEvents
    val want = byUser.flatMap { case (uid, rows) =>
      def day(e: (Long, Long, java.sql.Timestamp, Double, String)) =
        java.time.LocalDate.ofEpochDay( // UTC day — session TZ is UTC
          Math.floorDiv(e._3.getTime, 86400000L))
      val (d0, d1) = (rows.map(day).min(Ordering.by((d: java.time.LocalDate) =>
        d.toEpochDay)), rows.map(day).max(Ordering.by(
        (d: java.time.LocalDate) => d.toEpochDay)))
      var locf: Option[BigDecimal] = None
      Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).map { dd =>
        val evs = rows.filter(day(_) == dd)
        val rev = {
          val ps = evs.filter(_._5 == "purchase")
          if (ps.isEmpty) None
          else Some(ps.map(e => BigDecimal(e._4.toString).setScale(2)).sum)
        }
        if (rev.isDefined) locf = rev
        (uid, dd.toString) -> ((evs.size.toLong,
          rev.map(_.doubleValue), locf.map(_.doubleValue)))
      }.toVector
    }
    val got = SparkEntry.queries("ts_resample")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"),
        java.time.LocalDate.ofEpochDay(Math.floorDiv(
          r.getAs[java.sql.Timestamp]("day_ts").getTime, 86400000L))
          .toString) ->
        ((r.getAs[Long]("n_events"),
          Option(r.getAs[java.lang.Double]("day_rev")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("rev_locf")).map(_.doubleValue))))
      .toMap
    assert(got.size == want.size)
    want.foreach { case (k, w) => assert(got(k) == w, s"grid cell $k") }
    // non-vacuity: gap days (0 events) exist and carry forward revenue
    assert(want.exists { case (_, (n, r, f)) =>
      n == 0L && r.isEmpty && f.isDefined })
  }

  test("profile_bootstrap_ci matches a brute-force Poisson-bootstrap model") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "event_type", "value").collect()
      .filter(_.getString(1) == "purchase")
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(2).toString).setScale(2)))
    def u(key: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(8), 16) + 0.5) / 4294967296.0
    }
    val th = operators.AnalyticsOps.poissonThresholds
    def w(uu: Double): Int = th.indexWhere(uu < _) match {
      case -1 => 8; case k => k
    }
    val means = (0 until 32).map { rep =>
      var num = BigDecimal(0); var den = 0L
      ev.foreach { case (id, v) =>
        val k = w(u(s"${id}_$rep")); num += v * k; den += k
      }
      (rep, num.doubleValue / den.toDouble)
    }
    val ranked = means.sortBy { case (rep, m) => (m, rep) }.map(_._2)
    val point = ev.map(_._2).sum.doubleValue / ev.length
    val row = SparkEntry.queries("profile_bootstrap_ci")(spark, sf)
      .collect().head
    assert(row.getAs[Long]("n_purchases") == ev.length.toLong)
    assert(row.getAs[Double]("point_mean") == point)
    assert(row.getAs[Double]("ci_lo") == ranked(1))
    assert(row.getAs[Double]("ci_hi") == ranked(30))
    // the interval must bracket the point estimate and be non-degenerate
    assert(ranked(1) < point && point < ranked(30))
  }

  test("win_drawdown matches a brute-force running-peak model") {
    val want = sortedUserEvents.map { case (uid, rows) =>
      var bal = BigDecimal(0); var peak = BigDecimal(0)
      var maxBal = BigDecimal(0); var maxDd = BigDecimal(0)
      var started = false
      rows.foreach { e =>
        val v = BigDecimal(e._4.toString).setScale(2)
        if (e._5 == "purchase") bal += v
        else if (e._5 == "error") bal -= v
        if (!started) { peak = bal; maxBal = bal; started = true }
        if (bal > peak) peak = bal
        if (bal > maxBal) maxBal = bal
        if (peak - bal > maxDd) maxDd = peak - bal
      }
      uid -> ((maxBal.doubleValue, maxDd.doubleValue))
    }
    val got = SparkEntry.queries("win_drawdown")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Double]("peak_balance"), r.getAs[Double]("max_drawdown"))))
      .toMap
    assert(got.size == want.size)
    want.foreach { case (uid, w) => assert(got(uid) == w, s"user $uid") }
    assert(want.values.exists(_._2 > 0), "some user must have a drawdown")
  }

  test("profile_ks_test matches a brute-force ECDF-supremum model") {
    val vals = Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), micros(r.getDouble(1), 100L)))
    val s1 = vals.filter(_._1 == "purchase").map(_._2).sorted
    val s2 = vals.filter(_._1 == "view").map(_._2).sorted
    val (n1, n2) = (s1.length.toLong, s2.length.toLong)
    val dn = (s1 ++ s2).distinct.map { v =>
      val c1 = s1.count(_ <= v).toLong
      val c2 = s2.count(_ <= v).toLong
      math.abs(c1 * n2 - c2 * n1)
    }.max
    val ks = dn.toDouble / (n1 * n2).toDouble
    val crit = 1.358 * math.sqrt((n1 + n2).toDouble / (n1 * n2).toDouble)
    val row = SparkEntry.queries("profile_ks_test")(spark, sf)
      .collect().head
    assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
    assert(row.getAs[Double]("ks_stat") == ks)
    assert(row.getAs[Long]("reject_h0") == (if (ks > crit) 1L else 0L))
  }

  test("agg_weighted_percentile matches the brute-force type-1 definition") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity")).collect()
      .map(r => (r.getString(0), micros(r.getDouble(1), 100L),
        micros(r.getDouble(2), 100L)))
    val want = rows.groupBy(_._1).view.mapValues { rs =>
      val byVal = rs.groupBy(_._2).view
        .mapValues(_.map(_._3).sum).toVector.sortBy(_._1)
      val tot = byVal.map(_._2).sum
      def pick(p: Long): Double = {
        var cum = 0L
        byVal.find { case (_, wsum) => cum += wsum; cum * 100 >= tot * p }
          .get._1.toDouble / 100.0
      }
      (pick(25), pick(50), pick(90))
    }.toMap
    val got = SparkEntry.queries("agg_weighted_percentile")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("wp25"), r.getAs[Double]("wp50"),
          r.getAs[Double]("wp90")))).toMap
    assert(got.size == want.size)
    want.foreach { case (flag, w) => assert(got(flag) == w, s"flag $flag") }
    // weighted ≠ unweighted on this corpus (the weight must matter)
    val unweighted = rows.groupBy(_._1).view.mapValues { rs =>
      val vs = rs.map(_._2).sorted
      vs((vs.size - 1) / 2).toDouble / 100.0
    }.toMap
    assert(want.exists { case (f, (_, p50, _)) => p50 != unweighted(f) })
  }
}
