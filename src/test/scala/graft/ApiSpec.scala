package graft

import graft.api.GraftApi
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reusable surface (graft.api.GraftApi) exercised on ad-hoc frames —
  * NOT the driver fixtures — proving the operators are corpus-agnostic. */
class ApiSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("normalizeText canonicalizes case, accents and whitespace") {
    val got = Seq("  Crème   BRÛLÉE  ", "creme brulee")
      .toDF("t").select(GraftApi.normalizeText(col("t")).as("n"))
      .collect().map(_.getString(0)).distinct
    assert(got.length == 1 && got.head == "creme brulee")
  }

  test("canonicalUrl folds every spelling class to one canonical form") {
    val variants = Seq(
      "https://WWW.News.Example.COM:443/a/b?utm_source=x&id=7",
      "https://www.news.example.com/a/b?id=7",
      "https://www.news.example.com:443/a/b?utm_campaign=y&id=7#frag",
      "https://www.news.example.com/a/b/?id=7",
      "https://news.example.com/a/b?id=7&utm_medium=z")
    val got = variants.toDF("u")
      .select(GraftApi.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).distinct.toSeq
    assert(got == Seq("https://news.example.com/a/b?id=7"), got)
    // param ORDER normalizes; non-tracking params survive sorted
    val two = Seq("https://a.example.com/p?b=2&a=1",
      "https://a.example.com/p?a=1&b=2")
      .toDF("u").select(GraftApi.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).distinct.toSeq
    assert(two == Seq("https://a.example.com/p?a=1&b=2"), two)
  }

  test("canonicalUrl maps non-http(s) inputs to NULL, never a shared key") {
    // pre-fix these all collapsed to the same "https://" key — a
    // URL-keyed dedup would have merged every malformed row into one
    // group and discarded all but one
    val bad = Seq("", "not a url", "ftp://files.example.com/a",
      "/relative/path?id=1", "mailto:x@example.com", "https://")
    val got = bad.toDF("u")
      .select(GraftApi.canonicalUrl(col("u")).as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.forall(_.isEmpty), s"malformed urls must canonicalize " +
      s"to NULL: ${bad.zip(got)}")
    // and a well-formed URL is unaffected by the null branch
    val ok = Seq("https://www.ok.example.com/a/?id=1#f").toDF("u")
      .select(GraftApi.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(ok == Seq("https://ok.example.com/a?id=1"), ok)
  }

  test("dedupExact keeps exactly the min-id survivor per key") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("id", "k")
    val kept = GraftApi.dedupExact(df, col("k"), col("id"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L))
  }

  test("resolveClusters closes an ad-hoc pair graph") {
    val nodes = (0L to 6L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id1", "id2")
    val reps = GraftApi.resolveClusters(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("hashSample rate and split3 shares are stable and disjoint") {
    val df = (1L to 2000L).toDF("id")
    val n = GraftApi.hashSample(df, col("id"), 64).count()
    // 64/256 = 25% ± a few points on 2000 keys
    assert(n > 2000 * 0.18 && n < 2000 * 0.32, s"sample rate off: $n")
    val shares = df.select(GraftApi.split3(col("id")).as("s"))
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shares.values.sum == 2000)
    assert(shares("train") > 1400 && shares("val") > 100 && shares("test") > 100)
  }

  test("topK retrieves the planted nearest neighbor on an ad-hoc corpus") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val corpus = Seq(
      (10L, v(1, 0)), (11L, v(0.9, 0.1)), (12L, v(0, 1)), (13L, v(-1, 0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, v(1, 0))).toDF("q_id", "q_emb")
    val top = GraftApi.topK(corpus, queries, 2).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id")))
    assert(top.toSeq.sorted == Seq((1L, 10L), (2L, 11L)))
  }

  test("kmeans separates two planted clusters on an ad-hoc corpus") {
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    // ids 0/1 seed the two true clusters (init = smallest vec_ids)
    val emb = Seq(
      (0L, v(1, 0)), (1L, v(-1, 0)), (2L, v(0.9, 0.05)),
      (3L, v(-0.95, 0.02)), (4L, v(0.8, -0.1)), (5L, v(-0.85, 0.1)))
      .toDF("vec_id", "embedding")
    val a = GraftApi.kmeans(emb, k = 2, iters = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(Set(a(0L), a(2L), a(4L)).size == 1, s"right cluster split: $a")
    assert(Set(a(1L), a(3L), a(5L)).size == 1, s"left cluster split: $a")
    assert(a(0L) != a(1L), s"clusters merged: $a")
  }

  test("nearDupPairs finds a planted near-dup on non-dense ids") {
    // 21-token docs differing by one token: jaccard over 3-shingles =
    // 16/22 ≈ 0.727 ≥ 0.6; ids deliberately non-dense, non-0-based
    val base = (0 until 21).map(i => s"w$i")
    val variant = base.updated(10, "CHANGED")
    val other = (0 until 21).map(i => s"z$i")
    val docs = Seq((901L, base.mkString(" ")),
      (77L, variant.mkString(" ")), (503L, other.mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = GraftApi.nearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((77L, 901L)), s"pairs: ${pairs.toSeq}")
  }

  test("substringPairs finds a planted span through the API") {
    val span = (0 until 15).map(i => s"s$i").mkString(" ")
    val docs = Seq((11L, s"a0 a1 $span a2"), (42L, s"b0 $span b1 b2"),
      (99L, (0 until 20).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = GraftApi.substringPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("max_span")))
    assert(got.toSeq == Seq((11L, 42L, 15L)), s"got: ${got.toSeq}")
  }

  test("componentSizes reports the ad-hoc component sizes") {
    val nodes = (0L to 6L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id1", "id2")
    val sizes = GraftApi.componentSizes(
        GraftApi.resolveClusters(nodes, pairs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(0L -> 3L, 3L -> 1L, 4L -> 2L, 6L -> 1L))
  }

  test("weightedSample prefers heavy rows, survives zero weights, " +
      "and is layout-stable") {
    val df = (1L to 400L).map(i => (i, if (i <= 40) 1000L else 1L))
      .toDF("id", "w")
    val picked = GraftApi.weightedSample(df, col("id"), col("w"), 30)
      .collect().map(_.getLong(0)).toSet
    // heavy rows are 1000× likelier — expect the sample dominated by them
    assert(picked.count(_ <= 40) >= 20, s"heavy rows underrepresented")
    // zero/negative weights are excluded (P ∝ 0), not clamped up
    val z = Seq((1L, 0L), (2L, -5L), (3L, 7L)).toDF("id", "w")
    assert(GraftApi.weightedSample(z, col("id"), col("w"), 3)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // FRACTIONAL weights are honored, not flattened: 0.9 vs 0.001 must
    // select overwhelmingly from the heavy fraction
    val frac = (1L to 300L).map(i =>
      (i, if (i <= 30) 0.9 else 0.001)).toDF("id", "w")
    val fp = GraftApi.weightedSample(frac, col("id"), col("w"), 20)
      .collect().map(_.getLong(0))
    assert(fp.count(_ <= 30) >= 15,
      s"fractional heavy rows underrepresented: ${fp.toSeq}")
    // layout-stability: repartitioned input selects the identical set
    val again = GraftApi.weightedSample(df.repartition(7), col("id"),
      col("w"), 30).collect().map(_.getLong(0)).toSet
    assert(again == picked)
  }

  test("pcaFit + pcaProject recover a planted dominant axis") {
    // 40 vectors spread along e1 with small e2 jitter: the top axis
    // must align with e1 (|a1·e1| ≈ 1) and p1 must order like x
    val docs = (1 to 40).map { i =>
      (i.toLong, Seq((i - 20).toFloat, ((i % 3) - 1) * 0.01f))
    }.toDF("vec_id", "embedding")
    val Some((axes, evs)) = GraftApi.pcaFit(docs)
    assert(math.abs(math.abs(axes(0)(0)) - 1.0) < 1e-3,
      s"top axis not e1: ${axes(0).toSeq}")
    assert(evs(0) > 100 * evs(1), s"eigengap missing: ${evs.toSeq}")
    val proj = GraftApi.pcaProject(docs, axes)
      .orderBy("vec_id").collect().map(_.getAs[Double]("p1"))
    val diffs = proj.sliding(2).map { case Array(a, b) => b - a }.toSeq
    assert(diffs.forall(d => d > 0) || diffs.forall(d => d < 0),
      "p1 not monotone along the planted axis")
  }

  test("pqFit + pqEncode emit in-range codes on an ad-hoc frame") {
    val docs = (1 to 64).map { i =>
      (i.toLong, (0 until 16).map(j =>
        math.sin(i * 0.37 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val Some(cb) = GraftApi.pqFit(docs)
    assert(cb.length == 8 && cb(0).length == 16)
    val coded = GraftApi.pqEncode(docs, cb)
    assert(coded.columns.count(_.startsWith("c")) >= 8)
    val codes = coded.select((0 until 8).map(m => col(s"c$m")): _*)
      .collect()
    assert(codes.forall(r => (0 until 8).forall { m =>
      val c = r.getInt(m); c >= 0 && c < 16
    }), "codes out of nibble range")
  }

  test("removeBoilerplate drops the repeated chunk, keeps unique text") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "a b z w"))
      .toDF("doc_id", "text")
    val out = GraftApi.removeBoilerplate(docs, w = 2, minDf = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(out(1L) == ((1L, "c d")) && out(2L) == ((1L, "x y")) &&
      out(3L) == ((1L, "z w")), s"got $out")
  }

  test("removeDuplicateSpans strips a planted span from the higher doc") {
    val span = (0 until 15).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (10L, s"u0 u1 $span u2"), (20L, s"v0 $span v1 v2 v3"))
      .toDF("doc_id", "text")
    val out = GraftApi.removeDuplicateSpans(docs, k = 13).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("text_clean"))))
      .toMap
    assert(out(10L) == ((0L, s"u0 u1 $span u2")), s"got $out")
    assert(out(20L) == ((15L, "v0 v1 v2 v3")), s"got $out")
  }

  test("repetitionStats flags a loop doc through the API and keeps " +
      "short docs as trivially clean rows") {
    val docs = Seq((1L, (0 until 30).map(_ => "ab cd").mkString(" ")),
      (2L, (0 until 40).map(i => s"q$i").mkString(" ")),
      (3L, "solo")) // < 2 tokens: no grams, must still get a clean row
      .toDF("doc_id", "text")
    val out = GraftApi.repetitionStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("is_clean"), r.getAs[Double]("top_frac_2"))))
      .toMap
    assert(out.view.mapValues(_._1).toMap ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L), s"got $out")
    assert(out(3L)._2 == 0.0, "short doc fracs must be zero, not null")
  }

  test("semanticDedup keeps the centroid-nearest of a planted dup pair") {
    // one cell at e1, one at e2; vecs 1/2 are near-identical in cell 0
    // (dot = 0.99 ≥ 0.4), vec 2 slightly farther from the centroid →
    // dropped; vec 3 alone in cell 1 survives.
    val e = Array.fill(4)(0.0f)
    def v(i: Int, x: Float): Array[Float] =
      { val a = e.clone(); a(i) = x; a }
    val emb = Seq((1L, v(0, 1.0f)), (2L, v(0, 0.99f)), (3L, v(1, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0))
    val out = GraftApi.semanticDedup(emb, cents).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Long]("is_kept")))).toMap
    assert(out == Map(1L -> ((0L, 1L)), 2L -> ((0L, 0L)),
      3L -> ((1L, 1L))), s"got $out")
  }

  test("mmrRerank picks one of a redundant pair, then the diverse vector") {
    // q = (0.8, 0.6): candidates 10/11 near-identical along e0
    // (sim 0.792/0.784 — redundant pair), 12 = e1 (sim 0.6, orthogonal
    // to the pair). Plain top-2 = (10, 11); at rank 2 MMR scores
    // 11: 0.7·0.784 − 0.3·0.970 = 0.258 vs 12: 0.7·0.6 − 0 = 0.42 —
    // the diverse vector must displace the redundant twin.
    def v(i: Int, x: Float): Array[Float] =
      { val a = Array.fill(4)(0.0f); a(i) = x; a }
    val corpus = Seq((10L, v(0, 0.99f)), (11L, v(0, 0.98f)),
      (12L, v(1, 1.0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(0.8f, 0.6f, 0.0f, 0.0f)))
      .toDF("q_id", "q_emb")
    val got = GraftApi.mmrRerank(corpus, queries).collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("vec_id")).toMap
    assert(got(1L) == 10L, s"rank 1 must be the most relevant: $got")
    assert(got(2L) == 12L,
      s"rank 2 must be the diverse vector, not the redundant twin: $got")
    assert(got(3L) == 11L, s"redundant twin comes last: $got")
  }

  test("mmrRerank size-gated local greedy and relational chain agree") {
    // the round-15 gate: pools under the budget run the exact greedy
    // driver-side over the same materialized doubles; this pins the two
    // regimes pick-for-pick on a multi-query pool with redundancy
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (10L, v(0.99, 0, 0, 0)), (11L, v(0.98, 0.01, 0, 0)),
      (12L, v(0, 1.0, 0, 0)), (13L, v(0.5, 0.5, 0.1, 0)),
      (14L, v(0, 0, 1.0, 0)), (15L, v(0.1, 0, 0.9, 0.2))
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, v(0.8, 0.6, 0, 0)), (2L, v(0, 0.2, 0.98, 0)))
      .toDF("q_id", "q_emb")
    val local = regimesAgree("mmrRerank gated") {
      GraftApi.mmrRerank(corpus, queries).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
          r.getAs[Long]("vec_id")).toMap
    }
    assert(local.keySet.map(_._1) == Set(1L, 2L))
  }

  test("mmrRerank regimes agree on NaN-scored candidates") {
    // r16 (r15 ADVICE): NaN embeddings propagate NaN through every dot;
    // Spark's window ordering ranks NaN as the GREATEST double, so the
    // local greedy must too — a plain `>` loop would skip NaN scores,
    // keep its −1 sentinel, and emit a bogus (q_id, −1, rank) row
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (10L, v(0.9, 0.1, 0, 0)), (11L, v(Double.NaN, 0, 0, 0)),
      (12L, v(0, 1.0, 0, 0)), (13L, v(0.4, 0.4, 0.2, 0))
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, v(0.7, 0.7, 0, 0))).toDF("q_id", "q_emb")
    val local = regimesAgree("NaN") {
      GraftApi.mmrRerank(corpus, queries).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("vec_id"))).sorted.toVector
    }
    assert(!local.exists(_._3 == -1L), s"sentinel id leaked: $local")
  }

  test("mmrRerank computes its candidate pool once in either regime") {
    // the pool is the candidate × query window; the gate decides from a
    // fetch of the queries, so neither regime runs that window twice
    // (local: one collect; distributed: one checkpoint)
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    object Plans extends AdaptiveSparkPlanHelper
    def poolWindow(p: SparkPlan): Boolean = Plans.find(p) {
      case w: WindowExec => Plans.find(w.child) {
        case _: GenerateExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }.isDefined
      case _ => false
    }.isDefined
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq((10L, v(0.9, 0.1)), (11L, v(0.1, 0.9)),
      (12L, v(0.6, 0.6)), (13L, v(0.8, 0.3))).toDF("vec_id", "embedding")
    val queries = Seq((1L, v(1.0, 0.0)), (2L, v(0.0, 1.0)))
      .toDF("q_id", "q_emb")
    def pools(body: => Unit): Int =
      commandPlans(body).count(qe => poolWindow(qe.executedPlan))
    val local = pools(GraftApi.mmrRerank(corpus, queries).collect())
    assert(local == 1, s"local: the pool window ran $local times")
    val forced = pools(Gate.distributed(
      GraftApi.mmrRerank(corpus, queries).collect()))
    assert(forced == 1, s"distributed: the pool window ran $forced times")
    // over budget (2 queries × 1000² > the budget) the queries are not
    // all fetched: they broadcast into a cross join, and the 4-candidate
    // pool is the one poolSize = 4 builds in the local regime
    def ranks(poolSize: Int) = GraftApi.mmrRerank(corpus, queries,
        poolSize = poolSize).collect().map(_.toString).sorted.toSeq
    var over = Seq.empty[String]
    val overPools = pools { over = ranks(1000) }
    assert(overPools == 1, s"over budget: the pool window ran $overPools times")
    assert(over == ranks(4), s"over budget: $over vs ${ranks(4)}")
  }

  test("subwordTokens splits, marks continuations, and UNKs out-of-vocab") {
    val docs = Seq((1L, "customer window a"), (2L, "Zebra!"))
      .toDF("doc_id", "text")
    val got = GraftApi.subwordTokens(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("word_idx")) ->
        ((r.getSeq[String](2).toList, r.getAs[Boolean]("unk")))).toMap
    assert(got((1L, 0L)) == ((List("cust", "##omer"), false)), s"$got")
    assert(got((1L, 1L)) == ((List("win", "##dow"), false)), s"$got")
    assert(got((1L, 2L)) == ((List("a"), false)), s"$got")
    assert(got((2L, 0L)) == ((List("[UNK]"), true)), s"$got")
  }

  test("minhashBandKeys: 4 keys per doc, equal texts collide, short " +
      "docs emit none") {
    val docs = Seq((1L, "join hash row scan"), (2L, "join hash row scan"),
      (3L, "filter small slow merge"), (4L, "too short"))
      .toDF("doc_id", "text")
    val keys = GraftApi.minhashBandKeys(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(keys(1L).size == 4 && keys(1L) == keys(2L),
      "identical docs must share all band keys")
    assert((keys(1L) intersect keys(3L)).isEmpty,
      "unrelated docs must not collide")
    assert(!keys.contains(4L), "sub-3-word docs have no band keys")
  }

  test("shingleHashes matches the SQL-composable xxhash64 form") {
    val df = Seq("the quick brown fox jumps").toDF("t")
    val kernel = df.select(GraftApi.shingleHashes(col("t"), 3).as("h"))
      .collect().head.getSeq[Long](0).toSet
    val reference = df
      .select(explode(expr(
        "transform(sequence(1, size(split(t, ' ')) - 2)," +
          " i -> xxhash64(concat_ws(' ', slice(split(t, ' '), i, 3))))"))
        .as("h"))
      .collect().map(_.getLong(0)).toSet
    assert(kernel == reference && kernel.size == 3)
  }

  test("dedupSpansKeepFirst keeps one copy of a repeated span; " +
      "removeBoilerplate would keep both") {
    // "x y" repeats across docs 1 and 2 (df = 2, below the df>=3
    // boilerplate bar): C4 keeps doc 1's copy and cuts doc 2's
    val docs = Seq((1L, "x y a b"), (2L, "x y c d")).toDF("doc_id", "text")
    val c4 = GraftApi.dedupSpansKeepFirst(docs, w = 2).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(c4(1L) == "x y a b" && c4(2L) == "c d")
    val bp = GraftApi.removeBoilerplate(docs, w = 2).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(bp(1L) == "x y a b" && bp(2L) == "x y c d")
  }

  test("winnowFingerprints: identical docs share all fingerprints, " +
      "disjoint docs share none") {
    val docs = Seq((1L, "p q r s t u"), (2L, "p q r s t u"),
      (3L, "m n o k l j")).toDF("doc_id", "text")
    val fps = GraftApi.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    def of(id: Long) = fps.filter(_._1 == id).map(_._2).toSet
    assert(of(1L) == of(2L) && of(1L).nonEmpty)
    assert((of(1L).map(_._2) & of(3L).map(_._2)).isEmpty)
  }

  test("bpeTrain learns the dominant pair first on an ad-hoc corpus") {
    val docs = Seq((1L, "low low low lower")).toDF("doc_id", "text")
    val (table, fin) = GraftApi.bpeTrain(docs)
    val first = table.orderBy("rnd").collect().head
    // (l,o) appears in all 4 words; (o,w) likewise — tie broken
    // lexicographically to (l,o)
    assert((first.getString(1), first.getString(2)) == (("l", "o")))
    // every word still reconstructs from its final pieces
    val rebuilt = fin.collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Int]("pos"),
        r.getAs[String]("piece")))
      .groupBy(_._1).map { case (w, ps) =>
        w -> ps.sortBy(_._2).map(_._3).mkString("") }
    assert(rebuilt == Map("low" -> "low</w>", "lower" -> "lower</w>"))
  }

  test("psi is exactly zero for identical halves, positive under shift") {
    // same bin profile on both sides → every term quantizes to 0
    val same = (1 to 100).flatMap(i =>
      Seq((i % 5, true), (i % 5, false))).toDF("bin", "isa")
    val z = GraftApi.psi(same, col("bin"), col("isa"), nBins = 5)
      .collect()
    assert(z.forall(_.getAs[Double]("psi") == 0.0))
    // shifted: side A all in bin 0, side B all in bin 4
    val shifted = ((1 to 100).map(_ => (0, true)) ++
      (1 to 100).map(_ => (4, false))).toDF("bin", "isa")
    val p = GraftApi.psi(shifted, col("bin"), col("isa"), nBins = 5)
      .collect().head.getAs[Double]("psi")
    assert(p > 1.0, s"shifted psi should be large: $p")
  }

  test("mannWhitney: identical samples give z=0, separated samples |z|>2") {
    val same = ((1 to 50).map(v => (true, v.toLong)) ++
      (1 to 50).map(v => (false, v.toLong))).toDF("t", "v")
    val r0 = GraftApi.mannWhitney(same, col("t"), col("v")).collect().head
    assert(r0.getAs[Double]("z") == 0.0)
    assert(r0.getAs[Double]("u1") == 50.0 * 50 / 2)
    val apart = ((1 to 50).map(v => (true, v + 1000L)) ++
      (1 to 50).map(v => (false, v.toLong))).toDF("t", "v")
    val r1 = GraftApi.mannWhitney(apart, col("t"), col("v")).collect().head
    assert(r1.getAs[Double]("z") > 2.0)
  }

  test("gini: equal amounts 0, single-holder (n-1)/n") {
    val eq = (1L to 10L).map(i => ("g", 500L, i)).toDF("g", "c", "i")
    val g0 = GraftApi.gini(eq, col("g"), col("c"), col("i"))
      .collect().head.getAs[Double]("gini")
    assert(g0 == 0.0)
    val one = ((1L to 9L).map(i => ("g", 0L, i)) :+ (("g", 1000L, 10L)))
      .toDF("g", "c", "i")
    val g1 = GraftApi.gini(one, col("g"), col("c"), col("i"))
      .collect().head.getAs[Double]("gini")
    assert(math.abs(g1 - 0.9) < 1e-9, s"single-holder gini: $g1")
  }

  test("recallAtK counts surviving ids per query") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L),
      (2L, 22L)).toDF("q_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 7L))
      .toDF("q_id", "vec_id")
    val got = GraftApi.recallAtK(exact, approx, 3).collect()
      .map(r => r.getAs[Long]("q_id") ->
        ((r.getAs[Long]("hits"), r.getAs[Double]("recall")))).toMap
    assert(got(1L) == ((2L, 2.0 / 3)) && got(2L) == ((0L, 0.0)))
  }

  test("hashEmbed: same token accumulates, weights are signed counts") {
    val docs = Seq((1L, "a a b"), (2L, "a")).toDF("id", "t")
    val got = GraftApi.hashEmbed(docs, col("id"), col("t")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("dim"))
        -> r.getAs[Long]("weight")).toMap
    val aDim = got.keys.filter(_._1 == 2L).head._2
    assert(math.abs(got((2L, aDim))) == 1L)
    assert(math.abs(got((1L, aDim))) == 2L) // 'a' twice, same sign
    assert(got.size == 3) // (1,a-dim), (1,b-dim), (2,a-dim)
  }

  test("capPerGroup keeps the top-scored rows with dense ranks") {
    val df = Seq(("s", 5L, 1L), ("s", 9L, 2L), ("s", 7L, 3L),
      ("t", 1L, 4L)).toDF("g", "score", "id")
    val got = GraftApi.capPerGroup(df, col("g"), col("score"), col("id"), 2)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("id"),
        r.getAs[Long]("rank"))).toSet
    assert(got == Set(("s", 2L, 1L), ("s", 3L, 2L), ("t", 4L, 1L)))
  }

  test("kaplanMeier hits exactly zero survival at an extinction step") {
    // 4 subjects, all dead: t=1 (2 deaths of 4 at risk), t=2 (2 of 2 —
    // extinction). survival must be EXACTLY 0.0 there, not exp(ln(0))
    // artifacts; log_surv NULL from the extinction step on.
    val subj = Seq((1L, 1L), (1L, 1L), (2L, 1L), (2L, 1L))
      .toDF("t", "dead")
    val rows = GraftApi.kaplanMeier(subj).orderBy("t").collect()
    assert(rows.length == 2)
    val first = rows(0)
    assert(first.getAs[Long]("n_risk") == 4L)
    assert(math.abs(first.getAs[Double]("survival") - 0.5) < 1e-3)
    val last = rows(1)
    assert(last.getAs[Long]("n_risk") == 2L && last.getAs[Long]("d") == 2L)
    assert(last.getAs[Double]("survival") == 0.0)
    assert(last.isNullAt(last.fieldIndex("log_surv")))
    // censored-at-the-end variant: no extinction, survival stays > 0
    val cens = Seq((1L, 1L), (1L, 0L), (2L, 0L)).toDF("t", "dead")
    val s2 = GraftApi.kaplanMeier(cens).orderBy("t").collect()
    assert(s2.forall(_.getAs[Double]("survival") > 0.0))
  }

  test("cusum matches the direct max(0, s+dev) recurrence on a shift") {
    val xs = Seq(10L, 10L, 10L, 10L, 20L, 20L, 20L, 20L)
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("ord", "x")
    val got = GraftApi.cusum(df, col("ord"), col("x"))
      .orderBy("ord").collect().map(_.getAs[Long]("cusum_scaled"))
    val n = xs.length
    val t = xs.sum
    var s = 0L
    val direct = xs.map { x =>
      s = math.max(0L, s + (x * n - t)); s
    }
    assert(got.toSeq == direct)
    // the statistic peaks inside the shifted regime
    assert(got.max == direct.max && direct.max > 0)
  }

  // ---- incremental materialized views (round 11) --------------------

  private def mvCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)

  private def mvFullRecompute(): Seq[String] =
    spark.table("graft.mvspec_src").groupBy("g")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .orderBy("g").collect().map(_.toString).toSeq

  private def mvState(): Seq[String] =
    spark.table("graft.mvspec_mv").orderBy("g")
      .collect().map(_.toString).toSeq

  test("incremental MV refresh equals full recompute after every DML " +
      "round, a no-change refresh is a no-op, and groups vanish and " +
      "appear with their rows") {
    mvCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.mvspec_src")
    spark.sql("CREATE TABLE graft.mvspec_src (k BIGINT, g STRING, " +
      "cents BIGINT) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.mvspec_src SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
      "ELSE 'c' END, id * 10 FROM range(60)")
    GraftApi.createMaterializedView(spark, "graft.mvspec_mv",
      "graft.mvspec_src", Seq("g"), "n", "cents", "s")
    assert(mvState() == mvFullRecompute(), "initial materialization")
    // no changes yet: refresh is a 0-row no-op
    assert(GraftApi.refreshMaterializedView(spark, "graft.mvspec_mv")
      ._1 == 0L)
    // round 1: in-place update (same group, sum moves, count doesn't)
    spark.sql("UPDATE graft.mvspec_src SET cents = cents + 7 " +
      "WHERE k % 5 = 0")
    val (n1, _) = GraftApi.refreshMaterializedView(spark,
      "graft.mvspec_mv")
    assert(n1 == 24L, s"12 updates = 12 pre + 12 post images, got $n1")
    assert(mvState() == mvFullRecompute(), "after update round")
    // round 2: delete EVERY 'c' row — the group must vanish
    spark.sql("DELETE FROM graft.mvspec_src WHERE g = 'c'")
    GraftApi.refreshMaterializedView(spark, "graft.mvspec_mv")
    assert(mvState() == mvFullRecompute(), "after group-kill round")
    assert(!mvState().exists(_.contains("[c,")), mvState().toString)
    // round 3: two commits in one refresh window — a brand-new group
    // and more deletes fold together
    spark.sql("INSERT INTO graft.mvspec_src SELECT id + 1000, 'z', " +
      "5 FROM range(4)")
    spark.sql("DELETE FROM graft.mvspec_src WHERE k % 2 = 1")
    GraftApi.refreshMaterializedView(spark, "graft.mvspec_mv")
    assert(mvState() == mvFullRecompute(), "after multi-commit window")
    assert(mvState().exists(_.startsWith("[z,")), mvState().toString)
    // round 4: an UPDATE that MOVES rows across groups — the preimage
    // retracts from 'a', the postimage lands in 'b'
    spark.sql("UPDATE graft.mvspec_src SET g = 'b' " +
      "WHERE g = 'a' AND k % 4 = 0")
    GraftApi.refreshMaterializedView(spark, "graft.mvspec_mv")
    assert(mvState() == mvFullRecompute(), "after group-moving update")
    spark.sql("DROP TABLE graft.mvspec_src")
    spark.sql("DROP TABLE graft.mvspec_mv")
  }

  test("MV guards: a copy-on-write source refuses at CREATE (no change " +
      "feed to fold) and a non-BIGINT sum column refuses by contract") {
    mvCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.mvspec_cow")
    spark.sql("CREATE TABLE graft.mvspec_cow (k BIGINT, g STRING, " +
      "cents BIGINT)")
    spark.sql("INSERT INTO graft.mvspec_cow SELECT id, 'a', id " +
      "FROM range(5)")
    val exCow = intercept[Exception] {
      GraftApi.createMaterializedView(spark, "graft.mvspec_bad",
        "graft.mvspec_cow", Seq("g"), "n", "cents", "s")
    }
    assert(exCow.getMessage.contains("change feed"), exCow.getMessage)
    spark.sql("DROP TABLE IF EXISTS graft.mvspec_dbl")
    spark.sql("CREATE TABLE graft.mvspec_dbl (k BIGINT, g STRING, " +
      "v DOUBLE) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    val exDbl = intercept[Exception] {
      GraftApi.createMaterializedView(spark, "graft.mvspec_bad",
        "graft.mvspec_dbl", Seq("g"), "n", "v", "s")
    }
    assert(exDbl.getMessage.contains("must be BIGINT"), exDbl.getMessage)
    spark.sql("DROP TABLE graft.mvspec_cow")
    spark.sql("DROP TABLE graft.mvspec_dbl")
  }

  // ---- group-wise recompute MVs (round 12) ---------------------------

  private def gwFullRecompute(): Seq[String] =
    spark.table("graft.gwspec_src").groupBy("g")
      .agg(count(lit(1)).as("n"), min("cents").as("lo"),
        max("cents").as("hi"))
      .orderBy("g").collect().map(_.toString).toSeq

  private def gwState(): Seq[String] =
    spark.table("graft.gwspec_mv").orderBy("g")
      .collect().map(_.toString).toSeq

  test("group-wise MV (MIN/MAX): a delete that KILLS a group's max " +
      "recomputes only the touched groups and equals full recompute; " +
      "groups vanish and appear; a no-change refresh is a no-op") {
    mvCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.gwspec_src")
    spark.sql("CREATE TABLE graft.gwspec_src (k BIGINT, g STRING, " +
      "cents BIGINT) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.gwspec_src SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
      "ELSE 'c' END, id * 10 FROM range(60)")
    GraftApi.createGroupwiseView(spark, "graft.gwspec_mv",
      "graft.gwspec_src", Seq("g"), "cents", "n", "lo", "hi")
    assert(gwState() == gwFullRecompute(), "initial materialization")
    assert(GraftApi.refreshGroupwiseView(spark, "graft.gwspec_mv")
      ._1 == 0L, "no-change refresh must be a no-op")
    // THE non-retractable case: delete the current MAX of group 'a'
    // (k=57, cents=570) — a fold could never lower the max; the
    // group-wise recompute must
    spark.sql("DELETE FROM graft.gwspec_src WHERE k = 57")
    val (t1, _) = GraftApi.refreshGroupwiseView(spark, "graft.gwspec_mv")
    assert(t1 == 1L, s"exactly ONE group touched, got $t1")
    assert(gwState() == gwFullRecompute(), "after max-kill delete")
    assert(spark.table("graft.gwspec_mv").where(col("g") === "a")
      .collect()(0).getAs[Long]("hi") == 540L,
      "the max must drop to the next survivor")
    // untouched groups b/c were not named: the touched count above
    // already pinned the O(changed groups) property
    // group-kill + new group + min-shifting update in ONE window
    spark.sql("DELETE FROM graft.gwspec_src WHERE g = 'c'")
    spark.sql("INSERT INTO graft.gwspec_src SELECT id + 1000, 'z', " +
      "7 - id FROM range(3)")
    spark.sql("UPDATE graft.gwspec_src SET cents = cents - 1000 " +
      "WHERE g = 'b' AND k = 1")
    GraftApi.refreshGroupwiseView(spark, "graft.gwspec_mv")
    assert(gwState() == gwFullRecompute(), "after multi-commit window")
    assert(!gwState().exists(_.startsWith("[c,")), gwState().toString)
    assert(gwState().exists(_.startsWith("[z,")), gwState().toString)
    spark.sql("DROP TABLE graft.gwspec_src")
    spark.sql("DROP TABLE graft.gwspec_mv")
  }

  test("MV definitions are DURABLE: a simulated restart evicts the " +
      "MV's in-memory state, and replaying the MV table's log restores " +
      "its rows, definition AND refresh watermark — maintenance " +
      "continues with no double-apply and no gap") {
    mvCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.mvdur_src")
    spark.sql("CREATE TABLE graft.mvdur_src (k BIGINT, g STRING, " +
      "cents BIGINT) TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.mvdur_src SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id * 10 " +
      "FROM range(40)")
    GraftApi.createMaterializedView(spark, "graft.mvdur_mv",
      "graft.mvdur_src", Seq("g"), "n", "cents", "s")
    spark.sql("DELETE FROM graft.mvdur_src WHERE k % 4 = 1")
    GraftApi.refreshMaterializedView(spark, "graft.mvdur_mv") // folds v1
    val afterFold = spark.table("graft.mvdur_mv").orderBy("g")
      .collect().map(_.toString).toSeq

    // ---- restart: source and MV table state all evicted
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.mvdur_src", "graft.mvdur_mv"))

    // the MV table replays; its content is exactly the folded state
    assert(spark.table("graft.mvdur_mv").orderBy("g")
      .collect().map(_.toString).toSeq == afterFold)
    // the WATERMARK replayed too: nothing new → refresh is a no-op
    // (a lost watermark would re-fold v1 and double-apply)
    assert(GraftApi.refreshMaterializedView(spark, "graft.mvdur_mv")
      ._1 == 0L, "replayed watermark must make the refresh a no-op")
    // new DML after the restart folds normally and equals recompute
    spark.sql("UPDATE graft.mvdur_src SET cents = cents + 3 " +
      "WHERE k % 5 = 0")
    GraftApi.refreshMaterializedView(spark, "graft.mvdur_mv")
    val expect = spark.table("graft.mvdur_src").groupBy("g")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .orderBy("g").collect().map(_.toString).toSeq
    assert(spark.table("graft.mvdur_mv").orderBy("g")
      .collect().map(_.toString).toSeq == expect)
    // group-wise MVs restore through the same log path
    GraftApi.createGroupwiseView(spark, "graft.mvdur_gw",
      "graft.mvdur_src", Seq("g"), "cents", "n", "lo", "hi")
    spark.sql("DELETE FROM graft.mvdur_src WHERE k = 38") // a max
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.mvdur_src", "graft.mvdur_gw"))
    GraftApi.refreshGroupwiseView(spark, "graft.mvdur_gw")
    val gwExpect = spark.table("graft.mvdur_src").groupBy("g")
      .agg(count(lit(1)).as("n"), min("cents").as("lo"),
        max("cents").as("hi"))
      .orderBy("g").collect().map(_.toString).toSeq
    assert(spark.table("graft.mvdur_gw").orderBy("g")
      .collect().map(_.toString).toSeq == gwExpect,
      "group-wise MV must keep maintaining across a restart")
    spark.sql("DROP TABLE graft.mvdur_src")
    spark.sql("DROP TABLE graft.mvdur_mv")
    spark.sql("DROP TABLE graft.mvdur_gw")
  }

  test("MV watermark rides the fold's OWN commit: after a restart the " +
      "already-folded window folds nothing (no double-apply), and DROP " +
      "TABLE retires the definition") {
    mvCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.mvwm_src")
    spark.sql("CREATE TABLE graft.mvwm_src (k BIGINT, g STRING, " +
      "cents BIGINT) TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.mvwm_src SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id * 10 " +
      "FROM range(40)")
    GraftApi.createMaterializedView(spark, "graft.mvwm_mv",
      "graft.mvwm_src", Seq("g"), "n", "cents", "s")
    spark.sql("UPDATE graft.mvwm_src SET cents = cents + 7 " +
      "WHERE k % 3 = 0")
    GraftApi.refreshMaterializedView(spark, "graft.mvwm_mv") // folds v1
    val folded = spark.table("graft.mvwm_mv").orderBy("g")
      .collect().map(_.toString).toSeq
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.mvwm_src", "graft.mvwm_mv"))
    // the commit-carried watermark: the already-folded window re-folds
    // ZERO rows (a lost watermark would double-apply 7-cent deltas
    // here) and the state is unchanged
    assert(GraftApi.refreshMaterializedView(spark, "graft.mvwm_mv")
      ._1 == 0L, "the committed window must not re-fold")
    assert(spark.table("graft.mvwm_mv").orderBy("g")
      .collect().map(_.toString).toSeq == folded,
      "double-applied deltas after the restart")
    // maintenance continues: new DML folds and equals full recompute
    spark.sql("DELETE FROM graft.mvwm_src WHERE k % 4 = 2")
    GraftApi.refreshMaterializedView(spark, "graft.mvwm_mv")
    val expect = spark.table("graft.mvwm_src").groupBy("g")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      .orderBy("g").collect().map(_.toString).toSeq
    assert(spark.table("graft.mvwm_mv").orderBy("g")
      .collect().map(_.toString).toSeq == expect)
    // DROP TABLE on the MV retires the definition with the table
    spark.sql("DROP TABLE graft.mvwm_mv")
    val ex = intercept[IllegalArgumentException] {
      GraftApi.refreshMaterializedView(spark, "graft.mvwm_mv")
    }
    assert(ex.getMessage.contains("not a registered materialized view"))
    spark.sql("DROP TABLE graft.mvwm_src")
  }

  // ---- MV state in the MV table's own log ----------------------------

  private def createMvSource(src: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"CREATE TABLE $src (k BIGINT, g STRING, cents BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
  }

  private def byGroup(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("g").collect().map(_.toString).toSeq

  /** (sum MV, group-wise MV) recomputed from scratch over `src` */
  private def recompute(src: String): (Seq[String], Seq[String]) = (
    byGroup(spark.table(src).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))),
    byGroup(spark.table(src).groupBy("g")
      .agg(count(lit(1)).as("n"), min("cents").as("lo"),
        max("cents").as("hi"))))

  private def createBothMvs(src: String, sumMv: String,
      gwMv: String): Unit = {
    GraftApi.createMaterializedView(spark, sumMv, src, Seq("g"), "n",
      "cents", "s")
    GraftApi.createGroupwiseView(spark, gwMv, src, Seq("g"), "cents", "n",
      "lo", "hi")
  }

  private def refreshBoth(sumMv: String, gwMv: String): (Long, Long) =
    (GraftApi.refreshMaterializedView(spark, sumMv)._1,
      GraftApi.refreshGroupwiseView(spark, gwMv)._1)

  test("MV state lives in the MV table's own log: for both kinds a " +
      "fold survives a restart with no sidecar files, the next refresh " +
      "folds nothing new, and later DML folds to a full recompute") {
    mvCatalog()
    val (src, sumMv, gwMv) =
      ("graft.mvlog_src", "graft.mvlog_sum", "graft.mvlog_gw")
    createMvSource(src)
    spark.sql(s"INSERT INTO $src SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
      "ELSE 'c' END, id * 10 FROM range(45)")
    createBothMvs(src, sumMv, gwMv)
    spark.sql(s"DELETE FROM $src WHERE k % 4 = 1")
    val (nSum, nGw) = refreshBoth(sumMv, gwMv)
    assert(nSum > 0L && nGw > 0L, s"the delete must fold: $nSum, $nGw")
    graft.sources.GraftLog.simulateProcessRestart(Seq(src, sumMv, gwMv))
    val mvsDir = new java.io.File(graft.sources.GraftWarehouse.root, "mvs")
    assert(!mvsDir.exists(), s"MV state must not live in $mvsDir")
    assert(refreshBoth(sumMv, gwMv) == ((0L, 0L)),
      "the replayed watermarks must make the refreshes no-ops")
    assert((byGroup(spark.table(sumMv)), byGroup(spark.table(gwMv))) ==
      recompute(src), "after the restart")
    // later DML: a max-killing delete, a group-moving update, a new group
    spark.sql(s"DELETE FROM $src WHERE k = 42")
    spark.sql(s"UPDATE $src SET g = 'b' WHERE g = 'a' AND k % 2 = 0")
    spark.sql(s"INSERT INTO $src SELECT id + 1000, 'z', id FROM range(3)")
    refreshBoth(sumMv, gwMv)
    assert((byGroup(spark.table(sumMv)), byGroup(spark.table(gwMv))) ==
      recompute(src), "after DML past the restart")
    Seq(src, sumMv, gwMv).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("MVs created over a source with no commits record their " +
      "definition in the baseline commit: INSERT, refresh and restart " +
      "leave them equal to a full recompute") {
    mvCatalog()
    val (src, sumMv, gwMv) =
      ("graft.mvempty_src", "graft.mvempty_sum", "graft.mvempty_gw")
    createMvSource(src)
    createBothMvs(src, sumMv, gwMv)
    assert(spark.table(sumMv).count() == 0L &&
      spark.table(gwMv).count() == 0L)
    spark.sql(s"INSERT INTO $src SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id FROM range(20)")
    refreshBoth(sumMv, gwMv)
    graft.sources.GraftLog.simulateProcessRestart(Seq(src, sumMv, gwMv))
    assert((byGroup(spark.table(sumMv)), byGroup(spark.table(gwMv))) ==
      recompute(src), "after the restart")
    assert(refreshBoth(sumMv, gwMv) == ((0L, 0L)))
    spark.sql(s"DELETE FROM $src WHERE k % 3 = 0")
    refreshBoth(sumMv, gwMv)
    assert((byGroup(spark.table(sumMv)), byGroup(spark.table(gwMv))) ==
      recompute(src), "after DML past the restart")
    Seq(src, sumMv, gwMv).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("a dropped MV stays dropped across a restart: refresh fails as " +
      "not a registered view") {
    mvCatalog()
    val (src, sumMv, gwMv) =
      ("graft.mvdrop_src", "graft.mvdrop_sum", "graft.mvdrop_gw")
    createMvSource(src)
    spark.sql(s"INSERT INTO $src SELECT id, 'a', id FROM range(5)")
    createBothMvs(src, sumMv, gwMv)
    spark.sql(s"DROP TABLE $sumMv")
    spark.sql(s"DROP TABLE $gwMv")
    graft.sources.GraftLog.simulateProcessRestart(Seq(src, sumMv, gwMv))
    val exSum = intercept[IllegalArgumentException] {
      GraftApi.refreshMaterializedView(spark, sumMv)
    }
    assert(exSum.getMessage.contains("not a registered materialized view"),
      exSum.getMessage)
    val exGw = intercept[IllegalArgumentException] {
      GraftApi.refreshGroupwiseView(spark, gwMv)
    }
    assert(exGw.getMessage.contains("not a registered group-wise view"),
      exGw.getMessage)
    spark.sql(s"DROP TABLE $src")
  }
}
