package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic invariants on randomized inputs (SURVEY §5.2.3). Each check
  * runs the real Spark operators on generated frames, so these catch
  * semantic regressions the fixed-fixture oracle can't (e.g. a dedup that
  * depends on row order, or a session assignment that shifts under jitter).
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val smallInts = Gen.listOfN(40, Gen.chooseNum(0, 12))

  /** scalatestplus isn't resolvable offline, so drive scalacheck Gens
    * directly: N deterministic draws per property. */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B], n: Int = 12)
      (body: (A, B) => Unit): Unit =
    for (i <- 1 to n) {
      val p = Gen.Parameters.default
      body(ga.pureApply(p, Seed(i)), gb.pureApply(p, Seed(i + 1000)))
    }
  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  test("WordPiece kernel matches the reference tokenizer on random words " +
      "and reconstructs every non-UNK word") {
    import graft.functions.WordPieceUtil
    // random lowercase-alnum words (always tokenizable via the letter
    // fallback) plus words with planted out-of-vocab chars (must
    // collapse to a single [UNK])
    val alnumWord = Gen.chooseNum(1, 14).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaLowerChar, 1 -> Gen.numChar)).map(_.mkString))
    val dirtyWord = for {
      w <- alnumWord
      pos <- Gen.chooseNum(0, w.length)
      c <- Gen.oneOf('!', '.', 'É', 'Z', '_')
    } yield w.substring(0, pos) + c + w.substring(pos)
    forAll(Gen.listOfN(30, alnumWord), Gen.listOfN(10, dirtyWord)) {
      (clean: List[String], dirty: List[String]) =>
        val words = clean ++ dirty
        val got = words.zipWithIndex.map(_.swap).toDF("i", "w")
          .select(col("i"),
            graft.functions.SubwordExprs.wordPiece(col("w")).as("t"))
          .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList)
          .toMap
        words.zipWithIndex.foreach { case (w, i) =>
          val ref = WordPieceUtil.tokenizeRef(w).toList
          assert(got(i) == ref, s"kernel != reference for '$w'")
          // round-trip: stripping ## markers re-concatenates to the word
          if (ref != List(WordPieceUtil.Unk))
            assert(ref.map(_.stripPrefix("##")).mkString == w,
              s"pieces don't reconstruct '$w': $ref")
        }
        // every planted dirty word must UNK (its extra char is not in
        // any vocab piece)
        dirty.zipWithIndex.foreach { case (w, j) =>
          assert(got(clean.size + j) == List(WordPieceUtil.Unk),
            s"'$w' should be [UNK]")
        }
    }
  }

  test("dedup by key is idempotent and order-insensitive") {
    forAll(smallInts, Gen.chooseNum(1L, 999999L)) {
      (xs: List[Int], seed: Long) =>
        val df = xs.zipWithIndex.toDF("k", "i")
        val once = df.dropDuplicates("k").select("k").collect().map(_.getInt(0)).sorted.toSeq
        val twice = df.dropDuplicates("k").dropDuplicates("k")
          .select("k").collect().map(_.getInt(0)).sorted.toSeq
        val shuffled = df.orderBy(md5(concat_ws("|", lit(seed), col("i"))))
          .dropDuplicates("k").select("k").collect().map(_.getInt(0)).sorted.toSeq
        assert(once == twice && once == shuffled && once == xs.distinct.sorted)
    }
  }

  test("union.distinct equals set union; intersect/except match set algebra") {
    forAll(smallInts, smallInts) { (xs: List[Int], ys: List[Int]) =>
      val a = xs.toDF("v")
      val b = ys.toDF("v")
      def vals(df: org.apache.spark.sql.DataFrame): Seq[Int] =
        df.collect().map(_.getInt(0)).sorted.toSeq
      assert(vals(a.union(b).distinct()) == (xs.toSet ++ ys.toSet).toSeq.sorted)
      assert(vals(a.intersect(b)) == (xs.toSet intersect ys.toSet).toSeq.sorted)
      assert(vals(a.except(b)) == (xs.toSet -- ys.toSet).toSeq.sorted)
    }
  }

  test("lag(lead(x)) is the identity on interior rows") {
    forAll(Gen.listOfN(30, Gen.chooseNum(0, 1000)), Gen.const(())) { (xs: List[Int], _: Unit) =>
      whenever(xs.nonEmpty) {
        val w = org.apache.spark.sql.expressions.Window.orderBy("i")
        val df = xs.zipWithIndex.map(_.swap).toDF("i", "x")
          .withColumn("ll", lag(lead("x", 1).over(w), 1).over(w))
        val bad = df.where(col("ll").isNotNull && col("ll") =!= col("x"))
        assert(bad.count() == 0)
      }
    }
  }

  test("session assignment is invariant under within-session jitter") {
    // events at coarse positions (multiples of 2h with <30min jitter) keep
    // the same session structure no matter the jitter
    val jitterGen = Gen.listOfN(6, Gen.chooseNum(0, 1700))
    forAll(jitterGen, jitterGen) { (j1: List[Int], j2: List[Int]) =>
      def sessions(jit: List[Int]): Seq[Long] = {
        val rows = jit.zipWithIndex.map { case (j, i) =>
          (1L, new java.sql.Timestamp((i.toLong * 7200 + j) * 1000), i.toLong)
        }
        val df = rows.toDF("user_id", "ts", "event_id")
        val ord = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val run = ord.rowsBetween(Long.MinValue, 0)
        df.withColumn("gap",
            unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(ord)))
          .withColumn("new_s",
            when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
          .withColumn("sid", sum("new_s").over(run))
          .orderBy("event_id").select("sid").collect().map(_.getLong(0)).toSeq
      }
      // every 2h step > 30min gap => each event its own session, for ANY
      // jitter < 30min; the two jitter draws must agree exactly
      assert(sessions(j1) == sessions(j2))
    }
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    import graft.operators.GraphOps
    val N = 20
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, N - 1L), Gen.chooseNum(0L, N - 1L)))
    forAll(edgeGen, Gen.const(()), n = 5) { (es: List[(Long, Long)], _: Unit) =>
      val edges = es.filter { case (a, b) => a != b }
      val nodes = (0L until N.toLong).toDF("doc_id")
      val got = GraphOps
        .connectedComponents(nodes, edges.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // reference: union-find with union-by-min, so the root of every
      // component is its minimum id — the same representative contract
      val parent = Array.tabulate(N)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until N).map(i => i.toLong -> find(i).toLong).toMap
      assert(got == want, s"CC mismatch for edges $edges")
    }
  }

  test("containmentPairs keeps the threshold pair at |A| divisible by 10") {
    // regression: floor((1.0-0.9)*10)+1 = 1 under IEEE doubles (1.0-0.9
    // = 0.0999…8), one short of the required 2 — with A = {1..10} and B
    // holding exactly {2..10} (containment 9/10 = τ), A's only prefix
    // element shared with B is its SECOND-smallest hash, so the
    // truncated prefix silently dropped this exact-threshold pair
    val df = Seq(
      (1L, (1L to 10L).toSeq),
      (2L, (2L to 10L).toSeq)).toDF("doc_id", "hs")
    val got = operators.TextOps.containmentPairs(df, minShingles = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)),
      s"threshold containment pair (1,2) missing: $got")
  }

  test("containmentPairs equals the brute-force model on random corpora") {
    // the asymmetric prefix filter must have EXACT recall: if fewer than
    // |A| - ceil(0.9|A|) + 1 of A's smallest hashes reach the candidate
    // join, a qualifying pair could be silently dropped — exactly the
    // bug class a spot check on one corpus can miss. Small hash universe
    // forces dense overlap, including subset, set-equal and tiny docs.
    val docGen = Gen.listOfN(8, Gen.nonEmptyListOf(Gen.chooseNum(1L, 30L)))
    forAll(docGen, Gen.const(())) { (docs0, _) =>
      val docs = docs0.zipWithIndex
        .map { case (hs, i) => (i.toLong, hs.distinct.sorted) }
      val df = docs.toDF("doc_id", "hs")
      val got = operators.TextOps.containmentPairs(df, minShingles = 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val want = (for {
        (ida, sa) <- docs
        (idb, sb) <- docs if ida != idb
        inter = (sa.toSet & sb.toSet).size
        if inter.toDouble / sa.size >= 0.9
      } yield (ida, idb, sa.size.toLong, inter.toLong)).toSet
      assert(got == want, s"missing=${want -- got} spurious=${got -- want}")
    }
  }

  test("substringClean equals the brute-force model on random corpora") {
    // tiny vocab + k=3 windows force dense cross-doc window collisions,
    // overlapping spans, spans at doc boundaries and fully-erased docs —
    // the edge shapes a fixed corpus never exercises. First-occurrence-
    // wins must hold at WINDOW granularity and the rebuild must be
    // token-exact in order.
    val k = 3
    val docGen = Gen.listOfN(8,
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c")).map(_.take(10)))
    forAll(docGen, Gen.const(()), n = 8) { (docs0, _) =>
      val docs = docs0.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val first = scala.collection.mutable.Map.empty[String, Long]
      for ((id, ts) <- docs; if ts.length >= k; p <- 0 to ts.length - k)
        first.getOrElseUpdate(ts.slice(p, p + k).mkString(" "), id)
      val want = docs.map { case (id, ts) =>
        val cov = Array.fill(ts.length)(false)
        if (ts.length >= k)
          for (p <- 0 to ts.length - k
               if first(ts.slice(p, p + k).mkString(" ")) < id;
               j <- p until p + k) cov(j) = true
        val kept = ts.indices.filterNot(cov).map(ts)
        id -> ((ts.length.toLong, (ts.length - kept.size).toLong,
          kept.mkString(" ")))
      }.toMap
      val got = operators.TextOps.substringClean(df, k).collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed"), r.getAs[String]("text_clean"))))
        .toMap
      assert(got.size == want.size)
      want.foreach { case (id, w) => assert(got(id) == w, s"doc $id") }
    }
  }

  test("boilerplateClean equals the brute-force model on random corpora") {
    // tiny vocab forces dense chunk collisions; doc lengths straddle the
    // chunk width so slice boundaries, 1-token tails and fully-removed
    // docs all occur. The rebuilt text must match token-exactly — an
    // unordered listagg or an off-by-one slice start cannot hide here.
    val docGen = Gen.listOfN(10,
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c")).map(_.take(7)))
    forAll(docGen, Gen.const(()), n = 8) { (docs0, _) =>
      val docs = docs0.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }
      val got = operators.TextOps
        .boilerplateClean(docs.toDF("doc_id", "text"), w = 2, minDf = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val model = docs.map { case (id, t) =>
        id -> t.split(" ", -1).grouped(2).map(_.mkString(" ")).toVector }
      val df = model.flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
      val want = model.map { case (id, cs) =>
        val kept = cs.filter(df(_) < 2)
        (id, cs.size.toLong, (cs.size - kept.size).toLong,
          kept.mkString(" "))
      }.toSet
      assert(got == want, s"missing=${want -- got} spurious=${got -- want}")
    }
  }

  test("c4LineDedup equals the brute-force first-occurrence model on " +
      "random corpora") {
    // same dense-collision regime as the boilerplate property; here the
    // invariant is C4's: every distinct chunk survives EXACTLY once
    // corpus-wide, at its first (doc_id, cidx) occurrence.
    val docGen = Gen.listOfN(10,
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c")).map(_.take(7)))
    forAll(docGen, Gen.const(()), n = 8) { (docs0, _) =>
      val docs = docs0.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }
      val got = operators.TextOps
        .c4LineDedup(docs.toDF("doc_id", "text"), w = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val model = docs.map { case (id, t) =>
        id -> t.split(" ", -1).grouped(2).map(_.mkString(" ")).toVector }
      val firsts = scala.collection.mutable.Map[String, (Long, Int)]()
      model.foreach { case (id, cs) => cs.zipWithIndex.foreach {
        case (c, i) => if (!firsts.contains(c)) firsts(c) = (id, i) } }
      val want = model.map { case (id, cs) =>
        val kept = cs.zipWithIndex
          .filter { case (c, i) => firsts(c) == ((id, i)) }.map(_._1)
        (id, cs.size.toLong, (cs.size - kept.size).toLong,
          kept.mkString(" "))
      }.toSet
      assert(got == want, s"missing=${want -- got} spurious=${got -- want}")
      // the C4 invariant itself: each distinct chunk kept exactly once
      val keptAll = model.flatMap { case (id, cs) =>
        cs.zipWithIndex.filter { case (c, i) => firsts(c) == ((id, i)) }
          .map(_._1) }
      assert(keptAll.groupBy(identity).values.forall(_.size == 1))
    }
  }

  test("winnowFingerprints equals the brute-force robust-winnowing model " +
      "on random corpora") {
    val docGen = Gen.listOfN(8,
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d")).map(_.take(9)))
    val (k, w) = (2, 3)
    def h8(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    forAll(docGen, Gen.const(()), n = 8) { (docs0, _) =>
      val docs = docs0.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }
      val got = operators.TextOps
        .winnowFingerprints(docs.toDF("doc_id", "text"), k = k, w = w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = docs.flatMap { case (id, t) =>
        val ts = t.split(" ", -1)
        if (ts.length < k) Seq.empty
        else {
          val grams = (0 to ts.length - k)
            .map(p => (p, h8(ts.slice(p, p + k).mkString(" "))))
          val maxj = math.max(grams.size - w, 0)
          (0 to maxj).map { j =>
            grams.slice(j, math.min(j + w, grams.size))
              .minBy { case (p, f) => (f, -p) }
          }.distinct.map { case (p, f) => (id, p.toLong, f) }
        }
      }.toSet
      assert(got == want, s"missing=${want -- got} spurious=${got -- want}")
    }
  }

  test("BPE chain equals the brute-force trainer on random corpora incl. " +
      "merge exhaustion") {
    // 2-letter vocab words exhaust merges within 8 rounds on small
    // corpora, exercising the no-op-round path; larger draws keep
    // merging — both must match the sequential reference exactly.
    val docGen = Gen.listOfN(4, Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 4).flatMap(m =>
        Gen.listOfN(m, Gen.oneOf("a", "b")).map(_.mkString)))
        .map(_.mkString(" "))))
    forAll(docGen, Gen.const(()), n = 6) { (texts, _) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val words = docs.flatMap(_._2.split(" ", -1))
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      // sequential reference (same as BpeSpec's, inlined for locality)
      var segs: Map[String, Vector[String]] = words.keys.map(x =>
        x -> (x.map(_.toString).toVector :+ "</w>")).toMap
      val wantMerges = Vector.newBuilder[(String, String, Long)]
      for (_ <- 1 to operators.BpeOps.Rounds) {
        val counts = scala.collection.mutable
          .Map[(String, String), Long]().withDefaultValue(0L)
        for ((x, ps) <- segs; i <- 0 until ps.size - 1)
          counts((ps(i), ps(i + 1))) += words(x)
        if (counts.nonEmpty) {
          val ((a, b), c) = counts.toSeq.minBy { case ((p, q), n) => (-n, p, q) }
          wantMerges += ((a, b, c))
          segs = segs.map { case (x, ps) =>
            val out = Vector.newBuilder[String]; var i = 0
            while (i < ps.size) {
              if (i + 1 < ps.size && ps(i) == a && ps(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += ps(i); i += 1 }
            }
            x -> out.result()
          }
        }
      }
      val (table, fin) = operators.BpeOps.trainChain(docs.toDF("doc_id", "text"))
      val gotMerges = table.orderBy("rnd").collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toVector
      assert(gotMerges == wantMerges.result())
      val gotSegs = fin.collect()
        .map(r => (r.getAs[String]("w"), r.getAs[Int]("pos"),
          r.getAs[String]("piece")))
        .groupBy(_._1).map { case (x, ps) =>
          x -> ps.sortBy(_._2).map(_._3).toVector }
      assert(gotSegs == segs)
    }
  }

  test("covarianceFrame matches a direct covariance model on random frames") {
    // the narrow pair fan-out + split moment sums must reproduce plain
    // population covariance; 1e-6 component quantization bounds each
    // entry's error well under 1e-4 at these magnitudes
    val vecGen = Gen.listOfN(15,
      Gen.listOfN(3, Gen.chooseNum(-1000, 1000).map(_ / 1000.0)))
    forAll(vecGen, Gen.const(()), n = 6) { (vs, _) =>
      val df = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val got = operators.AnalyticsOps.covarianceFrame(df).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val xs = vs.map(_.map(_.toFloat.toDouble))
      val n = xs.length
      val mean = (0 until 3).map(d => xs.map(_(d)).sum / n)
      for (i <- 0 until 3; j <- i until 3) {
        val want = xs.map(x => (x(i) - mean(i)) * (x(j) - mean(j))).sum / n
        val (gn, gc) = got((i.toLong, j.toLong))
        assert(gn == n.toLong)
        assert(math.abs(gc - want) < 1e-4, s"cov($i,$j): $gc vs $want")
      }
    }
  }

  test("kmeansAssign equals a reference Lloyd model on random vectors") {
    // the quantize → broadcast-assign → integer-update rounds must land
    // on EXACTLY the reference assignment (same init, same floor
    // arithmetic, same (dist, cluster) tie-break) — any drift in the
    // update division or the argmin order shows up as a differing label.
    // ids deliberately non-dense and non-zero-based (i*3 + 11): the init
    // must take the k SMALLEST ids ranked 0..k-1 — a `vec_id < k`
    // shortcut returns an empty centroid frame here and dies silently
    val vecGen = Gen.listOfN(24,
      Gen.listOfN(4, Gen.chooseNum(-1000, 1000).map(_ / 1000.0)))
    forAll(vecGen, Gen.const(()), n = 6) { (vs0, _) =>
      val k = 3
      val vecs = vs0.zipWithIndex.map { case (v, i) =>
        (i.toLong * 3 + 11, v.map(_.toFloat)) }
      val df = vecs.toDF("vec_id", "embedding")
      val got = operators.AnalyticsOps.kmeansAssign(df, k = k, iters = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(_._1).toSeq

      // reference model: same quantization, pure Scala
      val q = vecs.map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong) }.toMap
      def assign(cent: Map[Int, Seq[Long]]): Map[Long, (Int, Long)] =
        q.map { case (id, iv) =>
          id -> cent.toSeq.map { case (c, civ) =>
            val d = iv.zip(civ).map { case (a, b) => (a - b) * (a - b) }.sum
            (d, c)
          }.min.swap
        }
      var cent: Map[Int, Seq[Long]] =
        q.keys.toSeq.sorted.take(k).zipWithIndex
          .map { case (id, rank) => rank -> q(id).toSeq }.toMap
      var a = assign(cent)
      for (_ <- 1 to 2) {
        cent = a.groupBy(_._2._1).map { case (c, members) =>
          val ivs = members.keys.toSeq.map(q)
          c -> (0 until 4).map(dim =>
            math.floor(ivs.map(_(dim)).sum.toDouble / ivs.size).toLong)
        }
        a = assign(cent)
      }
      val want = a.toSeq.map { case (id, (c, dq)) => (id, c, dq) }
        .sortBy(_._1)
      assert(got == want)
    }
  }

  test("CountMin never underestimates on random token streams, any layout") {
    val tokens = Gen.listOfN(300, Gen.oneOf(
      (1 to 25).map(i => s"tok$i")))
    forAll(tokens, Gen.chooseNum(1, 7)) { (toks: List[String], parts: Int) =>
      val probes = toks.distinct.take(6) :+ "tok_absent"
      val est = graft.operators.AnalyticsOps.countMinEstimates(
          toks.toDF("token").repartition(parts), probes,
          depth = 4, width = 64).collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("est_count"))
        .toMap
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      probes.foreach { p =>
        val tru = exact.getOrElse(p, 0L)
        assert(est(p) >= tru, s"underestimate for $p: ${est(p)} < $tru")
        // width 64 ⇒ eps = e/64; 3x slack for small-stream variance
        assert(est(p) <= tru + (math.E / 64 * toks.size * 3).toLong + 1,
          s"gross overestimate for $p: ${est(p)} vs $tru over ${toks.size}")
      }
    }
  }

  test("pagerank-style quantized iteration conserves total mass") {
    // the quantization used by graph_pagerank must keep Σp ≈ 1 after any
    // number of rounds: each round redistributes 0.85·p along edges (to
    // 1e-9 resolution) and injects 0.15 uniformly — on a symmetric graph
    // with no dangling nodes the mass balance is exact up to quantization
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))
    forAll(edgeGen, Gen.const(())) { (raw: List[(Long, Long)], _) =>
      val es = raw.filter(p => p._1 != p._2).distinct
      whenever(es.nonEmpty) {
        val sym = (es ++ es.map(_.swap)).distinct
        val nodes = sym.map(_._1).toSet
        val outdeg = sym.groupBy(_._1).view.mapValues(_.size).toMap
        var p = nodes.map(n => n -> 1.0 / nodes.size).toMap
        for (_ <- 1 to 3) {
          val contrib = sym.groupBy(_._2).map { case (dst, in) =>
            dst -> in.map { case (src, _) =>
              math.floor(0.85 * p(src) / outdeg(src) * 1e9 + 0.5) / 1e9
            }.sum
          }
          p = nodes.map(n => n -> (0.15 / nodes.size + contrib.getOrElse(n, 0.0))).toMap
        }
        val mass = p.values.sum
        assert(math.abs(mass - 1.0) < 1e-6 * nodes.size + 1e-6,
          s"mass drifted: $mass over ${nodes.size} nodes")
      }
    }
  }

  test("cosine top-1 finds a planted near-duplicate vector") {
    forAll(Gen.chooseNum(0, 400), Gen.chooseNum(1, 63)) { (vid: Int, dim: Int) =>
      val vecs = Tables.embeddings(spark, sf)
        .select("vec_id", "embedding")
        .where(col("vec_id") === vid)
        .collect()
      whenever(vecs.nonEmpty) {
        val base = vecs.head.getSeq[Float](1).toArray
        val planted = base.clone()
        planted(dim) = planted(dim) + 0.01f // tiny perturbation
        val all = Tables.embeddings(spark, sf)
          .select("vec_id", "embedding")
          .union(Seq((9999L, planted.toSeq)).toDF("vec_id", "embedding"))
        val top = all.where(col("vec_id") =!= vid)
          .select(col("vec_id"),
            functions.VectorExprs.dotF(lit(base).cast("array<float>"),
              col("embedding")).as("sim"))
          .orderBy(col("sim").desc).limit(1)
          .collect().head.getLong(0)
        assert(top == 9999L, s"planted near-dup not top-1 (got $top)")
      }
    }
  }

  test("ShingleUtil.hashes matches a reference model on random token lists") {
    // reference: hash every k-window's space-joined string with the same
    // XXH64(seed 42), then distinct + sort — checked across random token
    // lists including repeats, empty strings and k > n edge cases
    val words = Gen.listOfN(12,
      Gen.oneOf("a", "bb", "ccc", "", "dd", "a"))
    forAll(words, Gen.chooseNum(1, 5), n = 40) { (ws, k) =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      val got = graft.functions.ShingleUtil.hashes(arr, k).toLongArray().toSeq
      val expect =
        if (ws.length < k) Seq.empty[Long]
        else ws.sliding(k).map { win =>
          val s = org.apache.spark.unsafe.types.UTF8String
            .fromString(win.mkString(" "))
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        }.toSeq.distinct.sorted
      assert(got == expect, s"tokens=$ws k=$k")
    }
  }

  test("MinHashMd5Util.sig matches the closed-form md5 reference on " +
      "random token arrays (the oracle's exact arithmetic)") {
    // the cross-engine contract dedup_near's oracle rests on: for every
    // 3-word shingle s, h_j(s) = (h1 % p + j·(h2 % p)) % p with h1/h2
    // the big-endian first/second 8 digest bytes — recomputed here in
    // plain Scala BigInt (no wraparound subtleties), minima per j. Also
    // pins: values are positive 61-bit (signed order = unsigned order)
    // and duplicate shingles never change the signature.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val P = BigInt("2305843009213693951")
    val word = Gen.oneOf("a", "bb", "ccc", "déjà", "09", "zz", "é")
    val toks = Gen.listOfN(9, word)
    forAll(toks, toks, n = 20) { (xs, ys) =>
      def sig(ws: Seq[String]): Seq[Long] = graft.functions.MinHashMd5Util
        .sig(new GenericArrayData(
          ws.map(UTF8String.fromString).toArray[Any]), 3, 12)
        .toLongArray().toSeq
      def ref(ws: Seq[String]): Seq[Long] = {
        val shingles = if (ws.length < 3) Seq.empty
          else ws.sliding(3).map(_.mkString(" ")).toSeq
        (0 until 12).map { j =>
          if (shingles.isEmpty) Long.MaxValue
          else shingles.map { s =>
            val dig = java.security.MessageDigest.getInstance("MD5")
              .digest(s.getBytes("UTF-8"))
            val h1 = BigInt(1, dig.take(8))
            val h2 = BigInt(1, dig.slice(8, 16))
            ((h1 % P + BigInt(j) * (h2 % P)) % P).toLong
          }.min
        }
      }
      val got = sig(xs)
      assert(got == ref(xs), s"sig mismatch on $xs")
      assert(got.forall(v => v >= 0L), "minima must be positive 61-bit")
      assert(sig(xs ++ xs.takeRight(2) ++ xs) == ref(xs ++ xs.takeRight(2) ++ xs),
        "reference must hold on arrays with repeated shingles")
    }
  }

  test("cusum closed form equals the max(0, s+dev) recurrence on " +
      "random series") {
    val series = Gen.chooseNum(2, 30).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 5000L)))
    forAll(series, Gen.const(()), n = 10) { (xs: List[Long], _: Unit) =>
      val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("ord", "x")
      val got = graft.api.GraftApi.cusum(df, col("ord"), col("x"))
        .orderBy("ord").collect().map(_.getAs[Long]("cusum_scaled"))
      val nN = xs.length
      val t = xs.sum
      var s = 0L
      val direct = xs.map { x => s = math.max(0L, s + (x * nN - t)); s }
      assert(got.toSeq == direct, s"cusum divergence on $xs")
      assert(got.forall(_ >= 0L))
    }
  }

  test("kaplanMeier: survival is monotone nonincreasing in [0,1] and " +
      "all-censored frames stay at 1 on random subjects") {
    val subjects = Gen.chooseNum(2, 25).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 10L), Gen.oneOf(0L, 1L))))
    forAll(subjects, Gen.const(()), n = 10) {
      (subj: List[(Long, Long)], _: Unit) =>
      val df = subj.toDF("t", "dead")
      val rows = graft.api.GraftApi.kaplanMeier(df).orderBy("t").collect()
      var prev = 1.0
      rows.foreach { r =>
        val sv = r.getAs[Double]("survival")
        assert(sv >= 0.0 && sv <= prev + 1e-9,
          s"survival not monotone on $subj")
        prev = sv
        assert(r.getAs[Long]("n_risk") >=
          r.getAs[Long]("d") + r.getAs[Long]("c"))
      }
      // at-risk counts telescope: first row covers every subject
      assert(rows.head.getAs[Long]("n_risk") == subj.length.toLong)
      // all-censored variant: nobody dies, survival stays exactly 1
      val cens = subj.map { case (t, _) => (t, 0L) }.toDF("t", "dead")
      graft.api.GraftApi.kaplanMeier(cens).collect().foreach { r =>
        assert(r.getAs[Double]("survival") == 1.0)
      }
    }
  }

  test("psi is nonnegative up to quantization and zero on identical " +
      "halves for random binned frames") {
    val bins = Gen.chooseNum(10, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 4)))
    forAll(bins, bins, n = 10) { (as: List[Int], bs: List[Int]) =>
      val df = (as.map((_, true)) ++ bs.map((_, false))).toDF("bin", "isa")
      val rows = graft.api.GraftApi
        .psi(df, col("bin"), col("isa"), nBins = 5).collect()
      assert(rows.length == 5, "full grid contract")
      val psi = rows.head.getAs[Double]("psi")
      // each term is >= 0 mathematically; quantization can dip 5e-7/term
      assert(psi >= -5e-6, s"negative psi $psi on $as vs $bs")
      // identical halves → exact zero
      val same = (as.map((_, true)) ++ as.map((_, false)))
        .toDF("bin", "isa")
      graft.api.GraftApi.psi(same, col("bin"), col("isa"), nBins = 5)
        .collect().foreach(r => assert(r.getAs[Double]("psi") == 0.0))
    }
  }

  test("canonicalUrl is idempotent and spelling-invariant on generated " +
      "URLs") {
    // canonical forms must be FIXED POINTS (a second pass changes
    // nothing — otherwise "canonical" keys drift between pipeline
    // stages), and every generated spelling of the same logical URL
    // must land on one form
    val host = Gen.listOfN(2, Gen.identifier.map(_.take(6)))
      .map(_.mkString("."))
    val path = Gen.listOfN(2, Gen.identifier.map(_.take(5)))
      .map(ps => "/" + ps.mkString("/"))
    forAll(host, path, n = 10) { (h: String, p: String) =>
      val spellings = Seq(
        s"https://$h$p?id=1",
        s"https://WWW.${h.toUpperCase}$p?utm_source=a&id=1",
        s"https://$h:443$p/?id=1&utm_medium=b",
        s"https://www.$h$p?id=1#frag")
      val canon = spellings.toDF("u")
        .select(graft.api.GraftApi.canonicalUrl(col("u")).as("c"))
        .collect().map(_.getString(0)).distinct.toSeq
      assert(canon.size == 1, s"spellings diverged: $canon")
      val twice = canon.toDF("u")
        .select(graft.api.GraftApi.canonicalUrl(col("u")).as("c"))
        .collect().map(_.getString(0)).toSeq
      assert(twice == canon, s"not a fixed point: $canon -> $twice")
    }
  }

  test("agg_top_paths is invariant under input relayout") {
    // the struct-sorted path materialization must not depend on
    // partitioning or row order — repartitioned input gives the
    // byte-identical ranking
    val base = SparkEntry.queries("agg_top_paths")(spark, sf)
      .collect().map(_.toString).toSeq
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val again = SparkEntry.queries("agg_top_paths")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(again == base, "path ranking shifted under relayout")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("catalog bucket function: SQL evaluation == floorMod for random " +
    "keys and counts; partition grouping is total and in range") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    forAll(Gen.listOfN(25, Gen.chooseNum(Long.MinValue + 1,
        Long.MaxValue)), Gen.chooseNum(1, 32), n = 6) { (keys, nb) =>
      keys.toDF("k").createOrReplaceTempView("bprop_src")
      val got = spark.sql(
        s"SELECT k, graft.bucket($nb, k) AS b FROM bprop_src")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        val expect = java.lang.Math.floorMod(k, nb.toLong).toInt
        assert(got(k) == expect,
          s"bucket($nb, $k) = ${got(k)}, expected $expect")
        assert(got(k) >= 0 && got(k) < nb, s"bucket out of range: $k")
      }
      // the store groups by the SAME function: a bucketed table's
      // .partitions readout must tally exactly the SQL-side histogram
      spark.sql("DROP TABLE IF EXISTS graft.bprop_t")
      spark.sql(s"CREATE TABLE graft.bprop_t (k BIGINT) " +
        s"PARTITIONED BY (bucket($nb, k))")
      spark.sql("INSERT INTO graft.bprop_t SELECT k FROM bprop_src")
      val viaMeta = spark.table("graft.bprop_t.partitions").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val viaSql = keys.groupBy(k =>
        java.lang.Math.floorMod(k, nb.toLong).toInt)
        .map { case (b, ks) => b -> ks.length.toLong }
      assert(viaMeta == viaSql,
        s"store grouping disagrees with floorMod: $viaMeta vs $viaSql")
      spark.sql("DROP TABLE graft.bprop_t")
    }
  }
}
