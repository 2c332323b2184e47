package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Brute-force model parity for the BPE trainer (Sennrich et al. 2016):
  * an independent dict-based implementation of merge learning + greedy
  * non-overlapping re-segmentation, replayed against the relational
  * chain. */
class BpeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** the classic sequential BPE trainer on (word -> freq) */
  private def bruteTrain(words: Map[String, Long], rounds: Int)
      : (Vector[(String, String, Long)], Map[String, Vector[String]]) = {
    var segs: Map[String, Vector[String]] = words.keys.map(w =>
      w -> (w.map(_.toString).toVector :+ "</w>")).toMap
    val merges = Vector.newBuilder[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val counts = mutable.Map[(String, String), Long]().withDefaultValue(0L)
      for ((w, ps) <- segs; i <- 0 until ps.size - 1)
        counts((ps(i), ps(i + 1))) += words(w)
      if (counts.nonEmpty) {
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        merges += ((a, b, c))
        segs = segs.map { case (w, ps) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < ps.size) {
            if (i + 1 < ps.size && ps(i) == a && ps(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += ps(i); i += 1 }
          }
          w -> out.result()
        }
      }
    }
    (merges.result(), segs)
  }

  private def corpusWords: Map[String, Long] =
    Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }

  test("text_bpe_train matches the brute-force Sennrich trainer") {
    val (want, _) = bruteTrain(corpusWords, operators.BpeOps.Rounds)
    val got = SparkEntry.queries("text_bpe_train")(spark, sf).collect()
      .map(r => (r.getAs[String]("p1"), r.getAs[String]("p2"),
        r.getAs[Long]("pair_count"))).toVector
    assert(got == want)
    assert(got.size == operators.BpeOps.Rounds,
      "this corpus must not exhaust pairs in 8 rounds")
  }

  test("text_bpe_apply fingerprints match the brute-force segmentation") {
    val (_, segs) = bruteTrain(corpusWords, operators.BpeOps.Rounds)
    val want = Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map { r =>
        val ws = r.getString(1).split(" ", -1).toVector
        val pieceSeq = ws.map(w => segs(w).mkString(" ")).mkString(" ")
        r.getLong(0) -> ((ws.size.toLong,
          ws.map(w => segs(w).size.toLong).sum, md5hex(pieceSeq)))
      }.toMap
    val got = SparkEntry.queries("text_bpe_apply")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
          r.getAs[String]("fingerprint")))).toMap
    assert(got.size == want.size)
    want.foreach { case (id, w) => assert(got(id) == w, s"doc $id") }
    // merges must actually compress (pieces < raw chars+terminal)
    val rawPieces = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).map(_.length.toLong + 1).sum
    assert(want.values.map(_._2).sum < rawPieces)
  }

  test("greedy non-overlap takes odd matches in an identical-symbol run") {
    val docs = Seq((1L, "aaaa aaaa b")).toDF("doc_id", "text")
    val (table, fin) = operators.BpeOps.trainChain(docs)
    val merges = table.collect()
      .map(r => (r.getAs[Long]("rnd"), r.getAs[String]("p1"),
        r.getAs[String]("p2"), r.getAs[Long]("pair_count")))
    // round 1: (a,a) appears 3x per "aaaa" (overlapping count is of
    // ADJACENT POSITIONS before merging) x2 words = 6 — and the greedy
    // rule merges positions 0-1 and 2-3, never the overlapping 1-2
    assert(merges.head == ((1L, "a", "a", 6L)))
    val aaaa = fin.where($"w" === "aaaa").orderBy("pos")
      .select("piece").as[String].collect()
    assert(aaaa.mkString("") == "aaaa</w>",
      "re-segmentation must reconstruct the word")
    assert(!aaaa.take(3).contains("a") ||
      aaaa.count(_ == "a") % 2 == 0,
      s"odd-rank rule violated: ${aaaa.mkString("|")}")
    // a pair-exhausted round is a no-op, not a wipe: single-symbol
    // corpus has no pairs after enough merges, pieces must survive
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val (t2, fin2) = operators.BpeOps.trainChain(tiny)
    assert(t2.count() < operators.BpeOps.Rounds,
      "tiny corpus must exhaust merges before 8 rounds")
    assert(fin2.count() == 1L,
      "exhausted rounds must leave the final single piece intact")
    assert(fin2.select("piece").as[String].collect().head == "ab</w>")
  }

  test("trainChain size-gated local fit and relational rounds agree") {
    // round-15 gate: small vocabularies fit the exact driver-side BPE;
    // this pins the two regimes merge-for-merge and piece-for-piece,
    // including a tie round (both "th" and "e&" patterns collide) and
    // an identical-symbol run
    val docs = Seq((1L, "the cat sat aaaa"), (2L, "the cat the"),
      (3L, "sat aaaa zz")).toDF("doc_id", "text")
    def collectBoth(t: org.apache.spark.sql.DataFrame,
        f: org.apache.spark.sql.DataFrame) = (
      t.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).sortBy(_._1).toVector,
      f.collect().map(r => (r.getString(0), r.getLong(1),
        r.getInt(2), r.getString(3))).sorted.toVector,
      t.dtypes.toVector, f.dtypes.toVector)
    regimesAgree("trainChain gated") {
      val (t, f) = operators.BpeOps.trainChain(docs)
      collectBoth(t, f)
    }
  }

  test("gated local fit segments non-BMP text by codepoint like the chain") {
    // r16 (r15 ADVICE): the relational pieces0 segments via substr/length,
    // which count CODEPOINTS; a UTF-16 char split would shear
    // supplementary-plane characters (emoji) into lone surrogates and
    // diverge the regimes' pair counts. 😀 = U+1F600 (two chars, one
    // codepoint); the repeated 😀x bigram forces a merge through it.
    val docs = Seq((1L, "😀x😀x a"), (2L, "😀x b"), (3L, "a b"))
      .toDF("doc_id", "text")
    def collectBoth(t: org.apache.spark.sql.DataFrame,
        f: org.apache.spark.sql.DataFrame) = (
      t.collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).sortBy(_._1).toVector,
      f.collect().map(r => (r.getString(0), r.getLong(1),
        r.getInt(2), r.getString(3))).sorted.toVector)
    val local = regimesAgree("non-BMP") {
      val (t, f) = operators.BpeOps.trainChain(docs)
      collectBoth(t, f)
    }
    // and no piece may be a lone surrogate
    val pieces = local._2.map(_._4)
    assert(!pieces.exists(p => p.length == 1 && p.charAt(0).isSurrogate),
      s"lone surrogate piece leaked: ${pieces.mkString(",")}")
  }
}
