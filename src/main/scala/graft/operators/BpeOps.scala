package graft.operators

import graft.{Gate, Q, QueryModule, SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.17 byte-pair encoding — the published merge-learning algorithm
  * (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
  * Words with Subword Units"), complementing text_subword's WordPiece
  * INFERENCE rule: text_subword applies a FIXED vocab greedily by
  * longest match; BPE LEARNS the vocab — each round merges the
  * most-frequent adjacent symbol pair corpus-wide, with the classic
  * greedy left-to-right non-overlapping re-segmentation.
  *
  * Semantics (the paper's, exactly):
  *  - words carry a terminal `</w>` symbol so end-of-word units are
  *    distinct from word-internal ones;
  *  - pair counts are weighted by word frequency and computed over the
  *    DISTINCT-word frame (the standard implementation trick — and the
  *    scale-smart one: a 100 TB corpus has O(vocabulary) distinct
  *    words, not O(corpus) — Heaps' law, millions not trillions);
  *  - ties on the max count break lexicographically on (p1, p2) so the
  *    learned table is deterministic;
  *  - re-segmentation is greedy left-to-right non-overlapping: in a run
  *    of consecutive match positions (only possible when p1 = p2, e.g.
  *    "a a a a" under merge (a,a) → "aa aa"), every ODD-ranked match is
  *    taken — encoded relationally as gaps-and-islands + odd row_number,
  *    no sequential scan.
  *
  * Scale shape per round: one lead() window over (word, pos) — word is
  * the high-cardinality partition key; one map-side-combined pair-count
  * groupBy carrying (piece-pair, count) only; best-pair selection is
  * orderBy().limit(1) → TakeOrderedAndProject broadcast back (1 row);
  * rebuild is two (w, pos)-keyed joins. Rounds are unrolled (8) with a
  * localCheckpoint per round — the same bounded-fixpoint pattern as
  * vec_mmr_rerank / the CC loop; plans stay constant-size.
  */
object BpeOps extends QueryModule {

  private[graft] val Rounds = 8

  /** distinct words with corpus frequencies */
  private def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** initial symbol sequence per distinct word: chars + terminal `</w>` */
  private def pieces0(words: DataFrame): DataFrame =
    words.select(col("w"), col("cnt"),
      explode(sequence(lit(0), length(col("w")))).as("pos"))
      .withColumn("piece",
        expr("CASE WHEN pos = length(w) THEN '</w>' " +
          "ELSE substr(w, pos + 1, 1) END"))

  /** one merge round: returns (re-segmented pieces, the 1-row best pair
    * (p1, p2, pc)). Deterministic: exact integer counts, lexicographic
    * tiebreak, odd-rank greedy non-overlap. */
  private def bpeRound(pieces: DataFrame): (DataFrame, DataFrame) = {
    val wWin = Window.partitionBy("w").orderBy("pos")
    val paired = pieces.withColumn("p2", lead(col("piece"), 1).over(wWin))
    val best = paired.where(col("p2").isNotNull)
      .groupBy(col("piece").as("p1"), col("p2"))
      .agg(sum("cnt").as("pc"))
      .orderBy(col("pc").desc, col("p1"), col("p2")).limit(1)
    // constant-key LEFT join (not crossJoin): if the corpus runs out of
    // pairs, best is EMPTY and a crossJoin would wipe the frame — the
    // left join leaves b1/b2 NULL, is_m false, and the round a no-op,
    // exactly matching the oracle's scalar-subquery NULL semantics.
    val m = paired.withColumn("_k", lit(1))
      .join(broadcast(best.select(lit(1).as("_k"),
        col("p1").as("b1"), col("p2").as("b2"))), Seq("_k"), "left")
      .drop("_k")
      .withColumn("is_m", col("p2").isNotNull &&
        col("piece") === col("b1") && col("p2") === col("b2"))
    val taken = m.where(col("is_m"))
      .withColumn("grp", col("pos") - row_number().over(wWin))
      .withColumn("rn",
        row_number().over(Window.partitionBy("w", "grp").orderBy("pos")))
      .where(col("rn") % 2 === 1)
      .select(col("w").as("tw"), col("pos").as("tpos"))
    val rebuilt = m
      .join(taken, m("w") === taken("tw") && m("pos") === taken("tpos"),
        "left")
      .withColumn("merged_here", col("tpos").isNotNull)
      .drop("tw", "tpos")
      .join(taken, m("w") === taken("tw") && m("pos") === taken("tpos") + 1,
        "left")
      .where(col("tpos").isNull) // pos consumed by a merge starting at pos-1
      .select(col("w"), col("cnt"), col("pos"),
        when(col("merged_here"), concat(col("piece"), col("p2")))
          .otherwise(col("piece")).as("piece"))
      .withColumn("pos", row_number().over(wWin) - 1)
    (rebuilt, best)
  }

  /** trained state memoized per session and sf dir (the sim_ivf k-means
    * pattern: "train once, apply many" — both queries and any repeated
    * drive share one chain of checkpointed frames; the first caller
    * prices the 8 rounds live). */
  private[graft] def trainChainFor(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    SessionMemo(s, "bpeChain", d)(trainChain(Tables.documents(s, d)))

  /** Spark's UTF8String order (unsigned UTF-8 byte compare) — the
    * tiebreak the relational `orderBy(pc desc, p1, p2)` applies; the
    * local fit must break ties identically. */
  private def sLess(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Exact local BPE fit over a collected (word, cnt) vocabulary — the
    * size-gated twin of the relational round chain (round 15, the
    * GraphOps local-solve pattern). Heaps' law keeps the DISTINCT-word
    * frame O(vocabulary): when it fits the gate, the 8 rounds run
    * driver-side — the published sequential algorithm with the exact
    * same semantics (frequency-weighted integer pair counts, max with
    * (p1, p2) byte-lexicographic tiebreak, greedy left-to-right
    * non-overlapping resegmentation) — instead of 8 × (window + count
    * shuffle + two joins + checkpoint) of job latency. Above the gate
    * (a 100 TB corpus's multi-million-word vocabulary) the relational
    * chain runs unchanged. */
  private def localFit(spark: org.apache.spark.sql.SparkSession,
      rows: Array[(String, Long)]): (DataFrame, DataFrame) = {
    var pieces: Array[(String, Long, Array[String])] = rows.map {
      // seed by CODEPOINT, not UTF-16 char: the relational pieces0 (and
      // the oracle) segment via substr/length, which count codepoints —
      // a char split would shear non-BMP characters (emoji,
      // supplementary-plane CJK) into lone surrogates and diverge the
      // two regimes' pair counts (r15 ADVICE)
      case (w, cnt) => (w, cnt,
        w.codePoints().toArray
          .map(cp => new String(Character.toChars(cp))) :+ "</w>")
    }
    val merges = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, String, Long)]
    for (r <- 1 to Rounds) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      pieces.foreach { case (_, cnt, ps) =>
        var i = 0
        while (i < ps.length - 1) {
          val k = (ps(i), ps(i + 1))
          pc(k) = pc.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      if (pc.nonEmpty) {
        var bp: (String, String) = null
        var bc = -1L
        pc.foreach { case (k, c) =>
          if (c > bc || (c == bc && (bp == null ||
              (if (k._1 != bp._1) sLess(k._1, bp._1)
               else sLess(k._2, bp._2)))))
            { bc = c; bp = k }
        }
        merges += ((r.toLong, bp._1, bp._2, bc))
        pieces = pieces.map { case (w, cnt, ps) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < ps.length) {
            if (i < ps.length - 1 && ps(i) == bp._1 && ps(i + 1) == bp._2) {
              out += ps(i) + ps(i + 1); i += 2
            } else { out += ps(i); i += 1 }
          }
          (w, cnt, out.toArray)
        }
      }
      // pc empty → the corpus ran out of pairs: the relational round is
      // a provable no-op (best EMPTY, left join NULL, is_m false) and
      // stays one for every later round — emit no merge row, keep pieces
    }
    import spark.implicits._
    val table = merges.toSeq.toDF("rnd", "p1", "p2", "pair_count")
    val finalPieces = pieces.toSeq.flatMap { case (w, cnt, ps) =>
      ps.iterator.zipWithIndex.map { case (p, i) => (w, cnt, i, p) }
    }.toDF("w", "cnt", "pos", "piece")
    (table, finalPieces)
  }

  /** [[Gate]] budget for the local fit, in distinct words. */
  private val LocalFitMaxWords = 1000000L

  /** run the training chain: (merge table frame, final pieces).
    * Size-gated: vocabularies within [[LocalFitMaxWords]] fit the exact
    * local fit above; larger ones run the unrolled relational rounds. */
  private[graft] def trainChain(docs: DataFrame): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val (words, gate) =
      Gate.snapshot("bpeTrain", wordCounts(docs), LocalFitMaxWords)
    if (gate.local) {
      val rows = words.collect()
        .map(r => (r.getString(0), r.getLong(1)))
      return localFit(spark, rows)
    }
    var pieces = pieces0(words).localCheckpoint()
    val merges = (1 to Rounds).map { r =>
      val (next, best) = bpeRound(pieces)
      pieces = next.localCheckpoint()
      best.withColumn("rnd", lit(r.toLong))
    }
    val table = merges.reduce(_.unionAll(_))
      .select(col("rnd"), col("p1"), col("p2"),
        col("pc").cast("long").as("pair_count"))
    (table, pieces)
  }

  /** per-doc segmentation stats from the trained state: the corpus
    * re-tokenized under the learned merges (applying the merge table in
    * rank order to new text is the identical round machinery minus the
    * counting stage). */
  private def applyStats(docs: DataFrame, finalPieces: DataFrame): DataFrame = {
    val seg = finalPieces.groupBy("w")
      .agg(count(lit(1)).as("np"),
        expr("listagg(piece, ' ') WITHIN GROUP (ORDER BY pos)").as("ptext"))
    val dw = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("pos", "widx").withColumnRenamed("col", "w")
    dw.join(seg, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("np").cast("long").as("n_pieces"),
        md5(expr("listagg(ptext, ' ') WITHIN GROUP (ORDER BY widx)"))
          .as("fingerprint"))
  }

  override def queries: Map[String, Q.Fn] = Map(
    // the learned merge table itself — 8 rows (rnd, p1, p2, pair_count)
    "text_bpe_train" -> ((s, d) => {
      val (table, _) = trainChainFor(s, d)
      table.orderBy("rnd")
    }),

    // the corpus segmented under the learned merges: per doc the word
    // count, subword piece count, and an md5 fingerprint of the full
    // in-order piece sequence (certifying every merge boundary)
    "text_bpe_apply" -> ((s, d) => {
      val (_, fin) = trainChainFor(s, d)
      applyStats(Tables.documents(s, d), fin).orderBy("doc_id")
    })
  )

  /** generated oracle: the 8 rounds unrolled as MATERIALIZED CTEs (plain
    * DuckDB CTEs inline — the round-6b vec_mmr_rerank lesson: an
    * unmaterialized chain re-expands exponentially). Each round replays
    * count → best (ORDER BY pc DESC, p1, p2 LIMIT 1) → odd-rank
    * non-overlap match → rebuild, verbatim against the Spark chain. */
  private def bpeChainSql: String = {
    val rounds = (1 to Rounds).map { r =>
      val (prev, p) = (s"ps${r - 1}", s"ps$r")
      s"""cn$r AS MATERIALIZED (SELECT p1, p2, SUM(cnt) AS pc FROM (
         |    SELECT piece AS p1,
         |      LEAD(piece) OVER (PARTITION BY w ORDER BY pos) AS p2, cnt
         |    FROM $prev) x WHERE p2 IS NOT NULL GROUP BY p1, p2),
         |bt$r AS MATERIALIZED (SELECT p1, p2, pc FROM cn$r
         |  ORDER BY pc DESC, p1, p2 LIMIT 1),
         |mm$r AS MATERIALIZED (SELECT w, cnt, pos, piece, p2,
         |    (p2 IS NOT NULL AND piece = (SELECT p1 FROM bt$r)
         |     AND p2 = (SELECT p2 FROM bt$r)) AS is_m
         |  FROM (SELECT w, cnt, pos, piece,
         |      LEAD(piece) OVER (PARTITION BY w ORDER BY pos) AS p2
         |    FROM $prev) y),
         |tk$r AS MATERIALIZED (SELECT w, pos FROM (
         |    SELECT w, pos,
         |      ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY pos) AS rn
         |    FROM (SELECT w, pos,
         |        pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS grp
         |      FROM mm$r WHERE is_m) z) zz
         |  WHERE rn % 2 = 1),
         |$p AS MATERIALIZED (SELECT w, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
         |    piece FROM (
         |    SELECT m.w, m.cnt, m.pos,
         |      CASE WHEN th.pos IS NOT NULL THEN m.piece || m.p2
         |           ELSE m.piece END AS piece
         |    FROM mm$r m
         |    LEFT JOIN tk$r th ON m.w = th.w AND m.pos = th.pos
         |    LEFT JOIN tk$r tc ON m.w = tc.w AND m.pos = tc.pos + 1
         |    WHERE tc.pos IS NULL) q)""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS MATERIALIZED (SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |  GROUP BY w),
       |ps0 AS MATERIALIZED (SELECT w, cnt, i AS pos,
       |    CASE WHEN i = len(w) THEN '</w>'
       |         ELSE substr(w, CAST(i + 1 AS BIGINT), 1) END AS piece
       |  FROM wc, unnest(range(0, len(w) + 1)) AS u(i)),
       |$rounds""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "text_bpe_train" -> {
      val union = (1 to Rounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rnd, p1, p2, " +
          s"CAST(pc AS BIGINT) AS pair_count FROM bt$r")
        .mkString("\n  UNION ALL ")
      s"""$bpeChainSql
         |SELECT rnd, p1, p2, pair_count FROM (
         |  $union) u ORDER BY rnd""".stripMargin
    },
    "text_bpe_apply" ->
      s"""$bpeChainSql,
         |seg AS MATERIALIZED (SELECT w, COUNT(*) AS np,
         |    string_agg(piece, ' ' ORDER BY pos) AS ptext
         |  FROM ps$Rounds GROUP BY w),
         |dw AS (SELECT doc_id, i AS widx,
         |    string_split(text, ' ')[CAST(i + 1 AS BIGINT)] AS w
         |  FROM documents,
         |    unnest(range(0, len(string_split(text, ' ')))) AS u(i))
         |SELECT doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(s.np) AS BIGINT) AS n_pieces,
         |  md5(string_agg(s.ptext, ' ' ORDER BY widx)) AS fingerprint
         |FROM dw JOIN seg s USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
