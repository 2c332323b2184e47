package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every query must survive empty inputs — at 100 TB whole partitions,
  * date ranges, or freshly-created tables are routinely empty, and a
  * pipeline that throws on them takes the whole job down. Stages limit(0)
  * copies of all tables and runs the full query map against them.
  */
class EmptyInputSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_empty_sf").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    // events: stage the raw ns file through the same nanosAsLong read the
    // engine uses, then write (ts becomes µs — the post-read shape)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawEvents = spark.read.parquet(s"$sf/events.parquet").limit(0)
    rawEvents.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    dir
  }

  test("each gated local solve completes over an empty input, in both " +
      "regimes, with the empty-input result") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // connected components: no pairs, so every node is its own rep
    val nodes = Seq(3L, 1L, 2L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(regimesAgree("connectedComponents empty") {
      rows(operators.GraphOps.connectedComponents(nodes, pairs))
    } == Seq("[1,1]", "[2,2]", "[3,3]"))
    val corpus = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val queries = Seq.empty[(Long, Array[Float])].toDF("q_id", "q_emb")
    assert(regimesAgree("mmrRerank empty") {
      rows(operators.VectorOps.mmrRerank(corpus, queries))
    }.isEmpty)
    assert(regimesAgree("graph_bfs empty") {
      rows(SparkEntry.queries("graph_bfs")(spark, emptyDir))
    }.isEmpty)
    assert(regimesAgree("trainChain empty") {
      val (table, pieces) = operators.BpeOps.trainChain(
        Tables.documents(spark, emptyDir))
      (rows(table), rows(pieces))
    } == ((Seq.empty, Seq.empty)))
  }

  test("the pair kernel yields no pairs for empty embeddings or " +
      "single-member groups") {
    import org.apache.spark.sql.functions.{col, lit}
    assert(operators.VectorOps.scaledPairs(spark, emptyDir).collect().isEmpty)
    assert(SparkEntry.queries("sim_cosine_pairs")(spark, emptyDir)
      .collect().isEmpty)
    // every vector its own group, and a floor that admits any dot: a
    // pair could only come from two members of one group
    val singles = Tables.embeddings(spark, sf).select(col("vec_id").as("g"),
      col("vec_id").as("id"), col("embedding").as("v"), lit(3).as("side"))
    assert(singles.count() > 1)
    assert(operators.VectorOps.groupPairDots(singles, Double.NegativeInfinity)
      .collect().isEmpty)
  }

  test("waiting on an observation that never arrives fails within its " +
      "bound") {
    import scala.concurrent.duration._
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Snapshot.awaitRow(org.apache.spark.sql.Observation(), 200.millis)
    }
    assert(e.getMessage.contains("not delivered"), e.getMessage)
    assert(System.nanoTime() - t0 < 10000000000L, "the wait overran")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name returns (possibly zero) rows on empty tables") {
      val n = fn(spark, emptyDir).count()
      assert(n >= 0)
    }
  }
}
