package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs a warm build of a query id starts, before any action on
  * its result. A build that runs jobs defeats Catalyst, AQE and
  * `explain`, so each id that still does is allowed here with an upper
  * bound and the reason. The list and its bounds only shrink. */
class BuildJobsSpec extends AnyFunSuite {
  import TestSpark._

  /** id -> (most jobs a warm build may start, why it starts any) */
  private val allowed = Map(
    "dedup_embedding" -> (4L, "the LSH bucket ranks and the connected " +
      "components' edges are checkpointed (the drop counts and the gate " +
      "count are observed on those jobs; each checkpoint reads a shuffle, " +
      "so each runs a map-stage job and its writing job)"),
    "vec_mmr_rerank" -> (3L, "the gate fetches the queries, and the " +
      "local greedy collects the pool with its embeddings (the pool " +
      "window's map stage and the collect)"))

  for ((id, (bound, why)) <- allowed.toSeq.sortBy(_._1)) {
    test(s"a warm build of $id starts at most $bound jobs") {
      val jobs = new JobCounter(spark.sparkContext)
      try {
        SparkEntry.queries(id)(spark, sf) // fixtures, fits and memos
        jobs.tagged(id)(SparkEntry.queries(id)(spark, sf))
        val n = jobs.jobs(id)
        info(s"$id: $n build jobs")
        assert(n <= bound, s"$id started $n jobs while building; " +
          s"allowed: $why")
      } finally jobs.close()
    }
  }
}
