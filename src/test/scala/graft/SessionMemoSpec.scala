package graft

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.scalatest.funsuite.AnyFunSuite

/** Lifetime of the session-scoped memo: entries belong to one session and
  * die with their SparkContext. */
class SessionMemoSpec extends AnyFunSuite {
  import TestSpark._

  test("a new session gets BPE chain frames bound to itself") {
    val first = SparkEntry.queries("text_bpe_train")(spark, sf)
    val other = spark.newSession()
    val second = SparkEntry.queries("text_bpe_train")(other, sf)
    assert(first.sparkSession eq spark)
    assert(second.sparkSession eq other,
      "the memo handed one session's trained frames to another")
    assert(first.collect().toSeq == second.collect().toSeq)
  }

  test("the context-end hook drops every memo entry of its context") {
    val sc = spark.sparkContext
    assert(Tables.documents(spark, sf).count() > 0)
    assert(SessionMemo.size(sc) > 0)
    SessionMemo.hook(sc).get
      .onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(SessionMemo.size(sc) == 0)
    // the next lookup resolves afresh in a new scope
    assert(Tables.documents(spark, sf).count() > 0)
    assert(SessionMemo.size(sc) > 0)
  }
}
