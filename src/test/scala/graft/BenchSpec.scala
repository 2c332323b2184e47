package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench artifact tripwires (round-4b lesson: three queries silently
  * threw at sf0.1 for at least one round — rows=-1 rode a green-looking
  * bench total). The tripwire scan is a pure function, tested here with
  * injected pathological rows. */
class BenchSpec extends AnyFunSuite {

  test("tripwire fires on a throwing query (rows=-1)") {
    val ws = Bench.tripwires(Seq(("dedup_embedding", 0.1, -1L)))
    assert(ws.exists(_.contains("rows=-1")),
      s"no throw tripwire in $ws")
  }

  test("tripwire fires on a query 3x over its BASELINE.md price") {
    // dedup_clusters is priced at 6s; 19s is >3x
    val ws = Bench.tripwires(Seq(("dedup_clusters", 19.0, 500L)))
    assert(ws.exists(_.contains("BASELINE.md price")),
      s"no slow tripwire in $ws")
    // an unpriced query gets the 1s default: 3.5s trips, 2.5s does not
    assert(Bench.tripwires(Seq(("agg_hash", 3.5, 6L))).nonEmpty)
    assert(Bench.tripwires(Seq(("agg_hash", 2.5, 6L))).isEmpty)
  }

  test("tripwire_detail names the tripped query machine-readably") {
    val j = Bench.tripwireJson(Seq(
      ("dedup_clusters", 19.0, 500L), ("dedup_embedding", 0.1, -1L),
      ("agg_hash", 0.3, 6L)))
    assert(j == """["dedup_clusters:19.0/6.0","dedup_embedding:threw"]""",
      s"got $j")
    assert(Bench.tripwireJson(Seq(("agg_hash", 0.3, 6L))) == "[]")
  }

  test("load_flag marks a drive that started on a busy host") {
    assert(Bench.loadJson(2.2, 0.4) ==
      """"load_avg_start":2.2,"load_flag":true,"load_avg_end":0.4,""")
    assert(Bench.loadJson(0.37, 3.1).contains(""""load_flag":false"""))
    // the threshold is strict, and an unsupported sample (-1) is calm
    assert(Bench.loadJson(1.0, 1.0).contains(""""load_flag":false"""))
    assert(Bench.loadJson(-1.0, -1.0).contains(""""load_flag":false"""))
  }

  test("tripwire stays silent on a clean run") {
    val ws = Bench.tripwires(Seq(
      ("agg_hash", 0.3, 6L),
      ("dedup_embedding_scaled", 14.0, 500L),
      ("join_bucketed", 4.2, 3L)))
    assert(ws.isEmpty, s"spurious tripwires: $ws")
  }
}
