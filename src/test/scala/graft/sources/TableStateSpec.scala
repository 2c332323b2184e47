package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark._

/** The one state record per table: eviction leaves nothing behind, and
  * installing a replayed record is atomic for lock-free readers. */
class TableStateSpec extends AnyFunSuite {

  private def parquetTable(t: String, rows: Int): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(${rows / 2})")
    spark.sql(s"INSERT INTO $t SELECT id + ${rows / 2}, 'b' " +
      s"FROM range(${rows - rows / 2})")
  }

  private def rowsOf(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).sorted.toSeq

  test("a restart and a DROP leave no state for the table; the next " +
      "read after the restart replays the same rows") {
    val t = "graft.tss_evict"
    parquetTable(t, 40)
    val before = rowsOf(t)
    assert(GraftTableStore.stateOf(t).exists(_.definition.isDefined))

    GraftLog.simulateProcessRestart(Seq(t))
    assert(GraftTableStore.stateOf(t).isEmpty,
      "the restart left in-memory state behind")
    assert(GraftParquetStore.meta(t).isEmpty)
    assert(GraftTableStore.commitCount(t) == 0)

    assert(rowsOf(t) == before, "replayed rows differ")
    assert(GraftTableStore.stateOf(t).exists(_.definition.isDefined),
      "the replay did not register the table")

    spark.sql(s"DROP TABLE $t")
    assert(GraftTableStore.stateOf(t).isEmpty,
      "DROP left in-memory state behind")
    assert(!spark.catalog.tableExists(t))

    // the row store too: DROP leaves nothing
    val m = "graft.tss_evict_mem"
    spark.sql(s"CREATE TABLE $m (k BIGINT)")
    spark.sql(s"INSERT INTO $m VALUES (1), (2)")
    assert(GraftTableStore.stateOf(m).exists(_.history.commits.nonEmpty))
    spark.sql(s"DROP TABLE $m")
    assert(GraftTableStore.stateOf(m).isEmpty)
  }

  test("a rebase install keeps the table registered") {
    val t = "graft.tss_rebase"
    parquetTable(t, 10)
    val d = GraftTableStore.definitionOf(t)
    assert(d.isDefined)
    // the rebase sequence: a failed log write evicts the record, then
    // the conflict retry installs the peeked replay
    GraftTableStore.evict(t, keepEpochs = true)
    GraftLog.install(t, GraftLog.replayByName(t).get)
    val after = GraftTableStore.definitionOf(t)
    assert(after.map(x => (x.catalog, x.ident)) ==
      d.map(x => (x.catalog, x.ident)),
      "the install dropped or moved the catalog definition")
    assert(after.get.table.physicalSchema == d.get.table.physicalSchema)
    assert(rowsOf(t).length == 10)
    spark.sql(s"DROP TABLE $t")
  }

  test("a commit whose log write fails leaves the last durable " +
      "snapshot readable") {
    val t = "graft.tss_failed_write"
    parquetTable(t, 20)
    val before = GraftTableStore.get(t).map(_.toString).sorted.toSeq
    assert(before.length == 20)
    // a foreign writer takes every claimed slot before our content
    // lands: each attempt's log write fails after the in-memory apply
    val attempts = new java.util.concurrent.atomic.AtomicLong
    GraftLog.claimStallHook = Some { claim =>
      attempts.incrementAndGet(); claim.delete(); ()
    }
    val replays0 = GraftLog.replays.get
    val ex = try intercept[Exception] {
      spark.sql(s"INSERT INTO $t SELECT id + 100, 'c' FROM range(5)")
    } finally GraftLog.claimStallHook = None
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[GraftConcurrentCommitException]), ex)
    // the retry classifies on the state the failure path installed:
    // one log replay per attempt, not a second peek
    assert(attempts.get > 1, "the conflicted append was not retried")
    assert(GraftLog.replays.get - replays0 == attempts.get,
      s"${GraftLog.replays.get - replays0} replays for " +
        s"${attempts.get} attempts")
    // read lock-free right after the failure, with no catalog touch
    val after = GraftTableStore.get(t).map(_.toString).sorted.toSeq
    assert(after == before, s"read ${after.length} rows, not the " +
      s"${before.length} durable ones")
    assert(rowsOf(t).length == 20)
    spark.sql(s"DROP TABLE $t")
  }

  test("the unloaded-table reference memo drops a table directory " +
      "that is gone") {
    val t = "graft.tss_gone"
    parquetTable(t, 10)
    GraftLog.simulateProcessRestart(Seq(t))
    val dir = GraftWarehouse.tableDir(t)
    assert(GraftLog.unloadedFileRefs(_ != t).nonEmpty)
    assert(GraftLog.unloadedRefCache.contains(dir.getAbsolutePath))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(dir)
    GraftLog.unloadedFileRefs(_ != t)
    assert(!GraftLog.unloadedRefCache.contains(dir.getAbsolutePath),
      "a deleted table directory kept its memo entry")
  }

  test("lock-free reads racing repeated installs always see the full " +
      "table") {
    val t = "graft.tss_race"
    val n = 60
    parquetTable(t, n)
    assert(GraftTableStore.get(t).length == n)
    @volatile var done = false
    val installs = 2000
    val installer = new Thread(() => {
      try (1 to installs).foreach { _ =>
        GraftLog.install(t, GraftLog.replayByName(t).get)
      }
      finally done = true
    })
    var reads = 0
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    installer.start()
    while (!done) {
      try {
        val len = GraftTableStore.get(t).length
        if (len != n) bad += s"read $len rows"
      } catch { case e: Throwable => bad += e.toString }
      reads += 1
    }
    installer.join()
    info(s"$reads reads during $installs installs")
    assert(reads > 0)
    if (bad.nonEmpty)
      fail(s"${bad.size} of $reads reads saw a partial table, first: " +
        bad.take(3).mkString("; "))
    spark.sql(s"DROP TABLE $t")
  }
}
