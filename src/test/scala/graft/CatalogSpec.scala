package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftMergeCatalog, GraftTableStore, GraftWriterFactory}

/** Unit tests for the DSv2 catalog's hardening contracts (round 9):
  * retention-capped version history, atomic commits, namespace-distinct
  * stores, read-only time-travel references, descriptive version-parse
  * errors, and the replace-gated row-level write layout.
  */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)

  test("row-level CoW ops with PUSHABLE predicates keep untouched " +
      "rows on both backends: the operation condition is a GROUP " +
      "filter, never a row filter on the write-back scan") {
    freshCatalog()
    for (props <- Seq("", " TBLPROPERTIES ('graft.store'='parquet')")) {
      spark.sql("DROP TABLE IF EXISTS graft.push_cow")
      spark.sql(s"CREATE TABLE graft.push_cow (k BIGINT, s STRING)$props")
      spark.sql("INSERT INTO graft.push_cow SELECT id, " +
        "CASE WHEN id % 3 = 0 THEN 'F' ELSE 'O' END FROM range(30)")
      // DELETE with a pushable EqualTo predicate: before the
      // rowLevelReplace guard this pushed into the scan, the scan
      // dropped the non-matching rows, and the replace commit wiped
      // the table (every prior row-level id used a non-pushable
      // `% k` predicate, which hid it)
      spark.sql("DELETE FROM graft.push_cow WHERE s = 'F'")
      assert(spark.table("graft.push_cow").count() == 20,
        s"DELETE with pushable predicate lost untouched rows ($props)")
      // UPDATE through the same group-based replace path
      spark.sql("UPDATE graft.push_cow SET s = 'X' WHERE k < 10")
      assert(spark.table("graft.push_cow").count() == 20,
        s"UPDATE with pushable predicate lost untouched rows ($props)")
      assert(spark.table("graft.push_cow")
        .where(col("s") === "X").count() > 0)
      assert(spark.table("graft.push_cow")
        .where(col("s") === "O").count() > 0,
        s"UPDATE rewrote rows outside its predicate ($props)")
      spark.sql("DROP TABLE graft.push_cow")
    }
    // the merge-on-read twin keeps its pushdown (row filtering IS
    // correct for WriteDelta: untouched rows stay in the base; only
    // matched rows produce ops) — exactness check with the same
    // pushable predicate
    spark.sql("DROP TABLE IF EXISTS graft.push_mor")
    spark.sql("CREATE TABLE graft.push_mor (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.push_mor SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'F' ELSE 'O' END FROM range(30)")
    spark.sql("DELETE FROM graft.push_mor WHERE s = 'F'")
    assert(spark.table("graft.push_mor").count() == 20,
      "MoR DELETE with pushable predicate is inexact")
    spark.sql("DROP TABLE graft.push_mor")
  }

  test("column defaults: pre-ADD rows read the EXISTS default, " +
      "omitted inserts the CURRENT default, explicit NULL wins, " +
      "renames keep the default, time travel serves old rows " +
      "through the evolved schema") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.def_t")
    spark.sql("CREATE TABLE graft.def_t (k BIGINT)")
    spark.sql("INSERT INTO graft.def_t SELECT id FROM range(5)") // v0
    spark.sql("ALTER TABLE graft.def_t ADD COLUMN r STRING DEFAULT 'x'")
    // pre-ADD rows read the default, not NULL — metadata-only
    assert(spark.table("graft.def_t")
      .where(col("r") === "x").count() == 5)
    // INSERT omitting the column: the analyzer injects the CURRENT
    // default (gated on the catalog capability)
    spark.sql("INSERT INTO graft.def_t (k) VALUES (100)")
    assert(spark.table("graft.def_t").where(col("k") === 100)
      .collect()(0).getString(1) == "x")
    // explicit NULL stays NULL (the default is for ABSENT values)
    spark.sql("INSERT INTO graft.def_t VALUES (200, NULL)")
    assert(spark.table("graft.def_t")
      .where(col("k") === 200 && col("r").isNull).count() == 1)
    spark.sql("INSERT INTO graft.def_t VALUES (300, 'y')")
    // pushed filters evaluate the default store-side
    assert(spark.table("graft.def_t")
      .where(col("r") === "x").count() == 6)
    assert(spark.table("graft.def_t")
      .where(col("r").isNotNull).count() == 7)
    // time travel reads v0 rows through the evolved schema: the
    // existence default applies to them exactly like the live read
    assert(spark.sql("SELECT * FROM graft.def_t VERSION AS OF 0")
      .where(col("r") === "x").count() == 5)
    // RENAME keeps the default riding on the field metadata
    spark.sql("ALTER TABLE graft.def_t RENAME COLUMN r TO reg")
    assert(spark.table("graft.def_t")
      .where(col("reg") === "x").count() == 6)
    spark.sql("INSERT INTO graft.def_t (k) VALUES (400)")
    assert(spark.table("graft.def_t").where(col("k") === 400)
      .collect()(0).getString(1) == "x")
    // SET DEFAULT rewrites the CURRENT default only: new omitted
    // inserts get 'z', rows already reading the EXISTS default keep
    // the original 'x' (the current-vs-initial split)
    spark.sql("ALTER TABLE graft.def_t ALTER COLUMN reg SET DEFAULT 'z'")
    spark.sql("INSERT INTO graft.def_t (k) VALUES (500)")
    assert(spark.table("graft.def_t").where(col("k") === 500)
      .collect()(0).getString(1) == "z")
    assert(spark.table("graft.def_t")
      .where(col("reg") === "x").count() == 7,
      "SET DEFAULT must not rewrite the existence default")
    // DROP DEFAULT: future omitted inserts go back to NULL
    spark.sql("ALTER TABLE graft.def_t ALTER COLUMN reg DROP DEFAULT")
    spark.sql("INSERT INTO graft.def_t (k) VALUES (600)")
    assert(spark.table("graft.def_t")
      .where(col("k") === 600 && col("reg").isNull).count() == 1)
    assert(spark.table("graft.def_t")
      .where(col("reg") === "x").count() == 7,
      "DROP DEFAULT must not rewrite the existence default")
    spark.sql("DROP TABLE graft.def_t")
  }

  test("CHECK constraints: violating writes reject whole, a backfill-" +
      "violating ADD refuses, DROP restores, clones inherit") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.ck_t")
    spark.sql("DROP TABLE IF EXISTS graft.ck_clone")
    spark.sql("CREATE TABLE graft.ck_t (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.ck_t VALUES (1, 5.0), (2, 7.0)")
    spark.sql("ALTER TABLE graft.ck_t ADD CONSTRAINT v_pos " +
      "CHECK (v > 0)")
    // violating write rejected WHOLE — nothing lands
    intercept[Throwable] {
      spark.sql("INSERT INTO graft.ck_t VALUES (3, -1.0)")
    }
    assert(spark.table("graft.ck_t").count() == 2)
    spark.sql("INSERT INTO graft.ck_t VALUES (4, 9.0)") // valid passes
    assert(spark.table("graft.ck_t").count() == 3)
    // a constraint EXISTING rows violate must refuse to attach
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.ck_t ADD CONSTRAINT k_small " +
        "CHECK (k < 2)")
    }
    // a shallow clone inherits the constraint
    graft.api.GraftApi.cloneTable(spark, "graft.ck_t", "graft.ck_clone")
    intercept[Throwable] {
      spark.sql("INSERT INTO graft.ck_clone VALUES (9, -3.0)")
    }
    assert(spark.table("graft.ck_clone").count() == 3)
    // DROP CONSTRAINT: the same write now lands
    spark.sql("ALTER TABLE graft.ck_t DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO graft.ck_t VALUES (5, -2.0)")
    assert(spark.table("graft.ck_t").count() == 4)
    // dropping an unknown constraint without IF EXISTS is loud
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.ck_t DROP CONSTRAINT nope")
    }
    spark.sql("DROP TABLE graft.ck_t")
    spark.sql("DROP TABLE graft.ck_clone")
  }

  test("generated columns: recomputed on every write path (ALWAYS " +
      "semantics), usable as a partition source, bad formulas refuse " +
      "at CREATE") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.gc_t")
    spark.sql("CREATE TABLE graft.gc_t (k BIGINT, v DOUBLE, " +
      "cat STRING GENERATED ALWAYS AS " +
      "(CASE WHEN v < 0 THEN 'neg' ELSE 'pos' END))")
    spark.sql("INSERT INTO graft.gc_t (k, v) VALUES (1, 2.0), (2, -3.0)")
    assert(spark.table("graft.gc_t").where(col("cat") === "neg")
      .count() == 1)
    // an explicit value for the generated column is RECOMPUTED — the
    // stored value can never drift from the formula
    spark.sql("INSERT INTO graft.gc_t VALUES (3, 4.0, 'neg')")
    assert(spark.table("graft.gc_t")
      .where(col("k") === 3 && col("cat") === "pos").count() == 1,
      "ALWAYS semantics must recompute an explicitly supplied value")
    // the CoW UPDATE rewrites through the same writer: recomputed
    spark.sql("UPDATE graft.gc_t SET v = -9.0 WHERE k = 1")
    assert(spark.table("graft.gc_t")
      .where(col("k") === 1 && col("cat") === "neg").count() == 1,
      "UPDATE must recompute the generated column")
    // generated column as the PARTITION source on the parquet store
    // (task-side file writes compute before the key projection)
    spark.sql("DROP TABLE IF EXISTS graft.gc_part")
    spark.sql("CREATE TABLE graft.gc_part (k BIGINT, v DOUBLE, " +
      "cat STRING GENERATED ALWAYS AS " +
      "(CASE WHEN v < 0 THEN 'neg' ELSE 'pos' END)) " +
      "PARTITIONED BY (cat) TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.gc_part (k, v) SELECT id, " +
      "CAST(id AS DOUBLE) - 5.0 FROM range(10)")
    assert(spark.table("graft.gc_part.partitions").count() == 2)
    assert(spark.table("graft.gc_part")
      .where(col("cat") === "neg").count() == 5)
    // a formula that does not produce the declared type refuses NOW
    intercept[Throwable] {
      spark.sql("CREATE TABLE graft.gc_bad (k BIGINT, " +
        "s BIGINT GENERATED ALWAYS AS (k || 'x'))")
    }
    spark.sql("DROP TABLE graft.gc_t")
    spark.sql("DROP TABLE graft.gc_part")
  }

  test("identity columns: sequential commit-time assignment, ALWAYS " +
      "refuses explicit appends, BY DEFAULT accepts them, rewrites " +
      "keep existing ids") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.idt_t")
    spark.sql("CREATE TABLE graft.idt_t (id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY, v DOUBLE)")
    spark.sql("INSERT INTO graft.idt_t (v) VALUES (1.0), (2.0), (3.0)")
    val ids = spark.table("graft.idt_t").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"expected 1..3, got $ids")
    // second commit continues from the high-water mark
    spark.sql("INSERT INTO graft.idt_t (v) VALUES (4.0)")
    assert(spark.table("graft.idt_t").agg(
      org.apache.spark.sql.functions.max(col("id"))).collect()(0)
      .getLong(0) == 4L)
    // explicit insert refuses under ALWAYS
    intercept[Throwable] {
      spark.sql("INSERT INTO graft.idt_t VALUES (99, 9.0)")
    }
    // the CoW UPDATE keeps existing ids (rewrite, not append)
    spark.sql("UPDATE graft.idt_t SET v = 10.0 WHERE id = 2")
    assert(spark.table("graft.idt_t")
      .where(col("id") === 2 && col("v") === 10.0).count() == 1)
    assert(spark.table("graft.idt_t").count() == 4)
    // BY DEFAULT variant accepts explicit values AND fills nulls
    spark.sql("DROP TABLE IF EXISTS graft.idt_d")
    spark.sql("CREATE TABLE graft.idt_d (id BIGINT GENERATED " +
      "BY DEFAULT AS IDENTITY (START WITH 100), v DOUBLE)")
    spark.sql("INSERT INTO graft.idt_d VALUES (7, 1.0)")
    spark.sql("INSERT INTO graft.idt_d (v) VALUES (2.0)")
    val dvals = spark.table("graft.idt_d").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(dvals == Seq(7L, 100L), s"got $dvals")
    // identity restarts at the declared START after drop+recreate
    spark.sql("DROP TABLE graft.idt_t")
    spark.sql("CREATE TABLE graft.idt_t (id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY, v DOUBLE)")
    spark.sql("INSERT INTO graft.idt_t (v) VALUES (5.0)")
    assert(spark.table("graft.idt_t").collect()(0).getLong(0) == 1L)
    spark.sql("DROP TABLE graft.idt_t")
    spark.sql("DROP TABLE graft.idt_d")
  }

  test("three-branch MERGE (NOT MATCHED BY SOURCE) on merge-on-read " +
      "equals the copy-on-write result: the BY-SOURCE deletes arrive " +
      "as delta ops") {
    freshCatalog()
    def seed(t: String, mor: Boolean): Unit = {
      val props =
        if (mor) " TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
          "'graft.row-id'='k')"
        else ""
      spark.sql(s"DROP TABLE IF EXISTS graft.$t")
      spark.sql(s"CREATE TABLE graft.$t (k BIGINT, v DOUBLE)$props")
      spark.sql(s"INSERT INTO graft.$t SELECT id, CAST(id AS DOUBLE) " +
        "FROM range(30)")
    }
    spark.sql("SELECT id AS k, CAST(id * 10 AS DOUBLE) AS v " +
      "FROM range(0, 30, 3)").createOrReplaceTempView("m3_src")
    def mergeInto(t: String): Unit =
      spark.sql(s"""MERGE INTO graft.$t t USING m3_src s
                   |ON t.k = s.k
                   |WHEN MATCHED THEN UPDATE SET v = s.v
                   |WHEN NOT MATCHED THEN INSERT *
                   |WHEN NOT MATCHED BY SOURCE AND k % 5 = 0 THEN DELETE
                   |""".stripMargin)
    seed("m3_cow", mor = false); mergeInto("m3_cow")
    seed("m3_mor", mor = true); mergeInto("m3_mor")
    val cow = spark.table("graft.m3_cow").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val mor = spark.table("graft.m3_mor").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(cow == mor, s"MoR diverges: cow=${cow.take(5)} " +
      s"mor=${mor.take(5)}")
    // spot the semantics: k=3 matched → 30.0; k=5 unmatched %5 → gone;
    // k=7 unmatched not-%5 → unchanged
    assert(cow.contains((3L, 30.0)) && cow.contains((7L, 7.0)) &&
      !cow.exists(_._1 == 5L), cow.toString)
    spark.sql("DROP TABLE graft.m3_cow")
    spark.sql("DROP TABLE graft.m3_mor")
  }

  /** register `name` as a bare one-BIGINT-column store table, for the
    * store-level tests that commit rows without the catalog */
  private def bareTable(name: String): Unit = {
    GraftTableStore.reset(name)
    graft.sources.GraftParquetStore.register(name,
      StructType(Seq(StructField("k", LongType))), Array.empty)
  }

  test("version history is retention-capped with stable absolute numbers") {
    val name = "graft.cap_test_store"
    bareTable(name)
    val total = GraftTableStore.RetainedVersions + 6
    (0 until total).foreach { i =>
      GraftTableStore.put(name,
        Array.tabulate[InternalRow](i)(j => InternalRow(j.toLong)))
    }
    assert(GraftTableStore.commitCount(name) == total)
    // the latest and the earliest RETAINED snapshot resolve by their
    // ABSOLUTE version numbers (sizes encode which commit we read)
    assert(GraftTableStore.getVersion(name, total - 1).length == total - 1)
    val firstRetained = total - GraftTableStore.RetainedVersions
    assert(GraftTableStore.getVersion(name, firstRetained).length
      == firstRetained)
    // one before the window: expired, loudly
    val ex = intercept[IllegalArgumentException] {
      GraftTableStore.getVersion(name, firstRetained - 1)
    }
    assert(ex.getMessage.contains("expired"), ex.getMessage)
    // beyond the history: does not exist
    val ex2 = intercept[IllegalArgumentException] {
      GraftTableStore.getVersion(name, total)
    }
    assert(ex2.getMessage.contains("does not exist"), ex2.getMessage)
    GraftTableStore.reset(name)
  }

  test("concurrent commits serialize: no lost update, history consistent") {
    val name = "graft.concurrency_test_store"
    bareTable(name)
    val threads = (0 until 4).map { _ =>
      new Thread(() =>
        (0 until 25).foreach { _ =>
          // read-modify-write: grow the snapshot by one row — a lost
          // update would leave the final size below 100
          GraftTableStore.mutate(name)(base =>
            base :+ InternalRow(base.length.toLong))
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(GraftTableStore.commitCount(name) == 100)
    assert(GraftTableStore.get(name).length == 100)
    // the history tail must END in the served current snapshot
    assert(GraftTableStore.getVersion(name, 99).length == 100)
    GraftTableStore.reset(name)
  }

  test("namespaced tables get distinct row stores") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.ns1.t")
    spark.sql("DROP TABLE IF EXISTS graft.ns2.t")
    spark.sql("CREATE TABLE graft.ns1.t (k BIGINT)")
    spark.sql("CREATE TABLE graft.ns2.t (k BIGINT)")
    spark.sql("INSERT INTO graft.ns1.t VALUES (1)")
    spark.sql("INSERT INTO graft.ns2.t VALUES (2), (3)")
    assert(spark.table("graft.ns1.t").count() == 1)
    assert(spark.table("graft.ns2.t").count() == 2)
    // dropping one namespace's table must not wipe the other's data
    spark.sql("DROP TABLE graft.ns1.t")
    assert(spark.table("graft.ns2.t").count() == 2)
    spark.sql("DROP TABLE graft.ns2.t")
  }

  test("non-integer VERSION AS OF fails with a descriptive error") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.vparse_t")
    spark.sql("CREATE TABLE graft.vparse_t (k BIGINT)")
    spark.sql("INSERT INTO graft.vparse_t VALUES (1)")
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft.vparse_t VERSION AS OF 'abc'")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("integer snapshot numbers")),
      s"expected a descriptive version error, got: $ex")
    spark.sql("DROP TABLE graft.vparse_t")
  }

  test("a version-pinned table reference is read-only") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pin_t")
    spark.sql("CREATE TABLE graft.pin_t (k BIGINT)")
    spark.sql("INSERT INTO graft.pin_t VALUES (1)")
    // SQL offers no write-to-version syntax, so exercise the guard at
    // the connector surface the planner would use
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val pinned = cat.loadTable(Identifier.of(Array.empty, "pin_t"), "0")
      .asInstanceOf[graft.sources.GraftMergeTable]
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() =
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())
      override def queryId(): String = "test"
      override def schema(): StructType =
        StructType(Seq(StructField("k", LongType)))
    }
    val e1 = intercept[IllegalArgumentException] {
      pinned.newWriteBuilder(info)
    }
    assert(e1.getMessage.contains("read-only"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      pinned.newRowLevelOperationBuilder(
        new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
          override def options() =
            new org.apache.spark.sql.util.CaseInsensitiveStringMap(
              java.util.Collections.emptyMap())
          override def command() =
            org.apache.spark.sql.connector.write.RowLevelOperation
              .Command.DELETE
        })
    }
    assert(e2.getMessage.contains("read-only"), e2.getMessage)
    spark.sql("DROP TABLE graft.pin_t")
  }

  test("merge-on-read table: delta ops land exactly; history versions " +
      "stay intact") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.mor_unit")
    spark.sql("CREATE TABLE graft.mor_unit (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.mor_unit VALUES (1, 1.0), (2, 2.0), " +
      "(3, 3.0)") // version 0
    spark.sql("DELETE FROM graft.mor_unit WHERE k = 2") // version 1
    spark.sql("UPDATE graft.mor_unit SET v = 30.0 WHERE k = 3") // v2
    spark.createDataFrame(Seq((3L, 300.0), (4L, 4.0))).toDF("k", "v")
      .createOrReplaceTempView("mor_unit_delta")
    spark.sql(
      """MERGE INTO graft.mor_unit t USING mor_unit_delta s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin) // version 3
    def snap(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(snap("SELECT * FROM graft.mor_unit")
      == Set((1L, 1.0), (3L, 300.0), (4L, 4.0)))
    // every delta commit appended one exact full snapshot
    assert(snap("SELECT * FROM graft.mor_unit VERSION AS OF 0")
      == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    assert(snap("SELECT * FROM graft.mor_unit VERSION AS OF 1")
      == Set((1L, 1.0), (3L, 3.0)))
    assert(snap("SELECT * FROM graft.mor_unit VERSION AS OF 2")
      == Set((1L, 1.0), (3L, 30.0)))
    spark.sql("DROP TABLE graft.mor_unit")
  }

  test("cdc_table_changes (feed over real history) equals cdc_diff " +
      "(relational) row for row") {
    // the native change feed derives the SAME delta from the store's
    // own version vector that cdc_diff re-derives relationally — on
    // one corpus they must agree exactly, or one of them lies
    def rows(id: String) = SparkEntry.queries(id)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSeq
    assert(rows("cdc_table_changes") == rows("cdc_diff"))
  }

  test("schema evolution: old snapshots read the added column as NULL; " +
      "a renamed row id still keys delta ops") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.evo_unit")
    spark.sql("CREATE TABLE graft.evo_unit (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.evo_unit VALUES (1, 1.0), (2, 2.0)") // v0
    spark.sql("ALTER TABLE graft.evo_unit ADD COLUMN tag STRING")
    spark.sql("INSERT INTO graft.evo_unit VALUES (3, 3.0, 'wide')") // v1
    // current read: narrow rows NULL-padded, wide row intact
    val cur = spark.table("graft.evo_unit").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)))).toSet
    assert(cur == Set((1L, 1.0, None), (2L, 2.0, None),
      (3L, 3.0, Some("wide"))), s"evolved read wrong: $cur")
    // time travel to the PRE-evolution snapshot through the evolved
    // schema: the old rows pad, no rewrite of history happened
    val v0 = spark.sql("SELECT * FROM graft.evo_unit VERSION AS OF 0")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    assert(v0 == Set((1L, None), (2L, None)),
      s"pre-evolution snapshot wrong: $v0")
    // renaming the ROW ID column: subsequent row-level ops key by the
    // new name (the MoR rowId follows the rename)
    spark.sql("ALTER TABLE graft.evo_unit RENAME COLUMN k TO id")
    spark.sql("DELETE FROM graft.evo_unit WHERE id = 2")
    val afterDel = spark.table("graft.evo_unit").collect()
      .map(_.getLong(0)).toSet
    assert(afterDel == Set(1L, 3L), s"delete after rename wrong: $afterDel")
    // and the change feed serves evolution-spanning history with the
    // narrow pre-images NULL-padded
    val feed = spark.table("graft.evo_unit.changes").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4))).toSeq
    assert(feed.contains((2L, "delete", 2L)), s"feed wrong: $feed")
    assert(feed.count(_._2 == "insert") == 3)
    spark.sql("DROP TABLE graft.evo_unit")
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before the " +
      "instant") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.ts_t")
    spark.sql("CREATE TABLE graft.ts_t (k BIGINT)")
    spark.sql("INSERT INTO graft.ts_t VALUES (1)") // v0
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO graft.ts_t VALUES (2)") // v1
    def fmt(ms: Long) = new java.sql.Timestamp(ms).toInstant
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val atBetween = spark.sql("SELECT * FROM graft.ts_t " +
      s"TIMESTAMP AS OF '${fmt(between)}'").collect().map(_.getLong(0))
    assert(atBetween.toSeq == Seq(1L),
      s"between-commits travel wrong: ${atBetween.toSeq}")
    val atNow = spark.sql("SELECT * FROM graft.ts_t " +
      s"TIMESTAMP AS OF '${fmt(System.currentTimeMillis())}'")
      .collect().map(_.getLong(0)).sorted
    assert(atNow.toSeq == Seq(1L, 2L), s"now travel wrong: ${atNow.toSeq}")
    // before the first commit: loud error, same contract as an
    // expired version
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft.ts_t " +
        "TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("before the earliest")),
      s"pre-history timestamp not rejected: $ex")
    spark.sql("DROP TABLE graft.ts_t")
  }

  test("column pruning reaches the governed scan") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.prune_t")
    spark.sql("CREATE TABLE graft.prune_t (k BIGINT, a STRING, " +
      "b DOUBLE, c STRING)")
    spark.sql("INSERT INTO graft.prune_t VALUES (1, 'x', 1.5, 'p'), " +
      "(2, 'y', 2.5, 'q')")
    val df = spark.table("graft.prune_t").select("k", "b")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=[k,b]"),
      s"projection did not reach the scan:\n$plan")
    assert(!plan.contains("cols=[k,a,b,c]"),
      s"scan still reads all columns:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 1.5), (2L, 2.5)), s"pruned read wrong: $got")
    // pruning composes with schema evolution: prune to a column pair
    // that straddles the evolution boundary
    spark.sql("ALTER TABLE graft.prune_t ADD COLUMN d STRING")
    spark.sql("INSERT INTO graft.prune_t VALUES (3, 'z', 3.5, 'r', 'w')")
    val evolved = spark.table("graft.prune_t").select("k", "d").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(evolved == Set((1L, None), (2L, None), (3L, Some("w"))),
      s"pruned evolved read wrong: $evolved")
    spark.sql("DROP TABLE graft.prune_t")
  }

  test("filter pushdown reaches the governed scan and skips rows at " +
      "the store") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.fpush_t")
    spark.sql("CREATE TABLE graft.fpush_t (k BIGINT, s STRING, " +
      "v DOUBLE)")
    spark.sql("INSERT INTO graft.fpush_t VALUES (1, 'a', 1.0), " +
      "(2, 'b', 2.0), (3, NULL, 3.0), (4, 'b', 4.0)")
    val df = spark.table("graft.fpush_t")
      .where(col("s") === "b" && col("v") > 2.5).select("k")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=["),
      s"no filters reached the scan:\n$plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(4L))
    // NULL semantics: an equality filter must not match the NULL row,
    // and IsNull must
    assert(spark.table("graft.fpush_t").where(col("s").isNull)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(spark.table("graft.fpush_t").where(col("s") =!= "a")
      .collect().map(_.getLong(0)).toSeq.sorted == Seq(2L, 4L))
    // IN + range + string comparisons
    assert(spark.table("graft.fpush_t")
      .where(col("k").isin(2L, 3L) && col("s") >= "b")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    spark.sql("DROP TABLE graft.fpush_t")
  }

  test("partitioned scan: one input partition per value, partition-only " +
      "predicates prune partitions statically") {
    val r = scanMetrics(SparkEntry.queries("scan_partitioned_prune")(spark, sf),
      "graft.lake_orders")
    assert(r.totalPartitions == 5 && r.keptPartitions == 2,
      s"expected 2/5 partitions kept after static pruning, got $r")
    assert(r.runtimeEmptied == 0, s"no runtime filter in this query: $r")
  }

  test("scan metrics are per query: a pruned query keeps its own " +
      "partition and file counts after a full query scans the same " +
      "table, on both stores") {
    freshCatalog()
    for ((t, props) <- Seq("graft.isoq_mem" -> "",
        "graft.isoq_pq" -> " TBLPROPERTIES ('graft.store'='parquet')")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING) " +
        s"PARTITIONED BY (p)$props")
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 3 AS STRING) " +
        "FROM range(12)")
      val q1 = spark.table(t).where(col("p") === "0")
      val q2 = spark.table(t)
      q1.collect()
      q2.collect()
      val m1 = scanReport(q1, t)
      assert(m1.totalPartitions == 3 && m1.keptPartitions == 1,
        s"$t: the pruned query reads another query's report: $m1")
      val m2 = scanReport(q2, t)
      assert(m2.totalPartitions == 3 && m2.keptPartitions == 3, s"$t: $m2")
      if (props.nonEmpty)
        assert(m1.filesRead < m1.filesTotal &&
          m2.filesRead == m2.filesTotal, s"$t: $m1 vs $m2")
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("runtime (dynamic) partition pruning empties the partitions a " +
      "selective join excludes — without changing partition identity") {
    val r = scanMetrics(SparkEntry.queries("join_runtime_prune")(spark, sf),
      "graft.dpp_orders")
    assert(r.totalPartitions == 5 && r.keptPartitions == 5,
      s"static pruning must not fire (no pushable partition filter): $r")
    assert(r.runtimeEmptied == 3,
      s"expected the 3 cold partitions emptied at runtime, got $r")
  }

  test("governed scan reports post-pushdown statistics (row count + " +
      "bytes) to the optimizer") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.stats_t")
    spark.sql("CREATE TABLE graft.stats_t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.stats_t VALUES (1, 'a'), (2, 'b'), " +
      "(3, 'c'), (4, 'd')")
    val full = spark.table("graft.stats_t")
    val fullStats = full.queryExecution.optimizedPlan.stats
    assert(fullStats.rowCount.contains(BigInt(4)),
      s"expected rowCount=4, got $fullStats")
    assert(fullStats.sizeInBytes > 0 && fullStats.sizeInBytes < 10000,
      s"expected a small exact size, got $fullStats")
    // the estimate is filter-aware: a pushed predicate shrinks the
    // relation's size estimate (the Filter node above the scan
    // propagates size-only stats, so compare sizeInBytes)
    val filtered = spark.table("graft.stats_t").where(col("k") > 2L)
    val fStats = filtered.queryExecution.optimizedPlan.stats
    assert(fStats.sizeInBytes < fullStats.sizeInBytes,
      s"pushed-filter stats not applied: $fStats vs full $fullStats")
    spark.sql("DROP TABLE graft.stats_t")
  }

  test("MISMATCHED bucket counts do NOT silently co-partition: the " +
      "join shuffles and the result stays correct") {
    // the negative half of the SPJ handshake — bucket(4) and bucket(8)
    // share the bound function's canonicalName but differ in count, so
    // Spark must treat the partitionings as INCOMPATIBLE and insert
    // exchanges; a false-positive match here would produce a silently
    // WRONG join (rows meeting only within misaligned buckets)
    freshCatalog()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS graft.bm_a")
    spark.sql("DROP TABLE IF EXISTS graft.bm_b")
    spark.sql("CREATE TABLE graft.bm_a (k BIGINT, va BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE graft.bm_b (k2 BIGINT, vb BIGINT) " +
      "PARTITIONED BY (bucket(8, k2))")
    spark.sql("INSERT INTO graft.bm_a SELECT id, id * 10 FROM range(40)")
    spark.sql("INSERT INTO graft.bm_b SELECT id, id * 100 FROM range(40)")
    val j = spark.table("graft.bm_a").hint("merge")
      .join(spark.table("graft.bm_b"), col("k") === col("k2"))
    val n = j.count()
    assert(n == 40, s"mismatched-bucket join lost rows: $n of 40 " +
      "(buckets treated as compatible?)")
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning"),
      s"no shuffle inserted for incompatible bucket counts:\n$p")
    spark.sql("DROP TABLE graft.bm_a")
    spark.sql("DROP TABLE graft.bm_b")
  }

  test("CTAS, partitioned CTAS and REPLACE TABLE AS SELECT work " +
      "against the catalog") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.ctas_t")
    spark.sql("CREATE TABLE graft.ctas_t AS SELECT id AS k, " +
      "CAST(id * 1.5 AS DOUBLE) AS v FROM range(5)")
    assert(spark.table("graft.ctas_t").count() == 5)
    // RTAS swaps schema and content in one statement
    spark.sql("REPLACE TABLE graft.ctas_t AS " +
      "SELECT id AS k, CAST(id AS STRING) AS s FROM range(3)")
    val replaced = spark.table("graft.ctas_t")
    assert(replaced.schema.fieldNames.toSeq == Seq("k", "s") &&
      replaced.count() == 3, s"RTAS result wrong: ${replaced.schema}")
    // CTAS with PARTITIONED BY carries the transform through
    spark.sql("DROP TABLE IF EXISTS graft.ctas_p")
    spark.sql("CREATE TABLE graft.ctas_p PARTITIONED BY (p) AS " +
      "SELECT id AS k, CAST(id % 3 AS STRING) AS p FROM range(9)")
    val parts = spark.table("graft.ctas_p.partitions")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts == Map("0" -> 3L, "1" -> 3L, "2" -> 3L),
      s"partitioned CTAS layout wrong: $parts")
    spark.sql("DROP TABLE graft.ctas_t")
    spark.sql("DROP TABLE graft.ctas_p")
  }

  test("time travel composes with partition pruning; DROP COLUMN of a " +
      "partition column is refused") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.ttp_t")
    spark.sql("CREATE TABLE graft.ttp_t (k BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.ttp_t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(6)") // v0
    spark.sql("INSERT INTO graft.ttp_t VALUES (100, 'c')") // v1
    // a pinned (VERSION AS OF) scan of the partitioned table still
    // prunes: v0 has partitions a,b only; the filter keeps one
    val pinned = spark.sql("SELECT * FROM graft.ttp_t VERSION AS OF 0")
      .where(col("p") === "a")
    val n = pinned.count()
    assert(n == 3, s"pinned partitioned read wrong: $n")
    val m = scanMetrics(pinned, "graft.ttp_t")
    assert(m.totalPartitions == 2 && m.keptPartitions == 1,
      s"pruning did not apply to the pinned scan: $m")
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ttp_t DROP COLUMN p")
    }
    assert(ex.getMessage.contains("partition column"), ex.getMessage)
    spark.sql("DROP TABLE graft.ttp_t")
  }

  test("DROP COLUMN is metadata-only via column mapping: rows keep " +
      "their layout, later columns do NOT shift, re-adding the name " +
      "does not resurrect old values") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.cmap_t")
    spark.sql("CREATE TABLE graft.cmap_t " +
      "(a BIGINT, b STRING, c DOUBLE)")
    spark.sql("INSERT INTO graft.cmap_t VALUES " +
      "(1, 'x', 1.5), (2, 'y', 2.5)")
    spark.sql("ALTER TABLE graft.cmap_t DROP COLUMN b")
    // visible schema shrank; c reads ITS values, not b's (the shifted-
    // rows bug class the physical slot reservation exists to prevent)
    assert(spark.table("graft.cmap_t").columns.toSeq == Seq("a", "c"))
    assert(spark.table("graft.cmap_t").orderBy("a").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
    // filters and writes keep working against the mapped layout
    assert(spark.table("graft.cmap_t").where(col("c") > 2.0).count() == 1)
    spark.sql("INSERT INTO graft.cmap_t VALUES (3, 3.5)")
    // re-ADD a column named b: a FRESH slot — old b values stay dead
    spark.sql("ALTER TABLE graft.cmap_t ADD COLUMN b STRING")
    val rows = spark.table("graft.cmap_t").orderBy("a").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(rows == Seq((1L, 1.5, null), (2L, 2.5, null), (3L, 3.5, null)),
      s"re-added column must not resurrect dropped values: $rows")
    spark.sql("INSERT INTO graft.cmap_t VALUES (4, 4.5, 'fresh')")
    assert(spark.table("graft.cmap_t").where(col("b") === "fresh")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    // rows keep their WRITE-TIME physical layout untouched: the v0
    // rows still carry 3 slots (a, tombstoned-b, c) while the newest
    // row has 4 (…, re-added b) — nothing was rewritten by the drop
    val stored = graft.sources.GraftTableStore.get("graft.cmap_t")
    assert(stored.head.numFields == 3 && stored.last.numFields == 4,
      stored.map(_.numFields).mkString(","))
    spark.sql("DROP TABLE graft.cmap_t")
  }

  test("column-mapping guards: the MoR row id and the last visible " +
      "column refuse to drop; row-level ops still key correctly after " +
      "a drop; the change feed serves visible columns only") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.cmapg_t")
    spark.sql("CREATE TABLE graft.cmapg_t (k BIGINT, u STRING, " +
      "v DOUBLE) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.cmapg_t VALUES " +
      "(1, 'p', 1.0), (2, 'q', 2.0), (3, 'r', 3.0)")
    val exId = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cmapg_t DROP COLUMN k")
    }
    assert(exId.getMessage.contains("row id"), exId.getMessage)
    spark.sql("ALTER TABLE graft.cmapg_t DROP COLUMN u")
    // a MoR DELETE after the drop: the row id keys by its PHYSICAL
    // ordinal, the delta applies against physical rows
    spark.sql("DELETE FROM graft.cmapg_t WHERE k = 2")
    assert(spark.table("graft.cmapg_t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (3L, 3.0)))
    // the change feed exposes the current VISIBLE columns (+ CDF cols)
    val feed = spark.table("graft.cmapg_t.changes")
    assert(feed.columns.toSeq ==
      Seq("k", "v", "_change_type", "_commit_version"))
    assert(feed.where(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // last-visible-column guard
    spark.sql("DROP TABLE IF EXISTS graft.cmapl_t")
    spark.sql("CREATE TABLE graft.cmapl_t (x BIGINT, y BIGINT)")
    spark.sql("ALTER TABLE graft.cmapl_t DROP COLUMN y")
    val exLast = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cmapl_t DROP COLUMN x")
    }
    assert(exLast.getMessage.contains("last visible"), exLast.getMessage)
    spark.sql("DROP TABLE graft.cmapg_t")
    spark.sql("DROP TABLE graft.cmapl_t")
  }

  test("CoW rewrite feeds serve the MANIFEST DIFF task-side: a " +
      "REPLACE WHERE window stages change-data files and materializes " +
      "ZERO driver rows, a DV delete serves a position diff, and a " +
      "large MoR op log chunks into multiple partitions") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.cowcdf_t")
    spark.sql("CREATE TABLE graft.cowcdf_t (k BIGINT, g STRING, " +
      "v DOUBLE) TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.cowcdf_t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, " +
      "CAST(id AS DOUBLE) FROM range(100)") // v0
    spark.sql("INSERT INTO graft.cowcdf_t REPLACE WHERE g = 'a' " +
      "SELECT id, 'a', CAST(id + 1000 AS DOUBLE) " +
      "FROM range(0, 60, 2)") // v1: 30 keys update, 20 keys die
    val feed = spark.read.option("startingVersion", "1")
      .option("endingVersion", "1").table("graft.cowcdf_t.changes")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    val expect =
      (0L until 60L by 2).flatMap(k => Seq(
        (k, "a", k.toDouble, "update_preimage"),
        (k, "a", k + 1000.0, "update_postimage"))).toSet ++
      (60L until 100L by 2).map(k => (k, "a", k.toDouble, "delete"))
    assert(feed == expect,
      s"missing: ${expect -- feed}; extra: ${feed -- expect}")
    // the distributed path served it: change-data staged, neither
    // adjacent snapshot materialized on the driver
    assert(graft.sources.GraftChangeFeed
      .isChangeDataStaged("graft.cowcdf_t", 1),
      "REPLACE WHERE feed must stage change-data files")
    for (v <- 0 to 1)
      assert(!GraftTableStore.isResolvedCached("graft.cowcdf_t", v),
        s"CoW feed resolved v$v driver-side")
    // and the plan carries no driver-row partition for the window
    val physSchema = graft.sources.GraftParquetStore
      .meta("graft.cowcdf_t").get.schema
    val cowParts = graft.sources.GraftChangeFeed.planParts(
      "graft.cowcdf_t", physSchema, 0, 1, 2)
    assert(cowParts.nonEmpty && cowParts.forall(p =>
      !p.isInstanceOf[graft.sources.GraftInputPartition]),
      s"expected only staged/file partitions: " +
        s"${cowParts.map(_.getClass.getSimpleName).toSeq}")

    // ---- DV delete: the swapped bitmap serves a position diff
    spark.sql("DROP TABLE IF EXISTS graft.dvcdf_t")
    spark.sql("CREATE TABLE graft.dvcdf_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.delete.mode'='dv', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.dvcdf_t SELECT id, " +
      "CAST(id AS DOUBLE) FROM range(50)") // v0
    spark.sql("DELETE FROM graft.dvcdf_t WHERE k >= 10 AND k < 15") // v1
    val dvFeed = spark.read.option("startingVersion", "1")
      .table("graft.dvcdf_t.changes").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(dvFeed == (10L until 15L).map(k => (k, "delete")).toSet,
      dvFeed.toString)
    val dvSchema = graft.sources.GraftParquetStore
      .meta("graft.dvcdf_t").get.schema
    val dvParts = graft.sources.GraftChangeFeed.planParts(
      "graft.dvcdf_t", dvSchema, 0, 1, 2)
    assert(dvParts.exists(
      _.isInstanceOf[graft.sources.GraftCdfDvDiffPartition]) &&
      dvParts.forall(p =>
        !p.isInstanceOf[graft.sources.GraftInputPartition]),
      s"DV delete must plan position-diff partitions: " +
        s"${dvParts.map(_.getClass.getSimpleName).toSeq}")
    for (v <- 0 to 1)
      assert(!GraftTableStore.isResolvedCached("graft.dvcdf_t", v),
        s"DV feed resolved v$v driver-side")

    // ---- MoR op-log chunking: > 4096 change rows → > 1 partition
    spark.sql("DROP TABLE IF EXISTS graft.morchunk_t")
    spark.sql("CREATE TABLE graft.morchunk_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.morchunk_t SELECT id, " +
      "CAST(id AS DOUBLE) FROM range(3000)") // v0
    spark.sql("UPDATE graft.morchunk_t SET v = v + 1") // v1: 6000 images
    val mcSchema = graft.sources.GraftParquetStore
      .meta("graft.morchunk_t").get.schema
    val mcParts = graft.sources.GraftChangeFeed.planParts(
      "graft.morchunk_t", mcSchema, 0, 1, 2)
    val rowParts = mcParts.count(
      _.isInstanceOf[graft.sources.GraftInputPartition])
    assert(rowParts >= 2,
      s"6000 op-log rows must chunk into multiple partitions, " +
        s"got $rowParts")
    assert(spark.read.option("startingVersion", "1")
      .table("graft.morchunk_t.changes").count() == 6000L)
    Seq("graft.cowcdf_t", "graft.dvcdf_t", "graft.morchunk_t")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("change feed endingVersion bounds the batch read inclusively") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.cdfrange_t")
    spark.sql("CREATE TABLE graft.cdfrange_t (k BIGINT) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.cdfrange_t VALUES (1), (2)") // v0
    spark.sql("DELETE FROM graft.cdfrange_t WHERE k = 1") // v1
    spark.sql("INSERT INTO graft.cdfrange_t VALUES (3)") // v2
    def feed(opts: (String, String)*): Set[(Long, String, Long)] = {
      val r = opts.foldLeft(spark.read)((acc, o) =>
        acc.option(o._1, o._2))
      r.table("graft.cdfrange_t.changes").collect()
        .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSet
    }
    // [1, 1]: exactly the delete commit
    assert(feed("startingVersion" -> "1", "endingVersion" -> "1") ==
      Set((1L, "delete", 1L)))
    // [0, 1]: seed inserts + the delete, nothing from v2
    assert(feed("startingVersion" -> "0", "endingVersion" -> "1") ==
      Set((1L, "insert", 0L), (2L, "insert", 0L), (1L, "delete", 1L)))
    // an endingVersion past the history clamps to latest
    assert(feed("startingVersion" -> "2", "endingVersion" -> "99") ==
      Set((3L, "insert", 2L)))
    spark.sql("DROP TABLE graft.cdfrange_t")
  }

  test("mixed identity + bucket partitioning: grouping, metadata and " +
      "static pruning compose") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.mixp_t")
    spark.sql("CREATE TABLE graft.mixp_t (k BIGINT, seg STRING) " +
      "PARTITIONED BY (seg, bucket(2, k))")
    spark.sql("INSERT INTO graft.mixp_t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(8)")
    // 2 segments × 2 buckets; parity couples seg and bucket here so
    // only ('a',0) and ('b',1) are populated
    val parts = spark.table("graft.mixp_t.partitions")
      .orderBy("seg", "k_bucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(parts.toSeq == Seq(("a", 0, 4L), ("b", 1, 4L)),
      s"mixed partition metadata wrong: ${parts.mkString(", ")}")
    // a predicate on the IDENTITY field statically prunes; the bucket
    // field stays row-level
    val m = scanMetrics(spark.table("graft.mixp_t").where(col("seg") === "a"),
      "graft.mixp_t")
    assert(m.totalPartitions == 2 && m.keptPartitions == 1,
      s"identity-field pruning over mixed partitioning wrong: $m")
    spark.sql("DROP TABLE graft.mixp_t")
  }

  test("the catalog's bucket function is SQL-callable and agrees with " +
      "the store's partition grouping") {
    freshCatalog()
    // Iceberg-system-function parity: the SAME function the bucket
    // transform resolves to is directly callable as graft.bucket(n, k)
    val r = spark.sql("SELECT graft.bucket(8, CAST(13 AS BIGINT)), " +
      "graft.bucket(8, CAST(-3 AS BIGINT)), " +
      "graft.bucket(8, CAST(NULL AS BIGINT))").collect()(0)
    assert(r.getInt(0) == 5 && r.getInt(1) == 5,
      s"bucket values wrong: $r") // floorMod semantics incl. negatives
    assert(r.isNullAt(2), "bucket(NULL) must be NULL")
    // SQL evaluation and store-side grouping must agree: derive the
    // expected per-bucket counts WITH the SQL function, compare to the
    // .partitions readout of a bucketed table
    spark.sql("DROP TABLE IF EXISTS graft.bfn_t")
    spark.sql("CREATE TABLE graft.bfn_t (k BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.bfn_t SELECT id * 7 FROM range(20)")
    val viaFn = spark.sql("SELECT graft.bucket(4, id * 7) AS b, " +
      "COUNT(*) AS n FROM range(20) GROUP BY 1 ORDER BY 1").collect()
      .map(row => (row.getInt(0), row.getLong(1))).toSeq
    val viaMeta = spark.table("graft.bfn_t.partitions")
      .orderBy("k_bucket").collect()
      .map(row => (row.getInt(0), row.getLong(1))).toSeq
    assert(viaFn == viaMeta,
      s"SQL bucket and store grouping disagree: $viaFn vs $viaMeta")
    spark.sql("DROP TABLE graft.bfn_t")
  }

  test("composition: a PARTITIONED merge-on-read table — native MERGE " +
      "plans WriteDelta, .partitions tracks the change, time travel " +
      "and the change feed span it") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pmor_t")
    spark.sql("CREATE TABLE graft.pmor_t (k BIGINT, seg STRING, " +
      "v DOUBLE) PARTITIONED BY (seg) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.pmor_t " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, " +
      "CAST(id AS DOUBLE) FROM range(10)") // v0: a=5 rows, b=5 rows
    spark.sql("SELECT 7 AS k UNION ALL SELECT 9")
      .createOrReplaceTempView("pmor_del")
    val m = spark.sql(
      """MERGE INTO graft.pmor_t t USING pmor_del s ON t.k = s.k
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN
        |  UPDATE SET v = t.v + 100.0
        |""".stripMargin)
    assert(m.queryExecution.executedPlan.toString.contains("WriteDelta"),
      "partitioned MoR MERGE did not plan as WriteDelta")
    // partition metadata reflects the delta commit: b lost rows 7 and 9
    val parts = spark.table("graft.pmor_t.partitions")
      .orderBy("seg").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(parts.toSeq == Seq(("a", 5L), ("b", 3L)),
      s"partition counts after MoR delete wrong: ${parts.mkString(", ")}")
    // the updated row landed; time travel still serves v0 intact
    assert(spark.sql("SELECT v FROM graft.pmor_t WHERE k = 0")
      .collect()(0).getDouble(0) == 100.0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.pmor_t VERSION AS OF 0")
      .collect()(0).getLong(0) == 10L)
    // the change feed attributes the delta commit's rows
    val changes = spark.read.option("startingVersion", "1")
      .table("graft.pmor_t.changes")
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes == Set((7L, "delete"), (9L, "delete"),
      (0L, "update_preimage"), (0L, "update_postimage")),
      s"change feed across the partitioned MoR commit wrong: $changes")
    spark.sql("DROP TABLE graft.pmor_t")
  }

  test("governed scan serves per-column CBO statistics: ndv, nulls, " +
      "numeric min/max") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.cbo_t")
    spark.sql("CREATE TABLE graft.cbo_t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.cbo_t VALUES (1, 'a'), (2, 'a'), " +
      "(2, 'b'), (9, NULL)")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft.cbo_t")
        .queryExecution.optimizedPlan.stats
      assert(stats.attributeStats.nonEmpty,
        s"no column stats surfaced to the optimizer: $stats")
      val byName = stats.attributeStats.map { case (a, cs) => a.name -> cs }
      val k = byName("k")
      assert(k.distinctCount.contains(BigInt(3)) &&
        k.nullCount.contains(BigInt(0)) &&
        k.min.contains(1L) && k.max.contains(9L),
        s"k column stats wrong: $k")
      val s2 = byName("s")
      assert(s2.distinctCount.contains(BigInt(2)) &&
        s2.nullCount.contains(BigInt(1)),
        s"s column stats wrong: $s2")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.sql("DROP TABLE graft.cbo_t")
  }

  test("the .partitions metadata table serves per-partition counts; " +
      "unpartitioned tables refuse it") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pm_t")
    spark.sql("CREATE TABLE graft.pm_t (k BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(4, b))")
    spark.sql("INSERT INTO graft.pm_t " +
      "SELECT id, id FROM range(10)")
    val rows = spark.table("graft.pm_t.partitions")
      .orderBy("b_bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    // ids 0..9 floorMod 4 → buckets 0,1 hold 3 rows; 2,3 hold 2
    assert(rows.toSeq == Seq((0, 3L), (1, 3L), (2, 2L), (3, 2L)),
      s"bucketed partition counts wrong: ${rows.mkString(", ")}")
    spark.sql("DROP TABLE IF EXISTS graft.pm_flat")
    spark.sql("CREATE TABLE graft.pm_flat (k BIGINT)")
    val ex = intercept[Exception] {
      spark.table("graft.pm_flat.partitions").collect()
    }
    assert(ex.getMessage.contains("partitioned"), ex.getMessage)
    spark.sql("DROP TABLE graft.pm_t")
    spark.sql("DROP TABLE graft.pm_flat")
  }

  test("INSERT OVERWRITE: static predicate replaces matching rows, " +
      "dynamic mode replaces only written partitions; ops logged") {
    freshCatalog()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    spark.sql("DROP TABLE IF EXISTS graft.ovw_t")
    spark.sql("CREATE TABLE graft.ovw_t (k BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.ovw_t VALUES (1, 'a'), (2, 'b'), " +
      "(3, 'c')") // v0
    // STATIC: the partition-spec predicate scopes the replacement
    spark.sql("INSERT OVERWRITE graft.ovw_t PARTITION (p = 'a') " +
      "SELECT 10") // v1
    def state() = spark.table("graft.ovw_t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state() == Set((10L, "a"), (2L, "b"), (3L, "c")),
      s"static overwrite wrong: ${state()}")
    // DYNAMIC: only partitions present in the batch are replaced
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql("INSERT OVERWRITE graft.ovw_t VALUES (20, 'b')") // v2
    assert(state() == Set((10L, "a"), (20L, "b"), (3L, "c")),
      s"dynamic overwrite wrong: ${state()}")
    val ops = graft.sources.GraftTableStore.history("graft.ovw_t")
      .map(_._2)
    assert(ops == Vector("append", "overwrite", "dynamic-overwrite"),
      s"op log: $ops")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    spark.sql("DROP TABLE graft.ovw_t")
  }

  test("pushed GLOBAL aggregate over an empty table returns one row: " +
      "COUNT 0, MIN/MAX NULL") {
    freshCatalog()
    import org.apache.spark.sql.functions.{count, max, min}
    spark.sql("DROP TABLE IF EXISTS graft.agge_t")
    spark.sql("CREATE TABLE graft.agge_t (k BIGINT, v DOUBLE)")
    val df = spark.table("graft.agge_t")
      .agg(count(col("k")), min(col("v")), max(col("v")))
    assert(df.queryExecution.executedPlan.toString
      .contains("pushedAggregates="), "aggregate not pushed")
    val rows = df.collect()
    assert(rows.length == 1, s"global agg must return ONE row, " +
      s"got ${rows.length} (SQL empty-aggregate semantics)")
    assert(rows(0).getLong(0) == 0L && rows(0).isNullAt(1) &&
      rows(0).isNullAt(2), s"wrong empty-aggregate row: ${rows(0)}")
    spark.sql("DROP TABLE graft.agge_t")
  }

  test("TRUNCATE TABLE is a metadata-only empty commit; time travel " +
      "to the pre-truncate version survives") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.trunc_t")
    spark.sql("CREATE TABLE graft.trunc_t (k BIGINT)")
    spark.sql("INSERT INTO graft.trunc_t SELECT id FROM range(7)") // v0
    spark.sql("TRUNCATE TABLE graft.trunc_t") // v1
    assert(spark.table("graft.trunc_t").count() == 0)
    assert(spark.sql(
      "SELECT * FROM graft.trunc_t VERSION AS OF 0").count() == 7)
    val ops = graft.sources.GraftTableStore.history("graft.trunc_t")
      .map(_._2)
    assert(ops == Vector("append", "truncate"), s"op log: $ops")
    spark.sql("DROP TABLE graft.trunc_t")
  }

  test("table_history reads the commit log: operation kinds + row " +
      "counts per version") {
    val rows = SparkEntry.queries("table_history")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._2).toSeq ==
      Seq("append", "delta", "delta", "append"),
      s"operation log wrong: ${rows.mkString(", ")}")
    // v1 (MoR DELETE) must shrink the count; v3 (INSERT) must grow it
    assert(rows(1)._3 < rows(0)._3 && rows(3)._3 > rows(2)._3,
      s"row counts inconsistent with the statements: ${rows.mkString(", ")}")
  }

  test("plain-append writer REJECTS a one-wider row; replace path skips " +
      "the operation column") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    // a [op, k, v] row as the ReplaceData quirk delivers it
    val wide = UnsafeProjection.create(
      Array[DataType](IntegerType, LongType, DoubleType))(
      InternalRow(1, 7L, 2.5))
    val append = GraftWriterFactory(schema, schema, replace = false)
      .createWriter(0, 0L)
    val ex = intercept[IllegalStateException] { append.write(wide) }
    assert(ex.getMessage.contains("unknown"), ex.getMessage)
    val replace = GraftWriterFactory(schema, schema, replace = true)
      .createWriter(0, 0L)
    replace.write(wide)
    val out = replace.commit()
      .asInstanceOf[graft.sources.GraftRowsMessage].rows
    assert(out.length == 1 && out(0).getLong(0) == 7L &&
      out(0).getDouble(1) == 2.5)
  }

  test("pushed string comparisons use UTF8String BINARY order: a " +
      "supplementary-plane string sorts ABOVE every BMP string") {
    freshCatalog()
    // U+1F600 (😀) is 4-byte UTF-8 (F0 9F 98 80) — binary-above the
    // 3-byte U+FFFD (EF BF BD); in UTF-16 code units its surrogates
    // (D83D DE00) sort BELOW U+FFFD, so the two orders DISAGREE on
    // exactly this pair. The pushed filter skips rows store-side
    // (data skipping), so a UTF-16 comparator would DROP the emoji
    // row before the residual could restore it.
    spark.sql("DROP TABLE IF EXISTS graft.utf8_t")
    spark.sql("CREATE TABLE graft.utf8_t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.utf8_t VALUES " +
      "(1, 'abc'), (2, '�'), (3, '😀')")
    val above = spark.table("graft.utf8_t")
      .where(col("s") > "�").collect()
    assert(above.map(_.getLong(0)).toSeq == Seq(3L),
      s"binary order puts only the emoji above U+FFFD: " +
        above.mkString(", "))
    // and the COMPLETE MIN/MAX pushdown must agree with Spark's
    // binary-collation Min/Max: max is the emoji, not U+FFFD
    val agg = spark.table("graft.utf8_t")
      .agg(org.apache.spark.sql.functions.max(col("s")))
    assert(agg.queryExecution.executedPlan.toString
      .contains("pushedAggregates="), "aggregate not pushed")
    assert(agg.collect()(0).getString(0) == "😀",
      "pushed MAX must use UTF8String binary order")
    spark.sql("DROP TABLE graft.utf8_t")
  }

  test("the change feed fails loudly on duplicate row ids instead of " +
      "silently under-reporting") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.dupid_t")
    spark.sql("CREATE TABLE graft.dupid_t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    // plain INSERT never validates uniqueness — seed a duplicate id.
    // An append's feed reads its files and cannot under-report; the
    // copy-on-write rewrite after it diffs by row id, where the
    // duplicate would collapse
    spark.sql("INSERT INTO graft.dupid_t VALUES (1, 'a'), (1, 'b')")
    spark.sql("INSERT OVERWRITE graft.dupid_t VALUES (1, 'c'), (1, 'd')")
    val ex = intercept[Exception] {
      spark.table("graft.dupid_t.changes").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("duplicate row")),
      s"expected a loud duplicate-row-id error, got: $ex")
    spark.sql("DROP TABLE graft.dupid_t")
  }

  test("a MoR delta commit persists ONLY its op log: the base snapshot " +
      "array is reference-identical afterwards; reads merge at scan time") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.morlog_t")
    spark.sql("CREATE TABLE graft.morlog_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.morlog_t " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    val base = GraftTableStore.getVersion("graft.morlog_t", 0)
    spark.sql("DELETE FROM graft.morlog_t WHERE k % 10 = 0")
    // the commit stored an op log, not a snapshot — and v0's array is
    // the SAME object, untouched by the delta commit
    assert(GraftTableStore.commitKind("graft.morlog_t", 0) == "parquet")
    assert(GraftTableStore.commitKind("graft.morlog_t", 1) == "delta")
    assert(GraftTableStore.getVersion("graft.morlog_t", 0) eq base,
      "a delta commit must not rewrite or copy the base snapshot")
    // read-time merge: current = base minus the 10 deleted rows;
    // time travel to v0 still serves the pre-delete snapshot
    assert(spark.table("graft.morlog_t").count() == 90)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.morlog_t VERSION AS OF 0")
      .collect()(0).getLong(0) == 100)
    // history reports the delta's count WITHOUT resolving (arithmetic
    // from the op log)
    val hist = GraftTableStore.history("graft.morlog_t")
    assert(hist.map(h => (h._1, h._2, h._3)) ==
      Vector((0, "append", 100), (1, "delta", 90)))
    spark.sql("DROP TABLE graft.morlog_t")
  }

  test("mixed full/delta history resolves at every version: append and " +
      "update stack on the op-log chain, counts exact") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.morchain_t")
    spark.sql("CREATE TABLE graft.morchain_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.morchain_t " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(50)") // v0 manifest, 50
    spark.sql("DELETE FROM graft.morchain_t WHERE k < 10") // v1 delta, 40
    spark.sql("INSERT INTO graft.morchain_t " +
      "SELECT id + 100, -1.0 FROM range(5)") // v2 append, 45
    spark.sql("UPDATE graft.morchain_t SET v = v + 1000.0 " +
      "WHERE k >= 100") // v3 delta, 45
    // the append onto the delta head joins the op log as inserts
    assert((0 to 3).map(v =>
      GraftTableStore.commitKind("graft.morchain_t", v)) ==
      Seq("parquet", "delta", "delta", "delta"))
    assert((0 to 3).map(v => spark.sql(
      s"SELECT COUNT(*) FROM graft.morchain_t VERSION AS OF $v")
      .collect()(0).getLong(0)) == Seq(50L, 40L, 45L, 45L))
    // v3's update really applied, v2's view really doesn't see it
    assert(spark.sql("SELECT SUM(v) FROM graft.morchain_t VERSION AS " +
      "OF 3 WHERE k >= 100").collect()(0).getDouble(0) == 5 * 1000.0 - 5)
    assert(spark.sql("SELECT SUM(v) FROM graft.morchain_t VERSION AS " +
      "OF 2 WHERE k >= 100").collect()(0).getDouble(0) == -5.0)
    spark.sql("DROP TABLE graft.morchain_t")
  }

  test("OPTIMIZE compacts the delta chain: reads unchanged, 'compact' " +
      "commit stored full, idempotent when nothing to compact") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.opt_t")
    spark.sql("CREATE TABLE graft.opt_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.opt_t " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(60)")
    spark.sql("DELETE FROM graft.opt_t WHERE k % 3 = 0")
    spark.sql("UPDATE graft.opt_t SET v = -v WHERE k % 3 = 1")
    val before = spark.table("graft.opt_t").orderBy("k").collect().toSeq
    val subsumed = graft.api.GraftApi.optimizeTable(spark, "graft.opt_t")
    assert(subsumed == 2, s"expected 2 delta commits subsumed: $subsumed")
    // reads unchanged; the compacted head is a file manifest; history
    // records the maintenance op
    assert(spark.table("graft.opt_t").orderBy("k").collect().toSeq
      == before)
    val hist = GraftTableStore.history("graft.opt_t")
    assert(hist.last._2 == "compact" && hist.last._3 == 40)
    assert(GraftTableStore.commitKind("graft.opt_t", hist.last._1)
      == "parquet")
    // idempotent: a second OPTIMIZE finds no deltas and commits nothing
    val n = GraftTableStore.commitCount("graft.opt_t")
    assert(graft.api.GraftApi.optimizeTable(spark, "graft.opt_t") == 0)
    assert(GraftTableStore.commitCount("graft.opt_t") == n)
    spark.sql("DROP TABLE graft.opt_t")
  }

  test("expire_snapshots drops versions loudly with absolute numbers; " +
      "a delta at the new head is materialized before its base expires") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.vac_t")
    spark.sql("CREATE TABLE graft.vac_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.vac_t " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(30)") // v0
    spark.sql("DELETE FROM graft.vac_t WHERE k < 5") // v1 delta
    spark.sql("DELETE FROM graft.vac_t WHERE k < 10") // v2 delta
    // keep the last 2 → v0 expires; v1 (a delta whose base just
    // expired) must still resolve — checkpoint-before-expire
    assert(graft.api.GraftApi.expireSnapshots(spark, "graft.vac_t", 2)
      == 1)
    assert(GraftTableStore.commitKind("graft.vac_t", 1) == "parquet",
      "the new earliest retained version must be materialized")
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.vac_t VERSION AS OF 1")
      .collect()(0).getLong(0) == 25)
    assert(spark.table("graft.vac_t").count() == 20)
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft.vac_t VERSION AS OF 0").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("expired")), s"got: $ex")
    spark.sql("DROP TABLE graft.vac_t")
  }

  test("WAP: a branch write stages commits invisibly to main; publish " +
      "is one forward-only pointer move; dangling-branch main writes " +
      "refuse") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.wapspec_t")
    spark.sql("CREATE TABLE graft.wapspec_t (k BIGINT)")
    spark.sql("INSERT INTO graft.wapspec_t SELECT id FROM range(10)")
    graft.api.GraftApi.createBranch(spark, "graft.wapspec_t", "audit")
    spark.conf.set("graft.wap.branch", "audit")
    try spark.sql(
      "INSERT INTO graft.wapspec_t SELECT id + 100 FROM range(3)")
    finally spark.conf.unset("graft.wap.branch")
    // isolation: main still serves v0; the branch serves the staged
    // commit; history shows BOTH chain commits
    assert(spark.table("graft.wapspec_t").count() == 10)
    assert(spark.sql(
      "SELECT * FROM graft.wapspec_t VERSION AS OF 'audit'")
      .count() == 13)
    assert(GraftTableStore.history("graft.wapspec_t").length == 2)
    // a MAIN write while staged commits dangle must refuse (the chain
    // is linear — basing main on the staged head would leak the stage)
    val exDangle = intercept[Exception] {
      spark.sql("INSERT INTO graft.wapspec_t VALUES (999)")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(exDangle).exists(_.contains("unpublished branch")),
      s"got: $exDangle")
    // publish: atomic fast-forward; main sees the staged rows
    assert(graft.api.GraftApi.publishBranch(spark,
      "graft.wapspec_t", "audit") == 1)
    assert(spark.table("graft.wapspec_t").count() == 13)
    // forward-only: a ref behind main refuses to publish
    val exBack = intercept[Exception] {
      graft.sources.GraftTableStore.fastForward("graft.wapspec_t",
        "audit") // audit == main now, ok — so pin with a v0 tag instead
      graft.api.GraftApi.createTag(spark, "graft.wapspec_t", "seed")
      graft.sources.GraftTableStore.createRef("graft.wapspec_t",
        "old", isTag = true, at = Some(0))
      graft.sources.GraftTableStore.fastForward("graft.wapspec_t", "old")
    }
    assert(msgs(exBack).exists(_.contains("forward-only")), s"$exBack")
    spark.sql("DROP TABLE graft.wapspec_t")
  }

  test("tags are immutable refs: readable via VERSION AS OF, never " +
      "writable; unknown refs fail descriptively") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.tagspec_t")
    spark.sql("CREATE TABLE graft.tagspec_t (k BIGINT)")
    spark.sql("INSERT INTO graft.tagspec_t SELECT id FROM range(5)")
    graft.api.GraftApi.createTag(spark, "graft.tagspec_t", "release")
    spark.sql("INSERT INTO graft.tagspec_t VALUES (99)")
    // the tag still reads the version it pinned
    assert(spark.sql(
      "SELECT * FROM graft.tagspec_t VERSION AS OF 'release'")
      .count() == 5)
    assert(spark.table("graft.tagspec_t").count() == 6)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // a WAP write targeting the tag refuses
    spark.conf.set("graft.wap.branch", "release")
    val exTag = intercept[Exception] {
      try spark.sql("INSERT INTO graft.tagspec_t VALUES (100)")
      finally spark.conf.unset("graft.wap.branch")
    }
    assert(msgs(exTag).exists(_.contains("immutable")), s"$exTag")
    // unknown ref: descriptive, mentions both travel forms
    val exRef = intercept[Exception] {
      spark.sql("SELECT * FROM graft.tagspec_t VERSION AS OF 'nope'")
        .collect()
    }
    assert(msgs(exRef).exists(m => m.contains("branch/tag") &&
      m.contains("TIMESTAMP AS OF")), s"$exRef")
    spark.sql("DROP TABLE graft.tagspec_t")
  }

  test("streaming and the change feed serve PUBLISHED commits only " +
      "while a WAP branch is staged") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.wapfeed_t")
    spark.sql("CREATE TABLE graft.wapfeed_t (k BIGINT) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.wapfeed_t VALUES (1), (2)") // v0
    graft.api.GraftApi.createBranch(spark, "graft.wapfeed_t", "audit")
    spark.conf.set("graft.wap.branch", "audit")
    try spark.sql("INSERT INTO graft.wapfeed_t VALUES (3)") // staged v1
    finally spark.conf.unset("graft.wap.branch")
    // the batch change feed stops at main (v0's inserts only)
    assert(spark.table("graft.wapfeed_t.changes")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    graft.api.GraftApi.publishBranch(spark, "graft.wapfeed_t", "audit")
    assert(spark.table("graft.wapfeed_t.changes")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    spark.sql("DROP TABLE graft.wapfeed_t")
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source-only column " +
      "before planning: untouched rows read NULL, matched/inserted " +
      "rows carry their source values, plain MERGE still refuses") {
    freshCatalog()
    SparkEntry.queries("merge_into_evolve")(spark, sf).collect()
    val sch = spark.table("graft.evolve_target").schema
    assert(sch.fieldNames.toSeq ==
      Seq("c_custkey", "c_name", "c_acctbal", "segment"))
    // untouched rows (matched by nothing) must read NULL segment
    val untouched = spark.table("graft.evolve_target")
      .where(org.apache.spark.sql.functions.expr(
        "c_custkey % 3 != 0 AND c_custkey < 9000000"))
    assert(untouched.where(col("segment").isNotNull).count() == 0)
    // inserted rows carry 'new'
    assert(spark.table("graft.evolve_target")
      .where(col("c_custkey") >= 9000000L)
      .where(col("segment") =!= "new").count() == 0)
    // WITHOUT the clause, the same statement must fail to resolve
    val ex = intercept[Exception] {
      spark.sql("""MERGE INTO graft.evolve_target t
                  |USING evo_src s ON t.c_custkey = s.c_custkey
                  |WHEN NOT MATCHED THEN
                  |  INSERT (c_custkey, c_name, c_acctbal, segment,
                  |    missing_col)
                  |  VALUES (s.c_custkey, s.c_name, s.c_acctbal,
                  |    s.segment, 1)""".stripMargin)
    }
    assert(ex.getMessage.toLowerCase.contains("missing_col"),
      ex.getMessage)
    spark.sql("DROP TABLE graft.evolve_target")
  }

  test("COPY INTO ledger: unchanged dir is a no-op, DROP clears the " +
      "ledger, and the ledger is per-table") {
    freshCatalog()
    SparkEntry.queries("pipeline_copy_into")(spark, sf).collect()
    val total = spark.table("graft.ci_orders").count()
    // table holds each source row exactly once
    assert(spark.table("graft.ci_orders")
      .groupBy("o_orderkey").count()
      .where(col("count") > 1).count() == 0, "double-loaded rows")
    assert(total > 0)
    // DROP clears the ledger: recreating reloads from scratch
    spark.sql("DROP TABLE graft.ci_orders")
    assert(GraftTableStore.ingestedFor("graft.ci_orders").isEmpty,
      "DROP must clear the ingest ledger")
  }

  // ---- SQL views on the governed catalog (round 11) -----------------

  test("catalog views: full SQL lifecycle through the extension-wired " +
      "sibling session — create, read, replace, IF NOT EXISTS, " +
      "duplicate and table-shadow refusals, drop") {
    freshCatalog()
    val s = GraftExtensions.sessionWithViews(spark)
    s.sql("DROP TABLE IF EXISTS graft.cvw_t")
    s.sql("CREATE TABLE graft.cvw_t (k BIGINT, v DOUBLE)")
    s.sql("INSERT INTO graft.cvw_t SELECT id, id * 0.5 FROM range(20)")
    s.sql("DROP VIEW IF EXISTS graft.cvw_v")
    s.sql("CREATE VIEW graft.cvw_v AS " +
      "SELECT k, v FROM graft.cvw_t WHERE k >= 10")
    assert(s.table("graft.cvw_v").count() == 10)
    // a view is stored TEXT: replace swaps the definition atomically
    s.sql("CREATE OR REPLACE VIEW graft.cvw_v AS " +
      "SELECT k FROM graft.cvw_t WHERE k >= 15")
    assert(s.table("graft.cvw_v").columns.toSeq == Seq("k"))
    assert(s.table("graft.cvw_v").count() == 5)
    // duplicate refusals: plain CREATE refuses, IF NOT EXISTS no-ops
    val exDup = intercept[Exception] {
      s.sql("CREATE VIEW graft.cvw_v AS SELECT 1 AS one")
    }
    assert(exDup.getMessage.toLowerCase.contains("already exists"),
      exDup.getMessage)
    s.sql("CREATE VIEW IF NOT EXISTS graft.cvw_v AS SELECT 1 AS one")
    assert(s.table("graft.cvw_v").count() == 5,
      "IF NOT EXISTS must keep the existing definition")
    // a view may not shadow a governed table — one namespace of names
    val exShadow = intercept[Exception] {
      s.sql("CREATE VIEW graft.cvw_t AS SELECT 1 AS one")
    }
    assert(exShadow.getMessage.contains("a table with that name"),
      exShadow.getMessage)
    // SHOW VIEWS lists it; DROP removes it; re-DROP refuses without
    // IF EXISTS
    val listed = s.sql("SHOW VIEWS IN graft")
      .collect().map(_.getString(1)).toSet
    assert(listed.contains("cvw_v"), listed.toString)
    s.sql("DROP VIEW graft.cvw_v")
    val exGone = intercept[Exception] { s.sql("DROP VIEW graft.cvw_v") }
    assert(exGone.getMessage.contains("cvw_v"), exGone.getMessage)
    s.sql("DROP VIEW IF EXISTS graft.cvw_v") // no-op, no throw
    s.sql("DROP TABLE graft.cvw_t")
  }

  test("catalog views: ALTER VIEW properties and RENAME through the " +
      "connector API; rename refuses an occupied name") {
    freshCatalog()
    val s = GraftExtensions.sessionWithViews(spark)
    s.sql("DROP TABLE IF EXISTS graft.cvw2_t")
    s.sql("CREATE TABLE graft.cvw2_t (k BIGINT)")
    s.sql("INSERT INTO graft.cvw2_t SELECT id FROM range(5)")
    s.sql("DROP VIEW IF EXISTS graft.cvw2_v")
    s.sql("DROP VIEW IF EXISTS graft.cvw2_w")
    s.sql("CREATE VIEW graft.cvw2_v AS SELECT k FROM graft.cvw2_t")
    val vc = org.apache.spark.sql.graftbridge.GraftViews
      .viewCatalogOf(s, Seq("graft", "x")).get
    val ident = Identifier.of(Array.empty, "cvw2_v")
    import org.apache.spark.sql.connector.catalog.ViewChange
    vc.alterView(ident, ViewChange.setProperty("owner", "graft"),
      ViewChange.setProperty("comment", "test view"))
    assert(vc.loadView(ident).properties().get("owner") == "graft")
    vc.alterView(ident, ViewChange.removeProperty("comment"))
    assert(!vc.loadView(ident).properties().containsKey("comment"))
    // rename moves the definition; reading the old name fails loudly
    vc.renameView(ident, Identifier.of(Array.empty, "cvw2_w"))
    assert(s.table("graft.cvw2_w").count() == 5)
    val exOld = intercept[Exception] { s.table("graft.cvw2_v").count() }
    assert(exOld.getMessage.contains("cvw2_v"), exOld.getMessage)
    // rename onto a TABLE name refuses
    val exOnto = intercept[Exception] {
      vc.renameView(Identifier.of(Array.empty, "cvw2_w"),
        Identifier.of(Array.empty, "cvw2_t"))
    }
    assert(exOnto.getMessage.contains("a table with that name"),
      exOnto.getMessage)
    // writes must target tables: a view is a stored query, not storage
    val exIns = intercept[Exception] {
      s.sql("INSERT INTO graft.cvw2_w VALUES (99)")
    }
    assert(exIns.getMessage.contains("is a VIEW"), exIns.getMessage)
    val exDel = intercept[Exception] {
      s.sql("DELETE FROM graft.cvw2_w WHERE k = 1")
    }
    assert(exDel.getMessage.contains("is a VIEW"), exDel.getMessage)
    // ALTER VIEW ... AS swaps the stored text; an unknown view refuses
    s.sql("ALTER VIEW graft.cvw2_w AS SELECT k FROM graft.cvw2_t " +
      "WHERE k >= 3")
    assert(s.table("graft.cvw2_w").count() == 2)
    val exAlter = intercept[Exception] {
      s.sql("ALTER VIEW graft.cvw2_nope AS SELECT 1 AS one")
    }
    assert(exAlter.getMessage.contains("cvw2_nope"), exAlter.getMessage)
    // DESCRIBE PROCEDURE rides Spark's own command over loadProcedure
    val desc = s.sql("DESCRIBE PROCEDURE graft.system.optimize")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("optimize"), desc)
    s.sql("DROP VIEW graft.cvw2_w")
    s.sql("DROP TABLE graft.cvw2_t")
  }

  // ---- system procedures (round 11) ----------------------------------

  test("CALL procedures: purge_deletes drives the DV rewrite, restore " +
      "rolls back, fast_forward publishes a WAP branch — same " +
      "semantics as the API verbs; unknown names and namespaces " +
      "refuse loudly") {
    freshCatalog()
    // purge_deletes over a dv table — the SQL route to the DV rewrite
    spark.sql("DROP TABLE IF EXISTS graft.proc_dv")
    spark.sql("CREATE TABLE graft.proc_dv (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.delete.mode'='dv')")
    spark.range(100).selectExpr("id AS k", "id * 1.0 AS v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .writeTo("graft.proc_dv").append()
    spark.sql("DELETE FROM graft.proc_dv WHERE k >= 37 AND k <= 41")
    val purged = spark.sql(
      "CALL graft.system.purge_deletes('proc_dv')")
      .collect()(0).getInt(0)
    assert(purged >= 1, s"the DV'd file(s) must rewrite, got $purged")
    assert(spark.table("graft.proc_dv").count() == 95)
    // restore: CALL rolls the table back; history preserved
    spark.sql("INSERT INTO graft.proc_dv SELECT id + 1000, -1.0 " +
      "FROM range(10)")
    val head = spark.sql("CALL graft.system.restore('proc_dv', " +
      s"${GraftTableStore.commitCount("graft.proc_dv") - 2})")
      .collect()(0).getInt(0)
    assert(head == GraftTableStore.commitCount("graft.proc_dv") - 1)
    assert(spark.table("graft.proc_dv").count() == 95,
      "restore must serve the pre-append content")
    // WAP via procedures: branch, staged write, publish
    spark.sql("CALL graft.system.create_branch('proc_dv', 'stage')")
    spark.conf.set("graft.wap.branch", "stage")
    try spark.sql("INSERT INTO graft.proc_dv SELECT id + 5000, 2.0 " +
      "FROM range(7)")
    finally spark.conf.unset("graft.wap.branch")
    assert(spark.table("graft.proc_dv").count() == 95,
      "staged commits must stay invisible until publish")
    spark.sql("CALL graft.system.fast_forward('proc_dv', 'stage')")
    assert(spark.table("graft.proc_dv").count() == 102)
    // guards
    val exName = intercept[Exception] {
      spark.sql("CALL graft.system.no_such_proc('x')")
    }
    // Spark wraps loadProcedure failures as FAILED_TO_LOAD_ROUTINE
    assert(exName.getMessage.contains("no_such_proc"),
      exName.getMessage)
    val exNs = intercept[Exception] {
      spark.sql("CALL graft.maintenance.optimize('proc_dv')")
    }
    assert(exNs.getMessage.contains("maintenance"), exNs.getMessage)
    spark.sql("DROP TABLE graft.proc_dv")
  }

  test("WAP safety for snapshot-rewriting deletes: the DV metadata " +
      "path declines while a branch is staged (staged rows survive), " +
      "and a copy-on-write rewrite refuses loudly instead of " +
      "committing a MAIN-derived snapshot onto the branch") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.wapdv_t")
    spark.sql("CREATE TABLE graft.wapdv_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.delete.mode'='dv')")
    spark.range(20).selectExpr("id AS k", "id * 1.0 AS v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .writeTo("graft.wapdv_t").append()
    graft.api.GraftApi.createBranch(spark, "graft.wapdv_t", "stage")
    spark.conf.set("graft.wap.branch", "stage")
    try {
      spark.sql("INSERT INTO graft.wapdv_t SELECT id + 100, 9.0 " +
        "FROM range(3)") // staged on the branch
      // pushable DELETE: the DV path must NOT claim it here — a DV
      // manifest computed from main would drop the staged rows. The
      // CoW fallback refuses loudly (its scan reads main).
      val ex = intercept[Exception] {
        spark.sql("DELETE FROM graft.wapdv_t WHERE k >= 15")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("graft.wap.branch")), s"$ex")
    } finally spark.conf.unset("graft.wap.branch")
    // nothing was lost: the staged rows publish intact, main's rows
    // untouched by the refused delete
    graft.api.GraftApi.publishBranch(spark, "graft.wapdv_t", "stage")
    assert(spark.table("graft.wapdv_t").count() == 23)
    // with the branch published, the DV path works again
    spark.sql("DELETE FROM graft.wapdv_t WHERE k >= 15 AND k <= 19")
    val ops = spark.table("graft.wapdv_t.history")
      .collect().map(r => r.getString(1))
    assert(ops.contains("delete-dv"), ops.mkString(","))
    assert(spark.table("graft.wapdv_t").count() == 18)
    spark.sql("DROP TABLE graft.wapdv_t")
  }

  test("RELY join elimination: fires only under the full contract — " +
      "dimension column used, filtered dimension, or a constraint " +
      "WITHOUT RELY all keep the join; results match the real join") {
    freshCatalog()
    val s = GraftExtensions.sessionWithViews(spark)
    s.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)
    s.sql("DROP TABLE IF EXISTS graft.jes_fact")
    s.sql("DROP TABLE IF EXISTS graft.jes_dim")
    s.sql("DROP TABLE IF EXISTS graft.jes_dim_norely")
    s.sql("CREATE TABLE graft.jes_dim (k BIGINT, nm STRING)")
    s.sql("INSERT INTO graft.jes_dim SELECT id, concat('d', id) " +
      "FROM range(10)")
    s.sql("ALTER TABLE graft.jes_dim ADD CONSTRAINT pk " +
      "PRIMARY KEY (k) NOT ENFORCED RELY")
    s.sql("CREATE TABLE graft.jes_dim_norely (k BIGINT, nm STRING)")
    s.sql("INSERT INTO graft.jes_dim_norely SELECT id, 'x' " +
      "FROM range(10)")
    s.sql("ALTER TABLE graft.jes_dim_norely ADD CONSTRAINT pk2 " +
      "PRIMARY KEY (k) NOT ENFORCED") // stored, NOT relied upon
    s.sql("CREATE TABLE graft.jes_fact (ok BIGINT, k BIGINT, " +
      "v DOUBLE)")
    s.sql("INSERT INTO graft.jes_fact SELECT id, id % 10, id * 1.0 " +
      "FROM range(200)")
    s.sql("ALTER TABLE graft.jes_fact ADD CONSTRAINT fk " +
      "FOREIGN KEY (k) REFERENCES graft.jes_dim (k) " +
      "NOT ENFORCED RELY")
    s.sql("ALTER TABLE graft.jes_fact ADD CONSTRAINT fk2 " +
      "FOREIGN KEY (k) REFERENCES graft.jes_dim_norely (k) " +
      "NOT ENFORCED RELY")
    def joinPlan(sql: String): (Boolean, Long) = {
      val q = s.sql(sql)
      (q.queryExecution.optimizedPlan.toString.contains("Join"),
        q.count())
    }
    // the eliminable shape: no dimension column used
    val (j1, n1) = joinPlan("SELECT f.k, COUNT(*) AS n FROM " +
      "graft.jes_fact f JOIN graft.jes_dim d ON f.k = d.k GROUP BY f.k")
    assert(!j1 && n1 == 10, s"eliminable join survived: join=$j1 n=$n1")
    // control 1: a dimension column in the output keeps the join
    val (j2, _) = joinPlan("SELECT f.k, d.nm FROM graft.jes_fact f " +
      "JOIN graft.jes_dim d ON f.k = d.k")
    assert(j2, "dimension column used — the join must stay")
    // control 2: a filtered dimension keeps the join (it may drop rows)
    val (j3, n3) = joinPlan("SELECT f.k, COUNT(*) AS n FROM " +
      "graft.jes_fact f JOIN (SELECT k FROM graft.jes_dim " +
      "WHERE k >= 5) d ON f.k = d.k GROUP BY f.k")
    assert(j3 && n3 == 5, s"filtered dimension: join=$j3 n=$n3")
    // control 3: PRIMARY KEY without RELY is stored but never spent
    val (j4, _) = joinPlan("SELECT f.k, COUNT(*) AS n FROM " +
      "graft.jes_fact f JOIN graft.jes_dim_norely d ON f.k = d.k " +
      "GROUP BY f.k")
    assert(j4, "constraint without RELY must not eliminate")
    // elimination result == real-join result, row for row
    val a = s.sql("SELECT f.k, COUNT(*) AS n, SUM(f.v) AS sv FROM " +
      "graft.jes_fact f JOIN graft.jes_dim d ON f.k = d.k " +
      "GROUP BY f.k ORDER BY f.k").collect().map(_.toString).toSeq
    val b = s.sql("SELECT f.k, COUNT(*) AS n, SUM(f.v) AS sv FROM " +
      "graft.jes_fact f JOIN graft.jes_dim_norely d ON f.k = d.k " +
      "GROUP BY f.k ORDER BY f.k").collect().map(_.toString).toSeq
    assert(a == b, "eliminated and real join must agree")
    s.sql("DROP TABLE graft.jes_fact")
    s.sql("DROP TABLE graft.jes_dim")
    s.sql("DROP TABLE graft.jes_dim_norely")
  }

  test("RELY FK elimination matches the FULL referenced identifier: " +
      "a same-named dimension in ANOTHER namespace never eliminates") {
    freshCatalog()
    val s = GraftExtensions.sessionWithViews(spark)
    s.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)
    Seq("graft.nsa.dim", "graft.nsb.dim", "graft.nsfk_fact")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    // two dims with the SAME trailing name, both PK RELY
    for (ns <- Seq("nsa", "nsb")) {
      s.sql(s"CREATE TABLE graft.$ns.dim (k BIGINT, nm STRING)")
      s.sql(s"INSERT INTO graft.$ns.dim SELECT id, 'd' FROM range(10)")
      s.sql(s"ALTER TABLE graft.$ns.dim ADD CONSTRAINT pk_$ns " +
        "PRIMARY KEY (k) NOT ENFORCED RELY")
    }
    s.sql("CREATE TABLE graft.nsfk_fact (k BIGINT)")
    s.sql("INSERT INTO graft.nsfk_fact SELECT id % 10 FROM range(50)")
    // the FK references nsb.dim ONLY
    s.sql("ALTER TABLE graft.nsfk_fact ADD CONSTRAINT fk_ns " +
      "FOREIGN KEY (k) REFERENCES graft.nsb.dim (k) " +
      "NOT ENFORCED RELY")
    def hasJoin(dim: String): Boolean =
      s.sql("SELECT f.k, COUNT(*) AS n FROM graft.nsfk_fact f " +
        s"JOIN $dim d ON f.k = d.k GROUP BY f.k")
        .queryExecution.optimizedPlan.toString.contains("Join")
    // joining the WRONG same-named dim must keep the join (the FK
    // guarantees membership in nsb.dim, not nsa.dim)
    assert(hasJoin("graft.nsa.dim"),
      "FK to nsb.dim must not eliminate a join against nsa.dim")
    // the real referenced dim eliminates
    assert(!hasJoin("graft.nsb.dim"),
      "FK to nsb.dim should eliminate the join against nsb.dim")
    Seq("graft.nsa.dim", "graft.nsb.dim", "graft.nsfk_fact")
      .foreach(t => s.sql(s"DROP TABLE $t"))
  }

  test("catalog views resolve under their STORED definition context: " +
      "an unqualified base table binds to the definer's catalog, " +
      "not the reader's") {
    freshCatalog()
    val s = GraftExtensions.sessionWithViews(spark)
    s.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)
    s.sql("DROP TABLE IF EXISTS graft.vctx_t")
    s.sql("CREATE TABLE graft.vctx_t (k BIGINT)")
    s.sql("INSERT INTO graft.vctx_t VALUES (100), (200)")
    try {
      // define the view with the GRAFT catalog current and an
      // UNQUALIFIED base-table name — the stored context is graft
      s.sql("USE graft")
      s.sql("CREATE OR REPLACE VIEW graft.vctx_v AS " +
        "SELECT sum(k) AS sk FROM vctx_t")
    } finally s.sql("USE spark_catalog")
    // the reader's context now has a SAME-NAMED table with different
    // data — the view must NOT see it
    s.sql("DROP TABLE IF EXISTS vctx_t")
    s.sql("CREATE TABLE vctx_t (k BIGINT) USING parquet")
    s.sql("INSERT INTO vctx_t VALUES (1), (2)")
    try {
      val got = s.sql("SELECT sk FROM graft.vctx_v")
        .collect()(0).getLong(0)
      assert(got == 300L,
        s"view must read the definer's graft.vctx_t (300), got $got")
      // a CTE name inside the body must NOT be qualified away
      s.sql("USE graft")
      s.sql("CREATE OR REPLACE VIEW graft.vctx_cte AS " +
        "WITH vctx_t AS (SELECT 7 AS k) SELECT sum(k) AS sk FROM vctx_t")
      s.sql("USE spark_catalog")
      assert(s.sql("SELECT sk FROM graft.vctx_cte")
        .collect()(0).getLong(0) == 7L,
        "a CTE shadowing a table name must stay a CTE reference")
    } finally {
      s.sql("USE spark_catalog")
      s.sql("DROP TABLE IF EXISTS vctx_t")
      s.sql("DROP VIEW IF EXISTS graft.vctx_v")
      s.sql("DROP VIEW IF EXISTS graft.vctx_cte")
      s.sql("DROP TABLE graft.vctx_t")
    }
  }

  test("a data column named _file SHADOWS the metadata column: no " +
      "duplicate field in readSchema, data values served") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.shadow_t")
    spark.sql("CREATE TABLE graft.shadow_t (k BIGINT, _file STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.shadow_t VALUES (1, 'a'), (2, 'b')")
    val rows = spark.sql(
      "SELECT _file FROM graft.shadow_t ORDER BY _file")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("a", "b"),
      s"_file must resolve to the DATA column, got $rows")
    // _pos (no conflict) still serves as a metadata column
    assert(spark.sql("SELECT _pos FROM graft.shadow_t").count() == 2)
    spark.sql("DROP TABLE graft.shadow_t")
  }

  test("epoch ledger stays bounded: reset evicts a table's entries") {
    val name = "graft.epoch_evict_t"
    GraftTableStore.reset(name)
    val before = GraftTableStore.epochLedgerSize
    (0 until 8).foreach(i =>
      GraftTableStore.markEpoch(name, s"q$i", 0L))
    assert(GraftTableStore.epochLedgerSize == before + 8)
    GraftTableStore.reset(name)
    assert(GraftTableStore.epochLedgerSize == before,
      "reset must evict the table's epoch entries")
  }

  // ---- DURABLE TRANSACTION LOG (round 12): a simulated process
  // restart — EVERY byte of in-memory state for the table evicted,
  // the warehouse directory the only survivor — must rebuild the
  // full governed state from `_graft_log` on first catalog touch.

  test("durable log: restart rebuilds a parquet table — rows, " +
      "history, time travel, refs, DV deletes, manifest identity") {
    freshCatalog()
    val t = "graft.dur_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, v DOUBLE) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.delete.mode'='dv', 'graft.bloom.columns'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, CASE WHEN id % 2 = 0 " +
      "THEN 'a' ELSE 'b' END, id * 1.5 FROM range(200)") // v0
    spark.sql(s"INSERT INTO $t SELECT id + 1000, 'a', -0.0 " +
      "FROM range(50)") // v1 (append shares v0's files; -0.0 survives)
    spark.sql(s"DELETE FROM $t WHERE k < 20") // v2: DV commit
    graft.api.GraftApi.createTag(spark, t, "t0")
    graft.api.GraftApi.createBranch(spark, t, "dev")
    val before = spark.table(t).collect().map(_.toString).sorted.toSeq
    val hist = GraftTableStore.history(t)
    val refs = GraftTableStore.refs(t)
    val manifests = (0 to 2).map(GraftTableStore.commitFiles(t, _))
    val v0count = spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 0")
      .collect()(0).getLong(0)

    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(GraftTableStore.commitCount(t) == 0, "eviction incomplete")

    // first catalog touch replays the log
    val after = spark.table(t).collect().map(_.toString).sorted.toSeq
    assert(after == before, "replayed rows differ")
    assert(GraftTableStore.history(t) == hist, "history differs")
    assert(GraftTableStore.refs(t) == refs, "refs differ")
    (0 to 2).foreach { v =>
      assert(GraftTableStore.commitFiles(t, v).map(_.path) ==
        manifests(v).map(_.path), s"manifest of v$v differs")
    }
    // DV bitmaps round-tripped byte-exact: the v2 manifest carries
    // the same deleted cardinality and the same live count
    assert(GraftTableStore.commitFiles(t, 2)
      .flatMap(_.dv).map(_.card).sum ==
      manifests(2).flatMap(_.dv).map(_.card).sum, "DV cardinality")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 0")
      .collect()(0).getLong(0) == v0count, "time travel differs")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 't0'")
      .collect()(0).getLong(0) == after.length.toLong, "tag differs")
    // (no -0.0 probe: Spark's UnsafeWriter normalizes -0.0 to +0.0 at
    // write time, so no stored row can carry it; the codec still
    // round-trips specials via the java toString path, and the full
    // row-for-row equality above covers value fidelity)
    // and the replayed table keeps COMMITTING: the log picks up where
    // it left off (no seq collision with replayed entries)
    spark.sql(s"INSERT INTO $t SELECT id + 5000, 'b', 2.0 FROM range(5)")
    assert(spark.table(t).count() == after.length + 5L)
    spark.sql(s"DROP TABLE $t")
  }

  test("durable log: MoR op logs replay as DELTA commits; schema " +
      "evolution, defaults and constraints survive restart") {
    freshCatalog()
    val t = "graft.dur_mor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, 'x' FROM range(100)") // v0
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 0") // v1: delta op log
    spark.sql(s"UPDATE $t SET s = 'y' WHERE k % 7 = 0") // v2: delta
    spark.sql(s"ALTER TABLE $t ADD COLUMN r STRING DEFAULT 'd'")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN s TO s2")
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT pos CHECK (k >= 0)")
    val before = spark.table(t).collect().map(_.toString).sorted.toSeq
    val consBefore = GraftMergeCatalog.constraintsOf(t).map(_.toDDL).toSeq

    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    val after = spark.table(t).collect().map(_.toString).sorted.toSeq
    assert(after == before, "replayed MoR rows differ")
    // the op-log commits replayed AS op logs, not materialized
    assert(GraftTableStore.commitKind(t, 1) == "delta")
    assert(GraftTableStore.commitKind(t, 2) == "delta")
    // pre-ADD rows still read the exists-default through the rename
    assert(spark.table(t).where(col("r") === "d").count() ==
      before.length.toLong)
    assert(GraftMergeCatalog.constraintsOf(t).map(_.toDDL).toSeq ==
      consBefore, "constraints differ")
    // the replayed CHECK constraint still REJECTS violating writes
    intercept[Throwable] {
      spark.sql(s"INSERT INTO $t VALUES (-1, 'z', 'w')")
    }
    // and MoR row-level ops still work on the replayed table
    spark.sql(s"DELETE FROM $t WHERE k = 1")
    assert(spark.table(t).count() == before.length - 1L)
    spark.sql(s"DROP TABLE $t")
  }

  test("durable log: views survive restart; COPY INTO ledger rides " +
      "the commit (replayed re-run is a no-op); identity resumes " +
      "from the logged high-water mark") {
    freshCatalog()
    val s = GraftExtensions.sessionWithViews(spark)
    val t = "graft.dur_cpy"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    // landing dir with two parquet files
    val landing = java.nio.file.Files
      .createTempDirectory("dur-landing-").toFile.getAbsolutePath
    spark.range(10).selectExpr("id", "id * 2.0 AS v")
      .coalesce(1).write.mode("overwrite").parquet(s"$landing/b1")
    val (f1, r1) = graft.api.GraftApi.copyInto(spark, t, landing)
    assert(f1 >= 1 && r1 == 10L)
    // a view over the governed table
    s.sql("DROP VIEW IF EXISTS graft.dur_view")
    s.sql(s"CREATE VIEW graft.dur_view AS SELECT COUNT(*) AS n FROM $t")
    assert(s.table("graft.dur_view").collect()(0).getLong(0) == 10L)
    // identity table
    spark.sql("DROP TABLE IF EXISTS graft.dur_idt")
    spark.sql("CREATE TABLE graft.dur_idt (id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY, v DOUBLE) TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.dur_idt (v) VALUES (1.0), (2.0)")

    graft.sources.GraftLog.simulateProcessRestart(
      Seq(t, "graft.dur_idt"), alsoViews = true)

    // ledger replayed: the same landing dir re-runs as a NO-OP —
    // exactly-once, the ledger rode the commit entry
    val (f2, r2) = graft.api.GraftApi.copyInto(spark, t, landing)
    assert(f2 == 0 && r2 == 0L,
      s"replayed ledger must make the re-run a no-op, got ($f2, $r2)")
    // new files still load incrementally
    spark.range(5).selectExpr("id + 100 AS id", "id * 3.0 AS v")
      .coalesce(1).write.mode("overwrite").parquet(s"$landing/b2")
    val (f3, r3) = graft.api.GraftApi.copyInto(spark, t, landing)
    assert(f3 >= 1 && r3 == 5L)
    assert(spark.table(t).count() == 15L)
    // the view replays from its sidecar
    assert(s.table("graft.dur_view").collect()(0).getLong(0) == 15L)
    // identity: next insert continues ABOVE the logged high-water
    // mark — no id collision after restart
    spark.sql("INSERT INTO graft.dur_idt (v) VALUES (3.0)")
    val ids = spark.table("graft.dur_idt").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == ids.distinct && ids.max > 2L,
      s"identity collided after restart: $ids")
    s.sql("DROP VIEW graft.dur_view")
    spark.sql(s"DROP TABLE $t")
    spark.sql("DROP TABLE graft.dur_idt")
  }

  test("durable log: retention trim writes a CHECKPOINT and GCs the " +
      "entries it subsumes — replay from the checkpoint is exact and " +
      "expired versions still refuse loudly") {
    freshCatalog()
    val t = "graft.dur_cp"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    (0 until 5).foreach { i =>
      spark.sql(s"INSERT INTO $t SELECT id + ${i * 10} FROM range(10)")
    }
    graft.api.GraftApi.expireSnapshots(spark, t, keep = 2)
    val logDir = new java.io.File(
      graft.sources.GraftWarehouse.tableDir(t), "_graft_log")
    val names = logDir.listFiles().map(_.getName).sorted.toSeq
    assert(names.exists(_.endsWith(".cp.json")),
      s"expected a checkpoint after the trim, got $names")
    val cpSeq = names.filter(_.endsWith(".cp.json"))
      .map(_.stripSuffix(".cp.json").toLong).max
    assert(!names.exists(n => n.endsWith(".json") &&
      !n.endsWith(".cp.json") &&
      n.stripSuffix(".json").toLong < cpSeq),
      s"entries below the checkpoint must be GC'd: $names")
    val before = spark.table(t).collect().map(_.toString).sorted.toSeq
    val hist = GraftTableStore.history(t)
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).collect().map(_.toString).sorted.toSeq ==
      before, "checkpoint replay differs")
    assert(GraftTableStore.history(t) == hist)
    // versions the trim expired stay loudly expired after replay
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 0").collect()
    }
    assert(err.getMessage.contains("expired") ||
      err.getMessage.contains("not retained"), err.getMessage)
    spark.sql(s"DROP TABLE $t")
  }

  test("cross-table transaction: a stale head refuses LOUDLY and " +
      "commits NEITHER side; a clean retry commits BOTH atomically") {
    freshCatalog()
    for (t <- Seq("graft.txs_a", "graft.txs_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
      spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range(10)")
    }
    val headsAtBegin = Map(
      "graft.txs_a" -> (GraftTableStore.commitCount("graft.txs_a") - 1),
      "graft.txs_b" -> (GraftTableStore.commitCount("graft.txs_b") - 1))
    // a CONCURRENT writer lands on table B between begin and commit
    spark.sql("INSERT INTO graft.txs_b SELECT id + 100, 2.0 " +
      "FROM range(3)")
    val dfA = spark.range(5).selectExpr("id + 1000 AS k",
      "CAST(3.0 AS DOUBLE) AS v")
    val dfB = spark.range(5).selectExpr("id + 2000 AS k",
      "CAST(4.0 AS DOUBLE) AS v")
    val ex = intercept[IllegalStateException] {
      graft.api.GraftApi.transactAppend(spark,
        Seq("graft.txs_a" -> dfA, "graft.txs_b" -> dfB),
        expectedHeads = Some(headsAtBegin))
    }
    assert(ex.getMessage.contains("transaction conflict"), ex.getMessage)
    // NEITHER side committed: counts and heads are untouched
    assert(spark.table("graft.txs_a").count() == 10,
      "a failed transaction must not commit its first table either")
    assert(spark.table("graft.txs_b").count() == 13)
    assert(GraftTableStore.commitCount("graft.txs_a") ==
      headsAtBegin("graft.txs_a") + 1)
    // retry with fresh heads: BOTH commit, one locked step, op pinned
    graft.api.GraftApi.transactAppend(spark,
      Seq("graft.txs_a" -> dfA, "graft.txs_b" -> dfB))
    assert(spark.table("graft.txs_a").count() == 15)
    assert(spark.table("graft.txs_b").count() == 18)
    for (t <- Seq("graft.txs_a", "graft.txs_b")) {
      val ops = spark.table(s"$t.history").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(ops.values.toSeq.contains("txn-append"), s"$t: $ops")
    }
    // durability: both transactional commits replay from the log
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.txs_a", "graft.txs_b"))
    assert(spark.table("graft.txs_a").count() == 15)
    assert(spark.table("graft.txs_b").count() == 18)
    spark.sql("DROP TABLE graft.txs_a")
    spark.sql("DROP TABLE graft.txs_b")
  }

  test("readTransaction: a snapshot-isolated reader racing a " +
      "transact loop NEVER observes a fact/audit mix — the version " +
      "vector is linearized against the multi-table commit") {
    freshCatalog()
    for (t <- Seq("graft.trr_f", "graft.trr_a")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
    }
    // every transact round i appends 5 fact rows AND one audit row
    // whose v records those 5 — so at EVERY committed state
    // fact.count == audit.sum(v), and any fact/audit version mix
    // breaks the equality. Round 0 seeds both (snapshotHeads requires
    // a commit to pin).
    def round(i: Int): Unit = graft.api.GraftApi.transact(spark, Seq(
      "graft.trr_f" -> graft.api.GraftApi.TxnOp.Append(
        spark.range(5).selectExpr(s"id + ${i * 100} AS k",
          "CAST(1 AS BIGINT) AS v")),
      "graft.trr_a" -> graft.api.GraftApi.TxnOp.Append(
        spark.range(1).selectExpr(s"CAST($i AS BIGINT) AS k",
          "CAST(5 AS BIGINT) AS v"))))
    round(0)
    val rounds = 8
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try (1 until rounds).foreach(round)
      catch { case t: Throwable => writerErr = Some(t) }
    })
    writer.start()
    var checks = 0
    try {
      while (writer.isAlive || checks == 0) {
        val pins = graft.api.GraftApi.readTransaction(spark,
          Seq("graft.trr_f", "graft.trr_a"))
        val nFact = graft.api.GraftApi.tableAt(spark, "graft.trr_f",
          pins("graft.trr_f")).count()
        val audit = graft.api.GraftApi.tableAt(spark, "graft.trr_a",
          pins("graft.trr_a")).agg(org.apache.spark.sql.functions
            .sum("v")).collect()(0).getLong(0)
        assert(nFact == audit,
          s"MIXED multi-table read: fact=$nFact audit-sum=$audit " +
            s"at vector $pins")
        checks += 1
      }
    } finally writer.join()
    writerErr.foreach(throw _)
    assert(checks > 0)
    // final state: all rounds landed, the invariant closes at 5*rounds
    assert(spark.table("graft.trr_f").count() == 5L * rounds)
    // a pinned vector stays exact after LATER commits land on top
    val pins = graft.api.GraftApi.readTransaction(spark,
      Seq("graft.trr_f", "graft.trr_a"))
    round(99)
    assert(graft.api.GraftApi.tableAt(spark, "graft.trr_f",
      pins("graft.trr_f")).count() == 5L * rounds,
      "a pinned read must not see commits after the capture")
    spark.sql("DROP TABLE graft.trr_f")
    spark.sql("DROP TABLE graft.trr_a")
  }

  test("cross-table transaction CRASH ATOMICITY: a crash after the " +
      "first per-table log write rolls FORWARD on the next attach — " +
      "the marker is the single durable decide point") {
    freshCatalog()
    for (t <- Seq("graft.txc_a", "graft.txc_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
      spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range(10)")
    }
    val dfA = spark.range(4).selectExpr("id + 1000 AS k",
      "CAST(3.0 AS DOUBLE) AS v")
    val dfB = spark.range(6).selectExpr("id + 2000 AS k",
      "CAST(4.0 AS DOUBLE) AS v")
    GraftTableStore.failTxnAfterFirstLogWrite = true
    try {
      val ex = intercept[IllegalStateException] {
        graft.api.GraftApi.transactAppend(spark,
          Seq("graft.txc_a" -> dfA, "graft.txc_b" -> dfB))
      }
      assert(ex.getMessage.contains("injected crash"), ex.getMessage)
    } finally GraftTableStore.failTxnAfterFirstLogWrite = false
    // the "crash": every byte of in-memory state gone; on disk, table
    // A's log entry landed, table B's did NOT — but the intent marker
    // did, so recovery must roll the transaction FORWARD
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.txc_a", "graft.txc_b"))
    assert(spark.table("graft.txc_a").count() == 14,
      "crashed transaction must roll forward on table A")
    assert(spark.table("graft.txc_b").count() == 16,
      "crashed transaction must roll forward on table B")
    // the marker retired: a second restart replays identically
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.txc_a", "graft.txc_b"))
    assert(spark.table("graft.txc_a").count() == 14)
    assert(spark.table("graft.txc_b").count() == 16)
    spark.sql("DROP TABLE graft.txc_a")
    spark.sql("DROP TABLE graft.txc_b")
  }

  test("READ-WRITE cross-table transaction: fact append + dimension " +
      "DV DELETE commit atomically — crash after the first log write " +
      "rolls BOTH forward, a concurrent commit refuses NEITHER side, " +
      "and an untranslatable predicate refuses up front") {
    freshCatalog()
    import graft.api.GraftApi
    def seed(): Unit = {
      spark.sql("DROP TABLE IF EXISTS graft.txrw_f")
      spark.sql("DROP TABLE IF EXISTS graft.txrw_d")
      spark.sql("CREATE TABLE graft.txrw_f (k BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
      spark.sql("CREATE TABLE graft.txrw_d (id BIGINT, seg STRING) " +
        "TBLPROPERTIES ('graft.store'='parquet', " +
        "'graft.delete.mode'='dv')")
      spark.sql("INSERT INTO graft.txrw_f SELECT id, id * 1.0 " +
        "FROM range(10)")
      spark.sql("INSERT INTO graft.txrw_d SELECT id, " +
        "CASE WHEN id % 3 = 0 THEN 'drop' ELSE 'keep' END " +
        "FROM range(30)")
    }
    val delta = spark.range(5).selectExpr("id + 1000 AS k",
      "CAST(2.0 AS DOUBLE) AS v")
    // --- happy path: append + delete land together
    seed()
    GraftApi.transact(spark, Seq(
      "graft.txrw_f" -> GraftApi.TxnOp.Append(delta),
      "graft.txrw_d" -> GraftApi.TxnOp.Delete("seg = 'drop'")))
    assert(spark.table("graft.txrw_f").count() == 15)
    assert(spark.table("graft.txrw_d").count() == 20)
    assert(spark.table("graft.txrw_d")
      .where("seg = 'drop'").count() == 0)
    // ops recorded distinctly: the delete side is a txn-delete
    val dimOps = spark.table("graft.txrw_d.history").collect()
      .map(_.getString(1)).toSeq
    assert(dimOps.contains("txn-delete"), dimOps)
    // durability: both replay from the log
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.txrw_f", "graft.txrw_d"))
    assert(spark.table("graft.txrw_f").count() == 15)
    assert(spark.table("graft.txrw_d").count() == 20)

    // --- crash window: first per-table entry lands, then "death" —
    // the marker rolls BOTH the append and the delete forward
    seed()
    GraftTableStore.failTxnAfterFirstLogWrite = true
    try {
      val ex = intercept[IllegalStateException] {
        GraftApi.transact(spark, Seq(
          "graft.txrw_f" -> GraftApi.TxnOp.Append(delta),
          "graft.txrw_d" -> GraftApi.TxnOp.Delete("seg = 'drop'")))
      }
      assert(ex.getMessage.contains("injected crash"), ex.getMessage)
    } finally GraftTableStore.failTxnAfterFirstLogWrite = false
    graft.sources.GraftLog.simulateProcessRestart(
      Seq("graft.txrw_f", "graft.txrw_d"))
    assert(spark.table("graft.txrw_f").count() == 15,
      "crashed RW transaction must roll the append forward")
    assert(spark.table("graft.txrw_d").count() == 20,
      "crashed RW transaction must roll the delete forward")

    // --- conflict: a commit between begin and commit refuses BOTH
    seed()
    val heads = Map(
      "graft.txrw_f" -> (GraftTableStore.commitCount("graft.txrw_f") - 1),
      "graft.txrw_d" -> (GraftTableStore.commitCount("graft.txrw_d") - 1))
    spark.sql("INSERT INTO graft.txrw_d VALUES (9999, 'keep')")
    val exC = intercept[IllegalStateException] {
      GraftApi.transact(spark, Seq(
        "graft.txrw_f" -> GraftApi.TxnOp.Append(delta),
        "graft.txrw_d" -> GraftApi.TxnOp.Delete("seg = 'drop'")),
        expectedHeads = Some(heads))
    }
    assert(exC.getMessage.contains("transaction conflict"),
      exC.getMessage)
    assert(spark.table("graft.txrw_f").count() == 10,
      "conflicted RW transaction must not append")
    assert(spark.table("graft.txrw_d")
      .where("seg = 'drop'").count() == 10,
      "conflicted RW transaction must not delete")

    // --- an untranslatable predicate refuses before anything stages
    val exP = intercept[IllegalArgumentException] {
      GraftApi.transact(spark, Seq(
        "graft.txrw_f" -> GraftApi.TxnOp.Append(delta),
        "graft.txrw_d" -> GraftApi.TxnOp.Delete("id % 7 = 1")))
    }
    assert(exP.getMessage.contains("does not translate"),
      exP.getMessage)
    spark.sql("DROP TABLE graft.txrw_f")
    spark.sql("DROP TABLE graft.txrw_d")
  }

  test("CONCURRENT commits under per-table locks: 4 writer threads x " +
      "3 tables — every commit lands exactly once, histories stay " +
      "linear, the log replays identically, and CALL " +
      "remove_orphan_files runs through the procedure surface") {
    freshCatalog()
    val tables = (0 until 3).map(i => s"graft.conc_$i")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { ti =>
      new Thread(() => {
        try {
          for (j <- 0 until 5; t <- tables)
            spark.sql(s"INSERT INTO $t SELECT id + ${ti * 100000 +
              j * 1000} FROM range(10)")
        } catch { case x: Throwable => failures.add(x); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"concurrent commit threw: ${failures.peek()}")
    tables.foreach { t =>
      assert(spark.table(t).count() == 200, s"$t lost or doubled rows")
      assert(spark.table(t).distinct().count() == 200,
        s"$t has duplicated rows")
      assert(GraftTableStore.commitCount(t) == 20,
        s"$t history not linear: ${GraftTableStore.commitCount(t)}")
    }
    // the on-disk log agrees: full restart, same state
    graft.sources.GraftLog.simulateProcessRestart(tables)
    tables.foreach(t => assert(spark.table(t).count() == 200,
      s"$t replayed differently"))
    // and the orphan sweep is CALL-able (Iceberg's remove_orphan_files)
    val swept = spark.sql(
      "CALL graft.system.remove_orphan_files('conc_0', 60000)")
      .collect()(0).getInt(0)
    assert(swept >= 0)
    assert(spark.table("graft.conc_0").count() == 200,
      "the sweep touched referenced files")
    tables.foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("PER-TABLE locking: a held commit lock on table A never stalls " +
      "a commit to table B, while same-table commits still serialize " +
      "behind it") {
    freshCatalog()
    for (t <- Seq("graft.ptl_a", "graft.ptl_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
      spark.sql(s"INSERT INTO $t SELECT id FROM range(10)")
    }
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    var tA: Thread = null
    GraftTableStore.holdingTableLock("graft.ptl_a") {
      // another table's commit proceeds while A's lock is held — the
      // no-cross-table-stall contract (the old store-global mutex
      // would deadlock this await)
      val tB = new Thread(() => {
        spark.sql("INSERT INTO graft.ptl_b SELECT id + 100 FROM range(5)")
        bDone.countDown()
      })
      tB.start()
      assert(bDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "a commit to table B stalled behind table A's held lock")
      tB.join(60000)
      // a commit to A itself must WAIT for the lock
      tA = new Thread(() => {
        spark.sql("INSERT INTO graft.ptl_a SELECT id + 100 FROM range(5)")
        aDone.set(true)
      })
      tA.start()
      tA.join(1500)
      assert(!aDone.get(),
        "a commit to table A completed while A's lock was held")
    }
    tA.join(60000)
    assert(aDone.get(), "A's commit must complete once the lock frees")
    assert(spark.table("graft.ptl_a").count() == 15)
    assert(spark.table("graft.ptl_b").count() == 15)
    Seq("graft.ptl_a", "graft.ptl_b")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("cross-PROCESS commit safety: a foreign log entry at the " +
      "expected sequence slot makes the next commit refuse LOUDLY — " +
      "for single-table commits AND cross-table transactions — and " +
      "the foreign entry is never clobbered") {
    freshCatalog()
    def logDirOf(t: String) = new java.io.File(
      graft.sources.GraftWarehouse.tableDir(t), "_graft_log")
    def maxSeq(t: String): Long = logDirOf(t).listFiles()
      .map(_.getName).flatMap(n =>
        n.stripSuffix(".cp.json").stripSuffix(".json").toLongOption).max
    def seedForeign(t: String): java.io.File = {
      val f = new java.io.File(logDirOf(t), f"${maxSeq(t) + 1}%08d.json")
      java.nio.file.Files.write(f.toPath,
        """{"a":"commit","v":99,"op":"foreign-writer"}""".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      f
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    // --- single-table commit
    spark.sql("DROP TABLE IF EXISTS graft.xp_t")
    spark.sql("CREATE TABLE graft.xp_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.xp_t SELECT id FROM range(10)")
    val foreign = seedForeign("graft.xp_t")
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO graft.xp_t SELECT id + 10 FROM range(5)")
    }
    assert(rootMsg(ex).contains("concurrent"), rootMsg(ex))
    // refused BEFORE the in-memory apply: reads are unchanged, and
    // the foreign writer's entry survives byte-for-byte
    assert(spark.table("graft.xp_t").count() == 10,
      "a conflicted commit must not be visible")
    assert(new String(java.nio.file.Files.readAllBytes(foreign.toPath))
      .contains("foreign-writer"), "the foreign entry was clobbered")
    // conflict resolution (here: the foreign entry retracts) unblocks
    foreign.delete()
    spark.sql("INSERT INTO graft.xp_t SELECT id + 10 FROM range(5)")
    assert(spark.table("graft.xp_t").count() == 15)

    // --- cross-table transaction: a foreign entry on EITHER
    // participant refuses the WHOLE transaction, nothing commits
    for (t <- Seq("graft.xp_a", "graft.xp_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
      spark.sql(s"INSERT INTO $t SELECT id FROM range(10)")
    }
    val foreignB = seedForeign("graft.xp_b")
    val exT = intercept[Exception] {
      graft.api.GraftApi.transactAppend(spark, Seq(
        "graft.xp_a" -> spark.range(5).selectExpr("id + 100 AS k"),
        "graft.xp_b" -> spark.range(5).selectExpr("id + 200 AS k")))
    }
    assert(rootMsg(exT).contains("concurrent"), rootMsg(exT))
    assert(spark.table("graft.xp_a").count() == 10,
      "a conflicted transaction must commit NEITHER side")
    assert(spark.table("graft.xp_b").count() == 10)
    assert(new String(java.nio.file.Files.readAllBytes(foreignB.toPath))
      .contains("foreign-writer"))
    foreignB.delete()
    graft.api.GraftApi.transactAppend(spark, Seq(
      "graft.xp_a" -> spark.range(5).selectExpr("id + 100 AS k"),
      "graft.xp_b" -> spark.range(5).selectExpr("id + 200 AS k")))
    assert(spark.table("graft.xp_a").count() == 15)
    assert(spark.table("graft.xp_b").count() == 15)
    Seq("graft.xp_t", "graft.xp_a", "graft.xp_b")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("claim FENCING: a writer resuming after its claim was " +
      "adjudicated dead refuses LOUDLY instead of renaming over the " +
      "slot — both when the foreign writer completed the slot and " +
      "when it re-claimed it (zero-byte, new identity)") {
    freshCatalog()
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    spark.sql("DROP TABLE IF EXISTS graft.fence_t")
    spark.sql("CREATE TABLE graft.fence_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.fence_t SELECT id FROM range(10)")
    // --- variant 1: the adjudicator DELETED our dead claim and
    // COMPLETED the slot with its own entry (the roll-forward shape)
    var slot: Option[java.io.File] = None
    graft.sources.GraftLog.claimStallHook = Some { claim =>
      claim.delete()
      java.nio.file.Files.write(claim.toPath,
        """{"a":"commit","v":88,"op":"foreign-completion"}""".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      slot = Some(claim)
    }
    val ex1 =
      try intercept[Exception] {
        spark.sql("INSERT INTO graft.fence_t SELECT id + 10 FROM range(5)")
      } finally graft.sources.GraftLog.claimStallHook = None
    assert(rootMsg(ex1).contains("fencing") ||
      rootMsg(ex1).contains("concurrent"), rootMsg(ex1))
    // the foreign entry survives byte-for-byte — NO fork
    assert(new String(java.nio.file.Files.readAllBytes(
      slot.get.toPath)).contains("foreign-completion"),
      "the resumed writer clobbered the foreign completion")
    slot.get.delete() // foreign entry retracts; disk truth replays
    assert(spark.table("graft.fence_t").count() == 10,
      "the refused commit must not be visible")
    // --- variant 2: the adjudicator deleted our claim and RE-CLAIMED
    // the slot (still zero-byte — only the file-identity fence can
    // tell the difference)
    graft.sources.GraftLog.claimStallHook = Some { claim =>
      claim.delete()
      claim.createNewFile() // a DIFFERENT file at the same path
      slot = Some(claim)
      ()
    }
    val ex2 =
      try intercept[Exception] {
        spark.sql("INSERT INTO graft.fence_t SELECT id + 10 FROM range(5)")
      } finally graft.sources.GraftLog.claimStallHook = None
    assert(rootMsg(ex2).contains("fencing"), rootMsg(ex2))
    assert(slot.get.exists() && slot.get.length() == 0L,
      "the foreign claim must survive untouched")
    slot.get.delete()
    assert(spark.table("graft.fence_t").count() == 10)
    // a clean retry (no adjudication) commits normally
    spark.sql("INSERT INTO graft.fence_t SELECT id + 10 FROM range(5)")
    assert(spark.table("graft.fence_t").count() == 15)
    spark.sql("DROP TABLE graft.fence_t")
  }

  test("cross-table transaction gets full INSERT semantics: enforced " +
      "CHECK constraints refuse violating rows (nothing commits), " +
      "generated columns recompute ALWAYS task-side, identity tables " +
      "refuse, and the returned heads are the transaction's own " +
      "commit versions") {
    freshCatalog()
    // --- enforced CHECK: a violating transactional append refuses
    spark.sql("DROP TABLE IF EXISTS graft.txi_c")
    spark.sql("CREATE TABLE graft.txi_c (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.txi_c SELECT id, 1.0 FROM range(5)")
    spark.sql("ALTER TABLE graft.txi_c ADD CONSTRAINT v_pos " +
      "CHECK (v > 0)")
    val bad = spark.range(4).selectExpr("id AS k",
      "CAST(id - 2.0 AS DOUBLE) AS v") // holds v = -2, -1
    val ex = intercept[Exception] {
      graft.api.GraftApi.transactAppend(spark,
        Seq("graft.txi_c" -> bad))
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(ex).contains("v_pos"), rootMsg(ex))
    assert(spark.table("graft.txi_c").count() == 5,
      "a constraint-violating transaction must commit NOTHING")
    // a clean append passes the same gate
    val ok = spark.range(4).selectExpr("id AS k",
      "CAST(id + 1.0 AS DOUBLE) AS v")
    graft.api.GraftApi.transactAppend(spark, Seq("graft.txi_c" -> ok))
    assert(spark.table("graft.txi_c").count() == 9)

    // --- generated columns: ALWAYS semantics — the supplied value is
    // recomputed task-side, exactly as a plain INSERT would
    spark.sql("DROP TABLE IF EXISTS graft.txi_g")
    spark.sql("CREATE TABLE graft.txi_g (k BIGINT, cents BIGINT " +
      "GENERATED ALWAYS AS (k * 100)) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    val wrongGen = spark.range(6).selectExpr("id AS k",
      "CAST(-1 AS BIGINT) AS cents") // wrong on purpose
    graft.api.GraftApi.transactAppend(spark, Seq("graft.txi_g" -> wrongGen))
    val gens = spark.table("graft.txi_g").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gens == (0L until 6L).map(k => k -> k * 100).toMap,
      s"generated column must recompute ALWAYS: $gens")

    // --- identity tables refuse (commit-time value assignment)
    spark.sql("DROP TABLE IF EXISTS graft.txi_i")
    spark.sql("CREATE TABLE graft.txi_i (row_id BIGINT " +
      "GENERATED ALWAYS AS IDENTITY, k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    val exI = intercept[Exception] {
      graft.api.GraftApi.transactAppend(spark, Seq("graft.txi_i" ->
        spark.range(3).selectExpr("id AS row_id", "id AS k")))
    }
    assert(rootMsg(exI).toLowerCase.contains("identity"), rootMsg(exI))

    // --- returned heads are the transaction's OWN commits, read
    // under the lock — equal to the pre-commit head + 1 here
    val headBefore = GraftTableStore.commitCount("graft.txi_c") - 1
    val ret = graft.api.GraftApi.transactAppend(spark,
      Seq("graft.txi_c" -> ok))
    assert(ret == Map("graft.txi_c" -> (headBefore + 1)),
      s"returned $ret, expected v${headBefore + 1}")
    Seq("graft.txi_c", "graft.txi_g", "graft.txi_i")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("replayed manifests keep APPEND identity: bloom/DV-carrying " +
      "entries compare by content after a restart, so the feed stays " +
      "file-granular and the stream does not false-flag a rewrite; a " +
      "clone's first commit replays exactly once") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.rply_t")
    spark.sql("CREATE TABLE graft.rply_t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.bloom.columns'='k', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.rply_t SELECT id, 'x' FROM range(50)")
    spark.sql("INSERT INTO graft.rply_t SELECT id + 100, 'y' " +
      "FROM range(20)")
    graft.sources.GraftLog.simulateProcessRestart(Seq("graft.rply_t"))
    spark.table("graft.rply_t").count() // attach
    val physSchema = graft.sources.GraftParquetStore
      .meta("graft.rply_t").get.schema
    val parts = graft.sources.GraftChangeFeed.planParts(
      "graft.rply_t", physSchema, 0, 0, 2)
    // bloom arrays compare by reference under case-class equality —
    // the replayed manifests must STILL read as appends (sameEntry),
    // or every feed/stream window would degrade to snapshot diffs
    assert(parts.forall(
      _.isInstanceOf[graft.sources.GraftCdfFilePartition]),
      s"replayed append window must plan file partitions: " +
        s"${parts.map(_.getClass.getSimpleName).toSeq}")
    // and the CONTENT STREAM replays the same window without the
    // false not-append-only error
    val out = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream.table("graft.rply_t").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.addAndGet(df.count()); ()
      }.start()
    q.awaitTermination(60000)
    assert(out.get() == 70, s"streamed ${out.get()} of 70 rows")

    // SHALLOW CLONE first-commit replay: the clone's log starts with
    // a lazy checkpoint that already CONTAINS the commit — replay
    // must not duplicate it, and the replayed clone stays writable
    spark.sql("DROP TABLE IF EXISTS graft.rply_c")
    graft.api.GraftApi.cloneTable(spark, "graft.rply_t", "graft.rply_c")
    graft.sources.GraftLog.simulateProcessRestart(Seq("graft.rply_c"))
    assert(spark.table("graft.rply_c").count() == 70)
    assert(GraftTableStore.commitCount("graft.rply_c") == 1,
      "a clone's first commit must replay exactly once")
    spark.sql("INSERT INTO graft.rply_c SELECT id + 1000, 'z' " +
      "FROM range(3)") // a duplicated replay would refuse this write
    assert(spark.table("graft.rply_c").count() == 73)
    spark.sql("DROP TABLE graft.rply_t")
    spark.sql("DROP TABLE graft.rply_c")
  }

  test("CONFLICT-AWARE COMMIT RETRY: a blind append racing a foreign " +
      "APPEND rebases onto the new head and lands WITHOUT application " +
      "retry; racing a foreign REWRITE it still refuses loudly") {
    freshCatalog()
    val t = "graft.ccr_t"
    def logDirOf(n: String) = new java.io.File(
      graft.sources.GraftWarehouse.tableDir(n), "_graft_log")
    /** run `foreignCommit` and return (entryFile, bytes) of the log
      * entry it appended — a GENUINE engine-rendered entry, exactly
      * what a second process would have written. */
    def captureForeign(n: String)(foreignCommit: => Unit)
        : (java.io.File, Array[Byte]) = {
      val before = logDirOf(n).listFiles().map(_.getName).toSet
      foreignCommit
      val fresh = logDirOf(n).listFiles()
        .filter(f => !before(f.getName)).sortBy(_.getName)
      assert(fresh.length == 1,
        s"expected exactly one new entry, got ${fresh.toSeq}")
      val f = fresh.last
      (f, java.nio.file.Files.readAllBytes(f.toPath))
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(10)")

    // --- compatible race: foreign APPEND vs our blind append.
    // Commit the "foreign" append for real, capture its entry, remove
    // it, roll this process back to the pre-append state (restart
    // replay), then re-seed the entry — this process is now exactly a
    // writer whose view is one commit stale.
    val (fA, bytesA) = captureForeign(t) {
      spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(5)")
    }
    assert(fA.delete())
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 10, "rollback sim failed")
    java.nio.file.Files.write(fA.toPath, bytesA)
    // the stale writer's blind append: previously refused with
    // "re-read the table and retry" — now classifies append-vs-append
    // as compatible, rebases, and BOTH land
    spark.sql(s"INSERT INTO $t SELECT id + 200, 'c' FROM range(3)")
    assert(spark.table(t).count() == 18,
      "append + foreign append must BOTH land after the rebase")
    import scala.jdk.CollectionConverters._
    val bySrc = spark.table(t).groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 10L, "b" -> 5L, "c" -> 3L), bySrc)
    // the log replays to the same state in a fresh process
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 18, "rebased commit not durable")

    // --- incompatible race: foreign REWRITE (CoW DELETE swaps base
    // files) vs our blind append — refuses as before
    val (fB, bytesB) = captureForeign(t) {
      spark.sql(s"DELETE FROM $t WHERE s = 'b'")
    }
    assert(fB.delete())
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 18)
    java.nio.file.Files.write(fB.toPath, bytesB)
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $t SELECT id + 300, 'd' FROM range(2)")
    }
    def rootMsg(x: Throwable): String = {
      var c: Throwable = x; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(ex).contains("concurrent"), rootMsg(ex))
    // the user-level retry (re-read) then lands on the rewritten base
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 13, "foreign rewrite must win")
    spark.sql(s"INSERT INTO $t SELECT id + 300, 'd' FROM range(2)")
    assert(spark.table(t).count() == 15)
    spark.sql(s"DROP TABLE $t")
  }

  test("MAINTENANCE REBASE (conflict liveness phase 2): OPTIMIZE " +
      "bin-pack racing a foreign append rebases and BOTH land " +
      "(Iceberg rewrite_data_files semantics); racing a foreign CoW " +
      "DELETE that rewrote a merged file it still refuses loudly; an " +
      "IN-PROCESS interleaved append rebases through the stall hook") {
    freshCatalog()
    val t = "graft.mnt_t"
    def logDirOf(n: String) = new java.io.File(
      graft.sources.GraftWarehouse.tableDir(n), "_graft_log")
    def captureForeign(n: String)(foreignCommit: => Unit)
        : (java.io.File, Array[Byte]) = {
      val before = logDirOf(n).listFiles().map(_.getName).toSet
      foreignCommit
      val fresh = logDirOf(n).listFiles()
        .filter(f => !before(f.getName)).sortBy(_.getName)
      assert(fresh.length == 1, s"expected one new entry: ${fresh.toSeq}")
      (fresh.last, java.nio.file.Files.readAllBytes(fresh.last.toPath))
    }
    def rootMsg(x: Throwable): String = {
      var c: Throwable = x; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    // small files for the bin-pack to merge
    for (i <- 0 until 4)
      spark.sql(s"INSERT INTO $t SELECT id + ${i * 100}, 'a' FROM range(20)")

    // --- cross-process compatible race: foreign APPEND vs OPTIMIZE.
    // Commit the foreign append for real, roll this process back to a
    // stale view, re-seed the entry — then OPTIMIZE from the stale
    // view: it must classify the interleave as additive and rebase.
    val (fA, bytesA) = captureForeign(t) {
      spark.sql(s"INSERT INTO $t SELECT id + 900, 'b' FROM range(7)")
    }
    assert(fA.delete())
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 80, "rollback sim failed")
    java.nio.file.Files.write(fA.toPath, bytesA)
    val reduced = graft.api.GraftApi.rewriteSmallFiles(spark, t, 1000)
    assert(reduced > 0, "bin-pack merged nothing — test is vacuous")
    assert(spark.table(t).count() == 87,
      "OPTIMIZE must rebase across the foreign append: BOTH land")
    val head = GraftTableStore.commitCount(t) - 1
    assert(spark.table(s"$t.history").where(col("version") === head)
      .collect()(0).getString(1) == "binpack")
    // durable: a fresh replay agrees
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 87)

    // --- in-process interleave: an append lands between the bin-pack
    // job's staging and its commit (the stall hook) — rebases, both
    // land, no exception
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO $t SELECT id + ${2000 + i * 100}, 'c' " +
        "FROM range(10)")
    graft.sources.GraftTableStore.maintenanceStallHook = Some { () =>
      spark.sql(s"INSERT INTO $t SELECT id + 5000, 'd' FROM range(4)")
    }
    val reduced2 =
      try graft.api.GraftApi.rewriteSmallFiles(spark, t, 1000)
      finally graft.sources.GraftTableStore.maintenanceStallHook = None
    assert(reduced2 > 0)
    assert(spark.table(t).count() == 87 + 30 + 4,
      "in-process interleaved append + OPTIMIZE must both land")

    // --- incompatible race: a foreign CoW DELETE rewrote small files
    // the bin-pack is about to merge — refuse loudly, foreign wins
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO $t SELECT id + ${8000 + i * 100}, 'e' " +
        "FROM range(10)")
    val nBefore = spark.table(t).count()
    val (fB, bytesB) = captureForeign(t) {
      spark.sql(s"DELETE FROM $t WHERE s = 'e'")
    }
    assert(fB.delete())
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == nBefore)
    java.nio.file.Files.write(fB.toPath, bytesB)
    val ex = intercept[Exception] {
      graft.api.GraftApi.rewriteSmallFiles(spark, t, 1000)
    }
    assert(rootMsg(ex).contains("concurrent"), rootMsg(ex))
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == nBefore - 30,
      "the foreign rewrite must win; the refused OPTIMIZE must not land")
    spark.sql(s"DROP TABLE $t")
  }

  test("WRITE-DELTA REBASE: a merge-on-read DELETE racing a foreign " +
      "append lands (the delta serializes after the blind add); two " +
      "deltas on DISJOINT id sets both land; overlapping ids refuse") {
    freshCatalog()
    val t = "graft.wdr_t"
    def logDirOf(n: String) = new java.io.File(
      graft.sources.GraftWarehouse.tableDir(n), "_graft_log")
    def captureForeign(n: String)(foreignCommit: => Unit)
        : (java.io.File, Array[Byte]) = {
      val before = logDirOf(n).listFiles().map(_.getName).toSet
      foreignCommit
      val fresh = logDirOf(n).listFiles()
        .filter(f => !before(f.getName)).sortBy(_.getName)
      assert(fresh.length == 1, s"expected one new entry: ${fresh.toSeq}")
      (fresh.last, java.nio.file.Files.readAllBytes(fresh.last.toPath))
    }
    def rootMsg(x: Throwable): String = {
      var c: Throwable = x; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(30)")

    // --- WriteDelta vs foreign APPEND: both land
    val (fA, bytesA) = captureForeign(t) {
      spark.sql(s"INSERT INTO $t SELECT id + 100, 'b' FROM range(5)")
    }
    assert(fA.delete())
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 30)
    java.nio.file.Files.write(fA.toPath, bytesA)
    spark.sql(s"DELETE FROM $t WHERE k < 10") // MoR delta, stale view
    assert(spark.table(t).count() == 25,
      "delta (-10) and foreign append (+5) must BOTH land")
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 25, "rebased delta not durable")

    // --- two deltas on DISJOINT ids: both land
    val (fB, bytesB) = captureForeign(t) {
      spark.sql(s"DELETE FROM $t WHERE k = 15")
    }
    assert(fB.delete())
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 25)
    java.nio.file.Files.write(fB.toPath, bytesB)
    spark.sql(s"DELETE FROM $t WHERE k = 16") // disjoint id
    assert(spark.table(t).count() == 23,
      "disjoint MoR deletes must BOTH land")

    // --- overlapping ids: refuse loudly, foreign wins
    val (fC, bytesC) = captureForeign(t) {
      spark.sql(s"UPDATE $t SET s = 'x' WHERE k = 20")
    }
    assert(fC.delete())
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).count() == 23) // force the STALE replay first
    java.nio.file.Files.write(fC.toPath, bytesC)
    val ex = intercept[Exception] {
      spark.sql(s"DELETE FROM $t WHERE k = 20") // same row
    }
    assert(rootMsg(ex).contains("concurrent"), rootMsg(ex))
    graft.sources.GraftLog.simulateProcessRestart(Seq(t))
    assert(spark.table(t).where(col("k") === 20)
      .collect()(0).getString(1) == "x",
      "the foreign update must win; the refused delete must not land")
    spark.sql(s"DROP TABLE $t")
  }

  test("remove_orphan_files enforces a grace floor: a sub-minute " +
      "grace_ms refuses (it would sweep live writers' staging dirs " +
      "warehouse-wide) unless force-overridden") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.gfl_t")
    spark.sql("CREATE TABLE graft.gfl_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.gfl_t SELECT id FROM range(5)")
    val ex = intercept[IllegalArgumentException] {
      graft.api.GraftApi.vacuumOrphans(spark, "graft.gfl_t", 1000L)
    }
    assert(ex.getMessage.contains("floor"), ex.getMessage)
    // the floor value itself passes, and force bypasses
    assert(graft.api.GraftApi.vacuumOrphans(spark, "graft.gfl_t",
      60000L) >= 0)
    assert(graft.api.GraftApi.vacuumOrphans(spark, "graft.gfl_t",
      1000L, force = true) >= 0)
    assert(spark.table("graft.gfl_t").count() == 5)
    spark.sql("DROP TABLE graft.gfl_t")
  }
}
