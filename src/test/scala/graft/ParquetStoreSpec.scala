package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftMergeCatalog, GraftParquetStore, GraftTableStore}

/** The parquet-backed store (round 10): file-granular commits, scans
  * that ship paths instead of rows, measured pruning, append manifest
  * reuse, MoR deltas merged per-file, retention GC. */
class ParquetStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)

  test("appends re-reference prior files: the new commit's manifest " +
      "extends the old one and only the new rows' files are written") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqa_t")
    spark.sql("CREATE TABLE graft.pqa_t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqa_t SELECT id, concat('v', id) " +
      "FROM range(100)")
    val v0 = GraftTableStore.commitFiles("graft.pqa_t", 0)
    assert(v0.nonEmpty && v0.forall(f =>
      new java.io.File(f.path).isFile && f.bytes > 0))
    spark.sql("INSERT INTO graft.pqa_t SELECT id + 100, 'x' " +
      "FROM range(10)")
    val v1 = GraftTableStore.commitFiles("graft.pqa_t", 1)
    assert(v1.startsWith(v0),
      "append must re-reference the previous manifest")
    assert(v1.length > v0.length, "append must add its own files")
    assert(v1.drop(v0.length).map(_.rows).sum == 10)
    // both versions stay readable (time travel over shared files)
    assert(spark.sql("SELECT * FROM graft.pqa_t VERSION AS OF 0")
      .count() == 100)
    assert(spark.table("graft.pqa_t").count() == 110)
    assert(GraftTableStore.commitKind("graft.pqa_t", 0) == "parquet")
    spark.sql("DROP TABLE graft.pqa_t")
  }

  test("partition pruning is MEASURED on the parquet store: a " +
      "partition-only predicate opens fewer files and fewer bytes") {
    freshCatalog()
    val m = scanMetrics(SparkEntry.queries("store_parquet_prune")(spark, sf),
      "graft.pqp_orders")
    assert(m.filesTotal > 0 && m.bytesTotal > 0, s"no files measured: $m")
    assert(m.filesRead < m.filesTotal,
      s"pruning opened every file: $m")
    assert(m.bytesRead < m.bytesTotal && m.bytesRead > 0,
      s"pruned bytes not measured: $m")
    // an unfiltered UNPUSHABLE aggregate reads the whole manifest
    // (plain count() would be answered from the manifest with zero
    // files opened — the manifest-agg test pins that separately)
    val full = scanMetrics(spark.table("graft.pqp_orders")
      .agg(org.apache.spark.sql.functions.sum("o_totalprice")),
      "graft.pqp_orders")
    assert(full.filesRead == full.filesTotal &&
      full.bytesRead == full.bytesTotal && full.filesRead > 0, s"$full")
    spark.sql("DROP TABLE graft.pqp_orders")
  }

  test("MoR on parquet: a DELETE commits an op log (no file rewritten), " +
      "the scan merges base files + deletions executor-side") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqmor_t")
    spark.sql("CREATE TABLE graft.pqmor_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.pqmor_t SELECT id, id * 1.5 " +
      "FROM range(50)")
    val baseFiles = GraftTableStore.commitFiles("graft.pqmor_t", 0)
    val baseMtimes = baseFiles.map(f =>
      (f.path, new java.io.File(f.path).length()))
    spark.sql("DELETE FROM graft.pqmor_t WHERE k % 5 = 0")
    assert(GraftTableStore.commitKind("graft.pqmor_t", 1) == "delta",
      "MoR delete must stay an op-log commit on the parquet store")
    // no base file was touched or replaced
    baseMtimes.foreach { case (p, len) =>
      assert(new java.io.File(p).length() == len, s"file rewritten: $p")
    }
    assert(spark.table("graft.pqmor_t").count() == 40)
    // an UPDATE may move a row across partitions — merged correctly
    spark.sql("UPDATE graft.pqmor_t SET v = -1.0 WHERE k = 7")
    val r = spark.table("graft.pqmor_t").where(col("k") === 7)
      .collect()
    assert(r.length == 1 && r(0).getDouble(1) == -1.0)
    assert(spark.table("graft.pqmor_t").count() == 40)
    // the change feed still derives (driver-side materialization path)
    val del = spark.table("graft.pqmor_t.changes")
      .where(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSet
    assert(del == (0L until 50L by 5).toSet)
    // OPTIMIZE compacts the op-log chain into fresh files
    assert(graft.api.GraftApi.optimizeTable(spark, "graft.pqmor_t") > 0)
    val head = GraftTableStore.commitCount("graft.pqmor_t") - 1
    assert(GraftTableStore.commitKind("graft.pqmor_t", head) == "parquet")
    assert(spark.table("graft.pqmor_t").count() == 40)
    spark.sql("DROP TABLE graft.pqmor_t")
  }

  test("schema evolution on files: pre-ADD files stay narrow and read " +
      "as NULL; DROP COLUMN leaves every file untouched (position-" +
      "named columns)") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqe_t")
    spark.sql("CREATE TABLE graft.pqe_t (a BIGINT, b STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqe_t VALUES (1, 'x'), (2, 'y')")
    spark.sql("ALTER TABLE graft.pqe_t ADD COLUMN c DOUBLE")
    spark.sql("INSERT INTO graft.pqe_t VALUES (3, 'z', 3.5)")
    val files = GraftTableStore.commitFiles("graft.pqe_t", 1)
    assert(files.map(_.numCols).toSet == Set(2, 3),
      s"expected a narrow pre-evolution file and a wide new one: " +
        s"${files.map(_.numCols)}")
    val rows = spark.table("graft.pqe_t").orderBy("a").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "x", null), (2L, "y", null),
      (3L, "z", 3.5)))
    // DROP b through column mapping: no file changes, c keeps ITS data
    val lens = files.map(f =>
      (f.path, new java.io.File(f.path).length()))
    spark.sql("ALTER TABLE graft.pqe_t DROP COLUMN b")
    lens.foreach { case (p, len) =>
      assert(new java.io.File(p).length() == len, s"file rewritten: $p")
    }
    assert(spark.table("graft.pqe_t").columns.toSeq == Seq("a", "c"))
    assert(spark.table("graft.pqe_t").where(col("c") === 3.5)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    spark.sql("DROP TABLE graft.pqe_t")
  }

  test("retention GC sweeps only EXPIRED version dirs — a foreign " +
      "writer's in-flight adoption above the retained window survives") {
    // r16: adoption precedes the cross-process log claim, so a dir at
    // or above firstRetained can hold a CONCURRENT process's adopted
    // files for a commit this process has not replayed yet; the trim
    // GC deleting them corrupted the winner's committed manifest (the
    // CrossJvmSpec binpack-vs-append flake). Every legitimately
    // expirable file lives under an expired dir (created-at-N ⇒
    // referenced by manifest N), so the guard costs nothing.
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqgg_t")
    spark.sql("CREATE TABLE graft.pqgg_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqgg_t SELECT id FROM range(20)") // v0
    spark.sql("INSERT OVERWRITE graft.pqgg_t SELECT id FROM range(3)") // v1
    val v0Files = GraftTableStore.commitFiles("graft.pqgg_t", 0)
    // plant a "foreign adoption": an unreferenced file in the NEXT
    // version slot's dir, mtime far in the past (no grace may save it)
    val dir = GraftParquetStore.meta("graft.pqgg_t").get.dir
    val vNext = new java.io.File(dir, "v00002")
    vNext.mkdirs()
    val foreign = new java.io.File(vNext, "t0000-feedface.parquet")
    java.nio.file.Files.write(foreign.toPath, Array[Byte](1, 2, 3))
    assert(foreign.setLastModified(1000L))
    assert(graft.api.GraftApi.expireSnapshots(spark,
      "graft.pqgg_t", 1) == 1)
    v0Files.foreach(f => assert(!new java.io.File(f.path).exists(),
      s"expired unreferenced file survived GC: ${f.path}"))
    assert(foreign.exists(),
      "trim GC swept an un-expired version dir — a concurrent " +
        "process's in-flight adoption would be corrupted")
    foreign.delete()
    spark.sql("DROP TABLE graft.pqgg_t")
  }

  test("retention GC: expiring snapshots deletes files no retained " +
      "manifest references and keeps every file still shared") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqgc_t")
    spark.sql("CREATE TABLE graft.pqgc_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqgc_t SELECT id FROM range(20)") // v0: A
    spark.sql("INSERT INTO graft.pqgc_t SELECT id + 20 FROM range(5)") // v1: A+B
    spark.sql("INSERT OVERWRITE graft.pqgc_t SELECT id FROM range(3)") // v2: C
    val v1Files = GraftTableStore.commitFiles("graft.pqgc_t", 1)
    val v2Files = GraftTableStore.commitFiles("graft.pqgc_t", 2)
    assert(v1Files.nonEmpty && v2Files.nonEmpty &&
      v1Files.map(_.path).toSet.intersect(v2Files.map(_.path).toSet)
        .isEmpty)
    // keep only the overwrite: the shared A+B chain is unreferenced
    assert(graft.api.GraftApi.expireSnapshots(spark,
      "graft.pqgc_t", 1) == 2)
    v1Files.foreach(f => assert(!new java.io.File(f.path).exists(),
      s"unreferenced file survived GC: ${f.path}"))
    v2Files.foreach(f => assert(new java.io.File(f.path).exists(),
      s"retained file deleted: ${f.path}"))
    assert(spark.table("graft.pqgc_t").count() == 3)
    spark.sql("DROP TABLE graft.pqgc_t")
    assert(GraftParquetStore.meta("graft.pqgc_t").isEmpty,
      "DROP TABLE must unregister and remove the table directory")
  }

  test("SHALLOW CLONE is metadata-only and GC-safe: the clone's v0 " +
      "re-references the source manifest verbatim; source VACUUM and " +
      "DROP keep every clone-shared file; dropping the last reference " +
      "finally deletes them") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.cl_src")
    spark.sql("DROP TABLE IF EXISTS graft.cl_dst")
    spark.sql("CREATE TABLE graft.cl_src (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.cl_src " +
      "SELECT id, concat('v', id) FROM range(50)")
    graft.api.GraftApi.cloneTable(spark, "graft.cl_src", "graft.cl_dst")
    // 1. zero copy: the clone's v0 manifest IS the source manifest
    val srcFiles = GraftTableStore.commitFiles("graft.cl_src", 0)
    val cloneV0 = GraftTableStore.commitFiles("graft.cl_dst", 0)
    assert(srcFiles.nonEmpty &&
      cloneV0.map(_.path) == srcFiles.map(_.path),
      "clone v0 must re-reference the source's files verbatim")
    assert(GraftTableStore.history("graft.cl_dst").head._2 == "clone")
    // 2. divergence isolation: the clone's own commits write under
    // the CLONE's directory and never touch the source
    spark.sql("INSERT INTO graft.cl_dst SELECT id + 100, 'w' " +
      "FROM range(7)")
    assert(spark.table("graft.cl_src").count() == 50)
    assert(spark.table("graft.cl_dst").count() == 57)
    val srcDir = GraftParquetStore.meta("graft.cl_src").get.dir
    val newFiles = GraftTableStore.commitFiles("graft.cl_dst", 1)
      .drop(cloneV0.length)
    assert(newFiles.nonEmpty &&
      newFiles.forall(!_.path.startsWith(srcDir)),
      "clone commits must not write into the source's directory")
    // 3. source-side VACUUM keeps clone-shared files (the global
    // manifest sweep): overwrite the source, expire its old versions
    spark.sql("INSERT OVERWRITE graft.cl_src SELECT id, 'z' " +
      "FROM range(3)")
    assert(graft.api.GraftApi.expireSnapshots(spark,
      "graft.cl_src", 1) == 1)
    srcFiles.foreach(f => assert(new java.io.File(f.path).exists(),
      s"source VACUUM deleted a clone-shared file: ${f.path}"))
    assert(spark.table("graft.cl_dst").count() == 57)
    // 4. DROP the source: shared files survive, the clone still reads
    spark.sql("DROP TABLE graft.cl_src")
    srcFiles.foreach(f => assert(new java.io.File(f.path).exists(),
      s"DROP of the source deleted a clone-shared file: ${f.path}"))
    assert(spark.table("graft.cl_dst").count() == 57)
    // 5. DROP the clone — the LAST reference — finally deletes them
    spark.sql("DROP TABLE graft.cl_dst")
    srcFiles.foreach(f => assert(!new java.io.File(f.path).exists(),
      s"file leaked after the last referencing table dropped: ${f.path}"))
  }

  test("column defaults on the parquet store: files written before " +
      "the ADD read the EXISTS default through the file scan; zone " +
      "maps must not skip them; manifest aggregates decline and stay " +
      "exact") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqdef_t")
    spark.sql("CREATE TABLE graft.pqdef_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqdef_t SELECT id FROM range(40)")
    spark.sql("ALTER TABLE graft.pqdef_t " +
      "ADD COLUMN r STRING DEFAULT 'x'")
    spark.sql("INSERT INTO graft.pqdef_t SELECT id + 100, 'y' " +
      "FROM range(10)")
    // the narrow files' rows read the default executor-side (readFile
    // fills absent slots) — and the pushed EqualTo must NOT zone-skip
    // the narrow files (pre-guard, slot-beyond-width proved "skip")
    assert(spark.table("graft.pqdef_t")
      .where(col("r") === "x").count() == 40)
    assert(spark.table("graft.pqdef_t")
      .where(col("r").isNotNull).count() == 50)
    // a pushed COUNT(col) must DECLINE the manifest-only answer (the
    // manifest would count the 10 stored values, not the 40 defaults)
    val df = spark.table("graft.pqdef_t")
      .agg(org.apache.spark.sql.functions.count(col("r")).as("n"))
    assert(df.collect()(0).getLong(0) == 50,
      "COUNT(col) over an existence default served a manifest answer")
    assert(!df.queryExecution.executedPlan.toString
      .contains("manifest-only"),
      "manifest agg scan must decline when existence defaults exist")
    spark.sql("DROP TABLE graft.pqdef_t")
  }

  test("PARTITION SPEC EVOLUTION: legacy files prune by THEIR spec, " +
      "new files by the new spec, content stays exact across the " +
      "mixed manifest, and a rewrite retires the legacy spec") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pse_t")
    spark.sql("CREATE TABLE graft.pse_t (k BIGINT, p STRING, " +
      "v DOUBLE) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    // batch 1 under identity(p): 3 partitions, k in [0, 90)
    spark.sql("INSERT INTO graft.pse_t SELECT id, " +
      "CASE CAST(id % 3 AS INT) WHEN 0 THEN 'A' WHEN 1 THEN 'B' " +
      "ELSE 'C' END, CAST(id AS DOUBLE) FROM range(90)")
    val v0 = GraftTableStore.commitFiles("graft.pse_t", 0)
    assert(v0.nonEmpty && v0.forall(_.specId == 0))
    graft.api.GraftApi.evolvePartitioning(spark, "graft.pse_t",
      "truncate(1000, k)")
    // batch 2 under truncate(1000, k): k in [100000, 104000) → 4 ranges
    spark.sql("INSERT INTO graft.pse_t SELECT id + 100000, " +
      "CASE CAST(id % 3 AS INT) WHEN 0 THEN 'A' WHEN 1 THEN 'B' " +
      "ELSE 'C' END, CAST(id AS DOUBLE) FROM range(4000)")
    val v1 = GraftTableStore.commitFiles("graft.pse_t", 1)
    val newFiles = v1.drop(v0.length)
    assert(newFiles.nonEmpty && newFiles.forall(_.specId == 1),
      "files written after the evolution must carry the new spec id")
    // content exactness across the mixed-spec manifest
    assert(spark.table("graft.pse_t").count() == 4090)
    // MEASURED legacy prune: p = 'B' drops the other identity
    // partitions' LEGACY files by their own spec; every new-spec file
    // holds all three p values (no zone skip), so filesRead =
    // legacy(B) + all new files
    val legacyB = v0.count(f =>
      f.key.getUTF8String(0).toString == "B")
    val pB = spark.table("graft.pse_t").where(col("p") === "B")
    assert(pB.count() == 30 + 1333)
    val m1 = scanMetrics(pB, "graft.pse_t")
    assert(m1.filesRead == legacyB + newFiles.length,
      s"legacy per-spec pruning off: read ${m1.filesRead}, " +
        s"expected ${legacyB + newFiles.length} of ${m1.filesTotal}")
    // MEASURED new-spec prune: a k range inside ONE truncate range
    // keeps only that range's new files; every legacy file dies by
    // zone maps (their k max < 100000)
    val kRange = spark.table("graft.pse_t")
      .where(col("k") >= 101000L && col("k") < 101500L)
    assert(kRange.count() == 500)
    val m2 = scanMetrics(kRange, "graft.pse_t")
    assert(m2.filesRead < m2.filesTotal &&
      m2.filesRead <= newFiles.length,
      s"new-spec hidden pruning off: ${m2.filesRead}/${m2.filesTotal}")
    // a REWRITE under the current spec retires the legacy files:
    // INSERT OVERWRITE rewrites everything with new-spec keys
    // (staged through a scratch parquet — a table cannot be
    // overwritten from its own live scan)
    val tmp = java.nio.file.Files.createTempDirectory("pse_rw").toString
    spark.table("graft.pse_t").write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("pse_staged")
    spark.sql("INSERT OVERWRITE graft.pse_t " +
      "SELECT k, p, v FROM pse_staged")
    val v3 = GraftTableStore.commitFiles("graft.pse_t",
      GraftTableStore.commitCount("graft.pse_t") - 1)
    assert(v3.nonEmpty && v3.forall(_.specId == 1),
      "the overwrite must lay every file out under the current spec")
    assert(spark.table("graft.pse_t").count() == 4090)
    spark.sql("DROP TABLE graft.pse_t")
  }

  test("manifest aggregates DECLINE while partition specs mix: legacy " +
      "keys live in another domain, the grouped answer must come from " +
      "the exact file scan") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.psagg_t")
    spark.sql("CREATE TABLE graft.psagg_t (k BIGINT, p STRING) " +
      "PARTITIONED BY (truncate(1000, k)) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.psagg_t SELECT id, " +
      "CASE CAST(id % 2 AS INT) WHEN 0 THEN 'A' ELSE 'B' END " +
      "FROM range(2000)")
    graft.api.GraftApi.evolvePartitioning(spark, "graft.psagg_t",
      "identity(p)")
    spark.sql("INSERT INTO graft.psagg_t SELECT id + 10000, 'A' " +
      "FROM range(10)")
    // p IS an identity partition column of the CURRENT spec — without
    // the spec gate the manifest scan would group the legacy files'
    // truncate keys as if they were p values
    val df = spark.table("graft.psagg_t").groupBy("p")
      .agg(org.apache.spark.sql.functions.count(col("k")).as("n"))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("A" -> 1010L, "B" -> 1000L), got.toString)
    assert(!df.queryExecution.executedPlan.toString
      .contains("manifest-only"),
      "manifest agg must decline while specs mix")
    spark.sql("DROP TABLE graft.psagg_t")
  }

  test("plain appends are TASK-written and manifest-committed: a " +
      "multi-partition insert lands one staged file per task, adopted " +
      "under the version directory — the driver never buffers a row") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqtask_t")
    spark.sql("CREATE TABLE graft.pqtask_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    // 4 upstream partitions → 4 write tasks → 4 files in ONE commit
    spark.range(0, 4000).selectExpr("id AS k", "id * 0.5 AS v")
      .repartition(4).createOrReplaceTempView("pqtask_src")
    spark.sql("INSERT INTO graft.pqtask_t SELECT * FROM pqtask_src")
    val files = GraftTableStore.commitFiles("graft.pqtask_t", 0)
    assert(files.length == 4, s"expected one file per write task: " +
      s"${files.length}")
    assert(files.map(_.rows).sum == 4000)
    val meta = GraftParquetStore.meta("graft.pqtask_t").get
    files.foreach { f =>
      assert(f.path.startsWith(meta.dir),
        s"staged file not adopted into the table dir: ${f.path}")
      assert(new java.io.File(f.path).isFile)
      // zone maps were collected as the tasks wrote
      val kStats = f.stats(0)
      assert(kStats.nulls == 0 &&
        kStats.min.asInstanceOf[Long] <= kStats.max.asInstanceOf[Long])
    }
    assert(spark.table("graft.pqtask_t").count() == 4000)
    spark.sql("DROP TABLE graft.pqtask_t")
  }

  test("zone-map file skipping is MEASURED: a range predicate on an " +
      "unpartitioned column opens only the files whose min/max can " +
      "match") {
    freshCatalog()
    val m = scanMetrics(SparkEntry.queries("store_parquet_skip")(spark, sf),
      "graft.pqs_orders")
    assert(m.filesTotal > 1,
      s"need multiple files for a skipping readout: $m")
    assert(m.filesRead < m.filesTotal, s"zone maps skipped nothing: $m")
    assert(m.bytesRead < m.bytesTotal && m.bytesRead > 0, s"$m")
    // a predicate outside every file's range opens NOTHING
    val impossible = spark.table("graft.pqs_orders")
      .where(col("o_orderkey") < -1L)
    assert(impossible.count() == 0)
    val none = scanMetrics(impossible, "graft.pqs_orders")
    assert(none.filesRead == 0, s"impossible range still read: $none")
    spark.sql("DROP TABLE graft.pqs_orders")
  }

  test("manifest-answered aggregates: the pushed COUNT/MIN/MAX plan " +
      "is a GraftManifestAggScan that opens ZERO files; a delta " +
      "commit makes the pushdown decline (stale manifests never ship)") {
    freshCatalog()
    val df = SparkEntry.queries("store_parquet_agg")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftManifestAggScan"),
      s"expected the manifest agg scan in:\n$plan")
    val m = scanMetrics(df, "graft.pqagg_orders")
    assert(m.filesTotal > 0 && m.filesRead == 0 && m.bytesRead == 0L,
      s"manifest aggregate opened files: $m")
    // correctness cross-check against the unpushed computation
    val direct = spark.table("graft.pqagg_orders")
      .groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_orders"),
        org.apache.spark.sql.functions.min("o_totalprice"),
        org.apache.spark.sql.functions.max("o_totalprice"))
      .orderBy("o_orderpriority").collect().map(_.toString).toSeq
    val pushed = df.orderBy("o_orderpriority")
      .drop("n_keys").collect().map(_.toString).toSeq
    assert(pushed == direct)
    // a MoR table with a pending delta refuses the manifest answer
    spark.sql("DROP TABLE IF EXISTS graft.pqaggd_t")
    spark.sql("CREATE TABLE graft.pqaggd_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.pqaggd_t SELECT id, id * 2.0 " +
      "FROM range(100)")
    spark.sql("DELETE FROM graft.pqaggd_t WHERE k < 10")
    val afterDelta = spark.table("graft.pqaggd_t")
      .groupBy().agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
    assert(!afterDelta.queryExecution.executedPlan.toString
      .contains("GraftManifestAggScan"),
      "a delta-bearing version must not answer from the manifest")
    assert(afterDelta.collect()(0).getLong(0) == 90)
    spark.sql("DROP TABLE graft.pqagg_orders")
    spark.sql("DROP TABLE graft.pqaggd_t")
  }

  test(".files metadata table serves the manifest: per-file rows/" +
      "bytes/width/stats with partition keys, no data file opened") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqfm_t")
    spark.sql("CREATE TABLE graft.pqfm_t (k BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqfm_t " +
      "SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END " +
      "FROM range(100)")
    val files = spark.table("graft.pqfm_t.files").collect()
    assert(files.nonEmpty)
    assert(files.map(r =>
      r.getAs[Long]("row_count")).sum == 100L)
    assert(files.forall(r => r.getAs[Long]("size_bytes") > 0 &&
      r.getAs[Int]("num_cols") == 2 && r.getAs[Int]("stats_cols") == 2))
    assert(files.map(_.getAs[String]("p")).toSet == Set("even", "odd"))
    spark.sql("DROP TABLE graft.pqfm_t")
  }

  test("SQL equality of ±0.0 survives store-side filter evaluation " +
      "and zone maps on both backends (-0.0 = 0.0 is TRUE in Spark; " +
      "java.lang.Double.compare disagrees)") {
    freshCatalog()
    for ((t, props) <- Seq(
        ("zeropq_t", " TBLPROPERTIES ('graft.store'='parquet')"),
        ("zeromem_t", ""))) {
      spark.sql(s"DROP TABLE IF EXISTS graft.$t")
      spark.sql(s"CREATE TABLE graft.$t (k BIGINT, v DOUBLE)$props")
      spark.sql(s"INSERT INTO graft.$t " +
        "SELECT 1L, CAST('-0.0' AS DOUBLE)")
      spark.sql(s"INSERT INTO graft.$t VALUES (2, CAST(0.0 AS DOUBLE))")
      // pushed EqualTo must not drop the -0.0 row for a 0.0 probe (or
      // vice versa): the store evaluator SKIPS rows, no residual can
      // restore them — and on the parquet backend the zone map must
      // not skip the file either
      assert(spark.table(s"graft.$t")
        .where(col("v") === 0.0).count() == 2, s"$t: 0.0 probe")
      assert(spark.table(s"graft.$t")
        .where(col("v") === -0.0).count() == 2, s"$t: -0.0 probe")
      assert(spark.table(s"graft.$t")
        .where(col("v") >= 0.0).count() == 2, s"$t: >= 0.0")
      spark.sql(s"DROP TABLE graft.$t")
    }
  }

  test("RESTORE is metadata-only on the parquet store: the restore " +
      "commit re-references the target version's manifest verbatim " +
      "and GC keeps the shared files") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqres_t")
    spark.sql("CREATE TABLE graft.pqres_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqres_t SELECT id FROM range(50)") // v0
    spark.sql("INSERT INTO graft.pqres_t SELECT id + 50 FROM range(50)")
    assert(graft.api.GraftApi.restoreTable(spark,
      "graft.pqres_t", 0) == 2)
    assert(GraftTableStore.commitFiles("graft.pqres_t", 2) ==
      GraftTableStore.commitFiles("graft.pqres_t", 0),
      "restore must re-reference the manifest, not rewrite files")
    assert(spark.table("graft.pqres_t").count() == 50)
    assert(spark.sql("SELECT * FROM graft.pqres_t VERSION AS OF 1")
      .count() == 100, "the rolled-back version stays time-travelable")
    assert(GraftTableStore.history("graft.pqres_t")
      .map(_._2) == Vector("append", "append", "restore"))
    // restoring to an expired version refuses
    val ex = intercept[Exception] {
      graft.api.GraftApi.restoreTable(spark, "graft.pqres_t", 99)
    }
    assert(ex.getMessage.contains("does not exist"), ex.getMessage)
    spark.sql("DROP TABLE graft.pqres_t")
  }

  test("OPTIMIZE ZORDER gives MEASURED two-dimensional file skipping: " +
      "after the rewrite, single-column range predicates on EITHER " +
      "column open fewer files than the manifest total") {
    freshCatalog()
    SparkEntry.queries("store_parquet_zorder")(spark, sf).collect()
    def skipped(c: String): (Int, Int) = {
      val m = scanMetrics(spark.table("graft.pqz_orders")
        .where(col(c) < 100L)
        .agg(org.apache.spark.sql.functions.sum("o_totalprice")),
        "graft.pqz_orders")
      (m.filesRead, m.filesTotal)
    }
    val (ra, ta) = skipped("o_orderkey")
    val (rb, tb) = skipped("o_custkey")
    assert(ta > 1 && tb > 1, s"need chunked files: $ta/$tb")
    assert(ra < ta, s"o_orderkey range read all files: $ra/$ta")
    assert(rb < tb, s"o_custkey range read all files: $rb/$tb")
    // layout-only: content identical to the pre-zorder version
    assert(spark.sql(
      "SELECT * FROM graft.pqz_orders VERSION AS OF 0 ORDER BY 1,2,3")
      .collect().toSeq ==
      spark.table("graft.pqz_orders").orderBy("o_orderkey",
        "o_custkey", "o_totalprice").collect().toSeq)
    assert(GraftTableStore.history("graft.pqz_orders")
      .map(_._2).contains("zorder"))
    spark.sql("DROP TABLE graft.pqz_orders")
  }

  test("bloom-filter file index gives MEASURED point-probe skipping " +
      "where zone maps cannot: scattered key, equality opens fewer " +
      "files; the no-bloom control reads them all") {
    freshCatalog()
    SparkEntry.queries("store_parquet_bloom")(spark, sf).collect()
    // the id's table: bloom-indexed o_orderkey, scattered by the
    // custkey-ordered insert. Probe an INTERIOR key (the approx median
    // is an observed value): an extreme key would let plain zone maps
    // skip too — interior keys are inside every file's min/max range.
    val aKey = spark.table("graft.pqb_orders")
      .agg(org.apache.spark.sql.functions
        .expr("percentile_approx(o_orderkey, 0.5)"))
      .collect()(0).getLong(0)
    val m = scanMetrics(spark.table("graft.pqb_orders")
      .where(col("o_orderkey") === aKey), "graft.pqb_orders")
    assert(m.filesTotal > 1, s"need multiple files: ${m.filesTotal}")
    assert(m.filesRead < m.filesTotal,
      s"bloom probe read all files: ${m.filesRead}/${m.filesTotal}")
    // control: identical data and layout, NO bloom index — the
    // scattered key's min/max spans every file, zone maps skip nothing
    spark.sql("DROP TABLE IF EXISTS graft.pqb_ctrl")
    spark.sql("CREATE TABLE graft.pqb_ctrl (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.table("pqb_orders_src")
      .repartitionByRange(4, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .writeTo("graft.pqb_ctrl").append()
    val c = scanMetrics(spark.table("graft.pqb_ctrl")
      .where(col("o_orderkey") === aKey), "graft.pqb_ctrl")
    assert(c.filesRead == c.filesTotal && c.filesTotal > 1,
      s"control should read every file: ${c.filesRead}/${c.filesTotal}")
    // correctness of the skip: the probe found the row
    assert(spark.table("graft.pqb_orders")
      .where(col("o_orderkey") === aKey).count() == 1)
    spark.sql("DROP TABLE graft.pqb_orders")
    spark.sql("DROP TABLE graft.pqb_ctrl")
  }

  test("hidden partitioning days(ts): a raw timestamp range predicate " +
      "skips day-files and stays row-exact at mid-day boundaries") {
    freshCatalog()
    SparkEntry.queries("scan_hidden_days")(spark, sf).collect()
    val m = scanMetrics(spark.table("graft.hpd_events")
      .where(col("ts") >= org.apache.spark.sql.functions
        .lit("2024-01-25 00:00:00").cast("timestamp")), "graft.hpd_events")
    assert(m.filesTotal >= 25,
      s"expected ~30 day-files: ${m.filesTotal}")
    assert(m.filesRead < m.filesTotal / 2,
      s"raw ts predicate should skip most day-files: " +
        s"${m.filesRead}/${m.filesTotal}")
    // exactness: mid-day boundary — pruning keeps the whole day, the
    // residual row filter trims inside it
    val cut = "2024-01-28 12:00:00"
    val got = spark.table("graft.hpd_events")
      .where(col("ts") >= org.apache.spark.sql.functions.lit(cut)
        .cast("timestamp")).count()
    val want = spark.table("hpd_events_src")
      .where(col("ts") >= org.apache.spark.sql.functions.lit(cut)
        .cast("timestamp")).count()
    assert(got == want, s"mid-day boundary: $got != $want")
    assert(got > 0, "the boundary cut should keep rows at every sf")
    // .partitions metadata serves the transform key
    val pcols = spark.table("graft.hpd_events.partitions").columns
    assert(pcols.contains("ts_day"), pcols.mkString(","))
    spark.sql("DROP TABLE graft.hpd_events")
  }

  test("hidden partitioning truncate(w, k): raw key ranges prune " +
      "ordered truncation-range partitions; equality keeps exactly " +
      "its range") {
    freshCatalog()
    SparkEntry.queries("scan_hidden_trunc")(spark, sf).collect()
    // parquet store with a spec-sized width (the id itself uses 4096,
    // partition-count-appropriate for bench data): the raw range
    // probe opens only its ranges' files
    spark.sql("DROP TABLE IF EXISTS graft.hpt_pq")
    spark.sql("CREATE TABLE graft.hpt_pq (o_orderkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE) " +
      "PARTITIONED BY (truncate(256, o_orderkey)) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.hpt_pq SELECT * FROM hpt_orders_src")
    val m = scanMetrics(spark.table("graft.hpt_pq")
      .where(col("o_orderkey") < 200L), "graft.hpt_pq")
    assert(m.filesTotal > 2,
      s"need several range files: ${m.filesTotal}")
    assert(m.filesRead < m.filesTotal,
      s"range predicate should skip files: " +
        s"${m.filesRead}/${m.filesTotal}")
    assert(m.keptPartitions == 1,
      s"sub-width range must keep ONE range group: " +
        s"${m.keptPartitions}/${m.totalPartitions}")
    // equality probes exactly one truncation range
    val me = scanMetrics(spark.table("graft.hpt_pq")
      .where(col("o_orderkey") === 1200L), "graft.hpt_pq")
    assert(me.keptPartitions <= 1,
      s"equality must keep at most one range: ${me.keptPartitions}")
    spark.sql("DROP TABLE graft.hpt_pq")
    // exactness across a range boundary
    val got = spark.table("graft.hpt_orders")
      .where(col("o_orderkey").between(200L, 1300L)).count()
    val want = spark.table("hpt_orders_src")
      .where(col("o_orderkey").between(200L, 1300L)).count()
    assert(got == want, s"boundary range: $got != $want")
    assert(got > 0, "the boundary range should keep rows at every sf")
    spark.sql("DROP TABLE graft.hpt_orders")
  }

  test("guards: unsupported column types and unknown store modes " +
      "refuse at CREATE") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqbad_t")
    val exType = intercept[Exception] {
      spark.sql("CREATE TABLE graft.pqbad_t (k BIGINT, " +
        "e ARRAY<DOUBLE>) TBLPROPERTIES ('graft.store'='parquet')")
    }
    assert(exType.getMessage.contains("unsupported type"),
      exType.getMessage)
    // parquet is the one store: any other mode refuses, the retired
    // in-JVM 'memory' store included
    Seq("orc", "memory").foreach { mode =>
      val exMode = intercept[Exception] {
        spark.sql("CREATE TABLE graft.pqbad_t (k BIGINT) " +
          s"TBLPROPERTIES ('graft.store'='$mode')")
      }
      assert(exMode.getMessage.contains("unknown graft.store"),
        exMode.getMessage)
    }
  }

  // ---- DELETION VECTORS (round 11) ----------------------------------

  /** seed a dv-mode table with `n` keys range-laid-out over 4 task
    * files sorted by k — contiguous disjoint key ranges, the layout
    * that gives the zone-map prescreen its power. */
  private def seedDv(table: String, n: Int): Unit = {
    freshCatalog()
    spark.sql(s"DROP TABLE IF EXISTS graft.$table")
    spark.sql(s"CREATE TABLE graft.$table (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.delete.mode'='dv')")
    spark.range(n).selectExpr("id AS k", "id * 1.5 AS v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .writeTo(s"graft.$table").append()
  }

  private def listDataFiles(table: String): Map[String, Long] = {
    val dir = GraftParquetStore.meta(table).get.dir
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      // `_graft_log` is the durable TRANSACTION LOG, not data — a
      // metadata-only commit legitimately appends a log entry; the
      // zero-bytes pin is about DATA files
      kids.filter(d => d.isDirectory && d.getName != "_graft_log")
        .flatMap(walk) ++ kids.filter(_.isFile)
    }
    walk(new java.io.File(dir)).map(f =>
      f.getAbsolutePath -> f.length()).toMap
  }

  test("DV delete is metadata-only and MEASURED: files wholly matched " +
      "leave the manifest, the boundary file gets a bitmap, files the " +
      "zone maps prove clean are never opened, and ZERO bytes land on " +
      "disk") {
    seedDv("pqdv_t", 200)
    val v0 = GraftTableStore.commitFiles("graft.pqdv_t", 0)
      .sortBy(_.stats(0).min.asInstanceOf[Long])
    assert(v0.length == 4, s"expected 4 task files, got ${v0.length}")
    val disk0 = listDataFiles("graft.pqdv_t")
    // bound inside file 1's range: file 0 prescreens (max < bound),
    // file 1 partially matches (DV), files 2..3 wholly match (drop)
    val f1min = v0(1).stats(0).min.asInstanceOf[Long]
    val f1max = v0(1).stats(0).max.asInstanceOf[Long]
    val bound = (f1min + f1max) / 2 + 1 // strictly inside the range
    spark.sql(s"DELETE FROM graft.pqdv_t WHERE k >= $bound")
    // the commit is a manifest swap, operation 'delete-dv'
    val ops = spark.table("graft.pqdv_t.history")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(1L) == "delete-dv", s"history: $ops")
    // ZERO bytes written or rewritten: identical file set and sizes
    assert(listDataFiles("graft.pqdv_t") == disk0,
      "a DV delete must not create, delete or rewrite any data file")
    val v1 = GraftTableStore.commitFiles("graft.pqdv_t", 1)
      .sortBy(_.stats(0).min.asInstanceOf[Long])
    // files 2..3 left the manifest; file 0 survives BY REFERENCE
    assert(v1.length == 2, s"manifest: ${v1.map(_.path)}")
    assert(v1(0) eq v0(0), "the prescreened file must keep its " +
      "manifest object (reference identity)")
    // the boundary file carries the bitmap
    val dvd = v1(1)
    assert(dvd.path == v0(1).path && dvd.dv.isDefined)
    assert(dvd.dv.get.card == (f1max - bound + 1).toInt)
    assert(dvd.liveRows == dvd.rows - dvd.dv.get.card)
    // measured: 4 files total, 1 prescreened (never opened)
    val m = graft.sources.GraftDvMetrics.last("graft.pqdv_t")
    assert(m.filesTotal == 4 && m.filesOpened == 3 &&
      m.filesDropped == 2 && m.filesDvd == 1,
      s"dv metrics: $m")
    assert(m.rowsDeleted == 200L - bound)
    // reads: live rows only; time travel to the pre-delete snapshot
    assert(spark.table("graft.pqdv_t").count() == bound)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.pqdv_t VERSION AS OF 0")
      .collect()(0).getLong(0) == 200L)
    assert(spark.table("graft.pqdv_t")
      .agg(org.apache.spark.sql.functions.max("k"))
      .collect()(0).getLong(0) == bound - 1)
    spark.sql("DROP TABLE graft.pqdv_t")
  }

  test("DV bitmaps UNION across deletes, and a second DELETE can add " +
      "a bitmap to a previously untouched file") {
    seedDv("pqdv_u", 200)
    val v0 = GraftTableStore.commitFiles("graft.pqdv_u", 0)
      .sortBy(_.stats(0).min.asInstanceOf[Long])
    val f0min = v0(0).stats(0).min.asInstanceOf[Long]
    val f1min = v0(1).stats(0).min.asInstanceOf[Long]
    spark.sql(s"DELETE FROM graft.pqdv_u WHERE k = $f1min")
    spark.sql(s"DELETE FROM graft.pqdv_u WHERE k IN ($f0min, " +
      s"${f1min + 1})")
    val head = GraftTableStore.commitFiles("graft.pqdv_u", 2)
      .sortBy(_.stats(0).min.asInstanceOf[Long])
    assert(head(0).dv.exists(_.card == 1), "file 0 gains a DV on the " +
      "second delete")
    assert(head(1).dv.exists(_.card == 2), "file 1's bitmaps must " +
      s"union (got ${head(1).dv})")
    assert(spark.table("graft.pqdv_u").count() == 197)
    // idempotent re-delete: nothing new matches, but the commit is
    // still a delete-dv with zero rows (manifest unchanged by value)
    spark.sql(s"DELETE FROM graft.pqdv_u WHERE k = $f0min")
    assert(spark.table("graft.pqdv_u").count() == 197)
    spark.sql("DROP TABLE graft.pqdv_u")
  }

  test("the DELETE plan itself takes the metadata path on a dv table " +
      "(no ReplaceData), while the CoW table keeps the row-level " +
      "rewrite for the same pushable predicate") {
    seedDv("pqdv_p", 100)
    val dvPlan = spark.sql(
      "DELETE FROM graft.pqdv_p WHERE k >= 90")
      .queryExecution.executedPlan.toString
    assert(!dvPlan.contains("ReplaceData"),
      s"dv delete must not plan a row-level rewrite:\n$dvPlan")
    assert(dvPlan.contains("DeleteFromTable"), dvPlan)
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqcow_p")
    spark.sql("CREATE TABLE graft.pqcow_p (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqcow_p SELECT id, id * 1.5 " +
      "FROM range(100)")
    val cowPlan = spark.sql(
      "DELETE FROM graft.pqcow_p WHERE k >= 90")
      .queryExecution.executedPlan.toString
    assert(cowPlan.contains("ReplaceData"),
      s"without dv mode the delete must stay copy-on-write:\n$cowPlan")
    assert(spark.table("graft.pqdv_p").count() == 90)
    assert(spark.table("graft.pqcow_p").count() == 90)
    spark.sql("DROP TABLE graft.pqdv_p")
    spark.sql("DROP TABLE graft.pqcow_p")
  }

  test("manifest aggregates with DVs: COUNT(*) still answers from the " +
      "manifest (rows minus dv cardinality, zero files opened); " +
      "MIN/MAX decline and compute exactly") {
    seedDv("pqdv_a", 200)
    val v0 = GraftTableStore.commitFiles("graft.pqdv_a", 0)
      .sortBy(_.stats(0).min.asInstanceOf[Long])
    // bound STRICTLY INSIDE file 2's key range, so a DV is guaranteed
    // (a boundary-aligned bound would only drop files — no bitmap, and
    // the manifest could legitimately keep answering MIN/MAX)
    val f2min = v0(2).stats(0).min.asInstanceOf[Long]
    val f2max = v0(2).stats(0).max.asInstanceOf[Long]
    val bound = (f2min + f2max) / 2 + 1
    spark.sql(s"DELETE FROM graft.pqdv_a WHERE k >= $bound")
    assert(GraftTableStore.commitFiles("graft.pqdv_a", 1)
      .exists(_.dv.isDefined), "test setup: a DV must exist")
    val cnt = spark.table("graft.pqdv_a").groupBy()
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(cnt.collect()(0).getLong(0) == bound)
    val mCnt = scanReport(cnt, "graft.pqdv_a")
    assert(mCnt.filesRead == 0,
      s"COUNT(*) must stay manifest-answered under DVs: $mCnt")
    // MIN/MAX can no longer trust physical zone maps (the extreme row
    // may be deleted) — the scan opens files and computes exactly
    val mxDf = spark.table("graft.pqdv_a").groupBy()
      .agg(org.apache.spark.sql.functions.max("k").as("mx"))
    val mx = mxDf.collect()(0).getLong(0)
    assert(mx == bound - 1, s"MAX must reflect the DV: $mx")
    val mMax = scanReport(mxDf, "graft.pqdv_a")
    assert(mMax.filesRead > 0,
      s"MAX on a DV'd table must not be manifest-answered: $mMax")
    spark.sql("DROP TABLE graft.pqdv_a")
  }

  test("DV PURGE rewrites ONLY the bitmap-carrying files; DV-free " +
      "entries survive by reference, reads are unchanged, and the " +
      "purge is idempotent") {
    seedDv("pqdv_g", 200)
    val v0 = GraftTableStore.commitFiles("graft.pqdv_g", 0)
      .sortBy(_.stats(0).min.asInstanceOf[Long])
    val f1min = v0(1).stats(0).min.asInstanceOf[Long]
    // one scattered-bit delete inside file 1 only
    spark.sql(s"DELETE FROM graft.pqdv_g WHERE k IN ($f1min, " +
      s"${f1min + 3})")
    val pre = spark.table("graft.pqdv_g").orderBy("k")
      .collect().map(_.toString).toSeq
    val n = graft.api.GraftApi.purgeDeletes(spark, "graft.pqdv_g")
    assert(n == 1, s"exactly the one DV'd file rewrites, got $n")
    val ops = spark.table("graft.pqdv_g.history")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(2L) == "purge-dv", s"history: $ops")
    val head = GraftTableStore.commitFiles("graft.pqdv_g", 2)
    assert(head.forall(_.dv.isEmpty), "purge must clear every DV")
    // the three untouched files keep their manifest objects
    val headPaths = head.map(_.path).toSet
    val kept = GraftTableStore.commitFiles("graft.pqdv_g", 1)
      .filter(f => headPaths.contains(f.path))
    assert(kept.length == 3 &&
      kept.forall(f => head.exists(_ eq f)),
      "DV-free entries must survive the purge by reference")
    val post = spark.table("graft.pqdv_g").orderBy("k")
      .collect().map(_.toString).toSeq
    assert(post == pre, "purge must never change a read")
    assert(graft.api.GraftApi.purgeDeletes(spark, "graft.pqdv_g") == 0,
      "a DV-free table purges as a no-op")
    spark.sql("DROP TABLE graft.pqdv_g")
  }

  test("a non-pushable predicate on a dv table falls back to the " +
      "row-level CoW path and still deletes exactly its rows") {
    seedDv("pqdv_f", 90)
    spark.sql("DELETE FROM graft.pqdv_f WHERE k % 3 = 0")
    val ops = spark.table("graft.pqdv_f.history")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(1L) != "delete-dv",
      s"modulo cannot push — the delete must not claim the DV path: " +
        s"$ops")
    assert(spark.table("graft.pqdv_f").count() == 60)
    spark.sql("DROP TABLE graft.pqdv_f")
  }

  test("optimistic concurrency: a manifest commit computed against a " +
      "stale head refuses loudly instead of losing the interleaved " +
      "writer's commit") {
    seedDv("pqdv_o", 40)
    val files = GraftTableStore.commitFiles("graft.pqdv_o", 0)
    // an interleaved append moves the head from 0 to 1
    spark.sql("INSERT INTO graft.pqdv_o SELECT id + 100, 0.0 " +
      "FROM range(5)")
    val ex = intercept[IllegalStateException] {
      GraftTableStore.commitParquetManifest("graft.pqdv_o", files,
        files.map(_.rows).sum, "delete-dv", None, expectedHead = 0)
    }
    assert(ex.getMessage.contains("concurrent commit detected"),
      ex.getMessage)
    assert(spark.table("graft.pqdv_o").count() == 45)
    spark.sql("DROP TABLE graft.pqdv_o")
  }

  test("guards: graft.delete.mode validates at CREATE (dv requires " +
      "the parquet store; unknown modes refuse)") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqdvbad_t")
    val exMode = intercept[Exception] {
      spark.sql("CREATE TABLE graft.pqdvbad_t (k BIGINT) " +
        "TBLPROPERTIES ('graft.store'='parquet', " +
        "'graft.delete.mode'='sidecar')")
    }
    assert(exMode.getMessage.contains("unknown graft.delete.mode"),
      exMode.getMessage)
  }

  test("partition-level DV delete is PURE metadata: an identity-" +
      "partition predicate drops whole files by manifest key — ZERO " +
      "files opened, zero bitmaps computed") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqdv_part")
    spark.sql("CREATE TABLE graft.pqdv_part (k BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES " +
      "('graft.store'='parquet', 'graft.delete.mode'='dv')")
    spark.sql("INSERT INTO graft.pqdv_part SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
      "ELSE 'c' END FROM range(90)")
    val filesBefore =
      GraftTableStore.commitFiles("graft.pqdv_part", 0).length
    spark.sql("DELETE FROM graft.pqdv_part WHERE p = 'b'")
    val m = graft.sources.GraftDvMetrics.last("graft.pqdv_part")
    assert(m.filesOpened == 0,
      s"a partition delete must not open a file: $m")
    assert(m.filesDropped > 0 && m.filesDvd == 0, s"$m")
    assert(m.rowsDeleted == 30L, s"$m")
    val ops = spark.table("graft.pqdv_part.history")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(1L) == "delete-dv", s"history: $ops")
    assert(spark.table("graft.pqdv_part").count() == 60)
    assert(spark.table("graft.pqdv_part")
      .where(col("p") === "b").count() == 0)
    // files of the surviving partitions are untouched by reference
    val after = GraftTableStore.commitFiles("graft.pqdv_part", 1)
    val before = GraftTableStore.commitFiles("graft.pqdv_part", 0)
    assert(after.forall(f => before.exists(_ eq f)),
      "surviving entries must be the same manifest objects")
    assert(after.length < filesBefore)
    // a MIXED predicate (partition + row) still computes bitmaps
    spark.sql("DELETE FROM graft.pqdv_part WHERE p = 'a' AND k < 9")
    val m2 = graft.sources.GraftDvMetrics.last("graft.pqdv_part")
    assert(m2.filesOpened > 0 && m2.rowsDeleted == 3L, s"$m2")
    assert(spark.table("graft.pqdv_part").count() == 57)
    spark.sql("DROP TABLE graft.pqdv_part")
  }

  test("bin-packing compaction: small files merge within (key, spec, " +
      "width) groups, big and DV'd files survive by reference, reads " +
      "are unchanged, re-run is a no-op") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqbp_t")
    spark.sql("CREATE TABLE graft.pqbp_t (k BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES " +
      "('graft.store'='parquet', 'graft.delete.mode'='dv')")
    // 4 small commits × 2 partitions = ≥8 small files
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO graft.pqbp_t SELECT id + ${i * 20}, " +
        "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(20)"))
    // a DV'd file must survive the pack BY REFERENCE (purge first is
    // the contract for merging it)
    spark.sql("DELETE FROM graft.pqbp_t WHERE k = 1")
    val head0 = GraftTableStore.commitCount("graft.pqbp_t") - 1
    val files0 = GraftTableStore.commitFiles("graft.pqbp_t", head0)
    val dvd = files0.filter(_.dv.isDefined)
    assert(dvd.length == 1, s"setup: one DV'd file, got ${dvd.length}")
    val pre = spark.table("graft.pqbp_t").orderBy("k")
      .collect().map(_.toString).toSeq
    val mergedAway = graft.api.GraftApi.rewriteSmallFiles(spark,
      "graft.pqbp_t", 1000)
    assert(mergedAway > 0, "small files must merge")
    val head1 = GraftTableStore.commitCount("graft.pqbp_t") - 1
    val files1 = GraftTableStore.commitFiles("graft.pqbp_t", head1)
    assert(files1.length == files0.length - mergedAway)
    // the DV'd entry is the same manifest OBJECT
    assert(files1.exists(_ eq dvd.head),
      "the DV'd file must survive by reference")
    // merged files keep the partition-key grouping: pruning still works
    val m = scanMetrics(spark.table("graft.pqbp_t").where(col("p") === "x"),
      "graft.pqbp_t")
    assert(m.filesRead < m.filesTotal,
      s"partition pruning must survive the pack: $m")
    val post = spark.table("graft.pqbp_t").orderBy("k")
      .collect().map(_.toString).toSeq
    assert(post == pre, "compaction must never change a read")
    assert(graft.api.GraftApi.rewriteSmallFiles(spark,
      "graft.pqbp_t", 1000) == 0, "re-run must be a no-op")
    // time travel to the pre-pack version still serves the old layout
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft.pqbp_t VERSION AS OF $head0")
      .collect()(0).getLong(0) == 79)
    spark.sql("DROP TABLE graft.pqbp_t")
  }

  test("metadata columns _file/_pos: per-file physical addresses, " +
      "stable across DV deletes; MoR op-log extras read NULL") {
    seedDv("pqmeta_t", 40)
    // four files, each internally dense from position 0
    val perFile = spark.sql("SELECT _file, COUNT(*) AS n, " +
      "MIN(_pos) AS p0, MAX(_pos) AS p1 FROM graft.pqmeta_t " +
      "GROUP BY 1").collect()
    assert(perFile.length == 4)
    perFile.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == r.getLong(1) - 1,
        s"pre-delete positions must be dense: $r")
    }
    // DV delete: survivors keep their PHYSICAL addresses (gaps appear)
    val before = spark.sql("SELECT k, _file, _pos FROM graft.pqmeta_t")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    spark.sql("DELETE FROM graft.pqmeta_t WHERE k IN (3, 17, 31)")
    val after = spark.sql("SELECT k, _file, _pos FROM graft.pqmeta_t")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(after.size == 37 && !after.contains(3L))
    after.foreach { case (k, addr) =>
      assert(before(k) == addr,
        s"row $k moved from ${before(k)} to $addr across a DV delete")
    }
    // a MoR table's op-log extras live in no file → NULL metadata
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqmeta_m")
    spark.sql("CREATE TABLE graft.pqmeta_m (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.pqmeta_m SELECT id, 1.0 FROM range(5)")
    spark.sql("UPDATE graft.pqmeta_m SET v = 2.0 WHERE k = 2")
    val meta = spark.sql(
      "SELECT k, _file IS NULL AS nf FROM graft.pqmeta_m")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(meta(2L), "the op-log post-image lives in no file")
    assert(!meta(0L), "file-resident rows keep their address")
    spark.sql("DROP TABLE graft.pqmeta_t")
    spark.sql("DROP TABLE graft.pqmeta_m")
  }

  test("streaming reads a parquet-backed table per commit: the " +
      "append-only prefix identity survives the file round-trip") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqstream_t")
    spark.sql("CREATE TABLE graft.pqstream_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqstream_t SELECT id FROM range(10)")
    spark.sql("INSERT INTO graft.pqstream_t SELECT id + 10 FROM range(5)")
    val out = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream.table("graft.pqstream_t")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.addAndGet(df.count()); ()
      }
      .start()
    q.awaitTermination(60000)
    assert(out.get() == 15,
      s"streamed ${out.get()} rows from the parquet-backed table")
    spark.sql("DROP TABLE graft.pqstream_t")
  }

  // ---- TASK-SIDE REWRITES (round 12): every maintenance/rewrite
  // shape stages its output files IN SPARK TASKS and commits
  // manifests — the driver never materializes a base row.

  /** count tasks completed while `op` runs — evidence the rewrite ran
    * as a distributed job, not a driver loop. The listener bus is
    * async: spin briefly until the expected floor arrives. */
  private def tasksDuring(op: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try op finally ()
    val deadline = System.nanoTime() + 5000000000L
    while (n.get() == 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("DV purge and bin-packing run TASK-SIDE: Spark tasks stage the " +
      "rewritten files, untouched entries survive by reference, rows " +
      "are unchanged") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqtsr_t")
    spark.sql("CREATE TABLE graft.pqtsr_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.delete.mode'='dv')")
    spark.range(400).selectExpr("id AS k", "id * 1.5 AS v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .writeTo("graft.pqtsr_t").append()
    spark.sql("DELETE FROM graft.pqtsr_t WHERE k >= 120 AND k < 130")
    val before = spark.table("graft.pqtsr_t").collect()
      .map(_.toString).sorted.toSeq
    val v1 = GraftTableStore.commitFiles("graft.pqtsr_t", 1)
    val dvCount = v1.count(_.dv.isDefined)
    assert(dvCount == 1, s"expected one bitmapped file: $v1")
    // PURGE: a Spark job ran; only the bitmapped file was rewritten;
    // clean files keep their manifest OBJECTS (reference identity)
    val t1 = tasksDuring {
      assert(graft.api.GraftApi.purgeDeletes(spark, "graft.pqtsr_t")
        == 1)
    }
    assert(t1 >= 1, "DV purge launched no Spark task — driver loop?")
    val v2 = GraftTableStore.commitFiles("graft.pqtsr_t", 2)
    assert(v2.forall(_.dv.isEmpty))
    val keptRefs = v1.filter(_.dv.isEmpty)
    assert(keptRefs.forall(f => v2.exists(_ eq f)),
      "DV-free entries must survive BY REFERENCE through the purge")
    assert(spark.table("graft.pqtsr_t").collect()
      .map(_.toString).sorted.toSeq == before)
    // BIN-PACK: many small appends, then one task-side merge pass
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO graft.pqtsr_t VALUES (${1000 + i}, 0.5)"))
    val all = spark.table("graft.pqtsr_t").collect()
      .map(_.toString).sorted.toSeq
    val t2 = tasksDuring {
      assert(graft.api.GraftApi.rewriteSmallFiles(spark,
        "graft.pqtsr_t", targetRows = 50) > 0)
    }
    assert(t2 >= 1, "bin-packing launched no Spark task — driver loop?")
    assert(spark.table("graft.pqtsr_t").collect()
      .map(_.toString).sorted.toSeq == all)
    spark.sql("DROP TABLE graft.pqtsr_t")
  }

  test("INSERT OVERWRITE (REPLACE WHERE) commits FILE-GRANULAR: files " +
      "the zone maps prove clean survive BY REFERENCE, only unproven " +
      "files rewrite task-side, and no base version materializes on " +
      "the driver") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqovw_t")
    spark.sql("CREATE TABLE graft.pqovw_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.range(400).selectExpr("id AS k", "id * 2.0 AS v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .writeTo("graft.pqovw_t").append()
    val v0 = GraftTableStore.commitFiles("graft.pqovw_t", 0)
      .sortBy(_.stats(0).min.asInstanceOf[Long])
    assert(v0.length == 4)
    // boundary strictly inside file 2's range: files 0..1 provably
    // clean (zone maps), file 2 partially matches (task rewrite),
    // file 3 wholly matches (all rows rewritten away)
    val f2min = v0(2).stats(0).min.asInstanceOf[Long]
    val f2max = v0(2).stats(0).max.asInstanceOf[Long]
    val bound = (f2min + f2max) / 2 + 1
    spark.sql("INSERT INTO graft.pqovw_t REPLACE WHERE k >= " + bound +
      " SELECT id + 10000 AS k, 1.0 AS v FROM range(10)")
    val expectKept = spark.range(400)
      .selectExpr("id AS k", "id * 2.0 AS v")
      .where(col("k") < bound).count()
    assert(spark.table("graft.pqovw_t").count() == expectKept + 10)
    val v1 = GraftTableStore.commitFiles("graft.pqovw_t", 1)
    // clean files kept their manifest OBJECTS
    assert(v1.exists(_ eq v0(0)) && v1.exists(_ eq v0(1)),
      "zone-map-proven files must survive by reference")
    // the wholly-matched file is gone; the boundary file was
    // rewritten (fresh path, fewer rows)
    assert(!v1.exists(_.path == v0(3).path))
    assert(!v1.exists(_.path == v0(2).path))
    val rewritten = v1.filter(f => !v0.exists(_ eq f) &&
      f.stats.get(0).exists(_.min.asInstanceOf[Long] < 10000))
    assert(rewritten.map(_.rows).sum ==
      (expectKept - v0(0).rows - v0(1).rows),
      s"boundary rewrite row count off: ${v1.map(_.rows)}")
    // the base version was NEVER materialized on the driver
    assert(!GraftTableStore.isResolvedCached("graft.pqovw_t", 0),
      "overwrite resolved the base snapshot driver-side")
    assert(!GraftTableStore.isResolvedCached("graft.pqovw_t", 1))
    // history op + oracle-style content check
    val ops = spark.table("graft.pqovw_t.history")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(1L) == "overwrite", s"history: $ops")
    spark.sql("DROP TABLE graft.pqovw_t")
  }

  test("dynamic partition overwrite is FILE-GRANULAR on a partitioned " +
      "parquet table: untouched partitions keep their files by " +
      "reference; CoW DELETE (ReplaceData) stages its snapshot in " +
      "tasks") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqdyn_t")
    spark.sql("CREATE TABLE graft.pqdyn_t (k BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqdyn_t SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(100)")
    val v0 = GraftTableStore.commitFiles("graft.pqdyn_t", 0)
    val prevMode =
      spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql("INSERT OVERWRITE graft.pqdyn_t " +
        "SELECT id + 1000, 'a' FROM range(7)")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      prevMode)
    val v1 = GraftTableStore.commitFiles("graft.pqdyn_t", 1)
    // partition 'b' untouched — same manifest objects
    val bFiles = v0.filter(_.key.getUTF8String(0).toString == "b")
    assert(bFiles.nonEmpty && bFiles.forall(f => v1.exists(_ eq f)),
      "untouched partition must survive by reference")
    assert(spark.table("graft.pqdyn_t")
      .where(col("p") === "a").count() == 7)
    assert(spark.table("graft.pqdyn_t")
      .where(col("p") === "b").count() == 50)
    // CoW row-level DELETE: the replace snapshot stages in tasks and
    // the base version is never driver-materialized... the rewrite
    // SCAN reads files task-side, ReplaceData recomputes survivors,
    // and the commit adopts staged files only
    spark.sql("DELETE FROM graft.pqdyn_t WHERE k % 10 = 3")
    // deleted: k=1003 from partition 'a' (1) + odd ids ending in 3
    // from partition 'b' (3,13,...,93 → 10) = 11 of 57
    assert(spark.table("graft.pqdyn_t").count() == 46)
    val ops = spark.table("graft.pqdyn_t.history")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(2L) == "replace", s"history: $ops")
    assert(!GraftTableStore.isResolvedCached("graft.pqdyn_t", 1),
      "CoW DELETE materialized the base snapshot driver-side")
    spark.sql("DROP TABLE graft.pqdyn_t")
  }

  test("manifest-diff CHANGE FEED: an append-only window plans FILE " +
      "partitions over exactly the appended files (zero snapshot " +
      "materialization), MoR deltas serve O(changes) rows, " +
      "maintenance commits emit nothing") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqcdf_t")
    spark.sql("CREATE TABLE graft.pqcdf_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.pqcdf_t SELECT id, id * 1.0 " +
      "FROM range(100)") // v0 append
    spark.sql("INSERT INTO graft.pqcdf_t SELECT id + 100, 2.0 " +
      "FROM range(20)") // v1 append (shares v0 files)
    spark.sql("DELETE FROM graft.pqcdf_t WHERE k % 25 = 3") // v2 delta
    val physSchema = GraftParquetStore.meta("graft.pqcdf_t").get.schema
    // the distributed pre-image regime (a small table's v1 state would
    // resolve on the driver instead — the feed pins below cover that)
    val parts = Gate.distributed(graft.sources.GraftChangeFeed.planParts(
      "graft.pqcdf_t", physSchema, 0, 0, 3))
    // v0 + v1: file partitions over exactly the appended files
    val fileParts = parts.collect {
      case f: graft.sources.GraftCdfFilePartition => f
    }
    val v0Files = GraftTableStore.commitFiles("graft.pqcdf_t", 0)
    val v1Files = GraftTableStore.commitFiles("graft.pqcdf_t", 1)
    val appended = (v0Files ++ v1Files.drop(v0Files.length)).map(_.path)
    assert(fileParts.flatMap(_.files).map(_.path).sorted.toSeq ==
      appended.sorted.toSeq,
      "append feed must plan exactly the appended files")
    // neither base version was materialized on the driver by planning
    assert(!GraftTableStore.isResolvedCached("graft.pqcdf_t", 0))
    assert(!GraftTableStore.isResolvedCached("graft.pqcdf_t", 1))
    // the whole feed still reads EXACTLY the Delta-CDF content —
    // checked against expected counts (order-free)
    val feed = spark.read.option("startingVersion", 0)
      .table("graft.pqcdf_t.changes")
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") == 120, s"$byType")
    assert(byType("delete") == 5, s"$byType") // k in {3,28,53,78,103}
    // a maintenance commit is SILENT in the feed: compact + binpack
    graft.api.GraftApi.optimizeTable(spark, "graft.pqcdf_t") // v3
    val feed3 = spark.read.option("startingVersion", 3)
      .table("graft.pqcdf_t.changes")
    assert(feed3.count() == 0,
      "a content-neutral maintenance commit must not appear in the feed")
    spark.sql("DROP TABLE graft.pqcdf_t")
  }

  /** a MoR table of `n` rows (v0), then a DELETE and an UPDATE — two
    * delta commits whose feed needs pre-images */
  private def seedMorDeltas(t: String, n: Int): Unit = {
    freshCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 1.0 FROM range($n)")
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 3") // v1 delta
    spark.sql(s"UPDATE $t SET v = -v WHERE k % 10 = 4") // v2 delta
  }

  test("a small MoR table's 2-commit change feed runs ONE Spark job: " +
      "pre-images resolve on the driver, and the distributed regime " +
      "plans its lookups once per scan") {
    val t = "graft.pqcdf_jobs"
    seedMorDeltas(t, 1500)
    def feed = spark.read.option("startingVersion", 1)
      .table(s"$t.changes")
    val jobs = new JobCounter(spark.sparkContext)
    try {
      val rows = jobs.tagged("gated")(feed.collect())
      assert(rows.length == 150 + 2 * 150, s"${rows.length} feed rows")
      assert(jobs.jobs("gated") == 1,
        s"the feed ran ${jobs.jobs("gated")} jobs, not 1")
      // forced distributed: one id lookup per delta commit, planned
      // once — a scan planned twice would run each lookup twice
      Gate.distributed(jobs.tagged("distributed")(feed.collect()))
      assert(jobs.jobs("distributed") == 1 + 2,
        s"the distributed feed ran ${jobs.jobs("distributed")} jobs")
    } finally jobs.close()
    spark.sql(s"DROP TABLE $t")
  }

  test("change-feed pre-image regimes agree: a delta window and an " +
      "equality-delete window read the same rows resolved on the " +
      "driver and by the distributed lookup") {
    val t = "graft.pqcdf_regimes"
    seedMorDeltas(t, 400)
    def feed(from: Int): Seq[String] = spark.read
      .option("startingVersion", from).table(s"$t.changes")
      .collect().map(_.toString).sorted.toSeq
    val deltas = regimesAgree("delta pre-images")(feed(1))
    assert(deltas.count(_.contains("update_preimage")) == 40 &&
      deltas.count(_.contains(",delete,")) == 40, deltas.take(3))
    // keys 1 and 4 are live (4 updated at v2), 3 was deleted at v1
    graft.api.GraftApi.deleteWhereKeyIn(spark, t, "k", Seq(1L, 4L, 3L))
    val eq = regimesAgree("equality-delete pre-images")(feed(3))
    assert(eq == Seq("[1,1.0,delete,3]", "[4,-4.0,delete,3]"), eq)
    spark.sql(s"DROP TABLE $t")
  }

  test("an append onto a MoR delta head commits its rows as an " +
      "insert-only op log; an id the fold cannot keep apart persists " +
      "base + rows as files") {
    freshCatalog()
    val t = "graft.pqappd_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, 1.0 FROM range(10)") // v0
    spark.sql(s"UPDATE $t SET v = -1.0 WHERE k = 1") // v1 delta
    spark.sql(s"INSERT INTO $t VALUES (100, 2.0), (101, 2.0)") // v2
    assert(GraftTableStore.commitKind(t, 2) == "delta")
    assert(GraftTableStore.history(t).map(h => (h._2, h._3)) ==
      Vector(("append", 10), ("delta", 10), ("append", 12)))
    assert((0 to 2).forall(v => !GraftTableStore.isResolvedCached(t, v)),
      "the append resolved a version on the driver")
    val feed = spark.read.option("startingVersion", 2)
      .table(s"$t.changes").collect().map(_.toString).sorted.toSeq
    assert(feed == Seq("[100,2.0,insert,2]", "[101,2.0,insert,2]"), feed)
    // k = 1 lives as an op-log extra: a second row with that id must
    // stay a second row, which the fold's by-id extras cannot hold
    spark.sql(s"INSERT INTO $t VALUES (1, 5.0)") // v3
    assert(GraftTableStore.commitKind(t, 3) == "parquet")
    assert(spark.table(t).where(col("k") === 1L).collect()
      .map(_.getDouble(1)).sorted.toSeq == Seq(-1.0, 5.0))
    assert(spark.table(t).count() == 13)
    spark.sql(s"DROP TABLE $t")
  }

  test("OPTIMIZE (compact) of a MoR delta chain runs TASK-SIDE on a " +
      "file-backed table: base files restage in tasks, only op-log " +
      "extras pass the driver, no base version materializes " +
      "driver-side, and reads are unchanged") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqcmp_t")
    spark.sql("CREATE TABLE graft.pqcmp_t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.pqcmp_t SELECT id, 'x' FROM range(200)")
    spark.sql("DELETE FROM graft.pqcmp_t WHERE k % 9 = 0") // v1 delta
    // v2 delta: the UPDATE post-images are the folded extras the
    // compact must carry through the driver (O(changes) by contract).
    // NOTE: no plain INSERT lands mid-chain — an append onto a delta
    // head takes the round-10 materializing fallback by design, which
    // would populate the resolution cache this pin asserts empty.
    spark.sql("UPDATE graft.pqcmp_t SET s = 'y' WHERE k % 7 = 0") // v2
    val before = spark.table("graft.pqcmp_t").collect()
      .map(_.toString).sorted.toSeq
    val t = tasksDuring {
      assert(graft.api.GraftApi.optimizeTable(spark,
        "graft.pqcmp_t") > 0)
    }
    assert(t >= 1, "compact launched no Spark task — driver loop?")
    val v5 = GraftTableStore.commitCount("graft.pqcmp_t") - 1
    assert(GraftTableStore.commitKind("graft.pqcmp_t", v5) == "parquet",
      "the compacted head must be a file manifest")
    // no version of the table was materialized on the driver
    (0 to v5).foreach(v =>
      assert(!GraftTableStore.isResolvedCached("graft.pqcmp_t", v),
        s"compact resolved v$v driver-side"))
    assert(spark.table("graft.pqcmp_t").collect()
      .map(_.toString).sorted.toSeq == before, "compact changed reads")
    // idempotent: nothing left to compact
    assert(graft.api.GraftApi.optimizeTable(spark, "graft.pqcmp_t") == 0)
    spark.sql("DROP TABLE graft.pqcmp_t")
  }

  test("OPTIMIZE ZORDER of a MoR table with a delta head stays " +
      "task-side: the chain compacts into a manifest first, rows are " +
      "unchanged and no version materializes driver-side") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqzmor_t")
    spark.sql("CREATE TABLE graft.pqzmor_t (k BIGINT, b INT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.pqzmor_t " +
      "SELECT id, CAST(id * 7 % 50 AS INT), 'x' FROM range(300)")
    spark.sql("DELETE FROM graft.pqzmor_t WHERE k % 9 = 0") // v1 delta
    spark.sql("UPDATE graft.pqzmor_t SET s = 'y' WHERE k % 7 = 0") // v2
    assert(GraftTableStore.commitKind("graft.pqzmor_t", 2) == "delta")
    val before = spark.table("graft.pqzmor_t").collect()
      .map(_.toString).sorted.toSeq
    val t = tasksDuring {
      graft.api.GraftApi.optimizeZorder(spark, "graft.pqzmor_t", "k", "b")
    }
    val head = GraftTableStore.commitCount("graft.pqzmor_t") - 1
    (0 to head).foreach(v =>
      assert(!GraftTableStore.isResolvedCached("graft.pqzmor_t", v),
        s"z-order resolved v$v driver-side"))
    assert(t >= 1, "z-order launched no Spark task — driver loop?")
    assert(GraftTableStore.commitKind("graft.pqzmor_t", head) == "parquet",
      "the z-ordered head must be a file manifest")
    // the MoR chain folds through one content-neutral compact first
    assert(GraftTableStore.history("graft.pqzmor_t").map(_._2)
      .takeRight(2) == Vector("compact", "zorder"))
    assert(spark.table("graft.pqzmor_t").collect()
      .map(_.toString).sorted.toSeq == before, "z-order changed reads")
    spark.sql("DROP TABLE graft.pqzmor_t")
  }

  test("a MoR chain of equality deletes on two columns (no file view " +
      "folds it) reads, compacts and z-orders to the recomputed rows") {
    freshCatalog()
    val t = "graft.pqeq2_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, g BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, id % 10, concat('s', id) " +
      "FROM range(200)")
    // the rows a from-scratch recomputation gives after deleting `ks`
    // by k and `gs` by g
    var ks = Set.empty[Long]
    var gs = Set.empty[Long]
    def expected: Seq[String] = (0L until 200L)
      .filter(k => !ks.contains(k) && !gs.contains(k % 10))
      .map(k => org.apache.spark.sql.Row(k, k % 10, s"s$k").toString)
      .sorted
    def rows: Seq[String] =
      spark.table(t).collect().map(_.toString).sorted.toSeq
    def deleteBoth(k: Seq[Long], g: Seq[Long]): Unit = {
      graft.api.GraftApi.deleteWhereKeyIn(spark, t, "k", k)
      graft.api.GraftApi.deleteWhereKeyIn(spark, t, "g", g)
      ks ++= k; gs ++= g
    }
    deleteBoth(Seq(10L, 21L, 32L), Seq(3L))
    assert(rows == expected, "scan of the two-column chain")
    // the scan took the row path: it resolved the head on the driver
    val v2 = GraftTableStore.commitCount(t) - 1
    assert(GraftTableStore.isResolvedCached(t, v2),
      "the two-column chain was expected to take the row path")
    assert(graft.api.GraftApi.optimizeTable(spark, t) == 2)
    val v3 = GraftTableStore.commitCount(t) - 1
    assert(GraftTableStore.commitKind(t, v3) == "parquet")
    assert(rows == expected, "compact of the two-column chain")
    deleteBoth(Seq(44L, 55L), Seq(7L))
    graft.api.GraftApi.optimizeZorder(spark, t, "k", "g")
    val head = GraftTableStore.commitCount(t) - 1
    assert(GraftTableStore.commitKind(t, head) == "parquet")
    assert(GraftTableStore.history(t).map(_._2).takeRight(2) ==
      Vector("compact", "zorder"))
    assert(rows == expected, "z-order of the two-column chain")
    spark.sql(s"DROP TABLE $t")
  }

  test("REPLACE WHERE onto a parquet MoR table whose head is a delta " +
      "commit takes the row path and lands the recomputed rows") {
    freshCatalog()
    val t = "graft.pqrwmor_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql(s"INSERT INTO $t SELECT id, id * 2.0 FROM range(100)")
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 0") // v1 delta head
    assert(GraftTableStore.commitKind(t, 1) == "delta")
    spark.sql(s"INSERT INTO $t REPLACE WHERE k >= 50 " +
      "SELECT id + 1000 AS k, 1.0 AS v FROM range(10)")
    val expected = ((0L until 100L)
      .filter(k => k % 10 != 0 && k < 50).map(k => (k, k * 2.0)) ++
      (0L until 10L).map(i => (i + 1000L, 1.0))).sorted
    val got = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(got == expected)
    // the fallback merged the delta base on the driver
    assert(GraftTableStore.isResolvedCached(t, 1),
      "the overwrite was expected to take the row path")
    assert(GraftTableStore.history(t).map(_._2).last == "overwrite")
    spark.sql(s"DROP TABLE $t")
  }

  test("REPLACE WHERE on a column added with a DEFAULT replaces the " +
      "files written before the column, whose rows read the default") {
    freshCatalog()
    val t = "graft.pqrwdef_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(10)")
    spark.sql(s"ALTER TABLE $t ADD COLUMN d INT DEFAULT 5")
    spark.sql(s"INSERT INTO $t SELECT id + 10, 7 FROM range(3)")
    assert(spark.table(t).where(col("d") === 5).count() == 10)
    spark.sql(s"INSERT INTO $t REPLACE WHERE d = 5 AND k >= 4 " +
      "SELECT 100L AS k, 6 AS d")
    val got = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val expected = ((0L until 4L).map(k => (k, 5)) ++
      (10L until 13L).map(k => (k, 7)) :+ ((100L, 6))).sorted
    assert(got == expected)
    spark.sql(s"DROP TABLE $t")
  }

  test("appends, an UPDATE, a bin-pack and a refused maintenance " +
      "commit leave none of their staging directories behind") {
    freshCatalog()
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def stageDirs: Set[String] =
      Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => d.isDirectory && (d.getName.startsWith("graft-stage-")
          || d.getName.startsWith("graft-rewrite-")))
        .map(_.getName).toSet
    val t = "graft.pqstage_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    val before = stageDirs
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO $t SELECT id, 'a' " +
        s"FROM range(${i * 20}, ${i * 20 + 20})"))
    spark.sql(s"UPDATE $t SET s = 'b' WHERE k % 3 = 0")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO $t SELECT id, 'c' " +
        s"FROM range(${100 + i * 10}, ${110 + i * 10})"))
    assert(graft.api.GraftApi.rewriteSmallFiles(spark, t, 1000) > 0)
    // a DELETE lands between the next bin-pack's staging and its
    // commit and rewrites the files it merged: the commit is refused
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO $t SELECT id, 'd' " +
        s"FROM range(${200 + i * 10}, ${210 + i * 10})"))
    GraftTableStore.maintenanceStallHook = Some { () =>
      spark.sql(s"DELETE FROM $t WHERE s = 'd' AND k % 2 = 0"); ()
    }
    val ex =
      try intercept[Exception] {
        graft.api.GraftApi.rewriteSmallFiles(spark, t, 1000)
      } finally GraftTableStore.maintenanceStallHook = None
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("concurrent")),
      ex.toString)
    val left = stageDirs -- before
    assert(left.isEmpty, s"staging directories left behind: $left")
    spark.sql(s"DROP TABLE $t")
  }

  test("VACUUM orphan sweep: crashed staging past the grace window " +
      "is collected, in-flight staging survives, a conflicted " +
      "commit's adopted files are collected, and referenced files " +
      "are never touched") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqgc_t")
    spark.sql("CREATE TABLE graft.pqgc_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql("INSERT INTO graft.pqgc_t SELECT id, " +
      "CAST(id AS DOUBLE) FROM range(100)")
    spark.table("graft.pqgc_t")
    val m = GraftParquetStore.meta("graft.pqgc_t").get
    val df = spark.range(50)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    // CRASHED staging: staged, never committed, aged past the grace
    val (crashed, _) = GraftParquetStore.stageAppendTaskSide(spark, m, df)
    crashed.foreach { f =>
      // age the whole staging dir, every file in it
      val dir = new java.io.File(f.path).getParentFile
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(_.setLastModified(1000L))
      dir.setLastModified(1000L)
      ()
    }
    // IN-FLIGHT staging: fresh — must survive the sweep
    val (inflight, _) = GraftParquetStore.stageAppendTaskSide(spark, m, df)
    // CRASHED ADOPTION: a file adopted into a version dir by a commit
    // that never became durable (commits verify cross-process tails
    // BEFORE adoption now, so only a process death can leave this —
    // simulated directly)
    val referenced = GraftTableStore.commitFiles("graft.pqgc_t", 0)
      .map(_.path).toSet
    val refFile = new java.io.File(referenced.head)
    val adoptedOrphan = new java.io.File(refFile.getParentFile,
      "t9999.parquet")
    java.nio.file.Files.copy(refFile.toPath, adoptedOrphan.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val orphaned = Array(adoptedOrphan)
    orphaned.foreach(f => f.setLastModified(1000L))
    val swept = graft.api.GraftApi.vacuumOrphans(spark, "graft.pqgc_t",
      graceMs = 60000L)
    assert(swept >= crashed.size + orphaned.length,
      s"swept $swept, expected >= ${crashed.size + orphaned.length}")
    crashed.foreach(f => assert(!new java.io.File(f.path).exists(),
      s"crashed staged file survived: ${f.path}"))
    inflight.foreach(f => assert(new java.io.File(f.path).exists(),
      s"in-flight staged file was collected: ${f.path}"))
    orphaned.foreach(f => assert(!f.exists(),
      s"adopted orphan survived: $f"))
    referenced.foreach(p => assert(new java.io.File(p).exists(),
      s"referenced file was collected: $p"))
    assert(spark.table("graft.pqgc_t").count() == 100)
    inflight.foreach(f => new java.io.File(f.path).delete())
    spark.sql("DROP TABLE graft.pqgc_t")
  }

  test("transactional staging runs ONE writer task per input " +
      "partition and streams rows through the incremental append " +
      "writers — no 8-task groupByKey funnel, no task buffers its " +
      "group") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.pqtxs_t")
    spark.sql("CREATE TABLE graft.pqtxs_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.table("graft.pqtxs_t")
    val m = GraftParquetStore.meta("graft.pqtxs_t").get
    // 13 input partitions — above the old path's hard cap of 8
    val df = spark.range(1300)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").repartition(13)
    var staged: (Vector[graft.sources.GraftFileInfo], Long) = null
    val tasks = tasksDuring {
      staged = GraftParquetStore.stageAppendTaskSide(spark, m, df)
    }
    assert(staged._2 == 1300L, s"staged ${staged._2} of 1300 rows")
    // one staging task per input partition, each with exactly one
    // open file (unpartitioned table, one key) — 13 staged files
    // proves the parallelism FOLLOWS the input, not a fixed cap
    assert(staged._1.size == 13,
      s"expected 13 staged files (one per input partition), got " +
        s"${staged._1.size}")
    assert(tasks >= 13, s"only $tasks tasks ran for 13 partitions")
    assert(staged._1.map(_.rows).sum == 1300)
    staged._1.foreach(f => new java.io.File(f.path).delete())
    spark.sql("DROP TABLE graft.pqtxs_t")
  }

  test("TYPE WIDENING is metadata-only: pre-widen files read upcast " +
      "through the widened schema, post-widen writes land wide, zone " +
      "maps PRUNE in the widened domain over pre-widen files, the " +
      "widen survives a restart replay, and the refusal matrix holds") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.widp_t")
    spark.sql("CREATE TABLE graft.widp_t (k INT, seg STRING, f FLOAT) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    // two pre-widen commits with DISJOINT key ranges — distinct files
    // whose zone maps a post-widen predicate must still prune
    spark.sql("INSERT INTO graft.widp_t SELECT id, 'lo', " +
      "CAST(id % 100 AS FLOAT) FROM range(0, 1000)")
    spark.sql("INSERT INTO graft.widp_t SELECT id, 'hi', " +
      "CAST(id % 100 AS FLOAT) FROM range(100000, 101000)")
    spark.sql("ALTER TABLE graft.widp_t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graft.widp_t ALTER COLUMN f TYPE DOUBLE")
    // post-widen rows beyond the INT range — only representable wide
    spark.sql("INSERT INTO graft.widp_t SELECT id + 10000000000, " +
      "'wide', CAST(0.25 AS DOUBLE) FROM range(100)")
    // pre-widen values read upcast and exact
    assert(spark.table("graft.widp_t").count() == 2100)
    val sums = spark.sql("SELECT CAST(SUM(k) AS BIGINT) ks, " +
      "MIN(f) fmin, MAX(f) fmax FROM graft.widp_t").collect()(0)
    assert(sums.getLong(0) ==
      (0L until 1000).sum + (100000L until 101000).sum +
        (0L until 100).map(_ + 10000000000L).sum, sums)
    assert(sums.getDouble(1) == 0.0 && sums.getDouble(2) == 99.0)
    // zone maps prune pre-widen files through the BIGINT predicate
    val m = scanMetrics(spark.table("graft.widp_t").where("k < 500"),
      "graft.widp_t")
    assert(m.filesTotal >= 3 && m.filesRead < m.filesTotal,
      s"widened-domain pruning opened every file: $m")
    // the equality probe beyond INT range prunes the narrow files
    assert(spark.table("graft.widp_t")
      .where("k = 10000000042").count() == 1)
    // durability: a fresh process replays the widened state (the
    // widen checkpointed, so replay decodes one type domain)
    graft.sources.GraftLog.simulateProcessRestart(Seq("graft.widp_t"))
    assert(spark.table("graft.widp_t").count() == 2100)
    assert(spark.table("graft.widp_t").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    val m2 = scanMetrics(spark.table("graft.widp_t").where("k < 500"),
      "graft.widp_t")
    assert(m2.filesRead < m2.filesTotal,
      s"pruning lost after replay: $m2")
    // ---- refusal matrix
    def refuses(sql: String, frag: String): Unit = {
      val ex = org.scalatest.Assertions.withClue(sql)(
        intercept[Exception](spark.sql(sql)))
      def rootMsg(t: Throwable): String = {
        var c: Throwable = t; val sb = new StringBuilder
        while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
        sb.toString
      }
      assert(rootMsg(ex).contains(frag), s"$sql → ${rootMsg(ex)}")
    }
    // non-widening conversions — Spark's analyzer pre-gates these
    // (Cast.canUpCast), so only genuine widenings ever reach the
    // catalog; the catalog's own `widens` check is the backstop for
    // programmatic TableChange callers
    refuses("ALTER TABLE graft.widp_t ALTER COLUMN seg TYPE BIGINT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    refuses("ALTER TABLE graft.widp_t ALTER COLUMN k TYPE INT",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    // partition column
    spark.sql("DROP TABLE IF EXISTS graft.widp_part")
    spark.sql("CREATE TABLE graft.widp_part (k INT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    refuses("ALTER TABLE graft.widp_part ALTER COLUMN k TYPE BIGINT",
      "partition column")
    // bloom-indexed column (typed hashes)
    spark.sql("DROP TABLE IF EXISTS graft.widp_bloom")
    spark.sql("CREATE TABLE graft.widp_bloom (k INT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.bloom.columns'='k')")
    refuses("ALTER TABLE graft.widp_bloom ALTER COLUMN k TYPE BIGINT",
      "bloom")
    // merge-on-read row id
    spark.sql("DROP TABLE IF EXISTS graft.widp_mor")
    spark.sql("CREATE TABLE graft.widp_mor (k INT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    refuses("ALTER TABLE graft.widp_mor ALTER COLUMN k TYPE BIGINT",
      "row id")
    Seq("graft.widp_t", "graft.widp_part", "graft.widp_bloom",
      "graft.widp_mor").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("DECLARED SORT ORDER keeps zone-map skipping alive without " +
      "ZORDER: appends range-sort through Spark's required ordering, " +
      "bin-pack compaction merges SORTED, pruning is measured before " +
      "and after, and the order survives a restart replay") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.tso_p")
    spark.sql("CREATE TABLE graft.tso_p (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.sort-order'='k')")
    // three appends of SCRAMBLED keys over the same wide range — an
    // unsorted write would give every file the full [0, 90000) span.
    // AQE would coalesce this tiny shuffle to ONE range partition (at
    // real scale it keeps ~64 MB ranges); pin >1 partition so the
    // per-file contiguity is observable at test size.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalesceWas = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      for (i <- 0 until 3)
        spark.sql("INSERT INTO graft.tso_p " +
          s"SELECT ((id * 7919 + $i) % 90000), id * 1.0 " +
          "FROM range(30000)")
    } finally spark.conf.set(coalesceKey, coalesceWas)
    def prunes(tag: String): Unit = {
      val low = spark.table("graft.tso_p").where("k < 1000")
      assert(low.count() > 0)
      val m = scanMetrics(low, "graft.tso_p")
      assert(m.filesTotal >= 3 && m.filesRead < m.filesTotal,
        s"$tag: sort-order pruning opened every file: $m")
    }
    val total = spark.table("graft.tso_p").count()
    prunes("after appends")
    // compaction MERGES SORTED — skipping must survive it
    val reduced = graft.api.GraftApi.rewriteSmallFiles(spark,
      "graft.tso_p", 40000)
    assert(reduced > 0, "bin-pack merged nothing — test is vacuous")
    assert(spark.table("graft.tso_p").count() == total)
    prunes("after bin-pack")
    // the declared order is durable state: a fresh process keeps
    // sorting appends and pruning
    graft.sources.GraftLog.simulateProcessRestart(Seq("graft.tso_p"))
    spark.sql("INSERT INTO graft.tso_p " +
      "SELECT ((id * 104729 + 3) % 90000), id * 1.0 FROM range(30000)")
    assert(spark.table("graft.tso_p").count() == total + 30000)
    prunes("after replay + append")
    // dropping a sort column refuses
    val ex = intercept[Exception](
      spark.sql("ALTER TABLE graft.tso_p DROP COLUMN k"))
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(ex).contains("sort order"), rootMsg(ex))
    spark.sql("DROP TABLE graft.tso_p")
  }

  test("equality delete: O(1) commit with ZERO files opened, " +
      "read-time resolution, CDC derivation of matched keys only, " +
      "restart replay, and purge_deletes compacting the chain away") {
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.eqdel_t")
    // the CDC-upsert shape: the table declares its upsert key as the
    // MoR row id, so the change feed can diff eq-deletes by key
    spark.sql("CREATE TABLE graft.eqdel_t (k BIGINT, seg STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet', " +
      "'graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.eqdel_t " +
      "SELECT id, concat('s', id % 3) FROM range(100)")
    spark.sql("INSERT INTO graft.eqdel_t " +
      "SELECT id + 100, concat('s', id % 3) FROM range(100)")
    // delete keys 10,20,...,90 (all live) and 500,510 (absent: no-ops)
    val keys = (1L to 9L).map(_ * 10L) ++ Seq(500L, 510L)
    val v = graft.api.GraftApi.deleteWhereKeyIn(spark, "graft.eqdel_t",
      "k", keys)
    // the commit opened NO data file — the O(1) promise, measured
    val m = graft.sources.GraftDvMetrics.last("graft.eqdel_t")
    assert(m.filesOpened == 0, s"eq-delete opened files: $m")
    assert(GraftTableStore.commitKind("graft.eqdel_t", v) == "eqdelete")
    // read-time resolution: exactly the 9 matched rows are gone
    assert(spark.table("graft.eqdel_t").count() == 191)
    assert(spark.table("graft.eqdel_t")
      .where(col("k").isin(keys: _*)).count() == 0)
    // pre-delete version is untouched (time travel over the chain)
    assert(spark.sql(
      s"SELECT * FROM graft.eqdel_t VERSION AS OF ${v - 1}")
      .count() == 200)
    // DESCRIBE HISTORY's n_rows resolves LAZILY and lands exact
    val hist = spark.table("graft.eqdel_t.history")
      .where(col("version") === v).collect()
    assert(hist.length == 1 && hist(0).getLong(2) == 191L,
      s"history row: ${hist.mkString}")
    // CDC: the eq-delete version's feed = one delete per MATCHED key
    val feed = spark.read.option("startingVersion", v)
      .option("endingVersion", v).table("graft.eqdel_t.changes")
      .where(col("_change_type") === "delete")
      .collect().map(_.getLong(0)).toSet
    assert(feed == (1L to 9L).map(_ * 10L).toSet, s"feed: $feed")
    // restart: the log entry replays and the readout is unchanged
    graft.sources.GraftLog.simulateProcessRestart(Seq("graft.eqdel_t"))
    assert(spark.table("graft.eqdel_t").count() == 191)
    assert(spark.table("graft.eqdel_t")
      .where(col("k") === 500L || col("k") === 20L).count() == 0)
    // an append lands on top of the eq-delete chain; both resolve
    spark.sql("INSERT INTO graft.eqdel_t VALUES (20, 'back')")
    assert(spark.table("graft.eqdel_t").count() == 192)
    // purge_deletes compacts the chain: the head is a plain manifest,
    // the content identical, the pinned eq-delete version still walks
    // the deferred resolution
    graft.api.GraftApi.purgeDeletes(spark, "graft.eqdel_t")
    val head = GraftTableStore.commitCount("graft.eqdel_t") - 1
    assert(GraftTableStore.commitKind("graft.eqdel_t", head) == "parquet")
    assert(spark.table("graft.eqdel_t").count() == 192)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.eqdel_t " +
      s"VERSION AS OF $v").collect()(0).getLong(0) == 191L)
    spark.sql("DROP TABLE graft.eqdel_t")
  }

  test("scan planning packs small files: an unpartitioned N-file " +
      "table plans at most defaultParallelism input partitions and " +
      "reads every file; a partitioned table keeps one per key") {
    freshCatalog()
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    spark.sql("DROP TABLE IF EXISTS graft.pack_t")
    spark.sql("CREATE TABLE graft.pack_t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    (0 until 12).foreach { i =>
      spark.sql("INSERT INTO graft.pack_t SELECT id, CAST(id AS STRING) " +
        s"FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)")
    }
    val n = spark.table("graft.pack_t.files").count().toInt
    assert(n >= 12, s"expected a file per append, found $n")
    val df = spark.table("graft.pack_t")
    val m = scanMetrics(df, "graft.pack_t")
    assert(m.keptPartitions >= 1 && m.keptPartitions <= par,
      s"$n files planned ${m.keptPartitions} partitions (> $par): $m")
    assert(m.filesTotal == n && m.filesRead == n, s"$m")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq == (0L until 120L).map(k => (k, k.toString)))
    spark.sql("DROP TABLE graft.pack_t")

    spark.sql("DROP TABLE IF EXISTS graft.packp_t")
    spark.sql("CREATE TABLE graft.packp_t (k BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('graft.store'='parquet')")
    (0 until 4).foreach { i =>
      spark.sql("INSERT INTO graft.packp_t SELECT id, " +
        "CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END " +
        s"FROM range(${i * 30}, ${i * 30 + 30}, 1, 1)")
    }
    val np = spark.table("graft.packp_t.files").count().toInt
    assert(np >= 12, s"expected a file per key per append, found $np")
    val pdf = spark.table("graft.packp_t")
    val mp = scanMetrics(pdf, "graft.packp_t")
    assert(mp.totalPartitions == 3 && mp.keptPartitions == 3 &&
      mp.filesRead == np, s"one partition per key expected: $mp")
    assert(pdf.collect().map(_.getLong(0)).sorted.toSeq == (0L until 120L))
    spark.sql("DROP TABLE graft.packp_t")
  }

  test("a corrupted data file fails its scan: a flipped byte inside a " +
      "data page trips the page CRC, a truncated file the manifest " +
      "length check") {
    import java.nio.file.Files
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.crpt_t")
    spark.sql("CREATE TABLE graft.crpt_t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    (0 until 2).foreach { i =>
      spark.sql("INSERT INTO graft.crpt_t SELECT id, CONCAT('v', id) " +
        s"FROM range(${i * 100}, ${i * 100 + 100}, 1, 1)")
    }
    val head = GraftTableStore.commitCount("graft.crpt_t") - 1
    val files = GraftTableStore.commitFiles("graft.crpt_t", head)
      .map(f => new java.io.File(f.path))
    assert(files.length == 2, s"files: $files")
    val Seq(a, b) = files
    def scan(): Set[Long] =
      spark.table("graft.crpt_t").collect().map(_.getLong(0)).toSet
    def failure(): String = {
      val ex = intercept[Exception](scan())
      Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" / ")
    }
    assert(scan() == (0L until 200L).toSet)
    // the last byte of the first column chunk lies in its last data
    // page's payload
    val pos = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(a.toPath))
      try {
        val c = r.getFooter.getBlocks.get(0).getColumns.get(0)
        (c.getStartingPos + c.getTotalSize - 1).toInt
      } finally r.close()
    }
    val original = Files.readAllBytes(a.toPath)
    val flipped = original.clone()
    flipped(pos) = (flipped(pos) ^ 0x5a).toByte
    Files.write(a.toPath, flipped)
    val crc = failure()
    assert(crc.contains("CRC"), s"flipped byte not caught by CRC: $crc")
    Files.write(a.toPath, original)
    assert(scan() == (0L until 200L).toSet)
    val raf = new java.io.RandomAccessFile(b, "rw")
    try raf.setLength(b.length() - 16) finally raf.close()
    val cut = failure()
    assert(cut.contains("corrupt data file") && cut.contains(b.getName),
      s"truncation not caught: $cut")
    spark.sql("DROP TABLE graft.crpt_t")
  }

  test("parquet-store writes start no OS process and leave no .crc " +
      "file: appends, an UPDATE and a compaction under JFR") {
    import scala.jdk.CollectionConverters._
    freshCatalog()
    spark.sql("DROP TABLE IF EXISTS graft.noproc_t")
    spark.sql("CREATE TABLE graft.noproc_t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val dump = java.nio.file.Files.createTempFile("graft-noproc", ".jfr")
    rec.start()
    val compacted =
      try {
        (0 until 4).foreach { i =>
          spark.sql("INSERT INTO graft.noproc_t SELECT id, " +
            s"CAST(id AS DOUBLE) FROM range(${i * 50}, ${i * 50 + 50})")
        }
        spark.sql("UPDATE graft.noproc_t SET v = v + 1 WHERE k % 3 = 0")
        graft.api.GraftApi.rewriteSmallFiles(spark, "graft.noproc_t",
          1000)
      } finally {
        rec.stop(); rec.dump(dump); rec.close()
      }
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
      .asScala.filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    java.nio.file.Files.delete(dump)
    val nStarted = started.length
    assert(nStarted == 0,
      s"$nStarted OS processes started, first: ${started.take(4)}")
    assert(compacted > 0, "the compaction rewrote no file")
    val dir = GraftParquetStore.meta("graft.noproc_t").get.dir
    val crcs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator.asScala.filter(_.toString.endsWith(".crc")).toList
    assert(crcs.isEmpty, s".crc files left: $crcs")
    val rows = spark.table("graft.noproc_t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == (0L until 200L).map(k =>
      k -> (if (k % 3 == 0) k + 1.0 else k.toDouble)).toMap)
    spark.sql("DROP TABLE graft.noproc_t")
  }
}
