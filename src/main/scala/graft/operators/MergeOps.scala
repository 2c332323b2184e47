package graft.operators

import graft.{Det, Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** Incremental upsert / SCD1 merge — the bread-and-butter ETL operator:
  * reconcile an existing snapshot with a delta batch into a new snapshot,
  * classifying every output row.
  *
  * Scale design: one full-outer shuffle join on the natural key (both
  * sides hash-partitioned on it — AQE handles skewed keys), and change
  * detection via a HASH-DIFF of the payload columns, so at 100 TB the
  * comparison is one 128-bit digest per row instead of N column
  * comparisons (and, in a real lake, the snapshot side can pre-store the
  * digest and skip reading unchanged payload columns entirely). With no
  * table format offering MERGE offline, full-outer + hash-diff IS the
  * standard rewrite.
  */
object MergeOps extends QueryModule {

  /** The ONE deterministic delta batch (shared by the relational merges
    * AND the native MERGE INTO path — divergent copies would let the
    * two forms silently answer different questions): +100.00 balance
    * for keys ≡0 (mod 7) (updates), untouched rows for keys ≡0 (mod 5)
    * (no-op upserts), and brand-new keys +1e6 for keys ≡0 (mod 13)
    * (inserts). */
  private def deltaOf(snap: org.apache.spark.sql.DataFrame) =
    snap.where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
      .unionAll(snap.where(col("c_custkey") % 5 === 0 &&
        col("c_custkey") % 7 =!= 0))
      .unionAll(snap.where(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(col("c_name"), lit(" (new)")).as("c_name"),
          col("c_acctbal")))

  /** Snapshot ⟗ delta with per-row action classification — shared core of
    * the SCD1 and SCD2 queries. */
  private def classified(s: org.apache.spark.sql.SparkSession, d: String) = {
    val snap = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val delta = deltaOf(snap)
    def digest(prefix: String) =
      md5(concat_ws("|", col(s"${prefix}c_name"), col(s"${prefix}c_acctbal")))
    val sSide = snap.select(col("c_custkey").as("s_key"),
      col("c_name").as("s_c_name"), col("c_acctbal").as("s_c_acctbal"))
    val dSide = delta.select(col("c_custkey").as("d_key"),
      col("c_name").as("d_c_name"), col("c_acctbal").as("d_c_acctbal"))
    sSide.join(dSide, col("s_key") === col("d_key"), "full_outer")
      .withColumn("action",
        when(col("s_key").isNull, "insert")
          .when(col("d_key").isNull, "carried")
          .when(digest("d_") === digest("s_"), "unchanged")
          .otherwise("updated"))
  }

  /** Seed a fresh 3-column DSv2 table under the graft catalog with the
    * customer snapshot — the shared setup of the native DELETE/UPDATE
    * ids (idempotent per invocation: drop + create + insert). With
    * `mor = true` the table opts into the merge-on-read
    * (`SupportsDelta` / WriteDelta) row-level plan shape, keyed by
    * c_custkey as the stable row id. */
  private[operators] def seedSnapshotTable(
      s: org.apache.spark.sql.SparkSession,
      d: String, table: String, mor: Boolean = false): Unit = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .createOrReplaceTempView("graft_rowlevel_base")
    val props =
      if (mor) " TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
        "'graft.row-id'='c_custkey')"
      else ""
    s.sql(s"DROP TABLE IF EXISTS graft.$table")
    s.sql(s"CREATE TABLE graft.$table (c_custkey BIGINT, " +
      s"c_name STRING, c_acctbal DOUBLE)$props")
    s.sql(s"INSERT INTO graft.$table " +
      "SELECT c_custkey, c_name, c_acctbal FROM graft_rowlevel_base")
  }

  /** Executable `MERGE INTO` through Spark's native row-level planner
    * against the in-repo DSv2 catalog
    * ([[graft.sources.GraftMergeCatalog]], copy-on-write): seed the
    * target with the snapshot + action='carried', then run the real
    * statement — matched-and-changed rows UPDATE (action='updated'),
    * matched-unchanged rows mark themselves, unmatched source rows
    * INSERT — and read the table back. Result = upsert_snapshot's
    * proven output exactly, so its oracle carries over verbatim; what
    * this id adds is the API surface (analysis, the MERGE cardinality
    * check, Catalyst's group-based ReplaceData rewrite + clause
    * projections — the plan shape Delta/Iceberg copy-on-write tables
    * produce at 100 TB). */
  private def mergeInto(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    val snap = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    snap.createOrReplaceTempView("graft_merge_base")
    deltaOf(snap).createOrReplaceTempView("graft_merge_delta")
    s.sql("DROP TABLE IF EXISTS graft.merge_target")
    s.sql("CREATE TABLE graft.merge_target (c_custkey BIGINT, " +
      "c_name STRING, c_acctbal DOUBLE, action STRING)")
    s.sql("INSERT INTO graft.merge_target " +
      "SELECT c_custkey, c_name, c_acctbal, 'carried' " +
      "FROM graft_merge_base")
    s.sql(
      """MERGE INTO graft.merge_target t
        |USING graft_merge_delta s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED AND (t.c_name <> s.c_name
        |    OR t.c_acctbal <> s.c_acctbal) THEN
        |  UPDATE SET c_name = s.c_name, c_acctbal = s.c_acctbal,
        |    action = 'updated'
        |WHEN MATCHED THEN UPDATE SET action = 'unchanged'
        |WHEN NOT MATCHED THEN
        |  INSERT (c_custkey, c_name, c_acctbal, action)
        |  VALUES (s.c_custkey, s.c_name, s.c_acctbal, 'insert')
        |""".stripMargin)
    s.table("graft.merge_target").orderBy("c_custkey")
  }

  /** merge_into against a MERGE-ON-READ target: the same three-clause
    * statement text, but the table declares `SupportsDelta` so Catalyst
    * plans the delta-based `WriteDelta` rewrite — the writer receives
    * row-level ops (delete-by-row-id / update / insert) instead of the
    * re-written group, the plan shape Delta deletion vectors / Iceberg
    * MoR produce, and the right one for small mutations against 100 TB
    * tables (write cost O(changed rows), not O(group)). The final
    * snapshot must be IDENTICAL to the copy-on-write path's, so
    * upsert_snapshot's oracle carries verbatim — what changes is the
    * plan, and PlanSpec pins WriteDelta here vs ReplaceData there. */
  private def mergeIntoMor(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    seedSnapshotTable(s, d, "merge_mor_target", mor = true)
    val snap = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    deltaOf(snap).createOrReplaceTempView("graft_merge_delta_mor")
    s.sql(
      """MERGE INTO graft.merge_mor_target t
        |USING graft_merge_delta_mor s
        |ON t.c_custkey = s.c_custkey
        |WHEN MATCHED AND (t.c_name <> s.c_name
        |    OR t.c_acctbal <> s.c_acctbal) THEN
        |  UPDATE SET c_name = s.c_name, c_acctbal = s.c_acctbal
        |WHEN NOT MATCHED THEN
        |  INSERT (c_custkey, c_name, c_acctbal)
        |  VALUES (s.c_custkey, s.c_name, s.c_acctbal)
        |""".stripMargin)
    // re-derive the action audit relationally (the MoR table carries
    // no action column — the classification is what upsert_snapshot's
    // oracle checks, so join it back from the shared classifier)
    val acts = classified(s, d).select(
      coalesce(col("d_key"), col("s_key")).as("c_custkey"),
      col("action"))
    s.table("graft.merge_mor_target")
      .join(acts, "c_custkey")
      .orderBy("c_custkey")
  }

  override def queries: Map[String, Q.Fn] = Map(
    // native MERGE INTO (DSv2 SupportsRowLevelOperations) — see
    // mergeInto above; oracle = upsert_snapshot's, carried verbatim
    "merge_into" -> ((s, d) => mergeInto(s, d)),

    // MERGE WITH SCHEMA EVOLUTION (Spark 4's native clause; Delta's
    // mergeSchema): the source carries a column the target lacks —
    // the analyzer computes the schema delta and ALTERs the target
    // (our AddColumn path: metadata-only, stored rows untouched, old
    // rows read the new column as NULL) before planning the merge, so
    // UPDATE SET * / INSERT * include the new column. The readout
    // groups by the evolved column: matched-updated rows carry their
    // source segment, untouched rows NULL, inserted rows 'new'.
    "merge_into_evolve" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("evo_base")
      s.sql("""SELECT c_custkey, c_name, c_acctbal + 50.0 AS c_acctbal,
                 CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END
                   AS segment
               FROM evo_base WHERE c_custkey % 3 = 0
               UNION ALL
               SELECT c_custkey + 9000000, c_name, 123.0, 'new'
               FROM evo_base WHERE c_custkey % 17 = 0""")
        .createOrReplaceTempView("evo_src")
      s.sql("DROP TABLE IF EXISTS graft.evolve_target")
      s.sql("CREATE TABLE graft.evolve_target (c_custkey BIGINT, " +
        "c_name STRING, c_acctbal DOUBLE)")
      s.sql("INSERT INTO graft.evolve_target SELECT * FROM evo_base")
      s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.evolve_target t
              |USING evo_src s
              |ON t.c_custkey = s.c_custkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *
              |""".stripMargin)
      s.table("graft.evolve_target")
        .groupBy("segment")
        .agg(count(lit(1)).as("n_rows"),
          (sum(graft.Det.dec2(col("c_acctbal"))) * 100).cast("long")
            .as("bal_cents"))
        .orderBy("segment")
    }),

    // the merge-on-read twin (SupportsDelta → WriteDelta plan shape);
    // identical final snapshot, delta-based write — see mergeIntoMor
    "merge_into_mor" -> ((s, d) => mergeIntoMor(s, d)),

    // native DELETE against the merge-on-read table: RewriteDeleteFrom
    // Table plans WriteDelta with delete-by-row-id ops — the deletion-
    // vector shape (O(deleted) write) — where sql_delete's copy-on-
    // write twin re-writes the surviving group. Same predicate, same
    // post-state oracle.
    "sql_delete_mor" -> ((s, d) => {
      seedSnapshotTable(s, d, "del_mor_target", mor = true)
      s.sql("DELETE FROM graft.del_mor_target WHERE c_custkey % 11 = 0")
      s.table("graft.del_mor_target").orderBy("c_custkey")
    }),

    // native `DELETE FROM ... WHERE` through the same row-level
    // planner (RewriteDeleteFromTable → group-based ReplaceData:
    // surviving rows re-written, deleted rows simply not emitted —
    // the copy-on-write delete every lake format plans). Predicate =
    // cdc_diff's delete rule, so the post-state is independently
    // pinned by that id's oracle family.
    "sql_delete" -> ((s, d) => {
      seedSnapshotTable(s, d, "del_target")
      s.sql("DELETE FROM graft.del_target WHERE c_custkey % 11 = 0")
      s.table("graft.del_target").orderBy("c_custkey")
    }),

    // `VERSION AS OF` time travel over the versioned DSv2 store: every
    // commit materializes a full snapshot (copy-on-write), so a
    // version resolves like a lake format resolves a snapshot id to
    // its manifest list. Seed (commit → version 0), run a native
    // UPDATE (commit → version 1), then read BOTH versions back
    // through the real `SELECT ... VERSION AS OF n` syntax — the
    // pre-image must stay intact (exact decimal cent totals prove it;
    // a raw double SUM would be association-dependent).
    "sql_time_travel" -> ((s, d) => {
      seedSnapshotTable(s, d, "tt_target")
      s.sql("UPDATE graft.tt_target SET c_acctbal = c_acctbal + 100.0 " +
        "WHERE c_custkey % 7 = 0")
      def snap(v: Int) = s.sql(
        s"SELECT CAST($v AS BIGINT) AS version, COUNT(*) AS n_rows, " +
          "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) " +
          s"AS total_cents FROM graft.tt_target VERSION AS OF $v")
      snap(0).unionAll(snap(1)).orderBy("version")
    }),

    // native `UPDATE ... SET ... WHERE` through the row-level planner
    // (RewriteUpdateTable → ReplaceData: carried rows pass through,
    // matched rows re-project). Assignment = the merge delta's
    // rebalance rule.
    "sql_update" -> ((s, d) => {
      seedSnapshotTable(s, d, "upd_target")
      s.sql("UPDATE graft.upd_target SET c_acctbal = c_acctbal + 100.0 " +
        "WHERE c_custkey % 7 = 0")
      s.table("graft.upd_target").orderBy("c_custkey")
    }),

    // SCD1: last-write-wins flat snapshot + action audit column
    "upsert_snapshot" -> ((s, d) =>
      classified(s, d)
        .select(
          coalesce(col("d_key"), col("s_key")).as("c_custkey"),
          coalesce(col("d_c_name"), col("s_c_name")).as("c_name"),
          coalesce(col("d_c_acctbal"), col("s_c_acctbal")).as("c_acctbal"),
          col("action"))
        .orderBy("c_custkey")),

    // SCD2: history-preserving merge — updated keys close their old
    // version (valid_to = batch date) and open a new current one; inserts
    // open a first version; unchanged/carried rows keep their open
    // version. Same single full-outer shuffle as SCD1 — the version rows
    // are a narrow union on top, so the 100 TB cost profile is identical.
    "upsert_scd2" -> ((s, d) => {
      val c = classified(s, d)
      val oldRows = c.where(col("s_key").isNotNull)
        .select(col("s_key").as("c_custkey"),
          col("s_c_name").as("c_name"),
          col("s_c_acctbal").as("c_acctbal"),
          lit("2024-01-01").as("valid_from"),
          when(col("action") === "updated", "2024-06-01")
            .otherwise("9999-12-31").as("valid_to"),
          when(col("action") === "updated", 0L).otherwise(1L)
            .as("is_current"))
      val newRows = c.where(col("action").isin("insert", "updated"))
        .select(col("d_key").as("c_custkey"),
          col("d_c_name").as("c_name"),
          col("d_c_acctbal").as("c_acctbal"),
          lit("2024-06-01").as("valid_from"),
          lit("9999-12-31").as("valid_to"),
          lit(1L).as("is_current"))
      oldRows.unionAll(newRows).orderBy("c_custkey", "valid_from")
    }),

    // NATIVE change feed (round 9, VERDICT r8 #3): cdc_diff's change
    // rows derived from the governed table's OWN version history — the
    // `table_changes(t, v0, v1)` readout — instead of a relational
    // re-derivation of both states. Seed a MERGE-ON-READ table with
    // the customer snapshot (version 0), then apply cdc_diff's exact
    // delta through NATIVE row-level statements (DELETE %11 → v1,
    // UPDATE %7 +100 → v2, INSERT %13 new keys → v3 — each planned as
    // WriteDelta delta ops keyed by c_custkey), and read the v0→v3
    // feed with GraftApi.tableChanges over `VERSION AS OF`. Output =
    // cdc_diff's oracle verbatim, and CatalogSpec asserts row-for-row
    // equality with cdc_diff on the same corpus — the feed over real
    // history and the relational diff must never disagree.
    "cdc_table_changes" -> ((s, d) => {
      seedSnapshotTable(s, d, "cdc_feed", mor = true) // commit: v0
      s.sql("DELETE FROM graft.cdc_feed WHERE c_custkey % 11 = 0") // v1
      s.sql("UPDATE graft.cdc_feed SET c_acctbal = c_acctbal + 100.0 " +
        "WHERE c_custkey % 7 = 0") // v2
      s.sql("INSERT INTO graft.cdc_feed " +
        "SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal " +
        "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0") // v3
      graft.api.GraftApi
        .tableChanges(s, "graft.cdc_feed", "c_custkey", 0, 3)
        .orderBy("c_custkey", "change_type")
    }),

    // CONSUMER-side CDC: replay the change feed onto the pre-change
    // snapshot and land on the post-change state — the other half of
    // the feed story (producing changes is useless if a downstream
    // can't apply them), and the correctness property every CDC
    // consumer must satisfy: base ⊕ feed = final state. Base = the v0
    // snapshot via VERSION AS OF; feed = the graft.<t>.changes
    // relation from startingVersion=1; replay = GraftApi.applyChanges
    // (last-effective-change-wins window — ONE feed shuffle + one
    // base anti-join, no per-commit loop). Oracle = the final state
    // derived independently in SQL.
    "cdc_apply_feed" -> ((s, d) => {
      seedSnapshotTable(s, d, "cdc_replay", mor = true) // v0
      s.sql("DELETE FROM graft.cdc_replay WHERE c_custkey % 11 = 0") // v1
      s.sql("UPDATE graft.cdc_replay SET c_acctbal = c_acctbal " +
        "+ 100.0 WHERE c_custkey % 7 = 0") // v2
      s.sql("INSERT INTO graft.cdc_replay " +
        "SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal " +
        "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0") // v3
      val base = s.sql("SELECT * FROM graft.cdc_replay VERSION AS OF 0")
      val feed = s.read.option("startingVersion", "1")
        .table("graft.cdc_replay.changes")
      graft.api.GraftApi.applyChanges(base, feed, "c_custkey",
        "_commit_version", "_change_type")
        .orderBy("c_custkey")
    }),

    // INCREMENTAL AGGREGATE MAINTENANCE over the change feed — the
    // materialized-view pattern: a grouped aggregate table is kept
    // current by applying signed feed deltas (insert → +value/+1 row,
    // delete → −value/−1, update → post − pre) instead of rescanning
    // the base — at 100 TB the maintenance cost is O(changes), and
    // the invariant this id PROVES via its oracle is the MV
    // correctness property: incrementally-maintained == recomputed
    // from the final state. Exact decimal cents throughout (signed
    // sums are order-insensitive only in exact arithmetic).
    "cdc_incremental_agg" -> ((s, d) => {
      seedSnapshotTable(s, d, "cdc_mv", mor = true) // v0
      s.sql("DELETE FROM graft.cdc_mv WHERE c_custkey % 11 = 0") // v1
      s.sql("UPDATE graft.cdc_mv SET c_acctbal = c_acctbal + 100.0 " +
        "WHERE c_custkey % 7 = 0") // v2
      s.sql("INSERT INTO graft.cdc_mv " +
        "SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal " +
        "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0") // v3
      val grp = (col("c_custkey") % 10).as("grp")
      val cents = (graft.Det.dec2(col("c_acctbal")) * 100).cast("long")
      val agg0 = s.sql("SELECT * FROM graft.cdc_mv VERSION AS OF 0")
        .groupBy(grp)
        .agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"))
      val sign = when(col("_change_type").isin("insert",
        "update_postimage"), 1L).otherwise(-1L)
      val rowDelta = when(col("_change_type") === "insert", 1L)
        .when(col("_change_type") === "delete", -1L).otherwise(0L)
      val deltas = s.read.option("startingVersion", "1")
        .table("graft.cdc_mv.changes")
        .groupBy(grp)
        .agg(sum(rowDelta).as("n_rows"),
          sum(sign * cents).as("cents"))
      agg0.unionByName(deltas)
        .groupBy("grp")
        .agg(sum("n_rows").as("n_rows"),
          (sum("cents").cast("double") / 100.0).as("total_bal"))
        .orderBy("grp")
    }),

    // METADATA-ONLY schema evolution through native DDL: ADD COLUMN
    // appends a nullable field without touching stored rows (old rows
    // read the new column as NULL — evolution on read, exactly
    // parquet's missing-column semantics, so time travel across the
    // evolution stays correct: CatalogSpec pins v0 reads), and RENAME
    // COLUMN rewrites only the schema (storage is positional). The id
    // seeds narrow rows (v0), ALTERs the schema, inserts WIDE rows
    // (v1), renames, and reads the union back — old rows NULL-padded,
    // new rows carrying balances, under the renamed column.
    "sql_alter_evolve" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("graft_rowlevel_base")
      s.sql("DROP TABLE IF EXISTS graft.evolve_t")
      s.sql("CREATE TABLE graft.evolve_t (c_custkey BIGINT, " +
        "c_name STRING)")
      s.sql("INSERT INTO graft.evolve_t " +
        "SELECT c_custkey, c_name FROM graft_rowlevel_base") // v0
      s.sql("ALTER TABLE graft.evolve_t ADD COLUMN c_acctbal DOUBLE")
      s.sql("INSERT INTO graft.evolve_t " +
        "SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal " +
        "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0") // v1
      s.sql("ALTER TABLE graft.evolve_t RENAME COLUMN c_name TO c_label")
      s.table("graft.evolve_t")
        .select("c_custkey", "c_label", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // TYPE WIDENING (round-13 verdict #4 — Iceberg v3 / Delta type
    // widening): `ALTER COLUMN ... TYPE` INT→BIGINT / FLOAT→DOUBLE is
    // METADATA-ONLY. Files written before the widening keep their
    // narrow stored type and upcast at decode (the reader projects by
    // ordinal against each file's own footer schema); writes after it
    // land widened — the post-widen keys here exceed the INT range,
    // so they are only representable through the widening. Zone maps
    // compare in the widened domain (pruning over pre-widen files
    // stays measured — ParquetStoreSpec), and the widen checkpoints
    // so a fresh process replays one consistent type domain. At
    // 100 TB this is what saves an under-provisioned key type from a
    // full rewrite. Widening a partition / row-id / bloom-indexed
    // column refuses loudly (typed key domains and typed hashes).
    "sql_alter_widen" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.orders(s, d)
        .select(col("o_orderkey").cast("int").as("ok_i"),
          col("o_orderstatus"),
          (col("o_orderkey") % 1000).cast("float").as("pf"))
        .createOrReplaceTempView("wid_src")
      s.sql("DROP TABLE IF EXISTS graft.wid_t")
      s.sql("CREATE TABLE graft.wid_t (o_orderkey INT, " +
        "o_orderstatus STRING, price_f FLOAT) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
      s.sql("INSERT INTO graft.wid_t SELECT * FROM wid_src")
      s.sql("ALTER TABLE graft.wid_t " +
        "ALTER COLUMN o_orderkey TYPE BIGINT")
      s.sql("ALTER TABLE graft.wid_t " +
        "ALTER COLUMN price_f TYPE DOUBLE")
      s.sql("INSERT INTO graft.wid_t " +
        "SELECT CAST(ok_i AS BIGINT) + 10000000000, o_orderstatus, " +
        "CAST(pf AS DOUBLE) + 0.5 FROM wid_src WHERE ok_i % 11 = 0")
      s.table("graft.wid_t")
        .where("o_orderkey < 600 OR o_orderkey >= 10000000000")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").cast("long").as("key_sum"),
          min("price_f").as("price_min"),
          max("price_f").as("price_max"))
        .orderBy("o_orderstatus")
    }),

    // INFORMATIONAL CONSTRAINTS (ANSI RELY — what real warehouses
    // use for join elimination and optimizer trust): PRIMARY KEY /
    // UNIQUE / FOREIGN KEY attach NOT ENFORCED, are stored and served
    // through the same constraint surface as CHECK, and an ENFORCED
    // non-CHECK refuses loudly rather than silently not enforcing.
    // The readout is the information-schema listing plus the refusal
    // flag; sql_check_constraint covers the enforced family.
    "sql_rely_constraints" -> ((s, d) => {
      seedSnapshotTable(s, d, "rely_target")
      s.sql("ALTER TABLE graft.rely_target ADD CONSTRAINT pk_cust " +
        "PRIMARY KEY (c_custkey) NOT ENFORCED RELY")
      s.sql("ALTER TABLE graft.rely_target ADD CONSTRAINT uq_name " +
        "UNIQUE (c_name) NOT ENFORCED")
      val enforcedRefused = try {
        s.sql("ALTER TABLE graft.rely_target ADD CONSTRAINT pk_bad " +
          "PRIMARY KEY (c_custkey) ENFORCED")
        false
      } catch { case _: Throwable => true }
      graft.api.GraftApi.tableConstraints(s, "graft.rely_target")
        .withColumn("enforced_refused", lit(enforcedRefused))
        .orderBy("c_name")
    }),

    // RELY JOIN ELIMINATION — the optimization informational
    // constraints exist FOR: with FOREIGN KEY ... RELY on the fact and
    // PRIMARY KEY ... RELY on the dimension, an inner FK→PK join that
    // uses no dimension columns is provably a no-op (every non-null FK
    // matches exactly one PK row) and the injected optimizer rule
    // (graft.plans.EliminateRelyJoins, via GraftExtensions) replaces
    // it with IS NOT NULL on the FK — at 100 TB an entire dimension
    // shuffle+build gone from every "join just in case" query. The id
    // runs the joined query through the extension-wired session,
    // asserts the optimized plan really lost the Join, and the oracle
    // RUNS THE JOIN — proving elimination preserved semantics on a
    // corpus where the declared integrity actually holds. CatalogSpec
    // pins the refusal controls (dimension column used, filtered
    // dimension, constraint without RELY).
    "join_elim_rely" -> ((s0, d) => {
      val s = graft.GraftExtensions.sessionWithViews(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        .createOrReplaceTempView("jer_cust_src")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("jer_orders_src")
      s.sql("DROP TABLE IF EXISTS graft.jer_fact")
      s.sql("DROP TABLE IF EXISTS graft.jer_dim")
      s.sql("CREATE TABLE graft.jer_dim (c_custkey BIGINT, " +
        "c_name STRING)")
      s.sql("INSERT INTO graft.jer_dim SELECT * FROM jer_cust_src")
      s.sql("ALTER TABLE graft.jer_dim ADD CONSTRAINT jer_pk " +
        "PRIMARY KEY (c_custkey) NOT ENFORCED RELY")
      s.sql("CREATE TABLE graft.jer_fact (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
      s.sql("INSERT INTO graft.jer_fact SELECT * FROM jer_orders_src")
      s.sql("ALTER TABLE graft.jer_fact ADD CONSTRAINT jer_fk " +
        "FOREIGN KEY (o_custkey) REFERENCES graft.jer_dim " +
        "(c_custkey) NOT ENFORCED RELY")
      val q = s.sql("SELECT f.o_orderstatus, COUNT(*) AS n_orders, " +
        "CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) * 100 " +
        "AS BIGINT) AS total_cents " +
        "FROM graft.jer_fact f JOIN graft.jer_dim c " +
        "ON f.o_custkey = c.c_custkey " +
        "GROUP BY f.o_orderstatus")
      val eliminated =
        !q.queryExecution.optimizedPlan.toString.contains("Join")
      q.withColumn("join_eliminated", lit(eliminated))
        .orderBy("o_orderstatus")
    }),

    // CHECK CONSTRAINTS (Delta's CHECK constraints; ANSI table
    // constraints through Spark 4's SUPPORT_TABLE_CONSTRAINT): the
    // catalog stores enforced CHECK constraints in table metadata and
    // Spark does the heavy lifting engine-side — existing rows are
    // VALIDATED when the constraint is added (a backfill-violating
    // ADD CONSTRAINT refuses with NEW_CHECK_CONSTRAINT_VIOLATION),
    // and every later write rejects violating rows WHOLE
    // (CHECK_CONSTRAINT_VIOLATION) — the write-side data-quality gate
    // a governed lake table runs, vs validate_constraints' read-side
    // audit. The readout carries both refusal flags; DROP CONSTRAINT
    // and clone inheritance are pinned in CatalogSpec.
    "sql_check_constraint" -> ((s, d) => {
      seedSnapshotTable(s, d, "cons_target")
      s.sql("ALTER TABLE graft.cons_target ADD CONSTRAINT bal_floor " +
        "CHECK (c_acctbal > -2000.0)")
      val writeRejected = try {
        s.sql("INSERT INTO graft.cons_target VALUES " +
          "(9999999, 'bad', -99999.0)")
        false
      } catch { case _: Throwable => true }
      val backfillRefused = try {
        // existing customers carry negative balances — this MUST fail
        s.sql("ALTER TABLE graft.cons_target ADD CONSTRAINT " +
          "impossible CHECK (c_acctbal > 0)")
        false
      } catch { case _: Throwable => true }
      s.table("graft.cons_target")
        .groupBy()
        .agg(count(lit(1)).as("n_rows"),
          (sum(graft.Det.dec2(col("c_acctbal"))) * 100).cast("long")
            .as("bal_cents"))
        .withColumn("write_rejected", lit(writeRejected))
        .withColumn("backfill_refused", lit(backfillRefused))
    }),

    // the FULL three-branch MERGE (Spark 4 / Delta's complete form):
    // WHEN MATCHED / WHEN NOT MATCHED / WHEN NOT MATCHED BY SOURCE —
    // the third branch is what turns MERGE into a true snapshot
    // reconciliation (rows the source no longer carries can be
    // deleted or flagged in the SAME statement, no separate anti-join
    // pass). Runs through the same group-based ReplaceData plan as
    // the two-branch ids; the conditional BY-SOURCE delete proves the
    // branch predicate reaches the rewrite.
    "merge_three_branch" -> ((s, d) => {
      seedSnapshotTable(s, d, "mnbs_target")
      s.sql("""SELECT c_custkey, c_name, c_acctbal
              |FROM graft_rowlevel_base WHERE c_custkey % 3 = 0"""
        .stripMargin).createOrReplaceTempView("mnbs_src")
      s.sql("""MERGE INTO graft.mnbs_target t
              |USING mnbs_src s
              |ON t.c_custkey = s.c_custkey
              |WHEN MATCHED THEN
              |  UPDATE SET c_acctbal = s.c_acctbal + 100.0
              |WHEN NOT MATCHED THEN INSERT *
              |WHEN NOT MATCHED BY SOURCE AND c_custkey % 5 = 0 THEN
              |  DELETE
              |""".stripMargin)
      s.table("graft.mnbs_target").orderBy("c_custkey")
    }),

    // GENERATED COLUMNS (Delta's generated columns; Spark 4's
    // SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS — the capability
    // gates the DDL, the SOURCE computes): `price_cents BIGINT
    // GENERATED ALWAYS AS (...)` is analyzed ONCE at CREATE (loud
    // failure on a bad formula), bound to physical ordinals, and
    // RECOMPUTED for every written row on both write paths (row
    // commit and task-side parquet files) — ALWAYS semantics: the
    // stored value can never drift from the formula, UPDATEs included
    // (CatalogSpec pins recompute-on-update and the formula-type
    // guard). The floor form keeps the double→BIGINT boundary
    // engine-exact.
    "sql_generated_col" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .createOrReplaceTempView("gen_src")
      s.sql("DROP TABLE IF EXISTS graft.gen_orders")
      s.sql("CREATE TABLE graft.gen_orders (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, " +
        "price_cents BIGINT GENERATED ALWAYS AS " +
        "(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))) " +
        "TBLPROPERTIES ('graft.store'='parquet')")
      s.sql("INSERT INTO graft.gen_orders " +
        "(o_orderkey, o_orderstatus, o_totalprice) " +
        "SELECT * FROM gen_src")
      s.table("graft.gen_orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("total_cents"))
        .orderBy("o_orderstatus")
    }),

    // IDENTITY COLUMNS (Delta identity; Spark 4's
    // SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS): `row_id BIGINT
    // GENERATED ALWAYS AS IDENTITY` draws values from a table-level
    // high-water mark at COMMIT time — sequential 1..N for a single
    // commit, so the readout is fully deterministic; an EXPLICIT
    // value on a plain append refuses under ALWAYS (the flag), and
    // identity tables keep the row-commit path (identity is a
    // coordination point — a real format reserves per-transaction
    // ranges from its log).
    "sql_identity_col" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("idc_src")
      s.sql("DROP TABLE IF EXISTS graft.idc_orders")
      s.sql("CREATE TABLE graft.idc_orders (row_id BIGINT " +
        "GENERATED ALWAYS AS IDENTITY, o_orderkey BIGINT, " +
        "o_totalprice DOUBLE)")
      s.sql("INSERT INTO graft.idc_orders (o_orderkey, o_totalprice) " +
        "SELECT * FROM idc_src")
      val explicitRefused = try {
        s.sql("INSERT INTO graft.idc_orders VALUES (0, 1, 1.0)")
        false
      } catch { case _: Throwable => true }
      s.table("graft.idc_orders")
        .groupBy()
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("row_id")).as("n_ids"),
          min(col("row_id")).as("min_id"),
          max(col("row_id")).as("max_id"))
        .withColumn("explicit_refused", lit(explicitRefused))
    }),

    // COLUMN DEFAULT VALUES (Delta's allowColumnDefaults; Iceberg's
    // initial-default): ADD COLUMN ... DEFAULT is metadata-only —
    // rows stored BEFORE the column read the EXISTS default at scan
    // time (not NULL), an INSERT that OMITS the column gets the
    // CURRENT default injected by the analyzer, and explicit values —
    // including explicit NULL — win. The id seeds narrow rows, adds
    // `region STRING DEFAULT 'emea'`, inserts one batch without the
    // column and one with explicit values, and reads the grouped
    // readout back. File-backend interplay (zone maps must not skip
    // narrow files on the defaulted column; manifest aggregates
    // decline) pinned in ParquetStoreSpec; scan/time-travel semantics
    // in CatalogSpec.
    "sql_alter_default" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("graft_rowlevel_base")
      s.sql("DROP TABLE IF EXISTS graft.defaults_t")
      s.sql("CREATE TABLE graft.defaults_t (c_custkey BIGINT, " +
        "c_acctbal DOUBLE)")
      s.sql("INSERT INTO graft.defaults_t " +
        "SELECT c_custkey, c_acctbal FROM graft_rowlevel_base") // v0
      s.sql("ALTER TABLE graft.defaults_t " +
        "ADD COLUMN region STRING DEFAULT 'emea'")
      // omitted column → CURRENT default injected by the analyzer
      s.sql("INSERT INTO graft.defaults_t (c_custkey, c_acctbal) " +
        "SELECT c_custkey + 1000000, c_acctbal " +
        "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0")
      // explicit values — an explicit NULL must stay NULL
      s.sql("INSERT INTO graft.defaults_t " +
        "SELECT c_custkey + 2000000, c_acctbal, " +
        "CASE WHEN c_custkey % 2 = 0 THEN 'apac' ELSE NULL END " +
        "FROM graft_rowlevel_base WHERE c_custkey % 17 = 0")
      s.table("graft.defaults_t")
        .groupBy("region")
        .agg(count(lit(1)).as("n_rows"),
          (sum(graft.Det.dec2(col("c_acctbal"))) * 100).cast("long")
            .as("bal_cents"))
        .orderBy("region")
    }),

    // DROP COLUMN through COLUMN MAPPING (the last unsupported ALTER,
    // closed): the dropped column's physical slot is tombstoned —
    // position reserved forever, no stored row touched — so rows
    // written before the drop keep their layout and the LATER column
    // provably does NOT shift left (c_balance below reads balances,
    // never names; a positional drop would misalign every pre-drop
    // row). The id composes the full ALTER family: DROP c_name, ADD
    // c_tier (a fresh slot — values for old rows are NULL, never the
    // dead slot's), wide insert, RENAME c_acctbal → c_balance.
    // CatalogSpec pins the rest of the contract (re-add same name,
    // row-id/partition/last-column guards, MoR deletes after a drop,
    // change-feed visibility).
    "sql_alter_drop" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("graft_rowlevel_base")
      s.sql("DROP TABLE IF EXISTS graft.colmap_t")
      s.sql("CREATE TABLE graft.colmap_t (c_custkey BIGINT, " +
        "c_name STRING, c_acctbal DOUBLE)")
      s.sql("INSERT INTO graft.colmap_t " +
        "SELECT c_custkey, c_name, c_acctbal FROM graft_rowlevel_base")
      s.sql("ALTER TABLE graft.colmap_t DROP COLUMN c_name")
      s.sql("ALTER TABLE graft.colmap_t ADD COLUMN c_tier STRING")
      s.sql("INSERT INTO graft.colmap_t " +
        "SELECT c_custkey + 1000000, c_acctbal, 'gold' " +
        "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0")
      s.sql("ALTER TABLE graft.colmap_t " +
        "RENAME COLUMN c_acctbal TO c_balance")
      s.table("graft.colmap_t")
        .select("c_custkey", "c_balance", "c_tier")
        .orderBy("c_custkey")
    }),

    // WRITE-AUDIT-PUBLISH over branch refs: stage a write on an
    // 'audit' branch (session conf graft.wap.branch — the
    // spark.wap.branch pattern), verify main readers DON'T see it,
    // audit-read the branch via `VERSION AS OF 'audit'`, then publish
    // (one atomic fast-forward of the main pointer) and verify main
    // DOES. The three counts are collected EAGERLY at each stage (a
    // lazy plan would read post-publish state for all three) — three
    // 1-row driver reads, the sanctioned bounded-metadata class. At
    // 100 TB the pattern is what it is here: staging costs one commit,
    // audit is a pinned read, publish is a pointer move — no data is
    // ever rewritten. CatalogSpec pins isolation, tag immutability,
    // forward-only publish and the dangling-branch write guard.
    "sql_branch_wap" -> ((s, d) => {
      import s.implicits._
      seedSnapshotTable(s, d, "wap_t") // v0, main=v0
      graft.api.GraftApi.createBranch(s, "graft.wap_t", "audit")
      s.conf.set("graft.wap.branch", "audit")
      try
        s.sql("INSERT INTO graft.wap_t " +
          "SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal " +
          "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0") // staged
      finally s.conf.unset("graft.wap.branch")
      def n(df: org.apache.spark.sql.DataFrame): Long = df.count()
      val preMain = n(s.table("graft.wap_t"))
      val branch = n(s.sql(
        "SELECT * FROM graft.wap_t VERSION AS OF 'audit'"))
      graft.api.GraftApi.publishBranch(s, "graft.wap_t", "audit")
      val postMain = n(s.table("graft.wap_t"))
      Seq(("audit-branch", branch), ("post-publish-main", postMain),
        ("pre-publish-main", preMain))
        .toDF("stage", "n_rows").orderBy("stage")
    }),

    // the SCAN-LEVEL change feed (the third CDC form, completing the
    // family): cdc_diff re-derives changes relationally from two
    // states; cdc_table_changes diffs two VERSION AS OF snapshots via
    // the API; THIS id reads the feed through a catalog-resolved
    // `graft.<table>.changes` relation (the Iceberg metadata-table
    // naming pattern, carrying Delta-CDF row semantics) — rows tagged
    // with _change_type AND _commit_version, so a consumer sees WHICH
    // commit made each change (the statement attribution the
    // two-snapshot diffs cannot give: delete=v1, update=v2, insert=v3
    // here). Same seed + native statements as cdc_table_changes;
    // startingVersion=1 skips the seed commit's inserts. The same
    // relation STREAMS (StreamingSpec): each commit's changes arrive
    // as a micro-batch, REWRITE commits included — the principled
    // consumer for mutating tables the content stream's append-only
    // contract refuses.
    "cdc_feed_scan" -> ((s, d) => {
      seedSnapshotTable(s, d, "cdc_scan_feed", mor = true) // v0
      s.sql("DELETE FROM graft.cdc_scan_feed WHERE c_custkey % 11 = 0") // v1
      s.sql("UPDATE graft.cdc_scan_feed SET c_acctbal = c_acctbal " +
        "+ 100.0 WHERE c_custkey % 7 = 0") // v2
      s.sql("INSERT INTO graft.cdc_scan_feed " +
        "SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal " +
        "FROM graft_rowlevel_base WHERE c_custkey % 13 = 0") // v3
      s.read.option("startingVersion", "1")
        .table("graft.cdc_scan_feed.changes")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"))
        .orderBy("c_custkey", "change_type")
    }),

    // DISTRIBUTED CoW CHANGE FEED (round 13): a REPLACE WHERE commit's
    // feed derives from the MANIFEST DIFF task-side — the removed and
    // added files key-diff in one distributed cogroup and stage
    // change-data parquet (the Delta-CDF shape, computed lazily at
    // first read, memoized per commit); the driver materializes
    // NEITHER adjacent snapshot (CatalogSpec pins the zero-driver-rows
    // probe and the no-row-partition plan). Replacing the old
    // snapshot-diff fallback that cost O(table) on the driver per
    // REPLACE WHERE / INSERT OVERWRITE / restore commit. Deterministic
    // replay: keys ≥ 500 are replaced — even ones come back
    // rebalanced (an update pre/post pair), odd ones vanish (delete);
    // rows rewritten unchanged inside shared files emit nothing. The
    // predicate is a v1-convertible range (REPLACE WHERE pushes it as
    // an overwrite filter).
    "cdc_replace_feed" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("graft_rowlevel_base")
      s.sql("DROP TABLE IF EXISTS graft.cdc_rw_t")
      s.sql("CREATE TABLE graft.cdc_rw_t (c_custkey BIGINT, " +
        "c_name STRING, c_acctbal DOUBLE) " +
        "TBLPROPERTIES ('graft.store'='parquet', " +
        "'graft.row-level'='merge-on-read', " +
        "'graft.row-id'='c_custkey')")
      s.sql("INSERT INTO graft.cdc_rw_t " +
        "SELECT * FROM graft_rowlevel_base") // v0
      s.sql("INSERT INTO graft.cdc_rw_t " +
        "REPLACE WHERE c_custkey >= 500 " +
        "SELECT c_custkey, c_name || ' (r)', c_acctbal + 1.0 " +
        "FROM graft_rowlevel_base " +
        "WHERE c_custkey >= 500 AND c_custkey % 2 = 0") // v1
      s.read.option("startingVersion", "1").option("endingVersion", "1")
        .table("graft.cdc_rw_t.changes")
        .select(col("c_custkey"), col("_change_type").as("change_type"))
        .orderBy("c_custkey", "change_type")
    }),

    // change-data-capture read: diff two snapshot versions into the
    // change feed a downstream consumer replays — inserts, deletes, and
    // updates as before/after image pairs (the Delta-CDF row shape).
    // Version 2 derives deterministically from version 1 (= customer):
    // keys ≡0 (mod 11) deleted, keys ≡0 (mod 7) rebalanced +100, new
    // keys +1e6 for keys ≡0 (mod 13). Same scale profile as the merges:
    // ONE full-outer shuffle on the key, hash-diff change detection, and
    // the pre/post fan-out is a narrow union on top.
    "cdc_diff" -> ((s, d) => {
      val v1 = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val v2 = v1.where(col("c_custkey") % 11 =!= 0)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
        .unionAll(v1.where(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            concat(col("c_name"), lit(" (new)")).as("c_name"),
            col("c_acctbal")))
      val a = v1.select(col("c_custkey").as("akey"),
        col("c_name").as("a_name"), col("c_acctbal").as("a_bal"))
      val b = v2.select(col("c_custkey").as("bkey"),
        col("c_name").as("b_name"), col("c_acctbal").as("b_bal"))
      val j = a.join(b, col("akey") === col("bkey"), "full_outer")
      def dg(n: String, v: String) = md5(concat_ws("|", col(n), col(v)))
      val upd = j.where(col("akey").isNotNull && col("bkey").isNotNull &&
        dg("a_name", "a_bal") =!= dg("b_name", "b_bal"))
      j.where(col("akey").isNull)
        .select(col("bkey").as("c_custkey"), col("b_name").as("c_name"),
          col("b_bal").as("c_acctbal"), lit("insert").as("change_type"))
        .unionAll(j.where(col("bkey").isNull)
          .select(col("akey"), col("a_name"), col("a_bal"), lit("delete")))
        .unionAll(upd.select(col("akey"), col("a_name"), col("a_bal"),
          lit("update_preimage")))
        .unionAll(upd.select(col("akey"), col("b_name"), col("b_bal"),
          lit("update_postimage")))
        .orderBy("c_custkey", "change_type")
    }),

    // INCREMENTAL MATERIALIZED VIEW (Delta/Databricks MVs, Materialize,
    // Iceberg MVs — the incremental-view-maintenance contract): the MV
    // is a governed table holding COUNT(*)+SUM per group; REFRESH folds
    // the source's CHANGE FEED since the last refresh — inserts/update
    // postimages add, deletes/update preimages retract — as per-group
    // deltas MERGEd into the MV (emptied groups DELETE, new groups
    // INSERT). The SOURCE IS NEVER RESCANNED: refresh cost is
    // O(change rows + touched groups), which at 100 TB is the
    // difference between a maintenance tick and recomputing the world.
    // Three DML commits (delete / in-place update / new-group insert)
    // land between create and refresh, so one refresh folds a mixed
    // multi-commit window; ApiSpec pins round-by-round equality with
    // full recompute, the no-op refresh, group vanish/appear, and the
    // CoW-source refusal. Sums ride a BIGINT cents column — incremental
    // ± arithmetic must be exact, so the API refuses non-integral SUM
    // columns by contract.
    "mv_incremental" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      // deterministic 1-in-5 slice: the id's point is refresh
      // semantics, not DML throughput over the full fact table
      Tables.orders(s, d)
        .where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (Det.dec2(col("o_totalprice")) * 100).cast("long")
            .as("price_cents"))
        .createOrReplaceTempView("mv_src_base")
      s.sql("DROP TABLE IF EXISTS graft.mv_src")
      s.sql("CREATE TABLE graft.mv_src (o_orderkey BIGINT, " +
        "o_orderstatus STRING, price_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
        "'graft.row-id'='o_orderkey')")
      s.sql("INSERT INTO graft.mv_src SELECT * FROM mv_src_base") // v0
      graft.api.GraftApi.createMaterializedView(s, "graft.mv_orders",
        "graft.mv_src", Seq("o_orderstatus"), "n_orders",
        "price_cents", "total_cents")
      s.sql("DELETE FROM graft.mv_src WHERE o_orderkey % 10 = 3") // v1
      s.sql("UPDATE graft.mv_src SET price_cents = price_cents + 500 " +
        "WHERE o_orderkey % 10 = 4") // v2
      s.sql("INSERT INTO graft.mv_src SELECT o_orderkey + 900000000, " +
        "'Z', 1000 FROM mv_src_base WHERE o_orderkey % 10 = 5") // v3
      graft.api.GraftApi.refreshMaterializedView(s, "graft.mv_orders")
      s.table("graft.mv_orders").orderBy("o_orderstatus")
    }),

    // GROUP-WISE RECOMPUTE MV (the standard IVM fallback for
    // NON-RETRACTABLE aggregates — the class mv_incremental refuses by
    // construction): COUNT+MIN+MAX per group are maintained by letting
    // the change feed NAME the touched groups (O(changes)) and
    // recomputing ONLY those groups from the base — semi-joined to the
    // broadcast touched-key set, pinned to the feed window's head
    // version. At 100 TB refresh cost is O(changes + rows of touched
    // groups), never a source rescan — exactly how a warehouse
    // maintains a MIN/MAX MV it cannot fold. The commit window is
    // chosen to exercise every hard case: a DELETE that kills group
    // maxima (the non-retractable case), a whole group vanishing (MV
    // DELETE), an in-place UPDATE, and a brand-new group (MV INSERT).
    // ApiSpec pins round-by-round equality with full recompute and
    // the no-op refresh.
    "mv_groupwise" -> ((s, d) => {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      Tables.orders(s, d)
        .where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (Det.dec2(col("o_totalprice")) * 100).cast("long")
            .as("price_cents"))
        .createOrReplaceTempView("mvg_src_base")
      s.sql("DROP TABLE IF EXISTS graft.mvg_src")
      s.sql("CREATE TABLE graft.mvg_src (o_orderkey BIGINT, " +
        "o_orderstatus STRING, price_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
        "'graft.row-id'='o_orderkey')")
      s.sql("INSERT INTO graft.mvg_src SELECT * FROM mvg_src_base") // v0
      graft.api.GraftApi.createGroupwiseView(s, "graft.mvg_orders",
        "graft.mvg_src", Seq("o_orderstatus"), "price_cents",
        "n_orders", "min_cents", "max_cents")
      // v1: kills the top of every group holding rows above the bar —
      // the delete a fold cannot retract
      s.sql("DELETE FROM graft.mvg_src WHERE price_cents > 40000000")
      // v2: in-place update shifts mins/maxes of its groups
      s.sql("UPDATE graft.mvg_src SET price_cents = price_cents + 500 " +
        "WHERE o_orderkey % 10 = 4")
      // v3: a WHOLE group vanishes (the MV row must DELETE)
      s.sql("DELETE FROM graft.mvg_src WHERE o_orderstatus = 'P'")
      // v4: a brand-new group appears (the MV row must INSERT)
      s.sql("INSERT INTO graft.mvg_src SELECT o_orderkey + 900000000, " +
        "'Z', price_cents FROM mvg_src_base WHERE o_orderkey % 10 = 5")
      graft.api.GraftApi.refreshGroupwiseView(s, "graft.mvg_orders")
      s.table("graft.mvg_orders").orderBy("o_orderstatus")
    })
  )

  /** upsert_snapshot's relational merge SQL — ALSO the merge_into
    * oracle: the native MERGE path must land on the identical final
    * snapshot (same rows, same action classification). */
  private val upsertSnapshotSql: String =
    """WITH snap AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      |delta AS (
      |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
      |  FROM snap WHERE c_custkey % 7 = 0
      |  UNION ALL SELECT * FROM snap
      |    WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
      |  UNION ALL SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal
      |    FROM snap WHERE c_custkey % 13 = 0)
      |SELECT COALESCE(d.c_custkey, s.c_custkey) AS c_custkey,
      |  COALESCE(d.c_name, s.c_name) AS c_name,
      |  COALESCE(d.c_acctbal, s.c_acctbal) AS c_acctbal,
      |  CASE WHEN s.c_custkey IS NULL THEN 'insert'
      |       WHEN d.c_custkey IS NULL THEN 'carried'
      |       WHEN d.c_name = s.c_name AND d.c_acctbal = s.c_acctbal
      |         THEN 'unchanged'
      |       ELSE 'updated' END AS action
      |FROM snap s FULL JOIN delta d ON s.c_custkey = d.c_custkey
      |ORDER BY c_custkey""".stripMargin

  private val deleteSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_custkey % 11 <> 0 ORDER BY c_custkey""".stripMargin

  override def oracles: Map[String, String] = Map(
    "merge_into" -> upsertSnapshotSql,
    "merge_into_evolve" ->
      """WITH src AS (
        |  SELECT c_custkey, c_name, c_acctbal + 50.0 AS c_acctbal,
        |    CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END
        |      AS segment
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey + 9000000, c_name, 123.0, 'new'
        |  FROM customer WHERE c_custkey % 17 = 0
        |), merged AS (
        |  SELECT t.c_custkey,
        |    COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
        |    s.segment
        |  FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
        |  UNION ALL
        |  SELECT s.c_custkey, s.c_acctbal, s.segment FROM src s
        |  WHERE s.c_custkey NOT IN (SELECT c_custkey FROM customer)
        |)
        |SELECT segment, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS bal_cents
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // the MoR path must land on the identical snapshot + action audit
    "merge_into_mor" -> upsertSnapshotSql,
    "sql_delete" -> deleteSql,
    "sql_delete_mor" -> deleteSql,
    "sql_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS total_cents
        |FROM customer
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(CASE WHEN c_custkey % 7 = 0
        |      THEN c_acctbal + 100.0 ELSE c_acctbal END
        |    AS DECIMAL(18,2))) * 100 AS BIGINT)
        |FROM customer
        |ORDER BY version""".stripMargin,
    "sql_update" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // same merge in plain relational SQL; DuckDB compares columns directly
    // where Spark compares digests — equivalent because digest equality ⟺
    // payload equality (both digests computed in-engine on the same rows)
    "upsert_snapshot" -> upsertSnapshotSql,
    "upsert_scd2" ->
      """WITH snap AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |delta AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
        |  FROM snap WHERE c_custkey % 7 = 0
        |  UNION ALL SELECT * FROM snap
        |    WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
        |  UNION ALL SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal
        |    FROM snap WHERE c_custkey % 13 = 0),
        |j AS (SELECT s.c_custkey AS s_key, s.c_name AS s_c_name,
        |        s.c_acctbal AS s_c_acctbal, d.c_custkey AS d_key,
        |        d.c_name AS d_c_name, d.c_acctbal AS d_c_acctbal,
        |        CASE WHEN s.c_custkey IS NULL THEN 'insert'
        |             WHEN d.c_custkey IS NULL THEN 'carried'
        |             WHEN d.c_name = s.c_name AND d.c_acctbal = s.c_acctbal
        |               THEN 'unchanged'
        |             ELSE 'updated' END AS action
        |      FROM snap s FULL JOIN delta d ON s.c_custkey = d.c_custkey)
        |SELECT s_key AS c_custkey, s_c_name AS c_name,
        |  s_c_acctbal AS c_acctbal, '2024-01-01' AS valid_from,
        |  CASE WHEN action = 'updated' THEN '2024-06-01'
        |       ELSE '9999-12-31' END AS valid_to,
        |  CAST(CASE WHEN action = 'updated' THEN 0 ELSE 1 END AS BIGINT)
        |    AS is_current
        |FROM j WHERE s_key IS NOT NULL
        |UNION ALL
        |SELECT d_key, d_c_name, d_c_acctbal, '2024-06-01', '9999-12-31',
        |  CAST(1 AS BIGINT)
        |FROM j WHERE action IN ('insert', 'updated')
        |ORDER BY c_custkey, valid_from""".stripMargin,
    // the native feed must equal the relational diff on the same delta
    "cdc_table_changes" -> cdcSql,
    "cdc_diff" -> cdcSql,
    // the REPLACE WHERE window replays as the plain key-diff of the
    // replaced predicate slice
    "cdc_replace_feed" ->
      """SELECT c_custkey, ct AS change_type FROM (
        |  SELECT c_custkey, 'update_preimage' AS ct FROM customer
        |    WHERE c_custkey >= 500 AND c_custkey % 2 = 0
        |  UNION ALL SELECT c_custkey, 'update_postimage' FROM customer
        |    WHERE c_custkey >= 500 AND c_custkey % 2 = 0
        |  UNION ALL SELECT c_custkey, 'delete' FROM customer
        |    WHERE c_custkey >= 500 AND c_custkey % 2 = 1
        |) ORDER BY c_custkey, change_type""".stripMargin,
    // base ⊕ feed must equal the final state, derived independently
    "cdc_apply_feed" -> finalStateSql,
    "cdc_incremental_agg" ->
      s"""SELECT c_custkey % 10 AS grp, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |    AS total_bal
         |FROM ($finalStateSql) fin
         |GROUP BY 1 ORDER BY grp""".stripMargin,
    "sql_alter_evolve" ->
      """SELECT c_custkey, c_name AS c_label,
        |  CAST(NULL AS DOUBLE) AS c_acctbal
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal
        |FROM customer WHERE c_custkey % 13 = 0
        |ORDER BY c_custkey""".stripMargin,
    // pre-widen rows (narrow files, upcast at read) + post-widen rows
    // whose keys exceed the INT range; pf derives from small ints so
    // the FLOAT→DOUBLE path is value-exact on both engines
    "sql_alter_widen" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS INTEGER) AS ok_i, o_orderstatus,
        |    CAST(o_orderkey % 1000 AS REAL) AS pf
        |  FROM orders),
        |wid AS (
        |  SELECT CAST(ok_i AS BIGINT) AS o_orderkey, o_orderstatus,
        |    CAST(pf AS DOUBLE) AS price_f FROM src
        |  UNION ALL
        |  SELECT CAST(ok_i AS BIGINT) + 10000000000, o_orderstatus,
        |    CAST(pf AS DOUBLE) + 0.5 FROM src WHERE ok_i % 11 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  MIN(price_f) AS price_min, MAX(price_f) AS price_max
        |FROM wid
        |WHERE o_orderkey < 600 OR o_orderkey >= 10000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the two informational constraints stored; the ENFORCED PK
    // refused
    "sql_rely_constraints" ->
      """SELECT 'pk_cust' AS c_name, 'PrimaryKey' AS c_type,
        |  FALSE AS enforced, TRUE AS rely, TRUE AS enforced_refused
        |UNION ALL
        |SELECT 'uq_name', 'Unique', FALSE, FALSE, TRUE
        |ORDER BY c_name""".stripMargin,
    // matched rows (%3=0) read +100; unmatched rows divisible by 5
    // are deleted by the BY SOURCE branch; everything else unchanged
    "merge_three_branch" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |WHERE c_custkey % 3 = 0
        |   OR c_custkey % 5 <> 0
        |ORDER BY c_custkey""".stripMargin,
    // the stored generated value IS the formula over the source rows
    "sql_generated_col" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // one commit assigns 1..N whatever the task order; the explicit
    // insert refuses under GENERATED ALWAYS
    "sql_identity_col" ->
      """SELECT COUNT(*) AS n_rows, COUNT(*) AS n_ids,
        |  CAST(1 AS BIGINT) AS min_id,
        |  COUNT(*) AS max_id, TRUE AS explicit_refused
        |FROM orders""".stripMargin,
    // both refusals fire: the violating insert never lands, the
    // backfill-violating constraint never attaches
    "sql_check_constraint" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS bal_cents,
        |  TRUE AS write_rejected, TRUE AS backfill_refused
        |FROM customer""".stripMargin,
    // pre-ADD rows read the EXISTS default, the omitted-column batch
    // the CURRENT default, explicit values (incl. NULL) win
    "sql_alter_default" ->
      """WITH t AS (
        |  SELECT 'emea' AS region, c_acctbal FROM customer
        |  UNION ALL
        |  SELECT 'emea', c_acctbal FROM customer
        |  WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT CASE WHEN c_custkey % 2 = 0 THEN 'apac' ELSE NULL END,
        |    c_acctbal
        |  FROM customer WHERE c_custkey % 17 = 0)
        |SELECT region, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
        |    AS bal_cents
        |FROM t GROUP BY region ORDER BY region""".stripMargin,
    // pre-drop rows keep their balances under the renamed column (a
    // positional drop would have shifted names into it), post-drop
    // rows carry the fresh c_tier slot
    "sql_alter_drop" ->
      """SELECT c_custkey, c_acctbal AS c_balance,
        |  CAST(NULL AS VARCHAR) AS c_tier
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 1000000, c_acctbal, 'gold'
        |FROM customer WHERE c_custkey % 13 = 0
        |ORDER BY c_custkey""".stripMargin,
    // staged rows visible on the branch and after publish, never before
    "sql_branch_wap" ->
      """SELECT 'audit-branch' AS stage,
        |  (SELECT COUNT(*) FROM customer)
        |    + (SELECT COUNT(*) FROM customer WHERE c_custkey % 13 = 0)
        |    AS n_rows
        |UNION ALL SELECT 'post-publish-main',
        |  (SELECT COUNT(*) FROM customer)
        |    + (SELECT COUNT(*) FROM customer WHERE c_custkey % 13 = 0)
        |UNION ALL SELECT 'pre-publish-main',
        |  (SELECT COUNT(*) FROM customer)
        |ORDER BY stage""".stripMargin,
    // the scan-level feed adds commit attribution on top of the same
    // change rows: each change class maps to exactly the statement
    // (commit) that produced it
    "cdc_feed_scan" ->
      s"""SELECT c_custkey, c_name, c_acctbal, change_type,
         |  CAST(CASE change_type WHEN 'delete' THEN 1
         |    WHEN 'insert' THEN 3 ELSE 2 END AS BIGINT)
         |    AS commit_version
         |FROM ($cdcSql) t
         |ORDER BY c_custkey, change_type""".stripMargin,
    // the oracle RUNS the join the engine eliminated — the results
    // must coincide because orders.o_custkey really references
    // customer (TPC-H referential integrity, what RELY vouches for)
    "join_elim_rely" ->
      """SELECT o.o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
        |    AS BIGINT) AS total_cents,
        |  TRUE AS join_eliminated
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // full recompute of the MV's final state: base minus the %10=3
    // deletes, %10=4 rows repriced +500, plus the %10=5 'Z' inserts
    "mv_incremental" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |final AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 4 THEN cents + 500
        |         ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 10 <> 3
        |  UNION ALL
        |  SELECT 'Z' AS o_orderstatus, CAST(1000 AS BIGINT) AS cents
        |  FROM base WHERE o_orderkey % 10 = 5)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // full recompute of the group-wise MV's final state: base minus
    // the >400k deletes, %10=4 repriced +500, minus group 'P', plus
    // the 'Z' inserts (which carry ORIGINAL base prices)
    "mv_groupwise" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |v1 AS (SELECT * FROM base WHERE cents <= 40000000),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 4 THEN cents + 500
        |         ELSE cents END AS cents
        |  FROM v1),
        |v3 AS (SELECT * FROM v2 WHERE o_orderstatus <> 'P'),
        |final AS (
        |  SELECT o_orderstatus, cents FROM v3
        |  UNION ALL
        |  SELECT 'Z' AS o_orderstatus, cents
        |  FROM base WHERE o_orderkey % 10 = 5)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** the post-change state the cdc delta statements land on (delete
    * %11 → rebalance %7 on survivors → insert %13 new keys). */
  private val finalStateSql: String =
    """SELECT c_custkey, c_name,
      |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
      |       ELSE c_acctbal END AS c_acctbal
      |FROM customer WHERE c_custkey % 11 <> 0
      |UNION ALL
      |SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal
      |FROM customer WHERE c_custkey % 13 = 0
      |ORDER BY c_custkey""".stripMargin

  private val cdcSql: String =
      """WITH v1 AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |v2 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM v1 WHERE c_custkey % 11 <> 0
        |  UNION ALL SELECT c_custkey + 1000000, c_name || ' (new)', c_acctbal
        |    FROM v1 WHERE c_custkey % 13 = 0),
        |j AS (SELECT v1.c_custkey AS akey, v1.c_name AS a_name,
        |        v1.c_acctbal AS a_bal, v2.c_custkey AS bkey,
        |        v2.c_name AS b_name, v2.c_acctbal AS b_bal
        |      FROM v1 FULL JOIN v2 ON v1.c_custkey = v2.c_custkey)
        |SELECT bkey AS c_custkey, b_name AS c_name, b_bal AS c_acctbal,
        |  'insert' AS change_type FROM j WHERE akey IS NULL
        |UNION ALL SELECT akey, a_name, a_bal, 'delete'
        |  FROM j WHERE bkey IS NULL
        |UNION ALL SELECT akey, a_name, a_bal, 'update_preimage' FROM j
        |  WHERE akey IS NOT NULL AND bkey IS NOT NULL
        |    AND (a_name <> b_name OR a_bal <> b_bal)
        |UNION ALL SELECT akey, b_name, b_bal, 'update_postimage' FROM j
        |  WHERE akey IS NOT NULL AND bkey IS NOT NULL
        |    AND (a_name <> b_name OR a_bal <> b_bal)
        |ORDER BY c_custkey, change_type""".stripMargin
}
