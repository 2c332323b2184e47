package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** SYSTEM PROCEDURES (Spark 4's DSv2 `ProcedureCatalog` — the `CALL`
  * statement, wired in-engine since 4.0): the catalog's maintenance
  * verbs exposed the way Iceberg exposes them
  * (`CALL graft.system.expire_snapshots(...)`), so a pure-SQL operator
  * can run table maintenance without the Scala API. Every procedure is
  * O(metadata + the verb's own cost), mutates through the SAME store
  * entry points as the API verbs (one semantics), and returns a
  * one-row readout as a [[LocalScan]].
  *
  * Surface:
  *   system.optimize(table)              → delta commits compacted
  *   system.purge_deletes(table)         → DV files rewritten
  *   system.expire_snapshots(table, keep)→ versions expired
  *   system.restore(table, version)      → new head version
  *   system.create_branch(table, branch) / create_tag(table, tag)
  *   system.fast_forward(table, branch)  → published head version
  */
private[graft] object GraftProcedures {

  private def inParam(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  /** one-row, one-column INT readout scan */
  private final case class IntReadout(col: String, value: Int)
      extends LocalScan {
    override def readSchema(): StructType =
      StructType(Seq(StructField(col, IntegerType, nullable = false)))
    override def rows(): Array[InternalRow] =
      Array(new GenericInternalRow(Array[Any](value)))
  }

  /** a procedure over (table STRING, ...) returning one INT column. */
  private final case class GraftProcedure(procName: String,
      params: Array[ProcedureParameter], outCol: String,
      body: InternalRow => Int) extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"graft system procedure $procName"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = procName
        override def description(): String =
          s"graft system procedure $procName"
        override def parameters(): Array[ProcedureParameter] = params
        // side-effecting maintenance — never cache or re-run a CALL
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): util.Iterator[Scan] =
          util.Collections.singletonList(
            IntReadout(outCol, body(input)): Scan).iterator()
      }
  }

  private def str(r: InternalRow, i: Int): String =
    r.getUTF8String(i).toString

  /** the procedures, parameterized by the owning catalog's name so a
    * bare table argument ('t') resolves inside THAT catalog the way
    * Iceberg's procedures do; a qualified 'cat.t' passes through. */
  private def all(catalogName: String)
      : Map[String, GraftProcedure] = {
    def qualify(t: String): String =
      if (t.contains(".")) t else s"$catalogName.$t"
    def spark = org.apache.spark.sql.SparkSession.active
    Seq(
      GraftProcedure("optimize",
        Array(inParam("table", StringType)), "compacted",
        r => graft.api.GraftApi.optimizeTable(spark, qualify(str(r, 0)))),
      GraftProcedure("purge_deletes",
        Array(inParam("table", StringType)), "files_rewritten",
        r => graft.api.GraftApi.purgeDeletes(spark, qualify(str(r, 0)))),
      GraftProcedure("rewrite_small_files",
        Array(inParam("table", StringType),
          inParam("target_rows", IntegerType)), "files_merged_away",
        r => graft.api.GraftApi.rewriteSmallFiles(spark,
          qualify(str(r, 0)), r.getInt(1))),
      GraftProcedure("expire_snapshots",
        Array(inParam("table", StringType), inParam("keep", IntegerType)),
        "expired",
        r => graft.api.GraftApi.expireSnapshots(spark,
          qualify(str(r, 0)), r.getInt(1))),
      GraftProcedure("restore",
        Array(inParam("table", StringType),
          inParam("version", IntegerType)), "restored_head",
        r => graft.api.GraftApi.restoreTable(spark,
          qualify(str(r, 0)), r.getInt(1))),
      GraftProcedure("create_branch",
        Array(inParam("table", StringType), inParam("branch", StringType)),
        "at_version", r => {
          val t = qualify(str(r, 0))
          graft.api.GraftApi.createBranch(spark, t, str(r, 1))
          GraftTableStore.commitCount(t) - 1
        }),
      GraftProcedure("create_tag",
        Array(inParam("table", StringType), inParam("tag", StringType)),
        "at_version", r => {
          val t = qualify(str(r, 0))
          graft.api.GraftApi.createTag(spark, t, str(r, 1))
          GraftTableStore.commitCount(t) - 1
        }),
      GraftProcedure("fast_forward",
        Array(inParam("table", StringType), inParam("branch", StringType)),
        "published_head", r => {
          val t = qualify(str(r, 0))
          graft.api.GraftApi.publishBranch(spark, t, str(r, 1))
          GraftTableStore.commitCount(t) - 1
        }),
      // VACUUM's orphan half (round 13): crashed-writer leftovers past
      // the grace window — Iceberg's remove_orphan_files
      GraftProcedure("remove_orphan_files",
        Array(inParam("table", StringType),
          inParam("grace_ms", IntegerType)), "files_deleted",
        r => graft.api.GraftApi.vacuumOrphans(spark,
          qualify(str(r, 0)), r.getInt(1).toLong))
    ).map(p => p.procName -> p).toMap
  }

  def names: Array[String] = all("x").keys.toArray.sorted

  def load(name: String, catalogName: String): Option[UnboundProcedure] =
    all(catalogName).get(name)
}
