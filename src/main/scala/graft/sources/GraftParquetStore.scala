package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** One data file of a parquet-backed governed table: the store's
  * manifest entry. `key` is the table-partition key (empty row when the
  * table is unpartitioned) — the value static pruning and
  * storage-partitioned-join alignment read WITHOUT opening the file,
  * exactly a lake manifest's partition tuple. `numCols` is the physical
  * slot count at write time: files written before an ADD COLUMN are
  * narrower and their missing slots read as NULL (parquet's own
  * missing-column semantics, which this store mirrors deliberately). */
final case class GraftFileInfo(path: String, key: InternalRow,
    rows: Int, bytes: Long, numCols: Int,
    stats: Map[Int, GraftColStats] = Map.empty,
    blooms: Map[Int, GraftBloom] = Map.empty,
    specId: Int = 0,
    dv: Option[GraftDeleteVector] = None) {
  /** rows a reader actually emits: physical records minus the
    * deletion vector's cardinality. `rows` stays PHYSICAL (what the
    * file holds; what `.files` reports); counts derived from the
    * manifest must use this instead. */
  def liveRows: Int = rows - dv.map(_.card).getOrElse(0)
}

/** DELETION VECTOR of one file (Delta's DVs / Iceberg v3 position
  * deletes): a bitmap over the file's PHYSICAL record positions — bit
  * set = row deleted. A DV delete rewrites ZERO data bytes: the
  * affected file's manifest entry swaps to one carrying the (merged)
  * bitmap, untouched files keep their manifest objects BY REFERENCE,
  * and readers drop marked positions as they decode — so DELETE cost
  * is O(matched files), not O(table), and a point delete in a 100 TB
  * table touches exactly the files that hold matching rows. Rides in
  * the manifest like the per-file blooms; at real scale it would
  * persist as a puffin/DV sidecar next to the data file. */
final case class GraftDeleteVector(words: Array[Long], card: Int) {
  def deleted(pos: Int): Boolean =
    (words(pos >> 6) & (1L << (pos & 63))) != 0L
}

/** Zone-map statistics of one column of one file (physical ordinal →
  * stats in the manifest): min/max over non-null values in the
  * column's InternalRow representation (Long / Int / Double / Float /
  * UTF8String — strings compare in UTF8 binary order, Spark's string
  * collation) plus the null count. What lets a pushed row predicate
  * prove a file empty WITHOUT opening it — parquet footer min/max,
  * lifted into the manifest the way Delta/Iceberg keep per-file stats. */
final case class GraftColStats(min: Any, max: Any, nulls: Int)

/** Per-file BLOOM FILTER of one indexed column (Delta's bloom filter
  * index / Iceberg puffin blobs): zone maps cannot skip a point lookup
  * when a high-cardinality key is SCATTERED across files (every file's
  * min/max spans the domain) — the bloom filter can, with a bounded
  * false-positive rate and never a false negative. Built at write from
  * the file's distinct hashes (~12 bits per distinct value, k=6 →
  * ~0.3% FP); consulted by [[GraftZoneMap.skips]] for pushed
  * EqualTo/In probes. Rides in the manifest like the zone maps, so the
  * probe opens ZERO non-matching files. */
final case class GraftBloom(bits: Array[Long], k: Int) {
  def mightContain(h: Long): Boolean = {
    val m = bits.length.toLong * 64L
    val h2 = (h >>> 33) | (h << 31) | 1L // odd second hash
    var i = 0
    while (i < k) {
      val idx = (((h + i.toLong * h2) % m + m) % m).toInt
      if ((bits(idx >> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

object GraftBloom {
  /** splitmix64 finalizer: spreads consecutive keys over the space. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def fnv(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= b(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }
  /** hash of a value in the ZONE-MAP STAT DOMAIN (Long / Int /
    * UTF8String) — both the writer and the filter probe funnel through
    * this, so the domains cannot drift. */
  def hashOf(dt: DataType, v: Any): Long = dt match {
    case LongType => mix(v.asInstanceOf[Long])
    case IntegerType => mix(v.asInstanceOf[Int].toLong)
    case StringType => mix(fnv(v.asInstanceOf[UTF8String].getBytes))
    case other => throw new IllegalStateException(
      s"no bloom hash for $other")
  }
  def build(hashes: scala.collection.Set[Long]): GraftBloom = {
    var m = 64
    while (m < hashes.size * 12 && m < (1 << 22)) m <<= 1
    val bits = new Array[Long](m / 64)
    val bf = GraftBloom(bits, 6)
    hashes.foreach { h =>
      val mm = m.toLong
      val h2 = (h >>> 33) | (h << 31) | 1L
      var i = 0
      while (i < bf.k) {
        val idx = (((h + i.toLong * h2) % mm + mm) % mm).toInt
        bits(idx >> 6) |= 1L << (idx & 63)
        i += 1
      }
    }
    bf
  }
}

/** PARQUET-BACKED STORE, the one store every governed table uses: a
  * table PERSISTS every manifest commit as parquet files under a table
  * directory, and its scans ship FILE PATHS to executors instead of
  * rows — each input partition opens its own file where the task runs,
  * with column projection pushed into the parquet reader. The store History stays
  * the manifest (file lists per commit); MoR delta commits stay
  * O(changes) op logs merged at read (deletes applied per-file
  * executor-side — the deletion-vector shape).
  *
  * Layout decisions that make this the 100 TB shape:
  *   - one file per (partition key, row width) group per commit, named
  *     by POSITION (`c0`, `c1`, …): slot position is the field id, so
  *     files survive RENAME and column-mapping DROP untouched;
  *   - a plain append writes ONLY the new rows' files and the new
  *     commit's manifest re-references every prior file (detected by
  *     row reference identity — the store's append contract), so
  *     commit cost is O(appended), never O(table);
  *   - retention trim garbage-collects files no retained commit
  *     references (VACUUM), never a file still shared.
  *
  * Files are decoded by Spark's own `VectorizedParquetRecordReader`
  * (its updaters widen a slot written before an `ALTER COLUMN ...
  * TYPE`) and encoded by Spark's `ParquetWriteSupport`, both over
  * parquet's local files. Readers hand out rows over the decoded
  * column batches; the architecture — manifest-pruned file-granular
  * scan — is the part that carries to 1000 executors. */
object GraftParquetStore {

  /** the one Hadoop Configuration the store hands parquet and Spark's
    * parquet reader and writer; never mutated after this (per-file keys
    * go on a copy). It loads no default resources: a default one parses
    * Hadoop's XML defaults, 8–20 ms per file when built per open. Its
    * keys are what Spark's `ParquetFileFormat` sets per job: the read
    * support, the schema converters' flags at their defaults,
    * microsecond timestamps, and page CRC verification on every read. */
  private[sources] val sharedConf: Configuration = {
    val c = new JobConf(false)
    c.set("parquet.read.support.class", classOf[ParquetReadSupport].getName)
    c.setBoolean("parquet.page.verify-checksum.enabled", true)
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => c.set(e.key, e.defaultValueString))
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c
  }

  /** registration of a parquet-backed table: its directory plus the
    * CURRENT physical schema / partition fields (updated on ALTER) —
    * what the commit-time writer needs to lay out files. */
  final case class Meta(dir: String, schema: StructType,
      partFields: Array[GraftPartField],
      bloomOrds: Array[Int] = Array.empty,
      specHistory: Vector[Array[GraftPartField]] = Vector.empty,
      dvMode: Boolean = false,
      sortOrds: Array[Int] = Array.empty) {
    /** every partition spec this table has ever had, oldest first —
      * the CURRENT spec is last; a file's `specId` indexes here
      * (Iceberg's spec-id indirection). Tables that never evolved
      * have the one-spec history. */
    def specs: Vector[Array[GraftPartField]] =
      if (specHistory.isEmpty) Vector(partFields) else specHistory
    def curSpecId: Int = specs.length - 1
  }

  /** supported column types — the flat atomic set the file codec
    * round-trips exactly. Checked loudly at CREATE. */
  private[sources] def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
        StringType | BinaryType | DateType | TimestampType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  def register(name: String, schema: StructType,
      partFields: Array[GraftPartField],
      bloomCols: Array[String] = Array.empty,
      dvMode: Boolean = false,
      sortCols: Array[String] = Array.empty): Unit = {
    schema.fields.foreach(f => require(supported(f.dataType),
      s"graft.store=parquet table $name: column '${f.name}' has " +
        s"unsupported type ${f.dataType.sql} (flat atomic types only)"))
    val bloomOrds = bloomCols.map { c =>
      val ord = schema.fieldNames.indexOf(c)
      require(ord >= 0, s"graft.bloom.columns: no such column '$c'")
      schema(ord).dataType match {
        case LongType | IntegerType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"graft.bloom.columns: column '$c' has type ${dt.sql} " +
            "(supported: BIGINT, INT, STRING)")
      }
      ord
    }
    // TBLPROPERTIES ('graft.sort-order'='k1, k2'): the table-level
    // DECLARED SORT ORDER (Iceberg sort orders / Delta clustered
    // tables) — appends range-distribute + sort on it and compaction
    // preserves it, so zone-map skipping on the sort key stays alive
    // without any explicit ZORDER/sort maintenance call.
    val sortOrds = sortCols.map { c =>
      val ord = schema.fieldNames.indexOf(c)
      require(ord >= 0, s"graft.sort-order: no such column '$c'")
      schema(ord).dataType match {
        case LongType | IntegerType | DoubleType | FloatType |
            StringType | DateType | TimestampType => ()
        case dt => throw new IllegalArgumentException(
          s"graft.sort-order: column '$c' has type ${dt.sql} " +
            "(zone-map-orderable types only)")
      }
      ord
    }
    val m = Meta(freshTableDir(name), schema, partFields, bloomOrds,
      dvMode = dvMode, sortOrds = sortOrds)
    GraftTableStore.update(name)(_.copy(meta = Some(m)))
    ()
  }

  /** the table's WAREHOUSE directory — the stable, name-derived
    * location the transaction log makes re-findable after a restart.
    * A fresh CREATE clears any stale `_graft_log` a previous
    * same-named (dropped-with-shared-files) table left behind, so a
    * new table can never attach a dead table's history. */
  private def freshTableDir(name: String): String = {
    val d = GraftWarehouse.tableDir(name)
    d.mkdirs()
    val stale = new java.io.File(d, "_graft_log")
    if (stale.exists()) deleteRecursively(stale)
    d.getAbsolutePath
  }

  /** the registration lives in the table's state record
    * ([[GraftTableStore.TableState]]). */
  def meta(name: String): Option[Meta] =
    GraftTableStore.stateOf(name).flatMap(_.meta)
  private def updateMeta(name: String)(f: Meta => Meta): Unit =
    GraftTableStore.updateIfPresent(name)(s => s.copy(meta = s.meta.map(f)))

  /** PARTITION SPEC EVOLUTION (Iceberg's headline ALTER): make
    * `newFields` the table's CURRENT spec. Metadata-only — zero files
    * touched: files already written keep their own spec id and prune
    * by it at scan; only FUTURE commits lay out under the new spec. */
  def evolveSpec(name: String,
      newFields: Array[GraftPartField]): Unit =
    updateMeta(name)(m => m.copy(partFields = newFields,
      specHistory = m.specs :+ newFields))

  /** register `dst` with `src`'s CURRENT registration but its OWN
    * directory — the shallow-clone shape: the clone's v0 manifest
    * references the source's files in place (zero bytes copied), and
    * only the clone's FUTURE commits write under its own dir. */
  def registerLike(src: String, dst: String): Unit =
    meta(src).foreach { m =>
      val dir = freshTableDir(dst)
      GraftTableStore.update(dst)(_.copy(meta = Some(m.copy(dir = dir))))
      ()
    }

  /** ALTER keeps the registration current (the physical schema grows
    * slots / tombstones them; files already written never change). */
  def updateSchema(name: String, schema: StructType): Unit =
    updateMeta(name) { m =>
      // a DROP COLUMN tombstones its slot — its bloom index dies with it
      val keep = m.bloomOrds.filter(o =>
        !schema(o).name.startsWith(GraftColumnMap.DroppedPrefix))
      m.copy(schema = schema, bloomOrds = keep)
    }

  /** drop the directory of a dropped table's registration `m` (DROP
    * TABLE / reset). `shared` = file paths some OTHER registered
    * table's retained manifest still references (a shallow clone of
    * this table): those files survive the drop — deleting them would
    * corrupt the clone — and their version dirs stay as long as a
    * shared file remains. */
  private[sources] def drop(m: Meta, shared: Set[String]): Unit =
    if (shared.isEmpty) deleteRecursively(new java.io.File(m.dir))
    else {
      val root = new java.io.File(m.dir)
      // the dropped table's transaction log must die even when
      // shared data files survive — a later GC sweep scanning
      // unloaded warehouse logs would otherwise resurrect its
      // references (and a re-CREATE could attach dead history)
      deleteRecursively(new java.io.File(root, "_graft_log"))
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).foreach { vdir =>
          Option(vdir.listFiles()).getOrElse(Array.empty).foreach { f =>
            if (!shared.contains(f.getAbsolutePath)) { f.delete(); () }
          }
          if (Option(vdir.listFiles()).forall(_.isEmpty)) vdir.delete()
        }
      if (Option(root.listFiles()).forall(_.isEmpty)) root.delete()
      ()
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  // ---- schema bridge -------------------------------------------------
  //
  // Columns are named c<physical-ordinal>: the slot position IS the
  // field id (column mapping), so a RENAME or DROP never touches a
  // file. A file declares only the slots it carries, all nullable;
  // Spark's schema converter maps each type to its parquet type.
  private def fileSchema(schema: StructType, ords: Array[Int]): StructType =
    StructType(ords.map(o => StructField(s"c$o", schema(o).dataType)))

  // ---- write path (driver-side, at commit) ---------------------------

  /** Persist `rows` of commit `version` as parquet files. When the
    * previous commit is parquet-backed and `rows` extends its resolved
    * array BY REFERENCE (the store's plain-append contract), only the
    * suffix is written and the prior files are re-referenced — append
    * cost O(appended rows). Any rewrite (replace / overwrite / delete /
    * compaction) writes the full result as fresh files (copy-on-write;
    * the old files stay owned by the older versions until retention
    * GC). */
  private[sources] def persistFull(name: String, m: Meta, version: Int,
      rows: Array[InternalRow],
      prev: Option[(GraftTableStore.GraftParquetData,
        Array[InternalRow])])
      : GraftTableStore.GraftParquetData = {
    val (reusedFiles, suffixFrom) = prev match {
      case Some((p, prevRows)) if rows.length >= prevRows.length &&
          sharesPrefix(rows, prevRows) =>
        (p.files, prevRows.length)
      case _ => (Vector.empty[GraftFileInfo], 0)
    }
    val suffix = if (suffixFrom == 0) rows else rows.drop(suffixFrom)
    GraftTableStore.GraftParquetData(
      reusedFiles ++ writeFiles(m, version, suffix),
      rows.length)
  }

  private def sharesPrefix(rows: Array[InternalRow],
      prev: Array[InternalRow]): Boolean = {
    var i = 0
    while (i < prev.length) {
      if (!(rows(i) eq prev(i))) return false
      i += 1
    }
    true
  }

  /** Write `rows` under `<dir>/v<version>/`, one-or-more files per
    * (partition key, row width) group — the key and the per-column
    * zone-map stats ride into the manifest so scans prune and skip
    * files without opening them. Large groups CHUNK into up to 8
    * files so an unpartitioned scan still parallelizes per file and
    * zone maps get range granularity. */
  private def writeFiles(m: Meta, version: Int,
      rows: Array[InternalRow]): Vector[GraftFileInfo] = {
    if (rows.isEmpty) return Vector.empty
    val vdir = new java.io.File(m.dir, f"v$version%05d")
    vdir.mkdirs()
    val keyProj = UnsafeProjection.create(m.partFields.map(
      GraftPartField.keyExpr(_, m.schema)).toIndexedSeq)
    val emptyKey = InternalRow.empty
    // group by (partition key, physical width); deterministic file
    // order by key string then width
    val groups = rows.groupBy { r =>
      val k =
        if (m.partFields.isEmpty) emptyKey
        else keyProj(r).copy(): InternalRow
      (k, r.numFields)
    }.toArray.sortBy { case ((k, w), _) => (k.toString, w) }
    groups.zipWithIndex.flatMap { case (((key, width), rs), seq) =>
      val chunks = math.max(1, math.min(8, (rs.length + 1023) / 1024))
      val per = (rs.length + chunks - 1) / chunks
      rs.grouped(per).zipWithIndex.map { case (chunk, ci) =>
        val f = new java.io.File(vdir, f"f$seq%04d-c$ci%02d.parquet")
        val h = new GraftFileHandle(m.schema, width,
          f.getAbsolutePath, key, m.bloomOrds, m.curSpecId)
        chunk.foreach(h.add)
        h.close()
      }
    }.toVector
  }

  /** Incremental writer of ONE parquet file: rows stream in (the
    * task-side append writer feeds straight from the DataWriter, no
    * buffering) and are encoded by Spark's `ParquetWriteSupport`;
    * zone-map statistics and bloom hashes accumulate as they pass.
    * Every row added has exactly `width` fields. */
  private[sources] final class GraftFileHandle(schema: StructType,
      width: Int, path: String, key: InternalRow,
      bloomOrds: Array[Int] = Array.empty, specId: Int = 0) {
    // shared conf + small initial buffers: a partitioned commit opens
    // one writer per partition key, and writer INIT cost (not data
    // volume) dominates a many-partition small-batch write — the same
    // reason real lake writers pool or tune their file handles. The
    // file is written through parquet's LocalOutputFile, not Hadoop's
    // LocalFileSystem, which without native IO forks `chmod` for the
    // file and for its `.crc` sibling (about 20 ms per file). Page
    // CRCs replace the `.crc` file as corruption detection: every
    // read verifies them ([[GraftParquetStore.openChecked]]).
    private val w = {
      val conf = new Configuration(sharedConf)
      ParquetWriteSupport.setSchema(
        fileSchema(schema, Array.range(0, width)), conf)
      new RowWriterBuilder(
        new LocalOutputFile(java.nio.file.Paths.get(path)))
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withRowGroupSize(8L << 20).withPageSize(64 << 10)
        .withPageWriteChecksumEnabled(true)
        .build()
    }
    private var n = 0
    private val mins = new Array[Any](width)
    private val maxs = new Array[Any](width)
    private val nulls = new Array[Int](width)
    // bloom index: distinct hashes per indexed slot, sized at close.
    // (A real deployment streams into a fixed-size filter; per-file
    // distinct counts here are chunk-bounded.)
    private val bOrds = bloomOrds.filter(_ < width)
    private val bSets = bOrds.map(_ =>
      new scala.collection.mutable.HashSet[Long])

    def add(r: InternalRow): Unit = {
      var i = 0
      while (i < width) {
        if (r.isNullAt(i)) nulls(i) += 1
        else trackStats(i, schema(i).dataType, r)
        i += 1
      }
      var j = 0
      while (j < bOrds.length) {
        val o = bOrds(j)
        val dt = schema(o).dataType
        if (!r.isNullAt(o)) bSets(j).add(GraftBloom.hashOf(dt, r.get(o, dt)))
        j += 1
      }
      w.write(r)
      n += 1
    }
    private def trackStats(i: Int, dt: DataType, r: InternalRow): Unit = {
      val v: Any = dt match {
        case LongType | TimestampType => r.getLong(i)
        case IntegerType | DateType => r.getInt(i)
        case DoubleType => r.getDouble(i)
        case FloatType => r.getFloat(i)
        // copy OUT of the row buffer — task-side rows are transient
        case StringType =>
          UTF8String.fromBytes(r.getUTF8String(i).getBytes)
        case _ => return // no zone map for this type
      }
      if (mins(i) == null || GraftZoneMap.cmpStat(dt, v, mins(i)) < 0)
        mins(i) = v
      if (maxs(i) == null || GraftZoneMap.cmpStat(dt, v, maxs(i)) > 0)
        maxs(i) = v
    }
    def close(): GraftFileInfo = {
      w.close()
      val st = (0 until width).flatMap { i =>
        schema(i).dataType match {
          case LongType | IntegerType | DoubleType | FloatType |
              StringType | DateType | TimestampType =>
            Some(i -> GraftColStats(mins(i), maxs(i), nulls(i)))
          case _ => None
        }
      }.toMap
      val bf = bOrds.zip(bSets).map { case (o, hs) =>
        o -> GraftBloom.build(hs)
      }.toMap
      GraftFileInfo(path, key, n,
        new java.io.File(path).length(), width, st, bf, specId)
    }
    def abort(): Unit = {
      try w.close() catch { case _: Throwable => () }
      new java.io.File(path).delete(); ()
    }
  }

  /** parquet's writer builder over Spark's row encoder. The encoder
    * takes its datetime rebase mode from the active SQLConf; it is
    * pinned to CORRECTED, so days and microseconds are stored raw
    * whatever the session sets (the reader never rebases). Spark's
    * footer keys (its version, the row schema as JSON) serve Spark's
    * own file source; the store's reader needs neither, and on the
    * lake's many small files they add about a third to bytes written. */
  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] =
      SQLConf.withExistingConf(rawDatetimes)(new ParquetWriteSupport {
        override def init(conf: Configuration): WriteSupport.WriteContext =
          new WriteSupport.WriteContext(super.init(conf).getSchema,
            java.util.Collections.emptyMap[String, String]())
      })
  }
  private lazy val rawDatetimes = {
    val c = new SQLConf
    c.setConfString(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    c
  }

  // ---- read path ------------------------------------------------------

  /** Read one file into rows of the table's full physical width,
    * decoding ONLY `readOrds` (column projection pushed into the
    * parquet reader) and applying the file's DELETION VECTOR: marked
    * positions are skipped by the running record index as the batches
    * decode, so a DV-free file pays one branch per row and a DV'd file
    * one bit test — no id lookups, no extra I/O. A requested slot the
    * file predates (written before its ADD COLUMN) reads its
    * exists-default — NULL unless an `ADD COLUMN ... DEFAULT` declared
    * one ([[GraftDefaults]]); a slot not requested reads NULL. Rows are
    * views over the reader's reused column batches: a caller that
    * keeps a row copies it. Runs wherever the caller runs —
    * executor-side under the file scan and the maintenance jobs,
    * driver-side for the small merge paths. */
  private[sources] def readFile(file: GraftFileInfo, schema: StructType,
      readOrds: Array[Int]): Iterator[InternalRow] =
    readFileRaw(file, schema, readOrds, file.dv.orNull)

  /** read one file's PHYSICAL records — DV ignored unless `dv` is given
    * (DV maintenance and position-addressed work; everything
    * row-serving goes through [[readFile]]) — as [[FileRows]], which
    * also tell each row's physical record index. The reader closes
    * when the file is exhausted, when a decode fails and, inside a
    * task, when the task completes — so a consumer that stops early (a
    * pushed LIMIT) or fails leaves no file open. A driver-side consumer
    * reads to the end. */
  private[sources] def readFileRaw(file: GraftFileInfo, schema: StructType,
      readOrds: Array[Int], dv: GraftDeleteVector = null): FileRows = {
    val present = readOrds.filter(_ < file.numCols).distinct.sorted
    val vecs = new Array[ColumnVector](schema.length)
    val reader =
      if (present.isEmpty) {
        // no requested column exists in this file (COUNT over a
        // pre-evolution projection): no page is decoded, so only the
        // file length is checked; the manifest counts the rows
        checkLength(file, new java.io.File(file.path).length())
        null
      } else {
        val r = openChecked(file, fileSchema(schema, present))
        val decoded = r.resultBatch()
        present.indices.foreach(j => vecs(present(j)) = decoded.column(j))
        r
      }
    lazy val defaults =
      new GenericInternalRow(GraftDefaults.existsDefaults(schema))
    vecs.indices.foreach { o =>
      if (vecs(o) == null) {
        val c = new ConstantColumnVector(1, schema(o).dataType)
        if (o >= file.numCols && readOrds.contains(o))
          ColumnVectorUtils.populate(c, defaults, o)
        else c.setNull()
        vecs(o) = c
      }
    }
    val rows = new FileRows(reader, new ColumnarBatch(vecs), file.rows, dv)
    val ctx = TaskContext.get()
    if (ctx != null) ctx.addTaskCompletionListener[Unit](_ => rows.close())
    rows
  }

  /** The rows of one open data file, batch by batch: each row is a
    * view of the current batch at the table's full physical width,
    * reused from row to row. `reader` is null when no slot is decoded;
    * the batch of constants then serves all `records` rows at once.
    * `dv` (may be null) drops marked record positions. */
  private[sources] final class FileRows(
      reader: VectorizedParquetRecordReader, batch: ColumnarBatch,
      records: Int, dv: GraftDeleteVector) extends Iterator[InternalRow] {
    private var base = 0 // record index of the batch's first row
    private var n = 0 // rows in the batch
    private var i = 0 // next row of the batch
    private var pos = -1
    private var ready = false
    private var closed = false

    /** physical record index of the row `next()` returned last */
    def position: Int = pos

    // the next batch; false at the end of the file
    private def load(): Boolean = {
      base += n
      n =
        if (reader == null) records - base
        else if (reader.nextBatch()) reader.resultBatch().numRows()
        else 0
      i = 0
      batch.setNumRows(n)
      n > 0
    }

    def hasNext: Boolean = {
      while (!ready && !closed) {
        if (i < n) {
          if (dv != null && dv.deleted(base + i)) i += 1 else ready = true
        } else {
          val more = try load() catch { case t: Throwable => close(); throw t }
          if (!more) close()
        }
      }
      ready
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("data file exhausted")
      ready = false
      pos = base + i
      i += 1
      batch.getRow(pos - base)
    }

    def close(): Unit = if (!closed) {
      closed = true
      ready = false
      if (reader != null) reader.close()
    }
  }

  /** Open one data file, once, for decoding `cols` (named `c<ordinal>`
    * at the table's current types; the reader widens narrower stored
    * slots), checked against its manifest entry: the file's length
    * must equal `bytes` (a truncated or replaced file fails before any
    * row is read), its footer's row count must equal `rows`, and every
    * page read verifies the page CRC the writer stored (a flipped byte
    * fails the read). A check that fails throws; no row is returned. */
  private def openChecked(file: GraftFileInfo, cols: StructType)
      : VectorizedParquetRecordReader = {
    import scala.jdk.CollectionConverters._
    val in = new LocalInputFile(java.nio.file.Paths.get(file.path))
    val length = in.getLength
    checkLength(file, length)
    val conf = new JobConf(sharedConf)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, cols.json)
    val stream = in.newStream()
    var reader: VectorizedParquetRecordReader = null
    try {
      val footer = ParquetFileReader.readFooter(in,
        HadoopReadOptions.builder(conf).build(), stream)
      val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
      if (rows != file.rows) throw corrupt(file,
        s"footer holds $rows rows, the manifest records ${file.rows}")
      // raw days and microseconds; batches at most Spark's batch size
      reader = new VectorizedParquetRecordReader(null, "CORRECTED", "UTC",
        "CORRECTED", "UTC", false, math.max(1, math.min(file.rows,
          SQLConf.get.parquetVectorizedReaderBatchSize)))
      // the declared HadoopInputFile is only used as an InputFile
      reader.initialize(
        new FileSplit(new Path(file.path), 0, length, Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()),
        Some(in).asInstanceOf[Option[HadoopInputFile]], Some(stream),
        Some(footer))
      reader
    } catch {
      case t: Throwable =>
        if (reader != null) reader.close()
        stream.close()
        throw t
    }
  }

  // a manifest entry replayed from a log that predates `bytes` carries
  // 0 (no parquet file is empty), so only a recorded length is checked
  private def checkLength(file: GraftFileInfo, length: Long): Unit =
    if (file.bytes > 0 && length != file.bytes)
      throw corrupt(file,
        s"is $length bytes, the manifest records ${file.bytes}")

  private def corrupt(file: GraftFileInfo, what: String) =
    new IllegalStateException(s"corrupt data file ${file.path}: $what")

  /** Pack data files into scan bins, keeping their manifest order, by
    * Spark's `FilePartition` sizing: a file weighs its bytes plus
    * `spark.sql.files.openCostInBytes`, and a bin holds about
    * min(`maxPartitionBytes`, max(open cost, total weight /
    * parallelism)). Small files so share about `defaultParallelism`
    * bins, one task each, instead of paying a task per file; a large
    * table still splits by `maxPartitionBytes`. Spark fills bins
    * next-fit, which can open up to twice as many; here a file joins
    * the bin its starting offset falls in, so bins are contiguous and
    * never more than ceil(total / bin size), which is at most
    * `parallelism` unless bins are capped by `maxPartitionBytes`.
    * Driver-side (planning). */
  private[sources] def packFiles(files: Vector[GraftFileInfo])
      : Vector[Vector[GraftFileInfo]] = {
    if (files.length <= 1) return files.map(Vector(_))
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val parallelism = math.max(1, conf.filesMinPartitionNum.getOrElse(
      org.apache.spark.sql.SparkSession.active.sparkContext
        .defaultParallelism))
    val starts = files.scanLeft(0L)(_ + _.bytes + openCost)
    val total = math.max(1L, starts.last)
    val binBytes = math.max(1L, math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, (total + parallelism - 1) / parallelism)))
    val bins = (total + binBytes - 1) / binBytes
    files.indices.groupBy(i => starts(i) * bins / total).toVector
      .sortBy(_._1).map(_._2.map(files).toVector)
  }

  /** materialize a whole commit's files (driver-side: a small
    * version's change-feed pre-images, the row fallbacks). Each file
    * is read at its WRITE-TIME width, all its slots decoded, so
    * evolution-on-read and the numFields invariants survive the
    * file round-trip; every row is a copy the caller keeps. */
  private[sources] def readAll(files: Vector[GraftFileInfo],
      schema: StructType): Array[InternalRow] =
    files.iterator.flatMap { f =>
      readFile(f, StructType(schema.fields.take(f.numCols)),
        Array.range(0, f.numCols)).map(_.copy())
    }.toArray

  /** Compute per-file DELETION VECTORS for a pushed DELETE predicate,
    * TASK-SIDE: one Spark task per candidate file evaluates the
    * conjunction over the file's physical records and ships back only
    * (path → merged bitmap) — O(matched files) driver metadata, zero
    * data bytes moved or rewritten. Already-deleted positions stay set
    * (bitmap union across DELETEs); a file where no NEW row matched is
    * absent from the result, so its manifest entry survives BY
    * REFERENCE. The filters were vetted by canDeleteWhere: every one
    * compiles, and the compiled conjunction is EXACT Spark semantics
    * (the same evaluator that drives INSERT OVERWRITE delete sets). */
  private[sources] def computeDvs(
      spark: org.apache.spark.sql.SparkSession, schema: StructType,
      candidates: Vector[GraftFileInfo],
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Map[String, GraftDeleteVector] = {
    if (candidates.isEmpty) return Map.empty
    val readOrds = filters.flatMap(_.references).distinct
      .map(c => schema.fieldNames.indexOf(c)).filter(_ >= 0).sorted
    spark.sparkContext
      .parallelize(candidates, math.min(candidates.length,
        math.max(1, spark.sparkContext.defaultParallelism * 2)))
      .flatMap { f =>
        val preds = filters.flatMap(GraftFilterEval.compile(_, schema))
        require(preds.length == filters.length,
          s"DV delete: ${filters.length - preds.length} filter(s) " +
            "stopped compiling between canDeleteWhere and the task — " +
            "refusing a partial (superset-deleting) predicate")
        val words = f.dv.map(_.words.clone())
          .getOrElse(new Array[Long]((f.rows + 63) >> 6))
        var card = f.dv.map(_.card).getOrElse(0)
        var grew = false
        var pos = 0
        readFileRaw(f, schema, readOrds).foreach { r =>
          if ((words(pos >> 6) & (1L << (pos & 63))) == 0L &&
              preds.forall(_(r))) {
            words(pos >> 6) |= 1L << (pos & 63)
            card += 1; grew = true
          }
          pos += 1
        }
        if (grew) Iterator.single(f.path -> GraftDeleteVector(words, card))
        else Iterator.empty
      }
      .collect().toMap
  }

  /** write ONE staged rewrite file in a TASK from the next (at most
    * `limit`) rows of `rows`: a temp-dir file whose metadata ships
    * back to the driver; the commit adopts it (rename) once the
    * version number is known under the store lock. The file keeps the
    * partition key, spec id and write-time width it is given — rows
    * narrower or wider than `width` are re-shaped to it — so pruning
    * and evolution-on-read semantics are unchanged. */
  private[sources] def stageRewriteFile(m: Meta, rows: Iterator[InternalRow],
      key: InternalRow, width: Int, specId: Int,
      limit: Int = Int.MaxValue): GraftFileInfo = {
    val dir = java.nio.file.Files.createTempDirectory(RewriteStagePrefix)
    val h = new GraftFileHandle(m.schema, width,
      new java.io.File(dir.toFile, "staged.parquet").getAbsolutePath,
      key, m.bloomOrds, specId)
    var n = 0
    while (n < limit && rows.hasNext) {
      val r = rows.next()
      if (r.numFields == width) h.add(r)
      else {
        val vals = new Array[Any](width)
        var i = 0
        while (i < width) {
          vals(i) =
            if (i < r.numFields) r.get(i, m.schema(i).dataType) else null
          i += 1
        }
        h.add(new GenericInternalRow(vals))
      }
      n += 1
    }
    h.close()
  }

  /** One unit of a task-side rewrite: the files whose live rows one
    * task reads, and the partition key, spec id and write-time width
    * its output files keep. */
  private[sources] final case class RewriteUnit(files: Vector[GraftFileInfo],
      key: InternalRow, width: Int, specId: Int)
  private[sources] object RewriteUnit {
    /** a unit of one file, rewritten in its own shape */
    def of(f: GraftFileInfo): RewriteUnit =
      RewriteUnit(Vector(f), f.key, f.numCols, f.specId)
  }

  /** The TASK-SIDE REWRITE JOB every maintenance verb stages through
    * (DV purge, bin-pack, MoR compaction, static overwrite): the units
    * slice into min(units, 2 × defaultParallelism) tasks; a task reads
    * each unit's live rows (deletion vectors applied), passes them
    * through `transform` and stages what comes out as files of up to
    * `fileRows` rows — none when no row survives. Rows reach
    * `transform` at the table's full width, a slot the file predates
    * holding its exists-default exactly as a scan reads it; the staged
    * file keeps the unit's width. The driver receives file metadata
    * only, one vector per unit in unit order, and never a row.
    * `transform` runs in the task, once per unit. */
  private[sources] def stageRewrites(
      spark: org.apache.spark.sql.SparkSession, m: Meta,
      units: Vector[RewriteUnit], fileRows: Int = Int.MaxValue)(
      transform: Iterator[InternalRow] => Iterator[InternalRow])
      : Vector[Vector[GraftFileInfo]] = {
    if (units.isEmpty) return Vector.empty
    spark.sparkContext
      .parallelize(units, math.min(units.length,
        math.max(1, spark.sparkContext.defaultParallelism * 2)))
      .map { u =>
        val allOrds = Array.range(0, m.schema.length)
        val rows = transform(u.files.iterator.flatMap(f =>
          readFile(f, m.schema, allOrds)))
        val out = Vector.newBuilder[GraftFileInfo]
        while (rows.hasNext)
          out += stageRewriteFile(m, rows, u.key, u.width, u.specId,
            fileRows)
        out.result()
      }
      .collect().toVector
  }

  /** DISTRIBUTED id lookup: the rows of `files` whose id column is in
    * `ids` — the change feed's pre-image resolution. Zone maps and
    * bloom indexes drop files that cannot hold a target id BEFORE any
    * task launches; matching rows (O(|ids|) under the MoR unique-id
    * contract) ship back. Never a base materialization. */
  private[sources] def lookupByIds(
      spark: org.apache.spark.sql.SparkSession, m: Meta,
      files: Vector[GraftFileInfo], idOrd: Int, idType: DataType,
      ids: Set[Any]): Array[InternalRow] = {
    if (files.isEmpty || ids.isEmpty) return Array.empty
    val idName = m.schema(idOrd).name
    val probe = org.apache.spark.sql.sources.In(idName, ids.toArray)
    val candidates = files.filter(f =>
      !GraftZoneMap.skips(probe, f, m.schema))
    if (candidates.isEmpty) return Array.empty
    spark.sparkContext
      .parallelize(candidates, math.min(candidates.length,
        math.max(1, spark.sparkContext.defaultParallelism * 2)))
      .flatMap { f =>
        readFile(f, m.schema, Array.range(0, f.numCols)).filter(r =>
          idOrd < r.numFields && !r.isNullAt(idOrd) &&
            ids.contains(r.get(idOrd, idType))).map(_.copy())
      }
      .collect()
  }

  /** stage a DataFrame's rows as append files IN SPARK TASKS — the
    * write half of a multi-table transaction (the normal V2 write
    * path cannot be used: it would commit each table independently).
    * One staging task per INPUT PARTITION, each streaming its rows
    * straight into [[GraftParquetAppendWriterFactory]]'s incremental
    * per-partition-key writers — the exact machinery of a plain
    * INSERT INTO: no parallelism ceiling, no task ever buffers its
    * rows, only file metadata returns to the driver. Generated
    * columns recompute task-side with ALWAYS semantics (the factory's
    * `gens` projection, same as the V2 path), and `checks` —
    * (name, analyzed boolean flag ordinal past the visible width) —
    * refuse violating rows loudly, so a transactional append enforces
    * exactly what a plain INSERT would. */
  private[graft] def stageAppendTaskSide(
      spark: org.apache.spark.sql.SparkSession, m: Meta,
      df: org.apache.spark.sql.DataFrame,
      checks: Seq[(String, String)] = Seq.empty)
      : (Vector[GraftFileInfo], Long) = {
    val visible = GraftColumnMap.visible(m.schema)
    require(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      visible.fields.map(f => (f.name, f.dataType)).toSeq,
      s"transaction write schema ${df.schema.simpleString} does not " +
        s"match the table's ${visible.simpleString}")
    val width = visible.length
    val nChecks = checks.length
    // CHECK predicates evaluate as analyzed boolean columns appended
    // past the visible width — codegen'd in the staging pass itself,
    // one job, no extra scan; NULL passes, FALSE refuses (SQL CHECK)
    val augmented =
      if (nChecks == 0) df
      else df.select(df.columns.toIndexedSeq
        .map(org.apache.spark.sql.functions.col)
        ++ checks.zipWithIndex.map { case ((_, sql), i) =>
          org.apache.spark.sql.functions.expr(sql).as(s"__graft_chk_$i")
        }: _*)
    val rdd = augmented.queryExecution.toRdd
    val gens = GraftGenerated.boundGenerators(m.schema)
    val factory = GraftParquetAppendWriterFactory(m, width, gens)
    val checkNames = checks.map(_._1).toArray
    val results: Array[(Vector[GraftFileInfo], Long)] =
      spark.sparkContext.runJob(rdd,
        (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
          val writer = factory.createWriter(ctx.partitionId(),
            ctx.taskAttemptId())
          // strip the check flags back off before the write (the
          // factory expects exactly the visible width)
          val strip =
            if (nChecks == 0) null
            else UnsafeProjection.create(
              visible.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
                org.apache.spark.sql.catalyst.expressions
                  .BoundReference(i, f.dataType, nullable = true)
                : org.apache.spark.sql.catalyst.expressions.Expression
              })
          var n = 0L
          try {
            while (it.hasNext) {
              val r = it.next()
              var c = 0
              while (c < nChecks) {
                if (!r.isNullAt(width + c) && !r.getBoolean(width + c))
                  throw new IllegalStateException(
                    "transactional append violates enforced CHECK " +
                      s"constraint ${checkNames(c)} — nothing committed")
                c += 1
              }
              writer.write(if (strip == null) r else strip(r))
              n += 1
            }
            (writer.commit()
              .asInstanceOf[GraftFilesMessage].files, n)
          } catch {
            case t: Throwable => writer.abort(); throw t
          }
        })
    (results.toVector.flatMap(_._1), results.iterator.map(_._2).sum)
  }

  /** MOVE task-staged files under the committed version's directory —
    * runs driver-side under the store lock when the version number is
    * known; rename on the same filesystem, no data copied. Keeps the
    * table directory free of uncommitted files, so retention GC can
    * never race an in-flight write. */
  private[sources] def adoptStaged(m: Meta, version: Int,
      staged: Vector[GraftFileInfo]): Vector[GraftFileInfo] = {
    val vdir = new java.io.File(m.dir, f"v$version%05d")
    vdir.mkdirs()
    val now = System.currentTimeMillis()
    // writer-unique name component: two PROCESSES racing the same
    // version number adopt into the SAME directory before the log
    // claim adjudicates the slot — deterministic names would let the
    // loser's rename silently overwrite the winner's committed bytes.
    // Manifests reference absolute paths, so names carry no meaning.
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val adopted = staged.zipWithIndex.map { case (f, i) =>
      val target = new java.io.File(vdir, f"t$i%04d-$tok.parquet")
      val src = new java.io.File(f.path)
      if (!src.renameTo(target))
        throw new IllegalStateException(
          s"could not adopt staged file ${f.path} into $target")
      // rename preserves the STAGING-time mtime; a foreign process's
      // orphan sweep between this adoption and the log entry landing
      // would see a past-grace unreferenced file and delete committed
      // data. Touch every adopted file (and the version dir) to `now`
      // so the grace window restarts at commit time — the same reason
      // transactAppend touches mtimes at commit.
      target.setLastModified(now)
      dropEmptyStageDir(src.getParentFile)
      f.copy(path = target.getAbsolutePath)
    }
    vdir.setLastModified(now)
    adopted
  }

  /** temp-directory name prefixes of task-side staging: one
    * `graft-stage-` directory per append-writing task, one
    * `graft-rewrite-` directory per rewrite file. */
  private[sources] val AppendStagePrefix = "graft-stage-"
  private[sources] val RewriteStagePrefix = "graft-rewrite-"
  private def isStageDir(d: java.io.File): Boolean =
    d.getName.startsWith(AppendStagePrefix) ||
      d.getName.startsWith(RewriteStagePrefix)

  /** remove a staging directory once its last file has been adopted or
    * discarded (a directory that still holds files stays: another
    * staged file of the same task is not committed yet). Any directory
    * that is not a staging directory is left alone. */
  private def dropEmptyStageDir(d: java.io.File): Unit =
    if (d != null && isStageDir(d)) { d.delete(); () }

  /** delete files no commit will adopt (a refused, aborted or replayed
    * write) and their emptied staging directories. Files already
    * adopted into a version directory are deleted the same way; the
    * version directory stays. */
  private[sources] def discardStaged(files: Seq[GraftFileInfo]): Unit =
    files.foreach { f =>
      val file = new java.io.File(f.path)
      file.delete()
      dropEmptyStageDir(file.getParentFile)
    }

  /** sweep CRASHED STAGING DIRECTORIES: `graft-stage-*` /
    * `graft-rewrite-*` temp dirs whose newest file is older than the
    * grace window — a process that died between task-side staging and
    * the adopting commit leaves them, and nothing else ever collects
    * them. A LIVE writer's staging dir is younger than any sane grace
    * (its tasks are actively appending), so in-flight work survives.
    * Returns files deleted. */
  private[graft] def sweepStagingDirs(graceMs: Long): Int = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && isStageDir(d))
      .foreach { d =>
        val kids = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        val newest = (d.lastModified() +: kids.map(_.lastModified())).max
        if (newest < cutoff) {
          kids.foreach(f => if (f.delete()) deleted += 1)
          d.delete()
          ()
        }
      }
    deleted
  }

  /** retention GC (VACUUM): delete every file under the table dir that
    * no RETAINED commit references — shared (append-reused) files
    * survive for as long as any retained manifest lists them. Returns
    * the number of files deleted. */
  /** Retention GC: delete files no retained manifest references —
    * but ONLY under version dirs that have EXPIRED (dir number <
    * `firstRetained`). That loses nothing: a file created at version
    * N is referenced by manifest N (every creator — append adoption,
    * maintenance adoption, overwrite, persistFull — commits a
    * manifest listing it), so it can only become unreferenced-by-all-
    * retained once version N itself expires. A dir AT or ABOVE
    * firstRetained, by contrast, can hold a CONCURRENT PROCESS's
    * just-adopted files for an in-flight commit this process cannot
    * see yet (adoption precedes the cross-process log claim by
    * design), and sweeping those silently corrupts the winner's
    * committed manifest — the CrossJvmSpec binpack-vs-append race
    * (r16). Crashed writers' leftovers in retained dirs remain
    * vacuumOrphans' job, which is grace-windowed and verifyTail-
    * strict for exactly this reason. */
  private[sources] def gcUnreferenced(name: String,
      referenced: Set[String], firstRetained: Int): Int =
    meta(name).map { m =>
    var deleted = 0
    Option(new java.io.File(m.dir).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName != "_graft_log" &&
        d.getName != "_graft_cdf") // staged change-data has its own sweep
      .filter(_.getName.stripPrefix("v").toIntOption
        .exists(_ < firstRetained))
      .foreach { vdir =>
        Option(vdir.listFiles()).getOrElse(Array.empty).foreach { f =>
          if (!referenced.contains(f.getAbsolutePath)) {
            if (f.delete()) deleted += 1
          }
        }
        if (Option(vdir.listFiles()).forall(_.isEmpty)) vdir.delete()
      }
    deleted
  }.getOrElse(0)
}

/** Manifest ZONE-MAP evaluation: can a pushed v1 row filter PROVE a
  * file holds no matching row, from its per-column min/max/nulls
  * alone? Conservative by construction — `false` ("cannot skip") is
  * always safe, and Spark re-applies every pushed filter above the
  * scan anyway (the residual contract), so a mistake here could only
  * cost I/O, never correctness. Strings compare in UTF8String binary
  * order (Spark's collation), mirroring GraftFilterEval. */
object GraftZoneMap {
  import org.apache.spark.sql.sources._

  private[sources] def cmpStat(dt: DataType, a: Any, b: Any): Int =
    dt match {
      // Number-based for the WIDENABLE domains: a pre-widen file's
      // stat can still hold the narrow representation on paths the
      // widen-time normalization hasn't touched — comparing in the
      // widened domain is always exact (Int→Long, Float→Double are
      // lossless)
      case LongType | TimestampType => java.lang.Long.compare(
        a.asInstanceOf[Number].longValue(),
        b.asInstanceOf[Number].longValue())
      case IntegerType | DateType => Integer.compare(
        a.asInstanceOf[Int], b.asInstanceOf[Int])
      // ±0.0 normalized on both sides: SQL equality says -0.0 = 0.0,
      // java compare disagrees — a zone map must never skip a file
      // holding -0.0 for an EqualTo(0.0) probe (or vice versa)
      case DoubleType =>
        def n(x: Any): Double = {
          val d = x.asInstanceOf[Number].doubleValue()
          if (d == 0.0d) 0.0d else d
        }
        java.lang.Double.compare(n(a), n(b))
      case FloatType =>
        def n(x: Any): Float = {
          val f = x.asInstanceOf[Float]; if (f == 0.0f) 0.0f else f
        }
        java.lang.Float.compare(n(a), n(b))
      case StringType => a.asInstanceOf[UTF8String]
        .compareTo(b.asInstanceOf[UTF8String])
      case other => throw new IllegalStateException(
        s"no zone-map ordering for $other")
    }

  /** a v1 filter literal lifted into the stat value domain. */
  private def statValue(dt: DataType, v: Any): Option[Any] = dt match {
    case LongType => Some(v.asInstanceOf[Number].longValue())
    case IntegerType => Some(v.asInstanceOf[Number].intValue())
    case DoubleType => Some(v.asInstanceOf[Number].doubleValue())
    case FloatType => Some(v.asInstanceOf[Number].floatValue())
    case StringType => Some(UTF8String.fromString(v.toString))
    case TimestampType => GraftFilterEval.tsMicros(v)
    case DateType => GraftFilterEval.dateDays(v)
    case _ => None
  }

  def skips(f: Filter, file: GraftFileInfo,
      schema: StructType): Boolean = {
    // comparison-style check: Some(skip?) when the column+value are
    // zone-map evaluable; None → cannot reason, never skip
    def bound(attr: String, v: Any)(
        prove: (GraftColStats, Any, DataType) => Boolean): Boolean = {
      if (v == null) return false
      val ord = schema.fieldNames.indexOf(attr)
      if (ord < 0) return false
      // a slot beyond the file's width reads NULL everywhere — no
      // comparison can match — UNLESS the column declares an
      // EXISTS_DEFAULT (ADD COLUMN ... DEFAULT): then every absent
      // slot reads the default and the stats prove nothing
      if (ord >= file.numCols)
        return !GraftDefaults.has(schema, ord)
      file.stats.get(ord) match {
        case None => false
        case Some(s) =>
          if (s.min == null) s.nulls == file.rows // all-null column
          else statValue(schema(ord).dataType, v) match {
            case Some(sv) => prove(s, sv, schema(ord).dataType)
            case None => false
          }
      }
    }
    // bloom second chance for a point probe the min/max range cannot
    // exclude (high-cardinality key scattered across files): skip when
    // the file's bloom filter PROVES the value absent. Never a false
    // negative, so never a wrong skip.
    def bloomSkips(attr: String, v: Any): Boolean = {
      if (v == null) return false
      val ord = schema.fieldNames.indexOf(attr)
      if (ord < 0 || ord >= file.numCols) return false
      file.blooms.get(ord) match {
        case Some(bf) =>
          val dt = schema(ord).dataType
          statValue(dt, v) match {
            case Some(sv) => !bf.mightContain(GraftBloom.hashOf(dt, sv))
            case None => false
          }
        case None => false
      }
    }
    f match {
      case EqualTo(a, v) => bound(a, v)((s, sv, dt) =>
        cmpStat(dt, sv, s.min) < 0 || cmpStat(dt, sv, s.max) > 0) ||
        bloomSkips(a, v)
      case EqualNullSafe(a, null) =>
        val ord = schema.fieldNames.indexOf(a)
        ord >= 0 && ord < file.numCols &&
          file.stats.get(ord).exists(_.nulls == 0)
      case EqualNullSafe(a, v) => bound(a, v)((s, sv, dt) =>
        cmpStat(dt, sv, s.min) < 0 || cmpStat(dt, sv, s.max) > 0) ||
        bloomSkips(a, v)
      case GreaterThan(a, v) =>
        bound(a, v)((s, sv, dt) => cmpStat(dt, s.max, sv) <= 0)
      case GreaterThanOrEqual(a, v) =>
        bound(a, v)((s, sv, dt) => cmpStat(dt, s.max, sv) < 0)
      case LessThan(a, v) =>
        bound(a, v)((s, sv, dt) => cmpStat(dt, s.min, sv) >= 0)
      case LessThanOrEqual(a, v) =>
        bound(a, v)((s, sv, dt) => cmpStat(dt, s.min, sv) > 0)
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        vs.forall(v => bound(a, v)((s, sv, dt) =>
          cmpStat(dt, sv, s.min) < 0 || cmpStat(dt, sv, s.max) > 0) ||
          bloomSkips(a, v))
      case IsNull(a) =>
        val ord = schema.fieldNames.indexOf(a)
        ord >= 0 && ord < file.numCols &&
          file.stats.get(ord).exists(_.nulls == 0)
      case IsNotNull(a) =>
        val ord = schema.fieldNames.indexOf(a)
        // an absent slot is all-null ONLY without an exists-default
        ord >= 0 && ((ord >= file.numCols &&
          !GraftDefaults.has(schema, ord)) ||
          (ord < file.numCols && file.stats.get(ord).exists(s =>
            s.nulls == file.rows && file.rows > 0)))
      case And(l, r) => skips(l, file, schema) || skips(r, file, schema)
      case Or(l, r) => skips(l, file, schema) && skips(r, file, schema)
      case _ => false
    }
  }
}

/** TASK-SIDE append writes (the write half of the file-backed scale
  * story): a plain INSERT INTO a parquet-backed table streams rows
  * from each write task STRAIGHT into staged parquet files — the
  * driver sees only FILE METADATA in the commit messages, never a
  * row, and the commit adopts the staged files into the new version's
  * directory with one rename each (manifest-only commit, the
  * lake-format write path). Rewriting writes (overwrite / truncate /
  * replace) keep the row-message path: their commit must evaluate
  * predicates against the BASE rows anyway. */
/** Streaming form of the task-side append: each EPOCH's tasks stage
  * parquet files with exactly the batch append writer (same handles,
  * same in-flight stats/bloom collection), and the epoch commit
  * adopts them manifest-only — streaming ingest into the lake table
  * without a driver row funnel. */
case class GraftParquetStreamingAppendWriterFactory(
    meta: GraftParquetStore.Meta, visibleWidth: Int,
    gens: Array[(Int,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
      Array.empty)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    GraftParquetAppendWriterFactory(meta, visibleWidth, gens)
      .createWriter(partitionId, taskId)
}

case class GraftParquetAppendWriterFactory(
    meta: GraftParquetStore.Meta, visibleWidth: Int,
    gens: Array[(Int,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
      Array.empty,
    replace: Boolean = false)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    // the group-based ReplaceData write can arrive ONE FIELD WIDER
    // than the declared schema (the __row_operation column — see
    // GraftWriterFactory's layout note); on the replace path skip it,
    // anywhere else a width mismatch is schema drift and fails loudly
    private var physProj: UnsafeProjection = _
    private def projFor(row: InternalRow): UnsafeProjection = {
      if (physProj == null) {
        physProj =
          if (row.numFields == visibleWidth)
            UnsafeProjection.create(GraftColumnMap.toPhysical(meta.schema))
          else if (replace && row.numFields == visibleWidth + 1)
            UnsafeProjection.create(
              GraftColumnMap.toPhysical(meta.schema, offset = 1))
          else throw new IllegalStateException(
            s"append row has ${row.numFields} fields, write schema " +
              s"has $visibleWidth (replace=$replace) — unknown " +
              "layout, refusing to write")
      }
      physProj
    }
    // GENERATED COLUMNS recompute on the physical row BEFORE the
    // partition key projection (a generated column may be the
    // partition source) — same ALWAYS semantics as the row path
    private val genProj: UnsafeProjection =
      if (gens.isEmpty) null
      else {
        val m = gens.toMap
        UnsafeProjection.create(meta.schema.indices.map(i =>
          m.getOrElse(i, org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, meta.schema(i).dataType,
              meta.schema(i).nullable))
          : org.apache.spark.sql.catalyst.expressions.Expression))
      }
    private val keyProj = UnsafeProjection.create(meta.partFields.map(
      GraftPartField.keyExpr(_, meta.schema)).toIndexedSeq)
    private val width = meta.schema.length
    // one open file per partition key this task observes (Spark
    // already requested clustering by the partition columns, so most
    // tasks see one key)
    private val open = scala.collection.mutable.LinkedHashMap[
      InternalRow, GraftParquetStore.GraftFileHandle]()
    // created with the task's first file: a task that writes no row
    // leaves no directory behind
    private var stageDir: java.io.File = _
    private def dir: java.io.File = {
      if (stageDir == null)
        stageDir = java.nio.file.Files.createTempDirectory(
          GraftParquetStore.AppendStagePrefix).toFile
      stageDir
    }
    override def write(row: InternalRow): Unit = {
      val phys0 = projFor(row)(row)
      val phys = if (genProj == null) phys0 else genProj(phys0)
      val key = keyProj(phys).copy(): InternalRow
      val h = open.getOrElseUpdate(key,
        new GraftParquetStore.GraftFileHandle(meta.schema, width,
          new java.io.File(dir,
            f"p$partitionId%05d-k${open.size}%03d.parquet")
            .getAbsolutePath, key, meta.bloomOrds, meta.curSpecId))
      h.add(phys)
    }
    override def commit(): WriterCommitMessage =
      GraftFilesMessage(open.values.map(_.close()).toVector)
    override def abort(): Unit = {
      open.values.foreach(_.abort())
      if (stageDir != null) { stageDir.delete(); () }
    }
    override def close(): Unit = ()
  }
}

/** Commit message of a task-side parquet append: file metadata only. */
case class GraftFilesMessage(files: Vector[GraftFileInfo])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage
