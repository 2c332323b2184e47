package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark._

/** The store's file codec: files written by the earlier Group codec
  * still read back identically, the current writer round-trips every
  * supported type, and callers that keep rows from the reader's reused
  * batches keep distinct rows. */
class ParquetCodecSpec extends AnyFunSuite {

  private val types = Seq(LongType, IntegerType, DoubleType, FloatType,
    BooleanType, StringType, BinaryType, DateType, TimestampType,
    DecimalType(9, 2), DecimalType(18, 2))
  private def schemaOf(ts: Seq[DataType]) =
    StructType(ts.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
  private val schema = schemaOf(types)

  private def s(x: String) = UTF8String.fromString(x)
  private def dec(x: String, p: Int) = Decimal(BigDecimal(x), p, 2)
  // the rows the fixture holds, in its order
  private val expected: Seq[Array[Any]] = Seq(
    Array(1L, 7, 1.5d, 2.25f, true, s("alpha"), Array[Byte](1, 2, 3),
      19000, 1600000000123456L, dec("1234567.89", 9),
      dec("1234567890123456.78", 18)),
    Array.fill[Any](11)(null),
    Array(Long.MinValue, Int.MinValue, -0.0d, Float.MaxValue, false,
      s(""), Array.emptyByteArray, -719162, -62135596800000000L,
      dec("-9999999.99", 9), dec("-9999999999999999.99", 18)),
    Array(Long.MaxValue, null, Double.NaN, null, true, null,
      Array[Byte](-1, 0), null, 0L, null, dec("0.01", 18)),
    Array(null, Int.MaxValue, null, -1.0e-3f, null, s("naïve ünïcode"),
      null, 0, null, dec("0.00", 9), null))

  // exact comparison: bytes by content, floats by bits (NaN, -0.0)
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToRawIntBits(f))
    case d: Decimal => (d.toJavaBigDecimal, d.precision, d.scale)
    case u: UTF8String => u.toString
    case other => other
  }
  private def rowsOf(rs: Seq[InternalRow], st: StructType): Seq[Seq[Any]] =
    rs.map(r => st.fields.indices.map(i =>
      norm(if (r.isNullAt(i)) null else r.get(i, st(i).dataType))))

  private val fixture: GraftFileInfo = {
    val f = new java.io.File(
      getClass.getResource("/graft/old-codec-all-types.parquet").toURI)
    GraftFileInfo(f.getAbsolutePath, InternalRow.empty, rows = 5,
      bytes = f.length(), numCols = 11)
  }

  private def read(f: GraftFileInfo, st: StructType): Seq[InternalRow] =
    GraftParquetStore.readFile(f, st, Array.range(0, st.length))
      .map(_.copy()).toVector

  private def footer(path: String) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(java.nio.file.Paths.get(path)))
    try r.getFooter.getFileMetaData finally r.close()
  }
  private def physicalTypes(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    footer(path).getSchema.getColumns.asScala.toSeq
      .map(_.getPrimitiveType.toString)
  }

  test("a file written by the Group codec reads back at its own types, " +
      "decimals stored as INT64 included") {
    assert(physicalTypes(fixture.path)(9).contains("int64"),
      "the fixture's decimal(9,2) is not stored as INT64")
    assert(rowsOf(read(fixture, schema), schema) ==
      rowsOf(expected.map(new GenericInternalRow(_)), schema))
  }

  test("a Group-codec file's INT and FLOAT slots read widened to " +
      "BIGINT and DOUBLE") {
    val wide = schemaOf(types.updated(1, LongType).updated(3, DoubleType))
    val widened = expected.map { r =>
      val w = r.clone()
      if (w(1) != null) w(1) = r(1).asInstanceOf[Int].toLong
      if (w(3) != null) w(3) = r(3).asInstanceOf[Float].toDouble
      new GenericInternalRow(w): InternalRow
    }
    assert(rowsOf(read(fixture, wide), wide) == rowsOf(widened, wide))
  }

  test("a Group-codec file read through a wider schema gives the added " +
      "slot its ADD COLUMN ... DEFAULT value") {
    val md = new MetadataBuilder()
      .putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, "42")
      .putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, "42")
      .build()
    val wider = schema.add(StructField("c11", IntegerType, nullable = true, md))
    val got = read(fixture, wider)
    assert(rowsOf(got, schema) ==
      rowsOf(expected.map(new GenericInternalRow(_)), schema))
    assert(got.map(_.getInt(11)) == Seq.fill(5)(42))
    // not requested: NULL, the default is not decoded
    val some = GraftParquetStore.readFile(fixture, wider, Array(0))
      .map(r => (r.isNullAt(11), r.isNullAt(5))).toVector
    assert(some == Vector.fill(5)((true, true)))
  }

  test("every supported type round-trips through the writer, dates and " +
      "timestamps unrebased under a LEGACY session; decimals of " +
      "precision 9 or less are stored as INT32") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codec")
    val path = dir.resolve("rt.parquet").toString
    val rebaseKey = "spark.sql.parquet.datetimeRebaseModeInWrite"
    val rebaseWas = spark.conf.getOption(rebaseKey)
    spark.conf.set(rebaseKey, "LEGACY")
    val info = try {
      val h = new GraftParquetStore.GraftFileHandle(schema, 11, path,
        InternalRow.empty)
      expected.foreach(r => h.add(new GenericInternalRow(r)))
      h.close()
    } finally rebaseWas match {
      case Some(v) => spark.conf.set(rebaseKey, v)
      case None => spark.conf.unset(rebaseKey)
    }
    assert(info.rows == 5 && info.bytes == new java.io.File(path).length())
    assert(info.stats(0) == GraftColStats(Long.MinValue, Long.MaxValue, 2))
    assert(!footer(path).getKeyValueMetaData.keySet.toString
      .contains("org.apache.spark"), "Spark's footer keys were written")
    val phys = physicalTypes(path)
    assert(phys(9).contains("int32") && phys(10).contains("int64") &&
      phys(8).contains("TIMESTAMP(MICROS,true)"), phys.mkString("; "))
    assert(rowsOf(read(info, schema), schema) ==
      rowsOf(expected.map(new GenericInternalRow(_)), schema))
    new java.io.File(path).delete()
    dir.toFile.delete()
  }

  private val kv = StructType(Seq(StructField("k", LongType),
    StructField("s", StringType)))
  private def writeKv(dir: java.nio.file.Path, n: Int): GraftFileInfo = {
    val h = new GraftParquetStore.GraftFileHandle(kv, 2,
      dir.resolve("kv.parquet").toString, InternalRow.empty)
    (0 until n).foreach(i => h.add(new GenericInternalRow(
      Array[Any](i.toLong, s(s"row-$i")))))
    h.close()
  }

  test("readAll of a file spanning several reader batches returns the " +
      "rows written, each its own row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codec")
    val f = writeKv(dir, 10000)
    val rows = GraftParquetStore.readAll(Vector(f), kv)
    assert(rows.map(r => (r.getLong(0), r.getUTF8String(1).toString)).toSeq ==
      (0 until 10000).map(i => (i.toLong, s"row-$i")))
    new java.io.File(f.path).delete()
    dir.toFile.delete()
  }

  test("lookupByIds returns one distinct row per matching id of a file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-codec")
    val f = writeKv(dir, 100)
    val m = GraftParquetStore.Meta(dir.toString, kv, Array.empty)
    val got = GraftParquetStore.lookupByIds(spark, m, Vector(f), 0,
      LongType, Set[Any](3L, 50L, 99L))
    assert(got.map(r => (r.getLong(0), r.getUTF8String(1).toString))
      .sorted.toSeq == Seq((3L, "row-3"), (50L, "row-50"), (99L, "row-99")))
    new java.io.File(f.path).delete()
    dir.toFile.delete()
  }

  test("a bin-pack of a table with a declared sort order keeps every " +
      "row's values and writes its files sorted") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)
    val t = "graft.codec_sorted"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) TBLPROPERTIES " +
      "('graft.store'='parquet', 'graft.sort-order'='k')")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $t SELECT (id * 7919 + $i) % 3000, " +
        s"concat('s', (id * 7919 + $i) % 3000) FROM range(1000)")
    }
    def rows = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val before = rows
    assert(before.map(_._1).distinct.length > 2000)
    assert(graft.api.GraftApi.rewriteSmallFiles(spark, t, 100000) > 0,
      "bin-pack merged nothing")
    assert(rows == before)
    val head = GraftTableStore.commitCount(t) - 1
    GraftTableStore.commitFiles(t, head).foreach { f =>
      val ks = GraftParquetStore.readFile(f, kv, Array(0))
        .map(_.getLong(0)).toVector
      assert(ks == ks.sorted, s"${f.path} is not sorted by k")
    }
    spark.sql(s"DROP TABLE $t")
  }

  test("a LIMIT that stops inside a file leaves none of the table's " +
      "data files open") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftMergeCatalog].getName)
    val t = "graft.codec_limit"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    (0 until 2).foreach { i =>
      spark.sql(s"INSERT INTO $t SELECT id, concat('v', id) " +
        s"FROM range(${i * 5000}, ${i * 5000 + 5000}, 1, 1)")
    }
    val head = GraftTableStore.commitCount(t) - 1
    val paths = GraftTableStore.commitFiles(t, head)
      .map(f => new java.io.File(f.path).getCanonicalPath).toSet
    assert(paths.size >= 2, s"files: $paths")
    assert(spark.sql(s"SELECT * FROM $t LIMIT 1").collect().length == 1)
    def openData: Seq[String] = {
      import scala.jdk.CollectionConverters._
      val fds = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/fd"))
      try fds.iterator.asScala.toVector.flatMap { l =>
        scala.util.Try(java.nio.file.Files.readSymbolicLink(l).toString)
          .toOption.filter(paths.contains)
      } finally fds.close()
    }
    assert(openData.isEmpty, s"data files still open: $openData")
    spark.sql(s"DROP TABLE $t")
  }
}
