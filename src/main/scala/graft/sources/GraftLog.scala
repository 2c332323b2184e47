package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.collection.concurrent.TrieMap

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint, ForeignKey, PrimaryKey, Unique}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A commit refused because a CONCURRENT WRITER touched the table's
  * log between this process's last replay and its claim — the typed
  * signal the conflict-aware retry keys on ([[GraftMergeCatalog]]'s
  * blind-append rebase). Subtypes IllegalStateException so callers
  * (and pins) that match the broad type keep working; the retry layer
  * alone discriminates. Delta models the same split with
  * ConcurrentModificationException subclasses. `installed` is the
  * table's record after a single-table commit installed the disk truth
  * in answer to the conflict: the state the retry classifies on, with
  * no second replay of the log. */
final class GraftConcurrentCommitException(msg: String,
    private[sources] val installed: Option[GraftTableStore.TableState] = None,
    cause: Throwable = null)
  extends IllegalStateException(msg, cause)

/** The WAREHOUSE ROOT: the one stable directory governed tables and
  * catalog sidecars live under — what makes a table findable again
  * after the process that created it is gone. `-Dgraft.warehouse=<dir>`
  * pins it across real process restarts (a deployment would point it
  * at object storage); the default is a per-JVM temp root, which is
  * exactly what the test vehicle needs (restart is simulated by
  * evicting all in-memory state while the root — the "disk" — stays). */
object GraftWarehouse {
  lazy val root: File = {
    val f = sys.props.get("graft.warehouse").map(new File(_)).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-warehouse-").toFile)
    f.mkdirs()
    f
  }

  /** one flat path segment per table: the full store name (catalog +
    * namespace + table), URL-encoded so namespace separators and
    * unicode can never escape the segment. */
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** the table's directory under the warehouse — data version dirs and
    * `_graft_log` both live here, so one directory IS the table. */
  def tableDir(storeName: String): File =
    new File(new File(root, "tables"), enc(storeName))

  /** the store name a table directory belongs to — [[tableDir]]'s
    * inverse. */
  private[sources] def storeNameOf(tableDir: File): String =
    java.net.URLDecoder.decode(tableDir.getName, StandardCharsets.UTF_8)

  /** catalog-level sidecar directory for SQL view definitions. */
  def viewsDir: File = {
    val d = new File(root, "views")
    d.mkdirs()
    d
  }

  def viewFile(catalogName: String, ident: Identifier): File =
    new File(viewsDir,
      enc((catalogName +: (ident.namespace() :+ ident.name()))
        .mkString(".")) + ".json")
}

/** The DURABLE TRANSACTION LOG of the file-backed store (the
  * `_delta_log` shape): every state change of a parquet-backed
  * governed table appends one JSON entry under
  * `<table dir>/_graft_log/NNNNNNNN.json`, written atomically
  * (tmp + rename), and a process that never heard of the table can
  * rebuild its ENTIRE governed state — commit history with file
  * manifests (stats, blooms, deletion vectors, spec ids), MoR op
  * logs, branches/tags, schema + partition-spec evolution,
  * constraints, the COPY INTO ingest ledger, the identity-column
  * high-water mark and a materialized view's record — by replaying
  * the log on first catalog touch.
  *
  * Entry kinds:
  *   - `checkpoint` — the complete table state. Written at CREATE
  *     (seq 0) and whenever retention trims the history (the
  *     checkpoint a lake format writes before expiring snapshots);
  *     entries older than the newest checkpoint are garbage-collected
  *     (the checkpoint subsumes them), which bounds replay at
  *     O(retained versions + entries since the last trim).
  *   - `commit` — one committed version: for a parquet commit the
  *     manifest DIFF against the previous version (added file entries,
  *     removed paths — an append logs O(appended files), never the
  *     table); for a MoR delta commit the op log itself (O(changed
  *     rows)). Carries the post-commit branch/tag map, the commit's
  *     newly-ingested source paths (COPY INTO's ledger rides INSIDE
  *     the commit — exactly-once across a crash, there is no
  *     commit-then-ledger window), the identity high-water mark and,
  *     on a materialized view's table, the MV record: its definition
  *     (`mvdef`, a string only the MV layer parses) and the source
  *     version its rows reflect (`mvwm`). The record rides the commit
  *     that moved the MV's rows, so replay never sees rows without
  *     their watermark. `checkpoint` carries the same keys.
  *   - `ref` — a branch/tag change that committed no version
  *     (CREATE BRANCH/TAG, fast-forward publish).
  *   - `meta` — a metadata-only evolution: schema (ADD/RENAME/DROP
  *     COLUMN, defaults), partition-spec evolution, constraint
  *     ADD/DROP.
  *
  * Every governed table logs: its DATA lives in files that survive
  * the process, and the log makes its state re-findable. All writes
  * happen under the store commit lock (the callers hold it), so
  * entries are totally ordered per table. At 100 TB the same design holds: the log is O(metadata)
  * (file paths + stats, never rows except MoR deltas, which are
  * O(changed rows) by definition), and replay is bounded by the
  * checkpoint. */
object GraftLog {
  import GraftParquetStore.Meta
  import GraftTableStore.{GraftCommitData, GraftDeltaData, GraftEqDeleteData, GraftParquetData, History}

  private def logDir(dir: String): File = new File(dir, "_graft_log")

  // ---- value codec ----------------------------------------------------
  //
  // Type-directed: the schema (or key/stat slot type) says how a value
  // serializes, so nothing is guessed at replay. Doubles/floats go
  // through their exact java toString/parse round-trip (preserves
  // -0.0, NaN, infinities — JSON numbers cannot); binary is base64;
  // decimals print plain and rebuild with their declared
  // precision/scale.
  private[sources] def jval(dt: DataType, v: Any): JValue =
    if (v == null) JNull
    else dt match {
      // Number-based for the WIDENABLE domains: a stat of a pre-widen
      // file can still hold the narrow boxed type on a path the
      // widen-time normalization missed — serializing it in the
      // widened domain is lossless, and a blind cast would brick
      // every subsequent checkpoint of the table
      case LongType | TimestampType =>
        JLong(v.asInstanceOf[Number].longValue())
      case IntegerType | DateType => JInt(v.asInstanceOf[Int])
      case BooleanType => JBool(v.asInstanceOf[Boolean])
      case DoubleType => JString(java.lang.Double.toString(
        v.asInstanceOf[Number].doubleValue()))
      case FloatType => JString(java.lang.Float.toString(v.asInstanceOf[Float]))
      case StringType => JString(v.asInstanceOf[UTF8String].toString)
      case BinaryType =>
        JString(Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
      case d: DecimalType =>
        JString(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case other => throw new IllegalStateException(
        s"graft log: no value codec for $other")
    }

  private[sources] def unjval(dt: DataType, j: JValue): Any = j match {
    case JNull | JNothing => null
    case _ => dt match {
      case LongType | TimestampType => asLong(j)
      case IntegerType | DateType => asInt(j)
      case BooleanType => j.asInstanceOf[JBool].value
      case DoubleType => java.lang.Double.parseDouble(j.asInstanceOf[JString].s)
      case FloatType => java.lang.Float.parseFloat(j.asInstanceOf[JString].s)
      case StringType => UTF8String.fromString(j.asInstanceOf[JString].s)
      case BinaryType => Base64.getDecoder.decode(j.asInstanceOf[JString].s)
      case d: DecimalType => Decimal(
        new java.math.BigDecimal(j.asInstanceOf[JString].s), d.precision, d.scale)
      case other => throw new IllegalStateException(
        s"graft log: no value codec for $other")
    }
  }

  /** json4s parses every JSON integer as JInt (BigInt) while the DSL
    * writes Scala Longs as JLong — coerce both shapes on read. */
  private def asLong(j: JValue): Long = j match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case other => throw new IllegalStateException(s"not an int: $other")
  }
  private def asInt(j: JValue): Int = asLong(j).toInt
  /** an optional integer field: absent or null reads None. */
  private def optLong(j: JValue): Option[Long] = j match {
    case JInt(_) | JLong(_) => Some(asLong(j))
    case _ => None
  }

  private def longsToB64(words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    Base64.getEncoder.encodeToString(bb.array())
  }
  private def b64ToLongs(s: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(Base64.getDecoder.decode(s))
    Array.fill(bb.remaining() / 8)(bb.getLong)
  }

  // ---- part-field / constraint / file codecs --------------------------

  private def jPart(p: GraftPartField): JValue = p match {
    case GraftIdentityPart(c) => ("t" -> "identity") ~ ("col" -> c)
    case GraftBucketPart(c, n) => ("t" -> "bucket") ~ ("col" -> c) ~ ("n" -> n)
    case GraftDaysPart(c) => ("t" -> "days") ~ ("col" -> c)
    case GraftTruncatePart(c, w) => ("t" -> "truncate") ~ ("col" -> c) ~ ("n" -> w)
  }
  private def unjPart(j: JValue): GraftPartField = {
    val JString(t) = j \ "t"
    val JString(c) = j \ "col"
    t match {
      case "identity" => GraftIdentityPart(c)
      case "bucket" => GraftBucketPart(c, asInt(j \ "n"))
      case "days" => GraftDaysPart(c)
      case "truncate" => GraftTruncatePart(c, asInt(j \ "n"))
    }
  }

  private def jIdent(i: Identifier): JValue =
    ("ns" -> i.namespace().toList) ~ ("name" -> i.name())
  private def unjIdent(j: JValue): Identifier = {
    val ns = (j \ "ns").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JString].s).toArray
    Identifier.of(ns, (j \ "name").asInstanceOf[JString].s)
  }

  private def jConstraint(c: Constraint): JValue = {
    val base = ("name" -> c.name()) ~ ("enforced" -> c.enforced()) ~
      ("rely" -> c.rely()) ~ ("valid" -> c.validationStatus().name())
    c match {
      case ch: Check =>
        base ~ ("kind" -> "check") ~ ("sql" -> ch.predicateSql())
      case pk: PrimaryKey =>
        base ~ ("kind" -> "pk") ~
          ("cols" -> pk.columns().map(_.toString).toList)
      case u: Unique =>
        base ~ ("kind" -> "unique") ~
          ("cols" -> u.columns().map(_.toString).toList)
      case fk: ForeignKey =>
        base ~ ("kind" -> "fk") ~
          ("cols" -> fk.columns().map(_.toString).toList) ~
          ("refTable" -> jIdent(fk.referencedTable())) ~
          ("refCols" -> fk.referencedColumns().map(_.toString).toList)
      case other => throw new IllegalStateException(
        s"graft log: unknown constraint kind: $other")
    }
  }
  private def unjConstraint(j: JValue): Constraint = {
    val JString(name) = j \ "name"
    val enforced = (j \ "enforced").asInstanceOf[JBool].value
    val rely = (j \ "rely").asInstanceOf[JBool].value
    val valid = Constraint.ValidationStatus.valueOf(
      (j \ "valid").asInstanceOf[JString].s)
    def cols(f: String): Array[NamedReference] =
      (j \ f).asInstanceOf[JArray].arr
        .map(s => Expressions.column(s.asInstanceOf[JString].s)).toArray
    // the shared builder superclass is package-private — finish each
    // builder at its concrete type
    (j \ "kind").asInstanceOf[JString].s match {
      case "check" => Constraint.check(name)
        .predicateSql((j \ "sql").asInstanceOf[JString].s)
        .enforced(enforced).rely(rely).validationStatus(valid).build()
      case "pk" => Constraint.primaryKey(name, cols("cols"))
        .enforced(enforced).rely(rely).validationStatus(valid).build()
      case "unique" => Constraint.unique(name, cols("cols"))
        .enforced(enforced).rely(rely).validationStatus(valid).build()
      case "fk" => Constraint.foreignKey(name, cols("cols"),
        unjIdent(j \ "refTable"), cols("refCols"))
        .enforced(enforced).rely(rely).validationStatus(valid).build()
    }
  }

  /** the typed slot layout of a file's partition-key row under spec
    * `specId` of `m` — what the key values (de)serialize by. */
  private def keyTypes(m: Meta, specId: Int): Array[DataType] = {
    val spec =
      if (specId < m.specs.length) m.specs(specId)
      else m.partFields
    spec.map(GraftPartField.keyType(_, m.schema))
  }

  private def jFile(m: Meta, f: GraftFileInfo): JValue = {
    val kts = keyTypes(m, f.specId)
    ("path" -> f.path) ~ ("rows" -> f.rows) ~ ("bytes" -> f.bytes) ~
      ("numCols" -> f.numCols) ~ ("specId" -> f.specId) ~
      ("key" -> JArray(kts.zipWithIndex.map { case (dt, i) =>
        jval(dt, if (f.key.isNullAt(i)) null else f.key.get(i, dt))
      }.toList)) ~
      ("stats" -> JObject(f.stats.toList.sortBy(_._1).map { case (o, s) =>
        val dt = m.schema(o).dataType
        o.toString -> (("min" -> jval(dt, s.min)) ~
          ("max" -> jval(dt, s.max)) ~ ("nulls" -> s.nulls)): JField
      })) ~
      ("blooms" -> JObject(f.blooms.toList.sortBy(_._1).map { case (o, b) =>
        o.toString -> (("k" -> b.k) ~
          ("bits" -> longsToB64(b.bits))): JField
      })) ~
      ("dv" -> f.dv.map(d => ("card" -> d.card) ~
        ("words" -> longsToB64(d.words)): JValue).getOrElse(JNull))
  }

  private def unjFile(m: Meta, j: JValue): GraftFileInfo = {
    val specId = asInt(j \ "specId")
    val kts = keyTypes(m, specId)
    val keyVals = (j \ "key").asInstanceOf[JArray].arr.zipWithIndex
      .map { case (v, i) => unjval(kts(i), v) }.toArray
    val stats = (j \ "stats").asInstanceOf[JObject].obj.map {
      case (o, s) =>
        val ord = o.toInt
        val dt = m.schema(ord).dataType
        ord -> GraftColStats(unjval(dt, s \ "min"), unjval(dt, s \ "max"),
          asInt(s \ "nulls"))
    }.toMap
    val blooms = (j \ "blooms").asInstanceOf[JObject].obj.map {
      case (o, b) => o.toInt -> GraftBloom(
        b64ToLongs((b \ "bits").asInstanceOf[JString].s),
        asInt(b \ "k"))
    }.toMap
    val dv = j \ "dv" match {
      case JNull | JNothing => None
      case d => Some(GraftDeleteVector(
        b64ToLongs((d \ "words").asInstanceOf[JString].s),
        asInt(d \ "card")))
    }
    // keys re-project to UnsafeRow: manifest keys group rewrites
    // (bin-packing, zorder) and align SPJ by CONTENT equality, which
    // GenericInternalRow does not implement
    val keyRow: InternalRow =
      if (keyVals.isEmpty) InternalRow.empty
      else org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(kts).apply(new GenericInternalRow(keyVals)).copy()
    GraftFileInfo((j \ "path").asInstanceOf[JString].s,
      keyRow,
      asInt(j \ "rows"),
      optLong(j \ "bytes").getOrElse(0L),
      asInt(j \ "numCols"),
      stats, blooms, specId, dv)
  }

  /** one MoR delta op: (kind, single-slot id row, full row). Rows
    * serialize prefix-typed by the physical schema — a row written
    * before an ADD COLUMN is narrower and stays narrower at replay
    * (evolution-on-read depends on the width). */
  private def jDeltaOps(schema: StructType, d: GraftDeltaData): JValue = {
    def jRow(r: InternalRow): JValue =
      if (r == null) JNull
      else JArray(Seq.tabulate(r.numFields) { i =>
        val dt = schema(i).dataType
        jval(dt, if (r.isNullAt(i)) null else r.get(i, dt))
      }.toList)
    JArray(d.ops.toList.map { o =>
      ("o" -> o.op.toChar.toString) ~
        ("id" -> jval(d.idType,
          if (o.id == null || o.id.isNullAt(0)) null
          else o.id.get(0, d.idType))) ~
        ("row" -> jRow(o.row))
    })
  }
  private def unjDeltaOps(schema: StructType, idType: DataType,
      j: JValue): Array[GraftDeltaOp] = {
    def unjRow(v: JValue): InternalRow = v match {
      case JNull | JNothing => null
      case JArray(vals) => new GenericInternalRow(
        vals.zipWithIndex.map { case (x, i) =>
          unjval(schema(i).dataType, x)
        }.toArray)
      case other => throw new IllegalStateException(s"bad row: $other")
    }
    j.asInstanceOf[JArray].arr.map { o =>
      GraftDeltaOp((o \ "o").asInstanceOf[JString].s.charAt(0).toByte,
        new GenericInternalRow(Array[Any](unjval(idType, o \ "id"))),
        unjRow(o \ "row"))
    }.toArray
  }

  private def jCommitData(m: Meta, c: GraftCommitData): JObject = c match {
    case p: GraftParquetData =>
      ("kind" -> "parquet") ~ ("count" -> p.count) ~
        ("files" -> JArray(p.files.toList.map(jFile(m, _))))
    case d: GraftDeltaData =>
      ("kind" -> "delta") ~ ("count" -> d.count) ~
        ("idOrd" -> d.idOrd) ~ ("ops" -> jDeltaOps(m.schema, d))
    case e: GraftEqDeleteData =>
      // no count field: an eq-delete's post-commit count is lazy by
      // contract (forcing it here would open data files at
      // checkpoint/commit time — the O(1) promise is the point)
      ("kind" -> "eqdelete") ~ ("keyOrd" -> e.keyOrd) ~
        ("keys" -> JArray(e.keys.toList.map(jval(e.keyType, _))))
  }
  private def unjCommitData(m: Meta, j: JValue, storeName: String,
      version: Int): GraftCommitData =
    (j \ "kind").asInstanceOf[JString].s match {
      case "parquet" => GraftParquetData(
        (j \ "files").asInstanceOf[JArray].arr.map(unjFile(m, _)).toVector,
        asInt(j \ "count"))
      case "delta" =>
        val idOrd = asInt(j \ "idOrd")
        val idType = m.schema(idOrd).dataType
        GraftDeltaData(unjDeltaOps(m.schema, idType, j \ "ops"),
          idOrd, idType, asInt(j \ "count"))
      case "eqdelete" =>
        val keyOrd = asInt(j \ "keyOrd")
        val keyType = m.schema(keyOrd).dataType
        GraftEqDeleteData(keyOrd, keyType,
          (j \ "keys").asInstanceOf[JArray].arr
            .map(unjval(keyType, _)).toArray,
          storeName, version)
    }

  // ---- entry writing ---------------------------------------------------

  private def writeEntry(dir: String, seq: Long, isCheckpoint: Boolean,
      body: JValue): Unit = {
    val d = logDir(dir)
    d.mkdirs()
    val name = f"$seq%08d" + (if (isCheckpoint) ".cp.json" else ".json")
    claimAndWrite(new File(d, name),
      JsonMethods.compact(JsonMethods.render(body)))
  }

  /** PUT-IF-ABSENT write of one log entry — the cross-process commit
    * gate. `createNewFile` is an atomic O_EXCL create on the FINAL
    * name: of two processes sharing a warehouse racing the same
    * sequence slot, exactly one claims it; the loser gets a loud
    * conflict instead of the silent last-write-wins a plain
    * tmp+rename gives on POSIX (rename(2) overwrites an existing
    * target). The content then lands by renaming a fully-written tmp
    * over our own zero-byte claim — readers racing the tiny claim
    * window are handled by [[parse]]'s empty-file retry. This is the
    * same primitive real formats build on: Delta's
    * create-if-not-exists log store, Iceberg's catalog CAS. */
  /** HARD writer-side deadline between claiming a slot and landing its
    * content: a zero-byte claim older than 60 s is adjudicated dead by
    * foreign writers ([[writeRendered]], attach) and may be completed
    * or deleted under us. Renaming past the deadline would silently
    * fork the log, so a writer that stalls longer (full GC, suspend)
    * must refuse its own commit instead. 50 s leaves a 10 s margin
    * under the 60 s adjudication threshold. */
  private val ClaimDeadlineMs = 50000L

  /** test seam: runs between the claim create and the content rename —
    * lets a spec simulate the stalled writer whose claim gets
    * adjudicated dead (and completed) by a foreign process while this
    * writer is suspended. */
  private[graft] var claimStallHook: Option[File => Unit] = None

  /** FENCING: the claim is established as a HARD LINK from a
    * writer-unique sidecar (`NNN.json.claim-<uuid>`), so while the
    * sidecar exists the claim's filesystem identity CANNOT be
    * recycled — `isSameFile(slot, sidecar)` right before the content
    * rename is then an exact "is the slot still literally my claim"
    * test. A foreign dead-claim adjudication (delete + complete, or
    * delete + re-claim) necessarily puts a DIFFERENT file at the
    * slot path, and because our sidecar still pins the old inode the
    * filesystem cannot hand the adjudicator the same identity — the
    * fence refuses even when this host's wall clock lied about the
    * stall (suspend, GC pause, NTP step), the case the 50 s
    * writer-side deadline cannot rule out on its own. Sidecars never
    * parse as log entries ([[parseSeq]] ignores the suffix) and are
    * deleted on every exit path; a crash's orphan sidecar is inert.
    * A filesystem without hard links degrades to the O_EXCL claim +
    * the still-zero-byte pre-rename test. */
  private def claimAndWrite(target: File, body: String): Unit = {
    val sidecar = new File(target.getParentFile,
      target.getName + ".claim-" + java.util.UUID.randomUUID().toString)
    var linked = false
    try {
      if (!sidecar.createNewFile())
        throw new IllegalStateException(
          s"graft log: could not stage claim sidecar $sidecar")
      try {
        java.nio.file.Files.createLink(target.toPath, sidecar.toPath)
        linked = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new GraftConcurrentCommitException(
            s"graft log: concurrent writer conflict — ${target.getName} " +
              s"already exists under ${target.getParent} (another " +
              "process committed this sequence slot); re-read the " +
              "table and retry")
        case _: UnsupportedOperationException =>
          if (!target.createNewFile())
            throw new GraftConcurrentCommitException(
              s"graft log: concurrent writer conflict — " +
                s"${target.getName} already exists under " +
                s"${target.getParent} (another process committed this " +
                "sequence slot); re-read the table and retry")
      }
      claimAndWriteLinked(target, body, sidecar, linked)
    } finally {
      sidecar.delete()
      ()
    }
  }

  private def claimAndWriteLinked(target: File, body: String,
      sidecar: File, linked: Boolean): Unit = {
    // a sequence slot has TWO possible file names (NNN.json and
    // NNN.cp.json) — O_EXCL on ours cannot see a foreign claim under
    // the OTHER name (a commit racing a foreign checkpoint of the
    // same slot). Check the sibling after our claim: both racers may
    // abort in the symmetric window, which is safe (each deletes its
    // own claim and retries); neither can silently fork the slot.
    val sib = new File(target.getParentFile,
      if (target.getName.endsWith(".cp.json"))
        target.getName.stripSuffix(".cp.json") + ".json"
      else target.getName.stripSuffix(".json") + ".cp.json")
    if (sib.exists()) {
      target.delete()
      throw new GraftConcurrentCommitException(
        s"graft log: concurrent writer conflict — sequence slot of " +
          s"${target.getName} is already taken under its sibling name " +
          s"${sib.getName}; re-read the table and retry")
    }
    val claimedAt = System.currentTimeMillis()
    val tmp = new File(target.getAbsolutePath + ".tmp")
    val out = new java.io.FileOutputStream(tmp)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    claimStallHook.foreach(_(target))
    if (System.currentTimeMillis() - claimedAt > ClaimDeadlineMs) {
      // past the liveness deadline our claim may already have been
      // adjudicated dead and completed/deleted by a foreign writer —
      // renaming now could clobber THEIR entry. Refuse our own commit;
      // the claim file (ours or theirs) is left for adjudication.
      tmp.delete()
      throw new GraftConcurrentCommitException(
        s"graft log: writer stalled past the ${ClaimDeadlineMs / 1000} s " +
          s"claim-liveness deadline before landing ${target.getName}; " +
          "refusing to commit (the claim may have been adjudicated " +
          "dead by a concurrent writer) — re-read the table and retry")
    }
    // FENCE before the rename: the slot must still be LITERALLY our
    // claim — the same file the sidecar hard-links (any IOException
    // means one of the two is gone: refuse). A missing/different/
    // non-empty file means a foreign writer adjudicated our claim
    // dead and took the slot — renaming over it would destroy THEIR
    // committed entry and fork the log, the exact failure the
    // writer-side deadline cannot rule out when this host's clock
    // stalled with the process.
    val stillOurs =
      try (!linked || java.nio.file.Files.isSameFile(target.toPath,
        sidecar.toPath)) && target.exists() && target.length() == 0L
      catch { case _: java.io.IOException => false }
    if (!stillOurs) {
      tmp.delete()
      throw new GraftConcurrentCommitException(
        s"graft log: claim fencing — ${target.getName} is no longer " +
          "this writer's claim (it was adjudicated dead and " +
          "completed/re-claimed by a concurrent writer while this " +
          "process stalled); this commit did NOT land, re-read the " +
          "table and retry")
    }
    if (!tmp.renameTo(target))
      throw new IllegalStateException(
        s"graft log: could not commit entry ${target.getName}")
    // belt-and-braces fork detector: if a foreign writer completed our
    // claim (or raced the rename), the slot now holds someone's
    // content — verify it is OURS, loudly. Only possible when the
    // claim aged toward the 60 s dead-claim adjudication threshold,
    // so a rename landing promptly (the hot path, ~ms) skips the
    // re-read entirely — no per-commit read-back tax.
    if (System.currentTimeMillis() - claimedAt > 10000L) {
      val landed = new String(
        java.nio.file.Files.readAllBytes(target.toPath),
        StandardCharsets.UTF_8)
      if (landed != body)
        throw new GraftConcurrentCommitException(
          s"graft log: entry ${target.getName} holds another writer's " +
            "content after our rename — the slot was adjudicated dead " +
            "and completed concurrently; this commit did NOT land, " +
            "re-read the table and retry")
    }
    recordTail(target.getParentFile)
  }

  /** cross-process OCC probe, run at commit time BEFORE the in-memory
    * apply: refuse when the on-disk log tail advanced past this
    * process's sequence counter — another process sharing the
    * warehouse committed since we last replayed, and committing over
    * it would fork the table. O(log-dir entries), bounded by
    * checkpoint GC; the atomic claim in [[claimAndWrite]] remains the
    * race-proof backstop for the window after this check. */
  /** the log-dir mtime observed at our last durable write / clean
    * verify (the table record's `tailMtime`), held at NANOSECOND
    * precision (Files.getLastModifiedTime — File.lastModified()'s
    * millisecond rounding makes same-ms foreign writes a PERSISTENT
    * tie): any
    * foreign entry create/delete/rename bumps the directory mtime, so
    * an UNCHANGED mtime proves nothing landed since — verifyTail
    * skips the O(retained entries) listing on that fast path, keeping
    * per-commit OCC O(1) at streaming commit rates. The residual
    * same-nanosecond tie falls through to [[claimAndWrite]]'s atomic
    * claim for single-table commits; paths whose conflict handling
    * must fire BEFORE any durable step (the cross-table transaction's
    * pre-marker verify) use `strict = true`, which always lists. */
  private def dirMtimeNanos(d: File): Long =
    try java.nio.file.Files.getLastModifiedTime(d.toPath)
      .to(java.util.concurrent.TimeUnit.NANOSECONDS)
    catch { case _: java.io.IOException => 0L }

  /** remember `dir`'s mtime after our own write to it — when `dir` is a
    * table's log (the txn-marker directory is not one). */
  private def recordTail(dir: File): Unit =
    if (dir.getName == "_graft_log") {
      val mtime = dirMtimeNanos(dir)
      GraftTableStore.updateIfPresent(
        GraftWarehouse.storeNameOf(dir.getParentFile))(
        _.copy(tailMtime = Some(mtime)))
    }

  private[sources] def verifyTail(storeName: String,
      strict: Boolean = false): Unit = {
    val st = GraftTableStore.stateOf(storeName).getOrElse(return)
    val m = st.meta.getOrElse(return)
    val ctr = st.nextSeq.getOrElse(return)
    val ld = logDir(m.dir)
    val mtimeBefore = dirMtimeNanos(ld)
    if (!strict && st.tailMtime.contains(mtimeBefore) && mtimeBefore != 0L)
      return // nothing touched the log since our last write
    val diskMax = Option(ld.listFiles())
      .getOrElse(Array.empty[File])
      .flatMap(f => parseSeq(f.getName)).foldLeft(-1L)(math.max)
    if (diskMax >= ctr.get())
      throw new GraftConcurrentCommitException(
        s"graft log: concurrent writer detected on $storeName — the " +
          s"on-disk log is at entry $diskMax, this process expected " +
          s"${ctr.get() - 1}; re-read the table and retry the commit")
    // clean: cache the mtime read BEFORE the listing (an entry landing
    // mid-listing keeps the next verify on the slow path)
    GraftTableStore.updateIfPresent(storeName)(
      _.copy(tailMtime = Some(mtimeBefore)))
  }

  /** the table's next entry sequence number — seeded from the
    * directory listing on first use, monotonic afterwards. Guarded by
    * the callers' store lock. */
  private def seqCounter(storeName: String, dir: String)
      : java.util.concurrent.atomic.AtomicLong =
    GraftTableStore.stateOf(storeName).flatMap(_.nextSeq).getOrElse {
      // seed past anything already on disk (an attach, or a re-created
      // table whose directory survived)
      val existing = Option(logDir(dir).listFiles())
        .getOrElse(Array.empty[File])
        .flatMap(f => parseSeq(f.getName)).sorted
      val fresh = new java.util.concurrent.atomic.AtomicLong(
        existing.lastOption.map(_ + 1).getOrElse(0L))
      GraftTableStore.update(storeName)(s =>
        if (s.nextSeq.isDefined) s else s.copy(nextSeq = Some(fresh)))
        .nextSeq.get
    }

  private def parseSeq(name: String): Option[Long] =
    if (name.endsWith(".cp.json"))
      name.stripSuffix(".cp.json").toLongOption
    else if (name.endsWith(".json")) name.stripSuffix(".json").toLongOption
    else None

  /** the table DEFINITION fields — row-level mode, constraints and the
    * store registration (schema, partition specs, bloom index, sort
    * order) — as checkpoints and `meta` entries both carry them. */
  private def jDefinition(m: Meta, morRowId: Option[String],
      constraints: Array[Constraint]): JObject =
    ("morRowId" -> morRowId) ~
      ("constraints" -> JArray(constraints.toList.map(jConstraint))) ~
      ("schema" -> m.schema.json) ~
      ("partFields" -> JArray(m.partFields.toList.map(jPart))) ~
      ("specHistory" -> JArray(m.specs.toList.map(s =>
        JArray(s.toList.map(jPart))))) ~
      ("bloomOrds" -> m.bloomOrds.toList) ~
      ("sortOrds" -> m.sortOrds.toList)

  /** [[jDefinition]]'s inverse, over `base` (which keeps its directory
    * and DV mode). */
  private def unjDefinition(j: JValue, base: Meta)
      : (Meta, Option[String], Array[Constraint]) = {
    val m = base.copy(
      schema = DataType.fromJson((j \ "schema").asInstanceOf[JString].s)
        .asInstanceOf[StructType],
      partFields = (j \ "partFields").asInstanceOf[JArray].arr
        .map(unjPart).toArray,
      specHistory = (j \ "specHistory").asInstanceOf[JArray].arr
        .map(s => s.asInstanceOf[JArray].arr.map(unjPart).toArray).toVector,
      bloomOrds = (j \ "bloomOrds").asInstanceOf[JArray].arr
        .map(asInt).toArray,
      // absent in pre-round-14 entries — default to no sort order
      sortOrds = j \ "sortOrds" match {
        case JArray(xs) => xs.map(asInt).toArray
        case _ => Array.empty[Int]
      })
    val morRowId = j \ "morRowId" match {
      case JString(s) => Some(s)
      case _ => None
    }
    (m, morRowId, (j \ "constraints").asInstanceOf[JArray].arr
      .map(unjConstraint).toArray)
  }

  /** the COMPLETE state of one table as one JSON object — the
    * checkpoint body (and the CREATE entry): the catalog definition
    * (catalog, identifier and [[jDefinition]]), the DV mode, the full
    * retained History and the ledgers riding it. */
  private def stateJson(storeName: String, st: GraftTableStore.TableState,
      m: Meta): JValue = {
    val d = st.definition
    val h = st.history
    ("a" -> "checkpoint") ~
      ("table" -> storeName) ~
      ("catalog" -> d.map(_.catalog)) ~
      ("ident" -> d.map(x => jIdent(x.ident)).getOrElse(JNull)) ~
      jDefinition(m, d.flatMap(_.table.morRowId),
        d.map(_.table.tableConstraints).getOrElse(Array.empty)) ~
      ("dvMode" -> m.dvMode) ~
      ("firstRetained" -> h.firstRetained) ~
      ("commits" -> JArray(h.commits.toList.map(jCommitData(m, _)))) ~
      ("times" -> h.times.toList) ~
      ("ops" -> h.ops.toList) ~
      ("branches" -> jRefMap(h.branches)) ~
      ("tags" -> jRefMap(h.tags)) ~
      ("ingested" -> st.ingested.toList.sorted) ~
      ("hwm" -> st.identityHwm.map(_.get())) ~
      jMvRecord(st)
  }

  /** write a full-state checkpoint and GC the entries it subsumes.
    * Called at CREATE (seq 0) and after every retention trim — replay
    * cost stays bounded no matter how long the commit stream runs. */
  private[sources] def checkpoint(storeName: String): Unit = {
    val st = GraftTableStore.stateOf(storeName).getOrElse(return)
    val m = st.meta.getOrElse(return)
    val seq = seqCounter(storeName, m.dir).getAndIncrement()
    writeEntry(m.dir, seq, isCheckpoint = true, stateJson(storeName, st, m))
    // the checkpoint subsumes everything before it. Orphan claim
    // SIDECARS (a crashed writer's `NNN.json.claim-<uuid>` — inert,
    // never parsed) sweep here too once old enough that their writer
    // is past every liveness deadline; a LIVE sidecar must survive
    // (deleting it would un-pin a concurrent claim's identity fence).
    Option(logDir(m.dir).listFiles()).getOrElse(Array.empty[File])
      .foreach { f =>
        parseSeq(f.getName).filter(_ < seq).foreach(_ => f.delete())
        if (f.getName.contains(".claim-") &&
            System.currentTimeMillis() - f.lastModified() > 120000L)
          f.delete()
      }
  }

  /** log one committed version. `prev` is the previous head's commit
    * data (None for v0): a parquet commit logs the manifest DIFF
    * against it — O(changed files), the scale contract. Runs under the
    * store lock AFTER the commit applied in memory. */
  private[sources] def logCommit(storeName: String, v: Int, op: String,
      time: Long, data: GraftCommitData, prev: Option[GraftCommitData],
      branches: Map[String, Int], tags: Map[String, Int],
      ingest: Seq[String]): Unit = {
    val m = GraftParquetStore.meta(storeName).getOrElse(return)
    // lazy CREATE: the first entry of a table's log is always a full
    // checkpoint (covers shallow clones and CTAS reaching here before
    // any CREATE entry exists). logCommit runs AFTER the commit was
    // applied, so that checkpoint already CONTAINS it — checkpoint and
    // RETURN, or the commit would be logged twice and replay would
    // duplicate it (a clone's first commit was the reachable case).
    if (seqCounter(storeName, m.dir).get() == 0L) {
      checkpoint(storeName)
      return
    }
    renderCommit(storeName, v, op, time, data, prev, branches, tags,
      ingest).foreach { case (target, body) =>
      writeRendered(target, body)
    }
  }

  /** RENDER a commit entry without writing it — the shared body of
    * [[logCommit]] and the two-phase form the cross-table transaction
    * needs (rendered (target, body) pairs ride the transaction's
    * INTENT MARKER first, so a crash between the per-table writes can
    * always roll FORWARD). Allocates the sequence number; caller holds
    * the store lock. Transactional callers render BEFORE applying, so
    * a first-entry checkpoint here captures the PRE-commit state and
    * the entry applies on top. */
  private[sources] def renderCommit(storeName: String, v: Int,
      op: String, time: Long, data: GraftCommitData,
      prev: Option[GraftCommitData], branches: Map[String, Int],
      tags: Map[String, Int], ingest: Seq[String] = Seq.empty,
      strictVerify: Boolean = false)
      : Option[(File, String)] = {
    val st = GraftTableStore.stateOf(storeName).getOrElse(return None)
    val m = st.meta.getOrElse(return None)
    // the transactional path renders BEFORE applying — this is its
    // pre-apply cross-process OCC gate (single-table commits run it
    // in appendLocked instead, also pre-apply). STRICT when the
    // caller's conflict handling must fire before any durable step
    // (the cross-table transaction: a conflict surfacing after its
    // intent marker would strand a half-completable roll-forward).
    verifyTail(storeName, strict = strictVerify)
    val ctr = seqCounter(storeName, m.dir)
    if (ctr.get() == 0L) checkpoint(storeName)
    val body0: JObject = data match {
      case p: GraftParquetData =>
        val prevFiles = prev match {
          case Some(pp: GraftParquetData) => pp.files
          case _ => Vector.empty[GraftFileInfo]
        }
        val prevByPath = prevFiles.map(f => f.path -> f).toMap
        // add = entries not present BY REFERENCE in the previous
        // manifest (covers fresh files AND in-place swaps like a DV
        // commit re-bitmapping a path); remove = paths gone entirely
        val add = p.files.filter(f => !prevByPath.get(f.path).exists(_ eq f))
        val newPaths = p.files.map(_.path).toSet
        val remove = prevFiles.map(_.path).filterNot(newPaths)
        // replay folds remove → in-place swap → append; when that fold
        // cannot reproduce the exact manifest ORDER (a restore can
        // reorder), ship the path order explicitly
        val folded = foldManifest(prevFiles, add, remove)
        val order: JValue =
          if (folded.map(_.path) == p.files.map(_.path)) JNull
          else JArray(p.files.toList.map(f => JString(f.path)))
        ("kind" -> "parquet") ~ ("count" -> p.count) ~
          ("add" -> JArray(add.toList.map(jFile(m, _)))) ~
          ("remove" -> remove.toList) ~ ("order" -> order)
      case other => jCommitData(m, other)
    }
    val body = body0 ~ ("a" -> "commit") ~ ("v" -> v) ~ ("op" -> op) ~
      ("time" -> time) ~
      ("branches" -> jRefMap(branches)) ~ ("tags" -> jRefMap(tags)) ~
      ("ingest" -> ingest.toList) ~
      ("hwm" -> st.identityHwm.map(_.get())) ~
      jMvRecord(st)
    val seq = ctr.getAndIncrement()
    val d = logDir(m.dir)
    d.mkdirs()
    Some((new File(d, f"$seq%08d.json"),
      JsonMethods.compact(JsonMethods.render(body))))
  }

  /** atomically write a pre-rendered entry, put-if-absent. A
    * pre-existing target with the SAME body is the roll-forward
    * no-op (the entry landed before a crash; recovery re-writes it
    * idempotently); a pre-existing target with DIFFERENT content is
    * a concurrent writer that took this sequence slot — refuse
    * loudly instead of silently clobbering or silently dropping our
    * entry. */
  private[sources] def writeRendered(target: File, body: String): Unit = {
    if (target.exists()) {
      var existing = new String(
        java.nio.file.Files.readAllBytes(target.toPath),
        StandardCharsets.UTF_8)
      // a ZERO-BYTE target could be OUR crashed claim (roll-forward
      // completes it — it owns the authoritative body) or a LIVE
      // foreign writer's claim whose content rename is in flight —
      // overwriting the latter would hand the slot to two winners.
      // Disambiguate by age: wait the same beat [[parse]] gives live
      // claims, then only a claim old enough that its writer is dead
      // completes in place; a young one is a conflict.
      if (existing.isEmpty) {
        val deadline = System.nanoTime() + 1000000000L
        while (existing.isEmpty && target.exists() &&
            System.nanoTime() < deadline) {
          Thread.sleep(20)
          existing = new String(
            java.nio.file.Files.readAllBytes(target.toPath),
            StandardCharsets.UTF_8)
        }
      }
      if (existing == body) return
      if (existing.nonEmpty)
        throw new GraftConcurrentCommitException(
          s"graft log: concurrent writer conflict — ${target.getName} " +
            "exists with different content (another process committed " +
            "this sequence slot); re-read the table and retry")
      if (System.currentTimeMillis() - target.lastModified() <= 60000L)
        throw new GraftConcurrentCommitException(
          s"graft log: concurrent writer conflict — ${target.getName} " +
            "is another writer's in-flight claim; retry")
      val tmp = new File(target.getAbsolutePath + ".tmp")
      val out = new java.io.FileOutputStream(tmp)
      try out.write(body.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!tmp.renameTo(target))
        throw new IllegalStateException(
          s"graft log: could not complete claimed entry $target")
      // the claim's original writer could resume past its liveness
      // deadline and rename over us ([[ClaimDeadlineMs]] makes that a
      // writer-side error, but an OLD binary or clock skew could still
      // slip through) — verify the slot holds OUR completion.
      val landed = new String(
        java.nio.file.Files.readAllBytes(target.toPath),
        StandardCharsets.UTF_8)
      if (landed != body)
        throw new GraftConcurrentCommitException(
          s"graft log: entry ${target.getName} was overwritten by a " +
            "resumed writer after dead-claim completion; re-read the " +
            "table and retry")
      recordTail(target.getParentFile)
      return
    }
    claimAndWrite(target, body)
  }

  // ---- cross-table transaction markers ---------------------------------

  private def txnsDir: File = {
    val d = new File(GraftWarehouse.root, "txns")
    d.mkdirs()
    d
  }

  /** write the transaction INTENT MARKER: every participant's rendered
    * log entry (target path + body). Once this file exists, the
    * transaction is DURABLY DECIDED — a crash at any later point rolls
    * forward (the data files were adopted before the marker). */
  private[sources] def writeTxnMarker(txnId: String,
      entries: Seq[(File, String)]): File = {
    val body: JValue = ("a" -> "txn") ~
      ("entries" -> JArray(entries.toList.map { case (f, b) =>
        ("path" -> f.getAbsolutePath) ~ ("body" -> b): JValue
      }))
    val target = new File(txnsDir, s"$txnId.json")
    // same put-if-absent discipline as log entries: transaction ids
    // are UUIDs, so a collision here can only be a foreign process
    // reusing our id — refuse rather than clobber its decide record
    claimAndWrite(target,
      JsonMethods.compact(JsonMethods.render(body)))
    target
  }

  /** ROLL FORWARD any pending transaction markers: write every
    * participant entry that is missing, then retire the marker.
    * Idempotent; called before any log replay, so a table attached
    * after a mid-transaction crash always sees the COMPLETE
    * transaction (or, had the marker never been written, none of it —
    * the atomic-decide point is the marker rename). */
  private[sources] def recoverPendingTxns(): Unit = {
    val d = new File(GraftWarehouse.root, "txns")
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".json")).foreach { marker =>
        val j = parse(marker)
        (j \ "entries").asInstanceOf[JArray].arr.foreach { e =>
          writeRendered(new File((e \ "path").asInstanceOf[JString].s),
            (e \ "body").asInstanceOf[JString].s)
        }
        marker.delete()
        ()
      }
  }

  private def foldManifest(prev: Vector[GraftFileInfo],
      add: Vector[GraftFileInfo], remove: Seq[String])
      : Vector[GraftFileInfo] = {
    val removed = remove.toSet
    val addByPath = add.map(f => f.path -> f).toMap
    val kept = prev.filterNot(f => removed.contains(f.path))
      .map(f => addByPath.getOrElse(f.path, f))
    val keptPaths = kept.map(_.path).toSet
    kept ++ add.filterNot(f => keptPaths.contains(f.path))
  }

  /** log a ref-only change (branch/tag create, fast-forward). */
  private[sources] def logRef(storeName: String,
      branches: Map[String, Int], tags: Map[String, Int]): Unit = {
    val m = GraftParquetStore.meta(storeName).getOrElse(return)
    val ctr = seqCounter(storeName, m.dir)
    if (ctr.get() == 0L) { checkpoint(storeName); return }
    writeEntry(m.dir, ctr.getAndIncrement(), isCheckpoint = false,
      ("a" -> "ref") ~ ("branches" -> jRefMap(branches)) ~
        ("tags" -> jRefMap(tags)))
  }

  /** log a metadata-only evolution (ALTER schema / spec / constraints):
    * the entry re-snapshots the registration and constraint set —
    * small, and replay just applies the latest. */
  private[sources] def logMeta(storeName: String): Unit = {
    val m = GraftParquetStore.meta(storeName).getOrElse(return)
    val ctr = seqCounter(storeName, m.dir)
    if (ctr.get() == 0L) { checkpoint(storeName); return }
    val t = GraftTableStore.definitionOf(storeName).map(_.table)
    writeEntry(m.dir, ctr.getAndIncrement(), isCheckpoint = false,
      ("a" -> "meta") ~ jDefinition(m, t.flatMap(_.morRowId),
        t.map(_.tableConstraints).getOrElse(Array.empty)))
  }

  // ---- replay ----------------------------------------------------------

  /** Rebuild a table's ENTIRE governed state from its on-disk log —
    * the lazy load on first catalog touch of a table this process
    * never registered. Returns the restored catalog definition, or
    * None when no log exists under the warehouse for this name.
    * Replay = newest checkpoint + entries after it, applied in
    * sequence order. */
  private[sources] def attach(catalogName: String, ident: Identifier)
      : Option[GraftMergeTable] = {
    // a mid-transaction crash rolls FORWARD before anything replays —
    // the marker carries every participant's rendered entry
    recoverPendingTxns()
    val storeName = GraftMergeCatalog.storeName(catalogName, ident)
    replayByName(storeName).map(r =>
      install(storeName, r.copy(key = Some((catalogName, ident)))))
  }

  /** one table's complete log-replayed state, NOT yet installed — the
    * conflict-aware retry PEEKS the disk truth with this (classifying
    * the interleaved commits before destroying any in-memory state),
    * then installs only if the rebase is viable. `key` is the (catalog,
    * identifier) the newest checkpoint names. */
  private[sources] final case class Replayed(m: Meta, h: History,
      ingested: Set[String], hwm: Option[Long],
      mv: Option[GraftTableStore.MvRecord],
      morRowId: Option[String], constraints: Array[Constraint],
      maxSeq: Long, key: Option[(String, Identifier)])

  /** install a replayed state as the table's fresh state record — one
    * put ([[GraftTableStore.install]]), so no stale seq counter or
    * resolution cache survives into the rebase and no reader sees the
    * table in between. The record includes the catalog definition,
    * rebuilt from the replay: a rebase keeps the table registered, so
    * the next catalog touch does not replay the log again. The
    * streaming epoch ledger is not part of the record and survives. */
  private[sources] def install(storeName: String, r: Replayed)
      : GraftMergeTable = {
    val t = new GraftMergeTable(storeName, r.m.schema, None, r.morRowId,
      r.m.partFields, r.constraints)
    GraftTableStore.install(storeName, GraftTableStore.TableState(
      history = r.h, meta = Some(r.m),
      definition = r.key.map { case (c, i) =>
        GraftTableStore.TableDef(c, i, t)
      },
      ingested = r.ingested, mv = r.mv,
      identityHwm =
        r.hwm.map(new java.util.concurrent.atomic.AtomicLong(_)),
      // seed the sequence counter from the REPLAY'S OWN snapshot, never
      // a fresh directory listing: a foreign entry landing between the
      // replay's listing and this install would otherwise advance the
      // counter past an entry the replay never folded — the next commit
      // would then claim a fresh slot with STALE content and fork the
      // version chain (two entries both claiming the same version).
      // Seeding at maxSeq+1 makes that foreign entry a verifyTail /
      // claim conflict instead, which re-replays and converges.
      nextSeq = Some(new java.util.concurrent.atomic.AtomicLong(
        r.maxSeq + 1))))
    t
  }

  /** log replays so far, for the specs that pin how often a commit
    * path reads the whole log */
  private[graft] val replays = new java.util.concurrent.atomic.AtomicLong

  /** parse a table's on-disk log into a [[Replayed]] state WITHOUT
    * installing anything — pure read (it may only collect a crashed
    * zero-byte tail claim, exactly as attach does). */
  private[sources] def replayByName(storeName: String)
      : Option[Replayed] = {
    replays.incrementAndGet()
    val dir = GraftWarehouse.tableDir(storeName)
    val ld = logDir(dir.getAbsolutePath)
    var entries = Option(ld.listFiles()).getOrElse(Array.empty[File])
      .flatMap(f => parseSeq(f.getName).map(s =>
        (s, f.getName.endsWith(".cp.json"), f)))
      .sortBy(_._1)
    // a ZERO-BYTE TAIL entry is a bare claim whose content never
    // landed. A LIVE foreign writer's claim looks identical for the
    // instant before its content rename — deleting it would re-open
    // the double-claim race (our delete + its rename = two winners) —
    // so give young claims the same beat [[parse]] gives them and
    // refuse the attach while one is in flight; only a claim old
    // enough that its writer must be dead is a crashed commit that
    // never became durable, dropped so the durable prefix replays. (A
    // zero-byte entry BELOW the tail would mean later commits built
    // on a hole; [[parse]] fails loudly on it.)
    var tailSettled = false
    while (!tailSettled && entries.nonEmpty &&
        entries.last._3.length() == 0L) {
      val claim = entries.last._3
      val deadline = System.nanoTime() + 1000000000L
      while (claim.length() == 0L && claim.exists() &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      if (claim.length() > 0L) tailSettled = true // content landed
      else if (System.currentTimeMillis() - claim.lastModified() >
          60000L) {
        claim.delete()
        entries = entries.init
      } else throw new IllegalStateException(
        s"graft log of $storeName: a concurrent writer's entry claim " +
          s"is in flight (${claim.getName}) — retry the read")
    }
    if (entries.isEmpty) return None
    val lastCp = entries.filter(_._2).lastOption.getOrElse(
      throw new IllegalStateException(
        s"graft log of $storeName has entries but no checkpoint — " +
          "the log is corrupt (the first entry is always a checkpoint)"))
    val cp = parse(lastCp._3)
    // registration first — manifest/key/stat decoding needs the schema
    var (m, morRowId, constraints) = unjDefinition(cp,
      Meta(dir.getAbsolutePath, new StructType(), Array.empty,
        dvMode = (cp \ "dvMode").asInstanceOf[JBool].value))
    val first = asInt(cp \ "firstRetained")
    var h = History(first,
      (cp \ "commits").asInstanceOf[JArray].arr.zipWithIndex
        .map { case (c, i) => unjCommitData(m, c, storeName, first + i) }
        .toVector,
      (cp \ "times").asInstanceOf[JArray].arr.map(asLong).toVector,
      (cp \ "ops").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JString].s).toVector,
      unjRefMap(cp \ "branches"), unjRefMap(cp \ "tags"))
    var ingested = (cp \ "ingested").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JString].s).toSet
    var hwm = optLong(cp \ "hwm")
    var mv = unjMvRecord(cp)
    val key = cp \ "catalog" match {
      case JString(c) => Some((c, unjIdent(cp \ "ident")))
      case _ => None
    }
    // fold post-checkpoint entries
    entries.filter(e => !e._2 && e._1 > lastCp._1).foreach { case (_, _, f) =>
      val e = parse(f)
      (e \ "a").asInstanceOf[JString].s match {
        case "commit" =>
          val data: GraftCommitData =
            (e \ "kind").asInstanceOf[JString].s match {
              case "parquet" =>
                // a manifest DIFF against the previous version
                val prevFiles = h.commits.lastOption match {
                  case Some(p: GraftParquetData) => p.files
                  case _ => Vector.empty[GraftFileInfo]
                }
                val add = (e \ "add").asInstanceOf[JArray].arr
                  .map(unjFile(m, _)).toVector
                val remove = (e \ "remove").asInstanceOf[JArray].arr
                  .map(_.asInstanceOf[JString].s)
                val folded = foldManifest(prevFiles, add, remove)
                val files = e \ "order" match {
                  case JArray(paths) =>
                    val byPath = folded.map(x => x.path -> x).toMap
                    paths.map(p =>
                      byPath(p.asInstanceOf[JString].s)).toVector
                  case _ => folded
                }
                GraftParquetData(files, asInt(e \ "count"))
              case _ => unjCommitData(m, e, storeName, h.commitCount)
            }
          h = History(h.firstRetained, h.commits :+ data,
            h.times :+ optLong(e \ "time").getOrElse(0L),
            h.ops :+ (e \ "op").asInstanceOf[JString].s,
            unjRefMap(e \ "branches"), unjRefMap(e \ "tags"))
          ingested ++= (e \ "ingest").asInstanceOf[JArray].arr
            .map(_.asInstanceOf[JString].s)
          hwm = optLong(e \ "hwm").orElse(hwm)
          mv = unjMvRecord(e).orElse(mv)
        case "ref" =>
          h = h.copy(branches = unjRefMap(e \ "branches"),
            tags = unjRefMap(e \ "tags"))
        case "meta" =>
          val (m2, rowId2, constraints2) = unjDefinition(e, m)
          m = m2
          morRowId = rowId2
          constraints = constraints2
        case other => throw new IllegalStateException(
          s"graft log of $storeName: unknown entry kind '$other'")
      }
    }
    // WIDENING SELF-HEAL: entries written before a widen's meta entry
    // decoded their stats under the NARROW schema of that moment; the
    // widen normally checkpoints right after (so replay sees one type
    // domain), but a crash between the meta entry and the checkpoint
    // leaves a mixed log — normalize here so the replayed state is
    // always in the FINAL schema's domain (Int→Long / Float→Double
    // are lossless).
    val wideOrds = m.schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == LongType ||
        f.dataType == DoubleType => i
    }
    def statMismatch(o: Int, st: GraftColStats): Boolean =
      m.schema(o).dataType match {
        case LongType => st.min.isInstanceOf[java.lang.Integer] ||
          st.max.isInstanceOf[java.lang.Integer]
        case DoubleType => st.min.isInstanceOf[java.lang.Float] ||
          st.max.isInstanceOf[java.lang.Float]
        case _ => false
      }
    val needsFix = wideOrds.nonEmpty && h.commits.exists {
      case p: GraftParquetData => p.files.exists(f =>
        wideOrds.exists(o => f.stats.get(o).exists(statMismatch(o, _))))
      case _ => false
    }
    val hN = if (!needsFix) h else {
      def up(dt: DataType, v: Any): Any = (dt, v) match {
        case (LongType, x: java.lang.Integer) => x.longValue()
        case (DoubleType, x: java.lang.Float) => x.doubleValue()
        case _ => v
      }
      h.copy(commits = h.commits.map {
        case p: GraftParquetData =>
          GraftParquetData(p.files.map { f =>
            val fixed = wideOrds.flatMap { o =>
              f.stats.get(o).flatMap { st =>
                val dt = m.schema(o).dataType
                val (nmin, nmax) = (up(dt, st.min), up(dt, st.max))
                if ((nmin.asInstanceOf[AnyRef] eq
                    st.min.asInstanceOf[AnyRef]) &&
                    (nmax.asInstanceOf[AnyRef] eq
                      st.max.asInstanceOf[AnyRef])) None
                else Some(o -> GraftColStats(nmin, nmax, st.nulls))
              }
            }
            if (fixed.isEmpty) f
            else f.copy(stats = f.stats ++ fixed)
          }, p.count)
        case other => other
      })
    }
    Some(Replayed(m, hN, ingested, hwm, mv, morRowId, constraints,
      entries.last._1, key))
  }

  /** an MV table's record as log fields — the definition stays an
    * opaque string (the MV layer owns its format) */
  private def jMvRecord(st: GraftTableStore.TableState): JObject =
    ("mvdef" -> st.mv.map(_.definition)) ~
      ("mvwm" -> st.mv.map(_.watermark))

  private def unjMvRecord(j: JValue): Option[GraftTableStore.MvRecord] =
    (j \ "mvdef", optLong(j \ "mvwm")) match {
      case (JString(d), Some(wm)) => Some(GraftTableStore.MvRecord(d, wm))
      case _ => None
    }

  private def jRefMap(refs: Map[String, Int]): JObject =
    JObject(refs.toList.sortBy(_._1).map { case (k, v) => k -> JInt(v) })

  private def unjRefMap(j: JValue): Map[String, Int] = j match {
    case JObject(fields) => fields.map { case (k, v) =>
      k -> optLong(v).getOrElse(throw new IllegalStateException(
        s"bad ref version for '$k': $v")).toInt
    }.toMap
    case _ => Map.empty
  }

  private def parse(f: File): JValue = {
    // a zero-byte file is a LIVE writer's bare claim (content renames
    // in right behind it) — give it a beat before declaring the log
    // corrupt; crashed claims at the tail are discarded by attach
    var bytes = java.nio.file.Files.readAllBytes(f.toPath)
    var waited = 0
    while (bytes.isEmpty && waited < 50) {
      Thread.sleep(20)
      waited += 1
      bytes = java.nio.file.Files.readAllBytes(f.toPath)
    }
    if (bytes.isEmpty)
      throw new IllegalStateException(
        s"graft log: entry $f is empty — a writer crashed between " +
          "claim and content mid-log; the log is corrupt past this seq")
    JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
  }

  /** file paths referenced by the retained manifests of warehouse
    * tables NOT currently loaded in memory — what a GC sweep must also
    * treat as live: a shallow clone that has never been touched this
    * process still references its source's files from disk. O(unloaded
    * tables × log size) metadata; sweeps are rare (trims, drops). */
  /** per-directory memo of the scan below: an UNLOADED table's log is
    * immutable (only loaded tables commit; the rare txn roll-forward
    * bumps the dir mtime, which invalidates), so each log parses once
    * per (entry set, mtime) — without this, every retention trim of a
    * busy table would re-parse every evicted table's whole log. */
  private[sources] val unloadedRefCache =
    new TrieMap[String, ((Long, Int), Set[String])]()

  private[sources] def unloadedFileRefs(loaded: String => Boolean)
      : Set[String] = {
    val tablesDir = new File(GraftWarehouse.root, "tables")
    val dirs = Option(tablesDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory)
    // a table directory that is gone (DROP, another warehouse) keeps
    // no entry: the cache is bounded by the directories listed here
    val listed = dirs.map(_.getAbsolutePath).toSet
    unloadedRefCache.filterInPlace((k, _) => listed(k))
    dirs.flatMap { d =>
      val storeName = GraftWarehouse.storeNameOf(d)
      if (loaded(storeName)) {
        unloadedRefCache.remove(d.getAbsolutePath)
        Iterator.empty
      } else {
        val ld = logDir(d.getAbsolutePath)
        val entries = Option(ld.listFiles())
          .getOrElse(Array.empty[File])
          .filter(_.getName.endsWith(".json"))
        val key = (ld.lastModified(), entries.length)
        unloadedRefCache.get(d.getAbsolutePath) match {
          case Some((k, refs)) if k == key => refs
          case _ =>
            // cheap textual sweep: every "path" field in the log
            // names a live file of SOME retained version (superset
            // is safe — GC keeps more, never less)
            val refs = entries.iterator.flatMap { f =>
              val j = parse(f)
              (j filterField {
                case ("path", JString(_)) => true
                case _ => false
              }).collect { case (_, JString(p)) => p }
            }.toSet
            unloadedRefCache.put(d.getAbsolutePath, (key, refs))
            refs
        }
      }
    }.toSet
  }

  // ---- views -----------------------------------------------------------

  /** persist one SQL view definition as a catalog sidecar (text +
    * definition context + schema — O(text) metadata). */
  private[sources] def persistView(catalogName: String,
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      props: Map[String, String]): Unit = {
    val f = GraftWarehouse.viewFile(catalogName, ident)
    val body: JValue =
      ("catalog" -> catalogName) ~ ("ident" -> jIdent(ident)) ~
        ("sql" -> info.sql()) ~
        ("currentCatalog" -> info.currentCatalog()) ~
        ("currentNamespace" -> info.currentNamespace().toList) ~
        ("schema" -> info.schema().json) ~
        ("queryColumnNames" -> info.queryColumnNames().toList) ~
        ("columnAliases" -> info.columnAliases().toList) ~
        ("columnComments" -> info.columnComments().toList
          .map(c => Option(c))) ~
        ("props" -> JObject(props.toList.sortBy(_._1)
          .map { case (k, v) => k -> JString(v): JField }))
    val tmp = new File(f.getAbsolutePath + ".tmp")
    val out = new java.io.FileOutputStream(tmp)
    try out.write(JsonMethods.compact(JsonMethods.render(body))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!tmp.renameTo(f)) throw new IllegalStateException(
      s"could not persist view sidecar $f")
  }

  private[sources] def dropViewSidecar(catalogName: String,
      ident: Identifier): Unit = {
    GraftWarehouse.viewFile(catalogName, ident).delete()
    ()
  }

  /** load every persisted view of `catalogName` from the warehouse —
    * the first-view-touch lazy load of a fresh process. */
  private[sources] def loadViews(catalogName: String)
      : Seq[(Identifier,
        org.apache.spark.sql.connector.catalog.ViewInfo,
        Map[String, String])] = {
    Option(GraftWarehouse.viewsDir.listFiles())
      .getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".json")).toSeq
      .flatMap { f =>
        val j = parse(f)
        if ((j \ "catalog").asInstanceOf[JString].s != catalogName) None
        else {
          val ident = unjIdent(j \ "ident")
          val schema = DataType.fromJson(
            (j \ "schema").asInstanceOf[JString].s)
            .asInstanceOf[StructType]
          val props = (j \ "props").asInstanceOf[JObject].obj.map {
            case (k, JString(v)) => k -> v
            case (k, other) => throw new IllegalStateException(
              s"bad view prop '$k': $other")
          }.toMap
          val info = new org.apache.spark.sql.connector.catalog.ViewInfo(
            ident, (j \ "sql").asInstanceOf[JString].s,
            (j \ "currentCatalog").asInstanceOf[JString].s,
            (j \ "currentNamespace").asInstanceOf[JArray].arr
              .map(_.asInstanceOf[JString].s).toArray,
            schema,
            (j \ "queryColumnNames").asInstanceOf[JArray].arr
              .map(_.asInstanceOf[JString].s).toArray,
            (j \ "columnAliases").asInstanceOf[JArray].arr
              .map(_.asInstanceOf[JString].s).toArray,
            (j \ "columnComments").asInstanceOf[JArray].arr.map {
              case JString(s) => s
              case _ => null
            }.toArray,
            {
              val mm = new java.util.HashMap[String, String]()
              props.foreach { case (k, v) => mm.put(k, v) }
              mm
            })
          Some((ident, info, props))
        }
      }
  }

  // ---- restart simulation (test hook) ----------------------------------

  /** Simulate a PROCESS RESTART for the named tables: evict each one's
    * whole state record — history, resolution caches, parquet
    * registration, catalog definition, ledgers, log counters — and its
    * streaming epoch entries ([[GraftTableStore.evict]]), while the
    * warehouse directory (the "disk") stays untouched. The next catalog
    * touch must rebuild them from the transaction log alone; that is
    * the durability contract this hook exists to pin. Views evict with
    * `alsoViews`. */
  private[graft] def simulateProcessRestart(storeNames: Seq[String],
      alsoViews: Boolean = false): Unit = {
    storeNames.foreach(GraftTableStore.evict(_, keepEpochs = false))
    if (alsoViews) GraftMergeCatalog.evictViewsFromMemory()
  }
}
