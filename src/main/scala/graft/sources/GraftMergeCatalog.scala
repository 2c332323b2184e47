package graft.sources

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal DataSource V2 catalog whose tables support Spark's NATIVE
  * row-level MERGE planner (`SupportsRowLevelOperations`) — the
  * API-surface gap a warehouse user hits first: the merge SEMANTICS
  * have been covered relationally since round 2 (upsert_snapshot /
  * upsert_scd2 / cdc_diff, MergeOps), but a real pipeline writes
  * `MERGE INTO target USING source ON ...`, and with Delta/Iceberg
  * jars unavailable offline nothing on the classpath could accept that
  * statement. This catalog closes the gap through the PUBLIC connector
  * API only, and covers BOTH lake-format row-level plan shapes:
  * by default a copy-on-write [[RowLevelOperation]] (no `SupportsDelta`,
  * so Catalyst plans the group-based `ReplaceData` rewrite — scan the
  * table, join with the source, re-write surviving rows), exactly the
  * plan shape Delta/Iceberg copy-on-write tables produce; with
  * TBLPROPERTIES ('graft.row-level'='merge-on-read',
  * 'graft.row-id'='<col>') a merge-on-read [[GraftDeltaOperation]]
  * (`SupportsDelta`, so Catalyst plans the delta-based `WriteDelta`
  * rewrite — the writer receives delete/update/insert ops keyed by the
  * stable row id), the deletion-vector/MoR shape whose write cost is
  * O(changed rows) — the right one for small mutations at 100 TB.
  *
  * One store: every governed table is parquet-backed
  * ([[GraftParquetStore]]). A commit is a file manifest, a
  * merge-on-read op log or an equality delete, and [[GraftLog]] makes
  * every state change durable under the warehouse root; scans ship
  * file paths, never rows. (`'graft.store'='parquet'` is still
  * accepted at CREATE and changes nothing.)
  *
  * Each table's in-memory state is ONE immutable [[TableState]] record
  * per store name, in one map: history, parquet registration, catalog
  * definition, ledgers, log counters and read caches. A commit or
  * metadata change replaces the record under the table's lock (plus
  * the warehouse read lock; cross-table work takes the write lock);
  * readers take no lock and always see one whole record. Replaying a
  * log ([[install]]: attach, conflict rebase) is one map put, and
  * dropping a table's memory ([[evict]]: restart, failed commit, DROP)
  * one map remove — no reader sees a table half-replaced, and an
  * eviction cannot leave a piece behind.
  */
object GraftTableStore {
  /** Retention cap on the snapshot history: only the most recent
    * [[RetainedVersions]] snapshots stay materialized (absolute version
    * NUMBERS keep counting up — `firstRetained` records how many were
    * expired), so a long commit stream (e.g. a streaming soak test
    * driving thousands of micro-batch commits) cannot grow the in-JVM
    * store without bound. A `VERSION AS OF` inside the window is exact;
    * one before it fails loudly as expired — the same contract a lake
    * format's VACUUM/retention window gives. */
  private[graft] val RetainedVersions = 64

  /** What a commit is handed: rows to persist as files
    * ([[GraftFullData]]) or an already-stored form
    * ([[GraftCommitData]]). */
  private[sources] sealed trait GraftCommitInput
  /** rows the commit persists as a file manifest before the history
    * records it ([[GraftParquetStore.persistFull]]) — the row paths
    * that produce rows on the driver (IDENTITY writes, a fold of a
    * chain [[fileView]] cannot fold); never retained as such. */
  private[sources] final case class GraftFullData(rows: Array[InternalRow])
      extends GraftCommitInput
  /** What one commit STORES — the merge-on-read distinction made real:
    * a file manifest ([[GraftParquetData]]); a DELTA commit stores only
    * the row-level op log (`WriteDelta`'s delete/update/insert
    * stream) — O(changed rows), never the table. The snapshot a delta
    * commit denotes is MERGED AT READ TIME (scans fold it through
    * [[fileView]]; driver reads through [[GraftTableStore.resolveRel]]):
    * base(v-1) + op log, exactly the scan-side base+delta merge a
    * deletion-vector/MoR reader performs. `count` is the post-commit
    * row count, carried so DESCRIBE HISTORY and streaming admission
    * control stay O(metadata): for a delta it is prevCount − |distinct
    * delete ids| + |inserts|, exact under the MoR unique-row-id
    * contract (WriteDelta only deletes/updates rows its scan matched,
    * one op per matched row). */
  private[sources] sealed trait GraftCommitData extends GraftCommitInput {
    def count: Int
  }
  private[sources] final case class GraftDeltaData(ops: Array[GraftDeltaOp],
      idOrd: Int, idType: org.apache.spark.sql.types.DataType,
      count: Int) extends GraftCommitData
  /** a file-manifest commit ([[GraftParquetStore]]): the manifest —
    * file list + count — IS the commit; rows live in the files and
    * scans ship paths, not rows. A plain append re-references
    * every prior file and adds only the new rows' files. */
  private[sources] final case class GraftParquetData(
      files: Vector[GraftFileInfo], count: Int) extends GraftCommitData
  /** an EQUALITY DELETE commit (Iceberg v2's second delete form): the
    * O(1) manifest entry "DELETE WHERE <key> IN (<keys>)", committed
    * WITHOUT opening a single data file — the streaming-upsert-
    * friendly delete. Resolution happens AT READ: [[fileView]] folds
    * the keys into the scan's deletion-id set (the same task-side
    * id-test a MoR delta delete ships), [[GraftTableStore.resolveRel]]
    * filters the driver-side materialization, and OPTIMIZE /
    * purge_deletes compacts the chain away. Keys that match NO live
    * row are no-ops by construction (unlike a WriteDelta 'D', whose
    * scan proved existence), which is exactly why `count` cannot be
    * derived arithmetically at commit time: it resolves LAZILY on
    * first metadata readout (DESCRIBE HISTORY / a downstream
    * WriteDelta's prevCount) and is never touched by the commit or
    * scan paths. */
  private[sources] final case class GraftEqDeleteData(keyOrd: Int,
      keyType: org.apache.spark.sql.types.DataType, keys: Array[Any],
      table: String, version: Int) extends GraftCommitData {
    lazy val count: Int = getVersion(table, version).length
  }

  /** Retained history of one table: `firstRetained` = absolute version
    * number of `commits.head`; `times(i)` = commit wall-clock of
    * `commits(i)` in epoch millis, strictly increasing (same-milli
    * commits are nudged +1 ms so a timestamp resolves to exactly one
    * version); `ops(i)` = the kind of commit that produced `commits(i)`
    * (append / replace / truncate / delta / compact / stream-append —
    * the operation column a lake format's DESCRIBE HISTORY shows). */
  /** `branches`/`tags` are NAMED REFS over the version chain (absolute
    * version numbers — the Iceberg branch/tag surface): `branches` are
    * mutable pointers ("main" is the published state every unqualified
    * read serves; absent = the chain head), `tags` immutable. The
    * chain itself stays LINEAR: a branch write must extend the chain
    * head (enforced loudly), so "write to a branch" means main LAGS
    * while staged commits append — the write-audit-publish shape —
    * and publish is one fast-forward pointer move. */
  private[sources] final case class History(
      firstRetained: Int, commits: Vector[GraftCommitData],
      times: Vector[Long] = Vector.empty,
      ops: Vector[String] = Vector.empty,
      branches: Map[String, Int] = Map.empty,
      tags: Map[String, Int] = Map.empty) {
    def commitCount: Int = firstRetained + commits.size
    /** the published head: what unqualified reads serve. */
    def mainHead: Int = branches.getOrElse("main", commitCount - 1)
  }

  private[sources] val EmptyHistory: History = History(0, Vector.empty)

  /** A governed table's catalog definition and the catalog name and
    * identifier it is registered under. */
  private[sources] final case class TableDef(catalog: String,
      ident: Identifier, table: GraftMergeTable)

  /** A materialized view's record: its definition, opaque here (the MV
    * layer owns its format), and the source version its rows reflect. */
  private[graft] final case class MvRecord(definition: String,
      watermark: Long)

  /** EVERYTHING this process holds in memory about one table, as one
    * immutable record:
    *   - `history`: the retained commits;
    *   - `meta`: the parquet registration (set at CREATE or attach);
    *   - `definition`: the catalog definition. Spark builds one catalog
    *     object per session (foreachBatch clones included), so it lives
    *     here, JVM-shared, and not in the catalog instance;
    *   - `ingested`: the COPY INTO ledger, source paths already loaded —
    *     what makes re-running an ingest idempotent;
    *   - `mv`: a materialized view table's record;
    *   - `identityHwm`: the IDENTITY column's high-water mark, seeded
    *     from the declared START at first use and reserved lock-free;
    *   - `nextSeq`, `tailMtime`: the log's next entry number and the log
    *     directory's mtime at our last write ([[GraftLog.verifyTail]]);
    *   - `resolved`: driver-side rows of delta, equality-delete and
    *     parquet commits by absolute version. A committed version never
    *     changes, so an entry stays valid until retention drops it.
    *     Unchanged rows keep their base row OBJECTS through a merge, so
    *     reference-identity checks (streaming prefix check, change-feed
    *     update detection) see through delta commits;
    *   - `changeData`, `changeDataLocks`: a CoW rewrite commit's staged
    *     change-data files by version and their per-version latches
    *     ([[GraftChangeFeed]]).
    * The five mutable members (two counters, three caches) belong to the
    * record and die with it. Everything else changes by replacing the
    * whole record ([[update]]). */
  private[sources] final case class TableState(
      history: History = EmptyHistory,
      meta: Option[GraftParquetStore.Meta] = None,
      definition: Option[TableDef] = None,
      ingested: Set[String] = Set.empty,
      mv: Option[MvRecord] = None,
      identityHwm: Option[java.util.concurrent.atomic.AtomicLong] = None,
      nextSeq: Option[java.util.concurrent.atomic.AtomicLong] = None,
      tailMtime: Option[Long] = None,
      resolved: TrieMap[Int, Array[InternalRow]] = new TrieMap(),
      changeData: TrieMap[Int, Vector[GraftFileInfo]] = new TrieMap(),
      changeDataLocks: TrieMap[Int, Object] = new TrieMap())

  /** store name -> the table's one state record. */
  private val states =
    new java.util.concurrent.ConcurrentHashMap[String, TableState]()

  private[sources] def stateOf(name: String): Option[TableState] =
    Option(states.get(name))
  /** `name`'s record, or an empty one for a table with no state. */
  private def current(name: String): TableState =
    stateOf(name).getOrElse(TableState())

  /** atomically replace `name`'s record by `f` of it (of an empty
    * record when there is none). `f` runs inside the map's per-key
    * lock, so it must be a pure copy — no I/O, no other map access. */
  private[sources] def update(name: String)(
      f: TableState => TableState): TableState =
    states.compute(name, (_, s) => f(if (s == null) TableState() else s))

  /** [[update]] that leaves an absent table absent — for state that
    * only means something while the table is loaded. */
  private[sources] def updateIfPresent(name: String)(
      f: TableState => TableState): Unit = {
    states.computeIfPresent(name, (_, s) => f(s))
    ()
  }

  /** install a complete record — a log replay ([[GraftLog.install]]):
    * one put, so a lock-free reader sees the old record or the new one,
    * never a table half-replaced. */
  private[sources] def install(name: String, s: TableState): Unit =
    withTableLock(name) { states.put(name, s); () }

  /** evict a table's ENTIRE in-memory state without touching disk —
    * one remove; the next catalog touch replays the on-disk log.
    * Callers: the restart simulation, a commit or transaction whose
    * log write failed (the in-memory state is then ahead of the disk
    * truth) and DROP. `keepEpochs`: the streaming epoch ledger is
    * memory-only state that refuses WAL double-commits — it is NOT
    * derived from the log, so an eviction that merely forces a
    * re-replay (a failed log write) must keep it, or a concurrent
    * query's just-marked epoch would re-commit on WAL replay. Only
    * end-of-life evictions (DROP/reset, the restart simulation) wipe
    * it. Returns the evicted record. */
  private[graft] def evict(name: String,
      keepEpochs: Boolean): Option[TableState] = withTableLock(name) {
    val dropped = Option(states.remove(name))
    // epochLock guards the access-ordered map (even get() structurally
    // mutates it); it is a leaf lock, so no ordering hazard
    if (!keepEpochs)
      epochLock.synchronized {
        lastEpochs.keySet().removeIf(_._1 == name); ()
      }
    dropped
  }

  /** retained history of a table — empty for a created-but-never-
    * committed (or unknown) table. */
  private[sources] def historyOf(name: String): History =
    stateOf(name).fold(EmptyHistory)(_.history)
  private def setHistory(name: String, h: History): Unit = {
    update(name)(_.copy(history = h))
    ()
  }

  private[sources] def definitionOf(name: String): Option[TableDef] =
    stateOf(name).flatMap(_.definition)

  private[sources] def define(name: String, d: TableDef): Unit = {
    update(name)(_.copy(definition = Some(d)))
    ()
  }

  private[sources] def definitions: Iterator[TableDef] =
    states.values().iterator().asScala.flatMap(_.definition)

  /** PER-TABLE commit locks: a commit or metadata mutation takes ITS
    * table's monitor plus the warehouse READ lock, so commits to
    * different tables never contend. CROSS-TABLE operations (reset/
    * DROP with its reference-aware file sweep, shallow clones that
    * make one table reference another's files, multi-table
    * transactions) take the warehouse WRITE lock. Readers of another
    * table's record under the read lock need no monitor: records are
    * immutable and cross-table reference edges only change under the
    * write lock. Readers of table state take no lock at all. The lock
    * map lives outside the state records because a lock must outlive
    * them: an install or evict happens while holding it. */
  private val globalRw =
    new java.util.concurrent.locks.ReentrantReadWriteLock()
  private val tableLocks = new TrieMap[String, Object]()
  private def tableLock(name: String): Object =
    tableLocks.getOrElseUpdate(name, new Object)
  private def withTableLock[T](name: String)(f: => T): T = {
    globalRw.readLock().lock()
    try tableLock(name).synchronized(f)
    finally globalRw.readLock().unlock()
  }
  private def withGlobalLock[T](f: => T): T = {
    globalRw.writeLock().lock()
    try f
    finally globalRw.writeLock().unlock()
  }
  /** the streaming-epoch ledger's own tiny lock — independent of any
    * table's commit path (markEpoch is itself the atomic check). */
  private val epochLock = new Object
  /** test seam: run `f` while HOLDING `name`'s table lock (plus the
    * warehouse read lock, exactly like a commit) — lets specs prove
    * the isolation boundary deterministically: another table's commit
    * proceeds, this table's blocks. */
  private[graft] def holdingTableLock[T](name: String)(f: => T): T =
    withTableLock(name)(f)

  /** file paths referenced by the retained manifests of every table
    * EXCEPT `except` — the set a file-delete sweep must never touch.
    * Normally empty for another table's directory (each table writes
    * under its own dir); a SHALLOW CLONE's manifest is the case where
    * it isn't: the clone's v0 references the source's files in place,
    * and both retention GC and DROP of the source must keep them.
    * MUST run under [[lock]]. O(tables × retained × files) manifest
    * entries — metadata, no file touched. */
  private def fileRefsExcept(except: String): Set[String] =
    states.asScala.iterator.filter(_._1 != except)
      .flatMap(_._2.history.commits.iterator).flatMap {
        case p: GraftParquetData => p.files.iterator.map(_.path)
        case _ => Iterator.empty
      }.toSet ++
      // warehouse tables NOT loaded this process still reference files
      // from their on-disk transaction log (a never-touched shallow
      // clone is the case) — a sweep that ignored them would corrupt
      // the clone the first time it IS touched
      GraftLog.unloadedFileRefs(n => states.containsKey(n) || n == except)

  def reset(name: String): Unit = withGlobalLock {
    val dropped = evict(name, keepEpochs = false)
    val live = fileRefsExcept(name)
    // delete every file the dropped table referenced that no OTHER
    // table still does — wherever it lives: a shallow clone's
    // manifest references files under its SOURCE's directory, so
    // dropping the last referencing table must reach across dirs or
    // those files leak (their owning dir may already be unregistered)
    dropped.foreach(_.history.commits.foreach {
      case p: GraftParquetData => p.files.foreach { f =>
        if (!live.contains(f.path)) {
          val file = new java.io.File(f.path)
          file.delete()
          // tidy the version dir if this emptied it (no-op otherwise:
          // File.delete refuses non-empty directories)
          Option(file.getParentFile).foreach(_.delete())
        }
      }
      case _ => ()
    })
    // file-backed tables drop their dir — except files a shallow
    // clone's retained manifest still references (computed AFTER this
    // table's record left the store, so only live references count)
    dropped.flatMap(_.meta).foreach(GraftParquetStore.drop(_, live))
  }

  /** did anything materialize version `v` of `name` on the DRIVER?
    * (test probe: the task-side rewrite paths must never call
    * [[resolveRel]] on a file-backed base). */
  private[graft] def isResolvedCached(name: String, v: Int): Boolean =
    stateOf(name).exists(_.resolved.contains(v))

  /** COPY INTO source paths whose ledger update must ride INSIDE the
    * ingest's OWN commit (exactly-once: there is no window between
    * the commit and the ledger where a crash double-loads). THREAD-
    * LOCAL on purpose: a V2 batch commit executes on the same driver
    * thread as the `writeTo(...).append()` action that staged the
    * paths, so only the COPY's own commit can consume them — a
    * concurrent commit to the same table from another thread (a
    * streaming epoch, an OPTIMIZE) can neither steal the ledger
    * update nor attach it to the wrong commit. Like the MV rider
    * below, it lives outside the state record: it belongs to the
    * writing thread until its commit consumes it. */
  private val pendingIngest =
    new ThreadLocal[Option[(String, Seq[String])]] {
      override def initialValue(): Option[(String, Seq[String])] = None
    }
  private[graft] def beginIngest(name: String, paths: Seq[String]): Unit =
    pendingIngest.set(Some((name, paths)))
  private[graft] def abortIngest(name: String): Unit =
    pendingIngest.remove()

  /** MATERIALIZED-VIEW RECORDS riding commits: an MV table's record
    * becomes durable IN the commit that changes the MV's rows — the
    * baseline append at CREATE, then every refresh MERGE — so there is
    * no window where the rows moved but the watermark did not (the next
    * refresh would double-apply the same commit range). Same
    * thread-local discipline as the COPY INTO ledger: the MV layer arms
    * the record on its own driver thread, the commit to that table
    * consumes it under the lock, the log entry carries it (`mvdef`,
    * `mvwm`), and replay restores it — exactly-once across a crash. It
    * lives and dies with the table's state record. */
  private val pendingMv =
    new ThreadLocal[Option[(String, MvRecord)]] {
      override def initialValue(): Option[(String, MvRecord)] = None
    }
  private[graft] def armMvRecord(name: String, definition: String,
      watermark: Long): Unit =
    pendingMv.set(Some((name, MvRecord(definition, watermark))))
  private[graft] def disarmMvRecord(): Unit = pendingMv.remove()
  private[graft] def mvRecordOf(name: String): Option[MvRecord] =
    stateOf(name).flatMap(_.mv)

  /** reserve the next IDENTITY value (GENERATED ... AS IDENTITY): the
    * commit path draws from the table's counter under no additional
    * lock; the first draw seeds it at the declared START. */
  private[sources] def reserveIdentity(name: String, start: Long,
      step: Long): Long = {
    val ctr = stateOf(name).flatMap(_.identityHwm).getOrElse {
      val fresh = new java.util.concurrent.atomic.AtomicLong(start)
      update(name)(s => if (s.identityHwm.isDefined) s
        else s.copy(identityHwm = Some(fresh))).identityHwm.get
    }
    ctr.getAndAdd(step)
  }

  /** the COPY INTO ledger: source paths already loaded into `name`.
    * Since round 12 the ledger update rides INSIDE the ingest's own
    * commit ([[beginIngest]] → [[appendLocked]], one locked step, one
    * transaction-log entry on a file-backed table) — exactly-once
    * across a crash, and a fresh process replays it from the log. */
  private[graft] def ingestedFor(name: String): Set[String] =
    stateOf(name).fold(Set.empty[String])(_.ingested)

  /** apply one op log to its base snapshot — the scan-side MoR merge.
    * Deletes/updates key by the stable row id; untouched rows pass
    * through BY REFERENCE (same objects), inserts append in op order. */
  private def applyDelta(base: Array[InternalRow],
      d: GraftDeltaData): Array[InternalRow] = {
    val deletes = scala.collection.mutable.HashSet[Any]()
    val updates = scala.collection.mutable.HashMap[Any, InternalRow]()
    val inserts = scala.collection.mutable.ArrayBuffer[InternalRow]()
    d.ops.foreach { o =>
      (o.op: @unchecked) match {
        case 'D' => deletes += o.id.get(0, d.idType)
        case 'U' => updates.put(o.id.get(0, d.idType), o.row)
        case 'I' => inserts += o.row
      }
    }
    base.iterator.flatMap { r =>
      val k = r.get(d.idOrd, d.idType)
      if (deletes.contains(k)) Iterator.empty
      else Iterator.single(updates.getOrElse(k, r))
    }.toArray ++ inserts
  }

  /** rows of the commit at RELATIVE index `rel` in `h`, resolved on the
    * driver and memoized by absolute version: a manifest reads its
    * files, a delta commit merges base + op log. Recursion depth ≤
    * RetainedVersions (retention trim checkpoints the head as files,
    * so a chain never walks off the retained window). The memo and the
    * parquet schema come from `s`, the record `h` was read from, so a
    * reader racing an install never mixes two records. */
  private def resolveRel(name: String, s: TableState, h: History,
      rel: Int): Array[InternalRow] =
    h.commits(rel) match {
      case d: GraftDeltaData =>
        s.resolved.getOrElseUpdate(h.firstRetained + rel, {
          val base =
            if (rel == 0) Array.empty[InternalRow] // delta on empty table
            else resolveRel(name, s, h, rel - 1)
          applyDelta(base, d)
        })
      case e: GraftEqDeleteData =>
        s.resolved.getOrElseUpdate(h.firstRetained + rel, {
          val base =
            if (rel == 0) Array.empty[InternalRow]
            else resolveRel(name, s, h, rel - 1)
          val dead = e.keys.toSet
          // rows narrower than keyOrd predate the key column (ADD
          // COLUMN evolution) — their key reads NULL, and NULL never
          // matches an IN list (SQL semantics): they survive
          base.filter(r => e.keyOrd >= r.numFields ||
            r.isNullAt(e.keyOrd) ||
            !dead.contains(r.get(e.keyOrd, e.keyType)))
        })
      case p: GraftParquetData =>
        // driver-side materialization of a file-backed commit (the
        // base of a row-level op, the change feed, CBO stats — the
        // SCAN path never comes here, it ships the files). Resolution
        // is INCREMENTAL: when the previous commit's files are a
        // prefix of this one's (the append shape), its resolved rows
        // are reused BY REFERENCE and only the new files are read —
        // so reference-identity invariants (streaming prefix check,
        // change-feed equality) see through the file round-trip.
        s.resolved.getOrElseUpdate(h.firstRetained + rel, {
          val schema = s.meta.map(_.schema)
            .getOrElse(throw new IllegalStateException(
              s"$name has parquet commits but no parquet registration"))
          val prevShared: Option[(Int, Array[InternalRow])] =
            if (rel == 0) None
            else h.commits(rel - 1) match {
              case pp: GraftParquetData
                if GraftChangeFeed.extendsAsPrefix(p.files, pp.files) =>
                Some((pp.files.length, resolveRel(name, s, h, rel - 1)))
              case _ => None
            }
          prevShared match {
            case Some((nPrevFiles, prev)) => prev ++
              GraftParquetStore.readAll(p.files.drop(nPrevFiles), schema)
            case None => GraftParquetStore.readAll(p.files, schema)
          }
        })
    }

  /** [[resolveRel]] against `name`'s current record — for callers
    * holding the table lock, where the record cannot change under
    * them. */
  private def resolveRel(name: String, h: History, rel: Int)
      : Array[InternalRow] =
    resolveRel(name, current(name), h, rel)

  def get(name: String): Array[InternalRow] =
    stateOf(name) match {
      case Some(s) if s.history.commits.nonEmpty =>
        val h = s.history
        // unqualified reads serve MAIN — staged (unpublished) branch
        // commits beyond it are invisible until fast-forward
        val rel = h.mainHead - h.firstRetained
        if (rel < 0)
          throw new IllegalStateException(
            s"$name: the published (main) version ${h.mainHead} has " +
              "expired under retention while branch commits piled up — " +
              "publish or expire the branch")
        resolveRel(name, s, h, rel)
      case _ => Array.empty
    }
  def commitCount(name: String): Int =
    historyOf(name).commitCount
  /** commits visible to unqualified/streaming/CDF readers: up to and
    * including MAIN — a WAP branch's staged commits don't stream or
    * feed until published. */
  private[graft] def publishedCount(name: String): Int =
    historyOf(name).mainHead + 1
  def getVersion(name: String, v: Int): Array[InternalRow] = {
    val s = current(name)
    val h = s.history
    if (v < 0 || v >= h.commitCount)
      throw new IllegalArgumentException(
        s"version $v of $name does not exist (${h.commitCount} commits)")
    if (v < h.firstRetained)
      throw new IllegalArgumentException(
        s"version $v of $name has expired (retention keeps the last " +
          s"$RetainedVersions versions; earliest retained: " +
          s"${h.firstRetained})")
    resolveRel(name, s, h, v - h.firstRetained)
  }
  /** (operation, stored commit data) of a RETAINED version — what the
    * change feed derives CDC from (commit metadata, not snapshots).
    * None for unretained/unknown versions (callers fall back to the
    * snapshot path, which owns the loud errors). */
  private[sources] def commitInfo(name: String, v: Int)
      : Option[(String, GraftCommitData)] = {
    val h = historyOf(name)
    if (v < h.firstRetained || v >= h.commitCount) return None
    val rel = v - h.firstRetained
    Some((if (rel < h.ops.length) h.ops(rel) else "append",
      h.commits(rel)))
  }

  /** the STORED form of a commit — "parquet", "delta" or "eqdelete" —
    * so tests can pin that a delta commit really persisted only its op
    * log. */
  private[graft] def commitKind(name: String, v: Int): String = {
    val h = historyOf(name)
    require(v >= h.firstRetained && v < h.commitCount,
      s"version $v of $name is not retained")
    h.commits(v - h.firstRetained) match {
      case _: GraftDeltaData => "delta"
      case _: GraftEqDeleteData => "eqdelete"
      case _: GraftParquetData => "parquet"
    }
  }
  /** the file manifest of a parquet-backed commit — what tests pin to
    * prove appends re-reference prior files instead of rewriting. */
  private[graft] def commitFiles(name: String, v: Int)
      : Vector[GraftFileInfo] = {
    val h = historyOf(name)
    require(v >= h.firstRetained && v < h.commitCount,
      s"version $v of $name is not retained")
    h.commits(v - h.firstRetained) match {
      case p: GraftParquetData => p.files
      case _ => Vector.empty
    }
  }
  def put(name: String, rs: Array[InternalRow]): Unit =
    mutate(name)(_ => rs)

  /** (table, queryId) -> highest committed streaming epoch. A
    * restarted streaming query RE-COMMITS its last epoch from the WAL;
    * an idempotent sink must detect the replay or double-append —
    * markEpoch returns false for an epoch at or below the last
    * committed one (per query), and the caller skips the commit.
    * O(active queries) state, not O(epochs): entries die with their
    * table ([[reset]] evicts them), and a hard LRU cap bounds the
    * ledger even under unbounded distinct-query churn against
    * long-lived tables — evicting the least-recently-committing query
    * is safe because the entry only matters for WAL replay at restart,
    * which re-commits immediately (the entry is then at the MRU end).
    * Kept outside the state record: the ledger is memory-only (no log
    * carries it), so it must survive a rebase install. */
  private val MaxEpochEntries = 1024
  private val lastEpochs = new java.util.LinkedHashMap[
      (String, String), java.lang.Long](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String), java.lang.Long])
        : Boolean = size() > MaxEpochEntries
  }
  private[graft] def markEpoch(name: String, queryId: String,
      epochId: Long): Boolean = epochLock.synchronized {
    val k = (name, queryId)
    val prev = lastEpochs.get(k) // null when absent — never unbox blindly
    if (prev != null && prev.longValue() >= epochId) false
    else { lastEpochs.put(k, epochId); true }
  }
  private[graft] def epochLedgerSize: Int =
    epochLock.synchronized(lastEpochs.size())


  /** Append one commit and apply retention — MUST run under [[lock]].
    * When the trim drops versions, the commit that becomes the new
    * retained HEAD is checkpointed as files first (a delta head would
    * otherwise need its expired predecessor to resolve) — the
    * checkpoint a lake format writes before expiring snapshots;
    * dropped versions' cached resolutions are evicted with them. */
  private def appendLocked(name: String, op: String,
      data: GraftCommitInput, branch: Option[String] = None,
      logIt: Boolean = true, atTime: Option[Long] = None): Unit = {
    val s = current(name)
    val m = s.meta.getOrElse(throw new IllegalStateException(
      s"$name is not a registered table — no commit possible"))
    // cross-process OCC, BEFORE the in-memory apply: a foreign
    // process's entries on disk past our counter mean this process's
    // view of the table is stale — refuse while state is still
    // consistent (the atomic entry claim backstops the residual race),
    // with the disk truth installed when the log replays
    if (logIt)
      try GraftLog.verifyTail(name)
      catch {
        case e: GraftConcurrentCommitException =>
          throw installDiskTruth(name).fold(e)(rebased(e, _))
      }
    val h = s.history
    val head = h.commitCount - 1
    // linear-chain discipline: every commit extends the chain head.
    // A main write with staged branch commits dangling above main, or
    // a write to a branch that is not at the head, would need a DAG —
    // refuse loudly instead of silently basing on the wrong snapshot.
    branch match {
      case None =>
        if (h.commits.nonEmpty && h.mainHead != head)
          throw new IllegalStateException(
            s"$name has unpublished branch commits (main at " +
              s"v${h.mainHead}, chain head at v$head) — publish " +
              "(fast-forward) the branch or keep writing to it")
      case Some(b) =>
        require(!h.tags.contains(b),
          s"'$b' is a tag of $name — tags are immutable")
        require(h.branches.contains(b),
          s"no such branch '$b' of $name — create it first")
        if (h.branches(b) != head)
          throw new IllegalStateException(
            s"branch '$b' of $name is at v${h.branches(b)}, not the " +
              s"chain head v$head — only the head branch can be written")
    }
    val newV = head + 1
    // rows PERSIST as files (an append re-references the previous
    // manifest and writes only the suffix); delta commits stay op logs
    // merged at read. The just-committed rows seed the resolution
    // cache so the first driver-side materialization never re-reads
    // what it just wrote.
    val stored: GraftCommitData = data match {
      case f: GraftFullData =>
        val prev = h.commits.lastOption.collect {
          case p: GraftParquetData =>
            (p, resolveRel(name, s, h, h.commits.size - 1))
        }
        val pq = GraftParquetStore.persistFull(name, m, newV, f.rows, prev)
        s.resolved.put(newV, f.rows)
        pq
      case c: GraftCommitData => c
    }
    val newBranches = branch match {
      case None => h.branches + ("main" -> newV)
      // a branch write advances ITS pointer and pins main explicitly
      // where it was (main must not follow staged commits)
      case Some(b) =>
        h.branches + ("main" -> h.mainHead) + (b -> newV)
    }
    val now = atTime.getOrElse(math.max(System.currentTimeMillis(),
      h.times.lastOption.map(_ + 1).getOrElse(Long.MinValue)))
    val appended = History(h.firstRetained, h.commits :+ stored,
      h.times :+ now, h.ops :+ op, newBranches, h.tags)
    val trimmed = trimLocked(name, appended, RetainedVersions)
    // a COPY INTO's ledger update rides the SAME locked step as its
    // commit (and, for a file-backed table, the same log entry) —
    // exactly-once across a crash, no commit-then-ledger window;
    // thread-locality binds it to the COPY's OWN commit
    val ingest = pendingIngest.get() match {
      case Some((n, paths)) if n == name =>
        pendingIngest.remove()
        paths
      case _ => Seq.empty
    }
    // an MV's record rides ITS commit the same way — the MV layer
    // armed it on this thread, the baseline/MERGE commit consumes it
    val mv = pendingMv.get() match {
      case Some((n, r)) if n == name =>
        pendingMv.remove()
        Some(r)
      case _ => None
    }
    // history, ledger and MV record land as ONE record replacement
    update(name)(st => st.copy(history = trimmed,
      ingested = st.ingested ++ ingest, mv = mv.orElse(st.mv)))
    // DURABILITY: the commit appends to the table's on-disk
    // transaction log; a commit that trimmed retention checkpoints the
    // full state instead (and GCs the entries the checkpoint subsumes).
    // The cross-table transaction path writes its (marker-protected)
    // entries itself — logIt=false.
    if (logIt) {
      try {
        if (trimmed.firstRetained != h.firstRetained)
          GraftLog.checkpoint(name)
        else GraftLog.logCommit(name, newV, op, now, stored,
          h.commits.lastOption, trimmed.branches, trimmed.tags, ingest)
      } catch {
        case t: Throwable =>
          // the commit never became durable (a foreign process won the
          // entry claim in the residual window) — serving the applied
          // in-memory state would be a PHANTOM commit that forks the
          // table on the next write. Install the disk truth, foreign
          // entries included, with one put, so a lock-free reader never
          // sees the table empty; evict (the next catalog touch
          // replays) only when the replay itself fails.
          val installed = installDiskTruth(name)
          if (installed.isEmpty) evict(name, keepEpochs = true)
          throw ((t, installed) match {
            case (e: GraftConcurrentCommitException, Some(st)) =>
              rebased(e, st)
            case _ => t
          })
      }
    }
  }

  /** After a commit conflict: replay the log once and install the disk
    * truth, foreign entries included, with one put. The installed
    * record, or None when the log does not replay (the caller's state
    * is then left as it is). */
  private def installDiskTruth(name: String): Option[TableState] =
    try GraftLog.replayByName(name).map { r =>
      GraftLog.install(name, r)
      current(name)
    } catch { case _: Throwable => None }

  /** `e` carrying the record installed in answer to it — what the
    * conflict retries classify on. */
  private def rebased(e: GraftConcurrentCommitException,
      st: TableState): GraftConcurrentCommitException =
    new GraftConcurrentCommitException(e.getMessage, Some(st), e)

  /** retention trim to the last `keep` versions of `appended` — MUST
    * run under [[lock]]. Shared by the per-commit cap and the explicit
    * expire-snapshots command. */
  private def trimLocked(name: String, appended: History,
      keep: Int): History =
    if (appended.commits.size <= keep) appended
    else {
      val s = current(name)
      val dropN = appended.commits.size - keep
      val headRel = dropN // relative index of the new head, pre-trim
      val headData: GraftCommitData = appended.commits(headRel) match {
        case p: GraftParquetData => p
        case _ => // delta / eq-delete head: checkpointed as files
          // before its base expires
          val rows = resolveRel(name, s, appended, headRel)
          val v = appended.firstRetained + headRel
          val pq = GraftParquetStore.persistFull(
            name, s.meta.get, v, rows, None)
          s.resolved.put(v, rows)
          pq
      }
      val newFirst = appended.firstRetained + dropN
      s.resolved.keysIterator.filter(_ < newFirst)
        .foreach(s.resolved.remove)
      // refs survive the trim untouched: one pointing below the new
      // window resolves loudly as expired (same contract as an integer
      // VERSION AS OF), it is not silently moved
      val trimmed = History(newFirst,
        appended.commits.drop(dropN).updated(0, headData),
        appended.times.drop(dropN),
        appended.ops.drop(dropN),
        appended.branches, appended.tags)
      // retention GC (VACUUM): files no RETAINED manifest references
      // are deleted; append-shared files survive as long as any
      // retained commit still lists them — including a SHALLOW
      // CLONE's manifest (another table referencing files under THIS
      // table's dir), so a source-side trim can never corrupt a clone
      val referenced = trimmed.commits.iterator.flatMap {
        case p: GraftParquetData => p.files.iterator.map(_.path)
        case _ => Iterator.empty
      }.toSet ++ fileRefsExcept(name)
      // sweep EXPIRED version dirs only (< newFirst): a dir at or
      // above it can hold a concurrent foreign writer's just-adopted
      // files whose commit this process hasn't replayed yet —
      // deleting those corrupts the winner (gcUnreferenced scaladoc)
      GraftParquetStore.gcUnreferenced(name, referenced, newFirst)
      trimmed
    }

  /** Create a named ref (branch or tag) at `at` (default: the current
    * published main head). Branches are writable pointers (a WAP write
    * targets one via the `graft.wap.branch` session conf), tags are
    * immutable. */
  private[graft] def createRef(name: String, ref: String,
      isTag: Boolean, at: Option[Int] = None): Unit = withTableLock(name) {
    val h = historyOf(name)
    require(h.commits.nonEmpty, s"$name has no commits to ref")
    require(ref != "main", "'main' is the implicit published branch")
    require(!h.branches.contains(ref) && !h.tags.contains(ref),
      s"ref '$ref' of $name already exists")
    val v = at.getOrElse(h.mainHead)
    require(v >= h.firstRetained && v < h.commitCount,
      s"version $v of $name is not retained")
    val nh =
      if (isTag) h.copy(tags = h.tags + (ref -> v))
      else h.copy(branches = h.branches + (ref -> v))
    setHistory(name, nh)
    GraftLog.logRef(name, nh.branches, nh.tags)
  }

  /** resolve a named ref to its absolute version. */
  private[sources] def refVersion(name: String, ref: String): Option[Int] = {
    val h = historyOf(name)
    h.branches.get(ref).orElse(h.tags.get(ref))
  }

  /** PUBLISH (WAP's third step): fast-forward main to `ref`'s version —
    * one atomic pointer move, nothing rewritten; every unqualified
    * reader sees the staged commits from this instant. Fast-forward
    * only: a ref behind main refuses (publishing it would silently
    * roll the table back). */
  private[graft] def fastForward(name: String, ref: String): Int =
    withTableLock(name) {
      val h = historyOf(name)
      val to = h.branches.get(ref).orElse(h.tags.get(ref)).getOrElse(
        throw new IllegalArgumentException(
          s"no such ref '$ref' of $name"))
      require(to >= h.mainHead,
        s"cannot fast-forward main of $name from v${h.mainHead} back " +
          s"to v$to ('$ref') — publish is forward-only")
      val nh = h.copy(branches = h.branches + ("main" -> to))
      setHistory(name, nh)
      GraftLog.logRef(name, nh.branches, nh.tags)
      to
    }

  /** Atomic read-modify-write commit: `f` maps the current committed
    * rows (resolved on the driver) to the next snapshot, which persists
    * as files; the swap of (current, history) is one synchronized step,
    * so no concurrent commit can interleave between the read and the
    * write, and the history always ends in the row set `get` serves.
    * Kept for the IDENTITY row-message path (ids are assigned at commit
    * time, on the driver) and the row fallback of a rewrite the
    * manifest cannot answer. */
  private[graft] def mutate(name: String, op: String = "append",
      branch: Option[String] = None)(
      f: Array[InternalRow] => Array[InternalRow]): Unit =
    withTableLock(name) {
      val h = historyOf(name)
      // base = the chain head; appendLocked enforces that the write
      // target (main or the branch) IS the head, so this is always the
      // right parent snapshot
      val base =
        if (h.commits.isEmpty) Array.empty[InternalRow]
        else resolveRel(name, h, h.commits.size - 1)
      appendLocked(name, op, GraftFullData(f(base)), branch)
    }

  /** Commit a WriteDelta op log AS an op log — O(changed rows), the
    * merge-on-read write: the base snapshot is untouched (no
    * materialization, no row copies) and every read of this version
    * merges base + ops at scan time ([[resolveRel]]). The post-commit
    * count is derived arithmetically from the op log (see
    * [[GraftDeltaData]] for the uniqueness contract that makes it
    * exact). */
  /** foreign commit OPS that can never have touched a pre-existing
    * row — the blind-add class a row-level (WriteDelta) commit can
    * always rebase across (Delta's WriteSerializable semantics: rows
    * appended concurrently are treated as committed after the delta,
    * which never read them). */
  private val AppendClassOps = Set("append", "stream-append", "txn-append")

  /** Can this process's WriteDelta op log land on a head that moved
    * past its base? Classifies every interleaved foreign commit:
    * layout maintenance (content-neutral) and blind appends always
    * compose with an id-keyed delta; a foreign delta/eq-delete
    * composes iff it shares the id domain and its id set is DISJOINT
    * from ours (two writers touching the same row is the genuine
    * conflict every format refuses); anything else (CoW rewrites,
    * overwrites, restores, evolution) refuses. */
  private def deltaRebaseOk(st: TableState, baseHead: Int,
      baseMeta: Option[GraftParquetStore.Meta],
      ourIds: Set[Any], idOrd: Int,
      idType: org.apache.spark.sql.types.DataType): Boolean = {
    if (!sameMeta(baseMeta, st.meta)) return false
    val h = st.history
    if (h.firstRetained > baseHead + 1) return false // expired interleave
    ((baseHead + 1) until h.commitCount).forall { v =>
      val rel = v - h.firstRetained
      val op = if (rel < h.ops.length) h.ops(rel) else "append"
      h.commits(rel) match {
        case _ if GraftChangeFeed.ContentNeutralOps(op) => true
        case _: GraftParquetData => AppendClassOps(op)
        case d: GraftDeltaData =>
          d.idOrd == idOrd && d.idType == idType &&
            d.ops.forall { o =>
              val k =
                if (o.op == 'I') o.row.get(idOrd, idType)
                else o.id.get(0, idType)
              !ourIds.contains(k)
            }
        case e: GraftEqDeleteData =>
          e.keyOrd == idOrd && e.keyType == idType &&
            e.keys.forall(k => !ourIds.contains(k))
      }
    }
  }

  private[sources] def commitDelta(name: String, ops: Array[GraftDeltaOp],
      idOrd: Int, idType: org.apache.spark.sql.types.DataType,
      branch: Option[String] = None): Unit = {
    val deleteIds = scala.collection.mutable.HashSet[Any]()
    var inserts = 0
    val ourIds = scala.collection.mutable.HashSet[Any]()
    ops.foreach { o =>
      (o.op: @unchecked) match {
        case 'D' =>
          deleteIds += o.id.get(0, idType)
          ourIds += o.id.get(0, idType)
        case 'U' => ourIds += o.id.get(0, idType)
        case 'I' =>
          inserts += 1
          ourIds += o.row.get(idOrd, idType)
      }
    }
    // branch (WAP) deltas keep the strict refusal — publish semantics
    // depend on the exact base; main-branch deltas rebase across the
    // compatible interleave classes (the streaming-upsert vs
    // scheduled-OPTIMIZE pair)
    var attempts = 0
    var done = false
    while (!done) {
      done = withTableLock(name) {
        val baseMeta = GraftParquetStore.meta(name)
        val h = historyOf(name)
        val baseHead = h.commitCount - 1
        val prevCount = h.commits.lastOption.map(_.count).getOrElse(0)
        try {
          appendLocked(name, "delta",
            GraftDeltaData(ops, idOrd, idType,
              prevCount - deleteIds.size + inserts), branch)
          true
        } catch {
          case e: GraftConcurrentCommitException =>
            attempts += 1
            if (branch.isDefined || attempts > MaxAppendRetries) throw e
            // classify on the disk truth appendLocked installed
            val st = e.installed.getOrElse(throw e)
            if (!deltaRebaseOk(st, baseHead, baseMeta,
                ourIds.toSet, idOrd, idType)) throw e
            false // loop: recompute the count on the foreign head
        }
      }
    }
  }

  /** Commit an EQUALITY DELETE: "DELETE WHERE <keyCol> IN (<keys>)"
    * as an O(|keys|) log entry — ZERO data files opened, zero bytes
    * rewritten (the CDC-upsert-stream delete: the writer knows the
    * keys it retires without scanning for them). Keys arrive in
    * Catalyst internal representation (UTF8String for strings).
    * Resolution is deferred to read time ([[fileView]] /
    * [[resolveRel]]); OPTIMIZE / purge_deletes compacts the chain
    * away. Records a [[GraftDvMetrics]] report with filesOpened=0 so
    * specs can MEASURE the zero-I/O commit. Returns the committed
    * version. */
  private[graft] def commitEqDelete(name: String, keyCol: String,
      keys: Array[Any]): Int = withTableLock(name) {
    val m = GraftParquetStore.meta(name).getOrElse(
      throw new IllegalArgumentException(
        s"$name is not parquet-backed — equality deletes are a " +
          "file-store surface"))
    val vis = GraftColumnMap.visible(m.schema)
    val vi = vis.fieldNames.indexOf(keyCol)
    require(vi >= 0, s"$name has no column '$keyCol' " +
      s"(${vis.fieldNames.mkString(", ")})")
    val keyOrd = GraftColumnMap.physOrds(m.schema)(vi)
    val keyType = m.schema(keyOrd).dataType
    require(keys.nonEmpty, "equality delete with an empty key set")
    require(keys.forall(_ != null),
      "equality-delete keys must be non-null (NULL never equals)")
    val h = historyOf(name)
    val newV = h.commitCount
    val filesTotal = h.commits.lastOption match {
      case Some(p: GraftParquetData) => p.files.length
      case _ => 0
    }
    appendLocked(name, "eqdelete",
      GraftEqDeleteData(keyOrd, keyType, keys, name, newV))
    GraftDvMetrics.last.put(name, GraftDvMetrics.Report(
      filesTotal, 0, 0, 0, -1L))
    newV
  }

  /** does the table's CURRENT read suffix (past the last full commit)
    * contain an equality-delete entry? — the purge_deletes trigger. */
  private[graft] def hasEqDeleteSuffix(name: String): Boolean = {
    val h = historyOf(name)
    val lastFull = h.commits.lastIndexWhere(c =>
      !c.isInstanceOf[GraftDeltaData] &&
        !c.isInstanceOf[GraftEqDeleteData])
    h.commits.drop(lastFull max 0)
      .exists(_.isInstanceOf[GraftEqDeleteData])
  }

  /** Commit a TASK-WRITTEN parquet append: the write tasks streamed
    * rows straight into staged files and shipped only metadata — this
    * adopts the staged files into the new version's directory (one
    * rename each, under the lock, once the version number is known)
    * and extends the previous manifest. The driver never sees a row:
    * a manifest-only commit, the lake-format append. Onto a delta
    * op-log head (the new content must append AFTER the merged state)
    * the rows are read once on the driver and commit as an insert-only
    * op log ([[insertDelta]]), O(appended). */
  /** what a blind append BASED on, for conflict classification: the
    * head manifest as path → content signature, plus the metadata
    * surfaces a foreign commit could have evolved. headSig is None
    * when the head is a MoR delta chain (never rebased). */
  private final case class AppendBaseSig(schemaJson: String,
      specSig: String, dvMode: Boolean, commitCount: Int,
      headSig: Option[Map[String, String]])

  private def fileSig(f: GraftFileInfo): String =
    s"${f.rows}|${f.bytes}|${f.numCols}|${f.specId}|" +
      f.dv.map(d =>
        s"${d.card}:${java.util.Arrays.hashCode(d.words)}").getOrElse("-")

  private def appendSigOf(m: GraftParquetStore.Meta,
      head: Option[GraftParquetData], commitCount: Int)
      : AppendBaseSig =
    AppendBaseSig(m.schema.json,
      m.specs.map(_.map(_.toString).mkString(",")).mkString(";") +
        "|" + m.partFields.map(_.toString).mkString(","),
      m.dvMode, commitCount,
      Some(head.map(_.files.map(f => f.path -> fileSig(f)).toMap)
        .getOrElse(Map.empty[String, String])))

  private def appendSigOf(m: GraftParquetStore.Meta,
      h: History): AppendBaseSig = h.commits.lastOption match {
    case Some(p: GraftParquetData) => appendSigOf(m, Some(p), h.commitCount)
    case None => appendSigOf(m, None, h.commitCount)
    case Some(_) => // delta head: never a rebase target
      appendSigOf(m, None, h.commitCount).copy(headSig = None)
  }

  /** Delta-style LOGICAL conflict classification for a blind append
    * whose commit lost the log race: the interleaved foreign commits
    * are COMPATIBLE iff they only ADDED data — every file this append
    * based on is still in the head manifest with identical content
    * (rows, bytes, width, spec, DV bitmap), the head is still a
    * parquet manifest, and no schema / partition-spec / DV-mode
    * evolution landed. A foreign DELETE, compaction, overwrite,
    * truncate, MoR delta or ALTER all fail this test and keep the
    * loud refusal — a blind append read nothing, so appends racing
    * appends are the one class that can always rebase. */
  private def appendCompatible(base: AppendBaseSig,
      now: AppendBaseSig): Boolean =
    (base.headSig, now.headSig) match {
      case (Some(baseFiles), Some(nowFiles)) =>
        now.schemaJson == base.schemaJson &&
          now.specSig == base.specSig &&
          now.dvMode == base.dvMode &&
          now.commitCount >= base.commitCount &&
          baseFiles.forall { case (p, sig) =>
            nowFiles.get(p).contains(sig)
          }
      case _ => false
    }

  /** bounded rebase attempts for a conflicted blind append — enough
    * to ride out a burst of concurrent appenders, small enough that a
    * genuinely hot table fails over to the caller's own policy. Each
    * attempt is metadata-only (log replay + classify + install, no data
    * rewrite), so the bound prices loudness, not work: 12 rides out a
    * CPU-starved ingest loop racing a tight maintenance loop (the
    * cross-JVM pin under a fully loaded test host saw >4 foreign
    * commits land inside one slow attempt window), while a same-row
    * writer still refuses on the FIRST attempt — the classifier, not
    * the bound, is the correctness gate. */
  private val MaxAppendRetries = 12

  /** the OP-CLASS half of the blind-append classifier (round 15): a
    * blind append read NOTHING, so beyond the append-vs-append
    * manifest-superset test it also composes with any interleave made
    * of content-neutral maintenance (binpack / compact / zorder /
    * purge-dv — the files moved but the content did not),
    * further blind adds, and row-level (delta / eq-delete) commits —
    * the append serializes after them, exactly Iceberg's fast-append
    * semantics. Overwrites / truncates / CoW rewrites stay refusals
    * (deliberately stricter than Iceberg: a replace-then-append race
    * is usually an application bug worth surfacing). Metadata
    * evolution always refuses (the staged files were written under
    * the old schema/spec). */
  private def appendInterleaveOk(st: TableState,
      baseHead: Int,
      baseMeta: Option[GraftParquetStore.Meta]): Boolean = {
    if (!sameMeta(baseMeta, st.meta)) return false
    val h = st.history
    if (h.firstRetained > baseHead + 1) return false
    ((baseHead + 1) until h.commitCount).forall { v =>
      val rel = v - h.firstRetained
      val op = if (rel < h.ops.length) h.ops(rel) else "append"
      GraftChangeFeed.ContentNeutralOps(op) || AppendClassOps(op) ||
        h.commits(rel).isInstanceOf[GraftDeltaData] ||
        h.commits(rel).isInstanceOf[GraftEqDeleteData]
    }
  }

  private[sources] def commitParquetAppend(name: String,
      staged: Vector[GraftFileInfo], branch: Option[String],
      op: String = "append"): Unit = {
    // blind appends to MAIN are the retryable class; branch writes
    // (WAP staging) keep the strict refusal — their publish semantics
    // depend on the exact base
    val retryable = branch.isEmpty &&
      (op == "append" || op == "stream-append")
    // thread-local riders appendLocked consumes on its FIRST attempt
    // (COPY INTO ledger, MV record) must re-arm on retry, or the
    // rebased commit would drop them
    val ingestArmed = pendingIngest.get()
    val mvArmed = pendingMv.get()
    var cur = staged
    var attempts = 0
    var done = false
    while (!done) {
      // ONE table-lock hold covers the attempt AND its conflict
      // recovery: a concurrent local committer can never observe the
      // evicted-but-not-yet-rebased intermediate state (it would fail
      // with a misleading "not parquet-backed" otherwise) — it simply
      // serializes behind the rebase and lands on the fresh head.
      done = withTableLock(name) {
        // O(1) capture of what this attempt bases on — the immutable
        // head manifest reference; the signature map is built lazily
        // only when a conflict actually needs classification
        val baseMeta = GraftParquetStore.meta(name)
        val baseHead = commitCount(name)
        val baseFiles = historyOf(name).commits.lastOption match {
          case Some(p: GraftParquetData) => Some(Some(p))
          case None => Some(None) // empty table: a valid append base
          case Some(_) => None // delta head: never rebased
        }
        try {
          val m = GraftParquetStore.meta(name).getOrElse(
            throw new IllegalStateException(
              s"$name is not parquet-backed — no staged commit possible"))
          val h = historyOf(name)
          val newV = h.commitCount
          h.commits.lastOption match {
            case None =>
              val files = GraftParquetStore.adoptStaged(m, newV, cur)
              cur = files
              appendLocked(name, op,
                GraftParquetData(files, files.map(_.rows).sum), branch)
            case Some(p: GraftParquetData) =>
              val files = GraftParquetStore.adoptStaged(m, newV, cur)
              cur = files
              appendLocked(name, op,
                GraftParquetData(p.files ++ files,
                  p.count + files.map(_.rows).sum), branch)
            case Some(_) =>
              // delta head: the staged rows join the chain as an
              // insert-only op log — O(appended), the base untouched.
              // Where the fold could not keep them apart from the
              // head's rows, base + staged rows persist as files.
              // Staged inputs are consumed either way — no rebase after.
              val incoming = GraftParquetStore.readAll(cur, m.schema)
              GraftParquetStore.discardStaged(cur)
              cur = Vector.empty
              appendLocked(name, op, insertDelta(name, h, incoming)
                .getOrElse(GraftFullData(
                  resolveRel(name, h, h.commits.size - 1) ++ incoming)),
                branch)
          }
          true
        } catch {
          case e: GraftConcurrentCommitException =>
            attempts += 1
            if (!retryable || attempts > MaxAppendRetries ||
                cur.isEmpty || baseMeta.isEmpty || baseFiles.isEmpty)
              throw e
            // classify on the disk truth appendLocked installed; a
            // foreign entry this process cannot even parse installed
            // nothing and keeps the original loud refusal with the
            // table still readable
            val st = e.installed.getOrElse(throw e)
            val m = st.meta.getOrElse(throw e)
            val baseSig =
              appendSigOf(baseMeta.get, baseFiles.get, baseHead)
            // (baseHead here is the base COMMIT COUNT — the op-class
            // classifier wants the base head INDEX)
            if (!appendCompatible(baseSig, appendSigOf(m, st.history)) &&
                !appendInterleaveOk(st, baseHead - 1, baseMeta)) throw e
            // compatible: the rebased state is installed (the epoch
            // ledger survives — install preserves it by contract)
            ingestArmed.foreach(v => pendingIngest.set(Some(v)))
            mvArmed.foreach(v => pendingMv.set(Some(v)))
            false // loop: re-adopt `cur` onto the rebased head
        }
      }
    }
  }

  /** `rows` appended onto the delta head of `h` as an insert-only op
    * log, or None where [[fileView]]'s fold could not keep them apart
    * from the head's rows (it keys extras by row id): the table has no
    * row id, the chain folds in another id domain, or an appended id
    * is NULL, repeats in the batch or is an extra already. */
  private def insertDelta(name: String, h: History,
      rows: Array[InternalRow]): Option[GraftDeltaData] = {
    val schema = current(name).meta.get.schema
    val idOrd = definitionOf(name).flatMap(_.table.morRowId)
      .map(schema.fieldIndex).getOrElse(return None)
    val idType = schema(idOrd).dataType
    val fv = fileView(name, Some(h.commitCount - 1))
      .filter(v => v.idOrd == idOrd && v.idType == idType)
      .getOrElse(return None)
    val ids = rows.map(r =>
      if (idOrd >= r.numFields || r.isNullAt(idOrd)) null
      else r.get(idOrd, idType))
    val extraIds = fv.extras.iterator.map(_.get(idOrd, idType)).toSet
    if (ids.contains(null) || ids.distinct.length != ids.length ||
        ids.exists(extraIds)) None
    else Some(GraftDeltaData(rows.map(GraftDeltaOp('I', null, _)), idOrd,
      idType, h.commits.last.count + rows.length))
  }

  /** Commit a REWRITING write (replace / truncate / overwrite /
    * dynamic-overwrite) at FILE GRANULARITY — the task-side half of
    * the CoW write story: the incoming rows were staged as parquet
    * files IN THE WRITE TASKS (`staged`), and this decides base-file
    * survival from MANIFEST METADATA (partition keys, zone maps)
    * without materializing a row on the driver:
    *   - replace / truncate: the staged files ARE the new snapshot
    *     (Spark's ReplaceData computed the surviving rows itself);
    *   - dynamic partition overwrite: base files whose partition key
    *     the incoming batch does not contain survive BY REFERENCE;
    *   - static overwrite (REPLACE WHERE): base files the zone maps
    *     PROVE hold no matching row survive by reference; the rest
    *     rewrite task-side ([[GraftParquetStore.stageRewrites]])
    *     with OCC on the head.
    * Returns false when the base shape prevents file-granular
    * treatment (a MoR delta-chain head, or spec-mixed files under a
    * dynamic overwrite) — the caller falls back to the row path,
    * which is always correct. */
  private[sources] def commitParquetRewrite(name: String,
      staged: Vector[GraftFileInfo], op: String,
      overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]],
      dynamic: Boolean, clusterFields: Array[GraftPartField],
      physSchema: StructType, branch: Option[String]): Boolean = {
    val isReplaceLike = !dynamic && overwriteFilters.isEmpty
    // snapshot under the lock; replace/truncate need no base at all
    val snap = withTableLock(name) {
      val m = GraftParquetStore.meta(name).getOrElse(return false)
      val h = historyOf(name)
      h.commits.lastOption match {
        case None => Some((h.commitCount - 1, GraftParquetData(Vector.empty, 0), m))
        case Some(p: GraftParquetData) => Some((h.commitCount - 1, p, m))
        case Some(_) if isReplaceLike =>
          // delta-chain head: a full replace still works file-granular
          // (base content is irrelevant — the snapshot swaps whole)
          Some((h.commitCount - 1, GraftParquetData(Vector.empty, 0), m))
        case Some(_) => None // MoR suffix: row path merges correctly
      }
    }
    val (expectedHead, p, m) = snap.getOrElse(return false)
    if (isReplaceLike) {
      withTableLock(name) {
        val adopted = GraftParquetStore.adoptStaged(m,
          commitCount(name), staged)
        appendLocked(name, op,
          GraftParquetData(adopted, adopted.map(_.rows).sum), branch)
      }
      return true
    }
    if (dynamic) {
      withTableLock(name) {
        val h = historyOf(name)
        if (h.commitCount - 1 != expectedHead) return false // re-read
        // legacy-spec base files key in a different domain than the
        // incoming batch's keys — only the row path compares those
        if (p.files.exists(_.specId != m.curSpecId)) return false
        val incomingKeys = staged.map(_.key).toSet
        val kept = p.files.filterNot(f => incomingKeys.contains(f.key))
        val adopted = GraftParquetStore.adoptStaged(m,
          h.commitCount, staged)
        appendLocked(name, "dynamic-overwrite",
          GraftParquetData(kept ++ adopted,
            kept.map(_.liveRows).sum + adopted.map(_.rows).sum), branch)
      }
      return true
    }
    // static overwrite: partition base files by what the stats PROVE,
    // rewrite the unproven remainder task-side, commit under OCC
    val filters = overwriteFilters.get
    val spark = org.apache.spark.sql.SparkSession.active
    val hasAll = filters.exists(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    // a file where ANY filter provably matches no row cannot contain
    // a row matching the CONJUNCTION — it survives by reference
    val (clean, candidates) =
      if (hasAll) (Vector.empty[GraftFileInfo], p.files)
      else p.files.partition(f => filters.exists(
        GraftZoneMap.skips(_, f, physSchema)))
    // each unproven file keeps the rows that do NOT match the overwrite
    // predicate (a file with no survivor is dropped); a pre-evolution
    // row is tested with its exists-defaults, as a scan reads it
    val rewritten =
      if (hasAll) Vector.empty[GraftFileInfo]
      else GraftParquetStore.stageRewrites(spark, m,
        candidates.map(GraftParquetStore.RewriteUnit.of)) { rows =>
        val preds = filters.flatMap(GraftFilterEval.compile(_, physSchema))
        require(preds.length == filters.length,
          "overwrite rewrite: a predicate stopped compiling between " +
            "canOverwrite and the task — refusing a partial delete set")
        rows.filter(r => !preds.forall(_(r)))
      }.flatten
    withTableLock(name) {
      refuseIfMoved(name, "INSERT OVERWRITE", expectedHead, rewritten)
      val h = historyOf(name)
      val newV = h.commitCount
      val adopted = GraftParquetStore.adoptStaged(m, newV,
        rewritten ++ staged)
      val files = clean ++ adopted
      appendLocked(name, "overwrite",
        GraftParquetData(files,
          clean.map(_.liveRows).sum + adopted.map(_.rows).sum), branch)
    }
    true
  }

  /** CROSS-TABLE ATOMIC COMMIT (the warehouse BEGIN…COMMIT over
    * governed tables): commit one staged append per table as ONE
    * locked step — every table's head is OCC-verified against the
    * version the transaction read BEFORE anything commits, so a
    * concurrent single-table commit forces the WHOLE transaction to
    * refuse loudly (retry) and a failure commits NEITHER side; on
    * success both commits happen inside the same lock hold, so no
    * reader (every read also takes the lock) can observe one side
    * without the other. CRASH ATOMICITY comes from a warehouse-level
    * INTENT MARKER: once every participant's log entry is rendered,
    * the marker (carrying all of them) writes atomically BEFORE any
    * per-table entry — the marker rename is the transaction's single
    * durable decide point. A crash after it rolls FORWARD on the next
    * attach ([[GraftLog.recoverPendingTxns]] re-writes the missing
    * entries — the data files were adopted before the marker); a
    * crash before it leaves nothing but unreferenced staged files. */
  /** test seam: crash the process (throw) after the FIRST per-table
    * log entry lands — the window the marker protocol exists for. */
  private[graft] var failTxnAfterFirstLogWrite = false

  /** One table's write inside a cross-table transaction. */
  private[graft] sealed trait TxnWrite { def name: String }
  /** task-staged parquet files appended onto the table's head. */
  private[graft] final case class TxnStagedAppend(name: String,
      files: Vector[GraftFileInfo], rows: Long) extends TxnWrite
  /** a PRE-COMPUTED post-state manifest (a DV DELETE's swap): built
    * outside the lock against the begin snapshot; the head OCC check
    * makes basing on it safe. */
  private[graft] final case class TxnManifest(name: String,
      files: Vector[GraftFileInfo], count: Int, op: String)
    extends TxnWrite

  /** Stage the DELETE side of a READ-WRITE cross-table transaction:
    * compute the post-delete manifest (zone-map prescreen + task-side
    * DV bitmaps — the exact machinery of the metadata DELETE path)
    * against the CURRENT head, outside any lock. The returned
    * [[TxnManifest]] participates in [[commitTxn]] under the same
    * intent marker as the appends; the head OCC check refuses the
    * whole transaction if anything committed since. All-or-nothing on
    * the predicate: a filter that fails to translate refuses loudly
    * (a dropped conjunct would delete a SUPERSET). */
  private[graft] def stageTxnDelete(
      spark: org.apache.spark.sql.SparkSession, name: String,
      condition: String): TxnWrite = {
    val m = GraftParquetStore.meta(name).getOrElse(
      throw new IllegalArgumentException(
        s"transaction: $name is not parquet-backed"))
    require(sessionWapBranch.isEmpty && mainAtChainHead(name),
      s"transaction: $name has staged branch commits — publish first")
    val fv = fileView(name, None).getOrElse(plainView(Vector.empty))
    require(fv.extras.isEmpty && fv.deletedIds.isEmpty,
      s"transaction: $name has a merge-on-read delta head — " +
        "OPTIMIZE (compact) it before a transactional DELETE")
    // resolve the SQL predicate against the table and translate every
    // conjunct to a source filter — Spark's own analyzer does the
    // name resolution, so the predicate means exactly what a DELETE
    // statement's WHERE would mean
    val analyzed = spark.table(name).where(condition)
      .queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"transaction: could not resolve DELETE predicate '$condition'"))
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      conjuncts(cond).map { c =>
        toSourceFilter(c)
          .filter(f => GraftFilterEval.compile(f, m.schema).isDefined)
          .getOrElse(throw new IllegalArgumentException(
            s"transaction: DELETE predicate conjunct '${c.sql}' does " +
              "not translate to an exact file-level filter — use the " +
              "single-table DELETE statement for this shape"))
      }.toArray
    // zone-map prescreen, then task-side bitmaps over the remainder
    val candidates = fv.files.filter(f =>
      !filters.exists(GraftZoneMap.skips(_, f, m.schema)))
    val dvs = GraftParquetStore.computeDvs(spark, m.schema,
      candidates, filters)
    var removedRows = 0L
    val files = fv.files.flatMap { f =>
      dvs.get(f.path) match {
        case None => Some(f)
        case Some(d) if d.card == f.rows =>
          removedRows += f.liveRows; None
        case Some(d) =>
          removedRows += d.card - f.dv.map(_.card).getOrElse(0)
          Some(f.copy(dv = Some(d)))
      }
    }
    val count =
      (fv.files.map(_.liveRows.toLong).sum - removedRows).toInt
    TxnManifest(name, files, count, "txn-delete")
  }

  /** EXACT catalyst → source-filter translation for the transactional
    * DELETE's predicate conjuncts — only shapes whose file-level
    * semantics are identical to row-level Spark semantics translate
    * (attribute-vs-literal comparisons, IN, NULL tests, NOT/OR
    * compositions, string prefix/suffix/contains). Anything else
    * returns None and the transaction refuses loudly — a partial
    * translation would delete a SUPERSET. Hand-rolled DELIBERATELY:
    * Spark's own DataSourceStrategy.translateFilter is
    * protected[sql] (inaccessible outside Spark's namespace), and
    * every accepted shape is re-vetted by GraftFilterEval.compile at
    * the call site, so a divergence can only REFUSE a valid
    * predicate, never accept a wrong one. */
  private def toSourceFilter(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.{sources => f}
    e match {
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        Some(f.EqualTo(a.name, convertToScala(v, dt)))
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        Some(f.EqualTo(a.name, convertToScala(v, dt)))
      case EqualNullSafe(a: AttributeReference, Literal(v, dt)) =>
        Some(f.EqualNullSafe(a.name, convertToScala(v, dt)))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        Some(f.GreaterThan(a.name, convertToScala(v, dt)))
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        Some(f.LessThan(a.name, convertToScala(v, dt)))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        Some(f.GreaterThanOrEqual(a.name, convertToScala(v, dt)))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        Some(f.LessThanOrEqual(a.name, convertToScala(v, dt)))
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        Some(f.LessThan(a.name, convertToScala(v, dt)))
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        Some(f.GreaterThan(a.name, convertToScala(v, dt)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        Some(f.LessThanOrEqual(a.name, convertToScala(v, dt)))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        Some(f.GreaterThanOrEqual(a.name, convertToScala(v, dt)))
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        Some(f.In(a.name, vs.map { case Literal(v, dt) =>
          convertToScala(v, dt) }.toArray))
      case InSet(a: AttributeReference, hset) =>
        Some(f.In(a.name,
          hset.map(convertToScala(_, a.dataType)).toArray))
      case IsNull(a: AttributeReference) => Some(f.IsNull(a.name))
      case IsNotNull(a: AttributeReference) => Some(f.IsNotNull(a.name))
      case StartsWith(a: AttributeReference, Literal(v, dt)) =>
        Some(f.StringStartsWith(a.name,
          convertToScala(v, dt).asInstanceOf[String]))
      case EndsWith(a: AttributeReference, Literal(v, dt)) =>
        Some(f.StringEndsWith(a.name,
          convertToScala(v, dt).asInstanceOf[String]))
      case Contains(a: AttributeReference, Literal(v, dt)) =>
        Some(f.StringContains(a.name,
          convertToScala(v, dt).asInstanceOf[String]))
      case Not(inner) => toSourceFilter(inner).map(f.Not)
      case Or(l, r) =>
        for (lf <- toSourceFilter(l); rf <- toSourceFilter(r))
          yield f.Or(lf, rf)
      case And(l, r) =>
        for (lf <- toSourceFilter(l); rf <- toSourceFilter(r))
          yield f.And(lf, rf)
      case _ => None
    }
  }

  /** Atomically capture the PUBLISHED head version of each table —
    * the version vector a snapshot-isolated multi-table READ pins.
    * Runs under the warehouse WRITE lock: single-table commits hold
    * the read lock and [[commitTxn]] holds this same write lock, so
    * the captured vector can never interleave any commit — a
    * concurrent multi-table transaction is either entirely before the
    * capture (every participant shows its post-state) or entirely
    * after (every participant shows its pre-state), never a mix. The
    * read twin of the transaction's intent marker. O(tables) map
    * lookups, zero I/O, held for microseconds. */
  private[graft] def snapshotHeads(tables: Seq[String]): Map[String, Int] =
    withGlobalLock {
      tables.map { t =>
        val h = historyOf(t)
        require(h.commits.nonEmpty,
          s"readTransaction: $t has no commits to pin")
        t -> h.mainHead
      }.toMap
    }

  private[graft] def commitTxn(parts: Seq[TxnWrite],
      expectedHeads: Map[String, Int]): Map[String, Int] = withGlobalLock {
    def cleanup(): Unit = parts.foreach {
      case TxnStagedAppend(_, files, _) =>
        GraftParquetStore.discardStaged(files)
      case _: TxnManifest => () // references live table files only
    }
    // verify EVERY head first — nothing commits unless all pass
    parts.foreach { part =>
      val name = part.name
      val head = commitCount(name) - 1
      if (expectedHeads.getOrElse(name, -2) != head) {
        cleanup()
        throw new IllegalStateException(
          s"transaction conflict: $name is at v$head, the " +
            s"transaction read v${expectedHeads.getOrElse(name, -2)} " +
            "— retry the transaction")
      }
      val h = historyOf(name)
      if (!h.commits.lastOption.forall(_.isInstanceOf[GraftParquetData])) {
        cleanup()
        throw new IllegalStateException(
          s"transaction: $name has a merge-on-read delta head — " +
            "OPTIMIZE (compact) it before a transactional write")
      }
      // cross-process tails verify BEFORE any adoption or sequence
      // allocation — a conflict here costs nothing. STRICT (no mtime
      // fast path): a transaction conflict surfacing after the intent
      // marker would strand a roll-forward against a foreign-owned
      // slot, so this pre-verify is load-bearing.
      try GraftLog.verifyTail(name, strict = true)
      catch { case t: Throwable => cleanup(); throw t }
    }
    // adopt + compute every table's post-state and RENDER its log
    // entry; nothing is visible yet. A failure mid-render (a foreign
    // process won a sequence slot in the residual race window) EVICTS
    // every participant's in-memory state AND counter: a bare counter
    // re-seed would leave the stale History in place and let a retry
    // silently commit a fork on top of the foreign entry — the evict
    // forces the next touch to replay the disk truth, so the retry's
    // begin-snapshot sees the foreign commit and the normal OCC
    // head-check refuses or proceeds correctly. (Already-allocated
    // sequence slots would otherwise also stay as permanent log gaps.)
    val planned = try {
      parts.map { part =>
        val name = part.name
        val m = GraftParquetStore.meta(name).get
        val h = historyOf(name)
        val (op, data) = part match {
          case TxnStagedAppend(_, files, rows) =>
            val adopted =
              GraftParquetStore.adoptStaged(m, h.commitCount, files)
            ("txn-append", h.commits.lastOption match {
              case Some(p: GraftParquetData) =>
                GraftParquetData(p.files ++ adopted,
                  p.count + rows.toInt)
              case _ => GraftParquetData(adopted, rows.toInt)
            })
          case TxnManifest(_, files, count, o) =>
            (o, GraftParquetData(files, count))
        }
        val now = math.max(System.currentTimeMillis(),
          h.times.lastOption.map(_ + 1).getOrElse(Long.MinValue))
        val newV = h.commitCount
        val rendered = GraftLog.renderCommit(name, newV, op,
          now, data, h.commits.lastOption,
          h.branches + ("main" -> newV), h.tags,
          strictVerify = true)
        (name, op, data, now, rendered)
      }
    } catch {
      case t: Throwable =>
        cleanup() // not-yet-adopted staged files (no-op for adopted)
        parts.foreach { s =>
          // (keepEpochs: re-replay eviction, the ledger is not
          // log-derived state)
          evict(s.name, keepEpochs = true)
        }
        throw t
    }
    // the DECIDE POINT: one atomic marker rename carrying every
    // rendered entry — from here the transaction always completes
    val marker = GraftLog.writeTxnMarker(
      java.util.UUID.randomUUID().toString,
      planned.flatMap(_._5))
    // apply EVERY table in memory FIRST (pure data-structure work —
    // readers never see a half-applied transaction), THEN write the
    // per-table entries. An IO failure mid-writes leaves the process
    // CONSISTENT (all tables applied) and the MARKER in place, so the
    // next attach — or the next process — rolls the missing entries
    // forward; the marker is only retired after every entry landed.
    planned.foreach { case (name, op, data, now, _) =>
      val firstBefore = historyOf(name).firstRetained
      appendLocked(name, op, data, logIt = false,
        atTime = Some(now))
      // a txn commit that crossed the retention cap checkpoints like
      // any other trimming commit (the entry alone would replay an
      // untrimmed window; the checkpoint subsumes the pending entry)
      if (historyOf(name).firstRetained != firstBefore)
        GraftLog.checkpoint(name)
    }
    var wrote = 0
    var failure: Option[Throwable] = None
    planned.foreach { case (_, _, _, _, rendered) =>
      rendered.foreach { case (target, body) =>
        try {
          GraftLog.writeRendered(target, body)
          wrote += 1
        } catch {
          case t: Throwable if failure.isEmpty => failure = Some(t)
          case _: Throwable => ()
        }
        // the test seam models a PROCESS DEATH, not an IO error —
        // abort the loop outright (the marker stays; recovery must
        // roll the remaining entries forward)
        if (failTxnAfterFirstLogWrite && wrote == 1)
          throw new IllegalStateException(
            "injected crash after first transaction log write")
      }
    }
    failure match {
      case Some(t) => throw t // marker stays — roll-forward finishes it
      case None =>
        marker.delete()
        ()
    }
    // the committed head per table, read UNDER the lock — a racing
    // commit after release must not be reported as this transaction's
    planned.map { case (name, _, _, _, _) =>
      name -> (commitCount(name) - 1)
    }.toMap
  }

  /** Commit a PRE-BUILT file manifest (a deletion-vector DELETE: same
    * paths, some entries re-swapped with bitmaps, some dropped) under
    * optimistic concurrency: the caller computed the manifest OUTSIDE
    * the lock against `expectedHead` (the DV job reads files without
    * blocking other commits), so the swap must re-verify the head is
    * still that version — a concurrent commit in the window would
    * make the manifest stale, and silently basing on it would lose
    * the concurrent writer's rows. Loud refusal; the statement can be
    * retried against the new head. */
  private[graft] def commitParquetManifest(name: String,
      files: Vector[GraftFileInfo], count: Int, op: String,
      branch: Option[String], expectedHead: Int): Unit =
    withTableLock(name) {
      val h = historyOf(name)
      val head = h.commitCount - 1
      if (head != expectedHead)
        throw new IllegalStateException(
          s"$name: concurrent commit detected — this DELETE resolved " +
            s"version $expectedHead but the head is now $head; retry " +
            "the statement")
      appendLocked(name, op, GraftParquetData(files, count), branch)
    }

  /** is the published (main) pointer at the chain head? False while a
    * WAP branch holds staged commits above main — states where a
    * manifest computed from main must not commit. */
  private[sources] def mainAtChainHead(name: String): Boolean = {
    val h = historyOf(name)
    h.mainHead == h.commitCount - 1
  }

  /** every retained commit is a plain parquet manifest — the
    * precondition for type widening (MoR delta op rows were decoded
    * under the narrow type and merge at read). */
  private[sources] def retainedAllParquet(name: String): Boolean =
    historyOf(name).commits.forall(_.isInstanceOf[GraftParquetData])

  /** apply a TYPE WIDENING to the retained in-memory state: lift
    * every retained manifest's zone-map stats for `ord` into the
    * widened domain (Int→Long / Float→Double are lossless) and drop
    * caches holding rows decoded under the narrow type. Runs under
    * the table lock; the caller checkpoints right after, so the
    * on-disk log is post-widen-only too. */
  private[sources] def applyWiden(name: String, ord: Int,
      to: org.apache.spark.sql.types.DataType): Unit =
    withTableLock(name) {
      def up(v: Any): Any = (to, v) match {
        case (_, null) => null
        case (org.apache.spark.sql.types.LongType,
          i: java.lang.Integer) => i.longValue()
        case (org.apache.spark.sql.types.DoubleType,
          f: java.lang.Float) => f.doubleValue()
        case _ => v
      }
      updateIfPresent(name) { st =>
        val commits2 = st.history.commits.map {
          case p: GraftParquetData =>
            GraftParquetData(p.files.map { f =>
              f.stats.get(ord) match {
                case Some(s) => f.copy(stats = f.stats.updated(ord,
                  GraftColStats(up(s.min), up(s.max), s.nulls)))
                case None => f
              }
            }, p.count)
          case other => other
        }
        st.copy(history = st.history.copy(commits = commits2),
          resolved = new TrieMap(), changeData = new TrieMap())
      }
    }

  /** test seam: runs between a maintenance job's task-side staging
    * and its commit attempt — lets a spec land a deterministic
    * interleaved commit inside the OCC window. */
  private[graft] var maintenanceStallHook: Option[() => Unit] = None

  /** (schema, partition-spec history, dv mode) — the metadata surface
    * a foreign commit could have evolved under a rewrite job. */
  private def metaSig(m: GraftParquetStore.Meta): (String, String, Boolean) =
    (m.schema.json,
      m.specs.map(_.map(_.toString).mkString(",")).mkString(";") +
        "|" + m.partFields.map(_.toString).mkString(","),
      m.dvMode)
  /** both registrations present and of one schema, spec and DV mode */
  private def sameMeta(a: Option[GraftParquetStore.Meta],
      b: Option[GraftParquetStore.Meta]): Boolean =
    a.zip(b).exists { case (x, y) => metaSig(x) == metaSig(y) }

  /** Commit a MAINTENANCE REWRITE (binpack / purge-dv / zorder) under
    * Iceberg `rewrite_data_files` conflict semantics: the rewrite
    * LANDS as long as every file it rewrote is still live — with
    * identical content signature — in the head it commits onto, and
    * no schema/spec/dv-mode evolution interleaved. A foreign APPEND
    * racing the rewrite is then compatible by construction (it only
    * added files the rewrite never read); a foreign DELETE, DV swap,
    * competing compaction or ALTER breaks a signature and keeps the
    * loud refusal. Covers BOTH conflict surfaces: an in-memory head
    * that moved past the job's snapshot re-classifies against the
    * current head, and a cross-process foreign log entry
    * (GraftConcurrentCommitException out of the commit) peeks the
    * disk truth, classifies, installs and re-attempts — the
    * streaming-ingest-plus-scheduled-OPTIMIZE pair, the standard
    * production shape, no longer refuses continuously.
    *
    * `rewritten`: path → [[fileSig]] of every file the job read and
    * replaced, captured at snapshot time. `build(head, adopted)`:
    * the manifest to commit given the head it lands on and the
    * adopted output files (called per attempt — adoption re-runs per
    * attempt because the version number moves). */
  private def commitMaintenance(name: String, op: String,
      baseSig: (String, String, Boolean),
      rewritten: Map[String, String], expectedHead: Int,
      staged0: Vector[GraftFileInfo],
      build: (GraftParquetData, Vector[GraftFileInfo]) => GraftParquetData)
      : Unit = {
    var staged = staged0
    var attempts = 0
    def cleanup(): Unit = GraftParquetStore.discardStaged(staged)
    def refuse(head: Int): Nothing = {
      cleanup()
      throw new IllegalStateException(
        s"$name: concurrent commit detected — this ${op.toUpperCase} " +
          s"rewrote against version $expectedHead but the head " +
          s"(now v$head) no longer carries every rewritten file " +
          "unchanged (a delete/rewrite/evolution interleaved); " +
          "retry the statement")
    }
    def liveOk(m: GraftParquetStore.Meta, pq: GraftParquetData): Boolean = {
      val live = pq.files.iterator.map(f => f.path -> fileSig(f)).toMap
      metaSig(m) == baseSig &&
        rewritten.forall { case (p, s) => live.get(p).contains(s) }
    }
    var done = false
    while (!done) {
      done = withTableLock(name) {
        val h = historyOf(name)
        val m = GraftParquetStore.meta(name).getOrElse(refuse(-1))
        val head: GraftParquetData = h.commits.lastOption match {
          case Some(pq: GraftParquetData)
            if h.commitCount - 1 == expectedHead || liveOk(m, pq) => pq
          case _ => refuse(h.commitCount - 1)
        }
        val adopted = GraftParquetStore.adoptStaged(m, h.commitCount,
          staged)
        staged = adopted
        try {
          appendLocked(name, op, build(head, adopted))
          true
        } catch {
          case e: GraftConcurrentCommitException =>
            attempts += 1
            if (attempts > MaxAppendRetries) { cleanup(); throw e }
            // classify on the disk truth appendLocked installed (the
            // commitParquetAppend discipline)
            val ok = e.installed.exists { st =>
              (st.meta, st.history.commits.lastOption) match {
                case (Some(m), Some(pq: GraftParquetData)) => liveOk(m, pq)
                case _ => false
              }
            }
            if (!ok) { cleanup(); throw e }
            false // loop: re-attempt on the installed foreign head
        }
      }
    }
  }

  /** PURGE deletion vectors (the OPTIMIZE flavor a DV delete calls
    * for): rewrite ONLY the bitmap-carrying files as fresh live-row
    * files and commit the swapped manifest — DV-free entries survive
    * by reference, reads are unchanged, and the per-record bit test
    * leaves the scan path. The rewrite runs TASK-SIDE (one Spark task
    * per bitmap-carrying file stages its replacement; the driver sees
    * only metadata — [[GraftParquetStore.stageRewrites]]) outside
    * the store lock, then commits under OPTIMISTIC CONCURRENCY: the
    * swap re-verifies the head is still the version the job read —
    * the same OCC contract as the DV-computation commit it reverses.
    * Returns the number of files rewritten (0 = nothing carried a DV;
    * idempotent, no commit). */
  private[graft] def purgeDvs(name: String,
      spark: org.apache.spark.sql.SparkSession): Int = {
    // snapshot the head manifest OUTSIDE the lock — the rewrite job
    // must not block concurrent commits
    val (expectedHead, p, m) = withTableLock(name) {
      val h = historyOf(name)
      h.commits.lastOption match {
        case Some(pq: GraftParquetData) if pq.files.exists(_.dv.isDefined) =>
          val meta = GraftParquetStore.meta(name).getOrElse(return 0)
          (h.commitCount - 1, pq, meta)
        case _ => return 0
      }
    }
    val candidates = p.files.filter(_.dv.isDefined)
    val staged = GraftParquetStore.stageRewrites(spark, m,
      candidates.map(GraftParquetStore.RewriteUnit.of))(identity)
    maintenanceStallHook.foreach(_())
    commitMaintenance(name, "purge-dv", metaSig(m),
      candidates.iterator.map(f => f.path -> fileSig(f)).toMap,
      expectedHead, staged.flatten,
      (head, adopted) => {
        // each candidate swaps for its staged live-row file (adopted in
        // staging order), or for none when no row was live
        val next = adopted.iterator
        val swap = candidates.zip(staged).map { case (f, out) =>
          f.path -> out.map(_ => next.next())
        }.toMap
        GraftParquetData(head.files.flatMap(f =>
          swap.getOrElse(f.path, Vector(f))), head.count)
      })
    candidates.length
  }

  /** BIN-PACKING compaction (OPTIMIZE's small-file rewrite — Delta's
    * OPTIMIZE binpack, Iceberg's rewrite_data_files): merge files
    * holding fewer than `targetRows` live rows into files of up to
    * `targetRows`, within (partition key, spec, write-time width)
    * groups so pruning and evolution-on-read semantics are unchanged;
    * files at or above the target — and DV-carrying files (purge
    * first) — survive BY REFERENCE. Content-neutral by construction;
    * old files stay owned by older versions until retention GC.
    * Returns the net file-count reduction (0 = nothing to merge, no
    * commit — idempotent). The small-file problem this solves is THE
    * operational cost of streaming ingest at 100 TB: a thousand
    * per-epoch files become a handful, and every later scan plans
    * O(files) less work. */
  private[graft] def binPack(name: String, targetRows: Int,
      spark: org.apache.spark.sql.SparkSession): Int = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    // snapshot OUTSIDE the lock; merge task-side; commit under OCC —
    // same three-phase shape as the DV purge above. Each (partition
    // key, spec, width) group is one unit of the rewrite job
    // ([[GraftParquetStore.stageRewrites]]); the driver never holds a
    // row.
    val (expectedHead, p, m) = withTableLock(name) {
      val h = historyOf(name)
      h.commits.lastOption match {
        case Some(pq: GraftParquetData) =>
          val meta = GraftParquetStore.meta(name).getOrElse(return 0)
          (h.commitCount - 1, pq, meta)
        case _ => return 0
      }
    }
    val mergeable = p.files.filter(f =>
      f.dv.isEmpty && f.rows < targetRows)
    val groups = mergeable
      .groupBy(f => (f.key, f.specId, f.numCols))
      .filter(_._2.length >= 2)
      .toVector.sortBy(_._2.head.path)
      .map { case ((key, specId, width), fs) =>
        GraftParquetStore.RewriteUnit(fs, key, width, specId)
      }
    if (groups.isEmpty) return 0
    // a DECLARED SORT ORDER survives compaction: the group's rows merge
    // SORTED, so the packed output files keep contiguous key ranges
    // and zone-map skipping on the sort key stays alive without a
    // manual ZORDER call (Iceberg sort orders)
    val ords = m.sortOrds
    val dts = ords.map(m.schema(_).dataType)
    val staged = GraftParquetStore.stageRewrites(spark, m, groups,
      targetRows) { rows =>
      if (ords.isEmpty) rows
      else rows.map(_.copy()).toArray.sortWith { (a, b) =>
        var i = 0
        var c = 0
        while (c == 0 && i < ords.length) {
          val o = ords(i)
          val an = a.isNullAt(o); val bn = b.isNullAt(o)
          c = if (an && bn) 0 else if (an) -1 else if (bn) 1
            else GraftZoneMap.cmpStat(dts(i),
              a.get(o, dts(i)), b.get(o, dts(i)))
          i += 1
        }
        c < 0
      }.iterator
    }.flatten
    maintenanceStallHook.foreach(_())
    val mergedFiles = groups.flatMap(_.files)
    val mergedAway = mergedFiles.map(_.path).toSet
    commitMaintenance(name, "binpack", metaSig(m),
      mergedFiles.iterator.map(f => f.path -> fileSig(f)).toMap,
      expectedHead, staged,
      (head, adopted) => GraftParquetData(
        head.files.filterNot(f => mergedAway.contains(f.path)) ++ adopted,
        head.count))
    mergedAway.size - staged.length
  }

  /** the WAP target branch of the active session, if any — the
    * `graft.wap.branch` session conf (the spark.wap.branch pattern):
    * while set, batch commits land on that branch and main stays
    * where it is until publish. Read DRIVER-SIDE at commit time. */
  private[sources] def sessionWapBranch: Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get("graft.wap.branch", null)))
      .filter(_.nonEmpty)

  /** Compaction (OPTIMIZE): materialize the current base+op-log chain
    * into ONE full snapshot commit — reads are unchanged (same rows,
    * same objects), but the read path stops walking the delta chain
    * (subsequent scans resolve O(1) from the compacted head) and
    * expiring the pre-compaction versions no longer loses anything a
    * reader needs. Returns the number of RETAINED delta commits the
    * compaction subsumed — 0 means there was nothing to compact and NO
    * commit is made (idempotent, like OPTIMIZE on an already-compacted
    * table). */
  private[graft] def compact(name: String,
      spark: org.apache.spark.sql.SparkSession): Int = {
    // what the CURRENT read path walks: the delta suffix after the
    // last full commit (earlier deltas sit under a full snapshot
    // already and cost nothing at read) — zero suffix = nothing to
    // compact, and a just-compacted table reports exactly that
    val (expectedHead, deltas) = withTableLock(name) {
      val h = historyOf(name)
      val lastFull = h.commits.lastIndexWhere(c =>
        !c.isInstanceOf[GraftDeltaData] &&
          !c.isInstanceOf[GraftEqDeleteData])
      val d = h.commits.size - 1 - lastFull
      if (d == 0) return 0
      (h.commitCount - 1, d)
    }
    // TASK-SIDE: each base file's live rows (the folded delta deletes
    // applied as the file decodes — exactly what the MoR scan does)
    // re-stage where the task runs; only the O(changes) op-log extras
    // pass through the driver. The resolveRel materialization below
    // remains for a chain [[fileView]] cannot fold.
    fileView(name, None).foreach { fv =>
      return compactTaskSide(name, spark, fv, expectedHead, deltas)
    }
    withTableLock(name) {
      refuseIfMoved(name, "OPTIMIZE", expectedHead, Vector.empty)
      val h = historyOf(name)
      val current = resolveRel(name, h, h.commits.size - 1)
      appendLocked(name, "compact", GraftFullData(current))
      deltas
    }
  }

  private def compactTaskSide(name: String,
      spark: org.apache.spark.sql.SparkSession,
      fv: GraftFileView, expectedHead: Int, deltas: Int): Int = {
    val m = GraftParquetStore.meta(name).get
    val deleted: Set[Any] = fv.deletedIds.toSet
    val idOrd = fv.idOrd
    val idType = fv.idType
    val staged = GraftParquetStore.stageRewrites(spark, m,
      fv.files.map(GraftParquetStore.RewriteUnit.of)) { rows =>
      if (deleted.isEmpty || idOrd < 0) rows
      else rows.filter(r => idOrd >= r.numFields ||
        !deleted.contains(r.get(idOrd, idType)))
    }.flatten
    // op-log extras are O(changes) driver rows by definition — stage
    // them grouped by partition key so pruning semantics hold
    val extraFiles =
      if (fv.extras.isEmpty) Vector.empty[GraftFileInfo]
      else {
        val keyProj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(m.partFields.map(
            GraftPartField.keyExpr(_, m.schema)).toIndexedSeq)
        fv.extras.toVector
          .groupBy(r =>
            if (m.partFields.isEmpty) InternalRow.empty
            else keyProj(r).copy(): InternalRow)
          .toVector.sortBy(_._1.toString)
          .map { case (key, rs) =>
            GraftParquetStore.stageRewriteFile(m, rs.iterator, key,
              m.schema.length, m.curSpecId)
          }
      }
    withTableLock(name) {
      refuseIfMoved(name, "OPTIMIZE", expectedHead, staged ++ extraFiles)
      val adopted = GraftParquetStore.adoptStaged(m, commitCount(name),
        staged ++ extraFiles)
      appendLocked(name, "compact",
        GraftParquetData(adopted, adopted.map(_.rows).sum))
    }
    deltas
  }

  /** Refuse a commit whose rewrite was computed against `expectedHead`
    * once the head has moved: the staged files are deleted and the
    * statement fails loudly, to be retried against the new head. MUST
    * run under the table lock. */
  private def refuseIfMoved(name: String, what: String,
      expectedHead: Int, staged: Vector[GraftFileInfo]): Unit = {
    val head = commitCount(name) - 1
    if (head != expectedHead) {
      GraftParquetStore.discardStaged(staged)
      throw new IllegalStateException(
        s"$name: concurrent commit detected — this $what rewrote " +
          s"against version $expectedHead but the head is now $head; " +
          "retry the statement")
    }
  }

  /** RESTORE (rollback): make version `v`'s content the CURRENT state
    * by appending a new commit that REFERENCES it — history is
    * preserved (the bad commits stay time-travelable inside retention)
    * and on a parquet-backed table the restore is METADATA-ONLY: the
    * new commit re-references version v's file manifest, no data
    * moves (Delta's RESTORE TABLE ... TO VERSION shape). Returns the
    * new version number. */
  private[graft] def restore(name: String, v: Int): Int =
    withTableLock(name) {
      val h = historyOf(name)
      require(v >= 0 && v < h.commitCount,
        s"version $v of $name does not exist (${h.commitCount} commits)")
      require(v >= h.firstRetained,
        s"version $v of $name has expired — cannot restore to it")
      val data: GraftCommitInput = h.commits(v - h.firstRetained) match {
        case p: GraftParquetData => p // manifest re-reference, no I/O
        case _ => // delta / eq-delete: materialize the merged state once
          GraftFullData(resolveRel(name, h, v - h.firstRetained))
      }
      appendLocked(name, "restore", data)
      h.commitCount
    }

  /** SHALLOW CLONE (Delta's CLONE / the Iceberg snapshot-ref export):
    * make `dst` a brand-new table whose v0 commit REFERENCES `src`'s
    * current published content, METADATA-ONLY — the clone commit
    * re-lists the source's file manifest verbatim (zero rows read,
    * zero bytes copied; at 100 TB a clone costs one manifest write).
    * From that instant the two tables evolve
    * independently: the clone's own commits land under its OWN
    * directory (copy-on-write at file granularity). Shared files are
    * GC-safe by construction — every delete sweep ([[trimLocked]],
    * [[reset]]) consults EVERY table's retained manifests via
    * [[fileRefsExcept]] and never deletes a still-referenced file, so
    * source-side VACUUM/retention/DROP cannot corrupt the clone (the
    * hazard a real lake format documents on shallow clones; the
    * global manifest sweep is what removes it here). A delta (MoR)
    * head materializes once — the clone commit must denote a resolved
    * snapshot. Caller must have registered `dst`'s catalog definition
    * (and parquet meta via `registerLike`) first. Returns the source
    * version the clone captured. */
  private[graft] def cloneTable(src: String, dst: String): Int =
    withGlobalLock {
      val h = historyOf(src)
      require(h.commits.nonEmpty, s"cannot clone $src: it has no commits")
      require(historyOf(dst).commits.isEmpty,
        s"clone target $dst already has commits")
      val headRel = h.mainHead - h.firstRetained
      val data: GraftCommitInput = h.commits(headRel) match {
        case p: GraftParquetData => p // manifest re-reference: zero copy
        case _ => // delta / eq-delete head materializes once
          GraftFullData(resolveRel(src, h, headRel))
      }
      appendLocked(dst, "clone", data)
      h.mainHead
    }

  /** OPTIMIZE ZORDER BY (colA, colB): rewrite the current snapshot
    * sorted by the Morton interleave of the two columns' min/max-
    * normalized values, so the output files hold z-contiguous ranges
    * and ZONE MAPS skip files for predicates on EITHER column — the
    * multi-dimensional layout optimization (Delta's OPTIMIZE ZORDER).
    * Integral columns. Returns the new version number.
    *
    * Distributed throughout: a merge-on-read head is first folded into
    * a file manifest by [[compact]] (task-side wherever [[fileView]]
    * folds the chain; one content-neutral `compact` version before the
    * `zorder` one). Bounds come from the
    * MANIFEST's zone-map stats (O(files) driver metadata, no row
    * read); a bounded `takeSample` of task-computed z-values picks
    * quantile cut points so output files size evenly; the rewrite
    * itself is a single shuffle — each row routes to its (partition
    * key, spec, width, z-bucket) group and ONE TASK PER GROUP stages
    * one z-contiguous file. The driver sees file metadata only; commit
    * is OCC against the head the job read. This is the 100 TB OPTIMIZE
    * ZORDER shape: one pass over the data, zone maps skip on either
    * dimension afterwards. */
  private[graft] def zorder(name: String, schema: StructType,
      ordA: Int, ordB: Int,
      spark: org.apache.spark.sql.SparkSession): Int = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    Seq(ordA, ordB).foreach { o =>
      schema(o).dataType match {
        case LongType | IntegerType =>
        case other => throw new IllegalArgumentException(
          s"ZORDER column must be integral, got $other")
      }
    }
    // a merge-on-read head folds into a file manifest first
    compact(name, spark)
    val (expectedHead, p, m) = withTableLock(name) {
      val h = historyOf(name)
      h.commits.lastOption match {
        case Some(pq: GraftParquetData) =>
          (h.commitCount - 1, pq, GraftParquetStore.meta(name).get)
        case None => throw new IllegalArgumentException(
          s"$name has no snapshot to rewrite")
        case Some(_) => throw new IllegalStateException(
          s"$name: concurrent commit detected — a merge-on-read " +
            "commit landed on the compacted head; retry the statement")
      }
    }
    if (p.files.isEmpty) return expectedHead // nothing to lay out
    // min/max scale each dimension to the full 16-bit range — from the
    // manifest stats (wider-than-data bounds only soften the curve,
    // never break it; a slot absent from every file's stats reads 0)
    def boundsOf(o: Int): (Long, Long) = {
      val dt = schema(o).dataType
      def asL(v: Any): Long = dt match {
        case LongType => v.asInstanceOf[Long]
        case _ => v.asInstanceOf[Int].toLong
      }
      val mins = p.files.flatMap(_.stats.get(o)).filter(_.min != null)
      if (mins.isEmpty) (0L, 0L)
      else (mins.map(s => asL(s.min)).min, mins.map(s => asL(s.max)).max)
    }
    val (alo, ahi) = boundsOf(ordA)
    val (blo, bhi) = boundsOf(ordB)
    val aDt = schema(ordA).dataType
    val bDt = schema(ordB).dataType
    def zOf(r: InternalRow): Long = {
      def norm(o: Int, dt: org.apache.spark.sql.types.DataType,
          lo: Long, hi: Long): Long =
        if (o >= r.numFields || r.isNullAt(o)) 0L
        else {
          val x = dt match {
            case LongType => r.getLong(o)
            case _ => r.getInt(o).toLong
          }
          (x - lo) * 65535L / math.max(hi - lo, 1L)
        }
      val a = norm(ordA, aDt, alo, ahi)
      val b = norm(ordB, bDt, blo, bhi)
      var out = 0L; var i = 0
      while (i < 16) {
        out |= ((a >> i) & 1L) << (2 * i)
        out |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      out
    }
    val files = p.files
    val nPar = math.min(files.length,
      math.max(1, spark.sparkContext.defaultParallelism * 2))
    val rows = spark.sparkContext.parallelize(files, nPar)
      .flatMap(f => GraftParquetStore
        .readFile(f, m.schema, Array.range(0, f.numCols))
        .map(r => (f.key, f.specId, f.numCols, r.copy())))
    // quantile cut points from a bounded sample (≤ 4096 z-values on
    // the driver — the quantizerSample pattern): even file sizes
    // without a full sort. The sampling pass reads ONLY the two
    // z columns (column projection into the parquet reader), so the
    // full-width decode happens once, in the rewrite shuffle below.
    val buckets = 16
    val sampleOrds = Array(ordA, ordB).distinct.sorted
    val sample = spark.sparkContext.parallelize(files, nPar)
      .flatMap(f => GraftParquetStore
        .readFile(f, m.schema, sampleOrds.filter(_ < f.numCols))
        .map(zOf))
      .takeSample(withReplacement = false, num = 4096, seed = 42).sorted
    val cuts: Array[Long] =
      if (sample.isEmpty) Array.empty
      else (1 until buckets).map(i =>
        sample((i * sample.length / buckets)
          .min(sample.length - 1))).toArray.distinct
    def bucketOf(z: Long): Int = {
      var i = 0
      while (i < cuts.length && z >= cuts(i)) i += 1
      i
    }
    val staged = rows
      .map { case (key, specId, width, r) =>
        ((key, specId, width, bucketOf(zOf(r))), r)
      }
      .groupByKey(math.min(64,
        math.max(1, files.length * 2)))
      .map { case ((key, specId, width, bucket), rs) =>
        ((key.toString, specId, width, bucket),
          GraftParquetStore.stageRewriteFile(m, rs.iterator, key,
            width, specId))
      }
      .collect().toVector
      .sortBy(_._1) // deterministic manifest order
      .map(_._2)
    maintenanceStallHook.foreach(_())
    val rewrittenPaths = p.files.map(_.path).toSet
    commitMaintenance(name, "zorder", metaSig(m),
      p.files.iterator.map(f => f.path -> fileSig(f)).toMap,
      expectedHead, staged,
      // a rebased head may carry files appended AFTER the snapshot —
      // they survive by reference (un-z-ordered; the next OPTIMIZE
      // gets them), and the count moves by exactly what this rewrite
      // changed on its own base
      (head, adopted) => GraftParquetData(
        adopted ++ head.files.filterNot(f => rewrittenPaths.contains(f.path)),
        head.count - p.count + adopted.map(_.rows).sum))
    commitCount(name) - 1
  }

  /** Explicit snapshot expiry (VACUUM / expire_snapshots): drop all but
    * the last `keep` retained versions NOW instead of waiting for the
    * rolling [[RetainedVersions]] cap — version numbers stay absolute,
    * expired versions fail loudly on time travel (same contract as the
    * cap). Returns the number of versions expired. */
  private[graft] def expireSnapshots(name: String, keep: Int): Int =
    withTableLock(name) {
      require(keep >= 1, s"expireSnapshots: keep must be >= 1, got $keep")
      val h = historyOf(name)
      val before = h.commits.size
      if (before <= keep) 0
      else {
        setHistory(name, trimLocked(name, h, keep))
        // an explicit expiry rewrites the retained window — the log
        // checkpoints the post-trim state (and GCs subsumed entries)
        GraftLog.checkpoint(name)
        before - keep
      }
    }

  /** ORPHAN SWEEP — VACUUM's staged-file half (round 13): delete
    * files under the table directory that NO retained manifest (of
    * any table — shallow clones included) references and that are
    * older than `graceMs`. Crash leftovers reachable here: files a
    * refused commit had already adopted into a version directory
    * (cross-process conflict after adoptStaged), and version dirs of
    * commits that never became durable. The grace window is what
    * keeps a CONCURRENT writer's just-adopted files safe: adoption
    * and commit share one lock hold in this process, and a foreign
    * process's in-flight files are younger than any sane grace.
    * Expired versions' staged change-data (`_graft_cdf`) sweeps too —
    * the feed refuses unretained versions, so those diffs can never
    * be served again. Returns files deleted. */
  private[graft] def vacuumOrphans(name: String, graceMs: Long): Int =
    withTableLock(name) {
      val m = GraftParquetStore.meta(name).getOrElse(return 0)
      // STALENESS GATE: the referenced-file set below comes from THIS
      // process's in-memory History — if a foreign process sharing the
      // warehouse has committed past our replay point, that set is
      // missing their files and the sweep would DELETE committed data.
      // Same cross-process probe as the commit path: refuse loudly.
      // STRICT: deletion decisions never ride the mtime cache.
      GraftLog.verifyTail(name, strict = true)
      val h = historyOf(name)
      val referenced = h.commits.iterator.flatMap {
        case p: GraftParquetData => p.files.iterator.map(_.path)
        case _ => Iterator.empty
      }.toSet ++ fileRefsExcept(name)
      val cutoff = System.currentTimeMillis() - graceMs
      var deleted = 0
      Option(new java.io.File(m.dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.isDirectory).foreach { vdir =>
          vdir.getName match {
            case "_graft_log" => ()
            case "_graft_cdf" =>
              Option(vdir.listFiles())
                .getOrElse(Array.empty[java.io.File]).foreach { cd =>
                  if (cd.getName.stripPrefix("v").toIntOption
                      .exists(_ < h.firstRetained)) {
                    Option(cd.listFiles())
                      .getOrElse(Array.empty[java.io.File])
                      .foreach(f => if (f.delete()) deleted += 1)
                    cd.delete()
                    ()
                  }
                }
            case _ =>
              Option(vdir.listFiles())
                .getOrElse(Array.empty[java.io.File]).foreach { f =>
                  if (!referenced.contains(f.getAbsolutePath) &&
                      f.lastModified() < cutoff) {
                    if (f.delete()) deleted += 1
                  }
                }
              if (Option(vdir.listFiles()).forall(_.isEmpty))
                vdir.delete()
              ()
          }
        }
      deleted
    }

  /** The retained commit log, oldest first: (absolute version,
    * operation, row count after the commit, commit wall-clock ms) —
    * the readout a lake format's DESCRIBE HISTORY serves from its
    * transaction log. O(retained versions), no row data copied (delta
    * commits carry their count; nothing resolves). */
  private[graft] def history(name: String): Vector[(Int, String, Int, Long)] = {
    val h = historyOf(name)
    h.commits.indices.toVector.map { i =>
      (h.firstRetained + i,
        if (i < h.ops.length) h.ops(i) else "append",
        h.commits(i).count,
        if (i < h.times.length) h.times(i) else 0L)
    }
  }

  /** The named-ref listing (Iceberg's `.refs` metadata shape): every
    * branch and tag with its pinned absolute version, "main" included
    * (explicit or implicit head). O(refs) metadata, nothing resolved. */
  private[graft] def refs(name: String): Vector[(String, String, Int)] = {
    val h = historyOf(name)
    val branches =
      if (h.branches.contains("main") || h.commits.isEmpty) h.branches
      else h.branches + ("main" -> h.mainHead)
    (branches.toVector.map { case (n, v) => (n, "branch", v) } ++
      h.tags.toVector.map { case (n, v) => (n, "tag", v) })
      .sortBy(r => (r._2, r._1))
  }

  /** `TIMESTAMP AS OF` resolution: the latest RETAINED version whose
    * commit time is at or before `tsMicros` (epoch micros, how Spark
    * hands the analyzed timestamp over). Errors on a timestamp before
    * the earliest retained commit — same contract as an expired
    * integer version. */
  private[sources] def resolveTimestamp(name: String,
      tsMicros: Long): Int = {
    val h = historyOf(name)
    if (h.commits.isEmpty)
      throw new IllegalArgumentException(
        s"$name has no commits to time-travel to")
    val idx = h.times.lastIndexWhere(_ * 1000L <= tsMicros)
    if (idx < 0)
      throw new IllegalArgumentException(
        s"timestamp $tsMicros is before the earliest retained commit " +
          s"of $name (${h.times.head} ms; retention keeps the last " +
          s"$RetainedVersions versions)")
    h.firstRetained + idx
  }

  /** The FILE-GRANULAR view of a version of a table — what the scan
    * plans from WITHOUT materializing a row: the last manifest, plus
    * the delta suffix folded into (deleted row ids, extra rows).
    * Folding preserves sequential [[applyDelta]] semantics under the
    * MoR unique-row-id contract: an UPDATE of a base row becomes
    * delete-from-files + extra row (the row may change partition), an
    * op chain on one id collapses to its net effect. A registered
    * table with no commits is the empty manifest. `None` = the suffix
    * mixes id domains (the driver-side resolution folds it) or the
    * version is not retained (the driver-side path owns the loud
    * invalid-version errors). */
  private[sources] final case class GraftFileView(
      files: Vector[GraftFileInfo], extras: Array[InternalRow],
      deletedIds: Array[Any], idOrd: Int,
      idType: org.apache.spark.sql.types.DataType)
  /** a view with no pending deletes */
  private def plainView(files: Vector[GraftFileInfo],
      extras: Array[InternalRow] = Array.empty): GraftFileView =
    GraftFileView(files, extras, Array.empty, -1,
      org.apache.spark.sql.types.NullType)
  private[sources] def fileView(name: String,
      pinned: Option[Int]): Option[GraftFileView] = {
    val h = historyOf(name)
    if (h.commits.isEmpty)
      return if (pinned.isDefined || GraftParquetStore.meta(name).isEmpty)
        None
      else Some(plainView(Vector.empty))
    val v = pinned.getOrElse(h.mainHead)
    if (v < h.firstRetained || v >= h.commitCount) return None
    val rel = v - h.firstRetained
    val lastFull = h.commits.lastIndexWhere(c =>
      !c.isInstanceOf[GraftDeltaData] &&
        !c.isInstanceOf[GraftEqDeleteData], rel)
    val base = h.commits.lift(lastFull) match {
      case Some(p: GraftParquetData) => p
      case _ => GraftParquetData(Vector.empty, 0) // delta chain on empty
    }
    val deltas = ((lastFull max 0) + (if (lastFull < 0) 0 else 1) to rel)
      .map(h.commits(_))
    if (deltas.isEmpty) return Some(plainView(base.files))
    // delta ops key on the MoR row id, eq-deletes on their declared
    // key column: the fold below is only sound when the whole suffix
    // shares ONE id domain (the CDC-upsert shape, where the upsert
    // key IS the row id); a mixed-domain chain takes the row path
    val ordTypes = deltas.map {
      case d: GraftDeltaData => (d.idOrd, d.idType)
      case e: GraftEqDeleteData => (e.keyOrd, e.keyType)
      case _ => return None
    }
    val (idOrd, idType) = ordTypes.head
    if (!ordTypes.forall(_ == ((idOrd, idType))))
      return None // row-id moved across the chain — let the row path merge
    val deleted = scala.collection.mutable.LinkedHashSet[Any]()
    val extras = scala.collection.mutable.LinkedHashMap[Any, InternalRow]()
    def foldDelete(k: Any): Unit = {
      extras.remove(k)
      deleted += k // no-op against files that never held k
    }
    deltas.foreach {
      case eq: GraftEqDeleteData => eq.keys.foreach(foldDelete)
      case d: GraftDeltaData => d.ops.foreach { o =>
        (o.op: @unchecked) match {
          case 'D' => foldDelete(o.id.get(0, idType))
          case 'U' =>
            val k = o.id.get(0, idType)
            if (extras.contains(k)) extras.put(k, o.row)
            else if (!deleted.contains(k)) {
              deleted += k // the pre-image leaves its file…
              extras.put(k, o.row) // …and the post-image re-enters
            } // else: update of a non-existent row — applyDelta's no-op
          case 'I' => // inserts carry no op id — key by the row's id slot
            extras.put(o.row.get(idOrd, idType), o.row)
        }
      }
      case _ => ()
    }
    Some(GraftFileView(base.files, extras.values.toArray,
      deleted.toArray, idOrd, idType))
  }

  /** live rows of a file view, from the manifest (a deleted id that
    * no file row holds is subtracted too, so it may undercount) */
  private[sources] def liveRows(fv: GraftFileView): Long =
    fv.files.iterator.map(_.liveRows.toLong).sum + fv.extras.length -
      fv.deletedIds.length

  /** a version [[fileView]] cannot fold, resolved on the driver as a
    * file-less view whose rows ride as extras; an invalid or expired
    * version fails loudly here */
  private[sources] def resolvedView(name: String,
      pinned: Option[Int]): GraftFileView =
    plainView(Vector.empty,
      pinned.map(getVersion(name, _)).getOrElse(get(name)))
}

object GraftMergeCatalog {
  /** the store name of a catalog table: the FULL identifier, namespace
    * included, so graft.ns1.t and graft.ns2.t never share a store. Its
    * definition lives in the table's state record
    * ([[GraftTableStore.TableDef]]), JVM-shared: Spark instantiates one
    * catalog object PER SESSION (including the per-micro-batch session
    * clones foreachBatch runs statements in), so an instance-local map
    * would make tables invisible across sessions (StreamingSpec pins
    * the foreachBatch MERGE case). */
  private[sources] def storeName(catalog: String, ident: Identifier)
      : String =
    (catalog +: (ident.namespace() :+ ident.name())).mkString(".")

  /** SQL VIEW registry (ViewCatalog): the stored definition is the raw
    * SQL text plus the session context it was written in (current
    * catalog/namespace) and the CREATE-time schema — exactly what
    * Spark's view resolution re-analyzes the query under, so a view
    * over `graft.t` keeps resolving after the session's current
    * catalog moves elsewhere. JVM-shared for the same reason as table
    * definitions; not in the tables' state records, because a view has
    * no store, log or history — only its warehouse sidecar. */
  private val viewRegistry =
    new TrieMap[(String, Identifier), (ViewInfo, Map[String, String])]()

  /** PARTITION SPEC EVOLUTION, catalog side: swap the table's
    * current spec (validated against its visible schema). The write
    * path clusters and keys by the NEW spec from the next commit on;
    * the parquet store records the spec history so files written
    * under the old spec keep pruning by it ([[GraftParquetStore
    * .evolveSpec]]). */
  private[graft] def evolvePartitioning(table: String,
      fields: Array[GraftPartField]): Unit = {
    import org.apache.spark.sql.types._
    val d = GraftTableStore.definitionOf(table).getOrElse(
      throw new IllegalArgumentException(
        s"no such governed table: $table"))
    val t = d.table
    val sch = GraftColumnMap.visible(t.physicalSchema)
    fields.foreach { p =>
      require(sch.fieldNames.contains(p.col),
        s"partition column '${p.col}' is not in the table schema " +
          s"(${sch.fieldNames.mkString(", ")})")
      val dt = sch(p.col).dataType
      val ok = p match {
        case _: GraftIdentityPart => Seq[DataType](LongType,
          IntegerType, StringType, DateType).contains(dt)
        case _: GraftBucketPart =>
          dt == LongType || dt == IntegerType
        case _: GraftDaysPart =>
          dt == TimestampType || dt == DateType
        case _: GraftTruncatePart => Seq[DataType](LongType,
          IntegerType, StringType).contains(dt)
      }
      require(ok, s"partition column '${p.col}' has unsupported " +
        s"type ${dt.sql} for this transform")
    }
    GraftTableStore.define(table, d.copy(table = new GraftMergeTable(
      table, t.physicalSchema, None, t.morRowId, fields,
      t.tableConstraints)))
    GraftParquetStore.evolveSpec(table, fields)
    GraftLog.logMeta(table)
  }

  /** the stored constraint set of a governed table — what DESCRIBE
    * and an optimizer trusting RELY read. */
  private[graft] def constraintsOf(table: String): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    GraftTableStore.definitionOf(table).map(_.table.tableConstraints)
      .getOrElse(throw new IllegalArgumentException(
        s"no such governed table: $table"))

  /** evict every in-memory view definition (restart simulation); the
    * next view touch reloads the warehouse sidecars. */
  private[graft] def evictViewsFromMemory(): Unit = {
    viewRegistry.clear()
    viewsLoaded.clear()
  }

  /** catalogs whose persisted views have been loaded this process —
    * the first view operation of each catalog pulls the warehouse
    * sidecars in once (lazy, like table attach). */
  private val viewsLoaded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[sources] def ensureViewsLoaded(catalogName: String): Unit =
    if (viewsLoaded.add(catalogName)) {
      GraftLog.loadViews(catalogName).foreach { case (ident, info, props) =>
        viewRegistry.putIfAbsent((catalogName, ident), (info, props))
      }
    }

  /** register `dst` as a SHALLOW CLONE's catalog definition: the
    * source's physical schema (column-mapping tombstones included —
    * the clone reads the source's files, so it must share their slot
    * layout), row-level mode and partition spec, under a fresh
    * identifier in the SAME catalog. Store-side content is cloned
    * separately ([[GraftTableStore.cloneTable]]); [[GraftApi]] wires
    * the two. */
  private[graft] def cloneDef(src: String, dst: String): Unit = {
    val srcDef = GraftTableStore.definitionOf(src).getOrElse(
      throw new IllegalArgumentException(
        s"no such governed table to clone: $src"))
    val cat = srcDef.catalog
    val parts = dst.split("\\.")
    require(parts.length >= 2 && parts.head == cat,
      s"clone target must be a $cat-catalog name ($cat.<table>), " +
        s"got: $dst")
    require(GraftTableStore.definitionOf(dst).isEmpty,
      s"table $dst already exists")
    val srcT = srcDef.table
    GraftTableStore.define(dst, GraftTableStore.TableDef(cat,
      Identifier.of(parts.drop(1).dropRight(1), parts.last),
      new GraftMergeTable(dst, srcT.physicalSchema, None, srcT.morRowId,
        srcT.partFields, srcT.tableConstraints)))
  }
}

/** A stored SQL view, as the catalog serves it to Spark's view
  * resolution. */
private[sources] final case class GraftView(ident: Identifier,
    info: ViewInfo,
    props: Map[String, String]) extends View {
  override def name(): String = ident.toString
  override def query(): String = info.sql()
  override def currentCatalog(): String = info.currentCatalog()
  override def currentNamespace(): Array[String] =
    info.currentNamespace()
  override def schema(): StructType = info.schema()
  override def queryColumnNames(): Array[String] =
    info.queryColumnNames()
  override def columnAliases(): Array[String] = info.columnAliases()
  override def columnComments(): Array[String] = info.columnComments()
  override def properties(): util.Map[String, String] = props.asJava
}

class GraftMergeCatalog extends TableCatalog with FunctionCatalog
    with ViewCatalog with ProcedureCatalog {
  import GraftMergeCatalog.viewRegistry
  private var catalogName: String = _
  private def key(ident: Identifier) = (catalogName, ident)
  private def storeName(ident: Identifier): String =
    GraftMergeCatalog.storeName(catalogName, ident)
  private def defined(ident: Identifier): Option[GraftMergeTable] =
    GraftTableStore.definitionOf(storeName(ident)).map(_.table)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = { catalogName = name }
  override def name(): String = catalogName

  // COLUMN DEFAULT VALUES (Delta's allowColumnDefaults / Iceberg's
  // initial-default): the analyzer gates `DEFAULT` clauses on this
  // capability, stores them as CURRENT_DEFAULT / EXISTS_DEFAULT
  // StructField metadata, and injects the CURRENT default into
  // INSERTs that omit the column — the STORE's only obligation is the
  // EXISTS default: rows written before the column existed read it at
  // scan time ([[GraftDefaults]]; stored rows untouched, metadata-only
  // like every other evolution here)
  // SUPPORT_TABLE_CONSTRAINT: CHECK constraints (Delta's CHECK; the
  // ANSI information-schema surface) — the analyzer validates
  // EXISTING rows when an enforced constraint is added and rejects
  // violating writes afterwards; the catalog's job is to store and
  // serve them ([[GraftMergeTable.constraints]]).
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftTableStore.definitions.filter(_.catalog == catalogName)
        .map(_.ident).toArray
    else throw new NoSuchNamespaceException(namespace)

  // the catalog PUBLISHES its partition-transform functions (here:
  // bucket) so Spark can resolve `bucket(n, col)` to a concrete bound
  // function and PROVE two bucketed tables co-partitioned — the
  // storage-partitioned-join handshake (what Iceberg's system-function
  // catalog does). Resolution is namespace-free: `bucket` only.
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty)
      Array("bucket", "days", "truncate").map(
        Identifier.of(Array.empty, _))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty) ident.name() match {
      case "bucket" => GraftBucketFunction
      case "days" => GraftDaysFunction
      case "truncate" => GraftTruncateFunction
      // SPJ alias: Spark's KeyGroupedPartitioning only supports
      // SINGLE-ARGUMENT transform expressions (bucket's count rides a
      // dedicated field), so the scan reports truncate as
      // `truncate_<w>(col)` — the width baked into the function (and
      // its canonicalName, so different widths can never co-partition)
      case n if n.startsWith("truncate_") &&
          n.drop(9).forall(_.isDigit) && n.length > 9 =>
        GraftTruncateWidthFunction(n.drop(9).toInt)
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // `graft.<table>.<meta>` resolves to a METADATA TABLE of the base
  // table (the Iceberg naming pattern) — read-only relations the
  // analyzer can see the schema of (scan options cannot widen a
  // table's resolved schema):
  //   .changes    — the change feed (Delta-CDF row shape: base schema
  //                 + _change_type + _commit_version), batch+streaming;
  //   .history    — the commit log (DESCRIBE HISTORY: version,
  //                 operation, n_rows, commit_ts);
  //   .partitions — per-partition row counts of the CURRENT snapshot
  //                 (partition value columns + row_count).
  //   .files      — the CURRENT manifest of a parquet-backed table
  //                 (Iceberg's `.files` shape): one row per data file
  //                 with partition key, rows, bytes, width, stats.
  //   .refs       — named refs (Iceberg's `.refs`): every branch and
  //                 tag with its pinned version, main included.
  /** definition lookup with LAZY LOG ATTACH on miss: a table this
    * process never registered but whose transaction log exists under
    * the warehouse (created by a previous process — the durability
    * contract) is rebuilt from the log on first touch and registered. */
  private def loadOrAttach(ident: Identifier): Option[GraftMergeTable] =
    defined(ident).orElse(GraftLog.attach(catalogName, ident))

  override def loadTable(ident: Identifier): Table =
    loadOrAttach(ident) match {
      case Some(t) => t
      case None if ident.namespace().nonEmpty &&
          Set("changes", "history", "partitions", "files",
            "refs")(ident.name()) =>
        val baseIdent = Identifier.of(ident.namespace().dropRight(1),
          ident.namespace().last)
        val base = loadOrAttach(baseIdent).getOrElse(
          throw new NoSuchTableException(ident))
        if (ident.name() == "changes") new GraftCdfTable(base)
        else GraftMetadataTable(base, ident.name())
      case None => throw new NoSuchTableException(ident)
    }

  // `SELECT ... FROM t VERSION AS OF n` — the analyzer resolves the
  // versioned relation through this overload; a pinned table reads the
  // n-th committed snapshot. A non-integer version fails with a
  // descriptive error instead of a raw NumberFormatException (use
  // TIMESTAMP AS OF for time-based travel), and the pinned table is
  // READ-ONLY (a write through a time-travel reference must not
  // silently mutate the current store).
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadOrAttach(ident).getOrElse(
      throw new NoSuchTableException(ident))
    // integer snapshot number, or a NAMED REF (branch/tag): `VERSION
    // AS OF 'audit'` reads the branch head — the WAP audit read
    val v =
      try version.trim.toInt
      catch {
        case _: NumberFormatException =>
          GraftTableStore.refVersion(t.name(), version.trim).getOrElse(
            throw new UnsupportedOperationException(
              s"unsupported version '$version' for table ${t.name()}: " +
                "VERSION AS OF takes integer snapshot numbers or a " +
                "named branch/tag ref (use TIMESTAMP AS OF for " +
                "time-based travel)"))
      }
    new GraftMergeTable(t.name(), t.physicalSchema, Some(v),
      partFields = t.partFields)
  }

  // `SELECT ... FROM t TIMESTAMP AS OF ts` — Spark hands the analyzed
  // timestamp over as epoch MICROS; it resolves to the latest retained
  // commit at or before that instant (commit wall-clocks are recorded
  // strictly increasing at commit time).
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = loadOrAttach(ident).getOrElse(
      throw new NoSuchTableException(ident))
    new GraftMergeTable(t.name(), t.physicalSchema,
      Some(GraftTableStore.resolveTimestamp(t.name(), timestamp)),
      partFields = t.partFields)
  }

  // the TableInfo entry is the one that carries what the deprecated
  // schema path cannot: CREATE-time CHECK constraints, GENERATED
  // ALWAYS AS (expr) expressions and IDENTITY specs — harvest them
  // into field metadata / the table's constraint set
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    import org.apache.spark.sql.types.MetadataBuilder
    val cols = info.columns()
    val enriched = StructType(info.schema().fields.zipWithIndex.map {
      case (f, i) =>
        val c = cols(i)
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        var touched = false
        if (c.generationExpression() != null) {
          mb.putString(GraftGenerated.GenKey, c.generationExpression())
          touched = true
        }
        Option(c.identityColumnSpec()).foreach { s =>
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"identity column '${f.name}' must be BIGINT, got " +
              f.dataType.sql)
          mb.putLong(GraftGenerated.IdStartKey, s.getStart)
          mb.putLong(GraftGenerated.IdStepKey, s.getStep)
          mb.putBoolean(GraftGenerated.IdExplicitKey,
            s.isAllowExplicitInsert)
          touched = true
        }
        if (touched) f.copy(metadata = mb.build()) else f
    })
    createTableWith(ident, enriched, info.partitions(),
      info.properties(), info.constraints())
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    createTableWith(ident, schema, partitions, properties,
      Array.empty)

  private def createTableWith(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      consArr: Array[
        org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Table = {
    if (defined(ident).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
    // the column-mapping tombstone namespace is reserved — a user
    // column named like one would alias into a dead slot
    schema.fieldNames.find(_.startsWith(GraftColumnMap.DroppedPrefix))
      .foreach(c => throw new IllegalArgumentException(
        s"column name '$c' uses the reserved " +
          s"'${GraftColumnMap.DroppedPrefix}' prefix"))
    val storeName = this.storeName(ident)
    // TBLPROPERTIES ('graft.row-level'='merge-on-read',
    // 'graft.row-id'='<col>') opts the table into the delta-based
    // (WriteDelta) row-level plan shape; default is copy-on-write
    val morRowId = Option(properties.get("graft.row-level")) match {
      case Some("merge-on-read") =>
        val c = Option(properties.get("graft.row-id")).getOrElse(
          throw new IllegalArgumentException(
            "merge-on-read tables require TBLPROPERTIES " +
              "('graft.row-id'='<column>')"))
        require(schema.fieldNames.contains(c),
          s"graft.row-id column '$c' is not in the table schema " +
            s"(${schema.fieldNames.mkString(", ")})")
        Some(c)
      case Some(other) => throw new IllegalArgumentException(
        s"unknown graft.row-level mode '$other' " +
          "(supported: merge-on-read)")
      case None => None
    }
    // the row-id column is forced NOT NULL: Spark's delta rewrite
    // rejects nullable row-id attributes (NULLABLE_ROW_ID_ATTRIBUTES),
    // and a null row id could never key a delete/update anyway
    val tblSchema = morRowId match {
      case Some(c) => StructType(schema.fields.map(f =>
        if (f.name == c) f.copy(nullable = false) else f))
      case None => schema
    }
    // PARTITIONED BY (col, ...) and/or (bucket(n, col), ...):
    // partitioning is a LOGICAL property of the store (snapshots stay
    // one array — a lake format's manifest plays this role); the scan
    // turns it physical: one input partition per partition VALUE,
    // identity-partition predicates prune whole partitions before any
    // row is touched, and co-partitioned tables report
    // KeyGroupedPartitioning so equi-joins on the partition key skip
    // the shuffle entirely (storage-partitioned join). `bucket(n, c)`
    // is the HIGH-CARDINALITY form (you cannot identity-partition
    // 100 TB by a surrogate key): rows hash into n stable buckets via
    // the catalog-published bucket function (FunctionCatalog), and two
    // tables bucketed the same way on their join keys SPJ exactly like
    // identity-partitioned ones.
    val partFields = partitions.map { tr =>
      require(tr.references().length == 1 &&
        tr.references()(0).fieldNames().length == 1,
        s"only single-column partition transforms are supported, got: $tr")
      val c = tr.references()(0).fieldNames()(0)
      require(tblSchema.fieldNames.contains(c),
        s"partition column '$c' is not in the table schema " +
          s"(${tblSchema.fieldNames.mkString(", ")})")
      import org.apache.spark.sql.types._
      tr.name() match {
        case "identity" =>
          tblSchema(c).dataType match {
            case LongType | IntegerType | StringType | DateType =>
            case dt => throw new IllegalArgumentException(
              s"partition column '$c' has unsupported type $dt " +
                "(supported: BIGINT, INT, STRING, DATE)")
          }
          GraftIdentityPart(c): GraftPartField
        case "bucket" =>
          tblSchema(c).dataType match {
            case LongType | IntegerType =>
            case dt => throw new IllegalArgumentException(
              s"bucket column '$c' has unsupported type $dt " +
                "(supported: BIGINT, INT)")
          }
          val n = tr.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform needs a numeric bucket count: $tr"))
          require(n > 0, s"bucket count must be positive, got $n")
          GraftBucketPart(c, n): GraftPartField
        case "days" =>
          tblSchema(c).dataType match {
            case TimestampType | DateType =>
            case dt => throw new IllegalArgumentException(
              s"days column '$c' has unsupported type $dt " +
                "(supported: TIMESTAMP, DATE)")
          }
          GraftDaysPart(c): GraftPartField
        case "truncate" =>
          tblSchema(c).dataType match {
            case LongType | IntegerType | StringType =>
            case dt => throw new IllegalArgumentException(
              s"truncate column '$c' has unsupported type $dt " +
                "(supported: BIGINT, INT, STRING)")
          }
          val w = tr.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"truncate transform needs a numeric width: $tr"))
          require(w > 0, s"truncate width must be positive, got $w")
          GraftTruncatePart(c, w): GraftPartField
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform '$other' " +
            "(supported: identity, bucket, days, truncate)")
      }
    }
    // every table is FILE-BACKED: commits persist as parquet files and
    // scans ship paths, not rows ([[GraftParquetStore]]).
    // TBLPROPERTIES ('graft.store'='parquet') names that one store and
    // is accepted for the DDL that still spells it out; any other
    // value is refused
    Option(properties.get("graft.store")).filter(_ != "parquet").foreach {
      other => throw new IllegalArgumentException(
        s"unknown graft.store mode '$other' (the one store is parquet)")
    }
    // TBLPROPERTIES ('graft.bloom.columns'='k1,k2'): per-file bloom
    // filter index on the named columns ([[GraftBloom]]) — point-probe
    // file skipping where zone maps cannot help.
    val bloomCols = Option(properties.get("graft.bloom.columns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .getOrElse(Array.empty[String])
    // TBLPROPERTIES ('graft.delete.mode'='dv'): pushable DELETEs take
    // the metadata path (SupportsDeleteV2) and commit per-file
    // DELETION VECTORS instead of a copy-on-write snapshot rewrite.
    val dvMode = Option(properties.get("graft.delete.mode")) match {
      case Some("dv") => true
      case Some("cow") | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"unknown graft.delete.mode '$other' (supported: dv, cow)")
    }
    // TBLPROPERTIES ('graft.sort-order'='k1, k2'): the declared
    // table sort order — appends range-distribute + sort on it and
    // OPTIMIZE preserves it (Iceberg sort orders / Delta clustering)
    val sortCols = Option(properties.get("graft.sort-order"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .getOrElse(Array.empty[String])
    GraftParquetStore.register(storeName, tblSchema, partFields,
      bloomCols, dvMode, sortCols)
    // generated/identity guards: the formulas must analyze NOW (loud
    // CREATE failure beats a broken first INSERT), constraints must
    // be CHECK, and the MoR delta writers do not recompute formulas —
    // refuse the combination rather than let UPDATEs drift
    if (GraftGenerated.hasGenerated(tblSchema) ||
        GraftGenerated.identityOf(tblSchema).isDefined) {
      require(morRowId.isEmpty,
        "generated/identity columns are not supported on " +
          "merge-on-read tables (the delta write path does not " +
          "recompute formulas)")
      GraftGenerated.boundGenerators(tblSchema)
    }
    consArr.foreach(c => require(c.isInstanceOf[
      org.apache.spark.sql.connector.catalog.constraints.Check] ||
      !c.enforced(),
      s"only CHECK constraints can be ENFORCED — declare " +
        s"'${c.name()}' NOT ENFORCED (informational): ${c.toDDL}"))
    val t = new GraftMergeTable(storeName, tblSchema, None, morRowId,
      partFields, consArr)
    GraftTableStore.define(storeName,
      GraftTableStore.TableDef(catalogName, ident, t))
    // a table is durable from the instant it exists: the CREATE writes
    // the log's first checkpoint, so even a never-written table
    // re-opens after a process restart
    GraftLog.checkpoint(storeName)
    t
  }

  // METADATA-ONLY schema evolution (the lake-format shape): ADD COLUMN
  // appends a nullable field to the schema without touching stored
  // rows — old snapshots keep their narrow layout and every scan pads
  // missing trailing fields with NULL at read time (exactly how
  // parquet serves a column absent from an old file), so time travel
  // across the evolution stays correct. RENAME rewrites only the
  // schema; the merge-on-read row id follows a rename of its column.
  // DROP COLUMN tombstones the column's PHYSICAL slot (column mapping,
  // [[GraftColumnMap]]): no stored row is touched, the slot's position
  // stays reserved so rows written before the drop keep their layout,
  // and the column simply leaves the visible schema — re-adding the
  // name later allocates a fresh slot (old values stay dead).
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val t = defined(ident).getOrElse(throw new NoSuchTableException(ident))
    // CHECK constraints (ADD/DROP CONSTRAINT): a parallel fold —
    // Spark has already VALIDATED existing rows by the time an
    // enforced AddConstraint reaches the catalog, and enforces the
    // stored constraints on every later write; storing them is the
    // catalog's whole job (the lake-format metadata shape).
    val (consChanges, schemaChanges) = changes.partition {
      case _: TableChange.AddConstraint |
          _: TableChange.DropConstraint => true
      case _ => false
    }
    val newCons = consChanges.foldLeft(t.tableConstraints) {
      (cs, ch) => ch match {
        case ac: TableChange.AddConstraint =>
          val c = ac.constraint()
          // CHECK constraints enforce (Spark validates + rejects);
          // PRIMARY KEY / UNIQUE / FOREIGN KEY are INFORMATIONAL —
          // stored and served (RELY lets an optimizer trust them),
          // never enforced, so an ENFORCED non-CHECK must refuse
          // rather than silently not enforce
          require(c.isInstanceOf[
            org.apache.spark.sql.connector.catalog.constraints.Check] ||
            !c.enforced(),
            s"only CHECK constraints can be ENFORCED — declare " +
              s"'${c.name()}' NOT ENFORCED (informational): ${c.toDDL}")
          require(!cs.exists(_.name() == c.name()),
            s"constraint '${c.name()}' already exists on ${t.name()}")
          cs :+ c
        case dc: TableChange.DropConstraint =>
          if (!cs.exists(_.name() == dc.name())) {
            require(dc.ifExists(),
              s"no such constraint '${dc.name()}' on ${t.name()}")
            cs
          } else cs.filterNot(_.name() == dc.name())
        case other => throw new IllegalStateException(
          s"not a constraint change: $other")
      }
    }
    val newSchema = schemaChanges.foldLeft(t.physicalSchema) { (sch, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            "nested ADD COLUMN not supported")
          require(add.position() == null,
            "ADD COLUMN ... FIRST/AFTER not supported — columns " +
              "append at the end (slot position is the field id)")
          require(add.isNullable,
            "added columns must be nullable: existing rows read as NULL")
          // ADD COLUMN ... DEFAULT <lit>: record BOTH defaults in the
          // field metadata (Spark's own convention) — CURRENT_DEFAULT
          // drives the analyzer's INSERT injection; EXISTS_DEFAULT is
          // what rows written BEFORE this column read at scan time
          // (metadata-only: no stored row is touched, exactly like the
          // null-padding ADD). Only foldable literals are accepted —
          // a non-literal existence default would make old rows'
          // values depend on read time.
          val md = Option(add.defaultValue()) match {
            case Some(dv) =>
              val lit = dv.getValue()
              require(lit != null,
                s"ADD COLUMN ${add.fieldNames()(0)}: DEFAULT must " +
                  "fold to a literal")
              val sql = Option(dv.getSql).getOrElse(
                org.apache.spark.sql.catalyst.expressions
                  .Literal(lit.value(), lit.dataType()).sql)
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(org.apache.spark.sql.catalyst.util
                  .ResolveDefaultColumns
                  .CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
                .putString(org.apache.spark.sql.catalyst.util
                  .ResolveDefaultColumns
                  .EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
                .build()
            case None => org.apache.spark.sql.types.Metadata.empty
          }
          StructType(sch.fields :+ org.apache.spark.sql.types
            .StructField(add.fieldNames()(0), add.dataType(),
              nullable = true, metadata = md))
        case rn: TableChange.RenameColumn =>
          require(rn.fieldNames().length == 1,
            "nested RENAME COLUMN not supported")
          require(sch.fieldNames.contains(rn.fieldNames()(0)),
            s"no such column: ${rn.fieldNames()(0)}")
          StructType(sch.fields.map(f =>
            if (f.name == rn.fieldNames()(0)) f.copy(name = rn.newName())
            else f))
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames().length == 1,
            "nested DROP COLUMN not supported")
          val c = del.fieldNames()(0)
          val ord = sch.fieldNames.indexOf(c)
          require(ord >= 0, s"no such column: $c")
          require(!t.morRowId.contains(c),
            s"cannot drop '$c': it is the merge-on-read row id")
          require(!t.partFields.exists(_.col == c),
            s"cannot drop '$c': it is a partition column")
          require(!GraftParquetStore.meta(t.name())
            .exists(_.sortOrds.contains(ord)),
            s"cannot drop '$c': it is in the declared sort order " +
              "(graft.sort-order)")
          require(GraftColumnMap.visible(sch).length > 1,
            s"cannot drop '$c': it is the table's last visible column")
          StructType(sch.fields.zipWithIndex.map { case (f, i) =>
            if (i == ord)
              f.copy(name = s"${GraftColumnMap.DroppedPrefix}$i",
                nullable = true)
            else f
          })
        // ALTER COLUMN ... SET/DROP DEFAULT: rewrites the CURRENT
        // default only — future inserts that omit the column get the
        // new value (or NULL again after DROP); the EXISTS default is
        // deliberately untouched, so rows stored before the column
        // keep reading what was promised when it was added (the
        // Delta/Iceberg split between current and initial default).
        case ud: TableChange.UpdateColumnDefaultValue =>
          require(ud.fieldNames().length == 1,
            "nested ALTER COLUMN not supported")
          val c = ud.fieldNames()(0)
          require(sch.fieldNames.contains(c), s"no such column: $c")
          val curKey = org.apache.spark.sql.catalyst.util
            .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
          StructType(sch.fields.map { f =>
            if (f.name != c) f
            else {
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
              val sqlStr = Option(ud.newCurrentDefault())
                .map(_.getSql).filter(s => s != null && s.nonEmpty)
              sqlStr match {
                case Some(sqlS) =>
                  f.copy(metadata =
                    mb.putString(curKey, sqlS).build())
                case None => // DROP DEFAULT
                  f.copy(metadata = mb.remove(curKey).build())
              }
            }
          })
        // ALTER COLUMN ... TYPE — TYPE WIDENING (Iceberg v3 / Delta
        // type widening): metadata-only. Files already on disk keep
        // their stored narrow type and upcast at decode (the reader
        // projects by ordinal against each file's own footer schema);
        // new writes land widened; zone maps normalize into the
        // widened domain and the widen commits a CHECKPOINT so replay
        // never mixes decode domains. At 100 TB this is what saves an
        // under-provisioned key type from a full table rewrite.
        case ut: TableChange.UpdateColumnType =>
          require(ut.fieldNames().length == 1,
            "nested ALTER COLUMN not supported")
          val c = ut.fieldNames()(0)
          val ord = sch.fieldNames.indexOf(c)
          require(ord >= 0, s"no such column: $c")
          val from = sch(ord).dataType
          val to = ut.newDataType()
          val widens = (from, to) match {
            case (org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType) => true
            case (org.apache.spark.sql.types.FloatType,
              org.apache.spark.sql.types.DoubleType) => true
            case _ => false
          }
          require(widens,
            s"ALTER COLUMN $c TYPE: only widening conversions are " +
              s"supported (INT→BIGINT, FLOAT→DOUBLE), not " +
              s"${from.sql} → ${to.sql}")
          val m = GraftParquetStore.meta(t.name()).getOrElse(
            throw new NoSuchTableException(ident))
          // a partition key (ANY spec, legacy included) prunes by
          // typed key values; widening it would split the key domain
          require(!m.specs.exists(_.exists(_.col == c)),
            s"cannot widen '$c': it is a partition column " +
              "(current or legacy spec) — rewrite the table instead")
          require(!t.morRowId.contains(c),
            s"cannot widen '$c': it is the merge-on-read row id")
          require(!m.bloomOrds.contains(ord),
            s"cannot widen '$c': it carries a bloom index whose " +
              "hashes are typed — drop the index first")
          require(GraftGenerated.identityOf(sch)
            .forall(_.ord != ord),
            s"cannot widen '$c': it is an IDENTITY column")
          require(!GraftGenerated.hasGenerated(sch),
            s"cannot widen '$c': the table declares generated " +
              "columns whose expressions were analyzed against the " +
              "current types — drop them first")
          require(GraftTableStore.retainedAllParquet(t.name()),
            s"cannot widen '$c' while merge-on-read delta commits " +
              "are retained — OPTIMIZE (compact) first")
          StructType(sch.fields.zipWithIndex.map { case (f, i) =>
            if (i == ord) f.copy(dataType = to) else f
          })
        case other => throw new UnsupportedOperationException(
          s"ALTER change not supported: $other")
      }
    }
    def renamed(c: String): String = changes.collectFirst {
      case rn: TableChange.RenameColumn if rn.fieldNames()(0) == c =>
        rn.newName()
    }.getOrElse(c)
    val newRowId = t.morRowId.map(renamed)
    // partition columns are schema references too — they follow renames
    val nt = new GraftMergeTable(t.name(), newSchema, None, newRowId,
      t.partFields.map {
        case GraftIdentityPart(c) => GraftIdentityPart(renamed(c))
        case GraftBucketPart(c, n) => GraftBucketPart(renamed(c), n)
        case GraftDaysPart(c) => GraftDaysPart(renamed(c))
        case GraftTruncatePart(c, w) => GraftTruncatePart(renamed(c), w)
      }, newCons)
    // a file-backed table's writer registration follows the evolution;
    // files already on disk never change (position-named columns make
    // them rename- and drop-proof)
    changes.collectFirst { case a: TableChange.AddColumn => a }.foreach {
      a => require(GraftParquetStore.supported(a.dataType()),
        s"table ${t.name()}: added column has unsupported type " +
          s"${a.dataType().sql} (flat atomic types only)")
    }
    GraftParquetStore.updateSchema(t.name(), newSchema)
    GraftTableStore.define(t.name(),
      GraftTableStore.TableDef(catalogName, ident, nt))
    // a WIDENING normalizes retained zone-map stats into the widened
    // domain and drops row caches decoded under the narrow type
    val widenedOrds = schemaChanges.collect {
      case ut: TableChange.UpdateColumnType =>
        t.physicalSchema.fieldNames.indexOf(ut.fieldNames()(0))
    }
    widenedOrds.foreach(o =>
      GraftTableStore.applyWiden(t.name(), o,
        newSchema(o).dataType))
    // metadata-only evolutions persist like every other state change
    GraftLog.logMeta(t.name())
    // a widen additionally CHECKPOINTS: the checkpoint serializes the
    // normalized stats under the widened schema and subsumes every
    // pre-widen entry, so replay never decodes stats in a mixed type
    // domain
    if (widenedOrds.nonEmpty) GraftLog.checkpoint(t.name())
    nt
  }

  override def dropTable(ident: Identifier): Boolean =
    defined(ident) match {
      case Some(t) =>
        GraftTableStore.reset(t.name())
        true
      case None => false
    }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME not supported")

  // ---- SYSTEM PROCEDURES (ProcedureCatalog — `CALL graft.system.*`) --
  //
  // Maintenance verbs as SQL procedures, Iceberg's surface: the table
  // argument resolves inside THIS catalog, the bodies are the same
  // GraftApi entry points the Scala surface uses (one semantics), and
  // each CALL returns a one-row readout.

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace: " +
        s"CALL $catalogName.system.<name>(...), got $ident")
    GraftProcedures.load(ident.name, catalogName).getOrElse(
      throw new RuntimeException(
        s"no such procedure $catalogName.system.${ident.name} — " +
          s"available: ${GraftProcedures.names.mkString(", ")}"))
  }

  // ---- SQL VIEWS (ViewCatalog — Spark 4's V2 view surface) -----------
  //
  // A catalog view stores SQL TEXT, not data: CREATE VIEW captures the
  // query string, the writing session's catalog/namespace context and
  // the analyzed schema (ViewInfo); every read re-analyzes the text
  // under that stored context, so views track their base tables' data
  // AND schema-compatible evolution for free — O(text) metadata, the
  // governance surface (stable query interfaces, column renames behind
  // a contract) a warehouse expects from its catalog.

  override def listViews(namespace: String*): Array[Identifier] = {
    GraftMergeCatalog.ensureViewsLoaded(catalogName)
    viewRegistry.keysIterator
      .filter(k => k._1 == catalogName &&
        k._2.namespace.sameElements(namespace))
      .map(_._2).toArray.sortBy(_.toString)
  }

  override def loadView(ident: Identifier): View = {
    GraftMergeCatalog.ensureViewsLoaded(catalogName)
    viewRegistry.get(key(ident)) match {
      case Some((info, props)) => GraftView(ident, info, props)
      case None => throw new NoSuchViewException(ident)
    }
  }

  override def createView(info: ViewInfo): View = {
    GraftMergeCatalog.ensureViewsLoaded(catalogName)
    val ident = info.ident()
    // one namespace of names: a view shadowing a governed table would
    // make `SELECT FROM graft.x` ambiguous — refuse loudly
    require(defined(ident).isEmpty,
      s"cannot CREATE VIEW $ident: a table with that name exists " +
        s"in $catalogName")
    val stored = (info,
      Option(info.properties()).map(_.asScala.toMap).getOrElse(Map.empty))
    if (viewRegistry.putIfAbsent(key(ident), stored).isDefined)
      throw new ViewAlreadyExistsException(ident)
    // durability: the definition persists as a warehouse sidecar —
    // a fresh process reloads it on first view touch
    GraftLog.persistView(catalogName, ident, info, stored._2)
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: ViewChange*): View = {
    val (info, props) = viewRegistry.getOrElse(key(ident),
      throw new NoSuchViewException(ident))
    val next = changes.foldLeft(props) {
      case (p, s: ViewChange.SetProperty) => p + (s.property() -> s.value())
      case (p, r: ViewChange.RemoveProperty) => p - r.property()
      case (_, other) => throw new IllegalArgumentException(
        s"unsupported view change: $other")
    }
    viewRegistry.put(key(ident), (info, next))
    GraftLog.persistView(catalogName, ident, info, next)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    GraftMergeCatalog.ensureViewsLoaded(catalogName)
    val existed = viewRegistry.remove(key(ident)).isDefined
    if (existed) GraftLog.dropViewSidecar(catalogName, ident)
    existed
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    GraftMergeCatalog.ensureViewsLoaded(catalogName)
    val v = viewRegistry.getOrElse(key(from),
      throw new NoSuchViewException(from))
    require(defined(to).isEmpty,
      s"cannot rename view to $to: a table with that name exists")
    if (viewRegistry.contains(key(to)))
      throw new ViewAlreadyExistsException(to)
    // the stored ViewInfo carries its identifier — rebuild under the
    // new name so the sidecar and registry agree
    val renamed = new ViewInfo(to, v._1.sql(), v._1.currentCatalog(),
      v._1.currentNamespace(), v._1.schema(), v._1.queryColumnNames(),
      v._1.columnAliases(), v._1.columnComments(), v._1.properties())
    viewRegistry.put(key(to), (renamed, v._2))
    viewRegistry.remove(key(from))
    GraftLog.dropViewSidecar(catalogName, from)
    GraftLog.persistView(catalogName, to, renamed, v._2)
    ()
  }
}

/** The catalog's published `bucket(numBuckets, key)` function —
  * `floorMod(key, numBuckets)` over integral keys. Spark resolves the
  * `bucket(n, col)` partition transform against this through
  * FunctionCatalog; the BOUND function's `canonicalName` is what two
  * scans' partitionings are compared by, so customer bucketed by
  * bucket(8, c_custkey) and orders by bucket(8, o_custkey) are provably
  * co-partitioned (same function, same bucket count) and
  * storage-partition-join. The store-side grouping uses catalyst
  * `Pmod`, which equals floorMod for positive counts — the two
  * evaluation paths cannot disagree. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, key): floorMod(key, numBuckets) — the graft " +
      "catalog's partition-transform hash"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket takes (numBuckets, key), got ${inputType.length} args")
    inputType(1).dataType match {
      case LongType => BoundLong
      case IntegerType => BoundInt
      case dt => throw new UnsupportedOperationException(
        s"bucket key must be integral, got $dt")
    }
  }

  object BoundLong extends ScalarFunction[Integer] {
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket(long)"
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, LongType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(1)) null
      else Math.floorMod(input.getLong(1), input.getInt(0).toLong).toInt
    // codegen magic method (ScalarFunction.MAGIC_METHOD_NAME)
    def invoke(numBuckets: Int, key: Long): Int =
      Math.floorMod(key, numBuckets.toLong).toInt
  }

  object BoundInt extends ScalarFunction[Integer] {
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket(int)"
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, IntegerType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(1)) null
      else Math.floorMod(input.getInt(1).toLong,
        input.getInt(0).toLong).toInt
    def invoke(numBuckets: Int, key: Int): Int =
      Math.floorMod(key.toLong, numBuckets.toLong).toInt
  }
}

/** `days(ts)`: the catalog-published form of [[GraftDaysPart]]'s key
  * expression — identical VALUES (day-start epoch seconds for
  * timestamps, the date itself for dates), so Spark's evaluation of
  * the transform (write clustering, SPJ alignment) and the store-side
  * grouping can never disagree. */
object GraftDaysFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "days"
  override def description(): String =
    "days(ts): day-start epoch seconds (timestamps) / the date (dates)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 1,
      s"days takes one argument, got ${inputType.length}")
    inputType(0).dataType match {
      case TimestampType => BoundTs
      case DateType => BoundDate
      case dt => throw new UnsupportedOperationException(
        s"days argument must be TIMESTAMP or DATE, got $dt")
    }
  }

  private[sources] def dayStartSeconds(micros: Long): Long = {
    val secs = Math.floorDiv(micros, 1000000L)
    secs - Math.floorMod(secs, GraftPartField.SecondsPerDay)
  }

  object BoundTs extends ScalarFunction[java.lang.Long] {
    override def name(): String = "days"
    override def canonicalName(): String = "graft.days(timestamp)"
    override def inputTypes(): Array[DataType] = Array(TimestampType)
    override def resultType(): DataType = LongType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      if (input.isNullAt(0)) null else dayStartSeconds(input.getLong(0))
    def invoke(micros: Long): Long = dayStartSeconds(micros)
  }

  object BoundDate extends ScalarFunction[Integer] {
    override def name(): String = "days"
    override def canonicalName(): String = "graft.days(date)"
    override def inputTypes(): Array[DataType] = Array(DateType)
    override def resultType(): DataType = DateType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(0)) null else input.getInt(0)
    def invoke(days: Int): Int = days
  }
}

/** `truncate(w, v)`: the catalog-published form of
  * [[GraftTruncatePart]]'s key expression — v − floorMod(v, w) for
  * integrals, the w-char prefix for strings. */
object GraftTruncateFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = "truncate"
  override def description(): String =
    "truncate(width, v): ordered range id — v - floorMod(v, width) " +
      "(integrals) / the width-char prefix (strings)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"truncate takes (width, v), got ${inputType.length} args")
    inputType(1).dataType match {
      case LongType => BoundLong
      case IntegerType => BoundInt
      case StringType => BoundString
      case dt => throw new UnsupportedOperationException(
        s"truncate value must be BIGINT, INT or STRING, got $dt")
    }
  }

  object BoundLong extends ScalarFunction[java.lang.Long] {
    override def name(): String = "truncate"
    override def canonicalName(): String = "graft.truncate(long)"
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, LongType)
    override def resultType(): DataType = LongType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      if (input.isNullAt(1)) null
      else invoke(input.getInt(0), input.getLong(1))
    def invoke(w: Int, v: Long): Long = v - Math.floorMod(v, w.toLong)
  }

  object BoundInt extends ScalarFunction[Integer] {
    override def name(): String = "truncate"
    override def canonicalName(): String = "graft.truncate(int)"
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, IntegerType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(1)) null
      else invoke(input.getInt(0), input.getInt(1))
    def invoke(w: Int, v: Int): Int = v - Math.floorMod(v, w)
  }

  object BoundString extends ScalarFunction[UTF8String] {
    override def name(): String = "truncate"
    override def canonicalName(): String = "graft.truncate(string)"
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, StringType)
    override def resultType(): DataType = StringType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): UTF8String =
      if (input.isNullAt(1)) null
      else invoke(input.getInt(0), input.getUTF8String(1))
    def invoke(w: Int, v: UTF8String): UTF8String =
      if (v.numChars() <= w) v else v.substring(0, w)
  }
}

/** `truncate_<w>(v)`: the SINGLE-ARGUMENT form of [[
  * GraftTruncateFunction]] the scan reports for storage-partitioned
  * joins — Spark's KeyGroupedPartitioning rejects transform
  * expressions with more than one child, so the width lives in the
  * function (and its canonicalName: two sides co-partition ONLY when
  * their widths match). Values identical to truncate(w, v). */
case class GraftTruncateWidthFunction(w: Int)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = s"truncate_$w"
  override def description(): String =
    s"truncate_$w(v): v - floorMod(v, $w) (integrals) / " +
      s"the $w-char prefix (strings)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 1,
      s"truncate_$w takes one argument, got ${inputType.length}")
    inputType(0).dataType match {
      case LongType => new ScalarFunction[java.lang.Long] {
        override def name(): String = s"truncate_$w"
        override def canonicalName(): String = s"graft.truncate(long,$w)"
        override def inputTypes(): Array[DataType] = Array(LongType)
        override def resultType(): DataType = LongType
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): java.lang.Long =
          if (input.isNullAt(0)) null
          else input.getLong(0) - Math.floorMod(input.getLong(0), w.toLong)
      }
      case IntegerType => new ScalarFunction[Integer] {
        override def name(): String = s"truncate_$w"
        override def canonicalName(): String = s"graft.truncate(int,$w)"
        override def inputTypes(): Array[DataType] = Array(IntegerType)
        override def resultType(): DataType = IntegerType
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): Integer =
          if (input.isNullAt(0)) null
          else input.getInt(0) - Math.floorMod(input.getInt(0), w)
      }
      case StringType => new ScalarFunction[UTF8String] {
        override def name(): String = s"truncate_$w"
        override def canonicalName(): String =
          s"graft.truncate(string,$w)"
        override def inputTypes(): Array[DataType] = Array(StringType)
        override def resultType(): DataType = StringType
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): UTF8String =
          if (input.isNullAt(0)) null
          else {
            val v = input.getUTF8String(0)
            if (v.numChars() <= w) v else v.substring(0, w)
          }
      }
      case dt => throw new UnsupportedOperationException(
        s"truncate_$w value must be BIGINT, INT or STRING, got $dt")
    }
  }
}

/** COLUMN MAPPING — the field-id indirection that makes DROP COLUMN
  * (and RENAME) safe on positional storage, the round-9 verdict's
  * missing ALTER: the table keeps a PHYSICAL schema in which every
  * slot ever created stays at its position forever (a slot's position
  * IS its field id), and dropping a column only TOMBSTONES its slot
  * (renamed to a reserved `__graft_dropped_<pos>` placeholder) — no
  * stored row is touched, rows written before the drop keep their
  * layout, and later rows write NULL into the dead slot. The VISIBLE
  * schema — what `Table.schema()` exposes, what scans output by
  * default, what writes arrive in — is the physical schema minus
  * tombstoned slots, in physical order. Re-adding a dropped column's
  * name allocates a NEW slot: old values are not resurrected, exactly
  * the lake-format column-mapping semantics (Delta `columnMapping`,
  * Iceberg field ids). */
object GraftColumnMap {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}

  val DroppedPrefix = "__graft_dropped_"
  def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.name.startsWith(DroppedPrefix)
  def visible(physical: StructType): StructType =
    StructType(physical.fields.filterNot(isDropped))
  /** physical ordinal of each VISIBLE column, in visible order. */
  def physOrds(physical: StructType): Array[Int] =
    physical.fields.zipWithIndex.collect {
      case (f, i) if !isDropped(f) => i
    }
  /** expressions projecting a VISIBLE-layout row into the PHYSICAL
    * layout: live slots read their visible position (shifted by
    * `offset` — the ReplaceData op-column skip), tombstoned slots
    * write NULL of the slot's type. Identity when nothing was ever
    * dropped. */
  def toPhysical(physical: StructType, offset: Int = 0): Seq[Expression] = {
    var vi = 0
    physical.fields.map { f =>
      if (isDropped(f)) Literal(null, f.dataType): Expression
      else {
        val e = BoundReference(vi + offset, f.dataType, nullable = true)
        vi += 1
        e: Expression
      }
    }.toSeq
  }
}

/** One partition field of a governed table: identity(col) — one
  * partition per VALUE (low-cardinality layout keys) — or
  * bucket(n, col) — `floorMod(key, n)` into n stable buckets, the
  * high-cardinality form whose function the catalog publishes through
  * FunctionCatalog so Spark can prove two bucketed tables
  * co-partitioned (storage-partitioned joins). */
sealed trait GraftPartField { def col: String }
case class GraftIdentityPart(col: String) extends GraftPartField
case class GraftBucketPart(col: String, n: Int) extends GraftPartField
/** HIDDEN PARTITIONING (Iceberg's transform partitioning): the table
  * partitions by a MONOTONE transform of a source column — days(ts)
  * (key = day-start micros for timestamps, the day itself for dates)
  * or truncate(w, col) (key = v − floorMod(v, w) for integrals, the
  * w-char prefix for strings) — and a pushed predicate on the RAW
  * column still prunes partitions: x ≥ v implies T(x) ≥ T(v) for
  * monotone T. The raw filter stays row-level residual, so pruning is
  * conservative-superset, never wrong. */
case class GraftDaysPart(col: String) extends GraftPartField
case class GraftTruncatePart(col: String, width: Int)
    extends GraftPartField

object GraftPartField {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, Pmod}
  import org.apache.spark.sql.connector.expressions.Expressions
  import org.apache.spark.sql.types._

  def toTransform(p: GraftPartField): Transform = p match {
    case GraftIdentityPart(c) => Expressions.identity(c)
    case GraftBucketPart(c, n) => Expressions.bucket(n, c)
    case GraftDaysPart(c) => Expressions.days(c)
    case GraftTruncatePart(c, w) => Expressions.apply("truncate",
      Expressions.literal(w), Expressions.column(c))
  }

  /** the transform form the SCAN reports for storage-partitioned
    * joins: Spark's KeyGroupedPartitioning accepts only SINGLE-child
    * transform expressions, so truncate(w, col) becomes the
    * width-baked `truncate_<w>(col)` ([[GraftTruncateWidthFunction]]);
    * everything else already is single-arg. */
  def toSpjTransform(p: GraftPartField): Transform = p match {
    case GraftTruncatePart(c, w) =>
      Expressions.apply(s"truncate_$w", Expressions.column(c))
    case other => toTransform(other)
  }

  /** this field's slot type in the HasPartitionKey row. */
  def keyType(p: GraftPartField, schema: StructType)
      : org.apache.spark.sql.types.DataType = p match {
    case GraftIdentityPart(c) => schema(c).dataType
    case GraftBucketPart(_, _) => IntegerType
    // day-start epoch SECONDS (Long) for timestamps (monotone,
    // division-free in the micros domain); the date IS its day for
    // DateType
    case GraftDaysPart(c) => schema(c).dataType match {
      case DateType => DateType
      case _ => LongType
    }
    case GraftTruncatePart(c, _) => schema(c).dataType
  }

  /** catalyst expression computing this field's key value from a
    * full-schema row. Pmod == Math.floorMod for positive n, so the
    * store-side grouping and [[GraftBucketFunction]] (what Spark
    * evaluates) can never disagree. */
  def keyExpr(p: GraftPartField, schema: StructType)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    val ord = schema.fieldIndex(p.col)
    val ref = BoundReference(ord, schema(ord).dataType, nullable = true)
    p match {
      case GraftIdentityPart(_) => ref
      case GraftBucketPart(_, n) =>
        Cast(Pmod(Cast(ref, LongType), Literal(n.toLong)), IntegerType)
      case GraftDaysPart(_) => schema(ord).dataType match {
        case DateType => ref // already whole days
        case _ =>
          // Cast(ts, LONG) floors micros to epoch seconds; Pmod is
          // floorMod, so pre-epoch values still floor to THEIR day
          val secs = Cast(ref, LongType)
          org.apache.spark.sql.catalyst.expressions.Subtract(secs,
            Pmod(secs, Literal(SecondsPerDay)))
      }
      case GraftTruncatePart(_, w) => schema(ord).dataType match {
        case LongType =>
          org.apache.spark.sql.catalyst.expressions.Subtract(ref,
            Pmod(ref, Literal(w.toLong)))
        case IntegerType =>
          org.apache.spark.sql.catalyst.expressions.Subtract(ref,
            Pmod(ref, Literal(w)))
        case StringType =>
          org.apache.spark.sql.catalyst.expressions.Substring(ref,
            Literal(1), Literal(w))
        case other => throw new IllegalStateException(
          s"truncate on unsupported type $other")
      }
    }
  }

  private[sources] val SecondsPerDay: Long = 86400L

  /** a RAW literal (v1 filter domain: java.sql / java.time / Number /
    * String) lifted into the transform's KEY domain, or None when the
    * shape is not liftable. */
  private def liftLiteral(p: GraftPartField, schema: StructType,
      v: Any): Option[Any] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    p match {
      case GraftDaysPart(c) => schema(c).dataType match {
        case DateType => v match {
          case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
          case d: java.time.LocalDate =>
            Some(DateTimeUtils.localDateToDays(d))
          case _ => None
        }
        case _ => (v match {
          case t: java.sql.Timestamp =>
            Some(DateTimeUtils.fromJavaTimestamp(t))
          case t: java.time.Instant =>
            Some(DateTimeUtils.instantToMicros(t))
          case _ => None
        }).map { us =>
          val secs = Math.floorDiv(us, 1000000L)
          secs - Math.floorMod(secs, SecondsPerDay)
        }
      }
      case GraftTruncatePart(c, w) => schema(c).dataType match {
        case LongType => v match {
          case n: Number =>
            val x = n.longValue()
            Some(x - Math.floorMod(x, w.toLong))
          case _ => None
        }
        case IntegerType => v match {
          case n: Number =>
            val x = n.intValue()
            Some(x - Math.floorMod(x, w))
          case _ => None
        }
        case StringType =>
          val u = org.apache.spark.unsafe.types.UTF8String
            .fromString(v.toString)
          Some(if (u.numChars() <= w) u else u.substring(0, w))
        case _ => None
      }
      case _ => None
    }
  }

  /** HIDDEN-PARTITION PRUNING: derive a predicate over the PARTITION
    * KEY ROW from a pushed filter on a transform field's SOURCE
    * column. Monotone transforms admit every comparison shape
    * (equality keeps T(v)'s partition; x > v can only live where
    * T(x) ≥ T(v)). Conservative superset — the raw filter still
    * applies to rows — so a None here never loses pruning
    * correctness, only opportunity. */
  def hiddenPrune(partFields: Array[GraftPartField],
      schema: StructType, f: org.apache.spark.sql.sources.Filter)
      : Option[InternalRow => Boolean] = {
    import org.apache.spark.sql.sources._
    def fieldAt(c: String): Option[(Int, GraftPartField)] =
      partFields.zipWithIndex.collectFirst {
        case (p, i) if p.col == c &&
            (p.isInstanceOf[GraftDaysPart] ||
             p.isInstanceOf[GraftTruncatePart]) => (i, p)
      }
    def derive(c: String, v: Any)(
        keep: (Int, Any) => Boolean): Option[InternalRow => Boolean] =
      if (v == null) None
      else fieldAt(c).flatMap { case (i, p) =>
        val kt = keyType(p, schema)
        liftLiteral(p, schema, v).map { t =>
          (r: InternalRow) =>
            !r.isNullAt(i) &&
              keep(GraftZoneMap.cmpStat(kt, r.get(i, kt), t), 0)
        }
      }
    f match {
      case EqualTo(c, v) => derive(c, v)((cmp, _) => cmp == 0)
      case EqualNullSafe(c, v) if v != null =>
        derive(c, v)((cmp, _) => cmp == 0)
      case GreaterThan(c, v) => derive(c, v)((cmp, _) => cmp >= 0)
      case GreaterThanOrEqual(c, v) =>
        derive(c, v)((cmp, _) => cmp >= 0)
      case LessThan(c, v) => derive(c, v)((cmp, _) => cmp <= 0)
      case LessThanOrEqual(c, v) => derive(c, v)((cmp, _) => cmp <= 0)
      case In(c, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        val preds = vs.map(v => derive(c, v)((cmp, _) => cmp == 0))
        if (preds.exists(_.isEmpty)) None
        else Some(r => preds.exists(_.get(r)))
      case IsNull(c) => fieldAt(c).map { case (i, _) =>
        (r: InternalRow) => r.isNullAt(i)
      }
      case IsNotNull(c) => fieldAt(c).map { case (i, _) =>
        (r: InternalRow) => !r.isNullAt(i)
      }
      case And(l, r) =>
        (hiddenPrune(partFields, schema, l),
          hiddenPrune(partFields, schema, r)) match {
          case (Some(a), Some(b)) => Some(x => a(x) && b(x))
          case (a @ Some(_), None) => a
          case (None, b) => b
        }
      case Or(l, r) =>
        for {
          a <- hiddenPrune(partFields, schema, l)
          b <- hiddenPrune(partFields, schema, r)
        } yield (x: InternalRow) => a(x) || b(x)
      case _ => None
    }
  }

  /** the bucket id of a raw key value (runtime-filter path). */
  def bucketOf(v: Any, n: Int): Int = v match {
    case l: java.lang.Long => Math.floorMod(l.longValue(), n.toLong).toInt
    case i: java.lang.Integer =>
      Math.floorMod(i.intValue().toLong, n.toLong).toInt
    case other => throw new IllegalArgumentException(
      s"bucket key must be integral, got: $other")
  }
}

/** METADATA COLUMNS of file-backed scans (Iceberg/Delta's `_file` /
  * `_pos`): per-row file provenance and the PHYSICAL record position —
  * the address a deletion vector bits by, so `(_file, _pos)` is a
  * stable row identity that survives DV deletes (a live row keeps its
  * position; deleted positions simply stop appearing). NULL for rows
  * not living in a file (MoR op-log extras, row-path fallbacks). */
object GraftMetaCols {
  import org.apache.spark.sql.connector.catalog.MetadataColumn
  import org.apache.spark.sql.types.{DataType, LongType, StringType}
  val File = "_file"
  val Pos = "_pos"
  /** canonical order — readSchema appends requested meta cols in it */
  val Names: Seq[String] = Seq(File, Pos)
  def dtOf(n: String): DataType =
    if (n == File) StringType else LongType
  private def mk(n: String, c: String): MetadataColumn =
    new MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = dtOf(n)
      override def isNullable: Boolean = true
      override def comment(): String = c
    }
  val columns: Array[MetadataColumn] = Array(
    mk(File, "data file holding the row (parquet-backed scans)"),
    mk(Pos, "physical record position inside _file — the address " +
      "deletion vectors bit by"))
}

class GraftMergeTable(tableName: String, tableSchema: StructType,
    pinnedVersion: Option[Int] = None,
    private[sources] val morRowId: Option[String] = None,
    private[sources] val partFields: Array[GraftPartField] = Array.empty,
    private[sources] val tableConstraints: Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      Array.empty)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** `_file`/`_pos`. A DATA column of the same name SHADOWS the
    * metadata column (Spark's SupportsMetadataColumns contract) —
    * don't even advertise the shadowed one. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftMetaCols.columns.filterNot(m =>
      tableSchema.fieldNames.contains(m.name()))

  /** CHECK constraints (SUPPORT_TABLE_CONSTRAINT): stored here as a
    * lake format stores them in table metadata; Spark's analyzer
    * VALIDATES existing rows when an enforced constraint is added and
    * rejects violating writes from then on — the catalog only has to
    * serve them faithfully. */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableConstraints

  /** `tableSchema` is the PHYSICAL schema (column mapping — tombstoned
    * slots included); everything row-layout-facing (scans, filter
    * ordinals, the store) works in it. [[schema]] serves the VISIBLE
    * view. Identical until the first DROP COLUMN. */
  private[sources] def physicalSchema: StructType = tableSchema

  override def name(): String = tableName
  override def schema(): StructType = GraftColumnMap.visible(tableSchema)

  // the SQL `TRUNCATE TABLE` statement (metadata-only delete-all: one
  // empty-manifest commit, history preserved — time travel to the
  // pre-truncate version still works)
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      s"$tableName VERSION AS OF ${pinnedVersion.get} is read-only")
    GraftTableStore.commitParquetRewrite(tableName, Vector.empty,
      "truncate", None, dynamic = false, partFields, tableSchema, None)
  }
  override def partitioning(): Array[Transform] =
    partFields.map(GraftPartField.toTransform)
  // a version-pinned reference is a fixed snapshot — it cannot be a
  // stream (nothing ever arrives); only the live table advertises
  // MICRO_BATCH_READ
  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION opts into MERGE WITH SCHEMA
    // EVOLUTION: the analyzer computes the source-vs-target schema
    // delta and routes it through alterTable (our metadata-only
    // AddColumn) before planning the merge
    (Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION) ++
      (if (pinnedVersion.isEmpty)
        Set(TableCapability.MICRO_BATCH_READ,
          TableCapability.STREAMING_WRITE)
       else Set.empty)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftScanBuilder(tableName, tableSchema,
    pinnedVersion, partFields, options)

  // plain writes (INSERT INTO seeds the table; TRUNCATE for resets).
  // A version-pinned reference is READ-ONLY: writing "to the past"
  // would silently mutate the CURRENT store (the pinned scan and the
  // write target would disagree), so both write surfaces refuse.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"$tableName VERSION AS OF ${pinnedVersion.get} is read-only — " +
        "write to the current table instead")
    new GraftWriteBuilder(tableName, info.schema(), replace = false,
      queryId = info.queryId(), clusterFields = partFields,
      physicalSchema = tableSchema)
  }

  // ---- DELETION-VECTOR deletes (SupportsDeleteV2, metadata path) ----
  //
  // On a `graft.delete.mode=dv` table, a DELETE whose condition fully
  // translates skips the row-level rewrite entirely: Spark's
  // OptimizeMetadataOnlyDeleteFromTable swaps the ReplaceData plan for
  // this metadata call, which commits per-file position bitmaps —
  // zero data bytes rewritten, untouched manifest entries kept BY
  // REFERENCE, cost O(matched files). Declines (→ the normal CoW/MoR
  // row-level path) whenever the head isn't a clean file view or any
  // filter fails to compile — a dropped filter here would delete a
  // SUPERSET, so it's all-or-nothing.
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinnedVersion.isEmpty &&
      GraftParquetStore.meta(tableName).exists(_.dvMode) &&
      // WAP safety: deleteWhere resolves the file view at MAIN's head
      // but the commit extends the CHAIN head — under an active WAP
      // branch (or a dangling staged branch) those differ, and a DV
      // manifest built from main would silently drop the staged
      // commits. Decline; the row-level path owns that case.
      GraftTableStore.sessionWapBranch.isEmpty &&
      GraftTableStore.mainAtChainHead(tableName) &&
      GraftTableStore.fileView(tableName, None).exists(fv =>
        fv.extras.isEmpty && fv.deletedIds.isEmpty) &&
      filters.forall(f =>
        GraftFilterEval.compile(f, tableSchema).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(canDeleteWhere(filters),
      s"$tableName: deleteWhere called outside the canDeleteWhere " +
        "contract (state changed between planning and execution)")
    val spark = org.apache.spark.sql.SparkSession.active
    val h0 = GraftTableStore.commitCount(tableName) - 1
    val fv = GraftTableStore.fileView(tableName, None).get
    // PARTITION-LEVEL fast path (Iceberg's metadata partition delete):
    // when every filter references only IDENTITY partition columns of
    // the current spec, a file whose manifest key satisfies the
    // conjunction provably matches EVERY live row — it leaves the
    // manifest without being opened. `DELETE WHERE part = 'x'` on a
    // partitioned table is then a pure metadata operation: zero files
    // opened, zero bitmaps computed.
    val compiled = filters.flatMap(GraftFilterEval.compile(_, tableSchema))
    val identCols = partFields.collect {
      case GraftIdentityPart(c) => c
    }.toSet
    val partOnly = filters.nonEmpty &&
      compiled.length == filters.length &&
      filters.forall(_.references.forall(identCols.contains))
    val curSpec = GraftParquetStore.meta(tableName)
      .map(_.curSpecId).getOrElse(0)
    val partTypes = partFields.map(GraftPartField.keyType(_, tableSchema))
    def wholeFileMatches(f: GraftFileInfo): Boolean = partOnly &&
      f.specId == curSpec && {
        val synth = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(tableSchema.length)
        partFields.zipWithIndex.foreach {
          case (GraftIdentityPart(c), i) =>
            synth.update(tableSchema.fieldIndex(c),
              f.key.get(i, partTypes(i)))
          case _ => ()
        }
        compiled.forall(_(synth))
      }
    val whollyMatched = fv.files.filter(wholeFileMatches)
      .map(_.path).toSet
    // zone-map prescreen: a file the manifest PROVES holds no matching
    // row is never opened — its entry survives reference-identical
    val candidates = fv.files.filter(f =>
      !whollyMatched.contains(f.path) &&
        !filters.exists(GraftZoneMap.skips(_, f, tableSchema)))
    val dvs = GraftParquetStore.computeDvs(spark, tableSchema,
      candidates, filters)
    var removedRows = 0L
    var dropped = 0
    var rewritten = 0
    val files = fv.files.flatMap { f =>
      if (whollyMatched.contains(f.path)) { // partition-proven drop
        removedRows += f.liveRows; dropped += 1; None
      } else dvs.get(f.path) match {
        case None => Some(f) // untouched — same manifest object
        case Some(d) if d.card == f.rows => // every live row matched
          removedRows += f.liveRows; dropped += 1; None
        case Some(d) =>
          removedRows += d.card - f.dv.map(_.card).getOrElse(0)
          rewritten += 1
          Some(f.copy(dv = Some(d)))
      }
    }
    val count = (fv.files.map(_.liveRows.toLong).sum - removedRows).toInt
    GraftDvMetrics.last.put(tableName, GraftDvMetrics.Report(
      filesTotal = fv.files.length, filesOpened = candidates.length,
      filesDropped = dropped, filesDvd = rewritten,
      rowsDeleted = removedRows))
    // no branch: canDeleteWhere already declined any WAP state, so
    // main == chain head and the OCC expectedHead is the view's base
    GraftTableStore.commitParquetManifest(tableName, files, count,
      "delete-dv", branch = None, expectedHead = h0)
  }

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"$tableName VERSION AS OF ${pinnedVersion.get} is read-only — " +
        "row-level operations must target the current table")
    morRowId match {
      case Some(idCol) =>
        () => new GraftDeltaOperation(this, info.command(), idCol)
      case None =>
        () => new GraftRowLevelOperation(this, info.command())
    }
  }
}

/** Copy-on-write row-level operation: ONE group = the whole table (no
  * `requiredMetadataAttributes`, no `SupportsDelta`), so Catalyst's
  * group-based rewrite scans everything and the write REPLACES the
  * store — the minimal faithful analogue of a single-file
  * copy-on-write table. */
class GraftRowLevelOperation(table: GraftMergeTable,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  override def command(): RowLevelOperation.Command = cmd
  // the row-level scan REFUSES every pushdown (rowLevelReplace):
  // Spark pushes the DELETE/UPDATE/MERGE condition here as a GROUP
  // filter, but our replace commit swaps the WHOLE snapshot for the
  // written rows — a scan that dropped non-matching rows (or pruned
  // partitions/files) would silently delete them. Found by the
  // table_clone oracle: `DELETE WHERE status = 'F'` (a PUSHABLE
  // predicate, unlike the `% k` predicates the earlier row-level ids
  // used) emptied the table.
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftScanBuilder(table.name(),
    table.physicalSchema, None, table.partFields, options,
    rowLevelReplace = true)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(table.name(), info.schema(), replace = true,
      physicalSchema = table.physicalSchema)
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
  override def description(): String =
    s"GraftCopyOnWrite[${table.name()}]"
}

/** Scan builder with COLUMN PRUNING and FILTER pushdown: Catalyst's
  * pruned projection and (simple, flat-column) predicates reach the
  * store scan, so a filtered 2-column readout of a wide governed table
  * moves 2 columns of the matching rows only — the analogue of a
  * columnar format skipping unread chunks and data-skipping row
  * groups. Pushed filters are evaluated CONSERVATIVELY: every filter
  * is also returned as a post-scan residual (exactly parquet's
  * contract), so Spark re-applies them above the scan and a subtle
  * evaluator bug can shrink performance, never correctness. The scan
  * description carries both lists (tests assert them). */
class GraftScanBuilder(tableName: String, tableSchema: StructType,
    pinnedVersion: Option[Int],
    partFields: Array[GraftPartField] = Array.empty,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    rowLevelReplace: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.sources._
  // default output = the VISIBLE schema (tombstoned column-mapping
  // slots never leave the store even when Spark skips pruning)
  private var required: StructType = GraftColumnMap.visible(tableSchema)
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var agg: Option[Aggregation] = None
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve the TABLE's column order (Catalyst may reorder; the
    // positional row projection must not). After an aggregate pushdown
    // the required schema names the AGGREGATED columns, not table
    // columns — the agg scan's output is already minimal, skip.
    // Requested METADATA columns (_file/_pos) split off in canonical
    // order; the scan appends them after the data columns.
    if (agg.isEmpty) {
      required = StructType(tableSchema.fields.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))
      // data columns SHADOW same-named metadata columns (Spark's
      // SupportsMetadataColumns contract): a table with a real _file
      // column must not get the name duplicated in readSchema
      metaCols = GraftMetaCols.Names.filter(n =>
        requiredSchema.fieldNames.contains(n) &&
          !tableSchema.fieldNames.contains(n))
    }
  }
  private var metaCols: Seq[String] = Nil
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a GROUP-BASED ROW-LEVEL (copy-on-write) scan must return EVERY
    // row the replace commit swaps out: Spark pushes the operation's
    // condition here as a GROUP filter (prune groups that cannot
    // match, return kept groups WHOLE), but the replace commit
    // replaces the entire snapshot with the written rows — so any
    // row this scan drops (row filtering, partition pruning, zone
    // maps) would be silently DELETED by an unrelated DELETE/UPDATE/
    // MERGE predicate. Decline every pushdown instead: rows the
    // operation does not touch must flow through to the write-back.
    if (!rowLevelReplace)
      pushed = filters.filter(f =>
        GraftFilterEval.compile(f, tableSchema).isDefined)
    filters // ALL filters stay residual — the conservative contract
  }
  override def pushedFilters(): Array[Filter] = pushed
  // LIMIT pushdown: the store stops emitting after `n` surviving rows
  // per partition. Partial contract: Spark re-applies the global limit
  // above, the pushdown only bounds what ships out of the scan. (No
  // top-N pushdown: a file scan would have to sort inside the reader;
  // TakeOrderedAndProject above the scan does that work.)
  override def pushLimit(n: Int): Boolean =
    if (agg.isDefined || rowLevelReplace) false
    else { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** AGGREGATE pushdown (complete): COUNT(*) / COUNT(col) / MIN / MAX,
    * optionally grouped by flat columns, are answered from the
    * manifest without shipping a single data row — MIN/MAX/COUNT from
    * parquet footer statistics. Complete-pushdown contract: the scan
    * emits exactly one final row per group (single input partition),
    * and Spark replaces the whole Aggregate with a scan readout.
    * Anything outside the supported shape (SUM/AVG/DISTINCT,
    * expression-valued group keys) declines and takes the normal
    * aggregation path. */
  private def aggSupported(a: Aggregation): Boolean = {
    import org.apache.spark.sql.types._
    def flatCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        val i = tableSchema.fieldNames.indexOf(r.fieldNames()(0))
        if (i < 0) None else Some(i)
      case _ => None
    }
    def comparable(i: Int): Boolean = tableSchema(i).dataType match {
      case LongType | IntegerType | DoubleType | StringType | DateType =>
        true
      case _ => false
    }
    a.groupByExpressions().forall(flatCol(_).isDefined) &&
      a.aggregateExpressions().nonEmpty &&
      a.aggregateExpressions().forall {
        case _: CountStar => true
        case c: Count => !c.isDistinct && flatCol(c.column()).isDefined
        case m: Min => flatCol(m.column()).exists(comparable)
        case m: Max => flatCol(m.column()).exists(comparable)
        case _ => false
      }
  }
  // the aggregate scan ignores filters and limits by construction, so
  // it must never coexist with them: today Spark only pushes
  // aggregates when no post-scan filter remains (and ours are all
  // residual), but that is SPARK's invariant — this guard makes it
  // OURS, so a future planner change could only cost the pushdown,
  // never correctness
  private def aggCompatible: Boolean =
    pushed.isEmpty && limit.isEmpty && !rowLevelReplace

  /** An aggregate only pushes when the MANIFEST alone can answer it
    * exactly — zero files opened, zero rows materialized (Iceberg
    * answering COUNT(*) from manifests; parquet footer stats): the
    * version must be delta-free (a pending
    * delete would falsify counts), group keys must be identity
    * partition columns (the manifest key), and every aggregated column
    * must carry zone-map stats. Anything else declines and takes the
    * normal file-scan aggregation path. */
  private def manifestAggSupported(a: Aggregation): Boolean = {
    import org.apache.spark.sql.types._
    def flatOrd(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        val i = tableSchema.fieldNames.indexOf(r.fieldNames()(0))
        if (i < 0) None else Some(i)
      case _ => None
    }
    def statTyped(i: Int): Boolean = tableSchema(i).dataType match {
      case LongType | IntegerType | DoubleType | FloatType |
          StringType | DateType | TimestampType => true
      case _ => false
    }
    val identCols = partFields.collect { case GraftIdentityPart(c) => c }
    // EXISTS_DEFAULTs make "slot absent from file" ≠ "all null", so
    // manifest stats alone can no longer answer COUNT(col)/MIN/MAX
    // exactly — decline and take the exact file-scan path
    if (GraftDefaults.hasAny(tableSchema)) return false
    // after a PARTITION SPEC EVOLUTION, legacy files' manifest keys
    // live in a different domain — grouping them by the current
    // spec's key slots would serve WRONG grouped answers; decline
    // until a rewrite retires them
    val curSpec = GraftParquetStore.meta(tableName)
      .map(_.curSpecId).getOrElse(0)
    GraftTableStore.fileView(tableName, pinnedVersion).exists { fv =>
      // DELETION VECTORS: zone-map stats stay PHYSICAL (a superset of
      // the live rows), so a DV'd file can answer COUNT(*) exactly
      // (rows − dv.card) but NOT COUNT(col)/MIN/MAX — the deleted rows'
      // null counts and extremes are unknown without opening the file
      val dvFree = fv.files.forall(_.dv.isEmpty)
      fv.deletedIds.isEmpty && fv.extras.isEmpty &&
        fv.files.forall(_.specId == curSpec) &&
        a.groupByExpressions().forall(flatOrd(_).exists(i =>
          identCols.contains(tableSchema.fieldNames(i)))) &&
        a.aggregateExpressions().forall {
          case _: CountStar => true
          case c: Count => dvFree && flatOrd(c.column()).exists(statTyped)
          case m: Min => dvFree && flatOrd(m.column()).exists(statTyped)
          case m: Max => dvFree && flatOrd(m.column()).exists(statTyped)
          case _ => true // shape already gated by aggSupported
        }
    }
  }
  private def aggAcceptable(a: Aggregation): Boolean =
    aggCompatible && aggSupported(a) && manifestAggSupported(a)
  override def supportCompletePushDown(a: Aggregation): Boolean =
    aggAcceptable(a)
  override def pushAggregation(a: Aggregation): Boolean = {
    // complete-or-nothing: when supportCompletePushDown said no, this
    // must decline too — the scan does not implement the partial
    // (per-input-partition intermediate rows) contract
    if (!aggAcceptable(a)) return false
    agg = Some(a)
    true
  }

  override def build(): Scan = agg match {
    case Some(a) =>
      new GraftManifestAggScan(tableName, tableSchema, pinnedVersion,
        partFields, a)
    case None =>
      new GraftScan(tableName, tableSchema, pinnedVersion, required,
        pushed, partFields, limit, options, metaCols)
  }
}

/** Best-effort row-predicate compiler for the v1 Filter algebra over
  * flat columns of primitive/string type — `None` marks a filter the
  * store cannot evaluate (it simply stays un-pushed). SQL three-valued
  * semantics: a comparison on a NULL field is NOT satisfied. */
object GraftFilterEval {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._

  private def cmp(schema: StructType, attr: String, value: Any)
      : Option[InternalRow => Option[Int]] = {
    val ord = schema.fieldNames.indexOf(attr)
    if (ord < 0 || value == null) return None
    schema(ord).dataType match {
      case LongType => Some(r => if (r.isNullAt(ord)) None
        else Some(java.lang.Long.compare(r.getLong(ord),
          value.asInstanceOf[Number].longValue())))
      case IntegerType => Some(r => if (r.isNullAt(ord)) None
        else Some(java.lang.Integer.compare(r.getInt(ord),
          value.asInstanceOf[Number].intValue())))
      case DoubleType =>
        // ±0.0 normalize BOTH sides: Spark's `=` says -0.0 = 0.0 is
        // TRUE (SQL equality), java.lang.Double.compare says -0.0 <
        // 0.0 — and this evaluator SKIPS rows (overwrite delete sets,
        // partition pruning), where a residual cannot repair a wrong
        // drop. NaN stays compare-consistent with catalyst (> all).
        val dv0 = value.asInstanceOf[Number].doubleValue()
        val dv = if (dv0 == 0.0d) 0.0d else dv0
        Some(r => if (r.isNullAt(ord)) None
          else {
            val rv0 = r.getDouble(ord)
            val rv = if (rv0 == 0.0d) 0.0d else rv0
            Some(java.lang.Double.compare(rv, dv))
          })
      case StringType =>
        // compare in UTF8String BINARY order (Spark's string collation),
        // not java.lang.String UTF-16 code-unit order: for supplementary
        // (non-BMP) characters the two orders DISAGREE (a 4-byte UTF-8
        // sequence starts F0.. and sorts above every BMP string, while
        // its UTF-16 surrogates D800..DFFF sort below ..￿),
        // and this evaluator also drives INSERT OVERWRITE delete sets
        // and partition pruning where a residual cannot repair a skip
        val that = org.apache.spark.unsafe.types.UTF8String
          .fromString(value.toString)
        Some(r => if (r.isNullAt(ord)) None
          else Some(r.getUTF8String(ord).compareTo(that)))
      case TimestampType =>
        // literals arrive as java.sql.Timestamp (or Instant under the
        // java8 API conf); rows hold epoch micros
        GraftFilterEval.tsMicros(value).map { that =>
          r => if (r.isNullAt(ord)) None
            else Some(java.lang.Long.compare(r.getLong(ord), that))
        }
      case DateType =>
        GraftFilterEval.dateDays(value).map { that =>
          r => if (r.isNullAt(ord)) None
            else Some(java.lang.Integer.compare(r.getInt(ord), that))
        }
      case _ => None
    }
  }

  /** a datetime filter literal lowered into the internal row domain. */
  private[sources] def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(org.apache.spark.sql.catalyst
      .util.DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant => Some(org.apache.spark.sql.catalyst
      .util.DateTimeUtils.instantToMicros(t))
    case _ => None
  }
  private[sources] def dateDays(v: Any): Option[Int] = v match {
    case d: java.sql.Date => Some(org.apache.spark.sql.catalyst
      .util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(org.apache.spark.sql.catalyst
      .util.DateTimeUtils.localDateToDays(d))
    case _ => None
  }

  def compile(f: Filter, schema: StructType)
      : Option[InternalRow => Boolean] = f match {
    case EqualTo(a, v) => cmp(schema, a, v).map(c => r => c(r).contains(0))
    // null-safe equality (how INSERT OVERWRITE partition specs arrive):
    // NULL <=> NULL is true, NULL <=> value is false
    case EqualNullSafe(a, null) =>
      val ord = schema.fieldNames.indexOf(a)
      if (ord < 0) None else Some(r => r.isNullAt(ord))
    case EqualNullSafe(a, v) =>
      cmp(schema, a, v).map(c => r => c(r).contains(0))
    case GreaterThan(a, v) =>
      cmp(schema, a, v).map(c => r => c(r).exists(_ > 0))
    case GreaterThanOrEqual(a, v) =>
      cmp(schema, a, v).map(c => r => c(r).exists(_ >= 0))
    case LessThan(a, v) =>
      cmp(schema, a, v).map(c => r => c(r).exists(_ < 0))
    case LessThanOrEqual(a, v) =>
      cmp(schema, a, v).map(c => r => c(r).exists(_ <= 0))
    case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      val cs = vs.toSeq.map(v => cmp(schema, a, v))
      if (cs.exists(_.isEmpty)) None
      else Some(r => cs.flatten.exists(c => c(r).contains(0)))
    case IsNull(a) =>
      val ord = schema.fieldNames.indexOf(a)
      if (ord < 0) None else Some(r => r.isNullAt(ord))
    case IsNotNull(a) =>
      val ord = schema.fieldNames.indexOf(a)
      if (ord < 0) None else Some(r => !r.isNullAt(ord))
    case And(l, rr) => for {
      cl <- compile(l, schema); cr <- compile(rr, schema)
    } yield (r: InternalRow) => cl(r) && cr(r)
    case Or(l, rr) => for {
      cl <- compile(l, schema); cr <- compile(rr, schema)
    } yield (r: InternalRow) => cl(r) || cr(r)
    case Not(inner) =>
      // NOT over three-valued logic is not expressible on a boolean
      // evaluator that folds NULL to false — leave it un-pushed
      None
    case _ => None
  }
}

/** Per-table telemetry of the last deletion-vector DELETE, for the spec
  * suite. It stays a last-write-wins map because the DV commit has no
  * per-query metric channel: Spark 4.1's `DeleteFromTableExec` (the
  * metadata-only DELETE) declares no custom metrics, and an equality
  * delete ([[GraftTableStore.commitEqDelete]]) is a direct call, not a
  * query. */
object GraftDvMetrics {
  /** readout of the last deletion-vector DELETE against a table: of
    * the manifest's files, how many the DV job OPENED (zone-map
    * prescreen survivors), how many left the manifest entirely (every
    * live row matched) and how many swapped to a bitmap-carrying
    * entry. `filesTotal - filesOpened` files were proven clean without
    * a byte of I/O. */
  final case class Report(filesTotal: Int, filesOpened: Int,
      filesDropped: Int, filesDvd: Int, rowsDeleted: Long)
  private[graft] val last = new TrieMap[String, Report]()
}

/** Scan telemetry through Spark's DSv2 metric channel. A scan mixes in
  * [[Reporting]], records the [[Report]] of its latest
  * `planInputPartitions` call, and Spark's `BatchScanExec` posts it once
  * runtime filtering has run: the numbers are SQL metrics of that
  * query's scan node, so they are per query and kept by the SQL status
  * store with the rest of the plan's metrics. */
object GraftScanMetrics {
  /** Of the scanned version: how many partitions the table had, how
    * many survived STATIC partition pruning (pushed partition-column
    * predicates), and how many a RUNTIME filter emptied (join-key
    * pruning at execution). `files*`/`bytes*` are MEASURED I/O: of
    * the version's manifest, how many files / bytes the planned scan
    * actually opens after static pruning and runtime emptying. Each
    * field is one SQL metric of the same name. */
  final case class Report(totalPartitions: Int, keptPartitions: Int,
      runtimeEmptied: Int, filesTotal: Int = 0, filesRead: Int = 0,
      bytesTotal: Long = 0L, bytesRead: Long = 0L) {
    def taskMetrics: Array[CustomTaskMetric] =
      productElementNames.zip(productIterator).map { case (n, v) =>
        val l = v.asInstanceOf[Number].longValue
        new CustomTaskMetric {
          override def name(): String = n
          override def value(): Long = l
        }: CustomTaskMetric
      }.toArray
  }

  /** the seven metrics, one per [[Report]] field */
  val supported: Array[CustomMetric] = Array(
    "totalPartitions" -> "partitions in the scanned version",
    "keptPartitions" -> "partitions kept by static pruning",
    "runtimeEmptied" -> "partitions emptied by runtime filters",
    "filesTotal" -> "files in the scanned manifest",
    "filesRead" -> "files the scan opens",
    "bytesTotal" -> "bytes in the scanned manifest",
    "bytesRead" -> "bytes the scan opens"
  ).map { case (n, d) => new GraftScanMetric(n, d): CustomMetric }

  /** a scan's side of the channel: `record` at planning time, Spark
    * reads it back through `reportDriverMetrics` */
  trait Reporting extends Scan {
    @volatile private var reported = Array.empty[CustomTaskMetric]
    protected def record(r: Report): Unit = reported = r.taskMetrics
    override def supportedCustomMetrics(): Array[CustomMetric] = supported
    override def reportDriverMetrics(): Array[CustomTaskMetric] = reported
  }
}

/** One [[GraftScanMetrics]] number; Spark sums the reported values. The
  * SQL status store re-creates the class through its no-argument
  * constructor to aggregate, which needs only the sum. */
class GraftScanMetric(n: String, d: String) extends CustomSumMetric {
  def this() = this("", "")
  override def name(): String = n
  override def description(): String = d
}

/** One input partition's share of a file scan: the files of one
  * partition key (`key` null when unpartitioned) plus the op-log
  * extras that belong to it. */
private[sources] final case class GraftFileGroup(key: InternalRow,
    files: Vector[GraftFileInfo], extras: Array[InternalRow])

class GraftScan(tableName: String, tableSchema: StructType,
    pinnedVersion: Option[Int] = None,
    requiredSchema: StructType = null,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] =
      Array.empty,
    partFields: Array[GraftPartField] = Array.empty,
    limit: Option[Int] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    metaCols: Seq[String] = Nil)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering
    with GraftScanMetrics.Reporting {
  import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  private val outSchema =
    Option(requiredSchema).getOrElse(tableSchema)
  private val partitionCols = partFields.map(_.col)
  private val partTypes =
    partFields.map(GraftPartField.keyType(_, tableSchema))
  // identity partition values are constant within a partition, so
  // predicates over ONLY these columns prune whole partitions; bucket
  // columns vary within their bucket and stay row-level
  private val identityCols = partFields.collect {
    case GraftIdentityPart(c) => c
  }
  override def readSchema(): StructType =
    if (metaCols.isEmpty) outSchema
    else StructType(outSchema.fields ++ metaCols.map(n =>
      org.apache.spark.sql.types.StructField(n, GraftMetaCols.dtOf(n),
        nullable = true)))
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(tableName, tableSchema, outSchema,
      maxRowsPerTrigger = options.getLong("maxRowsPerTrigger", -1L),
      maxCommitsPerTrigger = options.getLong("maxCommitsPerTrigger", -1L))
  override def description(): String = {
    val at = pinnedVersion.map(v => s"@v$v").getOrElse("")
    val fs =
      if (pushedFilters.isEmpty) ""
      else s", pushed=[${pushedFilters.mkString(",")}]"
    val pb =
      if (partitionCols.isEmpty) ""
      else s", partitionedBy=[${partitionCols.mkString(",")}]"
    val lm = limit.map(n => s", limit=$n").getOrElse("")
    s"GraftScan[$tableName$at, " +
      s"cols=[${outSchema.fieldNames.mkString(",")}]$fs$pb$lm]"
  }

  /** the scanned version as a file view. A chain [[GraftTableStore
    * .fileView]] cannot fold (mixed id domains) resolves on the driver
    * and rides as extras; an invalid or expired version fails loudly
    * there. */
  private lazy val view: GraftTableStore.GraftFileView =
    GraftTableStore.fileView(tableName, pinnedVersion).getOrElse(
      GraftTableStore.resolvedView(tableName, pinnedVersion))

  // ---- the FILE-GRANULAR plan ----------------------------------------
  //
  // The scan never materializes a data row at the driver: static
  // pruning drops whole FILES by the manifest key, each surviving
  // partition ships (paths, residual filters, deletion ids) and the
  // task opens its own files where it runs — the manifest-pruned file
  // scan a lake format plans at 100 TB. Extras = delta-commit
  // inserts/updates (O(changes), driver-held op logs) ride
  // pre-projected in their key's partition. Rows written before an ADD
  // COLUMN are narrower than the current schema and read their missing
  // trailing fields as NULL (or the exists-default): schema evolution
  // on read. Pushed filters run task-side against the padded rows;
  // Spark re-applies them above the scan (residual contract).
  private lazy val filePlan
      : (Int, Array[GraftFileGroup], GraftTableStore.GraftFileView) = {
    val fv = view
    val partOnly = pushedFilters.filter(
      _.references.forall(identityCols.contains))
    val partPreds = partOnly.flatMap(
      GraftFilterEval.compile(_, tableSchema))
    val hiddenPreds = pushedFilters.flatMap(
      GraftPartField.hiddenPrune(partFields, tableSchema, _))
    val rowFilters = pushedFilters.diff(partOnly)
    val rowPreds = rowFilters.flatMap(
      GraftFilterEval.compile(_, tableSchema))
    val paddedExtras = GraftChangeFeed.padTo(fv.extras,
      tableSchema).filter(r => rowPreds.forall(_(r)))
    // ZONE-MAP FILE SKIPPING: a pushed row predicate that the
    // manifest's per-file min/max/nulls PROVE unsatisfiable drops
    // the file before any partition forms — data skipping beyond
    // partition pruning (parquet footer stats, served manifest-side)
    val liveFiles = fv.files.filterNot(f =>
      rowFilters.exists(GraftZoneMap.skips(_, f, tableSchema)))
    if (partFields.isEmpty) {
      // live files packed into about defaultParallelism input
      // partitions (`packFiles`) — a parallel read without a task per
      // small file — plus one for the extras
      val fileGroups = GraftParquetStore.packFiles(liveFiles)
        .map(GraftFileGroup(null, _, Array.empty))
      val groups =
        if (paddedExtras.isEmpty) fileGroups
        else fileGroups :+
          GraftFileGroup(null, Vector.empty, paddedExtras)
      (math.max(groups.length, 1), groups.toArray, fv)
    } else {
      // PARTITION SPEC EVOLUTION (Iceberg's spec-id indirection):
      // files written under an OLDER spec keep their own key domain
      // — they prune by THEIR spec (legacyKeeps) and never join the
      // current spec's key-grouped alignment; only current-spec
      // files key-group, and outputPartitioning reports Unknown
      // while any legacy file is live (SPJ needs one domain).
      val specs = GraftParquetStore.meta(tableName).map(_.specs)
        .getOrElse(Vector(partFields))
      val curSpecId = specs.length - 1
      val (curFiles, legacyFiles) =
        liveFiles.partition(_.specId == curSpecId)
      val legacyGroups = legacyFiles.filter(legacyKeeps(specs, _))
        .map(f => GraftFileGroup(null, Vector(f), Array.empty))
      // one input partition per partition VALUE (key-grouped, SPJ-
      // aligned); identity-only predicates evaluate against a
      // synthetic row carrying the manifest key — no file opened
      val extrasByKey = {
        val keyProj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(partFields.map(
            GraftPartField.keyExpr(_, tableSchema)).toIndexedSeq)
        paddedExtras.groupBy(r => keyProj(r).copy(): InternalRow)
      }
      val filesByKey = curFiles.groupBy(_.key)
      val allKeys = (filesByKey.keySet ++ extrasByKey.keySet).toArray
        .sortBy(_.toString)
      def keyRow(key: InternalRow): InternalRow = {
        val synth = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(tableSchema.length)
        partFields.zipWithIndex.foreach {
          case (GraftIdentityPart(c), i) =>
            synth.update(tableSchema.fieldIndex(c),
              key.get(i, partTypes(i)))
          case _ => () // bucket slots vary within the file — preds
            // over them are never partition-only
        }
        synth
      }
      val kept = allKeys.collect {
        case k if partPreds.forall(_(keyRow(k))) &&
            hiddenPreds.forall(_(k)) => GraftFileGroup(k,
          filesByKey.getOrElse(k, Vector.empty),
          extrasByKey.getOrElse(k, Array.empty))
      }
      (allKeys.length + legacyGroups.length,
        kept ++ legacyGroups, fv)
    }
  }

  /** may a file written under an older partition spec survive the
    * pushed predicates? Evaluated in ITS OWN spec's key domain:
    * identity predicates over that spec's columns check the synthetic
    * key row, hidden-partitioning lifts of that spec's transforms
    * check the raw key — the per-spec manifest evaluation Iceberg
    * performs after a spec evolution. Conservative: anything the old
    * spec cannot prove keeps the file (Spark re-applies every pushed
    * filter above the scan). */
  private def legacyKeeps(specs: Vector[Array[GraftPartField]],
      f: GraftFileInfo): Boolean = {
    val spec = specs(f.specId)
    val hidden = pushedFilters.flatMap(
      GraftPartField.hiddenPrune(spec, tableSchema, _))
    if (!hidden.forall(_(f.key))) return false
    val specIdent = spec.collect {
      case GraftIdentityPart(c) => c
    }.toSet
    if (specIdent.isEmpty) return true
    val synth = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(tableSchema.length)
    spec.zipWithIndex.foreach {
      case (GraftIdentityPart(c), i) =>
        synth.update(tableSchema.fieldIndex(c),
          f.key.get(i, GraftPartField.keyType(spec(i), tableSchema)))
      case _ => ()
    }
    pushedFilters.filter(_.references.forall(specIdent.contains))
      .flatMap(GraftFilterEval.compile(_, tableSchema))
      .forall(_(synth))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (total, groups, fv) = filePlan
    val outOrds = outSchema.fieldNames.map(tableSchema.fieldIndex)
    val shipFilters = pushedFilters.filter(
      !_.references.forall(identityCols.contains))
    val filterOrds = shipFilters.flatMap(_.references)
      .distinct.map(n => tableSchema.fieldNames.indexOf(n))
      .filter(_ >= 0)
    val readOrds = (outOrds ++ filterOrds ++
      (if (fv.deletedIds.nonEmpty) Array(fv.idOrd) else Array.empty[Int]))
      .distinct.sorted
    val extraProj = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(outOrds.map(o =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(o,
          tableSchema(o).dataType, nullable = true)
          : org.apache.spark.sql.catalyst.expressions.Expression)
        .toIndexedSeq)
    var emptied = 0
    val lim = limit.getOrElse(-1)
    val parts: Array[InputPartition] = groups.map { g =>
      val keepIt = (g.key == null) || (runtimeKeep match {
        case Some(byPos) => byPos.forall { case (pos, vals) =>
          vals.contains(g.key.get(pos, partTypes(pos)))
        }
        case None => true
      })
      if (!keepIt) emptied += 1
      val files = if (keepIt) g.files else Vector.empty
      val extras =
        if (keepIt) g.extras.map(r => extraProj(r).copy(): InternalRow)
        else Array.empty[InternalRow]
      if (g.key == null)
        GraftFileScanPartition(files, extras, tableSchema, readOrds,
          outOrds, shipFilters, fv.deletedIds, fv.idOrd, fv.idType,
          lim, metaCols)
      else
        GraftKeyedFileScanPartition(files, extras, tableSchema,
          readOrds, outOrds, shipFilters, fv.deletedIds, fv.idOrd,
          fv.idType, lim, g.key, metaCols)
    }
    val readFiles = parts.collect {
      case p: GraftFileScanPartition => p.files
      case p: GraftKeyedFileScanPartition => p.files
    }.flatten
    record(GraftScanMetrics.Report(total, groups.length, emptied,
      filesTotal = fv.files.length, filesRead = readFiles.length,
      bytesTotal = fv.files.map(_.bytes).sum,
      bytesRead = readFiles.map(_.bytes).sum))
    parts
  }

  // ---- statistics (SupportsReportStatistics) ------------------------
  //
  // MANIFEST-ONLY estimates after static pruning: file row counts and
  // sizes, delta adjustments from op-log counts, a byte size scaled by
  // the pruned column ratio — no row materializes for a stats probe,
  // exactly the numbers a lake format serves from its manifests.
  // Post-pushdown row filters are not discounted (estimates,
  // conservatively high). This is what lets Catalyst AUTO-broadcast a
  // small governed table in a join (no hint):
  // DataSourceV2ScanRelation.computeStats reads it at plan time.
  override def estimateStatistics(): Statistics = {
    val colRatio =
      math.max(1, outSchema.length).toDouble / math.max(1, tableSchema.length)
    val (_, groups, _) = filePlan
    val rows = plannedRows
    val limited = limit.map(n => math.min(rows,
      n.toLong * math.max(groups.length, 1))).getOrElse(rows)
    val fb = groups.iterator.flatMap(_.files).map(_.bytes).sum
    val scaled = math.max(1L, (fb * colRatio).toLong)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(limited)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        if (org.apache.spark.sql.internal.SQLConf.get.cboEnabled)
          graftColumnStats
        else java.util.Collections.emptyMap()
    }
  }

  /** live rows of the planned files and extras */
  private lazy val plannedRows: Long = {
    val (_, groups, fv) = filePlan
    math.max(0L, GraftTableStore.liveRows(
      fv.copy(files = groups.toVector.flatMap(_.files),
        extras = groups.flatMap(_.extras))))
  }

  /** Per-column CBO statistics (nullCount / numeric min+max / ndv) of
    * the projected columns — `transformV2Stats` translates these into
    * catalyst ColumnStat under spark.sql.cbo.enabled, which is what
    * lets join reordering and selectivity estimation treat a governed
    * table like an ANALYZE'd one. Nulls, min and max fold the planned
    * files' zone maps plus the extras (exact on a delete-free version;
    * a deleted row's value still counts, so they bound). The ndv is
    * exact when the planned live rows fit the driver-resolution budget
    * ([[GraftChangeFeed.DriverRows]], through [[graft.Gate.decide]]) —
    * one driver read of the projected columns — and absent above it. A
    * column with an exists-default or without zone maps carries none.
    * Only a CBO-enabled plan pays (Spark asks every scan). */
  private lazy val graftColumnStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    import org.apache.spark.sql.types._
    val (_, groups, fv) = filePlan
    val files = groups.iterator.flatMap(_.files).toVector
    val extras = groups.flatMap(_.extras)
    val cols = outSchema.fields.map(f =>
      (f, tableSchema.fieldIndex(f.name))).filter { case (f, ord) =>
      (f.dataType match {
        case LongType | IntegerType | DoubleType | DateType | StringType =>
          true
        case _ => false
      }) && !GraftDefaults.has(tableSchema, ord) &&
        files.forall(fl => ord >= fl.numCols || fl.stats.contains(ord))
    }
    // the exact ndv's one driver read: projected columns (and the row
    // id a pending delete keys by) of the planned files, plus extras
    lazy val liveVals: Array[InternalRow] = {
      val ords = (cols.map(_._2) ++
        (if (fv.deletedIds.nonEmpty) Array(fv.idOrd) else Array.empty[Int]))
        .distinct
      val deleted = fv.deletedIds.toSet
      files.iterator.flatMap(GraftParquetStore.readFile(_, tableSchema,
        ords)).filter(r => deleted.isEmpty ||
          !deleted.contains(r.get(fv.idOrd, fv.idType)))
        .map(_.copy()).toArray ++ extras
    }
    val rows = plannedRows
    val exactNdv = cols.nonEmpty && graft.Gate.decide("scan column ndv",
      rows, GraftChangeFeed.DriverRows).local
    val m = new java.util.HashMap[NamedReference, ColumnStatistics]()
    cols.foreach { case (f, ord) =>
      val dt = f.dataType
      var nulls = 0L
      var minV: Any = null
      var maxV: Any = null
      def fold(lo: Any, hi: Any): Unit = {
        if (lo != null && (minV == null ||
            GraftZoneMap.cmpStat(dt, lo, minV) < 0)) minV = lo
        if (hi != null && (maxV == null ||
            GraftZoneMap.cmpStat(dt, hi, maxV) > 0)) maxV = hi
      }
      files.foreach { fl =>
        if (ord >= fl.numCols) nulls += fl.rows // slot absent: all null
        else {
          val st = fl.stats(ord)
          nulls += st.nulls
          fold(st.min, st.max)
        }
      }
      extras.foreach { r =>
        if (r.isNullAt(ord)) nulls += 1
        else { val v = r.get(ord, dt); fold(v, v) }
      }
      val ndv =
        if (!exactNdv) None
        else {
          val seen = new java.util.HashSet[Any]()
          liveVals.foreach { r =>
            if (!r.isNullAt(ord)) seen.add(r.get(ord, dt) match {
              case u: org.apache.spark.unsafe.types.UTF8String => u.toString
              case other => other
            })
          }
          Some(seen.size.toLong)
        }
      // numeric columns only (a pre-widening file's stat may still be
      // the narrow Number): CBO reads string min/max as nothing
      def num(v: Any): Any = (dt, v) match {
        case (_, null) | (StringType, _) => null
        case (LongType, n: Number) => n.longValue()
        case (DoubleType, n: Number) => n.doubleValue()
        case _ => v
      }
      val (mn, mx) = (num(minV), num(maxV))
      val nc = math.min(nulls, math.max(rows, 0L))
      m.put(Expressions.column(f.name), new ColumnStatistics {
        override def distinctCount(): java.util.OptionalLong =
          ndv.fold(java.util.OptionalLong.empty())(
            java.util.OptionalLong.of)
        override def nullCount(): java.util.OptionalLong =
          java.util.OptionalLong.of(nc)
        override def min(): java.util.Optional[Object] =
          java.util.Optional.ofNullable(mn.asInstanceOf[Object])
        override def max(): java.util.Optional[Object] =
          java.util.Optional.ofNullable(mx.asInstanceOf[Object])
      })
    }
    m
  }

  // ---- storage partitioning (SupportsReportPartitioning) ------------
  //
  // A partitioned table whose partition columns survive projection
  // reports KeyGroupedPartitioning over identity transforms: with
  // spark.sql.sources.v2.bucketing.enabled, two tables co-partitioned
  // on the join key hash-join WITHOUT a shuffle on either side (the
  // storage-partitioned join — at 100 TB the single biggest exchange
  // in a fact-fact join simply disappears). Input partitions carry
  // their key via HasPartitionKey; Spark groups and aligns them.
  private def numPlannedPartitions: Int = filePlan._2.length
  override def outputPartitioning(): Partitioning =
    // every transform kind reports: identity compares raw values,
    // and bucket/days/truncate resolve through the catalog-published
    // functions (GraftBucketFunction / GraftDaysFunction /
    // GraftTruncateFunction), so both SPJ sides evaluate the SAME
    // function over the SAME key domain — the handshake that lets a
    // hidden-partitioned join skip its shuffles
    if (partFields.nonEmpty &&
        partitionCols.forall(outSchema.fieldNames.contains) &&
        !hasLegacySpecFiles)
      new KeyGroupedPartitioning(
        partFields.map(GraftPartField.toSpjTransform(_)
          : org.apache.spark.sql.connector.expressions.Expression),
        numPlannedPartitions)
    else new UnknownPartitioning(numPlannedPartitions)

  /** does the scanned version still hold files written under an older
    * partition spec? Their keys live in a DIFFERENT domain, so the
    * scan must not claim KeyGroupedPartitioning (an SPJ alignment
    * over mixed domains would mis-join); the claim returns as soon as
    * a rewrite (OPTIMIZE / overwrite) retires the legacy files. */
  private lazy val hasLegacySpecFiles: Boolean = {
    val cur = GraftParquetStore.meta(tableName).map(_.curSpecId).getOrElse(0)
    view.files.exists(_.specId != cur)
  }

  // ---- runtime filtering (SupportsRuntimeV2Filtering) ---------------
  //
  // At execution, a selective join hands the scan the observed join-key
  // values (dynamic partition pruning, DSv2 form). Pruned partitions
  // are EMPTIED, never removed: HasPartitionKey partition identity must
  // survive runtime filtering when KeyGroupedPartitioning was reported
  // (Spark requires the partition-value set to stay stable), and an
  // empty partition ships zero rows — the full data-skipping win with
  // none of the re-planning hazard.
  @volatile private var runtimeKeep: Option[Map[Int, Set[Any]]] = None
  // only partition columns that SURVIVED column pruning may be
  // advertised: Spark's PartitionPruning resolves these against the
  // scan's OUTPUT, and a reference to a projected-away column is an
  // AnalysisException at planning time (hit by any join over a
  // partitioned scan that doesn't select its partition column)
  override def filterAttributes(): Array[NamedReference] =
    partitionCols.filter(c => outSchema.fieldNames.contains(c))
      .map(Expressions.column)
  override def filter(predicates: Array[Predicate]): Unit = {
    val keep = scala.collection.mutable.HashMap[Int, Set[Any]]()
    predicates.foreach { p =>
      if (p.name() == "IN" || p.name() == "=") {
        val refs = p.children().collect { case r: NamedReference => r }
        val lits = p.children().collect { case l: Literal[_] => l }
        if (refs.length == 1 && refs(0).fieldNames().length == 1 &&
            lits.length == p.children().length - 1) {
          val keyPos = partitionCols.indexOf(refs(0).fieldNames()(0))
          if (keyPos >= 0) {
            // runtime filters arrive as RAW column values; a bucket
            // partition keeps the buckets those values land in. A NULL
            // literal (nullable dim join key) is dropped — null never
            // equi-joins, so it selects no partition.
            val nonNull = lits.filter(_.value() != null)
            // V2 literals carry INTERNAL Catalyst values (micros for
            // timestamps, UTF8String for strings) — the transform
            // arithmetic applies directly
            val vals = partFields(keyPos) match {
              case GraftIdentityPart(_) =>
                nonNull.map(_.value(): Any).toSet
              case GraftBucketPart(_, n) =>
                nonNull.map(l =>
                  GraftPartField.bucketOf(l.value(), n): Any).toSet
              case GraftDaysPart(c) =>
                nonNull.map(l => (l.value() match {
                  case us: java.lang.Long
                    if tableSchema(c).dataType == org.apache.spark.sql
                      .types.TimestampType =>
                    val secs = Math.floorDiv(us.longValue(), 1000000L)
                    secs - Math.floorMod(secs,
                      GraftPartField.SecondsPerDay)
                  case other => other
                }): Any).toSet
              case GraftTruncatePart(c, w) =>
                nonNull.map(l => (l.value() match {
                  case n: java.lang.Long =>
                    n - Math.floorMod(n.longValue(), w.toLong)
                  case n: java.lang.Integer =>
                    n - Math.floorMod(n.intValue(), w)
                  case u: org.apache.spark.unsafe.types.UTF8String =>
                    if (u.numChars() <= w) u else u.substring(0, w)
                  case other => other
                }): Any).toSet
            }
            keep.updateWith(keyPos) {
              case Some(prev) => Some(prev.intersect(vals))
              case None => Some(vals)
            }
          }
        }
      }
    }
    if (keep.nonEmpty) runtimeKeep = Some(keep.toMap)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftFileReaderFactory
}

/** Aggregate pushdown answered FROM THE MANIFEST — ZERO files opened,
  * zero rows materialized: COUNT(*) sums file row counts, COUNT(col)
  * sums (rows − nulls), MIN/MAX fold the per-file zone maps (EXACT by
  * construction — collected from every value as the file was written,
  * never truncated). Group keys are identity partition columns, read
  * off the manifest key. One input partition holds the FINAL rows
  * (group keys + COUNT/MIN/MAX values), sorted by group key; Spark
  * replaces the whole Aggregate with this readout. This is Iceberg
  * answering COUNT(*) from manifests / parquet footer stats, and it is
  * why a 100 TB `SELECT count(*) ... GROUP BY partition` costs one
  * metadata pass. Planned only for delta-free versions (checked at
  * push time); if a delta lands between push and plan, planning
  * computes the answer exactly from the version's rows rather than
  * serve a stale manifest answer. */
class GraftManifestAggScan(tableName: String, tableSchema: StructType,
    pinnedVersion: Option[Int], partFields: Array[GraftPartField],
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    extends Scan with Batch with GraftScanMetrics.Reporting {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  private def ordOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Int = tableSchema.fieldNames.indexOf(
    e.asInstanceOf[NamedReference].fieldNames()(0))
  private val groupOrds = agg.groupByExpressions().map(ordOf)

  override def readSchema(): StructType = StructType(
    groupOrds.map(tableSchema(_)) ++
      agg.aggregateExpressions().zipWithIndex.map {
        case (_: CountStar, i) =>
          StructField(s"agg_$i", LongType, nullable = false)
        case (_: Count, i) =>
          StructField(s"agg_$i", LongType, nullable = false)
        case (m: Min, i) =>
          StructField(s"agg_$i", tableSchema(ordOf(m.column())).dataType)
        case (m: Max, i) =>
          StructField(s"agg_$i", tableSchema(ordOf(m.column())).dataType)
        case (other, _) => throw new IllegalStateException(
          s"unsupported pushed aggregate: $other")
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftManifestAggScan[$tableName, pushedAggregates=[" +
      s"${agg.aggregateExpressions().mkString(",")}], groupBy=[" +
      s"${agg.groupByExpressions().mkString(",")}], manifest-only]"

  override def planInputPartitions(): Array[InputPartition] = {
    val curSpec = GraftParquetStore.meta(tableName)
      .map(_.curSpecId).getOrElse(0)
    val fv = GraftTableStore.fileView(tableName, pinnedVersion)
      .filter(v => v.deletedIds.isEmpty && v.extras.isEmpty &&
        // a spec evolution between push and plan would misgroup
        // legacy keys — same re-check as the push gate; a DV landing
        // after push falsifies COUNT(col)/MIN/MAX the same way
        v.files.forall(_.specId == curSpec) &&
        (v.files.forall(_.dv.isEmpty) ||
          agg.aggregateExpressions().forall(_.isInstanceOf[CountStar])))
    fv match {
      case None => planExactly() // a delta (or spec change) landed
      case Some(v) => planFromManifest(v.files)
    }
  }

  /** the exact answer from the version's driver-resolved rows — only
    * when a commit between push and plan made the manifest unable to
    * answer (a rare race; the push gate declines such versions). */
  private def planExactly(): Array[InputPartition] = {
    val raw = pinnedVersion
      .map(GraftTableStore.getVersion(tableName, _))
      .getOrElse(GraftTableStore.get(tableName))
    val rows = GraftChangeFeed.padTo(raw, tableSchema)
    val groupTypes = groupOrds.map(tableSchema(_).dataType)
    def ordering(dt: DataType): Ordering[Any] = (dt match {
      case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case IntegerType | DateType =>
        Ordering.Int.on[Any](_.asInstanceOf[Int])
      case DoubleType => Ordering.Double.TotalOrdering
        .on[Any](_.asInstanceOf[Double])
      case StringType =>
        // MIN/MAX over strings must use UTF8String BINARY order (what
        // Spark's Min/Max compute) — this is a COMPLETE pushdown, so a
        // UTF-16-ordered answer for non-BMP data would ship as final
        new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
              .compareTo(
                b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        }
      case other => throw new IllegalStateException(
        s"unsupported pushed-aggregate column type: $other")
    })
    // a GLOBAL aggregate (no group keys) over an empty table still
    // returns exactly one row — COUNT 0, MIN/MAX NULL (SQL semantics)
    val groups =
      if (groupOrds.isEmpty && rows.isEmpty)
        Map(IndexedSeq.empty[Any] -> Array.empty[InternalRow])
      else rows.groupBy(r =>
        groupOrds.indices.map(i =>
          r.get(groupOrds(i), groupTypes(i))).toIndexedSeq)
    val out = groups.toArray.sortBy(_._1.toString).map { case (k, rs) =>
      val vals = new Array[Any](groupOrds.length +
        agg.aggregateExpressions().length)
      k.indices.foreach(i => vals(i) = k(i))
      agg.aggregateExpressions().zipWithIndex.foreach { case (fn, i) =>
        val slot = groupOrds.length + i
        vals(slot) = fn match {
          case _: CountStar => rs.length.toLong
          case c: Count =>
            val o = ordOf(c.column())
            rs.count(!_.isNullAt(o)).toLong
          case m: Min =>
            val o = ordOf(m.column()); val dt = tableSchema(o).dataType
            val nn = rs.iterator.filter(!_.isNullAt(o)).map(_.get(o, dt))
            if (nn.isEmpty) null else nn.min(ordering(dt))
          case m: Max =>
            val o = ordOf(m.column()); val dt = tableSchema(o).dataType
            val nn = rs.iterator.filter(!_.isNullAt(o)).map(_.get(o, dt))
            if (nn.isEmpty) null else nn.max(ordering(dt))
          case other => throw new IllegalStateException(
            s"unsupported pushed aggregate: $other")
        }
      }
      new GenericInternalRow(vals): InternalRow
    }
    Array(GraftInputPartition(out))
  }

  private def planFromManifest(files: Vector[GraftFileInfo])
      : Array[InputPartition] = {
    // group-key slot in the manifest key for each group column
    val keySlots = groupOrds.map { o =>
      val c = tableSchema.fieldNames(o)
      partFields.indexWhere {
        case GraftIdentityPart(pc) => pc == c
        case _ => false
      }
    }
    val keyTypes = partFields.map(GraftPartField.keyType(_, tableSchema))
    val groups =
      if (groupOrds.isEmpty)
        Map(IndexedSeq.empty[Any] -> files) // global: empty set → 1 row
      else files.groupBy(f =>
        keySlots.indices.map(i =>
          f.key.get(keySlots(i), keyTypes(keySlots(i)))).toIndexedSeq)
    val out = groups.toArray.sortBy(_._1.toString).map { case (k, fs) =>
      val vals = new Array[Any](groupOrds.length +
        agg.aggregateExpressions().length)
      k.indices.foreach(i => vals(i) = k(i))
      agg.aggregateExpressions().zipWithIndex.foreach { case (fn, i) =>
        val slot = groupOrds.length + i
        vals(slot) = fn match {
          case _: CountStar => fs.iterator.map(_.liveRows.toLong).sum
          case c: Count =>
            val o = ordOf(c.column())
            fs.iterator.map { f =>
              if (o >= f.numCols) 0L // slot absent: all-null in file
              else f.stats.get(o) match {
                case Some(s) => (f.rows - s.nulls).toLong
                case None => throw new IllegalStateException(
                  s"manifest of $tableName lacks stats for pushed " +
                    s"COUNT column ordinal $o — push gate out of sync")
              }
            }.sum
          case m: Min => foldStat(fs, ordOf(m.column()), want = -1)
          case m: Max => foldStat(fs, ordOf(m.column()), want = 1)
          case other => throw new IllegalStateException(
            s"unsupported pushed aggregate: $other")
        }
      }
      new GenericInternalRow(vals): InternalRow
    }
    // the readout the spec pins: the whole manifest was "scanned",
    // ZERO files opened, zero bytes read
    record(GraftScanMetrics.Report(1, 1, 0,
      filesTotal = files.length, filesRead = 0,
      bytesTotal = files.map(_.bytes).sum, bytesRead = 0L))
    Array(GraftInputPartition(out))
  }

  /** fold per-file exact min/max; `want` = −1 for MIN, +1 for MAX.
    * Files where the slot is absent or all-null contribute nothing;
    * NULL when no file holds a value (SQL MIN/MAX-over-nulls). */
  private def foldStat(fs: Vector[GraftFileInfo], o: Int,
      want: Int): Any = {
    val dt = tableSchema(o).dataType
    var best: Any = null
    fs.foreach { f =>
      if (o < f.numCols) f.stats.get(o).foreach { s =>
        val cand = if (want < 0) s.min else s.max
        if (cand != null && (best == null ||
            Integer.signum(GraftZoneMap.cmpStat(dt, cand, best)) == want))
          best = cand
      }
    }
    best
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GraftRowsReaderFactory
}

/** Driver-held rows + the pruned-column ordinals of the content
  * stream's row path (op-log inserts, the driver-side fallback); the
  * reader applies the narrow projection executor-side. */
case class GraftProjectedPartition(rows: Array[InternalRow],
    ordinals: Array[Int],
    types: Array[org.apache.spark.sql.types.DataType])
    extends InputPartition

/** A FILE-granular scan partition: paths and
  * metadata ride to the task, the ROWS never touch the driver. The
  * reader opens each file where it runs, decodes only `readOrds`,
  * drops MoR-deleted ids, applies the pushed residual filters, and
  * projects `outOrds`; `extras` (delta inserts/updates, O(changes))
  * arrive pre-projected. `limitPerPart` < 0 = unbounded. */
sealed trait GraftFileScanPart {
  def files: Vector[GraftFileInfo]
  def extras: Array[InternalRow]
  def physSchema: StructType
  def readOrds: Array[Int]
  def outOrds: Array[Int]
  def filters: Array[org.apache.spark.sql.sources.Filter]
  def deletedIds: Array[Any]
  def idOrd: Int
  def idType: org.apache.spark.sql.types.DataType
  def limitPerPart: Int
  def metaCols: Seq[String]
}
case class GraftFileScanPartition(files: Vector[GraftFileInfo],
    extras: Array[InternalRow], physSchema: StructType,
    readOrds: Array[Int], outOrds: Array[Int],
    filters: Array[org.apache.spark.sql.sources.Filter],
    deletedIds: Array[Any], idOrd: Int,
    idType: org.apache.spark.sql.types.DataType, limitPerPart: Int,
    metaCols: Seq[String] = Nil)
    extends InputPartition with GraftFileScanPart
case class GraftKeyedFileScanPartition(files: Vector[GraftFileInfo],
    extras: Array[InternalRow], physSchema: StructType,
    readOrds: Array[Int], outOrds: Array[Int],
    filters: Array[org.apache.spark.sql.sources.Filter],
    deletedIds: Array[Any], idOrd: Int,
    idType: org.apache.spark.sql.types.DataType, limitPerPart: Int,
    key: InternalRow, metaCols: Seq[String] = Nil)
    extends InputPartition with GraftFileScanPart with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

object GraftFileReaderFactory extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftFileScanPart]
    new PartitionReader[InternalRow] {
      // compiled HERE, task-side: the v1 Filters are what serializes
      private val preds = part.filters.flatMap(
        GraftFilterEval.compile(_, part.physSchema))
      private val deleted: Set[Any] = part.deletedIds.toSet
      private val proj = UnsafeProjection.create(
        part.outOrds.map(o => BoundReference(o,
          part.physSchema(o).dataType, nullable = true)
          : org.apache.spark.sql.catalyst.expressions.Expression)
          .toIndexedSeq)
      private val it: Iterator[InternalRow] = {
        val fileRows =
          if (part.metaCols.isEmpty)
            part.files.iterator.flatMap { f =>
              GraftParquetStore
                .readFile(f, part.physSchema, part.readOrds)
                .filter(r => (deleted.isEmpty ||
                  !deleted.contains(r.get(part.idOrd, part.idType))) &&
                  preds.forall(_(r)))
                .map(proj(_): InternalRow) // reused buffer, per contract
            } ++ part.extras.iterator
          else {
            // METADATA PATH (_file/_pos requested): positions are
            // PHYSICAL record indexes — the file reader counts them as
            // it skips DV-deleted positions, so a live row keeps its
            // address across DV deletes
            import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, Literal, UnsafeProjection}
            val width = part.physSchema.length
            val metaProj = UnsafeProjection.create(
              (part.outOrds.map(o => BoundReference(o,
                part.physSchema(o).dataType, nullable = true)
                : org.apache.spark.sql.catalyst.expressions.Expression)
                ++ part.metaCols.zipWithIndex.map { case (n, i) =>
                  BoundReference(width + i, GraftMetaCols.dtOf(n),
                    nullable = true)
                    : org.apache.spark.sql.catalyst.expressions
                      .Expression
                }).toIndexedSeq)
            val joined = new JoinedRow
            val fileStream = part.files.iterator.flatMap { f =>
              val metaVals = new Array[Any](part.metaCols.length)
              part.metaCols.indices.foreach { i =>
                if (part.metaCols(i) == GraftMetaCols.File)
                  metaVals(i) = org.apache.spark.unsafe.types
                    .UTF8String.fromString(f.path)
              }
              val metaRow = new org.apache.spark.sql.catalyst
                .expressions.GenericInternalRow(metaVals)
              val posSlot = part.metaCols.indexOf(GraftMetaCols.Pos)
              val rows = GraftParquetStore.readFileRaw(f, part.physSchema,
                part.readOrds, f.dv.orNull)
              rows.filter(r => (deleted.isEmpty ||
                  !deleted.contains(r.get(part.idOrd, part.idType))) &&
                  preds.forall(_(r)))
                .map { r =>
                  if (posSlot >= 0) metaVals(posSlot) = rows.position.toLong
                  metaProj(joined(r, metaRow)): InternalRow
                }
            }
            // op-log extras live in no file: NULL metadata
            val nullMeta = new org.apache.spark.sql.catalyst
              .expressions.GenericInternalRow(part.metaCols.length)
            val extraJoin = new JoinedRow
            fileStream ++ part.extras.iterator.map(e =>
              extraJoin(e, nullMeta): InternalRow)
          }
        if (part.limitPerPart >= 0) fileRows.take(part.limitPerPart)
        else fileRows
      }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

object GraftProjectedReaderFactory extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftProjectedPartition]
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(
        part.ordinals.zip(part.types).map { case (ord, dt) =>
          BoundReference(ord, dt, nullable = true)
            : org.apache.spark.sql.catalyst.expressions.Expression
        }.toSeq)
      private var i = -1
      override def next(): Boolean = { i += 1; i < part.rows.length }
      // the projection's output buffer is REUSED across rows — the
      // DSv2 contract allows it (consumers copy when they buffer)
      override def get(): InternalRow = proj(part.rows(i))
      override def close(): Unit = ()
    }
  }
}

case class GraftInputPartition(rows: Array[InternalRow])
    extends InputPartition

/** The one row reader all store-backed scans share: rows ride inside
  * the partition (already materialized, serializable), the reader just
  * walks them. */
object GraftRowsReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[GraftInputPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
  }
}

/** Change-feed derivation over the store's version history: the
  * row-level delta OF each commit (diff of its snapshot against the
  * previous one, keyed by the merge-on-read row id), as table rows
  * extended with `_change_type` (insert / delete / update_preimage /
  * update_postimage) and `_commit_version` — the Delta-CDF row shape.
  * Equality is exact: untouched rows share the same UnsafeRow object
  * across commits (the store's mutate reuses references) and rewritten
  * rows compare by bytes under the shared projection layout. */
/** EXISTS_DEFAULT resolution (ADD COLUMN ... DEFAULT): the per-slot
  * catalyst values a stored row NARROWER than the physical schema
  * reads for its missing trailing slots — Spark's own
  * ResolveDefaultColumns evaluates the metadata SQL (null where no
  * default was declared, i.e. every pre-defaults column keeps reading
  * NULL). Memoized per schema: the evaluation parses SQL, and scans
  * resolve it once per plan, not per row. Runs wherever padding runs
  * (driver for driver-resolved rows, tasks for the file reader). */
object GraftDefaults {
  private val cache =
    new TrieMap[StructType, Array[Any]]()
  def existsDefaults(schema: StructType): Array[Any] =
    cache.getOrElseUpdate(schema,
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .getExistenceDefaultValues(schema))
  /** does ANY field declare an existence default? (gates manifest-only
    * aggregate answers: a narrow file's absent slot is NOT all-null
    * once a default exists) */
  def hasAny(schema: StructType): Boolean =
    existsDefaults(schema).exists(_ != null)
  /** does this field ordinal declare one? (zone-map guard) */
  def has(schema: StructType, ord: Int): Boolean =
    existsDefaults(schema)(ord) != null
}

/** GENERATED COLUMNS + IDENTITY COLUMNS (Spark 4's
  * SUPPORTS_CREATE_TABLE_WITH_{GENERATED,IDENTITY}_COLUMNS — the
  * capabilities gate the DDL, the SOURCE computes the values):
  *  - `c T GENERATED ALWAYS AS (expr)` rides as field metadata; the
  *    WRITE projects the analyzed, ordinal-bound expression over each
  *    incoming row, so the stored value can never drift from the
  *    formula (whatever the writer supplied is recomputed — ALWAYS
  *    semantics; the row-level replace path recomputes too, keeping
  *    UPDATEs consistent).
  *  - `id BIGINT GENERATED ALWAYS AS IDENTITY` reserves values from a
  *    table-level high-water mark at COMMIT time — identity is a
  *    coordination point by nature, so identity tables keep the
  *    row-message commit path (a real format reserves per-transaction
  *    ranges from its log; same shape, simplest form).
  * Expressions are analyzed ONCE driver-side with the session
  * analyzer (type coercion included) and bound to physical ordinals —
  * tasks just run an UnsafeProjection. */
object GraftGenerated {
  import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Expression}
  import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}

  val GenKey = "graft.generated"
  val IdStartKey = "graft.identity.start"
  val IdStepKey = "graft.identity.step"
  val IdExplicitKey = "graft.identity.explicit"

  final case class IdentitySpec(ord: Int, start: Long, step: Long,
      allowExplicit: Boolean)

  def identityOf(schema: StructType): Option[IdentitySpec] =
    schema.fields.zipWithIndex.collectFirst {
      case (f, i) if f.metadata.contains(IdStartKey) =>
        IdentitySpec(i, f.metadata.getLong(IdStartKey),
          f.metadata.getLong(IdStepKey),
          f.metadata.getBoolean(IdExplicitKey))
    }

  def hasGenerated(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(GenKey))

  /** analyzed generation expressions bound to PHYSICAL ordinals —
    * driver-side (needs the session analyzer); the result is
    * serializable Catalyst expressions tasks project directly.
    * Validates at CREATE: the expression must analyze against the
    * table's columns, produce EXACTLY the declared type, and must not
    * read another generated column. */
  def boundGenerators(schema: StructType): Array[(Int, Expression)] = {
    val genOrds = schema.fields.zipWithIndex.collect {
      case (f, i) if f.metadata.contains(GenKey) => i
    }.toSet
    if (genOrds.isEmpty) return Array.empty
    val spark = org.apache.spark.sql.SparkSession.active
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val byId = attrs.map(_.exprId).zipWithIndex.toMap
    schema.fields.zipWithIndex.collect {
      case (f, i) if f.metadata.contains(GenKey) =>
        val sql = f.metadata.getString(GenKey)
        val plan = Project(Seq(Alias(
          CatalystSqlParser.parseExpression(sql), f.name)()),
          LocalRelation(attrs))
        val analyzed = spark.sessionState.analyzer.execute(plan)
        val expr = analyzed.asInstanceOf[Project].projectList.head
          .asInstanceOf[Alias].child
        require(expr.dataType == f.dataType,
          s"generation expression of '${f.name}' produces " +
            s"${expr.dataType.sql}, column is ${f.dataType.sql} — " +
            "add an explicit CAST in the expression")
        val bound = expr.transformUp {
          case a: AttributeReference =>
            val ord = byId.getOrElse(a.exprId,
              throw new IllegalArgumentException(
                s"generation expression of '${f.name}' references " +
                  s"an unresolvable column: ${a.name}"))
            require(!genOrds.contains(ord),
              s"generation expression of '${f.name}' reads another " +
                s"generated column ('${schema(ord).name}')")
            BoundReference(ord, a.dataType, a.nullable)
        }
        i -> bound
    }
  }
}

object GraftChangeFeed {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types.{LongType, StringType, StructField}
  import org.apache.spark.unsafe.types.UTF8String

  private[sources] def cdfSchema(schema: StructType): StructType =
    StructType(schema.fields :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))

  /** Schema-evolution-on-read padding: rows narrower than `arity`
    * (written before an ADD COLUMN) read their missing trailing fields
    * as NULL — or as the column's EXISTS_DEFAULT when one was declared
    * (`ADD COLUMN ... DEFAULT`) — via a JoinedRow with a shared tail;
    * full-width rows pass through untouched (same objects, so the
    * streaming prefix identity check is unaffected for unevolved
    * tables). */
  private[sources] def padTo(rows: Array[InternalRow],
      schema: StructType): Array[InternalRow] = {
    val arity = schema.length
    // tails are IMMUTABLE (never written) — share one per width
    val tails = scala.collection.mutable.HashMap.empty[Int, InternalRow]
    def tail(from: Int): InternalRow = tails.getOrElseUpdate(from,
      new GenericInternalRow(
        GraftDefaults.existsDefaults(schema).slice(from, arity)))
    rows.map { r =>
      if (r.numFields >= arity) r
      else new org.apache.spark.sql.catalyst.expressions.JoinedRow(
        r, tail(r.numFields))
    }
  }

  /** change rows of commit indexes [fromCommit, toCommit). `schema` is
    * the PHYSICAL schema; feed rows carry the VISIBLE columns (+ the
    * two CDF columns) — dropped slots never leave the store, the row
    * id keys by its physical ordinal. */
  /** project one physical row into the feed shape: visible columns +
    * (_change_type, _commit_version). Rows written before an ADD
    * COLUMN are narrower — their missing trailing fields read NULL
    * (evolution on read). */
  private[sources] def emitRow(r: InternalRow, ct: String, v: Int,
      vis: StructType, ords: Array[Int]): InternalRow = {
    val vals = new Array[Any](vis.length + 2)
    var i = 0
    while (i < vis.length) {
      vals(i) =
        if (ords(i) < r.numFields) r.get(ords(i), vis(i).dataType)
        else null
      i += 1
    }
    vals(vis.length) = UTF8String.fromString(ct)
    vals(vis.length + 1) = v.toLong
    new GenericInternalRow(vals)
  }

  /** operations whose commits are CONTENT-NEUTRAL by construction —
    * layout maintenance rewrites the same rows into different files.
    * The feed emits NOTHING for them and opens ZERO files (the
    * snapshot-diff path would not only cost O(table), it would also
    * mis-report fresh row objects as updates after a file rewrite). */
  private[sources] val ContentNeutralOps =
    Set("compact", "binpack", "zorder", "purge-dv")

  /** change rows of ONE commit, derived from COMMIT METADATA where the
    * commit kind allows (the lake-format CDC derivation):
    *   - maintenance commits: nothing, zero I/O;
    *   - MoR delta commits: the op log IS the change set — O(changes);
    *     delete/update PRE-IMAGES resolve via a zone-map/bloom-pruned
    *     DISTRIBUTED id lookup over the base files (never a base
    *     materialization) when the base is file-backed;
    *   - everything else (CoW replace / overwrite / truncate /
    *     restore / plain full commits) falls back to the snapshot
    *     diff.
    * Append commits are NOT served here — [[planParts]] ships them as
    * file-granular input partitions (inserts read task-side from
    * exactly the appended files). This method is the driver-row path
    * shared by the fallback partition and non-planned callers. */
  private[sources] def changesOfCommit(table: String, schema: StructType,
      idOrd: Int, v: Int): Array[InternalRow] = {
    val vis = GraftColumnMap.visible(schema)
    val ords = GraftColumnMap.physOrds(schema)
    GraftTableStore.commitInfo(table, v) match {
      case Some((op, _)) if ContentNeutralOps(op) =>
        Array.empty[InternalRow]
      case Some((_, d: GraftTableStore.GraftDeltaData)) =>
        deltaChanges(table, schema, idOrd, v, d)
      case Some((_, e: GraftTableStore.GraftEqDeleteData)) =>
        eqDeleteChanges(table, schema, v, e)
      case Some((_, p: GraftTableStore.GraftParquetData)) =>
        // an append: inserts are exactly the added files' rows — read
        // them (and only them) instead of diffing snapshots. Driver
        // path for compatibility; planParts ships these as task-side
        // file partitions.
        appendedFiles(table, v, p) match {
          case Some(files) => files.iterator.flatMap { f =>
            GraftParquetStore.readFile(f,
              GraftParquetStore.meta(table).get.schema,
              Array.range(0, f.numCols))
              .map(emitRow(_, "insert", v, vis, ords).copy())
          }.toArray
          case None => snapshotDiff(table, schema, idOrd, v)
        }
      case _ => snapshotDiff(table, schema, idOrd, v)
    }
  }

  /** are two manifest entries the SAME file state? Reference identity
    * within a process; after a LOG REPLAY consecutive commits no longer share
    * objects (and bloom/DV arrays compare by reference under case-class
    * equality), so fall back to the identifying fields — path names the
    * immutable bytes, and a deletion-vector swap (same path, new
    * bitmap) is exactly the in-place mutation the append check must
    * NOT see through. DV bitmaps compare by CONTENT, not cardinality:
    * a restore-then-different-delete sequence can produce two distinct
    * bitmaps of equal cardinality on the same path, and calling those
    * "unchanged" would make the change feed serve wrong rows. */
  private[sources] def sameEntry(a: GraftFileInfo,
      b: GraftFileInfo): Boolean =
    (a eq b) || (a.path == b.path && a.rows == b.rows &&
      ((a.dv, b.dv) match {
        case (None, None) => true
        case (Some(x), Some(y)) =>
          x.card == y.card &&
            ((x.words eq y.words) || x.words.sameElements(y.words))
        case _ => false
      }))

  private[sources] def extendsAsPrefix(cur: Vector[GraftFileInfo],
      prev: Vector[GraftFileInfo]): Boolean =
    cur.length >= prev.length &&
      prev.indices.forall(i => sameEntry(cur(i), prev(i)))

  /** the files commit `v` ADDED when it is a pure append (its manifest
    * extends the previous parquet manifest as a prefix; v0 extends the
    * empty manifest — a shallow clone's first commit included). None
    * when the shape is not an append. Prefix identity is
    * [[sameEntry]]-based so it survives a log replay. */
  private[sources] def appendedFiles(table: String, v: Int,
      p: GraftTableStore.GraftParquetData): Option[Vector[GraftFileInfo]] = {
    if (v == 0) return Some(p.files)
    GraftTableStore.commitInfo(table, v - 1) match {
      case Some((_, prev: GraftTableStore.GraftParquetData))
          if extendsAsPrefix(p.files, prev.files) =>
        Some(p.files.drop(prev.files.length))
      case _ => None
    }
  }

  /** Live rows of version `v-1` of `table` that a feed derivation may
    * resolve on the driver instead of running a distributed lookup over
    * its files (a Spark job per commit): up to this many, the state
    * record's memo holds them once for every later commit of the
    * window and the scans after it. */
  private[sources] val DriverRows = 50000L

  /** does the pre-image state `fv` resolve on the driver? The gate
    * reads the live row count the manifest already records — no job. */
  private def preImagesOnDriver(fv: GraftTableStore.GraftFileView): Boolean =
    graft.Gate.decide("change feed pre-images",
      GraftTableStore.liveRows(fv), DriverRows).local

  /** O(changes) derivation of a MoR delta commit's feed rows. Inserts
    * and update POST-images come straight from the op log; delete and
    * update PRE-IMAGES resolve against the v-1 state. A small state
    * resolves on the driver ([[preImagesOnDriver]]); a large one looks
    * in the folded delta extras (already O(changes) in memory), then
    * runs a DISTRIBUTED lookup over the base files with the id set
    * pushed as an In filter — zone maps and bloom indexes drop files
    * that cannot hold a target id, and only matching rows ship back
    * (O(changes), never O(table)). A chain [[GraftTableStore.fileView]]
    * cannot fold resolves on the driver at any size. */
  private def deltaChanges(table: String, schema: StructType,
      idOrd: Int, v: Int,
      d: GraftTableStore.GraftDeltaData): Array[InternalRow] = {
    val vis = GraftColumnMap.visible(schema)
    val ords = GraftColumnMap.physOrds(schema)
    val idType = d.idType
    val targets = scala.collection.mutable.LinkedHashSet[Any]()
    d.ops.foreach { o =>
      if (o.op == 'D' || o.op == 'U') targets += o.id.get(0, idType)
    }
    val pre: collection.Map[Any, InternalRow] =
      if (targets.isEmpty) Map.empty // insert-only: no pre-image
      else GraftTableStore.fileView(table, Some(v - 1)) match {
        case Some(fv) if v > 0 && !preImagesOnDriver(fv) =>
          val found = scala.collection.mutable.HashMap[Any, InternalRow]()
          // folded extras first: an id updated by an EARLIER delta has
          // its live pre-image there, not in the base files
          fv.extras.foreach { r =>
            val k = r.get(if (fv.idOrd >= 0) fv.idOrd else idOrd, idType)
            if (targets.contains(k)) found.put(k, r)
          }
          val deletedEarlier: Set[Any] = fv.deletedIds.toSet
          val remaining = targets.toSet -- found.keySet -- deletedEarlier
          if (remaining.nonEmpty) {
            val m = GraftParquetStore.meta(table).get
            GraftParquetStore.lookupByIds(
              org.apache.spark.sql.SparkSession.active, m, fv.files,
              idOrd, idType, remaining).foreach { r =>
              val k = r.get(idOrd, idType)
              // a base-file row whose live version was deleted or
              // moved to an extra must not serve as pre-image
              if (remaining.contains(k)) found.put(k, r)
            }
          }
          found
        case _ =>
          // the driver-side state, memoized: index the targets
          val base =
            if (v == 0) Array.empty[InternalRow]
            else GraftTableStore.getVersion(table, v - 1)
          base.iterator.filter(r =>
            targets.contains(r.get(idOrd, idType)))
            .map(r => r.get(idOrd, idType) -> r).toMap
      }
    val out = scala.collection.mutable.ArrayBuffer[InternalRow]()
    d.ops.foreach { o =>
      (o.op: @unchecked) match {
        case 'D' =>
          pre.get(o.id.get(0, idType)).foreach(r =>
            out += emitRow(r, "delete", v, vis, ords))
        case 'U' =>
          // an update of a non-existent id is applyDelta's no-op —
          // no pre-image, nothing emitted (matches the snapshot diff)
          pre.get(o.id.get(0, idType)).foreach { r =>
            out += emitRow(r, "update_preimage", v, vis, ords)
            out += emitRow(o.row, "update_postimage", v, vis, ords)
          }
        case 'I' =>
          out += emitRow(o.row, "insert", v, vis, ords)
      }
    }
    out.toArray
  }

  /** O(matched) derivation of an EQUALITY DELETE commit's feed rows:
    * the commit names only KEYS — which of them actually matched a
    * live row is discovered here, at feed-read time, the way a MoR
    * delta's pre-images are: on the driver for a small state, by the
    * zone-map/bloom-pruned distributed id lookup otherwise (never a
    * large base materialization). Keys that matched nothing emit
    * nothing — exactly the snapshot-diff answer. */
  private def eqDeleteChanges(table: String, schema: StructType,
      v: Int, e: GraftTableStore.GraftEqDeleteData): Array[InternalRow] = {
    val vis = GraftColumnMap.visible(schema)
    val ords = GraftColumnMap.physOrds(schema)
    val targets: Set[Any] = e.keys.toSet
    val matched = scala.collection.mutable.ArrayBuffer[InternalRow]()
    // the distributed lookup is only sound when the folded suffix's
    // deletion-id domain is the eq-delete's own key domain (or there
    // is no suffix at all) — a mismatched chain, like a small state,
    // resolves on the driver
    GraftTableStore.fileView(table, Some(v - 1)) match {
      case Some(fv) if v > 0 && (fv.idOrd < 0 || fv.idOrd == e.keyOrd ||
          (fv.deletedIds.isEmpty && fv.extras.isEmpty)) &&
          !preImagesOnDriver(fv) =>
        val deletedEarlier: Set[Any] =
          if (fv.idOrd == e.keyOrd) fv.deletedIds.toSet else Set.empty
        fv.extras.foreach { r =>
          if (e.keyOrd < r.numFields && !r.isNullAt(e.keyOrd) &&
              targets.contains(r.get(e.keyOrd, e.keyType)))
            matched += r
        }
        val remaining = targets -- deletedEarlier --
          matched.map(_.get(e.keyOrd, e.keyType))
        if (remaining.nonEmpty) {
          val m = GraftParquetStore.meta(table).get
          GraftParquetStore.lookupByIds(
            org.apache.spark.sql.SparkSession.active, m, fv.files,
            e.keyOrd, e.keyType, remaining).foreach { r =>
            val k = r.get(e.keyOrd, e.keyType)
            // a base row whose live version was deleted earlier in
            // the chain (or superseded by an extra) must not re-emit
            if (remaining.contains(k)) matched += r
          }
        }
      case _ =>
        val base =
          if (v == 0) Array.empty[InternalRow]
          else GraftTableStore.getVersion(table, v - 1)
        base.foreach { r =>
          if (e.keyOrd < r.numFields && !r.isNullAt(e.keyOrd) &&
              targets.contains(r.get(e.keyOrd, e.keyType)))
            matched += r
        }
    }
    matched.map(emitRow(_, "delete", v, vis, ords)).toArray
  }

  /** plan the feed of [from, to) as INPUT PARTITIONS: append commits
    * become FILE-GRANULAR partitions (one per appended file — the
    * inserts are read task-side from exactly those files, the property
    * the spec pins); every other commit contributes one O(its changes)
    * row partition computed per the metadata derivation above. */
  /** driver-resident feed rows chunk into bounded partitions instead
    * of one funnel: a 100 GB MERGE's op log is O(changes) by design,
    * but serving it as a single InputPartition made every downstream
    * stage single-task — split so consumers parallelize. */
  private val FeedChunkRows = 4096

  private[graft] def planParts(table: String, schema: StructType,
      idOrd: Int, fromCommit: Int, toCommit: Int): Array[InputPartition] = {
    val vis = GraftColumnMap.visible(schema)
    val ords = GraftColumnMap.physOrds(schema)
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    def rowParts(rows: Array[InternalRow]): Unit =
      rows.grouped(FeedChunkRows).foreach { chunk =>
        parts += GraftInputPartition(chunk)
      }
    var v = fromCommit
    while (v < toCommit) {
      GraftTableStore.commitInfo(table, v) match {
        case Some((op, p: GraftTableStore.GraftParquetData))
            if !ContentNeutralOps(op) =>
          appendedFiles(table, v, p) match {
            case Some(files) =>
              val m = GraftParquetStore.meta(table).get
              files.foreach { f =>
                parts += GraftCdfFilePartition(Vector(f), m.schema,
                  ords, vis.fields.map(_.dataType), v)
              }
            case None =>
              // CoW rewrite: serve the manifest diff task-side
              cowDiffParts(table, schema, idOrd, v) match {
                case Some(ps) => parts ++= ps
                case None =>
                  rowParts(changesOfCommit(table, schema, idOrd, v))
              }
          }
        case _ =>
          rowParts(changesOfCommit(table, schema, idOrd, v))
      }
      v += 1
    }
    parts.toArray
  }

  // ---- DISTRIBUTED CoW CHANGE DATA (round 13) ------------------------

  /** staged `_change_data` files, memoized per (table, version): the
    * Delta-CDF shape, computed LAZILY at first feed read over a CoW
    * rewrite commit instead of at commit time. The manifest diff names
    * the removed and added files; their live rows key-diff in one
    * distributed cogroup (shuffle payload: id + visible row, never the
    * snapshots); the change rows stage as parquet under `_graft_cdf/`
    * (excluded from retention GC; swept with unretained versions by
    * VACUUM). The driver sees only file metadata — replacing the
    * snapshotDiff fallback that materialized BOTH adjacent versions
    * driver-side, O(table) per REPLACE WHERE / INSERT OVERWRITE /
    * truncate / restore commit. The memo lives in the table's state
    * record ([[GraftTableStore.TableState]]).
    *
    * This probe (for tests): was commit `v`'s feed served from staged
    * change-data files (the distributed path), not a driver snapshot
    * diff? */
  private[graft] def isChangeDataStaged(table: String, v: Int): Boolean =
    GraftTableStore.stateOf(table).exists(_.changeData.contains(v))

  /** plan a CoW rewrite commit's feed from its MANIFEST DIFF: DV
    * swaps become position-diff partitions (the changed bits name the
    * rows — zero bytes rewritten, zero bytes diffed beyond the one
    * file), removed∖added files key-diff distributed and serve as
    * staged change-data file partitions. None when the adjacent
    * manifest is unavailable (an expired or delta neighbour keeps the
    * snapshot-diff fallback). */
  private def cowDiffParts(table: String, schema: StructType,
      idOrd: Int, v: Int): Option[Array[InputPartition]] = {
    if (v == 0) return None
    val st = GraftTableStore.stateOf(table).getOrElse(return None)
    val m = st.meta.getOrElse(return None)
    val cur = GraftTableStore.commitInfo(table, v) match {
      case Some((_, p: GraftTableStore.GraftParquetData)) => p
      case _ => return None
    }
    val prev = GraftTableStore.commitInfo(table, v - 1) match {
      case Some((_, p: GraftTableStore.GraftParquetData)) => p
      case _ => return None
    }
    val vis = GraftColumnMap.visible(schema)
    val ords = GraftColumnMap.physOrds(schema)
    val visTypes = vis.fields.map(_.dataType)
    val prevByPath = prev.files.map(f => f.path -> f).toMap
    val curByPath = cur.files.map(f => f.path -> f).toMap
    // a path on both sides with different ROW counts would be an
    // in-place byte rewrite — this store never produces one; leave
    // the shape to the fallback rather than serve a wrong diff
    if (cur.files.exists(nf => prevByPath.get(nf.path)
        .exists(pf => !sameEntry(nf, pf) && pf.rows != nf.rows)))
      return None
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    // in-place DV swaps: the changed bitmap positions ARE the changes
    cur.files.foreach { nf =>
      prevByPath.get(nf.path) match {
        case Some(pf) if !sameEntry(nf, pf) =>
          parts += GraftCdfDvDiffPartition(pf, nf, m.schema, ords,
            visTypes, v)
        case _ => ()
      }
    }
    val removed = prev.files.filterNot(f => curByPath.contains(f.path))
    val added = cur.files.filterNot(f => prevByPath.contains(f.path))
    if (removed.nonEmpty || added.nonEmpty) {
      // memoized staging under a PER-(table,version) latch — the
      // staging runs a whole Spark job, and one commit's first read
      // must not serialize another table's feed behind it
      val staged = st.changeData.get(v).getOrElse(
        st.changeDataLocks.getOrElseUpdate(v, new Object).synchronized {
          st.changeData.getOrElseUpdate(v,
            stageCowDiff(table, m, removed, added, schema, idOrd, v))
        })
      staged.foreach { f =>
        parts += GraftCdfStagedPartition(Vector(f), cdfSchema(vis))
      }
    }
    Some(parts.toArray)
  }

  /** distributed key-diff of a rewrite commit's removed vs added
    * files, staged as change-data parquet. One read task per file,
    * one cogroup shuffle keyed by row id (payload: visible row), one
    * writer task per shuffle partition; only file metadata returns. */
  private def stageCowDiff(table: String, m: GraftParquetStore.Meta,
      removed: Vector[GraftFileInfo], added: Vector[GraftFileInfo],
      schema: StructType, idOrd: Int, v: Int): Vector[GraftFileInfo] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val vis = GraftColumnMap.visible(schema)
    val ords = GraftColumnMap.physOrds(schema)
    val visTypes = vis.fields.map(_.dataType)
    val idType = schema(idOrd).dataType
    val outSchema = cdfSchema(vis)
    def keyedRows(files: Vector[GraftFileInfo]) =
      sc.parallelize(files, math.max(1, files.length)).flatMap { f =>
        GraftParquetStore.readFile(f, schema, Array.range(0, f.numCols))
          .map(_.copy()).map { r =>
            val vals = new Array[Any](visTypes.length)
            var i = 0
            while (i < visTypes.length) {
              vals(i) =
                if (ords(i) < r.numFields) r.get(ords(i), visTypes(i))
                else null
              i += 1
            }
            val k = if (idOrd < r.numFields) r.get(idOrd, idType) else null
            (k, new GenericInternalRow(vals): InternalRow)
          }
      }
    val nParts = math.max(1, math.min(sc.defaultParallelism * 2,
      removed.length + added.length))
    val diffed = keyedRows(removed).cogroup(keyedRows(added), nParts)
      .flatMap { case (_, (rs, as)) =>
        if (rs.size > 1 || as.size > 1)
          throw new IllegalStateException(
            s"change feed of $table: duplicate row ids inside one " +
              "rewrite commit — the merge-on-read row id must be " +
              "unique per snapshot")
        def out(r: InternalRow, ct: String): InternalRow = {
          val vals = new Array[Any](visTypes.length + 2)
          var i = 0
          while (i < visTypes.length) {
            vals(i) = r.get(i, visTypes(i))
            i += 1
          }
          vals(visTypes.length) = UTF8String.fromString(ct)
          vals(visTypes.length + 1) = v.toLong
          new GenericInternalRow(vals): InternalRow
        }
        (rs.headOption, as.headOption) match {
          case (Some(r), None) => Iterator.single(out(r, "delete"))
          case (None, Some(a)) => Iterator.single(out(a, "insert"))
          case (Some(r), Some(a)) =>
            if (r == a) Iterator.empty // rewritten unchanged
            else Iterator(out(r, "update_preimage"),
              out(a, "update_postimage"))
          case (None, None) => Iterator.empty
        }
      }
    val dir = new java.io.File(m.dir, f"_graft_cdf/v$v%05d")
    if (dir.exists()) {
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(_.delete())
    }
    dir.mkdirs()
    val staged = sc.runJob(diffed,
      (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
        if (!it.hasNext) Vector.empty[GraftFileInfo]
        else {
          val h = new GraftParquetStore.GraftFileHandle(outSchema,
            outSchema.length,
            new java.io.File(dir, f"c${ctx.partitionId()}%05d.parquet")
              .getAbsolutePath,
            InternalRow.empty)
          it.foreach(h.add)
          Vector(h.close())
        }
      })
    staged.toVector.flatten
  }

  /** the FALLBACK diff of ONE commit: full snapshot materialization —
    * kept for the manifest commits commit metadata cannot answer (one
    * whose neighbour is a delta or has expired). */
  private def snapshotDiff(table: String, schema: StructType,
      idOrd: Int, v: Int): Array[InternalRow] = {
    val idType = schema(idOrd).dataType
    val vis = GraftColumnMap.visible(schema)
    val ords = GraftColumnMap.physOrds(schema)
    val out = scala.collection.mutable.ArrayBuffer[InternalRow]()
    def emit(r: InternalRow, ct: String, vv: Int): Unit = {
      out += emitRow(r, ct, vv, vis, ords)
      ()
    }
    val prev =
      if (v == 0) Array.empty[InternalRow]
      else GraftTableStore.getVersion(table, v - 1)
    val next = GraftTableStore.getVersion(table, v)
    val prevKeys = prev.map(_.get(idOrd, idType)).toSet
    val nextMap = next.map(r => r.get(idOrd, idType) -> r).toMap
    // the diff is keyed by the row id — duplicate ids in a snapshot
    // would silently collapse into one map entry and under-report the
    // feed; plain INSERT never validates uniqueness, so check here,
    // loudly, before serving a wrong feed
    if (nextMap.size != next.length)
      throw new IllegalStateException(
        s"change feed of $table: snapshot v$v contains duplicate row " +
          s"ids (${next.length} rows, ${nextMap.size} distinct ids) — " +
          "the merge-on-read row id must be unique per snapshot")
    prev.foreach { r =>
      nextMap.get(r.get(idOrd, idType)) match {
        case None => emit(r, "delete", v)
        case Some(nr) =>
          if (!((nr eq r) || nr == r)) {
            emit(r, "update_preimage", v)
            emit(nr, "update_postimage", v)
          }
      }
    }
    next.foreach { r =>
      if (!prevKeys.contains(r.get(idOrd, idType))) emit(r, "insert", v)
    }
    out.toArray
  }
}

/** ONE appended file of an append commit, served as a feed partition:
  * the task opens the file where it runs and emits each row as an
  * `insert` of `version` — the driver never touches a row, and an
  * append-only feed window opens EXACTLY the appended files. */
case class GraftCdfFilePartition(files: Vector[GraftFileInfo],
    physSchema: StructType, visOrds: Array[Int],
    visTypes: Array[org.apache.spark.sql.types.DataType], version: Int)
    extends InputPartition

/** staged change-data files (the distributed CoW diff): rows already
  * carry the full CDF shape (visible cols + _change_type +
  * _commit_version) — the task reads them verbatim. */
case class GraftCdfStagedPartition(files: Vector[GraftFileInfo],
    cdfSchema: StructType) extends InputPartition

/** an in-place deletion-vector swap served position-wise: the task
  * reads the ONE affected file's physical records and emits rows whose
  * deleted-bit flipped — set in new but not old → `delete`; cleared
  * (a restore direction) → `insert`. Zero other bytes touched. */
case class GraftCdfDvDiffPartition(prevEntry: GraftFileInfo,
    curEntry: GraftFileInfo, physSchema: StructType,
    visOrds: Array[Int],
    visTypes: Array[org.apache.spark.sql.types.DataType], version: Int)
    extends InputPartition

/** reader factory of the change feed: dispatches row partitions (the
  * O(changes) metadata derivations and the CoW fallback) and
  * file-granular insert partitions. */
object GraftCdfReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    p match {
      case _: GraftInputPartition => GraftRowsReaderFactory.createReader(p)
      case f: GraftCdfFilePartition =>
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
          private val it = f.files.iterator.flatMap(file =>
            GraftParquetStore.readFile(file, f.physSchema,
              Array.range(0, file.numCols)))
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val r = it.next()
            val vals = new Array[Any](f.visOrds.length + 2)
            var i = 0
            while (i < f.visOrds.length) {
              vals(i) =
                if (f.visOrds(i) < r.numFields)
                  r.get(f.visOrds(i), f.visTypes(i))
                else null
              i += 1
            }
            vals(f.visOrds.length) = org.apache.spark.unsafe.types
              .UTF8String.fromString("insert")
            vals(f.visOrds.length + 1) = f.version.toLong
            cur = new GenericInternalRow(vals)
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      case sp: GraftCdfStagedPartition =>
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          private val it = sp.files.iterator.flatMap(file =>
            GraftParquetStore.readFile(file, sp.cdfSchema,
              Array.range(0, file.numCols)))
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (!it.hasNext) false
            else { cur = it.next(); true }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      case dp: GraftCdfDvDiffPartition =>
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
          private def del(e: GraftFileInfo, pos: Int): Boolean =
            e.dv.exists(_.deleted(pos))
          private val raw = GraftParquetStore.readFileRaw(dp.curEntry,
            dp.physSchema, Array.range(0, dp.curEntry.numCols))
          private val it = raw
            .flatMap { r =>
              val pos = raw.position
              val was = del(dp.prevEntry, pos)
              val is = del(dp.curEntry, pos)
              if (was == is) Iterator.empty
              else {
                val vals = new Array[Any](dp.visOrds.length + 2)
                var i = 0
                while (i < dp.visOrds.length) {
                  vals(i) =
                    if (dp.visOrds(i) < r.numFields)
                      r.get(dp.visOrds(i), dp.visTypes(i))
                    else null
                  i += 1
                }
                vals(dp.visOrds.length) = org.apache.spark.unsafe.types
                  .UTF8String.fromString(if (is) "delete" else "insert")
                vals(dp.visOrds.length + 1) = dp.version.toLong
                Iterator.single(
                  new GenericInternalRow(vals): InternalRow)
              }
            }
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (!it.hasNext) false
            else { cur = it.next(); true }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      case other => throw new IllegalStateException(
        s"not a change-feed partition: $other")
    }
}

/** The `graft.<table>.changes` relation: read-only view of a
  * merge-on-read table's change feed (the row id keys the diff, so
  * copy-on-write tables refuse). `option("startingVersion", n)` bounds
  * the feed; default 0 = the full retained history. */
class GraftCdfTable(base: GraftMergeTable) extends Table with SupportsRead {
  override def name(): String = s"${base.name()}.changes"
  override def schema(): StructType =
    GraftChangeFeed.cdfSchema(base.schema())
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    require(base.morRowId.isDefined,
      s"${name()}: the change feed requires a merge-on-read table " +
        "with a row id (copy-on-write commits carry no per-row " +
        "lineage to diff by)")
    val from = options.getInt("startingVersion", 0)
    // endingVersion bounds the batch read INCLUSIVELY (Delta-CDF's
    // option pair): the feed covers commits [startingVersion,
    // endingVersion]. Streaming reads ignore it (a stream has no end).
    val to = options.getInt("endingVersion", -1)
    val maxCommits = options.getLong("maxCommitsPerTrigger", -1L)
    () => new GraftCdfScan(base.name(), base.physicalSchema,
      base.physicalSchema.fieldIndex(base.morRowId.get), from,
      maxCommits, to)
  }
}

/** Batch + streaming scan of the change feed: batch reads the whole
  * [startingVersion, latest) change history at once; the streaming
  * form delivers each commit's changes as micro-batches — unlike the
  * content stream ([[GraftMicroBatchStream]]), REWRITE commits are
  * first-class here (a DELETE arrives as delete rows instead of
  * breaking the append-only contract), which is exactly why lake
  * formats point mutating-table consumers at the change feed. */
class GraftCdfScan(tableName: String, tableSchema: StructType,
    idOrd: Int, startingVersion: Int, maxCommitsPerTrigger: Long = -1L,
    endingVersion: Int = -1)
    extends Scan with Batch {
  // tableSchema is PHYSICAL (idOrd with it); the feed exposes visible
  override def readSchema(): StructType =
    GraftChangeFeed.cdfSchema(GraftColumnMap.visible(tableSchema))
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCdfScan[$tableName@v$startingVersion" +
      (if (endingVersion < 0) "+]" else s"..v$endingVersion]")
  // planned ONCE per scan: every BatchScanExec Spark builds over this
  // scan asks for the partitions (its supportsColumnar check — the
  // planner strategy's node and the copy physical preparation makes
  // are two), and planning can run Spark jobs (distributed pre-image
  // lookups, CoW diff staging)
  private lazy val parts: Array[InputPartition] = {
    val latest = GraftTableStore.publishedCount(tableName)
    val to =
      if (endingVersion < 0) latest
      else math.min(latest, endingVersion + 1) // inclusive bound
    // commit-metadata CDC: append commits ship as FILE partitions
    // (inserts read task-side from exactly the appended files),
    // MoR deltas as O(changes) row partitions, maintenance commits
    // as nothing, CoW rewrites as staged diff files
    GraftChangeFeed.planParts(tableName, tableSchema, idOrd,
      startingVersion, to)
  }
  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory =
    GraftCdfReaderFactory
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftCdfMicroBatchStream(tableName, tableSchema, idOrd,
      startingVersion, maxCommitsPerTrigger)
}

class GraftCdfMicroBatchStream(tableName: String,
    tableSchema: StructType, idOrd: Int, startingVersion: Int,
    maxCommitsPerTrigger: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // same admission-control contract as the content stream
  // ([[GraftMicroBatchStream]]): maxCommitsPerTrigger bounds commits
  // per micro-batch (the CDF's natural unit — each commit's change
  // rows arrive together), AvailableNow freezes the drain target.
  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftTableStore.publishedCount(tableName))
  override def getDefaultReadLimit: ReadLimit =
    if (maxCommitsPerTrigger > 0)
      ReadLimit.maxFiles(maxCommitsPerTrigger.toInt)
    else ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxFiles}
    val s = start.asInstanceOf[GraftStreamOffset].commits
    val latest = availableNowCap
      .map(math.min(_, GraftTableStore.publishedCount(tableName)))
      .getOrElse(GraftTableStore.publishedCount(tableName))
    def applyOne(l: ReadLimit, cap: Int): Int = l match {
      case f: ReadMaxFiles => math.min(cap, s + f.maxFiles())
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(cap)((acc, one) => applyOne(one, acc))
      case _ => cap
    }
    GraftStreamOffset(applyOne(limit, latest))
  }

  override def initialOffset(): Offset = GraftStreamOffset(startingVersion)
  override def latestOffset(): Offset =
    GraftStreamOffset(GraftTableStore.publishedCount(tableName))
  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].commits
    val e = end.asInstanceOf[GraftStreamOffset].commits
    if (e <= s) Array.empty
    else GraftChangeFeed.planParts(tableName, tableSchema, idOrd, s, e)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GraftCdfReaderFactory
}

/** A `graft.<table>.<kind>` metadata relation: O(metadata) rows served
  * from the store's log and manifest, never from data files — how a
  * lake format answers these. `fields` is the schema, `check` the
  * precondition a scan must pass, `rows` the current readout; the four
  * kinds are [[GraftMetadataTable.apply]]. */
class GraftMetadataTable(base: GraftMergeTable, kind: String,
    fields: Seq[org.apache.spark.sql.types.StructField],
    check: () => Unit, rows: () => Array[InternalRow])
    extends Table with SupportsRead {
  override def name(): String = s"${base.name()}.$kind"
  override def schema(): StructType = StructType(fields)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    check()
    () => new Scan with Batch {
      override def readSchema(): StructType = GraftMetadataTable.this.schema()
      override def toBatch: Batch = this
      override def description(): String =
        s"Graft${kind.capitalize}Scan[${base.name()}]"
      override def planInputPartitions(): Array[InputPartition] =
        Array(GraftInputPartition(rows()))
      override def createReaderFactory(): PartitionReaderFactory =
        GraftRowsReaderFactory
    }
  }
}

object GraftMetadataTable {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, TimestampType}
  import org.apache.spark.unsafe.types.UTF8String

  private def row(vals: Any*): InternalRow =
    new GenericInternalRow(vals.toArray)

  /** one key column per partition field, named after the field. */
  private def partKeyFields(base: GraftMergeTable): Seq[StructField] =
    base.partFields.toSeq.map {
      case GraftIdentityPart(c) => base.schema()(c)
      case GraftBucketPart(c, _) =>
        StructField(s"${c}_bucket", IntegerType, nullable = true)
      case p @ GraftDaysPart(c) => StructField(s"${c}_day",
        GraftPartField.keyType(p, base.physicalSchema), nullable = true)
      case p @ GraftTruncatePart(c, _) => StructField(s"${c}_trunc",
        GraftPartField.keyType(p, base.physicalSchema), nullable = true)
    }

  def apply(base: GraftMergeTable, kind: String): GraftMetadataTable = {
    val t = base.name()
    kind match {
      // DESCRIBE HISTORY as a table: one row per RETAINED commit
      // (≤ 64), served from the transaction log
      case "history" => new GraftMetadataTable(base, kind, Seq(
          StructField("version", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("n_rows", LongType, nullable = false),
          StructField("commit_ts", TimestampType, nullable = false)),
        () => (),
        () => GraftTableStore.history(t).map { case (v, op, n, tMs) =>
          row(v.toLong, UTF8String.fromString(op), n.toLong, tMs * 1000L)
        }.toArray)

      // Iceberg's `.refs`: every branch ("main" included) and tag with
      // the absolute version it pins — what an operator checks before
      // a WAP publish or a branch cleanup
      case "refs" => new GraftMetadataTable(base, kind, Seq(
          StructField("ref_name", StringType, nullable = false),
          StructField("ref_type", StringType, nullable = false),
          StructField("version", LongType, nullable = false)),
        () => (),
        () => GraftTableStore.refs(t).map { case (n, k, v) =>
          row(UTF8String.fromString(n), UTF8String.fromString(k), v.toLong)
        }.toArray)

      // Iceberg's `.partitions`: per-partition row counts of the
      // CURRENT snapshot — skew checks and compaction targets without
      // scanning data
      case "partitions" => new GraftMetadataTable(base, kind,
        partKeyFields(base) :+
          StructField("row_count", LongType, nullable = false),
        () => require(base.partFields.nonEmpty,
          s"$t.partitions: the partitions metadata table requires a " +
            "partitioned base table"),
        () => {
          val sch = base.physicalSchema // stored-row layout
          val keyTypes = base.partFields.map(
            GraftPartField.keyType(_, sch))
          val keyProj = org.apache.spark.sql.catalyst.expressions
            .UnsafeProjection.create(base.partFields.map(
              GraftPartField.keyExpr(_, sch)).toIndexedSeq)
          GraftChangeFeed.padTo(GraftTableStore.get(t), sch)
            .groupBy(r => keyProj(r).copy())
            .toArray.sortBy(_._1.toString)
            .map { case (k, rs) =>
              row(keyTypes.indices.map(i => k.get(i, keyTypes(i))) :+
                rs.length.toLong: _*)
            }
        })

      // Iceberg's `.files`: the CURRENT manifest of a parquet-backed
      // table, one row per data file — small-file counts, per-partition
      // spread and stats coverage without opening a file
      case "files" => new GraftMetadataTable(base, kind,
        partKeyFields(base) ++ Seq(
          StructField("file_path", StringType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("num_cols", IntegerType, nullable = false),
          StructField("stats_cols", IntegerType, nullable = false)),
        () => (),
        () => {
          val fv = GraftTableStore.fileView(t, None).getOrElse(
            throw new IllegalStateException(
              s"$t.files: the head's delta chain mixes id domains — " +
                "OPTIMIZE (compact) it first"))
          val keyTypes = base.partFields.map(
            GraftPartField.keyType(_, base.physicalSchema))
          val curSpecId = GraftParquetStore.meta(t)
            .map(_.curSpecId).getOrElse(0)
          fv.files.sortBy(_.path).map { f =>
            // a file written under an OLDER partition spec has its key
            // in a different domain — its current-spec key columns read
            // NULL (the honest answer; Iceberg's .files carries the
            // per-spec tuple for the same reason)
            val key = keyTypes.indices.map(i =>
              if (f.specId == curSpecId) f.key.get(i, keyTypes(i))
              else null)
            row(key ++ Seq(UTF8String.fromString(f.path), f.rows.toLong,
              f.bytes, f.numCols, f.stats.size): _*)
          }.toArray
        })
    }
  }
}

/** Stream offset = number of commits consumed (absolute, monotone —
  * exactly a lake format's "snapshot id as offset"). */
case class GraftStreamOffset(commits: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = commits.toString
}

/** Streaming read FROM the governed table: every commit is an offset,
  * a micro-batch (start, end] delivers the rows those commits APPENDED
  * — the same contract a Delta/Iceberg streaming read gives an
  * append-only table (reading a table mutated by MERGE/DELETE requires
  * a change feed; see GraftApi.tableChanges). Append-only is VERIFIED,
  * not assumed: each planned range checks the start snapshot is a
  * positional prefix of the end snapshot (reference identity — commits
  * share the prefix arrays) and fails loudly otherwise. Offsets are
  * absolute commit counts, so a checkpointed restart resumes mid-
  * version-history as long as the range is inside the retention
  * window (StreamingSpec pins both). */
class GraftMicroBatchStream(tableName: String,
    tableSchema: StructType, outSchema: StructType,
    maxRowsPerTrigger: Long = -1L, maxCommitsPerTrigger: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def snapAt(commits: Int): Array[InternalRow] =
    if (commits == 0) Array.empty
    else GraftTableStore.getVersion(tableName, commits - 1)

  override def initialOffset(): Offset = GraftStreamOffset(0)
  override def latestOffset(): Offset =
    GraftStreamOffset(GraftTableStore.publishedCount(tableName))
  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- admission control (SupportsAdmissionControl) -----------------
  //
  // The source PACES itself instead of delivering everything that
  // arrived since the last trigger: `option("maxCommitsPerTrigger")`
  // bounds commits per micro-batch (the natural unit here — Delta's
  // maxFilesPerTrigger shape) and `option("maxRowsPerTrigger")` bounds
  // appended rows (commits admit until the budget is REACHED, always
  // at least one — a single commit larger than the budget must still
  // make progress). Without backpressure, a stream restarted after a
  // backlog gets the whole backlog as ONE micro-batch — the state
  // store and shuffle of that trigger then size with the OUTAGE, not
  // with the steady state; admission control is what makes recovery
  // incremental. Trigger.AvailableNow freezes the target offset at
  // query start (prepareForTriggerAvailableNow) and drains up to it in
  // bounded batches, then stops — the batch-backfill-through-the-
  // streaming-path mode.
  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(GraftTableStore.publishedCount(tableName))

  override def getDefaultReadLimit: ReadLimit =
    if (maxRowsPerTrigger > 0) ReadLimit.maxRows(maxRowsPerTrigger)
    else if (maxCommitsPerTrigger > 0)
      ReadLimit.maxFiles(maxCommitsPerTrigger.toInt) // unit: commits
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxFiles, ReadMaxRows}
    val s = start.asInstanceOf[GraftStreamOffset].commits
    val latest = availableNowCap
      .map(math.min(_, GraftTableStore.publishedCount(tableName)))
      .getOrElse(GraftTableStore.publishedCount(tableName))
    def rowsAfter(v: Int): Long =
      GraftTableStore.history(tableName)
        .collectFirst { case (ver, _, n, _) if ver == v - 1 => n.toLong }
        .getOrElse(0L)
    def applyOne(l: ReadLimit, cap: Int): Int = l match {
      case _: ReadAllAvailable => cap
      case f: ReadMaxFiles => math.min(cap, s + f.maxFiles())
      case r: ReadMaxRows =>
        // admit commits while the appended-row total is below budget;
        // guarantee ≥1 commit of progress when anything is available
        var end = s
        var rows = 0L
        val base = rowsAfter(s)
        var prev = base
        while (end < cap && rows < r.maxRows()) {
          val next = rowsAfter(end + 1)
          rows += math.max(0L, next - prev)
          prev = next
          end += 1
        }
        end
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(cap)((acc, one) => applyOne(one, acc))
      case _ => cap
    }
    GraftStreamOffset(applyOne(limit, latest))
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].commits
    val e = end.asInstanceOf[GraftStreamOffset].commits
    if (e <= s) return Array.empty
    // FILE-GRANULAR micro-batches on a parquet-backed table: commit
    // METADATA decides — append commits ship their appended files,
    // packed like the batch scan's (rows read task-side, nothing
    // driver-resolved),
    // an insert-only MoR delta ships its O(changes) op rows,
    // maintenance commits (compact/binpack/zorder/purge-dv) are
    // content-neutral and contribute NOTHING (the row path would
    // mis-read their fresh row objects as a rewrite), and a genuine
    // rewrite raises the same loud append-only error WITHOUT
    // materializing a snapshot. The row path below stays for the
    // windows metadata cannot answer — an append onto a MoR delta
    // head, expired versions (it owns those errors).
    planFileGranular(s, e).foreach(parts => return parts)
    val base = snapAt(s)
    val cur = snapAt(e)
    // FULL prefix identity, not endpoint sampling: append commits share
    // the prefix row OBJECTS (base ++ incoming), while every rewritten
    // row — including a merge-on-read UPDATE of a middle row that
    // leaves length and endpoints untouched — is a fresh UnsafeRow
    // copy, so `eq` over the whole prefix catches exactly the rewrites
    // endpoint checks would miss. Driver-side reference compares over
    // the in-JVM arrays — O(prefix), no data reads.
    val appendOnly = cur.length >= base.length &&
      base.indices.forall(i => cur(i) eq base(i))
    if (!appendOnly)
      throw new IllegalStateException(
        s"streaming read of $tableName: commits ${s + 1}..$e are not " +
          "append-only (a MERGE/DELETE/UPDATE rewrote earlier rows) — " +
          "stream the change feed instead")
    // the stream honors the same pruned projection as the batch scan
    // (Catalyst prunes streaming relations too — delivering full rows
    // under a pruned readSchema would misread columns)
    Array(GraftProjectedPartition(GraftChangeFeed.padTo(
      cur.drop(base.length), tableSchema),
      outSchema.fieldNames.map(tableSchema.fieldIndex),
      outSchema.fields.map(_.dataType)))
  }

  /** commit-metadata planning of the window [s, e) — None when any
    * commit's shape cannot be answered from metadata (an append onto
    * a delta head, expired versions): the caller falls back to the row
    * path. Throws the SAME loud append-only error as the row path
    * when metadata PROVES a rewrite — no snapshot materializes either
    * way. */
  private def planFileGranular(s: Int, e: Int)
      : Option[Array[InputPartition]] = {
    import GraftTableStore.{GraftDeltaData, GraftParquetData}
    val ords = outSchema.fieldNames.map(tableSchema.fieldIndex)
    val types = outSchema.fields.map(_.dataType)
    def notAppendOnly(): Nothing =
      throw new IllegalStateException(
        s"streaming read of $tableName: commits ${s + 1}..$e are not " +
          "append-only (a MERGE/DELETE/UPDATE rewrote earlier rows) — " +
          "stream the change feed instead")
    val parts =
      scala.collection.mutable.ArrayBuffer[InputPartition]()
    // appended files of consecutive commits pack together, as in the
    // batch scan; an op-log commit flushes them so rows keep commit
    // order
    var pending = Vector.empty[GraftFileInfo]
    def flushFiles(): Unit = {
      GraftParquetStore.packFiles(pending).foreach { files =>
        parts += GraftFileScanPartition(files, Array.empty,
          tableSchema, ords, ords,
          Array.empty, Array.empty, -1,
          org.apache.spark.sql.types.NullType, -1)
      }
      pending = Vector.empty
    }
    var v = s
    while (v < e) {
      GraftTableStore.commitInfo(tableName, v) match {
        case None => return None // expired/unknown: row path owns it
        case Some((op, _)) if GraftChangeFeed.ContentNeutralOps(op) =>
          () // layout maintenance: same rows, nothing to deliver
        case Some((_, p: GraftParquetData)) =>
          GraftChangeFeed.appendedFiles(tableName, v, p) match {
            case Some(files) => pending ++= files
            case None =>
              // only a PARQUET predecessor whose manifest is not a
              // prefix PROVES a rewrite (appendedFiles is always
              // defined at v0); a delta/expired predecessor is the
              // row path's call — it owns those errors
              GraftTableStore.commitInfo(tableName, v - 1) match {
                case Some((_, _: GraftParquetData)) => notAppendOnly()
                case _ => return None
              }
          }
        case Some((_, d: GraftDeltaData)) =>
          if (d.ops.exists(_.op != 'I')) notAppendOnly()
          flushFiles()
          parts += GraftProjectedPartition(
            GraftChangeFeed.padTo(d.ops.map(_.row), tableSchema),
            ords, types)
        case Some((_, _: GraftTableStore.GraftEqDeleteData)) =>
          notAppendOnly() // an equality delete retires earlier rows
      }
      v += 1
    }
    flushFiles()
    Some(parts.toArray)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftStreamReaderFactory
}

/** reader factory of the content stream: file partitions (task-side
  * reads of appended files) and projected row partitions (op-log
  * inserts, the driver-side fallback) share one stream. */
object GraftStreamReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case f: GraftFileScanPart => GraftFileReaderFactory.createReader(f)
    case _ => GraftProjectedReaderFactory.createReader(p)
  }
}

/** `replace = false`: append (INSERT INTO). `replace = true`: the
  * ReplaceData commit — surviving + new rows swap the whole store.
  * The streaming form (`writeStream.toTable`) appends one commit per
  * EPOCH, idempotently: a restarted query re-commits its last epoch
  * from the WAL, and [[GraftTableStore.markEpoch]] detects the replay
  * so the sink stays exactly-once (Complete mode truncates per epoch
  * through the same SupportsTruncate flag). */
class GraftWriteBuilder(tableName: String, writeSchema: StructType,
    replace: Boolean, queryId: String = "",
    clusterFields: Array[GraftPartField] = Array.empty,
    physicalSchema: StructType = null)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with SupportsDynamicOverwrite {
  import org.apache.spark.sql.sources.Filter
  /** the STORE-side row layout (column mapping): incoming rows arrive
    * in the visible `writeSchema` and are projected physical at the
    * write task; everything evaluated against STORED rows — overwrite
    * predicates, partition keys, padding width — uses this. Equal to
    * writeSchema when no column was ever dropped (and on the internal
    * callers that never see a drop). */
  private val physSchema: StructType =
    Option(physicalSchema).getOrElse(writeSchema)
  private var doTruncate = false
  private var overwriteFilters: Option[Array[Filter]] = None
  private var dynamicOverwrite = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  // `INSERT OVERWRITE` — both lake overwrite modes:
  //  - STATIC (the default `partitionOverwriteMode`): Spark hands the
  //    partition-spec predicate over; committed rows matching it are
  //    replaced by the incoming batch (a full overwrite arrives as
  //    truncate() via SupportsTruncate). canOverwrite accepts only
  //    predicates the store can evaluate — anything else falls back to
  //    Spark's error rather than silently deleting the wrong rows.
  //  - DYNAMIC: only the partitions the incoming batch actually
  //    CONTAINS are replaced (Hive/Delta dynamic partition overwrite —
  //    the idempotent backfill primitive: re-running a day's job
  //    replaces that day, never touching the rest).
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall {
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case f => GraftFilterEval.compile(f, physSchema).isDefined
    }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteFilters = Some(filters)
    this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(clusterFields.nonEmpty,
      s"$tableName: dynamic partition overwrite requires a " +
        "partitioned table")
    dynamicOverwrite = true
    this
  }

  /** Append into a PARTITIONED table requests clustering by the
    * partition columns (`RequiresDistributionAndOrdering`): Spark
    * inserts the exchange so each write task holds whole partitions —
    * the optimized-write shape real formats use to avoid emitting one
    * small file per (task × partition). Not strictly required: tiny
    * inserts may skip the shuffle (AQE's call), which is also the
    * production behavior. */
  override def build(): Write = {
    // the DECLARED TABLE SORT ORDER ('graft.sort-order'): appends and
    // CoW rewrites RANGE-DISTRIBUTE + sort on it, so each written
    // file holds a contiguous key range and zone maps skip on the
    // sort key without any explicit ZORDER call — Iceberg sort
    // orders / Delta clustered tables. Spark's own sort machinery
    // (spill-aware) does the work; the writer never buffers.
    val sortOrders: Array[org.apache.spark.sql.connector.expressions
      .SortOrder] =
      GraftParquetStore.meta(tableName).map(_.sortOrds)
        .getOrElse(Array.empty[Int])
        .filter(o => !GraftColumnMap.isDropped(physSchema(o)))
        .map { o =>
          org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(physSchema(o).name),
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING)
        }
    if (clusterFields.isEmpty && sortOrders.isEmpty) baseWrite
    else new Write with RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      override def requiredDistribution(): Distribution =
        // days/truncate resolve through the catalog-published
        // functions (GraftDaysFunction / GraftTruncateFunction), so
        // each write task holds WHOLE hidden partitions — one file
        // per partition, not one per (task × partition). An
        // unpartitioned sorted table range-distributes on the sort
        // key instead (contiguous ranges per task → per file).
        if (clusterFields.nonEmpty)
          Distributions.clustered(clusterFields.map(
            GraftPartField.toTransform(_)
              : org.apache.spark.sql.connector.expressions.Expression))
        else Distributions.ordered(sortOrders)
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        sortOrders
      override def distributionStrictlyRequired(): Boolean = false
      override def toBatch: BatchWrite = baseWrite.toBatch
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        baseWrite.toStreaming
    }
  }

  private lazy val baseWrite: Write = new Write {
    /** EVERY write writes FILES in the tasks (the driver sees only
      * metadata) — plain appends commit
      * manifest-extending, rewriting shapes (replace / truncate /
      * overwrite / dynamic overwrite) commit FILE-GRANULAR
      * ([[GraftTableStore.commitParquetRewrite]]: base survival
      * decided from manifest metadata, unproven files rewritten
      * task-side) with a row-path fallback for base shapes the
      * manifest cannot answer (MoR delta suffix, mixed specs). The
      * one exception: IDENTITY columns assign from the table's
      * high-water mark at COMMIT time (a coordination point by
      * nature) — those keep the row-message path. */
    private def taskFileAppend: Option[GraftParquetStore.Meta] =
      if (GraftGenerated.identityOf(physSchema).isDefined) None
      else GraftParquetStore.meta(tableName)
    private def opKind: String =
      if (replace) "replace"
      else if (doTruncate) "truncate"
      else if (dynamicOverwrite) "dynamic-overwrite"
      else if (overwriteFilters.isDefined) "overwrite"
      else "append"
    // analyzed ONCE driver-side (needs the session analyzer); the
    // bound expressions serialize to the write tasks
    private lazy val genExprs = GraftGenerated.boundGenerators(physSchema)

    /** IDENTITY assignment at COMMIT time (driver-side, sequential —
      * the reserved values are 1..N-deterministic for a single
      * commit): NULL slots draw from the table's high-water mark;
      * an explicit value on a PLAIN APPEND refuses under GENERATED
      * ALWAYS (allowExplicit=false) — rewrite shapes keep existing
      * ids by construction. */
    private def assignIdentity(rows: Array[InternalRow],
        spec: GraftGenerated.IdentitySpec,
        plainAppend: Boolean): Unit = rows.foreach { r =>
      if (r.isNullAt(spec.ord)) {
        val v = GraftTableStore.reserveIdentity(tableName, spec.start,
          spec.step)
        r match {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
            u.setNotNullAt(spec.ord); u.setLong(spec.ord, v)
          case o => o.update(spec.ord, v)
        }
      } else if (plainAppend && !spec.allowExplicit)
        throw new IllegalArgumentException(
          s"$tableName: cannot INSERT an explicit value into the " +
            "GENERATED ALWAYS AS IDENTITY column " +
            s"'${physSchema(spec.ord).name}' (use GENERATED BY " +
            "DEFAULT to allow explicit inserts)")
    }
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo)
          : DataWriterFactory = taskFileAppend match {
        case Some(m) =>
          GraftParquetAppendWriterFactory(m, writeSchema.length,
            genExprs, replace)
        case None =>
          GraftWriterFactory(writeSchema, physSchema, replace, genExprs)
      }
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        // a copy-on-write ROW-LEVEL rewrite replaces the snapshot with
        // content derived from a scan of MAIN — committing that onto a
        // WAP branch would silently drop the branch's staged commits
        // (appends/overwrites base on the CHAIN head and WriteDelta op
        // logs apply at read, so those stay branch-safe)
        if (replace)
          GraftTableStore.sessionWapBranch.foreach(b =>
            throw new IllegalStateException(
              s"$tableName: copy-on-write DELETE/UPDATE/MERGE is not " +
                s"supported while graft.wap.branch='$b' is set — the " +
                "rewrite's scan reads MAIN, so its snapshot would drop " +
                "the staged commits; publish the branch first or use a " +
                "merge-on-read table"))
        taskFileAppend match {
          case Some(m) =>
            val staged = messages
              .flatMap(_.asInstanceOf[GraftFilesMessage].files)
              .sortBy(_.path).toVector
            if (opKind == "append") {
              // manifest-only commit: adopt the task-staged files
              GraftTableStore.commitParquetAppend(tableName, staged,
                GraftTableStore.sessionWapBranch)
              return
            }
            // FILE-GRANULAR rewrite commit — base survival from
            // manifest metadata; rows never touch the driver
            if (GraftTableStore.commitParquetRewrite(tableName, staged,
                opKind, overwriteFilters, dynamicOverwrite,
                clusterFields, physSchema,
                GraftTableStore.sessionWapBranch)) return
            // fallback (MoR delta suffix / mixed specs): materialize
            // the staged rows once and take the row path below
            val rows = GraftParquetStore.readAll(staged, m.schema)
            GraftParquetStore.discardStaged(staged)
            rowPathCommit(rows)
          case None =>
            // incoming rows were projected into the PHYSICAL layout at
            // the write task — every row below is physical
            val incoming = messages
              .flatMap(_.asInstanceOf[GraftRowsMessage].rows)
            GraftGenerated.identityOf(physSchema)
              .foreach(assignIdentity(incoming, _,
                plainAppend = opKind == "append"))
            rowPathCommit(incoming)
        }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        messages.foreach {
          case GraftFilesMessage(files) =>
            GraftParquetStore.discardStaged(files)
          case _ => ()
        }

      private def rowPathCommit(incoming: Array[InternalRow]): Unit = {
        val op = opKind
        // atomic read-modify-write: the base read and the snapshot swap
        // are one GraftTableStore.mutate step, so a concurrent commit
        // cannot interleave between them. Under graft.wap.branch the
        // commit lands on the branch (main unchanged until publish).
        GraftTableStore.mutate(tableName, op,
            GraftTableStore.sessionWapBranch) { base =>
          // pre-evolution rows are narrower than the current schema —
          // overwrite predicates and partition keys evaluate against
          // the padded full-schema view, originals are what survive
          val padded = GraftChangeFeed.padTo(base, physSchema)
          val kept: Array[InternalRow] =
            if (replace || doTruncate) Array.empty[InternalRow]
            else if (dynamicOverwrite) {
              val keyProj = org.apache.spark.sql.catalyst.expressions
                .UnsafeProjection.create(clusterFields.map(
                  GraftPartField.keyExpr(_, physSchema)).toIndexedSeq)
              val incomingKeys =
                incoming.map(r => keyProj(r).copy()).toSet
              // lookup-only projection: contains() reads the reused
              // buffer in place, no copy needed
              base.indices.collect {
                case i if !incomingKeys.contains(keyProj(padded(i)))
                  => base(i)
              }.toArray
            } else overwriteFilters match {
              case Some(fs) =>
                // canOverwrite gated acceptance; recheck so an
                // unevaluable filter can never silently widen the
                // delete set (an uncompiled filter would read as TRUE)
                require(fs.forall {
                  case _: org.apache.spark.sql.sources.AlwaysTrue => true
                  case f =>
                    GraftFilterEval.compile(f, physSchema).isDefined
                }, s"unevaluable overwrite predicate: ${fs.mkString(",")}")
                val preds = fs.flatMap(
                  GraftFilterEval.compile(_, physSchema))
                val hasAll = fs.exists(
                  _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
                base.indices.collect {
                  case i if !(hasAll || preds.forall(_(padded(i))))
                    => base(i)
                }.toArray
              case None => base
            }
          kept ++ incoming
        }
      }
    }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        override def createStreamingWriterFactory(info: PhysicalWriteInfo)
            : org.apache.spark.sql.connector.write.streaming
              .StreamingDataWriterFactory = taskFileAppend match {
          // append-mode streaming into a parquet-backed table takes
          // the SAME task-side file path as a batch append: each
          // epoch's tasks stage parquet files, the epoch commit
          // adopts them manifest-only — the driver never sees a row
          // and never re-materializes the base (the streaming-ingest
          // shape a lake format runs at scale). Complete mode keeps
          // the row path (its commit truncates against base state).
          case Some(m) =>
            GraftParquetStreamingAppendWriterFactory(m,
              writeSchema.length, genExprs)
          case None =>
            GraftStreamingWriterFactory(writeSchema, physSchema,
              genExprs)
        }
        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = {
          if (taskFileAppend.isDefined) {
            val staged = messages.flatMap(
              _.asInstanceOf[GraftFilesMessage].files)
              .sortBy(_.path).toVector
            if (!GraftTableStore.markEpoch(tableName, queryId,
                epochId)) {
              // WAL replay of an already-committed epoch: its rows
              // are in the table — drop the re-staged files
              GraftParquetStore.discardStaged(staged)
              return
            }
            if (doTruncate)
              // Complete mode: each epoch REPLACES the snapshot —
              // the staged files ARE the new manifest (replace-like
              // file-granular commit, never falls back)
              GraftTableStore.commitParquetRewrite(tableName, staged,
                "stream-complete", None, dynamic = false,
                clusterFields, physSchema, None)
            else
              GraftTableStore.commitParquetAppend(tableName, staged,
                None, op = "stream-append")
            return
          }
          if (!GraftTableStore.markEpoch(tableName, queryId, epochId))
            return // WAL replay of an already-committed epoch
          val incoming = messages
            .flatMap(_.asInstanceOf[GraftRowsMessage].rows)
          GraftGenerated.identityOf(physSchema)
            .foreach(assignIdentity(incoming, _,
              plainAppend = !doTruncate))
          GraftTableStore.mutate(tableName,
            if (doTruncate) "stream-complete" else "stream-append") { base =>
            (if (doTruncate) Array.empty[InternalRow] else base) ++
              incoming
          }
        }
        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          messages.foreach {
            case GraftFilesMessage(files) =>
              GraftParquetStore.discardStaged(files)
            case _ => ()
          }
      }
  }
}

/** Streaming writer factory: per-epoch tasks reuse the batch writer's
  * materialization discipline (append shape — replace never appears on
  * the streaming path). */
case class GraftStreamingWriterFactory(schema: StructType,
    physical: StructType,
    gens: Array[(Int,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
      Array.empty)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    GraftWriterFactory(schema, physical, replace = false, gens)
      .createWriter(partitionId, taskId)
}

case class GraftRowsMessage(rows: Array[InternalRow])
    extends WriterCommitMessage

/** Merge-on-read row-level operation (`SupportsDelta`): Catalyst plans
  * MERGE/DELETE/UPDATE as the delta-based `WriteDelta` rewrite — the
  * writer receives a STREAM OF ROW-LEVEL OPERATIONS (delete-by-row-id /
  * update / insert) instead of the re-written table, which is the plan
  * shape Delta deletion vectors and Iceberg merge-on-read tables
  * produce: for a small mutation against a 100 TB table, the write
  * cost is O(changed rows), not O(group). Rows are keyed by a STABLE
  * ROW ID (a designated unique column — real lake formats use
  * file/position lineage; the id contract is the same), and the store
  * applies the op log to the previous snapshot atomically at commit
  * (the analogue of writing a delete-vector/delta file; a reader-side
  * merge would resolve it at scan time). */
class GraftDeltaOperation(table: GraftMergeTable,
    cmd: RowLevelOperation.Command, rowIdCol: String)
    extends RowLevelOperation with SupportsDelta {
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = table.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(table, rowIdCol, info)
    }
  override def rowId(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(rowIdCol))
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty
  override def description(): String =
    s"GraftMergeOnRead[${table.name()}, rowId=$rowIdCol]"
}

/** One buffered row-level op: op ∈ D/U/I; `id` is the projected row-id
  * row (null for inserts), `row` the projected data row (null for
  * deletes). UnsafeRow copies — serializable across the task boundary. */
case class GraftDeltaOp(op: Byte, id: InternalRow, row: InternalRow)

case class GraftDeltaMessage(ops: Array[GraftDeltaOp])
    extends WriterCommitMessage

class GraftDeltaWrite(table: GraftMergeTable, rowIdCol: String,
    info: LogicalWriteInfo) extends DeltaWrite {
  private val writeSchema = info.schema()
  private val idSchema = {
    val o = info.rowIdSchema()
    require(o.isPresent,
      "WriteDelta did not supply a row-id schema — the delta write " +
        "path requires it")
    o.get()
  }
  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(pInfo: PhysicalWriteInfo)
        : DeltaWriterFactory = GraftDeltaWriterFactory(writeSchema,
      idSchema, table.physicalSchema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ops = messages.flatMap(_.asInstanceOf[GraftDeltaMessage].ops)
      // the op log's rows were projected PHYSICAL at the write task;
      // the row id keys by its physical ordinal (column mapping)
      val schema = table.physicalSchema
      val idOrd = schema.fieldIndex(rowIdCol)
      val idType = schema(idOrd).dataType
      // TRUE merge-on-read commit: persist the op log AS the commit —
      // O(changed rows), the base snapshot untouched (no full-table
      // materialization; CatalogSpec pins reference identity of the
      // base array across this commit). Every read of the new version
      // merges base + ops at SCAN time (GraftTableStore.resolveRel),
      // the deletion-vector/delta-file reader's job. WAP-aware like
      // the plain batch path.
      GraftTableStore.commitDelta(table.name(), ops, idOrd, idType,
        GraftTableStore.sessionWapBranch)
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
}

case class GraftDeltaWriterFactory(rowSchema: StructType,
    idSchema: StructType, physical: StructType)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] = new DeltaWriter[InternalRow] {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    // same materialization discipline as GraftWriterFactory: incoming
    // rows can be recycled views — project to fresh UnsafeRows before
    // buffering. WriteDeltaExec (unlike the quirky ReplaceDataExec
    // path) applies its declared projections itself, so widths must
    // match the declared schemas exactly; anything else fails loudly.
    // Data rows arrive VISIBLE and are stored PHYSICAL (column
    // mapping); the 1-column row id is a live column, no mapping.
    private lazy val idProj = UnsafeProjection.create(idSchema)
    private lazy val rowProj =
      UnsafeProjection.create(GraftColumnMap.toPhysical(physical))
    private val buf = scala.collection.mutable.ArrayBuffer[GraftDeltaOp]()
    private def checked(row: InternalRow, schema: StructType,
        what: String): InternalRow = {
      if (row.numFields != schema.length)
        throw new IllegalStateException(
          s"$what row has ${row.numFields} fields, schema has " +
            s"${schema.length} — unknown delta write layout")
      row
    }
    override def delete(meta: InternalRow, id: InternalRow): Unit =
      buf += GraftDeltaOp('D',
        idProj(checked(id, idSchema, "row-id")).copy(), null)
    override def update(meta: InternalRow, id: InternalRow,
        row: InternalRow): Unit =
      buf += GraftDeltaOp('U',
        idProj(checked(id, idSchema, "row-id")).copy(),
        rowProj(checked(row, rowSchema, "data")).copy())
    override def insert(row: InternalRow): Unit =
      buf += GraftDeltaOp('I', null,
        rowProj(checked(row, rowSchema, "data")).copy())
    override def commit(): WriterCommitMessage =
      GraftDeltaMessage(buf.toArray)
    override def abort(): Unit = buf.clear()
    override def close(): Unit = ()
  }
}

case class GraftWriterFactory(schema: StructType,
    physical: StructType, replace: Boolean,
    gens: Array[(Int,
      org.apache.spark.sql.catalyst.expressions.Expression)] =
      Array.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    // Incoming rows may be columnar-batch or projection views whose
    // buffers the upstream operator REUSES across rows — materialize
    // each into a fresh on-heap UnsafeRow before buffering (a bare
    // row.copy() on a view row keeps shared string/array references
    // and segfaults once the arena is recycled).
    //
    // Layout quirk (measured on Spark 4.1): for the group-based
    // ReplaceData write, when the connector declares NO metadata
    // columns, ReplaceDataExec.writingTask picks the plain
    // DataWritingSparkTask and the declared rowProjection is never
    // applied — the writer receives the raw MergeRows output
    // [__row_operation, data...] one field WIDER than
    // LogicalWriteInfo.schema() (the projection-applying task only
    // runs when a metadataProjection exists, i.e. for
    // file/position-metadata connectors like the lake formats). Skip
    // the leading operation column in that shape — but ONLY on the
    // row-level (replace) path where MergeRows can appear upstream: a
    // plain append arriving one field wide is schema drift, not the
    // quirk, and silently dropping its first column would write
    // shifted data. Any other width is a layout this bridge does not
    // know and must FAIL LOUDLY rather than write shifted garbage.
    // rows arrive in the VISIBLE write schema's layout and are stored
    // in the PHYSICAL one (column mapping): live slots read their
    // visible position, tombstoned slots write NULL — identity when no
    // column was ever dropped
    private var proj: UnsafeProjection = _
    private val buf = scala.collection.mutable.ArrayBuffer[InternalRow]()
    // GENERATED COLUMNS: recompute every generated slot from the
    // physical row (ALWAYS semantics — stored values can never drift
    // from the formula; the replace path recomputes UPDATEs too)
    private lazy val genProj: UnsafeProjection = {
      val m = gens.toMap
      UnsafeProjection.create(physical.indices.map(i =>
        m.getOrElse(i, org.apache.spark.sql.catalyst.expressions
          .BoundReference(i, physical(i).dataType,
            physical(i).nullable))
        : org.apache.spark.sql.catalyst.expressions.Expression))
    }
    override def write(row: InternalRow): Unit = {
      if (proj == null) {
        proj =
          if (row.numFields == schema.length)
            UnsafeProjection.create(GraftColumnMap.toPhysical(physical))
          else if (replace && row.numFields == schema.length + 1)
            UnsafeProjection.create(
              GraftColumnMap.toPhysical(physical, offset = 1))
          else throw new IllegalStateException(
            s"row has ${row.numFields} fields, write schema has " +
              s"${schema.length} (replace=$replace) — unknown " +
              "row-level write layout")
      }
      buf += (if (gens.isEmpty) proj(row).copy()
        else genProj(proj(row)).copy())
    }
    override def commit(): WriterCommitMessage =
      GraftRowsMessage(buf.toArray)
    override def abort(): Unit = buf.clear()
    override def close(): Unit = ()
  }
}
