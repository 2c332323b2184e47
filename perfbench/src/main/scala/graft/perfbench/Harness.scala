package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's JVM side. `perfbench/run.py` writes a plan (workload,
  * data directory, seeded operation order, time budget) and starts this
  * main once per run; it executes the plan against the engine's public
  * entry points and writes raw samples, checks and (when traced) spans.
  * Metrics are derived from those records in Python.
  *
  * Usage: Harness <plan.json> <result.json>
  */
object Harness {
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(
      Files.readAllBytes(new File(args(0)).toPath), UTF_8))
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (plan \ "confs").extractOpt[Map[String, String]].getOrElse(Map.empty)
      .foreach { case (k, v) => spark.conf.set(k, v) }
    val trace =
      if ((plan \ "trace").extract[Boolean]) Some(new Trace(spark)) else None
    val run = new Run(spark, plan, trace)
    val body = (plan \ "mode").extract[String] match {
      case "queries" => run.queries()
      case "lake" => run.lake()
    }
    def write(path: String, v: JValue): Unit =
      Files.write(new File(path).toPath,
        JsonMethods.compact(JsonMethods.render(v)).getBytes(UTF_8))
    write(args(1), body)
    trace.foreach(t => write((plan \ "spans_out").extract[String], t.json))
    spark.stop()
  }

  /** Heap in use after a full collection, in MB. Collected twice: the
    * first collection lets Spark's ContextCleaner release the shuffles and
    * broadcasts of queries that are gone, the second frees them. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Column rendered for hashing: maps by their sorted entries where the
    * key orders, else by JSON, so the hash never depends on map insertion
    * order; everything else hashes natively. */
  private def canon(c: Column, t: DataType): Column = t match {
    case MapType(_: StringType | _: NumericType | _: BooleanType |
        _: DateType | _: TimestampType, _, _) =>
      array_sort(map_entries(c))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Order-insensitive content fingerprint: per-row xxhash64 over every
    * column, summed as two 32-bit halves (a sum cannot overflow below
    * 2^31 rows and does not depend on row order or partitioning). */
  def fingerprintColumns(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.toSeq.map(f =>
      canon(col(s"`${f.name}`"), f.dataType)): _*)
    Seq(count(lit(1)).as("fp_rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("fp_lo"),
      sum(shiftrightunsigned(h, 32)).as("fp_hi"))
  }

  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.agg(fingerprintColumns(df).head,
      fingerprintColumns(df).tail: _*).collect()(0)
    fpOf(r.getLong(0), Option(r.get(1)), Option(r.get(2)))
  }

  private def fpOf(n: Long, lo: Option[Any], hi: Option[Any]): (Long, String) = {
    def v(x: Option[Any]) = x.map(_.toString.toLong).getOrElse(0L)
    (n, f"${v(hi)}%016x${v(lo)}%016x")
  }

  /** Fully materialize `df` (every output column), returning its
    * fingerprint observed during the same action. */
  def materializeObserved(df: DataFrame): (Long, String) = {
    val obs = Observation("perfbench_fp")
    val cols = fingerprintColumns(df)
    df.observe(obs, cols.head, cols.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    fpOf(m("fp_rows").toString.toLong, m.get("fp_lo"), m.get("fp_hi"))
  }

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def errJson(err: Option[String]): JValue =
    err.map(JString(_)).getOrElse(JNull)

  def errText(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }
}

final class Run(spark: SparkSession, plan: JValue, trace: Option[Trace]) {
  import Harness._
  private implicit val formats: Formats = DefaultFormats

  private val seconds = (plan \ "seconds").extract[Double]
  // timed passes run until `seconds` have passed, and at least this many
  private val minPasses = (plan \ "min_passes").extract[Int]
  private def now(): Long = System.nanoTime()
  private def epochUs(): Long =
    trace.map(_.nowUs()).getOrElse(System.currentTimeMillis() * 1000L)

  private def span[A](name: String, kind: String)(body: => A): A =
    trace match {
      case Some(t) => t.span(name, kind)(body)
      case None => body
    }

  private def counters(): Map[String, Double] = {
    import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "files_discovered" ->
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "file_cache_hits" ->
        HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble,
      "codegen_compiles" -> compile.getCount.toDouble,
      "codegen_compile_ms_sampled" ->
        compile.getSnapshot.getValues.map(_.toDouble).sum,
      "codegen_sample_size" -> compile.getSnapshot.size.toDouble)
  }

  private def countersJson(m: collection.Map[String, Double]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })

  private def passJson(wall: Double): JValue = JObject(
    "wall_s" -> JDouble(wall), "heap_mb" -> JDouble(retainedHeapMb()))

  // ------------------------------------------------------------------
  // query workloads: registered ids, build + full materialization

  def queries(): JValue = {
    val data = (plan \ "data").extract[String]
    val warm = (plan \ "warm").extract[Seq[String]]
    val passes = (plan \ "passes").extract[Seq[Seq[String]]]
    val pairCols = (plan \ "pairs").extractOpt[Map[String, Seq[String]]]
      .getOrElse(Map.empty)
    val fns = graft.SparkEntry.queries

    /** One untimed pass over every id, each output fingerprinted by the
      * same action that materializes it. */
    def checkPass(): JValue = JObject(warm.toList.map { id =>
      val w0 = now()
      id -> (try {
        val (n, h) = materializeObserved(fns(id)(spark, data))
        JObject("rows" -> JLong(n), "hash" -> JString(h),
          "warm_s" -> JDouble((now() - w0) / 1e9))
      } catch {
        case NonFatal(e) => JObject("error" -> JString(errText(e)))
      })
    })

    // untimed warm-up, two checked passes (a failure here is reported by
    // the check and again by every timed sample). The first fills
    // fixtures, fits and memos; the second is a repeat call of every id,
    // served from those memos, and gives the JIT a pass of the path the
    // timed passes run.
    val sessionReadyUs = epochUs()
    val checks = checkPass()
    val checksWarm = checkPass()
    // every timed pass starts from a collected heap: the passes after the
    // first follow the heap measurement, which collects
    retainedHeapMb()
    val setupDoneUs = epochUs()

    trace.foreach(_.start())
    val c0 = counters()
    val samples = mutable.ArrayBuffer[JValue]()
    val passRecs = mutable.ArrayBuffer[JValue]()
    var timed = 0.0 // seconds spent inside passes
    span("run", "run") {
      var p = 0
      while (p < passes.size && (p < minPasses || timed < seconds)) {
        val ids = passes(p)
        val ps = now()
        def inPass = (now() - ps) / 1e9
        span(s"pass $p", "pass") {
          // passes always complete, so every id weighs the same
          ids.foreach { id =>
            samples += span(id, "op") {
              val s0 = now()
              var s1 = s0
              val err = try {
                val df = span("build", "build")(fns(id)(spark, data))
                s1 = now()
                span("action", "action")(materialize(df))
                None
              } catch { case NonFatal(e) => Some(errText(e)) }
              val s2 = now()
              JObject("op" -> JString(id), "kind" -> JString("query"),
                "pass" -> JLong(p), "build_s" -> JDouble((s1 - s0) / 1e9),
                "total_s" -> JDouble((s2 - s0) / 1e9),
                "error" -> errJson(err))
            }
          }
        }
        val wall = inPass
        timed += wall
        // outside the timed region: the heap that outlives the pass
        passRecs += passJson(wall)
        p += 1
      }
    }
    val c1 = counters()
    trace.foreach(_.stop())

    // untimed: the pair-emitting ids' pair sets, for recall
    val pairs = pairCols.toList.sortBy(_._1).map { case (id, cs) =>
      val got = try {
        fns(id)(spark, data).select(cs.map(c => col(c).cast(LongType)): _*)
          .collect().toList.map(r =>
            JArray(List(JLong(r.getLong(0)), JLong(r.getLong(1)))))
      } catch { case NonFatal(_) => Nil }
      id -> JArray(got)
    }
    JObject(
      "session_ready_us" -> JLong(sessionReadyUs),
      "setup_done_us" -> JLong(setupDoneUs),
      "checks" -> checks,
      "checks_warm" -> checksWarm,
      "samples" -> JArray(samples.toList),
      "passes" -> JArray(passRecs.toList),
      "counters_start" -> countersJson(c0),
      "counters_end" -> countersJson(c1),
      "plan_phase_ms" -> countersJson(
        trace.map(_.planPhaseMs).getOrElse(Map.empty[String, Double])),
      "pairs" -> JObject(pairs))
  }

  // ------------------------------------------------------------------
  // lake workload: seeded statement stream against the graft catalog

  /** (earliest retained, current) version of a table */
  private def retained(table: String): (Long, Long) = {
    val r = spark.sql("SELECT min(version), max(version) " +
      s"FROM graft.$table.history").collect()(0)
    def v(i: Int) = Option(r.get(i)).map(_.toString.toLong).getOrElse(-1L)
    (v(0), v(1))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  private def tableBytes(table: String): Long =
    walk(graft.sources.GraftWarehouse.tableDir(s"graft.$table"))
      .map(_.length).sum

  private def rows(df: DataFrame): JValue = JArray(
    df.orderBy("id").collect().toList.map(r => JArray(List(
      JLong(r.getLong(0)), JLong(r.getInt(1)), JDouble(r.getDouble(2)),
      JString(r.getString(3))))))

  def lake(): JValue = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    val tables = (plan \ "tables").extract[Seq[String]]
    val setupOps = (plan \ "setup_ops").extract[Seq[JObject]]
    val ops = (plan \ "ops").extract[Seq[JObject]]
    val passLen = (plan \ "pass_len").extract[Int]
    val apiFiles = mutable.ArrayBuffer[Long]()

    /** Run one statement. Reads that name a version look up the table's
      * retained range first; that lookup is harness work, so the returned
      * duration covers only the statement itself. */
    def exec(op: JObject, idx: Int): (Option[String], Double) = {
      val kind = (op \ "kind").extract[String]
      val table = (op \ "table").extractOpt[String].getOrElse("")
      // a time-travel read may target the earliest retained version; a
      // change feed starts after it
      val (first, cur) =
        if (kind == "timetravel_read" || kind == "cdc_read") retained(table)
        else (0L, 0L)
      def tt(back: Int, after: Int = 0) = math.max(first + after, cur - back)
      // traced runs attribute on-disk growth to each write statement
      val isWrite = Set("append", "merge", "delete", "update")(kind)
      val bytes0 = if (trace.isDefined && isWrite) tableBytes(table) else 0L
      val s0 = now()
      val err = span(kind, "op") { try {
        kind match {
          case "append" | "merge" | "delete" | "update" | "create" =>
            spark.sql((op \ "sql").extract[String])
          case "snapshot_read" =>
            materialize(spark.sql((op \ "sql").extract[String]))
          case "timetravel_read" =>
            materialize(spark.sql(s"SELECT * FROM graft.$table VERSION AS OF " +
              tt((op \ "back").extract[Int])))
          case "cdc_read" =>
            materialize(spark.read
              .option("startingVersion",
                tt((op \ "back").extract[Int], after = 1).toString)
              .table(s"graft.$table.changes"))
          case "compact" =>
            apiFiles += graft.api.GraftApi.rewriteSmallFiles(spark,
              s"graft.$table", (op \ "target_rows").extract[Int]).toLong
          case "expire" =>
            graft.api.GraftApi.expireSnapshots(spark, s"graft.$table",
              (op \ "keep").extract[Int])
          case "vacuum" =>
            graft.api.GraftApi.vacuumOrphans(spark, s"graft.$table")
          case "restart" =>
            val durable = (op \ "tables").extract[Seq[String]]
            graft.sources.GraftLog.simulateProcessRestart(
              durable.map(t => s"graft.$t"))
            // recovery ends with the first full read of every table
            tables.foreach(t => materialize(spark.table(s"graft.$t")))
        }
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[harness] op $idx $kind $table failed: $e")
          Some(errText(e))
      } }
      val dt = (now() - s0) / 1e9
      if (trace.isDefined && isWrite)
        trace.foreach(_.attrLast("op", "bytes_written",
          math.max(0L, tableBytes(table) - bytes0).toDouble))
      (err, dt)
    }

    // set-up: create and seed both tables, then one untimed statement of
    // every kind so codegen, catalog and log paths are warm
    val setupErrors = setupOps.zipWithIndex.flatMap { case (op, i) =>
      exec(op, -1 - i)._1.map(m => s"setup ${(op \ "kind").extract[String]}: $m")
    }
    retainedHeapMb() // as in queries(): the first pass starts collected
    val setupDoneUs = epochUs()

    trace.foreach(_.start())
    val c0 = counters()
    val samples = mutable.ArrayBuffer[JValue]()
    val passRecs = mutable.ArrayBuffer[JValue]()
    var timed = 0.0 // seconds spent in statements
    var executed = 0
    span("run", "run") {
      var pass = 0
      while (executed < ops.size && (pass < minPasses || timed < seconds)) {
        var wall = 0.0
        span(s"pass $pass", "pass") {
          do {
            val op = ops(executed)
            val kind = (op \ "kind").extract[String]
            val (err, dt) = exec(op, executed)
            wall += dt
            samples += JObject("op" -> JLong(executed),
              "kind" -> JString(kind), "pass" -> JLong(pass),
              "total_s" -> JDouble(dt), "error" -> errJson(err))
            executed += 1
          } while (executed < ops.size && executed % passLen != 0)
        }
        timed += wall
        passRecs += passJson(wall)
        pass += 1
      }
    }
    val c1 = counters()
    trace.foreach(_.stop())

    // untimed checks: note each table's version, run one more write, then
    // read the final snapshot and, by time travel, the noted version
    val before = tables.map(t => t -> retained(t)._2).toMap
    val checkErrors = (plan \ "check_ops").extract[Seq[JObject]]
      .flatMap(op => exec(op, -1)._1)
    val state = tables.toList.map { t =>
      t -> JObject(
        "final" -> rows(spark.table(s"graft.$t")),
        "tt_rows" -> rows(spark.sql(
          s"SELECT * FROM graft.$t VERSION AS OF ${before(t)}")))
    }
    val wh = graft.sources.GraftWarehouse.root
    val spaceTable = (plan \ "space_table").extract[String]
    val live = new File(wh.getParentFile, "live_once")
    spark.table(s"graft.$spaceTable").write.mode("overwrite").parquet(live.getPath)
    val liveBytes = walk(live).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    val tableFiles = walk(graft.sources.GraftWarehouse.tableDir(
      s"graft.$spaceTable"))
    val allFiles = tables.flatMap(t =>
      walk(graft.sources.GraftWarehouse.tableDir(s"graft.$t")))
    JObject(
      "setup_done_us" -> JLong(setupDoneUs),
      "setup_errors" -> JArray((setupErrors ++ checkErrors).toList
        .map(JString(_))),
      "executed" -> JLong(executed),
      "samples" -> JArray(samples.toList),
      "passes" -> JArray(passRecs.toList),
      "counters_start" -> countersJson(c0),
      "counters_end" -> countersJson(c1),
      "plan_phase_ms" -> countersJson(
        trace.map(_.planPhaseMs).getOrElse(Map.empty[String, Double])),
      "state" -> JObject(state),
      "api_files_rewritten" -> JLong(apiFiles.sum),
      "space" -> JObject(
        "table_bytes" -> JLong(tableFiles.map(_.length).sum),
        "live_bytes" -> JLong(liveBytes),
        "files_on_disk" -> JLong(allFiles.size),
        "log_files" -> JLong(allFiles.count(_.getPath.contains("_graft_log")))))
  }
}
