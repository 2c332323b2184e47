package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** True Structured Streaming forms of the §2.10 operators (SURVEY §5.2.4).
  * The batch-equivalent forms are oracle-compared via StreamOps; these
  * tests prove the readStream/watermark/state behavior the oracle can't see:
  * incremental emission, late-row dropping, within-watermark dedup, and
  * custom per-key state.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(min * 60000L)

  test("tumbling window with watermark drops rows later than the delay") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "etype")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("etype"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("etype"), col("n"))
    val q = agg.writeStream.format("memory").queryName("tumble")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(10), "click"), (ts(20), "click"))
      q.processAllAvailable() // watermark -> 00:10 after this batch
      in.addData((ts(120), "view"))
      q.processAllAvailable() // watermark -> 01:50, closes [00:00,01:00)
      // 00:30 is before the 01:50 watermark -> dropped, not added to the
      // already-emitted window; 03:30 advances the watermark past 02:00
      in.addData((ts(30), "click"), (ts(210), "view"))
      q.processAllAvailable()
      in.addData((ts(400), "view")) // close [03:00,04:00) too
      q.processAllAvailable()
      val got = spark.table("tumble")
        .select(col("w_start"), col("etype"), col("n"))
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
          r.getLong(2))).toSet
      assert(got.contains((0L, "click", 2L)), s"window[00:00) wrong: $got")
      assert(!got.exists(g => g._1 == 0L && g._3 == 3L),
        "late 00:30 row must NOT reach the closed [00:00,01:00) window")
      assert(got.contains((120L, "view", 1L)), s"window[02:00) wrong: $got")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dd = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("k")
    val q = dd.writeStream.format("memory").queryName("dedupw")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), 7L), (ts(2), 7L)) // same key, same batch
      q.processAllAvailable()
      in.addData((ts(3), 7L), (ts(4), 8L)) // dup of 7 across batches
      q.processAllAvailable()
      val ks = spark.table("dedupw").select("k").as[Long].collect().toSeq
      assert(ks.sorted == Seq(7L, 8L), s"expected one 7 and one 8, got $ks")
    } finally q.stop()
  }

  test("session_window merges events within the gap, splits beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val sess = in.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), col("n"))
    val q = sess.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: 00:00,00:20,00:40 chain (gaps<30m -> one session of 3);
      // then 02:00 (gap>30m -> new session)
      in.addData((ts(0), 1L), (ts(20), 1L), (ts(40), 1L), (ts(120), 1L))
      q.processAllAvailable()
      in.addData((ts(600), 9L)) // push watermark far ahead to close all
      q.processAllAvailable()
      val got = spark.table("sess").where(col("user") === 1)
        .select("n").as[Long].collect().toSeq.sorted
      assert(got == Seq(1L, 3L), s"expected sessions [3,1], got $got")
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user counters") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val counts = in.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          val batch = rows.toSeq
          val next = (n0 + batch.size, v0 + batch.map(_._2).sum)
          state.update(next)
          (user, next._1, next._2)
      }
      .toDF("user", "n", "total")
    val q = counts.writeStream.format("memory").queryName("stateful")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData((1L, 1.0), (1L, 2.0), (2L, 10.0))
      q.processAllAvailable()
      in.addData((1L, 4.0))
      q.processAllAvailable()
      val last = spark.table("stateful").where(col("user") === 1)
        .orderBy(col("n").desc).limit(1)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).head
      assert(last == (3L, 7.0), s"user 1 final state wrong: $last")
      val u2 = spark.table("stateful").where(col("user") === 2)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).head
      assert(u2 == (1L, 10.0))
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases to recent clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "1 hour")
    val b = buys.toDF().toDF("b_ts", "b_user").withWatermark("b_ts", "1 hour")
    val joined = b.join(c,
      expr("b_user = c_user AND c_ts <= b_ts AND " +
        "c_ts >= b_ts - INTERVAL 30 MINUTES"))
      .select("b_user", "b_ts", "c_ts")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((ts(10), 1L), (ts(50), 1L), (ts(10), 2L))
      buys.addData((ts(30), 1L), (ts(300), 2L))
      q.processAllAvailable()
      val got = spark.table("ssjoin")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
          r.getTimestamp(2).getTime / 60000)).toSet
      // user 1 buys at 00:30 → clicked at 00:10 (within 30 min); the 00:50
      // click is after the buy; user 2's buy at 05:00 has no recent click
      assert(got == Set((1L, 30L, 10L)), s"unexpected join rows: $got")
    } finally q.stop()
  }

  test("stream-stream join buffers survive a checkpoint restart") {
    // the last stateful class in the restart matrix: interval-join
    // BUFFERS. A click arriving before shutdown must still match a
    // purchase that only arrives in the next incarnation — the buffered
    // side is restored from the checkpoint, not rebuilt from input.
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files
      .createTempDirectory("graft_ssjrestart").toString
    val (srcC, srcB, ckpt, out) =
      (s"$root/clicks", s"$root/buys", s"$root/ck", s"$root/out")
    new java.io.File(srcC).mkdirs(); new java.io.File(srcB).mkdirs()
    def run(): Unit = {
      val c = spark.readStream.schema("c_ts TIMESTAMP, c_user BIGINT")
        .parquet(srcC).withWatermark("c_ts", "1 hour")
      val b = spark.readStream.schema("b_ts TIMESTAMP, b_user BIGINT")
        .parquet(srcB).withWatermark("b_ts", "1 hour")
      val joined = b.join(c,
        expr("b_user = c_user AND c_ts <= b_ts AND " +
          "c_ts >= b_ts - INTERVAL 30 MINUTES"))
        .select("b_user", "b_ts", "c_ts")
      val q = joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "ss-join run did not finish")
      q.stop()
    }
    try {
      // run 1: user 1 clicks; a decoy unmatched buy keeps both sources
      // non-empty. No matches yet — the click is BUFFERED state.
      Seq((ts(10), 1L)).toDF("c_ts", "c_user")
        .coalesce(1).write.mode("append").parquet(srcC)
      Seq((ts(5), 9L)).toDF("b_ts", "b_user")
        .coalesce(1).write.mode("append").parquet(srcB)
      run()
      // run 2 (restart): the purchase 20 minutes after the PRE-RESTART
      // click must join against restored buffer state
      Seq((ts(30), 1L)).toDF("b_ts", "b_user")
        .coalesce(1).write.mode("append").parquet(srcB)
      run()
      val got = spark.read
        .schema("b_user BIGINT, b_ts TIMESTAMP, c_ts TIMESTAMP")
        .parquet(out).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
          r.getTimestamp(2).getTime / 60000)).toSet
      assert(got == Set((1L, 30L, 10L)),
        s"join buffer did not survive the restart: $got")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState keeps running per-user counters (Spark 4 API)") {
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Long, Double)]
    val counts = in.toDS()
      .groupByKey(_._1)
      .transformWithState(new streaming.RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF("user", "n", "total")
    val q = counts.writeStream.format("memory").queryName("tws")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData((1L, 1.5), (1L, 2.5), (2L, 10.0))
      q.processAllAvailable()
      in.addData((1L, 6.0))
      q.processAllAvailable()
      val u1 = spark.table("tws").where(col("user") === 1)
        .orderBy(col("n").desc).limit(1)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).head
      assert(u1 == (3L, 10.0), s"user 1 state wrong: $u1")
    } finally {
      q.stop()
      prior match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("parquet file source streams the documents table (AvailableNow)") {
    // the file source requires a directory — stage the single-file table
    val path = s"$sf/documents.parquet"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_src").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(path),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val sch = spark.read.parquet(path).schema
    val counts = spark.readStream.schema(sch).parquet(dir)
      .groupBy("lang").count()
    val q = counts.writeStream.format("memory").queryName("filesrc")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "file-source stream did not finish")
      val streamed = spark.table("filesrc")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = spark.read.parquet(path).groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch, s"stream/batch divergence: $streamed vs $batch")
    } finally q.stop()
  }

  test("checkpointed query resumes state across restart (exactly-once)") {
    // operational recovery: stop a checkpointed aggregation, add more
    // input files, restart with the SAME checkpoint — counts continue
    // from durable state (already-read files are not re-ingested, new
    // ones are picked up exactly once). This is the property that makes
    // a long-running pipeline safe to kill and redeploy.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt")
      .toString
    val (src, ckpt, out) = (s"$root/in", s"$root/ck", s"$root/out")
    new java.io.File(src).mkdirs()
    def run(): Unit = {
      val q = spark.readStream.schema("k LONG, v LONG").parquet(src)
        .groupBy("k").agg(sum("v").as("total"))
        .writeStream.format("memory").queryName("ckq")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Complete)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "checkpointed run did not finish")
      q.stop()
    }
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    run()
    val first = spark.table("ckq")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(first == Map(1L -> 10L, 2L -> 20L), s"first run: $first")
    Seq((1L, 5L), (3L, 30L)).toDF("k", "v")
      .write.mode("append").parquet(src)
    run()
    val second = spark.table("ckq")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(second == Map(1L -> 15L, 2L -> 20L, 3L -> 30L),
      s"state did not resume across restart: $second")
  }

  test("stream_ingest_dedup twin: transformWithState admits each " +
      "fingerprint exactly once across triggers and a restart") {
    // the streaming form of the batch id: file-source docs →
    // fingerprint → IngestDedupProcessor, driven over two AvailableNow
    // runs sharing one checkpoint. A fingerprint admitted in run 1 must
    // be REJECTED in run 2 (state survived the restart) with the
    // original keeper's id; an unseen fingerprint still admits.
    import spark.implicits._
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files
      .createTempDirectory("graft_ingdedup").toString
    val (src, ckpt, out) = (s"$root/in", s"$root/ck", s"$root/out")
    new java.io.File(src).mkdirs()
    def run(): Unit = {
      val hashed = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(src)
        .select(col("doc_id"),
          sha2(col("text").cast("binary"), 256).as("h"))
        .as[(Long, String)]
      val verdicts = hashed.groupByKey(_._2)
        .transformWithState(new streaming.IngestDedupProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .toDF("doc_id", "admitted", "first_id")
      // file sink: the recoverable sink shape (memory/Update cannot
      // resume from a checkpoint), so the restart is the real thing
      val q = verdicts.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "ingest-dedup run did not finish")
      q.stop()
    }
    def verdicts(): Set[(Long, Long, Long)] =
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      // run 1: docs 1/3 share a fingerprint — 1 admits, 3 rejects
      Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      run()
      assert(verdicts() == Set((1L, 1L, 1L), (2L, 1L, 2L), (3L, 0L, 1L)),
        s"run 1 verdicts: ${verdicts()}")
      // run 2 (restart from the same checkpoint): doc 4 repeats run 1's
      // "aa" — must reject against the RESTORED state; doc 5 is new;
      // doc 6 arrives TWICE in one batch (at-least-once replay) —
      // exactly ONE copy may carry the admission verdict
      Seq((4L, "aa"), (5L, "cc"), (6L, "dd"), (6L, "dd"))
        .toDF("doc_id", "text").write.mode("append").parquet(src)
      run()
      val all = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(all.toSet == Set((1L, 1L, 1L), (2L, 1L, 2L), (3L, 0L, 1L),
        (4L, 0L, 1L), (5L, 1L, 5L), (6L, 1L, 6L), (6L, 0L, 6L)),
        s"state did not survive the restart: ${all.sorted}")
      assert(all.count(v => v._1 == 6L && v._2 == 1L) == 1,
        s"replayed row double-admitted: ${all.sorted}")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream_ingest_neardup twin: band-keyed transformWithState blocks " +
      "near-dups across triggers and a restart") {
    // the streaming form of the batch id: file-source docs → MinHash
    // band keys (the dedup_near family) → NearDupBandProcessor keyed by
    // BAND → per-batch doc-level combine in foreachBatch, two
    // AvailableNow runs sharing one checkpoint. A doc whose bands were
    // observed in run 1 must be REJECTED in run 2 (band state survived
    // the restart) with the original blocker's id; fresh content still
    // admits; an at-least-once replay within one batch collapses to
    // one verdict row.
    import org.apache.spark.sql.DataFrame
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files
      .createTempDirectory("graft_neardup").toString
    val (src, ckpt, out) = (s"$root/in", s"$root/ck", s"$root/out")
    new java.io.File(src).mkdirs()
    val combine: (DataFrame, Long) => Unit = (b: DataFrame, _: Long) =>
      b.groupBy("doc_id").agg(
          max(when(col("first_id") < col("doc_id"), 1L).otherwise(0L))
            .as("collides"),
          min(when(col("first_id") < col("doc_id"), col("first_id")))
            .as("blocked_by"))
        .select(col("doc_id"),
          when(col("collides") === 1L, 0L).otherwise(1L).as("admitted"),
          coalesce(col("blocked_by"), lit(-1L)).as("blocked_by"))
        .write.mode("append").parquet(out)
    def run(): Unit = {
      val docs = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(src)
      val verdicts = graft.operators.VectorOps.minhashBandKeys(docs)
        .as[(Long, String)]
        .groupByKey(_._2)
        .transformWithState(new streaming.NearDupBandProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .toDF("doc_id", "first_id")
      val q = verdicts.writeStream
        .foreachBatch(combine)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "neardup run did not finish")
      q.stop()
    }
    def verdicts(): Seq[(Long, Long, Long)] =
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    try {
      // run 1: docs 1/3 are identical (same bands) — 1 admits, 3 is
      // blocked by 1; doc 2's content is unrelated — admits
      Seq((1L, "join hash row scan batch"),
        (2L, "filter small slow merge order"),
        (3L, "join hash row scan batch")).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      run()
      assert(verdicts() == Seq((1L, 1L, -1L), (2L, 1L, -1L), (3L, 0L, 1L)),
        s"run 1 verdicts: ${verdicts()}")
      // run 2 (restart from the same checkpoint): doc 4 repeats run 1's
      // content — must reject against the RESTORED band state with the
      // ORIGINAL blocker; doc 5 is fresh; doc 6 is fresh and arrives
      // TWICE in one batch (at-least-once replay) — one verdict row
      Seq((4L, "join hash row scan batch"),
        (5L, "vector line data table agg"),
        (6L, "value key stream window spark"),
        (6L, "value key stream window spark")).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      run()
      assert(verdicts() == Seq((1L, 1L, -1L), (2L, 1L, -1L), (3L, 0L, 1L),
        (4L, 0L, 1L), (5L, 1L, -1L), (6L, 1L, -1L)),
        s"band state did not survive the restart: ${verdicts()}")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("late_data twin: watermark + window state survive a checkpoint " +
      "restart (late rows stay dropped)") {
    // VERDICT r7 #7: the remaining stateful streaming ids proven across
    // REAL checkpoint restarts, not just across triggers. The watermark
    // is persisted in the commit log: a row older than the RESTORED
    // watermark must be dropped in the next incarnation (never
    // resurrecting an already-emitted window), and a window left open
    // at shutdown must finalize from restored state.
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files
      .createTempDirectory("graft_latedata").toString
    val (src, ckpt, out) = (s"$root/in", s"$root/ck", s"$root/out")
    new java.io.File(src).mkdirs()
    def run(): Unit = {
      val agg = spark.readStream
        .schema("ts TIMESTAMP, etype STRING").parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
      val q = agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "late-data run did not finish")
      q.stop()
    }
    def windows(): Seq[(Long, Long)] =
      spark.read.schema("w_start TIMESTAMP, n LONG").parquet(out)
        .collect().map(r => (r.getTimestamp(0).getTime / 60000,
          r.getLong(1))).toSeq
    try {
      // run 1: W[0,10) holds 3 rows; minute 60 pushes the watermark to
      // 50 — W[0,10) is closed (emitted this run or at run-2 startup)
      Seq((ts(0), "click"), (ts(2), "click"), (ts(4), "click"),
        (ts(60), "view")).toDF("ts", "etype")
        .coalesce(1).write.mode("append").parquet(src)
      run()
      // run 2 (restart): minute 3 is behind the RESTORED watermark (50)
      // — must be dropped, NOT resurrect W[0,10); minute 80 closes
      // W[60,70) from restored state
      Seq((ts(3), "late"), (ts(80), "view")).toDF("ts", "etype")
        .coalesce(1).write.mode("append").parquet(src)
      run()
      // run 3: push the watermark far ahead so every open window flushes
      Seq((ts(300), "view")).toDF("ts", "etype")
        .coalesce(1).write.mode("append").parquet(src)
      run()
      val got = windows()
      assert(got.count(_._1 == 0L) == 1,
        s"W[0,10) must be emitted exactly once: $got")
      assert(got.contains((0L, 3L)),
        s"W[0,10) must hold the 3 pre-restart rows only (late row " +
          s"dropped): $got")
      assert(got.contains((60L, 1L)),
        s"W[60,70) must finalize from restored state: $got")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream_dedup twin: dropDuplicates state survives a checkpoint " +
      "restart") {
    // the exactly-once admission ledger: an event_id admitted before
    // the restart must stay rejected after it.
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files
      .createTempDirectory("graft_sdedup").toString
    val (src, ckpt, out) = (s"$root/in", s"$root/ck", s"$root/out")
    new java.io.File(src).mkdirs()
    def run(): Unit = {
      val dd = spark.readStream
        .schema("doc_id LONG, event_id STRING").parquet(src)
        .dropDuplicates("event_id")
      val q = dd.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream-dedup run did not finish")
      q.stop()
    }
    try {
      Seq((1L, "e1"), (2L, "e2")).toDF("doc_id", "event_id")
        .coalesce(1).write.mode("append").parquet(src)
      run()
      // restart: e1 again (must be dropped against restored state), e3 new
      Seq((3L, "e1"), (4L, "e3")).toDF("doc_id", "event_id")
        .coalesce(1).write.mode("append").parquet(src)
      run()
      val ids = spark.read
        .schema("doc_id LONG, event_id STRING").parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 2L, 4L),
        s"dedup state did not survive the restart: $ids")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream_session twin: session-window merge state survives a " +
      "checkpoint restart") {
    // the MERGING-state class (session windows grow/merge, unlike the
    // fixed tumbling grid): a session left open at shutdown must close
    // correctly from restored state, and a post-restart event beyond
    // the gap must open a NEW session, never resurrect the closed one.
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files
      .createTempDirectory("graft_sessrestart").toString
    val (src, ckpt, out) = (s"$root/in", s"$root/ck", s"$root/out")
    new java.io.File(src).mkdirs()
    def run(): Unit = {
      val sess = spark.readStream
        .schema("ts TIMESTAMP, user BIGINT").parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("s_start"), col("user"),
          col("n"))
      val q = sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "session run did not finish")
      q.stop()
    }
    try {
      // run 1: user 1's two events chain into ONE open session
      // [0, 50); user 9 at minute 100 drives the watermark to 90,
      // which closes it (emitted this run or at run-2 startup)
      Seq((ts(0), 1L), (ts(20), 1L), (ts(100), 9L))
        .toDF("ts", "user").coalesce(1).write.mode("append").parquet(src)
      run()
      // run 2 (restart): user 1 at minute 200 is beyond the 30-minute
      // gap of the RESTORED session — a NEW session, not a merge
      Seq((ts(200), 1L), (ts(600), 9L))
        .toDF("ts", "user").coalesce(1).write.mode("append").parquet(src)
      run()
      // run 3: flush every remaining open window
      Seq((ts(1200), 9L))
        .toDF("ts", "user").coalesce(1).write.mode("append").parquet(src)
      run()
      val u1 = spark.read
        .schema("s_start TIMESTAMP, user BIGINT, n LONG").parquet(out)
        .where(col("user") === 1L).collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(2)))
        .toSeq.sorted
      assert(u1 == Seq((0L, 2L), (200L, 1L)),
        s"session state did not survive the restart: $u1")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming tumbling counts converge to the batch-equivalent query") {
    implicit val sqlCtx = spark.sqlContext
    val batch = SparkEntry.queries("stream_tumbling")(spark, sf)
      .select("w_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val ev = Tables.events(spark, sf)
      .select("ts", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"))
    val q = agg.writeStream.format("memory").queryName("conv")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(ev.toSeq)
      q.processAllAvailable()
      val got = spark.table("conv")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == batch,
        s"stream/batch divergence: ${(got diff batch) ++ (batch diff got)}")
    } finally q.stop()
  }

  test("streaming drift monitor: windowed bin counts + static baseline " +
    "converge to stream_drift") {
    implicit val sqlCtx = spark.sqlContext
    val batch = SparkEntry.queries("stream_drift")(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getAs[Long]("n_events"),
        r.getAs[Double]("psi"))).toSet
    val ev = Tables.events(spark, sf).select("ts", "value")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1)))
    val in = MemoryStream[(Timestamp, Double)]
    // streaming leg: watermarked windowed bin counts (the only stateful
    // part — the PSI arithmetic is a stateless per-batch join against a
    // static broadcast baseline, done below on the converged counts)
    val counts = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours").as("w"),
        least(floor(col("value") / lit(56.1)), lit(9)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("bin"), col("n"))
    val q = counts.writeStream.format("memory").queryName("driftc")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(ev.toSeq)
      q.processAllAvailable()
      // re-materialize the converged counts: a MemoryPlan view joined
      // against itself (wTot ⋈ wb) trips conflicting-reference
      // resolution, and the counts are tiny (windows × 10 bins)
      val wb = spark.table("driftc").collect()
        .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2))).toSeq
        .toDF("w_start", "bin", "n")
      val base = Tables.events(spark, sf)
        .groupBy(least(floor(col("value") / lit(56.1)), lit(9)).cast("int")
          .as("bin"))
        .agg(count(lit(1)).as("nb"))
      val baseTot = base.agg(sum("nb").as("tb"))
      val wTot = wb.groupBy("w_start").agg(sum("n").as("tw"))
      val p = (coalesce(col("n"), lit(0L)) + 1).cast("double") /
        (col("tw") + 10).cast("double")
      val qq = (coalesce(col("nb"), lit(0L)) + 1).cast("double") /
        (col("tb") + 10).cast("double")
      // full 0..9 grid per window (the batch op's contract)
      val got = wTot
        .select(col("w_start"), col("tw"),
          explode(sequence(lit(0), lit(9))).as("bin"))
        .join(broadcast(base), Seq("bin"), "left")
        .crossJoin(broadcast(baseTot))
        .join(wb, Seq("w_start", "bin"), "left")
        .groupBy("w_start", "tw")
        .agg(sum(floor((p - qq) * log(p / qq) * 1e6 + 0.5).cast("long"))
          .as("tsum"))
        .select(col("w_start"), col("tw").as("n_events"),
          (col("tsum").cast("double") / 1e6).as("psi"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getAs[Long]("n_events"),
          r.getAs[Double]("psi"))).toSet
      assert(got == batch,
        s"stream/batch drift divergence: ${(got diff batch) ++ (batch diff got)}")
    } finally q.stop()
  }

  test("stream-stream left outer join emits unmatched rows after watermark") {
    implicit val sqlCtx = spark.sqlContext
    // clicks left-join purchases within [0, +10 min] per user; a click
    // with no purchase must surface WITH NULLS once the watermark passes
    // its join window — the completeness guarantee an enrichment join
    // needs (an inner join would silently drop the row)
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "user_id")
      .withWatermark("c_ts", "5 minutes")
    val b = buys.toDF().toDF("p_ts", "p_user")
      .withWatermark("p_ts", "5 minutes")
    val j = c.join(b,
      expr("user_id = p_user AND p_ts >= c_ts AND " +
        "p_ts <= c_ts + INTERVAL 10 MINUTES"), "leftOuter")
    val q = j.writeStream.format("memory").queryName("lsj")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData((ts(10), 1L), (ts(10), 2L))
      buys.addData((ts(12), 1L)) // user 1 converts, user 2 never does
      q.processAllAvailable()
      // advance both watermarks far past click+10min so the unmatched
      // left row is finalized and emitted
      clicks.addData((ts(120), 9L))
      buys.addData((ts(120), 9L))
      q.processAllAvailable()
      val rows = spark.table("lsj")
        .select(col("user_id"), col("p_ts").isNull.as("unmatched"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
      assert(rows.contains((1L, false)), s"matched row missing: $rows")
      assert(rows.contains((2L, true)),
        s"unmatched left row not emitted after watermark: $rows")
    } finally q.stop()
  }

  test("foreachBatch upserts each micro-batch into a versioned snapshot") {
    implicit val sqlCtx = spark.sqlContext
    // the streaming form of upsert_snapshot: every micro-batch full-outer
    // merges into the current snapshot version and commits a NEW version
    // dir (write-new + pointer-swap — the atomic commit a real lakehouse
    // sink performs; never read-modify-write one path in place)
    val root = java.nio.file.Files.createTempDirectory("graft_upsert")
      .toString
    @volatile var current = s"$root/v0"
    Seq((0L, 0.0), (1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 0.0))
      .toDF("k", "v").write.parquet(current)
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("k", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val snap = spark.read.parquet(current)
          .select(col("k").as("sk"), col("v").as("sv"))
        val next = s"$root/v${id + 1}"
        batch.select(col("k").as("bk"), col("v").as("bv"))
          .join(snap, col("sk") === col("bk"), "full_outer")
          .select(coalesce(col("bk"), col("sk")).as("k"),
            coalesce(col("bv"), col("sv")).as("v"))
          .write.parquet(next)
        current = next
      }
      .start()
    try {
      in.addData((1L, 10.0), (5L, 50.0))
      q.processAllAvailable()
      in.addData((1L, 11.0), (6L, 60.0))
      q.processAllAvailable()
      val got = spark.read.parquet(current)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val expected = Set((0L, 0.0), (1L, 11.0), (2L, 0.0), (3L, 0.0),
        (4L, 0.0), (5L, 50.0), (6L, 60.0))
      assert(got == expected, s"snapshot mismatch: $got")
      // earlier versions remain readable (time travel by version pointer)
      val v0 = spark.read.parquet(s"$root/v0")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(v0 == Set((0L, 0.0), (1L, 0.0), (2L, 0.0), (3L, 0.0),
        (4L, 0.0)))
    } finally q.stop()
  }

  test("foreachBatch drives NATIVE MERGE INTO against the DSv2 catalog") {
    implicit val sqlCtx = spark.sqlContext
    // the production streaming-upsert shape: every micro-batch runs a
    // real MERGE INTO statement through Spark's row-level planner
    // (graft.sources.GraftMergeCatalog) — the same statement text a
    // Delta/Iceberg streaming sink executes; last-write-wins per key,
    // and the versioned store keeps one snapshot per batch commit
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.stream_tgt")
    spark.sql("CREATE TABLE graft.stream_tgt (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.stream_tgt VALUES (0, 0.0), (1, 0.0)")
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("k", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          // the batch frame is bound to the micro-batch's session clone
          // — register the view and run the statement THERE
          batch.createOrReplaceTempView("graft_stream_batch")
          batch.sparkSession.sql(
            """MERGE INTO graft.stream_tgt t
              |USING graft_stream_batch s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET v = s.v
              |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
              |""".stripMargin)
          ()
      }
      .start()
    try {
      in.addData((1L, 10.0), (5L, 50.0))
      q.processAllAvailable()
      in.addData((1L, 11.0), (6L, 60.0))
      q.processAllAvailable()
      val got = spark.table("graft.stream_tgt")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((0L, 0.0), (1L, 11.0), (5L, 50.0), (6L, 60.0)),
        s"merged state mismatch: $got")
      // the versioned store time-travels to the pre-stream seed
      val v0 = spark.sql(
        "SELECT * FROM graft.stream_tgt VERSION AS OF 0")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(v0 == Set((0L, 0.0), (1L, 0.0)),
        s"seed snapshot not preserved: $v0")
    } finally q.stop()
  }

  test("readStream over the governed DSv2 table: commits become " +
      "micro-batches; a checkpointed restart resumes MID-version-history") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.feed")
    spark.sql("CREATE TABLE graft.feed (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.feed VALUES (1, 1.0), (2, 2.0)") // v0
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_feed_ckpt").toString
    // foreachBatch sink (memory sinks refuse checkpoint recovery): each
    // query instance collects what IT consumed, so a restart's buffer
    // holds exactly the resumed range
    def start(buf: scala.collection.mutable.ArrayBuffer[(Long, Double)]) =
      spark.readStream.table("graft.feed")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            buf.synchronized {
              buf ++= b.collect().map(r => (r.getLong(0), r.getDouble(1)))
            }
            ()
        }
        .start()
    val buf1 = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      assert(buf1.sorted.toSeq == Seq((1L, 1.0), (2L, 2.0)),
        s"first batch wrong: $buf1")
      // a LATER commit arrives while the query runs → exactly the new
      // rows are delivered, once
      spark.sql("INSERT INTO graft.feed VALUES (3, 3.0)") // v1
      q1.processAllAvailable()
      assert(buf1.sorted.toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
        s"incremental batch wrong: $buf1")
    } finally q1.stop()
    // a commit lands while the query is DOWN; the restarted query must
    // resume from the checkpointed offset (consume ONLY commit v2, not
    // re-read history)
    spark.sql("INSERT INTO graft.feed VALUES (4, 4.0), (5, 5.0)") // v2
    val buf2 = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q2 = start(buf2)
    try {
      q2.processAllAvailable()
      assert(buf2.sorted.toSeq == Seq((4L, 4.0), (5L, 5.0)),
        s"restart did not resume mid-history: $buf2")
    } finally q2.stop()
    // a row-level rewrite breaks the append-only stream contract —
    // the NEXT micro-batch must fail loudly, not emit garbage
    spark.sql("DELETE FROM graft.feed WHERE k = 1") // v3: rewrite
    val q3 = start(scala.collection.mutable.ArrayBuffer[(Long, Double)]())
    try {
      val ex = intercept[Exception] { q3.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert((msgs(ex) ++ Option(q3.exception.map(_.toString()).orNull))
        .exists(_.contains("append-only")),
        s"non-append commit not rejected: $ex")
    } finally q3.stop()
    spark.sql("DROP TABLE graft.feed")
  }

  test("a micro-batch over many appended parquet files packs them into " +
      "at most defaultParallelism partitions and delivers each row once") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    spark.sql("DROP TABLE IF EXISTS graft.pack_feed")
    spark.sql("CREATE TABLE graft.pack_feed (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    def appendFiles(from: Int, until: Int): Unit = (from until until)
      .foreach { i =>
        spark.sql("INSERT INTO graft.pack_feed SELECT id, " +
          s"CAST(id AS DOUBLE) FROM range(${i * 10}, ${i * 10 + 10}, 1, 1)")
      }
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_pack_ckpt").toString
    val keys = scala.collection.mutable.ArrayBuffer[Long]()
    val parts = scala.collection.mutable.ArrayBuffer[Int]()
    def start() = spark.readStream.table("graft.pack_feed")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          keys.synchronized {
            parts += b.rdd.getNumPartitions
            keys ++= b.collect().map(_.getLong(0))
          }
          ()
      }
      .start()
    // the first trigger covers ten append commits, one file each; the
    // restarted query's first trigger the ten that land while it is down
    appendFiles(0, 10)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    appendFiles(10, 20)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(parts.nonEmpty && parts.forall(_ <= par),
      s"micro-batch partitions $parts exceed defaultParallelism $par")
    assert(keys.sorted.toSeq == (0L until 200L),
      s"rows lost or repeated: ${keys.sorted.take(20)}…")
    spark.sql("DROP TABLE graft.pack_feed")
  }

  test("admission control on the governed stream: maxCommitsPerTrigger " +
      "paces batches; Trigger.AvailableNow drains a frozen target in " +
      "row-bounded batches and stops") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.paced")
    spark.sql("CREATE TABLE graft.paced (k BIGINT)")
    spark.sql("INSERT INTO graft.paced SELECT id FROM range(2)") // v0: 2
    spark.sql("INSERT INTO graft.paced SELECT id FROM range(3)") // v1: 3
    spark.sql("INSERT INTO graft.paced SELECT id FROM range(4)") // v2: 4
    def drive(reader: org.apache.spark.sql.DataFrame,
        availableNow: Boolean): Seq[Long] = {
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_paced_ckpt").toString
      val w = reader.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            val n = b.count()
            if (n > 0) sizes.synchronized { sizes += n }
            ()
        }
      val q = (if (availableNow) w.trigger(org.apache.spark.sql
        .streaming.Trigger.AvailableNow()) else w).start()
      try {
        if (availableNow) assert(q.awaitTermination(60000),
          "AvailableNow query did not terminate")
        else q.processAllAvailable()
      } finally q.stop()
      sizes.toSeq
    }
    // one commit per trigger → the three commits arrive as 2, 3, 4
    val paced = drive(spark.readStream
      .option("maxCommitsPerTrigger", "1").table("graft.paced"),
      availableNow = false)
    assert(paced == Seq(2L, 3L, 4L),
      s"maxCommitsPerTrigger did not pace per-commit: $paced")
    // row budget 5: commits admit until the budget is reached →
    // (2+3)=5, then 4; AvailableNow drains to the frozen target and
    // terminates on its own
    val drained = drive(spark.readStream
      .option("maxRowsPerTrigger", "5").table("graft.paced"),
      availableNow = true)
    assert(drained == Seq(5L, 4L),
      s"row-budget admission wrong: $drained")
    spark.sql("DROP TABLE graft.paced")
    // the CHANGE FEED stream paces the same way: one commit's change
    // rows per trigger (seed=2 inserts, then 1 delete, then 1 insert
    // → batch sizes 2, 1, 1 with AvailableNow terminating on its own)
    spark.sql("DROP TABLE IF EXISTS graft.paced_cdf")
    spark.sql("CREATE TABLE graft.paced_cdf (k BIGINT) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.paced_cdf VALUES (1), (2)") // v0
    spark.sql("DELETE FROM graft.paced_cdf WHERE k = 1") // v1
    spark.sql("INSERT INTO graft.paced_cdf VALUES (3)") // v2
    val cdf = drive(spark.readStream
      .option("maxCommitsPerTrigger", "1")
      .table("graft.paced_cdf.changes"),
      availableNow = true)
    assert(cdf == Seq(2L, 1L, 1L),
      s"CDF stream did not pace per-commit: $cdf")
    spark.sql("DROP TABLE graft.paced_cdf")
  }

  test("append-only stream check catches a MID-ROW merge-on-read UPDATE " +
      "(length and endpoints unchanged)") {
    // the hole an endpoint-sampled prefix check would leave: a MoR
    // UPDATE of a middle row keeps the snapshot length AND the first/
    // last row objects identical — only full prefix identity sees the
    // replaced middle row; silently emitting an empty batch here would
    // drop the change from every downstream consumer
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.feed_mid")
    spark.sql("CREATE TABLE graft.feed_mid (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.feed_mid VALUES (1, 1.0), (2, 2.0), " +
      "(3, 3.0)")
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q = spark.readStream.table("graft.feed_mid").writeStream
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_feed_mid_ckpt").toString)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          buf.synchronized {
            buf ++= b.collect().map(r => (r.getLong(0), r.getDouble(1)))
          }
          ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(buf.sorted.toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
      spark.sql("UPDATE graft.feed_mid SET v = 20.0 WHERE k = 2")
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert((msgs(ex) ++ Option(q.exception.map(_.toString()).orNull))
        .exists(_.contains("append-only")),
        s"mid-row rewrite not rejected: $ex")
    } finally q.stop()
    spark.sql("DROP TABLE graft.feed_mid")
  }

  test("two concurrent streaming writers into ONE governed table: " +
      "commits serialize, no lost rows, epochs dedup per query") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.cw_t")
    spark.sql("CREATE TABLE graft.cw_t (k BIGINT, src STRING)")
    val inA = MemoryStream[(Long, String)]
    val inB = MemoryStream[(Long, String)]
    def start(in: MemoryStream[(Long, String)]) = {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cw_ckpt").toString
      in.toDF().toDF("k", "src").writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .toTable("graft.cw_t")
    }
    val qA = start(inA); val qB = start(inB)
    try {
      // interleaved epochs from two independent queries — the store's
      // atomic mutate serializes them, and the per-(table, queryId)
      // epoch ledger means neither query's WAL replay can dedup the
      // OTHER query's commits
      inA.addData((1L, "a"), (2L, "a"))
      inB.addData((10L, "b"))
      qA.processAllAvailable(); qB.processAllAvailable()
      inA.addData((3L, "a"))
      inB.addData((11L, "b"), (12L, "b"))
      qA.processAllAvailable(); qB.processAllAvailable()
      val got = spark.table("graft.cw_t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "a"), (3L, "a"),
        (10L, "b"), (11L, "b"), (12L, "b")),
        s"concurrent writers lost or duplicated rows: $got")
      val ops = graft.sources.GraftTableStore.history("graft.cw_t")
        .map(_._2).distinct
      assert(ops == Vector("stream-append"), s"op log: $ops")
    } finally { qA.stop(); qB.stop() }
    spark.sql("DROP TABLE graft.cw_t")
  }

  test("writeStream.toTable into a PARTITIONED governed table: epoch " +
      "commits land, partition metadata tracks them") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.spart_sink")
    spark.sql("CREATE TABLE graft.spart_sink (k BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_spart_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "p").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .toTable("graft.spart_sink")
    try {
      in.addData((1L, "a"), (2L, "b"), (3L, "a"))
      q.processAllAvailable()
      in.addData((4L, "b"))
      q.processAllAvailable()
      // partition metadata reflects the streamed content
      val parts = spark.table("graft.spart_sink.partitions")
        .orderBy("p").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(parts == Seq(("a", 2L), ("b", 2L)),
        s"streamed partition counts wrong: $parts")
      // the partitioned scan of the streamed table still prunes
      val m = scanMetrics(
        spark.table("graft.spart_sink").where(col("p") === "a"),
        "graft.spart_sink")
      assert(m.totalPartitions == 2 && m.keptPartitions == 1,
        s"pruning over the streamed table wrong: $m")
      // each epoch was one stream-append commit
      val ops = graft.sources.GraftTableStore
        .history("graft.spart_sink").map(_._2).distinct
      assert(ops == Vector("stream-append"), s"op log: $ops")
    } finally q.stop()
    spark.sql("DROP TABLE graft.spart_sink")
  }

  test("streaming the change feed delivers REWRITE commits the content " +
      "stream refuses, and resumes from a checkpoint") {
    // graft.<t>.changes as a STREAM: each commit's change rows arrive
    // as one micro-batch — deletes and updates included, which is the
    // principled consumer for a mutating table (the content stream
    // rejects those commits by design)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.cdf_src")
    spark.sql("CREATE TABLE graft.cdf_src (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.cdf_src VALUES (1, 1.0), (2, 2.0)") // v0
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdf_ckpt").toString
    def start(buf: scala.collection.mutable
        .ArrayBuffer[(Long, Double, String, Long)]) =
      spark.readStream.table("graft.cdf_src.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            buf.synchronized {
              buf ++= b.collect().map(r => (r.getLong(0), r.getDouble(1),
                r.getString(2), r.getLong(3)))
            }
            ()
        }
        .start()
    val buf1 = scala.collection.mutable
      .ArrayBuffer[(Long, Double, String, Long)]()
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      assert(buf1.sorted.toSeq == Seq((1L, 1.0, "insert", 0L),
        (2L, 2.0, "insert", 0L)), s"seed changes wrong: $buf1")
      // a DELETE commit — the content stream throws on this; the feed
      // delivers it as a delete row
      spark.sql("DELETE FROM graft.cdf_src WHERE k = 1") // v1
      q1.processAllAvailable()
      assert(buf1.sorted.toSeq.contains((1L, 1.0, "delete", 1L)),
        s"delete change missing: $buf1")
      // an UPDATE commit arrives as pre+post images
      spark.sql("UPDATE graft.cdf_src SET v = 20.0 WHERE k = 2") // v2
      q1.processAllAvailable()
      assert(buf1.contains((2L, 2.0, "update_preimage", 2L)) &&
        buf1.contains((2L, 20.0, "update_postimage", 2L)),
        s"update images missing: $buf1")
    } finally q1.stop()
    // restart mid-history: only the missed commit's changes arrive
    spark.sql("INSERT INTO graft.cdf_src VALUES (3, 3.0)") // v3
    val buf2 = scala.collection.mutable
      .ArrayBuffer[(Long, Double, String, Long)]()
    val q2 = start(buf2)
    try {
      q2.processAllAvailable()
      assert(buf2.sorted.toSeq == Seq((3L, 3.0, "insert", 3L)),
        s"restart did not resume mid-history: $buf2")
    } finally q2.stop()
    spark.sql("DROP TABLE graft.cdf_src")
  }

  test("writeStream.toTable appends one commit per epoch, exactly-once " +
      "across a checkpointed restart") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.stream_sink")
    spark.sql("CREATE TABLE graft.stream_sink (k BIGINT, v DOUBLE)")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sink_ckpt").toString
    val in = MemoryStream[(Long, Double)]
    def start() = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .toTable("graft.stream_sink")
    val q1 = start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q1.processAllAvailable()
      in.addData((3L, 3.0))
      q1.processAllAvailable()
      val got = spark.table("graft.stream_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
        s"sink content wrong: $got")
      // each epoch commit materialized a snapshot — time travel sees
      // the per-epoch history
      val v0 = spark.sql(
        "SELECT * FROM graft.stream_sink VERSION AS OF 0").count()
      assert(v0 == 2, s"epoch-0 snapshot wrong: $v0 rows")
    } finally q1.stop()
    // restart on the same checkpoint: the WAL's last epoch is
    // re-planned and re-committed — markEpoch must swallow the replay
    // (no duplicate rows), then new data flows
    val q2 = start()
    try {
      in.addData((4L, 4.0))
      q2.processAllAvailable()
      val got = spark.table("graft.stream_sink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)),
        s"restart duplicated or lost rows: $got")
    } finally q2.stop()
    spark.sql("DROP TABLE graft.stream_sink")
  }

  test("writeStream.toTable into a PARQUET-backed table stages files " +
      "task-side: per-epoch manifest-only commits with prefix reuse, " +
      "exactly-once across a checkpointed restart") {
    import graft.sources.GraftTableStore
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.pqsink")
    spark.sql("CREATE TABLE graft.pqsink (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_pqsink_ckpt").toString
    val in = MemoryStream[(Long, Double)]
    def start() = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .toTable("graft.pqsink")
    val q1 = start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q1.processAllAvailable()
      in.addData((3L, 3.0))
      q1.processAllAvailable()
      val got = spark.table("graft.pqsink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
        s"sink content wrong: $got")
      // every epoch commit is a MANIFEST commit of task-staged files
      // (op stream-append, kind parquet) — no driver row funnel, and
      // each epoch's manifest extends the previous one (prefix reuse:
      // an epoch writes only its own files)
      val hist = GraftTableStore.history("graft.pqsink")
      assert(hist.nonEmpty &&
        hist.forall(_._2 == "stream-append"), hist.toString)
      assert(GraftTableStore.commitKind("graft.pqsink", 0) == "parquet")
      val v0 = GraftTableStore.commitFiles("graft.pqsink", 0)
      val v1 = GraftTableStore.commitFiles("graft.pqsink", 1)
      assert(v0.nonEmpty && v1.startsWith(v0) && v1.length > v0.length,
        "epoch commit must extend the previous manifest")
      assert(spark.sql(
        "SELECT * FROM graft.pqsink VERSION AS OF 0").count() == 2)
    } finally q1.stop()
    // restart on the same checkpoint: the WAL's last epoch re-commits;
    // markEpoch swallows the replay and deletes the re-staged files
    val q2 = start()
    try {
      in.addData((4L, 4.0))
      q2.processAllAvailable()
      val got = spark.table("graft.pqsink").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)),
        s"restart duplicated or lost rows: $got")
    } finally q2.stop()
    spark.sql("DROP TABLE graft.pqsink")
  }

  test("table-to-table streaming pipeline: readStream one governed " +
      "table into another") {
    // the full warehouse loop with NO files and NO foreachBatch:
    // commits to the source table stream through a transform and land
    // as commits on the sink table, each surface the catalog's own
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.pipe_src")
    spark.sql("DROP TABLE IF EXISTS graft.pipe_dst")
    spark.sql("CREATE TABLE graft.pipe_src (k BIGINT, v DOUBLE)")
    spark.sql("CREATE TABLE graft.pipe_dst (k BIGINT, v2 DOUBLE)")
    spark.sql("INSERT INTO graft.pipe_src VALUES (1, 1.0), (2, 2.0)")
    val q = spark.readStream.table("graft.pipe_src")
      .select(col("k"), (col("v") * 2).as("v2"))
      .writeStream
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_pipe_ckpt").toString)
      .outputMode(OutputMode.Append)
      .toTable("graft.pipe_dst")
    try {
      q.processAllAvailable()
      spark.sql("INSERT INTO graft.pipe_src VALUES (3, 3.0)")
      q.processAllAvailable()
      val got = spark.table("graft.pipe_dst").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)),
        s"pipeline output wrong: $got")
    } finally q.stop()
    spark.sql("DROP TABLE graft.pipe_src")
    spark.sql("DROP TABLE graft.pipe_dst")
  }

  test("the full incremental warehouse loop: stream the change feed " +
      "into a MERGE-maintained aggregate table") {
    // cdc_incremental_agg's STREAMING twin, composed entirely from the
    // catalog's own surfaces: native statements mutate the source MoR
    // table → its graft.<t>.changes stream delivers each commit's
    // deltas → foreachBatch MERGEs the signed per-group deltas into an
    // aggregate table — after every trigger the aggregate equals a
    // direct recompute of the source (the MV invariant, live)
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.mv_src")
    spark.sql("DROP TABLE IF EXISTS graft.mv_agg")
    spark.sql("CREATE TABLE graft.mv_src (k BIGINT, grp BIGINT, " +
      "v DOUBLE) TBLPROPERTIES ('graft.row-level'='merge-on-read', " +
      "'graft.row-id'='k')")
    spark.sql("CREATE TABLE graft.mv_agg (grp BIGINT, n BIGINT, " +
      "total DOUBLE) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='grp')")
    spark.sql("INSERT INTO graft.mv_src VALUES (1, 0, 10.0), " +
      "(2, 1, 20.0), (3, 0, 30.0)") // v0
    val q = spark.readStream.table("graft.mv_src.changes")
      .writeStream
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_mv_ckpt").toString)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val deltas = b
            .withColumn("sgn", when(col("_change_type")
              .isin("insert", "update_postimage"), 1L).otherwise(-1L))
            .withColumn("rd", when(col("_change_type") === "insert", 1L)
              .when(col("_change_type") === "delete", -1L)
              .otherwise(0L))
            .groupBy("grp")
            .agg(sum(col("rd")).as("dn"),
              sum(col("sgn") * col("v")).as("dv"))
          deltas.createOrReplaceTempView("graft_mv_deltas")
          b.sparkSession.sql(
            """MERGE INTO graft.mv_agg t USING graft_mv_deltas s
              |ON t.grp = s.grp
              |WHEN MATCHED THEN UPDATE SET n = t.n + s.dn,
              |  total = t.total + s.dv
              |WHEN NOT MATCHED THEN
              |  INSERT (grp, n, total) VALUES (s.grp, s.dn, s.dv)
              |""".stripMargin)
          ()
      }
      .start()
    def aggNow() = spark.table("graft.mv_agg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._2 != 0L).toSet
    def recompute() = spark.table("graft.mv_src")
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    try {
      q.processAllAvailable()
      assert(aggNow() == recompute(), s"${aggNow()} vs ${recompute()}")
      spark.sql("UPDATE graft.mv_src SET v = 15.0 WHERE k = 1") // v1
      spark.sql("DELETE FROM graft.mv_src WHERE k = 2") // v2
      q.processAllAvailable()
      assert(aggNow() == recompute(), s"${aggNow()} vs ${recompute()}")
      spark.sql("INSERT INTO graft.mv_src VALUES (4, 1, 40.0), " +
        "(5, 2, 50.0)") // v3
      q.processAllAvailable()
      assert(aggNow() == recompute(), s"${aggNow()} vs ${recompute()}")
      assert(aggNow() == Set((0L, 2L, 45.0), (1L, 1L, 40.0),
        (2L, 1L, 50.0)), s"final aggregate wrong: ${aggNow()}")
    } finally q.stop()
    spark.sql("DROP TABLE graft.mv_src")
    spark.sql("DROP TABLE graft.mv_agg")
  }

  test("readStream.table feeds a watermarked windowed aggregation") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.feed_win")
    spark.sql("CREATE TABLE graft.feed_win (ts TIMESTAMP, etype STRING)")
    def ins(minute: Int, etype: String): Unit =
      spark.sql("INSERT INTO graft.feed_win VALUES " +
        s"(timestamp'1970-01-01 ${"%02d:%02d".format(minute / 60, minute % 60)}:00', '$etype')")
    ins(10, "click"); ins(20, "click")
    val agg = spark.readStream.table("graft.feed_win")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("etype"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("etype"), col("n"))
    val q = agg.writeStream.format("memory").queryName("feed_win_sink")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      ins(130, "view") // separate commit advances the watermark past 01:00
      q.processAllAvailable()
      ins(400, "view") // close [02:00,03:00) as well
      q.processAllAvailable()
      val got = spark.table("feed_win_sink").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
          r.getLong(2))).toSet
      assert(got.contains((0L, "click", 2L)),
        s"closed window [00:00) missing from append output: $got")
      assert(got.contains((120L, "view", 1L)), s"window [02:00) wrong: $got")
    } finally q.stop()
    spark.sql("DROP TABLE graft.feed_win")
  }

  test("streaming windowed top-k: append-mode counts + per-batch rank") {
    implicit val sqlCtx = spark.sqlContext
    // the streaming form of stream_windowed_topk: watermarked tumbling
    // counts emit closed windows in append mode; the rank is applied to
    // each emitted (closed, hence final) window inside foreachBatch —
    // rank-over-stream isn't expressible directly in append mode
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(java.sql.Timestamp, String, Long, Int)]
    val in = MemoryStream[(Timestamp, String)]
    val counts = in.toDF().toDF("ts", "etype")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("etype"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("etype"), col("n"))
    val q = counts.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("w_start").orderBy(col("n").desc, col("etype"))
        batch.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 2).collect().foreach { r =>
          got += ((r.getTimestamp(0), r.getString(1), r.getLong(2),
            r.getInt(3)))
        }
      }
      .start()
    try {
      in.addData((ts(10), "click"), (ts(20), "click"), (ts(30), "view"),
        (ts(40), "view"), (ts(45), "view"), (ts(50), "scroll"))
      q.processAllAvailable()
      in.addData((ts(130), "view")) // advances watermark, closes hour 0
      q.processAllAvailable()
      in.addData((ts(400), "view")) // closes hour 2 as well
      q.processAllAvailable()
      // hour 0: view=3, click=2, scroll=1 → top-2 = view, click
      val hour0 = got.filter(_._1 == ts(0)).map(r => (r._4, r._2, r._3))
      assert(hour0.sorted.toSeq == Seq((1, "view", 3L), (2, "click", 2L)),
        s"hour-0 leaderboard wrong: $hour0")
    } finally q.stop()
  }

  test("foreachBatch last-write-wins sink converges to stream_upsert_sink form") {
    implicit val sqlCtx = spark.sqlContext
    // the streaming form of stream_upsert_sink: per micro-batch, reduce
    // the batch to its latest row per key, then merge into keyed state —
    // after all triggers the state must equal the batch-form replay
    // (latest per key by (ts, event_id) over the whole input)
    val root = java.nio.file.Files.createTempDirectory("graft_lww").toString
    @volatile var current = ""
    val in = MemoryStream[(Long, Long, Double)] // (user, event_id, value)
    val latestInBatch = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("eid").desc)
    val q = in.toDF().toDF("u", "eid", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val compact = batch
          .withColumn("rn", row_number().over(latestInBatch))
          .where(col("rn") === 1).drop("rn")
          .select(col("u").as("bu"), col("eid").as("beid"), col("v").as("bv"))
        val snap =
          if (current.isEmpty)
            Seq.empty[(Long, Long, Double)].toDF("su", "seid", "sv")
          else spark.read.parquet(current)
            .toDF("su", "seid", "sv")
        val next = s"$root/v${id + 1}"
        // true LWW merge: on key conflict the HIGHER event_id wins, so an
        // old row arriving in a later trigger cannot clobber newer state
        val batchWins = col("beid").isNotNull &&
          (col("seid").isNull || col("beid") > col("seid"))
        compact.join(snap, col("su") === col("bu"), "full_outer")
          .select(coalesce(col("bu"), col("su")).as("u"),
            when(batchWins, col("beid")).otherwise(col("seid")).as("eid"),
            when(batchWins, col("bv")).otherwise(col("sv")).as("v"))
          .write.parquet(next)
        current = next
      }
      .start()
    try {
      // (2L,1L,9.9) arrives in trigger 2 but is OLDER than the held
      // (2L,2L,2.0) — LWW must keep the newer state
      in.addData((1L, 1L, 1.0), (1L, 3L, 3.0), (2L, 2L, 2.0))
      q.processAllAvailable()
      in.addData((1L, 5L, 5.0), (3L, 4L, 4.0), (2L, 1L, 9.9))
      q.processAllAvailable()
      val got = spark.read.parquet(current)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // = batch replay: latest per key over the full input, any order
      val expected = Set((1L, 5L, 5.0), (2L, 2L, 2.0), (3L, 4L, 4.0))
      assert(got == expected, s"state mismatch: $got")
    } finally q.stop()
  }

  test("maintainMaterializedView tails the change feed: the MV keeps " +
      "itself equal to a full recompute across DML waves, a replayed " +
      "batch refresh folds nothing twice, and a checkpointed restart " +
      "resumes cleanly") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft.mvm_src")
    spark.sql("CREATE TABLE graft.mvm_src (k BIGINT, g STRING, " +
      "cents BIGINT) TBLPROPERTIES " +
      "('graft.row-level'='merge-on-read', 'graft.row-id'='k')")
    spark.sql("INSERT INTO graft.mvm_src SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id * 10 " +
      "FROM range(40)")
    graft.api.GraftApi.createMaterializedView(spark, "graft.mvm_mv",
      "graft.mvm_src", Seq("g"), "n", "cents", "s")
    def recompute(): Seq[String] =
      spark.table("graft.mvm_src").groupBy("g")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum("cents").as("s"))
        .orderBy("g").collect().map(_.toString).toSeq
    def mv(): Seq[String] =
      spark.table("graft.mvm_mv").orderBy("g")
        .collect().map(_.toString).toSeq
    val ckpt = java.nio.file.Files
      .createTempDirectory("mvm-ckpt-").toString
    // wave 1: two commits, then one AvailableNow catch-up
    spark.sql("UPDATE graft.mvm_src SET cents = cents + 3 " +
      "WHERE k % 4 = 0")
    spark.sql("DELETE FROM graft.mvm_src WHERE k % 5 = 0")
    val q1 = graft.api.GraftApi.maintainMaterializedView(spark,
      "graft.mvm_mv", ckpt)
    q1.awaitTermination(60000)
    assert(mv() == recompute(), "after wave 1 catch-up")
    // a batch refresh RIGHT AFTER the stream folds nothing twice
    assert(graft.api.GraftApi.refreshMaterializedView(spark,
      "graft.mvm_mv")._1 == 0L, "stream already folded everything")
    // wave 2: more commits, RESTART the maintenance from the same
    // checkpoint — exactly-once across the restart
    spark.sql("INSERT INTO graft.mvm_src SELECT id + 100, 'z', 7 " +
      "FROM range(5)")
    spark.sql("DELETE FROM graft.mvm_src WHERE g = 'a' AND k < 10")
    val q2 = graft.api.GraftApi.maintainMaterializedView(spark,
      "graft.mvm_mv", ckpt)
    q2.awaitTermination(60000)
    assert(mv() == recompute(), "after the checkpointed restart")
    assert(mv().exists(_.startsWith("[z,")), mv().toString)
    spark.sql("DROP TABLE graft.mvm_src")
    spark.sql("DROP TABLE graft.mvm_mv")
  }
}
