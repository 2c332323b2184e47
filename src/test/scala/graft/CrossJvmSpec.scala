package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

/** The SECOND-JVM half of the cross-process concurrency pin: a real
  * child process that attaches to the shared warehouse purely from
  * the on-disk transaction log (it never saw the table's creation),
  * commits `rounds` appends of 10 rows each, re-reads its own writes,
  * and exits 0 — any failure (including a conflict the bounded retry
  * could not absorb) exits non-zero and fails the parent's assertion.
  * Spawned by [[CrossJvmSpec]] with `-Dgraft.warehouse` pointing at
  * the parent's warehouse root. */
object CrossJvmChildAppender {
  def main(args: Array[String]): Unit = {
    val table = args(0)
    val tag = args(1)
    val rounds = args(2).toInt
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft",
        classOf[graft.sources.GraftMergeCatalog].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      var i = 0
      while (i < rounds) {
        spark.sql(s"INSERT INTO $table " +
          s"SELECT id + ${i * 1000}, '$tag' FROM range(10)")
        Thread.sleep(50)
        i += 1
      }
      // read-your-writes through the child's own attached state
      val mine = spark.sql(
        s"SELECT count(*) FROM $table WHERE s = '$tag'")
        .collect()(0).getLong(0)
      if (mine != rounds * 10L) {
        Console.err.println(
          s"[child] wrote ${rounds * 10} rows, reads back $mine")
        sys.exit(2)
      }
    } finally spark.stop()
    sys.exit(0)
  }
}

/** Cross-process concurrency against the SHARED warehouse with a REAL
  * second JVM — the simulation pins (pre-seeded foreign entries,
  * in-memory eviction) prove the mechanics; this proves them against
  * a genuinely independent process: independent O_EXCL claims,
  * independent attach-from-log, and the conflict-aware rebase
  * absorbing every lost race on both sides without application-level
  * retry loops. */
class CrossJvmSpec extends AnyFunSuite {
  import TestSpark._

  private def forkable: Boolean =
    new java.io.File(
      s"${System.getProperty("java.home")}/bin/java").canExecute &&
      System.getProperty("java.class.path", "").contains("scala-library")

  /** `what` plus what a failed child JVM printed: its first exception
    * line and every `Caused by:` line — the error itself, which a long
    * trace pushes out of the log's tail — then the tail. */
  private def childFailure(log: java.io.File, what: String): String = {
    val lines = new String(java.nio.file.Files.readAllBytes(log.toPath))
      .split("\n").toSeq
    val exLine = """(Exception in thread .*|[\w.$]+(Exception|Error)\b.*)""".r
    val errors = lines.find(exLine.matches).toSeq ++
      lines.filter(_.startsWith("Caused by:"))
    s"$what\n${errors.mkString("\n")}\n--- log tail ---\n" +
      lines.mkString("\n").takeRight(4000)
  }

  test("two REAL JVMs appending to one governed table: every commit " +
      "from both processes lands exactly once, the log stays linear, " +
      "and a fresh replay agrees") {
    assume(forkable, "no forkable JVM available")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    val t = "graft.xjvm_t"
    val rounds = 5
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql(s"INSERT INTO $t SELECT id, 'seed' FROM range(10)")

    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val childLog = java.io.File.createTempFile("graft-xjvm-", ".log")
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      s"-Dgraft.warehouse=${
        graft.sources.GraftWarehouse.root.getAbsolutePath}",
      "-Dspark.ui.enabled=false", "-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.CrossJvmChildAppender", t, "child", rounds.toString))
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(childLog)
    val proc = pb.start()
    try {
      // parent appends WHILE the child runs — losses on either side
      // must rebase, not refuse. The child spends its first ~10 s in
      // JVM+Spark startup, so keep appending until it exits to
      // guarantee overlap with its commit window.
      var i = 0
      while (i < rounds || proc.isAlive) {
        spark.sql(s"INSERT INTO $t " +
          s"SELECT id + ${i * 1000}, 'parent' FROM range(10)")
        Thread.sleep(200)
        i += 1
        if (i > 600) fail("child JVM did not exit within ~2 minutes")
      }
      assert(proc.waitFor() == 0,
        childFailure(childLog, "child JVM failed:"))
      val parentRows = i * 10L
      // this process is stale (the child committed behind its back):
      // a fresh replay is the disk truth both agree on
      graft.sources.GraftLog.simulateProcessRestart(Seq(t))
      val byTag = spark.table(t).groupBy("s").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byTag == Map("seed" -> 10L, "parent" -> parentRows,
        "child" -> rounds * 10L),
        s"lost or doubled commits: $byTag (parent wrote $parentRows)")
      assert(spark.table(t).distinct().count() ==
        10L + parentRows + rounds * 10L, "duplicated rows")
      // linear history: versions strictly consecutive, one per commit
      val hist = spark.table(s"$t.history").count()
      assert(hist >= 2, s"history too short: $hist")
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
      childLog.delete()
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("streaming-append CHILD JVM racing scheduled OPTIMIZE in the " +
      "parent: both land continuously without refusal (maintenance " +
      "rebase + append-across-maintenance classification), content " +
      "is exact, and a fresh replay agrees") {
    assume(forkable, "no forkable JVM available")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    val t = "graft.xjvm_opt"
    val rounds = 5
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql(s"INSERT INTO $t SELECT id, 'seed' FROM range(10)")

    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val childLog = java.io.File.createTempFile("graft-xjvm-opt-", ".log")
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      s"-Dgraft.warehouse=${
        graft.sources.GraftWarehouse.root.getAbsolutePath}",
      "-Dspark.ui.enabled=false", "-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.CrossJvmChildAppender", t, "child", rounds.toString))
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(childLog)
    val proc = pb.start()
    try {
      // the parent runs the standard production maintenance loop —
      // compaction over and over WHILE the ingest stream commits.
      // Pre-phase-2 this refused continuously; now every OPTIMIZE
      // either rebases across the child's appends or no-ops, and the
      // child's appends rebase across the binpack rewrites.
      var optRuns = 0
      var i = 0
      while (i < rounds || proc.isAlive) {
        graft.api.GraftApi.rewriteSmallFiles(spark, t, 1000)
        optRuns += 1
        // keep some parent-side small files arriving too
        spark.sql(s"INSERT INTO $t " +
          s"SELECT id + ${i * 1000}, 'parent' FROM range(5)")
        Thread.sleep(150)
        i += 1
        if (i > 800) fail("child JVM did not exit within ~2 minutes")
      }
      // one final compaction over everything the child left behind
      graft.api.GraftApi.rewriteSmallFiles(spark, t, 1000)
      assert(proc.waitFor() == 0, childFailure(childLog,
        "child JVM failed (its appends must rebase across binpack " +
          "rewrites):"))
      assert(optRuns > 0)
      val parentRows = i * 5L
      graft.sources.GraftLog.simulateProcessRestart(Seq(t))
      val byTag = spark.table(t).groupBy("s").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byTag == Map("seed" -> 10L, "parent" -> parentRows,
        "child" -> rounds * 10L),
        s"lost or doubled commits under OPTIMIZE: $byTag " +
          s"(parent wrote $parentRows, optimize ran $optRuns times)")
      assert(spark.table(t).distinct().count() ==
        10L + parentRows + rounds * 10L, "duplicated rows")
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
      childLog.delete()
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
