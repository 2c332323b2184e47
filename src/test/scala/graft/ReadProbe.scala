package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{countDistinct, sum}

/** Read probe of the lake store against Spark's own parquet source:
  * one 3,000,000-row table (bigint, string, double, string) in 4 data
  * files, read through the catalog and through `spark.read.parquet`
  * over the same 4 files. Each query's figure is the p50 of 9 warm
  * runs. Not a suite; run it with
  * `sbt "Test/runMain graft.ReadProbe"` (`SPARK_GRAFT_CPUS` sets the
  * local cores, default 4). */
object ReadProbe {
  private val Rows = 3000000
  private val Warm = 2
  private val Runs = 9

  private def p50(body: => Unit): Double = {
    (0 until Warm).foreach(_ => body)
    val ms = (0 until Runs).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(Runs / 2)
  }

  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftMergeCatalog].getName)
    val t = "graft.read_probe"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING, d DOUBLE, t STRING) " +
      "TBLPROPERTIES ('graft.store'='parquet')")
    spark.sql(s"INSERT INTO $t SELECT id, concat('s', id), id * 0.5, " +
      s"concat('t', id % 100000) FROM range(0, $Rows, 1, 4)")
    val head = graft.sources.GraftTableStore.commitCount(t) - 1
    val files = graft.sources.GraftTableStore.commitFiles(t, head)
    val mb = files.map(_.bytes).sum / 1e6
    println(f"[readprobe] $Rows rows in ${files.length} files, $mb%.1f MB")
    val store = spark.table(t)
    // physical columns are named by slot: c0..c3 = k, s, d, t
    val plain = spark.read.parquet(files.map(_.path): _*)
      .toDF("k", "s", "d", "t")
    val queries: Seq[(String, DataFrame => Unit)] = Seq(
      "SELECT * into noop" -> (_.write.format("noop").mode("overwrite")
        .save()),
      "sum(d)" -> (df => { df.agg(sum("d")).collect(); () }),
      "count(DISTINCT t)" -> (df => { df.agg(countDistinct("t")).collect(); () }))
    queries.foreach { case (name, q) =>
      val a = p50(q(store))
      val b = p50(q(plain))
      println(f"[readprobe] $name%-18s store $a%8.1f ms  spark.read.parquet " +
        f"$b%8.1f ms  ratio ${a / b}%.2f")
    }
    spark.sql(s"DROP TABLE $t")
    spark.stop()
  }
}
