package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-check of the output fingerprint, run by `perfbench/selftest.py`:
  * the same rows in another order or partitioning fingerprint the same,
  * through both the observed (noop write) and the aggregate path, and a
  * one-value change moves the fingerprint. Prints "fingerprint ok" or
  * exits non-zero. */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = spark.range(0, 500).select(
      col("id"), (col("id") % 7).cast("int").as("k"),
      (col("id") / 3.0).as("x"), concat(lit("s"), col("id")).as("s"),
      array(col("id"), col("id") * 2).as("arr"),
      map(lit("a"), col("id"), lit("b"), col("id") + 1).as("m"))
    val shuffled = base.repartition(5, col("k")).orderBy(col("id").desc)
    val sameMapOtherOrder = base.withColumn("m",
      map(lit("b"), col("id") + 1, lit("a"), col("id")))
    val changed = base.withColumn("x",
      when(col("id") === 42, lit(0.5)).otherwise(col("x")))
    val fp = Harness.fingerprint(base)
    val checks = Seq(
      "reordered rows" -> (Harness.fingerprint(shuffled) == fp),
      "observed path" -> (Harness.materializeObserved(shuffled) == fp),
      "map entry order" -> (Harness.fingerprint(sameMapOtherOrder) == fp),
      "changed value" -> (Harness.fingerprint(changed) != fp),
      "row count" -> (fp._1 == 500L))
    spark.stop()
    val bad = checks.filterNot(_._2).map(_._1)
    if (bad.nonEmpty) {
      System.err.println(s"fingerprint check failed: ${bad.mkString(", ")}")
      sys.exit(1)
    }
    println("fingerprint ok")
  }
}
