package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode

/** Dev utility over comma-separated query ids sharing one JVM/session:
  * time each id (isolating its warm cost without paying sbt+Spark startup
  * per id), or dump each id's `explain("formatted")` plan to
  * `<outDir>/<id>_<tag>.txt` — the optimization-round evidence trail
  * (plans/r16/).
  * Timing prints, per id and repetition, the build and `count()` times,
  * the Spark jobs each started, and the whole-stage classes compiled
  * (Spark's `CodegenMetrics`; 0 when every class was still cached).
  * Usage: runMain graft.RunOne <id1,id2,...> <sfDir> [x3]
  *        runMain graft.RunOne <id1,id2,...> <sfDir> explain <outDir> <tag>
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val ids = args(0).split(",").toSeq
    val sfDir = args(1)
    val spark = LocalSession()
    args.drop(2) match {
      case Array("explain", outDir, tag) =>
        new java.io.File(outDir).mkdirs()
        ids.foreach { id =>
          try {
            val txt = SparkEntry.queries(id)(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
            Files.writeString(Paths.get(s"$outDir/${id}_$tag.txt"), txt)
            System.err.println(s"[runone] wrote $id")
          } catch { case e: Throwable =>
            System.err.println(s"[runone] $id failed: ${e.getMessage}")
          }
        }
      case rest =>
        val reps = if (rest.contains("x3")) 3 else 1
        val jobs = new JobCounter(spark.sparkContext)
        def compiles() = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        ids.foreach { id =>
          for (rep <- 1 to reps) {
            val c0 = compiles()
            val t0 = System.nanoTime()
            val df = jobs.tagged(s"$id#$rep build")(
              SparkEntry.queries(id)(spark, sfDir))
            val t1 = System.nanoTime()
            val n = jobs.tagged(s"$id#$rep exec")(df.count())
            val t2 = System.nanoTime()
            val classes = compiles() - c0
            println(f"[runone] $id ${(t2 - t0) / 1e9}%.2fs rows=$n " +
              f"build=${(t1 - t0) / 1e9}%.2fs " +
              s"build_jobs=${jobs.jobs(s"$id#$rep build")} " +
              s"exec_jobs=${jobs.jobs(s"$id#$rep exec")} compiles=$classes")
          }
        }
        jobs.close()
    }
    spark.stop()
  }
}

/** Counts the Spark jobs started by code run under [[tagged]], by a
  * local property the jobs carry (so jobs that other threads start are
  * not counted, and a query's broadcast and subquery jobs, which
  * inherit the property, are). Shared by RunOne's timing mode and the
  * build-job pins. */
private[graft] final class JobCounter(sc: SparkContext) extends SparkListener {
  private val Key = "graft.jobCounter.tag"
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val markers = new AtomicLong
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach {
      t => counts.computeIfAbsent(t, _ => new AtomicLong).incrementAndGet()
    }

  def tagged[A](tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Jobs started under `tag` so far. The listener bus delivers job
    * starts asynchronously, in order, so a marker job runs first and
    * the wait (at most 10 s) ends when its start arrives. */
  def jobs(tag: String): Long = {
    val marker = s"marker ${markers.incrementAndGet()}"
    tagged(marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 10000000000L
    while (!counts.containsKey(marker) && System.nanoTime() < deadline)
      Thread.sleep(5)
    Option(counts.get(tag)).fold(0L)(_.get)
  }

  def close(): Unit = sc.removeSparkListener(this)
}
