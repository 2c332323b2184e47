package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev utility over comma-separated query ids sharing one JVM/session:
  * time each id (isolating its warm cost without paying sbt+Spark startup
  * per id), or dump each id's `explain("formatted")` plan to
  * `<outDir>/<id>_<tag>.txt` — the optimization-round evidence trail
  * (plans/r16/).
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
        ids.foreach { id =>
          for (_ <- 1 to reps) {
            val t0 = System.nanoTime()
            val n = SparkEntry.queries(id)(spark, sfDir).count()
            println(f"[runone] $id ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
          }
        }
    }
    spark.stop()
  }
}
