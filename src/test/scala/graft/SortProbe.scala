package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, RepartitionByExpression, Sort, SubqueryAlias}
import org.apache.spark.sql.graftbridge.TestBridge

/** Sort probe: what each query's terminal global sort costs. For every
  * registered id whose optimized plan ends in a global sort, it times a
  * warm noop write of the query and of the sort's child (the child
  * without a round-robin stage boundary directly under the sort), each
  * the minimum of 2 runs after one warm-up, and prints per id and in
  * total the two times and their gap. Not a suite; run it with
  * `sbt "Test/runMain graft.SortProbe [sfDir]"` (default
  * /root/testdata/sf0.01; `SPARK_GRAFT_CPUS` sets the local cores,
  * default 4). */
object SortProbe {
  private val Runs = 2

  private def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def minSeconds(df: DataFrame): Double = {
    noopWrite(df)
    (1 to Runs).map { _ =>
      val t0 = System.nanoTime()
      noopWrite(df)
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** the child of the plan's terminal global sort, if it has one */
  private def sortChild(p: LogicalPlan): Option[LogicalPlan] = p match {
    case Sort(_, true, RepartitionByExpression(Seq(), child, None, _), _) =>
      Some(child)
    case Sort(_, true, child, _) => Some(child)
    case _: Project | _: SubqueryAlias => sortChild(p.children.head)
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession()
    var ids = 0
    var withSort = 0.0
    var childOnly = 0.0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (id, fn) =>
      try {
        val df = fn(spark, sfDir)
        sortChild(df.queryExecution.optimizedPlan).foreach { child =>
          val q = minSeconds(df)
          val c = minSeconds(TestBridge.ofRows(spark, child))
          ids += 1; withSort += q; childOnly += c
          println(f"[sortprobe] $id%-32s sort=$q%.3f child=$c%.3f " +
            f"gap=${q - c}%.3f")
        }
      } catch {
        case NonFatal(e) => println(s"[sortprobe] $id failed: $e")
      }
    }
    println(f"[sortprobe] total ids=$ids sort=$withSort%.1f " +
      f"child=$childOnly%.1f gap=${withSort - childOnly}%.1f")
    spark.stop()
  }
}
