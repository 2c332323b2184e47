package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** Stages of the jobs that code run under [[StageLog.tagged]] starts, as
  * a SparkListener sees them: per completed stage its task count, its
  * task type, the shuffle records each task read, and its RDDs with the
  * scope (the physical operator) that made each. */
final class StageLog(sc: SparkContext) extends SparkListener {
  import StageLog._
  private val Key = "graft.stageLog.tag"
  private val stageTags = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val tasks = new ConcurrentHashMap[Int, java.util.Vector[(String, Long)]]()
  private var markers = 0
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach {
      t => e.stageInfos.foreach(s => stageTags.put(s.stageId, t))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageTags.containsKey(e.stageId))
      tasks.computeIfAbsent(e.stageId, _ => new java.util.Vector())
        .add((e.taskType, Option(e.taskMetrics)
          .fold(0L)(_.shuffleReadMetrics.recordsRead)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageTags.get(i.stageId)).foreach { t =>
      val ts = Option(tasks.get(i.stageId)).fold(Seq.empty[(String, Long)])(
        _.asScala.toSeq)
      stages.put(i.stageId, Stage(t, i.stageId, i.numTasks,
        ts.headOption.fold("")(_._1), ts.map(_._2),
        i.rddInfos.map(r => Rdd(r.id, r.scope.fold("")(_.name)))
          .sortBy(_.id).toSeq))
    }
  }

  def tagged[A](tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** The completed stages of the jobs started under `tag`. Events arrive
    * in order, so a marker job runs last and the wait (at most 10 s)
    * ends when its stage completes. */
  def stagesOf(tag: String): Seq[Stage] = {
    val marker = synchronized { markers += 1; s"marker $markers" }
    tagged(marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 10000000000L
    while (!stages.values.asScala.exists(_.tag == marker) &&
        System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(stages.values.asScala.exists(_.tag == marker),
      "stage events not delivered within 10 s")
    stages.values.asScala.filter(_.tag == tag).toSeq.sortBy(_.id)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object StageLog {
  final case class Rdd(id: Int, scope: String)
  final case class Stage(tag: String, id: Int, numTasks: Int,
      taskType: String, recordsRead: Seq[Long], rdds: Seq[Rdd]) {
    /** the range partitioner's sample: a result stage that ends in the
      * range exchange's own RDDs */
    def isRangeSample: Boolean =
      taskType == "ResultTask" && rdds.lastOption.exists(_.scope == "Exchange")
    /** RDDs a stage computes with whole-stage code or a typed closure */
    def computed: Seq[Int] = rdds.collect {
      case Rdd(id, s) if s.startsWith("WholeStageCodegen") ||
          s == "MapPartitions" => id
    }
    override def toString: String =
      s"stage $id ($numTasks $taskType, read ${recordsRead.mkString("/")}): " +
        rdds.map(r => s"${r.id}[${r.scope}]").mkString(" ")
  }

  /** RDDs that more than one stage computed */
  def recomputed(stages: Seq[Stage]): Map[Int, Seq[Int]] =
    stages.flatMap(s => s.computed.map(_ -> s.id)).groupBy(_._1)
      .collect { case (rdd, ss) if ss.size > 1 => rdd -> ss.map(_._2) }
}

/** Terminal sorts and pair stages under the benchmark's timed unit, a
  * noop write of every output column after the query is built: no
  * range-sampling job, and each stage's work done once. */
class TerminalSortSpec extends AnyFunSuite {
  import TestSpark._

  private val sf01 = "/root/testdata/sf0.01"
  private val llmCuration = Seq("dedup_embedding", "dedup_ngram",
    "dedup_containment", "vec_mmr_rerank", "text_bpe_train",
    "sim_cosine_pairs", "text_pii_scrub")

  /** the stages of one noop write of `id`, after a warm build */
  private def writeStages(log: StageLog, id: String): Seq[StageLog.Stage] = {
    SparkEntry.queries(id)(spark, sf01) // fixtures, fits and memos
    val df = SparkEntry.queries(id)(spark, sf01)
    log.tagged(id)(df.write.format("noop").mode("overwrite").save())
    log.stagesOf(id)
  }

  test("no llm_curation id runs a range-sampling job under a noop write") {
    val log = new StageLog(spark.sparkContext)
    try llmCuration.foreach { id =>
      val stages = writeStages(log, id)
      assert(stages.nonEmpty, s"$id ran no stage")
      assert(!stages.exists(_.isRangeSample),
        s"$id sampled for a range exchange:\n${stages.mkString("\n")}")
    } finally log.close()
  }

  test("the pair kernel and verify stages run once per noop write") {
    val log = new StageLog(spark.sparkContext)
    try Seq("sim_cosine_pairs", "dedup_embedding", "dedup_ngram",
        "dedup_containment").foreach { id =>
      val stages = writeStages(log, id)
      val again = StageLog.recomputed(stages)
      assert(again.isEmpty, s"$id computed RDDs in more than one stage " +
        s"($again):\n${stages.mkString("\n")}")
    } finally log.close()
  }

  test("sim_cosine_pairs' kernel stage gives every task a group") {
    val log = new StageLog(spark.sparkContext)
    try {
      val stages = writeStages(log, "sim_cosine_pairs")
      val kernel = stages.filter(_.rdds.exists(_.scope == "MapPartitions"))
      assert(kernel.size == 1, stages.mkString("\n"))
      val k = kernel.head
      assert(k.numTasks == spark.sparkContext.defaultParallelism &&
        k.recordsRead.size == k.numTasks && k.recordsRead.forall(_ > 0),
        s"a kernel task got no member: $k")
    } finally log.close()
  }

  test("the sampling detector sees a large sort's range sample") {
    import org.apache.spark.sql.functions._
    plans.TerminalSorts.install(spark)
    val log = new StageLog(spark.sparkContext)
    try {
      log.tagged("large")(spark.range(0, 200000, 1, 4)
        .select((col("id") * 7919 % 200000).as("k"), col("id"))
        .orderBy("k").write.format("noop").mode("overwrite").save())
      val stages = log.stagesOf("large")
      assert(stages.count(_.isRangeSample) == 1, stages.mkString("\n"))
      // the sample reads the boundary's shuffle output, so the scan's
      // code runs in one stage
      assert(StageLog.recomputed(stages).isEmpty, stages.mkString("\n"))
    } finally log.close()
  }
}
