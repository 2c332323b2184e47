package graft.operators

import graft.Gate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed connected components for dup-cluster resolution.
  *
  * Two regimes, gated on the MATERIALIZED edge count (round 15):
  * a residual graph that fits one task (≤ [[LocalSolveMaxEdgesDefault]]
  * directed rows) is solved exactly by a single-task union-find — one
  * job instead of a multi-round fixpoint whose cost is almost pure
  * job-scheduling latency at that size; anything larger runs the
  * distributed fixpoint below, which is the only shape that survives
  * a 100 TB pair graph.
  *
  * Alternating min-label propagation: each round RELAXES (every node takes
  * the minimum representative among itself and its neighbors — one shuffle
  * keyed by node id) then COMPRESSES (pointer jumping, rep := rep(rep) —
  * one shuffle keyed by rep). Relax moves the minimum one hop; compress
  * halves remaining path lengths, so convergence takes O(log diameter)
  * rounds; the loop detects the fixpoint (a round that changes nothing)
  * and exits — near-dup clusters are shallow in practice (dup groups, not
  * long chains), so 2 rounds typically suffice, with `rounds` as the
  * large-star/small-star-style upper bound for pathological diameters.
  *
  * One relax and one single-jump compress run per checkpoint. Both
  * alternatives were A/B'd and lost, for the same reason — they branch
  * the un-checkpointed lineage further, and the recompute outweighs the
  * jobs saved: two rounds per checkpoint halve the scheduled jobs but
  * re-evaluate the intermediate ~8× (sf0.1 11-round cosine fixpoint,
  * RunOne dedup_embedding ×3, local[32]: 16.3 s vs 12.6 s), and two
  * pointer jumps per compress (~6 rounds instead of 11) ran the
  * fixpoint past 10× slower.
  *
  * Each round's labels are eagerly localCheckpoint'ed: the lineage would
  * otherwise branch exponentially (recompute per reference). This is the
  * same sanctioned driver-side step as a model fit (Core.scala contract);
  * superseded checkpoints are unpersisted immediately, and the final one
  * backing the returned frame is O(pair-participating nodes × 16 bytes) —
  * a keep-list for the duplicated subset, not a corpus.
  *
  * The fixpoint runs in a CLONED SparkSession (`spark.newSession()` —
  * same SparkContext, private SQL conf) with `shuffle.partitions` sized
  * from the MATERIALIZED edge count: a similarity graph is usually a tiny
  * fraction of the corpus, and 10+ rounds of joins over a thousand-row
  * frame at the corpus-sized partition count pay ~10× the round latency
  * in empty-task scheduling (~50k edges/partition, capped at the session
  * setting — at 100 TB, billions of edges, the cap binds and the loop
  * runs at the session setting). The clone keeps the tuning invisible to
  * the caller's session: no global conf is touched, so a concurrently
  * planned query can never pick up the loop's reduced partition count
  * (round-4 advisory — the previous set/restore pattern was safe only by
  * the sequential-execution contract).
  */
object GraphOps {

  /** Rebind a materialized (localCheckpoint'ed) frame into another session
    * of the same SparkContext. Row decode/encode is a narrow map over the
    * already-materialized RDD — for the (long, long) loop frames this is
    * noise next to one shuffle. */
  private def rebind(df: DataFrame,
      to: org.apache.spark.sql.SparkSession): DataFrame =
    to.createDataFrame(df.rdd, df.schema)

  /** Per-component size frame (rep, n_members) from a (doc_id, rep)
    * labels frame — the O(components) diagnostic a 100 TB dedup run
    * must emit BEFORE acting on its clusters: a boilerplate-heavy
    * corpus (shared headers, templated pages) glues near-dup edges
    * into one GIANT component, and a keep-one-per-component policy
    * would then silently drop most of the corpus as "duplicates".
    * Cost: one groupBy over the labels keep-list (already
    * O(pair-participating nodes), not corpus-sized).
    *
    * Giant-component playbook at scale, in order:
    *  1. DETECT — this frame: assert max(n_members)/Σ before trusting
    *     any keep-list (TextVectorSpec plants the hub shape and pins
    *     the diagnostic).
    *  2. PREVENT — degree-cap exemption: drop nodes with similarity
    *     degree > cap before CC. Hub degrees are template-driven;
    *     clean_boilerplate removes the template text itself, and a
    *     degree cap removes the spurious bridges it creates, while
    *     true dup groups (bounded size) are untouched — the standard
    *     similarity-graph practice.
    *  3. SURVIVE — the relax `groupBy(a).min` is partial-aggregated
    *     (map-side combine absorbs reduce-key skew toward the giant's
    *     rep), and the edges⋈labels join under a hot hub key is AQE
    *     skew-join territory; salt the hub's join key explicitly only
    *     if AQE's split is insufficient. */
  def componentSizes(labels: DataFrame): DataFrame =
    labels.groupBy("rep").agg(count(lit(1)).as("n_members"))

  /** (n_members, n_components) histogram — the one-screen summary of
    * [[componentSizes]], descending so the giant (if any) leads. */
  def componentSizeHistogram(labels: DataFrame): DataFrame =
    componentSizes(labels).groupBy("n_members")
      .agg(count(lit(1)).as("n_components"))
      .orderBy(col("n_members").desc)

  /** Directed-row ceiling for the single-task exact solve (the doubled
    * edge frame, so ÷2 for undirected pairs). The residual similarity
    * graph after LSH banding + candidate capping is a tiny fraction of
    * the corpus; when it fits ONE task — ≤8M directed rows is 128 MB of
    * two long-arrays plus a 4 B/node union-find forest — an exact
    * union-find pass in that task replaces the whole O(log diameter)
    * relax/compress fixpoint: ~2 jobs instead of ~11 rounds × ~5 stages
    * of pure job-scheduling latency (the measured r14 floor: 12-15 s per
    * CC-fed query at sf0.1 for a graph of a few thousand edges). This is
    * executor-side work, not a driver collect ([[graft.Gate]] policy). */
  private val LocalSolveMaxEdges = 8000000L

  /** Single-task exact CC over a materialized doubled-edge frame that
    * passed the size gate: sorted-id index + union-find with full path
    * compression, roots united toward the SMALLER index, so every set's
    * root IS its min doc_id — bit-identical labels to the fixpoint by
    * construction, independent of edge order. */
  private def localSolve(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("a"), col("b")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        // flat long buffers, not a tuple array: 16 B/row transient
        var cap = 1 << 12
        var size = 0
        var as = new Array[Long](cap)
        var bs = new Array[Long](cap)
        while (it.hasNext) {
          val e = it.next()
          if (size == cap) {
            cap *= 2
            as = java.util.Arrays.copyOf(as, cap)
            bs = java.util.Arrays.copyOf(bs, cap)
          }
          as(size) = e._1; bs(size) = e._2; size += 1
        }
        val all = new Array[Long](2 * size)
        System.arraycopy(as, 0, all, 0, size)
        System.arraycopy(bs, 0, all, size, size)
        java.util.Arrays.sort(all)
        // dedup in place → ids sorted ascending, index order = id order
        var n = 0
        var i = 0
        while (i < 2 * size) {
          if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
          i += 1
        }
        val ids = java.util.Arrays.copyOf(all, n)
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        i = 0
        while (i < size) {
          val ra = find(java.util.Arrays.binarySearch(ids, as(i)))
          val rb = find(java.util.Arrays.binarySearch(ids, bs(i)))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
          i += 1
        }
        Iterator.range(0, n).map(j => (ids(j), ids(find(j))))
      }
      .toDF("doc_id", "rep")
  }

  /** @param nodes single column `doc_id` — every node, including isolated
    * @param pairs  undirected edges as columns `id1`, `id2`
    * @param rounds max relax+compress rounds (reach grows ~2^round, so 16
    *               covers diameter ~10^5 — needed because near-threshold
    *               similarity graphs degenerate into long chains: the
    *               sf0.1 cosine graph has a >256-hop component that 8
    *               rounds provably cannot close). The loop still exits at
    *               the first no-change round, so shallow dup-cluster
    *               graphs pay 4-6 rounds regardless of the bound.
    * @return (doc_id, rep) with rep = min doc_id of the component
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      rounds: Int = 16): DataFrame = {
    // both directions of each pair from ONE pass over `pairs` (a union
    // would evaluate the caller's join-and-verify pipeline twice)
    val (outerEdges, gate) = Gate.snapshot("connectedComponents",
      pairs.select(explode(array(
          struct(col("id1").as("a"), col("id2").as("b")),
          struct(col("id2").as("a"), col("id1").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b")),
      LocalSolveMaxEdges)
    val spark = outerEdges.sparkSession
    if (gate.local) {
      // lazy: the one join below consumes the labels, so the union-find
      // runs inside the caller's action, once per action. The edge
      // snapshot stays cached for it; the ContextCleaner releases its
      // blocks once the result is dropped
      val labels = localSolve(outerEdges)
      return nodes.select(col("doc_id"))
        .join(labels.withColumnRenamed("doc_id", "pid"),
          col("doc_id") === col("pid"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id")).as("rep"))
    }
    val outerParts = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.max(1L, math.min(outerParts.toLong,
      gate.rows / 50000L + 1L))
    val loop = spark.newSession()
    loop.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    // AQE's per-stage re-planning buys nothing on the loop's right-sized
    // tiny shuffles and costs ~100 ms per stage × 4 stages × rounds; at
    // real scale loopParts == the session setting and AQE stays worth it,
    // so only bypass it when the graph is small enough to single-partition
    if (loopParts <= 4) loop.conf.set("spark.sql.adaptive.enabled", "false")
    val edges = rebind(outerEdges, loop).localCheckpoint(true)
    outerEdges.unpersist()
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("rep"))
      .localCheckpoint(true)
    var checkpoints = Seq(labels)
    var converged = false
    var round = 0
    while (!converged && round < rounds) {
      round += 1
      // relax: rep(x) = min(rep(x), min over neighbors' rep)
      val nbr = edges
        .join(labels.select(col("doc_id").as("b"), col("rep").as("brep")),
          "b")
        .groupBy(col("a").as("doc_id")).agg(min("brep").as("nrep"))
      val relaxed = labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
      // compress: rep(x) = rep(rep(x)) — rep is always a live node id
      val cur = relaxed.join(
          relaxed.select(col("doc_id").as("rid"), col("rep").as("rrep")),
          col("rep") === col("rid"))
        .select(col("doc_id"), col("rrep").as("rep"))
      // the round's ENTRY label rides along into the checkpoint so the
      // fixpoint test below is a filter on already-materialized rows —
      // not an extra shuffle-join of two checkpointed frames per round
      val stamped = cur
        .join(labels.withColumnRenamed("rep", "prev"), "doc_id")
        .select(col("doc_id"), col("rep"), col("prev"))
        .localCheckpoint(true)
      converged = stamped.where(col("rep") =!= col("prev")).isEmpty
      checkpoints.foreach(_.unpersist())
      checkpoints = Seq(stamped)
      labels = stamped.select("doc_id", "rep")
    }
    edges.unpersist()
    // an unconverged result must never silently materialize (it would be
    // persisted into write-once fixtures and reused downstream with no
    // signal — round-2 advisory); diameters beyond ~2^rounds fail fast
    require(converged,
      s"connected components did not converge within $rounds rounds " +
        "(graph diameter too large — raise `rounds`)")
    // rebind the final labels back to the caller's session: a narrow
    // Row decode over the last checkpoint's materialized RDD (the
    // O(pair-participating nodes) keep-list), recomputed per consumer job
    nodes.select(col("doc_id"))
      .join(rebind(labels, spark).withColumnRenamed("doc_id", "pid"),
        col("doc_id") === col("pid"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
  }
}
