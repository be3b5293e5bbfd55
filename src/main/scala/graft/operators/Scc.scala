package graft.operators

import graft.core.{Graph, LocalGraph, Lineage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Strongly connected components.
  *
  * Two implementations, per SURVEY §7.3(f) — DFS has no distributed
  * analogue, so:
  *
  *  - [[tarjanLocal]]: exact iterative Tarjan on driver-collected edges —
  *    the reference algorithm (`/root/reference/src/algo/sccs/tarjan.rs`)
  *    re-expressed iteratively; for test graphs and for the residual of
  *    the distributed pass. Component ids are assigned from 0 in
  *    completion (pop) order like the reference.
  *
  *  - [[run]]: distributed multi-pivot Forward–Backward with trimming
  *    (FB-Trim): per round, trim in/out-degree-0 vertices (singleton
  *    SCCs), then from each active partition's pivot run simultaneous
  *    forward + backward multi-source BFS *within the partition*;
  *    F∩B is an SCC, and {F\B, B\F, rest} become three new partitions.
  *    All partitions advance in the same Dataset superstep — rounds are
  *    O(log n) expected on web-like graphs (each SCC falls out once its
  *    partition is pivoted). Labels are canonicalized to min-member-id.
  */
object Scc {

  /** Below this confined-edge count the frontier side of every BFS-level
    * join fits Spark's broadcast threshold, so pre-partitioning the arc
    * table buys nothing and costs one shuffle+materialization per round.
    */
  private val RepartitionMinEdges = 1000000L

  /** Observability for the whole-graph early exit ([[tarjanMapStats]]). */
  final case class TarjanStats(revisits: Long, earlyExit: Boolean)

  /** Iterative Tarjan; returns (id → component), components numbered from
    * 0 in pop order (reference `tarjan.rs:33-40` numbering, which it then
    * re-numbers via `sort_by_size` — we expose [[ConnectedComponents.sortBySize]]
    * for that step).
    */
  def tarjanMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    tarjanMapStats(edges)._1

  /** [[tarjanMap]] plus visit statistics (see [[tarjan]]). */
  private[operators] def tarjanMapStats(edges: Seq[(Long, Long)]): (Map[Long, Long], TarjanStats) = {
    val g = LocalGraph(edges.map(_._1).toArray, edges.map(_._2).toArray)
    val (comp, stats) = tarjan(g)
    (g.ids.indices.map(i => g.ids(i) -> comp(i).toLong).toMap, stats)
  }

  /** Iterative Tarjan over `g`'s forward view: the component of each
    * index, numbered from 0 in pop order. Roots are taken in ascending
    * id order and successors in ascending distinct order. Pins the
    * reference's whole-graph early exit (`tarjan.rs:60-76`): once every
    * vertex is discovered and the current vertex links back to the root
    * of the current DFS tree, every still-unassigned vertex (the Tarjan
    * stack, which includes the residual visit path — the reference
    * flushes it via `visit.stack()`, `seq.rs:170-183` /
    * `tarjan.rs:113-117`) is one SCC: stack nodes all reach the current
    * vertex (Tarjan invariant), it reaches the tree root, and the root
    * reaches every discovered unemitted node. Remaining successor
    * enumerations are skipped — on a single-SCC graph with heavy
    * back-edge fan-in the visit ends at the FIRST closing revisit instead
    * of examining every remaining arc.
    */
  private[operators] def tarjan(g: LocalGraph): (Array[Int], TarjanStats) = {
    val (n, fwd) = (g.n, g.forward)
    val index = Array.fill(n)(-1)
    val lowlink = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    val comp = new Array[Int](n)
    // explicit work stack: vertex and the position of its next successor
    val work = new Array[Int](n)
    val next = new Array[Int](n)
    var (sp, wp, nextIndex, nextComp) = (0, 0, 0, 0)
    var revisits = 0L
    var earlyExit = false
    def push(v: Int): Unit = {
      index(v) = nextIndex; lowlink(v) = nextIndex; nextIndex += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      work(wp) = v; next(wp) = fwd.off(v); wp += 1
    }
    for (root <- 0 until n if !earlyExit && index(root) < 0) {
      push(root)
      val rootIdx = index(root)
      while (wp > 0 && !earlyExit) {
        val (v, top) = (work(wp - 1), wp - 1)
        var descended = false
        while (!descended && !earlyExit && next(top) < fwd.off(v + 1)) {
          val w = fwd.nbr(next(top)); next(top) += 1
          if (index(w) < 0) { push(w); descended = true }
          else {
            revisits += 1
            if (onStack(w)) {
              lowlink(v) = math.min(lowlink(v), index(w))
              if (lowlink(v) == rootIdx && nextIndex == n) {
                // whole-graph early exit + residual flush (see above)
                for (k <- 0 until sp) comp(stack(k)) = nextComp
                nextComp += 1
                earlyExit = true
              }
            }
          }
        }
        if (!descended && !earlyExit) {
          wp -= 1
          if (wp > 0) lowlink(work(wp - 1)) = math.min(lowlink(work(wp - 1)), lowlink(v))
          if (lowlink(v) == index(v)) {
            var w = -1
            while (w != v) { sp -= 1; w = stack(sp); onStack(w) = false; comp(w) = nextComp }
            nextComp += 1
          }
        }
      }
    }
    (comp, TarjanStats(revisits, earlyExit))
  }

  /** Driver-exact Tarjan as a DataFrame (id, comp); `maxNodes` guards
    * against accidentally collecting a web-scale graph.
    */
  def tarjanLocal(graph: Graph, maxNodes: Long = 2000000): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    require(graph.numVertices <= maxNodes,
      s"tarjanLocal is the driver-exact path (${graph.numVertices} > $maxNodes nodes); use Scc.run")
    val g = LocalGraph(graph)
    val comp = tarjan(g)._1
    g.ids.indices.map(i => (g.ids(i), comp(i).toLong)).toDF("id", "comp")
  }

  /** Number of SCCs (driver-exact). */
  def countLocal(graph: Graph): Long = tarjan(LocalGraph(graph))._1.distinct.length.toLong

  /** Distributed FB-Trim. Returns (id, comp) with comp = min member id.
    *
    * Hybrid finish: FB-Trim's recursion produces a long tail of small
    * partitions (a web graph has ~10⁵–10⁸ mostly-tiny SCCs outside the
    * giant one — cnr-2000: 100,977 SCCs, `tests/test_sccs.rs:221`), and
    * each distributed round costs supersteps proportional to the
    * partitions' BFS depth. Once the ACTIVE residual fits
    * `localFinishEdges` (the [[graft.core.LocalGraph]] cap, here on the
    * residual's arcs), the tail is finished in one driver-side Tarjan
    * pass over the collected residual: its arcs never leave their
    * partition, so no SCC crosses partitions and one pass labels every
    * part — the same bounded-driver-residual policy as
    * [[SumSweep.compute]]'s `maxComponents` condensation guard. Rounds
    * stay fully distributed until the budget is met, so a 10⁹-node crawl
    * still carves its giant SCC out with distributed F/B sweeps;
    * `localFinishEdges = 0` disables the hybrid entirely (used by specs
    * to pin the distributed path).
    */
  def run(
      graph: Graph,
      maxRounds: Int = 1000,
      localFinishEdges: Long = LocalGraph.QueryCap
  ): DataFrame = {
    val spark = graph.spark
    import spark.implicits._

    val edges = graph.edges.toDF().persist(StorageLevel.MEMORY_AND_DISK)
    // active: (id, part) — vertices not yet assigned to an SCC, keyed by
    // their current partition id (the pivot-id lineage).
    var active = graph.vertices.toDF("id").select($"id", lit(0L).as("part"))
      .localCheckpoint(true)
    var activeCount = active.count()
    var result = spark.emptyDataset[(Long, Long)].toDF("id", "comp")
    var round = 0
    // Estimate of this round's confined edge count = last round's actual
    // (rounds only shrink the active edge set); decides the repartition
    // below without an extra materialization.
    var eCountEstimate = graph.numEdges

    while (round < maxRounds && activeCount > 0) {
      round += 1
      // --- confine edges to the current partitions. When the table is
      // LARGE it is repartitioned by the reach() join key (src, part) so
      // every BFS level reuses this exchange and shuffles only the
      // O(frontier) state side — without it the (src, part)
      // shuffle-hash-join re-ships all |E| arc rows at EVERY level of
      // every round once the frontier outgrows the broadcast threshold.
      // Below the threshold AQE broadcasts the frontier anyway, and the
      // up-front shuffle would be pure per-round latency.
      val partitionForReach = eCountEstimate > RepartitionMinEdges
      val eConfined = edges
        .join(active.select($"id".as("src"), $"part"), Seq("src"))
        .join(active.select($"id".as("dst"), $"part".as("p2")), Seq("dst"))
        .filter($"part" === $"p2")
        .select($"src", $"dst", $"part")
        .filter($"src" =!= $"dst")
      val e = (if (partitionForReach) eConfined.repartition($"src", $"part") else eConfined)
        .localCheckpoint(true)
      val eCount = e.count()
      eCountEstimate = eCount

      // --- hybrid local finish (see scaladoc). Vertices absent from `e`
      // (no intra-part edge) are singleton SCCs.
      if (eCount <= localFinishEdges && activeCount <= 4 * math.max(localFinishEdges, 1)) {
        val arcs = e.select($"src", $"dst").as[(Long, Long)].collect()
        val g = LocalGraph(arcs.map(_._1), arcs.map(_._2))
        val comp = tarjan(g)._1
        val minOf = Array.fill(g.n)(Int.MaxValue) // pop number -> min member index
        for (i <- 0 until g.n) minOf(comp(i)) = math.min(minOf(comp(i)), i)
        val assigned = active.select($"id").as[Long].collect().map { id =>
          val i = g.index(id)
          (id, if (i < 0) id else g.ids(minOf(comp(i))))
        }
        val newResult = result
          .union(assigned.toSeq.toDF("id", "comp"))
          .localCheckpoint(true)
        Lineage.release(result)
        result = newResult
        Lineage.release(active)
        active = spark.emptyDataset[(Long, Long)].toDF("id", "part")
        activeCount = 0L
        Lineage.release(e)
      } else {

      // --- trim: vertices with no in- or no out-edge inside their part
      // are singleton SCCs (classic FB trimming step)
      val hasOut = e.select($"src".as("id")).distinct()
      val hasIn = e.select($"dst".as("id")).distinct()
      val trimmed = active
        .join(hasOut.join(hasIn, Seq("id"), "inner"), Seq("id"), "left_anti")
        .select($"id", $"id".as("comp"))
        .localCheckpoint(true)
      val newResult = result.union(trimmed).localCheckpoint(true)
      Lineage.release(result)
      result = newResult
      val remaining = active.join(trimmed, Seq("id"), "left_anti").localCheckpoint(true)
      Lineage.release(active)
      Lineage.release(trimmed)
      val remainingCount = remaining.count()

      if (remainingCount > 0) {
        // --- pivots: pseudo-random (hash-min) per partition. A
        // deterministic min-id pivot degenerates on chain-shaped
        // partitions (the head's F-set is the whole rest ⇒ one vertex
        // peeled per round ⇒ O(n) rounds); a hash-random pivot splits a
        // partition like a quicksort pivot ⇒ expected O(log n) rounds.
        // Final labels don't depend on the choice (canonicalized to min
        // member id below).
        val pivots = remaining
          .groupBy($"part")
          .agg(min(struct(xxhash64($"id", lit(round)), $"id")).as("pk"))
          .select($"part", $"pk.id".as("pivot"))
        val seeds = remaining.join(pivots, Seq("part"))
          .filter($"id" === $"pivot")
          .select($"id", $"part")
          .localCheckpoint(true)

        // --- simultaneous multi-source, partition-confined reachability
        def reach(arcs: DataFrame): DataFrame = {
          var visited = seeds
          var frontier = seeds
          var n = frontier.count()
          while (n > 0) {
            val next = arcs
              .join(frontier.select($"id".as("src"), $"part"), Seq("src", "part"))
              .select($"dst".as("id"), $"part")
              .distinct()
              .join(visited, Seq("id", "part"), "left_anti")
              .localCheckpoint(true)
            n = next.count()
            if (n > 0) {
              val newVisited = visited.union(next).localCheckpoint(true)
              if (visited ne seeds) { Lineage.release(frontier); Lineage.release(visited) }
              visited = newVisited
              frontier = next
            } else {
              Lineage.release(next) // terminal empty level
            }
          }
          // the last non-empty frontier was never superseded — its blocks
          // are dead once the loop exits (visited is its own checkpoint)
          if (frontier ne seeds) Lineage.release(frontier)
          visited
        }
        // The transposed arc table is repartitioned ONCE per round on its
        // own (src, part) key — one O(E) shuffle buying exchange reuse
        // across every backward BFS level (same rationale as `e`).
        val eBSwapped = e.select($"dst".as("src"), $"src".as("dst"), $"part")
        val eB = (if (partitionForReach) eBSwapped.repartition($"src", $"part") else eBSwapped)
          .localCheckpoint(true)
        val fwd = reach(e)
        val bwd = reach(eB)

        val sccPart = fwd.join(bwd, Seq("id", "part")) // F ∩ B
        val withPivot = sccPart.join(pivots, Seq("part"))
          .select($"id", $"pivot".as("comp"))
        val newResult = result.union(withPivot).localCheckpoint(true)
        Lineage.release(result)
        result = newResult

        // --- split the rest into new partitions by (old part, branch):
        // branch ∈ {F\B, B\F, neither}. The new partition KEY is the min
        // vertex id of the new partition (one extra agg) — NOT an
        // accumulating encoding like part*3+k, which grows as 3^rounds
        // and would overflow Long (colliding wrapped ids would merge
        // partitions and silently mislabel SCCs on deep recursions).
        val rest = remaining.join(sccPart.select($"id"), Seq("id"), "left_anti")
        val inF = fwd.select($"id", $"part", lit(1).as("inF"))
        val inB = bwd.select($"id", $"part", lit(1).as("inB"))
        val branched = rest
          .join(inF, Seq("id", "part"), "left")
          .join(inB, Seq("id", "part"), "left")
          .select($"id", $"part",
            when($"inF" === 1, 1).when($"inB" === 1, 2).otherwise(3).as("branch"))
        val canon = branched.groupBy($"part", $"branch").agg(min($"id").as("newPart"))
        active = branched.join(canon, Seq("part", "branch"))
          .select($"id", $"newPart".as("part"))
          .localCheckpoint(true)
        activeCount = active.count()
        Lineage.release(remaining)
        Lineage.release(seeds)
        Lineage.release(fwd)
        Lineage.release(bwd)
        Lineage.release(eB)
      } else {
        active = remaining
        activeCount = 0L
      }
      Lineage.release(e)
      }
    }
    if (activeCount > 0)
      throw new IllegalStateException(
        s"SCC did not converge in $maxRounds rounds: ${active.count()} vertices " +
          "unassigned. Returning a partial labeling would silently corrupt every " +
          "consumer (SumSweep joins would drop these vertices); raise maxRounds.")
    edges.unpersist()
    // canonicalize comp labels to min member id (the pivot label is a
    // hash-random member, not necessarily the min; trimmed singletons are
    // their own id).
    val byMin = result.groupBy($"comp").agg(min($"id").as("canon"))
    result.join(byMin, Seq("comp")).select($"id", $"canon".as("comp"))
  }

  /** Component count + size histogram for any (id, comp) assignment. */
  def sizes(components: DataFrame): DataFrame =
    components.groupBy("comp").agg(count(lit(1)).as("size"))
}
