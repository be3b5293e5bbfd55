package graft.operators

import graft.core.{CheckpointConfig, Graph, IterationContext, LocalGraph, SuperstepMetrics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Modularity-optimizing community detection by synchronous Louvain
  * local moving (Blondel et al. 2008, level-1 move phase) with the two
  * devices parallel implementations use against synchronous swap
  * cycles:
  *
  *  - Grappolo's minimum-label rule (Lu, Halappanavar, Kalyanaraman
  *    2015 §4.1): a vertex v may move into a SINGLETON community only
  *    if its lone member's id is smaller than v. This kills the
  *    singleton–singleton swap (two adjacent singletons electing each
  *    other forever — e.g. the single edge (1,3), where both vertices
  *    would otherwise trade labels every round and never merge);
  *  - parity alternation: round r may move only vertices with (id + r)
  *    even. NOT a proper coloring (same-parity neighbors still move
  *    together — odd cycles admit none), but it halves simultaneous-
  *    move conflicts among non-singleton communities, where a
  *    transient joint move is harmless because the singleton rule
  *    anchors every merge.
  *
  * Complements [[LabelPropagation]]: LP maximizes label agreement,
  * Louvain maximizes MODULARITY — the difference shows on hub-heavy
  * web graphs where LP collapses into one giant label.
  *
  * Semantics (deterministic — required for oracle/golden parity):
  *  - unit arc weights on the simple symmetrized graph (self-loops
  *    dropped, duplicate arcs collapsed); every vertex starts in its
  *    own singleton community;
  *  - each round, every ELIGIBLE vertex i (parity above) moves to the
  *    community c among its neighbors' current communities ∪ {own}
  *    maximizing the exact-integer move score
  *      score2(c) = A·k(i,c) − deg(i) · (vol(c) − [c = comm(i)]·deg(i))
  *    where A = 2m = |sym arcs|, k(i,c) = arcs from i into c, vol(c) =
  *    Σ deg over members. This is the standard ΔQ numerator scaled by
  *    2m² (positive constant — same argmax), kept in decimal(38,0) so
  *    the comparison is EXACT at any scale (A·k overflows i64 around
  *    10¹⁹; no float argmax can flip on an engine's summation order);
  *    ties broken by the SMALLEST community id;
  *  - fixed round count; an even count gives both parity classes equal
  *    turns. Vertices with no neighbors keep their community.
  *
  * Scale shape: per round ONE arcs ⋈ state gather (the k(i,c) count,
  * map-side combined — the same O(E) shuffle as LP's vote step), an
  * O(V) volume aggregate, and an O(neighbor-communities) candidate
  * equi-join; state is one (id, comm) row per vertex, no per-vertex
  * adjacency arrays, no driver state. The argmax is a min_by over
  * (−score, comm) — associative partial aggregation, never a window
  * over the corpus.
  *
  * Reference: webgraph-algo-rs ships LLP-family clustering in the
  * webgraph crate (cited at `src/algo/sccs/mod.rs:43`); Louvain is the
  * modularity member of that community-detection family.
  */
object Louvain {

  final case class Result(
      /** (id: Long, comm: Long) for EVERY vertex. */
      labels: DataFrame,
      rounds: Int,
      history: Seq[SuperstepMetrics]
  )

  def run(
      graph: Graph,
      rounds: Int = 4,
      checkpoint: Option[CheckpointConfig] = None,
      verbose: Boolean = false,
      /** Driver-local twin cap, the [[graft.core.LocalGraph]] rule; not
        * taken when checkpointing is requested. Every quantity in the move
        * score is an exact integer (A·k − deg·vol fits i64 far beyond any
        * cap) and ties break on the smallest community id, so the twin's
        * rounds are bit-identical to the distributed ones by determinism
        * (pinned by `LouvainSpec`'s differential).
        */
      localFinishEdges: Long = 0L
  ): Result = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = graph.spark
    import spark.implicits._

    if (checkpoint.isEmpty && LocalGraph.fits(graph, localFinishEdges))
      return runLocal(graph, rounds)

    val sym = graph.symmetrize.edges.filter($"src" =!= $"dst").toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val arcsTotal = sym.count() // A = 2m
    // Degrees over ALL vertices (a vertex seen only in self-loops has
    // simple degree 0 and can never move — its own community is its
    // only candidate).
    val deg = graph.vertices.toDF("id")
      .join(sym.groupBy($"src".as("id")).agg(count(lit(1)).as("deg")), Seq("id"), "left")
      .select($"id", coalesce($"deg", lit(0L)).as("deg"))
      .localCheckpoint(true)

    val ctx = new IterationContext("louvain", checkpoint, verbose = verbose, suspendAdaptive = true)
    try {
      val resumed = ctx.resume(spark)
      var state = resumed.map(_._1).getOrElse {
        ctx.init(deg.select($"id", $"id".as("comm")))
      }
      var round = resumed.map(_._2).getOrElse(0)

      while (round < rounds) {
        round += 1
        val next = ctx.cut(moveRound(sym, deg, arcsTotal, state, round))
        val row = next.agg(sum(when($"didChange", 1L).otherwise(0L))).head()
        val changed = if (row.isNullAt(0)) 0L else row.getLong(0)
        state = ctx.advance(round, next.select($"id", $"comm"),
          deltaNorm = changed.toDouble, messages = arcsTotal, changed = changed)
      }

      sym.unpersist()
      graft.core.Lineage.release(deg)
      ctx.close()
      Result(state.select($"id", $"comm"), round, ctx.history.toSeq)
    } finally ctx.restoreAqe()
  }

  /** The driver-local twin of the synchronous move rounds: identical
    * semantics by construction — same symmetric simple arc set, same
    * parity eligibility (floorMod, matching `pmod`), same exact-integer
    * score, same (score desc, comm asc) winner, same Grappolo singleton
    * admissibility — over compact arrays instead of per-round shuffles.
    */
  private def runLocal(graph: Graph, rounds: Int): Result = {
    // Self-loop-only vertices are in the universe with simple degree 0
    // and never move, like the distributed path. Index order is id order,
    // so communities are tracked by their min member's index.
    val g = LocalGraph(graph)
    val (n, sym) = (g.n, g.symmetric)
    val arcsTotal = sym.nbr.length.toLong // A = 2m
    val deg = Array.tabulate(n)(sym.degree(_).toLong)
    var comm = Array.tabulate(n)(i => i)
    val history = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetrics]
    for (round <- 1 to rounds) {
      // community stats under the CURRENT labels
      val vol = new Array[Long](n)
      val csize = new Array[Long](n)
      val cmin = Array.fill(n)(Int.MaxValue)
      for (i <- 0 until n) {
        val c = comm(i)
        vol(c) += deg(i); csize(c) += 1; cmin(c) = math.min(cmin(c), i)
      }
      val next = comm.clone()
      var changed = 0L
      for (i <- 0 until n if java.lang.Math.floorMod(g.ids(i) + round.toLong, 2L) == 0L) {
        val own = comm(i)
        // candidates = neighbour communities ∪ own, sorted: each run of c
        // is k(i, c) arcs (own's run carries one extra entry)
        val cand = ((sym.off(i) until sym.off(i + 1)).map(p => comm(sym.nbr(p))) :+ own).sorted
        var best = own; var bestScore = Long.MinValue; var p = 0
        while (p < cand.length) {
          val c = cand(p)
          var q = p
          while (q < cand.length && cand(q) == c) q += 1
          // Grappolo singleton rule (staying put always admissible)
          if (c == own || !(csize(c) == 1L && cmin(c) > i)) {
            val score = if (c == own) arcsTotal * (q - p - 1) - deg(i) * (vol(c) - deg(i))
              else arcsTotal * (q - p) - deg(i) * vol(c)
            if (score > bestScore) { bestScore = score; best = c }
          }
          p = q
        }
        if (best != own) { next(i) = best; changed += 1 }
      }
      comm = next
      history += SuperstepMetrics(round, changed.toDouble, arcsTotal, changed, 1.0, 0L)
    }
    val labels = LocalGraph.frame(graph.spark,
      g.ids.indices.map(i => (g.ids(i), g.ids(comm(i)))), "id", "comm")
    Result(labels, rounds, history.toSeq)
  }

  /** One synchronous move round over `state` (id, comm) → the NEXT state
    * (id, comm, didChange), UNCUT — [[run]] cuts it per superstep;
    * `PlanSpec` explains it directly (a cut frame's plan is just the
    * checkpoint scan, which would make any plan assertion vacuous).
    */
  private[graft] def moveRound(
      sym: DataFrame,
      deg: DataFrame,
      arcsTotal: Long,
      state: DataFrame,
      round: Int): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    // k(i, c): arcs from i into community c under the CURRENT labels.
    // Gather through the arc table exactly like LP's vote step: the
    // (id, comm) state is the only iterating side.
    val kic = sym
      .join(state.select($"id".as("dst"), $"comm"), Seq("dst"))
      .groupBy($"src".as("id"), $"comm")
      .agg(count(lit(1)).as("k"))
    // Per-community volume (Σ deg), size, and min member id in ONE O(V)
    // aggregate; size/min feed the Grappolo singleton rule.
    val stats = state.join(deg, Seq("id"))
      .groupBy($"comm")
      .agg(sum($"deg").as("vol"), count(lit(1)).as("csize"), min($"id").as("cmin"))
    // Candidates = neighbor communities ∪ the vertex's own (k = 0 when
    // no internal arc); max() keeps the real k where both rows exist.
    // Only this round's parity class recomputes — everyone else
    // carries their community forward unchanged.
    val cand = kic
      .union(state.select($"id", $"comm", lit(0L).as("k")))
      .where(pmod($"id" + lit(round.toLong), lit(2L)) === 0)
      .groupBy($"id", $"comm").agg(max($"k").as("k"))
    val scored = cand
      .join(stats, Seq("comm"), "left") // own singleton of a deg-0 vertex has no stats row
      .join(deg, Seq("id"))
      .join(state.select($"id", $"comm".as("own")), Seq("id"))
      // Grappolo minimum-label rule: moving INTO a singleton community is
      // admissible only when its lone member's id is smaller than the
      // mover's (staying put is always admissible).
      .where($"comm" === $"own" ||
        !(coalesce($"csize", lit(1L)) === 1L && coalesce($"cmin", $"id") > $"id"))
      .select($"id", $"comm",
        (lit(arcsTotal).cast(dec) * $"k".cast(dec)
          - $"deg".cast(dec) * (coalesce($"vol", lit(0L)).cast(dec)
            - when($"comm" === $"own", $"deg").otherwise(lit(0L)).cast(dec)))
          .as("score"))
    val winner = scored
      .groupBy($"id")
      .agg(min_by($"comm", struct((-$"score").as("negScore"), $"comm")).as("newComm"))
    state.join(winner, Seq("id"), "left")
      .select($"id", coalesce($"newComm", $"comm").as("comm"),
        (coalesce($"newComm", $"comm") =!= $"comm").as("didChange"))
  }
}
