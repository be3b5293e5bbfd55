package graft.operators

import graft.core.{CheckpointConfig, Graph, IterationContext, LocalGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy graph coloring by synchronous Jones–Plassmann rounds over a
  * hash permutation — the scheduling/register-allocation primitive one
  * rung above [[Mis]] (a JP round IS a Luby round that records a color
  * instead of deleting the winner's neighborhood). In each round, every
  * uncolored vertex all of whose smaller-key neighbors are already
  * colored takes the mex (minimum excluded value) of those neighbors'
  * colors. The fixpoint is EXACTLY the sequential greedy coloring of the
  * permutation order — a deterministic function of the graph and `salt`,
  * independent of round structure, partitioning, and retries (the key is
  * [[graft.text.TextOps.portableHash60]] of "id:salt", ties broken by
  * id — not an RNG), and uses at most Δ+1 colors. Coloring drives
  * conflict-free scheduling: crawl slot assignment (no two adjacent
  * hosts in one slot — the multi-slot generalization of one MIS round),
  * chromatic scheduling of vertex updates, channel assignment.
  *
  * Scale shape: the state is one precedent-edge table (v, u, ucolor) —
  * v uncolored, u a smaller-key neighbor — that only SHRINKS as vertices
  * color. Per round: ONE map-side-combined groupBy(v) aggregate (ready
  * test + mex over the sorted distinct neighbor-color set, computed by a
  * codegen'd `aggregate` fold — no window, no driver state), one anti
  * join removing newly-colored v rows, one equi-join stamping the round
  * DELTA's colors onto the u side. Rounds = the permutation DAG's
  * dependency depth, O(log n / log log n) expected for random keys
  * (Coleman–Mořé), so a 10^10-edge graph resolves in tens of shuffle
  * rounds; no per-vertex adjacency arrays ever ship.
  */
object Coloring {

  final case class Result(
      /** (id: Long, color: Long) for EVERY vertex; undecided rows (only
        * when `converged` is false) report color = null.
        */
      colors: DataFrame,
      rounds: Int,
      converged: Boolean
  )

  def run(
      graph: Graph,
      salt: String = "",
      maxRounds: Int = 64,
      checkpoint: Option[CheckpointConfig] = None,
      verbose: Boolean = false,
      /** Driver-local twin cap, the [[graft.core.LocalGraph]] rule; not
        * taken when checkpointing is requested. The twin simulates the
        * Jones–Plassmann rounds round for round on the symmetric view, so
        * colors, `rounds`, `converged` and the maxRounds cutoff are those
        * of the distributed rounds (pinned by `ColoringSpec`'s
        * differential).
        */
      localFinishEdges: Long = 0L
  ): Result = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = graph.spark
    import spark.implicits._

    if (checkpoint.isEmpty && LocalGraph.fits(graph, localFinishEdges)) {
      val g = LocalGraph(graph)
      val sym = g.symmetric
      val order = new Mis.LocalSym(g.ids, salt)
      val color = Array.fill(g.n)(-1L) // -1 = uncolored (null in the output)
      var remaining = g.n.toLong
      var rounds = 0
      while (remaining > 0 && rounds < maxRounds) {
        // ready = uncolored with every smaller-(key,id) neighbor colored;
        // color = mex over the DISTINCT colors of those neighbors.
        val below = (0 until g.n).map(i =>
          if (color(i) >= 0) None
          else Some((sym.off(i) until sym.off(i + 1)).map(sym.nbr)
            .filter(order.before(_, i)).map(color)).filterNot(_.contains(-1L)))
        for (i <- 0 until g.n; cs <- below(i)) {
          color(i) = cs.distinct.sorted.foldLeft(0L)((mex, c) => if (c == mex) mex + 1 else mex)
          remaining -= 1
        }
        rounds += 1
      }
      val colors = LocalGraph.frame(spark,
        g.ids.indices.map(i => (g.ids(i), Some(color(i)).filter(_ >= 0))), "id", "color")
      return Result(colors, rounds, converged = remaining == 0)
    }

    val ctx = new IterationContext("coloring", checkpoint, verbose = verbose)
    // Precedent edges of the symmetrized simple graph: (v, u) where u is
    // a neighbor of v with smaller (key, id). Every vertex gets at least
    // one row (u = null for permutation sources) so readiness falls out
    // of one aggregate over this single table.
    val sym = graph.symmetrize.edges.filter($"src" =!= $"dst").toDF()
    val prec = sym
      .where(struct(Mis.keyOf($"dst", salt), $"dst") <
        struct(Mis.keyOf($"src", salt), $"src"))
      .select($"src".as("v"), $"dst".as("u"))
    var live = ctx.init(
      graph.vertices.toDF("v")
        .join(prec, Seq("v"), "left")
        .select($"v", $"u", lit(null).cast("long").as("ucolor")))
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()

    var rounds = 0
    var remaining = live.count()
    while (remaining > 0 && rounds < maxRounds) {
      // Ready = no uncolored smaller-key neighbor left; color = mex of
      // the (distinct, sorted) colors already taken below v. The fold
      // over the sorted set computes mex without a window: acc counts
      // the longest 0..acc-1 prefix present.
      val ready = live
        .groupBy($"v")
        .agg(
          sum(when($"u".isNotNull && $"ucolor".isNull, 1).otherwise(0)).as("blocked"),
          sort_array(collect_set($"ucolor")).as("cs"))
        .where($"blocked" === 0)
        .select($"v".as("id"),
          aggregate($"cs", lit(0L),
            (acc, c) => when(c === acc, acc + 1L).otherwise(acc)).as("color"))
        .localCheckpoint(true)
      val next = ctx.cut(
        live
          .join(ready.select($"id".as("v")), Seq("v"), "left_anti")
          .join(ready.select($"id".as("u"), $"color".as("nc")), Seq("u"), "left")
          .select($"v", $"u", coalesce($"nc", $"ucolor").as("ucolor")))
      rounds += 1
      val cnt = next.count() // materialize the cut BEFORE advance releases old state
      val colored = remaining - cnt
      live = ctx.advance(rounds, next,
        deltaNorm = colored.toDouble, messages = remaining, changed = colored)
      parts += ready
      remaining = cnt
    }

    val got =
      if (parts.isEmpty) spark.emptyDataset[(Long, Long)].toDF("id", "color")
      else parts.reduce(_ union _)
    val colors = graph.vertices.toDF("id")
      .join(got, Seq("id"), "left")
      .select($"id", $"color")
    ctx.close()
    Result(colors, rounds, converged = remaining == 0)
  }
}
