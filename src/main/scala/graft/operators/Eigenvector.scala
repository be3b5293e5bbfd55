package graft.operators

import graft.core.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Eigenvector centrality by normalized power iteration:
  *
  *   x₀(v)   = 1
  *   yₜ₊₁(v) = Σ_{(u,v)∈E} xₜ(u)
  *   xₜ₊₁    = yₜ₊₁ / ‖yₜ₊₁‖₂
  *
  * The L2 normalization (not PageRank's stochastic scaling, not Katz's
  * additive β) makes the fixpoint the principal eigenvector of Aᵀ —
  * the "endorsed by important pages" recursion in its purest form. On
  * directed graphs vertices outside any cycle's basin decay to 0, which
  * is the textbook behavior (use Katz/PageRank when that matters).
  *
  * Runs on [[RankLoop]] with the raw y as state: ‖y‖₂ is the square root
  * of the sum of squares the superstep's aggregate returns, and xₜ = yₜ/‖yₜ‖₂
  * is a per-vertex division inside the next gather weight and the result.
  */
object Eigenvector {

  def runFixed(graph: Graph, iterations: Int): DataFrame = {
    val adj = RankLoop.adjacency(graph.adjacency)
    val r = RankLoop.run("eigenvector", graph.outDegrees.select(col("id"), lit(1.0).as("x")), iterations,
      graph.numEdges) { (_, s) => RankLoop.Step(adj, RankLoop.scaled(col("x"), math.sqrt(s.l2sq)), c => c) }
    r.state.select(col("id"), RankLoop.scaled(col("x"), math.sqrt(r.sums.last.l2sq)).as("x"))
  }
}
