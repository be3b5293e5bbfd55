package graft.operators

import graft.core.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Katz centrality (Katz 1953): the attenuated count of ALL walks ending
  * at a vertex, not just length-1 ones —
  *
  *   x₀(v)   = β
  *   xₜ₊₁(v) = β + α · Σ_{(u,v)∈E} xₜ(u)
  *
  * i.e. the truncated series β·Σ_k αᵏ·(Aᵀ)ᵏ·1. Unlike PageRank there is
  * no out-degree division: a hub passes its FULL score to every
  * successor, so Katz rewards being reachable by many walks rather than
  * by rank-conserving flow. α must stay below 1/λ_max(A) for the infinite
  * series to converge; the fixed-iteration form used here (the gate face)
  * is exact algebra at any α, so both engines unroll the identical k
  * stages. Runs on [[RankLoop]]: gather weight `x`, update `β + α·contrib`.
  */
object Katz {

  def runFixed(
      graph: Graph,
      iterations: Int,
      alpha: Double = 0.05,
      beta: Double = 1.0
  ): DataFrame = {
    val adj = RankLoop.adjacency(graph.adjacency)
    RankLoop.run("katz", graph.outDegrees.select(col("id"), lit(beta).as("x")), iterations, graph.numEdges) {
      (_, _) => RankLoop.Step(adj, col("x"), c => lit(beta) + lit(alpha) * c)
    }.state.select("id", "x")
  }
}
