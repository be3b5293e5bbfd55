package graft.operators

import graft.core.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg's hubs & authorities) — the other classic link-graph
  * eigenvector pair next to PageRank: a page is a good AUTHORITY if good
  * hubs link to it, a good HUB if it links to good authorities.
  *
  *   a_k(v) = Σ_{u→v} h_{k-1}(u)   then L1-normalize
  *   h_k(u) = Σ_{u→v} a_k(v)       then L1-normalize
  *
  * L1 (sum-to-1) normalization instead of the textbook L2: same fixed
  * point direction, but the normalizer is a plain `sum` both engines
  * (Spark and the DuckDB oracle) evaluate identically — no sqrt whose
  * argument is an order-dependent dot product. An edgeless direction
  * normalizes to all-zeros rather than dividing by zero.
  *
  * Each half-step is one superstep of [[RankLoop]]: the a-step gathers
  * through the forward adjacency, the h-step through the TRANSPOSE
  * adjacency (HyperBall's transpose-push pattern), so neither re-shuffles
  * the arcs. The state keeps the raw sums; the L1 normalization divides a
  * raw score by the sum the previous superstep's aggregate returned, per
  * vertex, before it is gathered or returned (`score / Σ score`, as an
  * eager normalizing pass would).
  */
object Hits {

  /** (id, hub, auth) after `iterations` full a-then-h rounds, h₀ = 1. */
  def run(graph: Graph, iterations: Int): DataFrame =
    iterate(graph, iterations, divideByDeg = false)

  /** The shared a-then-h loop: plain-sum gathers for HITS, degree-
    * normalized gathers ([[Salsa]]'s random-surfer splitting, the degree
    * riding in each `AdjChunk` row) when `divideByDeg`.
    */
  private[graft] def iterate(graph: Graph, iterations: Int,
                             divideByDeg: Boolean): DataFrame = {
    require(iterations >= 1, "HITS/SALSA needs at least one iteration")
    // superstep i gathers a (odd i, forward) or h (even i, transpose)
    val dirs = Seq(graph.transposeAdjacency, graph.adjacency).map(RankLoop.adjacency)
    val r = RankLoop.run(if (divideByDeg) "salsa" else "hits",
      graph.vertices.toDF("id").withColumn("x", lit(1.0)), 2 * iterations, graph.numEdges) { (i, s) =>
      val in = RankLoop.scaled(col("x"), s.l1)
      RankLoop.Step(dirs(i % 2), if (divideByDeg) in / col("deg") else in, c => c)
    }
    r.state.select(col("id"), RankLoop.scaled(col("x"), r.sums.last.l1).as("hub"),
      RankLoop.scaled(col("prev"), r.sums(r.sums.size - 2).l1).as("auth"))
  }
}
