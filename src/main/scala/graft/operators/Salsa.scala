package graft.operators

import graft.core.Graph
import org.apache.spark.sql.DataFrame

/** SALSA (Lempel & Moran, "The stochastic approach for link-structure
  * analysis", TOIS 2001) — the random-walk variant of HITS: instead of
  * summing neighbor scores raw, each vertex SPLITS its score equally
  * among its out- (resp. in-) neighbors, i.e. one step of the alternating
  * bipartite random walk:
  *
  *   a_k(v) = Σ_{u→v} h_{k-1}(u) / outdeg(u)
  *   h_k(u) = Σ_{u→v} a_k(v)   / indeg(v)
  *
  * Degree normalization makes SALSA robust against the tightly-knit-
  * community (TKC) effect that skews HITS — the classic web-search reason
  * to run both. Each half-step is additionally L1-normalized (mass lost
  * at dangling vertices — no out-edges forward, no in-edges backward — is
  * rescaled away), so score vectors stay comparable across iterations and
  * cross-engine; an edgeless direction normalizes to all-zeros. Runs the
  * [[Hits]] loop; the gather weight is `(score / Σ score) / deg`, the
  * normalization first.
  */
object Salsa {

  /** (id, hub, auth) after `iterations` full a-then-h rounds, h₀ = 1. */
  def run(graph: Graph, iterations: Int): DataFrame =
    Hits.iterate(graph, iterations, divideByDeg = true)
}
