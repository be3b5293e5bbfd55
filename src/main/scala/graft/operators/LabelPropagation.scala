package graft.operators

import graft.core.{CheckpointConfig, Graph, IterationContext, LocalGraph, SuperstepMetrics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) over the
  * symmetrized graph.
  *
  * Semantics (deterministic — required for oracle/golden parity):
  *  - every vertex starts with its own id as label;
  *  - each superstep, a vertex adopts the most frequent label among its
  *    neighbors' current labels (neighbor multiset, self excluded);
  *    ties broken by the SMALLEST label; isolated vertices keep theirs;
  *  - fixed iteration cap (synchronous LP can 2-cycle on bipartite
  *    structures, so the cap — not only stability — terminates).
  *
  * The reference family's LLP is referenced from the webgraph crate at
  * `/root/reference/src/algo/sccs/mod.rs:43`; this is the standard
  * synchronous variant on the same superstep skeleton as CC/PageRank.
  *
  * Scale: frequency counting is a two-level aggregation —
  * groupBy(dst,label).count is partially aggregated map-side, then the
  * per-vertex argmax is a min_by over (−count, label), also associative.
  * No unbounded per-vertex state materializes anywhere.
  */
object LabelPropagation {

  final case class Result(
      /** (id: Long, label: Long) */
      labels: DataFrame,
      iterations: Int,
      history: Seq[SuperstepMetrics]
  )

  def run(
      graph: Graph,
      maxIter: Int = 10,
      checkpoint: Option[CheckpointConfig] = None,
      verbose: Boolean = false,
      /** Driver-local twin cap, the [[graft.core.LocalGraph]] rule; not
        * taken when checkpointing is requested. Vote counts are exact
        * integers with a total (count desc, label asc) order, so the
        * twin's rounds on the symmetric view are bit-identical to the
        * distributed ones (pinned by `LocalTwinSpec`).
        */
      localFinishEdges: Long = 0L
  ): Result = {
    val spark = graph.spark
    import spark.implicits._

    if (checkpoint.isEmpty && LocalGraph.fits(graph, localFinishEdges)) {
      val g = LocalGraph(graph)
      val sym = g.symmetric
      var label = g.ids.clone()
      val history = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetrics]
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        iter += 1
        changed = 0L
        val next = label.clone()
        for (i <- 0 until g.n if sym.degree(i) > 0) {
          // sorted neighbour labels: the first longest run is the most
          // frequent label, ties to the smallest
          val votes = (sym.off(i) until sym.off(i + 1)).map(p => label(sym.nbr(p))).sorted
          var best = votes(0); var bestCnt = 0; var p = 0
          while (p < votes.length) {
            var q = p
            while (q < votes.length && votes(q) == votes(p)) q += 1
            if (q - p > bestCnt) { best = votes(p); bestCnt = q - p }
            p = q
          }
          if (best != label(i)) { next(i) = best; changed += 1 }
        }
        label = next
        history += SuperstepMetrics(iter, changed.toDouble, sym.nbr.length.toLong,
          changed, 1.0, 0L)
      }
      val labels = LocalGraph.frame(spark, g.ids.indices.map(i => (g.ids(i), label(i))),
        "id", "label")
      return Result(labels, iter, history.toSeq)
    }

    val sym = graph.symmetrize
    // Exclude self-loops: a vertex should not vote for its own label.
    val adj = graft.core.Graph
      .fromEdges(sym.edges.filter($"src" =!= $"dst").toDF(), sym.chunkSize)
      .adjacency

    val ctx = new IterationContext("lp", checkpoint, verbose = verbose, suspendAdaptive = true)
    try {
      val resumed = ctx.resume(spark)
      var state = resumed.map(_._1).getOrElse {
        ctx.init(sym.vertices.toDF("id").select($"id", $"id".as("label")))
      }
      var iter = resumed.map(_._2).getOrElse(0)

      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        iter += 1
        val votes = adj
          .join(state.select($"id".as("src"), $"label"), Seq("src"))
          .select(explode($"dsts").as("id"), $"label")
          .groupBy($"id", $"label")
          .agg(count(lit(1)).as("cnt"))
        // argmax by count, ties -> min label: min_by over the lexicographic
        // struct (−cnt, label) — associative, codegen-friendly, no window.
        val winner = votes
          .groupBy($"id")
          .agg(min_by($"label", struct((-$"cnt").as("negCnt"), $"label")).as("newLabel"))

        val next = state
          .join(winner, Seq("id"), "left")
          .select(
            $"id",
            coalesce($"newLabel", $"label").as("label"),
            (coalesce($"newLabel", $"label") =!= $"label").as("didChange"))
        val cutNext = ctx.cut(next)

        val row = cutNext.agg(sum(when($"didChange", 1L).otherwise(0L))).head()
        changed = if (row.isNullAt(0)) 0L else row.getLong(0)

        state = ctx.advance(iter, cutNext.select($"id", $"label"),
          deltaNorm = changed.toDouble, messages = sym.numEdges, changed = changed)
      }

      ctx.close()
      Result(state.select($"id", $"label"), iter, ctx.history.toSeq)
    } finally ctx.restoreAqe()
  }
}
