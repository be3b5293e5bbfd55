package graft.core

import org.apache.spark.sql.DataFrame

import scala.util.control.NonFatal

/** Explicit release of superseded localCheckpoint state.
  *
  * `localCheckpoint` RDD blocks are otherwise only freed by the periodic-GC
  * context cleaner (default every 30 min); on long iterative runs leaked
  * blocks evict the cached adjacency, which then silently re-builds every
  * superstep (measured 10×+ slowdowns). Every driver loop that replaces a
  * checkpointed state must release the superseded one through here —
  * [[IterationContext.advance]] does it for the superstep engine; the
  * ad-hoc loops (BFS, SCC, topo peeling, sum-sweep) call it directly.
  */
object Lineage {

  /** Unpersist the checkpoint blocks behind any LogicalRDD scan in `df`'s
    * plan. Safe on non-checkpointed frames (no-op).
    */
  def release(df: DataFrame): Unit = {
    try {
      df.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.foreach(_.unpersist(blocking = false))
    } catch { case NonFatal(_) => () }
  }
}
