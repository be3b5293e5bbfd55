package graft.operators

import graft.core.{AdjChunk, CheckpointConfig, IterationContext, SuperstepMetrics}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The one superstep loop of the rank family — PageRank (uniform, warm,
  * resumed), personalized and weighted PageRank, HITS/SALSA, Katz and
  * eigenvector centrality are parameterizations of it.
  *
  * The reference's gather → scatter (`hyperball_impl.rs:775-949`) becomes
  * `source ⋈ state → scatter → groupBy(id) sum`, then a per-vertex update:
  *  - the source (forward or transpose `AdjChunk` adjacency, or a weighted
  *    edge table) stays persisted hash-partitioned by src, hub out-degree
  *    pre-split across chunks, so only the (src, x) state side shuffles;
  *  - the contribution sum partial-aggregates map-side, so hub in-degree
  *    never concentrates raw messages on one reducer.
  *
  * State rows are (id, x, prev, carried…): the value, the previous
  * superstep's value, and member columns (deg, tele, ow) carried as-is.
  * Every superstep runs on [[IterationContext]] with AQE suspended: a lazy
  * [[IterationContext.cut]] of the new state, then ONE aggregate action
  * returning every scalar the next superstep needs ([[Sums]]). A
  * normalization (eigenvector's y/‖y‖₂, HITS's L1) is a per-vertex division
  * of the raw state by the previous superstep's sum inside the next gather
  * weight ([[scaled]]) — the same division an eager normalizing pass made.
  */
private[graft] object RankLoop {

  /** Scalars of one state: L1 change against `prev`, dangling mass, L1 norm,
    * squared L2 norm and the count of changed vertices. The initial state
    * counts as normalized (unit norms); its dangling mass is measured only
    * for members with one.
    */
  final case class Sums(delta: Double, dangling: Double, l1: Double, l2sq: Double, changed: Long)

  /** A gather source: rows keyed by `src` scattering to `dst`; `reads`
    * names the state columns, besides `x`, its weight uses.
    */
  final case class Source(rows: DataFrame, dst: Column, reads: Seq[String] = Nil)

  def adjacency(adj: Dataset[AdjChunk]): Source = Source(adj.toDF(), explode(col("dsts")))

  /** One superstep of a member: gather `weight` over the arcs of `source`,
    * then `update(contrib)` per vertex (`contrib` 0 where no arc arrives).
    */
  final case class Step(source: Source, weight: Column, update: Column => Column)

  final case class Result(state: DataFrame, sums: IndexedSeq[Sums], iterations: Int,
                          converged: Boolean, history: Seq[SuperstepMetrics])

  /** (id, contrib): Σ weight over the source's arcs into each id — the one
    * gather of the rank family.
    */
  def gather(source: Source, state: DataFrame, weight: Column): DataFrame =
    source.rows
      .join(state.select((col("id").as("src") +: col("x") +: source.reads.map(col)): _*), Seq("src"))
      .select(source.dst.as("id"), weight.as("c"))
      .groupBy("id")
      .agg(sum("c").as("contrib"))

  /** `c / by`, or 0 where the norm `by` is 0 (an edgeless direction). */
  def scaled(c: Column, by: Double): Column = if (by > 0) c / lit(by) else lit(0.0)

  /** Iterate `step` from `init` (id, x, carried…) for up to `maxIter`
    * supersteps, stopping once the L1 delta drops below `tol`. `messages`
    * is the arc contributions one gather emits; `dangling` marks the
    * vertices whose mass the members redistribute.
    */
  def run(name: String, init: => DataFrame, maxIter: Int, messages: => Long,
          dangling: Option[Column] = None, tol: Double = 0.0,
          checkpoint: Option[CheckpointConfig] = None, verbose: Boolean = false)
         (step: (Int, Sums) => Step): Result = {
    val ctx = new IterationContext(name, checkpoint, verbose = verbose, suspendAdaptive = true)
    lazy val msgs = messages // counted at the first superstep, AQE suspended
    try {
      val resumed = ctx.resume(SparkSession.active)
      var state = resumed.map(_._1).getOrElse(ctx.init(init))
      var iter = resumed.map(_._2).getOrElse(0)
      val sums = ArrayBuffer(dangling.fold(Sums(0.0, 0.0, 1.0, 1.0, 0L))(aggregate(state, _)))
      var converged = false
      while (!converged && iter < maxIter) {
        iter += 1
        val s = step(iter, sums.last)
        val next = ctx.cut(state.drop("prev").withColumnRenamed("x", "prev")
          .join(gather(s.source, state, s.weight), Seq("id"), "left")
          .withColumn("x", s.update(coalesce(col("contrib"), lit(0.0))))
          .drop("contrib"))
        val sm = aggregate(next, dangling.getOrElse(lit(false)))
        sums += sm
        state = ctx.advance(iter, next, sm.delta, msgs, sm.changed)
        converged = sm.delta < tol
      }
      ctx.close()
      Result(state, sums.toIndexedSeq, iter, converged, ctx.history.toSeq)
    } finally ctx.restoreAqe()
  }

  /** The superstep's one action: the [[Sums]] of `st`. */
  private def aggregate(st: DataFrame, dangling: Column): Sums = {
    val (x, prev) = (col("x"), if (st.columns.contains("prev")) col("prev") else col("x"))
    val r = st.agg(sum(abs(x - prev)), sum(when(dangling, x)), sum(x), sum(x * x),
      sum(when(abs(x - prev) > 0, 1L).otherwise(0L))).head()
    def d(i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    Sums(d(0), d(1), d(2), d(3), if (r.isNullAt(4)) 0L else r.getLong(4))
  }
}
