package graft.operators

import graft.core.{CheckpointConfig, Graph, SuperstepMetrics}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Power-iteration PageRank with dangling-mass redistribution and L1-delta
  * convergence, on the rank family's one superstep loop ([[RankLoop]]).
  *
  * Semantics (textbook; matches the north_star contract):
  *   r₀(v)   = 1/n
  *   rₜ₊₁(v) = (1−α)/n + α·( Σ_{(u,v)∈E} rₜ(u)/outdeg(u)  +  Dₜ/n )
  * where Dₜ = Σ_{outdeg(u)=0} rₜ(u) is the dangling mass; convergence when
  * Σ_v |rₜ₊₁(v) − rₜ(v)| < tol. Float order: `(1−α)/n + α·D/n` is one
  * driver-side double, then `base + α·contrib` per vertex — the order the
  * hash-verified `g_pagerank5` oracle pins.
  */
object PageRank {

  final case class Result(
      /** (id: Long, rank: Double) */
      ranks: DataFrame,
      iterations: Int,
      converged: Boolean,
      history: Seq[SuperstepMetrics]
  )

  def run(
      graph: Graph,
      alpha: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      checkpoint: Option[CheckpointConfig] = None,
      verbose: Boolean = false,
      /** Warm start: previous ranks (id, rank) to seed the iteration —
        * the recurring-crawl refresh path (yesterday's converged ranks on
        * today's slightly-changed graph converge in a fraction of the
        * iterations; power iteration's fixpoint is init-independent, so
        * the ANSWER is unchanged — only the iteration count drops).
        * Vertices absent from `init` (newly discovered pages) seed at
        * 1/n; the seeded vector is renormalized to total mass 1 (one
        * aggregate), so a stale or partial rank table can never break
        * the Σrank = 1 invariant the dangling-mass algebra assumes.
        */
      init: Option[DataFrame] = None
  ): Result = {
    val spark = graph.spark
    import spark.implicits._

    val n = graph.numVertices
    if (n == 0) {
      return Result(spark.emptyDataset[(Long, Double)].toDF("id", "rank"), 0, converged = true, Nil)
    }
    // (id, deg) persisted once; deg==0 marks dangling vertices.
    val verts = graph.outDegrees.persist(StorageLevel.MEMORY_AND_DISK)
    def seed: DataFrame = init match {
      case Some(r0) =>
        val seeded = verts
          .join(r0.select($"id", $"rank".cast("double").as("r0")), Seq("id"), "left")
          .select($"id", coalesce($"r0", lit(1.0 / n)).as("r"), $"deg")
        val tot = seeded.agg(sum($"r")).head().getDouble(0)
        require(tot > 0, "init ranks must have positive total mass")
        seeded.select($"id", ($"r" / tot).as("x"), $"deg")
      case None => verts.select($"id", lit(1.0 / n).as("x"), $"deg")
    }
    val adj = RankLoop.adjacency(graph.adjacency)
    val r = RankLoop.run("pagerank", seed, maxIter, graph.numEdges, Some($"deg" === 0), tol,
      checkpoint, verbose) { (_, s) => RankLoop.Step(adj, $"x" / $"deg", uniform(alpha, n, s)) }
    verts.unpersist()
    Result(r.state.select($"id", $"x".as("rank")), r.iterations, r.converged, r.history)
  }

  /** The uniform-teleport update `(1−α)/n + α·D/n + α·contrib`. */
  private def uniform(alpha: Double, n: Long, s: RankLoop.Sums)(c: Column): Column =
    lit((1.0 - alpha) / n + alpha * s.dangling / n) + lit(alpha) * c

  /** Fixed-iteration variant (no convergence action fusion needed for the
    * oracle-checked queries; k supersteps, then return).
    */
  def runFixed(graph: Graph, iterations: Int, alpha: Double = 0.85): DataFrame =
    run(graph, alpha, tol = 0.0, maxIter = iterations).ranks

  /** Weighted PageRank (fixed iterations) over an explicit weighted edge
    * table — rows (src, dst, weight > 0) with vertex ids of ANY
    * equality-comparable type (host-level ranking runs directly on
    * hostname strings; no dense-id detour). Contributions split in
    * proportion to edge weight:
    *
    *   rₜ₊₁(v) = (1−α)/n + α·( Σ_{(u,v)} rₜ(u)·w(u,v)/W(u) + Dₜ/n )
    *
    * where W(u) is u's total out-weight and Dₜ the dangling (W=0) mass.
    * Parallel arcs are legal — their weights add. With all weights equal
    * on a simple graph this reduces to [[run]]'s semantics exactly. The
    * gather weight keeps the oracle's `(rank·w)/W` float order.
    *
    * The weighted edge table is repartitioned by src ONCE and persisted as
    * the loop's gather source (the chunked [[Graph]] adjacency carries no
    * weights — this operator owns its layout).
    */
  def runWeightedFixed(
      edges: DataFrame,
      iterations: Int,
      alpha: Double = 0.85
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val e = edges
      .select(col("src"), col("dst"), col("weight").cast("double").as("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outw = e.groupBy($"src".as("id")).agg(sum($"w").as("ow"))
    val verts = e.select($"src".as("id"))
      .union(e.select($"dst".as("id")))
      .distinct()
      .join(outw, Seq("id"), "left")
      .select($"id", coalesce($"ow", lit(0.0)).as("ow"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()
    val src = RankLoop.Source(e, $"dst", Seq("ow"))
    val r = RankLoop.run("pagerank-weighted", verts.select($"id", lit(1.0 / n).as("x"), $"ow"), iterations,
      e.count(), Some($"ow" === 0)) { (_, s) =>
      RankLoop.Step(src, when($"ow" > 0, $"x" * $"w" / $"ow"), uniform(alpha, n, s))
    }
    e.unpersist()
    verts.unpersist()
    r.state.select($"id", $"x".as("rank"))
  }

  /** Personalized PageRank: teleport concentrated on a source set instead
    * of uniform — the seed-relevance primitive (related-page discovery,
    * topic-conditioned authority) on link graphs.
    *
    *   s(v)    = 1/|S| if v ∈ S else 0
    *   r₀(v)   = s(v)
    *   rₜ₊₁(v) = (1−α)·s(v) + α·( Σ_{(u,v)∈E} rₜ(u)/outdeg(u) + Dₜ·s(v) )
    *
    * Dangling mass goes to the TELEPORT vector (strongly-preferential
    * PPR), so Σ_v r(v) = 1 every iteration. Its update keeps its own float
    * order rather than sharing [[run]]'s: `(1−α)/n + α·D/n` vs
    * `((1−α) + α·D)·s` differ in last-ulp.
    */
  def runPersonalized(
      graph: Graph,
      sources: DataFrame,
      iterations: Int,
      alpha: Double = 0.85
  ): DataFrame = {
    val spark = graph.spark
    import spark.implicits._

    val nSrc = sources.select($"id").distinct().count()
    require(nSrc > 0, "personalized PageRank needs a non-empty source set")
    val verts = graph.outDegrees
      .join(sources.select($"id").distinct().withColumn("inS", lit(true)),
        Seq("id"), "left")
      .select($"id", $"deg",
        when($"inS", lit(1.0 / nSrc)).otherwise(lit(0.0)).as("tele"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val adj = RankLoop.adjacency(graph.adjacency)
    val r = RankLoop.run("ppr", verts.select($"id", $"tele".as("x"), $"deg", $"tele"), iterations,
      graph.numEdges, Some($"deg" === 0)) { (_, s) =>
      RankLoop.Step(adj, $"x" / $"deg",
        c => lit(1.0 - alpha) * $"tele" + lit(alpha) * (c + lit(s.dangling) * $"tele"))
    }
    verts.unpersist()
    r.state.select($"id", $"x".as("rank"))
  }
}
