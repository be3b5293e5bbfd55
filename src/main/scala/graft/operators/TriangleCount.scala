package graft.operators

import graft.core.{Graph, LocalGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Triangle counting by degree-ordered edge orientation + wedge closing
  * (the "node-iterator++" / compact-forward algorithm).
  *
  * The graph is first made simple and undirected (direction and self-loops
  * ignored — the standard definition over web link graphs). Each undirected
  * edge {u,v} is oriented u→v iff (deg(u), u) < (deg(v), v); every triangle
  * then has exactly ONE vertex with two outgoing oriented edges, so
  *   triangles = |{ (a,b),(a,c) ∈ E⃗, b<c : (b,c) ∈ E⃗ }|
  * counts each triangle exactly once.
  *
  * Scale: orientation bounds oriented out-degree by O(√m) even for hubs
  * (a vertex only keeps neighbors of larger degree), which bounds the
  * wedge blow-up of the self-join — this is the skew story, replacing the
  * reference's shared-memory adjacency intersection with a shuffle-safe
  * equivalent. The wedge→edge join is a plain shuffle hash join on
  * (b, c); partial aggregation does the counting.
  */
object TriangleCount {

  /** Oriented simple edges (src, dst) with (deg,id)-order src < dst. */
  def orient(graph: Graph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val und = graph.edges
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
    orientCanonical(und)
  }

  /** Orientation of canonical undirected simple edges (u<v by id). */
  private def orientCanonical(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
  }

  /** All triangles as (a, b, c) vertex triples: a = the (deg,id)-minimal
    * apex (the one vertex whose two triangle edges are both outgoing in
    * the orientation), b < c by id. Each triangle appears exactly once.
    *
    * The closing edge {b,c} is checked against the CANONICAL undirected
    * edge set (u<v by id) rather than the oriented set — b,c are not
    * (deg,id)-ordered, so the oriented edge between them may point either
    * way; the canonical form keeps the join an equi-join (no OR
    * condition → stays a shuffle hash join, never a nested loop).
    */
  def triangles(graph: Graph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    val und = graph.edges
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val o = orientCanonical(und).persist(StorageLevel.MEMORY_AND_DISK)
    val e1 = o.select(col("src").as("a"), col("dst").as("b"))
    val e2 = o.select(col("src").as("a"), col("dst").as("c"))
    val wedges = e1.join(e2, Seq("a")).filter(col("b") < col("c"))
    wedges
      .join(und, wedges("b") === und("u") && wedges("c") === und("v"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }

  def total(graph: Graph): Long = triangles(graph).count()

  /** Per-edge triangle support — the number of triangles containing each
    * canonical undirected edge (u < v), 0 for triangle-free edges. This
    * is the k-truss peeling signal: k-truss = iterate (filter support <
    * k−2, recount), and one support pass is the whole per-round cost.
    * Same plan family as [[triangles]] (wedge equi-join + semi-join),
    * plus ONE map-side-combined count shuffle keyed by the edge — each
    * triangle (a, b, c) credits its three edges, so the shuffle carries
    * 3·T rows partial-aggregated, never the wedge stream.
    */
  def edgeSupport(
      graph: Graph,
      /** Driver-local twin cap, the [[graft.core.LocalGraph]] rule.
        * The twin counts |N(u) ∩ N(v)| per canonical pair of the
        * symmetric view ([[supports]]) — the definition the wedge join
        * computes, so the rows are identical; it skips the Σ deg² wedge
        * stream that is the whole cost on the dense derived gate faces.
        */
      localFinishEdges: Long = 0L): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    if (LocalGraph.fits(graph, localFinishEdges)) {
      val g = LocalGraph(graph)
      val (us, vs) = g.canonical
      val sup = supports(g.n, us, vs)
      return LocalGraph.frame(spark,
        us.indices.map(i => (g.ids(us(i)), g.ids(vs(i)), sup(i))), "u", "v", "support")
    }
    val und = graph.edges
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    supportOfCanonical(und)
  }

  /** [[supports]] over canonical id pairs, in their order. */
  private[operators] def localSupports(canon: Array[(Long, Long)]): Array[Long] = {
    val g = LocalGraph(canon.map(_._1), canon.map(_._2))
    supports(g.n, g.src, g.dst)
  }

  /** Driver-local exact triangle support of each canonical pair
    * (us(i) < vs(i), distinct, over indices `0 until n`): the cap-guarded
    * twin of [[supportOfCanonical]]'s wedge-join plan, identical counts
    * by definition (support(u,v) = |N(u) ∩ N(v)|). Dense small graphs
    * (the derived gate faces are near-cliques) use n-bit adjacency rows
    * — popcount(row(u) & row(v)) per pair, n²/64-word AND streams in
    * place of the Σ deg² wedge shuffle; larger sparse graphs merge the
    * sorted neighbour lists (Σ deg(u)+deg(v) reads per pair).
    */
  private[operators] def supports(n: Int, us: Array[Int], vs: Array[Int]): Array[Long] =
    if (n.toLong * ((n + 63) / 64) <= (1L << 23)) { // bitset rows ≤ 64 MB total
      val words = (n + 63) >>> 6
      val adj = new Array[Long](n * words)
      for (i <- us.indices) {
        adj(us(i) * words + (vs(i) >>> 6)) |= 1L << (vs(i) & 63)
        adj(vs(i) * words + (us(i) >>> 6)) |= 1L << (us(i) & 63)
      }
      Array.tabulate(us.length) { i =>
        val (ou, ov) = (us(i) * words, vs(i) * words)
        var s = 0L
        for (w <- 0 until words) s += java.lang.Long.bitCount(adj(ou + w) & adj(ov + w))
        s
      }
    } else {
      val g = LocalGraph.csr(n, us ++ vs, vs ++ us, loops = false)
      Array.tabulate(us.length) { i =>
        var a = g.off(us(i)); val ae = g.off(us(i) + 1)
        var b = g.off(vs(i)); val be = g.off(vs(i) + 1)
        var s = 0L
        while (a < ae && b < be) {
          val (x, y) = (g.nbr(a), g.nbr(b))
          if (x <= y) a += 1
          if (y <= x) b += 1
          if (x == y) s += 1
        }
        s
      }
    }

  /** [[edgeSupport]] over an ALREADY-CANONICAL (u < v, simple, loop-free)
    * undirected edge table — the per-round primitive of the [[KTruss]]
    * peel, which hands in its (materialized, checkpoint-cut) surviving
    * edge state each round. `und` is referenced three times (orientation,
    * closing-edge semi-join, zero-support left join): callers must pass a
    * persisted/materialized frame or pay the scan thrice.
    */
  def supportOfCanonical(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val o = orientCanonical(und)
    val e1 = o.select(col("src").as("a"), col("dst").as("b"))
    val e2 = o.select(col("src").as("a"), col("dst").as("c"))
    val wedges = e1.join(e2, Seq("a")).filter(col("b") < col("c"))
    val tri = wedges
      .join(und, wedges("b") === und("u") && wedges("c") === und("v"), "left_semi")
    // a is the (deg,id)-minimal apex, not id-minimal — canonicalize the
    // two apex edges; (b, c) is already canonical (b < c by construction).
    // explode, NOT a 3-way union of selects over `tri`: union branches are
    // independent subtrees, so the wedge join + closing semi-join would be
    // recomputed three times (measured: the dominant stage of the dense
    // gate graph's support pass ran 3x, ~16 s each at sf0.1).
    val sup = tri.select(explode(array(
        struct(least($"a", $"b").as("u"), greatest($"a", $"b").as("v")),
        struct(least($"a", $"c").as("u"), greatest($"a", $"c").as("v")),
        struct($"b".as("u"), $"c".as("v")))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
      .groupBy($"u", $"v").agg(count(lit(1)).as("support"))
    und.join(sup, Seq("u", "v"), "left")
      .select($"u", $"v", coalesce($"support", lit(0L)).as("support"))
  }

  /** DOULION sampled triangle estimate (Tsourakakis et al., KDD 2009):
    * keep each canonical undirected edge with probability p = 1/invP,
    * count triangles EXACTLY on the sampled subgraph, scale by invP³ —
    * an unbiased estimator whose variance vanishes on large graphs. At
    * 100 TB this is the knob that shrinks the wedge self-join (the whole
    * cost of exact counting) by p²: sampling runs map-side in the scan,
    * everything downstream sees a p-fraction graph.
    *
    * Sampling is a deterministic portable hash of the canonical edge
    * (md5-prefix — the same family the dedup operators use), NOT an RNG:
    * retries, partitioning, and the DuckDB oracle all see the identical
    * sample, so the gate compares exact numbers.
    *
    * Returns one row: (kept_edges, tri_sample, tri_est = tri_sample·invP³).
    */
  def doulion(graph: Graph, invP: Int = 4, salt: String = "doulion"): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    require(invP >= 1, s"invP must be >= 1, got $invP")
    val kept = graph.edges
      .filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
      .filter(
        graft.text.TextOps.portableHash60(
          concat($"u".cast("string"), lit(":"), $"v".cast("string"), lit(s":$salt"))) % invP === 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val o = orientCanonical(kept)
    val e1 = o.select(col("src").as("a"), col("dst").as("b"))
    val e2 = o.select(col("src").as("a"), col("dst").as("c"))
    val wedges = e1.join(e2, Seq("a")).filter(col("b") < col("c"))
    val tri = wedges
      .join(kept, wedges("b") === kept("u") && wedges("c") === kept("v"), "left_semi")
    val scale = invP.toLong * invP * invP
    tri.agg(count(lit(1)).as("tri_sample"))
      .crossJoin(kept.agg(count(lit(1)).as("kept_edges")))
      .select($"kept_edges", $"tri_sample", ($"tri_sample" * lit(scale)).as("tri_est"))
  }

  /** (id, triangles) for every vertex (0 for triangle-free vertices). */
  def perVertex(graph: Graph): DataFrame = {
    val spark = graph.spark
    import spark.implicits._
    // explode, not union-of-selects: three union branches would recompute
    // the whole triangle pipeline (wedge join + semi-join) once each —
    // see [[supportOfCanonical]].
    val tri = triangles(graph)
    val counts = tri.select(explode(array($"a", $"b", $"c")).as("id"))
      .groupBy($"id").agg(count(lit(1)).as("triangles"))
    graph.vertices.toDF("id")
      .join(counts, Seq("id"), "left")
      .select($"id", coalesce($"triangles", lit(0L)).as("triangles"))
  }
}
