package graft.operators

import graft.core.{CheckpointConfig, Graph, IterationContext, LocalGraph, SuperstepMetrics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by iterative min-label propagation (hash-to-min)
  * over the symmetrized graph, to fixpoint.
  *
  * Computes the same partition of vertices as the reference's symmetric
  * flood-fill (`/root/reference/src/algo/sccs/symm_seq.rs:16-49`,
  * `symm_par.rs:28-80`); our canonical component label is the minimum
  * vertex id in the component (the reference numbers components in
  * DFS-visit order — a procedural artifact; both sides normalize to
  * min-id labels for comparison, see SURVEY.md §7.3).
  *
  * Each superstep: every vertex proposes its current label to all
  * neighbors (gather over CSR adjacency), takes the min of proposals and
  * its own label. Terminates when no label changes — O(diameter) rounds;
  * web graphs have small effective diameter, so the round count stays low
  * at 100 TB just as at test scale.
  */
object ConnectedComponents {

  final case class Result(
      /** (id: Long, comp: Long) — comp = min vertex id of the component. */
      components: DataFrame,
      iterations: Int,
      numComponents: Long,
      history: Seq[SuperstepMetrics]
  )

  def run(
      graph: Graph,
      maxIter: Int = 200,
      checkpoint: Option[CheckpointConfig] = None,
      verbose: Boolean = false,
      /** Driver-local twin cap, the [[graft.core.LocalGraph]] rule: labels
        * come from one union-find pass ([[unionFindMin]]) instead of
        * O(diameter) supersteps — the near-dup pair graphs of
        * `d_embed_neardup`/`d_neardup_rep` measured ~15 s of superstep
        * overhead for a few hundred edges. Union by min index is union by
        * min id, so the labels are the distributed path's min-id labels.
        */
      localFinishEdges: Long = 0L
  ): Result = {
    val spark = graph.spark
    import spark.implicits._

    if (LocalGraph.fits(graph, localFinishEdges)) {
      val g = LocalGraph(graph)
      val root = unionFindMin(g)
      val comps = g.ids.indices.map(i => (g.ids(i), g.ids(root(i)))).toDF("id", "comp")
      return Result(comps, 0, root.indices.count(i => root(i) == i).toLong, Nil)
    }

    val sym = graph.symmetrize
    val adj = sym.adjacency

    val ctx = new IterationContext("cc", checkpoint, verbose = verbose)
    val resumed = ctx.resume(spark)
    var state = resumed.map(_._1).getOrElse {
      ctx.init(sym.vertices.toDF("id").select($"id", $"id".as("comp")))
    }
    var iter = resumed.map(_._2).getOrElse(0)

    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      iter += 1
      // Gather: each vertex's label flows to its out-neighbors in the
      // symmetric graph (= all neighbors). min is associative → partial
      // aggregation absorbs hub in-degree skew.
      val proposals = adj
        .join(state.select($"id".as("src"), $"comp"), Seq("src"))
        .select(explode($"dsts").as("id"), $"comp")
        .groupBy($"id")
        .agg(min($"comp").as("proposal"))

      val next = state
        .join(proposals, Seq("id"), "left")
        .select(
          $"id",
          least($"comp", coalesce($"proposal", $"comp")).as("comp"),
          ($"proposal" < $"comp").as("didChange"))
      val cutNext = ctx.cut(next)

      val row = cutNext.agg(sum(when($"didChange", 1L).otherwise(0L))).head()
      changed = if (row.isNullAt(0)) 0L else row.getLong(0)

      state = ctx.advance(iter, cutNext.select($"id", $"comp"),
        deltaNorm = changed.toDouble, messages = sym.numEdges, changed = changed)
    }

    ctx.close()
    val comps = state.select($"id", $"comp")
    Result(comps, iter, comps.select($"comp").distinct().count(), ctx.history.toSeq)
  }

  /** Driver union-find over `g`'s arcs: the min index of each vertex's
    * component (= its min id, the distributed path's label). Union by
    * min keeps roots canonical so no relabel pass is needed; path
    * halving keeps `find` near-constant.
    */
  private[operators] def unionFindMin(g: LocalGraph): Array[Int] = {
    val parent = Array.tabulate(g.n)(i => i)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (i <- g.src.indices) {
      val (ru, rv) = (find(g.src(i)), find(g.dst(i)))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    Array.tabulate(g.n)(find)
  }

  final case class IncrementalResult(
      /** (id: Long, comp: Long) — comp = min vertex id, identical
        * contract to [[Result.components]] on the new snapshot.
        */
      components: DataFrame,
      /** Arcs of the contracted repair graph that actually iterated —
        * the honesty number: at low churn this is O(delta), orders of
        * magnitude below the corpus arc count.
        */
      repairEdges: Long,
      /** Supersteps the repair CC took (0 when the repair graph fit the
        * driver union-find budget).
        */
      repairIterations: Int,
      dirtyComponents: Long
  )

  /** Incremental connected components — refresh yesterday's labels after
    * a crawl delta WITHOUT re-iterating the corpus. The recurring-crawl
    * sibling of [[PageRank.runFixed]]'s warm `init` and
    * [[graft.queries.GraphQueries.crawlDelta]]'s churn audit: at 10¹²
    * edges and 0.1% daily churn a from-scratch CC pays O(diameter)
    * supersteps over everything; this pays them only over the changed
    * structure.
    *
    * Deletion-safe by dirty-component contraction:
    *
    *  1. `removed`/`added` = symmetric non-loop arc diffs (two anti-joins
    *     — each snapshot shuffles once on the (src,dst) key).
    *  2. A component is DIRTY iff it lost an arc (deletions can only
    *     split dirty components; additions never dirty anything).
    *  3. Repair graph = added arcs + retained arcs with a dirty endpoint,
    *     with every CLEAN endpoint contracted to its old label. Clean
    *     components collapse to one node each; the corpus never iterates.
    *  4. CC on the repair graph. Because the canonical label IS the min
    *     member id, a contracted node's id is already the min of its
    *     members, so the repair min-label is exactly the final min-label.
    *  5. Compose: dirty/new vertices read the repair label (default: own
    *     id — isolated after deletions); clean vertices keep their old
    *     label unless their contracted node was merged into something
    *     smaller. Vertices whose every arc vanished leave the output,
    *     exactly as a from-scratch run over the new snapshot would drop
    *     them (the one non-loop-arc-free survivor shape — a self-loop-only
    *     singleton — is kept via the new snapshot's endpoint set).
    *
    * Exactness contract (spec-verified by differential): equals
    * [[run]] on the new snapshot for ANY delta, including splits, merges
    * of clean components, vanished vertices, and new vertices. `oldLabels`
    * must be a canonical min-id labeling of `oldEdges` (the output of
    * [[run]] or of a previous `incremental`).
    */
  def incremental(
      oldLabels: DataFrame,
      oldEdges: DataFrame,
      newEdges: DataFrame,
      localFinishEdges: Long = 0L
  ): IncrementalResult = {
    val spark = oldLabels.sparkSession
    import spark.implicits._

    // Bounded driver-local twin of the WHOLE diff→contract→repair→compose
    // pipeline (not just the repair CC): when both snapshots fit the
    // budget, the five dataflow stages below are ~15 small shuffles of
    // pure job latency; the same steps over hash sets produce identical
    // labels (every quantity is an exact integer and the composition is
    // deterministic — pinned by `LocalTwinSpec`'s differential). The
    // honesty metrics (repairEdges, dirtyComponents) are computed from
    // the same definitions.
    if (localFinishEdges > 0 &&
        oldEdges.count() + newEdges.count() <= localFinishEdges) {
      def arr(df: DataFrame): Array[(Long, Long)] = df
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      return incrementalLocal(spark, oldLabels, arr(oldEdges), arr(newEdges))
    }

    // BOTH symmetric non-loop snapshots in ONE exchange: each arc row is
    // tagged with its snapshot side, and one (src, dst) aggregate ORs the
    // sides into a membership bitmask — removed/added/retained are then
    // FILTERS of the persisted result. The r1-r5 shape paid two distinct
    // exchanges (one per snapshot) plus three anti/semi-join exchanges on
    // the same key for exactly this information (guide §2.4: two
    // operations keyed the same way share one exchange).
    def symSide(e: DataFrame, side: Int): DataFrame = {
      val d = e.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      d.union(d.select($"dst".as("src"), $"src".as("dst")))
        .where($"src" =!= $"dst")
        .select($"src", $"dst", lit(side).as("side"))
    }
    val symFlags = symSide(oldEdges, 1).unionByName(symSide(newEdges, 2))
      .groupBy($"src", $"dst")
      .agg((max(when($"side" === 1, 1).otherwise(0))
        + lit(2) * max(when($"side" === 2, 1).otherwise(0))).as("flags"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Every endpoint of the new snapshot, self-loops included — the
    // vertex universe of the from-scratch run we must match.
    val newVerts = newEdges
      .select(col("src").cast("long").as("id"))
      .union(newEdges.select(col("dst").cast("long").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    val removed = symFlags.where($"flags" === 1).select($"src", $"dst")
    val added = symFlags.where($"flags" === 2).select($"src", $"dst")

    // Components that lost an arc. Small at low churn — the join back
    // into oldLabels broadcasts (AQE picks it up from the runtime size).
    val dirtyComps = removed
      .select($"src".as("id")).union(removed.select($"dst".as("id")))
      .distinct()
      .join(oldLabels, Seq("id"))
      .select($"comp").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nDirty = dirtyComps.count()

    // Clean old vertices -> their (still-valid-or-mergeable) old label.
    val cleanMap = oldLabels
      .join(dirtyComps, Seq("comp"), "left_anti")
      .select($"id", $"comp")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Repair arcs: everything added, plus retained arcs touching a
    // non-clean (dirty or new) endpoint.
    val retained = symFlags.where($"flags" === 3).select($"src", $"dst")
    val retainedDirty = retained
      .join(cleanMap.select($"id".as("src")), Seq("src"), "left_anti")
      .unionByName(
        retained.join(cleanMap.select($"id".as("dst")), Seq("dst"), "left_anti")
          .select($"src", $"dst"))
      .distinct()
    val repairRaw = added.unionByName(retainedDirty).distinct()

    // Contract clean endpoints to their component label. A retained
    // clean–clean arc never reaches here, so no self-loop flood; mixed
    // arcs keep the dirty endpoint as-is.
    val repairEdgesDf = repairRaw
      .join(cleanMap.select($"id".as("src"), $"comp".as("scomp")), Seq("src"), "left")
      .join(cleanMap.select($"id".as("dst"), $"comp".as("dcomp")), Seq("dst"), "left")
      .select(
        coalesce($"scomp", $"src").as("src"),
        coalesce($"dcomp", $"dst").as("dst"))
      .where($"src" =!= $"dst")
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nRepair = repairEdgesDf.count()

    val (repairLabels, repairIters) =
      if (nRepair == 0) (spark.emptyDataset[(Long, Long)].toDF("id", "comp"), 0)
      else {
        val r = run(
          Graph.fromEdges(repairEdgesDf),
          localFinishEdges = localFinishEdges)
        (r.components, r.iterations)
      }
    val rep = repairLabels.persist(StorageLevel.MEMORY_AND_DISK)
    rep.count()

    // Dirty/new vertices read their repair label; isolated ones (every
    // non-loop arc gone) keep their own id.
    val dirtyOrNew = newVerts.join(cleanMap, Seq("id"), "left_anti")
    val dirtyFinal = dirtyOrNew
      .join(rep, Seq("id"), "left")
      .select($"id", coalesce($"comp", $"id").as("comp"))
    // Clean vertices still present: old label, unless the contracted node
    // was merged below it. (Presence filter: a clean component never loses
    // an arc, so its members survive — except self-loop-only singletons.)
    val cleanFinal = cleanMap
      .join(newVerts, Seq("id"), "left_semi")
      .join(rep.select($"id".as("comp"), $"comp".as("rcomp")), Seq("comp"), "left")
      .select($"id", coalesce($"rcomp", $"comp").as("comp"))

    val out = dirtyFinal.unionByName(cleanFinal).localCheckpoint(true)
    Seq(symFlags, newVerts, dirtyComps, cleanMap, repairEdgesDf, rep)
      .foreach(_.unpersist())
    IncrementalResult(out, nRepair, repairIters, nDirty)
  }

  /** The driver-local twin of [[incremental]]'s dataflow — same stages,
    * same definitions, hash sets instead of shuffles. Exactness follows
    * from the distributed path's own argument (min-id labels compose
    * through contraction); the differential spec pins the equality.
    */
  private def incrementalLocal(
      spark: org.apache.spark.sql.SparkSession,
      oldLabels: DataFrame,
      oldEdges: Array[(Long, Long)],
      newEdges: Array[(Long, Long)]): IncrementalResult = {
    def sym(es: Array[(Long, Long)]): Set[(Long, Long)] =
      es.iterator.filter(e => e._1 != e._2)
        .flatMap(e => Iterator(e, (e._2, e._1))).toSet
    val symA = sym(oldEdges)
    val symB = sym(newEdges)
    val removed = symA -- symB
    val added = symB -- symA
    val retained = symA & symB
    val newVerts: Set[Long] =
      newEdges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val oldLab: Map[Long, Long] = oldLabels
      .select(col("id").cast("long"), col("comp").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dirtyComps: Set[Long] =
      removed.iterator.flatMap(e => Iterator(e._1, e._2))
        .flatMap(oldLab.get).toSet
    val cleanMap: Map[Long, Long] =
      oldLab.filter { case (_, c) => !dirtyComps.contains(c) }
    // repair arcs: added + retained touching a non-clean endpoint, clean
    // endpoints contracted to their label, self-loops dropped
    val repairRaw = added ++ retained.filter(e =>
      !cleanMap.contains(e._1) || !cleanMap.contains(e._2))
    val repair = repairRaw.iterator
      .map(e => (cleanMap.getOrElse(e._1, e._1), cleanMap.getOrElse(e._2, e._2)))
      .filter(e => e._1 != e._2)
      .toSet
    val rg = LocalGraph(repair.iterator.map(_._1).toArray, repair.iterator.map(_._2).toArray)
    val root = unionFindMin(rg)
    def label(c: Long): Long = { val i = rg.index(c); if (i < 0) c else rg.ids(root(i)) }
    val out = newVerts.toSeq.map(id => (id, label(cleanMap.getOrElse(id, id))))
    IncrementalResult(LocalGraph.frame(spark, out, "id", "comp"),
      repair.size.toLong, 0, dirtyComps.size.toLong)
  }

  /** Component sizes plus size-ranked renumbering, reproducing the
    * reference's `sort_by_size` postprocessing exactly: components
    * renumbered by decreasing size, ties broken by the canonical (min-id)
    * label ascending (`/root/reference/src/algo/sccs/mod.rs:50-88`).
    *
    * Returns (id, comp, size, rank) — rank 0 = largest component.
    * The per-component table is tiny relative to vertices (num components
    * ≪ n for web graphs), so the rank join broadcasts.
    */
  def sortBySize(components: DataFrame): DataFrame = {
    val sizes = components.groupBy("comp").agg(count(lit(1)).as("size"))
    val ranked = sizes.withColumn(
      "rank",
      dense_rank().over(Window.orderBy(desc("size"), asc("comp"))) - 1)
    components.join(broadcast(ranked), Seq("comp"))
      .select(col("id"), col("comp"), col("size"), col("rank"))
  }
}
