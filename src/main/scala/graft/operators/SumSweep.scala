package graft.operators

import graft.core.{Graph, LocalGraph, Lineage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ExactSumSweep (Borassi et al. 2015) — exact eccentricities / radius /
  * diameter with FEW BFS instead of all-pairs distances.
  *
  * Re-creates the reference's adaptive computer
  * (`/root/reference/src/algo/exact_sum_sweep/computer.rs`):
  *
  *  - per-vertex forward/backward eccentricity lower & upper bounds,
  *    initialized (0, n); a vertex is COMPLETE when low == high
  *    (`computer.rs:218-223, 250-258`);
  *  - each sweep = one BFS: a forward BFS from s fixes eccF(s) exactly
  *    and raises the BACKWARD lower bound of every visited v to d(s,v)
  *    (`computer.rs:655-714`); backward sweeps mirror it on the transpose
  *    (`computer.rs:576-653`);
  *  - the `all_cc_upper_bound` step: per-SCC pivot BFS confined to the
  *    SCC + a DP over the condensation DAG (one best "bridge" arc per
  *    child, picked by max indeg(start)+outdeg(end) — `scc_graph.rs:
  *    34-43,114-226`) refines per-node UPPER bounds
  *    (`computer.rs:735-936`);
  *  - step choice is adaptive: 5 step types scored by recent
  *    missing-node reduction (`computer.rs:337-414`), convergence by
  *    per-output-level missing-node accounting (`computer.rs:943-1014`).
  *
  * Spark-native re-expression: the bound book-keeping is a vertex-state
  * Dataset (id, comp, radial, fLow, fHigh, bLow, bHigh, fTot, bTot); a
  * sweep's bound update is one join of the state with the BFS distance
  * Dataset; the condensation DP runs on the driver over the (small)
  * component graph, exactly as the reference holds it in memory.
  * Deliberate deviations, both documented here: (a) sweeps run in
  * BATCHES of `batch` sources through one source-tagged multi-source BFS
  * ([[Bfs.tagged]]) — bound updates are monotone max/min so batching is
  * exact, and it amortizes the driver-loop latency Spark pays per level;
  * (b) radius/diameter candidates are re-derived each round from the
  * closed-vertex aggregate (any complete vertex's ecc bounds them),
  * which subsumes the reference's per-sweep incremental updates and is
  * strictly tighter, never looser.
  */
object SumSweep {

  sealed trait Output
  object Output {
    /** Radius only. */ case object Radius extends Output
    /** Diameter only. */ case object Diameter extends Output
    case object RadiusDiameter extends Output
    /** All forward eccentricities. */ case object AllForward extends Output
    /** All forward + backward eccentricities. */ case object All extends Output
  }

  final case class Result(
      /** (id, ecc): exact forward eccentricities (complete when output is
        * AllForward/All; for the scalar outputs only the certified rows
        * are meaningful).
        */
      ecc: DataFrame,
      radius: Int,
      radiusVertex: Long,
      diameter: Int,
      diameterVertex: Long,
      /** BFS-equivalents performed (allCC counts 3, like the reference). */
      iterations: Int,
      /** (id) radial set used for the radius. */
      radial: DataFrame,
      /** How many times the allCC condensation step ran (0 when the
        * `maxComponents` guard disabled it — observable so tests can pin
        * the degraded path).
        */
      allCcSteps: Int = 0,
      /** BFS count at which the radius was certified (−1 if the level
        * didn't require it) — the reference's `radius_iterations`
        * (`dir_outputs.rs` / `undir_outputs.rs` fields).
        */
      radiusIterations: Int = -1,
      /** BFS count at which the diameter was certified (−1 as above). */
      diameterIterations: Int = -1)

  // ------------------------------------------------------------------

  /** Normalize an (id, comp) assignment to MIN-MEMBER labels and derive
    * per-component sizes. Shared by both computers — the min-label
    * contract is load-bearing: the radial derivations seed a BFS at the
    * largest component's LABEL, which must therefore be a member vertex
    * id (an ordinal labeling would silently seed an unrelated vertex).
    * Both returned frames are persisted; the CALLER owns both and must
    * unpersist them before returning.
    */
  private def normalizedComponents(compsRaw: DataFrame): (DataFrame, DataFrame) = {
    val spark = compsRaw.sparkSession
    import spark.implicits._
    val comps = compsRaw
      .join(compsRaw.groupBy($"comp").agg(min($"id").as("mn")), Seq("comp"))
      .select($"id", $"mn".as("comp"))
      .persist()
    comps.count()
    val sizesDf = comps.groupBy($"comp").agg(count(lit(1)).as("sz")).persist()
    sizesDf.count()
    (comps, sizesDf)
  }

  /** All-pairs BFS work bound for the local-exact path: n·m edge
    * traversals must stay a few seconds across the cores — the edge cap
    * alone would admit sparse million-vertex graphs whose n·m is 10¹²
    * (the cnr-2000 shape), which MUST stay on the sweep computer.
    */
  private val LocalWorkBudget = 2e10

  private def localFitsBudget(graph: Graph, localFinishEdges: Long): Boolean =
    LocalGraph.fits(graph, localFinishEdges) &&
      graph.numVertices.toDouble * graph.numEdges.toDouble <= LocalWorkBudget

  /** The bounded local-exact computer behind `localFinishEdges`:
    * eccentricities by one BFS per source, the sources fanned out as a
    * SINGLE Spark job over a broadcast forward CSR (each task runs whole
    * sequential visits — per-visit-LEVEL job latency, the small-graph
    * wall of the sweep computer, disappears). The radial set replays the
    * distributed derivation: backward reach of the largest component's
    * min-member label (== the largest CC itself when symmetric).
    * Eccentricities are unique, so output equality with the sweep
    * computer is definitional; the `SumSweepSpec` differential pins it.
    */
  private def computeLocalExact(
      graph: Graph,
      components: Option[DataFrame],
      radialVertices: Option[DataFrame],
      undirected: Boolean): Result = {
    val spark = graph.spark
    import spark.implicits._
    val g = LocalGraph(graph)
    require(g.n > 0, "ExactSumSweep on an empty graph (reference panics too)")
    val (bcIds, bcFwd) = (spark.sparkContext.broadcast(g.ids), spark.sparkContext.broadcast(g.forward))
    val parts = math.max(1, math.min(g.n.toLong,
      spark.sparkContext.defaultParallelism.toLong * 4L)).toInt
    val eccPairs: Array[(Long, Int)] = spark.range(0, g.n.toLong, 1, parts)
      .mapPartitions { it =>
        val (fwd, vids) = (bcFwd.value, bcIds.value)
        val (dist, queue) = (new Array[Int](vids.length), new Array[Int](vids.length))
        it.map(s => (vids(s.toInt), LocalGraph.bfs(fwd, s.toInt, dist, queue)))
      }.collect()
    val eccDf = eccPairs.toSeq.toDF("id", "ecc").localCheckpoint(true)

    // Largest component by (size desc, min member asc), over the provided
    // labels or a driver twin of each computer's distributed default
    // (Tarjan for the directed path, union-find for the symmetric one).
    val labelled: Seq[(Long, Long)] = components match {
      case Some(df) =>
        df.select(col("id").cast("long"), col("comp").cast("long")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap.toSeq
      case None =>
        val comp = if (undirected) ConnectedComponents.unionFindMin(g) else Scc.tarjan(g)._1
        g.ids.indices.map(i => (g.ids(i), comp(i).toLong))
    }
    val largest = labelled.groupBy(_._2).values.map(m => (-m.size, m.map(_._1).min)).min._2

    val radialIds: Array[Long] = radialVertices match {
      case Some(df) => df.select(col("id").cast("long")).collect().map(_.getLong(0))
      case None =>
        val dist = new Array[Int](g.n)
        LocalGraph.bfs(g.transpose, g.index(largest), dist, new Array[Int](g.n))
        g.ids.indices.collect { case i if dist(i) >= 0 => g.ids(i) }.toArray
    }
    val radialDf = radialIds.toSeq.toDF("id").localCheckpoint(true)

    // Canonical extremal picks (the Eccentricity.fromEcc tie-breaks:
    // value first, then smallest id; the sweep computer's own witnesses
    // are first-certified, documented as non-canonical).
    val (diamV, diam) = eccPairs.minBy { case (id, e) => (-e, id) }
    val radialSet = radialIds.toSet
    val radialEcc = eccPairs.filter(p => radialSet(p._1))
    val (radV, rad) =
      if (radialEcc.isEmpty) (-1L, Int.MaxValue)
      else radialEcc.minBy { case (id, e) => (e, id) }
    Result(eccDf, rad, radV, diam, diamV, iterations = g.n, radial = radialDf)
  }

  def compute(
      graph: Graph,
      output: Output = Output.All,
      /** Sweep sources per multi-source BFS round. ≤ 0 ⇒ auto-size from
        * `stateBudgetRows`: one round's distance state is ≤ batch·reach
        * rows, so the budget bounds it the way the reference's per-sweep
        * memory is bounded by one BFS — the difference from the O(n²)
        * all-pairs closure is exactly this cap. Small graphs get big
        * batches (driver-latency-bound); web-scale graphs get small ones
        * (BFS-cost-bound).
        */
      batch: Int = 0,
      stateBudgetRows: Long = 50L * 1000 * 1000,
      /** Precomputed (id, comp) SCCs (e.g. shared with other queries);
        * computed here when absent.
        */
      components: Option[DataFrame] = None,
      /** Explicit radial set (id rows) — the reference's
        * `radial_vertices` parameter (`computer.rs:140-149`); when None
        * the set is computed as the vertices reaching the largest SCC.
        * An EMPTY set leaves the radius unknown: Int.MaxValue, the
        * reference's usize::MAX semantics
        * (`test_exact_sum_sweep.rs:253-281`).
        */
      radialVertices: Option[DataFrame] = None,
      /** Driver-memory guard for the allCC condensation step: that step
        * collects one row per SCC and per condensation edge to the driver
        * (reference parity — `scc_graph.rs:25-31` holds the same state in
        * memory), which is fine at cnr-2000 scale (~10⁵ SCCs) but an
        * unbounded OOM on a 10⁹-page crawl (10⁷–10⁸ SCCs). Above the
        * threshold the allCC step is DISABLED and the adaptive loop runs
        * on the four sweep step types alone — still exact and still
        * convergent (every sweep closes at least its own sources), just
        * without the condensation shortcut. Same policy as
        * [[Reachability.counts]]'s `maxComponents`.
        */
      maxComponents: Long = 1000000,
      verbose: Boolean = false,
      /** Driver-local twin cap, the [[graft.core.LocalGraph]] rule, also
        * bounded by n·m BFS work (`LocalWorkBudget`): eccentricities come
        * from per-source BFS over a BROADCAST CSR — one Spark job whose
        * tasks each run whole sequential visits — instead of the adaptive
        * sweep loop, whose per-BFS-level job latency dominates on small
        * graphs. Eccentricities are unique and the radial set reproduces
        * the same backward-reach-of-largest-SCC derivation, so the output
        * is identical by definition.
        */
      localFinishEdges: Long = 0L): Result = {
    val spark = graph.spark
    import spark.implicits._

    if (localFitsBudget(graph, localFinishEdges))
      return computeLocalExact(graph, components, radialVertices, undirected = false)

    val n = graph.numVertices
    require(n > 0, "ExactSumSweep on an empty graph (reference panics too)")
    val nInt = math.min(n, Int.MaxValue.toLong).toInt
    val effBatch =
      if (batch > 0) batch
      else math.max(4L, math.min(1024L, stateBudgetRows / n)).toInt
    val adj = graph.adjacency
    val tAdj = graph.transposeAdjacency
    adj.count(); tAdj.count()

    // --- SCCs, radial set, degrees -----------------------------------
    // Normalize the labeling to MIN MEMBER ids: the radial derivation
    // below seeds a BFS at the largest-SCC LABEL, and the `components`
    // contract is any (id, comp) assignment — an ordinal labeling (e.g.
    // tarjanLocal's 0..k-1 pop order) would silently seed an unrelated
    // vertex. For Scc.run output this is an already-canonical no-op.
    // `comps`/`sizesDf` are OURS (derived by the normalizing join even
    // when the caller supplied components): persisted for the run, ALWAYS
    // unpersisted before returning — repeated programmatic calls must not
    // accumulate session-lifetime pinned frames (ADVICE r2).
    val (comps, sizesDf) = normalizedComponents(components.getOrElse(Scc.run(graph)))
    val numComponents = sizesDf.count()
    // Above the guard the condensation step (driver-side one-row-per-SCC
    // state) is disabled; the four sweep steps still certify every output.
    val allCcEnabled = numComponents <= maxComponents
    if (verbose && !allCcEnabled)
      println(s"[graft/sumsweep] $numComponents SCCs > maxComponents=$maxComponents: allCC step disabled")
    // Largest SCC by (size desc, label asc); its label IS its min member
    // id, so the label doubles as the radial-BFS seed (computer.rs:495-544).
    // Locally derived radial sets ride on Bfs.tagged's eager localCheckpoint
    // (blocks reclaimed by periodic GC like all superstep state) — NOT a
    // persist: the frame outlives this call inside Result, and a persist
    // here would pin it for the session (cache ownership stays with the
    // caller for caller-supplied radialVertices, which we don't touch).
    val radialDf = radialVertices.getOrElse {
      val largest = sizesDf.orderBy($"sz".desc, $"comp".asc).limit(1).head().getLong(0)
      Bfs.tagged(tAdj, Seq((0L, largest)).toDF("tag", "id"))
        .select($"id")
    }

    val maxOutVertex = graph.outDegrees
      .orderBy($"deg".desc, $"id".asc).limit(1).head().getLong(0)

    // --- bounds state -------------------------------------------------
    var b = graph.vertices.toDF("id")
      .join(comps, Seq("id"))
      .join(radialDf.select($"id", lit(true).as("radial")), Seq("id"), "left")
      .select($"id", $"comp", coalesce($"radial", lit(false)).as("radial"),
        lit(0).as("fLow"), lit(nInt).as("fHigh"),
        lit(0).as("bLow"), lit(nInt).as("bHigh"),
        lit(0L).as("fTot"), lit(0L).as("bTot"))
      .localCheckpoint(true)

    var diameterLow = 0
    var diameterVertex = -1L
    var radiusHigh = Int.MaxValue
    var radiusVertex = -1L
    var iterations = 0
    var allCcSteps = 0

    def incF = $"fLow" =!= $"fHigh"
    def incB = $"bLow" =!= $"bHigh"

    var lastBatchSize = 1

    /** One batched sweep; `forward` chooses graph vs transpose. */
    def sweep(forward: Boolean, sources: Seq[Long]): Unit = {
      lastBatchSize = math.max(sources.distinct.length, 1)
      if (verbose) println(s"[graft/sumsweep] sweep fwd=$forward sources=${sources.distinct.length}")
      if (sources.isEmpty) return
      val srcDf = sources.distinct.map(s => (s, s)).toDF("tag", "id")
      val dists = Bfs.tagged(if (forward) adj else tAdj, srcDf)
      val perId = dists.groupBy($"id")
        .agg(max($"dist").as("maxd"), sum($"dist").as("sumd"))
      val srcEcc = dists.groupBy($"tag").agg(max($"dist").as("ecc"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val eccDf = srcEcc.toSeq.toDF("id", "srcEcc")
      val fixed = Seq($"id", $"comp", $"radial")
      val next = b
        .join(perId, Seq("id"), "left")
        .join(eccDf, Seq("id"), "left")
        .select(fixed ++
          (if (forward)
            // source: ecc exact; others: bLow/bTot updated through perId
            Seq(
              coalesce($"srcEcc", $"fLow").as("fLow"),
              coalesce($"srcEcc", $"fHigh").as("fHigh"),
              when(incB && coalesce($"maxd", lit(-1)) > $"bLow", $"maxd")
                .otherwise($"bLow").as("bLow"),
              $"bHigh",
              $"fTot",
              ($"bTot" + coalesce($"sumd", lit(0L))).as("bTot"))
          else
            Seq(
              when(incF && coalesce($"maxd", lit(-1)) > $"fLow", $"maxd")
                .otherwise($"fLow").as("fLow"),
              $"fHigh",
              coalesce($"srcEcc", $"bLow").as("bLow"),
              coalesce($"srcEcc", $"bHigh").as("bHigh"),
              ($"fTot" + coalesce($"sumd", lit(0L))).as("fTot"),
              $"bTot")): _*)
        .localCheckpoint(true)
      // (fixed prefix keeps the column order stable across both branches)
      Lineage.release(b)
      Lineage.release(dists)
      b = next
      iterations += sources.distinct.length
    }

    /** Top-k selection for the reference's argmax/argmin_filtered:
      * (value, tie) ordering, smallest id on full ties.
      */
    def pick(filter: org.apache.spark.sql.Column, order: Seq[org.apache.spark.sql.Column]): Seq[Long] =
      b.filter(filter).orderBy(order :+ $"id".asc: _*).limit(effBatch)
        .select($"id").collect().map(_.getLong(0)).toSeq

    // --- the all_cc_upper_bound step ---------------------------------
    def allCcUpperBound(): Unit = {
      // find_best_pivot (computer.rs:431-486): per SCC, minimize
      // bLow + fLow (+n per already-complete direction), tie min
      // fTot+bTot, tie min id.
      val key = ($"bLow" + $"fLow" +
        when(incF, 0).otherwise(nInt) + when(incB, 0).otherwise(nInt)).cast("long")
      val staged = b.select($"comp", $"id",
        key.as("pKey"), ($"fTot" + $"bTot").as("pTot"))
      val pivotDf = staged.groupBy($"comp")
        .agg(expr("min_by(id, struct(pKey, pTot, id))").as("pivot"))
        .persist()
      pivotDf.count()

      val confine = comps.select($"comp".as("tag"), $"id")
      val seeds = pivotDf.select($"comp".as("tag"), $"pivot".as("id"))
      val distF = Bfs.tagged(adj, seeds, Some(confine))
        .select($"tag".as("comp"), $"id", $"dist".as("dF")).persist()
      val distB = Bfs.tagged(tAdj, seeds, Some(confine))
        .select($"tag".as("comp"), $"id", $"dist".as("dB")).persist()
      distF.count(); distB.count()

      // Condensation bridges: best arc per (c1,c2) by
      // indeg(start)+outdeg(end) (scc_graph.rs:34-43), then its
      // dF(start) / dB(end) for the DP.
      val cDf = comps
      val bridgeCand = graph.edges.toDF()
        .join(cDf.select($"id".as("src"), $"comp".as("c1")), Seq("src"))
        .join(cDf.select($"id".as("dst"), $"comp".as("c2")), Seq("dst"))
        .filter($"c1" =!= $"c2")
        .join(graph.inDegrees.select($"id".as("src"), $"deg".as("inDeg")), Seq("src"))
        .join(graph.outDegrees.select($"id".as("dst"), $"deg".as("outDeg")), Seq("dst"))
        .select($"c1", $"c2", $"src", $"dst", ($"inDeg" + $"outDeg").as("arcValue"))
      val bridges = bridgeCand
        .groupBy($"c1", $"c2")
        .agg(expr("max_by(struct(src, dst), struct(arcValue, src, dst))").as("bridge"))
        .select($"c1", $"c2", $"bridge.src".as("start"), $"bridge.dst".as("bEnd"))
      val bridgeRows = bridges
        .join(distF.select($"id".as("start"), $"dF"), Seq("start"))
        .join(distB.select($"id".as("bEnd"), $"dB"), Seq("bEnd"))
        .select($"c1", $"c2", $"dF", $"dB")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))

      // Driver-side per-pivot data: initial within-SCC eccs + the
      // pivots' current upper bounds for clamping.
      val eccF0 = distF.groupBy($"comp").agg(max($"dF").as("e"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val eccB0 = distB.groupBy($"comp").agg(max($"dB").as("e"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val pivotBounds = pivotDf.join(b, pivotDf("pivot") === b("id"))
        .select(pivotDf("comp"), $"fHigh", $"bHigh")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap

      val allComps = pivotBounds.keys.toSeq
      val children = bridgeRows.groupBy(_._1)
      // Kahn topological order of the condensation (sources first).
      val indeg = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
      val succ = scala.collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
      bridgeRows.map(r => (r._1, r._2)).distinct.foreach { case (a, c) =>
        succ(a) = c :: succ(a); indeg(c) += 1
      }
      val queue = scala.collection.mutable.Queue(
        allComps.filter(indeg(_) == 0).sorted: _*)
      val topo = scala.collection.mutable.ArrayBuffer[Long]()
      while (queue.nonEmpty) {
        val c = queue.dequeue(); topo += c
        succ(c).foreach { d => indeg(d) -= 1; if (indeg(d) == 0) queue += d }
      }

      // Forward DP children-first (computer.rs:835-853): clamp at the
      // pivot's current upper bound (break-equivalent, see scaladoc).
      val eccF = scala.collection.mutable.Map(eccF0.toSeq: _*).withDefaultValue(0)
      val eccB = scala.collection.mutable.Map(eccB0.toSeq: _*).withDefaultValue(0)
      topo.reverseIterator.foreach { c =>
        children.getOrElse(c, Array.empty[(Long, Long, Int, Int)]).foreach {
          case (_, next, dF, dB) =>
            // Long arithmetic, clamped at nInt: four Int terms can wrap
            // 32-bit for n > 2^29, and a wrapped-negative term silently
            // LOSES the max — an unsound (too small) upper bound. The
            // true ecc is ≤ n−1, so clamping keeps the bound valid.
            eccF(c) = math.max(eccF(c),
              math.min(dF.toLong + 1L + dB + eccF(next), nInt.toLong).toInt)
        }
        eccF(c) = math.min(eccF(c), pivotBounds(c)._1)
      }
      // Backward DP parents-first (computer.rs:858-877).
      topo.foreach { c =>
        children.getOrElse(c, Array.empty[(Long, Long, Int, Int)]).foreach {
          case (_, next, dF, dB) =>
            eccB(next) = math.min(
              math.max(eccB(next),
                math.min(dF.toLong + 1L + dB + eccB(c), nInt.toLong).toInt),
              pivotBounds(next)._2)
        }
      }

      // Per-node refinement (computer.rs:885-927):
      //   fHigh <- min(fHigh, d(node→pivot) + eccF(pivot))
      //   bHigh <- min(bHigh, d(pivot→node) + eccB(pivot))
      // plus a strictly-tightening addition the reference skips: the
      // pivot distances are EXACT global distances (a path between
      // same-SCC vertices cannot leave the SCC — leaving and returning
      // would merge the SCCs), so they also RAISE the lower bounds:
      //   fLow <- max(fLow, d(node→pivot));  bLow <- max(bLow, d(pivot→node)).
      val eccMap = broadcast(allComps.map(c => (c, eccF(c), eccB(c)))
        .toDF("comp", "pivotEccF", "pivotEccB"))
      val next = b
        .join(distF.select($"id", $"dF"), Seq("id"))
        .join(distB.select($"id", $"dB"), Seq("id"))
        .join(eccMap, Seq("comp"))
        .select($"id", $"comp", $"radial",
          when(incF, greatest($"fLow", $"dB")).otherwise($"fLow").as("fLow"),
          // Long addition: dB + pivotEccF wraps Int at n > 2^30 and a
          // wrapped-negative "upper bound" would poison least(); the
          // result is ≤ fHigh ≤ n so the cast back to int is lossless.
          least($"fHigh".cast("long"), $"dB".cast("long") + $"pivotEccF")
            .cast("int").as("fHigh"),
          when(incB, greatest($"bLow", $"dF")).otherwise($"bLow").as("bLow"),
          least($"bHigh".cast("long"), $"dF".cast("long") + $"pivotEccB")
            .cast("int").as("bHigh"),
          $"fTot", $"bTot")
        .localCheckpoint(true)
      Lineage.release(b)
      b = next
      pivotDf.unpersist(); Lineage.release(distF); Lineage.release(distB)
      distF.unpersist(); distB.unpersist()
      iterations += 3
      allCcSteps += 1
    }

    // --- missing-node accounting (computer.rs:943-1014) ---------------
    final case class Missing(r: Long, dF: Long, dB: Long, aF: Long, aB: Long)
    def findMissing(): Missing = {
      val row = b.agg(
        sum(when($"radial" && incF && $"fLow" < radiusHigh, 1L).otherwise(0L)),
        sum(when(incF && $"fHigh" > diameterLow, 1L).otherwise(0L)),
        sum(when(incB && $"bHigh" > diameterLow, 1L).otherwise(0L)),
        sum(when(incF, 1L).otherwise(0L)),
        sum(when(incB, 1L).otherwise(0L)),
        max(when(!incF, struct($"fLow", -$"id"))),
        max(when(!incB, struct($"bLow", -$"id"))),
        min(when($"radial" && !incF, struct($"fLow", $"id")))).head()
      // diameter/radius candidates from closed vertices (see scaladoc (b))
      if (!row.isNullAt(5)) {
        val s = row.getStruct(5)
        val (e, v) = (s.getInt(0), -s.getLong(1))
        if (e > diameterLow || (e == diameterLow && diameterVertex == -1L)) {
          diameterLow = e; diameterVertex = v
        }
      }
      // Backward eccentricities bound the diameter too (D = max eccF =
      // max eccB); when this path wins, the witness attains the diameter
      // as its BACKWARD eccentricity — same contract as the forward case.
      if (!row.isNullAt(6)) {
        val s = row.getStruct(6)
        val (e, v) = (s.getInt(0), -s.getLong(1))
        if (e > diameterLow || (e == diameterLow && diameterVertex == -1L)) {
          diameterLow = e; diameterVertex = v
        }
      }
      if (!row.isNullAt(7)) {
        val s = row.getStruct(7)
        val (e, v) = (s.getInt(0), s.getLong(1))
        if (e < radiusHigh || (e == radiusHigh && radiusVertex == -1L)) {
          radiusHigh = e; radiusVertex = v
        }
      }
      Missing(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    }
    def missingFor(m: Missing): Long = output match {
      case Output.Radius => m.r
      case Output.Diameter => math.min(m.dF, m.dB)
      case Output.RadiusDiameter => m.r + math.min(m.dF, m.dB)
      case Output.AllForward => m.aF
      case Output.All => m.aF + m.aB
    }

    // --- heuristic phase (computer.rs:269-306): 6 sweeps from the
    // max-outdegree vertex, alternating fwd/bwd. Batched: 1 exact fwd
    // start, then one bwd and one fwd batch picked by the same argmax
    // criteria (deviation (a) in the scaladoc).
    sweep(forward = true, Seq(maxOutVertex))
    sweep(forward = false, pick(incB, Seq($"bTot".desc, $"bLow".desc)))
    sweep(forward = true, pick(incF, Seq($"fTot".desc, $"fLow".desc)))

    // --- adaptive loop (computer.rs:337-424) --------------------------
    val points = Array.fill(5)(n.toDouble)
    // Guarded-out allCC scores -∞: indexOf(max) can never select it, and
    // the `points(i) >= 0.0` bonus below can never resurrect it.
    if (!allCcEnabled) points(0) = Double.NegativeInfinity
    // Per-output iteration counters (the reference's radius_iterations /
    // diameter_iterations, dir_outputs.rs): BFS count at first certification.
    var radiusIter = -1
    var diameterIter = -1
    def recordIters(m: Missing): Unit = {
      if (radiusIter < 0 && m.r == 0) radiusIter = iterations
      if (diameterIter < 0 && math.min(m.dF, m.dB) == 0) diameterIter = iterations
    }
    var m = findMissing()
    recordIters(m)
    var missing = missingFor(m)
    var stall = 0
    while (missing > 0) {
      val step =
        if (stall >= 2) { if (m.aF > 0) 1 else 3 } // guaranteed progress
        else points.indexOf(points.max)
      step match {
        case 0 => allCcUpperBound()
        case 1 => sweep(forward = true, pick(incF, Seq($"fHigh".desc, $"fTot".desc)))
        case 2 => sweep(forward = true, pick($"radial", Seq($"fLow".asc, $"fTot".asc)))
        case 3 => sweep(forward = false, pick(incB, Seq($"bHigh".desc, $"bTot".desc)))
        case 4 => sweep(forward = false, pick(incB, Seq($"bTot".desc, $"bHigh".desc)))
      }
      m = findMissing()
      recordIters(m)
      val newMissing = missingFor(m)
      // Reference utility units are PER SINGLE BFS (computer.rs:404-414);
      // a batched sweep's gain is normalized by its batch size so the
      // adaptive comparison against the (unbatched) allCC step stays fair
      // — without this, a batch that only completes its own sources
      // registers `batch` gain and starves every other step type.
      val denom = if (step == 0) 1.0 else lastBatchSize.toDouble
      points(step) = (missing - newMissing).toDouble / denom
      for (i <- points.indices if i != step && points(i) >= 0.0)
        points(i) += 2.0 / math.max(iterations, 1)
      stall = if (newMissing < missing) 0 else stall + 1
      if (verbose)
        println(s"[graft/sumsweep] step=$step missing=$newMissing iters=$iterations " +
          s"diamLow=$diameterLow radHigh=$radiusHigh")
      missing = newMissing
    }

    val ecc = b.select($"id", $"fLow".as("ecc"))
    comps.unpersist(); sizesDf.unpersist()
    Result(ecc, radiusHigh, radiusVertex, diameterLow, diameterVertex,
      iterations, radialDf, allCcSteps, radiusIter, diameterIter)
  }

  /** Undirected (symmetric-graph) specialization — the reference's
    * `compute_undirected` (`output_level.rs:63,137,238,296`, built by
    * `computer.rs:101-127` with `transpose := graph`, `symm_seq`
    * components, and a bridge-free `SccGraph::new_undirected`).
    *
    * On a symmetric graph eccF == eccB, so relative to [[compute]] this
    * keeps ONE bound pair (half the state), sweeps only one direction
    * (half the BFS), and — a strictly-tightening specialization the
    * symmetric metric allows (d(s,v) == d(v,s)) — every sweep updates
    * BOTH bounds of every reached vertex:
    * {{{
    *   low(v)  = max(low(v),  d(s,v))            // the sweep lower bound
    *   high(v) = min(high(v), d(s,v) + ecc(s))   // triangle inequality
    * }}}
    * The reference routes the upper bound only through the per-SCC pivot
    * DP; undirected condensations have no bridges (`SccGraph::
    * new_undirected`), so the allCC step collapses to "one sweep seeded
    * with a per-CC pivot" — which the triangle-inequality update gives us
    * for free. Nothing is ever collected per-component: pivot selection
    * is a groupBy argmin and seeds stay a DataFrame, so unlike the
    * directed computer this path needs NO `maxComponents` driver guard.
    *
    * The caller asserts symmetry (reference `debug_assert!(
    * check_symmetric)`); [[graft.functions.GraphChecks.checkSymmetric]]
    * is the test-time check. `Output.All` clamps to AllForward like the
    * reference (`computer.rs:104-109`).
    */
  def computeUndirected(
      graph: Graph,
      output: Output = Output.AllForward,
      batch: Int = 0,
      stateBudgetRows: Long = 50L * 1000 * 1000,
      /** Precomputed weak CC (id, comp); computed here when absent. */
      components: Option[DataFrame] = None,
      verbose: Boolean = false,
      /** Bounded local-exact finish — see [[compute]]'s parameter. */
      localFinishEdges: Long = 0L): Result = {
    val spark = graph.spark
    import spark.implicits._

    if (localFitsBudget(graph, localFinishEdges))
      return computeLocalExact(graph, components, None, undirected = true)

    val n = graph.numVertices
    require(n > 0, "ExactSumSweep on an empty graph (reference panics too)")
    val nInt = math.min(n, Int.MaxValue.toLong).toInt
    val effBatch =
      if (batch > 0) batch
      else math.max(4L, math.min(1024L, stateBudgetRows / n)).toInt
    val adj = graph.adjacency
    adj.count()

    val (comps, sizesDf) = normalizedComponents(
      components.getOrElse(ConnectedComponents.run(graph).components))
    val largest = sizesDf.orderBy($"sz".desc, $"comp".asc).limit(1).head().getLong(0)
    // Radial set = the largest CC itself: the reference's backward BFS
    // from a largest-SCC member (computer.rs:495-544) reaches exactly the
    // CC when the graph is symmetric.
    val radialDf = comps.filter($"comp" === largest).select($"id").localCheckpoint(true)

    val maxDegVertex = graph.outDegrees
      .orderBy($"deg".desc, $"id".asc).limit(1).head().getLong(0)

    var b = graph.vertices.toDF("id")
      .join(comps, Seq("id"))
      .join(radialDf.select($"id", lit(true).as("radial")), Seq("id"), "left")
      .select($"id", $"comp", coalesce($"radial", lit(false)).as("radial"),
        lit(0).as("low"), lit(nInt).as("high"), lit(0L).as("tot"))
      .localCheckpoint(true)

    var diameterLow = 0
    var diameterVertex = -1L
    var radiusHigh = Int.MaxValue
    var radiusVertex = -1L
    var iterations = 0
    var pivotSweeps = 0

    def incU = $"low" =!= $"high"

    /** One batched sweep from `seeds` (tag == source id); the seeds frame
      * stays distributed end-to-end (the per-CC pivot step feeds one seed
      * per component through here). Returns the number of sources.
      */
    def sweep(seeds: DataFrame): Long = {
      val s = seeds.persist()
      val cnt = s.count()
      if (cnt == 0) { s.unpersist(); return 0L }
      if (verbose) println(s"[graft/sumsweep-undir] sweep sources=$cnt")
      val dists = Bfs.tagged(adj, s)
      val srcEcc = dists.groupBy($"tag").agg(max($"dist").as("ecc")).persist()
      srcEcc.count()
      // Long arithmetic for d + ecc: two Int terms wrap past 2^31 vertices
      // and a wrapped-negative bound would poison least() — clamped ≤ n.
      val perId = dists.join(srcEcc, Seq("tag"))
        .groupBy($"id")
        .agg(max($"dist").as("maxd"),
          sum($"dist".cast("long")).as("sumd"),
          min(least($"dist".cast("long") + $"ecc", lit(nInt.toLong))).as("minUp"))
      val ownEcc = srcEcc.select($"tag".as("id"), $"ecc".as("srcEcc"))
      val next = b
        .join(perId, Seq("id"), "left")
        .join(ownEcc, Seq("id"), "left")
        .select($"id", $"comp", $"radial",
          coalesce($"srcEcc",
            when(incU && coalesce($"maxd", lit(-1)) > $"low", $"maxd")
              .otherwise($"low")).as("low"),
          coalesce($"srcEcc",
            when(incU && $"minUp".isNotNull,
              least($"high".cast("long"), $"minUp").cast("int"))
              .otherwise($"high")).as("high"),
          ($"tot" + coalesce($"sumd", lit(0L))).as("tot"))
        .localCheckpoint(true)
      Lineage.release(b)
      Lineage.release(dists)
      b = next
      srcEcc.unpersist(); s.unpersist()
      iterations += cnt.toInt
      cnt
    }

    def pick(filter: org.apache.spark.sql.Column, order: Seq[org.apache.spark.sql.Column]): DataFrame =
      b.filter(filter).orderBy(order :+ $"id".asc: _*).limit(effBatch)
        .select($"id".as("tag"), $"id")

    /** Per-CC pivot sweep — the undirected allCC: one argmin pivot per
      * component (reference tie-breaks: bound key, then tot, then id),
      * then one distributed multi-source sweep from all pivots at once.
      */
    def pivotSweep(): Long = {
      val key = ($"low" + when(incU, 0).otherwise(nInt)).cast("long")
      val seeds = b.select($"comp", $"id", key.as("pKey"), $"tot".as("pTot"))
        .groupBy($"comp")
        .agg(expr("min_by(id, struct(pKey, pTot, id))").as("id"))
        .select($"id".as("tag"), $"id")
      pivotSweeps += 1
      sweep(seeds)
    }

    /** Missing-node accounting, single bound pair (computer.rs:943-1014
      * with fwd == bwd); radius/diameter candidates re-derived from closed
      * vertices like the directed computer.
      */
    def findMissing(): (Long, Long, Long) = {
      val row = b.agg(
        sum(when($"radial" && incU && $"low" < radiusHigh, 1L).otherwise(0L)),
        sum(when(incU && $"high" > diameterLow, 1L).otherwise(0L)),
        sum(when(incU, 1L).otherwise(0L)),
        max(when(!incU, struct($"low", -$"id"))),
        min(when($"radial" && !incU, struct($"low", $"id")))).head()
      if (!row.isNullAt(3)) {
        val s = row.getStruct(3)
        val (e, v) = (s.getInt(0), -s.getLong(1))
        if (e > diameterLow || (e == diameterLow && diameterVertex == -1L)) {
          diameterLow = e; diameterVertex = v
        }
      }
      if (!row.isNullAt(4)) {
        val s = row.getStruct(4)
        val (e, v) = (s.getInt(0), s.getLong(1))
        if (e < radiusHigh || (e == radiusHigh && radiusVertex == -1L)) {
          radiusHigh = e; radiusVertex = v
        }
      }
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    def missingFor(m: (Long, Long, Long)): Long = output match {
      case Output.Radius => m._1
      case Output.Diameter => m._2
      case Output.RadiusDiameter => m._1 + m._2
      case Output.AllForward | Output.All => m._3
    }

    // --- heuristic phase: one sweep from the max-degree vertex, then one
    // batch by descending distance totals (computer.rs:269-306 adapted to
    // the single direction).
    sweep(Seq((maxDegVertex, maxDegVertex)).toDF("tag", "id"))
    var lastBatch = 1L
    lastBatch = math.max(sweep(pick(incU, Seq($"tot".desc, $"low".desc))), 1L)

    // --- adaptive loop, 3 step types: per-CC pivots / diameter hunters
    // (max upper bound first) / radius hunters (min lower bound first).
    val points = Array.fill(3)(n.toDouble)
    var radiusIter = -1
    var diameterIter = -1
    def recordIters(m: (Long, Long, Long)): Unit = {
      if (radiusIter < 0 && m._1 == 0) radiusIter = iterations
      if (diameterIter < 0 && m._2 == 0) diameterIter = iterations
    }
    var m = findMissing()
    recordIters(m)
    var missing = missingFor(m)
    var stall = 0
    while (missing > 0) {
      val step =
        if (stall >= 2) 1
        else points.indexOf(points.max)
      val batchSize = step match {
        case 0 => pivotSweep()
        case 1 => sweep(pick(incU, Seq($"high".desc, $"tot".desc)))
        case 2 => sweep(pick($"radial" && incU, Seq($"low".asc, $"tot".asc)))
      }
      lastBatch = math.max(batchSize, 1L)
      m = findMissing()
      recordIters(m)
      val newMissing = missingFor(m)
      points(step) = (missing - newMissing).toDouble / lastBatch.toDouble
      for (i <- points.indices if i != step && points(i) >= 0.0)
        points(i) += 2.0 / math.max(iterations, 1)
      stall = if (newMissing < missing) 0 else stall + 1
      if (verbose)
        println(s"[graft/sumsweep-undir] step=$step missing=$newMissing iters=$iterations " +
          s"diamLow=$diameterLow radHigh=$radiusHigh")
      missing = newMissing
    }

    val ecc = b.select($"id", $"low".as("ecc"))
    comps.unpersist(); sizesDf.unpersist()
    Result(ecc, radiusHigh, radiusVertex, diameterLow, diameterVertex,
      iterations, radialDf, pivotSweeps, radiusIter, diameterIter)
  }
}
