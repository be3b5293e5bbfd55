package graft.queries

import graft.core.{Graph, LocalGraph}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract graph queries + their DuckDB oracle SQL.
  *
  * The driver's correctness gate (Verify → DuckDB compare) runs over the
  * parquet tables in a scale-factor dir, so the graph under test is DERIVED
  * deterministically from `lineitem` with arithmetic both engines evaluate
  * identically (int64 `%`): a pseudo-random directed multigraph on
  * [[GraphQueries.N]] vertices. The Spark side builds a [[Graph]] from the
  * same expression; oracles recompute the algorithm in portable SQL
  * (recursive CTEs for CC/BFS, unrolled stages for PageRank).
  */
object GraphQueries {

  /** Vertex-space modulus of the derived graph (kept modest so the DuckDB
    * transitive-closure oracle stays small; the Spark side is the same
    * code that runs the generated web-scale graphs in Bench).
    */
  val N = 601

  /** Shared SQL prelude: the derived edge set + its vertex set.
    * MATERIALIZED: DuckDB 1.0 inlines every CTE reference by default, so
    * a multi-stage oracle would re-run the lineitem scan + DISTINCT once
    * per reference (the unrolled BFS references `edges` at every level —
    * round 3's gate profiled minutes per closure oracle largely from
    * exactly this re-evaluation).
    */
  val edgesSql: String =
    s"""edges AS MATERIALIZED (
       |  SELECT DISTINCT (l_partkey % $N) AS src,
       |         ((l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $N) AS dst
       |  FROM lineitem
       |), nodes AS MATERIALIZED (
       |  SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges
       |)""".stripMargin

  def edgesDf(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .parquet(s"$dir/lineitem.parquet")
      .selectExpr(
        s"l_partkey % $N AS src",
        s"(l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $N AS dst")
      .distinct()

  /** State shared across driver-contract queries (the loaded graph, its
    * components, its eccentricities) lives in [[graft.core.SessionMemo]]:
    * re-deriving the adjacency (a full lineitem shuffle) per query would
    * double-pay every g_* query in a Verify/Bench run.
    */
  private def memoized[T <: AnyRef](spark: SparkSession, key: String)(f: => T): T =
    graft.core.SessionMemo(spark, key)(f)

  def graph(spark: SparkSession, dir: String): Graph =
    memoized(spark, s"graph:$dir") {
      val g = Graph.fromEdges(edgesDf(spark, dir))
      // Persist the deduped arc table itself (it is tiny — the N=601
      // universe bounds it): every query that consumes g.edges directly
      // (crawl delta, stats, reciprocity, clustering's degree pass, …)
      // used to re-pay the lineitem scan + distinct per REFERENCE.
      g.edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g
    }

  /** Connected components, computed once per (session, dir) and shared by
    * g_cc / g_cc_sizes (VERDICT r1: the double-pay was ~10 s at sf0.1).
    */
  private def ccShared(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"cc:$dir") {
      // Cap-guarded local finish (union-find, identical min-id labels):
      // O(diameter) supersteps are pure job latency on the derived gate
      // graph; the distributed path runs unchanged above the budget.
      ConnectedComponents.run(graph(spark, dir), localFinishEdges = LocalGraph.QueryCap)
        .components
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** SCCs, shared by g_scc and the condensation-based reach query. */
  private def sccShared(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"scc:$dir") {
      Scc.run(graph(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** One SumSweep run (AllForward) shared by g_ecc / g_radius_diameter. */
  private def essShared(spark: SparkSession, dir: String): SumSweep.Result =
    memoized(spark, s"ess:$dir") {
      // Cap-guarded local-exact path (the embedNearDup / ccIncr budget):
      // the derived gate graph is latency-bound on the sweep computer —
      // per-BFS-level job latency × sweeps — while one broadcast-CSR
      // all-pairs job answers it exactly; above the budget the sweep
      // computer runs unchanged.
      val r = SumSweep.compute(graph(spark, dir), SumSweep.Output.AllForward,
        components = Some(sccShared(spark, dir)), localFinishEdges = LocalGraph.QueryCap)
      r.ecc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      r
    }

  /** The symmetrized derived graph (for the undirected-ESS query). */
  private def symGraph(spark: SparkSession, dir: String): Graph =
    memoized(spark, s"symgraph:$dir") {
      val e = edgesDf(spark, dir)
      val g = Graph.fromEdges(
        e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
      g.edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g
    }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  def degrees(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    g.outDegrees
      .withColumnRenamed("deg", "outdeg")
      .join(g.inDegrees.withColumnRenamed("deg", "indeg"), Seq("id"))
      .select(col("id"), col("outdeg"), col("indeg"))
  }

  val degreesSql: String =
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |idg AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst)
       |SELECT n.id, coalesce(od.c, 0) AS outdeg, coalesce(idg.c, 0) AS indeg
       |FROM nodes n LEFT JOIN od ON n.id = od.id LEFT JOIN idg ON n.id = idg.id""".stripMargin

  /** Degree-distribution histogram — the power-law shape check every
    * web-graph analysis starts with: vertices bucketed by
    * floor(log2(degree)) separately for out- and in-degree. The bucket is
    * `length(bin(deg))` — the binary-string length, an EXACT integer
    * log2 both engines compute identically (floor(ln(d)/ln(2)) flips at
    * powers of two under IEEE rounding). Degree-0 vertices land in
    * bucket 0.
    */
  def degDist(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    def hist(df: DataFrame, side: String) = df
      .select(when(col("deg") > 0, length(bin(col("deg")))).otherwise(lit(0)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("vertices"))
      .select(lit(side).as("side"), col("bucket").cast("long").as("bucket"), col("vertices"))
    hist(g.outDegrees, "out").unionAll(hist(g.inDegrees, "in"))
  }

  val degDistSql: String =
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |idg AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst),
       |ob AS (SELECT CASE WHEN coalesce(od.c, 0) > 0 THEN length(bin(od.c)) ELSE 0 END AS bucket
       |       FROM nodes n LEFT JOIN od ON n.id = od.id),
       |ib AS (SELECT CASE WHEN coalesce(idg.c, 0) > 0 THEN length(bin(idg.c)) ELSE 0 END AS bucket
       |       FROM nodes n LEFT JOIN idg ON n.id = idg.id)
       |SELECT 'out' AS side, bucket, count(*) AS vertices FROM ob GROUP BY bucket
       |UNION ALL
       |SELECT 'in' AS side, bucket, count(*) AS vertices FROM ib GROUP BY bucket""".stripMargin

  /** Average successor out-degree per vertex — the local assortativity
    * signal (hubs linking to hubs vs hubs linking to leaves) behind the
    * global g_assort coefficient. One degree aggregate + one equi-join
    * back onto the arcs + one per-src mean; the mean is computed as
    * exact-integer sum / count so both engines produce the identical
    * IEEE division.
    */
  def avgNbrDeg(spark: SparkSession, dir: String): DataFrame = {
    val e = edgesDf(spark, dir)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    e.join(deg.select(col("src").as("dst"), col("d")), Seq("dst"), "left")
      .groupBy(col("src").as("id"))
      .agg((sum(coalesce(col("d"), lit(0L))) / count(lit(1))).as("avg_nbr_outdeg"))
      .select(col("id"), col("avg_nbr_outdeg"))
  }

  val avgNbrDegSql: String =
    s"""WITH $edgesSql,
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)
       |SELECT e.src AS id,
       |       CAST(sum(coalesce(deg.d, 0)) AS DOUBLE) / count(*) AS avg_nbr_outdeg
       |FROM edges e LEFT JOIN deg ON deg.src = e.dst
       |GROUP BY e.src""".stripMargin

  /** Power-law exponent MLE over the out-degree tail (Clauset–Shalizi–
    * Newman continuous approximation at dmin=1: α = 1 + n / Σ ln(d/0.5))
    * — THE scale-free-ness scalar of a web graph, and the number that
    * predicts how bad hub skew will be for any per-vertex operator. Two
    * scalar aggregates, zero joins.
    */
  def powerlawAlpha(spark: SparkSession, dir: String): DataFrame =
    edgesDf(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_tail"),
        (lit(1.0) + count(lit(1)) / sum(log(col("d") / 0.5))).as("alpha"))

  val powerlawAlphaSql: String =
    s"""WITH $edgesSql,
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)
       |SELECT count(*) AS n_tail,
       |       1.0 + count(*) / sum(ln(d / 0.5)) AS alpha
       |FROM deg""".stripMargin

  /** Successor-gap γ-code cost histogram — the BV-format compressibility
    * signal the reference's graph storage is built on (webgraph BVGraph:
    * per-node sorted successor lists, first successor zigzag-coded
    * against the node id, later successors as gap−1; cost model = γ-code
    * length 2⌊log2(n+1)⌋+1 bits). Locality-preserving orderings show up
    * directly as mass shifting to small-bit buckets, so this is the
    * query you run to decide whether a reordering pays before rewriting
    * 10¹² edges. One adjacency-shaped aggregate (groupBy src →
    * sorted-set successors) + a per-row expression transform — no joins,
    * and the histogram keyspace is ~60 rows at any scale.
    */
  def gapBits(spark: SparkSession, dir: String): DataFrame =
    edgesDf(spark, dir)
      .groupBy(col("src"))
      .agg(sort_array(collect_set(col("dst"))).as("dsts"))
      .select(explode(expr(
        """transform(dsts, (d, i) ->
          |  CASE WHEN i = 0 THEN
          |    CASE WHEN d >= src THEN 2 * (d - src) ELSE 2 * (src - d) - 1 END
          |  ELSE d - element_at(dsts, i) - 1 END)""".stripMargin)).as("g"))
      .select((lit(2) * floor(log2(col("g") + 1)) + 1).cast("long").as("bits"))
      .groupBy(col("bits"))
      .agg(count(lit(1)).as("n"))

  val gapBitsSql: String =
    s"""WITH $edgesSql,
       |adj AS (
       |  SELECT src, list_sort(list(DISTINCT dst)) AS dsts FROM edges GROUP BY src
       |),
       |g AS (
       |  SELECT unnest(list_transform(range(1, len(dsts) + 1), i ->
       |    CASE WHEN i = 1 THEN
       |      CASE WHEN dsts[1] >= src THEN 2 * (dsts[1] - src) ELSE 2 * (src - dsts[1]) - 1 END
       |    ELSE dsts[CAST(i AS INTEGER)] - dsts[CAST(i AS INTEGER) - 1] - 1 END)) AS gv
       |  FROM adj
       |)
       |SELECT CAST(2 * floor(log2(gv + 1)) + 1 AS BIGINT) AS bits, count(*) AS n
       |FROM g GROUP BY bits""".stripMargin

  /** Total γ-gap cost under the natural vs the BFS-layered ordering
    * ([[Reorder.bfsOrder]]) — `g_gap_bits`' decision twin: it answers
    * "would a locality-preserving renumber of these 10¹² arcs pay for
    * itself?" before anyone pays for the renumber + rewrite. Two rows
    * (ordering ∈ {natural, bfs}, bits); every value an exact integer.
    * γ gaps stream per source via a window lag over (src ORDER BY dst)
    * — no successor arrays, so a 10⁶-degree hub never materializes.
    * On the gate's derived graph the gain is honestly ~0 (mod-601
    * pseudo-random arcs have no locality to recover — the signal
    * correctly says "don't pay for the reorder"); `ReorderSpec` pins the
    * positive gain on scrambled web topology, where it exists.
    */
  def bfsOrderGain(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val mapping = Reorder.bfsOrder(symGraph(spark, dir), ccShared(spark, dir))
    val edges = g.adjacency.toDF().select(col("src"), explode(col("dsts")).as("dst"))
    val remapped = edges
      .join(mapping.select(col("id").as("src"), col("new_id").as("nsrc")), Seq("src"))
      .join(mapping.select(col("id").as("dst"), col("new_id").as("ndst")), Seq("dst"))
      .select(col("nsrc").as("src"), col("ndst").as("dst"))
    gammaTotal(edges, "natural").unionByName(gammaTotal(remapped, "bfs"))
  }

  /** Σ γ-code bits over sorted successor gaps (same zigzag-first-gap
    * convention as [[gapBits]]), as one labeled row.
    */
  private def gammaTotal(edges: DataFrame, label: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("src")).orderBy(col("dst"))
    edges
      .withColumn("prev", lag(col("dst"), 1).over(w))
      .select(when(col("prev").isNull,
          when(col("dst") >= col("src"), lit(2L) * (col("dst") - col("src")))
            .otherwise(lit(2L) * (col("src") - col("dst")) - 1))
        .otherwise(col("dst") - col("prev") - 1).as("g"))
      .select((lit(2) * floor(log2(col("g") + 1)) + 1).cast("long").as("b"))
      .agg(coalesce(sum(col("b")), lit(0L)).as("bits"))
      .select(lit(label).as("ordering"), col("bits"))
  }

  /** Oracle recomputes the ordering from first principles: components =
    * the symmetric bitstring closure (comp = min member), levels = the
    * first chain round whose bitmap from the component root covers the
    * vertex (the sb0..sb10 prefix tables ARE reachable-within-k, so
    * dist(v) = min k — no new iteration), rank = row_number over
    * (comp, dist, id), then the identical streamed γ-gap sum over the
    * natural and remapped arc tables.
    */
  lazy val bfsOrderGainSql: String = {
    val lvUnion = (0 to 10).map(k => s"SELECT $k AS k, src, bs FROM sb$k")
      .mkString("\n  UNION ALL ")
    def gamma(rel: String, label: String) =
      s"""SELECT '$label' AS ordering,
         |       CAST(coalesce(sum(CAST(2 * floor(log2(g + 1)) + 1 AS BIGINT)), 0) AS BIGINT) AS bits
         |FROM (
         |  SELECT CASE WHEN prev IS NULL THEN
         |           CASE WHEN dst >= src THEN 2 * (dst - src) ELSE 2 * (src - dst) - 1 END
         |         ELSE dst - prev - 1 END AS g
         |  FROM (SELECT src, dst, lag(dst) OVER (PARTITION BY src ORDER BY dst) AS prev FROM $rel) z
         |) zz""".stripMargin
    s"""WITH $edgesSql,
       |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${bitReachChain("sym", "s")},
       |cc AS (
       |  SELECT r.src AS id, min(n.id) AS comp
       |  FROM sreach r JOIN nodes n ON get_bit(r.bs, CAST(n.id AS INTEGER)) = 1
       |  GROUP BY r.src
       |),
       |lv AS (
       |  $lvUnion
       |),
       |lev AS (
       |  SELECT cc.id, cc.comp, min(l.k) AS dist
       |  FROM cc JOIN lv l ON l.src = cc.comp AND get_bit(l.bs, CAST(cc.id AS INTEGER)) = 1
       |  GROUP BY cc.id, cc.comp
       |),
       |ord AS (
       |  SELECT id, row_number() OVER (ORDER BY comp, dist, id) - 1 AS nid FROM lev
       |),
       |re AS (
       |  SELECT o1.nid AS src, o2.nid AS dst
       |  FROM edges e JOIN ord o1 ON o1.id = e.src JOIN ord o2 ON o2.id = e.dst
       |)
       |${gamma("edges", "natural")}
       |UNION ALL
       |${gamma("re", "bfs")}""".stripMargin
  }

  /** Landmark distance sketch ([[Landmarks]]): undirected distances from
    * the top-3 total-degree vertices (ties to smaller id) to every
    * vertex in their component — the precomputed side of
    * triangle-inequality distance estimation (the only way to answer
    * pair-distance queries on a 10¹²-vertex graph). One source-tagged
    * multi-root BFS; k visits share every superstep's shuffle.
    */
  def landmarkSketch(spark: SparkSession, dir: String): DataFrame = {
    val lm = Landmarks.pick(graph(spark, dir), 3)
    Landmarks.sketch(symGraph(spark, dir), lm)
  }

  /** Oracle: the same top-3 degree pick, then dist = the first bitmap
    * chain round covering the vertex (the sb0..sb10 prefixes ARE
    * reachable-within-k — shared with [[bfsOrderGainSql]]'s trick).
    */
  lazy val landmarkSketchSql: String = {
    val lvUnion = (0 to 10).map(k => s"SELECT $k AS k, src, bs FROM sb$k")
      .mkString("\n  UNION ALL ")
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |idg AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst),
       |lm AS (
       |  SELECT id FROM (
       |    SELECT n.id, coalesce(od.c, 0) + coalesce(idg.c, 0) AS tdeg
       |    FROM nodes n LEFT JOIN od ON od.id = n.id LEFT JOIN idg ON idg.id = n.id) z
       |  ORDER BY tdeg DESC, id ASC LIMIT 3),
       |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${bitReachChain("sym", "s")},
       |lv AS (
       |  $lvUnion
       |)
       |SELECT lm.id AS landmark, n.id, CAST(min(l.k) AS BIGINT) AS dist
       |FROM lm JOIN lv l ON l.src = lm.id
       |JOIN nodes n ON get_bit(l.bs, CAST(n.id AS INTEGER)) = 1
       |GROUP BY lm.id, n.id""".stripMargin
  }

  /** Crawl-over-crawl delta report — the churn audit run BEFORE a
    * recurring pipeline refreshes its derived structures (warm-start
    * PageRank, adjacency rebuild, re-dedup): how much actually changed?
    * Two deterministic snapshots of the derived edge table ("yesterday"
    * drops the (31·src+dst) mod 10 = 0 arc class, "today" drops class 9)
    * are diffed with anti/semi-joins on the (src, dst) key — exact set
    * ops that shuffle each snapshot ONCE at any scale; vertex churn from
    * the distinct endpoint sets. Output: 6 (metric, n) rows, exact ints.
    */
  def crawlDelta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = graph(spark, dir).edges.toDF() // memoized, deduped, persisted arcs
    val cls = (pmod(col("src") * 31 + col("dst"), lit(10L)))
    // Snapshot membership as two boolean flags per arc / per endpoint:
    // the six census numbers are conditional counts over those flags, so
    // the whole query is TWO aggregates — one zero-exchange scan for the
    // arc rows (e is already distinct), one endpoint aggregate whose
    // groupBy(id) is the only exchange — instead of six separately
    // planned anti/semi-join branches each rescanning both persisted
    // snapshots (guide §2.4).
    val flagged = e.select($"src", $"dst",
      (cls =!= 0).as("inA"), (cls =!= 9).as("inB"))
    def cnts(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(
        sum(when($"inB" && !$"inA", 1L).otherwise(0L)),
        sum(when($"inA" && !$"inB", 1L).otherwise(0L)),
        sum(when($"inA" && $"inB", 1L).otherwise(0L))).head()
      def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      (g(0), g(1), g(2))
    }
    val (arcAdd, arcGone, arcKeep) = cnts(flagged)
    val vflags = flagged
      .select(explode(array(
        struct($"src".as("id"), $"inA", $"inB"),
        struct($"dst".as("id"), $"inA", $"inB"))).as("v"))
      .groupBy($"v.id")
      .agg(max($"v.inA").as("inA"), max($"v.inB").as("inB"))
    val (vNew, vGone, vKeep) = cnts(vflags)
    Seq(("arcs_added", arcAdd), ("arcs_removed", arcGone),
      ("arcs_retained", arcKeep), ("verts_new", vNew),
      ("verts_gone", vGone), ("verts_retained", vKeep))
      .toDF("metric", "n")
  }

  lazy val crawlDeltaSql: String =
    s"""WITH $edgesSql,
       |a AS MATERIALIZED (SELECT src, dst FROM edges WHERE (src * 31 + dst) % 10 <> 0),
       |b AS MATERIALIZED (SELECT src, dst FROM edges WHERE (src * 31 + dst) % 10 <> 9),
       |va AS (SELECT src AS id FROM a UNION SELECT dst FROM a),
       |vb AS (SELECT src AS id FROM b UNION SELECT dst FROM b)
       |SELECT 'arcs_added' AS metric, count(*) AS n FROM (SELECT * FROM b EXCEPT SELECT * FROM a) z
       |UNION ALL SELECT 'arcs_removed', count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b) z
       |UNION ALL SELECT 'arcs_retained', count(*) FROM (SELECT * FROM b INTERSECT SELECT * FROM a) z
       |UNION ALL SELECT 'verts_new', count(*) FROM (SELECT * FROM vb EXCEPT SELECT * FROM va) z
       |UNION ALL SELECT 'verts_gone', count(*) FROM (SELECT * FROM va EXCEPT SELECT * FROM vb) z
       |UNION ALL SELECT 'verts_retained', count(*) FROM (SELECT * FROM vb INTERSECT SELECT * FROM va) z""".stripMargin

  /** Incremental CC over the crawl-delta snapshot pair: yesterday's
    * labels ([[ConnectedComponents.run]] on snapshot `a`) refreshed to
    * today's snapshot `b` by [[ConnectedComponents.incremental]] — only
    * the churned structure iterates; the oracle recomputes components of
    * `b` from scratch, so the compare proves the refresh is EXACT under
    * both the deletions (class-0 arcs return) and additions (class-9
    * arcs leave) in the pair.
    */
  def ccIncr(spark: SparkSession, dir: String): DataFrame = {
    val e = graph(spark, dir).edges.toDF()
    val cls = pmod(col("src") * 31 + col("dst"), lit(10L))
    val a = e.where(cls =!= 0).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = e.where(cls =!= 9)
    // Same cap-guarded local finish as the repair CC below: yesterday's
    // from-scratch labels on the tiny derived snapshot are latency-bound
    // on O(diameter) supersteps distributed, one union-find pass local.
    val old = ConnectedComponents.run(Graph.fromEdges(a),
      localFinishEdges = LocalGraph.QueryCap).components
    // The repair graph is O(delta) by design — route it through the same
    // cap-guarded driver union-find budget the near-dup pair graphs use
    // (d_embed_neardup); above the budget the distributed path runs, so
    // this is scale-adaptive, not a small-graph assumption.
    val out = ConnectedComponents.incremental(old, a, b,
      localFinishEdges = LocalGraph.QueryCap).components
    a.unpersist()
    out
  }

  lazy val ccIncrSql: String =
    s"""WITH $edgesSql,
       |bsnap AS MATERIALIZED (SELECT src, dst FROM edges WHERE (src * 31 + dst) % 10 <> 9),
       |bnodes AS MATERIALIZED (SELECT src AS id FROM bsnap UNION SELECT dst FROM bsnap),
       |bsym AS MATERIALIZED (SELECT src, dst FROM bsnap UNION SELECT dst AS src, src AS dst FROM bsnap),
       |${bitReachChain("bsym", "ib", nodesRel = "bnodes")}
       |SELECT r.src AS id, min(n.id) AS comp
       |FROM ibreach r JOIN bnodes n ON get_bit(r.bs, CAST(n.id AS INTEGER)) = 1
       |GROUP BY r.src""".stripMargin

  /** Degree^0.75 negative-sampling table — the word2vec/node2vec
    * training-prep step that pairs the walk corpus (`g_walks4` /
    * `g_node2vec3`): draw negatives ∝ deg^(3/4) (Mikolov's unigram^0.75,
    * applied to vertex degree as the frequency). The alias-table-free
    * distributed form:
    *
    *  1. weights w(v) = floor(sqrt(deg·sqrt(deg)) · 256) — x^(3/4) spelled
    *     as two IEEE-correctly-rounded sqrts, so the INTEGER weight is
    *     bit-identical cross-engine (libm `pow` is not correctly rounded
    *     and could flip a floor at an ulp boundary; sqrt is);
    *  2. the cumulative weight table in id order via a TWO-LEVEL prefix
    *     sum (in-block window cumsum + block-offset running sum over the
    *     tiny block table — never a global single-partition pass over a
    *     10⁹-vertex vocabulary);
    *  3. draws u_j = portableHash60("neg:"+j) mod ΣW — hash-deterministic
    *     (retry-safe, replayable) like the walks;
    *  4. lookup = the bin-bucketed interval join ([[RangeJoin]]): each
    *     draw lands in one bin, each cum interval covers ≤ 2 bins — at
    *     10⁹ draws × 10⁷ vocab rows this is two shuffles, no broadcast
    *     of the vocabulary and no per-draw binary search structure.
    */
  def negSample(s: Int)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val g = graph(spark, dir)
    val deg = g.outDegrees.withColumnRenamed("deg", "od")
      .join(g.inDegrees.withColumnRenamed("deg", "indeg"), Seq("id"), "left")
      .select($"id", ($"od" + coalesce($"indeg", lit(0L))).as("deg"))
    val wt = deg.select($"id",
      floor(sqrt($"deg" * sqrt($"deg")) * 256).cast("long").as("w"))
    val blocked = wt.withColumn("blk", expr("id div 64"))
    val ib = coalesce(sum($"w").over(Window.partitionBy($"blk").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val blkOff = blocked.groupBy($"blk").agg(sum($"w").as("bw"))
      .select($"blk", coalesce(sum($"bw").over(Window.orderBy($"blk")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("boff"))
    val cum = blocked.withColumn("ib", ib)
      .join(blkOff, Seq("blk"))
      .select($"id", ($"boff" + $"ib").as("lo"), $"w")
    val tot = wt.agg(sum($"w").as("tw"))
    val pts = spark.range(s).select($"id".as("j"))
      .crossJoin(broadcast(tot))
      .select($"j",
        (graft.text.TextOps.portableHash60(concat(lit("neg:"), $"j".cast("string"))) % $"tw").as("u"))
    RangeJoin.pointInInterval(
      cum.select(lit(0L).as("gk"), $"id", $"lo", ($"lo" + $"w" - 1).as("hi")),
      pts.select(lit(0L).as("gk"), $"j", $"u"),
      "gk", "gk", "lo", "hi", "u", binWidth = 65536L)
      .select($"j", $"id".as("neg"))
  }

  /** Oracle: same integer weights, one window cumsum, same md5 draws,
    * plain BETWEEN containment.
    */
  def negSampleSql(s: Int): String =
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |idg AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst),
       |dg AS (
       |  SELECT n.id, coalesce(od.c, 0) + coalesce(idg.c, 0) AS deg
       |  FROM nodes n LEFT JOIN od ON od.id = n.id LEFT JOIN idg ON idg.id = n.id),
       |wt AS (SELECT id, CAST(floor(sqrt(deg * sqrt(deg)) * 256) AS BIGINT) AS w FROM dg),
       |cum AS (
       |  SELECT id, w,
       |         CAST(coalesce(sum(w) OVER (ORDER BY id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS lo
       |  FROM wt),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt),
       |pts AS (
       |  SELECT r.j, CAST(('0x' || substring(md5('neg:' || r.j), 1, 15)) AS BIGINT) % t.tw AS u
       |  FROM range($s) r(j) CROSS JOIN tot t)
       |SELECT p.j, c.id AS neg
       |FROM pts p JOIN cum c ON p.u >= c.lo AND p.u < c.lo + c.w""".stripMargin

  /** Arc reciprocity — the share of non-loop arcs whose reverse arc also
    * exists (link exchanges vs one-way citation; ~0.25 on real web
    * graphs). One self-semi-join on the reversed key + two counts; the
    * ratio is a single IEEE division of exact integers (bit-identical
    * cross-engine, no rounding).
    */
  def reciprocity(spark: SparkSession, dir: String): DataFrame = {
    // Arcs come from the shared graph's PERSISTED adjacency (both
    // references below hit the cache), never a fresh lineitem
    // scan+distinct — the memoized-family rule every sibling g_* query
    // follows. One left join + one aggregate computes both counts.
    val nl = graph(spark, dir).adjacency
      .select(col("src"), explode(col("dsts")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val rev = nl.select(col("dst").as("src"), col("src").as("dst"), lit(1).as("hasRev"))
    nl.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("arcs"), count(col("hasRev")).as("reciprocal"))
      .select(col("arcs"), col("reciprocal"),
        (col("reciprocal") / col("arcs")).as("reciprocity"))
  }

  val reciprocitySql: String =
    s"""WITH $edgesSql,
       |nl AS MATERIALIZED (SELECT src, dst FROM edges WHERE src <> dst),
       |r AS (SELECT count(*) AS c FROM nl x
       |      WHERE EXISTS (SELECT 1 FROM nl y WHERE y.src = x.dst AND y.dst = x.src)),
       |t AS (SELECT count(*) AS c FROM nl)
       |SELECT t.c AS arcs, r.c AS reciprocal,
       |       CAST(r.c AS DOUBLE) / t.c AS reciprocity
       |FROM r CROSS JOIN t""".stripMargin

  /** Degree assortativity (Newman 2002, out→in flavor): the Pearson
    * correlation across arcs between the source's out-degree and the
    * target's in-degree — negative on real web graphs (hubs point at
    * low-degree pages). Computed from EXACT int64 moment sums with the
    * float ops deferred to one final expression (`cov/(√varx·√vary)`) so
    * both engines produce the bit-identical double: every sum, product
    * and difference fits int64 at any graph this vertex space admits
    * (deg ≤ N, arcs ≤ N², N = 601 ⇒ m·Σx² ≤ 5·10¹⁶), and int64→double,
    * sqrt, multiply, divide are each IEEE-deterministic.
    *
    * Scale shape: degrees are vertex-sized (broadcast side); the arc
    * table streams through two broadcast joins into ONE scalar
    * aggregate — no arc-keyed shuffle at all, partial sums combine
    * map-side. At 10¹⁰ arcs this is a single pass over the edge scan.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val arcs = g.adjacency.select(col("src"), explode(col("dsts")).as("dst"))
    val x = g.outDegrees.select(col("id").as("src"), col("deg").as("x"))
    val y = g.inDegrees.select(col("id").as("dst"), col("deg").as("y"))
    arcs
      .join(broadcast(x), Seq("src"))
      .join(broadcast(y), Seq("dst"))
      .agg(
        count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        col("m").as("arcs"),
        ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity"))
  }

  val assortativitySql: String =
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |idg AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst),
       |j AS (SELECT od.c AS x, idg.c AS y
       |      FROM edges e JOIN od ON od.id = e.src JOIN idg ON idg.id = e.dst),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
       |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |             CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
       |             CAST(sum(x*y) AS BIGINT) AS sxy
       |      FROM j)
       |SELECT m AS arcs,
       |       CAST(m*sxy - sx*sy AS DOUBLE) /
       |       (sqrt(CAST(m*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(m*syy - sy*sy AS DOUBLE)))
       |         AS assortativity
       |FROM s""".stripMargin

  /** One-row graph summary — the stats pass every webgraph analysis
    * (and the reference's properties files) leads with: vertex/arc
    * counts, self-loops, dangling vertices (no out-arcs), source
    * vertices (no in-arcs), degree maxima, average out-degree, density.
    * All counts are exact int64 sums; the two ratios are single
    * int64→double divisions, IEEE-identical across engines.
    *
    * Scale shape: one pass over the edge scan plus two passes over the
    * vertex-sized degree tables, each a map-side-combined scalar
    * aggregate; the three 1-row frames cross-join on the driver side of
    * the plan. No shuffle wider than the degree aggregates the Graph
    * already materializes.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val e = edgesDf(spark, dir)
    val ea = e.agg(
      count(lit(1)).as("arcs"),
      sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("self_loops"))
    val oa = g.outDegrees.agg(
      count(lit(1)).as("nodes"),
      sum(when(col("deg") === 0, 1L).otherwise(0L)).as("dangling"),
      max(col("deg")).as("max_outdeg"))
    val ia = g.inDegrees.agg(
      sum(when(col("deg") === 0, 1L).otherwise(0L)).as("sources"),
      max(col("deg")).as("max_indeg"))
    ea.crossJoin(oa).crossJoin(ia)
      .select(
        col("nodes"), col("arcs"), col("self_loops"), col("dangling"),
        col("sources"), col("max_outdeg"), col("max_indeg"),
        (col("arcs").cast("double") / col("nodes")).as("avg_outdeg"),
        (col("arcs").cast("double") / (col("nodes") * (col("nodes") - 1)))
          .as("density"))
  }

  val statsSql: String =
    s"""WITH $edgesSql,
       |ea AS (SELECT CAST(count(*) AS BIGINT) AS arcs,
       |              CAST(sum(CASE WHEN src = dst THEN 1 ELSE 0 END) AS BIGINT) AS self_loops
       |       FROM edges),
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |idg AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst),
       |oa AS (SELECT CAST(count(*) AS BIGINT) AS nodes,
       |              CAST(sum(CASE WHEN od.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dangling,
       |              CAST(max(coalesce(od.c, 0)) AS BIGINT) AS max_outdeg
       |       FROM nodes n LEFT JOIN od ON od.id = n.id),
       |ia AS (SELECT CAST(sum(CASE WHEN idg.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS sources,
       |              CAST(max(coalesce(idg.c, 0)) AS BIGINT) AS max_indeg
       |       FROM nodes n LEFT JOIN idg ON idg.id = n.id)
       |SELECT nodes, arcs, self_loops, dangling, sources, max_outdeg, max_indeg,
       |       CAST(arcs AS DOUBLE) / nodes AS avg_outdeg,
       |       CAST(arcs AS DOUBLE) / (nodes * (nodes - 1)) AS density
       |FROM ea CROSS JOIN oa CROSS JOIN ia""".stripMargin

  /** Weighted single-source shortest paths ([[Sssp.run]] — synchronous
    * Bellman–Ford with fixpoint stop) from `root`, over the derived arcs
    * weighted w(src,dst) = ((src·7 + dst·13) mod 10) + 1 ∈ [1,10].
    * Integer weights keep every distance exact int64, so the compare has
    * no float tolerance in play at all. `rounds` caps relaxation; the
    * fixpoint stop makes any cap ≥ the convergence round equivalent, so
    * the oracle unrolls exactly `rounds` stages and matches.
    */
  def sssp(root: Long, rounds: Int)(spark: SparkSession, dir: String): DataFrame = {
    val e = edgesDf(spark, dir).select(
      col("src"), col("dst"),
      (((col("src") * 7 + col("dst") * 13) % 10) + 1).as("w"))
    val roots = spark.range(1).select(lit(root).as("id"))
    Sssp.run(e, roots, maxRounds = rounds)
  }

  def ssspSql(root: Long, rounds: Int): String = {
    val stages = (1 to rounds).map { k =>
      s"""r$k AS (
         |  SELECT e.dst AS id, min(d.dist + e.w) AS cand
         |  FROM d${k - 1} d JOIN wedges e ON e.src = d.id GROUP BY e.dst
         |),
         |d$k AS MATERIALIZED (
         |  SELECT coalesce(d.id, r.id) AS id,
         |         CAST(least(coalesce(d.dist, r.cand), coalesce(r.cand, d.dist)) AS BIGINT) AS dist
         |  FROM d${k - 1} d FULL JOIN r$k r ON d.id = r.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |wedges AS MATERIALIZED (
       |  SELECT src, dst, ((src * 7 + dst * 13) % 10) + 1 AS w FROM edges),
       |d0 AS (SELECT CAST($root AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist),
       |$stages
       |SELECT id, dist FROM d$rounds""".stripMargin
  }

  def cc(spark: SparkSession, dir: String): DataFrame =
    ccShared(spark, dir)

  // Weak components from the symmetric bitstring closure (see
  // bitReachChain): comp = min member of the reachable set.
  lazy val ccSql: String =
    s"""WITH $edgesSql,
       |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${bitReachChain("sym", "s")}
       |SELECT r.src AS id, min(n.id) AS comp
       |FROM sreach r JOIN nodes n ON get_bit(r.bs, CAST(n.id AS INTEGER)) = 1
       |GROUP BY r.src""".stripMargin

  def ccSizes(spark: SparkSession, dir: String): DataFrame = {
    val comps = ccShared(spark, dir)
    ConnectedComponents
      .sortBySize(comps)
      .select(col("comp"), col("size"), col("rank").cast("long").as("rank"))
      .distinct()
  }

  lazy val ccSizesSql: String =
    s"""WITH $edgesSql,
       |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${bitReachChain("sym", "s")},
       |cc AS (
       |  SELECT r.src AS id, min(n.id) AS comp
       |  FROM sreach r JOIN nodes n ON get_bit(r.bs, CAST(n.id AS INTEGER)) = 1
       |  GROUP BY r.src
       |),
       |sizes AS (SELECT comp, count(*) AS size FROM cc GROUP BY comp)
       |SELECT comp, size,
       |       dense_rank() OVER (ORDER BY size DESC, comp ASC) - 1 AS rank
       |FROM sizes""".stripMargin

  /** PageRank, exactly `iters` power iterations, ranks rounded to 8 dp
    * (both engines do the identical algebra; rounding absorbs
    * last-ulp summation-order differences).
    */
  def pagerank(iters: Int)(spark: SparkSession, dir: String): DataFrame = {
    val res =
      if (iters == PrDeltaIters) pr5Shared(spark, dir)
      else PageRank.run(graph(spark, dir), tol = 0.0, maxIter = iters)
    res.ranks.select(col("id"), round(col("rank"), 8).as("rank"))
  }

  /** One 5-iteration run shared by g_pagerank5 (its `.ranks`) and
    * g_pr_deltas (its `.history`) — the same (graph, α, fixed-5) job,
    * so running it twice per gate/bench pass was pure duplicate work.
    */
  private def pr5Shared(spark: SparkSession, dir: String): PageRank.Result =
    memoized(spark, s"pr5:$dir") {
      PageRank.run(graph(spark, dir), tol = 0.0, maxIter = PrDeltaIters)
    }

  /** Iterations of the g_pr_deltas face (one row per superstep). */
  val PrDeltaIters = 5

  /** The engine's per-superstep convergence METRICS, driver-verified:
    * each [[graft.core.SuperstepMetrics.deltaNorm]] the PageRank loop
    * recorded (the L1 norm Σ|pr_k − pr_{k−1}| its stop rule divides on,
    * and the north rule's per-iteration lineage metric) is compared to
    * an independent DuckDB recomputation of the same norm from the
    * unrolled rank stages. This pins the RESUMABILITY telemetry, not
    * just the final ranks: a bug that skewed the recorded delta (wrong
    * join, pre-/post-cut mixup, a lost dangling term) would corrupt
    * convergence detection and checkpoint metadata while leaving
    * g_pagerank5's final answer untouched — and would surface here.
    */
  def prDeltas(spark: SparkSession, dir: String): DataFrame = {
    val r = pr5Shared(spark, dir)
    import spark.implicits._
    r.history.map(m => (m.iteration.toLong, m.deltaNorm)).toDF("iter", "delta")
      .select(col("iter"), round(col("delta"), 8).as("delta"))
  }

  /** Oracle: the SAME unrolled rank stages as g_pagerank5
    * ([[prStagesSql]], composed not sliced), one L1-difference aggregate
    * per adjacent stage pair; round(8) absorbs summation-order ulps.
    */
  lazy val prDeltasSql: String = {
    val deltas = (1 to PrDeltaIters).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS iter,
         |       round(sum(abs(a.rank - b.rank)), 8) AS delta
         |FROM pr$k a JOIN pr${k - 1} b ON a.id = b.id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |ndeg AS (SELECT n.id, coalesce(od.c, 0) AS deg FROM nodes n LEFT JOIN od ON n.id = od.id),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT id, 1.0 / cnt.n AS rank, deg FROM ndeg CROSS JOIN cnt),
       |${prStagesSql(PrDeltaIters, "edges", "ndeg", "cnt", "pr")}
       |$deltas""".stripMargin
  }

  /** Mid-run resume, driver-verified: iterate 2 supersteps committing
    * every superstep to the durable snapshot layer, then a SECOND
    * `PageRank.run` over the same checkpoint dir — it must pick the run
    * up at iteration 2 ([[graft.core.IterationContext.resume]]) and
    * finish 3..5; the result must be EXACTLY plain 5-iteration PageRank
    * (same oracle as g_pagerank5). A `require` pins that the second run
    * executed ≤ 3 supersteps, so a silently-broken resume (falling back
    * to a fresh start) fails the query loudly instead of passing on the
    * init-independent fixpoint. This is the north rule's "resumable
    * mid-iteration with per-partition lineage" as a gate row, not just
    * a spec ([[graft.core.TableIO]] snapshots; `CheckpointResumeSpec`
    * covers the same path at fixture scale).
    */
  def prResume(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pr_resume_")
    try {
      val cfg = Some(graft.core.CheckpointConfig(ckpt.toString, every = 1))
      PageRank.run(g, tol = 0.0, maxIter = 2, checkpoint = cfg)
      val resumed = PageRank.run(g, tol = 0.0, maxIter = PrDeltaIters, checkpoint = cfg)
      require(resumed.history.size <= PrDeltaIters - 2,
        s"resume did not engage: ran ${resumed.history.size} supersteps from scratch")
      // Eager cut: the returned frame must not depend on the snapshot
      // files the finally-block deletes.
      resumed.ranks.select(col("id"), round(col("rank"), 8).as("rank"))
        .localCheckpoint(true)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(ckpt.toFile)
    }
  }

  /** Unrolled k-stage PageRank oracle in portable SQL. */
  /** Unrolled PageRank stage chain over caller-named prelude CTEs —
    * shared by the lineitem-derived `g_pagerank5` oracle and the
    * host-graph `i_host_rank` oracle (IngestQueries), which differ only
    * in how the edge set / nodes / degrees are derived. The caller's
    * prelude must define `$edges(src,dst)`, `$ndeg(id,deg)`, `$cnt(n)`
    * and the initial state `${prefix}0(id,rank,deg)`.
    */
  private[queries] def prStagesSql(iters: Int, edges: String, ndeg: String,
                                   cnt: String, prefix: String): String =
    (1 to iters).map { k =>
      val p = s"$prefix${k - 1}"
      s"""$prefix$k AS (
         |  SELECT n.id,
         |         (0.15 / $cnt.n) + 0.85 * (coalesce(c.contrib, 0) + d.dang / $cnt.n) AS rank,
         |         n.deg
         |  FROM $ndeg n
         |  CROSS JOIN $cnt
         |  CROSS JOIN (SELECT coalesce(sum(rank), 0) AS dang FROM $p WHERE deg = 0) d
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.rank / p.deg) AS contrib
         |    FROM $p p JOIN $edges e ON e.src = p.id
         |    WHERE p.deg > 0
         |    GROUP BY e.dst
         |  ) c ON c.id = n.id
         |)""".stripMargin
    }.mkString(",\n")

  def pagerankSql(iters: Int): String =
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |ndeg AS (SELECT n.id, coalesce(od.c, 0) AS deg FROM nodes n LEFT JOIN od ON n.id = od.id),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT id, 1.0 / cnt.n AS rank, deg FROM ndeg CROSS JOIN cnt),
       |${prStagesSql(iters, "edges", "ndeg", "cnt", "pr")}
       |SELECT id, round(rank, 8) AS rank FROM pr$iters""".stripMargin

  /** Personalized PageRank from the 5 smallest vertex ids (a
    * deterministic stand-in for a user's seed set), `iters` power
    * iterations, dangling mass to the teleport vector
    * ([[PageRank.runPersonalized]]).
    */
  def ppr(iters: Int)(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val srcs = g.vertices.toDF("id").orderBy(col("id")).limit(5)
    PageRank.runPersonalized(g, srcs, iterations = iters)
      .select(col("id"), round(col("rank"), 8).as("rank"))
  }

  /** Unrolled PPR oracle. All constants CAST to DOUBLE (DuckDB decimal
    * literals would otherwise run decimal arithmetic); `1.0 - 0.85`
    * written as the subtraction so both engines produce the identical
    * double (≠ the literal 0.15 by one ulp; round(8) absorbs it anyway).
    */
  def pprSql(iters: Int): String = {
    val a = "CAST(0.85 AS DOUBLE)"
    val stages = (1 to iters).map { k =>
      val p = if (k == 1) "ppr0" else s"ppr${k - 1}"
      s"""ppr$k AS (
         |  SELECT t.id,
         |         (CAST(1.0 AS DOUBLE) - $a) * t.tele
         |           + $a * (coalesce(c.contrib, 0) + d.dang * t.tele) AS rank,
         |         t.deg, t.tele
         |  FROM tele t
         |  CROSS JOIN (SELECT coalesce(sum(rank), 0) AS dang FROM $p WHERE deg = 0) d
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.rank / p.deg) AS contrib
         |    FROM $p p JOIN edges e ON e.src = p.id
         |    WHERE p.deg > 0
         |    GROUP BY e.dst
         |  ) c ON c.id = t.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |ndeg AS (SELECT n.id, coalesce(od.c, 0) AS deg FROM nodes n LEFT JOIN od ON n.id = od.id),
       |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 5),
       |cs AS (SELECT count(*) AS c FROM srcs),
       |tele AS (
       |  SELECT n.id, n.deg,
       |         CASE WHEN s.id IS NOT NULL THEN CAST(1.0 AS DOUBLE) / cs.c
       |              ELSE CAST(0.0 AS DOUBLE) END AS tele
       |  FROM ndeg n LEFT JOIN srcs s ON n.id = s.id CROSS JOIN cs
       |),
       |ppr0 AS (SELECT id, tele AS rank, deg, tele FROM tele),
       |$stages
       |SELECT id, round(rank, 8) AS rank FROM ppr$iters""".stripMargin
  }

  /** Spam-mass estimation (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004
    * — TrustRank): smass(v) = (PR(v) − TR(v)) / PR(v), where TR is
    * PageRank personalized to a trusted seed set (here: the top-5
    * out-degree vertices, ties to the smaller id — the deterministic
    * stand-in for a hand-vetted whitelist). Pages whose rank comes
    * mostly from outside the trust neighborhood (smass → 1) are the
    * link-spam candidates. Pure composition: two existing superstep
    * operators + one join + one division — PR > 0 always (the (1−α)/n
    * base), so the ratio is total; round(6) absorbs summation-order
    * ulps exactly as the PR/PPR gate faces do.
    */
  def spamMass(iters: Int)(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = graph(spark, dir)
    val seeds = g.outDegrees.orderBy($"deg".desc, $"id".asc).limit(5).select($"id")
    val pr = PageRank.runFixed(g, iters).withColumnRenamed("rank", "pr")
    val tr = PageRank.runPersonalized(g, seeds, iterations = iters)
      .withColumnRenamed("rank", "tr")
    pr.join(tr, Seq("id"))
      .select($"id", round(($"pr" - $"tr") / $"pr", 6).as("spam_mass"))
  }

  /** Oracle: the [[pagerankSql]] stage chain and a trust-seeded
    * [[pprSql]]-shaped chain composed in one WITH list, ratio on the
    * RAW (unrounded) final stages.
    */
  def spamMassSql(iters: Int): String = {
    val a = "CAST(0.85 AS DOUBLE)"
    val trStages = (1 to iters).map { k =>
      val p = s"tr${k - 1}"
      s"""tr$k AS (
         |  SELECT t.id,
         |         (CAST(1.0 AS DOUBLE) - $a) * t.tele
         |           + $a * (coalesce(c.contrib, 0) + d.dang * t.tele) AS rank,
         |         t.deg, t.tele
         |  FROM tele t
         |  CROSS JOIN (SELECT coalesce(sum(rank), 0) AS dang FROM $p WHERE deg = 0) d
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.rank / p.deg) AS contrib
         |    FROM $p p JOIN edges e ON e.src = p.id
         |    WHERE p.deg > 0
         |    GROUP BY e.dst
         |  ) c ON c.id = t.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |od AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |ndeg AS (SELECT n.id, coalesce(od.c, 0) AS deg FROM nodes n LEFT JOIN od ON n.id = od.id),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT id, 1.0 / cnt.n AS rank, deg FROM ndeg CROSS JOIN cnt),
       |${prStagesSql(iters, "edges", "ndeg", "cnt", "pr")},
       |srcs AS (SELECT id FROM ndeg ORDER BY deg DESC, id ASC LIMIT 5),
       |cs AS (SELECT count(*) AS c FROM srcs),
       |tele AS (
       |  SELECT n.id, n.deg,
       |         CASE WHEN s.id IS NOT NULL THEN CAST(1.0 AS DOUBLE) / cs.c
       |              ELSE CAST(0.0 AS DOUBLE) END AS tele
       |  FROM ndeg n LEFT JOIN srcs s ON n.id = s.id CROSS JOIN cs
       |),
       |tr0 AS (SELECT id, tele AS rank, deg, tele FROM tele),
       |$trStages
       |SELECT p.id, round((p.rank - t.rank) / p.rank, 6) AS spam_mass
       |FROM pr$iters p JOIN tr$iters t ON t.id = p.id""".stripMargin
  }

  /** Deterministic random walks, one per vertex, `steps` hops
    * ([[RandomWalk.run]]) — long-form (start, step, node).
    */
  def walks(steps: Int)(spark: SparkSession, dir: String): DataFrame =
    RandomWalk.run(graph(spark, dir), steps)

  /** Oracle replays the walk exactly: sorted-successor index via
    * row_number, hop choice = md5-prefix hash of "cur:step" mod outdeg,
    * dead ends absorb.
    */
  /** The walk-replay CTE prelude (everything up to the final select) and
    * the long-form output select, factored so [[walksSql]] and
    * [[skipgramSql]] COMPOSE the chain instead of substring-slicing one
    * SQL string out of the other (the effDiameterSql indexOf lesson).
    */
  private def walkChainSql(steps: Int): (String, String) = {
    val stages = (1 to steps).map { t =>
      val p = s"w${t - 1}"
      s"""w$t AS (
         |  SELECT w.start,
         |         coalesce(s.dst, w.cur) AS cur
         |  FROM $p w
         |  LEFT JOIN od d ON d.id = w.cur
         |  LEFT JOIN sidx s ON s.src = w.cur
         |    AND s.idx = CAST(('0x' || substring(md5(w.cur || ':' || $t), 1, 15)) AS BIGINT) % d.deg
         |)""".stripMargin
    }.mkString(",\n")
    val out = (0 to steps)
      .map(t => s"SELECT start, CAST($t AS BIGINT) AS step, cur AS node FROM w$t")
      .mkString("\nUNION ALL ")
    val prelude =
      s"""WITH $edgesSql,
         |sidx AS (
         |  SELECT src, dst,
         |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
         |  FROM edges
         |),
         |od AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
         |w0 AS (SELECT id AS start, id AS cur FROM nodes),
         |$stages""".stripMargin
    (prelude, out)
  }

  def walksSql(steps: Int): String = {
    val (prelude, out) = walkChainSql(steps)
    s"$prelude\n$out"
  }

  /** Skip-gram training pairs from the walk corpus — the step between
    * `g_walks4` and the embedding trainer (with `g_negsample512`
    * supplying the negatives, the data prep for DeepWalk/node2vec
    * embeddings is complete end-to-end): (center, context) for every
    * step pair within `window` hops of the same walk. One self-join of
    * the walk table on its walk id with a band predicate — the walk
    * table is tiny relative to the graph (walks × steps rows), and the
    * join key is the walk id, so pairs never touch the adjacency.
    */
  def skipgram(steps: Int, window: Int)(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = walks(steps)(spark, dir)
    val l = w.select($"start", $"step".as("s1"), $"node".as("center"))
    val r = w.select($"start", $"step".as("s2"), $"node".as("context"))
    l.join(r, Seq("start"))
      .where($"s1" =!= $"s2" && abs($"s1" - $"s2") <= window)
      .groupBy($"center", $"context")
      .agg(count(lit(1)).as("n"))
  }

  /** Oracle: the [[walkChainSql]] hop chain + the same banded self-join. */
  def skipgramSql(steps: Int, window: Int): String = {
    val (prelude, out) = walkChainSql(steps)
    s"""$prelude,
       |wk AS (
       |$out
       |)
       |SELECT l.node AS center, r.node AS context, count(*) AS n
       |FROM wk l JOIN wk r ON r.start = l.start
       |WHERE l.step <> r.step AND abs(l.step - r.step) <= $window
       |GROUP BY l.node, r.node""".stripMargin
  }

  /** node2vec-biased walks ([[RandomWalk.node2vec]]), one per vertex:
    * hop 1 uniform, later hops 2nd-order-biased with the dyadic defaults
    * p = 2, q = 4 so every cumulative weight is an EXACT double and the
    * compare needs no float tolerance at all (scaladoc there).
    */
  def node2vec(steps: Int)(spark: SparkSession, dir: String): DataFrame =
    RandomWalk.node2vec(graph(spark, dir), steps, salt = "n2v")

  /** Oracle replays every hop: hop 1 is the uniform sorted-successor
    * index pick (as [[walksSql]]); each biased hop builds the candidate
    * set (successors of cur), weights it 0.5 / 1.0 / 0.25 by the
    * return / N(prev) / explore cases, and selects min(x) among rows
    * whose running dst-ordered cumsum exceeds u·total — the same
    * first-crossing the Spark side takes.
    */
  def node2vecSql(steps: Int): String = {
    val u60 = "1152921504606846976.0" // 2^60, exact in double
    val biased = (2 to steps).map { t =>
      val w = s"n${t - 1}"
      s"""cand$t AS (
         |  SELECT w.start, w.prev, w.cur, e.dst AS x,
         |         CASE WHEN e.dst = w.prev THEN 0.5
         |              WHEN nb.src IS NOT NULL THEN 1.0
         |              ELSE 0.25 END AS wt
         |  FROM $w w
         |  JOIN edges e ON e.src = w.cur
         |  LEFT JOIN edges nb ON nb.src = w.prev AND nb.dst = e.dst),
         |sel$t AS (
         |  SELECT start, min(x) AS nxt FROM (
         |    SELECT start, x,
         |           sum(wt) OVER (PARTITION BY start ORDER BY x
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |           sum(wt) OVER (PARTITION BY start) AS tot,
         |           CAST(('0x' || substring(md5(start || ':' || prev || ':' || cur || ':n2v$t'), 1, 15)) AS BIGINT) / $u60 AS u
         |    FROM cand$t) z
         |  WHERE cum > u * tot
         |  GROUP BY start),
         |n$t AS (
         |  SELECT w.start, w.cur AS prev, coalesce(s.nxt, w.cur) AS cur
         |  FROM $w w LEFT JOIN sel$t s ON s.start = w.start)""".stripMargin
    }.mkString(",\n")
    val hop1 =
      s"""n1 AS (
         |  SELECT w.start, w.start AS prev, coalesce(s.dst, w.cur) AS cur
         |  FROM n0 w
         |  LEFT JOIN od d ON d.id = w.cur
         |  LEFT JOIN sidx s ON s.src = w.cur
         |    AND s.idx = CAST(('0x' || substring(md5(w.cur || ':n2v1'), 1, 15)) AS BIGINT) % d.deg
         |)""".stripMargin
    val out = (0 to steps)
      .map(t => s"SELECT start, CAST($t AS BIGINT) AS step, cur AS node FROM n$t")
      .mkString("\nUNION ALL ")
    s"""WITH $edgesSql,
       |sidx AS (
       |  SELECT src, dst,
       |         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
       |  FROM edges
       |),
       |od AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |n0 AS (SELECT id AS start, id AS prev, id AS cur FROM nodes),
       |$hop1,
       |$biased
       |$out""".stripMargin
  }

  /** HITS hubs & authorities, `iters` full a-then-h rounds, L1-normalized
    * ([[Hits.run]]); 8-dp rounding absorbs summation-order ulps.
    */
  def hits(iters: Int)(spark: SparkSession, dir: String): DataFrame =
    Hits.run(graph(spark, dir), iterations = iters)
      .select(col("id"),
        round(col("hub"), 8).as("hub"),
        round(col("auth"), 8).as("auth"))

  /** Unrolled HITS oracle: each half-step is a join-aggregate plus an L1
    * normalizer CTE; `CASE WHEN s > 0` degrades an edgeless direction to
    * all-zeros exactly as the Scala side does.
    */
  def hitsSql(iters: Int): String = {
    // One half-step: out(v) = Σ over edges of in(neighbour), L1-normalized.
    // `fromEdge`/`toEdge` pick the direction (auth gathers over src→dst,
    // hub over dst→src); `inCol`/`outCol` are the score column names.
    def half(out: String, in: String, fromEdge: String, toEdge: String,
             inCol: String, outCol: String): String =
      s"""${out}r AS (
         |  SELECT e.$toEdge AS id, sum(p.$inCol) AS $outCol
         |  FROM $in p JOIN edges e ON e.$fromEdge = p.id GROUP BY e.$toEdge
         |),
         |${out}n AS (
         |  SELECT n.id, coalesce(r.$outCol, CAST(0 AS DOUBLE)) AS $outCol
         |  FROM nodes n LEFT JOIN ${out}r r ON n.id = r.id
         |),
         |${out}s AS (SELECT sum($outCol) AS s FROM ${out}n),
         |$out AS (
         |  SELECT id, CASE WHEN s.s > 0 THEN $outCol / s.s
         |                  ELSE CAST(0 AS DOUBLE) END AS $outCol
         |  FROM ${out}n CROSS JOIN ${out}s s
         |)""".stripMargin
    val stages = (1 to iters).flatMap { k =>
      val prevH = if (k == 1) "h0" else s"h${k - 1}"
      Seq(
        half(s"a$k", prevH, "src", "dst", "h", "a"),
        half(s"h$k", s"a$k", "dst", "src", "a", "h"))
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |h0 AS (SELECT id, CAST(1 AS DOUBLE) AS h FROM nodes),
       |$stages
       |SELECT h.id, round(h.h, 8) AS hub, round(a.a, 8) AS auth
       |FROM h$iters h JOIN a$iters a ON h.id = a.id""".stripMargin
  }

  /** SALSA ([[Salsa.run]]): HITS's random-walk sibling — scores split by
    * degree before gathering; same 8-dp rounding contract as [[hits]].
    */
  def salsa(iters: Int)(spark: SparkSession, dir: String): DataFrame =
    Salsa.run(graph(spark, dir), iterations = iters)
      .select(col("id"),
        round(col("hub"), 8).as("hub"),
        round(col("auth"), 8).as("auth"))

  /** Unrolled SALSA oracle: [[hitsSql]]'s half-step with the gather
    * source's score divided by its degree in the gather direction
    * (outdeg for the a-step, indeg for the h-step). Vertices absent from
    * the degree table are dangling in that direction and contribute
    * nothing (inner join), exactly like the adjacency join in Scala.
    */
  def salsaSql(iters: Int): String = {
    def half(out: String, in: String, fromEdge: String, toEdge: String,
             inCol: String, outCol: String, degTable: String): String =
      s"""${out}r AS (
         |  SELECT e.$toEdge AS id, sum(p.$inCol / d.c) AS $outCol
         |  FROM $in p
         |  JOIN $degTable d ON d.id = p.id
         |  JOIN edges e ON e.$fromEdge = p.id
         |  GROUP BY e.$toEdge
         |),
         |${out}n AS (
         |  SELECT n.id, coalesce(r.$outCol, CAST(0 AS DOUBLE)) AS $outCol
         |  FROM nodes n LEFT JOIN ${out}r r ON n.id = r.id
         |),
         |${out}s AS (SELECT sum($outCol) AS s FROM ${out}n),
         |$out AS (
         |  SELECT id, CASE WHEN s.s > 0 THEN $outCol / s.s
         |                  ELSE CAST(0 AS DOUBLE) END AS $outCol
         |  FROM ${out}n CROSS JOIN ${out}s s
         |)""".stripMargin
    val stages = (1 to iters).flatMap { k =>
      val prevH = if (k == 1) "h0" else s"h${k - 1}"
      Seq(
        half(s"a$k", prevH, "src", "dst", "h", "a", "sod"),
        half(s"h$k", s"a$k", "dst", "src", "a", "h", "sid"))
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |sod AS MATERIALIZED (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
       |sid AS MATERIALIZED (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst),
       |h0 AS (SELECT id, CAST(1 AS DOUBLE) AS h FROM nodes),
       |$stages
       |SELECT h.id, round(h.h, 8) AS hub, round(a.a, 8) AS auth
       |FROM h$iters h JOIN a$iters a ON h.id = a.id""".stripMargin
  }

  /** Per-edge triangle supports over the canonical undirected simple
    * graph, computed once per (session, dir) — the shared base of
    * g_truss_support, g_triangles, g_tri_per_vertex and g_clustering:
    * Σ_e support(e) = 3·T (each triangle has 3 edges) and
    * Σ_{e∋v} support(e) = 2·T(v) (each triangle at v spans 2 incident
    * edges), so every triangle query is a projection of this table.
    * Cap-guarded local-exact ([[TriangleCount.edgeSupport]]'s
    * `localFinishEdges`): the dense derived gate face pays one driver
    * bitset pass instead of four wedge-join plans per bench run.
    */
  private def supportShared(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"support:$dir") {
      val df = TriangleCount.edgeSupport(graph(spark, dir),
        localFinishEdges = LocalGraph.QueryCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  def triangles(spark: SparkSession, dir: String): DataFrame =
    supportShared(spark, dir)
      .agg(coalesce((sum(col("support")) / lit(3)).cast("long"), lit(0L))
        .as("triangles"))

  /** Shared orientation prelude for the triangle oracles. */
  private val orientSql: String =
    s"""und AS (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM edges WHERE src <> dst
       |),
       |deg AS (
       |  SELECT id, count(*) AS deg
       |  FROM (SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und) t
       |  GROUP BY id
       |),
       |o AS (
       |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS src,
       |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS dst
       |  FROM und JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v
       |),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  JOIN und e3 ON e3.u = e1.dst AND e3.v = e2.dst
       |)""".stripMargin

  val trianglesSql: String =
    s"""WITH $edgesSql,
       |$orientSql
       |SELECT count(*) AS triangles FROM tri""".stripMargin

  /** Per-vertex triangle counts, computed once per (session, dir) —
    * shared by g_tri_per_vertex and g_clustering (the coefficient is a
    * projection over the same counts).
    */
  private def triPerVertexShared(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"tripv:$dir") {
      // T(v) = Σ_{e∋v} support(e) / 2 — a projection of the shared
      // support table, replacing a second full wedge-join plan.
      val counts = supportShared(spark, dir)
        .select(explode(array(col("u"), col("v"))).as("id"), col("support"))
        .groupBy(col("id"))
        .agg((sum(col("support")) / lit(2)).cast("long").as("triangles"))
      graph(spark, dir).vertices.toDF("id")
        .join(counts, Seq("id"), "left")
        .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def triPerVertex(spark: SparkSession, dir: String): DataFrame =
    triPerVertexShared(spark, dir)

  val triPerVertexSql: String =
    s"""WITH $edgesSql,
       |$orientSql,
       |pv AS (
       |  SELECT id, count(*) AS triangles
       |  FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) t
       |  GROUP BY id
       |)
       |SELECT n.id, coalesce(pv.triangles, 0) AS triangles
       |FROM nodes n LEFT JOIN pv ON n.id = pv.id""".stripMargin

  /** Per-edge triangle support over the undirected simple graph — the
    * k-truss peeling signal ([[graft.operators.TriangleCount.edgeSupport]]).
    */
  def trussSupport(spark: SparkSession, dir: String): DataFrame =
    supportShared(spark, dir)

  val trussSupportSql: String =
    s"""WITH $edgesSql,
       |$orientSql,
       |sup AS (
       |  SELECT u, v, count(*) AS support FROM (
       |    SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri
       |    UNION ALL SELECT least(a, c), greatest(a, c) FROM tri
       |    UNION ALL SELECT b, c FROM tri
       |  ) t GROUP BY u, v
       |)
       |SELECT und.u, und.v, coalesce(sup.support, 0) AS support
       |FROM und LEFT JOIN sup ON und.u = sup.u AND und.v = sup.v""".stripMargin

  /** Local clustering coefficient — c(v) = 2·T(v) / (d(v)·(d(v)−1)) over
    * the undirected simple graph (self-loops dropped), 0 when d < 2. The
    * coefficient is ONE IEEE division of exact integers (2·T and d·(d−1)
    * are exact in double), so the raw double is bit-identical
    * cross-engine — no rounding, per the [[TextQueries]] float-contract
    * analysis. Composition of the shared triangle count and a degree
    * aggregation; no new shuffle shape.
    */
  def clustering(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val deg = g.symmetrize.edges.toDF()
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    triPerVertexShared(spark, dir)
      .join(deg, Seq("id"), "left")
      .select(col("id"), col("triangles"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          lit(2.0) * col("triangles") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
  }

  val clusteringSql: String =
    s"""WITH $edgesSql,
       |$orientSql,
       |pv AS (
       |  SELECT id, count(*) AS triangles
       |  FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) t
       |  GROUP BY id
       |)
       |SELECT n.id,
       |       coalesce(pv.triangles, 0) AS triangles,
       |       coalesce(deg.deg, 0) AS deg,
       |       CASE WHEN coalesce(deg.deg, 0) >= 2
       |            THEN CAST(2 AS DOUBLE) * coalesce(pv.triangles, 0)
       |                 / (deg.deg * (deg.deg - 1))
       |            ELSE CAST(0 AS DOUBLE) END AS clustering
       |FROM nodes n
       |LEFT JOIN pv ON n.id = pv.id
       |LEFT JOIN deg ON n.id = deg.id""".stripMargin

  def bfs(root: Long)(spark: SparkSession, dir: String): DataFrame =
    Bfs.distances(graph(spark, dir), Seq(root))

  def bfsSql(root: Long): String =
    s"""WITH RECURSIVE $edgesSql,
       |walk(id, d) AS (
       |  SELECT CAST($root AS BIGINT), 0
       |  UNION
       |  SELECT e.dst, walk.d + 1 FROM walk JOIN edges e ON e.src = walk.id WHERE walk.d < 60
       |)
       |SELECT id, min(d) AS dist FROM walk GROUP BY id""".stripMargin

  /** Distributed FB-Trim SCC; oracle = full reachability closure
    * (u,v same SCC ⟺ mutual reachability), labels = min member id.
    */
  def scc(spark: SparkSession, dir: String): DataFrame =
    sccShared(spark, dir)

  lazy val sccSql: String =
    s"""WITH $edgesSql,
       |${bitReachChain("edges", "d")},
       |${bitSccSql("d")}
       |SELECT id, comp FROM scc""".stripMargin

  /** Bitstring-based reachability rounds (DuckDB-only, like the engine's
    * other oracle idioms — `epoch`, `time_bucket`; the driver runs oracles
    * in DuckDB, never Spark): per-source reachable SETS as N-bit
    * `bitstring_agg` bitmaps, one `bit_or` merge join per level. Each
    * level costs |E| fixed-width (N/8-byte) ORs — independent of how many
    * pairs are reachable — where the pair-table frontier chain it
    * replaced (r3's `bfsDistChain`) paid |frontier pairs| × degree join
    * tuples per level (~100M on this dense derived graph: profiled 17–44 s per
    * query at sf0.01, ~80 s of the r3 gate's budget across g_ecc /
    * g_ecc_undir / g_bowtie; this form is ~0.6 s for the same result).
    *
    * Produces CTEs `{p}b0..{p}b{cap}` (reachable-within-k bitmaps, self
    * included at k=0) and `{p}reach` (= level `cap`, the full closure for
    * cap ≥ diameter). Ids are `% $N` ∈ [0, N), so the agg bounds are the
    * constants DuckDB requires; membership tests are
    * `get_bit(bs, CAST(v AS INTEGER)) = 1` (value = position under
    * min=0). Several chains compose in ONE plain WITH list (prefix `p`
    * disambiguates) — and nothing is recursive, so the DuckDB
    * WITH-RECURSIVE quirk that turns sibling UNIONs into UNION ALL
    * (see [[bowtieSql]] history) no longer applies.
    */
  private def bitReachChain(rel: String, p: String, cap: Int = 10,
                            nodesRel: String = "nodes"): String = {
    val rounds = (1 to cap).map { k =>
      s"""${p}n$k AS (
         |  SELECT e.src, bit_or(r.bs) AS nbs
         |  FROM $rel e JOIN ${p}b${k - 1} r ON r.src = e.dst GROUP BY e.src
         |), ${p}b$k AS MATERIALIZED (
         |  SELECT r.src, r.bs | coalesce(n.nbs, r.bs) AS bs
         |  FROM ${p}b${k - 1} r LEFT JOIN ${p}n$k n ON n.src = r.src
         |)""".stripMargin
    }.mkString(",\n")
    s"""${p}b0 AS MATERIALIZED (
       |  SELECT id AS src, bitstring_agg(id, 0, ${N - 1}) AS bs
       |  FROM $nodesRel GROUP BY id
       |),
       |$rounds,
       |${p}reach AS MATERIALIZED (SELECT src, bs FROM ${p}b$cap)""".stripMargin
  }

  /** Eccentricity tail over a [[bitReachChain]]: the reachable-set sizes
    * are monotone per source, so ecc(s) = first level whose popcount
    * equals the final one (exact for cap ≥ diameter, the same margin
    * contract as the chain itself). Produces `{p}ecc(id, ecc)`.
    */
  private def bitEccTail(p: String, cap: Int = 10): String = {
    val pcU = (0 to cap)
      .map(k => s"SELECT src, $k AS k, bit_count(bs) AS c FROM ${p}b$k")
      .mkString("\n  UNION ALL ")
    s"""${p}pc AS (
       |  $pcU
       |),
       |${p}fin AS (SELECT src, max(c) AS cfin FROM ${p}pc GROUP BY src),
       |${p}ecc AS MATERIALIZED (
       |  SELECT q.src AS id, min(q.k) AS ecc
       |  FROM ${p}pc q JOIN ${p}fin f ON f.src = q.src AND q.c = f.cfin
       |  GROUP BY q.src
       |)""".stripMargin
  }

  /** Pair-distance tail over a [[bitReachChain]]: dist(s, v) = first
    * level whose bitmap contains v. Produces `dist(src, id, dist)` —
    * the same relation the old unrolled frontier chain built,
    * at (levels × N²) get_bit probes instead of pair-table joins.
    */
  private def bitDistTail(p: String, cap: Int = 10): String = {
    val lvls = (0 to cap)
      .map(k => s"SELECT src, $k AS k, bs FROM ${p}b$k")
      .mkString("\n  UNION ALL ")
    s"""dist AS MATERIALIZED (
       |  SELECT l.src, n.id, min(l.k) AS dist
       |  FROM (
       |  $lvls
       |  ) l JOIN nodes n ON get_bit(l.bs, CAST(n.id AS INTEGER)) = 1
       |  GROUP BY l.src, n.id
       |)""".stripMargin
  }

  /** Mutual-reachability SCC labels from a [[bitReachChain]]: one
    * N×N `get_bit` pair probe instead of a pair-table self-join.
    * Produces `scc(id, comp)`, comp = min member id.
    */
  private def bitSccSql(p: String): String =
    s"""scc AS MATERIALIZED (
       |  SELECT r1.src AS id, min(r2.src) AS comp
       |  FROM ${p}reach r1 JOIN ${p}reach r2
       |    ON get_bit(r1.bs, CAST(r2.src AS INTEGER)) = 1
       |   AND get_bit(r2.bs, CAST(r1.src AS INTEGER)) = 1
       |  GROUP BY r1.src
       |)""".stripMargin

  def ecc(spark: SparkSession, dir: String): DataFrame =
    essShared(spark, dir).ecc

  lazy val eccSql: String =
    s"""WITH $edgesSql,
       |${bitReachChain("edges", "d")},
       |${bitEccTail("d")}
       |SELECT id, ecc FROM decc""".stripMargin

  /** Undirected ExactSumSweep ([[SumSweep.computeUndirected]] — the
    * reference's `compute_undirected` path) on the symmetrized derived
    * graph; CC shared with g_cc (the weak components of the directed
    * graph ARE the components of its symmetrization).
    */
  def eccUndirected(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"essu:$dir") {
      SumSweep.computeUndirected(symGraph(spark, dir),
        SumSweep.Output.AllForward, components = Some(ccShared(spark, dir)),
        localFinishEdges = LocalGraph.QueryCap)
        .ecc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Same unrolled BFS over the SYMMETRIZED arcs (diameter ≤4 measured;
    * the cap-10 margin holds independently of the directed measurement —
    * symmetrization can lengthen finite paths between previously
    * mutually-unreachable pairs).
    */
  lazy val eccUndirectedSql: String =
    s"""WITH $edgesSql,
       |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${bitReachChain("sym", "u")},
       |${bitEccTail("u")}
       |SELECT id, ecc FROM uecc""".stripMargin

  /** Exact per-vertex reachable-set size (the exact form of HyperBall's
    * per-vertex ball size; HyperBall itself is spec-verified — its hash
    * isn't portable to SQL). Computed via SCC condensation
    * ([[Reachability]]), not an all-pairs closure.
    */
  def reach(spark: SparkSession, dir: String): DataFrame =
    Reachability.counts(graph(spark, dir), Some(sccShared(spark, dir)))

  lazy val reachSql: String =
    s"""WITH $edgesSql,
       |${bitReachChain("edges", "d")}
       |SELECT src AS id, CAST(bit_count(bs) AS BIGINT) AS reach FROM dreach""".stripMargin

  def radiusDiameter(spark: SparkSession, dir: String): DataFrame = {
    val ess = essShared(spark, dir)
    val r = Eccentricity.fromEcc(ess.ecc, ess.radial)
    import spark.implicits._
    Seq((r.radius, r.radiusVertex, r.diameter, r.diameterVertex))
      .toDF("radius", "radius_vertex", "diameter", "diameter_vertex")
  }

  lazy val radiusDiameterSql: String =
    s"""WITH $edgesSql,
       |${bitReachChain("edges", "d")},
       |${bitEccTail("d")},
       |${bitSccSql("d")},
       |largest AS (
       |  SELECT comp FROM (SELECT comp, count(*) AS c FROM scc GROUP BY comp
       |                    ORDER BY c DESC, comp ASC LIMIT 1) t
       |),
       |radial AS MATERIALIZED (
       |  SELECT r.src AS id FROM dreach r, largest l
       |  WHERE get_bit(r.bs, CAST(l.comp AS INTEGER)) = 1
       |)
       |SELECT
       |  (SELECT e.ecc FROM decc e JOIN radial r ON e.id = r.id ORDER BY e.ecc ASC, e.id ASC LIMIT 1) AS radius,
       |  (SELECT e.id  FROM decc e JOIN radial r ON e.id = r.id ORDER BY e.ecc ASC, e.id ASC LIMIT 1) AS radius_vertex,
       |  (SELECT ecc FROM decc ORDER BY ecc DESC, id ASC LIMIT 1) AS diameter,
       |  (SELECT id  FROM decc ORDER BY ecc DESC, id ASC LIMIT 1) AS diameter_vertex""".stripMargin

  /** Kahn topological layering on the acyclic sub-graph derived with
    * jumps ≥ 13 (the original round-1 derivation, restored now that the
    * peel keeps an in-degree delta state instead of rewriting the edge
    * set every round). Layer = longest-path length to the vertex —
    * exactly the peel round.
    */
  def topoLayers(spark: SparkSession, dir: String): DataFrame = {
    val dag = edgesDf(spark, dir).filter(col("src") < col("dst") && col("dst") - col("src") >= 13)
    // localFinishVertices: the 601-vertex derived DAG peels ~46 tiny
    // layers — per-layer driver latency dominates; finish on the driver
    // (TopoSort doc: the tarjanLocal-style cost-based small-graph policy;
    // TopoSpec asserts local == distributed).
    TopoSort.run(Graph.fromEdges(dag), localFinishVertices = 200000).layers
  }

  val topoLayersSql: String =
    s"""WITH RECURSIVE $edgesSql,
       |dagedges AS (SELECT src, dst FROM edges WHERE src < dst AND dst - src >= 13),
       |dagnodes AS (SELECT src AS id FROM dagedges UNION SELECT dst FROM dagedges),
       |lp(id, d) AS (
       |  SELECT id, 0 FROM dagnodes
       |  UNION
       |  SELECT e.dst, lp.d + 1 FROM lp JOIN dagedges e ON e.src = lp.id
       |)
       |SELECT id, max(d) AS layer FROM lp GROUP BY id""".stripMargin

  /** One HyperBall run shared by g_hyperball (per-vertex stats) and
    * g_eff_diameter (the NF sequence) — same memo discipline as
    * ccShared/essShared.
    */
  private def hbShared(spark: SparkSession, dir: String): HyperBall.Result =
    memoized(spark, s"hyperball:$dir") {
      val r = HyperBall.run(graph(spark, dir), log2m = 6)
      r.stats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      r
    }

  def hyperball(spark: SparkSession, dir: String): DataFrame =
    hbShared(spark, dir).stats.drop("regs")

  /** Effective diameter at α=0.9 from HyperBall's neighbourhood function
    * (WebGraph-style linear interpolation, [[Eccentricity.effectiveDiameter]])
    * — THE web-graph distance statistic at the scale where exact diameter
    * sweeps stop paying (NF is one scalar per radius; the estimate costs
    * nothing beyond the HyperBall run itself).
    */
  def effDiameter(spark: SparkSession, dir: String): DataFrame = {
    val r = hbShared(spark, dir)
    val ed = Eccentricity.effectiveDiameter(r.neighbourhoodFunction, alpha = 0.9)
    val (meanDist, spid) = Eccentricity.distanceStats(r.neighbourhoodFunction)
    spark.range(1).select(
      lit(0.9).as("alpha"),
      lit(ed).as("eff_diameter"),
      lit(r.neighbourhoodFunction.last).as("nf_final"),
      lit(meanDist).as("mean_distance"),
      lit(spid).as("spid"))
  }

  /** Closed-form oracle: per-radius counts from the same distance-closure
    * sketch reconstruction as [[hyperballSql]]; NF(t) = Σ_v cnt(v,t); the
    * crossing index + linear interpolation replicated in scalar
    * subqueries. The engine's NF tail (iterations past the max distance
    * repeat the converged value under the monotone clamp) cannot move the
    * FIRST crossing, so both sides agree on the index.
    */
  // Composed from the SAME shared CTE chain as hyperballSql (ADVICE r3:
  // the old version sliced hyperballSql by indexOf, which any reformat
  // would break into a StringIndexOutOfBoundsException).
  lazy val effDiameterSql: String = {
    s"""$hyperballCoreSql,
       |nf AS (SELECT t, sum(c) AS f FROM cnt GROUP BY t),
       |fin AS (SELECT f AS fl FROM nf ORDER BY t DESC LIMIT 1),
       |x AS (SELECT min(t) AS tc FROM nf, fin WHERE f >= 0.9 * fl),
       |d AS (
       |  SELECT c1.t, c1.f - c0.f AS df
       |  FROM nf c1 JOIN nf c0 ON c0.t = c1.t - 1
       |),
       |mo AS (
       |  -- LEFT JOIN keeps the row when d is empty (single-radius graph):
       |  -- a bare "FROM d, fin" would collapse to zero rows and drop the
       |  -- whole result instead of reporting mean 0.
       |  SELECT coalesce(sum(t * df), 0.0) / fl AS mu,
       |         coalesce(sum(CAST(t AS DOUBLE) * t * df), 0.0) / fl AS m2
       |  FROM fin LEFT JOIN d ON TRUE GROUP BY fl
       |)
       |SELECT CAST(0.9 AS DOUBLE) AS alpha,
       |       CASE WHEN s.tc <= 0 THEN 0.0
       |            ELSE s.tc - 1 + (0.9 * s.fl - s.pf) / (s.cf - s.pf) END AS eff_diameter,
       |       s.fl AS nf_final,
       |       mo.mu AS mean_distance,
       |       CASE WHEN mo.mu > 0 THEN (mo.m2 - mo.mu * mo.mu) / mo.mu
       |            ELSE 0.0 END AS spid
       |FROM (SELECT x.tc, fin.fl,
       |             (SELECT f FROM nf WHERE t = x.tc - 1) AS pf,
       |             (SELECT f FROM nf WHERE t = x.tc) AS cf
       |      FROM x, fin) s, mo""".stripMargin
  }

  /** The shared CTE chain (edges … cnt) of the HyperBall oracles:
    * per-(vertex, radius) HLL count reconstruction from the distance
    * closure. Ends at `cnt(v, t, c)`; [[hyperballSql]] appends the
    * per-vertex centrality tail, [[effDiameterSql]] the NF/interpolation
    * tail (composed, not substring-sliced — ADVICE r3).
    *
    * No iteration is simulated: register-max merge is idempotent/
    * commutative/associative, so the sketch of v after t rounds is
    * EXACTLY the register-max over {u : d(v,u) ≤ t} — every per-radius
    * sketch falls out of the distance closure in closed form, and the
    * per-iteration count deltas give Σd / Σ1/d like the engine's
    * accumulators. The estimator hash (splitmix64, seed 42) is computed
    * in SQL: wrapping 64-bit multiply via 32-bit limbs in HUGEINT
    * (INT128 overflows on a full 64×64 product; DuckDB errors on
    * overflow rather than wrapping), ρ via log2 of the isolated lowest
    * set bit (exact — powers of two are exact doubles). Float tails
    * (register-sum order) differ at ~1 ulp; the driver compares with
    * rtol 1e-9.
    */
  /** splitmix64(seed 42) register CTE chain (m = 64): BIGINT ids of
    * `$srcRel(id)` → `${p}reg(id, j, rho)`. Wrapping 64-bit multiply via
    * 32-bit limbs in HUGEINT (INT128 overflows on a full 64×64 product;
    * DuckDB errors on overflow rather than wrapping), ρ via log2 of the
    * isolated lowest set bit (exact — powers of two are exact doubles).
    * Shared by the HyperBall oracle and q_hll_users (the same
    * [[graft.functions.Hll]] kernel verified on graph balls and on
    * event streams).
    */
  private[queries] def hllRegSql(srcRel: String, p: String): String = {
    val U = "18446744073709551616" // 2^64
    // seed*C1 mod 2^64 precomputed (the 64-bit literal product would
    // overflow BIGINT); C2/C3 as unsigned decimal literals.
    val seedC1 = "17661420568835545970"
    val c2 = "13787848793156543929"
    val c3 = "10723151780598845931"
    def wmul(z: String, c: String) =
      s"""(($z % 4294967296) * ($c % 4294967296)
         | + (((($z % 4294967296) * ($c // 4294967296)
         |     + ($z // 4294967296) * ($c % 4294967296)) % 4294967296) * 4294967296)
         |) % $U""".stripMargin
    s"""${p}hz0 AS (
       |  SELECT id,
       |    (CASE WHEN id < 0 THEN CAST(id AS HUGEINT) + $U ELSE CAST(id AS HUGEINT) END
       |     + $seedC1) % $U AS z
       |  FROM $srcRel
       |),
       |${p}hz1 AS (SELECT id, ${wmul("xor(z, z >> 30)", c2)} AS z FROM ${p}hz0),
       |${p}hz2 AS (SELECT id, ${wmul("xor(z, z >> 27)", c3)} AS z FROM ${p}hz1),
       |${p}hv AS (SELECT id, xor(z, z >> 31) AS h FROM ${p}hz2),
       |${p}reg AS MATERIALIZED (
       |  SELECT id, CAST(h % 64 AS BIGINT) AS j,
       |         CAST(log2(CAST(((h >> 6) | 288230376151711744) &
       |              ($U - ((h >> 6) | 288230376151711744)) AS DOUBLE)) AS BIGINT) + 1 AS rho
       |  FROM ${p}hv
       |)""".stripMargin
  }

  /** The HLL cardinality-estimator CASE ([[graft.functions.Hll.count]]):
    * small-range linear counting below the 2.5m threshold, else the raw
    * αm²/Σ2^-ρ estimate — over a relation exposing `present` (registers
    * set) and `invp` (Σ2^-ρ over set registers).
    */
  private[queries] def hllEstSql(present: String, invp: String): String =
    s"""CASE WHEN (64 - $present) > 0
       |      AND (0.709 * 64 * 64 / ($invp + (64 - $present))) <= 160.0
       |     THEN 64 * ln(64.0 / (64 - $present))
       |     ELSE 0.709 * 64 * 64 / ($invp + (64 - $present)) END""".stripMargin

  private lazy val hyperballCoreSql: String = {
    s"""WITH $edgesSql,
       |${bitReachChain("edges", "d")},
       |${bitDistTail("d")},
       |maxt AS MATERIALIZED (SELECT max(dist) AS mt FROM dist),
       |${hllRegSql("nodes", "")},
       |ball AS MATERIALIZED (
       |  SELECT d.src AS v, t.t, r.j, max(r.rho) AS rho
       |  FROM dist d
       |  JOIN reg r ON r.id = d.id
       |  CROSS JOIN (SELECT unnest(range(0, (SELECT mt + 1 FROM maxt))) AS t) t
       |  WHERE d.dist <= t.t
       |  GROUP BY d.src, t.t, r.j
       |),
       |est AS (
       |  SELECT v, t, count(*) AS present, sum(power(2.0, -rho)) AS invp
       |  FROM ball GROUP BY v, t
       |),
       |cnt AS MATERIALIZED (
       |  SELECT v, t, ${hllEstSql("present", "invp")} AS c
       |  FROM est
       |)""".stripMargin
  }

  lazy val hyperballSql: String = {
    s"""$hyperballCoreSql,
       |delta AS (
       |  -- Positive deltas only, like the engine and the reference
       |  -- (hyperball_impl.rs:1073-1089): estimate dips are noise.
       |  SELECT c1.v, c1.t, greatest(c1.c - c0.c, 0) AS dc
       |  FROM cnt c1 JOIN cnt c0 ON c0.v = c1.v AND c0.t = c1.t - 1
       |),
       |acc AS (
       |  SELECT v, sum(dc * t) AS sumDist, sum(dc / t) AS sumInvDist
       |  FROM delta GROUP BY v
       |),
       |fin AS (
       |  SELECT c.v AS id, c.c AS reachable, a.sumDist, a.sumInvDist
       |  FROM cnt c JOIN maxt ON c.t = maxt.mt JOIN acc a ON a.v = c.v
       |)
       |SELECT id, reachable, sumDist, sumInvDist,
       |       CASE WHEN sumDist > 0 THEN 1.0 / sumDist ELSE 0.0 END AS closeness,
       |       sumInvDist AS harmonic,
       |       CASE WHEN sumDist > 0 THEN reachable * reachable / sumDist ELSE 1.0 END AS lin,
       |       reachable * reachable - sumDist AS nieminen,
       |       CAST(0.0 AS DOUBLE) AS discounted
       |FROM fin""".stripMargin
  }

  /** Bow-tie decomposition ([[BowTie.run]]): per-vertex web-macrostructure
    * region relative to the largest SCC. Shares the SCC and WCC labelings
    * with g_scc / g_cc (the decomposition itself then costs only the four
    * membership closures).
    */
  def bowtie(spark: SparkSession, dir: String): DataFrame =
    BowTie.run(graph(spark, dir),
      scc = Some(sccShared(spark, dir)), wcc = Some(ccShared(spark, dir)))

  /** Oracle: the same region algebra over THREE [[bitReachChain]]s —
    * forward (`d`, edges), backward (`t`, transposed edges), weak (`s`,
    * symmetrized). Mutual-reach SCCs from the forward chain; the core's
    * forward/backward/weak sets are the bitmap of ONE representative
    * (every member of an SCC has the identical closure), expanded back to
    * rows with `get_bit` membership probes against `nodes`. The
    * `fwdin`/`bwdout` sets are UNconfined (plain reachability); the CASE
    * consults them only for vertices outside core∪in∪out, where
    * confinement provably drops no member (the forward set is
    * forward-closed), so both sides agree on every consulted row.
    */
  lazy val bowtieSql: String =
    s"""WITH $edgesSql,
       |redges AS MATERIALIZED (SELECT dst AS src, src AS dst FROM edges),
       |sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |${bitReachChain("edges", "d")},
       |${bitReachChain("redges", "t")},
       |${bitReachChain("sym", "s")},
       |${bitSccSql("d")},
       |core AS MATERIALIZED (
       |  SELECT s.id FROM scc s JOIN (
       |    SELECT comp FROM (SELECT comp, count(*) AS c FROM scc GROUP BY comp
       |                      ORDER BY c DESC, comp ASC LIMIT 1) t
       |  ) l ON s.comp = l.comp
       |),
       |rep AS (SELECT min(id) AS id FROM core),
       |fwd AS MATERIALIZED (
       |  SELECT n.id FROM nodes n, dreach r, rep
       |  WHERE r.src = rep.id AND get_bit(r.bs, CAST(n.id AS INTEGER)) = 1),
       |bwd AS MATERIALIZED (
       |  SELECT n.id FROM nodes n, treach r, rep
       |  WHERE r.src = rep.id AND get_bit(r.bs, CAST(n.id AS INTEGER)) = 1),
       |inn AS MATERIALIZED (
       |  SELECT b.id FROM bwd b WHERE NOT EXISTS (SELECT 1 FROM core c WHERE c.id = b.id)),
       |outt AS MATERIALIZED (
       |  SELECT f.id FROM fwd f WHERE NOT EXISTS (SELECT 1 FROM core c WHERE c.id = f.id)),
       |fwdinbs AS (SELECT bit_or(r.bs) AS bs FROM dreach r JOIN inn i ON r.src = i.id),
       |bwdoutbs AS (SELECT bit_or(r.bs) AS bs FROM treach r JOIN outt o ON r.src = o.id),
       |fwdin AS MATERIALIZED (
       |  SELECT n.id FROM nodes n, fwdinbs f
       |  WHERE f.bs IS NOT NULL AND get_bit(f.bs, CAST(n.id AS INTEGER)) = 1),
       |bwdout AS MATERIALIZED (
       |  SELECT n.id FROM nodes n, bwdoutbs b
       |  WHERE b.bs IS NOT NULL AND get_bit(b.bs, CAST(n.id AS INTEGER)) = 1),
       |mainwcc AS MATERIALIZED (
       |  SELECT n.id FROM nodes n, sreach r, rep
       |  WHERE r.src = rep.id AND get_bit(r.bs, CAST(n.id AS INTEGER)) = 1)
       |SELECT n.id,
       |  CASE WHEN c.id IS NOT NULL THEN 'core'
       |       WHEN i.id IS NOT NULL THEN 'in'
       |       WHEN o.id IS NOT NULL THEN 'out'
       |       WHEN mw.id IS NULL THEN 'disconnected'
       |       WHEN fi.id IS NOT NULL AND bo.id IS NOT NULL THEN 'tube'
       |       WHEN fi.id IS NOT NULL THEN 'tendril_in'
       |       WHEN bo.id IS NOT NULL THEN 'tendril_out'
       |       ELSE 'tendril_other' END AS region
       |FROM nodes n
       |LEFT JOIN core c ON n.id = c.id
       |LEFT JOIN inn i ON n.id = i.id
       |LEFT JOIN outt o ON n.id = o.id
       |LEFT JOIN mainwcc mw ON n.id = mw.id
       |LEFT JOIN fwdin fi ON n.id = fi.id
       |LEFT JOIN bwdout bo ON n.id = bo.id""".stripMargin

  /** Label propagation, fixed sync iterations, deterministic tie-breaks. */
  def lp(iters: Int)(spark: SparkSession, dir: String): DataFrame =
    LabelPropagation.run(graph(spark, dir), maxIter = iters,
      localFinishEdges = LocalGraph.QueryCap).labels

  /** LP stage chain (sym → symnl → lab0 → votes/win/lab per iteration),
    * assuming `edges`/`nodes` CTEs are in scope — FACTORED so
    * [[lpSql]] (shared graph) and [[modularitySql]] (sparse graph)
    * compose the same stage text instead of one slicing the other
    * (the effDiameterSql lesson, ADVICE r3).
    */
  private def lpStagesSql(iters: Int): String = {
    val stages = (1 to iters).map { k =>
      val p = s"lab${k - 1}"
      s"""votes$k AS (
         |  SELECT e.dst AS id, l.label, count(*) AS cnt
         |  FROM $p l JOIN symnl e ON e.src = l.id
         |  GROUP BY e.dst, l.label
         |),
         |win$k AS (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |           row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
         |    FROM votes$k
         |  ) t WHERE rn = 1
         |),
         |lab$k AS (
         |  SELECT l.id, coalesce(w.label, l.label) AS label
         |  FROM $p l LEFT JOIN win$k w ON w.id = l.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
       |symnl AS (SELECT src, dst FROM sym WHERE src <> dst),
       |lab0 AS (SELECT id, id AS label FROM nodes),
       |$stages""".stripMargin
  }

  /** Unrolled LP oracle: each stage = neighbor-label frequency count +
    * argmax (count desc, label asc), isolated vertices keep their label.
    */
  def lpSql(iters: Int): String =
    s"""WITH $edgesSql,
       |${lpStagesSql(iters)}
       |SELECT id, label FROM lab$iters""".stripMargin

  // --- k-core -----------------------------------------------------------

  /** Vertex-space modulus of the k-core derived graph. The shared N=601
    * graph is near-complete at sf0.01 (min simple degree 132), where no
    * realistic k peels anything — so this query derives a SPARSER graph
    * from the same lineitem arithmetic: at sf0.01 the 5-core keeps 7,088
    * of 8,001 vertices; at sf0.001 the whole graph cascades away (3
    * synchronous rounds), exercising the full-peel path.
    */
  val KCoreN = 8009
  val KCoreK = 5

  /** Unrolled oracle peel rounds. Measured fixpoint depth at the gate
    * scale factors is <= 3; once the fixpoint is reached every further
    * round is a NO-OP (the peel is monotone), so the margin is free
    * correctness headroom and each extra round a cheap semi-join over the
    * converged (shrinking) edge set.
    */
  private val KCoreRounds = 8

  private def kcoreEdgesDf(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .parquet(s"$dir/lineitem.parquet")
      .selectExpr(
        s"l_partkey % $KCoreN AS src",
        s"(l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $KCoreN AS dst")
      .distinct()

  /** The sparse derived graph (mod [[KCoreN]]), loaded once per
    * (session, dir) and shared by g_kcore / g_modularity /
    * g_betweenness — avg simple degree ~15 at sf0.01 vs the shared
    * N=601 graph's near-completeness, so distances (BFS depth 6),
    * communities (~280 under LP-3) and cores are all non-degenerate.
    */
  private def sparseGraph(spark: SparkSession, dir: String): Graph =
    memoized(spark, s"kgraph:$dir") {
      val g = Graph.fromEdges(kcoreEdgesDf(spark, dir))
      g.edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g
    }

  /** The `edges`/`nodes` CTE pair of the SPARSE derived graph — the
    * oracle-side twin of [[sparseGraph]], name-compatible with
    * [[lpStagesSql]] so sparse-graph oracles compose the same stage
    * text as shared-graph ones.
    */
  private val sparseEdgesSql: String =
    s"""edges AS MATERIALIZED (
       |  SELECT DISTINCT (l_partkey % $KCoreN) AS src,
       |         ((l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $KCoreN) AS dst
       |  FROM lineitem
       |), nodes AS MATERIALIZED (
       |  SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges
       |)""".stripMargin

  /** k-core ([[KCore.run]]): surviving vertices with in-core degree. */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    KCore.run(sparseGraph(spark, dir), k = KCoreK).core

  /** Oracle: the same synchronous peel, unrolled — each round keeps the
    * vertices of current degree >= k and restricts the symmetric edge set
    * to them.
    */
  lazy val kcoreSql: String = {
    val rounds = (1 to KCoreRounds).map { i =>
      val p = s"sym${i - 1}"
      s"""keep$i AS MATERIALIZED (
         |  SELECT src FROM $p GROUP BY src HAVING count(*) >= $KCoreK),
         |sym$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM $p e
         |  JOIN keep$i a ON e.src = a.src
         |  JOIN keep$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH kedges AS MATERIALIZED (
       |  SELECT DISTINCT (l_partkey % $KCoreN) AS src,
       |         ((l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $KCoreN) AS dst
       |  FROM lineitem
       |),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM kedges WHERE src <> dst),
       |sym0 AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM und
       |  UNION ALL SELECT v AS src, u AS dst FROM und),
       |$rounds
       |SELECT src AS id, count(*) AS deg FROM sym$KCoreRounds GROUP BY src""".stripMargin
  }

  // --- exact 2-hop neighborhood size --------------------------------------

  /** Exact directed 2-hop ball size per vertex (|{u ≠ v : dist(v,u) ≤ 2}|)
    * on the SPARSE graph — the supernode/link-farm detector and the
    * calibration query for HyperBall's approximate balls (HyperBall gives
    * every radius at once with bounded error; this is the exact r=2
    * ground truth you spot-check it against).
    *
    * Scale shape: one arc self-join through the middle vertex (fan-out =
    * Σ_m in(m)·out(m), the 2-path count — the quantity [[avgNbrDeg]]
    * estimates first; run THAT before this to know the blow-up), then
    * distinct + count partial-aggregate map-side. At web scale the exact
    * form is reserved for suspect subsets after the HyperBall screen —
    * which is precisely the pairing this query documents.
    */
  def ball2(spark: SparkSession, dir: String): DataFrame = {
    // One PERSISTED copy of the derived edge set (the sparseGraph memo):
    // the old plan re-derived it (lineitem scan + distinct) per reference
    // — three times.
    val e = sparseGraph(spark, dir).edges.toDF()
    // ball2(src) = |{1-hop ∪ 2-hop} \ {src}| in ONE join + ONE local
    // distinct-aggregate: the successor table is augmented with a
    // self-edge (v, v) per destination, so x.dst = mid yields each
    // destination itself (the 1-hop term) next to its successors (the
    // 2-hop term) — no union of separately-shuffled branches. The probe
    // side is repartitioned by src once; the broadcast join preserves
    // that clustering, so the count-distinct aggregate runs entirely
    // partition-locally (hash(src) satisfies the (src, d) clustering) —
    // the r1-r5 plan exchanged the full ~29M-row 2-hop expansion on
    // (src, d) across 10 scan-sized tasks instead (guide §2.4/§2.5). The
    // broadcast side is vertex-bounded by the mod-[[KCoreN]] derivation.
    val aug = e.select(col("src").as("mid"), col("dst").as("d"))
      .union(e.select(col("dst").as("mid"), col("dst").as("d")).distinct())
    e.repartition(col("src"))
      .join(broadcast(aug), col("dst") === col("mid"))
      .where(col("src") =!= col("d"))
      .groupBy(col("src"))
      .agg(countDistinct(col("d")).as("ball2"))
  }

  val ball2Sql: String =
    s"""WITH $sparseEdgesSql,
       |hop2 AS (
       |  SELECT x.src, y.dst AS d FROM edges x JOIN edges y ON x.dst = y.src
       |  UNION
       |  SELECT src, dst AS d FROM edges)
       |SELECT src, count(*) AS ball2 FROM hop2
       |WHERE src <> d GROUP BY src""".stripMargin

  // --- k-truss ------------------------------------------------------------

  /** Vertex-space modulus of the k-truss derived graph — DENSER than the
    * k-core one (mod 1201 vs 8009): truss peeling is driven by per-edge
    * TRIANGLE support, and the mod-8009 graph (avg simple degree ~15 at
    * sf0.01) is nearly triangle-free, so every k ≥ 3 would cascade to
    * empty at both gate scale factors. At mod 1201 the measured 4-truss
    * keeps 56,015 of 60k edges in 3 synchronous rounds at sf0.01 and
    * peels down to a 98-edge residue through a 6-round cascade at
    * sf0.001 — both peel paths (bulk survival, deep cascade) are
    * exercised.
    */
  val TrussN = 1201
  val TrussK = 4

  /** Unrolled oracle peel rounds: measured fixpoint depth ≤ 6 at the
    * gate scale factors; the peel is monotone, so extra rounds are no-op
    * support passes over the converged (shrunken) edge set — correctness
    * headroom, like [[KCoreRounds]].
    */
  private val TrussRounds = 10

  private def trussEdgesDf(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .parquet(s"$dir/lineitem.parquet")
      .selectExpr(
        s"l_partkey % $TrussN AS src",
        s"(l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $TrussN AS dst")
      .distinct()

  private def trussGraph(spark: SparkSession, dir: String): Graph =
    memoized(spark, s"tgraph:$dir") {
      val g = Graph.fromEdges(trussEdgesDf(spark, dir))
      g.edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g
    }

  /** k-truss ([[KTruss.run]]): surviving edges with in-truss support. */
  def ktruss(spark: SparkSession, dir: String): DataFrame =
    KTruss.run(trussGraph(spark, dir), k = TrussK,
      localFinishEdges = LocalGraph.QueryCap).truss

  /** Oracle: the same synchronous peel, unrolled — each round counts
    * every surviving edge's common neighbors over the symmetric closure
    * of the surviving set and keeps support ≥ k−2 (an edge with ZERO
    * common neighbors vanishes from the support aggregate, so the
    * inner-join filter removes it — k−2 ≥ 1 at k=4). The final SELECT
    * re-counts support over the fixpoint set, matching
    * [[graft.operators.KTruss.Result.truss]].
    */
  lazy val ktrussSql: String = {
    def supPass(src: String, out: String): String =
      s"""${out}sym AS (SELECT u AS a, v AS b FROM $src UNION ALL SELECT v, u FROM $src),
         |$out AS MATERIALIZED (
         |  SELECT e.u, e.v, count(*) AS s
         |  FROM $src e
         |  JOIN ${out}sym s1 ON s1.a = e.u
         |  JOIN ${out}sym s2 ON s2.a = e.v AND s2.b = s1.b
         |  GROUP BY e.u, e.v)""".stripMargin
    val rounds = (1 to TrussRounds).map { i =>
      val p = s"t${i - 1}"
      s"""${supPass(p, s"sup$i")},
         |t$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM $p e
         |  JOIN sup$i s ON e.u = s.u AND e.v = s.v
         |  WHERE s.s >= ${TrussK - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH tedges AS MATERIALIZED (
       |  SELECT DISTINCT (l_partkey % $TrussN) AS src,
       |         ((l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $TrussN) AS dst
       |  FROM lineitem
       |),
       |t0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM tedges WHERE src <> dst),
       |$rounds,
       |${supPass(s"t$TrussRounds", "supf")}
       |SELECT e.u, e.v, coalesce(s.s, 0) AS support
       |FROM t$TrussRounds e
       |LEFT JOIN supf s ON e.u = s.u AND e.v = s.v""".stripMargin
  }

  // --- maximal independent set --------------------------------------------

  /** Unrolled oracle rounds: measured fixpoint depth 2 (sf0.001) / 4
    * (sf0.01) — high-degree graphs break symmetry fast; extra rounds are
    * no-ops over empty live sets, correctness headroom like
    * [[KCoreRounds]].
    */
  private val MisRounds = 8

  /** Maximal independent set ([[graft.operators.Mis]]) on the sparse
    * graph — the greedy-permutation MIS under the salted hash order,
    * a deterministic function of (graph, salt).
    */
  def mis(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Mis.run(sparseGraph(spark, dir), salt = "mis",
      localFinishEdges = LocalGraph.QueryCap).mis

  /** Oracle: the same synchronous local-minima rounds, unrolled — a
    * vertex wins round i iff no LIVE neighbor has a smaller (hash, id)
    * key; winners and their neighbors leave the live sets. The hash is
    * the md5-prefix portableHash60 of "id:mis", replayed literally.
    */
  lazy val misSql: String = {
    def h(x: String): String =
      s"CAST(('0x' || substring(md5(CAST($x AS VARCHAR) || ':mis'), 1, 15)) AS BIGINT)"
    val rounds = (1 to MisRounds).map { i =>
      val lv = s"lv${i - 1}"
      val le = s"le${i - 1}"
      s"""bad$i AS (
         |  SELECT DISTINCT src AS id FROM $le
         |  WHERE (${h("dst")}, dst) < (${h("src")}, src)),
         |w$i AS MATERIALIZED (
         |  SELECT id FROM $lv WHERE id NOT IN (SELECT id FROM bad$i)),
         |rm$i AS (
         |  SELECT id FROM w$i
         |  UNION SELECT e.dst FROM $le e JOIN w$i ON e.src = w$i.id),
         |lv$i AS MATERIALIZED (
         |  SELECT id FROM $lv WHERE id NOT IN (SELECT id FROM rm$i)),
         |le$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM $le e
         |  WHERE e.src IN (SELECT id FROM lv$i)
         |    AND e.dst IN (SELECT id FROM lv$i))""".stripMargin
    }.mkString(",\n")
    val winners = (1 to MisRounds).map(i => s"SELECT id FROM w$i").mkString(" UNION ")
    s"""WITH $sparseEdgesSql,
       |le0 AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE src <> dst
       |  UNION SELECT dst, src FROM edges WHERE src <> dst),
       |lv0 AS MATERIALIZED (SELECT id FROM nodes),
       |$rounds,
       |mis AS ($winners)
       |SELECT n.id, n.id IN (SELECT id FROM mis) AS in_mis
       |FROM nodes n""".stripMargin
  }

  // --- modularity --------------------------------------------------------

  /** LP-3 labels on the sparse graph, computed once per (session, dir)
    * and shared (currently by g_modularity; any future community query
    * composes here).
    */
  private def sparseLpShared(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"klp:$dir") {
      val l = LabelPropagation.run(sparseGraph(spark, dir), maxIter = 3,
        localFinishEdges = LocalGraph.QueryCap).labels
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      l.count() // modularity's algebra scans the labels 3× (persist race)
      l
    }

  /** Newman modularity of the LP-3 communities on the sparse graph, per
    * community: Q_c = e_c/m − (deg_c/2m)² over the undirected simple
    * graph — computed in ARC terms (A = 2m symmetric arcs, within_arcs =
    * 2e_c) so every input to the two IEEE divisions is an exact integer
    * and the contribution is bit-identical cross-engine with no rounding.
    * Σ contribution = the partition's Q (the per-community grain keeps
    * the gate content-verifying ~280 rows instead of one scalar).
    *
    * Scale shape: two joins of the arc table against the (id, label)
    * table (state-sized build sides at web scale would broadcast or
    * shuffle-hash on id), then map-side-combined counts per label;
    * the corpus-sized arc table is never shuffled wider than its key.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame =
    modularityOf(sparseLpShared(spark, dir), kcoreEdgesDf(spark, dir))

  /** The modularity algebra over explicit (id, label) labels and a
    * directed edge table (symmetrized, self-loops dropped, here) —
    * factored for direct spec coverage.
    */
  private[graft] def modularityOf(lab: DataFrame, e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .where(col("src") =!= col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialized: the algebra below scans `sym` four times (two label
    // joins, the degree aggregate, the total count) — each scan was
    // re-deriving the symmetrized table from the lineitem scan.
    sym.count()
    val arcs = sym
      .join(lab.select(col("id").as("src"), col("label").as("ls")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("ld")), Seq("dst"))
    val within = arcs.where(col("ls") === col("ld"))
      .groupBy(col("ls").as("label"))
      .agg(count(lit(1)).as("within_arcs"))
    val degSum = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .join(lab, Seq("id"))
      .groupBy(col("label"))
      .agg(sum(col("deg")).as("deg_sum"))
    val total = sym.agg(count(lit(1)).as("arcs_total"))
    lab.select(col("label")).distinct()
      .join(within, Seq("label"), "left")
      .join(degSum, Seq("label"), "left")
      .select(
        col("label"),
        coalesce(col("within_arcs"), lit(0L)).as("within_arcs"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"))
      .crossJoin(total)
      .select(
        col("label"), col("within_arcs"), col("deg_sum"),
        (col("within_arcs").cast("double") / col("arcs_total")
          - (col("deg_sum").cast("double") / col("arcs_total"))
          * (col("deg_sum").cast("double") / col("arcs_total"))).as("contribution"))
  }

  /** Oracle: the SAME LP stage chain as g_lp3 ([[lpStagesSql]]) over the
    * sparse edges CTE, then the arc-term modularity algebra.
    */
  lazy val modularitySql: String =
    s"""WITH $sparseEdgesSql,
       |${lpStagesSql(3)},
       |w AS MATERIALIZED (
       |  SELECT la.label, count(*) AS within_arcs
       |  FROM symnl e JOIN lab3 la ON la.id = e.src JOIN lab3 lb ON lb.id = e.dst
       |  WHERE la.label = lb.label GROUP BY la.label),
       |ds AS MATERIALIZED (
       |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS deg_sum
       |  FROM (SELECT src AS id, count(*) AS deg FROM symnl GROUP BY src) d
       |  JOIN lab3 l ON l.id = d.id GROUP BY l.label),
       |tot AS (SELECT count(*) AS a FROM symnl)
       |SELECT c.label,
       |       coalesce(w.within_arcs, 0) AS within_arcs,
       |       coalesce(ds.deg_sum, 0) AS deg_sum,
       |       CAST(coalesce(w.within_arcs, 0) AS DOUBLE) / tot.a
       |         - (CAST(coalesce(ds.deg_sum, 0) AS DOUBLE) / tot.a)
       |         * (CAST(coalesce(ds.deg_sum, 0) AS DOUBLE) / tot.a) AS contribution
       |FROM (SELECT DISTINCT label FROM lab3) c
       |LEFT JOIN w ON w.label = c.label
       |LEFT JOIN ds ON ds.label = c.label
       |CROSS JOIN tot""".stripMargin

  // --- louvain ------------------------------------------------------------

  /** Fixed round count of the g_louvain4 gate face: even, so both parity
    * classes of [[graft.operators.Louvain]]'s alternation get equal
    * turns; measured label churn on the sparse graph reaches a small
    * steady residual by round 4 at both gate scale factors.
    */
  val LouvainRounds = 4

  /** Louvain local-moving communities ([[graft.operators.Louvain.run]])
    * on the sparse derived graph — the modularity-maximizing member of
    * the community family next to g_lp3 (label agreement) and
    * g_modularity (the quality functional itself).
    */
  def louvain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Louvain.run(sparseGraph(spark, dir), rounds = LouvainRounds,
      localFinishEdges = LocalGraph.QueryCap).labels

  /** Oracle: the move rounds unrolled — per round the community-stats
    * (volume, size, min member) and k(i,c) aggregates, the own-community
    * candidate union, Grappolo's singleton admissibility predicate, the
    * exact HUGEINT move score A·k − deg·(vol − [own]·deg) (the ΔQ
    * numerator scaled by 2m², matching the engine's decimal(38,0)
    * argmax bit-for-bit), and the (score DESC, comm ASC) winner for
    * this round's parity class only; everyone else carries their
    * community forward.
    */
  lazy val louvainSql: String = {
    val stages = (1 to LouvainRounds).map { r =>
      val p = s"lab${r - 1}"
      s"""vol$r AS MATERIALIZED (
         |  SELECT l.comm, sum(d.deg) AS vol, count(*) AS n, min(l.id) AS cmin
         |  FROM $p l JOIN ldeg d ON d.id = l.id GROUP BY l.comm),
         |kic$r AS MATERIALIZED (
         |  SELECT e.src AS id, l.comm, count(*) AS k
         |  FROM lsym e JOIN $p l ON l.id = e.dst GROUP BY e.src, l.comm),
         |cand$r AS (
         |  SELECT id, comm, max(k) AS k FROM (
         |    SELECT id, comm, k FROM kic$r
         |    UNION ALL SELECT id, comm, 0 FROM $p) u
         |  WHERE (id + $r) % 2 = 0 GROUP BY id, comm),
         |sc$r AS (
         |  SELECT c.id, c.comm,
         |         CAST(t.a AS HUGEINT) * c.k
         |           - CAST(d.deg AS HUGEINT) * (coalesce(v.vol, 0)
         |               - CASE WHEN c.comm = l.comm THEN d.deg ELSE 0 END) AS s
         |  FROM cand$r c
         |  LEFT JOIN vol$r v ON v.comm = c.comm
         |  JOIN ldeg d ON d.id = c.id
         |  JOIN $p l ON l.id = c.id
         |  CROSS JOIN ltot t
         |  WHERE c.comm = l.comm
         |     OR NOT (coalesce(v.n, 1) = 1 AND coalesce(v.cmin, c.id) > c.id)),
         |lab$r AS MATERIALIZED (
         |  SELECT q.id, q.comm FROM (
         |    SELECT id, comm,
         |           row_number() OVER (PARTITION BY id ORDER BY s DESC, comm ASC) AS rn
         |    FROM sc$r) q WHERE rn = 1
         |  UNION ALL
         |  SELECT l.id, l.comm FROM $p l WHERE (l.id + $r) % 2 <> 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sparseEdgesSql,
       |lsym AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE src <> dst
       |  UNION SELECT dst AS src, src AS dst FROM edges WHERE src <> dst),
       |ldeg AS MATERIALIZED (
       |  SELECT n.id, count(e.src) AS deg FROM nodes n
       |  LEFT JOIN lsym e ON e.src = n.id GROUP BY n.id),
       |ltot AS (SELECT count(*) AS a FROM lsym),
       |lab0 AS (SELECT id, id AS comm FROM nodes),
       |$stages
       |SELECT id, comm FROM lab$LouvainRounds""".stripMargin
  }

  // --- betweenness -------------------------------------------------------

  /** Seed set + depth cap of the g_betweenness query. Depth 12 is double
    * the measured sf0.01 BFS eccentricity (6) of these seeds on the
    * sparse graph; both engine and oracle apply the SAME cap, so the
    * semantics stay defined-equal even if a scale factor ever exceeded it
    * (bounded-depth Brandes, [[graft.operators.Betweenness]]).
    */
  val BetweennessSeeds: Seq[Long] = Seq(0L, 1L, 2L, 3L)
  private val BetweennessDepth = 12

  /** Sampled Brandes betweenness from [[BetweennessSeeds]] on the sparse
    * graph ([[graft.operators.Betweenness.run]]).
    */
  def betweenness(spark: SparkSession, dir: String): DataFrame =
    Betweenness.run(sparseGraph(spark, dir), BetweennessSeeds,
      maxDepth = BetweennessDepth)

  /** Oracle: forward BFS levels with path counting unrolled to the depth
    * cap (stages past the fixpoint are empty — free margin), then the
    * dependency accumulation unrolled deepest-first. σ sums are exact
    * BIGINTs; δ arithmetic is the same double formula on both sides.
    */
  lazy val betweennessSql: String = {
    val seedList = BetweennessSeeds.mkString(", ")
    val d = BetweennessDepth
    val fwd = (1 to d).map { k =>
      s"""lvl$k AS MATERIALIZED (
         |  SELECT l.s, e.dst AS id, $k AS dist, sum(l.sigma) AS sigma
         |  FROM lvl${k - 1} l JOIN edges e ON e.src = l.id
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${k - 1} v
         |                    WHERE v.s = l.s AND v.id = e.dst)
         |  GROUP BY l.s, e.dst),
         |vis$k AS MATERIALIZED (
         |  SELECT * FROM vis${k - 1} UNION ALL SELECT * FROM lvl$k)""".stripMargin
    }.mkString(",\n")
    val bwd = ((d - 1) to 0 by -1).map { k =>
      s"""del$k AS MATERIALIZED (
         |  SELECT v.s, v.id,
         |         sum(CAST(v.sigma AS DOUBLE) / w.sigma
         |             * (1 + coalesce(dw.delta, 0))) AS delta
         |  FROM vis$d v
         |  JOIN edges e ON e.src = v.id
         |  JOIN vis$d w ON w.s = v.s AND w.id = e.dst AND w.dist = v.dist + 1
         |  LEFT JOIN del${k + 1} dw ON dw.s = v.s AND dw.id = e.dst
         |  WHERE v.dist = $k
         |  GROUP BY v.s, v.id)""".stripMargin
    }.mkString(",\n")
    val allDel = (0 until d).map(k => s"SELECT * FROM del$k")
      .mkString("\n  UNION ALL ")
    s"""WITH $sparseEdgesSql,
       |lvl0 AS MATERIALIZED (
       |  SELECT id AS s, id, 0 AS dist, CAST(1 AS BIGINT) AS sigma
       |  FROM nodes WHERE id IN ($seedList)),
       |vis0 AS MATERIALIZED (SELECT * FROM lvl0),
       |$fwd,
       |del$d AS (SELECT s, id, CAST(0 AS DOUBLE) AS delta FROM lvl$d WHERE FALSE),
       |$bwd,
       |alld AS MATERIALIZED (
       |  $allDel
       |)
       |SELECT n.id, coalesce(b.bc, 0.0) AS bc
       |FROM nodes n LEFT JOIN (
       |  SELECT id, sum(delta) AS bc FROM alld WHERE id <> s GROUP BY id
       |) b ON b.id = n.id""".stripMargin
  }

  /** Katz centrality, `iters` exact stages ([[Katz.runFixed]]);
    * α = 0.05, β = 1, rounded to 8 dp (same ulps policy as PageRank).
    */
  def katz(iters: Int)(spark: SparkSession, dir: String): DataFrame =
    Katz.runFixed(graph(spark, dir), iterations = iters)
      .select(col("id"), round(col("x"), 8).as("katz"))

  /** Unrolled Katz oracle: identical algebra per stage —
    * x ← 1 + 0.05·Σ_{in-edges} x (no degree division; contrast PageRank).
    */
  def katzSql(iters: Int): String = {
    val a = "CAST(0.05 AS DOUBLE)"
    val stages = (1 to iters).map { k =>
      s"""kz$k AS (
         |  SELECT n.id, CAST(1.0 AS DOUBLE) + $a * coalesce(c.s, 0) AS x
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.x) AS s
         |    FROM kz${k - 1} p JOIN edges e ON e.src = p.id
         |    GROUP BY e.dst
         |  ) c ON c.id = n.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |kz0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM nodes),
       |$stages
       |SELECT id, round(x, 8) AS katz FROM kz$iters""".stripMargin
  }

  /** GraphSAGE-style bounded neighbor sampling (Hamilton et al., NIPS
    * 2017 §3.1): keep at most `k` out-neighbors per vertex, chosen by a
    * DETERMINISTIC hash rank over the edge — the minibatch fan-out
    * primitive of GNN training on web graphs, where hubs would otherwise
    * blow the receptive field. Hash ranking (not RNG) means retries,
    * partitioning, epochs and the oracle all sample identically; a new
    * salt is a new epoch sample.
    *
    * Scale shape: ONE window partitioned by src (per-vertex row count,
    * never the corpus) over the edge table; rank ties are impossible
    * (the hash input includes both endpoints). Emits
    * (src, dst, sample_rank 1..k).
    */
  def nbrSample(k: Int)(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edgesDf(spark, dir)
    val hv = graft.text.TextOps.portableHash60(
      concat(col("src").cast("string"), lit(":"), col("dst").cast("string"), lit(":sage")))
    val w = Window.partitionBy(col("src")).orderBy(hv.asc, col("dst").asc)
    e.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col("src"), col("dst"), col("sample_rank"))
  }

  def nbrSampleSql(k: Int): String =
    s"""WITH $edgesSql,
       |h AS (
       |  SELECT src, dst,
       |         CAST(('0x' || substring(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR) || ':sage'), 1, 15)) AS BIGINT) AS hv
       |  FROM edges
       |)
       |SELECT src, dst, sample_rank FROM (
       |  SELECT src, dst,
       |         row_number() OVER (PARTITION BY src ORDER BY hv ASC, dst ASC) AS sample_rank
       |  FROM h
       |) t WHERE sample_rank <= $k""".stripMargin

  /** Warm-start PageRank gate face: seed [[PageRank.run]] with the
    * 2-iteration ranks, run 3 more fixed iterations. Because the warm
    * path renormalizes the seed (a ÷ Σrank ≈ 1 no-op here, absorbed by
    * round(8)) and then applies the IDENTICAL superstep algebra, the
    * result must equal plain 5-iteration PageRank — so the face
    * driver-verifies the recurring-crawl warm path against the SAME
    * oracle as `g_pagerank5`, catching any drift between the seeded and
    * cold init paths.
    */
  def pagerankWarm(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val seed = PageRank.runFixed(g, iterations = 2)
    PageRank.run(g, tol = 0.0, maxIter = 3, init = Some(seed))
      .ranks
      .select(col("id"), round(col("rank"), 8).as("rank"))
  }

  /** DOULION sampled triangle estimate ([[TriangleCount.doulion]]) at
    * p = 1/4 — the sampling knob that shrinks the wedge join by p².
    * Deterministic hash sampling makes the whole row exact-comparable.
    */
  def triDoulion(spark: SparkSession, dir: String): DataFrame =
    TriangleCount.doulion(graph(spark, dir), invP = 4)

  val triDoulionSql: String =
    s"""WITH $edgesSql,
       |allund AS (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM edges WHERE src <> dst
       |),
       |kept AS MATERIALIZED (
       |  SELECT u, v FROM allund
       |  WHERE CAST(('0x' || substring(md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR) || ':doulion'), 1, 15)) AS BIGINT) % 4 = 0
       |),
       |deg AS (
       |  SELECT id, count(*) AS deg
       |  FROM (SELECT u AS id FROM kept UNION ALL SELECT v AS id FROM kept) t
       |  GROUP BY id
       |),
       |o AS (
       |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS src,
       |         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS dst
       |  FROM kept JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v
       |),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  JOIN kept e3 ON e3.u = e1.dst AND e3.v = e2.dst
       |)
       |SELECT (SELECT count(*) FROM kept) AS kept_edges,
       |       count(*) AS tri_sample,
       |       count(*) * 64 AS tri_est
       |FROM tri""".stripMargin

  /** Row filter for the condensation face's subgraph: the shared N=601
    * graph is near-complete (one giant SCC → empty condensation), so the
    * face keeps a deterministic ~1/29 of the derived arcs — at the gate
    * SF that graph has ~42 SCCs and a 51-arc condensation (non-degenerate
    * in BOTH directions: multi-vertex components AND cross-component
    * arcs).
    */
  private val CondMod = 29

  private def condEdgesDf(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .parquet(s"$dir/lineitem.parquet")
      .filter(s"(l_partkey + l_suppkey * 3 + l_linenumber) % $CondMod = 0")
      .selectExpr(
        s"l_partkey % $N AS src",
        s"(l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $N AS dst")
      .distinct()

  /** SCC condensation DAG: the distinct component-level arcs — the graph
    * the reference's ExactSumSweep condensation DP walks
    * (`exact_sum_sweep/scc_graph.rs`), exposed as a query face. Pure
    * composition: SCC labels + one edge-table join against the label map
    * on each endpoint + DISTINCT. At web scale the result is the
    * 10⁸-component DAG a reachability index is built over, computed
    * without ever re-iterating the graph.
    */
  def condense(spark: SparkSession, dir: String): DataFrame = {
    val e = condEdgesDf(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = Scc.run(Graph.fromEdges(e))
    val out = e
      .join(labels.select(col("id").as("src"), col("comp").as("comp_src")), Seq("src"))
      .join(labels.select(col("id").as("dst"), col("comp").as("comp_dst")), Seq("dst"))
      .filter(col("comp_src") =!= col("comp_dst"))
      .select(col("comp_src"), col("comp_dst"))
      .distinct()
    out
  }

  /** Eigenvector centrality, `iters` normalized power stages
    * ([[Eigenvector.runFixed]]), round(8) — PageRank's un-damped sibling
    * on the shared graph.
    */
  def eigen(iters: Int)(spark: SparkSession, dir: String): DataFrame =
    Eigenvector.runFixed(graph(spark, dir), iterations = iters)
      .select(col("id"), round(col("x"), 8).as("eigen"))

  /** Unrolled oracle: per stage, the in-neighbor sum then an L2
    * normalization (CROSS JOIN of the 1-row norm) — identical algebra;
    * round(8) absorbs summation-order ulps in the norm.
    */
  def eigenSql(iters: Int): String = {
    val stages = (1 to iters).map { k =>
      s"""ev${k}r AS (
         |  SELECT n.id, CAST(coalesce(c.s, 0) AS DOUBLE) AS y
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.x) AS s
         |    FROM ev${k - 1} p JOIN edges e ON e.src = p.id
         |    GROUP BY e.dst
         |  ) c ON c.id = n.id
         |),
         |ev${k}n AS (SELECT sqrt(sum(y * y)) AS nrm FROM ev${k}r),
         |ev$k AS (
         |  SELECT id, CASE WHEN nrm > 0 THEN y / nrm ELSE CAST(0 AS DOUBLE) END AS x
         |  FROM ev${k}r CROSS JOIN ev${k}n
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |ev0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM nodes),
       |$stages
       |SELECT id, round(x, 8) AS eigen FROM ev$iters""".stripMargin
  }

  /** Coreness cap for the gate face (documented engine cap; the sparse
    * graph's true max coreness at the gate SF is 11, so levels 9+ report
    * as 8 — the SAME cap on both sides).
    */
  private val CorenessCap = 8
  /** Synchronous peel rounds unrolled per level in the oracle — measured
    * depth ≤ 1 for every level ≤ 8 at the gate SF; 6 is the no-op-safe
    * margin (the peel is a monotone fixpoint).
    */
  private val CorenessRounds = 6

  /** Core numbers ([[KCore.coreness]]) on the sparse graph, capped at
    * [[CorenessCap]] — the density profile next to `g_kcore`'s single
    * level.
    */
  def coreness(spark: SparkSession, dir: String): DataFrame =
    KCore.coreness(sparseGraph(spark, dir), kMax = CorenessCap)

  /** Oracle: incremental peel — level k continues from level k−1's
    * surviving edges (exactly the engine's structure), [[CorenessRounds]]
    * synchronous rounds per level; core(v) = max surviving level, 0 for
    * never-surviving (isolated / self-loop-only) vertices.
    */
  lazy val corenessSql: String = {
    def lvl(k: Int): String = {
      val prev = if (k == 1) "usym" else s"e${k - 1}_$CorenessRounds"
      val rounds = (1 to CorenessRounds).map { r =>
        s"""e${k}_$r AS MATERIALIZED (
           |  SELECT e.src, e.dst
           |  FROM e${k}_${r - 1} e
           |  JOIN (SELECT src FROM e${k}_${r - 1} GROUP BY src HAVING count(*) >= $k) ks ON ks.src = e.src
           |  JOIN (SELECT src FROM e${k}_${r - 1} GROUP BY src HAVING count(*) >= $k) kd ON kd.src = e.dst
           |)""".stripMargin
      }.mkString(",\n")
      s"""e${k}_0 AS MATERIALIZED (SELECT src, dst FROM $prev),
         |$rounds,
         |sv$k AS (SELECT DISTINCT src AS id FROM e${k}_$CorenessRounds)""".stripMargin
    }
    val levels = (1 to CorenessCap).map(lvl).mkString(",\n")
    val surv = (1 to CorenessCap)
      .map(k => s"SELECT id, $k AS lvl FROM sv$k")
      .mkString("\n  UNION ALL ")
    s"""WITH $sparseEdgesSql,
       |usym AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE src <> dst
       |  UNION
       |  SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
       |),
       |$levels,
       |allsurv AS (
       |  $surv
       |)
       |SELECT n.id, CAST(coalesce(max(s.lvl), 0) AS BIGINT) AS core
       |FROM nodes n LEFT JOIN allsurv s ON s.id = n.id
       |GROUP BY n.id""".stripMargin
  }

  /** Oracle: capped bitstring closure (cap 20 ≥ the subgraph's measured
    * reach depth 12 at the gate SF; the chain is a monotone fixpoint, so
    * extra rounds are no-ops) → mutual-reachability labels → distinct
    * cross-component arcs.
    */
  lazy val condenseSql: String =
    s"""WITH cedges AS MATERIALIZED (
       |  SELECT DISTINCT (l_partkey % $N) AS src,
       |         ((l_partkey * 37 + l_suppkey * 11 + l_linenumber) % $N) AS dst
       |  FROM lineitem
       |  WHERE (l_partkey + l_suppkey * 3 + l_linenumber) % $CondMod = 0
       |), cnodes AS MATERIALIZED (
       |  SELECT src AS id FROM cedges UNION SELECT dst AS id FROM cedges
       |),
       |${bitReachChain("cedges", "d", cap = 20, nodesRel = "cnodes")},
       |${bitSccSql("d")}
       |SELECT DISTINCT cs.comp AS comp_src, cd.comp AS comp_dst
       |FROM cedges e
       |JOIN scc cs ON cs.id = e.src
       |JOIN scc cd ON cd.id = e.dst
       |WHERE cs.comp <> cd.comp""".stripMargin
}
