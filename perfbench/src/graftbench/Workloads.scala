package graftbench

import graft.core.{CheckpointConfig, Graph, SuperstepMetrics}
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** Set-up shared by the two graph workloads: generate a web graph from the
  * seed and build its adjacency, as `Graph.fromEdges(...).adjacency.count()`.
  */
abstract class GraphWorkload(run: Run, pages: Long, salt: Long) extends Workload {
  import run.o
  val gen: WebGen = WebGen(pages, o.seed * 1000003L + salt)
  var graph: Graph = _
  private var adjSpan: Span = _
  lazy val arrays: ArrayGraph = { val (s, d) = gen.arcs(); new ArrayGraph(s, d) }
  /** Results of the last pass, by call name, for [[check]]. */
  val results = mutable.Map.empty[String, Any]
  def repeats = true

  def setup(): Unit = {
    val raw = gen.edges(run.spark, o.cores).persist()
    run.tracer.span("setup.gen")(raw.count())
    graph = Graph.fromEdges(raw)
    adjSpan = run.tracer.span("setup.adj")(graph.adjacency.count())._2
  }

  /** Times `f` plus a count of its result (the loops' results are lazy
    * selects over checkpointed state) and keeps the result for the checks.
    */
  def timed[T](name: String)(f: => T)(sink: T => Any): Unit =
    run.call(name) { val r = f; sink(r); r }.foreach(results(name) = _)

  def collect(df: DataFrame, col: String): Array[Double] = {
    val m = df.select("id", col).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    arrays.ids.map(id => m.getOrElse(id, Double.NaN))
  }
  def collectLongs(df: DataFrame, col: String): Map[Long, Long] =
    df.select("id", col).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Applies the `wrong` self-test to the first result checked in the run. */
  def maybeCorrupt(a: Array[Double]): Array[Double] =
    if (run.corruptNow()) { val b = a.clone(); b(0) = b(0) * 1.01 + 1e-6; b } else a
  def maybeCorrupt(m: Map[Long, Long]): Map[Long, Long] =
    if (run.corruptNow()) m.map { case (k, v) => k -> (v + 1) } else m

  def superstepLayer(op: String, hist: Seq[Seq[SuperstepMetrics]]): Seq[(String, Double)] = {
    val steady = hist.flatMap(_.drop(1).map(_.wallMs.toDouble))
    val firsts = hist.filter(_.nonEmpty).map(_.head.wallMs.toDouble)
    def or0(xs: Seq[Double])(f: Seq[Double] => Double) = if (xs.isEmpty) 0.0 else f(xs)
    Seq(
      s"$op.supersteps" -> or0(hist.map(_.size.toDouble))(Stats.median),
      s"$op.ss_p50_ms" -> or0(steady)(Stats.median),
      s"$op.ss_p75_ms" -> or0(steady)(Stats.quantile(_, 0.75)),
      s"$op.ss_first_ms" -> or0(firsts)(Stats.median))
  }

  def graphLayers: Seq[(String, Double)] = {
    val st = run.tracer.statsOf(adjSpan)
    Seq("graph.adj_s" -> adjSpan.seconds,
      "graph.adj_shuffle_mb" -> (st.shuffleReadBytes + st.shuffleWriteBytes) / 1048576.0) ++
      Layers.ops.flatMap { case (op, name) => run.opLayer(op, name) }
  }

  def medianCall(name: String): Double =
    run.callTimes.get(name).map(ts => Stats.median(ts.toSeq)).getOrElse(Double.NaN)

  def meta: Seq[(String, String)] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val (s, d) = gen.arcs()
    val buf = java.nio.ByteBuffer.allocate(16 * s.length)
    s.indices.foreach(i => buf.putLong(s(i)).putLong(d(i)))
    md.update(buf.array())
    Seq("pages" -> gen.pages.toString, "arcs" -> arrays.arcs.toString,
      "vertices" -> arrays.n.toString,
      "input_sha256" -> md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}

/** rank: stable-state sparse matrix-vector supersteps — PageRank to an L1
  * delta below 1e-6, then the four fixed-k rank-family loops.
  */
final class RankWorkload(run: Run) extends GraphWorkload(run, pages = 8000L, salt = 1L) {
  /** A rank pass is short and latency-bound (2-3 small jobs per superstep),
    * so one pass takes the full weight of any burst of CPU contention; the
    * reported figures are the median of at least two (the first in a cold
    * JVM, the second with the graph's derived tables built).
    */
  override def minPasses = 2
  private val prHist = mutable.ArrayBuffer.empty[Seq[SuperstepMetrics]]
  private var prIterations = 0
  private lazy val pprSources: Seq[Long] = {
    val r = new scala.util.Random(run.o.seed)
    Seq.fill(10)(arrays.ids(r.nextInt(arrays.n))).distinct.sorted
  }

  def pass(): Unit = {
    val spark = run.spark
    import spark.implicits._
    val g = graph
    results.clear()
    timed("PageRank.run")(PageRank.run(g, tol = 1e-6, maxIter = 100))(_.ranks.count())
    timed("Hits.run")(Hits.run(g, 3))(_.count())
    timed("Katz.runFixed")(Katz.runFixed(g, 4))(_.count())
    timed("Eigenvector.runFixed")(Eigenvector.runFixed(g, 4))(_.count())
    timed("PageRank.runPersonalized")(PageRank.runPersonalized(g, pprSources.toDF("id"), 5))(_.count())
    results.get("PageRank.run").foreach { case r: PageRank.Result => prHist += r.history }
  }

  def check(pass: Int): Unit = {
    val g = arrays
    results.foreach {
      case (name, r: PageRank.Result) =>
        prIterations = r.iterations
        val got = maybeCorrupt(collect(r.ranks, "rank"))
        run.check(name) {
          r.converged && math.abs(got.sum - 1.0) < 1e-9 && Oracles.allclose(got, g.pageRank(r.iterations))
        }
      case (name @ "Hits.run", df: DataFrame) =>
        val (h, a) = g.hits(3)
        run.check(name)(Oracles.allclose(maybeCorrupt(collect(df, "hub")), h) &&
          Oracles.allclose(collect(df, "auth"), a))
      case (name @ "Katz.runFixed", df: DataFrame) =>
        run.check(name)(Oracles.allclose(maybeCorrupt(collect(df, "x")), g.katz(4)))
      case (name @ "Eigenvector.runFixed", df: DataFrame) =>
        run.check(name)(Oracles.allclose(maybeCorrupt(collect(df, "x")), g.eigenvector(4)))
      case (name @ "PageRank.runPersonalized", df: DataFrame) =>
        run.check(name)(Oracles.allclose(maybeCorrupt(collect(df, "rank")),
          g.personalized(pprSources.map(g.index).toSet, 5)))
      case (name, _) => run.fail(s"$name: no check for this result")
    }
    results.clear()
  }

  private def steadyMs = prHist.flatMap(_.drop(1).map(_.wallMs.toDouble)).toSeq
  private def eps = if (steadyMs.isEmpty) Double.NaN else arrays.arcs / (Stats.median(steadyMs) / 1000.0)

  def summary: Seq[(String, Any)] = Seq(
    "pr_conv_s" -> medianCall("PageRank.run"),
    "pr_eps" -> eps,
    "pr_supersteps" -> prIterations,
    "rank_family_s" -> Seq("Hits.run", "Katz.runFixed", "Eigenvector.runFixed",
      "PageRank.runPersonalized").map(medianCall).sum)

  def layers: Seq[(String, Double)] =
    graphLayers ++ superstepLayer("pr", prHist.toSeq) :+ ("pr.eps" -> eps)
}

/** traverse: shrinking-state loops with AQE on — connected components with
  * a durable checkpoint every superstep, label propagation, BFS (one job per
  * level) and the wedge-join triangle count.
  */
final class TraverseWorkload(run: Run) extends GraphWorkload(run, pages = 8000L, salt = 2L) {
  private val ccHist = mutable.ArrayBuffer.empty[Seq[SuperstepMetrics]]
  private val lpHist = mutable.ArrayBuffer.empty[Seq[SuperstepMetrics]]
  private var passNo = 0
  private var reached = 0L
  private var triangles = 0L
  /** BFS root: the smallest vertex with an out-arc (vertex 0 unless it is dangling). */
  private lazy val root: Long = arrays.ids.indices.find(arrays.outDeg(_) > 0).map(arrays.ids(_)).get
  private def ckptDir(p: Int) = s"${run.o.scratch}/ckpt-cc-$p"

  def pass(): Unit = {
    val g = graph
    results.clear()
    timed("ConnectedComponents.run")(ConnectedComponents.run(g, maxIter = 200,
      checkpoint = Some(CheckpointConfig(ckptDir(passNo), every = 1)), localFinishEdges = 0L))(_.components.count())
    timed("LabelPropagation.run")(
      LabelPropagation.run(g, maxIter = 3, localFinishEdges = 0L))(_.labels.count())
    timed("Bfs.run")(Bfs.run(g, Seq(root), maxDepth = Int.MaxValue))(_.count())
    timed("TriangleCount.total")(TriangleCount.total(g))(_ => ())
    results.get("ConnectedComponents.run").foreach { case r: ConnectedComponents.Result => ccHist += r.history }
    results.get("LabelPropagation.run").foreach { case r: LabelPropagation.Result => lpHist += r.history }
    passNo += 1
  }

  private lazy val ccExpected = arrays.components()
  private lazy val lpExpected = arrays.labelPropagation(3)
  private lazy val bfsExpected = arrays.bfs(arrays.index(root))
  private lazy val triExpected = arrays.triangles()

  def check(pass: Int): Unit = {
    val g = arrays
    results.foreach {
      case (name, r: ConnectedComponents.Result) =>
        val got = maybeCorrupt(collectLongs(r.components, "comp"))
        run.check(name)(got.size == g.n && g.ids.indices.forall(i => got.get(g.ids(i)).contains(ccExpected(i))))
      case (name, r: LabelPropagation.Result) =>
        val got = maybeCorrupt(collectLongs(r.labels, "label"))
        run.check(name)(got.size == g.n && g.ids.indices.forall(i => got.get(g.ids(i)).contains(lpExpected(i))))
      case (name @ "Bfs.run", df: DataFrame) =>
        val rows = df.select("id", "dist", "pred").collect()
        val (dist, pred) = bfsExpected
        reached = rows.length
        run.check(name)(rows.length == dist.count(_ >= 0) && rows.forall { r =>
          val i = g.index(r.getLong(0))
          i >= 0 && dist(i) == r.getInt(1) && pred(i) == r.getLong(2)
        })
      case (name, n: Long) =>
        triangles = n
        run.check(name)((if (run.corruptNow()) n + 1 else n) == triExpected)
      case (name, _) => run.fail(s"$name: no check for this result")
    }
    results.clear()
    deleteTree(new java.io.File(ckptDir(pass)))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def summary: Seq[(String, Any)] = Seq(
    "cc_s" -> medianCall("ConnectedComponents.run"),
    "lp_s" -> medianCall("LabelPropagation.run"),
    "tri_s" -> medianCall("TriangleCount.total"),
    "bfs_nodes_per_s" -> reached / medianCall("Bfs.run"),
    "triangles" -> triangles, "bfs_reached" -> reached)

  def layers: Seq[(String, Double)] = {
    val cc = run.callSpans.getOrElse("ConnectedComponents.run", Nil).map(run.tracer.statsOf).toSeq
    val tri = run.callSpans.getOrElse("TriangleCount.total", Nil).map(run.tracer.statsOf).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    (graphLayers ++ superstepLayer("cc", ccHist.toSeq) ++ superstepLayer("lp", lpHist.toSeq) ++ Seq(
      "ckpt.write_mb" -> med(cc.map(_.outputBytes / 1048576.0)),
      "ckpt.files" -> med(cc.map(_.outputFiles.toDouble)),
      "bfs.nodes_per_s" -> reached / medianCall("Bfs.run"),
      "tri.records_per_triangle" ->
        (if (triangles > 0) med(tri.map(_.shuffleReadRecords.toDouble)) / triangles else 0.0)))
  }
}

/** suite: a fixed, family-covering subset of the driver-contract queries on
  * the bundled sf0.001 tables, once, cold, in one session; the seed permutes
  * the order (which moves shared-memo first-touch between queries).
  */
final class SuiteWorkload(run: Run) extends Workload {
  import run.o
  def repeats = false
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** Measured, in seed order: one or more queries of each of the eight
    * families (g d e t i q s m), plus the three queries whose cost stood out
    * in earlier full-suite runs (`d_url_dedup`, `d_simhash`, `g_bowtie`);
    * every one returns rows on sf0.001, and together they fit the run length.
    */
  val names: Seq[String] = new scala.util.Random(o.seed).shuffle(Seq(
    "d_simhash", "d_span_rewrite", "d_url_dedup", "e_lsh_topk", "g_bowtie", "g_cc", "g_degrees",
    "g_node2vec3", "g_tri_per_vertex", "i_host_cc", "m_binary_meta", "q_events_hourly", "s_attrib",
    "t_corpus_report", "t_len_pcts", "t_tokens"))
  private val results = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Row])]
  private lazy val expected: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(o.expected)
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).collect {
      case Array(q, rows, sha) => q -> (rows.toLong, sha)
    }.toMap finally src.close()
  }

  def setup(): Unit = tables.foreach { t =>
    run.tracer.span(s"setup.read.$t")(run.spark.read.parquet(s"${o.data}/$t.parquet").count())
  }

  def pass(): Unit = names.foreach { q =>
    val f = graft.SparkEntry.queries(q)
    run.call(q) {
      val df = f(run.spark, o.data)
      (df.columns.toSeq, df.collect().toSeq)
    }.foreach(results(q) = _)
  }

  def check(pass: Int): Unit = {
    results.foreach { case (q, (cols, rows)) =>
      val rs = if (run.corruptNow()) rows.drop(1) else rows
      val got = Digest.of(cols, rs)
      if (!expected.get(q).contains(got))
        run.fail(s"$q: (rows, digest) $got, expected ${expected.get(q)}")
    }
    results.clear()
  }

  private def times: Seq[Double] = names.flatMap(q => run.callTimes.getOrElse(q, Nil))

  def summary: Seq[(String, Any)] = {
    val ts = times.sorted
    // The highest percentile with at least 10 samples beyond it.
    val tail = if (ts.size > 10) Some(ts(ts.size - 11)) else None
    Seq("query_p50_s" -> (if (ts.nonEmpty) Stats.median(ts) else Double.NaN),
      "query_tail_s" -> tail, "query_tail_pct" -> tail.map(_ => 100.0 * (ts.size - 10) / ts.size),
      "queries" -> names.size)
  }

  def layers: Seq[(String, Double)] = {
    val per = names.flatMap(q => run.callSpans.getOrElse(q, Nil).map(s => (q, s, run.tracer.statsOf(s))))
    val wall = per.map(_._2.seconds).sum
    (Layers.families.map { f =>
      s"q.${f}_s" -> per.filter(_._1.take(1) == f).map(_._2.seconds).sum
    } ++ Seq(
      "q.jobs_p50" -> (if (per.isEmpty) 0.0 else Stats.median(per.map(_._3.jobs.toDouble))),
      "q.busy_frac" -> (if (wall > 0) per.map(_._3.runMs).sum / 1000.0 / (wall * o.cores) else 0.0),
      "q.gc_s" -> per.map(_._3.gcMs).sum / 1000.0,
      "q.shuffle_mb" -> per.map(p => p._3.shuffleReadBytes + p._3.shuffleWriteBytes).sum / 1048576.0))
  }

  def meta: Seq[(String, String)] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    tables.foreach(t => md.update(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"${o.data}/$t.parquet"))))
    Seq("queries" -> names.mkString(","), "input_sha256" -> md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
