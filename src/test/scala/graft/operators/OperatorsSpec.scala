package graft.operators

import graft.{Fixtures, SeqOracles, TestSpark}
import graft.core.Graph
import org.scalatest.funsuite.AnyFunSuite

class GraphCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("adjacency: sorted successor chunks with full degree, hubs salted") {
    val g = Graph.fromPairs(spark, Fixtures.bucket9, chunkSize = 2)
    val adj = g.adjacency.collect()
    // node 2 has successors 1,3,4,5 (deg 4) -> two chunks of 2 under chunkSize=2
    val n2 = adj.filter(_.src == 2L).sortBy(_.chunk)
    assert(n2.length == 2)
    assert(n2.forall(_.deg == 4L))
    assert(n2.flatMap(_.dsts).sorted.toSeq == Seq(1L, 3L, 4L, 5L))
    assert(n2.forall(c => c.dsts.sorted.toSeq == c.dsts.toSeq))
    // dedup: self loop (0,0) kept once
    assert(adj.filter(_.src == 0L).flatMap(_.dsts).toSeq == Seq(0L))
  }

  test("degrees include dangling vertices with 0") {
    val g = Graph.fromPairs(spark, Seq((0L, 1L), (0L, 2L)))
    val out = g.outDegrees.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 2L, 1L -> 0L, 2L -> 0L))
  }

  test("symmetrize yields both orientations") {
    val g = Graph.fromPairs(spark, Seq((0L, 1L))).symmetrize
    assert(g.edges.collect().map(e => (e.src, e.dst)).toSet == Set((0L, 1L), (1L, 0L)))
  }
}

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def check(edges: Seq[(Long, Long)]): Unit = {
    val got = ConnectedComponents
      .run(Graph.fromPairs(spark, edges))
      .components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == SeqOracles.cc(edges))
  }

  test("bucket9 components match union-find oracle")(check(Fixtures.bucket9))
  test("lozenge: single weak component")(check(Fixtures.lozenge))
  test("tree7 weakly connected")(check(Fixtures.tree7))

  test("two disjoint cliques stay separate") {
    val edges = Fixtures.clique5 ++ Fixtures.clique5.map { case (u, v) => (u + 10, v + 10) }
    check(edges)
  }

  test("Erdős–Rényi graphs match oracle") {
    for (seed <- 1 to 3; p <- Seq(0.02, 0.1)) {
      check(Fixtures.erdosRenyi(60, p, seed))
    }
  }

  test("bounded local finish (union-find) == distributed min-label, labels and counts") {
    // The opt-in driver path must be output-identical to the distributed
    // path (comp = min member id), including directed edges treated as
    // undirected, self-loops, and a budget too small to trigger it.
    for (edges <- Seq(
        Fixtures.bucket9,
        Seq((0L, 1L), (1L, 2L), (10L, 11L), (5L, 5L)),
        Fixtures.erdosRenyi(50, 0.03, 11))) {
      val g = Graph.fromPairs(spark, edges)
      def norm(r: ConnectedComponents.Result) =
        (r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap,
          r.numComponents)
      val dist = norm(ConnectedComponents.run(g))
      val local = norm(ConnectedComponents.run(g, localFinishEdges = 1000000L))
      assert(local == dist)
      // budget smaller than the edge count → distributed path taken
      val tooSmall = norm(ConnectedComponents.run(g, localFinishEdges = 1L))
      assert(tooSmall == dist)
    }
  }

  test("sortBySize renumbers by decreasing size, ties by min label") {
    // components: {0,1,2} (comp 0), {10,11,12} (comp 10), {20,21} (comp 20)
    val edges = Seq((0L, 1L), (1L, 2L), (10L, 11L), (11L, 12L), (20L, 21L))
    val comps = ConnectedComponents.run(Graph.fromPairs(spark, edges)).components
    val ranked = ConnectedComponents.sortBySize(comps)
      .select("comp", "size", "rank").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ranked == Set((0L, 3L, 0), (10L, 3L, 1), (20L, 2L, 2)))
  }
}

class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    PageRank.runFixed(Graph.fromPairs(spark, edges), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("fixed iterations match sequential oracle (incl. dangling mass)") {
    for (edges <- Seq(Fixtures.bucket9, Fixtures.triangleTail, Fixtures.tree7)) {
      val got = ranksOf(edges, 10)
      val want = SeqOracles.pagerank(edges, 0.85, 10)
      assert(got.keySet == want.keySet)
      got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"vertex $v") }
    }
  }

  test("ranks sum to 1 (mass conservation with dangling nodes)") {
    val got = ranksOf(Fixtures.tree7, 7) // leaves are dangling
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("uniform rank on a regular cycle, converged flag set") {
    val res = PageRank.run(Graph.fromPairs(spark, Fixtures.cycle4), tol = 1e-10, maxIter = 100)
    assert(res.converged)
    res.ranks.collect().foreach(r => assert(math.abs(r.getDouble(1) - 0.25) < 1e-9))
  }

  test("convergence decreases L1 delta monotonically on ER graph") {
    val res = PageRank.run(
      Graph.fromPairs(spark, Fixtures.erdosRenyi(80, 0.05, 7)), tol = 1e-6, maxIter = 60)
    assert(res.converged)
    val deltas = res.history.map(_.deltaNorm)
    assert(deltas.last < 1e-6)
    assert(deltas.sliding(2).forall(w => w.last <= w.head * 1.01))
  }

  test("warm start: converged ranks reconverge in 1 iteration; fewer on a perturbed graph") {
    import spark.implicits._
    val edges = Fixtures.erdosRenyi(120, 0.04, 13)
    val g = Graph.fromPairs(spark, edges)
    val cold = PageRank.run(g, tol = 1e-8, maxIter = 200)
    assert(cold.converged)
    // exact fixpoint in → one checking step out (delta ≤ α·lastDelta < tol)
    val re = PageRank.run(g, tol = 1e-8, maxIter = 200, init = Some(cold.ranks))
    assert(re.converged && re.iterations == 1, s"got ${re.iterations} iterations")

    // yesterday's ranks on today's slightly-changed graph: same fixpoint,
    // materially fewer iterations
    val g2 = Graph.fromPairs(spark, edges ++ Seq(0L -> 119L, 119L -> 57L, 3L -> 88L))
    val cold2 = PageRank.run(g2, tol = 1e-8, maxIter = 200)
    val warm2 = PageRank.run(g2, tol = 1e-8, maxIter = 200, init = Some(cold.ranks))
    assert(cold2.converged && warm2.converged)
    assert(warm2.iterations < cold2.iterations,
      s"warm ${warm2.iterations} !< cold ${cold2.iterations}")
    val a = cold2.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = warm2.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    a.foreach { case (v, r) => assert(math.abs(r - b(v)) < 1e-6, s"vertex $v") }
  }

  test("warm start renormalizes: unnormalized/partial init behaves and conserves mass") {
    import spark.implicits._
    val g = Graph.fromPairs(spark, Fixtures.bucket9)
    // ranks scaled ×40 and missing half the vertices: the seed must be
    // renormalized to mass 1 and missing ids seeded, not break the algebra
    val skewed = PageRank.runFixed(g, 5)
      .where($"id" % 2 === 0).select($"id", ($"rank" * 40).as("rank"))
    val res = PageRank.run(g, tol = 1e-8, maxIter = 200, init = Some(skewed))
    assert(res.converged)
    val ranks = res.ranks.collect().map(_.getDouble(1))
    assert(math.abs(ranks.sum - 1.0) < 1e-9)
    val plain = PageRank.run(g, tol = 1e-8, maxIter = 200)
    val want = plain.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.ranks.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - want(r.getLong(0))) < 1e-6))
  }

  /** Sequential strongly-preferential PPR oracle. */
  private def seqPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
                     alpha: Double, iters: Int): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tele = nodes.map(v => v -> (if (seeds(v)) 1.0 / seeds.size else 0.0)).toMap
    var r = tele
    for (_ <- 1 to iters) {
      val dang = nodes.filter(v => out.getOrElse(v, Nil).isEmpty).map(r).sum
      val contrib = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (v <- nodes; ds = out.getOrElse(v, Nil); if ds.nonEmpty; d <- ds)
        contrib(d) += r(v) / ds.size
      r = nodes.map(v => v ->
        ((1.0 - alpha) * tele(v) + alpha * (contrib(v) + dang * tele(v)))).toMap
    }
    r
  }

  test("personalized PageRank matches sequential oracle (dangling mass to seeds)") {
    for (edges <- Seq(Fixtures.bucket9, Fixtures.tree7, Fixtures.erdosRenyi(60, 0.06, 3))) {
      import spark.implicits._
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val seeds = nodes.take(3)
      val got = PageRank.runPersonalized(
          Graph.fromPairs(spark, edges), seeds.toDF("id"), iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = seqPpr(edges, seeds.toSet, 0.85, 8)
      assert(got.keySet == want.keySet)
      got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"vertex $v") }
      assert(math.abs(got.values.sum - 1.0) < 1e-9) // mass conservation
    }
  }

  test("PPR locality: vertices unreachable from the seed set rank 0") {
    import spark.implicits._
    // two disjoint 2-cycles; seed only in the first
    val edges = Seq((0L, 1L), (1L, 0L), (10L, 11L), (11L, 10L))
    val got = PageRank.runPersonalized(
        Graph.fromPairs(spark, edges), Seq(0L).toDF("id"), iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(10L) == 0.0 && got(11L) == 0.0)
    assert(got(0L) > got(1L) && got(1L) > 0.0)
  }

  /** Every rank-family member as (name, gathers per iteration, run k). */
  private def rankFamily(g: Graph): Seq[(String, Int, Int => Any)] = {
    import spark.implicits._
    val weighted = Fixtures.bucket9.map { case (s, d) => (s, d, 1.0 + (s + d) % 3) }
      .toDF("src", "dst", "weight")
    Seq(
      ("PageRank.run", 1, k => PageRank.run(g, tol = 0.0, maxIter = k)),
      ("PageRank.runPersonalized", 1, k => PageRank.runPersonalized(g, Seq(0L, 5L).toDF("id"), k)),
      ("PageRank.runWeightedFixed", 1, k => PageRank.runWeightedFixed(weighted, k)),
      ("Hits.run", 2, k => Hits.run(g, k)),
      ("Salsa.run", 2, k => Salsa.run(g, k)),
      ("Katz.runFixed", 1, k => Katz.runFixed(g, k)),
      ("Eigenvector.runFixed", 1, k => Eigenvector.runFixed(g, k)))
  }

  test("every rank-family member spends PageRank.run's jobs per gather") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val g = Graph.fromPairs(spark, Fixtures.bucket9)
    g.numEdges; g.numVertices; g.adjacency.count(); g.transposeAdjacency.count()
    val sc = spark.sparkContext
    val group = "rank-family-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    def jobsOf(run: => Any): Int = {
      org.apache.spark.TestBus.drain(sc)
      val before = jobs.get
      run
      org.apache.spark.TestBus.drain(sc)
      jobs.get - before
    }
    // Broadcast joins and runtime bloom filters each run a job of their
    // own, planned from estimated sizes; with both off the count is the
    // loop's own driver actions.
    val planned = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")
    val saved = planned.map { case (k, v) => val was = spark.conf.get(k); spark.conf.set(k, v); k -> was }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "rank-family jobs per gather")
    try {
      // k and k+2 iterations: the difference is 2 iterations' gathers
      val perGather = rankFamily(g).map { case (name, gathers, run) =>
        name -> (jobsOf(run(3)) - jobsOf(run(1))).toDouble / (2 * gathers)
      }
      val pr = perGather.head._2
      assert(pr == 1.0, s"PageRank.run spends $pr jobs per gather")
      perGather.foreach { case (name, j) =>
        assert(j == pr, s"$name spends $j jobs per gather, PageRank.run $pr")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("rank-family members leave spark.sql.adaptive.enabled as they found it, also on a throw") {
    val g = Graph.fromPairs(spark, Fixtures.bucket9)
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    try {
      for (((name, _, run), i) <- rankFamily(g).zipWithIndex) {
        val found = (i % 2 == 0).toString
        spark.conf.set(key, found)
        run(1)
        assert(spark.conf.get(key) == found, s"$name left AQE at ${spark.conf.get(key)}")
      }
      // A checkpoint dir beneath a regular file: the commit of superstep 1
      // throws from inside the loop, after AQE was suspended.
      val file = java.nio.file.Files.createTempFile("graft-aqe", ".txt")
      spark.conf.set(key, "true")
      intercept[Exception](PageRank.run(g, tol = 0.0, maxIter = 2,
        checkpoint = Some(graft.core.CheckpointConfig(s"$file/ckpt"))))
      assert(spark.conf.get(key) == "true")
      java.nio.file.Files.delete(file)
    } finally spark.conf.set(key, saved)
  }
}

class LabelPropagationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("matches sequential oracle on fixtures") {
    for (edges <- Seq(Fixtures.bucket9, Fixtures.lozenge, Fixtures.erdosRenyi(40, 0.08, 3))) {
      for (iters <- Seq(1, 2, 4)) {
        val got = LabelPropagation.run(Graph.fromPairs(spark, edges), maxIter = iters)
          .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == SeqOracles.lp(edges, iters), s"iters=$iters")
      }
    }
  }

  test("two cliques joined by a bridge resolve to per-clique labels") {
    val cliqueA = Fixtures.clique5
    val cliqueB = Fixtures.clique5.map { case (u, v) => (u + 5, v + 5) }
    val edges = cliqueA ++ cliqueB ++ Seq((4L, 5L))
    val got = LabelPropagation.run(Graph.fromPairs(spark, edges), maxIter = 10)
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(got(_) == 0L))
    assert((6L to 9L).forall(got(_) == 5L))
  }
}

class TriangleCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("known counts: clique5=10, triangle+tail=1, cycle4=0, bucket9") {
    assert(TriangleCount.total(Graph.fromPairs(spark, Fixtures.clique5)) == 10L)
    assert(TriangleCount.total(Graph.fromPairs(spark, Fixtures.triangleTail)) == 1L)
    assert(TriangleCount.total(Graph.fromPairs(spark, Fixtures.cycle4)) == 0L)
    assert(TriangleCount.total(Graph.fromPairs(spark, Fixtures.bucket9)) ==
      SeqOracles.triangles(Fixtures.bucket9))
  }

  test("ER graphs match brute-force oracle") {
    for (seed <- 1 to 3) {
      val edges = Fixtures.erdosRenyi(30, 0.2, seed)
      assert(TriangleCount.total(Graph.fromPairs(spark, edges)) == SeqOracles.triangles(edges))
    }
  }

  test("per-vertex counts: each clique5 vertex is in C(4,2)=6 triangles") {
    val pv = TriangleCount.perVertex(Graph.fromPairs(spark, Fixtures.clique5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pv == (0L until 5L).map(_ -> 6L).toMap)
  }

  test("edge support: clique5 edges all C(3,1)=3; triangle+tail splits 1/1/1/0") {
    def sup(pairs: Seq[(Long, Long)]) =
      TriangleCount.edgeSupport(Graph.fromPairs(spark, pairs))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k5 = sup(Fixtures.clique5)
    assert(k5.size == 10 && k5.values.forall(_ == 3L), k5.toString)
    // triangle 0-1-2 plus tail edge 1-3: the three triangle edges have
    // support 1, the tail 0
    val tt = sup(Fixtures.triangleTail)
    assert(tt((0L, 1L)) == 1L && tt((0L, 2L)) == 1L && tt((1L, 2L)) == 1L)
    assert(tt((1L, 3L)) == 0L)
  }

  test("edge support: per-vertex counts are recoverable (sum of incident supports = 2·T(v))") {
    // Each triangle at v contributes to exactly 2 of v's incident edges,
    // so Σ_{e ∋ v} support(e) = 2 · triangles(v) — a cross-operator
    // consistency check on an ER graph.
    val edges = Fixtures.erdosRenyi(30, 0.2, 5)
    val g = Graph.fromPairs(spark, edges)
    val sup = TriangleCount.edgeSupport(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val perV = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    sup.foreach { case ((u, v), s) => perV(u) += s; perV(v) += s }
    val tri = TriangleCount.perVertex(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    tri.foreach { case (id, t) => assert(perV(id) == 2 * t, s"vertex $id") }
  }
}

class BfsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("distances match textbook oracle (bucket9, all roots)") {
    for (root <- 0L until 9L) {
      val got = Bfs.distances(Graph.fromPairs(spark, Fixtures.bucket9), Seq(root))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == SeqOracles.bfs(Fixtures.bucket9, Seq(root)), s"root=$root")
    }
  }

  test("multi-root BFS (reference test_bfv.rs:114-132): d=[0,1,1,0]") {
    val got = Bfs.distances(Graph.fromPairs(spark, Fixtures.multiroot), Seq(0L, 3L))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 0))
  }

  test("preds are valid parents at distance-1") {
    val rows = Bfs.run(Graph.fromPairs(spark, Fixtures.bucket9), Seq(1L)).collect()
    val dist = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = Fixtures.bucket9.toSet
    rows.filter(_.getInt(1) > 0).foreach { r =>
      val (id, d, pred) = (r.getLong(0), r.getInt(1), r.getLong(2))
      assert(edges.contains((pred, id)) && dist(pred) == d - 1)
    }
  }

  test("ER differential vs oracle") {
    val edges = Fixtures.erdosRenyi(50, 0.05, 11)
    val got = Bfs.distances(Graph.fromPairs(spark, edges), Seq(0L))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == SeqOracles.bfs(edges, Seq(0L)))
  }

  test("filtered visit: expansion confined to an allowed set (FilterArgsPred analogue)") {
    import spark.implicits._
    val allowed = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
    val got = Bfs.run(Graph.fromPairs(spark, Fixtures.bucket9), Seq(2L), allowed = Some(allowed))
      .select("id", "dist")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 2→{1,3,4,5} but 5 is filtered; 0 only via 1
    assert(got == Map(2L -> 0, 1L -> 1, 3L -> 1, 4L -> 1, 0L -> 2))
  }

  test("maxDepth truncates the visit (ControlFlow::Break analogue)") {
    val got = Bfs.run(Graph.fromPairs(spark, Fixtures.bucket9), Seq(2L), maxDepth = 1)
      .select("id", "dist")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(2L -> 0, 1L -> 1, 3L -> 1, 4L -> 1, 5L -> 1))
  }
}

class IncrementalCcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def df(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }

  /** incremental(cc(old), old, new) must equal the from-scratch labeling
    * of `new` — SeqOracles.cc is the truth on both sides.
    */
  private def check(oldE: Seq[(Long, Long)], newE: Seq[(Long, Long)]): ConnectedComponents.IncrementalResult = {
    import spark.implicits._
    val oldLabels = SeqOracles.cc(oldE).toSeq.toDF("id", "comp")
    val r = ConnectedComponents.incremental(oldLabels, df(oldE), df(newE))
    val got = r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == SeqOracles.cc(newE))
    r
  }

  test("pure addition merges two clean components through contracted nodes") {
    val twoCliques = Fixtures.clique5 ++ Fixtures.clique5.map { case (u, v) => (u + 10, v + 10) }
    val r = check(twoCliques, twoCliques ++ Seq((3L, 12L)))
    assert(r.dirtyComponents == 0L)
    // the bridge contracts to (0,10)+(10,0): the cliques never iterate
    assert(r.repairEdges == 2L)
  }

  test("deletion splits a dirty component") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    check(path, Seq((0L, 1L), (2L, 3L)))
  }

  test("vertex vanishing when its every arc is removed leaves the output") {
    val r = check(Seq((0L, 1L), (1L, 2L)), Seq((0L, 1L)))
    assert(r.components.collect().map(_.getLong(0)).toSet == Set(0L, 1L))
  }

  test("self-loop-only vertices: retained singleton kept, removed one dropped, new one added") {
    check(Seq((5L, 5L), (6L, 6L), (0L, 1L)), Seq((5L, 5L), (7L, 7L), (0L, 1L)))
  }

  test("mixed churn differential on ER snapshots (3 seeds)") {
    for (seed <- Seq(7L, 19L, 42L)) {
      val oldE = Fixtures.erdosRenyi(40, 0.05, seed)
      // deterministic churn: drop one arc class, add a shifted arc set
      val newE = oldE.filterNot { case (u, v) => (u * 31 + v) % 7 == 0 } ++
        Fixtures.erdosRenyi(45, 0.02, seed + 100)
      check(oldE, newE)
    }
  }

  test("low churn iterates only the delta, never the corpus") {
    // 30 disjoint 4-cycles (120 arcs); delta touches exactly one of them
    val comps = (0 until 30).flatMap { c =>
      val b = c * 4L
      Seq((b, b + 1), (b + 1, b + 2), (b + 2, b + 3), (b + 3, b))
    }
    val newE = comps.filterNot(_ == (2L, 3L)) :+ (0L, 119L)
    val r = check(comps, newE)
    assert(r.dirtyComponents == 1L)
    // repair graph: the dirtied 4-cycle's surviving arcs (symmetrized)
    // plus the contracted new bridge — bounded by the delta, not the corpus
    assert(r.repairEdges <= 10L)
  }

  test("idempotent refresh: zero delta touches nothing") {
    val edges = Fixtures.bucket9
    val r = check(edges, edges)
    assert(r.dirtyComponents == 0L && r.repairEdges == 0L)
  }
}
