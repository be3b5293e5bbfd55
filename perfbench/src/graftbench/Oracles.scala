package graftbench

/** Independent driver-array implementations the benchmark checks the
  * engine's results against. Nothing here calls the engine: no local
  * twins, no Spark.
  *
  * The graph is held as dense indices over the sorted vertex ids (every
  * id that appears in an arc, as `Graph.vertices` defines them), with
  * forward and reverse CSR.
  */
final class ArrayGraph(src: Array[Long], dst: Array[Long]) {
  val ids: Array[Long] = (src ++ dst).distinct.sorted
  val n: Int = ids.length
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  private val s = src.map(index)
  private val d = dst.map(index)
  val arcs: Int = s.length

  private def csr(from: Array[Int], to: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    from.foreach(u => off(u + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val pos = off.clone()
    val nbr = new Array[Int](from.length)
    for (k <- from.indices) { nbr(pos(from(k))) = to(k); pos(from(k)) += 1 }
    (off, nbr)
  }
  val (outOff, outNbr) = csr(s, d)
  val (inOff, inNbr) = csr(d, s)
  def outDeg(u: Int): Int = outOff(u + 1) - outOff(u)

  /** y(v) = Σ_{u→v} f(u) */
  private def gather(f: Int => Double): Array[Double] = {
    val y = new Array[Double](n)
    for (v <- 0 until n; k <- inOff(v) until inOff(v + 1)) y(v) += f(inNbr(k))
    y
  }
  /** y(u) = Σ_{u→v} f(v) */
  private def gatherOut(f: Int => Double): Array[Double] = {
    val y = new Array[Double](n)
    for (u <- 0 until n; k <- outOff(u) until outOff(u + 1)) y(u) += f(outNbr(k))
    y
  }
  private def dangling(r: Array[Double]): Double =
    (0 until n).iterator.filter(outDeg(_) == 0).map(r(_)).sum

  def pageRank(iterations: Int, alpha: Double = 0.85): Array[Double] = {
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val base = (1 - alpha) / n + alpha * dangling(r) / n
      val prev = r
      r = gather(u => prev(u) / outDeg(u)).map(c => base + alpha * c)
    }
    r
  }

  def personalized(sources: Set[Int], iterations: Int, alpha: Double = 0.85): Array[Double] = {
    val tele = Array.tabulate(n)(v => if (sources(v)) 1.0 / sources.size else 0.0)
    var r = tele.clone()
    for (_ <- 1 to iterations) {
      val dm = dangling(r)
      val prev = r
      val c = gather(u => prev(u) / outDeg(u))
      r = Array.tabulate(n)(v => (1 - alpha) * tele(v) + alpha * (c(v) + dm * tele(v)))
    }
    r
  }

  def katz(iterations: Int, alpha: Double = 0.05, beta: Double = 1.0): Array[Double] = {
    var x = Array.fill(n)(beta)
    for (_ <- 1 to iterations) { val p = x; x = gather(p(_)).map(c => beta + alpha * c) }
    x
  }

  def eigenvector(iterations: Int): Array[Double] = {
    var x = Array.fill(n)(1.0)
    for (_ <- 1 to iterations) {
      val p = x
      val y = gather(p(_))
      val norm = math.sqrt(y.map(v => v * v).sum)
      x = if (norm > 0) y.map(_ / norm) else Array.fill(n)(0.0)
    }
    x
  }

  /** (hub, auth) after `iterations` L1-normalized a-then-h rounds, h₀ = 1. */
  def hits(iterations: Int): (Array[Double], Array[Double]) = {
    def l1(y: Array[Double]) = { val s = y.sum; if (s > 0) y.map(_ / s) else Array.fill(n)(0.0) }
    var h = Array.fill(n)(1.0)
    var a = h
    for (_ <- 1 to iterations) {
      val hp = h
      a = l1(gather(hp(_)))
      val ap = a
      h = l1(gatherOut(ap(_)))
    }
    (h, a)
  }

  /** Distinct neighbors of each vertex in the symmetrized graph, self excluded. */
  lazy val undirected: Array[Array[Int]] = Array.tabulate(n) { u =>
    (outNbr.slice(outOff(u), outOff(u + 1)) ++ inNbr.slice(inOff(u), inOff(u + 1)))
      .filter(_ != u).distinct.sorted
  }

  /** Component label = min vertex id in the component (union-find). */
  def components(): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for (u <- 0 until n; k <- outOff(u) until outOff(u + 1)) {
      val (a, b) = (find(u), find(outNbr(k)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b) // indices sort like ids
    }
    Array.tabulate(n)(v => ids(find(v)))
  }

  /** Synchronous label propagation: most frequent neighbor label, ties to
    * the smallest label, isolated vertices keep theirs; stops when no label
    * changes or after `maxIter` rounds (`LabelPropagation.run`'s contract).
    */
  def labelPropagation(maxIter: Int): Array[Long] = {
    var label = ids.clone()
    var changed = 1
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      iter += 1
      changed = 0
      val prev = label
      label = Array.tabulate(n) { v =>
        val nb = undirected(v)
        if (nb.isEmpty) prev(v)
        else {
          val counts = nb.groupMapReduce(prev(_))(_ => 1)(_ + _)
          val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          if (best != prev(v)) changed += 1
          best
        }
      }
    }
    label
  }

  /** Directed BFS: (dist, pred) per vertex, -1 when unreached; pred is the
    * smallest-id vertex one level closer (the operator's canonical parent).
    */
  def bfs(root: Int): (Array[Int], Array[Long]) = {
    val dist = Array.fill(n)(-1)
    dist(root) = 0
    var frontier = Array(root)
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (u <- frontier; k <- outOff(u) until outOff(u + 1)) {
        val v = outNbr(k)
        if (dist(v) < 0) { dist(v) = dist(u) + 1; next += v }
      }
      frontier = next.toArray
    }
    val pred = Array.tabulate(n) { v =>
      if (dist(v) <= 0) (if (dist(v) == 0) ids(v) else -1L)
      else (inOff(v) until inOff(v + 1)).iterator.map(inNbr(_))
        .filter(u => dist(u) == dist(v) - 1).map(ids(_)).min
    }
    (dist, pred)
  }

  /** Triangles of the simple undirected graph, by sorted-adjacency intersection. */
  def triangles(): Long = {
    val up = undirected.zipWithIndex.map { case (nb, u) => nb.filter(_ > u) }
    var total = 0L
    for (u <- 0 until n; v <- up(u)) {
      val (a, b) = (up(u), up(v))
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { total += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1 else j += 1
      }
    }
    total
  }
}

object Oracles {
  /** numpy.allclose semantics: |a-b| <= atol + rtol*|b| elementwise. */
  def allclose(a: Array[Double], b: Array[Double], rtol: Double = 1e-6, atol: Double = 1e-12): Boolean =
    a.length == b.length && a.indices.forall(i => math.abs(a(i) - b(i)) <= atol + rtol * math.abs(b(i)))
}
