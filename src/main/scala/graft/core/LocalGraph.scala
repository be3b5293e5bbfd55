package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** The one driver-local graph behind every operator's local twin: dense
  * indices `0 until n` over the sorted distinct endpoint ids, sorted and
  * deduplicated neighbour lists, and a transpose — the reference's
  * `RandomAccessGraph` shape (PAPER §1.1). Ids are sorted, so index order
  * is id order and [[index]] is a binary search, not a hash map.
  *
  * The twin rule, stated once for every `localFinishEdges` parameter:
  * it is an edge cap. When it is > 0 and the graph's (deduplicated) arc
  * count fits it ([[fits]]), the operator collects the arcs to the driver
  * — about 16 B per arc, plus the CSR views it reads, 4 B per arc and per
  * vertex each — and runs its rounds on arrays instead of paying whole
  * Spark jobs per superstep, whose fixed latency dominates on the small
  * derived graphs the queries build. The default is 0 (always
  * distributed) because only a caller knows its graph is bounded; the
  * driver-contract queries pass [[QueryCap]]. Each operator documents why
  * its twin returns the same rows as its distributed path.
  */
private[graft] final class LocalGraph private (srcIds: Array[Long], dstIds: Array[Long]) {
  import LocalGraph._

  /** Sorted distinct endpoints, self-loop-only vertices included. */
  val ids: Array[Long] = sortedDistinct(srcIds ++ dstIds, srcIds.length * 2)
  def n: Int = ids.length

  /** Index of `id`; negative when `id` is no endpoint. */
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** The arcs in index space, as collected (duplicates kept). */
  val src: Array[Int] = srcIds.map(index)
  val dst: Array[Int] = dstIds.map(index)

  lazy val forward: Csr = csr(n, src, dst, loops = true)
  lazy val transpose: Csr = csr(n, dst, src, loops = true)
  /** The simple symmetric view: no loops, each pair once per direction. */
  lazy val symmetric: Csr = csr(n, src ++ dst, dst ++ src, loops = false)

  /** The symmetric view's pairs u < v, sorted, as parallel arrays. */
  lazy val canonical: (Array[Int], Array[Int]) = {
    val s = symmetric
    val us = Array.newBuilder[Int]
    val vs = Array.newBuilder[Int]
    for (u <- 0 until n; p <- s.off(u) until s.off(u + 1) if s.nbr(p) > u) {
      us += u; vs += s.nbr(p)
    }
    (us.result(), vs.result())
  }
}

private[graft] object LocalGraph {

  /** The `localFinishEdges` every driver-contract query passes. */
  final val QueryCap = 2000000L

  /** Compressed sparse rows: `nbr(off(v) until off(v + 1))` are v's
    * neighbours, ascending and distinct.
    */
  final case class Csr(off: Array[Int], nbr: Array[Int]) {
    def degree(v: Int): Int = off(v + 1) - off(v)
  }

  def apply(graph: Graph): LocalGraph = {
    val e = graph.edges.collect()
    new LocalGraph(e.map(_.src), e.map(_.dst))
  }

  def apply(src: Array[Long], dst: Array[Long]): LocalGraph = new LocalGraph(src, dst)

  /** The twin rule's cap test (see the class doc). */
  def fits(graph: Graph, cap: Long): Boolean = cap > 0 && graph.numEdges <= cap

  /** CSR of the arcs `from(i) → to(i)` over `n` vertices, loops dropped
    * unless `loops`. Arcs are packed as `(from << 32) | to`, so one sort
    * orders each list and puts duplicates side by side.
    */
  def csr(n: Int, from: Array[Int], to: Array[Int], loops: Boolean): Csr = {
    val arcs = new Array[Long](from.length)
    var m = 0
    for (i <- from.indices) if (loops || from(i) != to(i)) {
      arcs(m) = (from(i).toLong << 32) | to(i); m += 1
    }
    val keys = sortedDistinct(arcs, m)
    val off = new Array[Int](n + 1)
    keys.foreach(k => off((k >>> 32).toInt + 1) += 1)
    for (v <- 0 until n) off(v + 1) += off(v)
    Csr(off, keys.map(_.toInt))
  }

  /** BFS from `src`: fills `dist` (−1 = unreached) and returns the
    * eccentricity of `src`. `queue` needs room for every vertex.
    */
  def bfs(g: Csr, src: Int, dist: Array[Int], queue: Array[Int]): Int = {
    java.util.Arrays.fill(dist, -1)
    dist(src) = 0; queue(0) = src
    var head = 0; var tail = 1; var ecc = 0
    while (head < tail) {
      val u = queue(head); head += 1
      val du = dist(u)
      if (du > ecc) ecc = du
      var p = g.off(u)
      while (p < g.off(u + 1)) {
        val v = g.nbr(p)
        if (dist(v) < 0) { dist(v) = du + 1; queue(tail) = v; tail += 1 }
        p += 1
      }
    }
    ecc
  }

  /** A twin's driver-built rows as a DataFrame, in a quarter of the
    * default parallelism's partitions.
    */
  def frame[T <: Product : ClassTag : TypeTag](
      spark: SparkSession, rows: Seq[T], cols: String*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, spark.sparkContext.defaultParallelism / 4))).toDF(cols: _*)

  /** The first `len` values of `a`, sorted and deduplicated (sorts `a`). */
  private def sortedDistinct(a: Array[Long], len: Int): Array[Long] = {
    java.util.Arrays.sort(a, 0, len)
    var k = 0
    for (i <- 0 until len) if (k == 0 || a(i) != a(k - 1)) { a(k) = a(i); k += 1 }
    java.util.Arrays.copyOf(a, k)
  }
}
