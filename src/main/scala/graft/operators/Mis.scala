package graft.operators

import graft.core.{CheckpointConfig, Graph, IterationContext, LocalGraph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Maximal independent set by synchronous local-minima rounds over a
  * hash permutation — the distributed symmetry-breaking primitive
  * (Luby 1986 / Blelloch et al. 2012 greedy-permutation form): in each
  * round, every live vertex whose permutation key is smaller than all of
  * its live neighbors' keys joins the MIS; winners and their neighbors
  * leave the graph. The fixpoint is EXACTLY the sequential greedy MIS of
  * the permutation order — the output is a deterministic function of the
  * graph and `salt`, independent of round structure, partitioning, and
  * retries (the key is [[graft.text.TextOps.portableHash60]] of
  * "id:salt", ties broken by id — not an RNG). MIS drives scheduling-
  * style pipeline stages: crawl politeness groups (no two adjacent hosts
  * fetched in the same slot), one-per-neighborhood landmark selection,
  * coloring seeds.
  *
  * Scale shape: per round, ONE per-edge key comparison + distinct
  * ("vertices with a smaller live neighbor" — map-side combined) and the
  * winner/removal anti-joins over a state that only SHRINKS; no per-
  * vertex adjacency arrays, no driver state. Expected O(log n) rounds
  * (each round removes a constant expected fraction of live edges), so a
  * 10^10-edge graph resolves in ~30 shuffle rounds. Vertices with no
  * live neighbor are local minima vacuously and join the MIS in their
  * first live round.
  */
object Mis {

  final case class Result(
      /** (id: Long, in_mis: Boolean) for EVERY vertex; undecided rows
        * (only when `converged` is false) report in_mis = false.
        */
      mis: DataFrame,
      rounds: Int,
      converged: Boolean
  )

  private[graft] def keyOf(id: Column, salt: String): Column =
    graft.text.TextOps.portableHash60(
      concat(id.cast("string"), lit(":" + salt)))

  /** Driver-side replica of [[keyOf]] — md5("id:salt") first 15 hex
    * digits as a nonneg 60-bit long, bit-identical to
    * [[graft.text.TextOps.portableHash60]] (15 hex digits = bytes 0–6
    * plus the high nibble of byte 7). Shared by the [[Mis]] and
    * [[Coloring]] local twins; pinned against the column expression by
    * `MisSpec`.
    */
  private[operators] def keyOfLocal(id: Long, salt: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest((id.toString + ":" + salt)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** The (key, id) permutation order of a [[LocalGraph]]'s vertices —
    * what the [[Mis]] and [[Coloring]] twins add to its symmetric view.
    */
  private[operators] final class LocalSym(ids: Array[Long], salt: String) {
    private val key = ids.map(keyOfLocal(_, salt))
    /** Does index a come strictly before index b? */
    def before(a: Int, b: Int): Boolean =
      key(a) < key(b) || (key(a) == key(b) && ids(a) < ids(b))
  }

  def run(
      graph: Graph,
      salt: String = "",
      maxRounds: Int = 64,
      checkpoint: Option[CheckpointConfig] = None,
      verbose: Boolean = false,
      /** Driver-local twin cap, the [[graft.core.LocalGraph]] rule; not
        * taken when checkpointing is requested. The twin simulates the
        * Luby rounds round for round on the symmetric view, so the
        * permutation-greedy fixpoint, `rounds`, `converged` and the
        * maxRounds cutoff are those of the distributed rounds (pinned by
        * `MisSpec`'s differential).
        */
      localFinishEdges: Long = 0L
  ): Result = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = graph.spark
    import spark.implicits._

    if (checkpoint.isEmpty && LocalGraph.fits(graph, localFinishEdges)) {
      val g = LocalGraph(graph)
      val sym = g.symmetric
      val order = new LocalSym(g.ids, salt)
      val live = Array.fill(g.n)(true)
      val inMis = new Array[Boolean](g.n)
      var remaining = g.n.toLong
      var rounds = 0
      while (remaining > 0 && rounds < maxRounds) {
        // winners = live local minima of the (key, id) permutation
        val winner = Array.tabulate(g.n)(i => live(i) &&
          (sym.off(i) until sym.off(i + 1)).forall { p =>
            val u = sym.nbr(p); !live(u) || !order.before(u, i) })
        for (i <- 0 until g.n if winner(i)) {
          inMis(i) = true; live(i) = false
          for (p <- sym.off(i) until sym.off(i + 1)) live(sym.nbr(p)) = false
        }
        rounds += 1
        remaining = live.count(identity).toLong
      }
      val mis = LocalGraph.frame(spark, g.ids.indices.map(i => (g.ids(i), inMis(i))),
        "id", "in_mis")
      return Result(mis, rounds, converged = remaining == 0)
    }

    val ctx = new IterationContext("mis", checkpoint, verbose = verbose)
    var liveE = ctx.init(graph.symmetrize.edges.filter($"src" =!= $"dst").toDF())
    // Live vertices start as ALL vertices (isolated ones win round 1).
    var liveV = graph.vertices.toDF("id").localCheckpoint(true)
    val misParts = scala.collection.mutable.ArrayBuffer[DataFrame]()

    var rounds = 0
    var remaining = liveV.count()
    while (remaining > 0 && rounds < maxRounds) {
      // A vertex loses the round iff some live neighbor has a smaller
      // (key, id); winners are the permutation's live local minima.
      val losers = liveE
        .where(struct(keyOf($"dst", salt), $"dst") <
          struct(keyOf($"src", salt), $"src"))
        .select($"src".as("id")).distinct()
      val winners = liveV.join(losers, Seq("id"), "left_anti")
        .localCheckpoint(true)
      val removed = winners
        .union(liveE.join(winners.select($"id".as("src")), Seq("src"), "left_semi")
          .select($"dst".as("id")))
        .distinct()
      val nextV = liveV.join(removed, Seq("id"), "left_anti").localCheckpoint(true)
      val nextE = ctx.cut(
        liveE
          .join(nextV.select($"id".as("src")), Seq("src"), "left_semi")
          .join(nextV.select($"id".as("dst")), Seq("dst"), "left_semi")
          .select($"src", $"dst"))
      rounds += 1
      val cnt = nextV.count()
      nextE.count() // materialize the lazy cut BEFORE advance releases the old state
      liveE = ctx.advance(rounds, nextE,
        deltaNorm = (remaining - cnt).toDouble, messages = remaining,
        changed = remaining - cnt)
      graft.core.Lineage.release(liveV)
      misParts += winners
      liveV = nextV
      remaining = cnt
    }

    val misIds =
      if (misParts.isEmpty) spark.emptyDataset[Long].toDF("id")
      else misParts.reduce(_ union _)
    val mis = graph.vertices.toDF("id")
      .join(misIds.select($"id", lit(true).as("in_mis")), Seq("id"), "left")
      .select($"id", coalesce($"in_mis", lit(false)).as("in_mis"))
    ctx.close()
    Result(mis, rounds, converged = remaining == 0)
  }
}
