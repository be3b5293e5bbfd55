package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's own web-shaped graph generator.
  *
  * It follows the topology of the engine's `ingest.PageGen` — host blocks
  * of 16 pages, power-law out-degree (inverse CDF `ceil(u^(-1/1.2))`
  * capped at 256), 2% dangling pages, 50% intra-host / 20% hub-biased /
  * 30% uniform targets — but is written here, with its own hash, so that
  * a change to the program can never change the benchmark's input.
  *
  * Two departures keep the work a seed asks for steady: a page's first link
  * always leaves its host (hub or uniform), and no page links to itself.
  * Without them a few closed host blocks or self-linked hubs become rank
  * sinks whose mass sets PageRank's superstep count to 1e-6, which swung
  * between 36 and 50 across seeds at 8,000 pages (22–23 with them).
  *
  * Every arc is a pure function of (seed, src, slot): the Spark table
  * ([[edges]]) and the driver arrays the checks use ([[arcs]]) are the
  * same arcs, computed twice.
  */
final case class WebGen(pages: Long, seed: Long) {

  private def mix(a: Long, b: Long, c: Long): Long = {
    // SplitMix64 finalizer over a combination of the three inputs.
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL + seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def mod(h: Long, m: Long): Long = java.lang.Math.floorMod(h, m)

  def outDegree(src: Long): Int =
    if (mod(mix(1, src, 0), 50) == 0) 0
    else {
      val u = mod(mix(2, src, 0), 1000000L).toDouble / 1e6 + 1e-9
      math.max(1, math.min(256, math.ceil(math.pow(u, -1.0 / 1.2)).toInt))
    }

  private val hubRange = math.min(pages, math.max(16L, math.round(math.sqrt(pages.toDouble))))

  def target(src: Long, slot: Int): Long = {
    val m = if (slot == 0) 5 + mod(mix(3, src, slot), 5) else mod(mix(3, src, slot), 10)
    val t =
      if (m < 5) math.min((src / 16) * 16 + mod(mix(4, src, slot), 16), pages - 1)
      else if (m < 7) mod(mix(5, src, slot), hubRange)
      else mod(mix(6, src, slot), pages)
    if (t == src) (t + 1) % pages else t
  }

  /** Raw arcs of one page (duplicates included, as ingest sees them). */
  def arcsOf(src: Long): Iterator[(Long, Long)] =
    Iterator.range(0, outDegree(src)).map(i => (src, target(src, i)))

  /** The raw arc table as a Spark DataFrame (src, dst), generated on the executors. */
  def edges(spark: SparkSession, partitions: Int): DataFrame = {
    import spark.implicits._
    val g = this
    spark.range(0L, pages, 1L, partitions).as[Long]
      .flatMap(src => g.arcsOf(src))
      .toDF("src", "dst")
  }

  /** Deduplicated arcs sorted by (src, dst), as driver arrays. */
  def arcs(): (Array[Long], Array[Long]) = {
    val keys = new scala.collection.mutable.ArrayBuilder.ofLong
    var src = 0L
    while (src < pages) {
      var i = 0
      val d = outDegree(src)
      while (i < d) { keys += (src << 32) | target(src, i); i += 1 }
      src += 1
    }
    require(pages < (1L << 31), "page ids must fit in 31 bits")
    val sorted = keys.result().sorted.distinct
    (sorted.map(_ >>> 32), sorted.map(_ & 0xFFFFFFFFL))
  }
}
