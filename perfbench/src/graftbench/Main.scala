package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command-line options, passed by `perfbench/run.py`. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    /** Run scratch: Spark local dir, warehouse, checkpoints. */
    scratch: String,
    /** Where the result record is written. */
    out: String,
    /** Where a traced run writes its spans as JSON lines. */
    traceOut: String,
    /** Suite input tables and the expected-results file. */
    data: String,
    expected: String,
    /** Self-test: `throw` adds a call that throws; `wrong` corrupts one result before its check. */
    inject: Option[String],
    meta: Map[String, String]
)

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    kv.get("dump-oracle") match {
      case Some(path) =>
        Files.writeString(Paths.get(path), Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)))
      case None =>
        val o = Opts(
          workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
          trace = kv("trace") == "1", cores = kv("cores").toInt, scratch = kv("scratch"),
          out = kv("out"), traceOut = kv("trace-out"), data = kv("data"), expected = kv("expected"),
          inject = kv.get("inject"),
          meta = kv.collect { case (k, v) if k.startsWith("meta.") => k.drop(5) -> v })
        Files.writeString(Paths.get(o.out), new Run(o).execute())
    }
  }
}

/** A workload: its set-up, one pass of timed calls, and the checks of that
  * pass's results. Calls go through [[Run.call]].
  */
trait Workload {
  /** Builds the input in the current session (timed by the caller). */
  def setup(): Unit
  /** Whether further passes may run while the run length allows. */
  def repeats: Boolean
  /** Passes made whatever the run length. */
  def minPasses: Int = 1
  def pass(): Unit
  /** Checks the last pass's results; each failed check counts as a failed call. */
  def check(pass: Int): Unit
  /** Workload-specific end-to-end figures for the summary line. */
  def summary: Seq[(String, Any)]
  /** Per-layer metrics (traced run). */
  def layers: Seq[(String, Double)]
  def meta: Seq[(String, String)]
}

/** One benchmark run: set-up (repeated, median reported), then passes of
  * the workload's timed calls until `--seconds` is used, with checks after
  * each pass.
  */
final class Run(val o: Opts) {
  val tracer = new Tracer(o.trace)
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Wall seconds of each call, by call name. */
  val callTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Spans of each call, by call name. */
  val callSpans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Span]]
  private val heap = new OldGenWatch
  var spark: SparkSession = _

  private val SetupRepeats = 3

  def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }

  private def newSession(): SparkSession = {
    val s = graft.core.Sessions.tuned(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString))
      // Keep every file the run writes inside the run's scratch directory.
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s.sparkContext)
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A timed call into the program; a throw counts as a failed call. */
  def call[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val (r, span) = tracer.span(name)(f)
      val dt = secs(t0)
      System.err.println(f"[perfbench] $name%-28s $dt%8.3f s")
      callTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
      callSpans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += span
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  private var corrupted = false
  /** True exactly once in a run when the `wrong` self-test is on: the caller
    * corrupts the result it is about to check.
    */
  def corruptNow(): Boolean = {
    val c = o.inject.contains("wrong") && !corrupted
    corrupted ||= c
    c
  }

  def check(name: String)(ok: => Boolean): Unit =
    try { if (!ok) fail(s"$name: result differs from the independent computation") }
    catch { case NonFatal(e) => fail(s"$name: check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** CPU time of the whole JVM process (all threads, GC and JIT included). */
  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The aggregate `cpu` line of /proc/stat (user … steal), if readable. */
  private def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").slice(1, 9).map(_.toLong))
      finally src.close()
    } catch { case _: java.io.IOException => None }

  def execute(): String = {
    val workload: Workload = o.workload match {
      case "rank" => new RankWorkload(this)
      case "traverse" => new TraverseWorkload(this)
      case "suite" => new SuiteWorkload(this)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val stat0 = procStat()
    // Set-up, repeated in fresh sessions; the last session is kept for the passes.
    val setups = (1 to SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      workload.setup()
      val dt = secs(t0)
      System.err.println(f"[perfbench] set-up $dt%.3f s")
      dt
    }
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    var more = true
    while (more) {
      val cpu0 = cpuNs()
      val (_, span) = tracer.span(s"pass$pass")(heap.watch(workload.pass()))
      passTimes += span.seconds
      passCpu += (cpuNs() - cpu0) / 1e9
      // Before the check, which releases the pass's results.
      tracer.span("heap")(heap.forcedSample())
      tracer.span(s"check$pass")(workload.check(pass))
      if (o.inject.contains("throw")) call("inject.throw") {
        throw new IllegalStateException("injected failure")
      }
      pass += 1
      more = pass < workload.minPasses ||
        workload.repeats && System.nanoTime() + (span.seconds * 1e9).toLong <= deadline
    }
    val stat1 = procStat()
    val steal = for (a <- stat0; b <- stat1) yield {
      val total = b.sum - a.sum
      if (total > 0) (b(7) - a(7)).toDouble / total else 0.0
    }

    val runS = if (passTimes.nonEmpty) Stats.median(passTimes.toSeq) else Double.NaN
    val metrics: Seq[(String, Double, String)] =
      if (o.trace) {
        val ls = Layers.complete(workload.layers ++
          Seq("heap.peak_mb" -> heap.peakMb, "heap.major_gcs" -> heap.majorGcs.toDouble,
            "trace.run_s" -> runS, "trace.spans" -> tracer.spanCount.toDouble))
        Files.write(Paths.get(o.traceOut), tracer.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
        ls.map { case (k, v) => (k, v, Layers.unit(k)) }
      } else Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("run_s", runS, "s"),
        ("cpu_s", Stats.median(passCpu.toSeq), "s"),
        ("heap_live_mb", heap.endMb, "MB"))
    val summary = workload.summary ++ Seq(
      "fail_frac" -> failed.toDouble / math.max(1, attempted),
      "heap_peak_mb" -> heap.peakMb, "major_gcs_in_passes" -> heap.majorGcs, "passes" -> passTimes.size, "calls" -> callTimes.values.map(_.size).sum,
      "setup_samples_s" -> setups)
    val meta = o.meta.toSeq ++ Seq(
      "workload" -> o.workload, "seed" -> o.seed.toString, "nproc" -> o.cores.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "steal_frac" -> steal.map(s => f"$s%.4f").getOrElse("unknown")) ++ workload.meta
    spark.stop()
    Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*),
      "summary" -> ListMap(summary: _*), "meta" -> ListMap(meta: _*), "failures" -> failures.toSeq))
  }

  /** The seven per-operator metrics folded from the spans of one call name
    * (medians over the run's calls); zeros when the call did not run.
    */
  def opLayer(op: String, callName: String): Seq[(String, Double)] = {
    val spans = callSpans.getOrElse(callName, Nil).toSeq
    if (spans.isEmpty) Layers.opMetrics.map(m => s"$op.$m" -> 0.0)
    else {
      val per = spans.map(s => (s.seconds, tracer.statsOf(s)))
      def med(f: ((Double, SpanStats)) => Double) = Stats.median(per.map(f))
      Seq(
        s"$op.s" -> med(_._1),
        s"$op.jobs" -> med(_._2.jobs.toDouble),
        s"$op.shuffle_mb" -> med(p => (p._2.shuffleReadBytes + p._2.shuffleWriteBytes) / 1048576.0),
        s"$op.spill_mb" -> med(_._2.spillBytes / 1048576.0),
        s"$op.gc_s" -> med(_._2.gcMs / 1000.0),
        s"$op.busy_frac" -> med(p => p._2.runMs / 1000.0 / (p._1 * o.cores)),
        s"$op.task_skew" -> med(_._2.taskSkew))
    }
  }
}

/** Old-generation occupancy after major collections, in two maxima:
  * [[endMb]] over the forced collections of [[forcedSample]] (the end of
  * each pass, with the pass's results still held), and [[peakMb]] over
  * those and every major collection while [[watch]] runs (from the
  * collectors' notifications). A collection inside a call lands wherever
  * the allocator puts it, so the peak moves between runs of the same seed;
  * [[endMb]] does not.
  */
final class OldGenWatch {
  import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.NotificationEmitter
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var watching = false
  private var endBytes = 0L
  private var peakBytes = 0L
  /** Major collections seen while watching. */
  @volatile var majorGcs = 0

  private def note(bytes: Long): Unit = synchronized { peakBytes = math.max(peakBytes, bytes) }
  private def oldGen(pools: Iterable[(String, MemoryUsage)]): Long =
    pools.collect { case (name, u) if name.contains("Old Gen") && u != null => u.getUsed }.sum

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) =>
        if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction == "end of major GC") {
            majorGcs += 1
            note(oldGen(info.getGcInfo.getMemoryUsageAfterGc.asScala))
          }
        }, null, null)
    case _ =>
  }

  def watch[T](f: => T): T = { watching = true; try f finally watching = false }

  /** Two full collections with a pause between (the first lets Spark's
    * context cleaner release blocks whose driver-side references just
    * died), then the old generation's usage after the last one.
    */
  def forcedSample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val bytes = oldGen(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(p => p.getName -> p.getCollectionUsage))
    synchronized { endBytes = math.max(endBytes, bytes) }
    note(bytes)
  }

  def endMb: Double = synchronized(endBytes / 1048576.0)
  def peakMb: Double = synchronized(peakBytes / 1048576.0)
}

/** Per-layer metric names and units. */
object Layers {
  /** Operator short name -> the public call it times. */
  val ops: Seq[(String, String)] = Seq(
    "pr" -> "PageRank.run", "hits" -> "Hits.run", "katz" -> "Katz.runFixed",
    "eigen" -> "Eigenvector.runFixed", "ppr" -> "PageRank.runPersonalized",
    "cc" -> "ConnectedComponents.run", "lp" -> "LabelPropagation.run",
    "bfs" -> "Bfs.run", "tri" -> "TriangleCount.total")
  val opMetrics = Seq("s", "jobs", "shuffle_mb", "spill_mb", "gc_s", "busy_frac", "task_skew")
  val families = Seq("g", "d", "e", "t", "i", "q", "s", "m")

  /** Every per-layer metric, in report order. */
  val names: Seq[String] =
    Seq("graph.adj_s", "graph.adj_shuffle_mb") ++
    Seq("pr", "cc", "lp").flatMap(op => Seq("supersteps", "ss_p50_ms", "ss_p75_ms", "ss_first_ms").map(m => s"$op.$m")) ++
    Seq("pr.eps", "ckpt.write_mb", "ckpt.files") ++
    ops.flatMap { case (op, _) => opMetrics.map(m => s"$op.$m") } ++
    Seq("bfs.nodes_per_s", "tri.records_per_triangle") ++
    families.map(f => s"q.${f}_s") ++ Seq("q.jobs_p50", "q.busy_frac", "q.gc_s", "q.shuffle_mb") ++
    Seq("heap.peak_mb", "heap.major_gcs", "trace.run_s", "trace.spans")

  /** All of [[names]], 0 where the run's workload does not exercise the layer. */
  def complete(measured: Seq[(String, Double)]): Seq[(String, Double)] = {
    val m = measured.toMap
    require(m.keySet.subsetOf(names.toSet), s"unlisted per-layer metrics: ${m.keySet -- names}")
    names.map(n => n -> m.getOrElse(n, 0.0))
  }

  def unit(name: String): String = {
    val m = name.substring(name.indexOf('.') + 1)
    name match {
      case "pr.eps" => "arcs/s/superstep"
      case "bfs.nodes_per_s" => "nodes/s"
      case "tri.records_per_triangle" => "records/triangle"
      case _ if m.endsWith("_ms") => "ms"
      case _ if m.endsWith("_mb") => "MB"
      case _ if m == "s" || m.endsWith("_s") => "s"
      case _ if m.endsWith("_frac") || m == "task_skew" => "ratio"
      case _ => "count"
    }
  }
}
