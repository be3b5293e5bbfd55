package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Stage task metrics folded per span. */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputFiles = 0
  /** Task durations per stage, for the max/median skew of the worst stage. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def taskSkew: Double = stageTaskMs.values.filter(_.size >= 2).map { ts =>
    val s = ts.sorted
    val med = Stats.median(s.map(_.toDouble).toSeq)
    if (med > 0) s.last / med else 1.0
  }.maxOption.getOrElse(1.0)
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans (name, start, end, parent) kept in memory, plus a SparkListener
  * that folds every task's metrics into the span whose job group ran it.
  * Each span sets the job group `gb:<id>` for the jobs its thread starts.
  * With tracing off, spans still time their bodies but touch no Spark state.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val stats = mutable.Map.empty[Int, SpanStats]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var sc: Option[SparkContext] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { id =>
        stats.getOrElseUpdate(id, new SpanStats).jobs += 1
        e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val st = stats.getOrElseUpdate(id, new SpanStats)
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
        st.outputBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) st.outputFiles += 1
        st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("gb:")).map(_.drop(3).toInt)

  /** Attach to a (new) SparkContext; a no-op when tracing is off. */
  def attach(context: SparkContext): Unit = if (enabled) {
    synchronized(stageSpan.clear()) // stage ids restart in every new context
    context.addSparkListener(listener)
    sc = Some(context)
  }

  private def setGroup(s: Option[Span]): Unit = sc.filter(_ => enabled).foreach { c =>
    s match {
      case Some(p) => c.setJobGroup(s"gb:${p.id}", p.name, interruptOnCancel = false)
      case None => c.clearJobGroup()
    }
  }

  /** Time `f` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    stack.push(s)
    setGroup(Some(s))
    try {
      val r = f
      (r, s)
    } finally {
      s.endNs = System.nanoTime()
      stack.pop()
      setGroup(stack.headOption)
    }
  }

  def spanCount: Int = spans.size

  /** Wait for the listener bus, then read the folded stats of one span and its descendants. */
  def statsOf(root: Span): SpanStats = {
    sc.foreach(org.apache.spark.BenchBus.drain)
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids(s.parent)) ids += s.id)
    val out = new SpanStats
    synchronized {
      ids.flatMap(stats.get).foreach { st =>
        out.jobs += st.jobs; out.tasks += st.tasks; out.runMs += st.runMs; out.cpuNs += st.cpuNs
        out.gcMs += st.gcMs; out.shuffleReadBytes += st.shuffleReadBytes
        out.shuffleReadRecords += st.shuffleReadRecords; out.shuffleWriteBytes += st.shuffleWriteBytes
        out.spillBytes += st.spillBytes
        out.outputBytes += st.outputBytes; out.outputFiles += st.outputFiles
        st.stageTaskMs.foreach { case (k, v) => out.stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
      }
    }
    out
  }

  /** All spans as JSON lines (times in ns relative to the first span), with
    * the task metrics folded into each span's own jobs.
    */
  def jsonLines: Seq[String] = {
    sc.foreach(org.apache.spark.BenchBus.drain)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.map { s =>
      val own = synchronized(stats.get(s.id)).toSeq.flatMap { st =>
        Seq("jobs" -> st.jobs, "tasks" -> st.tasks, "task_ms" -> st.runMs, "cpu_ms" -> st.cpuNs / 1000000,
          "gc_ms" -> st.gcMs, "shuffle_read_bytes" -> st.shuffleReadBytes,
          "shuffle_write_bytes" -> st.shuffleWriteBytes, "spill_bytes" -> st.spillBytes,
          "output_bytes" -> st.outputBytes, "task_skew" -> st.taskSkew)
      }
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0)) ++ own)
    }
  }
}
