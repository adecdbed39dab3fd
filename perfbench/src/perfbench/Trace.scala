package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans and counts at the boundaries of the benchmark's calls into the
  * program, plus the Spark runtime beneath them through a SparkListener,
  * a QueryExecutionListener and a StreamingQueryListener. With `on =
  * false` nothing is registered and `span` is a plain call, so the
  * end-to-end run pays nothing.
  *
  * A span has a name, start, end and parent; all spans of one execution
  * (one round of the workload) share its execution id. Listener events
  * are attributed to the innermost open span: the bus is drained when a
  * span opens and when it closes, so an event belongs to the span that
  * was open while its work ran. Spans stay in memory; [[write]] dumps
  * them once, at the end. */
final class Trace(spark: SparkSession, val on: Boolean) {

  final case class Span(id: Int, name: String, parent: Int, exec: Int,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long)

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long, Long)]
  private var nextId = 0
  private var execId = -1
  @volatile private var curSpan = -1
  @volatile private var curExec = -1
  @volatile private var attributing = true

  private val spanCounts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val execCounts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val jobs = mutable.Map.empty[Int, (Int, Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[(Int, org.apache.spark.sql.streaming.StreamingQueryProgress)]

  private def bump(m: mutable.Map[Int, mutable.Map[String, Double]], k: Int,
      key: String, v: Double): Unit = synchronized {
    val c = m.getOrElseUpdate(k, mutable.Map.empty[String, Double])
    c(key) = c.getOrElse(key, 0.0) + v
  }
  /** Add `v` to a per-execution count of the current execution. */
  def count(key: String, v: Double): Unit =
    if (on && curExec >= 0) bump(execCounts, curExec, key, v)
  /** Add `v` to a count of the innermost open span. */
  def spanCount(key: String, v: Double): Unit =
    if (on && curSpan >= 0) bump(spanCounts, curSpan, key, v)
  // listener-side counts: dropped while the benchmark checks an output
  private def lcount(key: String, v: Double): Unit = if (attributing) count(key, v)
  private def lspanCount(key: String, v: Double): Unit = if (attributing) spanCount(key, v)

  /** Run `body` (the benchmark's own reads of an output) without
    * attributing its Spark work to the current execution. */
  def quiet[A](body: => A): A =
    if (!on) body
    else {
      drain()
      attributing = false
      try body finally { drain(); attributing = true }
    }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      drain()
      val id = nextId; nextId += 1
      open = (id, name, System.nanoTime(), System.currentTimeMillis()) :: open
      curSpan = id
      try body
      finally {
        drain()
        val (_, _, s0, m0) = open.head
        open = open.tail
        val parent = open.headOption.map(_._1).getOrElse(-1)
        spans += Span(id, name, parent, execId, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
        curSpan = parent
      }
    }

  /** One execution of the workload: a root span whose id every span
    * under it shares. */
  def execution[A](body: => A): A =
    if (!on) body
    else {
      drain()
      execId = nextId
      curExec = execId
      try span("execution")(body) finally { curExec = -1; execId = -1 }
    }

  // ------------------------------------------------------------ listeners

  private object Plan extends AdaptiveSparkPlanHelper {
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    /** (rows read by leaf scans, exchanges, shuffle bytes written) */
    def stats(root: SparkPlan): (Double, Double, Double) = {
      var rows = 0.0; var ex = 0.0; var bytes = 0.0
      foreach(root) {
        case s: ShuffleExchangeLike =>
          ex += 1
          bytes += metric(s, "dataSize")
        case b: BroadcastExchangeLike => ex += 1
        case p if p.children.isEmpty => rows += metric(p, "numOutputRows")
        case _ =>
      }
      (rows, ex, bytes)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (attributing) jobs(e.jobId) = (curExec, e.time, -1L)
      lcount("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (x, s, _) => jobs(e.jobId) = (x, s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lcount("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lcount("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        lcount("spark.task_s", m.executorRunTime / 1e3)
        lcount("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        lcount("spark.gc_s", m.jvmGCTime / 1e3)
        val delay = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.gettingResultTime else 0L)
        lcount("spark.task_wait_s", math.max(0L, delay) / 1e3)
        lcount("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        lcount("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        lcount("spark.spill_bytes", m.diskBytesSpilled.toDouble)
        lcount("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        lcount("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lcount("spark.queries", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        lcount(s"spark.${phase}_s", p.durationMs / 1e3)
      }
      val (rows, ex, bytes) = Plan.stats(qe.executedPlan)
      lspanCount("rows_scanned", rows)
      lspanCount("exchanges", ex)
      lspanCount("shuffle_bytes", bytes)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += ((curExec, e.progress)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def close(): Unit = if (on) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ------------------------------------------------------------- results

  private def median(xs: Seq[Double]): Double = Stats.median(xs, empty = 0.0)

  private def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => k.endNs - k.startNs).sum
    s.endNs - s.startNs - kids
  }

  /** Per-layer values over the executions in `execs`:
    *  - `<span>_s`: median self time of the spans of that name;
    *  - `<span>_<count>`: median over those spans of a span count;
    *  - per-execution counts: median over executions;
    *  - `spark.job_gap_s`: per execution, the wall time of its
    *    operations not covered by any job, median over executions;
    *  - `<operation>.job_gap_share`: per operation, the share of its
    *    wall not covered by any job, median over its calls.
    * Streaming durations come from [[triggers]] / [[triggerMedian]]. */
  def layerValues(execs: Set[Int]): Map[String, Double] = {
    val sel = spans.filter(s => execs(s.exec))
    val bySpan = sel.filter(_.name != "execution").groupBy(_.name).flatMap { case (n, ss) =>
      val times = Map(s"${n}_s" -> median(ss.map(selfNs(_) / 1e9).toSeq))
      val keys = ss.flatMap(s => spanCounts.get(s.id).map(_.keySet).getOrElse(Set.empty)).toSet
      times ++ keys.map(k => s"${n}_$k" ->
        median(ss.map(s => spanCounts.get(s.id).flatMap(_.get(k)).getOrElse(0.0)).toSeq))
    }
    val execKeys = execs.flatMap(x => execCounts.get(x).map(_.keySet).getOrElse(Set.empty))
    val byExec = execKeys.map(k => k ->
      median(execs.toSeq.map(x => execCounts.get(x).flatMap(_.get(k)).getOrElse(0.0)))).toMap
    // time inside the operations (top-level spans) not covered by any
    // Spark job, summed per execution
    val rootIds = sel.filter(_.name == "execution").map(_.id).toSet
    val opSpans = sel.filter(s => rootIds(s.parent))
    val gapOf = opSpans.map { r =>
      val iv = jobs.values.collect { case (x, s, e) if x == r.exec && e >= s =>
        (math.max(s, r.startMs), math.min(e, r.endMs)) }.filter(p => p._2 > p._1)
        .toSeq.sortBy(_._1)
      var covered = 0L; var reach = r.startMs
      iv.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) { covered += e - from; reach = e }
      }
      (r.exec, r.name, (r.endMs - r.startMs - covered) / 1e3, (r.endMs - r.startMs) / 1e3)
    }
    val gaps = rootIds.toSeq.map(x => gapOf.collect { case (`x`, _, g, _) => g }.sum)
    // per operation: the median share of its wall outside any job
    val gapShare = gapOf.groupBy(_._2).map { case (n, gs) =>
      s"$n.job_gap_share" -> median(gs.map { case (_, _, g, w) => g / math.max(w, 1e-3) }.toSeq)
    }
    bySpan ++ byExec ++ gapShare + ("spark.job_gap_s" -> median(gaps))
  }

  /** Data-trigger progress of one streaming query in `execs`. */
  def triggers(execs: Set[Int], queryId: java.util.UUID)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized {
      progress.collect { case (x, p) if execs(x) && p.id == queryId && p.numInputRows > 0 => p }
        .toSeq
    }

  /** Median of one `durationMs` key over `ps`, in seconds. */
  def triggerMedian(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      key: String): Double =
    median(ps.map(p => Option(p.durationMs.get(key)).map(_.longValue / 1e3).getOrElse(0.0)))

  def executionIds: Seq[Int] = spans.filter(_.name == "execution").map(_.id).toSeq

  /** Dump every span, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    val lines = spans.sortBy(_.id).map { s =>
      val self = selfNs(s)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"exec":${s.exec},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${(s.endNs - s.startNs) / 1e9},""" +
        s""""self_s":${self / 1e9}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
