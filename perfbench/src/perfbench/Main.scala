package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One workload: a set-up that lands its inputs, and a round of
  * operations the closed loop repeats. */
trait Workload {
  /** Generate and land the inputs (repeated; the median is `setup_s`). */
  def setup(): Unit
  /** Run before the measured window (caches, codegen, JIT): by default
    * one round. */
  def warmup(ctx: Ctx): Unit = ctx.round(opsPerRound)(round())
  /** Operations of one round; every round attempts exactly these. */
  def opsPerRound: Int
  def round(): Unit
  /** Once after the last round, before metrics are read. */
  def finish(): Unit = ()
  /** End-to-end metrics from the measured samples. */
  def endToEnd(): Map[String, Double]
  /** Per-layer metrics that are not plain trace aggregates. */
  def layers(measured: Set[Int]): Map[String, Double] = Map.empty
  /** Workload-specific figures printed beside the result line. */
  def detail(): Map[String, Double] = Map.empty
}

/** Run state shared by the workloads: session, tracer, work directory,
  * operation accounting and timing samples. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: Path,
    val seed: Long, val cores: Int) {
  var attempted = 0L
  var failed = 0L
  var checkFailures = 0L
  /** Failed operations whose failure is a known fault of the program. */
  var knownFailures = 0L
  /** Samples are kept only inside the measured window. */
  var measuring = false
  private var opsThisRound = 0
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def dir(name: String): String = work.resolve(name).toString

  def sample(name: String, v: Double): Unit =
    if (measuring) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One operation of the closed loop: `body` is timed (seconds, into
    * sample `name`), then `check` inspects its output untimed. A throw
    * aborts the round; a failed check counts the operation as failed.
    * Either way the operation records no timing sample. */
  def op[A](name: String)(body: => A)(check: A => Seq[String]): A = {
    attempted += 1
    opsThisRound += 1
    val t0 = System.nanoTime()
    val out = try trace.span(name)(body) catch {
      case e: Throwable => failed += 1; throw e
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val bad = try trace.quiet(check(out)) catch { case e: Throwable => Seq(s"check threw $e") }
    if (bad.nonEmpty) {
      failed += 1
      checkFailures += 1
      System.err.println(s"perfbench: $name failed its check:\n  " + bad.mkString("\n  "))
    } else sample(name, dt)
    out
  }

  /** An untimed operation that fails, when `fails`, by a fault of the
    * program that shows on every input (`fault` names it): it counts as
    * attempted and failed, but does not make the run incorrect. */
  def knownFault(name: String, fault: String)(fails: Boolean): Unit = {
    attempted += 1
    opsThisRound += 1
    if (fails) {
      failed += 1
      knownFailures += 1
      System.err.println(s"perfbench: $name failed (known fault: $fault)")
    }
  }

  /** One round of `ops` operations: if one throws, the operations of the
    * round that did not run are counted as attempted and failed. */
  def round(ops: Int)(body: => Unit): Unit = {
    opsThisRound = 0
    try trace.execution(body)
    catch {
      case e: Throwable =>
        System.err.println(s"perfbench: round aborted: $e")
        e.printStackTrace()
        val rest = math.max(0, ops - opsThisRound)
        attempted += rest
        failed += rest
    }
  }

  def median(name: String): Double = Stats.median(samples.getOrElse(name, Nil).toSeq)
}

object Stats {
  def median(xs: Seq[Double], empty: Double = Double.NaN): Double =
    if (xs.isEmpty) empty
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Bytes and files under `dir` (0 when absent). */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      var bytes = 0L; var files = 0L
      val it = Files.walk(p).iterator()
      while (it.hasNext) {
        val f = it.next()
        if (Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")) {
          bytes += Files.size(f); files += 1
        }
      }
      (bytes, files)
    }
  }
}

object Main {

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit = System.err.println(
      f"perfbench: $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session up")
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, trace, work, seed, cores)
    val w: Workload = workload match {
      case "curate" => new Curate(ctx)
      case "vector_search" => new VectorSearch(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case other =>
        System.err.println(s"perfbench: unknown workload '$other'")
        sys.exit(2)
    }
    var code = 0
    try {
      val setups = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
      phase("set-up done (" + setups.map(x => f"$x%.2f").mkString(", ") + " s)")
      w.warmup(ctx)
      phase("warm-up done")
      val before = trace.executionIds.toSet
      ctx.measuring = true
      val t0 = System.nanoTime()
      var rounds = 0
      // at least three rounds, so every median rests on three samples or
      // more and one slow round does not set it
      while (rounds < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
        ctx.round(w.opsPerRound)(w.round())
        rounds += 1
      }
      val window = (System.nanoTime() - t0) / 1e9
      phase(s"$rounds measured rounds done")
      ctx.samples.toSeq.sortBy(_._1).foreach { case (n, xs) =>
        System.err.println(s"perfbench: samples $n: " + xs.map(x => f"$x%.4f").mkString(" "))
      }
      ctx.measuring = false
      w.finish()
      phase("finished")
      val measured = trace.executionIds.toSet -- before
      trace.close()

      val e2e = w.endToEnd() + ("setup_s" -> Stats.median(setups))
      val values = if (!traced) e2e else trace.layerValues(measured) ++ w.layers(measured)
      trace.write(work.getParent.resolve(s"trace-$workload-$seed.jsonl"))
      val detail = w.detail() ++ e2e.map { case (k, v) => s"e2e.$k" -> v } ++
        values.filter(_._1.endsWith(".job_gap_share")) ++
        Map("rounds" -> rounds.toDouble, "window_s" -> window)
      println("perfbench detail " + json(detail))
      // run.py maps the values onto the metrics BENCHMARK.json declares
      val correct = ctx.checkFailures == 0
      println(s"""perfbench values {"correct": $correct, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${ctx.failed}, "values": ${json(values)}}""")
      if (ctx.failed > ctx.knownFailures || !correct) code = 1
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $workload aborted: $e")
        e.printStackTrace()
        code = 1
    } finally {
      try {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      } catch { case _: Throwable => () }
    }
    phase("stopped")
    System.out.flush()
    sys.exit(code)
  }
}
