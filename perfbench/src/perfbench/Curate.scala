package perfbench

import graft.core.Caches
import graft.dedup.ConnectedComponents
import graft.pipeline.{Operators, Workflow}
import org.apache.spark.sql.functions.col

/** `curate`: a registry-built Workflow over a generated multilingual
  * corpus — quality_filter → lm_score (filter) → dedup_exact_keep →
  * winnow_pairs + connected-components keeper drop → stratified_sample →
  * parquet sink. Operations per round: one execution of the workflow over
  * the full corpus (throughput) and `smallPerRound` executions over a
  * small batch of its own (the latency of one call, where the per-job
  * floor dominates). */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark

  val nDocs = 8000
  val smallDocs = 500
  val smallPerRound = 2

  /** One input of the workflow: its corpus (with the planted labels) and
    * where it is landed and curated to. */
  private final class Input(name: String, n: Int, salt: Long) {
    val path = ctx.dir(s"curate/$name.parquet")
    val output = ctx.dir(s"curate/$name-out.parquet")
    var corpus: Gen.Corpus = _
    def land(): Unit = {
      corpus = Gen.corpus(ctx.seed, n, salt)
      import spark.implicits._
      corpus.docs.toSeq.map(d => (d.id, d.lang, d.text)).toDF("doc_id", "lang", "text")
        .write.mode("overwrite").parquet(path)
    }
  }
  private val full = new Input("corpus", nDocs, salt = 11)
  private val small = new Input("small", smallDocs, salt = 13)

  def setup(): Unit = {
    full.land()
    small.land()
  }

  def opsPerRound: Int = 1 + smallPerRound

  /** In the traced run each stage is materialized in turn inside its own
    * span (`pipeline.<stage>`), so stage times separate; untraced, the
    * stage is the registry operator as is. */
  private def stage(in: Input, name: String, fn: Workflow.StageFn,
      materialize: Boolean = true): Workflow.StageFn =
    if (!ctx.trace.on || (in ne full)) fn
    else (ins, params) => ctx.trace.span(s"pipeline.$name") {
      val out = fn(ins, params)
      if (!materialize) out
      else {
        val c = Caches.cachedTransient(out)
        ctx.trace.count(s"rows.$name", c.count().toDouble)
        c
      }
    }

  private def make(family: String, name: String, params: Map[String, String] = Map.empty) =
    Operators.make(spark, family, name, params)

  /** Drop every near-duplicate that is not its component's minimum id. */
  private def keeper(in: Input): Workflow.StageFn = (ins, _) => {
    def comp0 = ConnectedComponents.components(ins(1), "doc_id_a", "doc_id_b")
    val comp = if (in eq full) ctx.trace.span("dedup.components")(comp0) else comp0
    ins(0).join(comp.filter(col("id") =!= col("comp")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  private def workflow(in: Input): Workflow = new Workflow()
    .addWithParams("source", make("source", "parquet", Map("path" -> in.path)), Nil)
    .addWithParams("quality_filter", stage(in, "quality_filter", make("transform", "quality_filter")))
    .addWithParams("lm_score", stage(in, "lm_score", make("transform", "lm_score", Map("mode" -> "filter"))))
    .addWithParams("dedup_exact_keep", stage(in, "dedup_exact_keep", make("transform", "dedup_exact_keep")))
    .addWithParams("winnow_pairs", stage(in, "winnow_pairs", make("transform", "winnow_pairs")))
    .addWithParams("near_dup_keep", stage(in, "near_dup_keep", keeper(in)),
      Seq("dedup_exact_keep", "winnow_pairs"))
    .addWithParams("stratified_sample", stage(in, "stratified_sample",
      make("transform", "stratified_sample", Map("quotas" -> Gen.quotas))))
    .addWithParams("parquet_sink", stage(in, "parquet_sink",
      make("sink", "parquet", Map("path" -> in.output)), materialize = false))

  /** Execute the workflow over `in`, check its output and release the
    * program's caches. */
  private def execute(name: String, in: Input): Unit = {
    ctx.op(name) { workflow(in).execute(); () } { _ =>
      val (bytes, files) = Stats.du(in.output)
      val out = spark.read.parquet(in.output).select("doc_id", "lang", "text").collect()
        .map(r => Checks.Survivor(r.getLong(0), r.getString(1), r.getString(2)))
      // the per-layer counts and the output size describe the full execution
      if (in eq full) {
        ctx.trace.count("core.cached_bytes",
          spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
        ctx.trace.count("sink.bytes_written", bytes.toDouble)
        ctx.trace.count("sink.files_written", files.toDouble)
        ctx.sample("curate.bytes_per_kept_doc", bytes.toDouble / math.max(1, out.length))
      }
      Checks.curate(in.corpus, out.toSeq)
    }
    Caches.clear(spark)
  }

  /** One execution over the full corpus: it runs every plan the small
    * executions run. */
  override def warmup(ctx: Ctx): Unit = ctx.round(1)(execute("curate.execution", full))

  def round(): Unit = {
    execute("curate.execution", full)
    (1 to smallPerRound).foreach(_ => execute("curate.small", small))
  }

  def endToEnd(): Map[String, Double] = Map(
    "docs_per_s" -> full.corpus.docs.length / ctx.median("curate.execution"),
    "op_p50_ms" -> ctx.median("curate.small") * 1e3,
    "bytes_per_doc" -> ctx.median("curate.bytes_per_kept_doc"))

  override def layers(measured: Set[Int]): Map[String, Double] = {
    val v = ctx.trace.layerValues(measured)
    Map("dedup.pairs_in" -> v.getOrElse("rows.winnow_pairs", 0.0),
      "dedup.docs_dropped" ->
        (v.getOrElse("rows.dedup_exact_keep", 0.0) - v.getOrElse("rows.near_dup_keep", 0.0)))
  }

  override def detail(): Map[String, Double] = Map(
    "curate.docs" -> full.corpus.docs.length.toDouble,
    "curate.docs_per_s" -> full.corpus.docs.length / ctx.median("curate.execution"),
    "curate.small_p50_ms" -> ctx.median("curate.small") * 1e3)
}
