package perfbench

import graft.core.Caches
import graft.index.{IvfIndex, IvfPq}
import graft.pipeline.{Operators, Workflow}
import org.apache.spark.sql.DataFrame

/** `vector_search`: topic-mixture docs → `hash_embed` vectorizer →
  * landed embeddings → IVF and IVF-PQ indexes (build + save, the calls the
  * `ivf` / `ivfpq` registry sinks make, split so the traced run can time
  * build and save apart); then both indexes are loaded and the fixed query
  * set is searched (k = 10) on each, `searchesPerRound` times. Operations
  * per round: embed, build ivf, build ivfpq, load ivf, load ivfpq, and
  * one ivf plus one ivfpq search per repeat. */
final class VectorSearch(ctx: Ctx) extends Workload {
  import ctx.spark

  val nDocs = 10000
  val nQueries = 300
  val dim = 16
  val k = 10
  /** Lists, sub-quantizers and codebook size: the `ivf` / `ivfpq` sinks'
    * defaults. */
  val nlist = 16
  val pqM = 8
  val ksub = 16
  /** The registry's default probe count for IVF searches. */
  val nprobe = 3
  val shortlist = 100
  val searchesPerRound = 2
  /** Recall@10 floors the answers must clear (measured recall sits
    * above them; see README.md). */
  val ivfFloor = 0.85
  val ivfpqFloor = 0.75

  private val docsPath = ctx.dir("vector/docs.parquet")
  private val queryPath = ctx.dir("vector/queries.parquet")
  private val embPath = ctx.dir("vector/embeddings.parquet")
  private val ivfPath = ctx.dir("vector/ivf")
  private val ivfpqPath = ctx.dir("vector/ivfpq")

  private var docs: Gen.TopicDocs = _
  private var texts: Map[Long, String] = _
  private var queries: Map[Long, Array[Float]] = _
  private var queryDf: DataFrame = _
  /** The landed vectors and each query's exact 10th distance, for the
    * checks; recomputed when the embedding changes. */
  private var vecs: Map[Long, Array[Float]] = Map.empty
  private var kth: Map[Long, Double] = Map.empty
  private val recalls = scala.collection.mutable.Map.empty[String, Double]

  private def embedFlow(from: String, to: String): Workflow = new Workflow()
    .addWithParams("source", Operators.make(spark, "source", "parquet", Map("path" -> from)), Nil)
    .addWithParams("hash_embed", Operators.make(spark, "vectorizer", "hash_embed",
      Map("dim" -> dim.toString)))
    .addWithParams("land", Operators.make(spark, "sink", "parquet", Map("path" -> to)))

  def setup(): Unit = {
    docs = Gen.topicDocs(ctx.seed, nDocs)
    texts = docs.docs.iterator.map(d => d.id -> d.text).toMap
    import spark.implicits._
    docs.docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(docsPath)
    // the fixed query set, embedded by the program's own vectorizer
    Gen.queryTexts(ctx.seed, nQueries).toSeq.zipWithIndex
      .map { case (t, i) => (1000000000L + i, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(queryPath)
    val q = embedFlow(queryPath, ctx.dir("vector/query_vectors.parquet")).execute()
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2).toArray)
    queries = q.toMap
    queryDf = q.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("qid", "qvec")
  }

  def opsPerRound: Int = 5 + 2 * searchesPerRound

  private def hits(df: DataFrame): Seq[Checks.Hit] =
    df.select("qid", "doc_id", "dist").collect().toSeq
      .map(r => Checks.Hit(r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def searchCheck(kind: String, floor: Double)(h: Seq[Checks.Hit]): Seq[String] = {
    val (bad, recall) = Checks.search(h, queries, vecs, kth, k, floor)
    recalls(kind) = recall
    bad
  }

  def round(): Unit = {
    ctx.op("vector.embed") {
      ctx.trace.span("vectorize.hash_embed")(embedFlow(docsPath, embPath).execute())
    } { emb =>
      ctx.trace.count("vectorize.docs", nDocs)
      val (bytes, files) = Stats.du(embPath)
      ctx.trace.count("sink.bytes_written", bytes.toDouble)
      ctx.trace.count("sink.files_written", files.toDouble)
      val got = emb.select("doc_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val same = got.length == vecs.size &&
        got.forall { case (id, v) => vecs.get(id).exists(java.util.Arrays.equals(_, v)) }
      if (!same) {
        vecs = got.toMap
        kth = Checks.exactKth(queries, got, k)
      }
      Checks.vectors(texts, vecs, dim, docs.identical)
    }
    val emb = spark.read.parquet(embPath)

    ctx.op("vector.build_ivf") {
      val m = ctx.trace.span("index.ivf.build")(IvfIndex.build(emb, "doc_id", "embedding", k = nlist))
      ctx.trace.span("index.ivf.save")(IvfIndex.save(m, ivfPath))
      Caches.clear(spark)
    } { _ => ctx.sample("vector.ivf_bytes", Stats.du(ivfPath)._1.toDouble); Nil }

    ctx.op("vector.build_ivfpq") {
      val m = ctx.trace.span("index.ivfpq.build")(
        IvfPq.build(emb, "doc_id", "embedding", kCoarse = nlist, m = pqM, ksub = ksub))
      ctx.trace.span("index.ivfpq.save")(IvfPq.save(m, ivfpqPath))
      Caches.clear(spark)
    } { _ => ctx.sample("vector.ivfpq_bytes", Stats.du(ivfpqPath)._1.toDouble); Nil }

    val ivf = ctx.op("vector.load_ivf") {
      ctx.trace.span("index.ivf.load")(IvfIndex.load(spark, ivfPath, "doc_id", "embedding"))
    }(_ => Nil)
    val ivfpq = ctx.op("vector.load_ivfpq") {
      ctx.trace.span("index.ivfpq.load")(IvfPq.load(spark, ivfpqPath, "doc_id"))
    }(_ => Nil)

    (1 to searchesPerRound).foreach { _ =>
      ctx.op("vector.search_ivf") {
        ctx.trace.span("index.ivf.search")(hits(
          ivf.search(queryDf, "qid", "qvec", k, nprobe, excludeSelf = false)))
      }(searchCheck("ivf", ivfFloor))
      ctx.op("vector.search_ivfpq") {
        ctx.trace.span("index.ivfpq.search")(hits(
          ivfpq.searchRerank(queryDf, "qid", "qvec", k, nprobe, shortlist, emb, "embedding",
            excludeSelf = false)))
      }(searchCheck("ivfpq", ivfpqFloor))
    }
    ctx.trace.count("core.cached_bytes",
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
    Caches.clear(spark)
  }

  def endToEnd(): Map[String, Double] = {
    val write = ctx.median("vector.embed") + ctx.median("vector.build_ivf") +
      ctx.median("vector.build_ivfpq")
    Map("docs_per_s" -> nDocs / write,
      "op_p50_ms" ->
        (ctx.median("vector.search_ivf") + ctx.median("vector.search_ivfpq")) * 1e3,
      "bytes_per_doc" ->
        (ctx.median("vector.ivf_bytes") + ctx.median("vector.ivfpq_bytes")) / nDocs)
  }

  override def detail(): Map[String, Double] = Map(
    "embed.docs_per_s" -> nDocs / ctx.median("vector.embed"),
    "index_build.ivf_s" -> ctx.median("vector.build_ivf"),
    "index_build.ivfpq_s" -> ctx.median("vector.build_ivfpq"),
    "search.ivf_qps" -> nQueries / ctx.median("vector.search_ivf"),
    "search.ivfpq_qps" -> nQueries / ctx.median("vector.search_ivfpq"),
    "search.ivf_recall_at_10" -> recalls.getOrElse("ivf", Double.NaN),
    "search.ivfpq_recall_at_10" -> recalls.getOrElse("ivfpq", Double.NaN),
    "index.ivf_bytes_per_vector" -> ctx.median("vector.ivf_bytes") / nDocs,
    "index.ivfpq_bytes_per_vector" -> ctx.median("vector.ivfpq_bytes") / nDocs)
}
