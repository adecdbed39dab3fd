package perfbench

import graft.index.IvfIndex
import graft.pipeline.{Operators, Workflow}
import graft.streaming.{IndexMaintain, StreamDedup}
import graft.vectorize.HashEmbed
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `stream_ingest`: the benchmark lands one generated doc file per
  * trigger. One source stream feeds both the admission ladder
  * (`StreamDedup.ladderAdmit`) and the maintenance of a frozen IVF index
  * built at set-up (`IndexMaintain.maintainIvf`). After each trigger,
  * small query batches of landed vectors — half of them just appended —
  * are served through `IvfIndex.loadServing`. Operations per round: one
  * trigger (land the file, wait until both streams have committed it)
  * and `servesPerTrigger` serve calls. */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx.spark

  val baseDocs = 2000
  val batchSize = 500
  val dim = 16
  val nlist = 16
  val nprobe = 3
  val k = 10
  val servesPerTrigger = 5
  val queriesPerServe = 8

  private val basePath = ctx.dir("stream/base.parquet")
  private val idx = ctx.dir("stream/index")
  private val landing = ctx.dir("stream/landing")
  private val staging = ctx.dir("stream/staging")
  private val stateRoot = ctx.dir("stream/state")
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val files = new Gen.StreamFiles(ctx.seed, batchSize, idBase = 1000000L)
  private val pick = new java.util.SplittableRandom(ctx.seed * 31 + 5)
  private var ladder: StreamingQuery = _
  private var maintain: StreamingQuery = _
  private var landed = Vector.empty[Long]
  private val vectors = scala.collection.mutable.Map.empty[Long, Array[Float]]
  private val lastBatch = scala.collection.mutable.Map.empty[String, Long]
  private var diskBefore = (0L, 0L)
  private var batchNo = 0
  private var finalState = (0L, 0L)
  private var finalBlocks = 0

  def setup(): Unit = {
    val docs = Gen.streamBase(ctx.seed, baseDocs)
    import spark.implicits._
    docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(basePath)
    deleteTree(idx)
    new Workflow()
      .addWithParams("source", Operators.make(spark, "source", "parquet", Map("path" -> basePath)), Nil)
      .addWithParams("hash_embed", Operators.make(spark, "vectorizer", "hash_embed",
        Map("dim" -> dim.toString)))
      .addWithParams("ivf", Operators.make(spark, "sink", "ivf", Map("path" -> idx,
        "idCol" -> "doc_id", "vecCol" -> "embedding", "k" -> nlist.toString)))
      .execute()
    graft.core.Caches.clear(spark)
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  private def start(): Unit = {
    Files.createDirectories(Paths.get(landing))
    val src = spark.readStream.schema(schema).parquet(landing)
    ladder = StreamDedup.ladderAdmit(src, stateRoot, ctx.dir("stream/ck_admit"))
    maintain = IndexMaintain.maintainIvf(
      src.select(col("doc_id"), HashEmbed.embed(col("text"), dim).as("embedding")),
      IvfIndex.load(spark, idx, "doc_id", "embedding"), idx, ctx.dir("stream/ck_index"))
  }

  def opsPerRound: Int = 2 + servesPerTrigger

  private def onDisk: (Long, Long) = {
    val (sb, sf) = Stats.du(stateRoot)
    val (ib, iff) = Stats.du(s"$idx/assign_stream")
    (sb + ib, sf + iff)
  }

  /** Rows each stream read in its triggers since the last call, from
    * Spark's progress reports: (admission stream, index stream). */
  private def readRows(): (Long, Long) = {
    def fresh(name: String, q: StreamingQuery): Long = {
      val last = lastBatch.getOrElse(name, -1L)
      val ps = q.recentProgress.filter(p => p.batchId > last && p.numInputRows > 0)
      ps.foreach(p => lastBatch(name) = math.max(lastBatch.getOrElse(name, -1L), p.batchId))
      ps.map(_.numInputRows).sum
    }
    (fresh("admit", ladder), fresh("index", maintain))
  }

  def round(): Unit = {
    if (ladder == null) start()
    val batch = files.batch()
    batchNo += 1
    val stage = s"$staging/b$batchNo"
    val file = ctx.trace.quiet {
      import spark.implicits._
      batch.docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
        .coalesce(1).write.parquet(stage)
      Files.list(Paths.get(stage)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    }

    var admitRows = 0L
    ctx.op("stream.trigger") {
      Files.move(file, Paths.get(landing, f"b$batchNo%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      ladder.processAllAvailable()
      maintain.processAllAvailable()
    } { _ =>
      landed ++= batch.docs.map(_.id)
      val landedSet = landed.toSet
      val admitted = StreamDedup.readAdmitted(spark, stateRoot).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      ctx.trace.count("streaming.admitted_docs", batch.docs.count(d => admitted(d.id)).toDouble)
      val disk = onDisk
      ctx.trace.count("sink.bytes_written", (disk._1 - diskBefore._1).toDouble)
      ctx.trace.count("sink.files_written", (disk._2 - diskBefore._2).toDouble)
      diskBefore = disk
      val (admit, index) = readRows()
      admitRows = admit
      Checks.admission(batch, admitted, landedSet) ++
        Checks.streamRows(admit, index, batch.docs.length)
    }
    // the one known fault: the admission stream reads each micro-batch a
    // whole number of times over (Checks.ladderRereads)
    ctx.knownFault("stream.admit_rows", "ladderAdmit re-reads its micro-batch")(
      Checks.ladderRereads(admitRows, batch.docs.length))

    // the just-landed docs' vectors, from the program's vectorizer
    ctx.trace.span("vectorize.hash_embed") {
      import spark.implicits._
      batch.docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
        .select(col("doc_id"), HashEmbed.embed(col("text"), dim).as("embedding"))
        .collect().foreach(r => vectors(r.getLong(0)) = r.getSeq[Float](1).toArray)
    }
    ctx.trace.count("vectorize.docs", batch.docs.length)
    val earlier = landed.size - batch.docs.length
    (1 to servesPerTrigger).foreach { _ =>
      val qids = (0 until queriesPerServe).map { i =>
        if (i % 2 == 0 || earlier == 0) batch.docs(pick.nextInt(batch.docs.length)).id
        else landed(pick.nextInt(earlier))
      }.distinct
      import spark.implicits._
      val qdf = qids.map(q => (q, vectors(q).toSeq)).toDF("qid", "qvec")
      ctx.op("stream.serve") {
        val m = ctx.trace.span("index.serve_load")(
          IvfIndex.loadServing(spark, idx, "doc_id", "embedding"))
        ctx.trace.span("index.serve_search") {
          m.search(qdf, "qid", "qvec", k, nprobe, excludeSelf = false)
            .select("qid", "doc_id", "dist").collect().toSeq
            .map(r => Checks.Hit(r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
      }(hits => Checks.selfFound(hits, qids))
    }
  }

  override def finish(): Unit = {
    finalState = Stats.du(stateRoot)
    finalBlocks = Option(Paths.get(idx, "assign_stream").toFile.list()).map(_.length).getOrElse(0)
    ladder.stop()
    maintain.stop()
  }

  def endToEnd(): Map[String, Double] = Map(
    "docs_per_s" -> batchSize / ctx.median("stream.trigger"),
    "op_p50_ms" -> ctx.median("stream.serve") * 1e3,
    "bytes_per_doc" -> onDisk._1.toDouble / landed.size)

  override def layers(measured: Set[Int]): Map[String, Double] = {
    val ts = ctx.trace.triggers(measured, ladder.id)
    def med(key: String) = ctx.trace.triggerMedian(ts, key)
    Map("streaming.triggers" -> ts.size.toDouble,
      "streaming.query_planning_s" -> med("queryPlanning"),
      "streaming.get_batch_s" -> med("getBatch"),
      "streaming.latest_offset_s" -> med("latestOffset"),
      "streaming.add_batch_s" -> med("addBatch"),
      "streaming.wal_commit_s" -> med("walCommit"),
      "streaming.state_bytes" -> finalState._1.toDouble,
      "index.append_block_s" ->
        ctx.trace.triggerMedian(ctx.trace.triggers(measured, maintain.id), "addBatch"),
      "index.serving_blocks" -> finalBlocks.toDouble)
  }

  override def detail(): Map[String, Double] = {
    val serves = ctx.samples.getOrElse("stream.serve", Nil).toSeq.sorted
    // a p90 only where at least 10 samples lie beyond it
    val p90 = if (serves.size >= 100) Map("serve.p90_ms" -> serves((serves.size * 9) / 10) * 1e3)
      else Map.empty[String, Double]
    Map("ingest.docs_per_s" -> batchSize / ctx.median("stream.trigger"),
      "ingest.trigger_p50_s" -> ctx.median("stream.trigger"),
      "serve.p50_ms" -> ctx.median("stream.serve") * 1e3,
      "serve.samples" -> serves.size.toDouble,
      "ingest.state_bytes_per_doc" -> onDisk._1.toDouble / landed.size) ++ p90
  }
}
