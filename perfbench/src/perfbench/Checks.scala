package perfbench

/** Correctness checks of the program's outputs, computed apart from the
  * program: from the generator's planted labels, from plain-Scala
  * recomputation, or from properties the method must have. Each returns
  * its violations; an empty list is a pass. */
object Checks {

  private def limit(v: Seq[String]): Seq[String] =
    if (v.size <= 5) v else v.take(5) :+ s"... ${v.size - 5} more"

  // ---------------------------------------------------------------- curate

  final case class Survivor(id: Long, lang: String, text: String)

  /** Six-sigma binomial band (plus slack for tiny strata) around the
    * sampling quota. */
  def quotaBand(n: Int, perMille: Int): (Double, Double) = {
    val q = perMille / 1000.0
    val half = 6.0 * math.sqrt(n * q * (1 - q)) + 3.0
    (n * q - half, n * q + half)
  }

  def curate(corpus: Gen.Corpus, survivors: Seq[Survivor]): Seq[String] = {
    val byId = corpus.docs.iterator.map(d => d.id -> d).toMap
    val v = Seq.newBuilder[String]
    val dupIds = survivors.groupBy(_.id).collect { case (id, s) if s.size > 1 => id }
    if (dupIds.nonEmpty) v += s"survivor ids repeated: ${dupIds.take(5).mkString(",")}"
    survivors.foreach { s =>
      byId.get(s.id) match {
        case None => v += s"survivor ${s.id} is not an input doc"
        case Some(d) if d.text != s.text || d.lang != s.lang =>
          v += s"survivor ${s.id} differs from its input doc"
        case _ =>
      }
    }
    val kinds = survivors.flatMap(s => corpus.kinds.get(s.id).map(s.id -> _))
    kinds.collect { case (id, Gen.Defect(what)) => s"defect doc $id ($what) survived" }
      .foreach(v += _)
    val exactMin = corpus.kinds.toSeq.collect { case (id, Gen.ExactDup(g)) => g -> id }
      .groupBy(_._1).map { case (g, ids) => g -> ids.map(_._2).min }
    kinds.collect { case (id, Gen.ExactDup(g)) if id != exactMin(g) =>
      s"exact-duplicate group $g kept $id, not its minimum id ${exactMin(g)}"
    }.foreach(v += _)
    kinds.collect { case (id, Gen.NearDup(g)) => g -> id }.groupBy(_._1)
      .collect { case (g, ids) if ids.size > 1 =>
        s"near-duplicate group $g kept ${ids.map(_._2).sorted.mkString(",")}"
      }.foreach(v += _)
    val kept = survivors.groupBy(_.lang).map { case (l, s) => l -> s.size }
    Gen.Langs.foreach { l =>
      val n = corpus.eligible.getOrElse(l.code, 0)
      val k = kept.getOrElse(l.code, 0)
      val (lo, hi) = quotaBand(n, l.quotaPerMille)
      if (k < lo || k > hi)
        v += f"${l.code}: kept $k of $n eligible, outside [$lo%.1f, $hi%.1f] for quota ${l.quotaPerMille}‰"
    }
    limit(v.result())
  }

  // --------------------------------------------------------- vector search

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  /** Hash-embedding properties: the requested dimension; Σ|v| bounded by
    * the whitespace token count with the same parity (each token adds ±1
    * to one slot); identical texts give identical vectors. */
  def vectors(texts: Map[Long, String], vecs: Map[Long, Array[Float]], dim: Int,
      identical: Seq[Seq[Long]]): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (vecs.size != texts.size)
      v += s"${vecs.size} vectors for ${texts.size} docs"
    vecs.foreach { case (id, vec) =>
      if (vec.length != dim) v += s"vector $id has dimension ${vec.length}, not $dim"
      else texts.get(id) match {
        case None => v += s"vector $id has no input doc"
        case Some(t) =>
          val n = t.trim.split("\\s+").count(_.nonEmpty)
          val s = vec.map(x => math.abs(x.toDouble)).sum
          if (s != math.rint(s) || s > n || (s.toLong - n) % 2 != 0)
            v += s"vector $id: sum |v| = $s against $n tokens"
      }
    }
    identical.foreach { ids =>
      val vs = ids.flatMap(vecs.get)
      if (vs.size == ids.size && vs.exists(x => !java.util.Arrays.equals(x, vs.head)))
        v += s"identical texts ${ids.mkString(",")} got different vectors"
    }
    limit(v.result())
  }

  /** The exact 10th-nearest distance of each query, in plain Scala over
    * the collected vectors: a returned id is a hit when its true
    * distance is within it (tie-robust recall). */
  def exactKth(queries: Map[Long, Array[Float]], vecs: Array[(Long, Array[Float])],
      k: Int): Map[Long, Double] =
    queries.map { case (q, qv) =>
      val heap = scala.collection.mutable.PriorityQueue.empty[Double]
      vecs.foreach { case (_, x) =>
        val d = l2(qv, x)
        if (heap.size < k) heap.enqueue(d)
        else if (d < heap.head) { heap.dequeue(); heap.enqueue(d) }
      }
      q -> heap.head
    }

  final case class Hit(qid: Long, id: Long, dist: Double)

  /** One k-NN batch answer: exactly k distinct ids per query, every
    * returned distance equal to the recomputed L2 distance, and mean
    * recall@k at least `floor`. Returns (violations, recall). */
  def search(hits: Seq[Hit], queries: Map[Long, Array[Float]],
      vecs: Map[Long, Array[Float]], kth: Map[Long, Double], k: Int,
      floor: Double): (Seq[String], Double) = {
    val v = Seq.newBuilder[String]
    val byQ = hits.groupBy(_.qid)
    if (byQ.keySet != queries.keySet)
      v += s"answers for ${byQ.size} of ${queries.size} queries"
    var found = 0L
    byQ.foreach { case (q, hs) =>
      if (hs.size != k || hs.map(_.id).distinct.size != k)
        v += s"query $q: ${hs.map(_.id).distinct.size} distinct ids in ${hs.size} rows, not $k"
      hs.foreach { h =>
        (queries.get(q), vecs.get(h.id)) match {
          case (Some(qv), Some(x)) =>
            val d = l2(qv, x)
            if (math.abs(d - h.dist) > 1e-6)
              v += f"query $q, id ${h.id}: distance ${h.dist}%.9f, recomputed $d%.9f"
            if (d <= kth.getOrElse(q, Double.NegativeInfinity) + 1e-9) found += 1
          case _ => v += s"query $q returned unknown id ${h.id}"
        }
      }
    }
    val recall = found.toDouble / (queries.size.toLong * k)
    if (recall < floor) v += f"recall@$k $recall%.4f below the floor $floor%.2f"
    (limit(v.result()), recall)
  }

  // --------------------------------------------------------- stream ingest

  /** Admission of one landed batch: no copy of an earlier batch's doc is
    * admitted, every fresh doc is, and nothing outside the landed docs
    * is. `admitted` is the whole admitted set so far. */
  def admission(batch: Gen.Batch, admitted: Set[Long], landed: Set[Long]): Seq[String] = {
    val v = Seq.newBuilder[String]
    admitted.filterNot(landed).take(5).foreach(id => v += s"admitted $id was never landed")
    batch.kinds.foreach {
      case (id, Gen.Fresh) if !admitted(id) => v += s"fresh doc $id not admitted"
      case (id, Gen.CopyOf(src, exact)) if admitted(id) =>
        v += s"${if (exact) "exact" else "near"} copy $id of earlier doc $src admitted"
      case _ =>
    }
    limit(v.result())
  }

  /** The rows each stream read in one trigger, against the docs landed
    * in it: the index stream reads exactly those; the admission stream
    * reads exactly those or, by the known fault [[ladderRereads]]
    * describes, a whole multiple of them. */
  def streamRows(admit: Long, index: Long, landed: Long): Seq[String] =
    (if (index != landed) Seq(s"index stream read $index rows, $landed docs landed") else Nil) ++
      (if (admit != landed && !ladderRereads(admit, landed))
        Seq(s"admission stream read $admit rows, $landed docs landed") else Nil)

  /** The known fault of `StreamDedup.ladderAdmit`: its `foreachBatch`
    * re-scans the uncached micro-batch once per consumer, so Spark
    * reports a whole multiple (≥ 2) of the landed docs as its input. */
  def ladderRereads(admit: Long, landed: Long): Boolean =
    landed > 0 && admit >= 2 * landed && admit % landed == 0

  /** A served vector searched without self-exclusion finds itself at
    * distance 0. */
  def selfFound(hits: Seq[Hit], qids: Seq[Long]): Seq[String] = {
    val self = hits.filter(h => h.qid == h.id && math.abs(h.dist) <= 1e-9).map(_.qid).toSet
    limit(qids.filterNot(self).map(q => s"vector $q not found at distance 0 by its own search"))
  }
}
