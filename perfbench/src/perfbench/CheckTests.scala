package perfbench

/** Tests of the benchmark's own checks: each check passes a correct
  * output and fails a corrupted one (a neighbour swapped, a planted
  * duplicate admitted, a defect doc kept, ...). No Spark session; run
  * with `python3 perfbench/run.py --self-test`. */
object CheckTests {
  private var failures = 0
  private var passed = 0

  private def expect(name: String, violations: Seq[String], shouldFail: Boolean): Unit =
    if (violations.nonEmpty == shouldFail) passed += 1
    else {
      failures += 1
      println(s"FAIL $name: expected ${if (shouldFail) "violations" else "a pass"}, got " +
        (if (violations.isEmpty) "none" else violations.mkString("; ")))
    }

  def main(args: Array[String]): Unit = {
    curate()
    vectors()
    search()
    stream()
    println(s"perfbench self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** The survivors a correct pipeline could return: clean docs and each
    * group's minimum id, thinned by each language's quota with a
    * deterministic hash (any fair coin would do). */
  private def idealSurvivors(c: Gen.Corpus): Seq[Checks.Survivor] = {
    val groupMin = c.kinds.toSeq.collect {
      case (id, Gen.ExactDup(g)) => ("e", g) -> id
      case (id, Gen.NearDup(g)) => ("n", g) -> id
    }.groupBy(_._1).map(_._2.map(_._2).min).toSet
    val quota = Gen.Langs.map(l => l.code -> l.quotaPerMille).toMap
    c.docs.toSeq.filter { d =>
      val keep = c.kinds(d.id) match {
        case Gen.Clean => true
        case Gen.Defect(_) => false
        case _ => groupMin(d.id)
      }
      keep && java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s"${d.lang}#${d.id}"), 1000) < quota(d.lang)
    }.map(d => Checks.Survivor(d.id, d.lang, d.text))
  }

  private def curate(): Unit = {
    val c = Gen.corpus(3, 6000)
    val ok = idealSurvivors(c)
    expect("curate: ideal output", Checks.curate(c, ok), shouldFail = false)
    val defect = c.docs.find(d => c.kinds(d.id).isInstanceOf[Gen.Defect]).get
    expect("curate: defect doc kept",
      Checks.curate(c, ok :+ Checks.Survivor(defect.id, defect.lang, defect.text)), shouldFail = true)
    val exact = c.kinds.toSeq.collect { case (id, Gen.ExactDup(g)) => g -> id }
      .groupBy(_._1).values.head.map(_._2).max
    val ed = c.docs.find(_.id == exact).get
    expect("curate: exact duplicate kept instead of its minimum",
      Checks.curate(c, ok.filterNot(_.id == exact) :+ Checks.Survivor(ed.id, ed.lang, ed.text)),
      shouldFail = true)
    val near = c.kinds.toSeq.collect { case (id, Gen.NearDup(g)) => g -> id }
      .groupBy(_._1).values.map(_.map(_._2)).find(_.size > 1).get
    val twoNear = near.sorted.take(2).map(id => c.docs.find(_.id == id).get)
      .map(d => Checks.Survivor(d.id, d.lang, d.text))
    expect("curate: two members of one near-duplicate group kept",
      Checks.curate(c, ok.filterNot(s => near.contains(s.id)) ++ twoNear), shouldFail = true)
    expect("curate: survivor that is not an input doc",
      Checks.curate(c, ok :+ Checks.Survivor(-1L, "en", "made up")), shouldFail = true)
    val first = ok.head
    expect("curate: survivor text altered",
      Checks.curate(c, ok.tail :+ first.copy(text = first.text + " extra")), shouldFail = true)
    val en = ok.filter(_.lang == "en")
    expect("curate: one language sampled far from its quota",
      Checks.curate(c, ok.filterNot(_.lang == "en") ++ en.take(en.size / 2)), shouldFail = true)
  }

  /** Signed feature hashing, as the method defines it (one ±1 per token
    * into one slot), for building test vectors. */
  private def hashVec(text: String, dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    text.split(" ").foreach { t =>
      val h = t.hashCode
      v(java.lang.Math.floorMod(h, dim)) += (if ((h >>> 7) % 2 == 0) 1f else -1f)
    }
    v
  }

  private def vectors(): Unit = {
    val d = Gen.topicDocs(5, 400)
    val texts = d.docs.map(x => x.id -> x.text).toMap
    val vecs = d.docs.map(x => x.id -> hashVec(x.text, 16)).toMap
    expect("vectors: well-formed", Checks.vectors(texts, vecs, 16, d.identical), shouldFail = false)
    val id = d.docs.head.id
    expect("vectors: wrong dimension",
      Checks.vectors(texts, vecs + (id -> new Array[Float](8)), 16, d.identical), shouldFail = true)
    val odd = vecs(id).clone(); odd(0) += 1
    expect("vectors: parity broken",
      Checks.vectors(texts, vecs + (id -> odd), 16, d.identical), shouldFail = true)
    val grp = d.identical.find(_.size > 1).get
    val other = vecs(grp(1)).clone(); other(0) += 2; other(1) -= 2
    expect("vectors: identical texts, different vectors",
      Checks.vectors(texts, vecs + (grp(1) -> other), 16, d.identical), shouldFail = true)
  }

  private def search(): Unit = {
    val d = Gen.topicDocs(9, 600)
    val vecs = d.docs.map(x => x.id -> hashVec(x.text, 16)).toMap
    val arr = vecs.toArray
    val queries = Gen.queryTexts(9, 20).zipWithIndex
      .map { case (t, i) => (100000L + i) -> hashVec(t, 16) }.toMap
    val kth = Checks.exactKth(queries, arr, 10)
    val exact = queries.toSeq.flatMap { case (q, qv) =>
      arr.map { case (id, x) => (id, Checks.l2(qv, x)) }.sortBy(p => (p._2, p._1)).take(10)
        .map { case (id, dist) => Checks.Hit(q, id, dist) }
    }
    expect("search: exact answer", Checks.search(exact, queries, vecs, kth, 10, 0.95)._1,
      shouldFail = false)
    // one neighbour swapped for the farthest doc: its distance no longer
    // matches what the answer claims
    val h = exact.head
    val far = arr.maxBy(p => Checks.l2(queries(h.qid), p._2))._1
    expect("search: one neighbour swapped",
      Checks.search(exact.updated(0, h.copy(id = far)), queries, vecs, kth, 10, 0.95)._1,
      shouldFail = true)
    // swapped with its true distance reported: recall falls below a floor
    // of 1.0 while the distances stay consistent
    val swapped = h.copy(id = far, dist = Checks.l2(queries(h.qid), vecs(far)))
    expect("search: swapped neighbour costs recall",
      Checks.search(exact.updated(0, swapped), queries, vecs, kth, 10, 1.0)._1, shouldFail = true)
    expect("search: a query answered with k-1 ids",
      Checks.search(exact.tail, queries, vecs, kth, 10, 0.0)._1, shouldFail = true)
    expect("search: a duplicate id in one answer",
      Checks.search(exact.updated(1, exact.head), queries, vecs, kth, 10, 0.0)._1, shouldFail = true)
  }

  private def stream(): Unit = {
    val files = new Gen.StreamFiles(2, 200, 0L)
    val b0 = files.batch()
    val b1 = files.batch()
    val landed = (b0.docs ++ b1.docs).map(_.id).toSet
    val fresh1 = b1.kinds.collect { case (id, Gen.Fresh) => id }.toSet
    val ok = b0.docs.map(_.id).toSet ++ fresh1
    expect("stream: correct admission", Checks.admission(b1, ok, landed), shouldFail = false)
    val dup = b1.kinds.collectFirst { case (id, Gen.CopyOf(_, _)) => id }.get
    expect("stream: planted duplicate admitted",
      Checks.admission(b1, ok + dup, landed), shouldFail = true)
    expect("stream: fresh doc dropped",
      Checks.admission(b1, ok - fresh1.head, landed), shouldFail = true)
    expect("stream: admitted id never landed",
      Checks.admission(b1, ok + 999999L, landed), shouldFail = true)
    expect("stream: input rows match", Checks.streamRows(400L, 400L, 400L), shouldFail = false)
    expect("stream: admission re-reads (the known fault)", Checks.streamRows(2000L, 400L, 400L),
      shouldFail = false)
    expect("stream: index stream lost rows", Checks.streamRows(400L, 399L, 400L),
      shouldFail = true)
    expect("stream: index stream doubled rows", Checks.streamRows(400L, 800L, 400L),
      shouldFail = true)
    expect("stream: admission stream lost rows", Checks.streamRows(399L, 400L, 400L),
      shouldFail = true)
    expect("stream: admission stream read a part multiple", Checks.streamRows(1000L, 400L, 400L),
      shouldFail = true)
    if (!Checks.ladderRereads(2000L, 400L) || Checks.ladderRereads(400L, 400L) ||
        Checks.ladderRereads(1000L, 400L) || Checks.ladderRereads(0L, 0L)) {
      failures += 1
      println("FAIL stream: ladderRereads matches only whole multiples >= 2")
    } else passed += 1
    val hits = Seq(Checks.Hit(7, 7, 0.0), Checks.Hit(7, 3, 1.5), Checks.Hit(8, 8, 0.0))
    expect("stream: self found", Checks.selfFound(hits, Seq(7L, 8L)), shouldFail = false)
    expect("stream: self missing",
      Checks.selfFound(hits.filterNot(_.qid == 8), Seq(7L, 8L)), shouldFail = true)
  }
}
