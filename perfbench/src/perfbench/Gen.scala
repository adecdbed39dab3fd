package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the program sees is built here
  * from the run's seed; the planted labels (which doc is a defect, which
  * docs form a duplicate group, which stream doc repeats an earlier
  * batch) stay in these case classes and never reach the program. */
object Gen {

  /** The stopword list the quality filter counts (English function words;
    * every language of the corpus uses them as shared glue). */
  val Stopwords: Array[String] =
    Array("the", "a", "an", "of", "and", "or", "is", "to", "in", "it", "on", "for")

  private val Cons = "bcdfghjklmnprstvz"
  private val Vow = "aeiou"

  /** A pronounceable word of ≥ 2 syllables (so ≥ 4 letters: never a
    * stopword) for index `i` of vocabulary `space`. */
  def word(space: Int, i: Int): String = {
    val sb = new StringBuilder
    var x = i.toLong * 7919L + space.toLong * 104729L + 1L
    var syl = 0
    while (syl < 2 || x > 0) {
      val s = (x % 85).toInt
      sb.append(Cons(s / 5)).append(Vow(s % 5))
      x /= 85
      syl += 1
    }
    sb.toString
  }

  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  // ---------------------------------------------------------------- curate

  final case class Lang(code: String, weight: Double, quotaPerMille: Int)
  val Langs: Array[Lang] = Array(
    Lang("en", 0.40, 300), Lang("de", 0.20, 500), Lang("fr", 0.15, 650),
    Lang("es", 0.15, 800), Lang("it", 0.10, 900))
  def quotas: String = Langs.map(l => s"${l.code}:${l.quotaPerMille}").mkString(",")

  sealed trait Kind
  case object Clean extends Kind
  final case class Defect(what: String) extends Kind
  final case class ExactDup(group: Int) extends Kind
  final case class NearDup(group: Int) extends Kind

  final case class Doc(id: Long, lang: String, text: String)
  final case class Corpus(docs: Array[Doc], kinds: Map[Long, Kind],
      /** docs per language that a correct pipeline keeps before sampling:
        * clean uniques plus one representative per duplicate group */
      eligible: Map[String, Int])

  private val VocabPerLang = 5000

  /** A clean doc: vocabulary words with a stopword at every sixth slot,
    * so the stopword share (1/6) clears the filter's 5% floor and no
    * 3-word shingle repeats. */
  private def cleanTokens(r: SplittableRandom, lang: Int, n: Int): Array[String] =
    Array.tabulate(n)(i =>
      if (i % 6 == 3) pick(r, Stopwords) else word(lang, r.nextInt(VocabPerLang)))

  /** `nDocs` docs (the last unit may overshoot by < 10). Unit mix: 5%
    * defects (short, stopword-free, repetitive), 4% exact-duplicate
    * groups of 2-9 copies (case and trailing-space variants), 4%
    * near-duplicate groups of 2-5 members (2-4 token substitutions of one
    * base), the rest clean uniques. */
  def corpus(seed: Long, nDocs: Int, salt: Long = 11): Corpus = {
    val r = new SplittableRandom(seed * 1000003L + salt)
    val cum = Langs.scanLeft(0.0)(_ + _.weight).tail
    val texts = scala.collection.mutable.ArrayBuffer.empty[(String, String, Kind)]
    val eligible = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var group = 0
    while (texts.size < nDocs) {
      val u = r.nextDouble()
      val li = cum.indexWhere(_ > r.nextDouble()) match { case -1 => 0; case i => i }
      val lang = Langs(li).code
      val len = 30 + r.nextInt(50)
      if (u < 0.05) {
        r.nextInt(3) match {
          case 0 => texts += ((lang,
            Array.fill(1 + r.nextInt(3))(word(li, r.nextInt(VocabPerLang))).mkString(" "),
            Defect("short")))
          case 1 => texts += ((lang,
            Array.fill(len)(word(li, r.nextInt(VocabPerLang))).mkString(" "),
            Defect("no_stopwords")))
          case _ =>
            val phrase = Seq(pick(r, Stopwords), word(li, r.nextInt(VocabPerLang)),
              word(li, r.nextInt(VocabPerLang))).mkString(" ")
            texts += ((lang, Seq.fill(len / 3)(phrase).mkString(" "), Defect("repetitive")))
        }
      } else if (u < 0.09) {
        group += 1
        val base = cleanTokens(r, li, len).mkString(" ")
        val copies = 2 + r.nextInt(8)
        (0 until copies).foreach { c =>
          val t = if (c % 2 == 1) base.capitalize + " " else base
          texts += ((lang, t, ExactDup(group)))
        }
        eligible(lang) += 1
      } else if (u < 0.13) {
        group += 1
        val base = cleanTokens(r, li, len)
        val members = 2 + r.nextInt(4)
        (0 until members).foreach { m =>
          val t = base.clone()
          if (m > 0) (0 until 2 + r.nextInt(3)).foreach { _ =>
            var p = r.nextInt(t.length)
            if (p % 6 == 3) p = (p + 1) % t.length
            t(p) = word(li, r.nextInt(VocabPerLang))
          }
          texts += ((lang, t.mkString(" "), NearDup(group)))
        }
        eligible(lang) += 1
      } else {
        texts += ((lang, cleanTokens(r, li, len).mkString(" "), Clean))
        eligible(lang) += 1
      }
    }
    val order = shuffled(r, texts.size)
    val docs = Array.tabulate(texts.size) { i =>
      val (lang, text, _) = texts(order(i))
      Doc(1000L + i, lang, text)
    }
    val kinds = Array.tabulate(texts.size)(i => (1000L + i) -> texts(order(i))._3).toMap
    Corpus(docs, kinds, eligible.toMap)
  }

  private def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  // --------------------------------------------------------- vector search

  final case class TopicDocs(docs: Array[Doc],
      /** groups of ids whose texts are identical */
      identical: Seq[Seq[Long]])

  private val Topics = 32
  private val TopicWords = 40
  private val GeneralWords = 3000

  /** One topic-mixture text: ~80% words of its topic's 40-word
    * vocabulary, the rest general vocabulary, so the hash embeddings
    * of one topic point the same way and cluster. */
  private def topicText(r: SplittableRandom): String = {
    val t = r.nextInt(Topics)
    val n = 30 + r.nextInt(60)
    Array.fill(n) {
      if (r.nextDouble() < 0.8) word(100 + t, r.nextInt(TopicWords))
      else word(99, r.nextInt(GeneralWords))
    }.mkString(" ")
  }

  /** `n` topic-mixture docs; 1% of them repeat an earlier doc's text
    * exactly (the identical-text planting). */
  def topicDocs(seed: Long, n: Int): TopicDocs = {
    val r = new SplittableRandom(seed * 1000003L + 23)
    val texts = new Array[String](n)
    val copyOf = scala.collection.mutable.Map.empty[Int, Int]
    (0 until n).foreach { i =>
      if (i > 0 && r.nextDouble() < 0.01) {
        val src = r.nextInt(i)
        texts(i) = texts(src)
        copyOf(i) = copyOf.getOrElse(src, src)
      } else texts(i) = topicText(r)
    }
    val docs = Array.tabulate(n)(i => Doc(i.toLong, "xx", texts(i)))
    val identical = copyOf.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (root, cs) => (root +: cs.map(_._1).sorted).map(_.toLong)
    }
    TopicDocs(docs, identical)
  }

  /** A fixed query set: `n` fresh topic-mixture texts (its own stream of
    * the seed, so it does not depend on the corpus size). */
  def queryTexts(seed: Long, n: Int): Array[String] = {
    val r = new SplittableRandom(seed * 1000003L + 37)
    Array.fill(n)(topicText(r))
  }

  // --------------------------------------------------------- stream ingest

  sealed trait StreamKind
  case object Fresh extends StreamKind
  final case class CopyOf(src: Long, exact: Boolean) extends StreamKind

  final case class Batch(docs: Array[Doc], kinds: Map[Long, StreamKind])

  private val StreamVocab = 50000

  private def freshText(r: SplittableRandom): Array[String] =
    Array.fill(40 + r.nextInt(50))(word(7, r.nextInt(StreamVocab)))

  /** Base corpus of the frozen stream index: `n` fresh docs. */
  def streamBase(seed: Long, n: Int): Array[Doc] = {
    val r = new SplittableRandom(seed * 1000003L + 41)
    Array.tabulate(n)(i => Doc(i.toLong, "xx", freshText(r).mkString(" ")))
  }

  /** Generator of per-trigger files. Batch `b` holds `size` docs: from
    * the second batch on, 10% are exact and 10% near (3 substituted
    * tokens of ~65) copies of docs of earlier batches, the rest fresh. Ids
    * continue across batches from `idBase`. */
  final class StreamFiles(seed: Long, size: Int, idBase: Long) {
    private val r = new SplittableRandom(seed * 1000003L + 53)
    private val landed = scala.collection.mutable.ArrayBuffer.empty[Doc]
    private var next = idBase

    def batch(): Batch = {
      val earlier = landed.size
      val docs = new Array[Doc](size)
      val kinds = Map.newBuilder[Long, StreamKind]
      (0 until size).foreach { i =>
        val id = next; next += 1
        val u = r.nextDouble()
        if (earlier > 0 && u < 0.2) {
          val src = landed(r.nextInt(earlier))
          val exact = u < 0.1
          val text =
            if (exact) src.text
            else {
              val t = src.text.split(" ")
              (0 until 3).foreach(_ => t(r.nextInt(t.length)) = word(7, r.nextInt(StreamVocab)))
              t.mkString(" ")
            }
          docs(i) = Doc(id, "xx", text)
          kinds += id -> CopyOf(src.id, exact)
        } else {
          docs(i) = Doc(id, "xx", freshText(r).mkString(" "))
          kinds += id -> Fresh
        }
      }
      landed ++= docs
      Batch(docs, kinds.result())
    }
  }
}
