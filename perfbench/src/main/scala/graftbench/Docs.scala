package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded document corpus with planted defects at stated shares, and the
  * truth the curation must reach known by construction.
  *
  * A batch of `n` documents holds: clean English documents; exact
  * duplicates (a copy of an earlier clean text under a new id); near
  * duplicates (a copy with a few words replaced); non-English documents
  * (Spanish or German function words); and low-quality documents (too short
  * or one repeated phrase). Ids grow across batches.
  */
final class Docs(seed: Long) {

  import Docs._

  private val rnd = new SplittableRandom(seed)
  private var nextId = 1L

  def freshId(): Long = { nextId += 1; nextId - 1 }

  private def pick(xs: IndexedSeq[String]): String = xs(rnd.nextInt(xs.length))

  private def english(nTokens: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < nTokens) {
      if (i > 0) sb.append(' ')
      // function words keep the stopword share of running English text
      sb.append(if (rnd.nextInt(4) == 0) pick(EnStop) else pick(Vocab))
      if (i % 17 == 16) sb.append('.')
      i += 1
    }
    sb.toString
  }

  private def foreign(nTokens: Int): String = {
    val (stop, words) = if (rnd.nextBoolean()) (EsStop, EsWords) else (DeStop, DeWords)
    (0 until nTokens).map(_ => if (rnd.nextInt(3) == 0) pick(stop) else pick(words)).mkString(" ")
  }

  private def lowQuality(): String =
    if (rnd.nextBoolean()) english(12 + rnd.nextInt(20)) // under the token floor
    else Seq.fill(30 + rnd.nextInt(30))("buy the best deal now").mkString(" ") // repetitive

  private def nearCopy(text: String): String = {
    val toks = text.split(' ')
    (0 until 2).foreach(_ => toks(rnd.nextInt(toks.length)) = pick(Vocab))
    toks.mkString(" ")
  }

  /** One batch of `n` documents. */
  def batch(n: Int): Batch = {
    val rows = mutable.ArrayBuffer.empty[Doc]
    val clean = mutable.ArrayBuffer.empty[Doc]
    val groups = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    var i = 0
    while (i < n) {
      val u = rnd.nextInt(100)
      val src = Sources(rnd.nextInt(Sources.length))
      val lang = Langs(rnd.nextInt(Langs.length))
      val id = freshId()
      val d =
        if (u < ExactPct && clean.nonEmpty) {
          val o = clean(rnd.nextInt(clean.length))
          groups.getOrElseUpdate(o.text, mutable.ArrayBuffer(o.id)) += id
          Doc(id, o.text, lang, src)
        } else if (u < ExactPct + NearPct && clean.nonEmpty)
          Doc(id, nearCopy(clean(rnd.nextInt(clean.length)).text), lang, src)
        else if (u < ExactPct + NearPct + ForeignPct)
          Doc(id, foreign(60 + rnd.nextInt(120)), lang, src)
        else if (u < ExactPct + NearPct + ForeignPct + LowPct)
          Doc(id, lowQuality(), lang, src)
        else {
          val c = Doc(id, english(60 + rnd.nextInt(200)), lang, src)
          clean += c
          c
        }
      rows += d
      i += 1
    }
    Batch(rows.toVector, groups.values.map(_.toSet).toVector)
  }

  /** A seeded choice of `k` distinct elements of `xs`. */
  def sample[A](xs: IndexedSeq[A], k: Int): Vector[A] = {
    val a = xs.toArray[Any]
    val m = math.min(k, a.length)
    (0 until m).foreach { i =>
      val j = i + rnd.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(m).toVector.asInstanceOf[Vector[A]]
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object Docs {

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A generated batch and its planted exact-duplicate groups (all ids of
    * one text, the original first).
    */
  final case class Batch(docs: Vector[Doc], exactGroups: Vector[Set[Long]]) {
    /** The batch as the program reads it: one JSON object per line. */
    def jsonLines: String = {
      val sb = new java.lang.StringBuilder
      docs.foreach { d =>
        sb.append("{\"doc_id\":").append(d.id)
          .append(",\"text\":\"").append(d.text)
          .append("\",\"lang\":\"").append(d.lang)
          .append("\",\"source\":\"").append(d.source).append("\"}\n")
      }
      sb.toString
    }
    def bytes: Long = jsonLines.length.toLong
  }

  /** Planted shares, in percent of a batch. They are assumptions, not
    * measured from a real crawl: each is large enough that its curation
    * step removes something in a 500-document batch (`ext.kept_ratio`,
    * `ext.near_dup_pairs`, and the exact-group check).
    */
  val ExactPct = 8
  val NearPct = 6
  val ForeignPct = 6
  val LowPct = 6

  private val Sources = Vector("web", "books", "code", "forums", "news", "wiki")
  private val Langs = Vector("en", "es", "de", "fr")

  private val EnStop = Vector("the", "of", "and", "to", "a", "in", "is", "it")
  private val EsStop = Vector("el", "la", "de", "que", "y", "en", "los", "se")
  private val DeStop = Vector("der", "die", "und", "das", "ist", "ein", "zu", "mit")
  private val EsWords = Vector("casa", "perro", "tiempo", "ciudad", "agua", "libro",
    "mundo", "vida", "trabajo", "noche", "camino", "tierra")
  private val DeWords = Vector("haus", "hund", "zeit", "stadt", "wasser", "buch",
    "welt", "leben", "arbeit", "nacht", "strasse", "erde")

  /** Content vocabulary (the seismology domain of the warehouse). */
  private val Vocab: Vector[String] = (
    "earthquake fault rupture seismic wave magnitude depth epicenter station " +
    "network sensor record signal noise filter sample rate amplitude phase " +
    "arrival origin location region country coast island ridge trench plate " +
    "boundary subduction crust mantle stress strain slip motion shaking damage " +
    "building bridge road tunnel warning alert report review analyst catalog " +
    "archive update daily monthly delta load stage table schema column value " +
    "measure average maximum minimum count total event type quarry blast " +
    "explosion landslide volcanic eruption glacier ice sonic boom sensor array " +
    "borehole tiltmeter strainmeter gravimeter satellite radar image survey " +
    "model forecast hazard risk probability return period intensity scale " +
    "moment energy release aftershock foreshock swarm sequence cluster window " +
    "pipeline warehouse dashboard query result history backfill stream batch " +
    "commit merge insert delete refresh ingest parse clean validate reject " +
    "accept source field quality metric budget sample token document corpus " +
    "language filter duplicate cluster shard bloom manifest compaction vector"
  ).split(' ').toVector.distinct
}
