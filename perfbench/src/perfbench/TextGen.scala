package perfbench

import scala.collection.mutable

/** Seeded web documents for `text_intake`, after the engine's own
  * streaming-intake fixture: quality documents, low-quality stubs,
  * exact copies and near copies, the copies planted both within a batch
  * and across batches. Every document is built so that its fate in the
  * intake loop is known in closed form:
  *
  *  - a quality document is 60-90 random words of 4-9 lower-case letters
  *    from a 20000-word vocabulary: no punctuation, at least 299
  *    characters, so the engine's heuristic score is at least 0.87 and it
  *    passes the 0.75 gate; two such documents share no word 3-gram in
  *    practice;
  *  - a stub is three words: at most 29 characters score at most 0.54 and
  *    fail the gate;
  *  - an exact copy repeats its original's text under other markup, so
  *    the cleaned text, and its hash, are the original's;
  *  - a near copy capitalizes every fifth word: its cleaned text differs
  *    from the original's, but its lower-cased word 3-gram set is the
  *    original's, so the pair's Jaccard similarity is 1 and MinHash puts
  *    it in one band bucket with certainty.
  *
  * A copy always carries a larger id than its original, and both dedup
  * steps keep the smaller id, so the survivors of a batch are exactly its
  * quality originals. */
final class TextGen(seed: Long) {
  private val r = new java.util.Random(seed)
  private val vocab: Array[String] = Array.fill(20000) {
    new String(Array.fill(4 + r.nextInt(6))(('a' + r.nextInt(26)).toChar))
  }
  private def words(n: Int): Seq[String] = Seq.fill(n)(vocab(r.nextInt(vocab.length)))

  def qualityText(): String = words(60 + r.nextInt(31)).mkString(" ")
  def stubText(): String = words(3).mkString(" ")
  def nearText(text: String): String =
    text.split(" ").zipWithIndex.map { case (w, i) =>
      if (i % 5 == 0) w.capitalize else w
    }.mkString(" ")

  def html(text: String): String =
    s"""<html><body><p class="x">$text</p><script>var j = "<q>";</script></body></html>"""
  def otherHtml(text: String): String =
    s"""<div id="main"><span>$text</span></div><style>p { color: red }</style>"""

  def pick[T](xs: IndexedSeq[T], n: Int): Seq[T] = {
    val idx = mutable.LinkedHashSet.empty[Int]
    val want = math.min(n, xs.length)
    while (idx.size < want) idx += r.nextInt(xs.length)
    idx.toSeq.map(xs)
  }

  def nextInt(n: Int): Int = r.nextInt(n)
  def nextDouble(): Double = r.nextDouble()
  def nextGaussian(): Double = r.nextGaussian()
}

/** One generated text batch: rows in id order and the ids expected to
  * survive. */
final case class TextBatch(rows: Seq[(Long, String)], survivors: Set[Long],
    originals: IndexedSeq[(Long, String)])

object TextBatch {
  /** A batch of `size` rows with ids from `firstId`. `history` holds
    * surviving (id, text) pairs of earlier batches to plant copies of;
    * a fixed share of the batch is each kind of document. */
  def apply(g: TextGen, firstId: Long, size: Int,
      history: IndexedSeq[(Long, String)]): TextBatch = {
    val stubs = size * 8 / 100
    val within = size * 4 / 100
    val across = if (history.isEmpty) 0 else size * 6 / 100
    val fresh = size - stubs - 2 * within - 2 * across
    var id = firstId
    def nextId() = { val i = id; id += 1; i }
    val originals = IndexedSeq.fill(fresh)(nextId() -> g.qualityText())
    val stubRows = Seq.fill(stubs)(nextId() -> g.html(g.stubText()))
    val srcWithin = g.pick(originals, 2 * within)
    val srcAcross = g.pick(history, 2 * across)
    val copies =
      srcWithin.take(within).map(o => nextId() -> g.otherHtml(o._2)) ++
      srcWithin.drop(within).map(o => nextId() -> g.html(g.nearText(o._2))) ++
      srcAcross.take(across).map(o => nextId() -> g.otherHtml(o._2)) ++
      srcAcross.drop(across).map(o => nextId() -> g.html(g.nearText(o._2)))
    TextBatch(originals.map { case (i, t) => i -> g.html(t) } ++ stubRows ++ copies,
      originals.map(_._1).toSet, originals)
  }
}
