package perfbench

import scala.collection.mutable

/** The ingest workload's generator parameters (listed in README.md).
  * The shares are a design choice, not a measured crawl: together with
  * the novel rest they make every batch exercise all three outcomes of
  * `CorpusIngest`'s dedup (exact MD5 hit, MinHash near duplicate, new
  * document) in comparable numbers. */
object IngestGen {
  val BatchDocs = 200
  val ExactShare = 0.15
  val NearShare = 0.15
  /** Words replaced in a near-duplicate edit. */
  val EditWords = 1
}

/** Seeded micro-batches of `(doc_id, text)` derived from the `documents`
  * table: each document is, with the stated shares, an exact copy of an
  * earlier generated text, a near-duplicate edit of one (`EditWords`
  * words replaced by words drawn from the corpus), or the next unused
  * corpus text in a seeded order. Batches are produced in order and
  * memoized, so batch `b` is the same however often it is asked for. */
final class IngestGen(seed: Long, corpus: IndexedSeq[String]) {
  import IngestGen._
  require(corpus.nonEmpty, "empty documents table")
  private val rnd = new scala.util.Random(seed)
  private val order = rnd.shuffle(corpus.indices.toVector)
  private val words = corpus.iterator.flatMap(_.split(' ')).take(4096).toVector.distinct
  private var nextNovel = 0
  private val emitted = mutable.ArrayBuffer.empty[String]
  private val made = mutable.ArrayBuffer.empty[IndexedSeq[(Long, String)]]

  private def novel(): String = {
    val i = nextNovel
    nextNovel += 1
    val t = corpus(order(i % order.size))
    // a second lap through the corpus tags the text so it stays novel
    if (i < order.size) t else s"$t lap${i / order.size}"
  }

  private def edit(t: String): String = {
    val w = t.split(' ')
    (0 until EditWords).foreach(_ => w(rnd.nextInt(w.length)) = words(rnd.nextInt(words.size)))
    w.mkString(" ")
  }

  def batch(b: Int): IndexedSeq[(Long, String)] = synchronized {
    while (made.size <= b) {
      val n = made.size
      made += (0 until BatchDocs).map { i =>
        val u = rnd.nextDouble()
        val text =
          if (emitted.isEmpty || u >= ExactShare + NearShare) novel()
          else if (u < ExactShare) emitted(rnd.nextInt(emitted.size))
          else edit(emitted(rnd.nextInt(emitted.size)))
        emitted += text
        (n.toLong * BatchDocs + i + 1, text)
      }
    }
    made(b)
  }
}
