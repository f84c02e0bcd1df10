package graft.perfbench

import scala.collection.mutable

/** The text gate's verdict semantics (`graft.streaming.TextGate`),
  * computed exactly: a document is a duplicate when the word-3-gram
  * Jaccard similarity to an accepted document, or to a lower id of its
  * own batch, is at least 0.30; `dup_of` is the lowest such id. The gate
  * finds candidates through MinHash bands and verifies them exactly, so
  * the two agree whenever banding finds every pair above the threshold,
  * which planted near-duplicates (one substitution in 50+ words, Jaccard
  * ≥ 0.9) make certain in practice. */
final class TextRef {
  private val sets = mutable.HashMap.empty[Long, Set[String]]
  private val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  /** Accepted documents by id. */
  val texts = mutable.LinkedHashMap.empty[Long, String]

  /** (accepted, rejected, Σ dup_of) of a batch; accepted docs join the corpus. */
  def land(batch: Seq[(Long, String)]): (Long, Long, Long) = {
    val mine = batch.map { case (id, t) => (id, t, TextRef.shingles(t)) }.sortBy(_._1)
    def jac(a: Set[String], b: Set[String]) = {
      val i = a.count(b.contains); i.toDouble / (a.size + b.size - i)
    }
    val verdicts = mine.zipWithIndex.map { case ((id, t, s), k) =>
      val corpus = s.iterator.flatMap(x => index.getOrElse(x, Nil)).toSet
        .filter(c => jac(s, sets(c)) >= 0.30)
      val inner = mine.take(k).collect { case (j, _, o) if jac(s, o) >= 0.30 => j }
      (id, t, s, (corpus ++ inner).minOption)
    }
    verdicts.foreach { case (id, t, s, dup) => if (dup.isEmpty) {
      sets(id) = s; texts(id) = t
      s.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += id)
    } }
    (verdicts.count(_._4.isEmpty).toLong, verdicts.count(_._4.nonEmpty).toLong,
      verdicts.flatMap(_._4).sum)
  }
}

object TextRef {
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.split(" ")
    if (t.length < 3) Set.empty
    else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }
}
