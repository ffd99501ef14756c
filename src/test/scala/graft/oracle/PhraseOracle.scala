package graft.oracle

import graft.{Hit, PageRow}
import graft.analysis.Tokenizer
import graft.index.DocIds
import graft.query.Bm25

/** Naive phrase top-k over an explicit live-row set: every window of the
  * tokenized text compared with the phrase, BM25 with the phrase as one
  * term (df = matching docs, tf = occurrences), ties by docId.
  */
object PhraseOracle {
  def topK(rows: Seq[PageRow], phrase: String, k: Int): Seq[Hit] = {
    val terms = Tokenizer.tokenize(phrase).toSeq
    val docs = rows.map(p => (DocIds.docId(p.url), Tokenizer.tokenize(p.text)))
    val n = rows.size.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val matches = docs.flatMap { case (docId, toks) =>
      val tf = toks.sliding(terms.length).count(_.toSeq == terms)
      if (terms.nonEmpty && tf > 0) Some((docId, toks.length, tf)) else None
    }
    if (matches.isEmpty) return Seq.empty
    val idf = Bm25.idf(n, matches.length.toLong)
    matches.map { case (d, dl, tf) => Hit(d, Bm25.termScore(idf, tf, dl, avgdl)) }
      .sortBy(h => (-h.score, h.docId))
      .take(k)
  }
}
