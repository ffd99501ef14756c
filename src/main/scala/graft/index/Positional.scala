package graft.index

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.PageRow
import graft.analysis.Tokenizer
import graft.extract.HtmlText
import graft.sources.TableIO

/** Positional posting index — the optional phrase-query capability
  * (SURVEY §7.7 stretch; reference analog: the Solr core's positional
  * text fields, which make Solr `q="exact phrase"` work).
  *
  * Layout mirrors the main index ((term, bucket) blocks, delta-gap+VByte
  * docIds) plus one extra stream: per-doc token positions, delta-encoded
  * within each doc, concatenated across the block (tf per doc = position
  * count, so decoding needs no extra length stream beyond tfs).
  *
  * Kept beside the BM25 index, not inside it: positions roughly double
  * posting bytes, and the north-rule path (BM25 WAND) doesn't need them.
  * A segment carries these blocks in its `pos` dir only once `index-pos`
  * has set the version's positions flag; sync, purge and compaction then
  * keep them under the segment's commit and tombstones, as Lucene keeps
  * a `.pos` file per segment.
  */
case class PosBlock(
    term: String,
    bucket: Int,
    blockId: Int,
    firstDocId: Long,
    count: Int,
    docIdsVB: Array[Byte],
    tfsVB: Array[Byte],
    dlsVB: Array[Byte],
    posVB: Array[Byte])

case class PosPosting(term: String, bucket: Int, docId: Long, dl: Int,
                      positions: Seq[Int])

object Positional extends Serializable {

  val BlockSize = 128

  def toPositionalPostings(pages: Dataset[PageRow]): Dataset[PosPosting] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.flatMap { p =>
      val toks = Tokenizer.tokenize(HtmlText.extract(p.html))
      val docId = DocIds.docId(p.url)
      val bucket = DocIds.bucket(docId)
      val byTerm = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Int]]
      var i = 0
      while (i < toks.length) {
        byTerm.getOrElseUpdate(toks(i),
          scala.collection.mutable.ArrayBuffer.empty) += i
        i += 1
      }
      byTerm.iterator.map { case (t, ps) =>
        PosPosting(t, bucket, docId, toks.length, ps.toSeq)
      }
    }
  }

  def buildBlocks(postings: Dataset[PosPosting],
                  numPartitions: Int = 0): Dataset[PosBlock] = {
    val spark = postings.sparkSession
    import spark.implicits._
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    postings
      .repartition(p, $"term", $"bucket")
      .sortWithinPartitions($"term", $"bucket", $"docId")
      .mapPartitions(encodePartition _)
  }

  private def encodePartition(rows: Iterator[PosPosting]): Iterator[PosBlock] = {
    new Iterator[PosBlock] {
      private val it = rows.buffered
      private var curTerm: String = _
      private var curBucket: Int = _
      private var blockId = 0

      def hasNext: Boolean = it.hasNext

      def next(): PosBlock = {
        val head = it.head
        if (head.term != curTerm || head.bucket != curBucket) {
          curTerm = head.term; curBucket = head.bucket; blockId = 0
        }
        val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
        val tfs = scala.collection.mutable.ArrayBuffer.empty[Int]
        val dls = scala.collection.mutable.ArrayBuffer.empty[Int]
        val posDeltas = scala.collection.mutable.ArrayBuffer.empty[Int]
        while (docIds.length < BlockSize && it.hasNext &&
               it.head.term == curTerm && it.head.bucket == curBucket) {
          val p = it.next()
          docIds += p.docId
          tfs += p.positions.length
          dls += p.dl
          var prev = 0
          p.positions.foreach { pos => posDeltas += pos - prev; prev = pos }
        }
        val ids = docIds.toArray
        val block = PosBlock(curTerm, curBucket, blockId, ids(0), ids.length,
          Codec.encodeDocIds(ids, ids(0)),
          Codec.encodeInts(tfs.toArray),
          Codec.encodeInts(dls.toArray),
          Codec.encodeInts(posDeltas.toArray))
        blockId += 1
        block
      }
    }
  }

  /** Decode one block to (docId, dl, positions[]) triples. */
  def decodeBlock(b: PosBlock): Array[(Long, Int, Array[Int])] = {
    val ids = Codec.decodeDocIds(b.docIdsVB, b.count, b.firstDocId)
    val tfs = Codec.decodeInts(b.tfsVB, b.count)
    val dls = Codec.decodeInts(b.dlsVB, b.count)
    val allPos = Codec.decodeInts(b.posVB, tfs.sum)
    val out = new Array[(Long, Int, Array[Int])](b.count)
    var off = 0
    var i = 0
    while (i < b.count) {
      val ps = new Array[Int](tfs(i))
      var prev = 0
      var j = 0
      while (j < tfs(i)) { prev += allPos(off + j); ps(j) = prev; j += 1 }
      out(i) = (ids(i), dls(i), ps)
      off += tfs(i)
      i += 1
    }
    out
  }

  /** Encode one pages frame into a positional-blocks dir. */
  def writeBlocks(pages: Dataset[PageRow], dir: String): Unit =
    TableIO.writeTermSorted(buildBlocks(toPositionalPostings(pages)).toDF(), dir)
}
