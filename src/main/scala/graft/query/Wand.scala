package graft.query

import graft.{Hit, IndexBlock}
import graft.index.Codec
import graft.sync.Tables

/** Block-max WAND top-k evaluation (north rule "block-max WAND top-k
  * scoring"; public algorithm: Broder et al. 2003 WAND; Ding & Suel 2011
  * block-max refinement).
  *
  * Runs doc-at-a-time **within one docId bucket** — the engine executes
  * one instance per bucket ([[scoreBucket]], on every topK path), each
  * producing a rank-safe local top-k; the global top-k is the
  * (score desc, docId asc) head of the per-bucket unions.
  *
  * LSM awareness: a term's blocks may span several segments (disjoint
  * docId ranges *within* a segment, overlapping *across* segments), so a
  * term's cursor is a small k-way merge of per-segment cursors, and every
  * per-segment cursor skips tombstoned postings (docId dead in segments
  * whose batch_id sorts before the tombstone's `before` — at most one
  * segment holds a live posting per (term, docId)). Dead postings only
  * weaken block-max bounds (upper bounds stay upper bounds), never
  * scores.
  *
  * Rank-safety with the deterministic tie-break: candidates arrive in
  * ascending docId order, so an equal-score later doc never evicts an
  * earlier one — the heap admits strictly-greater scores only, and blocks
  * are skipped when their upper bound is ≤ the current threshold.
  *
  * Score determinism: a fully-evaluated doc sums term contributions in
  * lexicographic term order (cursors are created from a sorted term list
  * and scoring walks that fixed array), bit-identical to the naive oracle.
  */
object Wand extends Serializable {

  /** Posting-cursor contract shared by the single-segment cursor and the
    * cross-segment merge cursor.
    */
  sealed trait Cursor {
    def curDoc: Long
    def exhausted: Boolean = curDoc == Long.MaxValue
    /** Upper bound of this term's score anywhere in the bucket. */
    def globalUB: Double
    /** Upper bound over the current block(s) (block-max). */
    def currentBlockUB: Double
    /** Last docId covered by the current block(s) — safe skip boundary. */
    def currentBlockLast: Long
    /** Advance to the first live posting with docId >= target. */
    def seek(target: Long): Unit
    def next(): Unit =
      seek(if (curDoc == Long.MaxValue) curDoc else curDoc + 1)
    /** Score contribution at curDoc (call only when positioned on it). */
    def score(): Double
  }

  /** A cursor over one term's posting blocks within (bucket, segment).
    * Blocks are sorted by firstDocId (disjoint ranges within a segment)
    * and decoded lazily on entry; tombstoned postings are skipped.
    */
  final class TermCursor(val term: String, val idf: Double,
                         blocks0: Array[IndexBlock], avgdl: Double,
                         dead: Map[Long, String] = Map.empty)
      extends Cursor {
    private val blocks = blocks0.sortBy(_.firstDocId)
    val globalUB: Double =
      blocks.map(b => Bm25.blockUpperBound(idf, b.maxTf, b.minDl, avgdl)).max

    private var bi = 0
    private var ids: Array[Long] = _
    private var tfs: Array[Int] = _
    private var dls: Array[Int] = _
    private var pi = 0
    var curDoc: Long = _
    decodeAndPosition()
    skipDead()

    private def isDead(id: Long): Boolean =
      Tables.isDead(dead, id, blocks(bi).batch_id)

    private def skipDead(): Unit = {
      while (!exhausted && isDead(curDoc)) {
        pi += 1
        if (pi >= ids.length) { bi += 1; decodeAndPosition() }
        else curDoc = ids(pi)
      }
    }

    private def decodeAndPosition(): Unit = {
      if (bi >= blocks.length) { curDoc = Long.MaxValue; ids = null }
      else {
        val b = blocks(bi)
        ids = Codec.decodeDocIds(b.docIdsVB, b.count, b.firstDocId)
        tfs = Codec.decodeInts(b.tfsVB, b.count)
        dls = Codec.decodeInts(b.dlsVB, b.count)
        pi = 0
        curDoc = ids(0)
      }
    }

    def currentBlockUB: Double = {
      val b = blocks(bi)
      Bm25.blockUpperBound(idf, b.maxTf, b.minDl, avgdl)
    }

    def currentBlockLast: Long = blocks(bi).lastDocId

    def seek(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      // skip whole blocks without decoding
      if (blocks(bi).lastDocId < target) {
        while (bi < blocks.length && blocks(bi).lastDocId < target) bi += 1
        decodeAndPosition()
        if (exhausted) return
      }
      // position within the block
      while (pi < ids.length && ids(pi) < target) pi += 1
      if (pi >= ids.length) {
        bi += 1; decodeAndPosition(); skipDead(); seek(target)
      } else { curDoc = ids(pi); skipDead() }
    }

    def score(): Double = Bm25.termScore(idf, tfs(pi), dls(pi), avgdl)
  }

  /** One term's cursor across several segments: positions at the minimum
    * child docId. The tombstone invariant (at most one live segment per
    * docId) guarantees exactly one child contributes at any doc, so
    * globalUB is the max (not sum) of the children's.
    */
  final class MergedTermCursor(children: Array[TermCursor]) extends Cursor {
    val globalUB: Double = children.map(_.globalUB).max
    var curDoc: Long = _
    refresh()

    private def refresh(): Unit = {
      var m = Long.MaxValue
      var i = 0
      while (i < children.length) {
        if (children(i).curDoc < m) m = children(i).curDoc
        i += 1
      }
      curDoc = m
    }

    def currentBlockUB: Double = {
      var ub = 0.0
      var i = 0
      while (i < children.length) {
        if (!children(i).exhausted && children(i).currentBlockUB > ub)
          ub = children(i).currentBlockUB
        i += 1
      }
      ub
    }

    def currentBlockLast: Long = {
      // the window where the UB above is valid: up to the nearest child
      // block boundary (each child's block covers [its curDoc, its last])
      var last = Long.MaxValue
      var i = 0
      while (i < children.length) {
        if (!children(i).exhausted && children(i).currentBlockLast < last)
          last = children(i).currentBlockLast
        i += 1
      }
      last
    }

    def seek(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      var i = 0
      while (i < children.length) { children(i).seek(target); i += 1 }
      refresh()
    }

    def score(): Double = {
      var i = 0
      while (i < children.length) {
        if (children(i).curDoc == curDoc) return children(i).score()
        i += 1
      }
      throw new IllegalStateException("merged cursor not positioned")
    }
  }

  /** Build one cursor per term: per-segment TermCursors (grouped by the
    * blocks' batch_id — within a segment a (term,bucket) group is
    * single-batch, so batch_id IS the segment discriminator), merged when
    * the term spans segments.
    */
  private def cursors(termBlocks: Seq[(String, Array[IndexBlock])],
                      idf: Map[String, Double], avgdl: Double,
                      dead: Map[Long, String]): Array[Cursor] =
    termBlocks
      .filter(e => e._2.nonEmpty && idf.contains(e._1)) // no idf = dict-dead term: skip
      .sortBy(_._1) // lex order = fixed scoring order
      .map { case (t, bs) =>
        val groups = bs.groupBy(_.batch_id).toSeq.sortBy(_._1)
        val children =
          groups.map { case (_, g) => new TermCursor(t, idf(t), g, avgdl, dead) }
        if (children.size == 1) children.head
        else new MergedTermCursor(children.toArray): Cursor
      }
      .toArray

  /** Bounded top-k heap with the deterministic (score desc, docId asc)
    * order. `insert` admits strictly-greater scores only — callers feed
    * docIds in ascending order, so ties keep the earlier docId.
    */
  final class TopK(k: Int) {
    private val heap = new java.util.PriorityQueue[Hit](
      math.max(k, 1),
      (a: Hit, b: Hit) =>
        if (a.score != b.score) java.lang.Double.compare(a.score, b.score)
        else java.lang.Long.compare(b.docId, a.docId)) // larger docId = worse

    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.peek().score

    def size: Int = heap.size

    def insert(docId: Long, score: Double): Unit = {
      if (heap.size < k) heap.add(Hit(docId, score))
      else if (score > heap.peek().score ||
               (score == heap.peek().score && docId < heap.peek().docId)) {
        heap.poll(); heap.add(Hit(docId, score))
      }
    }

    def result(): Array[Hit] = {
      val out = new Array[Hit](heap.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = heap.poll(); i -= 1 }
      out // (score desc, docId asc)
    }
  }

  /** The bucket-scoring kernel every [[IndexReader.topK]] path calls:
    * one docId bucket's blocks for the query terms → that bucket's exact
    * local top-k, by block-max WAND or (useWand = false) exhaustive TAAT.
    * The paths differ only in where the blocks run and where the
    * bucket's dead map comes from.
    */
  def scoreBucket(blocks: Array[IndexBlock], idf: Map[String, Double],
                  avgdl: Double, k: Int, dead: Map[Long, String],
                  useWand: Boolean): Array[Hit] = {
    val byTerm = blocks.groupBy(_.term).toSeq
    if (useWand) topKInBucket(byTerm, idf, avgdl, k, dead)
    else taatInBucket(byTerm, idf, avgdl, k, dead)
  }

  /** Exact top-k over one bucket's blocks for the query terms.
    *
    * @param termBlocks (term, blocks-in-this-bucket) — blocks may span
    *                   segments (handled via batch_id grouping)
    * @param idf        per query term (from the dict, global live df)
    * @param dead       tombstones: docId → dead-before batchId
    */
  def topKInBucket(
      termBlocks: Seq[(String, Array[IndexBlock])],
      idf: Map[String, Double],
      avgdl: Double,
      k: Int,
      dead: Map[Long, String] = Map.empty): Array[Hit] = {
    val lex: Array[Cursor] = cursors(termBlocks, idf, avgdl, dead)
    if (lex.isEmpty || k <= 0) return Array.empty

    val topk = new TopK(k)
    // byDoc: cursor order for pivoting, re-sorted each round (q terms are few)
    val byDoc = lex.clone()

    var done = false
    while (!done) {
      java.util.Arrays.sort(byDoc, (a: Cursor, b: Cursor) =>
        java.lang.Long.compare(a.curDoc, b.curDoc))
      if (byDoc(0).exhausted) done = true
      else {
        val theta = topk.threshold
        // pivot: least p with Σ_{i<=p} globalUB > theta
        var acc = 0.0
        var p = -1
        var i = 0
        while (p < 0 && i < byDoc.length) {
          if (!byDoc(i).exhausted) {
            acc += byDoc(i).globalUB
            if (acc > theta) p = i
          }
          i += 1
        }
        if (p < 0) done = true // no doc can beat theta
        else {
          val pivotDoc = byDoc(p).curDoc
          if (pivotDoc == Long.MaxValue) done = true
          else if (byDoc(0).curDoc == pivotDoc) {
            // all cursors [0..p] sit on pivotDoc; block-max check
            var blockSum = 0.0
            var j = 0
            while (j <= p) { blockSum += byDoc(j).currentBlockUB; j += 1 }
            // cursors beyond p also on pivotDoc contribute too
            var j2 = p + 1
            while (j2 < byDoc.length && byDoc(j2).curDoc == pivotDoc) {
              blockSum += byDoc(j2).currentBlockUB; j2 += 1
            }
            if (blockSum <= theta) {
              // safe skip: no doc in [pivotDoc, d2] can beat theta
              var d2 = Long.MaxValue
              var m = 0
              while (m < j2) {
                if (byDoc(m).currentBlockLast < d2) d2 = byDoc(m).currentBlockLast
                m += 1
              }
              if (j2 < byDoc.length && byDoc(j2).curDoc != Long.MaxValue &&
                  byDoc(j2).curDoc - 1 < d2) d2 = byDoc(j2).curDoc - 1
              if (d2 == Long.MaxValue) done = true
              else {
                var m2 = 0
                while (m2 < j2) { byDoc(m2).seek(d2 + 1); m2 += 1 }
              }
            } else {
              // full evaluation in lex order (deterministic summation)
              var s = 0.0
              var li = 0
              while (li < lex.length) {
                if (lex(li).curDoc == pivotDoc) s += lex(li).score()
                li += 1
              }
              topk.insert(pivotDoc, s)
              var m = 0
              while (m < byDoc.length) {
                if (byDoc(m).curDoc == pivotDoc) byDoc(m).next()
                m += 1
              }
            }
          } else {
            // advance the first not-yet-at-pivot cursor to the pivot
            byDoc(0).seek(pivotDoc)
          }
        }
      }
    }
    topk.result()
  }

  /** Exhaustive term-at-a-time evaluation — the distributed-side oracle
    * used by tests to cross-check WAND's pruning, and a fallback scorer.
    * Sums per-doc contributions in lex term order (cursor array is lex
    * sorted and docs accumulate per term sequentially in that order).
    */
  def taatInBucket(
      termBlocks: Seq[(String, Array[IndexBlock])],
      idf: Map[String, Double],
      avgdl: Double,
      k: Int,
      dead: Map[Long, String] = Map.empty): Array[Hit] = {
    val acc = new java.util.TreeMap[java.lang.Long, java.lang.Double]()
    termBlocks.filter(e => idf.contains(e._1)).sortBy(_._1).foreach { case (t, bs) =>
      val theIdf = idf(t)
      bs.sortBy(b => (b.batch_id, b.firstDocId)).foreach { b =>
        val ids = Codec.decodeDocIds(b.docIdsVB, b.count, b.firstDocId)
        val tfs = Codec.decodeInts(b.tfsVB, b.count)
        val dls = Codec.decodeInts(b.dlsVB, b.count)
        var i = 0
        while (i < b.count) {
          if (!Tables.isDead(dead, ids(i), b.batch_id)) {
            val s = Bm25.termScore(theIdf, tfs(i), dls(i), avgdl)
            val prev = acc.get(ids(i))
            acc.put(ids(i), (if (prev == null) 0.0 else prev.doubleValue()) + s)
          }
          i += 1
        }
      }
    }
    val topk = new TopK(k)
    val it = acc.entrySet().iterator() // ascending docId → ties keep earlier
    while (it.hasNext) {
      val e = it.next()
      topk.insert(e.getKey, e.getValue)
    }
    topk.result()
  }
}
