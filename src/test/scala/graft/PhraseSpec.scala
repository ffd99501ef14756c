package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.corpus.Corpus
import graft.index.{DocIds, PosBlock, Positional}
import graft.oracle.PhraseOracle
import graft.query.{IndexReader, Phrase}
import graft.sources.TableIO
import graft.sync.{IndexPosJob, PurgeJob, ReconcileJob, SyncJob}

/** Positions in the segments vs a naive in-memory phrase oracle: the
  * streaming-cursor memory bounds, and phrase answers across sync,
  * purge, reconcile, multi-timestamp sync, in-batch re-crawls, compaction
  * and stale readers, each on docId and score bits.
  */
class PhraseSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))
  private def urlIdx(p: PageRow): Int = p.url.split("/").last.toInt
  private def bits(hits: Seq[Hit]) =
    hits.map(h => (h.docId, java.lang.Double.doubleToRawLongBits(h.score)))

  /** One sync of `rows` into a fresh root, then `index-pos`. */
  private def positionalIndex(prefix: String, rows: Seq[PageRow]): (String, TableIO) = {
    val root = tmpDir(prefix)
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(rows.size.toLong))
    IndexPosJob.run(spark, io, spark.createDataset(rows))
    (root, io)
  }

  private def phrase(reader: IndexReader, q: String, k: Int = 10): Seq[Hit] =
    Phrase.topK(reader, q, k).toSeq

  /** Each phrase on a fresh reader equals the oracle over `live`. */
  private def check(root: String, live: Seq[PageRow], phrases: String*): Unit = {
    val reader = new IndexReader(spark, root)
    phrases.foreach { q =>
      assert(bits(phrase(reader, q)) == bits(PhraseOracle.topK(live, q, 10)),
        s"phrase [$q] diverged (live=${live.size}, version ${reader.version})")
    }
  }

  private def withProp[A](key: String, value: String)(f: => A): A = {
    val prev = sys.props.get(key)
    sys.props(key) = value
    try f finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  private def withBucketBits[A](b: Int)(f: => A): A =
    try withProp("graft.docid.bucketBits", b.toString) {
      DocIds.refreshBucketBits(); f
    } finally DocIds.refreshBucketBits()

  val N = 600
  lazy val (root600, io600) = positionalIndex("graft-posidx", Corpus.localRows(N))

  // phrases that exist in the corpus grammar: pick real bigrams from doc 0
  lazy val samplePhrases: Seq[String] = {
    val toks = graft.analysis.Tokenizer.tokenize(Corpus.text(0))
    Seq(
      toks.slice(1, 3).mkString(" "),   // real bigram from doc 0 body
      toks.slice(2, 5).mkString(" "),   // real trigram
      "document 7",                      // title-line phrase (unique doc)
      "the the",                         // stopword bigram
      "zzz yyy")                         // no-hit phrase
  }

  /** A segment's positional blocks. */
  private def posBlocks(io: TableIO): Array[PosBlock] = {
    val seg = io.manifest(io.currentVersion().get).segments.head
    spark.read.parquet(s"${io.segmentDir(seg)}/pos").as[PosBlock].collect()
  }

  test("phrase top-k matches the naive oracle") {
    check(root600, Corpus.localRows(N), samplePhrases: _*)
  }

  test("title phrase finds exactly its document") {
    val got = phrase(new IndexReader(spark, root600), "document 7")
    assert(got.length == 1)
    assert(got.head.docId == DocIds.docId(Corpus.url(7L)))
  }

  test("no-hit phrase returns empty") {
    assert(phrase(new IndexReader(spark, root600), "zzz yyy").isEmpty)
  }

  test("a phrase with a term the dict lacks runs no Spark job") {
    val root = root600 // built before the count starts
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val reader = new IndexReader(spark, root)
      assert(phrase(reader, "document zzzznotaword").isEmpty)
      assert(phrase(reader, "zzzznotaword").isEmpty)
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs for a phrase the dict rules out")
  }

  test("positional block roundtrip preserves positions") {
    val toks = graft.analysis.Tokenizer.tokenize(Corpus.text(3))
    val want = toks.zipWithIndex.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).toSeq }
    val docId = DocIds.docId(Corpus.url(3L))
    // reconstruct per-term positions for doc 3 from the segment's pos
    val gotByTerm = posBlocks(io600).flatMap { b =>
      Positional.decodeBlock(b).collect {
        case (d, _, ps) if d == docId => b.term -> ps.toSeq
      }
    }.toMap
    assert(gotByTerm.nonEmpty)
    want.foreach { case (t, ps) =>
      assert(gotByTerm(t) == ps, s"positions mismatch for term $t")
    }
  }

  test("stopword phrase: cursors keep decoded positions O(terms × block)") {
    // two buckets (bucketBits=1, the floor) concentrate the postings: the
    // r3 code would decode BOTH stopword terms' full position lists
    // (~hundreds of thousands of positions) into per-term maps in one
    // task; the cursor intersection must keep only a couple of 128-doc
    // blocks resident
    withBucketBits(1) {
      val big = 12000
      val rows = Corpus.localRows(big)
      val (root, _) = positionalIndex("graft-posbig", rows)
      // total positions of the two stopwords (the memory the old code held)
      val totalPositions = rows.iterator.map(p =>
        graft.analysis.Tokenizer.tokenize(p.text)
          .count(t => t == "the" || t == "of").toLong).sum
      assert(totalPositions > 200000L, s"corpus too small: $totalPositions")
      val reader = new IndexReader(spark, root)
      Phrase.resetResidentTracking()
      val got = phrase(reader, "of the")
      assert(bits(got) == bits(PhraseOracle.topK(rows, "of the", 10)),
        "stopword phrase diverged")
      val resident = Phrase.maxResidentPositions.get()
      assert(resident > 0)
      assert(resident < totalPositions / 20,
        s"cursors held $resident positions resident of $totalPositions " +
          "total — not streaming")
      // match-tuple residency: with bucketBits=1 one bucket holds
      // thousands of "of the" matches, but the scoring path must buffer
      // only its bounded heap + flush run (O(k)), never the bucket's
      // matches (the r4 shape did ms.toArray.sortBy — O(bucket) resident)
      val matchCount = PhraseOracle.topK(rows, "of the", Int.MaxValue).length
      assert(matchCount > 3000, s"corpus too small: $matchCount matches")
      val mres = Phrase.maxResidentMatches.get()
      assert(mres > 0)
      assert(mres <= 2L * 10 + 1,
        s"scoring buffered $mres match tuples of $matchCount — not O(k)")
    }
  }

  test("stopword phrase: compressed working set is O(terms x block)") {
    // the demultiplexed doc-major stream holds at most one pending +
    // one in-flight compressed block per phrase term — NOT the bucket
    // slice the r5 shape materialized (bs.map(_.block).toArray), whose
    // residency scaled 1/2^bucketBits with the index. The bound is now
    // independent of bucket width and corpus size.
    withBucketBits(4) {
      val big = 12000
      val rows = Corpus.localRows(big)
      val (root, io) = positionalIndex("graft-posslice", rows)
      val all = posBlocks(io)
      def sz(b: PosBlock): Long =
        (b.docIdsVB.length + b.tfsVB.length + b.dlsVB.length +
          b.posVB.length).toLong
      val termBytes = all.iterator
        .filter(b => b.term == "of" || b.term == "the").map(sz).sum
      val indexBytes = all.iterator.map(sz).sum
      assert(termBytes > 100000L, s"corpus too small: $termBytes bytes")
      val reader = new IndexReader(spark, root)
      Phrase.resetResidentTracking()
      val got = phrase(reader, "of the")
      assert(bits(got) == bits(PhraseOracle.topK(rows, "of the", 10)),
        "stopword phrase diverged at bucketBits=4")
      val res = Phrase.maxResidentCompressedBytes.get()
      val maxBlock = all.iterator
        .filter(b => b.term == "of" || b.term == "the").map(sz).max
      assert(res > 0)
      // 2 distinct terms x (1 pending + 1 in flight) with 2x headroom
      assert(res <= 8 * maxBlock,
        s"one task held $res compressed bytes vs largest block $maxBlock " +
          "— the demux is buffering more than O(terms x block)")
      assert(res <= termBytes / 8,
        s"one task held $res compressed bytes of the terms' $termBytes — " +
          "worse than even the old 1/2^bits bucket slice")
      assert(res < indexBytes / 20,
        s"one task held $res of the index's $indexBytes compressed bytes")
    }
  }

  test("maintained posindex: purge + sync answered live, gaps refuse") {
    val root = tmpDir("graft-poslsm")
    val io = new TableIO(spark, root)
    val M = 400
    val rows = Corpus.localRows(M)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(M))

    // gaps: a version without positions refuses phrase, and index-pos
    // refuses pages that miss a live doc
    val e = intercept[IllegalStateException] {
      Phrase.topK(new IndexReader(spark, root), "document 7", 10)
    }
    assert(e.getMessage.contains("run index-pos"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      IndexPosJob.run(spark, io, spark.createDataset(rows.filter(urlIdx(_) != 11)))
    }
    assert(e2.getMessage.contains("1 live docs"), e2.getMessage)
    assert(!io.manifest(io.currentVersion().get).positions)
    IndexPosJob.run(spark, io, spark.createDataset(rows))
    check(root, rows, "document 7", "the the")

    // purge docs >= 350: their positions stay in the segment, dead by the
    // tombstones (both from results and from the phrase df)
    val kept = rows.filter(urlIdx(_) < 350)
    PurgeJob.run(spark, io, spark.createDataset(kept), ts(M + 1))
    check(root, kept, "the the", "document 355", "document 7")

    // sync an update (doc 7 rewritten) + 10 new docs: the batch's
    // positions ride in its segment; doc 7's old positions are dead
    val updated = kept.map { p =>
      if (urlIdx(p) == 7)
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(7L + 20L * M)),
          html = Corpus.html(9999L), text = Corpus.text(9999L))
      else p
    }
    val added = Corpus.localRows(M + 10).drop(M).zipWithIndex.map {
      case (p, j) => p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(21L * M + j)))
    }
    val live2 = updated ++ added
    SyncJob.run(spark, io, spark.createDataset(live2), ts(22L * M))
    assert(phrase(new IndexReader(spark, root), "document 7").isEmpty)
    check(root, live2, "document 9999", s"document ${M + 5}", "the the")

    // reconcile: doc 12's source row changed content and warc_ts below
    // the watermark — re-indexed with its new positions
    val live3 = live2.map { p =>
      if (urlIdx(p) == 12)
        p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + 500L),
          html = Corpus.html(7777L), text = Corpus.text(7777L))
      else p
    }
    assert(ReconcileJob.run(spark, io, spark.createDataset(live3), ts(23L * M)).reindexed == 1)
    check(root, live3, "document 7777", "document 12", "the the")
  }

  test("positions follow runMultiTs and in-batch re-crawls") {
    val root = tmpDir("graft-posmulti")
    val io = new TableIO(spark, root)
    def recrawl(p: PageRow, secs: Long, text: String): PageRow =
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + secs * 1000L),
        html = (s"<html><head><title>doc ${urlIdx(p)}</title></head><body><p>" + text +
          "</p></body></html>").getBytes("UTF-8"),
        text = text)
    val base = Corpus.localRows(150)
    // the initial window holds two crawls of url 5: the newer one wins
    val first = base :+ recrawl(base(5), 3600, "refreshed multidupa page")
    SyncJob.runMultiTs(spark, io, spark.createDataset(first).toDF(),
      Seq("warc_ts"), ts(10000))
    IndexPosJob.run(spark, io, spark.createDataset(first))
    val live1 = base.updated(5, first.last)
    check(root, live1, "refreshed multidupa page", "document 5", "the the")
    // a later window: two crawls of url 7, the newest wins
    val newer = recrawl(base(7), 20500, "newer multidupc page")
    SyncJob.runMultiTs(spark, io, spark.createDataset(Seq(
      recrawl(base(7), 20000, "older multidupb page"), newer)).toDF(),
      Seq("warc_ts"), ts(30000))
    check(root, live1.updated(7, newer), "newer multidupc page",
      "older multidupb page", "document 7", "the the")
    // an in-batch re-crawl through the plain sync path
    val again = recrawl(base(9), 40000, "again multidupd page")
    SyncJob.run(spark, io, spark.createDataset(Seq(
      recrawl(base(9), 39000, "first multidupe page"), again)), ts(50000))
    check(root, live1.updated(7, newer).updated(9, again),
      "again multidupd page", "first multidupe page", "document 9")
  }

  test("stale reader: concurrent publish/fold can never double-count") {
    // a reader answers its own snapshot: after a later publish rewrites
    // doc 7 and after a compaction folds the segments, an older reader
    // sees its own version's doc 7 exactly once, never the new content
    val M = 300
    val rows = Corpus.localRows(M)
    val (root, io) = positionalIndex("graft-posstale", rows)
    val stale = new IndexReader(spark, root) // snapshot V1
    val updated = rows.map { p =>
      if (urlIdx(p) == 7)
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(7L + 20L * M)),
          html = Corpus.html(8888L), text = Corpus.text(8888L))
      else p
    }
    SyncJob.run(spark, io, spark.createDataset(updated), ts(22L * M))
    val stale2 = new IndexReader(spark, root) // snapshot V2
    def answers(r: IndexReader, live: Seq[PageRow]): Unit =
      Seq("document 7", "document 8888", "the the").foreach { q =>
        assert(bits(phrase(r, q)) == bits(PhraseOracle.topK(live, q, 10)),
          s"[$q] on version ${r.version}")
      }
    answers(stale, rows)
    answers(stale2, updated)
    // a compaction folds V2's two segments into one
    val added = Corpus.localRows(M + 5).drop(M).zipWithIndex.map {
      case (p, j) => p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(23L * M + j)))
    }
    withProp("graft.compact.segments", "2") {
      SyncJob.run(spark, io, spark.createDataset(updated ++ added), ts(24L * M))
    }
    val fresh = new IndexReader(spark, root)
    assert(fresh.segments.size == 1, s"no compaction: ${fresh.segments}")
    answers(stale, rows)
    answers(stale2, updated)
    answers(fresh, updated ++ added)
  }

  test("posindex deltas auto-fold at the compaction threshold") {
    // each batch's positions ride in its segment; compaction rewrites
    // them with the segment's other dirs, through the tombstones and the
    // batch's overrides, whether a sync or a purge triggers it
    withProp("graft.compact.segments", "3") {
      val M = 200
      var live: Seq[PageRow] = Corpus.localRows(M)
      val (root, io) = positionalIndex("graft-poscompact", live)
      def segs = io.manifest(io.currentVersion().get).segments
      val segCounts = (1 to 5).map { r =>
        // 5 new docs, and doc r re-crawled with new content
        val fresh = Corpus.localRows(M + 5 * r).drop(M + 5 * (r - 1)).zipWithIndex.map {
          case (p, j) => p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(40L * M * r + j)))
        }
        live = live.map { p =>
          if (urlIdx(p) == r) p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(40L * M * r + 10)),
            html = Corpus.html(6000L + r), text = Corpus.text(6000L + r))
          else p
        } ++ fresh
        SyncJob.run(spark, io, spark.createDataset(live), ts(40L * M * r + 20))
        check(root, live, s"document ${6000 + r}", s"document ${M + 5 * r - 2}",
          s"document $r", "the the")
        segs.size
      }
      assert(segCounts.contains(1), s"no sync compaction across 5 batches: $segCounts")
      // grow to the threshold, then a purge compacts
      while (segs.size < 3) {
        val n = live.size
        val fresh = Corpus.localRows(M + 40).drop(n).take(3).zipWithIndex.map {
          case (p, j) => p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(400L * M + 10L * n + j)))
        }
        live = live ++ fresh
        SyncJob.run(spark, io, spark.createDataset(live), ts(400L * M + 10L * n + 5))
      }
      live = live.filterNot(p => urlIdx(p) % 10 == 3)
      PurgeJob.run(spark, io, spark.createDataset(live), ts(500L * M))
      assert(segs.size == 1, s"the purge did not compact: $segs")
      assert(io.manifest(io.currentVersion().get).positions)
      check(root, live, "document 13", "document 14", "document 6002", "the the")
    }
  }
}
