package graft

import java.sql.Timestamp
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.IndexReader
import graft.sources.TableIO
import graft.sync.{Checkpoint, PurgeJob, SyncJob, Tables}
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.vectorized.ColumnarBatch
import scala.jdk.CollectionConverters._

/** LSM storage-layer guarantees: incremental syncs write O(delta) bytes
  * (the scale property the reference gets from Solr/Lucene segment adds —
  * a 1% delta must not rewrite the index), purges write no segment data,
  * re-adds resurrect purged docs, and compaction folds the manifest back
  * to one segment without changing any answer.
  */
class LsmSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))

  test("incremental sync writes O(delta) bytes, never O(index)") {
    val root = tmpDir("graft-odelta")
    val io = new TableIO(spark, root)
    val N = 8000L
    SyncJob.run(spark, io, Corpus.pages(spark, N, 8), ts(N))
    val baseBytes = io.dirBytes(s"$root/segments")
    val baseSeg = io.readManifest(io.currentVersion().get)._1.head

    // +1% new docs: the delta segment + version metadata are the ONLY new
    // bytes; existing segment files are adopted by reference, not copied
    val delta = N / 100
    val b2 = ts(N + delta)
    SyncJob.run(spark, io, Corpus.pages(spark, N + delta, 8), b2)
    val batchId = Checkpoint.toBatchId(b2)
    val newSegBytes = io.dirBytes(io.segmentDir(batchId))
    val verBytes = io.dirBytes(io.versionDir(batchId))
    assert(newSegBytes + verBytes < baseBytes / 5,
      s"incremental sync wrote ${newSegBytes + verBytes} bytes vs " +
        s"$baseBytes base — not O(delta)")
    // the base segment is shared between versions, byte-identical
    assert(io.dirBytes(io.segmentDir(baseSeg)) > 0)
    val (segs, _) = io.readManifest(io.currentVersion().get)
    assert(segs.contains(baseSeg) && segs.contains(batchId))

    // and the result is still exact
    val rows = Corpus.localRows((N + delta).toInt)
    val oracle = new NaiveIndex(rows)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    Seq("w0003 document", "rare07", "the of and").foreach { q =>
      val got = reader.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      val want = oracle.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      assert(got.nonEmpty && got == want, s"'$q' diverged")
    }
  }

  test("purge appends tombstones only — no segment rewrite, no new segment") {
    val root = tmpDir("graft-purge-odelta")
    val io = new TableIO(spark, root)
    val N = 2000L
    SyncJob.run(spark, io, Corpus.pages(spark, N, 4), ts(N))
    val segsBefore = io.readManifest(io.currentVersion().get)._1
    val segBytesBefore = io.dirBytes(s"$root/segments")

    val keep = Corpus.localRows(N.toInt).filterNot(_.url.endsWith("7"))
    val r = PurgeJob.run(spark, io, spark.createDataset(keep), ts(3 * N))
    assert(r.purged == 200)

    val ver = io.currentVersion().get
    val (segsAfter, tombCount) = io.readManifest(ver)
    assert(segsAfter == segsBefore, "purge must not add or drop segments")
    assert(tombCount == 200)
    assert(io.dirBytes(s"$root/segments") == segBytesBefore,
      "purge rewrote segment data")

    val oracle = new NaiveIndex(keep)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    val got = reader.topK("document", 10).map(h => (h.docId, h.score)).toSeq
    assert(got == oracle.topK("document", 10).map(h => (h.docId, h.score)).toSeq)
  }

  test("tombstone chain: appends write O(batch) tombstone bytes, " +
      "precedence folds across links") {
    val root = tmpDir("graft-tombchain")
    val io = new TableIO(spark, root)
    val N = 2000L
    val rows = Corpus.localRows(N.toInt)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(N))

    // purge the urls ending in 7 → first chain link (200 rows)
    val keep = rows.filterNot(_.url.endsWith("7"))
    PurgeJob.run(spark, io, spark.createDataset(keep), ts(3 * N))
    val purgeBatch = io.currentVersion().get
    assert(io.manifest(purgeBatch).tombChain == Seq(purgeBatch))
    val link1Rows = spark.read.parquet(io.tombsDir(purgeBatch)).count()
    assert(link1Rows == 200)

    // a 10-doc update batch (urls 0..9; doc/7 is a REVIVE across links):
    // the new chain link holds exactly this batch's rows — the folded
    // set is never rewritten (the former layout wrote all 200+ rows
    // again per batch; at the absolute cap that is O(10M) per append)
    val upd = rows.take(10).map(p =>
      p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(10 * N))))
    SyncJob.run(spark, io, spark.createDataset(upd), ts(10 * N + 1))
    val updBatch = io.currentVersion().get
    assert(io.manifest(updBatch).tombChain == Seq(purgeBatch, updBatch))
    val link2 = spark.read.parquet(io.tombsDir(updBatch))
    assert(link2.count() == 10, "chain link is not O(batch)")
    assert(!io.exists(s"${io.versionDir(updBatch)}/tombstones"),
      "append still wrote a full tombstone set into the version dir")
    // folded count: 200 old + 10 new − 1 overlap (doc/7 revived)
    assert(io.readManifest(updBatch)._2 == 209)

    // answers: doc/7 is live again (its newer link row overrides the
    // purge sentinel), the other ending-in-7 docs stay dead
    val finalRows = rows.map(p =>
      if (upd.exists(_.url == p.url))
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(10 * N))) else p)
      .filter(p => !p.url.endsWith("7") || p.url == Corpus.url(7L))
    val oracle = new NaiveIndex(finalRows)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    val got = reader.topK("document", 15).map(h => (h.docId, h.score)).toSeq
    assert(got == oracle.topK("document", 15).map(h => (h.docId, h.score)).toSeq)
    val doc7 = graft.index.DocIds.docId(Corpus.url(7L))
    assert(reader.docs.filter($"docId" === doc7).count() == 1,
      "revive row did not override the purge sentinel across links")
  }

  test("re-add after purge resurrects the doc (tombstone override)") {
    val root = tmpDir("graft-readd")
    val io = new TableIO(spark, root)
    val N = 500L
    val rows = Corpus.localRows(N.toInt)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(N))

    // purge doc #7, then re-add it with a fresh timestamp
    val dropped = rows.filterNot(_.url == Corpus.url(7L))
    PurgeJob.run(spark, io, spark.createDataset(dropped), ts(N + 1))
    assert(new IndexReader(spark, root).stats.n == N - 1)

    val readd = rows.map(p =>
      if (p.url == Corpus.url(7L))
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(10 * N))) else p)
    SyncJob.run(spark, io, spark.createDataset(readd), ts(10 * N))

    val oracle = new NaiveIndex(readd)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == N)
    assert(reader.stats.avgdl == oracle.avgdl)
    val doc7 = graft.index.DocIds.docId(Corpus.url(7L))
    assert(reader.docs.filter($"docId" === doc7).count() == 1)
    val got = reader.topK("document", 20).map(h => (h.docId, h.score)).toSeq
    assert(got == oracle.topK("document", 20).map(h => (h.docId, h.score)).toSeq)
  }

  test("compaction folds the manifest to one segment, answers unchanged") {
    val prev = sys.props.get("graft.compact.segments")
    sys.props("graft.compact.segments") = "3"
    try {
      val root = tmpDir("graft-compact")
      val io = new TableIO(spark, root)
      val N = 600L
      // three appends → threshold hit on the fourth sync
      SyncJob.run(spark, io, Corpus.pages(spark, N, 4), ts(N))
      SyncJob.run(spark, io, Corpus.pages(spark, N + 50, 4), ts(N + 50))
      SyncJob.run(spark, io, Corpus.pages(spark, N + 100, 4), ts(N + 100))
      assert(io.readManifest(io.currentVersion().get)._1.size == 3)

      val b4 = ts(N + 150)
      SyncJob.run(spark, io, Corpus.pages(spark, N + 150, 4), b4)
      val (segs, tombs) = io.readManifest(io.currentVersion().get)
      assert(segs == Seq(Checkpoint.toBatchId(b4)), s"expected 1 segment, got $segs")
      assert(tombs == 0)

      val oracle = new NaiveIndex(Corpus.localRows((N + 150).toInt))
      val reader = new IndexReader(spark, root)
      assert(reader.stats.n == oracle.n)
      assert(reader.stats.avgdl == oracle.avgdl)
      Seq("w0003 document", "document", "rare07").foreach { q =>
        val got = reader.topK(q, 10).map(h => (h.docId, h.score)).toSeq
        assert(got == oracle.topK(q, 10).map(h => (h.docId, h.score)).toSeq,
          s"post-compaction divergence on '$q'")
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.compact.segments") = v
        case None => sys.props.remove("graft.compact.segments")
      }
    }
  }

  test("tombstone-ratio trigger: purge-heavy workloads compact eventually") {
    val root = tmpDir("graft-tombratio")
    val io = new TableIO(spark, root)
    val N = 500
    val rows = Corpus.localRows(N)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(N))

    // three shrinking purges; no segment is ever added, so only the
    // tombstone-ratio rule can trigger the fold
    def keepUnder(limit: Int) = rows.filter(_.url.split("/").last.toInt < limit)
    PurgeJob.run(spark, io, spark.createDataset(keepUnder(440)), ts(N + 1))
    PurgeJob.run(spark, io, spark.createDataset(keepUnder(380)), ts(N + 2))
    assert(io.readManifest(io.currentVersion().get)._2 == 120) // still appending
    PurgeJob.run(spark, io, spark.createDataset(keepUnder(320)), ts(N + 3))
    val (segs, tombs) = io.readManifest(io.currentVersion().get)
    assert(segs.size == 1 && tombs == 0,
      s"expected compaction at high tombstone ratio, got $segs / $tombs")

    val live = keepUnder(320)
    val oracle = new NaiveIndex(live)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    val got = reader.topK("document", 10).map(h => (h.docId, h.score)).toSeq
    assert(got == oracle.topK("document", 10).map(h => (h.docId, h.score)).toSeq)
  }

  test("absolute tombstone cap forces compaction below the n/5 ratio") {
    val prev = sys.props.get("graft.tombstones.max")
    sys.props("graft.tombstones.max") = "50"
    try {
      val root = tmpDir("graft-tombcap")
      val io = new TableIO(spark, root)
      val N = 500
      val rows = Corpus.localRows(N)
      SyncJob.run(spark, io, spark.createDataset(rows), ts(N))
      def keepUnder(limit: Int) = rows.filter(_.url.split("/").last.toInt < limit)
      // purge 60 docs: 12% of the corpus — below the n/5 ratio trigger,
      // past the absolute row cap
      PurgeJob.run(spark, io, spark.createDataset(keepUnder(440)), ts(N + 1))
      assert(io.readManifest(io.currentVersion().get)._2 == 60)
      // the next batch sees 60 > 50 and must fold
      PurgeJob.run(spark, io, spark.createDataset(keepUnder(435)), ts(N + 2))
      val (segs, tombs) = io.readManifest(io.currentVersion().get)
      assert(segs.size == 1 && tombs == 0,
        s"absolute cap did not force compaction: $segs / $tombs")
      val live = keepUnder(435)
      val oracle = new NaiveIndex(live)
      val reader = new IndexReader(spark, root)
      assert(reader.stats.n == oracle.n)
      val got = reader.topK("document", 10).map(h => (h.docId, h.score)).toSeq
      assert(got == oracle.topK("document", 10).map(h => (h.docId, h.score)).toSeq)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.tombstones.max") = v
        case None => sys.props.remove("graft.tombstones.max")
      }
    }
  }

  // broadcastMax=0 forces EVERY size-adapted broadcast to the shuffle-join
  // path: the read-side dead checks (docs anti-join, per-bucket cogroup in
  // topK) AND the write-side delta-id sets (appendVersion's affected /
  // newTombRows, compactVersion's overridden, via Tables.maybeBroadcast) —
  // the update, purge, and compaction below all run with zero driver-side
  // id sets, and every answer must still match the oracle.
  test("distributed dead-check (broadcastMax=0): join/cogroup == oracle") {
    val prevBc = sys.props.get("graft.tombstones.broadcastMax")
    val prevSeg = sys.props.get("graft.compact.segments")
    sys.props("graft.tombstones.broadcastMax") = "0"
    sys.props("graft.compact.segments") = "99" // keep segments until we choose
    def urlIdx(p: PageRow): Int = p.url.split("/").last.toInt
    try {
      val root = tmpDir("graft-deadjoin")
      val io = new TableIO(spark, root)
      val N = 500
      val rows = Corpus.localRows(N)
      SyncJob.run(spark, io, spark.createDataset(rows), ts(N))
      // purge docs [440, 500): 60 tombstones (below the n/5 ratio)
      PurgeJob.run(spark, io,
        spark.createDataset(rows.filter(urlIdx(_) < 440)), ts(N + 1))
      // update docs [0, 50): 50 more tombstones via the (non-broadcast)
      // killed lookup; postings replaced in a second segment
      val upd = rows.map(p =>
        if (urlIdx(p) < 50)
          p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(urlIdx(p) + 10L * N)))
        else p)
      SyncJob.run(spark, io,
        spark.createDataset(upd.filter(urlIdx(_) < 440)), ts(11L * N))

      val live = upd.filter(urlIdx(_) < 440)
      val oracle = new NaiveIndex(live)
      val reader = new IndexReader(spark, root)
      assert(reader.deadDistributed && reader.dead.isEmpty,
        "broadcastMax=0 must force the distributed dead paths")
      assert(reader.docs.count() == oracle.n)
      assert(reader.stats.n == oracle.n)
      assert(reader.stats.avgdl == oracle.avgdl)
      // small query (would be driver-local) and a stopword-scale one —
      // both must route through the per-bucket cogroup and stay exact,
      // as must the whole 20-query reference set
      val probes = Seq("rare07 document", "the of and", "w0003 w0007") ++
        graft.query.QuerySet.all.map(_._2)
      probes.distinct.foreach { q =>
        val got = reader.topK(q, 10).map(h => (h.docId, h.score)).toSeq
        val want = oracle.topK(q, 10).map(h => (h.docId, h.score)).toSeq
        assert(got == want, s"'$q' diverged on the distributed dead path")
      }

      // compaction through the join paths (useDeadMap=false): fold with
      // 150 tombstones present, answers unchanged
      sys.props("graft.compact.segments") = "2"
      val upd2 = upd.map(p =>
        if (urlIdx(p) >= 50 && urlIdx(p) < 60)
          p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(urlIdx(p) + 20L * N)))
        else p)
      SyncJob.run(spark, io,
        spark.createDataset(upd2.filter(urlIdx(_) < 440)), ts(21L * N))
      val (segs, tombs) = io.readManifest(io.currentVersion().get)
      assert(segs.size == 1 && tombs == 0, s"expected compaction: $segs / $tombs")
      val live2 = upd2.filter(urlIdx(_) < 440)
      val oracle2 = new NaiveIndex(live2)
      val reader2 = new IndexReader(spark, root)
      assert(reader2.stats.n == oracle2.n)
      assert(reader2.stats.avgdl == oracle2.avgdl)
      val got2 = reader2.topK("document", 10).map(h => (h.docId, h.score)).toSeq
      assert(got2 == oracle2.topK("document", 10).map(h => (h.docId, h.score)).toSeq)
    } finally {
      prevBc match {
        case Some(v) => sys.props("graft.tombstones.broadcastMax") = v
        case None => sys.props.remove("graft.tombstones.broadcastMax")
      }
      prevSeg match {
        case Some(v) => sys.props("graft.compact.segments") = v
        case None => sys.props.remove("graft.compact.segments")
      }
    }
  }

  test("update-path fwd lookup reads only the affected docIds' pages (row bound)") {
    val root = tmpDir("graft-fwdpages")
    // records every driver read's paths: the killed lookup must read the
    // old segments' fwd only, never a docs dir
    val io = new ReadRecordingIO(spark, root)
    val reads = io.reads
    val N = 2000
    val rows = Corpus.localRows(N)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(N))
    val seg1 = io.readManifest(io.currentVersion().get)._1.head
    val fwdBase = s"${io.segmentDir(seg1)}/fwd"

    // the flat layout: part files sorted by docId, no fb= dirs, no width
    // recording
    val enc = ExpressionEncoder[Tables.FwdRow]().resolveAndBind()
    val entries = new java.io.File(fwdBase).listFiles().toSeq
    assert(!entries.exists(_.isDirectory) && !entries.exists(_.getName == "_fwd_bits"),
      entries.map(_.getName).mkString(", "))
    entries.filter(_.getName.endsWith(".parquet")).foreach { f =>
      val ids = io.readLocal(Seq(f.getPath), enc)().get.map(_.docId).toSeq
      assert(ids.nonEmpty && ids == ids.sorted, s"${f.getName} unsorted")
    }

    // a 0.5% update (10 docs): the read with their docIds pushed yields
    // < 10% of fwd's rows to the per-row test
    val updIdx = (0 until 10).map(_ * 97L)
    val affectedIds = updIdx.map(i => graft.index.DocIds.docId(Corpus.url(i)))
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val (pushed, inIds) = TableIO.longIn("docId", enc.schema.fieldIndex("docId"), affectedIds)
    val got = io.readLocal(Seq(fwdBase), enc, Some(pushed)) { batch =>
      val keep = inIds(batch)
      i => { seen.incrementAndGet(); keep(i) }
    }.get
    assert(got.map(_.docId).sorted.toSeq == affectedIds.sorted)
    assert(seen.get < N / 10, s"pushed read yielded ${seen.get} of $N rows — not O(affected)")

    // the killed lookup returns those rows, reading only fwd
    reads.clear()
    val killed = Tables.killedRows(io, Tables.loadCurrent(spark, io).get, affectedIds).get
    assert(killed.map(_.docId).sorted == affectedIds.sorted)
    assert(reads.asScala.forall(_ == fwdBase), s"killed lookup read ${reads.asScala.mkString(", ")}")

    // and the update batch that exercises this path stays exact
    val upd = rows.map { p =>
      val i = p.url.split("/").last.toLong
      if (updIdx.contains(i))
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(i + 10L * N)))
      else p
    }
    reads.clear()
    SyncJob.run(spark, io, spark.createDataset(upd), ts(11L * N))
    val deltaDocs = s"${io.segmentDir(Checkpoint.toBatchId(ts(11L * N)))}/docs"
    assert(!reads.asScala.exists(p => p.endsWith("/docs") && p != deltaDocs),
      s"the sync read an old segment's docs on the driver: ${reads.asScala.mkString(", ")}")
    val oracle = new NaiveIndex(upd)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    val got2 = reader.topK("document", 10).map(h => (h.docId, h.score)).toSeq
    assert(got2 == oracle.topK("document", 10).map(h => (h.docId, h.score)).toSeq)
    // the 10 re-crawled docs' older rows are tombstoned
    assert(Tables.loadCurrent(spark, io).get.dead.keySet == affectedIds.toSet)
  }

  /** A version's folded dict (term → (df, cf)), (n, sumDl) and folded
    * tombstones (docId → before).
    */
  private def lsmState(root: String) = {
    val io = new TableIO(spark, root)
    val t = Tables.loadCurrent(spark, io).get
    (Tables.dictView(spark, io, t.dictChain).as[DictRow].collect()
      .map(r => r.term -> ((r.df, r.cf))).toMap,
      (t.stats.n, t.stats.sumDl),
      Tables.tombstonesView(spark, io, t.tombChain).collect().map(x => x.docId -> x.before).toMap)
  }

  private def idx(p: PageRow): Long = p.url.split("/").last.toLong

  /** Page `p` crawled again `shift` rows later, with another page's text. */
  private def recrawl(p: PageRow, shift: Long): PageRow =
    Corpus.row(idx(p) + 1000000L).copy(url = p.url, warc_ts = ts(idx(p) + shift))

  test("killed side: broadcastMax=0 gives the driver path's dict, stats and tombstones") {
    // a 600-doc build, a 10-doc purge, then one batch of 59 re-crawls, 5
    // re-adds of purged docs and 40 new docs: the driver path, and with
    // the tombstone set distributed the Spark join
    def history(root: String): Unit = {
      val io = new TableIO(spark, root)
      val rows = Corpus.localRows(600)
      SyncJob.run(spark, io, spark.createDataset(rows), ts(600))
      val kept = rows.filter(idx(_) < 590)
      PurgeJob.run(spark, io, spark.createDataset(kept), ts(601))
      val upd = kept.map(p => if (idx(p) % 10 == 0) recrawl(p, 2000) else p) ++
        rows.slice(590, 595) ++ Corpus.localRows(640).drop(600)
      SyncJob.run(spark, io, spark.createDataset(upd), ts(3000))
    }
    val driver = tmpDir("graft-killed-driver")
    history(driver)
    val dist = tmpDir("graft-killed-dist")
    val prev = sys.props.get("graft.tombstones.broadcastMax")
    sys.props("graft.tombstones.broadcastMax") = "0"
    try history(dist)
    finally prev match {
      case Some(v) => sys.props("graft.tombstones.broadcastMax") = v
      case None => sys.props.remove("graft.tombstones.broadcastMax")
    }
    val want = lsmState(driver)
    // 59 re-crawls, 5 softened purge rows, 5 purge rows kept
    assert(want._3.size == 69 && want._3.values.count(_ == Tables.PurgeSentinel) == 5)
    assert(lsmState(dist) == want)
  }

  test("killed side past the driver budget: dict and stats equal a fresh build's") {
    val n = 2500
    val root = tmpDir("graft-killed-big")
    val io = new TableIO(spark, root)
    val rows = Corpus.localRows(n)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(n))
    // every doc re-crawled plus 1,700 new: more affected docIds than the
    // driver lookup takes
    val upd = rows.map(recrawl(_, 10L * n)) ++ Corpus.localRows(n + 1700).drop(n)
    assert(upd.size > Tables.KilledLocalMax)
    val batch = ts(20L * n)
    SyncJob.run(spark, io, spark.createDataset(upd), batch)
    val fresh = tmpDir("graft-killed-fresh")
    SyncJob.run(spark, new TableIO(spark, fresh), spark.createDataset(upd), batch)
    val (dict, stats, tombs) = lsmState(root)
    val (freshDict, freshStats, _) = lsmState(fresh)
    assert(stats == freshStats && dict == freshDict)
    assert(tombs == rows.map(p => graft.index.DocIds.docId(p.url) -> Checkpoint.toBatchId(batch)).toMap)
  }

  test("query with a dict-dead term (df hit 0 under churn) must not crash") {
    // regression: appendVersion drops a term from the dict when its df
    // reaches 0, but its dead postings stay physically in the old
    // segment's files until compaction. A multi-term query containing
    // such a term used to surface its blocks (same parquet files as a
    // live term) and crash Wand on the missing idf key.
    def page(u: String, tsMs: Long, text: String): PageRow = PageRow(
      u, new Timestamp(tsMs),
      s"<html><head></head><body><p>$text</p></body></html>"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      text, "en")
    val root = tmpDir("graft-deadterm")
    val io = new TableIO(spark, root)
    val t1 = 1704067200000L
    val a1 = page("http://x.test/a", t1, "unicorn shared words here")
    val b1 = page("http://x.test/b", t1 + 1, "shared words common stuff")
    SyncJob.run(spark, io, spark.createDataset(Seq(a1, b1)),
      new Timestamp(t1 + 10))
    // update A so 'unicorn' leaves the corpus: df(unicorn) -> 0, dict row
    // filtered out, dead posting still in segment 1's files
    val a2 = page("http://x.test/a", t1 + 1000, "shared words replaced entirely")
    SyncJob.run(spark, io, spark.createDataset(Seq(a2, b1)),
      new Timestamp(t1 + 2000))

    val reader = new IndexReader(spark, root)
    val live = Seq(a2, b1)
    val oracle = new NaiveIndex(live)
    Seq("unicorn shared", "unicorn", "unicorn shared words").foreach { q =>
      val got = reader.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      val want = oracle.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"'$q' diverged after term death")
    }
  }

  test("dict chain: signed deltas fold to the exact oracle dict under churn") {
    val prev = sys.props.get("graft.compact.segments")
    sys.props("graft.compact.segments") = "99" // keep the chain unfolded
    try {
      val root = tmpDir("graft-dictchain")
      val io = new TableIO(spark, root)
      val N = 400
      val rows = Corpus.localRows(N)
      def urlIdx(p: PageRow): Int = p.url.split("/").last.toInt
      SyncJob.run(spark, io, spark.createDataset(rows), ts(N))
      // churn: update 30 docs, purge 40, append 20 new — three delta links
      val upd = rows.map(p =>
        if (urlIdx(p) < 30)
          p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(urlIdx(p) + 10L * N)))
        else p)
      SyncJob.run(spark, io, spark.createDataset(upd), ts(11L * N))
      val kept = upd.filter(urlIdx(_) < 360)
      PurgeJob.run(spark, io, spark.createDataset(kept), ts(12L * N))
      // fresh timestamps: appended docs must sit above the watermark
      val extended = kept ++ Corpus.localRows(N + 20).drop(N)
        .zipWithIndex.map { case (p, j) =>
          p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(12L * N + j + 1)))
        }
      SyncJob.run(spark, io, spark.createDataset(extended), ts(13L * N))

      val ver = io.currentVersion().get
      val chain = io.manifest(ver).dictChain
      assert(chain.size == 4, s"expected 1 full + 3 delta links, got $chain")

      // the folded view must equal the oracle dict over LIVE docs exactly
      val oracle = new NaiveIndex(extended)
      val got = graft.sync.Tables.dictView(spark, io, chain)
        .select($"term", $"df", $"cf").as[(String, Long, Long)]
        .collect().map(t => t._1 -> ((t._2, t._3))).toMap
      val want = oracle.postings.keySet.map(t =>
        t -> ((oracle.df(t), oracle.cf(t)))).toMap
      assert(got == want, {
        val onlyGot = got.keySet -- want.keySet
        val onlyWant = want.keySet -- got.keySet
        val diff = got.keySet.intersect(want.keySet)
          .filter(t => got(t) != want(t)).take(5)
        s"dict diverged: extra=$onlyGot missing=$onlyWant drifted=" +
          diff.map(t => s"$t got=${got(t)} want=${want(t)}").mkString(",")
      })

      // and the next sync (threshold back to normal) folds the chain
      sys.props("graft.compact.segments") = "3"
      SyncJob.run(spark, io,
        spark.createDataset(extended ++ Corpus.localRows(N + 30).drop(N + 20)
          .zipWithIndex.map { case (p, j) =>
            p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(13L * N + j + 1)))
          }),
        ts(14L * N))
      val chain2 = io.manifest(io.currentVersion().get).dictChain
      assert(chain2.size == 1, s"compaction must fold the chain, got $chain2")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.compact.segments") = v
        case None => sys.props.remove("graft.compact.segments")
      }
    }
  }

  test("single-flight: a held lock refuses a second job, stale locks break") {
    val root = tmpDir("graft-lock")
    val io = new TableIO(spark, root)
    val release = io.acquireLock("job-a")
    intercept[IllegalStateException] { io.acquireLock("job-b") }
    release()
    val release2 = io.acquireLock("job-c")
    release2()
  }
}

/** A [[TableIO]] that records the paths of every driver read. */
class ReadRecordingIO(spark: org.apache.spark.sql.SparkSession, root: String)
    extends TableIO(spark, root) {
  val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def readLocal[T](paths: Seq[String], enc: ExpressionEncoder[T],
                            pushed: Option[FilterPredicate], max: Int)
                           (keep: ColumnarBatch => Int => Boolean): Option[Array[T]] = {
    paths.foreach(reads.add)
    super.readLocal(paths, enc, pushed, max)(keep)
  }
}
