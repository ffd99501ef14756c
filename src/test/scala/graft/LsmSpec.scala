package graft

import java.sql.Timestamp
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.IndexReader
import graft.sources.TableIO
import graft.sync.{Checkpoint, PurgeJob, SyncJob}

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

  test("update-path fwd lookup opens only affected buckets (byte bound)") {
    val root = tmpDir("graft-fwdbuckets")
    val io = new TableIO(spark, root)
    val N = 2000
    val rows = Corpus.localRows(N)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(N))
    val seg1 = io.readManifest(io.currentVersion().get)._1.head
    val fwdBase = s"${io.segmentDir(seg1)}/fwd"

    // the bucketed layout exists: ~2^fwdBucketBits fb= dirs, and the
    // width the initial build used is RECORDED with the segment (readers
    // must never guess it from runtime config)
    val bits = graft.sync.Tables.fwdBitsOf(io, seg1)
    assert(bits == graft.sync.Tables.fwdBucketBits,
      s"initial build must use the configured ceiling, recorded $bits")
    val shift = 64 - bits
    val fbDirs = new java.io.File(fwdBase).listFiles()
      .filter(_.getName.startsWith("fb=")).map(_.getName)
    assert(fbDirs.length > 200, s"expected ~256 fwd buckets, got ${fbDirs.length}")

    // a 0.5% update (10 docs) touches ≤ 10 buckets — the killed lookup's
    // tfs read is bounded by those buckets' bytes, < 10% of fwd
    val updIdx = (0 until 10).map(_ * 97L)
    val affectedIds = updIdx.map(i => graft.index.DocIds.docId(Corpus.url(i)))
    val fbs = affectedIds.map(d => (d >>> shift).toInt).distinct
    val prunedBytes = fbs.map(fb => io.dirBytes(s"$fwdBase/fb=$fb")).sum
    val totalBytes = io.dirBytes(fwdBase)
    assert(prunedBytes < totalBytes / 10,
      s"pruned read $prunedBytes bytes vs $totalBytes total — not O(affected)")

    // the pruned read returns exactly the affected buckets' rows
    val pruned = graft.sync.Tables.readFwdPruned(spark, io, Seq(seg1),
        spark.createDataset(affectedIds).toDF("docId"))
      .select("docId").as[Long].collect().toSet
    val fbSet = fbs.toSet
    val wantIds = rows.map(p => graft.index.DocIds.docId(p.url))
      .filter(d => fbSet((d >>> shift).toInt)).toSet
    assert(pruned == wantIds)
    assert(affectedIds.forall(pruned))

    // the all-buckets shortcut (affectedCount ≥ 4·2^bits) skips the
    // distinct-probe job and reads the whole dir — a correct SUPERSET
    // (readFwdPruned's contract is "contains every affected bucket's
    // rows"; every caller joins against the affected set afterwards)
    val shortcut = graft.sync.Tables.readFwdPruned(spark, io, Seq(seg1),
        spark.createDataset(affectedIds).toDF("docId"),
        affectedCount = 4L << bits)
      .select("docId").as[Long].collect().toSet
    assert(shortcut == rows.map(p => graft.index.DocIds.docId(p.url)).toSet,
      "shortcut read must return the whole segment")
    assert(pruned.subsetOf(shortcut))

    // and the update batch that exercises this path stays exact
    val upd = rows.map { p =>
      val i = p.url.split("/").last.toLong
      if (updIdx.contains(i))
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(i + 10L * N)))
      else p
    }
    SyncJob.run(spark, io, spark.createDataset(upd), ts(11L * N))
    val oracle = new NaiveIndex(upd)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    val got = reader.topK("document", 10).map(h => (h.docId, h.score)).toSeq
    assert(got == oracle.topK("document", 10).map(h => (h.docId, h.score)).toSeq)

    // the 10-doc delta segment adapted to a FLAT fwd layout (a fixed-width
    // 256-dir write costs seconds regardless of rows) — its recorded width
    // is 0 and the mixed-width killed lookup above still pruned seg1
    val segs2 = io.readManifest(io.currentVersion().get)._1
    val deltaSeg = segs2.filterNot(_ == seg1).head
    assert(graft.sync.Tables.fwdBitsOf(io, deltaSeg) == 0,
      "a 10-row delta must not pay a 256-dir bucketed write")

    // the append pre-check (existing-docId probe) is bucket-pruned too:
    // its scan lists ONLY the affected fb= dirs of the corpus-scale
    // segment (plus the tiny flat delta segment, read whole by design) —
    // never every segment's docs/fwd docId column (the last O(corpus)
    // read the r4 append path still had)
    val affDf = spark.createDataset(affectedIds).toDF("docId")
    val pre = graft.sync.Tables.existingAffected(spark, io, segs2, affDf,
      affectedIds.size.toLong)
    val scanFiles = pre.inputFiles.filter(_.contains(s"/fb="))
    assert(scanFiles.nonEmpty, "pre-check lists no bucketed files")
    assert(scanFiles.forall(f => fbSet.exists(fb => f.contains(s"/fb=$fb/"))),
      s"pre-check scans unaffected buckets:\n${scanFiles.mkString("\n")}")
    assert(!pre.inputFiles.exists(_.contains("/docs/")),
      "pre-check must not scan docs dirs")
    // byte bound: the bucketed segment contributes only affected buckets
    val preBytes = fbs.map(fb => io.dirBytes(s"$fwdBase/fb=$fb")).sum +
      io.dirBytes(s"${io.segmentDir(deltaSeg)}/fwd")
    val corpusBytes = segs2.map(s => io.dirBytes(s"${io.segmentDir(s)}/fwd")).sum +
      segs2.map(s => io.dirBytes(s"${io.segmentDir(s)}/docs")).sum
    assert(preBytes < corpusBytes / 10,
      s"pre-check may read $preBytes bytes vs $corpusBytes corpus — not pruned")
    // and the probe is exact: every affected id exists (10 updated docs)
    assert(pre.select("docId").distinct().count() == affectedIds.size.toLong)
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
