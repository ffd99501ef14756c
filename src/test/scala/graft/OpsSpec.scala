package graft

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.IndexReader
import graft.sources.TableIO
import graft.sync.{Checkpoint, Metrics, SyncJob, Watermark}

/** Operational semantics from the reference's job layer: the 3-strikes
  * error budget (destinationManager.js:30,185-188), multi-resource
  * batches with per-resource resume + mid-batch list-change refusal
  * (downloader.js:93-106), the multi-field nullable watermark
  * (downloader.js:194-243), and checkpoint-log compaction.
  */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))

  /** A re-crawl of `p`, `secs` seconds later, whose body is `text`. */
  private def recrawl(p: PageRow, secs: Long, text: String): PageRow =
    p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + secs * 1000L),
      html = (s"<html><head><title>doc ${p.url.split("/").last}</title></head><body><p>" + text +
        "</p></body></html>").getBytes("UTF-8"),
      text = text)

  test("error budget: 3 recorded failures poison the batch, 4th run refuses") {
    val root = tmpDir("graft-budget")
    val io = new TableIO(spark, root)
    val good = Corpus.pages(spark, 100, 2)
    val poisoned: Dataset[PageRow] = good.map { p =>
      if (p.url.nonEmpty) throw new RuntimeException("poisoned batch")
      p
    }
    val batch = ts(100)
    (1 to 3).foreach { i =>
      intercept[Exception] { SyncJob.run(spark, io, poisoned, batch) }
      assert(Metrics.errorCount(io, Checkpoint.toBatchId(batch),
        SyncJob.Process) == i)
    }
    val e = intercept[IllegalStateException] {
      SyncJob.run(spark, io, good, batch) // even good data: batch is burned
    }
    assert(e.getMessage.contains("refused"))
    // a FRESH batch id is unaffected
    val r = SyncJob.run(spark, io, good, ts(101))
    assert(r.deltaRows == 100)
  }

  test("transient failure retries the stage once before burning a strike") {
    val root = tmpDir("graft-retry")
    val io = new TableIO(spark, root)
    // transient (I/O) error once → retried, succeeds, 0 strikes
    var calls = 0
    val out = Metrics.withBudget(spark, io, "bX", "sync", 0L) {
      calls += 1
      if (calls == 1) throw new java.io.IOException("fs hiccup")
      42
    }
    assert(out == 42 && calls == 2)
    assert(Metrics.errorCount(io, "bX", "sync") == 0)
    // persistent transient error → one retry, then a recorded strike
    var calls2 = 0
    intercept[java.io.IOException] {
      Metrics.withBudget(spark, io, "bY", "sync", 0L) {
        calls2 += 1; throw new java.io.IOException("fs down")
      }
    }
    assert(calls2 == 2)
    assert(Metrics.errorCount(io, "bY", "sync") == 1)
    // non-transient error → NO retry, immediate strike
    var calls3 = 0
    intercept[RuntimeException] {
      Metrics.withBudget(spark, io, "bZ", "sync", 0L) {
        calls3 += 1; throw new RuntimeException("logic bug")
      }
    }
    assert(calls3 == 1)
    assert(Metrics.errorCount(io, "bZ", "sync") == 1)
  }

  test("multi-resource batch: per-resource resume + list-change refusal") {
    val root = tmpDir("graft-multires")
    val io = new TableIO(spark, root)
    val pagesA = Corpus.pages(spark, 120, 2)
    val pagesB = Corpus.pages(spark, 80, 2)
    val poisonedB: Dataset[PageRow] = pagesB.map { p =>
      if (p.url.nonEmpty) throw new RuntimeException("resource B down")
      p
    }
    val batch = ts(200)

    // resource A completes, B fails mid-batch
    intercept[Exception] {
      SyncJob.runBatch(spark, io,
        Seq("listings" -> pagesA, "media" -> poisonedB), batch)
    }
    assert(new TableIO(spark, s"$root/resources/listings")
      .currentVersion().isDefined)

    // changing the resource list mid-batch is the reference's hard error
    val e = intercept[IllegalStateException] {
      SyncJob.runBatch(spark, io,
        Seq("listings" -> pagesA, "openhouses" -> pagesB), batch)
    }
    assert(e.getMessage.contains("changed mid-batch"))

    // same list resumes: A skipped (done flag), B syncs
    val r = SyncJob.runBatch(spark, io,
      Seq("listings" -> pagesA, "media" -> pagesB), batch)
    assert(r.perResource("listings") == 0L)
    assert(r.perResource("media") == 80L)
    val readerB = new IndexReader(spark, s"$root/resources/media")
    assert(readerB.stats.n == 80)
  }

  test("nullable multi-timestamp watermark predicate (P3 full semantics)") {
    def t(i: Int) = new Timestamp(i * 1000L)
    val rows = Seq(
      // (id, ts1, ts2): lo1=t(10), lo2=t(20), batchTs=t(100)
      (1, t(15), Some(t(25))), // ts1 advanced               -> in
      (2, t(5), Some(t(25))),  // only ts2 advanced          -> in
      (3, t(5), Some(t(15))),  // neither advanced           -> out
      (4, t(5), None),         // ts2 null, ts1 stale        -> out
      (5, t(15), None),        // ts2 null, ts1 advanced     -> in (null rule)
      (6, t(200), Some(t(25))),// ts1 beyond batchTs         -> out
      (7, t(15), Some(t(200))) // ts2 beyond batchTs         -> out
    ).toDF("id", "ts1", "ts2")
    val got = rows.filter(Watermark.predicate(
        Map("ts1" -> t(10), "ts2" -> t(20)), t(100), Seq("ts1", "ts2")))
      .select($"id").as[Int].collect().sorted.toSeq
    assert(got == Seq(1, 2, 5))
    // epoch-0 watermark admits rows AT the epoch (>= rule); single-column
    // predicate ignores ts2, so only the ts1-beyond-batchTs row drops
    val epochGot = rows.filter(Watermark.predicate(
        Map.empty, t(100), Seq("ts1")))
      .select($"id").as[Int].collect().sorted.toSeq
    assert(epochGot == Seq(1, 2, 3, 4, 5, 7))
  }

  test("runMultiTs: a row whose SECOND timestamp advanced re-syncs") {
    val root = tmpDir("graft-multits")
    val io = new TableIO(spark, root)
    val n = 300
    def raw(mediaTs: Map[Long, Timestamp]) = {
      val mediaCol =
        if (mediaTs.isEmpty) lit(null).cast("timestamp")
        else coalesce(mediaTs.toSeq.map { case (i, mt) =>
          when(col("idx") === i, lit(mt)) }: _*)
      spark.createDataset(Corpus.localRows(n)).toDF()
        .withColumn("idx", expr("cast(split(url, '/')[4] as long)"))
        .withColumn("media_ts", mediaCol)
        .drop("idx")
    }

    val r1 = SyncJob.runMultiTs(spark, io, raw(Map.empty),
      Seq("warc_ts", "media_ts"), ts(n))
    assert(r1.deltaRows == n)

    // second batch: NO warc_ts moved, but doc #42's media_ts appears —
    // the nullable OR-watermark must pick up exactly that row
    val mt = new Timestamp(Corpus.warcTsMillis(5L * n))
    val r2 = SyncJob.runMultiTs(spark, io, raw(Map(42L -> mt)),
      Seq("warc_ts", "media_ts"), ts(6L * n))
    assert(r2.deltaRows == 1)
    // watermark advanced: re-running the same source selects nothing
    val r3 = SyncJob.runMultiTs(spark, io, raw(Map(42L -> mt)),
      Seq("warc_ts", "media_ts"), ts(7L * n))
    assert(r3.deltaRows == 0)
    // index still oracle-identical over the live rows
    val oracle = new NaiveIndex(Corpus.localRows(n))
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == n)
    assert(reader.stats.avgdl == oracle.avgdl)
  }

  test("runMultiTs: two crawls of one url in a window are indexed once, newest wins") {
    // the initial window (fused dedup) and a later one (adaptive width)
    // each hold two crawls of one url; both reach their segment as one row
    val root = tmpDir("graft-multits-dup")
    val io = new TableIO(spark, root)
    val base = Corpus.localRows(100)
    val r1 = SyncJob.runMultiTs(spark, io, spark.createDataset(
      base :+ recrawl(base(5), 3600, "refreshed multidupa page")).toDF(),
      Seq("warc_ts"), ts(10000))
    assert(r1.deltaRows == 100)
    val r2 = SyncJob.runMultiTs(spark, io, spark.createDataset(Seq(
      recrawl(base(7), 20000, "older multidupb page"),
      recrawl(base(7), 20500, "newer multidupc page"))).toDF(),
      Seq("warc_ts"), ts(30000))
    assert(r2.deltaRows == 1)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == 100)
    def hitsOf(q: String) = reader.topK(q, 5).map(_.docId).toSeq
    assert(hitsOf("multidupa") == Seq(graft.index.DocIds.docId(Corpus.url(5L))))
    assert(hitsOf("multidupc") == Seq(graft.index.DocIds.docId(Corpus.url(7L))))
    assert(hitsOf("multidupb").isEmpty, "the older crawl of one window was indexed")
  }

  test("user endpoint filter (P4) composes before the watermark") {
    val root = tmpDir("graft-p4")
    val io = new TableIO(spark, root)
    val r = SyncJob.run(spark, io, Corpus.pages(spark, 300, 2), ts(300),
      userFilter = Some(col("lang") === "en"))
    val enCount = Corpus.localRows(300).count(_.lang == "en")
    assert(r.deltaRows == enCount && enCount > 0 && enCount < 300)
    assert(new IndexReader(spark, root).stats.n == enCount)
  }

  test("dry run (devnull, S11): stages + validates, publishes nothing") {
    val root = tmpDir("graft-dry")
    val io = new TableIO(spark, root)
    val pages = Corpus.pages(spark, 200, 2)
    val r = SyncJob.run(spark, io, pages, ts(200), dryRun = true)
    assert(r.deltaRows == 200)
    assert(io.currentVersion().isEmpty, "dry run must publish nothing")
    assert(Metrics.errorCount(io, r.batchId, SyncJob.Process) == 0)
    assert(io.readParquet(io.metricsDir)
      .filter(col("result") === "dryrun").count() == 1)
    // the real run of the same batch reuses the staged work and publishes
    val r2 = SyncJob.run(spark, io, pages, ts(200))
    assert(r2.deltaRows == 200)
    assert(new IndexReader(spark, root).stats.n == 200)
  }

  test("in-batch re-crawl of one url: last write wins, indexed once") {
    // a crawl window can deliver the same page twice; the reference's
    // per-record upsert collapses same-key records in batch order
    // (processUpsertBatch, last record wins). Indexing both would put
    // the docId in the segment twice — double BM25 scoring, double
    // phrase df, corrupt doc count.
    val root = tmpDir("graft-dupurl")
    val io = new TableIO(spark, root)
    val M = 100
    val base = Corpus.localRows(M)
    // re-crawl of url(5), one hour later, with new content
    val dup = recrawl(base(5), 3600,
      "refreshed dupwins content for the re crawled page")
    val r = SyncJob.run(spark, io,
      spark.createDataset(base :+ dup), ts(10000))
    assert(r.deltaRows == M, s"expected $M unique docs, got ${r.deltaRows}")
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == M)
    val docId = graft.index.DocIds.docId(Corpus.url(5L))
    val rows = reader.docs.filter(col("docId") === docId).collect()
    assert(rows.length == 1, s"docId appears ${rows.length} times")
    assert(rows.head.getAs[Timestamp]("warc_ts") == dup.warc_ts,
      "older crawl won — last-write-wins violated")
    // the NEW content answers queries; a term unique to it hits the doc
    val hits = reader.topK("dupwins", 5)
    assert(hits.length == 1 && hits.head.docId == docId)
    // ...and the old content's postings are absent (text(5)'s body words
    // are shared grammar, but its df contribution is gone: the doc must
    // not match a phrase from the OLD body)
    assert(reader.topK("zzznothere", 5).isEmpty)
  }

  test("staging without the delta-stats stash is refused; the published version stays") {
    val root = tmpDir("graft-stash")
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, Corpus.pages(spark, 200, 2), ts(200))
    val published = io.currentVersion().get
    // batch 2: stage only (dry run checkpoints the segment stage), then
    // drop the stashed (delta_rows, delta_dl) small files — the staging
    // shape an older build's segment stage left behind
    val win = Corpus.pagesRange(spark, 150, 260, 2)
    val r1 = SyncJob.run(spark, io, win, ts(260), dryRun = true)
    val staging = s"$root/staging/${r1.batchId}"
    io.deleteDir(s"$staging/delta_rows")
    io.deleteDir(s"$staging/delta_dl")
    Seq(true, false).foreach { dryRun =>
      val e = intercept[IllegalStateException] {
        SyncJob.run(spark, io, win, ts(260), dryRun = dryRun)
      }
      assert(e.getMessage.contains(staging) && e.getMessage.contains("delete it"),
        e.getMessage)
    }
    // nothing adopted or published: the old version still answers
    assert(io.currentVersion().contains(published))
    assert(!io.exists(io.segmentDir(r1.batchId)) &&
      !io.exists(io.versionDir(r1.batchId)))
    val reader = new IndexReader(spark, root)
    val oracle = new NaiveIndex(Corpus.localRows(200))
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    assert(reader.topK("document", 10).map(h => (h.docId, h.score)).toSeq ==
      oracle.topK("document", 10).map(h => (h.docId, h.score)).toSeq)
    // the named fix: drop the staging dir, re-sync under a new timestamp
    val cp = new Checkpoint(spark, io)
    assert(cp.oldestUnfinished("sync").contains(r1.batchId))
    io.deleteDir(staging)
    SyncJob.run(spark, io, win, ts(261))
    // the abandoned batch's flags stay, but a newer batch has published
    assert(new Checkpoint(spark, io).oldestUnfinished("sync").isEmpty)
    val fixed = new IndexReader(spark, root)
    val oracle2 = new NaiveIndex(Corpus.localRows(260))
    assert(fixed.stats.n == oracle2.n)
    assert(fixed.topK("document", 10).map(h => (h.docId, h.score)).toSeq ==
      oracle2.topK("document", 10).map(h => (h.docId, h.score)).toSeq)
  }

  test("verify read-model: in_sync flips when the source drifts") {
    val root = tmpDir("graft-verifyq")
    val io = new TableIO(spark, root)
    val pages = Corpus.pages(spark, 150, 2)
    SyncJob.run(spark, io, pages, ts(150))
    val ok = graft.query.StatsQueries.verify(spark, io, pages).head()
    assert(ok.getAs[Long]("src_count") == 150 &&
      ok.getAs[Long]("dest_count") == 150 && ok.getAs[Boolean]("in_sync"))
    // source gains rows the index has not seen -> drift detected
    val drifted = graft.query.StatsQueries
      .verify(spark, io, Corpus.pages(spark, 160, 2)).head()
    assert(drifted.getAs[Long]("dest_count") == 150 &&
      !drifted.getAs[Boolean]("in_sync"))
  }

  test("checkpoint log compacts past the file threshold, flags intact") {
    val root = tmpDir("graft-cplog")
    val io = new TableIO(spark, root)
    val cp = new Checkpoint(spark, io)
    (1 to Checkpoint.CompactAt + 20).foreach { i =>
      cp.markDone(s"b$i", "sync", "pages", "publish")
    }
    // markDone rolled the log up when it crossed the threshold (it runs
    // under the job lock — the pre-lock read path never deletes files);
    // the file count stays bounded and no flag is lost
    val files = new java.io.File(io.checkpointsDir).listFiles()
    assert(files.length <= Checkpoint.CompactAt,
      s"log not compacted: ${files.length} files")
    val cp2 = new Checkpoint(spark, io)
    assert(cp2.isDone("b1", "sync", "pages", "publish"))
    assert(cp2.isDone(s"b${Checkpoint.CompactAt + 20}", "sync", "pages", "publish"))
    // flags survive another reload
    val cp3 = new Checkpoint(spark, io)
    assert(cp3.isDone("b7", "sync", "pages", "publish"))
    assert(cp3.oldestUnfinished("sync").isEmpty)
  }

  test("lastBatches read model: newest-k driver rows per process") {
    val root = tmpDir("graft-lastbatches")
    val io = new TableIO(spark, root)
    val rows = Corpus.localRows(300)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(300))
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(310)), ts(310))
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(320)), ts(320))
    graft.sync.PurgeJob.run(spark, io,
      spark.createDataset(Corpus.localRows(320).filterNot(_.url.endsWith("7"))),
      ts(400))
    val feed = graft.query.StatsQueries.lastBatches(spark, io, k = 2).collect()
    val syncRows = feed.filter(_.getAs[String]("process") == "sync")
    val purgeRows = feed.filter(_.getAs[String]("process") == "purge")
    assert(syncRows.length == 2, s"expected 2 sync rows, got ${syncRows.length}")
    assert(purgeRows.length == 1)
    // newest first, and the newest sync batch is ts(320)'s
    assert(syncRows.head.getAs[String]("batch_id") ==
      Checkpoint.toBatchId(ts(320)))
    assert(syncRows.head.getAs[Long]("rows") == 10)
    assert(syncRows.forall(_.getAs[String]("result") == "success"))
    assert(purgeRows.head.getAs[Long]("rows") == 32)
  }

  test("chunked backfill: per-chunk resume, answers equal one-shot sync") {
    val rows = Corpus.localRows(900)
    // one-shot reference build
    val rootOne = tmpDir("graft-chunk-oneshot")
    SyncJob.run(spark, new TableIO(spark, rootOne),
      spark.createDataset(rows), ts(900))

    // chunked: corpus rows are 1s apart → 300s chunks ≈ 3 batches
    val root = tmpDir("graft-chunked")
    val io = new TableIO(spark, root)
    val results = SyncJob.runChunked(spark, io, spark.createDataset(rows),
      ts(900), chunkMs = 300 * 1000L)
    assert(results.size >= 3, s"expected >=3 chunks, got ${results.size}")
    assert(results.map(_.deltaRows).sum == 900)

    // resume semantics: rerunning the whole chunked backfill is a no-op
    // per chunk (published batches short-circuit — a kill loses at most
    // one chunk)
    val rerun = SyncJob.runChunked(spark, io, spark.createDataset(rows),
      ts(900), chunkMs = 300 * 1000L)
    assert(rerun.map(_.deltaRows).sum == 0, "published chunks must skip")

    // and answers equal the one-shot build exactly
    val got = new graft.query.IndexReader(spark, root)
    val want = new graft.query.IndexReader(spark, rootOne)
    assert(got.stats.n == want.stats.n && got.stats.avgdl == want.stats.avgdl)
    Seq("document", "the of and", "rare07").foreach { q =>
      assert(got.topK(q, 10).toSeq == want.topK(q, 10).toSeq,
        s"'$q' diverged between chunked and one-shot builds")
    }
  }

  test("chunked backfill skips empty interior chunks (in-window gap)") {
    // 200 rows, then a ~half-hour hole, then 200 more: with 300s chunks
    // the hole spans ~5 empty chunks — each would previously publish a
    // full no-op batch (watermark scan, empty segment, manifest, GC)
    val early = Corpus.localRows(200)
    val late = Corpus.localRows(400).drop(200).map { p =>
      val i = p.url.split("/").last.toLong
      p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(i + 2000L)))
    }
    val rows = early ++ late
    val root = tmpDir("graft-chunkgap")
    val io = new TableIO(spark, root)
    val results = SyncJob.runChunked(spark, io, spark.createDataset(rows),
      ts(2500), chunkMs = 300 * 1000L)
    assert(results.map(_.deltaRows).sum == 400)
    assert(results.forall(_.deltaRows > 0),
      s"empty interior chunks published: ${results.map(_.deltaRows)}")
    // 400 rows at 1s intervals in two runs → ~2-3 occupied chunks, never
    // the ~9 a gap-blind arithmetic range would produce
    assert(results.size <= 4, s"too many chunks: ${results.size}")
    // resume behavior unchanged: a rerun is a published no-op
    val rerun = SyncJob.runChunked(spark, io, spark.createDataset(rows),
      ts(2500), chunkMs = 300 * 1000L)
    assert(rerun.map(_.deltaRows).sum == 0)
    // and the result equals a one-shot sync of the same rows
    val rootOne = tmpDir("graft-chunkgap-oneshot")
    SyncJob.run(spark, new TableIO(spark, rootOne),
      spark.createDataset(rows), ts(2500))
    val got = new graft.query.IndexReader(spark, root)
    val want = new graft.query.IndexReader(spark, rootOne)
    assert(got.stats.n == want.stats.n && got.stats.avgdl == want.stats.avgdl)
    assert(got.topK("document", 10).toSeq == want.topK("document", 10).toSeq)
  }

  test("nested last-batches rollup: per-resource + per-partition children") {
    val root = tmpDir("graft-nestedfeed")
    val io = new TableIO(spark, root)
    SyncJob.runBatch(spark, io,
      Seq("listings" -> Corpus.pages(spark, 120, 2),
        "media" -> Corpus.pages(spark, 80, 2)), ts(200))
    SyncJob.runBatch(spark, io,
      Seq("listings" -> Corpus.pages(spark, 140, 2),
        "media" -> Corpus.pages(spark, 80, 2)), ts(240))

    val feed = graft.query.StatsQueries.lastBatchesNested(spark, io, k = 1)
      .collect()
    val syncRows = feed.filter(_.getAs[String]("process") == "sync")
    assert(syncRows.length == 1, s"k=1: one sync batch row, got ${syncRows.length}")
    val row = syncRows.head
    assert(row.getAs[String]("batch_id") == Checkpoint.toBatchId(ts(240)))
    // the newest batch synced +20 listings, +0 media
    assert(row.getAs[Long]("rows") == 20)
    assert(row.getAs[String]("result") == "success")
    val resources = row.getSeq[org.apache.spark.sql.Row](
      row.fieldIndex("resources"))
    assert(resources.map(_.getAs[String]("resource")) ==
      Seq("listings", "media"), "nested per-resource rows, sorted")
    val listings = resources.head
    assert(listings.getAs[Long]("rows") == 20)
    // per-partition lineage rides under each resource row
    val parts = listings.getSeq[org.apache.spark.sql.Row](
      listings.fieldIndex("partitions"))
    assert(parts.nonEmpty, "listings batch must carry partition lineage")
    assert(parts.map(_.getAs[Long]("postings")).sum > 0)
    // media synced 0 rows in the newest batch: driver row present,
    // partition lineage reflects its (possibly empty) delta segment
    val media = resources(1)
    assert(media.getAs[Long]("rows") == 0)
  }

  test("gcVersions: crash leftovers (manifest-less version, in-flight segment) survive") {
    val root = tmpDir("graft-gccrash")
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, Corpus.pages(spark, 100, 2), ts(100))
    SyncJob.run(spark, io, Corpus.pages(spark, 110, 2), ts(110))
    SyncJob.run(spark, io, Corpus.pages(spark, 120, 2), ts(120))
    val published = io.currentVersion().get

    // simulate a batch that crashed mid-merge AFTER adopting its staged
    // segment by rename but BEFORE writing its manifest: a version dir
    // with no manifest + a segment newer than the newest published version
    val crashed = "9999-01-01-T-00-00-00-000Z" // sorts after any real batch
    io.writeSmallFile(s"${io.versionDir(crashed)}/dict/part-0.json", "{}")
    io.writeSmallFile(s"${io.segmentDir(crashed)}/docs/part-0.json", "{}")
    // and an old orphan segment no manifest references (safe to GC)
    io.writeSmallFile(s"${io.segmentDir("1970-orphan")}/docs/p.json", "{}")
    // dict and tombstone chain links follow the segments' discipline: an
    // in-flight link survives, an old orphan link goes
    Seq[String => String](io.dictDir, io.tombsDir).foreach { dir =>
      io.writeSmallFile(s"${dir(crashed)}/part-0.json", "{}")
      io.writeSmallFile(s"${dir("1970-orphan")}/part-0.json", "{}")
    }

    io.gcVersions() // must not throw on the manifest-less version
    assert(io.exists(io.segmentDir(crashed)),
      "in-flight segment (newer than newest published) was GC'd")
    assert(io.exists(io.versionDir(crashed)),
      "manifest-less version dir was GC'd")
    assert(!io.exists(io.segmentDir("1970-orphan")),
      "old unreferenced segment should be GC'd")
    Seq[String => String](io.dictDir, io.tombsDir).foreach { dir =>
      assert(io.exists(dir(crashed)), s"in-flight link ${dir(crashed)} was GC'd")
      assert(!io.exists(dir("1970-orphan")), s"orphan link ${dir("1970-orphan")} survived")
    }
    assert(io.currentVersion().contains(published))
    // the index still reads fine
    assert(new IndexReader(spark, root).stats.n == 120)
  }

  test("lock release verifies ownership: a broken-and-reacquired lock survives") {
    val root = tmpDir("graft-locktok")
    val io = new TableIO(spark, root)
    val releaseA = io.acquireLock("job-a")
    // B observes A's lock as stale (staleMs = -1), breaks it, acquires its own
    val releaseB = io.acquireLock("job-b", staleMs = -1L)
    // A's delayed release must NOT delete B's fresh lock
    releaseA()
    intercept[IllegalStateException] { io.acquireLock("job-c") }
    releaseB()
    io.acquireLock("job-d")()
  }

  test("runMultiTs: crash between publish and promotion does not lose the advance") {
    val root = tmpDir("graft-wmcrash")
    val io = new TableIO(spark, root)
    def raw(n: Long) = Corpus.pages(spark, n, 2)
      .withColumn("photo_ts", col("warc_ts"))
    val r1 = SyncJob.runMultiTs(spark, io, raw(50), Seq("warc_ts", "photo_ts"),
      ts(50))
    assert(r1.deltaRows == 50)
    val promoted = Watermark.read(io)("photo_ts")

    // simulate the crash: publish done, but the staged maxima were never
    // promoted (write a leftover wm-staged file with a newer value)
    val newer = promoted.getTime + 999000L
    io.writeSmallFile(s"$root/wm-staged/${r1.batchId}", s"photo_ts=$newer")
    // re-running the already-published batch promotes the leftovers
    val r2 = SyncJob.runMultiTs(spark, io, raw(50), Seq("warc_ts", "photo_ts"),
      ts(50))
    assert(r2.deltaRows == 0L)
    assert(Watermark.read(io)("photo_ts").getTime == newer,
      "leftover staged watermark was not promoted on re-run")
    assert(!io.exists(s"$root/wm-staged/${r1.batchId}"))
  }
}
