package graft

import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.query.IndexReader
import graft.sources.TableIO
import graft.streaming.StreamingSync

/** Structured Streaming sync tests. */
class StreamingMediaSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming sync: AvailableNow drains files into the index, incrementally") {
    val pagesDir = tmpDir("graft-stream-pages")
    val root = tmpDir("graft-stream-idx")
    val cpDir = tmpDir("graft-stream-cp")

    // drop two files, run one tick
    Corpus.pages(spark, 300, 2).write.mode("append").parquet(pagesDir)
    StreamingSync.runAvailableNow(spark, pagesDir, root, cpDir)
    val r1 = new IndexReader(spark, root)
    assert(r1.stats.n == 300)

    // a third file appears; next tick indexes only the new rows
    spark.range(300, 500).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    StreamingSync.runAvailableNow(spark, pagesDir, root, cpDir)
    val r2 = new IndexReader(spark, root)
    assert(r2.stats.n == 500)

    // result equals a one-shot batch build of the same 500 rows
    val oracle = new graft.oracle.NaiveIndex(Corpus.localRows(500))
    val got = r2.topK("the", 10).map(h => (h.docId, h.score)).toSeq
    val want = oracle.topK("the", 10).map(h => (h.docId, h.score)).toSeq
    assert(got == want)
  }

  test("streaming tick with regressed timestamps keeps versions monotone") {
    val pagesDir = tmpDir("graft-regress-pages")
    val root = tmpDir("graft-regress-idx")
    val cpDir = tmpDir("graft-regress-cp")
    val io = new graft.sources.TableIO(spark, root)
    spark.range(0, 200).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    StreamingSync.runAvailableNow(spark, pagesDir, root, cpDir)
    val v1 = io.currentVersion().get

    // a late file RE-DELIVERS old rows (max warc_ts below the published
    // version): without the batchTs clamp this tick would reuse/regress
    // the batchId — duplicate segment ids in the manifest, spurious
    // tombstones, a version id sorting BELOW `current`
    spark.range(0, 50).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    StreamingSync.runAvailableNow(spark, pagesDir, root, cpDir)
    val v2 = io.currentVersion().get
    assert(v2 > v1, s"version must advance monotonically: $v1 -> $v2")
    val (segs, _) = io.readManifest(v2)
    assert(segs.distinct == segs, s"duplicate segment ids: $segs")
    // stale re-delivery is dropped by the watermark (the reference's
    // incremental filter skips stale ModificationTimestamps identically)
    assert(new IndexReader(spark, root).stats.n == 200)
  }

  test("scheduled sync: ProcessingTime ticks index files as they appear") {
    val pagesDir = tmpDir("graft-sched-pages")
    val root = tmpDir("graft-sched-idx")
    val cpDir = tmpDir("graft-sched-cp")
    Corpus.pages(spark, 200, 2).write.mode("append").parquet(pagesDir)
    // a second file lands while the scheduler is running — the next tick
    // must pick it up (the cron-loop behavior, not a one-shot drain)
    val writer = new Thread(() => {
      Thread.sleep(2500)
      spark.range(200, 300).map(i => Corpus.row(i)).write.mode("append")
        .parquet(pagesDir)
    })
    writer.start()
    StreamingSync.runScheduled(spark, pagesDir, root, cpDir, "1 second",
      maxBatches = Some(2))
    writer.join()
    val r = new IndexReader(spark, root)
    assert(r.stats.n == 300, s"scheduler ticks must have indexed all files, n=${r.stats.n}")
  }

  test("stateful dedup-on-ingest: unchanged recrawls emit nothing") {
    val pagesDir = tmpDir("graft-dedupe-pages")
    val cpDir = tmpDir("graft-dedupe-cp")
    val outDir = tmpDir("graft-dedupe-out") + "/survivors"

    // tick 1: 100 fresh pages — all pass through
    spark.range(0, 100).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    StreamingSync.dedupOnIngestOnce(spark, pagesDir, cpDir, outDir)
    assert(spark.read.parquet(outDir).count() == 100)

    // tick 2: recrawl of all 100 with bumped timestamps — 10 changed
    // content, 90 byte-identical — plus 20 brand-new pages
    val recrawl = spark.range(0, 100).map { i =>
      val p = Corpus.row(i)
      val bumped = p.copy(
        warc_ts = new java.sql.Timestamp(Corpus.warcTsMillis(10000 + i)))
      if (i < 10) {
        val newText = bumped.text + "\nrecrawl changed"
        val esc = newText.split("\n", -1).map(l =>
          "<p>" + l.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;") + "</p>").mkString
        bumped.copy(text = newText,
          html = (s"<html><head><title>doc $i</title></head><body>$esc" +
            "</body></html>").getBytes("UTF-8"))
      } else bumped
    }
    recrawl.write.mode("append").parquet(pagesDir)
    spark.range(100, 120).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    StreamingSync.dedupOnIngestOnce(spark, pagesDir, cpDir, outDir)
    // only the 10 changed + 20 new survive; 90 unchanged recrawls dropped
    val all = spark.read.parquet(outDir)
    assert(all.count() == 130, s"expected 130 total survivors, got ${all.count()}")
    assert(all.filter(col("text").contains("recrawl changed")).count() == 10)
  }

  test("dedup state TTL: expired urls re-emit an identical recrawl once") {
    val pagesDir = tmpDir("graft-ttl-pages")
    val cpDir = tmpDir("graft-ttl-cp")
    val outDir = tmpDir("graft-ttl-out") + "/survivors"
    val ttl = 10000L // 10s of EVENT time
    // in-order feed: zero lateness keeps the event-time scale of this
    // test compact (production default lags the watermark 7 days)
    def run(): Unit =
      StreamingSync.dedupOnIngestOnce(spark, pagesDir, cpDir, outDir,
        stateTtlMs = ttl, allowedLateness = "0 seconds")
    def bumped(i: Long, at: Long): PageRow = Corpus.row(i).copy(
      warc_ts = new java.sql.Timestamp(Corpus.warcTsMillis(at)))

    // tick 1: 20 fresh pages (warc_ts ≈ t0..t0+19s); timeouts arm at
    // lastTs + 10s
    spark.range(0, 20).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    run()
    assert(spark.read.parquet(outDir).count() == 20)

    // tick 2: one unrelated far-future page advances the watermark past
    // every armed timeout (watermark updates at end of batch)
    spark.range(1000, 1001).map(i => bumped(i, 50000)).write.mode("append")
      .parquet(pagesDir)
    run()
    assert(spark.read.parquet(outDir).count() == 21)

    // tick 3: another unrelated page; this batch runs with the advanced
    // watermark, so the 20 idle keys time out and drop their state
    spark.range(1001, 1002).map(i => bumped(i, 50001)).write.mode("append")
      .parquet(pagesDir)
    run()
    assert(spark.read.parquet(outDir).count() == 22)

    // tick 4: IDENTICAL recrawl (content unchanged, newer warc_ts) of
    // doc 0 — its state expired, so it must re-emit exactly once
    spark.range(0, 1).map(i => bumped(i, 60000)).write.mode("append")
      .parquet(pagesDir)
    run()
    assert(spark.read.parquet(outDir).count() == 23,
      "expired state must re-emit one identical recrawl")

    // tick 5: an immediate identical recrawl — tick 4 rebuilt the state,
    // so this one dedupes again
    spark.range(0, 1).map(i => bumped(i, 60005)).write.mode("append")
      .parquet(pagesDir)
    run()
    assert(spark.read.parquet(outDir).count() == 23)
  }

  test("dedup-on-ingest: out-of-order page across ticks is processed, not dropped") {
    val pagesDir = tmpDir("graft-ooo-pages")
    val cpDir = tmpDir("graft-ooo-cp")
    val outDir = tmpDir("graft-ooo-out") + "/survivors"
    def run(): Unit = // lateness horizon >> this feed's disorder
      StreamingSync.dedupOnIngestOnce(spark, pagesDir, cpDir, outDir,
        allowedLateness = "1 hour")

    // tick 1: docs 10..20 (warc_ts ≈ t0+10s..t0+19s) set the max event time
    spark.range(10, 20).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    run()
    assert(spark.read.parquet(outDir).count() == 10)

    // tick 2: doc 0 arrives LATE (warc_ts below tick 1's max). A 0-second
    // watermark would drop it before the dedup function ran — silent data
    // loss; within the lateness horizon it must be emitted as a new url.
    spark.range(0, 1).map(i => Corpus.row(i)).write.mode("append")
      .parquet(pagesDir)
    run()
    assert(spark.read.parquet(outDir).count() == 11,
      "late page within the lateness horizon must be ingested")
  }

  test("streaming watermarked window aggregation over pages") {
    val pagesDir = tmpDir("graft-streamw-pages")
    val cpDir = tmpDir("graft-streamw-cp")
    Corpus.pages(spark, 400, 2).write.mode("append").parquet(pagesDir)
    val res = StreamingSync.pagesPerWindowOnce(spark, pagesDir, cpDir)
    // corpus rows are 1s apart → 400 rows span ~7 one-minute windows;
    // watermark closes all but the last
    val rows = res.collect()
    assert(rows.length >= 4) // watermark holds back the last ~2 windows
    assert(rows.map(_.getAs[Long]("pages")).sum <= 400)
    rows.foreach(r => assert(r.getAs[Long]("pages") <= 60))
  }
}
