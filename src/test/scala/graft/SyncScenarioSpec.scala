package graft

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.{IndexReader, QuerySet}
import graft.sources.TableIO
import graft.sync.{Checkpoint, PurgeJob, ReconcileJob, SyncJob}

/** Replication-semantics scenarios (FIXTURES.md §8), mirroring the
  * reference's integration tests (tests/integration/lib/stats/sync.test.js
  * staged-batch + devnull runs; purge.test.js; the forced-error resume
  * path sync.test.js:153-199).
  */
class SyncScenarioSpec extends SparkTestBase {
  import spark.implicits._

  val N = 1000

  private def ts(i: Long): Timestamp = new Timestamp(Corpus.warcTsMillis(i))

  private def assertIndexMatches(root: String, pages: Seq[PageRow]): Unit = {
    val oracle = new NaiveIndex(pages)
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == oracle.n)
    assert(reader.stats.avgdl == oracle.avgdl)
    QuerySet.all.take(10).foreach { case (name, q) =>
      val got = reader.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      val want = oracle.topK(q, 10).map(h => (h.docId, h.score)).toSeq
      assert(got == want, s"$name diverged from oracle")
    }
  }

  test("incremental sync: 3 batches == full rebuild at each step") {
    val root = tmpDir("graft-sync3")
    val io = new TableIO(spark, root)
    val all = Corpus.pages(spark, N, 4).persist()

    // batch windows by warc_ts: rows 0-599, 600-899, 900-999
    val b1 = ts(599); val b2 = ts(899); val b3 = ts(999)
    val r1 = SyncJob.run(spark, io, all.filter($"warc_ts" <= lit2(b1)), b1)
    assert(r1.deltaRows == 600)
    assertIndexMatches(root, Corpus.localRows(600))

    val r2 = SyncJob.run(spark, io, all.filter($"warc_ts" <= lit2(b2)), b2)
    assert(r2.deltaRows == 300)
    assertIndexMatches(root, Corpus.localRows(900))

    val r3 = SyncJob.run(spark, io, all, b3)
    assert(r3.deltaRows == 100)
    assertIndexMatches(root, Corpus.localRows(N))

    // re-running a published batch is a no-op
    val r3b = SyncJob.run(spark, io, all, b3)
    assert(r3b.deltaRows == 0)

    // metrics ledger has per-partition lineage rows for each batch
    val metrics = io.readParquet(io.metricsDir)
    assert(metrics.filter($"process" === "sync").count() > 3)
    assert(metrics.filter($"partitionId" >= 0).count() > 0)
    all.unpersist()
  }

  test("update: re-synced modified rows replace postings (no duplicates)") {
    val root = tmpDir("graft-upd")
    val io = new TableIO(spark, root)
    val all = Corpus.pages(spark, N, 4)
    SyncJob.run(spark, io, all, ts(999))

    // mutate 20 rows: bump warc_ts beyond the batch and change text
    val mutated = Corpus.localRows(N).map { p =>
      val i = p.url.split("/").last.toLong
      if (i % 50 == 0) {
        val nt = new Timestamp(Corpus.warcTsMillis(N + i))
        val newText = p.text + "\nupdated content marker"
        p.copy(warc_ts = nt, text = newText,
          html = rerender(newText, i))
      } else p
    }
    val mutatedDs: Dataset[PageRow] = spark.createDataset(mutated)
    SyncJob.run(spark, io, mutatedDs, ts(2 * N))
    assertIndexMatches(root, mutated)

    // the updated docs are findable by their new content
    val reader = new IndexReader(spark, root)
    val hits = reader.topK("updated content marker", 30)
    assert(hits.length == 20)
  }

  test("purge: anti-join tombstones, safety cap honored") {
    val root = tmpDir("graft-purge")
    val io = new TableIO(spark, root)
    val all = Corpus.pages(spark, N, 4)
    SyncJob.run(spark, io, all, ts(999))

    // drop 50 known urls from the source
    val keep = Corpus.localRows(N).filterNot(p => urlIdx(p.url) % 20 == 0)
    val keepDs = spark.createDataset(keep)
    val r = PurgeJob.run(spark, io, keepDs, ts(3 * N))
    assert(r.purged == 50)
    assertIndexMatches(root, keep)

    // purged docs never scored: "document" hits all live docs only
    val reader = new IndexReader(spark, root)
    assert(reader.stats.n == N - 50)
    val purgedIds = Corpus.localRows(N).filter(p => urlIdx(p.url) % 20 == 0)
      .map(p => graft.index.DocIds.docId(p.url)).toSet
    val hits = reader.topK("document", N)
    assert(hits.forall(h => !purgedIds.contains(h.docId)))

    // safety cap (reference destinationManager.js:361-366): dropping 100
    // more with maxPurge=50 must refuse
    val keep2 = keep.filter(p => urlIdx(p.url) % 9 != 0)
    intercept[IllegalStateException] {
      PurgeJob.run(spark, io, spark.createDataset(keep2), ts(4 * N),
        maxPurge = 50)
    }
    // index unchanged after refused purge
    assertIndexMatches(root, keep)
  }

  test("reconcile: re-indexes exactly the missing + changed rows") {
    val root = tmpDir("graft-rec")
    val io = new TableIO(spark, root)
    // index only rows 0..949, then present a source with 20 mutated rows
    // and the 50 missing ones
    val base = Corpus.localRows(N).take(950)
    SyncJob.run(spark, io, spark.createDataset(base), ts(949))

    val full = Corpus.localRows(N).map { p =>
      val i = urlIdx(p.url)
      if (i % 47 == 0) {
        val nt = new Timestamp(Corpus.warcTsMillis(N + i))
        p.copy(warc_ts = nt)
      } else p
    }
    val r = ReconcileJob.run(spark, io, spark.createDataset(full), ts(5 * N))
    val changedInBase = base.count(p => urlIdx(p.url) % 47 == 0)
    assert(r.reindexed == 50 + changedInBase)
    assertIndexMatches(root, full)
  }

  test("resume: kill after segment stage, rerun == uninterrupted run") {
    val root = tmpDir("graft-resume")
    val io = new TableIO(spark, root)
    val pages = Corpus.pages(spark, N, 4)
    val batchTs = ts(999)
    val batchId = Checkpoint.toBatchId(batchTs)
    val cp = new Checkpoint(spark, io)

    // simulate the kill: run analyze+segment by hand, mark them done,
    // never reach merge/publish (the forced-error path of
    // sync.test.js:153-199)
    val analyzed = graft.index.SegmentBuilder.analyze(pages)
    io.writeParquet(analyzed.toDF(), io.stagingDir(batchId, "analyzed"))
    cp.markDone(batchId, "sync", "pages", "analyze")
    io.writeParquet(
      graft.index.SegmentBuilder.toDocs(analyzed.toDF(), batchId).toDF(),
      io.stagingDir(batchId, "docs"))
    io.writeParquet(
      graft.index.SegmentBuilder.buildBlocks(
        graft.index.SegmentBuilder.toPostings(analyzed.toDF()), batchId).toDF(),
      io.stagingDir(batchId, "blocks"))
    // ...and its delta-stats stash (rows, doclen sum), which the merge
    // stage requires of a completed segment stage
    val (rows, dlSum) = graft.index.SegmentBuilder.checkCollisions(analyzed.toDF())
    io.writeSmallFile(s"$root/staging/$batchId/delta_rows", rows.toString)
    io.writeSmallFile(s"$root/staging/$batchId/delta_dl", dlSum.toString)
    cp.markDone(batchId, "sync", "pages", "segment")
    assert(io.currentVersion().isEmpty) // nothing published yet
    assert(cp.oldestUnfinished("sync").contains(batchId))

    // rerun the job: must resume from staged output and publish
    val r = SyncJob.run(spark, io, pages, batchTs)
    assert(r.deltaRows == N)
    assertIndexMatches(root, Corpus.localRows(N))
    assert(cp.oldestUnfinished("sync").isEmpty)
  }

  private def lit2(t: Timestamp) = org.apache.spark.sql.functions.lit(t)
  private def urlIdx(url: String): Long = url.split("/").last.toLong

  private def rerender(text: String, i: Long): Array[Byte] = {
    val esc = text.split("\n", -1).map(l =>
      "<p>" + l.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;") + "</p>").mkString
    (s"<html><head><title>doc $i</title><meta charset=\"utf-8\"></head>" +
      s"<body>$esc</body></html>").getBytes("UTF-8")
  }
}
