package graft.sync

import java.sql.Timestamp
import graft.{Hit, PageRow, SparkTestBase}
import graft.corpus.Corpus
import graft.index.Positional
import graft.oracle.PhraseOracle
import graft.query.{IndexReader, Phrase}
import graft.sources.TableIO

/** Positions in the segments across crashes and refusals: a sync killed
  * after analyze or after segment resumes with its staged positions, a
  * killed `index-pos` resumes past the segments it finished, and
  * `index-pos` refuses an unfinished batch and uncovered live docs.
  */
class SegmentPositionsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))
  private def urlIdx(p: PageRow): Int = p.url.split("/").last.toInt
  private def bits(hits: Seq[Hit]) =
    hits.map(h => (h.docId, java.lang.Double.doubleToRawLongBits(h.score)))

  private def check(root: String, live: Seq[PageRow], phrases: String*): Unit = {
    val reader = new IndexReader(spark, root)
    phrases.foreach { q =>
      assert(bits(Phrase.topK(reader, q, 10).toSeq) == bits(PhraseOracle.topK(live, q, 10)),
        s"phrase [$q] diverged on version ${reader.version}")
    }
  }

  /** `live` with doc `i` re-crawled at event time `at` with new content
    * `c`, plus `n` new docs from `from` stamped after `at`; and the rows
    * a sync at `at + n + 1` picks up.
    */
  private def grow(live: Seq[PageRow], i: Int, c: Long, at: Long, from: Int,
                   n: Int): (Seq[PageRow], Seq[PageRow]) = {
    val changed = live.find(urlIdx(_) == i).get.copy(
      warc_ts = ts(at), html = Corpus.html(c), text = Corpus.text(c))
    val added = (0 until n).map(j => Corpus.row(from + j.toLong).copy(warc_ts = ts(at + 1 + j)))
    (live.map(p => if (urlIdx(p) == i) changed else p) ++ added, changed +: added)
  }

  test("positions on: syncs killed after analyze and after segment resume") {
    val root = tmpDir("graft-pos-resume")
    val io = new TableIO(spark, root)
    val M = 200
    val rows = Corpus.localRows(M)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(M))
    IndexPosJob.run(spark, io, spark.createDataset(rows))

    // killed after analyze: the stage ran and flagged, nothing after it
    val (live1, delta1) = grow(rows, 3, 7001, 10L * M, M, 10)
    val b1 = Checkpoint.toBatchId(ts(11L * M))
    val cp = new Checkpoint(spark, io)
    SyncJob.stageAnalyzed(spark, io, cp, b1, SyncJob.Process, "pages",
      spark.createDataset(delta1))
    assert(io.exists(io.stagingDir(b1, "pos")), "analyze staged no positions")
    assert(cp.oldestUnfinished(SyncJob.Process).contains(b1))
    SyncJob.run(spark, io, spark.createDataset(live1), ts(11L * M))
    assert(io.currentVersion().contains(b1))
    check(root, live1, "document 7001", "document 3", s"document ${M + 4}", "the the")

    // killed after segment, and the resumed merge compacts: the staged
    // positions join the rewritten pos
    val (live2, _) = grow(live1, 5, 7002, 20L * M, M + 10, 10)
    val r = SyncJob.run(spark, io, spark.createDataset(live2), ts(21L * M), dryRun = true)
    assert(io.currentVersion().contains(b1))
    val prev = sys.props.get("graft.compact.segments")
    sys.props("graft.compact.segments") = "2"
    try SyncJob.run(spark, io, spark.createDataset(live2), ts(21L * M))
    finally prev match {
      case Some(v) => sys.props("graft.compact.segments") = v
      case None => sys.props.remove("graft.compact.segments")
    }
    assert(io.currentVersion().contains(r.batchId))
    assert(io.manifest(r.batchId).segments == Seq(r.batchId))
    check(root, live2, "document 7002", "document 7001", "document 5",
      s"document ${M + 14}", "the the")
  }

  test("index-pos killed after some segments resumes past them") {
    val root = tmpDir("graft-indexpos-resume")
    val io = new TableIO(spark, root)
    val M = 150
    val rows = Corpus.localRows(M)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(M))
    val (live1, _) = grow(rows, 4, 7101, 10L * M, M, 5)
    SyncJob.run(spark, io, spark.createDataset(live1), ts(11L * M))
    val (live2, _) = grow(live1, 6, 7102, 20L * M, M + 5, 5)
    SyncJob.run(spark, io, spark.createDataset(live2), ts(21L * M))
    val segs = io.manifest(io.currentVersion().get).segments.map(io.segmentDir)
    assert(segs.size == 3)
    // the crash: the first segment's pos renamed in, the second's temp
    // dir half written
    Positional.writeBlocks(spark.createDataset(rows), s"${segs(0)}/pos")
    io.writeSmallFile(s"${segs(1)}/pos.tmp/part-00000-torn.parquet", "torn")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def listing(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(st => (st.getPath.getName, st.getModificationTime)).toSet
    val finished = listing(s"${segs(0)}/pos")
    val before = io.currentVersion().get
    val v = IndexPosJob.run(spark, io, spark.createDataset(live2))
    assert(listing(s"${segs(0)}/pos") == finished, "a finished segment was rewritten")
    assert(segs.forall(s => io.exists(s"$s/pos") && !io.exists(s"$s/pos.tmp")))
    assert(v == s"$before-pos" && io.currentVersion().contains(v))
    assert(io.manifest(v).positions)
    check(root, live2, "document 7101", "document 7102", "document 4",
      s"document ${M + 7}", "the the")
  }

  test("index-pos refuses an unfinished batch and uncovered live docs") {
    val root = tmpDir("graft-indexpos-refuse")
    val io = new TableIO(spark, root)
    val M = 120
    val rows = Corpus.localRows(M)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(M))
    val (live1, _) = grow(rows, 2, 7201, 10L * M, M, 5)
    val pending = SyncJob.run(spark, io, spark.createDataset(live1), ts(11L * M),
      dryRun = true)
    val e = intercept[IllegalStateException] {
      IndexPosJob.run(spark, io, spark.createDataset(live1))
    }
    assert(e.getMessage.contains(s"batch ${pending.batchId} is unfinished"), e.getMessage)
    SyncJob.run(spark, io, spark.createDataset(live1), ts(11L * M))
    // the pages hold doc 2's older crawl only: its live row has no page
    val e2 = intercept[IllegalStateException] {
      IndexPosJob.run(spark, io, spark.createDataset(
        live1.map(p => if (urlIdx(p) == 2) rows(2) else p)))
    }
    assert(e2.getMessage.contains("1 live docs"), e2.getMessage)
    assert(!io.manifest(io.currentVersion().get).positions)
    val before = io.currentVersion().get
    val v = IndexPosJob.run(spark, io, spark.createDataset(live1))
    // the flagged copy sorts between its version and the next batch id
    val later = Checkpoint.toBatchId(ts(11L * M + 1))
    assert(before < v && v < later)
    assert(IndexPosJob.run(spark, io, spark.createDataset(live1)) == v, "a rerun republished")
    val (live2, _) = grow(live1, 8, 7202, 20L * M, M + 5, 5)
    SyncJob.run(spark, io, spark.createDataset(live2), ts(21L * M))
    assert(io.manifest(io.currentVersion().get).positions, "a sync dropped the flag")
    check(root, live2, "document 7201", "document 7202", "the the")
  }
}
