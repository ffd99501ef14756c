package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions.col
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.{Bm25, IndexReader, QuerySet}
import graft.sources.TableIO
import graft.sync.{PurgeJob, SyncJob}

/** Every `topK` scoring path against the naive oracle: docIds and score
  * bits identical, and `lastProfile.path` names the path taken. The
  * index has two segments and tombstones from both a purge and an
  * update, so each path also skips dead postings. The per-bucket path
  * and the driver read's budget + 1 stop need posting sets larger than
  * the driver budget; a reader subclass lowers `LocalEvalMaxBlocks`
  * instead of growing the corpus.
  */
class TopKPathSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))
  private def urlIdx(p: PageRow): Int = p.url.split("/").last.toInt

  private val N = 600
  private lazy val (root, oracle) = {
    val root = tmpDir("graft-paths")
    val io = new TableIO(spark, root)
    val rows = Corpus.localRows(N)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(N))
    // purge [560, 600), then re-crawl [0, 50) into a second segment
    PurgeJob.run(spark, io,
      spark.createDataset(rows.filter(urlIdx(_) < 560)), ts(N + 1))
    val upd = rows.filter(urlIdx(_) < 560).map(p =>
      if (urlIdx(p) < 50)
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(urlIdx(p) + 10L * N)))
      else p)
    SyncJob.run(spark, io, spark.createDataset(upd), ts(11L * N))
    val (segs, tombs) = io.readManifest(io.currentVersion().get)
    assert(segs.size == 2 && tombs == 90, s"fixture: $segs / $tombs")
    (root, new NaiveIndex(upd))
  }

  private val queries = (QuerySet.all.map(_._2) ++
    Seq("rare07 document", "the of and", "zzzznotaword")).distinct

  /** Runs q on `reader` (WAND and TAAT), asserts oracle identity, and
    * returns the path both runs took.
    */
  private def pathOf(reader: IndexReader, q: String, k: Int = 10): String = {
    val want = oracle.topK(q, k)
    val paths = Seq(true, false).map { useWand =>
      val got = reader.topK(q, k, useWand)
      assert(got.map(_.docId).toSeq == want.map(_.docId).toSeq,
        s"'$q' (wand=$useWand) docIds diverge")
      assert(got.map(h => java.lang.Double.doubleToRawLongBits(h.score)).toSeq ==
        want.map(h => java.lang.Double.doubleToRawLongBits(h.score)).toSeq,
        s"'$q' (wand=$useWand) score bits diverge")
      IndexReader.lastProfile.path
    }
    assert(paths.distinct.size == 1, s"'$q': WAND and TAAT took $paths")
    paths.head
  }

  private def expectPath(reader: IndexReader, scored: String): Unit =
    queries.foreach { q =>
      val want = if (oracle.topK(q, 1).isEmpty) "empty" else scored
      assert(pathOf(reader, q) == want, s"'$q' took the wrong path")
    }

  test("local path: driver-collected blocks == oracle") {
    expectPath(new IndexReader(spark, root), "local")
  }

  test("per-bucket path: flatMapGroups over a broadcast dead map == oracle") {
    val reader = new IndexReader(spark, root) {
      override val LocalEvalMaxBlocks = 0
    }
    assert(!reader.deadDistributed && reader.dead.size == 90)
    expectPath(reader, "perBucket")
  }

  test("cogroup path: per-bucket tombstones (broadcastMax=0) == oracle") {
    val prev = sys.props.get("graft.tombstones.broadcastMax")
    sys.props("graft.tombstones.broadcastMax") = "0"
    try {
      val reader = new IndexReader(spark, root)
      assert(reader.deadDistributed && reader.dead.isEmpty)
      expectPath(reader, "cogroup")
    } finally prev match {
      case Some(v) => sys.props("graft.tombstones.broadcastMax") = v
      case None => sys.props.remove("graft.tombstones.broadcastMax")
    }
  }

  test("budget + 1: n blocks fit a budget of n, not of n - 1") {
    val q = "w0010 w0999 w3777"
    val plain = new IndexReader(spark, root)
    val terms = Bm25.queryTerms(q).filter(t => oracle.df(t) > 0).toSeq
    val blocks = plain.index.filter(col("term").isin(terms: _*)).count()
    // the read decides only when the dict's lower bound fits the budget:
    // minBlocks = Σ ceil(df/128) <= budget; the blocks are more than that
    val minBlocks = terms.map(t => (oracle.df(t) + 127) / 128).sum
    assert(minBlocks < blocks, s"'$q' has no room for a read: $minBlocks / $blocks")
    def withBudget(n: Long) = new IndexReader(spark, root) {
      override val LocalEvalMaxBlocks = n.toInt
    }
    assert(pathOf(withBudget(blocks), q) == "local")
    assert(pathOf(withBudget(blocks - 1), q) == "perBucket")
  }
}
