package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.{IndexReader, QuerySet}
import graft.sources.TableIO
import graft.sync.{PurgeJob, SyncJob}

/** The local `topK` path reads its blocks on the driver: no Spark job,
  * answers bit-identical to the naive oracle, and the term predicate
  * pushed into the Parquet reader so other terms' row groups stay unread.
  */
class DriverReadSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))
  private def urlIdx(p: PageRow): Int = p.url.split("/").last.toInt

  private val queries = (QuerySet.all.map(_._2) ++
    Seq("rare07 document", "the of and", "zzzznotaword")).distinct

  /** Spark jobs started while `f` runs. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      TestBus.drain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Opens a reader on `root`, warms its dict cache (a dict miss is a
    * Spark job), then runs every query with WAND and TAAT: 0 jobs, local
    * or empty path, docIds and score bits equal to the oracle's.
    */
  private def checkNoJobs(root: String, live: Seq[PageRow], segs: Int,
                          tombstones: Boolean): Unit = {
    val (reader, openJobs) = jobsDuring(new IndexReader(spark, root))
    assert(reader.segments.size == segs && (reader.tombstoneCount > 0) == tombstones,
      s"fixture: ${reader.segments} / ${reader.tombstoneCount}")
    if (!tombstones) assert(openJobs == 0, s"open ran $openJobs jobs")
    queries.foreach(reader.filesForQuery)
    val oracle = new NaiveIndex(live)
    val (_, jobs) = jobsDuring(queries.foreach { q =>
      val want = oracle.topK(q, 10)
      Seq(true, false).foreach { useWand =>
        val got = reader.topK(q, 10, useWand)
        assert(got.map(_.docId).toSeq == want.map(_.docId).toSeq,
          s"'$q' (wand=$useWand) docIds diverge")
        assert(got.map(h => java.lang.Double.doubleToRawLongBits(h.score)).toSeq ==
          want.map(h => java.lang.Double.doubleToRawLongBits(h.score)).toSeq,
          s"'$q' (wand=$useWand) score bits diverge")
        assert(IndexReader.lastProfile.path == (if (want.isEmpty) "empty" else "local"))
      }
    })
    assert(jobs == 0, s"$jobs Spark jobs across local-path topK calls")
  }

  test("no Spark job on the local path: 1 and 3 segments, no tombstones") {
    val root = tmpDir("graft-driver-append")
    val io = new TableIO(spark, root)
    Seq(400, 450, 500).zipWithIndex.foreach { case (n, i) =>
      SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(n)), ts(n))
      if (i != 1) checkNoJobs(root, Corpus.localRows(n), i + 1, tombstones = false)
    }
  }

  test("no Spark job on the local path: 1 and 3 segments, tombstones") {
    val root = tmpDir("graft-driver-churn")
    val io = new TableIO(spark, root)
    val rows = Corpus.localRows(400)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(400))
    // purge [390, 400): tombstones in the one segment
    val kept = rows.filter(urlIdx(_) < 390)
    PurgeJob.run(spark, io, spark.createDataset(kept), ts(401))
    checkNoJobs(root, kept, 1, tombstones = true)
    // two re-crawls, [0, 20) then [20, 40): a segment and tombstones
    // each, 50 tombstones in all (compaction starts above n / 5)
    val live = Seq(1, 2).foldLeft(kept) { case (cur, k) =>
      val shift = 10000L * k
      val upd = cur.map(p =>
        if (urlIdx(p) / 20 == k - 1)
          p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(urlIdx(p) + shift)))
        else p)
      SyncJob.run(spark, io, spark.createDataset(upd), ts(shift + 400))
      upd
    }
    checkNoJobs(root, live, 3, tombstones = true)
  }

  test("the pushed term predicate skips other terms' row groups") {
    val root = tmpDir("graft-driver-prune")
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(300)), ts(300))
    // one file of many small row groups, sorted by term as segments are
    val file = s"$root/small-groups"
    new IndexReader(spark, root).index.toDF().coalesce(1).sortWithinPartitions("term")
      .write.option("parquet.block.size", 8192L).parquet(file)
    val all = spark.read.parquet(file).as[IndexBlock]
    val total = all.count()
    val term = "rare07"
    val want = all.filter(col("term") === term).collect().map(_.blockId).sorted.toSeq
    assert(want.nonEmpty)
    val seen = new AtomicInteger
    val (pushed, inTerm) = TableIO.stringIn("term", 0, Seq(term))
    val got = io.readLocal(Seq(file), ExpressionEncoder[IndexBlock]().resolveAndBind(),
      Some(pushed)) { batch =>
      val keep = inTerm(batch)
      i => { seen.incrementAndGet(); keep(i) }
    }.get
    assert(got.map(_.blockId).sorted.toSeq == want && got.forall(_.term == term))
    assert(seen.get < total, s"read ${seen.get} of $total rows before the term check")
  }
}
