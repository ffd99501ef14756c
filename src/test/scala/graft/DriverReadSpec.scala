package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.{IndexReader, QuerySet}
import graft.sources.TableIO
import graft.sync.{PurgeJob, SyncJob, Tables}

/** Reader open, the dict probe that misses, the local `topK` path and
  * `search`'s url fetch all read on the driver: no Spark job, answers
  * bit-identical to the naive oracle, the driver folds of the dict and
  * tombstone chains equal the Spark views, and the pushed predicates
  * leave other terms' and docIds' row groups and pages unread.
  */
class DriverReadSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))
  private def urlIdx(p: PageRow): Int = p.url.split("/").last.toInt
  private def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)

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

  /** Runs every query on a freshly opened reader, so every term misses
    * the dict cache: `search`, then `topK` with WAND and TAAT. 0 jobs
    * across the opens and the calls; ranks, docIds, urls and score bits
    * equal the oracle's, on the local or empty path.
    */
  private def checkNoJobs(root: String, live: Seq[PageRow], segs: Int,
                          tombstones: Boolean): Unit = {
    val oracle = new NaiveIndex(live)
    val (_, jobs) = jobsDuring(queries.foreach { q =>
      val reader = new IndexReader(spark, root)
      assert(reader.segments.size == segs && (reader.tombstoneCount > 0) == tombstones,
        s"fixture: ${reader.segments} / ${reader.tombstoneCount}")
      val want = oracle.topK(q, 10)
      val found = reader.search(q, 10)
      assert(found.map(d => (d.rank, d.docId, d.url)).toSeq == want.zipWithIndex
        .map { case (h, i) => (i + 1, h.docId, oracle.urlOf(h.docId)) }.toSeq,
        s"'$q' search diverges")
      assert(bits(found.map(_.score)) == bits(want.map(_.score)), s"'$q' search score bits")
      Seq(true, false).foreach { useWand =>
        val got = reader.topK(q, 10, useWand)
        assert(got.map(_.docId).toSeq == want.map(_.docId).toSeq,
          s"'$q' (wand=$useWand) docIds diverge")
        assert(bits(got.map(_.score)) == bits(want.map(_.score)),
          s"'$q' (wand=$useWand) score bits diverge")
        assert(IndexReader.lastProfile.path == (if (want.isEmpty) "empty" else "local"))
      }
    })
    assert(jobs == 0, s"$jobs Spark jobs across reader opens, search and topK")
  }

  test("no Spark job on the local path: 1 and 3 segments, no tombstones") {
    val root = tmpDir("graft-driver-append")
    val io = new TableIO(spark, root)
    Seq(400, 450, 500).zipWithIndex.foreach { case (n, i) =>
      SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(n)), ts(n))
      if (i != 1) checkNoJobs(root, Corpus.localRows(n), i + 1, tombstones = false)
    }
  }

  /** 400 rows, then purge [390, 400): tombstones in the one segment. */
  private def purged(root: String): Seq[PageRow] = {
    val io = new TableIO(spark, root)
    val rows = Corpus.localRows(400)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(400))
    val kept = rows.filter(urlIdx(_) < 390)
    PurgeJob.run(spark, io, spark.createDataset(kept), ts(401))
    kept
  }

  /** [[purged]], then two re-crawl batches, [0, 20) then [20, 40), the
    * first also re-adding the purged [390, 395): 3 segments and a 3-link
    * tombstone chain whose second link softens five of the purge's rows,
    * 50 tombstones in all (compaction starts above n / 5).
    */
  private lazy val (churnRoot, churnLive) = {
    val root = tmpDir("graft-driver-churn")
    val io = new TableIO(spark, root)
    val kept = purged(root)
    val live = Seq(1, 2).foldLeft(kept) { case (cur, k) =>
      val shift = 10000L * k
      def fresh(p: PageRow) =
        p.copy(warc_ts = new Timestamp(Corpus.warcTsMillis(urlIdx(p) + shift)))
      val readd = if (k == 1) Corpus.localRows(395).drop(390) else Nil
      val upd = cur.map(p => if (urlIdx(p) / 20 == k - 1) fresh(p) else p) ++ readd.map(fresh)
      SyncJob.run(spark, io, spark.createDataset(upd), ts(shift + 400))
      upd
    }
    (root, live)
  }

  test("no Spark job on the local path: 1 and 3 segments, tombstones") {
    val root = tmpDir("graft-driver-purge")
    checkNoJobs(root, purged(root), 1, tombstones = true)
    checkNoJobs(churnRoot, churnLive, 3, tombstones = true)
  }

  test("the driver dict fold equals dictView; a term whose df reached 0 is absent") {
    val io = new TableIO(spark, churnRoot)
    val chain = io.manifest(io.currentVersion().get).dictChain
    assert(chain.size >= 3, s"chain $chain")
    val raw = spark.read.parquet(chain.map(io.dictDir): _*)
      .select("term").distinct().as[String].collect().toSeq
    def keyed(rows: Seq[DictRow]) = rows.map(r => r.term -> ((r.df, r.cf, r.files.toSet))).toMap
    val view = keyed(Tables.dictView(spark, io, chain).as[DictRow].collect().toSeq)
    val local = keyed(Tables.dictLocal(io, chain, raw))
    assert(local == view)
    // the purged [395, 400) keep their title numbers' rows in the links
    val gone = raw.filterNot(view.contains)
    assert(gone.contains("397"), s"no df-0 term among ${gone.take(10)}")
  }

  test("the driver tombstone fold equals tombstonesView; a re-add softens a purge row") {
    val io = new TableIO(spark, churnRoot)
    val chain = io.manifest(io.currentVersion().get).tombChain
    assert(chain.size == 3, s"chain $chain")
    val local = Tables.tombstonesLocal(io, chain)
    val view = Tables.tombstonesView(spark, io, chain).collect()
      .map(t => t.docId -> t.before).toMap
    assert(local == view && local.size == 50)
    val purgeRows = Tables.tombstonesLocal(io, chain.take(1))
    val softened = (390 until 395).map(i => graft.index.DocIds.docId(Corpus.url(i)))
    assert(softened.forall(d => purgeRows(d) == Tables.PurgeSentinel && local(d) == chain(1)))
  }

  test("broadcastMax=0: search over the distributed tombstone set answers the same") {
    val driver = new IndexReader(spark, churnRoot)
    val prev = sys.props.get("graft.tombstones.broadcastMax")
    sys.props("graft.tombstones.broadcastMax") = "0"
    try {
      val dist = new IndexReader(spark, churnRoot)
      assert(dist.deadDistributed && !driver.deadDistributed)
      Seq("rare07 document", "the of and", "document 5", "document 392").foreach { q =>
        val want = driver.search(q, 10)
        assert(want.nonEmpty && dist.search(q, 10).toSeq == want.toSeq, s"'$q' diverges")
      }
    } finally prev match {
      case Some(v) => sys.props("graft.tombstones.broadcastMax") = v
      case None => sys.props.remove("graft.tombstones.broadcastMax")
    }
  }

  test("a hit with no live docs row is refused, naming the docId and the version") {
    val root = tmpDir("graft-driver-nodocs")
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(300)), ts(300))
    // a delta segment of re-crawled [0, 10) and new [300, 320), whose docs
    // files are then lost: a re-crawled hit keeps only its dead older row
    val upd = Corpus.localRows(320).map(p =>
      if (urlIdx(p) < 10) p.copy(warc_ts = ts(urlIdx(p) + 10000L)) else p)
    SyncJob.run(spark, io, spark.createDataset(upd), ts(10400))
    val reader = new IndexReader(spark, root)
    new java.io.File(s"${io.segmentDir(reader.segments.last)}/docs").listFiles
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    Seq(5, 310).foreach { i =>
      val id = graft.index.DocIds.docId(Corpus.url(i))
      val e = intercept[IllegalStateException](reader.search(s"document $i", 1))
      assert(e.getMessage.contains(id.toString) && e.getMessage.contains(reader.version),
        e.getMessage)
    }
  }

  /** Every parquet part file under `dir`, each read on the driver in
    * file order.
    */
  private def perFile[T](io: TableIO, dir: String, enc: ExpressionEncoder[T]): Seq[Seq[T]] =
    new java.io.File(dir).listFiles.toSeq.filter(_.getName.endsWith(".parquet"))
      .map(f => io.readLocal(Seq(f.getPath), enc.resolveAndBind())().get.toSeq)

  test("syncs and compaction write docs sorted by docId and dict links sorted by term") {
    val root = tmpDir("graft-driver-layout")
    val io = new TableIO(spark, root)
    val byBytes = Ordering.by[String, UTF8String](UTF8String.fromString)
    def checkSorted(): Unit = {
      val m = io.manifest(io.currentVersion().get)
      m.segments.foreach { s =>
        val files = perFile(io, s"${io.segmentDir(s)}/docs", ExpressionEncoder[DocRow]())
        assert(files.exists(_.size > 1) && files.forall(f =>
          f.map(_.docId) == f.map(_.docId).sorted), s"segment $s docs unsorted")
      }
      m.dictChain.foreach { d =>
        val files = perFile(io, io.dictDir(d), ExpressionEncoder[DictRow]())
        assert(files.exists(_.size > 1) && files.forall(f =>
          f.map(_.term) == f.map(_.term).sorted(byBytes)), s"dict link $d unsorted")
      }
    }
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(300)), ts(300))
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(340)), ts(340))
    checkSorted()
    val prev = sys.props.get("graft.compact.segments")
    sys.props("graft.compact.segments") = "2"
    try SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(360)), ts(360))
    finally prev match {
      case Some(v) => sys.props("graft.compact.segments") = v
      case None => sys.props.remove("graft.compact.segments")
    }
    assert(io.manifest(io.currentVersion().get).segments.size == 1, "no compaction")
    checkSorted()
  }

  test("the pushed docId predicate skips other docIds' pages") {
    val root = tmpDir("graft-driver-docs-prune")
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(300)), ts(300))
    val file = s"$root/small-pages"
    new IndexReader(spark, root).docs.coalesce(1).sortWithinPartitions("docId")
      .write.option("parquet.page.row.count.limit", 20L).parquet(file)
    val total = spark.read.parquet(file).count()
    val ids = Seq(5, 150, 290).map(i => graft.index.DocIds.docId(Corpus.url(i)))
    val seen = new AtomicInteger
    val enc = ExpressionEncoder[DocRow]().resolveAndBind()
    val (pushed, inIds) = TableIO.longIn("docId", enc.schema.fieldIndex("docId"), ids)
    val got = io.readLocal(Seq(file), enc, Some(pushed)) { batch =>
      val keep = inIds(batch)
      i => { seen.incrementAndGet(); keep(i) }
    }.get
    assert(got.map(_.docId).sorted.toSeq == ids.sorted)
    assert(seen.get < total, s"read ${seen.get} of $total rows before the docId check")
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
