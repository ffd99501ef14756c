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
import graft.sync.{Metrics, PurgeJob, SyncJob, Tables}

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
    val pageRows = 20
    new IndexReader(spark, root).docs.coalesce(1).sortWithinPartitions("docId")
      .write.option("parquet.page.row.count.limit", pageRows.toLong)
      .option("parquet.page.size.row.check.min", pageRows.toLong).parquet(file)
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
    // one page per id: the pushed sorted-id predicate, unlike an IN set,
    // prunes the pages between the ids
    assert(seen.get <= ids.size * pageRows,
      s"read ${seen.get} of $total rows before the docId check")
  }

  test("the killed lookup runs no Spark job and equals the Spark join") {
    val root = tmpDir("graft-driver-killed")
    val io = new TableIO(spark, root)
    val n = 2000
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(n)), ts(n))
    def id(i: Long) = graft.index.DocIds.docId(Corpus.url(i))
    def check(io: TableIO, ids: Seq[Long], want: Int): Unit = {
      val old = Tables.loadCurrent(spark, io).get
      val (rows, jobs) = jobsDuring(Tables.killedRows(io, old, ids))
      assert(jobs == 0, s"$jobs Spark jobs in the killed lookup")
      val viaSpark = Tables.killedFrame(spark, io, old, ids.toDF("docId"), ids.size)
        .as[Tables.FwdRow].collect().toSet
      assert(rows.get.size == want && rows.get.toSet == viaSpark)
    }
    // a 10-doc update, a pure append and a 10-doc purge of the build
    check(io, (0 until 10).map(i => id(i * 97L)), 10)
    check(io, (n until n + 10).map(id(_)), 0)
    check(io, (n - 10 until n).map(id(_)), 10)
    // 3 segments with tombstones: [0, 40) re-crawled (older rows dead),
    // [40, 50) and [385, 390) live, [390, 395) re-added after the purge,
    // [395, 400) purged, [1000, 1005) never indexed
    val churn = new TableIO(spark, churnRoot)
    check(churn, (Seq(0 until 50, 385 until 400, 1000 until 1005).flatten).map(id(_)), 60)
    // past the budget, or over a distributed tombstone set: no driver read
    assert(Tables.killedRows(io, Tables.loadCurrent(spark, io).get,
      (0 to Tables.KilledLocalMax).map(i => id(n + i))).isEmpty)
    val prev = sys.props.get("graft.tombstones.broadcastMax")
    sys.props("graft.tombstones.broadcastMax") = "0"
    try assert(Tables.killedRows(churn, Tables.loadCurrent(spark, churn).get, Seq(id(0))).isEmpty)
    finally prev match {
      case Some(v) => sys.props("graft.tombstones.broadcastMax") = v
      case None => sys.props.remove("graft.tombstones.broadcastMax")
    }
  }

  /** A 2,000-doc build whose blocks are split over 3 files, so each
    * file holds several [[TableIO.TermPageRows]]-row pages.
    */
  private lazy val (pruneIo, pruneFiles) = {
    val root = tmpDir("graft-driver-prune")
    val io = new TableIO(spark, root)
    val prev = sys.props.get("graft.blocks.bytesPerPartition")
    sys.props("graft.blocks.bytesPerPartition") = "400000"
    try SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(2000)), ts(2000))
    finally prev match {
      case Some(v) => sys.props("graft.blocks.bytesPerPartition") = v
      case None => sys.props.remove("graft.blocks.bytesPerPartition")
    }
    (io, parquetFiles(s"${io.segmentDir(io.manifest(io.currentVersion().get).segments.head)}/index"))
  }

  private def parquetFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.toSeq.filter(_.getName.endsWith(".parquet")).map(_.getPath)

  private val blockKey = (b: IndexBlock) => (b.term, b.bucket, b.blockId, b.firstDocId, b.count)
  private val BlockEnc = ExpressionEncoder[IndexBlock]().resolveAndBind()

  /** Rows of `files` with `terms` pushed: the kept blocks' keys, and the
    * rows the read yielded to the per-row term check.
    */
  private def pushedRead(files: Seq[String], terms: Seq[String]): (Set[Any], Int) = {
    val seen = new AtomicInteger
    val (pushed, inTerms) = TableIO.stringIn("term", BlockEnc.schema.fieldIndex("term"), terms)
    val got = pruneIo.readLocal(files, BlockEnc, Some(pushed)) { batch =>
      val keep = inTerms(batch)
      i => { seen.incrementAndGet(); keep(i) }
    }.get
    (got.map(blockKey).toSet, seen.get)
  }

  test("the pushed term predicate skips other terms' row groups") {
    val all = pruneIo.readLocal(pruneFiles, BlockEnc)().get
    // the smallest title number and the largest stopword: every other
    // page of each file lies between them in byte order
    val terms = Seq("10", "you")
    val want = all.filter(b => terms.contains(b.term)).map(blockKey).toSet
    assert(pruneFiles.size >= 2 && want.map(_._1) == terms.toSet &&
      all.length > pruneFiles.size * 3 * TableIO.TermPageRows,
      s"fixture: ${pruneFiles.size} files, ${all.length} rows")
    val (got, seen) = pushedRead(pruneFiles, terms)
    assert(got == want)
    // one page per term and file: a pushed IN set would keep every page
    // between the two terms
    assert(seen <= pruneFiles.size * terms.size * TableIO.TermPageRows,
      s"read $seen of ${all.length} rows before the term check")
  }

  test("term-sorted files are zstd, dictionary-free on term and binary columns, in 1,024-row pages") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val m = pruneIo.manifest(pruneIo.currentVersion().get)
    val files = pruneFiles ++ m.dictChain.flatMap(d => parquetFiles(pruneIo.dictDir(d)))
    val pages = files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap { g =>
        g.getColumns.asScala.toSeq.flatMap { c =>
          val col = c.getPath.toDotString
          assert(c.getCodec == CompressionCodecName.ZSTD, s"$f $col: ${c.getCodec}")
          if (col == "term" || col == "docIdsVB")
            assert(!c.getEncodings.asScala.exists(_.usesDictionary), s"$f $col: ${c.getEncodings}")
          val ix = r.readOffsetIndex(c)
          (0 until ix.getPageCount).map(i =>
            (if (i + 1 < ix.getPageCount) ix.getFirstRowIndex(i + 1) else g.getRowCount) -
              ix.getFirstRowIndex(i))
        }
      } finally r.close()
    }
    assert(pages.max == TableIO.TermPageRows && pages.forall(_ <= TableIO.TermPageRows))
  }

  test("the pushed term set follows Parquet's byte order, not String.compareTo's (property)") {
    import org.scalacheck.Gen
    // ASCII, Latin-1, BMP (with U+E000–U+FFFF, where UTF-16 and UTF-8
    // orders part) and supplementary characters
    val char: Gen[String] = Gen.frequency(
      2 -> Gen.choose('a', 'c').map(_.toString),
      1 -> Gen.choose('\u00e0', '\u00e2').map(_.toString),
      1 -> Gen.choose('\u4e00', '\u4e02').map(_.toString),
      3 -> Gen.choose('\uff21', '\uff23').map(_.toString),
      3 -> Gen.choose(0x1f600, 0x1f602).map(c => new String(Character.toChars(c))))
    val termGen = Gen.choose(1, 3).flatMap(Gen.listOfN(_, char)).map(_.mkString)
    val sample = for {
      universe <- Gen.choose(12, 30).flatMap(Gen.listOfN(_, termGen)).map(_.distinct)
      wanted <- Gen.someOf(universe)
      absent <- Gen.listOfN(2, termGen)
    } yield (universe, (wanted.toSeq ++ absent).distinct)
    val enc = ExpressionEncoder[DictRow]().resolveAndBind()
    val io = new TableIO(spark, tmpDir("graft-driver-byteorder"))
    PropHelper.forAllSeeded(sample.suchThat(_._2.nonEmpty), n = 25) { case (universe, wanted) =>
      // 200 rows a term, sorted as Spark sorts strings: several
      // 1,024-row pages, whose bounds fall inside runs of one term
      val dir = s"${io.root}/f${universe.hashCode & 0xffffff}"
      TableIO.writeTermSorted(universe.flatMap(t => (0 until 200).map(i => DictRow(t, i, 0L)))
        .toDF().coalesce(1).sortWithinPartitions("term"), dir)
      val (pushed, keep) = TableIO.stringIn("term", 0, wanted)
      val got = io.readLocal(Seq(dir), enc, Some(pushed))(keep).get.toSeq.map(r => (r.term, r.df))
      val all = io.readLocal(Seq(dir), enc)(keep).get.toSeq.map(r => (r.term, r.df))
      assert(all.size == universe.count(wanted.contains) * 200)
      assert(got == all, s"pushed read kept ${got.size} of ${all.size} rows")
    }
  }

  test("the error budget check reads the metrics ledger with no Spark job") {
    val io = new TableIO(spark, tmpDir("graft-driver-budget"))
    // a published sync's ledger rows, then 3 recorded failures of one batch
    SyncJob.run(spark, io, spark.createDataset(Corpus.localRows(100)), ts(100))
    (1 to 3).foreach(_ => intercept[RuntimeException](
      Metrics.withBudget(spark, io, "bQ", "sync", 0L)(throw new RuntimeException("bad"))))
    val (e, jobs) = jobsDuring(intercept[IllegalStateException](
      Metrics.checkBudget(io, "bQ", "sync")))
    assert(e.getMessage.contains("refused") && jobs == 0, s"$jobs jobs: ${e.getMessage}")
    val (counts, countJobs) = jobsDuring(Seq("bQ" -> "sync", "bQ" -> "purge", "bR" -> "sync")
      .map { case (b, p) => Metrics.errorCount(io, b, p) })
    assert(counts == Seq(3L, 0L, 0L) && countJobs == 0)
  }
}
