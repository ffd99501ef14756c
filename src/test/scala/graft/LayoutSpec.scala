package graft

import java.sql.Timestamp
import graft.corpus.Corpus
import graft.oracle.NaiveIndex
import graft.query.IndexReader
import graft.sources.TableIO
import graft.sync.{PurgeJob, SyncJob}

/** The manifest this build writes is the only one it reads: a manifest
  * missing a field every current writer records is an older layout, and
  * both the reader and the next sync refuse it with the fix ("rebuild
  * it") instead of guessing — leaving the published version untouched.
  */
class LayoutSpec extends SparkTestBase {

  private def ts(i: Long) = new Timestamp(Corpus.warcTsMillis(i))

  /** A 200-doc index with 20 purged docs, its manifest then rewritten
    * by `older`; checks both refusals and that nothing was published.
    */
  private def refused(prefix: String, field: String)(older: String => String): Unit = {
    val root = tmpDir(prefix)
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, Corpus.pages(spark, 200, 2), ts(200))
    PurgeJob.run(spark, io, Corpus.pages(spark, 180, 2), ts(201))
    val version = io.currentVersion().get
    val path = s"${io.versionDir(version)}/manifest"
    val manifest = older(io.readSmallFile(path).get)
    assert(manifest != io.readSmallFile(path).get, "fixture did not rewrite")
    io.writeSmallFile(path, manifest)

    val onOpen = intercept[IllegalStateException](new IndexReader(spark, root))
    assert(onOpen.getMessage.contains(field) &&
      onOpen.getMessage.contains("rebuild it"), onOpen.getMessage)
    val onSync = intercept[IllegalStateException] {
      SyncJob.run(spark, io, Corpus.pages(spark, 220, 2), ts(220))
    }
    assert(onSync.getMessage.contains(field) &&
      onSync.getMessage.contains("rebuild it"), onSync.getMessage)
    assert(io.currentVersion().contains(version))
    assert(io.readSmallFile(path).contains(manifest))
  }

  test("a manifest with tombstones and no tombs chain is refused") {
    refused("graft-layout-tombs", "tombs chain")(
      _.replaceAll(""","tombs":\[[^\]]*\]""", ""))
  }

  test("a segment whose fwd keeps the older fb= bucket layout is refused") {
    import spark.implicits._
    val root = tmpDir("graft-layout-fwd")
    val io = new TableIO(spark, root)
    val rows = Corpus.localRows(200)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(200))
    val version = io.currentVersion().get
    // the older layout: the rows under fb=<bucket>/ plus the width file
    val fwd = new java.io.File(s"${io.segmentDir(io.manifest(version).segments.head)}/fwd")
    val bucket = new java.io.File(fwd, "fb=0")
    assert(bucket.mkdir())
    fwd.listFiles.filter(_.isFile).foreach(f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(bucket, f.getName).toPath))
    io.writeSmallFile(s"$fwd/_fwd_bits", "1")

    // an update (a re-crawl and 5 new docs) and a purge (20 docs) both
    // refuse
    val upd = rows.map(p => if (p.url.endsWith("/doc/3")) p.copy(warc_ts = ts(1000)) else p) ++
      Corpus.localRows(205).drop(200)
    val onSync = intercept[IllegalStateException] {
      SyncJob.run(spark, io, spark.createDataset(upd), ts(1000))
    }
    val onPurge = intercept[IllegalStateException] {
      PurgeJob.run(spark, io, spark.createDataset(rows.take(180)), ts(1001))
    }
    Seq(onSync, onPurge).foreach(e =>
      assert(e.getMessage.contains("fb=") && e.getMessage.contains("rebuild it"), e.getMessage))
    assert(io.currentVersion().contains(version))
  }

  test("a leftover deadPostings field in a manifest is ignored") {
    val root = tmpDir("graft-layout-dead")
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, Corpus.pages(spark, 200, 2), ts(200))
    PurgeJob.run(spark, io, Corpus.pages(spark, 180, 2), ts(201))
    val path = s"${io.versionDir(io.currentVersion().get)}/manifest"
    val before = new IndexReader(spark, root).topK("document", 10).toSeq
    io.writeSmallFile(path, io.readSmallFile(path).get.stripSuffix("}") +
      ""","deadPostings":7}""")
    assert(new IndexReader(spark, root).topK("document", 10).toSeq == before)
  }

  test("a mixed-layout index: a bulk segment in the older parquet layout and a new delta answer as the oracle") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = tmpDir("graft-layout-mixed")
    val io = new TableIO(spark, root)
    val rows = Corpus.localRows(400)
    SyncJob.run(spark, io, spark.createDataset(rows), ts(400))
    val m = io.manifest(io.currentVersion().get)
    def files(dir: String) = new java.io.File(dir).listFiles.toSeq.filter(_.getName.endsWith(".parquet"))
    // the bulk segment's index and its dict link rewritten file by file
    // with the older writer (snappy, default pages, dictionaries), each
    // under its old name, so the dict's file pointers still hold
    val older = Seq(s"${io.segmentDir(m.segments.head)}/index", io.dictDir(m.dictChain.head))
      .flatMap(files)
    older.foreach { f =>
      val tmp = s"$root/rewrite"
      io.writeParquet(spark.read.parquet(f.getPath).coalesce(1), tmp)
      val part = files(tmp).head
      // the local filesystem's checksum file would no longer match
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
      assert(f.delete() && part.renameTo(f))
      io.deleteDir(tmp)
    }
    def chunks(f: java.io.File) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally r.close()
    }
    assert(older.map(chunks).forall(cs => cs.forall(_.getCodec == CompressionCodecName.SNAPPY) &&
      cs.exists(_.getEncodings.asScala.exists(_.usesDictionary))), "fixture: not the older layout")

    // a new-layout delta: [0, 20) re-crawled, [400, 420) new
    def urlIdx(p: PageRow) = p.url.split("/").last.toInt
    val live = rows.map(p => if (urlIdx(p) < 20) p.copy(warc_ts = ts(urlIdx(p) + 10000L)) else p) ++
      Corpus.localRows(420).drop(400)
    SyncJob.run(spark, io, spark.createDataset(live), ts(10400))
    val reader = new IndexReader(spark, root)
    assert(reader.segments.size == 2 && reader.tombstoneCount == 20)
    assert(files(s"${io.segmentDir(reader.segments.last)}/index").flatMap(chunks)
      .forall(_.getCodec == CompressionCodecName.ZSTD))

    val oracle = new NaiveIndex(live)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    (graft.query.QuerySet.all.map(_._2) ++ Seq("document 5", "document 410", "rare07 the")).foreach { q =>
      val want = oracle.topK(q, 10)
      Seq(true, false).foreach { useWand =>
        val got = reader.topK(q, 10, useWand)
        assert(got.map(_.docId).toSeq == want.map(_.docId).toSeq &&
          bits(got.map(_.score)) == bits(want.map(_.score)), s"'$q' (wand=$useWand) diverges")
      }
      val found = reader.search(q, 10)
      assert(found.map(d => (d.docId, d.url)).toSeq == want.map(h => (h.docId, oracle.urlOf(h.docId))).toSeq &&
        bits(found.map(_.score)) == bits(want.map(_.score)), s"'$q' search diverges")
    }
  }
}
