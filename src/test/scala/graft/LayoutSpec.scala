package graft

import java.sql.Timestamp
import graft.corpus.Corpus
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
}
