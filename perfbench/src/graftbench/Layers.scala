package graftbench

import org.apache.spark.sql.functions._
import graft.IndexBlock
import graft.analysis.Tokenizer
import graft.corpus.Corpus
import graft.extract.HtmlText
import graft.index.{Codec, SegmentBuilder}
import graft.query.{Bm25, IndexReader}
import graft.sync.PurgeJob

/** The traced run's extra work and its reduction to per-layer metrics.
  * Everything here runs after the workload's measured part.
  */
object Layers {

  /** Units per second of `work` (which returns the units it processed):
    * median of three repetitions, each repeating `work` for at least 0.2 s.
    */
  private def rate(work: () => Long): Double = {
    work() // warm
    Stats.median((1 to 3).map { _ =>
      var units = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) units += work()
      units / ((System.nanoTime() - t0) / 1e9)
    })
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Interleaved untraced/traced calls of the workload's query operation on
    * its final index, one pair of like queries at a time: median traced over
    * median untraced.
    */
  def traceOverhead(c: Ctx, o: Outcome, pairs0: Seq[(String, String)],
                    search: Boolean): Double = {
    def call(q: String) =
      if (search) o.reader.search(q, 10).length else o.reader.topK(q, 10).length
    val pairs = pairs0.map { case (a, b) =>
      val off = c.trace.paused(c.timed(call(a))._2)
      val on = c.timed(c.trace.span("overhead.on", "query")(call(b)))._2
      (off, on)
    }
    Stats.median(pairs.map(_._2)) / Stats.median(pairs.map(_._1))
  }

  /** Reader-side probes that need the workload's final index version. */
  def readerProbes(c: Ctx, o: Outcome, searchHot: Boolean): Unit = {
    val g = c.gen
    val m = c.metrics
    if (searchHot) {
      // url fetch: `search` minus the `topK` inside it, on the stream's
      // first round (every shape that returns hits)
      val fetch = g.round(0).map(_._2).flatMap { q =>
        val (n, ms) = c.timed(c.trace.span("query.search", "query")(o.reader.search(q, 10).length))
        if (n > 0) Some(ms - IndexReader.lastProfile.totalSec * 1000) else None
      }
      m("query.url_fetch_ms") = Stats.median(fetch)
      m("query.files_per_query") =
        Stats.mean(g.stream.map(q => o.reader.filesForQuery(q._2).size.toDouble))
      m("trace_overhead") = traceOverhead(c, o,
        g.stream.map(q => (q._2, q._2)), search = false)
    } else {
      m("query.url_fetch_ms") = Stats.median(o.calls.map(q => q.wallMs - q.prof.totalSec * 1000))
      m("query.files_per_query") = Stats.mean(o.calls.map(_.files.toDouble))
      // distinct never-queried titles: a repeat would hit the dict cache
      m("trace_overhead") = traceOverhead(c, o,
        g.overheadRows.map(Workloads.title).grouped(2).map(p => (p(0), p(1))).toSeq,
        search = true)
    }

    // codec over the real blocks of the stream's terms
    val terms = g.stream.flatMap(q => Bm25.queryTerms(q._2)).distinct
    val blocks: Array[IndexBlock] = {
      import c.spark.implicits._
      o.reader.index.filter($"term".isin(terms: _*)).collect()
    }
    val decoded = blocks.map(b => (Codec.decodeDocIds(b.docIdsVB, b.count, b.firstDocId),
      Codec.decodeInts(b.tfsVB, b.count), Codec.decodeInts(b.dlsVB, b.count)))
    val vbBytes = blocks.map(b => b.docIdsVB.length + b.tfsVB.length + b.dlsVB.length).sum.toLong
    m("index.codec_decode_mb_s") = rate { () =>
      blocks.foreach { b =>
        Codec.decodeDocIds(b.docIdsVB, b.count, b.firstDocId)
        Codec.decodeInts(b.tfsVB, b.count)
        Codec.decodeInts(b.dlsVB, b.count)
      }
      vbBytes
    } / 1e6
    m("index.codec_encode_mb_s") = rate { () =>
      decoded.iterator.map { case (ids, tfs, dls) =>
        (Codec.encodeDocIds(ids, ids(0)).length + Codec.encodeInts(tfs).length +
          Codec.encodeInts(dls).length).toLong
      }.sum
    } / 1e6
    c.samples("index.codec_blocks") = Seq(blocks.length.toDouble)
  }

  /** Sync-side probes: the batches a workload lacks (a delta, a compacting
    * batch, a purge), then the build layers on the slice's pages.
    */
  def syncProbes(c: Ctx, o: Outcome): (Seq[Batch], Batch, Double) = {
    val g = c.gen
    var n = o.cycle + 1
    val deltas =
      if (o.deltas.exists(_.kind == "delta")) o.deltas
      else { val b = Sync.cycle(c, n, "delta")._1; n += 1; o.deltas :+ b }
    // neither workload reaches the default threshold (6 segments), so the
    // next batch is made to compact by setting the threshold to the current
    // segment count: it folds 2 segments on search_hot (bulk + delta) and
    // 4 on refresh (bulk + 3 cycles), plus its own rows
    val segs = c.io.readManifest(c.io.currentVersion().get)._1.size
    System.setProperty("graft.compact.segments", segs.toString)
    val compact = try Sync.cycle(c, n, "compact")._1
      finally System.clearProperty("graft.compact.segments")
    c.samples("sync.compact_segments") = Seq(segs.toDouble)
    c.op("compact")
    c.check("compaction_one_segment", "compact")(
      c.io.readManifest(c.io.currentVersion().get)._1.size == 1)

    val hi = g.newRows(n)._2
    val purged = g.purgeRows.map(Corpus.url).toSet
    val source = Corpus.pagesRange(c.spark, g.offset, hi, 2 * c.nproc)
      .filter(!col("url").isin(purged.toSeq: _*))
    val purgeTs = new java.sql.Timestamp(g.batchTs(hi).getTime + 1000L)
    val (res, purgeMs) = c.timed(c.trace.span("sync.purge", "sync") {
      PurgeJob.run(c.spark, c.io, source, purgeTs)
    })
    c.op("purge")
    c.check("purge_count", "purge")(res.purged == purged.size)
    (deltas, compact, purgeMs / 1000.0)
  }

  /** Build-layer probes on the first 2,000 rows of the slice. */
  def buildProbes(c: Ctx): Unit = {
    val g = c.gen
    val m = c.metrics
    val rows = (g.offset until g.offset + 2000).map(Corpus.row)
    val htmlBytes = rows.map(_.html.length.toLong).sum
    m("extract.mb_per_s") = rate { () => rows.foreach(r => HtmlText.extract(r.html)); htmlBytes } / 1e6
    val tokens = rows.map(r => Tokenizer.tokenize(r.text).length.toLong).sum
    m("analysis.tokens_per_s") = rate { () => rows.foreach(r => Tokenizer.termFreqs(r.text)); tokens }

    val pages = Corpus.pagesRange(c.spark, g.offset, g.hi0, 2 * c.nproc)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    m("index.analyze_s") = c.trace.span("index.analyze", "index") {
      seconds(noop(SegmentBuilder.analyze(pages).toDF()))
    }
    val analyzed = SegmentBuilder.analyze(pages).toDF().persist()
    analyzed.count()
    m("index.blocks_s") = c.trace.span("index.blocks", "index") {
      seconds(noop(SegmentBuilder.buildBlocks(SegmentBuilder.toPostings(analyzed), "probe").toDF()))
    }
    analyzed.unpersist()
  }

  /** Reduce the run's spans, jobs, stamps and probes to the per-layer
    * metrics. Throws when a stage stamp is missing.
    */
  def reduce(c: Ctx, o: Outcome, deltas: Seq[Batch], compact: Batch, purgeS: Double): Unit = {
    val m = c.metrics
    val t = c.trace
    val calls = o.calls
    def med(f: QCall => Double) = Stats.median(calls.map(f))

    // ---- query ----
    val spans = calls.map(q => q.span.getOrElse(
      throw new IllegalStateException(s"untraced call ${q.q}")))
    val jobs = spans.map(t.jobsIn)
    val perCall = calls.zip(jobs).map { case (q, js) =>
      val topKEnd = q.span.get.startMs + q.prof.totalSec * 1000
      val dictEnd = q.span.get.startMs + q.prof.dictSec * 1000 + 1
      val scanJobs = js.filter(j => j.submitMs <= topKEnd && j.endMs > dictEnd)
      val driver = q.prof.totalSec * 1000 - q.prof.dictSec * 1000 -
        q.prof.scoreSec * 1000 - scanJobs.map(_.wallMs).sum
      (driver, js.map(_.wallMs).sum.toDouble)
    }
    m("query.driver_ms") = Stats.median(perCall.map(_._1))
    m("query.job_ms") = Stats.median(perCall.map(_._2))
    m("query.jobs_per_query") = Stats.mean(jobs.map(_.size.toDouble))
    m("query.tasks_per_query") = Stats.mean(jobs.map(_.map(_.tasks).sum.toDouble))
    m("query.bytes_read_per_query") = Stats.mean(jobs.map(_.map(_.inputBytes).sum.toDouble))
    m("query.score_ms") = med(_.prof.scoreSec * 1000)
    m("query.dict_ms") = med(_.prof.dictSec * 1000)
    m("query.open_ms") = Stats.median(o.opensMs)
    m("query.segments") = med(_.segments.toDouble)
    val scored = calls.filter(_.prof.path != "empty")
    m("query.local_path_frac") = scored.count(_.prof.path == "local").toDouble / scored.size

    // ---- index ----
    val ledger = c.spark.read.parquet(c.io.metricsDir)
      .filter(col("partitionId") >= 0 && col("process") === "sync")
      .agg(sum("bytes"), sum("postings")).head()
    m("index.bytes_per_posting") = ledger.getLong(0).toDouble / ledger.getLong(1)

    // ---- sync ----
    Sync.stageSeconds(c, o.bulk).foreach { case (s, v) => m(s"sync.bulk.${s}_s") = v }
    val measured = deltas.filter(_.kind == "delta")
    val stages = measured.map(Sync.stageSeconds(c, _))
    Sync.Stages.foreach(s => m(s"sync.delta.${s}_s") = Stats.median(stages.map(_(s))))
    def batchJobs(b: Batch) = t.jobsIn(b.span.getOrElse(
      throw new IllegalStateException(s"untraced batch ${b.id}")))
    m("sync.jobs_per_batch") = Stats.mean(measured.map(batchJobs(_).size.toDouble))
    m("sync.compact_s") = Sync.stageSeconds(c, compact)("merge")
    val bulkJobs = batchJobs(o.bulk)
    m("sync.shuffle_bytes_per_batch") = bulkJobs.map(_.shuffleWrite).sum.toDouble
    m("sync.spill_bytes") = bulkJobs.map(_.spill).sum.toDouble
    val all = o.bulk +: (deltas :+ compact)
    m("sync.write_amp") = all.map(batchJobs(_).map(_.outputBytes).sum).sum.toDouble /
      all.map(_.textBytes).sum
    m("sync.purge_s") = purgeS

    // ---- sources ----
    m("sources.files_written_per_batch") = Stats.median(measured.map(_.filesWritten.toDouble))
    m("sources.bytes_written_per_batch") = Stats.median(measured.map(_.bytesWritten.toDouble))

    t.selfMsByLayer.foreach { case (l, v) => c.samples(s"self_ms.$l") = Seq(v) }
  }
}
