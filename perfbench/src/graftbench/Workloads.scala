package graftbench

import scala.collection.mutable
import graft.{Hit, ScoredDoc}
import graft.analysis.Tokenizer
import graft.corpus.Corpus
import graft.query.IndexReader

/** One measured query call. */
final case class QCall(q: String, wallMs: Double, prof: IndexReader.QueryProfile,
                       span: Option[Span], segments: Int, files: Int = -1)

/** What a workload hands the traced-run reduction: its last reader, its
  * measured query calls, its batches and reader opens, its last cycle.
  */
final case class Outcome(reader: IndexReader, calls: Seq[QCall], bulk: Batch,
                         deltas: Seq[Batch], opensMs: Seq[Double], cycle: Int)

object Workloads {

  private def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def sameHits(a: Array[Hit], b: Array[Hit]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.docId == y.docId &&
        java.lang.Double.doubleToRawLongBits(x.score) ==
          java.lang.Double.doubleToRawLongBits(y.score)
    }

  private def hitsOf(r: Array[ScoredDoc]): Array[Hit] = r.map(d => Hit(d.docId, d.score))

  private def utf8(s: String): Long = s.getBytes("UTF-8").length.toLong

  /** Text bytes of the corpus slice as the bulk build ingests it. */
  private def sliceText(g: Gen): Long =
    java.util.stream.LongStream.range(g.offset, g.hi0).parallel()
      .map(i => utf8(Corpus.text(i))).sum()

  // ---- search_hot ---------------------------------------------------

  /** Fixed warm-up: passes over the query stream (42 calls) before
    * measuring. After a cold build, the p50 of the first 60 or so topK calls
    * is about 1.3x the p50 that follows; it then falls more slowly for a
    * few hundred calls, which the fixed count repeats in every run.
    */
  val WarmupPasses = 2
  /** Measured passes over the query stream (105 calls). */
  val MeasuredPasses = 5

  /** The measured runs use the default pass counts; the build's class-data
    * archive run needs only the classes, so it runs one pass and no warm-up.
    */
  def searchHot(c: Ctx, warmupPasses: Int = WarmupPasses,
                measuredPasses: Int = MeasuredPasses): Outcome = {
    val g = c.gen
    val bulk0 = Sync.bulk(c)
    c.op("bulk")
    val (reader, openMs) = c.timed(
      c.trace.span("query.open", "query")(new IndexReader(c.spark, c.root)))
    // refresh lag of the build: its start until a topK returns one of its docs
    val (first, firstMs) = c.timed(reader.topK(g.stream.head._2, 10))
    val lagS = (bulk0.wallMs + openMs + firstMs) / 1000.0
    val indexBytes = c.rootBytes()
    c.phase("build")

    (1 to warmupPasses).foreach(_ => g.stream.foreach { case (_, q) => reader.topK(q, 10) })

    // measured: the stream in order, a fixed number of passes
    val calls = mutable.ArrayBuffer.empty[QCall]
    val results = mutable.HashMap.empty[String, Array[Hit]]
    val repeatOk = mutable.ArrayBuffer.empty[(String, Boolean)]
    val gc0 = c.gcMs()
    c.phase("warmup")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val t0 = System.nanoTime()
    for (i <- 0 until measuredPasses * g.stream.length) {
      val q = g.stream(i % g.stream.length)._2
      val (hits, ms) = c.timed(c.trace.span("query.topK", "query")(reader.topK(q, 10)))
      calls += QCall(q, ms, IndexReader.lastProfile,
        c.trace.last.filter(_.name == "query.topK"), reader.segments.size)
      val id = c.op(s"q$i")
      results.get(q) match {
        case Some(prev) => repeatOk += id -> sameHits(prev, hits)
        case None => results(q) = hits
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    c.metrics("jvm.gc_ms") = (c.gcMs() - gc0).toDouble
    c.phase("measure")

    val ms = calls.map(_.wallMs).toSeq
    c.metrics("setup_s") = setupS
    c.metrics("bm25_p50_ms") = Stats.median(ms)
    c.metrics("bm25_qps") = calls.length / loopS
    c.metrics("refresh_lag_s") = lagS
    c.samples("bm25_ms") = ms
    c.samples("bm25_p90_ms") = Seq(Stats.quantile(ms, 0.9))

    // ---- checks, off the clock ----
    val firstOp = calls.indices.map(k => calls(k).q -> s"q$k").reverse.toMap
    c.check("first_topk_nonempty", "bulk")(first.nonEmpty)
    repeatOk.foreach { case (id, ok) => c.check("repeat_identical", id)(ok) }
    results.foreach { case (q, hits) =>
      c.check("wand_equals_exhaustive", firstOp(q))(
        sameHits(hits, reader.topK(q, 10, useWand = false)))
    }
    Sync.checkExtraction(c, "bulk", Sync.bulkSample(c))
    c.check("live_doc_count", "bulk")(
      reader.stats.n == g.docs && reader.docs.count() == g.docs)

    val text = sliceText(g)
    c.metrics("index_bytes_per_text_byte") = indexBytes.toDouble / text
    c.samples("index_bytes") = Seq(indexBytes.toDouble)
    c.samples("live_text_bytes") = Seq(text.toDouble)
    c.phase("checks")
    Outcome(reader, calls.toSeq, bulk0.copy(textBytes = text), Nil, Seq(openMs), 0)
  }

  // ---- refresh ------------------------------------------------------

  /** Measured cycles: one sync batch, a re-opened reader, searches. Three
    * cycles, not more, so that a comparison of two commits (2 builds and 48
    * runs) fits its time budget; see perfbench/README.md.
    */
  val Cycles = 3

  def title(i: Long): String = s"Document $i"

  def refresh(c: Ctx): Outcome = {
    val g = c.gen
    val bulk0 = Sync.bulk(c)
    c.op("bulk")
    c.phase("build")
    val warmReader = new IndexReader(c.spark, c.root)
    g.warmupRows.foreach(i => warmReader.search(title(i), 10))
    val ingested = mutable.ArrayBuffer.empty[(String, Seq[graft.PageRow])]

    val calls = mutable.ArrayBuffer.empty[QCall]
    val lags = mutable.ArrayBuffer.empty[Double]
    val opens = mutable.ArrayBuffer.empty[Double]
    val deltas = mutable.ArrayBuffer.empty[Batch]
    var reader: IndexReader = null
    var liveDocs = g.docs.toLong
    var searchMs = 0.0
    var gcMs = 0L
    c.phase("warmup")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    for (n <- 1 to Cycles) {
      val gc0 = c.gcMs()
      val (b, rows) = Sync.cycle(c, n, "delta")
      val cycleOp = c.op(s"cycle$n")
      deltas += b
      val (rd, openMs) = c.timed(
        c.trace.span("query.open", "query")(new IndexReader(c.spark, c.root)))
      reader = rd
      opens += openMs
      liveDocs += Gen.NewPerCycle
      val marker = g.newRows(n)._1
      val targets = marker +: g.titleRows(n)
      val answers = targets.map { i =>
        val q = title(i)
        val (res, ms) = c.timed(c.trace.span("query.search", "query")(rd.search(q, 10)))
        val call = QCall(q, ms, IndexReader.lastProfile,
          c.trace.last.filter(_.name == "query.search"), rd.segments.size)
        searchMs += ms
        if (i == marker) lags += (b.wallMs + openMs + ms) / 1000.0
        // off the clock from here to the next search
        val withFiles = if (c.trace.on) call.copy(files = rd.filesForQuery(q).size) else call
        calls += withFiles
        (i, q, res, c.op(s"cycle$n.search${calls.length}"))
      }
      gcMs += c.gcMs() - gc0
      c.phase(s"cycle$n")

      // ---- checks, off the clock ----
      answers.foreach { case (i, q, res, id) =>
        c.check("title_search_finds_doc", id)(
          res.headOption.exists(_.url == Corpus.url(i)))
        c.check("wand_equals_exhaustive", id)(
          sameHits(hitsOf(res), rd.topK(q, 10, useWand = false)))
      }
      c.check("live_doc_count", cycleOp)(rd.stats.n == liveDocs)
      ingested += cycleOp -> rows
      c.phase(s"checks$n")
    }
    c.metrics("jvm.gc_ms") = gcMs.toDouble
    c.check("live_doc_count", s"cycle$Cycles")(reader.docs.count() == liveDocs)
    checkRecrawls(c, reader, deltas.toSeq)
    Sync.checkExtraction(c, "bulk", Sync.bulkSample(c))
    ingested.foreach { case (id, rows) =>
      Sync.checkExtraction(c, id, c.spark.createDataset(rows)(
        org.apache.spark.sql.Encoders.product[graft.PageRow]))
    }

    val ms = calls.map(_.wallMs).toSeq
    c.metrics("setup_s") = setupS
    c.metrics("bm25_p50_ms") = Stats.median(ms)
    c.metrics("bm25_qps") = calls.length / (searchMs / 1000.0)
    c.metrics("refresh_lag_s") = Stats.median(lags.toSeq)
    c.samples("bm25_ms") = ms
    c.samples("refresh_lag_s") = lags.toSeq
    c.samples("bm25_p90_ms") = Seq(Stats.quantile(ms, 0.9))

    // live text after the last cycle: the slice, each re-crawl's new text
    // in place of its old one, and the new rows
    val indexBytes = c.rootBytes()
    val bulkText = sliceText(g)
    val text = bulkText + (1 to Cycles).map { n =>
      val (lo, hi) = g.newRows(n)
      g.recrawls(n).map(i => utf8(Gen.recrawlText(i, n)) - utf8(Corpus.text(i))).sum +
        (lo until hi).map(i => utf8(Corpus.text(i))).sum
    }.sum
    c.metrics("index_bytes_per_text_byte") = indexBytes.toDouble / text
    c.samples("index_bytes") = Seq(indexBytes.toDouble)
    c.samples("live_text_bytes") = Seq(text.toDouble)
    c.phase("checks")
    Outcome(reader, calls.toSeq, bulk0.copy(textBytes = bulkText), deltas.toSeq,
      opens.toSeq, Cycles)
  }

  /** Every cycle's re-crawled urls, on the final reader: each has exactly
    * one live row, from its cycle's batch, with the new text's doclen; the
    * new revision tokens find exactly those rows; the old title numbers
    * find nothing.
    */
  def checkRecrawls(c: Ctx, rd: IndexReader, batches: Seq[Batch]): Unit = {
    import c.spark.implicits._
    val cycles = (1 to batches.length).map(n => (n, s"cycle$n", batches(n - 1), c.gen.recrawls(n)))
    val all = cycles.flatMap(_._4)
    val live = rd.docs.filter($"url".isin(all.map(Corpus.url): _*))
      .select($"url", $"docId", $"batch_id", $"doclen").as[(String, Long, String, Int)]
      .collect()
    val byUrl = live.groupBy(_._1)
    val newHits = rd.topK(cycles.flatMap { case (n, _, _, ts) =>
      ts.map(Gen.recrawlToken(_, n)) }.mkString(" "), all.length).map(_.docId).toSet
    val oldHits = rd.topK(all.map(_.toString).mkString(" "), all.length).map(_.docId).toSet
    cycles.foreach { case (n, opId, b, targets) =>
      val rows = targets.map(i => byUrl.getOrElse(Corpus.url(i), Array.empty))
      c.check("recrawl_live_once", opId)(targets.zip(rows).forall { case (i, rs) =>
        rs.length == 1 && rs(0)._3 == b.id &&
          rs(0)._4 == Tokenizer.tokenize(Gen.recrawlText(i, n)).length
      })
      val ids = rows.flatten.map(_._2).toSet
      c.check("recrawl_new_text_found", opId)(
        ids.size == targets.length && ids.subsetOf(newHits) && newHits.size == all.length)
      c.check("recrawl_old_text_gone", opId)(oldHits.isEmpty)
    }
  }
}
