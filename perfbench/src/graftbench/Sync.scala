package graftbench

import java.sql.Timestamp
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Dataset
import graft.PageRow
import graft.corpus.Corpus
import graft.index.SegmentBuilder
import graft.sync.SyncJob

/** One sync batch as the benchmark saw it from outside the engine. */
final case class Batch(kind: String, id: String, startMs: Long, wallMs: Double,
                       textBytes: Long, filesWritten: Int, bytesWritten: Long,
                       span: Option[Span])

/** Sync batches, their inputs, and the checks on them. */
object Sync {

  def textBytes(rows: Iterable[PageRow]): Long =
    rows.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum

  /** The bulk build of the seed's corpus slice. */
  def bulk(c: Ctx): Batch = {
    val g = c.gen
    run(c, "bulk", Corpus.pagesRange(c.spark, g.offset, g.hi0, 2 * c.nproc),
      g.batchTs(g.hi0), 0L)
  }

  /** Cycle `n`'s pages: new corpus rows plus re-crawls of slice rows. */
  def cycleRows(c: Ctx, n: Int): (Seq[PageRow], Timestamp) = {
    val (lo, hi) = c.gen.newRows(n)
    val ts = c.gen.batchTs(hi)
    ((lo until hi).map(Corpus.row) ++
      c.gen.recrawls(n).map(i => Gen.recrawlRow(i, n, ts)), ts)
  }

  def cycle(c: Ctx, n: Int, kind: String): (Batch, Seq[PageRow]) = {
    import c.spark.implicits._
    val (rows, ts) = cycleRows(c, n)
    (run(c, kind, c.spark.createDataset(rows), ts, textBytes(rows)), rows)
  }

  /** Run one batch, timing it and diffing the files under the index root
    * before and after (the batch's small-file and segment writes).
    */
  def run(c: Ctx, kind: String, pages: Dataset[PageRow], ts: Timestamp,
          text: Long): Batch = {
    val before = c.listing()
    val startMs = System.currentTimeMillis()
    val (r, ms) = c.timed(c.trace.span(s"sync.$kind", "sync") {
      SyncJob.run(c.spark, c.io, pages, ts)
    })
    val span = c.trace.last
    val after = c.listing()
    val written = after.filter { case (p, n) => !before.get(p).contains(n) }
    Batch(kind, r.batchId, startMs, ms, text, written.size, written.values.sum,
      span.filter(_.name == s"sync.$kind"))
  }

  /** Every 10th page of the bulk slice (2,000 pages): the bulk set that
    * `checkExtraction` covers, so the check does not re-extract 20,000 pages.
    */
  def bulkSample(c: Ctx): Dataset[PageRow] = {
    import c.spark.implicits._
    c.spark.range(c.gen.offset, c.gen.hi0, 10, c.nproc).map(i => Corpus.row(i))
  }

  /** Extraction of every given page is byte-identical to its text. */
  def checkExtraction(c: Ctx, opId: String, pages: Dataset[PageRow]): Unit =
    c.check("extraction_identical", opId)(SegmentBuilder.verifyExtraction(pages) == 0L)

  private val StampRe =
    ("""\{"batch_id":"([^"]+)","process":"([^"]+)","resource":"[^"]+",""" +
      """"stage":"([^"]+)","done":true,"updated_at":"([^"]+)"\}""").r

  val Stages = Seq("analyze", "segment", "merge", "publish")

  /** Seconds of each sync stage of `b`, from the checkpoint log's
    * `updated_at` stamps: a stage runs from the previous stage's stamp (the
    * batch start for analyze) to its own. A missing stamp is an error.
    */
  def stageSeconds(c: Ctx, b: Batch): Map[String, Double] = {
    val dir = new java.io.File(c.io.checkpointsDir)
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".json"))
    val stamps = files.flatMap { f =>
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)
      StampRe.findAllMatchIn(s).filter(m => m.group(1) == b.id && m.group(2) == "sync")
        .map(m => m.group(3) -> Timestamp.valueOf(m.group(4)).getTime)
    }.toMap
    val missing = Stages.filterNot(stamps.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"checkpoint log has no stamp for ${missing.mkString(",")} of batch ${b.id}")
    val ends = Stages.map(stamps)
    Stages.zip(b.startMs +: ends.init).zip(ends).map { case ((s, from), to) =>
      s -> (to - from) / 1000.0
    }.toMap
  }
}
