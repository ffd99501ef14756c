package graft.sync

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.PageRow
import graft.sources.TableIO

/** Reconcile — find rows the index missed or holds stale, and re-index
  * exactly those.
  *
  * Reference semantics (doReconcile, server/index.js:384-392): key+timestamp
  * full scan of the source (downloader.js:544-636), hash-diff against the
  * destination's key+timestamp scan on a worker thread — emit a key if it
  * is absent from the destination OR any timestamp field differs, with
  * null/null equal and null/value different (dataAdapters/mysql/worker.js:16-49)
  * — then point-fetch the missing records (`pk in (...)`, chunked) and push
  * them through the same sync processor (batchType 'missing',
  * destinationManager.js:49-54).
  *
  * Spark shape: left join on the key with a null-safe timestamp inequality
  * (src left-join dest, keep rows where dest.url is null or
  * NOT src.warc_ts <=> dest.warc_ts), then a left_semi join back to the
  * source for the full rows (the `pk in (...)` fetch — URL-length chunking
  * disappears, the join IS the batch fetch), then the shared
  * segment→merge→publish tail.
  */
object ReconcileJob {

  case class Result(batchId: String, reindexed: Long, millis: Long)

  val Process = "reconcile"

  def run(spark: SparkSession, io: TableIO, pages: Dataset[PageRow],
          batchTs: Timestamp, resource: String = "pages"): Result = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val batchId = Checkpoint.toBatchId(batchTs)
    val cp = new Checkpoint(spark, io)
    if (cp.isDone(batchId, Process, resource, "publish"))
      return Result(batchId, 0L, 0L)

    val release = io.acquireLock(s"reconcile:$batchId")
    try Metrics.withBudget(spark, io, batchId, Process, t0) {
      runLocked(spark, io, cp, pages, batchId, resource, t0)
    } finally release()
  }

  private def runLocked(spark: SparkSession, io: TableIO, cp: Checkpoint,
                        pages: Dataset[PageRow], batchId: String,
                        resource: String, t0: Long): Result = {
    import spark.implicits._
    if (!cp.isDone(batchId, Process, resource, "analyze")) {
      val current = Tables.loadCurrent(spark, io)
      // key+timestamp scans on both sides (S3 column pruning)
      val src = pages.select($"url", $"warc_ts")
      val dest = current.map(_.docs.select($"url", $"warc_ts".as("indexed_ts")))
        .getOrElse(spark.emptyDataset[(String, Timestamp)]
          .toDF("url", "indexed_ts"))
      // J2 diff: missing OR any timestamp differs (null-safe equality)
      val missingOrChanged = src
        .join(dest, Seq("url"), "left_outer")
        .where($"indexed_ts".isNull || !($"warc_ts" <=> $"indexed_ts"))
        .select($"url")
      // S4/J4: fetch full records for the id list via semi join; a
      // source scan can hold the same url twice (re-crawl) — the shared
      // analyze step collapses it to the newest, like the sync path
      SyncJob.stageAnalyzed(spark, io, cp, batchId, Process, resource,
        pages.join(missingOrChanged, Seq("url"), "left_semi").as[PageRow])
    }

    val r = SyncJob.runFromAnalyzed(spark, io, cp, batchId, Process,
      resource, t0)
    Result(batchId, r.deltaRows, r.millis)
  }
}
