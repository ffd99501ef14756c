package graft.sync

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.PageRow
import graft.sources.TableIO

/** Purge — remove index entries whose source row disappeared.
  *
  * Reference semantics (doPurge, server/index.js:377-382): key-only scan
  * of the source (`$select=primaryKey`, downloader.js:429-542), then
  * idsToPurge = destination ids − source ids (the set difference at
  * destinationManager.js:358), guarded by a hard safety cap of 5000
  * (destinationManager.js:361-366), then per-destination deletes.
  *
  * Spark shape: one `left_anti` join of the docs table's keys against the
  * source's key-only projection (column pruning = the `$select` analog),
  * then an O(delta) tombstone append — no posting block is rewritten; the
  * dead docIds drop out of queries immediately and out of the data at the
  * next compaction (like Solr deleteByQuery marking docs dead until a
  * Lucene segment merge, solr.js:169-185).
  */
object PurgeJob {

  case class Result(batchId: String, purged: Long, millis: Long)

  val Process = "purge"

  /** Reference's hard cap (destinationManager.js:361-366). */
  val DefaultMaxPurge = 5000L

  def run(spark: SparkSession, io: TableIO, pages: Dataset[PageRow],
          batchTs: Timestamp, maxPurge: Long = DefaultMaxPurge,
          resource: String = "pages"): Result = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val batchId = Checkpoint.toBatchId(batchTs)
    val cp = new Checkpoint(spark, io)
    if (cp.isDone(batchId, Process, resource, "publish"))
      return Result(batchId, 0L, 0L)

    val release = io.acquireLock(s"purge:$batchId")
    try Metrics.withBudget(spark, io, batchId, Process, t0) {
      runLocked(spark, io, cp, pages, batchId, maxPurge, resource, t0)
    } finally release()
  }

  private def runLocked(spark: SparkSession, io: TableIO, cp: Checkpoint,
                        pages: Dataset[PageRow], batchId: String,
                        maxPurge: Long, resource: String, t0: Long): Result = {
    import spark.implicits._
    val current = Tables.loadCurrent(spark, io).getOrElse(
      throw new IllegalStateException("purge: no published index"))

    // key-only scans on both sides (S2 column pruning), anti-join (J1)
    val srcKeys = pages.select($"url")
    val toPurge = current.docs.select($"docId", $"url")
      .join(srcKeys, Seq("url"), "left_anti")
      .select($"docId").as[Long]
      .persist()
    try {
      val nPurge = toPurge.count()
      if (nPurge > maxPurge) {
        Metrics.append(io, Metrics.driverRow(spark, batchId, Process, nPurge,
          System.currentTimeMillis() - t0, "error",
          s"purge count $nPurge exceeds cap $maxPurge"))
        throw new Metrics.RecordedError(
          s"purge: $nPurge ids exceed safety cap $maxPurge — refusing " +
            "(reference semantics: destinationManager.js:361-366)")
      }
      if (!cp.isDone(batchId, Process, resource, "merge")) {
        if (Tables.needsCompaction(current))
          Tables.compactVersion(spark, io, current, batchId, None, toPurge, nPurge)
        else
          Tables.appendVersion(spark, io, current, batchId, None, toPurge, nPurge)
        cp.markDone(batchId, Process, resource, "merge")
      }
      if (!cp.isDone(batchId, Process, resource, "publish")) {
        io.publish(batchId)
        Metrics.append(io, Metrics.driverRow(spark, batchId, Process, nPurge,
          System.currentTimeMillis() - t0, "success"))
        cp.markDone(batchId, Process, resource, "publish")
        io.gcVersions()
      }
      Result(batchId, nPurge, System.currentTimeMillis() - t0)
    } finally toPurge.unpersist()
  }
}
