package graft.sync

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import graft.{IndexBlock, MetricsRow}
import graft.sources.TableIO

/** Lineage + metrics ledger — the ors_* stats-table analog (reference:
  * lib/stats/setUp.js:7-142 creates ors_{sync,purge,reconcile}_*;
  * cumulative per-page counters lib/stats/sync.js:46-60; purge rows keep a
  * sample of purged ids, lib/stats/purge.js:46-57).
  *
  * Per-partition rows/bytes/terms/postings are derived from the segment's
  * block metadata grouped by the shuffle partition the (term,bucket) key
  * hashes to — an honest picture of how the build's shuffle distributed
  * (skew shows up directly as a fat partition row).
  */
object Metrics {

  /** Per-shuffle-partition lineage of a built segment. */
  def segmentMetrics(spark: SparkSession, blocks: Dataset[IndexBlock],
                     batchId: String, process: String,
                     numPartitions: Int, millis: Long): DataFrame = {
    import spark.implicits._
    blocks
      .withColumn("partitionId",
        pmod(hash($"term", $"bucket"), lit(numPartitions)).cast("int"))
      .groupBy($"partitionId")
      .agg(
        sum($"count").cast("long").as("postings"),
        count(lit(1)).cast("long").as("blocks"),
        approx_count_distinct($"term").as("terms"),
        (sum(length($"docIdsVB")) + sum(length($"tfsVB")) +
          sum(length($"dlsVB"))).cast("long").as("bytes"))
      .select(
        lit(batchId).as("batch_id"),
        lit(process).as("process"),
        $"partitionId",
        $"blocks".as("rows"),
        $"bytes",
        $"terms".cast("long").as("terms"),
        $"postings",
        lit(millis).as("millis"),
        lit("success").as("result"),
        lit(null).cast("string").as("error"))
  }

  /** One driver-level row (stage timing, purge counts, errors…). */
  def driverRow(spark: SparkSession, batchId: String, process: String,
                rows: Long, millis: Long, result: String,
                error: String = null): DataFrame = {
    import spark.implicits._
    Seq(MetricsRow(batchId, process, -1, rows, 0L, 0L, 0L, millis, result,
      Option(error).getOrElse(""))).toDF()
  }

  def append(io: TableIO, df: DataFrame): Unit =
    io.appendParquet(df, io.metricsDir)

  /** An error that is already in the metrics ledger — the budget wrapper
    * must not double-record it.
    */
  class RecordedError(msg: String) extends IllegalStateException(msg)

  /** Per-batch error budget (reference: 3 strikes then the batch is
    * refused, destinationManager.js:30, 185-188). Failures land in the
    * metrics ledger as result='error' rows; once a batch has MaxErrors of
    * them, further attempts refuse outright instead of burning cluster
    * time on a poisoned batch.
    */
  val MaxErrors = 3

  /** The batch's recorded failures, read on the driver with no Spark job:
    * the ledger's files through [[TableIO.readLocal]] with the
    * [[MetricsRow]] schema and `batch_id` pushed.
    */
  def errorCount(io: TableIO, batchId: String, process: String): Long =
    if (!io.exists(io.metricsDir)) 0L
    else {
      val (pushed, keep) = TableIO.stringIn("batch_id", BatchIdOrdinal, Seq(batchId))
      io.readLocal(Seq(io.metricsDir), RowEncoder, Some(pushed))(keep).get
        .count(r => r.process == process && r.result == "error")
    }

  private val RowEncoder = ExpressionEncoder[MetricsRow]().resolveAndBind()
  private val BatchIdOrdinal = RowEncoder.schema.fieldIndex("batch_id")

  def checkBudget(io: TableIO, batchId: String, process: String): Unit = {
    val n = errorCount(io, batchId, process)
    if (n >= MaxErrors)
      throw new IllegalStateException(
        s"$process batch $batchId refused: $n recorded failures >= " +
          s"$MaxErrors (reference 3-strikes rule, " +
          "destinationManager.js:185-188)")
  }

  /** Transient-error classification for the stage retry below: I/O-layer
    * hiccups (filesystem / network) anywhere in the cause chain. The
    * reference draws the same line — downloads retry ×3 on 5xx /
    * EAI_AGAIN (downloader.js:301-337) BEFORE a strike accrues at the
    * batch layer (destinationManager.js:185-188); logic errors are never
    * transient.
    */
  private[sync] def isTransient(e: Throwable, depth: Int = 0): Boolean =
    e match {
      case null => false
      case _: RecordedError => false
      case _: java.io.IOException => true
      case e if depth < 8 && e.getCause != null && (e.getCause ne e) =>
        isTransient(e.getCause, depth + 1)
      case _ => false
    }

  /** Run a job body under the error budget: refuse if the batch already
    * burned its strikes; retry ONCE on a transient failure (stages are
    * checkpointed + staged, so a rerun is idempotent and resumes at the
    * failed stage); record any persistent failure as a result='error'
    * row — mirroring the reference's retry-then-strike layering.
    */
  def withBudget[A](spark: SparkSession, io: TableIO, batchId: String,
                    process: String, t0: Long)(body: => A): A = {
    checkBudget(io, batchId, process)
    def attempt(retriesLeft: Int): A =
      try body
      catch {
        case e: RecordedError => throw e
        case e: Exception if retriesLeft > 0 && isTransient(e) =>
          System.err.println(s"[graft] $process $batchId: transient failure " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — retrying " +
            "stage before burning a strike")
          attempt(retriesLeft - 1)
        case e: Exception =>
          append(io, driverRow(spark, batchId, process, 0L,
            System.currentTimeMillis() - t0, "error",
            Option(e.getMessage).getOrElse(e.getClass.getName).take(500)))
          throw e
      }
    attempt(1)
  }
}
