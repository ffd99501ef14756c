package graft.sync

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.PageRow
import graft.index.SegmentBuilder
import graft.sources.TableIO

/** Incremental index sync — the doSync path re-expressed as one Spark DAG
  * (reference lifecycle: download watermark-bounded pages → staged batch
  * files → per-destination upserts; lib/sync/downloader.js:339-427 +
  * destinationManager.js:48-165).
  *
  * Stages, each checkpointed and staged so a killed run resumes without
  * recomputation (the done-flag discipline of downloader.js:345-425):
  *
  *   analyze  — watermark filter (P3 semantics: ts in (lastMax, batchTs],
  *              `>=` when the watermark is epoch-0, downloader.js:185-192
  *              getOp) → extract+tokenize → staged analyzed parquet
  *   segment  — docId collision check → delta docs + posting blocks staged
  *   merge    — LSM step: adopt the delta as a new segment + tombstones
  *              (O(delta)); every compactThreshold batches, compact
  *   publish  — atomic `current` flip + metrics append + staging cleanup
  *              (the reference deletes processed batch files,
  *              destinationManager.js:228-229)
  */
object SyncJob {

  case class Result(batchId: String, deltaRows: Long, millis: Long)

  /** Structured stage log — the EventEmitter ors:* analog
    * (destinationManager.js:95-98,154,159).
    */
  private[sync] def logStage(batchId: String, stage: String, millis: Long): Unit =
    if (sys.env.get("GRAFT_STAGE_LOG").contains("1"))
      System.err.println(s"[graft:sync] batch=$batchId stage=$stage millis=$millis")

  private[sync] def timed[A](batchId: String, stage: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    val a = f
    logStage(batchId, stage, System.currentTimeMillis() - t0)
    a
  }

  val Process = "sync"
  val Epoch0 = new Timestamp(0L)

  /** Sync one batch: the pages in the watermark window are deduped by
    * url, analyzed and staged as the batch's flat, docId-sorted fwd
    * ([[stageAnalyzed]]; an initial build and a delta write it the same
    * way), then segmented, merged and published.
    *
    * @param userFilter P4: an arbitrary source predicate AND-composed
    *                    before the watermark (the reference's `$filter`
    *                    endpoint fragment, config.example.js:18-23,
    *                    composed at downloader.js:212-216)
    * @param dryRun     S11 devnull analog: run analyze + segment +
    *                    collision check and record a metrics row, but
    *                    never merge or publish — a write-audit pass that
    *                    costs no index mutation. The staged output and
    *                    checkpoint flags remain, so a later real run of
    *                    the same batch resumes straight at the merge.
    */
  def run(spark: SparkSession, io: TableIO, pages: Dataset[PageRow],
          batchTs: Timestamp, resource: String = "pages",
          userFilter: Option[org.apache.spark.sql.Column] = None,
          dryRun: Boolean = false): Result = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val batchId = Checkpoint.toBatchId(batchTs)
    val cp = new Checkpoint(spark, io)

    if (cp.isDone(batchId, Process, resource, "publish"))
      return Result(batchId, 0L, 0L)

    // single-flight guard: two drivers racing one root would corrupt
    // `current` (reference: areAnyJobsFromSourceRunning, jobs.js:1-7);
    // error budget: a batch with 3 recorded failures is refused
    val release = io.acquireLock(s"sync:$batchId")
    try Metrics.withBudget(spark, io, batchId, Process, t0) {
      val src = userFilter.map(pages.filter).getOrElse(pages)
      runLocked(spark, io, cp, src, batchTs, batchId, resource, t0, dryRun)
    } finally release()
  }

  private def runLocked(spark: SparkSession, io: TableIO, cp: Checkpoint,
                        pages: Dataset[PageRow], batchTs: Timestamp,
                        batchId: String, resource: String,
                        t0: Long, dryRun: Boolean): Result = {
    import spark.implicits._

    // ---- analyze ----------------------------------------------------
    if (!cp.isDone(batchId, Process, resource, "analyze")) timed(batchId, "analyze") {
      // closed interval (lo, batchTs]; `>=` when starting from epoch-0
      val lo = timed(batchId, "analyze.watermark") { primaryLo(spark, io) }
      val pred = Watermark.predicate(
        Map("warc_ts" -> lo), batchTs, Seq("warc_ts"))
      stageAnalyzed(spark, io, cp, batchId, Process, resource, pages.filter(pred))
    }

    runFromAnalyzed(spark, io, cp, batchId, Process, resource, t0, dryRun)
  }

  case class BatchResult(batchId: String, perResource: Map[String, Long])

  /** Backfill-scale sync with MID-RESOURCE resume granularity — the
    * reference resumes inside a resource at the first unfinished
    * file × destination (destinationManager.js:99-134); the Spark-native
    * analog splits a huge crawl window into TIME CHUNKS and syncs each as
    * its own checkpointed batch: a kill loses at most one chunk's work,
    * and a rerun's first chunks are published no-ops (their batch
    * checkpoints short-circuit). The watermark advances per chunk, so
    * each chunk's predicate is exactly (prevChunkEnd, chunkEnd]; LSM
    * compaction amortizes the extra segments at the usual threshold.
    *
    * @param chunkMs chunk width in event-time millis
    * @return one Result per executed chunk, in order
    */
  def runChunked(spark: SparkSession, io: TableIO, pages: Dataset[PageRow],
                 batchTs: Timestamp, chunkMs: Long,
                 resource: String = "pages"): Seq[Result] = {
    require(chunkMs > 0, "chunkMs must be positive")
    import spark.implicits._
    val wm = primaryLo(spark, io).getTime
    val hi = batchTs.getTime
    // anchor chunking at the NEW data's earliest timestamp (one narrow
    // ts-column scan of the window) — chunking from the watermark alone
    // would manufacture one full published batch per empty chunk across
    // any idle gap (and an epoch-0 initial watermark would chunk from
    // 1970)
    val newRows = pages
      .filter($"warc_ts" > new Timestamp(wm) && $"warc_ts" <= batchTs)
    val minNew = Option(newRows
      .agg(min($"warc_ts")).head().getTimestamp(0))
      .map(_.getTime - 1).getOrElse(return Seq.empty)
    val lo = math.max(wm, minNew)
    if (hi <= lo) return Seq.empty
    // chunk bounds come from the window's ACTUAL timestamp distribution
    // (one narrow ts-column scan: the distinct chunk buckets that hold
    // rows) — a fixed arithmetic range would publish one full no-op
    // batch per empty chunk across any in-window gap (a week-long hole
    // inside a crawl backfill). Chunk i covers (lo+i·w, lo+(i+1)·w];
    // the collected set is bounded by the number of NON-EMPTY chunks.
    val occupied = newRows
      .select(floor((unix_millis($"warc_ts") - lo - 1) / chunkMs).as("c"))
      .distinct().as[Long].collect().sorted
    val bounds = occupied.map(i => math.min(lo + (i + 1) * chunkMs, hi))
    // the final chunk publishes at the caller's overall bound (trailing
    // empty space folds into it — same coverage, no extra batch)
    val boundsAdj = bounds.init :+ hi
    boundsAdj.toSeq.map(t => run(spark, io, pages, new Timestamp(t), resource))
  }

  /** Multi-resource batch: one batch syncs a LIST of resources, each into
    * its own index root (`root/resources/<name>` — the reference gives
    * each resource its own table / Solr core), with per-resource done
    * flags in the shared top-level checkpoint so a killed batch resumes
    * at the first unfinished resource (downloader.js:93-106 per-resource
    * processing). Changing the configured resource list mid-batch is an
    * error, mirroring filterMlsResourcesFromBatch's throw.
    */
  def runBatch(spark: SparkSession, io: TableIO,
               resources: Seq[(String, Dataset[PageRow])],
               batchTs: Timestamp): BatchResult = {
    val batchId = Checkpoint.toBatchId(batchTs)
    val cp = new Checkpoint(spark, io)
    val names = resources.map(_._1)
    val listFile = s"${io.root}/staging/$batchId/resources"
    io.readSmallFile(listFile) match {
      case Some(prev) if prev.trim != names.mkString(",") =>
        throw new IllegalStateException(
          s"resource list changed mid-batch $batchId: batch started with " +
            s"[${prev.trim}], now [${names.mkString(",")}] — refusing " +
            "(reference: filterMlsResourcesFromBatch, downloader.js:93-106)")
      case None => io.writeSmallFile(listFile, names.mkString(","))
      case _ =>
    }
    // the parent-root checkpoint is written here, so the parent root
    // takes its own single-flight lock (sub-roots lock separately inside
    // run(); paths are disjoint, no deadlock)
    val release = io.acquireLock(s"sync-batch:$batchId")
    val counts =
      try resources.map { case (name, pages) =>
        if (cp.isDone(batchId, "sync-batch", name, "done")) name -> 0L
        else {
          val sub = new TableIO(spark, s"${io.root}/resources/$name")
          val r = run(spark, sub, pages, batchTs, name)
          cp.markDone(batchId, "sync-batch", name, "done")
          name -> r.deltaRows
        }
      }.toMap
      finally release()
    io.deleteDir(s"${io.root}/staging/$batchId")
    BatchResult(batchId, counts)
  }

  /** The primary watermark: max indexed warc_ts over live docs. Reads
    * only the manifest + the docs tables' warc_ts column (and tombstones
    * when any exist): the version handle reads its stats and dict chain
    * only when asked.
    */
  private def primaryLo(spark: SparkSession, io: TableIO): Timestamp = {
    import spark.implicits._
    Tables.loadCurrent(spark, io)
      .flatMap(t => Option(t.docs.agg(max($"warc_ts")).head().getTimestamp(0)))
      .getOrElse(Epoch0)
  }

  /** Sync from a raw frame carrying EXTRA nullable update-timestamp
    * columns (reference P3 full semantics: a record is due when any
    * timestamp field advanced — e.g. a photo-set change without a record
    * change, downloader.js:194-243). `tsCols.head` must be "warc_ts";
    * secondary columns' watermarks persist in root/watermarks and advance
    * at publish. The frame must also carry the PageRow columns.
    */
  def runMultiTs(spark: SparkSession, io: TableIO,
                 raw: org.apache.spark.sql.DataFrame, tsCols: Seq[String],
                 batchTs: Timestamp, resource: String = "pages"): Result = {
    import spark.implicits._
    require(tsCols.headOption.contains("warc_ts"),
      "tsCols.head must be the primary warc_ts")
    val t0 = System.currentTimeMillis()
    val batchId = Checkpoint.toBatchId(batchTs)
    val cp = new Checkpoint(spark, io)
    // staged secondary maxima live OUTSIDE staging/<batchId>: the publish
    // stage deletes the staging dir, and a crash between publish and
    // promotion must not lose the batch's watermark advance (re-runs —
    // including re-runs of an already-published batch — promote leftovers)
    val wmStagedPath = s"${io.root}/wm-staged/$batchId"
    def promoteStaged(): Unit =
      io.readSmallFile(wmStagedPath).foreach { content =>
        val staged = content.linesIterator.filter(_.contains('=')).map { l =>
          val Array(c, ms) = l.split("=", 2)
          c -> new Timestamp(ms.trim.toLong)
        }.toMap
        val merged = (Watermark.read(io).toSeq ++ staged.toSeq)
          .groupBy(_._1).map { case (c, ts) => c -> ts.map(_._2).maxBy(_.getTime) }
        Watermark.write(io, merged)
        io.deleteDir(wmStagedPath)
      }
    if (cp.isDone(batchId, Process, resource, "publish")) {
      if (io.exists(wmStagedPath)) {
        val release = io.acquireLock(s"sync:$batchId")
        try promoteStaged() finally release()
      }
      return Result(batchId, 0L, 0L)
    }

    val release = io.acquireLock(s"sync:$batchId")
    try Metrics.withBudget(spark, io, batchId, Process, t0) {
      if (!cp.isDone(batchId, Process, resource, "analyze")) timed(batchId, "analyze") {
        val primary = primaryLo(spark, io)
        val los = Watermark.read(io) + ("warc_ts" -> primary)
        val delta = raw.filter(Watermark.predicate(los, batchTs, tsCols))
        // stash the secondary columns' new maxima for post-publish
        // promotion (the analyzed projection drops them)
        val extras = tsCols.tail
        if (extras.nonEmpty) {
          val r = delta.agg(max(col(extras.head)),
            extras.tail.map(c => max(col(c))): _*).head()
          val maxes = extras.zipWithIndex.flatMap { case (c, i) =>
            Option(r.getTimestamp(i)).map(c -> _)
          }
          if (maxes.nonEmpty)
            io.writeSmallFile(wmStagedPath,
              maxes.map { case (c, t) => s"$c=${t.getTime}" }.mkString("\n"))
        }
        val pageCols = Seq("url", "warc_ts", "html", "text", "lang")
        stageAnalyzed(spark, io, cp, batchId, Process, resource,
          delta.select(pageCols.map(col): _*).as[PageRow])
      }
      val r = runFromAnalyzed(spark, io, cp, batchId, Process, resource, t0)
      // promote the secondary watermarks after publish (idempotent max
      // merge; the staged file is deleted only after a successful write)
      promoteStaged()
      r
    } finally release()
  }

  /** The analyze stage's step shared by sync, multi-timestamp sync and
    * reconcile: in-batch last-write-wins ([[latestPerUrl]]), analyze, the
    * staged fwd write, the positional blocks while the current version
    * carries positions (adopted as the segment's `pos` with the rest),
    * and the stage's done flag. fwd is the adopted analyzed output,
    * written flat and sorted by docId ([[Tables.writeFwd]]) so later
    * update batches read only their affected docIds' pages. The dedup's
    * exchange by url is the write's only one, initial build or delta.
    */
  private[sync] def stageAnalyzed(spark: SparkSession, io: TableIO, cp: Checkpoint,
                                  batchId: String, process: String, resource: String,
                                  pages: Dataset[PageRow]): Unit = {
    val delta = latestPerUrl(pages)
    timed(batchId, "analyze.writeFwd") {
      Tables.writeFwd(SegmentBuilder.analyze(delta).toDF(), io.stagingDir(batchId, "analyzed"))
    }
    if (Tables.loadCurrent(spark, io).exists(_.positions))
      timed(batchId, "analyze.pos") {
        graft.index.Positional.writeBlocks(delta, io.stagingDir(batchId, "pos"))
      }
    cp.markDone(batchId, process, resource, "analyze")
  }

  /** In-batch last-write-wins by url: a crawl window can deliver the same
    * page fetched twice (a re-crawl inside the window), and indexing both
    * would put the docId in the segment twice — double BM25 scoring,
    * double phrase df, a corrupted docs count. The reference's per-record
    * upsert collapses same-key records in batch order
    * (destinationManager.js processUpsertBatch → per-record mysql upsert);
    * the set-oriented analog keeps the newest crawl, ties broken
    * deterministically on the content hash. One O(delta) shuffle — the
    * delta is the small side of every batch.
    */
  private[graft] def latestPerUrl(delta: Dataset[PageRow]): Dataset[PageRow] = {
    val spark = delta.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"url")
      .orderBy($"warc_ts".desc, xxhash64($"html").desc)
    delta.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn").as[PageRow]
  }

  /** Shared tail (segment → merge → publish) — reconcile's "missing"
    * processing reuses it verbatim, like the reference routes missing
    * records through the same resumeSync processor
    * (destinationManager.js:49-54, batchType 'missing').
    */
  private[sync] def runFromAnalyzed(
      spark: SparkSession, io: TableIO, cp: Checkpoint, batchId: String,
      process: String, resource: String, t0: Long,
      dryRun: Boolean = false): Result = {
    import spark.implicits._
    val analyzedDir = io.stagingDir(batchId, "analyzed")
    val docsDir = io.stagingDir(batchId, "docs")
    val blocksDir = io.stagingDir(batchId, "blocks")
    val stagingRoot = s"${io.root}/staging/$batchId"
    // read only after the segment stage has run (this run or an earlier
    // one) and before publish deletes the staging dir; a segment stage
    // that left no stash was run by an older, incompatible build
    lazy val staged = Seq("delta_rows", "delta_dl")
        .map(f => io.readSmallFile(s"$stagingRoot/$f")) match {
      case Seq(Some(n), Some(dl)) =>
        Tables.Staged(docsDir, blocksDir, analyzedDir, io.stagingDir(batchId, "pos"),
          n.trim.toLong, dl.trim.toLong)
      case _ => throw new IllegalStateException(
        s"staging dir $stagingRoot holds no delta-stats stash (delta_rows, " +
          "delta_dl): it was staged by an incompatible older build; delete " +
          "it and re-sync the window under a new batch timestamp")
    }

    // ---- segment -----------------------------------------------------
    if (!cp.isDone(batchId, process, resource, "segment")) timed(batchId, "segment") {
      val analyzed = Tables.readFwdDir(spark, analyzedDir)
      // the docs write, the collision aggregation, and the block build
      // are three independent reads of the staged fwd, so all three run
      // concurrently (guide §2.6: later jobs backfill executors an
      // earlier job's tail leaves idle). The block shuffle is sized from
      // the staged dir's FS byte size — known before any job runs — so
      // it no longer waits on the collision count. The collision check
      // (with the delta row count + doclen sum piggybacked, stashed
      // FS-side for publish — the staged dirs may be renamed away by the
      // merge stage) reads the staged fwd directly: same rows as the
      // written docs table. A collision still fails the stage before
      // markDone (the staged blocks are discarded with the staging dir).
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val fDocs = Future { timed(batchId, "segment.docs") {
        // sorted by docId, so a driver read of a few docIds skips pages
        io.writeParquet(SegmentBuilder.toDocs(analyzed, batchId)
          .sortWithinPartitions($"docId").toDF(), docsDir)
      } }
      val fColl = Future { timed(batchId, "segment.collisions") {
        val (n, dlSum) = SegmentBuilder.checkCollisions(analyzed)
        // the delta-stats stash: the merge stage's O(delta) stats
        // arithmetic and publish's row count read it back
        io.writeSmallFile(s"$stagingRoot/delta_rows", n.toString)
        io.writeSmallFile(s"$stagingRoot/delta_dl", dlSum.toString)
      } }
      try timed(batchId, "segment.blocks") {
        val blocks = SegmentBuilder.buildBlocks(
          SegmentBuilder.toPostings(analyzed), batchId,
          Tables.blockPartitions(spark, io.dirBytes(analyzedDir)))
        TableIO.writeTermSorted(blocks.toDF(), blocksDir)
      } finally {
        Await.ready(fDocs, Duration.Inf)
        Await.ready(fColl, Duration.Inf)
      }
      Await.result(fDocs, Duration.Inf) // propagate concurrent failures
      Await.result(fColl, Duration.Inf)
      cp.markDone(batchId, process, resource, "segment")
    }

    // ---- dry run stops here (devnull destination, S11): the batch is
    // staged, validated, and measured — nothing merged, nothing published
    if (dryRun) {
      val n = staged.rows
      Metrics.append(io, Metrics.driverRow(spark, batchId, process, n,
        System.currentTimeMillis() - t0, "dryrun"))
      return Result(batchId, n, System.currentTimeMillis() - t0)
    }

    // ---- merge -------------------------------------------------------
    if (!cp.isDone(batchId, process, resource, "merge")) timed(batchId, "merge") {
      val st = staged // refuses an older build's staging before any write
      val old = Tables.loadCurrent(spark, io)
      val noPurge = spark.emptyDataset[Long]
      old match {
        case None =>
          // initial build: the staged segment (already (term,bucket)-
          // partitioned, sorted, encoded) IS the index — adopt the staged
          // dirs by rename (O(1), no re-read) and derive dict/stats
          Tables.writeInitial(spark, io, batchId, st)
        case Some(o) if Tables.needsCompaction(o) =>
          // every compactThreshold batches (or at high tombstone ratio):
          // fold segments into one — amortized O(index/threshold) merge
          // I/O per batch
          Tables.compactVersion(spark, io, o, batchId, Some(st), noPurge, 0L)
        case Some(o) =>
          // steady state: O(delta) segment append + tombstones
          Tables.appendVersion(spark, io, o, batchId, Some(st), noPurge, 0L)
      }
      cp.markDone(batchId, process, resource, "merge")
    }

    // ---- publish -----------------------------------------------------
    if (cp.isDone(batchId, process, resource, "publish"))
      return Result(batchId, 0L, System.currentTimeMillis() - t0)
    val deltaRows = staged.rows
    timed(batchId, "publish") {
      io.publish(batchId)
      val millis = System.currentTimeMillis() - t0
      // lineage rides on the batch's own segment — O(delta), the rest of
      // the index is untouched by this batch
      val blocks = Tables.readBlocks(spark, Seq(s"${io.segmentDir(batchId)}/index"))
      val p = spark.sessionState.conf.numShufflePartitions
      Metrics.append(io,
        Metrics.segmentMetrics(spark, blocks, batchId, process, p, millis)
          .unionByName(Metrics.driverRow(spark, batchId, process, deltaRows,
            millis, "success")))
      cp.markDone(batchId, process, resource, "publish")
      io.deleteDir(stagingRoot)
      io.gcVersions()
    }
    Result(batchId, deltaRows, System.currentTimeMillis() - t0)
  }
}
