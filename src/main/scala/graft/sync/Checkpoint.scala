package graft.sync

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.sources.TableIO

/** Batch state machine — the internalConfig.json analog.
  *
  * Reference semantics mirrored (cited for behavior, not code):
  *  - batchId grammar `YYYY-MM-DD-T-HH-mm-ss-SSS` + `Z` from the batch
  *    timestamp (lib/sync/utils.js:188-194 convertTimestampToBatchId).
  *  - per-(batch, process, resource, stage) done flags that flip exactly
  *    once; a re-run skips completed stages and resumes mid-batch
  *    (lib/sync/downloader.js:345-425, destinationManager.js:48-165).
  *  - oldest unfinished batch selectable for resume
  *    (lib/sync/utils.js:162-186 getOldestBatchId).
  *
  * Storage: an append-only log of one-line JSON files written directly
  * through the filesystem — driver-side metadata operations spend zero
  * Spark jobs (the reference likewise writes internalConfig.json with a
  * serialized file write, lib/config.js:57-65). State = union of files;
  * an in-memory snapshot serves reads within a run. The log stays
  * queryable as a table via `spark.read.json(checkpointsDir)`.
  */
class Checkpoint(spark: SparkSession, io: TableIO) {

  private def fs = new Path(io.root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def readLog(): Seq[(String, String, String, String)] = {
    val dir = new Path(io.checkpointsDir)
    if (!fs.exists(dir)) return Seq.empty
    val files = fs.listStatus(dir).toSeq.filter(_.isFile)
    files.flatMap { st =>
      // a file listed but gone by open time was just rolled up by a
      // concurrent driver's under-lock compaction (its entries live in
      // the combined file written BEFORE the originals were deleted;
      // the worst case is an under-read, which only means a pre-lock
      // isDone() returns false and the caller then fails at acquireLock
      // — never a wrong done-flag flip)
      val content =
        try {
          val in = fs.open(st.getPath)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: java.io.FileNotFoundException => "" }
      if (content.isEmpty) Seq.empty
      else {
        val ms = Checkpoint.LineRe.findAllMatchIn(content).toSeq
        if (ms.isEmpty)
          throw new IllegalStateException(s"corrupt checkpoint file ${st.getPath}")
        ms.map(m => (m.group(1), m.group(2), m.group(3), m.group(4)))
      }
    }
  }

  /** Log compaction: one file per markDone means O(total-batches-ever)
    * driver FS ops per startup — roll the log into a single multi-line
    * file once it sprawls (write-combined-then-delete is crash-safe: a
    * duplicate entry is a harmless set-union member). Runs ONLY from
    * markDone, i.e. while the caller holds the root's single-flight lock
    * — the pre-lock readLog path must never delete files a concurrent
    * driver may be reading.
    */
  private def maybeCompact(): Unit = {
    val dir = new Path(io.checkpointsDir)
    if (!fs.exists(dir)) return
    val files = fs.listStatus(dir).toSeq.filter(_.isFile)
    if (files.size <= Checkpoint.CompactAt) return
    // re-read the log rather than trusting the in-memory snapshot: the
    // snapshot may predate lock acquisition (a pre-lock isDone call)
    // and miss a previous driver's final entries
    val all = (readLog() ++ doneSet).distinct
    val lines = all.map { case (b, p, r, s) =>
      s"""{"batch_id":"$b","process":"$p","resource":"$r","stage":"$s","done":true}"""
    }.mkString("", "\n", "\n")
    val name = s"cp-${System.currentTimeMillis()}-compacted.json"
    val out = fs.create(new Path(dir, name), false)
    try out.write(lines.getBytes("UTF-8")) finally out.close()
    files.foreach(st => fs.delete(st.getPath, false))
  }

  /** In-memory snapshot of done flags, loaded once per run; markDone
    * keeps it coherent (the reference holds internalConfig in memory and
    * flushes on change).
    */
  private lazy val doneSet: scala.collection.mutable.Set[(String, String, String, String)] =
    scala.collection.mutable.Set(readLog(): _*)

  def isDone(batchId: String, process: String, resource: String,
             stage: String): Boolean =
    doneSet.contains((batchId, process, resource, stage))

  def markDone(batchId: String, process: String, resource: String,
               stage: String): Unit = {
    val ts = new Timestamp(System.currentTimeMillis())
    val line =
      s"""{"batch_id":"$batchId","process":"$process","resource":"$resource",""" +
      s""""stage":"$stage","done":true,"updated_at":"$ts"}\n"""
    val dir = new Path(io.checkpointsDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val name = s"cp-${System.currentTimeMillis()}-${java.util.UUID.randomUUID().toString.take(8)}.json"
    val out = fs.create(new Path(dir, name), false)
    try out.write(line.getBytes("UTF-8")) finally out.close()
    doneSet += ((batchId, process, resource, stage))
    maybeCompact() // markDone only runs under the root's job lock
  }

  /** Oldest batch of the process with flags but no publish flag, among
    * those newer than its newest published batch: an older one was
    * abandoned (its staging dropped and its rows re-synced under a later
    * batch), and flags are never removed.
    */
  def oldestUnfinished(process: String): Option[String] = {
    val rows = readLog().filter(_._2 == process)
    val published = rows.filter(_._4 == "publish").map(_._1)
    val newest = published.maxOption.getOrElse("")
    rows.map(_._1).distinct.filter(_ > newest).sorted.headOption
  }
}

object Checkpoint {
  /** File count that triggers a log roll-up at the next load. */
  val CompactAt = 256

  private[sync] val LineRe =
    """\{"batch_id":"([^"]+)","process":"([^"]+)","resource":"([^"]+)","stage":"([^"]+)","done":true""".r

  // SimpleDateFormat is not thread-safe; a streaming tick's foreachBatch
  // thread and the driver can both format batch ids
  private val fmt = ThreadLocal.withInitial[java.text.SimpleDateFormat] { () =>
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd-'T'-HH-mm-ss-SSS")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f
  }

  /** Timestamp → batchId, same grammar as the reference's
    * convertTimestampToBatchId (utils.js:188-194): ISO with separators
    * flattened to dashes, trailing Z.
    */
  def toBatchId(ts: Timestamp): String = fmt.get.format(ts) + "Z"

  /** batchId → Timestamp (inverse of [[toBatchId]]). */
  def fromBatchId(batchId: String): Timestamp =
    new Timestamp(fmt.get.parse(batchId.stripSuffix("Z")).getTime)
}
