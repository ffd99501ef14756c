package graft.sync

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.PageRow
import graft.index.Positional
import graft.sources.TableIO

/** `index-pos` — turn positions on for the current version: write each
  * segment's `pos` dir from the source pages, then publish a copy of the
  * version with the positions flag set. From then on every sync stages
  * its batch's positions with the rest of its segment, and compaction
  * rewrites them with the segments' other dirs ([[Tables]]).
  */
object IndexPosJob {

  /** Processes whose unfinished batch may hold a staged segment without
    * positions, which the flagged version would then adopt.
    */
  private val Processes = Seq(SyncJob.Process, ReconcileJob.Process, PurgeJob.Process)

  /** Runs under the single-flight lock. Refuses while a batch is
    * unfinished and when a live docs row has no page (joined on docId and
    * warc_ts): phrase answers would otherwise miss documents. Each `pos`
    * dir is written to a temp path and renamed, so a killed run resumes
    * by skipping the segments it finished.
    *
    * @return the version that now carries positions
    */
  def run(spark: SparkSession, io: TableIO, pages: Dataset[PageRow]): String = {
    import spark.implicits._
    val release = io.acquireLock("index-pos")
    try {
      val cp = new Checkpoint(spark, io)
      Processes.flatMap(cp.oldestUnfinished).sorted.headOption.foreach { b =>
        throw new IllegalStateException(s"index-pos: batch $b is unfinished — " +
          "re-run it before building positions")
      }
      val cur = Tables.loadCurrent(spark, io).getOrElse(
        throw new IllegalStateException("index-pos: no published index — sync first"))
      if (cur.positions) return cur.version
      Tables.checkWritable(io, cur)
      val keyed = pages.withColumn("docId", xxhash64($"url"))
      val uncovered = cur.docs.select($"docId", $"warc_ts")
        .join(keyed.select($"docId", $"warc_ts"), Seq("docId", "warc_ts"), "left_anti")
        .count()
      if (uncovered > 0)
        throw new IllegalStateException(s"index-pos: $uncovered live docs of " +
          s"version ${cur.version} have no page with their url and warc_ts")
      cur.segments.map(io.segmentDir).filterNot(seg => io.exists(s"$seg/pos")).foreach { seg =>
        val rows = Tables.readDocs(spark, Seq(s"$seg/docs")).select($"docId", $"warc_ts")
        val segPages = keyed.join(rows, Seq("docId", "warc_ts"), "left_semi")
          .drop("docId").as[PageRow]
        Positional.writeBlocks(SyncJob.latestPerUrl(segPages), s"$seg/pos.tmp")
        io.moveDir(s"$seg/pos.tmp", s"$seg/pos")
      }
      // sorts after the current version and before any later batch id
      // (the same batch id with a suffix), as gcVersions needs
      val ver = s"${cur.version}-pos"
      Tables.writeStats(spark, io, ver, cur.stats.n, cur.stats.sumDl)
      io.writeManifest(ver, cur.segments, cur.tombstoneCount, cur.dictChain,
        cur.tombChain, positions = true)
      io.publish(ver)
      io.gcVersions()
      ver
    } finally release()
  }
}
