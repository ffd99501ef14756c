package graft.cli

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.PageRow
import graft.corpus.Corpus
import graft.query.IndexReader
import graft.sources.TableIO
import graft.sync.{IndexPosJob, PurgeJob, ReconcileJob, SyncJob}

/** spark-submit entry — command surface mirrors the reference's
  * bin/run-once (bin/run-once:20-43: command + source/flags).
  *
  * {{{
  * Main sync      --pages <parquet|corpus:N> --root <dir> [--batch-ts <ISO>]
  * Main purge     --pages <parquet|corpus:N> --root <dir> [--batch-ts <ISO>] [--max-purge N]
  * Main reconcile --pages <parquet|corpus:N> --root <dir> [--batch-ts <ISO>]
  * Main query     --root <dir> --q "<terms>" [--k 10]
  * Main index-pos --pages <parquet|corpus:N> --root <dir>
  * Main phrase    --root <dir> --q "<exact phrase>" [--k 10]
  * }}}
  *
  * `--pages corpus:N` generates the deterministic synthetic corpus of N
  * pages on the executors (no external data); a parquet path reads any
  * table of shape (url, warc_ts, html, text, lang).
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args(0)
    val opts = parseOpts(args.drop(1))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"graft-$cmd")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cmd, opts)
    catch {
      case e: Exception =>
        System.err.println(s"[graft] $cmd failed: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, cmd: String,
                  opts: Map[String, String]): Unit = {
    def root = opts.getOrElse("root", sys.error("--root required"))
    def io = new TableIO(spark, root)
    def batchTs = opts.get("batch-ts")
      .map(Timestamp.valueOf)
      .getOrElse(new Timestamp(System.currentTimeMillis()))

    cmd match {
      case "sync" =>
        val r = SyncJob.run(spark, io, pages(spark, opts), batchTs)
        println(s"sync done: batch=${r.batchId} rows=${r.deltaRows} " +
          s"millis=${r.millis}")
      case "purge" =>
        val cap = opts.get("max-purge").map(_.toLong)
          .getOrElse(PurgeJob.DefaultMaxPurge)
        val r = PurgeJob.run(spark, io, pages(spark, opts), batchTs, cap)
        println(s"purge done: batch=${r.batchId} purged=${r.purged} " +
          s"millis=${r.millis}")
      case "reconcile" =>
        val r = ReconcileJob.run(spark, io, pages(spark, opts), batchTs)
        println(s"reconcile done: batch=${r.batchId} reindexed=${r.reindexed} " +
          s"millis=${r.millis}")
      case "index-pos" =>
        val v = IndexPosJob.run(spark, io, pages(spark, opts))
        println(s"positions on: version=$v")
      case "phrase" =>
        val q = opts.getOrElse("q", sys.error("--q required"))
        val k = opts.get("k").map(_.toInt).getOrElse(10)
        val hits = graft.query.Phrase.topK(new IndexReader(spark, root), q, k)
        if (hits.isEmpty) println("no hits")
        else hits.zipWithIndex.foreach { case (h, i) =>
          println(f"${i + 1}%2d  ${h.score}%.6f  ${h.docId}%20d")
        }
      case "schedule" =>
        // the reference's cron loop: poll pagesDir every --interval, sync
        // new files through the checkpointed SyncJob until killed
        val pagesDir = opts.getOrElse("pages", sys.error("--pages required (a parquet dir)"))
        val interval = opts.getOrElse("interval", "60 seconds")
        val ticks = opts.get("max-batches").map(_.toInt)
        graft.streaming.StreamingSync.runScheduled(spark, pagesDir, root,
          s"$root/stream-checkpoint", interval, ticks)
        println(s"schedule done: root=$root")
      case "query" =>
        val q = opts.getOrElse("q", sys.error("--q required"))
        val k = opts.get("k").map(_.toInt).getOrElse(10)
        val reader = new IndexReader(spark, root)
        val hits = reader.search(q, k)
        if (hits.isEmpty) println("no hits")
        else hits.foreach(h =>
          println(f"${h.rank}%2d  ${h.score}%.6f  ${h.docId}%20d  ${h.url}"))
      case other =>
        System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
    }
  }

  private def pages(spark: SparkSession,
                    opts: Map[String, String]): Dataset[PageRow] = {
    import spark.implicits._
    val src = opts.getOrElse("pages", sys.error("--pages required"))
    if (src.startsWith("corpus:")) {
      val spec = src.stripPrefix("corpus:")
      val (n, parts) = spec.split(":") match {
        case Array(a, b) => (a.toLong, b.toInt)
        case Array(a) => (a.toLong, 0)
      }
      Corpus.pages(spark, n, parts)
    } else spark.read.parquet(src).as[PageRow]
  }

  private def parseOpts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  private def usage(): Unit = System.err.println(
    """usage: graft.cli.Main <sync|purge|reconcile|query|index-pos|phrase> [options]
      |  sync|purge|reconcile: --pages <parquet|corpus:N[:parts]> --root <dir>
      |                        [--batch-ts "yyyy-mm-dd hh:mm:ss"] [--max-purge N]
      |  query:                --root <dir> --q "<terms>" [--k 10]
      |  index-pos:            --pages <...> --root <dir>   (positions on)
      |  phrase:               --root <dir> --q "<exact phrase>" [--k 10]
      |  schedule:             --pages <parquet dir> --root <dir>
      |                        [--interval "60 seconds"] [--max-batches N]""".stripMargin)
}
