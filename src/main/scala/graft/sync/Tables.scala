package graft.sync

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import graft.{CorpusStats, DictRow, DocRow, IndexBlock, Posting, Tombstone}
import graft.index.{Merge, PosBlock, PosPosting, Positional, SegmentBuilder}
import graft.sources.TableIO

/** LSM version management: a published version is a *manifest* of
  * immutable segments plus a tombstone set, a dictionary, and corpus
  * stats (SURVEY §7.2; north rule "resumable index-segment builds").
  *
  * Write paths, chosen per batch:
  *
  *  - '''initial''' — the staged build IS segment #1: adopt its dirs by
  *    rename (O(1)), derive dict/stats from the written parquet.
  *  - '''append''' (the steady state) — adopt the staged delta as a new
  *    segment, extend the tombstone set, and update dict/stats with exact
  *    integer arithmetic. Data written = O(delta): untouched segments are
  *    *referenced* by the new manifest, never copied (Iceberg
  *    manifest-reuse; the Solr analog is `client.add(docs)` + commit
  *    touching only the delta, lib/sync/dataAdapters/solr/solr.js:80-107).
  *  - '''compact''' — when the manifest holds >= `compactThreshold`
  *    segments, fold everything into one segment via [[Merge.merge]]
  *    (oldest segment = base; pass-through / in-place rewrite / group
  *    rebuild chosen per block). Amortized over the threshold, total merge
  *    I/O stays O(index / threshold) per batch — the Lucene tiered-merge
  *    discipline.
  *
  * Dict exactness under churn: df/cf must match an oracle over *live*
  * docs bit-for-bit (the rank-identity gate), so appends subtract the
  * killed docs' term stats, looked up in the segments' forward tables
  * (`fwd` = the analyzed pages, adopted by rename at zero write cost).
  * fwd is flat: one file per task, sorted by docId, in small pages. A
  * batch within [[KilledLocalMax]] rows reads its affected docIds' rows
  * on the driver with the ids pushed, so Parquet's page index leaves
  * the other rows' pages (and their heavy `tfs` bytes) unread; a larger
  * batch joins in Spark. Writes stay O(delta).
  *
  * Every reader and writer opens a version through one handle ([[load]]
  * → [[IndexTables]]) and applies one liveness rule: [[isDead]] per row,
  * [[IndexTables.live]] over a frame.
  *
  * Positions: once a version's manifest carries the positions flag
  * ([[IndexPosJob]]), every segment holds a `pos` dir of positional
  * blocks. Appends adopt the batch's staged `pos` with its other dirs,
  * compaction rewrites it like fwd, and every manifest writer carries
  * the flag forward.
  */
object Tables {

  /** Segment count that triggers a compacting sync (overridable via
    * system property for tests, env var for deployments).
    */
  def compactThreshold: Int =
    sys.props.get("graft.compact.segments")
      .orElse(sys.env.get("GRAFT_COMPACT_SEGMENTS"))
      .map(_.toInt).getOrElse(6)

  /** Sorts after every batchId — tombstones with this `before` kill every
    * occurrence (purge); see [[graft.Tombstone]].
    */
  val PurgeSentinel = "~"

  /** Absolute tombstone-row ceiling: past this, compaction is forced
    * regardless of the n/5 ratio. The ratio alone permits 2×10¹¹ rows at
    * 10¹² docs — far past what any single data structure should hold —
    * so the absolute cap bounds the tombstone table independently of
    * corpus size (overridable for tests / deployments).
    */
  def tombstoneAbsoluteCap: Long =
    sys.props.get("graft.tombstones.max")
      .orElse(sys.env.get("GRAFT_TOMBSTONES_MAX"))
      .map(_.toLong).getOrElse(10000000L)

  /** Tombstone-row count up to which the dead set is collected and
    * broadcast as a driver Map (the cheap path: no shuffle, O(1) probe
    * at decode). Above it every dead-check runs as a distributed join /
    * per-bucket cogroup — the driver never materializes the set.
    */
  def deadBroadcastMax: Long =
    sys.props.get("graft.tombstones.broadcastMax")
      .orElse(sys.env.get("GRAFT_TOMBSTONES_BROADCAST_MAX"))
      .map(_.toLong).getOrElse(5000000L)

  /** Broadcast a small frame, leave a big one to the join planner. */
  private[graft] def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
    if (rows <= deadBroadcastMax) broadcast(df) else df

  // ---- fwd -------------------------------------------------------------

  /** Rows per Parquet page of a fwd file. fwd files are flat, one per
    * task, and sorted by docId, so a read that pushes a few docIds
    * ([[TableIO.longIn]]) decodes about one page per id and file, not
    * the file (LsmSpec bounds the rows such a read yields). Fewer rows
    * per page prune finer and cost bytes: the page index and headers.
    */
  val FwdPageRows: Int = 16

  /** Explicit fwd read schema: no footer-inference job, and an empty fwd
    * dir (a 0-row batch writes only _SUCCESS) still reads as 0 rows
    * instead of failing schema inference.
    */
  private[graft] val FwdSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[graft.index.AnalyzedPage].schema

  /** Docs and index dirs are read with their static schemas: no
    * footer-inference job on any read path.
    */
  private val DocSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[DocRow].schema
  private val BlockSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[IndexBlock].schema
  private[graft] def readDocs(spark: SparkSession, paths: Seq[String]): Dataset[DocRow] = {
    import spark.implicits._
    spark.read.schema(DocSchema).parquet(paths: _*).as[DocRow]
  }
  private[graft] def readBlocks(spark: SparkSession, paths: Seq[String]): Dataset[IndexBlock] = {
    import spark.implicits._
    spark.read.schema(BlockSchema).parquet(paths: _*).as[IndexBlock]
  }

  /** Shuffle width for a delta's posting build, derived from the staged
    * fwd dir's BYTE size (driver-side FS metadata — free and available
    * before any aggregation runs, so the collision check and the block
    * build can run concurrently): one partition per ~512 KB of staged
    * fwd, clamped to [1, configured width]. A 500-doc ephemeral or
    * steady-state delta batch no longer pays a full conf-width shuffle +
    * one output file per task, while corpus-scale builds clamp to the
    * session width — the scale forks' plans are unchanged (480k-640k-doc
    * builds' fwd is ≫ width·512 KB), so N-vs-4N comparability holds.
    */
  def blockPartitions(spark: SparkSession, stagedFwdBytes: Long): Int = {
    val target = sys.props.get("graft.blocks.bytesPerPartition")
      .orElse(sys.env.get("GRAFT_BLOCKS_BYTES_PER_PARTITION"))
      .map(_.toLong).getOrElse(512 * 1024L)
    val conf = spark.sessionState.conf.numShufflePartitions
    math.min(conf.toLong,
      math.max(1L, (stagedFwdBytes + target - 1L) / target)).toInt
  }

  /** Write an analyzed/fwd frame flat: one file per task, each sorted by
    * docId, in pages of [[FwdPageRows]] rows (the writer first checks a
    * page's size at `page.size.row.check.min` rows, 100 by default, so
    * that is lowered too, else every file's first page holds 100). No
    * exchange of its own: the analyze stage's one exchange is its
    * last-write-wins dedup by url.
    */
  def writeFwd(analyzed: DataFrame, path: String): Unit =
    analyzed.sortWithinPartitions("docId").write.mode("overwrite")
      .option("parquet.page.row.count.limit", FwdPageRows.toLong)
      .option("parquet.page.size.row.check.min", FwdPageRows.toLong)
      .parquet(path)

  /** One fwd/analyzed dir with the explicit schema. */
  def readFwdDir(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FwdSchema).parquet(path)

  /** Compact when the manifest sprawls OR the tombstone set outgrows a
    * fifth of the live corpus — the latter guards purge-heavy workloads
    * that never add segments (dead postings would otherwise accumulate
    * without bound; Lucene's deletes-percentage merge trigger) — OR the
    * set passes the absolute row cap (bounds tombstone storage and the
    * dead-check cost independently of corpus size).
    */
  def needsCompaction(t: IndexTables): Boolean =
    t.segments.size >= compactThreshold ||
      (t.stats.n > 0 && t.tombstoneCount > t.stats.n / 5) ||
      t.tombstoneCount > tombstoneAbsoluteCap ||
      // purge-only batches grow the dict chain without adding segments —
      // the chain must fold too (bounds the per-probe union width)
      t.dictChain.size >= compactThreshold

  // ---- load ----------------------------------------------------------

  /** Schema for dict reads — skips footer inference (one driver job per
    * spark.read otherwise) and lets an all-empty delta dir read cleanly.
    */
  private[graft] val DictSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[DictRow].schema

  /** The dict of a version = its chain folded: one FULL dict (written at
    * initial build / compaction) plus the appends' DELTA dicts (df/cf
    * signed, summed per term; a term whose live df reached 0 drops out).
    * A single-link chain reads directly — no aggregation. A query's dict
    * probe filters on `term` — the grouping key — so Catalyst pushes the
    * filter below the aggregate and the probe stays a pruned scan even on
    * a multi-link chain.
    */
  def dictView(spark: SparkSession, io: TableIO,
               chain: Seq[String]): DataFrame = {
    import spark.implicits._
    require(chain.nonEmpty, "empty dict chain")
    val read = spark.read.schema(DictSchema)
      .parquet(chain.map(io.dictDir): _*)
    if (chain.size == 1) read
    else read
      .groupBy($"term")
      .agg(sum($"df").as("df"), sum($"cf").as("cf"),
        array_distinct(flatten(collect_list($"files"))).as("files"))
      .filter($"df" > 0)
  }

  /** [[dictView]]'s rows for `terms`, folded on the driver with no Spark
    * job: one [[TableIO.readLocal]] over the chain's links with the term
    * predicate pushed (links are written sorted by term, so pages of
    * other terms stay unread), then Σdf, Σcf and the distinct union of
    * `files` per term, under the view's df > 0 rule.
    */
  def dictLocal(io: TableIO, chain: Seq[String], terms: Seq[String]): Seq[DictRow] = {
    val (pushed, keep) = TableIO.stringIn("term", DictTermOrdinal, terms)
    val folded = io.readLocal(chain.map(io.dictDir), DictEncoder, Some(pushed))(keep).get
      .groupBy(_.term).values.map(_.reduce((a, b) =>
        DictRow(a.term, a.df + b.df, a.cf + b.cf, (a.files ++ b.files).distinct))).toSeq
    if (chain.size == 1) folded else folded.filter(_.df > 0)
  }

  private val DictEncoder = ExpressionEncoder[DictRow]().resolveAndBind()
  private val DictTermOrdinal = DictEncoder.schema.fieldIndex("term")

  private[graft] val TombSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Tombstone].schema

  /** The tombstone set of a version = its chain folded per docId (the
    * NEWEST link mentioning a docId wins — a re-add must soften an older
    * purge row). A single-link chain reads directly; an empty chain is
    * an empty set ([[TableIO.manifest]] refuses a positive count
    * without one).
    */
  def tombstonesView(spark: SparkSession, io: TableIO,
                     chain: Seq[String]): Dataset[Tombstone] = {
    import spark.implicits._
    if (chain.isEmpty) spark.emptyDataset[Tombstone]
    else {
      val read = spark.read.schema(TombSchema)
        .parquet(chain.map(io.tombsDir): _*)
      (if (chain.size == 1) read
       else {
         // batchIds sort chronologically, so the owning link's id IS the
         // precedence ordinal — no positional column needed
         val tagged = chain.map(b => spark.read.schema(TombSchema)
           .parquet(io.tombsDir(b)).withColumn("link", lit(b)))
           .reduce(_.unionByName(_))
         tagged.groupBy($"docId")
           .agg(max_by($"before", $"link").as("before"))
       }).as[Tombstone]
    }
  }

  /** [[tombstonesView]] folded on the driver with no Spark job: docId →
    * `before`. `readLocal` yields the links oldest first, so the newest
    * link's row is the one the map keeps.
    */
  def tombstonesLocal(io: TableIO, chain: Seq[String]): Map[Long, String] =
    io.readLocal(chain.map(io.tombsDir), TombEncoder)().get
      .iterator.map(t => t.docId -> t.before).toMap

  private val TombEncoder = ExpressionEncoder[Tombstone]().resolveAndBind()

  /** The one handle on a published version: its manifest is read here,
    * everything else on first use.
    */
  def load(spark: SparkSession, io: TableIO, version: String): IndexTables =
    new IndexTables(spark, io, version, io.manifest(version))

  /** Refuses, before any write, a version this batch cannot extend.
    * New batches must bucket postings exactly like the index they join —
    * a silent width mismatch would interleave foreign docId ranges inside
    * (term,bucket) runs and corrupt delta-gap encoding. And every
    * segment's fwd must be flat: the older layout kept it in `fb=`
    * directories with an `_fwd_bits` file, which the driver-side killed
    * lookup would read as empty (it lists files, not directories), so
    * the dict's df/cf would silently come out wrong.
    */
  private[sync] def checkWritable(io: TableIO, old: IndexTables): Unit = {
    if (old.bucketBits != graft.index.DocIds.bucketBits)
      throw new IllegalStateException(
        s"index ${old.version} was built with bucketBits=${old.bucketBits} " +
          s"but this batch runs with ${graft.index.DocIds.bucketBits} — " +
          "set graft.docid.bucketBits/GRAFT_DOCID_BUCKET_BITS to match " +
          "(width changes require a full rebuild)")
    old.segments.find { s =>
      val fwd = s"${io.segmentDir(s)}/fwd"
      io.exists(s"$fwd/_fwd_bits") || io.listDirNames(fwd).exists(_.startsWith("fb="))
    }.foreach(s => throw new IllegalStateException(
      s"segment $s of ${old.version} keeps fwd in the older fb= bucket " +
        "layout, which this build does not read; rebuild it"))
  }

  def loadCurrent(spark: SparkSession, io: TableIO): Option[IndexTables] =
    io.currentVersion().map(v => load(spark, io, v))

  /** The liveness rule, per row: a row written by batch `batch` is dead
    * when its docId's tombstone has `batch < before` ([[graft.Tombstone]]).
    * [[IndexTables.live]] is the same rule over a frame.
    */
  def isDead(dead: Map[Long, String], docId: Long, batch: String): Boolean =
    dead.nonEmpty && dead.get(docId).exists(before => batch < before)

  /** Per-term df, cf and the files holding the term's blocks, over index
    * dirs: block metadata columns only, never a decode.
    */
  private def termStats(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    readBlocks(spark, paths)
      .withColumn("f", input_file_name()) // project first: agg args must be deterministic
      .groupBy($"term").agg(sum($"count").as("df"), sum($"tfSum").as("cf"),
        collect_set($"f").as("files"))
  }

  /** The docIds a batch re-writes or purges (the delta's ∪ the purged),
    * persisted, and their count, so every join against them size-adapts
    * ([[maybeBroadcast]]): O(batch) rows, but a backfill-scale batch must
    * not be forced through the driver. A purge-free batch's set IS the
    * delta's (docIds are unique within a segment — checkCollisions),
    * sized by the segment stage: neither a distinct nor a count job.
    */
  private def affectedIds(deltaIds: DataFrame, deltaN: Long, purged: Dataset[Long],
                          purgedN: Long): (DataFrame, Long) =
    if (purgedN == 0) (deltaIds.persist(), deltaN)
    else {
      val a = deltaIds.union(purged.toDF("docId")).distinct().persist()
      (a, a.count())
    }

  /** Forward tables (analyzed pages) of the given segments, with the
    * owning segment id attached (fwd rows carry no batch column; a row
    * surviving in segment s is live-as-of s, so s is the correct
    * tombstone comparand).
    */
  def readFwd(spark: SparkSession, io: TableIO,
              segments: Seq[String]): DataFrame =
    segments.map { s =>
      readFwdDir(spark, s"${io.segmentDir(s)}/fwd").withColumn("seg", lit(s))
    }.reduce(_.unionByName(_))

  // ---- initial build ---------------------------------------------------

  /** A batch's staged delta: the segment stage's docs, blocks and
    * analyzed (fwd) dirs, the positional blocks the analyze stage writes
    * under the positions flag, plus the (rows, doclen sum) it aggregated
    * over them in its collision check.
    */
  case class Staged(docsDir: String, blocksDir: String, analyzedDir: String,
                    posDir: String, rows: Long, dlSum: Long)

  /** Adopt the staged dirs as the batch's segment by rename (O(1)); `pos`
    * when the version carries positions (a missing staged dir then fails
    * loudly in moveDir).
    */
  private def adopt(io: TableIO, batchId: String, staged: Staged,
                    positions: Boolean): Unit = {
    val seg = io.segmentDir(batchId)
    io.moveDir(staged.docsDir, s"$seg/docs")
    io.moveDir(staged.blocksDir, s"$seg/index")
    io.moveDir(staged.analyzedDir, s"$seg/fwd")
    if (positions) io.moveDir(staged.posDir, s"$seg/pos")
  }

  /** Adopt the staged initial build as segment #1 of a fresh index (no
    * positions: `index-pos` turns them on); the staged (rows, doclen sum)
    * spare the stats derivation its docs re-aggregation job.
    */
  def writeInitial(spark: SparkSession, io: TableIO, batchId: String,
                   staged: Staged): Unit = {
    adopt(io, batchId, staged, positions = false)
    deriveDictStats(spark, io, batchId, Seq(batchId), positions = false,
      Some((staged.rows, staged.dlSum)))
  }

  /** FULL dict + corpus stats from a single freshly written segment
    * (pruned metadata-column scans — the encode shuffle never re-runs),
    * plus the version manifest with an empty tombstone set, a one-link
    * dict chain and the given positions flag. `knownStats`
    * short-circuits the docs aggregation when the caller already holds
    * (rows, doclen sum).
    */
  def deriveDictStats(spark: SparkSession, io: TableIO, ver: String,
                      segments: Seq[String], positions: Boolean,
                      knownStats: Option[(Long, Long)] = None): Unit = {
    import spark.implicits._
    val paths = segments.map(io.segmentDir)
    io.writeParquet(termStats(spark, paths.map(_ + "/index")).sortWithinPartitions($"term"),
      io.dictDir(ver))
    val (n, sumDl) = knownStats.getOrElse {
      val row = readDocs(spark, paths.map(_ + "/docs"))
        .agg(count(lit(1)), sum($"doclen")).head()
      val n0 = row.getLong(0)
      (n0, if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    writeStats(spark, io, ver, n, sumDl)
    io.writeManifest(ver, segments, 0L, Seq(ver), tombChain = Seq.empty, positions)
  }

  private[sync] def writeStats(spark: SparkSession, io: TableIO, ver: String,
                               n: Long, sumDl: Long): Unit = {
    import spark.implicits._
    val stats = CorpusStats(n, if (n == 0) 0.0 else sumDl.toDouble / n, sumDl)
    io.writeParquet(Seq(stats).toDF(), s"${io.versionDir(ver)}/stats")
  }

  // ---- append (O(delta) incremental sync) ------------------------------

  /** Row budget of the driver-side killed lookup ([[killedRows]]): an
    * append whose delta and purge hold at most this many docIds, and
    * whose ids match at most this many old fwd rows, folds the killed
    * side on the driver with no Spark job. Past it, or over a
    * distributed tombstone set, the lookup joins in Spark.
    */
  val KilledLocalMax: Int = 4096

  /** The fwd columns the killed lookup reads. */
  case class FwdRow(docId: Long, url: String, doclen: Int, tfs: Map[String, Int])

  private val FwdEncoder = ExpressionEncoder[FwdRow]().resolveAndBind()
  private val FwdDocIdOrdinal = FwdEncoder.schema.fieldIndex("docId")
  private val DocEncoder = ExpressionEncoder[DocRow]().resolveAndBind()

  /** The live rows of `ids` in the fwd of `old`'s segments, read on the
    * driver with the ids pushed ([[TableIO.longIn]]: fwd files are sorted
    * by docId in small pages, so about one page per id and file is
    * decoded) and no Spark job. A row of segment s is live unless
    * [[isDead]] for batch s (fwd rows carry no batch column; a row
    * surviving in segment s is live-as-of s). None when the tombstone set
    * is distributed or more than [[KilledLocalMax]] rows match.
    */
  private[graft] def killedRows(io: TableIO, old: IndexTables,
                                ids: Seq[Long]): Option[Seq[FwdRow]] =
    if (old.deadDistributed || ids.size > KilledLocalMax) None
    else if (ids.isEmpty) Some(Seq.empty)
    else {
      val (pushed, keep) = TableIO.longIn("docId", FwdDocIdOrdinal, ids)
      old.segments.foldLeft(Option(Vector.empty[(String, FwdRow)])) { (read, s) =>
        read.flatMap(rows => io.readLocal(Seq(s"${io.segmentDir(s)}/fwd"), FwdEncoder,
          Some(pushed), KilledLocalMax - rows.size)(keep).map(rows ++ _.map(s -> _)))
      }.map(_.collect { case (s, r) if !isDead(old.dead, r.docId, s) => r })
    }

  /** [[killedRows]]' rows as a Spark frame (docId, url, doclen, tfs), for
    * a batch past the budget or over a distributed tombstone set: the old
    * segments' fwd joined to the `affected` ids (broadcast when small)
    * and filtered by [[IndexTables.live]].
    */
  private[graft] def killedFrame(spark: SparkSession, io: TableIO, old: IndexTables,
                                 affected: DataFrame, affectedCount: Long): DataFrame = {
    import spark.implicits._
    old.live(readFwd(spark, io, old.segments)
        .join(maybeBroadcast(affected, affectedCount), Seq("docId")), "seg")
      .select($"docId", $"url", $"doclen", $"tfs")
  }

  /** An append's killed side: the previously live rows of the docIds the
    * batch re-writes or purges. Their count `n` and doclen sum `dl` leave
    * the corpus stats and `dictSub` (term, subDf, subCf) leaves the dict.
    * `collisions` counts killed rows whose docId the delta carries with
    * another url. `link` holds the batch's new tombstone rows (docId,
    * before), `linkN` of them, `overlap` of which the old set already
    * holds. `release` drops what the Spark form persisted.
    */
  private case class Killed(n: Long, dl: Long, collisions: Long, dictSub: DataFrame,
                            link: DataFrame, linkN: Long, overlap: Long,
                            release: () => Unit = () => ())

  /** [[Killed]] on the driver: the delta's docs and the killed rows read
    * with no Spark job ([[killedRows]]), None past the budget. The
    * tombstone link holds (a) every killed docId and (b) every delta docId
    * the old set holds — a doc re-added after a purge, whose "~" row must
    * soften to `before = batchId`, else the new segment's row stays dead
    * (it can't simply be dropped, the purged segment row is still
    * physically present). A delta docId's row gets `before = batchId`, a
    * purged one's [[PurgeSentinel]].
    */
  private def killedLocal(spark: SparkSession, io: TableIO, old: IndexTables,
                          batchId: String, hasDelta: Boolean, purged: Dataset[Long],
                          purgedN: Long): Option[Killed] = {
    import spark.implicits._
    val delta: Map[Long, String] =
      if (!hasDelta) Map.empty
      else io.readLocal(Seq(s"${io.segmentDir(batchId)}/docs"), DocEncoder)().get
        .iterator.map(d => d.docId -> d.url).toMap
    val ids = (delta.keys ++ (if (purgedN == 0) Nil else purged.collect().toSeq)).toSeq.distinct
    killedRows(io, old, ids).map { rows =>
      val dictSub = rows.flatMap(_.tfs).groupMapReduce(_._1)(t => (1L, t._2.toLong)) {
        case ((df1, cf1), (df2, cf2)) => (df1 + df2, cf1 + cf2) }
        .toSeq.map { case (t, (df, cf)) => (t, df, cf) }.toDF("term", "subDf", "subCf")
      val link = (rows.map(_.docId) ++ delta.keys.filter(old.dead.contains)).distinct
        .map(d => (d, if (delta.contains(d)) batchId else PurgeSentinel))
      Killed(rows.size, rows.map(_.doclen.toLong).sum,
        rows.count(r => delta.get(r.docId).exists(_ != r.url)), dictSub,
        link.toDF("docId", "before"), link.size, link.count(t => old.dead.contains(t._1)))
    }
  }

  /** [[killedLocal]]'s answer in Spark, past the budget or over a
    * distributed tombstone set.
    */
  private def killedSpark(spark: SparkSession, io: TableIO, old: IndexTables,
                          batchId: String, deltaDocs: Option[Dataset[DocRow]], deltaN: Long,
                          purged: Dataset[Long], purgedN: Long): Killed = {
    import spark.implicits._
    val deltaIds = deltaDocs.fold(spark.emptyDataset[Long].toDF("docId"))(_.select($"docId"))
    val (affected, affectedCount) = affectedIds(deltaIds, deltaN, purged, purgedN)
    // a narrow docId probe first: a backfill-scale pure append then never
    // reads fwd's heavy tfs column
    val none = readFwd(spark, io, old.segments).select($"docId")
      .join(maybeBroadcast(affected, affectedCount), Seq("docId"), "left_semi").isEmpty
    val killed =
      (if (none) spark.emptyDataset[FwdRow].toDF()
       else killedFrame(spark, io, old, affected, affectedCount)).persist()
    // killed stats + the collision check in ONE job; the left join against
    // the delta's urls cannot duplicate killed rows (delta docIds are
    // unique per segment)
    val (n, dl, coll) =
      if (none) (0L, 0L, 0L)
      else {
        val kr = deltaDocs.fold(killed.withColumn("new_url", lit(null).cast("string")))(d =>
            killed.join(maybeBroadcast(d.select($"docId", $"url".as("new_url")), deltaN),
              Seq("docId"), "left"))
          .agg(count(lit(1)), sum($"doclen"),
            count(when($"new_url".isNotNull && $"url" =!= $"new_url", lit(1))))
          .head()
        (kr.getLong(0), if (kr.isNullAt(1)) 0L else kr.getLong(1), kr.getLong(2))
      }
    val dictSub = killed.select(explode($"tfs").as(Seq("term", "tf")))
      .groupBy($"term").agg(count(lit(1)).as("subDf"), sum($"tf").as("subCf"))
    // with no old tombstones and nothing killed, both link sources are
    // empty by construction: the steady-state pure append skips the jobs
    val (link, linkN, overlap) =
      if (old.tombstoneCount == 0 && n == 0) (spark.emptyDataset[Tombstone].toDF(), 0L, 0L)
      else {
        val revived = deltaIds
          .join(old.tombstones.toDF().select($"docId"), Seq("docId"), "left_semi")
        val rows = killed.select($"docId").union(revived).distinct()
          .join(deltaIds.withColumn("isDelta", lit(1)), Seq("docId"), "left")
          .select($"docId", when($"isDelta".isNotNull, lit(batchId))
            .otherwise(lit(PurgeSentinel)).as("before"))
          .persist()
        // one aggregate sizes the link and its overlap with the old ids
        val cnt = rows.join(maybeBroadcast(old.tombstones.toDF()
            .select($"docId").withColumn("had", lit(1)), old.tombstoneCount),
            Seq("docId"), "left")
          .agg(count(lit(1)), count($"had")).head()
        (rows, cnt.getLong(0), cnt.getLong(1))
      }
    Killed(n, dl, coll, dictSub, link, linkN, overlap,
      () => { link.unpersist(); killed.unpersist(); affected.unpersist() })
  }

  /** Append a delta segment (and/or a purge) as a new version without
    * touching existing segments. Writes: the adopted delta segment
    * (rename, O(1)), the tombstone link, the dict link, one stats row, one
    * manifest — O(delta + vocabulary), never O(index).
    *
    * @param staged the staged delta, or None for a pure purge batch
    * @param purgedN the number of `purged` ids
    */
  def appendVersion(spark: SparkSession, io: TableIO, old: IndexTables,
                    batchId: String, staged: Option[Staged],
                    purged: Dataset[Long], purgedN: Long): Unit = {
    import spark.implicits._
    checkWritable(io, old)
    val seg = io.segmentDir(batchId)
    staged.foreach(adopt(io, batchId, _, old.positions))
    def sub[A](stage: String)(f: => A): A =
      SyncJob.timed(batchId, s"merge.$stage")(f)

    // the delta's doc count + doclen sum, from the segment stage
    val (deltaN, deltaDl) = staged.fold((0L, 0L))(st => (st.rows, st.dlSum))
    // killed = previously-live rows of the affected docIds: their term
    // stats leave the dict, their doclen leaves the corpus stats
    val k = sub("killed") {
      (if (deltaN + purgedN <= KilledLocalMax && !old.deadDistributed)
         killedLocal(spark, io, old, batchId, staged.isDefined, purged, purgedN)
       else None).getOrElse(killedSpark(spark, io, old, batchId,
        staged.map(_ => readDocs(spark, Seq(s"$seg/docs"))), deltaN, purged, purgedN))
    }
    try {
      // the cross-batch xxhash64 collision check: a delta url landing on a
      // previously indexed docId must be the SAME url (an update), else
      // the tombstone would silently drop the old document
      if (k.collisions > 0) throw new IllegalStateException(
        s"docId collision across batches (${k.collisions} urls); widen keys to " +
          "(docId, url) for this corpus")

      // dict DELTA: ⊕ the delta segment's term stats ⊖ the killed docs',
      // written as ONE signed delta link appended to the dict chain —
      // O(delta terms), the old dict (O(vocabulary)) is never read or
      // rewritten (readers fold the chain per term; compaction writes the
      // next full link). Block-pointer files union in at fold time; dead
      // postings stay physically inside old files until compaction, so
      // the old pointers remain correct (a superset is fine for pruning).
      val dictAdd =
        if (staged.isDefined) termStats(spark, Seq(s"$seg/index"))
        else spark.emptyDataset[DictRow].toDF()
      val dictDelta = dictAdd
        .join(k.dictSub, Seq("term"), "full_outer")
        .select($"term",
          (coalesce($"df", lit(0L)) - coalesce($"subDf", lit(0L))).as("df"),
          (coalesce($"cf", lit(0L)) - coalesce($"subCf", lit(0L))).as("cf"),
          coalesce($"files", typedLit(Seq.empty[String])).as("files"))
        .filter($"df" =!= 0 || $"cf" =!= 0 || size($"files") > 0)
        .sortWithinPartitions($"term")
      sub("dictWrite") {
        io.writeParquet(dictDelta, io.dictDir(batchId)) }

      // tombstones: ONLY this batch's rows are written, as a new link of
      // the tombstone chain (tombstonesView folds per docId, newest link
      // wins): tombstone bytes per append are O(batch), never
      // O(accumulated set); LsmSpec asserts the byte bound. The folded
      // count stays exact integer arithmetic:
      // new = old + |link| − |link ∩ old ids|. Link files are partitioned
      // by row count — never a single driver-squeezed file at scale.
      if (k.linkN > 0) sub("tombWrite") {
        val parts = math.min(k.linkN / 4000000L + 1L, 1024L).toInt
        io.writeParquet(k.link.coalesce(parts), io.tombsDir(batchId))
      }

      writeStats(spark, io, batchId,
        old.stats.n - k.n + deltaN,
        old.stats.sumDl - k.dl + deltaDl)
      val segs = if (staged.isDefined) old.segments :+ batchId else old.segments
      io.writeManifest(batchId, segs, old.tombstoneCount + k.linkN - k.overlap,
        old.dictChain :+ batchId,
        tombChain = if (k.linkN > 0) old.tombChain :+ batchId else old.tombChain,
        old.positions)
    } finally k.release()
  }

  // ---- compaction -------------------------------------------------------

  /** Fold all segments (plus an optional staged delta and purge set) into
    * one fresh segment via the three-path [[Merge.merge]]: the oldest
    * segment is the base (untouched groups pass through block-verbatim),
    * the younger segments' live postings + the staged delta are the merge
    * delta, and every tombstoned or purged docId is dropped. Resets the
    * tombstone set; dict/stats re-derive from the written parquet. fwd,
    * and pos under the positions flag, keep the old segments' surviving
    * rows plus the staged delta's.
    */
  def compactVersion(spark: SparkSession, io: TableIO, old: IndexTables,
                     batchId: String,
                     staged: Option[Staged],
                     purged: Dataset[Long],
                     purgedN: Long): Unit = {
    import spark.implicits._
    checkWritable(io, old)
    def paths(segs: Seq[String], sub: String) = segs.map(s => s"${io.segmentDir(s)}/$sub")
    val (base, tail) = (old.segments.take(1), old.segments.tail)

    val (stagedDocs, stagedPostings, stagedFwd) = staged match {
      case Some(st) =>
        (readDocs(spark, Seq(st.docsDir)),
          readBlocks(spark, Seq(st.blocksDir)).flatMap(SegmentBuilder.decodeBlock _),
          Some(readFwdDir(spark, st.analyzedDir)))
      case None =>
        (spark.emptyDataset[DocRow], spark.emptyDataset[Posting], None)
    }
    // overridden = docIds the staged delta re-writes or this batch purges:
    // their tail-segment occurrences must not ride along (no tombstone is
    // written for them — compaction removes the rows physically)
    val (overridden, overriddenCount) = affectedIds(stagedDocs.select($"docId"),
      staged.fold(0L)(_.rows), purged, purgedN)
    // rows that survive the fold: live (the tombstone anti-join) and not
    // overridden
    def survivors(rows: DataFrame, batch: String): DataFrame =
      old.live(rows, batch)
        .join(maybeBroadcast(overridden, overriddenCount), Seq("docId"), "left_anti")
    val deltaDocs =
      (if (tail.isEmpty) spark.emptyDataset[DocRow]
       else survivors(readDocs(spark, paths(tail, "docs")).toDF(), "batch_id").as[DocRow])
        .unionByName(stagedDocs)
    // a decoded posting carries its block's batch, the tombstone comparand
    val deltaPostings =
      (if (tail.isEmpty) spark.emptyDataset[Posting]
       else survivors(readBlocks(spark, paths(tail, "index")).flatMap { b =>
           SegmentBuilder.decodeBlock(b)
             .map(p => (p.term, p.bucket, p.docId, p.tf, p.dl, b.batch_id))
         }.toDF("term", "bucket", "docId", "tf", "dl", "batch_id"), "batch_id")
         .drop("batch_id").as[Posting])
        .unionByName(stagedPostings)
    val purgedAll = purged
      .union(old.tombstones.map(_.docId)).distinct()

    val merged = Merge.merge(spark, readDocs(spark, paths(base, "docs")),
      readBlocks(spark, paths(base, "index")), deltaDocs, deltaPostings, purgedAll, batchId)
    val seg = io.segmentDir(batchId)
    io.writeParquet(merged.docs.sortWithinPartitions($"docId").toDF(), s"$seg/docs")
    // whole-index xxhash64 collision re-check rides on each compaction
    SegmentBuilder.checkCollisions(readDocs(spark, Seq(s"$seg/docs")).toDF())
    io.writeParquet(merged.index.toDF(), s"$seg/index")

    // fwd of the compacted segment: live, not overridden old fwd rows plus
    // the staged delta's fwd — the exact mirror of the docs merge
    val oldFwdLive = survivors(readFwd(spark, io, old.segments), "seg").drop("seg")
    val fwdNew = stagedFwd match {
      case Some(f) => oldFwdLive.unionByName(f)
      case None => oldFwdLive
    }
    writeFwd(fwdNew, s"$seg/fwd")
    // pos, the same way: live, not overridden positions of the old
    // segments (a segment's rows are live-as-of the segment, as for fwd)
    // plus the staged delta's
    if (old.positions) {
      val oldPos = survivors(old.segments.map { s =>
        readPosDir(spark, s"${io.segmentDir(s)}/pos").withColumn("seg", lit(s))
      }.reduce(_.unionByName(_)), "seg").drop("seg")
      val posNew = staged.fold(oldPos)(st => oldPos.unionByName(readPosDir(spark, st.posDir)))
      io.writeParquet(Positional.buildBlocks(posNew.as[PosPosting]).toDF(), s"$seg/pos")
    }
    deriveDictStats(spark, io, batchId, Seq(batchId), old.positions)
    overridden.unpersist()
  }

  private val PosBlockSchema = org.apache.spark.sql.Encoders.product[PosBlock].schema

  /** A positional blocks dir decoded to (term, bucket, docId, dl,
    * positions) rows.
    */
  private def readPosDir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(PosBlockSchema).parquet(dir).as[PosBlock].flatMap { b =>
      Positional.decodeBlock(b).iterator.map { case (d, dl, ps) =>
        PosPosting(b.term, b.bucket, d, dl, ps.toSeq)
      }
    }.toDF()
  }
}

/** The one handle on a published version ([[Tables.load]]): its manifest
  * (segments oldest first, the tombstone count and chain, the dict chain,
  * the bucket width) and the views of it that readers and writers share.
  * Only the manifest is read at load; the stats, the tombstone views and
  * the live docs are read on first use, so a caller that needs one of
  * them pays for that one.
  */
final class IndexTables private[sync] (spark: SparkSession, io: TableIO,
                                       val version: String, m: TableIO.Manifest) {
  import spark.implicits._

  val segments: Seq[String] = m.segments
  val tombstoneCount: Long = m.tombstones
  val dictChain: Seq[String] = m.dictChain
  val tombChain: Seq[String] = m.tombChain

  /** The docId bucket width this index was BUILT at (never runtime config:
    * blocks carry these bucket values, and every read-side bucket
    * computation must agree with them).
    */
  val bucketBits: Int = m.bucketBits

  /** Every segment carries a `pos` dir of positional blocks, written by
    * `index-pos` and kept by every later sync, purge and compaction.
    */
  val positions: Boolean = m.positions

  lazy val stats: CorpusStats = io.readStats(version)

  def segPaths(sub: String): Seq[String] = segments.map(s => s"${io.segmentDir(s)}/$sub")

  /** The folded tombstone set ([[Tables.tombstonesView]]). */
  lazy val tombstones: Dataset[Tombstone] = Tables.tombstonesView(spark, io, tombChain)

  /** True when the tombstone set is too large to hold on the driver:
    * every dead check then runs distributed and the set is never
    * collected. Below the threshold the set is bounded anyway: compaction
    * is forced at max(n/5, graft.tombstones.max) rows.
    */
  val deadDistributed: Boolean = tombstoneCount > Tables.deadBroadcastMax

  /** The tombstone set folded on the driver (docId → before) when small
    * enough to broadcast, else empty — production analog: per-segment
    * bitmaps, Lucene's liveDocs.
    */
  lazy val dead: Map[Long, String] =
    if (tombstoneCount == 0 || deadDistributed) Map.empty
    else Tables.tombstonesLocal(io, tombChain)

  /** The rows of `rows` the tombstones leave live, where column `batch`
    * holds the batch that wrote each row: [[Tables.isDead]]'s rule as an
    * anti-join, broadcast when the set is small ([[Tables.maybeBroadcast]]),
    * no join when it is empty.
    */
  def live(rows: DataFrame, batch: String): DataFrame =
    if (tombstoneCount == 0) rows
    else rows.join(Tables.maybeBroadcast(tombstones.toDF("t_docId", "t_before"), tombstoneCount),
      col("docId") === col("t_docId") && col(batch) < col("t_before"), "left_anti")

  /** Live doc rows. */
  lazy val docs: Dataset[DocRow] =
    live(Tables.readDocs(spark, segPaths("docs")).toDF(), "batch_id").as[DocRow]
}
