package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import graft.{CorpusStats, DictRow, DocRow, Hit, IndexBlock, ScoredDoc}
import graft.sources.TableIO
import graft.sync.Tables

/** Snapshot-isolated reader over one published index version (an LSM
  * manifest of immutable segments + a tombstone set), opened through the
  * version handle [[graft.sync.Tables.load]]: its stats, dead map and
  * live docs are the handle's, and every dead check applies
  * [[graft.sync.Tables.isDead]] per row or [[graft.sync.IndexTables.live]]
  * over a frame.
  *
  * search(q, k) plan (no Spark job below the driver budgets):
  *   1. dict probe: cached per term; a miss folds the chain's rows for
  *      the missing terms on the driver (`term IN (…)` pushed into each
  *      term-sorted link), ≤ |q| entries (df → idf, file pointers).
  *   2. block read of the query terms' files: on the driver by Spark's
  *      vectorized Parquet reader, `term IN (…)` pushed into each file,
  *      or, for large posting sets, a pruned scan on the executors.
  *   3. one [[Wand.scoreBucket]] per docId bucket — on the driver's
  *      threads for the driver-read blocks, else `groupByKey(bucket)` on
  *      the executors (that shuffle moves only the query terms'
  *      compressed blocks). Tombstoned postings are skipped at decode.
  *   4. global merge: `sort(score desc, docId asc).limit(k)` over ≤
  *      numBuckets·k candidates, then the hits' live docs rows read on
  *      the driver (`docId IN (…)` pushed into the docId-sorted files;
  *      a broadcast join only when the tombstone set is distributed) for
  *      the url (reference surface analog: Solr q/fl/sort/rows,
  *      lib/sync/dataAdapters/solr/solr.js:117-122).
  */
class IndexReader(private[graft] val spark: SparkSession, root: String) {
  import spark.implicits._

  private val io = new TableIO(spark, root)
  private[graft] val tables = Tables.load(spark, io, io.currentVersion().getOrElse(
    throw new IllegalStateException(s"no published index at $root")))
  val version: String = tables.version
  val segments: Seq[String] = tables.segments
  val tombstoneCount: Long = tables.tombstoneCount

  /** The docId bucket width this index was BUILT at ([[graft.sync.IndexTables]]). */
  val bucketBits: Int = tables.bucketBits

  lazy val index: Dataset[IndexBlock] = Tables.readBlocks(spark, tables.segPaths("index"))

  /** Bounded driver-side term→dict-entry cache (the Lucene
    * term-dictionary-cache analog; safe because a reader is a snapshot
    * of one immutable version). Misses — including NEGATIVE results,
    * absent terms are common — fill from one driver read per query;
    * repeated terms cost nothing. LRU-bounded so a scan over a huge
    * vocabulary cannot accumulate on the driver.
    */
  private val DictCacheMax = 65536
  private val dictCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[DictRow]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[DictRow]]): Boolean =
        size > DictCacheMax
    })

  /** (term, df, files) for each query term present in the dict.
    *
    * Reads the cache ONCE into a local snapshot and answers from that:
    * under concurrent readers the LRU may evict a key between a
    * membership check and a later get, and with a negative cache an
    * evicted entry is indistinguishable from an absent term — a
    * check-then-get would silently drop the term from scoring.
    */
  private[query] def probeDict(terms: Seq[String]): Seq[(String, Long, Seq[String])] = {
    val cached: Map[String, Option[DictRow]] =
      terms.flatMap(t => Option(dictCache.get(t)).map(t -> _)).toMap
    val missing = terms.filterNot(cached.contains)
    val probed: Map[String, Option[DictRow]] =
      if (missing.isEmpty) Map.empty
      else {
        val found = Tables.dictLocal(io, tables.dictChain, missing)
          .map(r => r.term -> r).toMap
        val m = missing.map(t => t -> found.get(t)).toMap
        m.foreach { case (t, v) => dictCache.put(t, v) }
        m
      }
    terms.flatMap(t => cached.getOrElse(t, probed.getOrElse(t, None))
      .map(e => (t, e.df, e.files)))
  }
  val stats: CorpusStats = tables.stats

  /** True when the tombstone set is too large to hold on the driver —
    * every dead-check then runs distributed (anti-join over docs, per-
    * bucket cogroup in topK) and the set is never collected.
    */
  val deadDistributed: Boolean = tables.deadDistributed

  /** Tombstones, folded on the driver once per reader when small enough
    * to broadcast; empty (with [[deadDistributed]] set) otherwise.
    */
  val dead: Map[Long, String] = tables.dead

  /** Live doc rows ([[graft.sync.IndexTables.docs]]). */
  lazy val docs: DataFrame = tables.docs.toDF()

  /** Block count up to which the matching blocks are read on the driver
    * and WAND runs there — no Spark job. 16384 blocks ≈ 2M postings ≈
    * 15 MB of compressed block rows: well within a driver's budget for
    * one query, and block-max WAND decodes only a fraction of them. This
    * keeps 3-stopword queries over ~10⁶-doc segments on the driver path
    * (the r2 p95 regression was exactly these queries crossing the old
    * 2048 threshold into a per-query shuffle job after an incremental
    * segment append); truly corpus-scale posting sets still fan out.
    */
  val LocalEvalMaxBlocks = 16384

  /** Exact BM25 top-k hits, rank-deterministic (score desc, docId asc).
    *
    * Shape: (1) dict probe — cached, else a tiny pruned scan collecting
    * ≤ |q| rows: exact live df per term AND the block-pointer file lists,
    * so (2) the block read opens ONLY the parquet files holding the query
    * terms, the term predicate pushed into each; (3) small posting sets
    * are read and scored on the driver with no Spark job, while
    * stopword-scale ones fan out per bucket, moving only compressed blocks.
    */
  def topK(q: String, k: Int, useWand: Boolean = true): Array[Hit] = {
    val terms = Bm25.queryTerms(q)
    if (terms.isEmpty || k <= 0) return Array.empty
    val t0 = System.nanoTime()

    // 1. dict probe: exact df (maintained under churn) + file pointers
    val dictRows = probeDict(terms)
    val tDict = System.nanoTime()
    var tScan = tDict
    val (path, candidates) =
      if (dictRows.isEmpty) ("empty", Array.empty[Hit])
      else {
        val (path, fetched) = scan(dictRows)
        tScan = System.nanoTime()
        (path, score(fetched, dictRows, k, useWand))
      }
    val tEnd = System.nanoTime()
    // set on every return — a miss must not leave the previous query's
    // profile attributed to this one
    IndexReader.lastProfile = IndexReader.QueryProfile(
      path = path,
      dictSec = (tDict - t0) / 1e9,
      scanSec = (tScan - tDict) / 1e9,
      scoreSec = (tEnd - tScan) / 1e9,
      totalSec = (tEnd - t0) / 1e9)
    candidates
      .sortBy(h => (-h.score, h.docId))
      .take(k)
  }

  /** Choose the scoring path for a query's dict-live terms and, on the
    * local path, read their blocks on the driver: ("local" | "empty",
    * the blocks) or ("perBucket" | "cogroup", the term-filtered scan
    * still to run).
    */
  private def scan(dictRows: Seq[(String, Long, Seq[String])])
      : (String, Either[Array[IndexBlock], Dataset[IndexBlock]]) = {
    // only the terms' files (the segment union if the dict carries no
    // pointers), filtered on the DICT-LIVE terms, not the raw query
    // terms: under churn a term whose df reached 0 leaves the dict while
    // its dead postings stay physically in segment files until
    // compaction — its blocks must not reach the scorers, which have no
    // idf for it
    val terms = dictRows.map(_._1)
    val files = Some(dictRows.flatMap(_._3).distinct).filter(_.nonEmpty)
      .getOrElse(tables.segPaths("index"))
    // n postings pack into >= ceil(n/128) blocks: a df sum implying more
    // than the budget goes straight to the distributed path, unread, as
    // does a tombstone set too large for the driver's dead Map
    val minBlocks = dictRows.iterator.map(e => (e._2 + 127) / 128).sum
    val local =
      if (minBlocks > LocalEvalMaxBlocks || deadDistributed) None
      else {
        // dead postings stay in segment files until compaction, so only the
        // read knows the physical block count: it stops at budget + 1
        val (pushed, keep) = TableIO.stringIn("term", IndexReader.TermOrdinal, terms)
        io.readLocal(files, IndexReader.BlockEncoder, Some(pushed),
          LocalEvalMaxBlocks)(keep)
      }
    local match {
      case Some(blocks) => (if (blocks.isEmpty) "empty" else "local", Left(blocks))
      case None =>
        val filtered = Tables.readBlocks(spark, files).filter($"term".isin(terms: _*))
        (if (deadDistributed) "cogroup" else "perBucket", Right(filtered))
    }
  }

  /** Per-bucket candidates: every path runs [[Wand.scoreBucket]] once per
    * docId bucket; only the place (driver threads or executor tasks) and
    * the source of the bucket's dead map differ.
    */
  private def score(fetched: Either[Array[IndexBlock], Dataset[IndexBlock]],
                    dictRows: Seq[(String, Long, Seq[String])], k: Int,
                    useWand: Boolean): Array[Hit] = {
    val idf = dictRows.map(e => e._1 -> Bm25.idf(stats.n, e._2)).toMap
    val avgdl = stats.avgdl
    fetched match {
      case Left(blocks) =>
        // per-bucket instances are independent — run them across the
        // driver's cores (each bucket's result is deterministic, so the
        // answers are bit-identical to a sequential evaluation)
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.global
        val perBucket = Future.sequence(blocks.groupBy(_.bucket).values.map {
          g => Future(Wand.scoreBucket(g, idf, avgdl, k, dead, useWand))
        })
        Await.result(perBucket, scala.concurrent.duration.Duration.Inf)
          .flatten.toArray
      case Right(filtered) =>
        val bIdf = spark.sparkContext.broadcast(idf)
        val byBucket = filtered.groupByKey(_.bucket)
        if (!deadDistributed) {
          // stopword-scale posting set: the small dead set rides along
          // as a broadcast, so the only shuffle moves the query terms'
          // compressed blocks
          val bDead = spark.sparkContext.broadcast(dead)
          byBucket.flatMapGroups { (_, blocks) =>
            Wand.scoreBucket(blocks.toArray, bIdf.value, avgdl, k,
              bDead.value, useWand).iterator
          }.collect()
        } else {
          // huge tombstone set: cogroup the blocks with the tombstones BY
          // BUCKET — each bucket sees only its own dead entries and the
          // full set never converges on the driver
          val bits = bucketBits // recorded width — must match the blocks'
          val tombsByBucket = tables.tombstones
            .groupByKey(t => graft.index.DocIds.bucket(t.docId, bits))
          byBucket.cogroup(tombsByBucket) { (_, blocks, ts) =>
            Wand.scoreBucket(blocks.toArray, bIdf.value, avgdl, k,
              ts.map(t => t.docId -> t.before).toMap, useWand).iterator
          }.collect()
        }
    }
  }

  /** Index parquet files the dict points at for these query terms — the
    * scan cost surface (PlanSpec asserts it stays ≪ the file total).
    */
  def filesForQuery(q: String): Seq[String] = {
    val terms = Bm25.queryTerms(q)
    if (terms.isEmpty) return Seq.empty
    probeDict(terms.toSeq).flatMap(_._3).distinct
  }

  /** Top-k with each hit's url, with ranks. A hit with no live docs row
    * means the version's files are damaged: refused, naming the docId.
    */
  def search(q: String, k: Int): Array[ScoredDoc] = {
    val hits = topK(q, k)
    if (hits.isEmpty) return Array.empty
    val ids = hits.map(_.docId).toSeq
    val urls: Map[Long, String] =
      if (deadDistributed)
        docs.join(broadcast(ids.toDF("docId")), Seq("docId"))
          .select($"docId", $"url").as[(Long, String)].collect().toMap
      else {
        val (pushed, keep) = TableIO.longIn("docId", IndexReader.DocIdOrdinal, ids)
        io.readLocal(tables.segPaths("docs"), IndexReader.DocEncoder, Some(pushed))(keep).get
          .collect { case d if !Tables.isDead(dead, d.docId, d.batch_id) => d.docId -> d.url }
          .toMap
      }
    hits.zipWithIndex.map { case (h, i) =>
      ScoredDoc(i + 1, h.docId, urls.getOrElse(h.docId, throw new IllegalStateException(
        s"hit docId ${h.docId} has no live docs row in version $version")), h.score)
    }
  }
}

object IndexReader {
  private val BlockEncoder = ExpressionEncoder[IndexBlock]().resolveAndBind()
  private val TermOrdinal = BlockEncoder.schema.fieldIndex("term")
  private val DocEncoder = ExpressionEncoder[DocRow]().resolveAndBind()
  private val DocIdOrdinal = DocEncoder.schema.fieldIndex("docId")

  /** Stage wall times of the most recent [[IndexReader.topK]] call on
    * this driver — a profiling aid (Bench latency attribution, the
    * BM25-drift investigations), not part of the query API.
    */
  case class QueryProfile(path: String, dictSec: Double, scanSec: Double,
                          scoreSec: Double, totalSec: Double)
  @volatile var lastProfile: QueryProfile = _
}
