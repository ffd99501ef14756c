package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CorpusStats, DocRow, Hit, IndexBlock, ScoredDoc, Tombstone}
import graft.sources.TableIO

/** Snapshot-isolated reader over one published index version (an LSM
  * manifest of immutable segments + a tombstone set).
  *
  * search(q, k) plan (one narrow job per query):
  *   1. dict probe: `dict.filter(term ∈ q)` — parquet min/max pruned,
  *      collects ≤ |q| rows (df → idf).
  *   2. block scan: `index.filter(term ∈ q)` over the union of segment
  *      dirs — predicate pushdown prunes row groups (segments are written
  *      sorted by term); only the query terms' blocks are read, never the
  *      whole index.
  *   3. one [[Wand.scoreBucket]] per docId bucket — on the driver's
  *      threads for small posting sets, else `groupByKey(bucket)` on the
  *      executors (that shuffle moves only the query terms' compressed
  *      blocks). Tombstoned postings are skipped at decode.
  *   4. global merge: `sort(score desc, docId asc).limit(k)` over ≤
  *      numBuckets·k candidates, then a broadcast join back to docs for
  *      the url (reference surface analog: Solr q/fl/sort/rows,
  *      lib/sync/dataAdapters/solr/solr.js:117-122).
  */
class IndexReader(spark: SparkSession, root: String) {
  import spark.implicits._

  private val io = new TableIO(spark, root)
  val version: String = io.currentVersion().getOrElse(
    throw new IllegalStateException(s"no published index at $root"))

  val (segments: Seq[String], tombstoneCount: Long) = io.readManifest(version)

  /** The docId bucket width this index was BUILT at (from the manifest —
    * never runtime config: blocks carry these bucket values, and every
    * read-side bucket computation must agree with them).
    */
  val bucketBits: Int = io.readBucketBits(version)

  /** Exact cumulative dead postings in this version's segment files
    * (manifest-recorded by appends, reset by compaction).
    */
  private val deadPostings: Long = io.readDeadPostings(version)

  private def segPaths(sub: String): Seq[String] =
    segments.map(s => s"${io.segmentDir(s)}/$sub")

  /** Static schema for index reads: skips parquet footer schema inference
    * (one driver job per spark.read otherwise — per-query latency).
    */
  private val blockSchema =
    org.apache.spark.sql.Encoders.product[IndexBlock].schema

  val index: Dataset[IndexBlock] =
    spark.read.schema(blockSchema).parquet(segPaths("index"): _*).as[IndexBlock]

  /** The folded dict view (one full link + the appends' signed deltas).
    * NOT materialized or persisted: queries go through [[probeDict]]'s
    * bounded term cache instead — the r4 shape persisted the WHOLE
    * folded vocabulary in memory, which cost the first probe an
    * O(vocabulary) materialization and every later probe an in-memory
    * scan of the full cached vocabulary; both linear costs are gone
    * (the BM25 p50/p95 drift the r4 verdict flagged). A term-filtered
    * probe of this view pushes its predicate below the fold, so cache
    * misses stay pruned scans (PlanSpec, chain depths 2 and 3).
    */
  val dict: DataFrame =
    graft.sync.Tables.dictView(spark, io, io.readDictChain(version))

  private case class DictEntry(df: Long, files: Seq[String])

  /** Bounded driver-side term→dict-entry cache (the Lucene
    * term-dictionary-cache analog; safe because a reader is a snapshot
    * of one immutable version). Misses — including NEGATIVE results,
    * absent terms are common — fill from one pruned probe per query;
    * repeated terms cost nothing. LRU-bounded so a scan over a huge
    * vocabulary cannot accumulate on the driver.
    */
  private val DictCacheMax = 65536
  private val dictCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[DictEntry]](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[DictEntry]]): Boolean =
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
  private def probeDict(terms: Seq[String]): Seq[(String, Long, Seq[String])] = {
    val cached: Map[String, Option[DictEntry]] =
      terms.flatMap(t => Option(dictCache.get(t)).map(t -> _)).toMap
    val missing = terms.filterNot(cached.contains)
    val probed: Map[String, Option[DictEntry]] =
      if (missing.isEmpty) Map.empty
      else {
        val rows = dict.filter($"term".isin(missing: _*))
          .select($"term", $"df", $"files").collect()
        val found = rows.iterator.map(r => r.getString(0) ->
          DictEntry(r.getLong(1), r.getSeq[String](2))).toMap
        val m = missing.map(t => t -> found.get(t)).toMap
        m.foreach { case (t, v) => dictCache.put(t, v) }
        m
      }
    terms.flatMap(t => cached.getOrElse(t, probed.getOrElse(t, None))
      .map(e => (t, e.df, e.files)))
  }
  val stats: CorpusStats = {
    val r = spark.read
      .schema(org.apache.spark.sql.Encoders.product[CorpusStats].schema)
      .parquet(s"${io.versionDir(version)}/stats").head()
    CorpusStats(r.getAs[Long]("n"), r.getAs[Double]("avgdl"),
      r.getAs[Long]("sumDl"))
  }

  /** True when the tombstone set is too large to hold on the driver —
    * every dead-check then runs distributed (anti-join over docs, per-
    * bucket cogroup in topK) and the set is never collected. Below the
    * threshold the set is bounded anyway: compaction is forced at
    * max(n/5, graft.tombstones.max) rows.
    */
  val deadDistributed: Boolean =
    tombstoneCount > graft.sync.Tables.deadBroadcastMax

  private def tombstonesDf =
    graft.sync.Tables.tombstonesView(spark, io, io.readTombChain(version)).toDF()

  /** Tombstones, collected once per reader when small enough to
    * broadcast; empty (with [[deadDistributed]] set) otherwise —
    * production analog: per-segment bitmaps, Lucene's liveDocs.
    */
  val dead: Map[Long, String] =
    if (tombstoneCount == 0 || deadDistributed) Map.empty
    else tombstonesDf.as[Tombstone].collect().map(t => t.docId -> t.before).toMap

  /** Distinct batch_ids among LIVE docs (≈ #segments values; one pruned
    * column scan, computed lazily once per reader — this snapshot's set
    * is immutable). Phrase coverage checks consume it.
    */
  lazy val liveBatchIds: Seq[String] =
    docs.select("batch_id").distinct().as[String].collect().toSeq

  /** Live doc rows (tombstone-filtered; no join when the set is empty,
    * broadcast join when it is small, shuffle join when it is large).
    */
  val docs: DataFrame = {
    val raw = spark.read.parquet(segPaths("docs"): _*)
    if (tombstoneCount == 0) raw
    else {
      val t =
        if (dead.nonEmpty) broadcast(dead.toSeq.toDF("t_docId", "t_before"))
        else tombstonesDf.toDF("t_docId", "t_before")
      raw.join(t,
        raw("docId") === $"t_docId" && raw("batch_id") < $"t_before",
        "left_anti")
    }
  }

  /** Block count below which the matching blocks (already term-filtered
    * at the parquet scan) are collected and WAND runs on the driver —
    * ONE Spark job per query. 16384 blocks ≈ 2M postings ≈ 15 MB of
    * compressed block rows: well within a driver's budget for one query,
    * and block-max WAND decodes only a fraction of them. This keeps
    * 3-stopword queries over ~10⁶-doc segments on the single-job path
    * (the r2 p95 regression was exactly these queries crossing the old
    * 2048 threshold into a per-query shuffle job after an incremental
    * segment append); truly corpus-scale posting sets still fan out.
    */
  val LocalEvalMaxBlocks = 16384

  /** Exact BM25 top-k hits, rank-deterministic (score desc, docId asc).
    *
    * Job shape: (1) dict probe — a tiny pruned scan collecting ≤ |q| rows:
    * exact live df per term AND the block-pointer file lists, so (2) the
    * block scan opens ONLY the parquet files containing the query terms
    * (row-group min/max pruning still applies inside them), and (3) small
    * posting sets run WAND on the driver while stopword-scale ones fan
    * out per bucket, moving only the terms' compressed blocks.
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
    * local path, fetch their blocks to the driver: ("local" | "empty",
    * the blocks) or ("perBucket" | "cogroup", the term-filtered scan
    * still to run).
    */
  private def scan(dictRows: Seq[(String, Long, Seq[String])])
      : (String, Either[Array[IndexBlock], Dataset[IndexBlock]]) = {
    val dfs = dictRows.map(_._2)
    val termFiles = dictRows.flatMap(_._3).distinct
    // targeted block scan: only the terms' files (fall back to the full
    // segment union if the dict carries no pointers); explicit schema =
    // no footer-inference job per query. The filter uses the DICT-LIVE
    // terms only, not the raw query terms: under churn a term whose df
    // reached 0 leaves the dict while its dead postings stay physically
    // in segment files until compaction — its blocks must not reach the
    // scorers, which have no idf for it.
    val filtered =
      (if (termFiles.nonEmpty)
        spark.read.schema(blockSchema).parquet(termFiles: _*).as[IndexBlock]
      else index)
        .filter($"term".isin(dictRows.map(_._1): _*))

    // path choice from dict metadata when it is decisive: a group of n
    // postings packs into >= ceil(n/128) blocks, so a query whose df sum
    // already implies > LocalEvalMaxBlocks blocks goes straight to the
    // distributed path — no wasted probe job on stopword queries
    val minBlocks = dfs.iterator.map(df => (df + 127) / 128).sum
    // ... and an UPPER bound decides how to fetch: a (term, bucket,
    // segment) group of n postings encodes into <= n/128 + 1 blocks, so
    // when even the upper bound fits the driver budget the blocks are
    // collected in ONE fully parallel job. Only in the gray zone where
    // the bounds straddle the budget does a limit(N+1) probe decide —
    // CollectLimitExec runs partitions in incremental SERIAL rounds (1,
    // 4, 16, ...), a job round-trip each.
    // The bound must cover PHYSICAL blocks, not the dict's live df: dead
    // postings of updated/purged docs stay in segment files until
    // compaction. Two recorded quantities each bound one term's stale
    // postings — the manifest's exact cumulative dead-posting count, and
    // tombstones × segments (each tombstoned docId holds at most one
    // stale version per segment) — so their minimum does too.
    val deadSlack = math.min(deadPostings, tombstoneCount * segments.size)
    val maxBlocks = dfs.iterator.map { df =>
      val phys = df + deadSlack
      (phys + 127) / 128 + math.min(phys, (1L << bucketBits) * segments.size)
    }.sum
    // the local (driver) path requires the dead Map; a distributed-only
    // tombstone set forces the per-bucket path for correctness
    val localOk = minBlocks <= LocalEvalMaxBlocks && !deadDistributed
    val local: Option[Array[IndexBlock]] =
      if (!localOk) None
      else if (maxBlocks <= LocalEvalMaxBlocks) Some(filtered.collect())
      else Some(filtered.limit(LocalEvalMaxBlocks + 1).collect())
        .filter(_.length <= LocalEvalMaxBlocks)
    local match {
      case Some(blocks) => (if (blocks.isEmpty) "empty" else "local", Left(blocks))
      case None => (if (deadDistributed) "cogroup" else "perBucket", Right(filtered))
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
          val tombsByBucket = tombstonesDf.as[Tombstone]
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

  /** Top-k joined back to document metadata, with ranks. */
  def search(q: String, k: Int): Array[ScoredDoc] = {
    val hits = topK(q, k)
    if (hits.isEmpty) return Array.empty
    val hitDf = hits.toSeq.toDF()
    val joined = docs
      .join(broadcast(hitDf), Seq("docId"))
      .select($"docId", $"url", $"score")
      .as[(Long, String, Double)].collect()
    val byId = joined.map(t => t._1 -> t).toMap
    hits.zipWithIndex.map { case (h, i) =>
      val (_, url, _) = byId(h.docId)
      ScoredDoc(i + 1, h.docId, url, h.score)
    }
  }
}

object IndexReader {
  /** Stage wall times of the most recent [[IndexReader.topK]] call on
    * this driver — a profiling aid (Bench latency attribution, the
    * BM25-drift investigations), not part of the query API.
    */
  case class QueryProfile(path: String, dictSec: Double, scanSec: Double,
                          scoreSec: Double, totalSec: Double)
  @volatile var lastProfile: QueryProfile = _
}
