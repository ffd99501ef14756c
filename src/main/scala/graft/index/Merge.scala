package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.{DocRow, IndexBlock, Posting}

/** docs + index plans of a merge, before dict/stats derivation (those are
  * computed from the *written* parquet so the encode shuffle never runs
  * twice — see Tables.deriveDictStats).
  */
case class MergedData(docs: Dataset[DocRow], index: Dataset[IndexBlock])

/** Distributed merge of delta segments into the global term-partitioned
  * index (SURVEY §7.1 stage ④; north rule "distributed merge of
  * partition-local segments into a term-partitioned global index").
  *
  * Since the LSM layout landed, the steady-state sync never calls this —
  * it appends a delta segment + tombstones in O(delta)
  * ([[graft.sync.Tables.appendVersion]]). Merge is the '''compactor''':
  * every `compactThreshold` batches the accumulated segments fold into one
  * (base = the oldest/largest segment, delta = the younger segments' live
  * postings), so per-batch merge I/O amortizes to O(index / threshold) —
  * the Lucene tiered-merge discipline, expressed as one Spark plan.
  *
  * Compaction = three disjoint paths over the base index, chosen per
  * block, so a compaction touching few groups never shuffles the whole
  * index:
  *
  *  1. pass-through — (term,bucket) untouched by the delta and docId range
  *     contains no affected doc: block binary is carried verbatim (with
  *     Iceberg this is metadata-only; here the parquet bytes are rewritten
  *     but never decoded or shuffled).
  *  2. in-place rewrite — group untouched but the block's [first,last]
  *     range contains an updated/purged docId: decode, drop those docIds,
  *     re-encode the block alone. Keeps sibling blocks' docId ranges
  *     disjoint (a pooled re-chunk could straddle an untouched sibling).
  *  3. group rebuild — (term,bucket) present in the delta: all its old
  *     blocks decode into a posting pool, union the delta postings, and
  *     re-chunk through the same one-shuffle
  *     repartition(term,bucket)+sortWithinPartitions+encode pipeline as a
  *     fresh build.
  *
  * Affected docIds and delta groups ride to executors as broadcast sorted
  * arrays (binary-searched per block); when a batch is too large to
  * broadcast the merge degrades to a full rebuild via joins — the correct
  * trade at that batch size anyway.
  *
  * Reference analog: Solr `client.add(docs)` + commit replaces documents
  * atomically per batch (lib/sync/dataAdapters/solr/solr.js:80-107);
  * deletes are `deleteByQuery` by id (solr.js:169-185) — here tombstoned
  * docIds drop out of postings during the merge.
  */
object Merge extends Serializable {

  /** Max (affected docIds + delta groups) we broadcast before falling back
    * to a full join-based rebuild.
    */
  val MaxBroadcast = 5000000L

  /** @param baseDocs  raw docs of the base segment — dead rows are
    *                  removed via `purgedDocIds` + the delta's own docIds
    * @param baseIndex raw index blocks of the base segment
    */
  def merge(
      spark: SparkSession,
      baseDocs: Dataset[DocRow],
      baseIndex: Dataset[IndexBlock],
      deltaDocs: Dataset[DocRow],
      deltaPostings: Dataset[Posting],
      purgedDocIds: Dataset[Long],
      batchId: String): MergedData = {
    import spark.implicits._
    val deltaIds = deltaDocs.select($"docId").as[Long]
    val affectedDs = deltaIds.union(purgedDocIds).distinct()
    val nAffected = affectedDs.count()
    val groupsDs = deltaPostings.select($"term", $"bucket").distinct()
    val nGroups = groupsDs.count()

    if (nAffected + nGroups > MaxBroadcast) {
      // join-based full rebuild (huge batch): decode everything,
      // anti-join tombstones, rebuild all groups in one shuffle.
      val oldPostings = baseIndex.flatMap(SegmentBuilder.decodeBlock _)
      val live = oldPostings
        .join(affectedDs.toDF("docId"), Seq("docId"), "left_anti")
        .as[Posting]
      val index = SegmentBuilder.buildBlocks(live.unionByName(deltaPostings), batchId)
      val docs = baseDocs
        .join(affectedDs.toDF("docId"), Seq("docId"), "left_anti")
        .as[DocRow].unionByName(deltaDocs)
      MergedData(docs, index)
    } else {
      val affected: Array[Long] = affectedDs.collect().sorted
      // groups travel as hashed Longs, not term strings — a wide-vocab
      // delta would otherwise plant GBs of strings on the driver. A
      // hash collision only mis-routes an untouched group into the
      // rebuild path (same postings re-encoded — correct, just work).
      val groups: Array[Long] =
        groupsDs.as[(String, Int)].map(g => groupKey(g._1, g._2))
          .collect().sorted
      val bAffected = spark.sparkContext.broadcast(affected)
      val bGroups = spark.sparkContext.broadcast(groups)

      def isTouched(b: IndexBlock): Boolean =
        java.util.Arrays.binarySearch(
          bGroups.value, groupKey(b.term, b.bucket)) >= 0
      def overlaps(b: IndexBlock): Boolean =
        rangeHasAny(bAffected.value, b.firstDocId, b.lastDocId)
      def liveOnly(ps: Array[Posting]): Array[Posting] = {
        val a = bAffected.value
        ps.filter(p => java.util.Arrays.binarySearch(a, p.docId) < 0)
      }

      val passThrough = baseIndex.filter(b => !isTouched(b) && !overlaps(b))
      val rewritten = baseIndex
        .filter(b => !isTouched(b) && overlaps(b))
        .flatMap { b =>
          val live = liveOnly(SegmentBuilder.decodeBlock(b))
          if (live.isEmpty) None
          else Some(SegmentBuilder.reencodeBlock(b, live))
        }
      val pooled = baseIndex
        .filter(isTouched _)
        .flatMap(b => liveOnly(SegmentBuilder.decodeBlock(b)))
      val rebuilt =
        SegmentBuilder.buildBlocks(pooled.unionByName(deltaPostings), batchId)
      val index = passThrough.unionByName(rewritten).unionByName(rebuilt)

      val docs = baseDocs
        .filter(d => java.util.Arrays.binarySearch(bAffected.value, d.docId) < 0)
        .unionByName(deltaDocs)
      MergedData(docs, index)
    }
  }

  /** 64-bit group key for the touched-group membership set (same xxhash64
    * family as docIds, bucket as the seed so (t,0) and (t,1) differ).
    */
  private def groupKey(term: String, bucket: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, bucket.toLong)

  /** Any element of sorted `a` inside the signed range [lo, hi]? (Block
    * ranges never span a bucket, so signed order == unsigned order inside
    * them.)
    */
  private def rangeHasAny(a: Array[Long], lo: Long, hi: Long): Boolean = {
    var i = java.util.Arrays.binarySearch(a, lo)
    if (i < 0) i = -i - 1
    i < a.length && a(i) <= hi
  }
}
