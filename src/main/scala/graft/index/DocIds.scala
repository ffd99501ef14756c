package graft.index

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic docId assignment + docId-range bucketing.
  *
  * docId = xxhash64(url, seed 42) — the same hash Spark's `xxhash64`
  * column function computes, so url→docId needs no lookup table: purge and
  * reconcile can map keys to docIds on either side of a join without a
  * shuffle against the docs table. Rank-stability across re-runs is free
  * (pure function of url); collisions are checked exactly: per-batch
  * within the delta (SegmentBuilder.checkCollisions), delta-vs-live
  * across batches (Tables.appendVersion joins delta urls against the
  * killed docs' urls), and whole-index at every compaction — at 10^12
  * docs production would widen to (hash, url) keyed postings.
  *
  * bucket = top `bucketBits` bits of the unsigned docId. Within one bucket
  * all docIds share their high bits, so signed ascending order == unsigned
  * ascending order and delta-gaps are non-negative. Buckets are the
  * salted-repartition unit: a stopword's postings split into NUM_BUCKETS
  * independent block runs processed by separate tasks (skew handling), and
  * WAND runs doc-at-a-time per bucket.
  */
object DocIds extends Serializable {
  val Seed = 42L

  def docId(url: String): Long =
    XxHash64Function.hash(UTF8String.fromString(url), StringType, Seed)

  /** Configured bucket width for NEW builds (sysprop/env overridable like
    * every other tunable; cached in a field — hot loops call bucket() per
    * posting). 2^bits buckets cap both the per-term skew split and the
    * per-query bucket parallelism, so production raises it with corpus
    * size (at 10^12 docs a 5-bit width leaves ~3×10^10 postings of a
    * stopword in one encoder run). The width an INDEX was built at is
    * persisted in its manifest — read paths use that recorded value
    * (IndexReader), and new batches against an existing index are checked
    * against it (fail loudly, never silently mis-bucket). Changing the
    * width changes block layout and parallelism, never answers
    * (BucketBitsSpec rank-invariance).
    */
  @volatile var bucketBits: Int = computeBits
  private def computeBits: Int = {
    val bits = sys.props.get("graft.docid.bucketBits")
      .orElse(sys.env.get("GRAFT_DOCID_BUCKET_BITS"))
      .map(_.toInt).getOrElse(5)
    // floor 1: within a bucket all docIds share their top bit(s), so
    // signed ascending == unsigned ascending and delta-gaps stay
    // non-negative — 0 bits would mix signs inside one encoder run
    require(bits >= 1 && bits <= 16, s"bucketBits must be in [1,16]: $bits")
    bits
  }
  /** Re-read the sysprop/env (tests toggle widths within one JVM). */
  def refreshBucketBits(): Unit = bucketBits = computeBits

  def numBuckets: Int = 1 << bucketBits

  /** Top bits of the unsigned 64-bit docId → [0, numBuckets). */
  def bucket(docId: Long): Int = bucket(docId, bucketBits)

  /** Bucket at an EXPLICIT width — read paths pass the index's recorded
    * width, independent of runtime config. (bits=0 = one bucket; the
    * shift must be branched — a 64-bit shift is a no-op in JVM/Spark
    * semantics, not zero.)
    */
  def bucket(docId: Long, bits: Int): Int =
    if (bits == 0) 0 else (docId >>> (64 - bits)).toInt
}
