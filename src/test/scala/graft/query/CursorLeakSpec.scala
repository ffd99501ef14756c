package graft.query

import org.apache.spark.CountingTaskContext
import graft.index.{PosPosting, Positional}

/** The JVM-global resident-positions counter must survive ABANDONED
  * iterators: a Spark task can stop consuming matchesInBucket mid-stream
  * (task kill, speculation, a downstream limit), skipping both the
  * exhaustion close and the exception close. The task-completion listener
  * has to release the cursors, or one early-terminated task inflates
  * maxResidentPositions (and the memory-bound assertions built on it) for
  * the process lifetime.
  *
  * Lives in package graft.query to reach the private[query] internals.
  */
class CursorLeakSpec extends graft.SparkTestBase {

  test("a task that abandons the match iterator still releases its cursors") {
    import spark.implicits._
    // 300 docs, every one containing the bigram (alpha@0, beta@1), one
    // bucket -> 3 blocks of 128 per term; a single match leaves the lead
    // cursor mid-block with plenty of stream remaining
    val postings = (0 until 300).flatMap { i =>
      Seq(PosPosting("alpha", 0, i.toLong, 2, Seq(0)),
          PosPosting("beta", 0, i.toLong, 2, Seq(1)))
    }
    val blocks =
      Positional.buildBlocks(spark.createDataset(postings), 1).collect()
    assert(blocks.count(_.term == "alpha") == 3 &&
      blocks.count(_.term == "beta") == 3)
    // the streaming intersection consumes a doc-major sorted stream
    val sorted = blocks.sortBy(b => (b.firstDocId, b.term, b.blockId))
    Phrase.resetResidentTracking()
    val bc = spark.sparkContext.broadcast(sorted)
    val rdd = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      Phrase.matchesInBucketStreaming(bc.value.iterator,
        Seq("alpha", "beta"), "alpha")
    }
    // take(1) consumes ONE match and completes the task with the
    // iterator unexhausted — the abandonment scenario
    val first = rdd.take(1)
    assert(first.length == 1 && first.head.docId == 0L)
    assert(Phrase.residentPositionsNow == 0L,
      s"abandoned task leaked ${Phrase.residentPositionsNow} resident " +
        "positions — the task-completion listener did not close cursors")
  }

  test("a task streaming many groups registers one task-end listener") {
    // G (segment, bucket) groups of 10 docs, each holding the bigram: a
    // listener per group would keep every finished group's cursors
    // reachable until the task ends
    import spark.implicits._
    val G = 40
    val postings = (0 until 10 * G).flatMap { i =>
      Seq(PosPosting("alpha", i % G, i.toLong, 2, Seq(0)),
          PosPosting("beta", i % G, i.toLong, 2, Seq(1)))
    }
    val rows = Positional.buildBlocks(spark.createDataset(postings), 1).collect()
      .map(b => Phrase.SegPosBlock(b.term, b.bucket, b.blockId, b.firstDocId,
        b.count, b.docIdsVB, b.tfsVB, b.dlsVB, b.posVB, "s1"))
      .sortBy(b => (b.bucket, b.firstDocId, b.term, b.blockId))
    def stream() = Phrase.streamGroups(rows.iterator, Seq("alpha", "beta"), "alpha")
    Phrase.resetResidentTracking()
    val ctx = new CountingTaskContext
    assert(ctx.run(stream().size) == 10 * G)
    assert(ctx.completionListeners.get == 1,
      s"${ctx.completionListeners.get} listeners for one task over $G groups")
    ctx.complete()
    // abandoned mid-group: the one listener closes the open group
    val abandoned = new CountingTaskContext
    assert(abandoned.run(stream().next())._1 == 0L)
    assert(Phrase.residentPositionsNow > 0L)
    abandoned.complete()
    assert(abandoned.completionListeners.get == 1)
    assert(Phrase.residentPositionsNow == 0L,
      s"abandoned stream leaked ${Phrase.residentPositionsNow} resident positions")
  }
}
