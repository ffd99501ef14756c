package graft

import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{DocIds, SegmentBuilder}
import graft.oracle.NaiveIndex
import graft.sources.TableIO
import graft.sync.{SyncJob, Tables}

/** Index construction correctness: dict/df/cf vs the naive oracle, block
  * invariants, partition-count invariance (FIXTURES.md §8).
  */
class IndexBuildSpec extends SparkTestBase {
  import spark.implicits._

  val N = 1000
  lazy val oracle = new NaiveIndex(Corpus.localRows(N))
  lazy val pages = Corpus.pages(spark, N, 4)
  lazy val analyzed = SegmentBuilder.analyze(pages).persist()

  test("distributed extraction matches the text column byte-for-byte") {
    assert(SegmentBuilder.verifyExtraction(pages) == 0L)
  }

  test("doclens and docIds match the oracle") {
    val got = analyzed.select($"docId", $"doclen").as[(Long, Int)]
      .collect().toMap
    assert(got.size == N)
    oracle.docs.foreach { d =>
      assert(got(d.docId) == d.dl, s"doclen mismatch for ${d.url}")
    }
  }

  test("blocks decode to exactly the oracle's postings") {
    val blocks = SegmentBuilder.buildBlocks(
      SegmentBuilder.toPostings(analyzed.toDF()), "b1").persist()
    val decoded = blocks.flatMap(SegmentBuilder.decodeBlock _)
      .collect()
      .groupBy(_.term)
      .view.mapValues(_.sortBy(_.docId).map(p => (p.docId, p.tf, p.dl)).toVector)
      .toMap
    assert(decoded.keySet == oracle.postings.keySet)
    oracle.postings.foreach { case (t, ps) =>
      assert(decoded(t) == ps, s"postings mismatch for term $t")
    }
    // block invariants: within (term,bucket) ranges are disjoint & ordered,
    // docIds stay inside their bucket
    val all = blocks.collect()
    all.foreach { b =>
      assert(DocIds.bucket(b.firstDocId) == b.bucket)
      assert(DocIds.bucket(b.lastDocId) == b.bucket)
      assert(b.count > 0 && b.count <= SegmentBuilder.BlockSize)
    }
    all.groupBy(b => (b.term, b.bucket)).foreach { case (_, bs) =>
      val sorted = bs.sortBy(_.firstDocId)
      sorted.sliding(2).foreach {
        case Array(x, y) => assert(x.lastDocId < y.firstDocId)
        case _ =>
      }
    }
    blocks.unpersist()
  }

  test("dict df/cf match the oracle") {
    // the dict the production path writes: a sync, then the driver fold
    val io = new TableIO(spark, tmpDir("graft-dict-oracle"))
    SyncJob.run(spark, io, pages, new java.sql.Timestamp(Corpus.warcTsMillis(N)))
    val version = io.currentVersion().get
    val chain = io.manifest(version).dictChain
    val dict = Tables.dictLocal(io, chain, oracle.postings.keys.toSeq)
      .map(d => d.term -> ((d.df, d.cf))).toMap
    assert(dict.size == oracle.postings.size)
    assert(Tables.dictView(spark, io, chain).count() == oracle.postings.size,
      "the dict holds terms the oracle does not")
    oracle.postings.keys.foreach { term =>
      assert(dict(term) == ((oracle.df(term), oracle.cf(term))),
        s"df/cf mismatch for $term")
    }
    val stats = io.readStats(version)
    assert(stats.n == N)
    assert(stats.avgdl == oracle.avgdl)
  }

  test("partition-count invariance: 1, 4, 16 partitions give identical blocks") {
    def blockSet(parts: Int): Set[(String, Int, Int, Long, Long, Int, Seq[Byte])] = {
      val pg = Corpus.pages(spark, N, parts)
      val an = SegmentBuilder.analyze(pg)
      SegmentBuilder.buildBlocks(SegmentBuilder.toPostings(an.toDF()), "b", parts)
        .collect()
        .map(b => (b.term, b.bucket, b.blockId, b.firstDocId, b.lastDocId,
          b.count, b.docIdsVB.toSeq))
        .toSet
    }
    val s1 = blockSet(1)
    val s4 = blockSet(4)
    val s16 = blockSet(16)
    assert(s1 == s4)
    assert(s4 == s16)
  }

  test("skew: no single (term,bucket) group holds a whole stopword list") {
    val blocks = SegmentBuilder.buildBlocks(
      SegmentBuilder.toPostings(analyzed.toDF()), "b1")
    val theBuckets = blocks.filter($"term" === "the")
      .select($"bucket").distinct().count()
    // "the" appears in nearly every doc; its postings must spread over many
    // docId buckets (salted split), not one reducer
    assert(theBuckets > DocIds.numBuckets / 2,
      s"'the' only in $theBuckets buckets")
  }

  test("skew: shuffle partitions stay balanced despite Zipf stopwords") {
    import org.apache.spark.sql.functions._
    val parts = 8
    val blocks = SegmentBuilder.buildBlocks(
      SegmentBuilder.toPostings(analyzed.toDF()), "b1", parts)
    // postings per shuffle partition under the (term,bucket) hash —
    // SURVEY §7.6.3: no task may hold a disproportionate share
    val perPart = blocks
      .withColumn("pid", pmod(hash($"term", $"bucket"), lit(parts)))
      .groupBy($"pid").agg(sum($"count").as("postings"))
      .select($"postings").as[Long].collect()
    val total = perPart.sum.toDouble
    val maxShare = perPart.max / total
    assert(maxShare < 0.30,
      f"hottest partition holds $maxShare%.2f of postings (want < 0.30)")
  }
}
