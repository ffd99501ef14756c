package graft

import java.sql.Timestamp
import graft.corpus.Corpus
import graft.index.DocIds
import graft.oracle.NaiveIndex
import graft.query.{IndexReader, QuerySet}
import graft.sources.TableIO
import graft.sync.SyncJob

/** The docId bucket width is a parallelism/layout knob, never a
  * semantics knob: the same corpus indexed at different widths must give
  * identical top-k (rank AND score) for the whole reference query set.
  * The width an index was built at is recorded in its manifest; a batch
  * run at a different width against an existing index must refuse.
  */
class BucketBitsSpec extends SparkTestBase {

  private def withBits[A](bits: Int)(f: => A): A = {
    val prev = sys.props.get("graft.docid.bucketBits")
    sys.props("graft.docid.bucketBits") = bits.toString
    DocIds.refreshBucketBits()
    try f finally {
      prev match {
        case Some(v) => sys.props("graft.docid.bucketBits") = v
        case None => sys.props.remove("graft.docid.bucketBits")
      }
      DocIds.refreshBucketBits()
    }
  }

  test("rank invariance: bucketBits 5 and 7 give identical top-k") {
    val N = 700
    val rows = Corpus.localRows(N)
    val oracle = new NaiveIndex(rows)
    val perBits = Seq(5, 7).map { bits =>
      withBits(bits) {
        val root = tmpDir(s"graft-bits$bits")
        val io = new TableIO(spark, root)
        SyncJob.run(spark, io, spark.createDataset(rows)(
          org.apache.spark.sql.Encoders.product[PageRow]),
          new Timestamp(Corpus.warcTsMillis(N)))
        assert(io.manifest(io.currentVersion().get).bucketBits == bits,
          "manifest must record the build width")
        val reader = new IndexReader(spark, root)
        assert(reader.bucketBits == bits)
        bits -> QuerySet.all.map { case (name, q) =>
          name -> reader.topK(q, 10).map(h => (h.docId, h.score)).toSeq
        }
      }
    }.toMap
    val want = QuerySet.all.map { case (name, q) =>
      name -> oracle.topK(q, 10).map(h => (h.docId, h.score)).toSeq
    }
    Seq(5, 7).foreach { bits =>
      perBits(bits).zip(want).foreach { case ((n1, got), (n2, w)) =>
        assert(n1 == n2)
        assert(got == w, s"bits=$bits query '$n1' diverged from oracle")
      }
    }
  }

  test("width mismatch against an existing index refuses loudly") {
    val N = 200
    val root = tmpDir("graft-bitsmismatch")
    val io = new TableIO(spark, root)
    withBits(5) {
      SyncJob.run(spark, io, Corpus.pages(spark, N, 4),
        new Timestamp(Corpus.warcTsMillis(N)))
    }
    withBits(6) {
      val e = intercept[IllegalStateException] {
        SyncJob.run(spark, io, Corpus.pages(spark, N + 50, 4),
          new Timestamp(Corpus.warcTsMillis(N + 50L)))
      }
      assert(e.getMessage.contains("bucketBits"), e.getMessage)
    }
  }
}
