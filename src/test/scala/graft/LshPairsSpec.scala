package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The degenerate-bucket-safe LSH pair generator must emit EXACTLY the
  * pair set of a plain band self-join (the DuckDB oracle CTEs are the
  * self-join form and are frozen), in both regimes: the small-corpus
  * grouped expansion and the chunked triangle path a template-heavy
  * crawl's oversized buckets take.
  */
class LshPairsSpec extends SparkTestBase {
  import spark.implicits._

  private def naivePairs(bands: DataFrame): Set[(Long, Long)] = {
    val a = bands.select(col("doc_id").as("d1"), col("band"), col("bh"))
    val b = bands.select(col("doc_id").as("d2"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh")).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
      .as[(Long, Long)].collect().toSet
  }

  private def got(bands: DataFrame, sourceRows: Long): Set[(Long, Long)] =
    SparkEntry.bucketPairs(bands, Seq("band", "bh"), "doc_id", sourceRows,
        "d1", "d2")
      .distinct().as[(Long, Long)].collect().toSet

  /** Mixed bucket shapes: one degenerate (most ids), several small, a
    * singleton, and cross-bucket overlaps that make duplicate pairs.
    */
  private def fixture: DataFrame = {
    val rows =
      (0L until 210L).map(i => (0, "hot", i)) ++ // degenerate bucket
        (0L until 9L).map(i => (0, "warm", i * 3)) ++ // overlaps hot ids
        Seq((1, "hot", 5L), (1, "hot", 17L), (1, "hot", 300L)) ++ // same bh, other band
        Seq((0, "single", 999L)) // no pairs
    rows.toDF("band", "bh", "doc_id")
  }

  test("small regime (grouped expansion) equals the band self-join") {
    val bands = fixture
    assert(got(bands, sourceRows = 210L) == naivePairs(bands))
  }

  test("chunked triangle regime equals the band self-join and bounds chunks") {
    val prev = sys.props.get("graft.lsh.maxBucket")
    sys.props("graft.lsh.maxBucket") = "16"
    try {
      val bands = fixture
      // sourceRows > cap forces the counted path; the 210-id bucket
      // splits into ceil(210/16) = 14 chunks
      assert(got(bands, sourceRows = 210L) == naivePairs(bands))
      // the per-task bound the split exists for: no (bucket, chunk)
      // expansion group exceeds ~2x the cap even on the degenerate
      // bucket (chunk = pmod(xxhash64(id), ceil(n/cap)) — the same
      // assignment bucketPairs computes)
      val cap = 16
      val maxChunk = fixture.groupBy($"band", $"bh")
        .agg(count(lit(1)).as("bn"), collect_list($"doc_id").as("ds"))
        .where($"bn" > cap)
        .select(explode($"ds").as("doc_id"), ceil($"bn" / cap).cast("int").as("s"),
          $"band", $"bh")
        .select($"band", $"bh", pmod(xxhash64($"doc_id"), $"s").as("c"))
        .groupBy($"band", $"bh", $"c").count()
        .agg(max($"count")).as[Long].head()
      assert(maxChunk <= 2L * cap,
        s"degenerate bucket chunk of $maxChunk rows exceeds 2x cap=$cap")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.lsh.maxBucket") = v
        case None => sys.props.remove("graft.lsh.maxBucket")
      }
    }
  }

  test("boundary shapes: cap+1 bucket, exact-cap bucket, two-id bucket") {
    val prev = sys.props.get("graft.lsh.maxBucket")
    sys.props("graft.lsh.maxBucket") = "8"
    try {
      val rows =
        (0L until 9L).map(i => (0, "cap1", i)) ++ // cap+1 -> 2 chunks
          (100L until 108L).map(i => (0, "atcap", i)) ++ // == cap -> grouped
          Seq((0, "duo", 7L), (0, "duo", 3L))
      val bands = rows.toDF("band", "bh", "doc_id")
      assert(got(bands, sourceRows = 9L) == naivePairs(bands))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.lsh.maxBucket") = v
        case None => sys.props.remove("graft.lsh.maxBucket")
      }
    }
  }

  /** 90 docs (every third a shared template) and 60 vectors (in threes). */
  private def bigDir(): String = {
    val dir = tmpDir("graft-lshbig")
    val docs = (0L until 90L).map { i =>
      val text =
        if (i % 3 == 0) "shared template body for near duplicate detection"
        else s"document $i with body ${graft.corpus.Corpus.mix(i)}"
      (i, text, "en", text.length)
    }
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(64)(j =>
        (java.lang.Math.floorMod(graft.corpus.Corpus.mix(i / 3 * 64 + j), 200L)
          - 100L) / 100.0f))
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("large-corpus verify joins: size-adapted path gives identical results") {
    // above the cap the simhash/embedding verifiers count + broadcast
    // the candidate pairs instead of trusting planner estimates; the
    // branch must be invisible in the results
    val dir = bigDir()
    def runQ(n: String): Seq[org.apache.spark.sql.Row] = {
      SparkEntry.clearQueryCaches()
      SparkEntry.queries(n)(spark, dir).collect().toSeq
    }
    val sh1 = runQ("q_simhash_near")
    val em1 = runQ("q_dedup_embed")
    val prev = sys.props.get("graft.lsh.maxBucket")
    sys.props("graft.lsh.maxBucket") = "16" // 90 docs / 60 vecs > cap
    try {
      assert(runQ("q_simhash_near") == sh1,
        "size-adapted simhash verify changed results")
      assert(runQ("q_dedup_embed") == em1,
        "size-adapted embedding verify changed results")
      assert(em1.nonEmpty && sh1.nonEmpty, "fixture produced no pairs")
    } finally {
      SparkEntry.clearQueryCaches()
      prev match {
        case Some(v) => sys.props("graft.lsh.maxBucket") = v
        case None => sys.props.remove("graft.lsh.maxBucket")
      }
    }
  }

  test("repeated large-corpus calls keep one persisted frame per query") {
    val dir = bigDir()
    val qs = Seq("q_simhash_near", "q_dedup_embed")
    def runAll() = qs.map(q => SparkEntry.queries(q)(spark, dir).collect().toSeq)
    val prev = sys.props.get("graft.lsh.maxBucket")
    sys.props("graft.lsh.maxBucket") = "16" // 90 docs / 60 vecs > cap
    try {
      SparkEntry.clearQueryCaches()
      val first = runAll()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      // no clearQueryCaches between calls: each call releases its
      // query's previous frame
      (1 to 3).foreach { _ =>
        assert(runAll() == first, "answers changed across calls")
        assert(SparkEntry.adHocPersists.size == qs.size)
        assert(spark.sparkContext.getPersistentRDDs.size <= persisted,
          s"${spark.sparkContext.getPersistentRDDs.size} persisted RDDs, $persisted after the first calls")
      }
    } finally {
      SparkEntry.clearQueryCaches()
      prev match {
        case Some(v) => sys.props("graft.lsh.maxBucket") = v
        case None => sys.props.remove("graft.lsh.maxBucket")
      }
    }
    assert(SparkEntry.adHocPersists.isEmpty)
  }

  test("degenerate corpus end-to-end: q_dedup_minhash identical on both paths") {
    // thousands of near-identical template docs collapse into the same
    // band buckets — the production LSH failure mode. The query's answer
    // must not depend on which pair-generation regime ran.
    val dir = tmpDir("graft-lshdegen")
    val docs = (0L until 600L).map { i =>
      val text =
        if (i % 2 == 0) "cookie banner accept all rights reserved parked domain"
        else s"unique document $i body ${graft.corpus.Corpus.mix(i)} terms here"
      (i, text, "en", text.length)
    }
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run(): Seq[(Long, Long)] = {
      SparkEntry.clearQueryCaches()
      SparkEntry.queries("q_dedup_minhash")(spark, dir)
        .as[(Long, Long)].collect().toSeq
    }
    val plain = run() // 600 docs <= default cap: grouped small regime
    val prev = sys.props.get("graft.lsh.maxBucket")
    sys.props("graft.lsh.maxBucket") = "32"
    try {
      val chunked = run() // 300-doc degenerate buckets -> triangle path
      assert(plain.nonEmpty, "degenerate corpus produced no candidates")
      assert(chunked == plain,
        "chunked pair generation changed q_dedup_minhash results")
    } finally {
      SparkEntry.clearQueryCaches()
      prev match {
        case Some(v) => sys.props("graft.lsh.maxBucket") = v
        case None => sys.props.remove("graft.lsh.maxBucket")
      }
    }
  }
}
