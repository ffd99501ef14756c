package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per operator family from
  * SURVEY.md §2 (phrased over the driver's TPC-H-ish testdata so DuckDB
  * can oracle-check them), plus the large-scale training-data ops
  * (dedup / similarity / text analysis) over `documents`/`embeddings`.
  *
  * Index/codec/WAND internals that SQL can't express are gated by
  * `sbt -batch test` against the naive oracle (see QuerySpec), and
  * `q_engine_bm25` below closes the loop by checking the real engine's
  * BM25 top-k against a pure-SQL BM25 oracle in DuckDB.
  *
  * Conventions for oracle parity:
  *  - every float column is `round(x, 4)` on both sides, and float
  *    orderings sort by the rounded value with a unique integer tie-break;
  *  - every query has a deterministic total ORDER BY on both sides;
  *  - aggregate/computed columns carry identical aliases on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship on sf0.001 — the SyncJob plan shape (watermark filter →
    * key join → rollup); driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    li.filter(col("l_shipdate") > lit("1996-01-01") &&
        col("l_shipdate") <= lit("1999-01-01"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  // ------------------------------------------------------------------
  // §2.1/§2.2 scans + predicates
  // ------------------------------------------------------------------

  /** S1/P3: watermark-bounded incremental scan (closed interval). */
  private def qIncrementalScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("ts") > lit("2024-01-10 00:00:00") &&
        col("ts") <= lit("2024-01-20 00:00:00"))
      .select(col("event_id"), col("ts"), col("event_type"))
      .orderBy(col("event_id"))

  /** S2: key-only purge scan (column pruning). */
  private def qKeyOnlyScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey")).distinct()
      .orderBy(col("o_orderkey"))

  /** S3: key+timestamp reconcile scan. */
  private def qKeyTsScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("user_id"))
      .agg(max(col("ts")).as("max_ts"))
      .orderBy(col("user_id"))

  /** S4/J4: point-lookup batch fetch = semi join by explicit id list. */
  private def qSemiJoinMissing(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"))
    t(s, dir, "lineitem")
      .join(broadcast(ids), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** S6/A2/A3: count + most-recent probe. */
  private def qCountMostRecent(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(count(lit(1)).as("cnt"), max(col("o_orderdate")).as("most_recent"))

  // ------------------------------------------------------------------
  // §2.3 joins
  // ------------------------------------------------------------------

  /** J1: purge anti-join (destination ids − source ids): customers with
    * no order in the recent source window are purge candidates.
    */
  private def qPurgeAntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") > lit("1997-06-01"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .orderBy(col("c_custkey"))

  /** J2: reconcile diff — missing OR timestamp drifted (null-safe). */
  private def qReconcileDiff(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val dest = t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0,
          col("o_orderdate") + expr("INTERVAL 1 DAY"))
          .otherwise(col("o_orderdate")).as("d_ts"))
    src.join(dest, Seq("o_orderkey"), "left_outer")
      .where(col("d_ts").isNull || !(col("o_orderdate") <=> col("d_ts")))
      .select(col("o_orderkey"))
      .orderBy(col("o_orderkey"))
  }

  /** J3: missing-id union across destinations, distinct. */
  private def qMissingUnion(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey").as("k"))
      .unionByName(t(s, dir, "lineitem").filter(col("l_partkey") % 17 === 0)
        .select(col("l_orderkey").as("k")))
      .distinct()
      .orderBy(col("k"))

  /** J5: parent↔child expand = explode with parent columns carried. */
  private def qExpandExplode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(explode(split(col("p_type"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  // ------------------------------------------------------------------
  // §2.4 aggregations, §2.6 sorts/limits
  // ------------------------------------------------------------------

  /** A4: stats-ledger rollup (cumulative counters per group). */
  private def qStatsRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total"))
      .orderBy(col("event_type"))

  /** A5: page math — expectedTotalPages = ceil(count / top). */
  private def qPageMath(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").groupBy(col("o_orderpriority"))
      .agg(ceil(count(lit(1)) / 200.0).cast("bigint").as("pages"))
      .orderBy(col("o_orderpriority"))

  /** P3 variant: windowed counts per type. */
  private def qWatermarkWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("ts") > lit("2024-01-05 00:00:00") &&
        col("ts") <= lit("2024-01-15 00:00:00"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** P3 full semantics: multi-field watermark with the nullable rule —
    * (ts > lo1 OR (ts2 IS NOT NULL AND ts2 > lo2)) AND ts <= batchTs AND
    * (ts2 IS NULL OR ts2 <= batchTs), evaluated by the engine's own
    * Watermark.predicate. ts2 is a deterministic nullable derivation so
    * DuckDB computes the identical column.
    */
  private def qWatermarkNullable(s: SparkSession, dir: String): DataFrame = {
    def utc(iso: String): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.LocalDateTime.parse(iso)
        .toInstant(java.time.ZoneOffset.UTC))
    val e = t(s, dir, "events")
      .withColumn("ts2",
        when(col("event_id") % 3 === 0, lit(null).cast("timestamp"))
          .otherwise(expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0, cast(floor(value) as int))")))
    e.filter(graft.sync.Watermark.predicate(
        Map("ts" -> utc("2024-01-06T00:00:00"),
          "ts2" -> utc("2024-01-03T00:00:00")),
        utc("2024-01-10T00:00:00"), Seq("ts", "ts2")))
      .select(col("event_id"), col("ts"), col("ts2"))
      .orderBy(col("event_id"))
  }

  /** O4: top-1 by timestamp (deterministic tie-break). */
  private def qTop1Latest(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"), col("ts"))
      .orderBy(col("ts").desc, col("event_id").asc).limit(1)

  /** O6: deterministic top-k (score desc, key asc) — the BM25 rank rule. */
  private def qTopkDeterministic(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  /** O7: keyset-pagination resume (filter key > last, ordered, page). */
  private def qKeysetResume(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_orderkey") > 1000)
      .select(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** §2.8 JSON family: parse the events props JSON and aggregate. */
  private def qJsonProps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_total"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** §2.5 window analog: latest event per user (row_number == 1), the
    * top-1-by-timestamp per key pattern (A2/S6 generalized).
    */
  private def qTop1PerUser(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------------------
  // A6 index-build aggregations over `documents` (SQL-expressible layer)
  // ------------------------------------------------------------------

  private def tok(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))

  /** tf per (doc, term) — the posting-construction aggregate. */
  private def qTf(s: SparkSession, dir: String): DataFrame =
    tok(s, dir).groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("doc_id"), col("term"))

  /** df/cf per term — the dictionary aggregate. */
  private def qDfDict(s: SparkSession, dir: String): DataFrame =
    tok(s, dir).groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("cf"))
      .orderBy(col("term"))

  /** doclen per doc. */
  private def qDoclen(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("doclen"))
      .orderBy(col("doc_id"))

  /** N + avgdl — the corpus stats aggregate. */
  private def qCorpusStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(size(split(col("text"), " ")).cast("double").as("dl"))
      .agg(count(lit(1)).as("n"), round(avg(col("dl")), 4).as("avgdl"))

  /** Full BM25 top-10 in one declarative plan (k1=1.2, b=0.75, Lucene idf),
    * query = {spark, stream, vector}.
    */
  private def qBm25TopK(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "stream", "vector")
    val tk = tok(s, dir)
    val tf = tk.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tk.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      avg(col("dl").cast("double")).as("avgdl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.filter(col("term").isin(terms: _*))
      .join(df, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum(
        log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") / (col("tf") +
            lit(1.2) * (lit(1) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))))
        .as("raw"))
      .select(col("doc_id"), round(col("raw"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** The real engine end-to-end vs the SQL BM25 oracle: documents →
    * PageRow corpus → SyncJob (segment build + merge + publish) →
    * block-max WAND top-10 — must equal DuckDB's from-first-principles
    * BM25 (same query terms as q_bm25_topk).
    */
  private def qEngineBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // throwaway single-query index: tmpfs when available (the ephemeral
    // staging/publish churn is pure overhead on a disk)
    val tmpBase = java.nio.file.Paths.get(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
      else System.getProperty("java.io.tmpdir"))
    val root = java.nio.file.Files
      .createTempDirectory(tmpBase, "graft-entry-index").toString
    // documents.text is verified [a-z0-9 ]-only, so a single <p> wrapper
    // satisfies the extractor's byte-identical roundtrip with no escaping
    val pages = t(s, dir, "documents").select(
      concat(lit("doc://"), col("doc_id")).as("url"),
      expr("timestamp_seconds(doc_id)").as("warc_ts"),
      encode(concat(lit("<html><head></head><body><p>"), col("text"),
        lit("</p></body></html>")), "utf-8").as("html"),
      col("text"),
      col("lang")).as[PageRow]
    val io = new graft.sources.TableIO(s, root)
    graft.sync.SyncJob.run(s, io, pages, new java.sql.Timestamp(System.currentTimeMillis()))
    val reader = new graft.query.IndexReader(s, root)
    // fetch deep (k=200) so the round-to-4-decimals re-rank below can
    // re-break ties the same way the SQL oracle does before the limit
    val hits = reader.search("spark stream vector", 200)
    // hits are collected — the ephemeral index can go (tmpfs-resident;
    // the reader holds no Spark-side cache, its dict cache is driver-heap)
    io.deleteDir(root)
    hits.map(h => (h.url.stripPrefix("doc://").toLong,
        BigDecimal(h.score).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toSeq.toDF("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  // ------------------------------------------------------------------
  // Training-pipeline ops: dedup / similarity / text analysis
  // ------------------------------------------------------------------

  /** Exact dedup: hash-groupBy, keep min doc_id per content hash. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dupes"))
      .orderBy(col("h"))

  /** MinHash+LSH near-dup candidates: char-5-gram shingles (stride 4),
    * 32 hash permutations banded 8 bands × 4 rows — candidates = pairs
    * sharing a whole band's signature (P[candidate] = 1-(1-s⁴)⁸ ≈ 0.985 at
    * Jaccard 0.8, ≈ 0.06 at 0.3), so candidate generation is a bucket
    * join, never all-pairs, and weak pairs mostly never surface (this
    * template-heavy corpus: 10k candidates instead of 1.16M at r=2).
    *
    * Each shingle is hashed ONCE (md5 → 60-bit int) and the 32
    * permutations are affine transforms (aⱼ·x + bⱼ) mod p — the classic
    * universal-hash MinHash — computed in one codegen'd pass per doc
    * ([[graft.functions.MinHashSigsExpr]]). Constants stay < 2²² so
    * products stay < 2⁵² (DuckDB BIGINT arithmetic is overflow-checked;
    * both engines agree exactly); the SQL CTEs below are generated from
    * the expression's own constants so the engines can never drift.
    */
  private val MhP = graft.functions.MinHashSigsExpr.P
  private def mhA(j: Int): Long = graft.functions.MinHashSigsExpr.a(j)
  private def mhB(j: Int): Long = graft.functions.MinHashSigsExpr.b(j)

  // ------------------------------------------------------------------
  // Degenerate-bucket-safe LSH candidate generation (shared by the
  // MinHash, SimHash, and embedding near-dup paths)
  // ------------------------------------------------------------------

  /** Per-task bucket-size cap for LSH pair generation. A template-heavy
    * crawl concentrates near-identical docs into one band bucket; an
    * uncapped bucket of 10⁶ docs emits 5·10¹¹ candidate pairs in ONE
    * task — the standard production LSH failure. Buckets above the cap
    * are hash-split into chunks and their pairs generated by a triangle
    * chunk-pair join, so per-task work is bounded by ~cap² while the
    * emitted pair set stays EXACTLY the set a plain band self-join
    * produces (the DuckDB oracle is frozen — a result-changing cap/drop
    * is not an option; LshPairsSpec asserts set equality on degenerate
    * corpora).
    */
  private[graft] def lshMaxBucket: Int =
    sys.props.get("graft.lsh.maxBucket")
      .orElse(sys.env.get("GRAFT_LSH_MAX_BUCKET"))
      .map(_.toInt).getOrElse(8192)

  /** Exact row count of a parquet file/dir from its footers — driver-side
    * metadata only, no Spark job (the gate below must not cost the
    * common small-corpus case an extra action).
    */
  private[graft] def parquetRows(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    def files(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st) else Seq.empty
    files(fs.getFileStatus(p)).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** All unordered candidate pairs (out1 < out2) of ids sharing a bucket
    * key — the LSH band-join core, emitted WITHOUT a self-join and
    * WITHOUT an unbounded per-task bucket expansion.
    *
    * Small regime (`sourceRows <= lshMaxBucket`, which bounds every
    * bucket trivially since an id appears at most once per bucket): one
    * groupBy + in-row sorted pair expansion — one Exchange, one scan of
    * `rows` (the former self-join scanned it twice and shuffled both
    * sides). Large regime: per-bucket counts (its groupBy shares the
    * partitioning of the join that follows), buckets over the cap are
    * split into s = ceil(n/cap) chunks by id hash; same-chunk pairs
    * expand like small buckets, cross-chunk pairs come from a triangle
    * join on (bucket, c1, c2) with c1 < c2 — each task holds two chunks,
    * so per-task pair work is bounded by ~cap² regardless of bucket
    * degeneracy, and the replication cost is rows·s ≈ pairs/cap.
    *
    * May emit duplicate pairs ACROSS buckets (exactly like the
    * self-join); callers apply the same `.distinct()` they always did.
    */
  private[graft] def bucketPairs(rows: DataFrame, keyCols: Seq[String],
      idCol: String, sourceRows: Long,
      out1: String, out2: String): DataFrame = {
    val ks = keyCols.map(col)
    def grouped(r: DataFrame, keys: Seq[Column]): DataFrame =
      r.groupBy(keys: _*)
        .agg(array_sort(collect_list(col(idCol))).as("ds"))
        .where(size(col("ds")) > 1)
    def expand(g: DataFrame): DataFrame =
      g.select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds) - i - 1), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
        .select(col("p.a").as(out1), col("p.b").as(out2))
    val cap = lshMaxBucket
    if (sourceRows <= cap) expand(grouped(rows, ks))
    else {
      val cnt = rows.groupBy(ks: _*).agg(count(lit(1)).as("bn"))
      val withN = rows.join(cnt, keyCols)
      val small = expand(grouped(withN.where(col("bn") <= cap), ks))
      val big = withN.where(col("bn") > cap)
        .withColumn("s", ceil(col("bn") / cap).cast("int"))
        .withColumn("c", pmod(xxhash64(col(idCol)), col("s")).cast("int"))
        .select(ks ++ Seq(col(idCol), col("s"), col("c")): _*)
      val same = expand(grouped(big, ks :+ col("c")))
      val lhs = big.where(col("c") < col("s") - 1)
        .withColumn("c2", explode(expr("sequence(c + 1, s - 1)")))
        .select(ks ++ Seq(col(idCol).as("xa"), col("c").as("c1"), col("c2")): _*)
      val rhs = big.where(col("c") > 0)
        .withColumn("c1", explode(expr("sequence(0, c - 1)")))
        .select(ks ++ Seq(col(idCol).as("xb"), col("c1"), col("c").as("c2")): _*)
      val cross = lhs.join(rhs, keyCols ++ Seq("c1", "c2"))
        .select(least(col("xa"), col("xb")).as(out1),
          greatest(col("xa"), col("xb")).as(out2))
      small.unionByName(same).unionByName(cross)
    }
  }

  private def minhashBands(s: SparkSession, dir: String): DataFrame = {
    // 32 signature minima in ONE codegen'd pass per doc (the former
    // per-shingle explode → md5 → conv → groupBy(32 mins) pipeline
    // shuffled O(corpus-shingles) rows and dominated q_dedup_jaccard's
    // wall time; the expression is bit-identical — ExpressionSpec —
    // and the DuckDB oracle keeps the explicit CTE form)
    val sig = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.functions.minhash_sigs(col("text")).as("sig"))
    val bandCols = (0 until 8).map { bd =>
      struct(lit(bd).as("band"),
        md5(concat_ws(":", lit(bd) +: (0 until 4).map(r =>
          element_at(col("sig"), 4 * bd + r + 1)): _*)).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bh").as("bh"))
  }

  /** The MinHash/banding pipeline as DuckDB CTEs — generated from the
    * same constants as the Spark side so they can never drift.
    */
  private def minhashSqlCtes: String = {
    val mins = (0 until 32)
      .map(j => s"    min((${mhA(j)}*x + ${mhB(j)}) % $MhP) AS s$j")
      .mkString(",\n")
    val bands = (0 until 8)
      .map { bd =>
        val sigs = (0 until 4)
          .map(r => s"s${4 * bd + r}::VARCHAR").mkString(" || ':' || ")
        s"  SELECT doc_id, $bd AS band, md5('$bd:' || $sigs) AS bh FROM mh"
      }
      .mkString("\n  UNION ALL\n")
    s"""sh AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(substr(text, p, 5)), 1, 15)) AS BIGINT)
       |           % $MhP AS x
       |  FROM (SELECT doc_id, text,
       |        unnest(generate_series(1, greatest(length(text)-4, 1), 4)) AS p
       |        FROM documents)),
       |mh AS (
       |  SELECT doc_id,
       |$mins
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |$bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Candidate pairs, cached per (session, dir): q_dedup_minhash and
    * q_dedup_jaccard share one pipeline run — the verifier must not pay
    * the shingle→signature→band cost twice (the cached frame is tiny:
    * the candidate PAIRS, not the bands).
    *
    * Staleness contract: entries are keyed by directory PATH and never
    * invalidated — correct for this one-shot driver/bench contract (each
    * run reads immutable testdata once). A long-lived session re-querying
    * a dir after its data changed would see stale candidates; such a
    * caller must clear via [[clearQueryCaches]].
    */
  private val minhashCandCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    minhashCandCache.computeIfAbsent((s, dir), _ => {
      // pair set identical to the former bands self-join (bucketPairs
      // Scaladoc); one bands scan + one Exchange instead of two of each,
      // and a degenerate band bucket can no longer pin one task
      bucketPairs(minhashBands(s, dir), Seq("band", "bh"), "doc_id",
          parquetRows(s, s"$dir/documents.parquet"), "d1", "d2")
        .distinct()
        .persist()
    })

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashCandidates(s, dir).orderBy(col("d1"), col("d2"))

  /** Unpersist + drop every per-(session, dir) query cache — for
    * long-lived sessions whose input dirs may change between queries.
    */
  def clearQueryCaches(): Unit = {
    minhashCandCache.values.forEach(df => { df.unpersist(); () })
    minhashCandCache.clear()
    simhashCache.values.forEach(df => { df.unpersist(); () })
    simhashCache.clear()
    adHocPersists.values.forEach(df => { df.unpersist(); () })
    adHocPersists.clear()
  }

  /** The persisted frame of each large-corpus query's last call
    * (candidate pair sets sized for a broadcast decision), by query: a
    * call releases its query's previous frame before persisting its own,
    * so the set stays bounded by the query count however often they run;
    * [[clearQueryCaches]] releases them all. A released frame that an
    * earlier answer still references is recomputed, never wrong.
    */
  private[graft] val adHocPersists =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def persistForQuery(query: String, df: DataFrame): DataFrame =
    // release first: persisting an equal plan first would share the old
    // cache entry, which the release would then drop
    adHocPersists.compute(query, (_, prev) => {
      if (prev != null) prev.unpersist()
      df.persist()
    })

  /** 64-bit SimHash (md5-bit hyperplanes, tf-weighted ±1 votes per
    * occurrence), reported as two 32-bit halves in bigint columns
    * (hi = bits 33..64, lo = bits 1..32) so neither engine risks
    * signed-64 overflow on the top bit. Bit b of a term's hyperplane
    * vector is bit (b-1)%4 of md5 hex digit ceil(b/4).
    *
    * Computed by the codegen'd `simhash64` Catalyst expression — one
    * tokenize+vote pass per doc (ExpressionSpec pins it bit-identical to
    * the explicit 64-way explode pipeline; the DuckDB oracle keeps the
    * explode form).
    */
  private def simhashHalves(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.functions.simhash64(col("text")).as("sh"))
      .select(col("doc_id"),
        col("sh.simhash_hi").as("simhash_hi"),
        col("sh.simhash_lo").as("simhash_lo"))

  /** Cached per (session, dir): q_dedup_simhash and q_simhash_near share
    * one pipeline run, and the near query references the halves frame
    * three times (bands + both join sides) — without the persist Spark
    * would recompute the 64-way bit pipeline per reference.
    */
  private val simhashCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def simhashHalvesCached(s: SparkSession, dir: String): DataFrame =
    simhashCache.computeIfAbsent((s, dir), _ => simhashHalves(s, dir).persist())

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashHalvesCached(s, dir).orderBy(col("doc_id"))

  /** SimHash near-dup candidates: 4 bands of 16 bits; pairs sharing any
    * band are candidates (pigeonhole: Hamming ≤ 3 over 64 bits cannot
    * break all 4 bands), then the exact Hamming distance verifies ≤ 3.
    * The band join is a bucket join — never all-pairs.
    */
  private def qSimhashNear(s: SparkSession, dir: String): DataFrame = {
    val sh = simhashHalvesCached(s, dir)
    val bands = sh.select(col("doc_id"), explode(array(
      struct(lit(0).as("bi"), (col("simhash_lo") % 65536).as("bv")),
      struct(lit(1).as("bi"), expr("simhash_lo div 65536").as("bv")),
      struct(lit(2).as("bi"), (col("simhash_hi") % 65536).as("bv")),
      struct(lit(3).as("bi"), expr("simhash_hi div 65536").as("bv"))))
        .as("bd"))
      .select(col("doc_id"), col("bd.bi").as("bi"), col("bd.bv").as("bv"))
    val docsRows = parquetRows(s, s"$dir/documents.parquet")
    val cand0 = bucketPairs(bands, Seq("bi", "bv"), "doc_id",
        docsRows, "d1", "d2")
      .distinct()
    // at corpus scale the candidate pairs are the small side of the
    // verify joins (sh is O(corpus)): count once, size-adapt — same
    // treatment as the jaccard/embedding verifiers; below the cap the
    // cached sh frame is tiny and the planner handles it
    val cand =
      if (docsRows <= lshMaxBucket) cand0
      else {
        val c = persistForQuery("q_simhash_near", cand0)
        graft.sync.Tables.maybeBroadcast(c, c.count())
      }
    cand
      .join(sh.select(col("doc_id").as("d1"), col("simhash_hi").as("h1"),
        col("simhash_lo").as("l1")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("simhash_hi").as("h2"),
        col("simhash_lo").as("l2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        expr("cast(bit_count(l1 ^ l2) + bit_count(h1 ^ h2) as int)")
          .as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy(col("d1"), col("d2"))
  }

  /** Token-set Jaccard as the MinHash candidate VERIFIER: exact Jaccard
    * is computed only for the LSH candidate pairs (candidates ≪ all
    * pairs), never corpus×corpus — the standard dedup pipeline shape.
    */
  private def qDedupJaccard(s: SparkSession, dir: String): DataFrame = {
    val cand = minhashCandidates(s, dir)
    // only docs that appear in a candidate PAIR need tokenizing: the
    // verifier's exact-Jaccard cost is O(candidate docs), not O(corpus)
    // — the scale property that makes LSH-then-verify viable at 100 TB.
    // Below the cap the whole corpus is smaller than a single bucket's
    // budget, and the pruning machinery (candDocs union+distinct + two
    // semi-join builds) costs more stages than tokenizing every doc —
    // the downstream d1/d2 joins restrict to candidate docs either way,
    // so results are identical.
    val docsRows = parquetRows(s, s"$dir/documents.parquet")
    val tkSource =
      if (docsRows <= lshMaxBucket) t(s, dir, "documents")
      else {
        val candDocs = cand.select(col("d1").as("doc_id"))
          .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
        t(s, dir, "documents").join(candDocs, Seq("doc_id"), "left_semi")
      }
    // distinct-token ARRAY per candidate doc: the exact-Jaccard check is
    // one codegen'd array_intersect per pair instead of shuffling
    // exploded term rows through distinct + groupBy + a two-key join
    // (identical semantics — split(' ') keeps empty tokens in both
    // forms, array_intersect de-duplicates — the DuckDB oracle keeps
    // the explicit exploded-CTE form; only results must match)
    val tk = tkSource
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("terms"))
    // candidates are ≪ corpus by design, but a near-dup-heavy crawl can
    // make them O(corpus) — size-adapt like every other delta-derived
    // set (the count is one cheap job on the persisted candidate frame).
    // tk holds at most 2·|cand| rows (only candidate docs survive the
    // semi join), so the same count bounds the second attach: both
    // joins size-adapt instead of the second falling to a sort-merge
    // shuffle the planner picked blind.
    val candN = cand.count()
    // tk rows are WIDE (a distinct-term array per doc, ~KB), so the
    // broadcast bound is far tighter than maybeBroadcast's row cap for
    // narrow id rows: 100k docs ≈ 100 MB built relation
    val tk2 = tk.select(col("doc_id").as("d2"), col("terms").as("t2"))
    graft.sync.Tables.maybeBroadcast(cand, candN)
      .join(tk.select(col("doc_id").as("d1"), col("terms").as("t1")), Seq("d1"))
      .join(if (2 * candN <= 100000L) broadcast(tk2) else tk2, Seq("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("t1"), col("t2"))).as("i"),
        size(col("t1")).as("s1"), size(col("t2")).as("s2"))
      .select(col("d1"), col("d2"),
        round(col("i") * 1.0 / (col("s1") + col("s2") - col("i")), 4)
          .as("jaccard"))
      .where(col("jaccard") >= 0.2)
      .orderBy(col("d1"), col("d2"))
  }

  /** Brute-force cosine top-k ANN baseline vs query vector vec_id=0
    * (double-widened element math so engines agree bitwise).
    */
  private def qEmbedCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    // custom codegen'd Catalyst expression (graft.functions.CosineSim):
    // one tight double-accumulating loop instead of an
    // aggregate(zip_with(...)) lambda chain
    e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.functions.cosine_sim(col("embedding"), col("qv")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** LSH-bucketed ANN scale path: 8 deterministic integer hyperplanes →
    * sign bits → bucket id (co-bucketed vectors = candidate set). The
    * projection runs as the codegen'd `lsh_bits` expression — one tight
    * double loop per vector instead of an 8-way explode +
    * aggregate(zip_with(...)) lambda chain (the DuckDB oracle keeps the
    * lambda form; only results must match).
    */
  private def qAnnLshBuckets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.functions.lsh_bits(col("embedding")).as("bucket"))
      .orderBy(col("vec_id"))

  /** LSH-bucketed ANN search (the scale path end-to-end): the query
    * vector hashes to its bucket; only co-bucketed vectors are scored
    * (candidate set << corpus), then exact cosine top-k within them.
    *
    * One corpus scan carries (vec_id, embedding, bucket) end to end —
    * the former shape computed the buckets frame separately and
    * re-attached vectors through a `join(e, "vec_id")`, which at scale
    * shuffles the embedding payload on a key unrelated to the bucket
    * pruning (guide §8: move the heavy column once, decide with the
    * light ones). Results are identical: same candidates, same scores.
    */
  private def qAnnLshSearch(s: SparkSession, dir: String): DataFrame = {
    val be = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.functions.functions.lsh_bits(col("embedding")).as("bucket"))
    val q = be.filter(col("vec_id") === 0)
      .select(col("bucket"), col("embedding").as("qv"))
    be.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(graft.functions.functions.cosine_sim(col("embedding"), col("qv")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Multi-probe LSH ANN: probe the query's bucket AND every bucket at
    * Hamming distance 1 (9 probes over 8 sign bits) — the standard
    * recall repair for single-probe LSH; candidates stay ≪ corpus.
    */
  private def qAnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    // one corpus scan (vec_id, embedding, bucket); the 9-probe set rides
    // in the broadcast WITH the query vector attached, so no second pass
    // over the corpus and no vec_id re-join shuffles the payload (same
    // candidates and scores as the former 3-scan shape). qv is constant
    // across the probe rows, so dropDuplicates("bucket") keeps the probe
    // set identical to the former distinct().
    val be = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.functions.functions.lsh_bits(col("embedding")).as("bucket"))
    val qrow = be.filter(col("vec_id") === 0)
      .select(col("bucket"), col("embedding").as("qv"))
    val probes = qrow
      .crossJoin(s.range(0, 9).select(col("id").as("j")))
      .select(when(col("j") === 8, col("bucket"))
        .otherwise(expr("bucket ^ shiftleft(1L, cast(j as int))")).as("bucket"),
        col("qv"))
      .dropDuplicates("bucket")
    be.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(graft.functions.functions.cosine_sim(col("embedding"), col("qv")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Embedding-cosine near-dup (the dedup modality over vectors): TWO
    * independent 16-bit sign-projection tables (planes 0-15 and 16-31);
    * candidates = pairs co-bucketed in EITHER table (union keeps recall,
    * 2^16 buckets per table keep candidate generation ~2·n²/2^17 — far
    * below any all-pairs shape); exact cosine verifies. At web scale a
    * threshold filter (cos >= 0.95) replaces the limit.
    */
  private def qDedupEmbed(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.functions.lsh_bits
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // both 16-bit projections in ONE corpus scan (the former unionByName
    // of two selects re-read the table per branch, and the self-join
    // doubled that again); pair set identical (bucketPairs Scaladoc)
    val tables = e.select(col("vec_id"), explode(array(
        struct(lit(0).as("tbl"), lsh_bits(col("embedding"), 0, 16).as("bkt")),
        struct(lit(1).as("tbl"), lsh_bits(col("embedding"), 16, 16).as("bkt"))))
        .as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val vecRows = parquetRows(s, s"$dir/embeddings.parquet")
    val pairs0 = bucketPairs(tables, Seq("tbl", "bkt"), "vec_id",
        vecRows, "v1", "v2")
      .distinct()
    // re-attaching vectors: below the cap the planner auto-broadcasts
    // the (tiny) embeddings table; at corpus scale the CANDIDATE PAIRS
    // are the small side by design — count them once (a cheap job on a
    // persisted frame, amortized over both joins; planner estimates
    // through aggregations are blind) and size-adapt, so the vectors are
    // never shuffled on a key the pruning already decided
    val pairs =
      if (vecRows <= lshMaxBucket) pairs0
      else {
        val p = persistForQuery("q_dedup_embed", pairs0)
        graft.sync.Tables.maybeBroadcast(p, p.count())
      }
    pairs
      .join(e.toDF("v1", "e1"), Seq("v1"))
      .join(e.toDF("v2", "e2"), Seq("v2"))
      .select(col("v1"), col("v2"),
        round(graft.functions.functions.cosine_sim(col("e1"), col("e2")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("v1").asc, col("v2").asc)
      .limit(20)
  }

  /** Language-ID by stopword-list voting (n-gram-free heuristic). */
  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    val en = Seq("the", "of", "and", "to", "in", "is", "a")
    val de = Seq("der", "die", "das", "und", "ist", "ein")
    val es = Seq("el", "la", "los", "de", "y", "es", "un")
    tok(s, dir).groupBy(col("doc_id"))
      .agg(
        sum(when(col("term").isin(en: _*), 1).otherwise(0)).as("s_en"),
        sum(when(col("term").isin(de: _*), 1).otherwise(0)).as("s_de"),
        sum(when(col("term").isin(es: _*), 1).otherwise(0)).as("s_es"))
      .select(col("doc_id"),
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_es"), "de")
          .otherwise("es").as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: token count, non-space ratio, stopword ratio. */
  private def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val d = t(s, dir, "documents")
    val tk = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val ratios = tk.groupBy(col("doc_id")).agg(
      count(lit(1)).as("tokens"),
      round(sum(when(col("term").isin(stop: _*), 1).otherwise(0)) * 1.0 /
        count(lit(1)), 4).as("stopword_ratio"))
    d.select(col("doc_id"), col("n_chars"),
      round(length(regexp_replace(col("text"), " ", "")) * 1.0 /
        greatest(length(col("text")), lit(1)), 4).as("nonspace_ratio"))
      .join(ratios, "doc_id")
      .select(col("doc_id"), col("n_chars"), col("tokens"),
        col("nonspace_ratio"), col("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens + alnum-run tokens + UTF-8 bytes. */
  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      length(col("text")).as("chars"),
      octet_length(col("text")).as("media_bytes"))
      .orderBy(col("doc_id"))

  /** BPE-ish subword token counting: greedy fixed-width subword chunks
    * ([a-z0-9]{1,4}, the leftmost-longest regex both engines share) —
    * the cheap stand-in for a real BPE vocab when budgeting LLM training
    * tokens; reports total and distinct subwords per doc.
    */
  private def qTokenBpe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z0-9]{1,4}', 0)").as("sw"))
      .select(col("doc_id"),
        size(col("sw")).as("bpe_tokens"),
        size(array_distinct(col("sw"))).as("bpe_vocab"))
      .orderBy(col("doc_id"))

  /** Document fingerprinting: position-weighted rolling hash of the first
    * 128 chars (pure integer math — cross-engine exact).
    */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, least(length(text), 128))")).as("p"))
      .select(col("doc_id"),
        (ascii(expr("substring(text, p, 1)")) * ((col("p") * 31) % 97))
          .as("term_w"))
      .groupBy(col("doc_id"))
      .agg((sum(col("term_w")) % 1000000007L).as("fingerprint"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incremental_scan" -> (qIncrementalScan _),
    "q_key_only_scan" -> (qKeyOnlyScan _),
    "q_key_ts_scan" -> (qKeyTsScan _),
    "q_semi_join_missing" -> (qSemiJoinMissing _),
    "q_count_most_recent" -> (qCountMostRecent _),
    "q_purge_anti_join" -> (qPurgeAntiJoin _),
    "q_reconcile_diff" -> (qReconcileDiff _),
    "q_missing_union" -> (qMissingUnion _),
    "q_expand_explode" -> (qExpandExplode _),
    "q_stats_rollup" -> (qStatsRollup _),
    "q_page_math" -> (qPageMath _),
    "q_watermark_window" -> (qWatermarkWindow _),
    "q_watermark_nullable" -> (qWatermarkNullable _),
    "q_top1_latest" -> (qTop1Latest _),
    "q_topk_deterministic" -> (qTopkDeterministic _),
    "q_keyset_resume" -> (qKeysetResume _),
    "q_json_props" -> (qJsonProps _),
    "q_top1_per_user" -> (qTop1PerUser _),
    "q_tf" -> (qTf _),
    "q_df_dict" -> (qDfDict _),
    "q_doclen" -> (qDoclen _),
    "q_corpus_stats" -> (qCorpusStats _),
    "q_bm25_topk" -> (qBm25TopK _),
    "q_engine_bm25" -> (qEngineBm25 _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_simhash_near" -> (qSimhashNear _),
    "q_dedup_jaccard" -> (qDedupJaccard _),
    "q_embed_cosine_topk" -> (qEmbedCosineTopK _),
    "q_ann_lsh_buckets" -> (qAnnLshBuckets _),
    "q_ann_lsh_search" -> (qAnnLshSearch _),
    "q_ann_multiprobe" -> (qAnnMultiprobe _),
    "q_dedup_embed" -> (qDedupEmbed _),
    "q_lang_id" -> (qLangId _),
    "q_quality_score" -> (qQualityScore _),
    "q_token_count" -> (qTokenCount _),
    "q_token_bpe" -> (qTokenBpe _),
    "q_fingerprint" -> (qFingerprint _))

  def oracleSql: Map[String, String] = Map(
    "q_incremental_scan" ->
      """SELECT event_id, ts, event_type FROM events
        |WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "q_key_only_scan" ->
      "SELECT DISTINCT o_orderkey FROM orders ORDER BY o_orderkey",
    "q_key_ts_scan" ->
      """SELECT user_id, max(ts) AS max_ts FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_semi_join_missing" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_count_most_recent" ->
      "SELECT count(*) AS cnt, max(o_orderdate) AS most_recent FROM orders",
    "q_purge_anti_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate > TIMESTAMP '1997-06-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q_reconcile_diff" ->
      """WITH dest AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 11 = 0 THEN o_orderdate + INTERVAL 1 DAY
        |              ELSE o_orderdate END AS d_ts
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT s.o_orderkey FROM orders s LEFT JOIN dest d USING (o_orderkey)
        |WHERE d.d_ts IS NULL OR s.o_orderdate <> d.d_ts
        |ORDER BY s.o_orderkey""".stripMargin,
    "q_missing_union" ->
      """SELECT DISTINCT k FROM (
        |  SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT l_orderkey AS k FROM lineitem WHERE l_partkey % 17 = 0)
        |ORDER BY k""".stripMargin,
    "q_expand_explode" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY word""".stripMargin,
    "q_stats_rollup" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_page_math" ->
      """SELECT o_orderpriority, cast(ceil(count(*) / 200.0) AS bigint) AS pages
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_watermark_window" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE ts > TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_watermark_nullable" ->
      """WITH e AS (
        |  SELECT event_id, ts,
        |         CASE WHEN event_id % 3 = 0 THEN NULL
        |              ELSE ts + INTERVAL (cast(floor(value) AS int)) SECOND END AS ts2
        |  FROM events)
        |SELECT event_id, ts, ts2 FROM e
        |WHERE (ts > TIMESTAMP '2024-01-06 00:00:00'
        |       OR (ts2 IS NOT NULL AND ts2 > TIMESTAMP '2024-01-03 00:00:00'))
        |  AND ts <= TIMESTAMP '2024-01-10 00:00:00'
        |  AND (ts2 IS NULL OR ts2 <= TIMESTAMP '2024-01-10 00:00:00')
        |ORDER BY event_id""".stripMargin,
    "q_top1_latest" ->
      "SELECT event_id, ts FROM events ORDER BY ts DESC, event_id ASC LIMIT 1",
    "q_topk_deterministic" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q_keyset_resume" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey > 1000
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_json_props" ->
      """SELECT event_type,
        |       cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS k_total,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_top1_per_user" ->
      """SELECT user_id, event_id, ts FROM (
        |  SELECT user_id, event_id, ts,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_tf" ->
      """SELECT doc_id, term, count(*) AS tf FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,
    "q_df_dict" ->
      """SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY term""".stripMargin,
    "q_doclen" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS doclen
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_corpus_stats" ->
      """SELECT count(*) AS n, round(avg(cast(len(string_split(text, ' ')) AS double)), 4) AS avgdl
        |FROM documents""".stripMargin,
    "q_bm25_topk" -> bm25Sql,
    "q_engine_bm25" -> bm25Sql,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS dupes
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $minhashSqlCtes
         |SELECT d1, d2 FROM cand ORDER BY d1, d2""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $simhashSqlCtes
         |SELECT doc_id, simhash_hi, simhash_lo FROM sh ORDER BY doc_id""".stripMargin,
    "q_simhash_near" ->
      s"""WITH $simhashSqlCtes,
         |bands AS (
         |  SELECT doc_id, 0 AS bi, simhash_lo % 65536 AS bv FROM sh
         |  UNION ALL SELECT doc_id, 1, simhash_lo // 65536 FROM sh
         |  UNION ALL SELECT doc_id, 2, simhash_hi % 65536 FROM sh
         |  UNION ALL SELECT doc_id, 3, simhash_hi // 65536 FROM sh),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT d1, d2,
         |       cast(bit_count(xor(s1.simhash_lo, s2.simhash_lo)) +
         |            bit_count(xor(s1.simhash_hi, s2.simhash_hi)) AS int) AS hamming
         |FROM cand
         |JOIN sh s1 ON s1.doc_id = d1
         |JOIN sh s2 ON s2.doc_id = d2
         |WHERE bit_count(xor(s1.simhash_lo, s2.simhash_lo)) +
         |      bit_count(xor(s1.simhash_hi, s2.simhash_hi)) <= 3
         |ORDER BY d1, d2""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH $minhashSqlCtes,
         |tk AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM tk GROUP BY doc_id),
         |inter AS (
         |  SELECT c.d1, c.d2, count(*) AS i
         |  FROM cand c
         |  JOIN tk a ON a.doc_id = c.d1
         |  JOIN tk b ON b.doc_id = c.d2 AND b.term = a.term
         |  GROUP BY c.d1, c.d2)
         |SELECT d1, d2, round(i * 1.0 / (s1.sz + s2.sz - i), 4) AS jaccard
         |FROM inter
         |JOIN sizes s1 ON s1.doc_id = d1
         |JOIN sizes s2 ON s2.doc_id = d2
         |WHERE round(i * 1.0 / (s1.sz + s2.sz - i), 4) >= 0.2
         |ORDER BY d1, d2""".stripMargin,
    "q_embed_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |c AS (
        |  SELECT vec_id,
        |         round(list_dot_product(list_transform(embedding, x -> cast(x AS double)),
        |                                list_transform(qv, x -> cast(x AS double)))
        |           / (sqrt(list_dot_product(list_transform(embedding, x -> cast(x AS double)),
        |                                    list_transform(embedding, x -> cast(x AS double))))
        |            * sqrt(list_dot_product(list_transform(qv, x -> cast(x AS double)),
        |                                    list_transform(qv, x -> cast(x AS double))))), 4) AS cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ann_lsh_buckets" ->
      """WITH dots AS (
        |  SELECT vec_id, j,
        |         sum(cast(embedding[i+1] AS double) * (((i*31 + j*17) % 7) - 3)) AS dot
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j)
        |  GROUP BY vec_id, j)
        |SELECT vec_id,
        |       cast(sum(CASE WHEN dot > 0 THEN cast(pow(2, j) AS bigint) ELSE 0 END) AS bigint) AS bucket
        |FROM dots GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "q_ann_multiprobe" ->
      """WITH dots AS (
        |  SELECT vec_id, j,
        |         sum(cast(embedding[i+1] AS double) * (((i*31 + j*17) % 7) - 3)) AS dot
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j)
        |  GROUP BY vec_id, j),
        |bk AS (
        |  SELECT vec_id,
        |         cast(sum(CASE WHEN dot > 0 THEN cast(pow(2, j) AS bigint) ELSE 0 END) AS bigint) AS bucket
        |  FROM dots GROUP BY vec_id),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
        |probes AS (
        |  SELECT DISTINCT CASE WHEN j = 8 THEN bucket
        |         ELSE xor(bucket, cast(pow(2, j) AS bigint)) END AS bucket
        |  FROM qb CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j)),
        |cand AS (
        |  SELECT e.vec_id, e.embedding FROM embeddings e
        |  JOIN bk ON bk.vec_id = e.vec_id JOIN probes p ON bk.bucket = p.bucket
        |  WHERE e.vec_id <> 0)
        |SELECT vec_id,
        |       round(list_dot_product(list_transform(embedding, x -> cast(x AS double)),
        |                              list_transform(qv, x -> cast(x AS double)))
        |         / (sqrt(list_dot_product(list_transform(embedding, x -> cast(x AS double)),
        |                                  list_transform(embedding, x -> cast(x AS double))))
        |          * sqrt(list_dot_product(list_transform(qv, x -> cast(x AS double)),
        |                                  list_transform(qv, x -> cast(x AS double))))), 4) AS cos
        |FROM cand, q ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q_dedup_embed" ->
      """WITH dots AS (
        |  SELECT vec_id, j,
        |         sum(cast(embedding[i+1] AS double) * (((i*31 + j*17) % 7) - 3)) AS dot
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
        |  GROUP BY vec_id, j),
        |bk AS (
        |  SELECT vec_id, j // 16 AS tbl,
        |         cast(sum(CASE WHEN dot > 0 THEN cast(pow(2, j % 16) AS bigint) ELSE 0 END) AS bigint) AS bkt
        |  FROM dots GROUP BY vec_id, j // 16),
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
        |SELECT v1, v2,
        |       round(list_dot_product(list_transform(e1.embedding, x -> cast(x AS double)),
        |                              list_transform(e2.embedding, x -> cast(x AS double)))
        |         / (sqrt(list_dot_product(list_transform(e1.embedding, x -> cast(x AS double)),
        |                                  list_transform(e1.embedding, x -> cast(x AS double))))
        |          * sqrt(list_dot_product(list_transform(e2.embedding, x -> cast(x AS double)),
        |                                  list_transform(e2.embedding, x -> cast(x AS double))))), 4) AS cos
        |FROM pairs
        |JOIN embeddings e1 ON e1.vec_id = v1
        |JOIN embeddings e2 ON e2.vec_id = v2
        |ORDER BY cos DESC, v1 ASC, v2 ASC LIMIT 20""".stripMargin,
    "q_ann_lsh_search" ->
      """WITH dots AS (
        |  SELECT vec_id, j,
        |         sum(cast(embedding[i+1] AS double) * (((i*31 + j*17) % 7) - 3)) AS dot
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j)
        |  GROUP BY vec_id, j),
        |bk AS (
        |  SELECT vec_id,
        |         cast(sum(CASE WHEN dot > 0 THEN cast(pow(2, j) AS bigint) ELSE 0 END) AS bigint) AS bucket
        |  FROM dots GROUP BY vec_id),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id, e.embedding FROM embeddings e
        |  JOIN bk ON bk.vec_id = e.vec_id JOIN qb ON bk.bucket = qb.bucket
        |  WHERE e.vec_id <> 0)
        |SELECT vec_id,
        |       round(list_dot_product(list_transform(embedding, x -> cast(x AS double)),
        |                              list_transform(qv, x -> cast(x AS double)))
        |         / (sqrt(list_dot_product(list_transform(embedding, x -> cast(x AS double)),
        |                                  list_transform(embedding, x -> cast(x AS double))))
        |          * sqrt(list_dot_product(list_transform(qv, x -> cast(x AS double)),
        |                                  list_transform(qv, x -> cast(x AS double))))), 4) AS cos
        |FROM cand, q ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN t IN ('the','of','and','to','in','is','a') THEN 1 ELSE 0 END) AS s_en,
        |    sum(CASE WHEN t IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END) AS s_de,
        |    sum(CASE WHEN t IN ('el','la','los','de','y','es','un') THEN 1 ELSE 0 END) AS s_es
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |       CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
        |            WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |r AS (
        |  SELECT doc_id, count(*) AS tokens,
        |         round(sum(CASE WHEN term IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END) * 1.0
        |               / count(*), 4) AS stopword_ratio
        |  FROM tk GROUP BY doc_id)
        |SELECT d.doc_id, d.n_chars, r.tokens,
        |       round(length(replace(d.text, ' ', '')) * 1.0 / greatest(length(d.text), 1), 4) AS nonspace_ratio,
        |       r.stopword_ratio
        |FROM documents d JOIN r ON r.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |       length(text) AS chars, octet_length(encode(text)) AS media_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_bpe" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}')) AS bpe_tokens,
        |       len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]{1,4}'))) AS bpe_vocab
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(generate_series(1, least(length(text), 128))) AS p
        |  FROM documents)
        |SELECT doc_id,
        |       cast(sum(ascii(substr(text, p, 1)) * ((p*31) % 97)) % 1000000007 AS bigint) AS fingerprint
        |FROM pos GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** 64-bit SimHash pipeline as DuckDB CTEs (shared by q_dedup_simhash
    * and q_simhash_near); `//` is DuckDB integer division (its CAST
    * rounds, Spark's truncates — Spark side uses `div`).
    */
  private val simhashSqlCtes: String =
    """th AS (
      |  SELECT doc_id, md5(t) AS h, count(*) AS w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY doc_id, md5(t)),
      |shbits AS (
      |  SELECT doc_id, b, w,
      |         cast(('0x' || substr(h, (b+3) // 4, 1)) AS INT) AS v
      |  FROM th CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS b)),
      |bitsum AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN cast(floor(v / pow(2, (b-1) % 4)) AS int) % 2 = 1
      |                  THEN w ELSE -w END) AS s
      |  FROM shbits GROUP BY doc_id, b),
      |sh AS (
      |  SELECT doc_id,
      |         cast(sum(CASE WHEN s > 0 AND b > 32 THEN cast(pow(2, b-33) AS bigint) ELSE 0 END) AS bigint) AS simhash_hi,
      |         cast(sum(CASE WHEN s > 0 AND b <= 32 THEN cast(pow(2, b-1) AS bigint) ELSE 0 END) AS bigint) AS simhash_lo
      |  FROM bitsum GROUP BY doc_id)""".stripMargin

  private val bm25Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n, avg(dl * 1.0) AS avgdl FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |scores AS (
      |  SELECT tf.doc_id,
      |         sum(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
      |             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS raw
      |  FROM tf
      |  JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
      |  WHERE tf.term IN ('spark', 'stream', 'vector')
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, round(raw, 4) AS score FROM scores
      |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
}
