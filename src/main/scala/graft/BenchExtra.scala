package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.SegmentBuilder
import graft.query.{IndexReader, QuerySet}
import graft.sources.TableIO
import graft.sync.{SyncJob, Tables}

/** Supplementary measurements and diagnostics the frozen Bench.scala
  * cannot carry (`Bench`/`Verify` are measurement-frozen; extra
  * benchmarks live in a separate main per the optimization-round
  * contract). Every mode shares one SparkSession, set up like Bench's
  * (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus):
  *
  *  - `latency` — BM25 latency, instrumented like Bench's driver-query
  *    loop: MIN OF 2 passes per query with CPU + bandwidth probes
  *    bracketing the section, plus the per-stage
  *    [[IndexReader.lastProfile]] breakdown of the 3 slowest queries — a
  *    p95 outlier is attributable from within the record instead of
  *    being one unprobed sample.
  *  - `queries` — driver queries through the noop sink (guide §1.4):
  *    computes every column of every row with no sink cost — the
  *    operator-isolation numbers cited in OPTIMIZATION_r06.md.
  *  - `both` (default) — `latency` then `queries`, one JSON line out.
  *  - `order [--clear] <query…>` — time named SparkEntry queries in the
  *    GIVEN order, two rounds, without clearing the shared pipeline
  *    caches between them (`--clear` clears before each query): running
  *    q_dedup_minhash before q_dedup_jaccard splits candidate-build cost
  *    from verifier cost.
  *  - `plans <outDir> <suffix> [query…]` — `explain("formatted")` of
  *    named SparkEntry queries (default: all) to
  *    `<outDir>/<query>_<suffix>.txt`, the before/after plan evidence
  *    of plans/.
  *  - `explain` — the engine's load-bearing plans (pushdown, pruning,
  *    broadcast, single-shuffle build) on a 2000-doc index, to PLANS.md.
  *
  * Usage: `sbt "runMain graft.BenchExtra <mode> [args…]"`, envs as Bench
  * (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_DOCS).
  */
object BenchExtra {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("both")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$mode")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode match {
      case "latency" | "queries" | "both" => record(spark, mode, sfDir, cpus)
      case "order" => order(spark, sfDir, args.drop(1))
      case "plans" if args.length >= 3 =>
        plans(spark, sfDir, args(1), args(2), args.drop(3))
      case "explain" => explain(spark)
      case _ =>
        System.err.println("usage: BenchExtra [latency|queries|both] | " +
          "order [--clear] <query…> | plans <outDir> <suffix> [query…] | explain")
    } finally spark.stop()
  }

  /** File listing + codegen init off the clock, like Bench's warm-up. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Exception => () }
    }

  private def record(spark: SparkSession, mode: String, sfDir: String,
                     cpus: Int): Unit = {
    val docs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "640000").toLong
    val out = new StringBuilder("{")

    if (mode == "latency" || mode == "both") {
      val tmpBase =
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
        else System.getProperty("java.io.tmpdir")
      val root = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(tmpBase), "graft-bench-extra").toString
      val io = new TableIO(spark, root)
      spark.sparkContext.setJobDescription("bench-extra: corpus index build")
      SyncJob.run(spark, io, Corpus.pages(spark, docs, cpus * 2),
        new Timestamp(Corpus.warcTsMillis(docs)))
      val reader = new IndexReader(spark, root)
      (1 to 2).foreach(_ =>
        QuerySet.all.foreach { case (_, q) => reader.topK(q, 10) })
      val p1 = BenchScale.probeSec()
      val bw1 = BenchScale.bandwidthGBs()
      // two full passes, min per query — one steal spike cannot poison both
      val passes = (1 to 2).map { _ =>
        QuerySet.all.map { case (name, q) =>
          spark.sparkContext.setJobDescription(s"bench-extra: bm25 $name")
          val (_, sec) = time(reader.topK(q, 10))
          (name, sec, IndexReader.lastProfile)
        }
      }
      val p2 = BenchScale.probeSec()
      val bw2 = BenchScale.bandwidthGBs()
      val byQuery = passes.flatten.groupBy(_._1).map { case (n, samples) =>
        val best = samples.minBy(_._2)
        (n, best._2, best._3)
      }.toSeq
      val lat = byQuery.map(_._2).sorted
      val p50 = lat(lat.length / 2)
      val p95 = lat((lat.length * 95) / 100 min (lat.length - 1))
      val slow = byQuery.sortBy(-_._2).take(3).map { case (n, sec, prof) =>
        f"""{"query":"$n","sec":$sec%.3f,"path":"${prof.path}",""" +
          f""""dict_sec":${prof.dictSec}%.3f,"scan_sec":${prof.scanSec}%.3f,""" +
          f""""score_sec":${prof.scoreSec}%.3f}"""
      }.mkString("[", ",", "]")
      out.append(f""""bm25_p50_sec":$p50%.3f,"bm25_p95_sec":$p95%.3f,""")
      out.append(f""""latency_probes":{"cpu_sec":[$p1%.2f,$p2%.2f],""")
      out.append(f""""bw_gbs":[$bw1%.1f,$bw2%.1f],"passes_per_query":2,""")
      out.append(""""aggregation":"min"},""")
      out.append(s""""slowest_profiles":$slow,""")
      io.deleteDir(root)
    }

    if (mode == "queries" || mode == "both") {
      warmUp(spark, sfDir)
      val names = SparkEntry.queries.toSeq.sortBy(_._1)
      val passes = (1 to 2).map { _ =>
        SparkEntry.clearQueryCaches()
        names.map { case (name, fn) =>
          spark.sparkContext.setJobDescription(s"bench-extra: noop $name")
          val (_, sec) = time {
            try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[bench-extra] $name failed: ${e.getMessage}")
            }
          }
          name -> sec
        }.toMap
      }
      val qs = names.map { case (name, _) =>
        "\"" + name + f"""\":${passes.map(_(name)).min}%.3f"""
      }.mkString("{", ",", "}")
      out.append(s""""queries_noop_min2":$qs,""")
    }

    out.append(s""""sf":"$sfDir"}""")
    println(out.toString)
  }

  private def order(spark: SparkSession, sfDir: String,
                    args: Array[String]): Unit = {
    val clear = args.contains("--clear")
    val names = args.filterNot(_ == "--clear")
    warmUp(spark, sfDir)
    spark.range(100000).selectExpr("sum(id * 3)").collect()
    // two rounds: round 2 is JIT/codegen-warm
    (1 to 2).foreach { round =>
      SparkEntry.clearQueryCaches()
      names.foreach { n =>
        if (clear) SparkEntry.clearQueryCaches()
        val (_, sec) = time(SparkEntry.queries(n)(spark, sfDir).count())
        println(f"TIMER round=$round $n $sec%.3f")
      }
    }
  }

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    suffix: String, queries: Array[String]): Unit = {
    val names =
      if (queries.nonEmpty) queries.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          fmt(SparkEntry.queries(n)(spark, sfDir)))
        println(s"dumped $n")
      } catch { case e: Throwable =>
        System.err.println(s"[bench-extra] plans: $n failed: ${e.getMessage}")
      }
    }
  }

  /** PLANS.md: the "is this the plan you'd want at 100 TB" evidence. */
  private def explain(spark: SparkSession): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-explain").toString
    val io = new TableIO(spark, root)
    SyncJob.run(spark, io, Corpus.pages(spark, 2000, 8),
      new Timestamp(Corpus.warcTsMillis(2000)))
    // two incremental appends so the dict is a 3-link chain (full +
    // two signed deltas) — the deep-chain probe shape
    SyncJob.run(spark, io, Corpus.pages(spark, 2050, 8),
      new Timestamp(Corpus.warcTsMillis(2050)))
    SyncJob.run(spark, io, Corpus.pages(spark, 2100, 8),
      new Timestamp(Corpus.warcTsMillis(2100)))
    val reader = new IndexReader(spark, root)

    val pagesDir = s"$root/pages"
    Corpus.pages(spark, 2000, 8).write.parquet(pagesDir)
    val pages = spark.read.parquet(pagesDir)
    val sections = Seq(
      ("Watermark-bounded incremental scan (SyncJob analyze input)",
        "Filters reach the parquet scan as PushedFilters; only the " +
          "selected columns appear in ReadSchema.",
        fmt(pages
          .filter($"warc_ts" > lit(new Timestamp(0)) &&
            $"warc_ts" <= lit(new Timestamp(Corpus.warcTsMillis(1000))))
          .select($"url", $"warc_ts"))),
      ("Analyze stage (extract + tokenize, custom codegen'd expressions)",
        "One WholeStageCodegen span; no DeserializeToObject/MapElements " +
          "seam — ExtractText/TermStats are native expressions.",
        fmt(SegmentBuilder.analyze(pages.as[graft.PageRow]).toDF())),
      ("Posting-block build (segment stage)",
        "Exactly one Exchange, on (term, bucket) — the salted skew split " +
          "— followed by a within-partition sort and the streaming block " +
          "encoder.",
        fmt(SegmentBuilder.buildBlocks(
          SegmentBuilder.toPostings(
            SegmentBuilder.analyze(pages.as[graft.PageRow]).toDF()),
          "b").toDF())),
      ("Query block fetch, distributed paths (term pushdown)",
        "The perBucket and cogroup paths scan the query terms' index " +
          "files with the term IN(...) predicate pushed to parquet; row " +
          "groups of other terms are skipped via min/max stats. The local " +
          "path runs no plan: it reads the same files on the driver with " +
          "Spark's vectorized Parquet reader, the same predicate pushed.",
        fmt(reader.index.filter($"term".isin("the", "rare07")).toDF())),
      ("Result back-join (docId -> url), distributed tombstones only",
        "Above the tombstone broadcast limit the tiny hit set broadcasts and " +
          "the docs scan stays pruned; below it search runs no plan: it reads " +
          "the hits' rows on the driver, docId IN(...) pushed.",
        fmt(reader.docs.join(
          broadcast(Seq(graft.Hit(1L, 1.0)).toDF()), Seq("docId")))),
      ("Update-path killed lookup, Spark fallback",
        "An append with at most Tables.KilledLocalMax affected docIds runs " +
          "no plan: it reads their fwd rows on the driver, docId pushed as " +
          "a sorted id set, so the page index of the flat, docId-sorted fwd " +
          "files skips other docIds' pages. Past the budget, or over a " +
          "distributed tombstone set, every segment's fwd scan joins the " +
          "broadcast affected ids, then the tombstone anti-join " +
          "(IndexTables.live; none here, the index has no tombstones).",
        fmt(Tables.killedFrame(spark, io, Tables.loadCurrent(spark, io).get,
          Seq(0L, Long.MinValue).toDF("docId"), 2L))),
      ("Dict-chain probe (3-link chain: full + two append deltas)",
        "The dict is an LSM chain — a full link plus signed per-append " +
          "deltas. Readers fold the links on the driver, term IN(...) " +
          "pushed, and run no plan; this Spark view of the same fold is " +
          "what DriverReadSpec checks the driver fold against. A " +
          "filter on `term`, the fold's grouping key, is pushed below the " +
          "HashAggregate into the scan over all three links' dirs, so the " +
          "view stays a pruned scan at any chain length (an incremental " +
          "sync never rewrites the O(vocabulary) dict; PlanSpec gates the " +
          "same property at depth 3).",
        {
          spark.catalog.clearCache() // no leftover cache may mask the scan
          fmt(Tables.dictView(spark, io,
              io.manifest(io.currentVersion().get).dictChain)
            .filter($"term".isin("the", "rare07")))
        }))

    val md = new StringBuilder
    md.append("# PLANS.md — physical plans of the load-bearing operators\n\n")
    md.append("Generated by `runMain graft.BenchExtra explain` on a 2000-doc ")
    md.append("index (plans are scale-independent; PlanSpec asserts the ")
    md.append("same properties in CI).\n")
    // the run's temp root, expression ids, plan ids and lambda addresses
    // vary between runs: fixed tokens keep the file's diffs to plan changes
    sections.foreach { case (title, note, plan) =>
      val stable = plan.replace(root, "<root>").replaceAll("#\\d+", "#n")
        .replaceAll("plan_id=\\d+", "plan_id=n")
        .replaceAll("\\$Lambda[^\\s,\\])]*", "\\$Lambda")
      md.append(s"\n## $title\n\n$note\n\n```\n$stable```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"),
      md.toString)
    println("PLANS.md written")
    io.deleteDir(root)
  }
}
