package graftbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   graftbench.Main --workload search_hot|refresh --seed N --trace 0|1
  *                   --work DIR --out FILE [--docs N]
  *
  * Builds its index under DIR/index, writes the run record (metrics, raw
  * samples, checks) to FILE as one JSON object and, with tracing, the spans
  * to FILE.spans.jsonl. `--docs` makes the build's class-data archive run:
  * a smaller corpus and, on search_hot, one pass with no warm-up. Measured
  * runs never pass it.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Set("search_hot", "refresh")(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val work = opts("work")
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val gen = new Gen(seed, opts.get("docs").map(_.toInt).getOrElse(Gen.Docs))
      val c = new Ctx(spark, s"$work/index", gen, new Trace(spark.sparkContext, traced))
      val searchHot = workload == "search_hot"
      val o =
        if (!searchHot) Workloads.refresh(c)
        else if (opts.contains("docs")) Workloads.searchHot(c, warmupPasses = 0, measuredPasses = 1)
        else Workloads.searchHot(c)
      if (traced) {
        Layers.readerProbes(c, o, searchHot)
        val (deltas, compact, purgeS) = Layers.syncProbes(c, o)
        Layers.buildProbes(c)
        Layers.reduce(c, o, deltas, compact, purgeS)
        c.trace.dump(opts("out") + ".spans.jsonl")
      }
      Record.write(opts("out"), workload, seed, traced, c)
    } finally spark.stop()
  }
}

/** The run record: one JSON object. */
object Record {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"metric value $d")
    else d.toString

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def write(path: String, workload: String, seed: Long, traced: Boolean, c: Ctx): Unit = {
    val json = obj(Seq(
      "workload" -> s""""$workload"""",
      "seed" -> seed.toString,
      "trace" -> traced.toString,
      "nproc" -> c.nproc.toString,
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "checks" -> obj(c.checks.map { case (k, (r, f)) => k -> s"[$r,$f]" }),
      "metrics" -> obj(c.metrics.map { case (k, v) => k -> num(v) }),
      "samples" -> obj(c.samples.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") })))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
