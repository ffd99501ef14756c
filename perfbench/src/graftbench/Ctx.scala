package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.sources.TableIO

/** Shared state of one run: the session, the index root, the seed's inputs,
  * the tracer, and what the run has measured and checked so far.
  */
final class Ctx(val spark: SparkSession, val root: String, val gen: Gen,
                val trace: Trace) {
  val io = new TableIO(spark, root)
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Metrics by name (end-to-end and, in traced runs, per layer). */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Raw samples and counts kept in the record for reading, not gated. */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]

  /** Check name -> (ran, failed). */
  val checks = mutable.LinkedHashMap.empty[String, (Int, Int)]
  private val failedOps = mutable.Set.empty[String]
  private val ops = mutable.Set.empty[String]

  /** Register an engine operation that checks are charged to. */
  def op(id: String): String = { ops += id; id }

  /** Run one correctness check for operation `opId`; an exception fails it.
    * Its seconds add up in `check_s.<name>`.
    */
  def check(name: String, opId: String)(ok: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val pass = try ok catch { case e: Exception =>
      System.err.println(s"[perfbench] check $name ($opId) threw: $e"); false }
    val key = s"check_s.$name"
    samples(key) = Seq(samples.get(key).fold(0.0)(_.head) + (System.nanoTime() - t0) / 1e9)
    if (!pass) {
      System.err.println(s"[perfbench] check $name failed on $opId")
      failedOps += opId
    }
    val (r, f) = checks.getOrElse(name, (0, 0))
    checks(name) = (r + 1, f + (if (pass) 0 else 1))
  }

  private var phaseStart = System.nanoTime()

  /** Close the current phase of the run (kept as `phase_s.<name>`). */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    samples(s"phase_s.$name") = Seq((now - phaseStart) / 1e9)
    phaseStart = now
  }

  def attempted: Int = ops.size
  def failed: Int = failedOps.size

  /** Wall milliseconds of `f`, with its result. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes of every file under the index root. */
  def rootBytes(): Long = listing().values.sum

  /** path -> size of every regular file under the index root. */
  def listing(): Map[String, Long] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) Map.empty
    else {
      val s = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of an empty sample")
    xs.sum / xs.length
  }
}
