package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call the benchmark made into one engine layer. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job as the listener saw it. */
final class Job(val id: Int, val group: String, val submitMs: Long) {
  var endMs = 0L
  var tasks = 0
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWrite = 0L
  var spill = 0L
  def wallMs: Long = math.max(0L, endMs - submitMs)
}

/** Spans recorded around the benchmark's own calls into each engine layer,
  * plus a SparkListener that charges every Spark job (its tasks, input
  * bytes, shuffle bytes and spill) to the span that ran it. With `on =
  * false` nothing is registered or recorded and `span` only runs its body.
  *
  * A span sets the Spark job group `bench-<id>`. Jobs that the engine
  * launches from its own pooled threads carry whatever group that thread
  * inherited when it was created, so a job is charged to the span its group
  * names only when it was submitted inside that span; otherwise it goes to
  * the innermost span open at its submission time (one client thread, so
  * spans never overlap except by nesting).
  */
final class Trace(sc: SparkContext, val on: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(e.jobId, g, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (on) sc.addSparkListener(Listener)

  private var enabled = on

  /** Run `f` as a span of `layer`; returns its result. */
  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(s"bench-$id", name)
      val s0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try f
      finally {
        spans += Span(id, name, layer, parent, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"bench-$p", "")
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The most recently closed span (the call just made). */
  def last: Option[Span] = spans.lastOption

  /** Run `f` with the listener detached and no spans recorded. */
  def paused[A](f: => A): A =
    if (!on) f
    else {
      enabled = false
      sc.removeSparkListener(Listener)
      try f finally { sc.addSparkListener(Listener); enabled = true }
    }

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  private lazy val owners: Map[Int, Seq[Job]] = {
    import scala.jdk.CollectionConverters._
    org.apache.spark.BenchBus.drain(sc)
    def within(s: Span, j: Job) = j.submitMs >= s.startMs && j.submitMs <= s.endMs
    jobs.values.asScala.toSeq.flatMap { j =>
      val byGroup = scala.util.Try(j.group.stripPrefix("bench-").toInt).toOption
        .flatMap(byId.get).filter(within(_, j))
      byGroup.orElse {
        val open = spans.filter(within(_, j))
        if (open.isEmpty) None else Some(open.maxBy(_.startNs))
      }.map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private def descends(s: Span, ancestor: Int): Boolean =
    s.id == ancestor || (s.parent >= 0 && byId.get(s.parent).exists(descends(_, ancestor)))

  /** Spark jobs run inside the span or any span nested in it. */
  def jobsIn(s: Span): Seq[Job] =
    owners.toSeq.filter { case (id, _) => descends(byId(id), s.id) }.flatMap(_._2)

  /** Self time per layer: each span's duration minus its child spans'. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** All spans as JSON lines (name, layer, start, end, parent). */
  def dump(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_ms":${s.ms}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
