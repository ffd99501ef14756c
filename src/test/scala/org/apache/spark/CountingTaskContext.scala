package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.util.TaskCompletionListener

/** A task context for code run outside a task: it counts the task
  * completion listeners registered with it, and runs them on [[complete]].
  * Spark keeps its constructor and `withTaskContext` package-private.
  */
class CountingTaskContext extends TaskContextImpl(0, 0, 0, 0L, 0, 1, null,
    new java.util.Properties, null, TaskMetrics.empty, 1, Map.empty) {
  val completionListeners = new AtomicInteger

  override def addTaskCompletionListener(l: TaskCompletionListener): this.type = {
    completionListeners.incrementAndGet()
    super.addTaskCompletionListener(l)
  }

  /** `f` with this context as the current thread's task context. */
  def run[T](f: => T): T = TaskContext.withTaskContext(this)(f)

  def complete(): Unit = markTaskCompleted(None)
}
