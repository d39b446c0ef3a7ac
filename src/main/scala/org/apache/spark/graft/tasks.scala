package org.apache.spark.graft

import org.apache.spark.TaskContext

/** Task-context bridge.
  *
  * `TaskContext.setTaskContext` and `TaskContext.unset` are
  * `protected[spark]`. A helper thread that works for a task (as Spark's
  * own Python writer thread does) sets the task's context so code on it
  * sees the same `TaskContext.get()` as the task thread. Same
  * package-namespace technique as [[listeners]].
  */
object tasks {
  def withContext[T](ctx: TaskContext)(body: => T): T = {
    TaskContext.setTaskContext(ctx)
    try body finally TaskContext.unset()
  }
}
