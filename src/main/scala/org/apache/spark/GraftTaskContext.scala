package org.apache.spark

/** Public access to `TaskContext.setTaskContext`, which is
  * `protected[spark]`. A helper thread that pulls a task's input iterator
  * needs the task's context installed, as Spark's own `PipedRDD` installs
  * it on its stdin writer thread: a DSv2 partition reader opened there
  * reads `TaskContext.get()` for its metrics. */
object GraftTaskContext {
  def set(context: TaskContext): Unit = TaskContext.setTaskContext(context)
}
