package org.apache.spark

/** Local mode runs every task once: `local[n]` fixes the task scheduler's
  * failure budget at 1. Specs of task-retry determinism need a retry in
  * the shared test session, so this raises the budget while `body` runs.
  */
object TestRetries {
  def apply[A](sc: SparkContext, attempts: Int)(body: => A): A = {
    val budget = classOf[scheduler.TaskSchedulerImpl].getDeclaredField("maxTaskFailures")
    budget.setAccessible(true)
    val before = budget.getInt(sc.taskScheduler)
    budget.setInt(sc.taskScheduler, attempts)
    try body finally budget.setInt(sc.taskScheduler, before)
  }
}
