/*
 * In the org.apache.spark namespace for the same reason as
 * TaskCpuListener: TaskMetrics can only be built and set inside it.
 */
package org.apache.spark.graftmetrics

import org.apache.spark.executor.TaskMetrics

/** Task metrics for synthetic listener events in specs. */
object TaskMetricsFixture {
  def withRunTime(ms: Long): TaskMetrics = {
    val m = TaskMetrics.empty
    m.setExecutorRunTime(ms)
    m
  }
}
