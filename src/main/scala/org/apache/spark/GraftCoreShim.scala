package org.apache.spark

import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan

/** Minimal bridge into `private[spark]` internals — the standard
  * mechanism for extensions that cooperate with Spark's task memory pool
  * or build from collected rows the way its own broadcast exchange does
  * (TaskContext.taskMemoryManager and SparkPlan.executeCollectIterator
  * are package-private). */
object GraftCoreShim {
  def taskMemoryManager(tc: TaskContext): TaskMemoryManager =
    tc.taskMemoryManager()

  /** The plan's rows, decoded one at a time from the collected compressed
    * partition bytes (what Spark's broadcast exchange builds from), where
    * `executeCollect` would first materialise every row as its own object.
    * For driver-side builds that copy each row anyway. */
  def collectIterator(plan: SparkPlan): Iterator[InternalRow] =
    plan.executeCollectIterator()._2
}
