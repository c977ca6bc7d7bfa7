package graft.plans

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}

/**
 * Cooperative memory accounting for interval-join build sides — the Spark
 * analogue of the reference's per-batch memory reservation, which
 * `try_grow`s a reservation for every build batch and fails the query on
 * pool exhaustion (reference:
 * sequila/sequila-core/src/physical_planner/joins/interval_join.rs:627-660).
 *
 * Two layers:
 *  - on executors (PartitionedMode) the build registers a
 *    [[MemoryConsumer]] with the task's memory manager and reserves pool
 *    memory in 1 MiB chunks as the build grows. The index needs random
 *    access during probe, so it cannot spill — `spill()` declines, and an
 *    acquisition shortfall surfaces as the clean error below instead of an
 *    opaque executor OOM. The reservation is released on task completion
 *    (the index lives through the probe phase).
 *  - everywhere (including the driver-side broadcast build, where there is
 *    no TaskContext) an optional hard cap
 *    (`spark.graft.intervalJoin.maxBuildBytes`, 0 = off) fails the build
 *    deterministically once exceeded.
 *
 * What is charged: for the interval join, the bytes its build actually
 * holds per row — the page record (8-byte header + the UnsafeRow's bytes,
 * see [[RowPageWriter]]) plus the row's 8-byte address — and, per indexed
 * interval, an estimate of the bound vectors and index arrays; for the
 * count pushdown, the interval estimate alone (it stores no rows). While
 * the join re-lays its rows in index order, the arrival-order pages sit
 * beside the final ones: the final copy is charged before it is written,
 * so the cap and the reservation cover that peak, and the arrival copy is
 * [[release]]d once dropped, so the metric reports what the build keeps.
 *
 * Instantiate once per `buildSide()` call; not thread-shared.
 */
final class BuildMemoryAccountant(maxBuildBytes: Long) {

  private var usedBytes = 0L
  private var reserved = 0L
  private val consumer: MemoryConsumer = {
    val tc = TaskContext.get()
    if (tc == null) null
    else {
      val c = new BuildMemoryAccountant.NonSpillableConsumer(
        org.apache.spark.GraftCoreShim.taskMemoryManager(tc))
      tc.addTaskCompletionListener[Unit](_ => c.freeMemory(c.getUsed))
      c
    }
  }

  /** Bytes accounted so far (feeds the buildMemUsed metric). */
  def used: Long = usedBytes

  private def fail(detail: String): Nothing =
    throw new SparkException(
      s"[GRAFT_INTERVAL_JOIN] interval join build side exhausted memory: " +
        s"$detail. The build-side index cannot spill; reduce the build " +
        "side (filter earlier), raise executor memory, or partition on a " +
        "higher-cardinality key.")

  /** Return `bytes` charged by [[add]] for a copy the build has dropped,
    * and the pool memory that no longer backs a charge. */
  def release(bytes: Long): Unit = {
    usedBytes -= bytes
    if (consumer != null && reserved > usedBytes) {
      consumer.freeMemory(reserved - usedBytes)
      reserved = usedBytes
    }
  }

  /** Account `bytes` more build memory. */
  def add(bytes: Long): Unit = {
    usedBytes += bytes
    if (maxBuildBytes > 0 && usedBytes > maxBuildBytes) {
      if (consumer != null) consumer.freeMemory(consumer.getUsed)
      fail(s"$usedBytes bytes exceeds " +
        s"spark.graft.intervalJoin.maxBuildBytes=$maxBuildBytes")
    }
    if (consumer != null && usedBytes > reserved) {
      val need = math.max(usedBytes - reserved, 1L << 20)
      val got = consumer.acquireMemory(need)
      reserved += got
      if (reserved < usedBytes) {
        consumer.freeMemory(consumer.getUsed)
        fail(s"task memory pool granted only $reserved of $usedBytes bytes")
      }
    }
  }
}

object BuildMemoryAccountant {
  private final class NonSpillableConsumer(tmm: TaskMemoryManager)
      extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {
    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }

  /** Rough per-indexed-interval cost: the start/end/address vectors the
    * build accumulates + equal-sized index arrays + growth slack. */
  val IntervalOverhead: Int = 32
  /** Int64-coordinate variant: two Long bounds instead of Int. */
  val LongIntervalOverhead: Int = 48
  /** Per stored row: its slot in the build side's address array. */
  val AddressBytes: Int = 8
}
