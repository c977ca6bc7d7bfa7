package graft.rangejoin

import scala.collection.mutable.ArrayBuffer

/**
 * Read-only index over a set of closed (end-inclusive) integer intervals,
 * each carrying an opaque `position` (row offset into the build side).
 *
 * This is the Spark-side analogue of the reference's pluggable
 * `IntervalJoinAlgorithm` (reference:
 * sequila/sequila-core/src/physical_planner/joins/interval_join.rs:720-1021).
 * All implementations are plain primitive-array structures: cheap to
 * serialize into a broadcast variable, no boxing in the hot probe loop.
 */
/** Common supertype of the Int32 and Int64 coordinate indexes — what an
  * interval-join build side stores per key. Probe code dispatches on the
  * concrete width (decided once per join, never per row). */
sealed trait AnyIntervalIndex extends Serializable {
  def size: Int
}

/** Int64-coordinate index surface — every algorithm slot has a Long twin
  * so `spark.graft.intervalJoin.algorithm` stays a real A/B knob on wide
  * (epoch micro/nano) domains too, not a silent superintervals alias. */
sealed trait LongIntervalIndex extends AnyIntervalIndex {
  /** Invoke `f(position)` for every stored interval overlapping [s, e]
    * (closed/closed). */
  def query(s: Long, e: Long)(f: Int => Unit): Unit

  def count(s: Long, e: Long): Long = {
    var n = 0L
    query(s, e)(_ => n += 1)
    n
  }

  /** Codegen-friendly probe (generated Java can't pass closures). */
  def queryInto(s: Long, e: Long, buf: IntMatchBuffer): Int = {
    buf.reset()
    query(s, e)(buf.addF)
    buf.size
  }
}

sealed trait IntervalIndex extends AnyIntervalIndex {
  /** Invoke `f(position)` for every stored interval overlapping [s, e]
    * (closed/closed). */
  def query(s: Int, e: Int)(f: Int => Unit): Unit

  /** Count stored intervals overlapping [s, e]. */
  def count(s: Int, e: Int): Long = {
    var n = 0L
    query(s, e)(_ => n += 1)
    n
  }

  /** Codegen-friendly probe: fill `buf` with the matching positions and
    * return the match count (generated Java can't pass closures). */
  def queryInto(s: Int, e: Int, buf: IntMatchBuffer): Int = {
    buf.reset()
    query(s, e)(buf.addF)
    buf.size
  }

  def size: Int
}

/** Reusable growable primitive int buffer for codegen'd probe loops. */
final class IntMatchBuffer {
  private var arr = new Array[Int](64)
  var size: Int = 0
  def reset(): Unit = size = 0
  def add(p: Int): Unit = {
    if (size == arr.length) arr = java.util.Arrays.copyOf(arr, size * 2)
    arr(size) = p
    size += 1
  }
  val addF: Int => Unit = add
  def get(i: Int): Int = arr(i)
}

object IntervalIndex {
  /** Build the index named by `algorithm` (conf
    * `spark.graft.intervalJoin.algorithm`). Mirrors `Algorithm::from_str`
    * (reference: sequila/sequila-core/src/session_context.rs:85-104). */
  def build(algorithm: String, starts: Array[Int], ends: Array[Int],
            positions: Array[Int]): IntervalIndex = {
    val order = IntervalOrder.byStartEnd(starts, ends, endDescending = true)
    buildOrdered(algorithm, IntervalOrder.permute(starts, order),
      IntervalOrder.permute(ends, order), IntervalOrder.permute(positions, order))
  }

  /** [[build]] for input already in [[IntervalOrder]]'s (start asc, end
    * desc) order — the interval join's row layout order: superintervals
    * and AIList take it as is; Lapper and the tree re-sort (end asc). */
  def buildOrdered(algorithm: String, starts: Array[Int], ends: Array[Int],
            positions: Array[Int]): IntervalIndex =
    algorithm.toLowerCase match {
      // the superintervals design serves the Coitrees (default) slot — a
      // sorted array with branch skips has the same cache-linear profile
      // the vEB-layout COITree targets (SURVEY §2 #6 allows this)
      case "superintervals" | "coitrees" | "default" =>
        SuperIntervalsIndex.fromOrdered(starts, ends, positions)
      case "ailist" =>
        AIListIndex.fromOrdered(starts, ends, positions)
      // real augmented interval tree (reference's IntervalTree /
      // ArrayIntervalTree slots, rust-bio style — interval_join.rs:816-841)
      case "intervaltree" | "arrayintervaltree" =>
        AugmentedTreeIndex.build(starts, ends, positions)
      // real Lapper (reference's Lapper slot, interval_join.rs:842-857)
      case "lapper" | "nclist" =>
        LapperIndex.build(starts, ends, positions)
      case "naive" | "linear" =>
        new NaiveIntervalIndex(starts, ends, positions)
      case other =>
        throw new IllegalArgumentException(
          s"unknown interval-join algorithm: $other (expected " +
            "superintervals | ailist | intervaltree | lapper | naive)")
    }
}

/** O(n) scan — correctness oracle for the real indexes and fallback for
  * tiny build sides. */
final class NaiveIntervalIndex(
    starts: Array[Int], ends: Array[Int], positions: Array[Int])
  extends IntervalIndex {
  override def query(s: Int, e: Int)(f: Int => Unit): Unit = {
    var i = 0
    val n = starts.length
    while (i < n) {
      if (starts(i) <= e && ends(i) >= s) f(positions(i))
      i += 1
    }
  }
  override def size: Int = starts.length
}

/**
 * Sorted-array interval index in the style of the "superintervals" design
 * the reference vendors (reference:
 * sequila/sequila-core/superintervals/src/superintervals.rs:121-305):
 * intervals sorted by (start asc, end desc); `branch(i)` points to the
 * nearest earlier interval whose end covers this one's end, so a probe can
 * skip whole runs of non-overlapping intervals instead of scanning one by
 * one. Query = binary-search the last start <= probe end, then walk left,
 * jumping via `branch` on the first miss.
 *
 * Pure `Array[Int]`s: serializable, cache-friendly, JIT-vectorizable.
 */
final class SuperIntervalsIndex private (
    val starts: Array[Int], val ends: Array[Int],
    val positions: Array[Int], val branch: Array[Int])
  extends IntervalIndex {

  override def size: Int = starts.length

  /** Largest index i with starts(i) <= v, or -1. */
  private def upperBound(v: Int): Int = {
    var lo = 0
    var hi = starts.length // exclusive
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo - 1
  }

  override def query(s: Int, e: Int)(f: Int => Unit): Unit = {
    var i = upperBound(e)
    while (i >= 0) {
      if (ends(i) >= s) {
        f(positions(i))
        i -= 1
      } else {
        // ends are not sorted, but branch(i) is the nearest earlier
        // interval with end >= ends(i); anything between cannot reach s
        // either only when their ends are < ends(i) — the branch chain is
        // exactly the set of candidates that can still overlap.
        i = branch(i)
      }
    }
  }

  /** Nearest-mode support: single best match for [s, e] — the overlapping
    * interval with the smallest (start, end), else the interval minimizing
    * genomic distance (gap to s or e), ties broken by (start, end).
    * Returns -1 when the index is empty.
    * (Deterministic variant of the reference's CoitreesNearest,
    * interval_join.rs:909-956, which returns an arbitrary first overlap.) */
  def nearest(s: Int, e: Int): Int = {
    if (starts.length == 0) return -1
    var best = -1
    var bestStart = Int.MaxValue
    var bestEnd = Int.MaxValue
    // Overlap pass with tie-break on (start, end): walk the query traversal
    // but keep the argmin instead of emitting.
    var i = upperBound(e)
    while (i >= 0) {
      if (ends(i) >= s) {
        if (starts(i) < bestStart ||
            (starts(i) == bestStart && ends(i) < bestEnd)) {
          best = i; bestStart = starts(i); bestEnd = ends(i)
        }
        i -= 1
      } else i = branch(i)
    }
    if (best >= 0) return positions(best)

    // No overlap: candidates are the interval with max end among starts <= s
    // (gap = s - end) and the first start > e (gap = start - e).
    var bestDist = Long.MaxValue
    var bestIdx = -1
    val leftIdx = upperBound(s)
    if (leftIdx >= 0) {
      // prefixMaxEnd gives the closest end from the left side
      val j = prefixMaxEndIdx(leftIdx)
      val d = s.toLong - ends(j).toLong
      bestDist = d; bestIdx = j
    }
    var rightIdx = upperBound(e) + 1 // first start > e
    if (rightIdx < starts.length) {
      // equal starts are sorted end-desc; tie-break wants the smallest
      // (start, end), i.e. the last of the equal-start run
      while (rightIdx + 1 < starts.length &&
             starts(rightIdx + 1) == starts(rightIdx)) rightIdx += 1
      val d = starts(rightIdx).toLong - e.toLong
      if (d < bestDist || (d == bestDist && bestIdx >= 0 &&
          (starts(rightIdx) < starts(bestIdx) ||
           (starts(rightIdx) == starts(bestIdx) &&
            ends(rightIdx) < ends(bestIdx))))) {
        bestDist = d; bestIdx = rightIdx
      }
    }
    if (bestIdx < 0) -1 else positions(bestIdx)
  }

  // prefixMaxEndIdx(i) = index j <= i maximizing ends(j) (ties: smaller
  // (start, end) wins since earlier j has smaller start). Lazily built —
  // only nearest-mode pays for it.
  @transient private lazy val prefixMaxEndIdxArr: Array[Int] = {
    val n = starts.length
    val arr = new Array[Int](n)
    var bi = 0
    var i = 0
    while (i < n) {
      if (ends(i) > ends(bi)) bi = i
      arr(i) = bi
      i += 1
    }
    arr
  }
  private def prefixMaxEndIdx(i: Int): Int = prefixMaxEndIdxArr(i)

  /** ASOF backward: the interval with the greatest start <= s (equal
    * starts: the sort's first = greatest end), or -1. One binary search. */
  def asofBackward(s: Int): Int = {
    var i = upperBound(s)
    if (i < 0) return -1
    while (i > 0 && starts(i - 1) == starts(i)) i -= 1
    positions(i)
  }

  /** ASOF forward: the interval with the smallest start >= s (equal
    * starts: greatest end), or -1. */
  def asofForward(s: Int): Int = {
    var lo = 0
    var hi = starts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) < s) lo = mid + 1 else hi = mid
    }
    if (lo >= starts.length) -1 else positions(lo)
  }
}

object SuperIntervalsIndex {
  /** Index over intervals already in (start asc, end desc) order. */
  def fromOrdered(starts: Array[Int], ends: Array[Int],
            positions: Array[Int]): SuperIntervalsIndex = {
    val n = starts.length
    // branch(i) = nearest j < i with ends(j) >= ends(i), else -1
    val branch = new Array[Int](n)
    val stack = new ArrayBuffer[Int](16)
    var i = 0
    while (i < n) {
      while (stack.nonEmpty && ends(stack(stack.length - 1)) < ends(i))
        stack.remove(stack.length - 1)
      branch(i) = if (stack.isEmpty) -1 else stack(stack.length - 1)
      stack += i
      i += 1
    }
    new SuperIntervalsIndex(starts, ends, positions, branch)
  }
}

/**
 * AIList-style index (augmented interval list; Feng et al. 2019, public
 * algorithm): intervals sorted by start and decomposed into a few
 * components, each with a running max-end array so a query scans backward
 * from the binary-searched position and stops as soon as maxEnd < s.
 * Covers the reference's `IntervalTree`/`ArrayIntervalTree` algorithm slots
 * (reference: interval_join.rs:816-841) with an array-friendly design.
 */
final class AIListIndex private (
    compStarts: Array[Array[Int]], compEnds: Array[Array[Int]],
    compMaxEnds: Array[Array[Int]], compPositions: Array[Array[Int]])
  extends IntervalIndex {

  override val size: Int = compStarts.iterator.map(_.length).sum

  override def query(s: Int, e: Int)(f: Int => Unit): Unit = {
    var c = 0
    while (c < compStarts.length) {
      val starts = compStarts(c); val ends = compEnds(c)
      val maxEnds = compMaxEnds(c); val positions = compPositions(c)
      // binary search: last i with starts(i) <= e
      var lo = 0; var hi = starts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= e) lo = mid + 1 else hi = mid
      }
      var i = lo - 1
      while (i >= 0 && maxEnds(i) >= s) {
        if (ends(i) >= s) f(positions(i))
        i -= 1
      }
      c += 1
    }
  }
}

/**
 * Lapper index (public design: Brent Pedersen's nim-lapper and its
 * rust-lapper port — the structure behind the reference's Lapper slot,
 * reference: interval_join.rs:842-857): intervals sorted by (start, end);
 * a probe binary-searches the first interval whose start could still reach
 * `s` (start >= s − maxLen, where maxLen is the longest stored interval)
 * and scans FORWARD while start <= e, emitting on end >= s. Simple, branch-
 * predictable, excellent when interval lengths are fairly uniform;
 * degrades when one giant interval inflates maxLen — which is exactly the
 * profile difference that makes it worth A/B-testing against the others.
 */
final class LapperIndex private (
    starts: Array[Int], ends: Array[Int], positions: Array[Int],
    maxLen: Long) extends IntervalIndex {

  override def size: Int = starts.length

  override def query(s: Int, e: Int)(f: Int => Unit): Unit = {
    val n = starts.length
    // first i with starts(i) >= s - maxLen (Long math: no underflow)
    val cutoff = s.toLong - maxLen
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid).toLong < cutoff) lo = mid + 1 else hi = mid
    }
    while (lo < n && starts(lo) <= e) {
      if (ends(lo) >= s) f(positions(lo))
      lo += 1
    }
  }
}

object LapperIndex {
  def build(starts0: Array[Int], ends0: Array[Int],
            positions0: Array[Int]): LapperIndex = {
    val n = starts0.length
    val order = IntervalOrder.byStartEnd(starts0, ends0,
      endDescending = false)
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    val positions = new Array[Int](n)
    var maxLen = 0L
    var i = 0
    while (i < n) {
      val o = order(i)
      starts(i) = starts0(o); ends(i) = ends0(o); positions(i) = positions0(o)
      // inverted intervals (end < start) contribute no positive length but
      // must still be reachable: length floor 0 keeps cutoff <= start
      maxLen = math.max(maxLen, ends(i).toLong - starts(i).toLong)
      i += 1
    }
    new LapperIndex(starts, ends, positions, math.max(maxLen, 0L))
  }
}

/**
 * Augmented interval tree over a sorted array (the classic CLRS structure,
 * array-backed like rust-bio's ArrayBackedIntervalTree — the reference's
 * IntervalTree / ArrayIntervalTree slots, reference:
 * interval_join.rs:816-841): an implicit balanced BST where node = middle
 * of its range and every node stores its subtree's max end, letting a
 * probe prune whole subtrees whose max end < s. No pointers — three
 * primitive arrays plus the augmentation, broadcast-friendly.
 */
final class AugmentedTreeIndex private (
    starts: Array[Int], ends: Array[Int], positions: Array[Int],
    subtreeMax: Array[Int]) extends IntervalIndex {

  override def size: Int = starts.length

  override def query(s: Int, e: Int)(f: Int => Unit): Unit =
    visit(0, starts.length, s, e, f)

  /** In-order traversal of the implicit tree on [lo, hi), pruning on the
    * subtree max-end (left of a start > e nothing can start <= e; below a
    * subtreeMax < s nothing can end >= s). Depth is log2(n). */
  private def visit(lo: Int, hi: Int, s: Int, e: Int, f: Int => Unit): Unit = {
    if (lo >= hi) return
    val mid = (lo + hi) >>> 1
    if (subtreeMax(mid) < s) return
    visit(lo, mid, s, e, f)
    if (starts(mid) <= e) {
      if (ends(mid) >= s) f(positions(mid))
      visit(mid + 1, hi, s, e, f)
    }
  }
}

object AugmentedTreeIndex {
  def build(starts0: Array[Int], ends0: Array[Int],
            positions0: Array[Int]): AugmentedTreeIndex = {
    val n = starts0.length
    val order = IntervalOrder.byStartEnd(starts0, ends0,
      endDescending = false)
    val starts = IntervalOrder.permute(starts0, order)
    val ends = IntervalOrder.permute(ends0, order)
    val positions = IntervalOrder.permute(positions0, order)
    val subtreeMax = new Array[Int](math.max(n, 1))
    def fill(lo: Int, hi: Int): Int = {
      if (lo >= hi) return Int.MinValue
      val mid = (lo + hi) >>> 1
      val m = math.max(ends(mid), math.max(fill(lo, mid), fill(mid + 1, hi)))
      subtreeMax(mid) = m
      m
    }
    fill(0, n)
    new AugmentedTreeIndex(starts, ends, positions, subtreeMax)
  }
}

/**
 * Int64-coordinate superintervals index — same sorted-array + branch-skip
 * design as [[SuperIntervalsIndex]], with `Array[Long]` bounds. Backs the
 * wide (`coordWidth=int64` / auto-detected Long bounds) interval join: the
 * reference narrows every bound to Int32 and fails on overflow
 * (reference: interval_join.rs:1661-1672, pinned :1927-1968), which makes
 * 64-bit coordinate domains — epoch micros/nanos, byte offsets — unusable.
 * This index completes that capability; Int32 stays the default for
 * narrow domains (half the memory per interval, reference parity).
 */
final class LongSuperIntervalsIndex private (
    val starts: Array[Long], val ends: Array[Long],
    val positions: Array[Int], val branch: Array[Int])
  extends LongIntervalIndex {

  override def size: Int = starts.length

  /** Largest index i with starts(i) <= v, or -1. */
  private def upperBound(v: Long): Int = {
    var lo = 0
    var hi = starts.length // exclusive
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo - 1
  }

  override def query(s: Long, e: Long)(f: Int => Unit): Unit = {
    var i = upperBound(e)
    while (i >= 0) {
      if (ends(i) >= s) {
        f(positions(i))
        i -= 1
      } else {
        i = branch(i)
      }
    }
  }

  /** Nearest-mode support — Long twin of
    * [[SuperIntervalsIndex.nearest]] (same deterministic semantics). */
  def nearest(s: Long, e: Long): Int = {
    if (starts.length == 0) return -1
    var best = -1
    var bestStart = Long.MaxValue
    var bestEnd = Long.MaxValue
    var i = upperBound(e)
    while (i >= 0) {
      if (ends(i) >= s) {
        if (starts(i) < bestStart ||
            (starts(i) == bestStart && ends(i) < bestEnd)) {
          best = i; bestStart = starts(i); bestEnd = ends(i)
        }
        i -= 1
      } else i = branch(i)
    }
    if (best >= 0) return positions(best)

    // No overlap: nearest by gap — max end among starts <= s (gap s-end)
    // vs first start > e (gap start-e). Subtractions saturate: operands
    // in opposite halves of the Long domain would otherwise wrap and pick
    // the FARTHER interval (the Int twin avoids this by widening to Long;
    // at Long width saturation is the equivalent guard).
    def satSub(a: Long, b: Long): Long = {
      val d = a - b
      if (((a ^ b) & (a ^ d)) < 0) { if (a >= 0) Long.MaxValue else Long.MinValue }
      else d
    }
    var bestDist = Long.MaxValue
    var bestIdx = -1
    val leftIdx = upperBound(s)
    if (leftIdx >= 0) {
      val j = prefixMaxEndIdx(leftIdx)
      val d = satSub(s, ends(j))
      bestDist = d; bestIdx = j
    }
    var rightIdx = upperBound(e) + 1 // first start > e
    if (rightIdx < starts.length) {
      while (rightIdx + 1 < starts.length &&
             starts(rightIdx + 1) == starts(rightIdx)) rightIdx += 1
      val d = satSub(starts(rightIdx), e)
      // bestIdx < 0: no left candidate exists — the right candidate must
      // win even when its saturated gap equals the Long.MaxValue
      // sentinel bestDist starts at (otherwise a key WITH build rows
      // would NULL-pad at the domain edge)
      if (bestIdx < 0 || d < bestDist || (d == bestDist &&
          (starts(rightIdx) < starts(bestIdx) ||
           (starts(rightIdx) == starts(bestIdx) &&
            ends(rightIdx) < ends(bestIdx))))) {
        bestDist = d; bestIdx = rightIdx
      }
    }
    if (bestIdx < 0) -1 else positions(bestIdx)
  }

  @transient private lazy val prefixMaxEndIdxArr: Array[Int] = {
    val n = starts.length
    val arr = new Array[Int](n)
    var bi = 0
    var i = 0
    while (i < n) {
      if (ends(i) > ends(bi)) bi = i
      arr(i) = bi
      i += 1
    }
    arr
  }
  private def prefixMaxEndIdx(i: Int): Int = prefixMaxEndIdxArr(i)

  /** ASOF backward — Long twin of [[SuperIntervalsIndex.asofBackward]]. */
  def asofBackward(s: Long): Int = {
    var i = upperBound(s)
    if (i < 0) return -1
    while (i > 0 && starts(i - 1) == starts(i)) i -= 1
    positions(i)
  }

  /** ASOF forward — Long twin of [[SuperIntervalsIndex.asofForward]]. */
  def asofForward(s: Long): Int = {
    var lo = 0
    var hi = starts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) < s) lo = mid + 1 else hi = mid
    }
    if (lo >= starts.length) -1 else positions(lo)
  }
}

/** O(n) Long scan — correctness oracle for the Long indexes. */
final class LongNaiveIndex(
    starts: Array[Long], ends: Array[Long], positions: Array[Int])
  extends LongIntervalIndex {
  override def query(s: Long, e: Long)(f: Int => Unit): Unit = {
    var i = 0
    val n = starts.length
    while (i < n) {
      if (starts(i) <= e && ends(i) >= s) f(positions(i))
      i += 1
    }
  }
  override def size: Int = starts.length
}

/** Long twin of [[AIListIndex]] (same decomposition heuristics). */
final class LongAIListIndex private[rangejoin] (
    compStarts: Array[Array[Long]], compEnds: Array[Array[Long]],
    compMaxEnds: Array[Array[Long]], compPositions: Array[Array[Int]])
  extends LongIntervalIndex {

  override val size: Int = compStarts.iterator.map(_.length).sum

  override def query(s: Long, e: Long)(f: Int => Unit): Unit = {
    var c = 0
    while (c < compStarts.length) {
      val starts = compStarts(c); val ends = compEnds(c)
      val maxEnds = compMaxEnds(c); val positions = compPositions(c)
      var lo = 0; var hi = starts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= e) lo = mid + 1 else hi = mid
      }
      var i = lo - 1
      while (i >= 0 && maxEnds(i) >= s) {
        if (ends(i) >= s) f(positions(i))
        i -= 1
      }
      c += 1
    }
  }
}

/** Long twin of [[LapperIndex]]. `unbounded` marks an interval whose
  * length exceeds Long.MaxValue (full-domain sentinel) — no finite
  * cutoff can exclude anything, so probes scan from the front. */
final class LongLapperIndex private[rangejoin] (
    starts: Array[Long], ends: Array[Long], positions: Array[Int],
    maxLen: Long, unbounded: Boolean) extends LongIntervalIndex {

  override def size: Int = starts.length

  override def query(s: Long, e: Long)(f: Int => Unit): Unit = {
    val n = starts.length
    // first i with starts(i) >= s - maxLen; saturate the subtraction so a
    // probe near Long.MinValue cannot wrap
    val cutoff =
      if (unbounded || s < Long.MinValue + maxLen) Long.MinValue
      else s - maxLen
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) < cutoff) lo = mid + 1 else hi = mid
    }
    while (lo < n && starts(lo) <= e) {
      if (ends(lo) >= s) f(positions(lo))
      lo += 1
    }
  }
}

/** Long twin of [[AugmentedTreeIndex]]. */
final class LongAugmentedTreeIndex private[rangejoin] (
    starts: Array[Long], ends: Array[Long], positions: Array[Int],
    subtreeMax: Array[Long]) extends LongIntervalIndex {

  override def size: Int = starts.length

  override def query(s: Long, e: Long)(f: Int => Unit): Unit =
    visit(0, starts.length, s, e, f)

  private def visit(lo: Int, hi: Int, s: Long, e: Long,
      f: Int => Unit): Unit = {
    if (lo >= hi) return
    val mid = (lo + hi) >>> 1
    if (subtreeMax(mid) < s) return
    visit(lo, mid, s, e, f)
    if (starts(mid) <= e) {
      if (ends(mid) >= s) f(positions(mid))
      visit(mid + 1, hi, s, e, f)
    }
  }
}

object LongIntervalIndex {
  /** Long-width algorithm dispatch — same names as
    * [[IntervalIndex.build]]. */
  def build(algorithm: String, starts: Array[Long], ends: Array[Long],
            positions: Array[Int]): LongIntervalIndex = {
    val order = IntervalOrder.byStartEnd(starts, ends, endDescending = true)
    buildOrdered(algorithm, IntervalOrder.permute(starts, order),
      IntervalOrder.permute(ends, order), IntervalOrder.permute(positions, order))
  }

  /** Long-width [[IntervalIndex.buildOrdered]]. */
  def buildOrdered(algorithm: String, starts: Array[Long], ends: Array[Long],
            positions: Array[Int]): LongIntervalIndex =
    algorithm.toLowerCase match {
      case "superintervals" | "coitrees" | "default" =>
        LongSuperIntervalsIndex.fromOrdered(starts, ends, positions)
      case "ailist" =>
        buildAIList(starts, ends, positions)
      case "intervaltree" | "arrayintervaltree" =>
        buildTree(starts, ends, positions)
      case "lapper" | "nclist" =>
        buildLapper(starts, ends, positions)
      case "naive" | "linear" =>
        new LongNaiveIndex(starts, ends, positions)
      case other =>
        throw new IllegalArgumentException(
          s"unknown interval-join algorithm: $other (expected " +
            "superintervals | ailist | intervaltree | lapper | naive)")
    }

  private def buildLapper(starts0: Array[Long], ends0: Array[Long],
      positions0: Array[Int]): LongLapperIndex = {
    val n = starts0.length
    val order = IntervalOrder.byStartEnd(starts0, ends0,
      endDescending = false)
    val starts = new Array[Long](n)
    val ends = new Array[Long](n)
    val positions = new Array[Int](n)
    var maxLen = 0L
    var unbounded = false
    var i = 0
    while (i < n) {
      val o = order(i)
      starts(i) = starts0(o); ends(i) = ends0(o); positions(i) = positions0(o)
      // an interval spanning more than 2^63 (e.g. a [Long.MinValue,
      // Long.MaxValue] open-ended sentinel) has no representable length —
      // mark the index unbounded so probes scan from the front instead of
      // trusting a wrapped cutoff
      val d = ends(i) - starts(i)
      if (ends(i) >= starts(i) && d < 0) unbounded = true
      else maxLen = math.max(maxLen, math.max(d, 0L))
      i += 1
    }
    new LongLapperIndex(starts, ends, positions, maxLen, unbounded)
  }

  private def buildTree(starts0: Array[Long], ends0: Array[Long],
      positions0: Array[Int]): LongAugmentedTreeIndex = {
    val n = starts0.length
    val order = IntervalOrder.byStartEnd(starts0, ends0,
      endDescending = false)
    val starts = IntervalOrder.permute(starts0, order)
    val ends = IntervalOrder.permute(ends0, order)
    val positions = IntervalOrder.permute(positions0, order)
    val subtreeMax = new Array[Long](math.max(n, 1))
    def fill(lo: Int, hi: Int): Long = {
      if (lo >= hi) return Long.MinValue
      val mid = (lo + hi) >>> 1
      val m = math.max(ends(mid), math.max(fill(lo, mid), fill(mid + 1, hi)))
      subtreeMax(mid) = m
      m
    }
    fill(0, n)
    new LongAugmentedTreeIndex(starts, ends, positions, subtreeMax)
  }

  /** AIList over intervals already in (start asc, end desc) order. */
  private def buildAIList(starts: Array[Long], ends: Array[Long],
      positions: Array[Int]): LongAIListIndex = {
    val MaxComps = 8
    val MinCompLen = 64
    val CovCutoff = 10
    var curS = starts
    var curE = ends
    var curP = positions

    val compS = ArrayBuffer[Array[Long]]()
    val compE = ArrayBuffer[Array[Long]]()
    val compP = ArrayBuffer[Array[Int]]()
    var iter = 0
    while (curS.nonEmpty && iter < MaxComps - 1 && curS.length > MinCompLen) {
      val keepIdx = ArrayBuffer[Int]()
      val moveIdx = ArrayBuffer[Int]()
      val m = curS.length
      var i = 0
      while (i < m) {
        var cov = 0
        var j = i + 1
        val lim = math.min(m, i + 1 + 2 * CovCutoff)
        while (j < lim && cov < CovCutoff) {
          if (curE(j) <= curE(i)) cov += 1
          j += 1
        }
        if (cov >= CovCutoff) moveIdx += i else keepIdx += i
        i += 1
      }
      if (moveIdx.isEmpty || keepIdx.isEmpty) {
        compS += curS; compE += curE; compP += curP
        curS = Array.empty; curE = Array.empty; curP = Array.empty
      } else {
        compS += keepIdx.map(curS).toArray
        compE += keepIdx.map(curE).toArray
        compP += keepIdx.map(curP).toArray
        curS = moveIdx.map(curS).toArray
        curE = moveIdx.map(curE).toArray
        curP = moveIdx.map(curP).toArray
      }
      iter += 1
    }
    if (curS.nonEmpty) { compS += curS; compE += curE; compP += curP }

    val maxEnds = compE.map { ends =>
      val me = new Array[Long](ends.length)
      var mx = Long.MinValue
      var i = 0
      while (i < ends.length) { mx = math.max(mx, ends(i)); me(i) = mx; i += 1 }
      me
    }
    new LongAIListIndex(compS.toArray, compE.toArray, maxEnds.toArray,
      compP.toArray)
  }
}

object LongSuperIntervalsIndex {
  /** Index over intervals already in (start asc, end desc) order. */
  def fromOrdered(starts: Array[Long], ends: Array[Long],
            positions: Array[Int]): LongSuperIntervalsIndex = {
    val n = starts.length
    // branch(i) = nearest j < i with ends(j) >= ends(i), else -1
    val branch = new Array[Int](n)
    val stack = new ArrayBuffer[Int](16)
    var i = 0
    while (i < n) {
      while (stack.nonEmpty && ends(stack(stack.length - 1)) < ends(i))
        stack.remove(stack.length - 1)
      branch(i) = if (stack.isEmpty) -1 else stack(stack.length - 1)
      stack += i
      i += 1
    }
    new LongSuperIntervalsIndex(starts, ends, positions, branch)
  }
}

object AIListIndex {
  private val MaxComps = 8
  private val MinCompLen = 64
  private val CovCutoff = 10

  /** Index over intervals already in (start asc, end desc) order. */
  def fromOrdered(starts: Array[Int], ends: Array[Int],
            positions: Array[Int]): AIListIndex = {
    var curS = starts
    var curE = ends
    var curP = positions

    val compS = ArrayBuffer[Array[Int]]()
    val compE = ArrayBuffer[Array[Int]]()
    val compP = ArrayBuffer[Array[Int]]()
    var iter = 0
    while (curS.nonEmpty && iter < MaxComps - 1 && curS.length > MinCompLen) {
      // extract intervals covered by >= CovCutoff of the next few — they
      // destroy the early-stop property; move them to their own component
      val keepIdx = ArrayBuffer[Int]()
      val moveIdx = ArrayBuffer[Int]()
      val m = curS.length
      var i = 0
      while (i < m) {
        var cov = 0
        var j = i + 1
        val lim = math.min(m, i + 1 + 2 * CovCutoff)
        while (j < lim && cov < CovCutoff) {
          if (curE(j) <= curE(i)) cov += 1
          j += 1
        }
        if (cov >= CovCutoff) moveIdx += i else keepIdx += i
        i += 1
      }
      if (moveIdx.isEmpty || keepIdx.isEmpty) {
        compS += curS; compE += curE; compP += curP
        curS = Array.empty; curE = Array.empty; curP = Array.empty
      } else {
        compS += keepIdx.map(curS).toArray
        compE += keepIdx.map(curE).toArray
        compP += keepIdx.map(curP).toArray
        curS = moveIdx.map(curS).toArray
        curE = moveIdx.map(curE).toArray
        curP = moveIdx.map(curP).toArray
      }
      iter += 1
    }
    if (curS.nonEmpty) { compS += curS; compE += curE; compP += curP }

    val maxEnds = compE.map { ends =>
      val me = new Array[Int](ends.length)
      var mx = Int.MinValue
      var i = 0
      while (i < ends.length) { mx = math.max(mx, ends(i)); me(i) = mx; i += 1 }
      me
    }
    new AIListIndex(compS.toArray, compE.toArray, maxEnds.toArray,
      compP.toArray)
  }
}
