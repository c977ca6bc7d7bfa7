package graft.plans

import graft.rangejoin.{AnyIntervalIndex, IntervalIndex, IntervalOrder, LongIntervalIndex, LongSuperIntervalsIndex, SuperIntervalsIndex}

import org.apache.spark.{GraftCoreShim, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.Platform

import scala.collection.mutable

/** How the build (left) side reaches the probe tasks. */
sealed trait IntervalJoinMode extends Serializable
/** Build side collected once and broadcast — analogue of the reference's
  * CollectLeft (reference: interval_join.rs:472-487). */
case object BroadcastMode extends IntervalJoinMode
/** Both sides hash-partitioned on the equi-keys; per-partition index —
  * analogue of the reference's Partitioned mode (interval_join.rs:488-503).
  * This is the 100-TB path: no single node ever sees the whole build side. */
case object PartitionedMode extends IntervalJoinMode

/** Join semantics. The reference implements Inner only
  * (interval_join.rs plumbs other types but never emits them); the
  * probe-side variants below are Spark-first extensions — all emission
  * decisions are per-probe-row, so they work in both distribution modes
  * with no build-side match tracking. */
sealed trait IntervalJoinType extends Serializable
/** Emit every overlapping (build, probe) pair — inner join. */
case object OverlapJoin extends IntervalJoinType
/** Inner pairs + NULL-padded build side for probe rows with no match —
  * the probe-side outer join (logical RightOuter when build = left). */
case object RightOuterJoin extends IntervalJoinType
/** Emit each probe row once iff it has ≥1 match (logical LeftSemi with
  * sides swapped: build = the filtering side). */
case object SemiJoin extends IntervalJoinType
/** Emit each probe row once iff it has NO match (logical LeftAnti with
  * sides swapped). */
case object AntiJoin extends IntervalJoinType
/** Emit every probe row once, appending a boolean "had ≥1 match" column —
  * Spark's ExistenceJoin (the reference plumbs Mark the same way,
  * interval_join.rs:280-302): what EXISTS compiles to when it sits under
  * a disjunction and can't become a plain semi join. */
case object MarkJoin extends IntervalJoinType
/** Inner pairs + NULL-padded build side for unmatched probe rows + NULL-
  * padded probe side for unmatched build rows — FULL OUTER. Needs
  * build-side match tracking (a per-partition bitmap), so it runs in
  * PartitionedMode only, where each task owns its build partition
  * exclusively. The reference plumbs Full but never executes it
  * (reference: interval_join.rs:280-302). */
case object FullOuterJoin extends IntervalJoinType
/** Emit exactly one row per probe row: the best (deterministic) nearest
  * build interval, NULL-padded left side when the key has no build rows —
  * analogue of the reference's CoitreesNearest (interval_join.rs:909-990),
  * made deterministic: overlap with min (start, end), else min distance
  * with ties broken by (start, end). */
case object NearestJoin extends IntervalJoinType
/** AS-OF join (pandas merge_asof / DuckDB ASOF JOIN; beyond the
  * reference): one row per probe row, matched with the build row whose
  * time is the greatest <= the probe time (backward; `forward` mirrors,
  * `strict` excludes equality), NULL-padded when none qualifies. Times are
  * indexed as degenerate [t, t] intervals, so the whole build/probe
  * machinery (both distribution modes, Int32/Int64 widths) is reused. */
case class AsofJoin(forward: Boolean, strict: Boolean)
  extends IntervalJoinType

/** Primitive growable long/int vectors for the build accumulators:
  * `ArrayBuffer[Long]` boxes every element (~64 B of transient
  * java.lang.Long + ref slot per appended bound), so a large build's
  * REAL footprint would be 2-3x what [[BuildMemoryAccountant]] reserves
  * and the task could OOM before the accountant's clean error fires.
  * These grow doubling primitive arrays — exactly the footprint the
  * per-interval estimate assumes. */
private[plans] final class LongVec(initial: Int = 16) {
  private var arr = new Array[Long](initial)
  private var n = 0
  def +=(v: Long): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = v; n += 1
  }
  def length: Int = n
  def apply(i: Int): Long = arr(i)
  def toArray: Array[Long] = java.util.Arrays.copyOf(arr, n)
  def toIntArrayChecked(check: Long => Int): Array[Int] = {
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = check(arr(i)); i += 1 }
    out
  }
}

/** Compiled (start, end) extractor: one generated projection per side,
  * no interpreted Expression.eval and no boxing in the per-row loops.
  * Shared by the join and count runners — one place for the NULL-bound
  * contract. */
private[plans] final class BoundsEval(start: Expression, end: Expression,
    schema: Seq[Attribute]) {
  private val proj = UnsafeProjection.create(
    Seq(Cast(start, LongType), Cast(end, LongType)), schema)
  var s: Long = _
  var e: Long = _
  /** Returns false (and leaves s/e undefined) when either bound is NULL. */
  def eval(row: InternalRow): Boolean = {
    val r = proj(row)
    if (r.isNullAt(0) || r.isNullAt(1)) false
    else { s = r.getLong(0); e = r.getLong(1); true }
  }
}

/** Append-only store of UnsafeRow bytes in byte pages of at most
  * [[RowPageWriter.PageBytes]] (a larger row gets a page of its own), so no
  * single array nears the 2 GiB limit. A record is an 8-byte header (the
  * row's size, then 4 spare bytes that keep the row 8-byte aligned)
  * followed by the row's bytes; its address is `page << 32 | offset`.
  * `expectedBytes` (0 = unknown) sizes the pages exactly when the total is
  * known; otherwise pages double from 64 KiB, so a small build never
  * allocates a full page. */
private[plans] final class RowPageWriter(expectedBytes: Long) {
  import RowPageWriter._
  private val pages = new mutable.ArrayBuffer[Array[Byte]]
  private var page: Array[Byte] = Array.emptyByteArray
  private var used = 0
  private var written = 0L

  /** Record bytes appended so far (headers included). */
  def bytes: Long = written

  def append(row: UnsafeRow): Long =
    append(row.getBaseObject, row.getBaseOffset, row.getSizeInBytes)

  /** Copy the record at `addr` of `from` to the end of this store. */
  def appendFrom(from: RowPageWriter, addr: Long): Long = {
    val p = from.pages((addr >>> 32).toInt)
    val off = Platform.BYTE_ARRAY_OFFSET + addr.toInt
    append(p, off + Header, Platform.getInt(p, off))
  }

  private def append(base: AnyRef, offset: Long, size: Int): Long = {
    val rec = Header + size
    if (used.toLong + rec > page.length) {
      val want =
        if (expectedBytes > 0) expectedBytes - written
        else math.max(64L << 10, page.length * 2L)
      page = new Array[Byte](math.max(rec.toLong, math.min(PageBytes, want)).toInt)
      pages += page
      used = 0
    }
    val addr = ((pages.length - 1).toLong << 32) | used
    Platform.putInt(page, Platform.BYTE_ARRAY_OFFSET + used, size)
    Platform.copyMemory(base, offset, page,
      Platform.BYTE_ARRAY_OFFSET + used + Header, size)
    used += rec
    written += rec
    addr
  }

  /** The pages, the last one trimmed to its records. */
  def result(): Array[Array[Byte]] = {
    if (pages.nonEmpty && used < page.length)
      pages(pages.length - 1) = java.util.Arrays.copyOf(page, used)
    pages.toArray
  }
}

private[plans] object RowPageWriter {
  val PageBytes: Long = 1L << 20
  val Header: Int = 8
}

/** A join's build side, flat. Every build row's bytes sit in byte pages in
  * index order — per equi-key, the order its index walks (start asc, end
  * desc, then input order) — so position `i` of a key's index is that
  * key's `i`-th row in memory, and emitting the pairs of one probe reads
  * the rows nearly sequentially. `addrs(pos)` locates row `pos` (see
  * [[RowPageWriter]]); `keyed` maps each equi-key to the index over its
  * rows' positions. The index width (Int32 vs Int64 coordinates) is
  * uniform across keys — decided once per join from `coordWidth` + the
  * bound types. These three are all a broadcast ships.
  *
  * Read-only: a probe reads row `pos` by re-pointing an UnsafeRow of its
  * own ([[pointTo]]). That row belongs to the task and is never a field
  * here — one broadcast value is shared by every task thread of an
  * executor. */
private[graft] final class IntervalBuildSide(
    val keyed: java.util.HashMap[UnsafeRow, AnyIntervalIndex],
    pages: Array[Array[Byte]],
    addrs: Array[Long]) extends Serializable {

  def numRows: Int = addrs.length

  /** Point `row` at build row `pos`; returns `row`. */
  def pointTo(row: UnsafeRow, pos: Int): UnsafeRow = {
    val a = addrs(pos)
    val page = pages((a >>> 32).toInt)
    val off = Platform.BYTE_ARRAY_OFFSET + a.toInt
    row.pointTo(page, off + RowPageWriter.Header, Platform.getInt(page, off))
    row
  }
}

/**
 * Serializable build/probe kernel shared by both distribution modes; holds
 * only expressions, schemas and metrics — never the SparkPlan itself — so
 * it is safe to capture in RDD closures and broadcast.
 */
private[graft] class IntervalJoinRunner(
    leftOutput: Seq[Attribute],
    rightOutput: Seq[Attribute],
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    residual: Option[Expression],
    joinType: IntervalJoinType,
    markAttr: Option[Attribute],
    // the operator's computed `output` — passed in, not re-derived, so
    // the joinType->schema mapping lives in exactly one place
    outputAttrs: Seq[Attribute],
    algorithm: String,
    wide: Boolean,
    maxBuildBytes: Long,
    numOutputRows: SQLMetric,
    probeRows: SQLMetric,
    buildMemUsed: SQLMetric,
    probeTime: SQLMetric) extends Serializable {

  /** Checked narrowing matching the reference's failure-on-overflow Int32
    * coercion (interval_join.rs:1661-1672, pinned at :1927-1968). */
  private def toIntChecked(v: Long): Int = {
    if (v < Int.MinValue || v > Int.MaxValue) {
      throw new ArithmeticException(
        s"[GRAFT_INTERVAL_JOIN] Can't cast value $v to type Int")
    }
    v.toInt
  }

  def buildSide(rows: Iterator[InternalRow]): IntervalBuildSide = {
    val keyProj = UnsafeProjection.create(leftKeys, leftOutput)
    val rowProj = UnsafeProjection.create(leftOutput, leftOutput)
    val bounds = new BoundsEval(leftStart, leftEnd, leftOutput)

    final class Acc {
      val starts = new LongVec
      val ends = new LongVec
      val addrs = new LongVec // in `arrived`
    }
    val groups = new java.util.HashMap[UnsafeRow, Acc]
    // rows in arrival order; re-laid in index order below, then dropped
    val arrived = new RowPageWriter(0L)
    val unindexed = new LongVec
    val hasKeys = leftKeys.nonEmpty
    // FULL OUTER must emit every build row, even ones that can never match
    // (NULL bound / NULL equi-key): store them un-indexed so the unmatched
    // sweep NULL-pads them.
    val keepAll = joinType == FullOuterJoin
    val mem = new BuildMemoryAccountant(maxBuildBytes)
    rows.foreach { row =>
      // Rows with a NULL bound can never overlap; rows with a NULL equi-key
      // must not match anything (SQL `NULL = NULL` is not true — the
      // reference constructs the join with null_equals_null=false,
      // interval_join.rs ctor). Skip both at build time.
      val key = if (bounds.eval(row)) keyProj(row) else null
      val indexable = key != null && !(hasKeys && key.anyNull)
      if (indexable || keepAll) {
        // collected and shuffled rows are already UnsafeRows of this
        // schema; only other row classes need the projection
        val r = row match {
          case u: UnsafeRow if u.numFields == leftOutput.size => u
          case _ => rowProj(row)
        }
        val addr = arrived.append(r)
        mem.add(RowPageWriter.Header + r.getSizeInBytes +
          BuildMemoryAccountant.AddressBytes)
        if (indexable) {
          mem.add(if (wide) BuildMemoryAccountant.LongIntervalOverhead
                  else BuildMemoryAccountant.IntervalOverhead)
          // Int32 mode narrows HERE, failing on overflow exactly like the
          // reference's CastExpr (interval_join.rs:1661-1672); Int64 mode
          // stores the Long verbatim.
          if (!wide) { toIntChecked(bounds.s); toIntChecked(bounds.e) }
          var acc = groups.get(key)
          if (acc == null) { acc = new Acc; groups.put(key.copy(), acc) }
          acc.starts += bounds.s
          acc.ends += bounds.e
          acc.addrs += addr
        } else unindexed += addr
      }
    }
    val alg = joinType match {
      case NearestJoin | _: AsofJoin => "superintervals"
      case _ => algorithm
    }
    // Lay the rows out again, key by key in index order: position `pos`
    // is the pos-th row of `laid`. This sort owns the (start asc, end
    // desc) order; `buildOrdered` indexes the sorted entries as they are.
    var total = unindexed.length
    groups.forEach((_, acc) => total += acc.starts.length)
    // both copies exist until `arrived` is dropped: charge the second now
    mem.add(arrived.bytes)
    val laid = new RowPageWriter(arrived.bytes)
    val addrs = new Array[Long](total)
    var pos = 0
    def layOut(from: LongVec, order: Array[Int]): Array[Int] = {
      val base = pos
      var j = 0
      while (j < order.length) {
        addrs(pos) = laid.appendFrom(arrived, from(order(j)))
        pos += 1; j += 1
      }
      Array.range(base, pos)
    }
    val keyed = new java.util.HashMap[UnsafeRow, AnyIntervalIndex](
      math.max(16, groups.size() * 2))
    groups.forEach { (k, acc) =>
      val idx: AnyIntervalIndex =
        if (wide) {
          val s = acc.starts.toArray
          val e = acc.ends.toArray
          val order = IntervalOrder.byStartEnd(s, e, endDescending = true)
          val positions = layOut(acc.addrs, order)
          LongIntervalIndex.buildOrdered(alg, IntervalOrder.permute(s, order),
            IntervalOrder.permute(e, order), positions)
        } else {
          val s = acc.starts.toIntArrayChecked(_.toInt)
          val e = acc.ends.toIntArrayChecked(_.toInt)
          val order = IntervalOrder.byStartEnd(s, e, endDescending = true)
          val positions = layOut(acc.addrs, order)
          IntervalIndex.buildOrdered(alg, IntervalOrder.permute(s, order),
            IntervalOrder.permute(e, order), positions)
        }
      keyed.put(k, idx)
    }
    layOut(unindexed, Array.range(0, unindexed.length))
    mem.release(arrived.bytes)
    buildMemUsed += mem.used
    new IntervalBuildSide(keyed, laid.result(), addrs)
  }

  def probe(build: IntervalBuildSide, iter: Iterator[InternalRow],
            partitionIndex: Int): Iterator[InternalRow] = {
    val out = probe0(build, iter, partitionIndex)
    // reference's join_time analogue (joins/utils.rs BuildProbeJoinMetrics):
    // wall time from first pull to exhaustion — includes downstream pull
    // latency, which is what you want when diagnosing a slow stage
    new Iterator[InternalRow] {
      private var t0 = 0L
      private var done = false
      def hasNext: Boolean = {
        if (t0 == 0L) t0 = System.nanoTime()
        val h = out.hasNext
        if (!h && !done) {
          done = true
          probeTime += (System.nanoTime() - t0) / 1000000
        }
        h
      }
      def next(): InternalRow = {
        if (t0 == 0L) t0 = System.nanoTime()
        out.next()
      }
    }
  }

  private def probe0(build: IntervalBuildSide, iter: Iterator[InternalRow],
            partitionIndex: Int): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(rightKeys, rightOutput)
    val bounds = new BoundsEval(rightStart, rightEnd, rightOutput)
    val joined = new JoinedRow
    // FULL OUTER also NULL-pads the probe side (unmatched-build sweep), so
    // its projection input schema must be nullable on both sides. MarkJoin
    // output (probe + exists bool) binds to a different schema — it builds
    // its own projection in its branch below.
    val resultProj =
      if (joinType == MarkJoin) null
      else UnsafeProjection.create(
        outputAttrs,
        leftOutput.map(_.withNullability(true)) ++
          (if (joinType == FullOuterJoin) rightOutput.map(_.withNullability(true))
           else rightOutput))
    if (resultProj != null) resultProj.initialize(partitionIndex)
    val residualPred = residual.map { r =>
      val p = Predicate.create(r, leftOutput ++ rightOutput)
      p.initialize(partitionIndex)
      p
    }
    val nullLeft = new GenericInternalRow(leftOutput.size)
    // this task's pointer into the (possibly shared) build side
    val buildRow = new UnsafeRow(leftOutput.size)
    def leftRow(pos: Int): UnsafeRow = build.pointTo(buildRow, pos)
    val rows = numOutputRows

    val hasKeys = rightKeys.nonEmpty

    // Width-dispatched probe: the match is decided by the index's concrete
    // class, which is uniform across the whole join (one JIT-monomorphic
    // call site per probe row). Int32 narrows the probe bounds with the
    // reference's overflow check; Int64 probes verbatim.
    def queryIdx(idx: AnyIntervalIndex, s: Long, e: Long)(f: Int => Unit): Unit =
      idx match {
        case li: LongIntervalIndex => li.query(s, e)(f)
        case ii: IntervalIndex => ii.query(toIntChecked(s), toIntChecked(e))(f)
      }

    // shared probe: fill matchBuf with positions whose pair passes the
    // residual; returns match count (0 for NULL bounds/keys)
    var sharedBuf = new Array[Int](64)
    def collectMatches(rrow: InternalRow): Int = {
      if (!bounds.eval(rrow)) return 0
      val key = keyProj(rrow)
      val idx = if (hasKeys && key.anyNull) null else build.keyed.get(key)
      if (idx == null) return 0
      var n = 0
      queryIdx(idx, bounds.s, bounds.e) { pos =>
        if (n == sharedBuf.length)
          sharedBuf = java.util.Arrays.copyOf(sharedBuf, n * 2)
        sharedBuf(n) = pos
        n += 1
      }
      residualPred match {
        case None => n
        case Some(p) =>
          var kept = 0
          var i = 0
          while (i < n) {
            if (p.eval(joined(leftRow(sharedBuf(i)), rrow))) {
              sharedBuf(kept) = sharedBuf(i); kept += 1
            }
            i += 1
          }
          kept
      }
    }

    joinType match {
      case OverlapJoin =>
        // primitive growable buffer — no Int boxing in the probe hot loop
        var matchBuf = new Array[Int](64)
        var matchLen = 0
        val add: Int => Unit = { pos =>
          if (matchLen == matchBuf.length)
            matchBuf = java.util.Arrays.copyOf(matchBuf, matchLen * 2)
          matchBuf(matchLen) = pos
          matchLen += 1
        }
        iter.flatMap { rrow =>
          probeRows += 1
          if (!bounds.eval(rrow)) Iterator.empty
          else {
            val key = keyProj(rrow)
            // NULL probe keys match nothing (null_equals_null=false).
            val idx = if (hasKeys && key.anyNull) null else build.keyed.get(key)
            if (idx == null) Iterator.empty
            else {
              matchLen = 0
              queryIdx(idx, bounds.s, bounds.e)(add)
              // buffer is reused across probe rows — safe because flatMap
              // drains each returned iterator before pulling the next row
              val n = matchLen
              val it = new Iterator[InternalRow] {
                private var i = 0
                def hasNext: Boolean = i < n
                def next(): InternalRow = {
                  val j = joined(leftRow(matchBuf(i)), rrow)
                  i += 1
                  j
                }
              }
              (if (residualPred.isEmpty) it
               else it.filter(j => residualPred.get.eval(j)))
                .map { j => rows += 1; resultProj(j) }
            }
          }
        }
      case RightOuterJoin =>
        iter.flatMap { rrow =>
          probeRows += 1
          val n = collectMatches(rrow)
          if (n == 0) {
            rows += 1
            Iterator.single(resultProj(joined(nullLeft, rrow)))
          } else new Iterator[InternalRow] {
            private var i = 0
            def hasNext: Boolean = i < n
            def next(): InternalRow = {
              rows += 1
              val j = joined(leftRow(sharedBuf(i)), rrow)
              i += 1
              resultProj(j)
            }
          }
        }

      case FullOuterJoin =>
        // Per-partition bitmap over build positions: PartitionedMode
        // guarantees this task is the only one probing this build
        // partition, so the post-drain sweep emits each unmatched build
        // row exactly once.
        val matched = new java.util.BitSet(build.numRows)
        val nullRight = new GenericInternalRow(rightOutput.size)
        val pairs = iter.flatMap { rrow =>
          probeRows += 1
          val n = collectMatches(rrow)
          if (n == 0) {
            rows += 1
            Iterator.single(resultProj(joined(nullLeft, rrow)))
          } else new Iterator[InternalRow] {
            private var i = 0
            def hasNext: Boolean = i < n
            def next(): InternalRow = {
              rows += 1
              val pos = sharedBuf(i)
              matched.set(pos)
              val j = joined(leftRow(pos), rrow)
              i += 1
              resultProj(j)
            }
          }
        }
        // lazy concat: the sweep reads the bitmap only after `pairs` drains
        val unmatchedSweep = new Iterator[InternalRow] {
          private var pos = 0
          private def advance(): Unit =
            while (pos < build.numRows && matched.get(pos)) pos += 1
          def hasNext: Boolean = { advance(); pos < build.numRows }
          def next(): InternalRow = {
            advance()
            val j = joined(leftRow(pos), nullRight)
            pos += 1
            rows += 1
            resultProj(j)
          }
        }
        pairs ++ unmatchedSweep

      case MarkJoin =>
        // probe row + boolean "had a match" column (Spark ExistenceJoin)
        val markProj = UnsafeProjection.create(
          rightOutput :+ markAttr.get, rightOutput :+ markAttr.get)
        markProj.initialize(partitionIndex)
        val markRow = new GenericInternalRow(1)
        val outJoined = new JoinedRow
        iter.map { rrow =>
          probeRows += 1
          markRow.setBoolean(0, collectMatches(rrow) > 0)
          rows += 1
          markProj(outJoined(rrow, markRow))
        }

      case SemiJoin =>
        iter.filter { rrow =>
          probeRows += 1
          collectMatches(rrow) > 0
        }.map { rrow => rows += 1; resultProj(joined(nullLeft, rrow)) }

      case AntiJoin =>
        iter.filter { rrow =>
          probeRows += 1
          collectMatches(rrow) == 0
        }.map { rrow => rows += 1; resultProj(joined(nullLeft, rrow)) }

      case NearestJoin =>
        iter.map { rrow =>
          probeRows += 1
          // A NULL probe key (or bound) matches no build rows → NULL-padded
          // output row, same as an unmatched key (reference pads NULL for
          // key misses, interval_join.rs:1453-1465).
          val idx0 = if (!bounds.eval(rrow)) null
                     else {
                       val key = keyProj(rrow)
                       if (hasKeys && key.anyNull) null
                       else build.keyed.get(key)
                     }
          val pos = idx0 match {
            case si: SuperIntervalsIndex =>
              si.nearest(toIntChecked(bounds.s), toIntChecked(bounds.e))
            case li: LongSuperIntervalsIndex => li.nearest(bounds.s, bounds.e)
            case _ => -1
          }
          rows += 1
          if (pos < 0) resultProj(joined(nullLeft, rrow))
          else resultProj(joined(leftRow(pos), rrow))
        }

      case AsofJoin(forward, strict) =>
        iter.map { rrow =>
          probeRows += 1
          val idx0 = if (!bounds.eval(rrow)) null
                     else {
                       val key = keyProj(rrow)
                       if (hasKeys && key.anyNull) null
                       else build.keyed.get(key)
                     }
          val pos = idx0 match {
            case null => -1
            case _ if strict && forward && bounds.s == Long.MaxValue => -1
            case _ if strict && !forward && bounds.s == Long.MinValue => -1
            case idx =>
              // strict shifts the cutoff one tick (times are integral);
              // shifts past the Int/Long domain mean "no candidate" on the
              // shrinking side (handled above, pre-wrap) — clamp, never
              // throw (no reference parity to keep: asof is new here)
              val t = if (!strict) bounds.s
                      else if (forward) bounds.s + 1
                      else bounds.s - 1
              idx match {
                case si: SuperIntervalsIndex =>
                  if (t < Int.MinValue) { if (forward) si.asofForward(Int.MinValue) else -1 }
                  else if (t > Int.MaxValue) { if (forward) -1 else si.asofBackward(Int.MaxValue) }
                  else if (forward) si.asofForward(t.toInt)
                  else si.asofBackward(t.toInt)
                case li: LongSuperIntervalsIndex =>
                  if (forward) li.asofForward(t) else li.asofBackward(t)
                case _ => -1
              }
          }
          // filter-after-pick: a residual (merge_asof tolerance) failing
          // on the picked pair NULL-pads like a miss — for time-monotone
          // residuals this equals pick-within-bound (earlier candidates
          // are farther)
          val accepted = pos >= 0 && (residualPred match {
            case None => true
            case Some(p) => p.eval(joined(leftRow(pos), rrow))
          })
          rows += 1
          if (!accepted) resultProj(joined(nullLeft, rrow))
          else resultProj(joined(leftRow(pos), rrow))
        }
    }
  }
}

/**
 * Interval (overlap / nearest) join operator.
 *
 * Build/probe scheme of the reference's `IntervalJoinExec`
 * (reference: sequila/sequila-core/src/physical_planner/joins/interval_join.rs:110-172):
 * hash build rows by equi-key into per-key interval indexes, stream probe
 * rows against the index of their key. Differences from the reference,
 * both deliberate:
 *  - keys are compared by value (UnsafeRow equality), not trusted 64-bit
 *    hashes (reference hashes only, interval_join.rs:1043-1047);
 *  - Spark's pull-based row iterators replace the hand-rolled async state
 *    machine (interval_join.rs:1053-1167) and make low-memory mode moot —
 *    join output is never materialized per-batch.
 */
case class IntervalJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    residual: Option[Expression],
    joinType: IntervalJoinType,
    mode: IntervalJoinMode,
    algorithm: String,
    wide: Boolean = false,
    markAttr: Option[Attribute] = None) extends BinaryExecNode with CodegenSupport {

  // FULL OUTER needs exclusive per-task ownership of the build partition
  // for its match bitmap — broadcast would emit unmatched build rows once
  // per probe task
  require(joinType != FullOuterJoin || mode == PartitionedMode,
    "FullOuterJoin requires PartitionedMode")
  require(joinType != MarkJoin || markAttr.nonEmpty,
    "MarkJoin requires the exists attribute")

  override def output: Seq[Attribute] = joinType match {
    case OverlapJoin => left.output ++ right.output
    case RightOuterJoin | NearestJoin | _: AsofJoin =>
      left.output.map(_.withNullability(true)) ++ right.output
    case FullOuterJoin =>
      left.output.map(_.withNullability(true)) ++
        right.output.map(_.withNullability(true))
    case SemiJoin | AntiJoin => right.output
    case MarkJoin => right.output :+ markAttr.get
  }

  // mirrors the reference's BuildProbeJoinMetrics (joins/utils.rs:439-495):
  // build_time/build_input_rows/build_mem_used + input_rows/output_rows;
  // its input/output_batches are row-iterator-moot (documented in README)
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "build rows"),
    "buildKeys" -> SQLMetrics.createMetric(sparkContext, "build distinct keys"),
    "buildTime" -> SQLMetrics.createTimingMetric(sparkContext, "build time"),
    "buildMemUsed" -> SQLMetrics.createSizeMetric(sparkContext, "build memory used"),
    "probeRows" -> SQLMetrics.createMetric(sparkContext, "probe rows"),
    // "(interpreted)": the codegen'd probe loops do not stamp this metric
    // (a per-row clock inside the generated loop would cost more than it
    // tells) — a 0 here on a WSCG plan means "look at the stage time"
    "probeTime" -> SQLMetrics.createTimingMetric(sparkContext,
      "probe time (interpreted path)"))

  override def requiredChildDistribution: Seq[Distribution] = mode match {
    case BroadcastMode => Seq(UnspecifiedDistribution, UnspecifiedDistribution)
    case PartitionedMode =>
      Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))
  }

  override def outputPartitioning: Partitioning = (mode, joinType) match {
    case (BroadcastMode, _) => right.outputPartitioning
    case (PartitionedMode, OverlapJoin) =>
      PartitioningCollection(
        Seq(left.outputPartitioning, right.outputPartitioning))
    // NULL-padded sweep rows void the hash-partitioning guarantee (same as
    // Spark's ShuffledJoin for FullOuter)
    case (PartitionedMode, FullOuterJoin) =>
      UnknownPartitioning(right.outputPartitioning.numPartitions)
    case (PartitionedMode, _) => right.outputPartitioning
  }

  /** Plan line in the reference's EXPLAIN format so its plan assertions
    * port directly (reference: tests/integration_test.rs:108-112 expects
    * "IntervalJoinExec: mode=CollectLeft, join_type=Inner, on=[(l, r)],
    * filter=..., alg=..."). */
  /** Every join type except FULL OUTER emits rows in probe (right) order
    * — per probe row, its matches are contiguous — so the probe side's
    * within-partition ordering survives and downstream sorts on it elide.
    * The FULL OUTER unmatched-build sweep appends out-of-order rows. */
  override def outputOrdering: Seq[SortOrder] = joinType match {
    case FullOuterJoin => Nil
    case _ => right.outputOrdering
  }

  override def simpleString(maxFields: Int): String = {
    val modeStr = mode match {
      case BroadcastMode => "CollectLeft" // reference's name for broadcast
      case PartitionedMode => "Partitioned"
    }
    val jt = joinType match {
      case OverlapJoin => "Inner"
      case RightOuterJoin => "RightOuter"
      case SemiJoin => "LeftSemi"
      case AntiJoin => "LeftAnti"
      case FullOuterJoin => "Full"
      case MarkJoin => "Mark"
      case NearestJoin => "Nearest"
      case AsofJoin(fwd, strict) =>
        s"Asof${if (fwd) "Forward" else "Backward"}${if (strict) "Strict" else ""}"
    }
    val on = leftKeys.zip(rightKeys)
      .map { case (a, b) => s"($a, $b)" }.mkString(", ")
    val filter = s"$leftStart <= $rightEnd AND $leftEnd >= $rightStart" +
      residual.map(r => s" AND $r").getOrElse("")
    // int64 annotated only when active: the default line stays verbatim
    // reference-shaped (integration_test.rs:108-112)
    val width = if (wide) ", coord=int64" else ""
    s"IntervalJoinExec: mode=$modeStr, join_type=$jt, on=[$on], " +
      s"filter=$filter, alg=$algorithm$width"
  }

  private def runner: IntervalJoinRunner = new IntervalJoinRunner(
    left.output, right.output, leftKeys, rightKeys,
    leftStart, leftEnd, rightStart, rightEnd,
    residual, joinType, markAttr, output, algorithm, wide,
    conf.getConfString(graft.GraftSession.MaxBuildBytes, "0").toLong,
    longMetric("numOutputRows"),
    longMetric("probeRows"), longMetric("buildMemUsed"),
    longMetric("probeTime"))

  /** Build once per query, shared between the interpreted and codegen'd
    * broadcast paths. */
  @transient private lazy val broadcastBuild: Broadcast[IntervalBuildSide] = {
    val t0 = System.nanoTime()
    val built = runner.buildSide(GraftCoreShim.collectIterator(left))
    longMetric("buildTime") += (System.nanoTime() - t0) / 1000000
    longMetric("buildRows") += built.numRows
    longMetric("buildKeys") += built.keyed.size()
    sparkContext.broadcast(built)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val run = runner
    mode match {
      case BroadcastMode =>
        val bc: Broadcast[IntervalBuildSide] = broadcastBuild
        right.execute().mapPartitionsWithIndex({ (pi, iter) =>
          run.probe(bc.value, iter, pi)
        }, preservesPartitioning = true)
      case PartitionedMode =>
        val buildTime = longMetric("buildTime")
        val buildRows = longMetric("buildRows")
        val buildKeys = longMetric("buildKeys")
        left.execute().zipPartitions(right.execute()) { (liter, riter) =>
          val t0 = System.nanoTime()
          val built = run.buildSide(liter)
          buildTime += (System.nanoTime() - t0) / 1000000
          buildRows += built.numRows
          buildKeys += built.keyed.size()
          run.probe(built, riter, TaskContext.getPartitionId())
        }
    }
  }

  // ---- whole-stage codegen (overlap mode, both distributions) -----------
  //
  // BroadcastMode is modeled on Spark's BroadcastHashJoinExec: the probe
  // (right) side streams through generated code; per probe row the
  // generated Java looks up its key's interval index, fills a reusable
  // primitive match buffer, and loops the matching build rows as local
  // variables — no JoinedRow, no per-pair UnsafeProjection, and the parent
  // operator (filter/agg/project) fuses into the same loop.
  //
  // PartitionedMode is modeled on SortMergeJoinExec's two-input-RDD shape:
  // WholeStageCodegenExec zips the two shuffled inputs; the generated code
  // drains the build iterator into the per-partition index once, then
  // streams probe rows through the same fused match loop. The probe-side
  // child pipeline is not fused below us (it arrives as an exchange
  // anyway), but everything ABOVE the join — the hot per-pair path — is.

  override def supportCodegen: Boolean = joinType == OverlapJoin

  override def inputRDDs(): Seq[RDD[InternalRow]] = mode match {
    case BroadcastMode => right.asInstanceOf[CodegenSupport].inputRDDs()
    case PartitionedMode => left.execute() :: right.execute() :: Nil
  }

  override protected def doProduce(ctx: CodegenContext): String = mode match {
    case BroadcastMode => right.asInstanceOf[CodegenSupport].produce(ctx, this)
    case PartitionedMode => doProducePartitioned(ctx)
  }

  /** Generate the per-match tail: evaluate the residual predicate (if any)
    * on the current (build, probe) pair — mirroring
    * BroadcastHashJoinExec's getJoinCondition pattern: force-evaluate only
    * the columns the residual reads (clearing their code so consume()
    * doesn't evaluate them twice), then gate the consume on it. */
  private def consumeMatch(ctx: CodegenContext, leftVars: Seq[ExprCode],
      rightVars: Seq[ExprCode], numOutput: String): String = residual match {
    case None =>
      val consumed = consume(ctx, leftVars ++ rightVars)
      s"""
         |$numOutput.add(1);
         |$consumed
       """.stripMargin
    case Some(r) =>
      val evalLeft =
        evaluateRequiredVariables(left.output, leftVars, r.references)
      val evalRight =
        evaluateRequiredVariables(right.output, rightVars, r.references)
      ctx.currentVars = leftVars ++ rightVars
      val ev = BindReferences.bindReference(r, left.output ++ right.output)
        .genCode(ctx)
      ctx.currentVars = null
      val consumed = consume(ctx, leftVars ++ rightVars)
      s"""
         |$evalLeft
         |$evalRight
         |${ev.code}
         |if (!${ev.isNull} && ${ev.value}) {
         |  $numOutput.add(1);
         |  $consumed
         |}
       """.stripMargin
  }

  /** Generate the per-probe match loop. For the default superintervals
    * algorithm the index walk is INLINED into the generated Java (binary
    * search + branch-skip scan over the four primitive arrays) — no
    * queryInto virtual call and no match-buffer write+read per pair, the
    * same loop fusion the reference gets from its monomorphized Rust probe
    * (interval_join.rs probe loop). Other algorithms keep the generic
    * buffer path. The cast is safe: the runner builds every per-key index
    * with this exec's `algorithm`. Each match re-points the task's own
    * `ptrTerm` row at the build row's bytes; the walk visits positions
    * in descending order, so successive matches read adjacent memory. */
  private def genMatchLoop(ctx: CodegenContext, idxTerm: String,
      buildTerm: String, ptrTerm: String, bufTerm: String, sL: String,
      eL: String, leftRowTerm: String, matchTail: String): String = {
    val rowCls = classOf[UnsafeRow].getName
    def leftRowAt(pos: String) =
      s"$rowCls $leftRowTerm = $buildTerm.pointTo($ptrTerm, $pos);"
    val a = algorithm.toLowerCase
    val superFamily = a == "superintervals" || a == "coitrees" || a == "default"
    if (wide && superFamily) {
      // Int64 path: identical walk over long[] bound arrays — no
      // narrowing, no overflow guard (the probe bounds are already Long)
      val siCls = classOf[graft.rangejoin.LongSuperIntervalsIndex].getName
      val si = ctx.freshName("si")
      val sArr = ctx.freshName("siStarts")
      val eArr = ctx.freshName("siEnds")
      val pArr = ctx.freshName("siPos")
      val bArr = ctx.freshName("siBranch")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val ii = ctx.freshName("ii")
      s"""
         |$siCls $si = ($siCls) $idxTerm;
         |long[] $sArr = $si.starts();
         |long[] $eArr = $si.ends();
         |int[] $pArr = $si.positions();
         |int[] $bArr = $si.branch();
         |int $lo = 0;
         |int $hi = $sArr.length;
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($sArr[$mid] <= $eL) $lo = $mid + 1; else $hi = $mid;
         |}
         |int $ii = $lo - 1;
         |while ($ii >= 0) {
         |  if ($eArr[$ii] >= $sL) {
         |    ${leftRowAt(s"$pArr[$ii]")}
         |    $ii--; // decrement BEFORE the fused tail: a parent-emitted
         |           // continue must not be able to skip the loop update
         |    $matchTail
         |  } else {
         |    $ii = $bArr[$ii];
         |  }
         |}
       """.stripMargin
    } else if (superFamily) {
      val siCls = classOf[graft.rangejoin.SuperIntervalsIndex].getName
      val si = ctx.freshName("si")
      val sArr = ctx.freshName("siStarts")
      val eArr = ctx.freshName("siEnds")
      val pArr = ctx.freshName("siPos")
      val bArr = ctx.freshName("siBranch")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val ii = ctx.freshName("ii")
      s"""
         |$siCls $si = ($siCls) $idxTerm;
         |int[] $sArr = $si.starts();
         |int[] $eArr = $si.ends();
         |int[] $pArr = $si.positions();
         |int[] $bArr = $si.branch();
         |int $lo = 0;
         |int $hi = $sArr.length;
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($sArr[$mid] <= (int) $eL) $lo = $mid + 1; else $hi = $mid;
         |}
         |int $ii = $lo - 1;
         |while ($ii >= 0) {
         |  if ($eArr[$ii] >= (int) $sL) {
         |    ${leftRowAt(s"$pArr[$ii]")}
         |    $ii--; // decrement BEFORE the fused tail: a parent-emitted
         |           // continue must not be able to skip the loop update
         |    $matchTail
         |  } else {
         |    $ii = $bArr[$ii];
         |  }
         |}
       """.stripMargin
    } else {
      val nTerm = ctx.freshName("nMatches")
      val iTerm = ctx.freshName("im")
      val call =
        if (wide) {
          val liCls = classOf[graft.rangejoin.LongIntervalIndex].getName
          s"(($liCls) $idxTerm).queryInto($sL, $eL, $bufTerm)"
        } else s"$idxTerm.queryInto((int) $sL, (int) $eL, $bufTerm)"
      s"""
         |int $nTerm = $call;
         |for (int $iTerm = 0; $iTerm < $nTerm; $iTerm++) {
         |  ${leftRowAt(s"$bufTerm.get($iTerm)")}
         |  $matchTail
         |}
       """.stripMargin
    }
  }

  private def doProducePartitioned(ctx: CodegenContext): String = {
    // the two zipped per-partition iterators (see WholeStageCodegenExec)
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "intervalLeftInput", v => s"$v = inputs[0];", forceInline = true)
    val rightInput = ctx.addMutableState("scala.collection.Iterator",
      "intervalRightInput", v => s"$v = inputs[1];", forceInline = true)
    val runnerCls = classOf[IntervalJoinRunner].getName
    val runnerRef = ctx.addReferenceObj("intervalRunner", runner, runnerCls)
    val buildCls = classOf[IntervalBuildSide].getName
    val buildTerm = ctx.addMutableState(buildCls, "intervalBuild",
      forceInline = true)
    val ptrTerm = buildRowState(ctx)
    val bufTerm = ctx.addMutableState(
      classOf[graft.rangejoin.IntMatchBuffer].getName, "intervalMatchBuf",
      v => s"$v = new ${classOf[graft.rangejoin.IntMatchBuffer].getName}();",
      forceInline = true)

    val probeRow = ctx.freshName("probeRow")
    ctx.currentVars = null
    ctx.INPUT_ROW = probeRow
    val keyEv = GenerateUnsafeProjection.createCode(ctx,
      rightKeys.map(BindReferences.bindReference(_, right.output)))
    val sEv = BindReferences.bindReference(
      Cast(rightStart, LongType), right.output).genCode(ctx)
    val eEv = BindReferences.bindReference(
      Cast(rightEnd, LongType), right.output).genCode(ctx)
    // probe-side columns, read lazily at the consume point (inside the
    // match loop, where probeRow is still the current row)
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val leftRowTerm = ctx.freshName("intervalLeftRow")
    ctx.INPUT_ROW = leftRowTerm
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = null

    val buildTime = metricTerm(ctx, "buildTime")
    val buildRows = metricTerm(ctx, "buildRows")
    val buildKeys = metricTerm(ctx, "buildKeys")
    val numOutput = metricTerm(ctx, "numOutputRows")
    val probeRowsM = metricTerm(ctx, "probeRows")
    val idxTerm = ctx.freshName("intervalIdx")
    val t0 = ctx.freshName("buildT0")
    val sL = ctx.freshName("sLong")
    val eL = ctx.freshName("eLong")
    val idxCls =
      if (wide) classOf[graft.rangejoin.AnyIntervalIndex].getName
      else classOf[graft.rangejoin.IntervalIndex].getName
    val keyNullCheck =
      if (rightKeys.nonEmpty) s"&& !${keyEv.value}.anyNull()" else ""
    val matchTail = consumeMatch(ctx, leftVars, rightVars, numOutput)
    val matchLoop = genMatchLoop(ctx, idxTerm, buildTerm, ptrTerm, bufTerm,
      sL, eL, leftRowTerm, matchTail)
    val guard = if (wide) "" else intRangeGuard(sL, eL)

    s"""
       |if ($buildTerm == null) {
       |  long $t0 = System.nanoTime();
       |  $buildTerm = ($buildCls) $runnerRef.buildSide($leftInput);
       |  $buildTime.add((System.nanoTime() - $t0) / 1000000L);
       |  $buildRows.add($buildTerm.numRows());
       |  $buildKeys.add($buildTerm.keyed().size());
       |}
       |while ($rightInput.hasNext()) {
       |  InternalRow $probeRow = (InternalRow) $rightInput.next();
       |  $probeRowsM.add(1);
       |  ${keyEv.code}
       |  ${sEv.code}
       |  ${eEv.code}
       |  if (!${sEv.isNull} && !${eEv.isNull} $keyNullCheck) {
       |    $idxCls $idxTerm = ($idxCls) $buildTerm.keyed().get(${keyEv.value});
       |    if ($idxTerm != null) {
       |      long $sL = ${sEv.value};
       |      long $eL = ${eEv.value};
       |      $guard
       |      $matchLoop
       |    }
       |  }
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  /** This task's pointer row into the build side: a field of the
    * generated class, which every task instantiates for itself — never
    * of the broadcast value its task threads share. */
  private def buildRowState(ctx: CodegenContext): String = {
    val rowCls = classOf[UnsafeRow].getName
    ctx.addMutableState(rowCls, "intervalBuildRow",
      v => s"$v = new $rowCls(${left.output.size});", forceInline = true)
  }

  /** Int32 mode's checked narrowing of the probe bounds (reference
    * overflow pinning, interval_join.rs:1927-1968); absent in int64 mode. */
  private def intRangeGuard(sL: String, eL: String): String =
    s"""
       |if ($sL < Integer.MIN_VALUE || $sL > Integer.MAX_VALUE ||
       |    $eL < Integer.MIN_VALUE || $eL > Integer.MAX_VALUE) {
       |  throw new ArithmeticException(
       |    "[GRAFT_INTERVAL_JOIN] Can't cast value " +
       |    ($sL < Integer.MIN_VALUE || $sL > Integer.MAX_VALUE ? $sL : $eL) +
       |    " to type Int");
       |}
     """.stripMargin

  // one probe row fans out to many output rows — downstream buffering
  // operators must copy
  override def needCopyResult: Boolean = true

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val buildRef = ctx.addReferenceObj("intervalBuildBc", broadcastBuild,
      classOf[Broadcast[IntervalBuildSide]].getName)
    val buildTerm = ctx.addMutableState(
      classOf[IntervalBuildSide].getName, "intervalBuild",
      v => s"$v = (${classOf[IntervalBuildSide].getName}) $buildRef.value();",
      forceInline = true)
    val ptrTerm = buildRowState(ctx)
    val bufTerm = ctx.addMutableState(
      classOf[graft.rangejoin.IntMatchBuffer].getName, "intervalMatchBuf",
      v => s"$v = new ${classOf[graft.rangejoin.IntMatchBuffer].getName}();",
      forceInline = true)

    // probe-side expressions evaluated from the streamed input variables
    ctx.currentVars = input
    val keyEv = GenerateUnsafeProjection.createCode(ctx,
      rightKeys.map(BindReferences.bindReference(_, right.output)))
    val sEv = BindReferences.bindReference(
      Cast(rightStart, LongType), right.output).genCode(ctx)
    val eEv = BindReferences.bindReference(
      Cast(rightEnd, LongType), right.output).genCode(ctx)

    // build-row column variables, read lazily inside the match loop
    val leftRowTerm = ctx.freshName("intervalLeftRow")
    ctx.currentVars = null
    ctx.INPUT_ROW = leftRowTerm
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = null

    val numOutput = metricTerm(ctx, "numOutputRows")
    val probeRows = metricTerm(ctx, "probeRows")
    val idxTerm = ctx.freshName("intervalIdx")
    val sL = ctx.freshName("sLong")
    val eL = ctx.freshName("eLong")
    val idxCls =
      if (wide) classOf[graft.rangejoin.AnyIntervalIndex].getName
      else classOf[graft.rangejoin.IntervalIndex].getName
    val keyNullCheck =
      if (rightKeys.nonEmpty) s"&& !${keyEv.value}.anyNull()" else ""
    val matchTail = consumeMatch(ctx, leftVars, input, numOutput)
    val matchLoop = genMatchLoop(ctx, idxTerm, buildTerm, ptrTerm, bufTerm,
      sL, eL, leftRowTerm, matchTail)
    val guard = if (wide) "" else intRangeGuard(sL, eL)

    s"""
       |$probeRows.add(1);
       |${keyEv.code}
       |${sEv.code}
       |${eEv.code}
       |if (!${sEv.isNull} && !${eEv.isNull} $keyNullCheck) {
       |  $idxCls $idxTerm = ($idxCls) $buildTerm.keyed().get(${keyEv.value});
       |  if ($idxTerm != null) {
       |    long $sL = ${sEv.value};
       |    long $eL = ${eEv.value};
       |    $guard
       |    $matchLoop
       |  }
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}
