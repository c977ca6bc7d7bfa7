package graft.plans

import graft.rangejoin.IntervalOrder

import org.apache.spark.GraftCoreShim
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateUnsafeProjection, JavaCode}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, LongType}

import scala.collection.mutable

/**
 * Per-key bound arrays for O(log n) overlap counting.
 *
 * `starts` is sorted ascending with `endsByStart` co-permuted (the original
 * (start, end) pairs in start order); `sortedEnds` is the ends sorted
 * independently. The fast path uses `starts` + `sortedEnds`; `endsByStart`
 * exists so an INVERTED probe interval (s > e) — for which the
 * two-binary-search identity does not hold — can be counted exactly with a
 * bounded scan. Inverted BUILD intervals (start > end) break the identity
 * for every probe, so they are kept out of the arrays entirely and checked
 * linearly from `invStarts`/`invEnds` (normally empty).
 */
private[graft] class CountBuildEntry(
    val starts: Array[Long],
    val endsByStart: Array[Long],
    val sortedEnds: Array[Long],
    val invStarts: Array[Long],
    val invEnds: Array[Long]) extends Serializable {

  /** #(arr(i) <= v) (strict=false) or #(arr(i) < v) (strict=true) on a
    * sorted array. */
  private def countBelow(arr: Array[Long], v: Long, strict: Boolean): Int = {
    var lo = 0
    var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (if (strict) arr(mid) < v else arr(mid) <= v) lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** Exact overlap count of probe [s, e] against this key's build set,
    * valid for inverted intervals on either side (predicate semantics:
    * `start <= e && end >= s`, exactly what the join path evaluates).
    * A plain method so BOTH the interpreted runner and whole-stage
    * generated Java call the same kernel (monomorphic, JIT-inlined). */
  def count(s: Long, e: Long): Long = {
    var cnt = 0L
    if (s <= e) {
      // well-formed probe over well-formed builds: {end < s} ⊆ {start <= e},
      // so the two-search identity holds
      cnt += countBelow(starts, e, strict = false) -
        countBelow(sortedEnds, s, strict = true)
    } else {
      // inverted probe: identity fails (end < s no longer implies
      // start <= e); scan the start-bounded prefix of the pairs instead
      val k = countBelow(starts, e, strict = false)
      var i = 0
      while (i < k) { if (endsByStart(i) >= s) cnt += 1; i += 1 }
    }
    // inverted build intervals were excluded from the arrays — evaluate
    // the raw predicate on each (normally an empty loop)
    var j = 0
    while (j < invStarts.length) {
      if (invStarts(j) <= e && invEnds(j) >= s) cnt += 1
      j += 1
    }
    cnt
  }
}

private[graft] class CountBuildSide(
    val keyed: java.util.HashMap[UnsafeRow, CountBuildEntry])
  extends Serializable

/**
 * Serializable build/probe kernel for overlap counting — holds only
 * expressions and schemas (never the SparkPlan), so it is safe to capture
 * in RDD closures and broadcast (same pattern as [[IntervalJoinRunner]]).
 */
private[graft] class IntervalCountRunner(
    leftOutput: Seq[Attribute],
    rightOutput: Seq[Attribute],
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    groupAttrs: Seq[Attribute],
    maxBuildBytes: Long,
    pairCount: SQLMetric,
    buildMemUsed: SQLMetric) extends Serializable {

  /** Compiled (start, end) extractor — generated projection, no
    * interpreted Expression.eval and no boxing in the per-row loops. */
  // bounds extraction shares plans.BoundsEval with the join runner

  def buildSide(rows: Iterator[InternalRow]): CountBuildSide = {
    val keyProj = UnsafeProjection.create(leftKeys, leftOutput)
    val bounds = new BoundsEval(leftStart, leftEnd, leftOutput)
    val hasKeys = leftKeys.nonEmpty
    final class Acc {
      // primitive vectors (shared LongVec): boxed ArrayBuffers would make
      // the real build footprint 2-3x the accountant's estimate
      val starts = new LongVec
      val ends = new LongVec
      val invStarts = new LongVec
      val invEnds = new LongVec
    }
    val groups = new java.util.HashMap[UnsafeRow, Acc]
    // the count build stores only interval ints (~3 sorted arrays), no rows
    val mem = new BuildMemoryAccountant(maxBuildBytes)
    rows.foreach { row =>
      if (bounds.eval(row) && !(hasKeys && keyProj(row).anyNull)) {
        val key = keyProj(row)
        var acc = groups.get(key)
        if (acc == null) { acc = new Acc; groups.put(key.copy(), acc) }
        // Long bounds verbatim: the count path is coordinate-width-
        // agnostic (it stores only 3 sorted bound arrays, never rows), so
        // 64-bit domains count correctly where the reference's Int32
        // narrowing would fail — and the experimental CountOverlaps it
        // completes (interval_join.rs:750 todo!()) pins no overflow
        // behavior to preserve.
        val si = bounds.s; val ei = bounds.e
        if (si <= ei) { acc.starts += si; acc.ends += ei }
        else { acc.invStarts += si; acc.invEnds += ei }
        mem.add(BuildMemoryAccountant.LongIntervalOverhead)
      }
    }
    val keyed = new java.util.HashMap[UnsafeRow, CountBuildEntry](
      math.max(16, groups.size() * 2))
    groups.forEach { (k, acc) =>
      // sort (start, end) pairs by start, keep ends co-permuted
      val st0 = acc.starts.toArray; val en0 = acc.ends.toArray
      val idx = IntervalOrder.byStart(st0)
      val st = IntervalOrder.permute(st0, idx)
      val enByStart = IntervalOrder.permute(en0, idx)
      val en = en0.clone(); java.util.Arrays.sort(en)
      keyed.put(k, new CountBuildEntry(st, enByStart, en,
        acc.invStarts.toArray, acc.invEnds.toArray))
    }
    buildMemUsed += mem.used
    new CountBuildSide(keyed)
  }

  /** Grouping attributes evaluated FROM THE PROBE ROW: a right-side attr
    * binds directly; a left-side attr must be an equi-key, whose value
    * equals the corresponding right key on every counted pair. */
  private[graft] def groupExprsOnProbe: Seq[Expression] = {
    val rightSet = AttributeSet(rightOutput)
    groupAttrs.map { ga =>
      if (rightSet.contains(ga)) ga
      else {
        val j = leftKeys.indexWhere(_.semanticEquals(ga))
        require(j >= 0, s"group attr $ga is not an equi-key")
        rightKeys(j)
      }
    }
  }

  def probeAndEmit(build: CountBuildSide,
      iter: Iterator[InternalRow]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(rightKeys, rightOutput)
    val bounds = new BoundsEval(rightStart, rightEnd, rightOutput)
    val hasKeys = rightKeys.nonEmpty
    if (groupAttrs.isEmpty) {
      // created in this branch only — the grouped branch compiles its
      // own projection inside emitGrouped
      val outProj = UnsafeProjection.create(Array[DataType](LongType))
      var total = 0L
      iter.foreach { rrow =>
        if (bounds.eval(rrow)) {
          val key = keyProj(rrow)
          val entry = if (hasKeys && key.anyNull) null else build.keyed.get(key)
          if (entry != null) {
            total += entry.count(bounds.s, bounds.e)
          }
        }
      }
      pairCount += total
      Iterator.single(outProj(InternalRow(total)).copy())
    } else {
      val groupProj = UnsafeProjection.create(groupExprsOnProbe, rightOutput)
      val acc = new java.util.HashMap[UnsafeRow, Array[Long]]
      iter.foreach { rrow =>
        if (bounds.eval(rrow)) {
          val key = keyProj(rrow)
          val entry = if (hasKeys && key.anyNull) null else build.keyed.get(key)
          if (entry != null) {
            val cnt = entry.count(bounds.s, bounds.e)
            // zero-count probes emit nothing — matches inner-join groups
            if (cnt > 0) {
              val g = groupProj(rrow)
              var slot = acc.get(g)
              if (slot == null) { slot = new Array[Long](1); acc.put(g.copy(), slot) }
              slot(0) += cnt
            }
          }
        }
      }
      emitGrouped(acc)
    }
  }

  /** Turn an accumulated (group key -> partial count) map into output
    * rows. Shared by the interpreted grouped probe and the generated
    * grouped drain loop (which fills the same map shape in Java). */
  def emitGrouped(
      acc: java.util.HashMap[UnsafeRow, Array[Long]]): Iterator[InternalRow] = {
    val outProj = UnsafeProjection.create(
      (groupAttrs.map(_.dataType) :+ LongType).toArray[DataType])
    val joined = new JoinedRow
    val it = new java.util.ArrayList[InternalRow](acc.size())
    acc.forEach { (g, c) =>
      pairCount += c(0)
      it.add(outProj(joined(g, InternalRow(c(0)))).copy())
    }
    import scala.jdk.CollectionConverters._
    it.iterator().asScala
  }
}

/**
 * Overlap-count operator: emits per-partition (group keys..., partial
 * count) rows — no pair enumeration. Per probe row `[s, e]` against its
 * key's build set: `count = #(start <= e) − #(end < s)` over
 * separately-sorted start/end arrays — two binary searches, O(log n)
 * regardless of match count.
 *
 * This is the completed form of the reference's experimental CountOverlaps
 * algorithm (reference: interval_join.rs:750 todo!(), SURVEY §2 #12),
 * planned from [[IntervalCountRewrite]]'s logical rewrite. On the flagship
 * benchmark shape it replaces materializing ~10⁸ joined rows with ~10⁵
 * binary searches (~50× over the pair-materializing join at sf0.1).
 */
case class IntervalCountExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    mode: IntervalJoinMode,
    groupAttrs: Seq[Attribute],
    countAttr: Attribute) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = groupAttrs :+ countAttr

  override def producedAttributes: AttributeSet = AttributeSet(countAttr)

  override lazy val metrics = Map(
    "pairCount" -> SQLMetrics.createMetric(sparkContext, "overlap pairs counted"),
    "buildKeys" -> SQLMetrics.createMetric(sparkContext, "build keys"),
    "buildMemUsed" -> SQLMetrics.createSizeMetric(sparkContext, "build memory used"))

  override def requiredChildDistribution: Seq[Distribution] = mode match {
    case BroadcastMode => Seq(UnspecifiedDistribution, UnspecifiedDistribution)
    case PartitionedMode =>
      Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))
  }

  /** Same EXPLAIN shape as [[IntervalJoinExec.simpleString]] (reference
    * format, integration_test.rs:108-112), plus the grouping columns. */
  override def simpleString(maxFields: Int): String = {
    val modeStr = mode match {
      case BroadcastMode => "CollectLeft"
      case PartitionedMode => "Partitioned"
    }
    val on = leftKeys.zip(rightKeys)
      .map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"IntervalCountExec: mode=$modeStr, join_type=Inner, on=[$on], " +
      s"filter=$leftStart <= $rightEnd AND $leftEnd >= $rightStart, " +
      s"groups=[${groupAttrs.mkString(", ")}]"
  }

  private def runner = new IntervalCountRunner(
    left.output, right.output, leftKeys, rightKeys,
    leftStart, leftEnd, rightStart, rightEnd, groupAttrs,
    conf.getConfString(graft.GraftSession.MaxBuildBytes, "0").toLong,
    longMetric("pairCount"), longMetric("buildMemUsed"))

  /** Build once, shared by the interpreted and codegen broadcast paths. */
  @transient private lazy val broadcastBuild: Broadcast[CountBuildSide] = {
    val built = runner.buildSide(GraftCoreShim.collectIterator(left))
    longMetric("buildKeys") += built.keyed.size()
    sparkContext.broadcast(built)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val run = runner
    mode match {
      case BroadcastMode =>
        val bc = broadcastBuild
        right.execute().mapPartitions(iter => run.probeAndEmit(bc.value, iter),
          preservesPartitioning = true)
      case PartitionedMode =>
        val buildKeys = longMetric("buildKeys")
        left.execute().zipPartitions(right.execute()) { (liter, riter) =>
          val built = run.buildSide(liter)
          buildKeys += built.keyed.size()
          run.probeAndEmit(built, riter)
        }
    }
  }

  // ---- whole-stage codegen (global AND grouped) -------------------------
  //
  // Both count shapes are blocking operators generated in the
  // HashAggregateExec style: drain the probe input (bounds/keys evaluated
  // straight off the row or the fused child's variables, two binary
  // searches per row via the shared CountBuildEntry.count kernel), then
  // emit. The GLOBAL form accumulates one local long and consume()s once;
  // the GROUPED form accumulates (group key -> long[1]) into a hashmap in
  // the generated loop and emits partial rows through the serializable
  // runner (shouldStop-aware re-entry, like doProduceWithKeys).

  override def supportCodegen: Boolean = true

  override def inputRDDs(): Seq[RDD[InternalRow]] = mode match {
    // broadcast: the probe child pipeline FUSES into this stage (scan /
    // filter / project feed our doConsume directly)
    case BroadcastMode => right.asInstanceOf[CodegenSupport].inputRDDs()
    case PartitionedMode => left.execute() :: right.execute() :: Nil
  }

  override def needCopyResult: Boolean = false

  /** Blocking operator: the fused child loop must run to completion
    * before any output row exists, so children skip shouldStop checks
    * (same as HashAggregateExec / SortExec). */
  override def needStopCheck: Boolean = false

  // field names shared between doProduce (declares + emits) and
  // doConsume (accumulates) — doConsume runs while doProduce evaluates
  // the fused child's produce, so plain vars on this node carry them
  // (the HashAggregateExec bufVars pattern)
  @transient private var totalTerm: String = _
  @transient private var buildTerm: String = _
  @transient private var groupMapTerm: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val buildCls = classOf[CountBuildSide].getName
    val doneTerm = ctx.addMutableState("boolean", "countDone",
      forceInline = true)
    totalTerm = ctx.addMutableState("long", "countTotal", forceInline = true)
    val total = totalTerm
    val pairCount = metricTerm(ctx, "pairCount")
    buildTerm = ctx.addMutableState(buildCls, "countBuild",
      forceInline = true)
    val grouped = groupAttrs.nonEmpty
    groupMapTerm =
      if (grouped) ctx.addMutableState("java.util.HashMap", "countGroups",
        v => s"$v = new java.util.HashMap();", forceInline = true)
      else null
    // the runner carries the executor-side helpers (partitioned build,
    // grouped emission); referenced from generated code in both modes
    val runnerRef = ctx.addReferenceObj("countRunner", runner,
      classOf[IntervalCountRunner].getName)

    val (buildInit, drain) = mode match {
      case BroadcastMode =>
        val bcRef = ctx.addReferenceObj("countBuildBc", broadcastBuild,
          classOf[Broadcast[CountBuildSide]].getName)
        val init =
          s"$buildTerm = ($buildCls) ((${classOf[Broadcast[_]].getName}) $bcRef).value();"
        // fused child pipeline: every probe row arrives via doConsume
        (init, right.asInstanceOf[CodegenSupport].produce(ctx, this))
      case PartitionedMode =>
        val leftInput = ctx.addMutableState("scala.collection.Iterator",
          "countLeftInput", v => s"$v = inputs[0];", forceInline = true)
        val rightInput = ctx.addMutableState("scala.collection.Iterator",
          "countRightInput", v => s"$v = inputs[1];", forceInline = true)
        val buildKeys = metricTerm(ctx, "buildKeys")
        val init =
          s"""
             |$buildTerm = ($buildCls) $runnerRef.buildSide($leftInput);
             |$buildKeys.add($buildTerm.keyed().size());
           """.stripMargin
        val probeRow = ctx.freshName("probeRow")
        ctx.currentVars = null
        ctx.INPUT_ROW = probeRow
        val body = countOneRow(ctx, buildTerm, total)
        ctx.INPUT_ROW = null
        (init,
          s"""
             |while ($rightInput.hasNext()) {
             |  InternalRow $probeRow = (InternalRow) $rightInput.next();
             |  $body
             |}
           """.stripMargin)
    }

    if (!grouped) {
      val resultVar = ExprCode.forNonNullValue(
        JavaCode.variable(total, LongType))
      ctx.currentVars = Seq(resultVar)
      val consumed = consume(ctx, Seq(resultVar))
      ctx.currentVars = null
      s"""
         |if (!$doneTerm) {
         |  $doneTerm = true;
         |  $buildInit
         |  $total = 0L;
         |  $drain
         |  $pairCount.add($total);
         |  $consumed
         |}
       """.stripMargin
    } else {
      // grouped: emission is re-entrant (the parent may pause between
      // rows), so the output iterator lives in a field and the emit loop
      // runs outside the one-shot build/drain block
      val outIter = ctx.addMutableState("scala.collection.Iterator",
        "countOutIter", forceInline = true)
      val outRow = ctx.freshName("countOutRow")
      ctx.INPUT_ROW = outRow
      ctx.currentVars = null
      val consumed = consume(ctx, null, outRow)
      ctx.INPUT_ROW = null
      s"""
         |if (!$doneTerm) {
         |  $doneTerm = true;
         |  $buildInit
         |  $drain
         |  $outIter = $runnerRef.emitGrouped($groupMapTerm);
         |}
         |while ($outIter.hasNext()) {
         |  InternalRow $outRow = (InternalRow) $outIter.next();
         |  $consumed
         |  if (shouldStop()) return;
         |}
       """.stripMargin
    }
  }

  /** Per-probe-row accumulation: key + bound eval off the current input
    * (row or fused variables), hashmap lookup, two binary searches via
    * the shared CountBuildEntry.count kernel; the count lands in the
    * local total (global) or the group's map slot (grouped). */
  private def countOneRow(ctx: CodegenContext, buildTerm: String,
      total: String): String = {
    val entryCls = classOf[CountBuildEntry].getName
    val keyEv = GenerateUnsafeProjection.createCode(ctx,
      rightKeys.map(BindReferences.bindReference(_, right.output)))
    val sEv = BindReferences.bindReference(
      Cast(rightStart, LongType), right.output).genCode(ctx)
    val eEv = BindReferences.bindReference(
      Cast(rightEnd, LongType), right.output).genCode(ctx)
    val keyNullCheck =
      if (rightKeys.nonEmpty) s"&& !${keyEv.value}.anyNull()" else ""
    val entryTerm = ctx.freshName("countEntry")
    val cntTerm = ctx.freshName("cnt")
    val sink = if (groupAttrs.isEmpty) s"$total += $cntTerm;" else {
      // group key off the SAME probe-row context as the join key; only
      // cnt > 0 probes create a slot (inner-join group semantics, same
      // as the interpreted path)
      val groupEv = GenerateUnsafeProjection.createCode(ctx,
        runner.groupExprsOnProbe
          .map(BindReferences.bindReference(_, right.output)))
      // (the pairCount metric is added during emitGrouped, not here)
      val slotTerm = ctx.freshName("slot")
      s"""
         |if ($cntTerm > 0) {
         |  ${groupEv.code}
         |  long[] $slotTerm = (long[]) $groupMapTerm.get(${groupEv.value});
         |  if ($slotTerm == null) {
         |    $slotTerm = new long[1];
         |    $groupMapTerm.put(${groupEv.value}.copy(), $slotTerm);
         |  }
         |  $slotTerm[0] += $cntTerm;
         |}
       """.stripMargin
    }
    s"""
       |${keyEv.code}
       |${sEv.code}
       |${eEv.code}
       |if (!${sEv.isNull} && !${eEv.isNull} $keyNullCheck) {
       |  $entryCls $entryTerm =
       |    ($entryCls) $buildTerm.keyed().get(${keyEv.value});
       |  if ($entryTerm != null) {
       |    long $cntTerm = $entryTerm.count(${sEv.value}, ${eEv.value});
       |    $sink
       |  }
       |}
     """.stripMargin
  }

  /** Broadcast mode: called by the fused probe child per row (during
    * this node's own doProduce evaluation, so the shared field names are
    * set). */
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    ctx.currentVars = input
    val body = countOneRow(ctx, buildTerm, totalTerm)
    ctx.currentVars = null
    body
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalCountExec =
    copy(left = newLeft, right = newRight)
}
