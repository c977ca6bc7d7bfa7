package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.{SparkEntry, Tables}
import graft.rangejoin.IntervalIndex

/** One timed query: `build` returns the DataFrame (operators may run eager
  * jobs while building it), `check` returns an error for a wrong result. */
final case class Query(name: String, build: () => DataFrame,
    check: Array[Row] => Option[String])

/** A workload's inputs, registered in the session, and its queries. */
final case class Prepared(queries: Seq[Query], setup: Map[String, Double],
    facts: Map[String, Any])

sealed trait Workload {
  def name: String
  /** Seconds one pass takes on four cores; the run sizes its fixed number
    * of timed passes from it. */
  def nominalPassSeconds: Double
  def prepare(spark: SparkSession, seed: Long, clock: Clock): Prepared
}

object Workload {
  def apply(name: String, dataDir: String, digests: Map[String, String])
      : Workload = name match {
    case IntervalOverlap.name => IntervalOverlap
    case TrainingPipeline.name => new TrainingPipeline(dataDir, digests)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Intervals of one generated table, column by column. */
final class Intervals(val contig: Array[Int], val start: Array[Int],
    val end: Array[Int]) {
  def size: Int = contig.length

  /** (starts, ends) of the rows on each contig. */
  def byContig: Array[(Array[Int], Array[Int])] =
    Array.tabulate(IntervalOverlap.Contigs) { c =>
      val rows = (0 until size).filter(contig(_) == c).toArray
      (rows.map(start), rows.map(end))
    }
}

/** The paper's headline query on generated tables with the row counts of
  * the reference's chainRn4 x chainVicPac2 pair. Pairs (about 3e7) far
  * outnumber rows, so nearly all time is index probe and pair emission;
  * lengths are capped at 1e7 so one pass of the three queries takes a
  * few seconds and a run holds several passes. */
object IntervalOverlap extends Workload {
  val name = "interval_overlap"
  val nominalPassSeconds = 2.9
  val Contigs = 24
  val RowsA = 200000
  val RowsB = 300000
  val Extent = 100000000
  val MaxLength = 1e7
  /** Partitions of each cached table, four per core: a probe stage's
    * tasks are then small, and a core that the host slows for a moment
    * leaves its remaining tasks to the others instead of holding the
    * whole stage back. */
  val Partitions = 16
  /** Moves coordinates past Int32 so the join indexes them as int64. */
  val Shift = 5000000000L

  def generate(rng: SplittableRandom, n: Int): Intervals = {
    val contig = new Array[Int](n)
    val start = new Array[Int](n)
    val end = new Array[Int](n)
    val logMax = math.log(MaxLength)
    var i = 0
    while (i < n) {
      contig(i) = rng.nextInt(Contigs)
      start(i) = rng.nextInt(Extent)
      val length = math.exp(rng.nextDouble() * logMax).toLong
      end(i) = math.min(start(i) + length, Extent - 1L).toInt
      i += 1
    }
    new Intervals(contig, start, end)
  }

  /** Both tables from one seed: the same seed gives the same inputs. */
  def tables(seed: Long): (Intervals, Intervals) = {
    val rng = new SplittableRandom(seed)
    (generate(rng.split(), RowsA), generate(rng.split(), RowsB))
  }

  /** Oracle without graft code: per contig, the b overlapping a closed
    * [s, e] are #{b.start <= e} - #{b.end < s}, and the sum of their starts
    * follows from prefix sums over b sorted by start and by end.
    * Returns (pairs, sum of b.start - a.start over all pairs). */
  def sweep(a: Intervals, b: Intervals): (Long, Long) = {
    var pairs = 0L
    var sum = 0L
    a.byContig.zip(b.byContig).foreach { case ((as, ae), (bs, be)) =>
      val n = bs.length
      val byStart = bs.clone()
      java.util.Arrays.sort(byStart)
      // (end, start) packed so one primitive sort orders starts by end
      val byEnd = Array.tabulate(n)(i => (be(i).toLong << 32) | bs(i))
      java.util.Arrays.sort(byEnd)
      val prefixByStart = new Array[Long](n + 1)
      val prefixByEnd = new Array[Long](n + 1)
      val endsSorted = new Array[Int](n)
      var i = 0
      while (i < n) {
        prefixByStart(i + 1) = prefixByStart(i) + byStart(i)
        prefixByEnd(i + 1) = prefixByEnd(i) + (byEnd(i) & 0xffffffffL)
        endsSorted(i) = (byEnd(i) >>> 32).toInt
        i += 1
      }
      i = 0
      while (i < as.length) {
        val started = upperBound(byStart, ae(i))
        val ended = lowerBound(endsSorted, as(i))
        val k = started - ended
        pairs += k
        sum += prefixByStart(started) - prefixByEnd(ended) - k.toLong * as(i)
        i += 1
      }
    }
    (pairs, sum)
  }

  /** Number of elements < v in sorted `xs`. */
  private def lowerBound(xs: Array[Int], v: Int): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Number of elements <= v in sorted `xs`. */
  private def upperBound(xs: Array[Int], v: Int): Int =
    if (v == Int.MaxValue) xs.length else lowerBound(xs, v + 1)

  /** `graft.rangejoin.IntervalIndex` on its own, one thread, no Spark:
    * builds the default index over b per contig and counts each a's
    * overlaps. Returns (build seconds, count seconds, pairs). */
  def indexOnly(a: Intervals, b: Intervals): (Double, Double, Long) = {
    var buildNs = 0L
    var countNs = 0L
    var pairs = 0L
    a.byContig.zip(b.byContig).foreach { case ((as, ae), (bs, be)) =>
      val t0 = System.nanoTime()
      val index = IntervalIndex.build("default", bs, be, Array.range(0, bs.length))
      val t1 = System.nanoTime()
      var i = 0
      while (i < as.length) {
        pairs += index.count(as(i), ae(i))
        i += 1
      }
      buildNs += t1 - t0
      countNs += System.nanoTime() - t1
    }
    (buildNs / 1e9, countNs / 1e9, pairs)
  }

  private val schema = StructType(Seq("contig", "pos_start", "pos_end")
    .map(StructField(_, IntegerType, nullable = false)))

  private def frame(spark: SparkSession, t: Intervals): DataFrame = {
    val (c, s, e) = (t.contig, t.start, t.end)
    val rows = spark.sparkContext.range(0, t.size, 1, Partitions)
      .map { i => val j = i.toInt; Row(c(j), s(j), e(j)) }
    spark.createDataFrame(rows, schema)
  }

  private def overlapSql(agg: String, a: String, b: String): String =
    s"""SELECT $agg AS v FROM $a a JOIN $b b ON a.contig = b.contig
       | AND a.pos_start <= b.pos_end AND b.pos_start <= a.pos_end""".stripMargin

  def prepare(spark: SparkSession, seed: Long, clock: Clock): Prepared = {
    val t0 = clock.now
    val (a, b) = tables(seed)
    def shifted(df: DataFrame) = df.select(col("contig"),
      (col("pos_start").cast("long") + Shift).as("pos_start"),
      (col("pos_end").cast("long") + Shift).as("pos_end"))
    val fa = frame(spark, a).cache()
    val fb = frame(spark, b).cache()
    fa.count()
    fb.count()
    Seq("a" -> fa, "b" -> fb, "a64" -> shifted(fa), "b64" -> shifted(fb))
      .foreach { case (view, df) => df.createOrReplaceTempView(view) }
    val t1 = clock.now
    val (pairs, sum) = sweep(a, b)
    val t2 = clock.now
    def expect(v: Long)(rows: Array[Row]): Option[String] = {
      val got = rows.headOption.map(_.get(0))
      if (rows.length == 1 && got.contains(v)) None
      else Some(s"expected $v, got ${rows.map(_.mkString(",")).mkString(";")}")
    }
    val queries = Seq(
      Query("overlap_count", () => spark.sql(overlapSql("count(*)", "a", "b")),
        expect(pairs)),
      Query("overlap_sum", () =>
        spark.sql(overlapSql("sum(b.pos_start - a.pos_start)", "a", "b")),
        expect(sum)),
      Query("overlap_sum_int64", () =>
        spark.sql(overlapSql("sum(b.pos_start - a.pos_start)", "a64", "b64")),
        expect(sum)))
    Prepared(queries, Map("inputs_s" -> (t1 - t0), "oracle_s" -> (t2 - t1)),
      Map("pairs_per_query" -> pairs))
  }
}

/** Dedup, connected components and containment: registry queries
  * (`SparkEntry.queries`) on the committed sf0.1 tables. Time goes to
  * `graft.operators` and `graft.functions`: many jobs per query, eager gate
  * jobs, checkpoints and shuffles; the interval index does no work. Each
  * result is checked against the digest committed with the benchmark. */
final class TrainingPipeline(dataDir: String, digests: Map[String, String])
    extends Workload {
  val name = TrainingPipeline.name
  val nominalPassSeconds = 4.1

  def prepare(spark: SparkSession, seed: Long, clock: Clock): Prepared = {
    val t0 = clock.now
    Tables.registerAll(spark, dataDir)
    val entries = SparkEntry.queries
    val queries = TrainingPipeline.Queries.map { q =>
      val fn = entries(q)
      Query(q, () => fn(spark, dataDir), rows => {
        val got = Digest.of(rows)
        digests.get(q) match {
          case Some(want) if want == got => None
          case Some(want) => Some(s"digest $got, expected $want")
          case None => Some(s"no expected digest for $q (got $got)")
        }
      })
    }
    Prepared(queries, Map("inputs_s" -> (clock.now - t0), "oracle_s" -> 0.0),
      Map.empty)
  }
}

object TrainingPipeline {
  val name = "training_pipeline"
  val Queries: Seq[String] = Seq("q21_dedup_minhash", "q56_dedup_groups",
    "q122_containment")
}

/** Order-independent digest of a collected result: rows rendered with
  * columns in name order and floating-point values rounded to 6 places
  * (the oracle comparison's normalisation), sorted and hashed, plus the
  * row count. The benchmark's queries return at most tens of thousands of
  * rows, so they are collected as they are, with no wrapper that could
  * change their plans. */
object Digest {
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(line).sorted.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString +
      s":${rows.length}"
  }

  private def line(r: Row): String =
    r.schema.fieldNames.map(_.toLowerCase).zipWithIndex.sortBy(_._1)
      .map { case (_, i) => value(r.get(i)) }.mkString("\u0001")

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros
      .toPlainString
}
