package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.{Calib, GraftSession}

/** The benchmark's JVM side: runs one workload as a closed loop (one
  * client, one query at a time) and writes the raw measurements as one
  * JSON file for `run.py` to reduce.
  *
  * Arguments: `--workload --seed --seconds --trace --data --digests --out`,
  * or `--record-digests <file> --data <dir>` to write the registry
  * queries' digests instead of checking them. */
object Main {
  val Cores = 4
  val Master = s"local[$Cores]"
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val clock = new Clock
    val jvmStart = clock.ofEpochMs(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val calibStart = timedCalib(clock)
    val spark = session(opts("tmp"))
    try opts.get("record-digests") match {
      case Some(out) => recordDigests(spark, opts("data"), out)
      case None => run(spark, opts, clock, jvmStart, calibStart)
    } finally spark.stop()
  }

  private def session(tmp: String): SparkSession = {
    val spark = SparkSession.builder().master(Master).appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.install(spark)
  }

  /** Health probe at one end of the run: one draw of each of Calib's
    * fixed-work probes (its min-of-N stamp costs about 6 s a call here).
    * Returns (seconds spent, stamp). */
  private def timedCalib(clock: Clock): (Double, Map[String, Any]) = {
    val t0 = clock.now
    val stamp = Map("single_s" -> Calib.single(), s"multi${Cores}_s" -> Calib.multi(Cores))
    (clock.now - t0, stamp)
  }

  private def run(spark: SparkSession, opts: Map[String, String], clock: Clock,
      jvmStart: Double, calibStart: (Double, Map[String, Any])): Unit = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val sessionReady = clock.now
    val digests = json.readValue(new java.io.File(opts("digests")),
      classOf[Map[String, String]])
    val workload = Workload(opts("workload"), opts("data"), digests)
    val prepared = workload.prepare(spark, seed, clock)
    val spans = new Spans(clock)
    val runner = new Runner(spark, spans)
    val order = new Random(seed)

    // three untimed warm passes: JIT, codegen caches and lazily built
    // state. After two, passes still ran up to a fifth faster one after
    // another.
    // They run in the workload's own order: the JIT's profile, and with it
    // the steady-state speed, then does not depend on the seed.
    val warm0 = clock.now
    val warmErrors = (1 to 3).flatMap(_ => prepared.queries
      .flatMap(q => runner.run(q, pass = -1, parent = -1).map(q.name -> _)))
    val timedStart = clock.now

    val planRecords = ArrayBuffer.empty[Map[String, Any]]
    // A fixed number of passes, sized from --seconds: every run of a
    // workload then has the same samples, so percentiles pick the same rank.
    // With tracing, passes alternate untraced, traced, untraced, ... and end
    // on an untraced one, so each traced pass has untraced neighbours to
    // measure the tracing overhead against.
    val sized = math.max(2, math.round(seconds / workload.nominalPassSeconds).toInt)
    val passCount = if (traced) math.max(3, sized | 1) else sized
    def tracedPass(p: Int) = traced && p % 2 == 1
    for (pass <- 0 until passCount) {
      val planListener = if (tracedPass(pass)) Some(new PlanListener(clock)) else None
      val jobListener = if (tracedPass(pass))
        Some(new JobListener(spans, runner.phaseSpan)) else None
      planListener.foreach(spark.listenerManager.register)
      jobListener.foreach(spark.sparkContext.addSparkListener)
      // a full collection before every pass, outside its span: no pass
      // inherits the previous one's garbage, and the collections it does
      // run are its own
      System.gc()
      val id = spans.nextId()
      val queries = order.shuffle(prepared.queries)
      spans.timed(id, -1, "pass", s"pass $pass",
          Map("pass" -> pass, "traced" -> tracedPass(pass))) {
        queries.foreach(q => runner.run(q, pass, id))
      }
      if (tracedPass(pass)) {
        ListenerBusDrain(spark.sparkContext)
        jobListener.foreach(spark.sparkContext.removeSparkListener)
        planListener.foreach { l =>
          spark.listenerManager.unregister(l)
          planRecords ++= l.records
        }
      }
    }

    val rangejoin = if (traced) indexOnly(seed) else Map.empty[String, Any]
    val calibEnd = timedCalib(clock)
    val out = Map(
      "workload" -> workload.name, "seed" -> seed, "trace" -> traced,
      "health" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> Master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "calib_start" -> calibStart._2, "calib_end" -> calibEnd._2),
      "setup" -> (prepared.setup ++ Map(
        "jvm_start_s" -> jvmStart,
        "calib_s" -> calibStart._1,
        "session_s" -> (sessionReady - calibStart._1),
        "warm_s" -> (timedStart - warm0),
        // JVM start to the first timed query, without the health probe
        "setup_s" -> (timedStart - jvmStart - calibStart._1))),
      "warm_errors" -> warmErrors.toMap,
      "facts" -> prepared.facts,
      "peak_rss_mb" -> peakRssMb,
      "rangejoin" -> rangejoin,
      "cores" -> Cores,
      "spans" -> spans.all.map(_.toJson),
      "plans" -> planRecords.toSeq)
    json.writeValue(new java.io.File(opts("out")), out)
  }

  /** Median of three single-thread index runs on the overlap workload's
    * arrays for this seed. */
  private def indexOnly(seed: Long): Map[String, Any] = {
    val (a, b) = IntervalOverlap.tables(seed)
    val (pairs, _) = IntervalOverlap.sweep(a, b)
    val reps = Seq.fill(3)(IntervalOverlap.indexOnly(a, b))
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    Map("build_s" -> median(reps.map(_._1)), "count_s" -> median(reps.map(_._2)),
      "pairs" -> reps.head._3, "expected_pairs" -> pairs)
  }

  /** VmHWM of this JVM: in local mode it is the whole engine. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def recordDigests(spark: SparkSession, dataDir: String,
      out: String): Unit = {
    val entries = graft.SparkEntry.queries
    val digests = TrainingPipeline.Queries
      .map(q => q -> Digest.of(entries(q)(spark, dataDir).collect()))
      .toMap
    json.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(out), scala.collection.immutable.TreeMap(
        digests.toSeq: _*))
  }
}

/** Runs one query as spans: query -> construct, plan, execute. Jobs the
  * scheduler runs meanwhile carry the query's job group and phase, so a
  * traced pass can hang job and stage spans under the phase. */
final class Runner(spark: SparkSession, spans: Spans) {
  private val sc = spark.sparkContext
  private val phases = new java.util.concurrent.ConcurrentHashMap[(String, String), Int]()
  private var seq = 0

  def phaseSpan(group: String, phase: String): Option[Int] =
    Option(phases.get((group, phase)))

  /** Returns the error, if the query threw or its result was wrong. */
  def run(q: Query, pass: Int, parent: Int): Option[String] = {
    seq += 1
    val group = s"perfbench-$seq"
    val queryId = spans.nextId()
    sc.setJobGroup(group, q.name, interruptOnCancel = false)
    def phase[T](name: String)(body: => T): T = {
      val id = spans.nextId()
      phases.put((group, name), id)
      sc.setLocalProperty(Tracer.PhaseProperty, name)
      spans.timed(id, queryId, "phase", name)(body)
    }
    val t0 = spans.clock.now
    val result = try {
      val df = phase("construct")(q.build())
      phase("plan")(df.queryExecution.executedPlan)
      Right(phase("execute")(df.collect()))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.PhaseProperty, null)
    }
    val t1 = spans.clock.now
    // the result check is the benchmark's work, not the engine's: it runs
    // after the query span's end
    val error = result.fold(Some(_), q.check)
    spans.add(Span(queryId, parent, "query", q.name, t0, t1,
      Map("seq" -> seq, "pass" -> pass, "error" -> error.orNull)))
    error
  }
}
