package graft

import graft.operators.{AsofJoin, NearestJoin}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.forAll

/** One generated table row: equi-key, bounds (either may be NULL, end may
  * precede start), and payload columns of variable width. */
final case class GenRow(k: String, s: Option[Int], e: Option[Int],
    name: String, bin: Array[Byte], score: Option[Double]) {
  override def toString: String =
    s"($k,$s,$e,$name,${Option(bin).map(_.mkString("[", ",", "]"))},$score)"
}

final case class GenCase(build: Seq[GenRow], probe: Seq[GenRow])

/**
 * Property checks of the interval join on generated inputs: every join
 * type, in both distribution modes and at both coordinate widths, must
 * return exactly the rows stock Spark returns with the extension off; and
 * the nearest / as-of picks must equal a brute-force pick on
 * duplicate-heavy inputs. The build side's rows are read back from its
 * byte pages, so the payload columns cover what a page must round-trip:
 * variable-width strings (multi-byte UTF-8 too), binary, NULLs.
 * Generated code must compile (`spark.sql.codegen.fallback=false`).
 */
class IntervalJoinPropertySpec extends SparkTestBase {

  import spark.implicits._

  // int64 runs shift every bound past Int32, so only the wide index fits
  private val Shift = 1L << 33

  private val genPayload: Gen[(String, Array[Byte], Option[Double])] = for {
    name <- Gen.frequency(
      1 -> Gen.const(null: String),
      1 -> Gen.oneOf("", "é", "日本語", "x" * 40),
      4 -> Gen.choose(0, 24).flatMap(Gen.stringOfN(_, Gen.alphaNumChar)))
    bin <- Gen.frequency(
      1 -> Gen.const(null: Array[Byte]),
      3 -> Gen.choose(0, 20).flatMap(Gen.containerOfN[Array, Byte](_,
        Gen.choose(Byte.MinValue, Byte.MaxValue))))
    score <- Gen.option(Gen.choose(-5.0, 5.0))
  } yield (name, bin, score)

  /** `inverted`: lengths may be negative (end < start). */
  private def genRow(inverted: Boolean, nullBounds: Boolean): Gen[GenRow] =
    for {
      k <- Gen.frequency(1 -> Gen.const(null: String),
        8 -> Gen.oneOf("c0", "c1", "c2"))
      s <- Gen.choose(0, 60)
      len <- Gen.choose(if (inverted) -6 else 0, 18)
      sNull <- Gen.choose(0, 9).map(_ == 0 && nullBounds)
      eNull <- Gen.choose(0, 9).map(_ == 0 && nullBounds)
      pl <- genPayload
    } yield GenRow(k, if (sNull) None else Some(s),
      if (eNull) None else Some(s + len), pl._1, pl._2, pl._3)

  /** Rows plus exact copies of some of them. */
  private def genTable(row: Gen[GenRow], maxRows: Int): Gen[Seq[GenRow]] =
    for {
      base <- Gen.choose(0, maxRows).flatMap(Gen.listOfN(_, row))
      dups <- if (base.isEmpty) Gen.const(Nil)
              else Gen.choose(0, maxRows / 3).flatMap(
                Gen.listOfN(_, Gen.choose(0, base.length - 1)))
    } yield base ++ dups.map(base)

  private val genJoinCase: Gen[GenCase] = for {
    b <- genTable(genRow(inverted = true, nullBounds = true), 40)
    p <- genTable(genRow(inverted = true, nullBounds = true), 40)
  } yield GenCase(b, p)

  private def check(p: Prop, cases: Int): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(cases).withWorkers(1).withInitialSeed(20261018L)
    val res = Test.check(params, p)
    res.status match {
      case Test.Passed | Test.Proved(_) =>
      case Test.PropException(args, e, _) =>
        fail(s"${e.getMessage}\nfalsified by ${args.map(_.arg).mkString(", ")}", e)
      case other => fail(s"property failed: $other")
    }
  }

  /** Build (a*) and probe (b*) tables; int64 widens and shifts bounds.
    * RDD-backed, in two partitions: a local relation would let the
    * optimizer fold an empty or all-NULL side away, join included. */
  private def tables(c: GenCase, wide: Boolean): (DataFrame, DataFrame) = {
    def df(rows: Seq[GenRow], p: String) = {
      val raw = spark.sparkContext.parallelize(
        rows.map(r => (r.k, r.s, r.e, r.name, r.bin, r.score)), 2)
        .toDF("k", "s", "e", "name", "bin", "score")
      def bound(c: String): Column =
        if (wide) col(c).cast("long") + lit(Shift) else col(c)
      raw.select(col("k").as(s"${p}k"), bound("s").as(s"${p}lo"),
        bound("e").as(s"${p}hi"), col("name").as(s"${p}name"),
        col("bin").as(s"${p}bin"), col("score").as(s"${p}score"))
    }
    (df(c.build, "a"), df(c.probe, "b"))
  }

  private def overlap(a: DataFrame, b: DataFrame, residual: Boolean): Column = {
    val cond = a("ak") === b("bk") && a("alo") <= b("bhi") && a("ahi") >= b("blo")
    // a residual that reads a variable-width build column
    if (residual) cond && coalesce(length(a("aname")), lit(0)) <=
      coalesce(length(b("bname")), lit(0)) + 8
    else cond
  }

  /** Rows as comparable values (binary compared by content). */
  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).groupBy(identity).view.mapValues(_.length).toMap

  private def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val joinTypes = Seq("inner", "right_outer", "left_outer",
    "left_semi", "left_anti", "mark", "full_outer")

  private def query(jt: String, a: DataFrame, b: DataFrame,
      residual: Boolean): DataFrame = jt match {
    case "mark" =>
      // EXISTS under a disjunction plans as an existence (mark) join
      a.createOrReplaceTempView("prop_a")
      b.createOrReplaceTempView("prop_b")
      val extra =
        if (residual) " AND coalesce(length(aname), 0) <= " +
          "coalesce(length(bname), 0) + 8" else ""
      spark.sql("SELECT * FROM prop_b WHERE bname = 'é' OR EXISTS (" +
        "SELECT 1 FROM prop_a WHERE ak = bk AND alo <= bhi AND ahi >= blo" +
        extra + ")")
    case _ => a.join(b, overlap(a, b, residual), jt)
  }

  test("every join type, both modes and widths ≡ stock Spark (forAll)") {
    // static plans: adaptive execution would drop a join whose side
    // turns out empty at run time; two shuffle partitions suffice for
    // tables this small and keep the spec's Tier-1 time down
    withConfs("spark.sql.codegen.fallback" -> "false",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "2") {
      check(forAll(genJoinCase) { c =>
        for (wide <- Seq(false, true)) {
          val (a, b) = tables(c, wide)
          for ((jt, i) <- joinTypes.zipWithIndex) {
            // each join type runs with a residual at one of the widths
            val residual = (i + (if (wide) 1 else 0)) % 2 == 1
            val expected = withConfs(GraftSession.PreferIntervalJoin -> "false") {
              multiset(query(jt, a, b, residual))
            }
            for (mode <- Seq("broadcast", "partitioned")) {
              withConfs(GraftSession.IntervalJoinForceMode -> mode) {
                val df = query(jt, a, b, residual)
                val got = multiset(df)
                val plan = df.queryExecution.executedPlan.toString
                val ctx = s"join=$jt mode=$mode wide=$wide residual=$residual"
                assert(plan.contains("IntervalJoinExec"), s"$ctx\n$plan")
                if (wide) assert(plan.contains("coord=int64"), s"$ctx\n$plan")
                if (jt == "mark") assert(plan.contains("join_type=Mark"), plan)
                if (jt == "inner")
                  assert("""\*\(\d+\) IntervalJoinExec""".r
                    .findFirstIn(plan).nonEmpty, s"$ctx: not codegen'd\n$plan")
                assert(got == expected, ctx)
              }
            }
          }
        }
        true
      }, cases = 3)
    }
  }

  // ---- nearest / as-of against a brute-force pick ------------------------

  /** Build rows that can match key `k`; as-of reads no end. */
  private def candidates(build: Seq[GenRow], k: String,
      needEnd: Boolean = true): Seq[GenRow] =
    if (k == null) Nil
    else build.filter(r => r.k == k && r.s.nonEmpty && (r.e.nonEmpty || !needEnd))

  /** Bounds of the nearest build interval: an overlapping one with the
    * smallest (start, end), else the smallest (gap, start, end). */
  private def nearestPick(build: Seq[GenRow], p: GenRow): Option[(Int, Int)] =
    if (p.s.isEmpty || p.e.isEmpty) None
    else {
      val (s, e) = (p.s.get, p.e.get)
      val cs = candidates(build, p.k).map(r => (r.s.get, r.e.get))
      val over = cs.filter { case (bs, be) => bs <= e && be >= s }
      if (over.nonEmpty) Some(over.min)
      else if (cs.isEmpty) None
      else Some(cs.minBy { case (bs, be) =>
        (if (be < s) s - be else bs - e, bs, be) })
    }

  /** Time of the as-of pick (build times are their interval starts). */
  private def asofPick(build: Seq[GenRow], p: GenRow, forward: Boolean,
      strict: Boolean): Option[Int] =
    p.s.flatMap { t =>
      val ts = candidates(build, p.k, needEnd = false).map(_.s.get).filter { bt =>
        if (forward) (if (strict) bt > t else bt >= t)
        else (if (strict) bt < t else bt <= t)
      }
      if (ts.isEmpty) None else Some(if (forward) ts.min else ts.max)
    }

  /** Duplicate-heavy: starts from a handful of values, many exact copies;
    * proper intervals only (a nearest gap needs end >= start). */
  private val genPickCase: Gen[GenCase] = {
    val row = for {
      r <- genRow(inverted = false, nullBounds = true)
      s <- Gen.oneOf(3, 10, 10, 17, 30)
      len <- Gen.oneOf(0, 2, 5)
    } yield if (r.s.isEmpty || r.e.isEmpty) r else r.copy(s = Some(s), e = Some(s + len))
    for {
      b <- genTable(row, 16)
      p <- genTable(genRow(inverted = false, nullBounds = true), 12)
    } yield GenCase(b, p)
  }

  test("nearest and as-of picks ≡ brute force on duplicate-heavy inputs (forAll)") {
    withConfs("spark.sql.codegen.fallback" -> "false") {
      check(forAll(genPickCase) { c =>
        val shift = Map(false -> 0L, true -> Shift)
        for (wide <- Seq(false, true); mode <- Seq("broadcast", "partitioned")) {
          val (a, b) = tables(c, wide)
          val ctx0 = s"mode=$mode wide=$wide"
          withConfs(GraftSession.IntervalJoinForceMode -> mode) {
            // (probe row, picked build row) per output row, bounds unshifted
            def picks(df: DataFrame, time: Boolean) = {
              val plan = df.queryExecution.executedPlan.toString
              assert(plan.contains("IntervalJoinExec"), s"$ctx0\n$plan")
              df.collect().toSeq.map { r =>
                def int(i: Int): Option[Int] =
                  if (r.isNullAt(i)) None
                  else {
                    val v = r.getAs[Any](i) match {
                      case v: Int => v.toLong
                      case v: Long => v
                    }
                    Some((v - shift(wide)).toInt)
                  }
                def row(o: Int) = GenRow(r.getString(o), int(o + 1),
                  if (time) None else int(o + 2), r.getString(o + 3),
                  r.getAs[Array[Byte]](o + 4),
                  if (r.isNullAt(o + 5)) None else Some(r.getDouble(o + 5)))
                (row(6), if (r.isNullAt(1)) None else Some(row(0)))
              }
            }
            def same(x: GenRow, y: GenRow) = x.toString == y.toString
            // every probe row exactly once, its pick's bounds = brute
            // force's, and the picked row one of the build's rows
            def verify(got: Seq[(GenRow, Option[GenRow])], probe: Seq[GenRow],
                key: GenRow => Option[Any], expect: GenRow => Option[Any],
                build: Seq[GenRow], what: String): Unit = {
              assert(got.map(_._1.toString).sorted ==
                probe.map(_.toString).sorted, s"$what $ctx0: probe rows")
              got.foreach { case (p, pick) =>
                assert(pick.flatMap(key) == expect(p), s"$what $ctx0 probe=$p")
                pick.foreach(r => assert(build.exists(same(_, r)),
                  s"$what $ctx0: $r is not a build row"))
              }
            }
            val cond = a("ak") === b("bk") && a("alo") <= b("bhi") &&
              a("ahi") >= b("blo")
            val nearest = NearestJoin(a, b, cond).select(
              "ak", "alo", "ahi", "aname", "abin", "ascore",
              "bk", "blo", "bhi", "bname", "bbin", "bscore")
            verify(picks(nearest, time = false), c.probe,
              r => Some((r.s.get, r.e.get)), nearestPick(c.build, _),
              c.build, "nearest")

            // as-of: times are the start columns
            val at = a.select(col("ak"), col("alo"), col("aname"),
              col("abin"), col("ascore"))
            val bt = b.select(col("bk"), col("blo"), col("bname"),
              col("bbin"), col("bscore"))
            for (forward <- Seq(false, true); strict <- Seq(false, true)) {
              val time = (forward, strict) match {
                case (false, false) => at("alo") <= bt("blo")
                case (false, true) => at("alo") < bt("blo")
                case (true, false) => at("alo") >= bt("blo")
                case (true, true) => at("alo") > bt("blo")
              }
              // padded to the nearest layout: (k, t, NULL, payload) per side
              val asof = AsofJoin(at, bt, at("ak") === bt("bk") && time)
                .select(col("ak"), col("alo"), lit(null).as("ahi"),
                  col("aname"), col("abin"), col("ascore"), col("bk"),
                  col("blo"), lit(null).as("bhi"), col("bname"), col("bbin"),
                  col("bscore"))
              val times = (rs: Seq[GenRow]) => rs.map(_.copy(e = None))
              verify(picks(asof, time = true), times(c.probe), r => r.s,
                asofPick(c.build, _, forward, strict), times(c.build),
                s"asof forward=$forward strict=$strict")
            }
          }
        }
        true
      }, cases = 4)
    }
  }
}
