package graft

import graft.functions.{ExactSum, Int128ToDecimal, NonFiniteTermException}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftColumns

/** ExactSum against the form it replaces, Spark's
  * `SUM(CAST(x AS DECIMAL(18,s)))` widened to DECIMAL(38,s), on the same
  * input: equal values per group, the same nulls, the same error class. */
class ExactSumSpec extends SparkSpec {

  // own conf: one test turns code generation off
  override lazy val spark: org.apache.spark.sql.SparkSession = SparkSpec.isolated()
  import spark.implicits._

  private def reference(x: String, s: Int) =
    sum(col(x).cast(s"decimal(18,$s)")).cast(s"decimal(38,$s)")

  /** (g, ref, got) per group, ordered by g. */
  private def both(df: DataFrame, s: Int): Seq[(Long, java.math.BigDecimal, java.math.BigDecimal)] =
    df.groupBy("g").agg(reference("x", s).as("ref"), ExactSum(col("x"), s).as("got"))
      .orderBy("g").as[(Long, java.math.BigDecimal, java.math.BigDecimal)].collect().toSeq

  private def assertSame(df: DataFrame, s: Int): Unit =
    both(df, s).foreach { case (g, ref, got) =>
      assert(ref == got, s"group $g at scale $s: sum $ref, ExactSum $got")
    }

  /** The deepest error condition of a failed action, or the rows. */
  private def outcome(df: DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq)
    catch {
      case e: Throwable =>
        val conds = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case t: SparkThrowable if t.getCondition != null => t.getCondition }.toSeq
        Left(conds.lastOption.getOrElse(e.getClass.getName))
    }

  private def randomDoubles(seed: Long, n: Int): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      rnd.nextInt(4) match {
        case 0 => (rnd.nextDouble() - 0.5) * 2e6              // many digits
        case 1 => (rnd.nextLong() % 10000000L) / 1000.0       // three places: ties at scale 2
        case 2 => (rnd.nextLong() % 1000000000L) / 1e7        // seven places
        case _ => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12) - 4)
      }
    }
  }

  test("seeded random doubles at scales 2, 4 and 6 match sum(cast) per group") {
    val xs = randomDoubles(7L, 20000)
    val df = xs.zipWithIndex.map { case (x, i) => (i % 13L, x) }.toDF("g", "x").repartition(4)
    Seq(2, 4, 6).foreach(s => assertSame(df, s))
  }

  test("the interpreted path matches too (code generation off)") {
    val xs = randomDoubles(11L, 3000)
    val df = xs.zipWithIndex.map { case (x, i) => (i % 5L, x) }.toDF("g", "x").repartition(3)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try Seq(2, 4, 6).foreach(s => assertSame(df, s))
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("exact ties, -0.0 and values at |y| ~ 2^40 round as the cast does, row by row") {
    val p40 = math.pow(2, 40)
    val edge = Seq(p40, p40 - 1, p40 + 1, p40 - 0.5, p40 + 0.5, p40 - 0.75).flatMap(y => Seq(y, -y))
    val values = Seq(1.005, -1.005, 0.125, -0.125, 2.675, -2.675, 0.005, -0.005, 1.115, 0.0, -0.0,
      1.0049999999999999, 1.0050000000000001) ++ edge.map(_ / 100) ++ edge.map(_ / 1e4)
    val df = values.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("g", "x")
    Seq(2, 3, 4).foreach(s => assertSame(df, s))
  }

  test("the DECIMAL(18,s) limit: the largest fitting term sums, the next one fails alike") {
    // 9999999999999998 is the largest double below 1e16 (the spacing is 2 there)
    val fits = Seq(9999999999999998.0, -9999999999999998.0, 9.99999999999999e15)
      .map(x => (0L, x)).toDF("g", "x")
    assertSame(fits, 2)
    val over = Seq((0L, 1e16)).toDF("g", "x")
    val ref = outcome(over.groupBy("g").agg(reference("x", 2)))
    val got = outcome(over.groupBy("g").agg(ExactSum(col("x"), 2)))
    assert(ref.isLeft && ref == got, s"sum: $ref, ExactSum: $got")
  }

  test("NaN and ±Inf terms raise NonFiniteTermException instead of being skipped") {
    def raised(df: DataFrame): Boolean =
      try { df.collect(); false }
      catch {
        case e: Throwable =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[NonFiniteTermException])
      }
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { v =>
      val df = Seq((0L, 1.25), (0L, v), (1L, v)).toDF("g", "x")
      // the form ExactSum replaces: the ANSI cast makes the term null, so
      // {1.25, NaN} silently sums to 1.25
      val ref = outcome(df.groupBy("g").agg(reference("x", 2)).orderBy("g"))
      assert(ref.map(_.map(r => Option(r.getDecimal(1)).map(_.toPlainString))) ==
        Right(Seq(Some("1.25"), None)))
      Seq(col("x"), col("x").cast("float")).foreach { term =>
        assert(raised(df.groupBy("g").agg(ExactSum(term, 2))), s"$v as ${term}: no error")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        try assert(raised(df.groupBy("g").agg(ExactSum(term, 2))), s"$v as $term, interpreted: no error")
        finally {
          spark.conf.unset("spark.sql.codegen.wholeStage")
          spark.conf.unset("spark.sql.codegen.factoryMode")
        }
      }
    }
  }

  test("nulls are skipped; an empty or all-null group is null") {
    val df = Seq((0L, Some(1.5)), (0L, None), (0L, Some(2.25)), (1L, None), (1L, None))
      .toDF("g", "x")
    val rows = both(df, 2)
    assert(rows.map(r => (r._1, Option(r._3))) ==
      Seq(0L -> Some(new java.math.BigDecimal("3.75")), 1L -> None))
    assertSame(df, 2)
    val empty = df.filter(lit(false))
    assert(empty.agg(ExactSum(col("x"), 2)).head().isNullAt(0))
    assert(empty.agg(reference("x", 2)).head().isNullAt(0))
  }

  test("an unscaled sum past Long.MaxValue is exact (checked against a BigDecimal sum)") {
    val rnd = new scala.util.Random(3L)
    // large terms of both signs: the partials carry into the high word and back
    val xs = Seq.fill(3000)((rnd.nextLong() % 9000000000000000L) / 1.0) ++ Seq.fill(600)(9.0e15)
    val df = xs.zipWithIndex.map { case (x, i) => (i % 3L, x) }.toDF("g", "x").repartition(4)
    val want = xs.zipWithIndex.groupBy(_._2 % 3L).map { case (g, ps) =>
      g -> ps.map(p => new java.math.BigDecimal(java.lang.Double.toString(p._1))
        .setScale(2, java.math.RoundingMode.HALF_UP)).reduce(_ add _)
    }
    val got = both(df, 2)
    assert(got.exists(_._3.unscaledValue.bitLength > 63), "no group passed Long.MaxValue")
    got.foreach { case (g, ref, sum) =>
      assert(sum == want(g), s"group $g: ExactSum $sum, BigDecimal ${want(g)}")
      assert(sum == ref)
    }
  }

  test("a 128-bit total outside DECIMAL(38) throws ARITHMETIC_OVERFLOW; inside it converts") {
    val max38 = java.math.BigInteger.TEN.pow(38)
    def parts(v: java.math.BigInteger): (Long, Long) = (v.shiftRight(64).longValue, v.longValue)
    def toDec(v: java.math.BigInteger): DataFrame = {
      val (hi, lo) = parts(v)
      Seq((hi, lo)).toDF("hi", "lo").select(GraftColumns.column(Int128ToDecimal(
        GraftColumns.expression(col("hi")), GraftColumns.expression(col("lo")), 2)))
    }
    val inside = Seq(max38.subtract(java.math.BigInteger.ONE), max38.negate.add(java.math.BigInteger.ONE),
      java.math.BigInteger.valueOf(Long.MinValue), java.math.BigInteger.valueOf(Long.MaxValue).add(java.math.BigInteger.ONE))
    inside.foreach { v =>
      val got = toDec(v).head().getDecimal(0)
      assert(got == new java.math.BigDecimal(v, 2))
    }
    Seq(max38, max38.negate).foreach { v =>
      assert(outcome(toDec(v)) == Left("ARITHMETIC_OVERFLOW"))
    }
  }

  test("plans as a codegen'd hash aggregate with a fixed-width buffer") {
    val q = Seq((0L, 1.5), (1L, 2.5)).toDF("g", "x").groupBy("g").agg(ExactSum(col("x"), 2))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"), plan)
  }
}
