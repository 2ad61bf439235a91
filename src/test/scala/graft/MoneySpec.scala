package graft

import graft.functions.Money
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

class MoneySpec extends SparkSpec {
  import spark.implicits._

  private val TwoTo38 = 274877906944.0

  /** Would `rint(d·10⁴)` be taken, by the rule `Money.decimal4` states? */
  private def fast(d: Double): Boolean =
    math.abs(d) < TwoTo38 && math.rint(d * 1e4) / 1e4 == d

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  private val bits = Gen.choose(Long.MinValue, Long.MaxValue)
  private val doubles: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1000000000L, 1000000000L).map(_ / 100.0),           // cents
    3 -> Gen.choose(-1e6, 1e6),                                          // > 4 decimals
    3 -> Gen.choose(-100000000L, 100000000L).map(n => (n * 10 + 5) / 1e5), // x.xxxx5
    2 -> Gen.choose(-99999999999L, 99999999999L).map(_ / 1e4),           // 4 decimals
    2 -> Gen.oneOf(TwoTo38, -TwoTo38).flatMap(e => Gen.oneOf(
      e, math.nextUp(e), math.nextDown(e), e - 1e-4, e + 1e-4)),         // ±2³⁸ ± ulp
    1 -> Gen.oneOf(-0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, math.nextDown(java.lang.Double.MIN_NORMAL)),
    2 -> Gen.choose(1L, 1L << 52).map(m => java.lang.Double.longBitsToDouble(m)), // subnormals
    3 -> bits.map(java.lang.Double.longBitsToDouble))                    // any pattern

  /** Values whose cast neither overflows nor is NaN/Inf, so ANSI mode
    * casts them without an error. */
  private def castable(d: Double): Boolean = !d.isNaN && math.abs(d) < 1e13

  /** Rows of `Money.decimal4` and the plain cast that differ. */
  private def mismatches(df: DataFrame, c: String): Long =
    df.select(Money.decimal4(col(c)).as("m"), col(c).cast("decimal(18,4)").as("k"))
      .filter(!(col("m") <=> col("k"))).count()

  for (ansi <- Seq(false, true)) {
    test(s"property: Money.decimal4 equals cast(decimal(18,4)) on doubles and floats (ANSI $ansi)") {
      var fastSeen = 0
      val prop = Prop.forAll(Gen.listOfN(3000, doubles)) { ds0 =>
        val ds = if (ansi) ds0.filter(castable) else ds0
        fastSeen += ds.count(fast) + ds.count(d => fast(d.toFloat.toDouble))
        withAnsi(ansi) {
          val df = ds.map(d => (d, d.toFloat)).toDF("d", "f")
          val md = mismatches(df, "d")
          val mf = mismatches(df, "f")
          (md == 0 && mf == 0) :| s"$md double and $mf float mismatches"
        }
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(20251), prop)
      assert(res.passed, res.status.toString)
      assert(fastSeen > 5000, s"only $fastSeen values took the fast path")
    }
  }

  test("Money.decimal4 takes the rint path on doubles; Money.sum keeps the cast's name and type") {
    val df = spark.range(1, 3).select((col("id") * 1.25).as("d")) // 1.25, 2.5
    val out = df.select(Money.decimal4(col("d")))
    val plain = df.select(col("d").cast("decimal(18,4)"))
    assert(out.schema.map(f => (f.dataType, f.nullable)) == plain.schema.map(f => (f.dataType, f.nullable)))
    assert(out.queryExecution.optimizedPlan.toString.contains("MakeDecimal"),
      out.queryExecution.optimizedPlan.toString)
    val sums = df.agg(Money.sum(col("d")))
    assert(sums.schema == df.agg(sum(col("d").cast("decimal(18,4)"))).schema, sums.schema.treeString)
    assert(sums.head().getDecimal(0).toPlainString == "3.7500")
  }

  test("Money.decimal4: NaN, ±Inf are NULL with ANSI off, raise with ANSI on; 1e15 as cast") {
    val nonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val bad = nonFinite ++ Seq(1e15, -1e15)
    withAnsi(false) {
      val df = bad.map(d => (d, d.toFloat)).toDF("d", "f")
      assert(df.select(Money.decimal4(col("d")), Money.decimal4(col("f")))
        .collect().forall(r => r.isNullAt(0) && r.isNullAt(1)))
      assert(df.agg(Money.sum(col("d"))).head().isNullAt(0))
    }
    /** The rows, or the condition and message of the first Spark error in the chain. */
    def outcome(body: => Array[org.apache.spark.sql.Row]): Either[(String, String), Seq[String]] =
      try Right(body.toSeq.map(_.toString)) catch {
        case e: Exception => Left(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).collectFirst {
            case t: SparkThrowable if t.getCondition != null => (t.getCondition, t.getMessage)
          }.getOrElse((e.getClass.getName, e.getMessage)))
      }
    withAnsi(true) {
      for (d <- bad; c <- Seq("d", "f")) {
        val df = Seq((d, d.toFloat)).toDF("d", "f")
        val got = outcome(df.select(Money.decimal4(col(c))).collect())
        if (nonFinite.exists(_.equals(d))) {
          // the cast itself gives NULL here: Money raises instead
          assert(outcome(df.select(col(c).cast("decimal(18,4)")).collect()) == Right(Seq("[null]")))
          val Left((condition, message)) = got: @unchecked
          assert(condition == "USER_RAISED_EXCEPTION", s"$c = $d: $got")
          assert(message.contains(s"Money: non-finite amount $d has no DECIMAL(18,4) value"),
            s"$c = $d: $message")
          assert(outcome(df.agg(Money.sum(col(c))).collect()) == got, s"sum of $c = $d")
        } else {
          val want = outcome(df.select(col(c).cast("decimal(18,4)")).collect())
          assert(want.isLeft, s"$c = $d: the ANSI cast raised no error")
          assert(got.left.map(_._1) == want.left.map(_._1), s"$c = $d")
        }
      }
    }
  }

  test("Money.decimal4 is the plain cast on non-fractional inputs") {
    val df = Seq(("12.34567", 7L, BigDecimal("1.23456")), ("x", -3L, null))
      .toDF("s", "l", "b")
    withAnsi(false) {
      for (c <- Seq("s", "l", "b")) assert(mismatches(df, c) == 0, c)
    }
  }
}
