package graft

import graft.operators.{Aggregates, Reconcile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class ReconcileSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val li = Seq(
    (ts("2024-01-05 00:00:00"), 10.0, "A"),
    (ts("2024-01-20 00:00:00"), 20.0, "B"),
    (ts("2024-02-01 00:00:00"), 5.5, "A"),
    (null.asInstanceOf[Timestamp], 99.0, "A") // null date excluded by A1
  ).toDF("d", "amt", "st")

  test("monthlyAgg: per-month count + exact decimal sums, null dates excluded") {
    val m = Reconcile.monthlyAgg(li, "d", Seq("amt")).orderBy("month")
      .as[(String, Long, Double)].collect().toSeq
    assert(m == Seq(("2024-01", 2L, 30.0), ("2024-02", 1L, 5.5)))
  }

  test("alignDiff: full-outer with zero defaults") {
    val a = Seq(("2024-01", 5L), ("2024-02", 3L)).toDF("month", "n")
    val b = Seq(("2024-02", 1L), ("2024-03", 7L)).toDF("month", "n")
    val d = Reconcile.alignDiff(a, b, "month", "n").orderBy("month")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(d == Seq(("2024-01", 5L, 0L, 5L), ("2024-02", 3L, 1L, 2L), ("2024-03", 0L, 7L, -7L)))
  }

  test("orphanKeys both directions") {
    val a = Seq("k1", "k2", "k3").toDF("ka")
    val b = Seq("k2").toDF("kb")
    assert(Reconcile.orphanKeys(a, "ka", b, "kb").as[String].collect().toSet == Set("k1", "k3"))
    assert(Reconcile.orphanKeys(b, "kb", a, "ka").count() == 0)
  }

  test("orphanKeysBoth: one report, direction-tagged, both sides contribute") {
    val a = Seq(1L, 2L, 3L).toDF("ka")
    val b = Seq(2L, 9L).toDF("kb")
    val out = Reconcile.orphanKeysBoth(a, "ka", b, "kb")
      .as[(String, String)].collect().toSet
    assert(out == Set(("1", "only_in_a"), ("3", "only_in_a"), ("9", "only_in_b")))
  }

  test("topKByCount deterministic tiebreak") {
    val df = Seq("x", "x", "y", "y", "z").toDF("v")
    val top = Reconcile.topKByCount(df, col("v"), 2).as[(String, Long)].collect().toSeq
    assert(top == Seq(("x", 2L), ("y", 2L))) // tie x/y broken by key asc
  }

  test("monthStateCounts and pivot agree") {
    val long = Aggregates.monthStateCounts(li, "d", "st")
      .as[(String, String, Long)].collect().toSet
    assert(long == Set(("2024-01", "A", 1L), ("2024-01", "B", 1L), ("2024-02", "A", 1L)))
    val wide = Aggregates.monthStatePivot(li, "d", "st", Seq("A", "B")).orderBy("month")
      .as[(String, Long, Long)].collect().toSeq
    assert(wide == Seq(("2024-01", 1L, 1L), ("2024-02", 1L, 0L)))
  }

  test("globalSums exact decimal totals with derived debt") {
    val g = Aggregates.globalSums(li, "amt", "amt")
    val row = g.select(col("total_charged").cast("double"), col("total_debt").cast("double"),
      col("n_rows")).as[(Double, Double, Long)].head()
    assert(row == ((134.5, 0.0, 4L)))
  }

  test("dateProfile: min/max/distinct-days") {
    val p = Aggregates.dateProfile(li, "d")
      .select(col("first_day").cast("string"), col("last_day").cast("string"),
        col("n_days"), col("n_rows"))
      .as[(String, String, Long, Long)].head()
    assert(p == (("2024-01-05", "2024-02-01", 3L, 3L)))
  }

  test("lastKMonths keeps the k latest re-sorted ascending") {
    val m = Seq(("2024-01", 1L), ("2024-02", 2L), ("2024-03", 3L)).toDF("month", "n")
    assert(Aggregates.lastKMonths(m, "month", 2).as[(String, Long)].collect().toSeq
      == Seq(("2024-02", 2L), ("2024-03", 3L)))
  }

  test("unionDistinct / intersectKeys / valueCounts") {
    val a = Seq("x", "y").toDF("k")
    val b = Seq("y", "z").toDF("k")
    assert(Aggregates.unionDistinct(a, b, "k").as[String].collect().toSet == Set("x", "y", "z"))
    assert(Aggregates.intersectKeys(a, b, "k").as[String].collect().toSeq == Seq("y"))
    val vc = Aggregates.valueCounts(Seq("p", "p", "q").toDF("v"), col("v"))
      .as[(String, Long)].collect().toMap
    assert(vc == Map("p" -> 2L, "q" -> 1L))
  }

  test("rollingDailyAgg: trailing range window skips calendar gaps correctly") {
    val df = Seq(
      ("2024-01-01", 10.0), ("2024-01-02", 20.0),
      ("2024-01-05", 40.0) // 2-day gap: the 3-day window at Jan 5 sees only Jan 5
    ).toDF("d", "v").withColumn("d", to_date(col("d")))
    val out = Aggregates.rollingDailyAgg(df, "d", "v", days = 3)
      .select(col("day").cast("string"), col("day_total"),
        col("total_3d"), col("avg_3d"))
      .as[(String, Double, Double, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      ("2024-01-01", 10.0, 10.0, 10.0),
      ("2024-01-02", 20.0, 30.0, 15.0),  // Jan 1 within 3 days
      ("2024-01-05", 40.0, 40.0, 40.0)   // Jan 2 is 3 days back -> outside
    ), out.mkString(", "))
  }

  test("topKPerGroup keeps k per group and plans with WindowGroupLimit") {
    val df = Seq(("a", 1L, 30L), ("a", 2L, 20L), ("a", 3L, 10L),
      ("b", 4L, 5L)).toDF("g", "id", "score")
    val top = Aggregates.topKPerGroup(df, Seq("g"),
      Seq(col("score").desc, col("id").asc), k = 2)
    assert(top.select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // the scale claim: rank<=k is pushed below the shuffle as a map-side
    // per-group limit — a regression to a full-window sort loses the node
    assert(top.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      top.queryExecution.executedPlan.toString)
  }
  // ---- month keys grouped as date_trunc, formatted after the aggregate ----

  /** The per-row `date_format` forms the month operators must equal. */
  private object PerRowMonth {
    private def month(d: String) = date_format(col(d), "yyyy-MM").as("month")
    private def money(c: String) = sum(col(c).cast("decimal(18,4)")).cast("double")
    def monthlyAgg(df: DataFrame, d: String, amounts: Seq[String]): DataFrame = {
      val aggs = count(lit(1)).as("n_rows") +: amounts.map(c => money(c).as(s"sum_$c"))
      df.filter(col(d).isNotNull).groupBy(month(d)).agg(aggs.head, aggs.tail: _*)
    }
    def counts(df: DataFrame, d: String, st: String): DataFrame =
      df.filter(col(d).isNotNull).groupBy(month(d), col(st).as("state"))
        .agg(count(lit(1)).as("n"))
    def pivot(df: DataFrame, d: String, st: String, states: Seq[String]): DataFrame =
      df.filter(col(d).isNotNull).groupBy(month(d)).pivot(st, states)
        .agg(count(lit(1))).na.fill(0)
    def rollup(df: DataFrame, d: String, st: String, amt: String): DataFrame =
      df.filter(col(d).isNotNull).rollup(month(d), col(st).as("state"))
        .agg(count(lit(1)).as("n"), money(amt).as("sum_amt"))
  }

  private def assertSameFrame(got: DataFrame, want: DataFrame, what: String): Unit = {
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType, f.nullable))
    assert(fields(got) == fields(want),
      s"$what: ${got.schema.simpleString} vs ${want.schema.simpleString}")
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq.mkString("|")).sorted
    assert(rows(got) == rows(want), what)
  }

  /** One frame per input type of the date column `d`; the strings include
    * an offset that moves `2024-02-01 02:00+05:00` back into January (UTC). */
  private def monthInputs: Seq[(String, DataFrame)] = {
    val raw = Seq(
      ("2024-01-31 23:30:00", 1.10, "A"), ("2024-02-01 00:00:00", 2.2, "B"),
      ("2024-02-29 12:00:00", 0.0001, "A"), ("2023-12-31 23:59:59", 7.77777, "C"),
      ("2024-03-15 08:00:00", -4.5, "B"), (null, 9.0, "A"),
      ("2024-03-01 00:00:00", 3.3, null)).toDF("s", "amt", "st")
    val strings = raw.union(Seq[(String, Double, String)](
      ("2024-02-01 02:00:00+05:00", 5.25, "A"), ("2024-02-01", 0.5, "B"),
      ("2024-05-31T23:00:00-02:00", 1.0, "A")).toDF("s", "amt", "st"))
    Seq(
      "date" -> raw.select(to_date(col("s")).as("d"), col("amt"), col("st")),
      "timestamp" -> raw.select(to_timestamp(col("s")).as("d"), col("amt"), col("st")),
      "timestamp_ntz" -> raw.select(to_timestamp_ntz(col("s")).as("d"), col("amt"), col("st")),
      "string" -> strings.withColumnRenamed("s", "d"),
      "all NULL" -> raw.select(lit(null).cast("timestamp").as("d"), col("amt"), col("st")))
  }

  test("month operators equal their per-row date_format forms on every date type") {
    for ((kind, df) <- monthInputs) {
      assertSameFrame(Reconcile.monthlyAgg(df, "d", Seq("amt")),
        PerRowMonth.monthlyAgg(df, "d", Seq("amt")), s"monthlyAgg on $kind")
      assertSameFrame(Aggregates.monthStateCounts(df, "d", "st"),
        PerRowMonth.counts(df, "d", "st"), s"monthStateCounts on $kind")
      assertSameFrame(Aggregates.monthStatePivot(df, "d", "st", Seq("A", "B")),
        PerRowMonth.pivot(df, "d", "st", Seq("A", "B")), s"monthStatePivot on $kind")
      assertSameFrame(Aggregates.monthStateRollup(df, "d", "st", "amt"),
        PerRowMonth.rollup(df, "d", "st", "amt"), s"monthStateRollup on $kind")
    }
  }

  test("a string's zone offset can move its month: 2024-02-01 02:00+05:00 is January in UTC") {
    val df = Seq(("2024-02-01 02:00:00+05:00", 1.0)).toDF("d", "amt")
    assert(Reconcile.monthlyAgg(df, "d", Seq("amt")).select("month").as[String].collect()
      .toSeq == Seq("2024-01"))
  }

  test("monthStatePivot: unlisted states count nowhere; a month without listed states is all 0") {
    val df = Seq(("2024-01-03", "A"), ("2024-01-04", "Z"), ("2024-02-01", "Z"),
      ("2024-02-02", null), ("2024-03-01", "B"), ("2024-03-02", "A"))
      .toDF("d", "st").withColumn("d", to_date(col("d")))
    val wide = Aggregates.monthStatePivot(df, "d", "st", Seq("A", "B"))
    assert(wide.columns.toSeq == Seq("month", "A", "B"))
    assert(wide.orderBy("month").as[(String, Long, Long)].collect().toSeq ==
      Seq(("2024-01", 1L, 0L), ("2024-02", 0L, 0L), ("2024-03", 1L, 1L)))
    assertSameFrame(wide, PerRowMonth.pivot(df, "d", "st", Seq("A", "B")), "pivot")
    assertSameFrame(Aggregates.monthStatePivot(df, "d", "st", Nil),
      PerRowMonth.pivot(df, "d", "st", Nil), "pivot with no states")
  }

  test("orphanKeysBoth: duplicate and NULL keys on both sides") {
    val a = Seq(Some(1L), Some(1L), Some(2L), None, None, Some(3L), Some(3L)).toDF("ka")
    val b = Seq(Some(2L), Some(2L), None, Some(4L), Some(4L), Some(5L)).toDF("kb")
    val out = Reconcile.orphanKeysBoth(a, "ka", b, "kb").collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.sorted == Seq(("1", "only_in_a"), ("3", "only_in_a"),
      ("4", "only_in_b"), ("5", "only_in_b")))
  }

  test("plan audit: month keys, pivot and orphan anti-join stay primitive and single-pass") {
    val df = Seq(("2024-01-05", 10.0, "A"), ("2024-02-01", 5.5, "B"))
      .toDF("d", "amt", "st").withColumn("d", to_date(col("d")))
    // no per-row DateFormatClass below the final aggregate
    val monthly = Reconcile.monthlyAgg(df, "d", Seq("amt"))
    val partial = stripAqe(monthly).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.aggregateExpressions.forall(_.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    assert(partial.nonEmpty, stripAqe(monthly).toString)
    partial.foreach(p => p.foreach(n => n.expressions.foreach(e => assert(
      !e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DateFormatClass]),
      s"per-row date_format in ${p.treeString}"))))
    // the pivot is one aggregate: one exchange
    val pivot = Aggregates.monthStatePivot(df, "d", "st", Seq("A", "B"))
    val plan = stripAqe(pivot)
    assert(plan.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      .length == 1, plan.toString)
    // the anti-join's build side carries no aggregate
    val orphans = Reconcile.orphanKeys(df, "st", df.limit(1), "st")
    val join = stripAqe(orphans).collectFirst {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.getOrElse(fail(stripAqe(orphans).toString))
    assert(join.right.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.isEmpty, join.toString)
  }

  test("dateProfile equals its countDistinct form on every date type and on empty " +
    "input, with one exchange") {
    def distinctForm(df: DataFrame, d: String): DataFrame =
      df.filter(col(d).isNotNull).agg(
        min(to_date(col(d))).as("first_day"), max(to_date(col(d))).as("last_day"),
        countDistinct(to_date(col(d))).as("n_days"), count(lit(1)).as("n_rows"))
    for ((kind, df) <- monthInputs :+ ("empty" -> monthInputs.head._2.filter(lit(false))))
      assertSameFrame(Aggregates.dateProfile(df, "d"), distinctForm(df, "d"), s"dateProfile on $kind")
    val plan = stripAqe(Aggregates.dateProfile(li, "d"))
    assert(plan.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      .length == 1, plan.toString)
  }

  private def stripAqe(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }
}
