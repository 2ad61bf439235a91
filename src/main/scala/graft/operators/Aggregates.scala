package graft.operators

import graft.functions.Money
import graft.operators.Reconcile.{formatMonth, monthStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reconciliation-report aggregates the reference computes per run
  * (compare_noviembre_2025.py:107-190, compare_historico_mensual.py:76-133):
  * nested month×state counts, global sums with derived debt, min/max dates,
  * distinct-day counts, and the tail-limit month window.
  *
  * All are single hash-aggregates (partial map-side + final) or
  * agg-then-small-sort shapes — at 100 TB each is one shuffle whose width is
  * the group-key cardinality (months × states = tiny), never the data.
  *
  * Per row they do primitive work only, as in [[Reconcile]]: months group
  * on `date_trunc('MONTH', d)` and are formatted `yyyy-MM` once per group,
  * and money goes through [[graft.functions.Money]], which equals
  * `cast(decimal(18,4))` value for value (its scaladoc says why).
  */
object Aggregates {

  /** A2: nested two-level group — per month per state, count
    * (compare_historico_mensual.py:76-77, compare_noviembre_2025.py:107-118).
    */
  def monthStateCounts(df: DataFrame, dateCol: String, stateCol: String): DataFrame =
    formatMonth(df.filter(col(dateCol).isNotNull)
      .groupBy(monthStart(col(dateCol)).as("month"), col(stateCol).as("state"))
      .agg(count(lit(1)).as("n")))

  /** A2 (report shape): months × states pivoted wide, one row per month,
    * one count column per listed state (named after it, 0 when the month
    * has none). `states` must be the closed domain (the reference
    * hard-codes its ESTLIQUIDA values); rows in other states count in no
    * column. One aggregate with a `count_if` per state: Spark's `pivot`
    * would plan a (month, state) aggregate and a second, pivoting one.
    */
  def monthStatePivot(df: DataFrame, dateCol: String, stateCol: String,
                      states: Seq[String]): DataFrame = {
    val counts = states.map(v =>
      count_if(col(stateCol) <=> lit(v)).as(Option(v).getOrElse("null")))
    val byMonth = df.filter(col(dateCol).isNotNull)
      .groupBy(monthStart(col(dateCol)).as("month"))
    formatMonth(if (counts.isEmpty) byMonth.agg(Map.empty[String, String])
      else byMonth.agg(counts.head, counts.tail: _*))
  }

  /** A1+A2+A8 in ONE pass: `ROLLUP(month, state)` emits the per-
    * (month, state) cells, the per-month subtotals (state NULL) and the
    * grand total (both NULL) from a single shuffle. The reference computes
    * these as three separate dict scans
    * (compare_historico_mensual.py:76-127); at 100 TB this collapses three
    * corpus passes into one partial-aggregated exchange whose width is the
    * rollup-cell count.
    */
  def monthStateRollup(df: DataFrame, dateCol: String, stateCol: String,
                       amountCol: String): DataFrame =
    formatMonth(df.filter(col(dateCol).isNotNull)
      .rollup(monthStart(col(dateCol)).as("month"), col(stateCol).as("state"))
      .agg(count(lit(1)).as("n"), Money.sum(col(amountCol)).cast("double").as("sum_amt")))

  /** A4: global money sums + derived debt = charged - paid
    * (compare_noviembre_2025.py:168-190). DECIMAL end-to-end: exact,
    * partition-order-independent, oracle-reproducible.
    */
  def globalSums(df: DataFrame, chargedCol: String, paidCol: String): DataFrame =
    // keep Spark's widened sum type (decimal(28,4)) — narrowing back to
    // (18,4) would overflow/throw once totals pass 10^14 at scale
    df.agg(
        Money.sum(col(chargedCol)).as("total_charged"),
        Money.sum(col(paidCol)).as("total_paid"),
        count(lit(1)).as("n_rows"))
      .withColumn("total_debt", col("total_charged") - col("total_paid"))

  /** A5 + A6 + A8: date-range profile — min/max date, distinct active days,
    * row count (compare_noviembre_2025.py:138-162). The distinct days are
    * the size of the day set, which holds at most one entry per calendar
    * day: one aggregation level, where `countDistinct` would plan a second
    * one (and a second shuffle) under the min/max/count.
    */
  def dateProfile(df: DataFrame, dateCol: String): DataFrame =
    df.filter(col(dateCol).isNotNull).agg(
      min(to_date(col(dateCol))).as("first_day"),
      max(to_date(col(dateCol))).as("last_day"),
      size(collect_set(to_date(col(dateCol)))).cast("long").as("n_days"),
      count(lit(1)).as("n_rows"))

  /** O4: last-k months of a monthly aggregate, re-sorted ascending
    * (`all_months[-12:]`, compare_historico_mensual.py:109-110). The
    * descending-limit runs on the already-aggregated (tiny) frame.
    */
  def lastKMonths(monthly: DataFrame, monthCol: String, k: Int): DataFrame =
    monthly.orderBy(col(monthCol).desc).limit(k).orderBy(col(monthCol).asc)

  /** E2: distinct union of a derived key from both sides
    * (compare_historico_mensual.py:103).
    */
  def unionDistinct(a: DataFrame, b: DataFrame, colName: String): DataFrame =
    a.select(col(colName)).union(b.select(col(colName))).distinct()

  /** E3: key intersection (the SKIP/UPDATE key set of the merge,
    * sync_INCREMENTAL.py:422-433).
    */
  def intersectKeys(a: DataFrame, b: DataFrame, colName: String): DataFrame =
    a.select(col(colName)).intersect(b.select(col(colName)))

  /** A3: value counts (Counter(...) shape, compare_noviembre_2025.py:107-118). */
  def valueCounts(df: DataFrame, c: Column): DataFrame =
    df.groupBy(c.as("value")).agg(count(lit(1)).as("n"))

  /** Rolling daily aggregate: per-day totals of `valueCol` plus a trailing
    * `days`-day moving sum and average (RANGE frame on the day number, so
    * calendar gaps count as zero-contribution days — the semantics a
    * monitoring/trend report wants). Two stages with very different scales:
    * the per-day hash aggregate is the corpus-wide shuffle (group count =
    * distinct days), while the moving window runs over day-cardinality rows
    * — bounded by the calendar span, metadata-scale at any corpus size —
    * so the deliberately unpartitioned ordered window is NOT a scale
    * hazard here. Sums stay DECIMAL until the final cast; the average is
    * an explicit double division so both engines compute identical bits.
    */
  def rollingDailyAgg(df: DataFrame, dateCol: String, valueCol: String,
                      days: Int): DataFrame = {
    require(days > 0, s"rollingDailyAgg: days must be > 0, got $days")
    import org.apache.spark.sql.expressions.Window
    val daily = df.filter(col(dateCol).isNotNull)
      .groupBy(to_date(col(dateCol)).as("day"))
      .agg(Money.sum(col(valueCol)).as("__q"))
    val w = Window.orderBy(unix_date(col("day")))
      .rangeBetween(-(days - 1), 0)
    daily.select(col("day"),
        col("__q").cast("double").as("day_total"),
        sum(col("__q")).over(w).cast("double").as(s"total_${days}d"),
        (sum(col("__q")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double")).as(s"avg_${days}d"))
  }

  /** Per-group top-k by an explicit ordering — "best k documents per
    * language/source", the balanced selection step of corpus curation.
    *
    * Expressed as the rank-filter window so Spark 4 plans it with
    * `WindowGroupLimit`: each map task keeps only its local top-k PER GROUP
    * before the exchange, so the shuffle carries at most k×groups×tasks
    * rows, not the corpus — the difference between shuffling ~everything
    * and shuffling a bounded candidate set at 100 TB. (The plan-audit spec
    * pins the WindowGroupLimit node so a regression to a full-window sort
    * is caught.) Ordering must be total per group for deterministic output —
    * add the id as the last sort key.
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                   k: Int): DataFrame = {
    require(groupCols.nonEmpty && order.nonEmpty && k > 0,
      s"topKPerGroup: need groups, an ordering, and k > 0 (got k=$k)")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }
}
