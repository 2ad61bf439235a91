package graft.operators

import graft.functions.Money
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series continuity operators: per-key date-spine densification and
  * forward fill. A presence/attendance pipeline reads "no row for the day"
  * as "state unchanged since the last observation" — turning that implicit
  * convention into explicit rows is what every downstream daily aggregate,
  * rolling window, and as-of join wants (cf. the reference's monthly
  * continuity reports, compare_historico_mensual.py:56-143).
  *
  * Scale shape: the spine derives from ONE per-key min/max hash aggregate,
  * then explodes map-side — rows produced ∝ key-span days, never corpus².
  * The fill is a per-key running window over the spine ordering; with the
  * spine join and the window both hash-partitioned on the key, Catalyst
  * reuses one shuffle. State per key is a single last-seen value — no
  * whole-series buffering.
  */
object TimeSeries {

  /** Densify `df` to one row per key per day between that key's first and
    * last observation, forward-filling `valCol` across the gaps.
    * Output: key, date, `<valCol>` (filled), `is_observed` (false on
    * fabricated rows). Days before a key's first observation never exist
    * (the spine starts at the key's own min), so the fill is total.
    */
  def gapFillDaily(df: DataFrame, keyCol: String, dateCol: String,
                   valCol: String): DataFrame = {
    // The input feeds BOTH the spine min/max aggregate and the join side,
    // and Spark does not reuse a plan subtree across the two — without a
    // pin, an expensive upstream (typically a full-corpus daily aggregate)
    // runs twice. Keyed daily rows are small relative to their source;
    // the entry lives until LRU eviction or `spark.catalog.clearCache()`
    // (the minHashCandidatesPortable trade). When the caller controls the
    // action, prefer [[gapFillDailyScoped]], which releases the pin
    // deterministically instead of leaving it to LRU — at scale a leaked
    // daily frame can evict hotter operator caches mid-plan.
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    plan(pinned, keyCol, dateCol, valCol)
  }

  /** [[gapFillDaily]] with deterministic cache release: pins the input,
    * hands the gap-filled frame to `action`, and unpersists the pin in a
    * `finally` once the action returns — no retained storage entry
    * outlives the call (TimeSeriesSpec pins this). Use this form whenever
    * the consumption is a single action (write, collect, aggregate);
    * use [[gapFillDaily]] only when the frame must outlive the call site.
    */
  def gapFillDailyScoped[T](df: DataFrame, keyCol: String, dateCol: String,
                            valCol: String)(action: DataFrame => T): T = {
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try action(plan(pinned, keyCol, dateCol, valCol))
    finally pinned.unpersist()
  }

  /** Per-key trailing z-score outliers over a daily series — the metric
    * monitor an attendance/presence pipeline runs on its own daily totals
    * ("did today's load look like the last month's?"). Each (key, day)
    * gets the mean/std of that key's PRIOR `days` observed days (current
    * day excluded, so a spike cannot mask itself) and the z-score of the
    * day against them; `|z| >= threshold` flags the anomaly. Days with
    * fewer than `minPoints` priors, or a degenerate (zero-variance)
    * baseline, score NULL — "not enough history" is not "normal".
    *
    * Scale shape: one keyed daily hash aggregate, then ONE window pass
    * per key ordered by day — state per key is the trailing frame's
    * decimal sums, never the whole series; keys parallelize across the
    * cluster and no unpartitioned window exists. Sums (and squared sums)
    * stay DECIMAL inside the frame, so mean/variance derive from EXACT
    * accumulations and the float tail (two divisions, multiply/subtract,
    * sqrt) is correctly-rounded IEEE. One caveat learned from the oracle:
    * the squared-sum decimal's mantissa can exceed 2^53, and decimal→
    * double CONVERSION of such values is engine-dependent (double
    * rounding) — consumers comparing scores across engines should round
    * to their decision precision.
    */
  def anomaliesZScore(df: DataFrame, keyCol: String, dateCol: String,
                      valueCol: String, days: Int = 28, minPoints: Int = 7,
                      threshold: Double = 3.0): DataFrame = {
    require(days > 0, s"anomaliesZScore: days must be > 0, got $days")
    require(minPoints > 1, s"anomaliesZScore: minPoints must be > 1, got $minPoints")
    require(threshold > 0, s"anomaliesZScore: threshold must be > 0, got $threshold")
    val daily = df.filter(col(dateCol).isNotNull)
      .groupBy(col(keyCol), to_date(col(dateCol)).as("day"))
      .agg(Money.sum(col(valueCol)).as("__q"))
    val w = Window.partitionBy(col(keyCol)).orderBy(unix_date(col("day")))
      .rangeBetween(-days, -1)
    val n = count(lit(1)).over(w)
    val mean = sum(col("__q")).over(w).cast("double") / n.cast("double")
    val var_ = sum((col("__q") * col("__q"))).over(w).cast("double") /
      n.cast("double") - mean * mean
    val std = sqrt(greatest(var_, lit(0.0)))
    val z = when(n >= minPoints && std > 0,
      (col("__q").cast("double") - mean) / std)
    daily.select(col(keyCol), col("day"),
        col("__q").cast("double").as("day_value"),
        n.as("n_prior"), z.as("z_score"),
        when(z.isNotNull, abs(z) >= threshold).as("is_anomaly"))
  }

  private def plan(pinned: DataFrame, keyCol: String, dateCol: String,
                   valCol: String): DataFrame = {
    val spine = pinned.groupBy(col(keyCol))
      .agg(min(col(dateCol)).as("__lo"), max(col(dateCol)).as("__hi"))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"),
          expr("interval 1 day"))).as(dateCol))
    val joined = spine.join(pinned, Seq(keyCol, dateCol), "left")
    val w = Window.partitionBy(keyCol).orderBy(dateCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("is_observed", col(valCol).isNotNull)
      .withColumn(valCol, last(col(valCol), ignoreNulls = true).over(w))
  }
}
