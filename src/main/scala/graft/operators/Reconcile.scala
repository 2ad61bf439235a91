package graft.operators

import graft.functions.Money
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reconciliation analytics (reference §3.3: compare_historico_mensual.py,
  * compare_noviembre_2025.py) — monthly aggregation of two sides plus a
  * full-outer alignment diff, and key-set difference audits.
  *
  * Each row of these operators does primitive work only; string and
  * decimal-object work happens once per group:
  *  - Money sums go through DECIMAL(18,4) so totals are exact and
  *    order-independent (SURVEY.md §7.4 trap 8). They use
  *    [[graft.functions.Money]], which equals `cast(decimal(18,4))` value
  *    for value without a `Double.toString` per row (its scaladoc says why).
  *  - The month key is grouped as `date_trunc('MONTH', d)` and formatted
  *    `yyyy-MM` after the aggregate ([[monthStart]], [[formatMonth]]).
  *    `date_trunc` casts its input to a timestamp exactly as `date_format`
  *    does, so every input type gives the months the per-row format gave.
  *    (Years outside 0001–9999, where `yyyy` prints the year of era, may
  *    format two month starts alike; Spark supports no such dates.)
  */
object Reconcile {

  /** Month-start timestamp of `c`: the grouping key whose
    * [[formatMonth]] is `date_format(c, "yyyy-MM")`. */
  private[operators] def monthStart(c: Column): Column = date_trunc("MONTH", c)

  /** Renders the month-start column `month` of an aggregate as `yyyy-MM`,
    * in place. */
  private[operators] def formatMonth(df: DataFrame): DataFrame =
    df.withColumn("month", date_format(col("month"), "yyyy-MM"))

  /** A1/A2: per-month count + money sums (+ optional per-state counts). */
  def monthlyAgg(df: DataFrame, dateCol: String, amountCols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("n_rows") +:
      amountCols.map(c => Money.sum(col(c)).cast("double").as(s"sum_$c"))
    formatMonth(df.filter(col(dateCol).isNotNull)
      .groupBy(monthStart(col(dateCol)).as("month"))
      .agg(aggs.head, aggs.tail: _*))
  }

  /** J6/E2: full-outer align two monthly aggregates and diff their counts.
    * Missing months default to 0 (`na.fill`), like the reference's
    * `.get(month, default)` lookups (compare_historico_mensual.py:103-127).
    */
  def alignDiff(a: DataFrame, b: DataFrame, on: String, metric: String): DataFrame = {
    val l = a.select(col(on), col(metric).as(s"${metric}_a"))
    val r = b.select(col(on), col(metric).as(s"${metric}_b"))
    l.join(r, Seq(on), "full_outer")
      .na.fill(0, Seq(s"${metric}_a", s"${metric}_b"))
      .withColumn("diff", col(s"${metric}_a") - col(s"${metric}_b"))
  }

  /** E1: orphan keys — distinct values of `keyA` present in `a` but absent
    * from `b` (both directions give the reference's two orphan lists,
    * compare_noviembre_2025.py:193-214). A left-anti join's result does
    * not depend on duplicates on its build side, so `b`'s keys go in as
    * they are, with no aggregate before the join.
    *
    * That is faster when `keyB` is (nearly) unique in `b`, as ids of a
    * reconciled table are: it saves an aggregate and a shuffle of all of
    * `b`. When `b` repeats few keys over many rows, the join hashes or
    * shuffles every row where a map-side distinct would have cut them to
    * the keys. Measured on 4 cores against the distinct form: a 4M-row
    * unique build side 0.67× the time, a 4M-row side over 2,000 keys 2×.
    */
  def orphanKeys(a: DataFrame, keyA: String, b: DataFrame, keyB: String): DataFrame =
    a.select(col(keyA)).filter(col(keyA).isNotNull).distinct()
      .join(b.select(col(keyB).as(keyA)), Seq(keyA), "left_anti")

  /** E1 both directions in one report — the reference emits the two orphan
    * lists together (compare_noviembre_2025.py:193-214: keys only in the
    * source, then keys only in the target). One row per orphan key with a
    * `direction` tag (`only_in_a` / `only_in_b`); the key lands in a single
    * `key` column cast to string so the two sides union cleanly whatever
    * their original types.
    */
  def orphanKeysBoth(a: DataFrame, keyA: String, b: DataFrame, keyB: String): DataFrame =
    orphanKeys(a, keyA, b, keyB)
      .select(col(keyA).cast("string").as("key"), lit("only_in_a").as("direction"))
      .unionByName(orphanKeys(b, keyB, a, keyA)
        .select(col(keyB).cast("string").as("key"), lit("only_in_b").as("direction")))

  /** O3: deterministic top-k by group count (ties broken by key asc). */
  def topKByCount(df: DataFrame, groupCol: Column, k: Int): DataFrame =
    df.groupBy(groupCol.as("key")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("key").asc)
      .limit(k)
}
