package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Per-table pipeline configuration (mirrors the reference's TABLES /
  * TABLE_FILTERS / FULL_REFRESH_TABLES / unique-key config surfaces:
  * sync_ALL.py:20-45, sync_INCREMENTAL.py:19-48,191-202) — but typed and
  * declarative.
  */
sealed trait RefreshMode
object RefreshMode {
  /** S5: DROP+CREATE+load (tables without a reliable natural key). */
  case object FullRefresh extends RefreshMode
  /** J2: hash-diff upsert on the natural key (never deletes). */
  case object Incremental extends RefreshMode
}

final case class TableSpec(
    name: String,
    keys: Seq[String] = Nil,
    filters: Seq[Column] = Nil,
    refreshMode: RefreshMode = RefreshMode.FullRefresh,
    /** optional semi-join restriction: (buildTable, buildKey, probeKey) */
    semiJoin: Option[(String, String, String)] = None) {
  require(refreshMode == RefreshMode.FullRefresh || keys.nonEmpty,
    s"incremental table $name needs a natural key")
}

object TableSpec {
  /** Read one fixture table, its schema from the file's footer on the
    * driver (`Sinks.readParquet`: no schema-inference job). Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (Spark has no native
    * nanosecond timestamp), so TIMESTAMP(NANOS) columns arrive as Long —
    * convert them back to micros-precision timestamps here. Integer `div`
    * (not `/`, which is double division) keeps epoch-nanos exact.
    */
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val df = Sinks.readParquet(spark, s"$sfDir/$table.parquet")
    if (table == "events" && df.schema("ts").dataType == LongType)
      // cast to NTZ: every other fixture timestamp reads as TIMESTAMP_NTZ
      // (parquet without tz), and the DuckDB oracle emits naive timestamps —
      // keeping the type aligned keeps schema comparisons honest.
      df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }
}
