package graft

import graft.functions.Money
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured skew scenario bench (VERDICT r9 §next-8): does the skew
  * toolkit WIN against the plain shapes on a genuinely hot key, with AQE
  * left ON (its default skew-join mitigation is part of the honest
  * baseline, not something to switch off for a flattering number)?
  *
  * Fixture: lineitem exploded `dup`× (~6M rows at sf0.1), key synthesized
  * deterministically so ~90% of rows land on key 0 and the rest spread
  * over 1..63 — the "one celebrity key" regime the operators document.
  * The build side is one row per key; the PLAIN join simulates the
  * broadcast-infeasible regime ([[graft.operators.Skew.saltedJoin]]'s
  * stated scope — at production scale the dim side exceeds the broadcast
  * threshold) with a merge-join hint, while hotColdJoin is free to
  * broadcast just the HOT keys' build rows — that asymmetry IS the
  * operator: the full build can't broadcast, the hot slice can.
  *
  * Prints one JSON line: median seconds per variant over `runs` runs.
  */
object SkewBench {
  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val dup = sys.env.getOrElse("SPARK_GRAFT_SKEW_DUP", "10").toInt
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._

    // ~90% of rows on key 0; remainder uniform over 1..63. Deterministic
    // (orderkey arithmetic, no rand()).
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .withColumn("__d", explode(array((0 until dup).map(lit): _*)))
      .withColumn("key",
        when(pmod(col("l_orderkey") + col("__d"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("l_orderkey") * 31 + col("__d"), lit(63)) + 1))
      .select("key", "l_extendedprice")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRows = base.count() // materialize once; all variants read the cache
    val build = (0L until 64L).map(k => (k, s"dim$k")).toDF("key", "dim_val")

    def plainJoin() = base.join(build.hint("merge"), Seq("key"))
      .agg(count(lit(1)), sum(length(col("dim_val")))).collect()
    def saltedJoin() = graft.operators.Skew
      .saltedJoin(base, build, Seq("key"), salt = 32)
      .agg(count(lit(1)), sum(length(col("dim_val")))).collect()
    def hotCold() = graft.operators.Skew
      .hotColdJoin(base, build, Seq("key"), hotThreshold = nRows / 20)
      .agg(count(lit(1)), sum(length(col("dim_val")))).collect()
    def plainAgg() = base.groupBy("key")
      .agg(count(lit(1)), Money.sum(col("l_extendedprice")))
      .collect()
    def saltedAgg() = graft.operators.Skew
      .saltedCountSum(base, Seq("key"), Seq("l_extendedprice"), salt = 32)
      .collect()

    val variants: Seq[(String, () => Any)] = Seq(
      "join_plain_smj" -> (() => plainJoin()),
      "join_salted" -> (() => saltedJoin()),
      "join_hotcold" -> (() => hotCold()),
      "agg_plain" -> (() => plainAgg()),
      "agg_salted" -> (() => saltedAgg()))
    // warm-up once each (codegen, cache), then timed runs
    variants.foreach(_._2())
    val medians = variants.map { case (name, f) =>
      name -> median((1 to runs).map(_ => time(f())))
    }
    val qs = medians.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(v))
    }.mkString("{", ",", "}")
    println(s"""{"metric":"skew_scenarios","rows":$nRows,"dup":$dup,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
