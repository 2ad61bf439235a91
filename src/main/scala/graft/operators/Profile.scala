package graft.operators

import graft.pipeline.IndexLifecycle
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass table profiling — the data-QA primitive an ETL runs before and
  * after a load (the reference's count-verify step generalized to
  * per-column statistics; cf. `verificar_counts` in
  * `sync_INCREMENTAL.py` — count parity is its only probe, this is the
  * column-level form).
  *
  * Scale shape: ONE aggregate job produces every statistic. The exact
  * distinct counts compile to a single Expand + hash-aggregate pass
  * (Catalyst's multi-count-distinct planning: rows multiply by the
  * profiled column count map-side, but the corpus is scanned once and
  * there is no per-column job loop); approx_count_distinct rides the same
  * pass as an HLL sketch for the 100 TB mode where exact per-column
  * distincts are not worth their shuffle (callers pick a column subset —
  * profiling 3 columns of a 100-column table reads 3 columns, the scan is
  * column-pruned by construction). The wide single-row result is then
  * exploded to one row per column — driver traffic is one row either way.
  *
  * min/max are rendered as strings so heterogeneous column types share
  * one output schema; counts are type-agnostic. NULL-only columns yield
  * NULL min/max and 0 distincts.
  */
object Profile {

  /** Profile `cols` of `df` (default: every column). Returns one row per
    * column: (col_name, n_rows, n_nulls, n_distinct, approx_distinct,
    * min_value, max_value). `n_distinct` is exact and excludes NULLs
    * (count-distinct semantics); `approx_distinct` is the HLL estimate of
    * the same quantity.
    */
  def profileTable(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.isEmpty) df.columns.toSeq else cols
    require(cs.nonEmpty, "profileTable: no columns to profile")
    cs.foreach(c => require(df.columns.contains(c),
      s"profileTable: no such column '$c' (have ${df.columns.mkString(", ")})"))
    val aggs = count(lit(1)).as("__n") +: cs.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c"),
      approx_count_distinct(col(c)).as(s"__ad_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cs.map(c => struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__ad_$c").as("approx_distinct"),
        col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))): _*)).as("__p"))
      .select(col("__p.*"))
  }

  // ---------------------------------------------------------------------
  // Persisted mergeable-sketch distinct-count index
  // ---------------------------------------------------------------------
  //
  // The INCREMENTAL form of the distinct-count probe above: corpus-wide
  // "how many distinct URLs / hosts / ids have we ever ingested?" is a
  // question every crawl/ingest pipeline answers continuously, and at
  // 100 TB `COUNT(DISTINCT)` answers it by re-shuffling every historical
  // batch on every ask. Mergeable sketches (Apache DataSketches HLL, the
  // library Spark 4 ships natively as `hll_sketch_agg`/`hll_union_agg`)
  // make the upkeep O(batch) and the ask O(#batches × #columns):
  // each ingest batch persists ONE sketch row per profiled column, and an
  // estimate is a metadata-scale union over the stored sketch rows — the
  // corpus text is never revisited. This is the minHashWriteIndex /
  // substringWriteIndex convention applied to profiling.
  //
  // Accuracy regime, stated precisely (measured on this Spark build):
  // a DataSketches HLL sketch stores raw coupons (exact hashes) at low
  // cardinality, so estimates — including the union of per-batch
  // sketches — are EXACT while distincts stay small (measured exact
  // through 5k at lgK=16; the collision-corrected coupon estimator
  // starts drifting by ~0.25% around 8k: 8000 -> 8020). Beyond that the
  // estimate carries the published ~1.04/sqrt(2^lgK) relative standard
  // error (~0.4% at lgK=16) — the trade the operator exists to make at
  // 100 TB. The q_prof_hll_gate row therefore oracles the EXACT counts
  // and pins the estimates as measured bounded-error booleans (equality
  // for low-cardinality columns, <=1% for high), the compress-gate
  // convention for engine-side-only values.

  /** Columns the Spark-native HLL aggregate accepts: the sketch hashes
    * raw bytes, so only types with a canonical byte form are allowed
    * (notably NOT float/double — their NaN/-0.0 forms would make
    * "distinct" ill-defined across engines).
    */
  private def requireSketchable(df: DataFrame, c: String, what: String): Unit = {
    require(df.columns.contains(c),
      s"$what: no such column '$c' (have ${df.columns.mkString(", ")})")
    val dt = df.schema(c).dataType.typeName
    require(Set("integer", "long", "string", "binary").contains(dt),
      s"$what: column '$c' is $dt — hll_sketch_agg accepts int/long/string/binary")
  }

  /** One sketch row per profiled column over one batch:
    * (col_name, n_values non-NULL count, sk HLL binary — NULL iff the
    * batch had no non-NULL values). Single aggregate pass: all columns'
    * sketches ride one scan, then the one-row result unpivots to a row
    * per column (the [[profileTable]] shape).
    */
  private def sketchRows(df: DataFrame, keyCols: Seq[String], lgK: Int): DataFrame = {
    val aggs = keyCols.flatMap(c => Seq(
      count(col(c)).as(s"__n_$c"),
      hll_sketch_agg(col(c), lit(lgK)).as(s"__sk_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(keyCols.map(c => struct(
        lit(c).as("col_name"),
        col(s"__n_$c").as("n_values"),
        col(s"__sk_$c").as("sk"))): _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Create the sketch index at `path` from a first batch: per-column HLL
    * sketch rows under `path/sketches`, plus a meta sidecar pinning
    * (lg_k, col_name, col_type) — ONE ROW PER COLUMN, so a later append
    * can neither change the precision, silently drop a profiled column,
    * nor drift a column's TYPE (hll_sketch_agg hashes a string "42" and
    * a long 42 to different entries — a type-drifted append would
    * silently inflate every later estimate; names with commas also
    * survive, unlike a joined-string encoding). A mismatched append is
    * structurally impossible, not quietly wrong.
    */
  def hllWriteIndex(df: DataFrame, keyCols: Seq[String], path: String,
                    lgK: Int = 16, overwrite: Boolean = false): Unit = {
    require(keyCols.nonEmpty, "hllWriteIndex: keyCols must be non-empty")
    require(lgK >= 4 && lgK <= 21,
      s"hllWriteIndex: lgK must be in [4, 21] (DataSketches bounds), got $lgK")
    keyCols.foreach(c => requireSketchable(df, c, "hllWriteIndex"))
    val spark = df.sparkSession
    IndexLifecycle.requireNew(spark, path, overwrite, "hllWriteIndex", "hllAppendIndex")
    sketchRows(df, keyCols, lgK)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sketches")
    import spark.implicits._
    IndexLifecycle.writeParams(keyCols.map(c => (lgK, c, df.schema(c).dataType.typeName))
      .toDF("lg_k", "col_name", "col_type"), s"$path/meta")
  }

  /** A sketch index's (precision, sorted (column, type) pairs) from its
    * one-row-per-column `meta` sidecar — `lg_k` for HLL, `k` for KLL.
    */
  private def sketchIndexMeta(spark: org.apache.spark.sql.SparkSession, path: String,
                              what: String, kind: String, precision: String)
      : (Int, Seq[(String, String)]) = {
    val rows = IndexLifecycle.readParams(spark, s"$path/meta",
      Seq(precision, "col_name", "col_type"), what, single = false)(
      IndexLifecycle.notAnIndex(what, path, kind))
    (rows.head.getInt(0), rows.map(r => (r.getString(1), r.getString(2))).sortBy(_._1))
  }

  /** Append one ingest batch in O(batch): new additive sketch rows, no
    * read-modify-write of existing sketches (union resolves at estimate
    * time — the substringAppendIndex convention). lgK and the profiled
    * (column, type) set come from the meta sidecar; a batch missing one
    * of the indexed columns — or carrying it at a DIFFERENT type — fails
    * loudly instead of silently fragmenting the distinct space.
    */
  def hllAppendIndex(df: DataFrame, path: String): Unit = {
    val (lgK, cols) = sketchIndexMeta(df.sparkSession, path, "hllAppendIndex", "sketch", "lg_k")
    cols.foreach { case (c, t) =>
      requireSketchable(df, c, "hllAppendIndex")
      val actual = df.schema(c).dataType.typeName
      require(actual == t,
        s"hllAppendIndex: column '$c' is $actual but the index profiled it " +
          s"as $t — a type-drifted append would silently inflate estimates")
    }
    sketchRows(df, cols.map(_._1), lgK)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/sketches")
  }

  /** Compact the additive sketch rows to ONE row per column — a
    * maintenance rewrite for the small-file accumulation a long append
    * history leaves behind (the substringCompactIndex convention, via
    * the same atomic staged swap: readers either see the old rows or
    * the compacted ones, never a half state). Sketch union is the
    * compaction operator itself (`hll_union_agg` returns a mergeable
    * sketch), so estimate-before == estimate-after by mergeability —
    * pinned in ProfileSpec and by q_prof_hll_gate staying green. The
    * meta sidecar is untouched. Returns the compacted row count.
    *
    * SINGLE-WRITER maintenance, like every staged-swap compaction in
    * this repo: an append that lands between the read and the swap is
    * replaced by the compacted rows and lost. Run compaction from the
    * same maintenance loop that owns appends, never concurrently with
    * one.
    */
  def hllCompactIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Long = {
    sketchIndexMeta(spark, path, "hllCompactIndex", "sketch", "lg_k")
    val grouped = spark.read.parquet(s"$path/sketches")
      .groupBy(col("col_name"))
      .agg(
        sum(col("n_values")).as("n_values"),
        hll_union_agg(col("sk"), lit(false)).as("sk"))
      .select("col_name", "n_values", "sk")
    graft.pipeline.Sinks.overwriteViaStaging(grouped, s"$path/sketches")
  }

  /** Distinct-set OVERLAP report between two key columns — the question
    * HLL cannot answer ("how many distinct URLs appear in BOTH crawl
    * snapshots / how many are new") via theta sketches
    * ([[graft.expressions.ThetaSketchAgg]]): one sketch pass per side
    * (map-side combine, no data-row shuffle), then set algebra on the
    * two k-bounded sketches in a single projected row. Returns
    * (n_a, n_b, n_union, n_intersect, n_a_only, n_b_only) — all exact
    * while both distinct counts stay below 2^lgK (theta's raw-hash
    * regime; the q_prof_theta_overlap oracle pins it), ~1/sqrt(2^lgK)
    * relative error past it. The exact-join alternative shuffles both
    * corpora on the key; this never shuffles either.
    */
  def distinctOverlap(a: DataFrame, keyA: String,
                      b: DataFrame, keyB: String,
                      lgK: Int = 14): DataFrame = {
    requireSketchable(a, keyA, "distinctOverlap")
    requireSketchable(b, keyB, "distinctOverlap")
    require(a.schema(keyA).dataType == b.schema(keyB).dataType,
      s"distinctOverlap: key types differ (${a.schema(keyA).dataType.typeName}" +
        s" vs ${b.schema(keyB).dataType.typeName}) — theta hashes a string" +
        " \"42\" and a long 42 differently, so mixed types silently" +
        " zero the intersection")
    import graft.expressions.ThetaExpressions._
    val sa = a.agg(thetaSketchAgg(col(keyA), lgK).as("sk_a"))
    val sb = b.agg(thetaSketchAgg(col(keyB), lgK).as("sk_b"))
    sa.crossJoin(sb).select(
      thetaEstimate(col("sk_a")).as("n_a"),
      thetaEstimate(col("sk_b")).as("n_b"),
      thetaUnionEstimate(col("sk_a"), col("sk_b")).as("n_union"),
      thetaIntersectEstimate(col("sk_a"), col("sk_b")).as("n_intersect"),
      thetaANotBEstimate(col("sk_a"), col("sk_b")).as("n_a_only"),
      thetaANotBEstimate(col("sk_b"), col("sk_a")).as("n_b_only"))
  }

  /** Persist one tagged theta snapshot sketch — the time-series form of
    * [[distinctOverlap]]: sketch each crawl/ingest snapshot ONCE as it
    * lands (one pass, no shuffle), and any later cross-snapshot overlap
    * question ("how many of January's URLs were still present in June")
    * is sketch algebra over two stored rows, zero corpus reads. Additive
    * append, one row per tag; re-using a tag fails loudly (a snapshot is
    * immutable history, not a slot).
    *
    * SINGLE-WRITER, like every append/maintenance path in this file: the
    * tag-uniqueness guard is a check-then-append, so two CONCURRENT
    * writers racing the same tag can both pass it and append duplicate
    * rows. The store stays safe even then — [[thetaSnapshotOverlap]]
    * detects duplicated tags at read time and throws instead of silently
    * picking one (ADVICE r15) — but run snapshot writes from one
    * maintenance loop.
    */
  def thetaWriteSnapshot(df: DataFrame, keyCol: String, path: String,
                         tag: String, lgK: Int = 14): Unit = {
    requireSketchable(df, keyCol, "thetaWriteSnapshot")
    require(tag.nonEmpty, "thetaWriteSnapshot: tag must be non-empty")
    val spark = df.sparkSession
    val exists = graft.pipeline.Sinks.exists(spark, s"$path/snapshots") &&
      spark.read.parquet(s"$path/snapshots")
        .filter(col("tag") === tag).limit(1).count() > 0
    require(!exists,
      s"thetaWriteSnapshot: tag '$tag' already exists at $path — snapshots " +
        "are immutable history; pick a new tag")
    import graft.expressions.ThetaExpressions._
    df.agg(thetaSketchAgg(col(keyCol), lgK).as("sk"))
      .select(lit(tag).as("tag"),
        lit(df.schema(keyCol).dataType.typeName).as("col_type"), col("sk"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/snapshots")
  }

  /** The [[distinctOverlap]] report between two STORED snapshots — reads
    * two sketch rows, touches no corpus data. Fails loudly on a missing
    * tag, a DUPLICATED tag (the racing-writers state the write-time
    * guard cannot exclude — ADVICE r15: picking one arbitrarily would
    * silently report a random writer's snapshot), or on snapshots whose
    * key types differ (the mixed-type silent-zero-intersection trap,
    * pinned at write time).
    */
  def thetaSnapshotOverlap(spark: org.apache.spark.sql.SparkSession,
                           path: String, tagA: String, tagB: String): DataFrame = {
    val rows = spark.read.parquet(s"$path/snapshots")
      .filter(col("tag").isin(tagA, tagB))
      .select("tag", "col_type", "sk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2)))
    val dup = rows.groupBy(_._1).collect { case (t, rs) if rs.length > 1 => t }
    require(dup.isEmpty,
      s"thetaSnapshotOverlap: tag(s) ${dup.mkString("'", "', '", "'")} appear " +
        s"more than once at $path — concurrent writers raced the " +
        "tag-uniqueness guard; snapshots are ambiguous. Repair the store " +
        "(delete the losing rows) before asking for overlaps")
    val snaps = rows.map(r => r._1 -> ((r._2, r._3))).toMap
    Seq(tagA, tagB).foreach(t => require(snaps.contains(t),
      s"thetaSnapshotOverlap: no snapshot tagged '$t' at $path"))
    require(snaps(tagA)._1 == snaps(tagB)._1,
      s"thetaSnapshotOverlap: key types differ (${snaps(tagA)._1} vs " +
        s"${snaps(tagB)._1}) — overlap would silently be zero")
    import graft.expressions.ThetaExpressions._
    import spark.implicits._
    Seq((snaps(tagA)._2, snaps(tagB)._2)).toDF("sk_a", "sk_b")
      .select(
        thetaEstimate(col("sk_a")).as("n_a"),
        thetaEstimate(col("sk_b")).as("n_b"),
        thetaUnionEstimate(col("sk_a"), col("sk_b")).as("n_union"),
        thetaIntersectEstimate(col("sk_a"), col("sk_b")).as("n_intersect"),
        thetaANotBEstimate(col("sk_a"), col("sk_b")).as("n_a_only"),
        thetaANotBEstimate(col("sk_b"), col("sk_a")).as("n_b_only"))
  }

  /** Quantile profile of one integral column via a KLL sketch
    * ([[graft.expressions.KllLongsSketchAgg]]): one sketch pass
    * (map-side combine, only k-bounded bytes shuffle — no sort, no
    * per-value shuffle), then every requested rank reads the SAME
    * sketch in one projected pass. Returns one row per requested q:
    * (q, value, n). Exact order statistics while n ≤ k (the
    * q_prof_kll_quantiles oracle replays `ORDER BY + OFFSET
    * ceil(q*n)-1`, the INCLUSIVE rule), ~1.65/k^0.86 rank error past
    * it. Unlike approx_percentile, the sketch is a mergeable VALUE —
    * see [[graft.expressions.KllOps]] for the persist-per-shard story.
    */
  def quantileProfile(df: DataFrame, valueCol: String, qs: Seq[Double],
                      k: Int = 8192): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantileProfile: ranks must be in [0,1], got $qs")
    val dt = df.schema(valueCol).dataType.typeName
    require(Set("integer", "long", "short", "byte").contains(dt),
      s"quantileProfile: column '$valueCol' is $dt — integral columns only")
    import graft.expressions.KllExpressions._
    df.agg(kllSketchAgg(col(valueCol), k).as("__sk"))
      .select(explode(array(qs.map(q => struct(
        lit(q).as("q"),
        kllQuantile(col("__sk"), lit(q)).as("value"),
        kllN(col("__sk")).as("n"))): _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Persisted KLL shard index — [[quantileProfile]]'s incremental form,
    * the hllWriteIndex convention for distributions: each ingest batch
    * appends ONE serialized KLL row per profiled column in O(batch), and
    * any later quantile question merges the stored sketches (KLL is
    * mergeable by construction) without revisiting corpus data. Meta
    * sidecar pins (k, col_name, col_type) one row per column — same
    * type-drift and comma-name protections as the HLL index.
    */
  def kllWriteIndex(df: DataFrame, keyCols: Seq[String], path: String,
                    k: Int = 8192, overwrite: Boolean = false): Unit = {
    require(keyCols.nonEmpty, "kllWriteIndex: keyCols must be non-empty")
    require(k >= 8 && k <= 65535,
      s"kllWriteIndex: k must be in [8, 65535], got $k")
    keyCols.foreach(c => requireIntegral(df, c, "kllWriteIndex"))
    val spark = df.sparkSession
    IndexLifecycle.requireNew(spark, path, overwrite, "kllWriteIndex", "kllAppendIndex")
    kllSketchRows(df, keyCols, k)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sketches")
    import spark.implicits._
    IndexLifecycle.writeParams(keyCols.map(c => (k, c, df.schema(c).dataType.typeName))
      .toDF("k", "col_name", "col_type"), s"$path/meta")
  }

  private def requireIntegral(df: DataFrame, c: String, what: String): Unit = {
    require(df.columns.contains(c),
      s"$what: no such column '$c' (have ${df.columns.mkString(", ")})")
    val dt = df.schema(c).dataType.typeName
    require(Set("integer", "long", "short", "byte").contains(dt),
      s"$what: column '$c' is $dt — integral columns only")
  }

  private def kllSketchRows(df: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    import graft.expressions.KllExpressions._
    val aggs = keyCols.map(c => kllSketchAgg(col(c), k).as(s"__sk_$c"))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(keyCols.map(c => struct(
        lit(c).as("col_name"),
        col(s"__sk_$c").as("sk"))): _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Append one batch's sketch rows in O(batch) — additive, no
    * read-modify-write; type drift fails loudly (the hllAppendIndex
    * contract).
    *
    * `batchTag` makes the append exactly-once ([[IndexLifecycle.append]]):
    * KLL is additive (every retained item weighs), so a replay would
    * double-weight the batch and skew every later quantile. The HLL index
    * needs no such guard — sketch union is idempotent (max of registers),
    * so a replayed HLL row changes no estimate.
    */
  def kllAppendIndex(df: DataFrame, path: String,
                     batchTag: Option[String] = None): Unit = {
    val (k, cols) = sketchIndexMeta(df.sparkSession, path, "kllAppendIndex", "KLL", "k")
    cols.foreach { case (c, t) =>
      requireIntegral(df, c, "kllAppendIndex")
      val actual = df.schema(c).dataType.typeName
      require(actual == t,
        s"kllAppendIndex: column '$c' is $actual but the index profiled it " +
          s"as $t — a type-drifted append would corrupt the distribution")
    }
    IndexLifecycle.append(path, batchTag, df, cols.map(_._1), Seq(s"$path/sketches")) { c =>
      c.append(kllSketchRows(c.frame, cols.map(_._1), k), s"$path/sketches")
    }: Unit
  }

  /** Quantiles from the stored sketches alone: merge each column's shard
    * sketches driver-side (O(#batches × #columns) k-bounded rows — the
    * hllEstimateIndex scale argument), then read every requested rank.
    * Returns (col_name, q, value, n) ordered; an all-empty column yields
    * NULL values with n = 0.
    */
  def kllQuantilesIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"kllQuantilesIndex: ranks must be in [0,1], got $qs")
    sketchIndexMeta(spark, path, "kllQuantilesIndex", "KLL", "k")
    import graft.expressions.KllExpressions._
    val merged = spark.read.parquet(s"$path/sketches")
      .groupBy(col("col_name"))
      .agg(collect_list(col("sk")).as("__sks"))
    // merge the shard sketches with one static call per column row
    val mergedSk = merged.select(col("col_name"),
      graft.expressions.KllExpressions.kllMergeAll(col("__sks")).as("__sk"))
    mergedSk.select(col("col_name"),
        explode(array(qs.map(q => struct(
          lit(q).as("q"),
          kllQuantile(col("__sk"), lit(q)).as("value"),
          kllN(col("__sk")).as("n"))): _*)).as("__p"))
      .select(col("col_name"), col("__p.*"))
      .orderBy("col_name", "q")
  }

  /** Estimate distinct counts from the stored sketches alone — one
    * metadata-scale scan of O(#batches × #columns) sketch rows, zero
    * corpus reads. Returns (col_name, n_values total non-NULL count,
    * n_distinct_est BIGINT). `allowDifferentLgConfigK = false`: the meta
    * sidecar guarantees a uniform lgK, so a drifted sketch is a loud
    * error, never a silent precision downgrade. A column whose every
    * batch was all-NULL estimates 0.
    */
  def hllEstimateIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    sketchIndexMeta(spark, path, "hllEstimateIndex", "sketch", "lg_k")
    spark.read.parquet(s"$path/sketches")
      .groupBy(col("col_name"))
      .agg(
        sum(col("n_values")).as("n_values"),
        coalesce(
          hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))),
          lit(0L)).as("n_distinct_est"))
  }
}
