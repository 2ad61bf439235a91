package graft.operators

import graft.functions.Money
import graft.pipeline.IndexLifecycle
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deliberate skew handling for hot keys.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`, on by
  * default) rebalances sort-merge joins at runtime; these operators are for
  * the cases AQE can't fix:
  *  - a broadcast-infeasible join whose probe side hammers a few keys
  *    (salting spreads one key over `salt` reducers);
  *  - a high-skew aggregation whose single hot group saturates one task
  *    (two-phase partial/final aggregation).
  *
  * Salt is derived from xxhash64 over the probe row's columns — fully
  * deterministic (no rand()), so plans stay reproducible and retries are
  * safe.
  */
object Skew {

  private def saltCol(df: DataFrame, salt: Int): Column =
    pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(salt)).cast("int")

  /** Salted equi-join: the probe (large, skewed) side gets a deterministic
    * salt in [0, salt); the build side is exploded `salt`× so every
    * (key, salt) bucket finds its match. Join result is identical to the
    * unsalted join; the shuffle spreads each hot key over `salt` partitions.
    * Build-side cost: `salt`× row duplication — use for moderate build
    * sides that exceed the broadcast threshold.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 salt: Int = 16, joinType: String = "inner"): DataFrame = {
    require(salt > 0)
    // outer-on-build joins would emit `salt` copies of unmatched build rows
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedJoin supports probe-preserving join types only, got $joinType")
    val p = probe.withColumn("__salt", saltCol(probe, salt))
    val b = build.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    p.join(b, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Two-phase skew-proof aggregation: count + decimal-exact sums per key.
    * Phase 1 aggregates by (key, salt) — spreading a hot key over `salt`
    * tasks — phase 2 combines the partials by key. Result equals the direct
    * groupBy; shuffle width of phase 2 is keys × salt partial rows.
    */
  def saltedCountSum(df: DataFrame, keys: Seq[String], amountCols: Seq[String],
                     salt: Int = 16): DataFrame = {
    val partial = df.withColumn("__salt", saltCol(df, salt))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__n"),
        amountCols.map(c => Money.sum(col(c)).as(s"__s_$c")): _*)
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n_rows"),
        amountCols.map(c => sum(col(s"__s_$c")).cast("double").as(s"sum_$c")): _*)
  }

  /** Hot/cold split join — the OTHER classic skew weapon, complementing
    * [[saltedJoin]]: instead of exploding the build side `salt`×, measure
    * the probe's key frequencies, peel off the hot keys, and join them
    * against a BROADCAST of the build rows for just those keys; the cold
    * remainder does an ordinary shuffle join whose skew is gone because
    * the hot keys are. Result is identical to the plain join. Prefer this
    * over salting when the hot-key set is small and its build rows fit a
    * broadcast (the common "null-ish sentinel key + a few celebrities"
    * shape); prefer salting when even one key's build rows are too big to
    * broadcast.
    *
    * Scale shape: the frequency scan is one map-side-combined aggregate;
    * the hot-key list is metadata (≤ `maxHotKeys` rows, guarded) and is
    * broadcast three times to split both inputs without shuffling either;
    * the hot path shuffles NOTHING (broadcast hash join); the cold path
    * is the join you already had, minus its skew.
    *
    * NOT a lazy plan builder: materializes the hot-key frequency frame
    * (bounded: one row per hot key) and leaves it pinned — the split
    * reads it from three subtrees (the annLsh eager-pin rationale).
    */
  def hotColdJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                  hotThreshold: Long, joinType: String = "inner",
                  maxHotKeys: Long = 100000): DataFrame = {
    require(hotThreshold > 0, s"hotColdJoin: hotThreshold > 0, got $hotThreshold")
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"hotColdJoin supports probe-preserving join types only, got $joinType")
    val hot = probe.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= hotThreshold)
      .select(keys.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nHot = hot.count()
    require(nHot <= maxHotKeys,
      s"hotColdJoin: $nHot hot keys exceed maxHotKeys=$maxHotKeys — raise " +
        "hotThreshold (a 'hot' set this large will not broadcast; use " +
        "saltedJoin instead)")
    val probeHot = probe.join(broadcast(hot), keys, "left_semi")
    val probeCold = probe.join(broadcast(hot), keys, "left_anti")
    val buildHot = build.join(broadcast(hot), keys, "left_semi")
    probeHot.join(broadcast(buildHot), keys, joinType)
      .unionByName(probeCold.join(build, keys, joinType))
  }

  /** Top-k hot keys with their frequency share — the diagnostic that decides
    * whether salting is needed at all (run on a sample at 100 TB).
    */
  def skewProfile(df: DataFrame, keys: Seq[String], k: Int = 10): DataFrame = {
    val total = df.count()
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast("double") / lit(total.toDouble))
      .orderBy(col("n").desc +: keys.map(col(_).asc): _*)
      .limit(k)
  }

  /** [[skewProfile]] WITHOUT the per-key shuffle (r15): estimate the fact
    * table's per-key frequencies for a bounded candidate set through one
    * Count-Min sketch pass. `skewProfile`'s groupBy shuffles the fact
    * table on the very key being diagnosed as hot — at 100 TB the
    * diagnostic hits the disease; the CMS aggregate is map-side partial
    * merges of fixed-size tables (width ⌈2/eps⌉ × depth
    * ⌈ln(1/(1−confidence))/ln 2⌉, Spark's native `count_min_sketch`),
    * one sketch to the driver, zero data shuffles. Candidates come from
    * the DIMENSION side (probe the supplier keys against the lineitem
    * sketch) — metadata scale, require-guarded at 4096 (the capPerGroup
    * cap). Returns (key, est_count) for every candidate.
    *
    * CMS never undercounts; with the defaults (eps 1e-4 → width 20001)
    * and bounded candidate cardinality, hash collisions across ALL depth
    * rows are vanishingly rare and the fixed seed makes the estimate
    * DETERMINISTIC — the q_skew_cms_hot row pins est == exact groupBy
    * counts end-to-end at both test scales. At real scale the guarantee
    * degrades gracefully to est ≤ exact + eps·N with prob ≥ confidence.
    * Integral key columns only (the sketch hashes the JVM value; a
    * float key would make "same key" ill-defined).
    */
  def hotKeyEstimates(fact: DataFrame, keyCol: String,
                      candidates: DataFrame, candKeyCol: String,
                      eps: Double = 1e-4, confidence: Double = 0.999,
                      seed: Int = 42): DataFrame = {
    require(eps > 0 && eps < 1, s"hotKeyEstimates: eps in (0,1), got $eps")
    require(confidence > 0 && confidence < 1,
      s"hotKeyEstimates: confidence in (0,1), got $confidence")
    val dt = fact.schema(keyCol).dataType.typeName
    require(Set("integer", "long", "short", "byte").contains(dt),
      s"hotKeyEstimates: key column '$keyCol' is $dt — integral keys only")
    val spark = fact.sparkSession
    val skRow = fact.agg(
        count_min_sketch(col(keyCol), lit(eps), lit(confidence), lit(seed)))
      .head()
    val sketch =
      if (skRow.isNullAt(0)) null // empty/all-NULL fact: every key counts 0
      else org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]](0)))
    // NULL candidates (nullable dimension keys, or non-numeric strings
    // nulled by the cast) are not probeable — the fact-side aggregate
    // ignored NULL keys too, so dropping them here keeps the two sides'
    // key space identical instead of NPE-ing on Row.getLong.
    val cands = candidates.select(col(candKeyCol).cast("long"))
      .filter(col(candKeyCol).isNotNull)
      .distinct().limit(4097).collect().map(_.getLong(0))
    require(cands.length <= 4096,
      "hotKeyEstimates: more than 4096 candidate keys — the driver-side " +
        "probe is bounded (capPerGroup's cap); pre-filter the candidates")
    import spark.implicits._
    cands.toSeq
      .map(k => (k, if (sketch == null) 0L else sketch.estimateCount(k)))
      .toDF("key", "est_count")
  }

  // ---------------------------------------------------------------------
  // Persisted CMS frequency index (late r16) — the fourth member of the
  // mergeable-sketch suite (HLL = distincts, theta = set algebra, KLL =
  // quantiles, CMS = FREQUENCIES): "how often has this key appeared
  // across every batch we ever ingested" answered from O(#batches)
  // fixed-size sketch rows, zero corpus rescans. CMS is LINEAR
  // (cell-wise addition merges exactly), so per-batch appends are
  // additive rows and compaction is the merge itself — the
  // hllWriteIndex conventions apply verbatim, including the meta
  // sidecar (eps/confidence/seed/column/type pinned one row, so a
  // mismatched append is structurally impossible: sketches with
  // different geometry or seed cannot be merged, and a type-drifted
  // key would hash differently) and the r16 create-over-existing guard.
  // ---------------------------------------------------------------------

  private def requireIntegralKey(df: DataFrame, c: String, what: String): Unit = {
    require(df.columns.contains(c),
      s"$what: no such column '$c' (have ${df.columns.mkString(", ")})")
    val dt = df.schema(c).dataType.typeName
    require(Set("integer", "long", "short", "byte").contains(dt),
      s"$what: key column '$c' is $dt — integral keys only")
  }

  private def cmsSketchRow(df: DataFrame, keyCol: String, eps: Double,
                           confidence: Double, seed: Int): DataFrame =
    df.agg(
      count(col(keyCol)).as("n_values"),
      count_min_sketch(col(keyCol), lit(eps), lit(confidence), lit(seed))
        .as("sk"))

  /** Create the CMS index at `path` from a first batch: one sketch row
    * under `path/sketches`, parameters pinned in `path/meta`.
    */
  def cmsWriteIndex(df: DataFrame, keyCol: String, path: String,
                    eps: Double = 1e-4, confidence: Double = 0.999,
                    seed: Int = 42, overwrite: Boolean = false): Unit = {
    require(eps > 0 && eps < 1, s"cmsWriteIndex: eps in (0,1), got $eps")
    require(confidence > 0 && confidence < 1,
      s"cmsWriteIndex: confidence in (0,1), got $confidence")
    requireIntegralKey(df, keyCol, "cmsWriteIndex")
    val spark = df.sparkSession
    IndexLifecycle.requireNew(spark, path, overwrite, "cmsWriteIndex", "cmsAppendIndex")
    cmsSketchRow(df, keyCol, eps, confidence, seed)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/sketches")
    import spark.implicits._
    IndexLifecycle.writeParams(
      Seq((eps, confidence, seed, keyCol, df.schema(keyCol).dataType.typeName))
        .toDF("eps", "confidence", "seed", "col_name", "col_type"), s"$path/meta")
  }

  private def cmsParams(spark: org.apache.spark.sql.SparkSession,
                        path: String, what: String)
      : (Double, Double, Int, String, String) = {
    val r = IndexLifecycle.readParams(spark, s"$path/meta",
      Seq("eps", "confidence", "seed", "col_name", "col_type"), what)(
      IndexLifecycle.notAnIndex(what, path, "CMS")).head
    (r.getDouble(0), r.getDouble(1), r.getInt(2), r.getString(3),
      r.getString(4))
  }

  /** Append one batch's sketch row in O(batch) — additive, no
    * read-modify-write; parameters come from the meta sidecar, and a
    * type-drifted key column fails loudly (a long 42 and an int 42 hash
    * to different CMS cells via the JVM value).
    *
    * `batchTag` makes the append exactly-once ([[IndexLifecycle.append]]):
    * CMS is additive, so a replay would silently inflate every later
    * estimate.
    */
  def cmsAppendIndex(df: DataFrame, path: String,
                     batchTag: Option[String] = None): Unit = {
    val (eps, conf, seed, keyCol, tpe) =
      cmsParams(df.sparkSession, path, "cmsAppendIndex")
    requireIntegralKey(df, keyCol, "cmsAppendIndex")
    val actual = df.schema(keyCol).dataType.typeName
    require(actual == tpe,
      s"cmsAppendIndex: column '$keyCol' is $actual but the index counts " +
        s"it as $tpe — a type-drifted append would fragment the key space")
    IndexLifecycle.append(path, batchTag, df, Seq(keyCol), Seq(s"$path/sketches")) { c =>
      c.append(cmsSketchRow(c.frame, keyCol, eps, conf, seed), s"$path/sketches")
    }: Unit
  }

  /** Frequency estimates for bounded `candidates` from the stored
    * sketches alone: merge the O(#batches) fixed-size rows driver-side
    * (CMS is linear — `mergeInPlace` is exact addition; identical
    * geometry/seed is guaranteed by the meta sidecar), then probe each
    * candidate key. Returns (key, est_count); an empty index estimates
    * 0 everywhere. Candidate bound and NULL handling follow
    * [[hotKeyEstimates]].
    */
  def cmsEstimateIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, candidates: DataFrame,
                       candKeyCol: String): DataFrame = {
    cmsParams(spark, path, "cmsEstimateIndex")
    val rows = spark.read.parquet(s"$path/sketches")
      .select("sk").collect()
      .flatMap(r => Option(r.getAs[Array[Byte]](0)))
      .map(b => org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)))
    val merged = rows.reduceOption { (a, b) => a.mergeInPlace(b); a }
    val cands = candidates.select(col(candKeyCol).cast("long"))
      .filter(col(candKeyCol).isNotNull)
      .distinct().limit(4097).collect().map(_.getLong(0))
    require(cands.length <= 4096,
      "cmsEstimateIndex: more than 4096 candidate keys — the driver-side " +
        "probe is bounded (the hotKeyEstimates cap); pre-filter the " +
        "candidates")
    import spark.implicits._
    cands.toSeq
      .map(k => (k, merged.map(_.estimateCount(k)).getOrElse(0L)))
      .toDF("key", "est_count")
  }

  /** Compact the additive sketch rows to ONE row — pure maintenance
    * (CMS merge is exact addition, so estimates before == after; the
    * hllCompactIndex staged-swap + single-writer contract). Returns the
    * compacted row count (1; empty batches contribute an EMPTY sketch —
    * Spark's count_min_sketch aggregate returns one, not NULL — which
    * merges as a no-op and estimates 0).
    */
  def cmsCompactIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Long = {
    cmsParams(spark, path, "cmsCompactIndex")
    val src = spark.read.parquet(s"$path/sketches")
    val rows = src.select("n_values", "sk").collect()
    val merged = rows.flatMap(r => Option(r.getAs[Array[Byte]](1)))
      .map(b => org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)))
      .reduceOption { (a, b) => a.mergeInPlace(b); a }
    val n = rows.map(_.getLong(0)).sum
    import spark.implicits._
    val out = merged match {
      case None => Seq.empty[(Long, Array[Byte])].toDF("n_values", "sk")
      case Some(sk) =>
        val bos = new java.io.ByteArrayOutputStream()
        sk.writeTo(bos)
        Seq((n, bos.toByteArray)).toDF("n_values", "sk")
    }
    graft.pipeline.Sinks.overwriteViaStaging(out, s"$path/sketches")
  }
}
