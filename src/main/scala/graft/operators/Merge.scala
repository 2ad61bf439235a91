package graft.operators

import graft.functions.RowHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hash-diff CDC merge — the reference's core operator (J2/J3/A9/A10,
  * sync_INCREMENTAL.py:226-268 build side, :404-435 probe side,
  * :437-502 apply side).
  *
  * The reference loads the whole target's `(key -> id, hash)` map into driver
  * RAM and probes it row by row — a hand-rolled broadcast hash join that
  * falls over past driver memory. Here the diff is a `left_outer` join on the
  * *typed multi-column key* (no '|'-concat composite keys — SURVEY.md §7.4
  * trap 2): Catalyst broadcasts a small target state and shuffle-sort-merges
  * a 100 TB one, with AQE handling skew. Map-side hashing (RowHash) keeps the
  * classify stage a single shuffle.
  *
  * Hash basis (one definition everywhere): SHA-256 over ALL data columns of
  * the pre-audit source frame, alphabetically sorted — exactly
  * `RowHash.withAuditColumns`' basis and the reference's
  * `calculate_row_hash(row, all_columns)` (sync_ALL.py:184-191). Key columns
  * are included (they are equal across a join match, so they never flip a
  * classification, and bootstrap-then-merge stays hash-compatible).
  *
  * Invariants preserved (context/context.md:1292-1306): no-delete (target
  * rows absent from source are untouched) and idempotence (merging an
  * already-merged source is all-SKIP — a fixpoint). Both are property-tested
  * in MergeSpec. Audit semantics match the reference
  * (sync_INCREMENTAL.py:479-502): updates keep the target's `id` and
  * `created_at` and bump only `updated_at`; skips keep the target row
  * byte-identical; inserts mint fresh ids above the target's max.
  */
object Merge {

  val ActionCol = "cdc_action"
  val Insert = "insert"
  val Update = "update"
  val Skip = "skip"

  val AuditCols: Seq[String] = Seq("id", "row_hash", "created_at", "updated_at")

  /** Classify every source row as insert / update / skip against the target.
    *
    * Requires `keys` to be unique on both sides (the reference enforces the
    * same precondition and falls back to full refresh for tables without a
    * reliable key, sync_INCREMENTAL.py:46-48); run [[duplicateKeyAudit]]
    * first — duplicate keys fan out the join.
    *
    * @param src      pre-audit source rows (hash computed over ALL its
    *                 columns, alphabetically sorted — same basis as
    *                 `RowHash.withAuditColumns`)
    * @param tgtState target state: key columns + `row_hash` (+ optionally
    *                 `id`); extra columns are ignored
    * @param keys     natural-key column names (1..n, joined as true
    *                 multi-column equality)
    */
  def classify(src: DataFrame, tgtState: DataFrame, keys: Seq[String]): DataFrame = {
    val hashCols = src.columns.filterNot(AuditCols.contains).toSeq
    val hashed = src.withColumn("src_hash", RowHash.rowHash(hashCols))
    val tgt = tgtState.select(keys.map(col) :+ col("row_hash").as("tgt_hash"): _*)
    hashed
      .join(tgt, keys, "left_outer")
      .withColumn(ActionCol,
        when(col("tgt_hash").isNull, lit(Insert))
          .when(col("src_hash") =!= col("tgt_hash"), lit(Update))
          .otherwise(lit(Skip)))
  }

  /** A9: merge-outcome tally (inserted / updated / unchanged). */
  def outcomeTally(classified: DataFrame): DataFrame =
    classified.groupBy(ActionCol).agg(count(lit(1)).as("n"))

  /** Apply the merge: new target = untouched + skipped target rows (as-is)
    * + updated rows (source data, target's `id`/`created_at`, bumped
    * `updated_at`) + inserted rows (fresh ids above the target's max).
    * Never deletes. `tgt` must carry the audit columns
    * (`id`,`row_hash`,`created_at`,`updated_at`); `src` must not.
    *
    * `now` is injectable so tests and oracle comparisons are deterministic.
    *
    * Scale note: insert-id minting is key-ordered (AUTO_INCREMENT
    * semantics, sync_ALL.py:234) via `RowHash.orderedDenseId` —
    * range-repartition + zipWithIndex, identical ids to a global
    * `row_number` window but with no single-partition stage, so it holds
    * even for insert-heavy backfills.
    */
  def apply(src: DataFrame, tgt: DataFrame, keys: Seq[String],
            now: Column = current_timestamp()): DataFrame =
    applyAbove(src, tgt, keys, maxId(tgt), now)

  /** As [[apply]] but minting insert ids above an EXPLICIT id watermark
    * instead of `max(tgt.id)` — for callers that read the watermark from
    * metadata (parquet footers: `Sinks.targetMaxId`), and for callers
    * merging into a SLICE of a larger target (the bucketed incremental
    * sink, [[graft.streaming.Streams.mergeEachBatchBucketed]]), where the
    * slice's max id is NOT the table's and slice-local minting would
    * collide with ids in untouched buckets. `maxId` must be ≥ every id in
    * `tgt`; a low watermark silently mints colliding ids.
    */
  def applyAbove(src: DataFrame, tgt: DataFrame, keys: Seq[String], maxId: Long,
                 now: Column = current_timestamp()): DataFrame =
    applyCounted(src, tgt, keys, maxId, now).merged

  /** An [[applyCounted]] result: the merged target, the number of insert
    * rows, and whether two insert rows share a key.
    */
  final case class Applied(merged: DataFrame, inserts: Long, insertKeysRepeat: Boolean)

  /** [[applyAbove]] plus what its insert mint's count job learns on the
    * way, at no extra job: the insert count `I` and whether two inserts
    * share a key (null-safe, as `groupBy` groups — [[RowHash
    * .orderedDenseIdByKeys]]).
    *
    * Together with the target's row count `T` these decide
    * [[duplicateKeyAudit]] on the source without running it. A source key
    * with a NULL part never matches the target (the joins use `===`), so it
    * is always an insert; a repeated key is therefore either among the
    * inserts (`insertKeysRepeat`) or matches a target row, and then every
    * copy joins that row, so the merged target holds more than `T + I`
    * rows. Conversely, with unique source keys each target row joins at
    * most one source row and the merged target holds exactly `T + I`.
    */
  def applyCounted(src: DataFrame, tgt: DataFrame, keys: Seq[String], maxId: Long,
                   now: Column = current_timestamp()): Applied = {
    val dataCols = src.columns.filterNot(AuditCols.contains).toSeq
    val outCols = dataCols ++ AuditCols
    val (inserted, ins) = insertedAbove(src, tgt, keys, dataCols, maxId, now)
    Applied(keptOrUpdated(src, tgt, keys, dataCols, now)
      .select(outCols.map(col): _*).unionByName(inserted), ins.rows, ins.keysRepeat)
  }

  /** Insert rows with key-ordered ids `maxId+1..` (keys are unique on the
    * source — the classify precondition — so they are a total order for the
    * rank), in `dataCols ++ AuditCols` order, and the mint's counts.
    */
  private def insertedAbove(src: DataFrame, tgt: DataFrame, keys: Seq[String],
                            dataCols: Seq[String], maxId: Long,
                            now: Column): (DataFrame, RowHash.KeyedIds) = {
    val minted = RowHash.orderedDenseIdByKeys(
      insertRows(src, tgt, keys, dataCols, now), keys, "__rn")
    (minted.df.withColumn("id", lit(maxId) + col("__rn"))
      .select((dataCols ++ AuditCols).map(col): _*), minted)
  }

  /** `max(tgt.id)`, 0 for an empty target: one aggregate job over `tgt`. */
  private def maxId(tgt: DataFrame): Long =
    tgt.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)

  /** As [[apply]] but minting insert ids in partition order
    * (`Sinks.withDenseId`) instead of key order — saves the insert
    * sliver's range shuffle when id order is irrelevant; use [[apply]]
    * when deterministic key-ordered ids matter (oracle comparisons).
    */
  def applyBulk(src: DataFrame, tgt: DataFrame, keys: Seq[String],
                now: Column = current_timestamp()): DataFrame =
    // one driver-side scalar (max id) — the only action. A parquet-backed
    // caller should skip this column scan entirely: read the watermark
    // from footer statistics (Sinks.targetMaxId — metadata-only) or a
    // persisted sidecar (the mergeEachBatchBucketed convention) and call
    // applyBulkAbove; this default stays for in-memory/arbitrary targets.
    applyBulkAbove(src, tgt, keys, maxId(tgt), now)

  /** As [[applyBulk]] but minting above an EXPLICIT id watermark — the
    * [[applyAbove]] treatment for the bulk form, so a caller with a
    * metadata-cheap watermark (footer stats, a sidecar) never pays the
    * `max(id)` column scan of the whole target (O(target) per batch at
    * the 100 TB shape — VERDICT r15). `maxId` must be ≥ every id in
    * `tgt`; a low watermark silently mints colliding ids.
    */
  def applyBulkAbove(src: DataFrame, tgt: DataFrame, keys: Seq[String],
                     maxId: Long,
                     now: Column = current_timestamp()): DataFrame = {
    val dataCols = src.columns.filterNot(AuditCols.contains).toSeq
    val outCols = dataCols ++ AuditCols
    // distributed zipWithIndex minting with no global sort
    val inserted = graft.pipeline.Sinks.withDenseId(
        insertRows(src, tgt, keys, dataCols, now), offset = maxId)
      .select(outCols.map(col): _*)
    keptOrUpdated(src, tgt, keys, dataCols, now)
      .select(outCols.map(col): _*).unionByName(inserted)
  }

  /** The CHANGED slice of [[apply]]'s output — updated + inserted rows
    * ONLY, computed exactly as [[apply]] computes them (same source data,
    * same target `id`/`created_at` carried into updates, same key-ordered
    * insert ids above `max(tgt.id)`, same hash/audit stamps), so
    *
    *   apply(src, tgt, keys, now)
    *     == applyChanged(src, tgt, keys, now)
    *        ∪ { target rows whose key is NOT an applyChanged key }
    *
    * (kept rows are byte-identical target rows; an inserted key never
    * exists in the target, so "key not in changed keys" selects exactly
    * the skip + target-only rows). A sink that can copy kept rows
    * STORE-SIDE — the staged JDBC rebuild,
    * [[graft.pipeline.Sinks.overwriteJdbcViaStagingDelta]] — ships only
    * this frame over the wire: O(changes) rows instead of O(target), the
    * guide §2.3 "move the heavy bytes once" rule applied to a database
    * sink. Equality with [[apply]] is spec-pinned (MergeSpec r18).
    */
  def applyChanged(src: DataFrame, tgt: DataFrame, keys: Seq[String],
                   now: Column = current_timestamp()): DataFrame = {
    val dataCols = src.columns.filterNot(AuditCols.contains).toSeq
    val (inserted, _) = insertedAbove(src, tgt, keys, dataCols, maxId(tgt), now)
    updatedOnly(src, tgt, keys, dataCols, now)
      .select((dataCols ++ AuditCols).map(col): _*).unionByName(inserted)
  }

  /** The update branch of [[keptOrUpdated]] alone — an INNER join (only
    * matched keys can update) plus the hash-differs filter; the target
    * side prunes to keys + audit columns (data comes from the source), so
    * a remote target scan fetches far narrower rows than the kept+updated
    * form needs.
    */
  private def updatedOnly(src: DataFrame, tgt: DataFrame, keys: Seq[String],
                          dataCols: Seq[String], now: Column): DataFrame = {
    val hashed = src.select(dataCols.map(col): _*)
      .withColumn("__s_hash", RowHash.rowHash(dataCols))
      .select(dataCols.map(c => col(c).as(s"__s_$c")) :+ col("__s_hash"): _*)
    val t = tgt.select((keys ++ AuditCols).map(col): _*)
    t.join(hashed, keys.map(k => t(k) === hashed(s"__s_$k")).reduce(_ && _))
      .filter(col("row_hash") =!= col("__s_hash"))
      .select(dataCols.map(c => col(s"__s_$c").as(c)) ++ Seq(
        col("id"),
        col("__s_hash").as("row_hash"),
        col("created_at"),
        now.as("updated_at")): _*)
  }

  /** Kept + updated rows in ONE left-outer pass over the target:
    *   tgt-only row        -> kept byte-identical (no-delete)
    *   match, hash equal   -> kept byte-identical (skip)
    *   match, hash differs -> update: source data, target id/created_at,
    *                          refreshed hash, bumped updated_at
    * (The former classify-then-filter×3 form re-ran the SHA-256 classify
    * join once per output branch plus an anti-join — 4 passes.)
    */
  private def keptOrUpdated(src: DataFrame, tgt: DataFrame, keys: Seq[String],
                            dataCols: Seq[String], now: Column): DataFrame = {
    val hashed = src.select(dataCols.map(col): _*)
      .withColumn("__s_hash", RowHash.rowHash(dataCols))
      .select(dataCols.map(c => col(c).as(s"__s_$c")) :+ col("__s_hash"): _*)
    val t = tgt.select((dataCols ++ AuditCols).map(col): _*)
    val joined = t.join(hashed,
      keys.map(k => t(k) === hashed(s"__s_$k")).reduce(_ && _), "left_outer")
    val isUpdate = col("__s_hash").isNotNull && col("row_hash") =!= col("__s_hash")
    joined.select(dataCols.map(c =>
        when(isUpdate, col(s"__s_$c")).otherwise(col(c)).as(c)) ++ Seq(
        col("id"),
        when(isUpdate, col("__s_hash")).otherwise(col("row_hash")).as("row_hash"),
        col("created_at"),
        when(isUpdate, now).otherwise(col("updated_at")).as("updated_at")): _*)
  }

  /** Insert rows (no id yet) from a key-only anti-join: the target scan is
    * column-pruned to the keys and the SHA-256 hash runs over the insert
    * sliver only, not the whole source.
    */
  private def insertRows(src: DataFrame, tgt: DataFrame, keys: Seq[String],
                         dataCols: Seq[String], now: Column): DataFrame =
    src.select(dataCols.map(col): _*)
      .join(tgt.select(keys.map(col): _*), keys, "left_anti")
      .withColumn("row_hash", RowHash.rowHash(dataCols))
      .withColumn("created_at", now)
      .withColumn("updated_at", now)

  /** S10 at merge time: align the target to an evolved source before
    * [[apply]] — any data column the source added is created on the target
    * as a typed NULL (the reference's `ALTER TABLE ADD COLUMN IF NOT
    * EXISTS`, server.py:116-119). The first merge after evolution
    * reclassifies every matched row as an update (the hash basis now
    * includes the new column) and backfills it — the same full update pass
    * the reference performs; the merge after that is all-skip again.
    */
  def evolveTarget(src: DataFrame, tgt: DataFrame): DataFrame = {
    val have = tgt.columns.map(_.toLowerCase).toSet
    src.schema.fields
      .filterNot(f => have(f.name.toLowerCase) || AuditCols.contains(f.name))
      .foldLeft(tgt)((t, f) => t.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** A10: duplicate-key audit — keys seen more than once in `df`. The
    * reference logs these as data-quality symptoms
    * (sync_INCREMENTAL.py:250-263); here it is a first-class operator.
    */
  def duplicateKeyAudit(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** A10b: null-key audit — rows with any null key part. */
  def nullKeyAudit(df: DataFrame, keys: Seq[String]): DataFrame =
    df.filter(keys.map(col(_).isNull).reduce(_ || _))

  /** SCD2 (validity-interval) merge: where [[apply]] updates in place
    * (SCD1, the reference's semantics), this keeps HISTORY — each change
    * closes the key's open version (`valid_to = now`) and opens a new one
    * (`valid_from = now`, `valid_to = NULL`). Unchanged keys and already-
    * closed history rows pass through untouched, so repeated application
    * with an unchanged source is a fixpoint ([[apply]]'s idempotence
    * invariant, lifted to histories). No-delete carries over too: keys
    * absent from the source keep their open version.
    *
    * `hist` must carry the source's data columns plus `row_hash`
    * (the [[classify]] basis, computed at version creation), `valid_from`,
    * and `valid_to` (NULL = open). `now` is injectable for deterministic
    * tests/oracles, like [[apply]].
    *
    * Scale shape: one [[classify]] join (broadcast/SMJ per AQE), one
    * semi/anti-join pair against the bounded changed-key set, and a
    * unionByName — no window over the whole history, no driver state.
    */
  def scd2Apply(src: DataFrame, hist: DataFrame, keys: Seq[String],
                now: Column): DataFrame = {
    val have = hist.columns.map(_.toLowerCase).toSet
    val missing = Seq("row_hash", "valid_from", "valid_to").filterNot(have)
    require(missing.isEmpty, s"scd2Apply: hist lacks $missing")
    val history = hist.filter(col("valid_to").isNotNull)
    val current = hist.filter(col("valid_to").isNull)
    // Materialize the classify join before the union fans it out into
    // three consumers (closed/stillCurrent/newVersions) — without the
    // count() the first action could compute the join once per branch
    // before the cache populates. Pinned until LRU eviction or
    // `spark.catalog.clearCache()` (the gapFillDaily trade).
    val classified = classify(src, current, keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    classified.count()
    val updKeys = classified.filter(col(ActionCol) === Update)
      .select(keys.map(col): _*)
    val closed = current.join(updKeys, keys, "left_semi")
      .withColumn("valid_to", now)
    val stillCurrent = current.join(updKeys, keys, "left_anti")
    // case-insensitive type lookup: the guard above accepts any casing,
    // so the schema access must too (StructType.apply is case-SENSITIVE)
    val validToType = current.schema
      .find(_.name.equalsIgnoreCase("valid_to")).get.dataType
    val newVersions = classified.filter(col(ActionCol) =!= Skip)
      .select(src.columns.map(col) :+ col("src_hash").as("row_hash"): _*)
      .withColumn("valid_from", now)
      .withColumn("valid_to", lit(null).cast(validToType))
    history
      .unionByName(closed)
      .unionByName(stillCurrent)
      .unionByName(newVersions)
  }

  /** SCD2 point-in-time reader — the natural consumer of [[scd2Apply]]'s
    * history: select, for each key, the version that was valid at `ts`
    * (`valid_from <= ts AND (valid_to IS NULL OR valid_to > ts)`). By
    * scd2 construction validity intervals per key are disjoint, so this
    * returns at most one row per key with no window or dedup needed; keys
    * first inserted after `ts` simply don't appear.
    *
    * Scale shape: a pure codegen'd filter — both predicates push down to
    * the history scan (and prune partitions when the history is
    * partitioned on validity), so a point-in-time read of a 100 TB
    * history touches only the row groups whose min/max straddle `ts`.
    */
  def scd2AsOf(hist: DataFrame, ts: Column): DataFrame =
    hist.filter(col("valid_from") <= ts &&
      (col("valid_to").isNull || col("valid_to") > ts))
}
