package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Row fingerprinting for CDC / idempotent merge.
  *
  * Semantics derived from the reference's `calculate_row_hash`
  * (sync_ALL.py:184-191, sync_INCREMENTAL.py:169-176, spec at
  * context/context.md:1223-1241): SHA-256 over the `'|'`-joined values of the
  * **alphabetically sorted** column names; NULL / empty-string / missing
  * values render as the literal string `"NULL"`.
  *
  * Parity note: the reference renders `str(val) if val else 'NULL'` — Python
  * truthiness — but its rows always come from `csv.DictReader`, so every
  * value is a *string* and the only falsy values are `''` and `None`
  * (the string `'0'` is truthy and hashes as `'0'`). `cell` reproduces
  * exactly that: null/empty → "NULL", everything else its string form. For
  * typed columns we render via `cast(string)`, which means numeric 0 hashes
  * as "0" — same as the reference's CSV string "0". Byte parity therefore
  * holds for the reference's real data flow; it would diverge only if the
  * reference were fed pre-typed numerics, a path it does not have.
  *
  * Implemented as native codegen'd expressions (`sha2(concat_ws(...))`), no
  * UDF — the whole hash stays inside whole-stage codegen, so at 100 TB this
  * is a pure map-side projection with zero shuffle.
  */
object RowHash {

  /** Render one column exactly like the reference renders a CSV cell:
    * null or empty string => "NULL", else the string value.
    * Note: values are rendered from the *string form* of the column —
    * compute hashes before lossy casts when byte parity matters
    * (SURVEY.md §7.4 trap 1).
    */
  def cell(c: Column): Column = {
    val s = c.cast(StringType)
    when(s.isNull || s === "", lit("NULL")).otherwise(s)
  }

  /** Dense 1..n ids in global `sortCols` order with NO single-partition
    * stage: range-repartition on the sort key (equal keys land in one
    * partition), sort within partitions, then [[denseIdByPartitionOffset]].
    * Output is identical to `row_number().over(Window.orderBy(sortCols))` —
    * partition order equals global sort order — but every stage stays
    * distributed AND inside whole-stage codegen (the former RDD
    * zipWithIndex form dropped the whole downstream stage out of Tungsten),
    * so it holds at any scale. The one requirement carried by callers:
    * `sortCols` must be a total order (append a unique tiebreak such as
    * `row_hash`).
    *
    * Eager: the exchange and one count job run before this returns; the
    * returned frame reads the frozen rows.
    */
  def orderedDenseId(df: DataFrame, sortCols: Seq[Column],
                     idCol: String): DataFrame =
    mintOrdered(df, sortCols, idCol, Nil).df

  /** An [[orderedDenseIdByKeys]] result: the id-tagged frame, its row
    * count, and whether two rows share a key.
    */
  final case class KeyedIds(df: DataFrame, rows: Long, keysRepeat: Boolean)

  /** [[orderedDenseId]] in `keys` order that also reports, from the same
    * count job, the row count and whether any key occurs twice. Keys are
    * compared null-safe under the sort's ordering — the equality `groupBy`
    * uses (NULLs equal, NaN equal, -0.0 equal to 0.0) — and after the range
    * partition and sort equal keys sit next to each other in one partition,
    * so comparing adjacent rows finds every repeat. When keys repeat the
    * ids among the tied rows are arbitrary.
    */
  def orderedDenseIdByKeys(df: DataFrame, keys: Seq[String],
                           idCol: String): KeyedIds =
    mintOrdered(df, keys.map(col), idCol, keys)

  private def mintOrdered(df: DataFrame, sortCols: Seq[Column], idCol: String,
                          tieKeys: Seq[String]): KeyedIds =
    denseIdByPartitionOffset(
      df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
        // Local checkpoint — load-bearing, NOT an optimization. The mint
        // reads its input twice (a count job, then the tagged pass), so the
        // row->partition assignment must be the same both times, and a plan
        // compiled twice does not guarantee that: RangePartitioner seeds
        // its reservoir sampling from the RDD id, minted afresh per
        // compilation, so two actions over the bare frame can land boundary
        // rows in DIFFERENT partitions. `localCheckpoint` compiles the plan
        // ONCE — it runs the exchange (sampling and map stage) right here —
        // and returns a frame over that single RDD; both passes read it.
        // Lazy (`false`) is enough: the count job is the first to compute
        // the RDD and fills the checkpoint as it goes, so the tagged pass
        // reads the stored InternalRow blocks (no external-Row round trip,
        // everything downstream inside whole-stage codegen) and no job is
        // spent filling it beforehand.
        .localCheckpoint(false),
      idCol, 0L, tieKeys)

  /** Mint dense `offset+1..offset+n` ids in partition-major row order
    * WITHOUT leaving columnar execution: the same two passes RDD
    * `zipWithIndex` runs — one count job over the physical rows (one
    * `(partition, rows)` pair per partition to the driver: metadata-scale),
    * then the tagged pass, expressed as codegen'd expressions: the
    * cumulative offsets come back as a map literal keyed on
    * `spark_partition_id()`, and the intra-partition row index is
    * `monotonically_increasing_id()`'s low 33 bits (its documented layout:
    * partitionId << 33 | rowIndexInPartition, assigned in row-production
    * order — here the post-sort order). The count job also reports whether
    * two adjacent rows of a partition are equal on `tieKeys` (never, when
    * there are none).
    *
    * PRECONDITION (why this is private): both passes run as separate
    * actions, so the input's row->partition assignment must be identical
    * across them — the caller must pass a frame over one frozen RDD
    * (checkpointed/cached), as [[orderedDenseId]] arranges. For arbitrary
    * un-materialized parents use `Sinks.withDenseId`, whose RDD
    * zipWithIndex freezes ONE physical plan for both of its jobs.
    */
  private def denseIdByPartitionOffset(df: DataFrame, idCol: String,
                                       offset0: Long, tieKeys: Seq[String]): KeyedIds = {
    val counts = partitionRowCounts(df, tieKeys)
    // The low-33-bit mask wraps silently if a single partition holds >= 2^33
    // rows; fail loudly instead of minting duplicate ids. (At 2^33 rows a
    // partition is already far past any sane partition sizing.)
    counts.find(_._2 >= (1L << 33)).foreach { case (pid, n, _) =>
      throw new IllegalStateException(
        s"denseIdByPartitionOffset: partition $pid holds $n rows >= 2^33; " +
          "repartition the input before minting ids")
    }
    var acc = offset0
    val offsets = counts.filter(_._2 > 0)
      .map { case (pid, n, _) => val o = acc; acc += n; pid -> o }
    val offsetCol =
      if (offsets.isEmpty) lit(offset0) // empty input: no rows to look up
      else element_at(
        map_from_arrays(array(offsets.map(p => lit(p._1)).toIndexedSeq: _*),
          array(offsets.map(p => lit(p._2)).toIndexedSeq: _*)),
        spark_partition_id())
    KeyedIds(
      df.withColumn(idCol, (monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1)) + offsetCol + lit(1L)).cast(LongType)),
      acc - offset0, counts.exists(_._3))
  }

  /** Rows per physical partition of `df`, in partition order, from ONE job
    * over its executed RDD — the partition index is the one
    * `spark_partition_id()` reports over the same frame — each with
    * whether two adjacent rows of the partition are equal on `tieKeys`
    * under their ascending sort ordering.
    */
  private def partitionRowCounts(df: DataFrame,
                                 tieKeys: Seq[String]): Array[(Int, Long, Boolean)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder,
      UnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val fields = df.schema.fields
    val keyRefs = tieKeys.map { k =>
      val i = fields.indexWhere(f => resolver(f.name, k))
      require(i >= 0, s"partitionRowCounts: no column $k in ${df.columns.mkString(", ")}")
      BoundReference(i, fields(i).dataType, fields(i).nullable)
    }
    // the ordering compares the projected key rows, ordinals 0..k-1
    val ordering = new LazilyGeneratedOrdering(keyRefs.zipWithIndex.map { case (r, i) =>
      SortOrder(BoundReference(i, r.dataType, r.nullable), Ascending)
    })
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      var n = 0L
      var tied = false
      if (keyRefs.nonEmpty) {
        // two projections, taking turns: each reuses its output row, so the
        // previous key stays valid while the other projects the next one,
        // with no copy per row
        val project = Array.fill(2)(UnsafeProjection.create(keyRefs))
        var prev: InternalRow = null
        while (!tied && rows.hasNext) {
          val key = project((n & 1).toInt)(rows.next())
          tied = prev != null && ordering.compare(prev, key) == 0
          prev = key
          n += 1
        }
      }
      // once a tie is found (or with no keys) only the count is left
      while (rows.hasNext) { rows.next(); n += 1 }
      Iterator.single((pid, n, tied))
    }.collect().sortBy(_._1)
  }

  /** SHA-256 hex fingerprint over the given columns, sorted by name. */
  def rowHash(colNames: Seq[String]): Column =
    sha2(concat_ws("|", colNames.sorted.map(n => cell(col(n))): _*), 256)

  /** All-columns fingerprint of a DataFrame. */
  def withRowHash(df: DataFrame, hashCol: String = "row_hash"): DataFrame =
    df.withColumn(hashCol, rowHash(df.columns.toSeq))

  /** Audit columns the reference appends to every sink table
    * (sync_ALL.py:234,242-244): surrogate `id` + `row_hash` +
    * `created_at`/`updated_at`. The hash basis is ALL pre-audit columns —
    * the single hash definition shared with `Merge.classify`. `now` is
    * injectable so tests/oracles can pin a literal timestamp.
    *
    * Ids are dense 1..n in global `(orderBy, row_hash)` order — row_hash as
    * tiebreak keeps id assignment deterministic even when the declared key
    * has duplicates (the synthetic lineitem does). The default mints them
    * WITHOUT a single-partition stage: range-repartition on the sort key
    * (equal keys land in one partition; RangePartitioner's sampling is
    * seeded per-partition, so bounds are deterministic for a deterministic
    * parent plan), sort within partitions, then zipWithIndex — partition
    * order equals global key order, so the ids match `row_number` over a
    * global window exactly, at any scale. `globalWindow = true` opts into
    * the literal single-partition `row_number` form (AUTO_INCREMENT parity
    * for small frames / plan-shape tests).
    */
  def withAuditColumns(df: DataFrame, orderBy: Seq[String],
                       now: Column = current_timestamp(),
                       globalWindow: Boolean = false): DataFrame = {
    val sortCols = orderBy.map(col) :+ col("row_hash")
    val hashed = withRowHash(df)
    val withId =
      if (globalWindow) {
        import org.apache.spark.sql.expressions.Window
        hashed.withColumn("id",
          row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
      } else orderedDenseId(hashed, sortCols, "id")
    withId
      .withColumn("created_at", now)
      .withColumn("updated_at", now)
      .select((Seq("id") ++ df.columns ++ Seq("row_hash", "created_at", "updated_at")).map(col): _*)
  }
}
