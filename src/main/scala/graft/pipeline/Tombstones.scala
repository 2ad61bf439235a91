package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DELETES for the persisted index families (late r17) — the lifecycle
  * verb a real training-data pipeline cannot ship without: takedowns,
  * licensing changes, and contamination discovered after indexing all
  * require removing documents from indexes that were built append-only.
  * A rebuild per takedown is O(corpus); this is the standard
  * tombstone design (an LSM/segment-store idea re-expressed for flat
  * parquet indexes):
  *
  *   - [[delete]] appends the doomed ids to `<root>/_tombstones/` —
  *     O(batch), exactly-once under `batchTag`, tags namespaced `del-`.
  *   - probes call [[exclude]] — one anti-join of the index rows
  *     against the tombstone set. Tombstones are usually tiny next to
  *     the corpus; AQE picks the broadcast side.
  *   - [[purge]] physically removes tombstoned rows with a staged
  *     rebuild that copies every `_`-sidecar forward EXCEPT the
  *     tombstones themselves and carries the exactly-once markers, so a
  *     crash-replayed append OR delete arriving after the purge still
  *     no-ops. A re-append of a previously deleted id after a purge is
  *     a fresh row, as expected.
  *
  * Deleting an id not in the index is a no-op by construction (the
  * anti-join matches nothing) — idempotent, like DELETE anywhere.
  * Single-writer per index for delete/purge, like every maintenance
  * verb in this repo; [[exclude]] is read-side and safe always.
  */
object Tombstones {

  def tombstonePath(indexRoot: String): String = s"$indexRoot/_tombstones"

  /** Append a batch of doomed ids (distinct-ed; the column is stored as
    * `id` whatever its source name) through [[IndexLifecycle.append]]; a
    * replay would re-append every id. Tags are namespaced `del-`, so a
    * stream that appends AND deletes under one batch id cannot collide.
    * The ids are counted per id once, and a tagged batch's signature is
    * observed after that aggregate in the write's own pass (the sum over
    * the groups of count × hash equals the per-row sum), so a first tagged
    * delete is one write; the NULL group counts in the signature and is
    * not written.
    */
  def delete(ids: DataFrame, idCol: String, indexRoot: String,
             batchTag: Option[String] = None): Unit = {
    val path = tombstonePath(indexRoot)
    val perId = ids.select(col(idCol).as("id")).groupBy("id").agg(count(lit(1)).as("n"))
    IndexLifecycle.append(indexRoot, batchTag.map(t => s"del-$t"), perId, Seq("id"),
      Seq(path), weightCol = Some("n")) { c =>
      c.append(c.frame.filter(col("id").isNotNull).select("id"), path)
    }: Unit
  }

  /** The current tombstone set, or None when none have ever been
    * written (the overwhelmingly common case — callers skip the join
    * entirely). The schema comes from a footer ([[Sinks.readParquet]]).
    */
  def tombstones(spark: SparkSession, indexRoot: String): Option[DataFrame] = {
    val p = tombstonePath(indexRoot)
    if (Sinks.exists(spark, p)) Some(Sinks.readParquet(spark, p).select("id"))
    else None
  }

  /** Drop `df`'s rows whose `idCol` is tombstoned — the probe-side hook.
    * No tombstones → `df` unchanged (no join in the plan at all).
    */
  def exclude(df: DataFrame, indexRoot: String,
              idCol: String = "id"): DataFrame =
    tombstones(df.sparkSession, indexRoot).fold(df)(excludeIds(df, _, idCol))

  private def excludeIds(df: DataFrame, tombs: DataFrame, idCol: String): DataFrame =
    df.join(tombs.withColumnRenamed("id", "__tomb_id"),
      df(idCol) === col("__tomb_id"), "left_anti")

  /** Copy every `_`-prefixed sidecar directory from `fromRoot` into
    * `stagedRoot`, except `_tombstones` (the purge consumes them) and
    * `_committed` (the rebuild carries the markers). Family-agnostic:
    * `_meta`, `_centroids`, `_books`, `_rotation` all ride through
    * untouched.
    */
  def copySidecars(spark: SparkSession, fromRoot: String,
                   stagedRoot: String): Unit = {
    val src = new Path(fromRoot)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(src)) fs.listStatus(src).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("_") &&
          n != "_tombstones" && n != "_committed") {
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(stagedRoot, n), false,
          spark.sparkContext.hadoopConfiguration): Unit
      }
    }
  }

  /** Physically remove tombstoned rows: an [[IndexLifecycle.rebuild]] of
    * the data rows minus the tombstone set, sidecars carried forward,
    * tombstones cleared by the swap itself (the new root simply has none).
    * Returns the number of rows REMOVED — the footers' row counts before
    * and after the swap, so no count job; no tombstones → no-op returning
    * 0 (the index is untouched).
    *
    * `partitionCols` must name the index's partition layout (e.g.
    * `cell` for the IVF-shaped families) so the rewritten index keeps
    * its pruning structure.
    */
  def purge(spark: SparkSession, indexRoot: String,
            idCol: String = "id",
            partitionCols: Seq[String] = Nil): Long =
    tombstones(spark, indexRoot) match {
      case None => 0L
      case Some(tombs) =>
        val kept = excludeIds(Sinks.readParquet(spark, indexRoot), tombs, idCol)
        val nBefore = Sinks.countVerify(spark, indexRoot)
        IndexLifecycle.rebuild(spark, indexRoot) { staged =>
          kept.write.partitionBy(partitionCols: _*).parquet(staged)
          copySidecars(spark, indexRoot, staged)
        }
        nBefore - Sinks.countVerify(spark, indexRoot)
    }
}
