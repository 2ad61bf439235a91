package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** The lifecycle every persisted index family shares: its appends, its
  * scalar parameters sidecar and its staged rebuilds. A family supplies
  * the rows it writes and how it probes them; these verbs decide how the
  * rows land, how the parameters are pinned and read, and what survives a
  * rebuild.
  *
  * Single-writer per index, like every append/maintenance path in this
  * repo: the marker check, the create guard and the staged swap are each
  * check-then-act.
  */
object IndexLifecycle {

  /** Append one batch to the index at `indexRoot`: `write` builds its rows
    * from [[BatchAppend.Commit.frame]] and appends them with
    * [[BatchAppend.Commit.append]] into `dataDirs`. Returns whether the
    * write ran.
    *
    * With no `batchTag` the rows are plain `SaveMode.Append` files: no
    * marker, no clearing, no signature — for single-shot callers.
    *
    * With a `batchTag` the append is EXACTLY-ONCE. Hosted in
    * `foreachBatch`, every side effect is at-least-once (after a crash the
    * engine replays the last batch id), and a double-appended batch
    * silently corrupts an index whose rows add up or repeat. The batch's
    * content signature ([[BatchAppend.contentSig]] of `batch` over
    * `sigCols`, rows weighted by `weightCol` when given) decides:
    *   - marker `<indexRoot>/_committed/<tag>-<sig>` present → the batch
    *     is durable; the append is a no-op (the replay case);
    *   - a marker for `<tag>` with a DIFFERENT signature → loud lineage
    *     error (a stream restarted from a lost/reset checkpoint renumbers
    *     batch ids over old sink dirs; silently skipping would drop the new
    *     data, silently appending would double the old);
    *   - no marker → delete any `batch-<tag>-<k>.*` data files under
    *     `dataDirs` (a crashed attempt's partial commit — removing them
    *     first also restores the exact pre-batch state the recomputation
    *     must read), run `write`, whose files are named `batch-<tag>-<k>`,
    *     then create the marker LAST. Every crash point therefore replays
    *     to exactly one committed copy.
    *
    * Markers and data files are matched by their whole name, so one tag
    * that is another plus `-…` (`crawl` and `crawl-2`) never reads or
    * clears the other's state. Data files commit by per-file rename out of
    * a dot-prefixed staging directory (a reader never sees a torn file);
    * the `_`-prefixed marker directory is invisible to Spark's data
    * listing, and [[rebuild]] carries it forward, so a replay arriving
    * after a compaction or retrain still no-ops.
    *
    * A first commit observes the signature in the pass that writes the
    * rows when they are a narrow map of `batch`, so it costs only its
    * writes; rows grouped or joined above the batch pay one signature job,
    * and a committed replay costs the marker listing and one signature
    * job. `write` must not depend on the value of the signature.
    */
  def append(indexRoot: String, batchTag: Option[String], batch: DataFrame,
             sigCols: Seq[String], dataDirs: Seq[String],
             weightCol: Option[String] = None)(write: BatchAppend.Commit => Unit): Boolean =
    batchTag.fold { write(new BatchAppend.Commit(batch, dataDirs)); true } { tag =>
      BatchAppend.exactlyOnce(indexRoot, tag, batch, sigCols, dataDirs, weightCol)(write)
    }

  /** Rebuild the index root `indexRoot` as one staged unit: `build` writes
    * the new root's data and sidecars into the staging directory it is
    * given, the `_committed` markers are carried over, and the staged root
    * swaps in ([[Sinks.swapStagedRoot]]): readers see the old index or the
    * new, never a half state. Anything `build` does not write (tombstones,
    * correction tables) vanishes with the old root. Carrying the markers is
    * what keeps a batch the rebuild folded in reading as committed — a
    * replay arriving afterwards would otherwise re-append it. Families
    * whose data live in a subdirectory (`sketches/`, `edges/`) compact that
    * subdirectory alone and never touch the root's markers.
    */
  def rebuild(spark: SparkSession, indexRoot: String)(build: String => Unit): Unit =
    Sinks.swapStagedRoot(spark, indexRoot) { staged =>
      build(staged)
      BatchAppend.preserveMarkers(spark, indexRoot, staged)
    }

  /** The create guard of an index whose parameters live in `root/meta`:
    * an existing sidecar means an index with an append history, which
    * re-running the create step `what` would destroy — it fails unless the
    * caller opts into replacement with `overwrite`.
    */
  def requireNew(spark: SparkSession, root: String, overwrite: Boolean,
                 what: String, appendVerb: String): Unit =
    require(overwrite || !Sinks.exists(spark, s"$root/meta"),
      s"$what: an index already exists at $root — re-running the create " +
        "step would destroy its accumulated append history. Use " +
        s"$appendVerb for new batches, or pass overwrite = true to rebuild " +
        "deliberately")

  /** Write `params`, an index's scalar parameters, as the one-file sidecar
    * at `sidecar`, replacing any earlier one.
    */
  def writeParams(params: DataFrame, sidecar: String): Unit =
    params.coalesce(1).write.mode(SaveMode.Overwrite).parquet(sidecar)

  /** The rows of the parameters sidecar at `sidecar`, as `fields`, read on
    * the driver ([[Sinks.driverRows]]) with no Spark job. A missing or
    * unreadable sidecar, or one lacking a field, raises `missing` of the
    * cause; one holding no row — or, when `single`, other than one row — is
    * malformed (`IllegalArgumentException`).
    */
  def readParams(spark: SparkSession, sidecar: String, fields: Seq[String],
                 what: String, single: Boolean = true)
                (missing: Exception => Exception): Seq[Row] = {
    val rows =
      try Sinks.driverRows(spark, sidecar).map(g => Row.fromSeq(fields.map(paramValue(g, _))))
      catch { case e: Exception => throw missing(e) }
    val p = new Path(sidecar)
    require(rows.nonEmpty && (!single || rows.length == 1),
      s"$what: ${p.getParent} has a malformed ${p.getName} sidecar")
    rows
  }

  /** [[readParams]]'s `missing` for the families whose `meta` sidecar is
    * what makes a directory an index of `kind`.
    */
  def notAnIndex(what: String, root: String, kind: String)(e: Exception): Exception =
    new IllegalArgumentException(
      s"$what: $root is not a $kind index (missing meta sidecar): ${e.getMessage}", e)

  private def paramValue(g: org.apache.parquet.example.data.Group, field: String): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    if (g.getFieldRepetitionCount(field) == 0) null
    else g.getType.getType(field).asPrimitiveType.getPrimitiveTypeName match {
      case INT32 => g.getInteger(field, 0)
      case INT64 => g.getLong(field, 0)
      case DOUBLE => g.getDouble(field, 0)
      case BINARY => g.getString(field, 0)
      case t => throw new IllegalStateException(s"parameter $field has unsupported type $t")
    }
  }
}
