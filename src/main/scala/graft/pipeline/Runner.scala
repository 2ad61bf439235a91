package graft.pipeline

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors,
  ThreadFactory}

import graft.functions.RowHash
import graft.operators.{Filters, Merge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** P3: the per-table pipeline loop — scan → filter → (semi-join) → audit
  * columns → full-refresh or hash-diff merge — with per-table error
  * isolation and a summary (reference sync_ALL.py:328-368,
  * sync_INCREMENTAL.py:509-558).
  *
  * Pure DataFrame-in/DataFrame-out; the sink is parameterized so tests run
  * against in-memory targets and production runs write parquet. Tables are
  * independent (the reference runs them one after another only because it
  * is forced sequential), so [[runAll]] and [[syncIncremental]] run them
  * concurrently: each call starts a fresh pool of at most
  * `min(tables, defaultParallelism)` daemon threads and Spark's scheduler
  * interleaves the tables' jobs, which are mostly one task each. Results
  * keep spec order; spec names must be distinct, since each table owns its
  * target path and its `__staging` sibling.
  */
object Runner {

  final case class TableResult(table: String, rows: Long, error: Option[String],
                               mode: String = "")

  /** Build the loaded (pre-sink) frame for one table spec: [[loadBare]]
    * plus [[withAudit]]'s audit columns (hash over ALL pre-audit columns —
    * the one hash basis shared with Merge.classify). Ids are dense 1..n in
    * natural-key order when the spec has one, in partition order otherwise —
    * both minted with no single-partition window stage
    * (RowHash.withAuditColumns' scale-safe default). Eager: minting the ids
    * runs Spark jobs before this returns.
    */
  def loadTable(spark: SparkSession, sfDir: String, spec: TableSpec): DataFrame =
    withAudit(loadBare(spark, sfDir, spec), spec)

  /** The source rows one table spec selects: scan → filters → optional
    * semi-join, with no audit columns. Lazy — builds a plan, runs no job.
    * This is the frame the hash-diff merge consumes: Merge hashes its
    * source itself and mints ids only for inserts.
    */
  def loadBare(spark: SparkSession, sfDir: String, spec: TableSpec): DataFrame = {
    var df = TableSpec.read(spark, sfDir, spec.name)
    if (spec.filters.nonEmpty) df = df.filter(Filters.all(spec.filters))
    spec.semiJoin.foreach { case (buildTable, buildKey, probeKey) =>
      val build = TableSpec.read(spark, sfDir, buildTable)
      df = Filters.semiJoinIn(df, probeKey, build, buildKey)
    }
    df
  }

  /** The audit step of [[loadTable]]: `id`, `row_hash`, `created_at`,
    * `updated_at` over a [[loadBare]] frame — key-ordered ids when the
    * spec has a key, partition-ordered otherwise.
    */
  def withAudit(bare: DataFrame, spec: TableSpec): DataFrame =
    if (spec.keys.nonEmpty) RowHash.withAuditColumns(bare, spec.keys)
    else {
      import org.apache.spark.sql.functions.current_timestamp
      Sinks.withDenseId(RowHash.withRowHash(bare))
        .withColumn("created_at", current_timestamp())
        .withColumn("updated_at", current_timestamp())
    }

  /** Run every spec; `sink` persists each frame (e.g. parquet overwrite, or
    * a Merge.apply against existing state for Incremental mode). Tables run
    * concurrently (see [[Runner]]): `sink` may be called for different
    * tables at the same time, from threads other than the caller's, so
    * whatever state it shares across tables must be thread-safe.
    */
  def runAll(spark: SparkSession, sfDir: String, specs: Seq[TableSpec])
            (sink: (TableSpec, DataFrame) => Long): Seq[TableResult] =
    eachTable(spark, specs) { spec =>
      try {
        val rows = sink(spec, loadTable(spark, sfDir, spec))
        TableResult(spec.name, rows, None)
      } catch {
        case e: Exception => TableResult(spec.name, -1, Some(e.toString))
      }
    }

  /** The reference's `/run/clean` (clean_all_tables.py:43-48): drop every
    * spec's target table. Returns the names actually removed.
    */
  def cleanAll(spark: SparkSession, specs: Seq[TableSpec],
               basePath: String): Seq[String] =
    specs.map(_.name).filter(n => Sinks.drop(spark, s"$basePath/$n"))

  /** Incremental sink helper: merge loaded source into existing target. */
  def mergeInto(src: DataFrame, tgt: DataFrame, keys: Seq[String]): DataFrame =
    Merge.apply(src.drop("row_hash", "created_at", "updated_at"),
      tgt, keys)

  /** The reference's incremental entry end to end
    * (sync_INCREMENTAL.py:509-558): per table — full refresh when the spec
    * says so, when the configured key proves unreliable (duplicate keys →
    * same fallback as sync_INCREMENTAL.py:46-48), or on bootstrap;
    * hash-diff merge into the existing parquet state otherwise
    * (schema-evolving the target first), committed via a staging swap
    * because the merge plan reads the path it replaces — with per-table
    * error isolation and a count-verified summary (`TableResult.mode`
    * records which path ran), like the reference's RESUMEN FINAL. Tables
    * run concurrently, as in [[runAll]].
    */
  def syncIncremental(spark: SparkSession, sfDir: String, specs: Seq[TableSpec],
                      basePath: String, keyAudit: Boolean = true): Seq[TableResult] =
    eachTable(spark, specs) { spec =>
      val path = s"$basePath/${spec.name}"
      try {
        // Bare rows: the merge branch hashes its source itself and mints
        // ids only for inserts, so the audit columns (and the jobs that
        // mint them) are paid only on the branches that write them.
        val src = loadBare(spark, sfDir, spec)
        def refresh(mode: String) = (Sinks.fullRefresh(withAudit(src, spec), path), mode)
        val (rows, mode) =
          if (spec.refreshMode == RefreshMode.FullRefresh || !Sinks.exists(spark, path))
            refresh("full_refresh")
          else mergeStaged(spark, src, spec, path, keyAudit)
            .map(n => (n, "incremental"))
            .getOrElse {
              val done = refresh("full_refresh_fallback_dup_keys")
              markKeysRepeat(spark, path)
              done
            }
        TableResult(spec.name, rows, None, mode)
      } catch {
        case e: Exception => TableResult(spec.name, -1, Some(e.toString))
      }
    }

  /** Hash-diff merge `src` into the parquet table at `path` and swap the
    * result in: Some(rows written), or None — nothing written — when the
    * key proves unreliable, i.e. when `Merge.duplicateKeyAudit(src, keys)`
    * is non-empty. The reference falls back to full refresh for such
    * tables (sync_INCREMENTAL.py:46-48, 270-343): duplicate keys fan out
    * the merge join. The proof rides the merge's own work instead of an
    * audit pass ([[Merge.applyCounted]]): the insert mint's count job says
    * whether two inserts share a key, and the staged output must hold
    * exactly the target's footer row count plus the inserts, or some
    * target row matched two source rows. With `keyAudit = false` (callers
    * who bound key quality elsewhere) the merge is swapped in unchecked.
    *
    * The count check finds a repeated matched key only after the merge is
    * staged, and by then the merge has fanned out: a key with r copies in
    * the source and m in the target stages r·m rows. After a fallback the
    * target holds the source's repeats, so a key that keeps repeating would
    * pay that every cycle (a table bootstrapped from a source whose key
    * already repeats pays it once). A fallback therefore leaves a
    * [[KeysRepeatMark]] in the table it writes, and while the mark is
    * there the audit runs first, as the reference's does: a still-repeating
    * key falls back with nothing staged. A merge keeps every target row,
    * repeats included, so a merged table keeps its mark; only a full
    * refresh that is no fallback drops it.
    */
  private def mergeStaged(spark: SparkSession, src: DataFrame, spec: TableSpec,
                          path: String, keyAudit: Boolean): Option[Long] = {
    val marked = Sinks.exists(spark, s"$path/$KeysRepeatMark")
    if (keyAudit && marked && Merge.duplicateKeyAudit(src, spec.keys).limit(1).count() > 0) None
    else {
      val tgt = Merge.evolveTarget(src, Sinks.readParquet(spark, path))
      // the id watermark from footers: no max(id) job over the target
      val applied = Merge.applyCounted(src, tgt, spec.keys, Sinks.targetMaxId(spark, path))
      // Merge emits data-then-audit column order; keep the stored layout
      // stable across runs (evolved columns append) and its spelling (names
      // match case-insensitively, as evolveTarget matches them). A column
      // the SOURCE dropped is absent from the merge output — the stored
      // schema follows the source (the source of truth), intersecting here
      // instead of failing the table forever.
      val out = applied.merged.select(tgt.columns.toIndexedSeq.flatMap(c =>
        applied.merged.columns.find(_.equalsIgnoreCase(c)).map(m => col(m).as(c))): _*)
      val keepMark: String => Unit = staging => if (marked) markKeysRepeat(spark, staging)
      if (!keyAudit) Some(Sinks.overwriteViaStagingWith(out, path)(keepMark))
      else if (applied.insertKeysRepeat) None
      else {
        val expected = Sinks.countVerify(spark, path) + applied.inserts
        Sinks.overwriteViaStagingIf(out, path, keepMark) { n =>
          if (n < expected) throw new IllegalStateException(
            s"Runner: merged ${spec.name} holds $n rows, fewer than the target " +
              s"plus its inserts ($expected)")
          n == expected
        }
      }
    }
  }

  /** The file a duplicate-key fallback leaves in the table it writes: the
    * table may hold repeated keys. `_`-prefixed, so no parquet reader
    * sees it.
    */
  private val KeysRepeatMark = "_keys_repeat"

  private def markKeysRepeat(spark: SparkSession, path: String): Unit = {
    val mark = new org.apache.hadoop.fs.Path(path, KeysRepeatMark)
    mark.getFileSystem(spark.sparkContext.hadoopConfiguration).create(mark, true).close()
  }

  /** `f` over `specs`, results in spec order, on a fresh pool of
    * `min(specs.size, defaultParallelism)` daemon threads (in the caller's
    * thread when that is 1). The pool is made per call, never shared:
    * Spark's local properties (job group, description, scheduler pool) and
    * the active session are inheritable thread-locals, copied when a thread
    * is created, so every pool thread carries the caller's and a reused
    * thread would carry another caller's. `f` isolates its own table's
    * exceptions; anything else it throws is rethrown, unwrapped, once every
    * table has finished.
    */
  private def eachTable[R](spark: SparkSession, specs: Seq[TableSpec])
                          (f: TableSpec => R): Seq[R] = {
    val dups = specs.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    require(dups.isEmpty,
      s"Runner: duplicate table spec names ${dups.toSeq.sorted.mkString(", ")}: " +
        "tables sharing a name would race on one target path")
    val width = math.min(specs.size, spark.sparkContext.defaultParallelism)
    if (width <= 1) specs.map(f)
    else {
      val threads = new ConcurrentLinkedQueue[Thread]
      val pool = Executors.newFixedThreadPool(width, new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-runner-${threads.size + 1}")
          t.setDaemon(true)
          threads.add(t)
          t
        }
      })
      try {
        val running =
          specs.toVector.map(spec => pool.submit(new Callable[R] { def call(): R = f(spec) }))
        val done = running.map { r =>
          try Right(r.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        done.map(_.fold(e => throw e, identity))
      } finally {
        // Every table has finished here unless the caller was interrupted,
        // and then the wait lets the running ones finish: no pool thread,
        // and no job it started, outlives the call.
        pool.shutdown()
        threads.forEach(_.join())
      }
    }
  }
}
