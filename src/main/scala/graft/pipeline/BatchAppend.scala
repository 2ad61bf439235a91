package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The marker mechanics of [[IndexLifecycle.append]]'s tagged branch,
  * where the exactly-once protocol is stated: content signatures,
  * `_committed/<tag>-<sig>` markers, clearing a crashed attempt's
  * `batch-<tag>-<k>` files, and committing a batch's files by per-file
  * rename. The batch's rows stay ordinary parquet files in the index's
  * ordinary layout, so estimate, probe and compact paths read them
  * unchanged.
  */
object BatchAppend {

  /** Order-independent content signature of `df` over `cols`: decimal sum
    * of per-row xxhash64 over the NUL-joined string forms, plus the row
    * count (the Streams.batchSig formula — full-range longs overflow a
    * long sum under ANSI, so the sum runs in decimal(38,0)). A genuine
    * foreachBatch replay re-delivers byte-identical content (same source
    * offsets), so the signature matches; a reset-lineage stream's
    * colliding batch id carries different content and mismatches.
    *
    * `weightCol`, when given, names a column of row multiplicities: each
    * row counts that many times, so a frame grouped by `cols` with its
    * group sizes in `weightCol` has the signature of its ungrouped rows.
    *
    * The sums are observed (`Dataset.observe`) on a pass that discards
    * the rows: one Spark job, plus whatever exchanges `df` itself plans —
    * the same observation [[exactlyOnce]] takes from a write's own pass.
    */
  def contentSig(df: DataFrame, cols: Seq[String],
                 weightCol: Option[String] = None): String = {
    val (s, n) = sigColumns(cols, weightCol)
    val obs = Observation()
    df.observe(obs, s, n).write.format("noop").mode("overwrite").save()
    observedSig(obs).getOrElse(throw new IllegalStateException(
      s"contentSig: the signature observed on $cols did not arrive within $ObservedSigWait"))
  }

  /** The signature's two aggregates, `s` and `n`. */
  private def sigColumns(cols: Seq[String],
                         weightCol: Option[String]): (Column, Column) = {
    val h = xxhash64(concat_ws("\u0000", cols.map(c => col(c).cast("string")): _*))
      .cast("decimal(38,0)")
    weightCol match {
      case None => (sum(h).as("s"), count(lit(1)).as("n"))
      case Some(w) => (sum(h * col(w).cast("decimal(38,0)")).as("s"),
        coalesce(sum(col(w).cast("long")), lit(0L)).as("n"))
    }
  }

  /** How long an observed signature is waited for once its action has
    * returned (observations are delivered on the listener bus).
    */
  private val ObservedSigWait = scala.concurrent.duration.Duration(60, "s")

  private def observedSig(obs: Observation): Option[String] =
    try {
      val r = scala.concurrent.Await.result(obs.future, ObservedSigWait)
      val s = r.get(0) match {
        case null => "0"
        case d: java.math.BigDecimal => d.toBigInteger.toString
      }
      Some(s"${s}_${r.getLong(1)}")
    } catch { case _: java.util.concurrent.TimeoutException => None }

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markerDir(indexRoot: String) = new Path(s"$indexRoot/_committed")

  /** The committed signature for `tag`, if any: the marker named
    * `<tag>-<sig>` whose remainder after `<tag>-` has the signature's shape.
    */
  private def committedSig(spark: SparkSession, indexRoot: String,
                           tag: String): Option[String] = {
    val dir = markerDir(indexRoot)
    val fs = fsOf(spark, dir)
    val marker = (java.util.regex.Pattern.quote(tag) + "-(-?\\d+_\\d+)").r
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath.getName)
      .collectFirst { case marker(sig) => sig }
  }

  private def writeMarker(spark: SparkSession, indexRoot: String,
                          tag: String, sig: String): Unit = {
    val p = new Path(markerDir(indexRoot), s"$tag-$sig")
    fsOf(spark, p).create(p, true).close()
  }

  /** Delete every `batch-<tag>-<k>.*` data file under `dir` — recursing
    * one partition level (`key=value` subdirs, for bucketed indexes like
    * the BM25 postings) — plus local-FS `.crc` twins and any stale staging
    * dir: a crashed attempt's partial commit. No-op when the directory
    * doesn't exist.
    */
  private def clearBatchFiles(spark: SparkSession, dir: String,
                              tag: String): Unit = {
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    val batchFile = ("\\.?batch-" + java.util.regex.Pattern.quote(tag) + "-\\d+\\..*").r
    def clear(p: Path): Unit =
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && batchFile.matches(n))
          fs.delete(st.getPath, false): Unit
        else if (st.isDirectory && n == s".batch-$tag-staging")
          fs.delete(st.getPath, true): Unit
        else if (st.isDirectory && n.contains("="))
          clear(st.getPath)
      }
    clear(root)
  }

  /** Append `rows` to `dir` as data files named `batch-<tag>-<k>`: write
    * to a dot-prefixed staging dir (readers skip it), then rename each
    * part file (and its local-FS checksum twin) to its deterministic
    * committed name — for partitioned appends (`partitionBy` non-empty),
    * each `key=value` subdir's files land in the matching subdir of
    * `dir`. Rename is the commit for each file; the marker is the commit
    * for the batch.
    */
  private def appendBatchFiles(rows: DataFrame, dir: String, tag: String,
                               partitionBy: Seq[String]): Unit = {
    val spark = rows.sparkSession
    val staging = s"$dir/.batch-$tag-staging"
    val stagingP = new Path(staging)
    val fs = fsOf(spark, stagingP)
    fs.delete(stagingP, true)
    val w = rows.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(staging)
    // (src part file, relative partition subpath) pairs, sorted for
    // deterministic committed names
    def walk(p: Path, rel: String): Seq[(Path, String)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith("part-")) Seq(st.getPath -> rel)
        else if (st.isDirectory && n.contains("="))
          walk(st.getPath, if (rel.isEmpty) n else s"$rel/$n")
        else Nil
      }
    val parts = walk(stagingP, "").sortBy(_._1.toString)
    parts.zipWithIndex.foreach { case ((src, rel), k) =>
      val ext = src.getName.dropWhile(_ != '.') // ".snappy.parquet"
      val dstDir = if (rel.isEmpty) new Path(dir) else new Path(dir, rel)
      fs.mkdirs(dstDir)
      val dst = new Path(dstDir, s"batch-$tag-$k$ext")
      fs.delete(dst, false)
      // local-FS checksum twin must travel with the file or the next
      // read trips ChecksumException (the plantSidecar lesson)
      val srcCrc = new Path(src.getParent, s".${src.getName}.crc")
      val dstCrc = new Path(dst.getParent, s".${dst.getName}.crc")
      fs.delete(dstCrc, false)
      if (!fs.rename(src, dst)) throw new java.io.IOException(
        s"appendBatchFiles: failed to commit $src -> $dst")
      if (fs.exists(srcCrc) && !fs.rename(srcCrc, dstCrc))
        fs.delete(dstCrc, false): Unit
    }
    fs.delete(stagingP, true)
  }

  /** Recreate `fromRoot`'s `_committed` markers under `stagedRoot` — for
    * [[IndexLifecycle.rebuild]]. Markers are empty files, identified by
    * name alone, so "copy" is create-by-name.
    */
  private[pipeline] def preserveMarkers(spark: SparkSession, fromRoot: String,
                                        stagedRoot: String): Unit = {
    val src = markerDir(fromRoot)
    val fs = fsOf(spark, src)
    if (fs.exists(src)) {
      val dst = markerDir(stagedRoot)
      fs.mkdirs(dst)
      fs.listStatus(src).foreach { st =>
        if (st.isFile)
          fs.create(new Path(dst, st.getPath.getName), true).close()
      }
    }
  }

  /** The batch being committed, as a write sees it: build the rows to
    * append from `frame` and append them with [[append]]. An untagged
    * commit ([[IndexLifecycle.append]] with no tag) appends plain files.
    */
  class Commit private[pipeline] (val frame: DataFrame, dataDirs: Seq[String]) {

    /** Append `rows` under `dir`, one of the commit's data directories. */
    def append(rows: DataFrame, dir: String, partitionBy: Seq[String] = Nil): Unit = {
      require(dataDirs.contains(dir),
        s"BatchAppend: $dir is not among the data directories $dataDirs")
      write(rows, dir, partitionBy)
    }

    protected def write(rows: DataFrame, dir: String, partitionBy: Seq[String]): Unit = {
      val w = rows.write.mode(org.apache.spark.sql.SaveMode.Append)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
    }
  }

  /** A tagged commit: rows land as `batch-<tag>-<k>` files
    * ([[appendBatchFiles]]). The first append whose plan holds `frame`'s
    * signature with no exchange or subquery between it and the write
    * observes the signature in its own pass; an append that holds it
    * otherwise leaves the signature to a job of its own.
    */
  private final class TaggedCommit(frame: DataFrame, batch: DataFrame,
      obs: Observation, sigCols: Seq[Column], tag: String, dataDirs: Seq[String])
      extends Commit(frame, dataDirs) {
    var observed = false
    var observable = true

    override protected def write(rows: DataFrame, dir: String,
                                 partitionBy: Seq[String]): Unit = {
      signaturePaths(rows) match {
        case Nil =>
        case Seq(true) if observable =>
          if (!observed) {
            // Registered only now, so that no earlier action of the caller
            // on `frame` can complete it: the next action holding it is
            // this write. An observation is keyed by its name and the id of
            // the frame observed, which `frame`'s node shares.
            batch.observe(obs, sigCols.head, sigCols.tail: _*)
            observed = true
          }
        case _ => observable = false
      }
      appendBatchFiles(rows, dir, tag, partitionBy)
    }

    /** For each node observing the signature in `rows`' physical plan:
      * whether nothing between it and the root starts a separate stage
      * (an exchange, a query stage or a subquery). Only a result task's
      * metrics are merged once per partition; a re-run shuffle-map task's
      * may be merged twice.
      */
    private def signaturePaths(rows: DataFrame): Seq[Boolean] = {
      import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.Exchange
      def paths(p: SparkPlan, clean: Boolean): Seq[Boolean] = {
        val here = p match {
          case c: CollectMetricsExec if c.name == obs.name => Seq(clean)
          case _ => Nil
        }
        val below = p match {
          case a: AdaptiveSparkPlanExec => paths(a.initialPlan, clean)
          case q: QueryStageExec => paths(q.plan, clean = false)
          case _: Exchange => p.children.flatMap(paths(_, clean = false))
          case _ => p.children.flatMap(paths(_, clean))
        }
        here ++ below ++ p.subqueries.flatMap(paths(_, clean = false))
      }
      paths(rows.queryExecution.executedPlan, clean = true)
    }
  }

  /** Append a batch to the index at `indexRoot` exactly once under `tag`:
    * the tagged branch of [[IndexLifecycle.append]], which states the
    * protocol. Returns whether the write ran (false = replay no-op).
    */
  def exactlyOnce(indexRoot: String, tag: String, batch: DataFrame,
                  sigCols: Seq[String], dataDirs: Seq[String],
                  weightCol: Option[String] = None)(write: Commit => Unit): Boolean = {
    val spark = batch.sparkSession
    committedSig(spark, indexRoot, tag) match {
      case Some(prev) =>
        val sig = contentSig(batch, sigCols, weightCol)
        if (prev == sig) false
        else throw new IllegalStateException(
          s"batch '$tag' is already committed at $indexRoot with DIFFERENT " +
            s"content (marker $prev != batch $sig) — this looks like a stream " +
            "restarted from a lost/reset checkpoint re-using batch ids over " +
            "an existing index. Point the new lineage at a fresh index (or " +
            "repair _committed) instead of silently double-counting")
      case None =>
        dataDirs.foreach(d => clearBatchFiles(spark, d, tag))
        val (s, n) = sigColumns(sigCols, weightCol)
        val obs = Observation()
        val commit = new TaggedCommit(batch.observe(obs.name, s, n), batch, obs,
          Seq(s, n), tag, dataDirs)
        write(commit)
        val sig = Some(obs).filter(_ => commit.observed && commit.observable)
          .flatMap(observedSig).getOrElse(contentSig(batch, sigCols, weightCol))
        writeMarker(spark, indexRoot, tag, sig)
        true
    }
  }
}
