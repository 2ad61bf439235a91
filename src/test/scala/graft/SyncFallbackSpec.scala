package graft

import java.nio.file.Files

import graft.operators.Merge
import graft.pipeline.{RefreshMode, Runner, Sinks, TableSpec}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `syncIncremental` decides the duplicate-key fallback from the merge's
  * own counts, with no audit pass. The decision must be
  * `!Merge.duplicateKeyAudit(src, keys).isEmpty` on every shape of
  * repeated key, and every output — ids, hashes, data, tallies, modes and
  * row counts — must be what the audit-first sync wrote, with no staging
  * directory left behind.
  */
class SyncFallbackSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-sync-fallback").resolve("t").toString

  private val schema1 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))
  private val schema2 = StructType(Seq(
    StructField("k1", LongType), StructField("k2", StringType), StructField("v", DoubleType)))

  private def frame(schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 3), schema)

  /** The sync as it ran with the audit first: `duplicateKeyAudit` decides
    * the fallback before any merge work.
    */
  private def auditFirst(dir: String, spec: TableSpec, base: String,
                         keyAudit: Boolean): (Long, String) = {
    val path = s"$base/${spec.name}"
    val src = Runner.loadBare(spark, dir, spec)
    if (keyAudit && Merge.duplicateKeyAudit(src, spec.keys).limit(1).count() > 0)
      (Sinks.fullRefresh(Runner.withAudit(src, spec), path), "full_refresh_fallback_dup_keys")
    else {
      val tgt = Merge.evolveTarget(src, spark.read.parquet(path))
      val merged = Merge.apply(src, tgt, spec.keys)
      (Sinks.overwriteViaStaging(merged.select(tgt.columns.toIndexedSeq.map(col): _*), path),
        "incremental")
    }
  }

  /** A stored table with the cycle's own timestamps blanked: rows the
    * cycle stamped compare by their flags, untouched rows byte for byte.
    */
  private def stored(path: String, since: java.sql.Timestamp): DataFrame = {
    val df = spark.read.parquet(path)
    df.select(df.columns.toIndexedSeq.map {
      case c @ ("created_at" | "updated_at") =>
        when(col(c) >= lit(since), lit(null)).otherwise(col(c)).as(c)
      case c => col(c)
    }: _*)
  }

  /** Bootstrap `c0` once, then run the cycle `c1` on two copies of that
    * target — one through `syncIncremental`, one audit-first — and require
    * the same outcome. Returns the mode.
    */
  private def check(label: String, schema: StructType, keys: Seq[String],
                    c0: Seq[Seq[Any]], c1: Seq[Seq[Any]], keyAudit: Boolean = true): String = {
    val root = tmp()
    frame(schema, c0).write.mode(SaveMode.Overwrite).parquet(s"$root/c0/t.parquet")
    frame(schema, c1).write.mode(SaveMode.Overwrite).parquet(s"$root/c1/t.parquet")
    val spec = TableSpec("t", keys, Nil, RefreshMode.Incremental)
    val boot = Runner.syncIncremental(spark, s"$root/c0", Seq(spec), s"$root/boot")
    assert(boot.map(_.mode) == Seq("full_refresh"), s"$label: ${boot.mkString}")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (copy <- Seq("new", "ref"))
      assert(FileUtil.copy(fs, new Path(s"$root/boot/t"), fs, new Path(s"$root/$copy/t"),
        false, spark.sparkContext.hadoopConfiguration), label)

    val since = new java.sql.Timestamp(System.currentTimeMillis())
    val got = Runner.syncIncremental(spark, s"$root/c1", Seq(spec), s"$root/new", keyAudit)
    val (wantRows, wantMode) = auditFirst(s"$root/c1", spec, s"$root/ref", keyAudit)
    val dups = !Merge.duplicateKeyAudit(Runner.loadBare(spark, s"$root/c1", spec), keys).isEmpty
    assert(got.head.error.isEmpty, s"$label: ${got.head}")
    assert(got.head.mode == wantMode, s"$label: ${got.head}")
    assert((got.head.mode == "full_refresh_fallback_dup_keys") == (keyAudit && dups), label)
    assert(got.head.rows == wantRows, s"$label: ${got.head}")
    val (a, b) = (stored(s"$root/new/t", since), stored(s"$root/ref/t", since))
    assert(a.schema == b.schema, label)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$label: stored tables differ")
    assert(a.count() == got.head.rows, label)
    for (leftover <- Seq("t__staging", "t__old"))
      assert(!fs.exists(new Path(s"$root/new/$leftover")), s"$label: $leftover left behind")
    got.head.mode
  }

  private val base1: Seq[Seq[Any]] = (1L to 40L).map(i => Seq(i, s"v$i"))
  private def updated1(extra: Seq[Seq[Any]]): Seq[Seq[Any]] =
    base1.map { case Seq(k: Long, v) => Seq(k, if (k % 7 == 0) s"u$k" else v) } ++
      (41L to 45L).map(i => Seq(i, s"n$i")) ++ extra

  test("unique keys merge incrementally: updates, inserts and one NULL key") {
    assert(check("unique", schema1, Seq("k"), base1, updated1(Nil)) == "incremental")
    assert(check("one null key", schema1, Seq("k"), base1,
      updated1(Seq(Seq(null, "nk")))) == "incremental")
  }

  test("a key repeated among the target's keys falls back") {
    assert(check("dup matched", schema1, Seq("k"), base1,
      updated1(Seq(Seq(3L, "again")))) == "full_refresh_fallback_dup_keys")
  }

  test("a key repeated among the inserts falls back") {
    assert(check("dup insert", schema1, Seq("k"), base1,
      updated1(Seq(Seq(100L, "a"), Seq(100L, "b")))) == "full_refresh_fallback_dup_keys")
  }

  test("two NULL keys are one repeated key, as groupBy counts them") {
    assert(check("dup null", schema1, Seq("k"), base1,
      updated1(Seq(Seq(null, "a"), Seq(null, "b")))) == "full_refresh_fallback_dup_keys")
  }

  test("multi-column keys: partly-NULL repeats fall back, partly-NULL distinct keys merge") {
    val c0 = (1L to 30L).map(i => Seq(i, s"s${i % 4}", i * 1.5))
    val c1 = c0.map { case Seq(k1: Long, k2, v: Double) => Seq(k1, k2, if (k1 % 5 == 0) v + 1 else v) }
    assert(check("partly-null distinct", schema2, Seq("k1", "k2"), c0,
      c1 ++ Seq(Seq(1L, null, 0.0), Seq(2L, null, 0.0), Seq(null, "s1", 0.0),
        Seq(null, null, 0.0))) == "incremental")
    assert(check("partly-null repeat", schema2, Seq("k1", "k2"), c0,
      c1 ++ Seq(Seq(1L, null, 0.0), Seq(1L, null, 9.0))) == "full_refresh_fallback_dup_keys")
    assert(check("all-null repeat", schema2, Seq("k1", "k2"), c0,
      c1 ++ Seq(Seq(null, null, 0.0), Seq(null, null, 9.0))) == "full_refresh_fallback_dup_keys")
    assert(check("matched multi-column repeat", schema2, Seq("k1", "k2"), c0,
      c1 :+ Seq(4L, "s0", 2.0)) == "full_refresh_fallback_dup_keys")
  }

  test("floating-point keys repeat as groupBy groups them: NaN with NaN, -0.0 with 0.0") {
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("v", StringType)))
    val c0 = (1 to 20).map(i => Seq(i.toDouble, s"v$i"))
    assert(check("nan insert", schema, Seq("k"), c0,
      c0 ++ Seq(Seq(Double.NaN, "a"), Seq(Double.NaN, "b"))) == "full_refresh_fallback_dup_keys")
    assert(check("signed zero insert", schema, Seq("k"), c0,
      c0 ++ Seq(Seq(-0.0, "a"), Seq(0.0, "b"))) == "full_refresh_fallback_dup_keys")
    assert(check("nan matched", schema, Seq("k"), c0 :+ Seq(Double.NaN, "a"),
      c0 ++ Seq(Seq(Double.NaN, "a"), Seq(Double.NaN, "b"))) == "full_refresh_fallback_dup_keys")
    assert(check("one nan", schema, Seq("k"), c0 :+ Seq(Double.NaN, "a"),
      c0 :+ Seq(Double.NaN, "b")) == "incremental")
  }

  test("a target that already holds repeated keys: repeats in the source fall back, " +
    "a source with unique keys merges") {
    val dupSrc = (0L until 60L).map(i => Seq(1 + i % 50, s"c$i"))
    assert(check("conceptos shape", schema1, Seq("k"), dupSrc, dupSrc) ==
      "full_refresh_fallback_dup_keys")
    assert(check("unique over repeated target", schema1, Seq("k"), dupSrc,
      (1L to 55L).map(i => Seq(i, s"c$i"))) == "incremental")
  }

  /** Rows the block's tasks wrote, from their output metrics. */
  private def written[T](f: => T): (T, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val rows = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => rows.addAndGet(m.outputMetrics.recordsWritten))
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.TestBus.drain(sc)
      (r, rows.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a heavily repeated key stages the fan-out at most once: while the table is " +
    "marked, nothing is staged until the keys are unique, and merges keep the mark") {
    val root = tmp()
    val r = 300 // copies of key 3 in a repeating cycle
    val repeating = updated1(Seq.fill(r - 1)(Seq(3L, "again")))
    val unique = updated1(Seq(Seq(46L, "n46")))
    val cycles = Seq(base1, repeating, repeating, unique, repeating, unique)
    cycles.zipWithIndex.foreach { case (rows, i) =>
      frame(schema1, rows).write.mode(SaveMode.Overwrite).parquet(s"$root/c$i/t.parquet")
    }
    val spec = TableSpec("t", Seq("k"), Nil, RefreshMode.Incremental)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mark = new Path(s"$root/new/t/_keys_repeat")
    val staged = cycles.zipWithIndex.map { case (src, i) =>
      val before = if (i == 0) 0L else spark.read.parquet(s"$root/new/t").count()
      val (res, wrote) = written(Runner.syncIncremental(spark, s"$root/c$i", Seq(spec), s"$root/new"))
      val (wantRows, wantMode) =
        if (i == 0) (Sinks.fullRefresh(Runner.loadTable(spark, s"$root/c0", spec), s"$root/ref/t"),
          "full_refresh")
        else auditFirst(s"$root/c$i", spec, s"$root/ref", keyAudit = true)
      val got = res.head
      assert(got.error.isEmpty && got.mode == wantMode && got.rows == wantRows, s"cycle $i: $got")
      // the stored table matches the audit-first sync's, row for row
      val data = Seq("id", "k", "v", "row_hash").map(col)
      val (a, b) = (spark.read.parquet(s"$root/new/t").select(data: _*),
        spark.read.parquet(s"$root/ref/t").select(data: _*))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"cycle $i: stored tables differ")
      // rows staged: all written rows but the fallback's full refresh; a
      // merge that fans out no more than the source's own rows stays linear
      val stagedRows = wrote - (if (got.mode == "full_refresh_fallback_dup_keys") got.rows else 0L)
      assert(stagedRows <= before + src.size,
        s"cycle $i staged $stagedRows rows over a target of $before")
      assert(fs.exists(mark) == (i >= 1), s"cycle $i: mark ${fs.exists(mark)}")
      for (leftover <- Seq("t__staging", "t__old"))
        assert(!fs.exists(new Path(s"$root/new/$leftover")), s"cycle $i: $leftover left behind")
      (got.mode, stagedRows)
    }
    assert(staged.map(_._1) == Seq("full_refresh", "full_refresh_fallback_dup_keys",
      "full_refresh_fallback_dup_keys", "incremental", "full_refresh_fallback_dup_keys",
      "incremental"), staged.mkString(", "))
    // the first repeat over the unmarked target fans out once: its 40 rows,
    // 5 inserts and r - 1 extra copies of key 3; every repeat over the
    // marked table stages nothing
    assert(staged(1)._2 == base1.size + 5 + r - 1, staged.mkString(", "))
    assert(staged(2)._2 == 0 && staged(4)._2 == 0, staged.mkString(", "))
    // a full refresh that is no fallback writes the table afresh: no mark
    val refreshed = Runner.syncIncremental(spark, s"$root/c0",
      Seq(spec.copy(refreshMode = RefreshMode.FullRefresh)), s"$root/new")
    assert(refreshed.map(_.mode) == Seq("full_refresh") && !fs.exists(mark))
  }

  test("keyAudit = false merges whatever the keys, as it did with the audit first") {
    assert(check("no audit, unique", schema1, Seq("k"), base1, updated1(Nil),
      keyAudit = false) == "incremental")
    assert(check("no audit, dup matched", schema1, Seq("k"), base1,
      updated1(Seq(Seq(3L, "again"))), keyAudit = false) == "incremental")
  }

  test("random sources over a small key domain with NULLs: the decision is the audit's") {
    val rnd = new scala.util.Random(20261019L)
    def key(): Seq[Any] = Seq(
      if (rnd.nextInt(8) == 0) null else rnd.nextInt(30).toLong,
      if (rnd.nextInt(8) == 0) null else s"s${rnd.nextInt(3)}")
    val modes = (1 to 6).map { i =>
      // unique c0 keys (a merge target), c1 drawn with repeats possible
      val c0 = Seq.fill(40)(key()).distinct.map(k => k :+ rnd.nextDouble())
      val c1 = c0.filter(_ => rnd.nextInt(5) > 0).map(r => r.take(2) :+ rnd.nextDouble()) ++
        Seq.fill(rnd.nextInt(4))(key() :+ 0.5)
      check(s"random $i", schema2, Seq("k1", "k2"), c0, c1, keyAudit = rnd.nextInt(4) > 0)
    }
    assert(modes.toSet.size == 2, s"the draws should exercise both outcomes: $modes")
  }
}
