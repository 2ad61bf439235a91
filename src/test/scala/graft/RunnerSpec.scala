package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.pipeline.{RefreshMode, Runner, Sinks, TableSpec}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `Runner` runs its tables concurrently on a bounded per-call pool: the
  * targets, modes and tallies are those of a one-table-at-a-time run,
  * results keep spec order, errors stay per table and the caller's job
  * group reaches every job.
  */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-runner").resolve("t").toString

  private def write(df: DataFrame, dir: String, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$table.parquet")

  /** Two source snapshots: `c1` is `c0` plus inserts and updates on the
    * keyed tables, and `fresh` exists only in `c1`.
    */
  private def snapshots(): (String, String) = {
    val root = tmp()
    for ((dir, after) <- Seq(s"$root/c0" -> false, s"$root/c1" -> true)) {
      val nAcct = if (after) 260 else 240
      write(spark.range(1, nAcct + 1).select(col("id").as("acct_id"),
        concat(lit("acct_"), col("id")).as("name"),
        (when(lit(after) && col("id") % 17 === 0, col("id") * 3).otherwise(col("id")) / 4.0)
          .as("balance")), dir, "acct")
      write(spark.range(1, 2001).select(col("id").as("item_id"),
        (col("id") % (nAcct + 40) + 1).as("acct_id"),
        when(lit(after) && col("id") % 101 === 0, "void").otherwise("ok").as("status")),
        dir, "item")
      write(spark.range(0, 300).select((col("id") % 50).as("code"),
        (col("id") + (if (after) 1 else 0)).as("v")), dir, "ledger")
      write(Seq((1L, "north"), (2L, "south")).toDF("zone_id", "name"), dir, "zone")
      if (after) write(spark.range(1, 31).select(col("id").as("f_id"),
        (col("id") * 2).as("w")), dir, "fresh")
    }
    (s"$root/c0", s"$root/c1")
  }

  private val c0Specs = Seq(
    TableSpec("acct", Seq("acct_id"), Seq(col("acct_id") =!= 7), RefreshMode.Incremental),
    TableSpec("item", Seq("item_id"), Nil, RefreshMode.Incremental,
      Some(("acct", "acct_id", "acct_id"))),
    TableSpec("ledger", Seq("code"), Nil, RefreshMode.Incremental),
    TableSpec("zone"))
  private val c1Specs = c0Specs :+ TableSpec("fresh", Seq("f_id"), Nil, RefreshMode.Incremental)

  /** A target's data columns, ids and row hashes, without the timestamps. */
  private def target(base: String, t: String): DataFrame =
    spark.read.parquet(s"$base/$t").drop("created_at", "updated_at")

  /** Updates and inserts a cycle made: rows stamped after `since`. */
  private def tally(base: String, t: String, since: java.sql.Timestamp): (Long, Long) = {
    val r = spark.read.parquet(s"$base/$t").agg(
      sum(when(col("created_at") >= lit(since), 1L).otherwise(0L)),
      sum(when(col("updated_at") >= lit(since) && col("created_at") < lit(since), 1L)
        .otherwise(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("a concurrent sync writes what a one-table-at-a-time sync writes: ids, hashes, " +
    "data, modes and tallies, over full refresh, incremental, dup-key fallback and bootstrap") {
    assert(spark.sparkContext.defaultParallelism > 1, "the session must have several slots")
    val (c0, c1) = snapshots()
    val conc = tmp()
    val serial = tmp()
    // a one-spec call has a one-thread pool: it runs in the caller's thread
    def serialSync(specs: Seq[TableSpec], src: String) =
      specs.flatMap(s => Runner.syncIncremental(spark, src, Seq(s), serial))

    val boot = Runner.syncIncremental(spark, c0, c0Specs, conc)
    assert(boot == serialSync(c0Specs, c0))
    assert(boot.forall(r => r.error.isEmpty && r.mode == "full_refresh"), boot.mkString("; "))

    val since = new java.sql.Timestamp(System.currentTimeMillis())
    val cycle = Runner.syncIncremental(spark, c1, c1Specs, conc)
    val cycleSerial = serialSync(c1Specs, c1)
    assert(cycle == cycleSerial)
    assert(cycle.map(r => r.table -> r.mode) == Seq("acct" -> "incremental",
      "item" -> "incremental", "ledger" -> "full_refresh_fallback_dup_keys",
      "zone" -> "full_refresh", "fresh" -> "full_refresh"), cycle.mkString("; "))
    assert(cycle.forall(_.error.isEmpty), cycle.mkString("; "))

    for (t <- c1Specs.map(_.name)) {
      val (a, b) = (target(conc, t), target(serial, t))
      assert(a.schema == b.schema, t)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$t differs")
    }
    // the cycle changed what the snapshots plant
    assert(tally(conc, "acct", since) == ((20L, 14L)))
    assert(tally(conc, "acct", since) == tally(serial, "acct", since))
    assert(tally(conc, "item", since) == tally(serial, "item", since))
    assert(tally(conc, "item", since)._2 > 0)
  }

  test("results come back in spec order, not in the order tables finish") {
    val (c0, _) = snapshots()
    val base = tmp()
    val finished = new ConcurrentLinkedQueue[String]
    val res = Runner.runAll(spark, c0, c0Specs) { (spec, df) =>
      if (spec.name == c0Specs.head.name) Thread.sleep(1500)
      val n = Sinks.fullRefresh(df, s"$base/${spec.name}")
      finished.add(spec.name)
      n
    }
    assert(finished.asScala.toSeq.last == c0Specs.head.name, finished.toString)
    assert(res.map(_.table) == c0Specs.map(_.name))
    assert(res.forall(_.error.isEmpty), res.mkString("; "))
  }

  test("a table whose source is missing reports its error while the others commit") {
    val (c0, _) = snapshots()
    val base = tmp()
    val specs = c0Specs.take(2) ++ Seq(TableSpec("missing")) ++ c0Specs.drop(2)
    val res = Runner.syncIncremental(spark, c0, specs, base)
    assert(res.map(_.table) == specs.map(_.name))
    val (bad, good) = res.partition(_.table == "missing")
    assert(bad.head.error.exists(_.contains("missing.parquet")), bad.head.toString)
    assert(bad.head.rows == -1)
    assert(good.forall(_.error.isEmpty), good.mkString("; "))
    for (r <- good) assert(spark.read.parquet(s"$base/${r.table}").count() == r.rows, r.table)
  }

  test("the caller's job group is on every job Runner starts") {
    val (c0, c1) = snapshots()
    val base = tmp()
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("runner-spec", "concurrent tables", interruptOnCancel = false)
    try {
      Runner.runAll(spark, c0, c0Specs)((spec, df) => Sinks.fullRefresh(df, s"$base/${spec.name}"))
      Runner.syncIncremental(spark, c1, c1Specs, base)
      TestBus.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "runner-spec"),
      seen.groupBy(identity).map { case (g, s) => g -> s.size })
  }

  test("at most min(tables, defaultParallelism) threads call sink, none survives the call, " +
    "and one table runs in the caller's thread") {
    val slots = spark.sparkContext.defaultParallelism
    val specs = (0 to slots).map(i => TableSpec(s"zone$i"))
    val dir = tmp()
    for (s <- specs) write(Seq((1L, "north"), (2L, "south")).toDF("zone_id", "name"), dir, s.name)
    for (n <- Seq(1, 2, specs.size)) {
      val callers = ConcurrentHashMap.newKeySet[Thread]()
      val res = Runner.runAll(spark, dir, specs.take(n)) { (_, df) =>
        callers.add(Thread.currentThread())
        Thread.sleep(100)
        df.count()
      }
      assert(res.forall(_.error.isEmpty), res.mkString("; "))
      val threads = callers.asScala.toSeq
      assert(threads.size <= math.min(n, slots), s"$n tables: ${threads.map(_.getName)}")
      if (n == 1) assert(threads == Seq(Thread.currentThread()))
      else {
        assert(threads.size > 1, s"$n tables ran on one thread")
        assert(threads.forall(t => t.isDaemon && !t.isAlive), threads.map(_.getName))
      }
    }
  }

  test("an Error from one table is rethrown unwrapped after every table has finished") {
    val (c0, _) = snapshots()
    val done = new ConcurrentLinkedQueue[String]
    val boom = intercept[AssertionError] {
      Runner.runAll(spark, c0, c0Specs) { (spec, df) =>
        if (spec.name == c0Specs.head.name) throw new AssertionError("boom")
        Thread.sleep(300)
        val n = df.count()
        done.add(spec.name)
        n
      }
    }
    assert(boom.getMessage == "boom")
    assert(done.asScala.toSet == c0Specs.tail.map(_.name).toSet)
  }

  test("a case-only rename of a source column keeps the column, in its stored spelling") {
    val root = tmp()
    write(spark.range(1, 21).select(col("id").as("k"), (col("id") * 2.5).as("importe")),
      s"$root/c0", "pay")
    write(spark.range(1, 24).select(col("id").as("k"),
      (col("id") * 2.5 + when(col("id") % 5 === 0, 1.0).otherwise(0.0)).as("Importe")),
      s"$root/c1", "pay")
    val base = tmp()
    val specs = Seq(TableSpec("pay", Seq("k"), Nil, RefreshMode.Incremental))
    assert(Runner.syncIncremental(spark, s"$root/c0", specs, base).map(_.mode) ==
      Seq("full_refresh"))
    val res = Runner.syncIncremental(spark, s"$root/c1", specs, base)
    assert(res.map(r => (r.mode, r.rows, r.error)) == Seq(("incremental", 23L, None)),
      res.mkString("; "))
    val stored = spark.read.parquet(s"$base/pay")
    assert(stored.columns.toSeq == Seq("id", "k", "importe", "row_hash", "created_at", "updated_at"))
    val got = stored.select("k", "importe").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == (1L to 23L).map(k => (k, k * 2.5 + (if (k % 5 == 0) 1.0 else 0.0))))
  }

  test("duplicate spec names fail early, before any table runs") {
    val (c0, _) = snapshots()
    val base = tmp()
    val specs = c0Specs :+ TableSpec("zone", Seq("zone_id"), Nil, RefreshMode.Incremental)
    val calls = new ConcurrentLinkedQueue[String]
    val e1 = intercept[IllegalArgumentException] {
      Runner.runAll(spark, c0, specs) { (spec, _) => calls.add(spec.name); 0L }
    }
    assert(e1.getMessage.contains("duplicate table spec names zone"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Runner.syncIncremental(spark, c0, specs, base))
    assert(e2.getMessage.contains("duplicate table spec names zone"), e2.getMessage)
    assert(calls.isEmpty)
    assert(!Sinks.exists(spark, s"$base/acct"))
  }
}
