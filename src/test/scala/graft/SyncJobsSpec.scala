package graft

import java.io.File
import java.nio.file.Files

import graft.functions.RowHash
import graft.pipeline.{RefreshMode, Runner, Sinks, TableSpec}
import graft.operators.Filters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The jobs a sync round does without: count-verify and schema come from
  * parquet footers on the driver, dense ids take one job after the
  * exchange, and the merge branch never mints audit columns on its source.
  * Every output stays what the job-running forms produced.
  */
class SyncJobsSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureRoot = "/root/testdata" // the specs' shared fixture tables
  private val sf = s"$fixtureRoot/sf0.001"

  private def tmp(): String =
    Files.createTempDirectory("graft-sync-jobs").resolve("t").toString

  private def fixtures(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq

  test("countVerify == spark.read.parquet(p).count() on flat, k=v partitioned " +
    "and empty outputs, with no Spark job") {
    val rows = (1 to 500).map(i => (i.toLong, s"r$i", i % 3)).toDF("id", "s", "k")
    val flat = tmp()
    rows.repartition(3).write.parquet(flat)
    val parted = tmp()
    rows.write.partitionBy("k").parquet(parted)
    val empty = tmp()
    rows.filter(lit(false)).write.parquet(empty)
    for ((p, want) <- Seq(flat -> 500L, parted -> 500L, empty -> 0L)) {
      val (n, jobs) = JobLog(spark)(Sinks.countVerify(spark, p))
      assert(n == want && n == spark.read.parquet(p).count(), p)
      assert(jobs.isEmpty, s"$p: countVerify started ${jobs.size} job(s)")
    }
  }

  test("readParquet: footer schema == inferred schema for every fixture " +
    "table and a Spark-written directory, with no Spark job") {
    val written = tmp()
    Seq((1L, "a", 2.5)).toDF("x", "y", "z").repartition(2).write.parquet(written)
    val paths = Seq(sf, s"$fixtureRoot/sf0.01")
      .flatMap(d => fixtures(d).map(f => s"$d/$f")) :+ written
    assert(paths.exists(_.endsWith("events.parquet")))
    for (p <- paths) {
      val (df, jobs) = JobLog(spark)(Sinks.readParquet(spark, p))
      assert(df.schema == spark.read.parquet(p).schema, p)
      assert(jobs.isEmpty, s"$p: readParquet started ${jobs.size} job(s)")
    }
    // TableSpec.read == its former inferring form, rows included
    for (t <- fixtures(sf).map(_.stripSuffix(".parquet"))) {
      val inferred = spark.read.parquet(s"$sf/$t.parquet")
      val want =
        if (t == "events" && inferred.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          inferred.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        else inferred
      val got = TableSpec.read(spark, sf, t)
      assert(got.schema == want.schema, t)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
    }
  }

  test("readParquet reads a TIMESTAMP(NANOS) footer as inference does " +
    "(Long under nanosAsLong), and TableSpec.read converts it exactly") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = Seq(1700000000123456789L, 1700000001000000999L)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()
    val p = s"$dir/events.parquet"
    assert(Sinks.readParquet(spark, p).schema == spark.read.parquet(p).schema)
    assert(spark.read.parquet(p).schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val ts = TableSpec.read(spark, dir, "events").orderBy("event_id")
      .select(col("ts").cast("string")).as[String].collect().toSeq
    assert(ts == Seq("2023-11-14 22:13:20.123456", "2023-11-14 22:13:21"))
  }

  test("readParquet falls back to inference for partitioned directories") {
    val parted = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("x", "k").write.partitionBy("k").parquet(parted)
    val df = Sinks.readParquet(spark, parted)
    assert(df.schema == spark.read.parquet(parted).schema)
    assert(df.columns.toSeq == Seq("x", "k"))
  }

  test("orderedDenseId on a 7-partition input with tied sort keys == " +
    "row_number().over(orderBy)") {
    val df = spark.range(0, 3000, 1, 7)
      .select((col("id") % 11).as("k"), ((col("id") * 7919) % 3000).as("t"),
        col("id").as("v"))
    assert(df.rdd.getNumPartitions == 7)
    val order = Seq(col("k"), col("t")) // k ties; t breaks them
    val got = RowHash.orderedDenseId(df, order, "rid")
    val want = df.withColumn("rid", row_number().over(Window.orderBy(order: _*)).cast("long"))
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.count() == 3000)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("loadTable == withAudit(loadBare): ids, hashes and column order of " +
    "the global-window form") {
    val spec = TableSpec("orders", Seq("o_orderkey"),
      Seq(Filters.eq("o_orderstatus", "O")), RefreshMode.Incremental)
    val loaded = Runner.loadTable(spark, sf, spec).drop("created_at", "updated_at")
    val bare = Runner.loadBare(spark, sf, spec)
    val want = RowHash.withAuditColumns(bare, spec.keys, globalWindow = true)
      .drop("created_at", "updated_at")
    assert(Runner.loadTable(spark, sf, spec).columns.toSeq ==
      Seq("id") ++ bare.columns ++ Seq("row_hash", "created_at", "updated_at"))
    assert(loaded.exceptAll(want).isEmpty && want.exceptAll(loaded).isEmpty)
  }

  test("syncIncremental's merge branch mints no ids on the source load") {
    val base = tmp()
    val specs = Seq(TableSpec("orders", Seq("o_orderkey"),
      Seq(Filters.eq("o_orderstatus", "O")), RefreshMode.Incremental))
    val boot = Runner.syncIncremental(spark, sf, specs, base)
    assert(boot.map(_.mode) == Seq("full_refresh"), boot.mkString("; "))
    val (res, jobs) = JobLog(spark)(Runner.syncIncremental(spark, sf, specs, base))
    assert(res.map(_.mode) == Seq("incremental") && res.forall(_.error.isEmpty),
      res.mkString("; "))
    assert(!jobs.exists(_.contains("RowHash$.withAuditColumns")),
      "the merge branch minted audit columns on its source")
    // the only dense-id mint left is Merge.apply's, over its insert rows
    assert(jobs.filter(_.contains("RowHash$.orderedDenseId"))
      .forall(_.contains("Merge$.apply")))
    assert(res.head.rows == spark.read.parquet(s"$base/orders").count())
  }

  test("syncIncremental's merged branch runs no duplicate-key audit and no max(id) " +
    "aggregate") {
    import org.apache.spark.scheduler.SparkListenerEvent
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val base = tmp()
    val orders = TableSpec("orders", Seq("o_orderkey"), Seq(Filters.eq("o_orderstatus", "O")),
      RefreshMode.Incremental, Some(("customer", "c_custkey", "o_custkey")))
    val specs = Seq(orders, TableSpec("customer", Seq("c_custkey"), Nil, RefreshMode.Incremental))
    assert(Runner.syncIncremental(spark, sf, specs, base).map(_.mode) ==
      Seq("full_refresh", "full_refresh"))

    // every plan node of every SQL execution the merged branch starts
    val nodes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]
    def walk(p: SparkPlanInfo): Unit = { nodes.add(p); p.children.foreach(walk) }
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    val res = try {
      val r = Runner.syncIncremental(spark, sf, specs, base)
      org.apache.spark.TestBus.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(res.map(_.mode) == Seq("incremental", "incremental") && res.forall(_.error.isEmpty),
      res.mkString("; "))
    val aggs = nodes.toArray(Array.empty[SparkPlanInfo]).toSeq
      .filter(_.nodeName.contains("Aggregate")).map(_.simpleString)
    assert(nodes.size > 0)
    assert(!aggs.exists(_.contains("max(")), aggs.mkString("\n"))
    val keyNames = specs.flatMap(_.keys)
    assert(!aggs.exists(a => keyNames.exists(k => a.contains(s"keys=[$k#"))), aggs.mkString("\n"))
  }
}
