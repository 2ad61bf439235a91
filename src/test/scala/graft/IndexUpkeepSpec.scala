package graft

import java.io.File
import java.nio.file.Files

import graft.operators.Dedup
import graft.pipeline.{BatchAppend, Sinks, Tombstones}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The persisted MinHash index's lifecycle at metadata cost: no schema
  * inference, `_meta` read on the driver, a first commit's signature
  * observed in its own write, a replay one signature job, a purge with no
  * count job — and every output what the job-running forms produced.
  */
class IndexUpkeepSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString + "/idx"

  private val docs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "completely different text about spark engines",
    4L -> "the quick brown fox jumps over the lazy dog"
  ).toDF("doc_id", "text")

  private val batch = Seq(
    10L -> "the quick brown fox jumps over the lazy dog",
    11L -> "completely different text about spark engines today"
  ).toDF("doc_id", "text")

  private def markers(root: String): Set[String] =
    Option(new File(root, "_committed").listFiles()).toSet.flatten.map(_.getName)
      .filterNot(_.startsWith("."))

  private def dataFiles(dir: String): Set[String] =
    Option(new File(dir).listFiles()).toSet.flatten.map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_"))

  private def probe(root: String, b: DataFrame = batch): Seq[(Long, Long, Double)] =
    Dedup.minHashProbeIndex(spark, root, b, "doc_id", "text", minEstJaccard = 0.0)
      .select("new_id", "corpus_id", "jaccard_est")
      .as[(Long, Long, Double)].collect().toSeq.sorted

  /** The jobs outside any SQL execution (parquet schema inference). */
  private def outside(jobs: Seq[JobLog.Job]) = jobs.filter(_.execution.isEmpty)

  test("MinHash lifecycle: no schema-inference job; a first tagged append " +
    "and a tagged delete are one action each, a committed replay one job, " +
    "and purge counts from footers") {
    val root = tmp("upkeep-jobs")
    Dedup.minHashWriteIndex(docs, "doc_id", "text", root)
    val ids = Seq(Tuple1(4L), Tuple1(4L), Tuple1(99L)).toDF("doc_id")

    val (_, append) = JobLog.withExecutions(spark)(
      Dedup.minHashAppendIndex(batch, "doc_id", "text", root, Some("b1")))
    assert(outside(append).isEmpty, append.mkString("\n"))
    assert(append.flatMap(_.execution).distinct.size == 1, append.mkString("\n"))

    val (_, replay) = JobLog.withExecutions(spark)(
      Dedup.minHashAppendIndex(batch, "doc_id", "text", root, Some("b1")))
    assert(replay.size == 1 && outside(replay).isEmpty, replay.mkString("\n"))

    val (_, delete) = JobLog.withExecutions(spark)(
      Tombstones.delete(ids, "doc_id", root, Some("d1")))
    assert(outside(delete).isEmpty, delete.mkString("\n"))
    assert(delete.flatMap(_.execution).distinct.size == 1, delete.mkString("\n"))

    val (_, probeJobs) = JobLog.withExecutions(spark)(probe(root))
    assert(outside(probeJobs).isEmpty, probeJobs.mkString("\n"))

    val nBefore = spark.read.parquet(root).count()
    val (removed, purge) = JobLog.withExecutions(spark)(Tombstones.purge(spark, root))
    assert(outside(purge).isEmpty, purge.mkString("\n"))
    assert(purge.flatMap(_.execution).distinct.size == 1, purge.mkString("\n"))
    assert(!purge.exists(_.details.contains("Dataset.count(")), purge.mkString("\n"))
    assert(removed == 1L && removed == nBefore - spark.read.parquet(root).count())
  }

  test("property: the observed signature of a first commit and the grouped " +
    "delete signature each equal contentSig (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val rowGen = Gen.zip(Gen.option(Gen.choose(-3L, 6L)),
      Gen.option(Gen.oneOf("a b c d", "the quick brown fox", "", "x y z w v")))
    val batchGen = Gen.zip(Gen.choose(0, 12).flatMap(Gen.listOfN(_, rowGen)),
      Gen.choose(0, 3))
    val root = tmp("upkeep-prop")
    Dedup.minHashWriteIndex(docs, "doc_id", "text", root)
    var n = 0
    val prop = Prop.forAll(batchGen) { case (rows, parts) =>
      n += 1
      val data = rows.map { case (i, t) => Row(i.orNull, t.orNull) }
      val df =
        if (parts == 0 && rows.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else spark.createDataFrame(spark.sparkContext.parallelize(data, math.max(parts, 1)), schema)
      Dedup.minHashAppendIndex(df, "doc_id", "text", root, Some(s"t$n"))
      Tombstones.delete(df, "doc_id", root, Some(s"t$n"))
      val want = Set(s"t$n-${BatchAppend.contentSig(df, Seq("doc_id", "text"))}",
        s"del-t$n-${BatchAppend.contentSig(df, Seq("doc_id"))}")
      val got = markers(root).filter(m => m.startsWith(s"t$n-") || m.startsWith(s"del-t$n-"))
      (got == want) :| s"rows=$rows parts=$parts markers=$got want=$want"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
    // the edge cases, whatever the generator drew: empty over 0 partitions
    // and an empty filter result both sign as 0_0
    val empty0 = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(empty0.rdd.getNumPartitions == 0)
    for (e <- Seq(empty0, docs.filter(lit(false)))) {
      val root = tmp("upkeep-empty")
      Dedup.minHashWriteIndex(docs, "doc_id", "text", root)
      Dedup.minHashAppendIndex(e, "doc_id", "text", root, Some("e"))
      Tombstones.delete(e, "doc_id", root, Some("e"))
      assert(markers(root) == Set("e-0_0", "del-e-0_0"), markers(root))
      assert(BatchAppend.contentSig(e, Seq("doc_id", "text")) == "0_0")
    }
  }

  test("a narrow first commit observes its signature; rows grouped above " +
    "the batch fall back to the signature job with the same marker") {
    val root = tmp("upkeep-fallback")
    val dir = s"$root/rows"
    def commit(tag: String)(rows: DataFrame => DataFrame) =
      JobLog.withExecutions(spark)(BatchAppend.exactlyOnce(root, tag, docs,
        Seq("doc_id", "text"), Seq(dir))(c => c.append(rows(c.frame), dir)))
    val want = BatchAppend.contentSig(docs, Seq("doc_id", "text"))
    val (_, narrow) = commit("narrow")(_.select("doc_id"))
    val (_, grouped) = commit("grouped")(_.groupBy("text").count())
    assert(markers(root) == Set(s"narrow-$want", s"grouped-$want"))
    assert(narrow.flatMap(_.execution).distinct.size == 1, narrow.mkString("\n"))
    assert(grouped.flatMap(_.execution).distinct.size == 2, grouped.mkString("\n"))
    intercept[IllegalArgumentException] {
      BatchAppend.exactlyOnce(root, "stray", docs, Seq("doc_id"), Seq(dir))(
        c => c.append(c.frame, s"$root/elsewhere"))
    }
  }

  test("driver-read _meta equals Spark's read; a missing or unreadable " +
    "sidecar and a malformed one still raise") {
    val root = tmp("upkeep-meta")
    Dedup.minHashWriteIndex(docs, "doc_id", "text", root, shingleN = 2, bands = 4,
      rowsPerBand = 8)
    val got = Sinks.driverRows(spark, s"$root/_meta")
      .map(g => Seq("shingle_n", "bands", "rows_per_band").map(g.getInteger(_, 0)))
    val want = spark.read.parquet(s"$root/_meta")
      .select("shingle_n", "bands", "rows_per_band").as[(Int, Int, Int)].collect()
      .map { case (a, b, c) => Seq(a, b, c) }.toSeq
    assert(got == want && want == Seq(Seq(2, 4, 8)))
    // the probe accepts exactly the write-time banding
    assert(Dedup.minHashProbeIndex(spark, root, batch, "doc_id", "text", shingleN = 2,
      bands = 4, rowsPerBand = 8).count() >= 1)
    // missing
    val bare = tmp("upkeep-meta-bare")
    spark.read.parquet(root).write.parquet(bare)
    val missing = intercept[IllegalStateException] {
      Dedup.minHashAppendIndex(batch, "doc_id", "text", bare)
    }
    assert(missing.getMessage.contains("_meta"), missing.getMessage)
    // unreadable: a data file that is not parquet
    val junk = tmp("upkeep-meta-junk")
    spark.read.parquet(root).write.parquet(junk)
    new File(s"$junk/_meta").mkdirs()
    Files.write(new File(s"$junk/_meta/part-0.parquet").toPath, "not parquet".getBytes)
    val unreadable = intercept[IllegalStateException] {
      Dedup.minHashAppendIndex(batch, "doc_id", "text", junk)
    }
    assert(unreadable.getMessage.contains("_meta"), unreadable.getMessage)
    // malformed: two rows
    val two = tmp("upkeep-meta-two")
    Dedup.minHashWriteIndex(docs, "doc_id", "text", two)
    Seq((3, 8, 4), (3, 8, 4)).toDF("shingle_n", "bands", "rows_per_band")
      .write.mode("overwrite").parquet(s"$two/_meta")
    val malformed = intercept[IllegalArgumentException] {
      Dedup.minHashAppendIndex(batch, "doc_id", "text", two)
    }
    assert(malformed.getMessage.contains("malformed _meta"), malformed.getMessage)
  }

  test("probe excluding tombstones once == the index with them purged " +
    "(tombstones, a deleted-then-re-appended id, a duplicated row); " +
    "purge's removed count is the rows it removed") {
    val root = tmp("upkeep-probe")
    Dedup.minHashWriteIndex(docs, "doc_id", "text", root)
    Tombstones.delete(Seq(Tuple1(4L), Tuple1(3L)).toDF("doc_id"), "doc_id", root, Some("d"))
    val again = Seq(4L -> "the quick brown fox jumps over the lazy dog").toDF("doc_id", "text")
    Dedup.minHashAppendIndex(again, "doc_id", "text", root) // re-appended, still tombstoned
    Dedup.minHashAppendIndex(docs.filter($"doc_id" === 1L), "doc_id", "text", root) // duplicate row
    val copy = tmp("upkeep-probe-copy")
    org.apache.commons.io.FileUtils.copyDirectory(new File(root), new File(copy))
    val before = spark.read.parquet(copy).count()
    val removed = Tombstones.purge(spark, copy)
    assert(removed == 3L && removed == before - spark.read.parquet(copy).count())
    assert(!Sinks.exists(spark, s"$copy/_tombstones"))
    val got = probe(root)
    assert(got == probe(copy), s"$got vs ${probe(copy)}")
    assert(got.count(_ == ((10L, 1L, 1.0))) == 2, got.mkString(", "))
    assert(!got.exists(p => p._2 == 3L || p._2 == 4L), got.mkString(", "))
  }

  test("footer listing keeps Spark's data-file rule under _committed, " +
    ".batch-x-staging, _tombstones and k=v directories, with no job") {
    val rows = (1 to 40).map(i => (i.toLong, s"r$i", i % 2)).toDF("id", "s", "k")
    def plant(root: String): Unit = {
      new File(s"$root/_committed").mkdirs()
      new File(s"$root/_committed/b-1_2").createNewFile()
      rows.limit(7).write.parquet(s"$root/.batch-x-staging")
      rows.limit(5).write.parquet(s"$root/_tombstones")
    }
    val flat = tmp("upkeep-list-flat")
    rows.repartition(3).write.parquet(flat)
    plant(flat)
    val parted = tmp("upkeep-list-parted")
    rows.write.partitionBy("k").parquet(parted)
    plant(parted)
    for (p <- Seq(flat, parted)) {
      val (n, jobs) = JobLog(spark)(Sinks.countVerify(spark, p))
      assert(jobs.isEmpty, s"$p: ${jobs.size} job(s)")
      assert(n == 40L && n == spark.read.parquet(p).count(), p)
      // the footer schema for the flat root; the partitioned one falls back
      val (df, readJobs) = JobLog(spark)(Sinks.readParquet(spark, p))
      assert(readJobs.isEmpty == (p == flat), s"$p: ${readJobs.size} job(s)")
      assert(df.schema == spark.read.parquet(p).schema, p)
    }
  }

  test("a tag that is another tag plus '-…' is its own batch, in both " +
    "commit orders; a marker-lost replay clears only its own partials") {
    val a = docs.filter($"doc_id" <= 2)
    val b = docs.filter($"doc_id" > 2)
    for ((first, second) <- Seq(("crawl-2", "crawl"), ("crawl", "crawl-2"))) {
      val root = tmp("upkeep-tags")
      Dedup.minHashWriteIndex(docs.filter(lit(false)), "doc_id", "text", root)
      def rowsOf(t: String) = if (t == "crawl") a else b
      Dedup.minHashAppendIndex(rowsOf(first), "doc_id", "text", root, Some(first))
      val firstFiles = dataFiles(root).filter(_.startsWith(s"batch-$first-"))
      assert(firstFiles.nonEmpty)
      Dedup.minHashAppendIndex(rowsOf(second), "doc_id", "text", root, Some(second))
      assert(firstFiles.subsetOf(dataFiles(root)), s"$first's files after $second's append")
      assert(spark.read.parquet(root).select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L), s"$first then $second")
      // marker lost after the second commit: its replay rewrites its own
      // files only, and the index converges
      new File(root, "_committed").listFiles()
        .filter(_.getName.matches(java.util.regex.Pattern.quote(second) + "--?\\d+_\\d+"))
        .foreach(f => assert(f.delete()))
      assert(markers(root).size == 1)
      Dedup.minHashAppendIndex(rowsOf(second), "doc_id", "text", root, Some(second))
      assert(firstFiles.subsetOf(dataFiles(root)))
      assert(spark.read.parquet(root).count() == 4L && markers(root).size == 2)
    }
  }

  test("crash points of the observed commit: partial files and a stale " +
    "staging dir are cleared, a lost marker replays and converges") {
    val root = tmp("upkeep-crash")
    Dedup.minHashWriteIndex(docs, "doc_id", "text", root)
    val want = probe(root, batch)
    // a crashed attempt left a torn data file and a staging dir
    Files.write(new File(s"$root/batch-b-0.snappy.parquet").toPath, "torn".getBytes)
    new File(s"$root/.batch-b-staging").mkdirs()
    Files.write(new File(s"$root/.batch-b-staging/part-0.parquet").toPath, "x".getBytes)
    Dedup.minHashAppendIndex(batch, "doc_id", "text", root, Some("b"))
    assert(!new File(s"$root/.batch-b-staging").exists())
    val committed = spark.read.parquet(root).count()
    assert(committed == 6L)
    // the marker is lost: the replay clears the committed files and rewrites them
    new File(root, "_committed").listFiles().foreach(f => assert(f.delete()))
    Dedup.minHashAppendIndex(batch, "doc_id", "text", root, Some("b"))
    assert(spark.read.parquet(root).count() == committed)
    assert(markers(root) == Set(s"b-${BatchAppend.contentSig(batch, Seq("doc_id", "text"))}"))
    Dedup.minHashAppendIndex(batch, "doc_id", "text", root, Some("b")) // replay: no-op
    assert(spark.read.parquet(root).count() == committed)
    assert(probe(root, batch).filter(_._2 < 10L) == want)
  }

  test("inside foreachBatch, a tagged append and delete commit with the " +
    "observed signature and replay as no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("upkeep-stream")
    Dedup.minHashWriteIndex(docs, "doc_id", "text", root)
    val mem = MemoryStream[(Long, String)]
    val sigs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        Dedup.minHashAppendIndex(b, "doc_id", "text", root, Some(s"s$id"))
        Tombstones.delete(b.filter($"doc_id" === 11L), "doc_id", root, Some(s"s$id"))
        Dedup.minHashAppendIndex(b, "doc_id", "text", root, Some(s"s$id")) // replay
        sigs += ((BatchAppend.contentSig(b, Seq("doc_id", "text")),
          BatchAppend.contentSig(b.filter($"doc_id" === 11L), Seq("doc_id"))))
        ()
      }.start()
    try {
      mem.addData(10L -> "the quick brown fox jumps over the lazy dog",
        11L -> "completely different text about spark engines today")
      q.processAllAvailable()
    } finally q.stop()
    assert(sigs.size == 1)
    assert(markers(root) == Set(s"s0-${sigs.head._1}", s"del-s0-${sigs.head._2}"))
    assert(spark.read.parquet(root).count() == 6L)
    val corpusIds = probe(root).map(_._2).toSet
    assert(corpusIds.contains(10L) && !corpusIds.contains(11L), corpusIds)
  }
}
