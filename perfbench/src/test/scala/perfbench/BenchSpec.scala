package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: its generators are pure functions of the
  * seed, and each checker rejects a deliberately corrupted output.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), "perfbench-spec").toAbsolutePath.toString
  }
  private def ctx(seed: Long) = new Ctx(spark, tmp(), seed)

  // ---- generators -------------------------------------------------------

  test("etl generator: same seed, same rows and planted changes; another seed differs") {
    val s = EtlShape(nSocios = 300, nLiq = 2000, insSocios = 5, insLiq = 20)
    assert((0L until 2000).map(EtlGen.liq(7, s, _, true)) == (0L until 2000).map(EtlGen.liq(7, s, _, true)))
    assert(EtlGen.planted(7, s) == EtlGen.planted(7, s))
    assert((0L until 2000).map(EtlGen.liq(7, s, _, true)) != (0L until 2000).map(EtlGen.liq(8, s, _, true)))
    // a planted update really changes the row, and only in the sync's snapshot
    val j = (0L until 2000).find(EtlGen.liqUpdated(7, s, _)).get
    assert(EtlGen.liq(7, s, j, false) != EtlGen.liq(7, s, j, true))
  }

  test("etl and reconcile inputs are byte-identical for one seed") {
    val small = new ReconcileReport(ReconShape(n = 3000, extraB = 20))
    val c = ctx(3)
    assert(small.generate(c, s"${c.work}/a") == small.generate(c, s"${c.work}/b"))
    assert(small.generate(c, s"${c.work}/a") != small.generate(ctx(4), s"${c.work}/c"))
    val etl = new EtlSync(EtlShape(nSocios = 200, nLiq = 1000, insSocios = 3, insLiq = 10))
    assert(etl.generate(c, s"${c.work}/e1") == etl.generate(c, s"${c.work}/e2"))
  }

  test("corpus and index generators: same seed, same documents and answer key") {
    val s = CorpusShape(nDocs = 400, bigCluster = 20)
    val a = CorpusGen.plan(5, s)
    assert(a == CorpusGen.plan(5, s))
    assert(a != CorpusGen.plan(6, s))
    assert(a.map(_.id).sorted == (1L to 400))
    val t = CorpusGen.truth(a)
    assert(t.copies.nonEmpty && t.junk.nonEmpty && t.urlLosers.nonEmpty)
    // every same-URL pair really shares graft's canonical address
    import spark.implicits._
    val urls = a.filter(_.kind == "url").map(_.url).toDF("u")
      .select(graft.operators.TextAnalysis.canonicalizeUrl($"u")).as[String].collect()
    assert(urls.distinct.length * 2 == urls.length)
    val is = IndexShape(nBoot = 50, probes = 20)
    assert(IndexGen.deleted(5, is) == IndexGen.deleted(5, is))
    assert((0 until 20).map(IndexGen.probe(5, is, _)) == (0 until 20).map(IndexGen.probe(5, is, _)))
  }

  // ---- checkers reject corrupted outputs ---------------------------------

  test("etl checker rejects a wrong merge tally, a lost row and a wrong mode") {
    val good = EtlCheck.Tally(rows = 100, inserts = 3, updates = 7, content = BigDecimal(42))
    assert(EtlCheck.tally("t", good, 100, BigDecimal(42), (3L, 7L)).isEmpty)
    assert(EtlCheck.tally("t", good.copy(updates = 6), 100, BigDecimal(42), (3L, 7L))
      .exists(_.contains("updates")))
    assert(EtlCheck.tally("t", good.copy(rows = 99), 100, BigDecimal(42), (3L, 7L))
      .exists(_.contains("rows")))
    assert(EtlCheck.tally("t", good, 100, BigDecimal(41), (3L, 7L)).exists(_.contains("content")))
    val modes = Map("conceptos" -> "full_refresh_fallback_dup_keys")
    assert(EtlCheck.results("sync", Seq(("conceptos", "full_refresh_fallback_dup_keys", 5L, None)),
      modes, Map("conceptos" -> 5L)).isEmpty)
    assert(EtlCheck.results("sync", Seq(("conceptos", "incremental", 5L, None)), modes,
      Map("conceptos" -> 5L)).exists(_.contains("mode")))
  }

  test("reconcile checker rejects a missing orphan and a wrong monthly count") {
    val s = ReconShape(n = 2000, extraB = 10)
    val a = ReconGen.expectA(9, s)
    val b = ReconGen.expectB(9, s)
    val orphans = (a.keys diff b.keys).toSeq.map(k => Row(k.toString, "only_in_a")) ++
      (b.keys diff a.keys).toSeq.map(k => Row(k.toString, "only_in_b"))
    assert(orphans.nonEmpty)
    assert(ReconCheck.orphans(orphans, a, b).isEmpty)
    assert(ReconCheck.orphans(orphans.tail, a, b).nonEmpty)
    val monthly = a.monthly.toSeq.map { case (m, (n, c, p)) => Row(m, n, c / 100.0, p / 100.0) }
    assert(ReconCheck.monthly(monthly, a, "A").isEmpty)
    val (m, (n, c, p)) = a.monthly.head
    val broken = monthly.filterNot(_.getString(0) == m) :+ Row(m, n + 1, c / 100.0, p / 100.0)
    assert(ReconCheck.monthly(broken, a, "A").nonEmpty)
    val days = a.dayCounts.toSeq.sortBy { case (d, k) => (-k, d.toEpochDay) }.take(3)
    assert(ReconCheck.topK(days.map { case (d, k) => Row(java.sql.Date.valueOf(d), k) }, a, 3).isEmpty)
    assert(ReconCheck.topK(days.reverse.map { case (d, k) => Row(java.sql.Date.valueOf(d), k) }, a, 3).nonEmpty)
  }

  test("index checker rejects a resurrected tombstoned id and a lost live id") {
    val planted = Map(1000000L -> 100001L, 1000002L -> 100002L)
    val deleted = Set(100002L)
    assert(IndexCheck.probe(Set(1000000L -> 100001L), planted, deleted)._3.isEmpty)
    assert(IndexCheck.probe(Set(1000000L -> 100001L, 1000002L -> 100002L), planted, deleted)._3
      .exists(_.contains("tombstoned")))
    assert(IndexCheck.probe(Set.empty, planted, deleted)._3.exists(_.contains("planted sources")))
    val indexed = Set(1L, 2L, 100001L, 100002L)
    assert(IndexCheck.compacted(Seq(1L, 2L, 100001L), indexed, deleted).isEmpty)
    assert(IndexCheck.compacted(Seq(1L, 2L, 100001L, 100002L), indexed, deleted).nonEmpty)
    assert(IndexCheck.compacted(Seq(1L, 100001L), indexed, deleted).nonEmpty)
  }

  test("curation checker rejects kept junk, a kept near-copy and a raw email") {
    val t = CorpusGen.truth(CorpusGen.plan(5, CorpusShape(nDocs = 400, bigCluster = 20)))
    val clean = (t.cleanUnique ++ (t.clusterOf.keySet diff t.copies)).map(_ -> "text").toMap
    assert(CurateCheck(t, clean)._3.isEmpty)
    assert(CurateCheck(t, clean + (t.junk.head -> "x"))._3.exists(_.contains("junk")))
    assert(CurateCheck(t, clean ++ t.copies.map(_ -> "x"))._3.exists(_.contains("recall")))
    assert(CurateCheck(t, clean + (t.cleanUnique.head -> "mail me at a.b@c.org"))._3
      .exists(_.contains("email")))
  }

  // ---- estimator and declared metrics ------------------------------------

  test("quartiles match Python's statistics.quantiles (exclusive method)") {
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(3.0, 1.0, 2.0)) == ((1.0, 2.0, 3.0)))
    assert(Stats.highestSupportedPercentile(19) == 50)
    assert(Stats.highestSupportedPercentile(100) == 90)
    assert(Stats.highestSupportedPercentile(1000) == 99)
  }

  test("BENCHMARK.json declares exactly the per-layer metrics a traced run prints") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json = try src.mkString finally src.close()
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val declared = "\"name\": \"([^\"]+)\"".r.findAllMatchIn(perLayer).map(_.group(1)).toSeq
    assert(declared == Layers.names.map(_._1))
  }
}
