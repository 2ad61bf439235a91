package perfbench

import graft.operators.Dedup
import graft.pipeline.Tombstones
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The persisted MinHash index's inputs: `nBoot` pages of an earlier crawl
  * indexed at set-up, and `probes` probe pages of which every second is a
  * near-copy of an indexed page.
  */
final case class IndexShape(nBoot: Int = 1000, probes: Int = 60)

object IndexGen {
  import Gen.{below, mix, rng}
  /** Ids of the earlier crawl and of the probes, above any corpus id. */
  val BootBase = 100000L
  val ProbeBase = 1000000L
  /** About this share of the indexed ids is taken down, plus the sources
    * of some planted probes.
    */
  val DeleteFrac = 0.01
  /** Per-token edit probability of a planted probe. */
  val EditProb = 0.015

  def page(seed: Long, id: Long): String = {
    val r = rng(seed, id, 601)
    Text.enPage(r, Text.tailLines(r.nextDouble(), 12)).mkString("\n")
  }

  def bootIds(s: IndexShape): Seq[Long] = (1L to s.nBoot).map(BootBase + _)

  /** Source of planted probe `q`, if it is one. */
  def probeSource(seed: Long, s: IndexShape, q: Int): Option[Long] =
    if (q % 2 == 0) Some(BootBase + 1 + below(mix(seed, q, 0, 604), s.nBoot)) else None

  def probe(seed: Long, s: IndexShape, q: Int): String = probeSource(seed, s, q) match {
    case Some(src) => Text.nearCopy(rng(seed, q, 605), page(seed, src).split("\n").toSeq, EditProb).mkString("\n")
    case None => page(seed, ProbeBase + q)
  }

  def deleted(seed: Long, s: IndexShape): Set[Long] = {
    val random = bootIds(s).filter(i => below(mix(seed, i, 0, 620), 10000) < DeleteFrac * 10000)
    val probed = (0 until s.probes by 10).flatMap(q => probeSource(seed, s, q))
    (random ++ probed).toSet
  }
}

/** Checks of the index lifecycle's outputs. */
object IndexCheck {
  /** A floor that catches a broken probe, not a tuning target: LSH recall
    * on single planted near-copies is probabilistic (printed as
    * `index_probe_recall`).
    */
  val MinRecall = 0.5

  /** (hits, live planted probes, failures) of one probe batch. */
  def probe(found: Set[(Long, Long)], planted: Map[Long, Long],
            deleted: Set[Long]): (Int, Int, Seq[String]) = {
    val live = planted.filter { case (_, src) => !deleted(src) }
    val hits = live.count { case (q, src) => found((q, src)) }
    val resurrected = found.collect { case (_, d) if deleted(d) => d }
    val fails = Seq(
      if (resurrected.nonEmpty) Some(s"probe returned ${resurrected.size} tombstoned ids (e.g. ${resurrected.take(3).mkString(",")})") else None,
      if (live.nonEmpty && hits.toDouble / live.size < MinRecall)
        Some(s"minHashProbeIndex found $hits/${live.size} planted sources, below $MinRecall") else None).flatten
    (hits, live.size, fails)
  }

  /** After compaction the tombstoned ids are physically gone and every
    * live id is still indexed exactly once.
    */
  def compacted(ids: Seq[Long], indexed: Set[Long], deleted: Set[Long]): Seq[String] = {
    val live = indexed diff deleted
    if (ids.size == live.size && ids.toSet == live) Nil
    else Seq(s"compacted minhash index holds ${ids.size} rows " +
      s"(${ids.count(deleted)} tombstoned), expected the ${live.size} live ids once each")
  }
}

/** The incremental-crawl accept loop against a persisted MinHash index:
  * append a curated batch exactly-once, replay it (a no-op), take down a
  * set of ids, probe, and compact. Each round restores the index the
  * set-up bootstrapped, so every round starts from the same state.
  */
final class IndexLoop(shape: IndexShape = IndexShape()) {
  private var deleted: Set[Long] = Set.empty
  private var planted: Map[Long, Long] = Map.empty
  private var bootTextBytes = 0L
  var quality: Seq[(String, Double, String)] = Nil

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val boot = IndexGen.bootIds(shape).map(i => (i, IndexGen.page(seed, i)))
    boot.toDF("doc_id", "text").coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/index-boot.parquet")
    (0 until shape.probes).map(q => (IndexGen.ProbeBase + q, IndexGen.probe(seed, shape, q)))
      .toDF("doc_id", "text").coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/probes.parquet")
    deleted = IndexGen.deleted(seed, shape)
    deleted.toSeq.sorted.toDF("doc_id").coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/deletes.parquet")
    planted = (0 until shape.probes).flatMap(q =>
      IndexGen.probeSource(seed, shape, q).map(IndexGen.ProbeBase + q -> _)).toMap
    bootTextBytes = boot.collect { case (i, t) if !deleted(i) => t.getBytes("UTF-8").length.toLong }.sum
  }

  def bootstrap(spark: SparkSession, dir: String): Unit =
    Dedup.minHashWriteIndex(spark.read.parquet(s"$dir/index-boot.parquet"), "doc_id", "text",
      s"$dir/pristine-minhash")

  /** One pass of the loop, appending `batch` (doc_id, text). */
  def round(spark: SparkSession, dir: String, work: String, batch: DataFrame,
            tr: Tracer, rec: Recorder): Unit = {
    val mh = s"$work/index/minhash"
    Gen.copyDir(s"$dir/pristine-minhash", mh)
    def snap() = Gen.listing(mh)
    def fresh(before: Map[String, Long], after: Map[String, Long]) =
      after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum
    val probes = spark.read.parquet(s"$dir/probes.parquet")
    val dels = spark.read.parquet(s"$dir/deletes.parquet")
    val batchRows = batch.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val indexed = IndexGen.bootIds(shape).toSet ++ batchRows.keySet
    var written = 0L

    def append() = tr.span("index.minhash.append_s")(
      Dedup.minHashAppendIndex(batch, "doc_id", "text", mh, Some("crawl-batch")))
    val beforeAppend = snap()
    rec.op("index_append")(append()) { _ =>
      written += fresh(beforeAppend, snap())
      val n = spark.read.parquet(mh).count()
      if (n != indexed.size) Seq(s"minhash index holds $n rows after the append, expected ${indexed.size}") else Nil
    }
    val beforeReplay = snap()
    rec.op("index_replay")(append()) { _ =>
      if (snap() != beforeReplay) Seq("replaying a committed batch changed the index") else Nil
    }
    val beforeDelete = snap()
    rec.op("index_delete")(tr.span("index.delete_s")(
      Tombstones.delete(dels, "doc_id", mh, Some("takedown")))) { _ =>
      written += fresh(beforeDelete, snap()); Nil
    }
    var candidates, hits, live = 0
    rec.op("index_probe")(tr.span("index.minhash.probe_s")(
      Dedup.minHashProbeIndex(spark, mh, probes, "doc_id", "text").collect())) { rows =>
      val found = rows.map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"))).toSet
      val (h, l, fails) = IndexCheck.probe(found, planted, deleted)
      candidates = found.size; hits = h; live = l
      fails
    }
    val beforeCompact = snap()
    var compactBytes = 0L
    rec.op("index_compact")(tr.span("index.compact_s")(Tombstones.purge(spark, mh))) { _ =>
      compactBytes = fresh(beforeCompact, snap())
      written += compactBytes
      IndexCheck.compacted(spark.read.parquet(mh).select("id").collect().map(_.getLong(0)).toSeq,
        indexed, deleted)
    }
    val end = snap()
    val batchBytes = batchRows.values.map(_.getBytes("UTF-8").length.toLong).sum
    quality = Seq(
      ("index_probe_recall", if (live > 0) hits.toDouble / live else 0.0, "ratio"),
      ("index_write_amp", written.toDouble / batchBytes, "ratio"),
      ("index_space_amp", end.values.sum.toDouble / (bootTextBytes + batchBytes), "ratio"))
    if (tr.traced) {
      tr.count("index.bytes_written", written.toDouble)
      tr.count("index.files", end.size.toDouble)
      tr.count("index.compact_bytes_rewritten", compactBytes.toDouble)
      tr.count("index.tombstone_frac", (deleted intersect indexed).size.toDouble / indexed.size)
      tr.count("index.probe_candidates_per_hit", if (hits > 0) candidates.toDouble / hits else 0.0)
    }
  }
}
