package perfbench

import graft.operators.Dedup
import graft.pipeline.CorpusPipeline
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A web corpus of `nDocs` pages with planted structure. `bigCluster` is
  * one near-copy cluster far larger than the rest (it sets the largest LSH
  * bucket but stays far under graft's 8192-row bucket guard).
  */
final case class CorpusShape(nDocs: Int = 1200, bigCluster: Int = 40)

/** One planted document. `kind` is clean, head (first page of a cluster),
  * copy, junk or url (one page of a same-URL pair); `cluster` is -1 unless
  * head or copy.
  */
final case class PlannedDoc(id: Long, url: String, text: String, kind: String,
                            cluster: Int)

object CorpusGen {
  import Gen.{below, mix, rng}
  val JunkKinds = Seq("lang_es", "lang_fr", "short", "symbols", "no_punct", "lorem", "brace")
  /** Share of the corpus in near-copy clusters, the big one included;
    * the other clusters have long-tailed sizes.
    */
  val CopyFrac = 0.08
  /** Share planted to fail one named quality rule each. */
  val JunkFrac = 0.06
  /** Share in pairs of distinct pages whose URLs canonicalize alike. */
  val UrlPairFrac = 0.02
  /** Share of pages carrying an email address. */
  val EmailFrac = 0.1
  /** Per-token edit probability of a near-copy. */
  val EditProb = 0.015

  private def email(r: java.util.SplittableRandom): String =
    s"write to ${Text.word(r)}.${Text.word(r)}@mail${r.nextInt(90)}.example.org for the ${Text.word(r)} of it."

  private def junkText(kind: String, r: java.util.SplittableRandom): Seq[String] = kind match {
    case "lang_es" => (0 until 6).map(_ => Text.line(r, 14, Text.es))
    case "lang_fr" => (0 until 6).map(_ => Text.line(r, 14, Text.fr))
    case "short" => Text.enPage(r, 2).map(_.split(" ").take(12).mkString(" ") + ".")
    case "symbols" => Text.enPage(r, 6).map(_.split(" ").map(t =>
      if (r.nextInt(4) == 0) "#" + t else t).mkString(" "))
    case "no_punct" => (0 until 6).map(_ => Text.line(r, 14, Text.en, end = ""))
    case "lorem" => Text.enPage(r, 6) :+ "lorem ipsum dolor sit amet consectetur elit."
    case "brace" => Text.enPage(r, 6) :+ s"the ${Text.word(r)} of {value: ${Text.word(r)}} and that is it."
  }

  /** Pages in arrival order: ids are a seeded permutation of the plan, as
    * a crawl feed would number them, so a near-copy may arrive before the
    * page it copies.
    */
  def plan(seed: Long, s: CorpusShape): Seq[PlannedDoc] = {
    val docs = mutable.ArrayBuffer.empty[(String, Seq[String], String, Int)]
    // Page lengths and cluster sizes follow fixed quantile schedules that
    // the seed only shuffles, so every seed yields the same amount of text
    // and the same cluster-size profile; the seed varies everything else.
    val lengths = shuffled(rng(seed, 0, 506),
      (0 until s.nDocs).map(k => Text.tailLines((k + 0.5) / s.nDocs, 40)))
    def url(i: Int) = s"https://www.site${below(mix(seed, i, 0, 510), 500)}.example/p/$i"
    def page(i: Int): Seq[String] = {
      val r = rng(seed, i, 501)
      val p = Text.enPage(r, lengths(i))
      if (r.nextDouble() < EmailFrac) p :+ email(r) else p
    }
    var cluster = 0
    def addCluster(size: Int): Unit = {
      val headIdx = docs.length
      val head = page(headIdx)
      docs += ((url(headIdx), head, "head", cluster))
      (1 until size).foreach { _ =>
        val i = docs.length
        docs += ((url(i), Text.nearCopy(rng(seed, i, 502), head, EditProb), "copy", cluster))
      }
      cluster += 1
    }
    addCluster(s.bigCluster)
    // cluster k's size: quantile frac(k * golden ratio) of a Pareto(1.3)
    var k = 0
    while (docs.length < CopyFrac * s.nDocs) {
      k += 1
      val u = k * 0.6180339887498949 % 1.0
      addCluster(2 + (math.pow(1.0 - u, -1.0 / 1.3) - 1.0).toInt.min(20))
    }
    (0 until (JunkFrac * s.nDocs).toInt).foreach { k =>
      val i = docs.length
      docs += ((url(i), junkText(JunkKinds(k % JunkKinds.length), rng(seed, i, 504)), "junk", -1))
    }
    (0 until (UrlPairFrac * s.nDocs / 2).toInt).foreach { k =>
      val i = docs.length
      val u = url(i)
      val (scheme, rest) = u.splitAt(u.indexOf("://"))
      val host = rest.drop(3).takeWhile(_ != '/')
      val decorated =
        if (k % 2 == 0) scheme.toUpperCase + "://" + host.toUpperCase + rest.drop(3 + host.length) + "/"
        else u + "?utm_source=feed&utm_medium=rss"
      docs += ((u, page(i), "url", -1))
      docs += ((decorated, page(i + 1), "url", -1))
    }
    while (docs.length < s.nDocs) { val i = docs.length; docs += ((url(i), page(i), "clean", -1)) }

    val ids = shuffled(rng(seed, 0, 505), 1L to docs.length)
    docs.zipWithIndex.map { case ((u, lines, kind, c), i) =>
      PlannedDoc(ids(i), u, lines.mkString("\n"), kind, c)
    }.sortBy(_.id).toSeq
  }

  /** Fisher-Yates shuffle driven by `r`. */
  private def shuffled[T](r: java.util.SplittableRandom, xs: Seq[T]): IndexedSeq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** The planted answer key of a corpus. */
  final case class Truth(junk: Set[Long], urlLosers: Set[Long], copies: Set[Long],
                         cleanUnique: Set[Long], clusterOf: Map[Long, Int])

  def truth(docs: Seq[PlannedDoc]): Truth = {
    val byCluster = docs.filter(_.cluster >= 0).groupBy(_.cluster)
    val urlGroups = docs.filter(_.kind == "url").groupBy(d => canonical(d.url))
    val losers = urlGroups.values.flatMap(g => g.map(_.id).sorted.tail).toSet
    Truth(
      docs.filter(_.kind == "junk").map(_.id).toSet,
      losers,
      byCluster.values.flatMap(g => g.map(_.id).sorted.tail).toSet,
      docs.filter(d => d.kind == "clean" || (d.kind == "url" && !losers(d.id))).map(_.id).toSet,
      docs.filter(_.cluster >= 0).map(d => d.id -> d.cluster).toMap)
  }

  /** The two decorations `plan` applies, undone: the bench's own notion of
    * "same page", independent of graft's canonicalizer.
    */
  def canonical(u: String): String = {
    val i = u.indexOf("://")
    val host = u.drop(i + 3).takeWhile(_ != '/')
    (u.take(i).toLowerCase + "://" + host.toLowerCase + u.drop(i + 3 + host.length))
      .stripSuffix("?utm_source=feed&utm_medium=rss").stripSuffix("/")
  }
}

object CurateCheck {
  val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
  /** Floors that catch a broken dedup or filter; LSH recall itself is
    * probabilistic and printed as `dedup_recall`.
    */
  val MinRecall = 0.9
  val MinKeep = 0.99

  /** (recall, keep share, failures) of one curated output. */
  def apply(t: CorpusGen.Truth, out: Map[Long, String]): (Double, Double, Seq[String]) = {
    val kept = out.keySet
    val recall = (t.copies diff kept).size.toDouble / t.copies.size
    val keep = (t.cleanUnique intersect kept).size.toDouble / t.cleanUnique.size
    val junk = t.junk intersect kept
    val urls = t.urlLosers intersect kept
    val emails = out.count { case (_, txt) => Email.findFirstIn(txt).isDefined }
    val fails = Seq(
      if (junk.nonEmpty) Some(s"${junk.size} planted junk docs kept (e.g. ${junk.take(3).mkString(",")})") else None,
      if (urls.nonEmpty) Some(s"${urls.size} same-URL duplicates kept") else None,
      if (emails > 0) Some(s"$emails kept docs still carry a raw email address") else None,
      if (recall < MinRecall) Some(f"dedup recall $recall%.4f below $MinRecall") else None,
      if (keep < MinKeep) Some(f"clean keep share $keep%.4f below $MinKeep") else None).flatten
    (recall, keep, fails)
  }
}

/** `curate_dedup`: the FineWeb-style recipe over the generated corpus,
  * materialized to parquet, then the curated batch through the persisted
  * MinHash index's lifecycle ([[IndexLoop]]).
  */
final class CurateDedup(shape: CorpusShape = CorpusShape()) extends Workload {
  val name = "curate_dedup"
  private var truth: CorpusGen.Truth = _
  private val index = new IndexLoop
  private var lastRecall, lastKeep = 0.0

  def generate(ctx: Ctx, dir: String): String = {
    val spark = ctx.spark
    import spark.implicits._
    val docs = CorpusGen.plan(ctx.seed, shape)
    truth = CorpusGen.truth(docs)
    index.generate(spark, ctx.seed, dir)
    spark.createDataset(docs.map(d => (d.id, d.url, d.text)))
      .toDF("doc_id", "url", "text").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs.parquet")
    Gen.checksum(dir)
  }

  override def bootstrap(ctx: Ctx, dir: String): Unit = index.bootstrap(ctx.spark, dir)

  def round(ctx: Ctx, dir: String, tr: Tracer, rec: Recorder): Unit = {
    val spark = ctx.spark
    val out = s"${ctx.work}/curated"
    val docs = spark.read.parquet(s"$dir/docs.parquet")
    val recipe = CorpusPipeline.fineWebRecipe()
    // The traced round labels each step's metrics and replays the near-dup
    // step's internals: a recipe that changed shape must fail loudly, not
    // be traced as a different pipeline from the one the untraced rounds run.
    val labels = recipe.map(step =>
      "([a-z0-9])([A-Z])".r.replaceAllIn(step.getClass.getSimpleName.stripSuffix("$"), "$1_$2").toLowerCase)
    require(labels == Layers.corpusSteps,
      s"fineWebRecipe's steps ${labels.mkString(",")} differ from the traced ${Layers.corpusSteps.mkString(",")}")
    val near = recipe.collectFirst { case d: CorpusPipeline.DedupNearPortable => d }.get
    rec.op("curate") {
      if (!tr.traced)
        CorpusPipeline.run(docs, "doc_id", "text", recipe)
          .write.mode(SaveMode.Overwrite).parquet(out)
      else {
        // Step by step, each step's output pinned and counted, so every
        // step's time and row counts are its own.
        var cur = docs
        var nIn = shape.nDocs.toLong
        recipe.zip(Layers.corpusSteps).foreach { case (step, label) =>
          val (next, n) = tr.span(s"pipeline.corpus.$label.busy_s") {
            val d = CorpusPipeline.run(cur, "doc_id", "text", Seq(step)).persist()
            (d, d.count())
          }
          tr.count(s"pipeline.corpus.$label.rows_in", nIn.toDouble)
          tr.count(s"pipeline.corpus.$label.rows_out", n.toDouble)
          if (label == "dedup_near_portable") dedupProbes(cur, near, tr)
          cur = next
          nIn = n
        }
        tr.span("curate.write")(cur.write.mode(SaveMode.Overwrite).parquet(out))
      }
    } { _ =>
      val kept = spark.read.parquet(out).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val (recall, keep, fails) = CurateCheck(truth, kept)
      lastRecall = recall
      lastKeep = keep
      fails
    }
    // The curated batch goes into the persisted index: the accept loop of
    // incremental crawl dedup.
    index.round(spark, dir, ctx.work, spark.read.parquet(out).select("doc_id", "text"), tr, rec)
    spark.catalog.clearCache()
  }

  /** The dedup operator's internals, replayed from outside on the input
    * the recipe's near-dup step received.
    */
  private def dedupProbes(in: DataFrame, near: CorpusPipeline.DedupNearPortable,
                          tr: Tracer): Unit = {
    val CorpusPipeline.DedupNearPortable(shingleN, bands, rows) = near
    val pairs = tr.span("probe.operators.dedup.candidates")(
      Dedup.minHashCandidatesPortable(in, "doc_id", "text", shingleN, bands, rows))
    val pl = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val verified = pl.count { case (a, b) =>
      truth.clusterOf.get(a).exists(c => truth.clusterOf.get(b).contains(c))
    }
    tr.count("operators.dedup.candidate_pairs", pl.length.toDouble)
    tr.count("operators.dedup.verified_pairs", verified.toDouble)
    tr.count("operators.dedup.pair_yield", if (pl.isEmpty) 0.0 else verified.toDouble / pl.length)
    val losers = tr.span("probe.operators.dedup.components_s")(
      Dedup.duplicateGroups(pairs.select("id_a", "id_b"))
        .filter(col("id") =!= col("group_id")).count())
    tr.count("operators.dedup.losers", losers.toDouble)
    pairs.unpersist()
    val sigs = Dedup.minHashSignatures(in, "doc_id", "text", shingleN, bands * rows)
    val banded = sigs.select(explode(array((0 until bands).map(b =>
      concat_ws(",", lit(b) +: (0 until rows).map(r => col(s"h${b * rows + r}")): _*)): _*)).as("bucket"))
    tr.count("operators.dedup.max_bucket_rows", tr.span("probe.operators.dedup.banding")(
      banded.groupBy("bucket").count().agg(max("count")).head().getLong(0)).toDouble)
  }

  override def quality: Seq[(String, Double, String)] = Seq(
    ("dedup_recall", lastRecall, "ratio"), ("clean_keep_frac", lastKeep, "ratio")) ++ index.quality

  override def report(rounds: Seq[Seq[OpResult]]): Seq[(String, Stats.Summary, String)] = {
    def times(op: String) = rounds.flatten.filter(_.name == op).map(_.seconds)
    Seq(("curate_docs_per_s", Stats.summarize(times("curate").map(shape.nDocs / _)), "1/s"),
      ("index_append_s", Stats.summarize(times("index_append")), "s"),
      ("index_probe_s", Stats.summarize(times("index_probe")), "s"))
  }
}
