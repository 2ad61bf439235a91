package graft

import java.io.File
import java.nio.file.Files

import graft.operators.{Dedup, Profile, ProductQuantization => PQ, SemDedup, Similarity, Skew,
  TextAnalysis, WebGraph}
import graft.pipeline.{IndexLifecycle, Sinks, Tombstones}

/** The shared index lifecycle (`graft.pipeline.IndexLifecycle`) across the
  * families that use it: an untagged append writes the rows a first tagged
  * commit writes, and the verbs that read a `meta` parameters sidecar run no
  * Spark job for it.
  *
  * A replay after each staged rebuild is pinned where the rebuild is
  * exercised: `StreamingSpec` for the IVF, PQ, OPQ and SemDeDup retrains,
  * `DeleteSpec` for `Tombstones.purge` and `bm25CompactIndex`.
  */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString + "/idx"

  private val docs = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat",
    3L -> "completely different text about spark engines",
    4L -> "alpha beta gamma delta epsilon zeta eta theta"
  ).toDF("doc_id", "text")

  private val batch = Seq(
    10L -> "the quick brown fox jumps over the lazy dog today",
    11L -> "alpha beta gamma delta epsilon zeta iota kappa"
  ).toDF("doc_id", "text")

  private lazy val emb = Similarity.clusteredEmbeddings(spark, nClusters = 4,
    perCluster = 8, dim = 8)
  private def embBase = emb.filter($"vec_id" % 2 === 0)
  private def embBatch = emb.filter($"vec_id" % 2 =!= 0)

  private val edges = Seq(("a.com", "b.com", 2L), ("b.com", "c.com", 1L))
    .toDF("src_host", "dst_host", "weight")

  /** A family with a tagged-or-plain append: how to create an index at a
    * path, how to append the batch under a tag or none, and the data
    * directories (relative to the root, "" = the root) the append writes.
    */
  private case class Family(name: String, create: String => Unit,
                            append: (String, Option[String]) => Unit, dirs: Seq[String])

  private val families = Seq(
    Family("simHash", Dedup.simHashWriteIndex(docs, "doc_id", "text", _),
      Dedup.simHashAppendIndex(batch, "doc_id", "text", _, _), Seq("")),
    Family("components",
      Dedup.componentsWriteIndex(Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"), _),
      (p, t) => Dedup.componentsAppendIndex(Seq((2L, 3L), (5L, 6L)).toDF("id_a", "id_b"), p,
        batchTag = t): Unit,
      Seq("labels", "relabels")),
    Family("substring", Dedup.substringWriteIndex(docs, "doc_id", "text", 4, _),
      Dedup.substringAppendIndex(batch, "doc_id", "text", _, _), Seq("fps")),
    Family("minHash", Dedup.minHashWriteIndex(docs, "doc_id", "text", _),
      Dedup.minHashAppendIndex(batch, "doc_id", "text", _, _), Seq("")),
    Family("kll", Profile.kllWriteIndex(docs, Seq("doc_id"), _),
      Profile.kllAppendIndex(batch, _, _), Seq("sketches")),
    Family("cms", Skew.cmsWriteIndex(docs, "doc_id", _),
      Skew.cmsAppendIndex(batch, _, _), Seq("sketches")),
    Family("ivf", Similarity.ivfWriteIndex(embBase, "vec_id", "embedding", 8, 4, _),
      Similarity.ivfAppendIndex(embBatch, "vec_id", "embedding", _, _), Seq("")),
    Family("pq", PQ.pqWriteIndex(embBase, "vec_id", "embedding", 8, _, m = 4, kCodewords = 8),
      PQ.pqAppendIndex(embBatch, "vec_id", "embedding", _, _), Seq("")),
    Family("opq", PQ.opqWriteIndex(embBase, "vec_id", "embedding", 8, _, m = 4, kCodewords = 8),
      PQ.opqAppendIndex(embBatch, "vec_id", "embedding", _, _), Seq("")),
    Family("semDedup", SemDedup.semDedupWriteIndex(embBase, "vec_id", "embedding", 8, 4, _),
      SemDedup.semDedupAppendIndex(embBatch, "vec_id", "embedding", _, _), Seq("")),
    Family("bm25 append", TextAnalysis.bm25WriteIndex(docs, "doc_id", "text", _, nBuckets = 4),
      TextAnalysis.bm25AppendIndex(batch, "doc_id", "text", _, _),
      Seq("postings", "terms", "stats")),
    Family("bm25 delete", TextAnalysis.bm25WriteIndex(docs, "doc_id", "text", _, nBuckets = 4),
      TextAnalysis.bm25DeleteIndex(Seq(2L, 3L, 99L).toDF("doc_id"), "doc_id", _, _),
      Seq("_tombstones", "_deleted_terms", "_deleted_stats")),
    Family("webGraph", WebGraph.writeIndex(edges, _),
      WebGraph.appendIndex(Seq(("a.com", "b.com", 5L)).toDF("src_host", "dst_host", "weight"),
        _, _), Seq("edges")),
    Family("tombstones", Dedup.minHashWriteIndex(docs, "doc_id", "text", _),
      Tombstones.delete(Seq(4L, 4L, 99L).toDF("doc_id"), "doc_id", _, _), Seq("_tombstones"))
  )

  /** Every row of `dir`, as sorted JSON lines (binary sketches as base64). */
  private def rowsOf(dir: String): Seq[String] =
    spark.read.parquet(dir).toJSON.collect().toSeq.sorted

  for (f <- families) test(s"${f.name}: an untagged append and a first tagged commit " +
    "of the same batch read back the same rows") {
    val seed = tmp(s"lifecycle-${f.name.replace(' ', '-')}")
    f.create(seed)
    val copies = Seq("plain", "tagged").map { c =>
      val p = tmp(s"lifecycle-$c")
      org.apache.commons.io.FileUtils.copyDirectory(new File(seed), new File(p))
      p
    }
    val Seq(plain, tagged) = copies
    f.append(plain, None)
    f.append(tagged, Some("b"))
    assert(!new File(plain, "_committed").exists(), "an untagged append wrote a marker")
    assert(new File(tagged, "_committed").list().exists(_.matches("(del-)?b--?\\d+_\\d+")))
    for (d <- f.dirs) {
      def dir(root: String) = if (d.isEmpty) root else s"$root/$d"
      val want = rowsOf(dir(plain))
      assert(want.nonEmpty && rowsOf(dir(tagged)) == want, s"${f.name} $d")
      assert(want != (if (Sinks.exists(spark, dir(seed))) rowsOf(dir(seed)) else Nil),
        s"${f.name} $d: the append wrote nothing")
    }
  }

  test("the hll, kll, cms, components and substring verbs read their meta " +
    "sidecar with no Spark job") {
    val hll = tmp("params-hll")
    Profile.hllWriteIndex(docs, Seq("doc_id"), hll)
    val kll = tmp("params-kll")
    Profile.kllWriteIndex(docs, Seq("doc_id"), kll)
    val cms = tmp("params-cms")
    Skew.cmsWriteIndex(docs, "doc_id", cms)
    val cc = tmp("params-cc")
    Dedup.componentsWriteIndex(Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"), cc)
    val sub = tmp("params-sub")
    Dedup.substringWriteIndex(docs, "doc_id", "text", 4, sub)
    val verbs = Seq[(String, () => Any)](
      "hllAppendIndex" -> (() => Profile.hllAppendIndex(batch, hll)),
      "hllEstimateIndex" -> (() => Profile.hllEstimateIndex(spark, hll)),
      "hllCompactIndex" -> (() => Profile.hllCompactIndex(spark, hll)),
      "kllAppendIndex" -> (() => Profile.kllAppendIndex(batch, kll)),
      "kllQuantilesIndex" -> (() => Profile.kllQuantilesIndex(spark, kll, Seq(0.5))),
      "cmsAppendIndex" -> (() => Skew.cmsAppendIndex(batch, cms)),
      "cmsEstimateIndex" -> (() => Skew.cmsEstimateIndex(spark, cms, batch, "doc_id")),
      "cmsCompactIndex" -> (() => Skew.cmsCompactIndex(spark, cms)),
      "componentsAppendIndex" -> (() =>
        Dedup.componentsAppendIndex(Seq((2L, 3L)).toDF("id_a", "id_b"), cc)),
      "componentsIndexedGroups" -> (() => Dedup.componentsIndexedGroups(spark, cc)),
      "componentsMaybeCompact" -> (() => Dedup.componentsMaybeCompact(spark, cc)),
      "componentsCompactIndex" -> (() => Dedup.componentsCompactIndex(spark, cc)),
      "substringAppendIndex" -> (() => Dedup.substringAppendIndex(batch, "doc_id", "text", sub)),
      "substringProbeIndex" -> (() =>
        Dedup.substringProbeIndex(spark, sub, batch, "doc_id", "text")),
      "substringCompactIndex" -> (() => Dedup.substringCompactIndex(spark, sub)))
    // each is 2 below the count of the `spark.read.parquet(meta).collect()`
    // read (a schema-inference job and a collect job), and 4 below for
    // componentsCompactIndex, which reads meta twice
    val want = Map("hllAppendIndex" -> 2, "hllEstimateIndex" -> 1, "hllCompactIndex" -> 3,
      "kllAppendIndex" -> 2, "kllQuantilesIndex" -> 1, "cmsAppendIndex" -> 2,
      "cmsEstimateIndex" -> 4, "cmsCompactIndex" -> 3, "componentsAppendIndex" -> 21,
      "componentsIndexedGroups" -> 7, "componentsMaybeCompact" -> 3,
      "componentsCompactIndex" -> 9, "substringAppendIndex" -> 2, "substringProbeIndex" -> 1,
      "substringCompactIndex" -> 2)
    for ((name, verb) <- verbs) {
      val (_, jobs) = JobLog(spark)(verb())
      assert(jobs.size == want(name), s"$name:\n${jobs.mkString("\n")}")
    }
    for (root <- Seq(hll, kll, cms, cc, sub)) {
      val (rows, jobs) = JobLog(spark)(IndexLifecycle.readParams(spark, s"$root/meta",
        Nil, "readParams", single = false)(identity))
      assert(rows.nonEmpty && jobs.isEmpty, s"$root: ${jobs.size} job(s)")
    }
  }
}
