package graft

import graft.pipeline.CorpusPipeline
import graft.pipeline.CorpusPipeline._
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("recipe runs left-to-right: scrub -> domain filter -> span dedup -> near-dup -> floor") {
    val corpus = Seq(
      (1L, "copy right alpha beta gamma delta epsilon zeta", "https://good.example/1", "src0"),
      (2L, "copy right alpha beta gamma delta epsilon zeta", "https://good.example/2", "src0"), // exact dup of 1
      (3L, "copy right words on a blocked domain page here", "https://spam.example/3", "src0"),
      (4L, "copy right one two three four five six seven", "https://fine.org/4", "src1"),
      (5L, "mail bob@x.example copy right interesting content persists here", "https://fine.org/5", "src1"),
      (6L, "tiny", "https://fine.org/6", "src1") // fails the floor
    ).toDF("doc_id", "text", "url", "source")
    val bl = Seq("spam.example").toDF("domain")
    val recipe: Seq[Step] = Seq(
      RedactPii,
      DropBlockedDomains("url", bl),
      DedupSpansAcross(spanTokens = 2, minDocs = 3),
      DedupNear,
      QualityFloor(minTokens = 5))
    val out = CorpusPipeline.run(corpus, "doc_id", "text", recipe)
      .select("doc_id", "text", "url", "source")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 5L), out.mkString("; "))
    val byId = out.map(r => r._1 -> r).toMap
    // "copy right" (in >= 3 surviving docs) was removed from every text
    assert(byId(1L)._2 == "alpha beta gamma delta epsilon zeta")
    assert(byId(4L)._2 == "one two three four five six seven")
    // the email was scrubbed BEFORE span stats / dedup saw the text
    assert(byId(5L)._2 == "mail <EMAIL> interesting content persists here")
    // schema preserved through text-rewriting steps
    assert(byId(4L)._3 == "https://fine.org/4" && byId(4L)._4 == "src1")
  }

  test("DecodeCharset step decodes legacy-charset payload bytes before " +
      "extraction sees them (r17)") {
    // a windows-1252 page with a lying-by-omission charset (no meta, not
    // valid UTF-8) and a Shift_JIS page with a meta — raw UTF-8 decoding
    // would mojibake both beyond repair
    val corpus = Seq(
      (1L, "<html><head></head><body>café münchen résumé content here</body></html>",
        "windows-1252"),
      (2L, "<html><head><meta charset=\"shift_jis\"></head><body>こんにちは世界 content here</body></html>",
        "Shift_JIS"))
      .toDF("doc_id", "truth", "cs")
      .select(col("doc_id"), col("truth"),
        graft.expressions.CharsetExpressions
          .encodeCharset(col("truth"), col("cs")).as("payload"))
      .withColumn("text", lit("")) // the step rewrites this from bytes
    val out = CorpusPipeline.run(corpus, "doc_id", "text",
        Seq(DecodeCharset("payload"), ExtractHtml(minChars = 10,
          maxLinkDensity = 1.0, minStopDensity = 0.0)))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L).contains("café münchen résumé"), out(1L))
    assert(out(2L).contains("こんにちは世界"), out(2L))
  }

  test("CleanUnicode step repairs mojibake before RedactPii sees the text") {
    val corpus = Seq(
      (1L, "write to bob@x.example today please friends"),  // clean email
      (2L, "write to ana@y.example today please friends"),  // mojibake'd é-free email line stays ascii
      (3L, "rendezvous café crowd bob@x.example meet here now")
    ).toDF("doc_id", "text")
      // damage row 2's text the way a bad charset hop would: encode the
      // NFC text's UTF-8 bytes as latin-1 chars
      .withColumn("text",
        when(col("doc_id") === 2L,
          lit("write to ana@y.example cafÃ© please friends"))
          .otherwise(col("text")))
    val out = CorpusPipeline.run(corpus, "doc_id", "text",
        Seq(CleanUnicode, RedactPii, QualityFloor(minTokens = 5)))
      .select("doc_id", "text", "was_mojibake", "was_denormal")
      .as[(Long, String, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("write to <EMAIL> today please friends", false, false)))
    // mojibake repaired to é, THEN the email redacted
    assert(out(2L) == (("write to <EMAIL> café please friends", true, false)))
    // decomposed é composed by NFC; flags audit the denormal row
    assert(out(3L) == (("rendezvous café crowd <EMAIL> meet here now",
      false, true)))
  }

  test("C4Clean step drops failing pages and rewrites surviving text") {
    val goodLines = Seq(
      "this first line carries five words.",
      "the second line also has words!",
      "a third sentence closes the page.").mkString("\n")
    val corpus = Seq(
      (1L, goodLines + "\nnoise line without terminal punctuation", "s"),
      (2L, "single line no terminal punctuation", "s")
    ).toDF("doc_id", "text", "source")
    val out = CorpusPipeline.run(corpus, "doc_id", "text", Seq(C4Clean))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L), out.keySet.toString)
    // the no-terminal noise line was cleaned out; schema preserved
    assert(out(1L) == goodLines)
  }

  test("ExtractHtml step rewrites raw pages to main content, then C4 composes") {
    // the raw-web ordering the step exists for: markup -> text FIRST,
    // line-level C4 afterwards on the extracted text
    // three content paragraphs: C4's page gate wants >= 3 kept lines
    val paras = Seq(
      "It was a calm day and the people of the town were out in the " +
        "streets, and all of them had something they would do there.",
      "The second of the paragraphs was also made of the usual words " +
        "that the rules of the extractor would see as the content here.",
      "A third paragraph closed the page with some of the same words " +
        "that all of the others had carried before it was done.")
    val pages = Seq(
      (1L, "<body><nav><a href=\"/\">Home</a> <a href=\"/x\">About</a></nav>" +
        paras.map(p => s"<p>$p</p>").mkString +
        "<footer><a href=\"/t\">Terms</a></footer></body>", "w"),
      (2L, "<body><div><a href=\"/\">Home</a></div></body>", "w") // nav-only
    ).toDF("doc_id", "text", "source")
    val out = CorpusPipeline.run(pages, "doc_id", "text",
        Seq(CorpusPipeline.ExtractHtml(minChars = 40), C4Clean))
      .select("doc_id", "text", "source").as[(Long, String, String)]
      .collect()
    assert(out.map(_._1).toSeq == Seq(1L), out.mkString("|"))
    assert(out.head._2 == paras.mkString("\n"), out.head._2) // tags gone
    assert(out.head._3 == "w") // schema preserved through the rewrite
  }

  test("ExtractHtmlRouted and ExtractHtmlSmoothed recipe steps compose " +
      "like ExtractHtml, keeping schema and downstream stages") {
    // routed: a Russian page (Cyrillic list decides) and a CJK page
    // (fallback) both survive the recipe front door; smoothed: the
    // caption between good paragraphs survives phase 2
    val ru = "<body><p>в доме было тихо и тепло когда мы пришли с реки " +
      "и все сидели у окна а потом пили чай с медом и хлебом и говорили " +
      "о том как было летом в деревне у бабушки за лесом.</p>" +
      "<div><a href=\"/a\">More links here</a></div></body>"
    val zh = "<body><p>这个地方的历史可以追溯到很多年以前那时候这里还是" +
      "一个小村庄人们在田里种地在河边打鱼生活虽然简单但是大家都很满足" +
      "后来城市慢慢发展起来道路变宽了房子变高了但是老人们还记得从前的" +
      "样子。</p></body>"
    val routed = CorpusPipeline.run(
        Seq((1L, ru, "ru", "w"), (2L, zh, "zh", "w"),
          (3L, ru, "en", "w")) // en list kills the Cyrillic page
          .toDF("doc_id", "text", "lang", "source"),
        "doc_id", "text",
        Seq(CorpusPipeline.ExtractHtmlRouted("lang")))
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    assert(routed.keySet == Set(1L, 2L), routed.toString)
    assert(routed(1L) == "w") // schema preserved
    val good = "<p>it was the house that all of them had known from " +
      "the days when they were young and it was there that we would " +
      "go in the evening to talk of all that had been and of all that " +
      "would be in the years that were still to come to us all.</p>"
    val page = "<body>" + good + "<p>a stone bridge at dawn</p>" + good +
      "</body>"
    val smoothed = CorpusPipeline.run(
        Seq((1L, page, "en", "w")).toDF("doc_id", "text", "lang", "source"),
        "doc_id", "text",
        Seq(CorpusPipeline.ExtractHtmlSmoothed("lang")))
      .select("text").as[String].head()
    assert(smoothed.contains("a stone bridge at dawn"),
      s"phase 2 must keep the caption between good zones: $smoothed")
    assert(smoothed.split("\n").length == 3)
  }

  /** Five pages exercising every fineWebRecipe gate. */
  private def fineWebDocs = {
    def salad(doc: Int, a: Int, b: Int) =
      (a to b).map(i => s"w${doc}x$i").mkString(" ")
    // every constructed line embeds its doc id so unrelated docs share
    // no 4-token shingle and no 8-token run (the fixture discipline the
    // driver query documents)
    def enPage(id: Int) = Seq(
      salad(id, 1, 30) + s" and page $id story was told here fine.",
      s"the page $id full text goes " + salad(id, 31, 55) +
        " and it ended there.",
      s"note $id of those $id words here it is $id done fine.")
      .mkString("\n")
    Seq(
      (1L, "https://ex.com/a", enPage(1)),
      // same canonical URL as doc 1 (case + trailing slash decoration)
      (2L, "HTTPS://EX.com/a/", enPage(2)),
      // Spanish page -> language gate
      (3L, "https://ex.com/c", Seq(
        "el texto de la casa y la calle es una linea que se ve bien.",
        "la casa y el texto de la calle es una linea que se ve bien.",
        "una linea de la casa y el texto que se ve bien en la calle.")
        .mkString("\n")),
      // near-copy of doc 1 (one extra line), unique url -> MinHash
      (4L, "https://ex.com/d",
        enPage(1) + "\ncopy 4 extra line is here of course fine."),
      // doc that echoes its own opening tokens -> ExactSubstr excision
      (5L, "https://ex.com/e", Seq(
        salad(5, 1, 30) + " and page 5 story was told here fine.",
        "the page 5 full text goes " + salad(5, 31, 55) +
          " and it ended there.",
        salad(5, 1, 10) + " and 5 said so again here done fine.")
        .mkString("\n"))
    ).toDF("doc_id", "url", "text")
  }

  test("fineWebRecipe: url dup, language, near-copy and echoed spans all handled") {
    val docs = fineWebDocs
    val out = CorpusPipeline.run(docs, "doc_id", "text",
        CorpusPipeline.fineWebRecipe())
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 5L), out.keySet.toString)
    // doc 5's echoed opening run was excised from BOTH occurrences
    assert(!out(5L).contains("w5x1 "), out(5L))
    assert(out(5L).contains("w5x31"), out(5L)) // untouched middle survives
    // doc 1 (no duplicate anywhere after the copy died) keeps its salad
    assert(out(1L).contains("w1x1 ") && out(1L).contains("w1x30"), out(1L))
  }

  test("fineWebRecipe on a single-split input starts fewer Spark jobs") {
    // The near-dup step used to pin and count its signatures before
    // banding: this run started 27 jobs with that extra pass.
    val dir = java.nio.file.Files.createTempDirectory("graft-fw-jobs")
      .toString + "/docs"
    fineWebDocs.coalesce(1).write.parquet(dir)
    val (out, jobs) = JobLog(spark)(
      CorpusPipeline.run(spark.read.parquet(dir), "doc_id", "text",
        CorpusPipeline.fineWebRecipe()).select("doc_id").as[Long].collect())
    assert(out.toSet == Set(1L, 5L))
    assert(jobs.size < 27, s"${jobs.size} jobs:\n${jobs.mkString("\n--\n")}")
    spark.catalog.clearCache()
  }

  test("PerplexityFloorKN step drops the high-perplexity tail under KN") {
    val loop = (1 to 40).map(_ => "click here to subscribe").mkString(" ")
    val mixed = new scala.util.Random(3)
      .shuffle(loop.split(" ").toSeq).mkString(" ")
    val corpus = Seq((1L, loop, "s"), (2L, mixed, "s"))
      .toDF("doc_id", "text", "source")
    val cut = graft.operators.LanguageModel
      .perplexityKneserNeySelf(corpus, "doc_id", "text")
      .orderBy("doc_id").select("perplexity").as[Double].collect()
    val threshold = (cut(0) + cut(1)) / 2
    val kept = CorpusPipeline.run(corpus, "doc_id", "text",
        Seq(PerplexityFloorKN(threshold)))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), kept.toString)
  }

  test("DropBlockedTerms step drops pages containing any blocked term") {
    val corpus = Seq(
      (1L, "a perfectly clean page", "s"),
      (2L, "visit our CASINO tonight", "s"),
      (3L, "embedded spam phrase inside", "s")
    ).toDF("doc_id", "text", "source")
    val kept = CorpusPipeline.run(corpus, "doc_id", "text",
        Seq(DropBlockedTerms(Seq("casino", "spam phrase"))))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), kept.toString)
  }

  test("TokenizeUnigram step appends consistent id and count columns") {
    val corpus = Seq(
      (1L, "the cat sat on the mat and the hat sat", "s"),
      (2L, "a cat and a mat and a hat", "s"),
      (3L, "tiny", "s")
    ).toDF("doc_id", "text", "source")
    val out = CorpusPipeline.run(corpus, "doc_id", "text", Seq(
        QualityFloor(minTokens = 5),
        TokenizeUnigram(targetVocab = 60)))
      .select(col("doc_id"), (size(col("token_ids")).cast("long") ===
        col("n_unigram_tokens")).as("ok"))
      .as[(Long, Boolean)].collect().toMap
    assert(out.keySet == Set(1L, 2L), out.keySet.toString)
    assert(out.values.forall(identity))
  }

  test("TokenizeWordPiece step appends consistent id and count columns") {
    val corpus = Seq(
      (1L, "the cat sat on the mat and the hat sat", "s"),
      (2L, "a cat and a mat and a hat", "s"),
      (3L, "tiny", "s")
    ).toDF("doc_id", "text", "source")
    val out = CorpusPipeline.run(corpus, "doc_id", "text", Seq(
        QualityFloor(minTokens = 5),
        TokenizeWordPiece(numMerges = 8)))
      .select(col("doc_id"), (size(col("token_ids")).cast("long") ===
        col("n_wordpiece_tokens")).as("ok"),
        size(filter(col("token_ids"), i => i < 0)).as("unk"))
      .as[(Long, Boolean, Int)].collect()
    assert(out.map(_._1).toSet == Set(1L, 2L))
    assert(out.forall(_._2))
    assert(out.forall(_._3 == 0)) // trained on itself: never UNKs
  }

  test("KeepCompressionBand drops looping boilerplate, keeps varied text") {
    val corpus = Seq(
      (1L, Seq.fill(40)("subscribe now").mkString(" "), "s"),
      (2L, "a moderately varied sentence describing several different " +
        "unrelated events with ordinary vocabulary and no repetition", "s")
    ).toDF("doc_id", "text", "source")
    val kept = CorpusPipeline.run(corpus, "doc_id", "text",
        Seq(KeepCompressionBand()))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L), kept.toString)
  }

  test("step order matters and is the caller's to choose") {
    // floor BEFORE span removal keeps a doc whose tokens drop below the
    // floor only after boilerplate removal; floor AFTER drops it
    val corpus = Seq(
      (1L, "copy right unique tail"),
      (2L, "copy right more words here"),
      (3L, "copy right third doc words")
    ).toDF("doc_id", "text")
    val before = CorpusPipeline.run(corpus, "doc_id", "text",
      Seq(QualityFloor(3), DedupSpansAcross(2, 3)))
      .select("doc_id").as[Long].collect().toSet
    val after = CorpusPipeline.run(corpus, "doc_id", "text",
      Seq(DedupSpansAcross(2, 3), QualityFloor(3)))
      .select("doc_id").as[Long].collect().toSet
    assert(before == Set(1L, 2L, 3L))
    // doc 1 drops to 2 tokens ("unique tail") once "copy right" is banned
    assert(after == Set(2L, 3L))
  }

  test("token-budget mixing composes as a step") {
    val corpus = ((1L to 40L).map(i => (i, "w " * 20 + "end", "a")) ++
      (41L to 80L).map(i => (i, "w " * 20 + "end", "b")))
      .toDF("doc_id", "text", "src")
    val out = CorpusPipeline.run(corpus, "doc_id", "text", Seq(
        MixTokens("src", "doc_id", Map("a" -> 1.0), targetTokens = 100000)))
      .select("doc_id", "src").as[(Long, String)].collect()
    // weight 1.0 with a budget above source a's mass: all of a, none of b
    assert(out.map(_._1).toSet == (1L to 40L).toSet)
    assert(out.forall(_._2 == "a"))
  }

  test("runWithAudit reports per-step attrition and matches run()'s output") {
    val corpus = ((1L to 30L).map(i => (i, "w " * 20 + "end")) ++
      (31L to 40L).map(i => (i, "short doc"))).toDF("doc_id", "text")
    val steps = Seq(QualityFloor(minTokens = 10))
    val (out, audit) = CorpusPipeline.runWithAudit(corpus, "doc_id", "text", steps)
    val rows = audit.orderBy("step_idx")
      .as[(Int, String, Long)].collect().toSeq
    assert(rows == Seq((0, "input", 40L), (1, "QualityFloor", 30L)), rows)
    // the audited run's final frame IS run()'s result
    val direct = CorpusPipeline.run(corpus, "doc_id", "text", steps)
    assert(out.select("doc_id").as[Long].collect().toSet ==
      direct.select("doc_id").as[Long].collect().toSet)
  }

  test("ClassifierKeep step keeps the NB-predicted class; schema preserved") {
    val corpus = Seq(
      (1L, "x x x", "good"), (2L, "x x z", "good"),
      (3L, "y y y", "bad"), (4L, "y y x", "bad"),
      (5L, "y y y y", "good")) // labeled good, reads bad -> dropped
      .toDF("doc_id", "text", "tier")
    val out = CorpusPipeline.run(corpus, "doc_id", "text", Seq(
        ClassifierKeep("tier", keepLabel = "good")))
    assert(out.columns.toSeq == corpus.columns.toSeq)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L) && ids.contains(2L) && !ids.contains(5L), ids)
  }

  test("ClassifierKeep minMargin drops low-confidence wins; TokenizeBpe appends ids") {
    val corpus = Seq(
      (1L, "x x x x", "good"), (2L, "x x z y", "good"),
      (3L, "y y y y", "bad"), (4L, "y y x z", "bad"))
      .toDF("doc_id", "text", "tier")
    val margins = graft.operators.Classifier
      .classifyNaiveBayesWithMargin(corpus, "doc_id", "text",
        graft.operators.Classifier.trainNaiveBayes(corpus, "tier", "text"))
      .filter(col("pred_label") === "good")
      .select("doc_id", "margin").as[(Long, Double)].collect().toMap
    assert(margins.size >= 2, margins)
    val cut = margins.values.max
    val confident = CorpusPipeline.run(corpus, "doc_id", "text", Seq(
        ClassifierKeep("tier", keepLabel = "good", minMargin = cut)))
      .select("doc_id").as[Long].collect().toSet
    assert(confident == margins.filter(_._2 >= cut).keySet,
      s"$confident vs $margins")
    // TokenizeBpe as the terminal stage: appends (token_ids, n_bpe_tokens)
    // to the surviving schema, consistent with each other.
    val (out, audit) = CorpusPipeline.runWithAudit(corpus, "doc_id", "text",
      Seq(ClassifierKeep("tier", keepLabel = "good"),
        TokenizeBpe(numMerges = 4)))
    assert(out.columns.toSeq ==
      corpus.columns.toSeq ++ Seq("token_ids", "n_bpe_tokens"))
    val bad = out.filter(size(col("token_ids")).cast("long") =!=
      col("n_bpe_tokens")).count()
    assert(bad == 0)
    // audit covers the new step labels, and TokenizeBpe drops no rows
    val rows = audit.orderBy("step_idx")
      .as[(Int, String, Long)].collect().toSeq
    assert(rows.map(_._2) == Seq("input", "ClassifierKeep", "TokenizeBpe"),
      rows)
    assert(rows(1)._3 == rows(2)._3, rows)
  }

  test("SemDedupStep collapses embedding near-dups inside a recipe") {
    val emb = graft.operators.Similarity.clusteredEmbeddings(spark,
        nClusters = 6, perCluster = 6, dim = 16, noise = 0.03)
      .withColumn("text", concat(lit("doc "), col("vec_id")))
    val out = CorpusPipeline.run(emb, "vec_id", "text", Seq(
        SemDedupStep("embedding", dim = 16, nCentroids = 6)))
    assert(out.columns.toSeq == emb.columns.toSeq)
    val n = out.count()
    assert(n >= 6 && n <= 18, s"$n of 36 survived")
  }

  test("perplexity floor drops the surprising tail and unscorable docs") {
    // 10 docs of one repeated bigram loop (predictable under the
    // self-trained LM), one scrambled-vocabulary doc (surprising), one
    // too short to score.
    val loop = (1 to 20).map(_ => "click here to subscribe").mkString(" ")
    val corpus = ((1L to 10L).map(i => (i, loop)) ++
      Seq((11L, "subscribe click to here subscribe to click here to"),
        (12L, "solo"))).toDF("doc_id", "text")
    val ppl = graft.operators.LanguageModel
      .perplexitySelf(corpus, "doc_id", "text")
      .filter(col("doc_id").isin(1L, 11L))
      .orderBy("doc_id").select("perplexity").as[Double].collect()
    val cut = (ppl(0) + ppl(1)) / 2 // between the loop and the scramble
    val out = CorpusPipeline.run(corpus, "doc_id", "text",
        Seq(PerplexityFloor(cut)))
      .select("doc_id").as[Long].collect().toSet
    assert(out == (1L to 10L).toSet, out.toString) // 11 over floor, 12 unscorable
  }

  test("MixTemperature step equals the operator; composes after a floor") {
    val corpus = ((1L to 80L).map(i => (i, "head", "some words here repeated " * 3)) ++
      (81L to 90L).map(i => (i, "tail", "rare words " * 5)))
      .toDF("doc_id", "g", "text")
    val out = CorpusPipeline.run(corpus, "doc_id", "text", Seq(
        QualityFloor(minTokens = 2),
        MixTemperature("g", alpha = 0.3, targetRows = 30)))
      .select("doc_id").as[Long].collect().toSet
    val expect = graft.operators.Curation.mixtureSampleTemperature(
        CorpusPipeline.run(corpus, "doc_id", "text", Seq(QualityFloor(2))),
        "g", "doc_id", alpha = 0.3, targetRows = 30)
      .select("doc_id").as[Long].collect().toSet
    assert(out == expect && out.nonEmpty)
  }

  test("DsirSelect keeps the docs resembling the target exemplar; schema preserved") {
    // Target vocabulary {x,y}; half the corpus speaks it, half is noise.
    val target = Seq((100L, "x y x y"), (101L, "y x")).toDF("id", "body")
    val corpus = Seq(
      (1L, "x y x", "a"), (2L, "y x y", "a"), (3L, "x y", "b"),
      (4L, "p q r", "b"), (5L, "q p q", "c"), (6L, "r r p", "c"))
      .toDF("doc_id", "text", "source")
    val out = CorpusPipeline.run(corpus, "doc_id", "text", Seq(
        DsirSelect(target, "id", "body", buckets = 64, k = 3, seed = "s")))
    assert(out.columns.toSeq == corpus.columns.toSeq)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept.size == 3, kept.toString)
    // the step must pick exactly what the operator composition picks
    // (weights + Gumbel top-k at the same seed) — on this tiny corpus the
    // noise can outweigh the log-ratios, so the pinned contract is
    // step ≡ operator, not "target docs win" (DsirSpec covers monotony)
    val tm = graft.operators.Dsir.featureModel(
      target.select(col("id").as("doc_id"), col("body").as("__t")),
      "doc_id", "__t", 64)
    val rm = graft.operators.Dsir.featureModel(corpus, "doc_id", "text", 64)
    val expect = graft.operators.Dsir.resampleTopK(
        graft.operators.Dsir.importanceWeights(corpus, "doc_id", "text",
          tm, rm, 64),
        "doc_id", "log_weight", 3, "s")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expect, s"step $kept vs operator $expect")
  }
}
