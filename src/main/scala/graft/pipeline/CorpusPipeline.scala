package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Declarative corpus-curation pipeline — the reference's config-driven
  * design (per-table `TableSpec`s interpreted by `Runner`, see
  * `sync_ALL.py`'s TABLES/FILTERS config surface) applied to the
  * training-corpus domain: the standard cleanup/curation recipe is a
  * VALUE — an ordered `Seq[Step]` — interpreted left-to-right by
  * [[CorpusPipeline.run]]. A recipe can be inspected, logged, diffed,
  * and unit-tested as data, and the step order (scrub before dedup,
  * dedup before mixing, mix before sampling) is explicit instead of
  * buried in call sites.
  *
  * Every step preserves the frame's full schema: text-rewriting steps
  * (span dedup) rewrite `textCol` in place and re-attach all other
  * columns by id; row-dropping steps (dedup, filters, mixing) only
  * remove rows. So steps compose in any order and the output is always
  * "the input corpus, cleaned" — same columns, subset of rows, possibly
  * rewritten text. The single exception is [[TokenizeBpe]], the terminal
  * tokenizer stage, which APPENDS the token-id columns (its output is
  * the trainer-facing corpus, not a further-curatable one).
  *
  * Scale: each step is one of this library's operators — the pipeline
  * adds NO driver-side loops and no materialization between steps; the
  * whole recipe is one lazy plan unless an operator itself pins
  * (documented on the operator).
  */
object CorpusPipeline {

  /** One curation step. `idCol`/`textCol` come from the run, not the
    * step, so a recipe is corpus-schema-agnostic.
    */
  sealed trait Step

  /** Replace URLs/emails/IPs/phones with typed placeholders
    * ([[graft.operators.TextAnalysis.redactPii]]). Run FIRST so nothing
    * downstream sees raw addresses.
    */
  case object RedactPii extends Step

  /** Unicode NFD + accent strip + casefold + whitespace collapse
    * ([[graft.operators.TextAnalysis.normalizeText]]): accent/case
    * variants fingerprint identically from here on.
    */
  case object NormalizeText extends Step

  /** Mojibake repair + Unicode NFC with audit flags
    * ([[graft.operators.TextAnalysis.cleanUnicode]]) — the CONSERVATIVE
    * hygiene pass (r15): byte-form canonicalization only, no accent
    * stripping or casefolding, so it belongs FIRST on raw web text
    * (before [[RedactPii]]: a mojibake'd email must be repaired before
    * the redaction regex can see it).
    */
  case object CleanUnicode extends Step

  /** Drop rows whose `urlCol` domain (or any parent domain) is on the
    * blocklist ([[graft.operators.TextAnalysis.filterByBlockedDomains]]).
    */
  final case class DropBlockedDomains(urlCol: String, blocklist: DataFrame)
      extends Step

  /** Remove intra-document verbatim span repeats
    * ([[graft.operators.Dedup.dedupSpansWithinDoc]]); text is rewritten,
    * rows survive.
    */
  final case class DedupSpansWithin(spanTokens: Int) extends Step

  /** Remove spans repeated verbatim across >= minDocs documents
    * ([[graft.operators.Dedup.dedupSpansAcross]]); text is rewritten,
    * rows survive.
    */
  final case class DedupSpansAcross(spanTokens: Int, minDocs: Long)
      extends Step

  /** Near-duplicate removal, keep min-id survivor per cluster
    * ([[graft.operators.Dedup.dedupCorpus]]).
    */
  case object DedupNear extends Step

  /** URL-keyed dedup (r12, [[graft.operators.Dedup.dedupByUrl]]) — the
    * CommonCrawl-style FIRST pass: canonicalize `urlCol` and keep the
    * min-id doc per canonical URL (deterministic; for quality-aware
    * survivor choice call the operator directly with a preference
    * order). The transient canon column is dropped, so the step
    * preserves the frame's schema.
    */
  final case class DedupByUrl(urlCol: String) extends Step

  /** Keep docs whose stopword-vote language ID
    * ([[graft.operators.TextAnalysis.langId]]) lands in `keepLangs` —
    * the ORACLE-REPLAYABLE language gate (exact integer votes, fixed
    * tie order). [[KeepLanguages]] is the trained-profile production
    * form; this heuristic form exists so a recipe containing a language
    * gate can still hash-replay end-to-end in DuckDB.
    */
  final case class KeepLangHeuristic(keepLangs: Set[String]) extends Step

  /** Near-duplicate removal under the PORTABLE md5 MinHash family
    * (r12, [[graft.operators.Dedup.dedupCorpusPortable]]): same shuffle
    * shape as [[DedupNear]], every hash DuckDB-replayable — the choice
    * for end-to-end-oracled recipes; prefer [[DedupNear]] (xxhash) in
    * production.
    */
  final case class DedupNearPortable(shingleN: Int = 3, bands: Int = 4,
                                     rowsPerBand: Int = 2) extends Step

  /** Exact substring dedup (r12,
    * [[graft.operators.Dedup.dedupSubstrings]] — Lee et al. 2022
    * ExactSubstr): remove every token run of >= `minTokens` tokens
    * appearing at least twice in the corpus, at arbitrary alignment;
    * text is rewritten (whitespace normalized to single spaces by the
    * token rebuild), rows survive.
    */
  final case class DedupSubstringsStep(minTokens: Int) extends Step

  /** Drop docs sharing >= minHits distinct n-grams with an eval set
    * ([[graft.operators.Dedup.decontaminate]]).
    */
  final case class Decontaminate(evalDocs: DataFrame, evalTextCol: String,
                                 ngramN: Int = 3, minHits: Long = 1)
      extends Step

  /** Keep docs with at least `minTokens` whitespace tokens. */
  final case class QualityFloor(minTokens: Int) extends Step

  /** Keep docs passing the full named Gopher §A1.1 rule set (late r10,
    * [[graft.operators.TextAnalysis.filterByGopherRules]]).
    */
  case object GopherQuality extends Step

  /** Keep docs whose deflate compression ratio sits in the natural-text
    * band (r11, [[graft.operators.TextAnalysis.filterByCompressionRatio]])
    * — looping boilerplate drops below, binary junk/noise above.
    */
  final case class KeepCompressionBand(minRatio: Double = 0.2,
                                       maxRatio: Double = 0.9) extends Step

  /** HTML → main content (r12,
    * [[graft.operators.TextAnalysis.extractHtmlDf]]): tag-aware block
    * segmentation + jusText-style link/stopword-density block rules;
    * `textCol` (raw HTML) is REWRITTEN to the kept blocks' text and
    * pages with no surviving block are dropped. The FIRST step of a
    * raw-web recipe — everything downstream (C4Clean, Gopher, dedup,
    * tokenizers) assumes extracted text.
    */
  final case class ExtractHtml(minChars: Int = 70,
                               maxLinkDensity: Double = 0.2,
                               minStopDensity: Double = 0.2) extends Step

  /** Charset-sniffed decode of raw payload BYTES (r17,
    * [[graft.operators.Warc.decodePayload]]): REWRITES `textCol` from
    * the binary `bytesCol` via BOM → declared meta/XML charset →
    * strict-UTF-8 validation → windows-1252 fallback. The stage BEFORE
    * [[ExtractHtml]] on a real crawl: a legacy-charset page decoded as
    * UTF-8 mojibakes before any later step (including mojibake repair,
    * which fixes mis-roundtripped UTF-8, not a wrong decode) can see
    * it. Map-only, shuffle-free.
    */
  final case class DecodeCharset(bytesCol: String) extends Step

  /** [[ExtractHtml]] under the SCRIPT-ROUTED keep rule (r16,
    * [[graft.operators.TextAnalysis.extractHtmlDfRouted]]): the
    * stopword list keyed by `langCol`, segmentation-free-dominant
    * blocks (CJK/Thai/Lao/Khmer/Myanmar) on the link-density fallback.
    * The mixed-script crawl's front door.
    */
  final case class ExtractHtmlRouted(langCol: String,
                                     minChars: Int = 70,
                                     maxLinkDensity: Double = 0.2,
                                     minStopDensity: Double = 0.2)
    extends Step

  /** Two-phase jusText extraction (late r16,
    * [[graft.operators.TextAnalysis.extractHtmlDfSmoothed]]): four-way
    * context-free classes + the context-sensitive neighbor revision, so
    * headlines/captions inside good zones survive. One page-keyed
    * shuffle (the window), unlike the map-only steps above.
    */
  final case class ExtractHtmlSmoothed(langCol: String,
                                       lengthLow: Int = 70,
                                       lengthHigh: Int = 200,
                                       stopLow: Double = 0.30,
                                       stopHigh: Double = 0.32,
                                       maxLinkDensity: Double = 0.2)
    extends Step

  /** C4 line-level cleaning (late r10,
    * [[graft.operators.TextAnalysis.filterByC4]]): drops pages failing
    * the page rules and REWRITES `textCol` to the line-cleaned text —
    * like the span dedups, a step that mutates text, so it belongs
    * before fingerprint/near-dup stages (C4's own pipeline ordering).
    */
  case object C4Clean extends Step

  /** Drop pages containing ANY blocked term (late r10,
    * [[graft.operators.TextAnalysis.filterByBlockedTerms]]) — C4's
    * bad-word page rule, one Aho–Corasick pass per page.
    */
  final case class DropBlockedTerms(terms: Seq[String]) extends Step

  /** Drop the high-perplexity tail under a bigram LM
    * ([[graft.operators.LanguageModel.perplexity]]) — the CCNet quality
    * filter. `lm = None` trains on the corpus being filtered (the
    * bootstrap form); pass a model trained on a curated reference corpus
    * to filter against external quality instead. Unscorable docs
    * (< 2 tokens: NULL perplexity) are DROPPED — a doc too short to score
    * is below any floor; put a [[QualityFloor]] earlier if that policy
    * should be explicit.
    */
  final case class PerplexityFloor(maxPerplexity: Double,
                                   lm: Option[DataFrame] = None,
                                   addK: Double = 0.5) extends Step

  /** [[PerplexityFloor]] under interpolated Kneser–Ney smoothing (late
    * r10, [[graft.operators.LanguageModel.perplexityKneserNey]]) — the
    * smoothing the CCNet stage's KenLM actually uses; same drop policy.
    */
  final case class PerplexityFloorKN(maxPerplexity: Double,
                                     lm: Option[DataFrame] = None,
                                     discount: Double = 0.75) extends Step

  /** Keep docs whose trained-profile language ID lands in `keepLangs`
    * (late r10, [[graft.operators.LangIdNgram.filterByLanguage]]) — the
    * multilingual crawl's language gate; `seed` carries the labeled
    * training corpus ([[ClassifierKeep]]'s seed convention).
    */
  final case class KeepLanguages(seed: DataFrame, seedLabelCol: String,
                                 seedTextCol: String,
                                 keepLangs: Set[String],
                                 topK: Int = 64) extends Step

  /** Keep docs a self-trained Naive Bayes classifier assigns to
    * `keepLabel` ([[graft.operators.Classifier.filterByClassifier]]) —
    * the GPT-3-style quality-classifier filter: `labelCol` carries the
    * seed labels (quality tier, source class) the filter learns from.
    * `minMargin` additionally requires the log-odds margin to clear a
    * confidence threshold (r10: the tunable score-keep form; the default
    * keeps every argmax win).
    */
  final case class ClassifierKeep(labelCol: String, keepLabel: String,
                                  addK: Double = 0.5,
                                  minMargin: Double = Double.NegativeInfinity)
      extends Step

  /** Terminal tokenizer stage (r10): train a BPE vocabulary of
    * `numMerges` merges ON the corpus as curated so far and APPEND the
    * vocab-indexed id sequence (`idsCol`, array<int>) and its length
    * (`nTokCol`) — the one step that WIDENS the schema, which is why it
    * belongs last: everything downstream of tokenization consumes ids,
    * not text ([[graft.operators.Bpe.bpeEncodeIds]]). Training runs the
    * word-frequency aggregate eagerly (two actions over the prefix plan —
    * the vocabulary count guard and the bounded driver collect), the same
    * materialization contract as the classifier's model training.
    */
  final case class TokenizeBpe(numMerges: Int, idsCol: String = "token_ids",
                               nTokCol: String = "n_bpe_tokens",
                               maxLen: Option[Int] = None) extends Step

  /** Terminal unigram-LM tokenizer stage (late r10) — [[TokenizeBpe]]'s
    * twin over [[graft.operators.Unigram]]: train a unigram vocabulary of
    * at most `targetVocab` pieces on the corpus as curated so far and
    * append the piece-id sequence (`idsCol`) and its length (`nTokCol`).
    * Same terminal placement and same materialization contract (the
    * trainer runs several actions over the curated prefix).
    */
  final case class TokenizeUnigram(targetVocab: Int,
                                   idsCol: String = "token_ids",
                                   nTokCol: String = "n_unigram_tokens")
      extends Step

  /** Terminal WordPiece tokenizer stage (r11) — the third tokenizer
    * twin ([[graft.operators.WordPiece]]): likelihood-ranked merge
    * training on the corpus as curated so far, greedy longest-match
    * encode. Same terminal placement and materialization contract.
    */
  final case class TokenizeWordPiece(numMerges: Int,
                                     idsCol: String = "token_ids",
                                     nTokCol: String = "n_wordpiece_tokens")
      extends Step

  /** DSIR target-domain selection (r10,
    * [[graft.operators.Dsir.selectByImportance]]): keep the `k` docs whose
    * hashed-n-gram bag most resembles the `target` exemplar corpus —
    * importance weights under target-vs-corpus bag models, seedable Gumbel
    * top-k. The corpus as curated so far serves as its own background
    * model (the paper's setup); a left-semi join keeps full rows.
    */
  final case class DsirSelect(target: DataFrame, targetIdCol: String,
                              targetTextCol: String, buckets: Int, k: Int,
                              seed: String, addK: Double = 0.5) extends Step

  /** Semantic near-duplicate removal over an embedding column
    * ([[graft.operators.SemDedup.dedupSemantic]]) — cluster-sharded
    * SemDeDup; `trainFraction < 1` trains cells on a hash sample.
    */
  final case class SemDedupStep(vecCol: String, dim: Int,
                                nCentroids: Int = 16, minCosNum: Int = 9,
                                minCosDen: Int = 10,
                                trainFraction: Double = 1.0) extends Step

  /** Resample toward per-group weights at a row budget
    * ([[graft.operators.Curation.mixtureSample]]).
    */
  final case class MixRows(groupCol: String, weights: Map[String, Double],
                           targetRows: Long) extends Step

  /** Resample toward per-group weights at a TOKEN budget
    * ([[graft.operators.Curation.mixtureSampleByTokens]]).
    */
  final case class MixTokens(groupCol: String, tokenCol: String,
                             weights: Map[String, Double], targetTokens: Long)
      extends Step

  /** Temperature-flattened mixture at a row budget (late r10,
    * [[graft.operators.Curation.mixtureSampleTemperature]]) — weights
    * n_g^α derived from the data's own group masses, the mT5 recipe.
    */
  final case class MixTemperature(groupCol: String, alpha: Double,
                                  targetRows: Long) extends Step

  /** The FineWeb-shaped END-TO-END reference recipe (r12, VERDICT r11
    * §next-6) — the standard raw-web curation chain (Penedo et al. 2024,
    * "The FineWeb Datasets", arXiv:2406.17557) as ONE recipe value, the
    * integration showcase the 20 steps exist for:
    *
    *   1. URL canon + dedup (the cheap crawl-level cut)
    *   2. language gate (replayable heuristic form)
    *   3. Gopher document-quality rules
    *   4. C4 line-level cleaning (page drop + line rewrite)
    *   5. MinHash near-dup removal (portable family)
    *   6. exact substring dedup (Lee et al. 2022 ExactSubstr)
    *   7. PII redaction
    *   8. token-count quality floor
    *
    * Ordering notes: document-level near-dup (5) runs BEFORE substring
    * excision (6) — ExactSubstr removes BOTH occurrences of every
    * duplicated run, so running it first would erase exactly the
    * whole-document duplicate evidence MinHash needs (the Lee et al.
    * setup also exact-dedups whole docs before ExactSubstr). PII
    * redaction (7) runs after the rewrites so placeholders cannot be
    * split by them; the floor (8) judges the text a trainer would
    * actually see. Every step is DuckDB-replayable, so the WHOLE chain
    * is oracled end-to-end (q_pipeline_fineweb_recipe + _audit).
    */
  def fineWebRecipe(urlCol: String = "url",
                    keepLangs: Set[String] = Set("en"),
                    substrMinTokens: Int = 8,
                    minTokens: Int = 10): Seq[Step] = Seq(
    DedupByUrl(urlCol),
    KeepLangHeuristic(keepLangs),
    GopherQuality,
    C4Clean,
    // shingle 4, not 3: the fixture's constructed pages embed doc_id so
    // no two unrelated docs share a 4-token run — banding then pairs
    // ONLY genuine near-copies; real crawl text wants 4-5-gram shingles
    // for the same precision reason (FineWeb uses 5-grams).
    DedupNearPortable(shingleN = 4),
    DedupSubstringsStep(substrMinTokens),
    RedactPii,
    QualityFloor(minTokens))

  /** Disk-backed pin of a step input consumed by several subtrees (the
    * TokenizeBpe materialize-before-multi-pass trade; see the
    * DedupSpansWithin note in [[run]]), [[spread]] first: every reader
    * of the pin — the dedups' per-document native kernels — then runs on
    * all cores instead of the one task a single-split input gives.
    */
  private def pin(d: DataFrame): DataFrame =
    spread(d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Spread a frame across the cluster before heavy per-row work: a
    * single-file, one-row-group parquet input runs a map-only chain on
    * top of its scan in ONE task while every other core idles, and AQE
    * coalesces KB-to-MB shuffles back to one partition. The exchange
    * moves the rows as they are (ids, text — spread before synthesizing
    * heavy payloads, not after); the partition count is the session's
    * defaultParallelism.
    *
    * GATED on the input's actual split count: `repartition(n)` always
    * executes a full exchange, and at production scale, where inputs
    * arrive already split into >= parallelism file splits, that would be
    * a gratuitous full-corpus shuffle. The gate reads the LEAF SCANS'
    * split count from the physical plan — driver-side file-split
    * metadata, no job, no execution of any upstream exchange (a frame
    * over an aggregate has a runtime partitioning unknowable without
    * running it; its leaf split count is the right proxy — a pre-split
    * source parallelizes the whole DAG at its shuffles already). Unknown
    * leaf types, cached frames included, count as already split (no
    * exchange), so spreading an already-pinned prefix is free.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val leafSplits = df.queryExecution.sparkPlan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDD.getNumPartitions.toLong
      case _ => Long.MaxValue / 4096 // unknown: assume already split
    }.sum
    if (leafSplits < par) df.repartition(par) else df
  }

  /** Rewrite `textCol` with `f(id, text)`'s `text_clean` output while
    * preserving every other column (inner join back on id — both span
    * dedups emit one row per input doc, so no rows are lost).
    */
  private def rewriteText(df: DataFrame, idCol: String, textCol: String)(
      cleaned: DataFrame): DataFrame = {
    val keep = df.drop(textCol)
    keep.join(cleaned.select(col(idCol), col("text_clean").as(textCol)),
      Seq(idCol))
  }

  /** Human-readable step label for audits: case-class/object name. */
  private def label(step: Step): String =
    step.getClass.getSimpleName.stripSuffix("$")

  /** [[run]] plus a per-step ATTRITION AUDIT: one row per stage —
    * `(step_idx, step, n_rows)`, step 0 being the input — the first
    * question anyone debugging a curation pipeline asks ("which step ate
    * my corpus?") answered as data. Each stage's count is an action over
    * the recomputed prefix plan (the audit is a debugging/reporting tool,
    * not the hot path — [[run]] stays one lazy plan; persisting every
    * intermediate at 100 TB would cost more than re-running the
    * scan-bound prefixes, and the audit is typically run at a sampled
    * scale anyway). The audit frame itself is driver-built and
    * steps+1-rows small.
    */
  def runWithAudit(df: DataFrame, idCol: String, textCol: String,
                   steps: Seq[Step]): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val stages = steps.scanLeft(df)((d, s) => run(d, idCol, textCol, Seq(s)))
    val audit = stages.zipWithIndex.map { case (d, i) =>
      (i, if (i == 0) "input" else label(steps(i - 1)), d.count())
    }.toDF("step_idx", "step", "n_rows")
    (stages.last, audit)
  }

  /** Interpret `steps` left-to-right over `df`. */
  def run(df: DataFrame, idCol: String, textCol: String,
          steps: Seq[Step]): DataFrame =
    steps.foldLeft(df) { (d, step) =>
      step match {
        case RedactPii =>
          d.withColumn(textCol,
            graft.operators.TextAnalysis.redactPii(col(textCol)))
        case NormalizeText =>
          d.withColumn(textCol,
            graft.operators.TextAnalysis.normalizeText(col(textCol)))
        case CleanUnicode =>
          graft.operators.TextAnalysis.cleanUnicode(d, textCol)
        case DropBlockedDomains(urlCol, blocklist) =>
          graft.operators.TextAnalysis
            .filterByBlockedDomains(d, idCol, urlCol, blocklist)
        case DedupSpansWithin(n) =>
          // Pin before the multi-consumer dedup stages (r17 opt, the
          // TokenizeBpe materialize-before-multi-pass trade): the span/near
          // dedups read their input from SEVERAL subtrees (signature pass,
          // verify semi-join, rewrite re-join, anti-join back), so mid-recipe
          // — where `d` is the whole curated prefix — every reference
          // re-executed the upstream chain (measured 4-8 full re-runs of the
          // fineweb prefix). Disk-backed persist of the already-shrunk
          // corpus; LRU release, the filterByClassifier accepted residue.
          val pinned = pin(d)
          rewriteText(pinned, idCol, textCol)(
            graft.operators.Dedup.dedupSpansWithinDoc(pinned, idCol, textCol,
              n))
        case DedupSpansAcross(n, minDocs) =>
          val pinned = pin(d) // the DedupSpansWithin note
          rewriteText(pinned, idCol, textCol)(
            graft.operators.Dedup.dedupSpansAcross(pinned, idCol, textCol, n,
              minDocs))
        case DedupNear =>
          graft.operators.Dedup.dedupCorpus(pin(d), idCol, textCol)
        case DedupByUrl(urlCol) =>
          graft.operators.Dedup.dedupByUrl(d, urlCol,
            prefer = Seq(col(idCol).asc), canonCol = "__url_canon")
            .drop("__url_canon")
        case KeepLangHeuristic(keepLangs) =>
          d.filter(graft.operators.TextAnalysis.langId(col(textCol))
            .isInCollection(keepLangs))
        case DedupNearPortable(shingleN, bands, rowsPerBand) =>
          graft.operators.Dedup.dedupCorpusPortable(pin(d), idCol, textCol,
            shingleN, bands, rowsPerBand) // the DedupSpansWithin note
        case DedupSubstringsStep(minTokens) =>
          val pinned = pin(d) // the DedupSpansWithin note
          rewriteText(pinned, idCol, textCol)(
            graft.operators.Dedup.dedupSubstrings(pinned, idCol, textCol,
              minTokens))
        case Decontaminate(evalDocs, evalTextCol, n, minHits) =>
          graft.operators.Dedup.decontaminate(d, evalDocs, idCol, textCol,
            evalTextCol, n, minHits)
        case QualityFloor(minTokens) =>
          d.filter(graft.operators.TextAnalysis.tokenCountWs(col(textCol))
            >= minTokens)
        case GopherQuality =>
          graft.operators.TextAnalysis.filterByGopherRules(d, textCol)
        case KeepCompressionBand(minRatio, maxRatio) =>
          graft.operators.TextAnalysis.filterByCompressionRatio(d, textCol,
            minRatio, maxRatio)
        case DecodeCharset(bytesCol) =>
          d.withColumn(textCol,
            graft.operators.Warc.decodePayload(col(bytesCol)))
        case ExtractHtml(minChars, maxLink, minStop) =>
          graft.operators.TextAnalysis.extractHtmlDf(d, textCol, minChars,
            maxLink, minStop)
        case ExtractHtmlRouted(langCol, minChars, maxLink, minStop) =>
          graft.operators.TextAnalysis.extractHtmlDfRouted(d, textCol,
            langCol, minChars, maxLink, minStop)
        case ExtractHtmlSmoothed(langCol, lenLo, lenHi, stopLo, stopHi,
            maxLink) =>
          graft.operators.TextAnalysis.extractHtmlDfSmoothed(d, Seq(idCol),
            textCol, langCol, lenLo, lenHi, stopLo, stopHi, maxLink)
        case C4Clean =>
          graft.operators.TextAnalysis.filterByC4(d, textCol)
        case DropBlockedTerms(terms) =>
          graft.operators.TextAnalysis.filterByBlockedTerms(d, textCol, terms)
        case PerplexityFloor(maxPpl, lmOpt, addK) =>
          val scored = lmOpt match {
            case Some(lm) => graft.operators.LanguageModel
              .perplexity(d, idCol, textCol, lm, addK)
            case None => graft.operators.LanguageModel
              .perplexitySelf(d, idCol, textCol, addK)
          }
          // perplexity() keys its output "doc_id" regardless of idCol;
          // map back before the id-only semi join.
          d.join(scored.filter(col("perplexity") <= maxPpl)
            .select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
        case KeepLanguages(seed, seedLabel, seedText, keepLangs, topK) =>
          graft.operators.LangIdNgram.filterByLanguage(d, idCol, textCol,
            seed, seedLabel, seedText, keepLangs, topK)
        case PerplexityFloorKN(maxPpl, lmOpt, discount) =>
          val scored = lmOpt match {
            case Some(lm) => graft.operators.LanguageModel
              .perplexityKneserNey(d, idCol, textCol, lm, discount)
            case None => graft.operators.LanguageModel
              .perplexityKneserNeySelf(d, idCol, textCol, discount)
          }
          d.join(scored.filter(col("perplexity") <= maxPpl)
            .select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
        case ClassifierKeep(labelCol, keepLabel, addK, minMargin) =>
          graft.operators.Classifier.filterByClassifier(d, idCol, labelCol,
            textCol, keepLabel, addK, minMargin)
        case TokenizeBpe(numMerges, idsCol, nTokCol, maxLen) =>
          // Pin the curated corpus before the multi-pass terminal stage:
          // the trainer executes its input twice (vocab-count guard +
          // word-table collect) and the encode scans it once more — three
          // re-executions of EVERYTHING upstream (classifier scoring
          // joins, dedup) if left lazy. A disk-backed persist of the
          // curated (already heavily shrunk) corpus is the standard
          // materialize-before-iterative-stage trade; it stays pinned for
          // the caller's consumption of the returned plan (the
          // filterByClassifier accepted-residue note).
          val pinned = d.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val vocab =
            graft.operators.Bpe.trainBpeModel(pinned, textCol, numMerges)
          // maxLen set -> the trainer-ready framed form (r13): BOS/EOS
          // from the reserved block above the vocab, truncation to the
          // context bound, nTok counting the framed sequence
          val raw = graft.operators.Bpe.bpeEncodeIds(col(textCol), vocab)
          val ids = maxLen.fold(raw) { m =>
            graft.operators.SpecialTokens.addSpecials(raw,
              graft.operators.SpecialTokens.Ids(vocab.vocabSize), m)
          }
          pinned.withColumn(idsCol, ids)
            .withColumn(nTokCol, size(col(idsCol)).cast("long"))
        case TokenizeUnigram(targetVocab, idsCol, nTokCol) =>
          // same materialize-before-multi-pass-stage trade as TokenizeBpe
          val pinned = d.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val vocab = graft.operators.Unigram.trainUnigramModel(
            pinned, textCol, targetVocab)
          pinned.withColumn(idsCol,
              graft.operators.Unigram.unigramEncodeIds(col(textCol), vocab))
            .withColumn(nTokCol, size(col(idsCol)).cast("long"))
        case TokenizeWordPiece(numMerges, idsCol, nTokCol) =>
          // same materialize-before-multi-pass-stage trade as TokenizeBpe
          val pinned = d.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val vocab = graft.operators.WordPiece.trainWordPiece(
            pinned, textCol, numMerges)
          pinned.withColumn(idsCol,
              graft.operators.WordPiece.wordPieceEncodeIds(col(textCol), vocab))
            .withColumn(nTokCol, size(col(idsCol)).cast("long"))
        case DsirSelect(target, tId, tText, buckets, k, seed, addK) =>
          // Pin the curated prefix: both bag models, the weight pass and
          // the semi-join all consume it — four lazy re-executions of
          // everything upstream otherwise (the TokenizeBpe
          // materialize-before-multi-pass-stage trade).
          val pinned = d.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // tm is read by two consumers (its total aggregate + the
          // broadcast model join) — ≤ buckets rows, pin it so the target
          // slice tokenizes once per run, not twice (r18)
          val tm = graft.operators.Dsir.featureModel(
              target.select(col(tId).as("doc_id"), col(tText).as("__t")),
              "doc_id", "__t", buckets)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // ONE hashed-feature pass shared by the raw model and the
          // weight scoring (r18, guide §1.2): the step used to tokenize,
          // explode and bucket the pinned corpus twice. Counts are exact
          // longs and the weight sum is exact DECIMAL, so sharing the
          // frame is bit-identical. Bucket-cardinality persist, released
          // with the pipeline's other pins by the bench's cache clear.
          val feats = graft.operators.Dsir.hashedNgramFeatures(
              pinned, idCol, textCol, buckets)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val rm = graft.operators.Dsir.featureModelFromFeatures(feats)
          val picked = graft.operators.Dsir.resampleTopK(
            graft.operators.Dsir.importanceWeightsFromFeatures(pinned,
              idCol, feats, tm, rm, buckets, addK),
            "doc_id", "log_weight", k, seed)
          // importanceWeights keys its output "doc_id" regardless of
          // idCol — map back before the id-only semi join (the
          // PerplexityFloor convention).
          pinned.join(picked.select(col("doc_id").as(idCol)), Seq(idCol),
            "left_semi")
        case SemDedupStep(vecCol, dim, nCentroids, num, den, trainFrac) =>
          graft.operators.SemDedup.dedupSemantic(d, idCol, vecCol, dim,
            nCentroids, num, den, trainFraction = trainFrac)
        case MixRows(groupCol, weights, targetRows) =>
          graft.operators.Curation
            .mixtureSample(d, groupCol, idCol, weights, targetRows)
        case MixTokens(groupCol, tokenCol, weights, targetTokens) =>
          graft.operators.Curation.mixtureSampleByTokens(d, groupCol, idCol,
            tokenCol, weights, targetTokens)
        case MixTemperature(groupCol, alpha, targetRows) =>
          graft.operators.Curation.mixtureSampleTemperature(d, groupCol,
            idCol, alpha, targetRows)
      }
    }
}
