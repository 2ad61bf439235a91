package graft.operators

import graft.pipeline.IndexLifecycle
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, document fingerprinting.
  *
  * All pure column expressions (codegen'd, map-only, shuffle-free) — at
  * 100 TB these run at parquet-scan speed.
  */
object TextAnalysis {

  /** Whitespace tokens (\s+, matching Dedup's tokenization — tabs/newlines
    * never produce phantom tokens in one operator family but not the other).
    */
  def words(text: Column): Column =
    filter(split(text, "\\s+"), w => w =!= "")

  /** Whitespace token count — native static call (the HOF form
    * `size(filter(split(...)))` runs ArrayFilter interpreted per row).
    */
  def tokenCountWs(text: Column): Column =
    graft.expressions.TextHashExpressions.tokenCount(text)

  /** HOF form of [[tokenCountWs]] — the executable specification the
    * native `TokenOps.count` is spec-pinned against.
    */
  private[graft] def tokenCountWsFold(text: Column): Column =
    size(words(text)).cast("int")

  /** BPE-ish regex token count: word pieces + digit runs + single
    * punctuation marks (the usual pre-tokenizer shape).
    */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("int")

  private val StopwordsEn = Seq("the", "a", "an", "of", "to", "and", "in", "is")
  private val StopwordsEs = Seq("el", "la", "de", "y", "que", "en", "un", "una")
  private val StopwordsFr = Seq("le", "la", "de", "et", "un", "une", "du", "des")

  private def countIn(text: Column, set: Seq[String]): Column =
    graft.expressions.TextHashExpressions.tokenCountIn(text, set.mkString(","))

  /** HOF form of [[countIn]] — parity specification for `TokenOps.countIn`. */
  private[graft] def countInFold(text: Column, set: Seq[String]): Column =
    size(filter(words(lower(text)), w => w.isInCollection(set))).cast("int")

  private[graft] val StopwordsEnSet: Seq[String] = StopwordsEn

  /** Quality score features: char length, word count, average word length,
    * stopword ratio, punctuation ratio. Ratios are single IEEE divisions of
    * exact ints — deterministic and cross-engine reproducible. Empty
    * text/word sets yield NULL ratios (explicit zero guard) rather than an
    * engine-dependent divide-by-zero result.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("int")
    val nWords = tokenCountWs(text)
    val nStop = countIn(text, StopwordsEn)
    val nPunct = size(regexp_extract_all(text, lit("[^a-zA-Z0-9 ]"), lit(0))).cast("int")
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    Seq(
      "n_chars" -> nChars,
      "n_words" -> nWords,
      "avg_word_len" -> ratio(nChars, nWords),
      "stopword_ratio" -> ratio(nStop, nWords),
      "punct_ratio" -> ratio(nPunct, nChars)
    )
  }

  /** Embedding-free text VECTOR via the signed hashing trick (Weinberger
    * et al. 2009; [[graft.expressions.TextHashExpressions.HashedVectorOps]]):
    * dense `array<int>`, one codegen'd static call per row — the bridge
    * from raw text into the vector stack (cosine near-dup, ANN, SemDeDup)
    * when no model embeddings exist. Identical texts get IDENTICAL
    * vectors (exact); signed accumulation keeps dot products proportional
    * to n-gram overlap in expectation. Composes directly with
    * [[Similarity.cosineNearDupPairs]]-style integer-exact machinery.
    */
  def hashedTextVector(text: Column, dim: Int): Column =
    graft.expressions.TextHashExpressions.hashedTextVector(text, dim)

  /** Sparse PORTABLE twin of [[hashedTextVector]] under the house md5
    * hash: one (doc_id, bucket, v) ROW per touched bucket (the dense
    * array is an engine-side shape; rows — including exact zero sums
    * from sign cancellation — replay bit-for-bit in DuckDB). Same
    * unigram+bigram feature space; sign = parity of md5("s:"||gram).
    */
  def signedHashedFeaturesPortable(docs: DataFrame, idCol: String,
                                   textCol: String, dim: Int): DataFrame = {
    require(dim > 0 && dim <= (1 << 16),
      s"signedHashedFeaturesPortable: dim must be in [1, 65536], got $dim")
    val tk = docs.select(col(idCol).as("doc_id"),
      words(lower(col(textCol))).as("__tk"))
    val uni = tk.select(col("doc_id"), explode(col("__tk")).as("__g"))
    val bi = tk.filter(size(col("__tk")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__tk")) - 1),
          i => concat_ws(" ", element_at(col("__tk"), i),
            element_at(col("__tk"), i + 1)))).as("__g"))
    uni.unionAll(bi)
      .select(col("doc_id"),
        (conv(substring(md5(col("__g")), 1, 8), 16, 10)
          .cast("long") % dim).as("bucket"),
        when(conv(substring(md5(concat(lit("s:"), col("__g"))), 1, 8), 16, 10)
          .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("__s"))
      .groupBy("doc_id", "bucket").agg(sum(col("__s")).as("v"))
  }

  /** The Gopher/MassiveText DOCUMENT-quality rule set (Rae et al. 2021
    * §A1.1) as named per-rule booleans — the published heuristic filter
    * most English web pipelines start from, complementing
    * [[qualityFeatures]] (raw ratios, caller thresholds) with the paper's
    * own thresholds, and [[repetitionStats]] (the §A1.1 repetition rules,
    * separate because they need corpus-free but multi-row aggregates):
    *
    *   - `r_word_count`: 50 ≤ words ≤ 100,000
    *   - `r_avg_word_len`: mean word length in [3, 10]
    *   - `r_symbol_ratio`: (# + …) / words ≤ 0.1
    *   - `r_bullet_lines`: < 90% of lines start with a bullet
    *   - `r_ellipsis_lines`: ≤ 30% of lines end with an ellipsis
    *   - `r_alpha_words`: ≥ 80% of words contain a letter
    *   - `r_stopwords`: ≥ 2 distinct of the paper's 8 stop words
    *
    * plus `pass` = all rules. Everything is exact integer counting plus
    * single IEEE comparisons against decimal literals — fully
    * oracle-portable, one codegen'd scan, no shuffle. Degenerate docs
    * (0 words / 0 lines) fail the word-count rule and pass the
    * line-shape rules vacuously (no lines to violate), matching the
    * paper's remove-too-short-first ordering.
    */
  def gopherRules(text: Column): Seq[(String, Column)] = {
    val w = words(text)
    val nW = size(w)
    val charSum = aggregate(transform(w, x => length(x)), lit(0),
      (acc, x) => acc + x)
    val nSym = size(regexp_extract_all(text, lit("[#…]"), lit(0)))
    val lines = filter(split(text, "\n"), l => l =!= "")
    val nL = size(lines)
    val nBullet = size(filter(lines,
      l => trim(l).startsWith("•") || trim(l).startsWith("- ") ||
        trim(l).startsWith("* ")))
    val nEllipsis = size(filter(lines,
      l => trim(l).endsWith("...") || trim(l).endsWith("…")))
    val nAlpha = size(filter(w, x => x.rlike("[A-Za-z]")))
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val nStopDistinct = size(array_intersect(
      transform(w, x => lower(x)),
      array(gopherStops.map(lit): _*)))
    Seq(
      "n_words" -> nW.cast("long"),
      "r_word_count" -> (nW >= 50 && nW <= 100000),
      "r_avg_word_len" -> (nW > 0 &&
        charSum.cast("double") / nW.cast("double") >= 3.0 &&
        charSum.cast("double") / nW.cast("double") <= 10.0),
      "r_symbol_ratio" -> (nW > 0 &&
        nSym.cast("double") / nW.cast("double") <= 0.1),
      "r_bullet_lines" -> (nL === 0 ||
        nBullet.cast("double") / nL.cast("double") < 0.9),
      "r_ellipsis_lines" -> (nL === 0 ||
        nEllipsis.cast("double") / nL.cast("double") <= 0.3),
      "r_alpha_words" -> (nW > 0 &&
        nAlpha.cast("double") / nW.cast("double") >= 0.8),
      "r_stopwords" -> (nStopDistinct >= 2))
  }

  /** [[gopherRules]] as a keep-filter: retain docs passing every rule —
    * the composable stage form (pair with [[repetitionStats]]-based
    * filtering for the paper's full §A1.1). Runs the one-pass NATIVE
    * predicate ([[graft.expressions.GopherOps.pass]], spec-pinned equal
    * to the column-form conjunction): the column form in a Filter was
    * split into per-rule conjuncts that each re-split the text — ~8
    * text scans per row where one suffices (BENCH_NOTES_r12, the
    * filterByCompressionRatio precedent).
    */
  def filterByGopherRules(df: DataFrame, textCol: String): DataFrame =
    df.filter(graft.expressions.TextHashExpressions.gopherPass(col(textCol)))

  /** The column-form conjunction [[filterByGopherRules]] is spec-pinned
    * against — the executable specification of the native predicate.
    */
  private[graft] def gopherPassColumns(text: Column): Column =
    gopherRules(text).collect {
      case (name, c) if name.startsWith("r_") => c
    }.reduce(_ && _)

  /** Heuristic language ID by stopword votes (deterministic tie-break:
    * en >= es >= fr >= unknown). N-gram-free variant suited to a codegen'd
    * scan; swap the word lists per deployment. One native pass (r12,
    * `TokenOps.vote` — the when-chain form referenced each per-language
    * count up to three times inside a Filter predicate, ~9 text scans
    * per row; parity with [[langIdColumns]] spec-pinned).
    */
  def langId(text: Column): Column =
    // NULL text: the when-chain specification's conditions all evaluate
    // NULL → false, so the cascade falls through to its final otherwise
    // ('fr') — an artifact, but the SPECIFIED one (and what the
    // q_text_quality oracle's CASE replays). The native propagates null,
    // so coalesce restores exact parity; vote never returns null for
    // non-null text (it returns 'und'), so the fallback fires only on
    // null input (code-review r12, pinned with a null-text parity row).
    coalesce(
      graft.expressions.TextHashExpressions.langVote(text,
        s"en:${StopwordsEn.mkString(",")}|es:${StopwordsEs.mkString(",")}" +
          s"|fr:${StopwordsFr.mkString(",")}"),
      lit("fr"))

  /** The when-chain form — the executable specification [[langId]]'s
    * native vote is spec-pinned against (the cascade IS first-max-wins
    * over the label order).
    */
  private[graft] def langIdColumns(text: Column): Column = {
    val en = countIn(text, StopwordsEn)
    val es = countIn(text, StopwordsEs)
    val fr = countIn(text, StopwordsFr)
    when(en === 0 && es === 0 && fr === 0, lit("und"))
      .when(en >= es && en >= fr, lit("en"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Canonical document fingerprint: sha256 of lowercased,
    * whitespace-collapsed text. Robust to formatting-only edits.
    */
  def fingerprint(text: Column): Column =
    sha2(trim(lower(regexp_replace(text, "\\s+", " "))), 256)

  // -------------------------------------------------------------------
  // Unicode script profiling (r14) — the OSCAR/mC4 curation signal the
  // stopword language ID can't give: WHICH WRITING SYSTEM a document is
  // in (a Cyrillic page is never English however its stopwords vote;
  // mixed-script spam shows as no dominant script). Counts are exact
  // codepoint-class counts via the replace-difference trick
  // (len(text) − len(text with the class removed)) over EXPLICIT BMP
  // codepoint ranges — identical bytes in Java regex and DuckDB's RE2
  // (script NAMES spell differently across engines: Java \p{IsLatin}
  // vs RE2 \p{Latin} — ranges sidestep the dialect entirely).
  // -------------------------------------------------------------------

  /** (script name, BMP codepoint ranges) in the fixed priority order
    * the dominant-script tie-break uses. BMP only (no surrogate pairs,
    * so both engines count code units identically); `latin` includes
    * the Latin-1/Extended letters, `han` the unified CJK block, `kana`
    * hiragana+katakana. Stored as INTS because the two engines spell
    * codepoint escapes differently (Java `\uXXXX`, RE2 `\x{XXXX}`) —
    * both character classes generate from the same numbers, so the
    * ranges cannot drift.
    */
  private[graft] val ScriptBlocks: Seq[(String, Seq[(Int, Int)])] = Seq(
    "latin" -> Seq(0x41 -> 0x5A, 0x61 -> 0x7A, 0xC0 -> 0x24F),
    "cyrillic" -> Seq(0x400 -> 0x4FF),
    "greek" -> Seq(0x370 -> 0x3FF),
    "arabic" -> Seq(0x600 -> 0x6FF),
    "hebrew" -> Seq(0x590 -> 0x5FF),
    "devanagari" -> Seq(0x900 -> 0x97F),
    "han" -> Seq(0x4E00 -> 0x9FFF),
    "kana" -> Seq(0x3040 -> 0x30FF),
    "hangul" -> Seq(0xAC00 -> 0xD7AF),
    "thai" -> Seq(0xE00 -> 0xE7F))

  private[graft] def scriptClassJava(blocks: Seq[(Int, Int)]): String =
    "[" + blocks.map { case (a, b) => f"\\u$a%04X-\\u$b%04X" }.mkString + "]"

  /** The RE2 spelling of the same class — for the DuckDB oracle. */
  private[graft] def scriptClassRe2(blocks: Seq[(Int, Int)]): String =
    "[" + blocks.map { case (a, b) =>
      f"\\x{$a%04X}-\\x{$b%04X}" }.mkString + "]"

  /** Exact per-script character counts, one `n_<script>` column each
    * (NULL text counts as empty — the substrToks convention).
    */
  def scriptCounts(text: Column): Seq[(String, Column)] = {
    val t = coalesce(text, lit(""))
    ScriptBlocks.map { case (name, blocks) =>
      s"n_$name" ->
        (length(t) - length(regexp_replace(t, scriptClassJava(blocks), "")))
          .cast("long")
    }
  }

  /** The dominant script: the FIRST name in [[ScriptBlocks]] order
    * whose count equals the maximum (total order — ties break by the
    * fixed priority), or 'none' when no script character occurs. The
    * same CASE replays in the oracle from the same constants.
    */
  def dominantScript(text: Column): Column = {
    val counts = scriptCounts(text)
    val mx = greatest(counts.map(_._2): _*)
    counts.foldLeft(when(mx === 0L, lit("none"))) {
      case (acc, (name, cnt)) =>
        acc.when(cnt === mx, lit(name.stripPrefix("n_")))
    }.otherwise(lit("none"))
  }

  /** Word-letter codepoint ranges for the jusText block tokenizer
    * (r15, VERDICT r14 §next-1): ASCII letters plus the Latin-1
    * Supplement and Latin Extended-A/B letters — × (0xD7) and ÷ (0xF7)
    * excluded. The [[ScriptBlocks]] convention: stored as INTS, both
    * engines' character classes generate from the same numbers (Java
    * `\uXXXX` vs RE2 `\x{XXXX}` spellings), so the tokenizers cannot
    * drift. Tokenization runs over LOWERCASED text; the uppercase
    * ranges are inert there but included so the class is total on
    * Latin letters. This replaces the r14 `[a-z]+` tokenizer, which by
    * construction could never match an accented stopword ("está",
    * "não") — the most frequent function words of es/fr/de/it/pt were
    * silently dead weight in the density rule (VERDICT r14 §wrong-1).
    */
  // a-z FIRST: the class runs over LOWERCASED text, so the ASCII
  // lowercase range decides almost every char — Java evaluates class
  // unions in order, and a-z-first measures ~15% faster than the
  // uppercase-first spelling on function-word-dense text (the
  // multi-range class is inherently ~3× the old [a-z]; the production
  // extraction path is the native table-lookup tokenizer, which is
  // order-free and pays nothing).
  // r16 (VERDICT r15 §next-3): + Greek and Cyrillic LETTER ranges, so
  // alphabetic non-Latin pages tokenize to words at all (under the
  // Latin-only class a Russian page tokenized to ZERO words → stopword
  // density 0 → every block died). Greek keeps only letters — the
  // block's punctuation (0x374-5, 0x37E, 0x384-5, 0x387) would glue
  // into tokens and break stopword membership; Cyrillic 0x400-0x4FF is
  // all letters. Case note: fixture/oracle text stays lowercase-Greek
  // because Java lowercases final-position Σ to ς contextually while
  // RE2/DuckDB lower() maps it unconditionally to σ — the one
  // cross-engine lowercasing divergence in these ranges.
  private[graft] val WordLetterBlocks: Seq[(Int, Int)] = Seq(
    0x61 -> 0x7A, 0x41 -> 0x5A, 0xC0 -> 0xD6, 0xD8 -> 0xF6, 0xF8 -> 0x24F,
    0x386 -> 0x386, 0x388 -> 0x38A, 0x38C -> 0x38C, 0x38E -> 0x3A1,
    0x3A3 -> 0x3CE, 0x400 -> 0x4FF,
    // late r16: Arabic (hamza/letter core + the Persian/Urdu extension
    // letters; digits 0x660-0x669 and harakat excluded) and Hebrew
    // (the 22-letter block + final forms) — both space-delimited
    // scripts, so the density rule applies once they tokenize. No case
    // in either script, so lowercasing is the identity cross-engine.
    0x620 -> 0x64A, 0x671 -> 0x6D3, 0x5D0 -> 0x5EA,
    // late r17 (ADVICE r16): Hangul syllables — Korean IS
    // space-delimited, so eojeol tokenize like words and the density
    // rule applies under the ko stop list ([[HangulBlocks]] notes the
    // routing). No case in hangul, lowercasing is the identity.
    0xAC00 -> 0xD7A3)

  /** Hangul syllables alone — the script-decided routing test's class
    * (late r17): a block whose word-letter chars are hangul-majority is
    * KOREAN by construction (no other language writes hangul), so the
    * routed keep rule scores its density against the ko stop list even
    * when the page's `lang` column is wrong or missing — unlike every
    * alphabetic script, where the letters alone cannot pick the
    * language, hangul is its own language evidence.
    */
  private[graft] val HangulBlocks: Seq[(Int, Int)] = Seq(0xAC00 -> 0xD7A3)

  private[graft] def hangulClassJava: String = scriptClassJava(HangulBlocks)
  private[graft] def hangulClassRe2: String = scriptClassRe2(HangulBlocks)

  /** Scripts WITHOUT cheap word segmentation: han + kana (the
    * [[ScriptBlocks]] ranges) plus the Southeast-Asian scripts written
    * without inter-word spaces — Thai, Lao, Khmer, Myanmar (letter
    * cores; digits excluded so a digit-heavy Latin block cannot
    * misroute). A block these characters dominate cannot take the
    * stopword-density rule (there are no whitespace-delimited function
    * words to count), so the routed keep rule
    * ([[htmlBlockFeaturesRouted]]) gives it the link-density-only
    * fallback instead of silently discarding it (VERDICT r15 §next-3 —
    * "a large fraction of real crawl pages silently discarded").
    *
    * Hangul LEFT this list late r17 (it was the r16 "deliberate lenient
    * exception", ADVICE r16): Korean is space-delimited, a ko stop list
    * now ships in [[StopwordsWeb]], and hangul-majority blocks take the
    * density rule against it — picked BY SCRIPT in the routed rule
    * ([[HangulBlocks]]), so a Korean page survives on its function-word
    * density even when its `lang` column is wrong, and Korean
    * boilerplate (link lists, noun-pile nav) now actually dies instead
    * of riding the link-density-only waiver.
    */
  private[graft] val SegFreeBlocks: Seq[(Int, Int)] = Seq(
    0x4E00 -> 0x9FFF, 0x3040 -> 0x30FF,
    0xE01 -> 0xE3A, 0xE40 -> 0xE4E,     // thai
    0xE81 -> 0xEB9, 0xEBB -> 0xECD,     // lao
    0x1780 -> 0x17B3, 0x17B6 -> 0x17D3, // khmer
    0x1000 -> 0x103E)                   // myanmar

  private[graft] def segFreeClassJava: String = scriptClassJava(SegFreeBlocks)
  private[graft] def segFreeClassRe2: String = scriptClassRe2(SegFreeBlocks)

  /** The block tokenizer's Java character class (one-or-more suffix is
    * the caller's).
    */
  private[graft] def wordClassJava: String = scriptClassJava(WordLetterBlocks)

  /** The RE2/DuckDB spelling of the same class. */
  private[graft] def wordClassRe2: String = scriptClassRe2(WordLetterBlocks)

  /** Unicode normalization for dedup robustness — NFD decomposition +
    * combining-mark removal (accent strip) + ROOT-locale lowercase +
    * whitespace collapse, so "Café  ÜBER" and "cafe uber" dedup/
    * fingerprint identically (scraped corpora mix composed/decomposed
    * forms and accent variants of the same page). One StaticInvoke
    * static per row inside codegen — no shuffle, safe in any scan
    * projection. Feed this into [[fingerprint]] / MinHash / SimHash
    * when near-dup robustness to diacritics matters; oracle parity:
    * DuckDB `lower(strip_accents(nfc_normalize(x)))` + collapse.
    */
  def normalizeText(text: Column): Column =
    graft.expressions.TextHashExpressions.normalizeText(text)

  /** PII redaction — the scrubbing pass every pre-training corpus runs
    * before anything else sees the text: URLs, emails, IPv4 addresses,
    * and US-style phone numbers replaced by typed placeholder tokens
    * (`<URL>`/`<EMAIL>`/`<IP>`/`<PHONE>`; typed, not blank, so token
    * statistics and span boundaries survive the scrub). Patterns are
    * deliberately conservative and restricted to syntax valid in BOTH
    * Java regex and RE2 (no lookaround, no backreferences) so the same
    * rules replay on any engine — recall-heavy locale-specific variants
    * belong in caller-supplied extra patterns, not here. Order matters
    * and is fixed: URLs first (an email or IP inside a URL is consumed
    * by `<URL>` wholesale), then emails, then IPs, then phones. A pure
    * codegen'd `regexp_replace` chain — row-local, no shuffle, safe
    * inside any scan projection at 100 TB.
    */
  def redactPii(text: Column): Column = {
    // (?i:...) — scheme is case-insensitive (HTTP:// is still a URL);
    // the inline-flag group is valid in both Java regex and RE2
    val url = regexp_replace(text, "(?i:https?)://[^\\s]+", "<URL>")
    val email = regexp_replace(url,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>")
  }

  /** URL canonicalization — the normalization pass before any URL-keyed
    * dedup or domain statistics (the same crawl page arrives as
    * `HTTP://Site.COM:80/p/`, `http://site.com/p?utm_source=x`, and
    * `http://site.com/p#top`; without canonicalization URL-dedup
    * under-merges and domain counts fragment). Rules, in fixed order:
    * strip the `#fragment`; lowercase the `scheme://authority` (path and
    * query are case-SENSITIVE per RFC 3986 and left alone); drop default
    * ports (`:80` for http, `:443` for https); remove tracking
    * parameters (`utm_*`, `fbclid`, `gclid`) with separator repair;
    * strip a single trailing slash. Non-URL strings pass through
    * unchanged (every rule anchors on URL syntax). Patterns are
    * Java∩RE2 syntax (no lookaround) so the chain replays on any
    * engine; a pure codegen'd `regexp_replace`/`regexp_extract` chain —
    * row-local, no shuffle, safe inside any scan projection at 100 TB.
    */
  def canonicalizeUrl(url: Column): Column = {
    val auth = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
    val noFrag = regexp_replace(url, "#.*", "")
    // lower(authority) + untouched remainder; regexp_extract yields ""
    // on non-URLs, leaving the input unchanged
    val lowered = concat(
      lower(regexp_extract(noFrag, auth, 0)),
      regexp_replace(noFrag, auth, ""))
    val p80 = regexp_replace(lowered,
      "^(http://[^/?#:]+):80([/?#].*)?$", "$1$2")
    val p443 = regexp_replace(p80,
      "^(https://[^/?#:]+):443([/?#].*)?$", "$1$2")
    val noTrack = regexp_replace(p443,
      "([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*", "$1")
    // separator repair: each removed param leaves its leading [?&], so
    // consecutive removals create "&&" runs and "?&"/trailing strays
    val sepFix = regexp_replace(regexp_replace(regexp_replace(noTrack,
      "&&+", "&"), "\\?&", "?"), "[?&]+$", "")
    regexp_replace(sepFix, "/$", "")
  }

  /** Abbreviations whose trailing dots must NOT end a sentence —
    * protected by a fixed-order literal replace chain before boundary
    * marking (the HtmlEntities convention: the oracle generates its
    * replace chain from this same list, so the rule set cannot drift).
    * Case-sensitive literals; an unlisted abbreviation followed by a
    * capital splits — the documented limit of the regex model (full
    * disambiguation needs a learned segmenter).
    */
  private[graft] val SentenceAbbrevs: Seq[String] = Seq(
    "Mr.", "Mrs.", "Ms.", "Dr.", "Prof.", "St.", "No.", "vs.",
    "e.g.", "i.e.", "etc.", "Jr.", "Sr.", "Inc.", "Fig.")

  /** Sentence boundary: a terminator (with optional closing quotes /
    * brackets) + whitespace + an upper/digit/quote opener. The opener
    * is CONSUMED into the replacement (`$1<marker>$2`) — RE2 has no
    * lookahead, and consuming one char is equivalent here because a
    * boundary match never overlaps the next boundary's terminator.
    */
  private[graft] val SentenceBoundaryRe =
    "([.!?][\"')\\]]*)\\s+([A-Z0-9\"'(])"

  /** Split text into sentences: protect known abbreviations (dots →
    * U+0001), mark boundaries with U+0002 (not newline — real text
    * contains mid-sentence line wraps, which stay inside their
    * sentence; a wrap AFTER a terminator is a boundary because the
    * marker regex crosses any whitespace run), split, restore dots,
    * trim, drop empties. Pure codegen'd replace/split chain — row-local,
    * Java∩RE2-safe, oracle-replayable.
    */
  def splitSentences(text: Column): Column = {
    val protectedTxt = SentenceAbbrevs.foldLeft(text) { (acc, a) =>
      replace(acc, lit(a), lit(a.replace(".", "\u0001")))
    }
    val marked = regexp_replace(protectedTxt, SentenceBoundaryRe,
      "$1\u0002$2")
    filter(transform(split(marked, "\u0002"),
      s => trim(replace(s, lit("\u0001"), lit(".")))), s => s =!= "")
  }

  /** Registrable host of a URL: the authority with scheme, userinfo, and
    * port stripped, lowercased. Empty string for non-URLs (a filter on
    * `domainOf =!= ""` drops URL-less rows explicitly rather than
    * silently). Pure regexp_extract — row-local, Java∩RE2.
    */
  def domainOf(url: Column): Column =
    regexp_extract(lower(url),
      "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1)

  /** All dot-suffixes of a domain, most-specific first:
    * `a.b.example.com` → `[a.b.example.com, b.example.com, example.com,
    * com]`. The join key set for suffix-semantics blocklists: a list
    * entry `example.com` must block every subdomain, so membership is
    * "any suffix of the host appears in the list" — an explode (bounded
    * by label count, ~4–6 per host) + equi-join, never a per-row scan
    * of the list or an endsWith cross product.
    */
  def domainSuffixes(domain: Column): Column = {
    val parts = split(domain, "\\.")
    transform(sequence(lit(0), size(parts) - 1),
      i => array_join(slice(parts, i + 1, size(parts) - i), "."))
  }

  /** URL/domain blocklist filter with suffix semantics — the C4-style
    * crawl hygiene step ("drop every doc whose source domain, or any
    * parent domain, is on the list"). `blocklist` is a one-column frame
    * of lowercase domains; list-sized, so Spark broadcasts the
    * anti-join side. Rows without a parseable URL are KEPT (the list
    * names bad domains; absence of a domain is not membership).
    */
  def filterByBlockedDomains(df: DataFrame, idCol: String, urlCol: String,
                             blocklist: DataFrame): DataFrame = {
    require(blocklist.columns.length == 1,
      s"filterByBlockedDomains: blocklist must have exactly one column, " +
        s"got ${blocklist.columns.mkString(",")}")
    val bl = blocklist.select(
      lower(col(blocklist.columns.head)).as("__blocked_dom"))
    // ids only through the joins; payloads re-attach via the final anti-join
    val blockedIds = df
      .select(col(idCol),
        explode_outer(domainSuffixes(domainOf(col(urlCol)))).as("__dom_sfx"))
      .join(bl, col("__dom_sfx") === col("__blocked_dom"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(blockedIds, Seq(idCol), "left_anti")
  }

  /** TF-IDF per (doc, term) with corpus-wide statistics: one token explode,
    * two hash-aggregates (term frequency per doc, document frequency per
    * term) and a term-keyed join — no per-doc vocabulary state, so the
    * shape survives any corpus size; the doc-count scalar rides along as a
    * broadcast. `idf = ln(N / df)` in IEEE doubles — cross-engine
    * reproducible (oracle-checked against DuckDB).
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(words(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val nDocs = tf.select(countDistinct(col("id")).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf") *
        log(col("n_docs").cast("double") / col("dfreq").cast("double")))
      .select("id", "term", "tf", "dfreq", "tfidf")
  }

  /** Okapi BM25 relevance weight per (doc, term) — the retrieval-grade
    * form of [[tfIdf]] for scoring/filtering training corpora. Same
    * two-shuffle shape (doc-keyed tf, then term-keyed df); doc length
    * rides the tf aggregation and the corpus stats (N, avgdl) join back
    * as a broadcast one-row dimension, so nothing here is a global sort
    * or a driver loop. IDF is the standard ln((N - df + 0.5)/(df + 0.5)
    * + 1) form, strictly positive.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(words(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    tf.join(dl, "id")
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("dfreq") + 0.5) /
        (col("dfreq") + 0.5) + 1.0))
      .withColumn("bm25", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select("id", "term", "tf", "dfreq", "bm25")
  }

  // ---------------------------------------------------------------------
  // BM25 retrieval: query-batch top-k search over the corpus, with a
  // persisted term-bucketed inverted index for the production "index once,
  // probe many" steady state (r12). The per-(doc,term) weight is exactly
  // [[bm25]]'s; what this family adds is the QUERY side — score a batch of
  // queries and return the top-k documents per query — and the index
  // layout that makes a probe O(query terms), not O(corpus):
  //
  //   path/postings/bucket=B/  (term, id, tf, dl)     corpus-scale
  //   path/terms/bucket=B/     (term, dfreq) PARTIALS vocab-scale
  //   path/stats/              (n_docs, total_dl, n_buckets) PARTIALS
  //
  // `bucket = pmod(xxhash64(term), nBuckets)` is a partition column, so a
  // probe's `bucket IN (...)` literal filter prunes at file-listing time
  // and only the query terms' buckets are ever read. The terms and stats
  // tables hold per-batch PARTIAL counts that the probe sums — which is
  // what makes [[bm25AppendIndex]] a pure O(batch) append: no read-modify-
  // write of corpus-wide statistics, no rebuild (the ivfAppendIndex /
  // substringAppendIndex maintenance story).
  //
  // Determinism contract: the per-term weight is an IEEE-double expression
  // (cross-engine reproducible, the [[bm25]] oracle precedent) and the
  // per-(query,doc) score SUM runs in DECIMAL(38,18) — exact, order-free
  // addition (the LanguageModel perplexity contract), so scratch search,
  // index probe, and the DuckDB oracle agree bit-for-bit, and ties break
  // totally on (score DESC, doc id ASC).
  // ---------------------------------------------------------------------

  /** Per-(doc,term) posting rows (id, term, tf, dl): one token explode,
    * one doc×term hash-aggregate, doc length joined back doc-keyed. With
    * `withPositions` the posting also carries the sorted 0-based token
    * positions (`array<int>`) — the POSITIONAL index [[phraseProbe]]
    * consumes; BM25 probes never read the column (parquet prunes it).
    */
  private def bm25PostingRows(df: DataFrame, idCol: String, textCol: String,
                              withPositions: Boolean = false): DataFrame = {
    if (!withPositions) {
      val toks = df.select(col(idCol).as("id"),
        explode(words(lower(col(textCol)))).as("term"))
      val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
      tf.join(dl, "id").select("id", "term", "tf", "dl")
    } else {
      val toks = df.select(col(idCol).as("id"),
        posexplode(words(lower(col(textCol)))).as(Seq("pos", "term")))
      val tf = toks.groupBy("id", "term")
        .agg(sort_array(collect_list(col("pos"))).as("positions"))
        .withColumn("tf", size(col("positions")).cast("long"))
      val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
      tf.join(dl, "id").select("id", "term", "tf", "dl", "positions")
    }
  }

  /** Distinct (query_id, term) pairs — BM25's usual bag-of-distinct-terms
    * query model (a repeated query word scores once; tf saturation lives
    * on the document side).
    */
  private def bm25QueryTerms(queries: DataFrame, qIdCol: String,
                             qTextCol: String): DataFrame =
    queries.select(col(qIdCol).cast("long").as("query_id"),
        explode(words(lower(col(qTextCol)))).as("term"))
      .distinct()

  /** Shared scorer: postings restricted to query terms (broadcast — a
    * query batch is human-scale), per-term df and corpus stats joined in,
    * the double BM25 weight summed per (query, doc) in DECIMAL(38,18),
    * and a per-query top-k window with a total (score DESC, id ASC)
    * tie-break. The window partitions by query_id — each query's
    * candidate set is the union of its terms' postings, so the sort is
    * per-query, never global; a pathological single-term stopword query
    * ("the") makes one big partition, which is the query author's skew,
    * not the plan's (same stance as topNgrams' TakeOrdered note).
    */
  private def bm25TopKFrom(postings: DataFrame, dfreq: DataFrame,
                           stats: DataFrame, qterms: DataFrame,
                           k: Int, k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val scored = postings
      .join(broadcast(qterms), "term")
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("w",
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    // DECIMAL(38,18) makes the per-(query,doc) addition order-free; the
    // decimal→double→round(6) edge is the q_text_lm_perplexity float-
    // portability contract (the raw doubles agree cross-engine to ~1e-15;
    // double→decimal CAST semantics differ at the last printed digit —
    // Spark casts via the shortest double repr, DuckDB via the exact
    // binary expansion — so the raw decimal must never reach the output).
    // Ranking orders by the ROUNDED score, so rank is deterministic in
    // both engines whenever the rounded values agree, with (id ASC) as
    // the total tie-break — exact duplicates (equal tf/dl rows) tie
    // exactly and break by id.
    scored.groupBy("query_id", "id")
      .agg(sum(col("w").cast(DecimalType(38, 18))).as("score_exact"))
      .withColumn("score", round(col("score_exact").cast("double"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("doc_id"), col("rank"),
        col("score"))
  }

  /** BM25 top-k search, scratch form: derive postings, per-term df and
    * corpus stats from the corpus, then score the query batch. Columns
    * (query_id, doc_id, rank, score). All corpus legs are term- or
    * doc-keyed shuffles (never all-pairs); a query term absent from the
    * corpus contributes nothing, and a query matching nothing is absent
    * from the output (standard retrieval semantics). For repeated query
    * batches against a stable corpus use [[bm25WriteIndex]] +
    * [[bm25Probe]], which skips every corpus-scale stage.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 queries: DataFrame, qIdCol: String, qTextCol: String,
                 k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val p = bm25PostingRows(docs, idCol, textCol)
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val stats = p.agg(countDistinct(col("id")).as("n_docs"),
      sum("tf").as("total_dl"))
    bm25TopKFrom(p, dfreq, stats, bm25QueryTerms(queries, qIdCol, qTextCol),
      k, k1, b)
  }

  /** Write (or rebuild) the persisted BM25 inverted index. The posting
    * rows are computed once (operator-internal persist, released before
    * return) and land three ways: term-bucket-partitioned postings,
    * per-batch partial df counts (same bucketing), and a one-row partial
    * stats batch carrying `n_buckets` so appends and probes can recover
    * the bucketing modulus from the index itself.
    */
  def bm25WriteIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"bm25WriteIndex: nBuckets must be > 0, got $nBuckets")
    bm25IndexBatch(docs, idCol, textCol, nBuckets) { (df, sub, parts) =>
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).partitionBy(parts: _*)
        .parquet(s"$path/$sub")
    }
  }

  /** Incremental maintenance: append a new document batch into an existing
    * index — O(batch) work, no O(corpus) rebuild. New postings append into
    * their bucket directories; df and corpus stats append as PARTIALS that
    * every probe sums, so nothing corpus-wide is read back or rewritten.
    * Caller contract (shared with every dedup/ANN index here): batch doc
    * ids must not collide with ids already indexed. `batchTag` makes the
    * append exactly-once across all three dirs ([[IndexLifecycle.append]]):
    * postings, dfreq partials and the stats row are all additive, so a
    * replay would double-count the batch into every later score.
    */
  def bm25AppendIndex(docs: DataFrame, idCol: String, textCol: String,
                      path: String, batchTag: Option[String] = None): Unit = {
    val nBuckets = bm25ReadNBuckets(docs.sparkSession, path)
    IndexLifecycle.append(path, batchTag, docs, Seq(idCol, textCol),
      Seq(s"$path/postings", s"$path/terms", s"$path/stats")) { c =>
      bm25IndexBatch(c.frame, idCol, textCol, nBuckets) { (df, sub, parts) =>
        c.append(df, s"$path/$sub", parts)
      }
    }: Unit
  }

  /** One batch's postings, dfreq partials and stats row, each handed to
    * `write` as (rows, subdirectory, partition columns).
    */
  private def bm25IndexBatch(docs: DataFrame, idCol: String, textCol: String,
                             nBuckets: Int)
                            (write: (DataFrame, String, Seq[String]) => Unit): Unit = {
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
    val p = bm25PostingRows(docs, idCol, textCol, withPositions = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      write(p.withColumn("bucket", bucket), "postings", Seq("bucket"))
      write(p.groupBy("term").agg(count(lit(1)).as("dfreq"))
        .withColumn("bucket", bucket), "terms", Seq("bucket"))
      // coalesce: a batch whose docs all tokenize to nothing has zero
      // posting rows, and a bare sum would write total_dl = NULL into the
      // stats partials (ADVICE r12)
      write(p.agg(countDistinct(col("id")).as("n_docs"),
          coalesce(sum("tf"), lit(0L)).as("total_dl"))
        .withColumn("n_buckets", lit(nBuckets))
        .coalesce(1), "stats", Nil)
    } finally p.unpersist()
  }

  /** DELETE documents from a persisted BM25 index (late r17 — the
    * takedown verb): O(one postings pass per delete batch) at delete
    * time, query-proportional work per probe. Three coordinated
    * tables, all under one exactly-once marker when `batchTag` is set
    * ([[IndexLifecycle.append]], tags namespaced `del-` like
    * [[graft.pipeline.Tombstones.delete]]):
    *
    *   - `_tombstones/` (id): probes anti-join postings against them
    *     (bucket-pruned — the join cost follows the query);
    *   - `_deleted_terms/` (id, term, bucket): the dead docs'
    *     term memberships — probes subtract `count(DISTINCT (id,term))`
    *     per query term from the stored dfreq sums;
    *   - `_deleted_stats/` (id, dl): the dead docs' lengths — probes
    *     subtract the id-deduped count/sum from N and total_dl.
    *
    * Every correction row derives from the doomed ids' RAW postings —
    * deliberately NOT the tombstone-excluded view — so a batch's
    * content is a pure function of (postings, its own id list):
    * re-delivering any committed batch in ANY order rewrites identical
    * rows, and overlapping deletes (two batches dooming the same id)
    * produce duplicate rows that the probe-side DISTINCT collapses —
    * idempotence is enforced at READ time, which is what makes the
    * crash-replay of batch A converge even after a LATER batch B
    * committed (the failure mode that killed the negative-partials
    * design: B's state changed what A's replay could see). An id never
    * indexed contributes no rows — deleting it is a no-op.
    * Probe-after-delete equals a fresh index built without the deleted
    * docs bit-for-bit (spec- and gate-pinned). Re-appending a deleted
    * id requires a compaction first (the tombstone would swallow the
    * new rows). SINGLE-WRITER, like every maintenance verb.
    */
  def bm25DeleteIndex(ids: DataFrame, idCol: String, path: String,
                      batchTag: Option[String] = None): Unit = {
    val spark = ids.sparkSession
    val nBuckets = bm25ReadNBuckets(spark, path)
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
    val doomed = ids.select(col(idCol).as("id"))
      .filter(col("id").isNotNull).distinct()
    def dead = spark.read.parquet(s"$path/postings")
      .join(doomed.withColumnRenamed("id", "__doomed"),
        col("id") === col("__doomed"), "left_semi")
    def deadTerms = dead.select(col("id"), col("term"))
      .withColumn("bucket", bucket)
    def deadStats = dead.groupBy("id")
      .agg(sum("tf").as("dl"))
    val termsDir = s"$path/_deleted_terms"
    val statsDir = s"$path/_deleted_stats"
    val tombs = graft.pipeline.Tombstones.tombstonePath(path)
    // the rows join and group the ids, so a tagged batch's signature is
    // computed by its own job
    IndexLifecycle.append(path, batchTag.map(t => s"del-$t"), ids, Seq(idCol),
      Seq(tombs, termsDir, statsDir)) { c =>
      c.append(deadTerms, termsDir, Seq("bucket"))
      c.append(deadStats, statsDir)
      c.append(doomed, tombs)
    }: Unit
  }

  /** Compact a persisted BM25 index's per-batch partials (r14, VERDICT
    * r13 §next-5): terms fold to ONE row per (term, bucket), stats to
    * one row, postings get a small-file rewrite that preserves the
    * bucket partitioning (posting rows are per-(doc,term) facts, not
    * partials — nothing to sum). Each table swaps in atomically
    * (staged rename), and integer-sum commutativity makes every probe
    * identical before and after — spec-pinned, and gate-pinned against
    * the full-rebuild oracle. Run at a batch boundary, never
    * concurrently with [[bm25AppendIndex]].
    *
    * Late r17: when tombstones are pending ([[bm25DeleteIndex]]), the
    * compaction instead rebuilds ALL THREE tables from the LIVE
    * postings and swaps the whole index root as ONE atomic rename —
    * dead postings physically gone, dfreq/stats recomputed (the same
    * definitions the write path uses), the tombstone and correction
    * tables vanishing with the old root. The single swap is what makes
    * a crash CONVERGE: any multi-table sequence leaves a window where a
    * re-run would double-apply corrections, but here a crash before the
    * rename changes nothing and a re-run recomputes from the intact old
    * root ([[IndexLifecycle.rebuild]], which carries the exactly-once
    * markers, so a replayed delete or append still no-ops).
    */
  def bm25CompactIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, targetFileMB: Int = 128): Unit =
    graft.pipeline.Tombstones.tombstones(spark, path) match {
      case None =>
        graft.pipeline.Sinks.compactAdditive(spark, s"$path/terms",
          Seq("term"), Seq("dfreq"), Seq("bucket"))
        graft.pipeline.Sinks.compactAdditive(spark, s"$path/stats",
          Seq("n_buckets"), Seq("n_docs", "total_dl"))
        graft.pipeline.Sinks.compact(spark, s"$path/postings", targetFileMB,
          collapse = Set.empty)
      case Some(_) =>
        val nBuckets = bm25ReadNBuckets(spark, path)
        val live = graft.pipeline.Tombstones.exclude(
          spark.read.parquet(s"$path/postings"), path)
        IndexLifecycle.rebuild(spark, path) { staged =>
          live.write.partitionBy("bucket").parquet(s"$staged/postings")
          val lp = spark.read.parquet(s"$staged/postings")
          lp.groupBy("term", "bucket").agg(count(lit(1)).as("dfreq"))
            .select("term", "dfreq", "bucket")
            .write.partitionBy("bucket").parquet(s"$staged/terms")
          lp.agg(countDistinct(col("id")).as("n_docs"),
              coalesce(sum("tf"), lit(0L)).as("total_dl"))
            .withColumn("n_buckets", lit(nBuckets))
            .coalesce(1).write.parquet(s"$staged/stats")
        }
    }

  /** Summed stats partials + the bucketing modulus in ONE bounded collect
    * (the stats table is one row per indexed batch). Every batch must
    * agree on `n_buckets` — a mixed-modulus index would silently split a
    * term across buckets and drop its postings from probes, so this
    * fails loudly instead.
    */
  private def bm25ReadStats(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Int, Long, Long) = {
    val r = spark.read.parquet(s"$path/stats")
      .agg(min("n_buckets").as("lo"), max("n_buckets").as("hi"),
        sum("n_docs").as("n_docs"), sum("total_dl").as("total_dl"))
      .collect()(0)
    require(r.getInt(0) == r.getInt(1),
      s"bm25 index at $path has inconsistent n_buckets " +
        s"(${r.getInt(0)} vs ${r.getInt(1)})")
    // Empty index fails loudly here instead of as a 0/0 avgdl downstream
    // or an NPE on a NULL legacy total_dl partial (ADVICE r12).
    require(!r.isNullAt(2) && r.getLong(2) > 0,
      s"bm25 index at $path is empty (n_docs = 0) — index a non-empty " +
        "corpus before probing")
    (r.getInt(0), r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  private def bm25ReadNBuckets(spark: org.apache.spark.sql.SparkSession,
                               path: String): Int =
    bm25ReadStats(spark, path)._1

  /** BM25 top-k probe against a persisted index: the amortized production
    * form. ONE bounded driver collect materializes the query batch's
    * (query_id, term, bucket) triples (loud fail above `maxQueryTerms` —
    * a query batch is human-scale by contract; corpus-scale scoring is
    * [[bm25Search]]'s job), then the postings and terms scans carry a
    * `bucket IN (...)` literal filter — partition pruning at file-listing
    * time — and a broadcast term join, so the work is proportional to the
    * query terms' posting lists, never the corpus. Statistics are the
    * summed partials, identical math to the scratch form: probe results
    * equal [[bm25Search]] bit-for-bit on the same corpus.
    */
  def bm25Probe(spark: org.apache.spark.sql.SparkSession, path: String,
                queries: DataFrame, qIdCol: String, qTextCol: String,
                k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                maxQueryTerms: Int = 10000): DataFrame = {
    // one bounded collect for modulus + corpus stats (both metadata-
    // scale); the summed partials ride back into the plan as a literal
    // one-row frame — identical values, one fewer scan than re-reading
    // the stats table inside the scoring plan
    val (nBuckets, nDocs, totalDl) = bm25ReadStats(spark, path)
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
    val qt = bm25QueryTerms(queries, qIdCol, qTextCol)
      .withColumn("bucket", bucket)
      .limit(maxQueryTerms + 1).collect()
    require(qt.length <= maxQueryTerms,
      s"bm25Probe: query batch has > $maxQueryTerms distinct (query, term) " +
        "pairs; probe batches are bounded by contract — split the batch " +
        "or use bm25Search for corpus-scale scoring")
    import spark.implicits._
    val qlocal = qt.toIndexedSeq
      .map(r => (r.getLong(0), r.getString(1))).toDF("query_id", "term")
    val buckets = qt.map(_.getInt(2)).distinct.toIndexedSeq.map(lit(_))
    if (buckets.isEmpty) return bm25EmptyResult(spark)
    // deleted docs (late r17): postings drop by tombstone anti-join,
    // dfreq subtracts the id-deduped dead term memberships, and N /
    // total_dl subtract the id-deduped dead doc lengths — every leg
    // bucket-pruned or id-keyed over the (small) deleted set, never a
    // corpus scan; see bm25DeleteIndex for why dedup happens HERE
    val postings = graft.pipeline.Tombstones.exclude(
        spark.read.parquet(s"$path/postings")
          .filter(col("bucket").isin(buckets: _*)), path)
      .select("id", "term", "tf", "dl")
    val dfreqStored = spark.read.parquet(s"$path/terms")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(qlocal.select("term").distinct()), "term")
      .groupBy("term").agg(sum("dfreq").as("dfreq"))
    val delTermsDir = s"$path/_deleted_terms"
    val dfreq =
      if (!graft.pipeline.Sinks.exists(spark, delTermsDir)) dfreqStored
      else {
        val deadCounts = spark.read.parquet(delTermsDir)
          .filter(col("bucket").isin(buckets: _*))
          .join(broadcast(qlocal.select("term").distinct()), "term")
          .select("id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("__dead"))
        dfreqStored.join(deadCounts, Seq("term"), "left")
          .select(col("term"),
            (col("dfreq") - coalesce(col("__dead"), lit(0L))).as("dfreq"))
      }
    val delStatsDir = s"$path/_deleted_stats"
    val (nDead, dlDead) =
      if (!graft.pipeline.Sinks.exists(spark, delStatsDir)) (0L, 0L)
      else {
        val r = spark.read.parquet(delStatsDir)
          .groupBy("id").agg(max("dl").as("dl")) // dedup overlapping batches
          .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("dl"))
          .head()
        (r.getLong(0), r.getLong(1))
      }
    val stats = Seq((nDocs - nDead, totalDl - dlDead))
      .toDF("n_docs", "total_dl")
    bm25TopKFrom(postings, dfreq, stats, qlocal, k, k1, b)
  }

  private def bm25EmptyResult(
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Int, Double)]
      .toDF("query_id", "doc_id", "rank", "score")
  }

  // ---------------------------------------------------------------------
  // Phrase search over the positional index: exact consecutive-token
  // match — "where does this benchmark sentence appear in the corpus" is
  // the decontamination-investigation query, and exact phrase lookup is
  // what substring-level audits reach for first. The match is pure
  // integer relational algebra (the anchor trick): a phrase t₀..t_{n−1}
  // matches doc d at anchor a iff token tᵢ appears at position a+i for
  // every i — so join corpus (id, pos, term) to phrase (qi, term) on
  // term, group by (query, id, pos − qi), and an anchor with n
  // contributing rows is an occurrence. Repeated phrase terms are
  // handled for free (each qi contributes at most one row per anchor —
  // positions are unique within a doc). Everything is exact integers;
  // the DuckDB oracle replays the whole shape.
  // ---------------------------------------------------------------------

  /** ORDERED phrase tokens (query_id, qi, term) — not distinct: a phrase
    * is a sequence (contrast [[bm25QueryTerms]]'s bag-of-terms model).
    */
  private def phraseTerms(queries: DataFrame, qIdCol: String,
                          qTextCol: String): DataFrame =
    queries.select(col(qIdCol).cast("long").as("query_id"),
      posexplode(words(lower(col(qTextCol)))).as(Seq("qi", "term")))

  /** Shared matcher over (id, pos, term) token rows: anchor grouping +
    * the count == phrase-length filter, then occurrences per (query,
    * doc). Output (query_id, doc_id, n_matches), every column an exact
    * integer.
    */
  private def phraseMatchFrom(toks: DataFrame, qterms: DataFrame): DataFrame = {
    val qn = qterms.groupBy("query_id").agg(count(lit(1)).as("qn"))
    toks.join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("id"),
        (col("pos") - col("qi")).as("anchor"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(qn), "query_id")
      .filter(col("c") === col("qn"))
      .groupBy("query_id", "id").agg(count(lit(1)).as("n_matches"))
      .select(col("query_id"), col("id").as("doc_id"), col("n_matches"))
  }

  /** Phrase search, scratch form: posexplode the corpus once and match.
    * One doc-keyed explode + term-broadcast join + two keyed aggregates —
    * no corpus self-join, no window. A query term absent from the corpus
    * makes its phrase unmatchable (absent from the output).
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, qIdCol: String,
                   qTextCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      posexplode(words(lower(col(textCol)))).as(Seq("pos", "term")))
    phraseMatchFrom(toks, phraseTerms(queries, qIdCol, qTextCol))
  }

  /** Phrase probe against the persisted [[bm25WriteIndex]] index (its
    * postings carry sorted token positions): bucket-pruned postings for
    * the phrase's terms only, positions exploded back to token rows, the
    * same anchor match. Work is proportional to the phrase terms' posting
    * lists — the corpus is never re-tokenized. Equal to [[phraseSearch]]
    * on the indexed corpus by construction (same oracle SQL).
    */
  def phraseProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                  queries: DataFrame, qIdCol: String, qTextCol: String,
                  maxQueryTerms: Int = 10000): DataFrame = {
    val nBuckets = bm25ReadNBuckets(spark, path)
    val bucket = pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
    val qt = phraseTerms(queries, qIdCol, qTextCol)
      .withColumn("bucket", bucket)
      .limit(maxQueryTerms + 1).collect()
    require(qt.length <= maxQueryTerms,
      s"phraseProbe: query batch has > $maxQueryTerms (query, position) " +
        "pairs; probe batches are bounded by contract")
    import spark.implicits._
    val qlocal = qt.toIndexedSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toDF("query_id", "qi", "term")
    val buckets = qt.map(_.getInt(3)).distinct.toIndexedSeq.map(lit(_))
    if (buckets.isEmpty) {
      return Seq.empty[(Long, Long, Long)]
        .toDF("query_id", "doc_id", "n_matches")
    }
    val toks = graft.pipeline.Tombstones.exclude(
        spark.read.parquet(s"$path/postings")
          .filter(col("bucket").isin(buckets: _*)), path) // deleted docs out
      .select(col("id"), col("term"), explode(col("positions")).as("pos"))
    phraseMatchFrom(toks, qlocal)
  }

  /** Top-k frequent word n-grams across the corpus: posexplode tokens,
    * window-`lead` the next n-1 tokens (codegen'd — same shape as the
    * MinHash shingle pipeline), null-propagating concat (a doc shorter than
    * n words yields no gram), hash-aggregate, top-k with a deterministic
    * gram tiebreak. One shuffle keyed by doc id + one by gram; the top-k is
    * a TakeOrdered, never a global sort.
    */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
                n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      posexplode(words(lower(col(textCol)))))
      .withColumnRenamed("col", "t0")
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until n).map(j => lead(col("t0"), j).over(w).as(s"t$j"))
    val parts = (0 until n).flatMap(j =>
      if (j == 0) Seq(col("t0")) else Seq(lit(" "), col(s"t$j")))
    toks.select(Seq(col("id"), col("t0")) ++ leads: _*)
      .select(concat(parts: _*).as("gram"))
      .filter(col("gram").isNotNull)
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
  }

  /** Rolling polynomial hash (Rabin-Karp style) over characters, mod 1e9+7:
    * an order-sensitive fingerprint built as an array fold — still pure
    * codegen. Distinguishes permuted texts that a bag-of-words hash merges.
    * Modulus is < 2^30 so `acc*31 + char` stays far below Long overflow
    * before the mod (a 2^61-1 modulus would overflow mid-expression).
    */
  def rollingHash(text: Column): Column =
    graft.expressions.TextHashExpressions.rollingHash(text)

  /** The expression-composition form of [[rollingHash]] — kept as the
    * executable specification the native `RollingHashOps` is spec-pinned
    * against (ASCII, multibyte, empty). Interpreted HOF fold; production
    * uses the native static call.
    */
  private[graft] def rollingHashFold(text: Column): Column = {
    val codes = transform(split(text, ""), ch => ascii(ch).cast("long"))
    aggregate(codes, lit(7L),
      (acc, c) => pmod(acc * 31L + c, lit(1000000007L)))
  }

  /** Intra-document repetition profile (the Gopher/MassiveText repetition
    * rules): per doc, the fraction of word bigrams that are repeats
    * (`1 - distinct/total`) and the share claimed by the single most
    * frequent bigram. Docs dominated by boilerplate or looped generation
    * score high on both and get filtered before training.
    *
    * Scale shape: bigrams are built MAP-SIDE from the token array (no
    * self-join, no window), then two keyed hash aggregates — (doc_id,
    * bigram) then doc_id — and one doc_id-keyed left join to re-attach
    * short/empty docs (< 2 tokens: zero counts, NULL fractions). Per-doc
    * state never materializes more than the doc's own bigram multiset, so
    * the operator is insensitive to corpus size — only to doc length.
    */
  /** The C4 LINE-level cleaning rules (Raffel et al. 2020 §2.2 — the
    * "Colossal Clean Crawled Corpus" filter), complementing
    * [[gopherRules]] (document-level ratios) with the paper's
    * line-granular pass: a line survives only if it
    *
    *   - ends in a terminal punctuation mark (`.` `!` `?` `"`),
    *   - contains at least 5 words,
    *   - does not contain the word "javascript" (case-insensitive);
    *
    * and the PAGE survives only if the cleaned page keeps ≥ 3 lines
    * (the paper's "at least 3 sentences" proxy at line granularity),
    * and the raw page contains neither "lorem ipsum" nor a curly brace
    * (the code-page tell). Named per-rule columns follow the
    * [[gopherRules]] convention: `n_*` counters, `r_*` booleans,
    * `pass` = all page rules. Everything is per-row array/string
    * expressions — one codegen'd scan, no shuffle, oracle-portable.
    * Blank-after-trim lines are dropped before any rule (they are
    * formatting, not sentences — and `split` on a trailing newline
    * would otherwise mint one).
    */
  private def c4NonBlankLines(text: Column): Column =
    filter(split(text, "\n"), l => trim(l) =!= "")

  private def c4LineKept(l: Column): Column = {
    val t = trim(l)
    val terminal = t.endsWith(".") || t.endsWith("!") ||
      t.endsWith("?") || t.endsWith("\"")
    val enoughWords = size(filter(split(t, "\\s+"), w => w =!= "")) >= 5
    terminal && enoughWords && !lower(t).contains("javascript")
  }

  /** Line-cleaned page text: kept lines re-joined with `\n`. */
  def c4CleanedText(text: Column): Column =
    array_join(filter(c4NonBlankLines(text), c4LineKept _), "\n")

  def c4Rules(text: Column): Seq[(String, Column)] = {
    val lines = c4NonBlankLines(text)
    val kept = filter(lines, c4LineKept _)
    Seq(
      "n_lines" -> size(lines).cast("long"),
      "n_kept_lines" -> size(kept).cast("long"),
      "cleaned_chars" -> length(array_join(kept, "\n")).cast("long"),
      "r_min_sentences" -> (size(kept) >= 3),
      "r_no_lorem" -> !lower(text).contains("lorem ipsum"),
      "r_no_brace" -> !text.contains("{"))
  }

  /** [[c4Rules]] as the paper's actual transformation: pages failing any
    * page rule are DROPPED, surviving pages carry the line-cleaned text
    * (kept lines re-joined with `\n`) in place of the raw text. Column
    * set is preserved, so the stage composes with every downstream
    * operator (dedup/tokenize see the cleaned text, exactly as C4's
    * pipeline ordering prescribes).
    */
  def filterByC4(df: DataFrame, textCol: String): DataFrame =
    // Predicate + rewrite in one NATIVE call returning cleaned-or-null
    // ([[graft.expressions.C4Ops.clean]], spec-pinned equal to the
    // column forms): the column version evaluated the interpreted
    // per-line HOF chain once in the filter and again in the rewrite.
    // Predicate pushdown substitutes the alias into the isNotNull
    // filter, so the native runs (at most) twice per row — each call
    // one tight loop instead of an ArrayFilter that re-splits every
    // line.
    df.withColumn(textCol,
        graft.expressions.TextHashExpressions.c4Clean(col(textCol)))
      .filter(col(textCol).isNotNull)

  /** Blocked-TERM content stats under an Aho–Corasick automaton
    * ([[graft.expressions.BlocklistOps]]): the C4 bad-word page filter's
    * matching core — thousands of terms and multi-word phrases matched as
    * SUBSTRINGS (lowercase, all occurrences) in ONE text pass per row,
    * where a per-pattern regex chain costs |patterns| passes. Returns
    * named columns: `n_blocked_hits` (total occurrences) and
    * `blocked_ids` (ascending distinct pattern indices). Complements
    * [[filterByBlockedDomains]] (URL-level) with content-level blocking.
    * Patterns must be non-empty; the automaton broadcasts as one memoized
    * spec literal — map-only, no shuffle.
    */
  def blockedTermStats(text: Column, terms: Seq[String]): Seq[(String, Column)] = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty),
      "blockedTermStats: terms must be non-empty strings")
    // the automaton spec travels as a plan literal — metadata-scale by
    // design (real block lists are thousands of terms); bounded so a
    // mis-wired corpus column can't become a gigabyte plan
    require(terms.length <= 65536 && terms.map(_.length).sum <= (1 << 21),
      s"blockedTermStats: ${terms.length} terms / ${terms.map(_.length).sum} " +
        "chars exceed the plan-literal budget (65536 terms / 2M chars)")
    val pats = terms.map(_.toLowerCase(java.util.Locale.ROOT)).toArray
    Seq(
      "n_blocked_hits" ->
        graft.expressions.BlocklistExpressions.blockedTermCount(text, pats),
      "blocked_ids" ->
        graft.expressions.BlocklistExpressions.blockedTermIds(text, pats))
  }

  /** The C4 page rule the term list exists for: drop every page containing
    * ANY blocked term (Raffel et al. 2020 §2.2 — "any word on the
    * banned-word list").
    */
  def filterByBlockedTerms(df: DataFrame, textCol: String,
                           terms: Seq[String]): DataFrame =
    df.filter(blockedTermStats(col(textCol), terms).head._2 === 0L)

  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), words(col(textCol)).as("__tk"))
    // size >= 2 filter BEFORE sequence(): sequence(1, 0) would count DOWN
    // and fabricate a reversed bigram for 1-token docs
    val bigrams = docs.filter(size(col("__tk")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__tk")) - 1),
          i => concat_ws(" ", element_at(col("__tk"), i),
            element_at(col("__tk"), i + 1)))).as("bigram"))
    val perBigram = bigrams.groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("__n"))
    val stats = perBigram.groupBy("doc_id").agg(
      sum("__n").as("__nb"), count(lit(1)).as("__nd"), max("__n").as("__mx"))
    docs.select("doc_id").join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("__nd"), lit(0L)).as("n_distinct_bigrams"),
        (lit(1.0) - col("__nd").cast("double") / col("__nb").cast("double"))
          .as("dup_bigram_frac"),
        (col("__mx").cast("double") / col("__nb").cast("double"))
          .as("top_bigram_frac"))
  }

  /** Deflate compression ratio of the text — the classic cheap
    * repetition/noise signal ([[graft.expressions.CompressOps]]): looping
    * boilerplate compresses far below natural prose, binary junk and
    * noise barely compress at all. Complements [[repetitionStats]]
    * (which only sees exact bigram repeats — compression also catches
    * longer-period and near-repeats) at one codegen'd static call per
    * row, no tokenization. NULL for empty text. Deterministic for a
    * given JDK; not DuckDB-replayable, so consumers are rows-only with
    * a measured gate.
    */
  def compressionRatio(text: Column): Column =
    graft.expressions.TextHashExpressions.compressionRatio(text)

  /** Keep documents whose compression ratio sits in the NATURAL-TEXT
    * band [minRatio, maxRatio] — drop the too-compressible (looping
    * boilerplate) below and the incompressible (noise, embedded binary)
    * above. Documents with NULL ratio (empty text) are dropped: no bytes
    * is no evidence of natural text. One codegen'd filter scan.
    */
  def filterByCompressionRatio(df: DataFrame, textCol: String,
                               minRatio: Double = 0.2,
                               maxRatio: Double = 0.9): DataFrame = {
    require(minRatio >= 0 && minRatio < maxRatio,
      s"filterByCompressionRatio: need 0 <= minRatio < maxRatio, got " +
        s"[$minRatio, $maxRatio]")
    // One deflate pass per row: the old three-conjunct filter referenced
    // the deflate static call three times, and FilterExec splits
    // conjuncts without subexpression elimination, so the costliest
    // native in this file ran up to 3× per row (ADVICE r11). The banded
    // predicate computes the ratio once inside a single static call.
    df.filter(graft.expressions.TextHashExpressions
      .compressionInBand(col(textCol), minRatio, maxRatio))
  }

  // -------------------------------------------------------------------
  // Unicode hygiene (r15) — normalize BEFORE hashing/tokenizing, because
  // every downstream equality (exact dedup, shingles, BPE merges,
  // stopword hits) fragments when the same text arrives in different
  // byte forms. Natives in [[graft.expressions.UnicodeOps]].
  // -------------------------------------------------------------------

  /** Unicode NFC (canonical composition) — one codegen'd static call per
    * row, no-op-allocation fast path for already-normal (all-ASCII)
    * text. Cross-engine replayable: DuckDB `nfc_normalize` (q_text_nfc
    * hash-checks the two implementations against each other end-to-end).
    */
  def nfcNormalize(text: Column): Column =
    graft.expressions.UnicodeExpressions.nfcNormalize(text)

  /** Unicode NFKC (adds compatibility folds: ﬁ→fi, fullwidth→ASCII) —
    * the aggressive pre-tokenizer form; engine-private (DuckDB has no
    * NFKC), spec-pinned.
    */
  def nfkcNormalize(text: Column): Column =
    graft.expressions.UnicodeExpressions.nfkcNormalize(text)

  /** Repair single-byte mojibake ("Ã©tÃ©" → "été"): sloppy-cp1252
    * re-encode + strict UTF-8 re-decode, accepted only when valid and
    * strictly shorter, iterated to a bounded fixpoint for double-encoded
    * text. ASCII and legitimately accented text pass through
    * byte-identical (their re-encoding is not valid UTF-8).
    */
  def fixMojibake(text: Column): Column =
    graft.expressions.UnicodeExpressions.fixMojibake(text)

  /** True iff [[fixMojibake]] would change the text — one repair pass
    * per row, directly filterable (the compressionInBand lesson).
    */
  def isMojibake(text: Column): Column =
    graft.expressions.UnicodeExpressions.isMojibake(text)

  /** The composed hygiene pass a corpus runs once on ingest: mojibake
    * repair, then NFC, plus the audit flags QA wants (which rows were
    * broken, which merely denormalized). Column-pruned, shuffle-free,
    * one scan.
    */
  def cleanUnicode(df: DataFrame, textCol: String): DataFrame = {
    val fixed = fixMojibake(col(textCol))
    // coalesce: =!= is null-propagating, and a NULL-text row must audit
    // as (false, false) — not as NULL flags that break typed reads and
    // fall out of BOTH sides of a boolean filter
    df.withColumn("__fixed", fixed)
      .withColumn("was_mojibake",
        coalesce(col("__fixed") =!= col(textCol), lit(false)))
      .withColumn("was_denormal",
        coalesce(nfcNormalize(col("__fixed")) =!= col("__fixed"), lit(false)))
      .withColumn(textCol, nfcNormalize(col("__fixed")))
      .drop("__fixed")
  }

  // -------------------------------------------------------------------
  // HTML main-content extraction (r12) — the stage every raw-web corpus
  // runs FIRST: markup → text. Tag-aware block segmentation plus the
  // jusText-shaped context-free block classification (Pomikálek 2011,
  // "Removing boilerplate and duplicate content from web corpora":
  // blocks with high link density or low stopword density are
  // boilerplate; long low-link stopword-dense blocks are content).
  // Everything is Java∩RE2-safe string ops (no lookaround, no
  // backreferences) so the whole chain replays in DuckDB — the
  // q_text_c4_rules oracle convention. Pure per-row column expressions:
  // map-only, shuffle-free, safe in any scan projection at 100 TB.
  //
  // Deliberate regex-model limits (a parser concern, not a rules
  // concern — documented, spec-pinned where they matter): attribute
  // values containing a literal '>' break the tag model; an unclosed
  // <script>/<style> leaves its code visible (C4Clean's javascript
  // line rule downstream is the net); only the named character
  // entities below are decoded (numeric entities other than &#39;
  // pass through).
  // -------------------------------------------------------------------

  /** Tags that end a text block — the HTML block-level elements plus
    * structural/sectioning tags. An open OR close occurrence is a block
    * boundary (jusText segments on the same set).
    */
  private[graft] val HtmlBlockTagNames: String =
    "p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|" +
      "caption|br|hr|section|article|aside|header|footer|nav|main|" +
      "figure|figcaption|blockquote|pre|form|fieldset|legend|select|" +
      "option|textarea|title|head|body|html"

  /** Invisible content: script/style/noscript WITH their bodies, and
    * comments. No backreferences (RE2-safe): each pair is spelled out.
    */
  private[graft] val HtmlInvisibleRe: String =
    "(?is)<script(\\s[^>]*)?>.*?</script>" +
      "|<style(\\s[^>]*)?>.*?</style>" +
      "|<noscript(\\s[^>]*)?>.*?</noscript>" +
      "|<!--.*?-->"

  /** One block-level open/close/self-closing tag, attributes allowed. */
  private[graft] val HtmlBlockBoundaryRe: String =
    s"(?i)</?(?:$HtmlBlockTagNames)(\\s[^>]*)?\\s*/?>"

  /** One full anchor element (the link-density numerator's span). */
  private[graft] val HtmlAnchorRe: String = "(?is)<a(\\s[^>]*)?>.*?</a>"

  /** Entity-decode order is FIXED and `&amp;` is LAST: `&amp;lt;` is
    * the literal four characters `&lt;`, not `<` — decoding `&amp;`
    * first would double-decode it (the classic entity bug; spec-pinned).
    */
  private[graft] val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Decode the named HTML entities (plus `&#39;`), `&amp;` last. */
  private[graft] def decodeHtmlEntities(c: Column): Column =
    HtmlEntities.foldLeft(c) { case (acc, (e, r)) =>
      replace(acc, lit(e), lit(r))
    }

  /** Strip every remaining (inline) tag — run AFTER block boundaries
    * are marked, so `<b>`/`<i>`/`<a>`/`<span>` vanish without
    * splitting text.
    */
  private[graft] def stripHtmlTags(c: Column): Column =
    regexp_replace(c, "<[^>]*>", "")

  /** Visible text of one raw block segment: tags stripped, entities
    * decoded, whitespace collapsed, trimmed.
    */
  private[graft] def htmlBlockText(b: Column): Column =
    trim(regexp_replace(decodeHtmlEntities(stripHtmlTags(b)), "\\s+", " "))

  /** Tag-aware block segmentation: drop invisible content, turn every
    * block-level tag into a boundary, split, and keep segments with
    * non-empty visible text. Returns `array<string>` of RAW html
    * segments (inline tags intact — the link-density rule still needs
    * them). One codegen'd projection, no shuffle, no explode.
    */
  /** Raw segments before the visibility filter: invisible content
    * dropped, every block-level tag a boundary, split on the boundary.
    * The shared front half of [[htmlToBlocks]] and [[htmlBlockFeatures]].
    */
  private def htmlRawSegments(html: Column): Column =
    split(regexp_replace(
      regexp_replace(html, HtmlInvisibleRe, ""), HtmlBlockBoundaryRe, "\n"),
      "\n")

  def htmlToBlocks(html: Column): Column =
    filter(htmlRawSegments(html), b => htmlBlockText(b) =!= "")

  /** The stopword list the block classifier scores density against —
    * ~50 core English function words (jusText ships ~600 per language;
    * a denser list raises natural-prose density toward the paper's 0.30
    * threshold, so [[htmlBlockFeatures]]'s default `minStopDensity` is
    * proportionally lower — swap the list and threshold per deployment).
    */
  private[graft] val StopwordsWebEn: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "but", "of", "to", "in", "on", "at",
    "by", "for", "with", "from", "as", "is", "are", "was", "were", "be",
    "been", "it", "its", "this", "that", "these", "those", "he", "she",
    "they", "we", "you", "i", "his", "her", "their", "our", "your",
    "not", "no", "have", "has", "had", "do", "does", "did", "will",
    "would", "there", "which", "what", "who", "all", "some")

  /** Per-language web-extraction stopword lists (r14, VERDICT r13
    * §next-2; accent-complete since r15, VERDICT r14 §next-1): jusText
    * ships a stopword list PER LANGUAGE — on a real crawl most pages
    * are non-English, and their blocks systematically fail the density
    * rule under an English list. ~50-60 core function words per
    * language (the StopwordsWebEn sizing; jusText ships ~600 each —
    * swap per deployment). The r14 lists were ASCII-only because the
    * `[a-z]+` tokenizer could never match an accented entry; the
    * tokenizer now runs the shared [[WordLetterBlocks]] class, and
    * each list carries the accented function words that were silently
    * omitted (es "más/está", fr "à/être/où", de "für/über", it
    * "è/più", pt "não/são/é") — the most frequent words of five of the
    * six languages, without which accented pages under-scored against
    * the keep threshold. Unknown or NULL language keys fall back to
    * English.
    */
  private[graft] val StopwordsWeb: Map[String, Seq[String]] = Map(
    "en" -> StopwordsWebEn,
    "es" -> Seq(
      "el", "la", "los", "las", "un", "una", "uno", "unos", "unas",
      "de", "del", "y", "o", "pero", "que", "en", "a", "al", "por",
      "para", "con", "sin", "sobre", "entre", "se", "su", "sus", "lo",
      "le", "les", "es", "son", "era", "eran", "fue", "ser", "hay",
      "como", "este", "esta", "estos", "estas", "ese", "esa", "eso",
      "no", "ya", "cuando", "donde", "todo", "todos", "toda", "todas",
      "nada", "muy", "mi", "tu",
      "más", "está", "están", "también", "sí", "qué", "él", "así",
      "día", "después"),
    "fr" -> Seq(
      "le", "la", "les", "un", "une", "des", "du", "de", "et", "ou",
      "mais", "que", "qui", "dans", "en", "au", "aux", "par", "pour",
      "avec", "sans", "sur", "sous", "entre", "se", "sa", "son", "ses",
      "ce", "cette", "ces", "il", "elle", "ils", "elles", "nous",
      "vous", "je", "tu", "ne", "pas", "est", "sont", "ont", "avait",
      "comme", "plus", "tout", "tous", "toute", "toutes", "y", "on",
      "lui", "leur",
      "à", "été", "être", "où", "déjà", "très", "après", "même",
      "français", "côté"),
    "de" -> Seq(
      "der", "die", "das", "den", "dem", "des", "ein", "eine", "einen",
      "einem", "eines", "und", "oder", "aber", "dass", "wenn", "weil",
      "mit", "von", "zu", "zum", "zur", "bei", "nach", "aus", "auf",
      "in", "im", "an", "am", "um", "so", "als", "auch", "nicht",
      "kein", "keine", "ist", "sind", "war", "waren", "wird", "werden",
      "hat", "haben", "hatte", "er", "sie", "es", "wir", "ihr", "ich",
      "du", "man",
      "für", "über", "während", "können", "müssen", "wäre", "hätte",
      "dafür", "größer", "schließlich"),
    "it" -> Seq(
      "il", "lo", "la", "i", "gli", "le", "un", "uno", "una", "di",
      "del", "della", "dei", "delle", "e", "o", "ma", "che", "chi",
      "in", "nel", "nella", "a", "al", "alla", "da", "dal", "per",
      "con", "su", "sul", "sulla", "tra", "fra", "si", "se", "suo",
      "sua", "suoi", "sue", "questo", "questa", "questi", "queste",
      "quello", "quella", "non", "come", "anche", "quando", "dove",
      "tutto", "tutti", "tutta", "era", "sono",
      "è", "più", "già", "però", "perché", "così", "può", "città",
      "né", "sarà"),
    "pt" -> Seq(
      "o", "a", "os", "as", "um", "uma", "uns", "umas", "de", "do",
      "da", "dos", "das", "e", "ou", "mas", "que", "em", "no", "na",
      "nos", "nas", "por", "para", "com", "sem", "sobre", "entre",
      "se", "seu", "sua", "seus", "suas", "lhe", "lhes", "ele", "ela",
      "eles", "elas", "eu", "tu", "ao", "aos", "pelo", "pela", "como",
      "quando", "onde", "tudo", "todos", "toda", "era", "foi", "ser",
      "não", "são", "é", "já", "também", "até", "às", "está", "há",
      "só"),
    // r16 (VERDICT r15 §next-3): the first non-Latin-script lists —
    // usable at all only now that WordLetterBlocks tokenizes Cyrillic
    // and Greek letters. Lowercase entries (tokenization lowercases);
    // the Greek list carries the final-sigma forms as written.
    "ru" -> Seq(
      "и", "в", "во", "не", "на", "я", "с", "со", "как", "а", "то",
      "все", "она", "так", "его", "но", "да", "ты", "к", "у", "же",
      "вы", "за", "бы", "по", "только", "ее", "мне", "было", "вот",
      "от", "меня", "еще", "нет", "о", "из", "ему", "когда", "даже",
      "ну", "ли", "если", "уже", "или", "ни", "быть", "был", "была",
      "до", "вас", "вам", "ведь", "там", "потом", "себя", "может",
      "они", "тут", "где", "есть", "надо", "для", "мы", "тебя", "их",
      "чем", "без", "будет", "тогда", "кто", "этот", "того", "этого"),
    "el" -> Seq(
      "ο", "η", "το", "οι", "τα", "του", "της", "των", "τον", "την",
      "και", "να", "δεν", "μη", "μην", "ένα", "μια", "σε", "στο",
      "στη", "στην", "στον", "στα", "στις", "στους", "με", "μου",
      "σου", "από", "για", "προς", "που", "πως", "ότι", "ως", "αλλά",
      "αν", "θα", "τι", "αυτό", "αυτά", "αυτός", "αυτή", "εγώ",
      "εμείς", "μας", "σας", "τους", "τις", "πολύ", "όλα", "όλοι",
      "κάθε", "εδώ", "εκεί", "τότε", "όταν", "γιατί", "μετά", "πριν",
      "πάνω", "κάτω", "μέσα", "έξω", "είναι", "ήταν", "έχει", "είχε"),
    // late r16: Arabic and Hebrew — space-delimited scripts whose
    // letters the tokenizer now covers. Standalone function words only
    // (both languages attach the most frequent particles as prefixes —
    // Arabic و/ال, Hebrew ה/ב/ל/ו — which never tokenize separately, so
    // the lists carry the free-standing prepositions/pronouns/deictics
    // that actually surface as tokens). No case in either script.
    "ar" -> Seq(
      "في", "من", "على", "إلى", "عن", "أن", "إن", "كان", "كانت",
      "كانوا", "هذا", "هذه", "ذلك", "تلك", "التي", "الذي", "الذين",
      "ما", "لا", "لم", "لن", "قد", "كل", "بعد", "قبل", "عند",
      "عندما", "حتى", "هو", "هي", "هم", "نحن", "أنا", "أنت", "أو",
      "ثم", "بين", "غير", "كما", "إذا", "أي", "له", "لها", "لهم",
      "به", "بها", "فيه", "فيها", "منه", "منها", "إليه", "إليها",
      "معه", "مع", "بعض", "أكثر", "أيضا", "هناك", "هنا", "ليس",
      "كيف", "لماذا", "لأن"),
    "he" -> Seq(
      "של", "את", "על", "עם", "הוא", "היא", "הם", "הן", "אני",
      "אתה", "אנחנו", "זה", "זאת", "אלה", "יש", "אין", "לא", "כל",
      "גם", "רק", "או", "אם", "כי", "מה", "מי", "איך", "מתי",
      "כאשר", "אבל", "אחרי", "לפני", "בין", "עוד", "כבר", "שם",
      "פה", "כאן", "היה", "הייתה", "היו", "להיות", "יותר", "מאוד",
      "בו", "בה", "בהם", "לו", "לה", "להם", "ממנו", "ממנה", "מן",
      "אל", "עד", "בלי", "כמו", "אז", "שלו", "שלה", "שלהם", "אותו",
      "אותה", "אותם"),
    // late r17 (ADVICE r16): Korean. Agglutination caveat — the most
    // frequent particles (은/는/이/가/을/를/의/에) attach to the noun and
    // never surface as standalone tokens, so the list carries the
    // free-standing function words plus the highest-frequency INFLECTED
    // forms that do tokenize as whole eojeol (있다/있었다/하는/것을 …) —
    // the Arabic/Hebrew prefix-particle reasoning one step further. A
    // production deployment swaps in a fuller eojeol list, same as the
    // ~50-word English sizing note.
    "ko" -> Seq(
      "그리고", "그러나", "하지만", "또한", "또는", "및", "등", "수",
      "것", "것이", "것을", "것은", "때", "때문에", "더", "못", "안",
      "잘", "매우", "가장", "모든", "많은", "많이", "다른", "어떤",
      "이런", "그런", "우리", "있다", "있는", "있었다", "있습니다",
      "없다", "없는", "했다", "하는", "한다", "합니다", "하고", "할",
      "한", "된다", "되는", "된", "될", "대한", "대해", "위한", "위해",
      "통해", "따라", "경우", "같은", "같이", "함께", "이번", "지난",
      "현재", "오늘", "가운데", "서로"))

  /** The same lists restricted to their ASCII entries — the r14
    * behavior as an explicit counterfactual: under the old `[a-z]+`
    * tokenizer an accented entry could never match, so "the ASCII
    * subset" IS what the density rule effectively used. Kept so the
    * accent gate can pin, in one hash, that accented function words
    * now DECIDE survival (a page that keeps under [[StopwordsWeb]] and
    * dies under this subset is kept BY its accents).
    */
  private[graft] val StopwordsWebAscii: Map[String, Seq[String]] =
    StopwordsWeb.map { case (lg, ws) =>
      lg -> ws.filter(_.forall(_ < 0x80)) }
      // ru/el are fully non-ASCII — an empty branch would be `IN ()`
      // (invalid SQL) / isInCollection(Nil); dropping the key routes
      // them to the English fallback, which IS the r14 behavior the
      // counterfactual replays
      .filter(_._2.nonEmpty)

  /** Per-block features + the context-free jusText keep decision, as
    * `array<struct>` aligned with [[htmlToBlocks]]:
    *
    *   - `block_text`: visible text (stripped, decoded, collapsed)
    *   - `n_chars` / `n_words` / `n_stop`: exact integer counts
    *     (words = ASCII letter runs of the lowercased text — the
    *     density denominators; punctuation never dilutes density)
    *   - `link_chars` / `n_raw_chars`: visible chars inside `<a>`
    *     elements vs the block's total visible chars (uncollapsed on
    *     both sides, so the ratio is internally consistent)
    *   - `keep` = `n_chars >= minChars` AND
    *     `link_chars/n_raw_chars <= maxLinkDensity` AND
    *     `n_stop/n_words >= minStopDensity`
    *
    * All decisions are exact integer counts plus single IEEE divisions
    * compared against decimal literals — bit-reproducible cross-engine
    * (the gopherRules contract).
    */
  def htmlBlockFeatures(html: Column, minChars: Int = 70,
                        maxLinkDensity: Double = 0.2,
                        minStopDensity: Double = 0.2): Column =
    htmlBlockFeaturesImpl(html,
      (aw, _) => size(filter(aw, w => w.isInCollection(StopwordsWebEn))),
      minChars, maxLinkDensity, minStopDensity)

  /** [[htmlBlockFeatures]] with the stopword list keyed by a LANGUAGE
    * column (r14, VERDICT r13 §next-2 — multilingual jusText): `lang`
    * is a per-row language code (caller-supplied, or trained — the
    * [[LangIdNgram]] output), matched case-insensitively against
    * [[StopwordsWeb]]; unknown/NULL languages take the English list.
    * The language CASE evaluates exactly one list's membership filter
    * per row (CaseWhen branch laziness), so the cost matches the
    * monolingual form.
    */
  def htmlBlockFeaturesByLang(html: Column, lang: Column, minChars: Int = 70,
                              maxLinkDensity: Double = 0.2,
                              minStopDensity: Double = 0.2): Column =
    htmlBlockFeaturesImpl(html,
      (aw, _) => langStopCount(aw, lang, StopwordsWeb),
      minChars, maxLinkDensity, minStopDensity)

  /** [[htmlBlockFeaturesByLang]] under the ASCII-subset lists
    * ([[StopwordsWebAscii]]) — the r15 accent gate's counterfactual
    * arm, not a production path: a page kept by the full lists and
    * dropped here is kept BY its accented function words.
    */
  private[graft] def htmlBlockFeaturesByLangAscii(
      html: Column, lang: Column, minChars: Int = 70,
      maxLinkDensity: Double = 0.2, minStopDensity: Double = 0.2): Column =
    htmlBlockFeaturesImpl(html,
      (aw, _) => langStopCount(aw, lang, StopwordsWebAscii),
      minChars, maxLinkDensity, minStopDensity)

  /** n_stop for one word array under the `lang`-selected list from the
    * given map — deterministic branch order (sorted language keys),
    * English fallback. Shared by the column chain and the oracle
    * generator's contract (SparkEntry replays the same CASE).
    */
  private def langStopCount(aw: Column, lang: Column,
                            lists: Map[String, Seq[String]]): Column = {
    val branches = lists.toSeq.sortBy(_._1)
    branches.foldLeft(Option.empty[Column]) { case (acc, (lg, words)) =>
      val cnt = size(filter(aw, w => w.isInCollection(words)))
      Some(acc.fold(when(lower(lang) === lg, cnt))(
        _.when(lower(lang) === lg, cnt)))
    }.get.otherwise(size(filter(aw, w => w.isInCollection(lists("en")))))
  }

  /** [[htmlBlockFeaturesByLang]] with the SCRIPT-ROUTED keep rule (r16,
    * VERDICT r15 §next-3): a block whose CJK character count (han +
    * kana + hangul + the space-free SE-Asian scripts,
    * [[SegFreeBlocks]]) exceeds its word-letter count has no
    * whitespace-delimited function words to measure, so it takes a
    * link-density-only rule (`n_chars >= minChars` and the link-density
    * cap — the boilerplate killers that need no segmentation) instead
    * of being unconditionally destroyed by a stop density of zero.
    * Alphabetic blocks (Latin, Cyrillic, Greek, …) take the standard
    * density rule under the `lang`-keyed list, unchanged. Routing is
    * PER BLOCK, so a CJK page's English nav strip is still judged by
    * the density rule and a quoted CJK passage inside a Latin page
    * still survives. Same output struct as [[htmlBlockFeatures]].
    */
  def htmlBlockFeaturesRouted(html: Column, lang: Column, minChars: Int = 70,
                              maxLinkDensity: Double = 0.2,
                              minStopDensity: Double = 0.2): Column =
    htmlBlockFeaturesImpl(html,
      // script-decided Korean (late r17): a hangul-majority block is
      // Korean whatever the page's lang column says — score it against
      // the ko list; everything else keeps the lang-keyed list
      (aw, txt) => {
        val nHang = length(txt) -
          length(regexp_replace(txt, hangulClassJava, ""))
        val nWl = length(txt) -
          length(regexp_replace(txt, wordClassJava, ""))
        when(nHang * 2 > nWl,
          size(filter(aw, w => w.isInCollection(StopwordsWeb("ko")))))
          .otherwise(langStopCount(aw, lang, StopwordsWeb))
      },
      minChars, maxLinkDensity, minStopDensity, routed = true)

  /** The routed page rewrite: kept blocks joined with `\n` (the
    * [[extractMainContentByLang]] shape under the routed rule).
    */
  def extractMainContentRouted(html: Column, lang: Column,
                               minChars: Int = 70,
                               maxLinkDensity: Double = 0.2,
                               minStopDensity: Double = 0.2): Column =
    array_join(transform(
      filter(htmlBlockFeaturesRouted(html, lang, minChars, maxLinkDensity,
        minStopDensity), f => f.getField("keep")),
      f => f.getField("block_text")), "\n")

  private def htmlBlockFeaturesImpl(html: Column,
                                    stopCount: (Column, Column) => Column,
                                    minChars: Int,
                                    maxLinkDensity: Double,
                                    minStopDensity: Double,
                                    routed: Boolean = false): Column = {
    require(minChars >= 0, s"htmlBlockFeatures: minChars >= 0, got $minChars")
    require(maxLinkDensity >= 0 && maxLinkDensity <= 1,
      s"htmlBlockFeatures: maxLinkDensity in [0,1], got $maxLinkDensity")
    require(minStopDensity >= 0 && minStopDensity <= 1,
      s"htmlBlockFeatures: minStopDensity in [0,1], got $minStopDensity")
    // Catalyst higher-order-function lambdas evaluate INTERPRETED with
    // no subexpression elimination, so a single lambda that names
    // `text` / `rawText` / `alphaWords` once but references them from
    // several derived expressions re-runs the strip+decode chain once
    // per REFERENCE — the filterByCompressionRatio triple-eval lesson
    // (ADVICE r11) one level down, at ~10 evaluations per block in the
    // naive form. Staged transforms bind each heavy intermediate as a
    // struct field exactly once; the extra array passes are cheap
    // struct copies. Semantically identical to the single-lambda form
    // (the DuckDB oracle replays the same chain either way).
    val withRaw = transform(htmlRawSegments(html),
      b => struct(b.as("b"),
        decodeHtmlEntities(stripHtmlTags(b)).as("raw")))
    val withText = transform(withRaw, s => struct(
      s.getField("b").as("b"), s.getField("raw").as("raw"),
      trim(regexp_replace(s.getField("raw"), "\\s+", " ")).as("txt")))
    val visible = filter(withText, s => s.getField("txt") =!= "")
    val withWords = transform(visible, s => struct(
      s.getField("b").as("b"), s.getField("raw").as("raw"),
      s.getField("txt").as("txt"),
      regexp_extract_all(lower(s.getField("txt")), lit(wordClassJava + "+"),
        lit(0)).as("aw")))
    val counted = transform(withWords, s => {
      val linkChars = aggregate(
        transform(regexp_extract_all(s.getField("b"), lit(HtmlAnchorRe),
            lit(0)),
          a => length(decodeHtmlEntities(stripHtmlTags(a)))),
        lit(0), (acc, x) => acc + x)
      struct(s.getField("txt").as("block_text"),
        length(s.getField("txt")).cast("long").as("n_chars"),
        size(s.getField("aw")).cast("long").as("n_words"),
        stopCount(s.getField("aw"), s.getField("txt")).cast("long")
          .as("n_stop"),
        linkChars.cast("long").as("link_chars"),
        length(s.getField("raw")).cast("long").as("n_raw_chars"))
    })
    transform(counted, s => {
      val baseKeep = s.getField("n_chars") >= minChars &&
        s.getField("link_chars").cast("double") /
          s.getField("n_raw_chars").cast("double") <= maxLinkDensity
      val densityOk = s.getField("n_words") > 0L &&
        s.getField("n_stop").cast("double") /
          s.getField("n_words").cast("double") >= minStopDensity
      val keep =
        if (!routed) baseKeep && densityOk
        else {
          // CJK-dominant block: no cheap segmentation → density rule is
          // waived; counted over the collapsed text, both classes from
          // the shared codepoint ints so the route replays cross-engine
          val txt = s.getField("block_text")
          val nCjk = length(txt) -
            length(regexp_replace(txt, segFreeClassJava, ""))
          val nWl = length(txt) -
            length(regexp_replace(txt, wordClassJava, ""))
          baseKeep && (nCjk > nWl || densityOk)
        }
      struct(s.getField("block_text").as("block_text"),
        s.getField("n_chars").as("n_chars"),
        s.getField("n_words").as("n_words"),
        s.getField("n_stop").as("n_stop"),
        s.getField("link_chars").as("link_chars"),
        s.getField("n_raw_chars").as("n_raw_chars"), keep.as("keep"))
    })
  }

  /** The page rewrite: kept blocks' text joined with `\n` — the
    * extracted main content ('' when no block survives).
    */
  def extractMainContent(html: Column, minChars: Int = 70,
                         maxLinkDensity: Double = 0.2,
                         minStopDensity: Double = 0.2): Column =
    array_join(transform(
      filter(htmlBlockFeatures(html, minChars, maxLinkDensity,
        minStopDensity), f => f.getField("keep")),
      f => f.getField("block_text")), "\n")

  /** [[extractMainContent]] with the stopword list keyed by a language
    * column (see [[htmlBlockFeaturesByLang]]).
    */
  def extractMainContentByLang(html: Column, lang: Column, minChars: Int = 70,
                               maxLinkDensity: Double = 0.2,
                               minStopDensity: Double = 0.2): Column =
    array_join(transform(
      filter(htmlBlockFeaturesByLang(html, lang, minChars, maxLinkDensity,
        minStopDensity), f => f.getField("keep")),
      f => f.getField("block_text")), "\n")

  /** [[extractMainContent]] as the composable stage: `textCol` (raw
    * HTML in, extracted text out) is rewritten IN PLACE and pages with
    * no surviving block are DROPPED (nothing remained to curate — the
    * filterByC4 drop convention). Run FIRST in a raw-web recipe, before
    * C4Clean/Gopher (both assume extracted text). Runs the ONE-PASS
    * native ([[graft.expressions.HtmlOps]], spec-pinned equal to the
    * column form on crafted edges and random tag soup): the staged
    * regex chain is the crawl path's dominant map cost, and the HOF
    * stages evaluate interpreted.
    */
  def extractHtmlDf(df: DataFrame, textCol: String, minChars: Int = 70,
                    maxLinkDensity: Double = 0.2,
                    minStopDensity: Double = 0.2): DataFrame =
    df.withColumn(textCol,
        graft.expressions.TextHashExpressions.htmlExtractNative(
          col(textCol), minChars, maxLinkDensity, minStopDensity))
      .filter(col(textCol) =!= "")

  /** [[extractHtmlDf]] with the stopword list keyed by `langCol` (r14,
    * multilingual jusText) — same one-pass native, stop set selected
    * per row; unknown/NULL language takes the English list. `langCol`
    * typically comes from a cheap pre-pass (an HTML `lang` attribute,
    * or [[LangIdNgram]] over a first-cut extraction).
    */
  def extractHtmlDfByLang(df: DataFrame, textCol: String, langCol: String,
                          minChars: Int = 70, maxLinkDensity: Double = 0.2,
                          minStopDensity: Double = 0.2): DataFrame =
    df.withColumn(textCol,
        graft.expressions.TextHashExpressions.htmlExtractNativeLang(
          col(textCol), col(langCol), minChars, maxLinkDensity,
          minStopDensity))
      .filter(col(textCol) =!= "")

  /** [[extractHtmlDfByLang]] under the SCRIPT-ROUTED keep rule (r16) —
    * the recipe stage for a mixed-script crawl: alphabetic blocks take
    * the lang-keyed density rule, CJK-dominant blocks the link-density
    * fallback. Same one-pass native, spec-pinned equal to the column
    * form.
    */
  def extractHtmlDfRouted(df: DataFrame, textCol: String, langCol: String,
                          minChars: Int = 70, maxLinkDensity: Double = 0.2,
                          minStopDensity: Double = 0.2): DataFrame =
    df.withColumn(textCol,
        graft.expressions.TextHashExpressions.htmlExtractNativeRouted(
          col(textCol), col(langCol), minChars, maxLinkDensity,
          minStopDensity))
      .filter(col(textCol) =!= "")

  // ---------------------------------------------------------------------
  // Two-phase jusText (late r16): the published algorithm's second,
  // CONTEXT-SENSITIVE phase (Pomikálek 2011, "Removing boilerplate and
  // duplicate content from web corpora" — the jusText thesis). Phase 1
  // classifies each block context-free into good / near-good / short /
  // bad on the thesis' four-way rules (two stopword thresholds and two
  // length thresholds, not the single keep cutoff of the r14 rule);
  // phase 2 revises the undecidable classes by their NEIGHBORS — a
  // short block between good paragraphs is a headline/caption and
  // belongs to the content, the same block between boilerplate is
  // boilerplate. Revision here is the SIMULTANEOUS reading: every
  // neighbor lookup sees phase-1 classes (the reference implementation
  // revises in document order, so backward lookups see revised classes
  // — an inherently sequential rule; the simultaneous form is
  // order-free, deterministic, and replays identically in window SQL,
  // which is what makes it hash-oracle-able AND shuffle-parallel).
  //
  // Scale shape: one posexplode + windows PARTITIONED BY PAGE — a
  // single shuffle keyed by the page id, no skew risk (blocks per page
  // are bounded by page size), then an ordered group-back for the
  // extracted text. The SegFree routing applies in phase 1 (a
  // segmentation-free block of content length classifies good — no
  // density signal exists for it).
  // ---------------------------------------------------------------------

  /** Per-block two-phase classification: explodes `htmlCol` into one
    * row per visible block with the feature columns, the context-free
    * `cf_class` ∈ good|neargood|short|bad, and the context-sensitive
    * `cs_class` ∈ good|bad. Keys must identify a page; `langCol` keys
    * the stopword list ([[StopwordsWeb]], English fallback).
    *
    * Phase-1 rules (thesis defaults: lengthLow 70, lengthHigh 200,
    * stopwords low 0.30 / high 0.32, maxLinkDensity 0.2):
    *   - link density > max → bad
    *   - segmentation-free-dominant block → good at content length,
    *     else the short/bad split below (the routed-rule treatment)
    *   - length < lengthLow → short when the block has no link chars,
    *     bad otherwise
    *   - density ≥ high → good past lengthHigh, near-good under it
    *   - density ≥ low → near-good;  else → bad
    *
    * Phase-2 (simultaneous): with anchors = nearest good/bad neighbor
    * on each side (page edges count as bad) and near-neighbors =
    * nearest good/bad/near-good neighbor on each side,
    *   - near-good → good iff either anchor is good
    *   - short → good when both anchors are good, bad when both are
    *     bad, and on a mixed boundary it joins the content iff a
    *     near-neighbor on either side is near-good (the thesis' mixed
    *     rule: a near-good zone extends over the short block)
    */
  def justextBlocks(df: DataFrame, keys: Seq[String], htmlCol: String,
                    langCol: String,
                    lengthLow: Int = 70, lengthHigh: Int = 200,
                    stopLow: Double = 0.30, stopHigh: Double = 0.32,
                    maxLinkDensity: Double = 0.2): DataFrame = {
    require(lengthLow >= 0 && lengthHigh >= lengthLow,
      s"justextBlocks: need 0 <= lengthLow <= lengthHigh, got " +
        s"$lengthLow/$lengthHigh")
    require(stopLow >= 0 && stopHigh >= stopLow && stopHigh <= 1,
      s"justextBlocks: need 0 <= stopLow <= stopHigh <= 1, got " +
        s"$stopLow/$stopHigh")
    val feats = htmlBlockFeaturesByLang(col(htmlCol), col(langCol),
      minChars = lengthLow, maxLinkDensity = maxLinkDensity,
      minStopDensity = stopLow) // the struct's own keep is unused here
    val exploded = df
      .select((keys.map(col) :+ col(langCol).as("__lang")) :+
        posexplode(feats).as(Seq("block_idx", "__f")): _*)
      .select(keys.map(col) :+ col("__lang") :+
        col("block_idx").cast("long").as("block_idx") :+
        col("__f.*"): _*)
    val ld = col("link_chars").cast("double") /
      col("n_raw_chars").cast("double")
    val density = when(col("n_words") > 0L,
      col("n_stop").cast("double") / col("n_words").cast("double"))
      .otherwise(lit(0.0))
    val nCjk = length(col("block_text")) -
      length(regexp_replace(col("block_text"), segFreeClassJava, ""))
    val nWl = length(col("block_text")) -
      length(regexp_replace(col("block_text"), wordClassJava, ""))
    val shortOrBad =
      when(col("link_chars") === 0L, lit("short")).otherwise(lit("bad"))
    val cf =
      when(ld > maxLinkDensity, lit("bad"))
        .when(nCjk > nWl,
          when(col("n_chars") >= lengthLow, lit("good"))
            .otherwise(shortOrBad))
        .when(col("n_chars") < lengthLow, shortOrBad)
        .when(density >= stopHigh,
          when(col("n_chars") > lengthHigh, lit("good"))
            .otherwise(lit("neargood")))
        .when(density >= stopLow, lit("neargood"))
        .otherwise(lit("bad"))
    val classified = exploded.withColumn("cf_class", cf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("block_idx"))
    val anchor = when(col("cf_class").isin("good", "bad"), col("cf_class"))
    val near = when(col("cf_class") =!= "short", col("cf_class"))
    val prevA = coalesce(last(anchor, ignoreNulls = true)
      .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit("bad"))
    val nextA = coalesce(first(anchor, ignoreNulls = true)
      .over(w.rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)), lit("bad"))
    val prevN = coalesce(last(near, ignoreNulls = true)
      .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit("bad"))
    val nextN = coalesce(first(near, ignoreNulls = true)
      .over(w.rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)), lit("bad"))
    val cs =
      when(col("cf_class") === "good", lit("good"))
        .when(col("cf_class") === "bad", lit("bad"))
        .when(col("cf_class") === "neargood",
          when(prevA === "good" || nextA === "good", lit("good"))
            .otherwise(lit("bad")))
        .otherwise( // short
          when(prevA === "good" && nextA === "good", lit("good"))
            .when(prevA === "bad" && nextA === "bad", lit("bad"))
            .when(prevN === "neargood" || nextN === "neargood", lit("good"))
            .otherwise(lit("bad")))
    classified.withColumn("cs_class", cs).drop("__lang")
  }

  /** The smoothed page rewrite: `textCol` becomes the `\n`-joined
    * cs-good blocks; pages with nothing kept are dropped (the
    * extractHtmlDf convention). One shuffle (the per-page window) plus
    * the ordered group-back.
    */
  def extractHtmlDfSmoothed(df: DataFrame, keys: Seq[String],
                            textCol: String, langCol: String,
                            lengthLow: Int = 70, lengthHigh: Int = 200,
                            stopLow: Double = 0.30, stopHigh: Double = 0.32,
                            maxLinkDensity: Double = 0.2): DataFrame = {
    val blocks = justextBlocks(df, keys, textCol, langCol, lengthLow,
      lengthHigh, stopLow, stopHigh, maxLinkDensity)
    val kept = blocks.filter(col("cs_class") === "good")
      .groupBy(keys.map(col): _*)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("block_idx"), col("block_text")))),
        s => s.getField("block_text")), "\n").as("__content"))
    df.drop(textCol)
      .join(kept, keys)
      .withColumnRenamed("__content", textCol)
  }
}
