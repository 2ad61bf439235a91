package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: tokenize + shingle-hash + k mins in ONE pass
  * per row, invoked from whole-stage codegen via `StaticInvoke` — no token
  * explode, no window, no aggregate, so the signature stage of MinHash
  * dedup shuffles NOTHING (the relational form shuffles one row per token).
  * Hash family: xxhash64 chaining over token hashes (same primitive Spark's
  * `xxhash64` uses); any 64-bit family preserves MinHash semantics.
  * Lowercasing goes through `UTF8String.toLowerCase` — byte-identical to
  * Spark's `lower()`, so the native ops tokenize exactly like the
  * relational forms on every input, ASCII or not.
  *
  * Returns null for a text with fewer than `shingleN` tokens (no complete
  * shingle — such docs cannot be near-dup candidates).
  */
object MinHashOps {
  def compute(text: UTF8String, shingleN: Int, k: Int): ArrayData = {
    val toks = text.toLowerCase.toString.split("\\s+")
    // count non-empty tokens without allocating a filtered copy
    var nTok = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) nTok += 1; i += 1 }
    if (nTok < shingleN) return null
    val th = new Array[Long](nTok)
    var j = 0
    i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        th(j) = XXH64.hashUTF8String(UTF8String.fromString(toks(i)), 42L)
        j += 1
      }
      i += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s <= nTok - shingleN) {
      var sh = 42L
      var p = 0
      while (p < shingleN) { sh = XXH64.hashLong(th(s + p), sh); p += 1 }
      var t = 0
      while (t < k) {
        val h = XXH64.hashLong(sh, t.toLong)
        if (h < mins(t)) mins(t) = h
        t += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** The md5 family of [[graft.operators.Dedup.minHashCandidatesPortable]]
    * in one pass per row: over `lowered`'s non-empty `\s+` tokens, each
    * `shingleN`-token shingle (tokens joined by " ") yields ceil(k/4)
    * digests `md5(shingle + ":" + c)`, and hash `j` is the unsigned
    * big-endian 32-bit word `j % 4` of digest `j / 4` — bit-identical to
    * the oracle's `CAST('0x'||substr(md5(..),1+8*(j%4),8) AS BIGINT)`.
    * Returns the k minima, or null with fewer than `shingleN` tokens.
    */
  def portable(lowered: UTF8String, shingleN: Int, k: Int): ArrayData = {
    val toks = lowered.toString.split("\\s+").filter(_.nonEmpty)
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (toks.length < shingleN) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val suffix = Array.tabulate((k + 3) / 4)(c =>
      s":$c".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mins = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s <= toks.length - shingleN) {
      var c = 0
      while (c < suffix.length) {
        var p = 0
        while (p < shingleN) {
          if (p > 0) md.update(' '.toByte)
          md.update(toks(s + p))
          p += 1
        }
        md.update(suffix(c))
        val d = md.digest()
        var w = 0
        while (w < 4 && 4 * c + w < k) {
          val h = ((d(4 * w) & 0xffL) << 24) | ((d(4 * w + 1) & 0xffL) << 16) |
            ((d(4 * w + 2) & 0xffL) << 8) | (d(4 * w + 3) & 0xffL)
          if (h < mins(4 * c + w)) mins(4 * c + w) = h
          w += 1
        }
        c += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Native signed feature-hashing vector (the hashing trick, Weinberger et
  * al. 2009, and fastText's input layer): unigrams + bigrams of the
  * lowercased whitespace tokens, each hashed once — bucket =
  * floorMod(h, dim), sign from an independent re-hash bit — accumulated
  * into a dense `array<int>`. The embedding-free bridge from raw text into
  * the vector stack (cosine near-dup, ANN, SemDeDup) when no model
  * embeddings exist: identical texts get IDENTICAL vectors (exact, not
  * probabilistic), near-identical texts nearly-parallel ones, and the
  * signed accumulation keeps E[v_a·v_b] proportional to the n-gram
  * overlap (collisions cancel in expectation instead of inflating). One
  * static call per row inside codegen — tokenize+hash+fold, no explode,
  * no shuffle; the integer entries compose with the repo's exact-cosine
  * machinery. Token hash is the same `XXH64(tok, 42)` primitive as
  * MinHash/SimHash; bigrams chain it (`hashLong(th(i), th(i+1) hash`)
  * under a distinct seed so unigram and bigram spaces don't alias.
  * No tokens → null (nothing to vectorize).
  */
object HashedVectorOps {
  def compute(text: UTF8String, dim: Int): ArrayData = {
    val raw = text.toLowerCase.toString.split("\\s+")
    var nTok = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) nTok += 1; i += 1 }
    if (nTok == 0) return null
    val th = new Array[Long](nTok)
    var j = 0
    i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) {
        th(j) = XXH64.hashUTF8String(UTF8String.fromString(raw(i)), 42L)
        j += 1
      }
      i += 1
    }
    val acc = new Array[Int](dim)
    def add(h: Long): Unit = {
      val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
      val sign = if (XXH64.hashLong(h, 7L) < 0L) -1 else 1
      acc(idx) += sign
    }
    i = 0
    while (i < nTok) { add(th(i)); i += 1 }
    i = 0
    while (i < nTok - 1) { add(XXH64.hashLong(th(i), XXH64.hashLong(th(i + 1), 77L))); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }
}

/** Native SimHash: tokenize + 64 bit-votes over per-token xxhash64 in one
  * pass per row. Token hash is `XXH64.hashUTF8String(tok, 42)` — the exact
  * primitive behind Spark's `xxhash64(col)` — so the values are
  * bit-identical to the relational explode + 64-conditional-sum aggregate
  * form (`Dedup.simHashSignatures` history) while shuffling nothing.
  * Returns null for a text with no tokens.
  */
object SimHashOps {
  def compute(text: UTF8String): java.lang.Long = {
    val toks = text.toLowerCase.toString.split("\\s+")
    val votes = new Array[Int](64)
    var any = false
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        any = true
        val h = XXH64.hashUTF8String(UTF8String.fromString(toks(i)), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }
}

/** Native word n-grams: tokenize + slide + join + first-occurrence dedup in
  * one static call per row — semantics identical to the relational
  * `array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(words, i+1, n))))` form of `Dedup.shingles`, which Spark executes
  * on the interpreted higher-order-function path (measured ~14 µs/doc —
  * the whole cost of the decontamination scan). Lowercasing goes through
  * `UTF8String.toLowerCase`, byte-identical to `lower()`. Fewer than `n`
  * tokens → EMPTY array (not null — a short doc has no shingles but is
  * still a row); null text → null via propagateNull.
  */
object NgramOps {

  /** Every CHARACTER n-gram for n = 1..maxN of an already-canonicalized
    * text, in one static call (the language-ID gram explode): the
    * higher-order `transform(sequence(...), substr)` form this replaces
    * evaluates its lambda INTERPRETED per element — measured ~9 s per
    * corpus pass at sf0.1 vs well under a second for this tight loop.
    * Emission order is by n then position; the consumers aggregate a
    * bag, so order is not part of the contract.
    *
    * "Character" means CODE POINT, exactly like `Column.substr` in the
    * retained HOF specification and `substring` in the DuckDB oracle —
    * iterating UTF-16 units would split surrogate pairs on astral text
    * (emoji are ubiquitous in web corpora) and desync all three. The
    * offs table maps code-point index → UTF-16 offset so each gram is
    * one O(gram) substring, not an O(n) codePointAt walk.
    */
  def charNgrams(text: UTF8String, maxN: Int): ArrayData = {
    val t = text.toString
    // code-point boundaries: offs(i) = UTF-16 offset of code point i
    val offs = new Array[Int](t.length + 1)
    var n = 0
    var u = 0
    while (u < t.length) {
      offs(n) = u
      u += Character.charCount(t.codePointAt(u))
      n += 1
    }
    offs(n) = t.length
    var total = 0
    var k = 1
    while (k <= maxN) { if (n >= k) total += n - k + 1; k += 1 }
    val out = new Array[Any](total)
    var idx = 0
    k = 1
    while (k <= maxN) {
      var i = 0
      while (i + k <= n) {
        out(idx) = UTF8String.fromString(t.substring(offs(i), offs(i + k)))
        idx += 1
        i += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Top-`k` grams in rank order as a raw array — the shared core of
    * [[charNgramTopK]] and [[LangIdOps.classify]].
    */
  private[expressions] def topGramsRanked(t: String, maxN: Int,
                                          k: Int): Array[UTF8String] = {
    val offs = new Array[Int](t.length + 1)
    var n = 0
    var u = 0
    while (u < t.length) {
      offs(n) = u
      u += Character.charCount(t.codePointAt(u))
      n += 1
    }
    offs(n) = t.length
    val counts = new java.util.HashMap[String, java.lang.Long]()
    var g = 1
    while (g <= maxN) {
      var i = 0
      while (i + g <= n) {
        counts.merge(t.substring(offs(i), offs(i + g)),
          java.lang.Long.valueOf(1L),
          (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
        i += 1
      }
      g += 1
    }
    val entries = new java.util.ArrayList[(UTF8String, Long)](counts.size())
    counts.forEach((gram, c) =>
      entries.add((UTF8String.fromString(gram), c.longValue())))
    entries.sort { (a, b) =>
      if (a._2 != b._2) java.lang.Long.compare(b._2, a._2) // count desc
      else a._1.compareTo(b._1) // UTF-8 binary asc, Spark's string order
    }
    val m = math.min(k, entries.size())
    val out = new Array[UTF8String](m)
    var i = 0
    while (i < m) { out(i) = entries.get(i)._1; i += 1 }
    out
  }

  /** The top-`k` char n-grams of an already-canonical text, IN RANK
    * ORDER (count desc, gram UTF-8-binary asc — exactly the row_number
    * ordering the relational rank profile used), as `array<string>`.
    * A document's rank profile is a PER-ROW computation — counting and
    * ranking its own grams needs no other row — so this native replaces
    * a (doc, gram) hash aggregate plus a per-doc rank window over the
    * full ~n·maxN gram stream with one static call emitting only k rows
    * per doc to the downstream explode (r11: the langid scoring plan's
    * widest shuffle shrank ~14×).
    */
  def charNgramTopK(text: UTF8String, maxN: Int, k: Int): ArrayData = {
    val ranked = topGramsRanked(text.toString, maxN, k)
    new GenericArrayData(ranked.asInstanceOf[Array[Any]])
  }

  def compute(text: UTF8String, n: Int): ArrayData = {
    val raw = text.toLowerCase.toString.split("\\s+")
    val toks = new java.util.ArrayList[String](raw.length)
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) toks.add(raw(i)); i += 1 }
    val m = toks.size
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var s = 0
    while (s <= m - n) {
      val sb = new java.lang.StringBuilder
      var p = 0
      while (p < n) { if (p > 0) sb.append(' '); sb.append(toks.get(s + p)); p += 1 }
      seen.add(sb.toString)
      s += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** Native rolling polynomial hash (Rabin-Karp, mod 1e9+7) — the one-pass
  * static form of `TextAnalysis.rollingHash`'s HOF fold, value-identical
  * by construction on EVERY input, edge cases included:
  *  - empty text: `split("", "")` yields `[""]` and `ascii("") = 0`, so
  *    the fold runs once with code 0 → (7·31 + 0) mod M;
  *  - per-element code = the CODE POINT, exactly Spark's `ascii()` on the
  *    codepoint-aware `split(text, "")` pieces (probed: é → 233,
  *    𝄞 → 119070 — NOT the first UTF-8 byte);
  *  - `pmod` (never-negative) accumulation.
  * Parity with the HOF form is spec-pinned across ASCII/multibyte/empty.
  */
object NormalizeOps {
  /** Unicode normalization for dedup/fingerprint robustness: NFD
    * decomposition, combining-mark removal (the accent strip), ROOT-locale
    * lowercase, trim + whitespace collapse — "Café  ÜBER" and "cafe uber"
    * fingerprint identically. NFD + mark-removal matches DuckDB's
    * `strip_accents` on composed text (both leave non-decomposable
    * letters like 'ø' alone), which is what the oracle replays.
    */
  def normalize(text: UTF8String): UTF8String = {
    val decomposed = java.text.Normalizer.normalize(
      text.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(decomposed.length)
    var i = 0
    while (i < decomposed.length) {
      val c = decomposed.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(
      sb.toString.toLowerCase(java.util.Locale.ROOT)
        .trim.replaceAll("\\s+", " "))
  }
}

object RollingHashOps {
  private final val M = 1000000007L
  def compute(text: UTF8String): java.lang.Long = {
    val s = text.toString
    if (s.isEmpty) return java.lang.Math.floorMod(7L * 31L, M)
    var acc = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = java.lang.Math.floorMod(acc * 31L + cp, M)
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Native token counting — the static form of `size(filter(split(text,
  * "\\s+"), _ =!= ""))` (ArrayFilter is CodegenFallback, so the HOF form
  * runs interpreted per row). Tokenization matches `TextAnalysis.words`
  * exactly: split on `\s+`, drop empties; `countIn` lowercases via
  * `UTF8String.toLowerCase` — byte-identical to Spark's `lower()`.
  */
object TokenOps {
  def count(text: UTF8String): java.lang.Integer = {
    val toks = text.toString.split("\\s+")
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) n += 1; i += 1 }
    n
  }

  /** Count tokens of `lower(text)` that belong to the comma-separated
    * `set` (small — stopword lists). */
  def countIn(text: UTF8String, set: UTF8String): java.lang.Integer = {
    val wanted = set.toString.split(",").toSet
    val toks = text.toLowerCase.toString.split("\\s+")
    var n = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty && wanted.contains(toks(i))) n += 1
      i += 1
    }
    n
  }

  private val voteSpecs = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(String, java.util.HashSet[String])]]()

  /** First-max-wins stopword vote across labeled word sets in ONE
    * tokenize pass — the native behind `TextAnalysis.langId`, whose
    * when-chain form referenced each per-language [[countIn]] up to
    * three times inside a Filter predicate (~9 text scans per row; the
    * GopherOps rationale). Spec format `label:w1,w2,...|label2:...` —
    * label ORDER is the tie-break (the chain's `en >= es && en >= fr`
    * cascade IS first-max-wins over the label sequence); "und" when
    * every count is zero. The parsed spec memoizes per JVM so the
    * per-row cost is the token scan alone.
    */
  def vote(text: UTF8String, spec: UTF8String): UTF8String = {
    val parsed = voteSpecs.computeIfAbsent(spec.toString, s =>
      s.split("\\|").map { part =>
        val i = part.indexOf(':')
        val set = new java.util.HashSet[String]()
        part.substring(i + 1).split(",").foreach(set.add)
        (part.substring(0, i), set)
      })
    val counts = new Array[Int](parsed.length)
    val toks = text.toLowerCase.toString.split("\\s+")
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        var k = 0
        while (k < parsed.length) {
          if (parsed(k)._2.contains(t)) counts(k) += 1
          k += 1
        }
      }
      i += 1
    }
    var best = -1
    var bestN = 0
    var k = 0
    while (k < counts.length) {
      if (counts(k) > bestN) { best = k; bestN = counts(k) }
      k += 1
    }
    UTF8String.fromString(if (best < 0) "und" else parsed(best)._1)
  }
}

/** BPE token counting and id-sequence encoding under a trained model (see
  * [[graft.operators.Bpe]]). The model travels as one serialized string
  * literal in LENGTH-PREFIXED framing — each symbol is written as
  * "len:chars", each merge pair as "llen,rlen:leftright" — NOT sentinel
  * separators: trainer symbols come from whitespace-split corpus words,
  * which can legally contain C0 control characters (they are not \s), so
  * the old NUL/SOH-delimited spec could mis-parse on such a corpus and
  * silently change token counts (ADVICE r9). Framing is self-delimiting:
  * no character of any symbol is ever read as structure. The parsed model
  * is memoized per JVM so the per-row cost is the encode loop alone.
  */
object BpeOps {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, MergeModel]()
  private val idCache =
    new java.util.concurrent.ConcurrentHashMap[String, IdModel]()

  /** Parsed merge list plus a left→right→rank nested lookup map (nested,
    * not a concatenated string key: symbols may contain ANY character, so
    * a joined key could alias two different pairs). The map is what keeps
    * the per-word encode cost independent of the merge-table size — see
    * [[applyMerges]].
    */
  final class MergeModel(val merges: Array[Array[String]]) {
    val rankOf = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    locally {
      var r = 0
      while (r < merges.length) {
        var inner = rankOf.get(merges(r)(0))
        if (inner == null) {
          inner = new java.util.HashMap[String, Integer]()
          rankOf.put(merges(r)(0), inner)
        }
        // first (lowest) rank wins on duplicate pairs — a pair can only
        // be trained once, so duplicates never arise from the trainer
        inner.putIfAbsent(merges(r)(1), Integer.valueOf(r))
        r += 1
      }
    }
    def rank(l: String, r: String): Int = {
      val inner = rankOf.get(l)
      if (inner == null) -1
      else {
        val v = inner.get(r)
        if (v == null) -1 else v.intValue()
      }
    }
  }

  /** Parsed encode model: base-symbol → id map plus the merge model;
    * merge rank r mints id baseCount + r at apply time. `baseSyms` keeps
    * the POSITIONAL base list (duplicates included — the map dedups
    * first-wins, so `baseIds.size` may undercount) for the decode
    * direction, which needs id → symbol.
    */
  final class IdModel(val baseSyms: Array[String],
                      val baseIds: java.util.HashMap[String, Integer],
                      val mergeModel: MergeModel) {
    val baseCount: Int = baseSyms.length
    /** id → symbol string over the whole vocabulary (base positional,
      * then merge rank r at baseCount + r) — the decode lookup table,
      * built once per cached model.
      */
    lazy val symbols: Array[String] = {
      val out = new Array[String](baseCount + mergeModel.merges.length)
      System.arraycopy(baseSyms, 0, out, 0, baseCount)
      var r = 0
      while (r < mergeModel.merges.length) {
        out(baseCount + r) =
          mergeModel.merges(r)(0) + mergeModel.merges(r)(1)
        r += 1
      }
      out
    }
  }

  private[graft] def encodeSymbol(s: String): String = s"${s.length}:$s"
  private[graft] def encodePair(l: String, r: String): String =
    s"${l.length},${r.length}:$l$r"

  /** Parse a "ll,rl:leftright" record stream starting at `from`. */
  private def parsePairs(s: String, from: Int): Array[Array[String]] = {
    val out = Array.newBuilder[Array[String]]
    var i = from
    while (i < s.length) {
      val comma = s.indexOf(',', i)
      val colon = s.indexOf(':', comma + 1)
      val ll = s.substring(i, comma).toInt
      val rl = s.substring(comma + 1, colon).toInt
      out += Array(s.substring(colon + 1, colon + 1 + ll),
        s.substring(colon + 1 + ll, colon + 1 + ll + rl))
      i = colon + 1 + ll + rl
    }
    out.result()
  }

  private def parse(spec: String): MergeModel =
    cache.computeIfAbsent(spec, s =>
      new MergeModel(if (s.isEmpty) Array.empty else parsePairs(s, 0)))

  /** Id-spec layout: `<baseCount>;<base syms as "len:sym"><merges as
    * "ll,rl:leftright">` — base ids are positional (sorted order is the
    * trainer's contract), duplicate base strings keep the first id.
    */
  private def parseIds(spec: String): IdModel =
    idCache.computeIfAbsent(spec, s => {
      val semi = s.indexOf(';')
      val nBase = s.substring(0, semi).toInt
      val baseSyms = new Array[String](nBase)
      val baseIds = new java.util.HashMap[String, Integer]()
      var i = semi + 1
      var id = 0
      while (id < nBase) {
        val colon = s.indexOf(':', i)
        val len = s.substring(i, colon).toInt
        baseSyms(id) = s.substring(colon + 1, colon + 1 + len)
        baseIds.putIfAbsent(baseSyms(id), Integer.valueOf(id))
        i = colon + 1 + len
        id += 1
      }
      new IdModel(baseSyms, baseIds, new MergeModel(parsePairs(s, i)))
    })

  /** Apply the merge list to one word's symbol array in EXACT sequential
    * rank order (leftmost-first within the word — the trainer semantics
    * of [[graft.operators.Bpe.applyMerge]]), but WITHOUT scanning the
    * full merge table per word: candidate ranks come from looking up the
    * word's adjacent pairs in the rank map, kept in a sorted set, and a
    * merge application enqueues only the NEW adjacencies it creates whose
    * rank is still ahead of the current one (a created pair with an
    * already-passed rank is skipped, exactly as the sequential scan would
    * have passed it). Pops are strictly increasing, so this is
    * operation-for-operation identical to iterating ranks 0..M — at
    * O(candidates × len) per word instead of O(M × len), the difference
    * between a 20-merge fixture vocab and a 32k-merge production one
    * (BpeSpec pins equality against the retained full-scan reference).
    *
    * Mutates `syms` (and `ids` when non-null; merged tokens get id
    * `baseCount + rank`); returns the new length.
    */
  private def applyMerges(syms: Array[String], ids: Array[Int], len0: Int,
                          m: MergeModel, baseCount: Int): Int = {
    var len = len0
    if (m.merges.isEmpty || len < 2) return len
    val cand = new java.util.TreeSet[Integer]()
    var i = 0
    while (i + 1 < len) {
      val r = m.rank(syms(i), syms(i + 1))
      if (r >= 0) cand.add(Integer.valueOf(r))
      i += 1
    }
    while (!cand.isEmpty) {
      val rank = cand.pollFirst().intValue()
      val l = m.merges(rank)(0)
      val r = m.merges(rank)(1)
      // greedy leftmost in-place compaction; a no-op pass when an earlier
      // merge already destroyed the pair (reads stay ahead of writes)
      var rd = 0
      var wr = 0
      while (rd < len) {
        if (rd + 1 < len && syms(rd) == l && syms(rd + 1) == r) {
          syms(wr) = l + r
          if (ids != null) ids(wr) = baseCount + rank
          rd += 2
        } else {
          syms(wr) = syms(rd)
          if (ids != null) ids(wr) = ids(rd)
          rd += 1
        }
        if (wr > 0) {
          val r2 = m.rank(syms(wr - 1), syms(wr))
          if (r2 > rank) cand.add(Integer.valueOf(r2))
        }
        wr += 1
      }
      len = wr
    }
    len
  }

  /** Total BPE token count of the lowercased whitespace words of `text`
    * (the [[TokenOps.countIn]] tokenization), each word encoded by
    * [[applyMerges]] — the exact trainer semantics.
    */
  def count(text: UTF8String, spec: UTF8String): java.lang.Long = {
    val model = parse(spec.toString)
    val toks = text.toLowerCase.toString.split("\\s+")
    var total = 0L
    var w = 0
    while (w < toks.length) {
      val word = toks(w)
      if (word.nonEmpty) {
        val arr = new Array[String](word.length + 1)
        var i = 0
        while (i < word.length) {
          arr(i) = String.valueOf(word.charAt(i)); i += 1
        }
        arr(word.length) = "</w>"
        total += applyMerges(arr, null, word.length + 1, model, 0)
      }
      w += 1
    }
    total
  }

  /** BPE token ID sequence of `text` under an id-spec (see [[parseIds]]):
    * the [[count]] tokenization and merge walk, but each token carries
    * its vocab id — base symbols by spec position, merge outputs by
    * `baseCount + rank` minted AT the merge step (same-string symbols
    * from different merge routes keep distinct ids). Characters outside
    * the base vocabulary emit -1 (the unknown sentinel) and, having no
    * vocab identity, can never match a merge side by construction of the
    * trainer. `size(result)` equals [[count]] for the same merges — the
    * exact identity the gate pins.
    */
  def encodeIds(text: UTF8String, spec: UTF8String): ArrayData = {
    val model = parseIds(spec.toString)
    val toks = text.toLowerCase.toString.split("\\s+")
    val out = Array.newBuilder[Int]
    var w = 0
    while (w < toks.length) {
      val word = toks(w)
      if (word.nonEmpty) {
        val syms = new Array[String](word.length + 1)
        val ids = new Array[Int](word.length + 1)
        var i = 0
        while (i < word.length) {
          syms(i) = String.valueOf(word.charAt(i))
          val bid = model.baseIds.get(syms(i))
          ids(i) = if (bid == null) -1 else bid.intValue()
          i += 1
        }
        syms(word.length) = "</w>"
        val eow = model.baseIds.get("</w>")
        ids(word.length) = if (eow == null) -1 else eow.intValue()
        val len = applyMerges(syms, ids, word.length + 1,
          model.mergeModel, model.baseCount)
        var k = 0
        while (k < len) { out += ids(k); k += 1 }
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.result())
  }

  /** Byte-level variant of [[encodeIds]] (r12): CASE-PRESERVING
    * whitespace words, each symbolized as its UTF-8 BYTES (byte value b
    * rides as the char U+00{b}), no end-of-word marker — the GPT-2 /
    * SentencePiece byte-fallback shape. Same [[applyMerges]] walk. With
    * the full 256-symbol base alphabet the unknown branch is dead code
    * (kept defensively): every byte has an id, so no input ever UNKs.
    */
  def encodeBytesIds(text: UTF8String, spec: UTF8String): ArrayData = {
    val model = parseIds(spec.toString)
    val toks = text.toString.split("\\s+")
    val out = Array.newBuilder[Int]
    var w = 0
    while (w < toks.length) {
      val word = toks(w)
      if (word.nonEmpty) {
        val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val syms = new Array[String](bytes.length)
        val ids = new Array[Int](bytes.length)
        var i = 0
        while (i < bytes.length) {
          syms(i) = String.valueOf((bytes(i) & 0xFF).toChar)
          val bid = model.baseIds.get(syms(i))
          ids(i) = if (bid == null) -1 else bid.intValue()
          i += 1
        }
        val len = applyMerges(syms, ids, bytes.length,
          model.mergeModel, model.baseCount)
        var k = 0
        while (k < len) { out += ids(k); k += 1 }
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.result())
  }

  /** Inverse of [[encodeIds]] under the SAME id-spec (shared parse
    * cache): each id maps to its vocabulary symbol; a symbol carrying
    * the terminal `</w>` marker closes the current word, so the output
    * is the whitespace-normalized word sequence the encoder consumed —
    * `decode(encode(t))` equals the lowercased words of `t` joined by
    * single spaces, exactly (the oracled roundtrip identity). The
    * unknown sentinel −1 decodes to U+FFFD: the character identity was
    * discarded at encode time and cannot be recovered (the byte-level
    * family exists precisely so this branch is unreachable). Shares the
    * documented string-level conflation caveat of
    * [[graft.operators.Bpe.BpeVocab.baseLengths]]: corpus text
    * containing the literal marker decodes as a word break.
    */
  def decodeIds(ids: ArrayData, spec: UTF8String): UTF8String = {
    val model = parseIds(spec.toString)
    val syms = model.symbols
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      val id = ids.getInt(i)
      if (id < 0 || id >= syms.length) sb.append('\uFFFD')
      else {
        val s = syms(id)
        if (s.endsWith(graft.operators.Bpe.EndOfWord)) {
          sb.append(s, 0, s.length - graft.operators.Bpe.EndOfWord.length)
          sb.append(' ')
        } else sb.append(s)
      }
      i += 1
    }
    // the last word's marker leaves one trailing space
    if (sb.length > 0 && sb.charAt(sb.length - 1) == ' ')
      sb.setLength(sb.length - 1)
    UTF8String.fromString(sb.toString)
  }

  /** Inverse of [[encodeBytesIds]]: symbols are byte-char strings, so the
    * decode reassembles the raw UTF-8 byte stream and emits it directly
    * — lossless for ANY input by construction (every byte has an id;
    * multi-byte characters split across tokens rejoin here). Byte-level
    * pre-tokenization drops the inter-word separators (no end-of-word
    * marker — the documented contract), so `decode(encode(t))` equals
    * the case-preserved words of `t` concatenated WITHOUT spaces; word
    * boundaries must ride outside the id stream if a caller needs them.
    */
  def decodeBytesIds(ids: ArrayData, spec: UTF8String): UTF8String = {
    val model = parseIds(spec.toString)
    val syms = model.symbols
    val out = new java.io.ByteArrayOutputStream
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      val id = ids.getInt(i)
      // ids are always in-vocab for a byte model (the family's point);
      // guard anyway so a foreign id stream fails visibly, not by OOB
      require(id >= 0 && id < syms.length,
        s"decodeBytesIds: id $id outside vocabulary of ${syms.length}")
      val s = syms(id)
      var k = 0
      while (k < s.length) {
        out.write(s.charAt(k).toInt & 0xFF)
        k += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }
}

/** Rolling polynomial window fingerprints and the text rebuild for
  * exact-substring dedup ([[graft.operators.Dedup.dedupSubstrings]]): ALL
  * stride-1 `k`-token window fingerprints of a document in O(tokens)
  * total — the md5-of-concatenated-window form hashes O(k) bytes PER
  * POSITION, which at the published k = 50 means hashing the corpus
  * ~50× over; Rabin–Karp prefix arithmetic makes each window O(1) after
  * one Horner pass. Fingerprint: fp(s) = Σ th[s+i]·B^(k−1−i) mod M over
  * per-token `XXH64(tok, seed)` hashes, M = 2^61 − 1 (Mersenne — exact
  * 128-bit products via `Math.multiplyHigh`, reduction by base-2^61
  * digit folding, no BigInt). One 61-bit fingerprint collides at
  * web-scale window counts, so the operator keys on TWO independent
  * (base, seed) fingerprints — 122 bits, the md5 family's
  * birthday-safety argument. Tokenization is the operator's own:
  * whitespace split, empty tokens dropped, ORIGINAL case (the rebuilt
  * text preserves case, so windows must too — unlike the lowercasing
  * MinHash natives).
  */
object SubstrRollingOps {
  private val M = (1L << 61) - 1

  /** (a·b) mod 2^61−1 for a, b in [0, M). */
  private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // p = hi·2^64 + lo in base-2^61 digits; 2^61 ≡ 1 (mod M)
    val p0 = lo & M
    val p1 = ((hi << 3) | (lo >>> 61)) & M
    val p2 = hi >>> 58
    var r = p0 + p1 + p2
    if (r >= M) r -= M
    if (r >= M) r -= M
    r
  }

  /** One fingerprint family's windows from already-reduced token hashes:
    * Horner prefixes P[j] = P[j−1]·B + th[j−1]; fp(s) = P[s+k] − P[s]·B^k.
    */
  private def roll(th: Array[Long], k: Int, base: Long): Array[Long] = {
    val nTok = th.length
    val pref = new Array[Long](nTok + 1)
    var i = 1
    while (i <= nTok) {
      pref(i) = {
        val v = mulmod(pref(i - 1), base) + th(i - 1)
        if (v >= M) v - M else v
      }
      i += 1
    }
    var bk = 1L
    i = 0
    while (i < k) { bk = mulmod(bk, base); i += 1 }
    val out = new Array[Long](nTok - k + 1)
    var s = 0
    while (s <= nTok - k) {
      val v = pref(s + k) - mulmod(pref(s), bk)
      out(s) = if (v < 0) v + M else v
      s += 1
    }
    out
  }

  /** BOTH independent fingerprints per window in one pass — one
    * tokenize, two seed hashes per token, two Horner rolls — as
    * `array<struct<f1,f2>>` (the operator's 122-bit group key without
    * tokenizing the corpus twice; code-review r11).
    */
  def windowFingerprintPairs(text: UTF8String, k: Int, base1: Long,
                             seed1: Long, base2: Long,
                             seed2: Long): ArrayData = {
    val toks = text.toString.split("\\s+")
    var nTok = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) nTok += 1; i += 1 }
    if (nTok < k) return new GenericArrayData(new Array[Any](0))
    val th1 = new Array[Long](nTok)
    val th2 = new Array[Long](nTok)
    var j = 0
    i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        val u = UTF8String.fromString(toks(i))
        var a = XXH64.hashUTF8String(u, seed1) & M
        if (a == M) a = 0
        var b = XXH64.hashUTF8String(u, seed2) & M
        if (b == M) b = 0
        th1(j) = a
        th2(j) = b
        j += 1
      }
      i += 1
    }
    val f1 = roll(th1, k, base1)
    val f2 = roll(th2, k, base2)
    val out = new Array[Any](f1.length)
    i = 0
    while (i < f1.length) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(f1(i), f2(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ExactSubstr's rebuild: drop every token covered by a marked window
    * `[s, s + k)` (`starts` in any order, null = none) and join the rest
    * by " ", as `(text_clean, n_tokens_kept, n_tokens_removed)`. Same
    * tokenization as [[windowFingerprintPairs]]; a NULL text is empty.
    * Coverage is a difference array over positions, O(tokens + starts).
    */
  def rebuild(text: UTF8String, starts: ArrayData,
              k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks =
      if (text == null) Array.empty[String]
      else text.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val depth = new Array[Int](n + 1)
    if (starts != null) {
      var i = 0
      while (i < starts.numElements()) {
        val s = starts.getLong(i)
        if (s >= 0 && s < n) {
          depth(s.toInt) += 1
          depth(math.min(s + k, n.toLong).toInt) -= 1
        }
        i += 1
      }
    }
    val sb = new java.lang.StringBuilder
    var kept = 0L
    var cover = 0
    var p = 0
    while (p < n) {
      cover += depth(p)
      if (cover == 0) {
        if (kept > 0) sb.append(' ')
        sb.append(toks(p))
        kept += 1
      }
      p += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(sb.toString), kept, n - kept)
  }
}

/** Whole-document Cavnar–Trenkle out-of-place classification as ONE
  * static call per row ([[graft.operators.LangIdNgram.classify]]): the
  * model is per-language METADATA (≤ maxLabels × topK rows), so it
  * rides into codegen as a memoized serialized literal and scoring
  * needs no grid join, no model join, no doc-keyed aggregate and no
  * argmin window — the entire former four-stage shuffle chain is one
  * map pass. Semantics replicate the relational form exactly: the doc's
  * top-`k` gram profile (count desc, gram UTF-8-binary asc), per-label
  * distance Σ |docRank − modelRank| with a `k` penalty for misses, and
  * argmin with LABEL-ASCENDING ties (labels are iterated in sorted
  * order with a strict comparison). A doc with no grams returns a null
  * row — the caller's `und` sentinel.
  *
  * Spec framing, the length-prefixed house rule: per model row
  * `<lblLen>:<label><gramLen>:<gram><rank digits>;` — rank digits run
  * to the `;` terminator, so labels and grams may contain ANY character.
  */
object LangIdOps {
  final class Model(val labels: Array[String],
                    val rankOf: Array[java.util.HashMap[String, Integer]],
                    val k: Int)

  // BOUNDED memo (code-review r11): an application retraining profiles
  // per batch would otherwise grow an executor-lifetime map of
  // megabyte-scale spec keys without eviction. Models are cheap to
  // re-parse, so the cache simply resets when it exceeds the cap.
  private val MaxCached = 32
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  private[graft] def encodeRow(label: String, gram: String,
                               rank: Int): String =
    s"${label.length}:$label${gram.length}:$gram$rank;"

  private def parse(spec: String): Model = {
    if (cache.size > MaxCached) cache.clear()
    cache.computeIfAbsent(spec, s => {
      val byLabel =
        new java.util.TreeMap[String, java.util.HashMap[String, Integer]]()
      var maxRank = 1
      var i = 0
      while (i < s.length) {
        val c1 = s.indexOf(':', i)
        val ll = s.substring(i, c1).toInt
        val label = s.substring(c1 + 1, c1 + 1 + ll)
        val gs = c1 + 1 + ll
        val c2 = s.indexOf(':', gs)
        val gl = s.substring(gs, c2).toInt
        val gram = s.substring(c2 + 1, c2 + 1 + gl)
        val semi = s.indexOf(';', c2 + 1 + gl)
        val rank = s.substring(c2 + 1 + gl, semi).toInt
        if (rank > maxRank) maxRank = rank
        // Fail-loud on duplicate (label, gram) model rows (ADVICE r11):
        // put() kept only the LAST rank while the retained executable
        // spec (classifyRelational) sums one distance term per matching
        // row — a malformed or hand-built model diverged silently
        // between the native and the spec form. Malformed models fail
        // here, matching the operator's fail-loud convention.
        val prev = byLabel.computeIfAbsent(label,
          _ => new java.util.HashMap[String, Integer]())
          .put(gram, Integer.valueOf(rank))
        if (prev != null) throw new IllegalArgumentException(
          s"LangIdOps: duplicate model row for (label=$label, gram=$gram): " +
            s"ranks $prev and $rank — a rank profile must list each gram once")
        i = semi + 1
      }
      // TreeMap iteration is key-ascending on java String — for the
      // ASCII label alphabet this matches UTF-8 binary order; the
      // operator guards non-ASCII labels loudly (compareTo on UTF-16
      // units diverges from binary order only past the BMP).
      val labels = new Array[String](byLabel.size())
      val maps =
        new Array[java.util.HashMap[String, Integer]](byLabel.size())
      var j = 0
      byLabel.forEach { (l, m) => labels(j) = l; maps(j) = m; j += 1 }
      new Model(labels, maps, maxRank)
    })
  }

  /** (pred_label, oop_dist) for one canonical text, or null when the
    * text yields no grams.
    */
  def classify(canonText: UTF8String, spec: UTF8String,
               maxN: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val m = parse(spec.toString)
    val profile = NgramOps.topGramsRanked(canonText.toString, maxN, m.k)
    if (profile.isEmpty) return null
    // gram strings hoisted OUT of the label loop (code-review r11: the
    // per-label toString re-converted every profile gram |labels| times)
    val grams = new Array[String](profile.length)
    var gi = 0
    while (gi < profile.length) { grams(gi) = profile(gi).toString; gi += 1 }
    var bestLabel: String = null
    var bestDist = Long.MaxValue
    var li = 0
    while (li < m.labels.length) {
      val ranks = m.rankOf(li)
      var dist = 0L
      var dr = 0
      while (dr < grams.length) {
        val mr = ranks.get(grams(dr))
        dist += (if (mr == null) m.k.toLong
                 else math.abs((dr + 1).toLong - mr.longValue()))
        dr += 1
      }
      if (dist < bestDist) { bestDist = dist; bestLabel = m.labels(li) }
      li += 1 // labels ascend, strict < keeps the first = label-asc ties
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(bestLabel), bestDist)
  }
}

/** Deflate compression ratio of a document — the classic cheap
  * repetition/noise signal web-curation stacks threshold on (highly
  * compressible ⇒ looping boilerplate; incompressible ⇒ binary junk or
  * noise): `deflate(bytes).length / bytes.length` at a fixed level with
  * raw (headerless) streams. One static call per row; the Deflater is
  * thread-local and reset per call (native zlib handles are expensive
  * to allocate, and executor task threads are pooled). Deterministic
  * for a given JDK; NOT replayable in DuckDB — consumers are rows-only
  * with a measured gate, the repetitionStats convention.
  */
object CompressOps {
  private val deflaters =
    ThreadLocal.withInitial[java.util.zip.Deflater](() =>
      new java.util.zip.Deflater(6, true))
  private val bufs =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))

  /** Ratio in (0, ~1.05]; null for an empty text (no bytes to judge). */
  def ratio(text: UTF8String): java.lang.Double = {
    val bytes = text.getBytes
    if (bytes.length == 0) return null
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = bufs.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    java.lang.Double.valueOf(total.toDouble / bytes.length)
  }

  /** True when [[ratio]] lands in `[minRatio, maxRatio]`; false for an
    * empty text (null ratio — no bytes is no evidence of natural text).
    * Exists so a band FILTER costs exactly one deflate pass per row:
    * the three-conjunct form (isNotNull AND >= AND <=) is split into
    * separate predicates by FilterExec without subexpression
    * elimination, running the costliest native in this file up to 3×
    * per row (ADVICE r11), and a projected-column rewrite gets undone
    * by PushPredicateThroughNonJoin substituting the deterministic
    * expression back through the Project.
    */
  def ratioInBand(text: UTF8String, minRatio: Double,
                  maxRatio: Double): Boolean = {
    val r = ratio(text)
    r != null && r.doubleValue() >= minRatio && r.doubleValue() <= maxRatio
  }
}

/** Native one-pass Gopher §A1.1 document counting + page predicate
  * (Rae et al. 2021 — the rule set `TextAnalysis.gopherRules` defines
  * as named columns). The COLUMN form stays the executable, oracled
  * specification; this static exists for the FILTER path: a rule-set
  * conjunction in a Filter is split into per-rule conjuncts by
  * FilterExec with no subexpression elimination, and the HOF subtrees
  * (`filter`/`transform`/`aggregate` over the word and line arrays) are
  * additionally excluded from codegen subexpression elimination because
  * their lambdas contain `LambdaVariable`s — so the column-form filter
  * re-split the text ~8× per row (BENCH_NOTES_r12; the
  * compressionInBand precedent, ADVICE r11). Here: one word pass + one
  * symbol pass + one line pass per document, one static call per row.
  * Tokenization, trimming, and lowercasing mirror the column form
  * operation-for-operation (split `\s+` drop empties; trim = ASCII
  * 0x20 only, the UTF8String.trim contract; `UTF8String.toLowerCase`
  * for stopword membership); parity is spec-pinned on crafted edges
  * AND random corpora (TextAnalysisSpec).
  */
object GopherOps {
  private val Stops: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  private def trimSpaces(l: String): String = {
    var a = 0
    var b = l.length
    while (a < b && l.charAt(a) == ' ') a += 1
    while (b > a && l.charAt(b - 1) == ' ') b -= 1
    l.substring(a, b)
  }

  /** [n_words, char_sum, n_sym, n_lines, n_bullet, n_ellipsis, n_alpha,
    * n_stop_distinct] — the exact integers every rule thresholds.
    */
  private def rawCounts(text: UTF8String): Array[Long] = {
    val s = text.toString
    val out = new Array[Long](8)
    val toks = s.split("\\s+")
    var stopMask = 0
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      if (w.nonEmpty) {
        out(0) += 1
        out(1) += w.codePointCount(0, w.length)
        var j = 0
        var alpha = false
        while (j < w.length && !alpha) {
          val c = w.charAt(j)
          alpha = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
          j += 1
        }
        if (alpha) out(6) += 1
        val lw = UTF8String.fromString(w).toLowerCase.toString
        var k = 0
        while (k < Stops.length) {
          if (Stops(k) == lw) stopMask |= 1 << k
          k += 1
        }
      }
      i += 1
    }
    out(7) = java.lang.Integer.bitCount(stopMask).toLong
    var p = 0
    while (p < s.length) {
      val c = s.charAt(p)
      if (c == '#' || c == '…') out(2) += 1
      p += 1
    }
    val lines = s.split("\n", -1)
    i = 0
    while (i < lines.length) {
      val l = lines(i)
      if (l.nonEmpty) {
        out(3) += 1
        val t = trimSpaces(l)
        if (t.startsWith("•") || t.startsWith("- ") ||
          t.startsWith("* ")) out(4) += 1
        if (t.endsWith("...") || t.endsWith("…")) out(5) += 1
      }
      i += 1
    }
    out
  }

  def counts(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(rawCounts(text))

  /** The full conjunction as ONE call — thresholds mirror
    * `TextAnalysis.gopherRules` (spec-pinned equal, so a threshold edit
    * there fails loudly here).
    */
  def pass(text: UTF8String): Boolean = {
    val c = rawCounts(text)
    val nW = c(0)
    val nL = c(3)
    nW >= 50 && nW <= 100000 &&
      c(1).toDouble / nW.toDouble >= 3.0 &&
      c(1).toDouble / nW.toDouble <= 10.0 &&
      c(2).toDouble / nW.toDouble <= 0.1 &&
      (nL == 0 || c(4).toDouble / nL.toDouble < 0.9) &&
      (nL == 0 || c(5).toDouble / nL.toDouble <= 0.3) &&
      c(6).toDouble / nW.toDouble >= 0.8 &&
      c(7) >= 2
  }
}

/** Native C4 line-level cleaning (Raffel et al. 2020 §2.2 — the rule
  * set `TextAnalysis.c4Rules` defines as named columns): the
  * line-cleaned page text when every page rule passes, NULL when the
  * page drops — page predicate and rewrite in ONE static call per row,
  * replacing an interpreted per-line HOF chain evaluated once in the
  * filter and again in the rewrite. Line membership mirrors
  * `c4LineKept` operation-for-operation (non-blank after space-trim,
  * terminal punctuation, >= 5 whitespace words, no 'javascript'
  * case-folded); kept lines re-join UNTRIMMED in original order, the
  * `c4CleanedText` contract. Parity spec-pinned (TextAnalysisSpec).
  */
object C4Ops {
  private def trimSpaces(l: String): String = {
    var a = 0
    var b = l.length
    while (a < b && l.charAt(a) == ' ') a += 1
    while (b > a && l.charAt(b - 1) == ' ') b -= 1
    l.substring(a, b)
  }

  private def wordCount(t: String): Int = {
    val toks = t.split("\\s+")
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) n += 1; i += 1 }
    n
  }

  def clean(text: UTF8String): UTF8String = {
    if (text.toLowerCase.toString.contains("lorem ipsum")) return null
    val s = text.toString
    if (s.indexOf('{') >= 0) return null
    val lines = s.split("\n", -1)
    val sb = new java.lang.StringBuilder
    var kept = 0
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      val t = trimSpaces(l)
      if (t.nonEmpty) {
        val terminal = t.endsWith(".") || t.endsWith("!") ||
          t.endsWith("?") || t.endsWith("\"")
        if (terminal && wordCount(t) >= 5 &&
          !UTF8String.fromString(t).toLowerCase.toString
            .contains("javascript")) {
          if (kept > 0) sb.append('\n')
          sb.append(l)
          kept += 1
        }
      }
      i += 1
    }
    if (kept < 3) return null
    UTF8String.fromString(sb.toString)
  }
}

/** Native one-pass HTML main-content extraction — the hot loop of the
  * crawl path (`TextAnalysis.extractHtmlDf`, the FIRST stage of every
  * raw-web recipe). The COLUMN form (`extractMainContent`, five staged
  * regex transforms) stays the oracled executable specification; this
  * static replicates it operation-for-operation as hand-rolled scans —
  * the staged HOF chain still runs interpreted with multiple regex
  * passes per block, and on the crawl path the extraction dominates
  * the map work. Every scanning rule below is derived from the exact
  * Java-regex semantics of the column form's patterns (leftmost match,
  * `[^>]*` bounded by the FIRST `>`, shortest `.*?` close-tag match,
  * unmatched opens left in place, `\s` = the ASCII regex class) and
  * parity is spec-pinned on crafted edges AND ScalaCheck random tag
  * soup (TextAnalysisSpec).
  */
object HtmlOps {
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  private def isAsciiAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9')

  /** The block-boundary tag set, expanded from the SAME alternation
    * string the column form's regex is built from (`h[1-6]` → h1..h6),
    * so the two cannot drift; any other bracket form fails loudly.
    */
  private val BlockTags: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    graft.operators.TextAnalysis.HtmlBlockTagNames.split("\\|").foreach {
      case "h[1-6]" => (1 to 6).foreach(i => set.add(s"h$i"))
      case n if n.forall(c => (c >= 'a' && c <= 'z') ||
          (c >= '0' && c <= '9')) => set.add(n)
      case n =>
        // ANY regex syntax beyond a literal lowercase-alnum name would
        // silently diverge this set from the column form's alternation
        // (code-review r12) — fail at class-init, not at parse time
        throw new IllegalStateException(
          s"HtmlOps: unhandled tag alternation form '$n'")
    }
    set
  }

  private val Stops: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    graft.operators.TextAnalysis.StopwordsWebEn.foreach(set.add)
    set
  }

  /** Per-language stop sets, built from the SAME map the column form
    * keys on ([[graft.operators.TextAnalysis.StopwordsWeb]]) so the two
    * cannot drift; unknown/NULL language falls back to English exactly
    * like the column CASE's otherwise branch.
    */
  private val StopsByLang: java.util.HashMap[String, java.util.HashSet[String]] = {
    val m = new java.util.HashMap[String, java.util.HashSet[String]]()
    graft.operators.TextAnalysis.StopwordsWeb.foreach { case (lg, words) =>
      val set = new java.util.HashSet[String]()
      words.foreach(set.add)
      m.put(lg, set)
    }
    m
  }

  /** The Korean set, resolved once — the routed rule's script-decided
    * branch consults it per hangul-majority block (late r17).
    */
  private val KoStops: java.util.HashSet[String] = StopsByLang.get("ko")

  private val Entities: Array[(String, String)] =
    graft.operators.TextAnalysis.HtmlEntities.toArray

  /** Word-letter membership generated from the SAME codepoint ranges
    * the column form's character class is built from
    * ([[graft.operators.TextAnalysis.WordLetterBlocks]]) — the
    * BlockTags shared-data convention, so the two tokenizers cannot
    * drift. Replaces the r14 ASCII a-z check (VERDICT r14 §wrong-1).
    */
  private val WordLetter: Array[Boolean] = {
    val max = graft.operators.TextAnalysis.WordLetterBlocks
      .map(_._2).max + 1
    val a = new Array[Boolean](max)
    graft.operators.TextAnalysis.WordLetterBlocks.foreach {
      case (lo, hi) => (lo to hi).foreach(i => a(i) = true)
    }
    a
  }

  @inline private def isWordLetter(c: Char): Boolean =
    c < WordLetter.length && WordLetter(c)

  /** Segmentation-free-script membership from the same shared ints
    * ([[graft.operators.TextAnalysis.SegFreeBlocks]] — CJK plus the
    * space-free Southeast-Asian scripts) — the routed keep rule's
    * script test (r16).
    */
  private val SegFreeLetter: Array[Boolean] = {
    val max = graft.operators.TextAnalysis.SegFreeBlocks.map(_._2).max + 1
    val a = new Array[Boolean](max)
    graft.operators.TextAnalysis.SegFreeBlocks.foreach {
      case (lo, hi) => (lo to hi).foreach(i => a(i) = true)
    }
    a
  }

  @inline private def isSegFree(c: Char): Boolean =
    c < SegFreeLetter.length && SegFreeLetter(c)

  /** Hangul membership from the same shared ints
    * ([[graft.operators.TextAnalysis.HangulBlocks]]) — the routed keep
    * rule's script-decided Korean test (late r17). One contiguous range,
    * so a direct bounds check beats a table.
    */
  @inline private def isHangul(c: Char): Boolean = {
    val (lo, hi) = HangulRange
    c >= lo && c <= hi
  }

  private val HangulRange: (Char, Char) = {
    val blocks = graft.operators.TextAnalysis.HangulBlocks
    require(blocks.length == 1, "HangulBlocks is one contiguous range")
    (blocks.head._1.toChar, blocks.head._2.toChar)
  }

  private def indexOfIgnoreCase(s: String, target: String,
                                from: Int): Int = {
    val n = target.length
    var i = math.max(from, 0)
    val last = s.length - n
    while (i <= last) {
      if (s.regionMatches(true, i, target, 0, n)) return i
      i += 1
    }
    -1
  }

  /** End index (exclusive) of a tag head `(\s[^>]*)?>` starting at `p`
    * (just past the tag name), or -1 when the head cannot close.
    */
  private def headEnd(s: String, p: Int): Int = {
    if (p >= s.length) return -1
    val c = s.charAt(p)
    if (c == '>') p + 1
    else if (isRegexSpace(c)) {
      val g = s.indexOf('>', p + 1)
      if (g < 0) -1 else g + 1
    } else -1
  }

  /** Like [[headEnd]] but also admitting the boundary regex's trailing
    * slash-close forms (a `/>` directly after the name).
    */
  private def boundaryHeadEnd(s: String, p: Int): Int = {
    if (p >= s.length) return -1
    val c = s.charAt(p)
    if (c == '/' && p + 1 < s.length && s.charAt(p + 1) == '>') p + 2
    else headEnd(s, p)
  }

  /** `HtmlInvisibleRe` as a scan: drop script/style/noscript elements
    * (open head must close, the literal close tag must exist — else the
    * regex leaves the text in place) and comments.
    */
  private def stripInvisible(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      var consumed = false
      if (c == '<') {
        var name: String = null
        if (s.regionMatches(true, i + 1, "script", 0, 6)) name = "script"
        else if (s.regionMatches(true, i + 1, "style", 0, 5)) name = "style"
        else if (s.regionMatches(true, i + 1, "noscript", 0, 8))
          name = "noscript"
        if (name != null) {
          val he = headEnd(s, i + 1 + name.length)
          if (he > 0) {
            val close = indexOfIgnoreCase(s, s"</$name>", he)
            if (close >= 0) { i = close + name.length + 3; consumed = true }
          }
        } else if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val close = s.indexOf("-->", i + 4)
          if (close >= 0) { i = close + 3; consumed = true }
        }
      }
      if (!consumed) { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `<[^>]*>` removal: every `<` with a later `>` drops with its span
    * (bounded by the FIRST `>`); a `<` with no `>` anywhere after it
    * keeps the rest verbatim — the regex's no-match tail.
    */
  private def stripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        val g = s.indexOf('>', i)
        if (g < 0) { sb.append(s, i, n); i = n }
        else i = g + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def decodeEntities(s: String): String = {
    var out = s
    var k = 0
    while (k < Entities.length) {
      out = out.replace(Entities(k)._1, Entities(k)._2)
      k += 1
    }
    out
  }

  /** `trim(regexp_replace(raw, "\s+", " "))` — ASCII regex \s class. */
  private def collapseTrim(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isRegexSpace(c)) pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Visible chars inside `<a(\s[^>]*)?>.*?</a>` matches of the raw
    * block — non-overlapping, shortest close, scan continuing after
    * each match (the `regexp_extract_all` contract).
    */
  private def linkChars(b: String): Long = {
    var total = 0L
    var i = 0
    val n = b.length
    while (i < n) {
      if (b.charAt(i) == '<' && i + 1 < n &&
        (b.charAt(i + 1) == 'a' || b.charAt(i + 1) == 'A')) {
        val he = headEnd(b, i + 2)
        if (he > 0) {
          val close = indexOfIgnoreCase(b, "</a>", he)
          if (close >= 0) {
            val visible = decodeEntities(stripTags(b.substring(i, close + 4)))
            total += visible.codePointCount(0, visible.length)
            i = close + 4
          } else i += 1
        } else i += 1
      } else i += 1
    }
    total
  }

  /** The full column-form pipeline in one native call: extracted main
    * content ('' when no block survives — directly filterable).
    */
  def extractMainContent(text: UTF8String, minChars: Int,
                         maxLinkDensity: Double,
                         minStopDensity: Double): UTF8String =
    extractWith(text, Stops, minChars, maxLinkDensity, minStopDensity)

  /** Language-keyed form (r14): stop set selected per row from
    * [[StopsByLang]]; unknown language falls back to English. Callers
    * coalesce a NULL lang to 'en' at the column layer (StaticInvoke's
    * propagateNull would otherwise null the whole result where the
    * column form's CASE falls through to English).
    */
  def extractMainContentLang(text: UTF8String, lang: UTF8String,
                             minChars: Int, maxLinkDensity: Double,
                             minStopDensity: Double): UTF8String = {
    val set =
      if (lang == null) Stops
      else {
        val s = StopsByLang.get(lang.toLowerCase.toString)
        if (s == null) Stops else s
      }
    extractWith(text, set, minChars, maxLinkDensity, minStopDensity)
  }

  /** Script-routed form (r16, VERDICT r15 §next-3): CJK-dominant blocks
    * take the link-density-only fallback (see the column form
    * [[graft.operators.TextAnalysis.htmlBlockFeaturesRouted]], pinned
    * equal in the parity spec); others take the lang-keyed density
    * rule.
    */
  def extractMainContentRouted(text: UTF8String, lang: UTF8String,
                               minChars: Int, maxLinkDensity: Double,
                               minStopDensity: Double): UTF8String = {
    val set =
      if (lang == null) Stops
      else {
        val s = StopsByLang.get(lang.toLowerCase.toString)
        if (s == null) Stops else s
      }
    extractWith(text, set, minChars, maxLinkDensity, minStopDensity,
      cjkRoute = true)
  }

  private def extractWith(text: UTF8String,
                          stops: java.util.HashSet[String], minChars: Int,
                          maxLinkDensity: Double,
                          minStopDensity: Double,
                          cjkRoute: Boolean = false): UTF8String = {
    val noInv = stripInvisible(text.toString)
    val out = new java.lang.StringBuilder
    val cur = new java.lang.StringBuilder
    var kept = 0

    def flushBlock(): Unit = {
      if (cur.length > 0) {
        val b = cur.toString
        cur.setLength(0)
        val raw = decodeEntities(stripTags(b))
        val txt = collapseTrim(raw)
        if (txt.nonEmpty) {
          val nChars = txt.codePointCount(0, txt.length).toLong
          val nRaw = raw.codePointCount(0, raw.length).toLong
          val link = linkChars(b)
          val lowered = UTF8String.fromString(txt).toLowerCase.toString
          def countStops(set: java.util.HashSet[String]): (Long, Long) = {
            var nW = 0L
            var nS = 0L
            var p = 0
            val m = lowered.length
            while (p < m) {
              if (isWordLetter(lowered.charAt(p))) {
                val st = p
                while (p < m && isWordLetter(lowered.charAt(p))) p += 1
                nW += 1
                if (set.contains(lowered.substring(st, p))) nS += 1
              } else p += 1
            }
            (nW, nS)
          }
          val (nWords, nStop) = countStops(stops)
          val baseKeep = nChars >= minChars &&
            link.toDouble / nRaw.toDouble <= maxLinkDensity
          val densityOk = nWords > 0L &&
            nStop.toDouble / nWords.toDouble >= minStopDensity
          val keep =
            if (!cjkRoute) baseKeep && densityOk
            else {
              // route on the COLLAPSED text like the column form: CJK
              // chars vs word-letter chars, both tables from shared ints
              var nCjk = 0L; var nWl = 0L; var nHang = 0L; var q = 0
              val tl = txt.length
              while (q < tl) {
                val ch = txt.charAt(q)
                if (isSegFree(ch)) nCjk += 1
                else if (isWordLetter(ch)) {
                  nWl += 1
                  if (isHangul(ch)) nHang += 1
                }
                q += 1
              }
              // script-decided Korean (late r17): a hangul-majority
              // block scores against the ko list whatever `lang` says
              val density2 =
                if (nHang * 2 > nWl) {
                  val (nW2, nS2) = countStops(KoStops)
                  nW2 > 0L && nS2.toDouble / nW2.toDouble >= minStopDensity
                } else densityOk
              baseKeep && (nCjk > nWl || density2)
            }
          if (keep) {
            if (kept > 0) out.append('\n')
            out.append(txt)
            kept += 1
          }
        }
      }
    }

    var i = 0
    val n = noInv.length
    while (i < n) {
      val c = noInv.charAt(i)
      if (c == '\n') { flushBlock(); i += 1 }
      else if (c == '<') {
        var p = i + 1
        if (p < n && noInv.charAt(p) == '/') p += 1
        val t0 = p
        while (p < n && isAsciiAlnum(noInv.charAt(p))) p += 1
        var end = -1
        if (p > t0 && BlockTags.contains(
          noInv.substring(t0, p).toLowerCase(java.util.Locale.ROOT)))
          end = boundaryHeadEnd(noInv, p)
        if (end > 0) { flushBlock(); i = end }
        else { cur.append(c); i += 1 }
      } else { cur.append(c); i += 1 }
    }
    flushBlock()
    UTF8String.fromString(out.toString)
  }
}

/** GZIP member codec — the decompression in front of
  * [[graft.operators.Warc]]: real `.warc.gz` files are per-record gzip
  * MEMBERS concatenated into one stream, and `GZIPInputStream` reads
  * concatenated members natively, so ONE call turns a crawl file's
  * bytes into the concatenated WARC text the parser splits. A corrupt
  * stream returns NULL rather than killing the job (the try_cast
  * degrade-to-null convention — at 100 TB a single damaged member must
  * be countable, not fatal); the compress side exists for fixtures and
  * the round-trip gate. Thread-local buffers, the [[CompressOps]]
  * pattern. JDK-side, so consumers are rows-only with an exact
  * round-trip gate.
  */
object GzipOps {
  private val bufs =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))

  /** UTF-8 text of ALL gzip members in `bytes`; null on corrupt input
    * or on empty input (no members is not a gzip stream).
    */
  def gunzipText(bytes: Array[Byte]): UTF8String = {
    if (bytes == null || bytes.length == 0) return null
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      // initial-capacity hint only — clamped so a near-GiB chunk cannot
      // overflow the int multiply into a throwing negative capacity
      // (code-review r12; the contract is degrade-to-null, never fatal)
      val out = new java.io.ByteArrayOutputStream(
        math.min(bytes.length.toLong * 4L, 1L << 26).toInt)
      val buf = bufs.get()
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
      UTF8String.fromBytes(out.toByteArray)
    } catch {
      case _: java.io.IOException => null
    }
  }

  /** One gzip member holding `text`'s UTF-8 bytes (fixture / gate side;
    * members concatenate with plain `concat` on binary).
    */
  def gzipMember(text: UTF8String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(text.getBytes)
    gz.close()
    out.toByteArray
  }
}

object TextHashExpressions {
  /** `array<bigint>` of k MinHash values for `text`, or null below
    * `shingleN` tokens. One static call per row inside codegen.
    */
  /** `array<string>` of distinct word n-grams (see [[NgramOps]]). */
  def wordNgrams(text: Column, n: Int): Column =
    GraftBridge.column(StaticInvoke(
      NgramOps.getClass,
      ArrayType(StringType, containsNull = false),
      "compute",
      Seq(GraftBridge.expression(text), Literal(n)),
      inputTypes = Seq(StringType, IntegerType),
      propagateNull = true,
      returnNullable = true))

  /** Whole-document out-of-place classification against a serialized
    * rank-profile model (see [[LangIdOps.classify]]): returns
    * `struct<pred_label:string, oop_dist:bigint>`, null when the text
    * yields no grams.
    */
  def langIdClassify(canonText: Column, modelRows: Seq[(String, String, Int)],
                     maxN: Int): Column = {
    val sb = new StringBuilder
    modelRows.foreach { case (l, g, r) =>
      sb.append(LangIdOps.encodeRow(l, g, r))
    }
    GraftBridge.column(StaticInvoke(
      LangIdOps.getClass,
      StructType(Seq(
        StructField("pred_label", StringType, nullable = false),
        StructField("oop_dist", LongType, nullable = false))),
      "classify",
      Seq(GraftBridge.expression(canonText),
        Literal(UTF8String.fromString(sb.toString), StringType),
        Literal(maxN)),
      inputTypes = Seq(StringType, StringType, IntegerType),
      propagateNull = true,
      returnNullable = true))
  }

  /** Top-`k` char n-grams of an already-canonical text in rank order
    * (see [[NgramOps.charNgramTopK]]).
    */
  def charNgramTopK(text: Column, maxN: Int, k: Int): Column =
    GraftBridge.column(StaticInvoke(
      NgramOps.getClass,
      ArrayType(StringType, containsNull = false),
      "charNgramTopK",
      Seq(GraftBridge.expression(text), Literal(maxN), Literal(k)),
      inputTypes = Seq(StringType, IntegerType, IntegerType),
      propagateNull = true,
      returnNullable = true))

  /** Character n-grams for n = 1..maxN of an already-canonical text (see
    * [[NgramOps.charNgrams]]).
    */
  def charNgrams(text: Column, maxN: Int): Column =
    GraftBridge.column(StaticInvoke(
      NgramOps.getClass,
      ArrayType(StringType, containsNull = false),
      "charNgrams",
      Seq(GraftBridge.expression(text), Literal(maxN)),
      inputTypes = Seq(StringType, IntegerType),
      propagateNull = true,
      returnNullable = true))

  /** Deflate compression ratio of `text` (see [[CompressOps]]); null
    * for empty text.
    */
  def compressionRatio(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      CompressOps.getClass,
      DoubleType,
      "ratio",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** Single-deflate band predicate (see [[CompressOps.ratioInBand]]);
    * false (not null) for empty text, so it is directly filterable.
    */
  def compressionInBand(text: Column, minRatio: Double,
                        maxRatio: Double): Column =
    GraftBridge.column(StaticInvoke(
      CompressOps.getClass,
      BooleanType,
      "ratioInBand",
      Seq(GraftBridge.expression(text), Literal(minRatio), Literal(maxRatio)),
      inputTypes = Seq(StringType, DoubleType, DoubleType),
      propagateNull = true,
      // propagateNull makes a null text yield null (row dropped by the
      // filter — the intended semantics), so the result IS nullable.
      returnNullable = true))

  /** One-pass HTML main-content extraction (see [[HtmlOps]]); '' when
    * no block survives, null text propagates.
    */
  def htmlExtractNative(text: Column, minChars: Int, maxLinkDensity: Double,
                        minStopDensity: Double): Column =
    GraftBridge.column(StaticInvoke(
      HtmlOps.getClass,
      StringType,
      "extractMainContent",
      Seq(GraftBridge.expression(text), Literal(minChars),
        Literal(maxLinkDensity), Literal(minStopDensity)),
      inputTypes = Seq(StringType, IntegerType, DoubleType, DoubleType),
      propagateNull = true,
      returnNullable = true))

  /** Language-keyed one-pass extraction (see
    * [[HtmlOps.extractMainContentLang]]). The lang child is coalesced
    * to 'en' HERE: propagateNull covers every child, and a NULL
    * language must select the English fallback (the column CASE's
    * otherwise), not null out the page.
    */
  def htmlExtractNativeLang(text: Column, lang: Column, minChars: Int,
                            maxLinkDensity: Double,
                            minStopDensity: Double): Column =
    GraftBridge.column(StaticInvoke(
      HtmlOps.getClass,
      StringType,
      "extractMainContentLang",
      Seq(GraftBridge.expression(text),
        GraftBridge.expression(
          org.apache.spark.sql.functions.coalesce(lang,
            org.apache.spark.sql.functions.lit("en"))),
        Literal(minChars), Literal(maxLinkDensity), Literal(minStopDensity)),
      inputTypes = Seq(StringType, StringType, IntegerType, DoubleType,
        DoubleType),
      propagateNull = true,
      returnNullable = true))

  /** Script-routed one-pass extraction (see
    * [[HtmlOps.extractMainContentRouted]]); the lang child coalesces to
    * 'en' like [[htmlExtractNativeLang]].
    */
  def htmlExtractNativeRouted(text: Column, lang: Column, minChars: Int,
                              maxLinkDensity: Double,
                              minStopDensity: Double): Column =
    GraftBridge.column(StaticInvoke(
      HtmlOps.getClass,
      StringType,
      "extractMainContentRouted",
      Seq(GraftBridge.expression(text),
        GraftBridge.expression(
          org.apache.spark.sql.functions.coalesce(lang,
            org.apache.spark.sql.functions.lit("en"))),
        Literal(minChars), Literal(maxLinkDensity), Literal(minStopDensity)),
      inputTypes = Seq(StringType, StringType, IntegerType, DoubleType,
        DoubleType),
      propagateNull = true,
      returnNullable = true))

  /** The eight Gopher rule counts in one pass (see [[GopherOps]]). */
  def gopherCounts(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      GopherOps.getClass,
      ArrayType(LongType, containsNull = false),
      "counts",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** The full Gopher page predicate as ONE static call (see
    * [[GopherOps.pass]]); null text yields null (row dropped by a
    * filter — the column-form conjunction's own null semantics).
    */
  def gopherPass(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      GopherOps.getClass,
      BooleanType,
      "pass",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** C4 page predicate + line rewrite in one call (see [[C4Ops]]):
    * cleaned text, or null when the page drops.
    */
  def c4Clean(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      C4Ops.getClass,
      StringType,
      "clean",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** Concatenated-member gunzip to UTF-8 text (see [[GzipOps]]); null
    * on corrupt or empty input.
    */
  def gunzipText(bytes: Column): Column =
    GraftBridge.column(StaticInvoke(
      GzipOps.getClass,
      StringType,
      "gunzipText",
      Seq(GraftBridge.expression(bytes)),
      inputTypes = Seq(BinaryType),
      propagateNull = true,
      returnNullable = true))

  /** One gzip member of `text` (see [[GzipOps.gzipMember]]) — the
    * fixture/round-trip side.
    */
  def gzipMember(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      GzipOps.getClass,
      BinaryType,
      "gzipMember",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = false))

  /** Both rolling window fingerprints per position in one pass, as
    * `array<struct<f1,f2>>` (see [[SubstrRollingOps.windowFingerprintPairs]]).
    */
  def rollingWindowFingerprintPairs(text: Column, k: Int,
                                    base1: Long, seed1: Long,
                                    base2: Long, seed2: Long): Column =
    GraftBridge.column(StaticInvoke(
      SubstrRollingOps.getClass,
      ArrayType(StructType(Seq(
        StructField("f1", LongType, nullable = false),
        StructField("f2", LongType, nullable = false))),
        containsNull = false),
      "windowFingerprintPairs",
      Seq(GraftBridge.expression(text), Literal(k), Literal(base1),
        Literal(seed1), Literal(base2), Literal(seed2)),
      inputTypes = Seq(StringType, IntegerType, LongType, LongType,
        LongType, LongType),
      propagateNull = true,
      returnNullable = true))

  /** ExactSubstr rebuild as `struct<text_clean, n_tokens_kept,
    * n_tokens_removed>` (see [[SubstrRollingOps.rebuild]]); NULL text or
    * starts pass through as empty.
    */
  def substrRebuild(text: Column, starts: Column, k: Int): Column =
    GraftBridge.column(StaticInvoke(
      SubstrRollingOps.getClass,
      StructType(Seq(
        StructField("text_clean", StringType, nullable = false),
        StructField("n_tokens_kept", LongType, nullable = false),
        StructField("n_tokens_removed", LongType, nullable = false))),
      "rebuild",
      Seq(GraftBridge.expression(text), GraftBridge.expression(starts),
        Literal(k)),
      inputTypes = Seq(StringType, ArrayType(LongType), IntegerType),
      propagateNull = false,
      returnNullable = false))

  /** The portable md5 MinHash signature (see [[MinHashOps.portable]]);
    * lowercasing stays Spark's own `lower`, so tokens match the
    * relational form on every input.
    */
  def minHashSignaturePortable(text: Column, shingleN: Int, k: Int): Column =
    GraftBridge.column(StaticInvoke(
      MinHashOps.getClass,
      ArrayType(LongType, containsNull = false),
      "portable",
      Seq(GraftBridge.expression(org.apache.spark.sql.functions.lower(text)),
        Literal(shingleN), Literal(k)),
      inputTypes = Seq(StringType, IntegerType, IntegerType),
      propagateNull = true,
      returnNullable = true))

  def minHashSignature(text: Column, shingleN: Int, k: Int): Column =
    GraftBridge.column(StaticInvoke(
      MinHashOps.getClass,
      ArrayType(LongType, containsNull = false),
      "compute",
      Seq(GraftBridge.expression(text), Literal(shingleN), Literal(k)),
      inputTypes = Seq(StringType, IntegerType, IntegerType),
      propagateNull = true,
      returnNullable = true))

  /** Dense `array<int>` signed feature-hashing vector (see
    * [[HashedVectorOps]]); null when the text has no tokens.
    */
  def hashedTextVector(text: Column, dim: Int): Column = {
    require(dim > 0 && dim <= (1 << 16),
      s"hashedTextVector: dim must be in [1, 65536], got $dim — the dense " +
        "per-row array is materialized per document")
    GraftBridge.column(StaticInvoke(
      HashedVectorOps.getClass,
      ArrayType(IntegerType, containsNull = false),
      "compute",
      Seq(GraftBridge.expression(text), Literal(dim)),
      inputTypes = Seq(StringType, IntegerType),
      propagateNull = true,
      returnNullable = true))
  }

  /** 64-bit SimHash of `text`, or null when the text has no tokens. */
  def simHash(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      SimHashOps.getClass,
      LongType,
      "compute",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** Rolling polynomial hash (see [[RollingHashOps]]). */
  def rollingHash(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      RollingHashOps.getClass,
      LongType,
      "compute",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** Unicode dedup normalization (see [[NormalizeOps]]). */
  def normalizeText(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      NormalizeOps.getClass,
      StringType,
      "normalize",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** Whitespace token count (see [[TokenOps]]). */
  def tokenCount(text: Column): Column =
    GraftBridge.column(StaticInvoke(
      TokenOps.getClass,
      IntegerType,
      "count",
      Seq(GraftBridge.expression(text)),
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = true))

  /** One-pass first-max-wins stopword vote (see [[TokenOps.vote]]);
    * `spec` is `label:w1,w2|label2:...` with label order as tie-break.
    */
  def langVote(text: Column, spec: String): Column =
    GraftBridge.column(StaticInvoke(
      TokenOps.getClass,
      StringType,
      "vote",
      Seq(GraftBridge.expression(text),
        Literal(UTF8String.fromString(spec), StringType)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true,
      returnNullable = true))

  /** Lowercased-token membership count against a comma-separated set. */
  def tokenCountIn(text: Column, csvSet: String): Column =
    GraftBridge.column(StaticInvoke(
      TokenOps.getClass,
      IntegerType,
      "countIn",
      Seq(GraftBridge.expression(text), Literal(UTF8String.fromString(csvSet), StringType)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true,
      returnNullable = true))

  /** BPE token count under a rank-ordered merge list (see [[BpeOps]]). */
  def bpeTokenCount(text: Column, merges: Array[Array[String]]): Column = {
    val spec = merges.map(p => BpeOps.encodePair(p(0), p(1))).mkString
    GraftBridge.column(StaticInvoke(
      BpeOps.getClass,
      LongType,
      "count",
      Seq(GraftBridge.expression(text), Literal(UTF8String.fromString(spec), StringType)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true,
      returnNullable = true))
  }

  /** BPE token id sequence (`array<int>`) under a trained vocabulary:
    * base symbols in id order plus rank-ordered merges (see
    * [[BpeOps.encodeIds]]).
    */
  def bpeEncodeIds(text: Column, baseSymbols: Array[String],
                   merges: Array[Array[String]]): Column = {
    val spec = bpeIdSpec(baseSymbols, merges)
    GraftBridge.column(StaticInvoke(
      BpeOps.getClass,
      ArrayType(IntegerType, containsNull = false),
      "encodeIds",
      Seq(GraftBridge.expression(text), Literal(UTF8String.fromString(spec), StringType)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true,
      returnNullable = true))
  }

  /** Byte-level BPE id sequence (`array<int>`, r12): the 256-symbol byte
    * base plus rank-ordered merges (see [[BpeOps.encodeBytesIds]]).
    */
  def byteBpeEncodeIds(text: Column, baseSymbols: Array[String],
                       merges: Array[Array[String]]): Column = {
    val spec = bpeIdSpec(baseSymbols, merges)
    GraftBridge.column(StaticInvoke(
      BpeOps.getClass,
      ArrayType(IntegerType, containsNull = false),
      "encodeBytesIds",
      Seq(GraftBridge.expression(text), Literal(UTF8String.fromString(spec), StringType)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true,
      returnNullable = true))
  }

  private def bpeIdSpec(baseSymbols: Array[String],
                        merges: Array[Array[String]]): String =
    baseSymbols.length.toString + ";" +
      baseSymbols.map(BpeOps.encodeSymbol).mkString +
      merges.map(p => BpeOps.encodePair(p(0), p(1))).mkString

  /** Decode a char-level BPE id sequence back to its normalized word
    * text (see [[BpeOps.decodeIds]]); same id-spec literal as the
    * encoder, so the parsed model is shared through the memo cache.
    */
  def bpeDecodeIds(ids: Column, baseSymbols: Array[String],
                   merges: Array[Array[String]]): Column =
    GraftBridge.column(StaticInvoke(
      BpeOps.getClass,
      StringType,
      "decodeIds",
      Seq(GraftBridge.expression(ids),
        Literal(UTF8String.fromString(bpeIdSpec(baseSymbols, merges)),
          StringType)),
      inputTypes = Seq(ArrayType(IntegerType, containsNull = false),
        StringType),
      propagateNull = true,
      returnNullable = true))

  /** Decode a byte-level BPE id sequence back to its UTF-8 text (see
    * [[BpeOps.decodeBytesIds]]).
    */
  def byteBpeDecodeIds(ids: Column, baseSymbols: Array[String],
                       merges: Array[Array[String]]): Column =
    GraftBridge.column(StaticInvoke(
      BpeOps.getClass,
      StringType,
      "decodeBytesIds",
      Seq(GraftBridge.expression(ids),
        Literal(UTF8String.fromString(bpeIdSpec(baseSymbols, merges)),
          StringType)),
      inputTypes = Seq(ArrayType(IntegerType, containsNull = false),
        StringType),
      propagateNull = true,
      returnNullable = true))

  /** Clipped n-gram overlap counts for minN..maxN in ONE pass over both
    * texts (see [[OverlapOps.overlaps]]) — the shared kernel of ROUGE-N
    * and BLEU. Returns `array<bigint>` of length 3·(maxN−minN+1) laid
    * out `[match_minN, cand_minN, ref_minN, match_minN+1, …]`. ROUGE-N
    * passes minN = maxN = n so the lower orders are never computed
    * (code-review r12: the 1..n form paid the full unigram hash-count
    * pass per row and discarded it); BLEU needs all of 1..maxN.
    */
  def ngramOverlaps(cand: Column, ref: Column, minN: Int,
                    maxN: Int): Column = {
    require(minN >= 1 && maxN >= minN,
      s"ngramOverlaps: need 1 <= minN <= maxN, got [$minN, $maxN]")
    GraftBridge.column(StaticInvoke(
      OverlapOps.getClass,
      ArrayType(LongType, containsNull = false),
      "overlaps",
      Seq(GraftBridge.expression(cand), GraftBridge.expression(ref),
        Literal(minN, IntegerType), Literal(maxN, IntegerType)),
      inputTypes = Seq(StringType, StringType, IntegerType, IntegerType),
      propagateNull = true,
      returnNullable = true))
  }
}

/** Clipped n-gram overlap — the counting kernel every n-gram generation
  * metric reduces to (ROUGE-N precision/recall, BLEU's modified n-gram
  * precision): per n, `match_n = Σ_g min(count_cand(g), count_ref(g))`
  * over lowercased whitespace tokens (the BM25/Dedup tokenization).
  * One tokenize pass per text, then per n one hash-count of the
  * reference grams and one clipped walk of the candidate grams —
  * O(maxN · tokens) per row, no explode, no shuffle: the relational
  * form shuffles one row per (pair, gram).
  */
object OverlapOps {
  def overlaps(cand: UTF8String, ref: UTF8String,
               minN: Int, maxN: Int): ArrayData = {
    def toks(s: UTF8String): Array[String] =
      s.toLowerCase.toString.split("\\s+").filter(_.nonEmpty)
    val c = toks(cand)
    val r = toks(ref)
    val out = new Array[Long](3 * (maxN - minN + 1))
    var n = minN
    while (n <= maxN) {
      val nc = math.max(c.length - n + 1, 0)
      val nr = math.max(r.length - n + 1, 0)
      val refCnt = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < nr) {
        val g = gram(r, i, n)
        refCnt.merge(g, 1, (a, b) => a + b)
        i += 1
      }
      var m = 0L
      i = 0
      while (i < nc) {
        val g = gram(c, i, n)
        val left = refCnt.get(g)
        if (left != null && left > 0) {
          m += 1
          refCnt.put(g, left - 1)
        }
        i += 1
      }
      out(3 * (n - minN)) = m
      out(3 * (n - minN) + 1) = nc
      out(3 * (n - minN) + 2) = nr
      n += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** N tokens from `i`, space-joined — the separator the `\s+` split
    * guarantees no token can contain (a NUL separator, by contrast,
    * WOULD collide: `\s+` does not strip embedded U+0000), and the one
    * the DuckDB oracle's `array_to_string(..., ' ')` replays exactly.
    */
  private def gram(t: Array[String], i: Int, n: Int): String = {
    if (n == 1) t(i)
    else {
      val sb = new java.lang.StringBuilder(t(i))
      var j = 1
      while (j < n) { sb.append(' ').append(t(i + j)); j += 1 }
      sb.toString
    }
  }
}
