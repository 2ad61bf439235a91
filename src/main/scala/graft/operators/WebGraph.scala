package graft.operators

import graft.pipeline.IndexLifecycle
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web link-graph operators — the curation signals that come from page
  * STRUCTURE rather than page text: outlink extraction from raw HTML,
  * host-level link-graph construction, PageRank over it (the classic
  * graph quality prior every crawl-derived corpus weighs domains by),
  * and anchor-text aggregation (the inbound link texts of a host — the
  * retrieval-training signal anchor corpora are built from).
  *
  * All HTML handling reuses the [[TextAnalysis]] regex model verbatim
  * (same anchor/invisible patterns, same fixed-order entity decode, all
  * Java∩RE2-safe) so every chain replays in the DuckDB oracle. Link
  * extraction is a pure per-row projection + bounded posexplode —
  * map-only, shuffle-free, scan-projection-safe at 100 TB. The graph
  * stages shuffle only on host keys: |hosts| and |host-pair edges| are
  * orders of magnitude below |pages|, so everything after extraction is
  * metadata-scale relative to the corpus.
  */
object WebGraph {

  /** PageRank fixed-point scale: ranks are BIGINTs summing to ≤ 1e12
    * (probability mass ×1e12). All iteration arithmetic is integer
    * (multiply, integer divide, sum), hence aggregation-order-free and
    * bit-identical cross-engine — the float-PageRank reproducibility
    * hazard (partial-sum order changing low bits per run) designed out.
    */
  val RankScale: Long = FixedPoint.Scale

  /** Damping factor 0.85 as the exact rational 85/100 (Page et al.
    * 1999's published constant; kept rational so the update rule is one
    * integer expression).
    */
  val DampingNum = 85L

  // Named so the oracle SQL interpolates the SAME pattern strings the
  // plan compiles (the HtmlEntities generated-constants convention).
  private[graft] val HrefDoubleQuotedRe = "(?i)href\\s*=\\s*\"([^\"]*)\""
  private[graft] val HrefSingleQuotedRe = "(?i)href\\s*=\\s*'([^']*)'"

  /** The anchor's OPENING tag — href extraction scans only this span,
    * not the element's inner text (code-review r12: a page whose
    * visible text mentions `href="…"` must not mint a phantom edge).
    * Attribute-aware: quoted attribute values may legally contain `>`
    * (`href="/p?q=a>b"`), so the attribute span is an alternation of
    * quoted runs and non-`>` chars rather than a bare `[^>]*` (which
    * ended the tag inside the value and lost the href — second-pass
    * code-review r12). An UNquoted attribute value containing `>`
    * remains outside the regex model, like unquoted href generally.
    */
  private[graft] val AnchorOpenTagRe =
    "(?is)^<a(\\s(\"[^\"]*\"|'[^']*'|[^>\"'])*)?>"
  private[graft] val AbsoluteWebUrlRe = "^(?i)https?://"
  private[graft] val ProtocolRelativeRe = "^//"
  private[graft] val RootRelativeRe = "^/([^/].*)?$"
  private[graft] val UrlOriginRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
  private[graft] val UrlSchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Outlink extraction: one row per `<a>` element of each page —
    * `(keys…, link_idx, href, anchor_text)`. The href is taken from a
    * double- or single-quoted attribute (double wins when both parse —
    * fixed order, so the rule replays; unquoted `href=x` is outside the
    * regex model, documented like the other [[TextAnalysis]] HTML
    * limits) and entity-decoded (`&amp;` in query strings is the normal
    * HTML spelling of `&`); anchors with no href yield `''`. The anchor
    * text is the element's visible text under the block-text rule (tags
    * stripped, entities decoded, whitespace collapsed). Anchors inside
    * script/style/comments are dropped with the invisible pass first.
    * Per-page work is one regex scan + per-anchor bounded extracts; the
    * posexplode is bounded by the page's anchor count.
    */
  def extractLinks(pages: DataFrame, keyCols: Seq[String],
                   htmlCol: String): DataFrame = {
    require(keyCols.nonEmpty, "extractLinks: at least one key column")
    val anchors = regexp_extract_all(
      regexp_replace(col(htmlCol), TextAnalysis.HtmlInvisibleRe, ""),
      lit(TextAnalysis.HtmlAnchorRe), lit(0))
    val otag = regexp_extract(col("__a"), AnchorOpenTagRe, 0)
    val dq = regexp_extract(col("__ot"), HrefDoubleQuotedRe, 1)
    val sq = regexp_extract(col("__ot"), HrefSingleQuotedRe, 1)
    pages
      .select(keyCols.map(col) :+ posexplode(anchors).as(Seq("link_idx", "__a")): _*)
      .withColumn("__ot", otag)
      .select(keyCols.map(col) ++ Seq(
        col("link_idx").cast("int").as("link_idx"),
        TextAnalysis.decodeHtmlEntities(
          when(dq =!= "", dq).otherwise(sq)).as("href"),
        TextAnalysis.htmlBlockText(col("__a")).as("anchor_text")): _*)
  }

  /** Resolve an href against its page URL to an absolute web URL, or
    * NULL. Rules, in fixed order: absolute `http(s)://…` passes as-is;
    * protocol-relative `//host/…` takes the page's scheme;
    * root-relative `/path` takes the page's `scheme://authority`.
    * Everything else — relative paths (dot-segment resolution is
    * outside this rule set, documented), `mailto:`, `javascript:`,
    * bare fragments, empty — is NULL: not a crawlable web edge. Pure
    * codegen'd conditional chain, Java∩RE2 patterns only.
    */
  def resolveUrl(pageUrl: Column, href: Column): Column = {
    val origin = lower(regexp_extract(pageUrl, UrlOriginRe, 0))
    val scheme = lower(regexp_extract(pageUrl, UrlSchemeRe, 1))
    when(href.rlike(AbsoluteWebUrlRe), href)
      .when(href.rlike(ProtocolRelativeRe) && scheme =!= "",
        concat(scheme, lit(":"), href))
      .when(href.rlike(RootRelativeRe) && origin =!= "",
        concat(origin, href))
      .otherwise(lit(null).cast("string"))
  }

  /** Host-level link graph from resolved links: `(src_host, dst_host,
    * weight)` with hosts per [[TextAnalysis.domainOf]] (lowercased,
    * port/userinfo stripped), unresolvable rows and intra-host
    * self-loops dropped (self-citation is not a quality signal — the
    * PageRank convention). One hash agg keyed on the host pair.
    */
  def hostLinkGraph(links: DataFrame, srcUrlCol: String,
                    resolvedCol: String): DataFrame =
    links
      .select(TextAnalysis.domainOf(col(srcUrlCol)).as("src_host"),
        TextAnalysis.domainOf(col(resolvedCol)).as("dst_host"))
      .filter(col("src_host") =!= "" && col("dst_host") =!= "" &&
        col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("weight"))

  /** Weighted PageRank over `(src_host, dst_host, weight)` — exact
    * integer fixed-point at [[RankScale]]: every node starts at
    * `1e12 div n`, each iteration sends `rank · w div out_weight` along
    * each edge and updates to `(15·base + 85·(Σ inbound + dangling
    * share)) div 100`. DANGLING MASS (the rank sitting on hosts with no
    * outlinks) redistributes uniformly each iteration (r13, VERDICT r12
    * §next-4 — the standard fix for rank mass leaking out of the
    * system, Page et al. 1999 §2.7): the dangling hosts' summed rank is
    * ONE BIGINT scalar per round (an O(nodes) anti-join agg on the
    * distributed path — cheap next to the per-iteration edge shuffle),
    * and every node receives `dangling_mass div n` — integer division,
    * so the sub-n remainder is dropped per round (bounded drift ≤ n
    * units/round, documented; Σ ranks stays ≤ 1e12 and individual
    * ranks stay ≤ 1e12). That keeps the arithmetic order-free and
    * bit-identical cross-engine, and bounds the per-edge product:
    * `max(weight)` must stay ≤ `Long.MaxValue / 1e12` ≈ 9.2e6 (checked
    * loudly up front; pre-scale pathological edge weights down before
    * calling — rank is invariant under uniform per-src weight scaling
    * up to integer-division rounding).
    *
    * Size-gated like [[Dedup.duplicateGroups]]: at or below
    * `localEdgeLimit` edges the graph collects to the driver and
    * iterates as tight integer loops (iteration count × edges is all
    * fixed overhead distributed — a shuffle round per iteration); above
    * it, the distributed loop runs one edge-keyed join + one dst-keyed
    * agg per iteration with `localCheckpoint` truncating the growing
    * lineage (the connected-components precedent). Both paths compute
    * the IDENTICAL integer result (addition commutes — no
    * summation-order hazard), spec-pinned.
    *
    * Returns `(host, rank_scaled)`.
    */
  def pageRank(edges: DataFrame, iterations: Int = 10,
               localEdgeLimit: Long = 1L << 20): DataFrame =
    pageRankFrom(edges, iterations, localEdgeLimit, seed = None,
      stopTol = None)._1

  /** [[pageRank]] generalized with a WARM-START seed and an early
    * fixpoint stop (r16, VERDICT r15 §next-4: the persisted graph index
    * appends in O(batch), but every probe re-ran the full iteration
    * budget from the uniform base — at 100 TB the O(batch) append is
    * pointless if each batch triggers a full cold recompute).
    *
    *   - `seed`: optional `(host, rank_scaled)` frame — typically the
    *     PREVIOUS converged rank vector ([[pageRankWriteSnapshot]]).
    *     Hosts missing from the seed (new since the snapshot) start at
    *     the uniform base; seed hosts no longer in the graph drop out.
    *     PageRank's damped update is a contraction, so the fixpoint is
    *     seed-independent — the seed buys ITERATIONS, not a different
    *     answer (the q_web_pagerank_warm_gate pins warm == cold
    *     end-state against the unrolled DuckDB oracle).
    *   - `stopTol`: stop once an update moves NO host by more than this
    *     many fixed-point units (None = run the full budget, the
    *     oracled fixed-iteration semantics). MEASURED basis for the
    *     default 64: the truncated-integer map does not always have an
    *     exact fixed point — one spec graph goes exactly stationary at
    *     iteration ~104, while the same graph plus two edges
    *     limit-cycles ±1 unit forever — but in every observed case the
    *     residual motion collapses to single units, so any tolerance
    *     comfortably above the cycle amplitude and comfortably below
    *     meaningful rank differences (64 units = 6.4e-11 of RankScale)
    *     fires reliably. An appended batch that perturbs few hosts
    *     reconverges in a fraction of the cold budget (the MergeBench
    *     `pagerank_warm_*` rows measure it).
    *
    * Returns (ranks, iterationsRun). `pageRank` is this with no seed
    * and no early stop — bit-identical to its pre-r16 form.
    */
  val RankStopTol: Long = 64L

  def pageRankFrom(edges: DataFrame, maxIterations: Int = 10,
                   localEdgeLimit: Long = 1L << 20,
                   seed: Option[DataFrame] = None,
                   stopTol: Option[Long] = Some(RankStopTol))
      : (DataFrame, Int) = {
    val iterations = maxIterations
    require(iterations >= 1, s"pageRank: iterations must be >= 1")
    require(localEdgeLimit >= 0 && localEdgeLimit < Int.MaxValue,
      s"pageRank: localEdgeLimit out of range: $localEdgeLimit")
    val spark = edges.sparkSession
    val e = edges.select(col("src_host").cast("string").as("src"),
      col("dst_host").cast("string").as("dst"),
      col("weight").cast("long").as("w"))
    // ONE gating action: take(limit+1) both decides the path and, when
    // the gate holds, IS the collected edge list — the stats-then-
    // collect form re-ran the upstream extraction chain per action.
    // At limit+1 rows the result is discarded and the distributed path
    // re-derives its stats (paying the extra pass only when the graph
    // is genuinely large, where one scan is noise against the
    // per-iteration shuffles).
    val gate = e.take(localEdgeLimit.toInt + 1)
    def checkMaxW(maxW: Long): Unit = {
      require(maxW >= 1, s"pageRank: weights must be >= 1, got $maxW")
      require(maxW <= Long.MaxValue / RankScale,
        s"pageRank: max edge weight $maxW overflows the fixed-point bound " +
          s"(${Long.MaxValue / RankScale}); pre-scale weights down")
    }
    require(gate.nonEmpty, "pageRank: empty edge list")

    if (gate.length <= localEdgeLimit) {
      val rows = gate.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      require(rows.iterator.map(_._3).min >= 1,
        "pageRank: weights must be >= 1")
      checkMaxW(rows.iterator.map(_._3).max)
      val outW = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { case (s, _, w) => outW(s) = outW.getOrElse(s, 0L) + w }
      val hosts = (rows.map(_._1) ++ rows.map(_._2)).distinct
      val base = RankScale / hosts.length
      // warm seed: semi-join to THIS graph's hosts before collecting
      // (ADVICE r16) — the graph fit the driver gate so the RELEVANT
      // seed rows do too (≤ 2·edges), but an arbitrary caller may pass
      // a seed frame far larger than the edge gate, and collecting it
      // whole would OOM the driver for rows the loop ignores anyway
      val seedLocal: Map[String, Long] = seed.map { sd =>
        import spark.implicits._
        sd.select(col("host").cast("string").as("host"),
            col("rank_scaled").cast("long").as("rank_scaled"))
          .join(hosts.toSeq.toDF("host"), Seq("host"), "left_semi")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }.getOrElse(Map.empty)
      var rank = hosts.map(h => h -> seedLocal.getOrElse(h, base)).toMap
      var itersRun = 0
      var stationary = false
      while (itersRun < iterations && !stationary) {
        val in = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { case (s, d, w) =>
          in(d) = in.getOrElse(d, 0L) + rank(s) * w / outW(s)
        }
        val dShare = hosts.iterator.filterNot(outW.contains)
          .map(rank).sum / hosts.length
        val next = hosts.map(h =>
          h -> (15L * base +
            DampingNum * (in.getOrElse(h, 0L) + dShare)) / 100L).toMap
        itersRun += 1
        if (stopTol.exists(t =>
            hosts.iterator.map(h => math.abs(next(h) - rank(h))).max <= t))
          stationary = true
        rank = next
      }
      import spark.implicits._
      (rank.toSeq.toDF("host", "rank_scaled"), itersRun)
    } else {
      // persist the edge list and out-weights for the loop: e feeds every
      // iteration's contrib join AND (since r13) the dangling anti-join,
      // and without the pin each of those jobs re-executed e's full
      // upstream lineage (extraction chains in the composed queries) from
      // scratch — second-pass review r13. The stats guard runs over the
      // pinned frame, warming the cache.
      val eP = e.persist()
      val stats = eP.agg(min(col("w")), max(col("w"))).collect().head
      require(stats.getLong(0) >= 1, "pageRank: weights must be >= 1")
      checkMaxW(stats.getLong(1))
      val outW = eP.groupBy("src").agg(sum("w").as("ow")).persist()
      val nodes = eP.select(col("src").as("host"))
        .union(eP.select(col("dst").as("host"))).distinct()
        .persist()
      val nNodes = nodes.count()
      val base = RankScale / nNodes
      var ranks = (seed match {
        case None => nodes.withColumn("rank", lit(base))
        case Some(sd) => nodes
          .join(sd.select(col("host").cast("string").as("host"),
            col("rank_scaled").cast("long").as("__seed")), Seq("host"), "left")
          .select(col("host"), coalesce(col("__seed"), lit(base)).as("rank"))
      }).localCheckpoint()
      var itersRun = 0
      var stationary = false
      while (itersRun < iterations && !stationary) {
        // the dangling hosts' summed rank (anti-join against the outlink
        // side over the CHECKPOINTED ranks — O(nodes)) used to be a
        // driver collect per round; it folds into the update expression
        // as a broadcast one-row aggregate instead (r18, guide §1.2 —
        // one fewer action per round, bit-identical integer math: the
        // driver's `sum / nNodes` long division becomes `__dsum div
        // nNodes` on the same BIGINT sum)
        val dsum = ranks
          .join(outW.select(col("src").as("host")), Seq("host"), "left_anti")
          .agg(coalesce(sum("rank"), lit(0L)).as("__dsum"))
        val contrib = eP.join(outW, Seq("src"))
          .join(ranks.select(col("host").as("src"), col("rank")), Seq("src"))
          .select(col("dst").as("host"), expr("rank * w div ow").as("c"))
          .groupBy("host").agg(sum("c").as("in_mass"))
        val prev = ranks
        ranks = nodes.join(contrib, Seq("host"), "left")
          .crossJoin(broadcast(dsum))
          .select(col("host"),
            expr(s"(15 * ${base}L + $DampingNum * " +
              s"(coalesce(in_mass, 0L) + (__dsum div ${nNodes}L))) div 100")
              .as("rank"))
          .localCheckpoint()
        itersRun += 1
        // residual motion over two CHECKPOINTED vectors — one O(nodes)
        // join per round, no lineage recompute
        if (stopTol.exists(t => ranks
            .join(prev.select(col("host"), col("rank").as("__prev")),
              Seq("host"))
            .agg(coalesce(max(abs(col("rank") - col("__prev"))), lit(0L)))
            .head().getLong(0) <= t))
          stationary = true
      }
      nodes.unpersist()
      outW.unpersist()
      eP.unpersist()
      (ranks.select(col("host"), col("rank").as("rank_scaled")), itersRun)
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment") over the weighted host link graph —
    * the other classic link-quality signal beside [[pageRank]]: an
    * authority is linked from good hubs, a hub links to good
    * authorities. Crawl curation uses BOTH (an authority-heavy host is
    * content, a hub-heavy one is a directory/link farm candidate).
    *
    * Integer fixed-point at [[RankScale]]: each half-step renormalizes
    * with ONE integer division — `x div greatest(1, Σx div RankScale)`
    * — which keeps magnitudes at ~RankScale without the overflow-prone
    * `x · RankScale / Σx` cross multiply, so every score replays
    * bit-for-bit in the DuckDB oracle (deterministic truncation is part
    * of the pinned semantics, the pageRank convention). Authority
    * updates read the PREVIOUS hub scores; hub updates read the NEW
    * authorities (the classic ordering). Overflow is guarded loudly:
    * Σ weights must stay ≤ Long.MaxValue / (4·RankScale) (scores are
    * bounded by ~2·RankScale between renormalizations).
    *
    * Same size-gated shape as [[pageRank]]: a driver loop under
    * `localEdgeLimit` edges, above it a distributed twin (per
    * iteration: two edge-keyed joins + two host-keyed aggs + two
    * scalar collects), spec-pinned bit-identical.
    * Returns `(host, auth_scaled, hub_scaled)`.
    */
  def hits(edges: DataFrame, iterations: Int = 8,
           localEdgeLimit: Long = 1L << 20): DataFrame =
    hitsFrom(edges, iterations, localEdgeLimit, seed = None,
      stopTol = None)._1

  /** [[hits]] with a warm-start seed `(host, auth_scaled, hub_scaled)`
    * and a residual-motion stop — the [[pageRankFrom]] treatment for
    * the other rank family (VERDICT r15 §next-4), with one MEASURED
    * caveat: HITS' pinned renormalization divisor
    * `max(1, Σx div RankScale)` is a step function, so when the true
    * total sits between multiples of RankScale the integer MAGNITUDES
    * oscillate forever (maxdiff ~1e11 held steady through 500
    * iterations on both the spec graphs and the fixture link graph —
    * the direction converges, the scaling never does). A tolerance
    * below that amplitude therefore never fires: HITS probes stay
    * fixed-budget ([[hitsIndexed]]), the seed is for callers warming a
    * fixed-budget run, and there is deliberately no hitsIndexedWarm.
    * Returns (scores, iterationsRun).
    */
  def hitsFrom(edges: DataFrame, maxIterations: Int = 8,
               localEdgeLimit: Long = 1L << 20,
               seed: Option[DataFrame] = None,
               stopTol: Option[Long] = None): (DataFrame, Int) = {
    val iterations = maxIterations
    require(iterations >= 1, s"hits: iterations must be >= 1")
    require(localEdgeLimit >= 0 && localEdgeLimit < Int.MaxValue,
      s"hits: localEdgeLimit out of range: $localEdgeLimit")
    val spark = edges.sparkSession
    val e = edges.select(col("src_host").cast("string").as("src"),
      col("dst_host").cast("string").as("dst"),
      col("weight").cast("long").as("w"))
    def checkTotW(totW: Long): Unit =
      require(totW <= Long.MaxValue / RankScale / 4,
        s"hits: total edge weight $totW overflows the fixed-point bound " +
          s"(${Long.MaxValue / RankScale / 4}); pre-scale weights down")
    val gate = e.take(localEdgeLimit.toInt + 1)
    require(gate.nonEmpty, "hits: empty edge list")

    if (gate.length <= localEdgeLimit) {
      val rows = gate.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      require(rows.iterator.map(_._3).min >= 1, "hits: weights must be >= 1")
      checkTotW(rows.iterator.map(_._3).sum)
      val hosts = (rows.map(_._1) ++ rows.map(_._2)).distinct
      val base = RankScale / hosts.length
      val seedLocal: Map[String, (Long, Long)] = seed.map(_
        .select(col("host").cast("string"), col("auth_scaled").cast("long"),
          col("hub_scaled").cast("long"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap).getOrElse(Map.empty)
      var auth = hosts.map(h =>
        h -> seedLocal.get(h).map(_._1).getOrElse(base)).toMap
      var hub = hosts.map(h =>
        h -> seedLocal.get(h).map(_._2).getOrElse(base)).toMap
      var itersRun = 0
      var stationary = false
      while (itersRun < iterations && !stationary) {
        val araw = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { case (s, d, w) =>
          araw(d) = araw.getOrElse(d, 0L) + hub(s) * w
        }
        val adv = math.max(1L, araw.valuesIterator.sum / RankScale)
        val nextAuth = hosts.map(h => h -> araw.getOrElse(h, 0L) / adv).toMap
        val hraw = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { case (s, d, w) =>
          hraw(s) = hraw.getOrElse(s, 0L) + nextAuth(d) * w
        }
        val hdv = math.max(1L, hraw.valuesIterator.sum / RankScale)
        val nextHub = hosts.map(h => h -> hraw.getOrElse(h, 0L) / hdv).toMap
        itersRun += 1
        if (stopTol.exists(t => hosts.iterator.map(h =>
            math.abs(nextAuth(h) - auth(h)) max
              math.abs(nextHub(h) - hub(h))).max <= t))
          stationary = true
        auth = nextAuth; hub = nextHub
      }
      import spark.implicits._
      (hosts.map(h => (h, auth(h), hub(h)))
        .toSeq.toDF("host", "auth_scaled", "hub_scaled"), itersRun)
    } else {
      val eP = e.persist()
      val stats = eP.agg(min(col("w")), coalesce(sum(col("w")), lit(0L)))
        .collect().head
      require(stats.getLong(0) >= 1, "hits: weights must be >= 1")
      checkTotW(stats.getLong(1))
      val nodes = eP.select(col("src").as("host"))
        .union(eP.select(col("dst").as("host"))).distinct()
        .persist()
      val base = RankScale / nodes.count()
      def seeded(c: String): DataFrame = (seed match {
        case None => nodes.withColumn("score", lit(base))
        case Some(sd) => nodes
          .join(sd.select(col("host").cast("string").as("host"),
            col(c).cast("long").as("__seed")), Seq("host"), "left")
          .select(col("host"), coalesce(col("__seed"), lit(base)).as("score"))
      }).localCheckpoint()
      var auth = seeded("auth_scaled")
      var hub = if (seed.isEmpty) auth else seeded("hub_scaled")
      def halfStep(scores: DataFrame, inKey: String, outKey: String)
          : DataFrame = {
        // TWO actions per half-step instead of three (r18, guide §1.2):
        // the renormalizing divisor used to be its own collect job — it
        // folds into the score checkpoint as a broadcast one-row
        // aggregate over the CHECKPOINTED raw (bit-identical integer
        // math: Σ, div, max→greatest). The raw checkpoint stays (it is
        // read by both the divisor agg and the update join); the score
        // checkpoint stays (every later half-step/residual/output
        // reference must not re-run the node join).
        val raw = eP
          .join(scores.select(col("host").as(inKey), col("score")),
            Seq(inKey))
          .select(col(outKey).as("host"), expr("score * w").as("c"))
          .groupBy("host").agg(sum("c").as("raw"))
          .localCheckpoint()
        val dv = raw.agg(coalesce(sum("raw"), lit(0L)).as("__tot"))
          .select(greatest(lit(1L), expr(s"__tot div ${RankScale}L"))
            .as("__dv"))
        nodes.join(raw, Seq("host"), "left")
          .crossJoin(broadcast(dv))
          .select(col("host"),
            expr("coalesce(raw, 0L) div __dv").as("score"))
          .localCheckpoint()
      }
      def residual(a: DataFrame, b: DataFrame): Long = a
        .join(b.select(col("host"), col("score").as("__prev")), Seq("host"))
        .agg(coalesce(max(abs(col("score") - col("__prev"))), lit(0L)))
        .head().getLong(0)
      var itersRun = 0
      var stationary = false
      while (itersRun < iterations && !stationary) {
        val (prevAuth, prevHub) = (auth, hub)
        auth = halfStep(hub, "src", "dst")
        hub = halfStep(auth, "dst", "src")
        itersRun += 1
        if (stopTol.exists(t =>
            (residual(auth, prevAuth) max residual(hub, prevHub)) <= t))
          stationary = true
      }
      val out = auth.select(col("host"), col("score").as("auth_scaled"))
        .join(hub.select(col("host"), col("score").as("hub_scaled")),
          Seq("host"))
      nodes.unpersist()
      eP.unpersist()
      (out, itersRun)
    }
  }

  /** The common MULTI-LABEL public suffixes for [[registeredDomain]] —
    * a curated subset of the public-suffix list (publicsuffix.org, the
    * Mozilla-maintained public dataset): the second-level country
    * registries under which third-level names are the registrable unit.
    * Swap in the full PSL as a table for production; this subset plus
    * the one-label default covers the overwhelming majority of real
    * hosts.
    */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "gov.uk", "ac.uk", "me.uk", "net.uk", "sch.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "net.nz", "org.nz",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in",
    "co.za", "org.za",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk",
    "co.kr", "or.kr", "com.tw")

  /** Registered domain (eTLD+1) of a hostname — the grouping level
    * crawl budgets, mirror policies, and per-registrant caps actually
    * want (`site0.example.com` and `www.example.com` are ONE
    * registrant; apportioning per subdomain lets a host farm multiply
    * its quota). Heuristic by design, DOCUMENTED: one label above the
    * suffix, where the suffix is a [[MultiLabelSuffixes]] entry (two
    * labels) or else the last label; hosts with ≤ 2 labels (and
    * single-label hosts like `localhost`) pass through; no IP-literal
    * special-casing. The result is LOWERCASED (ADVICE r14: case-variant
    * hosts of one registrant — shop.CO.UK vs shop.co.uk — must land in
    * ONE budget/mirror group, which is this function's whole purpose).
    * Pure codegen'd string ops — map-only, and the same CASE replays
    * in the oracle from the same list. For FULL public-suffix-list
    * semantics (wildcard `*.ck`, exception `!www.ck`, private suffixes
    * like `github.io`) use [[registeredDomainPsl]].
    */
  def registeredDomain(host: Column): Column = {
    // one trailing dot strips first (an FQDN root label — legal in URLs;
    // without the strip `example.com.` split to a trailing EMPTY label
    // and returned the garbage registrant `com.`, collapsing every
    // trailing-dot host into one group; code-review r14)
    val h = lower(regexp_replace(host, "\\.$", ""))
    val parts = split(h, "\\.")
    val n = size(parts)
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val last3 = concat_ws(".", element_at(parts, -3),
      element_at(parts, -2), element_at(parts, -1))
    when(host.isNull, lit(null).cast("string"))
      .when(n <= 2, h)
      .when(last2.isInCollection(MultiLabelSuffixes), last3)
      .otherwise(last2)
  }

  // ---- full public-suffix-list evaluation (r15, VERDICT r14 §next-2) --

  /** One parsed PSL rule: `rule` is the dot-joined label pattern with
    * any `!` stripped (`www.ck` for the exception `!www.ck`; the `*`
    * label kept verbatim), `kind` ∈ normal | wildcard | exception,
    * `section` ∈ icann | private.
    */
  case class PslRule(rule: String, kind: String, section: String)

  /** Parse raw public-suffix-list lines (the publicsuffix.org file
    * format, public data): `//` comments and blank lines drop; the
    * `===BEGIN PRIVATE DOMAINS===` marker (inside a comment) flips the
    * section to `private`; `!` prefixes mark exception rules; a
    * leading `*.` label marks a wildcard rule. Rules are lowercased
    * (the PSL is case-insensitive; hosts normalize the same way).
    */
  def parsePsl(lines: Seq[String]): Seq[PslRule] = {
    var section = "icann"
    val out = Seq.newBuilder[PslRule]
    lines.foreach { raw =>
      val line = raw.trim
      if (line.startsWith("//")) {
        // section tracking is symmetric: a vendored/concatenated file
        // with ICANN rules AFTER the private block must not tag them
        // private (code-review r15) — END markers and the ICANN BEGIN
        // all reset to icann
        if (line.contains("===BEGIN PRIVATE DOMAINS==="))
          section = "private"
        else if (line.contains("===END PRIVATE DOMAINS===") ||
          line.contains("===BEGIN ICANN DOMAINS==="))
          section = "icann"
      } else if (line.nonEmpty) {
        // the spec reads a rule up to the first whitespace
        val token = line.split("\\s+")(0).toLowerCase(java.util.Locale.ROOT)
        if (token.startsWith("!"))
          out += PslRule(token.substring(1), "exception", section)
        else if (token.startsWith("*."))
          out += PslRule(token, "wildcard", section)
        else out += PslRule(token, "normal", section)
      }
    }
    out.result()
  }

  /** A verbatim SUBSET of the public suffix list (publicsuffix.org —
    * Mozilla-maintained public data), covering every rule class the
    * evaluator must handle: plain TLDs, multi-label ICANN registries,
    * a wildcard family with its exception (`*.ck` / `!www.ck`,
    * `*.kawasaki.jp` / `!city.kawasaki.jp`), and private-section
    * suffixes (`github.io`, `blogspot.com`…). Swap in the full
    * downloaded file at deployment — [[parsePsl]] reads the real
    * format unchanged.
    */
  val PslFixtureLines: Seq[String] = Seq(
    "// This Source Code Form is subject to the terms of the Mozilla " +
      "Public License, v. 2.0.",
    "// ===BEGIN ICANN DOMAINS===",
    "com", "org", "net", "io", "edu", "gov",
    "uk", "co.uk", "org.uk", "ac.uk", "gov.uk",
    "jp", "co.jp", "ne.jp", "or.jp",
    "*.kawasaki.jp", "!city.kawasaki.jp",
    "au", "com.au", "net.au", "org.au",
    "br", "com.br", "org.br",
    "*.ck", "!www.ck",
    "nz", "co.nz",
    "// ===END ICANN DOMAINS===",
    "// ===BEGIN PRIVATE DOMAINS===",
    "github.io", "blogspot.com", "herokuapp.com", "s3.amazonaws.com",
    "// ===END PRIVATE DOMAINS===")

  /** The parsed fixture rules as a DataFrame `(rule, kind, section)` —
    * the PSL-as-a-table the evaluator joins against (broadcast: the
    * full list is ~10k rows, metadata-scale by construction).
    */
  def pslRulesDf(spark: org.apache.spark.sql.SparkSession,
                 lines: Seq[String] = PslFixtureLines): DataFrame = {
    import spark.implicits._
    parsePsl(lines).map(r => (r.rule, r.kind, r.section))
      .toDF("rule", "kind", "section")
  }

  /** Registrable domain (eTLD+1) under FULL public-suffix-list
    * semantics, per the publicsuffix.org algorithm:
    *
    *   - candidate label-suffixes of the (lowercased, trailing-dot-
    *     stripped) host match rules literally, and with their leftmost
    *     label replaced by `*` for wildcard rules;
    *   - a matching EXCEPTION rule prevails over everything, its
    *     public suffix being the rule minus its leftmost label;
    *   - otherwise the LONGEST matching rule prevails;
    *   - no match ⇒ the implicit `*` rule (suffix = last label);
    *   - registrable = suffix + one label; a host that IS a public
    *     suffix (or a single label) groups as itself — total, so
    *     budget grouping never drops a host (documented deviation from
    *     the spec's "undefined").
    *
    * Scale shape: evaluates over the DISTINCT hosts of the input (the
    * metadata-scale frame), explodes each host into its ≤ |labels|
    * literal + wildcard candidates, broadcast-joins the rule table,
    * and resolves the prevailing rule with one max_by aggregation —
    * then broadcast-joins the (host → registrable) map back onto the
    * input. No window over the full corpus, no driver loop.
    *
    * `includePrivate = false` restricts matching to the ICANN section
    * (so `user.github.io` groups as `github.io`'s registrant
    * `github.io` → `user.github.io` only when private suffixes count —
    * exactly the quota-multiplication policy choice, now explicit).
    */
  def registeredDomainPsl(df: DataFrame, hostCol: String,
                          rules: DataFrame,
                          outCol: String = "reg_domain",
                          includePrivate: Boolean = true): DataFrame = {
    val hosts = df.select(col(hostCol).cast("string").as("__psl_host"))
      .filter(col("__psl_host").isNotNull).distinct()
    // NOT a forced broadcast: the host dimension is metadata-scale but
    // unbounded (1e8 hosts on a full crawl) — let AQE pick the join
    // strategy from the observed size
    val mapping = pslRegistrableMap(hosts, rules, includePrivate)
      .withColumnRenamed("__psl_host", "__psl_join_host")
      .withColumnRenamed("__psl_reg", outCol)
    df.join(mapping,
      col(hostCol).cast("string") === col("__psl_join_host"), "left")
      .drop("__psl_join_host")
  }

  /** The (host → registrable) resolution on a DISTINCT-hosts frame —
    * [[registeredDomainPsl]]'s core, exposed for callers that already
    * hold the host dimension. Returns `(__psl_host, __psl_reg)`.
    */
  private[graft] def pslRegistrableMap(hosts: DataFrame, rules: DataFrame,
                                       includePrivate: Boolean): DataFrame = {
    val ruleSet =
      if (includePrivate) rules
      else rules.filter(col("section") === "icann")
    val base = hosts.select(col("__psl_host"),
      lower(regexp_replace(col("__psl_host"), "\\.$", "")).as("__h"))
      .withColumn("__parts", split(col("__h"), "\\."))
      .withColumn("__n", size(col("__parts")))
    // candidate forms per depth d: the literal last-d-label suffix for
    // every d, plus the wildcarded form (leftmost label → *) for d ≥ 2
    val cand = base
      .select(col("__psl_host"), col("__h"), col("__parts"), col("__n"),
        explode(sequence(lit(1), col("__n"))).as("__d"))
      .withColumn("__lit",
        concat_ws(".", slice(col("__parts"), col("__n") - col("__d") + 1,
          col("__d"))))
      .withColumn("__wc",
        when(col("__d") >= 2, concat(lit("*."),
          concat_ws(".", slice(col("__parts"),
            col("__n") - col("__d") + 2, col("__d") - 1)))))
    val lits = cand.select(col("__psl_host"), col("__d"),
      col("__lit").as("__form"), lit(false).as("__is_wc_form"))
    val wcs = cand.filter(col("__wc").isNotNull)
      .select(col("__psl_host"), col("__d"),
        col("__wc").as("__form"), lit(true).as("__is_wc_form"))
    // a literal candidate matches normal/exception rules; the
    // wildcarded candidate matches wildcard rules — kind and form
    // shape agree by construction
    val matches = lits.unionByName(wcs)
      .join(broadcast(ruleSet), col("__form") === col("rule"))
      .filter((col("__is_wc_form") && col("kind") === "wildcard") ||
        (!col("__is_wc_form") && col("kind") =!= "wildcard"))
      .select(col("__psl_host"),
        (col("kind") === "exception").as("__exc"),
        when(col("kind") === "exception", col("__d") - 1)
          .otherwise(col("__d")).as("__eff"))
    // prevailing rule: exception first, then longest effective suffix
    val winners = matches.groupBy("__psl_host")
      .agg(max(struct(col("__exc"), col("__eff"))).as("__win"))
      .select(col("__psl_host"),
        col("__win").getField("__eff").as("__suffix_len"))
    base.join(winners, Seq("__psl_host"), "left")
      .withColumn("__sl", coalesce(col("__suffix_len"), lit(1)))
      .select(col("__psl_host"),
        when(col("__n") > col("__sl"),
          concat_ws(".", slice(col("__parts"), col("__n") - col("__sl"),
            col("__sl") + 1)))
          .otherwise(col("__h")).as("__psl_reg"))
  }

  /** Host-level mirror detection (r14): hosts serving largely the SAME
    * content — CDN mirrors, scraped re-hosts, www/no-www variants URL
    * canonicalization missed — the crawl-curation step between URL
    * dedup and host budgeting (fetch a mirror family once, budget it
    * once). Pages collapse to exact content fingerprints (md5 —
    * portable; feed [[TextAnalysis.fingerprint]]ed text in for
    * formatting robustness), hosts pair through SHARED fingerprints (an
    * fp-keyed self-join — never host×host), and a pair survives at
    * `shared >= minShared` with its overlap as an exact fixed-point
    * Jaccard over the hosts' FULL fingerprint sets.
    *
    * Skew guard: a fingerprint on more than `maxHostsPerFp` hosts is
    * boilerplate, not mirroring (an fp on h hosts emits C(h,2) pairs —
    * the quadratic the span-dedup minDocs cap guards), so those fps are
    * excluded from PAIRING (documented undercount: `shared` is
    * conservative; the Jaccard denominator still uses full set sizes).
    *
    * Returns (host_a, host_b, shared, n_a, n_b, jaccard_scaled) with
    * host_a < host_b.
    */
  def mirrorCandidates(docs: DataFrame, hostCol: String, textCol: String,
                       minShared: Long = 2L, maxHostsPerFp: Long = 64L,
                       jaccardScale: Long = 1000000L): DataFrame = {
    require(minShared >= 1, s"mirrorCandidates: minShared >= 1")
    require(maxHostsPerFp >= 2,
      s"mirrorCandidates: maxHostsPerFp must be >= 2, got $maxHostsPerFp")
    // distinct (host, fp) — persisted: feeds sizes, the hot-fp histogram,
    // and both sides of the pair join (operator-persist convention)
    val fps = docs.select(col(hostCol).cast("string").as("host"),
        md5(coalesce(col(textCol), lit(""))).as("fp"))
      .distinct().persist()
    val sizes = fps.groupBy("host").agg(count(lit(1)).as("n"))
    val eligibleFps = fps.groupBy("fp").agg(count(lit(1)).as("__nh"))
      .filter(col("__nh") >= 2 && col("__nh") <= maxHostsPerFp)
      .select("fp")
    val el = fps.join(eligibleFps, "fp")
    val pairs = el.select(col("fp"), col("host").as("host_a"))
      .join(el.select(col("fp"), col("host").as("host_b")), "fp")
      .filter(col("host_a") < col("host_b"))
      .groupBy("host_a", "host_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sizes.select(col("host").as("host_a"), col("n").as("n_a")),
        "host_a")
      .join(sizes.select(col("host").as("host_b"), col("n").as("n_b")),
        "host_b")
      .select(col("host_a"), col("host_b"), col("shared"),
        col("n_a"), col("n_b"),
        expr(s"($jaccardScale * shared) div (n_a + n_b - shared)")
          .as("jaccard_scaled"))
  }

  /** HITS over the persisted graph — the amortized probe form (the
    * [[pageRankIndexed]] convention).
    */
  def hitsIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  iterations: Int = 8,
                  localEdgeLimit: Long = 1L << 20): DataFrame =
    hits(readIndexEdges(spark, path), iterations, localEdgeLimit)

  /** Proportional crawl-budget apportionment (r13): split a global
    * fetch budget of `total` page-slots across hosts in proportion to a
    * non-negative integer weight (PageRank fixed-point scores — the
    * "crawl good hosts more" scheduler rule), using the largest-
    * remainder (Hamilton) method so the allocation is EXACT integers
    * that sum to `total` precisely: floor quotas `total·w div W` first,
    * then the leftover units go to the largest remainders
    * (`total·w mod W`, ties host-ascending — total order, so the
    * allocation replays bit-for-bit in the oracle). `budget` caps the
    * raw quota at `maxPerHost` (politeness/robustness: one mega-host
    * must not absorb the crawl); capping may leave surplus, which is
    * observable as `total − Σ budget` — redistribution policy is the
    * caller's (documented, not hidden).
    *
    * Scale shape: operates on the HOST-level frame (metadata-scale by
    * the link-graph contract — orders of magnitude below page count);
    * the remainder rank is a range-partitioned two-pass mint
    * (orderedDenseId — no single-partition window stage, so even an
    * O(1e8)-host frame ranks distributed). Overflow guarded loudly:
    * `total · max(w)`
    * must fit in a Long (1e12-scaled ranks leave room for budgets to
    * ~9e6 — pre-scale weights down for larger budgets).
    *
    * Returns `(keyCol, weightCol, budget_raw, budget)`.
    */
  def apportionBudget(weights: DataFrame, keyCol: String, weightCol: String,
                      total: Long, maxPerHost: Long = Long.MaxValue)
      : DataFrame = {
    require(total >= 0, s"apportionBudget: total must be >= 0, got $total")
    require(maxPerHost >= 0,
      s"apportionBudget: maxPerHost must be >= 0, got $maxPerHost")
    // scoped persist: the stats guard, the leftover collect, and the
    // returned frame are three actions over the same (possibly
    // expensive) weights lineage — the pageRank eP precedent. Leaked by
    // design within a query, the operator-persist convention.
    val w = weights.select(col(keyCol), col(weightCol).cast("long").as("__w"))
      .persist()
    val stats = w.agg(coalesce(min("__w"), lit(0L)),
      coalesce(max("__w"), lit(0L)), coalesce(sum("__w"), lit(0L)),
      sum(when(col("__w").isNull, 1L).otherwise(0L)))
      .collect().head
    require(stats.isNullAt(3) || stats.getLong(3) == 0,
      s"apportionBudget: ${if (stats.isNullAt(3)) 0 else stats.getLong(3)} " +
        "NULL/non-numeric weights — every host needs an integer weight " +
        "(second-pass review r13: NULLs slipped past the min/max guards " +
        "and surfaced as NULL budgets downstream)")
    require(stats.getLong(0) >= 0,
      s"apportionBudget: negative weight ${stats.getLong(0)}")
    require(total == 0 || stats.getLong(1) <= Long.MaxValue / math.max(total, 1L),
      s"apportionBudget: total=$total × max weight ${stats.getLong(1)} " +
        "overflows Long — pre-scale weights down")
    val bigW = stats.getLong(2)
    require(bigW > 0 || total == 0,
      "apportionBudget: all weights are zero with a nonzero budget")
    if (total == 0 || bigW == 0)
      return w.select(col(keyCol), col("__w").as(weightCol),
        lit(0L).as("budget_raw"), lit(0L).as("budget"))
    val fl = w.select(col(keyCol), col("__w"),
      expr(s"${total}L * __w div ${bigW}L").as("__fl"),
      expr(s"(${total}L * __w) % ${bigW}L").as("__rem"))
    // leftover units = total − Σ floors (< #hosts by construction); the
    // remainder rank assigns them. Minted via the two-pass
    // partition-offset form (orderedDenseId) — bit-identical to
    // row_number() over a global window, but with no single-partition
    // stage: a 100 TB crawl has O(1e8) hosts, and the window form
    // funneled them all through one task (VERDICT r13 §next-4).
    val leftover = total -
      fl.agg(sum("__fl")).collect().head.getLong(0)
    graft.functions.RowHash.orderedDenseId(fl,
        Seq(col("__rem").desc, col(keyCol).asc), "__rk")
      .select(col(keyCol), col("__w").as(weightCol),
        (col("__fl") +
          when(col("__rk") <= leftover, 1L).otherwise(0L)).as("budget_raw"))
      .withColumn("budget", least(col("budget_raw"), lit(maxPerHost)))
  }

  /** Persist a host link graph for "extract once, rank many" — the
    * bm25WriteIndex per-batch-partials story applied to the graph:
    * edge rows are ADDITIVE partial counts, so [[appendIndex]] is a
    * pure O(batch) append (a new crawl batch's host-pair counts land
    * as extra rows; no read-modify-write of existing edges) and every
    * reader sums partials per pair. The expensive side (HTML parse →
    * link extraction → resolution) runs once per batch; PageRank
    * probes then pay only the iteration cost.
    */
  def writeIndex(edges: DataFrame, path: String): Unit =
    edges.select(col("src_host"), col("dst_host"),
        col("weight").cast("long").as("weight"))
      .write.mode("overwrite").parquet(s"$path/edges")

  /** Append a batch's host-pair counts as additive partial rows.
    * `batchTag` makes the append exactly-once ([[IndexLifecycle.append]]):
    * edge weights are additive partials, so a replay would double a
    * batch's weights into every later rank.
    */
  def appendIndex(edges: DataFrame, path: String,
                  batchTag: Option[String] = None): Unit = {
    val rows = edges.select(col("src_host"), col("dst_host"),
      col("weight").cast("long").as("weight"))
    IndexLifecycle.append(path, batchTag, rows, Seq("src_host", "dst_host", "weight"),
      Seq(s"$path/edges")) { c =>
      c.append(c.frame, s"$path/edges")
    }: Unit
  }

  /** Compact the persisted graph's per-batch edge partials into one row
    * per (src_host, dst_host) — [[readIndexEdges]]' sum, materialized
    * and swapped in atomically (r14, VERDICT r13 §next-5). Probes are
    * identical before and after (integer sums commute; spec-pinned).
    * Run at a batch boundary, never concurrently with [[appendIndex]].
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): Long =
    graft.pipeline.Sinks.compactAdditive(spark, s"$path/edges",
      Seq("src_host", "dst_host"), Seq("weight"))

  /** The persisted graph with partials summed — equal to the edge list
    * [[hostLinkGraph]] computes over all indexed batches at once
    * (integer sums commute; spec-pinned). A missing index path fails
    * loudly at read.
    */
  def readIndexEdges(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    spark.read.parquet(s"$path/edges")
      .groupBy("src_host", "dst_host")
      .agg(sum("weight").as("weight"))

  /** PageRank over the persisted graph — the amortized probe form. */
  def pageRankIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String, iterations: Int = 10,
                      localEdgeLimit: Long = 1L << 20): DataFrame =
    pageRank(readIndexEdges(spark, path), iterations, localEdgeLimit)

  // ---------------------------------------------------------------------
  // Warm-started rank maintenance over the persisted graph (r16,
  // VERDICT r15 §next-4): appendIndex is O(batch), and now the RANK
  // upkeep is too — each probe seeds from the previously converged
  // vector (one slot under the index, atomically swapped) and iterates
  // only until the integer vector stops moving. A small append perturbs
  // few hosts, so reconvergence takes a few iterations, not the full
  // cold budget; the fixpoint itself is seed-independent (damping makes
  // the update a contraction), pinned by q_web_pagerank_warm_gate
  // against the cold-start unrolled oracle. SINGLE-WRITER like every
  // index-maintenance path here: run warm probes from the loop that
  // owns appends.
  // ---------------------------------------------------------------------

  /** Persist the converged rank vector as the index's warm-start seed
    * (one slot at `<path>/pr_ranks`, staged atomic swap).
    */
  def pageRankWriteSnapshot(ranks: DataFrame, path: String): Unit = {
    graft.pipeline.Sinks.overwriteViaStaging(
      ranks.select(col("host"), col("rank_scaled")), s"$path/pr_ranks")
    ()
  }

  /** Warm-started PageRank probe: seed from the stored vector when one
    * exists (cold start otherwise), run to the fixpoint tolerance (capped
    * at `maxIterations`), refresh the stored vector with the result.
    * Returns (ranks, iterationsRun) — the count is what MergeBench's
    * reconvergence rows measure.
    *
    * Budget note: EXACT integer convergence from a cold start needs
    * ~log(RankScale·Δ₀)/log(1/0.85) iterations — measured ~104 on the
    * spec graph, up to ~170 worst-case at RankScale = 1e12 — hence the
    * 400 default cap. That is the cost warm-starting EXISTS to avoid:
    * after an O(batch) append the seed's residual Δ₀ is small, so the
    * warm probe stops after the few iterations the perturbation
    * actually needs.
    */
  def pageRankIndexedWarm(spark: org.apache.spark.sql.SparkSession,
                          path: String, maxIterations: Int = 400,
                          localEdgeLimit: Long = 1L << 20)
      : (DataFrame, Int) = {
    val seed =
      if (graft.pipeline.Sinks.exists(spark, s"$path/pr_ranks"))
        Some(spark.read.parquet(s"$path/pr_ranks"))
      else None
    val (ranks, iters) = pageRankFrom(readIndexEdges(spark, path),
      maxIterations, localEdgeLimit, seed, stopTol = Some(RankStopTol))
    // pin before the snapshot swap: the write must not observe a plan
    // that reads the slot it replaces on a seeded re-probe
    val pinned = ranks.localCheckpoint(true)
    pageRankWriteSnapshot(pinned, path)
    (pinned, iters)
  }

  // There is deliberately NO hitsIndexedWarm: HITS' pinned integer
  // semantics renormalize each half-step by `x div max(1, Σx div
  // RankScale)` — a STEP-FUNCTION divisor, so when the true total sits
  // between multiples of RankScale the magnitudes oscillate forever
  // (measured: maxdiff ~1e11 holding steady through 500 iterations on
  // both the spec graphs and the fixture link graph; the direction
  // converges, the scaling never does). Any meaningful residual
  // tolerance therefore never fires for HITS, and shipping a "warm"
  // probe that always runs to its cap would be a trap. HITS probes stay
  // fixed-budget ([[hitsIndexed]]); [[hitsFrom]] still accepts a seed
  // for callers that want a warmed fixed-budget run.

  /** Anchor-text aggregation per destination host — "what the web calls
    * this site": the top-`maxAnchors` DISTINCT inbound anchor texts by
    * frequency (count desc, text asc — total, deterministic), joined
    * in that order, with the total inbound link count. The classic
    * anchor-corpus construction (retrieval training mines exactly
    * these (anchor, dst) pairs). BOUNDED by construction (code-review
    * r12: a raw `collect_list` of every inbound anchor of a popular
    * host is page-scale, not host-scale — wikipedia.org would OOM one
    * agg buffer): one (host, anchor)-keyed count, a WindowGroupLimit
    * top-k (map-side limit before the shuffle — the topKPerGroup
    * plan), then the bounded join agg. Empty anchors and
    * unresolved/self-loop edges are excluded under the same rules as
    * [[hostLinkGraph]].
    */
  def anchorTextByHost(links: DataFrame, srcUrlCol: String,
                       resolvedCol: String, anchorCol: String,
                       maxAnchors: Int = 64): DataFrame = {
    require(maxAnchors >= 1, s"anchorTextByHost: maxAnchors >= 1 required")
    val perAnchor = links
      .select(TextAnalysis.domainOf(col(srcUrlCol)).as("src_host"),
        TextAnalysis.domainOf(col(resolvedCol)).as("dst_host"),
        col(anchorCol).as("anchor_text"))
      .filter(col("src_host") =!= "" && col("dst_host") =!= "" &&
        col("src_host") =!= col("dst_host") && col("anchor_text") =!= "")
      .groupBy("dst_host", "anchor_text")
      .agg(count(lit(1)).as("__cnt"))
    val top = Aggregates.topKPerGroup(perAnchor, Seq("dst_host"),
      Seq(col("__cnt").desc, col("anchor_text").asc), maxAnchors)
    val totals = perAnchor.groupBy("dst_host")
      .agg(sum("__cnt").as("n_inbound"))
    top
      .groupBy("dst_host")
      .agg(array_join(transform(array_sort(collect_list(
          struct((lit(Long.MaxValue) - col("__cnt")).as("nk"),
            col("anchor_text").as("t")))),
          s => s.getField("t")), " | ").as("anchor_texts"))
      .join(totals, Seq("dst_host"))
      .select(col("dst_host"), col("n_inbound"), col("anchor_texts"))
  }
}
