package graft.operators

import graft.pipeline.IndexLifecycle
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic near-duplicate removal by cluster sharding (Abbas
  * et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540): cluster the embeddings with
  * k-means, compare pairwise ONLY within a cluster, and drop all but one
  * member of each semantic-duplicate group. The reference engine has no
  * embedding surface (SURVEY §2 extension family).
  *
  * Complements [[Dedup.dedupCorpusByEmbedding]]: the LSH path prunes by
  * RANDOM projections (recall tuned by bands — data-independent), SemDeDup
  * prunes by the corpus's OWN cluster structure (the published trade:
  * semantic duplicates concentrate inside cells, so within-cell all-pairs
  * is tractable where corpus-wide all-pairs is not, and the cell count is
  * the scale knob — the paper grows k with the corpus so cells stay
  * roughly constant-sized).
  *
  * Scale shape: assignment is a map-side argmax over broadcast centroid
  * literals (one corpus scan, no shuffle); the pair stage self-joins ON
  * the cell id, so the shuffle is cell-keyed and the quadratic term is
  * Σ|cell|² — guarded by `maxCellRows` exactly like the LSH bucket joins.
  * Thresholding is the integer-exact rational-cosine contract of
  * [[Similarity.annLshPortable]] (keep iff dot > 0 and den²·dot² ≥
  * num²·‖a‖²·‖b‖² over int8-quantized vectors): no sqrt, no float
  * comparison at the boundary, bit-reproducible cross-engine.
  */
object SemDedup {

  /** Shared pair stage: `assigned` carries (id, qvec, cell). Self-join on
    * cell, ordered pairs, integer-exact rational cosine threshold.
    * Quantization is a positive per-row scaling, so the cosine of the
    * quantized vectors tracks the raw cosine to int8 resolution — the
    * same approximation every quantized operator in the repo makes.
    */
  private def pairsWithinCells(assigned: DataFrame, dim: Int, minCosNum: Int,
                               minCosDen: Int, maxCellRows: Long,
                               what: String): DataFrame = {
    require(minCosDen > 0 && minCosNum >= 0 && minCosNum <= minCosDen,
      s"$what: threshold must be a rational in [0,1], got $minCosNum/$minCosDen")
    // Exact long-arithmetic bound (the annLshPortable contract): the filter
    // computes dot²·den² and na·nb·num² with |dot|,na,nb ≤ 127²·dim, so
    // (127²·dim)²·den² must fit in a long — checked exactly in BigInt, not
    // assumed from a comment. dim=64/den=10 leaves ~2600× headroom;
    // dim=2048/den=100 would silently wrap and emit WRONG pairs without
    // this guard (ADVICE r9).
    require(BigInt(minCosDen).pow(2) * BigInt(127L * 127 * dim).pow(2)
        <= BigInt(Long.MaxValue),
      s"$what: dim=$dim with denominator $minCosDen overflows the exact " +
        "long cosine filter ((127^2*dim)^2*den^2 > Long.MaxValue) — reduce " +
        "the threshold denominator or project to a smaller dim first")
    // Bounds: |dot| ≤ 127²·dim, dot²·den² and na·nb·num² ≤ ~1e14 at
    // dim=64, den ≤ 10 — exact in long with headroom (enforced above).
    // Norms are computed ONCE per vector and carried through the pairing
    // (per-pair recomputation tripled the pair stage), and every dot is
    // the codegen'd quantized_dot at scale=1 — exact on integral inputs
    // (q(x) = x for integers), one tight generated loop per pair instead
    // of an interpreted HOF.
    //
    // Pairing as one cell-keyed aggregate + streamed explode (r18): the
    // former cell SELF-JOIN shuffled the quantized payloads twice and
    // needed a separate guardrail aggregate job before it; grouping each
    // cell's rows instead yields the same id_a<id_b pair multiset from a
    // single exchange, with the degenerate-cell guard fused into the very
    // pass that would otherwise go quadratic (boundedIds raises before an
    // oversized cell emits one pair; rethrowBucketGuard at the
    // materializing caller keeps the IllegalArgumentException contract).
    val num2 = minCosNum.toLong * minCosNum
    val den2 = minCosDen.toLong * minCosDen
    val withN = assigned.withColumn("__nn",
      Similarity.dotQuantized(col("qvec"), col("qvec"), scale = 1))
    val cells = withN.groupBy(col("cell"))
      .agg(sort_array(collect_list(
        struct(col("id"), col("qvec"), col("__nn")))).as("__rows"))
    val guarded = Guardrails.boundedIds(col("__rows"), maxCellRows, what,
      "raise nCentroids (cells shrink as k grows) or exact-dedup identical " +
        "vectors first")
    cells
      .select(col("cell"), col("__rows"), posexplode(guarded))
      .select(col("cell"),
        col("col.id").as("id_a"), col("col.qvec").as("__qa"),
        col("col.__nn").as("__na"),
        explode(slice(col("__rows"), col("pos") + lit(2),
          greatest(size(col("__rows")) - col("pos") - lit(1), lit(0))))
          .as("__b"))
      .filter(col("id_a") < col("__b.id")) // drop duplicate-id self-pairs
      .select(col("id_a"), col("__b.id").as("id_b"), col("cell"),
        Similarity.dotQuantized(col("__qa"), col("__b.qvec"), scale = 1)
          .as("__dot"),
        col("__na"), col("__b.__nn").as("__nb"))
      .filter(col("__na") > 0 && col("__nb") > 0 && col("__dot") > 0 &&
        col("__dot") * col("__dot") * den2 >= col("__na") * col("__nb") * num2)
      .select("id_a", "id_b", "cell")
  }

  /** Within-cell semantic candidate pairs for an explicit centroid family
    * — trained [[Similarity.kMeansCentroids]] in production (cells align
    * with the corpus's clusters, the paper's design point), any
    * deterministic family in tests. Assignment runs on the quantized
    * vector: per-row positive scaling preserves the argmax, so the cell
    * equals the raw vector's cell.
    */
  def candidates(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                 centroids: Array[Array[Double]],
                 minCosNum: Int = 9, minCosDen: Int = 10,
                 maxCellRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    val assigned = Similarity.quantizeEmbeddings(emb, idCol, vecCol)
      .filter(size(col("qvec")) === dim)
      .select(col("id"), col("qvec"),
        Similarity.ivfAssignTo(col("qvec"), centroids).as("cell"))
    pairsWithinCells(assigned, dim, minCosNum, minCosDen, maxCellRows,
      s"SemDedup.candidates(nCentroids=${centroids.length})")
  }

  /** End-to-end SemDeDup: train cells on the corpus, pair within cells,
    * connected components, keep the min-id member of every semantic
    * group (the [[Dedup.dedupCorpusByEmbedding]] survivor convention).
    * Returns the surviving rows of `emb` unchanged.
    */
  def dedupSemantic(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                    nCentroids: Int = 16, minCosNum: Int = 9,
                    minCosDen: Int = 10, maxIter: Int = 8,
                    maxCellRows: Long = Guardrails.DefaultMaxBucketRows,
                    trainFraction: Double = 0.25): DataFrame = {
    // SAMPLED training is the default (r11, VERDICT r10 §next-4 — the
    // FAISS practice, see kMeansCentroidsSampled): at 100 TB the k-means
    // iterations must scan a deterministic md5-uniform sample, with only
    // the single assignment pass touching the full corpus — maxIter
    // full-corpus scans contradicted the operator's own scale story.
    // BEHAVIOR NOTE (default changed 1.0 → 0.25 in r11): the survivor
    // set is approximately — not exactly — centroid-family-independent.
    // Near-identical vectors share an argmax cell under any centroids,
    // but a pair sitting NEAR the cosine threshold can straddle a
    // Voronoi boundary under one centroid family and not another, so
    // sampled-vs-full equality is a high-recall approximation (exact at
    // fixture scale, where SemDedupSpec pins it). Callers needing the
    // deterministic full-scan form pass trainFraction = 1.0.
    val onDim = emb.filter(size(col(vecCol)) === dim)
    val cents =
      if (trainFraction >= 1.0)
        Similarity.kMeansCentroids(onDim, vecCol, dim, nCentroids, maxIter)
      else
        Similarity.kMeansCentroidsSampled(onDim, idCol, vecCol, dim,
          nCentroids, trainFraction, maxIter)
    val pairs = candidates(emb, idCol, vecCol, dim, cents, minCosNum,
      minCosDen, maxCellRows)
    val losers = Dedup.duplicateGroups(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("group_id"))
      .select(col("id").as(idCol))
    emb.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupSemantic]] with deterministic cache release — the
    * [[TimeSeries.gapFillDailyScoped]] pattern. The input frame is
    * referenced several times across the chain (sample-train, the
    * within-cell self-join's two sides, the final survivor anti-join),
    * so when `emb` is a COMPUTED frame — e.g. a text→hashed-vector→
    * quantize chain rather than a parquet scan — it must be pinned or
    * each reference re-runs the chain. This form owns the pin: it
    * persists `emb`, hands the survivor frame to `action`, and
    * unpersists in a `finally` once the action returns, so no storage
    * entry outlives the call (SemDedupSpec pins this). Use it whenever
    * the consumption is a single action (write, collect, aggregate,
    * eager checkpoint); use [[dedupSemantic]] with a caller-managed
    * pin only when the frame must outlive the call site.
    */
  def dedupSemanticScoped[T](emb: DataFrame, idCol: String, vecCol: String,
                             dim: Int, nCentroids: Int = 16,
                             minCosNum: Int = 9, minCosDen: Int = 10,
                             maxIter: Int = 8,
                             maxCellRows: Long = Guardrails.DefaultMaxBucketRows,
                             trainFraction: Double = 0.25)
                            (action: DataFrame => T): T = {
    val pinned =
      emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try action(dedupSemantic(pinned, idCol, vecCol, dim, nCentroids,
      minCosNum, minCosDen, maxIter, maxCellRows, trainFraction))
    finally pinned.unpersist()
  }

  /** Persist a SemDeDup index: the quantized vectors with their trained
    * cell assignments, hash-partitioned on `cell=<i>/` directories, plus
    * the centroid sidecar (`_centroids`, the [[Similarity.ivfWriteIndex]]
    * format — dim and cell count travel with the index as the sidecar's
    * row shape). This is the amortized steady state the `*_scored` /
    * `*_indexed` bench rows measure everywhere else in the repo: the
    * vectorize→quantize→k-means-train cost is paid ONCE at write time
    * (training samples a deterministic md5-uniform fraction, the FAISS
    * practice — see [[dedupSemantic]]), and every later dedup pass runs
    * only the within-cell pair stage + components over the stored
    * assignments. Rows whose vector is not `dim`-long are NOT indexed
    * (nothing to cluster); callers route off-dim rows separately, as
    * [[dedupSemantic]]'s anti-join convention does implicitly.
    */
  def semDedupWriteIndex(emb: DataFrame, idCol: String, vecCol: String,
                         dim: Int, nCentroids: Int, path: String,
                         maxIter: Int = 8,
                         trainFraction: Double = 0.25): Unit = {
    val onDim = emb.filter(size(col(vecCol)) === dim)
    val cents =
      if (trainFraction >= 1.0)
        Similarity.kMeansCentroids(onDim, vecCol, dim, nCentroids, maxIter)
      else
        Similarity.kMeansCentroidsSampled(onDim, idCol, vecCol, dim,
          nCentroids, trainFraction, maxIter)
    Similarity.quantizeEmbeddings(onDim, idCol, vecCol)
      .select(col("id"), col("qvec"),
        Similarity.ivfAssignTo(col("qvec"), cents).as("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    Similarity.writeCentroidSidecar(emb.sparkSession, cents, path)
  }

  /** O(batch) incremental maintenance: assign a new vector batch with the
    * SIDECAR centroids — the only family consistent with the cells already
    * on disk — and append only the new rows into their `cell=<i>/`
    * directories (the [[Similarity.ivfAppendIndex]] shape). The next
    * [[dedupSemanticIndexed]] pass sees old+new rows under one partition
    * layout; no retrain, no rewrite, no re-vectorizing the corpus.
    *
    * `batchTag` makes the append exactly-once ([[IndexLifecycle.append]]):
    * a replayed row is its own nearest within-cell neighbor at cosine 1.0
    * — it marks ITSELF a duplicate, silently deleting a unique document
    * from the kept set.
    */
  def semDedupAppendIndex(emb: DataFrame, idCol: String, vecCol: String,
                          path: String,
                          batchTag: Option[String] = None): Unit = {
    val cents = readIndexCentroids(emb.sparkSession, path)
    val dim = cents.head.length
    IndexLifecycle.append(path, batchTag, emb, Seq(idCol, vecCol), Seq(path)) { c =>
      c.append(Similarity.quantizeEmbeddings(
          c.frame.filter(size(col(vecCol)) === dim), idCol, vecCol)
        .select(col("id"), col("qvec"),
          Similarity.ivfAssignTo(col("qvec"), cents).as("cell")),
        path, partitionBy = Seq("cell"))
    }: Unit
  }

  /** Retrain-recluster compaction (r17 — the
    * [[Similarity.ivfRetrainCompact]] verb for this family): appends
    * assign under the FROZEN sidecar centroids, and for SemDeDup the
    * drift decay is worse than recall loss — a semantic duplicate PAIR
    * that straddles two cells is never compared at all, so duplicates
    * SURVIVE silently (spec-pinned with a planted boundary-pair
    * fixture). Retrains on the stored quantized vectors with the
    * deterministic sampled trainer, reassigns every row, and swaps the
    * cells + `_centroids` sidecar as ONE staged unit
    * ([[IndexLifecycle.rebuild]]). `nCentroids = 0` keeps the stored cell
    * count. SINGLE-WRITER maintenance, like every staged-swap compaction.
    */
  def semDedupRetrainCompact(spark: org.apache.spark.sql.SparkSession,
                             path: String, nCentroids: Int = 0,
                             maxIter: Int = 8,
                             sampleFraction: Double = 1.0,
                             maxSampleRows: Int = 2000000): Unit = {
    val stored = readIndexCentroids(spark, path)
    val k = if (nCentroids > 0) nCentroids else stored.length
    val dim = stored.head.length
    // a retrain consumes the index's tombstones (late r17)
    val rows = graft.pipeline.Tombstones.exclude(
      spark.read.parquet(path), path).select(col("id"), col("qvec"))
    val cents = Similarity.kMeansCentroidsSampled(rows, "id", "qvec", dim,
      k, sampleFraction, maxIter, maxSampleRows = maxSampleRows)
    IndexLifecycle.rebuild(spark, path) { staged =>
      rows.select(col("id"), col("qvec"), Similarity.ivfAssignTo(col("qvec"), cents).as("cell"))
        .write.partitionBy("cell").parquet(staged)
      Similarity.writeCentroidSidecar(spark, cents, staged)
    }
  }

  /** Load the centroid sidecar of a SemDeDup index — the shared
    * sidecar-format contract of [[Similarity.ivfReadCentroids]], with
    * this family's own fail-loud hint (code-review r12: the format must
    * live in ONE place).
    */
  private def readIndexCentroids(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Array[Array[Double]] =
    Similarity.ivfReadCentroids(spark, path, kind = "SemDeDup",
      writer = "semDedupWriteIndex")

  /** Dedup FROM a persisted index — the amortized probe: read the stored
    * (id, qvec, cell) assignments, run the integer-exact within-cell pair
    * stage + connected components, and return the SURVIVING index rows
    * (min-id member of each semantic group, the [[dedupSemantic]]
    * convention). Identical parameters and corpus give the identical
    * survivor set as [[dedupSemantic]] run from scratch (the sampled
    * k-means train is deterministic), which the oracled idx gate pins —
    * but here the per-pass cost is the pair stage only; vectorization and
    * training were paid at write time.
    */
  def dedupSemanticIndexed(spark: org.apache.spark.sql.SparkSession,
                           path: String, minCosNum: Int = 9,
                           minCosDen: Int = 10,
                           maxCellRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    val cents = readIndexCentroids(spark, path)
    val dim = cents.head.length
    // tombstone exclusion (late r17): a deleted doc neither survives
    // nor counts as anyone's duplicate
    val assigned = graft.pipeline.Tombstones.exclude(
      spark.read.parquet(path), path).select("id", "qvec", "cell")
    val pairs = pairsWithinCells(assigned, dim, minCosNum, minCosDen,
      maxCellRows, s"SemDedup.dedupSemanticIndexed($path)")
    val losers = Dedup.duplicateGroups(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("group_id"))
      .select("id")
    assigned.join(losers, Seq("id"), "left_anti")
  }

  /** Oracle-portable twin: the md5-parity ±1 cell family of
    * [[Similarity.ivfTopKPortable]] ("c<cell>:<i>" — SemDeDup shares the
    * IVF twin's cell structure) with the integer-dot argmax assignment,
    * then the same integer-exact pair stage — the ENTIRE cell-sharded
    * candidate generation is DuckDB-replayable bit-for-bit. Production
    * keeps trained cells; only the sharding family changes.
    */
  def candidatesPortable(emb: DataFrame, idCol: String, vecCol: String,
                         dim: Int, nCentroids: Int = 16,
                         minCosNum: Int = 9, minCosDen: Int = 10,
                         maxCellRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    val signMatrix = Array.tabulate(nCentroids)(c =>
      Array.tabulate(dim)(i => Similarity.md5ParitySign(s"c$c:$i")))
    val assigned = Similarity.quantizeEmbeddings(emb, idCol, vecCol)
      .filter(size(col("qvec")) === dim)
      .select(col("id"), col("qvec"),
        graft.expressions.VectorExpressions.signedIntDots(
          col("qvec"), signMatrix).as("__dots"))
      .select(col("id"), col("qvec"),
        (array_position(col("__dots"), array_max(col("__dots"))) - 1)
          .cast("int").as("cell"))
    pairsWithinCells(assigned, dim, minCosNum, minCosDen, maxCellRows,
      s"SemDedup.candidatesPortable(nCentroids=$nCentroids)")
  }
}
