package graft.operators

import graft.expressions.VectorExpressions
import graft.pipeline.IndexLifecycle
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Product quantization (PQ) for embedding columns — the compression leg
  * of large-scale ANN (the FAISS IVF-PQ design, re-expressed as Spark
  * relational plans). The vector is split into `m` contiguous subspaces;
  * each subspace gets its own `k`-codeword codebook (per-subspace
  * k-means); a vector is stored as `m` small codes instead of `dim`
  * floats — dim 64 × float32 → 8 bytes is a 32× cut in the column ANN
  * reads. Search uses asymmetric distance computation (ADC): the query
  * precomputes an m×k lookup table of query-subvector · codeword dots,
  * and each candidate's score is `m` table lookups — no float vector
  * math per row at all.
  *
  * At 100 TB: training aggregates are metadata-scale (m·k·(sub+1) values
  * per iteration regardless of corpus size, the [[Similarity
  * .kMeansCentroids]] argument), encoding is one codegen'd map pass
  * ([[graft.expressions.PqEncode]]), and ADC scoring is a literal-table
  * projection + TakeOrdered — the corpus never shuffles. Composes with
  * IVF ([[ivfPqTopK]]): cell pruning cuts the rows scanned, PQ cuts the
  * bytes per row scanned; the two savings multiply.
  *
  * The reference engine has no vector surface (SURVEY §2 extension
  * family); semantics follow the published PQ literature.
  */
object ProductQuantization {

  /** Codebooks: `m` subspaces × `k` codewords × `dim/m` components. */
  type Codebooks = Array[Array[Array[Double]]]

  private def flat(books: Codebooks): Array[Array[Double]] = books.flatten

  /** Codes column: `m` 0-based nearest-codeword indices (squared L2 per
    * subspace, ties toward the lowest index) — one generated tight loop.
    */
  def encodeColumn(vec: Column, books: Codebooks): Column =
    VectorExpressions.pqEncode(vec, flat(books), books(0).length)

  /** Reconstructed vector from codes: codeword concatenation. Interpreted
    * HOF path — used by the round-trip gate, not the search hot path.
    */
  def decodeColumn(codes: Column, books: Codebooks): Column = {
    val m = books.length
    concat((0 until m).map { s =>
      val lut = typedlit(books(s).map(_.toSeq).toSeq)
      element_at(lut, element_at(codes, s + 1) + 1)
    }: _*)
  }

  /** Train per-subspace codebooks with Lloyd's k-means, all subspaces in
    * one scan per iteration: encode with the current books (codegen'd),
    * explode to (subspace, code, subvector), one hash-aggregate of
    * per-dimension sums. Initialization is Forgy from `k` corpus vectors
    * picked by lowest md5("pqseed:" || id) — deterministic, and the hash
    * scatters seeds across the corpus instead of clumping them in one id
    * range (the k lowest IDs of a clustered corpus can all share one
    * cluster, stranding k-means in a local minimum); an empty cell keeps
    * its codeword. Driver
    * traffic per iteration: m·k·(sub+1) doubles — metadata-scale.
    */
  def trainCodebooks(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                     m: Int, k: Int, maxIter: Int = 6,
                     tol: Double = 1e-9): Codebooks = {
    require(dim % m == 0, s"trainCodebooks: dim=$dim not divisible by m=$m")
    val sub = dim / m
    val base = emb.filter(size(col(vecCol)) === dim)
      .select(col(vecCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Forgy init: k md5-scattered vectors, sliced per subspace (bounded
    // k×dim collect via TakeOrdered). Duplicate rows just mean coincident
    // codewords that k-means separates (ties broken toward low c).
    val seedRows = emb.filter(size(col(vecCol)) === dim)
      .orderBy(md5(concat(lit("pqseed:"), col(idCol).cast("string"))), col(idCol))
      .limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seedRows.nonEmpty, s"trainCodebooks: no vectors of length $dim")
    var books: Codebooks = Array.tabulate(m)(s => Array.tabulate(k)(c =>
      seedRows(c % seedRows.length).slice(s * sub, (s + 1) * sub)))
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val codes = encodeColumn(col("v"), books)
      val sliced = base.select(posexplode(array((0 until m).map(s =>
          struct(element_at(codes, s + 1).as("c"),
            slice(col("v"), s * sub + 1, sub).as("sv"))): _*)))
        .select(col("pos").as("s"), col("col.c").as("c"), col("col.sv").as("sv"))
      val aggs = count(lit(1)).as("n") +:
        (0 until sub).map(i =>
          sum(element_at(col("sv"), i + 1).cast("double")).as(s"d$i"))
      val rows = sliced.groupBy("s", "c").agg(aggs.head, aggs.tail: _*).collect()
      val next = books.map(_.map(_.clone()))
      rows.foreach { r =>
        val (s, c, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
        if (n > 0) next(s)(c) = Array.tabulate(sub)(i => r.getDouble(3 + i) / n)
      }
      moved = books.indices.iterator.flatMap(s => (0 until k).iterator.map(c =>
        books(s)(c).iterator.zip(next(s)(c).iterator)
          .map { case (a, b) => (a - b) * (a - b) }.sum)).max
      books = next
      iter += 1
    }
    base.unpersist()
    books
  }

  /** Shared trainer dispatch: SAMPLED driver-side training is the
    * production default (`trainFraction` < 1, the SemDeDup/FAISS
    * convention); `trainFraction = 1.0` keeps the full distributed
    * [[trainCodebooks]] loop.
    */
  private def trainBooks(emb: DataFrame, idCol: String, vecCol: String,
                         dim: Int, m: Int, k: Int, maxIter: Int,
                         trainFraction: Double): Codebooks =
    if (trainFraction >= 1.0)
      trainCodebooks(emb, idCol, vecCol, dim, m, k, maxIter)
    else
      trainCodebooksSampled(emb, idCol, vecCol, dim, m, k, trainFraction,
        maxIter)

  /** [[trainCodebooks]] on a deterministic md5-uniform hash-sample, run
    * DRIVER-SIDE (r11, the kMeansCentroidsSampled treatment): the
    * distributed loop re-plans each iteration with fresh codeword
    * literals, paying whole-stage-codegen COMPILATION per iteration
    * regardless of data size — pure compiler tax on fixture-scale
    * corpora, and at 100 TB FAISS trains PQ books on an in-memory sample
    * anyway. Same metric and tie rules as the codegen'd encoder (per
    * subspace: argmin squared-L2, first-min wins), same Forgy init
    * family (k lowest md5("pqseed:"||id), id-string ties — drawn from
    * the SAMPLE, which is the sampled variant's own documented rule),
    * mean update, empty cells keep their codeword, `tol` early exit;
    * accumulation order is id-sorted, so sums are DETERMINISTIC where
    * the distributed partial-agg never was. `maxSampleRows` fails loudly
    * when the fraction is mis-sized (rows × dim × 8 B on the driver).
    */
  def trainCodebooksSampled(emb: DataFrame, idCol: String, vecCol: String,
                            dim: Int, m: Int, k: Int, sampleFraction: Double,
                            maxIter: Int = 6, tol: Double = 1e-9,
                            maxSampleRows: Int = 2000000): Codebooks = {
    require(dim % m == 0, s"trainCodebooksSampled: dim=$dim not divisible by m=$m")
    val sub = dim / m
    // shared sampling contract (incl. empty-sample fallback):
    // Similarity.collectVectorSample
    val rows = Similarity.collectVectorSample(emb, idCol, vecCol, dim,
      sampleFraction, maxSampleRows, "trainCodebooksSampled")
    require(rows.nonEmpty,
      s"trainCodebooksSampled: no vectors of length $dim to train on")
    val data = rows.sortBy(_._1).map(_._2)
    // Forgy seed order: the same md5("pqseed:" || id) key the distributed
    // trainer sorts by, computed driver-side (identical lowercase hex of
    // the UTF-8 bytes, so the ordering cannot diverge)
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    val seeds = rows.sortBy { case (id, _) => (md5Hex("pqseed:" + id), id) }
      .take(k).map(_._2)
    var books: Codebooks = Array.tabulate(m)(s => Array.tabulate(k)(c =>
      seeds(c % seeds.length).slice(s * sub, (s + 1) * sub)))
    def assign(v: Array[Double], s: Int, bks: Codebooks): Int = {
      val off = s * sub
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < k) {
        val cw = bks(s)(c); var d = 0.0; var i = 0
        while (i < sub) {
          val diff = v(off + i) - cw(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c } // first min wins (PqEncode)
        c += 1
      }
      best
    }
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val sums = Array.ofDim[Double](m, k, sub)
      val cnt = Array.ofDim[Long](m, k)
      data.foreach { v =>
        var s = 0
        while (s < m) {
          val c = assign(v, s, books)
          cnt(s)(c) += 1
          val off = s * sub; var i = 0
          while (i < sub) { sums(s)(c)(i) += v(off + i); i += 1 }
          s += 1
        }
      }
      val next = books.map(_.map(_.clone()))
      for (s <- 0 until m; c <- 0 until k if cnt(s)(c) > 0)
        next(s)(c) = Array.tabulate(sub)(i => sums(s)(c)(i) / cnt(s)(c))
      moved = books.indices.iterator.flatMap(s => (0 until k).iterator.map(c =>
        books(s)(c).iterator.zip(next(s)(c).iterator)
          .map { case (a, b) => (a - b) * (a - b) }.sum)).max
      books = next
      iter += 1
    }
    books
  }

  /** Encode a corpus: (id, codes array<int> of length m). */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             books: Codebooks): DataFrame = {
    val dim = books.length * books(0)(0).length
    emb.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"), encodeColumn(col(vecCol), books).as("codes"))
  }

  /** ADC lookup table for one query vector: lut(s)(c) = query subvector
    * `s` · codeword `c`. Driver-side, m·k·sub multiplications.
    */
  def adcLut(query: Array[Double], books: Codebooks): Array[Array[Double]] = {
    val m = books.length
    val sub = books(0)(0).length
    require(query.length == m * sub,
      s"adcLut: query length ${query.length} != ${m * sub}")
    Array.tabulate(m)(s => books(s).map(cw =>
      (0 until sub).map(i => query(s * sub + i) * cw(i)).sum))
  }

  /** ADC score of a codes column: m literal-table lookups, summed — the
    * per-candidate cost is independent of `dim`. Unrolled built-ins (m
    * element_at terms), fully inside whole-stage codegen.
    */
  def adcScore(codes: Column, lut: Array[Array[Double]]): Column =
    lut.indices.map { s =>
      element_at(typedlit(lut(s).toSeq), element_at(codes, s + 1) + 1)
    }.reduce(_ + _)

  private def queryVector(emb: DataFrame, idCol: String, vecCol: String,
                          queryId: Long): Array[Double] = {
    val rows = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).limit(1).collect()
    require(rows.nonEmpty, s"query id $queryId not found")
    rows(0).getSeq[Double](0).toArray
  }

  /** PQ-ADC top-k with exact re-rank: train, encode, ADC-score every
    * candidate by table lookups, shortlist `k * refine`, then re-rank the
    * shortlist by exact (quantized-integer) dot against the stored
    * vectors. The shortlist step is where PQ pays off — the corpus scan
    * touches only codes — and the re-rank touches `k * refine` full
    * vectors, a bounded semi-join. Without re-rank, candidates inside one
    * tight cluster share identical codes and tie; this is the standard
    * ADC-shortlist + exact-refine design. [[ivfPqTopK]] adds cell pruning
    * on top.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
             queryId: Long, k: Int, m: Int = 8, kCodewords: Int = 16,
             maxIter: Int = 6, refine: Int = 4,
             trainFraction: Double = 0.25): DataFrame = {
    val books = trainBooks(emb, idCol, vecCol, dim, m, kCodewords, maxIter,
      trainFraction)
    val lut = adcLut(queryVector(emb, idCol, vecCol, queryId), books)
    shortlistRerank(encode(emb, idCol, vecCol, books), lut,
      emb, idCol, vecCol, queryId, k, refine)
  }

  /** The shared ADC-shortlist → exact-re-rank tail of [[pqTopK]] and
    * [[pqTopKRotated]] (second-pass review r13 — one definition, so
    * tie-breaking / refine sizing / the broadcast re-rank join cannot
    * drift between the rotated and unrotated paths): shortlist
    * `k·refine` ids by ADC score over `encoded` (id, codes), re-rank by
    * the exact quantized dot against `rerankEmb`'s stored vectors.
    */
  private def shortlistRerank(encoded: DataFrame, lut: Array[Array[Double]],
                              rerankEmb: DataFrame, idCol: String,
                              vecCol: String, queryId: Long, k: Int,
                              refine: Int): DataFrame = {
    val shortlist = encoded
      .filter(col("id") =!= queryId)
      .select(col("id"), adcScore(col("codes"), lut).as("adc"))
      .orderBy(col("adc").desc, col("id").asc)
      .limit(k * refine)
    val q = rerankEmb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec")).limit(1)
    shortlist.join(rerankEmb.select(col(idCol).as("id"), col(vecCol)), "id")
      .crossJoin(broadcast(q))
      .select(col("id").as("vec_id"),
        Similarity.dotQuantized(col(vecCol), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** OPQ-style rotated PQ (r13, VERDICT r12 §next-8; Ge et al. 2013
    * "Optimized Product Quantization" §4 — the PCA-rotation
    * initialization OPQ's alternating solver starts from): rotate every
    * vector by a FULL-RANK PCA basis before PQ, so the m codebook
    * subspaces cut along decorrelated principal axes instead of
    * arbitrary coordinate blocks — the subspace-independence assumption
    * PQ's per-subspace quantizers actually rely on. The rotation is
    * orthonormal (geometry-preserving) plus a mean translation, applied
    * as one codegen'd [[Pca.projectCol]] pass per row; codebooks train
    * and the ADC shortlist scores ENTIRELY in the rotated space, and the
    * exact re-rank tail scores the ORIGINAL vectors (the [[pqTopK]]
    * contract) — rotation can only change recall through shortlist
    * quality, which the gate measures against the unrotated floor.
    */
  def pqTopKRotated(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                    queryId: Long, k: Int, m: Int = 8, kCodewords: Int = 16,
                    maxIter: Int = 6, refine: Int = 4,
                    trainFraction: Double = 0.25): DataFrame = {
    val model = Pca.pcaTrain(emb, idCol, vecCol, dim, k = dim)
    val rot = emb.select(col(idCol).as("id"),
      Pca.projectCol(col(vecCol), model).as("rvec"))
    val books = trainBooks(rot, "id", "rvec", dim, m, kCodewords, maxIter,
      trainFraction)
    val lut = adcLut(queryVector(rot, "id", "rvec", queryId), books)
    // encode + shortlist in the ROTATED space, exact re-rank on the
    // ORIGINAL vectors — the shared tail
    shortlistRerank(encode(rot, "id", "rvec", books), lut,
      emb, idCol, vecCol, queryId, k, refine)
  }

  /** IVF-PQ top-k (the FAISS composition): coarse-quantize every vector to
    * its nearest of `nCentroids` cells, PQ-encode the RESIDUAL (v −
    * centroid), and at query time probe only the `nProbe` nearest cells.
    * Scoring uses the dot decomposition `q · v̂ = q · centroid(cell) + q ·
    * decode(codes)` — the first term is an nCentroids-entry literal lookup
    * on the cell id, the second the usual ADC table, so one GLOBAL lut
    * serves every probed cell (no per-cell tables). Residual encoding is
    * what makes one codebook work across cells: residuals live in a shared
    * origin-centered ball instead of m far-apart clusters.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                queryId: Long, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 8, kCodewords: Int = 16, maxIter: Int = 6,
                refine: Int = 4,
                centroids: Array[Array[Double]] = null,
                trainFraction: Double = 0.25): DataFrame = {
    // Centroids default to the deterministic pseudo family; pass
    // kMeansCentroids output for trained cells (the ivfWriteIndex
    // convention) — on clustered corpora trained cells align with the
    // clusters, so the query's true neighbors land in the first probed
    // cell instead of scattering across unprobed ones.
    val cents =
      if (centroids != null) centroids
      else Similarity.pseudoCentroids(dim, nCentroids)
    require(cents.length == nCentroids,
      s"ivfPqTopK: got ${cents.length} centroids, expected $nCentroids")
    val centLit = typedlit(cents.map(_.toSeq).toSeq)
    def residual(vec: Column, cell: Column): Column =
      zip_with(vec.cast("array<double>"), element_at(centLit, cell + 1),
        (x, c) => x - c)
    val assigned = emb.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"),
        Similarity.ivfAssignTo(col(vecCol), cents).as("cell"),
        col(vecCol).as("v"))
      .withColumn("res", residual(col("v"), col("cell")))
    val books = trainBooks(assigned, "id", "res", dim, m, kCodewords, maxIter,
      trainFraction)
    val query = queryVector(emb, idCol, vecCol, queryId)
    val lut = adcLut(query, books)
    // driver-side probe selection + centroid dot terms (nCentroids × dim)
    val centDots = cents.map(c =>
      c.indices.map(i => query(i) * c(i)).sum)
    val probed = centDots.zipWithIndex.sortBy { case (d, i) => (-d, i) }
      .take(nProbe).map(_._2)
    val centDotLit = typedlit(centDots.toSeq)
    // ADC shortlist over the probed cells, then exact re-rank on the
    // bounded k×refine candidates (the pqTopK tail): ADC on residual
    // codes blurs ranking inside tight clusters — the re-rank touches
    // only the shortlist's full vectors, a broadcast-sized join.
    val shortlist = assigned
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .filter(col("id") =!= queryId)
      .select(col("id"),
        (element_at(centDotLit, col("cell") + 1) +
          adcScore(encodeColumn(col("res"), books), lut)).as("adc"))
      .orderBy(col("adc").desc, col("id").asc)
      .limit(k * refine)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec")).limit(1)
    shortlist.join(emb.select(col(idCol).as("id"), col(vecCol)), "id")
      .crossJoin(broadcast(q))
      .select(col("id").as("vec_id"),
        Similarity.dotQuantized(col(vecCol), col("__qvec")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Persist a PQ-coded corpus: train codebooks, write (id, codes) — 8
    * ints per row instead of `dim` floats, the 32× compression made
    * DURABLE — plus a `_books` sidecar (the [[Similarity.ivfWriteIndex]]
    * convention: probes and appends must use the exact codebooks the
    * codes were built from, and an index's structure travels with the
    * index; the `_` prefix hides the sidecar from the data scan). The
    * source vectors do NOT go into the index — re-ranking reads them from
    * the source-of-truth table, which exists anyway.
    */
  def pqWriteIndex(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                   path: String, m: Int = 8, kCodewords: Int = 16,
                   maxIter: Int = 6, trainFraction: Double = 0.25): Unit = {
    val books = trainBooks(emb, idCol, vecCol, dim, m, kCodewords, maxIter,
      trainFraction)
    encode(emb, idCol, vecCol, books)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    writeBooksSidecar(emb.sparkSession, books, path)
  }

  /** The `_books` sidecar write — the single home of its format
    * ([[pqReadBooks]]' counterpart), shared by [[pqWriteIndex]] and
    * [[pqRetrainCompact]].
    */
  private def writeBooksSidecar(spark: org.apache.spark.sql.SparkSession,
                                books: Codebooks, path: String): Unit = {
    import spark.implicits._
    books.toIndexedSeq.zipWithIndex.flatMap { case (cws, s) =>
      cws.toIndexedSeq.zipWithIndex.map { case (cw, c) => (s, c, cw.toSeq) }
    }.toDF("s", "c", "codeword")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_books")
  }

  /** Retrain-recluster compaction of a persisted PQ index (r17 — the
    * [[Similarity.ivfRetrainCompact]] verb for the codes-only family):
    * codebooks frozen at write time drift as appends shift the corpus,
    * and the codes store no vectors, so retraining takes the
    * source-of-truth table `emb` — the same table the exact re-rank
    * stage reads on every probe. Retrains with the deterministic sampled
    * trainer, re-encodes everything, and swaps (codes + `_books`) in as
    * ONE staged unit ([[IndexLifecycle.rebuild]]): code-identical to a
    * fresh [[pqWriteIndex]] over `emb` (trainer determinism — the
    * q_sim_pq_retrain_gate pin), but readers see the old index or the
    * new, never the delete-then-write gap of a plain overwrite.
    * SINGLE-WRITER maintenance.
    */
  def pqRetrainCompact(emb0: DataFrame, idCol: String, vecCol: String,
                       dim: Int, path: String, m: Int = 8,
                       kCodewords: Int = 16, maxIter: Int = 6,
                       trainFraction: Double = 0.25): Unit = {
    pqReadBooks(emb0.sparkSession, path) // validates an index exists
    // a retrain consumes the index's tombstones: deleted ids drop from
    // the training set and the re-encoded codes, and the swap clears
    // the tombstone table (late r17)
    val emb = graft.pipeline.Tombstones.exclude(emb0, path, idCol)
    val books = trainBooks(emb, idCol, vecCol, dim, m, kCodewords, maxIter,
      trainFraction)
    IndexLifecycle.rebuild(emb.sparkSession, path) { staged =>
      encode(emb, idCol, vecCol, books).write.parquet(staged)
      writeBooksSidecar(emb.sparkSession, books, staged)
    }
  }

  /** Load the codebook sidecar written by [[pqWriteIndex]]. Selected by
    * name and ordered by (s, c) so the reconstruction cannot depend on
    * file column or row order; a missing sidecar fails with an actionable
    * message (the ivfReadCentroids convention).
    */
  def pqReadBooks(spark: org.apache.spark.sql.SparkSession,
                  path: String): Codebooks = {
    val side =
      try spark.read.parquet(s"$path/_books").select("s", "c", "codeword")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"PQ index at $path has no readable codebook sidecar (_books); " +
              "rewrite the index with pqWriteIndex", e)
      }
    // driver-side (s, c) sort: a cluster orderBy before an m×k-row collect
    // pays a range-partitioning sample pass + shuffle per index load
    // (Bpe.readMerges note); m×k is the codebook size, always tiny.
    side.collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray) }
      .toArray
  }

  /** Incremental PQ maintenance: encode a new batch with the SIDECAR
    * codebooks — the only books consistent with the codes already on disk
    * (re-training on the batch would silently shift every code's meaning)
    * — and append. O(batch) work per batch, no O(corpus) rebuild; the
    * daily-ingest story, same as [[Similarity.ivfAppendIndex]].
    *
    * `batchTag` makes the append exactly-once ([[IndexLifecycle.append]]):
    * a replayed id would fill two ADC top-k slots, silently displacing a
    * true neighbor.
    */
  def pqAppendIndex(emb: DataFrame, idCol: String, vecCol: String,
                    path: String, batchTag: Option[String] = None): Unit = {
    val books = pqReadBooks(emb.sparkSession, path)
    IndexLifecycle.append(path, batchTag, emb, Seq(idCol, vecCol), Seq(path)) { c =>
      c.append(encode(c.frame, idCol, vecCol, books), path)
    }: Unit
  }

  /** ADC top-k against a persisted PQ index: the scan reads codes only
    * (8 ints/row), scoring is m literal-table lookups per row, and the
    * caller supplies the query VECTOR (a codes-only index cannot
    * reconstruct it exactly; the source table the caller got the query
    * from exists by construction). `excludeId` drops the query's own row
    * when probing for neighbors of an indexed vector.
    */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                    query: Array[Double], k: Int,
                    excludeId: Long = -1L): DataFrame = {
    val books = pqReadBooks(spark, path)
    val lut = adcLut(query, books)
    graft.pipeline.Tombstones.exclude(spark.read.parquet(path), path)
      .filter(col("id") =!= excludeId)
      .select(col("id").as("vec_id"), adcScore(col("codes"), lut).as("adc"))
      .orderBy(col("adc").desc, col("vec_id").asc)
      .limit(k)
  }

  // --- persisted OPQ (rotated PQ) index (r14, VERDICT r13 §next-6) ---
  // The pqWriteIndex treatment for the rotated path: the full-rank PCA
  // rotation is part of the index's GEOMETRY — codes encoded in rotated
  // space are meaningless without it — so it persists as a `_rotation`
  // sidecar (the Pca model-as-table) beside `_books`, and probes/appends
  // recover both from the index itself. The `_` prefix hides both
  // sidecars from the codes scan.

  /** Train rotation + codebooks and persist: (id, codes) rows encoded in
    * ROTATED space, `_books` codebooks, `_rotation` PCA model.
    */
  def opqWriteIndex(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                    path: String, m: Int = 8, kCodewords: Int = 16,
                    maxIter: Int = 6, trainFraction: Double = 0.25): Unit = {
    val model = graft.operators.Pca.pcaTrain(emb, idCol, vecCol, dim, k = dim)
    // wrong-length vectors drop BEFORE the projection — AffineMatVec
    // throws on a dim mismatch, and the pqWriteIndex contract (malformed
    // vectors skip, never abort) must survive the rotation (code-review
    // r14); same guard in opqAppendIndex
    val rot = emb.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"),
        graft.operators.Pca.projectCol(col(vecCol), model).as("rvec"))
    pqWriteIndex(rot, "id", "rvec", dim, path, m, kCodewords, maxIter,
      trainFraction)
    // the rotation sidecar lands LAST — its presence is the index's
    // completion marker (opqEnsureIndex-style callers gate on it)
    graft.operators.Pca.writeModel(emb.sparkSession, model,
      s"$path/_rotation")
  }

  /** Load the rotation sidecar; fails with an actionable message on a
    * plain (unrotated) PQ index — probing one with an OPQ probe would
    * silently score garbage.
    */
  def opqReadRotation(spark: org.apache.spark.sql.SparkSession,
                      path: String): graft.operators.Pca.PcaModel =
    // only the genuinely-missing-sidecar case rebrands (the pqReadBooks
    // convention) — a present-but-malformed model or a transient read
    // error must surface with its real message, not a misleading
    // "rewrite the index" (code-review r14)
    try graft.operators.Pca.readModel(spark, s"$path/_rotation")
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalStateException(
          s"OPQ index at $path has no readable rotation sidecar " +
            "(_rotation); rewrite the index with opqWriteIndex", e)
    }

  /** Incremental OPQ maintenance: rotate the batch with the SIDECAR
    * model and encode with the SIDECAR books — the only pair consistent
    * with the codes on disk — then append. O(batch), the
    * [[pqAppendIndex]] contract, including its exactly-once `batchTag`.
    * The content signature runs over the RAW (id, vector) batch, NOT
    * the rotated frame: a retrain compaction replaces the rotation
    * model, so the same replayed bytes would rotate to different
    * doubles and a genuine post-retrain replay would misread as a
    * lineage mismatch instead of a no-op (caught by the spec's
    * replay-after-retrain leg).
    */
  def opqAppendIndex(emb: DataFrame, idCol: String, vecCol: String,
                     path: String, batchTag: Option[String] = None): Unit = {
    val model = opqReadRotation(emb.sparkSession, path)
    def rot(e: DataFrame) = e.filter(size(col(vecCol)) === model.dim)
      .select(col(idCol).as("id"),
        graft.operators.Pca.projectCol(col(vecCol), model).as("rvec"))
    IndexLifecycle.append(path, batchTag, emb, Seq(idCol, vecCol), Seq(path)) { c =>
      val books = pqReadBooks(emb.sparkSession, path)
      c.append(encode(rot(c.frame), "id", "rvec", books), path)
    }: Unit
  }

  /** [[pqRetrainCompact]] for the rotated family: retrain BOTH sidecars
    * — the full-rank PCA rotation and the codebooks trained in the new
    * rotated space — re-encode everything from the source-of-truth
    * `emb`, and swap (codes + `_books` + `_rotation`) as ONE staged
    * unit ([[IndexLifecycle.rebuild]]). Both trainers are deterministic
    * (driver-side sorted samples), so retrain-after-appends equals a
    * fresh [[opqWriteIndex]] over the union code-for-code (gate-pinned).
    * SINGLE-WRITER maintenance.
    */
  def opqRetrainCompact(emb0: DataFrame, idCol: String, vecCol: String,
                        dim: Int, path: String, m: Int = 8,
                        kCodewords: Int = 16, maxIter: Int = 6,
                        trainFraction: Double = 0.25): Unit = {
    opqReadRotation(emb0.sparkSession, path) // validates an OPQ index
    val emb = graft.pipeline.Tombstones.exclude(emb0, path, idCol) // late r17
    val model = graft.operators.Pca.pcaTrain(emb, idCol, vecCol, dim, k = dim)
    val rot = emb.filter(size(col(vecCol)) === dim)
      .select(col(idCol).as("id"),
        graft.operators.Pca.projectCol(col(vecCol), model).as("rvec"))
    val books = trainBooks(rot, "id", "rvec", dim, m, kCodewords, maxIter,
      trainFraction)
    IndexLifecycle.rebuild(emb.sparkSession, path) { staged =>
      encode(rot, "id", "rvec", books).write.parquet(staged)
      writeBooksSidecar(emb.sparkSession, books, staged)
      graft.operators.Pca.writeModel(emb.sparkSession, model,
        s"$staged/_rotation")
    }
  }

  /** Rotate one query vector driver-side: `C·(q − mean)` — the probe's
    * query enters in ORIGINAL space (callers read it from the source
    * table) and must be scored in the codes' rotated space.
    */
  private[graft] def rotateQuery(q: Array[Double],
                                 model: graft.operators.Pca.PcaModel)
      : Array[Double] = {
    require(q.length == model.dim,
      s"rotateQuery: query dim ${q.length} != model dim ${model.dim}")
    model.components.map { row =>
      var s = 0.0
      var i = 0
      while (i < row.length) { s += row(i) * (q(i) - model.mean(i)); i += 1 }
      s
    }
  }

  /** ADC top-k against a persisted OPQ index — [[pqTopKIndexed]] with
    * the query rotated into the index's stored geometry first. Rotation
    * is orthonormal, so the ADC dot products in rotated space
    * approximate the CENTERED original-space dots (a constant per-query
    * shift in ranking terms, identical for every candidate).
    */
  def opqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: Array[Double], k: Int,
                     excludeId: Long = -1L): DataFrame =
    pqTopKIndexed(spark, path,
      rotateQuery(query, opqReadRotation(spark, path)), k, excludeId)

  /** Oracle-portable PQ twin ([[Similarity.annLshPortable]]'s role for
    * ADC): md5-parity ±64 codebooks over int8-quantized vectors, so
    * encode distances, the lookup table, and the scores are all
    * integer-valued and bit-reproducible in SQL. The relational shape is
    * the production one — quantize → encode → ADC table lookups → top-k
    * with total tie-break — only the arithmetic domain changes.
    * Bounds: |q| ≤ 127, |cw| = 64 → per-term (127+64)² ≈ 3.6e4, dist ≤
    * 3e5, lut entry ≤ 127·64·sub, score ≤ m·that — all exact in double
    * AND in BIGINT.
    */
  def pqTopKPortable(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                     queryId: Long, k: Int, m: Int = 8,
                     kCodewords: Int = 16): DataFrame = {
    require(dim % m == 0, s"pqTopKPortable: dim=$dim not divisible by m=$m")
    val sub = dim / m
    val books: Codebooks = Array.tabulate(m)(s => Array.tabulate(kCodewords)(c =>
      Array.tabulate(sub)(i =>
        Similarity.md5ParitySign(s"pq:$s:$c:$i") * 64.0)))
    val q = Similarity.quantizeEmbeddings(emb, idCol, vecCol)
      .filter(size(col("qvec")) === dim)
    val queryRows = q.filter(col("id") === queryId)
      .select(col("qvec").cast("array<double>")).limit(1).collect()
    require(queryRows.nonEmpty, s"query id $queryId not found")
    val lut = adcLut(queryRows(0).getSeq[Double](0).toArray, books)
    q.filter(col("id") =!= queryId)
      .select(col("id").as("vec_id"),
        adcScore(encodeColumn(col("qvec"), books), lut).cast("long").as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Oracle-portable IVF-PQ twin — [[ivfPqTopK]]'s full composition
    * (coarse cells → residual PQ codes → probed-cell ADC with the dot
    * decomposition) in integer arithmetic DuckDB replays bit-for-bit.
    * Coarse cells are [[Similarity.ivfTopKPortable]]'s ±1 md5-parity
    * planes scaled to ±64 as reconstruction centroids (scaling every
    * centroid by one factor preserves the assignment argmax, so the twin
    * shares the IVF twin's cell structure); residuals `qv − 64·sign` stay
    * integral, the "pq:*" ±64 books encode them, and the score is
    * `64·(q·sign_cell) + Σ lut[s][code]` — the ivfPqTopK decomposition
    * with every term exact in BIGINT and in double (|q| ≤ 127, |res| ≤
    * 191 → per-subspace dist ≤ 8·255², lut entry ≤ 8·127·64, score ≤
    * ~1.1e6). Tie-breaks are total (assign: min cell; probe: score desc,
    * cell asc; encode: min codeword; rank: score desc, id asc), so the
    * k-row answer is ONE deterministic relation.
    */
  def ivfPqTopKPortable(emb: DataFrame, idCol: String, vecCol: String,
                        dim: Int, queryId: Long, k: Int, nCentroids: Int = 16,
                        nProbe: Int = 4, m: Int = 8,
                        kCodewords: Int = 16): DataFrame = {
    require(dim % m == 0, s"ivfPqTopKPortable: dim=$dim not divisible by m=$m")
    val sub = dim / m
    val signMatrix = Array.tabulate(nCentroids)(c =>
      Array.tabulate(dim)(i => Similarity.md5ParitySign(s"c$c:$i")))
    val books: Codebooks = Array.tabulate(m)(s => Array.tabulate(kCodewords)(c =>
      Array.tabulate(sub)(i =>
        Similarity.md5ParitySign(s"pq:$s:$c:$i") * 64.0)))
    // One persisted pass carries qvec + the per-cell signed dots: reused by
    // assignment, probe selection, AND the query pull (ivfTopKPortable's
    // projection-barrier rationale).
    val q = Similarity.quantizeEmbeddings(emb, idCol, vecCol)
      .filter(size(col("qvec")) === dim)
      .select(col("id"), col("qvec"),
        graft.expressions.VectorExpressions.signedIntDots(
          col("qvec"), signMatrix).as("__dots"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qRows = q.filter(col("id") === queryId)
      .select(col("qvec").cast("array<double>"), col("__dots"))
      .limit(1).collect()
    // The collect above was the persist's last eager consumer; the returned
    // plan scans the lineage exactly once, so releasing the cache here costs
    // one recompute of a map-side projection (no shuffle) and stops the
    // frame accumulating across the harness's repeated query executions
    // (ADVICE r9 — annLshPortable's own unpersist convention).
    q.unpersist(blocking = false)
    require(qRows.nonEmpty, s"ivfPqTopKPortable: query id $queryId not found")
    val qVec = qRows(0).getSeq[Double](0).toArray
    val qDots = qRows(0).getSeq[Long](1).toArray
    // Probe the query's top-nProbe cells (score desc, cell asc — the
    // assignment's own ranking rule); the centroid dot term of the score
    // decomposition is 64 × the already-computed signed dot per cell.
    val probed = qDots.zipWithIndex.sortBy { case (dd, i) => (-dd, i) }
      .take(nProbe).map(_._2)
    val lut = adcLut(qVec, books)
    val centDotLit = typedlit(qDots.map(_ * 64L).toSeq)
    val centLit = typedlit(signMatrix.map(_.map(s => s * 64L).toSeq).toSeq)
    q.select(col("id"), col("qvec"),
        (array_position(col("__dots"), array_max(col("__dots"))) - 1)
          .cast("int").as("cell"))
      .filter(col("cell").isin(probed.map(Integer.valueOf).toIndexedSeq: _*))
      .filter(col("id") =!= queryId)
      .select(col("id").as("vec_id"),
        (element_at(centDotLit, col("cell") + 1) +
          adcScore(encodeColumn(
            zip_with(col("qvec").cast("array<long>"),
              element_at(centLit, col("cell") + 1), (x, c) => x - c),
            books), lut).cast("long")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }
}
