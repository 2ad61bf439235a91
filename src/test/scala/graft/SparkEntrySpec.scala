package graft

/** Driver-contract invariants: the flagship entry works, every oracle key
  * has a query, and every query runs against the smallest fixture.
  */
class SparkEntrySpec extends SparkSpec {

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without query: $orphans")
  }

  test("oracle coverage: at least 80% of queries are oracle-checked") {
    val covered = SparkEntry.queries.keySet.count(SparkEntry.oracleSql.contains)
    assert(covered * 5 >= SparkEntry.queries.size * 4,
      s"$covered of ${SparkEntry.queries.size} oracle-checked")
  }

  test("every rows-only query is pinned by an oracled gate or portable twin") {
    // The repo-wide claim "the meaningfully-unverified surface is zero":
    // a query without oracle SQL must name at least one ORACLED companion
    // (quality gate / portable twin / exact invariant) here. Adding a
    // rows-only query without a pin fails this test by construction.
    val pins: Map[String, Seq[String]] = Map(
      "q_cur_pack_bpe" -> Seq("q_cur_pack_bpe_gate"),
      "q_dedup_minhash_candidates" ->
        Seq("q_dedup_minhash_gate", "q_dedup_minhash_portable"),
      "q_dedup_semdedup" ->
        Seq("q_dedup_semdedup_gate", "q_dedup_semdedup_portable"),
      "q_dedup_simhash_groups" ->
        Seq("q_dedup_simhash_gate", "q_dedup_simhash_portable"),
      "q_dedup_simhash_neardup" ->
        Seq("q_dedup_simhash_gate", "q_dedup_simhash_portable"),
      "q_sim_ann_lsh" -> Seq("q_sim_recall_gate", "q_sim_ann_portable"),
      "q_sim_ivf_indexed" -> Seq("q_sim_recall_gate", "q_sim_ivf_portable"),
      "q_sim_ivf_topk" -> Seq("q_sim_recall_gate", "q_sim_ivf_portable"),
      "q_sim_ivfpq_topk" -> Seq("q_sim_pq_gate", "q_sim_ivfpq_portable"),
      "q_sim_pq_indexed" -> Seq("q_sim_pq_gate", "q_sim_pq_portable"),
      // r14: the persisted-OPQ probe is pinned by the oracled rotation
      // gate (recall >= unrotated floor, reconstruction band) plus the
      // family's portable ADC twin.
      "q_sim_opq_indexed" -> Seq("q_sim_opq_gate", "q_sim_pq_portable"),
      "q_sim_pq_topk" -> Seq("q_sim_pq_gate", "q_sim_pq_portable"),
      "q_text_bpe_encode" -> Seq("q_text_bpe_gate"),
      "q_text_bpe_ids" -> Seq("q_text_bpe_ids_gate"),
      "q_text_bpe_ids_scored" -> Seq("q_text_bpe_ids_gate"),
      // r13: the framed form is pinned by the specials gate (framing,
      // truncation, strip-inverse, pad shape, conservation + n_special)
      "q_text_bpe_ids_framed" -> Seq("q_text_specials_gate"),
      // r14: the materialized pack rows are pinned by their own gate
      // (span tiling, budget shape, tail padding, per-doc reconstruction,
      // oracled token-total tie, pack count)
      "q_cur_pack_spans" -> Seq("q_cur_pack_spans_gate"),
      "q_text_bpe_bytes_scored" -> Seq("q_text_bpe_bytes_gate"),
      "q_cur_pack_bpe_scored" -> Seq("q_cur_pack_bpe_gate"),
      "q_text_unigram_ids" ->
        Seq("q_text_unigram_gate", "q_text_unigram_seed_portable"),
      "q_text_unigram_ids_scored" ->
        Seq("q_text_unigram_gate", "q_text_unigram_seed_portable"),
      "q_text_wordpiece_ids" -> Seq("q_text_wordpiece_gate"),
      "q_text_wordpiece_ids_scored" -> Seq("q_text_wordpiece_gate"),
      "q_text_compress_ratio" -> Seq("q_text_compress_gate"),
      "q_sim_text_ann" ->
        Seq("q_text_hashvec_gate", "q_text_hashvec_portable"),
      "q_dedup_semantic_text" ->
        Seq("q_text_hashvec_gate", "q_text_hashvec_portable",
          "q_dedup_semdedup_gate", "q_dedup_semdedup_portable"),
      // r12: the amortized probe is pinned by the oracled equality gate
      // (probe survivors == train-form survivors) on top of the family's
      // own gates/twins.
      "q_dedup_semantic_indexed" ->
        Seq("q_dedup_semantic_idx_gate", "q_text_hashvec_gate",
          "q_text_hashvec_portable", "q_dedup_semdedup_gate",
          "q_dedup_semdedup_portable"),
      // r12: the PCA probe's model (eigenvectors) is not SQL-derivable;
      // the full-rank gate pins orthonormality, the distributed-variance
      // cross-check, and exact reconstruction through the same natives.
      "q_emb_pca_scored" -> Seq("q_emb_pca_gate"),
      // r15: the sketch estimate is engine-private DataSketches
      // arithmetic; the gate oracles the exact counts of the same
      // base+batch union and pins the bounded-error estimate booleans.
      "q_prof_hll_indexed" -> Seq("q_prof_hll_gate"))
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val unpinned = rowsOnly.filter(q => pins.getOrElse(q, Nil).isEmpty)
    assert(unpinned.isEmpty, s"rows-only queries without a declared pin: $unpinned")
    val danglingPins = pins.flatMap { case (q, ps) =>
      ps.filterNot(SparkEntry.oracleSql.contains).map(p => s"$q -> $p")
    }
    assert(danglingPins.isEmpty,
      s"pins that are not oracled queries themselves: $danglingPins")
    val stale = pins.keySet -- rowsOnly
    assert(stale.isEmpty, s"pinned queries that are no longer rows-only: $stale")
  }

  test("verify-only names are live queries; *_scored probes share their train-form oracle") {
    val stale = SparkEntry.verifyOnlyQueries -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"verifyOnlyQueries naming nothing registered: $stale")
    // The amortized-probe contract (r11): a probe row loads a model the
    // oracle re-derives by replaying training, so the SQL must be the
    // train form's VERBATIM — a drifted copy would silently weaken the
    // shared-oracle claim.
    val twins = Map(
      "q_text_nb_margin_scored" -> "q_text_nb_margin",
      "q_text_langid_scored" -> "q_text_langid_ct",
      "q_cur_dsir_scored" -> "q_cur_dsir_sample")
    twins.foreach { case (probe, train) =>
      assert(SparkEntry.oracleSql(probe) == SparkEntry.oracleSql(train),
        s"$probe oracle drifted from $train")
      assert(SparkEntry.verifyOnlyQueries.contains(train),
        s"$train should be verify-only (its probe form $probe is benched)")
      assert(!SparkEntry.verifyOnlyQueries.contains(probe),
        s"$probe is the benched form and must not be verify-only")
    }
    // the rolling-fingerprint twin shares the md5 form's oracle verbatim
    // (both rows stay benched, so only the equality applies)
    assert(SparkEntry.oracleSql("q_dedup_substring_fast") ==
      SparkEntry.oracleSql("q_dedup_substring"),
      "q_dedup_substring_fast oracle drifted from q_dedup_substring")
  }

  test("spread(): single-split input keeps the exchange; a pre-split input " +
      "produces NO exchange (r18 gate, VERDICT r17 §wrong-1)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    val par = spark.sparkContext.defaultParallelism
    // single file, one row group — the bench fixture's shape
    spark.range(1000).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/one")
    // many files: a production input that arrives already split
    spark.range(1000).toDF("doc_id").repartition(par + 4)
      .write.mode("overwrite").parquet(s"$dir/many")
    def hasRoundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("roundrobin") ||
        df.queryExecution.executedPlan.toString.contains("RoundRobin")
    val one = graft.pipeline.CorpusPipeline.spread(
      spark.read.parquet(s"$dir/one").select(col("doc_id")))
    assert(hasRoundRobin(one),
      "single-split input must keep the spreading exchange")
    assert(one.rdd.getNumPartitions == par)
    val many = graft.pipeline.CorpusPipeline.spread(
      spark.read.parquet(s"$dir/many").select(col("doc_id")))
    assert(!hasRoundRobin(many),
      "a pre-split input must NOT pay a repartition exchange")
    // value identity either way
    assert(one.count() == 1000 && many.count() == 1000)
  }

  test("every registered query executes and yields a non-empty schema at sf0.001") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, "/root/testdata/sf0.001")
        // Complex-typed output columns crash the DRIVER's pandas lexsort
        // (r10: q_text_bpe_ids / q_text_unigram_ids shipped as comparator
        // errors) — every registered query, oracled or rows-only, must
        // emit scalar columns only (r7 q_sim_quantize ruling).
        val complexCols = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => f.name
        }
        if (df.schema.isEmpty) Some(s"$name: empty schema")
        else if (complexCols.nonEmpty)
          Some(s"$name: complex-typed output cols ${complexCols.mkString(",")}" +
            " (driver lexsort crashes; project through array_join)")
        else None
      } catch { case e: Exception => Some(s"$name: ${e.getMessage.take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
