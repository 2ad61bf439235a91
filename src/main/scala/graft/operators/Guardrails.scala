package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale guardrails for the LSH-family candidate generators.
  *
  * Every banded LSH variant (random-hyperplane ANN, MinHash, SimHash
  * pigeonhole) turns pair generation into a self-join on (band, bucket).
  * That shape is linear only while buckets stay small: a bucket of b rows
  * contributes b² join output, so undersized parameters (too few signature
  * bits for the corpus) or degenerate corpora (millions of byte-identical
  * docs sharing one signature) silently go quadratic. Documentation is not
  * a guardrail — these checks measure the ACTUAL max bucket before the
  * self-join runs and fail loudly with sizing guidance instead.
  *
  * Cost: one aggregate over the banded key frame — (band, bucket, id)
  * triples, no payload — which the self-join is about to shuffle anyway;
  * the callers all persist their input, so the check re-reads cache.
  */
object Guardrails {

  /** Max rows a single (band, bucket) may hold before the self-join is
    * declared quadratic. 8192² ≈ 6.7e7 pair outputs from ONE bucket —
    * already pathological for a near-dup generator (well-sized buckets hold
    * tens of rows); past it, runtime is dominated by bucket blowup.
    */
  val DefaultMaxBucketRows: Long = 8192L

  /** Fail loudly when any bucket exceeds `maxBucketRows` (0 disables the
    * check). `what` names the caller + parameters for the error message;
    * `fix` tells the caller which knob to turn.
    */
  def requireBoundedBuckets(banded: DataFrame, keyCols: Seq[String],
                            maxBucketRows: Long, what: String,
                            fix: String): Unit = {
    if (maxBucketRows <= 0) return
    val top = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")).as("__max"))
      .head()
    val maxBucket = if (top.isNullAt(0)) 0L else top.getLong(0)
    require(maxBucket <= maxBucketRows,
      s"$what: largest candidate bucket holds $maxBucket rows " +
        s"(> $maxBucketRows) — the banded self-join would emit " +
        s"~${maxBucket}^2 pairs from that bucket alone; $fix, " +
        s"or pass maxBucketRows = 0 to override")
  }

  // ---- fused (in-pass) form of the bucket guard (r18, guide §1.2) ------
  // requireBoundedBuckets is an EXTRA aggregate job per LSH call. When
  // pair generation runs as groupBy(bucket)+explode (one shuffle, the
  // bucket's id list in hand), the guard folds into the SAME pass: an
  // assert_true over the list size raises inside the job that would
  // otherwise go quadratic — still strictly BEFORE that bucket emits a
  // single pair — and the caller's rethrow wrapper surfaces the exact
  // IllegalArgumentException contract the eager check had.

  private[graft] val GuardMarker = "bucket-guard: "

  /** `ids` unchanged when the bucket is within bounds; raises (inside the
    * evaluating task) with a marker-prefixed message when oversized.
    * `maxBucketRows <= 0` disables, like [[requireBoundedBuckets]].
    */
  def boundedIds(ids: Column, maxBucketRows: Long, what: String,
                 fix: String): Column =
    if (maxBucketRows <= 0) ids
    // compared as longs: a bound above Int.MaxValue must not wrap negative
    else when(assert_true(size(ids).cast("long") <= lit(maxBucketRows),
        concat(lit(s"$GuardMarker$what: largest candidate bucket holds "),
          size(ids).cast("string"),
          lit(s" rows (> $maxBucketRows) — the banded pair explode " +
            s"would emit that bucket's rows squared; $fix, " +
            "or pass maxBucketRows = 0 to override"))).isNull, ids)

  /** Run `f` (the action materializing the guarded pass) and convert a
    * [[boundedIds]] trip anywhere in the failure's cause chain into the
    * `IllegalArgumentException` [[requireBoundedBuckets]] throws — the
    * guard's external contract is unchanged, it just no longer costs its
    * own job.
    */
  def rethrowBucketGuard[T](f: => T): T =
    try f catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null) {
          val m = c.getMessage
          if (m != null && m.contains(GuardMarker))
            throw new IllegalArgumentException(
              m.substring(m.indexOf(GuardMarker) + GuardMarker.length))
          c = c.getCause
        }
        throw e
    }
}
