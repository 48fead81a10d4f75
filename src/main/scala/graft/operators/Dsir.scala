package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how much more likely its
  * hashed-n-gram features are under a target distribution than under the
  * raw-corpus distribution, then keep the highest-weighted fraction. The
  * standard recipe for skewing a 100 TB crawl toward a quality target
  * (e.g. a curated reference corpus) without training a classifier.
  *
  * Feature space: unigrams hashed into `buckets` counts (the paper's
  * hashed n-gram generative model). Per-bucket probabilities are
  * Laplace-smoothed; a document's log importance weight is
  *
  *   w(d) = Σ_{tokens t∈d} log( p_target(b(t)) / p_raw(b(t)) )
  *
  * Plan shape (all scale-safe): one explode+hash pass over the corpus, two
  * map-combinable COUNT aggregations (raw and target share one pass via a
  * conditional sum), a `buckets`-row model frame broadcast back onto the
  * per-(doc,bucket) counts, and one per-doc fold. The model table is tiny
  * by construction (buckets ≈ 10⁴ even in the paper), so the only shuffle
  * over the corpus is the (doc,bucket) partial-count aggregation.
  *
  * Determinism: the per-doc sum folds contributions sorted by bucket id
  * (same discipline as BM25's term-ordered fold, Retrieval.scala) so the
  * float result is bit-identical across partitionings and engines.
  */
object Dsir {

  /** (doc, target?, bucket) token stream: fnv1a64 of each whitespace token,
    * low bits as the bucket id (buckets must be a power of two so the
    * signed-long mask equals the unsigned mod the SQL twin computes).
    */
  private def tokenBuckets(docs: DataFrame, isTarget: Column, textCol: String,
                           buckets: Int): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two: $buckets")
    docs.select(col("*"), isTarget.as("__tgt"))
      .select(col("*"),
        explode(graft.functions.Expressions.ngrams(col(textCol), 1)).as("__tok"))
      .withColumn("bucket",
        graft.functions.Expressions.fnv1a64(col("__tok"))
          .bitwiseAND(lit((buckets - 1).toLong)))
  }

  /** Per-document log importance weights (rounded at 6 after the
    * bucket-ordered fold). Documents with zero tokens carry weight 0.
    *
    * One corpus pass: the (doc, bucket) count aggregation is the shared
    * shuffle BOTH the model derivation and the per-doc scoring read —
    * Catalyst plans the second reader as a ReusedExchange, so the
    * explode+hash map work over the corpus runs exactly once (deriving
    * the model from the raw token stream instead would re-scan it).
    */
  def importanceWeights(docs: DataFrame, isTarget: Column, idCol: String,
                        textCol: String, buckets: Int = 1024): DataFrame = {
    val pdb = tokenBuckets(docs, isTarget, textCol, buckets)
      .groupBy(col(idCol), col("__tgt"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val counts = pdb.groupBy(col("bucket"))
      .agg(sum(col("n")).as("cr"),
        sum(when(col("__tgt"), col("n")).otherwise(lit(0L))).as("ct"))
    val totals = counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val model = counts.crossJoin(broadcast(totals))
      .withColumn("lr",
        log(((col("ct") + lit(1.0)) * (col("nr") + lit(buckets.toDouble))) /
          ((col("cr") + lit(1.0)) * (col("nt") + lit(buckets.toDouble)))))
      .select(col("bucket"), col("lr"))
    val perBucket = pdb
      .join(broadcast(model), "bucket")
      .select(col(idCol), col("bucket"),
        (col("n").cast("double") * col("lr")).as("c"))
    val folded = perBucket.groupBy(col(idCol))
      .agg(round(graft.functions.Expressions.foldSumField(
        array_sort(collect_list(struct(col("bucket"), col("c"))))), 6).as("weight"))
    // empty documents never reach the explode — restore them at weight 0
    docs.select(col(idCol)).join(folded, Seq(idCol), "left")
      .withColumn("weight", coalesce(col("weight"), lit(0.0)))
  }

  /** Deterministic top-fraction selection by weight (the paper resamples
    * with Gumbel noise ∝ weight; the noise-free rank cut is the
    * reproducible variant — swap the ORDER BY for weight+gumbel(seed) to
    * recover the sampled form). Adds global `rnk` and `selected`.
    *
    * The unpartitioned rank window funnels the weights frame through one
    * partition — exact and fine up to the tens of millions of rows the
    * frame has AFTER weights collapse a corpus to one row per document,
    * but at full 100 TB corpus width use [thresholdForFraction] +
    * [selectAboveThreshold]: one combinable aggregate and one map-side
    * filter, trading the exact boundary tie-break for a sketched cut
    * (which is what DSIR's own large-scale runs do — the weight is a
    * model score, not an exact quantity worth a global sort).
    */
  def selectTopFraction(weights: DataFrame, frac: Double,
                        idCol: String): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac out of (0,1]: $frac")
    val w = Window.orderBy(col("weight").desc, col(idCol).asc)
    weights
      .withColumn("rnk", row_number().over(w))
      .withColumn("selected",
        col("rnk") <= ceil(lit(frac) * count(lit(1)).over(Window.partitionBy())))
  }

  /** Scale-path cut point: the (1−frac) weight quantile from the
    * t-digest sketch (`approx_percentile`, a combinable aggregate — no
    * global sort, no single-partition window).
    *
    * `accuracy` bounds the sketch's rank error at N/accuracy rows: while
    * accuracy ≥ N the returned value IS the exact order statistic (the
    * regime the oracle pins); beyond it, boundary-tie rows flip within
    * that rank band — DSIR's weights are model scores, so a rank-ε cut
    * is the algorithm's own semantics at corpus scale. Sketch memory is
    * O(accuracy) on one aggregation path (~8 MB at 2^20), so raising it
    * is cheap insurance, not a scalability trade.
    */
  def thresholdForFraction(weights: DataFrame, frac: Double,
                           accuracy: Int = 10000): Double = {
    require(frac > 0.0 && frac <= 1.0, s"frac out of (0,1]: $frac")
    val row = weights
      .agg(percentile_approx(col("weight"), lit(1.0 - frac), lit(accuracy)))
      .head()
    // percentile_approx of an empty frame is NULL — surface a contract
    // error instead of the NPE getDouble would throw
    require(!row.isNullAt(0),
      "thresholdForFraction: weights frame is empty (no quantile exists)")
    row.getDouble(0)
  }

  /** Map-side companion of [thresholdForFraction]. */
  def selectAboveThreshold(weights: DataFrame, threshold: Double): DataFrame =
    weights.withColumn("selected", col("weight") >= lit(threshold))
}
