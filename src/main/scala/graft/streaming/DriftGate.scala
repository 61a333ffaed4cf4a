package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Drift

/** Streaming distribution-drift gate — the last monitoring primitive
  * without a live form (novelty q223, rate q185, CUSUM q200, LM
  * quality q213, media q267, tombstones q255 all gate arrivals; the
  * vocabulary-drift audit q232 ran only after the fact): every
  * arriving micro-batch's token stream projects onto the hashed
  * vocabulary buckets ([[Drift]]'s count-table discipline — parameter-
  * bounded, never vocabulary-sized) and compares against a STORED
  * baseline distribution (trained from the accepted corpus, persisted
  * as a ≤ buckets-row parquet table — the model-store shape), so a
  * crawler that starts returning a different KIND of text (new
  * language, spam flood, encoding corruption) is caught batch-by-
  * batch with per-bucket attribution available, not at the next
  * audit. The statistic is q232's exact-integer form: per-batch
  * bucket frequencies in truncating-integer ppm, drift =
  * Σ|Δppm| div 2 (the TV distance in ppm — 0 ⇔ identical at ppm
  * resolution, 10⁶ ⇔ disjoint), alert when it exceeds the
  * caller's threshold.
  *
  * Per-batch cost: one scan-local token→bucket expansion, one
  * ≤ buckets-group partial agg, one ≤ buckets-row join against the
  * loaded baseline — the only data-sized work is the token scan the
  * batch pays anywhere. Rows append as version `batchId` under the
  * [[VersionedStore]] replay rule.
  */
object DriftGate {

  /** Stream the staged `docsParquet` rows matching `docFilter`
    * (columns `doc_id`, `text`) in `chunks` micro-batches against the
    * stored `baseline` (columns `bucket`, `ppm` over `buckets`
    * buckets); returns one row per batch: token count, drifted-bucket
    * count, exact TV drift in ppm, and the threshold verdict.
    */
  def run(spark: SparkSession, docsParquet: String, baseline: DataFrame,
      buckets: Int, alertPpm: Long,
      docFilter: org.apache.spark.sql.Column = lit(true),
      chunks: Int = 3): DataFrame =
    Staging.gate(spark, docsParquet, "graft_driftgate", chunks,
        Seq("doc_id")) { (docs, root, ck) =>
      runInto(spark, docs.filter(docFilter), baseline, buckets, alertPpm,
        root, ck)
      VersionedStore.readAllBelow(spark, s"$root/rates", Long.MaxValue)
        .getOrElse(emptyRates(spark))
        .orderBy("batch_id")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface.
    */
  def runInto(spark: SparkSession, docs: DataFrame, baseline: DataFrame,
      buckets: Int, alertPpm: Long, stateRoot: String,
      checkpoint: String): Unit =
    Staging.drain(docs, checkpoint) { (batch, batchId) =>
      VersionedStore.write(
        batchDrift(batch, baseline, buckets, alertPpm)
          .select(lit(batchId).as("batch_id"), col("n_tokens"),
            col("drifted_buckets"), col("drift_ppm"),
            col("drift_alert")),
        s"$stateRoot/rates", batchId)
    }

  /** One batch's drift row (sans batch id): the q232 statistic against
    * the stored baseline. Public so specs can assert the arithmetic
    * on planted distributions.
    */
  def batchDrift(batch: DataFrame, baseline: DataFrame, buckets: Int,
      alertPpm: Long): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val counts = batch
      .select(explode(expr(
        "filter(split(text, ' '), t -> t <> '')")).as("__w"))
      .select(expr("cast(conv(substring(md5(__w), 1, 8), 16, 10) " +
        s"as bigint) % $buckets").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("__c"))
    val withPpm = counts
      .crossJoin(broadcast(counts.agg(sum("__c").as("__n"))))
      .select(col("bucket"),
        expr(s"__c * ${Drift.Ppm} div __n").as("__ppm_s"), col("__n"))
    // both sides are ≤ buckets rows post-agg — the full outer join is
    // metadata-sized (a bucket absent on one side drifts by its full
    // ppm weight, so neither side may be dropped)
    withPpm
      .join(baseline.select(col("bucket"), col("ppm").as("__ppm_b")),
        Seq("bucket"), "full_outer")
      .select(
        abs(coalesce(col("__ppm_s"), lit(0L)) -
          coalesce(col("__ppm_b"), lit(0L))).as("__d"),
        col("__n"))
      .agg(max("__n").as("n_tokens"),
        sum(when(col("__d") > 0L, 1L).otherwise(0L))
          .as("drifted_buckets"),
        expr(s"sum(__d) div 2").as("drift_ppm"))
      .withColumn("drift_alert", col("drift_ppm") > alertPpm)
      // a batch with rows but ZERO tokens (all empty/whitespace text)
      // has no distribution to compare: n_tokens aggregates to NULL
      // (only baseline rows survived the outer join) and drift_ppm
      // would collapse to Σbaseline/2 ≈ 500k — neither 0 nor the 10⁶
      // disjoint endpoint. Emit NO row for it (the version still
      // commits empty — append readers see no gap), matching the
      // oracle, which derives batches only from rows with tokens.
      .filter(col("n_tokens").isNotNull)
  }

  private def emptyRates(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("batch_id"), col("id").as("n_tokens"),
        col("id").as("drifted_buckets"), col("id").as("drift_ppm"),
        lit(false).as("drift_alert"))
}
