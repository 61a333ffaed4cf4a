package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Streaming deletion-compliance enforcement — q248's tombstone screen
  * run LIVE: where the batch audit asks "did deleted content re-enter
  * the corpus" after the fact, this blocks it AT INGESTION — every
  * arriving micro-batch's canonical-form fingerprints
  * ([[TextFns.fingerprint]]: NFC-normalized, whitespace-normalized,
  * lower-cased md5 — so neither trivial re-formatting nor a
  * decomposed-Unicode re-encode evades the tombstone) probe the
  * deletion-request store and the per-batch blocked counts append as
  * version `batchId`. The tombstone store is KB-to-MB-sized (deletion
  * requests, not the corpus), so the probe is one BROADCAST left join
  * — the [[ContaminationScreen]] shape, per-batch cost independent of
  * corpus size, genuinely (the reference side is small by nature;
  * contrast [[NoveltyMonitor]], whose history side is corpus-sized
  * and therefore bucketed instead of broadcast). Near-dup evasion
  * (same content, perturbed) is the batch q248 MinHash screen's job;
  * this is the exact-match gate that runs in-line.
  */
object TombstoneScreen {

  /** Stream the staged `docsParquet` (columns `doc_id`, `text`) in
    * `chunks` micro-batches against `tombstones` (column `fp` of
    * canonical fingerprints); returns one row per batch with arrival
    * and blocked counts, in exact basis points, ordered.
    */
  def run(spark: SparkSession, docsParquet: String,
      tombstones: DataFrame, chunks: Int = 3): DataFrame =
    Staging.gate(spark, docsParquet, "graft_tombmon", chunks,
        Seq("doc_id")) { (docs, root, ck) =>
      runInto(spark, docs, tombstones, root, ck)
      VersionedStore.readAllBelow(spark, s"$root/rates", Long.MaxValue)
        .getOrElse(emptyRates(spark))
        .orderBy("batch_id")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface.
    */
  def runInto(spark: SparkSession, docs: DataFrame, tombstones: DataFrame,
      stateRoot: String, checkpoint: String): Unit =
    Staging.drain(docs, checkpoint)(
      foldBatch(spark, stateRoot, tombstones, _, _))

  private def foldBatch(spark: SparkSession, stateRoot: String,
      tombstones: DataFrame, batch: DataFrame, batchId: Long): Unit = {
    // dropDuplicates before the probe: deletion requests legitimately
    // repeat content (two requesters, one document), and a duplicated
    // store fp would multiply matched arrival rows through the left
    // join, inflating n_docs AND n_blocked. The store stays
    // request-sized, so the dedup rides inside the broadcast build.
    val rates = batch
      .select(TextFns.fingerprint("text").as("fp"))
      .join(broadcast(tombstones.select(col("fp")).dropDuplicates("fp")
        .withColumn("__hit", lit(1L))), Seq("fp"), "left")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("__hit"), lit(0L)).as("n_blocked"))
      .select(lit(batchId).as("batch_id"), col("n_docs"),
        col("n_blocked"),
        expr("(n_blocked * 10000L) div n_docs").as("blocked_bp"))
    VersionedStore.write(rates, s"$stateRoot/rates", batchId)
  }

  private def emptyRates(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("batch_id"), col("id").as("n_docs"),
        col("id").as("n_blocked"), col("id").as("blocked_bp"))
}
