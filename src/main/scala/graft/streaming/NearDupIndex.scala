package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.ops.NearDup

/** Streaming near-duplicate detection against a STORED LSH index —
  * the near-dup member of the incremental-maintenance axis (the
  * E5–E7/E89 banding algebra composed the way [[IncrementalClusters]]
  * composes E122's): documents ARRIVE in micro-batches, each batch is
  * shingled/signed/banded once, probed against the PERSISTED band
  * index of everything that arrived before it, and then APPENDED to
  * that index — so a crawl pipeline keeps "is this new page a near-dup
  * of anything we already hold?" current without ever re-signing the
  * corpus.
  *
  * State is two append-mode [[VersionedStore]]s plus one for results
  * (append state: each version holds only that batch's additions — the
  * Hive ingest-partition shape, the index is never rewritten):
  *  - bands:    (doc_id, band, band_key) — the probe target; ONE
  *              equi-join per batch, collisions only, never n²;
  *  - sigs:     (doc_id, sig[32]) — verification stays in signature
  *              space (k longs per doc regardless of document size;
  *              the q99 discipline — exact shingle sets never persist);
  *  - verdicts: (doc_id, dup_of) per batch.
  * Batch replay is safe by the store's read-below-own-id/overwrite-
  * own-id rule. At 100 TB the stored band table is what you'd bucket
  * by band_key so the probe co-locates; the per-batch cost is
  * O(batch + collisions), independent of corpus size.
  *
  * Semantics (deterministic, order-composable): doc d is a duplicate
  * iff some EARLIER doc e (previous batch, or same batch with e < d)
  * shares a band with d and the signature-estimated Jaccard is ≥
  * `minEstJaccard`; `dup_of` = the least such e. Arrival order is
  * doc_id order (the staging chunks are doc_id ranges), so earlier =
  * smaller id and the streamed verdicts are bit-identical to the
  * all-pairs formula an oracle can state over the whole corpus — which
  * is exactly what the q131 oracle does.
  */
object NearDupIndex {

  private val K = 32 // min-hashes per signature
  private val BANDS = 4
  private val ROWS_PER_BAND = 8

  /** Stream the staged `docsParquet` (columns `doc_id`, `text`) in
    * `chunks` micro-batches through the stored index; returns all
    * duplicate verdicts (doc_id, dup_of), doc_id-ordered.
    */
  def run(spark: SparkSession, docsParquet: String, chunks: Int = 3,
      minEstJaccard: Double = 0.5): DataFrame =
    Staging.gate(spark, docsParquet, "graft_ndidx", chunks,
        Seq("doc_id")) { (docs, root, ck) =>
      runInto(spark, docs, root, ck, minEstJaccard)
      VersionedStore.readAllBelow(spark, s"$root/verdicts", Long.MaxValue)
        .getOrElse(emptyVerdicts(spark))
        .orderBy("doc_id")
    }

  /** The pipeline against a caller-owned state root (`<root>/bands`,
    * `<root>/sigs`, `<root>/verdicts`) and checkpoint — the restart
    * surface, same contract as [[IncrementalClusters.runInto]].
    */
  def runInto(spark: SparkSession, docs: DataFrame, stateRoot: String,
      checkpoint: String, minEstJaccard: Double = 0.5): Unit =
    Staging.drain(docs, checkpoint)(
      foldBatch(spark, stateRoot, _, _, minEstJaccard))

  /** One ingest: sign + band the batch, probe the stored index (all
    * versions strictly below this batchId), judge candidates in
    * signature space, then commit this batch's bands/sigs/verdicts as
    * version `batchId`.
    */
  private def foldBatch(spark: SparkSession, stateRoot: String,
      batch: DataFrame, batchId: Long, minEstJaccard: Double): Unit = {
    // batch-sized tables, each consumed by 2–3 joins below — cache
    // once (the q25 fan-out discipline; persist() so they can be
    // RELEASED after the batch commits — a localCheckpoint's pinned
    // RDD is unreachable through Dataset.rdd).
    // Widen.ifFewPartitions: a staged chunk is ONE file, so the
    // shingle+MinHash signing — the batch's CPU center — would run
    // single-task at any core count (JobProfile r17: 3 × 1.5 s
    // 1-task jobs = half of q131's wall); identity on a
    // production-width batch
    val sigs = NearDup.minHashSigs(
        graft.ops.Widen.ifFewPartitions(batch)
          .withColumn("shingles", TextFns.shingles("text", 5))
          .select("doc_id", "shingles"),
        "doc_id", "shingles", K, "sig")
      .persist()
    val bands = NearDup.bandRows(sigs, "doc_id", "sig", BANDS,
      ROWS_PER_BAND, K).persist()

    // candidates: stored-index probe (hist id is the earlier side)
    // ∪ within-batch self-collisions (id_a < id_b) — chunks are
    // doc_id ranges, so every hist id < every batch id and "earlier"
    // is exactly "smaller id" across both sources
    val probed = VersionedStore
      .readAllBelow(spark, s"$stateRoot/bands", batchId)
      .map(hist => NearDup.crossCandidatePairs(bands, hist, "doc_id")
        .select(col("hist_id").as("id_a"), col("new_id").as("id_b")))
      .getOrElse(spark.range(0)
        .select(col("id").as("id_a"), col("id").as("id_b")))
    val cand = NearDup.candidatePairs(bands, "doc_id").union(probed)

    // verification in signature space: id_b is always a batch doc
    // (local sigs); id_a may be historical (stored sigs ∪ local)
    val aSigs = VersionedStore
      .readAllBelow(spark, s"$stateRoot/sigs", batchId)
      .map(_.union(sigs)).getOrElse(sigs)
    val verdicts = cand
      .join(aSigs.select(col("doc_id").as("id_a"), col("sig").as("__sa")),
        "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("__sb")),
        "id_b")
      .filter(expr(NearDup.estimatedJaccardExpr("__sa", "__sb", K))
        >= minEstJaccard)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min("id_a").as("dup_of"))

    VersionedStore.write(verdicts, s"$stateRoot/verdicts", batchId)
    VersionedStore.write(bands, s"$stateRoot/bands", batchId)
    VersionedStore.write(sigs.select("doc_id", "sig"),
      s"$stateRoot/sigs", batchId)
    bands.unpersist(blocking = false)
    sigs.unpersist(blocking = false)
  }

  private def emptyVerdicts(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("dup_of"))
}
