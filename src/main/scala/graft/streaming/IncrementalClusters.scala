package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.DedupClusters

/** The DEPLOYABLE composition of the incremental-maintenance axis
  * (SURVEY §2.11 E-surface): a continuous pipeline that keeps
  * duplicate-cluster labels current as near-dup edges ARRIVE, built
  * from pieces each proven separately — q122/q123's foreachBatch
  * delivery + batchId-idempotent sink, q128's quotient-graph
  * incremental CC ([[DedupClusters.incrementalComponents]]), and the
  * multi-batch arrival staging ([[Staging.stageSplitAndRead]]). This
  * is the shape a daily-crawl dedup pipeline actually runs: each
  * micro-batch of edges folds into the STORED labeling (a parquet
  * state table), per-ingest cost sized by the batch and the
  * components it touches — independent of corpus size.
  *
  * State handling is the production pattern, not sink-side magic:
  *  - the labeling lives as versioned parquet (`batch-<id>` dirs);
  *    each micro-batch reads the latest version BELOW its own
  *    batchId and overwrites only its own — so a replayed batch
  *    (failure recovery re-executes with the same id and data) reads
  *    the same predecessor state and rewrites the same output:
  *    idempotent, exactly like q58/q122's sinks;
  *  - the stream checkpoint (offsets) and the label versions advance
  *    together; on restart, Structured Streaming resumes at the first
  *    uncommitted batch, whose label fold re-reads its predecessor —
  *    the resume spec drives this through a real stop/restart.
  *
  * Exactness: min-labels compose across batches (the q128 argument,
  * inductively over the arrival order), so the final labeling is
  * bit-identical to one CC over ALL edges — q130's oracle is
  * literally q71's full-recompute closure.
  */
object IncrementalClusters {

  /** Stream the staged `edgesParquet` (columns `id_a`, `id_b`) in
    * `chunks` micro-batches and fold each into the versioned label
    * store; returns the final membership with component sizes
    * (doc_id, cluster_rep, n_members) — the q71/q128 review shape.
    */
  def run(spark: SparkSession, edgesParquet: String,
      chunks: Int = 3): DataFrame =
    runWithHistory(spark, edgesParquet, chunks)._1

  /** [[run]], also returning the label store's directory — the version
    * history is itself a queryable surface ([[VersionedStore.readAt]]):
    * version k is the complete labeling as of micro-batch k, so a
    * caller can audit "what were the clusters after Tuesday's ingest"
    * without replaying anything (q135 oracles exactly that read against
    * a prefix recompute).
    */
  def runWithHistory(spark: SparkSession, edgesParquet: String,
      chunks: Int = 3): (DataFrame, String) =
    Staging.gate(spark, edgesParquet, "graft_incrcc", chunks,
        Seq("id_a", "id_b")) { (edges, labDir, ck) =>
      runInto(spark, edges, labDir, ck)
      (DedupClusters.withSizes(
          currentLabels(spark, labDir).getOrElse(emptyLabels(spark)))
        .orderBy("doc_id"), labDir)
    }

  /** The pipeline against CALLER-OWNED label-store and checkpoint
    * locations — the restart surface: stop, add files, call again with
    * the same `labDir`/`checkpoint`, and the stream resumes from the
    * checkpoint while label folds continue from the stored versions
    * (StreamIncrClustersSpec drives exactly that).
    */
  def runInto(spark: SparkSession, edges: DataFrame, labDir: String,
      checkpoint: String): Unit =
    Staging.drain(edges, checkpoint)(foldBatch(spark, labDir, _, _))

  /** One ingest: fold `batch`'s edges into the latest stored labeling
    * strictly below `batchId` and write version `batchId`. Reading
    * "latest below OWN id" (not "latest") is what makes the replayed-
    * batch case correct: a re-executed batch must not read the partial
    * state its failed attempt may have written.
    */
  private def foldBatch(spark: SparkSession, labDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    // labels are SNAPSHOT state: each version is the full folded
    // labeling, so a batch reads the one latest version below its id
    // (the VersionedStore replay discipline)
    val prev = VersionedStore.latestBelow(spark, labDir, batchId)
      .map(p => spark.read.parquet(p))
      .getOrElse(emptyLabels(spark))
    VersionedStore.write(
      DedupClusters.incrementalComponents(prev, batch, "id_a", "id_b"),
      labDir, batchId)
  }

  /** The current labeling = the highest committed version. */
  def currentLabels(spark: SparkSession,
      labDir: String): Option[DataFrame] =
    VersionedStore.latestBelow(spark, labDir, Long.MaxValue)
      .map(p => spark.read.parquet(p))

  private def emptyLabels(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("node"), col("id").as("cluster_rep"))
}
