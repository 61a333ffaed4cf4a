package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming exact top-k leaderboard (SURVEY §2.11 extension) — the
  * deployable form of the E170 bounded top-k: a global "largest k
  * rows ever seen" maintained incrementally across micro-batches.
  * The fold is EXACT, not approximate, because the ranked score is a
  * per-ROW attribute (never a cross-batch aggregate): top-k(A ∪ B) =
  * top-k(top-k(A) ∪ B), so k stored rows are a sufficient statistic
  * for the entire history and per-ingest cost is independent of
  * corpus size.
  *
  * Each micro-batch: take the batch's own top-k (TakeOrderedAndProject
  * — per-partition heaps, no global sort), merge with the k stored
  * rows under the total (score desc, id asc) order, commit as version
  * `batchId` — the batchId-idempotent upsert (a replayed batch
  * rewrites the same version, so restart-after-crash cannot double a
  * row in or out). State is k rows — KB-sized, like a range
  * partitioner's boundaries.
  */
object Leaderboard {

  /** Stream the staged `eventsParquet` in `chunks` micro-batches;
    * returns the final leaderboard (rank, event_id, user_id, cents),
    * rank-ordered, cents = the exact DECIMAL-quantized `value`.
    */
  def run(spark: SparkSession, eventsParquet: String, k: Int,
      chunks: Int = 3): DataFrame =
    Staging.gate(spark, eventsParquet, "graft_lb",
        chunks) { (events, root, ck) =>
      runInto(spark, events, root, ck, k)
      VersionedStore.latestBelow(spark, s"$root/top", Long.MaxValue)
        .map(p => ranked(spark.read.parquet(p)))
        .getOrElse(emptyTop(spark))
    }

  /** The pipeline against a caller-owned state root (`<root>/top`
    * versioned store) and checkpoint — the restart surface, same
    * contract as [[BudgetAdmission.runInto]]. `events` needs columns
    * (event_id, user_id, value).
    */
  def runInto(spark: SparkSession, events: DataFrame, stateRoot: String,
      checkpoint: String, k: Int): Unit = {
    require(k >= 1, s"k must be >= 1: $k")
    Staging.drain(events, checkpoint)(foldBatch(spark, stateRoot, _, _, k))
  }

  /** One ingest: batch top-k ∪ stored top-k → top-k, committed as
    * version `batchId`.
    */
  private def foldBatch(spark: SparkSession, stateRoot: String,
      batch: DataFrame, batchId: Long, k: Int): Unit = {
    val scored = batch.select(col("event_id"), col("user_id"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
        .as("cents"))
      .orderBy(col("cents").desc, col("event_id")).limit(k)
    val prev = VersionedStore
      .latestBelow(spark, s"$stateRoot/top", batchId)
      .map(p => spark.read.parquet(p)
        .select("event_id", "user_id", "cents"))
      .getOrElse(scored.limit(0))
    val merged = prev.unionByName(scored)
      .orderBy(col("cents").desc, col("event_id")).limit(k)
    VersionedStore.write(merged, s"$stateRoot/top", batchId)
  }

  /** Rank the k stored rows. The window is global but its input is
    * the k-row state — metadata, the q13 small-side license.
    */
  private def ranked(top: DataFrame): DataFrame =
    top.withColumn("rank",
      row_number().over(
        Window.orderBy(col("cents").desc, col("event_id")))
        .cast("long"))
      .select(col("rank"), col("event_id"), col("user_id"),
        col("cents"))
      .orderBy("rank")

  private def emptyTop(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long)]
      .toDF("rank", "event_id", "user_id", "cents")
  }
}
