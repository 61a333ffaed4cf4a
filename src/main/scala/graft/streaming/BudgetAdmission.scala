package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Packing

/** Streaming corpus admission under a global token budget — the
  * deployable form of E72's batch token-budget selection, and the
  * third state algebra in the versioned-store family: [[
  * IncrementalClusters]] folds SNAPSHOT labels, [[NearDupIndex]]
  * appends an index, this folds a SCALAR — the running token total,
  * the smallest possible monoid, which is exactly what a quota is.
  *
  * Each micro-batch of arriving documents reads the tokens-consumed
  * total from the versioned counter (strictly below its own batchId —
  * the replay rule), prefix-sums its own documents in arrival order on
  * top of that offset (the E72 distributed range-exchange sum, never a
  * single-task window), admits every document that STARTS under the
  * budget (the q86 boundary rule: cum − n_tok < budget), appends the
  * admitted rows, and commits the advanced counter as its own version.
  * Once the budget line is crossed the cumulative only grows, so later
  * batches admit nothing — but still commit their counter, keeping
  * replay and restart exact.
  *
  * The composed semantics are order-deterministic (arrival = doc_id
  * order), so the streamed admission is bit-identical to ONE prefix
  * sum over the whole corpus — which is what the q137 oracle states.
  */
object BudgetAdmission {

  /** Stream the staged `docsParquet` (columns `doc_id`, `text`) in
    * `chunks` micro-batches through the quota; returns the admitted
    * rows (doc_id, n_tok, cum_tok), doc_id-ordered.
    */
  def run(spark: SparkSession, docsParquet: String, budget: Long,
      chunks: Int = 3): DataFrame =
    Staging.gate(spark, docsParquet, "graft_budget", chunks,
        Seq("doc_id")) { (docs, root, ck) =>
      runInto(spark, docs, root, ck, budget)
      VersionedStore.readAllBelow(spark, s"$root/admitted", Long.MaxValue)
        .getOrElse(emptyAdmitted(spark))
        .orderBy("doc_id")
    }

  /** The pipeline against a caller-owned state root (`<root>/admitted`
    * append store, `<root>/seen` counter store) and checkpoint — the
    * restart surface, same contract as
    * [[IncrementalClusters.runInto]].
    */
  def runInto(spark: SparkSession, docs: DataFrame, stateRoot: String,
      checkpoint: String, budget: Long): Unit = {
    require(budget > 0L, s"budget must be positive: $budget")
    Staging.drain(docs, checkpoint)(foldBatch(spark, stateRoot, _, _, budget))
  }

  /** One ingest: offset = the stored token total strictly below this
    * batchId; admit this batch's under-budget prefix; commit admitted
    * rows and the advanced counter as version `batchId`.
    */
  private def foldBatch(spark: SparkSession, stateRoot: String,
      batch: DataFrame, batchId: Long, budget: Long): Unit = {
    val toks = batch
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .persist()
    val offset = VersionedStore
      .latestBelow(spark, s"$stateRoot/seen", batchId)
      .map(p => spark.read.parquet(p).head().getLong(0))
      .getOrElse(0L)
    val admitted = Packing
      .withRunningSum(toks, "cum_tok", "n_tok", col("doc_id").asc)
      .withColumn("cum_tok", col("cum_tok") + lit(offset))
      .filter(col("cum_tok") - col("n_tok") < budget)
      .select("doc_id", "n_tok", "cum_tok")
    VersionedStore.write(admitted, s"$stateRoot/admitted", batchId)
    // the counter advances by EVERY seen token, admitted or not —
    // the budget line never moves backward under arrivals that
    // straddle it (one driver-side long: metadata, not data)
    val seen = offset + toks.agg(coalesce(sum("n_tok"), lit(0L)))
      .head().getLong(0)
    import spark.implicits._
    VersionedStore.write(Seq(seen).toDF("tok_seen"),
      s"$stateRoot/seen", batchId)
    toks.unpersist(blocking = false)
  }

  private def emptyAdmitted(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("n_tok"),
        col("id").as("cum_tok"))
}
