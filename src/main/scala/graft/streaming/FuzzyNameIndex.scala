package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.FuzzyJoin

/** Streaming fuzzy-name screening against a STORED deletion-variant
  * index (SURVEY §2.11 E166) — [[graft.ops.FuzzyJoin]]'s symmetric-
  * delete construction made deployable the way [[NearDupIndex]]
  * deploys LSH bands: the history side's {self} ∪ one-char-deletion
  * variants are written ONCE as a (variant, name) parquet index, and
  * each arriving micro-batch explodes its own variants, equi-joins the
  * index (the stream-static join — candidates only where variant keys
  * collide, never |batch|×|history|), collapses per distinct pair, and
  * exact-verifies with one codegen'd `levenshtein` per candidate.
  * Matches append as version `batchId` under the replay rule; arrivals
  * are batch-disjoint, so the appended union IS the batch answer the
  * oracle replays with a full O(|A|·|H|) levenshtein join — green is
  * the zero-false-negative proof for the streamed index.
  */
object FuzzyNameIndex {

  /** Build the (variant, name) index for `names` (column `nameCol`) at
    * `path` — once, caller-memoized.
    */
  def writeIndex(names: DataFrame, nameCol: String, path: String): Unit =
    names.select(col(nameCol).as("name")).distinct()
      .withColumn("__var", explode(FuzzyJoin.deletionVariants("name")))
      .select("__var", "name")
      .write.mode("overwrite").parquet(path)

  /** Stream the staged `namesParquet` rows passing `arrivalFilter`
    * (column `nameCol`) in `chunks` micro-batches against the stored
    * index; returns (arr_name, hist_name, dist) with dist ≤ 1,
    * ordered.
    */
  def run(spark: SparkSession, namesParquet: String, nameCol: String,
      indexPath: String, arrivalFilter: org.apache.spark.sql.Column,
      chunks: Int = 3): DataFrame =
    Staging.gate(spark, namesParquet, "graft_fuzzy", chunks,
        Seq(nameCol)) { (rows, root, ck) =>
      runInto(spark, rows.filter(arrivalFilter), nameCol, indexPath,
        root, ck)
      VersionedStore.readAllBelow(spark, s"$root/matches", Long.MaxValue)
        .getOrElse(emptyMatches(spark))
        .orderBy("arr_name", "hist_name")
    }

  /** The pipeline against a caller-owned state root (`<root>/matches`
    * append store) and checkpoint — the restart surface, same
    * contract as [[NearDupIndex.runInto]].
    */
  def runInto(spark: SparkSession, rows: DataFrame, nameCol: String,
      indexPath: String, stateRoot: String, checkpoint: String): Unit =
    Staging.drain(rows, checkpoint)(
      foldBatch(spark, indexPath, _, nameCol, stateRoot, _))

  private def foldBatch(spark: SparkSession, indexPath: String,
      batch: DataFrame, nameCol: String, stateRoot: String,
      batchId: Long): Unit = {
    val idx = spark.read.parquet(indexPath)
    val cand = batch.select(col(nameCol).as("arr_name")).distinct()
      .withColumn("__var",
        explode(FuzzyJoin.deletionVariants("arr_name")))
      .join(idx, Seq("__var"))
      .select(col("arr_name"), col("name").as("hist_name"))
      .dropDuplicates("arr_name", "hist_name")
    val matches = cand
      .withColumn("dist",
        levenshtein(col("arr_name"), col("hist_name")).cast("long"))
      .filter(col("dist") <= 1)
    VersionedStore.write(matches, s"$stateRoot/matches", batchId)
  }

  private def emptyMatches(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").cast("string").as("arr_name"),
        col("id").cast("string").as("hist_name"),
        col("id").as("dist"))
}
