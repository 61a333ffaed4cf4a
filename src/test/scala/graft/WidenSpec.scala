package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Widen

/** [[graft.ops.Widen]]: the size guard (estimated bytes below
  * `cores × 4 MiB`) decides whether a frame is re-spread to core width,
  * and each entry point keeps its rows.
  */
class WidenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def cores = spark.sparkContext.defaultParallelism
  /** Rows of `spark.range` whose estimate (8 bytes a row) is the floor. */
  private def floorRows = cores.toLong * (4L << 20) / 8

  test("ifNarrow widens a single-file scan to the default parallelism") {
    assume(cores >= 2, "needs a multi-core session")
    val dir = Files.createTempDirectory("graft_widen_spec").toString
    spark.range(1000).select(col("id").as("doc_id")).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(scan.rdd.getNumPartitions === 1)
    val wide = Widen.ifNarrow(scan)
    assert(wide.rdd.getNumPartitions === cores)
    assert(wide.agg(count(lit(1)), sum("doc_id")).head() ===
      scan.agg(count(lit(1)), sum("doc_id")).head())
  }

  test("ifNarrow is the identity when the size estimate is above the " +
      "floor") {
    val big = spark.range(floorRows * 2).toDF()
    assert(Widen.ifNarrow(big) eq big)
    // the same source below the floor does widen: the estimate decides
    val small = spark.range(floorRows / 2).toDF()
    assert(!(Widen.ifNarrow(small) eq small))
  }

  test("byDocId pins core width on a narrow frame, keyed by doc_id") {
    assume(cores >= 2, "needs a multi-core session")
    import spark.implicits._
    val docs = (0 until 400).map(i => (i % 50L, s"t$i")).toDF("doc_id", "text")
    val placed = Widen.byDocId(docs)
    assert(placed.rdd.getNumPartitions === cores)
    val partsPerDoc = placed
      .withColumn("__p", spark_partition_id())
      .groupBy("doc_id").agg(countDistinct("__p").as("n"))
    assert(partsPerDoc.count() === 50L)
    assert(partsPerDoc.filter(col("n") =!= 1).count() === 0L,
      "every doc_id must land in exactly one partition")
    assert(placed.count() === 400L)
  }

  test("ifFewPartitions widens a 1-partition frame, keeps a wide one") {
    assume(cores >= 2, "needs a multi-core session")
    val one = spark.range(0, 100, 1, 1).toDF()
    val wide = Widen.ifFewPartitions(one)
    assert(wide.rdd.getNumPartitions === cores)
    assert(wide.agg(sum("id")).head().getLong(0) === 4950L)
    val already = spark.range(0, 100, 1, cores).toDF()
    assert(Widen.ifFewPartitions(already) eq already)
  }
}
