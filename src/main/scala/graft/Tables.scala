package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver corpus (TESTDATA.md): one parquet file per table
  * under the sf-specific testdata dir. Scans stay declarative so Catalyst
  * pushes filters/column pruning into the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
