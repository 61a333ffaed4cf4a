package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Streaming media ingestion gate — the [[TombstoneScreen]] shape
  * pointed at BINARY payloads: every arriving micro-batch's media is
  * DECODED through the real codec path and blockhashed on decoded
  * pixels ([[Multimodal.toRaster]] → [[Multimodal.blockHash]] — the
  * q252/q265 discipline: container bytes are encoder-private, the
  * raster is the image), then probed against a known-bad perceptual
  * blocklist (removal-request media, KB-sized by nature). The probe
  * is a NEAR-match, not byte equality: re-encoding shifts a few
  * blockhash bits (measured: up to 3 of 60 across PNG→JPEG at q0.92 —
  * only 62% of re-encodes hash identically), so an exact-fp join
  * would let a third of re-encoded blocklisted media straight
  * through. The pigeonhole discipline (E187) closes it: the 60-bit
  * fingerprint splits into 4 bands of 15 bits — hamming ≤ 3 (the
  * measured re-encode drift) always leaves ≥ 1 of 4 bands intact —
  * candidates come from a BROADCAST band-equality join and are
  * verified with one `bit_count(fp ^ bfp) ≤ 8` filter (the verify
  * threshold is wider than the band guarantee on purpose: a 4–8-bit
  * match is still blocked whenever a band survives). Because
  * fingerprints are computed on DECODED RASTERS, a blocklisted image
  * re-encoded through a different codec still matches — the q265
  * property enforced live at ingestion.
  *
  * Per-batch cost: decode is scan-local per task (payloads never
  * shuffle — only 16-byte (doc_id, fp) rows leave the scan), the
  * band probe is broadcast (4 rows per blocklist entry), counts
  * append as version `batchId` with the same restart surface as the
  * other screens.
  */
object MediaScreen {

  /** Stream the staged `mediaParquet` (columns `doc_id`, `payload`)
    * in `chunks` micro-batches against `blockedFps` (column `fp` of
    * raster blockhash fingerprints); returns one row per batch with
    * arrival and blocked counts, exact basis points, ordered.
    */
  def run(spark: SparkSession, mediaParquet: String,
      blockedFps: DataFrame, chunks: Int = 3): DataFrame =
    Staging.gate(spark, mediaParquet, "graft_mediascreen", chunks,
        Seq("doc_id")) { (media, root, ck) =>
      runInto(spark, media, blockedFps, root, ck)
      VersionedStore.readAllBelow(spark, s"$root/rates", Long.MaxValue)
        .getOrElse(emptyRates(spark))
        .orderBy("batch_id")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface.
    */
  def runInto(spark: SparkSession, media: DataFrame, blockedFps: DataFrame,
      stateRoot: String, checkpoint: String): Unit =
    Staging.drain(media, checkpoint)(
      foldBatch(spark, stateRoot, blockedFps, _, _))

  private def foldBatch(spark: SparkSession, stateRoot: String,
      blockedFps: DataFrame, batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // a staged chunk is ONE file → a 1-task scan, and the decode +
    // blockhash above it is CPU-per-byte heavy — widen to core count
    // when the batch arrives narrow (identity on a production
    // many-file micro-batch); the NearDupIndex per-batch discipline
    val media = graft.ops.Widen.ifFewPartitions(batch)
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) => Multimodal.MediaRecord(id, p, "bin") }
    // band key: 15-bit slice value * 4 + band index, one long
    val bandsOf = "transform(sequence(0, 3), " +
      "b -> (shiftright(%s, b * 15) & 32767) * 4 + b)"
    val fps = Multimodal.blockHash(Multimodal.toRaster(media)).toDF()
      .select(col("doc_id"), col("fp"))
    val blBands = blockedFps.select(col("fp").as("bfp"))
      .dropDuplicates("bfp")
      .select(col("bfp"), explode(expr(bandsOf.format("bfp"))).as("bk"))
    val hits = fps
      .select(col("doc_id"), col("fp"),
        explode(expr(bandsOf.format("fp"))).as("bk"))
      .join(broadcast(blBands), Seq("bk"))
      .filter(expr("bit_count(fp ^ bfp) <= 8"))
      .select(col("doc_id")).distinct()
      .withColumn("__hit", lit(1L))
    val rates = fps
      .join(hits, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_media"),
        coalesce(sum("__hit"), lit(0L)).as("n_blocked"))
      .select(lit(batchId).as("batch_id"), col("n_media"),
        col("n_blocked"),
        expr("(n_blocked * 10000L) div n_media").as("blocked_bp"))
    VersionedStore.write(rates, s"$stateRoot/rates", batchId)
  }

  private def emptyRates(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("batch_id"), col("id").as("n_media"),
        col("id").as("n_blocked"), col("id").as("blocked_bp"))
}
