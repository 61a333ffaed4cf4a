package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Video

/** Streaming video-dedup gate — [[AudioDedupGate]]'s sibling on the
  * video axis, completing the live-ingestion trio (rasters:
  * MediaScreen; audio: AudioDedupGate): every arriving micro-batch of
  * Y4M clips decodes through the real frame walk, segments scenes and
  * elects keyframes in ONE pass, blockhashes each keyframe on decoded
  * pixels ([[Video.sceneKeyframeHashes]] — payloads never shuffle;
  * only (doc_id, kf_hash) rows leave the scan), and probes the STORED
  * keyframe-hash index of the already-ingested corpus by EXACT hash
  * equality with a ≥ 2-matching-keyframes vote (the q300 verify rule —
  * re-encodes preserve hashes bit-for-bit, trims preserve every
  * surviving scene's, and one shared hash is the chance-collision
  * guard). Matched (arrival, history, n_shared) verdicts append as
  * version `batchId` under the replay rule.
  *
  * Scale posture: per-batch cost is one equi-join of the batch's
  * few-hashes-per-clip rows against the stored index (bucketed by
  * hash at 100 TB — the q131 catalog discipline) — candidate-
  * proportional, independent of history size.
  */
object VideoDedupGate {

  /** Build the stored index from history keyframe hashes (columns
    * `hist_id`, `kf_hash`), distinct per (clip, hash), with the
    * [[graft.ops.VideoNearDup]] df cap applied at BUILD time: a hash
    * carried by more than `maxDf` distinct history clips is
    * boilerplate (a black frame, an intro card), has no discriminative
    * value under the ≥ 2 vote, and is precisely the skew magnet that
    * would make every future probe's equi-join output quadratic — so
    * it never enters the index at all, and probes need no per-batch
    * guard. (Incrementally APPENDED indexes can grow hot hashes after
    * build; the maintenance job recomputes [[stopHashes]] at append
    * time — q311 — and probes anti-join against that tiny artifact.)
    */
  def buildIndex(histKfs: DataFrame, maxDf: Int = 64): DataFrame = {
    val entries = histKfs.select(col("hist_id"), col("kf_hash"))
      .distinct()
    entries.join(broadcast(stopHashes(entries, maxDf)),
        Seq("kf_hash"), "left_anti")
      .select("hist_id", "kf_hash")
  }

  /** Hashes carried by more than `maxDf` distinct index entries —
    * tiny by construction (only degenerate hashes qualify), computed
    * exchange-free on a kf_hash-bucketed catalog table. The
    * maintenance-time artifact an append job refreshes (q311) so
    * probes stay candidate-proportional without scanning the index.
    */
  def stopHashes(index: DataFrame, maxDf: Int): DataFrame =
    graft.ops.Dedup.hotKeys(index, "kf_hash", maxDf)

  /** Stream the staged `mediaParquet` (columns `doc_id`, `payload` —
    * Y4M bytes) in `chunks` micro-batches against the stored `index`;
    * returns matched (doc_id, hist_id, n_shared) rows, ordered.
    */
  def run(spark: SparkSession, mediaParquet: String, index: DataFrame,
      chunks: Int = 3, cutMeanDelta: Int = 48): DataFrame =
    Staging.gate(spark, mediaParquet, "graft_videogate", chunks,
        Seq("doc_id")) { (media, root, ck) =>
      runInto(spark, media, index, root, ck, cutMeanDelta)
      VersionedStore.readAllBelow(spark, s"$root/matches", Long.MaxValue)
        .getOrElse(emptyMatches(spark))
        .orderBy("doc_id", "hist_id")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface.
    */
  def runInto(spark: SparkSession, media: DataFrame, index: DataFrame,
      stateRoot: String, checkpoint: String,
      cutMeanDelta: Int = 48): Unit =
    Staging.drain(media, checkpoint) { (batch, batchId) =>
      VersionedStore.write(
        batchMatches(spark, batch, index, cutMeanDelta),
        s"$stateRoot/matches", batchId)
    }

  /** One batch's matches: decode + keyframe-hash scan-locally, exact
    * equality probe, ≥ 2-keyframe vote. Public so specs can assert
    * streamed ≡ batch probing directly. `cutMeanDelta` is the scene
    * segmentation threshold and MUST match the one the stored index
    * was built with — it is a parameter (not a constant) precisely so
    * probe and index cannot silently drift apart and segment scenes
    * differently (a drift reports zero matches, not an error).
    * `stop` is the maintenance-time [[stopHashes]] artifact for
    * indexes that grew past their build-time cap through appends —
    * probe rows carrying a stop hash are dropped BEFORE the index
    * join (a broadcast anti-join on the batch side; the index-side
    * plan is untouched, `VideoIndexSpec`-asserted).
    */
  def batchMatches(spark: SparkSession, batch: DataFrame,
      index: DataFrame, cutMeanDelta: Int = 48,
      stop: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val raw = batch
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        Video.sceneKeyframeHashes(id,
            if (p == null) Array.emptyByteArray else p, cutMeanDelta)
          .map(k => (id, k.kf_hash)).distinct
      }
      .toDF("doc_id", "kf_hash")
    val kfs = stop.fold(raw)(s =>
      raw.join(broadcast(s), Seq("kf_hash"), "left_anti"))
    kfs.join(index, Seq("kf_hash"))
      .groupBy("doc_id", "hist_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  private def emptyMatches(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("hist_id"),
        col("id").as("n_shared"))
}
