package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Audio

/** Streaming LANDMARK takedown screen — the shift-robust half of the
  * audio deletion-compliance story. The envelope takedown screen
  * ([[AudioDedupGate]] at the guaranteed ≤ 4 bound, q315) catches
  * resampled re-uploads but is position-relative and therefore
  * provably BLIND to the two commonest evasions of a music takedown:
  * leading-silence pads and content trims (the q301 measured proof).
  * This gate probes the stored landmark-hash blocklist instead —
  * deletion requests carry the rightsholder reference's landmark
  * hash SET, arrivals decode and hash scan-locally (payloads never
  * shuffle; only (doc_id, h) rows leave the scan), and a match is
  * ≥ voteT shared hashes at the STORED q314-tuned operating point
  * (vote threshold AND delta quantization come from
  * `ModelStore.loadLandmarkPoint` — the compliance gate serves the
  * calibration artifact, never a constant). Blocked
  * (arrival, takedown_id, n_shared) verdicts append as version
  * `batchId` under the replay rule.
  *
  * Scale posture: the probe is one hash equi-join of the batch's
  * ~20-hashes-per-clip rows against the stored index (bucketed by
  * hash at 100 TB — the E217 catalog discipline); per-batch cost is
  * candidate-proportional and independent of blocklist size.
  */
object LandmarkTakedownGate {

  /** Build the stored blocklist index from reference landmark hashes
    * (columns `takedown_id`, `h`), distinct per (request, hash), with
    * the df cap at BUILD time (the [[VideoDedupGate.buildIndex]] /
    * E50 discipline on the landmark axis): a hash carried by more
    * than `maxDf` distinct requests is a non-discriminative beat
    * pattern — a metronome click, a drum-machine loop — that says
    * nothing about WHICH reference matched; it is both the probe-join
    * skew magnet and a false-vote source (boilerplate hashes
    * accumulate toward the vote threshold against unrelated
    * references), so it never enters the index. The fixture's hashed
    * gaps keep every in-data df at 1; `LandmarkTakedownSpec` plants
    * the shared beat pattern the cap exists for.
    */
  def buildIndex(refHashes: DataFrame, maxDf: Int = 64): DataFrame = {
    val entries = refHashes.select(col("takedown_id"), col("h"))
      .distinct()
    entries.join(broadcast(graft.ops.Dedup.hotKeys(entries, "h", maxDf)),
        Seq("h"), "left_anti")
      .select("takedown_id", "h")
  }

  /** Stream the staged `mediaParquet` (columns `doc_id`, `payload` —
    * mono WAV bytes) in `chunks` micro-batches against the stored
    * blocklist `index`; returns blocked
    * (doc_id, takedown_id, n_shared) rows, ordered. `voteT` and
    * `deltaQ` are the stored q314 operating point.
    */
  def run(spark: SparkSession, mediaParquet: String, index: DataFrame,
      voteT: Long, deltaQ: Int, chunks: Int = 3,
      stop: Option[DataFrame] = None): DataFrame =
    Staging.gate(spark, mediaParquet, "graft_lmtakedown", chunks,
        Seq("doc_id")) { (media, root, ck) =>
      runInto(spark, media, index, root, ck, voteT, deltaQ, stop)
      VersionedStore.readAllBelow(spark, s"$root/matches", Long.MaxValue)
        .getOrElse(emptyMatches(spark))
        .orderBy("doc_id", "takedown_id")
    }

  /** The pipeline against a caller-owned state root and checkpoint —
    * the restart surface: committed batches never re-probe,
    * post-restart arrivals still probe the same stored blocklist.
    */
  def runInto(spark: SparkSession, media: DataFrame, index: DataFrame,
      stateRoot: String, checkpoint: String, voteT: Long,
      deltaQ: Int, stop: Option[DataFrame] = None): Unit =
    Staging.drain(media, checkpoint) { (batch, batchId) =>
      VersionedStore.write(
        batchMatches(spark, batch, index, voteT, deltaQ, stop),
        s"$stateRoot/matches", batchId)
    }

  /** Hashes carried by more than `maxDf` index rows — the
    * maintenance-time artifact an append job refreshes (q324):
    * appends can push a hash past the build-time cap, and probes
    * anti-join this tiny frame instead of ever re-scanning the index.
    */
  def stopHashes(index: DataFrame, maxDf: Int): DataFrame =
    graft.ops.Dedup.hotKeys(index, "h", maxDf)

  /** One batch's blocks: decode + landmark-hash scan-locally at the
    * stored delta quantization, exact hash probe, ≥ voteT vote.
    * Public so specs can assert streamed ≡ batch probing directly.
    */
  def batchMatches(spark: SparkSession, batch: DataFrame,
      index: DataFrame, voteT: Long, deltaQ: Int,
      stop: Option[DataFrame] = None): DataFrame = {
    require(voteT >= 1, s"voteT must be >= 1: $voteT")
    import spark.implicits._
    val hashes = batch
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        Audio.landmarkHashes(id,
            if (p == null) Array.emptyByteArray else p, 256, deltaQ)
          .distinct.map(h => (id, h))
      }
      .toDF("doc_id", "h")
    // stop hashes drop on the batch side BEFORE the index join (the
    // VideoDedupGate form); the index-side plan is untouched
    stop.fold(hashes)(st =>
        hashes.join(broadcast(st), Seq("h"), "left_anti"))
      .join(index, Seq("h"))
      .groupBy("doc_id", "takedown_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= voteT)
  }

  private def emptyMatches(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("takedown_id"),
        col("id").as("n_shared"))
}
