package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Shared file-stream staging: copy a single parquet file into a fresh
  * stream-input directory (file sources watch directories) and open a
  * schema'd readStream over it; plus the one code path every staged
  * gate runs its stream through ([[gate]] opens a run, [[drain]] folds
  * it).
  *
  * The returned tag is unique per *call* (appId + counter), so repeated
  * or concurrent streams in one session get distinct staging dirs and
  * distinct memory-sink query names — a second stream can't clobber the
  * data backing the first call's lazily-consumed result.
  */
object Staging {
  private val counter = new AtomicLong()

  /** Spark's bundled RocksDB state-store provider. The default
    * HDFS-backed store keeps every version of every key IN EXECUTOR
    * MEMORY; at 100 TB/day the state store is the first thing that
    * falls over, and the production answer is the spillable
    * RocksDB-backed store — same semantics, state held off-heap/on-disk
    * with incremental checkpointing.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run a streaming query body with `spark.sql.shuffle.partitions`
    * scoped down to `n` (default 8), restoring the previous value after;
    * with `rocksDb = true` the state-store provider is also scoped to
    * [[RocksDbProvider]] for the body (results must be identical —
    * StagingRocksDbSpec proves it on the stream-dedup query).
    *
    * Why the partition scoping: every stateful streaming operator
    * instantiates one state store PER shuffle partition PER stateful
    * op, and AQE (which would coalesce small batch shuffles) is
    * disabled in stateful workloads — so a batch-sized partition count
    * multiplies fixed state-store cost by 4× measured at sf0.1. In
    * production the partition count is also frozen into the checkpoint
    * at first run, so sizing it to expected state volume (not to batch
    * scan width) is the correct call, made explicit here.
    */
  def withStreamShufflePartitions[T](spark: SparkSession, n: String = "8",
      rocksDb: Boolean = false)(f: => T): T = {
    enterScopedConf(spark, n, rocksDb)
    try f finally exitScopedConf(spark)
  }

  /** Per-session refcount for the scoped conf window above. The r16
    * verdict-refresh legs run three streaming gates CONCURRENTLY on
    * one session (guide §2.6); with the naive save/set/restore each
    * gate races the others — interleaved restores can re-save a peer's
    * scoped value as "previous" and leave the session pinned at the
    * streaming partition count for every later batch query. The fix is
    * the classic nested-window rule: only the FIRST entrant saves the
    * session's real values, only the LAST exit restores them;
    * overlapping windows just (re)apply their scoped setting, which is
    * sound because every overlapping user wants the same scaled-down
    * state-store sizing and results never depend on the partition
    * count (the oracle gate proves that across cpu counts).
    */
  private final case class ScopedConf(var depth: Int, saved: String,
    savedProvider: Option[String])
  private val scopedConf =
    scala.collection.mutable.Map.empty[SparkSession, ScopedConf]

  private def enterScopedConf(spark: SparkSession, n: String,
      rocksDb: Boolean): Unit = scopedConf.synchronized {
    val st = scopedConf.getOrElseUpdate(spark, ScopedConf(0,
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.getOption(ProviderKey)))
    st.depth += 1
    spark.conf.set("spark.sql.shuffle.partitions", n)
    if (rocksDb) spark.conf.set(ProviderKey, RocksDbProvider)
  }

  private def exitScopedConf(spark: SparkSession): Unit =
    scopedConf.synchronized {
      val st = scopedConf(spark)
      st.depth -= 1
      if (st.depth == 0) {
        scopedConf.remove(spark)
        spark.conf.set("spark.sql.shuffle.partitions", st.saved)
        st.savedProvider match {
          case Some(v) => spark.conf.set(ProviderKey, v)
          case None => spark.conf.unset(ProviderKey)
        }
      }
    }

  /** Multi-batch staging: split the source parquet into `chunks`
    * time-ordered files (ascending modification times, so the file
    * source's default oldest-first ordering replays them in event-time
    * order) and open a `maxFilesPerTrigger=1` readStream — each chunk
    * becomes its own micro-batch with the watermark ADVANCING between
    * batches. This is what makes update-mode emissions and outer-join
    * null flushes observable at all: with single-file staging every
    * stream degenerates to one batch and those semantics collapse to
    * the batch answer.
    *
    * The ntile window used to cut chunks is single-task over the
    * STAGING input — test scaffolding at fixture scale, not a query
    * plan (production streams arrive pre-chunked by time).
    */
  /** Split-staging dirs are memoized per (session, source, chunks): the
    * chunked directory is the stream's INPUT — repeated calls (bench
    * trials) must measure the streaming query, not re-shuffle the same
    * rows into the same chunk files through the local FS (the q82
    * arrival-directory discipline). The returned tag stays unique per
    * call so sink names / output dirs never collide across runs.
    */
  private val splitCache =
    scala.collection.mutable.Map.empty[(String, String, Int), String]

  def stageSplitAndRead(spark: SparkSession, srcParquet: String,
      prefix: String, chunks: Int,
      orderCols: Seq[String] = Seq("ts", "event_id")): (DataFrame, String) = {
    require(chunks >= 1, s"chunks must be >= 1: $chunks")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val tag = spark.sparkContext.applicationId
      .replaceAll("[^a-zA-Z0-9]", "_") + "_" + counter.incrementAndGet()
    val tmp = System.getProperty("java.io.tmpdir")
    // prefix and ordering are part of the key: the staged dir is NAMED
    // by the first caller's prefix, so distinct prefixes (or chunk
    // orderings) must not silently share it
    val key = (spark.sparkContext.applicationId,
      srcParquet + "#" + prefix + "#" + orderCols.mkString(","), chunks)
    val inDirStr = splitCache.synchronized {
      // drop entries of earlier (stopped) sessions — same discipline as
      // TrainQueries.incrClusterCache: a JVM cycling sessions must not
      // accumulate stale staging registrations for its lifetime
      splitCache.filterInPlace((k, _) =>
        k._1 == spark.sparkContext.applicationId)
      splitCache.getOrElseUpdate(key, {
        val inDir = Paths.get(
          graft.Scratch.register(s"$tmp/${prefix}_split_$tag"))
        Files.createDirectories(inDir)
        val raw = spark.read.parquet(srcParquet)
        // single-task window over the staging input — test scaffolding
        // at fixture scale (production streams arrive pre-chunked);
        // persist()ed so the per-chunk filters below don't re-run the
        // scan + global sort once per chunk (persist, not
        // localCheckpoint: Dataset.unpersist then actually releases
        // the blocks — a checkpoint's pinned RDD is not reachable
        // through Dataset.rdd, so "unpersisting" it would be a no-op)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(orderCols.map(col): _*)
        val chunked = raw.withColumn("__c", ntile(chunks).over(w))
          .persist()
        for (i <- 1 to chunks) {
          val chunkDir =
            graft.Scratch.register(s"$tmp/${prefix}_${tag}_c$i")
          chunked.filter(col("__c") === i).drop("__c")
            .coalesce(1).write.mode("overwrite").parquet(chunkDir)
          val ds = Files.newDirectoryStream(Paths.get(chunkDir),
            "part-*.parquet")
          val found = try ds.iterator().next() finally ds.close()
          val dest = inDir.resolve(f"chunk-$i%03d.parquet")
          Files.copy(found, dest, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime
              .fromMillis(1000000000000L + i * 1000L))
        }
        chunked.unpersist(blocking = false)
        inDir.toString
      })
    }
    (schemaRead(spark, inDirStr, maxFilesPerTrigger = Some("1")), tag)
  }

  /** Shared tail of both staging paths: derive the stream schema from a
    * batch footer read of the staged dir and open the readStream.
    */
  private def schemaRead(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[String]): DataFrame = {
    val batchSchema = spark.read.parquet(dir).schema
    val reader = spark.readStream.schema(batchSchema)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  def stageAndRead(spark: SparkSession, srcParquet: String,
      prefix: String): (DataFrame, String) = {
    val tag = spark.sparkContext.applicationId
      .replaceAll("[^a-zA-Z0-9]", "_") + "_" + counter.incrementAndGet()
    val tmp = System.getProperty("java.io.tmpdir")
    val inDir = Paths.get(graft.Scratch.register(s"$tmp/${prefix}_$tag"))
    Files.createDirectories(inDir)
    Files.copy(Paths.get(srcParquet), inDir.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    (schemaRead(spark, inDir.toString, maxFilesPerTrigger = None), tag)
  }

  /** Open one staged gate run: scope the shuffle partitions to 4 (the
    * gates' state is batch- or metadata-sized — the q122 discipline),
    * split-stage `srcParquet` into `chunks` micro-batches under
    * `${name}_in`, register the run's `${name}_state_<tag>` and
    * `${name}_ck_<tag>` scratch dirs, and hand (input, stateRoot,
    * checkpoint) to `body` — every gate's `run` is its `runInto` plus
    * a read-back of the state root inside this window.
    */
  def gate[T](spark: SparkSession, srcParquet: String, name: String,
      chunks: Int, orderCols: Seq[String] = Seq("ts", "event_id"))(
      body: (DataFrame, String, String) => T): T =
    withStreamShufflePartitions(spark, n = "4") {
      val (input, tag) = stageSplitAndRead(spark, srcParquet,
        s"${name}_in", chunks, orderCols)
      val tmp = System.getProperty("java.io.tmpdir")
      body(input, graft.Scratch.register(s"$tmp/${name}_state_$tag"),
        graft.Scratch.register(s"$tmp/${name}_ck_$tag"))
    }

  /** Drain `input` to the end of what is staged (`AvailableNow`),
    * calling `fold(batch, batchId)` once per NON-EMPTY micro-batch;
    * blocks until done. The restart surface of every gate's
    * `runInto`: a second call with the same `checkpoint` resumes after
    * the last committed batch, and `fold` commits under the
    * [[VersionedStore]] replay rule, so a re-executed batch rewrites
    * only its own version.
    */
  def drain(input: DataFrame, checkpoint: String)(
      fold: (DataFrame, Long) => Unit): Unit =
    input.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) fold(batch, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
