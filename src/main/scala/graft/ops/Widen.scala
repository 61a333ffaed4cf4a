package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Scale-adaptive scan widening for CPU-heavy scan-local pipelines
  * (guide §2: derive partitioning from data, never from a constant
  * tuned to one deployment).
  *
  * The problem class (measured, r17): a parquet scan parallelizes at
  * file/row-group granularity, so a SMALL input (one single-row-group
  * file — the bench corpus; a badly-compacted production delta) yields
  * a 1-task scan, and every scan-local stage downstream — gram
  * explode + md5, shingling + MinHash, audio decode — runs serially no
  * matter how many cores exist. AQE cannot help: it sizes partitions
  * by BYTES (coalescing KB-scale frames to 1–2 tasks), and these
  * stages are heavy in CPU-per-byte, not bytes. JobProfile measured
  * q71's gram+cap stages as single-task 0.7 s + 1.7 s jobs at 32 idle
  * cores.
  *
  * The fix is conditional: widen to the session's core count ONLY when
  * the plan's estimated input size says the scan is narrow (estimated
  * bytes < cores × `spark.sql.files.openCostInBytes`-class split floor
  * — i.e. the scan cannot have produced ~cores splits). At 100 TB the
  * estimate is huge, the guard never fires, and the operator is the
  * identity — no payload ever re-shuffles at scale, exactly the guide
  * §8 rule (the repartition only exists where the shuffled bytes are,
  * by the same trigger, tiny). Statistics-based, so deciding costs no
  * job and no RDD materialization.
  *
  * Results are unchanged by construction: callers apply it ABOVE
  * order-insensitive reductions (aggregates, joins, distinct) — never
  * above ordinal logic — and the round-robin assignment itself is
  * retry-deterministic (sort-before-repartition, SPARK-23207).
  */
object Widen {

  private def cores(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** The one guard every size-based form shares: `df`'s estimated
    * input size is below `cores × 4 MiB` (the open-cost split floor:
    * smaller inputs provably scanned at fewer-than-cores tasks).
    */
  private def narrow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(cores(df).toLong * (4L << 20))

  /** `df`, repartitioned to the default parallelism when it is
    * [[narrow]]; unchanged otherwise.
    */
  def ifNarrow(df: DataFrame): DataFrame =
    if (narrow(df)) df.repartition(cores(df)) else df

  /** Keyed form of [[ifNarrow]] for the exchange FEEDING an exploding
    * self-join (banded LSH candidates: KB of band rows in, millions of
    * CPU-heavy pair rows out). AQE coalesces shuffle partitions by MAP
    * OUTPUT BYTES, and an exploding join breaks that proxy — measured
    * (r17, q192): the 3-config collision join ran as ONE 4.4 s stage
    * of 3 tasks at 32 idle cores because its input is a few hundred
    * KB. An explicit-count hash repartition on the join key is exempt
    * from AQE coalescing and both self-join sides inherit it (one
    * exchange, reused), so the exploding stage runs at core width.
    * Same guard as [[ifNarrow]]: only fires when the input is provably
    * narrow; identity at production scale, where the bytes-proxy is
    * honest again.
    */
  def byKeyIfNarrow(df: DataFrame, keys: Column*): DataFrame =
    if (narrow(df)) df.repartition(cores(df), keys: _*) else df

  /** Range form of [[byKeyIfNarrow]] for exact-rank sorts: the
    * adaptive range exchange is AQE-coalesced to a handful of tasks on
    * KB-scale input while the per-partition sort + rank scan above it
    * is the query's cost center (JobProfile r17: the percentile
    * family's two passes ran 4 tasks at 32 idle cores). Pin the count
    * to core width when the input is provably narrow; adaptive
    * otherwise. Consumers must be partition-count-agnostic (the
    * percentile offset arithmetic is exact per partition id).
    */
  def byRangeIfNarrow(df: DataFrame, keys: Column*): DataFrame =
    if (narrow(df)) df.repartitionByRange(cores(df), keys: _*)
    else df.repartitionByRange(keys: _*)

  /** `transform`-ready keyed repartition on the corpus id: many query
    * bodies hash-place docs by id exactly so the CPU-heavy per-doc
    * stage above it (shingling, synthetic media decode) parallelizes —
    * but an ADAPTIVE keyed repartition is coalesced by AQE's
    * bytes-proxy to 1–2 partitions on a KB-scale corpus, serializing
    * that stage and every scan-local consumer of the checkpoint above
    * it (JobProfile r17: the canon/weighted-jaccard family's 1.7–2.2 s
    * checkpoint jobs ran 1–4 tasks at 32 idle cores). When the input
    * is provably narrow, pin the count to core width (explicit-count
    * keyed repartition — AQE-exempt); otherwise keep the adaptive
    * form, which is correct at scale.
    */
  def byDocId(df: DataFrame): DataFrame =
    if (narrow(df)) df.repartition(cores(df), col("doc_id"))
    else df.repartition(col("doc_id"))

  /** Partition-count form of [[ifNarrow]] for frames whose size
    * statistics are unreliable — `foreachBatch` micro-batches, whose
    * plans report the default (huge) size estimate: widen when the
    * frame's physical lineage carries fewer than half the session's
    * cores. ONLY safe on exchange-free (scan-local) plans: inspecting
    * the RDD of an AQE-wrapped plan would materialize its query
    * stages. A production micro-batch arrives as many files (wide
    * scan) and passes through untouched.
    */
  def ifFewPartitions(df: DataFrame): DataFrame = {
    val want = cores(df)
    if (df.queryExecution.toRdd.getNumPartitions * 2 <= want)
      df.repartition(want)
    else df
  }
}
