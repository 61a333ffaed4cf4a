package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data curation (SURVEY §7.2.8):
  * MinHash + LSH banding, n-gram Jaccard verification, and SimHash with
  * Hamming-distance search.
  *
  * Scale posture (the whole point of these operators):
  *  - Pairwise-all-pairs is O(n²) and never materialized. Candidate pairs
  *    come from LSH band buckets: a self-equi-join on (band, band_key),
  *    i.e. one hash shuffle on a 32-byte key; only documents agreeing on
  *    an entire band collide. With b bands of r rows, a pair of Jaccard
  *    similarity j collides with probability 1-(1-j^r)^b — the classic
  *    S-curve — so the join output is ~(true near-dups + noise), not n².
  *  - Signatures are computed scan-locally with codegen'd higher-order
  *    functions (no UDF, no shuffle): k seeded md5 min-hashes over the
  *    distinct shingle set.
  *  - Exact Jaccard runs only on the surviving candidates.
  *  - SimHash is one 128-bit signature per document (one pass over
  *    tokens); block-matching on signature quarters gives the same
  *    banding trick for Hamming space.
  *
  * Hashing is md5-based (see [[graft.functions.TextFns]]) so every number
  * here is reproducible in any engine — that is what the DuckDB oracle
  * checks.
  */
object NearDup {

  /** Mersenne prime modulus of the min-hash family (2^31 − 1). */
  val HashP: Long = 2147483647L

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The (a_i, b_i) coefficients of the k-member universal hash family
    * h_i(x) = (a_i·x + b_i) mod 2^31−1. Derived deterministically
    * (splitmix64 of i) and shared with the oracle SQL as plain literals
    * — the family must be the same in every engine. a_i ∈ [1, p−1],
    * b_i ∈ [0, p−1]; a_i·x + b_i < 2^62, overflow-free in int64.
    *
    * NOT h1 + i·h2 with mismatched scales: if one term dominates, the
    * argmin shingle is the same for every i and the k "independent"
    * min-hashes collapse into one — band collisions then explode to
    * near-quadratic candidate counts (observed 1.3M pairs on 5k docs).
    */
  def hashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      (Math.floorMod(splitmix64(2L * i), HashP - 1) + 1,
        Math.floorMod(splitmix64(2L * i + 1), HashP))
    }

  /** MinHash signatures: one row of k min-hashes per document id.
    * sig[i] = min over shingles of h_i(x) where x is the top-60-bit
    * md5 of the shingle reduced mod p.
    *
    * Shape: explode(shingles) → codegen'd (md5, x) projection → k
    * map-side-partial `min` aggregates → array signature. Deliberately
    * NOT a higher-order-function fold: HOF lambdas evaluate interpreted
    * and Catalyst's CollapseProject inlines per-shingle hash columns
    * into a k-iteration lambda (k× the md5 work), whereas the exploded
    * form hashes each shingle exactly once inside whole-stage codegen
    * and the shuffle carries only k longs per doc.
    */
  def minHashSigs(df: DataFrame, idCol: String, shinglesCol: String,
      k: Int, out: String): DataFrame = {
    val hashed = df
      .select(col(idCol), explode(col(shinglesCol)).as("__s"))
      .select(col(idCol),
        expr(s"""cast(conv(substring(md5(__s), 1, 15), 16, 10) as bigint)
                | % $HashP""".stripMargin).as("__x"))
    val mins = hashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__x") + lit(b)) % HashP).as(s"__m$i")
    }
    hashed.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until k).map(i => col(s"__m$i")): _*).as(out))
  }

  /** Explode a signature into (band, band_key) rows: band_key is the md5
    * of the band's concatenated min-hashes. The LSH join key.
    */
  def bandRows(df: DataFrame, idCol: String, sigCol: String, bands: Int,
      rowsPerBand: Int, sigLen: Int): DataFrame = {
    require(bands * rowsPerBand <= sigLen,
      s"bands ($bands) × rowsPerBand ($rowsPerBand) exceeds the signature " +
        s"length ($sigLen): out-of-range element_at would yield null, " +
        "concat_ws would collapse those bands to md5('') and every " +
        "document would collide there (quadratic candidate blowup)")
    val bandStructs = (0 until bands).map { b =>
      val parts = (1 to rowsPerBand)
        .map(r => s"cast(element_at($sigCol, ${b * rowsPerBand + r}) as string)")
        .mkString("concat_ws(',', ", ", ", ")")
      s"struct($b as band, md5($parts) as band_key)"
    }.mkString("array(", ", ", ")")
    df.select(col(idCol), explode(expr(bandStructs)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.band_key").as("band_key"))
  }

  /** Candidate pairs (a < b) from LSH band collisions — the only join in
    * the pipeline, a self-equi-join on (band, band_key).
    */
  def candidatePairs(bandDf: DataFrame, idCol: String): DataFrame = {
    val a = bandDf.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = bandDf.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Cross-corpus candidate pairs (SURVEY §2.11 E89): an incoming
    * batch's band rows joined against the EXISTING corpus's band rows —
    * incremental near-dup. In production the history bands are computed
    * once and persisted; each new batch then costs its own banding plus
    * ONE equi-join on (band, band_key) — never a self-join of the
    * union, so per-batch work is O(batch + collisions) regardless of
    * corpus size. Returns distinct (new_id, hist_id).
    */
  def crossCandidatePairs(newBands: DataFrame, histBands: DataFrame,
      idCol: String): DataFrame =
    newBands.select(col(idCol).as("new_id"), col("band"), col("band_key"))
      .join(histBands.select(col(idCol).as("hist_id"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .select("new_id", "hist_id")
      .distinct()

  /** MinHash estimate of Jaccard: the fraction of agreeing signature
    * positions (an unbiased estimator). At corpus scale this is the
    * verification workhorse — signatures are k longs regardless of
    * document size, where exact set intersection ships whole shingle
    * sets per candidate pair; exact Jaccard is then reserved for
    * borderline estimates.
    */
  def estimatedJaccardExpr(sigA: String, sigB: String, k: Int): String =
    s"""cast(size(filter(zip_with($sigA, $sigB, (a, b) -> a = b),
       |  x -> x)) as double) / ${k}.0d""".stripMargin

  /** Exact Jaccard over distinct shingle sets for candidate pairs.
    * |A∩B| / (|A| + |B| − |A∩B|): integer set sizes, one final double
    * division — deterministic in any engine.
    */
  def jaccard(pairs: DataFrame, docShingles: DataFrame, idCol: String,
      shinglesCol: String): DataFrame = {
    val a = docShingles.select(col(idCol).as("id_a"),
      col(shinglesCol).as("__sh_a"))
    val b = docShingles.select(col(idCol).as("id_b"),
      col(shinglesCol).as("__sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      // at 100 TB-corpus scale, run estimatedJaccardExpr on the k-long
      // signatures first and reserve this exact set intersection for
      // borderline pairs — see estimatedJaccardExpr
      .withColumn("__inter", expr("size(array_intersect(__sh_a, __sh_b))"))
      .withColumn("jaccard", expr(
        """cast(__inter as double) /
          |cast(size(__sh_a) + size(__sh_b) - __inter as double)"""
          .stripMargin))
      .select("id_a", "id_b", "jaccard")
  }

  /** 128-bit SimHash over a token-array column, as 32 lowercase hex
    * chars. Standard construction: for each of the 128 bit positions of
    * md5(token), sum +1/−1 over all tokens (frequency-weighted), take the
    * sign; ties (sum == 0) resolve to 0. Row-local (no shuffle, no key
    * needed) but the HOF lambdas evaluate INTERPRETED — for corpus-scale
    * signature tables use [[simHashSigs]], which produces identical bits
    * through codegen'd partial aggregation.
    */
  def withSimHash(df: DataFrame, tokensCol: String, out: String): DataFrame = {
    val acc =
      s"""aggregate($tokensCol, array_repeat(0, 128),
         |  (acc, t) -> zip_with(acc,
         |    transform(sequence(0, 127),
         |      k -> (shiftright(cast(conv(substring(md5(t),
         |             cast(k / 4 as int) + 1, 1), 16, 10) as int),
         |             k % 4) & 1) * 2 - 1),
         |    (x, y) -> x + y))""".stripMargin
    val nib = (b: Int) =>
      s"(case when element_at(__acc, p * 4 + ${b + 1}) > 0 then ${1 << b} else 0 end)"
    df.withColumn("__acc", expr(acc))
      .withColumn(out, expr(
        s"""concat_ws('', transform(sequence(0, 31),
           |  p -> substring('0123456789abcdef',
           |    1 + ${nib(0)} + ${nib(1)} + ${nib(2)} + ${nib(3)}, 1)))"""
          .stripMargin))
      .drop("__acc")
  }

  /** SimHash signatures for a keyed corpus — the codegen'd scale path,
    * producing the exact same bits as [[withSimHash]] (spec-asserted).
    * Shape mirrors [[minHashSigs]]: explode tokens → md5 each token
    * ONCE inside whole-stage codegen → 128 per-bit partial `sum`
    * aggregates (map-side combined, so the shuffle carries 129 ints
    * per document) → sign test per bit (2·ones_k > n ⟺ Σ±1 > 0,
    * ties to 0). The row-local HOF form evaluates interpreted per
    * token×bit-position and serializes with the scan partitioning;
    * this one is codegen'd end-to-end and parallelizes at the groupBy.
    */
  def simHashSigs(df: DataFrame, idCol: String, tokensCol: String,
      out: String): DataFrame = {
    // four 32-bit chunks instead of 32 single-nibble conv() calls per
    // token row: hex char p (0-based) sits at shift (7 − p%8)·4 inside
    // chunk p/8, so bit k of the signature is
    // (chunk >> ((7 − (k/4)%8)·4 + k%4)) & 1 — identical bits (the
    // grouped≡HOF spec pins this), ~8× fewer string parses per token
    val chunkCols = (0 until 4).map { c =>
      expr(s"cast(conv(substring(__h, ${c * 8 + 1}, 8), 16, 10) as bigint)")
        .as(s"__ck$c")
    }
    // explode_outer: a document with no tokens still yields one (null)
    // row, so it keeps its all-zero signature instead of vanishing
    val exploded = df
      .select(col(idCol), explode_outer(col(tokensCol)).as("__t"))
      .withColumn("__h", md5(col("__t")))
      .select(col(idCol) +: chunkCols :+
        when(col("__h").isNotNull, 1).otherwise(0).as("__tk"): _*)
    val sums = (0 until 128).map { k =>
      val p = k / 4
      val shift = (7 - p % 8) * 4 + (k % 4)
      sum(expr(s"(__ck${p / 8} >> ${shift}L) & 1L")).as(s"__o$k")
    } :+ sum(col("__tk")).as("__cnt")
    val hexChar = (p: Int) => {
      val nv = (0 until 4)
        .map(b => s"(case when 2 * __o${p * 4 + b} > __cnt then ${1 << b} else 0 end)")
        .mkString(" + ")
      s"substring('0123456789abcdef', 1 + ($nv), 1)"
    }
    exploded.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        expr((0 until 32).map(hexChar).mkString("concat(", ", ", ")"))
          .as(out))
  }

  /** Pack a 32-hex-char SimHash into four 32-bit chunks so Hamming
    * distance is four xor+popcount ops instead of 32 string parses.
    */
  def packedChunks(sigCol: String): org.apache.spark.sql.Column =
    expr(
      s"""transform(sequence(0, 3),
         |  b -> cast(conv(substring($sigCol, b * 8 + 1, 8), 16, 10)
         |            as bigint))""".stripMargin)

  /** Hamming distance between two 4-chunk packed signatures as four
    * explicit xor+popcount terms — stays inside whole-stage codegen
    * (an `aggregate`/`zip_with` HOF form would evaluate interpreted and
    * allocate a zipped array per pair; this runs once per candidate
    * pair, the hot loop).
    */
  private def hammingExpr(ca: String, cb: String): org.apache.spark.sql.Column =
    (1 to 4).map { i =>
      expr(s"cast(bit_count(element_at($ca, $i) ^ element_at($cb, $i)) as bigint)")
    }.reduce(_ + _)

  /** Exact nearest neighbor per document in SimHash Hamming space (min
    * distance, ties to the smallest id), via all pairs. O(|a|·|b|):
    * ONLY for bounded frames — a re-rank over already-restricted
    * candidates or a small dimension side. The declared corpus-scale
    * query path is [[simhashNnWithinRadius]], which never builds n²
    * pairs. The per-query minimum is a map-side partial
    * `min(struct(hamming, id))` aggregation, so even here the pair
    * stream is reduced before any shuffle.
    *
    * The bounded-frame contract is ENFORCED: the input is counted and
    * anything above `maxRows` is refused, so a caller cannot reach the
    * all-pairs plan with a corpus-sized frame by accident (the count is
    * one cheap job on a frame that is small by contract).
    */
  def hammingNN(sigs: DataFrame, idCol: String, sigCol: String,
      maxRows: Long = 10000L): DataFrame = {
    // pin before counting: the guard count and the pair join would
    // otherwise each recompute the (possibly expensive) upstream frame
    val pinned = sigs.select(col(idCol), col(sigCol)).localCheckpoint()
    val n = pinned.count()
    require(n <= maxRows,
      s"hammingNN builds all pairs and is only for bounded re-rank frames: " +
        s"got $n rows > maxRows=$maxRows; use simhashNnWithinRadius for " +
        s"corpus-scale NN")
    val packed = pinned.select(col(idCol), packedChunks(sigCol).as("__ch"))
    val a = packed.select(col(idCol).as("id_a"), col("__ch").as("__ca"))
    val b = packed.select(col(idCol).as("id_b"), col("__ch").as("__cb"))
    a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
      .withColumn("hamming", hammingExpr("__ca", "__cb"))
      .groupBy("id_a")
      .agg(min(struct(col("hamming"), col("id_b"))).as("__m"))
      .select(col("id_a"), col("__m.id_b").as("id_b"),
        col("__m.hamming").as("hamming"))
  }

  /** Scale path for SimHash search: split the 32-hex signature into
    * `blocks` equal hex blocks; by pigeonhole, any pair within Hamming
    * distance ≤ blocks−1 agrees on at least one whole block (blocks−1
    * flipped bits can touch at most blocks−1 blocks), so a self-join on
    * (block_idx, block) yields ALL such pairs — the same one-shuffle
    * shape as MinHash banding (Manku et al., WWW'07 — the standard
    * near-duplicate construction).
    */
  def simhashBlockRows(sigs: DataFrame, idCol: String, sigCol: String,
      blocks: Int = 4): DataFrame = {
    require(32 % blocks == 0, s"blocks ($blocks) must divide the 32 hex chars")
    val w = 32 / blocks
    // input columns are preserved so callers can ride payloads (e.g.
    // packed chunks) through the explode instead of re-joining them
    sigs.select(col("*"), explode(expr(
      s"""transform(sequence(0, ${blocks - 1}),
         |  b -> struct(b as block_idx,
         |              substring($sigCol, b * $w + 1, $w) as block))"""
        .stripMargin)).as("bb"))
      .withColumn("block_idx", col("bb.block_idx"))
      .withColumn("block", col("bb.block"))
      .drop("bb")
  }

  /** Near-duplicate nearest neighbor in SimHash Hamming space, EXACT
    * within radius blocks−1: for every document having a neighbor at
    * Hamming ≤ blocks−1, its minimum-distance neighbor (ties to the
    * smallest id); documents with no neighbor inside the radius are
    * absent. Pigeonhole ([[simhashBlockRows]]) makes the block
    * self-equi-join candidate set COMPLETE for that radius, so this is
    * not an approximation — it is the bounded-radius search SimHash
    * exists for. Unbounded global NN is inherently Ω(n²) when most
    * documents have no near neighbor (their NN is just noise at
    * distance ~d/2) and is deliberately not the declared semantics;
    * [[hammingNN]] remains for bounded re-ranks.
    *
    * Plan shape: ONE hash shuffle — the packed chunks ride the block
    * rows (32 extra bytes on an 8-row-per-doc explode), so colliding
    * pairs carry both signatures out of the self-join and Hamming
    * (codegen'd xor+popcount) + the radius filter apply immediately; the
    * partial min-aggregate absorbs the duplicate pairs that agree on
    * multiple blocks (min is idempotent — cheaper than a `distinct`,
    * which would cost a full extra shuffle of the pair stream, and two
    * more to re-attach signatures).
    */
  def simhashNnWithinRadius(sigs: DataFrame, idCol: String, sigCol: String,
      blocks: Int = 8): DataFrame = {
    val radius = blocks - 1
    // blocks and packed chunks come out of ONE scan-local projection of
    // the signature row — no join to re-attach anything
    val blk = simhashBlockRows(
      sigs.withColumn("__ch", packedChunks(sigCol)), idCol, sigCol, blocks)
    blk.select(col(idCol).as("id_a"), col("block_idx"), col("block"),
        col("__ch").as("__ca"))
      .join(blk.select(col(idCol).as("id_b"), col("block_idx"),
        col("block"), col("__ch").as("__cb")), Seq("block_idx", "block"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("hamming", hammingExpr("__ca", "__cb"))
      .filter(col("hamming") <= radius)
      .groupBy("id_a")
      .agg(min(struct(col("hamming"), col("id_b"))).as("__m"))
      .select(col("id_a"), col("__m.id_b").as("id_b"),
        col("__m.hamming").as("hamming"))
  }

  /** Exact n-gram Jaccard near-dup pairs via a document-frequency-capped
    * inverted gram index — the EXACT counterpart of the MinHash pipeline
    * (reference surface: dedup families; this is the "n-gram Jaccard"
    * member).
    *
    * Semantics: Jaccard over each document's DISTINCT word n-grams,
    * restricted to grams appearing in ≤ `maxDf` documents (stop-gram
    * removal — the published trick that bounds the inverted-index
    * posting lists; a gram shared by k documents otherwise generates
    * k² candidate pairs). Pairs with capped-Jaccard ≥ `minJaccard` are
    * returned with the exact |∩| and the Jaccard value.
    *
    * Plan shape at 100 TB: grams travel only as md5 hashes (never the
    * strings); the df cap is a partial-aggregated count over those
    * hashes; the sole pair-producing join is a self-equi-join on the
    * gram hash whose per-key fanout is ≤ maxDf by construction; the
    * pair aggregation is a shuffle of (id_a, id_b) longs. Nothing is
    * quadratic in the corpus, only in the capped posting-list length.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDf: Long): DataFrame =
    cappedGramPairs(docs, idCol, textCol, n, maxDf)
      .withColumn("jaccard",
        col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "n_shared", "jaccard")

  /** The df-capped inverted gram index both n-gram pair operators
    * share: every unordered pair id_a < id_b with its count of shared
    * kept grams `n_shared` and each side's kept-gram count (`__na`,
    * `__nb`).
    */
  private def cappedGramPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, maxDf: Long): DataFrame = {
    // one split per row (bound to a column so CollapseProject cannot
    // inline it into the per-position gram lambda — SURVEY §7.3).
    // localCheckpoint: genuine fan-out — the gram stream feeds the df
    // count AND the capped join, and Spark re-evaluates a subtree per
    // consumer (self-joins never reuse exchanges); without it the
    // interpreted gram HOF runs 2× here and 3× more through `capped`.
    // Widen.ifNarrow: the gram explode + md5 is the CPU center and is
    // scan-local — a narrow scan (single-row-group input) would run it
    // single-task regardless of cores (identity at production scale)
    val grams = Widen.ifNarrow(docs)
      .select(col(idCol).as("__id"), split(col(textCol), " ").as("__toks"))
      .select(col("__id"),
        explode(graft.ops.Contamination.wordGrams("__toks", n)).as("__gram"))
      .select(col("__id"), md5(col("__gram")).as("__gh"))
      .localCheckpoint()
    // df cap: grams are distinct per doc, so df = row count per hash.
    // Aggregate + semi-join rather than a count-over-Window: the window
    // form would BUFFER each gram's whole posting list in the window
    // frame, and the skewed stop-grams the cap exists to remove are
    // exactly the lists that don't fit. The aggregate is map-side
    // partial (a billion-row stop-gram costs one long per partition)
    // and the semi-join carries only the 32-byte hash.
    // inverted cap: the REMOVE set (grams with df > maxDf) is far
    // smaller than the keep set — at most total-gram-occurrences /
    // maxDf entries vs the whole gram vocabulary — so the anti-join
    // build side is the cheap one. No broadcast() hint: the set still
    // grows linearly with corpus size, so the planner/AQE size-gates
    // the broadcast from the aggregate's runtime stats and degrades to
    // a shuffled anti-join when it outgrows the threshold (a forced
    // broadcast would hit the 8 GB limit at web scale).
    val stop = grams.groupBy("__gh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__gh")
    // fan-out ×3: both self-join sides + the per-doc size aggregate
    val capped = grams.join(stop, Seq("__gh"), "left_anti")
      .localCheckpoint()
    val sizes = capped.groupBy("__id").agg(count(lit(1)).as("__n"))
    capped.select(col("__id").as("id_a"), col("__gh"))
      .join(capped.select(col("__id").as("id_b"), col("__gh")), "__gh")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("__na")),
        "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("__nb")),
        "id_b")
  }

  /** Directed near-CONTAINMENT pairs — the asymmetric member of the
    * exact dedup family: C(A ⊆ B) = |grams(A) ∩ grams(B)| / |grams(A)|
    * ≥ minPct/100, the predicate that catches quote-expansion and
    * excerpt duplication (a short doc wholly inside a long one scores
    * near-zero symmetric Jaccard — |A∩B|/|A∪B| is diluted by the
    * container — yet is exactly the redundancy a training corpus must
    * not double-count). Same inverted-index machinery and df-cap as
    * [[ngramJaccardPairs]]; each unordered pair then tests BOTH
    * directions with the exact-integer predicate
    * n_shared·100 ≥ minPct·n_contained (no doubles — replayable
    * anywhere). Returns (contained, container, n_shared, n_contained,
    * cont_bp) with cont_bp the truncated basis-point containment.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minPct: Int, maxDf: Long): DataFrame = {
    require(minPct >= 1 && minPct <= 100, s"minPct out of range: $minPct")
    val shared = cappedGramPairs(docs, idCol, textCol, n, maxDf)
    def directed(contained: String, container: String,
        nCol: String): DataFrame = shared
      .filter(col("n_shared") * 100 >= lit(minPct) * col(nCol))
      .select(col(contained).as("contained"),
        col(container).as("container"), col("n_shared"),
        col(nCol).as("n_contained"),
        expr(s"(n_shared * 10000L) div $nCol").as("cont_bp"))
    directed("id_a", "id_b", "__na")
      .unionByName(directed("id_b", "id_a", "__nb"))
  }

  /** Resolve a FRACTION-of-corpus df cap to the absolute count the
    * capped operators take: ⌈fraction · nDocs⌉, floored at 2 (a cap
    * below 2 would drop every REPEATED gram — exactly the signal the
    * near-dup operators exist to find). Pure, so the resolution rule
    * is spec-pinnable against the absolute form.
    *
    * Why this form exists: an absolute `maxDf` is a corpus-size-
    * RELATIVE policy wearing absolute clothes — the sf1 spot-gate
    * (BASELINE.md) measured that the same `maxDf = 100` admits 10×
    * deeper posting lists at 10× the corpus, turning the inverted-
    * index families quadratic. A fraction holds the stop-gram POLICY
    * ("drop grams shared by more than 0.2% of documents") fixed as
    * the corpus grows, which keeps per-gram pair fanout proportional
    * to corpus size instead of its square.
    */
  def dfCapForFraction(nDocs: Long, fraction: Double): Long = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"df fraction must be in (0,1]: $fraction")
    require(nDocs >= 0, s"negative corpus size: $nDocs")
    math.max(2L, math.ceil(fraction * nDocs).toLong)
  }

  /** [[ngramJaccardPairs]] with the df cap given as a fraction of the
    * corpus: one O(1)-result `count()` job resolves
    * [[dfCapForFraction]](|docs|, maxDfFraction), then the absolute
    * form runs unchanged — both forms are the same operator, the
    * fraction form just scales its cap with the corpus.
    */
  def ngramJaccardPairsByDfFraction(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minJaccard: Double,
      maxDfFraction: Double): DataFrame =
    ngramJaccardPairs(docs, idCol, textCol, n, minJaccard,
      dfCapForFraction(docs.count(), maxDfFraction))

  /** [[ngramContainmentPairs]] with the df cap as a corpus fraction —
    * see [[ngramJaccardPairsByDfFraction]].
    */
  def ngramContainmentPairsByDfFraction(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minPct: Int,
      maxDfFraction: Double): DataFrame =
    ngramContainmentPairs(docs, idCol, textCol, n, minPct,
      dfCapForFraction(docs.count(), maxDfFraction))
}
