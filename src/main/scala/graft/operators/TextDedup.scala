package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions

/** Near-duplicate detection over document text — the deduplication family a
  * large-scale training-data pipeline needs (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard). Designed for the 100 TB shape:
  *
  *  - Exact dedup is a single hash-aggregate on a 16-byte content key.
  *  - MinHash signatures are one codegen'd projection per document (k hash
  *    mins over the shingle array); LSH banding turns the quadratic pairwise
  *    problem into an equi-join on (band, bandHash) — only co-bucketed
  *    documents ever meet, so the shuffle carries (docId, bandKey) pairs,
  *    not text.
  *  - Verification (true Jaccard) runs only on candidate pairs.
  *
  * Skew note: a degenerate band bucket (e.g. thousands of boilerplate docs)
  * explodes quadratically; `maxBucketSize` drops such buckets the way
  * production dedup pipelines cap posting lists.
  */
object TextDedup {

  /** Exact duplicate groups: rows whose normalized text hashes equal.
    * Returns (content_key, dup_count) for groups with >1 member. */
  def exactDupGroups(docs: DataFrame, textCol: String): DataFrame =
    docs.groupBy(TextFunctions.contentKey(col(textCol)).as("content_key"))
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Keep one representative per exact-duplicate group (lowest id). */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(TextFunctions.contentKey(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Line-level corpus dedup — the CCNet/RefinedWeb pre-cleaning step:
    * strip boilerplate lines repeated across the corpus while preserving
    * the rest of each document's structure. A line is "duplicated" when
    * its exact content occurs at least `minCount` times in the corpus-wide
    * line stream (occurrence-level, consistent with [[crossDocDupGrams]]:
    * a line repeated `minCount` times inside ONE doc is also stripped);
    * blank lines carry no boilerplate signal and are always kept.
    *
    * Output: (idCol, n_lines, n_dropped, `out`) — one row per input doc,
    * including docs whose every line was stripped (empty `out`).
    *
    * Scale: posexplode to (doc, pos, line) once; ONE hash Exchange on the
    * line content drives the frequency window; survivors re-aggregate per
    * doc (partial combine before the doc Exchange) with the original line
    * order restored by an in-array sort on position — two Exchanges total,
    * no join, nothing corpus-sized on the driver. A pathological line
    * (same boilerplate in millions of docs) is one hot window partition
    * whose count fits in a long; AQE skew handling splits the sort. */
  def stripDupLines(docs: DataFrame, textCol: String, idCol: String,
                    minCount: Long = 2L, out: String = "text_clean"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
    val byLine = Window.partitionBy(col("_line"))
    val dropped = col("_cnt") >= minCount && length(trim(col("_line"))) > 0
    lines
      .withColumn("_cnt", count(lit(1)).over(byLine))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(dropped, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(!dropped,
              struct(col("_pos"), col("_line"))))),
            x => x.getField("_line")),
          "\n").as(out))
  }

  /** MinHash signature: array of `numHashes` minima of seeded xxhash64 over
    * the document's shingles. One projection, no shuffle. Native expression
    * (graft.plans.MinHashSig): one pass over the shingle array instead of
    * `numHashes` interpreted HOF passes — same bits. */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    graft.plans.SketchExpressions.minHashSig(shingles, numHashes)

  /** Reference HOF formulation of [[minHashSignature]] — kept as the
    * parity oracle for the native expression (see TextDedupSpec). */
  def minHashSignatureHof(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingles, s => xxhash64(lit(i), s)))
    }: _*)

  /** (id, shingles, signature) frame, materialized once: the self-join
    * and the verification probes would otherwise recompute the
    * shingle+signature projection up to four times. Eager
    * `localCheckpoint`, NOT `persist`: a persisted frame stays
    * registered in the CacheManager until an explicit unpersist, so a
    * long-lived session running many dedup calls (the bench runs 85
    * queries in one JVM) accumulates sketch caches until memory
    * pressure throttles everything downstream — checkpoint blocks are
    * ContextCleaner-released as soon as the frame is unreachable. At
    * cluster scale this becomes a checkpoint/table write ("materialize
    * the sketch once"); see [[Pin]] for the executor-loss trade-off. */
  private def sigFrameWith(docs: DataFrame, textCol: String, idCol: String,
                           shingleSize: Int, sigOf: Column => Column): DataFrame = {
    // spread docs across cores BEFORE the signature projection —
    // minhashing is the most CPU-intensive per-byte stage in the
    // library and a compact input would serialize it on one task
    // (measured: q30 13.4 s -> 2.8 s at sf0.1; see [[Spread]])
    Pin.data(Spread.toCores(docs)
      .select(col(idCol).as("_id"),
        TextFunctions.charShingles(col(textCol), shingleSize).as("_sh"))
      .withColumn("_sig", sigOf(col("_sh"))))
  }

  private def sigFrame(docs: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int, numHashes: Int): DataFrame =
    sigFrameWith(docs, textCol, idCol, shingleSize, minHashSignature(_, numHashes))

  private def bandPairsWith(sig: DataFrame, bands: Int, rowsPerBand: Int,
                            maxBucketSize: Int,
                            bandHash: Column => Column,
                            onDroppedBuckets: Option[Long => Unit] = None): DataFrame = {
    // band rows: (id, band, hash(slice of signature)); ConcatWs coerces
    // the sliced array<long> to array<string> (decimal rendering — the
    // same string an external engine's array_to_string produces)
    val banded = sig.select(col("_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            bandHash(concat_ws(",",
              slice(col("_sig"), b * rowsPerBand + 1, rowsPerBand))).as("bh"))
        }: _*)).as("bs"))
      .select(col("_id"), col("bs.band").as("band"), col("bs.bh").as("bh"))

    // capped buckets are silently not deduped (the same RECALL TRADE-OFF
    // as semDedup's maxCellSize) — observe the drop count on demand; the
    // extra aggregation job only runs when a callback is registered
    onDroppedBuckets.foreach { f =>
      f(banded.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("_bc"))
        .filter(col("_bc") > maxBucketSize).count())
    }

    // cap pathological buckets (boilerplate skew) before the join explodes
    val counted = banded.withColumn("_bc",
      count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("_bc") <= maxBucketSize)
      .drop("_bc")

    val a = counted.as("a"); val b = counted.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
  }

  private def bandPairs(sig: DataFrame, bands: Int, rowsPerBand: Int,
                        maxBucketSize: Int): DataFrame =
    bandPairsWith(sig, bands, rowsPerBand, maxBucketSize, xxhash64(_))

  /** LSH candidate pairs via banding. Returns (idA, idB) with idA < idB.
    *
    * @param bands x rowsPerBand = numHashes. P(candidate) ≈
    *   1-(1-j^r)^b for true Jaccard j — 16x4 targets j ≳ 0.5.
    */
  def minHashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 5, bands: Int = 16,
                        rowsPerBand: Int = 4,
                        maxBucketSize: Int = 1000): DataFrame =
    bandPairs(sigFrame(docs, textCol, idCol, shingleSize, bands * rowsPerBand),
      bands, rowsPerBand, maxBucketSize)

  /** Batch twin of [[graft.streaming.StreamingNearDup.hits]]'s decision
    * statistic: banded candidate pairs filtered by SIGNATURE-ESTIMATED
    * Jaccard only — no exact shingle verify, because the estimate is the
    * statistic a bounded-state stream can compute (its state keeps
    * signatures, not shingle sets). Production xxhash64 hashing, the
    * same signature family as the stream; the Verify stream/batch
    * parity artifact compares this pair set against the stream's hits.
    * Caveat: under a cap-overflowing bucket the two differ by design —
    * batch drops the whole bucket, the stream keeps its first
    * `maxBucketSize` members (both spec-pinned). */
  def minHashEstimatedDups(docs: DataFrame, textCol: String, idCol: String,
                           threshold: Double = 0.8, shingleSize: Int = 9,
                           bands: Int = 8, rowsPerBand: Int = 4,
                           maxBucketSize: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = sigFrame(docs, textCol, idCol, shingleSize, numHashes)
    val cands = bandPairs(sig, bands, rowsPerBand, maxBucketSize)
    val aSide = sig.select(col("_id").as("id_a"), col("_sig").as("_sig_a"))
    val bSide = sig.select(col("_id").as("id_b"), col("_sig").as("_sig_b"))
    cands.join(aSide, "id_a").join(bSide, "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("_sig_a"), col("_sig_b"), (x, y) => x === y),
          b => b)).cast(DoubleType) / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  private def verifiedNearDups(sig: DataFrame, cands: DataFrame,
                               numHashes: Int, threshold: Double,
                               estimateMargin: Double): DataFrame = {
    // TWO-PHASE verify, and the phases must stay separate JOINS, not
    // one join with a deferred filter: the estimate pass rides ONLY the
    // fixed-width signatures (numHashes longs per side), because at a
    // 100x-class corpus the post-cap candidate volume is tens of
    // millions of pairs and the shingle SETS are 10-100x wider than
    // the signatures — joining them onto every candidate moved
    // ~6 KB/pair through the sort-merge spill (measured: >80 GB of
    // spill at 520k docs, where the signature-only estimate join moves
    // ~0.5 KB/pair and the exact pass joins shingles onto the few
    // estimate-survivors only). Same pairs, same jaccard — the oracle
    // replays the identical math; only the plan shape changes.
    val sigA = sig.select(col("_id").as("id_a"), col("_sig").as("_sig_a"))
    val sigB = sig.select(col("_id").as("id_b"), col("_sig").as("_sig_b"))
    val plausible = cands.join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("_est",
        size(filter(zip_with(col("_sig_a"), col("_sig_b"), (x, y) => x === y),
          b => b)).cast(DoubleType) / numHashes)
      .filter(col("_est") >= threshold - estimateMargin)
      .select(col("id_a"), col("id_b"))

    val shA = sig.select(col("_id").as("id_a"), col("_sh").as("_sh_a"))
    val shB = sig.select(col("_id").as("id_b"), col("_sh").as("_sh_b"))
    plausible.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("_sh_a"), col("_sh_b"))).cast(DoubleType) /
          size(array_union(col("_sh_a"), col("_sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), bround(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash+LSH near-dup pairs verified by true shingle Jaccard.
    * Candidates are first pruned by the signature-estimated Jaccard
    * (matching-minima fraction) with a safety margin, so the expensive
    * exact set intersection runs only on plausibly-close pairs. */
  def minHashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.8, shingleSize: Int = 5,
                      bands: Int = 16, rowsPerBand: Int = 4,
                      estimateMargin: Double = 0.2,
                      maxBucketSize: Int = 1000,
                      onDroppedBuckets: Option[Long => Unit] = None): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = sigFrame(docs, textCol, idCol, shingleSize, numHashes)
    val cands = bandPairsWith(sig, bands, rowsPerBand, maxBucketSize,
      xxhash64(_), onDroppedBuckets)
    verifiedNearDups(sig, cands, numHashes, threshold, estimateMargin)
  }

  // ------------------------------------------------------------------
  // Oracle-mode variants: identical banding algebra, but every hash is
  // md5-derived (graft.plans.OracleHashes), so an external SQL engine
  // can recompute the ENTIRE pipeline — signatures, band buckets,
  // bucket cap, candidates, estimate prefilter, exact Jaccard — and the
  // queries built on these are hash-checked against the DuckDB oracle.
  // Production paths stay on xxhash64; cross-mode agreement on the
  // found pairs is spec-asserted (TextDedupSpec).
  // ------------------------------------------------------------------

  private def sigFrame31(docs: DataFrame, textCol: String, idCol: String,
                         shingleSize: Int, numHashes: Int): DataFrame =
    sigFrameWith(docs, textCol, idCol, shingleSize,
      graft.plans.OracleHashExpressions.minHashSig31(_, numHashes))

  /** [[minHashNearDups]] with SQL-reproducible hashing. */
  def minHashNearDups31(docs: DataFrame, textCol: String, idCol: String,
                        threshold: Double = 0.8, shingleSize: Int = 5,
                        bands: Int = 16, rowsPerBand: Int = 4,
                        estimateMargin: Double = 0.2): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = sigFrame31(docs, textCol, idCol, shingleSize, numHashes)
    val cands = bandPairsWith(sig, bands, rowsPerBand, maxBucketSize = 1000,
      md5(_))
    verifiedNearDups(sig, cands, numHashes, threshold, estimateMargin)
  }

  /** Pairwise n-gram Jaccard for an (already small / pre-filtered) set —
    * the brute-force oracle for the LSH path. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 5, threshold: Double = 0.5): DataFrame = {
    val sh = docs.select(col(idCol).as("_id"),
      TextFunctions.charShingles(col(textCol), shingleSize).as("_sh"))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a._id") < col("b._id"))
      .withColumn("jaccard",
        size(array_intersect(col("a._sh"), col("b._sh"))).cast(DoubleType) /
          size(array_union(col("a._sh"), col("b._sh"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        bround(col("jaccard"), 6).as("jaccard"))
  }

  /** ASYMMETRIC CONTAINMENT screen — the dedup family's directed
    * variant: containment(A→B) = |shingles(A) ∩ shingles(B)| / |A|, so
    * a short document living INSIDE a long one (a quote, a partial
    * copy, a page wrapping an article) surfaces even though its
    * JACCARD is tiny — exactly the pair class MinHash-LSH is blind to
    * by construction (LSH recall tracks Jaccard; a 10:1 size ratio
    * caps Jaccard at 0.1 regardless of overlap).
    *
    * Two-phase, the q30 estimate→verify shape restated for containment:
    *
    *  1. CANDIDATES from rare shingles: explode distinct shingles, drop
    *     every shingle whose document frequency exceeds `dfCap` (a
    *     DETERMINISTIC whole-shingle drop — no ordering, no sampling —
    *     so any engine replays it), pair documents sharing ≥ `minShared`
    *     surviving shingles. The per-shingle join work is capped at
    *     dfCap² and hot boilerplate shingles (the quadratic killers)
    *     never generate pairs; a contained document still shares its
    *     DISTINCTIVE shingles with its container, which is what the
    *     candidate stage needs. Recall trade: a pair sharing ONLY
    *     boilerplate is invisible — the same documented trade as the
    *     LSH bucket caps, priced by the same logic (dropped shingles
    *     are corpus-common, so the pairs they generate are spurious).
    *  2. VERIFY survivors exactly: join the two shingle SETS only for
    *     candidate pairs and compute exact containment (and Jaccard,
    *     for the symmetric read) — the wide arrays ride only the
    *     survivor join, never the shingle shuffle.
    *
    * Emits DIRECTED pairs (id_a, id_b) with containment = fraction of
    * A's shingles inside B; an exact copy shows 1.0 both ways. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 5, threshold: Double = 0.8,
                       dfCap: Int = 64, minShared: Int = 2): DataFrame = {
    require(dfCap >= 2, s"dfCap must be >= 2, got $dfCap")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val sh = Pin.data(docs.select(col(idCol).as("_id"),
      TextFunctions.charShingles(col(textCol), shingleSize).as("_sh"))
      .withColumn("_n", size(col("_sh"))))
    val occ = sh.select(col("_id"), explode(col("_sh")).as("_g"))
    val dfx = occ.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
    val rare = occ.join(dfx.filter(col("_df") <= dfCap), Seq("_g"))
      .select(col("_g"), col("_id"))
    val cand = rare.select(col("_g"), col("_id").as("id_a"))
      .join(rare.select(col("_g"), col("_id").as("id_b")), Seq("_g"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_shared_rare"))
      .filter(col("_shared_rare") >= minShared)
    cand
      .join(sh.select(col("_id").as("id_a"), col("_sh").as("_sha"),
        col("_n").as("_na")), Seq("id_a"))
      .join(sh.select(col("_id").as("id_b"), col("_sh").as("_shb"),
        col("_n").as("_nb")), Seq("id_b"))
      .withColumn("_inter",
        size(array_intersect(col("_sha"), col("_shb"))).cast(DoubleType))
      .withColumn("containment", col("_inter") / col("_na"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        bround(col("containment"), 6).as("containment"),
        bround(col("_inter") /
          size(array_union(col("_sha"), col("_shb"))).cast(DoubleType), 6)
          .as("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: per bit, sum +1/-1 weighted by
    * each token's hash bit, then take signs. Returned as array<int> of 64
    * bits. Native expression (graft.plans.SimHashBits): one loop per row
    * instead of a 64-wide zip_with allocation per token — same bits. */
  def simHashBits(c: Column): Column =
    graft.plans.SketchExpressions.simHashBits(TextFunctions.tokens(c))

  /** Reference HOF formulation of [[simHashBits]] — parity oracle for the
    * native expression (see TextDedupSpec). */
  def simHashBitsHof(c: Column): Column = {
    val toks = TextFunctions.tokens(c)
    val sums = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, j) => a + when(call_function("shiftright", h, j).bitwiseAND(1L) === 1L, lit(1L)).otherwise(lit(-1L)))
      })
    transform(sums, s => when(s >= 0L, 1).otherwise(0))
  }

  /** Pack a simhash bit array into one long. Bit order: the FIRST array
    * element lands in the MOST significant emitted bit (the fold is
    * acc*2+b), so for a 64-element array, element 0 = bit 63. */
  def packBits(bits: Column): Column =
    aggregate(bits, lit(0L), (acc, b) => acc * 2L + b.cast(LongType))

  /** Hamming distance between two equal-length bit arrays. */
  def hamming(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x =!= y), x => x))

  /** SimHash near-dup pairs: block on 4 x 16-bit chunks (near-dups within
    * hamming distance <= 3 share at least one exact chunk — pigeonhole over
    * any partition of the 64 bits into 4 groups), verify by full hamming
    * distance.
    *
    * The sketch is packed into ONE long per document before the join:
    * chunk keys are bit-slices (`shiftright` + mask) and verification is a
    * single `bit_count(a ^ b)` — no arrays ever reach the shuffle, so each
    * joined row is (id, long, int, long) regardless of document size.
    *
    * `maxHamming` is CAPPED at 3 (nChunks − 1): the pigeonhole guarantee
    * only holds up to one less than the chunk count, so a larger radius
    * would silently miss pairs — the call throws instead (loud over
    * incomplete; widen the radius by raising the chunk count, at the
    * cost of more candidate pairs). */
  def simHashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3): DataFrame =
    packedNearDups(docs.select(col(idCol).as("_id"),
      packBits(simHashBits(col(textCol))).as("_ph")), maxHamming, 4, 16)

  /** Blocked Hamming pair search over ONE PACKED-LONG sketch per row —
    * the shared engine under text SimHash (64- and 60-bit) and the
    * media dHash: block on `nChunks` x `chunkBits` bit-slices
    * (pigeonhole — hamming <= nChunks-1 guarantees at least one shared
    * exact chunk over any partition of the bits), verify candidates by
    * a single `bit_count(a ^ b)`. `packed` must be (`_id`, `_ph`).
    * Chunk keys are shifts+masks and verification is one XOR — no
    * arrays ever reach the shuffle, each joined row is fixed-width
    * regardless of payload/document size. */
  private[graft] def packedNearDups(packed: DataFrame, maxHamming: Int,
                                    nChunks: Int, chunkBits: Int): DataFrame = {
    require(maxHamming < nChunks,
      s"pigeonhole blocking needs maxHamming < nChunks ($maxHamming >= $nChunks)")
    val mask = (1L << chunkBits) - 1
    val chunked = packed.select(col("_id"), col("_ph"),
        explode(array((0 until nChunks).map { ch =>
          struct(lit(ch).as("chunk"),
            shiftright(col("_ph"), ch * chunkBits).bitwiseAND(mask).as("ch_val"))
        }: _*)).as("cs"))
      .select(col("_id"), col("_ph"), col("cs.chunk").as("chunk"), col("cs.ch_val").as("ch_val"))
    val a = chunked.as("a"); val b = chunked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ch_val") === col("b.ch_val") &&
        col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        bit_count(col("a._ph").bitwiseXOR(col("b._ph"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Oracle-mode SimHash near-dups: 60-bit md5-derived sketch
    * (graft.plans.SimHash60), blocked on 4 x 15-bit chunks (pigeonhole:
    * hamming <= 3 over any 4-way bit partition shares a chunk), verified
    * by `bit_count(a ^ b)`. Same shape as [[simHashNearDups]] — one
    * packed long per doc on the shuffle — but every step is plain SQL
    * (`md5` hex parse + shifts), so the whole query is DuckDB-checkable.
    * Same `maxHamming <= 3` precondition as [[simHashNearDups]]
    * (pigeonhole over 4 chunks) — larger radii throw rather than
    * silently under-report. */
  def simHashNearDups60(docs: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3): DataFrame =
    packedNearDups(docs.select(col(idCol).as("_id"),
      graft.plans.OracleHashExpressions.simHash60(
        TextFunctions.tokens(col(textCol))).as("_ph")), maxHamming, 4, 15)

  /** Cross-document duplicated n-gram coverage — the corpus-level
    * repetition signal (RefinedWeb/CCNet run line-level dedup; with no
    * line structure in this corpus the unit is the word n-gram): for each
    * doc, the fraction of its word-n-gram OCCURRENCES whose gram appears
    * at least twice in the corpus-wide gram stream. Grams are NOT deduped
    * per doc: a gram repeated within one doc counts toward the >= 2
    * threshold by itself, and each occurrence counts separately in the
    * denominator — i.e. this measures repeated-gram mass, not distinct-gram
    * coverage (the oracle computes the same occurrence-level semantics).
    *
    * Scale: explode to (doc, gram) ONCE, count each gram's doc frequency
    * with an unordered window over the gram partition (one hash shuffle of
    * the gram stream — no self-join, no broadcast of a corpus-sized
    * doc-frequency table, no second evaluation of the shingle explode),
    * then re-aggregate by doc (partial combine shrinks the stream to one
    * row per doc before the second shuffle). A pathological gram that
    * appears in every doc is one hot window partition whose count fits in
    * a long; AQE skew handling splits it. (A groupBy+join-back
    * formulation was measured 2x slower here: Spark re-derives the
    * exploded frame on both sides and broadcasts the full gram->df map.) */
  def crossDocDupGrams(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 5): DataFrame = {
    // spread before the shingle explode (CPU-heavy per byte, see Spread)
    val grams = Spread.toCores(docs).select(col(idCol),
      explode(TextFunctions.wordShingles(col(textCol), n)).as("_gram"))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("_gram"))
    grams.withColumn("_df", count(lit(1)).over(byGram))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col(idCol), col("n_grams"),
        round(col("n_dup_grams").cast(DoubleType) / col("n_grams"), 6)
          .as("dup_gram_frac"))
  }

  /** Cross-source n-gram overlap matrix — the provenance analytic a
    * multi-source corpus audit runs ("which sources copy from each
    * other"): for every source pair, the count of distinct word n-grams
    * both contain, and the containment coefficient
    * shared / min(|grams_a|, |grams_b|).
    *
    * Shape at scale: the corpus collapses to the DISTINCT (source, gram)
    * frame (one hash agg; Pin'd because the totals and both join sides
    * consume it); the self-join keys on the gram, and its fan-out per
    * gram is bounded by source-cardinality² — sources are a handful, so
    * the join output is pairs-of-sources-sized per gram, never
    * corpus². Totals broadcast back. */
  def sourceOverlap(docs: DataFrame, textCol: String, sourceCol: String,
                    n: Int = 8): DataFrame = {
    val grams = Pin.data(Spread.toCores(docs)
      .select(col(sourceCol).as("_src"),
        explode(TextFunctions.wordShingles(col(textCol), n)).as("_gram"))
      .distinct())
    val totals = grams.groupBy(col("_src")).agg(count(lit(1)).as("_n"))
    val a = grams.as("a"); val b = grams.as("b")
    a.join(b, col("a._gram") === col("b._gram") &&
        col("a._src") < col("b._src"))
      .groupBy(col("a._src").as("source_a"), col("b._src").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(totals.select(col("_src").as("source_a"),
        col("_n").as("_na"))), Seq("source_a"))
      .join(broadcast(totals.select(col("_src").as("source_b"),
        col("_n").as("_nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        round(col("shared_grams").cast(DoubleType) /
          least(col("_na"), col("_nb")).cast(DoubleType), 6).as("containment"))
  }

  /** ExactSubstr-lite span removal (the strongest dedup class in Lee et
    * al. 2022, arXiv:2107.06499 §4.1, token-window-shaped instead of
    * suffix-array-shaped): every `window`-token span that occurs more
    * than once IN THE WHOLE CORPUS is removed from every occurrence
    * except the globally first one (min (id, position) — deterministic,
    * partition-independent). A verbatim copy of an earlier document
    * collapses to the empty string; shared boilerplate (cookie banners,
    * license headers) is stripped wherever it re-appears while the first
    * occurrence keeps it. Docs shorter than `window` tokens pass through
    * untouched. Output: (idCol, n_tokens, n_removed, clean_text).
    *
    * CAVEAT on "the first occurrence keeps it": the guarantee is per
    * GRAM — the first occurrence of each duplicated gram is never a
    * removal SOURCE. When duplicate windows self-overlap (a token
    * repeated ≥ window+1 times in a row), removal spans of later
    * occurrences of one gram can cover tokens inside the first
    * occurrence of another (e.g. 9× the same token with window=8 keeps
    * only token 0), so text under overlapping repeats may erode beyond
    * the first span. This matches ExactSubstr's own behavior on
    * self-overlapping repeats and is what the q113 oracle and the
    * property tests pin.
    *
    * Shape at scale:
    *  - the window stream is ~1 row per corpus token; the duplicate/
    *    first-occurrence resolution is ONE gram-keyed hash aggregation
    *    (count + min-struct, both with map-side partial combine) whose
    *    output is duplicate-gram-sized;
    *  - removal spans explode ×window into covered token indices — a
    *    dup-volume-sized frame joined back size-adaptively (broadcast
    *    when dups are rare, shuffle when not; no hint);
    *  - document rebuild is one id-keyed aggregation; groups are
    *    document-bounded, never corpus-bounded. */
  def stripDupSpans(docs: DataFrame, textCol: String, idCol: String,
                    window: Int = 8): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val base = Spread.toCores(docs)
      .select(col(idCol).as("_id"), TextFunctions.tokens(col(textCol)).as("_t"))
    // (pos, gram) for every window start; 0-based positions
    val occ = base.filter(size(col("_t")) >= window)
      .select(col("_id"), explode(transform(
        sequence(lit(0), size(col("_t")) - window),
        i => struct(i.cast(LongType).as("pos"),
          array_join(slice(col("_t"), i + 1, lit(window)), " ").as("gram")))).as("w"))
      .select(col("_id"), col("w.pos").as("pos"), col("w.gram").as("gram"))
    // duplicated grams with their global first occurrence
    val firsts = occ.groupBy(col("gram"))
      .agg(count(lit(1)).as("_n"),
        min(struct(col("_id").as("fid"), col("pos").as("fpos"))).as("_f"))
      .filter(col("_n") > 1)
      .select(col("gram"), col("_f.fid").as("_fid"), col("_f.fpos").as("_fpos"))
    // every non-first occurrence covers [pos, pos + window) for removal
    val removedIdx = occ.join(firsts, Seq("gram"))
      .filter(!(col("_id") === col("_fid") && col("pos") === col("_fpos")))
      .select(col("_id"),
        explode(sequence(col("pos"), col("pos") + window - 1)).as("_ti"))
      .distinct()
    // token stream with indices, minus covered ones, rebuilt in order
    val tokStream = base.select(col("_id"),
        posexplode(col("_t")).as(Seq("_ti", "_tok")))
      .withColumn("_ti", col("_ti").cast(LongType))
    val rebuilt = tokStream.join(removedIdx, Seq("_id", "_ti"), "left_anti")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("_ti"), col("_tok")))),
          x => x("_tok")), " ").as("clean_text"))
    base.select(col("_id"), size(col("_t")).cast(LongType).as("n_tokens"))
      .join(rebuilt, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
