package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Global ordering operators for training pipelines: contiguous row
  * indexing and GPT-style sequence packing (concatenate all documents in
  * a fixed order, cut every `budget` tokens).
  *
  * Both need an order-wide running total — the textbook case where the
  * naive formulation (`row_number()`/`sum() over (ORDER BY ...)` with no
  * partition) collapses Spark into ONE task holding the whole dataset.
  * Every running total here is the distributed [[PrefixScan]]'s `Sum`
  * accumulator instead, under its order-key contract.
  */
object Pack {

  /** Contiguous 0-based global row index in `orderCol` order — the
    * scalable replacement for `row_number() OVER (ORDER BY ...)`
    * (which is a single-task window) and for `zipWithIndex` (which
    * drops to RDDs). */
  def globalIndex(df: DataFrame, orderCol: String,
                  out: String = "row_idx"): DataFrame =
    PrefixScan(df, orderCol, PrefixScan.Sum(lit(1L), out))

  /** Materialize the packed training sequences themselves: concatenate
    * all documents in `orderCol` order and emit one row per
    * `budget`-token sequence — (seq_id, n_tokens, seq_text). The final
    * sequence may be partial; every other sequence holds exactly
    * `budget` tokens.
    *
    * Scale shape: the global token offset is the distributed prefix scan
    * (no single-task stage); assembly then explodes to token granularity
    * ONCE and shuffles by sequence id — the unavoidable cost of
    * physically materializing sequences, and each group is bounded by
    * `budget` tokens regardless of corpus size, so no task ever holds
    * more than one sequence's worth of state. */
  def assembleSequences(df: DataFrame, textCol: String, orderCol: String,
                        budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val withToks = df.withColumn("_toks",
      graft.functions.TextFunctions.tokens(col(textCol)))
    val withOff = PrefixScan(withToks, orderCol,
      PrefixScan.Sum(size(col("_toks")), "_off"))
    withOff
      .select(col("_off"), posexplode(col("_toks")).as(Seq("_pos", "_tok")))
      .select((col("_off") + col("_pos")).as("_p"), col("_tok"))
      .groupBy(floor(col("_p") / budget).cast(LongType).as("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("_p"), col("_tok")))),
            x => x.getField("_tok")),
          " ").as("seq_text"))
  }

  /** GPT-style sequence packing: documents are concatenated in
    * `orderCol` order and cut into fixed `budget`-token training
    * sequences; a document whose token span crosses a cut belongs to
    * both sequences (`spans_boundary`). Emits per document:
    * `tok_offset` (global token start), `seq_first`, `seq_last`.
    *
    * This is the concat-and-chunk packing used for pretraining data —
    * deterministic given the order column, and resumable: a new batch
    * appended after the last order key continues exactly where the
    * previous run's running total left off. */
  def packByTokenBudget(df: DataFrame, tokenCount: Column, orderCol: String,
                        budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    PrefixScan(df.withColumn("n_tokens", coalesce(tokenCount.cast(LongType), lit(0L))),
        orderCol, PrefixScan.Sum(col("n_tokens"), "tok_offset"))
      .withColumn("seq_first",
        floor(col("tok_offset") / budget).cast(LongType))
      .withColumn("seq_last",
        when(col("n_tokens") > 0,
          floor((col("tok_offset") + col("n_tokens") - 1) / budget))
          .otherwise(floor(col("tok_offset") / budget)).cast(LongType))
      .withColumn("spans_boundary", col("seq_last") > col("seq_first"))
  }

  /** Length-bucketed batch assignment — the padding-minimization step of
    * a training/inference loader: sort documents by token length (id as
    * the total-order tie-break), cut into fixed-size batches, so each
    * batch pads to ITS OWN max length instead of the corpus max. The
    * assignment is deterministic and engine-portable (a pure function of
    * (length, id)); row ranks come from the distributed prefix scan, not
    * a single-task global window.
    *
    * Output per document: (idCol, n_tokens, batch_id). Per-batch padding
    * stats are one groupBy away (see q115's aggregation).
    *
    * The composite order key packs (length, id) into one long —
    * `require`d not to overflow — because the range-partitioned prefix
    * scan orders by a single column. */
  def lengthBatches(df: DataFrame, tokenCount: Column, idCol: String,
                    batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    // contract check rides inside the projection (no extra scan): a row
    // outside the packable range would silently corrupt the order key,
    // so fail the job loudly instead
    val inRange = col(idCol) >= 0 && col(idCol) < 1000000000L &&
      col("n_tokens") < 9000000000L
    val keyed = df.select(col(idCol),
        coalesce(tokenCount.cast(LongType), lit(0L)).as("n_tokens"))
      .withColumn("_ord", when(inRange,
          col("n_tokens") * lit(1000000000L) + col(idCol))
        .otherwise(raise_error(concat(
          lit(s"lengthBatches needs 0 <= $idCol < 1e9 and n_tokens < 9e9, got id="),
          col(idCol).cast("string"),
          lit(" n_tokens="), col("n_tokens").cast("string")))))
    globalIndex(keyed, "_ord", "_idx")
      .select(col(idCol), col("n_tokens"),
        floor(col("_idx") / batchSize).cast(LongType).as("batch_id"))
  }

  /** Training-shard assignment at DOCUMENT granularity — the terminal
    * "write the release shards" step of a data pipeline (WebDataset /
    * streaming-loader layouts): documents are laid out in `orderCol`
    * order and a document belongs to the shard where its token span
    * STARTS (`shard_id = exclusive_token_offset DIV shardBudget`), so
    * documents are never split across shards and every shard except
    * possibly the last holds >= shardBudget tokens minus its final
    * document's overhang. Deterministic and resumable for the same
    * reason [[packByTokenBudget]] is: the assignment is a pure function
    * of the running token total over the order column.
    *
    * Scale shape: one distributed prefix scan (no single-task window,
    * no collect) + a codegen'd projection. The returned frame is the
    * writer's input — at 100 TB, `repartition(col("shard_id"))` then
    * write one file per shard. */
  def shardAssign(df: DataFrame, tokenCount: Column, orderCol: String,
                  shardBudget: Long): DataFrame = {
    require(shardBudget > 0, s"shardBudget must be positive, got $shardBudget")
    PrefixScan(df.withColumn("n_tokens",
        coalesce(tokenCount.cast(LongType), lit(0L))),
        orderCol, PrefixScan.Sum(col("n_tokens"), "_tok_off"))
      .withColumn("shard_id", expr(s"_tok_off DIV $shardBudget"))
      .drop("_tok_off")
  }

  /** The shard MANIFEST over [[shardAssign]] — what a release publishes
    * next to the shard files so a consumer can verify a download
    * without re-reading the corpus: per shard the doc/token counts, the
    * id range, and an ORDER-FREE multiset checksum of the (id,
    * n_tokens) membership ([[Checksum]]'s md5-60-bit XOR + exact
    * decimal SUM + COUNT triple — any SQL engine recomputes it from
    * its own copy). One hash aggregation over the assignment; the
    * shuffle carries one fixed-width row per shard. */
  def shardManifest(df: DataFrame, tokenCount: Column, idCol: String,
                    shardBudget: Long): DataFrame =
    shardAssign(df, tokenCount, idCol, shardBudget)
      .withColumn("_h", Checksum.rowHash(Seq(col(idCol), col("n_tokens"))))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"),
        expr("bit_xor(_h)").as("xor_hash"),
        // exact decimal sum rendered as a STRING, not DOUBLE: at
        // multi-h60 magnitudes (> 2^63) the decimal->double cast can
        // differ by 1 ulp across engines, and a checksum column must be
        // bit-portable, not approximately portable
        sum(col("_h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("string").as("sum_hash"))
}
