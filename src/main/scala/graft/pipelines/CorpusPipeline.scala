package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Pack, Split}

/** The end-to-end training-corpus preparation flow — the composition the
  * individual operators exist FOR, as one lazy DataFrame chain:
  *
  *   language filter → quality filter → exact content dedup →
  *   deterministic split → token accounting → sequence packing
  *
  * Every stage is the library operator already verified on its own
  * (q25/q26/q29/q53/q58); this operator proves they COMPOSE — one plan,
  * no materialization barriers between stages, so Catalyst fuses the
  * scalar stages (language, quality, content key) into a single
  * codegen'd pass over the scan before the first shuffle.
  *
  * Scale shape: filters and the md5 content key are map-side; the dedup
  * is one content-key Exchange (keep-first by id); the split is a
  * zero-shuffle bucket filter; packing adds the distributed prefix scan
  * (range Exchange + bounded carry). Total: two data-bounded Exchanges
  * for the whole pipeline.
  */
object CorpusPipeline {

  /** Prepare `docs` for training: returns one row per surviving TRAIN
    * document with `quality`, `n_tokens`, `tok_offset` (global token
    * start in id order), and `seq_first` (its first `budget`-token
    * training sequence). */
  def prepare(docs: DataFrame, textCol: String, idCol: String,
              lang: String = "en", minQuality: Double = 0.3,
              trainBuckets: Int = 12, budget: Int = 2048): DataFrame = {
    require(trainBuckets > 0 && trainBuckets <= 16,
      s"trainBuckets must be in [1,16], got $trainBuckets")
    // spread before the language/quality scoring pass (see Spread)
    val scored = graft.operators.Spread.toCores(docs)
      .withColumn("_lang", TextFunctions.langId(col(textCol)))
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .filter(col("_lang") === lang && col("quality") >= minQuality)
      .withColumn("_ckey", md5(col(textCol)))
    val deduped = Dedup.keepFirst(scored, Seq("_ckey"), idCol)
    val train = deduped.filter(Split.bucket16(col(idCol)) < trainBuckets)
    // pinned SLIM (3 columns, text dropped — the packing output never
    // needs it): the prefix scan's planning pass AND its wide branch
    // both consume this frame, and its lineage contains the dedup
    // window (a corpus Exchange) — unpinned, that shuffle would run
    // twice per execution (the Eval.auc hazard). Narrower than the
    // pre-round-19 shape too: the prefix scan used to checkpoint the full
    // frame WITH text riding. GC-release lifecycle per Pin's contract.
    val slim = graft.operators.Pin.data(train.select(col(idCol),
      col("quality"),
      TextFunctions.tokenCount(col(textCol)).as("n_tokens")))
    Pack.packByTokenBudget(slim, col("n_tokens"), idCol, budget)
      .select(col(idCol), col("quality"), col("n_tokens"),
        col("tok_offset"), col("seq_first"))
  }
}
