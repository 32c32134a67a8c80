package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PERSISTED form of [[TextQueries.lmPerplexity]]'s language model —
  * what a CCNet-style production pipeline actually runs: the LM is
  * trained ONCE on the in-domain reference corpus, shipped as a bounded
  * artifact, and every scoring pass reads the artifact instead of
  * re-counting the training slice (KenLM's binary model file, re-expressed
  * as two parquet count tables). The scoring dataflow is byte-identical
  * to the oracle-gated inline query — both call [[TextQueries.lmScore]],
  * so the persisted path can never drift from the gated one (the
  * [[TextQueries.qualityScore]] sharing contract; LmModelSpec pins exact
  * row equality, and the registered `lm_perplexity_persisted` query
  * proves train→commit→load == the from-scratch DuckDB oracle).
  *
  * Retrain is an ATOMIC REBUILD SWAP via [[graft.io.SegmentLog]] (the
  * AnnIndex centroid-retrain convention): a new generation's uni/bi
  * tables are staged under fresh names, one manifest rename flips
  * visibility, and post-commit cleanup sweeps the old generation — a
  * reader never sees a half-written model or mixed generations of the
  * two tables.
  *
  * 100 TB posture: training cost is one reference-slice scan + two
  * grouped counts (the reference corpus is orders of magnitude smaller
  * than the scored corpus — CCNet's is one language's Wikipedia);
  * the artifact is |V| + |bigram| rows of (word(s), count) — bounded by
  * the TRAINING corpus, independent of what it scores. Scoring reads it
  * through column-pruned scans: the unigram side broadcasts, the bigram
  * side joins on (w1, w2) — or broadcasts too once the production vocab
  * cap bounds it.
  */
object LmModel {

  import graft.io.SegmentLog

  private def root(dir: String) = s"$dir/lm_model"

  private def state(dir: String): SegmentLog.State =
    SegmentLog.read(root(dir)).getOrElse(
      sys.error(s"no LM model committed at ${root(dir)}"))

  /** Train on `docs`' `trainLang` slice and commit atomically. */
  def train(docs: DataFrame, trainLang: String, dir: String): Unit = {
    val r = root(dir)
    val train = TextQueries.lmTokens(docs).filter(col("lang") === trainLang)
    val uni = train.select(explode(col("words")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = TextQueries.lmBigramPairs(train, Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val gen = SegmentLog.nextGen(SegmentLog.read(r))
    val uniName = SegmentLog.extraName("uni", gen)
    val biName = SegmentLog.extraName("bi", gen)
    uni.write.parquet(s"$r/$uniName")
    bi.write.parquet(s"$r/$biName")
    SegmentLog.commit(r, SegmentLog.State(gen, Nil,
      Map("uni" -> uniName, "bi" -> biName)))
    SegmentLog.cleanup(r)
  }

  /** Score `docs` against the committed model — the same dataflow as the
    * oracle-gated inline query.
    */
  def score(docs: DataFrame, dir: String, keepCutoff: Double): DataFrame = {
    val spark = docs.sparkSession
    val st = state(dir)
    val uni = spark.read.parquet(st.extraPath(root(dir), "uni"))
    val bi = spark.read.parquet(st.extraPath(root(dir), "bi"))
    TextQueries.lmScore(TextQueries.lmTokens(docs), uni, bi, keepCutoff)
  }
}
