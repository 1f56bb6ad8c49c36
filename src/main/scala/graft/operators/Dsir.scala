package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling"): score every RAW
  * document by how target-like its n-gram distribution is — the log
  * importance ratio Σ_f c_doc(f)·(ln p_target(f) − ln p_raw(f)) under
  * two add-α-smoothed bag-of-ngrams models — and keep the top-k. The
  * standard shape for "I have 100 TB of crawl and 1 GB of exemplar
  * target text; give me the crawl slice that looks like the target".
  *
  * The paper hashes n-grams into a fixed-width bucket space to bound
  * feature dimensionality for its numpy models; an engine with
  * distributed joins doesn't need that — the feature IS the n-gram
  * string (unigrams + bigrams), the two models are (ngram, count)
  * tables, and scoring is one vocab-keyed equi-join. That keeps the
  * whole path exactly SQL-mirrorable (q163's full DuckDB oracle) where
  * a hash-bucketed variant would be xxhash-bound and oracle-less.
  *
  * Scale shape: ONE n-gram explode per corpus (narrow, partial-agg
  * counts — the raw side's corpus-level counts are re-aggregated from
  * its per-doc counts, never re-exploded); the model is vocab-sized
  * (≪ corpus) built with one full-outer merge;
  * corpus totals ride a broadcast 1-row frame; per-doc scoring is one
  * (doc, ngram)-grain join against the vocab-sized model followed by a
  * partial-agg per-doc sum; selection is TakeOrderedAndProject (heap
  * top-k, no global sort). No windows, no collects.
  */
object Dsir {

  /** Unigrams + bigrams of the token stream, one row per instance. */
  private[operators] def ngrams(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val uni = df.select(col(idCol), explode(toks).as("ng"))
    val bi = df.select(col(idCol), explode(
        zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("ng"))
    uni.unionByName(bi)
  }

  /** The shared model-build + scoring core behind both feature
    * variants (string n-grams and xxhash64 n-grams): takes the
    * (id, ng, c) per-doc counts of the RAW corpus and the (ng, n_t)
    * counts of the target corpus, returns (idCol, log_w). Factored so
    * a smoothing or plan fix lands in BOTH paths at once (the two
    * bodies had drifted-by-copy risk), and so the raw corpus is
    * n-gram-exploded exactly ONCE: the corpus-level `n_r` counts are
    * derived from the per-doc counts by a second (vocab-grain, cheap)
    * aggregation instead of re-exploding the dominant input — at
    * 100 TB raw the explode IS the job, and this halves it. */
  private def weightsFromCounts(docNg: DataFrame, nT: DataFrame,
      idCol: String, alpha: Double): DataFrame = {
    require(alpha > 0, "alpha must be positive (unsmoothed models divide by zero)")
    val nR = docNg.groupBy(col("ng")).agg(sum(col("c")).as("n_r"))
    val vocab = nR.join(nT, Seq("ng"), "full_outer")
      .select(col("ng"),
        coalesce(col("n_r"), lit(0L)).as("n_r"),
        coalesce(col("n_t"), lit(0L)).as("n_t"))
    val totals = vocab.agg(
      sum(col("n_r")).as("tot_r"), sum(col("n_t")).as("tot_t"),
      count(lit(1)).as("v"))
    val model = vocab.crossJoin(broadcast(totals))
      .select(col("ng"),
        (log((col("n_t") + lit(alpha)) / (col("tot_t") + lit(alpha) * col("v")))
          - log((col("n_r") + lit(alpha)) / (col("tot_r") + lit(alpha) * col("v"))))
          .as("lr"))
    docNg.join(model, "ng")
      .groupBy(col(idCol))
      .agg(round(sum(col("c") * col("lr")), 6).as("log_w"))
  }

  /** Per-document log importance weight of every raw doc against the
    * target exemplar corpus: (idCol, log_w) with log_w rounded to 6dp
    * (aggregate-rounding discipline — the sum's combine order is
    * engine-dependent in the last ulps). α-smoothing over the JOINT
    * vocabulary keeps both models finite on n-grams the other side
    * never saw. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      alpha: Double = 1.0): DataFrame = {
    // the explicit (no-op — ngrams never yields null) null filter
    // keeps BOTH consumers of docNg canonically identical: without it
    // the scoring inner join pushes isnotnull(ng) below the (id, ng)
    // exchange while the n_r branch (feeding a full-outer) doesn't,
    // and the mismatched subtrees defeat AQE exchange reuse — the raw
    // corpus would be exploded twice after all (ProbeDsirScan measured
    // exactly this)
    val docNg = ngrams(raw, idCol, textCol).filter(col("ng").isNotNull)
      .groupBy(col(idCol), col("ng")).agg(count(lit(1)).as("c"))
    val nT = ngrams(target, idCol, textCol)
      .groupBy(col("ng")).agg(count(lit(1)).as("n_t"))
    weightsFromCounts(docNg, nT, idCol, alpha)
  }

  /** The resampling face: top-k raw docs by importance weight
    * (deterministic — id tiebreak), returned with their weights.
    * Plans as TakeOrderedAndProject over the scored frame. */
  def selectTopK(raw: DataFrame, target: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text",
      alpha: Double = 1.0): DataFrame =
    importanceWeights(raw, target, idCol, textCol, alpha)
      .orderBy(col("log_w").desc, col(idCol))
      .limit(k)

  /** The 100 TB serving form of [[importanceWeights]]: every n-gram is
    * reduced to its xxhash64 BEFORE the aggregations and the model
    * join, so the shuffles carry 8-byte keys instead of strings (the
    * q30 lesson — 64-bit shingle keys measured ~9× over the string
    * form at sf0.1, the same width effect applies to the (doc, ngram)
    * grain here; ProbeR12Stress quantified this pipeline). A 64-bit
    * collision merges two n-grams' statistics — probability
    * ~vocab²·2⁻⁶⁴, and the fixture has none, so the spec pins this
    * EQUAL to the string form there (which is what certifies the
    * rewrite); the string form stays the oracle path. */
  def importanceWeightsHashed(raw: DataFrame, target: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      alpha: Double = 1.0): DataFrame = {
    def hashed(df: DataFrame) = ngrams(df, idCol, textCol)
      .select(col(idCol), xxhash64(col("ng")).as("ng"))
    val docNg = hashed(raw)
      .groupBy(col(idCol), col("ng")).agg(count(lit(1)).as("c"))
    val nT = hashed(target).groupBy(col("ng")).agg(count(lit(1)).as("n_t"))
    weightsFromCounts(docNg, nT, idCol, alpha)
  }
}
