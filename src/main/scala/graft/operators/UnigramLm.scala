package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained unigram language-model scoring — the CCNet-style
  * "perplexity filter" primitive: score every document by the mean log
  * probability of its tokens under a unigram LM fit on the corpus
  * itself (or on a held-out reference corpus via [[scoreAgainst]]).
  * Low-probability word soup scores far below fluent text, so a
  * threshold on the score is the classic LM-quality gate applied after
  * the rule-based filters (TextAnalysis.gopherKeep) and before dedup.
  *
  * Scale shape: one explode (narrow), one token-count aggregation
  * (map-side partial combine — compact (token, count) rows cross the
  * shuffle), one equi-join of token instances against the vocabulary,
  * one per-doc aggregation. The vocabulary is Zipf-bounded (≪ corpus
  * size), so at 100 TB the join side is typically broadcastable; we
  * leave the hint to Catalyst/AQE since vocab size is data-dependent.
  * Nothing here collects to the driver.
  */
object UnigramLm {

  /** (doc_id, n_tokens, logprob_avg): mean ln p(token) per document,
    * p(t) = count(t) / total tokens, both estimated on `reference`.
    * Tokens absent from the reference corpus are dropped from the mean
    * (inner join) — with add-one smoothing they would dominate the
    * score with an arbitrary constant instead.
    *
    * Rounded to 4 decimals: float sums are combine-order-dependent
    * (same convention as every DOUBLE aggregate in SparkEntry). */
  def scoreAgainst(docs: DataFrame, reference: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val refToks = tokenInstances(reference, idCol, textCol)
    val counts = refToks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    unigramScoreWith(docs, counts, idCol, textCol)
  }

  /** Unigram scoring tail over a (token, cnt) model frame — shared by
    * the in-memory path and [[LmStore.unigramScoreFromStore]]. The
    * total is a 1-row aggregate crossed in (not a driver action): the
    * whole score stays one declarative plan. */
  private[operators] def unigramScoreWith(docs: DataFrame, counts: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val total = counts.agg(sum(col("cnt")).as("total"))
    tokenInstances(docs, idCol, textCol)
      .join(counts, "token")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt") / col("total"))), 4).as("logprob_avg"))
  }

  /** Self-trained variant: the LM corpus is the scored corpus. */
  def score(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    scoreAgainst(docs, docs, idCol, textCol)

  /** Interpolated bigram LM — one step closer to the KenLM n-gram
    * scorers CCNet actually deploys (Wenzek et al. 2020 use 5-gram;
    * bigram captures the word-order signal the unigram model cannot:
    * shuffled fluent text keeps its unigram score but collapses under
    * the bigram model). Per document, the mean over positions i ≥ 2 of
    *
    *   ln( wB · c(w_{i-1} w_i)/c(w_{i-1} ·) + wU · c(w_i)/total )
    *
    * with counts estimated on `reference`. Interpolation (Jelinek-
    * Mercer) backs unseen-in-context bigrams off to the unigram
    * probability — the bigram term is a LEFT join (absent ⇒ 0), and
    * only positions whose current TOKEN is unigram-OOV drop from the
    * mean (inner join on the unigram table — same drop-unseen policy
    * as [[scoreAgainst]]; self-trained scoring drops nothing).
    *
    * Both weights are explicit parameters rather than derived
    * (`1 - wB` in binary is not the literal `0.3` an oracle writes).
    *
    * Scale shape mirrors the unigram scorer: bigram instances explode
    * narrowly; the three model tables (bigram counts, context totals,
    * unigram counts) aggregate with map-side combine and join on
    * compact string keys — Zipf-bounded, typically broadcastable at
    * plan time by AQE. Nothing collects to the driver. */
  def bigramScoreAgainst(docs: DataFrame, reference: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      wBigram: Double = 0.7, wUnigram: Double = 0.3): DataFrame = {
    val bc = bigramInstances(reference, idCol, textCol)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
    val uc = tokenInstances(reference, idCol, textCol)
      .groupBy(col("token")).agg(count(lit(1)).as("cu"))
    bigramScoreWith(docs, bc, uc, idCol, textCol, wBigram, wUnigram)
  }

  /** Bigram scoring tail over (prev, cur, cb) / (token, cu) model
    * frames — shared by the in-memory path and
    * [[LmStore.bigramScoreFromStore]]; the context totals are a
    * derivable margin of the bigram frame (pc = Σ_cur cb), never a
    * separate input that could drift. */
  private[operators] def bigramScoreWith(docs: DataFrame, bc: DataFrame,
      uc: DataFrame, idCol: String, textCol: String,
      wBigram: Double, wUnigram: Double): DataFrame = {
    val occ = bigramInstances(docs, idCol, textCol)
    val pc = bc.groupBy(col("prev")).agg(sum(col("cb")).as("cp"))
    val ucCur = uc.withColumnRenamed("token", "cur")
    val total = ucCur.agg(sum(col("cu")).as("total"))
    occ
      .join(bc, Seq("prev", "cur"), "left")
      .join(pc, Seq("prev"), "left")
      .join(ucCur, Seq("cur"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        // coalesce passes seen-bigram terms through bit-identically
        // (the oracle mirrors the un-coalesced arithmetic; a DIFFERENT
        // value only arises where cb is null, which a self-trained
        // model never produces)
        round(avg(log(
          coalesce(lit(wBigram) * col("cb") / col("cp"), lit(0.0)) +
          lit(wUnigram) * col("cu") / col("total"))), 4).as("logprob_avg"))
  }

  /** Self-trained bigram variant. */
  def bigramScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      wBigram: Double = 0.7, wUnigram: Double = 0.3): DataFrame =
    bigramScoreAgainst(docs, docs, idCol, textCol, wBigram, wUnigram)

  /** Trigram STUPID BACKOFF scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §4) — the smoothing
    * web-scale n-gram LMs actually shipped: no discounting, no
    * normalization, just raw relative frequencies with a fixed
    * back-off penalty α per order skipped. Per position i ≥ 2
    * (full trigram context; shorter docs contribute nothing):
    *
    *   S(wᵢ | wᵢ₋₂ wᵢ₋₁) =
    *     c₃(wᵢ₋₂ wᵢ₋₁ wᵢ) / c₂(wᵢ₋₂ wᵢ₋₁)      if c₃ > 0
    *     α · c₂(wᵢ₋₁ wᵢ) / c₁(wᵢ₋₁)              else if c₂ > 0
    *     α² · c₁(wᵢ) / total                      otherwise
    *
    * with every count estimated on `reference` (canonical Brants: the
    * denominators are the RAW (n−1)-gram corpus frequencies, not sums
    * of continuations — a doc's final bigram counts toward c₂ though
    * it heads no trigram). Positions whose CURRENT token is
    * unigram-OOV drop from the mean (inner join — the established
    * drop-unseen policy of [[scoreAgainst]]); a self-trained call
    * never backs off (every observed trigram is in its own model), so
    * the interesting form is train-on-split / score-the-holdout —
    * that is what exercises all three tiers and what CCNet-style
    * pipelines do (fit on clean reference text, score the crawl).
    *
    * Returns (id, n_trigrams, tri_frac, logprob_avg): `tri_frac` is
    * the fraction of scored positions served by the trigram tier — the
    * per-doc "how in-distribution is this text" diagnostic that falls
    * out of backoff for free (fluent in-domain text resolves almost
    * everything at order 3; word soup backs off constantly).
    *
    * Scale shape: instances explode narrowly (one row per position,
    * three string keys); the three model tables are Zipf-bounded
    * aggregates with map-side combine, joined on compact keys —
    * left-joined (absence IS the signal), unigram inner last. At
    * 100 TB the trigram table is the big one (it is still ≪ corpus
    * tokens); the joins are plain equi-shuffles AQE can turn into
    * broadcasts when a tier fits. Nothing collects to the driver. */
  def trigramStupidBackoff(docs: DataFrame, reference: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      alpha: Double = 0.4): DataFrame = {
    val (tc, bc, uc) = trigramFrames(reference, idCol, textCol)
    trigramScoreWith(docs, tc, bc, uc, idCol, textCol, alpha)
  }

  /** The trigram model as three count frames — (p1, p2, cur, c3),
    * (prev, cur, cb), (token, cu): everything the scorer (or a
    * standing [[LmStore]]) needs; the unigram total is a derivable
    * aggregate. */
  private[operators] def trigramFrames(reference: DataFrame,
      idCol: String, textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val tc = trigramInstances(reference, idCol, textCol)
      .groupBy(col("p1"), col("p2"), col("cur"))
      .agg(count(lit(1)).as("c3"))
    val bc = bigramInstances(reference, idCol, textCol)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
    val uc = tokenInstances(reference, idCol, textCol)
      .groupBy(col("token")).agg(count(lit(1)).as("cu"))
    (tc, bc, uc)
  }

  /** Scoring tail over model frames — a STORED model serves through
    * exactly this code path and arithmetic (scoreFromStore ≡
    * trigramStupidBackoff is algebra, not luck). */
  private[operators] def trigramScoreWith(docs: DataFrame, tc: DataFrame,
      bc: DataFrame, uc: DataFrame, idCol: String, textCol: String,
      alpha: Double): DataFrame = {
    val occ = trigramInstances(docs, idCol, textCol)
    val total = uc.agg(sum(col("cu")).as("total"))
    // the two bigram probes hit the SAME model table with different
    // key roles: (p1,p2) as the trigram denominator, (p2,cur) as the
    // back-off numerator
    val bCtx = bc.select(col("prev").as("p1"), col("cur").as("p2"),
      col("cb").as("cb12"))
    val bBack = bc.select(col("prev").as("p2"), col("cur").as("cur"),
      col("cb").as("cb23"))
    val uCtx = uc.select(col("token").as("p2"), col("cu").as("cu2"))
    val uCur = uc.select(col("token").as("cur"), col("cu").as("cu3"))
    // c3 > 0 ⇒ its context bigram occurred ⇒ cb12 non-null; cb23 > 0
    // ⇒ p2 occurred ⇒ cu2 non-null — each tier's denominator is
    // guaranteed by its numerator, so the CASE never divides by null
    val s =
      when(col("c3").isNotNull, col("c3") / col("cb12"))
        .when(col("cb23").isNotNull,
          lit(alpha) * col("cb23") / col("cu2"))
        .otherwise(lit(alpha) * lit(alpha) * col("cu3") / col("total"))
    occ
      .join(tc, Seq("p1", "p2", "cur"), "left")
      .join(bCtx, Seq("p1", "p2"), "left")
      .join(bBack, Seq("p2", "cur"), "left")
      .join(uCtx, Seq("p2"), "left")
      .join(uCur, Seq("cur"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_trigrams"),
        round(avg(when(col("c3").isNotNull, 1.0).otherwise(0.0)), 4)
          .as("tri_frac"),
        round(avg(log(s)), 4).as("logprob_avg"))
  }

  /** One row per position with full trigram context: (id, p1, p2,
    * cur). Docs with fewer than three tokens contribute nothing (the
    * same downward-`sequence` guard as [[bigramInstances]]). */
  private def trigramInstances(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("toks")) - 3),
        i => struct(
          element_at(col("toks"), i + 1).as("p1"),
          element_at(col("toks"), i + 2).as("p2"),
          element_at(col("toks"), i + 3).as("cur")))).as("t"))
      .select(col(idCol), col("t.p1").as("p1"), col("t.p2").as("p2"),
        col("t.cur").as("cur"))

  private[operators] def tokenInstances(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))

  /** One row per adjacent token pair: (id, prev, cur). Docs with fewer
    * than two tokens contribute nothing (`sequence` with a negative
    * stop would run DOWNWARD, so the guard is load-bearing). */
  private[operators] def bigramInstances(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("toks")) - 2),
        i => struct(
          element_at(col("toks"), i + 1).as("prev"),
          element_at(col("toks"), i + 2).as("cur")))).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"))
}

/** STANDING trigram LM — the stupid-backoff model as a maintained
  * catalog asset: three n-gram count tables (`<name>_tri` bucketed by
  * p1, `<name>_bi` by prev, `<name>_uni` by token — serving joins
  * bucket-prune like the BM25 postings). N-gram counts are ADDITIVE,
  * so the lifecycle is algebraically EXACT: maintained tables ≡ a
  * fresh count of the live reference bit-for-bit, hence identical
  * scores — the [[CountStore]] equality contract, gated by q219 the
  * way q218 gates the NB store. At 100 TB the reference corpus
  * evolves (new crawl snapshots in, takedowns out); the LM follows by
  * merging deltas of MODEL size instead of recounting the corpus. */
object LmStore {

  /** Count the reference fresh into the three bucketed n-gram tables.
    * A rebuild is also the repair path for a torn or refused store. */
  def initStore(reference: DataFrame, name: String, buckets: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = reference.sparkSession
    val (tc, bc, uc) = UnigramLm.trigramFrames(reference, idCol, textCol)
    // rebuild = the torn-commit repair path; also resets stream state
    CountStore.setBuilding(spark, name, on = true)
    CountStore.dropLedger(spark, name)
    CountStore.dropLayout(spark, name)
    // three disjoint n-gram tables — write them concurrently (r14,
    // guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetBucketed(tc, s"${name}_tri", buckets,
        Seq("p1"), Seq("p1")),
      () => graft.sources.Sinks.parquetBucketed(bc, s"${name}_bi", buckets,
        Seq("prev"), Seq("prev")),
      () => graft.sources.Sinks.parquetBucketed(uc, s"${name}_uni", buckets,
        Seq("token"), Seq("token")))
    CountStore.setBuilding(spark, name, on = false)
  }

  def appendDocs(delta: DataFrame, name: String, buckets: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    merge(delta, name, buckets, idCol, textCol, sign = 1L)

  /** Subtract previously-appended reference docs. Pass the SAME rows
    * that went in — CountStore's non-negativity assertion catches
    * anything else before a byte is written. */
  def removeDocs(removed: DataFrame, name: String, buckets: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    merge(removed, name, buckets, idCol, textCol, sign = -1L)

  private def merge(docs: DataFrame, name: String, buckets: Int,
      idCol: String, textCol: String, sign: Long): Unit = {
    val spark = docs.sparkSession
    CountStore.requireServable(spark, name)
    val (dtc, dbc, duc) = UnigramLm.trigramFrames(docs, idCol, textCol)
    // validate ALL THREE merges before writing ANY table; the three
    // prepares are independent settles and the three commits land in
    // disjoint tables — overlap each phase (r14, guide §2.6)
    val Seq(tri, bi, uni) = graft.util.Par.eval(Seq(
      () => CountStore.prepareSigned(s"${name}_tri", dtc,
        Seq("p1", "p2", "cur"), Seq("c3"), sign),
      () => CountStore.prepareSigned(s"${name}_bi", dbc,
        Seq("prev", "cur"), Seq("cb"), sign),
      () => CountStore.prepareSigned(s"${name}_uni", duc,
        Seq("token"), Seq("cu"), sign)))
    CountStore.setBuilding(spark, name, on = true)
    graft.util.Par.run(
      () => CountStore.write(s"${name}_tri", tri, buckets, Seq("p1")),
      () => CountStore.write(s"${name}_bi", bi, buckets, Seq("prev")),
      () => CountStore.write(s"${name}_uni", uni, buckets, Seq("token")))
    CountStore.setBuilding(spark, name, on = false)
  }

  /** Serve stupid-backoff scores straight from the standing tables —
    * the same scoring tail (and arithmetic) as the in-memory path. */
  def scoreFromStore(spark: org.apache.spark.sql.SparkSession, name: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      alpha: Double = 0.4): DataFrame = {
    CountStore.requireServable(spark, name)
    UnigramLm.trigramScoreWith(docs, spark.table(s"${name}_tri"),
      spark.table(s"${name}_bi"), spark.table(s"${name}_uni"),
      idCol, textCol, alpha)
  }

  /** Interpolated-bigram scoring off the SAME standing tables — one
    * stored model serves all three LM orders: the context totals the
    * bigram scorer needs are a derivable aggregate of the stored
    * bigram counts (pc = Σ_cur cb), so no fourth table exists to
    * drift out of sync. Arithmetic ≡ [[UnigramLm.bigramScoreAgainst]]
    * whenever the store equals the fresh count — which the lifecycle
    * guarantees exactly. */
  def bigramScoreFromStore(spark: org.apache.spark.sql.SparkSession,
      name: String, docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", wBigram: Double = 0.7,
      wUnigram: Double = 0.3): DataFrame = {
    CountStore.requireServable(spark, name)
    UnigramLm.bigramScoreWith(docs, spark.table(s"${name}_bi"),
      spark.table(s"${name}_uni"), idCol, textCol, wBigram, wUnigram)
  }

  /** Unigram scoring off the standing `_uni` table (the q73 form). */
  def unigramScoreFromStore(spark: org.apache.spark.sql.SparkSession,
      name: String, docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    CountStore.requireServable(spark, name)
    UnigramLm.unigramScoreWith(docs,
      spark.table(s"${name}_uni").select(col("token"), col("cu").as("cnt")),
      idCol, textCol)
  }

  /** FEDERATED model merge (round 14, the NbStore.mergeStores
    * discipline): two standing trigram LMs → one, via counter-
    * pointwise ADDITION over all three n-gram tables — NO corpus
    * read. N-gram counts are plain additive integers, so the merge
    * is EXACT: merged ≡ a one-shot [[initStore]] of the two
    * reference corpora concatenated, bit-identical counts hence
    * identical stupid-backoff / bigram / unigram scores (the q219
    * equality algebra, lifted store⊕store). Sides are DISJOINT
    * corpora by contract (a shared doc counts twice — additive
    * semantics); no tunable summary parameters exist to mismatch.
    * Staleness: LM takedowns subtract exactly in place, so there is
    * no backlog to inherit; [[CountStore.mergeStale]] runs for
    * uniformity (a no-op on fresh sides). */
  def mergeStores(spark: org.apache.spark.sql.SparkSession, a: String,
      b: String, out: String, buckets: Int = 32): Unit = {
    CountStore.requireServable(spark, a)
    CountStore.requireServable(spark, b)
    require(out != a && out != b,
      s"mergeStores: output '$out' must be a third store — merging " +
        "into a side would overwrite tables while reading them")
    CountStore.setBuilding(spark, out, on = true)
    CountStore.dropLedger(spark, out)
    CountStore.mergeStale(spark, a, b, out)
    CountStore.dropLayout(spark, out)
    // counts summed via FULL-OUTER co-bucketed joins, NOT
    // union+groupBy: a union of two co-bucketed scans + groupBy on
    // keys containing the bucket key plans without the merging
    // exchange, and a .repartition(keys) workaround is ELIDED whenever
    // shuffle.partitions matches the bucket count
    // (BucketedUnionHazardSpec pins both). The join is the legitimate
    // co-bucketed path: same-index buckets pair, zero shuffle.
    def summed(suffix: String, keys: Seq[String], cnt: String) = {
      val x = spark.table(s"${a}_$suffix").withColumnRenamed(cnt, "__ca")
      val y = spark.table(s"${b}_$suffix").withColumnRenamed(cnt, "__cb")
      x.join(y, keys, "full_outer")
        .select(keys.map(col) :+ (coalesce(col("__ca"), lit(0L)) +
          coalesce(col("__cb"), lit(0L))).as(cnt): _*)
    }
    val tri = summed("tri", Seq("p1", "p2", "cur"), "c3")
    val bi = summed("bi", Seq("prev", "cur"), "cb")
    val uni = summed("uni", Seq("token"), "cu")
    // disjoint outputs — overlap the three writes (r14, guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetBucketed(tri, s"${out}_tri", buckets,
        Seq("p1"), Seq("p1")),
      () => graft.sources.Sinks.parquetBucketed(bi, s"${out}_bi", buckets,
        Seq("prev"), Seq("prev")),
      () => graft.sources.Sinks.parquetBucketed(uni, s"${out}_uni", buckets,
        Seq("token"), Seq("token")))
    CountStore.setBuilding(spark, out, on = false)
  }

  /** Streaming maintenance of the reference corpus: `foreachBatch`
    * appends each micro-batch's n-gram counts under the same
    * exactly-once-or-loud ledger as [[NbStore.maintainStream]]. */
  def maintainStream(docs: DataFrame, name: String, buckets: Int = 32,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) { applyBatch(batch, name, buckets,
          idCol, textCol, batchId); () }
      }

  /** Operational introspection (the Bm25.describeIndex discipline). */
  def describeStore(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame =
    CountStore.describe(spark, name, Map(
      "n_trigrams" -> (s"${name}_tri", count(lit(1))),
      "n_bigrams" -> (s"${name}_bi", count(lit(1))),
      "vocab" -> (s"${name}_uni", count(lit(1))),
      "total_tokens" -> (s"${name}_uni", coalesce(sum(col("cu")), lit(0L)))))

  /** One micro-batch application — shared by the live stream and
    * batch replay (the q160/q220 discipline). */
  def applyBatch(batch: DataFrame, name: String, buckets: Int,
      idCol: String, textCol: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    if (CountStore.alreadyApplied(spark, name, batchId)) false
    else {
      val (dtc, dbc, duc) = UnigramLm.trigramFrames(batch, idCol, textCol)
      val tri = CountStore.prepareSigned(s"${name}_tri", dtc,
        Seq("p1", "p2", "cur"), Seq("c3"), sign = 1L)
      val bi = CountStore.prepareSigned(s"${name}_bi", dbc,
        Seq("prev", "cur"), Seq("cb"), sign = 1L)
      val uni = CountStore.prepareSigned(s"${name}_uni", duc,
        Seq("token"), Seq("cu"), sign = 1L)
      CountStore.applyOnce(spark, name, batchId) {
        CountStore.write(s"${name}_tri", tri, buckets, Seq("p1"))
        CountStore.write(s"${name}_bi", bi, buckets, Seq("prev"))
        CountStore.write(s"${name}_uni", uni, buckets, Seq("token"))
      }
    }
  }
}
