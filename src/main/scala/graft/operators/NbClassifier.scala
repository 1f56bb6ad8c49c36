package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes over whitespace tokens — the model-based
  * classifier stage of a curation pipeline (domain routing, the
  * "train a classifier on a trusted reference, score the crawl"
  * selection step of GPT-3/LLaMA-style pipelines, contamination
  * triage). Deliberately NB rather than an iterative learner: training
  * is two count aggregations, scoring is one join — every number is a
  * closed-form function of exact integer counts, so the whole model
  * (fit AND serve) hash-matches a SQL oracle, the repo's strongest
  * gate, where an LBFGS fit could only offer statistical floors.
  *
  * Relationship to [[TextAnalysis.nbClassifierScores]] (q141): that is
  * the BINARY in-corpus scorer — one boolean signal, scored over the
  * same frame it was counted on, serving a log-odds column for
  * threshold filters. This object is the MULTICLASS fit/serve split:
  * train on a labeled reference, classify a different frame, argmax
  * serve — the "classifier as a standing model" surface. The two keep
  * their own arithmetic (q141's per-token form vs the telescoped form
  * here) because each is hash-gated against its own oracle; the
  * telescoped form is the one that avoids materializing any smoothed
  * zero.
  *
  * Add-one (Laplace) smoothing with the vocabulary of the TRAINING
  * corpus. The per-document class score telescopes:
  *
  *   score(d, c) = ln(N_c/N) − n_d·ln(T_c + V) + Σᵢ ln(cnt(c, tᵢ) + 1)
  *
  * where the sum runs over the doc's token instances and a (class,
  * token) pair unseen in training contributes ln(0 + 1) = 0 — so the
  * scorer needs ONLY the observed (class, token) count table (Zipf-
  * bounded), never the dense vocab × classes smoothing grid: absent
  * join rows ARE the smoothed zeros. Out-of-vocabulary tokens fall out
  * the same way (count 0 in every class, contributing nothing to the
  * Σ) but still count in n_d, so each OOV token adds a CLASS-DEPENDENT
  * −ln(T_c + V): they act as vocabulary items unseen in every class
  * and bias the argmax toward classes with smaller token mass — the
  * same treatment an in-vocab token unseen in class c gets, just
  * applied in every class. (Standard "drop OOV entirely" NB would
  * instead exclude them from n_d; this engine's form keeps them, is
  * deterministic, and is what the q217 oracle pins.)
  *
  * Scale shape: fit = one narrow explode + two count aggregations
  * (map-side combine; model size = observed pairs, ≪ corpus tokens).
  * Serve = one equi-join of token instances against the pair table,
  * one per-(doc, class) aggregation, one broadcast of the tiny class
  * table. No window over the corpus, nothing driver-sized but the
  * class list.
  */
object NbClassifier {

  /** The trained model as two frames: observed (label, token, cnt)
    * pairs — the entire model beyond three scalars per class — and the
    * per-class (label, n_c, t_c) doc count / token mass. Everything a
    * scorer (or a standing store) needs; vocab and corpus totals are
    * derivable aggregates of these. */
  private[operators] def modelFrames(train: DataFrame, textCol: String,
      labelCol: String): (DataFrame, DataFrame) = {
    val toks = TextAnalysis.tokens(col(textCol))
    val cc = train.select(col(labelCol).as("label"), explode(toks).as("token"))
      .groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val byClass = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_c"),
        sum(size(toks).cast("long")).as("t_c"))
    (cc, byClass)
  }

  /** Scoring tail over model frames: vocab V = distinct tokens of the
    * pair table, N = Σ n_c — both in-plan 1-row aggregates, so a
    * STORED model serves through exactly this code path and exactly
    * this arithmetic (classifyFromStore ≡ classify is algebra, not
    * luck). */
  private[operators] def scoreWith(docs: DataFrame, cc: DataFrame,
      byClass: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val globals = cc.agg(countDistinct(col("token")).as("v"))
      .crossJoin(byClass.agg(sum(col("n_c")).as("n")))
    val classes = byClass.crossJoin(globals)
      .select(col("label"),
        log(col("n_c").cast("double") / col("n")).as("logprior"),
        log((col("t_c") + col("v")).cast("double")).as("logden"))
    val inst = docs.select(col(idCol), explode(toks).as("token"))
    val hits = inst.join(cc, Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(log(col("cnt") + lit(1))).as("hitsum"))
    // SHUFFLE_HASH on the hits side (r14 verdict → r15, guide §3.1):
    // this LeftOuter used to plan as the engine's only SortMergeJoin
    // outside q221 — both sides doc-sized aggregates, broadcast unsafe
    // at scale. `hits` is a strict aggregate of the left side's
    // (id, label) key space (|hits| ≤ |docs × classes|, per-partition
    // build ≤ probe), so building the hash table on it is always the
    // safe side; the hint replaces two full sorts with one per-
    // partition hash build. Per-join, not the session-wide
    // preferSortMergeJoin flip (which would re-plan every join in the
    // engine on size estimates).
    docs.select(col(idCol), size(toks).cast("long").as("__n_d"))
      .crossJoin(broadcast(classes))
      .join(hits.hint("shuffle_hash"), Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        round(col("logprior") - col("__n_d") * col("logden") +
          coalesce(col("hitsum"), lit(0.0)), 4).as("score"))
  }

  /** Per-(doc, class) log scores: (id, label, score), score rounded to
    * the repo-wide 4dp grid (the Σ ln(cnt+1) sum is a float reduction,
    * combine-order-dependent like every DOUBLE aggregate here).
    * `train` must carry `labelCol`; docs scored need not. */
  def scoreAgainst(docs: DataFrame, train: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", labelCol: String = "label"): DataFrame = {
    val (cc, byClass) = modelFrames(train, textCol, labelCol)
    scoreWith(docs, cc, byClass, idCol, textCol)
  }

  /** Argmax serve: (id, label) with the highest score, ties broken by
    * label ascending (total order — the 4dp grid makes cross-engine
    * ties representable, so the break must be deterministic). */
  def classify(docs: DataFrame, train: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", labelCol: String = "label"): DataFrame =
    classifyScores(scoreAgainst(docs, train, idCol, textCol, labelCol), idCol)

  private[operators] def classifyScores(scores: DataFrame,
      idCol: String): DataFrame =
    graft.plans.TopKPerKey.rankedTopKMulti(
      scores.withColumn("__ns", -col("score")),
      keyCols = Seq(idCol), orderAsc = Seq("__ns", "label"), k = 1)
      .select(col(idCol), col("label").as("pred"), col("score"))
}

/** STANDING NB model — the classifier as a maintained catalog asset.
  * The model is two count tables, and counts are ADDITIVE: appending a
  * batch adds its counts, removing indexed docs subtracts them — so
  * the lifecycle is algebraically EXACT (maintained store ≡ fresh fit
  * of the live corpus, bit-identical integer counts, hence identical
  * scores), with no tombstones, no rebuild, no recall floor. The
  * strongest lifecycle gate in the repo (the q206/q208 equality-bit
  * pattern) comes for free from the algebra; q218 pins it.
  *
  * Tables: `<name>_counts` (label, token, cnt), bucketed by token so
  * the serve join bucket-prunes like the BM25 postings;
  * `<name>_class` (label, n_c, t_c), class-count-sized. Merges rewrite
  * the MODEL (vocab-bounded ≪ corpus) — one union + re-aggregate,
  * settled before overwriting what it read.
  *
  * Fail-loud contract: removing documents that were never indexed
  * would drive counts negative — silent model corruption. Every merge
  * asserts non-negativity (one model-sized action) and drops exact
  * zeros, so the store always equals SOME corpus's fresh fit. */
object NbStore {

  /** Fit the store fresh: `<name>_counts` bucketed by token,
    * `<name>_class` plain. A rebuild is also the repair path for a
    * torn or refused store. */
  def initStore(train: DataFrame, name: String, buckets: Int = 32,
      textCol: String = "text", labelCol: String = "label"): Unit = {
    val spark = train.sparkSession
    val (cc, byClass) = NbClassifier.modelFrames(train, textCol, labelCol)
    // a rebuild clears a torn-commit marker (this IS the repair path)
    // and the stream-idempotence ledger (new model, new stream state)
    CountStore.setBuilding(spark, name, on = true)
    CountStore.dropLedger(spark, name)
    CountStore.dropLayout(spark, name)
    // disjoint outputs — write counts and class tables concurrently
    // (r14, guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetBucketed(cc, s"${name}_counts",
        buckets, Seq("token"), Seq("token")),
      () => graft.sources.Sinks.parquetTable(byClass, s"${name}_class"))
    CountStore.setBuilding(spark, name, on = false)
  }

  /** Fold a labeled batch into the standing model (sign = +1). */
  def appendDocs(delta: DataFrame, name: String, buckets: Int = 32,
      textCol: String = "text", labelCol: String = "label"): Unit =
    merge(delta, name, buckets, textCol, labelCol, sign = 1L)

  /** Subtract previously-indexed docs from the model (sign = −1).
    * Pass the SAME rows that were appended — the non-negativity
    * assertion catches anything else. */
  def removeDocs(removed: DataFrame, name: String, buckets: Int = 32,
      textCol: String = "text", labelCol: String = "label"): Unit =
    merge(removed, name, buckets, textCol, labelCol, sign = -1L)

  private def merge(docs: DataFrame, name: String, buckets: Int,
      textCol: String, labelCol: String, sign: Long): Unit = {
    val spark = docs.sparkSession
    CountStore.requireServable(spark, name)
    val (cc, by) = prepared(docs, name, textCol, labelCol, sign)
    CountStore.setBuilding(spark, name, on = true)
    // both frames settled by prepare — disjoint tables, write
    // concurrently (r14, guide §2.6)
    graft.util.Par.run(
      () => CountStore.write(s"${name}_counts", cc, buckets, Seq("token")),
      () => CountStore.write(s"${name}_class", by, 0, Nil))
    CountStore.setBuilding(spark, name, on = false)
  }

  /** BOTH merges validated (non-negativity, settled) before EITHER
    * table is rewritten — a delta that passes the counts check but
    * fails the class check must leave the store untouched. */
  private def prepared(docs: DataFrame, name: String, textCol: String,
      labelCol: String, sign: Long): (DataFrame, DataFrame) = {
    val (dcc, dby) = NbClassifier.modelFrames(docs, textCol, labelCol)
    // two independent settle+validate actions — overlap (r14, §2.6)
    val Seq(cc, by) = graft.util.Par.eval(Seq(
      () => CountStore.prepareSigned(s"${name}_counts", dcc,
        keyCols = Seq("label", "token"), cntCols = Seq("cnt"), sign = sign),
      () => CountStore.prepareSigned(s"${name}_class", dby,
        keyCols = Seq("label"), cntCols = Seq("n_c", "t_c"), sign = sign)))
    (cc, by)
  }

  /** FEDERATED model merge (round 14, the HhStore.mergeStores
    * discipline reaching the model families): two standing NB models
    * → one, via counter-pointwise ADDITION over the model-sized
    * tables — NO corpus read on either side. Unlike the sketch
    * families this merge is EXACT with no envelope at all: NB counts
    * are plain additive integers, so merged ≡ a one-shot
    * [[initStore]] of the two training corpora concatenated,
    * bit-identical counts hence identical scores (the q218 equality
    * algebra, lifted store⊕store). The 100 TB shape: two clusters
    * label two crawl shards, the coordinator merges two vocab-sized
    * count tables. Sides are DISJOINT corpora by contract — a doc
    * indexed on both sides counts twice, exactly as appending the
    * same batch twice would (additive semantics; there are no
    * tunable summary parameters to mismatch, so unlike the
    * sketch merges there is no k/lgK guard). Staleness: NB never
    * defers takedowns (subtraction is exact in-place), so there is
    * no backlog to inherit; [[CountStore.mergeStale]] still runs for
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
    // counts summed via a FULL-OUTER co-bucketed join, NOT
    // union+groupBy: a union of two co-bucketed scans + groupBy on
    // keys containing the bucket key plans without the merging
    // exchange, and a .repartition(keys) workaround is ELIDED whenever
    // shuffle.partitions matches the bucket count
    // (BucketedUnionHazardSpec pins both). The join is the legitimate
    // co-bucketed path: same-index buckets pair, zero shuffle.
    val cc = spark.table(s"${a}_counts").withColumnRenamed("cnt", "__ca")
      .join(spark.table(s"${b}_counts").withColumnRenamed("cnt", "__cb"),
        Seq("label", "token"), "full_outer")
      .select(col("label"), col("token"),
        (coalesce(col("__ca"), lit(0L)) +
          coalesce(col("__cb"), lit(0L))).as("cnt"))
    val byClass = spark.table(s"${a}_class")
      .unionByName(spark.table(s"${b}_class"))
      .groupBy(col("label"))
      .agg(sum(col("n_c")).as("n_c"), sum(col("t_c")).as("t_c"))
    // disjoint outputs — overlap the two writes (r14, guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetBucketed(cc, s"${out}_counts",
        buckets, Seq("token"), Seq("token")),
      () => graft.sources.Sinks.parquetTable(byClass, s"${out}_class"))
    CountStore.setBuilding(spark, out, on = false)
  }

  /** Streaming maintenance: `foreachBatch` over a labeled doc stream,
    * folding each micro-batch's counts into the standing model —
    * online NB learning with the exactness the algebra gives batch
    * mode. foreachBatch is AT-LEAST-ONCE: a restarted stream
    * re-delivers batches, and a blind re-append would silently double
    * counts — the one corruption the non-negativity check cannot see.
    * [[CountStore.applyOnce]] closes it: the batch id lands in
    * `<name>_applied` inside the same marker window as the table
    * writes, so a re-delivery either finds the ledger row (skipped) or
    * finds the marker (fails loud, rebuild). Exactly-once OR loud —
    * NbStoreSpec proves stream-fed ≡ one-shot batch fit, including
    * under a simulated duplicate delivery. */
  def maintainStream(docs: DataFrame, name: String, buckets: Int = 32,
      textCol: String = "text", labelCol: String = "label")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) { applyBatch(batch, name, buckets,
          textCol, labelCol, batchId); () }
      }

  /** One micro-batch application — shared by the live stream and the
    * batch-replay gate query (q220 replays waves through exactly this
    * body, the q160 discipline). */
  def applyBatch(batch: DataFrame, name: String, buckets: Int,
      textCol: String, labelCol: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    // ledger probe BEFORE the (checkpointing) prepare: a re-delivered
    // batch must skip without paying the merge computation
    if (CountStore.alreadyApplied(spark, name, batchId)) false
    else {
      val (cc, by) = prepared(batch, name, textCol, labelCol, sign = 1L)
      CountStore.applyOnce(spark, name, batchId) {
        CountStore.write(s"${name}_counts", cc, buckets, Seq("token"))
        CountStore.write(s"${name}_class", by, 0, Nil)
      }
    }
  }

  /** Serve per-(doc, class) scores straight from the standing tables —
    * the same scoring tail (and arithmetic) as the in-memory path. */
  def scoreFromStore(spark: org.apache.spark.sql.SparkSession, name: String,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    CountStore.requireServable(spark, name)
    NbClassifier.scoreWith(docs, spark.table(s"${name}_counts"),
      spark.table(s"${name}_class"), idCol, textCol)
  }

  /** Argmax serve from the standing tables. */
  def classifyFromStore(spark: org.apache.spark.sql.SparkSession, name: String,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    NbClassifier.classifyScores(
      scoreFromStore(spark, name, docs, idCol, textCol), idCol)

  /** Operational introspection (the Bm25.describeIndex discipline):
    * (metric, value) rows a retention/monitoring policy reads — one
    * declarative union of 1-row aggregates over the model tables,
    * no driver loop. */
  def describeStore(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame =
    CountStore.describe(spark, name, Map(
      "n_class_token_pairs" -> (s"${name}_counts", count(lit(1))),
      "vocab" -> (s"${name}_counts", countDistinct(col("token"))),
      "n_classes" -> (s"${name}_class", count(lit(1))),
      "n_docs" -> (s"${name}_class", coalesce(sum(col("n_c")), lit(0L))),
      "n_tokens" -> (s"${name}_class", coalesce(sum(col("t_c")), lit(0L)))))
}
