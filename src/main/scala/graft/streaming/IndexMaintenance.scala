package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bm25, SnapshotDiff}

/** Streaming maintenance of the standing BM25 index (and optionally
  * the ANN vector store) — the composition the round-7 verdict asked
  * for: arriving corpus batches flow through [[SnapshotDiff]]
  * classification into `Bm25.removeDocs`/`appendDocs` (plus forest
  * remove/append), keeping the stores current without replaying drops
  * by hand. q146 proves the delta algebra batch-mode; this is the
  * `foreachBatch` face that runs it continuously.
  *
  * Batch contract: each micro-batch carries UPSERTS — (id, text) rows
  * where a NULL text is an explicit delete marker. Ids must be unique
  * within a batch. Every batch doc is classified against what the
  * store has indexed: added (new id), changed (content differs),
  * unchanged (skip), removed (delete marker for a present id; absent
  * ids' deletes are dropped — a tombstone for a never-indexed id would
  * silently hide a LATER add of that id).
  *
  * Change detection never rereads corpus text: a standing APPEND-ONLY
  * fingerprint log `<name>_fplog` (id, xxhash64(text), ver —
  * Hive-partitioned by `fp_prefix = pmod(xxhash64(id), 64)`) holds one
  * row per upsert, deletes logged with a null hash. The per-batch
  * probe prunes the log's FILES to the batch's prefix set (a ≤64-int
  * literal partition filter), then broadcasts the batch's ids into a
  * semi-join and takes latest-ver-wins over only the matching rows —
  * all JOIN and aggregation work is batch-bounded, nothing log-sized
  * shuffles, and the bytes READ are bounded by the batch's prefixes
  * however large the log grows (ProbeFplogPrune). [[compactFingerprints]]
  * folds the log back to one row per live id, which also folds the
  * per-batch file accumulation inside each prefix.
  * A 64-bit content hash can collide (probability ~batch·2⁻⁶⁴ per
  * batch) — a collision misses ONE update, never corrupts the store.
  *
  * Per-batch cost: pure adds and deletes are O(delta) — deletes
  * tombstone ([[Bm25.removeDocs]]), adds append under pending
  * tombstones (exact; see appendDocs' scaladoc). A batch containing
  * CHANGED docs must physically compact first: the changed id's old
  * rows are still in the postings, and re-adding it before the rewrite
  * would let the serving anti-join hide the new rows too. So in-place
  * updates pay one index rewrite per carrying batch — amortize by
  * batching updates upstream; pure add/delete traffic never rewrites.
  * Deletes also compact when the tombstone backlog passes
  * `compactRatio` (read from the 1-row `_stats` and the
  * tombstone-sized table — no corpus scan in the policy check).
  */
object IndexMaintenance {

  /** Drop everything [[applyUpserts]] maintains (index tables +
    * fingerprint log), location-safely. */
  def initStores(spark: SparkSession, name: String): Unit = {
    for (s <- Seq("_postings", "_terms", "_doclens", "_stats",
        "_tombstones", "_fplog", "_champions", "_positions"))
      graft.sources.Sinks.dropTable(spark, name + s)
  }

  /** Apply one upsert batch to the standing index `name`. `ver` must
    * strictly increase across batches touching the same ids (the
    * stream wiring passes the monotonic batchId); a replayed/reordered
    * batch fails loudly instead of silently regressing a fingerprint.
    *
    * Returns the batch's per-id classification
    * (idCol, status ∈ added|changed|removed|unchanged), checkpoint-
    * settled BEFORE any store mutation (the IngestDedup settle lesson:
    * a lazy plan would re-read the stores after they grew). First call
    * on a missing index bootstraps it: buildIndex over the batch's
    * live rows, every live id classified `added`. */
  def applyUpserts(spark: SparkSession, name: String, batch: DataFrame,
      ver: Long, buckets: Int = 32,
      idCol: String = "doc_id", textCol: String = "text",
      compactRatio: Double = 0.2,
      maintainChampions: Option[Int] = None): DataFrame =
    applyUpsertsCounted(spark, name, batch, ver, buckets, idCol, textCol,
      compactRatio, maintainChampions)._1

  /** [[applyUpserts]] that also returns the applied delta's status
    * counts — so the fold chain never re-counts frames whose
    * cardinalities the apply already measured (r15, r14 verdict #1:
    * the q255/q257 walls are fixed per-job cost, not compute). */
  private def applyUpsertsCounted(spark: SparkSession, name: String,
      batch: DataFrame, ver: Long, buckets: Int, idCol: String,
      textCol: String, compactRatio: Double,
      maintainChampions: Option[Int])
      : (DataFrame, Map[String, Long]) = {
    val b = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
      .localCheckpoint()
    // count(textCol) rides the same 1-job aggregate: non-null text =
    // the live rows, i.e. the bootstrap path's exact "added" count
    val (nRows, nIds, nLive) = {
      val r = b.agg(count(lit(1)), count_distinct(col(idCol)),
        count(col(textCol))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    require(nRows == nIds,
      s"applyUpserts: batch has $nRows rows over $nIds distinct ids — dedupe first")
    val live = b.filter(col(textCol).isNotNull)

    if (!spark.catalog.tableExists(s"${name}_doclens"))
      return (bootstrapIndex(spark, name, live, ver, buckets, idCol, textCol,
        maintainChampions), Map("added" -> nLive))

    val prior = priorFingerprints(spark, name, b, idCol)
    val delta = classifyAgainst(prior, live, idCol, textCol)
    applyClassified(spark, name, live, prior, delta,
      ver, buckets, idCol, textCol, compactRatio, maintainChampions)
  }

  /** Bootstrap: the first batch IS the corpus. */
  private def bootstrapIndex(spark: SparkSession, name: String,
      live: DataFrame, ver: Long, buckets: Int, idCol: String,
      textCol: String, maintainChampions: Option[Int]): DataFrame = {
    // index build and fingerprint-log seed read the same settled batch
    // and write disjoint tables — overlap them (r14, guide §2.6)
    graft.sources.Sinks.dropTable(spark, s"${name}_fplog")
    graft.util.Par.run(
      () => Bm25.buildIndex(live, name, buckets, idCol, textCol),
      () => logFingerprints(spark, name, idCol,
        live.select(col(idCol), xxhash64(col(textCol)).as("h"),
          lit(ver).as("ver"))))
    maintainChampions.foreach(c =>
      Bm25.buildChampions(spark, name, c, buckets, idCol))
    // checkpointed: the gated caller's `live` carries broadcast
    // semi-joins and this frame feeds 3+ fold consumers — measured
    // r15: dropping the settle re-broadcast the subtrees per consumer,
    // a net job-count loss
    live.select(col(idCol), lit("added").as("status")).localCheckpoint()
  }

  /** [[applyUpserts]]'s back half, taking an ALREADY-COMPUTED
    * classification: `live` the batch's non-marker rows, `prior` the
    * batch ids' latest fingerprints, `delta` the settled
    * (id, status) classification of exactly the rows to apply. Split
    * out in round 12 so [[applyGatedUpserts]] can classify ONCE and
    * feed both the admission gate and the index apply — the inner
    * re-classification (a second fingerprint probe + diff + settle
    * per wave) was a measured ~2 s of every gated wave's ~6 s fixed
    * floor (ProbeGateCost). */
  private def applyClassified(spark: SparkSession, name: String,
      live: DataFrame, prior: DataFrame, delta: DataFrame, ver: Long,
      buckets: Int, idCol: String, textCol: String,
      compactRatio: Double,
      maintainChampions: Option[Int],
      known: Option[(Long, Map[String, Long])] = None)
      : (DataFrame, Map[String, Long]) = {
    // ONE multi-aggregate probe (r15, r14 verdict #1): per-status
    // counts and the log's max version ride a single collect — the
    // r14 version ran them as two overlapped jobs and a third
    // batch-sized isEmpty on the replay path; the union answers all
    // three questions in one fixed job latency. The gated caller
    // passes both precomputed (its admission flow already measured
    // them), skipping the probe entirely.
    val (maxPrior, statusCounts) = known.getOrElse {
      val rows = delta.groupBy(col("status")).agg(count(lit(1)).as("v"))
        .unionByName(prior
          .agg(coalesce(max(col("ver")), lit(Long.MinValue)).as("v"))
          .select(lit("__max_prior").as("status"), col("v")))
        .collect()
      (rows.find(_.getString(0) == "__max_prior").get.getLong(1),
        rows.filter(_.getString(0) != "__max_prior")
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    if (maxPrior >= ver) {
      // foreachBatch is AT-LEAST-ONCE: a restarted stream re-delivers
      // its last batch. A COMPLETED replay classifies as all-unchanged
      // against the post-apply store (adds/changes became the standing
      // content, delete markers left no live fingerprint) and no-ops
      // here instead of killing the stream; anything at-or-below the
      // log's version that would still CHANGE the store is a genuine
      // ordering conflict and fails loudly. A replay of a TORN apply
      // (crash between table writes) classifies actionable too — and
      // the building-marker discipline has already made the index
      // refuse service, so the loud path is the right one there.
      // (Answered from the already-collected counts — the r14 version
      // paid a second batch-sized job for this isEmpty.)
      require(statusCounts.filter(_._2 > 0).keySet.subsetOf(Set("unchanged")),
        s"applyUpserts: ver $ver is not past the log's $maxPrior for these " +
          "ids and the batch is not a completed replay — batches must " +
          "arrive with strictly increasing versions")
      return (delta, statusCounts)
    }

    val changed = delta.filter(col("status") === "changed").select(col(idCol))
    val removed = delta.filter(col("status") === "removed").select(col(idCol))
    val goneN = statusCounts.getOrElse("changed", 0L) +
      statusCounts.getOrElse("removed", 0L)
    if (goneN > 0)
      Bm25.removeDocs(spark, name, changed.unionByName(removed), idCol)
    // changed ids re-append below — their physical rows must be gone
    // first (see scaladoc); deletes alone ride the tombstone until the
    // backlog-ratio policy compacts. An ADDED id that is still
    // physically tombstoned (deleted in an EARLIER batch, now
    // re-added: its latest fingerprint is a null-h marker, so it
    // classifies added, but its old rows sit in doclens until some
    // compaction) forces the same rewrite — without it appendDocs'
    // doclens-overlap require throws, and at-least-once redelivery
    // would replay the same batch into the same throw forever.
    // (readdedTombstoned is definitionally false when the batch
    // classified no adds — skip its probe job on delete/change-only
    // waves; r15.)
    if (statusCounts.getOrElse("changed", 0L) > 0 ||
        (statusCounts.getOrElse("added", 0L) > 0 &&
          readdedTombstoned(spark, name, delta, idCol)) ||
        tombstoneBacklog(spark, name) > compactRatio) {
      // disjoint table sets (index tables vs the fingerprint log), both
      // settle-before-rewrite internally — overlap the two compactions
      // (r15, guide §2.6); a failure in either leaves its own marker/
      // staging discipline loud exactly as the sequential order did
      graft.util.Par.run(
        () => Bm25.compactIndex(spark, name, buckets, idCol),
        () => compactFingerprints(spark, name, idCol))
    }
    if (statusCounts.getOrElse("added", 0L) +
        statusCounts.getOrElse("changed", 0L) > 0)
      Bm25.appendDocs(spark, name,
        live.join(delta.filter(col("status").isin("added", "changed"))
          .select(col(idCol)), Seq(idCol), "left_semi"),
        buckets, idCol, textCol)
    logFingerprints(spark, name, idCol,
      live.join(delta.filter(col("status").isin("added", "changed"))
          .select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol), xxhash64(col(textCol)).as("h"), lit(ver).as("ver"))
        .unionByName(removed
          .select(col(idCol), lit(null).cast("long").as("h"), lit(ver).as("ver"))))
    // SERVE-OPTIMIZED maintenance: keep the champion tier current.
    // appendDocs drops the tier by contract (every weight input moved),
    // so an append-carrying batch rebuilds it — index-sized work
    // (postings ⋈ terms ⋈ stats), never a corpus scan, but tier-build
    // requires a settled corpus, so pending tombstones force the
    // compaction a pure-add batch would otherwise amortize away. That
    // is the explicit trade of a warm tier: ingest-optimized pipelines
    // leave maintainChampions off and rebuild on their own schedule.
    // Delete-only batches keep the existing tier (valid by the
    // removeDocs contract — tombstoned champions drop out of the
    // rescore on their own).
    maintainChampions.foreach { c =>
      if (statusCounts.getOrElse("added", 0L) +
          statusCounts.getOrElse("changed", 0L) > 0 ||
          !spark.catalog.tableExists(s"${name}_champions")) {
        if (spark.catalog.tableExists(s"${name}_tombstones")) {
          // same disjoint-table overlap as the compaction clause above
          graft.util.Par.run(
            () => Bm25.compactIndex(spark, name, buckets, idCol),
            () => compactFingerprints(spark, name, idCol))
        }
        Bm25.buildChampions(spark, name, c, buckets, idCol)
      }
    }
    (delta, statusCounts)
  }

  /** The fingerprint log's partition count: the log is Hive-partitioned
    * on `fp_prefix = pmod(xxhash64(id), FP_PREFIXES)` so the per-batch
    * probe PRUNES FILES by the batch's prefix set instead of scanning
    * the whole log (the scale lever the r8 stance documented). 64
    * prefixes bound the probe's literal In-filter (≤ 64 ints — nothing
    * like the evicted unbounded id lists) while keeping per-append file
    * counts sane; [[compactFingerprints]] folds the per-batch file
    * accumulation back to one file set per live prefix. */
  private val FP_PREFIXES = 64

  private def fpPrefix(idCol: String) =
    pmod(xxhash64(col(idCol)), lit(FP_PREFIXES))

  /** Latest-wins fingerprints for ONLY the batch's ids: partition-prune
    * the log to the batch's fp_prefix set (≤ 64 literal ints — the
    * pruning is static, visible as PartitionFilters), then broadcast
    * semi-join the batch ids over the surviving files. No log-sized
    * shuffle, and the files READ are bounded by the batch's prefixes
    * however large the log grows (measured by ProbeFplogPrune).
    * Checkpoint-settled. */
  private def priorFingerprints(spark: SparkSession, name: String,
      b: DataFrame, idCol: String): DataFrame =
    fplogProbe(spark, name, b, idCol).localCheckpoint()

  /** The probe's LAZY plan — package-private so the spec can pin the
    * partition-pruned shape (the settled frame's lineage is gone). */
  private[graft] def fplogProbe(spark: SparkSession, name: String,
      b: DataFrame, idCol: String): DataFrame = {
    val prefixes = b.select(fpPrefix(idCol).as("p")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    spark.table(s"${name}_fplog")
      .filter(col("fp_prefix").isin(prefixes: _*))
      .join(broadcast(b.select(col(idCol))), Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(max(struct(col("ver"), col("h"))).as("s"))
      .select(col(idCol), col("s.h").as("h"), col("s.ver").as("ver"))
  }

  /** Classification: SnapshotDiff over (id, content-hash), old side =
    * the store's view of the batch's ids (null hash = deleted/absent).
    * SnapshotDiff's `removed` covers old-side ids absent from the live
    * side — here that means a delete MARKER row (restricting old to
    * the batch's ids makes unmentioned ids invisible). Deletes of
    * absent ids vanish in the semi-join. Checkpoint-settled BEFORE any
    * store mutation (the IngestDedup settle lesson). */
  private def classifyAgainst(prior: DataFrame, live: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val oldF = prior.filter(col("h").isNotNull).select(col(idCol), col("h"))
    val newF = live.select(col(idCol), xxhash64(col(textCol)).as("h"))
    SnapshotDiff.diff(oldF, newF, idCol, Seq("h")).localCheckpoint()
  }

  /** READ-ONLY classification of an upsert batch — [[applyUpserts]]'s
    * front half without the version check or any write, for
    * compositions that must route on statuses BEFORE deciding what to
    * apply (the dedup-gated face below). A missing index classifies
    * every live doc `added`. */
  def classifyUpserts(spark: SparkSession, name: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val b = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
      .localCheckpoint()
    val live = b.filter(col(textCol).isNotNull)
    if (!spark.catalog.tableExists(s"${name}_doclens"))
      return live.select(col(idCol), lit("added").as("status")).localCheckpoint()
    classifyAgainst(priorFingerprints(spark, name, b, idCol), live,
      idCol, textCol)
  }

  /** True iff an id this batch classified `added` is still physically
    * tombstoned — the delete-then-re-add case that must compact before
    * the append. Priced like the other policy checks: the tombstone
    * table is backlog-sized and the batch's added ids broadcast into
    * the semi-join; no corpus scan. */
  private def readdedTombstoned(spark: SparkSession, name: String,
      delta: DataFrame, idCol: String): Boolean =
    spark.catalog.tableExists(s"${name}_tombstones") &&
      !spark.table(s"${name}_tombstones")
        .join(broadcast(delta.filter(col("status") === "added")
          .select(col(idCol))), Seq(idCol), "left_semi")
        .isEmpty

  /** Tombstoned/indexed ratio from the 1-row stats and the tombstone-
    * sized table — the compaction trigger, priced so the POLICY CHECK
    * itself never scans the corpus. */
  private def tombstoneBacklog(spark: SparkSession, name: String): Double = {
    if (!spark.catalog.tableExists(s"${name}_tombstones")) return 0.0
    // one job, not two: the tombstone count and the 1-row stats read
    // ride a single collect (r15 — the policy check runs every
    // tombstone-carrying wave)
    val r = spark.table(s"${name}_tombstones").agg(count(lit(1)).as("__t"))
      .crossJoin(spark.table(s"${name}_stats").select(col("n_docs")))
      .head()
    val tombs = r.getLong(0)
    if (tombs == 0) return 0.0
    val nDocs = r.getAs[Long]("n_docs")
    if (nDocs == 0) 1.0 else tombs.toDouble / nDocs
  }

  /** Fold the append-only fingerprint log to one row per live id
    * (latest ver wins; delete markers and everything they superseded
    * drop out). Same settle-then-rewrite discipline as compactIndex. */
  def compactFingerprints(spark: SparkSession, name: String,
      idCol: String = "doc_id"): Unit = {
    if (!spark.catalog.tableExists(s"${name}_fplog")) return
    val latest = spark.table(s"${name}_fplog")
      .groupBy(col(idCol))
      .agg(max(struct(col("ver"), col("h"))).as("s"))
      .select(col(idCol), col("s.h").as("h"), col("s.ver").as("ver"))
      .filter(col("h").isNotNull)
      .localCheckpoint()
    graft.sources.Sinks.dropTable(spark, s"${name}_fplog")
    logFingerprints(spark, name, idCol, latest)
  }

  private def logFingerprints(spark: SparkSession, name: String,
      idCol: String, rows: DataFrame): Unit = {
    // stale-location clearing on first create, same as the other
    // standing stores (a fresh catalog over an old warehouse)
    if (!spark.catalog.tableExists(s"${name}_fplog"))
      graft.sources.Sinks.dropTable(spark, s"${name}_fplog")
    // Hive-partitioned on the id-hash prefix (see FP_PREFIXES) so the
    // per-batch probe prunes files. The earlier bucketBy(id) layout
    // only ever served compactFingerprints' fold (probe joins are
    // broadcast-side and never shuffle the log); the fold now pays one
    // narrow shuffle instead, amortized on the compaction trigger —
    // the probe runs EVERY batch and file pruning is where the scan
    // cost actually lives.
    rows.withColumn("fp_prefix", fpPrefix(idCol))
      .write.mode("append").format("parquet")
      .partitionBy("fp_prefix")
      .saveAsTable(s"${name}_fplog")
  }

  /** Batch-mode replay: feed `docs` through [[applyUpserts]] as
    * `nBatches` contiguous id ranges. Same code the streaming wiring
    * runs per micro-batch; the q160 driver query replays a scripted
    * add/change/delete schedule through it so the oracle gate covers
    * the maintenance path end to end. */
  def replayUpserts(docs: DataFrame, name: String, nBatches: Int,
      buckets: Int = 32, idCol: String = "doc_id", textCol: String = "text",
      compactRatio: Double = 0.2,
      maintainChampions: Option[Int] = None): DataFrame = {
    val spark = docs.sparkSession
    val maxId = docs.agg(max(col(idCol))).head().getLong(0)
    val step = (maxId + nBatches) / nBatches
    (0 until nBatches).map { k =>
      applyUpserts(spark, name,
        docs.filter(col(idCol) >= k * step && col(idCol) < (k + 1) * step),
        ver = k + 1L, buckets, idCol, textCol, compactRatio,
        maintainChampions)
    }.reduce(_.unionByName(_))
  }

  /** Streaming wiring: `foreachBatch` over an upsert stream, applying
    * each micro-batch to the standing BM25 index and (when `annRef` is
    * given and the batch carries `vecCol`) folding the same delta into
    * the ANN model — remove(changed ∪ removed) then append(added ∪
    * changed), settled per batch, so both stores stay current from ONE
    * classification. `docFold` (round 12) attaches the count-model
    * fold on this UNGATED face too — [[applyUpsertsFolded]]'s window —
    * so pipelines without near-dup admission still get
    * one-classification-maintains-everything. The per-batch delta
    * frame goes to `sink`. */
  def maintainStream(docs: DataFrame, name: String,
      sink: (DataFrame, Long) => Unit,
      buckets: Int = 32, idCol: String = "doc_id", textCol: String = "text",
      annRef: Option[java.util.concurrent.atomic.AtomicReference[
        graft.ann.DistributedAnnModel]] = None,
      vecCol: String = "embedding",
      compactRatio: Double = 0.2,
      verBase: Long = 1L,
      vecFold: Option[VecFold] = None,
      maintainChampions: Option[Int] = None,
      docFold: Option[(String, DocFold)] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // verBase lets a stream resume past versions already written
          // by a batch-mode seed (bootstrap build + model fit)
          val ver = batchId + verBase
          val delta = docFold match {
            case Some((logName, f)) =>
              applyUpsertsFolded(spark, name, batch, ver, logName, f,
                buckets, idCol, textCol, compactRatio, maintainChampions,
                vecCol)
            case None =>
              applyUpserts(spark, name, batch, ver,
                buckets, idCol, textCol, compactRatio, maintainChampions)
          }
          foldVectorStores(batch, delta, idCol, vecCol, annRef, vecFold)
          sink(delta, batchId)
        }
      }

  /** DEDUP-GATED streaming maintenance — the full ingestion pipeline
    * in one `foreachBatch`: classify the upsert batch, pass only NEW
    * docs through near-duplicate admission against the standing
    * signature store, and apply the admitted adds + all content
    * changes + all deletes to the BM25 index. The glue encodes the
    * semantics each half alone cannot:
    *
    *   - ADDED docs face admission (a near-dup of anything already
    *     seen is not indexed — and per [[IngestDedup.admitBatch]]'s
    *     order-independence contract its signatures still join the
    *     store, so a rejected doc stays rejected if re-sent).
    *   - CHANGED docs BYPASS admission (an edit to a present doc is
    *     not a new admission decision — probing it would let its own
    *     v1 signature self-reject the update); their signatures are
    *     physically refreshed BEFORE this batch's admissions run, so
    *     new docs are judged against the batch's final content. The
    *     refresh is a store rewrite — the same "in-place updates pay
    *     the rewrite" rule the index's change-forced compaction
    *     already documents; pure add/delete batches never pay it.
    *   - REMOVED docs leave the index at once, and their signatures
    *     stop rejecting IMMEDIATELY via the pending-removal exclusion
    *     (the Takedown story: lookalikes of a removed doc are
    *     admissible again) while the physical signature sweep is
    *     amortized to a backlog-ratio trigger, like the index's own
    *     compaction. Signature rows carry their writing batch's
    *     GENERATION (ver), and a pending mark silences only
    *     generations at-or-below it — a re-admitted id's fresh
    *     signatures reject lookalikes immediately, and the sweep
    *     removes exactly the superseded generation (before rows
    *     carried generations, the dead content's signatures either
    *     leaked forever or the re-admission window stopped rejecting;
    *     both closed in round 9).
    *
    * Per-batch cost: classification + admission probes are batch-
    * bounded; the index apply is O(delta) (see [[applyUpserts]]); the
    * store-sized signature rewrites happen only on change-carrying
    * batches and on the backlog-ratio sweep.
    *
    * When `annRef` is given and the batch carries `vecCol`, the
    * ANN/vector store folds from the SAME admission decision
    * (admitted adds append vectors, changes remove+append, takedowns
    * remove) — a rejected add's embedding never enters the vector
    * store, so text index and vector store cannot desync. Batch
    * contract for the vector leg: a CHANGED doc must carry its
    * (possibly unchanged) embedding, or its vector is removed without
    * replacement — same contract as [[maintainStream]]. `vecFold`
    * attaches any OTHER vector store to the same decision backend-
    * agnostically ([[VecFold]]); e.g. [[ivfStoreFold]] keeps a
    * standing IVF store in sync alongside (or instead of) the forest
    * model. */
  def maintainStreamDeduped(docs: DataFrame, name: String, sigName: String,
      sink: (DataFrame, Long) => Unit,
      buckets: Int = 32, idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, seed: Long = 42L,
      compactRatio: Double = 0.2, verBase: Long = 1L,
      annRef: Option[java.util.concurrent.atomic.AtomicReference[
        graft.ann.DistributedAnnModel]] = None,
      vecCol: String = "embedding",
      vecFold: Option[VecFold] = None,
      maintainChampions: Option[Int] = None,
      docFold: Option[(String, DocFold)] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          sink(applyGatedUpserts(batch.sparkSession, name, sigName, batch,
            ver = batchId + verBase, buckets, idCol, textCol,
            ngram, numHashes, bands, threshold, seed, compactRatio,
            annRef, vecCol, vecFold, maintainChampions, docFold), batchId)
      }

  /** One gated batch — [[maintainStreamDeduped]]'s per-batch unit,
    * exposed for batch-mode replay exactly like [[applyUpserts]] is
    * for [[maintainStream]] (q169 drives it under the driver's oracle
    * gate). Returns the APPLIED delta (rejected adds never reach the
    * index, so they carry no row). */
  def applyGatedUpserts(spark: SparkSession, name: String, sigName: String,
      batch: DataFrame, ver: Long,
      buckets: Int = 32, idCol: String = "doc_id", textCol: String = "text",
      ngram: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, seed: Long = 42L,
      compactRatio: Double = 0.2,
      annRef: Option[java.util.concurrent.atomic.AtomicReference[
        graft.ann.DistributedAnnModel]] = None,
      vecCol: String = "embedding",
      vecFold: Option[VecFold] = None,
      maintainChampions: Option[Int] = None,
      docFold: Option[(String, DocFold)] = None): DataFrame = {
    val b = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
      .localCheckpoint()
    // classification ONCE, shared by the fold arming, the admission
    // gate AND the index apply (applyClassified below) — the inner
    // re-classification the old applyUpserts(gated) call performed (a
    // second fingerprint probe + diff + settle) was a measured ~2 s of
    // every gated wave's ~6 s fixed floor (ProbeGateCost).
    val exists = spark.catalog.tableExists(s"${name}_doclens")
    val liveB = b.filter(col(textCol).isNotNull)
    val priorOpt =
      if (exists) Some(priorFingerprints(spark, name, b, idCol)) else None
    val delta = priorOpt match {
      case Some(p) => classifyAgainst(p, liveB, idCol, textCol)
      case None =>
        liveB.select(col(idCol), lit("added").as("status")).localCheckpoint()
    }
    // open the COUNT-FOLD torn-batch window BEFORE any store mutates:
    // a crash between the index commit and the fold ledger would
    // otherwise re-deliver as an all-unchanged classification that
    // silently skips the fold forever. With the marker down, the
    // replay fails loud at this requireServable instead. A batch whose
    // ver is already in the fold ledger (completed replay) skips the
    // window entirely.
    val foldArmed = armFold(spark, docFold, ver)
    def withStatus(s: String) = b.join(
      delta.filter(col("status") === s).select(col(idCol)),
      Seq(idCol), "left_semi")
    // ONE status-count job routes the whole batch: waves without
    // changes skip the signature refresh, delete-only waves skip the
    // admission machinery entirely, add-only waves skip the
    // pending-removal write — each skipped branch was 2-5 job
    // submissions of fixed per-wave cost (ProbeGateCost). The log's
    // max version rides the SAME job (r15 — applyClassified's replay
    // probe answered here for free, so the index apply below runs
    // probe-less).
    val probeRows = (priorOpt match {
      case Some(p) => delta.groupBy(col("status")).agg(count(lit(1)).as("v"))
        .unionByName(p
          .agg(coalesce(max(col("ver")), lit(Long.MinValue)).as("v"))
          .select(lit("__max_prior").as("status"), col("v")))
      case None => delta.groupBy(col("status")).agg(count(lit(1)).as("v"))
    }).collect()
    val outerCounts = probeRows.filter(_.getString(0) != "__max_prior")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxPrior = probeRows.find(_.getString(0) == "__max_prior")
      .map(_.getLong(1))
    val changed = withStatus("changed")
    if (outerCounts.getOrElse("changed", 0L) > 0) {
      // physical refresh first: admissions below judge against v2
      IngestDedup.removeFromStore(spark, sigName, changed.select(col(idCol)))
      IngestDedup.appendSignatures(changed, sigName, idCol, textCol,
        ngram, numHashes, bands, seed, ver = ver)
    }
    // admitBatch settles its result internally; the count on the
    // checkpointed frame replaces the r14 double-checkpoint and gives
    // the gated delta's exact "added" cardinality — which lets the
    // whole downstream chain (index apply, fold driver, store fold)
    // run without re-counting any frame (r15, r14 verdict #1)
    val (admitted, nAdmitted) =
      if (outerCounts.getOrElse("added", 0L) > 0) {
        val a = IngestDedup.admitBatch(
          withStatus("added"), sigName, idCol, textCol,
          ngram, numHashes, bands, threshold, seed,
          excludeIds = Some(pendingRm(spark, sigName)), ver = ver)
        (a, a.count())
      } else (spark.range(0).select(col("id")), 0L)
    if (outerCounts.getOrElse("removed", 0L) > 0)
      markPendingRm(spark, sigName,
        delta.filter(col("status") === "removed").select(col(idCol)), ver)
    // checkpointed: the frame carries broadcast semi-joins and feeds
    // several consumers (bootstrap's two corpus scans / the apply's
    // live view / the fingerprint log) — measured r15: dropping this
    // settle ADDED broadcast-exchange jobs (each consumer re-broadcast
    // the semi-join subtrees), a net loss; one checkpoint job is the
    // cheaper shape
    val gated = withStatus("added")
      .join(admitted.select(col("id").as(idCol)), Seq(idCol), "left_semi")
      .unionByName(changed)
      .unionByName(b.filter(col(textCol).isNull))
      .localCheckpoint()
    // the gated delta = the classification minus rejected adds (the
    // admission gate only ever removes rejected adds) — built as a
    // cheap union of the two settled frames instead of the r14
    // semi-join + third checkpoint; its status counts follow from the
    // outer counts with "added" replaced by the admitted count
    val gatedDelta = delta.filter(col("status").isin("changed", "removed"))
      .unionByName(admitted.select(col("id").as(idCol),
        lit("added").as("status")))
    val gatedCounts = outerCounts.updated("added", nAdmitted)
    // the index apply REUSES the classification above, restricted to
    // the gated ids, and the probe answers measured by this flow — no
    // second classification pass, no probe job
    val applied = priorOpt match {
      case None =>
        bootstrapIndex(spark, name, gated.filter(col(textCol).isNotNull),
          ver, buckets, idCol, textCol, maintainChampions)
      case Some(prior) =>
        applyClassified(spark, name,
          liveB.join(gated.select(col(idCol)), Seq(idCol), "left_semi"),
          prior, gatedDelta,
          ver, buckets, idCol, textCol, compactRatio, maintainChampions,
          known = Some((maxPrior.get, gatedCounts)))._1
    }
    // fold the ANN/vector store(s) from the SAME classification and
    // admission decision (r8 verdict #1): admitted adds append their
    // vectors, changes remove + append, takedowns remove. A rejected
    // add never reaches `applied`, so its embedding never enters the
    // vector store either — the single gate gates ALL the stores; an
    // admitted doc's text and embedding cannot desync.
    foldVectorStores(
      batch.select((col(idCol).cast("long").as(idCol) +: batch.columns
        .filterNot(_ == idCol).map(col).toIndexedSeq): _*),
      applied, idCol, vecCol, annRef, vecFold)
    // the COUNT-MODEL fold (round-11): the same classification and
    // admission decision also maintains the count-shaped model stores
    // (NB / LM / weighted sample / HLL / MG / KLL) — see
    // [[countStoreFold]]. Ledger + marker close the window opened
    // above: exactly-once or loud across the WHOLE gated batch.
    closeFold(spark, foldArmed,
      batch.select((col(idCol).cast("long").as(idCol) +: batch.columns
        .filterNot(c => c == idCol || c == vecCol).map(col).toIndexedSeq): _*),
      applied, idCol, ver, gatedCounts)
    sweepSignatures(spark, sigName, bands, compactRatio)
    applied
  }

  /** Open the fold's exactly-once-or-loud window: repair a
    * marker-down-but-ledger-committed store (the crash between
    * markApplied and setBuilding(off) left a CONSISTENT store — the
    * ledger row is written strictly after every store mutation, so
    * its presence proves the prior delivery completed; r11 advice),
    * skip an already-applied version, and put the marker down for the
    * rest. A genuinely torn batch never reached markApplied, so it
    * still fails loud at the requireServable here. */
  private def armFold(spark: SparkSession,
      docFold: Option[(String, DocFold)],
      ver: Long): Option[(String, DocFold)] = {
    // one ledger probe, not two (r15): the repair check and the
    // arming filter share the same alreadyApplied answer — the r14
    // version paid a second ledger-listing job for the filter
    val armed = docFold.filter { case (logName, _) =>
      val applied0 =
        graft.operators.CountStore.alreadyApplied(spark, logName, ver)
      if (applied0 && graft.operators.CountStore.isBuilding(spark, logName))
        graft.operators.CountStore.setBuilding(spark, logName, on = false)
      !applied0
    }
    armed.foreach { case (logName, _) =>
      graft.operators.CountStore.requireServable(spark, logName)
      graft.operators.CountStore.setBuilding(spark, logName, on = true)
    }
    armed
  }

  /** Close the window [[armFold]] opened: run the fold over the
    * applied delta, commit the ledger, lift the marker, and fold the
    * log's file accumulation once the backlog passes the priced
    * policy check (driver-side listing, no job). */
  private def closeFold(spark: SparkSession,
      armed: Option[(String, DocFold)], payload: DataFrame,
      applied: DataFrame, idCol: String, ver: Long,
      counts: Map[String, Long]): Unit =
    armed.foreach { case (logName, f) =>
      foldCountStores(spark, payload, applied, logName, idCol, ver, f, counts)
      graft.operators.CountStore.markApplied(spark, logName, ver)
      graft.operators.CountStore.setBuilding(spark, logName, on = false)
      CorpusLog.maybeCompact(spark, logName, idCol)
      // the fold ledger accrues one file per batch and armFold LISTS
      // them all on every delivery — fold its backlog on the same
      // priced cadence as the log's (r13; driver-side listing, no job)
      graft.operators.CountStore.maybeCompactLedger(spark, logName)
    }

  /** [[applyUpserts]] + the COUNT-MODEL fold, WITHOUT the dedup gate —
    * the batch face behind [[maintainStream]]'s `docFold` parameter
    * (round 12): pipelines that don't run near-dup admission still
    * get one-classification-maintains-everything for the count-model
    * stores, under the same armFold/closeFold exactly-once-or-loud
    * window as the gated face. Every live row is "admitted" here, so
    * the CorpusLog records the full upsert stream. */
  def applyUpsertsFolded(spark: SparkSession, name: String,
      batch: DataFrame, ver: Long, logName: String, fold: DocFold,
      buckets: Int = 32, idCol: String = "doc_id", textCol: String = "text",
      compactRatio: Double = 0.2,
      maintainChampions: Option[Int] = None,
      vecCol: String = "embedding"): DataFrame = {
    val armed = armFold(spark, Some((logName, fold)), ver)
    val (applied, counts) = applyUpsertsCounted(spark, name, batch, ver,
      buckets, idCol, textCol, compactRatio, maintainChampions)
    closeFold(spark, armed,
      batch.select(col(idCol).cast("long").as(idCol) +: batch.columns
        .filterNot(c => c == idCol || c == vecCol).map(col).toIndexedSeq: _*),
      applied, idCol, ver, counts)
    applied
  }

  /** A backend-agnostic per-batch vector-store fold: called once per
    * batch with (`gone`, `put`) — the ids leaving the store (changed ∪
    * removed, as classified) and the (id, vector) rows entering it
    * (admitted adds ∪ changes that carry a non-null vector). Both
    * frames derive from the SAME classification/admission decision
    * that drove the text index, so any store a fold maintains stays in
    * sync with it by construction. [[ivfStoreFold]] is the standing-
    * IVF-store instance; the forest `annRef` is the in-memory-model
    * instance of the same contract. */
  type VecFold = (DataFrame, DataFrame) => Unit

  /** The shared per-batch fan-out of one classification to every
    * attached vector store: skipped entirely when the batch has no
    * vector column or no store is attached. */
  private def foldVectorStores(batch: DataFrame, applied: DataFrame,
      idCol: String, vecCol: String,
      annRef: Option[java.util.concurrent.atomic.AtomicReference[
        graft.ann.DistributedAnnModel]],
      vecFold: Option[VecFold]): Unit =
    if ((annRef.nonEmpty || vecFold.nonEmpty) &&
        batch.columns.contains(vecCol)) {
      val gone = applied.filter(col("status").isin("changed", "removed"))
        .select(col(idCol))
      val put = batch
        .join(applied.filter(col("status").isin("added", "changed"))
          .select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol), col(vecCol))
        .filter(col(vecCol).isNotNull)
      annRef.foreach { ref =>
        ref.set(ref.get.remove(gone, idCol).append(put, idCol, vecCol).compact())
      }
      vecFold.foreach(f => f(gone, put))
    }

  /** A [[VecFold]] maintaining a standing IVF store ([[graft.ann.IvfModel]]
    * `saveStore` layout) under the frozen quantizer — the compressed-
    * serving analog of the forest fold: departures tombstone and then
    * compact IN THE SAME BATCH (the store's tombstones are id-keyed, so
    * a changed id's fresh row appended before the purge would stay
    * hidden behind its own tombstone — purge-before-append is the
    * store's documented upsert discipline), then arrivals assign to the
    * frozen centroids and append into the bucketed layout. Pure-add
    * batches are append-only, O(delta); change/takedown batches pay the
    * one store rewrite, exactly like the text index's change-forced
    * compaction. */
  def ivfStoreFold(spark: SparkSession, model: graft.ann.IvfModel,
      table: String, buckets: Int = 32): VecFold =
    storeFold(spark, table,
      removeAndCompact = gone => {
        model.removeStore(spark, table, gone)
        model.compactStore(spark, table, buckets)
      },
      save = (put, idCol, vCol) =>
        model.saveStore(put, table, buckets, corpusId = idCol, corpusVec = vCol),
      append = (put, idCol, vCol) =>
        model.appendStore(put, table, buckets, corpusId = idCol, corpusVec = vCol))

  /** The GRAPH-family [[VecFold]] (round-10 verdict #1): one admission
    * decision also maintains a standing NSW store
    * ([[graft.ann.NswStore]] layout) — the best-recall backend rides
    * the same gate as BM25/forest/IVF, so text index, forest, IVF
    * store and graph store can never desync. First arrivals bootstrap
    * the store from a fresh fit; every later batch flows through
    * [[graft.ann.NswStore.upsertStore]]'s single touched-shard rebuild
    * pass (departures purge and arrivals build in ONE pass — O(delta)
    * shard rebuilds, never a store rewrite). Because a shard rebuild
    * is bit-identical to a fresh fit of its live rows, the maintained
    * table stays EQUAL to a fresh fit of the live set after any batch
    * history — so the fold's gate (q208) pins exact equality bits, a
    * strictly stronger invariant than the recall floors the
    * forest/IVF folds settle for. */
  def nswStoreFold(spark: SparkSession, nsw: graft.ann.NswGraph,
      table: String): VecFold = (gone, put) => {
    if (!spark.catalog.tableExists(table)) {
      if (!put.isEmpty) {
        val idCol = put.columns(0); val vCol = put.columns(1)
        graft.ann.NswStore.saveStore(nsw.fit(put, idCol, vCol), table)
      }
    } else if (!gone.isEmpty || !put.isEmpty) {
      val idCol = put.columns(0); val vCol = put.columns(1)
      graft.ann.NswStore.upsertStore(spark, table, gone, put, idCol, vCol)
    }
  }

  /** The IVF-PQ sibling of [[ivfStoreFold]]: the gated decision
    * maintains the COMPRESSED standing store ([[graft.ann.PqModel]]
    * `saveCorpusIvf` layout) under both frozen quantizers — what you
    * would actually serve at 100 TB. Same purge-before-append
    * discipline, same per-batch cost shape (adds append O(delta)
    * encoded rows; change/takedown batches pay the store rewrite). */
  def ivfPqStoreFold(spark: SparkSession, pq: graft.ann.PqModel,
      ivf: graft.ann.IvfModel, table: String,
      buckets: Int = 32): VecFold =
    storeFold(spark, table,
      removeAndCompact = gone => {
        pq.removeCorpusIvf(spark, table, gone)
        pq.compactCorpusIvf(spark, table, buckets)
      },
      save = (put, idCol, vCol) =>
        pq.saveCorpusIvf(ivf, put, table, buckets,
          corpusId = idCol, corpusVec = vCol),
      append = (put, idCol, vCol) =>
        pq.appendCorpusIvf(ivf, put, table, buckets,
          corpusId = idCol, corpusVec = vCol))

  /** The shared standing-store fold skeleton: tombstone+compact
    * departures (only when the store exists and the batch has any —
    * the two isEmpty probes are batch-bounded jobs over the settled
    * delta, cheaper than an unconditional store rewrite), bootstrap
    * the table from the first arrivals, append later ones. The
    * backend-specific store ops are the only moving parts. */
  private def storeFold(spark: SparkSession, table: String,
      removeAndCompact: DataFrame => Unit,
      save: (DataFrame, String, String) => Unit,
      append: (DataFrame, String, String) => Unit): VecFold = (gone, put) => {
    if (spark.catalog.tableExists(table) && !gone.isEmpty)
      removeAndCompact(gone)
    if (!put.isEmpty) {
      val idCol = put.columns(0); val vCol = put.columns(1)
      if (!spark.catalog.tableExists(table)) save(put, idCol, vCol)
      else append(put, idCol, vCol)
    }
  }

  /** The COUNT-MODEL per-batch fold (round-11 verdict #1): one
    * admission decision also maintains every count-shaped model store.
    * Called once per gated batch with (`oldGone`, `put`, `live`):
    * the DEPARTING documents' OLD payload (changed ∪ removed ids,
    * resolved from the [[CorpusLog]] BEFORE this batch's versions were
    * logged — counts are signed, so an edit is "−old +new" and the
    * subtraction needs the content that was indexed, not the content
    * arriving), the ARRIVING payload rows (admitted adds ∪ changes),
    * and a thunk reading the post-batch live corpus (the stated
    * full-pass input of the sketch re-init and the sample group
    * refit). All three frames derive from the SAME classification /
    * admission decision that drove the text index, so every store a
    * fold maintains stays in sync with it by construction —
    * [[countStoreFold]] is the standard instance. */
  type DocFold = FoldDelta => Unit

  /** One batch's fold input: `oldGone` the departing documents' OLD
    * payload rows, `put` the arriving payload rows, `live` a thunk
    * reading the post-batch live corpus, and the two frames' ALREADY-
    * KNOWN row counts (r15) — derived from the batch's status counts
    * by the fold driver, so a fold never pays re-count jobs over
    * frames whose cardinalities the apply already measured (the
    * q255/q257 walls are fixed per-job latency, not compute). Both
    * frames are checkpoint-settled; `nGone`/`nPut` are exact under the
    * engine-wide id-unique-batch contract. */
  final case class FoldDelta(oldGone: DataFrame, put: DataFrame,
      live: () => DataFrame, nGone: Long, nPut: Long)

  /** The fold driver: resolve old payloads, update the corpus log,
    * run the fold. The exactly-once-or-loud window is OPENED BY THE
    * CALLER before the text index mutates (applyGatedUpserts sets the
    * log's `__building` marker right after classification) and closed
    * here with the ledger commit — so a crash ANYWHERE between the
    * index commit and the fold ledger leaves the marker down and the
    * re-delivered batch fails LOUD instead of classifying
    * all-unchanged and silently skipping the fold forever (the
    * one-sided-commit hazard of composing two stores). Recovery from
    * a torn gated batch = rebuild the count stores and the corpus log
    * from the upstream corpus (their initStore paths) — the torn
    * batch's payload never reached the log, so nothing shorter is
    * honest. The old-payload lookup happens BEFORE the log append (it
    * must see the pre-batch versions) and is settled; every departing
    * id MUST resolve to a logged live row — a missing row means a
    * departure was never logged and its signed subtraction would
    * silently skip, so the driver fails loud instead. */
  private def foldCountStores(spark: SparkSession, batch: DataFrame,
      applied: DataFrame, logName: String, idCol: String, ver: Long,
      fold: DocFold, counts: Map[String, Long]): Unit = {
    // cardinalities come from the apply's status counts (r15) — no
    // re-count jobs over the settled frames
    val nGone = counts.getOrElse("changed", 0L) +
      counts.getOrElse("removed", 0L)
    val nPut = counts.getOrElse("added", 0L) +
      counts.getOrElse("changed", 0L)
    // putDocs settles (it feeds the log append AND every family merge);
    // goneIds stays lazy (r15) — `applied` is settled by every caller,
    // so the filter is a cheap re-evaluation, and the r14 checkpoint
    // here was one more fixed-cost job per wave
    val putDocs = batch
      .join(applied.filter(col("status").isin("added", "changed"))
        .select(col(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint()
    val goneIds = applied.filter(col("status").isin("changed", "removed"))
      .select(col(idCol))
    val oldGone =
      // limit(0) over the settled putDocs is already stable — the r14
      // checkpoint here was one more fixed-cost job per pure-add wave
      if (nGone == 0) putDocs.limit(0)
      else {
        require(spark.catalog.tableExists(logName),
          s"corpus log '$logName' missing but the batch carries " +
            "departures — the fold must be attached from the stores' birth")
        val r = CorpusLog.lookup(spark, logName, goneIds, idCol)
        val nFound = r.count()
        require(nFound == nGone,
          s"corpus log '$logName' resolved $nFound of $nGone departing " +
            "ids — a departure was never logged, its signed subtraction " +
            "would silently skip; rebuild the stores and the log")
        r
      }
    val removedOnly = applied.filter(col("status") === "removed")
      .select(col(idCol))
    CorpusLog.append(spark, logName, putDocs, removedOnly, idCol, ver)
    fold(FoldDelta(oldGone, putDocs,
      () => CorpusLog.live(spark, logName, idCol), nGone, nPut))
  }

  /** The standard [[DocFold]]: route the admission decision into any
    * subset of the four count-model families through their existing
    * merge bodies. Per batch and per attached store:
    *
    *  - NB (`<name>_counts`/`_class`) and LM (`_tri`/`_bi`/`_uni`):
    *    bootstrap from first arrivals, then "−old +new" signed merges
    *    — count additivity makes maintained ≡ fresh-fit EXACT
    *    (bit-identical tables, the q218/q219 equality, now under the
    *    admission gate: q245).
    *  - Weighted sample: arrivals merge via the associative top-k
    *    combiner; departures refit only the groups whose SAMPLED rows
    *    left (below-k departures provably change nothing —
    *    [[graft.operators.SampleStore.dropDocs]]), IMMEDIATE at
    *    `refitBacklog` = 1 or DEFERRED behind the staleness backlog
    *    with the departing ids accumulated in `_stale_ids`
    *    ([[graft.operators.SampleStore.refitStale]] settles them all
    *    in one group-pruned live pass — r12 verdict #2, the fold's
    *    last per-batch live read).
    *  - HLL sketch and quantile (KLL) stores: arrivals merge
    *    (register-max / sketch-union); any departure takes the
    *    union-only takedown clause — re-init over the post-batch
    *    live corpus, IMMEDIATE at `refitBacklog` = 1 (the default) or
    *    DEFERRED behind the staleness backlog (below).
    *  - Heavy-hitters (MG): arrivals merge through the batch body;
    *    a departure whose items are all UNTRACKED is handled exactly
    *    in place ([[graft.operators.HhStore.removeDocsExact]] — a
    *    groups-sized n subtraction, no corpus pass, guarantees
    *    preserved via the exact d bound); only a departure touching a
    *    tracked item falls back to the union-only clause.
    *
    * DEFERRED re-inits (`refitBacklog` > 1, the r11 verdict's top
    * item; the sample family joined in r12): firing a re-init per
    * departure batch makes a TRICKLE of takedowns cost one corpus
    * pass each — and with four attached live-reading families, four.
    * Instead each departure batch marks the affected store stale
    * ([[graft.operators.CountStore.markStale]]; the sample store also
    * records the departing IDS); the re-init fires once a store's
    * pending backlog reaches `refitBacklog`, so N takedown batches
    * cost ONE live pass per family instead of N. The bound is EXACT:
    * the threshold check runs on every departure wave even when that
    * wave's own departure took HH's exact in-place path (r12 verdict
    * #6). While stale, a store's estimates may still count the
    * pending departures — the staleness is VISIBLE (describeStore's
    * `stale_batches`, [[graft.operators.CountStore.stalePending]])
    * and a serve-with-guarantee caller forces the refresh first via
    * [[refreshCountStores]] (or serves through the stores' `maxStale`
    * faces, which compose the refresh into one call). Arrivals keep
    * merging while stale (union-only merges are correct for arrivals
    * regardless; the sample's max-weight combiner is
    * order-independent), and the eventual re-init reads the
    * CorpusLog's live view, which already excludes every pending
    * departure — one pass settles them all.
    *
    * Costs: NB/LM merges are model-sized; sample merges are
    * store+batch-sized, its refits group-bounded over one live pass
    * per backlog WINDOW (not per departure batch, when deferral is
    * on); sketch/HH/KLL re-inits are one live pass per REFIT.
    * Nothing here ever rescans the corpus on a pure-add batch. */
  def countStoreFold(spark: SparkSession,
      nbStore: Option[(String, String)] = None,
      lmStore: Option[String] = None,
      sampleStore: Option[(String, String, String)] = None,
      sampleK: Int = 5,
      sketchStore: Option[(String, String)] = None,
      hhStore: Option[(String, String, Int)] = None,
      quantileStore: Option[(String, String, String)] = None,
      buckets: Int = 8, idCol: String = "doc_id",
      textCol: String = "text",
      refitBacklog: Int = 1): DocFold = (fd: FoldDelta) => {
    import graft.operators.{CountStore, HhStore, LmStore, NbStore, QuantileStore, SampleStore, SketchStore}
    require(refitBacklog >= 1, s"refitBacklog must be >= 1, got $refitBacklog")
    val gone = fd.oldGone
    val put = fd.put
    val live = fd.live
    // cardinalities arrive with the delta (r15): the fold driver
    // derived them from the apply's status counts, so the r14 version's
    // per-wave gone.count() + put.isEmpty jobs are gone entirely.
    val nGone = fd.nGone
    val goneEmpty = nGone == 0
    val putEmpty = fd.nPut == 0
    // ONE live pass per fold wave (r14 optimization, guide §1.2 —
    // remove unnecessary passes): with several union-only families
    // attached, a takedown wave used to call live() once PER FAMILY —
    // at refitBacklog = 1 that is up to three corpus-sized reads (HLL
    // + HH + KLL re-inits each re-reading the log) where
    // refreshCountStores already shares one. Lazy so pure-add waves
    // never build it; checkpoint-settled so every family re-init reads
    // the same materialized live view (thread-safe: lazy-val init is
    // synchronized, so concurrent family branches share one job).
    lazy val liveOnce: DataFrame = live().localCheckpoint()
    // the shared union-only deferral clause: departure -> immediate
    // re-init (backlog 1, no ledger IO) or mark-stale + threshold
    // check. The re-init covers this batch's arrivals too (live()
    // includes them — markers were logged before the fold ran), so
    // merge is skipped when it fires. The threshold check runs on
    // EVERY departure wave, marking or not (r12 verdict #6): an HH
    // wave whose departure took the exact in-place path must still
    // settle a backlog already sitting at the bound, or the refit
    // lands one wave later than the declared `refitBacklog` — the
    // bound is exact, not "exact except after exact-path waves".
    def unionOnly(name: String, tableExists: Boolean)(
        init: () => Unit, reinitLive: () => Unit, merge: () => Unit,
        departureNeedsReinit: Boolean = true): Unit =
      if (!tableExists) { if (!putEmpty) init() }
      else {
        var refit = false
        if (!goneEmpty) {
          if (refitBacklog <= 1) refit = departureNeedsReinit
          else {
            if (departureNeedsReinit)
              CountStore.markStale(spark, name, nGone)
            if (CountStore.stalePending(spark, name)._1 >= refitBacklog)
              refit = true
          }
        }
        if (refit) {
          reinitLive() // initStore clears the staleness ledger
        } else if (!putEmpty) merge()
      }
    // The family branches below mutate DISJOINT table sets, so they run
    // CONCURRENTLY (r14 optimization, guide §2.6 — overlap independent
    // jobs): a fold wave with several attached stores is a chain of
    // small fixed-cost jobs per family, and serializing them leaves the
    // executors idle between jobs. Failure semantics are unchanged in
    // class: any family's require/throw propagates and the caller's
    // armFold marker window stays down (loud), exactly as a mid-chain
    // sequential failure left earlier families written.
    val nbT = nbStore.map { case (name, labelCol) => () =>
      if (!spark.catalog.tableExists(s"${name}_class")) {
        if (!putEmpty)
          NbStore.initStore(put, name, buckets, textCol, labelCol)
      } else {
        if (!goneEmpty)
          NbStore.removeDocs(gone, name, buckets, textCol, labelCol)
        if (!putEmpty)
          NbStore.appendDocs(put, name, buckets, textCol, labelCol)
      }
    }
    val lmT = lmStore.map { name => () =>
      if (!spark.catalog.tableExists(s"${name}_uni")) {
        if (!putEmpty) LmStore.initStore(put, name, buckets, idCol, textCol)
      } else {
        if (!goneEmpty) LmStore.removeDocs(gone, name, buckets, idCol, textCol)
        if (!putEmpty) LmStore.appendDocs(put, name, buckets, idCol, textCol)
      }
    }
    // SAMPLE deferral (r12 verdict #2 — the last per-batch live read
    // in the fold): at refitBacklog = 1 a departure pays the
    // group-pruned live refit immediately (dropDocs); deferred, the
    // departing IDS accumulate in the store's `_stale_ids` ledger
    // (takedown-sized) and ONE refitStale settles every pending wave
    // with a single live pass once the backlog crosses the bound.
    // Correctness while stale rests on the same superset argument
    // dropDocs documents: a departed id not in the stored sample
    // cannot change the top-k (per-row priorities — removals never
    // promote), and every departed id that IS stored (including the
    // old-weight claim of an edit — same id) lands in the pending set
    // and refits its group from live. Arrivals keep merging while
    // stale (the max-weight combiner is order-independent), and
    // re-merging a batch whose rows the refit already read is
    // idempotent — so maintained ≡ fresh-fit holds after ANY deferred
    // schedule (CountFoldSpec's sample-deferral case).
    val sampleT = sampleStore.map { case (name, grpCol, weightCol) => () =>
      if (!spark.catalog.tableExists(s"${name}_sample")) {
        if (!putEmpty)
          SampleStore.initStore(put, name, grpCol, idCol, weightCol, sampleK)
      } else {
        if (!goneEmpty) {
          if (refitBacklog <= 1)
            SampleStore.dropDocs(spark, name, gone.select(col(idCol)), liveOnce,
              grpCol, idCol, weightCol)
          else {
            SampleStore.markStale(spark, name, gone.select(col(idCol)), nGone)
            if (CountStore.stalePending(spark, name)._1 >= refitBacklog)
              SampleStore.refitStale(spark, name, liveOnce,
                grpCol, idCol, weightCol)
          }
        }
        if (!putEmpty)
          SampleStore.mergeDocs(put, name, grpCol, idCol, weightCol)
      }
    }
    val sketchT = sketchStore.map { case (name, grpCol) => () =>
      unionOnly(name, spark.catalog.tableExists(s"${name}_hll"))(
        init = () => SketchStore.initStore(put, name, grpCol, idCol),
        // re-inits preserve the store's own lgK (r12 advice, medium —
        // an externally-built store must not be silently rebuilt at
        // the default on its first takedown refit); keepParams: the
        // value was just read from the store, so the params rewrite is
        // a no-op job skipped (r15)
        reinitLive = () => SketchStore.initStore(liveOnce, name, grpCol, idCol,
          lgK = SketchStore.lgKOf(spark, name), keepParams = true),
        merge = () => SketchStore.mergeDocs(put, name, grpCol, idCol))
    }
    // HH items are the whitespace tokens of textCol — the per-domain
    // n-gram feed's unigram base case (callers wanting shingles
    // pre-explode their own item frame through HhStore directly). A
    // departure first tries the EXACT in-place path (all departing
    // items untracked — a groups-sized n subtraction, guarantees
    // preserved by the d bound); only a departure touching a tracked
    // item takes the union-only clause.
    val hhT = hhStore.map { case (name, grpCol, k) => () =>
      val exists = spark.catalog.tableExists(s"${name}_hh")
      val heavyTouched = !goneEmpty && exists &&
        !HhStore.removeDocsExact(hhItems(gone, grpCol, textCol),
          name, "grp", "item")
      unionOnly(name, exists)(
        init = () => HhStore.initStore(
          hhItems(put, grpCol, textCol), name, "grp", "item", k),
        reinitLive = () => HhStore.initStore(
          hhItems(liveOnce, grpCol, textCol), name, "grp", "item", k),
        merge = () => HhStore.mergeDocs(
          hhItems(put, grpCol, textCol), name, "grp", "item"),
        departureNeedsReinit = heavyTouched)
    }
    val quantileT = quantileStore.map { case (name, grpCol, valCol) => () =>
      val exists = spark.catalog.tableExists(s"${name}_kll")
      unionOnly(name, exists)(
        init = () => QuantileStore.initStore(put, name, grpCol, valCol),
        // preserves the store's own k; keepParams: k was just read from
        // the store (r15)
        reinitLive = () => QuantileStore.initStore(liveOnce, name, grpCol,
          valCol, k = QuantileStore.kOf(spark, name), keepParams = true),
        merge = () => QuantileStore.mergeDocs(put, name, grpCol, valCol))
    }
    graft.util.Par.run(
      (nbT :: lmT :: sampleT :: sketchT :: hhT :: quantileT :: Nil)
        .flatten: _*)
  }

  /** The HH fold's item derivation — whitespace tokens of the text
    * column, one place so the fold's merge, exact-takedown, re-init
    * and [[refreshCountStores]] faces cannot drift. */
  private def hhItems(df: DataFrame, grpCol: String,
      textCol: String): DataFrame =
    df.select(col(grpCol).as("grp"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("item"))

  /** SERVE-WITH-GUARANTEE: force the deferred union-only re-inits NOW.
    * For each attached store with a pending staleness backlog, one
    * re-init over the CorpusLog's live corpus (which already excludes
    * every pending departure); fresh stores are untouched. Call before
    * a serve that must not overcount pending takedowns — the second
    * trigger the deferral contract names (the first being the fold's
    * own `refitBacklog` threshold). The store params mirror
    * [[countStoreFold]]'s. */
  def refreshCountStores(spark: SparkSession, logName: String,
      sketchStore: Option[(String, String)] = None,
      hhStore: Option[(String, String, Int)] = None,
      quantileStore: Option[(String, String, String)] = None,
      sampleStore: Option[(String, String, String)] = None,
      idCol: String = "doc_id", textCol: String = "text",
      knownStale: Boolean = false): Unit = {
    import graft.operators.{CountStore, HhStore, QuantileStore, SampleStore, SketchStore}
    // knownStale = true (r15): the caller ALREADY measured a pending
    // backlog (serveWithin checks before invoking its refresh thunk) —
    // when the thunk covers exactly one store, re-reading its ledger
    // here is a redundant fixed-cost job. Only sound for single-store
    // thunks; multi-store thunks keep the per-store check.
    def stale(name: String) = knownStale ||
      CountStore.stalePending(spark, name)._1 > 0
    lazy val live = CorpusLog.live(spark, logName, idCol).localCheckpoint()
    // re-inits preserve each store's own params (r12 advice, medium) —
    // same as the fold's threshold refit
    sketchStore.foreach { case (name, grpCol) =>
      if (stale(name)) SketchStore.initStore(live, name, grpCol, idCol,
        lgK = SketchStore.lgKOf(spark, name), keepParams = true)
    }
    hhStore.foreach { case (name, grpCol, k) =>
      if (stale(name))
        HhStore.initStore(hhItems(live, grpCol, textCol), name, "grp", "item", k)
    }
    quantileStore.foreach { case (name, grpCol, valCol) =>
      if (stale(name)) QuantileStore.initStore(live, name, grpCol, valCol,
        k = QuantileStore.kOf(spark, name), keepParams = true)
    }
    // the sample family refits only the groups its pending departed
    // ids touch (group-pruned, not a full rebuild — refitStale reads
    // live once and rewrites only hit groups)
    sampleStore.foreach { case (name, grpCol, weightCol) =>
      if (stale(name))
        SampleStore.refitStale(spark, name, live, grpCol, idCol, weightCol)
    }
  }

  /** The standing pending-removal list for a signature store:
    * (id, ver_marked) marks — GENERATIONS at-or-below the mark must
    * stop rejecting now and leave physically at the next sweep. A
    * re-admitted id simply writes newer-generation rows (ver > mark),
    * which reject lookalikes immediately while the superseded
    * generation stays silenced — no unmark rewrite, and the old
    * content's signatures can no longer leak forever (they were
    * indistinguishable by id alone before rows carried generations).
    * Append-only, takedown-sized; reads fold to max(ver_marked) per id. */
  private def pendingRm(spark: SparkSession, sigName: String): DataFrame =
    if (spark.catalog.tableExists(s"${sigName}_pending_rm"))
      spark.table(s"${sigName}_pending_rm")
        .groupBy(col("id")).agg(max(col("ver_marked")).as("ver_marked"))
    else spark.range(0).select(col("id"), col("id").as("ver_marked"))

  private def markPendingRm(spark: SparkSession, sigName: String,
      ids: DataFrame, ver: Long): Unit = {
    if (!spark.catalog.tableExists(s"${sigName}_pending_rm"))
      graft.sources.Sinks.dropTable(spark, s"${sigName}_pending_rm")
    ids.select(col(ids.columns.head).cast("long").as("id")).distinct()
      .withColumn("ver_marked", lit(ver))
      .write.mode("append").format("parquet")
      .saveAsTable(s"${sigName}_pending_rm")
  }

  /** Physical signature sweep: when the pending-removal backlog passes
    * `ratio` of the store's doc count (estimated from the band-row
    * count — no distinct scan in the policy check), rewrite the store
    * minus the marked GENERATIONS (newer re-admission generations of
    * the same ids survive) and clear the list. */
  private def sweepSignatures(spark: SparkSession, sigName: String,
      bands: Int, ratio: Double): Unit = {
    if (!spark.catalog.tableExists(s"${sigName}_pending_rm")) return
    // one job, not two: pending-mark count and store band count ride a
    // single collect (r15 — the policy check runs every gated wave once
    // the pending table exists; both counts are metadata-cheap parquet
    // count(*) scans)
    val r = spark.table(s"${sigName}_pending_rm").agg(count(lit(1)).as("np"))
      .crossJoin(spark.table(s"${sigName}_bands").agg(count(lit(1)).as("nb")))
      .head()
    val nPend = r.getLong(0)
    if (nPend == 0) return
    val nDocs = math.max(1L, r.getLong(1) / math.max(1, bands))
    if (nPend.toDouble / nDocs <= ratio) return
    IngestDedup.removeSupersededFromStore(spark, sigName,
      pendingRm(spark, sigName).localCheckpoint())
    graft.sources.Sinks.dropTable(spark, s"${sigName}_pending_rm")
  }
}
