package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Signed merge into a standing COUNT table — the shared lifecycle
  * core of every count-shaped model asset (the NB classifier's
  * (label, token) counts, the trigram LM's n-gram tables): counts are
  * additive, so append is +delta, remove is −delta, and the
  * maintained table is ALGEBRAICALLY equal to a fresh count of the
  * live corpus — no tombstones, no rebuild, no approximation. The
  * q218/q219 gates pin that equality bit-for-bit.
  *
  * Fail-loud: a negative post-merge count means a removal was never
  * (fully) appended — silent model corruption. The merge asserts
  * non-negativity across ALL count columns (one model-sized action)
  * BEFORE anything is written, then drops all-zero rows, so the store
  * always equals SOME corpus's fresh count.
  *
  * Scale shape: one union + one re-aggregate + one rewrite, all of
  * MODEL size (vocab-bounded, ≪ corpus); the rewrite preserves the
  * table's bucketed layout so serving joins keep bucket-pruning. This
  * whole-table rewrite is the one layout every count store has. */
object CountStore {

  /** Validate-then-write is SPLIT so a multi-table store (NB: counts +
    * class; LM: tri + bi + uni) can validate EVERY table's merge
    * before writing ANY of them — a delta that passes one table's
    * non-negativity but fails another's must leave the whole store
    * untouched, not half-written. [[prepareSigned]] settles and
    * validates; [[write]] commits. */
  def prepareSigned(table: String, delta: DataFrame, keyCols: Seq[String],
      cntCols: Seq[String], sign: Long): DataFrame = {
    val spark = delta.sparkSession
    require(spark.catalog.tableExists(table),
      s"count store table '$table' does not exist — run initStore before " +
        "appendDocs/removeDocs (merges fold into a standing model)")
    val signed = delta.select(
      keyCols.map(col) ++ cntCols.map(c => (col(c) * sign).as(c)): _*)
    val merged = spark.table(table)
      .unionByName(signed)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(cntCols.head)).as(cntCols.head),
        cntCols.tail.map(c => sum(col(c)).as(c)): _*)
      .localCheckpoint() // settle BEFORE overwriting what we read
    val neg = merged.filter(
      cntCols.map(c => col(c) < 0).reduce(_ || _)).count()
    require(neg == 0,
      s"$table: $neg rows went negative — the removal was never " +
        "(fully) appended; store unchanged, nothing written")
    merged.filter(cntCols.map(c => col(c) =!= 0).reduce(_ || _))
  }

  /** Commit a prepared frame. Buckets > 0 rewrites bucketed by
    * `bucketCols`; 0 writes plain. */
  def write(table: String, live: DataFrame, buckets: Int,
      bucketCols: Seq[String]): Unit =
    if (buckets > 0)
      graft.sources.Sinks.parquetBucketed(live, table, buckets,
        bucketCols, bucketCols)
    else graft.sources.Sinks.parquetTable(live, table)

  /** Single-table convenience: prepare + write. */
  def mergeSigned(table: String, delta: DataFrame, keyCols: Seq[String],
      cntCols: Seq[String], sign: Long, buckets: Int,
      bucketCols: Seq[String]): Unit =
    write(table, prepareSigned(table, delta, keyCols, cntCols, sign),
      buckets, bucketCols)

  // ---- torn-write marker + streaming idempotence ledger ----
  // A count-store commit spans several table rewrites; a crash between
  // them leaves tables from two model states. The Bm25 discipline
  // generalized: a plain warehouse marker file goes down before the
  // first write and up after the last — every serve and every merge
  // refuses a marked store LOUDLY (rebuild via initStore), so a torn
  // commit can never silently serve, and a re-delivered streaming
  // batch can never silently double-count (either its ledger row
  // committed, or the marker is still down). Exactly-once OR loud.

  private[graft] def marker(spark: org.apache.spark.sql.SparkSession,
      name: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      name.toLowerCase(java.util.Locale.ROOT) + "__building")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def setBuilding(spark: org.apache.spark.sql.SparkSession,
      name: String, on: Boolean): Unit = {
    val (fs, p) = marker(spark, name)
    if (on) fs.create(p, true).close()
    else fs.delete(p, false)
  }

  /** Is the torn-write marker currently down? Used by recovery paths
    * that can PROVE the prior commit completed (its ledger row exists)
    * and may therefore clear the marker instead of demanding a
    * rebuild. */
  private[graft] def isBuilding(spark: org.apache.spark.sql.SparkSession,
      name: String): Boolean = {
    val (fs, p) = marker(spark, name)
    fs.exists(p)
  }

  /** Refuses a torn store (marker down) and a store still in the
    * removed prefix-partitioned layout, which declared itself in a
    * `<name>_layout` table: its tables carry a hash-prefix partition
    * column that the merges and serves do not expect. */
  def requireServable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    val (fs, p) = marker(spark, name)
    require(!fs.exists(p),
      s"count store '$name': a commit is in progress or was interrupted " +
        s"(marker $p present) — rebuild via initStore")
    val layout = s"${name}_layout"
    require(!spark.catalog.tableExists(layout) &&
      !fs.exists(new org.apache.hadoop.fs.Path(p.getParent,
        layout.toLowerCase(java.util.Locale.ROOT))),
      s"count store '$name' was written in the removed prefix-partitioned " +
        s"layout ($layout present) — rebuild it with initStore")
  }

  /** Drop a leftover `<name>_layout` declaration — every initStore and
    * mergeStores writes a fresh plain store, so this is the repair
    * path for a store [[requireServable]] refuses. */
  private[operators] def dropLayout(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.Sinks.dropTable(spark, s"${name}_layout")

  /** Apply a streaming micro-batch's writes EXACTLY ONCE (or fail
    * loud): skip if `batchId` is already in `<name>_applied`;
    * otherwise run `writes` and the ledger insert inside one marker
    * window. Validation (prepareSigned) belongs OUTSIDE — a rejected
    * delta must leave the store serveable. Returns whether the batch
    * was applied (false = known-duplicate delivery, skipped). */
  /** Has `batchId` already committed to `<name>_applied`? */
  def alreadyApplied(spark: org.apache.spark.sql.SparkSession,
      name: String, batchId: Long): Boolean = {
    recoverLedgerCompact(spark, name)
    val ledger = s"${name}_applied"
    spark.catalog.tableExists(ledger) &&
      !spark.table(ledger).filter(col("batch_id") === batchId).isEmpty
  }

  def applyOnce(spark: org.apache.spark.sql.SparkSession, name: String,
      batchId: Long)(writes: => Unit): Boolean = {
    requireServable(spark, name)
    if (alreadyApplied(spark, name, batchId)) false
    else {
      setBuilding(spark, name, on = true)
      writes
      markApplied(spark, name, batchId)
      setBuilding(spark, name, on = false)
      true
    }
  }

  /** Commit `batchId` to the `<name>_applied` ledger — the closing
    * half of an exactly-once window for callers that must open the
    * marker EARLIER than [[applyOnce]] would (the gated-batch fold
    * opens it before the text index mutates, so a tear anywhere in
    * the composed batch is loud). */
  private[graft] def markApplied(spark: org.apache.spark.sql.SparkSession,
      name: String, batchId: Long): Unit = {
    import spark.implicits._
    Seq(batchId).toDF("batch_id")
      .write.mode("append").format("parquet").saveAsTable(s"${name}_applied")
  }

  /** A rebuild resets stream state: drop the idempotence ledger so a
    * re-seeded store does not skip batches meant for the new model.
    * Also clears any in-flight compact state (staging + marker) — the
    * rebuild supersedes whatever the torn compact was preserving. */
  private[operators] def dropLedger(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.Sinks.dropTable(spark, s"${name}_applied")
    graft.sources.Sinks.dropTable(spark, s"${name}_applied__staging")
    setBuilding(spark, ledgerCompactMarker(name), on = false)
  }

  /** The append-mode ledger grows ONE FILE PER BATCH — a week-long
    * minutely stream is ~10k tiny files and every `alreadyApplied`
    * probe lists them all. Compaction rewrites the ledger as a single
    * file under the same marker discipline as a model commit (a torn
    * ledger rewrite must refuse to serve, or a lost batch id would
    * re-admit a duplicate silently). Run it on the maintenance cadence
    * of any log-structured store here (FreqStream's compact, Bm25's
    * compactIndex); skip-behavior is unchanged — specced. */
  /** Priced trigger for [[compactLedger]] — the CorpusLog.maybeCompact
    * discipline applied to the ledger: a driver-side file listing (no
    * job), compact only past the backlog threshold. Wired into the
    * gated fold's closeFold (r13) so a long-lived stream's ledger
    * stops degrading every alreadyApplied probe; callers on their own
    * cadence can still call [[compactLedger]] directly. */
  def maybeCompactLedger(spark: org.apache.spark.sql.SparkSession,
      name: String, maxFiles: Int = 64): Unit = {
    recoverLedgerCompact(spark, name)
    val ledger = s"${name}_applied"
    if (spark.catalog.tableExists(ledger) &&
        spark.table(ledger).inputFiles.length > maxFiles)
      compactLedger(spark, name)
  }

  /** The exactly-once ledger is load-bearing state: losing it makes
    * the next stream delivery demand a full rebuild. So the rewrite
    * runs under the CorpusLog.compact discipline (r13 advice, low),
    * not the fold's shared `__building` marker with in-memory ids:
    * the distinct ids land in a DURABLE staging table first, then the
    * swap (drop + recreate-from-staging) runs under its own
    * `_applied__compact` marker, and [[recoverLedgerCompact]] —
    * wired into every ledger entry point — replays a torn swap
    * idempotently from staging (the swap is a pure function of
    * staging, so replay is safe from any crash point). */
  def compactLedger(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    recoverLedgerCompact(spark, name)
    val ledger = s"${name}_applied"
    if (spark.catalog.tableExists(ledger)) {
      requireServable(spark, name)
      val staging = s"${ledger}__staging"
      graft.sources.Sinks.dropTable(spark, staging)
      // staging is written IN FULL before the marker goes down
      spark.table(ledger).distinct().coalesce(1)
        .write.mode("overwrite").format("parquet").saveAsTable(staging)
      setBuilding(spark, ledgerCompactMarker(name), on = true)
      graft.sources.Sinks.dropTable(spark, ledger)
      spark.table(staging).write.mode("append").format("parquet")
        .saveAsTable(ledger)
      graft.sources.Sinks.dropTable(spark, staging)
      setBuilding(spark, ledgerCompactMarker(name), on = false)
    }
  }

  private def ledgerCompactMarker(name: String) = s"${name}_applied__compact"

  /** Heal a ledger swap the compact marker proves was torn — the
    * CorpusLog.recoverCompact shape on the `_applied` ledger. One
    * fs.exists on the hot path; the heal body only runs after a real
    * crash. */
  private def recoverLedgerCompact(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    if (isBuilding(spark, ledgerCompactMarker(name))) {
      val ledger = s"${name}_applied"
      val staging = s"${ledger}__staging"
      if (spark.catalog.tableExists(staging)) {
        graft.sources.Sinks.dropTable(spark, ledger)
        spark.table(staging).write.mode("append").format("parquet")
          .saveAsTable(ledger)
        graft.sources.Sinks.dropTable(spark, staging)
        setBuilding(spark, ledgerCompactMarker(name), on = false)
      } else if (spark.catalog.tableExists(ledger)) {
        // swap completed; only the marker lift was lost
        setBuilding(spark, ledgerCompactMarker(name), on = false)
      } else {
        throw new IllegalStateException(
          s"count store '$name': ledger-compact marker is down but " +
            "neither the ledger nor its staging copy exists — rebuild " +
            "the store via initStore (stream state is lost)")
      }
    }
  }

  // ---- staleness ledger (deferred union-only takedowns) ----
  // The union-only sketch families (HLL, MG, KLL) cannot subtract a
  // departure in place; their takedown semantics is a re-init over the
  // live corpus. Firing that re-init PER DEPARTURE BATCH makes a
  // trickle of takedowns cost one corpus pass each (the r11 verdict's
  // top item) — so the fold can instead MARK the store stale and let
  // the re-init fire once the backlog crosses a declared bound (the
  // CorpusLog-compaction discipline). While stale, served estimates
  // may still count the pending departures — the ledger records how
  // many batches and documents are pending so a consumer can decide
  // to refresh first; [[describe]] surfaces it as `stale_batches`.

  /** Record one departure batch (`nGone` departing docs) against the
    * store's staleness backlog. Append-only, one tiny row per batch. */
  private[graft] def markStale(spark: org.apache.spark.sql.SparkSession,
      name: String, nGone: Long): Unit =
    spark.range(1)
      .select(lit(1L).as("batches"), lit(nGone).as("docs"))
      .write.mode("append").format("parquet").saveAsTable(s"${name}_stale")

  /** (pending departure batches, pending departed docs) — (0, 0) when
    * the store is fresh. Backlog-sized read. */
  def stalePending(spark: org.apache.spark.sql.SparkSession,
      name: String): (Long, Long) =
    if (!spark.catalog.tableExists(s"${name}_stale")) (0L, 0L)
    else {
      val r = spark.table(s"${name}_stale")
        .agg(coalesce(sum(col("batches")), lit(0L)),
          coalesce(sum(col("docs")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

  /** The serve-with-staleness-bound gate (r12 verdict #4): a consumer
    * used to have to KNOW to check `stale_batches` before trusting a
    * served estimate under the deferral. This makes the guarantee a
    * one-call contract — if the pending backlog exceeds `maxStale`
    * departure batches, run `refresh` (typically a closure over
    * [[graft.streaming.IndexMaintenance.refreshCountStores]]) first,
    * and fail LOUD if it did not settle this store (a refresh thunk
    * not wired to this store would otherwise serve silently stale
    * under a face named "guaranteed"). maxStale = 0 = never serve
    * stale. Backlog-sized reads only; a fresh store never pays the
    * refresh.
    *
    * Evaluation-time contract (r13 advice, low): the bound is checked
    * AT CALL TIME and the serve faces return lazy DataFrames — a
    * departure marked between this check and the frame's evaluation
    * is not re-checked. This is sound, not just documented-away: a
    * mark-stale never mutates the served tables (it only appends to
    * the backlog ledger), and the only table swap a concurrent
    * maintenance pass can perform is a REFRESH — so a late evaluation
    * reads data that is the same as, or fresher than, what a call-time
    * localCheckpoint would have pinned. The staleness NUMBER can grow
    * after the check; the CONTENT served never degrades past it. The
    * count-model maintenance schedule is single-driver by design
    * (folds and refits run as driver-side calls), so callers wanting
    * a hard call-time snapshot can localCheckpoint the returned
    * frame themselves. */
  private[graft] def serveWithin(spark: org.apache.spark.sql.SparkSession,
      name: String, maxStale: Int, refresh: () => Unit): Unit = {
    require(maxStale >= 0, s"maxStale must be >= 0, got $maxStale")
    if (stalePending(spark, name)._1 > maxStale) {
      refresh()
      val still = stalePending(spark, name)._1
      require(still <= maxStale,
        s"count store '$name': $still departure batches still pending " +
          "after the refresh — the refresh thunk does not cover this store")
    }
  }

  /** Federation × staleness (r13 advice, medium): a federated merge
    * must not LAUNDER staleness — merging a side with pending deferred
    * takedowns used to clearStale the output, so departed docs were
    * baked into the merged counters while `stale_batches` read 0,
    * silently dropping the visible-staleness contract serveWithin
    * relies on. Contract now: **the merged store INHERITS the union
    * backlog** — both sides' `_stale` ledgers are summed into `out`'s,
    * so describe(out).stale_batches = a's + b's and a maxStale-bounded
    * serve on the merged store refreshes (or fails loud) exactly as it
    * would have on the stale side. Fresh ⊕ fresh still yields a fresh
    * store; the id-ledger families (sample) additionally union their
    * `_stale_ids`. The union is settled (localCheckpoint) before
    * `out`'s ledger drops, so merging INTO one of the sides is safe. */
  private[operators] def mergeStale(spark: org.apache.spark.sql.SparkSession,
      a: String, b: String, out: String): Unit = {
    val union = Seq(a, b).map(n => s"${n}_stale")
      .filter(spark.catalog.tableExists)
      .map(spark.table)
      .reduceOption(_.unionByName(_)).map(_.localCheckpoint())
    clearStale(spark, out)
    union.foreach(_.write.mode("append").format("parquet")
      .saveAsTable(s"${out}_stale"))
  }

  /** Clear the backlog — called by the re-init that settled it. Every
    * family that can MARK stale clears here on initStore (HLL / MG /
    * KLL directly; the sample store via its clearStaleAll, which also
    * drops its `_stale_ids` id ledger), so a rebuild always starts
    * fresh. NB/LM never mark stale (their takedowns subtract exactly
    * in place), so their init paths have nothing to clear (r12
    * advice). */
  private[graft] def clearStale(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.Sinks.dropTable(spark, s"${name}_stale")

  /** (metric, value) introspection report: one UNION of 1-row
    * aggregates over the named tables (metric → (table, aggregate)),
    * plus `applied_batches` from the streaming ledger (0 when no
    * stream ever fed the store) and `stale_batches` from the
    * staleness ledger. Declarative end to end — the Bm25.describeIndex
    * shape for count stores. */
  private[operators] def describe(spark: org.apache.spark.sql.SparkSession,
      name: String, metrics: Map[String, (String, Column)]): DataFrame = {
    requireServable(spark, name)
    val rows = metrics.toSeq.sortBy(_._1).map { case (m, (table, agg)) =>
      spark.table(table).agg(agg.cast("long").as("value"))
        .select(lit(m).as("metric"), col("value"))
    }
    def oneRow(metric: String, table: String, agg: Column) =
      (if (spark.catalog.tableExists(table))
        spark.table(table).agg(agg.cast("long").as("value"))
      else spark.range(1).agg(lit(0L).as("value")))
        .select(lit(metric).as("metric"), col("value").cast("long"))
    val ledger = oneRow("applied_batches", s"${name}_applied", count(lit(1)))
    val stale = oneRow("stale_batches", s"${name}_stale",
      coalesce(sum(col("batches")), lit(0L)))
    (rows :+ ledger :+ stale).reduce(_.unionByName(_)).orderBy(col("metric"))
  }
}
