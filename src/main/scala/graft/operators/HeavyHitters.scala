package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STANDING HEAVY-HITTERS SKETCHES — per-group Misra-Gries summaries
  * (Misra & Gries 1982; the merge is the mergeable-summaries form of
  * Agarwal et al. 2012: add counters pointwise, subtract the
  * (k+1)-th largest, keep positives) maintained across ingest waves
  * under the CountStore lifecycle (`__building` marker, `_applied`
  * ledger, fail-loud serve guard — the NbStore/SketchStore
  * discipline).
  *
  * Why this is the 100 TB shape for "top n-grams per domain" (the
  * q139 decontamination path's feed): exact per-group item counts
  * need state proportional to the DISTINCT ITEMS — corpus-scale for
  * n-grams; the MG summary keeps at most k counters per group —
  * state proportional to GROUPS — and maintenance is one
  * batch-counts + store union, re-sum, compress pass per wave, never
  * a corpus re-scan. Guarantees (deterministic, not probabilistic):
  * every stored estimate UNDERCOUNTS (est ≤ true), the undercount is
  * bounded by n_grp/(k+1) (n_grp = the group's total item count,
  * tracked exactly in `<name>_hh_n`), and therefore every item whose
  * true count exceeds n_grp/(k+1) is guaranteed present — no false
  * dropouts among the true heavies. When a group's distinct items
  * never exceed k, compression never fires and the summary IS the
  * exact count table (the q247 exact leg rides this).
  *
  * All arithmetic is integer and deterministic — the q246 gate pins
  * the guarantees as in-engine bits against an exact fixture-scale
  * recompute, and q247 hash-matches the uncompressed serve against a
  * full DuckDB oracle.
  *
  * Store layout: `<name>_hh` (grp string, item string, cnt long —
  * ≤ k rows per group), `<name>_hh_n` (grp, n, d — n the exact
  * additive item total; d the EXACT cumulative compress offset, the
  * true MG error bound: every tracked estimate undercounts by at most
  * d, and Σ offsets ≤ n/(k+1) whenever no removal ever ran, so d is
  * always at least as tight as the classic envelope),
  * `<name>_hh_params` (k).
  *
  * TAKEDOWN (round-12): MG counters are not invertible in general —
  * but a departure whose items are ALL absent from the group's
  * summary provably cannot change it (tracked items' true counts are
  * untouched; untracked items' true counts only shrink below the d
  * they were already under), so [[removeDocsExact]] handles that case
  * with one exact n subtraction and NO corpus pass. The d bound stays
  * valid across such removals — which is exactly why the serve
  * envelope uses d, not n/(k+1): n shrinks on removal, d does not,
  * and the classic n-based bound silently under-covers after one.
  * A departure touching a TRACKED item still needs the union-only
  * clause ([[initStore]] over the retained corpus — immediate or
  * deferred via the fold's staleness backlog). */
object HhStore {

  /** Sketch the corpus fresh into `_hh`, `_hh_n` and `_hh_params`;
    * every merge rewrites the whole groups-sized tables. A rebuild is
    * also the repair path for a torn or refused store. */
  def initStore(items: DataFrame, name: String, grpCol: String,
      itemCol: String, k: Int): Unit = {
    require(k > 0, s"k must be positive, got $k")
    val spark = items.sparkSession
    CountStore.setBuilding(spark, name, on = true)
    CountStore.dropLedger(spark, name)
    CountStore.clearStale(spark, name)
    CountStore.dropLayout(spark, name)
    val c = counts(items, grpCol, itemCol).localCheckpoint()
    val (hh, off) = compressWithOffsets(c, k)
    val n = c.groupBy(col("grp")).agg(sum(col("cnt")).as("n"))
      .join(off, Seq("grp"), "left")
      .select(col("grp"), col("n"),
        coalesce(col("__off"), lit(0L)).as("d"))
    // three disjoint output tables from settled/pinned inputs — write
    // them concurrently (r14, guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetTable(hh, s"${name}_hh"),
      () => graft.sources.Sinks.parquetTable(n, s"${name}_hh_n"),
      () => graft.sources.Sinks.parquetTable(
        spark.range(1).select(lit(k).as("k")), s"${name}_hh_params"))
    CountStore.setBuilding(spark, name, on = false)
  }

  /** One wave: exact-count the batch per (grp, item), add into the
    * stored counters, re-compress to k per group; the group totals
    * fold additively (exact). Returns false on a re-delivered batch
    * id. */
  def applyBatch(batch: DataFrame, name: String, grpCol: String,
      itemCol: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    if (CountStore.alreadyApplied(spark, name, batchId)) false
    else {
      val (merged, n) = mergedWith(batch, name, grpCol, itemCol)
      CountStore.applyOnce(spark, name, batchId) {
        writeTables(name, merged, n)
      }
    }
  }

  /** Ledger-FREE merge — the admission fold's put-side op (the fold
    * carries its own batch ledger). */
  def mergeDocs(batch: DataFrame, name: String, grpCol: String,
      itemCol: String): Unit = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    val (merged, n) = mergedWith(batch, name, grpCol, itemCol)
    writeTables(name, merged, n)
  }

  private def writeTables(name: String, merged: DataFrame,
      n: DataFrame): Unit =
    // both frames are checkpoint-settled by mergedWith; the two tables
    // are disjoint — overwrite them concurrently (r14, guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetTable(merged, s"${name}_hh"),
      () => graft.sources.Sinks.parquetTable(n, s"${name}_hh_n"))

  /** The wave merge: batch counts added into the stored counters,
    * re-compressed, with the group totals folded alongside. */
  private def mergedWith(batch: DataFrame, name: String, grpCol: String,
      itemCol: String): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val k = kOf(spark, name)
    val bc = counts(batch, grpCol, itemCol).localCheckpoint()
    val (merged0, off) = compressWithOffsets(
      spark.table(s"${name}_hh").select(col("grp"), col("item"), col("cnt"))
        .unionByName(bc)
        .groupBy(col("grp"), col("item"))
        .agg(sum(col("cnt")).as("cnt")), k)
    // n folds additively; d grows by THIS compress's offset (the
    // mergeable-summaries bound: d_merged = d_old + o_merge; the
    // batch side is a fresh exact count, so its own d is 0).
    // Both settles read only the standing tables + the pinned batch
    // counts — independent, so they overlap (r14, guide §2.6; the
    // shared compress subtree evaluates on each side, same total work
    // as the sequential settles, half the wall).
    val Seq(merged, n) = graft.util.Par.eval(Seq(
      () => merged0.localCheckpoint(), // settle BEFORE overwriting what we read
      () => spark.table(s"${name}_hh_n")
        .unionByName(bc.groupBy(col("grp")).agg(sum(col("cnt")).as("n"))
          .withColumn("d", lit(0L)))
        .groupBy(col("grp")).agg(sum(col("n")).as("n"), sum(col("d")).as("d"))
        .join(off, Seq("grp"), "left")
        .select(col("grp"), col("n"),
          (col("d") + coalesce(col("__off"), lit(0L))).as("d"))
        .localCheckpoint()))
    (merged, n)
  }

  /** EXACT takedown for departures whose items are all untracked: if
    * any departing (grp, item) is present in the summary, does nothing
    * and returns false (the caller falls back to the union-only
    * re-init clause); otherwise subtracts the departing counts from
    * the exact group totals — a groups-sized write, no corpus pass —
    * and returns true. Soundness (specced): tracked items' true
    * counts are untouched, so est ≤ true and undercount ≤ d survive;
    * an untracked item's true count only shrinks, so it stays under
    * d; hence every item with true > d is still present. d itself is
    * NOT reduced (the decrements it records already happened). */
  def removeDocsExact(items: DataFrame, name: String, grpCol: String,
      itemCol: String): Boolean = {
    val spark = items.sparkSession
    CountStore.requireServable(spark, name)
    val bc = counts(items, grpCol, itemCol).localCheckpoint()
    val touchesTracked = !bc
      .join(spark.table(s"${name}_hh").select(col("grp"), col("item")),
        Seq("grp", "item"), "left_semi")
      .isEmpty
    if (touchesTracked) false
    else {
      val n = spark.table(s"${name}_hh_n")
        .unionByName(bc.groupBy(col("grp"))
          .agg((-sum(col("cnt"))).as("n")).withColumn("d", lit(0L)))
        .groupBy(col("grp")).agg(sum(col("n")).as("n"), sum(col("d")).as("d"))
        .localCheckpoint()
      val neg = n.filter(col("n") < 0).count()
      require(neg == 0,
        s"$name: $neg group totals went negative — a departure was " +
          "removed that was never added; store unchanged")
      graft.sources.Sinks.parquetTable(n, s"${name}_hh_n")
      true
    }
  }

  /** FEDERATED store merge (round 13): combine two STANDING stores
    * into a third with NO corpus read anywhere — the mergeable-
    * summaries property (Agarwal et al. 2012) lifted from batch⊕store
    * to store⊕store. The 100 TB shape this exists for: two crawls
    * sketched on two clusters (or two time windows sketched on two
    * cadences) meet at a coordinator as groups-sized tables; the merge
    * is counter-pointwise addition + one compress — never a re-scan
    * of either corpus. Guarantees compose exactly as the fold's wave
    * merge: n_c = n_a + n_b (exact), d_c = d_a + d_b + o_merge (every
    * estimate in the merged summary undercounts its true union count
    * by at most d_c), and when k covers the union's distinct items no
    * compress fires, so the merged store IS the exact union count
    * table (the q258 gate rides this regime under a full DuckDB
    * oracle). Staleness contract (r13 advice, medium): the merged
    * store INHERITS the union of both sides' pending-departure
    * backlogs ([[CountStore.mergeStale]]) — a stale side cannot
    * launder its backlog through a merge; serve the merged store
    * through a maxStale face to force the settle.
    * Sides must share k — a mixed-k merge would need the
    * looser k to bound both sides and silently weaken the tighter
    * side's declared envelope; loud beats subtle. */
  def mergeStores(spark: SparkSession, a: String, b: String,
      out: String): Unit = {
    CountStore.requireServable(spark, a)
    CountStore.requireServable(spark, b)
    require(out != a && out != b,
      s"mergeStores: output '$out' must be a third store — merging " +
        "into a side would overwrite tables while reading them")
    val (ka, kb) = (kOf(spark, a), kOf(spark, b))
    require(ka == kb,
      s"mergeStores: k differs ($a has $ka, $b has $kb) — summaries " +
        "with different compression bounds do not merge soundly")
    CountStore.setBuilding(spark, out, on = true)
    CountStore.dropLedger(spark, out)
    CountStore.mergeStale(spark, a, b, out)
    CountStore.dropLayout(spark, out)
    // legacy (pre-d) side: bake the classic floor(n/(k+1)) in as its d
    // — valid there by the topHitters argument (no removal ever ran on
    // a d-less store), and a sum of valid bounds is a valid bound
    def sideN(t: String) = {
      val df = spark.table(t)
      if (df.columns.contains("d")) df
      else df.withColumn("d", floor(col("n") / (ka + 1)).cast("long"))
    }
    val summed = spark.table(s"${a}_hh").unionByName(spark.table(s"${b}_hh"))
      .groupBy(col("grp"), col("item"))
      .agg(sum(col("cnt")).as("cnt"))
    val (hh, off) = compressWithOffsets(summed, ka)
    val n = sideN(s"${a}_hh_n").unionByName(sideN(s"${b}_hh_n"))
      .groupBy(col("grp")).agg(sum(col("n")).as("n"), sum(col("d")).as("d"))
      .join(off, Seq("grp"), "left")
      .select(col("grp"), col("n"),
        (col("d") + coalesce(col("__off"), lit(0L))).as("d"))
    // disjoint outputs — overlap the three writes (r14, guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetTable(hh, s"${out}_hh"),
      () => graft.sources.Sinks.parquetTable(n, s"${out}_hh_n"),
      () => graft.sources.Sinks.parquetTable(
        spark.range(1).select(lit(ka).as("k")), s"${out}_hh_params"))
    CountStore.setBuilding(spark, out, on = false)
  }

  def maintainStream(items: DataFrame, name: String, grpCol: String,
      itemCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    items.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          applyBatch(batch, name, grpCol, itemCol, batchId); ()
        }
      }

  /** Serve the top `n` heavies per group with the per-item error
    * envelope: est ≤ true ≤ est + d, where d is the exactly-tracked
    * cumulative compress offset — always ≤ the classic
    * floor(n_grp/(k+1)) bound (Σ offsets removes ≥ (k+1)·offset of
    * counted mass each compress), and unlike it STAYS valid after
    * [[removeDocsExact]] shrank n. Store-sized.
    *
    * Pre-r12 warehouses: a `_hh_n` table written before d tracking
    * landed has no d column — serve the classic floor(n/(k+1))
    * envelope instead of an unresolved-column AnalysisException (r12
    * advice, low). That bound is valid there by construction: a
    * d-less store predates [[removeDocsExact]], so no removal ever
    * shrank its n. */
  def topHitters(spark: SparkSession, name: String, n: Int): DataFrame = {
    CountStore.requireServable(spark, name)
    val nTbl = spark.table(s"${name}_hh_n")
    val envelope =
      if (nTbl.columns.contains("d")) col("d")
      else floor(col("n") / (kOf(spark, name) + 1)).cast("long")
    graft.plans.TopKPerKey.rankedTopKMulti(
        spark.table(s"${name}_hh").withColumn("__neg", -col("cnt")),
        Seq("grp"), Seq("__neg", "item"), n)
      .drop("__neg")
      .join(nTbl, Seq("grp"))
      .select(col("grp"), col("rank"), col("item"), col("cnt"),
        (col("cnt") + envelope).as("cnt_hi"))
  }

  /** Serve-with-staleness-bound (r12 verdict #4): refresh-then-serve
    * when the deferred-takedown backlog exceeds `maxStale` batches —
    * the one-call form of "check `stale_batches`, maybe
    * [[graft.streaming.IndexMaintenance.refreshCountStores]], then
    * serve". */
  def topHitters(spark: SparkSession, name: String, n: Int, maxStale: Int,
      refresh: () => Unit): DataFrame = {
    CountStore.serveWithin(spark, name, maxStale, refresh)
    topHitters(spark, name, n)
  }

  /** HH DRIFT across two standing stores (round 14 — the
    * QuantileStore.drift twin for the heavy-hitter family, and the
    * monitoring consumer federation was built to feed): "which items
    * became heavy between crawl A and crawl B" as a groups×items-sized
    * full-outer join of two standing summaries — no corpus read on
    * either side. Per (grp, item) in the union of the tracked sets:
    * both sides' MG estimates (absence coalesces to 0 — the MG lower
    * bound; a group absent from a side truly has n = 0, so its d is
    * 0, not unknown), both totals, the signed estimate delta, and the
    * HONEST drift envelope the MG bounds compose to:
    * `delta_lo = est_b − est_a − d_a ≤ true_b − true_a ≤
    * est_b − est_a + d_b = delta_hi` (est ≤ true ≤ est + d per side).
    * In the exact regime (k covers distincts, d = 0 both sides) the
    * envelope collapses to the exact delta — the q262 gate rides that
    * under a full DuckDB replay. `status` marks one-sided items
    * ('new' / 'vanished' / 'both') — appearing or disappearing from a
    * tracked set IS the drift signal (the q256 discipline). Legacy
    * d-less sides serve the classic floor(n/(k+1)) envelope. */
  def drift(spark: SparkSession, nameA: String, nameB: String): DataFrame = {
    CountStore.requireServable(spark, nameA)
    CountStore.requireServable(spark, nameB)
    def hh(n: String, suf: String) = spark.table(s"${n}_hh")
      .select(col("grp"), col("item"), col("cnt").as(s"cnt$suf"))
    def nd(n: String, suf: String) = {
      val t = spark.table(s"${n}_hh_n")
      val d = if (t.columns.contains("d")) col("d")
        else floor(col("n") / (kOf(spark, n) + 1)).cast("long")
      t.select(col("grp"), col("n").as(s"n$suf"), d.as(s"d$suf"))
    }
    hh(nameA, "_a").join(hh(nameB, "_b"), Seq("grp", "item"), "full_outer")
      .join(nd(nameA, "_a"), Seq("grp"), "left")
      .join(nd(nameB, "_b"), Seq("grp"), "left")
      .select(col("grp"), col("item"),
        coalesce(col("cnt_a"), lit(0L)).as("est_a"),
        coalesce(col("cnt_b"), lit(0L)).as("est_b"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        (coalesce(col("cnt_b"), lit(0L)) -
          coalesce(col("cnt_a"), lit(0L))).as("delta_est"),
        (coalesce(col("cnt_b"), lit(0L)) - coalesce(col("cnt_a"), lit(0L)) -
          coalesce(col("d_a"), lit(0L))).as("delta_lo"),
        (coalesce(col("cnt_b"), lit(0L)) - coalesce(col("cnt_a"), lit(0L)) +
          coalesce(col("d_b"), lit(0L))).as("delta_hi"),
        when(col("cnt_a").isNull, lit("new"))
          .when(col("cnt_b").isNull, lit("vanished"))
          .otherwise(lit("both")).as("status"))
  }

  /** Operational introspection (the describeStore discipline). */
  def describeStore(spark: SparkSession, name: String): DataFrame =
    CountStore.describe(spark, name, Map(
      "n_counters" -> (s"${name}_hh", count(lit(1))),
      "n_groups" -> (s"${name}_hh_n", count(lit(1))),
      "n_items_total" -> (s"${name}_hh_n", coalesce(sum(col("n")), lit(0L))),
      "k" -> (s"${name}_hh_params", sum(col("k")))))

  private[graft] def kOf(spark: SparkSession, name: String): Int =
    spark.table(s"${name}_hh_params").head().getAs[Int]("k")

  private def counts(df: DataFrame, grpCol: String, itemCol: String): DataFrame =
    df.select(col(grpCol).cast("string").as("grp"),
        col(itemCol).cast("string").as("item"))
      .groupBy(col("grp"), col("item"))
      .agg(count(lit(1)).as("cnt"))

  /** The MG compress: subtract each group's (k+1)-th largest counter
    * from every counter, keep positives — at most k survive. The
    * (k+1)-rank runs through the heap-pruned TopKPerKey operator
    * (O(items log k), only k+1 rows per group survive the shuffle —
    * never a full per-group sort), then one groups-sized join back;
    * ties break on item so the state is deterministic (and therefore
    * oracle-able). Also returns the per-group offsets (grp, __off;
    * groups that never compressed are absent) — the exact error-bound
    * increments the d tracking folds. */
  private[operators] def compressWithOffsets(c: DataFrame,
      k: Int): (DataFrame, DataFrame) = {
    val ranked = graft.plans.TopKPerKey.rankedTopKMulti(
        c.withColumn("__neg", -col("cnt")), Seq("grp"),
        Seq("__neg", "item"), k + 1)
      .drop("__neg")
    val offsets = ranked.filter(col("rank") === k + 1)
      .select(col("grp"), col("cnt").as("__off"))
    (ranked.filter(col("rank") <= k)
      .join(offsets, Seq("grp"), "left")
      .select(col("grp"), col("item"),
        (col("cnt") - coalesce(col("__off"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0), offsets)
  }

  private[operators] def compress(c: DataFrame, k: Int): DataFrame =
    compressWithOffsets(c, k)._1
}
