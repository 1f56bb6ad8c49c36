package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** STANDING QUANTILE SKETCHES — per-group KLL (Karnin-Lang-Liberty
  * 2016, via the native [[graft.functions.KllSketchAgg]] family)
  * maintained across ingest waves under the CountStore lifecycle:
  * the distribution-drift twin of [[SketchStore]] (distinct counts →
  * HLL; length/score DISTRIBUTIONS → KLL). "Has the p95 document
  * length of domain X moved this week?" is a groups-sized read of a
  * standing table instead of a corpus-scale percentile job —
  * [[Drift.scala]]'s surface consumes exactly this shape.
  *
  * Why a sketch store is the 100 TB shape for quantiles: exact
  * percentiles need a per-group SORT of the data (corpus-scale every
  * time the question is asked); the KLL summary keeps O(k) values per
  * group, maintenance is one partial-agg pass + a groups-sized merge
  * per wave, and any rank query answers within the published ε(k)
  * envelope (~1.65% at k=200, 99% confidence). KLL merge is exactly
  * the operation Spark's partial aggregation already performs on the
  * per-partition sketches, so the wave split is the same operation at
  * a coarser grain — but NOT bit-deterministic (KLL compaction
  * coin-flips), so gates pin realized rank error against exact
  * recomputes (the declared statistical-oracle policy), while the
  * tracked item counts (`kll_n`) stay EXACT and hash-gateable.
  *
  * Store layout: `<name>_kll` (grp string, sk binary — one row per
  * group), `<name>_kll_params` (k). TAKEDOWN LIMITATION (stated, the
  * SketchStore clause): KLL summaries are union-only — takedown
  * semantics = [[initStore]] over the retained corpus. */
object QuantileStore {

  /** Column faces of the native KLL expressions (usable in any
    * DataFrame aggregation; SQL faces are registered by
    * GraftSession.registerFunctions). */
  def kllSketchAgg(c: Column, k: Int = 200): Column =
    GraftBridge.column(graft.functions.KllSketchAgg(
      GraftBridge.expression(c), k).toAggregateExpression())
  def kllMergeAgg(c: Column): Column =
    GraftBridge.column(graft.functions.KllMergeAgg(
      GraftBridge.expression(c)).toAggregateExpression())
  def kllQuantile(sk: Column, p: Column): Column =
    GraftBridge.column(graft.functions.KllQuantile(
      GraftBridge.expression(sk), GraftBridge.expression(p)))
  def kllN(sk: Column): Column =
    GraftBridge.column(graft.functions.KllN(GraftBridge.expression(sk)))

  /** Sketch the corpus fresh into `_kll` (one row per group) and
    * `_kll_params`; every merge rewrites the whole groups-sized table.
    * A rebuild is also the repair path for a torn or refused store.
    * `keepParams = true` (r15) skips the 1-row params rewrite — ONLY
    * for callers that read `k` from this store's own params table
    * (the fold's takedown re-init, refreshCountStores): the value is
    * identical by construction, so the write is a pure fixed-cost job
    * on every deferred-takedown settle. */
  def initStore(docs: DataFrame, name: String, grpCol: String,
      valCol: String, k: Int = 200, keepParams: Boolean = false): Unit = {
    require(k >= 8 && k <= 65535, s"k must be in [8, 65535], got $k")
    val spark = docs.sparkSession
    CountStore.setBuilding(spark, name, on = true)
    CountStore.dropLedger(spark, name)
    CountStore.clearStale(spark, name)
    CountStore.dropLayout(spark, name)
    // disjoint outputs — overlap the sketch write with the 1-row
    // params write (r14, guide §2.6)
    graft.util.Par.run(Seq(
      () => graft.sources.Sinks.parquetTable(
        sketched(docs, grpCol, valCol, k), s"${name}_kll")) ++
      (if (keepParams && spark.catalog.tableExists(s"${name}_kll_params"))
        Nil
      else Seq(() => graft.sources.Sinks.parquetTable(
        spark.range(1).select(lit(k).as("k")),
        s"${name}_kll_params"))): _*)
    CountStore.setBuilding(spark, name, on = false)
  }

  /** One wave: sketch the batch per group, merge into the store (full
    * outer union-agg keeps groups first seen in either side). Returns
    * false on a re-delivered batch id. */
  def applyBatch(batch: DataFrame, name: String, grpCol: String,
      valCol: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    if (CountStore.alreadyApplied(spark, name, batchId)) false
    else {
      val merged = mergedWith(batch, name, grpCol, valCol)
      CountStore.applyOnce(spark, name, batchId) {
        graft.sources.Sinks.parquetTable(merged, s"${name}_kll")
      }
    }
  }

  /** Ledger-FREE merge — the admission-fold-style put op. */
  def mergeDocs(batch: DataFrame, name: String, grpCol: String,
      valCol: String): Unit = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    graft.sources.Sinks.parquetTable(
      mergedWith(batch, name, grpCol, valCol), s"${name}_kll")
  }

  /** The wave merge: the batch's per-group sketches merged into the
    * stored ones, settled before the caller overwrites the store. */
  private def mergedWith(batch: DataFrame, name: String, grpCol: String,
      valCol: String): DataFrame = {
    val spark = batch.sparkSession
    val k = kOf(spark, name)
    val bc = sketched(batch, grpCol, valCol, k).localCheckpoint()
    spark.table(s"${name}_kll").unionByName(bc)
      .groupBy(col("grp"))
      .agg(kllMergeAgg(col("sk")).as("sk"))
      .localCheckpoint() // settle BEFORE overwriting what we read
  }

  /** FEDERATED store merge (round 13, the HhStore.mergeStores
    * discipline): two standing KLL stores → one via `kll_merge_agg`
    * over the groups-sized sketch tables — NO corpus read. KLL merge
    * is the same operation Spark's partial aggregation performs per
    * wave; the merged sketch's n is EXACT (n_c = n_a + n_b) and rank
    * queries keep the published ε(k) envelope (merge preserves it —
    * Karnin-Lang-Liberty 2016). Sides must share k. Staleness
    * contract (r13 advice): the merged store INHERITS the union
    * backlog ([[CountStore.mergeStale]]) — no laundering through a
    * merge. */
  def mergeStores(spark: SparkSession, a: String, b: String,
      out: String): Unit = {
    CountStore.requireServable(spark, a)
    CountStore.requireServable(spark, b)
    require(out != a && out != b,
      s"mergeStores: output '$out' must be a third store — merging " +
        "into a side would overwrite tables while reading them")
    val (ka, kb) = (kOf(spark, a), kOf(spark, b))
    require(ka == kb, s"mergeStores: k differs ($a has $ka, $b has $kb)")
    CountStore.setBuilding(spark, out, on = true)
    CountStore.dropLedger(spark, out)
    CountStore.mergeStale(spark, a, b, out)
    CountStore.dropLayout(spark, out)
    val merged = spark.table(s"${a}_kll")
      .unionByName(spark.table(s"${b}_kll"))
      .groupBy(col("grp"))
      .agg(kllMergeAgg(col("sk")).as("sk"))
    graft.sources.Sinks.parquetTable(merged, s"${out}_kll")
    graft.sources.Sinks.parquetTable(
      spark.range(1).select(lit(ka).as("k")), s"${out}_kll_params")
    CountStore.setBuilding(spark, out, on = false)
  }

  def maintainStream(docs: DataFrame, name: String, grpCol: String,
      valCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          applyBatch(batch, name, grpCol, valCol, batchId); ()
        }
      }

  /** Serve (grp, n, one column per requested percentile). Groups-sized
    * scan; n is EXACT (KLL tracks it), quantiles carry ε(k). Integer
    * percents name as `p50`; fractional ones name in basis points
    * (`p9950bp` for 0.995) — rounding fractional percents into the
    * integer namespace would COLLIDE (0.995 and 1.0 both "p100") or
    * silently mislabel (0.125 as "p13"), and a report column lying
    * about its percentile is worse than an unusual name. Duplicate
    * probs are rejected for the same reason. */
  def quantiles(spark: SparkSession, name: String,
      probs: Seq[Double]): DataFrame = {
    CountStore.requireServable(spark, name)
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probs must be in [0, 1], got $probs")
    require(probs.distinct.size == probs.size,
      s"duplicate probs: $probs")
    // tolerance-rounded integer-percent test: p = 0.29 makes p*100 =
    // 28.999999999999996, which an exact == against its round would
    // misclassify into the basis-point namespace (r11 advice); and the
    // duplicate guard must run on the DERIVED names, not the raw probs —
    // two distinct probs within 5e-5 of each other round to the same
    // basis-point name.
    val names = probs.map(quantileName)
    require(names.distinct.size == names.size,
      s"probs $probs collide in the derived column names $names — " +
        "space them at least 1 basis point apart")
    val cols = probs.zip(names).map { case (p, nm) =>
      kllQuantile(col("sk"), lit(p)).as(nm)
    }
    spark.table(s"${name}_kll")
      .select(col("grp") +: kllN(col("sk")).as("n") +: cols: _*)
  }

  /** Serve-with-staleness-bound (r12 verdict #4): refresh-then-serve
    * when the deferred-takedown backlog exceeds `maxStale` batches. */
  def quantiles(spark: SparkSession, name: String, probs: Seq[Double],
      maxStale: Int, refresh: () => Unit): DataFrame = {
    CountStore.serveWithin(spark, name, maxStale, refresh)
    quantiles(spark, name, probs)
  }

  /** The served column name for probability `p` — one place, shared
    * with [[Profile]]'s quantile columns so the two faces cannot
    * drift. */
  private[operators] def quantileName(p: Double): String = {
    val pct = p * 100
    if (math.abs(pct - math.round(pct).toDouble) < 1e-9)
      s"p${math.round(pct)}"
    else s"p${math.round(p * 10000)}bp"
  }

  /** DISTRIBUTION DRIFT across two standing quantile stores (round
    * 12 — the Drift-surface consumer the store was built to feed):
    * per group, both sides' exact n and each requested percentile,
    * plus the signed delta. "Has domain X's p95 length moved between
    * snapshot A and snapshot B?" becomes a groups-sized full-outer
    * join of two standing tables — no corpus read on either side.
    * Groups present on one side only keep the other side's columns
    * null (a new or vanished domain IS drift signal). */
  def drift(spark: SparkSession, nameA: String, nameB: String,
      probs: Seq[Double]): DataFrame = {
    val names = probs.map(quantileName)
    def side(name: String, suf: String) =
      quantiles(spark, name, probs)
        .select(col("grp") +: col("n").as(s"n$suf") +:
          names.map(nm => col(nm).as(s"$nm$suf")): _*)
    side(nameA, "_a").join(side(nameB, "_b"), Seq("grp"), "full_outer")
      .select(col("grp") +: col("n_a") +: col("n_b") +:
        names.flatMap(nm => Seq(col(s"${nm}_a"), col(s"${nm}_b"),
          (col(s"${nm}_b") - col(s"${nm}_a")).as(s"${nm}_delta"))): _*)
  }

  /** Operational introspection (the describeStore discipline). */
  def describeStore(spark: SparkSession, name: String): DataFrame =
    CountStore.describe(spark, name, Map(
      "n_groups" -> (s"${name}_kll", count(lit(1))),
      "sketch_bytes" -> (s"${name}_kll", sum(length(col("sk")))),
      "n_items_total" -> (s"${name}_kll", coalesce(sum(kllN(col("sk"))), lit(0L))),
      "k" -> (s"${name}_kll_params", sum(col("k")))))

  private[graft] def kOf(spark: SparkSession, name: String): Int =
    spark.table(s"${name}_kll_params").head().getAs[Int]("k")

  private def sketched(df: DataFrame, grpCol: String, valCol: String,
      k: Int): DataFrame =
    df.select(col(grpCol).cast("string").as("grp"),
        col(valCol).cast("double").as("v"))
      .groupBy(col("grp"))
      .agg(kllSketchAgg(col("v"), k).as("sk"))
}
