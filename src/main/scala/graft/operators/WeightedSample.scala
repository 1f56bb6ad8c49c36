package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** Deterministic weighted sampling without replacement, per key — the
  * Efraimidis–Spirakis A-ES scheme (Inf. Proc. Letters 2006): give each
  * row the key u^(1/w) for u uniform in (0, 1] and keep the k largest
  * per group. Inclusion probability is proportional to weight, and the
  * whole draw is ONE pass + a bounded per-key heap — the way a training
  * pipeline takes a length-weighted document sample per language
  * without a global sort or a sequential scan.
  *
  * Determinism: u derives from a portable integer hash (the
  * [[EpochShuffle.epochKey]] CRT two-prime construction — exact
  * integer arithmetic, identical in any engine, injective up to
  * ~4.6e18 ids so priorities never collide in blocks at corpus
  * scale), shifted off zero so pow is defined at every row. Priorities are rounded to 6 decimals
  * before ranking: Spark's java.lang.Math.pow and another engine's
  * libm may differ in the last ulp, and the round puts both on the
  * same grid (ties then break by id — total order).
  *
  * Scale: no shuffle before the heap prune — the partial TopKPerKey
  * pass cuts every map partition to k rows per key, so only
  * partitions×k rows reach the key-clustered exchange. Weights need
  * not be normalized; zero/negative weights are rejected rather than
  * silently reordered (u^(1/w) is monotone-in-u only for w > 0). */
object WeightedSample {

  /** Portable integer hash of `id` in [0, p1·p2) ≈ [0, 4.6e18) — the
    * [[EpochShuffle.epochKey]] CRT construction (epoch 0): two
    * independent multiplicative rounds modulo distinct 31-bit primes,
    * combined as k1·p2 + k2 with p1 = 2147483647, p2 = 2147483629,
    * M1 = 2654435761, M2 = 2246822519. Each round is a bijection of
    * its residue ring (gcd(M, p) = 1), so by CRT the combined key is
    * INJECTIVE over ids up to p1·p2 ≈ 4.6e18 — a true permutation
    * key at any corpus size. (The pre-round-11 mod-1000003 key had
    * only ~1e6 distinct values: at the 1e9-doc scale, priorities
    * collided in blocks and equal-weight ties fell back to
    * ascending-id order, breaking the ES inclusion-∝-weight claim.)
    * Every intermediate product is < 2^63, so the arithmetic is EXACT
    * integer math any engine mirrors without overflow hops. */
  def portableHash(id: Column): Column =
    // DELEGATED, not re-typed: the four CRT constants live in exactly
    // one home (EpochShuffle.epochKey — at epoch 0 the additive
    // shifts vanish and the construction reduces to this hash), so a
    // future constant revision cannot silently de-sync the two
    // "identical" keys and the oracles that mirror them.
    graft.operators.EpochShuffle.epochKey(id, lit(0L))

  /** Uniform in (0, p1·p2/2^62] ⊂ (0, 1) from [[portableHash]]. The
    * divisor is 2^62 — a power of two, EXACTLY representable as a
    * double in any engine — rather than p1·p2 + 1 (whose nearest
    * double is engine-parser-dependent rounding territory); the
    * ~1e-9 of unreachable headroom below 1.0 is a deterministic
    * rescale, not a bias. */
  def uniform(id: Column): Column =
    (portableHash(id) + 1) / lit(4611686018427387904.0)

  /** ES priority: u(id)^(1/w), rounded to the cross-engine grid. */
  def priority(id: Column, weight: Column): Column =
    round(pow(uniform(id), lit(1.0) / weight), 6)

  /** k rows per key, ranked 1..k by descending priority (ties by id).
    * Output = input columns + `rank`. */
  def perKey(df: DataFrame, keyCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    // u^(1/w) is monotone-in-u only for w > 0 — fail loudly, not
    // reorder silently. The assert lives INSIDE the ranking column (a
    // dropped check column would be pruned as dead code); it yields
    // null on pass, so the coalesce adds exactly 0.0.
    val guarded = -priority(col(idCol), col(weightCol)) +
      coalesce(assert_true(col(weightCol) > 0,
        lit(s"WeightedSample: $weightCol must be > 0")).cast("double"), lit(0.0))
    val withP = df.withColumn("__negp", guarded)
    val pruned = TopKPerKey.perKey(withP, Seq(keyCol), Seq("__negp", idCol), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__negp"), col(idCol))
    pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("__negp")
  }

  /** TOKEN-budget sampling per group — the data-MIXING primitive as
    * production specifies it: a training mix is "x billion tokens of
    * web, y of code, z of books", not a document count or a keep rate
    * (q49/q72 sample by docs; this samples to a token budget).
    *
    * Semantics (deterministic, engine-portable): within group g, order
    * documents by ([[portableHash]](id), id) and keep the maximal
    * prefix whose running token total stays ≤ budget(g) — i.e. keep d
    * iff cumsum(tokens) through d ≤ B_g. A pure function of
    * (ids, budgets): reproducible at any parallelism, and the kept set
    * only GROWS as the budget grows (prefix monotonicity, specced).
    *
    * Scale shape — the naive form is a per-group window cumsum, i.e. a
    * full sort of every group (one task per group at 100 TB; a "web"
    * group is most of the corpus). Instead, the hash order is split
    * into `buckets` contiguous hash ranges (bucket index = h div
    * 2^32/buckets, monotone in h, so bucket-then-hash order IS hash
    * order) and the cumsum runs at two resolutions:
    *   1. one compact (group, bucket) token aggregation — ≤
    *      groups×buckets rows, partial-agg friendly;
    *   2. a window cumsum over THAT table (tiny) marks each bucket
    *      fully-kept / straddling / dropped and computes the budget
    *      remaining at the straddle bucket's start;
    *   3. fully-kept buckets pass via a broadcast semi-join (narrow);
    *      only the ONE straddling bucket per group — 1/buckets of the
    *      group, tunable — pays a per-document cumsum window.
    * Every corpus-sized pass is narrow or a compact aggregation; the
    * exact sequential dependence is confined to data that shrinks with
    * `buckets`. */
  def tokenBudgetSample(docs: DataFrame, groupCol: String, idCol: String,
      tokensCol: Column, budgets: Map[String, Long],
      buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && 4611686018427387904L % buckets == 0,
      "buckets must divide 2^62 so every bucket has the same width")
    val spark = docs.sparkSession
    // hash keys live in [0, p1*p2) < 2^62, so index < buckets always;
    // floor(h/width) is monotone in h, so bucket-then-hash order IS
    // hash order
    val width = 4611686018427387904L / buckets
    val base = docs.select(
      col(groupCol), col(idCol),
      tokensCol.cast("long").as("__tok"),
      WeightedSample.portableHash(col(idCol)).as("__h"),
      (WeightedSample.portableHash(col(idCol)) / lit(width)).cast("long").as("__b"))
    val budgetDf = broadcast(
      spark.createDataFrame(budgets.toSeq).toDF(groupCol, "__budget"))
    // bucket-resolution cumsum: groups×buckets rows, window is cheap
    val bstats = base.groupBy(col(groupCol), col("__b"))
      .agg(sum(col("__tok")).as("__bt"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__b"))
    val marked = bstats
      .withColumn("__cum", sum(col("__bt")).over(wb))
      .join(budgetDf, groupCol)
      .withColumn("__before", col("__cum") - col("__bt"))
    val fullB = marked.filter(col("__cum") <= col("__budget"))
      .select(col(groupCol), col("__b"))
    val stradB = marked
      .filter(col("__cum") > col("__budget") && col("__before") < col("__budget"))
      .select(col(groupCol), col("__b"), (col("__budget") - col("__before")).as("__rem"))
    val keptFull = base.join(broadcast(fullB), Seq(groupCol, "__b"), "left_semi")
    // document-resolution cumsum over ONLY the straddling buckets (one
    // per group; the window partition is group-keyed and bucket-bounded)
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__h"), col(idCol))
    val keptStrad = base.join(broadcast(stradB), Seq(groupCol, "__b"))
      .withColumn("__dc", sum(col("__tok")).over(wd))
      .filter(col("__dc") <= col("__rem"))
      .select(col(groupCol), col(idCol), col("__tok"), col("__h"), col("__b"))
    keptFull.unionByName(keptStrad)
      .select(col(groupCol), col(idCol), col("__tok").as("tokens"))
  }

  /** Temperature-scaled source mixing weights — the multilingual /
    * multi-source rebalancing rule (mT5/XLM-R style): source i gets
    * sampling weight n_i^α / Σ_j n_j^α. α = 1 reproduces the natural
    * mix, α → 0 flattens toward uniform — the knob that stops a
    * dominant crawl from drowning low-resource sources. Returns one
    * row per group: (groupCol, n_docs, weight 6dp, target =
    * ⌊sampleTotal·weight_raw⌋). Targets feed [[tokenBudgetSample]] /
    * [[perKey]] for the actual deterministic selection.
    *
    * Shape: one partial-aggregated count per group, one 1-row Σn^α
    * broadcast — group-cardinality-sized throughout. Targets floor
    * over EXACT DECIMAL arithmetic on the 6dp-rounded weight: flooring
    * the raw double ratio is partitioning-UNSTABLE when the true ratio
    * sits on an integer boundary (equal-sized groups make
    * sampleTotal/|groups| exactly integral, and the Σn^α partial-sum
    * order then flips the last ulp — observed as a 499/500 gate flake
    * at q155), while decimal × integer is the same number on every
    * engine and every partitioning. */
  def temperatureWeights(df: DataFrame, groupCol: String,
      alpha: Double, sampleTotal: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    require(sampleTotal >= 0, "sampleTotal must be >= 0")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val tot = counts.agg(sum(pow(col("__n"), lit(alpha))).as("__tp"))
    counts.crossJoin(broadcast(tot))
      .select(col(groupCol), col("__n").as("n_docs"),
        round(pow(col("__n"), lit(alpha)) / col("__tp"), 6).as("weight"))
      .withColumn("target",
        floor(col("weight").cast("decimal(18,6)") * lit(sampleTotal))
          .cast("long"))
  }
}

/** STANDING weighted sample — the per-group Efraimidis-Spirakis top-k
  * as a maintained catalog asset: "keep the best k docs per domain
  * from an unbounded crawl" without ever re-scanning what already
  * arrived. Works because per-key top-k under a PER-ROW deterministic
  * priority is an associative combiner — topk(topk(A) ∪ B) =
  * topk(A ∪ B) — so the maintained store is EXACTLY the batch sample
  * of everything ever fed, and the gate (q227) gets a FULL DuckDB
  * oracle over the union (stronger than equality bits: an external
  * engine recomputes the same k rows from the same arithmetic).
  *
  * Identity is (grp, id): a re-delivered id merges by max(weight)
  * (priority u^(1/w) is monotone in w, so max-weight is the
  * deterministic "best claim wins" rule; a duplicate delivery with
  * the same weight is a no-op). Same marker + idempotence ledger as
  * the count stores ([[CountStore.applyOnce]]) — exactly-once OR
  * loud. Store size is k × groups rows; every merge is store + batch
  * sized, never corpus sized. */
object SampleStore {
  import org.apache.spark.sql.SparkSession

  /** Sample the corpus fresh into `_sample` and `_sample_params`;
    * every merge rewrites the whole k × groups table. A rebuild is
    * also the repair path for a torn or refused store. */
  def initStore(docs: DataFrame, name: String, grpCol: String,
      idCol: String, weightCol: String, k: Int): Unit = {
    require(k > 0, s"k must be positive, got $k")
    val spark = docs.sparkSession
    CountStore.setBuilding(spark, name, on = true)
    CountStore.dropLedger(spark, name)
    clearStaleAll(spark, name)
    CountStore.dropLayout(spark, name)
    // disjoint outputs — overlap the sample write with the 1-row
    // params write (r14, guide §2.6)
    graft.util.Par.run(
      () => graft.sources.Sinks.parquetTable(
        topK(canon(docs, grpCol, idCol, weightCol), k), s"${name}_sample"),
      () => graft.sources.Sinks.parquetTable(
        spark.range(1).select(lit(k).as("k")), s"${name}_sample_params"))
    CountStore.setBuilding(spark, name, on = false)
  }

  /** One micro-batch fold — shared by [[maintainStream]] and batch
    * replay (the q160/q220 discipline). Returns false on a
    * re-delivered batch id. */
  def applyBatch(batch: DataFrame, name: String, grpCol: String,
      idCol: String, weightCol: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    if (CountStore.alreadyApplied(spark, name, batchId)) false
    else {
      val merged = mergedWith(batch, name, grpCol, idCol, weightCol)
      CountStore.applyOnce(spark, name, batchId) {
        graft.sources.Sinks.parquetTable(merged, s"${name}_sample")
      }
    }
  }

  /** Ledger-FREE merge — the admission fold's put-side op (the fold
    * carries its own batch ledger, so a second ledger here would skip
    * legitimate work). Same associative-combiner algebra as
    * [[applyBatch]]. */
  def mergeDocs(batch: DataFrame, name: String, grpCol: String,
      idCol: String, weightCol: String): Unit = {
    val spark = batch.sparkSession
    CountStore.requireServable(spark, name)
    graft.sources.Sinks.parquetTable(
      mergedWith(batch, name, grpCol, idCol, weightCol), s"${name}_sample")
  }

  /** The wave merge: the stored sample and the batch through the same
    * top-k combiner, settled before the caller overwrites the store. */
  private def mergedWith(batch: DataFrame, name: String, grpCol: String,
      idCol: String, weightCol: String): DataFrame = {
    val spark = batch.sparkSession
    val k = spark.table(s"${name}_sample_params").head().getAs[Int]("k")
    val bc = canon(batch, grpCol, idCol, weightCol).localCheckpoint()
    topK(spark.table(s"${name}_sample").unionByName(bc), k)
      .localCheckpoint() // settle BEFORE overwriting what we read
  }

  /** TAKEDOWN/EDIT support for the admission fold. The sample's
    * per-row deterministic priority makes departures cheap to
    * classify: a departing id NOT in the stored sample cannot change
    * it (top-k over a set that lost only below-k rows is the same
    * top-k — priorities are per-row, so removals never promote), so
    * those cost nothing; a departing id that IS sampled invalidates
    * exactly its group, which refits from the live corpus (group-
    * bounded store surgery; the live read is the stated full-pass —
    * the SketchStore takedown class). Edits route here too (an edited
    * doc's old weight/group claim must not survive — the max-weight
    * merge would otherwise keep a higher OLD weight forever). The
    * maintained-≡-fresh-fit equality is exact by the superset
    * argument plus refit-by-construction; CountFoldSpec and q245 pin
    * it. */
  def dropDocs(spark: SparkSession, name: String, goneIds: DataFrame,
      liveDocs: => DataFrame, grpCol: String, idCol: String,
      weightCol: String): Unit = {
    CountStore.requireServable(spark, name)
    val store = spark.table(s"${name}_sample")
    val gone = goneIds
      .select(col(goneIds.columns.head).cast("long").as("id")).distinct()
      .localCheckpoint()
    // the id-membership probe reads the (model-sized) store
    val hitGroups = store.join(broadcast(gone), Seq("id"), "left_semi")
      .select(col("grp")).distinct().localCheckpoint()
    if (!hitGroups.isEmpty) {
      val k = spark.table(s"${name}_sample_params").head().getAs[Int]("k")
      val fresh = topK(canon(liveDocs, grpCol, idCol, weightCol)
        .join(broadcast(hitGroups), Seq("grp"), "left_semi"), k)
      val merged = store.join(broadcast(hitGroups), Seq("grp"), "left_anti")
        .unionByName(fresh)
        .localCheckpoint() // settle BEFORE overwriting what we read
      graft.sources.Sinks.parquetTable(merged, s"${name}_sample")
    }
  }

  // ---- deferred departures (r12 verdict #2) ----
  // dropDocs pays one live-corpus read per departure batch that hits a
  // sampled row — the last per-batch live read in the count-model
  // fold. Under a deferral backlog the fold instead records the
  // departing IDS here (takedown-sized, append-only) plus one row in
  // the shared CountStore staleness ledger, and [[refitStale]] settles
  // every pending wave with ONE live pass: the union of pending ids
  // drives the same stored-sample membership probe dropDocs uses, so
  // only groups that actually lost a sampled row (or hold an edited
  // id's stale max-weight claim) are refit. While stale the served
  // sample may still hold departed rows — visible via describeStore's
  // `stale_batches`, same contract as the union-only sketch families.

  /** Record one deferred departure wave: ids into `<name>_stale_ids`,
    * one (batches, docs) row into the staleness ledger. */
  private[graft] def markStale(spark: SparkSession, name: String,
      goneIds: DataFrame, nGone: Long): Unit = {
    if (!spark.catalog.tableExists(s"${name}_stale_ids"))
      graft.sources.Sinks.dropTable(spark, s"${name}_stale_ids")
    goneIds.select(col(goneIds.columns.head).cast("long").as("id")).distinct()
      .write.mode("append").format("parquet")
      .saveAsTable(s"${name}_stale_ids")
    CountStore.markStale(spark, name, nGone)
  }

  /** Settle the whole pending-departure backlog in one group-pruned
    * pass: the accumulated pending ids route through [[dropDocs]]
    * (membership probe → hit groups → refit from `liveDocs`), then
    * both ledgers clear. A pending id re-admitted since its departure
    * is harmless — its group refits from live, which includes it. */
  def refitStale(spark: SparkSession, name: String, liveDocs: => DataFrame,
      grpCol: String, idCol: String, weightCol: String): Unit = {
    if (spark.catalog.tableExists(s"${name}_stale_ids")) {
      val pending = spark.table(s"${name}_stale_ids").distinct()
        .localCheckpoint()
      dropDocs(spark, name, pending, liveDocs, grpCol, idCol, weightCol)
    }
    clearStaleAll(spark, name)
  }

  private def clearStaleAll(spark: SparkSession, name: String): Unit = {
    graft.sources.Sinks.dropTable(spark, s"${name}_stale_ids")
    CountStore.clearStale(spark, name)
  }

  /** The `_stale_ids` half of the inherit-the-backlog merge contract:
    * union both sides' pending-departure id ledgers into `out`'s
    * (settled before the drop, so out ∈ {a, b} is safe). */
  private def mergeStaleIds(spark: SparkSession, a: String, b: String,
      out: String): Unit = {
    val union = Seq(a, b).map(n => s"${n}_stale_ids")
      .filter(spark.catalog.tableExists)
      .map(spark.table)
      .reduceOption(_.unionByName(_))
      .map(_.distinct().localCheckpoint())
    graft.sources.Sinks.dropTable(spark, s"${out}_stale_ids")
    union.foreach(_.write.mode("append").format("parquet")
      .saveAsTable(s"${out}_stale_ids"))
  }

  /** FEDERATED store merge (round 13, the HhStore.mergeStores
    * discipline): two standing samples → one via the SAME associative
    * top-k combiner the wave merge uses — topk(topk(A) ∪ topk(B)) =
    * topk(A ∪ B) under per-row deterministic priorities, so unlike
    * the sketch merges this one is EXACT: the merged store is
    * bit-identical to a one-shot sample of the union corpus (and a
    * shared (grp, id) claims max weight across sides, the wave
    * merge's dedup rule). Groups-sized, NO corpus read. Sides must
    * share k. Staleness contract (r13 advice, medium): the merged
    * store INHERITS both sides' pending-departure backlogs — the
    * `_stale` ledgers sum ([[CountStore.mergeStale]]) and the
    * `_stale_ids` id ledgers UNION into `out`, so a departed row
    * riding a stale side's sample stays visibly pending and the next
    * [[refitStale]] (over the union corpus) prunes it. */
  def mergeStores(spark: SparkSession, a: String, b: String,
      out: String): Unit = {
    CountStore.requireServable(spark, a)
    CountStore.requireServable(spark, b)
    require(out != a && out != b,
      s"mergeStores: output '$out' must be a third store — merging " +
        "into a side would overwrite tables while reading them")
    def kOf(n: String) =
      spark.table(s"${n}_sample_params").head().getAs[Int]("k")
    val (ka, kb) = (kOf(a), kOf(b))
    require(ka == kb, s"mergeStores: k differs ($a has $ka, $b has $kb)")
    CountStore.setBuilding(spark, out, on = true)
    CountStore.dropLedger(spark, out)
    CountStore.mergeStale(spark, a, b, out)
    mergeStaleIds(spark, a, b, out)
    CountStore.dropLayout(spark, out)
    val merged = topK(spark.table(s"${a}_sample")
      .unionByName(spark.table(s"${b}_sample")), ka)
    graft.sources.Sinks.parquetTable(merged, s"${out}_sample")
    graft.sources.Sinks.parquetTable(
      spark.range(1).select(lit(ka).as("k")), s"${out}_sample_params")
    CountStore.setBuilding(spark, out, on = false)
  }

  def maintainStream(docs: DataFrame, name: String, grpCol: String,
      idCol: String, weightCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          applyBatch(batch, name, grpCol, idCol, weightCol, batchId); ()
        }
      }

  /** The standing sample, ranked 1..k per group (rank recomputed from
    * the stored ≤ k rows — a bounded window). */
  def sample(spark: SparkSession, name: String): DataFrame = {
    CountStore.requireServable(spark, name)
    val k = spark.table(s"${name}_sample_params").head().getAs[Int]("k")
    WeightedSample.perKey(spark.table(s"${name}_sample"), "grp", "id", "w", k)
  }

  /** Serve-with-staleness-bound (r12 verdict #4): refresh-then-serve
    * when the deferred-departure backlog exceeds `maxStale` batches. */
  def sample(spark: SparkSession, name: String, maxStale: Int,
      refresh: () => Unit): DataFrame = {
    CountStore.serveWithin(spark, name, maxStale, refresh)
    sample(spark, name)
  }

  /** Operational introspection (the Bm25.describeIndex discipline). */
  def describeStore(spark: SparkSession, name: String): DataFrame =
    CountStore.describe(spark, name, Map(
      "n_rows" -> (s"${name}_sample", count(lit(1))),
      "n_groups" -> (s"${name}_sample", countDistinct(col("grp"))),
      "k" -> (s"${name}_sample_params", sum(col("k")))))

  private def canon(df: DataFrame, grpCol: String, idCol: String,
      weightCol: String): DataFrame =
    df.select(col(grpCol).cast("string").as("grp"),
      col(idCol).cast("long").as("id"),
      col(weightCol).cast("long").as("w"))

  private def topK(df: DataFrame, k: Int): DataFrame =
    WeightedSample.perKey(
      df.groupBy(col("grp"), col("id")).agg(max(col("w")).as("w")),
      "grp", "id", "w", k)
      .drop("rank")
}
