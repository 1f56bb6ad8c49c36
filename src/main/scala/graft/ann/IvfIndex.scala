package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: a k-means coarse quantizer partitions
  * the vector space into `nlist` cells; queries probe the `nprobe`
  * nearest cells and re-rank exactly inside them.
  *
  * The complementary scale path to [[AnnForestModel.knnJoinBucketed]]:
  * where the forest routes by recursive hyperplanes, IVF routes by
  * centroid proximity — one broadcast of `nlist` centroids (tiny), one
  * shuffle of each side on a compact INT cell id, one top-k window.
  * Train on a sample: k-means cost is O(sample · nlist), independent of
  * corpus size; assignment is a narrow map. For a standing corpus,
  * persist the assignment as a bucketed table (same amortization as the
  * forest path).
  */
case class IvfIndex(nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
    sampleCap: Int = 65536) {

  /** Train the coarse quantizer on a bounded sample collected to the
    * driver, then run seeded kmeans++/Lloyd there. This is the standard
    * IVF design (FAISS trains its quantizer on ~64·nlist…256·nlist
    * sampled points): quantizer cost is O(sample · nlist · iters),
    * independent of corpus size, so at 100 TB only the tiny sample ever
    * leaves the executors — assignment stays a distributed narrow map.
    * Driver-side Lloyd also avoids per-iteration Spark jobs (an MLlib
    * KMeans fit here cost ~20 scheduler round-trips per fit for the
    * same centroids); cells only need to be a reasonable space
    * partition, not converged clusters — recall is governed by nprobe.
    */
  def fit(df: DataFrame, vecCol: String = "embedding",
      trainFraction: Double = 1.0): IvfModel = {
    val sampled = if (trainFraction < 1.0) df.sample(trainFraction, seed) else df
    // A bare limit(sampleCap) would take a partition-order PREFIX — for
    // a corpus written in an order correlated with embedding space
    // (clustered/time-ordered inserts, the normal standing-corpus case)
    // that trains every centroid inside one region. Downsample uniformly
    // instead when over the cap — NO limit afterwards: a limit would
    // again take a partition-order prefix of the sample, cutting the
    // tail partitions out of training. Bernoulli sampling at cap/n
    // yields ~cap rows (±√cap noise), which is fine for a quantizer.
    // The count is one cheap job, paid only at fit time.
    val n = sampled.count()
    val uniform =
      if (n <= sampleCap) sampled
      else sampled.sample(math.min(1.0, sampleCap.toDouble / n), seed)
    val train = IvfModel.trainingSet(uniform, vecCol, "IVF fit")
    require(train.nonEmpty, "IVF fit: empty training set")
    new IvfModel(IvfIndex.lloyd(train, nlist, iters = 8, seed), nprobe)
  }
}

object IvfIndex {
  /** Seeded kmeans++ init + Lloyd iterations over primitive arrays.
    * Deterministic for a fixed seed regardless of thread scheduling. */
  private[graft] def lloyd(
      points: Array[Array[Float]], k: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    val n = points.length
    val dim = points(0).length
    val kk = math.min(k, n)
    val rng = new scala.util.Random(seed)
    // kmeans++ seeding: first centroid uniform, then D²-weighted
    val centroids = Array.ofDim[Float](kk, dim)
    centroids(0) = points(rng.nextInt(n)).clone()
    val minD2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0
      var total = 0.0
      while (i < n) {
        val d = IvfModel.sqDist(points(i), centroids(c - 1))
        if (d < minD2(i)) minD2(i) = d
        total += minD2(i)
        i += 1
      }
      val target = rng.nextDouble() * total
      var pick = n - 1
      var acc = 0.0
      i = 0
      while (i < n) {
        acc += minD2(i)
        if (acc >= target) { pick = i; i = n } else i += 1
      }
      centroids(c) = points(pick).clone()
      c += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var moved = false
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kk) {
          val d = IvfModel.sqDist(points(i), centroids(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      if (!moved && it > 0) it = iters // converged
      else {
        val sums = Array.ofDim[Double](kk, dim)
        val counts = new Array[Int](kk)
        i = 0
        while (i < n) {
          val a = assign(i); counts(a) += 1
          var d = 0
          while (d < dim) { sums(a)(d) += points(i)(d); d += 1 }
          i += 1
        }
        var j = 0
        while (j < kk) {
          if (counts(j) == 0) centroids(j) = points(rng.nextInt(n)).clone() // re-seed empty cell
          else {
            var d = 0
            while (d < dim) { centroids(j)(d) = (sums(j)(d) / counts(j)).toFloat; d += 1 }
          }
          j += 1
        }
      }
      it += 1
    }
    centroids
  }
}

object IvfModel {
  private[graft] def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** The collected training vectors, refused by name when one is null
    * or their lengths differ — Lloyd would otherwise fail on a bare
    * NullPointerException or compare vectors of different lengths. */
  private[ann] def trainingSet(df: DataFrame, vecCol: String,
      who: String): Array[Array[Float]] = {
    val train = df.select(col(vecCol).cast("array<float>")).collect()
      .map { r =>
        require(!r.isNullAt(0), s"$who: a training vector in $vecCol is null")
        r.getSeq[Float](0).toArray
      }
    val dims = train.map(_.length).distinct.sorted
    require(dims.length <= 1,
      s"$who: training vectors in $vecCol have ${dims.mkString(", ")} dims")
    train
  }

  private[ann] def nearestCells(
      centroids: Array[Array[Float]], v: Array[Float], n: Int): Array[Int] =
    centroids.indices.sortBy(i => sqDist(centroids(i), v)).take(n).toArray

  /** Load a model persisted by [[IvfModel.save]]. Cell ids index the
    * centroid array, so the load re-sorts by the persisted cell column
    * (parquet read order is not guaranteed). */
  def load(path: String, spark: org.apache.spark.sql.SparkSession): IvfModel = {
    val nprobe = spark.read.parquet(s"$path/meta").head().getInt(0)
    val centroids = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    new IvfModel(centroids, nprobe)
  }
}

class IvfModel(val centroids: Array[Array[Float]], val nprobe: Int)
    extends Serializable {

  /** One row per probed cell: (input cols…, cell INT). n=1 for corpus
    * assignment, n=nprobe for queries. The closure captures only the
    * centroid array — no per-row allocation beyond the probe result.
    * `vecCol` is replaced by its [[AnnForestModel.checkedVector]] form,
    * so a null vector or one of another length than the centroids fails
    * by name. */
  def assignCells(df: DataFrame, vecCol: String, n: Int): DataFrame = {
    val cs = centroids // stable reference for the closure (serialized once per task)
    val probes = udf { (v: Seq[Float]) =>
      IvfModel.nearestCells(cs, v.toArray, n)
    }
    val dim = cs.headOption.fold(-1)(_.length)
    // explode_outer as defense against InferFiltersFromGenerate: no
    // filter is inferred on a direct UDF generator today (verified),
    // but a materialized probe column under a non-outer explode would
    // re-run the centroid scan 3× per row (bit
    // AnnForestModel.assignLeaves). nearestCells always returns
    // min(n, nlist) ≥ 1 cells, so outer ≡ inner.
    df.withColumn(vecCol,
        AnnForestModel.checkedVector(col(vecCol), dim,
          "IVF cell assignment", s"expected $dim"))
      .withColumn("cell", explode_outer(probes(col(vecCol))))
  }

  /** Approximate k-NN join: corpus in its home cell, queries probe
    * `nprobe` cells, exact re-rank within probed cells. `corpusFilter`
    * (attribute-filtered kNN) applies before cell assignment — below
    * the cell exchange, so it pushes into the corpus scan and
    * filtered-out rows are never assigned, shuffled, or scored (same
    * contract as [[AnnForestModel.knnJoinBucketed]]). */
  def knnJoin(
      corpus: DataFrame, queries: DataFrame, topK: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "qvec",
      corpusFilter: Option[Column] = None): DataFrame = {
    // a query meeting the same neighbor in several probed cells
    // computes the same dist, so the min-dedup tail ≡ pick-any
    BucketSelfJoin.dedupTopK(
      cellCandidates(corpus, queries, corpusId, corpusVec, queryId, queryVec, corpusFilter),
      topK)
  }

  private def cellCandidates(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      corpusFilter: Option[Column]): DataFrame = {
    import graft.functions.VectorFunctions.sqEucDist
    val corpusSrc = corpusFilter.map(corpus.filter).getOrElse(corpus)
    val c = assignCells(
      corpusSrc.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")), "__cv", 1)
    val q = assignCells(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")), "__qv", nprobe)
    q.join(c, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        sqEucDist(col("__cv"), col("__qv")).as("dist"))
  }

  /** IVF × binary-quant composition — the 100 TB serving shape (the
    * Faiss IVF+binary layout): the coarse quantizer prunes to `nprobe`
    * cells, a 32×-compressed ASYMMETRIC first pass
    * ([[graft.functions.AsymmetricBqDot]]: full-precision query ×
    * sign-reconstructed docs) scores inside the probed cells to top-c
    * candidates per query, and exact squared-euclidean reranks to
    * top-k — so the full-precision vectors are touched only for the
    * |q|·c candidate set. Versus [[knnJoin]] the within-cell scan
    * reads 1/32 of the bytes; versus flat [[graft.operators
    * .BinaryQuant]] the cell equi-join prunes (nlist−nprobe)/nlist of
    * the corpus before any scoring. Corpus rows live in their single
    * home cell, so no candidate dedup is needed. Output
    * (queryId, rank 1..k, neighbor_id, dist) — knnJoin's contract
    * with the rank made explicit by the exact rerank. */
  def knnJoinBq(
      corpus: DataFrame, queries: DataFrame, topK: Int, c: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    import graft.functions.VectorFunctions.{bqAsymDot, signPack, sqEucDist}
    require(c >= topK, s"oversample c=$c must be >= topK=$topK")
    val codes = assignCells(
        corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
        "__cv", 1)
      .select(col("cell"), col("neighbor_id"), signPack(col("__cv")).as("__code"))
    val q = assignCells(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")),
      "__qv", nprobe)
    // the wide query vector does NOT ride the within-cell scan rows —
    // scored rows carry only (query_id, neighbor_id, score); both wide
    // sides rejoin on the bounded candidate set below
    val scored = q.join(codes, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        (-bqAsymDot(col("__qv"), col("__code"))).as("__negasym"))
    val cand = graft.plans.TopKPerKey.perKey(
      scored, Seq("query_id"), Seq("__negasym", "neighbor_id"), c)
    rerankEuclid(
      corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
      queries, cand, topK, queryId, queryVec)
  }

  /** Exact-euclid rerank tail shared by [[knnJoinBq]] and
    * [[knnJoinStoreBq]] (one rerank discipline, one code path — the
    * BinaryQuant/Matryoshka cosine tail's euclidean sibling): `vecs` =
    * (neighbor_id, __cv) full-precision rows; the bounded candidate
    * set and the query batch broadcast against them, so the wide
    * vectors never shuffle. */
  private def rerankEuclid(vecs: DataFrame, queries: DataFrame,
      cand: DataFrame, topK: Int, queryId: String, queryVec: String): DataFrame = {
    import graft.functions.VectorFunctions.sqEucDist
    import org.apache.spark.sql.functions.broadcast
    val withVec = vecs
      .join(broadcast(cand.select(col("query_id"), col("neighbor_id"))),
        Seq("neighbor_id"))
      .join(broadcast(
        queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv2"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqEucDist(col("__cv"), col("__qv2")).as("dist"))
    graft.plans.TopKPerKey.rankedTopK(
        withVec, "query_id", Seq("dist", "neighbor_id"), topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Distance-threshold ("radius") join via probed cells: same cell
    * equi-join as [[knnJoin]], tail = `dist ≤ maxDist` filter + pair
    * dedup ([[BucketSelfJoin.dedupRadius]]). Approximate like top-k
    * (a pair outside every probed cell is missed — recall governed by
    * nprobe, floor asserted in spec); exact oracle =
    * [[graft.operators.KnnExact.radiusJoin]]. */
  def radiusJoin(
      corpus: DataFrame, queries: DataFrame, maxDist: Double,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "qvec",
      corpusFilter: Option[Column] = None): DataFrame =
    BucketSelfJoin.dedupRadius(
      cellCandidates(corpus, queries, corpusId, corpusVec, queryId, queryVec, corpusFilter),
      maxDist)

  /** Persist the quantizer as plain parquet (centroids + nprobe) —
    * the corpus itself is not part of the model; re-assign cells on
    * load (or persist `assignCells(corpus, vec, 1)` bucketed by cell
    * for the amortized standing-corpus layout). */
  def save(path: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    Seq(nprobe).toDF("nprobe").write.mode("overwrite").parquet(s"$path/meta")
  }

  // ---- standing-store lifecycle (round 9: parity with the forest's
  // append/remove/compact — IVF-(PQ) is the compressed form you'd
  // actually serve at 100 TB, and before this a corpus delta meant a
  // full retrain) ----

  /** Persist the cell-assigned corpus as the standing IVF store:
    * `<table>` = (cell, neighbor_id, __cvec) bucketed AND sorted by
    * the INT cell id, so every later query batch equi-joins it with
    * zero corpus-side exchange. Clears a stale tombstone table from a
    * previous lifecycle at the same name. */
  def saveStore(corpus: DataFrame, table: String, buckets: Int = 32,
      corpusId: String = "vec_id", corpusVec: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    graft.sources.Sinks.dropTable(spark, table + "_tombstones")
    graft.sources.Sinks.parquetBucketed(storeRows(corpus, corpusId, corpusVec),
      table, buckets, Seq("cell"), Seq("cell"))
  }

  /** The standing-store row shape: (cell, neighbor_id, __cvec, __bq).
    * The sign-packed `__bq` column (1/32 the vector's bytes) rides
    * next to the vector so [[knnJoinStoreBq]]'s first pass can
    * COLUMN-PRUNE the wide `__cvec` out of its scan — in a columnar
    * store the 32× scan saving is a projection away, no sidecar
    * table, and every lifecycle op (append/tombstone/compact) keeps
    * code and vector in sync by construction. */
  private def storeRows(corpus: DataFrame, corpusId: String,
      corpusVec: String): DataFrame = {
    import graft.functions.VectorFunctions.signPack
    assignCells(
      corpus.select(col(corpusId).cast("long").as("neighbor_id"),
        col(corpusVec).as("__cvec")), "__cvec", 1)
      .select(col("cell"), col("neighbor_id"), col("__cvec"),
        signPack(col("__cvec")).as("__bq"))
  }

  /** Append a corpus delta to the standing store WITHOUT retraining:
    * the quantizer is frozen (the FAISS discipline — cells only need
    * to remain a reasonable space partition; recall is governed by
    * nprobe), so a delta is one broadcast-centroid assignment pass
    * plus a bucketed append — appends keep the bucket spec, so the
    * zero-exchange serving join survives growth. Re-fit when cell
    * occupancy drifts far out of balance, as with any
    * frozen-quantizer index. Dedup against the standing corpus is the
    * caller's choice (same contract as the forest's append). A store
    * persisted BEFORE the `__bq` code column existed cannot take
    * appends (parquet append requires a matching schema — the write
    * fails loudly); rewrite it once via [[saveStore]]. */
  def appendStore(delta: DataFrame, table: String, buckets: Int = 32,
      corpusId: String = "vec_id", corpusVec: String = "embedding"): Unit =
    storeRows(delta, corpusId, corpusVec)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(table)

  /** Delete ids from the standing store: a tombstone append (the Bm25
    * removeDocs pattern) — O(delete batch), no store rewrite. Serving
    * ([[knnJoinStore]], [[PqModel.knnJoinIvfIndexed]]) subtracts the
    * tombstoned ids immediately; [[compactStore]] purges physically.
    * Re-adding a tombstoned id requires compacting FIRST (tombstones
    * are id-keyed, so the re-added row would stay hidden) — the same
    * upsert discipline the BM25 store documents; pinned in spec. */
  def removeStore(spark: org.apache.spark.sql.SparkSession, table: String,
      ids: DataFrame): Unit =
    AnnStores.markTombstones(spark, table, ids)

  /** Rewrite the store minus its tombstones (settle-then-overwrite —
    * Spark cannot overwrite a table its own plan reads) and drop the
    * tombstone table. One bucketed rewrite; the serving anti-join
    * disappears until the next delete. */
  def compactStore(spark: org.apache.spark.sql.SparkSession, table: String,
      buckets: Int = 32): Unit = {
    if (!spark.catalog.tableExists(table + "_tombstones")) return
    // the anti-join moves its key column first — restore the table's
    // own column order so the layout is stable across compactions
    // (appends and table-equality comparisons see one schema)
    val cols = spark.table(table).columns
    val live = AnnStores.liveRows(spark, table)
      .select(cols.toIndexedSeq.map(col): _*).localCheckpoint()
    graft.sources.Sinks.parquetBucketed(live, table, buckets,
      Seq("cell"), Seq("cell"))
    graft.sources.Sinks.dropTable(spark, table + "_tombstones")
  }

  /** Approximate k-NN against the standing store: queries probe
    * `nprobe` cells and equi-join the bucketed table on `cell` (no
    * corpus-side exchange); pending tombstones are subtracted BEFORE
    * the join (delete-batch-sized anti-join — AQE broadcasts it).
    * Result-identical to [[knnJoin]] over the same live corpus: same
    * frozen quantizer → same home cells → same candidates (specced,
    * and q172 pins maintained ≡ rebuilt under the hash gate). */
  def knnJoinStore(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, topK: Int,
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    import graft.functions.VectorFunctions.sqEucDist
    val q = assignCells(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")),
      "__qv", nprobe)
    BucketSelfJoin.dedupTopK(
      q.join(AnnStores.liveRows(spark, table), Seq("cell"))
        .select(col("query_id"), col("neighbor_id"),
          sqEucDist(col("__cvec"), col("__qv")).as("dist")),
      topK)
  }

  /** [[knnJoinBq]] against the standing store — the shape you would
    * actually run at 100 TB, with BOTH prunings visible in the plan:
    *   - the query batch's probed cells become a LITERAL in-filter on
    *     the bucket column (the champion-list move), so both passes
    *     scan `SelectedBucketsCount ≈ |q|·nprobe` of the buckets, not
    *     the whole store;
    *   - the first pass projects (cell, neighbor_id, __bq) ONLY — the
    *     wide `__cvec` is column-pruned out of the scan (PlanSpec pins
    *     its ReadSchema), so the corpus-wide stage reads 1/32 of the
    *     vector bytes; the exact rerank reads `__cvec` for the probed
    *     buckets probed against a broadcast hashtable of the |q|·c
    *     candidate ids.
    * The probed-cell collect is |q|·nprobe ints (bounded, query-batch
    * sized). Pending tombstones subtract before scoring, as in
    * [[knnJoinStore]]. Result-identical to [[knnJoinBq]] over the same
    * live corpus (frozen quantizer → same cells → same candidates;
    * specced). */
  def knnJoinStoreBq(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, topK: Int, c: Int,
      queryId: String = "query_id", queryVec: String = "qvec"): DataFrame = {
    import graft.functions.VectorFunctions.bqAsymDot
    require(c >= topK, s"oversample c=$c must be >= topK=$topK")
    // schema guard: a store persisted before the code column existed
    // has (cell, neighbor_id, __cvec) only — fail loudly with the
    // migration path instead of an unresolved-column error (or, worse,
    // null-scored legacy rows poisoning the candidate heaps under a
    // merged schema)
    require(spark.table(table).columns.contains("__bq"),
      s"standing store '$table' predates the sign-code column __bq; " +
        "rewrite it via saveStore (or compactStore after re-append) " +
        "before serving knnJoinStoreBq")
    val q = assignCells(
        queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")),
        "__qv", nprobe)
      .localCheckpoint()
    val probed = q.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val live = AnnStores.liveRows(spark, table)
      .filter(col("cell").isin(probed: _*))
    val scored = q.join(live.select(col("cell"), col("neighbor_id"),
        col("__bq")), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        (-bqAsymDot(col("__qv"), col("__bq"))).as("__negasym"))
    val cand = graft.plans.TopKPerKey.perKey(
      scored, Seq("query_id"), Seq("__negasym", "neighbor_id"), c)
    rerankEuclid(
      live.select(col("neighbor_id"), col("__cvec").as("__cv")),
      queries, cand, topK, queryId, queryVec)
  }
}

/** Tombstone plumbing shared by the IVF and IVF-PQ standing stores
  * (same discipline as Bm25's `_tombstones`: append-only marker table
  * next to the data table, anti-joined at serve time, purged by the
  * compaction rewrite). */
private[ann] object AnnStores {
  import org.apache.spark.sql.SparkSession

  def markTombstones(spark: SparkSession, table: String, ids: DataFrame): Unit = {
    if (!spark.catalog.tableExists(table + "_tombstones"))
      graft.sources.Sinks.dropTable(spark, table + "_tombstones")
    ids.select(col(ids.columns.head).cast("long").as("neighbor_id")).distinct()
      .write.mode("append").format("parquet")
      .saveAsTable(table + "_tombstones")
  }

  /** The store minus pending tombstones (identity when none). */
  def liveRows(spark: SparkSession, table: String): DataFrame = {
    val t = spark.table(table)
    if (!spark.catalog.tableExists(table + "_tombstones")) t
    else t.join(spark.table(table + "_tombstones"),
      Seq("neighbor_id"), "left_anti")
  }
}
