package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Fully distributed forest build — the 100 TB counterpart of
  * [[AnnForest.fit]] (which collects the dedup'd store to the driver,
  * the reference's own memory model, src/lib.rs:15-19).
  *
  * Level-synchronous construction, the standard trick for building
  * depth-bounded trees on a cluster (MLlib's decision-tree trainer
  * builds level-by-level the same way): all trees × all open nodes
  * advance one depth per pass, so the number of passes over the corpus
  * is `maxDepth`, not `numNodes`.
  *
  * Per level:
  *  1. one narrow pass explodes each row's per-tree breadcrumb path and
  *     keeps only rows in still-open (tree, path) groups (broadcast join
  *     against the open-node list — compact ints, never vectors);
  *  2. a partially-aggregated groupBy samples two pseudo-random member
  *     vectors per open group (`min_by`/`max_by` over a seeded xxhash64
  *     order — deterministic, unlike the reference's thread_rng) and
  *     counts the group — the only shuffle, carrying 2 vectors per OPEN
  *     NODE, never per row;
  *  3. the driver turns each still-too-big group's sample pair into a
  *     bisector plane with [[CompactIndex.bisector]], the collected
  *     build's rule (n = b − a, c = −n·mid — reference
  *     src/lib.rs:22-48) — driver state is planes only, never corpus.
  *     Level 0's groups are the roots, which hold every row, so their
  *     aggregate also fails the fit by name on a vector whose length
  *     differs from the lowest id's.
  *     The per-level stats arrive via toLocalIterator, one shuffle
  *     partition at a time, so the transient peak is the accumulated
  *     plane map (bounded by numTrees·2^maxDepth — the floor for any
  *     driver-routed design) plus a single partition of sampled pairs;
  *     non-splitting nodes' samples are dropped as each partition
  *     folds in. Driver memory is sized by the plane map alone;
  *  4. one narrow pass re-routes every row through all planes so far —
  *     a broadcast [[CompactIndex.fromPlanes]] walked by the routing
  *     UDF of [[DistributedAnnModel.assignLeaves]] — which re-derives
  *     its breadcrumb and takes one step further where its leaf split.
  *
  * `maxDepth` bounds the plane count (≤ numTrees·2^maxDepth), keeping
  * the query-routing broadcast small no matter the corpus size — at
  * 10⁸+ rows an unbounded maxLeafSize=5 forest would have ~corpus/5
  * planes (hundreds of GB, unbroadcastable). Leaves then hold more than
  * maxLeafSize rows; the bucket-join tail re-ranks exactly inside each
  * bucket with bounded-heap pruning ([[graft.plans.TopKPerKey]]), so
  * oversized leaves cost candidate-scoring time, not correctness —
  * IVF-style semantics with hyperplane routing.
  *
  * Lineage is bounded with a localCheckpoint per level (reliable
  * checkpoint on a real cluster), the same pattern as
  * [[graft.operators.DedupClusters]].
  */
case class DistributedAnnForest(
    numTrees: Int = 50, maxLeafSize: Int = 5, maxDepth: Int = 16,
    seed: Long = 42L, metric: String = "euclidean") {
  require(metric == "euclidean" || metric == "cosine",
    s"metric must be euclidean|cosine, got $metric")
  require(maxDepth >= 1 && maxDepth <= 62, "maxDepth must be in [1, 62]") // breadcrumb fits a Long

  def fit(df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): DistributedAnnModel = {
    val spark = df.sparkSession
    import spark.implicits._
    import graft.functions.VectorFunctions.l2Normalize

    // Bit-exact dedup on RAW vectors (same order as AnnForest.fit:
    // normalizing first would collapse distinct colinear vectors).
    val deduped = Dedup.exactVectors(df, vecCol, idCol)
    val vecExpr =
      if (metric == "cosine") l2Normalize(col(vecCol).cast(ArrayType(FloatType)))
      else col(vecCol).cast(ArrayType(FloatType))
    var cur = graft.GraftSession.widen(
      deduped.select(
        col(idCol).cast(LongType).as("__id"),
        vecExpr.as("__vec"),
        array_repeat(lit(1L), numTrees).as("__paths")))
      .localCheckpoint()

    val planes = scala.collection.mutable.Map.empty[(Int, Long), HyperPlane]
    // open = nodes that may still split: all roots at depth 0
    var open: Seq[(Int, Long)] = (0 until numTrees).map(t => (t, 1L))
    var depth = 0
    while (depth < maxDepth && open.nonEmpty) {
      val openDf = open.toDF("tree", "path")
      val h = xxhash64(lit(seed), lit(depth), col("tree"), col("path"), col("__id"))
      val exploded = cur
        .select(col("__id"), col("__vec"), posexplode(col("__paths")).as(Seq("tree", "path")))
        .join(broadcast(openDf), Seq("tree", "path"))
      // level 0's groups are the tree roots, which hold every row: the
      // dim check rides on their aggregate (expected = the lowest id's
      // dim, as in AnnForest.fit; lo/hi = the (dims, id) extremes)
      val dims = size(col("__vec"))
      val dimCheck =
        if (depth > 0) Nil
        else Seq(min_by(dims, col("__id")), min(struct(dims, col("__id"))),
          max(struct(dims, col("__id"))))
      // toLocalIterator, not collect: the driver streams one shuffle
      // partition of per-node stats at a time, so the level's transient
      // footprint is (planes so far) + (one partition of samples), not
      // 2× the whole level's plane map — the sampled vectors of nodes
      // that DON'T split are dropped as each partition is folded in.
      val stats = exploded
        .groupBy(col("tree"), col("path"))
        .agg(
          count(lit(1)).as("n"),
          min_by(col("__vec"), struct(h, col("__id"))).as("a") +:
          max_by(col("__vec"), struct(h, col("__id"))).as("b") +: dimCheck: _*)
        .toLocalIterator()

      val newPlanes = scala.collection.mutable.Map.empty[(Int, Long), HyperPlane]
      stats.forEachRemaining { r =>
        val (tree, path, n) = (r.getInt(0), r.getLong(1), r.getLong(2))
        if (depth == 0) Seq(r.getStruct(6), r.getStruct(7)).foreach { odd =>
          require(odd.getInt(0) == r.getInt(5),
            s"$vecCol: row ${odd.getLong(1)} has ${odd.getInt(0)} dims, expected ${r.getInt(5)}")
        }
        if (n > maxLeafSize) {
          val a = r.getSeq[Float](3).toArray
          val nrm = new Array[Float](a.length)
          val c = CompactIndex.bisector(a, 0, r.getSeq[Float](4).toArray, 0, nrm)
          // a zero-normal plane (identical sample pair — e.g. colinear
          // raw vectors collapsing under cosine normalization) routes
          // every row one way and would re-split uselessly to maxDepth:
          // close the node as an (oversized) leaf instead
          if (nrm.exists(_ != 0f)) newPlanes((tree, path)) = HyperPlane(nrm, c)
        }
      }
      planes ++= newPlanes
      // children of split nodes are next level's open set; empty children
      // simply produce no stats rows next round and close themselves
      open = newPlanes.keys.toSeq.flatMap { case (t, p) => Seq((t, 2 * p), (t, 2 * p + 1)) }

      if (newPlanes.nonEmpty) {
        // every row sits at a leaf of the planes so far, so walking them
        // all from the roots re-derives its path and takes the one new
        // step wherever its leaf just split
        val bc = spark.sparkContext.broadcast(CompactIndex.fromPlanes(numTrees, planes))
        val advance = AnnForestModel.routeUdf(bc, cosine = false,
          spillEps = 0.0, maxLeavesPerTree = 1)
        val prev = cur
        cur = cur.withColumn("__paths", advance(col("__vec")).getField("_2"))
          .localCheckpoint() // eager: prev and this level's broadcast are
                             // dead once this materializes
        prev.unpersist()
        bc.destroy()
      }
      depth += 1
    }

    val buckets = cur.select(
      col("__id").as("neighbor_id"), col("__vec").as("__cvec"),
      posexplode(col("__paths")).as(Seq("tree_id", "leaf_id")))
    new DistributedAnnModel(numTrees, planes.toMap, metric, buckets)
  }
}

/** Fitted distributed forest: routing planes (driver/broadcast-side,
  * ≤ numTrees·2^maxDepth entries) + the routed corpus as a DataFrame —
  * the store never leaves the executors. For a standing corpus, persist
  * `corpusBuckets` bucketed by (tree_id, leaf_id) and every subsequent
  * query batch pays zero corpus-side shuffle. */
class DistributedAnnModel(
    val numTrees: Int,
    val planes: Map[(Int, Long), HyperPlane],
    val metric: String,
    val corpusBuckets: DataFrame,
    preloadedZoneMaps: Option[DataFrame] = None) extends Serializable {

  /** One routing broadcast per model instance, shared by every query
    * batch — re-broadcasting per assignLeaves call would leak a copy
    * (~200 MB at 50 trees × depth 14) into the block managers per
    * batch in a standing-corpus serving loop. The planes ship as a
    * structure-only [[CompactIndex]] ([[CompactIndex.fromPlanes]]). */
  @transient private lazy val routingBc =
    corpusBuckets.sparkSession.sparkContext.broadcast(CompactIndex.fromPlanes(numTrees, planes))

  /** Per-bucket ZONE MAPS: centroid + covering radius of every
    * (tree_id, leaf_id) bucket — the vector analog of parquet row-group
    * min/max stats. A radius query can skip any bucket whose zone map
    * proves it empty of results: for every corpus point x in bucket b,
    * ‖q−x‖ ≥ ‖q−c_b‖ − cov_b (reverse triangle inequality), so if
    * ‖q−c_b‖ − cov_b > r no point in b qualifies and the bucket never
    * joins. Pruning is SOUND — it only removes provably-empty probes —
    * so results (and q86/q89-style exact oracles) are unchanged; what
    * changes is the serving cost: spill routing probes extra buckets
    * for recall, zone maps cancel the ones the radius can't reach.
    *
    * Built in one pass over the standing buckets (posexplode → per-dim
    * mean, then a max-distance sweep); numBuckets rows — broadcast
    * weight, computed once per model and reused by every query batch
    * (persist alongside the bucket table for a saved standing corpus).
    * A bucket's map covers every subset of the bucket, so
    * `corpusFilter` composes soundly (the bound just loosens). */
  @transient lazy val zoneMaps: DataFrame = preloadedZoneMaps.getOrElse {
    import graft.functions.VectorFunctions.sqEucDist
    val centroids = corpusBuckets
      .select(col("tree_id"), col("leaf_id"),
        posexplode(col("__cvec")).as(Seq("__pos", "__v")))
      .groupBy(col("tree_id"), col("leaf_id"), col("__pos"))
      .agg(avg(col("__v")).as("__m"))
      .groupBy(col("tree_id"), col("leaf_id"))
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
        s => s.getField("__m").cast(FloatType)).as("__centroid"))
    corpusBuckets.join(centroids, Seq("tree_id", "leaf_id"))
      .groupBy(col("tree_id"), col("leaf_id"))
      .agg(first(col("__centroid")).as("__centroid"),
        max(sqrt(sqEucDist(col("__cvec"), col("__centroid")))).as("__cov"))
      .localCheckpoint()
  }

  /** Route queries to their (tree_id, leaf_id) buckets. Narrow: one
    * UDF over a broadcast of the planes as a [[CompactIndex]], the
    * routing UDF body [[AnnForestModel.assignLeaves]] uses too; a leaf
    * id is a plane-map path (root 1, children 2p and 2p + 1), the same
    * walk fit routed the corpus with. `spillEps` > 0 probes BOTH
    * children of any plane within eps (point-to-plane distance) of the
    * vector — main-path-first, ≤ `maxLeavesPerTree` leaves per tree
    * (see [[CompactIndex.leafPathsSpill]]; this is the query-side
    * recall knob that leaves the standing corpus buckets untouched).
    * A null vector or one whose length differs from the planes' fails
    * the routing task by name. */
  def assignLeaves(queries: DataFrame, idCol: String = "query_id",
      vecCol: String = "qvec",
      spillEps: Double = 0.0, maxLeavesPerTree: Int = 4): DataFrame = {
    val route = AnnForestModel.routeUdf(routingBc, metric == "cosine", spillEps, maxLeavesPerTree)
    // The vector check is a column expression, not part of the UDF (a
    // radius join's dist filter infers isnotnull(__qv) below it; see
    // checkedVector). Every plane has the corpus's length; with no
    // planes each tree is one root leaf and any vector routes there.
    val v = col(vecCol).cast(ArrayType(FloatType))
    val dim = planes.headOption.fold(-1)(_._2.coefficients.length)
    val checked = AnnForestModel.checkedVector(v, dim,
      "DistributedAnnModel routing", s"the planes have $dim")
    queries
      .select(col(idCol).cast(LongType).as("query_id"), checked.as("__qv"))
      // explode_outer as defense against InferFiltersFromGenerate: with
      // the UDF feeding the Generate directly no filter is inferred
      // today (verified in the optimized plan), but materializing the
      // routing column first would re-run the plane walk 3× per row
      // under a non-outer explode (bit AnnForestModel.assignLeaves).
      // route() always returns one path per tree, so outer ≡ inner.
      .withColumn("__b", explode_outer(route(col("__qv"))))
      .select(col("query_id"), col("__qv"),
        col("__b._1").as("tree_id"), col("__b._2").as("leaf_id"))
  }

  /** Approximate k-NN join against the routed corpus: equi-join on the
    * (tree_id, leaf_id) bucket key, exact re-rank of bucket candidates,
    * min across trees, bounded-heap top-k. Same tail as
    * [[AnnForestModel.knnJoinBucketed]].
    *
    * `corpusFilter` (attribute-filtered kNN) is a predicate over the
    * bucket-table columns, applied BELOW the bucket join — on a
    * [[save]]d/[[DistributedAnnModel.load]]ed model the standing bucket
    * table is a parquet scan, so the predicate pushes all the way down
    * and filtered-out rows never join or score. For predicates over an
    * external attribute table, semi-join it into the bucket frame on
    * `neighbor_id` first (attributes you filter on routinely belong IN
    * the bucket table — carry them through [[routeForStore]]'s input). */
  def knnJoin(queries: DataFrame, topK: Int,
      queryId: String = "query_id", queryVec: String = "qvec",
      corpusFilter: Option[org.apache.spark.sql.Column] = None,
      querySpillEps: Double = 0.0, queryMaxLeaves: Int = 4): DataFrame =
    BucketSelfJoin.dedupTopK(
      bucketCandidates(queries, queryId, queryVec, corpusFilter,
        querySpillEps, queryMaxLeaves), topK)

  /** Distance-threshold ("radius") join against the standing bucket
    * table: same bucket equi-join as [[knnJoin]], tail = `dist ≤
    * maxDist` filter + pair dedup, pruned map-side before the single
    * exchange. Approximate like top-k (bucket-sharing governs recall);
    * exact oracle = [[graft.operators.KnnExact.radiusJoin]]. */
  def radiusJoin(queries: DataFrame, maxDist: Double,
      queryId: String = "query_id", queryVec: String = "qvec",
      corpusFilter: Option[org.apache.spark.sql.Column] = None,
      querySpillEps: Double = 0.0, queryMaxLeaves: Int = 4,
      useZoneMaps: Boolean = false): DataFrame =
    BucketSelfJoin.dedupRadius(
      bucketCandidates(queries, queryId, queryVec, corpusFilter,
        querySpillEps, queryMaxLeaves,
        zonePruneDist = if (useZoneMaps) Some(maxDist) else None), maxDist)

  private def bucketCandidates(queries: DataFrame,
      queryId: String, queryVec: String,
      corpusFilter: Option[org.apache.spark.sql.Column],
      querySpillEps: Double = 0.0, queryMaxLeaves: Int = 4,
      zonePruneDist: Option[Double] = None): DataFrame = {
    import graft.functions.VectorFunctions.{l2Normalize, sqEucDist}
    val routed = assignLeaves(queries, queryId, queryVec,
      spillEps = querySpillEps, maxLeavesPerTree = queryMaxLeaves)
    val routedQ =
      if (metric == "cosine") routed.withColumn("__qv", l2Normalize(col("__qv")))
      else routed
    // zone-map pruning: drop (query, bucket) probes the radius provably
    // can't reach BEFORE the bucket join — per-probe cost is one
    // distance against a broadcast of numBuckets centroids. The 1e-5
    // slack absorbs f32 kernel rounding so a boundary point can never
    // be pruned (bound must strictly exceed r to drop).
    val probed = zonePruneDist match {
      case Some(md) =>
        routedQ.join(broadcast(zoneMaps), Seq("tree_id", "leaf_id"))
          .filter(sqrt(sqEucDist(col("__qv"), col("__centroid"))) - col("__cov") <=
            lit(math.sqrt(md) + 1e-5))
          .drop("__centroid", "__cov")
      case None => routedQ
    }
    val buckets = corpusFilter.map(corpusBuckets.filter).getOrElse(corpusBuckets)
    probed
      .join(buckets, Seq("tree_id", "leaf_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqEucDist(col("__cvec"), col("__qv")).as("dist"))
  }

  /** Bulk k-NN self-join over the standing STORE (reference Q4's
    * full-corpus bulk mode, src/main.rs:100-123): the store is already
    * routed — `corpusBuckets` IS the routed table — so this pays zero
    * routing work and generates candidate pairs directly inside each
    * (tree_id, leaf_id) bucket.
    *
    * Query set = the store's ids, which fit() DEDUP'D (bit-exact
    * first-seen-wins, like the reference index build): an exact
    * duplicate dropped at fit time does not reappear as a query_id
    * here. Result-identical to `knnJoin(store-as-queries, k)`; for
    * raw-corpus query coverage including duplicate ids, route the raw
    * frame through `knnJoin` instead (or use
    * [[AnnForestModel.knnSelfJoinBucketed]], which routes the frame the
    * caller passes). Depth-capped leaves can be large (bucket pair cost
    * is Σm²) — `saltBlocks` spreads each bucket's pair generation over
    * saltBlocks² tasks (see [[BucketSelfJoin.pairsTopK]]). */
  def knnSelfJoin(topK: Int, saltBlocks: Int = 1): DataFrame =
    BucketSelfJoin.pairsTopK(corpusBuckets, "__cvec", topK, saltBlocks)

  /** Append new vectors to the standing corpus without a rebuild: route
    * them through the FROZEN plane set (the same leaves queries probe)
    * and union the routed rows into the buckets. Narrow — one
    * [[assignLeaves]] pass over the new rows plus a union; this is
    * the ingest path for a standing vector store (batch backfill or a
    * foreachBatch streaming sink). Buckets grow with appended data
    * (planes are not re-fit); re-fit when bucket sizes drift far past
    * maxLeafSize, as with any frozen-quantizer index (IVF included).
    * Dedup against the existing corpus is the caller's choice (e.g.
    * [[graft.operators.Dedup.exactVectors]] over old ∪ new). */
  def append(newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DistributedAnnModel =
    new DistributedAnnModel(
      numTrees, planes, metric,
      corpusBuckets.select(col("neighbor_id"), col("__cvec"), col("tree_id"), col("leaf_id"))
        .unionByName(routeForStore(newVecs, idCol, vecCol)))

  /** Delete ids from the standing corpus without a rebuild: a tombstone
    * anti-join folded into the bucket frame. Lazy like every DataFrame
    * op — each subsequent serve pays one anti-join against the delete
    * set (small batches broadcast automatically under AQE) until the
    * next [[save]] or [[compact]] physically drops the rows. Folding at
    * the FRAME level rather than keeping a model-lifetime tombstone set
    * is what makes delete→append of the same id roundtrip: a later
    * [[append]] unions on top of the anti-join, so the re-added row is
    * a fresh row, not a resurrected tombstone (pinned in spec).
    *
    * Deletes compose with everything downstream for free: [[knnJoin]],
    * [[knnSelfJoin]] (deleted rows vanish as queries AND as neighbors —
    * one table plays both roles), `corpusFilter`, and [[save]]. */
  def remove(ids: DataFrame, idCol: String = "vec_id"): DistributedAnnModel =
    new DistributedAnnModel(
      numTrees, planes, metric,
      corpusBuckets.join(
        ids.select(col(idCol).cast(LongType).as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_anti"))

  /** Collapse accumulated [[remove]]/[[append]] plan layers for a
    * long-lived serving session: materializes the current bucket frame
    * (localCheckpoint here; a reliable checkpoint on a real cluster) so
    * later query batches re-scan the compacted rows instead of
    * re-running the anti-join/union chain. The durable form is [[save]]
    * — the parquet rewrite IS the compaction, tombstoned rows are
    * simply never written. */
  def compact(): DistributedAnnModel =
    new DistributedAnnModel(numTrees, planes, metric, corpusBuckets.localCheckpoint())

  /** Operational introspection of the standing bucket store — the
    * vector-side sibling of `Bm25.describeIndex`: (metric, value) rows
    * for store sizing and skew. Deletes here are frame-level (the
    * anti-join applies immediately — no tombstone backlog metric; see
    * [[remove]]), so the compaction question this answers is bucket
    * SKEW: a `max_bucket_rows` far above `n_bucket_rows / n_buckets`
    * says the salt-block path will be earning its keep. One
    * declarative plan, no driver loop. */
  def describe(): DataFrame = {
    val sizes = corpusBuckets.groupBy(col("tree_id"), col("leaf_id"))
      .agg(count(lit(1)).as("__sz"))
    def one(metric: String, v: DataFrame): DataFrame =
      v.select(lit(metric).as("metric"), col(v.columns.head).cast("long").as("value"))
    one("n_bucket_rows", corpusBuckets.agg(count(lit(1))))
      .unionByName(one("n_vectors",
        corpusBuckets.agg(countDistinct(col("neighbor_id")))))
      .unionByName(one("n_trees",
        corpusBuckets.sparkSession.range(1).select(lit(numTrees.toLong))))
      .unionByName(one("n_buckets", sizes.agg(count(lit(1)))))
      .unionByName(one("max_bucket_rows", sizes.agg(max(col("__sz")))))
  }

  /** Compaction ACTUATOR — consumes the occupancy stats [[describe]]
    * reports (q105's vector-side sibling) and merges under-occupied
    * sibling leaves: wherever BOTH children of a split node are leaves
    * and their combined occupancy is below `minBucketRows`, the node's
    * plane is deleted and the rows relabel to the parent path. Query
    * routing walks the same plane map, so it now STOPS at the merged
    * node and probes exactly the union of the two old buckets —
    * routing and storage can never disagree, and a query's candidate
    * set only ever GROWS (old bucket ⊆ merged bucket), so radius
    * results are a superset and top-k distances are monotonically ≤
    * before (the invariants q121 pins under the hash gate). Merges
    * cascade bottom-up in one deepest-first pass (a merged node can
    * merge into ITS sibling), which is order-canonical: a node's
    * decision depends only on its subtree's occupancy.
    *
    * Why merge at all: a standing store accumulates tiny buckets as
    * deletes drain leaves (tombstone purges) and as appends skew —
    * per-bucket fixed costs (file/row-group per (tree,leaf), zone-map
    * entries, probe fan-out) then dominate. Driver footprint is the
    * per-bucket size map — bounded by the SAME numTrees·2^maxDepth
    * envelope as the plane map the driver already holds.
    *
    * Frame-level only, like [[remove]]: durably persist via [[save]]
    * or [[DistributedAnnModel.compactStore]] (marker-guarded). */
  def compactBuckets(minBucketRows: Int): DistributedAnnModel = {
    require(minBucketRows >= 1, s"minBucketRows must be >= 1, got $minBucketRows")
    val sizes: Map[(Int, Long), Long] = corpusBuckets
      .groupBy(col("tree_id"), col("leaf_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val livePlanes = scala.collection.mutable.Map[(Int, Long), HyperPlane](planes.toSeq: _*)
    val occ = scala.collection.mutable.Map[(Int, Long), Long](sizes.toSeq: _*)
    // deepest-first: children's merges settle before the parent asks
    planes.keys.toSeq
      .sortBy { case (t, p) => (-java.lang.Long.numberOfTrailingZeros(
        java.lang.Long.highestOneBit(p)), t, p) }
      .foreach { case (t, p) =>
        val l = (t, 2 * p); val r = (t, 2 * p + 1)
        if (!livePlanes.contains(l) && !livePlanes.contains(r)) {
          val n = occ.getOrElse(l, 0L) + occ.getOrElse(r, 0L)
          if (n < minBucketRows) {
            livePlanes.remove((t, p))
            occ.remove(l); occ.remove(r); occ((t, p)) = n
          }
        }
      }
    if (livePlanes.size == planes.size) this
    else {
      // removed planes form contiguous chains up from old leaves, so
      // the new home of an old leaf = ascend while the parent's plane
      // is gone — exactly where the routing walk now stops
      val live = livePlanes.keySet.toSet
      val remap: Map[(Int, Long), Long] = sizes.keys.flatMap { case (t, q) =>
        var nq = q
        while (nq > 1L && !live.contains((t, nq >> 1))) nq >>= 1
        if (nq != q) Some((t, q) -> nq) else None
      }.toMap
      val spark = corpusBuckets.sparkSession
      val bc = spark.sparkContext.broadcast(remap)
      val relabel = udf { (tree: Int, leaf: Long) =>
        bc.value.getOrElse((tree, leaf), leaf)
      }
      new DistributedAnnModel(numTrees, livePlanes.toMap, metric,
        corpusBuckets.withColumn("leaf_id", relabel(col("tree_id"), col("leaf_id"))))
    }
  }

  /** New vectors as storable bucket rows (`neighbor_id, __cvec,
    * tree_id, leaf_id`) — the streaming-ingest building block: inside a
    * `foreachBatch` sink, `routeForStore(batch).write.mode("append")
    * .partitionBy("tree_id").parquet(s"$dir/buckets")` upserts each
    * micro-batch into a [[save]]d model's bucket table, and the next
    * [[DistributedAnnModel.load]] serves old + streamed rows alike.
    * Works under readStream unchanged (routing is one narrow UDF). */
  def routeForStore(newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.l2Normalize
    val routed = assignLeaves(newVecs, idCol, vecCol)
    // the stored vector must match fit()'s store: normalized under
    // cosine (routing normalizes internally but returns the raw vector)
    val stored =
      if (metric == "cosine") routed.withColumn("__qv", l2Normalize(col("__qv")))
      else routed
    stored.select(
      col("query_id").as("neighbor_id"), col("__qv").as("__cvec"),
      col("tree_id"), col("leaf_id"))
  }

  /** Persist as plain parquet: the routed corpus partitioned by tree_id
    * (the standing-corpus amortization — subsequent query batches read
    * only probed partitions and pay zero corpus-side routing), the
    * plane table, and metric metadata. */
  def save(path: String, withZoneMaps: Boolean = false): Unit = {
    val spark = corpusBuckets.sparkSession
    import spark.implicits._
    corpusBuckets.write.mode("overwrite")
      .partitionBy("tree_id").parquet(s"$path/buckets")
    planes.toSeq
      .map { case ((t, p), pl) => (t, p, pl.coefficients, pl.constant) }
      .toDF("tree", "path", "coeffs", "constant")
      .write.mode("overwrite").parquet(s"$path/planes")
    Seq((numTrees, metric)).toDF("num_trees", "metric")
      .write.mode("overwrite").parquet(s"$path/meta")
    // zone maps are derived state — opt-in at save so plain stores
    // don't pay the stats pass; load() picks them up when present,
    // and every radius batch then skips the recompute. (After
    // append/remove, re-save: the maps describe the bucket table they
    // were built from.)
    if (withZoneMaps)
      zoneMaps.write.mode("overwrite").parquet(s"$path/zonemaps")
  }
}

object DistributedAnnModel {
  private def compactingMarker(path: String,
      spark: org.apache.spark.sql.SparkSession)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path, "__compacting")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Physically compact a [[DistributedAnnModel.save]]d store: purge
    * `tombstones` (the rows stop existing on disk, not just behind a
    * frame-level anti-join) and merge under-occupied sibling buckets
    * ([[DistributedAnnModel.compactBuckets]]), rewriting buckets +
    * planes + meta in place. Torn-rewrite safety is Bm25's marker
    * discipline (Bm25.buildIndex): a `__compacting` marker goes down
    * BEFORE the overwrite and comes up only after the last write — a
    * crash mid-rewrite leaves the marker behind and [[load]] refuses
    * the store outright (mixed old-buckets/new-planes would silently
    * mis-route), instead of serving a torn index. The surviving rows
    * are settled (localCheckpoint) before the overwrite — Spark cannot
    * overwrite a directory its own plan still reads. */
  def compactStore(spark: org.apache.spark.sql.SparkSession, path: String,
      minBucketRows: Int,
      tombstones: Option[DataFrame] = None, idCol: String = "vec_id"): Unit = {
    val (fs, marker) = compactingMarker(path, spark)
    require(!fs.exists(marker),
      s"store '$path': a compaction is in progress or was interrupted " +
        s"(marker $marker present) — restore or rebuild before serving")
    val current = load(path, spark)
    val pruned = tombstones.map(t => current.remove(t, idCol)).getOrElse(current)
    val compacted = pruned.compactBuckets(minBucketRows)
    val settled = new DistributedAnnModel(
      compacted.numTrees, compacted.planes, compacted.metric,
      compacted.corpusBuckets.localCheckpoint())
    // zone maps are derived from the bucket table being rewritten —
    // rebuild them iff the store carried them (stale maps would prune
    // against centroids of buckets that no longer exist)
    val hadZoneMaps = fs.exists(new org.apache.hadoop.fs.Path(path, "zonemaps"))
    fs.create(marker, true).close()
    settled.save(path, withZoneMaps = hadZoneMaps)
    fs.delete(marker, false)
  }

  /** Load a model persisted by [[DistributedAnnModel.save]]. Refuses a
    * store carrying a torn-compaction marker (see [[compactStore]]). */
  def load(path: String, spark: org.apache.spark.sql.SparkSession): DistributedAnnModel = {
    val (mfs, marker) = compactingMarker(path, spark)
    require(!mfs.exists(marker),
      s"store '$path': compaction in progress or interrupted (marker present)")
    val meta = spark.read.parquet(s"$path/meta").head()
    val planes = spark.read.parquet(s"$path/planes").collect()
      .map { r => (r.getInt(0), r.getLong(1)) ->
        HyperPlane(r.getSeq[Float](2).toArray, r.getFloat(3)) }
      .toMap
    val zm = new org.apache.hadoop.fs.Path(s"$path/zonemaps")
    val fs = zm.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new DistributedAnnModel(
      meta.getInt(0), planes, meta.getString(1),
      spark.read.parquet(s"$path/buckets")
        // tree_id comes back as a parquet PARTITION column whose type is
        // session-inferred: with partitionColumnTypeInference disabled it
        // reads as STRING and the knnJoin equi-join would lean on implicit
        // coercion. Cast both key columns explicitly so the restored
        // schema matches fit()'s output regardless of session config.
        .select(col("neighbor_id"), col("__cvec"),
          col("tree_id").cast("int").as("tree_id"),
          col("leaf_id").cast("long").as("leaf_id")),
      preloadedZoneMaps =
        if (fs.exists(zm)) Some(spark.read.parquet(s"$path/zonemaps"))
        else None)
  }
}
